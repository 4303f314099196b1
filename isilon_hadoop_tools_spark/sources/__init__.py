"""Sources: parquet/csv/json scans and static seed catalogs."""

from isilon_hadoop_tools_spark.sources.tpch import TABLES, load_table

__all__ = ["TABLES", "load_table"]
