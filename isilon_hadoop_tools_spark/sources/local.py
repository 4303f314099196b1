"""Driver-held rows as JVM ``LocalRelation``s, shipped through Arrow.

Seed catalogs are *literals* (reference ``identities.py:350-538``,
``directories.py:115-240``), and many operators end in a small
driver-computed result: k-means centroids, PQ codebooks and LUTs,
classifier weights, snapshot manifests, stream state rows. All of them
become frames through :func:`local_df`, the one way the engine turns
Python rows into a DataFrame.

It packs the rows into a ``pyarrow.Table`` against the declared schema
and hands that to ``spark.createDataFrame``, which ships the table to
the JVM as Arrow batches and plans it as a ``LocalTableScan`` (also
with ``spark.sql.execution.arrow.pyspark.enabled=false``). The two
alternatives each cost more:

* ``createDataFrame(list, schema)`` plans as a ``Scan ExistingRDD``:
  every job that touches the frame round-trips pickled partitions
  through Python workers (~0.3-0.5 s per job in local mode) behind a
  leaf Catalyst can neither fold nor size.
* SQL ``VALUES`` text with per-column ``CAST``s also plans as a
  ``LocalTableScan``, but parsing and analysing the literals grows
  with the data (about 0.5 s for 256 × 64 bigints), and it loses
  ``createDataFrame``'s checks: it accepts ``None`` in a non-null
  column, silently casts ``'7'`` into an INT column, and makes every
  column of an empty frame nullable.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def _struct(schema: T.StructType | str) -> T.StructType:
    if isinstance(schema, T.StructType):
        return schema
    parsed = T._parse_datatype_string(schema)
    if not isinstance(parsed, T.StructType):  # pragma: no cover
        raise TypeError(f"schema must describe a struct: {schema!r}")
    return parsed


def local_df(
    spark: SparkSession,
    rows: Iterable[Sequence[object]],
    schema: T.StructType | str,
) -> DataFrame:
    """``createDataFrame(rows, schema)`` that plans as a ``LocalTableScan``.

    Each column is converted with ``pyarrow.array`` at its declared
    Arrow type, so a value of the wrong type raises (``'7'`` in an INT
    column) and the schema comes back exactly as declared, nullability
    included, also for an empty frame. The table's fields are nullable;
    ``createDataFrame`` casts it to the declared schema, which raises
    on ``None`` in a non-null column.
    """
    struct = _struct(schema)
    rows = list(rows)
    width = len(struct.fields)
    if any(len(row) != width for row in rows):
        raise ValueError(f"every row must have {width} values: {struct}")
    columns = zip(*rows) if rows else [()] * width
    table = pa.Table.from_arrays(
        [
            pa.array(col, type=field.type)
            for col, field in zip(columns, to_arrow_schema(struct))
        ],
        names=struct.names,
    )
    return spark.createDataFrame(table, struct)
