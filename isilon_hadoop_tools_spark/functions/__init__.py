"""Scalar helper expressions (SURVEY §2.8).

All JVM-side ``pyspark.sql.functions`` compositions — no Python UDFs —
so every helper stays inside whole-stage codegen.
"""

from isilon_hadoop_tools_spark.functions.octal import from_octal, to_octal
from isilon_hadoop_tools_spark.functions.ip import ip_to_long, long_to_ip
from isilon_hadoop_tools_spark.functions.paths import posix_join
from isilon_hadoop_tools_spark.functions.text import (
    char_ngrams,
    punct_ratio,
    token_count,
    tokens,
)

__all__ = [
    "from_octal",
    "to_octal",
    "ip_to_long",
    "long_to_ip",
    "posix_join",
    "char_ngrams",
    "punct_ratio",
    "token_count",
    "tokens",
]
