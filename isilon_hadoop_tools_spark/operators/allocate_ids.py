"""Contiguous ID allocation with collision skip (SURVEY W1; hard part
§7.4-1).

The reference allocates UIDs/GIDs with a serial mutable counter that
linearly probes past already-taken IDs (``identities.py:56-57,75-89``,
retry loops ``:126-149,233-263``). A parallel engine must produce the
*identical* assignment deterministically, so the sequential semantics
are re-expressed as pure relational algebra:

  1. rank the names by a total order (``row_number`` over name);
  2. enumerate candidate IDs ``start .. start+n+|taken|-1`` and drop
     the taken ones (anti-join);
  3. rank the surviving candidates by ID;
  4. join rank-to-rank.

The k-th name gets the k-th free ID — exactly what the serial probe
computes, with no driver-side loop. ``monotonically_increasing_id``
is NOT contiguous and is deliberately not used.

Scale note: identity catalogs are dimension-sized (≤ thousands), so
the single-partition ``row_number`` window is fine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def allocate_ids(
    names: DataFrame,
    name_col: str,
    taken: DataFrame | None = None,
    taken_col: str = "id",
    start: int = 1025,
    out_col: str = "id",
) -> DataFrame:
    """Assign each distinct name a contiguous free ID >= ``start``.

    ``taken`` (optional) holds IDs that must be skipped — the engine's
    analog of the reference's ``uid_already_exists`` retry
    (``identities.py:137-148,251-262``).
    """
    spark = names.sparkSession
    distinct_names = names.select(name_col).distinct()
    if taken is not None:
        # one job for both range-sizing counts, not two
        counts = dict(
            distinct_names.agg(
                F.lit("n").alias("k"), F.count(F.lit(1)).alias("c")
            )
            .unionAll(
                taken.agg(F.lit("t").alias("k"), F.count(F.lit(1)).alias("c"))
            )
            .collect()
        )
        n, n_taken = counts["n"], counts["t"]
    else:
        n, n_taken = distinct_names.count(), 0

    ranked = distinct_names.withColumn(
        "_rk", F.row_number().over(Window.orderBy(name_col))
    )
    candidates = spark.range(start, start + n + n_taken).withColumnRenamed("id", "_cand")
    if taken is not None:
        candidates = candidates.join(
            F.broadcast(taken.select(F.col(taken_col).alias("_cand")).distinct()),
            "_cand",
            "left_anti",
        )
    free_ranked = candidates.withColumn(
        "_rk", F.row_number().over(Window.orderBy("_cand"))
    )
    return (
        ranked.join(free_ranked, "_rk")
        .select(name_col, F.col("_cand").alias(out_col))
    )
