"""Batch event-analytics & data-engineering operators (SURVEY §2.12 EA2+).

Reference parity: the reference tool has no analytics surface (it
provisions ~60 identity rows over REST, `identities.py`), so these are
brief-mandated extensions — the batch complement of the streaming
sessionizer plus the table-maintenance primitives (CDC apply, profile,
merge-style fuzzy linkage) a 100 TB lakehouse pipeline needs.

Scale notes are per-operator; the common theme is ONE keyed shuffle
per operator, map-side partials wherever the agg allows, and explicit
caps on anything quadratic (block sizes for pairwise comparison).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from isilon_hadoop_tools_spark.functions.litmap import lit_map
from isilon_hadoop_tools_spark.session import shuffle_partition_count
from isilon_hadoop_tools_spark.sources.local import local_df


def sessionize(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    tiebreak: str = "event_id",
    gap_minutes: int = 120,
    value_col: str | None = "value",
) -> DataFrame:
    """Gap-based batch sessionization: a new session starts when the
    time since the previous event of the same key exceeds
    ``gap_minutes``. Returns one row per session with start/end,
    event count, and (when ``value_col`` is not None) the summed
    ``value_col`` as ``session_value``.

    Plan shape: ONE shuffle. The lag window hash-partitions on ``key``;
    the per-(key, session) groupBy's ClusteredDistribution is already
    satisfied by that partitioning (session rows never cross a key),
    so Catalyst plans no second exchange. Per-key history must fit a
    partition sort — true for bounded per-user event counts; a key
    with billions of events needs time-bucketed pre-splitting, which
    would change session semantics at bucket edges and is deliberately
    not done here.
    """
    w = Window.partitionBy(key).orderBy(ts, tiebreak)
    gap_s = gap_minutes * 60
    flagged = events.withColumn(
        "_new_session",
        F.when(
            F.col(ts).cast("long") - F.lag(F.col(ts)).over(w).cast("long")
            > F.lit(gap_s),
            1,
        )
        .otherwise(0)
        .cast("long"),
    ).withColumn(
        "session_seq",
        F.sum("_new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    aggs = [
        F.min(ts).alias("session_start"),
        F.max(ts).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ]
    if value_col is not None:
        aggs.append(F.round(F.sum(value_col), 4).alias("session_value"))
    return (
        flagged.groupBy(key, "session_seq")
        .agg(*aggs)
        .withColumn(
            "duration_sec",
            F.col("session_end").cast("long")
            - F.col("session_start").cast("long"),
        )
    )


def _grouped_quantiles_rank(
    df: DataFrame, key: str, col, probs: list[float]
) -> DataFrame:
    """Exact interpolated per-group quantiles (the ``percentile`` /
    ``quantile_cont`` formula: value at rank ``(n−1)·p``) by PER-GROUP
    RANK — ``row_number`` over a key-partitioned window plus
    interpolation between the two neighbor ranks. The window SORT
    spills to disk, so group size is storage-bounded, not
    executor-heap-bounded like the exact ``percentile`` aggregate's
    value buffer (VERDICT r15 #7 — the scale-safe exact form, shared
    by every keyed quantile consumer). ``col`` may be any Column
    expression. One shuffle on the key; NULLs excluded; a group with
    only NULLs is absent (matching ``percentile``'s NULL → dropped
    after explode). Returns one row per key with ``_q_0.._q_{k−1}``
    doubles in ``probs`` order."""
    colx = F.col(col) if isinstance(col, str) else col
    w = Window.partitionBy(key).orderBy("_v")
    ranked = (
        df.select(key, colx.cast("double").alias("_v"))
        .filter(F.col("_v").isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy(key))
        )
    )
    rn = F.col("_rn")
    hit = F.lit(False)
    aggs = []
    for i, p in enumerate(probs):
        h = (F.col("_n") - 1) * F.lit(float(p))
        lo = F.floor(h) + 1
        hit = hit | (rn == lo) | (rn == lo + 1)
        lo_v = F.max(F.when(rn == lo, F.col("_v")))
        hi_v = F.coalesce(F.max(F.when(rn == lo + 1, F.col("_v"))), lo_v)
        frac = F.max(h) - F.floor(F.max(h))
        aggs.append((lo_v + frac * (hi_v - lo_v)).alias(f"_q_{i}"))
    return ranked.filter(hit).groupBy(key).agg(*aggs)


def grouped_quantiles(
    df: DataFrame,
    key: str,
    col: str,
    probs: list[float],
) -> DataFrame:
    """Exact per-group quantiles (linear interpolation — the
    ``percentile`` / ``quantile_cont`` formula: value at rank
    ``(n−1)·p``), exploded to one (key, prob, quantile) row per
    probability.

    Computed by PER-GROUP RANK (``row_number`` over a key-partitioned
    window + interpolation between the two neighbor ranks), not the
    exact ``percentile`` aggregate: that aggregate buffers each
    group's values in executor memory — O(group size) heap, which an
    unbounded group (one hot event type at 100×) turns into an OOM —
    while the window SORT spills to disk. Same shuffle count (one,
    on the key); the interpolation is a filtered ≤ 2·|probs|-rows-
    per-group aggregate. Results are bit-identical to ``percentile``
    (same formula, same doubles).
    """
    per_key = _grouped_quantiles_rank(df, key, col, probs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(float(p)).alias("prob"),
                F.round(F.col(f"_q_{i}"), 6).alias("quantile"),
            )
            for i, p in enumerate(probs)
        ]
    )
    return per_key.select(key, F.explode(pairs).alias("_pq")).select(
        key, F.col("_pq.prob").alias("prob"),
        F.col("_pq.quantile").alias("quantile"),
    )


def grouped_quantiles_approx(
    df: DataFrame,
    key: str,
    col: str,
    probs: list[float],
    accuracy: int = 1000,
) -> DataFrame:
    """Approximate per-group quantiles — the unbounded-group swap-in
    for :func:`grouped_quantiles` (exact ``percentile`` buffers every
    group value; a million-member group hits that memory wall first).

    Uses ``percentile_approx`` (Greenwald-Khanna mergeable sketch:
    map-side partials, O(accuracy·log n) memory per group regardless
    of group size — the 100 TB path). The sketch is engine-internal,
    so instead of value equality the result is SELF-CERTIFYING: each
    approximate quantile's TRUE rank within its group is measured with
    one broadcast join back onto the fact, and the output states
    whether GK's guarantee |rank - p·n| <= n/accuracy held (with +1
    slack for rank-definition boundaries). The DuckDB oracle asserts
    TRUE per (key, prob) — a hash match certifies the error bound,
    which is exactly the operator's contract.

    Output: ``key``, ``prob``, ``n``, ``rank_err_ok``. ``n`` is the
    NON-NULL value count (``count(col)``, matching the rank
    measurement below, which compares only non-null values — the
    oracle twin must use ``count(value_col)``, not ``count(*)``).
    """
    prob_arr = F.array(*[F.lit(float(p)) for p in probs])
    agged = df.groupBy(key).agg(
        F.percentile_approx(col, prob_arr, F.lit(accuracy)).alias("_qs"),
        F.count(col).alias("_n"),
    )
    q = agged.select(
        key, "_n", F.posexplode("_qs").alias("_pos", "_aq")
    ).select(
        key,
        "_n",
        F.element_at(prob_arr, F.col("_pos") + 1).alias("prob"),
        "_aq",
    )
    ranked = (
        df.select(key, F.col(col).alias("_v"))
        .join(F.broadcast(q), key)
        .groupBy(key, "prob", "_n", "_aq")
        .agg(
            F.sum(F.when(F.col("_v") <= F.col("_aq"), 1).otherwise(0)).alias("_le"),
            F.sum(F.when(F.col("_v") < F.col("_aq"), 1).otherwise(0)).alias("_lt"),
        )
    )
    target = F.col("prob") * F.col("_n")
    tol = F.col("_n") / F.lit(float(accuracy)) + F.lit(1.0)
    ok = (F.col("_le") >= target - tol) & (F.col("_lt") <= target + tol)
    return ranked.select(
        key,
        "prob",
        F.col("_n").alias("n"),
        ok.alias("rank_err_ok"),
    )


def profile_table(df: DataFrame, columns: list[str]) -> DataFrame:
    """Long-format data-profiling summary: one row per column with
    row count, null count, exact distinct count, and numeric min/max
    (null for non-numeric columns).

    Single scan: all per-column aggregates run in one groupBy-less
    aggregation (Catalyst's Expand handles the multiple DISTINCTs),
    then the 1×(4·n_cols) row is unpivoted driver-free with
    ``stack``. Exact distinct counts at 100 TB are a deliberate cost —
    the HLL sketch operator (`operators/sketches.py`) is the cheap
    alternative when ±2% error is acceptable.
    """
    numeric = {
        f.name
        for f in df.schema.fields
        if f.dataType.typeName()
        in ("integer", "long", "short", "byte", "double", "float", "decimal")
    }
    aggs = []
    for c in columns:
        aggs.append(F.count(F.lit(1)).alias(f"{c}__n"))
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"{c}__nulls")
        )
        aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__distinct"))
        if c in numeric:
            aggs.append(
                F.round(F.min(F.col(c)).cast("double"), 6).alias(f"{c}__min")
            )
            aggs.append(
                F.round(F.max(F.col(c)).cast("double"), 6).alias(f"{c}__max")
            )
    wide = df.agg(*aggs)
    stack_args = []
    for c in columns:
        mn = f"`{c}__min`" if c in numeric else "CAST(NULL AS DOUBLE)"
        mx = f"`{c}__max`" if c in numeric else "CAST(NULL AS DOUBLE)"
        stack_args.append(
            f"'{c}', `{c}__n`, `{c}__nulls`, `{c}__distinct`, {mn}, {mx}"
        )
    return wide.selectExpr(
        f"stack({len(columns)}, {', '.join(stack_args)}) "
        "AS (column_name, n_rows, n_nulls, n_distinct, min_num, max_num)"
    )


def cdc_apply(
    log: DataFrame,
    key: str,
    ts: str,
    tiebreak: str,
    op_col: str,
    delete_op: str,
    value_cols: list[str],
) -> DataFrame:
    """Apply a change-data-capture log: the final state of each key is
    its last operation's values; keys whose last operation is
    ``delete_op`` are absent from the result.

    Single ``max_by`` aggregation keyed on (ts, tiebreak) — one
    shuffle with map-side partials (each mapper forwards only its
    local latest row per key), no window and no per-key sort. This is
    the upsert/compaction primitive of every CDC ingest (Delta/Hudi
    MERGE reduce step).
    """
    payload = F.struct(
        F.col(op_col).alias("_op"),
        *[F.col(c).alias(c) for c in value_cols],
    )
    order = F.struct(F.col(ts).alias("_t"), F.col(tiebreak).alias("_tb"))
    last = log.groupBy(key).agg(
        F.max_by(payload, order).alias("_last"),
        F.max(F.col(ts)).alias("last_ts"),
    )
    return last.filter(F.col("_last._op") != delete_op).select(
        key,
        *[F.col(f"_last.{c}").alias(c) for c in value_cols],
        "last_ts",
    )


def blocked_edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_expr: str,
    max_dist: int = 1,
    max_block: int = 200,
) -> DataFrame:
    """Record linkage via blocked edit distance: candidate pairs are
    generated ONLY within a blocking key (never all-pairs), oversized
    blocks are dropped (``max_block`` cap — the `max_df` idea from the
    n-gram dedup inverted index), then ``levenshtein`` verifies.

    Cost: one shuffle on the block key for each side plus the within-
    block equi-join; with the cap, a block contributes at most
    ``max_block²`` comparisons, so the total is linear in the number
    of blocks — the standard record-linkage shape (Fellegi-Sunter
    blocking) at any scale. Both engines compute the same DP
    Levenshtein, so results hash-match.
    """
    # Single-pipeline posting-list form (the n-gram dedup shape): one
    # shuffle on the block key collects each block's (id, text)
    # members; the size cap is a filter on that collected list and
    # pairs are generated IN PLACE with nested transform — no sizes
    # join and no self-join, so the input is scanned once and
    # exchanged once (the 3-consumer join form re-built the blocked
    # relation per consumer: measured 10 exchanges / 21 scans vs 2/2).
    members = (
        df.select(
            F.expr(block_expr).alias("_blk"),
            F.col(id_col).alias("_id"),
            F.col(text_col).alias("_txt"),
        )
        .groupBy("_blk")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("_id", "_txt"))
            ).alias("_m")
        )
        .filter(
            (F.size("_m") >= 2) & (F.size("_m") <= max_block)
        )
    )
    pair_structs = F.flatten(
        F.transform(
            "_m",
            lambda x, i: F.transform(
                F.slice("_m", i + 2, F.size("_m")),
                lambda y: F.struct(
                    x["_id"].alias("id_a"),
                    y["_id"].alias("id_b"),
                    F.levenshtein(x["_txt"], y["_txt"]).alias("edit_dist"),
                ),
            ),
        )
    )
    return (
        members.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b", "p.edit_dist")
        .filter(F.col("edit_dist") <= max_dist)
    )


def basket_pairs(
    lineitem: DataFrame,
    basket_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    top_n: int = 20,
) -> DataFrame:
    """Market-basket co-occurrence: count item pairs appearing in the
    same basket, return the top-N pairs with a deterministic
    (count desc, item_a, item_b) tiebreak.

    The self-join shuffles each side once on the basket key and joins
    co-partitioned — pair fan-out is bounded by the per-basket item
    count squared (TPC-H: ≤ 7·13/2 pairs per order), never a global
    cross product. Items are deduped per basket first so a basket
    containing an item twice doesn't double-count the pair. The final
    top-N is a TakeOrderedAndProject (per-partition heaps, N rows to
    the driver), not a global sort.
    """
    # Single-pipeline form: ONE shuffle on the basket key collects
    # each basket's deduped item set (collect_set), pairs explode in
    # place from the sorted array (i < j => item_a < item_b), then one
    # pair-keyed count — the self-join form exchanged both sides and
    # recomputed the distinct per side (measured 8 exchanges vs 2).
    baskets = (
        lineitem.select(
            F.col(basket_col).alias("_b"), F.col(item_col).alias("_i")
        )
        .groupBy("_b")
        .agg(F.sort_array(F.collect_set("_i")).alias("_items"))
        .filter(F.size("_items") >= 2)
    )
    pair_structs = F.flatten(
        F.transform(
            "_items",
            lambda x, i: F.transform(
                F.slice("_items", i + 2, F.size("_items")),
                lambda y: F.struct(
                    x.alias("item_a"), y.alias("item_b")
                ),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .groupBy("p.item_a", "p.item_b")
        .agg(F.count(F.lit(1)).alias("n_baskets"))
    )
    return pairs.orderBy(
        F.desc("n_baskets"), F.asc("item_a"), F.asc("item_b")
    ).limit(top_n)


def incremental_rollup(
    events: DataFrame,
    cutoff: str,
    ts: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Incremental materialized-view maintenance: the daily rollup is
    computed as mergeable partial states — a 'materialized' aggregate
    over rows before ``cutoff`` plus a 'delta' aggregate over rows at
    or after it — then merged WITHOUT rescanning the base slice.

    The merge works because every exposed statistic is algebraic:
    counts and sums add, and the average is finalized from merged
    (sum, count) — the exact contract of an incremental ETL pipeline
    where yesterday's rollup parquet is merged with today's delta.
    At 100 TB this turns a daily full recompute into a delta-sized
    job; the oracle (a flat full-history GROUP BY) proves the merged
    result is indistinguishable from the recompute.
    """
    day = F.date_trunc("day", F.col(ts))

    def states(df: DataFrame) -> DataFrame:
        return df.groupBy(
            day.alias("day"), F.col(type_col).alias("event_type")
        ).agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(value_col).alias("_sum"),
        )

    base = states(events.filter(F.col(ts) < F.lit(cutoff).cast("timestamp")))
    delta = states(events.filter(F.col(ts) >= F.lit(cutoff).cast("timestamp")))
    merged = (
        base.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(F.sum("_n").alias("n_events"), F.sum("_sum").alias("_sum"))
    )
    return merged.select(
        "day",
        "event_type",
        "n_events",
        F.round(F.col("_sum"), 4).alias("total_value"),
        F.round(F.col("_sum") / F.col("n_events"), 6).alias("avg_value"),
    )


def gapfill_daily(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
) -> DataFrame:
    """Time-series gap filling: one row per key per calendar day of
    the key's active span, zero-filled where no events occurred —
    the resample step before any rolling-window feature.

    The day grid is generated distributed (``sequence`` + ``explode``
    from each key's min/max day — span-sized, never a global calendar
    cross join) and the left join back to the daily counts is keyed on
    (key, day), co-partitioned with the counts aggregation."""
    day = F.date_trunc("day", F.col(ts))
    daily = events.groupBy(
        F.col(key).alias("_k"), day.alias("day")
    ).agg(F.count(F.lit(1)).alias("_n"))
    span = daily.groupBy("_k").agg(
        F.min("day").alias("_d0"), F.max("day").alias("_d1")
    )
    grid = span.select(
        "_k",
        F.explode(
            F.sequence("_d0", "_d1", F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    return (
        grid.join(daily, ["_k", "day"], "left")
        .select(
            F.col("_k").alias(key),
            "day",
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_events"),
        )
    )


def scd2_history(
    df: DataFrame,
    key: str,
    attr: str,
    ts: str,
    tiebreak: str,
) -> DataFrame:
    """Build a type-2 slowly-changing-dimension history: one row per
    (key, consecutive run of equal ``attr``), with
    ``valid_from``/``valid_to`` effectivity bounds (null valid_to =
    current version) and a 1-based version number.

    Change detection (lag), effectivity close-out (lead), and
    versioning (row_number) all share one (key)-partitioned window
    ordering — a single shuffle and a single per-key sort, the
    standard dimension-build shape of a warehouse load."""
    w = Window.partitionBy(key).orderBy(ts, tiebreak)
    changed = df.withColumn(
        "_prev", F.lag(F.col(attr)).over(w)
    ).filter(
        F.col("_prev").isNull() | (F.col("_prev") != F.col(attr))
    )
    w2 = Window.partitionBy(key).orderBy(ts, tiebreak)
    return changed.select(
        F.col(key),
        F.col(attr),
        F.col(ts).alias("valid_from"),
        F.lead(F.col(ts)).over(w2).alias("valid_to"),
        F.row_number().over(w2).cast("long").alias("version"),
    )


def pivot_counts(
    df: DataFrame, key: str, type_col: str, values: list[str]
) -> DataFrame:
    """Pivot long-format categories to wide per-key count columns.

    ``values`` is passed explicitly so Spark skips the extra
    distinct-values collection pass and the output schema is static —
    the form that scales (one shuffle on ``key``, map-side partial
    pivot aggregation)."""
    out = df.groupBy(key).pivot(type_col, values).count()
    return out.select(
        key, *[F.coalesce(F.col(v), F.lit(0)).alias(v) for v in values]
    )


def expectations(df: DataFrame, rules: list[tuple]) -> DataFrame:
    """Declarative data-quality expectations (dbt-test / Deequ shape):
    evaluate every rule in ONE pass and return a long-format report
    ``(rule_name, n_violations, passed)``.

    Rule forms: ``("name", "not_null", col)``,
    ``("name", "unique", col)`` (violations = non-null rows minus
    distinct values), ``("name", "accepted_values", col, [v, ...])``,
    ``("name", "range", col, lo, hi)``.

    All row-level rules are conditional sums in a single aggregation;
    uniqueness rides the same aggregation as a DISTINCT count
    (Catalyst Expand) — the table is scanned once no matter how many
    rules, which is what makes a 100-rule contract affordable at
    100 TB."""
    aggs = []
    for rule in rules:
        name, kind = rule[0], rule[1]
        col = F.col(rule[2])
        if kind == "not_null":
            viol = F.sum(F.when(col.isNull(), 1).otherwise(0))
        elif kind == "unique":
            viol = (
                F.sum(F.when(col.isNotNull(), 1).otherwise(0))
                - F.count_distinct(col)
            )
        elif kind == "accepted_values":
            viol = F.sum(
                F.when(col.isNull() | ~col.isin(rule[3]), 1).otherwise(0)
            )
        elif kind == "range":
            lo, hi = rule[3], rule[4]
            viol = F.sum(
                F.when(
                    col.isNull() | (col < lo) | (col > hi), 1
                ).otherwise(0)
            )
        else:
            raise ValueError(f"unknown expectation kind: {kind!r}")
        aggs.append(viol.cast("long").alias(name))
    wide = df.agg(*aggs)
    stack_args = ", ".join(f"'{r[0]}', `{r[0]}`" for r in rules)
    return wide.selectExpr(
        f"stack({len(rules)}, {stack_args}) AS (rule_name, n_violations)"
    ).withColumn("passed", F.col("n_violations") == 0)


def table_checksum(df: DataFrame, cols: list[str]) -> DataFrame:
    """Order-independent table checksum: per-row 60-bit fingerprint
    over the canonical ``|``-joined column rendering, combined with
    the XOR aggregate — the anti-entropy primitive for verifying two
    replicas/engines hold the same rows without sorting or shuffling
    anything (XOR is commutative, associative, overflow-free, and
    maps to map-side partials).

    Callers pass columns with engine-stable string renderings
    (integers, strings); floats/timestamps should be pre-formatted.
    Note the usual multiset caveat: XOR cancels even multiplicities,
    so pair it with the row count (returned alongside)."""
    from isilon_hadoop_tools_spark.functions.hashing import fingerprint64

    row = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
    return df.select(fingerprint64(row).alias("_fp")).agg(
        F.bit_xor("_fp").alias("checksum"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def zscore_outliers(
    events: DataFrame,
    key: str = "event_type",
    col: str = "value",
    threshold: float = 2.5,
) -> DataFrame:
    """Per-group distribution stats + outlier counts: flags rows whose
    value is more than ``threshold`` population standard deviations
    from their group mean.

    Two passes over the fact (stats agg, then re-scan + broadcast the
    group-count-sized stats back) — NOT a per-group window, which at
    100 TB would funnel each group's every row through one partition.
    Both aggregations take map-side partials; the join is an explicit
    broadcast.
    """
    stats = events.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(col).alias("_mu"),
        F.stddev_pop(col).alias("_sigma"),
    )
    joined = events.join(F.broadcast(stats), key)
    out = (
        joined.withColumn(
            # nullif guard: a constant group has sigma=0; without it
            # Spark yields null on div-by-zero while DuckDB yields
            # inf/NaN under IEEE float ops, and the two engines could
            # disagree on n_outliers. With nullif both produce null z
            # -> the CASE/when counts 0 outliers for constant groups.
            "_z",
            (F.col(col) - F.col("_mu")) / F.nullif(F.col("_sigma"), F.lit(0.0)),
        )
        .groupBy(key)
        .agg(
            F.max("n").alias("n"),
            F.round(F.max("_mu"), 6).alias("mean_value"),
            F.round(F.max("_sigma"), 6).alias("stddev_value"),
            F.sum(
                F.when(F.abs(F.col("_z")) > threshold, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )
    return out


def mad_outliers(
    events: DataFrame,
    key: str = "event_type",
    col: str = "value",
    threshold: float = 3.5,
) -> DataFrame:
    """Robust outlier stats via median absolute deviation — the
    heavy-tail-safe twin of :func:`zscore_outliers` (mean/stddev are
    themselves dragged by the outliers they're supposed to flag;
    median/MAD have a 50% breakdown point). Flags rows whose modified
    z-score ``0.6745·(x - median)/MAD`` exceeds ``threshold``
    (Iglewicz–Hoaglin's 3.5 default).

    Three passes over the fact (median rank → broadcast back for the
    deviation-median rank → broadcast back for the count), the
    group-count-sized stats explicitly broadcast. Exact medians come
    from the :func:`_grouped_quantiles_rank` window form (r16 — the
    old exact ``percentile`` aggregate buffered each group's values
    in executor heap, O(group size); the window sort spills), same
    interpolation formula, bit-identical results. Constant groups
    (MAD=0) yield 0 outliers on both engines via the nullif guard.
    """
    med = _grouped_quantiles_rank(events, key, col, [0.5]).select(
        key, F.col("_q_0").alias("_med")
    )
    dev = events.join(F.broadcast(med), key)
    stats = _grouped_quantiles_rank(
        dev, key, F.abs(F.col(col) - F.col("_med")), [0.5]
    ).select(key, F.col("_q_0").alias("_mad")).join(
        F.broadcast(med), key
    )
    scored = events.join(F.broadcast(stats), key).withColumn(
        "_rz",
        F.lit(0.6745)
        * (F.col(col) - F.col("_med"))
        / F.nullif(F.col("_mad"), F.lit(0.0)),
    )
    return scored.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.max("_med"), 6).alias("median_value"),
        F.round(F.max("_mad"), 6).alias("mad_value"),
        F.sum(F.when(F.abs(F.col("_rz")) > threshold, 1).otherwise(0))
        .cast("long")
        .alias("n_outliers"),
    )


def time_weighted_avg(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    col: str = "value",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Time-weighted average for irregularly-sampled series: each
    reading holds until the next one, so it is weighted by its holding
    duration (the sensor/metrics semantics a plain AVG silently gets
    wrong — a value held for an hour counts no more than one held a
    second). The final reading has no successor and carries no weight.

    One shuffle: the lead window hash-partitions on ``key`` and the
    per-key aggregation reuses that partitioning (no second exchange).
    Output: ``key``, ``n_intervals``, ``total_sec``, ``twa`` (null for
    single-reading keys, via the nullif guard on both engines).
    """
    w = Window.partitionBy(key).orderBy(ts, tiebreak)
    s = F.col(ts).cast("long")
    stepped = events.select(
        key,
        s.alias("_s"),
        F.col(col).alias("_v"),
        F.lead(s).over(w).alias("_nxt"),
    )
    dt = F.col("_nxt") - F.col("_s")
    return stepped.groupBy(key).agg(
        F.count("_nxt").alias("n_intervals"),
        F.sum(dt).alias("total_sec"),
        F.round(
            F.sum(F.col("_v") * dt) / F.nullif(F.sum(dt), F.lit(0)), 6
        ).alias("twa"),
    )


def interval_union_length(
    df: DataFrame,
    key: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Union length of (possibly overlapping) integer intervals per
    key — the sweep-line classic behind "total active time",
    SLA-uptime merging, and coverage measurement, where summing raw
    durations double-counts every overlap.

    Islands form where an interval starts after the running max of
    all previous ends (touching intervals merge); island length =
    max(end) − min(start). Everything runs on ONE key partitioning:
    the window, the per-(key, island) rollup, and the per-key final
    agg introduce no second exchange. Output: ``key``,
    ``n_intervals``, ``n_islands``, ``union_len``.
    """
    w = Window.partitionBy(key).orderBy(start_col, end_col)
    prev_max = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = df.select(
        key,
        F.col(start_col).alias("_s"),
        F.col(end_col).alias("_e"),
        F.when(prev_max.isNull() | (F.col(start_col) > prev_max), 1)
        .otherwise(0)
        .alias("_new"),
    ).withColumn(
        "_island",
        F.sum("_new").over(
            Window.partitionBy(key)
            .orderBy("_s", "_e")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    islands = flagged.groupBy(key, "_island").agg(
        F.count(F.lit(1)).alias("_n"),
        (F.max("_e") - F.min("_s")).alias("_len"),
    )
    return islands.groupBy(key).agg(
        F.sum("_n").cast("long").alias("n_intervals"),
        F.count(F.lit(1)).alias("n_islands"),
        F.sum("_len").cast("long").alias("union_len"),
    )


def equidepth_histogram(
    df: DataFrame, col: str, buckets: int = 10
) -> DataFrame:
    """Equi-depth (equal-frequency) histogram: bucket edges at the
    1/b .. (b-1)/b exact quantiles, each bucket holding ~n/b rows —
    the skew-revealing complement of the fixed-edge equi-width form
    (which collapses to one hot bin on heavy-tailed data).

    Never a global sort and never a single-buffer percentile: the
    b−1 edges come from :func:`_global_quantiles` (two-phase rank —
    range shuffle + P driver scalars, exact interpolated values) as
    b−1 driver-held doubles baked into a literal comparison chain,
    and the second scan is a map-side-partial aggregation on ≤ b
    keys — the global-``ntile`` formulation would funnel the entire
    table through one partition. Edges are pre-rounded to 6 dp so
    the bucket function is identical cross-engine. Rows equal to an
    edge go to the lower bucket (``value > edge`` comparisons).

    Output: ``bucket``, ``n``, ``lo``, ``hi`` (observed per-bucket
    min/max, rounded).
    """
    probs = [i / buckets for i in range(1, buckets)]
    erow = _global_quantiles(df, col, probs).first()
    edge_row = {
        "_qs": (
            None
            if erow is None or erow["_q_0"] is None
            else [erow[f"_q_{i}"] for i in range(len(probs))]
        )
    }
    if edge_row["_qs"] is None:
        # empty (or all-NULL) input: percentile yields NULL — return
        # an empty result with the output schema instead of crashing
        spark = df.sparkSession
        return local_df(spark, [], "bucket long, n long, lo double, hi double")
    # half-AWAY-from-zero edge rounding, matching the DuckDB oracle's
    # round() on DOUBLE (the engine the twin runs on) — Python round()
    # is half-to-even and would diverge on exact .5 ties. NOTE: this
    # is DuckDB parity only; Spark's own round() is decimal-string
    # HALF_UP and can differ on values whose shortest decimal rendering
    # crosses a representability boundary (e.g. the double printed as
    # 2.675)
    edges = [
        math.copysign(math.floor(abs(float(v)) * 1e6 + 0.5), float(v)) / 1e6
        for v in edge_row["_qs"]
    ]
    bucket = F.lit(0).cast("long")
    for e in edges:
        bucket = bucket + F.when(F.col(col) > F.lit(e), 1).otherwise(0)
    return (
        df.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min(col), 6).alias("lo"),
            F.round(F.max(col), 6).alias("hi"),
        )
    )


def ols_trend(
    events: DataFrame,
    key: str = "event_type",
    ts: str = "ts",
    col: str = "value",
) -> DataFrame:
    """Per-key linear trend (OLS of value vs event time, in days):
    slope / intercept / r² straight from the built-in regression
    aggregates — the "is this metric drifting?" primitive. Time is
    rescaled to days (epoch/86400) so the slope is value-units/day,
    a well-conditioned magnitude for cross-engine rounding.

    One map-side-partial aggregation per key; regression aggregates
    are algebraic (sum/sum-of-products state), so they partial-merge
    exactly like count/sum at 100 TB. Rounding (8/4/6 dp) absorbs the
    last-ULP accumulation-order drift between engines.
    Output: ``key``, ``n``, ``slope_per_day``, ``intercept``, ``r2``.
    """
    x = F.floor(F.col(ts).cast("long")) / F.lit(86400.0)
    y = F.col(col)
    return events.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.regr_slope(y, x), 8).alias("slope_per_day"),
        F.round(F.regr_intercept(y, x), 4).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
    )


def corr_matrix(df: DataFrame, columns: list[str]) -> DataFrame:
    """Pairwise Pearson correlations of numeric columns in ONE scan —
    the profiling companion to :func:`profile_table` (collinearity /
    leakage screening before feature selection). All C(n,2)
    correlations are computed in a single groupBy-less aggregation
    (each an algebraic sum-of-products state with map-side partials)
    and unpivoted driver-free with ``stack``.

    Output: ``col_a``, ``col_b``, ``corr`` (6 dp, lexicographic
    pairs).
    """
    pairs = [
        (a, b)
        for i, a in enumerate(columns)
        for b in columns[i + 1 :]
    ]
    aggs = [
        F.round(F.corr(F.col(a), F.col(b)), 6).alias(f"{a}__{b}")
        for a, b in pairs
    ]
    wide = df.agg(*aggs)
    stack_expr = ", ".join(
        f"'{a}', '{b}', `{a}__{b}`" for a, b in pairs
    )
    return wide.selectExpr(
        f"stack({len(pairs)}, {stack_expr}) AS (col_a, col_b, corr)"
    )


def interval_overlap_join(
    df: DataFrame,
    key: str,
    id_col: str,
    start_col: str,
    end_col: str,
    bucket_width: int | None = None,
) -> DataFrame:
    """All overlapping interval pairs per key WITHOUT the per-key
    quadratic self-join — the interval-join shape behind genomic
    region intersection, concurrent-session detection, and
    meeting-conflict queries.

    Intervals are half-open ``[s, e)`` (touching intervals do not
    overlap; empty ones are dropped). Each interval bands into the
    fixed-width time buckets it crosses, so any overlapping pair
    shares >= 1 bucket — candidate generation is an equi-join on
    (key, bucket), complete by construction. Each qualifying pair is
    emitted from exactly ONE bucket — the bucket containing
    ``max(s_a, s_b)`` — the classic grid-join dedup that removes the
    post-join ``distinct`` entirely, keeping the plan output-bound.

    ``bucket_width=None`` sizes the grid to the mean interval length
    (one tiny pre-aggregation, driver scalar — the binning heuristic
    that bounds both the per-interval bucket fan-out and the
    per-bucket occupancy for typical data). Long outlier intervals
    fan into more buckets but are emitted once regardless.

    Output: ``key``, ``id_a``, ``id_b`` (id_a < id_b),
    ``overlap`` = min(e)−max(s) > 0.
    """
    iv = df.select(
        F.col(key).alias("_k"),
        F.col(id_col).alias("_id"),
        F.col(start_col).cast("long").alias("_s"),
        F.col(end_col).cast("long").alias("_e"),
    ).filter(F.col("_e") > F.col("_s"))
    if bucket_width is None:
        row = iv.agg(
            F.ceil(F.avg(F.col("_e") - F.col("_s"))).alias("w")
        ).first()
        bucket_width = int(max(1, row["w"] or 1))
    w = int(bucket_width)
    banded = iv.select(
        "_k",
        "_id",
        "_s",
        "_e",
        F.explode(
            F.sequence(
                F.floor(F.col("_s") / w).cast("long"),
                F.floor((F.col("_e") - 1) / w).cast("long"),
            )
        ).alias("_b"),
    )
    a = banded.select(
        "_k",
        "_b",
        F.col("_id").alias("id_a"),
        F.col("_s").alias("_sa"),
        F.col("_e").alias("_ea"),
    )
    b = banded.select(
        "_k",
        "_b",
        F.col("_id").alias("id_b"),
        F.col("_s").alias("_sb"),
        F.col("_e").alias("_eb"),
    )
    return (
        a.join(b, ["_k", "_b"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter((F.col("_sa") < F.col("_eb")) & (F.col("_sb") < F.col("_ea")))
        # one canonical bucket per pair: the one holding max(s_a, s_b)
        .filter(
            F.col("_b")
            == F.floor(F.greatest("_sa", "_sb") / w).cast("long")
        )
        .select(
            F.col("_k").alias(key),
            "id_a",
            "id_b",
            (
                F.least("_ea", "_eb") - F.greatest("_sa", "_sb")
            ).alias("overlap"),
        )
    )


def scd2_point_in_time_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    ts: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Point-in-time lookup against a type-2 SCD history (the
    temporal star-join every warehouse fact load needs): each fact
    row left-joins the dimension version effective AT its timestamp —
    ``valid_from <= ts < valid_to`` with a NULL ``valid_to`` meaning
    "current". SCD2 effectivity intervals are disjoint per key, so at
    most one version matches; facts before the key's first version
    (or with no history at all) keep NULL attributes.

    Plan shape: an equi-join on ``key`` with the effectivity range as
    a residual predicate — shuffles hash on the key like any fact-dim
    join (broadcast when the history is small), never a
    nested-loop over fact x versions.
    """
    f = facts.alias("_f")
    d = dim.alias("_d")
    cond = (
        (F.col(f"_f.{key}") == F.col(f"_d.{key}"))
        & (F.col(f"_d.{valid_from}") <= F.col(f"_f.{ts}"))
        & (
            F.col(f"_d.{valid_to}").isNull()
            | (F.col(f"_f.{ts}") < F.col(f"_d.{valid_to}"))
        )
    )
    dim_cols = [
        c for c in dim.columns if c not in (key, valid_from, valid_to)
    ]
    return f.join(d, cond, "left").select(
        "_f.*", *[F.col(f"_d.{c}").alias(c) for c in dim_cols]
    )


def locf_fill(
    df: DataFrame,
    key: str,
    ts: str,
    value: Column,
    tiebreak: str,
    out_col: str = "filled",
) -> DataFrame:
    """Last-observation-carried-forward: every row gets the most
    recent non-null observation of ``value`` at-or-before its
    timestamp within its key — the state-as-of-event-time fill that
    turns sparse observations (sensor readings, price ticks, the last
    purchase amount) into a dense per-event feature.

    ``value`` is a Column so callers pass the observation expression
    directly (e.g. ``F.when(type == 'purchase', F.col('value'))`` —
    NULL rows are the ones to fill). Rows before a key's first
    observation stay NULL (no back-fill; LOCF never leaks the
    future).

    Shape: one ``last(ignorenulls)`` running window on the (key)
    partitioning — a single hash shuffle and per-key sort, the same
    exchange any downstream per-key feature reuses. The running ROWS
    frame is computed incrementally per partition (no per-row
    re-scan), so cost is O(rows), not O(rows x history).
    """
    w = (
        Window.partitionBy(key)
        .orderBy(ts, tiebreak)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        out_col, F.last(value, ignorenulls=True).over(w)
    )


def ab_lift_zscore(
    df: DataFrame,
    unit_col: str,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Two-variant experiment readout: deterministic 50/50 hash
    assignment of experiment units (never a random() — re-running the
    report can't reshuffle users between arms) and a per-group Welch
    z-score on the metric mean, the standard "did B move the metric"
    gate of an online A/B system.

    Assignment: ``stable_hash32(unit) % 2`` — the same md5-derived
    bucketing `hash_split` uses for train/test, so arm membership is
    reproducible across engines, runs, and data orderings.

    Output per group: ``n_a``/``n_b``, ``mean_a``/``mean_b``,
    ``lift`` (B - A), ``z`` = lift / sqrt(var_a/n_a + var_b/n_b)
    (Welch — no equal-variance assumption; sample variances).

    Shape: the two arms are CONDITIONAL aggregates in one
    ``groupBy(group)`` — one scan, one map-side-partial shuffle, no
    self-join of per-arm aggregates.
    """
    from isilon_hadoop_tools_spark.functions.hashing import stable_hash32

    arm_a = stable_hash32(F.col(unit_col).cast("string")) % 2 == 0
    va = F.when(arm_a, F.col(value_col))
    vb = F.when(~arm_a, F.col(value_col))
    g = df.groupBy(group_col).agg(
        F.count(va).alias("n_a"),
        F.count(vb).alias("n_b"),
        F.avg(va).alias("_ma"),
        F.avg(vb).alias("_mb"),
        F.var_samp(va).alias("_va"),
        F.var_samp(vb).alias("_vb"),
    )
    se = F.sqrt(F.col("_va") / F.col("n_a") + F.col("_vb") / F.col("n_b"))
    return g.select(
        group_col,
        "n_a",
        "n_b",
        F.round("_ma", 6).alias("mean_a"),
        F.round("_mb", 6).alias("mean_b"),
        F.round(F.col("_mb") - F.col("_ma"), 6).alias("lift"),
        F.round((F.col("_mb") - F.col("_ma")) / se, 6).alias("z"),
    )


def median_of_means(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    buckets: int = 9,
) -> DataFrame:
    """Median-of-means robust mean estimator: hash rows into
    ``buckets`` deterministic sub-samples, average each, and take the
    LOWER MEDIAN of the bucket means — the estimator whose error
    concentrates even under heavy-tailed metrics where the plain mean
    is ruined by a single outlier (the classic trade behind every
    robust-metrics pipeline; see Lugosi & Mendelson, 2019 survey).

    Bucketing uses ``stable_hash32(id) % buckets`` — reproducible
    across runs/engines and independent of row order, unlike a
    round-robin or random() split. The lower median (element at index
    ``(n_buckets-1)//2`` of the sorted means, ties on bucket id) is
    used instead of an interpolated median so the selection is exact
    on both engines.

    Output per group: ``n``, ``n_buckets``, ``mean`` (plain, for
    contrast), ``mom_mean``.

    Shape: one (group, bucket) partial-agg shuffle; the median
    selection window runs over <= ``buckets`` rows per group; the
    plain mean is an algebraic merge of the SAME bucket aggregates
    (sum/count), so the fact table is scanned exactly once.
    """
    from isilon_hadoop_tools_spark.functions.hashing import stable_hash32

    b = df.withColumn(
        "_b", stable_hash32(F.col(id_col).cast("string")) % buckets
    )
    bm = b.groupBy(group_col, "_b").agg(
        F.sum(value_col).alias("_s"), F.count(value_col).alias("_n")
    ).withColumn("_m", F.col("_s") / F.col("_n"))
    w = Window.partitionBy(group_col)
    ordered = (
        bm.withColumn(
            "_rn", F.row_number().over(w.orderBy("_m", "_b"))
        )
        .withColumn("_nb", F.count(F.lit(1)).over(w))
        .withColumn("_tn", F.sum("_n").over(w))
        .withColumn("_ts", F.sum("_s").over(w))
    )
    return ordered.filter(
        F.col("_rn") == F.floor((F.col("_nb") - 1) / 2) + 1
    ).select(
        group_col,
        F.col("_tn").alias("n"),
        F.col("_nb").alias("n_buckets"),
        F.round(F.col("_ts") / F.col("_tn"), 6).alias("mean"),
        F.round("_m", 6).alias("mom_mean"),
    )


def poisson_thresholds(max_w: int = 6) -> list[int]:
    """Integer CDF thresholds for a deterministic Poisson(1) draw
    from a 32-bit hash: ``w = #{k < max_w : h >= T_k}`` where
    ``T_k = floor(P(X <= k) * 2^32)``. Comparing integer literals
    against the integer hash makes every draw exact on any engine —
    no float arithmetic touches the sample path. The tail past
    ``max_w - 1`` lumps into ``w = max_w`` (P ~ 6e-4 for max_w=6)."""
    import math

    e = math.exp(-1.0)
    cdf, term, acc = [], e, e
    for k in range(max_w):
        cdf.append(acc)
        term = term / (k + 1)
        acc += term
    return [int(c * 2**32) for c in cdf]


def poisson_bootstrap_ci(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    replicates: int = 20,
    alpha: float = 0.05,
    seed_base: int = 7100,
) -> DataFrame:
    """Per-group bootstrap confidence interval for the metric mean via
    the POISSON bootstrap (Chamandy et al., "Estimating uncertainty
    for massive data streams", Google 2012) — the only bootstrap that
    works on a distributed scan: classical resampling needs n draws
    WITH replacement (a shuffle per replicate), while Poisson(1)
    weights are an independent per-row decision, so ALL ``replicates``
    resamples ride ONE scan as conditional sums.

    Every weight is a deterministic function of ``(seed_base + b,
    id)`` through the md5 hash and INTEGER thresholds
    (:func:`poisson_thresholds`) — reruns, row order, and engines all
    agree on every draw (a ``rand()`` bootstrap is unreproducible and
    un-oracle-checkable).

    CI: empirical order statistics of the B replicate means — lower
    = ``floor(alpha*B) + 1``-th smallest, upper = ``B - floor(
    alpha*B)``-th (means pre-rounded to 6 dp; index selection, never
    interpolation). B=20, alpha=0.05 -> the 2nd and 19th of 20.

    Output per group: ``n``, ``mean``, ``ci_lo``, ``ci_hi``,
    ``n_replicates``.

    Shape: ONE groupBy(group) aggregation with 2·B conditional-sum
    columns (map-side partials; the per-replicate weight exprs are
    stateless projections) — the fact table is scanned once no matter
    how many replicates; the sort/selection runs on a B-length array
    per group row.
    """
    ts = poisson_thresholds()
    # SQL-string expressions, deliberately (the simhash build fix
    # applied here): the Column-API replicate loop issued ~1200 py4j
    # round-trips (20 replicates x (md5 hash + 6 threshold compares +
    # 2 sums)) — ~3 s of driver time per DataFrame BUILD, i.e. per
    # bench rep, on a query whose execution is a fraction of that.
    # The parsed trees are the same expressions (the Column form
    # already embeds the md5 subtree once per comparison; codegen's
    # subexpression elimination sees both forms identically), so the
    # plan and every emitted value are unchanged.
    aggs = [
        F.count(value_col).alias("_n"),
        F.sum(value_col).alias("_s"),
    ]
    for b in range(replicates):
        h = (
            f"CAST(conv(substring(md5(concat('{seed_base + b}:', "
            f"CAST({id_col} AS STRING))), 1, 8), 16, 10) AS BIGINT)"
        )
        w = "(" + " + ".join(f"CAST({h} >= {t} AS INT)" for t in ts) + ")"
        aggs.append(F.expr(f"sum({w} * {value_col})").alias(f"_ws{b}"))
        aggs.append(F.expr(f"sum({w})").alias(f"_wn{b}"))
    g = df.groupBy(group_col).agg(*aggs)
    means = F.expr(
        "array_sort(array("
        + ", ".join(
            f"round(_ws{b} / nullif(_wn{b}, 0), 6)"
            for b in range(replicates)
        )
        + "))"
    )
    lo = int(alpha * replicates) + 1
    hi = replicates - int(alpha * replicates)
    # a replicate whose Poisson weights are all zero (possible only
    # on tiny groups) has a NULL mean; Spark sorts NULLs last but
    # DuckDB's list_sort sorts them first, so index selection over
    # the raw array would diverge cross-engine — and a CI over
    # missing resamples is meaningless anyway. Both bounds go NULL
    # unless every replicate drew at least one row.
    valid = F.filter(means, lambda m: m.isNotNull())
    full = F.size(valid) == replicates
    return g.select(
        group_col,
        F.col("_n").alias("n"),
        F.round(F.col("_s") / F.col("_n"), 6).alias("mean"),
        F.when(full, F.element_at(valid, lo)).alias("ci_lo"),
        F.when(full, F.element_at(valid, hi)).alias("ci_hi"),
        F.lit(replicates).alias("n_replicates"),
    )


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: list,
    k: int = 5,
) -> DataFrame:
    """k-anonymity audit over a set of quasi-identifier columns
    (Sweeney 2002) — the privacy gate a training-data release runs
    after PII redaction (L24 removes direct identifiers; this
    measures whether COMBINATIONS of innocuous attributes still
    isolate individuals): every row must share its quasi-identifier
    tuple with at least ``k - 1`` others.

    Output (one row): ``n_rows``, ``n_groups``, ``min_group_size``,
    ``groups_below_k``, ``rows_below_k``, ``frac_rows_below_k``
    (6 dp), ``k_anonymous`` (true iff no group is smaller than k).

    Shape: ONE scan — a quasi-tuple-keyed count with map-side
    partials (group cardinality keys), then a group-table fold; the
    fact table never moves twice.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in quasi_cols]
    groups = df.groupBy(*[c.alias(f"_q{i}") for i, c in enumerate(cols)]).agg(
        F.count(F.lit(1)).alias("_n")
    )
    below = F.col("_n") < k
    return groups.agg(
        F.sum("_n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_groups"),
        F.min("_n").alias("min_group_size"),
        F.sum(below.cast("long")).alias("groups_below_k"),
        F.sum(F.when(below, F.col("_n")).otherwise(F.lit(0))).alias(
            "rows_below_k"
        ),
        F.round(
            F.sum(F.when(below, F.col("_n")).otherwise(F.lit(0)))
            .cast("double")
            / F.sum("_n"),
            6,
        ).alias("frac_rows_below_k"),
        (F.min("_n") >= k).alias("k_anonymous"),
    )


def dp_laplace_counts(
    df: DataFrame,
    key_cols: list,
    epsilon: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """Differentially-private histogram release under the Laplace
    mechanism (Dwork et al. 2006) — the missing MECHANISM next to the
    privacy AUDITS (k-anonymity/l-diversity/t-closeness measure a
    release; this produces one): per-group counts plus
    ``Laplace(Δf/ε)`` noise with sensitivity Δf = 1 (one individual
    changes one count by one), released as a clamped non-negative
    integer.

    DETERMINISM CAVEAT, stated loudly: the noise here derives from a
    seeded :func:`stable_hash32` of the group key via the inverse
    CDF — ``u = (h + ½)/2³²``, ``x = −b·sign(u−½)·ln(1−2|u−½|)`` —
    so the oracle can recompute it bit-for-bit and tests can assert
    the numerical pipeline. A REAL release must swap the hash for
    true randomness (hash-seeded noise is NOT differentially private:
    the adversary can recompute it); everything else — sensitivity,
    scale b = 1/ε, clamping, the post-processing invariance of the
    released integer — is the production pipeline unchanged.

    Keys must be non-null (they key a histogram release; nulls would
    silently merge under ``concat_ws``).

    Shape: ONE scan into a group-keyed count with map-side partials;
    the noise is column algebra on the group table. Output: the key
    columns, ``n_true`` (kept for audit — drop it for an actual
    release), ``noise`` (6 dp), ``noisy_count`` (6 dp), ``released``
    (long, ≥ 0).
    """
    from isilon_hadoop_tools_spark.functions.hashing import stable_hash32

    if epsilon <= 0:
        raise ValueError(f"epsilon must be > 0; got {epsilon}")
    b = 1.0 / epsilon
    keys = [F.col(c) for c in key_cols]
    groups = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_true"))
    # enforce the non-null contract at execution time: a NULL key
    # component would merge with the empty string under concat_ws, so
    # two distinct groups would silently draw IDENTICAL noise — fail
    # loudly instead (the band_index_expr discipline)
    guarded = [
        F.when(
            F.col(c).isNull(),
            F.raise_error(
                F.lit(
                    f"dp_laplace_counts: NULL in key column {c!r} — "
                    "null keys collide in the noise derivation; filter "
                    "or fill them first"
                )
            ).cast("string"),
        ).otherwise(F.col(c).cast("string"))
        for c in key_cols
    ]
    key_str = F.concat_ws("|", *guarded)
    u = (stable_hash32(key_str, seed) + 0.5) / F.lit(4294967296.0)
    noise = F.round(
        (F.lit(-b) * F.signum(u - 0.5))
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - 0.5)),
        6,
    )
    out = groups.withColumn("noise", noise).withColumn(
        "noisy_count", F.round(F.col("n_true") + F.col("noise"), 6)
    )
    return out.withColumn(
        "released",
        F.greatest(
            F.floor(F.col("noisy_count") + 0.5), F.lit(0)
        ).cast("long"),
    )


def l_diversity_report(
    df: DataFrame,
    quasi_cols: list,
    sensitive_col,
    l: int = 3,
) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007) — EA28's
    necessary companion: k-anonymity bounds equivalence-class SIZE,
    but a class of 1000 rows that all share one sensitive value still
    leaks it (the homogeneity attack); distinct-l-diversity requires
    every quasi-identifier class to contain at least ``l`` DISTINCT
    sensitive values.

    Output (one row): ``n_rows``, ``n_groups``, ``min_l`` (smallest
    per-class distinct-sensitive count), ``groups_below_l``,
    ``rows_below_l``, ``frac_rows_below_l`` (6 dp), ``l_diverse``
    (true iff no class has fewer than ``l`` distinct values).

    Shape: the same ONE-scan discipline as
    :func:`k_anonymity_report`, one key wider — a (quasi-tuple,
    sensitive)-keyed count with map-side partials, re-aggregated to
    the quasi tuple (rows = Σ cell counts, l = cell count — the
    distinct count falls out of the first aggregation for free, no
    expand), then a group-table fold. The fact table never moves
    twice.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in quasi_cols]
    s = (
        F.col(sensitive_col)
        if isinstance(sensitive_col, str)
        else sensitive_col
    )
    qnames = [f"_q{i}" for i in range(len(cols))]
    cells = df.groupBy(
        *[c.alias(n) for c, n in zip(cols, qnames)], s.alias("_s")
    ).agg(F.count(F.lit(1)).alias("_n"))
    groups = cells.groupBy(*qnames).agg(
        F.sum("_n").alias("_rows"), F.count(F.lit(1)).alias("_l")
    )
    below = F.col("_l") < l
    return groups.agg(
        F.sum("_rows").alias("n_rows"),
        F.count(F.lit(1)).alias("n_groups"),
        F.min("_l").alias("min_l"),
        F.sum(below.cast("long")).alias("groups_below_l"),
        F.sum(F.when(below, F.col("_rows")).otherwise(F.lit(0))).alias(
            "rows_below_l"
        ),
        F.round(
            F.sum(F.when(below, F.col("_rows")).otherwise(F.lit(0)))
            .cast("double")
            / F.sum("_rows"),
            6,
        ).alias("frac_rows_below_l"),
        (F.min("_l") >= l).alias("l_diverse"),
    )


def trimmed_mean(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    trim: float = 0.05,
) -> DataFrame:
    """Per-group trimmed mean: drop the lowest and highest ``trim``
    quantile tails and average the middle — the third member of the
    robust-location family (EA8b's median/MAD flags outliers, EA26's
    median-of-means survives them, the trimmed mean REMOVES them —
    the form metric pipelines usually publish, e.g. trimmed-mean
    latency).

    Exact interpolated percentiles (same cross-engine ``percentile``
    semantics as EA3) from the :func:`_grouped_quantiles_rank` window
    form (r16 — sort-spill instead of the per-group value buffer the
    exact ``percentile`` aggregate holds in executor heap), broadcast
    back onto the fact (the EA8 stat-join shape), then one
    conditional aggregation.

    Output per group: ``n``, ``n_kept``, ``mean``,
    ``trimmed_mean`` (both 6 dp).
    """
    bounds = _grouped_quantiles_rank(
        df, group_col, value_col, [trim, 1 - trim]
    ).select(
        group_col,
        F.col("_q_0").alias("_lo"),
        F.col("_q_1").alias("_hi"),
    )
    keep = (F.col(value_col) >= F.col("_lo")) & (
        F.col(value_col) <= F.col("_hi")
    )
    return (
        df.join(F.broadcast(bounds), group_col)
        .groupBy(group_col)
        .agg(
            F.count(value_col).alias("n"),
            F.sum(keep.cast("long")).alias("n_kept"),
            F.round(F.avg(value_col), 6).alias("mean"),
            F.round(
                F.avg(F.when(keep, F.col(value_col))), 6
            ).alias("trimmed_mean"),
        )
    )


def ordered_funnel(
    df: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    steps: list,
) -> DataFrame:
    """Strictly ORDERED multi-step funnel: a user converts through
    step i only with an event of type ``steps[i]`` at a time STRICTLY
    AFTER their step i-1 conversion time (earliest-qualifying-event
    semantics, the standard product-analytics "did they view, THEN
    click, THEN purchase" — EA1's horizon funnel counts co-occurrence;
    this one enforces sequence, so a purchase before the first view
    does not count).

    Shape: one hash partitioning by user carries ALL steps — step
    i's time is a conditional-min window over the user partition
    referencing step i-1's column, so the chain is ``len(steps)``
    window passes over ONE Exchange (window partitioning reused, no
    join-backs); the final fold is a user-table aggregation.

    Output (one row): ``n_users``, then ``n_stepK`` for each step
    (users whose ordered chain reaches step K) and ``rate_stepK``
    (vs n_users, 6 dp).
    """
    w = Window.partitionBy(user_col)
    cur = df.select(user_col, type_col, ts_col)
    prev_t = None
    for i, step in enumerate(steps):
        cond = F.col(type_col) == step
        if prev_t is not None:
            cond = cond & (F.col(ts_col) > F.col(prev_t))
        cur = cur.withColumn(
            f"_t{i}",
            F.min(F.when(cond, F.col(ts_col))).over(w),
        )
        prev_t = f"_t{i}"
    users = cur.groupBy(user_col).agg(
        *[F.max(f"_t{i}").alias(f"_t{i}") for i in range(len(steps))]
    )
    aggs = [F.count(F.lit(1)).alias("n_users")]
    for i in range(len(steps)):
        aggs.append(
            F.sum(F.col(f"_t{i}").isNotNull().cast("long")).alias(
                f"n_step{i + 1}"
            )
        )
    out = users.agg(*aggs)
    rates = [
        F.round(
            F.col(f"n_step{i + 1}").cast("double") / F.col("n_users"), 6
        ).alias(f"rate_step{i + 1}")
        for i in range(len(steps))
    ]
    return out.select("n_users", *[f"n_step{i + 1}" for i in range(len(steps))], *rates)


def theil_sen_trend(
    df: DataFrame,
    group_col: str,
    ts_col: str,
) -> DataFrame:
    """Theil-Sen robust trend of the DAILY VOLUME per group: the
    median of all pairwise day-slopes ``(c_j - c_i) / (d_j - d_i)``
    (Theil 1950 / Sen 1968; 29% breakdown point where EA23's OLS
    slope is dragged by one anomalous day — the robust twin in the
    trend family, exactly as EA8b is to EA8).

    The pair table is bounded by the TIME GRAIN, not the data: n
    days per group means C(n, 2) pairs of a day-table row pair —
    ~4k pairs for a quarter regardless of corpus size, after one
    fact-scan daily count. Day counts are integers, so every slope
    is one exact-integer division — bit-identical cross-engine —
    and the lower-median selection (row at index (n-1)//2 + 1,
    ties by day pair) is index-exact like EA26's.

    Output per group: ``n_days``, ``n_pairs``, ``ts_slope`` (6 dp,
    events/day per day). A group active on exactly ONE day has no
    slope pairs; it is still REPORTED — ``(group, n_days=1,
    n_pairs=0, ts_slope=NULL)`` — so callers diffing group lists
    against :func:`ols_trend` never see rows vanish (the output is
    driven from the day table via a left join, not from the ranked
    pair table).
    """
    daily = df.groupBy(
        F.col(group_col).alias("g"),
        F.date_trunc("day", F.col(ts_col)).alias("d"),
    ).agg(F.count(F.lit(1)).alias("c"))
    a = daily.select("g", F.col("d").alias("da"), F.col("c").alias("ca"))
    b = daily.select("g", F.col("d").alias("db"), F.col("c").alias("cb"))
    pairs = a.join(b, "g").filter(F.col("da") < F.col("db"))
    day_gap = F.datediff(F.col("db"), F.col("da"))
    slopes = pairs.select(
        "g",
        "da",
        "db",
        (
            (F.col("cb") - F.col("ca")).cast("double") / day_gap
        ).alias("slope"),
    )
    w = Window.partitionBy("g")
    ranked = (
        slopes.withColumn(
            "_rn",
            F.row_number().over(w.orderBy("slope", "da", "db")),
        )
        .withColumn("_np", F.count(F.lit(1)).over(w))
    )
    ndays = daily.groupBy("g").agg(F.count(F.lit(1)).alias("n_days"))
    medians = ranked.filter(
        F.col("_rn") == F.floor((F.col("_np") - 1) / 2) + 1
    ).select("g", "_np", "slope")
    # drive the output from the day table: single-day groups have no
    # ranked-pair row and must surface as (n_days=1, n_pairs=0, NULL)
    # instead of silently vanishing
    return ndays.join(medians, "g", "left").select(
        F.col("g").alias(group_col),
        "n_days",
        F.coalesce(F.col("_np"), F.lit(0)).alias("n_pairs"),
        F.round("slope", 6).alias("ts_slope"),
    )


def cusum_changepoint(
    df: DataFrame,
    group_col: str,
    ts_col: str,
) -> DataFrame:
    """Offline CUSUM changepoint estimate over the DAILY VOLUME per
    group (Page 1954's cumulative-sum statistic, the batch "where did
    the level shift?" readout behind deploy/incident forensics —
    completing the trend family: EA23 fits a slope, EA23b a robust
    slope, this finds the BREAK).

    The statistic: with daily counts ``x_1..x_n`` and mean ``m``, the
    cumulative deviation ``S_i = Σ_{j<=i}(x_j − m)`` peaks in absolute
    value at the most likely changepoint. Exactness: ``S_i`` needs
    the rational mean, so both engines compare the INTEGER rescaling
    ``T_i = n·cumsum_i − i·total`` (= n·S_i, exact bigints) — argmax
    ``|T_i|``, ties to the earliest day; ``S`` is reported as
    ``T/n`` at 6 dp. The shift direction falls out of the sign: a
    negative trough means pre-break days sat below the mean, i.e.
    the level stepped UP after ``cp_day`` (and symmetrically down).

    Shape: one fact scan to daily counts, then three window passes
    over the day table sharing ONE partitioning (cumsum, totals,
    argmax rank) — all time-grain-bounded, never corpus-sized.

    Output per group: ``n_days``, ``cp_day``, ``cusum_abs``
    (|S| at the peak, 6 dp), ``direction`` ('up' / 'down' / 'none').
    """
    daily = df.groupBy(
        F.col(group_col).alias("g"),
        F.date_trunc("day", F.col(ts_col)).alias("d"),
    ).agg(F.count(F.lit(1)).alias("c"))
    wp = Window.partitionBy("g")
    wcum = wp.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    scored = daily.select(
        "g",
        "d",
        (
            F.count(F.lit(1)).over(wp) * F.sum("c").over(wcum)
            - F.row_number().over(wp.orderBy("d")) * F.sum("c").over(wp)
        ).alias("t"),
        F.count(F.lit(1)).over(wp).alias("n_days"),
    )
    ranked = scored.withColumn(
        "_rn",
        F.row_number().over(wp.orderBy(F.abs("t").desc(), "d")),
    )
    return ranked.filter(F.col("_rn") == 1).select(
        F.col("g").alias(group_col),
        "n_days",
        F.col("d").alias("cp_day"),
        F.round(F.abs("t") / F.col("n_days"), 6).alias("cusum_abs"),
        F.when(F.col("t") < 0, F.lit("up"))
        .when(F.col("t") > 0, F.lit("down"))
        .otherwise(F.lit("none"))
        .alias("direction"),
    )


def band_index_expr(value_col: str, breaks: list):
    """Fixed-band index expression shared by the batch
    :func:`psi_drift` and the streaming band counter
    (``banded_count_stream_into_state``) so banding and validation can
    never drift between the two halves of the gate: values below
    ``breaks[i]`` (first match) index as ``i``; at or above the last
    break as ``len(breaks)``. Raises ``ValueError`` unless ``breaks``
    is strictly ascending with no duplicates — an unsorted or
    duplicated list would silently mis-band values via the
    first-match WHEN chain."""
    if not breaks or list(breaks) != sorted(set(breaks)):
        raise ValueError(
            "breaks must be non-empty, strictly ascending, and "
            f"duplicate-free; got {breaks!r}"
        )
    v = F.col(value_col)
    band = None
    for i, b in enumerate(breaks):
        cond = v < F.lit(float(b))
        band = F.when(cond, F.lit(i)) if band is None else band.when(
            cond, F.lit(i)
        )
    return band.otherwise(F.lit(len(breaks)))


def psi_drift(
    df: DataFrame,
    value_col: str,
    in_base,
    in_cur,
    breaks: list,
) -> DataFrame:
    """Population Stability Index between two cohorts of one table —
    the standard data-drift release gate (credit-scoring lineage,
    now the "did this month's crawl shift under my filters?" check a
    training-data pipeline runs before shipping a snapshot):
    ``PSI = Σ_bands (p_i − q_i)·ln(p_i / q_i)`` over FIXED value
    bands, with the conventional read (<0.1 stable, 0.1–0.25 drifting,
    >0.25 shifted).

    Determinism: bands are literal breaks (B = len+1 bands with open
    ends); empty bands get add-one (Laplace) smoothing — ``p_i =
    (n_i + 1)/(N + B)`` — so the log is always finite and BOTH
    engines compute identical rationals → identical doubles →
    identical ``ln`` (same libm) → 6-dp-stable terms.

    Shape: ONE fact scan (band key + two conditional sums with
    map-side partials), then everything runs on the B-row band table
    (spine join so silent bands still appear, window totals). The
    fact table never moves twice; B is a constant.

    Output per band: ``band``, ``n_base``, ``n_cur``, ``p_base``,
    ``p_cur``, ``psi_term`` (6 dp each) and the repeated
    ``psi_total`` (6 dp) for the gate readout.
    """
    nb = len(breaks) + 1
    band = band_index_expr(value_col, breaks).cast("int")
    counts = (
        df.select(
            band.alias("band"),
            in_base.cast("long").alias("_b"),
            in_cur.cast("long").alias("_c"),
        )
        .groupBy("band")
        .agg(F.sum("_b").alias("n_base"), F.sum("_c").alias("n_cur"))
    )
    return psi_readout(counts, nb)


def psi_readout(counts: DataFrame, n_bands: int) -> DataFrame:
    """The PSI formula over a ``(band, n_base, n_cur)`` count table —
    shared by the batch :func:`psi_drift` and the streaming drift
    monitor (whose current-side counts live in ``ParquetState``):
    band-spine join (silent bands still appear), add-one smoothing,
    6-dp terms and the repeated total. Everything here is
    B-row-table work."""
    spark = counts.sparkSession
    spine = spark.range(n_bands).select(
        F.col("id").cast("int").alias("band")
    )
    full = (
        spine.join(counts, "band", "left")
        .fillna(0, subset=["n_base", "n_cur"])
    )
    wall = Window.partitionBy()
    p = (F.col("n_base") + 1).cast("double") / (
        F.sum("n_base").over(wall) + n_bands
    ).cast("double")
    q = (F.col("n_cur") + 1).cast("double") / (
        F.sum("n_cur").over(wall) + n_bands
    ).cast("double")
    term = (p - q) * F.log(p / q)
    return full.select(
        "band",
        "n_base",
        "n_cur",
        F.round(p, 6).alias("p_base"),
        F.round(q, 6).alias("p_cur"),
        F.round(term, 6).alias("psi_term"),
        F.round(F.sum(term).over(wall), 6).alias("psi_total"),
    )


def js_divergence_drift(
    df: DataFrame,
    value_col: str,
    in_base,
    in_cur,
    breaks: list,
) -> DataFrame:
    """Jensen–Shannon divergence between two cohorts of one table —
    the bounded, symmetric companion to :func:`psi_drift`:
    ``JS(P,Q) = ½·KL(P‖M) + ½·KL(Q‖M)`` with ``M = (P+Q)/2``, over
    the same FIXED value bands. Unlike PSI (unbounded, blows up on
    near-empty bands even with smoothing), JS is capped at ``ln 2``
    ≈ 0.693 nats, which makes the gate threshold portable across
    corpora — the reason The Pile / RedPajama drift reports quote JS
    rather than raw KL.

    Determinism: identical to :func:`psi_drift` — literal breaks,
    add-one smoothing so p, q (and hence m) are strictly positive
    rationals both engines compute identically, per-band terms and
    the total rounded to 6 dp.

    Shape: ONE fact scan (band key + two conditional sums with
    map-side partials), then B-row band-table work only (spine join,
    window totals). The fact table never moves twice.

    Output per band: ``band``, ``n_base``, ``n_cur``, ``p_base``,
    ``p_cur``, ``js_term``, and the repeated ``js_total`` with the
    gate read (<0.02 stable, >0.1 shifted is a common calibration).
    """
    nb = len(breaks) + 1
    band = band_index_expr(value_col, breaks).cast("int")
    counts = (
        df.select(
            band.alias("band"),
            in_base.cast("long").alias("_b"),
            in_cur.cast("long").alias("_c"),
        )
        .groupBy("band")
        .agg(F.sum("_b").alias("n_base"), F.sum("_c").alias("n_cur"))
    )
    spark = counts.sparkSession
    spine = spark.range(nb).select(F.col("id").cast("int").alias("band"))
    full = (
        spine.join(counts, "band", "left")
        .fillna(0, subset=["n_base", "n_cur"])
    )
    wall = Window.partitionBy()
    p = (F.col("n_base") + 1).cast("double") / (
        F.sum("n_base").over(wall) + nb
    ).cast("double")
    q = (F.col("n_cur") + 1).cast("double") / (
        F.sum("n_cur").over(wall) + nb
    ).cast("double")
    m = (p + q) / 2.0
    term = (p * F.log(p / m) + q * F.log(q / m)) / 2.0
    return full.select(
        "band",
        "n_base",
        "n_cur",
        F.round(p, 6).alias("p_base"),
        F.round(q, 6).alias("p_cur"),
        F.round(term, 6).alias("js_term"),
        F.round(F.sum(term).over(wall), 6).alias("js_total"),
    )


def ad_drift(
    df: DataFrame,
    value_col: str,
    in_base,
    in_cur,
) -> DataFrame:
    """Two-sample Anderson–Darling drift gate — the TAIL-WEIGHTED
    member completing the ECDF battery (KS = sup gap, CvM = mean
    squared gap, this = squared gap weighted by ``1/(B·(N−B))``, so
    distribution-edge drift that KS/CvM average away dominates the
    statistic — the reason AD is the standard "did the tails move"
    test). The k=2 case of Scholz & Stephens 1987 eq. 3 in the
    right-continuous discrete form (SciPy's ``midrank=False``):

        A² = Σ_{i∈{b,c}} (1/n_i) Σ_j l_j·(N·M_ij − n_i·B_j)²
                                       / (N·B_j·(N−B_j))

    over pooled distinct values (the largest excluded — its weight
    is 1/0), with l_j the pooled count, B_j the pooled cumulative,
    M_ij sample i's cumulative.

    For k = 2 the two samples' deviations are exact negatives
    (``N·M_c − tc·B = −(N·M_b − tb·B)``), so the pair of terms
    collapses to ONE: ``A² = (1/(tb·tc)) Σ_j l_j·d_j² /
    (B_j·(N−B_j))`` with ``d = N·M_b − tb·B``.

    Determinism with NO double anywhere near a big integer: a
    DECIMAL→DOUBLE (or HUGEINT→DOUBLE) cast above 2⁵³ is double-
    rounded differently across engines (measured: a 1-ulp flip in
    the 6th decimal), so every per-value term is an exact scaled
    integer — ``q_j = ⌊l·d²·10⁶ / (B·(N−B))⌋`` via decimal floor
    division (:func:`_dec_floordiv`) — summed exactly in
    DECIMAL(38,0) (order-independent), and the final statistic is
    one more exact floor division to 6-dp micro-units before the
    only double cast, which then sits far below 2⁵³. Bound:
    ``l·d²·10⁶ ≤ 10³⁸`` needs N ≲ 10⁶ — pre-quantize beyond (the
    KS/CvM advice, one decade tighter for the 10⁶ scale factor).
    The 10⁻⁶-per-term truncation changes the statistic by < V·10⁻⁶/
    (tb·tc) ≪ the 6th decimal; both engines truncate identically.

    Shape identical to :func:`ks_drift` / :func:`cvm_drift`: one
    fact scan with map-side combine onto the V-row distinct-value
    table, cumulatives via the two-phase :func:`_ordered_cumsum`,
    totals broadcast.

    Output (one row): ``n_base``, ``n_cur``, ``ad_stat`` (6 dp).
    """
    counts = (
        df.select(
            F.col(value_col).alias("v"),
            in_base.cast("long").alias("_b"),
            in_cur.cast("long").alias("_c"),
        )
        .filter(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.sum("_b").alias("nb"), F.sum("_c").alias("nc"))
        .localCheckpoint(eager=False)
    )
    dec = "decimal(38,0)"
    totals = counts.agg(
        F.sum("nb").cast(dec).alias("tb"),
        F.sum("nc").cast(dec).alias("tc"),
    )
    cum = (
        _ordered_cumsum(counts, "v", ["nb", "nc"])
        .crossJoin(F.broadcast(totals))
        .select(
            (F.col("nb") + F.col("nc")).cast(dec).alias("l"),
            F.col("_cum_nb").cast(dec).alias("mb"),
            F.col("_cum_nc").cast(dec).alias("mc"),
            "tb",
            "tc",
        )
    )
    n_tot = F.col("tb") + F.col("tc")
    bj = F.col("mb") + F.col("mc")
    kept = cum.filter(bj < n_tot)
    d = n_tot * F.col("mb") - F.col("tb") * bj
    scale = F.lit(1_000_000).cast(dec)
    q = _dec_floordiv(
        F.col("l") * d * d * scale, bj * (n_tot - bj)
    )
    # overflow guard (ADVICE r13): beyond the documented N ≲ 10⁶
    # bound the DECIMAL(38,0) product l·d²·10⁶ overflows to NULL
    # under non-ANSI Spark and F.sum would SKIP it, silently
    # understating the statistic — count the NULL terms and raise at
    # execution instead
    agg = kept.groupBy("tb", "tc").agg(
        F.sum(q).alias("s"),
        F.sum(q.isNull().cast("long")).alias("_overflowed"),
    )
    # micro-units of the statistic: round(s / (tb·tc)) as one exact
    # floor division of positives — (2s + tbtc) // (2·tbtc)
    tbtc = F.col("tb") * F.col("tc")
    micro = _dec_floordiv(
        F.lit(2).cast(dec) * F.col("s") + tbtc,
        F.lit(2).cast(dec) * tbtc,
    )
    stat = F.round(micro.cast("double") / 1_000_000.0, 6)
    return agg.select(
        F.col("tb").cast("long").alias("n_base"),
        F.col("tc").cast("long").alias("n_cur"),
        F.when(
            F.col("_overflowed") > 0,
            F.raise_error(
                F.lit(
                    "ad_drift: decimal overflow in the exact term "
                    "sum (N beyond the ~1e6 bound) — pre-quantize "
                    "the value column before the gate"
                )
            ).cast("double"),
        )
        .otherwise(stat)
        .alias("ad_stat"),
    )


def _dec_floordiv(a, b):
    """Exact ⌊a/b⌋ for non-negative DECIMAL(38,0) columns. Spark's
    ``div`` silently casts its operands to LONG (wrapping above
    2⁶³), so floor division is emulated: the decimal divide is
    correctly rounded at its derived scale (within ½·10⁻⁶ of the
    true quotient — the integer cast then lands on ⌊a/b⌋ or
    ⌊a/b⌋+1), and one exact-remainder comparison fixes up the
    rounded-up case. DuckDB's twin is plain HUGEINT ``//``."""
    dec = "decimal(38,0)"
    q0 = (a / b).cast(dec)
    r = a - q0 * b
    return F.when(r < 0, q0 - F.lit(1).cast(dec)).otherwise(q0)


def _ordered_cumsum(
    df: DataFrame, key_col: str, sum_cols: list[str]
) -> DataFrame:
    """Exact global INCLUSIVE running sums in ``key_col`` order WITHOUT
    a single-partition window (the ``corpus._ordered_row_number``
    discipline, applied to sums): range-repartition on the key (the
    range partitioner globally orders partitions), per-partition
    running sums via a ``_pid``-partitioned window, then driver-side
    cumulative offsets of the P per-partition totals — P scalars of
    bounded driver state, never a corpus-sized collect. The result is
    identical for any partition-boundary sampling because addition is
    associative and the key order is total (callers pass a
    distinct-key table).

    Adds ``_cum_<col>`` (long) for each of ``sum_cols``."""
    spark = df.sparkSession
    npart = max(2, shuffle_partition_count(spark))
    part = df.repartitionByRange(npart, key_col).sortWithinPartitions(
        key_col
    )
    wloc = (
        Window.partitionBy("_pid")
        .orderBy(key_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = part.withColumn("_pid", F.spark_partition_id()).select(
        "*", *[F.sum(c).over(wloc).alias(f"_cum_{c}") for c in sum_cols]
    ).localCheckpoint(eager=True)
    tot = local.groupBy("_pid").agg(
        *[F.sum(c).alias(c) for c in sum_cols]
    ).collect()
    acc = {c: 0 for c in sum_cols}
    offsets: dict[str, dict[int, int]] = {c: {} for c in sum_cols}
    for r in sorted(tot, key=lambda r: r["_pid"]):
        for c in sum_cols:
            offsets[c][r["_pid"]] = acc[c]
            acc[c] += r[c] or 0
    for c in sum_cols:
        omap = lit_map(
            [int(p) for p in sorted(offsets[c])],
            [int(offsets[c][p]) for p in sorted(offsets[c])],
            "int",
            "bigint",
        )
        local = local.withColumn(
            f"_cum_{c}",
            F.col(f"_cum_{c}")
            + F.coalesce(F.try_element_at(omap, F.col("_pid")), F.lit(0)),
        )
    return local.drop("_pid")


def _global_quantiles(
    df: DataFrame, col: str, probs: list[float]
) -> DataFrame:
    """Exact INTERPOLATED no-key quantiles (the ``percentile`` /
    ``quantile_cont`` formula: value at rank ``(n−1)·p``, linear
    between neighbors) computed by GLOBAL RANK instead of the exact
    ``percentile`` aggregate — that aggregate buffers a value→count
    map whose final merge is a single buffer, i.e. executor-heap
    bounded by the column's distinct cardinality; the rank form is
    the :func:`_ordered_cumsum` two-phase discipline (range shuffle +
    per-partition sort + P driver scalars), disk-bounded at any
    scale. One tiny filtered pass picks the ≤ 2·|probs| neighbor
    rows, one 1-row aggregate interpolates.

    Returns ONE row with columns ``_q_0.._q_{k−1}`` (doubles, in
    ``probs`` order; all NULL on empty/all-NULL input)."""
    vals = (
        df.select(F.col(col).cast("double").alias("_v"))
        .filter(F.col("_v").isNotNull())
        .withColumn("_one", F.lit(1).cast("long"))
    )
    ranked = _ordered_cumsum(vals, "_v", ["_one"])
    cnt = ranked.agg(F.max("_cum__one").alias("_n"))
    j = ranked.join(F.broadcast(cnt))
    rn = F.col("_cum__one")
    hit = F.lit(False)
    aggs = []
    for i, p in enumerate(probs):
        h = (F.col("_n") - 1) * F.lit(float(p))
        lo = F.floor(h) + 1
        hit = hit | (rn == lo) | (rn == lo + 1)
        lo_v = F.max(F.when(rn == lo, F.col("_v")))
        hi_v = F.coalesce(F.max(F.when(rn == lo + 1, F.col("_v"))), lo_v)
        frac = F.max(h) - F.floor(F.max(h))
        aggs.append((lo_v + frac * (hi_v - lo_v)).alias(f"_q_{i}"))
    return j.filter(hit).agg(*aggs)


def ks_drift(
    df: DataFrame,
    value_col: str,
    in_base,
    in_cur,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov drift gate — the
    companion of :func:`psi_drift` for heavy-tailed metrics where
    fixed bands are the wrong lens: ``KS = sup_x |F_base(x) −
    F_cur(x)|`` over the EXACT empirical CDFs, no binning, no
    smoothing. The sup over right-continuous step ECDFs is attained
    at a jump point, so evaluating at every DISTINCT value is exact.

    Determinism: the statistic is the exact rational
    ``|cum_base·n_cur − cum_cur·n_base| / (n_base·n_cur)`` maximized
    in DECIMAL(38,0) integer arithmetic (no float compare decides the
    winner), with ties on the numerator broken to the SMALLEST value;
    only the final 6-dp division is floating point — bit-identical
    cross-engine.

    Shape: ONE fact scan with map-side combine (groupBy value → two
    conditional counts), then all ordered work runs on the V-row
    DISTINCT-VALUE table, never the fact table (V ≪ N for any metric
    worth gating; quantize first if your column is continuous-unique).
    The cumulative counts use the two-phase range-partition +
    driver-offset discipline (:func:`_ordered_cumsum`) — for a
    continuous value column V ≈ N, so an unpartitioned ordered window
    here would sort everything in ONE task; the global totals are a
    1-row aggregate broadcast back. The final argmax is a 1-row
    TakeOrdered.

    Output (one row): ``n_base``, ``n_cur``, ``at_value`` (where the
    sup is attained), ``ks_stat`` (6 dp).
    """
    counts = (
        df.select(
            F.col(value_col).alias("v"),
            in_base.cast("long").alias("_b"),
            in_cur.cast("long").alias("_c"),
        )
        .filter(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.sum("_b").alias("nb"), F.sum("_c").alias("nc"))
        # consumed twice (totals + cumulative ranks): pin the V-row
        # table so the fact table is scanned once
        .localCheckpoint(eager=False)
    )
    dec = "decimal(38,0)"
    totals = counts.agg(
        F.sum("nb").cast(dec).alias("tb"),
        F.sum("nc").cast(dec).alias("tc"),
    )
    cum = (
        _ordered_cumsum(counts, "v", ["nb", "nc"])
        .crossJoin(F.broadcast(totals))
        .select(
            "v",
            F.col("_cum_nb").cast(dec).alias("cb"),
            F.col("_cum_nc").cast(dec).alias("cc"),
            "tb",
            "tc",
        )
    )
    diff = cum.select(
        "v",
        "tb",
        "tc",
        F.abs(
            F.col("cb") * F.col("tc") - F.col("cc") * F.col("tb")
        ).alias("num"),
    )
    best = diff.orderBy(F.desc("num"), F.asc("v")).limit(1)
    return best.select(
        F.col("tb").cast("long").alias("n_base"),
        F.col("tc").cast("long").alias("n_cur"),
        F.col("v").alias("at_value"),
        F.round(
            F.col("num").cast("double")
            / (F.col("tb") * F.col("tc")).cast("double"),
            6,
        ).alias("ks_stat"),
    )


def last_touch_attribution(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    tiebreak_col: str,
    type_col: str,
    value_col: str,
    touch_types: list,
    conversion_type: str,
    lookback_hours: int = 24,
) -> DataFrame:
    """Last-touch conversion attribution — the standard marketing /
    growth readout (and, for a data pipeline, "which upstream source
    fed the document that converted"): every conversion event credits
    the LAST touch event of the same user strictly earlier in the
    (ts, tiebreak) order and within the lookback window; conversions
    with no qualifying touch credit ``'direct'``.

    Semantics pinned for the oracle: "strictly earlier" is row order
    (a touch at the identical timestamp but lower tiebreak id still
    counts), the window is inclusive at exactly ``lookback_hours``,
    and second-resolution epochs (``floor(epoch)``) are compared so
    both engines truncate identically.

    Shape: ONE shuffle — the per-user window (carrying the last touch
    ts/type via ``last(..., ignorenulls=True)`` over UNBOUNDED
    PRECEDING..1 PRECEDING) hash-partitions on the user; the final
    channel aggregation runs on conversion rows only.

    Output per channel: ``channel``, ``n_conversions``,
    ``attributed_value`` (4 dp), ``share`` (of conversions, 6 dp).
    """
    w = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, tiebreak_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col(type_col).isin(list(touch_types))
    lt_ts = F.last(
        F.when(is_touch, F.col(ts_col)), ignorenulls=True
    ).over(w)
    lt_type = F.last(
        F.when(is_touch, F.col(type_col)), ignorenulls=True
    ).over(w)
    carried = df.select(
        type_col,
        value_col,
        F.col(ts_col).cast("long").alias("_ets"),
        lt_ts.cast("long").alias("_lts"),
        lt_type.alias("_ltype"),
    ).filter(F.col(type_col) == conversion_type)
    channel = F.when(
        F.col("_lts").isNotNull()
        & (F.col("_ets") - F.col("_lts") <= lookback_hours * 3600),
        F.col("_ltype"),
    ).otherwise(F.lit("direct"))
    agged = carried.select(channel.alias("channel"), value_col).groupBy(
        "channel"
    ).agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.round(F.sum(value_col), 4).alias("attributed_value"),
    )
    wall = Window.partitionBy()
    return agged.select(
        "channel",
        "n_conversions",
        "attributed_value",
        F.round(
            F.col("n_conversions").cast("double")
            / F.sum("n_conversions").over(wall),
            6,
        ).alias("share"),
    )


def t_closeness_report(
    df: DataFrame,
    quasi_cols: list,
    sensitive_col,
    t: float = 0.35,
) -> DataFrame:
    """t-closeness audit (Li et al., ICDE 2007) — completing the
    privacy-gate trio: k-anonymity bounds class SIZE (EA28),
    l-diversity bounds distinct sensitive VALUES (EA28b), but a class
    can satisfy both while its sensitive DISTRIBUTION still leaks
    ("99% flu, 1% other" in a class vs 10% globally — the skewness
    attack). t-closeness requires every quasi class's sensitive
    distribution to sit within distance ``t`` of the GLOBAL one;
    for categorical attributes under the equal-distance ground metric
    the Earth-Mover distance reduces to total variation:
    ``t(C) = ½ Σ_s |P(s|C) − P(s)|``.

    Absent sensitive values contribute ``P(s)`` to the class's sum;
    rather than materializing every (class, value) zero cell, the
    identity ``Σ_{s∉C} P(s) = 1 − Σ_{s∈C} P(s)`` folds them in from
    the PRESENT cells only — so the work stays one (quasi, sensitive)
    cell aggregation (the EA28b shape) + a value-share broadcast join
    + a class fold; the fact table never moves twice.

    Output (one row): ``n_rows``, ``n_groups``, ``max_t`` (6 dp),
    ``groups_above_t``, ``rows_above_t``, ``frac_rows_above_t``
    (6 dp), ``t_close`` (true iff no class exceeds ``t``).
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in quasi_cols]
    s = (
        F.col(sensitive_col)
        if isinstance(sensitive_col, str)
        else sensitive_col
    )
    qnames = [f"_q{i}" for i in range(len(cols))]
    cells = df.groupBy(
        *[c.alias(n) for c, n in zip(cols, qnames)], s.alias("_s")
    ).agg(F.count(F.lit(1)).alias("_n"))
    cells = cells.localCheckpoint(eager=False)
    wall = Window.partitionBy()
    glob = (
        cells.groupBy("_s")
        .agg(F.sum("_n").alias("_gn"))
        .select(
            "_s",
            (
                F.col("_gn").cast("double")
                / F.sum("_gn").over(wall).cast("double")
            ).alias("_q"),
        )
    )
    wgrp = Window.partitionBy(*qnames)
    joined = cells.join(F.broadcast(glob), "_s").select(
        *qnames,
        "_n",
        "_q",
        (
            F.col("_n").cast("double")
            / F.sum("_n").over(wgrp).cast("double")
        ).alias("_p"),
    )
    groups = joined.groupBy(*qnames).agg(
        F.sum("_n").alias("_rows"),
        # 6-dp BEFORE any comparison: the raw float sum's last ulp
        # depends on accumulation order, so an exact-boundary class
        # (true t-statistic == t) could flip sides between runs /
        # engines — hypothesis found exactly that (a class at
        # t = 1/10 counted above on one side, not on the other)
        F.round(
            0.5
            * (
                F.sum(F.abs(F.col("_p") - F.col("_q")))
                + 1.0
                - F.sum("_q")
            ),
            6,
        ).alias("_t"),
    )
    above = F.col("_t") > t
    return groups.agg(
        F.sum("_rows").alias("n_rows"),
        F.count(F.lit(1)).alias("n_groups"),
        F.round(F.max("_t"), 6).alias("max_t"),
        F.sum(above.cast("long")).alias("groups_above_t"),
        F.sum(F.when(above, F.col("_rows")).otherwise(F.lit(0))).alias(
            "rows_above_t"
        ),
        F.round(
            F.sum(F.when(above, F.col("_rows")).otherwise(F.lit(0)))
            .cast("double")
            / F.sum("_rows"),
            6,
        ).alias("frac_rows_above_t"),
        (F.max("_t") <= t).alias("t_close"),
    )


def linear_attribution(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    tiebreak_col: str,
    type_col: str,
    value_col: str,
    touch_types: list,
    conversion_type: str,
    lookback_hours: int = 24,
) -> DataFrame:
    """Linear multi-touch attribution — the fair-share companion of
    :func:`last_touch_attribution`: every qualifying touch inside the
    lookback splits the conversion's credit equally (1/n of the
    conversion count and of its value), instead of the last touch
    taking all of it; conversions with no qualifying touch credit
    ``'direct'`` in full. Same pinned semantics as last-touch:
    "strictly earlier" is (ts, tiebreak) row order, the lookback
    boundary is inclusive, epochs compare at second resolution.

    Shape: conversions LEFT-join touches per user with the window
    predicate inside the join (per-user fan-out bounded by that
    user's touch count — the same bound sessionization already
    needs), one per-conversion count window, one channel fold.

    Output per channel: ``channel``, ``credit`` (fractional
    conversions, 6 dp), ``attributed_value`` (4 dp).
    """
    is_touch = F.col(type_col).isin(list(touch_types))
    touches = df.filter(is_touch).select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).cast("long").alias("_tts"),
        F.col(tiebreak_col).alias("_tid"),
        F.col(type_col).alias("_ttype"),
    )
    convs = df.filter(F.col(type_col) == conversion_type).select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).cast("long").alias("_cts"),
        F.col(tiebreak_col).alias("_cid"),
        F.col(value_col).alias("_v"),
    )
    before = (F.col("_tts") < F.col("_cts")) | (
        (F.col("_tts") == F.col("_cts")) & (F.col("_tid") < F.col("_cid"))
    )
    within = F.col("_cts") - F.col("_tts") <= lookback_hours * 3600
    joined = convs.join(
        touches, on=[convs["_u"] == touches["_u"], before, within], how="left"
    ).select(convs["_u"], "_cts", "_cid", "_v", "_ttype")
    wconv = Window.partitionBy("_u", "_cid")
    n_touch = F.count("_ttype").over(wconv)
    weight = F.when(F.col("_ttype").isNull(), F.lit(1.0)).otherwise(
        F.lit(1.0) / n_touch
    )
    channel = F.coalesce(F.col("_ttype"), F.lit("direct"))
    return (
        joined.select(
            channel.alias("channel"),
            weight.alias("_w"),
            (F.col("_v") * weight).alias("_wv"),
        )
        .groupBy("channel")
        .agg(
            F.round(F.sum("_w"), 6).alias("credit"),
            F.round(F.sum("_wv"), 4).alias("attributed_value"),
        )
    )


def time_decay_attribution(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    tiebreak_col: str,
    type_col: str,
    value_col: str,
    touch_types: list,
    conversion_type: str,
    lookback_hours: int = 24,
    half_life_hours: int = 6,
) -> DataFrame:
    """Time-decay attribution — the third standard model, completing
    the trio (last-touch: winner-take-all; linear: equal shares;
    time-decay: recency-weighted shares): each qualifying touch's
    credit is proportional to ``2^(−age/half_life)``, normalized per
    conversion, so a touch minutes before the conversion outweighs
    one from yesterday without zeroing it. Same pinned semantics as
    the other two (row-order "strictly earlier", inclusive lookback,
    second-resolution epochs) and the same join shape as
    :func:`linear_attribution` (per-user LEFT join, one
    per-conversion window, one channel fold).

    Determinism: ages are exact integer seconds, weights are
    ``pow(2.0, −age/(3600·h))`` on identical doubles (same libm on
    both engines), per-conversion normalization divides by the
    windowed weight sum — credit conservation holds exactly like the
    linear model's.

    Output per channel: ``channel``, ``credit`` (6 dp),
    ``attributed_value`` (4 dp).
    """
    is_touch = F.col(type_col).isin(list(touch_types))
    touches = df.filter(is_touch).select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).cast("long").alias("_tts"),
        F.col(tiebreak_col).alias("_tid"),
        F.col(type_col).alias("_ttype"),
    )
    convs = df.filter(F.col(type_col) == conversion_type).select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).cast("long").alias("_cts"),
        F.col(tiebreak_col).alias("_cid"),
        F.col(value_col).alias("_v"),
    )
    before = (F.col("_tts") < F.col("_cts")) | (
        (F.col("_tts") == F.col("_cts")) & (F.col("_tid") < F.col("_cid"))
    )
    within = F.col("_cts") - F.col("_tts") <= lookback_hours * 3600
    joined = convs.join(
        touches, on=[convs["_u"] == touches["_u"], before, within], how="left"
    ).select(convs["_u"], "_cts", "_cid", "_v", "_tts", "_ttype")
    decay = F.pow(
        F.lit(2.0),
        -(F.col("_cts") - F.col("_tts")).cast("double")
        / F.lit(float(half_life_hours * 3600)),
    )
    wconv = Window.partitionBy("_u", "_cid")
    wsum = F.sum(F.when(F.col("_ttype").isNotNull(), decay)).over(wconv)
    weight = F.when(F.col("_ttype").isNull(), F.lit(1.0)).otherwise(
        decay / wsum
    )
    channel = F.coalesce(F.col("_ttype"), F.lit("direct"))
    return (
        joined.select(
            channel.alias("channel"),
            weight.alias("_w"),
            (F.col("_v") * weight).alias("_wv"),
        )
        .groupBy("channel")
        .agg(
            F.round(F.sum("_w"), 6).alias("credit"),
            F.round(F.sum("_wv"), 4).alias("attributed_value"),
        )
    )


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    in_base,
    in_cur,
) -> DataFrame:
    """Exact Mann-Whitney U (Wilcoxon rank-sum) between two cohorts —
    the nonparametric companion to the A/B z-test (``ab_lift_zscore``)
    and the distributional KS gate (:func:`ks_drift`): ranks instead
    of means, so one heavy-tailed outlier cannot buy a win.

    Everything that decides the statistic is INTEGER-exact: with
    per-distinct-value counts ``(nb, nc)`` and the cumulative count
    ``prev`` of strictly-smaller observations, the tie-midrank is
    ``(2·prev + nb + nc + 1)/2``, so ``2·R_base = Σ nb·(2·prev + nb +
    nc + 1)`` and ``2·U_base = 2·R_base − n_base·(n_base + 1)`` are
    exact DECIMAL(38,0) integers. The readout adds the
    probability-of-superiority ``auc = U/(n_base·n_cur)`` (6 dp — the
    effect size a rank test actually estimates:
    P(base > cur) + ½·P(tie)).

    Shape mirrors :func:`ks_drift`: one fact scan with map-side
    combine onto the V-row distinct-value table; the EXCLUSIVE
    cumulative count ``prev`` comes from the two-phase
    :func:`_ordered_cumsum` (inclusive sum minus the row's own count)
    — never an unpartitioned ordered window, which would sort the
    whole distinct-value table in one task for continuous metrics —
    and the totals are a 1-row aggregate broadcast back.

    Output (one row): ``n_base``, ``n_cur``, ``u2_base`` (= 2·U,
    exact), ``auc`` (6 dp).
    """
    counts = (
        df.select(
            F.col(value_col).alias("v"),
            in_base.cast("long").alias("_b"),
            in_cur.cast("long").alias("_c"),
        )
        .filter(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.sum("_b").alias("nb"), F.sum("_c").alias("nc"))
        .withColumn("_t", F.col("nb") + F.col("nc"))
        # consumed twice (totals + cumulative ranks): pin the V-row
        # table so the fact table is scanned once
        .localCheckpoint(eager=False)
    )
    dec = "decimal(38,0)"
    totals = counts.agg(
        F.sum("nb").cast(dec).alias("tb"),
        F.sum("nc").cast(dec).alias("tc"),
    )
    cum = (
        _ordered_cumsum(counts, "v", ["_t"])
        .crossJoin(F.broadcast(totals))
        .select(
            "v",
            "nb",
            "nc",
            (F.col("_cum__t") - F.col("_t")).cast(dec).alias("prev"),
            "tb",
            "tc",
        )
    )
    two_r = F.sum(
        F.col("nb").cast(dec)
        * (F.lit(2).cast(dec) * F.col("prev") + F.col("nb") + F.col("nc")
           + F.lit(1))
    )
    agg = cum.groupBy("tb", "tc").agg(two_r.alias("two_r"))
    two_u = F.col("two_r") - F.col("tb") * (F.col("tb") + F.lit(1))
    return agg.select(
        F.col("tb").cast("long").alias("n_base"),
        F.col("tc").cast("long").alias("n_cur"),
        two_u.cast("long").alias("u2_base"),
        F.round(
            two_u.cast("double")
            / (F.lit(2.0) * (F.col("tb") * F.col("tc")).cast("double")),
            6,
        ).alias("auc"),
    )


def chi_square_drift(
    df: DataFrame,
    value_col: str,
    in_base,
    in_cur,
    breaks: list,
) -> DataFrame:
    """Two-sample chi-square homogeneity gate over FIXED value bands —
    the classical-significance companion to :func:`psi_drift` (PSI is
    an effect-size heuristic with conventional cutoffs; chi² is the
    statistic a release gate can attach a p-value threshold to):
    ``chi² = Σ_cells (O − E)² / E`` over the B×2 (band × cohort)
    contingency table with ``E = row_total · col_total / N``;
    ``dof = (B_used − 1) · (C_used − 1)`` where ``B_used`` counts
    bands holding at least one observation and ``C_used`` the
    non-empty cohorts (the standard empty-row/column reduction —
    cells with ``E = 0`` contribute nothing).

    Determinism: every O and total is an exact integer; each cell's E
    and term evaluate in double through the SAME expression shape on
    both engines, and the statistic rounds to 6 dp.

    Shape (the :func:`psi_drift` discipline): ONE fact scan with
    map-side partials onto the band table (empty bands dropped —
    they carry no cells), totals as a 1-row broadcast crossJoin;
    everything after is B-row work with B a literal constant.

    Output (one row): ``n_base``, ``n_cur``, ``n_bands_used``,
    ``dof``, ``chi2`` (6 dp).
    """
    band = band_index_expr(value_col, breaks).cast("int")
    counts = (
        df.select(
            band.alias("band"),
            in_base.cast("long").alias("_b"),
            in_cur.cast("long").alias("_c"),
        )
        .groupBy("band")
        .agg(F.sum("_b").alias("nb"), F.sum("_c").alias("nc"))
        .filter((F.col("nb") + F.col("nc")) > 0)
        .localCheckpoint(eager=False)
    )
    tot = counts.agg(
        F.sum("nb").alias("tb"),
        F.sum("nc").alias("tc"),
        F.count(F.lit(1)).alias("bu"),
    )
    n = F.col("tb") + F.col("tc")
    row = F.col("nb") + F.col("nc")
    eb = row.cast("double") * F.col("tb") / n
    ec = row.cast("double") * F.col("tc") / n

    def term(o, e):
        return F.when(
            e > 0, (o.cast("double") - e) * (o.cast("double") - e) / e
        ).otherwise(F.lit(0.0))

    cells = counts.crossJoin(F.broadcast(tot)).select(
        "tb",
        "tc",
        "bu",
        (term(F.col("nb"), eb) + term(F.col("nc"), ec)).alias("_t"),
    )
    c_used = (
        F.when(F.col("tb") > 0, F.lit(1)).otherwise(F.lit(0))
        + F.when(F.col("tc") > 0, F.lit(1)).otherwise(F.lit(0))
    )
    return (
        cells.groupBy("tb", "tc", "bu")
        .agg(F.round(F.sum("_t"), 6).alias("chi2"))
        .select(
            F.col("tb").alias("n_base"),
            F.col("tc").alias("n_cur"),
            F.col("bu").cast("long").alias("n_bands_used"),
            (
                (F.col("bu").cast("long") - 1)
                * (c_used.cast("long") - 1)
            ).alias("dof"),
            "chi2",
        )
    )


def wilcoxon_signed_rank(df: DataFrame, diff_col) -> DataFrame:
    """Exact Wilcoxon signed-rank test — the PAIRED companion to
    :func:`mann_whitney_u` (same experiment family: MW compares two
    independent cohorts, Wilcoxon compares paired before/after values
    of the SAME units, e.g. per-user metrics across a release): zero
    diffs drop (the standard reduction), |d| ranks use integer
    tie-midranks, and everything deciding the statistic is exact —
    with per-distinct-|d| counts ``(np, nt)`` and the cumulative
    count ``prev`` of strictly-smaller |d|, ``2·midrank = 2·prev +
    nt + 1`` so ``2·W⁺ = Σ np·(2·prev + nt + 1)`` is an exact
    DECIMAL(38,0) integer. The readout adds the rank-biserial effect
    size ``r = (W⁺ − W⁻)/T = (2·(2W⁺) − n(n+1))/(n(n+1))`` (6 dp).

    Shape mirrors :func:`mann_whitney_u`: one scan with map-side
    combine onto the distinct-|d| table, the cumulative ``prev`` via
    the two-phase :func:`_ordered_cumsum` (never an unpartitioned
    window), totals as a broadcast 1-row aggregate.

    Output (one row; empty input → zero rows): ``n_pairs``,
    ``w2_plus`` (= 2·W⁺, exact), ``rank_biserial`` (6 dp).
    """
    dcol = F.col(diff_col) if isinstance(diff_col, str) else diff_col
    nz = df.select(dcol.alias("d")).filter(
        F.col("d").isNotNull() & (F.col("d") != 0)
    )
    counts = (
        nz.select(
            F.abs(F.col("d")).alias("ad"),
            (F.col("d") > 0).cast("long").alias("_p"),
        )
        .groupBy("ad")
        .agg(F.sum("_p").alias("np"), F.count(F.lit(1)).alias("nt"))
        .localCheckpoint(eager=False)
    )
    dec = "decimal(38,0)"
    totals = counts.agg(F.sum("nt").cast(dec).alias("n"))
    cum = (
        _ordered_cumsum(counts, "ad", ["nt"])
        .crossJoin(F.broadcast(totals))
        .select(
            "np",
            "nt",
            (F.col("_cum_nt") - F.col("nt")).cast(dec).alias("prev"),
            "n",
        )
    )
    w2 = F.sum(
        F.col("np").cast(dec)
        * (F.lit(2).cast(dec) * F.col("prev") + F.col("nt") + F.lit(1))
    )
    agg = cum.groupBy("n").agg(w2.alias("w2_plus"))
    nn1 = F.col("n") * (F.col("n") + F.lit(1))
    return agg.select(
        F.col("n").cast("long").alias("n_pairs"),
        F.col("w2_plus").cast("long").alias("w2_plus"),
        F.round(
            (F.lit(2).cast(dec) * F.col("w2_plus") - nn1).cast("double")
            / nn1.cast("double"),
            6,
        ).alias("rank_biserial"),
    )


def cvm_drift(
    df: DataFrame,
    value_col: str,
    in_base,
    in_cur,
) -> DataFrame:
    """Exact two-sample Cramér–von Mises drift gate — completes the
    distribution-drift family (PSI = banded effect size, chi² =
    banded significance, KS = sup ECDF gap, Mann-Whitney = rank
    location, this = the INTEGRATED squared ECDF gap, sensitive to
    many-small-differences drift a single-point sup can miss):

        T = (tb·tc / N²) · Σ_k n_k · (F̂b(x_k) − F̂c(x_k))²

    over the pooled distinct values ``x_k`` with pooled
    multiplicities ``n_k`` — the tie-adjusted pooled-empirical form.
    With integer cumulative counts, ``F̂b − F̂c`` at ``x_k`` equals
    ``(cb·tc − cc·tb)/(tb·tc)``, so the whole numerator
    ``Σ n_k·(cb·tc − cc·tb)²`` is ONE exact DECIMAL(38,0) integer
    (bound: N ≲ 10⁷ keeps it inside 38 digits — pre-quantize beyond
    that, the same advice as :func:`ks_drift` for continuous-unique
    columns) and ``T = num / (N²·tb·tc)`` is a single 6-dp double
    division with the identical expression shape on both engines.

    Shape identical to :func:`ks_drift`: one fact scan with map-side
    combine onto the V-row distinct-value table, cumulative counts
    via the two-phase :func:`_ordered_cumsum` (never an unpartitioned
    window), totals as a broadcast 1-row aggregate.

    Output (one row): ``n_base``, ``n_cur``, ``cvm_stat`` (6 dp).
    """
    counts = (
        df.select(
            F.col(value_col).alias("v"),
            in_base.cast("long").alias("_b"),
            in_cur.cast("long").alias("_c"),
        )
        .filter(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.sum("_b").alias("nb"), F.sum("_c").alias("nc"))
        # consumed twice (totals + cumulative ranks): pin the V-row
        # table so the fact table is scanned once
        .localCheckpoint(eager=False)
    )
    dec = "decimal(38,0)"
    totals = counts.agg(
        F.sum("nb").cast(dec).alias("tb"),
        F.sum("nc").cast(dec).alias("tc"),
    )
    cum = (
        _ordered_cumsum(counts, "v", ["nb", "nc"])
        .crossJoin(F.broadcast(totals))
        .select(
            (F.col("nb") + F.col("nc")).cast(dec).alias("nk"),
            F.col("_cum_nb").cast(dec).alias("cb"),
            F.col("_cum_nc").cast(dec).alias("cc"),
            "tb",
            "tc",
        )
    )
    d = F.col("cb") * F.col("tc") - F.col("cc") * F.col("tb")
    agg = cum.groupBy("tb", "tc").agg(
        F.sum(F.col("nk") * d * d).alias("num")
    )
    n = F.col("tb").cast("double") + F.col("tc").cast("double")
    return agg.select(
        F.col("tb").cast("long").alias("n_base"),
        F.col("tc").cast("long").alias("n_cur"),
        F.round(
            F.col("num").cast("double")
            / (n * n * F.col("tb").cast("double")
               * F.col("tc").cast("double")),
            6,
        ).alias("cvm_stat"),
    )


def fellegi_sunter_em(
    df: DataFrame,
    id_col: str,
    block_col,
    comparisons: list,
    iters: int = 3,
    p0: float = 0.01,
    m0: float = 0.9,
    u0: float = 0.1,
    max_block_rows: int = 100_000,
    over_budget: str = "raise",
) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage (1969) with EM
    parameter estimation (Winkler 1988) — the model behind Splink and
    every production entity-resolution stack, next to the
    deterministic EA6/EA7 linkage ops: candidate pairs within blocks
    are reduced to AGREEMENT PATTERNS ``γ ∈ {0,1}^K`` over the field
    comparisons, and EM learns per-field match/unmatch agreement
    probabilities ``m_k = P(γ_k=1 | match)``, ``u_k = P(γ_k=1 |
    unmatch)``, and the match prior ``p`` — no labels required.

    E-step per pattern: ``w = p·Π m-terms / (p·Π m-terms +
    (1−p)·Π u-terms)``; M-step: pattern-count-weighted re-estimates.
    Everything after the pair aggregation runs on the ≤ 2^K-row
    PATTERN table (patterns are counted once — the classical sufficient
    statistic — so EM cost is independent of pair count), with every
    parameter re-rounded to 9 dp per iteration (the PSI band-table
    float discipline: identical inputs → identical doubles → identical
    rounded params cross-engine).

    Shape: one blocked self-join (the EA6 candidate shape), one
    pattern aggregation with map-side partials; the EM iterations are
    1-row × 2^K-row crossJoin work.

    ``block_col`` may be a LIST of blocking expressions (Splink's
    multi-rule union): each rule contributes its (budgeted)
    within-block pairs and the union is deduped on the pair key —
    several NARROW rules recover the recall a single broad rule buys
    with a hot block, at bounded per-rule cost.

    SKEW BOUND (``max_block_rows``): a block bigger than the budget
    would contribute O(n²) candidate pairs from a SINGLE join key —
    the hot-block explosion the blocked self-join is otherwise naked
    against (blocking on a 25-value key makes one block O((n/25)²)
    at 100×). What happens to an oversized block is ``over_budget``:

    - ``"raise"`` (default — the fail-loudly discipline): the job
      errors at the candidate stage naming the hot block and its
      size, so a silent approximation can never be mistaken for the
      exact result. Run :func:`linkage_block_audit` first to forecast
      the cut, then opt in below.
    - ``"subsample"`` (explicit opt-in): oversized blocks are SALTED
      into ``ceil(n / max_block_rows)`` sub-blocks by a deterministic
      id hash and pairs are generated only within a sub-block — a
      uniform ~1/s subsample of that block's pairs (the Splink-style
      cap; pattern FREQUENCIES are preserved in expectation, which is
      all EM consumes), so no single join key ever exceeds the budget.

    Either way blocks within budget get ``s = 1`` and are EXACT — the
    salt join key is constant 0 and the result is bit-identical to
    the unsalted plan, so ``"raise"`` mode never changes a result, it
    only refuses to approximate one.

    Degeneracy guard: every EM parameter is clamped into
    ``[1e-6, 1 - 1e-6]`` and every pattern posterior into
    ``[1e-9, 1 - 1e-9]`` after its 9-dp rounding (Splink's clamping
    discipline), so a constant comparison bit or degenerate fixture
    can never drive an M-step denominator to 0 (which non-ANSI Spark
    would silently turn into NULL params and NULL match weights).
    On non-degenerate data the clamps are numeric no-ops.

    Output per observed pattern: the K ``g<i>`` bits, ``n_pairs``,
    and ``match_w`` (posterior match probability, 6 dp) — the
    thresholdable linkage score Splink calls match weight.
    """
    k = len(comparisons)
    if not 1 <= k <= 8:
        raise ValueError(f"1..8 comparisons supported; got {k}")
    if max_block_rows < 2:
        raise ValueError(f"max_block_rows must be >= 2; got {max_block_rows}")
    if over_budget not in ("raise", "subsample"):
        raise ValueError(
            f"over_budget must be 'raise' or 'subsample'; got {over_budget!r}"
        )
    # Splink-style MULTI-RULE blocking: a list of blocking expressions
    # unions each rule's (budgeted) within-block pairs and dedups on
    # the pair key — several NARROW rules recover the recall a single
    # broad rule buys with a hot block, at a bounded per-rule cost.
    rules = (
        list(block_col)
        if isinstance(block_col, (list, tuple))
        else [block_col]
    )
    if not rules:
        raise ValueError("at least one blocking rule required")
    pairs = None
    for rule in rules:
        p = _salted_block_pairs(
            df, id_col, rule, comparisons, max_block_rows, over_budget
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    if len(rules) > 1:
        # comparison fields are functions of the ids, so the g-bits
        # are identical across a pair's duplicate rows and dedup on
        # the pair key alone is exact — and because
        # _salted_block_pairs already reduced each pair to its K
        # agreement bits, this exchange moves (id, id, K ints) per
        # row instead of both sides' raw comparison payloads
        # (guide §2.3: project before the exchange; profiled 280 MB
        # of pair-dedup shuffle on the customer multirule linkage)
        pairs = pairs.dropDuplicates(["_ida", "_idb"])
    pat = (
        pairs.select(*[f"g{i + 1}" for i in range(k)])
        .groupBy(*[f"g{i + 1}" for i in range(k)])
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .localCheckpoint(eager=False)
    )
    spark = df.sparkSession
    params = local_df(
        spark, [tuple([p0] + [m0] * k + [u0] * k)],
        ", ".join(
            ["p DOUBLE"]
            + [f"m{i + 1} DOUBLE" for i in range(k)]
            + [f"u{i + 1} DOUBLE" for i in range(k)]
        ),
    )

    def lik(prefix: str):
        acc = F.col("p") if prefix == "m" else (1.0 - F.col("p"))
        for i in range(k):
            g = F.col(f"g{i + 1}")
            q = F.col(f"{prefix}{i + 1}")
            acc = acc * F.when(g == 1, q).otherwise(1.0 - q)
        return acc

    # Splink-style clamps: params away from {0,1} so no M-step
    # denominator can vanish into a silent non-ANSI NULL; no-ops on
    # non-degenerate data. Identical literals on the DuckDB side.
    def clamp(col, eps: float):
        return F.least(F.greatest(col, F.lit(eps)), F.lit(1.0 - eps))

    for _ in range(iters):
        e = pat.crossJoin(F.broadcast(params)).withColumn(
            "_w",
            clamp(F.round(lik("m") / (lik("m") + lik("u")), 9), 1e-9),
        )
        wn = F.col("_w") * F.col("n_pairs")
        vn = (1.0 - F.col("_w")) * F.col("n_pairs")
        params = e.agg(
            clamp(
                F.round(F.sum(wn) / F.sum("n_pairs"), 9), 1e-6
            ).alias("p"),
            *[
                clamp(
                    F.round(F.sum(wn * F.col(f"g{i + 1}")) / F.sum(wn), 9),
                    1e-6,
                ).alias(f"m{i + 1}")
                for i in range(k)
            ],
            *[
                clamp(
                    F.round(F.sum(vn * F.col(f"g{i + 1}")) / F.sum(vn), 9),
                    1e-6,
                ).alias(f"u{i + 1}")
                for i in range(k)
            ],
        )
    return (
        pat.crossJoin(F.broadcast(params))
        .select(
            *[f"g{i + 1}" for i in range(k)],
            "n_pairs",
            F.round(lik("m") / (lik("m") + lik("u")), 6).alias("match_w"),
        )
    )


def _salted_block_pairs(
    df: DataFrame,
    id_col: str,
    block_col,
    comparisons: list,
    max_block_rows: int,
    over_budget: str = "raise",
) -> DataFrame:
    """One blocking rule's candidate pairs with the hot-block salt
    (see :func:`fellegi_sunter_em`): per-block sub-block counts via
    one map-side-combined agg to a ≤#blocks-row table, broadcast back
    onto both join sides; a block under budget gets ``_ns = 1`` (salt
    constant → exact semantics). ``over_budget="raise"`` folds a
    runtime ``assert_true`` into ``_ns`` so an oversized block fails
    the job loudly (naming block and size) instead of silently
    subsampling — the guard is a no-op term (NULL → 0) while every
    block fits the budget, so exact results stay bit-identical.

    Output: ``(_ida, _idb, g1..gK)`` — each pair already reduced to
    its agreement bits, so everything downstream (multi-rule dedup,
    the pattern aggregation) exchanges K ints per pair instead of
    both sides' raw comparison values.

    Width: the self-join's shuffle is tiny in BYTES (one row per
    input record per side) but its fan-out output is the operator's
    dominant compute and shuffle-write, and AQE coalesces by input
    bytes — profiled at sf0.1 the join + pair stage ran on 2
    post-coalesce tasks emitting 280 MB with 30 cores idle. The
    AQE-exempt numbered repartition on the join key gives the
    fan-out stage the plan's shuffle width (the
    ``doc_prefix_jaccard_pairs`` fix applied here)."""
    blk = block_col if not isinstance(block_col, str) else F.col(block_col)
    ns = F.greatest(
        F.lit(1),
        F.ceil(F.col("_bn") / F.lit(max_block_rows)),
    ).cast("int")
    if over_budget == "raise":
        guard = F.assert_true(
            F.col("_bn") <= F.lit(int(max_block_rows)),
            F.concat(
                F.lit("fellegi_sunter_em: block "),
                F.col("_blk").cast("string"),
                F.lit(" has "),
                F.col("_bn").cast("string"),
                F.lit(
                    f" rows > max_block_rows={max_block_rows}; run "
                    "linkage_block_audit to forecast the cut, then "
                    "opt in with over_budget='subsample' or raise "
                    "the budget"
                ),
            ),
        )
        ns = ns + F.coalesce(guard.cast("int"), F.lit(0))
    sizes = (
        df.select(blk.alias("_blk"))
        .groupBy("_blk")
        .agg(F.count(F.lit(1)).alias("_bn"))
        .select("_blk", ns.alias("_ns"))
    )
    from isilon_hadoop_tools_spark.session import shuffle_partition_count

    npart = max(2, shuffle_partition_count(df.sparkSession))
    left = df.select(
        F.col(id_col).alias("_ida"),
        blk.alias("_blk"),
        *[c.alias(f"_a{i}") for i, (_, c) in enumerate(comparisons)],
    ).join(F.broadcast(sizes), "_blk")
    right = df.select(
        F.col(id_col).alias("_idb"),
        blk.alias("_blk"),
        *[c.alias(f"_b{i}") for i, (_, c) in enumerate(comparisons)],
    ).join(F.broadcast(sizes), "_blk")
    sub = lambda idc: F.pmod(F.xxhash64(F.col(idc)), F.col("_ns")).cast("int")
    k = len(comparisons)
    return (
        left.withColumn("_sub", sub("_ida"))
        .drop("_ns")
        .repartition(npart, "_blk", "_sub")
        .join(
            right.withColumn("_sub", sub("_idb"))
            .drop("_ns")
            .repartition(npart, "_blk", "_sub"),
            ["_blk", "_sub"],
        )
        .filter(F.col("_ida") < F.col("_idb"))
        .select(
            "_ida",
            "_idb",
            *[
                (F.col(f"_a{i}") == F.col(f"_b{i}"))
                .cast("int")
                .alias(f"g{i + 1}")
                for i in range(k)
            ],
        )
    )


def linkage_block_audit(
    df: DataFrame,
    block_col,
    max_block_rows: int = 100_000,
) -> DataFrame:
    """Per-block pair-count forecast for blocked linkage (EA6 /
    EA32 / entity resolution) — the audit a Splink-class user runs
    BEFORE a linkage job on real data, because candidate generation
    is quadratic PER BLOCK and one hot block can dominate the whole
    join: for each blocking-key value reports the row count, the
    exact within-block pair count C(n,2), the sub-block split the
    ``max_block_rows`` budget would impose (``n_sub``), the pair
    budget after an even split into ``n_sub`` parts (``r`` parts of
    size ``q+1`` and ``n_sub − r`` of ``q`` where ``q = n div
    n_sub``, ``r = n mod n_sub`` — the analytic floor of what the
    salted subsample retains), and each block's share of total pairs.

    Cost: ONE map-side-combined aggregation on the block key — the
    output is #blocks rows, never pairs. All arithmetic is exact
    integer math below 2^63 pairs, so it hash-matches any engine.
    """
    if max_block_rows < 2:
        raise ValueError(f"max_block_rows must be >= 2; got {max_block_rows}")
    blk = block_col if not isinstance(block_col, str) else F.col(block_col)
    b = (
        df.select(blk.alias("block"))
        .groupBy("block")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    # all INTEGER arithmetic (div / halved-even-factor products):
    # double division would lose exactness above 2^53 pairs, and the
    # op's whole purpose is forecasting hot blocks where n·(n−1)/2
    # easily exceeds that. C(n,2) is computed as (n div 2)·(n−1) or
    # n·((n−1) div 2) — halving the even factor FIRST keeps the
    # intermediate product equal to the result, so everything below
    # 2^63 pairs is exact.
    def _c2(m):
        return F.when(
            m % F.lit(2) == 0, (m.cast("long") / F.lit(2)).cast("long") * (m - F.lit(1))
        ).otherwise(
            m * ((m - F.lit(1)).cast("long") / F.lit(2)).cast("long")
        ).cast("long")

    n = F.col("n_rows")
    mbr = F.lit(int(max_block_rows)).cast("long")
    s = F.greatest(
        F.lit(1).cast("long"),
        ((n + mbr - F.lit(1)) - F.pmod(n + mbr - F.lit(1), mbr)) / mbr,
    ).cast("long")
    q = ((n - F.pmod(n, s)) / s).cast("long")
    r = (n - q * s).cast("long")
    pairs_exact = _c2(n)
    pairs_budget = (r * _c2(q + F.lit(1)) + (s - r) * _c2(q)).cast("long")
    b = b.select(
        "block",
        "n_rows",
        pairs_exact.alias("pairs_exact"),
        s.alias("n_sub"),
        pairs_budget.alias("pairs_budget"),
    )
    total = b.agg(
        F.sum("pairs_exact").cast("double").alias("_tot")
    )
    return b.crossJoin(F.broadcast(total)).select(
        "block",
        "n_rows",
        "pairs_exact",
        "n_sub",
        "pairs_budget",
        F.round(F.col("pairs_exact") / F.col("_tot"), 6).alias(
            "pair_share"
        ),
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    observed_col: str,
) -> DataFrame:
    """Kaplan–Meier survival estimator (1958) with right censoring —
    the time-to-event READOOUT the drift/attribution family lacks
    (churn, time-to-conversion, time-to-failure): one row per subject
    with an integer ``duration`` and an ``observed`` flag (False =
    censored at that duration), out comes the survival curve at every
    observed event time::

        S(t_i) = Π_{j ≤ i} (1 − d_j / n_j)

    with ``d_j`` events at t_j and ``n_j`` the at-risk count
    (subjects with duration ≥ t_j — censored rows leave the risk set
    after their time, the estimator's whole point).

    Shape: ONE duration-keyed aggregate with map-side partials onto
    the V-row distinct-duration table; at-risk counts come from the
    two-phase :func:`_ordered_cumsum` (never an unpartitioned
    window), totals broadcast. The cumulative PRODUCT is computed as
    exp of a running sum of per-step ``round(ln(1 − d/n)·10⁹)``
    scaled integers — the log-sum is order-independent and the 9-dp
    quantization makes every partial engine-replayable (the PSI float
    discipline applied to a product); a step that empties the risk
    set contributes the capped term ln = −50 (exp ≈ 2·10⁻²², i.e.
    survival 0 at 6 dp, without a −inf in the stream).

    Output per observed event time: ``duration``, ``n_risk``,
    ``n_events``, ``n_censored`` (censored AT that time),
    ``survival`` (6 dp), and the Nelson–Aalen cumulative hazard
    ``cum_hazard`` = Σ d_j/n_j (6 dp; same 9-dp-quantized running-sum
    discipline — the hazard-scale twin the survival curve's
    derivative-readers want).
    """
    base = df.select(
        F.col(duration_col).cast("long").alias("t"),
        F.col(observed_col).cast("boolean").alias("_obs"),
    ).filter(F.col("t").isNotNull())
    counts = (
        base.groupBy("t")
        .agg(
            F.count(F.lit(1)).alias("n_all"),
            F.sum(F.col("_obs").cast("long")).alias("d"),
        )
        .localCheckpoint(eager=False)
    )
    totals = counts.agg(F.sum("n_all").alias("_N"))
    cum = (
        _ordered_cumsum(counts, "t", ["n_all"])
        .crossJoin(F.broadcast(totals))
        .select(
            "t",
            "d",
            (F.col("n_all") - F.col("d")).alias("n_censored"),
            (
                F.col("_N") - (F.col("_cum_n_all") - F.col("n_all"))
            ).alias("n_risk"),
        )
    )
    ev = cum.filter(F.col("d") > 0)
    term = F.when(
        F.col("d") >= F.col("n_risk"), F.lit(-50_000_000_000)
    ).otherwise(
        F.round(
            F.log(
                F.lit(1.0)
                - F.col("d").cast("double") / F.col("n_risk").cast("double")
            )
            * 1e9
        ).cast("long")
    )
    haz = F.round(
        F.col("d").cast("double") / F.col("n_risk").cast("double") * 1e9
    ).cast("long")
    ranked = _ordered_cumsum(
        ev.withColumn("_term", term).withColumn("_haz", haz),
        "t",
        ["_term", "_haz"],
    )
    return ranked.select(
        F.col("t").alias("duration"),
        "n_risk",
        F.col("d").alias("n_events"),
        "n_censored",
        F.round(F.exp(F.col("_cum__term") / 1e9), 6).alias("survival"),
        F.round(F.col("_cum__haz") / 1e9, 6).alias("cum_hazard"),
    )


def logrank_test(
    df: DataFrame,
    duration_col: str,
    observed_col: str,
    in_a,
) -> DataFrame:
    """Two-sample log-rank test (Mantel 1966) — the hypothesis test
    over :func:`kaplan_meier` curves (the time-to-event A/B readout:
    "did cohort A convert/churn on a different clock than B?", which
    a means test on durations gets wrong under censoring): at every
    pooled event time, group A's observed events ``d1`` are compared
    with the hypergeometric expectation ``d·n1/n`` under H0, and

        χ² = (Σd1 − ΣE)² / ΣV,   V = d·(n1/n)·(1 − n1/n)·(n−d)/(n−1)

    Shape: the :func:`kaplan_meier` template with a group axis — ONE
    duration-keyed map-side aggregate (pooled + group-A counts), the
    two-phase :func:`_ordered_cumsum` for both at-risk series, totals
    broadcast; E and V accumulate as 9-dp-quantized scaled-integer
    sums (order-independent, engine-replayable). Times where the
    pooled risk set is a single subject contribute V = 0 and are
    skipped, per the estimator.

    Output (one row): ``n_a``, ``n_b`` (subjects), ``observed_a``,
    ``expected_a`` (6 dp), ``variance`` (6 dp), ``chi_sq`` (6 dp).
    """
    base = df.select(
        F.col(duration_col).cast("long").alias("t"),
        F.col(observed_col).cast("boolean").alias("_obs"),
        in_a.cast("boolean").alias("_a"),
    ).filter(F.col("t").isNotNull())
    counts = (
        base.groupBy("t")
        .agg(
            F.count(F.lit(1)).alias("n_all"),
            F.sum(F.col("_a").cast("long")).alias("n1_all"),
            F.sum(F.col("_obs").cast("long")).alias("d"),
            F.sum((F.col("_obs") & F.col("_a")).cast("long")).alias("d1"),
        )
        .localCheckpoint(eager=False)
    )
    totals = counts.agg(
        F.sum("n_all").alias("_N"), F.sum("n1_all").alias("_N1")
    )
    cum = (
        _ordered_cumsum(counts, "t", ["n_all", "n1_all"])
        .crossJoin(F.broadcast(totals))
        .select(
            "t",
            "d",
            "d1",
            (F.col("_N") - (F.col("_cum_n_all") - F.col("n_all"))).alias(
                "n"
            ),
            (
                F.col("_N1") - (F.col("_cum_n1_all") - F.col("n1_all"))
            ).alias("n1"),
            "_N",
            "_N1",
        )
    )
    ev = cum.filter((F.col("d") > 0) & (F.col("n") > 1))
    nd, n1d, dd = (
        F.col("n").cast("double"),
        F.col("n1").cast("double"),
        F.col("d").cast("double"),
    )
    e_term = F.round(dd * n1d / nd * 1e9).cast("long")
    v_term = F.round(
        dd
        * (n1d / nd)
        * (1.0 - n1d / nd)
        * (nd - dd)
        / (nd - 1.0)
        * 1e9
    ).cast("long")
    agg = ev.groupBy("_N", "_N1").agg(
        F.sum("d1").alias("o1"),
        F.sum(e_term).alias("_e"),
        F.sum(v_term).alias("_v"),
    )
    e = F.col("_e") / 1e9
    v = F.col("_v") / 1e9
    return agg.select(
        F.col("_N1").alias("n_a"),
        (F.col("_N") - F.col("_N1")).alias("n_b"),
        F.col("o1").alias("observed_a"),
        F.round(e, 6).alias("expected_a"),
        F.round(v, 6).alias("variance"),
        F.round(
            (F.col("o1").cast("double") - e)
            * (F.col("o1").cast("double") - e)
            / v,
            6,
        ).alias("chi_sq"),
    )


def incremental_join_delta(
    a_old: DataFrame,
    a_delta: DataFrame,
    b_old: DataFrame,
    b_delta: DataFrame,
    on: list[str] | str,
) -> DataFrame:
    """Incremental JOIN-view maintenance under insert-only deltas
    (EA34 -- the delta-join algebra every IVM engine implements, and
    the only way a 100 TB materialized join survives a daily feed):
    for the view ``V = A JOIN B``, the increment is exactly

        dV = (dA JOIN B_old)  UNION ALL  (A_old JOIN dB)
             UNION ALL  (dA JOIN dB)

    so the maintained view is ``V_old UNION ALL dV`` and the big
    A_old JOIN B_old is NEVER re-executed -- every join here has a
    delta on at least one side, so the work scales with the
    increment, not the table. Correctness is the distributivity of
    join over union: (A_old + dA) JOIN (B_old + dB) expands to four
    terms, of which A_old JOIN B_old is already materialized.

    Shape: three equi-joins on the view key; with daily deltas the
    delta sides broadcast and only A_old/B_old's matching partitions
    shuffle (at scale, bucket both bases on the join key and all
    three joins are exchange-free on the base side).
    """
    key = [on] if isinstance(on, str) else list(on)
    return (
        a_delta.join(b_old, key)
        .unionByName(a_old.join(b_delta, key))
        .unionByName(a_delta.join(b_delta, key))
    )


def cuped_readout(
    df: DataFrame,
    unit_col: str,
    metric_col: str,
    covariate_col: str,
    arm_col,
) -> DataFrame:
    """CUPED variance-reduced experiment readout (EA35; Deng,
    Xu, Kohavi & Walker, WSDM 2013 -- the pre-period adjustment every
    mature A/B platform applies before reading a lift): with Y the
    experiment metric and X a pre-experiment covariate unaffected by
    treatment,

        theta = cov(X, Y) / var(X)
        Y_adj = Y - theta * (X - mean(X))

    which keeps every arm's expected mean (mean(Y_adj) == mean(Y) in
    expectation) while removing the X-explained variance -- the
    readout reports per-arm means before/after plus the realized
    variance-reduction ratio 1 - var(Y_adj)/var(Y).

    theta and mean(X) are estimated POOLED over all units (the
    standard CUPED estimator: using a treatment-blind adjustment
    keeps the arms comparable), rounded to 9 dp before the row-level
    adjustment so both engines replay identical doubles (the PSI
    float discipline); readout stats round to 6 dp.

    Shape: one unit-keyed aggregate is assumed already done by the
    caller (``df`` is one row per unit); here: ONE no-key aggregate
    for (theta, mean_x) broadcast as a 1-row side, then ONE arm-keyed
    aggregate -- both map-side combined, nothing scales past the
    unit count.
    """
    arm = arm_col if not isinstance(arm_col, str) else F.col(arm_col)
    u = df.select(
        F.col(unit_col).alias("_u"),
        F.col(metric_col).cast("double").alias("_y"),
        F.col(covariate_col).cast("double").alias("_x"),
        arm.alias("arm"),
    # consumed by the pooled (theta, mean_x) aggregate AND the
    # adjusted readout: pin the unit-grain table so the upstream
    # per-unit aggregation runs once
    ).localCheckpoint(eager=False)
    g = u.agg(
        F.round(
            F.covar_samp("_x", "_y") / F.var_samp("_x"), 9
        ).alias("_theta"),
        F.round(F.avg("_x"), 9).alias("_mx"),
    )
    adj = u.crossJoin(F.broadcast(g)).withColumn(
        "_ya",
        F.col("_y") - F.col("_theta") * (F.col("_x") - F.col("_mx")),
    )
    return (
        adj.groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n_units"),
            F.round(F.avg("_y"), 6).alias("mean_y"),
            F.round(F.avg("_ya"), 6).alias("mean_y_adj"),
            F.round(
                F.lit(1.0) - F.var_samp("_ya") / F.var_samp("_y"), 6
            ).alias("var_reduction"),
        )
        .orderBy("arm")
    )


def sprt_decision(
    df: DataFrame,
    ts_col: str,
    id_col: str,
    success_col,
    p0: float,
    p1: float,
    alpha: float = 0.05,
    beta: float = 0.05,
) -> DataFrame:
    """Wald's Sequential Probability Ratio Test over an ordered
    Bernoulli stream (EA36; Wald 1945 -- the always-valid early-stop
    readout batch A/B tests lack: instead of fixing n, stop the
    moment the evidence crosses a bound). Observations in
    (ts, id) order contribute log-likelihood-ratio increments

        x=1:  ln(p1/p0)        x=0:  ln((1-p1)/(1-p0))

    and the FIRST time the running sum exits [ln(beta/(1-alpha)),
    ln((1-beta)/alpha)] decides: upper crossing accepts H1 (p = p1),
    lower accepts H0 (p = p0); no crossing reports 'continue' with
    the final statistic.

    Determinism: the two increments and both bounds are computed
    ONCE driver-side and quantized to 9-dp scaled integers, so the
    running sum is an exact integer any engine replays bit-for-bit
    (the L70/EA33 scaled-log discipline); the cumulative sum is the
    two-phase :func:`_ordered_cumsum` over the (ts, id) total order
    -- never a single-partition window; the first crossing is a
    1-row min-aggregate over the (rare) crossing rows.

    Output (1 row): ``decision`` ('accept_h1' / 'accept_h0' /
    'continue'), ``n_obs`` (observations consumed at the decision,
    or total), ``llr`` (the statistic there, 6 dp).
    """
    if not (0.0 < p0 < 1.0 and 0.0 < p1 < 1.0 and p0 != p1):
        raise ValueError(f"need 0 < p0 != p1 < 1; got {p0}, {p1}")
    import math

    s1 = int(round(math.log(p1 / p0) * 1_000_000_000))
    s0 = int(round(math.log((1.0 - p1) / (1.0 - p0)) * 1_000_000_000))
    up = int(round(math.log((1.0 - beta) / alpha) * 1_000_000_000))
    lo = int(round(math.log(beta / (1.0 - alpha)) * 1_000_000_000))
    key = F.format_string(
        "%019d|%019d",
        F.unix_micros(F.col(ts_col).cast("timestamp")),
        F.col(id_col).cast("long"),
    )
    obs = df.select(
        key.alias("_k"),
        F.when(success_col, F.lit(s1)).otherwise(F.lit(s0)).alias("_inc"),
        F.lit(1).cast("long").alias("_one"),
    )
    cum = _ordered_cumsum(obs, "_k", ["_inc", "_one"])
    # ONE aggregate finds the first crossing AND the stream totals
    # (min_by/max_by skip NULL ordering keys, so the crossing branch
    # simply contributes nothing on a never-crossing stream) — the
    # cumsum is consumed once, no second pass, no checkpoint needed
    crossing_n = F.when(
        (F.col("_cum__inc") >= up) | (F.col("_cum__inc") <= lo),
        F.col("_cum__one"),
    )
    agg = cum.agg(
        F.min_by(
            F.struct(
                F.col("_cum__one").alias("n"),
                F.col("_cum__inc").alias("s"),
            ),
            crossing_n,
        ).alias("_f"),
        F.max("_cum__one").alias("n_total"),
        F.max_by(F.col("_cum__inc"), F.col("_cum__one")).alias("s_total"),
    )
    return (
        agg.select(
            F.col("_f.n").alias("n"),
            F.col("_f.s").alias("s"),
            "n_total",
            "s_total",
        )
        .select(
            F.when(F.col("n").isNotNull() & (F.col("s") >= up),
                   F.lit("accept_h1"))
            .when(F.col("n").isNotNull(), F.lit("accept_h0"))
            .otherwise(F.lit("continue"))
            .alias("decision"),
            F.coalesce(F.col("n"), F.col("n_total")).alias("n_obs"),
            F.round(
                F.coalesce(F.col("s"), F.col("s_total"))
                / F.lit(1_000_000_000.0),
                6,
            ).alias("llr"),
        )
    )


def dp_laplace_mean(
    df: DataFrame,
    key_cols: list,
    value_col: str,
    lo: float,
    hi: float,
    epsilon: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """Differentially-private bounded MEAN under the Laplace
    mechanism (EA31b -- the release every survey/metrics platform
    needs next to EA31's histogram): each contribution is CLAMPED
    into ``[lo, hi]`` first (without a bound the mean's sensitivity
    is unbounded and no finite noise is private), then the privacy
    budget splits ε/2 + ε/2 across the two sub-queries the mean is
    post-processed from:

        noisy_sum   = Σ clamp(x) + Laplace((hi−lo) / (ε/2))
        noisy_count = n          + Laplace(1 / (ε/2))
        released    = clamp(noisy_sum / max(noisy_count, 1), lo, hi)

    Same determinism caveat as :func:`dp_laplace_counts`, stated
    loudly: noise derives from a seeded hash of the group key (sum
    and count draw from DISTINCT seeds) so the oracle replays it
    bit-for-bit; a real release swaps in true randomness -- the
    sensitivity analysis, budget split, clamping, and post-processing
    are the production pipeline unchanged. NULL keys fail loudly
    (they would collide in the noise derivation); NULL values are
    excluded before clamping (a NULL is no contribution, not a
    ``lo`` contribution).

    Shape: ONE scan into a group-keyed (sum, count) with map-side
    partials; noise is column algebra on the group table. The true
    sum is rounded to 6 dp BEFORE noising so both engines replay
    identical doubles.
    """
    from isilon_hadoop_tools_spark.functions.hashing import stable_hash32

    if epsilon <= 0:
        raise ValueError(f"epsilon must be > 0; got {epsilon}")
    if not lo < hi:
        raise ValueError(f"need lo < hi; got {lo}, {hi}")
    b_sum = (hi - lo) / (epsilon / 2.0)
    b_cnt = 1.0 / (epsilon / 2.0)
    v = F.col(value_col).cast("double")
    clamped = F.least(F.greatest(v, F.lit(float(lo))), F.lit(float(hi)))
    groups = (
        df.filter(v.isNotNull())
        .groupBy(*[F.col(c) for c in key_cols])
        .agg(
            F.round(F.sum(clamped), 6).alias("sum_true"),
            F.count(F.lit(1)).alias("n_true"),
        )
    )
    guarded = [
        F.when(
            F.col(c).isNull(),
            F.raise_error(
                F.lit(
                    f"dp_laplace_mean: NULL in key column {c!r} — "
                    "null keys collide in the noise derivation; "
                    "filter or fill them first"
                )
            ).cast("string"),
        ).otherwise(F.col(c).cast("string"))
        for c in key_cols
    ]
    key_str = F.concat_ws("|", *guarded)

    def lap(u, b):
        return F.round(
            (F.lit(-b) * F.signum(u - 0.5))
            * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - 0.5)),
            6,
        )

    u_sum = (stable_hash32(key_str, seed) + 0.5) / F.lit(4294967296.0)
    u_cnt = (stable_hash32(key_str, seed + 1) + 0.5) / F.lit(4294967296.0)
    out = groups.withColumn(
        "noisy_sum", F.round(F.col("sum_true") + lap(u_sum, b_sum), 6)
    ).withColumn(
        "noisy_count", F.round(F.col("n_true") + lap(u_cnt, b_cnt), 6)
    )
    mean = F.col("noisy_sum") / F.greatest(F.col("noisy_count"), F.lit(1.0))
    return out.withColumn(
        "released_mean",
        F.least(
            F.greatest(F.round(mean, 6), F.lit(float(lo))),
            F.lit(float(hi)),
        ),
    )


def weekday_seasonality(
    df: DataFrame,
    group_col: str,
    ts_col: str,
) -> DataFrame:
    """Weekday-seasonality decomposition of DAILY VOLUME per group
    (EA37 -- the STL-lite readout completing the trend family: EA23
    fits a level slope, EA23c finds a break; this separates the
    WEEKLY RHYTHM from both): daily counts decompose into per-weekday
    means (the seasonal profile) plus a residual, and the readout per
    group reports

    - ``seasonal_strength`` = 1 - var(residual)/var(daily) (the STL
      strength statistic: ~1 when the weekday profile explains the
      series, ~0 when volume is weekday-blind),
    - ``trend_slope`` -- OLS of the DESEASONALIZED residual on the
      epoch day (a trend the weekday profile cannot absorb),
    - ``peak_dow`` / ``trough_dow`` -- argmax/argmin weekday (0 =
      Monday, ISO), ties to the earliest weekday.

    Weekday means are rounded to 9 dp before the residual (the PSI
    float discipline); readout at 6 dp. Shape: one scan to daily
    counts, one (group, dow)-keyed aggregate, one bounded 7-row-per-
    group window for the argmax, one group-keyed regression aggregate
    -- everything after the first aggregate is day-grain, never
    row-grain.
    """
    daily = df.groupBy(
        F.col(group_col).alias("g"),
        F.date_trunc("day", F.col(ts_col)).alias("d"),
    ).agg(F.count(F.lit(1)).alias("n"))
    daily = daily.select(
        "g",
        "n",
        F.weekday("d").alias("dow"),
        F.datediff("d", F.lit("1970-01-01").cast("date")).alias("epoch_d"),
    # consumed by the weekday means AND the residual join: pin the
    # day-grain table so the fact scan runs once
    ).localCheckpoint(eager=False)
    wmean = daily.groupBy("g", "dow").agg(
        F.round(F.avg("n"), 9).alias("wm")
    # consumed by the residual join AND both argmax windows: pin the
    # (group x 7)-row profile
    ).localCheckpoint(eager=False)
    joined = daily.join(wmean, ["g", "dow"]).withColumn(
        "resid", F.col("n") - F.col("wm")
    )
    stats = joined.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(
            F.lit(1.0)
            - F.var_samp("resid") / F.nullif(F.var_samp("n"), F.lit(0.0)),
            6,
        ).alias("seasonal_strength"),
        F.round(
            F.regr_slope(F.col("resid"), F.col("epoch_d")), 6
        ).alias("trend_slope"),
    )
    w_pk = Window.partitionBy("g").orderBy(
        F.col("wm").desc(), F.col("dow").asc()
    )
    w_tr = Window.partitionBy("g").orderBy(
        F.col("wm").asc(), F.col("dow").asc()
    )
    ranked = wmean.withColumn("_rp", F.row_number().over(w_pk)).withColumn(
        "_rt", F.row_number().over(w_tr)
    )
    peaks = (
        ranked.filter(F.col("_rp") == 1)
        .select("g", F.col("dow").alias("peak_dow"))
        .join(
            ranked.filter(F.col("_rt") == 1).select(
                "g", F.col("dow").alias("trough_dow")
            ),
            "g",
        )
    )
    return stats.join(peaks, "g").select(
        F.col("g").alias(group_col),
        "n_days",
        "seasonal_strength",
        "trend_slope",
        "peak_dow",
        "trough_dow",
    )


def seasonal_anomalies(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    z: float = 3.0,
) -> DataFrame:
    """Weekday-profile anomaly detection (EA37b -- the alerting
    readout composed from :func:`weekday_seasonality`'s decomposition:
    a Monday that looks like a Friday): each day's volume is compared
    to ITS WEEKDAY's mean, and days whose deseasonalized residual
    exceeds ``z`` residual standard deviations are flagged -- the
    day-of-week-aware outlier gate a raw z-score over daily volume
    gets wrong whenever volume has a weekly rhythm (every Friday
    would alert).

    Determinism: weekday means and the residual stddev round to 9 dp
    before the score (the PSI discipline); ``z_score`` at 6 dp.
    Zero residual variance (a perfectly periodic series) flags
    nothing (nullif guard). Shape: day-grain after one scan; the
    profile and stddev tables are (group x 7) and (group) sized.

    Output per FLAGGED day: group, ``day``, ``n`` (observed),
    ``expected`` (the weekday mean), ``z_score``.
    """
    daily = (
        df.groupBy(
            F.col(group_col).alias("g"),
            F.date_trunc("day", F.col(ts_col)).alias("d"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("dow", F.weekday("d"))
        .localCheckpoint(eager=False)
    )
    wmean = daily.groupBy("g", "dow").agg(
        F.round(F.avg("n"), 9).alias("wm")
    )
    joined = daily.join(wmean, ["g", "dow"]).withColumn(
        "resid", F.col("n") - F.col("wm")
    ).localCheckpoint(eager=False)
    sd = joined.groupBy("g").agg(
        F.round(F.stddev_samp("resid"), 9).alias("sd")
    )
    scored = joined.join(sd, "g").withColumn(
        "z_score",
        F.round(F.col("resid") / F.nullif(F.col("sd"), F.lit(0.0)), 6),
    )
    return scored.filter(F.abs(F.col("z_score")) > z).select(
        F.col("g").alias(group_col),
        F.col("d").cast("date").alias("day"),
        "n",
        F.col("wm").alias("expected"),
        "z_score",
    )


def seasonal_naive_backtest(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    horizon_days: int = 28,
) -> DataFrame:
    """Seasonal-naive forecast backtest (EA38 -- the baseline every
    forecasting effort must beat, and the capacity-planning sanity
    readout on its own): forecast(day) = volume(day - 7), evaluated
    per group over the LAST ``horizon_days`` days that have a
    7-days-earlier reference. Reports MAE and sMAPE (the scale-free
    twin) -- if a fancy model cannot beat these numbers, ship the
    naive.

    Shape: one scan to daily counts, ONE self-join on (group, d-7)
    (day-grain), a broadcast per-group max-day to cut the evaluation
    window, one group-keyed aggregate. Output per group: ``n_eval``,
    ``mae`` (6 dp), ``smape`` (6 dp, 0..200).
    """
    daily = (
        df.groupBy(
            F.col(group_col).alias("g"),
            F.date_trunc("day", F.col(ts_col)).alias("d"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    lagged = daily.select(
        F.col("g").alias("_g"),
        F.date_add(F.col("d").cast("date"), 7).alias("_d7"),
        F.col("n").alias("n_pred"),
    )
    maxd = daily.groupBy("g").agg(F.max("d").alias("_mx"))
    ev = (
        daily.join(
            lagged,
            (F.col("g") == F.col("_g"))
            & (F.col("d").cast("date") == F.col("_d7")),
        )
        .join(F.broadcast(maxd), "g")
        .filter(
            F.col("d")
            > F.col("_mx") - F.expr(f"INTERVAL {int(horizon_days)} DAYS")
        )
    )
    err = F.abs(F.col("n") - F.col("n_pred"))
    return ev.groupBy(F.col("g").alias(group_col)).agg(
        F.count(F.lit(1)).alias("n_eval"),
        F.round(F.avg(err), 6).alias("mae"),
        F.round(
            F.avg(
                F.lit(200.0)
                * err
                / (F.col("n") + F.col("n_pred")).cast("double")
            ),
            6,
        ).alias("smape"),
    )


def rfm_segmentation(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation (EA39 — the
    classic customer-value readout every CRM/CDP ships): per user,
    days since last event (relative to the corpus max — deterministic,
    no wall clock), event count, and value sum, each scored 1..5
    against the user population's exact quintile THRESHOLDS —
    ``score = 1 + Σ (x > q20/q40/q60/q80)`` — rather than ntile
    (ntile needs a total order over all users: an unpartitioned
    corpus-scale window AND tie-order ambiguity; threshold compares
    are order-free and engine-exact). Recency is inverted (recent =
    5). Segment labels follow the standard grid: champions (R≥4,
    F≥4, M≥4), loyal (F≥4), big_spender (M≥4), at_risk (R≤2, F≥3),
    hibernating (R≤2), otherwise regular.

    Shape: one user-keyed aggregate; quintile thresholds from three
    :func:`_global_quantiles` rank computations (range shuffle + P
    driver scalars — USER-cardinality columns, so the single-buffer
    exact ``percentile`` aggregate is out of bounds at 100×) crossed
    into a 1-row broadcast side; the scoring is a pure projection.
    Output: one row per user.
    """
    per_user = df.groupBy(F.col(user_col).alias("u")).agg(
        F.max(F.col(ts_col)).alias("_last"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum(F.col(value_col).cast("double")), 6).alias(
            "monetary"
        ),
    ).localCheckpoint(eager=False)
    gmax = per_user.agg(F.max("_last").alias("_gmax"))
    base = per_user.crossJoin(F.broadcast(gmax)).withColumn(
        "recency_days",
        F.datediff(F.col("_gmax"), F.col("_last")),
    ).localCheckpoint(eager=False)
    quints = (20, 40, 60, 80)
    qs = None
    for c in ("recency_days", "frequency", "monetary"):
        one = _global_quantiles(
            base, c, [q / 100.0 for q in quints]
        ).select(
            *[
                F.round(F.col(f"_q_{i}"), 9).alias(f"_{c}_{q}")
                for i, q in enumerate(quints)
            ]
        )
        qs = one if qs is None else qs.crossJoin(one)

    def score(c: str, invert: bool):
        s = F.lit(1)
        for q in (20, 40, 60, 80):
            s = s + (
                F.col(c).cast("double") > F.col(f"_{c}_{q}")
            ).cast("int")
        return (F.lit(6) - s) if invert else s

    scored = base.crossJoin(F.broadcast(qs)).select(
        F.col("u").alias(user_col),
        "recency_days",
        "frequency",
        "monetary",
        score("recency_days", invert=True).alias("r_score"),
        score("frequency", invert=False).alias("f_score"),
        score("monetary", invert=False).alias("m_score"),
    )
    r, f, m = F.col("r_score"), F.col("f_score"), F.col("m_score")
    return scored.withColumn(
        "segment",
        F.when((r >= 4) & (f >= 4) & (m >= 4), "champions")
        .when(f >= 4, "loyal")
        .when(m >= 4, "big_spender")
        .when((r <= 2) & (f >= 3), "at_risk")
        .when(r <= 2, "hibernating")
        .otherwise("regular"),
    )


def basket_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 2,
    max_basket_items: int = 500,
    oversized: str = "raise",
) -> DataFrame:
    """Association rules over EA7's pair mining (EA7b — the
    support/confidence/lift readout that turns co-occurrence counts
    into rankable rules): for every directed rule a→b with the pair
    seen in ≥ ``min_pair_count`` baskets,

        support    = n_ab / n_baskets
        confidence = n_ab / n_a
        lift       = n_ab · n_baskets / (n_a · n_b)

    lift > 1 = genuinely associated, < 1 = substitutes; confidence
    alone is popularity-confounded, which is why lift ships next to
    it. Both directions emitted (confidence is asymmetric).

    HOT-BASKET BOUND (a mechanism, not advice): pair fan-out is
    quadratic PER BASKET, so one degenerate mega-basket (a crawler
    account, a batch import) can dominate the whole job. Baskets
    above ``max_basket_items`` distinct items either fail the job
    loudly naming the basket (``oversized="raise"``, default) or are
    DROPPED as noise (``oversized="drop"`` — the standard
    market-basket treatment: a basket with everything in it carries
    no association signal anyway, it only inflates every pair).

    Shape: EA7's single-pipeline form — ONE shuffle on the basket key
    collects each basket's deduped sorted item set, pairs explode IN
    PLACE (no self-join, no second exchange of the fact), then item
    and pair aggregates with map-side partials and a broadcast 1-row
    basket total. 6-dp metrics.
    """
    if oversized not in ("raise", "drop"):
        raise ValueError(
            f"oversized must be 'raise' or 'drop'; got {oversized!r}"
        )
    baskets = (
        df.select(
            F.col(basket_col).alias("b"), F.col(item_col).alias("i")
        )
        .groupBy("b")
        .agg(F.sort_array(F.collect_set("i")).alias("_items"))
    )
    if oversized == "raise":
        guard = F.coalesce(
            F.assert_true(
                F.size("_items") <= max_basket_items,
                F.concat(
                    F.lit("basket_rules: basket "),
                    F.col("b").cast("string"),
                    F.lit(
                        f" has more than {max_basket_items} distinct "
                        "items; drop it (oversized='drop') or raise "
                        "max_basket_items"
                    ),
                ),
            ).cast("int"),
            F.lit(0),
        )
        baskets = baskets.withColumn(
            "_items", F.slice("_items", 1, F.size("_items") + guard)
        )
    else:
        baskets = baskets.filter(
            F.size("_items") <= max_basket_items
        )
    baskets = baskets.localCheckpoint(eager=False)
    n_baskets = baskets.count()
    items = baskets.select(
        F.explode("_items").alias("i")
    ).groupBy("i").agg(F.count(F.lit(1)).alias("n_i"))
    pair_structs = F.flatten(
        F.transform(
            "_items",
            lambda x, i: F.transform(
                F.slice("_items", i + 2, F.size("_items")),
                lambda y: F.struct(x.alias("ia"), y.alias("ib")),
            ),
        )
    )
    pairs = (
        baskets.filter(F.size("_items") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.ia").alias("ia"), F.col("p.ib").alias("ib"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_pair_count)
    )
    both = pairs.unionByName(
        pairs.select(
            F.col("ib").alias("ia"), F.col("ia").alias("ib"), "n_ab"
        )
    )
    out = (
        both.join(items.select(F.col("i").alias("ia"), F.col("n_i").alias("n_a")), "ia")
        .join(items.select(F.col("i").alias("ib"), F.col("n_i").alias("n_b")), "ib")
    )
    nb = F.lit(float(n_baskets))
    return out.select(
        F.col("ia").alias("antecedent"),
        F.col("ib").alias("consequent"),
        "n_ab",
        F.round(F.col("n_ab") / nb, 6).alias("support"),
        F.round(F.col("n_ab") / F.col("n_a"), 6).alias("confidence"),
        F.round(
            F.col("n_ab") * nb / (F.col("n_a") * F.col("n_b")), 6
        ).alias("lift"),
    )


def range_partition_audit(
    df: DataFrame,
    key_col: str,
    n_parts: int,
) -> DataFrame:
    """Range-partition balance audit (SC12 — the pre-flight check
    before a 100 TB ``repartitionByRange``/sort: Spark samples
    boundaries, and a skewed or low-cardinality key silently lands
    half the table in one task): computes the EXACT percentile
    boundaries a perfect range split would use and reports each
    would-be partition's true row count plus the skew ratio
    (max/mean) — a ratio near 1 certifies the layout; a big ratio
    says salt or pick another key BEFORE paying the shuffle.

    A heavily duplicated key collapses adjacent boundaries; duplicate
    boundaries merge buckets (their ids skip), which is exactly the
    pathology the audit exists to surface — the merged bucket's count
    shows the pile-up.

    Shape: one :func:`_global_quantiles` two-phase rank (r16 — the
    key being audited is data-cardinality by definition, exactly
    where the single-buffer exact ``percentile`` aggregate's final
    merge would blow the executor heap; broadcast, 1 row), one
    projection bucketing each row by boundary compares, one
    bucket-keyed count — never a global sort. Output per non-empty
    bucket: ``part_id`` (0-based), ``n_rows``, and the group-level
    ``skew_ratio`` repeated (6 dp).
    """
    if n_parts < 2:
        raise ValueError(f"n_parts must be >= 2; got {n_parts}")
    k = F.col(key_col).cast("double")
    probs = [i / n_parts for i in range(1, n_parts)]
    bounds = _global_quantiles(
        df.select(k.alias("_k")), "_k", probs
    ).select(
        *[
            F.round(F.col(f"_q_{i - 1}"), 9).alias(f"_b{i}")
            for i in range(1, n_parts)
        ]
    )
    bucket = F.lit(0)
    for i in range(1, n_parts):
        bucket = bucket + (k > F.col(f"_b{i}")).cast("int")
    counts = (
        df.crossJoin(F.broadcast(bounds))
        .select(bucket.alias("part_id"))
        .groupBy("part_id")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    tot = counts.agg(
        F.max("n_rows").alias("_mx"),
        F.sum("n_rows").alias("_tot"),
    )
    # mean over the INTENDED n_parts, not over non-empty buckets —
    # collapsed (empty) buckets are precisely the pathology, so they
    # must drag the mean down, not vanish from it
    return counts.crossJoin(F.broadcast(tot)).select(
        "part_id",
        "n_rows",
        F.round(
            F.col("_mx") * F.lit(float(n_parts)) / F.col("_tot"), 6
        ).alias("skew_ratio"),
    )


def huber_mean(
    df: DataFrame,
    key: str,
    col: str,
    c: float = 1.345,
    iters: int = 3,
) -> DataFrame:
    """Huber M-estimator of the per-group mean via unrolled IRLS
    (EA26c — completing the robust-location family: EA8b flags with
    median/MAD, EA26 is median-of-means, EA26b trims; Huber is the
    statistically EFFICIENT middle ground — full weight inside
    ``c·σ``, linear down-weighting outside, 95% Gaussian efficiency
    at the classical c=1.345): start at the exact median with the
    MAD-derived robust scale ``σ = MAD/0.6745``, then ``iters``
    reweighting rounds

        w_i = min(1, c·σ / |x_i − μ_t|),   μ_{t+1} = Σ w x / Σ w

    with every ``μ_t`` rounded to 9 dp (the unrolled-EM float
    discipline: identical doubles per iteration on any engine).
    A degenerate group (MAD = 0) keeps its median — the weights are
    undefined there and the median IS the robust answer.

    Shape: two :func:`_grouped_quantiles_rank` medians (r16 — the
    rank/window form instead of the heap-buffering exact
    ``percentile`` aggregate) + ``iters`` fact-scan reweighting
    aggregates, all map-side-partialed, stats broadcast back per
    round; cost is iters+2 scans — the honest IRLS price, stated
    (μ depends on data-dependent weights, so no single-scan form
    exists).

    Output per group: ``n``, ``median`` (6 dp), ``huber_mean``
    (6 dp), ``mean`` (6 dp, for contrast).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1; got {iters}")
    med = _grouped_quantiles_rank(df, key, col, [0.5]).select(
        key, F.col("_q_0").alias("_med")
    )
    dev = df.join(F.broadcast(med), key)
    stats = (
        _grouped_quantiles_rank(
            dev, key, F.abs(F.col(col) - F.col("_med")), [0.5]
        )
        .select(
            key,
            F.round(F.col("_q_0") / 0.6745, 9).alias("_sigma"),
        )
        .join(F.broadcast(med), key)
        .withColumn("_mu", F.round(F.col("_med"), 9))
        .localCheckpoint(eager=False)
    )
    for _ in range(iters):
        scored = df.join(F.broadcast(stats), key)
        w = F.when(
            F.col("_sigma") == 0, F.lit(1.0)
        ).otherwise(
            F.least(
                F.lit(1.0),
                F.lit(c)
                * F.col("_sigma")
                / F.nullif(
                    F.abs(F.col(col) - F.col("_mu")), F.lit(0.0)
                ),
            )
        )
        w = F.coalesce(w, F.lit(1.0))  # x == mu: full weight
        nxt = scored.groupBy(key).agg(
            F.first("_med").alias("_med"),
            F.first("_sigma").alias("_sigma"),
            F.round(
                F.when(
                    F.first("_sigma") == 0, F.first("_med")
                ).otherwise(
                    F.sum(w * F.col(col)) / F.sum(w)
                ),
                9,
            ).alias("_mu"),
        )
        stats = nxt.localCheckpoint(eager=False)
    final = df.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(col), 6).alias("mean"),
    )
    return final.join(stats, key).select(
        key,
        "n",
        F.round(F.col("_med"), 6).alias("median"),
        F.round(F.col("_mu"), 6).alias("huber_mean"),
        "mean",
    )


def benford_test(
    df: DataFrame,
    col: str,
) -> DataFrame:
    """Benford first-digit conformance test (EA40 — the
    fraud/fabrication screen auditors run on any naturally-scaled
    positive quantity): observed leading-digit counts vs the Benford
    expectation ``log10(1 + 1/d)``, with the chi-square statistic
    over the 9 digits. Zero and non-positive values carry no leading
    digit and are excluded (stated; Benford only applies to
    scale-spanning positive data).

    Determinism: expected probabilities are driver-computed literals
    (same libm both engines), counts are exact integers, chi-square
    at 6 dp. ONE scan into a 9-row digit aggregate.

    Output per digit: ``digit``, ``n_obs``, ``expected_p`` (6 dp),
    ``observed_p`` (6 dp), plus the group-level ``chi_square``
    repeated (6 dp).
    """
    import math

    probs = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}
    v = F.col(col).cast("double")
    # leading digit = v / 10^floor(log10 v) — same libm expression on
    # both engines (log10 of an exact power of ten is exact in IEEE,
    # so decade boundaries classify identically)
    digit = F.floor(v / F.pow(F.lit(10.0), F.floor(F.log10(v)))).cast(
        "int"
    )
    observed = (
        df.filter(v > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
        # <= 9 rows feeding three consumers (total, scores, chi):
        # pin so the fact scan runs once
        .localCheckpoint(eager=False)
    )
    # a digit with ZERO observations still contributes (0 − E·n)²/(E·n)
    # = E·n to the statistic — precisely the degenerate/fabricated
    # inputs the screen targets (data containing only digits 1-3 must
    # score HIGHER, not lower), so the observed counts right-join a
    # literal 9-digit table with n_obs defaulted to 0
    spark = df.sparkSession
    all_digits = spark.range(1, 10).select(
        F.col("id").cast("int").alias("digit")
    )
    counts = all_digits.join(F.broadcast(observed), "digit", "left").select(
        "digit", F.coalesce(F.col("n_obs"), F.lit(0)).alias("n_obs")
    )
    exp_p = F.lit(None).cast("double")
    for d, p in probs.items():
        exp_p = F.when(F.col("digit") == d, F.lit(round(p, 9))).otherwise(
            exp_p
        )
    tot = counts.agg(F.sum("n_obs").alias("_n"))
    scored = (
        counts.crossJoin(F.broadcast(tot))
        .withColumn("expected_p", exp_p)
        .withColumn(
            "observed_p", F.round(F.col("n_obs") / F.col("_n"), 6)
        )
        .withColumn(
            "_chi_term",
            F.pow(
                F.col("n_obs") - F.col("expected_p") * F.col("_n"), 2
            )
            / (F.col("expected_p") * F.col("_n")),
        )
    )
    chi = scored.agg(F.round(F.sum("_chi_term"), 6).alias("chi_square"))
    return scored.crossJoin(F.broadcast(chi)).select(
        "digit",
        "n_obs",
        F.round("expected_p", 6).alias("expected_p"),
        "observed_p",
        "chi_square",
    )


def cohort_ltv(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    value_col: str,
    revenue_when,
) -> DataFrame:
    """Cohort lifetime-value curves (EA41 — the revenue twin of the
    EA1 retention readout: retention answers "do they come back",
    this answers "what are they WORTH by age"): users cohort by the
    ISO week of their FIRST event (any event — activity defines the
    cohort), revenue rows (``revenue_when``) accumulate by cohort-age
    in weeks, and the curve reports cumulative revenue per cohort
    member at each age — the payback-period readout growth teams
    plot against acquisition cost.

    Shape: one user-keyed min (first event), one (cohort, age)-keyed
    revenue aggregate, cohort sizes broadcast, and the cumulative sum
    runs per cohort over the BOUNDED age axis (weeks since cohort —
    window width is corpus age in weeks, never row count). Ages with
    no revenue emit no row (stated).

    Output per (cohort_week, age_week): ``n_users`` (cohort size),
    ``week_value`` (6 dp), ``cum_value`` (6 dp), ``ltv`` =
    cum_value / n_users (6 dp).
    """
    firsts = (
        df.groupBy(F.col(user_col).alias("u"))
        .agg(F.date_trunc("week", F.min(ts_col)).alias("cohort"))
        .localCheckpoint(eager=False)
    )
    sizes = firsts.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    rev = (
        df.filter(revenue_when)
        .select(
            F.col(user_col).alias("u"),
            F.date_trunc("week", F.col(ts_col)).alias("wk"),
            F.col(value_col).cast("double").alias("v"),
        )
        .join(firsts, "u")
        .select(
            "cohort",
            F.floor(
                F.datediff(F.col("wk"), F.col("cohort")) / F.lit(7)
            ).cast("int").alias("age_week"),
            "v",
        )
        .groupBy("cohort", "age_week")
        .agg(F.round(F.sum("v"), 6).alias("week_value"))
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age_week")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = rev.withColumn(
        "cum_value", F.round(F.sum("week_value").over(w), 6)
    ).join(F.broadcast(sizes), "cohort")
    return out.select(
        F.col("cohort").cast("date").alias("cohort_week"),
        "age_week",
        "n_users",
        "week_value",
        "cum_value",
        F.round(F.col("cum_value") / F.col("n_users"), 6).alias("ltv"),
    )


def mann_kendall_trend(
    df: DataFrame,
    group_col: str,
    ts_col: str,
) -> DataFrame:
    """Mann–Kendall trend test on DAILY VOLUME per group (EA23d —
    the significance twin completing the trend family: EA23 fits an
    OLS slope, EA23b a robust slope, EA23c finds the break; this says
    whether a monotone trend EXISTS at all, with no distributional
    assumption): over the day-grain series,

        S = Σ_{i<j} sign(x_j − x_i)
        var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18   (tie-corrected)
        z = (S ∓ 1) / sqrt(var)   (continuity-corrected, 0 at S=0)

    All integer math until the final z (6 dp) — S, the tie spectrum,
    and both var terms are exact bigints any engine replays.

    Shape: one scan to daily counts, then a per-group self-join on
    the DAY-GRAIN table — O(days²) per group, bounded by calendar
    time, never by row count (10 years ≈ 13M pairs); tie spectrum
    from one (group, value)-keyed aggregate. Output per group:
    ``n_days``, ``s_stat``, ``var_s``, ``z`` (6 dp), ``trend``
    ('increasing' / 'decreasing' / 'none' at |z| > 1.96).
    """
    daily = (
        df.groupBy(
            F.col(group_col).alias("g"),
            F.date_trunc("day", F.col(ts_col)).alias("d"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    a = daily.select(
        F.col("g"), F.col("d").alias("_da"), F.col("n").alias("_na")
    )
    b = daily.select(
        F.col("g").alias("_g2"),
        F.col("d").alias("_db"),
        F.col("n").alias("_nb"),
    )
    pairs = a.join(
        b,
        (F.col("g") == F.col("_g2")) & (F.col("_da") < F.col("_db")),
    )
    s = pairs.groupBy("g").agg(
        F.sum(F.signum(F.col("_nb") - F.col("_na")).cast("long")).alias(
            "s_stat"
        )
    )
    nd = daily.groupBy("g").agg(F.count(F.lit(1)).alias("n_days"))
    ties = (
        daily.groupBy("g", "n")
        .agg(F.count(F.lit(1)).alias("_t"))
        .groupBy("g")
        .agg(
            F.sum(
                F.col("_t")
                * (F.col("_t") - 1)
                * (2 * F.col("_t") + 5)
            ).alias("_tie_term")
        )
    )
    out = nd.join(s, "g").join(ties, "g")
    n = F.col("n_days")
    var_s = (
        n * (n - 1) * (2 * n + 5) - F.col("_tie_term")
    ) / F.lit(18.0)
    z = F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt(var_s)) \
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt(var_s)) \
        .otherwise(F.lit(0.0))
    z = F.round(
        F.when(var_s > 0, z).otherwise(F.lit(0.0)), 6
    )
    return out.select(
        F.col("g").alias(group_col),
        "n_days",
        "s_stat",
        F.round(var_s, 6).alias("var_s"),
        z.alias("z"),
        F.when(z > 1.96, "increasing")
        .when(z < -1.96, "decreasing")
        .otherwise("none")
        .alias("trend"),
    )


def gini_concentration(
    df: DataFrame,
    group_col: str,
    unit_col: str,
    value_col: str,
) -> DataFrame:
    """Gini coefficient of per-unit value within each group (EA42 —
    the concentration readout behind "what share of revenue do the
    top customers carry": 0 = perfectly even, →1 = one unit owns
    everything; the scalar the Lorenz curve integrates to): with the
    group's per-unit totals sorted ascending and ranked 1..n,

        G = 2·Σ i·x_(i) / (n·Σx) − (n+1)/n

    Ties are rank-order-invariant (equal x contribute the same sum
    under any tie permutation), so the per-group sort is
    deterministic without a tiebreak convention. Negative values are
    rejected loudly (Gini is undefined there); an all-zero group
    reads NULL (no concentration to measure).

    Shape: one unit-keyed aggregate, one PER-GROUP-partitioned rank
    window (partitioned by the group — scales with executors, unlike
    a global ntile), one group aggregate. Output per group:
    ``n_units``, ``total_value`` (6 dp), ``gini`` (6 dp).
    """
    per_unit = df.groupBy(
        F.col(group_col).alias("g"), F.col(unit_col).alias("u")
    ).agg(F.round(F.sum(F.col(value_col).cast("double")), 9).alias("x"))
    guard = F.coalesce(
        F.assert_true(
            F.col("x") >= 0,
            F.lit("gini_concentration: negative per-unit value"),
        ).cast("double"),
        F.lit(0.0),
    )
    per_unit = per_unit.withColumn("x", F.col("x") + guard)
    w = Window.partitionBy("g").orderBy(F.col("x").asc(), F.col("u").asc())
    ranked = per_unit.withColumn("i", F.row_number().over(w))
    agg = ranked.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_units"),
        F.round(F.sum("x"), 6).alias("total_value"),
        F.sum(F.col("i") * F.col("x")).alias("_ix"),
    )
    n = F.col("n_units").cast("double")
    g = (
        F.lit(2.0) * F.col("_ix") / (n * F.col("total_value"))
        - (n + 1) / n
    )
    return agg.select(
        F.col("g").alias(group_col),
        "n_units",
        "total_value",
        F.round(
            F.when(F.col("total_value") > 0, g), 6
        ).alias("gini"),
    )


def conversion_ztest(
    df: DataFrame,
    unit_col: str,
    arm_col,
    converted_when,
) -> DataFrame:
    """Two-proportion z-test on CONVERSION (EA25b — the binary-metric
    twin of EA25's Welch mean test: "did B convert more users", the
    other half of every experiment readout): per unit, converted =
    any row satisfies ``converted_when``; then with pooled
    p̂ = (c0+c1)/(n0+n1),

        z = (p1 − p0) / sqrt(p̂(1−p̂)(1/n0 + 1/n1))

    plus the MINIMUM DETECTABLE EFFECT at the current sample sizes
    (α=0.05 two-sided, power 0.8 — the "was this test even big
    enough" column analysts need BEFORE trusting a null):
    ``mde_abs = (z_{α/2} + z_{β}) · sqrt(2·p̂(1−p̂)/harmonic_n)``
    with the normal quantiles as driver-side literals (1.959964,
    0.841621).

    Output (1 row): ``n_0/1``, ``conv_0/1``, ``rate_0/1`` (6 dp),
    ``lift_abs`` (6 dp), ``z`` (6 dp), ``significant`` (|z| > 1.96),
    ``mde_abs`` (6 dp). Shape: one unit-keyed any-aggregate, one
    1-row arm pivot — nothing past the unit count.
    """
    arm = arm_col if not isinstance(arm_col, str) else F.col(arm_col)
    units = df.groupBy(F.col(unit_col).alias("_u")).agg(
        F.max(arm.cast("int")).alias("_arm"),
        F.max(converted_when.cast("int")).alias("_c"),
    )
    g = units.agg(
        F.sum(F.when(F.col("_arm") == 0, 1).otherwise(0)).alias("n_0"),
        F.sum(F.when(F.col("_arm") == 1, 1).otherwise(0)).alias("n_1"),
        F.sum(
            F.when(F.col("_arm") == 0, F.col("_c")).otherwise(0)
        ).alias("conv_0"),
        F.sum(
            F.when(F.col("_arm") == 1, F.col("_c")).otherwise(0)
        ).alias("conv_1"),
    )
    n0, n1 = F.col("n_0").cast("double"), F.col("n_1").cast("double")
    c0, c1 = F.col("conv_0").cast("double"), F.col("conv_1").cast("double")
    p0, p1 = c0 / n0, c1 / n1
    pp = (c0 + c1) / (n0 + n1)
    se = F.sqrt(pp * (1.0 - pp) * (1.0 / n0 + 1.0 / n1))
    z = F.round((p1 - p0) / F.nullif(se, F.lit(0.0)), 6)
    harm = 2.0 / (1.0 / n0 + 1.0 / n1)
    mde = F.round(
        F.lit(1.959964 + 0.841621)
        * F.sqrt(2.0 * pp * (1.0 - pp) / harm),
        6,
    )
    return g.select(
        "n_0", "n_1", "conv_0", "conv_1",
        F.round(p0, 6).alias("rate_0"),
        F.round(p1, 6).alias("rate_1"),
        F.round(p1 - p0, 6).alias("lift_abs"),
        z.alias("z"),
        (F.abs(z) > 1.96).alias("significant"),
        mde.alias("mde_abs"),
    )
