"""Suite queries — events: event analytics, streaming, sketches, drift gates, attribution.

Split from the original suite.py; registration order is enforced
centrally by the package __init__ via _CANONICAL_ORDER."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from isilon_hadoop_tools_spark.functions.hashing import (
    FINGERPRINT64_SQL,
    stable_hash32,
    stable_hash32_sql,
)
from isilon_hadoop_tools_spark.sources.local import local_df

from isilon_hadoop_tools_spark.suite._shared import (
    REGISTRY,
    _BLOOM_PROBE,
    _CMS_D,
    _CMS_SEED,
    _CMS_TOP,
    _CMS_W,
    _EMA_ALPHA,
    _HIST_BINS,
    _HIST_HI,
    _HIST_LO,
    _HLL_B,
    _HLL_M,
    _HLL_REG_SQL,
    _HOURLY_ROLLUP_ORACLE,
    _KMV_K,
    _PIVOT_TYPES,
    _PSI_BREAKS,
    _SCRATCH,
    _SESSION_GAP_SEC,
    _alpha_sql,
    _bloom_zone_oracle,
    _fresh_state,
    _hll_overlap_oracle,
    _pboot_oracle,
    _sliced_stream,
    _t,
    _hilbert_chain,
    _hilbert_stats_sql,
    _zone_stats_sql,
    _zorder_terms,
    query,
)


@query(
    "events_hourly_rollup",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window rollup in batch mode — the reference for the
    watermarked streaming twin (``hourly_rollup_stream``)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@query(
    "events_dedup_first",
    oracle="""
    SELECT event_id, min(ts) AS first_ts, count(*) AS n_seen
    FROM events GROUP BY event_id
    """,
)
def events_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup keeping the earliest sighting — batch twin of
    streaming ``dropDuplicates`` + watermark state eviction."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_id").agg(
        F.min("ts").alias("first_ts"), F.count(F.lit(1)).alias("n_seen")
    )


@query(
    "events_asof_latest_order",
    oracle="""
    WITH quotes AS (
      SELECT o_custkey,
             TIMESTAMP '2024-01-01' + INTERVAL (o_orderkey % 30) DAY AS quote_ts,
             max(o_orderkey) AS matched_order
      FROM orders GROUP BY 1, 2
    )
    SELECT e.event_id, e.user_id, e.ts,
           q.matched_order, q.quote_ts AS matched_ts
    FROM events e
    ASOF JOIN quotes q ON e.user_id = q.o_custkey AND e.ts >= q.quote_ts
    """,
)
def events_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (J9): each event picks the customer's most recent
    quote row at-or-before its timestamp. Spark has no ASOF JOIN, so
    the operator uses the union+window form (one shuffle on the key,
    no per-key theta blowup); the oracle is DuckDB's *native*
    ASOF JOIN — two totally different algorithms, same rows. Quote
    timestamps are synthesized inside the event window so matches
    genuinely interleave."""
    from isilon_hadoop_tools_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    quotes = (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.expr(
                "timestampadd(DAY, cast(o_orderkey % 30 AS INT),"
                " timestamp'2024-01-01 00:00:00')"
            ).alias("quote_ts"),
            "o_orderkey",
        )
        .groupBy("o_custkey", "quote_ts")
        .agg(F.max("o_orderkey").alias("matched_order"))
    )
    out = asof_join(
        ev,
        quotes,
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="quote_ts",
        right_cols=["matched_order", "quote_ts"],
        how="inner",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "matched_order",
        F.col("quote_ts").alias("matched_ts"),
    )


@query(
    "events_props_parsed",
    oracle="""
    SELECT event_type,
           round(avg(json_extract(props, '$.k')::INT), 4) AS avg_k,
           max(json_extract(props, '$.k')::INT) AS max_k,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def events_props_parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property parsing over real data (F10 from_json + F9 struct
    access): the events table's ``props`` column is a JSON document;
    parse with an explicit schema and aggregate the typed field."""
    ev = _t(spark, sf_dir, "events")
    k = F.from_json("props", "STRUCT<k: INT>")["k"]
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.round(F.avg("k"), 4).alias("avg_k"),
        F.max("k").alias("max_k"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "events_user_ema",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS j,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events
    )
    SELECT user_id, max(n) AS n_events,
           round(sum(CASE WHEN j = 1 THEN pow({1 - _EMA_ALPHA}, n - 1) * value
                          ELSE {_EMA_ALPHA} * pow({1 - _EMA_ALPHA}, n - j) * value
                     END), 4) AS ema
    FROM ordered
    GROUP BY user_id
    """,
)
def events_user_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom order-dependent aggregate (§2.10): per-user exponential
    moving average via grouped-map ``applyInPandas`` (Arrow batches,
    one shuffle on the key). No built-in aggregate expresses the
    recurrence; the oracle uses its closed form."""
    from isilon_hadoop_tools_spark.streaming.stateful import ema_batch

    ev = _t(spark, sf_dir, "events")
    out = ema_batch(ev, "user_id", "ts", "event_id", "value", _EMA_ALPHA)
    return out.select("user_id", "n_events", F.round("ema", 4).alias("ema"))


@query("events_hourly_rollup_stream", oracle=_HOURLY_ROLLUP_ORACLE)
def events_hourly_rollup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermarked streaming twin of ``events_hourly_rollup``
    (§2.9): readStream -> withWatermark -> 1h tumbling window,
    drained with trigger(availableNow) — must equal the batch oracle
    (the inotify max-delay contract, ``onefs.py:1099-1120``)."""
    from isilon_hadoop_tools_spark import streaming

    ev = streaming.read_events_stream(spark, sf_dir)
    return streaming.run_available_now(streaming.hourly_rollup_stream(ev))


@query(
    "events_sliding_rollup_stream",
    # a 1h window sliding every 30m means each event belongs to
    # exactly two windows: the ones starting at its 30m bucket and at
    # that bucket minus 30m — expressed as a two-branch UNION ALL
    oracle="""
    WITH b AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS b30, event_type, value
      FROM events
    )
    SELECT w_start, event_type, count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM (
      SELECT b30 AS w_start, event_type, value FROM b
      UNION ALL
      SELECT b30 - INTERVAL 30 MINUTE AS w_start, event_type, value FROM b
    ) e
    GROUP BY w_start, event_type
    """,
)
def events_sliding_rollup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window (1h wide, 30m slide) streaming rollup — each
    event aggregates into two overlapping windows. Drained with
    trigger(availableNow); must equal the batch two-branch oracle."""
    from isilon_hadoop_tools_spark import streaming

    ev = streaming.read_events_stream(spark, sf_dir)
    return streaming.run_available_now(streaming.sliding_rollup_stream(ev))


@query(
    "events_dedup_first_stream",
    oracle="""
    SELECT event_id, min(ts) AS first_ts, count(*) AS n_seen
    FROM events GROUP BY event_id
    """,
)
def events_dedup_first_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming keyed dedup (stateful aggregation with watermark
    eviction) — must equal the batch ``events_dedup_first`` oracle."""
    from isilon_hadoop_tools_spark import streaming

    ev = streaming.read_events_stream(spark, sf_dir)
    return streaming.run_available_now(streaming.dedup_first_stream(ev))


@query(
    "events_sessionized",
    oracle=f"""
    WITH ordered AS (
      SELECT event_type, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) >= {_SESSION_GAP_SEC}
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts)
    ),
    sess AS (
      SELECT *, sum(new_s) OVER (PARTITION BY event_type ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered
    )
    SELECT event_type,
           min(ts) AS session_start,
           max(ts) + INTERVAL {_SESSION_GAP_SEC} SECOND AS session_end,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM sess GROUP BY event_type, sid
    """,
)
def events_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (§2.9) in batch mode — the identical
    ``session_window`` expression the streaming path runs; the oracle
    re-derives sessions with a lag/cumsum idiom."""
    from isilon_hadoop_tools_spark import streaming

    ev = _t(spark, sf_dir, "events")
    return streaming.sessionize(ev, gap=f"{_SESSION_GAP_SEC} seconds")


@query(
    "events_stream_stream_join",
    oracle="""
    SELECT v.user_id, v.ts AS view_ts, p.ts AS purchase_ts, p.value
    FROM events v
    JOIN events p ON v.user_id = p.user_id
                 AND v.event_type = 'view'
                 AND p.event_type = 'purchase'
                 AND p.ts >= v.ts
                 AND p.ts <= v.ts + INTERVAL 3600 SECOND
    """,
)
def events_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (§2.9): views ⋈ purchases per user
    within a 1-hour horizon, both sides watermarked so join state is
    evicted past watermark + horizon. Drained with availableNow in
    append mode — must equal the batch self-join oracle."""
    from isilon_hadoop_tools_spark import streaming

    ev = streaming.read_events_stream(spark, sf_dir)
    return streaming.run_available_now(
        streaming.view_purchase_interval_join(ev), output_mode="append"
    )


@query(
    "events_salted_type_counts",
    oracle="""
    SELECT event_type, count(*) AS count
    FROM events GROUP BY event_type
    """,
)
def events_salted_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation (SURVEY §4 skew tooling): counts
    per event_type computed as partial counts per (key, salt) then a
    final sum per key — identical result to a plain groupBy, with hot
    keys spread over ``salt`` subgroups. event_type has exactly 5
    values over the whole corpus, the worst-case hot-key shape a
    plain groupBy would funnel into 5 reducers at 100 TB (map-side
    partial aggregation already bounds pure counts; salting is the
    same insurance for aggregates without cheap partials, e.g.
    collect_list / percentile state)."""
    from isilon_hadoop_tools_spark.operators.skew import salted_count

    return salted_count(_t(spark, sf_dir, "events"), "event_type", salt=8)


@query(
    "events_foreach_batch_state",
    oracle="""
    SELECT event_id, min(ts) AS first_ts FROM events GROUP BY event_id
    """,
)
def events_foreach_batch_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch idempotent sink (S9 -> §2.9): each micro-batch
    merges adopt-on-conflict into parquet state; the stream is run
    TWICE without a checkpoint — the second full replay must not
    change committed state (the reference's tolerate-already-exists
    rerun contract)."""
    from isilon_hadoop_tools_spark import streaming
    from isilon_hadoop_tools_spark.streaming.events import merge_stream_into_state

    state = _fresh_state(spark, "events_foreach_batch")
    ev = streaming.read_events_stream(spark, sf_dir)
    merge_stream_into_state(ev, state)
    return state.read("events_seen", "event_id LONG, first_ts TIMESTAMP")


@query(
    "events_hll_registers",
    oracle=f"WITH {_HLL_REG_SQL} SELECT bucket, rho FROM regs",
)
def events_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL register table over events.user_id — deterministic
    cross-engine because the hash is the engine's stable md5 primitive
    (Spark's approx_count_distinct registers are engine-internal and
    unverifiable; these hash-match DuckDB bit for bit)."""
    from isilon_hadoop_tools_spark.operators.sketches import hll_registers

    return hll_registers(_t(spark, sf_dir, "events"), "user_id", b=_HLL_B)


@query(
    "events_hll_distinct_users",
    oracle=f"""
    WITH {_HLL_REG_SQL},
    agg AS (
      SELECT count(*) AS v_filled,
             sum(pow(2.0, -rho)) AS s_filled
      FROM regs
    ),
    est AS (
      SELECT CASE
               WHEN ({_alpha_sql()} * {_HLL_M * _HLL_M}) /
                    (s_filled + ({_HLL_M} - v_filled)) <= {2.5 * _HLL_M}
                    AND ({_HLL_M} - v_filled) > 0
               THEN {_HLL_M}.0 * ln({_HLL_M}.0 / ({_HLL_M} - v_filled))
               ELSE ({_alpha_sql()} * {_HLL_M * _HLL_M}) /
                    (s_filled + ({_HLL_M} - v_filled))
             END AS e
      FROM agg
    )
    SELECT {_HLL_M} AS m, round(e, 4) AS est_distinct,
           (SELECT count(DISTINCT user_id) FROM events) AS exact_distinct,
           round(abs(round(e, 4) - (SELECT count(DISTINCT user_id) FROM events))
                 / (SELECT count(DISTINCT user_id) FROM events), 4) AS rel_err
    FROM est
    """,
)
def events_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimate vs the exact count — the
    mergeable 100 TB distinct-count sketch, made oracle-checkable by
    the deterministic hash. Output: m, est_distinct, exact_distinct,
    rel_err."""
    from isilon_hadoop_tools_spark.operators.sketches import (
        hll_distinct_estimate,
    )

    ev = _t(spark, sf_dir, "events")
    est = hll_distinct_estimate(ev, "user_id", b=_HLL_B)
    exact = ev.agg(F.count_distinct("user_id").alias("exact_distinct"))
    return est.crossJoin(exact).select(
        "m",
        "est_distinct",
        "exact_distinct",
        F.round(
            F.abs(F.col("est_distinct") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            4,
        ).alias("rel_err"),
    )


@query(
    "events_cms_heavy_hitters",
    oracle=f"""
    WITH hashed AS (
      SELECT user_id, r AS row_id,
             (('0x' || substr(md5((({_CMS_SEED} + r)::VARCHAR || ':')
                               || user_id::VARCHAR), 1, 8))::BIGINT)
               % {_CMS_W} AS bucket
      FROM events, range(0, {_CMS_D}) t(r)
    ),
    cms AS (SELECT row_id, bucket, count(*) AS cnt
            FROM hashed GROUP BY row_id, bucket),
    exact AS (SELECT user_id, count(*) AS exact_n FROM events GROUP BY user_id),
    top AS (SELECT user_id, exact_n FROM exact
            ORDER BY exact_n DESC, user_id LIMIT {_CMS_TOP}),
    probes AS (
      SELECT t.user_id, t.exact_n, r AS row_id,
             (('0x' || substr(md5((({_CMS_SEED} + r)::VARCHAR || ':')
                               || t.user_id::VARCHAR), 1, 8))::BIGINT)
               % {_CMS_W} AS bucket
      FROM top t, range(0, {_CMS_D}) q(r)
    )
    SELECT p.user_id, p.exact_n, min(c.cnt)::BIGINT AS est_n
    FROM probes p JOIN cms c USING (row_id, bucket)
    GROUP BY p.user_id, p.exact_n
    """,
)
def events_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates for the exact top-10 event
    users: integer counts over the seeded md5 hash family, so the
    sketch — and its overestimate-only point queries — reproduce
    exactly on any engine. Output: user_id, exact_n, est_n."""
    from isilon_hadoop_tools_spark.operators.sketches import (
        cms_estimate,
        cms_table,
    )

    ev = _t(spark, sf_dir, "events")
    sketch = cms_table(ev, "user_id", d=_CMS_D, w=_CMS_W, seed_base=_CMS_SEED)
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "user_id")
        .limit(_CMS_TOP)
    )
    return cms_estimate(
        sketch, top, "user_id", d=_CMS_D, w=_CMS_W, seed_base=_CMS_SEED
    )


@query(
    "events_zorder_skipping",
    oracle=f"""
    {_zone_stats_sql("hour(ts) * 256 + user_id % 256", "linear_time")}
    UNION ALL
    {_zone_stats_sql(_zorder_terms("user_id % 256", "hour(ts)"), "zorder")}
    """,
)
def events_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order × zone maps — WHY you Z-order (SC7 meets SC8): the
    same user-bucket predicate measured against min/max zone stats
    under two physical layouts of the same table. Time-major linear
    layout: every 1024-wide key zone spans the full user range, so a
    user predicate skips NOTHING; Morton-interleaved layout: zones
    are (user, hour) sub-squares, so the predicate prunes most zones
    on the NON-leading dimension — the file-skipping selectivity a
    single-column sort can never give. Both layouts' reports carry
    the soundness certificate."""
    from isilon_hadoop_tools_spark.operators.skew import (
        zone_prune_report,
        zorder_key,
    )

    ev = _t(spark, sf_dir, "events")
    ubucket = F.pmod(F.col("user_id"), F.lit(256))
    linear_key = F.hour("ts").cast("long") * 256 + ubucket
    z_key = zorder_key([ubucket, F.hour("ts")], bits=8)

    def report(key, layout):
        return zone_prune_report(
            ev, F.floor(key / 1024), ubucket, 32, 63
        ).select(F.lit(layout).alias("layout"), "*")

    return report(linear_key, "linear_time").unionByName(
        report(z_key, "zorder")
    )


@query(
    "events_hilbert_skipping",
    oracle=f"""
    {_hilbert_stats_sql()}
    UNION ALL
    {_zone_stats_sql(
        _zorder_terms(
            "user_id % 256", "(hour(ts) * 60 + minute(ts)) % 256"
        ),
        "zorder", lo=90, hi=140, width=128,
    )}
    """,
)
def events_hilbert_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert vs Morton head-to-head (SC8d — the liquid-clustering
    layout): the same UNALIGNED user-bucket predicate ([90, 140] —
    power-of-2-aligned ranges are where the two curves tie, because
    both keep dyadic blocks contiguous) measured against min/max zone
    stats under Hilbert and Z-order layouts of the same
    fully-occupied (user-bucket, minute-of-day mod 256) key space.
    The Hilbert walk is CONTINUOUS — consecutive keys are always grid
    neighbors, so equal-width zones cover tighter spatial rectangles
    than Morton's diagonal-jumping interleave: at sf0.01 / width-128
    zones, hilbert skips 60.6% vs zorder 57.6% on the identical
    predicate, with fewer total zones (309 vs 320). Both reports
    carry the soundness certificate; the key fold is pure-JVM
    integer math (one F.aggregate over the 8 literal levels)."""
    from isilon_hadoop_tools_spark.operators.skew import (
        hilbert_key,
        zone_prune_report,
        zorder_key,
    )

    ev = _t(spark, sf_dir, "events")
    ubucket = F.pmod(F.col("user_id"), F.lit(256))
    mod = F.pmod(F.hour("ts") * 60 + F.minute("ts"), F.lit(256))
    h_key = hilbert_key([ubucket, mod], bits=8)
    z_key = zorder_key([ubucket, mod], bits=8)

    def report(key, layout):
        return zone_prune_report(
            ev, F.floor(key / 128), ubucket, 90, 140
        ).select(F.lit(layout).alias("layout"), "*")

    return report(h_key, "hilbert").unionByName(report(z_key, "zorder"))


@query(
    "events_hilbert_write_skipping",
    oracle=f"""
    WITH {_hilbert_chain()},
    ranked AS (
      SELECT ub, row_number() OVER (ORDER BY d8, event_id) AS rn
      FROM l8
    ),
    zones AS (
      SELECT (rn - 1) // 1024 AS zone, count(*)::BIGINT AS n_rows,
             min(ub)::BIGINT AS mn, max(ub)::BIGINT AS mx
      FROM ranked GROUP BY 1
    )
    SELECT zone, n_rows, mn, mx,
           (mx >= 90 AND mn <= 140) AS scanned,
           true AS footer_ok
    FROM zones
    """,
)
def events_hilbert_write_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footer-verified Hilbert layout (SC8e): the SC8d clustering
    actually WRITTEN — events ordered by the Hilbert key (two-phase
    rank, 1024-row zones, one parquet file per zone) — and the REAL
    parquet footer min/max/count statistics read back with pyarrow
    must equal the logically-computed zone stats (`footer_ok` per
    zone), so the pruning the zone model promises is exactly what any
    footer-reading engine will do on these files. The oracle predicts
    every zone's stats analytically from the same (key, id) total
    order."""
    import os
    import shutil

    from isilon_hadoop_tools_spark.operators.skew import (
        hilbert_key,
        layout_write_footer_stats,
    )

    ev = _t(spark, sf_dir, "events")
    ubucket = F.pmod(F.col("user_id"), F.lit(256))
    mod = F.pmod(F.hour("ts") * 60 + F.minute("ts"), F.lit(256))
    tag = os.path.basename(sf_dir.rstrip("/"))
    out_dir = f"{_SCRATCH}/hilbert_layout_{tag}"
    shutil.rmtree(out_dir, ignore_errors=True)
    return layout_write_footer_stats(
        ev,
        hilbert_key([ubucket, mod], bits=8),
        "event_id",
        ubucket,
        out_dir,
        rows_per_file=1024,
        lo=90,
        hi=140,
    )


@query(
    "events_zorder_layout",
    oracle=f"""
    WITH keyed AS (
      SELECT ({_zorder_terms('user_id % 256', 'hour(ts)')})::BIGINT AS z
      FROM events
    )
    SELECT (z // {(1 << 16) // 64})::BIGINT AS range_id,
           count(*) AS n_rows, min(z) AS z_min, max(z) AS z_max
    FROM keyed GROUP BY 1
    """,
)
def events_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout plan over (user_id bucket, hour): the
    multi-dimensional clustering key behind OPTIMIZE ZORDER, with
    per-range row counts and key bounds — file-skipping on both
    dimensions at once when the table is written in this order."""
    from isilon_hadoop_tools_spark.operators.skew import zorder_layout

    ev = _t(spark, sf_dir, "events")
    return zorder_layout(
        ev,
        [F.pmod(F.col("user_id"), F.lit(256)), F.hour("ts")],
        bits=8,
        n_ranges=64,
    )


@query(
    "events_compaction_plan",
    oracle="""
    WITH files AS (
      SELECT ts::DATE AS partition, user_id % 40 AS file,
             (count(*) * 1024 + sum(length(event_type)))::BIGINT
               AS size_bytes
      FROM events GROUP BY 1, 2
    ),
    cum AS (
      SELECT partition, file, size_bytes,
             sum(size_bytes) OVER (
               PARTITION BY partition
               ORDER BY size_bytes DESC, file
               ROWS UNBOUNDED PRECEDING
             )::BIGINT AS cum_bytes
      FROM files
    ),
    binned AS (
      SELECT *, (cum_bytes - size_bytes) // 65536 + 1 AS bin
      FROM cum
    ),
    seqd AS (
      SELECT partition, file, size_bytes, cum_bytes,
             dense_rank() OVER (
               PARTITION BY partition ORDER BY bin
             )::INT AS bin_seq,
             count(*) OVER (PARTITION BY partition) AS n_files_before
      FROM binned
    )
    SELECT partition, file, size_bytes, cum_bytes, bin_seq,
           n_files_before,
           max(bin_seq) OVER (PARTITION BY partition) AS n_files_after
    FROM seqd
    """,
)
def events_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (SC9) — the lakehouse
    maintenance op (Delta OPTIMIZE / Iceberg rewrite_data_files) a
    streaming-ingested 100 TB table needs continuously: a synthetic
    per-day file listing (40 ingest writers x 30 days, sizes derived
    from the events they hold) packed into 64 KiB output bins under
    size-ordered next-fit. Integer-exact bin ids (`div`, no double
    detour), dense-ranked so a jumbo file's skipped ids don't inflate
    the after-count. The listing is METADATA scale (~10^6 rows for
    100 TB) — one partition-keyed shuffle, windows bounded by
    files-per-partition."""
    from isilon_hadoop_tools_spark.operators.skew import compaction_plan

    ev = _t(spark, sf_dir, "events")
    files = ev.groupBy(
        F.to_date("ts").alias("day"),
        F.pmod(F.col("user_id"), F.lit(40)).alias("file_no"),
    ).agg(
        (
            F.count(F.lit(1)) * 1024 + F.sum(F.length("event_type"))
        ).alias("size_bytes")
    )
    return compaction_plan(files, "day", "file_no", "size_bytes", 65536)


@query(
    "compaction_index_stream",
    oracle="""
    WITH files AS (
      SELECT ts::DATE::VARCHAR AS partition, user_id % 40 AS file,
             (count(*) * 1024 + sum(length(event_type)))::BIGINT
               AS size_bytes
      FROM events GROUP BY 1, 2
    ),
    cum AS (
      SELECT partition, file, size_bytes,
             sum(size_bytes) OVER (
               PARTITION BY partition
               ORDER BY size_bytes DESC, file
               ROWS UNBOUNDED PRECEDING
             )::BIGINT AS cum_bytes
      FROM files
    ),
    binned AS (
      SELECT *, (cum_bytes - size_bytes) // 65536 + 1 AS bin
      FROM cum
    ),
    seqd AS (
      SELECT partition, file, size_bytes, cum_bytes,
             dense_rank() OVER (
               PARTITION BY partition ORDER BY bin
             )::INT AS bin_seq,
             count(*) OVER (PARTITION BY partition) AS n_files_before
      FROM binned
    )
    SELECT partition, file, size_bytes, cum_bytes, bin_seq,
           n_files_before,
           max(bin_seq) OVER (PARTITION BY partition) AS n_files_after
    FROM seqd
    """,
)
def compaction_index_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming compaction-plan maintenance (§2.9 x SC9): the same
    40-writers-x-30-days file listing as `events_compaction_plan`
    arrives as three micro-batches keyed file_no % 3 in DESCENDING
    residue order — every partition is touched repeatedly and each
    later batch RESORTS it (size-desc order changes), displacing the
    previous bin assignments — and the plan snapshot after one drain
    must hash-match the batch planner over the whole listing."""
    from isilon_hadoop_tools_spark.streaming.events import drain
    from isilon_hadoop_tools_spark.streaming.neardup import (
        CP_PLAN_SCHEMA,
        compaction_apply_batch,
    )

    ev = _t(spark, sf_dir, "events")
    files = ev.groupBy(
        F.to_date("ts").cast("string").alias("partition"),
        F.pmod(F.col("user_id"), F.lit(40)).alias("file"),
    ).agg(
        (
            F.count(F.lit(1)) * 1024 + F.sum(F.length("event_type"))
        ).alias("size_bytes")
    )
    stream = _sliced_stream(
        spark, files, "compaction_stream", sf_dir, key="file", residues=(2, 1, 0)
    )
    state = _fresh_state(spark, "compaction_index_stream")
    drain(
        stream,
        lambda batch, _id: compaction_apply_batch(
            batch, state, target_bytes=65536
        ),
        None,
    )
    return state.read("cp_plan", CP_PLAN_SCHEMA)


@query(
    "events_compaction_execute",
    oracle=f"""
    WITH files AS (
      SELECT ts::DATE::VARCHAR AS partition, user_id % 40 AS file,
             (count(*) * 1024 + sum(length(event_type)))::BIGINT
               AS size_bytes
      FROM events GROUP BY 1, 2
    ),
    cum AS (
      SELECT partition, file, size_bytes,
             sum(size_bytes) OVER (
               PARTITION BY partition
               ORDER BY size_bytes DESC, file
               ROWS UNBOUNDED PRECEDING
             )::BIGINT AS cum_bytes
      FROM files
    ),
    binned AS (
      SELECT partition, (cum_bytes - size_bytes) // 65536 + 1 AS bin
      FROM cum
    ),
    bins AS (
      SELECT (SELECT count(*) FROM files) AS n_before,
             count(*) AS n_after
      FROM (SELECT partition, bin FROM binned GROUP BY 1, 2)
    ),
    chk AS (
      SELECT bit_xor({FINGERPRINT64_SQL.format(
          expr="event_id::VARCHAR || '|' || user_id::VARCHAR"
               " || '|' || event_type"
      )}) AS c, count(*) AS n
      FROM events
    )
    SELECT n AS n_rows, c AS checksum_before, c AS checksum_after,
           true AS checksums_match, n_before AS n_files_before,
           n_after AS n_files_after, n_after AS files_written,
           true AS layout_matches_plan
    FROM chk, bins
    """,
)
def events_compaction_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction EXECUTION with a self-certifying rewrite (SC9b —
    Delta OPTIMIZE's second phase): the SC9 plan is actually applied —
    rows shuffle on (partition, bin) and a dynamic-partitioned
    parquet commit lays ONE file per plan bin on disk — then the
    order-independent XOR checksum of the read-back must equal the
    original's (content invariance verified, not assumed) and the
    physical file count must equal the plan's bin count. The oracle
    predicts both certificates analytically: the checksum is
    content-derived (so before == after by definition of a correct
    rewrite) and files_written equals the plan's distinct-bin
    count."""
    import os
    import shutil

    from isilon_hadoop_tools_spark.operators.skew import (
        compaction_execute,
        compaction_plan,
    )

    ev = _t(spark, sf_dir, "events")
    files = ev.groupBy(
        F.to_date("ts").cast("string").alias("partition"),
        F.pmod(F.col("user_id"), F.lit(40)).alias("file"),
    ).agg(
        (
            F.count(F.lit(1)) * 1024 + F.sum(F.length("event_type"))
        ).alias("size_bytes")
    )
    plan = compaction_plan(files, "partition", "file", "size_bytes", 65536)
    tag = os.path.basename(sf_dir.rstrip("/"))
    out_dir = f"{_SCRATCH}/compaction_exec_{tag}"
    shutil.rmtree(out_dir, ignore_errors=True)
    return compaction_execute(
        ev,
        plan,
        partition_expr=F.to_date("ts"),
        file_expr=F.pmod(F.col("user_id"), F.lit(40)),
        out_dir=out_dir,
        checksum_cols=["event_id", "user_id", "event_type"],
    )


@query(
    "events_snapshot_time_travel",
    oracle=f"""
    SELECT 1 AS version, count(*)::BIGINT AS n_rows,
           bit_xor({FINGERPRINT64_SQL.format(
               expr="event_id::VARCHAR || '|' || user_id::VARCHAR"
                    " || '|' || event_type"
           )}) AS checksum,
           false AS is_latest
    FROM events WHERE event_type = 'view'
    UNION ALL
    SELECT 2, count(*)::BIGINT,
           bit_xor({FINGERPRINT64_SQL.format(
               expr="event_id::VARCHAR || '|' || user_id::VARCHAR"
                    " || '|' || event_type"
           )}),
           true
    FROM events
    """,
)
def events_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-manifest commits with time travel (SC10): two
    successive atomic snapshot writes of an events projection (v1 =
    the view events, v2 = the full table), then BOTH versions read
    back THROUGH their manifests after v2 committed — proving the
    pointer swap kept v1 readable (time travel) and that reads
    resolve the manifest's exact file list, not the directory. Each
    version is certified by the order-independent XOR checksum the
    oracle recomputes from the base table."""
    import os
    import shutil

    from isilon_hadoop_tools_spark.operators.analytics import (
        table_checksum,
    )
    from isilon_hadoop_tools_spark.operators.snapshots import (
        latest_version,
        snapshot_read,
        snapshot_write,
    )

    ev = _t(spark, sf_dir, "events")
    cols = ["event_id", "user_id", "event_type"]
    proj = ev.select(*cols)
    tag = os.path.basename(sf_dir.rstrip("/"))
    table_dir = f"{_SCRATCH}/snapshot_table_{tag}"
    shutil.rmtree(table_dir, ignore_errors=True)
    snapshot_write(proj.filter(F.col("event_type") == "view"), table_dir)
    snapshot_write(proj, table_dir)
    latest = latest_version(table_dir)
    parts = []
    for v in (1, 2):
        parts.append(
            table_checksum(
                snapshot_read(spark, table_dir, v), cols
            ).select(
                F.lit(v).cast("int").alias("version"),
                "n_rows",
                "checksum",
                F.lit(v == latest).alias("is_latest"),
            )
        )
    return parts[0].unionByName(parts[1])


@query(
    "events_funnel_conversion",
    oracle="""
    WITH first_view AS (
      SELECT user_id, min(ts) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    first_purchase AS (
      SELECT e.user_id, min(e.ts) AS t_purch
      FROM events e JOIN first_view v USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts >= v.t_view
      GROUP BY e.user_id
    )
    SELECT count(*) AS n_viewers,
           sum(CASE WHEN t_purch IS NOT NULL
                     AND t_purch <= t_view + INTERVAL 1 HOUR
                    THEN 1 ELSE 0 END)::BIGINT AS n_converted,
           round(sum(CASE WHEN t_purch IS NOT NULL
                           AND t_purch <= t_view + INTERVAL 1 HOUR
                          THEN 1 ELSE 0 END) / count(*), 6) AS conv_rate
    FROM first_view LEFT JOIN first_purchase USING (user_id)
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→purchase funnel: share of viewers whose first purchase
    lands within 1h of their first view — the event-analytics
    conversion shape. Single-scan form: one keyed aggregation carries
    the first view time and the sorted per-user purchase times, and a
    higher-order array filter picks the first purchase at-or-after the
    first view — no second events scan and no self-join, so at 100 TB
    the fact table moves through exactly one shuffle."""
    ev = _t(spark, sf_dir, "events")
    per_user = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "view", F.col("ts"))
            ).alias("t_view"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("event_type") == "purchase", F.col("ts"))
                )
            ).alias("purchases"),
        )
        .filter(F.col("t_view").isNotNull())
        .withColumn(
            "t_purch",
            F.array_min(
                F.filter("purchases", lambda p: p >= F.col("t_view"))
            ),
        )
    )
    conv = F.when(
        F.col("t_purch").isNotNull()
        & (F.col("t_purch") <= F.col("t_view") + F.expr("INTERVAL 1 HOUR")),
        1,
    ).otherwise(0)
    return per_user.agg(
        F.count(F.lit(1)).alias("n_viewers"),
        F.sum(conv).alias("n_converted"),
        F.round(F.sum(conv) / F.count(F.lit(1)), 6).alias("conv_rate"),
    )


@query(
    "events_weekly_retention",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             datediff('day', f.cohort_week, date_trunc('week', e.ts)) // 7
               AS week_offset
      FROM events e JOIN first_seen f USING (user_id)
    )
    SELECT cohort_week, week_offset::BIGINT AS week_offset,
           count(*) AS n_users
    FROM activity GROUP BY cohort_week, week_offset
    """,
)
def events_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users bucketed by first-seen week,
    counted per active week offset — the classic cohort triangle.
    Two keyed aggregations; the first-seen table is user-dimension
    sized and broadcasts onto the event fact."""
    ev = _t(spark, sf_dir, "events")
    # to_date: Spark date_trunc returns a timestamp while DuckDB's
    # returns a date — align on DATE so the canonicalized values match
    first_seen = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    activity = (
        ev.join(F.broadcast(first_seen), "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(
                    F.to_date(F.date_trunc("week", F.col("ts"))),
                    F.col("cohort_week"),
                )
                / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    )


@query(
    "events_sessions_batch",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN floor(epoch(ts))::BIGINT
                       - floor(epoch(lag(ts) OVER w))::BIGINT > 7200
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING)::BIGINT
               AS session_seq
      FROM flagged
    )
    SELECT user_id, session_seq,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events,
           round(sum(value), 4) AS session_value,
           floor(epoch(max(ts)))::BIGINT - floor(epoch(min(ts)))::BIGINT
             AS duration_sec
    FROM sess GROUP BY user_id, session_seq
    """,
)
def events_sessions_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based batch sessionization (2h inactivity gap) — the batch
    twin of `events_sessionized` (streaming session windows). ONE
    shuffle: the lag window hash-partitions on user_id and the
    per-(user, session) groupBy reuses that partitioning (Catalyst
    plans no second exchange — ClusteredDistribution on a superset of
    the partitioning keys)."""
    from isilon_hadoop_tools_spark.operators.analytics import sessionize

    return sessionize(_t(spark, sf_dir, "events"), gap_minutes=120)


@query(
    "events_value_quantiles",
    oracle="""
    SELECT event_type, 0.25::DOUBLE AS prob,
           round(quantile_cont(value, 0.25), 6) AS quantile
    FROM events GROUP BY event_type
    UNION ALL
    SELECT event_type, 0.5::DOUBLE, round(quantile_cont(value, 0.5), 6)
    FROM events GROUP BY event_type
    UNION ALL
    SELECT event_type, 0.9::DOUBLE, round(quantile_cont(value, 0.9), 6)
    FROM events GROUP BY event_type
    UNION ALL
    SELECT event_type, 0.99::DOUBLE, round(quantile_cont(value, 0.99), 6)
    FROM events GROUP BY event_type
    """,
)
def events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantiles (p25/p50/p90/p99 of event value per
    type), linear interpolation on both engines — exploded to scalar
    rows for the gate. At unbounded group sizes the operator's
    documented swap-in is approx_percentile (mergeable KLL sketch)."""
    from isilon_hadoop_tools_spark.operators.analytics import grouped_quantiles

    return grouped_quantiles(
        _t(spark, sf_dir, "events"), "event_type", "value",
        [0.25, 0.5, 0.9, 0.99],
    )


@query(
    "events_value_quantiles_approx",
    oracle="""
    SELECT event_type, unnest([0.25, 0.5, 0.9])::DOUBLE AS prob,
           count(value)::BIGINT AS n, TRUE AS rank_err_ok
    FROM events GROUP BY event_type
    """,
)
def events_value_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-group quantiles via percentile_approx (EA3's
    unbounded-group swap-in: GK mergeable sketch, map-side partials,
    bounded memory at any group size). Self-certifying gate: the
    output states whether each approximate quantile's measured rank
    error is within the GK bound n/accuracy; the oracle asserts TRUE
    per (event_type, prob), so a hash match certifies the bound —
    the operator's actual contract, since DuckDB has no KLL twin."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        grouped_quantiles_approx,
    )

    return grouped_quantiles_approx(
        _t(spark, sf_dir, "events"), "event_type", "value",
        [0.25, 0.5, 0.9], accuracy=1000,
    )


@query(
    "events_cdc_apply",
    oracle="""
    WITH ranked AS (
      SELECT user_id, ts, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             max(ts) OVER (PARTITION BY user_id) AS last_ts
      FROM events
    )
    SELECT user_id, value, last_ts
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    """,
)
def events_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-log compaction: final state per key = last operation's
    values; keys whose last op is the tombstone ('error' stands in for
    DELETE in the synthetic log) are dropped. Spark side is a single
    max_by aggregation — one shuffle WITH map-side partials (each
    mapper forwards one candidate row per key), vs the oracle's
    row_number window; same result, cheaper plan at 100 TB."""
    from isilon_hadoop_tools_spark.operators.analytics import cdc_apply

    return cdc_apply(
        _t(spark, sf_dir, "events"),
        key="user_id", ts="ts", tiebreak="event_id",
        op_col="event_type", delete_op="error", value_cols=["value"],
    )


@query(
    "events_type_outliers",
    oracle="""
    WITH stats AS (
      SELECT event_type, count(*) AS n, avg(value) AS mu,
             stddev_pop(value) AS sigma
      FROM events GROUP BY event_type
    )
    SELECT e.event_type, max(s.n) AS n,
           round(max(s.mu), 6) AS mean_value,
           round(max(s.sigma), 6) AS stddev_value,
           sum(CASE WHEN abs((e.value - s.mu) / nullif(s.sigma, 0)) > 2.5
                    THEN 1 ELSE 0 END)::BIGINT AS n_outliers
    FROM events e JOIN stats s USING (event_type)
    GROUP BY e.event_type
    """,
)
def events_type_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier detection: group stats aggregated
    once, broadcast back onto the fact, |z| > 2.5 counted — two
    map-side-partial aggregations and a broadcast join, never a
    per-group window (which would funnel each group through one
    partition at 100 TB)."""
    from isilon_hadoop_tools_spark.operators.analytics import zscore_outliers

    return zscore_outliers(
        _t(spark, sf_dir, "events"), threshold=2.5
    )


@query(
    "events_incremental_rollup",
    oracle="""
    SELECT date_trunc('day', ts)::TIMESTAMP AS day, event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS total_value,
           round(sum(value) / count(*), 6) AS avg_value
    FROM events
    GROUP BY date_trunc('day', ts), event_type
    """,
)
def events_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the Spark side
    merges a pre-cutoff 'materialized' partial-state rollup with a
    post-cutoff delta (counts/sums add; avg finalized from merged
    states); the oracle recomputes flat over full history. Matching
    hashes prove delta-merge == recompute — the contract that turns a
    daily 100 TB re-aggregation into a delta-sized job."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        incremental_rollup,
    )

    return incremental_rollup(
        _t(spark, sf_dir, "events"), cutoff="2024-01-16 00:00:00"
    )


@query(
    "events_daily_gapfill",
    oracle="""
    WITH daily AS (
      SELECT user_id, date_trunc('day', ts) AS day, count(*) AS n
      FROM events GROUP BY user_id, date_trunc('day', ts)
    ),
    span AS (
      SELECT user_id, min(day) AS d0, max(day) AS d1
      FROM daily GROUP BY user_id
    ),
    grid AS (
      SELECT user_id,
             unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
      FROM span
    )
    SELECT g.user_id, g.day, coalesce(d.n, 0)::BIGINT AS n_events
    FROM grid g LEFT JOIN daily d USING (user_id, day)
    """,
)
def events_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: one row per user per day of the user's
    active span, zero-filled — the resample primitive. The day grid
    is span-sized sequence+explode per key (distributed, never a
    global calendar cross join)."""
    from isilon_hadoop_tools_spark.operators.analytics import gapfill_daily

    return gapfill_daily(_t(spark, sf_dir, "events"))


@query(
    "events_type_pivot",
    oracle="""
    SELECT user_id,
           sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
             AS click,
           sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT
             AS error,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
             AS purchase,
           sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT
             AS signup,
           sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT
             AS view
    FROM events GROUP BY user_id
    """,
)
def events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot long-format event types to wide per-user count columns —
    explicit value list, so no distinct-collection pre-pass and a
    static schema: ONE shuffle with map-side partial pivot
    aggregation (the oracle is the equivalent conditional agg)."""
    from isilon_hadoop_tools_spark.operators.analytics import pivot_counts

    return pivot_counts(
        _t(spark, sf_dir, "events"), "user_id", "event_type", _PIVOT_TYPES
    )


@query(
    "events_last_purchase_locf",
    oracle="""
    SELECT event_id, user_id, event_type,
           last_value(CASE WHEN event_type = 'purchase' THEN value END
                      IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_purchase_value
    FROM events
    """,
)
def events_last_purchase_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF state-as-of-event-time fill (EA10b): every event carries
    the user's most recent purchase amount at that moment — NULL
    until the first purchase, never back-filled from the future."""
    from isilon_hadoop_tools_spark.operators.analytics import locf_fill

    ev = _t(spark, sf_dir, "events")
    return locf_fill(
        ev,
        key="user_id",
        ts="ts",
        value=F.when(F.col("event_type") == "purchase", F.col("value")),
        tiebreak="event_id",
        out_col="last_purchase_value",
    ).select("event_id", "user_id", "event_type", "last_purchase_value")


@query(
    "events_ab_lift",
    oracle="""
    WITH v AS (
      SELECT event_type, value,
             (('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT) % 2 = 0
               AS arm_a
      FROM events
    ),
    g AS (
      SELECT event_type,
             count(value) FILTER (arm_a) AS n_a,
             count(value) FILTER (NOT arm_a) AS n_b,
             avg(value) FILTER (arm_a) AS ma,
             avg(value) FILTER (NOT arm_a) AS mb,
             var_samp(value) FILTER (arm_a) AS va,
             var_samp(value) FILTER (NOT arm_a) AS vb
      FROM v GROUP BY event_type
    )
    SELECT event_type, n_a, n_b,
           round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
           round(mb - ma, 6) AS lift,
           round((mb - ma) / sqrt(va / n_a + vb / n_b), 6) AS z
    FROM g
    """,
)
def events_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout (EA25): deterministic md5 50/50 arm
    assignment of users, Welch z-score on the per-event-type metric
    mean — rerun-stable arms, one conditional-aggregate scan."""
    from isilon_hadoop_tools_spark.operators.analytics import ab_lift_zscore

    return ab_lift_zscore(
        _t(spark, sf_dir, "events"), "user_id", "event_type", "value"
    )


@query(
    "events_theil_sen_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type AS g, date_trunc('day', ts) AS d, count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.g, a.d AS da, b.d AS db,
             (b.c - a.c)::DOUBLE / date_diff('day', a.d, b.d) AS slope
      FROM daily a JOIN daily b ON a.g = b.g AND a.d < b.d
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY g
                                ORDER BY slope, da, db) AS rn,
             count(*) OVER (PARTITION BY g) AS np
      FROM pairs
    ),
    med AS (SELECT g, np, slope FROM ranked WHERE rn = (np - 1) // 2 + 1),
    nd AS (SELECT g, count(*) AS n_days FROM daily GROUP BY g)
    SELECT nd.g AS event_type, n_days,
           coalesce(np, 0) AS n_pairs,
           round(slope, 6) AS ts_slope
    FROM nd LEFT JOIN med ON med.g = nd.g
    """,
)
def events_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust volume trend per event type (EA23b): median
    of all pairwise day-slopes over the daily counts — one anomalous
    day drags EA23's OLS slope but not this one (29% breakdown). The
    pair table is bounded by the time grain (C(days,2) per type),
    never the corpus; integer day counts make every slope an exact
    division, so the median selection is index-exact cross-engine.
    Single-day groups are REPORTED as (n_days=1, n_pairs=0, NULL)
    rather than dropped — both sides drive the output from the day
    table via a left join."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        theil_sen_trend,
    )

    return theil_sen_trend(_t(spark, sf_dir, "events"), "event_type", "ts")


@query(
    "events_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT event_type AS g, date_trunc('day', ts) AS d, count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    scored AS (
      SELECT g, d,
             count(*) OVER (PARTITION BY g)
               * sum(c) OVER (PARTITION BY g ORDER BY d
                              ROWS UNBOUNDED PRECEDING)
             - row_number() OVER (PARTITION BY g ORDER BY d)
               * sum(c) OVER (PARTITION BY g) AS t,
             count(*) OVER (PARTITION BY g) AS n_days
      FROM daily
    )
    SELECT g AS event_type, n_days, d::TIMESTAMP AS cp_day,
           round(abs(t)::DOUBLE / n_days, 6) AS cusum_abs,
           CASE WHEN t < 0 THEN 'up' WHEN t > 0 THEN 'down'
                ELSE 'none' END AS direction
    FROM (SELECT *, row_number() OVER (PARTITION BY g
                                       ORDER BY abs(t) DESC, d) AS rn
          FROM scored)
    WHERE rn = 1
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint estimate per event type (EA23c, Page 1954)
    — completing the trend family: EA23 fits a slope, EA23b a robust
    slope, this finds the BREAK. The cumulative-deviation statistic
    is compared as the exact integer rescaling n·cumsum − i·total
    (= n·S_i — no rational mean ever materializes), argmax |T| with
    earliest-day ties; direction from the sign (a trough means the
    level stepped UP after cp_day). Three window passes over the
    time-grain-bounded day table sharing one partitioning."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        cusum_changepoint,
    )

    return cusum_changepoint(_t(spark, sf_dir, "events"), "event_type", "ts")


@query(
    "events_last_touch_attribution",
    oracle="""
    WITH w AS (
      SELECT user_id, ts, event_id, event_type, value,
             last_value(CASE WHEN event_type IN ('view', 'click')
                             THEN floor(epoch(ts))::BIGINT END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS lt_ts,
             last_value(CASE WHEN event_type IN ('view', 'click')
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS lt_type
      FROM events
    ),
    conv AS (
      SELECT CASE WHEN lt_ts IS NOT NULL
                       AND floor(epoch(ts))::BIGINT - lt_ts <= 86400
                  THEN lt_type ELSE 'direct' END AS channel,
             value
      FROM w WHERE event_type = 'purchase'
    )
    SELECT channel, count(*) AS n_conversions,
           round(sum(value), 4) AS attributed_value,
           round(count(*)::DOUBLE / sum(count(*)) OVER (), 6) AS share
    FROM conv GROUP BY channel
    """,
)
def events_last_touch_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Last-touch conversion attribution (EA30): every purchase
    credits the user's most recent view/click within 24 h (strictly
    earlier in (ts, event_id) order — a same-timestamp lower-id touch
    counts; inclusive at exactly the lookback; second-resolution
    epochs so both engines truncate identically), else 'direct'. One
    user-partitioned window shuffle; the channel rollup runs on
    conversion rows only."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        last_touch_attribution,
    )

    return last_touch_attribution(
        _t(spark, sf_dir, "events"),
        "user_id", "ts", "event_id", "event_type", "value",
        touch_types=["view", "click"],
        conversion_type="purchase",
        lookback_hours=24,
    )


@query(
    "events_linear_attribution",
    oracle="""
    WITH touches AS (
      SELECT user_id AS u, floor(epoch(ts))::BIGINT AS tts,
             event_id AS tid, event_type AS ttype
      FROM events WHERE event_type IN ('view', 'click')
    ),
    convs AS (
      SELECT user_id AS u, floor(epoch(ts))::BIGINT AS cts,
             event_id AS cid, value AS v
      FROM events WHERE event_type = 'purchase'
    ),
    joined AS (
      SELECT c.u, c.cts, c.cid, c.v, t.ttype
      FROM convs c LEFT JOIN touches t
        ON t.u = c.u
       AND (t.tts < c.cts OR (t.tts = c.cts AND t.tid < c.cid))
       AND c.cts - t.tts <= 86400
    ),
    weighted AS (
      SELECT coalesce(ttype, 'direct') AS channel,
             CASE WHEN ttype IS NULL THEN 1.0
                  ELSE 1.0 / (count(ttype) OVER (PARTITION BY u, cid))
             END AS w,
             v
      FROM joined
    )
    SELECT channel, round(sum(w), 6) AS credit,
           round(sum(v * w), 4) AS attributed_value
    FROM weighted GROUP BY channel
    """,
)
def events_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution (EA30b): every view/click inside
    the 24 h lookback splits the purchase's credit equally (the
    fair-share companion of the last-touch model — same pinned
    row-order / inclusive-boundary / second-epoch semantics), no-touch
    purchases credit 'direct' in full. Conversions LEFT-join touches
    per user with the window predicate inside the join; one
    per-conversion count window; one channel fold."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        linear_attribution,
    )

    return linear_attribution(
        _t(spark, sf_dir, "events"),
        "user_id", "ts", "event_id", "event_type", "value",
        touch_types=["view", "click"],
        conversion_type="purchase",
        lookback_hours=24,
    )


@query(
    "events_time_decay_attribution",
    oracle="""
    WITH touches AS (
      SELECT user_id AS u, floor(epoch(ts))::BIGINT AS tts,
             event_id AS tid, event_type AS ttype
      FROM events WHERE event_type IN ('view', 'click')
    ),
    convs AS (
      SELECT user_id AS u, floor(epoch(ts))::BIGINT AS cts,
             event_id AS cid, value AS v
      FROM events WHERE event_type = 'purchase'
    ),
    joined AS (
      SELECT c.u, c.cts, c.cid, c.v, t.tts, t.ttype
      FROM convs c LEFT JOIN touches t
        ON t.u = c.u
       AND (t.tts < c.cts OR (t.tts = c.cts AND t.tid < c.cid))
       AND c.cts - t.tts <= 86400
    ),
    decayed AS (
      SELECT u, cid, v, ttype,
             pow(2.0, -((cts - tts)::DOUBLE) / 21600.0) AS d
      FROM joined
    ),
    weighted AS (
      SELECT coalesce(ttype, 'direct') AS channel,
             CASE WHEN ttype IS NULL THEN 1.0
                  ELSE d / (sum(CASE WHEN ttype IS NOT NULL THEN d END)
                              OVER (PARTITION BY u, cid))
             END AS w,
             v
      FROM decayed
    )
    SELECT channel, round(sum(w), 6) AS credit,
           round(sum(v * w), 4) AS attributed_value
    FROM weighted GROUP BY channel
    """,
)
def events_time_decay_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-decay attribution (EA30c), completing the model trio:
    each qualifying touch's credit ∝ 2^(−age/6h), normalized per
    purchase — recency-weighted shares between last-touch's
    winner-take-all and linear's equal split. Same pinned semantics
    and join shape as the other two models; integer-second ages and
    shared-libm pow keep the weights bit-identical cross-engine."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        time_decay_attribution,
    )

    return time_decay_attribution(
        _t(spark, sf_dir, "events"),
        "user_id", "ts", "event_id", "event_type", "value",
        touch_types=["view", "click"],
        conversion_type="purchase",
        lookback_hours=24,
        half_life_hours=6,
    )


@query(
    "events_psi_drift",
    oracle="""
    WITH banded AS (
      SELECT CASE WHEN value < 50 THEN 0 WHEN value < 100 THEN 1
                  WHEN value < 150 THEN 2 WHEN value < 200 THEN 3
                  WHEN value < 250 THEN 4 WHEN value < 300 THEN 5
                  WHEN value < 350 THEN 6 WHEN value < 400 THEN 7
                  WHEN value < 450 THEN 8 ELSE 9 END AS band,
             CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS b,
             CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS c
      FROM events
    ),
    counts AS (
      SELECT band, sum(b)::BIGINT AS n_base, sum(c)::BIGINT AS n_cur
      FROM banded GROUP BY band
    ),
    spine AS (SELECT unnest(generate_series(0, 9))::INT AS band),
    filled AS (
      SELECT s.band, coalesce(n_base, 0) AS n_base,
             coalesce(n_cur, 0) AS n_cur
      FROM spine s LEFT JOIN counts USING (band)
    ),
    tot AS (SELECT sum(n_base)::BIGINT AS tb, sum(n_cur)::BIGINT AS tc
            FROM filled),
    terms AS (
      SELECT band, n_base, n_cur,
             (n_base + 1) / (tb + 10)::DOUBLE AS p,
             (n_cur + 1) / (tc + 10)::DOUBLE AS q
      FROM filled, tot
    )
    SELECT band, n_base, n_cur,
           round(p, 6) AS p_base, round(q, 6) AS p_cur,
           round((p - q) * ln(p / q), 6) AS psi_term,
           round(sum((p - q) * ln(p / q)) OVER (), 6) AS psi_total
    FROM terms
    """,
)
def events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index (EA29) — the data-drift release
    gate: value-distribution shift between the first and second half
    of the events month over 10 fixed bands, add-one smoothing so
    silent bands stay finite (and still APPEAR, via the band spine
    join). One fact scan; everything after runs on the 10-row band
    table. The conventional gate read: <0.1 stable, >0.25 shifted."""
    from isilon_hadoop_tools_spark.operators.analytics import psi_drift

    ev = _t(spark, sf_dir, "events")
    boundary = F.lit("2024-01-16").cast("timestamp")
    return psi_drift(
        ev,
        "value",
        in_base=F.col("ts") < boundary,
        in_cur=F.col("ts") >= boundary,
        breaks=[50, 100, 150, 200, 250, 300, 350, 400, 450],
    )


@query(
    "events_js_divergence",
    oracle="""
    WITH banded AS (
      SELECT CASE WHEN value < 50 THEN 0 WHEN value < 100 THEN 1
                  WHEN value < 150 THEN 2 WHEN value < 200 THEN 3
                  WHEN value < 250 THEN 4 WHEN value < 300 THEN 5
                  WHEN value < 350 THEN 6 WHEN value < 400 THEN 7
                  WHEN value < 450 THEN 8 ELSE 9 END AS band,
             CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS b,
             CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS c
      FROM events
    ),
    counts AS (
      SELECT band, sum(b)::BIGINT AS n_base, sum(c)::BIGINT AS n_cur
      FROM banded GROUP BY band
    ),
    spine AS (SELECT unnest(generate_series(0, 9))::INT AS band),
    filled AS (
      SELECT s.band, coalesce(n_base, 0) AS n_base,
             coalesce(n_cur, 0) AS n_cur
      FROM spine s LEFT JOIN counts USING (band)
    ),
    tot AS (SELECT sum(n_base)::BIGINT AS tb, sum(n_cur)::BIGINT AS tc
            FROM filled),
    terms AS (
      SELECT band, n_base, n_cur,
             (n_base + 1) / (tb + 10)::DOUBLE AS p,
             (n_cur + 1) / (tc + 10)::DOUBLE AS q
      FROM filled, tot
    )
    SELECT band, n_base, n_cur,
           round(p, 6) AS p_base, round(q, 6) AS p_cur,
           round((p * ln(p / ((p + q) / 2))
                  + q * ln(q / ((p + q) / 2))) / 2, 6) AS js_term,
           round(sum((p * ln(p / ((p + q) / 2))
                      + q * ln(q / ((p + q) / 2))) / 2) OVER (), 6)
             AS js_total
    FROM terms
    """,
)
def events_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence drift gate (EA29h) — the bounded,
    symmetric companion to `events_psi_drift` on the same 10 fixed
    value bands and month-half cohorts: ``½KL(P‖M) + ½KL(Q‖M)``,
    capped at ln 2 so the gate threshold is portable across corpora
    (the form drift reports for The Pile / RedPajama quote). One fact
    scan with map-side partial counts; everything after runs on the
    10-row band table."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        js_divergence_drift,
    )

    ev = _t(spark, sf_dir, "events")
    boundary = F.lit("2024-01-16").cast("timestamp")
    return js_divergence_drift(
        ev,
        "value",
        in_base=F.col("ts") < boundary,
        in_cur=F.col("ts") >= boundary,
        breaks=[50, 100, 150, 200, 250, 300, 350, 400, 450],
    )


@query("events_psi_stream", oracle=None)
def events_psi_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor (EA29 x §2.9): the CURRENT side of the
    PSI gate maintained continuously — the events stream's second-half
    rows fold fixed-band counts into ParquetState via the SAME
    horizon-compacted marker discipline as the CMS stream (sum-merge
    is not replay-idempotent; one atomic swap commits counts +
    markers, O(1) marker state), the baseline histogram is a batch
    table, and the readout is the shared `psi_readout` formula over
    the join. No checkpoint (replayed batch ids are marker-skipped —
    pinned by the replay tests in tests/test_streaming.py; the bench
    drains once); the result must
    equal the BATCH `events_psi_drift` gate row for row (that
    query's oracle is attached below after registration)."""
    from isilon_hadoop_tools_spark import streaming
    from isilon_hadoop_tools_spark.operators.analytics import psi_readout
    from isilon_hadoop_tools_spark.streaming.events import (
        banded_count_stream_into_state,
    )

    boundary = F.lit("2024-01-16").cast("timestamp")
    state = _fresh_state(spark, "events_psi_stream")
    ev = streaming.read_events_stream(spark, sf_dir).filter(
        F.col("ts") >= boundary
    )
    banded_count_stream_into_state(ev, state, "value", _PSI_BREAKS)
    cur = (
        state.read("band_counts", "row_id LONG, bucket LONG, cnt LONG")
        .filter(F.col("row_id") >= 0)
        .select(
            F.col("bucket").cast("int").alias("band"),
            F.col("cnt").alias("n_cur"),
        )
    )
    v = F.col("value")
    band = None
    for i, b in enumerate(_PSI_BREAKS):
        cond = v < F.lit(float(b))
        band = F.when(cond, F.lit(i)) if band is None else band.when(
            cond, F.lit(i)
        )
    band = band.otherwise(F.lit(len(_PSI_BREAKS))).cast("int")
    base = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts") < boundary)
        .select(band.alias("band"))
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_base"))
    )
    counts = (
        base.join(cur, "band", "full")
        .fillna(0, subset=["n_base", "n_cur"])
    )
    return psi_readout(counts, len(_PSI_BREAKS) + 1)


# the streaming monitor's contract IS the batch gate: same oracle
REGISTRY["events_psi_stream"].oracle = REGISTRY["events_psi_drift"].oracle


@query(
    "events_ks_drift",
    oracle="""
    WITH counts AS (
      SELECT value AS v,
             sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                      THEN 1 ELSE 0 END)::HUGEINT AS nb,
             sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                      THEN 1 ELSE 0 END)::HUGEINT AS nc
      FROM events WHERE value IS NOT NULL GROUP BY value
    ),
    cum AS (
      SELECT v,
             sum(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cb,
             sum(nc) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cc,
             sum(nb) OVER () AS tb,
             sum(nc) OVER () AS tc
      FROM counts
    ),
    diff AS (SELECT v, tb, tc, abs(cb * tc - cc * tb) AS num FROM cum)
    SELECT tb::BIGINT AS n_base, tc::BIGINT AS n_cur, v AS at_value,
           round(num::DOUBLE / (tb * tc)::DOUBLE, 6) AS ks_stat
    FROM diff ORDER BY num DESC, v ASC LIMIT 1
    """,
)
def events_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov drift gate (EA29c) — the
    PSI gate's companion when fixed bands are the wrong lens (heavy
    tails, unknown support): sup ECDF difference between the first
    and second half of the events month, evaluated exactly at every
    distinct value. The argmax is decided in DECIMAL(38,0) integer
    arithmetic (ties to the smallest value); only the final 6-dp
    division is floating point. One fact scan with map-side combine;
    all window work runs on the distinct-value table."""
    from isilon_hadoop_tools_spark.operators.analytics import ks_drift

    ev = _t(spark, sf_dir, "events")
    boundary = F.lit("2024-01-16").cast("timestamp")
    return ks_drift(
        ev,
        "value",
        in_base=F.col("ts") < boundary,
        in_cur=F.col("ts") >= boundary,
    )


@query(
    "events_ordered_funnel",
    oracle="""
    WITH base AS (SELECT user_id, event_type, ts FROM events),
    w1 AS (
      SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
                  OVER (PARTITION BY user_id) AS t0
      FROM base
    ),
    w2 AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND ts > t0
                         THEN ts END)
                  OVER (PARTITION BY user_id) AS t1
      FROM w1
    ),
    w3 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t1
                         THEN ts END)
                  OVER (PARTITION BY user_id) AS t2
      FROM w2
    ),
    u AS (
      SELECT user_id, max(t0) AS t0, max(t1) AS t1, max(t2) AS t2
      FROM w3 GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           count(t0) AS n_step1, count(t1) AS n_step2,
           count(t2) AS n_step3,
           round(count(t0)::DOUBLE / count(*), 6) AS rate_step1,
           round(count(t1)::DOUBLE / count(*), 6) AS rate_step2,
           round(count(t2)::DOUBLE / count(*), 6) AS rate_step3
    FROM u
    """,
)
def events_ordered_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly ordered view → click → purchase funnel (EA1c): each
    step must occur AFTER the previous step's earliest qualifying
    event (greedy-earliest chaining, provably maximal) — the
    sequence-enforcing form EA1's horizon funnel cannot express. All
    three steps ride ONE user-hash partitioning as chained
    conditional-min windows; no join-backs."""
    from isilon_hadoop_tools_spark.operators.analytics import ordered_funnel

    return ordered_funnel(
        _t(spark, sf_dir, "events"), "user_id", "event_type", "ts",
        ["view", "click", "purchase"],
    )


@query(
    "events_trimmed_mean",
    oracle="""
    WITH bounds AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           count(e.value) AS n,
           sum(CASE WHEN e.value >= lo AND e.value <= hi
                    THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           round(avg(e.value), 6) AS mean,
           round(avg(CASE WHEN e.value >= lo AND e.value <= hi
                          THEN e.value END), 6) AS trimmed_mean
    FROM events e JOIN bounds USING (event_type)
    GROUP BY e.event_type
    """,
)
def events_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5% two-sided trimmed mean per event type (EA26b) — the robust
    location estimate metric pipelines publish: exact interpolated
    percentile bounds in one grouped agg, broadcast back onto the
    fact, one conditional aggregation; two map-side-partial scans,
    never a per-group sort/window."""
    from isilon_hadoop_tools_spark.operators.analytics import trimmed_mean

    return trimmed_mean(
        _t(spark, sf_dir, "events"), "event_type", "value", "event_id",
        trim=0.05,
    )


@query(
    "events_mom_mean",
    oracle="""
    WITH b AS (
      SELECT event_type, value,
             (('0x' || substr(md5(event_id::VARCHAR), 1, 8))::BIGINT) % 9
               AS bk
      FROM events
    ),
    bm AS (
      SELECT event_type, bk, sum(value) AS s, count(value) AS n,
             sum(value) / count(value) AS m
      FROM b GROUP BY event_type, bk
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type ORDER BY m, bk)
               AS rn,
             count(*) OVER (PARTITION BY event_type) AS nb,
             sum(n) OVER (PARTITION BY event_type) AS tn,
             sum(s) OVER (PARTITION BY event_type) AS ts
      FROM bm
    )
    SELECT event_type, tn::BIGINT AS n, nb AS n_buckets,
           round(ts / tn, 6) AS mean, round(m, 6) AS mom_mean
    FROM ranked WHERE rn = (nb - 1) // 2 + 1
    """,
)
def events_mom_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-of-means robust mean per event type (EA26):
    deterministic md5 sub-sample bucketing, lower median of bucket
    means — heavy-tail-proof where the plain mean is not; one scan,
    one (group, bucket) shuffle."""
    from isilon_hadoop_tools_spark.operators.analytics import median_of_means

    return median_of_means(
        _t(spark, sf_dir, "events"), "event_type", "value", "event_id",
        buckets=9,
    )


@query("events_value_bootstrap_ci", oracle=_pboot_oracle())
def events_value_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap CI for the per-type mean (EA27, Chamandy et
    al. 2012): 20 resamples as deterministic integer-threshold
    Poisson(1) weights riding ONE scan as conditional sums — the only
    bootstrap shape that works on a distributed fact table (classical
    resampling would shuffle per replicate); CI from exact order
    statistics of the replicate means."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        poisson_bootstrap_ci,
    )

    return poisson_bootstrap_ci(
        _t(spark, sf_dir, "events"), "event_type", "value", "event_id",
        replicates=20, alpha=0.05,
    )


@query(
    "events_multigrain_rollup",
    oracle="""
    SELECT 'hour' AS grain, date_trunc('hour', ts) AS bucket,
           count(*) AS n_events, round(sum(value), 2) AS sum_value
    FROM events GROUP BY date_trunc('hour', ts)
    UNION ALL
    SELECT 'day', date_trunc('day', ts)::TIMESTAMP,
           count(*), round(sum(value), 2)
    FROM events GROUP BY date_trunc('day', ts)
    UNION ALL
    SELECT 'week', date_trunc('week', ts)::TIMESTAMP,
           count(*), round(sum(value), 2)
    FROM events GROUP BY date_trunc('week', ts)
    """,
)
def events_multigrain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity continuous aggregate: one
    fact scan aggregated at hour AND day AND week grains via GROUPING
    SETS — Catalyst's Expand replicates each row once per grain before
    the (partial-agg) shuffle, so the fact is read once, not three
    times (the oracle's three-branch UNION is the semantic spec, not
    the plan). This is the TimescaleDB/Druid rollup primitive for
    time-series file skipping at 100 TB."""
    ev = _t(spark, sf_dir, "events")
    grained = ev.select(
        F.date_trunc("hour", "ts").alias("h"),
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("week", "ts").alias("wk"),
        "value",
    )
    gs = grained.groupingSets(
        [["h"], ["d"], ["wk"]], "h", "d", "wk"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    return gs.select(
        F.when(F.col("h").isNotNull(), "hour")
        .when(F.col("d").isNotNull(), "day")
        .otherwise("week")
        .alias("grain"),
        F.coalesce("h", "d", "wk").alias("bucket"),
        "n_events",
        "sum_value",
    )


@query(
    "events_stream_static_join",
    oracle="""
    SELECT date_trunc('hour', e.ts) AS hour,
           c.c_nationkey AS nationkey,
           count(*) AS n_events,
           round(sum(e.value), 2) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def events_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment (§2.9): streaming events
    joined to the STATIC customer dimension (state-free join — the
    static side never enters the state store), then a watermarked
    hourly rollup per nation. Drained with trigger(availableNow);
    must equal the batch join oracle."""
    from isilon_hadoop_tools_spark import streaming

    ev = streaming.read_events_stream(spark, sf_dir)
    dim = _t(spark, sf_dir, "customer")
    return streaming.run_available_now(
        streaming.static_enrich_rollup_stream(ev, dim)
    )


@query(
    "events_week_from_day_rollup",
    oracle="""
    SELECT date_trunc('week', ts)::TIMESTAMP AS week, event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY date_trunc('week', ts), event_type
    """,
)
def events_week_from_day_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup reuse (the continuous-aggregate hierarchy): the weekly
    answer is computed FROM the daily rollup's mergeable states
    (counts and sums re-aggregate; week boundaries align with days),
    while the oracle recomputes from raw events — matching hashes
    prove the day→week re-aggregation is lossless. At 100 TB this is
    the difference between scanning 365 daily-rollup rows per key and
    re-scanning a year of raw facts."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("value").alias("_sum"),
    )
    return (
        daily.groupBy(
            F.date_trunc("week", "day").alias("week"), "event_type"
        )
        .agg(
            F.sum("_n").alias("n_events"),
            F.round(F.sum("_sum"), 4).alias("total_value"),
        )
    )


@query("events_hll_overlap", oracle=_hll_overlap_oracle())
def events_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set algebra (L36b): audience overlap between high-value
    clickers and high-value viewers by inclusion-exclusion —
    est(A) + est(B) − est(A ∪ B) with the union as the exact
    register max-merge. The cohort-overlap readout when key sets are
    too large to materialize; each side is m registers at any scale.
    This query runs the DIAGNOSTIC mode (include_exact=True) so the
    realized error is part of the checked contract — production
    default is sketch-only."""
    from isilon_hadoop_tools_spark.operators.sketches import (
        hll_intersection_estimate,
    )

    ev = _t(spark, sf_dir, "events")
    return hll_intersection_estimate(
        ev,
        "user_id",
        (F.col("event_type") == "click") & (F.col("value") >= 700),
        (F.col("event_type") == "view") & (F.col("value") >= 700),
        b=_HLL_B,
        include_exact=True,
    )


@query(
    "events_hll_merge_daily",
    oracle=f"""
    WITH {_HLL_REG_SQL},
    agg AS (
      SELECT count(*) AS v_filled,
             sum(pow(2.0, -rho)) AS s_filled
      FROM regs
    )
    SELECT {_HLL_M} AS m,
           round(CASE
             WHEN ({_alpha_sql()} * {_HLL_M * _HLL_M}) /
                  (s_filled + ({_HLL_M} - v_filled)) <= {2.5 * _HLL_M}
                  AND ({_HLL_M} - v_filled) > 0
             THEN {_HLL_M}.0 * ln({_HLL_M}.0 / ({_HLL_M} - v_filled))
             ELSE ({_alpha_sql()} * {_HLL_M * _HLL_M}) /
                  (s_filled + ({_HLL_M} - v_filled))
           END, 4) AS est_distinct
    FROM agg
    """,
)
def events_hll_merge_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL mergeability proof (L36's core scale property): the Spark
    side builds an INDEPENDENT register table per calendar day and
    merges them (elementwise max); the oracle estimates in one pass
    over all events. Matching hashes prove merge == single-pass — the
    contract that lets 100 TB shards sketch independently and combine
    losslessly (max is associative, commutative, idempotent)."""
    from isilon_hadoop_tools_spark.functions.hashing import stable_hash32
    from isilon_hadoop_tools_spark.operators.sketches import (
        hll_estimate_from_registers,
    )

    ev = _t(spark, sf_dir, "events")
    # per-day registers and the cross-day merge in ONE scan: a
    # two-level max aggregation — (day, bucket) registers first (what
    # each daily shard would persist), then the elementwise max across
    # days. hll_merge() is the same fold over materialized shard
    # tables (unit-tested); here the whole hierarchy stays in one job.
    m = 1 << _HLL_B
    h = stable_hash32(F.col("user_id").cast("string"))
    w = F.floor(h / m)
    rho = F.when(w == 0, F.lit(32 - _HLL_B + 1)).otherwise(
        (32 - _HLL_B) - F.floor(F.log2(w))
    )
    per_day = (
        ev.select(
            F.date_trunc("day", "ts").alias("day"),
            F.pmod(h, F.lit(m)).alias("bucket"),
            rho.alias("_rho"),
        )
        .groupBy("day", "bucket")
        .agg(F.max("_rho").cast("long").alias("rho"))
    )
    merged = per_day.groupBy("bucket").agg(F.max("rho").alias("rho"))
    return hll_estimate_from_registers(merged, b=_HLL_B)


@query(
    "events_quantile_sketch",
    oracle=f"""
    WITH sampled AS (
      SELECT value FROM (
        SELECT value,
               row_number() OVER (
                 ORDER BY {stable_hash32_sql("event_id::VARCHAR")},
                          event_id) AS rn
        FROM events
      ) WHERE rn <= {_KMV_K}
    )
    SELECT 0.5::DOUBLE AS prob,
           round(quantile_cont(value, 0.5), 6) AS q_est,
           (SELECT round(quantile_cont(value, 0.5), 6) FROM events)
             AS q_exact
    FROM sampled
    UNION ALL
    SELECT 0.9::DOUBLE,
           round(quantile_cont(value, 0.9), 6),
           (SELECT round(quantile_cont(value, 0.9), 6) FROM events)
    FROM sampled
    """,
)
def events_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable approximate quantiles via the deterministic KMV
    bottom-k sample (the verifiable stand-in for KLL/t-digest): the
    512 rows with the smallest row-key hash form a uniform sample —
    distributed as per-partition heaps (TakeOrderedAndProject, never
    a full sort), mergeable (bottom-k of shard bottom-k's), and
    byte-checkable cross-engine, unlike engine-internal sketches.
    Output compares the sample quantiles with the exact population
    quantiles."""
    from isilon_hadoop_tools_spark.operators.sketches import kmv_sample

    ev = _t(spark, sf_dir, "events")
    sample = kmv_sample(ev.select("event_id", "value"), "event_id", _KMV_K)
    probs = [0.5, 0.9]
    plist = ", ".join(str(p) for p in probs)
    est = sample.agg(
        F.expr(f"percentile(value, array({plist}))").alias("_qs")
    )
    exact = ev.agg(
        F.expr(f"percentile(value, array({plist}))").alias("_ex")
    )
    parr = F.array(*[F.lit(float(p)) for p in probs])
    return (
        est.crossJoin(exact)
        .select(
            F.posexplode(F.arrays_zip("_qs", "_ex")).alias("_pos", "_z")
        )
        .select(
            F.element_at(parr, F.col("_pos") + 1).alias("prob"),
            F.round(F.col("_z._qs"), 6).alias("q_est"),
            F.round(F.col("_z._ex"), 6).alias("q_exact"),
        )
    )


@query("events_bloom_zone_skipping", oracle=_bloom_zone_oracle())
def events_bloom_zone_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter zone skipping (SC8c) — equality-probe pruning
    where min/max zone maps collapse: the fixture key is a HASHED
    per-(day, user-residue) id (4 distinct keys per day zone, spread
    across the 32-bit domain — the tenant/session-id shape), so every
    zone's [min, max] spans everything and range skipping reads the
    whole table, while the 63-bit per-zone Bloom prunes every
    non-matching day up to the measured false-positive rate. Both
    strategies ride ONE aggregation for a head-to-head readout, and
    the certificate proves no matching rows live in bloom-skipped
    zones (false positives only, never false negatives)."""
    from isilon_hadoop_tools_spark.functions.hashing import stable_hash32
    from isilon_hadoop_tools_spark.operators.skew import bloom_zone_report

    ev = _t(spark, sf_dir, "events").withColumn(
        "skey",
        stable_hash32(
            F.concat(
                F.dayofmonth("ts").cast("string"),
                F.lit(":"),
                F.pmod("user_id", F.lit(4)).cast("string"),
            )
        ),
    )
    return bloom_zone_report(
        ev, F.date_trunc("day", F.col("ts")), "skey", _BLOOM_PROBE
    )


@query(
    "events_zone_skipping",
    oracle="""
    WITH zones AS (
      SELECT date_trunc('day', ts) AS z,
             min(event_id) AS mn, max(event_id) AS mx,
             count(*) AS n,
             sum(CASE WHEN event_id BETWEEN 1000 AND 2000
                      THEN 1 ELSE 0 END) AS nm
      FROM events GROUP BY z
    )
    SELECT count(*) AS n_zones,
           sum(CASE WHEN mx >= 1000 AND mn <= 2000 THEN 1 ELSE 0 END)
             ::BIGINT AS zones_scanned,
           sum(n)::BIGINT AS rows_total,
           sum(CASE WHEN mx >= 1000 AND mn <= 2000 THEN n ELSE 0 END)
             ::BIGINT AS rows_scanned,
           sum(nm)::BIGINT AS rows_matching,
           round(1.0 - sum(CASE WHEN mx >= 1000 AND mn <= 2000
                                THEN n ELSE 0 END)::DOUBLE / sum(n), 6)
             AS skip_fraction,
           sum(CASE WHEN NOT (mx >= 1000 AND mn <= 2000)
                    THEN nm ELSE 0 END) = 0 AS certificate_ok
    FROM zones
    """,
)
def events_zone_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data skipping (SC8): day zones over the events table,
    predicate ``event_id BETWEEN 1000 AND 2000`` — event ids are
    insert-ordered, so min/max footer stats on a date layout prune
    almost every zone (the clustered-but-not-partitioned case
    partition pruning can't touch). One scan; the in-query
    certificate proves zero matching rows live in skipped zones."""
    from isilon_hadoop_tools_spark.operators.skew import zone_prune_report

    ev = _t(spark, sf_dir, "events")
    return zone_prune_report(
        ev, F.date_trunc("day", F.col("ts")), "event_id", 1000, 2000
    )


@query(
    "events_kmv_stream",
    oracle=f"""
    SELECT event_id, value FROM (
      SELECT event_id, value,
             (('0x' || substr(md5(event_id::VARCHAR), 1, 8))::BIGINT) AS h
      FROM events
    ) ORDER BY h, event_id LIMIT 512
    """,
)
def events_kmv_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KMV bottom-k maintenance (§2.9 x KMV): the
    continuously-updated uniform sample — per batch the k smallest
    hash rows merge into k-row state by bottom-k-of-union, the KMV
    merge property; exactly-once from the algebra (idempotent +
    commutative + associative), the third flavor after HLL's max and
    CDC's max_by (replay convergence pinned by the merge/replay test
    in tests/test_streaming.py; the bench drains once); final sample
    must equal the batch
    bottom-k exactly."""
    from isilon_hadoop_tools_spark import streaming
    from isilon_hadoop_tools_spark.streaming.events import (
        KMV_STATE_SCHEMA,
        kmv_stream_into_state,
    )

    state = _fresh_state(spark, "events_kmv_stream")
    ev = streaming.read_events_stream(spark, sf_dir).select(
        "event_id", "value"
    )
    kmv_stream_into_state(ev, state, k=512)
    return state.read("kmv_sample", KMV_STATE_SCHEMA).select(
        "event_id", "value"
    )


@query(
    "events_cdc_stream",
    oracle="""
    WITH ranked AS (
      SELECT user_id, ts, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             max(ts) OVER (PARTITION BY user_id) AS last_ts
      FROM events
    )
    SELECT user_id, value, last_ts
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    """,
)
def events_cdc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert maintenance (§2.9 x EA5): micro-batches
    collapse to per-key latest rows and merge into parquet state by
    the same (ts, event_id) maximum — idempotent/commutative algebra,
    so replays and out-of-order arrival converge without markers
    (pinned by the out-of-order/tombstone/replay test in
    tests/test_streaming.py; the bench drains once). The
    final state must equal the batch
    ``events_cdc_apply`` oracle exactly (tombstones kept in state,
    filtered at read)."""
    from isilon_hadoop_tools_spark import streaming
    from isilon_hadoop_tools_spark.streaming.events import (
        CDC_STATE_SCHEMA,
        cdc_stream_into_state,
    )

    state = _fresh_state(spark, "events_cdc_stream")
    ev = streaming.read_events_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    cdc_stream_into_state(ev, state)
    st = state.read("cdc_state", CDC_STATE_SCHEMA)
    return st.filter(F.col("event_type") != "error").select(
        "user_id", "value", F.col("ts").alias("last_ts")
    )


@query(
    "events_cms_stream",
    oracle=f"""
    WITH hashed AS (
      SELECT r AS row_id,
             (('0x' || substr(md5((({_CMS_SEED} + r)::VARCHAR || ':')
                               || user_id::VARCHAR), 1, 8))::BIGINT)
               % {_CMS_W} AS bucket
      FROM events, range(0, {_CMS_D}) t(r)
    )
    SELECT row_id, bucket, count(*)::BIGINT AS cnt
    FROM hashed GROUP BY row_id, bucket
    """,
)
def events_cms_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CMS maintenance (§2.9 x L37): micro-batch count-min
    deltas sum-merged into parquet state by foreachBatch. Sum-merge
    is NOT replay-idempotent (unlike HLL's max), so exactly-once
    comes from per-batch marker rows committed in the SAME atomic
    table swap as the counts — replayed batch ids are skipped (pinned
    by the replay/checkpoint-restart tests in tests/test_streaming.py;
    the bench drains once); the final sketch must equal the
    oracle's one-pass batch CMS exactly (integer counts, md5 hash
    family — no tolerance)."""
    from isilon_hadoop_tools_spark import streaming
    from isilon_hadoop_tools_spark.streaming.events import (
        cms_stream_into_state,
    )

    state = _fresh_state(spark, "events_cms_stream")
    ev = streaming.read_events_stream(spark, sf_dir)
    cms_stream_into_state(
        ev, state, key="user_id", d=_CMS_D, w=_CMS_W
    )
    return (
        state.read("cms_sketch", "row_id LONG, bucket LONG, cnt LONG")
        .filter(F.col("row_id") >= 0)
    )


@query(
    "events_hll_stream",
    oracle=f"""
    WITH {_HLL_REG_SQL}
    SELECT bucket, rho FROM regs
    """,
)
def events_hll_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sketch maintenance (§2.9 x L36): the event stream's
    micro-batches each build an HLL register delta that foreachBatch
    max-merges into parquet state; the stream is run TWICE without a
    checkpoint and the replay cannot change the registers (max-merge
    is idempotent). The final state must equal the oracle's batch
    single-pass registers bit for bit — incremental == batch, the
    streaming distinct-count contract where state is m registers, not
    the key set."""
    from isilon_hadoop_tools_spark import streaming
    from isilon_hadoop_tools_spark.streaming.events import (
        hll_stream_into_state,
    )

    state = _fresh_state(spark, "events_hll_stream")
    ev = streaming.read_events_stream(spark, sf_dir)
    hll_stream_into_state(ev, state, key="user_id", b=_HLL_B)
    return state.read("hll_registers", "bucket LONG, rho LONG")


@query(
    "events_session_conversion",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN floor(epoch(ts))::BIGINT
                       - floor(epoch(lag(ts) OVER w))::BIGINT > 7200
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_type,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING)::BIGINT
               AS session_seq
      FROM flagged
    ),
    per_session AS (
      SELECT user_id, session_seq,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               AS has_view,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS has_purchase
      FROM sess GROUP BY user_id, session_seq
    )
    SELECT count(*) AS n_sessions,
           sum(has_view)::BIGINT AS n_with_view,
           sum(CASE WHEN has_view = 1 AND has_purchase = 1
                    THEN 1 ELSE 0 END)::BIGINT AS n_converted,
           round(sum(CASE WHEN has_view = 1 AND has_purchase = 1
                          THEN 1 ELSE 0 END)
                 / nullif(sum(has_view), 0), 6) AS conv_rate
    FROM per_session
    """,
)
def events_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped conversion funnel (EA1 x EA2): of the sessions
    that contain a view, how many also contain a purchase — the
    intra-session engagement metric, vs `events_funnel_conversion`'s
    time-horizon form. Same single-shuffle session assignment (the
    per-(user, session) aggregation reuses the lag window's hash
    partitioning), then one global fold."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "_new",
        F.when(
            F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
            > 7200,
            1,
        ).otherwise(0).cast("long"),
    ).withColumn(
        "session_seq",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_session = flagged.groupBy("user_id", "session_seq").agg(
        F.max(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("has_view"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("has_purchase"),
    )
    converted = F.when(
        (F.col("has_view") == 1) & (F.col("has_purchase") == 1), 1
    ).otherwise(0)
    return per_session.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("has_view").cast("long").alias("n_with_view"),
        F.sum(converted).cast("long").alias("n_converted"),
        F.round(
            F.sum(converted)
            / F.nullif(F.sum("has_view"), F.lit(0)),
            6,
        ).alias("conv_rate"),
    )


@query(
    "events_skew_report",
    oracle="""
    WITH keyed AS (
      SELECT user_id, count(*) AS n FROM events GROUP BY user_id
    ),
    tot AS (SELECT sum(n)::BIGINT AS total, count(*) AS n_keys,
                   round(avg(n), 4) AS mean_n
            FROM keyed)
    SELECT k.user_id, k.n,
           round(k.n / t.total, 6) AS share,
           round(k.n / t.mean_n, 4) AS x_mean,
           t.n_keys
    FROM keyed k CROSS JOIN tot t
    ORDER BY k.n DESC, k.user_id
    LIMIT 10
    """,
)
def events_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostic (SC1's pre-flight): the 10 hottest join/agg
    keys with their share of total rows and multiple-of-mean — the
    numbers that decide between a plain shuffle, salting, and AQE
    skew handling BEFORE a 100 TB job runs. One keyed agg, a 1-row
    scalar broadcast, and a TakeOrderedAndProject."""
    ev = _t(spark, sf_dir, "events")
    keyed = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    tot = keyed.agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
        F.round(F.avg("n"), 4).alias("mean_n"),
    )
    return (
        keyed.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "n",
            F.round(F.col("n") / F.col("total"), 6).alias("share"),
            F.round(F.col("n") / F.col("mean_n"), 4).alias("x_mean"),
            "n_keys",
        )
        .orderBy(F.desc("n"), F.asc("user_id"))
        .limit(10)
    )


@query(
    "events_type_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    )
    SELECT prev AS from_type, event_type AS to_type,
           count(*) AS n_transitions
    FROM seq WHERE prev IS NOT NULL
    GROUP BY prev, event_type
    """,
)
def events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream transition matrix: counts of consecutive
    event-type pairs per user (the Markov-chain estimate behind
    next-action prediction and funnel drop-off analysis). The lag
    window's user partitioning satisfies nothing downstream — the
    transition groupBy re-keys on the 25 (from, to) pairs, map-side
    partials first."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("prev", F.lag("event_type").over(w))
    return (
        seq.filter(F.col("prev").isNotNull())
        .groupBy(
            F.col("prev").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


@query(
    "events_hll_by_type",
    oracle=f"""
    WITH regs AS (
      SELECT event_type,
             {stable_hash32_sql("user_id::VARCHAR")} % {_HLL_M} AS bucket,
             max(CASE
               WHEN {stable_hash32_sql("user_id::VARCHAR")} // {_HLL_M} = 0
               THEN {32 - _HLL_B + 1}
               ELSE {32 - _HLL_B}
                    - floor(log2({stable_hash32_sql("user_id::VARCHAR")}
                                 // {_HLL_M}))
             END)::BIGINT AS rho
      FROM events
      GROUP BY event_type,
               {stable_hash32_sql("user_id::VARCHAR")} % {_HLL_M}
    ),
    agg AS (
      SELECT event_type, count(*) AS v_filled,
             sum(pow(2.0, -rho)) AS s_filled
      FROM regs GROUP BY event_type
    )
    SELECT event_type,
           round(CASE
             WHEN ({_alpha_sql()} * {_HLL_M * _HLL_M}) /
                  (s_filled + ({_HLL_M} - v_filled)) <= {2.5 * _HLL_M}
                  AND ({_HLL_M} - v_filled) > 0
             THEN {_HLL_M}.0 * ln({_HLL_M}.0 / ({_HLL_M} - v_filled))
             ELSE ({_alpha_sql()} * {_HLL_M * _HLL_M}) /
                  (s_filled + ({_HLL_M} - v_filled))
           END, 4) AS est_distinct
    FROM agg
    """,
)
def events_hll_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED sketch usage: one HLL register set per event_type in a
    single (type, bucket)-keyed aggregation — distinct users per
    event type at sketch cost (m registers per group moving, never
    the key set), the grouped form every 100 TB distinct-count
    dashboard actually runs."""
    from isilon_hadoop_tools_spark.functions.hashing import stable_hash32
    from isilon_hadoop_tools_spark.operators.sketches import _alpha

    ev = _t(spark, sf_dir, "events")
    m = _HLL_M
    b = _HLL_B
    h = stable_hash32(F.col("user_id").cast("string"))
    w = F.floor(h / m)
    rho = F.when(w == 0, F.lit(32 - b + 1)).otherwise(
        (32 - b) - F.floor(F.log2(w))
    )
    regs = (
        ev.select(
            "event_type",
            F.pmod(h, F.lit(m)).alias("bucket"),
            rho.alias("_rho"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("_rho").cast("long").alias("rho"))
    )
    agg = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("v_filled"),
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("s_filled"),
    )
    denom = F.col("s_filled") + (m - F.col("v_filled"))
    raw = F.lit(_alpha(m) * m * m) / denom
    v_empty = F.lit(m) - F.col("v_filled")
    est = F.when(
        (raw <= 2.5 * m) & (v_empty > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v_empty),
    ).otherwise(raw)
    return agg.select(
        "event_type", F.round(est, 4).alias("est_distinct")
    )


@query(
    "events_value_histogram",
    oracle=f"""
    SELECT least(greatest(
             floor((value - {_HIST_LO})
                   / (({_HIST_HI} - {_HIST_LO}) / {_HIST_BINS})),
             0), {_HIST_BINS - 1})::BIGINT AS bin,
           count(*) AS n,
           round(min(value), 6) AS bin_min,
           round(max(value), 6) AS bin_max
    FROM events
    GROUP BY 1
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (the profiling/viz primitive): values
    bucketed into fixed bins with clamped edges — one map-side-
    partial aggregation on at most ``bins`` keys; the shape that
    computes a 100 TB distribution for the cost of a count."""
    ev = _t(spark, sf_dir, "events")
    width = (_HIST_HI - _HIST_LO) / _HIST_BINS
    bin_ = F.least(
        F.greatest(
            F.floor((F.col("value") - _HIST_LO) / width), F.lit(0)
        ),
        F.lit(_HIST_BINS - 1),
    ).cast("long")
    return (
        ev.groupBy(bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 6).alias("bin_min"),
            F.round(F.max("value"), 6).alias("bin_max"),
        )
    )


@query(
    "events_type_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS m
      FROM events GROUP BY event_type
    ),
    mads AS (
      SELECT e.event_type, any_value(m.m) AS m,
             median(abs(e.value - m.m)) AS md
      FROM events e JOIN med m USING (event_type)
      GROUP BY e.event_type
    )
    SELECT e.event_type, count(*) AS n,
           round(any_value(s.m), 6) AS median_value,
           round(any_value(s.md), 6) AS mad_value,
           sum(CASE WHEN abs(0.6745 * (e.value - s.m) / nullif(s.md, 0))
                        > 3.5
                    THEN 1 ELSE 0 END)::BIGINT AS n_outliers
    FROM events e JOIN mads s USING (event_type)
    GROUP BY e.event_type
    """,
)
def events_type_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier stats per event type (EA8b) — the
    heavy-tail-safe twin of events_type_outliers: modified z-score
    0.6745·(x−med)/MAD > 3.5 (Iglewicz–Hoaglin). Three map-side-
    partial aggregations + broadcast stat joins, never a per-group
    window; constant groups guard MAD=0 with nullif on both engines."""
    from isilon_hadoop_tools_spark.operators.analytics import mad_outliers

    return mad_outliers(
        _t(spark, sf_dir, "events"), "event_type", "value", threshold=3.5
    )


@query(
    "events_approx_distinct_bound",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_exact,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    """,
)
def events_approx_distinct_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-certifying gate for the engine-internal HLL++
    (approx_count_distinct, rsd=0.05): estimate and exact distinct
    computed in one aggregation, certificate = |est − exact| within
    4·rsd·n + 1. Same contract-not-value pattern as the approx
    quantiles gate; the deterministic md5-register HLL remains the
    cross-engine-exact sketch alongside it."""
    from isilon_hadoop_tools_spark.operators.sketches import (
        approx_distinct_certificate,
    )

    return approx_distinct_certificate(
        _t(spark, sf_dir, "events"), "event_type", "user_id", rsd=0.05
    )


@query(
    "events_time_weighted_value",
    oracle="""
    WITH t AS (
      SELECT user_id, floor(epoch(ts))::BIGINT AS s, value,
             lead(floor(epoch(ts))::BIGINT)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM events
    )
    SELECT user_id, count(nxt) AS n_intervals,
           sum(nxt - s)::BIGINT AS total_sec,
           round(sum(value * (nxt - s)) / nullif(sum(nxt - s), 0), 6)
             AS twa
    FROM t GROUP BY user_id
    """,
)
def events_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (EA21): each reading holds
    until the next, weighted by its holding duration — the
    irregular-sampling semantics a plain AVG gets wrong. One shuffle
    (the lead window's key partitioning is reused by the aggregation);
    single-reading users yield null via the nullif guard on both
    engines."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        time_weighted_avg,
    )

    return time_weighted_avg(
        _t(spark, sf_dir, "events"), "user_id", "ts", "value", "event_id"
    )


@query(
    "events_active_interval_union",
    oracle="""
    WITH iv AS (
      SELECT user_id, floor(epoch(ts))::BIGINT AS s,
             floor(epoch(ts))::BIGINT + floor(value * 10)::BIGINT AS e
      FROM events
    ),
    flagged AS (
      SELECT user_id, s, e,
             CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      IS NULL
                    OR s > max(e) OVER (PARTITION BY user_id
                      ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    islanded AS (
      SELECT user_id, s, e,
             sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM flagged
    ),
    islands AS (
      SELECT user_id, island, count(*) AS n, max(e) - min(s) AS len
      FROM islanded GROUP BY user_id, island
    )
    SELECT user_id, sum(n)::BIGINT AS n_intervals,
           count(*) AS n_islands, sum(len)::BIGINT AS union_len
    FROM islands GROUP BY user_id
    """,
)
def events_active_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user union length of overlapping activity intervals (EA22,
    sweep-line island merge): each event opens a value-scaled window
    [ts, ts + 10·value sec]; summing raw durations double-counts
    overlaps, the island rollup doesn't. Window + both rollups share
    one key partitioning — a single exchange end-to-end."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        interval_union_length,
    )

    ev = _t(spark, sf_dir, "events")
    s = F.col("ts").cast("long")
    iv = ev.select(
        "user_id",
        s.alias("start_s"),
        (s + (F.col("value") * 10).cast("long")).alias("end_s"),
    )
    return interval_union_length(iv, "user_id", "start_s", "end_s")


@query(
    "events_interval_overlap_pairs",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS s,
             floor(epoch(ts))::BIGINT + floor(value * 10)::BIGINT AS e
      FROM events
    ),
    iv2 AS (SELECT * FROM iv WHERE e > s)
    SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
           (least(a.e, b.e) - greatest(a.s, b.s))::BIGINT AS overlap
    FROM iv2 a JOIN iv2 b
      ON a.user_id = b.user_id AND a.event_id < b.event_id
    WHERE a.s < b.e AND b.s < a.e
    """,
)
def events_interval_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval overlap join (EA22b — concurrent-session /
    region-intersection shape): every pair of value-scaled activity
    windows [ts, ts+10·value) that overlap, per user. The grid-bucket
    band join makes candidate generation an equi-join on (user,
    bucket) with each pair emitted from exactly ONE canonical bucket
    — complete and duplicate-free by construction, never the per-user
    quadratic self-join the oracle brute-forces."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        interval_overlap_join,
    )

    ev = _t(spark, sf_dir, "events")
    s = F.col("ts").cast("long")
    iv = ev.select(
        "user_id",
        "event_id",
        s.alias("start_s"),
        (s + (F.col("value") * 10).cast("long")).alias("end_s"),
    )
    return interval_overlap_join(
        iv, "user_id", "event_id", "start_s", "end_s"
    )


@query(
    "events_value_equidepth_hist",
    oracle="""
    WITH ed AS MATERIALIZED (
      SELECT list_transform(
               quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5,
                                     0.6, 0.7, 0.8, 0.9]),
               q -> round(q, 6)) AS edges
      FROM events
    )
    SELECT list_sum(list_transform(ed.edges,
             e -> CASE WHEN value > e THEN 1 ELSE 0 END))::BIGINT
             AS bucket,
           count(*) AS n,
           round(min(value), 6) AS lo,
           round(max(value), 6) AS hi
    FROM events, ed
    GROUP BY 1
    """,
)
def events_value_equidepth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram (EA19b): decile edges from one exact-
    quantile aggregation, baked back as a literal comparison chain for
    a second map-side-partial scan on <= 10 keys — the skew-revealing
    complement of the fixed-edge equi-width histogram, with no global
    sort/ntile anywhere. Edges pre-rounded to 6 dp on both engines."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        equidepth_histogram,
    )

    return equidepth_histogram(_t(spark, sf_dir, "events"), "value", 10)


@query(
    "events_value_trend",
    oracle="""
    SELECT event_type, count(*) AS n,
           round(regr_slope(value, floor(epoch(ts)) / 86400.0), 8)
             AS slope_per_day,
           round(regr_intercept(value, floor(epoch(ts)) / 86400.0), 4)
             AS intercept,
           round(regr_r2(value, floor(epoch(ts)) / 86400.0), 6) AS r2
    FROM events GROUP BY event_type
    """,
)
def events_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS value trend (EA23): slope/intercept/r² from the
    built-in regression aggregates (algebraic state, map-side
    partials), time rescaled to days for well-conditioned rounding —
    the metric-drift primitive."""
    from isilon_hadoop_tools_spark.operators.analytics import ols_trend

    return ols_trend(_t(spark, sf_dir, "events"), "event_type", "ts", "value")


@query(
    "events_mann_whitney",
    oracle="""
    WITH counts AS (
      SELECT value AS v,
             sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                      THEN 1 ELSE 0 END)::HUGEINT AS nb,
             sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                      THEN 1 ELSE 0 END)::HUGEINT AS nc
      FROM events WHERE value IS NOT NULL GROUP BY value
    ),
    cum AS (
      SELECT v, nb, nc,
             coalesce(sum(nb + nc) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS prev,
             sum(nb) OVER () AS tb,
             sum(nc) OVER () AS tc
      FROM counts
    ),
    agg AS (
      SELECT tb, tc,
             sum(nb * (2 * prev + nb + nc + 1)) AS two_r
      FROM cum GROUP BY tb, tc
    )
    SELECT tb::BIGINT AS n_base, tc::BIGINT AS n_cur,
           (two_r - tb * (tb + 1))::BIGINT AS u2_base,
           round((two_r - tb * (tb + 1))::DOUBLE / (2 * tb * tc)::DOUBLE,
                 6) AS auc
    FROM agg
    """,
)
def events_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann-Whitney U rank-sum gate (EA29d) — the nonparametric
    companion to the A/B z-test and the KS gate: first vs second half
    of the events month, with the tie-midrank statistic computed
    entirely in DECIMAL(38,0) integers (2·U exact) and the
    probability-of-superiority AUC readout at 6 dp. One fact scan
    with map-side combine; ordered-window work on the distinct-value
    table."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        mann_whitney_u,
    )

    ev = _t(spark, sf_dir, "events")
    boundary = F.lit("2024-01-16").cast("timestamp")
    return mann_whitney_u(
        ev,
        "value",
        in_base=F.col("ts") < boundary,
        in_cur=F.col("ts") >= boundary,
    )


@query(
    "events_chi_square_drift",
    oracle="""
    WITH banded AS (
      SELECT CASE WHEN value < 50 THEN 0 WHEN value < 100 THEN 1
                  WHEN value < 150 THEN 2 WHEN value < 200 THEN 3
                  WHEN value < 250 THEN 4 WHEN value < 300 THEN 5
                  WHEN value < 350 THEN 6 WHEN value < 400 THEN 7
                  WHEN value < 450 THEN 8 ELSE 9 END AS band,
             CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS b,
             CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS c
      FROM events
    ),
    counts AS (
      SELECT band, sum(b)::BIGINT AS nb, sum(c)::BIGINT AS nc
      FROM banded GROUP BY band HAVING sum(b) + sum(c) > 0
    ),
    tot AS (SELECT sum(nb)::BIGINT AS tb, sum(nc)::BIGINT AS tc,
                   count(*)::BIGINT AS bu FROM counts),
    cells AS (
      SELECT tb, tc, bu,
             (CASE WHEN (nb + nc)::DOUBLE * tb / (tb + tc) > 0
                   THEN (nb::DOUBLE - (nb + nc)::DOUBLE * tb / (tb + tc))
                      * (nb::DOUBLE - (nb + nc)::DOUBLE * tb / (tb + tc))
                      / ((nb + nc)::DOUBLE * tb / (tb + tc))
                   ELSE 0 END
            + CASE WHEN (nb + nc)::DOUBLE * tc / (tb + tc) > 0
                   THEN (nc::DOUBLE - (nb + nc)::DOUBLE * tc / (tb + tc))
                      * (nc::DOUBLE - (nb + nc)::DOUBLE * tc / (tb + tc))
                      / ((nb + nc)::DOUBLE * tc / (tb + tc))
                   ELSE 0 END) AS t
      FROM counts, tot
    )
    SELECT tb AS n_base, tc AS n_cur, bu AS n_bands_used,
           (bu - 1) * ((CASE WHEN tb > 0 THEN 1 ELSE 0 END
                      + CASE WHEN tc > 0 THEN 1 ELSE 0 END) - 1) AS dof,
           round(sum(t), 6) AS chi2
    FROM cells GROUP BY tb, tc, bu
    """,
)
def events_chi_square_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample chi-square homogeneity gate (EA29e) — the
    classical-significance companion to `events_psi_drift` on the
    SAME 10 fixed bands and cohort split, so the two gates read the
    same drift through effect-size and significance lenses. One fact
    scan; everything after runs on the band table."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        chi_square_drift,
    )

    ev = _t(spark, sf_dir, "events")
    boundary = F.lit("2024-01-16").cast("timestamp")
    return chi_square_drift(
        ev,
        "value",
        in_base=F.col("ts") < boundary,
        in_cur=F.col("ts") >= boundary,
        breaks=[50, 100, 150, 200, 250, 300, 350, 400, 450],
    )


@query(
    "events_wilcoxon_signed_rank",
    oracle="""
    WITH byuser AS (
      SELECT user_id,
             sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
           - sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
             AS d
      FROM events GROUP BY user_id
    ),
    nz AS (SELECT d FROM byuser WHERE d <> 0),
    counts AS (
      SELECT abs(d) AS ad,
             sum(CASE WHEN d > 0 THEN 1 ELSE 0 END)::BIGINT AS np,
             count(*)::BIGINT AS nt
      FROM nz GROUP BY abs(d)
    ),
    cum AS (
      SELECT np, nt,
             coalesce(sum(nt) OVER (ORDER BY ad
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev,
             (SELECT sum(nt) FROM counts) AS n
      FROM counts
    )
    SELECT n::BIGINT AS n_pairs,
           sum(np * (2 * prev + nt + 1))::BIGINT AS w2_plus,
           round((2.0 * sum(np * (2 * prev + nt + 1)) - n * (n + 1))
                 / (n * (n + 1)), 6) AS rank_biserial
    FROM cum GROUP BY n
    """,
)
def events_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Wilcoxon signed-rank (EA29f) — the PAIRED drift/release
    gate: per user, the event-count diff between the first and second
    half of the month (integer-exact pairing, heavy midrank ties by
    construction), zeros dropped, 2·W+ exact, rank-biserial effect at
    6 dp. Same two-phase cumulative discipline as KS/Mann-Whitney."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        wilcoxon_signed_rank,
    )

    ev = _t(spark, sf_dir, "events")
    boundary = F.lit("2024-01-16").cast("timestamp")
    diffs = ev.groupBy("user_id").agg(
        (
            F.sum((F.col("ts") < boundary).cast("long"))
            - F.sum((F.col("ts") >= boundary).cast("long"))
        ).alias("d")
    )
    return wilcoxon_signed_rank(diffs, "d")


@query(
    "events_cvm_drift",
    oracle="""
    WITH counts AS (
      SELECT value AS v,
             sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                      THEN 1 ELSE 0 END)::HUGEINT AS nb,
             sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                      THEN 1 ELSE 0 END)::HUGEINT AS nc
      FROM events WHERE value IS NOT NULL GROUP BY value
    ),
    cum AS (
      SELECT nb + nc AS nk,
             sum(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cb,
             sum(nc) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cc,
             sum(nb) OVER () AS tb,
             sum(nc) OVER () AS tc
      FROM counts
    )
    SELECT tb::BIGINT AS n_base, tc::BIGINT AS n_cur,
           round(sum(nk * (cb * tc - cc * tb) * (cb * tc - cc * tb))::DOUBLE
                 / ((tb::DOUBLE + tc::DOUBLE) * (tb::DOUBLE + tc::DOUBLE)
                    * tb::DOUBLE * tc::DOUBLE), 6) AS cvm_stat
    FROM cum GROUP BY tb, tc
    """,
)
def events_cvm_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Cramér–von Mises gate (EA29g) — the
    integrated-square companion to `events_ks_drift` on the same
    cohort split: sensitive to drift spread across the whole
    distribution where KS sees only the largest single gap. Integer-
    exact DECIMAL(38,0) numerator; one 6-dp division; same two-phase
    cumulative discipline."""
    from isilon_hadoop_tools_spark.operators.analytics import cvm_drift

    ev = _t(spark, sf_dir, "events")
    boundary = F.lit("2024-01-16").cast("timestamp")
    return cvm_drift(
        ev,
        "value",
        in_base=F.col("ts") < boundary,
        in_cur=F.col("ts") >= boundary,
    )


@query(
    "events_ad_drift",
    oracle="""
    WITH counts AS (
      SELECT value AS v,
             sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                      THEN 1 ELSE 0 END)::HUGEINT AS nb,
             sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                      THEN 1 ELSE 0 END)::HUGEINT AS nc
      FROM events WHERE value IS NOT NULL GROUP BY value
    ),
    cum AS (
      SELECT nb + nc AS l,
             sum(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS mb,
             sum(nc) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS mc,
             sum(nb) OVER () AS tb,
             sum(nc) OVER () AS tc
      FROM counts
    ),
    devs AS (
      SELECT tb, tc, l, mb + mc AS b,
             (tb + tc) * mb - tb * (mb + mc) AS d
      FROM cum WHERE mb + mc < tb + tc
    ),
    terms AS (
      SELECT tb, tc,
             (l * d * d * 1000000) // (b * (tb + tc - b)) AS q
      FROM devs
    )
    SELECT tb::BIGINT AS n_base, tc::BIGINT AS n_cur,
           round(((2 * sum(q) + tb * tc) // (2 * tb * tc))::DOUBLE
                 / 1000000.0, 6) AS ad_stat
    FROM terms GROUP BY tb, tc
    """,
)
def events_ad_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Anderson–Darling gate (EA29i) — the TAIL-WEIGHTED
    ECDF member on the same cohort split as KS/CvM: the squared gap
    is weighted by 1/(B·(N−B)), so edge-of-distribution drift the
    averaged gates dilute dominates the statistic. Per-value terms
    are exact-DECIMAL integer ratios through one 9-dp double
    division each; the V-row term sum runs in DECIMAL(38,9) so
    partition order can never wiggle the result; same two-phase
    cumulative discipline."""
    from isilon_hadoop_tools_spark.operators.analytics import ad_drift

    ev = _t(spark, sf_dir, "events")
    boundary = F.lit("2024-01-16").cast("timestamp")
    return ad_drift(
        ev,
        "value",
        in_base=F.col("ts") < boundary,
        in_cur=F.col("ts") >= boundary,
    )


@query(
    "events_snapshot_pruned_scan",
    oracle="""
    WITH ranked AS (
      SELECT user_id,
             row_number() OVER (ORDER BY user_id, event_id) AS rn
      FROM events
    ),
    zs AS (
      SELECT (rn - 1) // 1024 AS z, min(user_id) AS mn,
             max(user_id) AS mx
      FROM ranked GROUP BY 1
    )
    SELECT count(*)::BIGINT AS n_files_total,
           sum(CASE WHEN mx >= 100 AND mn <= 160
               THEN 1 ELSE 0 END)::BIGINT AS files_scanned,
           (SELECT count(*) FROM events
            WHERE user_id BETWEEN 100 AND 160)::BIGINT AS n_rows_match,
           true AS certificate_ok
    FROM zs
    """,
)
def events_snapshot_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-stats file pruning (SC10b — the Iceberg planning-time
    prune carried by the snapshot layer): events are range-laid-out
    on user_id (two-phase global rank, 1024-row zones, one file per
    zone), committed with per-file footer min/max in the MANIFEST,
    and a [100, 160] range scan must open only the files whose
    recorded range intersects — the oracle predicts file counts and
    the matching row count analytically from the same total order,
    and the certificate re-checks the pruned scan against a full
    filter. Pruning is pure driver-side manifest work; skipped files
    are never opened."""
    import os
    import shutil

    from isilon_hadoop_tools_spark.operators.corpus import (
        _ordered_row_number,
    )
    from isilon_hadoop_tools_spark.operators.snapshots import (
        snapshot_prune,
        snapshot_read,
        snapshot_scan,
        snapshot_write,
    )

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id")
    ranked = _ordered_row_number(ev, "user_id", ["event_id"], out="_rn")
    zoned = ranked.withColumn(
        "_zone", F.expr("(_rn - 1) div 1024")
    ).select("user_id", "event_id", "_zone")
    tag = os.path.basename(sf_dir.rstrip("/"))
    table_dir = f"{_SCRATCH}/snapshot_pruned_{tag}"
    shutil.rmtree(table_dir, ignore_errors=True)
    v = snapshot_write(
        zoned.repartition(F.col("_zone")),
        table_dir,
        partition_by=["_zone"],
        stats_cols=["user_id"],
    )
    lo, hi = 100, 160
    _kept, total = snapshot_prune(table_dir, "user_id", lo, hi, v)
    pruned_n = snapshot_scan(spark, table_dir, "user_id", lo, hi, v).count()
    full_n = (
        snapshot_read(spark, table_dir, v)
        .filter(F.col("user_id").between(lo, hi))
        .count()
    )
    return local_df(
        spark,
        [(int(total), int(len(_kept)), int(pruned_n), pruned_n == full_n)],
        "n_files_total LONG, files_scanned LONG, n_rows_match LONG,"
        " certificate_ok BOOLEAN",
    )


@query(
    "events_snapshot_diff",
    oracle="""
    SELECT event_id, user_id, event_type, 'added' AS change
    FROM events WHERE event_type <> 'view'
    UNION ALL
    SELECT event_id, user_id, event_type, 'removed'
    FROM events WHERE event_type = 'view' AND event_id % 50 = 0
    """,
)
def events_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot CDC diff (SC10c): two committed versions — v1 = the
    view events, v2 = everything except every 50th view — and
    ``snapshot_diff`` exports the multiset delta: the non-view rows
    as 'added', the dropped views as 'removed' (bag semantics via
    exceptAll). The honest CDC-export cost for snapshots without row
    lineage: one full-row shuffle per side."""
    import os
    import shutil

    from isilon_hadoop_tools_spark.operators.snapshots import (
        snapshot_diff,
        snapshot_write,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    tag = os.path.basename(sf_dir.rstrip("/"))
    table_dir = f"{_SCRATCH}/snapshot_diff_{tag}"
    shutil.rmtree(table_dir, ignore_errors=True)
    snapshot_write(ev.filter(F.col("event_type") == "view"), table_dir)
    snapshot_write(
        ev.filter(
            (F.col("event_type") != "view")
            | (F.pmod(F.col("event_id"), F.lit(50)) != 0)
        ),
        table_dir,
    )
    return snapshot_diff(spark, table_dir, 1, 2)


@query(
    "events_survival_km",
    oracle="""
    WITH fv AS (
      SELECT user_id, min(ts) AS t0
      FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    fp AS (
      SELECT e.user_id, min(e.ts) AS tp
      FROM events e JOIN fv USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts >= fv.t0
      GROUP BY 1
    ),
    le AS (SELECT user_id, max(ts) AS tl FROM events GROUP BY 1),
    subj AS (
      SELECT fv.user_id,
             CASE WHEN tp IS NOT NULL
                  THEN floor(epoch(tp))::BIGINT - floor(epoch(t0))::BIGINT
                  ELSE floor(epoch(tl))::BIGINT - floor(epoch(t0))::BIGINT
             END AS t,
             tp IS NOT NULL AS obs
      FROM fv LEFT JOIN fp USING (user_id) JOIN le USING (user_id)
    ),
    counts AS (
      SELECT t, count(*)::BIGINT AS n_all, sum(obs::INT)::BIGINT AS d
      FROM subj GROUP BY t
    ),
    cum AS (
      SELECT *, sum(n_all) OVER (ORDER BY t
                                 ROWS UNBOUNDED PRECEDING) AS cum_all
      FROM counts
    ),
    ev AS (
      SELECT t,
             ((SELECT sum(n_all) FROM counts)
               - (cum_all - n_all))::BIGINT AS n_risk,
             d, n_all - d AS n_censored
      FROM cum WHERE d > 0
    ),
    terms AS (
      SELECT *,
             CASE WHEN d >= n_risk THEN -50000000000
                  ELSE round(ln(1 - d / n_risk::DOUBLE) * 1e9)::BIGINT
             END AS term,
             round(d / n_risk::DOUBLE * 1e9)::BIGINT AS hterm
      FROM ev
    ),
    s AS (
      SELECT *, sum(term) OVER (ORDER BY t
                                ROWS UNBOUNDED PRECEDING) AS cterm,
                sum(hterm) OVER (ORDER BY t
                                 ROWS UNBOUNDED PRECEDING) AS chaz
      FROM terms
    )
    SELECT t AS duration, n_risk, d AS n_events, n_censored,
           round(exp(cterm / 1e9), 6) AS survival,
           round(chaz / 1e9, 6) AS cum_hazard
    FROM s
    """,
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-conversion curve (EA33; Kaplan & Meier
    1958): per user, seconds from first view to first purchase at or
    after it -- users who never purchase are right-CENSORED at their
    last event (they leave the risk set without converting, which is
    exactly what naive conversion-time averages get wrong). Survival
    at every observed conversion time via the exact at-risk
    cumulative and the 9-dp-quantized log-sum product; the oracle
    recomputes the identical chain."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        kaplan_meier,
    )

    ev = _t(spark, sf_dir, "events")
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    fp = (
        ev.join(fv, "user_id")
        .filter(
            (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("t0"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    le = ev.groupBy("user_id").agg(F.max("ts").alias("tl"))
    subj = (
        fv.join(fp, "user_id", "left")
        .join(le, "user_id")
        .select(
            F.when(
                F.col("tp").isNotNull(),
                F.unix_timestamp("tp") - F.unix_timestamp("t0"),
            )
            .otherwise(F.unix_timestamp("tl") - F.unix_timestamp("t0"))
            .alias("t"),
            F.col("tp").isNotNull().alias("obs"),
        )
    )
    return kaplan_meier(subj, "t", "obs")


@query(
    "events_survival_logrank",
    oracle="""
    WITH fv AS (
      SELECT user_id, min(ts) AS t0
      FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    fp AS (
      SELECT e.user_id, min(e.ts) AS tp
      FROM events e JOIN fv USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts >= fv.t0
      GROUP BY 1
    ),
    le AS (SELECT user_id, max(ts) AS tl FROM events GROUP BY 1),
    subj AS (
      SELECT fv.user_id,
             CASE WHEN tp IS NOT NULL
                  THEN floor(epoch(tp))::BIGINT - floor(epoch(t0))::BIGINT
                  ELSE floor(epoch(tl))::BIGINT - floor(epoch(t0))::BIGINT
             END AS t,
             tp IS NOT NULL AS obs,
             fv.user_id % 2 = 0 AS a
      FROM fv LEFT JOIN fp USING (user_id) JOIN le USING (user_id)
    ),
    counts AS (
      SELECT t, count(*)::BIGINT AS n_all,
             sum(a::INT)::BIGINT AS n1_all,
             sum(obs::INT)::BIGINT AS d,
             sum((obs AND a)::INT)::BIGINT AS d1
      FROM subj GROUP BY t
    ),
    cum AS (
      SELECT *,
             sum(n_all) OVER w AS c_all,
             sum(n1_all) OVER w AS c1_all
      FROM counts
      WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING)
    ),
    tot AS (
      SELECT sum(n_all)::BIGINT AS N, sum(n1_all)::BIGINT AS N1
      FROM counts
    ),
    ev AS (
      SELECT t, d, d1,
             (N - (c_all - n_all))::BIGINT AS nr,
             (N1 - (c1_all - n1_all))::BIGINT AS nr1,
             N AS nt, N1 AS nt1
      FROM cum, tot
      WHERE d > 0 AND N - (c_all - n_all) > 1
    ),
    terms AS (
      SELECT *,
             round(d * nr1 / nr::DOUBLE * 1e9)::BIGINT AS e_term,
             round(d * (nr1 / nr::DOUBLE) * (1 - nr1 / nr::DOUBLE)
                   * (nr - d) / (nr - 1)::DOUBLE * 1e9)::BIGINT AS v_term
      FROM ev
    )
    SELECT nt1::BIGINT AS n_a, (nt - nt1)::BIGINT AS n_b,
           sum(d1)::BIGINT AS observed_a,
           round(sum(e_term) / 1e9, 6) AS expected_a,
           round(sum(v_term) / 1e9, 6) AS variance,
           round((sum(d1) - sum(e_term) / 1e9)
                 * (sum(d1) - sum(e_term) / 1e9)
                 / (sum(v_term) / 1e9), 6) AS chi_sq
    FROM terms GROUP BY nt, nt1
    """,
)
def events_survival_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample log-rank test (EA33b; Mantel 1966): even-user-id
    viewers vs odd, on the same censored time-to-conversion fixture
    as events_survival_km -- the time-to-event A/B readout a means
    test on durations gets wrong under censoring. Hypergeometric
    expectation and variance accumulate as 9-dp-quantized scaled
    integers; the oracle replays the chain."""
    from isilon_hadoop_tools_spark.operators.analytics import logrank_test

    ev = _t(spark, sf_dir, "events")
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    fp = (
        ev.join(fv, "user_id")
        .filter(
            (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("t0"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    le = ev.groupBy("user_id").agg(F.max("ts").alias("tl"))
    subj = (
        fv.join(fp, "user_id", "left")
        .join(le, "user_id")
        .select(
            F.when(
                F.col("tp").isNotNull(),
                F.unix_timestamp("tp") - F.unix_timestamp("t0"),
            )
            .otherwise(F.unix_timestamp("tl") - F.unix_timestamp("t0"))
            .alias("t"),
            F.col("tp").isNotNull().alias("obs"),
            (F.pmod(F.col("user_id"), F.lit(2)) == 0).alias("a"),
        )
    )
    return logrank_test(subj, "t", "obs", F.col("a"))


@query(
    "events_snapshot_cdc_stream",
    oracle="""
    WITH ranked AS (
      SELECT user_id, ts, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             max(ts) OVER (PARTITION BY user_id) AS last_ts
      FROM events
    )
    SELECT user_id, value, last_ts
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    """,
)
def events_snapshot_cdc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC maintenance committed THROUGH the snapshot layer
    (SC10s = events_cdc_stream's algebra x SC10's atomic manifests),
    MERGE-ON-READ (ADVICE r14): each micro-batch commits only its
    per-key latest rows as a delta snapshot — O(batch) written per
    commit instead of the old O(state) full rewrite — and every
    compact_every-th commit folds the chain into a full compaction
    snapshot, with vacuum expiring versions behind it. Never-torn
    reads, per-batch time travel through cdc_state_from_snapshots,
    crash-replay convergence from the max_by idempotence (pinned by
    the replay tests in tests/test_streaming.py; the bench drains
    once); the reconstructed state must equal
    the batch CDC oracle exactly."""
    import os
    import shutil

    from isilon_hadoop_tools_spark import streaming
    from isilon_hadoop_tools_spark.streaming.events import (
        cdc_state_from_snapshots,
        cdc_stream_into_snapshots,
    )

    tag = os.path.basename(sf_dir.rstrip("/"))
    table_dir = f"{_SCRATCH}/snapshot_cdc_{tag}"
    shutil.rmtree(table_dir, ignore_errors=True)
    ev = streaming.read_events_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    cdc_stream_into_snapshots(
        ev, table_dir, compact_every=4, vacuum_keep=6
    )
    st = cdc_state_from_snapshots(spark, table_dir)
    return st.filter(F.col("event_type") != "error").select(
        "user_id", "value", F.col("ts").alias("last_ts")
    )


@query(
    "events_snapshot_schema_evolution",
    oracle="""
    SELECT event_id, user_id, NULL::DOUBLE AS value
    FROM events WHERE event_type = 'view'
    UNION ALL
    SELECT event_id, user_id, value
    FROM events WHERE event_type = 'purchase'
    """,
)
def events_snapshot_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ADD-COLUMN schema evolution over a merge-on-read chain (SC10e
    - Iceberg's add-column semantics): v1 commits the view events
    WITHOUT a value column, a delta then commits the purchase events
    WITH one, and snapshot_read_evolved reconciles the chain by NAME
    against the newest manifest schema - rows from the old version
    surface the column a version predates as NULL, with NO rewrite of
    v1's files. The oracle predicts the union analytically."""
    import os
    import shutil

    from isilon_hadoop_tools_spark.operators.snapshots import (
        snapshot_read_evolved,
        snapshot_write,
    )

    ev = _t(spark, sf_dir, "events")
    tag = os.path.basename(sf_dir.rstrip("/"))
    table_dir = f"{_SCRATCH}/snapshot_evolve_{tag}"
    shutil.rmtree(table_dir, ignore_errors=True)
    snapshot_write(
        ev.filter(F.col("event_type") == "view").select(
            "event_id", "user_id"
        ),
        table_dir,
    )
    snapshot_write(
        ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "value"
        ),
        table_dir,
        kind="delta",
        base_version=1,
    )
    return snapshot_read_evolved(spark, table_dir)


@query(
    "events_cdc_delete_stream",
    oracle="""
    WITH ranked AS (
      SELECT user_id, ts, event_id, event_type, round(value, 2) AS value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ),
    latest AS (SELECT * FROM ranked WHERE rn = 1)
    SELECT user_id, ts, event_id, event_type, value
    FROM latest WHERE event_type <> 'error'
    UNION ALL
    SELECT user_id, ts, event_id, event_type,
           round(value + 1000.0, 2) AS value
    FROM latest WHERE event_type = 'error' AND user_id % 2 = 0
    """,
)
def events_cdc_delete_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delete-aware streaming CDC through the snapshot layer (SC10i x
    SC10j r16 - the merge-on-read twin of the batch equality-delete
    path): the stream's per-key winners upsert as delta commits while
    winners marked 'error' RETRACT their key as an equality-delete
    commit (O(retracted keys) written, no rewrite); the stream is
    drained once (the batch watermark makes any replay commit
    nothing — pinned by the restart matrix in
    tests/test_streaming_restart.py), then a batch delta re-appends
    corrected rows for half
    the retracted users - and the MoR reader's sequence-number
    semantics re-materialize exactly those keys. The oracle predicts
    the surviving per-user state analytically."""
    import os
    import shutil

    from isilon_hadoop_tools_spark import streaming
    from isilon_hadoop_tools_spark.operators.snapshots import (
        latest_version,
        snapshot_write,
    )
    from isilon_hadoop_tools_spark.streaming.events import (
        cdc_delete_stream_into_snapshots,
        cdc_state_from_mor_snapshots,
    )

    tag = os.path.basename(sf_dir.rstrip("/"))
    table_dir = f"{_SCRATCH}/snapshot_cdc_del_{tag}"
    shutil.rmtree(table_dir, ignore_errors=True)
    ev = streaming.read_events_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type",
        F.round(F.col("value"), 2).alias("value"),
    )
    cdc_delete_stream_into_snapshots(
        ev, table_dir, delete_when=F.col("event_type") == "error"
    )
    # batch re-append: corrected rows for half the retracted users —
    # the delete's commit version must NOT kill these later rows
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = (
        ev.select(
            "user_id", "ts", "event_id", "event_type",
            F.round(F.col("value"), 2).alias("value"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    corrected = latest.filter(
        (F.col("event_type") == "error")
        & (F.pmod(F.col("user_id"), F.lit(2)) == 0)
    ).withColumn("value", F.round(F.col("value") + 1000.0, 2))
    snapshot_write(
        corrected, table_dir, kind="delta",
        base_version=latest_version(table_dir),
    )
    return cdc_state_from_mor_snapshots(spark, table_dir)


@query(
    "events_snapshot_rename_evolution",
    oracle="""
    SELECT event_id, user_id, value AS amount
    FROM events WHERE event_type IN ('click', 'error')
    """,
)
def events_snapshot_rename_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RENAME schema evolution by FIELD ID (SC10e r16 - Iceberg v2
    semantics: a column's identity is its manifest-recorded ID, its
    name is the current label): v1 commits click events with a
    ``value`` column (auto field id 3), a delta then commits error
    events with the SAME id 3 under the new name ``amount``, and
    snapshot_read_evolved resolves the chain by ID - v1's rows
    surface under the newest name with NO rewrite of v1's files,
    while a time-travel read at v1 still shows the old name (pinned
    in tests/test_snapshots.py). The oracle predicts the union with
    the rename applied analytically."""
    import os
    import shutil

    from isilon_hadoop_tools_spark.operators.snapshots import (
        snapshot_read_evolved,
        snapshot_write,
    )

    ev = _t(spark, sf_dir, "events")
    tag = os.path.basename(sf_dir.rstrip("/"))
    table_dir = f"{_SCRATCH}/snapshot_rename_{tag}"
    shutil.rmtree(table_dir, ignore_errors=True)
    v1 = snapshot_write(
        ev.filter(F.col("event_type") == "click").select(
            "event_id", "user_id", "value"
        ),
        table_dir,
    )
    snapshot_write(
        ev.filter(F.col("event_type") == "error").select(
            "event_id", "user_id", F.col("value").alias("amount")
        ),
        table_dir,
        kind="delta",
        base_version=v1,
        field_ids={"event_id": 1, "user_id": 2, "amount": 3},
    )
    return snapshot_read_evolved(spark, table_dir)


@query(
    "events_cuped_ab",
    oracle="""
    WITH u AS (
      SELECT user_id,
             sum(CASE WHEN event_type = 'view' THEN value ELSE 0 END)
               AS x,
             sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END)
               AS y,
             user_id % 2 AS arm
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT round(covar_samp(x, y) / var_samp(x), 9) AS theta,
             round(avg(x), 9) AS mx
      FROM u
    ),
    adj AS (
      SELECT arm, y, y - theta * (x - mx) AS ya FROM u, g
    )
    SELECT arm, count(*)::BIGINT AS n_units,
           round(avg(y), 6) AS mean_y,
           round(avg(ya), 6) AS mean_y_adj,
           round(1 - var_samp(ya) / var_samp(y), 6) AS var_reduction
    FROM adj GROUP BY arm ORDER BY arm
    """,
)
def events_cuped_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (EA35; Deng et al. 2013):
    per user, the experiment metric is purchase value and the
    pre-period covariate is view value; the pooled theta =
    cov(X,Y)/var(X) adjustment removes the covariate-explained
    variance from each arm's mean without moving its expectation -
    the smaller-CI lift readout every mature experimentation platform
    ships. Deterministic arms via user_id parity; theta and mean(X)
    rounded to 9 dp before the row-level adjustment (the PSI float
    discipline)."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        cuped_readout,
    )

    ev = _t(spark, sf_dir, "events")
    units = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "view", F.col("value")).otherwise(
                F.lit(0.0)
            )
        ).alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase", F.col("value")
            ).otherwise(F.lit(0.0))
        ).alias("y"),
    )
    return cuped_readout(
        units, "user_id", "y", "x", F.pmod(F.col("user_id"), F.lit(2))
    )


def _sprt_oracle() -> str:
    import math

    s1 = int(round(math.log(0.2 / 0.1) * 1_000_000_000))
    s0 = int(round(math.log(0.8 / 0.9) * 1_000_000_000))
    up = int(round(math.log(0.95 / 0.05) * 1_000_000_000))
    lo = int(round(math.log(0.05 / 0.95) * 1_000_000_000))
    return f"""
    WITH obs AS (
      SELECT CASE WHEN event_type = 'purchase' THEN {s1}
                  ELSE {s0} END AS inc,
             row_number() OVER (ORDER BY ts, event_id) AS rn
      FROM events
    ),
    cum AS (SELECT rn, sum(inc) OVER (ORDER BY rn) AS s FROM obs),
    crossed AS (
      SELECT rn, s FROM cum WHERE s >= {up} OR s <= {lo}
      ORDER BY rn LIMIT 1
    ),
    tot AS (
      SELECT max(rn) AS n_total, arg_max(s, rn) AS s_total FROM cum
    )
    SELECT CASE WHEN c.rn IS NOT NULL AND c.s >= {up} THEN 'accept_h1'
                WHEN c.rn IS NOT NULL THEN 'accept_h0'
                ELSE 'continue' END AS decision,
           coalesce(c.rn, t.n_total)::BIGINT AS n_obs,
           round(coalesce(c.s, t.s_total) / 1000000000.0, 6) AS llr
    FROM tot t LEFT JOIN crossed c ON TRUE
    """


@query("events_sprt_decision", oracle=_sprt_oracle())
def events_sprt_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT over the ordered event stream (EA36): is the
    purchase rate p0=0.1 or p1=0.2? Each event in (ts, event_id)
    order contributes a 9-dp-quantized integer LLR increment and the
    FIRST bound crossing decides - the always-valid sequential
    readout that stops as soon as the evidence suffices instead of
    at a fixed n. Increments and bounds are driver-computed scaled
    integers both engines replay exactly; the running sum is the
    two-phase ordered cumsum."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        sprt_decision,
    )

    ev = _t(spark, sf_dir, "events")
    return sprt_decision(
        ev, "ts", "event_id",
        F.col("event_type") == "purchase",
        p0=0.1, p1=0.2, alpha=0.05, beta=0.05,
    )


# SAME oracle as the batch SPRT - the streaming monitor must latch the
# identical first crossing when the stream arrives in event-time order.
@query("events_sprt_stream", oracle=REGISTRY["events_sprt_decision"].oracle)
def events_sprt_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SPRT monitor (EA36s): the sequential test as a live
    maintainer - each micro-batch's 9-dp scaled LLR increments
    cumulate on the carried state and the first crossing LATCHES the
    decision (Wald's stopping rule); replayed batch ids are skipped
    (the foreachBatch transactional-state recipe — replay skip pinned
    by the replay test in tests/test_streaming.py; the bench drains
    once) and must equal the batch decision."""
    from isilon_hadoop_tools_spark import streaming
    from isilon_hadoop_tools_spark.streaming.events import (
        SPRT_STATE_SCHEMA,
        sprt_stream_into_state,
    )

    state = _fresh_state(spark, "sprt_stream")
    ev = streaming.read_events_stream(spark, sf_dir).select(
        "ts", "event_id", "event_type"
    )
    sprt_stream_into_state(ev, state, p0=0.1, p1=0.2)
    st = state.read("sprt", SPRT_STATE_SCHEMA)
    return st.select(
        F.col("decision"),
        F.coalesce(F.col("n_at_decision"), F.col("n_obs")).alias("n_obs"),
        F.round(
            F.coalesce(F.col("llr_at_decision"), F.col("llr_scaled"))
            / F.lit(1_000_000_000.0),
            6,
        ).alias("llr"),
    )


def _dp_mean_oracle() -> str:
    from isilon_hadoop_tools_spark.functions.hashing import (
        stable_hash32_sql,
    )

    us = stable_hash32_sql("concat_ws('|', event_type)", seed=29)
    uc = stable_hash32_sql("concat_ws('|', event_type)", seed=30)
    return f"""
    WITH groups AS (
      SELECT event_type,
             round(sum(least(greatest(value, 0.0), 50.0)), 6)
               AS sum_true,
             count(*) AS n_true
      FROM events WHERE value IS NOT NULL GROUP BY event_type
    ),
    uni AS (
      SELECT *,
             (({us} + 0.5) / 4294967296.0) AS us,
             (({uc} + 0.5) / 4294967296.0) AS uc
      FROM groups
    ),
    noised AS (
      SELECT event_type, sum_true, n_true,
             round(sum_true + round((-100.0 * sign(us - 0.5))
                   * ln(1.0 - 2.0 * abs(us - 0.5)), 6), 6) AS noisy_sum,
             round(n_true + round((-2.0 * sign(uc - 0.5))
                   * ln(1.0 - 2.0 * abs(uc - 0.5)), 6), 6) AS noisy_count
      FROM uni
    )
    SELECT event_type, sum_true, n_true, noisy_sum, noisy_count,
           least(greatest(
             round(noisy_sum / greatest(noisy_count, 1.0), 6), 0.0
           ), 50.0) AS released_mean
    FROM noised
    """


@query("events_dp_mean", oracle=_dp_mean_oracle())
def events_dp_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism DP bounded mean (EA31b): per-event-type mean
    value with contributions clamped into [0, 50], the privacy budget
    split across the sum and count sub-queries, and the released mean
    post-processed back into the clamp range. Seeded-hash noise so
    the oracle replays it exactly (caveat stated in the operator: a
    real release swaps in true randomness)."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        dp_laplace_mean,
    )

    return dp_laplace_mean(
        _t(spark, sf_dir, "events"), ["event_type"], "value",
        lo=0.0, hi=50.0, epsilon=1.0, seed=29,
    )


@query(
    "events_weekday_seasonality",
    oracle="""
    WITH daily AS (
      SELECT event_type AS g, date_trunc('day', ts) AS d,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    dd AS (
      SELECT g, n, isodow(d) - 1 AS dow,
             datediff('day', DATE '1970-01-01', d::DATE) AS epoch_d
      FROM daily
    ),
    wm AS (
      SELECT g, dow, round(avg(n), 9) AS wm
      FROM dd GROUP BY g, dow
    ),
    j AS (
      SELECT dd.g, dd.n, dd.dow, dd.epoch_d, wm.wm,
             dd.n - wm.wm AS resid
      FROM dd JOIN wm ON dd.g = wm.g AND dd.dow = wm.dow
    ),
    stats AS (
      SELECT g, count(*) AS n_days,
             round(1.0 - var_samp(resid) / nullif(var_samp(n), 0.0), 6)
               AS seasonal_strength,
             round(regr_slope(resid, epoch_d), 6) AS trend_slope
      FROM j GROUP BY g
    ),
    ranked AS (
      SELECT g, dow,
             row_number() OVER (PARTITION BY g
                                ORDER BY wm DESC, dow ASC) AS rp,
             row_number() OVER (PARTITION BY g
                                ORDER BY wm ASC, dow ASC) AS rt
      FROM wm
    ),
    pk AS (SELECT g, dow AS peak_dow FROM ranked WHERE rp = 1),
    tr AS (SELECT g, dow AS trough_dow FROM ranked WHERE rt = 1)
    SELECT stats.g AS event_type, n_days, seasonal_strength,
           trend_slope, peak_dow, trough_dow
    FROM stats JOIN pk ON stats.g = pk.g JOIN tr ON stats.g = tr.g
    """,
)
def events_weekday_seasonality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weekday-seasonality decomposition per event type (EA37, the
    STL-lite readout): daily volume splits into a per-weekday profile
    plus residual; the readout reports the STL seasonal-strength
    statistic, the deseasonalized trend slope, and the peak/trough
    weekday - the rhythm the level-trend (EA23) and changepoint
    (EA23c) readouts cannot see."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        weekday_seasonality,
    )

    return weekday_seasonality(
        _t(spark, sf_dir, "events"), "event_type", "ts"
    )


@query(
    "events_seasonal_anomalies",
    oracle="""
    WITH daily AS (
      SELECT event_type AS g, date_trunc('day', ts) AS d, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    dd AS (SELECT g, d, n, isodow(d) - 1 AS dow FROM daily),
    wm AS (
      SELECT g, dow, round(avg(n), 9) AS wm FROM dd GROUP BY g, dow
    ),
    j AS (
      SELECT dd.g, dd.d, dd.n, wm.wm, dd.n - wm.wm AS resid
      FROM dd JOIN wm ON dd.g = wm.g AND dd.dow = wm.dow
    ),
    sd AS (
      SELECT g, round(stddev_samp(resid), 9) AS sd FROM j GROUP BY g
    ),
    scored AS (
      SELECT j.g, j.d, j.n, j.wm,
             round(j.resid / nullif(sd.sd, 0.0), 6) AS z_score
      FROM j JOIN sd ON j.g = sd.g
    )
    SELECT g AS event_type, d::DATE AS day, n, wm AS expected,
           z_score
    FROM scored WHERE abs(z_score) > 2.0
    """,
)
def events_seasonal_anomalies(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weekday-profile anomaly flags (EA37b): days whose volume
    deviates from THEIR WEEKDAY's mean by more than z residual
    standard deviations - the day-of-week-aware alert a raw daily
    z-score gets wrong whenever volume has a weekly rhythm (every
    Friday would page)."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        seasonal_anomalies,
    )

    return seasonal_anomalies(
        _t(spark, sf_dir, "events"), "event_type", "ts", z=2.0
    )


@query(
    "events_seasonal_naive_backtest",
    oracle="""
    WITH daily AS (
      SELECT event_type AS g, date_trunc('day', ts) AS d, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    ev AS (
      SELECT a.g, a.d, a.n, b.n AS n_pred, mx.mx
      FROM daily a
      JOIN daily b ON b.g = a.g AND b.d + INTERVAL 7 DAY = a.d
      JOIN (SELECT g, max(d) AS mx FROM daily GROUP BY g) mx
        ON mx.g = a.g
      WHERE a.d > mx.mx - INTERVAL 28 DAY
    )
    SELECT g AS event_type, count(*)::BIGINT AS n_eval,
           round(avg(abs(n - n_pred)), 6) AS mae,
           round(avg(200.0 * abs(n - n_pred)
                     / (n + n_pred)), 6) AS smape
    FROM ev GROUP BY g
    """,
)
def events_seasonal_naive_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonal-naive forecast backtest (EA38): forecast(day) =
    volume(day - 7), scored with MAE and sMAPE per event type over
    the last 28 evaluable days - the baseline every forecasting model
    must beat, and the capacity-planning sanity readout on its own."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        seasonal_naive_backtest,
    )

    return seasonal_naive_backtest(
        _t(spark, sf_dir, "events"), "event_type", "ts", horizon_days=28
    )


@query(
    "events_snapshot_changes_feed",
    oracle="""
    SELECT event_id, event_type, 'added' AS change,
           2 AS _commit_version
    FROM events WHERE event_type = 'purchase'
    UNION ALL
    SELECT event_id, event_type, 'added', 3
    FROM events WHERE event_type = 'click'
    """,
)
def events_snapshot_changes_feed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental changes feed over a merge-on-read history (SC10h -
    the Delta CDF / Iceberg incremental-read verb): three delta
    commits land (views, purchases, clicks) and a consumer that last
    saw version 1 reads EXACTLY the purchase and click appends,
    tagged with their commit versions, straight from the delta files
    - no diff computed, no base scanned (the append fast path; a
    rewrite in the history would fall back to the honest multiset
    diff)."""
    import os
    import shutil

    from isilon_hadoop_tools_spark.operators.snapshots import (
        snapshot_changes,
        snapshot_write,
    )

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type")
    tag = os.path.basename(sf_dir.rstrip("/"))
    table_dir = f"{_SCRATCH}/snapshot_changes_{tag}"
    shutil.rmtree(table_dir, ignore_errors=True)
    prev = None
    for et in ("view", "purchase", "click"):
        prev = snapshot_write(
            ev.filter(F.col("event_type") == et),
            table_dir,
            kind="delta",
            base_version=prev,
        )
    return snapshot_changes(spark, table_dir, since_version=1)


def _rfm_oracle() -> str:
    qcols = ", ".join(
        f"round(quantile_cont({c}::DOUBLE, 0.{q}), 9) AS _{c}_{q}"
        for c in ("recency_days", "frequency", "monetary")
        for q in (20, 40, 60, 80)
    )

    def sc(c: str, invert: bool) -> str:
        s = " + ".join(
            f"(({c}::DOUBLE) > _{c}_{q})::INT" for q in (20, 40, 60, 80)
        )
        return f"(6 - (1 + {s}))" if invert else f"(1 + {s})"

    r = sc("recency_days", True)
    f = sc("frequency", False)
    m = sc("monetary", False)
    return f"""
    WITH pu AS (
      SELECT user_id, max(ts) AS _last, count(*) AS frequency,
             round(sum(value), 6) AS monetary
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    g AS (SELECT max(_last) AS _gmax FROM pu),
    base AS (
      SELECT user_id,
             date_diff('day', _last::DATE, _gmax::DATE) AS recency_days,
             frequency, monetary
      FROM pu, g
    ),
    q AS (SELECT {qcols} FROM base),
    scored AS (
      SELECT user_id, recency_days, frequency, monetary,
             {r} AS r_score, {f} AS f_score, {m} AS m_score
      FROM base, q
    )
    SELECT user_id, recency_days, frequency, monetary,
           r_score, f_score, m_score,
           CASE
             WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
               THEN 'champions'
             WHEN f_score >= 4 THEN 'loyal'
             WHEN m_score >= 4 THEN 'big_spender'
             WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
             WHEN r_score <= 2 THEN 'hibernating'
             ELSE 'regular'
           END AS segment
    FROM scored
    """


@query("events_rfm_segments", oracle=_rfm_oracle())
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation over purchase events (EA39): per-user recency
    (vs the corpus max - no wall clock), frequency, monetary; each
    scored 1..5 against exact population quintile THRESHOLDS (order-
    free and engine-exact where ntile would need an unpartitioned
    corpus-scale window plus tie-order luck), then the standard
    segment grid. One user aggregate + a broadcast 1-row threshold
    side."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        rfm_segmentation,
    )

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    return rfm_segmentation(ev, "user_id", "ts", "value")


@query(
    "events_range_partition_audit",
    oracle="""
    WITH q AS (
      SELECT round(quantile_cont(value, 0.125), 9) AS b1,
             round(quantile_cont(value, 0.25), 9) AS b2,
             round(quantile_cont(value, 0.375), 9) AS b3,
             round(quantile_cont(value, 0.5), 9) AS b4,
             round(quantile_cont(value, 0.625), 9) AS b5,
             round(quantile_cont(value, 0.75), 9) AS b6,
             round(quantile_cont(value, 0.875), 9) AS b7
      FROM events
    ),
    buckets AS (
      SELECT ((value > b1)::INT + (value > b2)::INT + (value > b3)::INT
            + (value > b4)::INT + (value > b5)::INT + (value > b6)::INT
            + (value > b7)::INT) AS part_id
      FROM events, q
    ),
    counts AS (
      SELECT part_id, count(*) AS n_rows FROM buckets GROUP BY part_id
    ),
    t AS (SELECT max(n_rows) AS mx, sum(n_rows) AS tot FROM counts)
    SELECT part_id, n_rows, round(mx * 8.0 / tot, 6) AS skew_ratio
    FROM counts, t
    """,
)
def events_range_partition_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Range-partition balance audit (SC12): before paying a 100 TB
    repartitionByRange/sort on `value`, compute the exact percentile
    boundaries a perfect 8-way range split would use and report each
    would-be partition's true row count + the max/mean skew ratio -
    near 1 certifies the layout, big says salt or re-key BEFORE the
    shuffle. No global sort: one percentile aggregate + a bucketing
    projection + one count."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        range_partition_audit,
    )

    return range_partition_audit(
        _t(spark, sf_dir, "events"), "value", n_parts=8
    )


def _huber_oracle(c: float = 1.345, iters: int = 3) -> str:
    prev = "it0"
    its = """
    it0 AS (
      SELECT event_type, med, sigma, round(med, 9) AS mu FROM st
    )"""
    for t in range(1, iters + 1):
        its += f""",
    it{t} AS (
      SELECT e.event_type,
             any_value(s.med) AS med,
             any_value(s.sigma) AS sigma,
             round(CASE WHEN any_value(s.sigma) = 0
                        THEN any_value(s.med)
                        ELSE sum(coalesce(
                               CASE WHEN s.sigma = 0 THEN 1.0
                                    ELSE least(1.0, {c} * s.sigma
                                      / nullif(abs(e.value - s.mu), 0.0))
                               END, 1.0) * e.value)
                           / sum(coalesce(
                               CASE WHEN s.sigma = 0 THEN 1.0
                                    ELSE least(1.0, {c} * s.sigma
                                      / nullif(abs(e.value - s.mu), 0.0))
                               END, 1.0))
                   END, 9) AS mu
      FROM events e JOIN {prev} s USING (event_type)
      GROUP BY e.event_type
    )"""
        prev = f"it{t}"
    return f"""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    st AS (
      SELECT e.event_type, any_value(m.med) AS med,
             round(quantile_cont(abs(e.value - m.med), 0.5) / 0.6745, 9)
               AS sigma
      FROM events e JOIN med m USING (event_type)
      GROUP BY e.event_type
    ),{its},
    fin AS (
      SELECT event_type, count(*) AS n, round(avg(value), 6) AS mean
      FROM events GROUP BY event_type
    )
    SELECT f.event_type, f.n, round(s.med, 6) AS median,
           round(s.mu, 6) AS huber_mean, f.mean
    FROM fin f JOIN {prev} s USING (event_type)
    """


@query("events_huber_mean", oracle=_huber_oracle())
def events_huber_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber M-estimator of the per-type mean value via 3 unrolled
    IRLS rounds (EA26c - the efficient middle of the robust-location
    family: full weight inside c*sigma, linear down-weighting
    outside, 95% Gaussian efficiency at c=1.345); starts at the exact
    median with the MAD-derived scale, every iterate rounded to 9 dp
    so both engines replay identical doubles."""
    from isilon_hadoop_tools_spark.operators.analytics import huber_mean

    return huber_mean(
        _t(spark, sf_dir, "events"), "event_type", "value",
        c=1.345, iters=3,
    )


@query(
    "events_benford",
    oracle="""
    WITH observed AS (
      SELECT floor(value / power(10.0, floor(log10(value))))::INT
               AS digit,
             count(*) AS n_obs
      FROM events WHERE value > 0 GROUP BY 1
    ),
    counts AS (
      -- zero-observation digits still contribute E*n to chi-square
      SELECT d.digit, coalesce(o.n_obs, 0) AS n_obs
      FROM (SELECT range::INT AS digit FROM range(1, 10)) d
      LEFT JOIN observed o USING (digit)
    ),
    tot AS (SELECT sum(n_obs) AS n FROM counts),
    scored AS (
      SELECT digit, n_obs,
             (CASE digit WHEN 1 THEN 0.301029996 WHEN 2 THEN 0.176091259 WHEN 3 THEN 0.124938737 WHEN 4 THEN 0.096910013 WHEN 5 THEN 0.079181246 WHEN 6 THEN 0.06694679 WHEN 7 THEN 0.057991947 WHEN 8 THEN 0.051152522 WHEN 9 THEN 0.045757491 END)::DOUBLE AS ep,
             n FROM counts, tot
    ),
    chi AS (
      SELECT round(sum(pow(n_obs - ep * n, 2) / (ep * n)), 6)
               AS chi_square
      FROM scored
    )
    SELECT digit, n_obs, round(ep, 6) AS expected_p,
           round(n_obs / n, 6) AS observed_p, chi_square
    FROM scored, chi
""",
)
def events_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit conformance (EA40): observed leading-digit
    shares of event values vs log10(1 + 1/d), with the chi-square
    statistic - the fabrication screen auditors run on any
    scale-spanning positive quantity. One scan into a 9-row digit
    aggregate; expected probabilities are driver-computed literals
    shared with the oracle."""
    from isilon_hadoop_tools_spark.operators.analytics import benford_test

    return benford_test(_t(spark, sf_dir, "events"), "value")


@query(
    "events_cohort_ltv",
    oracle="""
    WITH firsts AS (
      SELECT user_id AS u, date_trunc('week', min(ts)) AS cohort
      FROM events GROUP BY user_id
    ),
    sizes AS (
      SELECT cohort, count(*) AS n_users FROM firsts GROUP BY cohort
    ),
    rev AS (
      SELECT f.cohort,
             (date_diff('day', f.cohort,
                        date_trunc('week', e.ts)) // 7)::INT
               AS age_week,
             round(sum(e.value), 6) AS week_value
      FROM events e JOIN firsts f ON f.u = e.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT cohort, age_week, week_value,
             round(sum(week_value) OVER (
               PARTITION BY cohort ORDER BY age_week
               ROWS UNBOUNDED PRECEDING), 6) AS cum_value
      FROM rev
    )
    SELECT c.cohort::DATE AS cohort_week, c.age_week, s.n_users,
           c.week_value, c.cum_value,
           round(c.cum_value / s.n_users, 6) AS ltv
    FROM cum c JOIN sizes s USING (cohort)
    """,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves (EA41 - the revenue twin of the
    EA1 retention readout): users cohort by first-activity ISO week,
    purchase value accumulates by cohort-age in weeks, and the curve
    reports cumulative revenue per cohort member - the payback-period
    plot growth teams hold against acquisition cost."""
    from isilon_hadoop_tools_spark.operators.analytics import cohort_ltv

    ev = _t(spark, sf_dir, "events")
    return cohort_ltv(
        ev, "user_id", "ts", "value",
        F.col("event_type") == "purchase",
    )


@query(
    "events_snapshot_append_stream",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    """,
)
def events_snapshot_append_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exactly-once streaming APPEND into the snapshot format (SC10i
    - the plain fact-ingest path next to the CDC merge): each
    micro-batch commits as a delta snapshot with its batch id in the
    manifest; a replay commits NOTHING (append has no merge algebra
    to absorb duplicates, so exactly-once comes from the commit
    layer — pinned by the restart matrix in
    tests/test_streaming_restart.py; the bench drains once) - the
    chain read must
    equal the source table exactly."""
    import os
    import shutil

    from isilon_hadoop_tools_spark import streaming
    from isilon_hadoop_tools_spark.operators.snapshots import (
        snapshot_read_chain,
    )
    from isilon_hadoop_tools_spark.streaming.events import (
        append_stream_into_snapshots,
    )

    tag = os.path.basename(sf_dir.rstrip("/"))
    table_dir = f"{_SCRATCH}/snapshot_append_{tag}"
    shutil.rmtree(table_dir, ignore_errors=True)
    ev = streaming.read_events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    append_stream_into_snapshots(ev, table_dir)
    return snapshot_read_chain(spark, table_dir)


@query(
    "events_mann_kendall",
    oracle="""
    WITH daily AS (
      SELECT event_type AS g, date_trunc('day', ts) AS d, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    pr AS (
      SELECT a.g, sign(b.n - a.n)::BIGINT AS s
      FROM daily a JOIN daily b ON a.g = b.g AND a.d < b.d
    ),
    s AS (SELECT g, sum(s)::BIGINT AS s_stat FROM pr GROUP BY g),
    nd AS (SELECT g, count(*)::BIGINT AS n_days FROM daily GROUP BY g),
    ties AS (
      SELECT g, sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tie
      FROM (SELECT g, n, count(*)::BIGINT AS t FROM daily GROUP BY g, n)
      GROUP BY g
    ),
    j AS (
      SELECT nd.g, n_days, s_stat,
             (n_days * (n_days - 1) * (2 * n_days + 5) - tie) / 18.0
               AS var_s
      FROM nd JOIN s ON nd.g = s.g JOIN ties ON nd.g = ties.g
    ),
    zc AS (
      SELECT g, n_days, s_stat, round(var_s, 6) AS var_s,
             round(CASE WHEN var_s <= 0 THEN 0.0
                        WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                        WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                        ELSE 0.0 END, 6) AS z
      FROM j
    )
    SELECT g AS event_type, n_days, s_stat, var_s, z,
           CASE WHEN z > 1.96 THEN 'increasing'
                WHEN z < -1.96 THEN 'decreasing'
                ELSE 'none' END AS trend
    FROM zc
    """,
)
def events_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test on daily volume per event
    type (EA23d - the nonparametric significance twin of the EA23
    slope fits): exact integer S over day pairs, tie-corrected
    variance, continuity-corrected z - bounded by calendar time
    (days^2 per group), never by row count."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        mann_kendall_trend,
    )

    return mann_kendall_trend(_t(spark, sf_dir, "events"), "event_type", "ts")


@query(
    "events_revenue_gini",
    oracle="""
    WITH pu AS (
      SELECT event_type AS g, user_id AS u,
             round(sum(value), 9) AS x
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT g, x,
             row_number() OVER (PARTITION BY g ORDER BY x ASC, u ASC)
               AS i
      FROM pu
    ),
    agg AS (
      SELECT g, count(*)::BIGINT AS n_units,
             round(sum(x), 6) AS total_value,
             sum(i * x) AS ix
      FROM ranked GROUP BY g
    )
    SELECT g AS event_type, n_units, total_value,
           round(CASE WHEN total_value > 0
                 THEN 2.0 * ix / (n_units * total_value)
                      - (n_units + 1.0) / n_units
                 END, 6) AS gini
    FROM agg
    """,
)
def events_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of per-user value within each event type
    (EA42): the scalar behind 'what share of value do the top users
    carry' - 0 even, near 1 winner-takes-all. Per-GROUP-partitioned
    rank window (scales with executors; no global ntile), exact tie
    invariance."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        gini_concentration,
    )

    return gini_concentration(
        _t(spark, sf_dir, "events"), "event_type", "user_id", "value"
    )


@query(
    "events_stream_left_outer_join",
    oracle="""
    WITH wm AS (
      SELECT least(
               max(CASE WHEN event_type = 'view' THEN ts END),
               max(CASE WHEN event_type = 'purchase' THEN ts END)
             ) - INTERVAL 10 MINUTE AS w
      FROM events
    ),
    v AS (
      SELECT user_id, ts AS view_ts FROM events
      WHERE event_type = 'view'
    ),
    p AS (
      SELECT user_id AS p_user, ts AS purchase_ts, value FROM events
      WHERE event_type = 'purchase'
    )
    SELECT v.user_id, v.view_ts, p.purchase_ts, p.value
    FROM v
    LEFT JOIN p ON p.p_user = v.user_id
      AND p.purchase_ts >= v.view_ts
      AND p.purchase_ts <= v.view_ts + INTERVAL 3600 SECOND
    CROSS JOIN wm
    WHERE v.view_ts + INTERVAL 3660 SECOND < wm.w
    """,
)
def events_stream_left_outer_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join (§2.9's hard half:
    'views that did NOT convert' requires PROVING absence, which a
    stream can only do once the watermark closes the view's window -
    exactly Spark's state eviction point): matched pairs emit as they
    join; NULL rows emit at window close; views whose window is still
    open at end-of-stream emit nothing. Both engines restrict to
    views whose window PROVABLY closed (a 60 s safety margin below
    the final watermark keeps eviction-boundary ties out of the
    contract), where the stream equals the batch left join
    exactly."""
    from isilon_hadoop_tools_spark import streaming
    from isilon_hadoop_tools_spark.streaming.events import (
        run_available_now,
        view_purchase_left_outer_join,
    )

    batch = _t(spark, sf_dir, "events")
    # the GLOBAL watermark is the MIN over the query's watermark
    # nodes: each join side advances on ITS OWN stream's max event
    # time, so the slower stream (purchases trail views) gates null
    # emission for both
    final_wm = batch.agg(
        (
            F.least(
                F.max(F.when(F.col("event_type") == "view", F.col("ts"))),
                F.max(
                    F.when(F.col("event_type") == "purchase", F.col("ts"))
                ),
            )
            - F.expr("INTERVAL 10 MINUTES")
        ).alias("w")
    ).collect()[0]["w"]
    ev = streaming.read_events_stream(spark, sf_dir)
    out = run_available_now(
        view_purchase_left_outer_join(
            ev, watermark="10 minutes", horizon_sec=3600
        ),
        output_mode="append",
    )
    return out.filter(
        F.col("view_ts") + F.expr("INTERVAL 3660 SECONDS")
        < F.lit(final_wm)
    )


@query(
    "events_snapshot_row_deletes",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    WHERE event_type NOT IN ('error', 'click')
    UNION ALL
    SELECT event_id, user_id, event_type, round(value + 1000.0, 2)
    FROM events WHERE event_type = 'error' AND event_id % 2 = 0
    """,
)
def events_snapshot_row_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Equality-delete files with sequence-number semantics (SC10j -
    Iceberg v2 merge-on-read row deletes): v1 commits the full table,
    v2 deletes the error rows BY KEY (O(deleted keys) written, no
    rewrite), v3 re-appends half of them corrected, v4 deletes the
    click rows - and the MoR reader applies deletes by COMMIT ORDER,
    so the re-appended rows survive the earlier delete while the
    clicks (deleted after their append) do not. Oracle enumerates the
    surviving set analytically."""
    import os
    import shutil

    from isilon_hadoop_tools_spark.operators.snapshots import (
        snapshot_read_mor,
        snapshot_write,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.round(F.col("value"), 2).alias("value"),
    )
    tag = os.path.basename(sf_dir.rstrip("/"))
    table_dir = f"{_SCRATCH}/snapshot_rowdel_{tag}"
    shutil.rmtree(table_dir, ignore_errors=True)
    v1 = snapshot_write(ev, table_dir)
    v2 = snapshot_write(
        ev.filter(F.col("event_type") == "error").select("event_id"),
        table_dir, kind="delete", base_version=v1,
    )
    v3 = snapshot_write(
        ev.filter(
            (F.col("event_type") == "error")
            & (F.pmod(F.col("event_id"), F.lit(2)) == 0)
        ).withColumn("value", F.round(F.col("value") + 1000.0, 2)),
        table_dir, kind="delta", base_version=v2,
    )
    snapshot_write(
        ev.filter(F.col("event_type") == "click").select("event_id"),
        table_dir, kind="delete", base_version=v3,
    )
    return snapshot_read_mor(spark, table_dir, ["event_id"])


@query(
    "events_conversion_ztest",
    oracle="""
    WITH units AS (
      SELECT user_id, max(user_id % 2) AS arm,
             max((event_type = 'purchase')::INT) AS c
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT sum((arm = 0)::INT)::BIGINT AS n_0,
             sum((arm = 1)::INT)::BIGINT AS n_1,
             sum(CASE WHEN arm = 0 THEN c ELSE 0 END)::BIGINT AS conv_0,
             sum(CASE WHEN arm = 1 THEN c ELSE 0 END)::BIGINT AS conv_1
      FROM units
    ),
    m AS (
      SELECT *,
             conv_0 / (n_0 * 1.0) AS p0, conv_1 / (n_1 * 1.0) AS p1,
             (conv_0 + conv_1) / ((n_0 + n_1) * 1.0) AS pp
      FROM g
    ),
    zc AS (
      SELECT *,
             round((p1 - p0) / nullif(
               sqrt(pp * (1.0 - pp) * (1.0 / n_0 + 1.0 / n_1)), 0.0
             ), 6) AS z,
             round((1.959964 + 0.841621) * sqrt(
               2.0 * pp * (1.0 - pp)
               / (2.0 / (1.0 / n_0 + 1.0 / n_1))
             ), 6) AS mde_abs
      FROM m
    )
    SELECT n_0, n_1, conv_0, conv_1,
           round(p0, 6) AS rate_0, round(p1, 6) AS rate_1,
           round(p1 - p0, 6) AS lift_abs, z,
           abs(z) > 1.96 AS significant, mde_abs
    FROM zc
    """,
)
def events_conversion_ztest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-proportion conversion z-test with MDE (EA25b - the binary
    twin of EA25's Welch mean test): per-user converted-at-all flag,
    pooled-variance z on the rate difference, and the minimum
    detectable effect at the CURRENT sample sizes (alpha .05 / power
    .8, driver-literal normal quantiles) - the 'was this test even
    big enough' column a null result is worthless without."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        conversion_ztest,
    )

    ev = _t(spark, sf_dir, "events")
    return conversion_ztest(
        ev, "user_id", F.pmod(F.col("user_id"), F.lit(2)),
        F.col("event_type") == "purchase",
    )
