"""Streaming operators over the ``events`` table.

Every transformation here is the *same DataFrame expression* its batch
twin uses — the suite checks each streaming query's ``availableNow``
run against the batch oracle (``events_hourly_rollup`` /
``events_dedup_first``), which is exactly the reference's
inotify contract made testable: deliver-late-up-to-watermark, then
results equal the batch answer.

Watermark == the inotify ``maximum_delay`` (``onefs.py:1099-1120``);
state TTL / retention == watermark eviction.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from isilon_hadoop_tools_spark.plans.sinks import merge_create
from isilon_hadoop_tools_spark.plans.state import ParquetState
from isilon_hadoop_tools_spark.sources import tpch
from isilon_hadoop_tools_spark.sources.local import local_df

DEFAULT_WATERMARK = "1 day"


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the events parquet.

    Same ``ts`` handling as the batch scan (``sources/tpch.py``):
    schema-aware normalization to a µs session-TZ timestamp, whether
    the file stores nanos longs or ``timestamp[us]``. The file source
    needs a directory/glob, so the single-file table is addressed with
    a glob pattern.

    Session side effect (deliberate, narrow): when the session still
    has Spark's stock ``spark.sql.shuffle.partitions`` (200), it is
    lowered to ``SPARK_GRAFT_CPUS`` for the *session* — streaming
    state-store counts freeze at the query's first run, so the change
    cannot be scoped to one query. A caller-configured value is left
    untouched; later batch queries that inherit the lowered value are
    unaffected in practice because AQE re-coalesces batch exchanges.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Streaming state stores are created per shuffle partition and the
    # count is frozen at the query's first run: a vanilla session's
    # 200 means 200 state dirs per stateful stage (a measured 31 s for
    # the stream-stream join at sf0.01). Size to the machine instead —
    # on a real cluster the caller sets SPARK_GRAFT_CPUS to the
    # executor-core total (AQE cannot coalesce streaming exchanges).
    # Only override the stock default: a caller who configured the
    # session keeps their value.
    import os as _os

    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            _os.environ.get("SPARK_GRAFT_CPUS", "32"),
        )
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(f"{sf_dir}/events.*")
    return tpch.normalize_events_ts(df)


def hourly_rollup_stream(
    events: DataFrame, watermark: str = DEFAULT_WATERMARK
) -> DataFrame:
    """Tumbling 1-hour window rollup — the streaming twin of
    ``events_hourly_rollup`` (window.start == date_trunc('hour'))."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour"), "event_type", "n_events", "sum_value"
        )
    )


def sliding_rollup_stream(
    events: DataFrame,
    watermark: str = DEFAULT_WATERMARK,
    width: str = "1 hour",
    slide: str = "30 minutes",
) -> DataFrame:
    """Sliding-window rollup: each event lands in width/slide
    overlapping windows (2 at the defaults). Same watermark contract
    as the tumbling twin; state per (window, event_type) is evicted
    once the watermark passes window.end."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("w_start"), "event_type", "n_events", "sum_value"
        )
    )


def static_enrich_rollup_stream(
    events: DataFrame,
    dim: DataFrame,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Stream-static broadcast join + windowed rollup: each streaming
    event is enriched with its user's nation from a STATIC dimension
    (state-free — the static side is re-broadcast per micro-batch,
    never buffered in the state store), then aggregated per
    (hour, nation).

    This is the dimension-enrichment shape of every streaming ETL: the
    only stateful operator is the downstream windowed agg, whose state
    is evicted by the watermark; the join itself adds none. ``dim``
    must be broadcast-sized (a dimension, not a fact)."""
    enriched = events.join(
        F.broadcast(dim.select(F.col("c_custkey"), F.col("c_nationkey"))),
        events["user_id"] == F.col("c_custkey"),
        "inner",
    )
    return (
        enriched.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", "1 hour").alias("w"),
            F.col("c_nationkey").alias("nationkey"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour"),
            "nationkey",
            "n_events",
            "sum_value",
        )
    )


def dedup_first_stream(
    events: DataFrame, watermark: str = DEFAULT_WATERMARK
) -> DataFrame:
    """Keyed first-sighting dedup as a streaming aggregation — the
    deterministic streaming twin of ``events_dedup_first``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("event_id")
        .agg(F.min("ts").alias("first_ts"), F.count(F.lit(1)).alias("n_seen"))
    )


def dedup_within_watermark(
    events: DataFrame, watermark: str = DEFAULT_WATERMARK
) -> DataFrame:
    """Row-level stateful dedup: keep the first arriving row per
    event_id, with state evicted past the watermark
    (``dropDuplicatesWithinWatermark``). Arrival order dependent by
    nature — asserted by count, not by value hash."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def sessionize(
    events: DataFrame,
    gap: str = "10 minutes",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Gap-based session windows per event_type: a session extends
    while successive events arrive < gap apart; ``session_end`` is
    last_ts + gap (Spark's half-open [start, last+gap) window).

    Works identically on a batch DataFrame (``session_window`` is a
    plain grouping expression there; the watermark only applies to
    streams) — which is how the oracle checks it.
    """
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "event_type",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def view_purchase_interval_join(
    events: DataFrame,
    watermark: str = DEFAULT_WATERMARK,
    horizon_sec: int = 3600,
) -> DataFrame:
    """Stream-stream inner join with event-time interval bounds:
    each purchase joins the same user's views from the preceding
    ``horizon_sec`` seconds.

    Both sides carry a watermark and the join condition bounds
    ``purchase_ts`` to ``[view_ts, view_ts + horizon]``, so Spark can
    evict join state older than watermark + horizon — without the
    time bounds the state would grow forever (the planner rejects
    unbounded stream-stream joins in append mode for exactly that
    reason). Output: ``user_id``, ``view_ts``, ``purchase_ts``,
    ``value``.
    """
    views = (
        events.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            "value",
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = (
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {horizon_sec} SECONDS")
        )
    )
    return views.join(purchases, cond).select(
        F.col("v_user").alias("user_id"), "view_ts", "purchase_ts", "value"
    )


def view_purchase_left_outer_join(
    events: DataFrame,
    watermark: str = "10 minutes",
    horizon_sec: int = 3600,
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join (§2.9 — the
    outer-join half the inner J9 join lacks, and the semantically
    hard one: "views that did NOT convert" requires PROVING absence,
    which a stream can only do once the watermark closes the view's
    join window): each view joins the same user's purchases within
    the following ``horizon_sec``; a view with no purchase emits a
    NULL-extended row — but only AFTER the watermark passes
    ``view_ts + horizon`` (until then a matching purchase could still
    arrive), which is exactly Spark's state-store eviction point.

    Contract stated loudly: under ``availableNow`` the FINAL
    watermark is max(event_ts) − delay, so views whose window has not
    closed by end-of-stream emit NOTHING (neither matched nor null) —
    the honest streaming answer, NOT the batch left join; the batch
    equivalence holds exactly for views with
    ``view_ts + horizon < final_watermark``. Output: ``user_id``,
    ``view_ts``, ``purchase_ts`` (NULL = proven unconverted),
    ``value``.
    """
    views = (
        events.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            "value",
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = (
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {horizon_sec} SECONDS")
        )
    )
    return views.join(purchases, cond, "left_outer").select(
        F.col("v_user").alias("user_id"), "view_ts", "purchase_ts", "value"
    )


def run_available_now(
    stream_df: DataFrame, output_mode: str = "complete"
) -> DataFrame:
    """Drain the stream with trigger(availableNow) into a memory sink
    and return the result as a batch DataFrame."""
    name = "q" + uuid.uuid4().hex
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def drain(source: DataFrame, apply_batch, checkpoint: str | None) -> None:
    """Drain ``source`` through ``apply_batch(batch, batch_id)`` via
    ``foreachBatch`` with ``trigger(availableNow)`` and block until
    every available input is consumed — the one writer behind every
    streaming maintainer, whether a ``*_stream_into_*`` function here
    or a query that drains a near-dup applier directly.
    With a ``checkpoint`` location a restart resumes after the last
    committed batch; without one every drain replays the whole
    source, which each applier's own idempotence absorbs."""
    writer = source.writeStream.foreachBatch(apply_batch).trigger(
        availableNow=True
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    writer.start().awaitTermination()


def hll_stream_into_state(
    events: DataFrame,
    state: ParquetState,
    key: str = "user_id",
    b: int = 8,
    table: str = "hll_registers",
    checkpoint: str | None = None,
) -> None:
    """Incremental streaming sketch maintenance: each micro-batch
    builds its own HLL register table and max-merges it into the
    persisted registers (``foreachBatch``) — the streaming
    distinct-count pattern where state is m registers, not the key
    set. Because the register build is deterministic and max-merge is
    idempotent/commutative/associative, batch replays cannot corrupt
    the sketch, and the final registers equal a single batch pass
    over all data (the oracle contract)."""
    from isilon_hadoop_tools_spark.operators.sketches import (
        hll_merge,
        hll_registers,
    )

    schema = "bucket LONG, rho LONG"

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        delta = hll_registers(batch, key, b)
        current = state.read(table, schema)
        state.write(table, hll_merge([current, delta]))

    drain(events, apply_batch, checkpoint)


def merge_stream_into_state(
    events: DataFrame,
    state: ParquetState,
    table: str = "events_seen",
    checkpoint: str | None = None,
) -> None:
    """``foreachBatch`` idempotent sink (S9 semantics): each micro-
    batch is reduced to one row per event_id and merged with
    adopt-on-conflict, so replaying a batch — or restarting the whole
    stream without a checkpoint — cannot change committed state."""
    schema = "event_id LONG, first_ts TIMESTAMP"

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        delta = batch.groupBy("event_id").agg(F.min("ts").alias("first_ts"))
        current = state.read(table, schema)
        state.write(table, merge_create(current, delta, "event_id"))

    drain(events, apply_batch, checkpoint)


def _marker_gate(current: DataFrame, batch_id: int, schema: str):
    """The horizon-compacted transaction-marker discipline, shared by
    every sum-merge stream (CMS, banded drift counts): rows with
    ``row_id = -2`` are the horizon ("every batch id <= bucket is
    committed"), ``row_id = -1`` rows mark committed ids above a gap.
    Returns ``None`` when ``batch_id`` is already committed (the
    caller skips the batch), else the compacted marker DataFrame to
    write INSIDE the same atomic swap as the merged counts — the
    horizon advances through the now-contiguous prefix, so steady
    state is ONE marker row regardless of stream age; legacy
    sparse-only states absorb into the horizon on first commit."""
    marker_rows = current.filter(F.col("row_id") <= -1).collect()
    horizon = max(
        (int(r["bucket"]) for r in marker_rows if r["row_id"] == -2),
        default=-1,
    )
    sparse = {
        int(r["bucket"])
        for r in marker_rows
        if r["row_id"] == -1 and int(r["bucket"]) > horizon
    }
    bid = int(batch_id)
    if bid <= horizon or bid in sparse:
        return None
    sparse.add(bid)
    while horizon + 1 in sparse:
        horizon += 1
        sparse.discard(horizon)
    return local_df(
        current.sparkSession,
        [(-2, horizon, 1)] + [(-1, b, 1) for b in sorted(sparse)],
        schema,
    )


def banded_count_stream_into_state(
    events: DataFrame,
    state: ParquetState,
    value_col: str,
    breaks: list,
    table: str = "band_counts",
    checkpoint: str | None = None,
) -> None:
    """Streaming maintenance of fixed-band value counts — the
    continuously-updated CURRENT side of a drift monitor (the
    streaming half of the PSI gate: the baseline histogram is a
    static table, the production stream keeps this one fresh, and
    :func:`~isilon_hadoop_tools_spark.operators.analytics.psi_drift`'s
    readout formula runs over the join of the two).

    Counts sum-merge, which is NOT replay-idempotent, so this shares
    the CMS stream's horizon-compacted marker discipline verbatim
    (:func:`_marker_gate` — one atomic swap commits counts + markers,
    O(1) marker state over an unbounded stream). State is B band
    rows + markers, never the value log; ``row_id = 0`` rows hold
    ``(bucket=band, cnt)``. Bands below every break index as the
    break's position; values at or above the last break land in band
    ``len(breaks)`` — identical banding to the batch ``psi_drift``.
    """
    from isilon_hadoop_tools_spark.operators.analytics import band_index_expr

    schema = "row_id LONG, bucket LONG, cnt LONG"
    band = band_index_expr(value_col, breaks).cast("long")

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        current = state.read(table, schema)
        markers = _marker_gate(current, batch_id, schema)
        if markers is None:
            return
        counts = current.filter(F.col("row_id") >= 0)
        delta = batch.select(band.alias("bucket")).groupBy("bucket").agg(
            F.count(F.lit(1)).alias("cnt")
        ).select(F.lit(0).cast("long").alias("row_id"), "bucket", "cnt")
        merged = (
            counts.unionByName(delta)
            .groupBy("row_id", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )
        state.write(table, merged.unionByName(markers))

    drain(events, apply_batch, checkpoint)


def cms_stream_into_state(
    events: DataFrame,
    state: ParquetState,
    key: str = "user_id",
    d: int = 4,
    w: int = 256,
    table: str = "cms_sketch",
    checkpoint: str | None = None,
) -> None:
    """Incremental count-min sketch maintenance over a stream — the
    streaming heavy-hitters pattern (L37 x §2.9): each micro-batch
    builds its own CMS delta and elementwise-ADDS it into the
    persisted sketch via ``foreachBatch``.

    Unlike HLL's max-merge, the CMS sum-merge is NOT idempotent, so a
    replayed batch would double-count. Exactly-once here is the
    transaction-marker discipline a Delta/Iceberg sink would give
    you, expressed on ``ParquetState``'s single-table atomic swap:
    every committed micro-batch's marker commits INTO THE SAME TABLE
    as the merged counts, so sketch+marker commit in ONE atomic swap
    — a crash can never persist one without the other — and
    ``apply_batch`` skips any batch id it has already committed.
    Replays (restart with a checkpoint, or a full no-checkpoint
    re-drain, whose availableNow file-source batch ids are
    deterministic) are no-ops.

    The marker set is COMPACTED in the same swap so state does not
    grow with stream age: one HORIZON row (``row_id = -2, bucket =
    H``) records "every batch id <= H is committed", and individual
    ``row_id = -1`` marker rows exist only for committed ids above a
    gap. After each commit the horizon advances through the now-
    contiguous prefix and absorbed markers are dropped — with
    in-order micro-batch delivery (Structured Streaming's contract)
    the steady state is exactly ONE horizon row, so both the marker
    scan and the driver-side committed-set stay O(1) over an
    unbounded stream lifetime instead of O(batches). States persisted
    by the pre-compaction format (only ``-1`` markers) are absorbed
    into the horizon on the first new commit.

    State is d·w counters + O(1) marker rows — never the key set.
    Final counts equal a single batch ``cms_table`` pass over all
    data (the incremental == batch oracle contract).
    """
    from isilon_hadoop_tools_spark.operators.sketches import (
        cms_merge,
        cms_table,
    )

    schema = "row_id LONG, bucket LONG, cnt LONG"

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        current = state.read(table, schema)
        markers = _marker_gate(current, batch_id, schema)
        if markers is None:
            return
        counts = current.filter(F.col("row_id") >= 0)
        delta = cms_table(batch, key, d, w)
        state.write(
            table,
            cms_merge([counts, delta]).unionByName(markers),
        )

    drain(events, apply_batch, checkpoint)


CDC_STATE_SCHEMA = (
    "user_id LONG, ts TIMESTAMP, event_id LONG, "
    "event_type STRING, value DOUBLE"
)


def _cdc_latest(df: DataFrame) -> DataFrame:
    """Per-key latest row under the (ts, event_id) total order — the
    CDC merge algebra shared by the state writer and the
    merge-on-read reader. Order-independent and idempotent:
    ``latest(A ∪ B) == latest(latest(A) ∪ latest(B))``."""
    order = F.struct(F.col("ts").alias("_t"), F.col("event_id").alias("_tb"))
    payload = F.struct("ts", "event_id", "event_type", "value")
    return (
        df.groupBy("user_id")
        .agg(F.max_by(payload, order).alias("_p"))
        .select("user_id", "_p.*")
    )


def cdc_stream_into_state(
    events: DataFrame,
    state: ParquetState,
    table: str = "cdc_state",
    checkpoint: str | None = None,
) -> None:
    """Streaming CDC upsert maintenance (§2.9 x EA5) — the continuous
    form of the Delta/Hudi MERGE reduce: each micro-batch collapses
    to its per-key latest row (``max_by`` on (ts, event_id) — the
    same order contract as the batch ``cdc_apply``) and merges into
    the persisted key state by the same maximum. State keeps
    TOMBSTONE rows too (a later out-of-order non-delete must still
    lose to them), so consumers filter the delete op at read time.

    Exactly-once falls out of the ALGEBRA, like the HLL stream: the
    per-key (ts, tiebreak) max is idempotent and commutative, so
    replayed batches, out-of-order arrival ACROSS batches, and
    no-checkpoint re-drains all converge to the same state — no
    markers or anti-joins needed. State is one row per key ever
    seen (the compaction contract), never the log.
    """

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        current = state.read(table, CDC_STATE_SCHEMA)
        state.write(table, _cdc_latest(current.unionByName(_cdc_latest(batch))))

    drain(events, apply_batch, checkpoint)


KMV_STATE_SCHEMA = "h LONG, event_id LONG, value DOUBLE"


def kmv_stream_into_state(
    events: DataFrame,
    state: ParquetState,
    k: int = 512,
    table: str = "kmv_sample",
    checkpoint: str | None = None,
) -> None:
    """Streaming KMV bottom-k maintenance — the continuously-updated
    uniform sample (and with it distinct counts and quantile
    estimates) over an unbounded key stream: per micro-batch take the
    batch's ``k`` smallest ``stable_hash32(key)`` rows and merge with
    the persisted sample by keeping the ``k`` smallest of the union.

    Exactly-once from the ALGEBRA, the third flavor after HLL's max
    and CDC's max_by: bottom-k-of-union is idempotent (a replayed
    batch re-offers rows the distinct pass collapses), commutative,
    and associative — ``bottom_k(A ∪ B) == bottom_k(bottom_k(A) ∪
    bottom_k(B))``, the KMV merge property. State is k rows forever;
    keys are unique per event (event_id), so the distinct collapse
    is exact.
    """

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        h = F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        delta = (
            batch.select(
                h.alias("h"), "event_id", "value"
            )
            .orderBy("h", "event_id")
            .limit(k)
        )
        current = state.read(table, KMV_STATE_SCHEMA)
        merged = (
            current.unionByName(delta)
            .distinct()
            .orderBy("h", "event_id")
            .limit(k)
        )
        state.write(table, merged)

    drain(events, apply_batch, checkpoint)


def cdc_state_from_snapshots(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """The CDC state table at ``version`` (default: latest) under the
    merge-on-read discipline: union the :func:`delta_chain` members
    and collapse with the per-key max_by merge. A version whose chain
    is a single FULL snapshot (a compaction commit) is returned
    as-is — already merged, no aggregate paid."""
    from isilon_hadoop_tools_spark.operators.snapshots import (
        delta_chain,
        snapshot_read,
        snapshot_read_chain,
    )

    chain = delta_chain(table_dir, version)
    if len(chain) == 1:
        return snapshot_read(spark, table_dir, chain[0])
    return _cdc_latest(snapshot_read_chain(spark, table_dir, version))


def cdc_stream_into_snapshots(
    events: DataFrame,
    table_dir: str,
    checkpoint: str | None = None,
    compact_every: int = 4,
    vacuum_keep: int | None = None,
) -> None:
    """Streaming CDC maintenance committing THROUGH the snapshot
    layer (§2.9 × SC10) — ``cdc_stream_into_state``'s merge algebra
    with ``operators/snapshots``' atomic manifest commit as the sink:
    downstream readers get (a) never-torn state — a reader concurrent
    with a batch resolves the previous manifest until the pointer
    swaps, (b) per-batch TIME TRAVEL of the CDC state
    (:func:`cdc_state_from_snapshots` with ``version=``), and (c) the
    crash matrix of the snapshot layer: a batch killed mid-write
    leaves an invisible torn directory and the replayed batch
    converges, because the per-key (ts, event_id) max_by merge is
    idempotent.

    Writes are merge-on-read: each batch commits ONLY its per-key
    latest rows as a ``kind="delta"`` snapshot — O(batch) written per
    commit — and every ``compact_every``-th commit folds the chain
    into a ``kind="full"`` compaction snapshot, so a chain is never
    longer than ``compact_every`` and the read cost (union + one
    aggregate) stays bounded. Readers use
    :func:`cdc_state_from_snapshots`, never a raw ``snapshot_read``
    of a delta version.

    Pair a long-running stream with vacuum: pass
    ``vacuum_keep=N`` to expire all but the last N versions after
    each compaction (merge-on-read keeps every kept version's chain
    readable — the vacuum closure), or run ``snapshot_vacuum``
    yourself on a maintenance schedule. Without it versions and
    files accrue without bound — that is the documented cost of
    time travel, not a leak.
    """
    if compact_every < 2:
        raise ValueError(f"compact_every must be >= 2; got {compact_every}")
    from isilon_hadoop_tools_spark.operators.snapshots import (
        delta_chain,
        latest_version,
        snapshot_vacuum,
        snapshot_write,
    )

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        spark = batch.sparkSession
        delta = _cdc_latest(batch)
        base = latest_version(table_dir)
        chain = delta_chain(table_dir) if base is not None else []
        if len(chain) + 1 > compact_every:
            merged = _cdc_latest(
                cdc_state_from_snapshots(spark, table_dir).unionByName(
                    delta
                )
            )
            snapshot_write(merged, table_dir, kind="full")
            if vacuum_keep is not None:
                snapshot_vacuum(table_dir, keep_last=vacuum_keep)
        else:
            snapshot_write(
                delta, table_dir, kind="delta", base_version=base
            )

    drain(events, apply_batch, checkpoint)


SPRT_STATE_SCHEMA = (
    "last_batch LONG, n_obs LONG, llr_scaled LONG, decision STRING,"
    " n_at_decision LONG, llr_at_decision LONG"
)


def sprt_stream_into_state(
    events: DataFrame,
    state,
    p0: float,
    p1: float,
    alpha: float = 0.05,
    beta: float = 0.05,
    checkpoint: str | None = None,
    table: str = "sprt",
) -> None:
    """Streaming SPRT monitor (EA36s — the §2.9 twin of
    ``analytics.sprt_decision``): the continuous-experiment readout
    that watches a LIVE stream and LATCHES the first bound crossing,
    so an experiment stops the moment the evidence suffices instead
    of at the next batch job. Each micro-batch's observations are
    ordered (ts, id) within the batch, their 9-dp scaled-integer LLR
    increments cumulated on top of the carried state, and the first
    in-batch crossing (if any) freezes the decision — later batches
    are no-ops on a latched state (Wald's stopping rule).

    Exactly-once across replays WITHOUT relying on sink idempotence:
    the state row carries ``last_batch`` and a replayed/duplicate
    micro-batch id is skipped (the foreachBatch transactional-sink
    recipe) — LLR accumulation is a running sum, so at-least-once
    delivery would otherwise double-count.

    Ordering contract, stated loudly: the SPRT statistic is defined
    over the OBSERVATION ORDER; this maintainer assumes batches
    arrive in event-time order (the sequential-testing setting).
    Within a batch the (ts, id) sort makes the cumsum total-ordered;
    across batches the carried sum imposes arrival order.
    """
    if not (0.0 < p0 < 1.0 and 0.0 < p1 < 1.0 and p0 != p1):
        raise ValueError(f"need 0 < p0 != p1 < 1; got {p0}, {p1}")
    import math

    s1 = int(round(math.log(p1 / p0) * 1_000_000_000))
    s0 = int(round(math.log((1.0 - p1) / (1.0 - p0)) * 1_000_000_000))
    up = int(round(math.log((1.0 - beta) / alpha) * 1_000_000_000))
    lo = int(round(math.log(beta / (1.0 - alpha)) * 1_000_000_000))

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        from isilon_hadoop_tools_spark.operators.analytics import (
            _ordered_cumsum,
        )

        spark = batch.sparkSession
        cur = state.read(table, SPRT_STATE_SCHEMA).collect()
        row = cur[0] if cur else None
        if row is not None and batch_id <= row["last_batch"]:
            return  # replayed batch: already applied (exactly-once)
        if row is not None and row["decision"] != "continue":
            # latched: record the consumed batch id, nothing else
            state.write(
                table,
                local_df(
                    spark,
                    [
                        (
                            batch_id,
                            row["n_obs"],
                            row["llr_scaled"],
                            row["decision"],
                            row["n_at_decision"],
                            row["llr_at_decision"],
                        )
                    ],
                    SPRT_STATE_SCHEMA,
                ),
            )
            return
        base_n = row["n_obs"] if row else 0
        base_s = row["llr_scaled"] if row else 0
        key = F.format_string(
            "%019d|%019d",
            F.unix_micros(F.col("ts").cast("timestamp")),
            F.col("event_id").cast("long"),
        )
        obs = batch.select(
            key.alias("_k"),
            F.when(F.col("_hit"), F.lit(s1)).otherwise(F.lit(s0)).alias(
                "_inc"
            ),
            F.lit(1).cast("long").alias("_one"),
        )
        cum = _ordered_cumsum(obs, "_k", ["_inc", "_one"])
        s_total = F.col("_cum__inc") + F.lit(base_s)
        crossed = cum.filter((s_total >= up) | (s_total <= lo))
        first = crossed.agg(
            F.min_by(
                F.struct(
                    (F.col("_cum__one") + F.lit(base_n)).alias("n"),
                    s_total.alias("s"),
                ),
                F.col("_cum__one"),
            ).alias("_f")
        ).collect()[0]["_f"]
        totals = cum.agg(
            F.coalesce(F.max("_cum__one"), F.lit(0)).alias("n"),
            F.coalesce(
                F.max_by(F.col("_cum__inc"), F.col("_cum__one")), F.lit(0)
            ).alias("s"),
        ).collect()[0]
        if first is not None:
            decision = "accept_h1" if first["s"] >= up else "accept_h0"
            new = (
                batch_id,
                base_n + totals["n"],
                base_s + totals["s"],
                decision,
                first["n"],
                first["s"],
            )
        else:
            new = (
                batch_id,
                base_n + totals["n"],
                base_s + totals["s"],
                "continue",
                None,
                None,
            )
        state.write(
            table, local_df(spark, [new], SPRT_STATE_SCHEMA)
        )

    src = events.withColumn("_hit", F.col("event_type") == "purchase")
    drain(src, apply_batch, checkpoint)


def append_stream_into_snapshots(
    events: DataFrame,
    table_dir: str,
    checkpoint: str | None = None,
) -> None:
    """Exactly-once streaming APPEND into the snapshot table format
    (§2.9 × SC10 — the plain ingest path next to the CDC merge: a
    fact stream lands as an ever-growing table, not per-key state):
    every micro-batch commits its rows as a ``kind="delta"`` snapshot
    — O(batch) written, never-torn reads, per-batch time travel — and
    the micro-batch id is recorded IN THE MANIFEST (``batch_id``)
    together with a carried-forward ``batch_watermark`` (the max id
    ever applied): Spark micro-batch ids are MONOTONIC, so a replayed
    batch is detected by ``batch_id <= watermark`` — one manifest
    read, not a walk of every manifest (the old per-batch full walk
    was O(versions²) driver work over a stream's lifetime), and
    because every new commit re-carries the watermark, a vacuum that
    expires old manifests can never forget an applied id and let a
    replay commit duplicate rows. Append has no merge algebra to
    absorb duplicates (unlike the CDC max_by), so exactly-once must
    come from the commit layer; one stream writer per table is the
    stated contract. Readers reconstruct the table with
    ``snapshot_read_chain``.
    """
    from isilon_hadoop_tools_spark.operators.snapshots import (
        latest_version,
        snapshot_write,
    )

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if _batch_committed(table_dir, batch_id):
            return  # replayed micro-batch: already committed
        snapshot_write(
            batch,
            table_dir,
            kind="delta",
            base_version=latest_version(table_dir),
            meta={"batch_id": int(batch_id), "batch_watermark": int(batch_id)},
        )

    drain(events, apply_batch, checkpoint)


def _batch_committed(table_dir: str, batch_id: int) -> bool:
    """The replay gate of the batch-watermark snapshot streams: True
    when ``batch_id`` is at or below the recorded watermark (already
    committed — micro-batch ids are monotonic, so a newly committed
    batch's own id IS the new watermark). Heals first: when a crash
    fell between the newest watermark commit's manifest write and its
    pointer swap, that commit is durable but unpublished — promote it
    so the next commit's chain extends it instead of silently
    dropping its rows."""
    from isilon_hadoop_tools_spark.operators.snapshots import (
        latest_version,
        snapshot_publish,
    )

    wm, wm_version = _latest_batch_watermark(table_dir)
    if wm_version is not None and (latest_version(table_dir) or 0) < wm_version:
        snapshot_publish(table_dir, wm_version)
    return wm is not None and batch_id <= wm


def _latest_batch_watermark(table_dir: str) -> tuple[int | None, int | None]:
    """(max applied stream batch id, version recording it) from the
    manifest walk — newest manifest first, so the steady state is ONE
    read (see :func:`append_stream_into_snapshots`)."""
    import pathlib as _pl

    from isilon_hadoop_tools_spark.operators.snapshots import (
        _MANIFESTS,
        read_manifest,
    )

    mdir = _pl.Path(table_dir) / _MANIFESTS
    if not mdir.is_dir():
        return None, None
    for f in sorted(mdir.glob("*.json"), reverse=True):
        if not f.stem.isdigit():
            continue
        v = int(f.stem)
        m = read_manifest(table_dir, v)
        wm = m.get("batch_watermark", m.get("batch_id"))
        if wm is not None:
            return int(wm), v
    return None, None


def cdc_delete_stream_into_snapshots(
    events: DataFrame,
    table_dir: str,
    delete_when,
    checkpoint: str | None = None,
) -> None:
    """Delete-aware streaming CDC THROUGH the snapshot layer (SC10i ×
    SC10j — the merge-on-read twin the batch-only equality-delete
    path lacked): each micro-batch collapses to its per-key latest
    row (the :func:`_cdc_latest` algebra), and the per-key WINNER
    decides the key's fate — a winner matching ``delete_when`` (a
    Column predicate, e.g. ``F.col("op") == "D"``) RETRACTS the key
    as a ``kind="delete"`` commit (O(retracted keys) written, no
    table rewrite), every other winner upserts through a
    ``kind="delta"`` commit. Within a batch the two commits touch
    DISJOINT key sets (one winner per key), so their order cannot
    change the answer; across batches the delete's commit VERSION
    orders it against later re-appends (the SC10j sequence-number
    semantics), which is exactly what a full no-checkpoint replay
    must not disturb — hence:

    Exactly-once: the monotonic batch-watermark discipline of
    :func:`append_stream_into_snapshots`, with the watermark recorded
    only on the batch's FINAL commit — a crash between the sibling
    commits replays the whole batch, whose duplicate delta rows are
    absorbed by the per-key ``max_by`` collapse (idempotent) and
    whose delete keys re-apply at the same relative order. A batch
    replayed after its watermark landed commits nothing.

    Readers reconstruct with :func:`cdc_state_from_mor_snapshots`;
    pair a long-running stream with ``snapshot_vacuum`` /
    ``compaction`` maintenance as with the other snapshot streams.
    """
    from isilon_hadoop_tools_spark.operators.snapshots import (
        latest_version,
        snapshot_write,
    )

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if _batch_committed(table_dir, batch_id):
            return  # replayed micro-batch: already committed
        winners = _cdc_latest(batch)
        ups = winners.filter(~delete_when)
        dels = winners.filter(delete_when).select("user_id")
        v_delta = snapshot_write(
            ups,
            table_dir,
            kind="delta",
            base_version=latest_version(table_dir),
            meta={"batch_id": int(batch_id)},
        )
        snapshot_write(
            dels,
            table_dir,
            kind="delete",
            base_version=v_delta,
            meta={"batch_id": int(batch_id), "batch_watermark": int(batch_id)},
        )

    drain(events, apply_batch, checkpoint)


def cdc_state_from_mor_snapshots(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
) -> DataFrame:
    """Reconstruct the CDC state a delete-aware snapshot stream
    maintains: merge-on-read over the chain (equality deletes applied
    by commit order), then the per-key latest-row collapse — a
    retracted key is ABSENT, a key re-upserted after its retraction
    is present with its latest payload, and duplicate delta rows from
    a replayed batch collapse away."""
    from isilon_hadoop_tools_spark.operators.snapshots import (
        snapshot_read_mor,
    )

    return _cdc_latest(
        snapshot_read_mor(spark, table_dir, ["user_id"], version)
    )
