"""Streaming tests over a multi-file stream fixture: micro-batch
processing, watermark late-data drop, stateful dedup, and
foreachBatch sink idempotence across restarts."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
from pyspark.sql import functions as F

from conftest import T0, file_stream, write_batch
from isilon_hadoop_tools_spark.plans.state import ParquetState
from isilon_hadoop_tools_spark.streaming.events import (
    dedup_within_watermark,
    hourly_rollup_stream,
    merge_stream_into_state,
    run_available_now,
    sessionize,
)


def _read_stream(spark, d, files_per_trigger=1):
    schema = "event_id LONG, ts TIMESTAMP, event_type STRING, value DOUBLE"
    return file_stream(spark, schema, d, files_per_trigger)


def test_multi_batch_rollup_drops_late_rows(spark, stream_dir):
    """With a 10-minute watermark the 3h-late row in batch 3 must be
    dropped (update mode — complete mode never filters late data)."""
    ev = _read_stream(spark, stream_dir)
    out = run_available_now(
        hourly_rollup_stream(ev, watermark="10 minutes"), output_mode="update"
    )
    rows = out.collect()  # one row per (key, batch-update)
    hours = {r["hour"].hour for r in rows}
    assert 9 not in hours  # the late row never surfaced
    final_clicks = max(
        r["n_events"] for r in rows if r["event_type"] == "click" and r["hour"].hour == 12
    )
    assert final_clicks == 3


def test_rollup_with_long_watermark_equals_batch(spark, stream_dir):
    ev = _read_stream(spark, stream_dir)
    out = run_available_now(hourly_rollup_stream(ev, watermark="1 day"))
    batch = (
        spark.read.parquet(stream_dir)
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    got = {(r["hour"], r["event_type"]): r["n_events"] for r in out.collect()}
    want = {(r["hour"], r["event_type"]): r["n_events"] for r in batch.collect()}
    assert got == want


def test_dedup_within_watermark_keeps_first_arrival(spark, stream_dir):
    ev = _read_stream(spark, stream_dir)
    out = run_available_now(
        dedup_within_watermark(ev, watermark="1 day"), output_mode="append"
    )
    rows = {r["event_id"]: r["ts"] for r in out.collect()}
    assert set(rows) == {1, 2, 3, 4, 9}
    # id 2 kept its first arrival (batch 1, 12:05), not the batch-2 dup
    assert rows[2] == T0 + dt.timedelta(minutes=5)


def test_sessionize_stream_matches_batch(spark, stream_dir):
    ev = _read_stream(spark, stream_dir)
    stream_out = {
        (r["event_type"], r["session_start"], r["n_events"])
        for r in run_available_now(sessionize(ev, gap="10 minutes")).collect()
    }
    batch_out = {
        (r["event_type"], r["session_start"], r["n_events"])
        for r in sessionize(spark.read.parquet(stream_dir), gap="10 minutes").collect()
    }
    assert stream_out == batch_out
    # clicks at 12:00/12:05/12:06 chain into one 3-event session
    assert ("click", T0, 3) in stream_out


def test_foreach_batch_sink_idempotent_across_restarts(spark, stream_dir, tmp_path):
    state = ParquetState(spark, str(tmp_path / "state"))
    for _ in range(2):  # full replay without checkpoint
        merge_stream_into_state(_read_stream(spark, stream_dir), state)
    rows = {
        r["event_id"]: r["first_ts"]
        for r in state.read("events_seen", "event_id LONG, first_ts TIMESTAMP").collect()
    }
    assert set(rows) == {1, 2, 3, 4, 9}
    assert rows[2] == T0 + dt.timedelta(minutes=5)  # min ts across batches


def test_stream_stream_interval_join_bounds(spark, tmp_path):
    from isilon_hadoop_tools_spark.streaming.events import (
        view_purchase_interval_join,
    )

    d = str(tmp_path / "ss_events")
    rows = [
        # user 1: view at 12:00; purchases at 12:30 (in horizon) and
        # 14:00 (outside the 1h horizon)
        (1, T0 + dt.timedelta(hours=0), 1, "view", 0.0),
        (2, T0 + dt.timedelta(minutes=30), 1, "purchase", 9.5),
        (3, T0 + dt.timedelta(hours=2), 1, "purchase", 1.0),
        # user 2: purchase with no prior view -> inner join drops it
        (4, T0 + dt.timedelta(minutes=10), 2, "purchase", 3.0),
    ]
    schema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"
    spark.createDataFrame(rows, schema).write.parquet(d)
    ev = spark.readStream.schema(schema).parquet(d)
    out = run_available_now(
        view_purchase_interval_join(ev, watermark="1 day", horizon_sec=3600),
        output_mode="append",
    ).collect()
    assert [(r["user_id"], r["value"]) for r in out] == [(1, 9.5)]
    assert out[0]["purchase_ts"] == T0 + dt.timedelta(minutes=30)


def test_sliding_rollup_each_event_in_two_windows(spark, stream_dir):
    from isilon_hadoop_tools_spark.streaming.events import sliding_rollup_stream

    ev = _read_stream(spark, stream_dir, files_per_trigger=100)
    out = run_available_now(sliding_rollup_stream(ev, watermark="1 day"))
    rows = out.collect()
    batch = spark.read.parquet(stream_dir)
    # every event lands in exactly two 1h/30m windows: total window
    # contributions = 2x the event count
    assert sum(r["n_events"] for r in rows) == 2 * batch.count()
    # window starts are 30m-aligned and 30m apart where overlapping
    assert all(r["w_start"].minute in (0, 30) for r in rows)


def test_stream_static_join_enriches_and_matches_batch(spark, tmp_path):
    import os

    from isilon_hadoop_tools_spark.streaming.events import (
        static_enrich_rollup_stream,
    )

    d = str(tmp_path / "enrich")
    os.makedirs(d)
    m = dt.timedelta(minutes=1)
    rows = [
        (1, T0, 10, 1.0),
        (2, T0 + 5 * m, 10, 2.0),
        (3, T0 + 65 * m, 11, 3.0),
        (4, T0, 99, 9.0),  # user 99 missing from the dim: dropped
    ]
    write_batch(
        d,
        "b1.parquet",
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "value": pa.array([r[3] for r in rows], pa.float64()),
        },
    )
    dim = spark.createDataFrame(
        [(10, 7), (11, 8)], "c_custkey long, c_nationkey long"
    )
    stream = (
        spark.readStream.schema(
            "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE"
        ).parquet(d)
    )
    out = run_available_now(static_enrich_rollup_stream(stream, dim))
    got = {
        (r.hour, r.nationkey): (r.n_events, r.sum_value)
        for r in out.collect()
    }
    assert got == {
        (T0, 7): (2, 3.0),
        (T0 + 60 * m, 8): (1, 3.0),
    }


# ---------------------------------------------------------------------
# streaming CMS maintenance (L37 x 2.9): sum-merge + marker exactly-once
# ---------------------------------------------------------------------


def _write_kv_batch(dirpath, name, ids):
    write_batch(dirpath, name, {"user_id": pa.array(ids, pa.int64())})


def _cms_counts(state):
    return {
        (r["row_id"], r["bucket"]): r["cnt"]
        for r in state.read(
            "cms_sketch", "row_id LONG, bucket LONG, cnt LONG"
        ).collect()
        if r["row_id"] >= 0
    }


def _batch_cms(spark, all_ids):
    from isilon_hadoop_tools_spark.operators.sketches import cms_table

    df = spark.createDataFrame([(i,) for i in all_ids], "user_id long")
    return {
        (r["row_id"], r["bucket"]): r["cnt"]
        for r in cms_table(df, "user_id", 4, 256).collect()
    }


def _drain_cms(spark, in_dir, state, ckpt=None):
    from isilon_hadoop_tools_spark.streaming.events import (
        cms_stream_into_state,
    )

    cms_stream_into_state(
        file_stream(spark, "user_id LONG", in_dir),
        state,
        key="user_id",
        checkpoint=ckpt,
    )


def test_cms_stream_multibatch_equals_batch_and_replay_noop(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    (tmp_path / "in").mkdir()
    batches = [[1, 2, 2, 3], [2, 3, 3, 9], [9, 9, 1, 7]]
    for i, ids in enumerate(batches):
        _write_kv_batch(in_dir, f"b{i}.parquet", ids)
    state = ParquetState(spark, str(tmp_path / "state"))
    _drain_cms(spark, in_dir, state)
    truth = _batch_cms(spark, [i for b in batches for i in b])
    assert _cms_counts(state) == truth
    # full no-checkpoint re-drain: deterministic batch ids 0..2 are
    # all marked committed, so the sum-merge must NOT double-count
    _drain_cms(spark, in_dir, state)
    assert _cms_counts(state) == truth
    # markers are COMPACTED in the same atomic table: the contiguous
    # committed prefix 0..2 collapses to ONE horizon row (row_id=-2,
    # bucket=2) and no sparse -1 rows remain — O(1) marker state over
    # an unbounded stream lifetime
    marker_rows = [
        (r["row_id"], r["bucket"])
        for r in state.read(
            "cms_sketch", "row_id LONG, bucket LONG, cnt LONG"
        ).collect()
        if r["row_id"] <= -1
    ]
    assert marker_rows == [(-2, 2)]


def test_cms_stream_checkpointed_restart_resumes_exactly_once(
    spark, tmp_path
):
    in_dir = str(tmp_path / "in")
    (tmp_path / "in").mkdir()
    ckpt = str(tmp_path / "ckpt")
    state = ParquetState(spark, str(tmp_path / "state"))
    _write_kv_batch(in_dir, "b0.parquet", [5, 5, 6])
    _drain_cms(spark, in_dir, state, ckpt)
    # new files arrive; restart from the checkpoint picks up ONLY them
    _write_kv_batch(in_dir, "b1.parquet", [6, 7])
    _write_kv_batch(in_dir, "b2.parquet", [5])
    _drain_cms(spark, in_dir, state, ckpt)
    assert _cms_counts(state) == _batch_cms(spark, [5, 5, 6, 6, 7, 5])
    # compaction survives the checkpointed restart: batches 0..2 are
    # one horizon row, and a further full no-checkpoint re-drain
    # (replaying ids 0..2 below the horizon) is a no-op
    schema = "row_id LONG, bucket LONG, cnt LONG"
    assert [
        (r["row_id"], r["bucket"])
        for r in state.read("cms_sketch", schema).collect()
        if r["row_id"] <= -1
    ] == [(-2, 2)]
    truth = _cms_counts(state)
    _drain_cms(spark, in_dir, state)
    assert _cms_counts(state) == truth


def test_cms_stream_legacy_sparse_markers_absorbed_into_horizon(
    spark, tmp_path
):
    """A state persisted by the pre-compaction format (individual
    row_id=-1 markers only, no horizon row) must (a) still be
    replay-proof and (b) compact to one horizon row on the first new
    commit — the upgrade path for long-lived streams."""
    from isilon_hadoop_tools_spark.operators.sketches import cms_table

    schema = "row_id LONG, bucket LONG, cnt LONG"
    in_dir = str(tmp_path / "in")
    (tmp_path / "in").mkdir()
    batches = [[1, 2, 2, 3], [2, 3, 3, 9]]
    for i, ids in enumerate(batches):
        _write_kv_batch(in_dir, f"b{i}.parquet", ids)
    state = ParquetState(spark, str(tmp_path / "state"))
    # hand-write the LEGACY layout: counts for batches 0-1 plus two
    # old-style sparse markers
    legacy_counts = cms_table(
        spark.createDataFrame(
            [(i,) for b in batches for i in b], "user_id long"
        ),
        "user_id", 4, 256,
    )
    legacy_markers = spark.createDataFrame(
        [(-1, 0, 1), (-1, 1, 1)], schema
    )
    state.write("cms_sketch", legacy_counts.unionByName(legacy_markers))
    truth01 = _cms_counts(state)
    # replaying batches 0-1 must be a no-op against legacy markers
    _drain_cms(spark, in_dir, state)
    assert _cms_counts(state) == truth01
    # a NEW batch arrives: commit + compaction in one swap
    _write_kv_batch(in_dir, "b2.parquet", [9, 9, 1, 7])
    _drain_cms(spark, in_dir, state)
    assert _cms_counts(state) == _batch_cms(
        spark, [i for b in batches for i in b] + [9, 9, 1, 7]
    )
    assert [
        (r["row_id"], r["bucket"])
        for r in state.read("cms_sketch", schema).collect()
        if r["row_id"] <= -1
    ] == [(-2, 2)]


def test_cdc_stream_out_of_order_batches_and_replay(spark, tmp_path):
    """Key 7's newest row arrives in the FIRST batch, older updates
    and a tombstone for key 8 arrive later: the (ts, id) max algebra
    must keep key 7's first-arrived newest value, tombstone key 8,
    and be unchanged by a full re-drain."""
    from isilon_hadoop_tools_spark.streaming.events import (
        CDC_STATE_SCHEMA,
        cdc_stream_into_state,
    )

    def ts(m):
        return dt.datetime(2024, 1, 1, 12, m)

    batches = [
        [(7, ts(30), 100, "update", 7.3), (8, ts(0), 101, "update", 8.0)],
        [(7, ts(10), 102, "update", 7.1), (8, ts(20), 103, "error", 0.0)],
        [(7, ts(30), 99, "update", 7.9)],  # same ts, LOWER id: loses
    ]
    in_dir = str(tmp_path / "in")
    (tmp_path / "in").mkdir()
    for i, rows in enumerate(batches):
        write_batch(
            in_dir,
            f"b{i}.parquet",
            {
                "user_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "event_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows]),
                "value": pa.array([r[4] for r in rows], pa.float64()),
            },
        )
    state = ParquetState(spark, str(tmp_path / "state"))
    for _ in range(2):
        cdc_stream_into_state(
            file_stream(spark, CDC_STATE_SCHEMA, in_dir), state
        )
    rows = {
        r["user_id"]: r
        for r in state.read("cdc_state", CDC_STATE_SCHEMA).collect()
    }
    assert rows[7]["value"] == 7.3 and rows[7]["event_id"] == 100
    assert rows[8]["event_type"] == "error"  # tombstone retained
    assert len(rows) == 2  # one state row per key, log never kept


def _write_kmv_batch(dirpath, name, ids):
    write_batch(
        dirpath,
        name,
        {
            "event_id": pa.array(ids, pa.int64()),
            "value": pa.array([float(x) for x in ids], pa.float64()),
        },
    )


def test_kmv_stream_multibatch_merge_property_and_replay(spark, tmp_path):
    """Three micro-batches then a full re-drain: the final k-row
    sample equals the batch bottom-k of all ids, proving both the
    bottom-k-of-union merge property and replay idempotence."""
    import hashlib

    from isilon_hadoop_tools_spark.streaming.events import (
        KMV_STATE_SCHEMA,
        kmv_stream_into_state,
    )

    in_dir = str(tmp_path / "in")
    (tmp_path / "in").mkdir()
    batches = [list(range(0, 40)), list(range(40, 70)), list(range(70, 90))]
    for i, ids in enumerate(batches):
        _write_kmv_batch(in_dir, f"b{i}.parquet", ids)
    state = ParquetState(spark, str(tmp_path / "state"))
    for _ in range(2):
        kmv_stream_into_state(
            file_stream(spark, "event_id LONG, value DOUBLE", in_dir),
            state,
            k=16,
        )
    got = sorted(
        r["event_id"]
        for r in state.read("kmv_sample", KMV_STATE_SCHEMA).collect()
    )
    all_ids = [i for b in batches for i in b]
    expect = sorted(
        sorted(
            all_ids,
            key=lambda i: (
                int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16),
                i,
            ),
        )[:16]
    )
    assert got == expect


def test_kmv_stream_checkpointed_restart(spark, tmp_path):
    """Checkpointed restart ingests only the new file; the merged
    sample still equals the batch bottom-k over everything."""
    import hashlib

    from isilon_hadoop_tools_spark.streaming.events import (
        KMV_STATE_SCHEMA,
        kmv_stream_into_state,
    )

    in_dir = str(tmp_path / "in")
    (tmp_path / "in").mkdir()
    ckpt = str(tmp_path / "ckpt")
    state = ParquetState(spark, str(tmp_path / "state"))

    def drain():
        kmv_stream_into_state(
            file_stream(spark, "event_id LONG, value DOUBLE", in_dir),
            state,
            k=8,
            checkpoint=ckpt,
        )

    _write_kmv_batch(in_dir, "b0.parquet", list(range(0, 30)))
    drain()
    _write_kmv_batch(in_dir, "b1.parquet", list(range(30, 55)))
    drain()
    got = sorted(
        r["event_id"]
        for r in state.read("kmv_sample", KMV_STATE_SCHEMA).collect()
    )
    expect = sorted(
        sorted(
            range(55),
            key=lambda i: (
                int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16),
                i,
            ),
        )[:8]
    )
    assert got == expect


def test_banded_count_stream_checkpointed_restart_and_compaction(
    spark, tmp_path
):
    """The drift monitor's count stream shares the CMS marker
    discipline: checkpointed restart ingests only new files, a full
    no-checkpoint re-drain is a no-op, and markers stay compacted to
    one horizon row."""
    from isilon_hadoop_tools_spark.streaming.events import (
        banded_count_stream_into_state,
    )

    schema = "row_id LONG, bucket LONG, cnt LONG"
    in_dir = str(tmp_path / "in")
    (tmp_path / "in").mkdir()
    ckpt = str(tmp_path / "ckpt")
    state = ParquetState(spark, str(tmp_path / "state"))

    def _write(name, vals):
        write_batch(in_dir, name, {"value": pa.array(vals, pa.float64())})

    def _drain(ck=None):
        banded_count_stream_into_state(
            file_stream(spark, "value DOUBLE", in_dir),
            state,
            "value",
            breaks=[10, 20],
            checkpoint=ck,
        )

    def counts():
        return {
            r["bucket"]: r["cnt"]
            for r in state.read("band_counts", schema).collect()
            if r["row_id"] == 0
        }

    _write("b0.parquet", [1.0, 5.0, 15.0])
    _drain(ckpt)
    assert counts() == {0: 2, 1: 1}
    _write("b1.parquet", [25.0, 25.0, 15.0])
    _drain(ckpt)  # restart: only the new file
    assert counts() == {0: 2, 1: 2, 2: 2}
    _drain()  # full no-checkpoint re-drain: batch ids 0-1 committed
    assert counts() == {0: 2, 1: 2, 2: 2}
    markers = [
        (r["row_id"], r["bucket"])
        for r in state.read("band_counts", schema).collect()
        if r["row_id"] <= -1
    ]
    assert markers == [(-2, 1)]


def test_sprt_stream_latches_across_batches_and_replays(spark, tmp_path):
    """EA36s: the crossing can happen mid-stream (batch 2 of 3), the
    decision latches (batch 3 changes nothing), and a full re-drain
    without checkpoint is a no-op via the batch-id guard."""
    import os

    import pyarrow.parquet as pq

    from isilon_hadoop_tools_spark.streaming.events import (
        SPRT_STATE_SCHEMA,
        sprt_stream_into_state,
    )

    t0 = dt.datetime(2024, 1, 1)
    d = str(tmp_path / "stream")
    os.makedirs(d)

    def write(name, rows, order):
        path = os.path.join(d, name)
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array([r[0] for r in rows], pa.timestamp("us")),
                    "event_id": pa.array([r[1] for r in rows], pa.int64()),
                    "event_type": pa.array([r[2] for r in rows], pa.string()),
                }
            ),
            path,
        )
        # the file source batches by MODIFICATION TIME; the SPRT
        # contract is event-time-ordered arrival, so pin mtimes
        # explicitly (same-ms ties would scramble the batch order)
        os.utime(path, (1_700_000_000 + order, 1_700_000_000 + order))

    # p0=0.2 vs p1=0.8: inc = +-ln(4); bounds +-ln(19) => 3rd success
    # crosses. Batch 1: one success (no crossing). Batch 2: two more
    # successes (crossing at global n=3). Batch 3: failures (latched).
    s = dt.timedelta(seconds=1)
    write("b1.parquet", [(t0, 1, "purchase")], 1)
    write(
        "b2.parquet",
        [(t0 + s, 2, "purchase"), (t0 + 2 * s, 3, "purchase")],
        2,
    )
    write("b3.parquet", [(t0 + 3 * s, 4, "view"), (t0 + 4 * s, 5, "view")], 3)

    def stream():
        return file_stream(
            spark, "ts timestamp, event_id long, event_type string", d
        )

    state = ParquetState(spark, str(tmp_path / "state"))
    sprt_stream_into_state(
        stream(), state, p0=0.2, p1=0.8, alpha=0.05, beta=0.05
    )
    row = state.read("sprt", SPRT_STATE_SCHEMA).collect()[0]
    assert row["decision"] == "accept_h1"
    assert row["n_at_decision"] == 3
    assert row["n_obs"] == 3  # accumulation stops at the latch (Wald stop)
    assert abs(row["llr_at_decision"] / 1e9 - 3 * 1.386294) < 1e-5

    # full re-drain, fresh query, no checkpoint: batch ids replay from
    # 0 and are skipped -- state must be bit-identical
    before = row
    sprt_stream_into_state(
        stream(), state, p0=0.2, p1=0.8, alpha=0.05, beta=0.05
    )
    after = state.read("sprt", SPRT_STATE_SCHEMA).collect()[0]
    assert after == before


def test_stream_stream_left_outer_join_proves_absence(spark, tmp_path):
    """Left-outer interval join: a matched view carries its purchase;
    an unconverted view emits a NULL row only once the watermark has
    CLOSED its window; a view whose window is still open at
    end-of-stream emits nothing — the honest streaming answer."""
    from isilon_hadoop_tools_spark.streaming.events import (
        run_available_now,
        view_purchase_left_outer_join,
    )

    d = str(tmp_path / "lo_events")
    rows = [
        # user 1: view at 12:00, purchase at 12:30 (matched)
        (1, T0, 1, "view", 0.0),
        (2, T0 + dt.timedelta(minutes=30), 1, "purchase", 9.5),
        # user 2: view at 12:00, NO purchase; its window [12:00,13:00]
        # closes once the watermark passes 13:00 -> NULL row
        (3, T0, 2, "view", 0.0),
        # user 3: view near end-of-stream; window still open at final
        # watermark -> emits nothing
        (4, T0 + dt.timedelta(hours=5), 3, "view", 0.0),
        # watermark drivers: the GLOBAL watermark is the MIN over
        # both sides' nodes, so BOTH streams need a late row (a
        # 'click' would drive neither); global wm = min(5h, 8h) - 10m
        (5, T0 + dt.timedelta(hours=8), 9, "purchase", 0.001),
    ]
    schema = (
        "event_id LONG, ts TIMESTAMP, user_id LONG,"
        " event_type STRING, value DOUBLE"
    )
    spark.createDataFrame(rows, schema).write.parquet(d)
    ev = spark.readStream.schema(schema).parquet(d)
    out = run_available_now(
        view_purchase_left_outer_join(
            ev, watermark="10 minutes", horizon_sec=3600
        ),
        output_mode="append",
    ).collect()
    got = {(r["user_id"], r["purchase_ts"] is not None) for r in out}
    # user 1 matched; user 2 proven unconverted; user 3's window is
    # still open (global wm = 5h - 10m < view+1h) -> absent; user 9's
    # watermark-driver purchase has no view at all -> absent (left
    # outer preserves the VIEW side only)
    assert got == {(1, True), (2, False)}
    matched = next(r for r in out if r["user_id"] == 1)
    assert matched["value"] == 9.5
