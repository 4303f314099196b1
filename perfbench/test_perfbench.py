"""Tests of the benchmark's own logic (no SparkSession needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import core  # noqa: E402
import gen  # noqa: E402
from tracing import op_layer_metrics, Tracer  # noqa: E402


# ------------------------------------------------------------ generators


def test_generators_are_deterministic_per_seed():
    assert gen.cluster_specs(7, 4) == gen.cluster_specs(7, 4)
    assert gen.corpus_shard(7, 1, 50, 0.2) == gen.corpus_shard(7, 1, 50, 0.2)
    assert gen.image_shard(7, 1, 10, 0.2) == gen.image_shard(7, 1, 10, 0.2)
    assert gen.cdc_batch(7, 3, 100, 50) == gen.cdc_batch(7, 3, 100, 50)


def test_generators_differ_across_seeds():
    assert gen.cluster_specs(1, 3) != gen.cluster_specs(2, 3)
    assert gen.corpus_shard(1, 1, 50, 0.2) != gen.corpus_shard(2, 1, 50, 0.2)
    assert gen.cdc_batch(1, 0, 100, 50) != gen.cdc_batch(2, 0, 100, 50)


def test_cluster_specs_plant_collisions_in_the_allocation_range():
    for spec in gen.cluster_specs(11, 6):
        gids = [gid for _, gid in spec["foreign_groups"]]
        uids = [uid for _, uid, _ in spec["foreign_users"]]
        assert len(set(gids)) == len(gids) == gen.TAKEN_IDS
        assert len(set(uids)) == len(uids) == gen.TAKEN_IDS
        assert all(gen.START_ID <= i < gen.START_ID + 60 for i in gids + uids)
        assert spec["dist"] == gen.DISTS[spec["index"] % 3]


def test_corpus_shard_planted_truth_matches_documents():
    shard = gen.corpus_shard(5, 2, 100, 0.2)
    texts = {d[0]: d[1] for d in shard["docs"]}
    assert len(texts) == 100  # ids unique
    for group in shard["exact_groups"]:
        assert len({texts[i] for i in group}) == 1
    for a, b in shard["near_pairs"]:
        ta, tb = texts[a].split(" "), texts[b].split(" ")
        assert len(ta) == len(tb) and sum(x != y for x, y in zip(ta, tb)) <= 1


def test_png_payloads_decode_to_the_reference_hash():
    """The generator's PNG encoder and aHash agree with the engine's
    decoder (the contract the curate check relies on)."""
    pytest.importorskip("numpy")
    from isilon_hadoop_tools_spark.multimodal import png_decode_rgb

    for _id, raw, h in gen.image_shard(3, 0, 6, 0.5)["images"]:
        pix = png_decode_rgb(raw)
        height, width, _ = pix.shape
        assert gen.ahash(width, height, pix.tobytes()) == h


def test_cdc_fold_keeps_latest_by_ts_then_event_id():
    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    state: dict = {}
    gen.fold_cdc(state, [(1, t, 5, "view", 1.0), (1, t, 4, "click", 2.0)])
    assert state[1][2] == 5  # same ts: larger event id wins
    gen.fold_cdc(state, [(1, t - dt.timedelta(hours=1), 9, "late", 3.0)])
    assert state[1][2] == 5  # late row loses on ts
    gen.fold_cdc(state, [(1, t + dt.timedelta(seconds=1), 1, "buy", 4.0)])
    assert state[1][3] == "buy"


def test_cdc_files_carry_microsecond_timestamps(tmp_path):
    """Spark reads the CDC stream's ``ts`` as TIMESTAMP only from
    microsecond parquet; pandas' nanosecond default fails the read."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from wl_lake import CDC_TYPES

    rows = gen.cdc_batch(2, 1, 20, 10)
    path = str(tmp_path / "b.parquet")
    gen.write_parquet(path, {k: [r[x] for r in rows] for x, k in enumerate(CDC_TYPES)}, CDC_TYPES)
    assert pq.read_schema(path).field("ts").type == pa.timestamp("us")
    assert pq.read_table(path).column("ts").to_pylist() == [r[1] for r in rows]


# ------------------------------------------------------------ arithmetic


def test_interval_union_merges_overlaps_and_skips_empty():
    assert core.interval_union([]) == 0.0
    assert core.interval_union([(0, 1), (2, 3)]) == 2.0
    assert core.interval_union([(0, 2), (1, 3), (5, 5), (4, 6)]) == 5.0
    assert core.interval_union([(3, 4), (0, 10)]) == 10.0


def test_self_time_subtracts_children_union_clipped_to_parent():
    spans = [
        core.Span("op", 0.0, 10.0, None),
        core.Span("a", 1.0, 4.0, 0),
        core.Span("b", 3.0, 5.0, 0),  # overlaps a: union 1..5
        core.Span("a.build", 1.0, 1.5, 1),
        core.Span("late", 9.0, 12.0, 0),  # outlives the parent: clipped to 9..10
    ]
    st = core.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(0.5)


def test_tail_rule_picks_highest_percentile_with_ten_beyond():
    assert core.tail([float(i) for i in range(1, 101)]) == (90.0, 90.0)
    assert core.tail([float(i) for i in range(1, 1001)]) == (99.0, 990.0)
    # 25 samples: p75 leaves 6 above, p50 leaves 12 above
    assert core.tail([float(i) for i in range(1, 26)]) == (50.0, 13.0)
    # too few samples for any step: median, flagged by pct 50
    assert core.tail([3.0, 1.0, 2.0]) == (50.0, 2.0)


def test_percentile_and_median():
    assert core.percentile([5.0, 1.0, 3.0], 50) == 3.0
    assert core.percentile([1.0, 2.0, 3.0, 4.0], 100) == 4.0
    assert core.median([4.0, 1.0, 3.0, 2.0]) == 2.5


def test_failure_counting():
    log = core.OpLog()
    log.record(1.0, 10, [])
    log.record(2.0, 10, ["bad output"])
    log.fail(0.5, "RuntimeError: boom")
    assert (log.attempted, log.failed, log.items) == (3, 2, 10)
    assert log.failed_share == pytest.approx(2 / 3)
    assert log.walls == [1.0, 2.0, 0.5]
    assert core.OpLog().failed_share == 1.0  # nothing attempted is not a pass


def test_result_line_has_exactly_the_contract_keys():
    import json

    line = core.result_line(True, 3, 0, {"setup_s": core.metric(1.5, "s")})
    obj = json.loads(line)
    assert set(obj) == {"correct", "attempted", "failed", "metrics"}
    assert obj["metrics"]["setup_s"] == {"value": 1.5, "unit": "s"}


def test_op_layer_metrics_attribute_jobs_by_window():
    tracer = Tracer()
    windows = [(100.0, 110.0), (200.0, 204.0)]
    jobs = [
        {"submissionTime": 101_000, "completionTime": 103_000},
        {"submissionTime": 102_000, "completionTime": 104_000},  # overlaps: busy 101..104
        {"submissionTime": 150_000, "completionTime": 151_000},  # between ops: ignored
        {"submissionTime": 201_000, "completionTime": 202_000},
    ]
    stages = [
        {"submissionTime": 101_500, "numTasks": 4, "numFailedTasks": 0, "attemptId": 0,
         "executorRunTime": 8000, "jvmGcTime": 0, "shuffleWriteBytes": 10,
         "shuffleReadBytes": 10, "inputBytes": 0, "outputBytes": 0},
        {"submissionTime": 201_500, "numTasks": 2, "numFailedTasks": 1, "attemptId": 1,
         "executorRunTime": 0, "jvmGcTime": 0, "shuffleWriteBytes": 0,
         "shuffleReadBytes": 0, "inputBytes": 0, "outputBytes": 0},
    ]
    m = op_layer_metrics(tracer, jobs, stages, windows, cores=4)
    assert m["spark.jobs"] == 1.5  # 3 jobs over 2 ops
    assert m["spark.job_busy_s"] == pytest.approx((3.0 + 1.0) / 2)
    assert m["driver.gap_s"] == pytest.approx((7.0 + 3.0) / 2)
    assert m["driver.gap_share"] == pytest.approx(10.0 / 14.0)
    assert m["driver.pre_job_s"] == pytest.approx((1.0 + 1.0) / 2)
    assert m["spark.stage_attempts_retried"] == 0.5
    assert m["spark.slot_util"] == pytest.approx(8.0 / (4.0 * 4))
