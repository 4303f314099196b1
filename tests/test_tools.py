"""The measurement tools: ``tools/profile.py``, the curvature flag of
``tools/scale_probe.py`` and bench.py's session facts."""

from __future__ import annotations

import importlib.util
import subprocess
import sys
from pathlib import Path

import pytest

import bench
from conftest import SMOKE_SF_DIR
from isilon_hadoop_tools_spark import suite

TOOLS = Path(__file__).resolve().parents[1] / "tools"
# loaded by path: ``import profile`` names the stdlib module
_spec = importlib.util.spec_from_file_location("tools_profile", TOOLS / "profile.py")
profile = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(profile)
_spec = importlib.util.spec_from_file_location(
    "tools_scale_probe", TOOLS / "scale_probe.py"
)
scale_probe = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(scale_probe)


@pytest.mark.parametrize(
    "argv",
    [
        ["/d/sf0.1", "q1", "--reps", "3", "q2"],
        ["/d/sf0.1", "q1", "q2", "--reps=3"],
        ["--reps", "3", "/d/sf0.1", "q1", "q2"],
    ],
)
def test_time_queries_reps_both_forms(argv):
    assert profile.parse_args(argv) == ("/d/sf0.1", ["q1", "q2"], 3)


def test_time_queries_default_reps():
    assert profile.parse_args(["q1"])[1:] == (["q1"], 2)


def test_stage_tails_rank_by_longest_task_and_drop_skipped_stages():
    def tasks(*ms):
        return [{"task": i, "ms": m, "shuffle_read": 10 * i} for i, m in enumerate(ms)]

    tails = profile.stage_tails({
        (1, 0, "a"): tasks(5, 1, 3),
        (2, 0, "skipped"): [],
        (3, 1, "b"): tasks(10, 10, 2, 10, 10, 50, 10),
        (4, 0, "c"): tasks(4),
        (5, 0, "d"): tasks(1, 2),
    })
    assert [(t["stage"], t["attempt"]) for t in tails] == [(3, 1), (1, 0), (4, 0)]
    b = tails[0]
    assert (b["tasks"], b["min_ms"], b["med_ms"], b["max_ms"]) == (7, 2, 10, 50)
    assert b["top"][0] == {"task": 5, "ms": 50, "shuffle_read": 50}
    assert [t["ms"] for t in b["top"]] == [50, 10, 10, 10, 10]
    assert (tails[1]["min_ms"], tails[1]["med_ms"], tails[1]["max_ms"]) == (1, 3, 5)
    assert profile.stage_tails({(2, 0, "skipped"): []}) == []


def test_profile_query_splits_and_restores_caller_labels(spark):
    sc = spark.sparkContext
    fn = suite.queries()["q1_pricing_summary"]
    sc.setJobGroup("caller-group", "caller-desc")
    try:
        rec = profile.profile_query(spark, "q1", fn, SMOKE_SF_DIR, 1)
        assert set(rec) == {"query", "sf_dir", "master", "default_parallelism",
                            "shuffle_partitions", "min", "obs", "build_s",
                            "rerun_s", "layers", "jobs", "tails"}
        assert rec["min"] == rec["obs"][0] >= rec["build_s"][0] > 0
        assert rec["layers"]["spark.jobs"] >= 1 and rec["jobs"] and rec["tails"]
        assert rec["jobs"][0]["desc"] == "profile q1 rep0"
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        assert sc.getLocalProperty("spark.job.description") == "caller-desc"

        calls = []

        def fails_when_timed(spark, sf_dir):  # the warmup run passes
            calls.append(sf_dir)
            if len(calls) > 1:
                raise RuntimeError("boom")
            return fn(spark, sf_dir)

        with pytest.raises(RuntimeError, match="boom"):
            profile.profile_query(spark, "boom", fails_when_timed, SMOKE_SF_DIR, 1)
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        assert sc.getLocalProperty("spark.job.description") == "caller-desc"
    finally:
        sc._jsc.clearJobGroup()


def test_bench_states_its_session(spark):
    assert bench.session_facts(spark) == {
        "master": "local[4]", "default_parallelism": 4, "shuffle_partitions": 4,
    }


def test_tools_scripts_still_get_the_stdlib_profile_module():
    # a tools/ script's own directory leads sys.path; pyspark imports
    # cProfile, which imports ``profile``
    code = "import cProfile, profile, pyspark; cProfile.run('1'); print(profile.__file__)"
    out = subprocess.check_output([sys.executable, "-c", code], cwd=TOOLS, text=True)
    assert Path(out.splitlines()[-1]).parent != TOOLS


def _stub_runner(walls: dict[int, list[float]]):
    """A curvature runner that replays scripted walls per multiple and
    records every call."""
    calls: list[int] = []
    left = {c: iter(ts) for c, ts in walls.items()}

    def runner(c: int) -> float:
        calls.append(c)
        return next(left[c])

    return runner, calls


def test_curvature_one_slow_rep_is_remeasured_not_flagged():
    # 0.20 s at 1x, then one 0.62 s rep at 2x (3.1x, over the 1.3·c
    # line) among steady 0.30 s reps
    runner, calls = _stub_runner(
        {1: [0.2] * 5, 2: [0.62] + [0.3] * 5, 4: [0.5]}
    )
    curve, superlinear = scale_probe.measure_curve(runner, (1, 2, 4))
    assert not superlinear
    assert curve == {"1": 0.2, "2": 0.3, "4": 0.5}
    assert calls.count(2) == 6 and calls.count(4) == 1


def test_curvature_steady_blowup_flags():
    runner, _ = _stub_runner({1: [0.2] * 5, 2: [0.3] * 5, 4: [2.0] * 6})
    curve, superlinear = scale_probe.measure_curve(runner, (1, 2, 4))
    assert superlinear
    assert curve["4"] == 2.0
