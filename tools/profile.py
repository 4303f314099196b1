"""Time suite queries and split each one by layer, job and task, in-process.

Each query gets bench.py's warmup (one run at the smoke scale, then the
Python-worker pool) and is timed ``--reps`` times with
``bench.run_query`` (build + noop write, nothing forced in between), so
``min`` is comparable with ``BENCH_local.json``. The same timed runs
are then split from Spark's status store, read through perfbench's
reader once the listener bus has drained:

- ``build_s``: when the query function returned, per rep;
- ``layers``: perfbench's per-layer metrics (``spark.jobs``,
  ``driver.pre_job_s``, ``driver.gap_s``, ``spark.task_s``, shuffle and
  IO bytes, ``spark.slot_util``, ...) over the reps' wall-clock
  windows, per rep;
- ``jobs``: the last rep's Spark jobs: wall, driver gap before the job,
  stages and tasks run, shuffle write, input bytes, description;
- ``tails``: task times (min / median / max, and the ``TOP_TASKS``
  longest tasks with their shuffle-read bytes) of the last rep's
  ``TAIL_STAGES`` stages with the longest task, the skew check;
- ``rerun_s``: one more noop write of the last rep's DataFrame, outside
  the timed reps (plan and codegen warm: the floor a resident job sees).

Prints one JSON record per query, which also states the session
(``bench.session_facts``), then one line
``RESULT {name: {"min": s, "obs": [s, ...]}}``. Usage::

    python tools/profile.py [sf_dir] query [query ...] [--reps N]
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import sys
import sysconfig
import time
from pathlib import Path

TOOLS = Path(__file__).resolve().parent
if __name__ == "profile":
    # A script in this directory (which leads its sys.path) imported the
    # stdlib ``profile`` module, as pyspark does through cProfile, and
    # found this file: put the stdlib module in this one's place.
    _spec = importlib.util.spec_from_file_location(
        "profile", Path(sysconfig.get_path("stdlib"), "profile.py")
    )
    sys.modules["profile"] = importlib.util.module_from_spec(_spec)
    _spec.loader.exec_module(sys.modules["profile"])
else:
    if __name__ == "__main__":  # the same shadowing, for this script
        sys.path[:] = [p for p in sys.path if Path(p or ".").resolve() != TOOLS]
    sys.path[:0] = [str(TOOLS.parent), str(TOOLS.parent / "perfbench")]
    import bench
    import tracing
    from isilon_hadoop_tools_spark import suite
    from isilon_hadoop_tools_spark.session import get_session

TAIL_STAGES = 3
TOP_TASKS = 5
_JOB_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def parse_args(argv: list[str]) -> tuple[str, list[str], int]:
    """``(sf_dir, query names, reps)`` from the usage line above; the
    optional leading ``sf_dir`` (default: bench.py's) is told apart
    from query names by its ``/``. ``--reps`` takes ``N`` or ``=N``,
    anywhere on the line."""
    p = argparse.ArgumentParser(usage="%(prog)s [sf_dir] query [query ...] [--reps N]")
    p.add_argument("args", nargs="+")
    p.add_argument("--reps", type=int, default=2)
    ns = p.parse_intermixed_args(argv)
    sf_dir = ns.args[0] if "/" in ns.args[0] else bench.SF_DIR
    return sf_dir, [a for a in ns.args if "/" not in a], ns.reps


@contextlib.contextmanager
def job_group(sc, label: str):
    """Run the body's jobs under job group and description ``label``;
    the caller's group and description come back on exit, also when
    the body raises."""
    saved = [sc.getLocalProperty(k) for k in _JOB_PROPS]
    sc.setJobGroup(label, label)
    try:
        yield
    finally:
        for key, value in zip(_JOB_PROPS, saved):
            sc.setLocalProperty(key, value)


def job_rows(jobs: list[dict], stages: list[dict], start: float) -> list[dict]:
    """One row per job, in submission order; ``gap_before_s`` is driver
    time since the previous jobs ended (the first job's since ``start``,
    epoch s), negative when the job overlaps them. Stages, tasks and
    bytes count the stage attempts that ran (skipped stages did not)."""
    ran: dict[int, list[dict]] = {}
    for s in stages:
        if s.get("submissionTime"):
            ran.setdefault(s["stageId"], []).append(s)
    rows, prev_end = [], start
    for j in sorted(jobs, key=lambda j: j["submissionTime"]):
        begin, end = j["submissionTime"] / 1000, j["completionTime"] / 1000
        att = [s for sid in j["stageIds"] for s in ran.get(sid, ())]
        total = {k: sum(s[k] for s in att) for k in ("numTasks", "shuffleWriteBytes", "inputBytes")}
        rows.append({
            "job": j["jobId"], "wall_s": round(end - begin, 3),
            "gap_before_s": round(begin - prev_end, 3), "stages": len(att),
            "tasks": total["numTasks"], "shuffle_write": total["shuffleWriteBytes"],
            "input": total["inputBytes"], "desc": (j.get("description") or j["name"])[:60],
        })
        prev_end = max(prev_end, end)
    return rows


def stage_tails(task_lists: dict[tuple[int, int, str], list[dict]]) -> list[dict]:
    """Task-time tails of the ``TAIL_STAGES`` stages with the longest
    task. ``task_lists`` maps (stage id, attempt, name) to that stage
    attempt's tasks as ``{"task", "ms", "shuffle_read"}``; a skipped
    stage has no tasks and is left out."""
    ran = sorted(
        ((key, ts) for key, ts in task_lists.items() if ts),
        key=lambda kv: -max(t["ms"] for t in kv[1]),
    )
    out = []
    for (stage, attempt, name), ts in ran[:TAIL_STAGES]:
        ms = sorted(t["ms"] for t in ts)
        out.append({
            "stage": stage, "attempt": attempt, "name": name[:50], "tasks": len(ms),
            "min_ms": ms[0], "med_ms": ms[len(ms) // 2], "max_ms": ms[-1],
            "top": sorted(ts, key=lambda t: -t["ms"])[:TOP_TASKS],
        })
    return out


def read_task_lists(spark, attempts: list[dict]) -> dict[tuple[int, int, str], list[dict]]:
    """The status store's tasks of each stage attempt in ``attempts``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    mapper = sc._jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(sc._jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(scala_module.__getattr__("MODULE$"))
    out = {}
    for s in attempts:
        tasks = out[(s["stageId"], s["attemptId"], s["name"])] = []
        listed = store.taskList(s["stageId"], s["attemptId"], s["numTasks"])
        for t in json.loads(mapper.writeValueAsString(listed)):
            read = (t.get("taskMetrics") or {}).get("shuffleReadMetrics") or {}
            shuffle_read = read.get("remoteBytesRead", 0) + read.get("localBytesRead", 0)
            tasks.append({"task": t["index"], "ms": t["duration"] or 0, "shuffle_read": shuffle_read})
    return out


def profile_query(spark, name: str, fn, sf_dir: str, reps: int) -> dict:
    """Warm up, time and split one query (see the module docstring)."""
    sc = spark.sparkContext
    bench.run_query(fn, spark, bench.WARMUP_SF_DIR)
    # per query: Spark reaps Python workers idle for a minute
    bench.warm_python_workers(spark)
    obs, build_s, windows = [], [], []
    for r in range(reps):
        built = []

        def build(spark, sf_dir):
            built.append((fn(spark, sf_dir), time.time()))
            return built[0][0]

        with job_group(sc, f"profile {name} rep{r}"):
            lo = time.time()
            obs.append(round(bench.run_query(build, spark, sf_dir), 3))
            windows.append((lo, time.time()))
        build_s.append(round(built[0][1] - lo, 3))
    with job_group(sc, f"profile {name} rerun"):
        rerun_s = round(bench.run_query(lambda *_: built[0][0], spark, sf_dir), 3)

    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs, stages = tracing.status_store_dump(spark)
    layers = tracing.op_layer_metrics(tracing.Tracer(), jobs, stages, windows, sc.defaultParallelism)
    lo, hi = windows[-1]
    last = [j for j in jobs if j.get("completionTime") and lo <= j["submissionTime"] / 1000 <= hi]
    stage_ids = {sid for j in last for sid in j["stageIds"]}
    tasks = read_task_lists(spark, [s for s in stages if s["stageId"] in stage_ids])
    return {
        "query": name, "sf_dir": sf_dir, **bench.session_facts(spark),
        "min": min(obs), "obs": obs, "build_s": build_s, "rerun_s": rerun_s,
        "layers": {k: round(v, 4) for k, v in sorted(layers.items())},
        "jobs": job_rows(last, stages, lo), "tails": stage_tails(tasks),
    }


def main() -> int:
    sf_dir, names, reps = parse_args(sys.argv[1:])
    spark = get_session("profile")
    registry = suite.queries()
    out: dict[str, dict] = {}
    for name in names:
        rec = profile_query(spark, name, registry[name], sf_dir, reps)
        out[name] = {"min": rec["min"], "obs": rec["obs"]}
        print(json.dumps(rec), flush=True)
    print("RESULT " + json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
