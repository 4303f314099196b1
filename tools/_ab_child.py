"""Child runner for tools/ab_bench.py — executed with cwd set to the
code tree under test (HEAD checkout or a detached worktree of a past
commit), so every import below resolves to THAT tree's code.

Reads the query list from $AB_QUERIES (JSON list), reps from $AB_REPS,
times each query min-of-reps at $SPARK_GRAFT_SF_DIR after the same
warmup discipline as bench.py (plan/codegen warmup at the smoke scale,
pandas-worker pool warmup), and prints one ``ABRESULT {...}`` line.
The worker-pool warmup is a copy of ``bench.warm_python_workers``,
not a call: this runner also executes against past trees whose
bench.py predates that function.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.getcwd())

from isilon_hadoop_tools_spark import suite  # noqa: E402
from isilon_hadoop_tools_spark.session import get_session  # noqa: E402


def main() -> int:
    names = json.loads(os.environ["AB_QUERIES"])
    reps = int(os.environ.get("AB_REPS", "3"))
    warm = os.environ.get(
        "SPARK_GRAFT_WARMUP_SF_DIR", "/root/testdata/sf0.001"
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    spark = get_session("ab_bench")
    registry = suite.queries()
    names = [n for n in names if n in registry]

    def run(fn) -> float:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def run_warm(fn) -> None:
        fn(spark, warm).write.format("noop").mode("overwrite").save()

    for n in names:
        run_warm(registry[n])

    import pandas as pd

    def _noop(batches):
        import numpy  # noqa: F401 — pre-import heavy deps in the worker

        for b in batches:
            yield pd.DataFrame({"x": b["id"]})

    spark.range(0, 1024, 1, 64).mapInPandas(_noop, "x long").write.format(
        "noop"
    ).mode("overwrite").save()

    out: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(reps):
        for n in names:
            out[n].append(round(run(registry[n]), 3))
    print(
        "ABRESULT " + json.dumps({n: min(v) for n, v in out.items()}),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
