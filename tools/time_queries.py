"""Time a list of suite queries end-to-end with the noop sink.

Same methodology as bench.py (plan+codegen warmup at sf0.001 and the
Python-worker pool warmup, then timed reps at the target SF, min
reported) but for an arbitrary query
list — the paired A/B measurement harness for rotation (non-headline)
queries. Usage::

    python tools/time_queries.py [sf_dir] query [query ...] [--reps N]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench  # noqa: E402
from isilon_hadoop_tools_spark import suite  # noqa: E402
from isilon_hadoop_tools_spark.session import get_session  # noqa: E402

WARMUP_SF_DIR = "/root/testdata/sf0.001"


def parse_args(argv: list[str]) -> tuple[str, list[str], int]:
    """``(sf_dir, query names, reps)`` from the usage line above; the
    optional leading ``sf_dir`` is told apart from query names by its
    ``/``. ``--reps`` takes ``N`` or ``=N``, anywhere on the line."""
    p = argparse.ArgumentParser(
        usage="%(prog)s [sf_dir] query [query ...] [--reps N]"
    )
    p.add_argument("args", nargs="+")
    p.add_argument("--reps", type=int, default=2)
    ns = p.parse_intermixed_args(argv)
    args = ns.args
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.1"
    names = [a for a in args if "/" not in a]
    return sf_dir, names, ns.reps


def main() -> int:
    sf_dir, names, reps = parse_args(sys.argv[1:])
    spark = get_session("time_queries")
    registry = suite.queries()
    out: dict[str, dict] = {}
    for name in names:
        fn = registry[name]
        spark.sparkContext.setJobDescription(f"warmup {name}")
        fn(spark, WARMUP_SF_DIR).write.format("noop").mode("overwrite").save()
        # per query: Spark reaps Python workers idle for a minute
        bench.warm_python_workers(spark)
        obs = []
        for r in range(reps):
            spark.sparkContext.setJobDescription(f"timed {name} rep{r}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            obs.append(round(time.perf_counter() - t0, 3))
        out[name] = {"min": min(obs), "obs": obs}
        print(json.dumps({name: out[name]}), flush=True)
    print("RESULT " + json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
