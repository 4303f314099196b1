"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at the given sf dir, then compares row count, column names,
and an order-insensitive value comparison (floats to 6 significant
decimals). Usage::

    python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from isilon_hadoop_tools_spark.session import get_session  # noqa: E402
from isilon_hadoop_tools_spark.sources.tpch import TABLES  # noqa: E402


def normalize(rows, columns):
    """Sort columns by name, then rows; round floats; stringify."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = f"{v:.6g}"
            vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_session("check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {exc}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows, "
                  f"{time.time() - t0:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {exc}")
            failures.append(name)
            continue
        problems = []
        if sorted(scols) != sorted(c.lower() for c in ocols) and sorted(
            c.lower() for c in scols
        ) != sorted(c.lower() for c in ocols):
            problems.append(f"columns {sorted(scols)} != {sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} != {len(orows)}")
        if not problems:
            a = normalize(srows, scols)
            b = normalize(orows, ocols)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            failures.append(name)
        else:
            print(f"ok   {name}: {len(srows)} rows match ({time.time() - t0:.1f}s)")

    n_run = sum(1 for name in qs if not only or name in only)
    print(f"\n{n_run - len(failures)}/{n_run} queries pass"
          + (f" ({len(qs) - n_run} skipped)" if n_run < len(qs) else ""))

    stale = gate_freshness_stale()
    if stale:
        print(
            "GATE-FRESHNESS FAIL: latest driver-green row older than the "
            f"rotation guarantee for: {sorted(stale)}"
        )
        return 1
    return 1 if failures else 0


def gate_freshness_stale(max_age: int | None = None) -> list[str]:
    """The rotation's self-check (VERDICT r10 ask 8): with ~50 driver
    checks per round and least-recently-verified ordering, every
    registered query must re-earn a green driver row at least every
    ``ceil(n/50)`` rounds — the bound TRACKS the registry size (a
    fixed constant went stale the moment the registry outgrew
    50·constant and started flagging queries the rotation was
    serving exactly on schedule). A query whose latest green row is
    older than ``current_round − max_age`` means the driver window
    silently missed it — surface that as a LOCAL failure instead of
    trusting a stale green. Queries with no driver row at all are new
    (they sort to the window's front next round) and are exempt."""
    from isilon_hadoop_tools_spark import suite
    from isilon_hadoop_tools_spark.suite import _shared

    if max_age is None:
        # full rotation cycle + 1 round of slack for window jitter
        # (the driver window is "~50", not exactly 50)
        max_age = -(-len(suite.REGISTRY) // 50) + 1
    last = _shared._driver_last_green()
    if not last:
        return []
    current = max(last.values())
    return [
        name
        for name in suite.REGISTRY
        if name in last and last[name] < current - max_age
    ]


if __name__ == "__main__":
    raise SystemExit(main())
