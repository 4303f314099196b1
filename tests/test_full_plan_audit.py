"""Full-registry cartesian audit (VERDICT r13 #5): the CARTESIAN flag
used to false-positive on 1-row scalar broadcasts outside a
headline-only allowlist, so the one signal that catches a real
cartesian was noisy exactly where nobody looks. This sweep asserts
the classifier (tools/audit_plans.py) reports ZERO unexplained cross
joins across EVERY registered query.

Cost control: a real cartesian always appears in the INITIAL physical
plan (AQE never invents a condition-less join that wasn't in the
logical plan — it only changes join strategies for equi-joins), so
queries whose pre-AQE plan shows no cross node are cleared without
executing them; only the ones that do show a cross are run so the
executed-plan classifier (which needs broadcast metrics) can rule on
the build side.

GATE BUDGET (VERDICT r16 item 2): the full 336-query sweep costs
~7 min of plan builds + allowlisted-cross executions and pushed the
driver's pytest gate past its time budget. The default run audits a
DETERMINISTIC sample — every query named in either cross-join
allowlist (the known-BNLJ risk set, always SCREENED) plus a stable
~1/4 of the rest by name hash — and, within the sample, EXECUTES a
crossed query only if it is NOT already allowlist-named or falls in
the hash quarter: a new (un-named) cross is still fully classified
every run, while the stable allowlisted set's executed-plan
re-classification happens in the hash-rotated quarter and the full
gate. ``SPARK_GRAFT_FULL_AUDIT=1`` restores the full-registry,
execute-every-cross sweep (run in the builder's close-out gate).
The sample is stable across runs (md5 of the query name, no
randomness), so regressions in it reproduce.
"""

from __future__ import annotations

import hashlib
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

import audit_plans  # noqa: E402

from isilon_hadoop_tools_spark import suite  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

FULL_AUDIT = os.environ.get("SPARK_GRAFT_FULL_AUDIT") == "1"


def _in_quarter(name: str) -> bool:
    return int(hashlib.md5(name.encode()).hexdigest(), 16) % 4 == 0


def _audit_items():
    if FULL_AUDIT:
        return list(suite.REGISTRY.items())
    always = set(audit_plans.SCALAR_BNLJ_OK) | set(audit_plans.OBSERVED_BNLJ_OK)
    return [
        (n, spec)
        for n, spec in suite.REGISTRY.items()
        if n in always or _in_quarter(n)
    ]


def test_no_unexplained_cross_join_anywhere_in_registry(spark):
    flagged: dict[str, list[str]] = {}
    unnamed_observed: dict[str, list[str]] = {}
    items = _audit_items()
    screened = executed = 0
    for name, spec in items:
        df = spec.spark(spark, SF_DIR)
        initial = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )
        screened += 1
        if (
            "BroadcastNestedLoopJoin" not in initial
            and "CartesianProduct" not in initial
        ):
            continue
        named = (
            name in audit_plans.SCALAR_BNLJ_OK
            or name in audit_plans.OBSERVED_BNLJ_OK
        )
        if not FULL_AUDIT and named and not _in_quarter(name):
            # fast gate: an allowlist-NAMED cross is screened (it IS
            # still a cross in the initial plan) but its executed-plan
            # re-classification rides the hash quarter / full gate —
            # a NEW, un-named cross is always executed and classified
            continue
        executed += 1
        df.collect()
        bad, observed = audit_plans.classify_crosses(df)
        if bad and name not in audit_plans.SCALAR_BNLJ_OK:
            flagged[name] = bad
        # ADVICE r14: the numOutputRows<=128 metric is measured at
        # the sf0.001 audit scale, where a data-scaled build side can
        # slip under the bound — so an observation-ONLY clear is not
        # proof and must be individually named with a justification.
        if observed and name not in audit_plans.OBSERVED_BNLJ_OK:
            unnamed_observed[name] = observed
    assert screened == len(items)
    if FULL_AUDIT:
        assert screened == len(suite.REGISTRY)
    assert not flagged, (
        f"unexplained cross joins in {len(flagged)} queries "
        f"(executed {executed} of {screened}): {flagged}"
    )
    assert not unnamed_observed, (
        "BNLJ build sides cleared ONLY by the audit-scale broadcast "
        f"metric and not named in OBSERVED_BNLJ_OK: {unnamed_observed}"
    )
    # the named lists cannot grow stale entries silently
    allowlisted = set(audit_plans.OBSERVED_BNLJ_OK) | audit_plans.SCALAR_BNLJ_OK
    stale = allowlisted - set(suite.REGISTRY)
    assert not stale, f"BNLJ allowlists name unknown queries: {stale}"
