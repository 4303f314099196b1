"""Physical-plan audit across the suite.

Prints one line per query with Exchange / ReusedExchange / scan /
Python-stage node counts from the *executed* (final adaptive) plan,
flagging cartesians and unusually exchange-heavy plans. This is how
the round-5 recompute bugs were found (a sizes-join recomputing the
ngram posting pipeline 3x, an Arrow bucketer running once per
self-join side, a funnel re-scanning the corpus per stage count).

Cartesian classification (r14): a ``BroadcastNestedLoopJoin`` whose
build side is PROVABLY bounded at any scale (a no-grouping-key
aggregate => exactly 1 row; a literal local relation => compile-time
constant size; a global limit) or OBSERVABLY tiny (executed broadcast
``numOutputRows`` <= 128 — deliberate query batches are tens of rows,
a real accidental cartesian builds a data-scaled side) is the
scalar-subquery / bounded-batch pattern and is exempt, so the
CARTESIAN flag only fires on real unbounded crosses. The named
allowlist that remains covers deliberate broadcasts bigger than the
observed bound.

Usage::

    python tools/audit_plans.py [sf_dir] [query ...]   # default: headline set
    python tools/audit_plans.py [sf_dir] --all         # full registry sweep
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from isilon_hadoop_tools_spark import suite  # noqa: E402
from isilon_hadoop_tools_spark.session import get_session  # noqa: E402

_STAGES = {
    "BroadcastQueryStageExec",
    "ShuffleQueryStageExec",
    "TableCacheQueryStageExec",
    "ResultQueryStageExec",
}

# row-count-preserving (or reducing) wrappers a 1-row proof may walk
# through on the build path; anything else (join, generate, expand,
# union, ...) can multiply rows and stops the walk
_NON_EXPANDING = {
    "WholeStageCodegenExec",
    "InputAdapter",
    "ProjectExec",
    "FilterExec",
    "SortExec",
    "BroadcastExchangeExec",
    "ShuffleExchangeExec",
    "CoalesceExec",
    "ColumnarToRowExec",
    "AQEShuffleReadExec",
}


def _kids(node) -> list:
    cn = node.getClass().getSimpleName()
    if cn in _STAGES:
        return [node.plan()]
    if cn == "ReusedExchangeExec":
        return [node.child()]
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


# observed-build-size exemption bound: a deliberate broadcast of a
# bounded batch (query sets, band tables) is tens of rows; a real
# accidental cartesian builds a data-scaled side — thousands even at
# the sf0.001 audit scale
_OBSERVED_BUILD_OK = 128


def _build_tier(node) -> str | None:
    """Classify a (build-side) subtree: ``"proven"`` if it is bounded
    at ANY scale by structure alone (a no-grouping-key aggregate =>
    exactly 1 row; a local constant relation => compile-time size; a
    global limit), ``"observed"`` if the only evidence is the executed
    broadcast's numOutputRows <= ``_OBSERVED_BUILD_OK`` — which is
    measured at the AUDIT scale, where a data-scaled side can fall
    under the bound and a genuinely unbounded BNLJ would be cleared
    (ADVICE r14) — or ``None`` if neither. Observed-only clears are
    surfaced as warnings and must be named in ``OBSERVED_BNLJ_OK``;
    they are never silently trusted."""
    cn = node.getClass().getSimpleName()
    if "Aggregate" in cn:
        try:
            if node.groupingExpressions().isEmpty():
                return "proven"  # no-keys aggregate: exactly 1 row
        except Exception:
            pass
        # keyed aggregate: bounded only if its input is
        return _best_tier(_kids(node))
    if cn == "LocalTableScanExec":
        return "proven"  # literal relation: compile-time constant size
    if cn in ("GlobalLimitExec", "CollectLimitExec",
              "TakeOrderedAndProjectExec"):
        return "proven"  # bounded by the limit constant at any scale
    if "Join" in cn or cn == "CartesianProductExec":
        # a join of sides that are EACH provably constant-bounded is
        # itself constant-bounded: |out| <= |L| x |R| (+|L|+|R| for
        # outer variants) — e.g. the r16 RFM quintile-threshold table,
        # a cross of three 1-row no-key rank aggregates. ALL children
        # must prove; one observed/unknown side voids the product.
        tiers = [_build_tier(c) for c in _kids(node)]
        if tiers and all(t == "proven" for t in tiers):
            return "proven"
        return "observed" if "observed" in tiers else None
    observed = None
    if cn == "BroadcastExchangeExec":
        try:
            if (
                node.metrics().apply("numOutputRows").value()
                <= _OBSERVED_BUILD_OK
            ):
                observed = "observed"
        except Exception:
            pass
    if cn in _STAGES or cn == "ReusedExchangeExec" or cn in _NON_EXPANDING:
        deeper = _best_tier(_kids(node))
        if deeper == "proven":
            return "proven"
        return deeper or observed
    return observed


def _best_tier(nodes) -> str | None:
    best = None
    for c in nodes:
        t = _build_tier(c)
        if t == "proven":
            return "proven"
        if t == "observed":
            best = "observed"
    return best


def _walk(node, out: list) -> None:
    out.append(node)
    for c in _kids(node):
        _walk(c, out)


def classify_crosses(df) -> tuple[list[str], list[str]]:
    """(unexplained, observed_only) cross-join nodes in the EXECUTED
    plan. ``unexplained``: build side neither provably bounded nor
    observably tiny — a real cartesian. ``observed_only``: cleared
    ONLY by the executed broadcast metric at audit scale — reported
    as a warning and required to be named in ``OBSERVED_BNLJ_OK``
    (a data-scaled side can fall under the bound at sf0.001, so the
    metric alone is not proof). Run after an action."""
    try:
        ep = df._jdf.queryExecution().executedPlan()
        if ep.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            ep = ep.finalPhysicalPlan()
    except Exception:
        return ["<plan-walk-failed>"], []
    nodes: list = []
    _walk(ep, nodes)
    bad: list[str] = []
    observed: list[str] = []
    for n in nodes:
        cn = n.getClass().getSimpleName()
        if cn == "CartesianProductExec":
            bad.append("CartesianProduct")
        elif cn == "BroadcastNestedLoopJoinExec":
            side = n.buildSide().toString()
            ch = n.children()
            build = ch.apply(1) if side == "BuildRight" else ch.apply(0)
            tier = _build_tier(build)
            if tier is None:
                bad.append(f"BNLJ {side}")
            elif tier == "observed":
                observed.append(f"BNLJ {side}")
    return bad, observed


def unexplained_crosses(df) -> list[str]:
    """Names of cross-join nodes in the EXECUTED plan whose build side
    is not provably/observably <= 1 row. Run after an action."""
    return classify_crosses(df)[0]


def audit(spark, name: str, sf_dir: str) -> dict:
    df = suite.REGISTRY[name].spark(spark, sf_dir)
    df.collect()
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    bad, observed = classify_crosses(df)
    return {
        "exchanges": plan.count("Exchange ("),
        "reused": plan.count("ReusedExchange"),
        "scans": plan.count("Scan parquet")
        + plan.count("InMemoryTableScan")
        + plan.count("Scan ExistingRDD"),
        "python": plan.count("ArrowEvalPython") + plan.count("MapInPandas"),
        "cartesian": plan.count("CartesianProduct")
        + plan.count("BroadcastNestedLoopJoin"),
        "unexplained": bad,
        "observed_only": observed,
    }


# named escape hatch for deliberate BroadcastNestedLoopJoins the
# classifier cannot clear. The bounded-build classification (1-row
# aggregates, literal relations, limits, observed tiny broadcasts)
# clears every other deliberate shape in the registry. Add a name
# here ONLY with a justification comment; tests/test_full_plan_audit.py
# sweeps the whole registry against this.
SCALAR_BNLJ_OK: set[str] = {
    # hamming_recall_eval's brute-force truth pass broadcasts its
    # checkpointed eval input (a localCheckpoint scan, whose size the
    # plan does not carry). The operator raises past max_eval_rows
    # (250k), and the query evaluates the doc_id < 200000 prefix of
    # the unique doc key, so the build side is bounded at any scale.
    "multimodal_hash_recall",
}

# OBSERVATION-only clears (ADVICE r14): a BNLJ build side whose only
# boundedness evidence is the executed broadcast's numOutputRows at
# the sf0.001 audit scale. That metric CAN clear a genuinely
# data-scaled side (supplier is ~10 rows at sf0.001), so every such
# clear must be NAMED here with the reason the build side is bounded
# at any scale; tests/test_full_plan_audit.py fails on an unnamed
# observation-only clear, and main() prints them as warnings either
# way. name -> justification.
#
# The recurring shape below is the ANN/eval QUERY BATCH:
# ``emb.filter(vec_id < K)`` with a literal K on the table's unique
# key — exactly K rows at ANY scale, but the proof needs vec_id's
# uniqueness, which the physical plan does not carry, so the
# classifier cannot promote it past "observed".
OBSERVED_BNLJ_OK: dict[str, str] = {
    q: "query batch = filter(vec_id < K) on the unique embeddings "
    "key: <= K rows at any scale (uniqueness not visible to the plan)"
    for q in (
        "ann_brute_force_cosine",
        "ann_binary_hamming",
        "ann_recall_eval",
        "embedding_knn_probe",
        "embedding_hard_negatives",
        "embedding_matryoshka_recall",
    )
} | {
    "doc_hybrid_rrf": (
        "dense-retrieval query vector = filter(vec_id < K) on the "
        "unique embeddings key: <= K rows at any scale"
    ),
    "events_hll_overlap": (
        "two 1-row HLL register sketches unioned before the overlap "
        "fold; register width is a constant (2^p), independent of "
        "row count"
    ),
    "multimodal_pair_alignment": (
        "calibration batch = filter(id < K) on the unique pair id: "
        "<= K rows at any scale"
    ),
    "corpus_doremi_weights": (
        "reference loss = the rollup's grand-total row (_gid == 1) of "
        "a checkpointed domain rollup: exactly 1 row at any scale"
    ),
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    if len(sys.argv) > 2 and sys.argv[2] == "--all":
        names = list(suite.REGISTRY)
    elif len(sys.argv) > 2:
        names = sys.argv[2:]
    else:
        import bench

        names = [n for n in bench.HEADLINE if n in suite.REGISTRY]
    spark = get_session("audit_plans")
    worst = 0
    for name in names:
        c = audit(spark, name, sf_dir)
        flag = ""
        if c["unexplained"] and name not in SCALAR_BNLJ_OK:
            flag = f"  <== CARTESIAN {c['unexplained']}"
            worst = 1
        elif c["observed_only"]:
            if name in OBSERVED_BNLJ_OK:
                flag = (
                    f"  (observed-only BNLJ, named: "
                    f"{OBSERVED_BNLJ_OK[name]})"
                )
            else:
                flag = (
                    f"  <== OBSERVED-ONLY {c['observed_only']} "
                    f"(unnamed — add to OBSERVED_BNLJ_OK or prove "
                    f"the build side)"
                )
                worst = 1
        print(
            f"{name}: exch={c['exchanges']} reuse={c['reused']} "
            f"scans={c['scans']} py={c['python']} "
            f"cross={c['cartesian']}{flag}"
        )
    return worst


if __name__ == "__main__":
    raise SystemExit(main())
