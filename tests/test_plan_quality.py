"""Physical-plan audits: assert the plans stay the plans we want at
scale — filters pushed into the parquet scan, columns pruned,
dimension tables broadcast, top-k as TakeOrderedAndProject, no
accidental cartesian products. A regression here is a perf bug even
while results stay correct."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from isilon_hadoop_tools_spark import suite
from isilon_hadoop_tools_spark.sources.local import local_df

from conftest import SMOKE_SF_DIR


@pytest.fixture(autouse=True)
def _no_table_cache(spark):
    # These audits assert parquet-scan properties (PushedFilters,
    # ReadSchema, PartitionFilters); the suite's shared table cache
    # would swap the scans for InMemoryTableScan and mask them. Also
    # clear Spark's CacheManager: any earlier test that cached a
    # table registers its plan globally, and the optimizer substitutes
    # InMemoryTableScan into EVERY later matching sub-plan regardless
    # of our flag.
    # the flag must flip where _t reads it — the suite package's
    # _shared module (assigning suite.CACHE_TABLES would only set a
    # package attribute and leave _t's global untouched)
    from isilon_hadoop_tools_spark.suite import _shared

    old = _shared.CACHE_TABLES
    _shared.CACHE_TABLES = False
    spark.catalog.clearCache()
    _shared._TABLE_CACHE.clear()
    yield
    _shared.CACHE_TABLES = old


def _plan(spark, name: str) -> str:
    df = suite.queries()[name](spark, SMOKE_SF_DIR)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q1_pushes_filter_and_prunes_columns(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # projection pruning: only the 7 needed columns reach the scan
    schema_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_comment" not in schema_line
    assert "l_orderkey" not in schema_line
    # map-side partial agg + final agg around one exchange
    # ("Exchange (N)" counts tree nodes, not the detail section)
    assert plan.count("HashAggregate (") >= 2
    assert plan.count("Exchange (") == 1


def test_q3_broadcasts_dims_and_takeordered(spark):
    plan = _plan(spark, "q3_top_revenue_orders")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q5_star_join_broadcasts_all_dims(spark):
    plan = _plan(spark, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4  # customer/supplier/nation/region
    assert "CartesianProduct" not in plan


def test_exact_dedup_partial_aggregation(spark):
    plan = _plan(spark, "dedup_exact_docs")
    # map-side partial agg before the exchange: two HashAggregates
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_ngram_jaccard_no_cartesian(spark):
    plan = _plan(spark, "dedup_ngram_jaccard")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_topk_per_group_single_shuffle(spark):
    plan = _plan(spark, "top3_orders_per_customer")
    # one exchange on the group key feeds the ranking window
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "WindowGroupLimit" in plan  # rank filter pushed below sort


def test_brute_force_ann_broadcasts_queries_not_corpus(spark):
    plan = _plan(spark, "ann_brute_force_cosine")
    assert "BroadcastNestedLoopJoin" in plan  # tiny query side broadcast
    # the corpus must NOT be globally sorted or reshuffled for scoring
    assert "CartesianProduct" not in plan


def test_q6_all_predicates_pushed_no_join(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    assert "PushedFilters" in plan
    # all four predicate families present in the pushed set
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    assert "Join" not in plan
    assert plan.count("Exchange (") == 1  # only the final single-row agg


def test_q7_broadcasts_every_dim_one_fact_shuffle(spark):
    plan = _plan(spark, "q7_nation_volume")
    assert plan.count("BroadcastHashJoin") >= 4  # supp/cust/n1/n2
    assert "CartesianProduct" not in plan
    # the only hash exchanges: lineitem<->orders join sides + final agg
    assert plan.count("Exchange hashpartitioning") <= 3


def test_q18_semi_join_broadcast(spark):
    plan = _plan(spark, "q18_large_volume_customers")
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q4_exists_is_semi_join_not_aggregate(spark):
    plan = _plan(spark, "q4_order_priority")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q15_reuses_revenue_exchange(spark):
    # AQE performs exchange reuse at stage materialization, so the
    # assertion must read the final plan after execution; reuse also
    # requires the isnotnull(l_suppkey) filter applied at the source —
    # if only the probe-side join pushes it, the two revenue subplans
    # are not canonically equal and lineitem is scanned twice
    df = suite.queries()["q15_top_supplier"](spark, SMOKE_SF_DIR)
    df.collect()
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "ReusedExchange" in plan


def test_winnow_shuffle_free(spark):
    plan = _plan(spark, "doc_winnow_fingerprints")
    # winnowing is per-document stateless: gram hashing, window minima,
    # and dedup all happen inside one per-row projection — the only
    # exchange permitted is the r16 CONDITIONAL widen (keyed
    # repartition of the narrow bench-scale scan before the
    # compute-dense Python fingerprint pass; a many-split corpus
    # skips it, pinned by the narrow/wide contract below)
    # formatted plans name each node twice (tree + details) — count
    # the details header, one per node
    assert plan.count(") Exchange") <= 1
    assert "CartesianProduct" not in plan


def test_winnow_narrow_input_widens_with_exactly_one_exchange(spark):
    # ADVICE r16: the `<= 1` contract above also passes with ZERO
    # exchanges — if the conditional widen silently stopped firing on
    # a narrow input, the 1-task Python fingerprint stage would go
    # undetected. Pin EXACTLY one Exchange on a coalesce(1) input
    # (mirror of test_narrow_input_widens_with_exactly_one_exchange
    # for html_extract).
    from isilon_hadoop_tools_spark.operators.dedup import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, "abcdefghijklmnopqrs tuvw xyz0123456789")],
        "doc_id long, text string",
    ).coalesce(1)
    out = winnow_fingerprints(df, "text", "doc_id")
    s = out._jdf.queryExecution().executedPlan().toString()
    assert s.count("Exchange") == 1
    assert out.count() >= 1  # result survives the widen


def test_winnow_widen_skipped_on_wide_input(spark):
    # the 100 TB contract: an input already at shuffle-partition width
    # takes NO exchange beyond its own pre-partitioning
    from isilon_hadoop_tools_spark.operators.dedup import winnow_fingerprints
    from isilon_hadoop_tools_spark.session import shuffle_partition_count

    npart = max(2, shuffle_partition_count(spark))
    df = spark.createDataFrame(
        [(i, "abcdefghijklmnopqrs tuvw xyz0123456789") for i in range(npart)],
        "doc_id long, text string",
    ).repartition(npart, "doc_id")
    plan = (
        winnow_fingerprints(df, "text", "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # only the test's own repartition — winnow itself adds none
    assert plan.count("Exchange") <= 1


def test_kmeans_assign_shuffle_free(spark):
    # nearest-centroid assignment is a per-row argmin over a literal
    # centroid array: no n x k join, no window partitioned by vid —
    # the returned final-assignment plan must carry no exchange at all
    plan = _plan(spark, "embedding_kmeans_assign")
    assert "hashpartitioning(vid" not in plan
    assert "Window" not in plan
    assert "Exchange" not in plan


def test_embedding_cosine_id_only_candidates(spark):
    plan = _plan(spark, "dedup_embedding_cosine")
    assert "CartesianProduct" not in plan
    # vectors re-join after pair dedup: the candidate distinct's
    # exchange partitions on the id pair, not on array payloads
    assert "hashpartitioning(id_a" in plan


def test_partitioned_scan_prunes_partitions(spark):
    plan = _plan(spark, "orders_partitioned_pruning")
    # the o_year predicate must be a partition filter on the scan
    # (directory-level pruning), never a post-scan data filter
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "o_year" in pf and "1997" in pf


def test_hash_split_no_shuffle(spark):
    # the split assignment is a stateless per-row expression: scan →
    # project, zero exchanges — appending docs cannot reshuffle splits
    plan = _plan(spark, "doc_train_split")
    assert "Exchange (" not in plan
    assert "CartesianProduct" not in plan


def test_repetition_stats_partial_aggs_no_cartesian(spark):
    plan = _plan(spark, "doc_repetition_stats")
    assert "CartesianProduct" not in plan
    # both aggregations carry map-side partials (4+ HashAggregate nodes)
    assert plan.count("HashAggregate (") >= 4


def test_q8_broadcasts_all_dims_single_fact_shuffle(spark):
    plan = _plan(spark, "q8_market_share")
    # part/supplier/customer/both nation roles (+region folded into
    # the customer-nation side) all broadcast
    assert plan.count("BroadcastHashJoin") >= 5
    assert "CartesianProduct" not in plan
    # the only hash exchanges: lineitem⋈orders build + final 2-row agg
    assert plan.count("Exchange hashpartitioning") <= 3


def test_q21_single_fact_scan(spark):
    plan = _plan(spark, "q21_waiting_suppliers")
    # single-pass form: lineitem is scanned once — the window supplies
    # both existence tests, no self-join re-scan of the fact
    # (count tree nodes "+-/:- Scan parquet", not the detail section)
    n_scans = plan.count("+- Scan parquet") + plan.count(":- Scan parquet")
    assert n_scans <= 3  # lineitem + orders + supplier
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_decontaminate_broadcasts_eval_grams(spark):
    plan = _plan(spark, "corpus_decontaminate")
    # eval gram set broadcasts; the corpus side never shuffles for the
    # join itself (only the final per-doc count aggregates)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_redact_pii_is_shuffle_free(spark):
    plan = _plan(spark, "doc_redact_pii")
    # stateless per-row projection: no exchange anywhere in the plan
    assert "Exchange" not in plan
    # "*" prefix = the projection runs inside whole-stage codegen
    assert "* Project" in plan


def test_char_entropy_shuffle_free(spark):
    # entropy is per-document stateless: the Arrow kernel form must
    # keep the corpus on its input partitioning (no Exchange at all)
    plan = _plan(spark, "doc_char_entropy")
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan


def test_dup_spans_no_cartesian_one_gram_agg(spark):
    plan = _plan(spark, "doc_dup_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_unigram_surprisal_broadcasts_vocab(spark):
    # the vocabulary aggregates must broadcast onto the token fact —
    # a sort-merge join here would shuffle the corpus a second time
    plan = _plan(spark, "doc_unigram_surprisal")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_hll_registers_partial_aggregated(spark):
    # register build must be a two-phase hash aggregate (map-side
    # partials), so only m partial rows per input partition shuffle
    plan = _plan(spark, "events_hll_registers")
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_bloom_decontaminate_corpus_side_is_projection(spark):
    # the corpus bulk must meet ONLY a broadcast (the rare-hit verify
    # join); no shuffle-side join of corpus grams against eval grams
    plan = _plan(spark, "corpus_decontaminate_bloom")
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def _executed_plan(spark, name: str) -> str:
    df = suite.queries()[name](spark, SMOKE_SF_DIR)
    df.collect()
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_ngram_jaccard_single_pipeline(spark):
    # the sizes-join form recomputed the posting pipeline 3x (31
    # Exchange nodes); the size-carrying form must stay one pipeline
    plan = _executed_plan(spark, "dedup_ngram_jaccard")
    assert plan.count("Exchange (") <= 12
    assert "CartesianProduct" not in plan


def test_embedding_cosine_bucketer_materialized_once(spark):
    # the Arrow bucketer must not run once per self-join side: the
    # hashed table is checkpointed, so at most one ArrowEvalPython
    # subtree may remain in the executed plan
    plan = _executed_plan(spark, "dedup_embedding_cosine")
    assert plan.count("ArrowEvalPython") <= 2


def test_funnel_single_events_scan(spark):
    # the two-leg (view agg + purchase self-join) form scanned events
    # twice; the conditional-aggregation form must read the fact once
    plan = _plan(spark, "events_funnel_conversion")
    n_scans = plan.count("+- Scan parquet") + plan.count(":- Scan parquet")
    assert n_scans == 1
    assert "In(event_type" in plan  # type filter reaches the scan
    assert "CartesianProduct" not in plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Dynamic partition pruning: a join's selective dim filter prunes
    the partitioned fact's scan at RUNTIME (the plan carries a
    dynamicpruning subquery on the partition column) — the optimizer
    feature that turns a star join over a date-partitioned 100 TB
    fact into a few-partition read."""
    d = str(tmp_path / "fact")
    fact = spark.range(0, 2000).selectExpr(
        "id", "CAST(id % 20 AS LONG) AS part_key", "id * 2 AS v"
    )
    fact.write.partitionBy("part_key").parquet(d)
    dim = spark.range(0, 20).selectExpr(
        "id AS part_key", "CASE WHEN id = 3 THEN 'pick' ELSE 'skip' END AS tag"
    )
    saved = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    try:
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
        joined = (
            spark.read.parquet(d)
            .join(dim.filter(F.col("tag") == "pick").hint("broadcast"), "part_key")
        )
        rows = joined.collect()
        assert len(rows) == 100  # only partition 3 survives
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan
    finally:
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.enabled", saved
        )


def test_runtime_bloom_filter_injected_on_selective_join(spark, tmp_path):
    """Runtime Bloom-filter join: a selective (filtered) build side
    injects a bloom_filter_might_contain predicate into the probe
    side's scan, cutting the shuffled probe volume — Spark's runtime
    answer to semi-join reduction at 100 TB."""
    d = str(tmp_path / "probe")
    spark.range(0, 50_000).selectExpr("id AS k", "id * 3 AS v").write.parquet(d)
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {c: spark.conf.get(c, None) for c in confs}
    try:
        for c, v in confs.items():
            spark.conf.set(c, v)
        probe = spark.read.parquet(d)
        build = (
            spark.range(0, 50_000)
            .selectExpr("id AS k", "CAST(id % 997 AS LONG) AS sel")
            .filter("sel = 7")  # selective: ~50 of 50k rows survive
        )
        joined = probe.join(build, "k")
        assert len(joined.collect()) > 0
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
    finally:
        for c, v in saved.items():
            if v is None:
                spark.conf.unset(c)
            else:
                spark.conf.set(c, v)


def test_minhash_lsh_signature_pipeline_materialized_once(spark):
    # the signature collapse consumes (id, sig_key) from up to four
    # branches (group table, band explode, two expansion joins): the
    # lazy localCheckpoint must keep the shingle + minhash aggregation
    # to ONE parquet read of documents in the executed plan
    plan = _executed_plan(spark, "dedup_minhash_lsh_candidates")
    n_doc_scans = plan.count("Scan parquet") + plan.count(
        "InMemoryTableScan"
    )
    assert n_doc_scans <= 1, plan
    assert "CartesianProduct" not in plan


def test_simhash_rep_pairs_no_cartesian_bounded_scans(spark):
    plan = _executed_plan(spark, "simhash_rep_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dup_span_cut_membership_join_is_keyed(spark):
    # the token-in-span membership test must plan as an id-keyed join
    # with the range condition as residual — never a nested-loop over
    # tokens x spans
    plan = _plan(spark, "doc_dup_span_cut")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)


def test_png_feature_chain_two_arrow_stages(spark):
    # payload generation + decode are each one Arrow stage; nothing
    # else may fall back to Python
    plan = _plan(spark, "multimodal_png_features")
    # "NodeName (" counts tree nodes, not the detail section
    n_py = plan.count("ArrowEvalPython (") + plan.count("MapInPandas (")
    assert n_py == 2, plan


def _tree_scans(plan: str) -> int:
    return plan.count("+- Scan parquet") + plan.count(":- Scan parquet")


def test_zone_skipping_single_scan_single_exchange(spark):
    """The zone-map report is one scan + one zone-keyed partial agg +
    one fold: at most two exchanges (zone agg + global fold), one
    events scan."""
    plan = _plan(spark, "events_zone_skipping")
    assert _tree_scans(plan) == 1
    assert plan.count("Exchange (") <= 2
    assert "CartesianProduct" not in plan


def test_bootstrap_ci_single_scan_one_aggregation(spark):
    """All 20 bootstrap replicates ride ONE scan: one events scan,
    one group-keyed exchange, no joins at all."""
    plan = _plan(spark, "events_value_bootstrap_ci")
    assert _tree_scans(plan) == 1
    assert plan.count("Exchange (") == 1
    assert "Join" not in plan


def test_k_anonymity_single_scan(spark):
    plan = _plan(spark, "customer_k_anonymity")
    assert _tree_scans(plan) == 1
    assert "Join" not in plan


def test_ks_and_mann_whitney_no_single_partition_window(spark):
    """The KS / Mann-Whitney cumulative counts must come from the
    two-phase range-partition + driver-offset discipline
    (_ordered_cumsum), NEVER an unpartitioned global-order window:
    for a continuous value column distinct values ~ row count, so an
    `Exchange SinglePartition` here sorts the whole table in one
    task at 100x. The global totals ride a broadcast 1-row
    crossJoin, not a whole-table window."""
    for name in (
        "events_ks_drift",
        "events_mann_whitney",
        "events_cvm_drift",
        "events_ad_drift",
    ):
        plan = _plan(spark, name)
        assert "Exchange SinglePartition" not in plan, (name, plan)


def test_lm_perplexity_bigram_join_not_forced_broadcast(spark):
    """The bigram/unigram count tables are corpus-vocabulary-scale on
    web text (distinct bigrams grow ~superlinearly in vocabulary): a
    forced broadcast OOMs executors at 100x. With auto-broadcast
    disabled, a broadcast HINT would still produce a
    BroadcastHashJoin — so asserting zero BroadcastHashJoin at
    threshold -1 proves the hint is gone while leaving AQE free to
    choose broadcast at toy scale. Only the 1-row v_terms crossJoin
    may broadcast (BroadcastNestedLoopJoin)."""
    from isilon_hadoop_tools_spark.operators.corpus import _lm_scored

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        docs = spark.read.parquet(f"{SMOKE_SF_DIR}/documents.parquet")
        scored = _lm_scored(docs, "text", "doc_id")
        plan = scored._sc._jvm.PythonSQLUtils.explainString(
            scored._jdf.queryExecution(), "formatted"
        )
        assert "BroadcastHashJoin" not in plan, plan
        assert "BroadcastNestedLoopJoin" in plan  # the 1-row v_terms
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_kn_perplexity_count_joins_not_forced_broadcast(spark):
    """Same discipline as _lm_scored for the Kneser–Ney scorer: the
    pair/context/continuation count tables are corpus-scale on web
    text — no broadcast HINT anywhere (assert zero BroadcastHashJoin
    at threshold -1); only the 1-row types aggregate crossJoin may
    broadcast."""
    from isilon_hadoop_tools_spark.operators.corpus import _kn_scored

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        docs = spark.read.parquet(f"{SMOKE_SF_DIR}/documents.parquet")
        scored = _kn_scored(docs, "text", "doc_id", 0.75)
        plan = scored._sc._jvm.PythonSQLUtils.explainString(
            scored._jdf.queryExecution(), "formatted"
        )
        assert "BroadcastHashJoin" not in plan, plan
        assert "BroadcastNestedLoopJoin" in plan  # the 1-row types
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_js_divergence_single_scan_band_table_work(spark):
    """The JS gate shares PSI's shape contract: ONE events scan with
    map-side partial counts; everything after runs on the 10-row
    band table (the only other scan is the band spine Range)."""
    plan = _plan(spark, "events_js_divergence")
    assert _tree_scans(plan) == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_hilbert_skipping_jvm_only_single_scan_per_layout(spark):
    """The Hilbert key fold is F.aggregate (JVM, outside codegen but
    never Python): no Arrow/Python eval nodes; one events scan per
    layout branch of the union (2 total)."""
    plan = _plan(spark, "events_hilbert_skipping")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert _tree_scans(plan) == 2


def test_url_canonicalize_scan_bound(spark):
    """URL canonicalization is pure column algebra: ONE scan, ZERO
    exchanges, no Python, no joins — anything else would mean the
    'scan-bound at 100 TB' claim silently regressed."""
    plan = _plan(spark, "doc_url_canonicalize")
    assert _tree_scans(plan) == 1
    assert plan.count("Exchange (") == 0
    assert "Join" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_domain_caps_window_only_on_heavy_side(spark):
    """The cap's rank window must sit behind the above-cap domain
    filter: the under-cap (light) branch reaches the union with NO
    Window node on its path. Asserted on the operator directly — the
    suite query's mix report checkpoints the capped table (it is
    consumed twice), which would hide the window from the final
    plan. Structural proxy: exactly one Window in the whole plan,
    and a Union is present (light ∪ ranked)."""
    from isilon_hadoop_tools_spark.operators.urls import domain_caps

    urls = spark.read.parquet(f"{SMOKE_SF_DIR}/documents.parquet").selectExpr(
        "doc_id",
        "concat('http://h', cast(doc_id % 5 as string),"
        " '.example.com/p') AS url",
    )
    out = domain_caps(urls, "url", "doc_id", cap=3)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert plan.count("Window (") == 1, plan
    assert "Union" in plan
    assert "CartesianProduct" not in plan


def test_chi_square_band_table_reused_not_rescanned(spark):
    """The band-count table is checkpointed and consumed twice
    (totals + cells): downstream of the checkpoint there must be NO
    re-scan of the events parquet (single fact scan by construction)
    and the 1-row totals must ride a broadcast crossJoin, never a
    CartesianProduct."""
    plan = _plan(spark, "events_chi_square_drift")
    assert "Scan parquet" not in plan  # fact scanned once, pre-checkpoint
    # tree nodes only ("name (id)"), not the detail-section headers
    assert plan.count("Scan ExistingRDD (") == 2  # both consumers reuse it
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row totals crossJoin
    assert "CartesianProduct" not in plan


_ALL_TYPES = (
    "i int, b bigint, d double, s string, y binary, t boolean,"
    " a array<bigint>"
)
_NOT_NULL = T.StructType(
    [
        T.StructField("k", T.IntegerType(), False),
        T.StructField("v", T.StringType(), False),
    ]
)


def _plan_node_names(df) -> list[str]:
    names, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        names.append(node.getClass().getSimpleName())
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return names


@pytest.mark.parametrize(
    "rows, schema, rejected",
    [
        (
            [
                (1, 2**40, 1.5, "x'y\\", b"\x00\xff", True, [1, None, 3]),
                (None,) * 7,
                (-7, -1, -0.0, "", b"", False, []),
            ],
            _ALL_TYPES,
            False,
        ),
        ([(1, "a"), (2, "b")], _NOT_NULL, False),
        ([], _NOT_NULL, False),
        ([(None, "a")], _NOT_NULL, True),
        ([("7",)], "x int", True),
        ([(1,)], _NOT_NULL, True),
    ],
    ids=["all_types", "not_null", "empty_not_null", "null_in_not_null",
         "string_in_int", "short_row"],
)
def test_local_df_matches_create_dataframe(spark, rows, schema, rejected):
    """``local_df`` has ``createDataFrame(list)``'s semantics (schema
    exactly as declared, the same rows, the same rejections) but plans
    as a ``LocalTableScan``."""
    if rejected:
        with pytest.raises((TypeError, ValueError)):
            spark.createDataFrame(rows, schema)
        with pytest.raises((TypeError, ValueError)):
            local_df(spark, rows, schema).collect()
        return
    got = local_df(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    # the JVM schema: PySpark caches the declared struct as the Python
    # one, so only this shows the nullability Catalyst plans with
    assert got._jdf.schema().json() == want._jdf.schema().json()
    assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)
    nodes = _plan_node_names(got)
    assert "LocalTableScanExec" in nodes and "RDDScanExec" not in nodes
