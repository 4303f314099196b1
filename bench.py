"""Bench harness: timed runs of the headline queries at sf0.1.

Runs each headline query from the oracle-checked suite against
``$SPARK_GRAFT_SF_DIR`` (default ``/root/testdata/sf0.1``) on
``local[$SPARK_GRAFT_CPUS]`` and prints exactly ONE JSON line::

    {"metric": "suite_wall_sec", "value": N, "unit": "sec",
     "queries": {<top-25 slowest>: min_sec, ...},
     "families": {"tpch": sec, "events": sec, ...}, "sf": 0.1,
     "master": "local[4]", "default_parallelism": 4,
     "shuffle_partitions": 4}

STDOUT CONTRACT: the driver captures only the LAST 2000 characters of
stdout and parses the final line as JSON, so the printed line must
stay under 1900 chars (asserted in :func:`main`). ``queries`` on
stdout therefore carries only the top-25 slowest per-query mins;
the FULL per-query map, every rep observation, and the rotation
timings go to the ``BENCH_local.json`` sidecar next to this file.

Each query is forced end-to-end with a ``noop`` write (full plan
execution, no driver-side collect cost). Before timing, every query
runs once against the sf0.001 smoke data: that compiles the plan and
generates its codegen classes, so the timed sf0.1 run measures
steady-state execution (what a resident cluster job sees), not
one-time JIT/compile overhead.

Each headline query is timed ``$SPARK_GRAFT_BENCH_REPS`` times
(default 3) and reported as the MIN; the sidecar keeps every
observation. On a shared sandbox, single-rep walls swing with machine
noise far more than the effects being measured (observed up to 1.6x
on identical code/data); min-of-N is the standard noise floor
estimator for round-over-round regression detection.

ROTATION: beyond the fixed headline set, each run times a window of
``$SPARK_GRAFT_ROTATION_N`` (default 85) least-recently-benched
non-headline registered queries, single-rep, under a soft
``$SPARK_GRAFT_ROTATION_BUDGET_SEC`` (default 420) budget — the same
least-recently-verified discipline as the correctness gate's driver
window, so every registered query earns an sf0.1 timing within ~3
rounds. Rotation state (last-benched run index per query) persists in
the sidecar; rotation queries slower than 3 s are surfaced in the
sidecar's ``slow_rotation`` list as curvature-sweep candidates —
EXCEPT Structured Streaming queries, which pay a fixed micro-batch
startup tax (state-store init + availableNow drains) and land in
``slow_rotation_streaming`` as documented overhead, not plan defects.
Rotation timings are coverage probes (single rep, machine-noise
caveats apply), NOT regression tripwires — the headline mins are the
regression surface.

The sidecar also records MACHINE-STATE markers (loadavg, Spark JVM
count at session start and end) so a timing contaminated by
concurrent load is self-labeling, and carries the latest
``tools/ab_bench.py`` drift-attribution summary.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from isilon_hadoop_tools_spark import suite  # noqa: E402
from isilon_hadoop_tools_spark.session import (  # noqa: E402
    get_session,
    shuffle_partition_count,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARMUP_SF_DIR = os.environ.get("SPARK_GRAFT_WARMUP_SF_DIR", "/root/testdata/sf0.001")
BENCH_REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
ROTATION_N = int(os.environ.get("SPARK_GRAFT_ROTATION_N", "85"))
ROTATION_BUDGET_SEC = float(
    os.environ.get("SPARK_GRAFT_ROTATION_BUDGET_SEC", "420")
)
SIDECAR = Path(__file__).resolve().parent / "BENCH_local.json"
STDOUT_LINE_MAX = 1900  # driver parses only the last 2000 chars
TOP_N_STDOUT = 25
SLOW_ROTATION_SEC = 3.0  # curvature-sweep promotion threshold

# Structured Streaming suite queries pay a fixed micro-batch tax the
# batch queries don't: each runs 1+ readStream drains (state-store
# init, availableNow trigger rounds, foreachBatch job submission) on
# top of the operator's own work, so a >3 s wall at sf0.1 is startup
# overhead, not a plan defect — the per-row work in every one of them
# is the already-audited batch plan. They surface under
# ``slow_rotation_streaming`` (documented-exempt) instead of
# ``slow_rotation`` (curvature-sweep candidates). Identified by the
# "stream" substring plus the stateful/streaming queries whose names
# don't carry it.
_STREAMING_QUERY_EXTRA = frozenset(
    {"events_user_ema", "events_sessionized", "events_foreach_batch_state"}
)


def _is_streaming_query(name: str) -> bool:
    return "stream" in name or name in _STREAMING_QUERY_EXTRA

# Headline set: one per major subsystem (scan+agg, joins, windows,
# events, text, dedup family, similarity).
HEADLINE = (
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q7_nation_volume",
    "q8_market_share",
    "q18_large_volume_customers",
    "q21_waiting_suppliers",
    "top3_orders_per_customer",
    "customer_order_gaps",
    "events_hourly_rollup",
    "events_dedup_first",
    "events_asof_latest_order",
    "events_salted_type_counts",
    "doc_token_stats",
    "doc_winnow_fingerprints",
    "doc_repetition_stats",
    "doc_tfidf_topk",
    "doc_pack_chunks",
    "dedup_exact_docs",
    "dedup_ngram_jaccard",
    "dedup_minhash_signatures",
    "simhash_docs",
    "dedup_embedding_cosine",
    "ann_brute_force_cosine",
    "ann_ivf_probed",
    # round-6 additions: analytics / lakehouse / graph / audio families
    "events_sessions_batch",
    "events_cdc_apply",
    "events_multigrain_rollup",
    "customer_blocked_editdist",
    "lineitem_part_pairs",
    "nation_trade_pagerank",
    "multimodal_wav_features",
    # round-7 additions: close the r6 bench blind spots (PQ-ADC
    # search, entity resolution, SemDeDup, skew report, HLL merge)
    "ann_pq_adc",
    "customer_entity_resolution",
    "semantic_dedup_keep",
    "events_skew_report",
    "events_hll_merge_daily",
    # round-7 new operator families
    "customer_link_kcore",
    "dedup_lsh_recall",
    "multimodal_bmp_features",
    "events_type_mad_outliers",
    # round-9 additions: regression tripwires for the band-join,
    # sweep-line, wedge, and span-merge paths (r7 ask 8 / r8 ask 2)
    "multimodal_image_near_dups",
    "events_active_interval_union",
    "customer_link_triangles",
    "doc_dup_span_merged",
    # round-9 new operator families: compressed-image decode + hash +
    # band join end-to-end, the signature-collapsed LSH scale form,
    # and the RefinedWeb span cut. (The streaming index queries and
    # the brute-force recall evals are deliberately NOT benched: the
    # former measure state-store setup, the latter are O(n²) ground
    # truth by design — neither is a throughput path.)
    "multimodal_png_near_dups",
    "simhash_rep_pairs",
    "doc_dup_span_cut",
    # round-9 session additions: the IVF-PQ combined read path, LPA
    # label-join rounds, the BPE vocab-round loop, the 40-column
    # conditional-sum bootstrap agg, and GIF decode + mixed-container
    # band join. (events_cms_stream measures state-store setup and
    # the Good-Turing spectrum is a cheap scan — not benched.)
    "ann_ivf_pq",
    "customer_link_communities",
    "corpus_bpe_merges",
    "events_value_bootstrap_ci",
    "multimodal_mixed_near_dups",
    # the audio/video fingerprint chains (decode + integer filterbank
    # or temporal mosaic + band join), the Theil-Sen pair table, and
    # the BPE apply join — the remaining round-9 throughput paths
    "multimodal_audio_near_dups",
    "multimodal_video_near_dups",
    "events_theil_sen_trend",
    "corpus_bpe_tokenize",
    # round-10 additions: the prefix-filtered exact-Jaccard join (a
    # scale flagship, unbenched until now), the IVF-PQ + exact-rerank
    # read path, unigram-LM tokenizer EM training, and the unified
    # four-modality near-dup band join
    "doc_prefix_jaccard_pairs",
    "ann_ivf_pq_rerank",
    "corpus_unigram_lm",
    "multimodal_unified_near_dups",
    # round-10 second wave: the other two tokenizer-trio paths, the
    # governance/trend/attribution gates, hard-negative mining, and
    # the wedge-join node similarity — regression tripwires for the
    # new operator families. (events_psi_stream and
    # multimodal_unified_index_stream measure state-store setup, not
    # throughput — unbenched like the other streaming indexes.)
    "corpus_wordpiece_merges",
    "corpus_unigram_tokenize",
    "customer_l_diversity",
    "events_cusum_changepoint",
    "events_psi_drift",
    "events_last_touch_attribution",
    "customer_link_neighbor_jaccard",
    "embedding_hard_negatives",
    # round-11 additions: the trained curation filter (3 GD corpus
    # scans + the join-free scoring pass) and the exact KS drift gate
    "corpus_quality_classifier_train",
    "doc_quality_scores",
    "events_ks_drift",
    # byte-level BPE: the GPT-2-family trainer is a 5-round
    # vocabulary-table loop like char-BPE but over ~2x the symbols
    "corpus_byte_bpe_merges",
    # suffix-array exact substring dedup: fixed-gram prune + global
    # candidate ordering + adjacent-LCP — the heaviest new text path,
    # plus its find-then-cut completion (span build + membership join
    # + per-doc rebuild end-to-end)
    "doc_suffix_dup_spans",
    "doc_suffix_span_cut",
    # real baseline JPEG: encode + Huffman/DCT decode + mosaic hash +
    # band join end-to-end — the heaviest per-byte codec path
    "multimodal_jpeg_near_dups",
    # the capstone composition: classifier + rank cut + exact
    # substring cut + dedup, end-to-end
    "doc_curation_pipeline",
    # round-14 additions: the HTML extraction scan (regex + array
    # HOFs, the heaviest pure-projection path) and the web-curation
    # capstone fed raw HTML (extraction inline in the capstone scan).
    # (The snapshot queries measure parquet-write + driver metadata,
    # not throughput — unbenched like the other write-path queries.)
    "doc_html_extract",
    "doc_web_curation_from_html",
)


def _sf_from_dir(sf_dir: str) -> float:
    name = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return -1.0


def _family(name: str) -> str:
    """Coarse per-family bucket for the stdout subtotals."""
    if name.startswith("q") and name[1:2].isdigit():
        return "tpch"
    for prefix, fam in (
        ("events_", "events"),
        ("doc_", "docs"),
        ("corpus_", "corpus"),
        ("dedup_", "dedup"),
        ("simhash_", "dedup"),
        ("semantic_", "dedup"),
        ("ann_", "ann"),
        ("embedding_", "ann"),
        ("multimodal_", "multimodal"),
        ("customer_", "analytics"),
        ("lineitem_", "analytics"),
        ("orders_", "analytics"),
        ("nation", "analytics"),
    ):
        if name.startswith(prefix):
            return fam
    return "other"


def _load_curvature():
    """Latest per-operator curvature curves (tools/scale_probe.py
    --curvature merge-writes CURVATURE.json); None when no sweep has
    run on this checkout."""
    try:
        return json.loads(
            (Path(__file__).resolve().parent / "CURVATURE.json").read_text()
        )
    except (OSError, ValueError):
        return None


def _load_sidecar() -> dict:
    if SIDECAR.exists():
        try:
            return json.loads(SIDECAR.read_text())
        except (ValueError, OSError):
            return {}
    return {}


def _machine_state() -> dict:
    """Machine-state markers for round-over-round drift attribution:
    loadavg plus a count of Spark JVMs on the box (concurrent Spark
    corrupts timings — observed up to 1.6x on identical code/data).
    Recorded at session start AND end so a contaminated run is
    self-labeling: ``spark_jvms`` includes this run's own JVM once the
    session is up, so start expects 0, end expects 1, and anything
    higher means another Spark was live during the timed window."""
    try:
        la1, la5, la15 = os.getloadavg()
        load = [round(la1, 2), round(la5, 2), round(la15, 2)]
    except OSError:
        load = None
    jvms = 0
    try:
        for p in Path("/proc").iterdir():
            if not p.name.isdigit():
                continue
            try:
                cmd = (p / "cmdline").read_bytes().lower()
            except OSError:
                continue
            # match the JVM main class, not loose substrings — a shell
            # command that merely MENTIONS java+spark (e.g. a pgrep)
            # must not count as a running Spark JVM
            if b"org.apache.spark.deploy.sparksubmit" in cmd:
                jvms += 1
    except OSError:
        jvms = -1
    return {"loadavg": load, "spark_jvms": jvms, "cpus": os.cpu_count()}


def _rotation_window(registry: dict, prior: dict) -> list[str]:
    """The ``ROTATION_N`` least-recently-benched non-headline queries
    (never-benched first, then oldest run index, name tie-break) —
    the correctness gate's least-recently-verified ordering applied
    to timings."""
    history: dict[str, int] = prior.get("rotation_history", {})
    pool = sorted(n for n in registry if n not in HEADLINE)
    pool.sort(key=lambda n: (history.get(n, -1), n))
    return pool[: max(0, ROTATION_N)]


def run_query(fn, spark, sf_dir: str) -> float:
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def session_facts(spark) -> dict:
    """The session the timings ran on, stated on the stdout line and in
    the sidecar: a scaling result then explains itself (a session left
    at ``local[32]`` on a 4-core box times very differently)."""
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": shuffle_partition_count(spark),
    }


def warm_python_workers(spark) -> None:
    """Fill the Python-worker pool before any timed run: the
    smoke-scale warmup spawns only a few pandas_udf workers (few
    partitions), so the first sf0.1-sized Arrow stage would otherwise
    pay a process fork per core + numpy/pandas imports inside the
    timed window. A resident cluster job has a warm worker pool
    (spark.python.worker.reuse), so fork cost is one-time, not
    steady-state."""
    import pandas as _pd

    def _noop(batches):
        import numpy  # noqa: F401 — pre-import heavy deps in the worker

        for b in batches:
            yield _pd.DataFrame({"x": b["id"]})

    spark.range(0, 1024, 1, 64).mapInPandas(_noop, "x long").write.format(
        "noop"
    ).mode("overwrite").save()


def main() -> int:
    machine_start = _machine_state()
    spark = get_session("bench")
    session = session_facts(spark)
    registry = suite.queries()
    names = [n for n in HEADLINE if n in registry]

    # Warmup: run every query once at the smoke scale so plan compile
    # + whole-stage-codegen class generation happen before the clock.
    for name in names:
        run_query(registry[name], spark, WARMUP_SF_DIR)

    warm_python_workers(spark)

    # Min-of-N: rep r of every query runs before rep r+1 of any query,
    # so a transient machine-load spike hits at most one rep per query
    # instead of all reps of the unlucky queries.
    reps: dict[str, list[float]] = {name: [] for name in names}
    for _ in range(BENCH_REPS):
        for name in names:
            reps[name].append(round(run_query(registry[name], spark, SF_DIR), 3))

    timings = {name: min(times) for name, times in reps.items()}

    # Rotation window: single-rep coverage probes over the
    # least-recently-benched non-headline queries, soft time budget.
    prior = _load_sidecar()
    run_idx = int(prior.get("run_idx", -1)) + 1
    history: dict[str, int] = dict(prior.get("rotation_history", {}))
    rotation: dict[str, float] = {}
    rot_t0 = time.perf_counter()
    for name in _rotation_window(registry, prior):
        if time.perf_counter() - rot_t0 > ROTATION_BUDGET_SEC:
            break
        run_query(registry[name], spark, WARMUP_SF_DIR)  # plan warmup
        rotation[name] = round(run_query(registry[name], spark, SF_DIR), 3)
        history[name] = run_idx
    history = {n: r for n, r in history.items() if n in registry}
    slow = sorted(n for n, s in rotation.items() if s > SLOW_ROTATION_SEC)
    slow_rotation = [n for n in slow if not _is_streaming_query(n)]
    slow_rotation_streaming = [n for n in slow if _is_streaming_query(n)]

    sf = _sf_from_dir(SF_DIR)
    families: dict[str, float] = {}
    for name, sec in timings.items():
        fam = _family(name)
        families[fam] = round(families.get(fam, 0.0) + sec, 2)
    top = dict(
        sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_N_STDOUT]
    )
    top = {n: round(s, 2) for n, s in top.items()}

    # drift-attribution A/B (tools/ab_bench.py) summary, if one was
    # recorded on this machine — carried into every sidecar so the
    # round-over-round comparison has the attribution next to it
    ab_file = Path(__file__).resolve().parent / "AB_BENCH.json"
    ab_summary = None
    if ab_file.exists():
        try:
            ab = json.loads(ab_file.read_text())
            ab_summary = ab.get("summary")
        except (ValueError, OSError):
            ab_summary = None

    SIDECAR.write_text(
        json.dumps(
            {
                "metric": "suite_wall_sec",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "sf": sf,
                **session,
                "run_idx": run_idx,
                "queries": timings,
                "reps": reps,
                "rotation": rotation,
                "rotation_history": history,
                "slow_rotation": slow_rotation,
                "slow_rotation_streaming": slow_rotation_streaming,
                "n_registered": len(registry),
                "n_rotation_covered": len(history),
                "machine": {
                    "start": machine_start,
                    "end": _machine_state(),
                },
                "ab_note": ab_summary,
                "curvature": _load_curvature(),
            },
            indent=1,
            sort_keys=True,
        )
        + "\n"
    )

    line = json.dumps(
        {
            "metric": "suite_wall_sec",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "sf": sf,
            **session,
            "families": families,
            "queries": top,
            "n_queries": len(timings),
            "rotation_n": len(rotation),
            "rotation_sec": round(sum(rotation.values()), 2),
        }
    )
    # the driver captures/parses only the last 2000 stdout chars
    assert len(line) < STDOUT_LINE_MAX, (len(line), STDOUT_LINE_MAX)
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
