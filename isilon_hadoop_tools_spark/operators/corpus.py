"""Corpus-curation operators for the LLM-data-pipeline surface.

The three stages every training-data pipeline runs after raw ingest:
within-document repetition signals (the Gopher/MassiveText quality
filters), deterministic content-addressed train/val/test splitting,
and the filter→dedup curation funnel that reports per-stage survivor
counts. All pure DataFrame compositions with exact DuckDB oracle
twins (hashes via
:func:`~isilon_hadoop_tools_spark.functions.hashing.stable_hash32`).

Scale notes (100 TB): repetition stats shuffle n-gram rows keyed by
(doc, gram) then by doc — both partial-aggregated map-side, and no
key is hotter than the longest single document. The split assignment
is a stateless per-row expression (no shuffle, no rand(): adding new
documents never reassigns old ones). The funnel is one pass plus the
exact-dedup shuffle it already needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from isilon_hadoop_tools_spark.session import shuffle_partition_count

from isilon_hadoop_tools_spark.functions.hashing import (
    fingerprint64,
    stable_hash32,
)
from isilon_hadoop_tools_spark.functions.litmap import lit_long_map, lit_map
from isilon_hadoop_tools_spark.functions.text import tokens
from isilon_hadoop_tools_spark.sources.local import local_df


def repetition_stats(
    df: DataFrame, text_col: str, id_col: str, n: int = 2
) -> DataFrame:
    """Within-document repetition quality signals.

    Output per document: ``n_tokens``, ``unique_token_ratio``
    (distinct tokens / tokens), ``top_ngram_frac`` (share of all token
    n-grams taken by the single most frequent one), ``dup_ngram_frac``
    (share of n-gram occurrences that are repeats). High top/dup
    fractions flag boilerplate and degenerate repetition — the
    standard Gopher-style reasons to drop a document.

    Documents with fewer than ``n`` tokens have no n-grams; their
    fractions are 0.0 (left join + coalesce), not dropped rows.
    """
    # n-grams via posexplode + lead windows, not the array-HOF
    # transform + slice form: higher-order functions fall out of
    # whole-stage codegen and measure ~3x slower here
    pe = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, n)]
    grams = (
        pe.select(
            "id",
            F.concat_ws(" ", *parts).alias("gram"),
            parts[-1].alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .drop("_last")
    )
    per_gram = grams.groupBy("id", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = per_gram.groupBy("id").agg(
        F.sum("cnt").alias("n_grams"),
        F.max("cnt").alias("top_cnt"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias(
            "dup_cnt"
        ),
    )
    toks = tokens(text_col)
    base = df.select(
        F.col(id_col).alias("id"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )
    return base.join(per_doc, "id", "left").select(
        "id",
        "n_tokens",
        F.when(F.col("n_tokens") == 0, F.lit(0.0))
        .otherwise(F.round(F.col("n_distinct") / F.col("n_tokens"), 4))
        .alias("unique_token_ratio"),
        F.coalesce(
            F.round(F.col("top_cnt") / F.col("n_grams"), 4), F.lit(0.0)
        ).alias("top_ngram_frac"),
        F.coalesce(
            F.round(F.col("dup_cnt") / F.col("n_grams"), 4), F.lit(0.0)
        ).alias("dup_ngram_frac"),
    )


DEFAULT_SPLITS: tuple[tuple[str, int], ...] = (
    ("train", 80),
    ("val", 10),
    ("test", 10),
)


def hash_split(
    df: DataFrame,
    id_col: str,
    splits: tuple[tuple[str, int], ...] = DEFAULT_SPLITS,
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment, content-addressed.

    ``bucket = stable_hash32(salt || id) % 100`` maps each document to
    a fixed percentile; split boundaries are cumulative weights. No
    ``rand()``: the assignment is reproducible across runs, cluster
    sizes, and partitionings, and appending new documents never moves
    an existing document between splits (the property per-partition
    ``randomSplit`` cannot give). A different ``salt`` yields an
    independent re-split.

    Output: all input columns plus ``bucket`` and ``split``.
    """
    total = sum(w for _, w in splits)
    if total != 100:
        raise ValueError(f"split weights must sum to 100, got {total}")
    bucket = F.pmod(
        stable_hash32(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))),
        F.lit(100),
    )
    out = df.withColumn("bucket", bucket)
    expr = F.lit(splits[-1][0])
    hi = 0
    cases = []
    for name, w in splits[:-1]:
        hi += w
        cases.append((name, hi))
    for name, hi in reversed(cases):
        expr = F.when(F.col("bucket") < hi, F.lit(name)).otherwise(expr)
    return out.withColumn("split", expr)


def stratified_sample_exact(
    df: DataFrame,
    stratum_col: str,
    id_col: str,
    n_per_stratum: int,
    salt: str = "sample",
) -> DataFrame:
    """Deterministic per-stratum contribution cap.

    Rank documents within each stratum by content-addressed hash (ties
    broken by id) and keep the first ``n_per_stratum`` — the standard
    "no source may contribute more than N docs" cap, reproducible
    across runs and partitionings because the order is a hash, not
    ``rand()``.

    One shuffle keyed by the stratum; each window is bounded by the
    hottest stratum's size. At 100 TB with a pathological stratum,
    pre-filter with an approximate per-stratum count and a hash-range
    predicate before ranking (the rank is over a hash, so the cut
    ``hash < threshold`` keeps a uniform sample of the stratum).

    Output: input columns plus ``sample_rank``.
    """
    order = stable_hash32(
        F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(stratum_col).orderBy(order, F.col(id_col))
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= n_per_stratum)
    )


def pack_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    token_budget: int,
    salt: str = "pack",
) -> DataFrame:
    """Concat-then-split sequence packing: assign each document to a
    fixed-token-budget chunk within its group.

    The standard LLM pretraining step — concatenate documents in a
    deterministic (hash) order and split the stream every
    ``token_budget`` tokens — expressed declaratively: ``tok_offset`` =
    running token total before the document (an exclusive-prefix-sum
    window), ``chunk_id = floor(tok_offset / token_budget)``. A document
    whose tokens straddle a boundary belongs to the chunk where it
    starts, exactly like the concatenated-stream split.

    One shuffle keyed by ``group_col`` (shard or source); the window
    is a single ordered pass per group.

    Output: ``id``, group, ``n_tokens``, ``tok_offset``, ``chunk_id``.
    """
    sized = df.select(
        F.col(id_col).alias("id"),
        F.col(group_col),
        F.size(tokens(text_col)).alias("n_tokens"),
    )
    order = stable_hash32(F.concat(F.lit(f"{salt}:"), F.col("id").cast("string")))
    w = (
        Window.partitionBy(group_col)
        .orderBy(order, F.col("id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return sized.withColumn(
        "tok_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).withColumn("chunk_id", F.floor(F.col("tok_offset") / token_budget))


def tfidf_topk(
    df: DataFrame, text_col: str, id_col: str, k: int = 5
) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf.

    ``score = tf * ln((N+1)/(df+1))`` rounded to 6 places *before*
    ranking, so the rank is deterministic cross-engine (ties break by
    term). Document frequencies and the corpus count are
    dimension-sized aggregates broadcast back onto the (doc, term)
    fact — no second fact shuffle; the per-doc top-k is one ranking
    window keyed by the doc.

    Output: ``id``, ``term``, ``tf``, ``tfidf``, ``rk`` (1-based).
    """
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term")
    )
    # materialized once: both the document-frequency aggregate and the
    # scoring join consume tf; recomputing it costs a second corpus
    # explode + shuffle
    tf = (
        toks.groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    total = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                6,
            ),
        )
    )
    w = Window.partitionBy("id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("id", "term", "tf", "tfidf", "rk")
    )


# Default PII patterns — identical Java-regex / RE2 subset so the
# DuckDB oracle can run the same expressions verbatim.
PII_PATTERNS: dict[str, str] = {
    "EMAIL": r"[a-z0-9._]+@[a-z0-9-]+\.[a-z]{2,}",
    "IPV4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "PHONE": r"\+\d{1,2}-\d{3}-\d{4}",
}


def redact_pii(
    df: DataFrame,
    text_col: str,
    id_col: str,
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """Redact PII spans and count replacements per class.

    Each pattern class is replaced by its ``<TAG>`` placeholder, applied
    in sorted tag order so the output is deterministic regardless of
    dict ordering. Output per document: ``redacted`` text plus one
    ``n_<tag>`` count column per class (match counts from the
    *pre-redaction* text, so overlapping classes don't mask each
    other's counts).

    Scale: a stateless per-row projection — no shuffle, no UDF; the
    regex engine runs inside whole-stage codegen. At 100 TB this is
    scan-bound, exactly what a redaction pass should be.
    """
    pats = dict(PII_PATTERNS if patterns is None else patterns)
    tags = sorted(pats)
    red = F.col(text_col)
    counts = [
        F.regexp_count(F.col(text_col), F.lit(pats[t])).alias(f"n_{t.lower()}")
        for t in tags
    ]
    for t in tags:
        red = F.regexp_replace(red, pats[t], f"<{t}>")
    return df.select(F.col(id_col), red.alias("redacted"), *counts)


def decontaminate(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_eval,
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: flag training docs that share any
    token ``n``-gram with an evaluation set.

    ``is_eval`` is a boolean Column over the posting-list ``id``
    column (e.g. ``F.col("id") % 97 == 0``) selecting the held-out
    benchmark rows inside ``df``. Output: one row per *contaminated* training
    doc — ``(doc_id, n_shared_grams)`` where ``n_shared_grams`` counts
    distinct n-grams also present anywhere in the eval set. Real
    pipelines use n=8..13; the default 3 suits short synthetic docs.

    Scale: the eval side of the join is a benchmark suite — thousands
    of docs against a 100 TB corpus — so its distinct-gram set
    broadcasts and the corpus streams through map-side with no
    shuffle on the fact; the only exchange is the per-doc count
    aggregation of the (rare) matches.
    """
    from isilon_hadoop_tools_spark.operators.dedup import shingle_posting_list

    posts = shingle_posting_list(df, text_col, id_col, k=n, max_df=None)
    eval_grams = posts.filter(is_eval).select("shingle").distinct()
    return (
        posts.filter(~is_eval)
        .join(F.broadcast(eval_grams), "shingle")
        .groupBy(F.col("id").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def decontaminate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_eval,
    n: int = 3,
) -> DataFrame:
    """Position-level n-gram decontamination REPORT — the
    :func:`decontaminate` doc flag upgraded to WHERE: for every
    training doc sharing a token ``n``-gram with the eval slice, the
    maximal merged token spans covered by eval-shared grams. The
    evidence a curation run needs to CUT or inspect the contaminated
    region (the RefinedWeb/GPT-3-appendix reporting style) instead of
    dropping whole documents.

    ``is_eval`` is a boolean Column over the gram table's ``id``
    column, as in :func:`decontaminate`.

    Scale: the eval side's distinct grams broadcast (a benchmark
    suite is tiny next to a 100 TB corpus) so the training corpus
    streams map-side; hit windows ``[pos, pos + n)`` island-merge per
    document with the :func:`dup_span_merge` running-max sweep on one
    per-doc partitioning.

    Output: ``id``, ``start_tok``, ``end_tok`` (exclusive),
    ``span_len``, ``n_grams`` (hits merged into the span).
    """
    pe = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, n)]
    grams = (
        pe.select(
            "id",
            "pos",
            F.concat_ws(" ", *parts).alias("gram"),
            parts[-1].alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .drop("_last")
        .localCheckpoint(eager=False)
    )
    eval_grams = grams.filter(is_eval).select("gram").distinct()
    hits = (
        grams.filter(~is_eval)
        .join(F.broadcast(eval_grams), "gram")
        .select(
            "id",
            F.col("pos").cast("long").alias("_s"),
            (F.col("pos") + n).cast("long").alias("_e"),
        )
    )
    wi = Window.partitionBy("id").orderBy("_s", "_e")
    prev_max = F.max("_e").over(wi.rowsBetween(Window.unboundedPreceding, -1))
    flagged = hits.withColumn(
        "_new",
        F.when(prev_max.isNull() | (F.col("_s") > prev_max), 1).otherwise(0),
    ).withColumn(
        "_island",
        F.sum("_new").over(wi.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy("id", "_island")
        .agg(
            F.min("_s").alias("start_tok"),
            F.max("_e").alias("end_tok"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select(
            "id",
            "start_tok",
            "end_tok",
            (F.col("end_tok") - F.col("start_tok")).alias("span_len"),
            "n_grams",
        )
    )


def decontaminate_cut(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_eval,
    n: int = 3,
) -> DataFrame:
    """Contamination SURGERY — the RefinedWeb remove step applied to
    :func:`decontaminate_spans`' report: cut the eval-overlapping
    spans out of the TRAINING documents instead of dropping whole
    docs (the standard trade when a long document shares one quoted
    benchmark sentence). Eval rows are excluded from the output —
    they are the benchmark, not training data.

    ``is_eval`` is a boolean Column over the normalized ``id`` column
    (as in :func:`decontaminate`). Output and accounting contract
    identical to :func:`dup_span_cut`: ``id``, ``n_tokens``,
    ``n_removed``, ``clean_text`` with ``n_removed +
    tokens(clean_text) == n_tokens``; spans are disjoint (island-
    merged) so the membership join matches each token at most once.
    """
    spans = decontaminate_spans(df, text_col, id_col, is_eval, n).select(
        "id", "start_tok", "end_tok"
    )
    d = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    )
    return _cut_by_spans(d.filter(~is_eval), spans, "text", "id")


def curation_funnel(
    df: DataFrame,
    text_col: str,
    id_col: str,
    keep_langs: tuple[str, ...],
    max_top_ngram_frac: float = 0.2,
) -> DataFrame:
    """Filter → dedup funnel with per-stage survivor counts.

    Stages: ``raw`` (all documents) → ``lang`` (heuristic language ID
    in ``keep_langs``) → ``quality`` (top-bigram fraction below the
    repetition ceiling) → ``dedup`` (one survivor per exact text
    fingerprint). Output: ``(stage_no, stage, n_docs)`` — the shape a
    curation dashboard ingests, and the composition proof that the
    lang-ID, repetition, and dedup operators stack.

    One funnel = one pass over the corpus for the three filters plus
    the fingerprint aggregation's shuffle. The staged frame is
    materialized once (lazy ``localCheckpoint``): the four stage
    counts are separate aggregation branches, and without the
    materialization each branch re-runs the lang-ID + repetition
    join from the scan (measured: 51 scan nodes in the un-checkpointed
    plan — at 100 TB that is four full corpus passes).
    """
    from isilon_hadoop_tools_spark.functions.text import lang_id

    ids = df.select(
        F.col(id_col).alias("id"),
        lang_id(text_col).alias("_lang"),
        F.col(text_col).alias("_text"),
    )
    reps = repetition_stats(df, text_col, id_col).select("id", "top_ngram_frac")
    staged = ids.join(reps, "id").localCheckpoint(eager=False)
    lang_ok = staged.filter(F.col("_lang").isin(*keep_langs))
    quality_ok = lang_ok.filter(F.col("top_ngram_frac") <= max_top_ngram_frac)
    from isilon_hadoop_tools_spark.operators.dedup import exact_dedup

    deduped = exact_dedup(quality_ok, "_text", "id")

    def count_row(no: int, stage: str, d: DataFrame) -> DataFrame:
        return d.agg(
            F.lit(no).alias("stage_no"),
            F.lit(stage).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
        )

    return (
        count_row(1, "raw", staged)
        .unionByName(count_row(2, "lang", lang_ok))
        .unionByName(count_row(3, "quality", quality_ok))
        .unionByName(count_row(4, "dedup", deduped))
    )


def truncate_tokens(
    df: DataFrame, text_col: str, id_col: str, max_tokens: int = 32
) -> DataFrame:
    """Context-length truncation: keep the first ``max_tokens``
    whitespace tokens, rejoined with single spaces. Output: id,
    ``n_tokens`` (pre-truncation), ``truncated``, ``was_truncated``.

    Stateless per-row projection (slice + concat_ws) — no shuffle,
    scan-bound at 100 TB, exactly what a context-window clipping
    pass should be.
    """
    toks = tokens(text_col)
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.concat_ws(" ", F.slice(toks, 1, max_tokens)).alias("truncated"),
        (F.size(toks) > max_tokens).alias("was_truncated"),
    )


def dup_spans(
    df: DataFrame, text_col: str, id_col: str, n: int = 10
) -> DataFrame:
    """Cross-document duplicated token-span detection — the
    substring-level dedup signal (RefinedWeb / "exact substring
    deduplication"): any token ``n``-gram that occurs in more than one
    document marks a duplicated span in every document containing it.

    Output: ``id``, ``pos`` (0-based token start), ``gram_hash`` — one
    row per duplicated span occurrence.

    Shape: n-grams via posexplode + ``lead`` windows (codegen'd; the
    array-HOF shingle form is ~3x slower), then one aggregation keyed
    by gram hash to find multi-document grams, then a semi-ish join
    back. At 100 TB both shuffles are partial-aggregated map-side and
    keyed by a 60-bit fingerprint — a 32-bit key birthday-collides at
    ~50% by ~77k distinct grams and would falsely mark unrelated
    spans as duplicates; at 60 bits the 50% point is ~1.3e9 grams and
    the per-corpus false-pair expectation stays <<1 even at 100 TB.
    No key is hotter than the most-duplicated boilerplate span, which
    is exactly the data a dedup pass must move. Returning (id, pos)
    spans rather than rewritten text keeps the operator composable:
    the caller decides cut vs drop.
    """
    pe = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, n)]
    hashed = (
        pe.select(
            "id",
            "pos",
            F.concat_ws(" ", *parts).alias("gram"),
            parts[-1].alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .select("id", "pos", fingerprint64("gram").alias("gram_hash"))
        # materialized once: both the multi-doc aggregate and the
        # span join-back consume the hashed grams; without it the
        # window + per-gram hashing runs twice over the corpus
        .localCheckpoint(eager=False)
    )
    multi = (
        hashed.groupBy("gram_hash")
        .agg(F.count_distinct("id").alias("_nd"))
        .filter(F.col("_nd") > 1)
        .select("gram_hash")
    )
    return hashed.join(multi, "gram_hash").select("id", "pos", "gram_hash")


def dup_span_merge(
    df: DataFrame, text_col: str, id_col: str, n: int = 10
) -> DataFrame:
    """Maximal duplicated-span merge: collapse :func:`dup_spans`'s
    per-gram hits into per-document MAXIMAL token spans — the form a
    cut-or-drop pass actually consumes (RefinedWeb cuts whole
    duplicated regions, not individual overlapping n-grams).

    A hit at token ``pos`` covers ``[pos, pos + n)``; overlapping or
    touching hit intervals merge into islands via the same
    running-max sweep as ``interval_union_length``
    (`operators/analytics.py`): a hit opens a new island iff its
    start exceeds the running max end of all earlier hits in the
    document. Island boundaries are maximal by construction —
    consecutive islands are separated by >= 1 never-duplicated token.

    Output: ``id``, ``start_tok``, ``end_tok`` (exclusive),
    ``span_len``, ``n_grams`` (merged hits) — one row per maximal
    span. Everything after the hit table runs on ONE per-document
    partitioning (two windows + one groupBy, no extra exchange);
    within a document each pos occurs once, so the sweep order is
    total and deterministic.
    """
    hits = dup_spans(df, text_col, id_col, n)
    iv = hits.select(
        "id",
        F.col("pos").cast("long").alias("_s"),
        (F.col("pos") + n).cast("long").alias("_e"),
    )
    w = Window.partitionBy("id").orderBy("_s", "_e")
    prev_max = F.max("_e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "_new",
        F.when(prev_max.isNull() | (F.col("_s") > prev_max), 1).otherwise(0),
    ).withColumn(
        "_island",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy("id", "_island")
        .agg(
            F.min("_s").alias("start_tok"),
            F.max("_e").alias("end_tok"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select(
            "id",
            "start_tok",
            "end_tok",
            (F.col("end_tok") - F.col("start_tok")).alias("span_len"),
            "n_grams",
        )
    )


def dup_span_cut(
    df: DataFrame, text_col: str, id_col: str, n: int = 10
) -> DataFrame:
    """The RefinedWeb REMOVE step — consume :func:`dup_span_merge`'s
    maximal spans and emit the cleaned corpus: tokens outside every
    duplicated span, rejoined in order, plus per-document removal
    accounting. ``n_removed + len(tokens(clean_text)) == n_tokens``
    by construction (property-tested).

    Output: ``id``, ``n_tokens`` (original), ``n_removed``,
    ``clean_text``. Documents with no duplicated span pass through
    whole; a document that is one giant duplicated region comes back
    with ``clean_text = ''``.

    Shape: the token explode and the span table share the
    per-document hash partitioning, so the membership join (equi on
    id + range on pos — spans are disjoint, at most one match per
    token) and the rebuild aggregation add no extra exchange beyond
    the span build itself; the collect_list is per-document bounded.
    """
    spans = dup_span_merge(df, text_col, id_col, n).select(
        "id", "start_tok", "end_tok"
    )
    return _cut_by_spans(df, spans, text_col, id_col)


def _cut_by_spans(
    df: DataFrame, spans: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """The cut machinery shared by :func:`dup_span_cut` (fixed-gram
    spans) and :func:`suffix_span_cut` (exact maximal spans):
    ``spans`` carries disjoint per-document ``(id, start_tok,
    end_tok)`` intervals; tokens inside any interval are removed and
    the survivors rejoin in order, with exact accounting
    (``n_removed + tokens(clean_text) == n_tokens``)."""
    toks = df.select(
        F.col(id_col).alias("id"), F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    marked = (
        toks.alias("t")
        .join(
            spans.alias("s"),
            (F.col("t.id") == F.col("s.id"))
            & (F.col("t.pos") >= F.col("s.start_tok"))
            & (F.col("t.pos") < F.col("s.end_tok")),
            "left",
        )
        .select(
            F.col("t.id").alias("id"),
            "pos",
            "tok",
            F.col("s.start_tok").isNotNull().alias("_removed"),
        )
    )
    rebuilt = marked.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.col("_removed").cast("long")).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("_removed"), F.struct("pos", "tok"))
                    )
                ),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
    )
    # empty-text documents produce no token rows — keep them in the
    # output with zero counts rather than dropping them
    return (
        df.select(F.col(id_col).alias("id"))
        .join(rebuilt, "id", "left")
        .select(
            "id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def chunk_overlap(
    df: DataFrame, text_col: str, id_col: str, size: int = 64, stride: int = 48
) -> DataFrame:
    """Sliding-window token chunking with overlap — the RAG /
    context-packing precursor: chunk starts at 0, stride, 2·stride, …
    while < n_tokens; each chunk holds the next ``size`` tokens
    (truncated at the end of the document), so every token is covered
    and consecutive chunks overlap by ``size - stride``.

    Output: ``id``, ``chunk_idx``, ``start_tok``, ``n_tokens``,
    ``chunk_hash`` (hash of the space-joined chunk text — lets a
    downstream exact-dedup pass run on chunks without re-tokenizing).

    Stateless per-row explode — no shuffle; at 100 TB this is
    scan-bound with output ~n/stride rows per document.
    """
    toks = tokens(text_col)
    with_toks = df.select(
        F.col(id_col).alias("id"), toks.alias("tk"), F.size(toks).alias("n")
    ).filter(F.col("n") > 0)
    starts = F.sequence(F.lit(0), F.col("n") - 1, F.lit(stride))
    exploded = with_toks.select(
        "id", "tk", "n", F.explode(starts).alias("start_tok")
    )
    chunk = F.slice(F.col("tk"), F.col("start_tok") + 1, size)
    return exploded.select(
        "id",
        (F.col("start_tok") / stride).cast("int").alias("chunk_idx"),
        "start_tok",
        F.least(F.lit(size), F.col("n") - F.col("start_tok")).alias("n_tokens"),
        stable_hash32(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


def char_entropy(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Character-distribution entropy per document (bits/char, rounded
    to 6): near-zero entropy flags degenerate/repetitive text, very
    high entropy flags binary-ish noise — a standard cheap quality
    gate next to the token-level Gopher signals.

    Computed as ``log2(n) - (Σ c·log2(c)) / n`` over per-character
    counts ``c`` — the algebraically equal form whose terms are exact
    per character class, so cross-engine float drift is confined to
    one final division+subtraction.

    Entropy is per-document *stateless*, so this runs as a zero-shuffle
    Arrow kernel (``mapInPandas`` + ``numpy.unique`` counts per row):
    the exploded-chars + double-groupBy form shuffles ~len(text) rows
    per document twice — at 100 TB that exchange is the whole job,
    while this form is scan-bound (the winnowing precedent: per-row
    string kernels are the pandas-UDF carve-out).
    """

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            ns = np.empty(len(pdf), dtype=np.int64)
            ents = np.empty(len(pdf), dtype=np.float64)
            for r, text in enumerate(pdf[text_col]):
                counts = np.unique(list(text), return_counts=True)[1]
                n = counts.sum()
                ns[r] = n
                ents[r] = round(
                    float(np.log2(n) - (counts * np.log2(counts)).sum() / n), 6
                )
            yield pd.DataFrame({"id": ids, "n_chars": ns, "entropy_bits": ents})

    return df.filter(F.length(text_col) > 0).select(
        F.col(id_col).cast("long").alias(id_col), text_col
    ).mapInPandas(gen, "id long, n_chars long, entropy_bits double")


def vocab_topk(df: DataFrame, text_col: str, id_col: str, k: int = 1000) -> DataFrame:
    """Corpus vocabulary build — the tokenizer-training precursor:
    per-term total frequency, document frequency, and frequency rank
    (ties broken by term), truncated to the top ``k``.

    Output: ``term``, ``tf_total``, ``df``, ``rank``.

    Shape: one (doc, term) partial-agg shuffle then a term-keyed agg;
    the final rank is a single un-partitioned window over the *term*
    table — vocabulary-sized (bounded by k after truncation), not
    corpus-sized, so the single-partition ranking is safe at any
    corpus scale.
    """
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term")
    )
    per_doc = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    stats = per_doc.groupBy("term").agg(
        F.sum("tf").alias("tf_total"), F.count(F.lit(1)).alias("df")
    )
    w = Window.orderBy(F.col("tf_total").desc(), F.col("term"))
    return (
        stats.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("term", "tf_total", "df", "rank")
    )


def unigram_surprisal(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document mean unigram surprisal — the corpus-frequency
    perplexity proxy used as a quality score (a document of rare /
    out-of-distribution tokens scores high, templated boilerplate
    scores low): ``mean(-log2((tf_total + 1) / (T + V)))`` over the
    document's tokens, with add-one smoothing over vocabulary size V
    and corpus token count T.

    Output: ``id``, ``n_tokens``, ``surprisal_bits`` (rounded to 6).

    Shape: corpus token stats are one aggregation whose result is
    vocabulary-sized; they broadcast back onto the (doc, term) fact
    (the tf-idf pattern), so the corpus streams through exactly one
    keyed shuffle. The per-token term is pre-rounded to 9 decimals so
    the per-doc mean hash-matches cross-engine.
    """
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term")
    )
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("tf_total"))
    totals = freq.agg(
        F.sum("tf_total").alias("t_tokens"), F.count(F.lit(1)).alias("v_terms")
    )
    surprisal = F.round(
        -F.log2(
            (F.col("tf_total") + 1.0) / (F.col("t_tokens") + F.col("v_terms"))
        ),
        9,
    )
    return (
        toks.join(F.broadcast(freq), "term")
        .crossJoin(F.broadcast(totals))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(surprisal), 6).alias("surprisal_bits"),
        )
    )


def decontaminate_bloom(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_eval,
    n: int = 3,
    m_bits: int = 4096,
    k_hashes: int = 3,
    seed_base: int = 211,
) -> DataFrame:
    """:func:`decontaminate` with a Bloom-filter prefilter — the shape
    the broadcast join takes at real scale.

    The eval side's distinct grams are folded into an ``m_bits``-wide
    Bloom bitmap on the driver (bounded by ``m_bits``, never by data
    size) and embedded as a literal long-array: the 100 TB corpus then
    streams through a *pure projection* that tests ``k_hashes``
    md5-derived bit positions per gram — no join at all for the
    overwhelming majority of grams that miss. Only the (rare) Bloom
    hits meet the exact eval-gram set for verification, so the final
    output is exactly :func:`decontaminate`'s (false positives are
    verified away) and shares its oracle.
    """
    from isilon_hadoop_tools_spark.operators.dedup import shingle_posting_list

    posts = shingle_posting_list(df, text_col, id_col, k=n, max_df=None)
    eval_grams = posts.filter(is_eval).select("shingle").distinct()

    def bit_positions(col):
        return [
            F.pmod(stable_hash32(col, seed_base + j), F.lit(m_bits))
            for j in range(k_hashes)
        ]

    set_bits = {
        r["bit"]
        for r in eval_grams.select(
            F.explode(F.array(*bit_positions(F.col("shingle")))).alias("bit")
        )
        .distinct()
        .collect()
    }
    # the bitmap as ONE parsed literal array (the hyperplane-literal
    # precedent: element-wise F.lit assembly costs m driver->JVM
    # round-trips, a single parsed string costs one)
    bitmap = F.expr(
        "array("
        + ",".join("true" if b in set_bits else "false" for b in range(m_bits))
        + ")"
    )
    cond = None
    for bit in bit_positions(F.col("shingle")):
        t = F.get(bitmap, bit.cast("int"))
        cond = t if cond is None else (cond & t)
    candidates = posts.filter(~is_eval).filter(cond)
    return (
        candidates.join(F.broadcast(eval_grams), "shingle")
        .groupBy(F.col("id").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col,
    n: int,
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis): each row draws the content-addressed
    uniform ``u = (stable_hash32(salt:id) + 1) / 2^32`` and keys on
    ``u^(1/w)``; the top-``n`` keys are a weight-proportional sample —
    the quality-weighted corpus mixing draw, reproducible across runs
    and partitionings (no ``rand()``).

    The key is rounded to 9 decimals before ranking (cross-engine
    ``pow`` is last-ulp engine-dependent), ties break by id. The
    top-n runs as ``orderBy().limit()`` — Spark's distributed
    TakeOrderedAndProject, per-partition heaps then one n-row merge —
    never a corpus-wide ranking window. Output: ``id``, ``weight``,
    ``sample_key``, ``sample_rank``.
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    u = (
        stable_hash32(
            F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))
        )
        + 1
    ) / F.lit(float(1 << 32))
    key = F.when(w > 0, F.round(F.pow(u, 1.0 / w), 9)).otherwise(F.lit(0.0))
    top = (
        df.select(
            F.col(id_col).alias("id"),
            w.cast("double").alias("weight"),
            key.alias("sample_key"),
        )
        .orderBy(F.col("sample_key").desc(), "id")
        .limit(n)
    )
    rank_w = Window.orderBy(F.col("sample_key").desc(), "id")
    return top.withColumn("sample_rank", F.row_number().over(rank_w))


def mixture_plan(
    df: DataFrame, text_col: str, source_col: str
) -> DataFrame:
    """Domain-mixture sampling plan: the per-source rates that
    rebalance the corpus to equal token share per source without
    upsampling — the "data mixing" step before weighted draws.

    With S sources and per-source token counts t_s, the binding
    source is the smallest t_s; every source samples down to it:
    ``rate_s = min(t_s) / t_s``. Output per source: ``n_docs``,
    ``n_tokens``, ``target_w`` (= 1/S), ``rate``, ``expected_tokens``
    (all rounded for cross-engine stability).

    One partial-aggregated shuffle keyed by source; the plan table is
    source-count-sized, so the min/total fold is a broadcasted
    one-row aggregate, never a second corpus pass.
    """
    sized = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens(text_col))).alias("n_tokens"),
    )
    totals = sized.agg(
        F.count(F.lit(1)).alias("_s"), F.min("n_tokens").alias("_tmin")
    )
    return (
        sized.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(1.0 / F.col("_s"), 6).alias("target_w"),
            F.round(F.col("_tmin") / F.col("n_tokens"), 6).alias("rate"),
            F.round(F.col("_tmin") / F.col("n_tokens") * F.col("n_tokens"))
            .cast("long")
            .alias("expected_tokens"),
        )
    )


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document to a fixed term query, top-k —
    the IR scorer behind query-targeted corpus filtering (pull the
    documents most relevant to a domain probe before expensive
    curation), one notch past tf-idf (`tfidf_topk`) via saturation
    (k1) and length normalization (b).

    score(d) = sum over query terms t of
        idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl)),
    idf(t) = ln((N - df + 0.5)/(df + 0.5) + 1)   (the Lucene form).

    Output: ``id``, ``dl``, ``bm25`` (rounded, ties broken by id).

    Shape: one (doc, term) partial-agg shuffle for tf; doc lengths
    aggregate from the same token stream; the query-term slice of tf
    is then tiny (|terms| x docs-containing-them), and N/avgdl/df ride
    along as broadcast scalars. Top-k is a TakeOrderedAndProject. The
    corpus-wide window trap (ranking every doc) is avoided — only the
    k survivors leave the executors.
    """
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term")
    )
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("id").agg(F.count(F.lit(1)).alias("dl"))
    corpus = df.agg(F.count(F.lit(1)).alias("n_docs"))
    avgdl = dl.agg(F.avg("dl").alias("avgdl"))
    qtf = tf.filter(F.col("term").isin(query_terms))
    dfreq = qtf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        qtf.join(dl, "id")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(corpus))
        .crossJoin(F.broadcast(avgdl))
        .withColumn(
            "_idf",
            F.log(
                (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
                + 1.0
            ),
        )
        .withColumn(
            "_s",
            F.col("_idf")
            * (F.col("tf") * (k1 + 1.0))
            / (
                F.col("tf")
                + k1
                * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    agg = scored.groupBy("id").agg(
        F.max("dl").alias("dl"),
        F.round(F.sum("_s"), 6).alias("bm25"),
    )
    return agg.orderBy(F.desc("bm25"), F.asc("id")).limit(k)


def normalize_text(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Canonical text normalization pre-pass for dedup/token stats:
    lowercase → strip non-alphanumerics (to spaces) → collapse runs of
    whitespace → trim. Exact dedup over ``norm_text`` then collapses
    case/punctuation/spacing variants that byte-level fingerprints
    treat as distinct documents.

    Stateless scan-bound projection (zero shuffles); both engines run
    the identical regex chain, so the output is oracle-exact. Output:
    ``id``, ``norm_text``, ``n_chars_raw``, ``n_chars_norm``.
    """
    lowered = F.lower(F.col(text_col))
    stripped = F.regexp_replace(lowered, "[^a-z0-9 ]", " ")
    collapsed = F.trim(F.regexp_replace(stripped, " +", " "))
    return df.select(
        F.col(id_col).alias("id"),
        collapsed.alias("norm_text"),
        F.length(F.col(text_col)).cast("long").alias("n_chars_raw"),
        F.length(collapsed).cast("long").alias("n_chars_norm"),
    )


def temperature_mixture_plan(
    df: DataFrame, text_col: str, source_col: str, alpha: float = 0.3
) -> DataFrame:
    """Temperature-scaled domain mixture (the mT5/XLM-R multilingual
    recipe): sampling probability per source ∝ (token share)^alpha —
    ``alpha`` < 1 flattens the distribution, upweighting low-resource
    sources without collapsing to the uniform mix that equal-share
    rebalancing (:func:`mixture_plan`) enforces; alpha = 1 reproduces
    the raw corpus mix, alpha = 0 the uniform one.

    Output per source: ``n_docs``, ``n_tokens``, ``p_raw`` (raw token
    share), ``p_alpha`` (temperature-scaled probability), ``boost``
    (p_alpha/p_raw — > 1 means the source is upweighted). Everything
    rounded to 6 dp for cross-engine stability.

    Same scale shape as the equal-share plan: one partial-aggregated
    shuffle keyed by source; the normalization fold runs on the
    source-count-sized table, broadcast back — never a second corpus
    pass.
    """
    sized = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens(text_col))).alias("n_tokens"),
    )
    powed = sized.withColumn(
        "_pw", F.pow(F.col("n_tokens").cast("double"), F.lit(float(alpha)))
    )
    totals = powed.agg(
        F.sum("n_tokens").alias("_tt"), F.sum("_pw").alias("_pt")
    )
    return (
        powed.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("_tt"), 6).alias("p_raw"),
            F.round(F.col("_pw") / F.col("_pt"), 6).alias("p_alpha"),
            F.round(
                (F.col("_pw") / F.col("_pt"))
                / (F.col("n_tokens") / F.col("_tt")),
                6,
            ).alias("boost"),
        )
    )


def dsir_importance(
    df: DataFrame,
    text_col: str,
    id_col: str,
    target: Column,
    k: int = 100,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.,
    NeurIPS'23) with unigram bag-of-words models: score every raw
    document by the log-likelihood RATIO between a target-domain
    unigram LM and the background (whole-corpus) unigram LM, then
    keep the top-``k`` — the standard trick for skimming
    in-domain-looking data off a huge crawl.

    ``target`` is a boolean Column marking the in-domain example set
    (e.g. ``F.col("lang") == "zh"``). Both LMs use add-one smoothing
    over the SAME whole-corpus vocabulary ``V``, so out-of-target
    tokens get a finite penalty instead of -inf:
    ``score(d) = mean_w [ log2((ct(w)+1)/(Nt+V))
    - log2((cb(w)+1)/(Nb+V)) ]``.

    Output: ``id``, ``n_tokens``, ``logratio_bits``, ``rank`` —
    the ``k`` highest-ratio docs (ties on the 6-decimal score break
    to the lower id, so the cut is engine-independent).

    Shape: both LMs are ONE (term) aggregation over the exploded
    corpus (the target counts ride the same shuffle as a conditional
    sum — no second pass over the data); the vocab-sized ratio table
    broadcasts back onto the (doc, term) fact like tf-idf; the top-k
    is TakeOrderedAndProject (per-partition heaps, never a global
    sort). The per-token ratio is pre-rounded to 9 decimals and the
    doc mean to 6, the cross-engine float recipe every LM-score op
    here uses.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        target.cast("int").alias("is_target"),
        F.explode(tokens(text_col)).alias("term"),
    )
    freq = toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("cb"),
        F.sum("is_target").alias("ct"),
    )
    totals = freq.agg(
        F.sum("cb").alias("nb"),
        F.sum("ct").alias("nt"),
        F.count(F.lit(1)).alias("v"),
    )
    logratio = F.round(
        F.log2((F.col("ct") + 1.0) / (F.col("nt") + F.col("v")))
        - F.log2((F.col("cb") + 1.0) / (F.col("nb") + F.col("v"))),
        9,
    )
    scored = (
        toks.join(F.broadcast(freq), "term")
        .crossJoin(F.broadcast(totals))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(logratio), 6).alias("logratio_bits"),
        )
        .orderBy(F.desc("logratio_bits"), "id")
        .limit(k)
    )
    # rank over the k survivors only (bounded), not the corpus
    return scored.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.desc("logratio_bits"), "id")
        ),
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str = "id",
    rank_col: str = "rank",
    k0: int = 60,
    k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09) of two
    ranked retrieval lists — the standard hybrid-retrieval combiner
    (BM25 lexical + embedding cosine being the canonical pair):
    ``rrf(d) = sum over lists of 1/(k0 + rank(d))``, with documents
    missing from a list simply contributing nothing. Rank-based
    fusion needs no score calibration between retrievers — the reason
    it is the default in RAG stacks.

    Output: ``id``, ``rank_a``, ``rank_b`` (NULL when absent from
    that list), ``rrf`` (rounded to 6), ``fused_rank`` — top ``k`` by
    (rrf desc, id).

    Shape: both inputs are already top-N lists (a few hundred rows),
    so the full-outer join and the final ranking window run on
    bounded data regardless of corpus size — the heavy lifting
    happened inside each retriever. The fused rank window partitions
    nothing but covers only the k0-bounded candidate union, never
    the corpus.
    """
    a = ranked_a.select(
        F.col(id_col).alias("id"), F.col(rank_col).alias("rank_a")
    )
    b = ranked_b.select(
        F.col(id_col).alias("id"), F.col(rank_col).alias("rank_b")
    )
    contrib = lambda c: F.coalesce(  # noqa: E731
        1.0 / (F.lit(k0) + F.col(c)), F.lit(0.0)
    )
    fused = (
        a.join(b, "id", "full_outer")
        .withColumn(
            "rrf", F.round(contrib("rank_a") + contrib("rank_b"), 6)
        )
        .orderBy(F.desc("rrf"), "id")
        .limit(k)
    )
    return fused.withColumn(
        "fused_rank",
        F.row_number().over(Window.orderBy(F.desc("rrf"), "id")),
    )


def good_turing_counts(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Good-Turing frequency-of-frequencies table — the classical LM
    smoothing primitive (Katz backoff, Kneser-Ney's discount
    estimation, vocabulary-growth / unseen-mass diagnostics over a
    training corpus): for each observed token frequency ``r``, how
    many distinct terms occur exactly ``r`` times (``n_r``), and the
    Turing-discounted count ``r* = (r+1) · n_{r+1} / n_r`` (NULL at
    the frequency ceiling where ``n_{r+1} = 0`` — the standard
    raw-GT gap that Simple Good-Turing smooths over).

    ``n_1 / N`` (read off the ``r = 1`` row against the corpus total)
    is the Good-Turing estimate of the unseen-token mass — the "how
    much vocabulary is this corpus still missing" number that decides
    whether to keep crawling a source.

    Shape: one (term) count shuffle with map-side partials, then a
    count-of-counts aggregation whose key space is the number of
    DISTINCT frequencies (≤ a few thousand at any corpus size — the
    frequency spectrum is long-tailed but its support is tiny), and a
    lead window over that bounded spectrum table. Corpus-scale work
    is exactly the vocabulary count; everything after is
    spectrum-sized.

    Output: ``r``, ``n_r``, ``r_star`` (6 dp), ascending ``r``.
    """
    toks = df.select(F.explode(tokens(text_col)).alias("term"))
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("r"))
    nr = freq.groupBy("r").agg(F.count(F.lit(1)).alias("n_r"))
    w = Window.orderBy("r")
    nxt = F.when(
        F.lead("r").over(w) == F.col("r") + 1, F.lead("n_r").over(w)
    )
    return nr.select(
        "r",
        "n_r",
        F.round(
            (F.col("r") + 1).cast("double") * nxt / F.col("n_r"), 6
        ).alias("r_star"),
    ).orderBy("r")


def _bpe_merge_expr(syms, left: str, right: str):
    """Greedy left-to-right non-overlapping merge of the adjacent
    symbol pair (left, right) inside one symbol array — pure
    ``F.aggregate`` with a (acc, prev) struct accumulator, entirely
    JVM-side (no UDF): after a merge ``prev`` resets to NULL, so a
    freshly-merged token never re-merges with the next symbol in the
    same round (the exact BPE semantics; ``aaa`` with pair (a, a)
    yields ``[aa, a]``, ``aaaa`` yields ``[aa, aa]``)."""
    merged = F.lit(left + right)
    return F.aggregate(
        syms,
        F.struct(
            F.array().cast("array<string>").alias("acc"),
            F.lit(None).cast("string").alias("prev"),
        ),
        lambda st, x: F.when(
            st["prev"].isNotNull()
            & (st["prev"] == F.lit(left))
            & (x == F.lit(right)),
            F.struct(
                F.concat(st["acc"], F.array(merged)).alias("acc"),
                F.lit(None).cast("string").alias("prev"),
            ),
        ).otherwise(
            F.struct(
                F.when(
                    st["prev"].isNotNull(),
                    F.concat(st["acc"], F.array(st["prev"])),
                )
                .otherwise(st["acc"])
                .alias("acc"),
                x.alias("prev"),
            )
        ),
        lambda st: F.when(
            st["prev"].isNotNull(), F.concat(st["acc"], F.array(st["prev"]))
        ).otherwise(st["acc"]),
    )


def bpe_train(
    df: DataFrame, text_col: str, id_col: str, rounds: int = 4
) -> DataFrame:
    """Byte-pair-encoding merge training (Sennrich et al. 2016) — the
    actual tokenizer-training step past the L34 vocabulary build:
    learn the first ``rounds`` merge rules over the corpus.

    Setup: whitespace words weighted by corpus frequency, each word a
    character-symbol sequence (no end-of-word marker — documented
    simplification). Per round: (1) count adjacent symbol pairs
    weighted by word frequency — a shuffle-free ``zip_with`` of the
    symbol array against its own tail, exploded into ONE
    pair-keyed aggregation; (2) pick the most frequent pair, ties to
    the lexicographically smallest (left, right) — a total order, so
    every engine learns the identical merge table; (3) apply the
    merge greedily left-to-right in every word via
    :func:`_bpe_merge_expr` — a stateless JVM projection, no UDF.

    THE SCALE DESIGN: the corpus is touched exactly once (the word
    count); all ``rounds`` iterations run on the VOCABULARY table
    (distinct words — bounded by language, not data size: ~10⁷ rows
    at any corpus scale vs 10¹² corpus tokens), checkpointed per
    round to truncate lineage. Driver state per round is one merge
    rule. This is why BPE trainers sample or pre-count words — the
    engine's form IS that shape, distributed.

    Output: ``merge_round``, ``lhs``, ``rhs``, ``pair_count`` — one
    row per learned rule, in learning order.
    """
    spark = df.sparkSession
    vocab = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cur = vocab.select(
        "w", "n", F.split("w", "").alias("syms")
    ).localCheckpoint(eager=True)
    return local_df(
        spark, _bpe_rounds(cur, rounds),
        "merge_round int, lhs string, rhs string, pair_count long",
    )


def _bpe_rounds(cur, rounds: int) -> list[tuple[int, str, str, int]]:
    """The greedy count-ranked BPE round loop shared by the
    character-level :func:`bpe_train` and the byte-level
    :func:`byte_bpe_train` — symbol-agnostic (symbols are opaque
    strings; only the v0 construction differs between alphabets):
    per round a shuffle-free ``zip_with`` pair count over the
    vocabulary table, a total-order top-1 (cnt DESC, lhs, rhs), and
    the pure-JVM greedy merge, checkpointed per round."""
    merges: list[tuple[int, str, str, int]] = []
    for t in range(1, rounds + 1):
        sz = F.size("syms")
        pair_structs = F.when(
            sz >= 2,
            F.zip_with(
                F.slice("syms", 1, sz - 1),
                F.slice("syms", 2, sz - 1),
                lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs")),
            ),
        ).otherwise(F.array().cast("array<struct<lhs:string,rhs:string>>"))
        best = (
            cur.select(F.explode(pair_structs).alias("p"), "n")
            .groupBy("p.lhs", "p.rhs")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "lhs", "rhs")
            .limit(1)
            .collect()
        )
        if not best:
            break
        lhs, rhs, cnt = best[0]["lhs"], best[0]["rhs"], int(best[0]["cnt"])
        merges.append((t, lhs, rhs, cnt))
        # EAGER checkpoint, deliberately: a lazy one defers the
        # lineage cut until first materialization, so every later
        # round re-ANALYZES the accumulated merge-expression chain
        # (measured: per-round driver gaps 0.3 s -> 1.5 s with
        # eager=False). The extra materialization job is vocab-sized
        # and cheap; the analysis blow-up is not.
        cur = cur.select(
            "w", "n", _bpe_merge_expr(F.col("syms"), lhs, rhs).alias("syms")
        ).localCheckpoint(eager=True)
    return merges


BYTE_SYMS_RE = ".."


def _pre_tokens(text_col: str):
    """GPT-2-ish regex pre-tokenization (letter runs / digit runs /
    single non-alphanumeric symbols — the engine's ``BPE_TOKEN_RE``):
    the split byte-level BPE merges never cross. Note non-ASCII
    letters fall to the symbol branch (the regex is ASCII-classed),
    which both engines agree on."""
    from isilon_hadoop_tools_spark.functions.text import BPE_TOKEN_RE

    return F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_RE), 0)


def _byte_syms(col) -> Column:
    """A word as its UTF-8 byte sequence, each byte a lowercase
    2-hex-char symbol (``é`` → ``['c3', 'a9']``) — printable,
    concatenation-closed under merging (a merged symbol is just a
    longer hex string), and byte-for-byte identical in DuckDB via
    ``regexp_extract_all(lower(hex(encode(w))), '..')``."""
    return F.regexp_extract_all(
        F.lower(F.hex(F.encode(col, "UTF-8"))), F.lit(BYTE_SYMS_RE), 0
    )


def byte_bpe_train(
    df: DataFrame, text_col: str, id_col: str, rounds: int = 6
) -> DataFrame:
    """Byte-level BPE merge training (GPT-2 family; Radford et al.
    2019) — the tokenizer most users actually match: the UTF-8 BYTE
    alphabet (256 base symbols, so NO out-of-vocabulary text exists —
    any string tokenizes) behind a regex pre-tokenization split, then
    the exact same greedy count-ranked merge machinery as the
    character-level trainer (:func:`_bpe_rounds` /
    :func:`_bpe_merge_expr` are symbol-agnostic). Symbols are
    lowercase hex byte strings, so a learned merge like
    ``(c3, a9)`` → ``c3a9`` is the byte pair of ``é`` — where
    char-BPE sees one symbol and byte-BPE must first LEARN the
    multi-byte composition (the defining divergence, unit-tested).

    Same scale shape as :func:`bpe_train`: corpus scanned once into
    the distinct pre-token table; all rounds run on that
    language-bounded vocabulary.

    Output: ``merge_round``, ``lhs``, ``rhs``, ``pair_count``.
    """
    spark = df.sparkSession
    vocab = (
        df.select(F.explode(_pre_tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cur = vocab.select(
        "w", "n", _byte_syms(F.col("w")).alias("syms")
    ).localCheckpoint(eager=True)
    return local_df(
        spark, _bpe_rounds(cur, rounds),
        "merge_round int, lhs string, rhs string, pair_count long",
    )


def byte_bpe_apply(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: list,
) -> DataFrame:
    """Byte-level BPE round trip (:func:`bpe_apply`'s twin over the
    byte alphabet): apply learned merges to the distinct PRE-TOKEN
    table, then join documents against the finished vocabulary —
    one corpus-sized equi-join, no per-document symbol work.

    Output per document: ``id``, ``n_words`` (pre-tokens),
    ``n_bytes`` (UTF-8 octets), ``n_tokens`` (post-merge symbols),
    ``compression`` (n_bytes / n_tokens, 6 dp).
    """
    words = df.select(
        F.col(id_col).alias("id"), F.explode(_pre_tokens(text_col)).alias("w")
    )
    vocab = words.select("w").distinct()
    syms = _byte_syms(F.col("w"))
    for lhs, rhs in merges:
        syms = _bpe_merge_expr(syms, lhs, rhs)
    sized = vocab.select(
        "w",
        F.octet_length("w").alias("_bytes"),
        F.size(syms).alias("_toks"),
    )
    return (
        words.join(sized, "w")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("_bytes").alias("n_bytes"),
            F.sum("_toks").alias("n_tokens"),
        )
        .select(
            "id",
            "n_words",
            "n_bytes",
            "n_tokens",
            F.round(
                F.col("n_bytes").cast("double") / F.col("n_tokens"), 6
            ).alias("compression"),
        )
    )


def bpe_apply(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: list,
) -> DataFrame:
    """Apply learned BPE merge rules (:func:`bpe_train`'s output
    order) to the corpus and report per-document tokenization stats —
    the round trip that makes the trainer useful: train once, then
    measure what the ruleset buys on real documents.

    THE SCALE SHAPE mirrors training: merges are applied to the
    DISTINCT-WORD table only (each rule one stateless
    :func:`_bpe_merge_expr` projection, chained in learning order —
    language-bounded work), and documents join their words against
    the finished vocabulary — ONE corpus-sized equi-join on the word;
    no per-document symbol processing ever happens.

    Output per document: ``id``, ``n_words``, ``n_chars`` (initial
    symbols), ``n_tokens`` (post-merge symbols), ``compression``
    (n_chars / n_tokens, 6 dp).
    """
    words = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("w")
    )
    vocab = words.select("w").distinct()
    syms = F.split("w", "")
    for lhs, rhs in merges:
        syms = _bpe_merge_expr(syms, lhs, rhs)
    sized = vocab.select(
        "w",
        F.length("w").alias("_chars"),
        F.size(syms).alias("_toks"),
    )
    return (
        words.join(sized, "w")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("_chars").alias("n_chars"),
            F.sum("_toks").alias("n_tokens"),
        )
        .select(
            "id",
            "n_words",
            "n_chars",
            "n_tokens",
            F.round(
                F.col("n_chars").cast("double") / F.col("n_tokens"), 6
            ).alias("compression"),
        )
    )


def _pow2_long(j) -> Column:
    """2^j as BIGINT for a column ``j`` ≤ 52 (exact in the double
    intermediate; the unigram-LM mask encoding below caps word length
    at 52 chars for exactly this reason)."""
    return F.pow(F.lit(2.0), j.cast("double")).cast("long")


def _viterbi_segment(
    w: Column, costs: dict[str, int], max_piece_len: int, big: int
) -> Column:
    """Viterbi segmentation of one word under an integer piece-cost
    table — the unigram-LM E-step kernel, pure JVM (no UDF).

    ``dp[i]`` over prefix length ``i`` is a ``(cost, mask)`` struct:
    total cost of the best segmentation of ``w[0:i]`` plus the
    boundary bitmask (bit ``j`` set ⇔ a piece starts at offset
    ``j``). ``F.least`` over the ≤ ``max_piece_len`` candidate
    extensions is tuple-min, so ties on cost break to the smallest
    mask — a total order both engines can reproduce (extending two
    paths that end at the same ``j`` by the same piece adds the same
    cost and the same bit, so tuple-min has optimal substructure).
    Out-of-vocab pieces cost ``big`` (never chosen while any
    all-in-vocab path exists; single chars are always in vocab).

    Returns the piece ARRAY decoded from the final mask — the mask IS
    the segmentation, so no backpointer pass is needed.
    """
    cmap = lit_map(
        [p for p, _ in sorted(costs.items())],
        [int(c) for _, c in sorted(costs.items())],
        "string",
        "bigint",
    )
    wl = F.length(w)
    bigc = F.lit(big).cast("long")

    def step(acc, i):
        cands = []
        for d in range(1, max_piece_len + 1):
            j = i - F.lit(d)
            piece = F.substring(w, j + F.lit(1), F.lit(d))
            prev = F.element_at(acc, (j + F.lit(1)).cast("int"))
            cand = F.struct(
                (
                    prev["cost"] + F.coalesce(F.try_element_at(cmap, piece), bigc)
                ).alias("cost"),
                (prev["mask"] + _pow2_long(j)).alias("mask"),
            )
            cands.append(
                F.when(j >= 0, cand).otherwise(
                    F.struct(bigc.alias("cost"), bigc.alias("mask"))
                )
            )
        best = F.least(*cands) if len(cands) > 1 else cands[0]
        return F.concat(acc, F.array(best))

    dp = F.aggregate(
        F.sequence(F.lit(1), wl),
        F.array(
            F.struct(
                F.lit(0).cast("long").alias("cost"),
                F.lit(0).cast("long").alias("mask"),
            )
        ),
        step,
    )
    mask = F.element_at(dp, (wl + F.lit(1)).cast("int"))["mask"]
    starts = F.filter(
        F.sequence(F.lit(0), wl - F.lit(1)),
        lambda j: mask.bitwiseAND(_pow2_long(j)) != 0,
    )
    return F.transform(
        starts,
        lambda s, i: F.substring(
            w,
            s + F.lit(1),
            F.coalesce(F.try_element_at(starts, (i + F.lit(2)).cast("int")), wl)
            - s,
        ),
    )


def _viterbi_big(costs: dict[str, int]) -> int:
    """Sentinel cost strictly above ANY realizable path cost under the
    CURRENT cost table: a word has ≤ 52 pieces (the trainer's length
    cap), each costing ≤ max(costs), so ``53·max + 1`` dominates every
    real path while staying far below long overflow (max cost is
    ``ln(total)·scale`` ≈ 4e7 at scale=1e6 → big ≈ 2.2e9; even 52
    accumulated OOV-big extensions stay < 1.2e11 ≪ 2^63). A fixed
    ``scale·64`` bound is WRONG: one rare piece already costs
    ``ln(total)·scale`` which exceeds it for total > e^64 — and more
    practically a 20+-char word of corpus-rare characters exceeds it
    at total ≈ 10^6, making the j<0 sentinel win ``F.least`` and
    decode a garbage boundary mask."""
    return 53 * max(costs.values(), default=1) + 1


def _unigram_costs(counts: dict[str, int], scale: int) -> dict[str, int]:
    """Integer piece costs ``floor(-ln(count/total)·scale + 0.5)`` —
    fixed-point negative log-probs (half-up, the engine's quantized-
    transcendental convention; exact .5 ties require ln of a rational
    to be a half-integer multiple of 1/scale, which never happens for
    count < total and is 0 at count == total)."""
    import math

    total = sum(counts.values())
    return {
        p: int(math.floor(-math.log(c / total) * scale + 0.5))
        for p, c in counts.items()
    }


def unigram_lm_train(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_piece_len: int = 4,
    n_seed_multi: int = 16,
    em_rounds: int = 2,
    scale: int = 1_000_000,
) -> DataFrame:
    """Unigram-LM tokenizer training (Kudo 2018; SentencePiece's
    default algorithm) — the OTHER production tokenizer family next to
    BPE (:func:`bpe_train`): instead of learning merges bottom-up,
    seed a big candidate-piece vocabulary, then EM — E-step: Viterbi-
    segment every word under current piece probabilities; M-step:
    re-estimate piece probabilities from the segmentation counts —
    pruning pieces the model stops using.

    Deterministic, oracle-checkable form of the recipe:

    1. SEED: candidate pieces are all word substrings of length ≤
       ``max_piece_len``, counted with word-frequency weights
       (overlapping occurrences counted); the vocabulary is every
       single char plus the top ``n_seed_multi`` multi-char pieces by
       (count DESC, piece ASC). Costs = fixed-point −ln p (see
       :func:`_unigram_costs`).
    2. E-STEP: :func:`_viterbi_segment` on the DISTINCT-WORD table —
       integer min-cost DP with a boundary-bitmask tie-break (a total
       order, so every engine picks the identical segmentation).
    3. M-STEP: piece counts = segmentation counts weighted by word
       frequency. Multi-char pieces with zero count are PRUNED; single
       chars are floored at count 1 (SentencePiece never prunes
       single characters — character coverage must stay 1.0, or a
       later E-step can hit an unsegmentable word).
    4. repeat 2–3 ``em_rounds`` times; output the final model.

    THE SCALE DESIGN (same as :func:`bpe_train`): the corpus is
    scanned ONCE (word counts); every EM round is one stateless JVM
    projection + one vocabulary-sized aggregation over the DISTINCT-
    WORD table (language-bounded: ~10⁷ rows at any corpus scale vs
    10¹² corpus tokens). Driver state per round is the piece-cost
    table (vocab-sized — the same thing SentencePiece holds in RAM).
    Words longer than 52 chars are excluded from training (documented
    coverage cut: the boundary mask must stay exact in a BIGINT via a
    double 2^j; 52+-char whitespace tokens are URL/DNA-style outliers
    a tokenizer trainer should not fit to anyway).

    Output: ``piece``, ``count`` (final M-step count), ``prob``
    (count/total, 6 dp), ``rank`` (by count DESC, piece ASC).
    """
    spark = df.sparkSession
    _, counts = _unigram_em(
        df, text_col, max_piece_len, n_seed_multi, em_rounds, scale
    )
    total = sum(counts.values())
    out = local_df(spark, sorted(counts.items()), "piece string, count long")
    w_rank = Window.orderBy(F.col("count").desc(), "piece")
    return out.select(
        "piece",
        "count",
        F.round(F.col("count") / F.lit(total).cast("double"), 6).alias("prob"),
        F.row_number().over(w_rank).alias("rank"),
    )


def _unigram_em(
    df: DataFrame,
    text_col: str,
    max_piece_len: int,
    n_seed_multi: int,
    em_rounds: int,
    scale: int,
):
    """Shared seed + EM loop behind :func:`unigram_lm_train` and
    :func:`unigram_lm_apply`: returns the checkpointed DISTINCT-WORD
    table ``(w, n, wl)`` and the final piece-count dict (singles
    floored at 1, zero-count multis pruned)."""
    words = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .filter(F.length("w") <= 52)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("wl", F.length("w"))
        .localCheckpoint(eager=True)
    )
    # seed counts: one explode over (start, len) on the distinct-word
    # table — bounded by vocab size x word length x max_piece_len
    subs = (
        words.select(
            "w",
            "n",
            "wl",
            F.explode(F.sequence(F.lit(0), F.col("wl") - 1)).alias("j"),
        )
        .select(
            "w",
            "n",
            "j",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(max_piece_len), F.col("wl") - F.col("j")),
                )
            ).alias("l"),
        )
        .select(
            F.substring("w", F.col("j") + 1, F.col("l")).alias("piece"), "n"
        )
        .groupBy("piece")
        .agg(F.sum("n").alias("cnt"))
    )
    singles = {
        r["piece"]: int(r["cnt"])
        for r in subs.filter(F.length("piece") == 1).collect()
    }
    multis = {
        r["piece"]: int(r["cnt"])
        for r in subs.filter(F.length("piece") > 1)
        .orderBy(F.col("cnt").desc(), "piece")
        .limit(n_seed_multi)
        .collect()
    }
    counts = {**singles, **multis}
    for _ in range(em_rounds):
        costs = _unigram_costs(counts, scale)
        big = _viterbi_big(costs)
        seg = words.select(
            "n",
            F.explode(
                _viterbi_segment(F.col("w"), costs, max_piece_len, big)
            ).alias("piece"),
        )
        observed = {
            r["piece"]: int(r["cnt"])
            for r in seg.groupBy("piece")
            .agg(F.sum("n").alias("cnt"))
            .collect()
        }
        # M-step: prune unused multi-char pieces; floor singles at 1
        counts = {p: max(observed.get(p, 0), 1) for p in singles}
        counts.update(
            {p: observed[p] for p in multis if observed.get(p, 0) > 0}
        )
    return words, counts


def unigram_lm_apply(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_piece_len: int = 4,
    n_seed_multi: int = 16,
    em_rounds: int = 2,
    scale: int = 1_000_000,
) -> DataFrame:
    """Unigram-LM round trip (the :func:`bpe_apply` twin for the
    L54c family): train the model with :func:`_unigram_em`, Viterbi-
    segment the DISTINCT-WORD table once more under the FINAL piece
    costs, and join documents against the finished per-word token
    counts — ONE corpus-sized equi-join; no per-document DP ever
    runs. Words over 52 chars are excluded from both training and
    accounting (the trainer's documented coverage cut).

    Output per document: ``id``, ``n_words``, ``n_chars``,
    ``n_tokens`` (Viterbi pieces), ``compression``
    (n_chars / n_tokens, 6 dp).
    """
    words, counts = _unigram_em(
        df, text_col, max_piece_len, n_seed_multi, em_rounds, scale
    )
    costs = _unigram_costs(counts, scale)
    big = _viterbi_big(costs)
    sized = words.select(
        "w",
        F.col("wl").alias("_chars"),
        F.size(
            _viterbi_segment(F.col("w"), costs, max_piece_len, big)
        ).alias("_toks"),
    )
    doc_words = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("w")
    ).filter(F.length("w") <= 52)
    return (
        doc_words.join(sized, "w")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("_chars").alias("n_chars"),
            F.sum("_toks").alias("n_tokens"),
        )
        .select(
            "id",
            "n_words",
            "n_chars",
            "n_tokens",
            F.round(
                F.col("n_chars").cast("double") / F.col("n_tokens"), 6
            ).alias("compression"),
        )
    )


def wordpiece_train(
    df: DataFrame,
    text_col: str,
    id_col: str,
    rounds: int = 5,
    scale: int = 10**9,
) -> DataFrame:
    """WordPiece merge training (Schuster & Nakajima 2012; BERT's
    tokenizer) — the third production tokenizer family, completing
    the trio with BPE (:func:`bpe_train`) and unigram-LM
    (:func:`unigram_lm_train`): greedy merges like BPE, but the round
    winner maximizes the LIKELIHOOD gain ``count(pair) /
    (count(left) · count(right))`` instead of the raw pair count —
    merging symbols that co-occur far more than their independent
    frequencies predict, so rare-but-tight pairs beat frequent-but-
    incidental ones.

    Determinism contract: the score is quantized to ``score_q =
    ⌊count(pair) · scale / (count(left) · count(right))⌋`` computed in
    DECIMAL(38,0) / HUGEINT arithmetic (exact at any corpus scale —
    the numerator stays under 10³⁸ even at 10¹³ tokens), ties on
    (score_q, lhs, rhs) — a total order every engine reproduces.
    Pairs whose true scores differ by < 1/scale collapse into the
    lexicographic tie-break, the same documented quantized-
    transcendental convention as the Goertzel taps. Merged symbols
    are plain concatenations (no ``##`` continuation markers — the
    same simplification as :func:`bpe_train`'s missing end-of-word
    marker, documented).

    THE SCALE SHAPE is :func:`bpe_train`'s: corpus scanned ONCE (word
    counts); each round needs one pair count AND one symbol count —
    both vocabulary-table aggregations (the symbol count is a second
    explode over the same checkpointed table, still language-bounded)
    — one broadcast score join, one total-order top-1, one stateless
    JVM merge projection. Driver state per round is one rule.

    Output: ``merge_round``, ``lhs``, ``rhs``, ``pair_count``,
    ``score_q`` — one row per learned rule, in learning order.
    """
    spark = df.sparkSession
    vocab = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cur = vocab.select(
        "w", "n", F.split("w", "").alias("syms")
    ).localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, int, int]] = []
    for t in range(1, rounds + 1):
        sz = F.size("syms")
        pair_structs = F.when(
            sz >= 2,
            F.zip_with(
                F.slice("syms", 1, sz - 1),
                F.slice("syms", 2, sz - 1),
                lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs")),
            ),
        ).otherwise(F.array().cast("array<struct<lhs:string,rhs:string>>"))
        pairs = (
            cur.select(F.explode(pair_structs).alias("p"), "n")
            .groupBy("p.lhs", "p.rhs")
            .agg(F.sum("n").alias("cnt"))
        )
        syms_cnt = (
            cur.select(F.explode("syms").alias("s"), "n")
            .groupBy("s")
            .agg(F.sum("n").alias("sc"))
        )
        best = (
            pairs.join(
                F.broadcast(
                    syms_cnt.select(
                        F.col("s").alias("lhs"), F.col("sc").alias("lc")
                    )
                ),
                "lhs",
            )
            .join(
                F.broadcast(
                    syms_cnt.select(
                        F.col("s").alias("rhs"), F.col("sc").alias("rc")
                    )
                ),
                "rhs",
            )
            .select(
                "lhs",
                "rhs",
                "cnt",
                F.expr(
                    f"CAST(cnt AS DECIMAL(38,0)) * {scale} div "
                    "(CAST(lc AS DECIMAL(38,0)) * rc)"
                ).alias("score_q"),
            )
            .orderBy(F.col("score_q").desc(), "lhs", "rhs")
            .limit(1)
            .collect()
        )
        if not best:
            break
        lhs, rhs = best[0]["lhs"], best[0]["rhs"]
        merges.append(
            (t, lhs, rhs, int(best[0]["cnt"]), int(best[0]["score_q"]))
        )
        cur = cur.select(
            "w", "n", _bpe_merge_expr(F.col("syms"), lhs, rhs).alias("syms")
        ).localCheckpoint(eager=True)
    return local_df(
        spark, merges,
        "merge_round int, lhs string, rhs string, pair_count long,"
        " score_q long",
    )


def _tdiv(a: int, b: int) -> int:
    """Truncation-toward-zero integer division — the shared rounding
    convention for classifier weight updates: DuckDB's integer ``//``
    truncates toward zero (``-7 // 2 = -3``), while Python's ``//``
    floors, so the driver-side update must use this helper to stay
    bit-identical with the unrolled-GD oracle."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b > 0) else -q


def _quality_features(
    df: DataFrame, text_col: str, id_col: str, label, n_buckets: int
) -> DataFrame:
    """Hashed bag-of-words features ``(id, y, j, x)``: whitespace
    tokens bucketed by the cross-engine md5 hash into ``n_buckets``
    slots (collisions are the fastText trick, not a bug — the hash
    IS the vocabulary), plus a constant bias feature at index
    ``n_buckets`` so the model can learn a base rate."""
    ids = df.select(
        F.col(id_col).alias("id"), label.cast("long").alias("y"), text_col
    )
    tok_feats = (
        ids.select(
            "id",
            "y",
            F.explode(tokens(text_col)).alias("tok"),
        )
        .select(
            "id", "y", (stable_hash32("tok") % n_buckets).alias("j")
        )
        .groupBy("id", "y", "j")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    bias = ids.select(
        "id",
        "y",
        F.lit(n_buckets).cast("long").alias("j"),
        F.lit(1).cast("long").alias("x"),
    )
    return tok_feats.unionByName(bias)


def _quality_fit(
    df: DataFrame,
    text_col: str,
    id_col: str,
    label,
    n_buckets: int,
    rounds: int,
    lr_num: int,
    lr_den: int,
    scale: int,
) -> tuple[dict[int, int], DataFrame, int]:
    """The deterministic integer GD loop shared by
    :func:`quality_classifier_train` and :func:`quality_scores`.
    Returns ``(weights, feats, n_docs)`` — the eagerly-checkpointed
    feature frame and the corpus count are returned so scoring /
    selection stages reuse them instead of re-tokenizing the corpus
    and re-counting (one full feature-build pass + one count job per
    caller saved; the values are bit-identical by construction).

    Model: logistic-style linear classifier with the HARD sigmoid
    ``σ̂(μ) = clamp(1/2 + μ/4, 0, 1)`` (the piecewise-linear logistic
    of quantized training) so the whole fit is INTEGER arithmetic —
    no transcendental ever runs, hence no libm/JVM last-ulp risk
    between engines. With weights at fixed-point ``scale`` and margin
    ``m = Σ w_j·x_j``, the numerator ``N = clamp(2·scale + m, 0,
    4·scale)`` gives ``σ̂ = N/(4·scale)`` without any division.

    Per round (the L54/BPE determinism discipline): ONE corpus-scan
    gradient aggregation ``G_j = Σ_d (N_d − 4·scale·y_d)·x_dj``
    (map-side partials; D+1 rows collected — bounded driver state),
    then the driver updates ``w_j ← w_j − tdiv(lr_num·G_j,
    lr_den·4·n_docs)`` and broadcasts the new weights back as a map
    literal. Weights never live in an executor loop; the corpus never
    moves to the driver.
    """
    feats = _quality_features(
        df, text_col, id_col, label, n_buckets
    ).localCheckpoint(eager=True)
    n_docs = df.count()
    four_s = 4 * scale
    w = {j: 0 for j in range(n_buckets + 1)}
    for _ in range(rounds):
        wmap = lit_long_map(w)
        margins = (
            feats.withColumn(
                "_w",
                F.coalesce(F.try_element_at(wmap, F.col("j")), F.lit(0)),
            )
            .groupBy("id", "y")
            .agg(F.sum(F.col("_w") * F.col("x")).alias("m"))
            .select(
                "id",
                "y",
                F.least(
                    F.lit(four_s).cast("long"),
                    F.greatest(
                        F.lit(0).cast("long"),
                        F.lit(2 * scale) + F.col("m"),
                    ),
                ).alias("N"),
            )
        )
        grads = (
            feats.join(margins.select("id", "N"), "id")
            .select(
                "j",
                (
                    (F.col("N") - F.lit(four_s) * F.col("y")) * F.col("x")
                ).alias("g"),
            )
            .groupBy("j")
            .agg(F.sum("g").alias("G"))
            .collect()
        )
        G = {int(r["j"]): int(r["G"]) for r in grads}
        den = lr_den * 4 * n_docs
        for j in w:
            w[j] = w[j] - _tdiv(lr_num * G.get(j, 0), den)
    return w, feats, n_docs


def _quality_gd(
    df: DataFrame,
    text_col: str,
    id_col: str,
    label,
    n_buckets: int,
    rounds: int,
    lr_num: int,
    lr_den: int,
    scale: int,
) -> dict[int, int]:
    w, _, _ = _quality_fit(
        df, text_col, id_col, label, n_buckets, rounds, lr_num, lr_den,
        scale,
    )
    return w


def quality_classifier_train(
    df: DataFrame,
    text_col: str,
    id_col: str,
    label,
    n_buckets: int = 32,
    rounds: int = 3,
    lr_num: int = 1,
    lr_den: int = 4,
    scale: int = 1000,
) -> DataFrame:
    """Trained quality-classifier weights (fastText / DCLM /
    FineWeb-Edu style curation filter): a hashed bag-of-words linear
    classifier fit by deterministic integer gradient descent — the
    one modern curation stage between heuristic quality scores and
    model-based filtering. ``label`` is a boolean/int Column marking
    the "good" class (reference corpus membership, lang gate, …).

    Everything is integer arithmetic on both engines (hard-sigmoid
    logistic — see :func:`_quality_gd`), so the weights are
    bit-identical to an unrolled-GD SQL oracle. At 100 TB: one scan
    per round with map-side partial gradients, D+1 driver-held
    weights (D = hash buckets, a constant), broadcast back as a map
    literal — the classic parameter-server pattern degenerated to
    driver state because D is small.

    Output: ``feature_id`` (0..n_buckets; n_buckets = bias),
    ``weight`` (fixed-point at ``scale``).
    """
    w = _quality_gd(
        df, text_col, id_col, label, n_buckets, rounds, lr_num, lr_den,
        scale,
    )
    return local_df(
        df.sparkSession, sorted(w.items()), "feature_id int, weight long"
    )


def quality_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    label,
    n_buckets: int = 32,
    rounds: int = 3,
    lr_num: int = 1,
    lr_den: int = 4,
    scale: int = 1000,
) -> DataFrame:
    """Scan-bound inference with the trained quality classifier:
    train via :func:`_quality_gd` (same defaults as
    :func:`quality_classifier_train`), then score EVERY document in
    one pass — ``score = N/(4·scale)`` (the hard-sigmoid probability
    of the "good" class), an exact rational → identical doubles
    cross-engine. The scoring scan never sees the training loop:
    weights arrive as a broadcast map literal, so at 100 TB this is
    a single map-side join-free pass over the corpus.

    Output: ``id``, ``margin`` (fixed-point at ``scale``), ``score``
    (6 dp), ``keep`` (score ≥ 0.5 — the filter decision).
    """
    # reuse the training pass's checkpointed feature frame — scoring
    # re-tokenized the whole corpus a second time before r16
    w, feats, _ = _quality_fit(
        df, text_col, id_col, label, n_buckets, rounds, lr_num, lr_den,
        scale,
    )
    wmap = lit_long_map(w)
    four_s = 4 * scale
    return (
        feats.withColumn(
            "_w", F.coalesce(F.try_element_at(wmap, F.col("j")), F.lit(0))
        )
        .groupBy("id")
        .agg(F.sum(F.col("_w") * F.col("x")).alias("margin"))
        .select(
            "id",
            "margin",
            F.round(
                F.least(
                    F.lit(four_s).cast("long"),
                    F.greatest(
                        F.lit(0).cast("long"),
                        F.lit(2 * scale) + F.col("margin"),
                    ),
                ).cast("double")
                / F.lit(four_s).cast("double"),
                6,
            ).alias("score"),
        )
        .withColumn("keep", F.col("score") >= 0.5)
    )


def _ordered_row_number(
    df: DataFrame, key_col: str, tie_cols: list[str], out: str = "rn"
) -> DataFrame:
    """Exact global row numbers in ``(key, *ties)`` order WITHOUT a
    single-partition window: range-repartition on the key (equal keys
    co-located by the range partitioner), per-partition row_number,
    then driver-side cumulative offsets of the P per-partition counts
    (P scalars — bounded driver state). The result is identical for
    any partition-boundary sampling, so the output is deterministic
    even though ``repartitionByRange`` samples."""
    spark = df.sparkSession
    npart = max(2, shuffle_partition_count(spark))
    part = df.repartitionByRange(
        npart, key_col, *tie_cols
    ).sortWithinPartitions(key_col, *tie_cols)
    local = part.withColumn("_pid", F.spark_partition_id()).withColumn(
        out,
        F.row_number().over(
            Window.partitionBy("_pid").orderBy(key_col, *tie_cols)
        ),
    ).localCheckpoint(eager=True)
    counts = {
        r["_pid"]: r["_n"]
        for r in local.groupBy("_pid").agg(F.max(out).alias("_n")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    omap = lit_map(
        [int(p) for p in sorted(offsets)],
        [int(offsets[p]) for p in sorted(offsets)],
        "int",
        "bigint",
    )
    return local.withColumn(
        out, F.col(out) + F.coalesce(F.try_element_at(omap, F.col("_pid")), F.lit(0))
    ).drop("_pid")


def _suffix_grams(
    df: DataFrame, text_col: str, id_col: str, min_len: int
) -> tuple[DataFrame, DataFrame]:
    """(shared by :func:`suffix_dup_spans` and the streaming suffix
    index) token arrays + candidate gram fingerprints: returns
    ``(toks, grams)`` where ``toks`` is ``(id, _arr)`` and ``grams``
    is ``(id, pos, gh)`` — one row per token position carrying a full
    ``min_len``-gram, fingerprinted 60-bit."""
    toks = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("_arr")
    ).localCheckpoint(eager=False)
    # REPARTITION_BY_NUM on the window key: the gram build (lead
    # window + k-token concat + md5 fingerprint per position) is the
    # compute-dense stage of the operator, and AQE coalesces its
    # exchange by BYTES — profiled 2 post-coalesce tasks at sf0.1.
    # The numbered repartition satisfies the window's required
    # distribution (it replaces, not adds to, the exchange) and is
    # exempt from AQE coalescing.
    npart = max(2, shuffle_partition_count(df.sparkSession))
    pe = toks.repartition(npart, "id").select(
        "id", F.posexplode("_arr").alias("pos", "tok")
    )
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [
        F.lead("tok", j).over(w) for j in range(1, min_len)
    ]
    grams = (
        pe.select(
            "id",
            "pos",
            F.concat_ws(" ", *parts).alias("gram"),
            parts[-1].alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .select(
            "id",
            F.col("pos").cast("long").alias("pos"),
            fingerprint64("gram").alias("gh"),
        )
        .localCheckpoint(eager=False)
    )
    return toks, grams


def _suffix_spans_from(
    cands: DataFrame,
    toks: DataFrame,
    min_len: int,
    max_match_len: int,
) -> DataFrame:
    """(shared) exact maximal spans from a candidate-position subset:
    suffix slice, global order by the token ARRAY (two-phase row
    numbering — no single-partition window, and element-wise array
    order IS suffix order even for tokens containing sub-space code
    points), adjacent LCP via JVM ``zip_with``, island merge.
    EXACTNESS requires the candidate subset to be partner-closed:
    every candidate's true max-LCP partner must itself be in
    ``cands`` (the suffix-array adjacency property then transfers to
    the subset — see :func:`suffix_dup_spans` step 2)."""
    sfx = cands.join(toks, "id").select(
        "id",
        "pos",
        F.slice(
            "_arr", F.col("pos") + 1, F.lit(max_match_len)
        ).alias("_sfx"),
    )
    ordered = _ordered_row_number(sfx, "_sfx", ["id", "pos"], out="rn")

    def lcp(a, b):
        eq = F.zip_with(a, b, lambda x, y: F.coalesce(x == y, F.lit(False)))
        fp = F.array_position(eq, F.lit(False))
        return F.when(fp > 0, fp - 1).otherwise(F.size(eq)).cast("long")

    # each adjacent pair's LCP scores BOTH endpoints. Compute it ONCE
    # per pair — one rn-equi-join carrying the suffix arrays, one
    # zip_with compare — and attribute the value to both (id, pos)
    # endpoints from the pair row; an earlier form ran TWO joins
    # (next-shifted and prev-shifted) against ``ordered`` and scored
    # each pair's LCP twice, doubling both the array shuffle and the
    # 256-element prefix compares. Left endpoints with no successor
    # attribute 0 (every position keeps >= 1 row, so the groupBy max
    # below is unchanged); first positions simply lack a prev row,
    # which the old form scored as an extra 0.
    nxt = ordered.select(
        (F.col("rn") - 1).alias("rn"),
        F.col("id").alias("_id_n"),
        F.col("pos").alias("_pos_n"),
        F.col("_sfx").alias("_sfx_next"),
    )
    pair_lcp = ordered.join(nxt, "rn", "left").select(
        "id",
        "pos",
        "_id_n",
        "_pos_n",
        F.when(
            F.col("_sfx_next").isNotNull(),
            lcp(F.col("_sfx"), F.col("_sfx_next")),
        )
        .otherwise(F.lit(0))
        .alias("_l"),
    )
    # both attributions leave the SAME pipeline via one in-place
    # explode (narrow — no second consumer, no checkpoint barrier):
    # each pair row becomes its left-endpoint row plus, when a
    # successor exists, its right-endpoint row
    attr = F.explode(
        F.array(
            F.struct(
                F.col("id").alias("id"),
                F.col("pos").alias("pos"),
                F.col("_l").alias("_l"),
            ),
            F.struct(
                F.col("_id_n").alias("id"),
                F.col("_pos_n").alias("pos"),
                F.col("_l").alias("_l"),
            ),
        )
    )
    both = (
        pair_lcp.select(attr.alias("_a"))
        .select("_a.id", "_a.pos", "_a._l")
        .filter(F.col("id").isNotNull())
    )
    hits = (
        both.groupBy("id", "pos")
        .agg(F.max("_l").alias("_dl"))
        .filter(F.col("_dl") >= min_len)
        .select(
            "id",
            F.col("pos").cast("long").alias("_s"),
            (F.col("pos") + F.col("_dl")).cast("long").alias("_e"),
            F.col("_dl").cast("long").alias("_dl"),
        )
    )
    wi = Window.partitionBy("id").orderBy("_s", "_e")
    prev_max = F.max("_e").over(
        wi.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = hits.withColumn(
        "_new",
        F.when(prev_max.isNull() | (F.col("_s") > prev_max), 1).otherwise(0),
    ).withColumn(
        "_island",
        F.sum("_new").over(wi.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy("id", "_island")
        .agg(
            F.min("_s").alias("start_tok"),
            F.max("_e").alias("end_tok"),
            F.max("_dl").alias("max_dup_len"),
            F.count(F.lit(1)).alias("n_positions"),
        )
        .select(
            "id",
            "start_tok",
            "end_tok",
            (F.col("end_tok") - F.col("start_tok")).alias("span_len"),
            "max_dup_len",
            "n_positions",
        )
    )


def suffix_dup_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = 10,
    max_match_len: int = 256,
) -> DataFrame:
    """Exact VARIABLE-LENGTH duplicated-substring detection — the
    suffix-array method of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better") that :func:`dup_spans`
    approximates with fixed n-grams: for every token position, the
    length of the LONGEST token prefix occurring at ≥ 2 distinct
    (doc, pos) places corpus-wide (within-document repeats count —
    the published semantics), merged into maximal per-document spans
    for positions with ``dup_len ≥ min_len``.

    SPARK-FIRST FORM — a candidate-pruned suffix sort, never a
    corpus-wide suffix array:

    1. EXACT PRUNE: ``dup_len(p) ≥ min_len`` ⟺ the ``min_len``-gram
       at ``p`` is duplicated (every window of a duplicate is a
       duplicate), so ONE fixed-gram pass — the :func:`dup_spans`
       machinery with within-doc occurrences allowed — yields exactly
       the positions that can appear in the answer. At 100 TB the
       expensive part below runs only on duplicated regions, which is
       the output-bound discipline of the dedup family.
    2. SUFFIX ORDER OVER CANDIDATES ONLY: each candidate materializes
       its suffix token array (truncated at ``max_match_len``) and is
       globally ordered by it (exact two-phase row numbering —
       :func:`_ordered_row_number` — no single-partition window). A
       max-LCP partner of a candidate is itself a candidate (it
       shares ≥ min_len tokens), and restricting a lexicographic
       order to any subset preserves "nearest neighbors maximize
       LCP", so sorted-candidate ADJACENCY suffices.
    3. ADJACENT LCP: one self-join on consecutive row numbers, LCP in
       tokens via a JVM ``zip_with``/``array_position`` prefix
       compare — ``dup_len(p) = max(lcp(prev, p), lcp(p, next))``,
       exact (no hashing anywhere in the refinement; the prune's
       60-bit gram fingerprints can only admit a false CANDIDATE,
       which the exact LCP then scores honestly).
    4. ISLAND MERGE: hit intervals ``[p, p + dup_len)`` merge with
       the same running-max sweep as :func:`dup_span_merge` on one
       per-document partitioning.

    ``max_match_len`` caps the materialized suffix (reported
    ``max_dup_len`` saturates there); duplicates longer than the cap
    are still found and spanned, only their reported length clips.

    Output: ``id``, ``start_tok``, ``end_tok`` (exclusive),
    ``span_len``, ``max_dup_len``, ``n_positions`` (candidate
    positions merged into the span).

    vs :func:`dup_spans`: same covered positions at ``n = min_len``
    (cross-doc), plus within-document repeats, plus the TRUE maximal
    match length per span — the property test asserts every
    :func:`dup_spans` hit falls inside one of these spans.
    """
    toks, grams = _suffix_grams(df, text_col, id_col, min_len)
    multi = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("gh")
    )
    cands = grams.join(multi, "gh").select("id", "pos")
    # the candidate set is partner-closed (a max-LCP partner shares
    # >= min_len tokens, hence a duplicated gram), which is what
    # makes the subset adjacency in _suffix_spans_from exact
    return _suffix_spans_from(cands, toks, min_len, max_match_len)


def suffix_span_cut(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = 10,
    max_match_len: int = 256,
) -> DataFrame:
    """The RefinedWeb REMOVE step over the EXACT maximal spans of
    :func:`suffix_dup_spans` — Lee et al. 2022's actual pipeline
    (find variable-length duplicates, then cut them), where
    :func:`dup_span_cut` cuts the fixed-gram approximation. Since the
    two span families cover the same positions at ``n = min_len``
    for cross-document duplicates, the practical difference is
    within-document repeats: this cut also removes internally
    duplicated boilerplate the fixed-gram cross-doc pass leaves in.

    Output and accounting contract identical to
    :func:`dup_span_cut`: ``id``, ``n_tokens``, ``n_removed``,
    ``clean_text`` with ``n_removed + tokens(clean_text) ==
    n_tokens``; spans are disjoint so the membership join matches
    each token at most once.
    """
    spans = suffix_dup_spans(
        df, text_col, id_col, min_len, max_match_len
    ).select("id", "start_tok", "end_tok")
    return _cut_by_spans(df, spans, text_col, id_col)


def quality_classifier_eval(
    df: DataFrame,
    text_col: str,
    id_col: str,
    label,
    n_buckets: int = 32,
    rounds: int = 3,
    lr_num: int = 1,
    lr_den: int = 4,
    scale: int = 1000,
    train_pct: int = 80,
    salt: str = "qce",
) -> DataFrame:
    """Held-out evaluation of the quality classifier — the readout a
    curation team actually gates on before trusting a filter: split
    documents deterministically (the engine's md5 hash-split
    discipline: stable under appends, never ``random()``), train
    :func:`_quality_gd` on the ``train_pct`` slice only, score the
    held-out slice, and report the confusion counts + accuracy at the
    0.5 threshold per true class.

    All integer/exact: the split is a pure hash predicate both
    engines compute identically, training is the integer GD, and the
    decision is ``margin ≥ 0`` (σ̂ = clamp(2·scale + m)/(4·scale) ≥ ½
    ⟺ m ≥ 0) — no float ever decides a cell.

    Output: one row per ``(label, predicted)`` cell with ``n``, plus
    6-dp ``share`` within the true class — a 2x2 confusion table in
    long form (absent cells omitted; the oracle omits them too).
    """
    bucket = stable_hash32(
        F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))
    ) % 100
    train = df.filter(bucket < train_pct)
    test = df.filter(bucket >= train_pct)
    w = _quality_gd(
        train, text_col, id_col, label, n_buckets, rounds, lr_num, lr_den,
        scale,
    )
    feats = _quality_features(test, text_col, id_col, label, n_buckets)
    wmap = lit_long_map(w)
    scored = (
        feats.withColumn(
            "_w", F.coalesce(F.try_element_at(wmap, F.col("j")), F.lit(0))
        )
        .groupBy("id", "y")
        .agg(F.sum(F.col("_w") * F.col("x")).alias("m"))
        .select(
            F.col("y").alias("label"),
            (F.col("m") >= 0).cast("int").alias("predicted"),
        )
    )
    wclass = Window.partitionBy("label")
    return (
        scored.groupBy("label", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "label",
            "predicted",
            "n",
            F.round(
                F.col("n").cast("double") / F.sum("n").over(wclass), 6
            ).alias("share"),
        )
    )


def curation_pipeline(
    df: DataFrame,
    text_col: str,
    id_col: str,
    label,
    min_len: int = 10,
    n_buckets: int = 32,
    rounds: int = 3,
    scale: int = 1000,
    keep_pct: int = 50,
) -> DataFrame:
    """The END-TO-END curation pipeline as one composable operator —
    what a training-data team actually ships: (1) QUALITY FILTER:
    train the integer-GD classifier on ``label`` and keep the TOP
    ``keep_pct`` percent of documents by classifier margin (the
    DCLM / FineWeb-Edu selection rule — published pipelines keep a
    score fraction, not an absolute threshold; exact rank cut,
    ``(margin DESC, id)`` ties, via the two-phase global row
    numbering — no single-partition window); (2) EXACT SUBSTRING
    CUT: find variable-length duplicated spans over the KEPT corpus
    (Lee et al. 2022 semantics — spans are recomputed post-filter,
    since dropping documents changes what is duplicated) and remove
    them; (3) EXACT DEDUP: group the cleaned texts, elect the min-id
    canonical per distinct ``clean_text``.

    Each stage is the already-oracle-proven operator
    (:func:`_quality_gd` / :func:`_ordered_row_number` /
    :func:`suffix_span_cut` / fingerprint-groupBy); this composition
    is itself hash-checked end-to-end, so a drift in any stage's
    contract fails the pipeline query, not just the stage query.

    Output (one row per KEPT document): ``id``, ``n_tokens``,
    ``n_removed``, ``clean_text``, ``keep_id`` (the canonical id of
    its dedup group — ``keep_id == id`` marks the survivor),
    ``n_dups`` (group size). Filtered-out documents do not appear;
    the caller's final corpus is ``keep_id == id``.
    """
    # reuse the training pass's checkpointed feature frame and corpus
    # count — the selection stage re-tokenized and re-counted before r16
    w, feats, n_docs = _quality_fit(
        df, text_col, id_col, label, n_buckets, rounds, 1, 4, scale
    )
    wmap = lit_long_map(w)
    margins = (
        feats.withColumn(
            "_w", F.coalesce(F.try_element_at(wmap, F.col("j")), F.lit(0))
        )
        .groupBy("id")
        .agg(F.sum(F.col("_w") * F.col("x")).alias("m"))
        .withColumn("_negm", -F.col("m"))
    )
    keep_n = n_docs * keep_pct // 100
    kept_ids = (
        _ordered_row_number(margins, "_negm", ["id"], out="_rk")
        .filter(F.col("_rk") <= keep_n)
        .select("id")
    )
    kept = df.join(
        kept_ids.select(F.col("id").alias(id_col)), id_col
    ).localCheckpoint(eager=False)
    # cut is consumed by TWO branches (the dedup groups and the final
    # join) — without the checkpoint the whole span-find+cut subtree
    # is recomputed per consumer
    cut = suffix_span_cut(kept, text_col, id_col, min_len).localCheckpoint(
        eager=False
    )
    groups = (
        cut.select(fingerprint64("clean_text").alias("_fp"), "id")
        .groupBy("_fp")
        .agg(
            F.min("id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )
    return (
        cut.withColumn("_fp", fingerprint64("clean_text"))
        .join(groups, "_fp")
        .select(
            "id", "n_tokens", "n_removed", "clean_text",
            "keep_id", "n_dups",
        )
    )


def _lm_scored(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The LM-scoring join stage of :func:`lm_perplexity_buckets` —
    per-doc ``(id, n_bigrams, ppl_bits)`` — exposed separately so the
    plan audit can assert the bigram/unigram joins carry NO broadcast
    hint (the rank stage after it checkpoints, which truncates the
    final plan's lineage and would hide these joins)."""
    pe = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    bigrams = (
        pe.select(
            "id",
            F.col("tok").alias("w1"),
            F.lead("tok", 1).over(w).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
        .localCheckpoint(eager=False)
    )
    big = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni = pe.groupBy("tok").agg(F.count(F.lit(1)).alias("c1"))
    v_terms = uni.agg(F.count(F.lit(1)).alias("v"))
    bits = F.round(
        -F.log2(
            (F.col("c12") + 1.0) / (F.col("c1") + F.col("v"))
        ),
        9,
    )
    return (
        bigrams.join(big, ["w1", "w2"])
        .join(uni.withColumnRenamed("tok", "w1"), "w1")
        .crossJoin(F.broadcast(v_terms))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(bits), 6).alias("ppl_bits"),
        )
    )


def lm_perplexity_buckets(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """CCNet-style language-model quality scoring (Wenzek et al.
    2020 — the filter behind CCNet/CC-100 and a standard alternative
    to classifier filtering): score every document by mean bigram
    surprisal under a corpus-trained add-one-smoothed bigram LM, then
    bucket the corpus into CCNet's head / middle / tail TERCILES by
    exact rank (head = lowest perplexity = most fluent under the
    corpus distribution).

    Model: ``p(w2 | w1) = (c(w1,w2) + 1) / (c(w1) + V)`` with corpus
    unigram counts and vocabulary size V; per-bigram surprisal
    ``-log2 p`` pre-rounded to 9 decimals (the
    :func:`unigram_surprisal` determinism convention), per-doc mean
    rounded to 6. Terciles use the exact global rank (``(bits ASC,
    id)`` ties) via :func:`_ordered_row_number` — no single-partition
    window; thresholds at ⌊n/3⌋ and ⌊2n/3⌋ of ranked docs.

    Shape: the bigram/unigram count joins are plain equi-joins with
    NO broadcast hint — on raw web text the distinct-bigram table is
    effectively corpus-scale (and whitespace-token vocabulary is
    unbounded), so forcing a broadcast would OOM executors at 100×;
    AQE is free to pick broadcast when the tables happen to be small.
    Only the 1-row ``v_terms`` aggregate is broadcast. The corpus
    streams through keyed shuffles plus the rank's range exchange.
    Documents with < 2 tokens have no bigram: they surface with
    ``n_bigrams = 0``, NULL bits, bucket ``'short'`` instead of
    silently vanishing.

    Output: ``id``, ``n_bigrams``, ``ppl_bits`` (6 dp), ``bucket``
    (head / middle / tail / short).
    """
    return _ppl_terciles(df, _lm_scored(df, text_col, id_col), id_col)


def _ppl_terciles(
    df: DataFrame, scored: DataFrame, id_col: str
) -> DataFrame:
    """The CCNet head/middle/tail readout shared by
    :func:`lm_perplexity_buckets` (add-one bigram LM) and
    :func:`kn_perplexity_buckets` (interpolated Kneser–Ney): exact
    global rank of the per-doc ``ppl_bits`` via
    :func:`_ordered_row_number` ((bits, id) ties, no single-partition
    window), tercile thresholds at ⌊n/3⌋ and ⌊2n/3⌋, and a left join
    back to the full corpus so sub-2-token docs surface as bucket
    ``'short'`` instead of silently vanishing."""
    ranked = _ordered_row_number(
        scored.withColumn("_key", F.col("ppl_bits")), "_key", ["id"],
        out="_rk",
    ).localCheckpoint(eager=False)
    n_ranked = ranked.count()
    t1, t2 = n_ranked // 3, 2 * n_ranked // 3
    bucketed = ranked.select(
        "id",
        "n_bigrams",
        "ppl_bits",
        F.when(F.col("_rk") <= t1, F.lit("head"))
        .when(F.col("_rk") <= t2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(bucketed, "id", "left")
        .select(
            "id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "ppl_bits",
            F.coalesce("bucket", F.lit("short")).alias("bucket"),
        )
    )


def _kn_scored(
    df: DataFrame,
    text_col: str,
    id_col: str,
    discount: float,
    lang_col: str | None = None,
) -> DataFrame:
    """The scoring stage of :func:`kn_perplexity_buckets` — per-doc
    ``(id, n_bigrams, ppl_bits)`` under an interpolated Kneser–Ney
    bigram LM — exposed separately so the plan audit can assert the
    count-table joins carry NO broadcast hint (same discipline as
    :func:`_lm_scored`; the rank stage checkpoints, which would hide
    these joins from the final plan).

    Model (Kneser & Ney 1995; Chen & Goodman 1999 interpolated form —
    the smoothing KenLM ships and CCNet's scorer actually uses):

      P(w2|w1) = (c(w1,w2) − D)/c(w1•)
                 + D·N1+(w1,•)/c(w1•) · N1+(•,w2)/N1+(•,•)

    with context token counts ``c(w1•) = Σ_w2 c(w1,w2)`` (NOT raw
    unigram counts — the last token of each doc is never a context),
    forward continuation types ``N1+(w1,•)``, backward continuation
    types ``N1+(•,w2)``, and total distinct bigram types as the
    continuation normalizer. Every scored bigram is observed
    (c ≥ 1 > D), so the discounted term is strictly positive and the
    ``max(·,0)`` of the textbook form is vacuous here.

    Determinism: both engines evaluate the identically-parenthesized
    double expression (D = 0.75 is exactly representable), per-bigram
    ``-log2`` pre-rounded to 9 decimals, per-doc mean to 6.

    With ``lang_col`` set, every count table is additionally keyed by
    the language — PER-LANGUAGE KN LMs, which is what CCNet actually
    trains (one KenLM per language); the types normalizer becomes a
    languages-count row set (still tiny — broadcast equi-join instead
    of the 1-row crossJoin), and the output carries ``lang``.
    """
    sel = [
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    ]
    g = ["g"] if lang_col else []
    if lang_col:
        sel.insert(1, F.col(lang_col).alias("g"))
    pe = df.select(*sel)
    w = Window.partitionBy("id").orderBy("pos")
    bigrams = (
        pe.select(
            "id",
            *g,
            F.col("tok").alias("w1"),
            F.lead("tok", 1).over(w).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
        .localCheckpoint(eager=False)
    )
    big = bigrams.groupBy(*g, "w1", "w2").agg(
        F.count(F.lit(1)).alias("c12")
    ).localCheckpoint(eager=False)
    ctx = big.groupBy(*g, "w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("nf")
    )
    cont = big.groupBy(*g, "w2").agg(F.count(F.lit(1)).alias("nb"))
    d = F.lit(discount)
    p = (F.col("c12") - d) / F.col("c1") + (
        d * F.col("nf") / F.col("c1")
    ) * (F.col("nb") / F.col("t"))
    bits = F.round(-F.log2(p), 9)
    joined = (
        bigrams.join(big, g + ["w1", "w2"])
        .join(ctx, g + ["w1"])
        .join(cont, g + ["w2"])
    )
    if lang_col:
        types = big.groupBy("g").agg(F.count(F.lit(1)).alias("t"))
        joined = joined.join(F.broadcast(types), "g")
    else:
        types = big.agg(F.count(F.lit(1)).alias("t"))
        joined = joined.crossJoin(F.broadcast(types))
    return joined.groupBy("id", *g).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg(bits), 6).alias("ppl_bits"),
    )


def kn_perplexity_buckets(
    df: DataFrame, text_col: str, id_col: str, discount: float = 0.75
) -> DataFrame:
    """Interpolated Kneser–Ney LM quality scoring — the smoothing
    KenLM implements and the CCNet pipeline's scorer actually runs
    (the add-one variant :func:`lm_perplexity_buckets` is the
    pedagogical baseline; KN's continuation-probability backoff is
    what separates "San Francisco" from "San glasses" at equal
    unigram frequency). Scores every document by mean bigram
    surprisal under a corpus-trained interpolated-KN bigram LM, then
    buckets into CCNet's head / middle / tail terciles by exact
    global rank.

    Shape: the bigram table checkpoints once and feeds FOUR
    aggregates (pair counts, forward context stats, backward
    continuation types, total types) — all plain equi-joins with NO
    broadcast hint except the 1-row types aggregate; on raw web text
    the distinct-bigram table is corpus-scale and the w1/w2 vocab
    tables unbounded, so AQE picks the join strategy. Rank via the
    two-phase :func:`_ordered_row_number` — no single-partition
    window anywhere.

    Output: ``id``, ``n_bigrams``, ``ppl_bits`` (6 dp), ``bucket``
    (head / middle / tail / short).
    """
    return _ppl_terciles(
        df, _kn_scored(df, text_col, id_col, discount), id_col
    )


def decontaminate_neardup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_eval,
    num_hashes: int = 8,
    bands: int = 8,
    k: int = 3,
) -> DataFrame:
    """FUZZY benchmark decontamination (the RefinedWeb/GPT-3 appendix
    companion to the exact-gram :func:`decontaminate`): flag training
    documents that are NEAR-duplicates of any eval document under
    banded MinHash-LSH. Exact-gram matching misses paraphrased or
    lightly-edited leakage; the banded screen errs toward flagging —
    here with 1-row bands by default (high recall, low precision:
    ANY shared minhash makes a candidate), which is the right
    failure direction for contamination.

    Shape: signatures over the full corpus (one keyed shuffle), the
    EVAL side's band keys broadcast (a benchmark suite is tiny next
    to a 100 TB corpus — the same asymmetry :func:`decontaminate`
    exploits), so the training corpus streams map-side through the
    band join.

    Output (flagged training docs only): ``id``,
    ``n_eval_partners`` (distinct eval docs sharing a band),
    ``n_band_hits`` (total band collisions).
    """
    from isilon_hadoop_tools_spark.operators.dedup import (
        minhash_signatures,
    )

    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    rpb = num_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, k)
    banded = sigs.withColumn(
        "band", F.floor(F.col("seed") / rpb).cast("int")
    ).groupBy("id", "band").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seed", "minhash"))),
                lambda s: s["minhash"].cast("string"),
            ),
            ",",
        ).alias("band_key")
    )
    eval_ids = df.filter(is_eval).select(F.col(id_col).alias("eid"))
    e = banded.join(
        eval_ids, banded["id"] == eval_ids["eid"]
    ).select("band", "band_key", "eid")
    t = banded.join(
        eval_ids, banded["id"] == eval_ids["eid"], "left_anti"
    )
    return (
        t.join(F.broadcast(e), ["band", "band_key"])
        .groupBy("id")
        .agg(
            F.count_distinct("eid").alias("n_eval_partners"),
            F.count(F.lit(1)).alias("n_band_hits"),
        )
    )


def web_curation_pipeline(
    df: DataFrame,
    url_col: str,
    text_col: str,
    id_col: str,
    cap: int,
    is_eval,
    n: int = 3,
    html_col: str | None = None,
) -> DataFrame:
    """WEB-corpus curation capstone — the URL-family sibling of
    :func:`curation_pipeline` (which composes the quality/substring
    family): canonical-URL keep-one dedup → per-registrable-domain
    frequency cap on the URL-kept survivors → contamination span cut
    of the final kept docs against the eval slice, one hash-checked
    composition over the stages every web pipeline (CCNet → C4 →
    RefinedWeb → FineWeb) runs in this order (URL identity first —
    it's the cheapest signal — domain mixing second, leakage last).

    ``is_eval`` is a boolean Column over the normalized ``id``; eval
    rows are the benchmark and never appear in the output.

    Output, one row per non-eval input doc: ``id``, ``domain``,
    ``stage`` — ``'url_dup'`` (lost the canonical-URL keep-one),
    ``'domain_cap'`` (URL-kept but over the domain cap), ``'kept'`` —
    and ``n_removed`` (tokens cut by decontamination; 0 unless kept).

    Scale shape = the composed operators' shapes: keep-one is one
    keyed aggregate + join back, the cap ranks only above-cap
    domains, the cut broadcasts eval grams; stages hand forward
    id-lists (left-semi joins), never widened rows.
    """
    from isilon_hadoop_tools_spark.operators.urls import (
        domain_caps,
        host_expr,
        registrable_domain_expr,
        url_keep_one,
    )

    # HTML front door (r14): pass html_col instead of clean text and
    # the L74 extraction runs INLINE in this same projection (scan-
    # fused column algebra, no extra join or shuffle) — every stage
    # downstream tokenizes on whitespace, so extracted text composes
    # unchanged. This is where a real crawl enters the pipeline.
    text_expr = (
        html_extracted_text(html_col)
        if html_col is not None
        else F.col(text_col)
    )
    d = df.select(
        F.col(id_col).alias("id"),
        F.col(url_col).alias("url"),
        text_expr.alias("text"),
    )
    if html_col is not None:
        # the HTML extraction chain is the pipeline's dominant
        # per-row compute and d is consumed by THREE branches (the
        # train checkpoint plus both decon_input arms) — checkpoint
        # so extraction runs once, not three times. Widening d before
        # the checkpoint (the html_extract fix) was tried and
        # REVERTED: every downstream stage of this MANY-stage pipeline
        # then runs 32 tasks of per-task overhead on trivially small
        # data — paired A/B 3.7 → 9.1 s.
        d = d.localCheckpoint(eager=False)
    train = d.filter(~is_eval).localCheckpoint(eager=False)
    ku = url_keep_one(train, "url", "id").select(
        "id", F.col("kept").alias("_uk")
    )
    url_kept = ku.filter(F.col("_uk")).select("id")
    survivors = train.join(url_kept, "id", "left_semi")
    ck = domain_caps(survivors, "url", "id", cap).select(
        "id", F.col("kept").alias("_ck")
    )
    kept_ids = ck.filter(F.col("_ck")).select("id")
    decon_input = d.join(kept_ids, "id", "left_semi").unionByName(
        d.filter(is_eval)
    )
    cut = decontaminate_cut(
        decon_input.select("id", "text"), "text", "id", is_eval, n
    ).select("id", "n_removed")
    dom = train.select(
        "id", registrable_domain_expr(host_expr("url")).alias("domain")
    )
    return (
        dom.join(ku, "id", "left")
        .join(ck, "id", "left")
        .join(cut, "id", "left")
        .select(
            "id",
            "domain",
            F.when(~F.col("_uk"), F.lit("url_dup"))
            .when(~F.coalesce(F.col("_ck"), F.lit(False)), F.lit("domain_cap"))
            .otherwise(F.lit("kept"))
            .alias("stage"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
        )
    )


def _lang_char_features(
    df: DataFrame,
    text_col: str,
    id_col: str,
    lang_col: str,
    n_buckets: int,
    ngram_n: int,
) -> DataFrame:
    """Hashed char-n-gram count features ``(id, lang_y, j, x)`` for
    the trained language identifier — fastText's langid recipe uses
    char n-grams because they survive domains where stopwords never
    appear; buckets come from the cross-engine md5 hash (the hash IS
    the vocabulary, collisions included), plus a bias feature at
    index ``n_buckets``."""
    from isilon_hadoop_tools_spark.functions.text import char_ngrams

    ids = df.select(
        F.col(id_col).alias("id"),
        F.col(lang_col).alias("lang_y"),
        F.col(text_col).alias("_t"),
    )
    tf = (
        ids.select(
            "id", "lang_y", F.explode(char_ngrams("_t", ngram_n)).alias("g")
        )
        .select("id", "lang_y", (stable_hash32("g") % n_buckets).alias("j"))
        .groupBy("id", "lang_y", "j")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    bias = ids.select(
        "id",
        "lang_y",
        F.lit(n_buckets).cast("long").alias("j"),
        F.lit(1).cast("long").alias("x"),
    )
    return tf.unionByName(bias)


def _lang_gd(
    feats: DataFrame,
    langs: list[str],
    n_docs: int,
    n_buckets: int,
    rounds: int,
    lr_num: int,
    lr_den: int,
    scale: int,
) -> dict[tuple[str, int], int]:
    """One-vs-rest integer GD over ALL languages in one scan per
    round (the CCNet/fastText lang-ID trainer re-expressed on the
    engine's hard-sigmoid integer discipline — see ``_quality_gd``
    for the determinism contract): features explode across the L
    language heads, margins and gradients aggregate per (lang, j)
    keyed by one flat ``li*(D+1)+j`` map literal, and the driver
    holds L x (D+1) fixed-point weights — bounded by parameters,
    never by data. At 100 TB each round is one corpus scan with
    map-side partials; L multiplies the shuffled partial rows, not
    the scan count."""
    feats = feats.localCheckpoint(eager=True)
    four_s = 4 * scale
    lang_arr = F.array(*[F.lit(lg) for lg in langs])
    w: dict[tuple[str, int], int] = {
        (lg, j): 0 for lg in langs for j in range(n_buckets + 1)
    }
    li = {lg: i for i, lg in enumerate(langs)}
    den = lr_den * 4 * max(n_docs, 1)
    for _ in range(rounds):
        wmap = lit_long_map(
            {li[lg] * (n_buckets + 1) + j: v for (lg, j), v in w.items()}
        )
        f2 = feats.withColumn(
            "_li", F.explode(F.array(*[F.lit(i) for i in range(len(langs))]))
        )
        key = (F.col("_li") * (n_buckets + 1) + F.col("j")).cast("long")
        margins = (
            f2.withColumn(
                "_w", F.coalesce(F.try_element_at(wmap, key), F.lit(0))
            )
            .groupBy("id", "_li")
            .agg(F.sum(F.col("_w") * F.col("x")).alias("m"))
            .select(
                "id",
                "_li",
                F.least(
                    F.lit(four_s).cast("long"),
                    F.greatest(
                        F.lit(0).cast("long"), F.lit(2 * scale) + F.col("m")
                    ),
                ).alias("N"),
            )
        )
        joined = feats.join(margins, "id")
        y = (
            F.element_at(lang_arr, (F.col("_li") + 1).cast("int"))
            == F.col("lang_y")
        ).cast("long")
        grads = (
            joined.select(
                "_li",
                "j",
                ((F.col("N") - F.lit(four_s) * y) * F.col("x")).alias("g"),
            )
            .groupBy("_li", "j")
            .agg(F.sum("g").alias("G"))
            .collect()
        )
        G = {
            (langs[int(r["_li"])], int(r["j"])): int(r["G"]) for r in grads
        }
        for kk in w:
            w[kk] = w[kk] - _tdiv(lr_num * G.get(kk, 0), den)
    return w


def lang_classifier_eval(
    df: DataFrame,
    text_col: str,
    id_col: str,
    lang_col: str,
    langs: list[str],
    train_filter,
    n_buckets: int = 64,
    rounds: int = 2,
    ngram_n: int = 3,
    lr_num: int = 1,
    lr_den: int = 4,
    scale: int = 1000,
) -> DataFrame:
    """Held-out confusion table for the trained language identifier
    (the ``doc_quality_eval`` discipline): train the one-vs-rest
    heads on ``train_filter`` rows only, predict every HOLDOUT doc as
    the argmax-margin language (ties -> lexicographically smallest,
    so the answer is total-order deterministic), and report the
    long-form confusion matrix.

    Output: ``labeled_lang``, ``predicted_lang``, ``n``, ``share``
    (row-normalized, 6 dp). Scoring is one scan over the holdout with
    the L x (D+1) weights broadcast as a map literal."""
    train = df.filter(train_filter)
    test = df.filter(~train_filter)
    feats_tr = _lang_char_features(
        train, text_col, id_col, lang_col, n_buckets, ngram_n
    )
    w = _lang_gd(
        feats_tr, langs, train.count(), n_buckets, rounds, lr_num, lr_den,
        scale,
    )
    li = {lg: i for i, lg in enumerate(langs)}
    wmap = lit_long_map(
        {li[lg] * (n_buckets + 1) + j: v for (lg, j), v in w.items()}
    )
    lang_arr = F.array(*[F.lit(lg) for lg in langs])
    feats_te = _lang_char_features(
        test, text_col, id_col, lang_col, n_buckets, ngram_n
    )
    f2 = feats_te.withColumn(
        "_li", F.explode(F.array(*[F.lit(i) for i in range(len(langs))]))
    )
    key = (F.col("_li") * (n_buckets + 1) + F.col("j")).cast("long")
    margins = (
        f2.withColumn("_w", F.coalesce(F.try_element_at(wmap, key), F.lit(0)))
        .groupBy("id", "lang_y", "_li")
        .agg(F.sum(F.col("_w") * F.col("x")).alias("m"))
    )
    pred = margins.groupBy("id", "lang_y").agg(
        F.min(
            F.struct(
                (-F.col("m")).alias("nm"),
                F.element_at(lang_arr, (F.col("_li") + 1).cast("int")).alias(
                    "lang"
                ),
            )
        ).alias("_b")
    )
    return (
        pred.select(
            F.col("lang_y").alias("labeled_lang"),
            F.col("_b.lang").alias("predicted_lang"),
        )
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "share",
            F.round(
                F.col("n")
                / F.sum("n").over(Window.partitionBy("labeled_lang")),
                6,
            ),
        )
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    sep: str = "\n",
) -> DataFrame:
    """CCNet-style PARAGRAPH-level exact dedup — the step CCNet runs
    before anything else (Wenzek et al., 2020 §3.1 dedups paragraph
    hashes across shards; navigation boilerplate, cookie banners, and
    shared headers die here long before document-level passes): an
    occurrence of a paragraph survives iff it is the corpus-wide
    (min id, min pos) occurrence of that exact paragraph text; every
    later occurrence is cut, and the cleaned document is re-assembled
    in original paragraph order.

    Scale shape: one posexplode scan -> one paragraph-keyed aggregate
    (map-side partials; the ultra-hot boilerplate paragraph is ONE
    group, and the representative join back is AQE-skew-handled, the
    same discipline as ``url_keep_one``) -> one id-keyed re-assembly
    aggregate. No windows over data-sized partitions, no UDFs.

    Output: ``id``, ``n_paras``, ``n_kept``, ``text_clean`` (kept
    paragraphs re-joined with ``sep``; empty string when everything
    was cut).
    """
    paras = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    )
    first = paras.groupBy("para").agg(
        F.min(F.struct("id", "pos")).alias("_f")
    )
    flagged = paras.join(first, "para").select(
        "id",
        "pos",
        "para",
        (
            (F.col("id") == F.col("_f.id")) & (F.col("pos") == F.col("_f.pos"))
        ).alias("keep"),
    )
    rebuilt = flagged.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("keep"), F.struct("pos", "para")
                        )
                    )
                ),
                lambda s: s["para"],
            ),
            sep,
        ).alias("text_clean"),
    )
    return df.select(F.col(id_col).alias("id")).join(
        rebuilt, "id", "left"
    ).select(
        "id",
        F.coalesce("n_paras", F.lit(0)).alias("n_paras"),
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("text_clean", F.lit("")).alias("text_clean"),
    )


def quality_threshold_sweep(
    df: DataFrame,
    score_expr,
    weight_expr,
    step_m: int = 5,
) -> DataFrame:
    """Filter-threshold calibration table (the FineWeb-Edu release
    artifact: "keeping docs with score >= t retains X% of tokens"):
    for every threshold t = k·step_m/100, how many documents and how
    much token mass survive ``score >= t``. The curation team picks
    the threshold off this curve instead of re-running the filter per
    candidate t.

    ONE corpus scan: scores bucketize to the step grid (map-side
    combinable 21-row aggregate for step_m=5), the sweep is a reverse
    cumulative sum over the GRID rows (a single-partition window over
    ~21 rows — parameter-sized, not data-sized).

    Output per threshold: ``threshold`` (6 dp), ``n_docs_kept``,
    ``weight_kept``, ``weight_share`` (6 dp of total).
    """
    nbins = 100 // step_m
    b = F.least(
        F.lit(nbins),
        F.greatest(
            F.lit(0),
            F.floor(score_expr.cast("double") * 100 / step_m).cast("int"),
        ),
    )
    binned = (
        df.select(b.alias("_b"), weight_expr.cast("long").alias("_w"))
        .groupBy("_b")
        .agg(F.count(F.lit(1)).alias("_n"), F.sum("_w").alias("_ws"))
    )
    grid = df.sparkSession.range(0, nbins + 1).select(
        F.col("id").cast("int").alias("_b")
    )
    full = grid.join(binned, "_b", "left").select(
        "_b",
        F.coalesce("_n", F.lit(0)).alias("_n"),
        F.coalesce("_ws", F.lit(0)).alias("_ws"),
    )
    w = (
        Window.orderBy(F.col("_b").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = full.agg(F.sum("_ws").alias("_t"))
    return (
        full.select(
            F.round(F.col("_b") * step_m / 100.0, 6).alias("threshold"),
            F.sum("_n").over(w).alias("n_docs_kept"),
            F.sum("_ws").over(w).alias("weight_kept"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "threshold",
            "n_docs_kept",
            "weight_kept",
            F.round(
                F.when(F.col("_t") > 0, F.col("weight_kept") / F.col("_t"))
                .otherwise(F.lit(0.0)),
                6,
            ).alias("weight_share"),
        )
    )


def doremi_weights(
    df: DataFrame,
    text_col: str,
    id_col: str,
    domain_col: str,
    eta: float = 0.5,
    eps: float = 0.1,
    iters: int = 5,
) -> DataFrame:
    """DoReMi domain reweighting (Xie et al. 2023 — the mixture
    optimizer behind the Pile-weights result): iterate multiplicative
    weights over DOMAINS using per-domain excess loss, so
    hard-for-the-reference domains gain sampling mass and the final
    weights feed the mixture planner in place of hand-tuned shares.

    The loss stand-in is deterministic so the oracle can recompute
    it: per-domain mean token surprisal under the corpus unigram LM
    (the :func:`unigram_surprisal` term, 9-dp pre-rounded), and the
    reference loss is the global mean — ``excess_d =
    max(loss_d − loss_global, 0)`` (6 dp), DoReMi's clipped excess.
    Each of the ``iters`` rounds then runs the paper's update with
    uniform smoothing::

        u_d   = w_d · exp(η · excess_d)
        w'_d  = round((1 − ε) · u_d / Σu + ε/k, 9)

    The ε-mix with uniform keeps every domain sampled (the paper's
    regularization) AND makes the fixed point non-trivial, so the
    unrolled iterations genuinely move — a pure multiplicative
    update with static losses would collapse to one exp().

    Shape: one corpus token scan into vocabulary-keyed counts (plain
    equi-join, NO broadcast hint — whitespace vocabulary is unbounded
    on web text; only the 1-row totals broadcast), one domain-keyed
    aggregate, then every iteration runs on the k-row domain table
    (window sums over parameter-sized data — the PSI band-table
    discipline).

    Output: ``domain``, ``n_docs``, ``n_tokens``, ``loss_bits``,
    ``excess_bits``, ``weight`` (final, 6 dp; sums to 1).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1; got {iters}")
    toks = df.select(
        F.col(id_col).alias("id"),
        F.col(domain_col).alias("domain"),
        F.explode(tokens(text_col)).alias("term"),
    )
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("tf_total"))
    totals = freq.agg(
        F.sum("tf_total").alias("t_tokens"),
        F.count(F.lit(1)).alias("v_terms"),
    )
    bits = F.round(
        -F.log2(
            (F.col("tf_total") + 1.0)
            / (F.col("t_tokens") + F.col("v_terms"))
        ),
        9,
    )
    scored = toks.join(freq, "term").crossJoin(F.broadcast(totals))
    # ONE corpus pass for both the per-domain losses AND the global
    # reference: rollup emits the k domain rows plus the grand-total
    # row in the same aggregation (separate dom/ref aggregates would
    # recompute the token-join pipeline twice — the audit caught 31
    # scans); the k+1-row result checkpoints (bounded), so the five
    # iteration selects never reach back into the corpus lineage.
    agg = (
        scored.rollup("domain")
        .agg(
            F.grouping_id().alias("_gid"),
            F.count_distinct("id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(bits), 6).alias("loss_bits"),
        )
        .localCheckpoint(eager=False)
    )
    dom = agg.filter(F.col("_gid") == 0).drop("_gid")
    ref = agg.filter(F.col("_gid") == 1).select(
        F.col("loss_bits").alias("ref_bits")
    )
    wall = Window.partitionBy()
    k = F.count(F.lit(1)).over(wall)
    cur = (
        dom.crossJoin(F.broadcast(ref))
        .withColumn(
            "excess_bits",
            F.round(
                F.greatest(
                    F.col("loss_bits") - F.col("ref_bits"), F.lit(0.0)
                ),
                6,
            ),
        )
        .withColumn("weight", F.lit(1.0) / k)
    )
    for _ in range(iters):
        cur = cur.withColumn(
            "_u", F.col("weight") * F.exp(F.lit(eta) * F.col("excess_bits"))
        ).withColumn(
            "weight",
            F.round(
                F.lit(1.0 - eps) * F.col("_u") / F.sum("_u").over(wall)
                + F.lit(eps) / k,
                9,
            ),
        ).drop("_u")
    return cur.select(
        "domain",
        "n_docs",
        "n_tokens",
        "loss_bits",
        "excess_bits",
        F.round("weight", 6).alias("weight"),
    )


def pack_sequences(
    df: DataFrame,
    text_col: str,
    id_col: str,
    context_len: int = 512,
    n_shards: int = 8,
) -> DataFrame:
    """Cross-document SEQUENCE PACKING for pretraining batches — the
    multipack / first-fit-decreasing packing finetuning stacks run
    (HF TRL's ``packing=True``, axolotl's multipack sampler; distinct
    from :func:`pack_chunks`, which chunks WITHIN one document):
    whole documents are binned into fixed ``context_len``-token
    training sequences so short documents share a context window
    instead of wasting it on padding.

    Documents are token-capped at ``context_len`` first (the standard
    truncate-to-context step — an over-length doc would occupy a
    sequence alone anyway), sharded by ``id mod n_shards`` (shards =
    the parallel packing domains a distributed sampler uses; packing
    is per-shard so no global sort exists), then packed per shard by
    the size-ordered start-offset rule shared with
    :func:`skew.compaction_plan` — one partition-keyed shuffle,
    windows bounded by docs-per-shard. A sequence accepts documents
    whose start offset falls inside it, so fill can exceed 1.0 by at
    most one document's tail; the trainer's concat-and-slice consumes
    the overflow (reported honestly in ``fill_frac``).

    Output per packed sequence: ``shard``, ``seq_no``, ``n_docs``,
    ``n_tokens`` (capped sum), ``fill_frac`` (6 dp), plus the
    shard-level ``n_seqs`` so the padding-saved readout is one
    aggregate away.
    """
    from isilon_hadoop_tools_spark.functions.text import token_count
    from isilon_hadoop_tools_spark.operators.skew import compaction_plan

    toks = df.select(
        F.pmod(F.col(id_col), F.lit(n_shards)).alias("shard"),
        F.col(id_col).alias("id"),
        F.least(token_count(text_col), F.lit(context_len)).cast(
            "long"
        ).alias("n_tok"),
    )
    plan = compaction_plan(toks, "shard", "id", "n_tok", context_len)
    per_seq = plan.groupBy(
        F.col("partition").alias("shard"), F.col("bin_seq").alias("seq_no")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("size_bytes").alias("n_tokens"),
    )
    w_shard = Window.partitionBy("shard")
    return per_seq.select(
        "shard",
        "seq_no",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.lit(float(context_len)), 6).alias(
            "fill_frac"
        ),
        F.count(F.lit(1)).over(w_shard).alias("n_seqs"),
    )


def ccnet_pipeline(
    df: DataFrame,
    text_col: str,
    id_col: str,
    sep: str = "\n",
) -> DataFrame:
    """The CCNet pipeline END TO END (Wenzek et al. 2020) — the
    capstone composing the three stages the paper runs, in the
    paper's order, from operators this engine already ships:

      1. paragraph-hash dedup (:func:`paragraph_dedup`) — boilerplate
         dies corpus-wide before anything looks at content;
      2. language ID on the CLEANED text (the stopword-profile
         heuristic — CCNet runs fastText here; the argmax shape is
         identical);
      3. per-LANGUAGE interpolated-KN perplexity
         (:func:`_kn_scored` with ``lang_col`` — CCNet trains one
         KenLM per language) bucketed into head/middle/tail terciles
         WITHIN each language.

    Per-language terciles without a data-sized window: ONE two-phase
    global rank ordered by (lang, ppl_bits, id)
    (:func:`_ordered_row_number`), then the within-language rank is
    the global rank minus the language's cumulative offset — the
    offset/threshold table is languages-count rows (parameter-sized
    window), so no partition ever holds one language's whole corpus.

    Output: ``id``, ``lang``, ``n_paras``, ``n_kept``,
    ``n_bigrams``, ``ppl_bits``, ``bucket`` (head / middle / tail
    within the doc's language; 'short' below 2 cleaned tokens).
    """
    from isilon_hadoop_tools_spark.functions.text import lang_id

    clean = paragraph_dedup(df, text_col, id_col, sep).localCheckpoint(
        eager=False
    )
    langd = clean.withColumn("lang", lang_id(F.col("text_clean")))
    scored = _kn_scored(langd, "text_clean", "id", 0.75, lang_col="lang")
    ranked = _ordered_row_number(
        scored.withColumnRenamed("g", "lang"),
        "lang",
        ["ppl_bits", "id"],
        out="_rn",
    ).localCheckpoint(eager=False)
    counts = ranked.groupBy("lang").agg(F.count(F.lit(1)).alias("_n"))
    w_prev = Window.orderBy("lang").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "lang",
        "_n",
        F.coalesce(F.sum("_n").over(w_prev), F.lit(0)).alias("_off"),
    )
    rk = F.col("_rn") - F.col("_off")
    bucketed = ranked.join(F.broadcast(offsets), "lang").select(
        "id",
        "n_bigrams",
        "ppl_bits",
        F.when(rk <= F.floor(F.col("_n") / 3), F.lit("head"))
        .when(rk <= F.floor(2 * F.col("_n") / 3), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
    return (
        langd.select("id", "lang", "n_paras", "n_kept")
        .join(bucketed, "id", "left")
        .select(
            "id",
            "lang",
            "n_paras",
            "n_kept",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "ppl_bits",
            F.coalesce("bucket", F.lit("short")).alias("bucket"),
        )
    )


# ---------------------------------------------------------------------------
# HTML text extraction (L74): the stage every real web pipeline runs FIRST
# ---------------------------------------------------------------------------

_HTML_DROP_PATTERNS = [
    # invisible content: scripts, styles, comments, the whole <head>
    r"(?is)<script\b[^>]*>.*?</script>",
    r"(?is)<style\b[^>]*>.*?</style>",
    r"(?is)<!--.*?-->",
    r"(?is)<head\b[^>]*>.*?</head>",
]

# block-LEVEL tags become block boundaries; inline tags (<a>, <b>,
# <span>, ...) are stripped in place so their text stays in the block
_HTML_BLOCK_TAG = (
    r"(?is)</?(?:p|div|br|h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|"
    r"tr|td|th|blockquote|pre|section|article|header|footer|nav|aside|"
    r"form|figure|figcaption|main|hr|body|html)\b[^>]*>"
)

_HTML_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&copy;", "©"),
    ("&amp;", "&"),  # last, so &amp;lt; decodes to &lt; not <
]


def html_extract(
    df: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
    min_words: int = 5,
    max_anchor_ratio: float = 0.2,
) -> DataFrame:
    """HTML text extraction + block-level boilerplate removal — the
    FIRST stage of every web-corpus pipeline the §2.12 family mirrors
    (C4/CCNet/RefinedWeb/FineWeb all start at crawled HTML, not clean
    text; Kohlschütter 2010 boilerpipe / Pomikálek 2011 jusText are
    the block-density models this distills): invisible content
    (scripts, styles, comments, the whole ``<head>``) is cut, BLOCK-
    level tags become block boundaries, inline tags are stripped in
    place, entities are decoded, and each block is kept only if it
    reads like prose — at least ``min_words`` words and an anchor
    density (``<a>`` tags per word, the jusText link-density signal)
    of at most ``max_anchor_ratio``; nav bars, share buttons, and
    link-farm footers fail one or both.

    Everything is stateless per-row column algebra (regex chains +
    array higher-order functions, all JVM-side — the ``redact_pii``
    discipline): the plan is ONE scan-bound projection with no UDF
    and no state, so it pipelines at any scale and composes in front
    of the curation capstones. Inputs narrower than the shuffle
    partition count take one conditional keyed repartition first
    (``widen_narrow_input``) so the regex compute is not bound to a
    1-2-task scan; any real many-split corpus skips it and the plan
    is shuffle-free. The anchor-density
    comparison is exact integer math (``anchors·100 ≤
    words·round(ratio·100)``) so any engine replays it bit-for-bit.

    Output per doc: ``extracted_text`` (kept blocks joined by
    newline, whitespace-normalized), ``n_blocks`` (non-empty text
    blocks seen), ``n_kept``.
    """
    from isilon_hadoop_tools_spark.session import widen_narrow_input

    # the regex chain below is the query's entire compute and runs at
    # scan width — one parquet file at bench scale means 1-2 tasks;
    # widen conditionally (no-op on a many-split production crawl)
    df = widen_narrow_input(df, id_col)
    nonempty, kept = _html_blocks(html_col, min_words, max_anchor_ratio)
    return df.select(
        F.col(id_col),
        F.array_join(
            F.transform(kept, lambda s: s["txt"]), "\n"
        ).alias("extracted_text"),
        F.size(nonempty).alias("n_blocks"),
        F.size(kept).alias("n_kept"),
    )


def _html_blocks(html_col: str, min_words: int, max_anchor_ratio: float):
    """The (non-empty-blocks, kept-blocks) array Columns behind
    :func:`html_extract` — exposed so composers (the web-curation
    capstone's HTML front door) inline the extraction into their own
    scan instead of paying a join."""
    pct = int(round(max_anchor_ratio * 100))
    # real crawls carry binary junk: a pre-existing U+001E in the
    # input would read as a spurious block boundary below, so cut it
    # first (same scan-fused regexp chain, no extra stage)
    h = F.regexp_replace(F.col(html_col), "\u001e", "")
    for pat in _HTML_DROP_PATTERNS:
        h = F.regexp_replace(h, pat, "")
    # block boundaries via a control-char marker, NOT "\n": raw
    # newlines inside a paragraph are intra-block whitespace (HTML
    # semantics), not block splits
    h = F.regexp_replace(h, _HTML_BLOCK_TAG, "\u001e")
    blocks = F.split(h, "\u001e")

    def clean(b):
        t = F.regexp_replace(b, r"(?s)<[^>]*>", "")
        for ent, rep in _HTML_ENTITIES:
            t = F.replace(t, F.lit(ent), F.lit(rep))
        return F.trim(F.regexp_replace(t, r"\s+", " "))

    structs = F.transform(
        blocks,
        lambda b: F.struct(
            clean(b).alias("txt"),
            F.regexp_count(b, F.lit(r"(?i)<a[\s>]")).alias("anchors"),
        ),
    )
    structs = F.transform(
        structs,
        lambda s: F.struct(
            s["txt"].alias("txt"),
            s["anchors"].alias("anchors"),
            F.when(s["txt"] == "", F.lit(0))
            .otherwise(F.size(F.split(s["txt"], " ")))
            .alias("words"),
        ),
    )
    nonempty = F.filter(structs, lambda s: s["txt"] != "")
    kept = F.filter(
        nonempty,
        lambda s: (s["words"] >= F.lit(int(min_words)))
        & (s["anchors"] * F.lit(100) <= s["words"] * F.lit(pct)),
    )
    return nonempty, kept


def html_extracted_text(
    html_col: str,
    min_words: int = 5,
    max_anchor_ratio: float = 0.2,
) -> Column:
    """``extracted_text`` as a single Column expression over an HTML
    column — :func:`html_extract`'s payload for inlining into a wider
    projection (scan-fused, no join)."""
    _, kept = _html_blocks(html_col, min_words, max_anchor_ratio)
    return F.array_join(F.transform(kept, lambda s: s["txt"]), "\n")


def html_links(
    df: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
) -> DataFrame:
    """Outlink extraction (L74b) — the other half of what a crawl
    yields besides text: every ``<a href="...">`` target in the raw
    HTML, one ``(id, href)`` row per occurrence (duplicates kept —
    multiplicity IS the edge weight upstream of the web-graph ops).
    Anchors inside scripts/comments/head are NOT links and are cut
    first with the L74 drop passes.

    One scan-bound projection (regex extract-all + explode, JVM-side)
    — composes with :func:`..graph.pagerank` / the domain-caps family
    for the crawl-frontier and link-spam readouts every web pipeline
    runs beside text curation."""
    h = F.col(html_col)
    for pat in _HTML_DROP_PATTERNS:
        h = F.regexp_replace(h, pat, "")
    hrefs = F.regexp_extract_all(
        h, F.lit(r'(?i)<a\s[^>]*href="([^"]*)"'), 1
    )
    return df.select(
        F.col(id_col), F.explode(hrefs).alias("href")
    )


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
    stopwords: tuple = ("the", "be", "to", "of", "and", "that", "have", "with"),
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021, table A1 — the rule set
    every later pipeline starts from; RefinedWeb and FineWeb both
    ship a variant): the NON-repetition document filters as explicit
    per-rule booleans — word-count window, mean word length window,
    symbol-to-word ratio (``#``/``…`` weirdness), alphabetic-word
    ratio, and the must-contain-N-of-the-common-stopwords rule (the
    cheap "is this prose at all" gate) — plus the conjunction
    ``passes``. Keeping each rule a COLUMN (not a pre-folded flag) is
    deliberate: threshold sweeps (L68) and funnel reports (L20)
    consume the per-rule bits.

    One scan-bound projection, pure column algebra over the split
    token array (counts, lengths, regex classes) — no shuffle, no
    UDF; ratios compared as exact integer cross-products (``sym·w ≤
    ratio·chars`` scaled by 100) so any engine replays the booleans
    bit-for-bit.
    """
    toks = F.split(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " ")
    w = F.size(toks)
    chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    # mean word length window as exact integer cross-products
    mwl_lo = chars * F.lit(10) >= w * F.lit(int(min_mean_word_len * 10))
    mwl_hi = chars * F.lit(10) <= w * F.lit(int(max_mean_word_len * 10))
    symbols = F.size(F.filter(toks, lambda t: t.rlike("[#…]")))
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike(r"[A-Za-z]")))
    stop_hits = F.size(
        F.filter(
            toks,
            lambda t: F.lower(t).isin(*stopwords),
        )
    )
    rules = {
        "word_count_ok": (w >= F.lit(min_words)) & (w <= F.lit(max_words)),
        "mean_word_len_ok": mwl_lo & mwl_hi,
        "symbol_ratio_ok": symbols * F.lit(100)
        <= w * F.lit(int(max_symbol_ratio * 100)),
        "alpha_word_ratio_ok": alpha_words * F.lit(100)
        >= w * F.lit(int(min_alpha_word_ratio * 100)),
        "stopword_rule_ok": stop_hits >= F.lit(min_stop_hits),
    }
    out = df.select(
        F.col(id_col),
        w.alias("n_words"),
        *[c.alias(n) for n, c in rules.items()],
    )
    passes = None
    for n in rules:
        passes = F.col(n) if passes is None else (passes & F.col(n))
    return out.withColumn("passes", passes)


def zipf_fit(
    df: DataFrame,
    text_col: str,
    id_col: str,
    top_n: int = 200,
) -> DataFrame:
    """Zipf rank-frequency fit (L77 -- the corpus-health diagnostic
    every tokenizer/corpus paper reports): natural text follows
    freq(rank) ~ C * rank^(-s) with s near 1, so the OLS line of
    ln(freq) on ln(rank) over the top-``top_n`` vocabulary summarizes
    whether a corpus looks like language (slope ~ -1, high R^2) or
    like templated/degenerate data (flat or cliffy). Duplicated
    boilerplate shows up as a plateau; truncated vocab as a cliff.

    Composes :func:`vocab_topk` (one (doc, term) partial agg + one
    term agg; the ranking window runs over the bounded top-``top_n``
    table, never the corpus) and finishes with ONE no-key regression
    aggregate (``regr_slope``/``regr_intercept``/``regr_r2`` -- all
    JVM-side). Output (1 row): ``n_terms``, ``slope``, ``intercept``,
    ``r2``, all 6 dp.
    """
    top = vocab_topk(df, text_col, id_col, k=top_n)
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("tf_total").cast("double"))
    return top.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
    )


def heaps_fit(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Heaps'-law vocabulary-growth fit (L78 -- Zipf's companion
    diagnostic): natural text grows vocabulary as V(N) ~ K * N^beta
    with beta ~ 0.4-0.6 over token count N, so the OLS of ln(V) on
    ln(N) across the corpus in document order separates organic text
    (sublinear, stable beta) from templated data (beta -> 0 fast) and
    id-like noise (beta -> 1). Zipf (L77) reads the frequency AXIS;
    this reads the growth CURVE -- corpora can pass one and fail the
    other.

    Exactness: V and N are exact integer cumulatives -- each term is
    attributed to its FIRST document (min doc id), per-document new-
    term and token counts cumulate via the two-phase ordered cumsum
    (no single-partition window), and only the final regression
    aggregate touches doubles (6 dp). Shape: one (doc, term) partial
    agg, one term-keyed min, one doc-keyed count, the range-
    partitioned cumsum, ONE no-key regr aggregate.

    Output (1 row): ``n_docs``, ``n_tokens``, ``n_terms``, ``beta``
    (the Heaps exponent = slope), ``ln_k`` (intercept), ``r2``.
    """
    from isilon_hadoop_tools_spark.operators.analytics import (
        _ordered_cumsum,
    )

    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term")
    ).filter(F.col("term") != "")
    n_toks = toks.groupBy("id").agg(F.count(F.lit(1)).alias("_nt"))
    first = toks.groupBy("term").agg(F.min("id").alias("id"))
    v_new = first.groupBy("id").agg(F.count(F.lit(1)).alias("_nv"))
    per_doc = n_toks.join(v_new, "id", "left").select(
        "id",
        F.col("_nt"),
        F.coalesce(F.col("_nv"), F.lit(0)).alias("_nv"),
    )
    cum = _ordered_cumsum(per_doc, "id", ["_nt", "_nv"])
    x = F.log(F.col("_cum__nt").cast("double"))
    y = F.log(F.col("_cum__nv").cast("double"))
    return cum.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("_cum__nt").alias("n_tokens"),
        F.max("_cum__nv").alias("n_terms"),
        F.round(F.regr_slope(y, x), 6).alias("beta"),
        F.round(F.regr_intercept(y, x), 6).alias("ln_k"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
    )


def phrase_search(
    df: DataFrame,
    text_col: str,
    id_col: str,
    phrase: str,
) -> DataFrame:
    """Positional inverted-index phrase search (L79 -- the IR
    primitive BM25 (L42) cannot express: "these tokens, adjacent, in
    this order"): the corpus explodes into a positional posting table
    ``(id, term, pos)``, each phrase term keeps only ITS postings
    (the selective filters push into the scan -- this is an index
    probe, not a text rescan), and k-1 equi-joins on
    ``(id, pos + offset)`` stitch adjacent positions back into
    occurrences. Overlapping matches count separately, exactly as a
    positional index answers.

    Shape: one (id, term, pos) explode, then k-1 joins keyed on
    (id, pos) whose inputs are per-term posting lists (corpus
    frequency of that term, not corpus size); final per-doc count
    with map-side partials. Output: ``(id_col, n_matches)`` for
    documents with >= 1 occurrence.
    """
    terms = phrase.split()
    if len(terms) < 2:
        raise ValueError(f"phrase needs >= 2 tokens; got {phrase!r}")
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "term"),
    )
    out = toks.filter(F.col("term") == terms[0]).select("id", "pos")
    for i, t in enumerate(terms[1:], start=1):
        nxt = toks.filter(F.col("term") == t).select(
            F.col("id").alias("_id"), (F.col("pos") - i).alias("_p")
        )
        out = out.join(
            nxt,
            (F.col("id") == F.col("_id")) & (F.col("pos") == F.col("_p")),
        ).select("id", "pos")
    return out.groupBy(F.col("id").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_matches")
    )


def vocab_coverage(
    df: DataFrame,
    text_col: str,
    id_col: str,
    vocab: DataFrame,
    vocab_col: str = "term",
) -> DataFrame:
    """Tokenizer-vocabulary coverage report (L54f — the pre-training
    check run against every trained vocabulary: a tokenizer whose
    vocab misses the corpus explodes sequence lengths through
    fallback): per document, total whitespace tokens, how many are
    OUT of the vocabulary, and the OOV rate (6 dp).

    Shape: one (doc, token) explode, ONE broadcast left-anti-style
    membership join against the vocabulary (vocab tables are bounded
    by construction — they were built with a top-k cut), per-doc
    aggregate with map-side partials.
    """
    v = vocab.select(F.col(vocab_col).alias("_v")).distinct()
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(text_col)).alias("term"),
    ).filter(F.col("term") != "")
    flagged = toks.join(
        F.broadcast(v), F.col("term") == F.col("_v"), "left"
    ).select("id", F.col("_v").isNull().cast("int").alias("_oov"))
    return flagged.groupBy(F.col("id").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("_oov").alias("n_oov"),
        F.round(F.sum("_oov") / F.count(F.lit(1)), 6).alias("oov_rate"),
    )


def gram_novelty(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_reference,
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram NOVELTY score against a reference split
    (L80 — the memorization/overlap-rate metric of Lee et al. 2022
    and the train-side mirror of L25's decontamination: decontaminate
    FLAGS overlap with an eval set, this MEASURES how much of each
    candidate document is n-gram-new relative to what the model will
    already have seen): for every non-reference document, the number
    of its n-grams (with multiplicity — a document that repeats a
    stale gram is stale twice) absent from the reference's distinct
    gram set, and the novelty rate.

    Shape: the L2 shingle machinery builds both sides' posting lists
    in one pass; the reference side collapses to DISTINCT grams
    (reference-vocabulary-sized) and the membership join is a
    LEFT join on the gram key — at a large reference, swap in the
    SC11 Bloom prefilter exactly as L38 does for the eval side.
    Output per candidate doc: ``n_grams``, ``n_novel``,
    ``novelty_rate`` (6 dp).
    """
    from isilon_hadoop_tools_spark.operators.dedup import (
        shingle_posting_list,
    )

    pe = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
        is_reference.alias("_ref"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [
        F.lead("tok", j).over(w) for j in range(1, n)
    ]
    grams = (
        pe.select(
            "id",
            "_ref",
            F.concat_ws(" ", *parts).alias("g"),
            parts[-1].alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .drop("_last")
        .localCheckpoint(eager=False)
    )
    ref = grams.filter(F.col("_ref")).select(
        F.col("g").alias("_rg")
    ).distinct()
    cand = grams.filter(~F.col("_ref"))
    flagged = cand.join(
        ref, cand["g"] == ref["_rg"], "left"
    ).select("id", F.col("_rg").isNull().cast("int").alias("_novel"))
    return flagged.groupBy(F.col("id").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum("_novel").alias("n_novel"),
        F.round(F.sum("_novel") / F.count(F.lit(1)), 6).alias(
            "novelty_rate"
        ),
    )
