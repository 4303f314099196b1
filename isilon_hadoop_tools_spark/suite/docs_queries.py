"""Suite queries — docs: document text analysis, corpus curation, tokenizer training.

Split from the original suite.py; registration order is enforced
centrally by the package __init__ via _CANONICAL_ORDER."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from isilon_hadoop_tools_spark.functions.hashing import (
    FINGERPRINT64_SQL,
    stable_hash32_sql,
)
from isilon_hadoop_tools_spark.functions.text import (
    bpe_token_count,
    punct_ratio,
    stopword_ratio,
    token_count,
)
from isilon_hadoop_tools_spark.operators import dedup, similarity

from isilon_hadoop_tools_spark.suite._shared import (
    REGISTRY,
    _BM25_TERMS,
    _CHUNK_SIZE,
    _CHUNK_STRIDE,
    _DECONTAMINATE_ORACLE,
    _DUP_SPAN_N,
    _MG_K,
    _MINHASH_SIGS_SQL,
    _REPETITION_SQL,
    _SHINGLE_SQL,
    _STOPWORDS,
    _STOPWORDS_SQL,
    _bpe_apply_oracle,
    _bpe_oracle,
    _fresh_state,
    _lang_id_oracle,
    _lang_score_sql,
    _pagerank_oracle,
    _quality_oracle,
    _sliced_stream,
    _t,
    _unigram_lm_oracle,
    _wordpiece_oracle,
    query,
)


@query(
    "doc_token_stats",
    oracle=rf"""
    SELECT doc_id,
           length(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
           length(regexp_extract_all(text,
                  '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_bpe_tokens,
           length(text) AS n_chars,
           round(length(text)::DOUBLE
                 / length(regexp_split_to_array(trim(text), '\s+')), 4)
             AS chars_per_token,
           round((length(text) - length(regexp_replace(text,
                  '[.,!?;:''"()\[\]{{}}\-]', '', 'g')))::DOUBLE
                 / length(text), 4) AS punct_ratio,
           round(length(list_filter(regexp_split_to_array(trim(text), '\s+'),
                  t -> t IN ({_STOPWORDS_SQL})))::DOUBLE
                 / length(regexp_split_to_array(trim(text), '\s+')), 4)
             AS stopword_ratio
    FROM documents
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality-score ingredients (whitespace tokens,
    BPE-ish regex tokens, punctuation / stopword ratios) — all
    JVM-side exprs, no Python in the loop."""
    docs = _t(spark, sf_dir, "documents")
    n_tokens = token_count("text")
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        bpe_token_count("text").alias("n_bpe_tokens"),
        F.length("text").alias("n_chars"),
        F.round(F.length("text") / n_tokens, 4).alias("chars_per_token"),
        F.round(punct_ratio("text"), 4).alias("punct_ratio"),
        F.round(stopword_ratio("text", _STOPWORDS), 4).alias("stopword_ratio"),
    )


@query(
    "doc_lang_quality",
    oracle=r"""
    SELECT lang,
           count(*) AS n_docs,
           round(avg(length(text)), 4) AS avg_chars,
           round(avg(length(regexp_split_to_array(trim(text), '\s+'))), 4)
             AS avg_tokens
    FROM documents
    GROUP BY lang
    """,
)
def doc_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-sliced corpus quality profile."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
        F.round(F.avg(token_count("text")), 4).alias("avg_tokens"),
    )


@query("doc_lang_id", oracle=_lang_id_oracle())
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (stopword-profile argmax) next to the
    labeled language — the LLM-pipeline lang-ID operator; profiles
    and tie order are one source of truth with the oracle."""
    from isilon_hadoop_tools_spark.functions.text import (
        LANG_PROFILES,
        lang_id,
        lang_score,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        lang_id("text").alias("detected_lang"),
        F.greatest(
            *[lang_score("text", lang) for lang in sorted(LANG_PROFILES)]
        ).alias("score"),
    )


@query(
    "doc_repetition_stats",
    oracle=f"""
    WITH {_REPETITION_SQL}
    SELECT b.doc_id,
           length(toks) AS n_tokens,
           round(length(list_distinct(toks))::DOUBLE / length(toks), 4)
             AS unique_token_ratio,
           coalesce(round(top_cnt::DOUBLE / n_grams, 4), 0.0)
             AS top_ngram_frac,
           coalesce(round(dup_cnt::DOUBLE / n_grams, 4), 0.0)
             AS dup_ngram_frac
    FROM rep_base b LEFT JOIN rep_per_doc p USING (doc_id)
    """,
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (Gopher-style quality
    filters): unique-token ratio, top-bigram fraction, duplicate-bigram
    fraction — the standard boilerplate/degenerate-repetition flags."""
    from isilon_hadoop_tools_spark.operators.corpus import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs, "text", "doc_id").withColumnRenamed(
        "id", "doc_id"
    )


@query(
    "doc_train_split",
    oracle=f"""
    SELECT doc_id, lang,
           {stable_hash32_sql("'split:' || doc_id::VARCHAR")} % 100 AS bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def doc_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-addressed train/val/test split: bucket =
    stable_hash32('split:' || id) % 100 — reproducible across runs and
    partitionings, no rand(), appends never reassign existing docs."""
    from isilon_hadoop_tools_spark.operators.corpus import hash_split

    docs = _t(spark, sf_dir, "documents")
    return hash_split(docs, "doc_id").select("doc_id", "lang", "bucket", "split")


@query(
    "doc_stratified_sample",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {stable_hash32_sql("'sample:' || doc_id::VARCHAR")},
                        doc_id) AS sample_rank
      FROM documents
    )
    SELECT doc_id, lang, sample_rank FROM ranked WHERE sample_rank <= 40
    """,
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum contribution cap: hash-ranked top-40
    per language — reproducible stratified sampling, no rand()."""
    from isilon_hadoop_tools_spark.operators.corpus import (
        stratified_sample_exact,
    )

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample_exact(docs, "lang", "doc_id", 40).select(
        "doc_id", "lang", "sample_rank"
    )


@query(
    "doc_pack_chunks",
    oracle=rf"""
    WITH sized AS (
      SELECT doc_id AS id, source,
             length(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
             {stable_hash32_sql("'pack:' || doc_id::VARCHAR")} AS ord
      FROM documents
    )
    SELECT id, source, n_tokens,
           -- ::BIGINT: DuckDB's integer-sum window yields HUGEINT ->
           -- float64 in pandas, hash-mismatching Spark's int64
           coalesce(sum(n_tokens) OVER (
             PARTITION BY source ORDER BY ord, id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
             AS tok_offset,
           (tok_offset // 2048)::BIGINT AS chunk_id
    FROM sized
    """,
)
def doc_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-split sequence packing: deterministic hash order per
    source, exclusive prefix-sum of token counts, chunk = offset //
    budget — the LLM pretraining packing step as one window pass."""
    from isilon_hadoop_tools_spark.operators.corpus import pack_chunks

    docs = _t(spark, sf_dir, "documents")
    return pack_chunks(docs, "text", "doc_id", "source", 2048)


@query(
    "doc_redact_pii",
    # patterns mirror operators.corpus.PII_PATTERNS verbatim (the
    # oracle must be a literal string; tests assert the two stay in
    # sync) — counts from the pre-redaction text, replace in sorted
    # tag order EMAIL -> IPV4 -> PHONE on both engines
    oracle=r"""
    WITH pii AS (
      SELECT doc_id,
             text || ' contact user' || doc_id::VARCHAR || '@example.com'
                  || CASE WHEN doc_id % 3 = 0
                          THEN ' or admin' || (doc_id % 7)::VARCHAR || '@test.org'
                          ELSE '' END
                  || ' call +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                  || ' from ' || (doc_id % 256)::VARCHAR || '.0.0.1' AS t
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(t,
             '[a-z0-9._]+@[a-z0-9-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IPV4>', 'g'),
             '\+\d{1,2}-\d{3}-\d{4}', '<PHONE>', 'g') AS redacted,
           len(regexp_extract_all(t, '[a-z0-9._]+@[a-z0-9-]+\.[a-z]{2,}'))
             AS n_email,
           len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
             AS n_ipv4,
           len(regexp_extract_all(t, '\+\d{1,2}-\d{3}-\d{4}')) AS n_phone
    FROM pii
    """,
)
def doc_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: email/IPv4/phone spans replaced by typed
    placeholders, per-class match counts kept for curation metrics.
    The testdata corpus is PII-free word soup, so a deterministic
    contact line is synthesized from doc_id inside the query — the
    redaction itself (and its oracle check) runs on real columns.
    Stateless per-row projection: no shuffle, scan-bound at 100 TB."""
    from isilon_hadoop_tools_spark.operators.corpus import redact_pii

    docs = _t(spark, sf_dir, "documents")
    pii = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" or admin"),
                    (F.col("doc_id") % 7).cast("string"),
                    F.lit("@test.org"),
                ),
            ).otherwise(F.lit("")),
            F.lit(" call +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from "),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0.0.1"),
        ).alias("text"),
    )
    return redact_pii(pii, "text", "doc_id")


@query("corpus_decontaminate", oracle=_DECONTAMINATE_ORACLE)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any token
    3-gram with the held-out eval slice (doc_id % 97 == 0). The eval
    gram set broadcasts — a benchmark suite is tiny next to a 100 TB
    corpus — so the corpus streams map-side; the only shuffle is the
    per-doc count of (rare) matches."""
    from isilon_hadoop_tools_spark.operators.corpus import decontaminate

    docs = _t(spark, sf_dir, "documents")
    return decontaminate(docs, "text", "doc_id", F.col("id") % 97 == 0, 3)


@query(
    "doc_truncate_tokens",
    oracle=r"""
    SELECT doc_id,
           length(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
           array_to_string(
             list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 32), ' ')
             AS truncated,
           length(regexp_split_to_array(trim(text), '\s+')) > 32
             AS was_truncated
    FROM documents
    """,
)
def doc_truncate_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length truncation: first 32 whitespace tokens kept,
    rejoined — the context-window clipping pass. Stateless slice +
    concat_ws projection, no shuffle, scan-bound at 100 TB."""
    from isilon_hadoop_tools_spark.operators.corpus import truncate_tokens

    docs = _t(spark, sf_dir, "documents")
    return truncate_tokens(docs, "text", "doc_id", 32)


@query(
    "doc_tfidf_topk",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      FROM documents
    ),
    tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY id, term),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    total AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT id, term, tf,
             round(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN total
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY id ORDER BY tfidf DESC, term) AS rk
      FROM scored
    )
    SELECT id, term, tf, tfidf, rk FROM ranked WHERE rk <= 5
    """,
)
def doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per document by tf-idf: broadcast
    document-frequency + corpus-count aggregates onto the (doc, term)
    fact, score rounded before ranking for cross-engine determinism."""
    from isilon_hadoop_tools_spark.operators.corpus import tfidf_topk

    docs = _t(spark, sf_dir, "documents")
    return tfidf_topk(docs, "text", "doc_id")


@query(
    "corpus_curation_funnel",
    oracle=f"""
    WITH {_REPETITION_SQL},
    scored AS (
      SELECT doc_id, text,
             {_lang_score_sql('de')} AS s_de, {_lang_score_sql('en')} AS s_en,
             {_lang_score_sql('es')} AS s_es, {_lang_score_sql('fr')} AS s_fr
      FROM documents
    ),
    det AS (
      SELECT doc_id, text,
             CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'unknown'
                  WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                  WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                  WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                  ELSE 'fr' END AS detected
      FROM scored
    ),
    joined AS (
      SELECT d.doc_id, d.text, d.detected,
             coalesce(round(p.top_cnt::DOUBLE / p.n_grams, 4), 0.0)
               AS top_frac
      FROM det d LEFT JOIN rep_per_doc p USING (doc_id)
    ),
    lang_ok AS (SELECT * FROM joined WHERE detected IN ('en', 'de')),
    q_ok AS (SELECT * FROM lang_ok WHERE top_frac <= 0.2)
    SELECT 1 AS stage_no, 'raw' AS stage, count(*)::BIGINT AS n_docs
    FROM joined
    UNION ALL SELECT 2, 'lang', count(*)::BIGINT FROM lang_ok
    UNION ALL SELECT 3, 'quality', count(*)::BIGINT FROM q_ok
    UNION ALL SELECT 4, 'dedup', count(DISTINCT text)::BIGINT FROM q_ok
    """,
)
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel: raw → lang-ID filter → repetition
    quality filter → exact dedup, reporting per-stage survivor counts.
    Composition proof that the lang-ID, repetition, and dedup operators
    stack in one lineage."""
    from isilon_hadoop_tools_spark.operators.corpus import curation_funnel

    docs = _t(spark, sf_dir, "documents")
    return curation_funnel(
        docs, "text", "doc_id", keep_langs=("en", "de"), max_top_ngram_frac=0.2
    )


@query(
    "doc_prefix_jaccard_pairs",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    sizes AS (SELECT doc_id, count(*) AS set_size FROM shingled
              GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM shingled a JOIN shingled b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(n_inter::DOUBLE / (sa.set_size + sb.set_size - n_inter), 6)
             AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_inter::DOUBLE / (sa.set_size + sb.set_size - n_inter) >= 0.1
    """,
)
def doc_prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= 0.1 pairs via prefix filtering (AllPairs /
    PPJoin) — no ``max_df`` shingle drops, so the oracle is the
    uncapped brute-force self-join; the prefix filter must produce
    every qualifying pair or the hash mismatches."""
    return dedup.prefix_filter_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        k=3,
        threshold=0.1,
    )


@query(
    "doc_winnow_fingerprints",
    oracle=f"""
    WITH positions AS (
      SELECT doc_id, text, unnest(generate_series(1, length(text) - 7)) AS i
      FROM documents
      WHERE length(text) >= 11
    ),
    grams AS (
      SELECT doc_id, i, length(text) - 7 AS n_grams,
             {stable_hash32_sql("substr(text, i, 8)")} AS h
      FROM positions
    ),
    wm AS (
      SELECT doc_id, i, n_grams,
             min(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM grams
    )
    SELECT DISTINCT doc_id, fp FROM wm WHERE i <= n_grams - 3
    """,
)
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprints via winnowing (the MOSS
    scheme): 8-char-gram hashes, min per 4-wide sliding window,
    distinct selected hashes per doc. Any shared substring of length
    >= 11 chars yields a shared fingerprint."""
    return dedup.winnow_fingerprints(
        _t(spark, sf_dir, "documents"), "text", "doc_id", k=8, window=4
    ).withColumnRenamed("id", "doc_id")


@query(
    "doc_dup_spans",
    oracle=f"""
    WITH spans AS (
      SELECT id, tk, unnest(generate_series(0, len(tk) - {_DUP_SPAN_N})) AS pos
      FROM (SELECT doc_id AS id,
                   regexp_split_to_array(trim(text), '\\s+') AS tk
            FROM documents)
    ),
    hashed AS (
      SELECT id, pos,
             {FINGERPRINT64_SQL.format(expr=f"array_to_string(tk[pos+1:pos+{_DUP_SPAN_N}], ' ')")}
               AS gram_hash
      FROM spans
    ),
    multi AS (
      SELECT gram_hash FROM (
        SELECT gram_hash, count(DISTINCT id) AS nd FROM hashed GROUP BY gram_hash
      ) WHERE nd > 1
    )
    SELECT id, pos, gram_hash FROM hashed JOIN multi USING (gram_hash)
    """,
)
def doc_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated token-span detection (substring-level
    dedup signal, RefinedWeb-style): every 10-gram that appears in >1
    document marks a span occurrence in each document carrying it."""
    from isilon_hadoop_tools_spark.operators.corpus import dup_spans

    return dup_spans(_t(spark, sf_dir, "documents"), "text", "doc_id", n=_DUP_SPAN_N)


@query(
    "doc_dup_span_merged",
    oracle=f"""
    WITH spans AS (
      SELECT id, tk, unnest(generate_series(0, len(tk) - {_DUP_SPAN_N})) AS pos
      FROM (SELECT doc_id AS id,
                   regexp_split_to_array(trim(text), '\\s+') AS tk
            FROM documents)
    ),
    hashed AS (
      SELECT id, pos,
             {FINGERPRINT64_SQL.format(expr=f"array_to_string(tk[pos+1:pos+{_DUP_SPAN_N}], ' ')")}
               AS gram_hash
      FROM spans
    ),
    multi AS (
      SELECT gram_hash FROM (
        SELECT gram_hash, count(DISTINCT id) AS nd FROM hashed GROUP BY gram_hash
      ) WHERE nd > 1
    ),
    iv AS (
      SELECT id, pos AS s, pos + {_DUP_SPAN_N} AS e
      FROM hashed JOIN multi USING (gram_hash)
    ),
    flagged AS (
      SELECT id, s, e,
             CASE WHEN max(e) OVER (PARTITION BY id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
                  OR s > max(e) OVER (PARTITION BY id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT id, s, e,
             sum(new_island) OVER (PARTITION BY id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged
    )
    SELECT id, min(s)::BIGINT AS start_tok, max(e)::BIGINT AS end_tok,
           (max(e) - min(s))::BIGINT AS span_len,
           count(*)::BIGINT AS n_grams
    FROM islands GROUP BY id, island
    """,
)
def doc_dup_span_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-span merge (the cut-or-drop form of
    doc_dup_spans): per-gram hits collapse into per-document maximal
    token spans via the interval_union_length running-max sweep —
    one per-document partitioning end to end. The DuckDB twin merges
    the same gram hits with the identical window-based sweep."""
    from isilon_hadoop_tools_spark.operators.corpus import dup_span_merge

    return dup_span_merge(
        _t(spark, sf_dir, "documents"), "text", "doc_id", n=_DUP_SPAN_N
    )


@query(
    "doc_dup_span_cut",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id AS id, regexp_split_to_array(trim(text), '\\s+') AS tk
      FROM documents
    ),
    spans AS (
      SELECT id, tk, unnest(generate_series(0, len(tk) - {_DUP_SPAN_N})) AS pos
      FROM tk
    ),
    hashed AS (
      SELECT id, pos,
             {{gram_hash}} AS gram_hash
      FROM spans
    ),
    multi AS (
      SELECT gram_hash FROM (
        SELECT gram_hash, count(DISTINCT id) AS nd FROM hashed GROUP BY gram_hash
      ) WHERE nd > 1
    ),
    iv AS (
      SELECT id, pos AS s, pos + {_DUP_SPAN_N} AS e
      FROM hashed JOIN multi USING (gram_hash)
    ),
    flagged AS (
      SELECT id, s, e,
             CASE WHEN max(e) OVER (PARTITION BY id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
                  OR s > max(e) OVER (PARTITION BY id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT id, s, e,
             sum(new_island) OVER (PARTITION BY id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged
    ),
    merged AS (
      SELECT id, min(s) AS st, max(e) AS en FROM islands GROUP BY id, island
    ),
    toks AS (
      SELECT id, p1 - 1 AS pos, tk[p1] AS tok
      FROM (SELECT id, tk, unnest(generate_series(1, len(tk))) AS p1 FROM tk)
    ),
    marked AS (
      SELECT t.id, t.pos, t.tok,
             EXISTS(SELECT 1 FROM merged m
                    WHERE m.id = t.id AND t.pos >= m.st AND t.pos < m.en)
               AS removed
      FROM toks t
    ),
    agg AS (
      SELECT id, count(*) AS n_tokens,
             sum(CASE WHEN removed THEN 1 ELSE 0 END) AS n_removed,
             string_agg(CASE WHEN NOT removed THEN tok END, ' '
                        ORDER BY pos) AS clean_text
      FROM marked GROUP BY id
    )
    SELECT d.doc_id AS id,
           coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
           coalesce(a.n_removed, 0)::BIGINT AS n_removed,
           coalesce(a.clean_text, '') AS clean_text
    FROM documents d LEFT JOIN agg a ON a.id = d.doc_id
    """.format(
        gram_hash=FINGERPRINT64_SQL.format(
            expr=f"array_to_string(tk[pos+1:pos+{_DUP_SPAN_N}], ' ')"
        )
    ),
)
def doc_dup_span_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RefinedWeb remove step over the merged duplicated spans
    (L29c): tokens inside any maximal span are cut, the survivors
    rejoin in order, and the removal accounting is exact —
    ``n_removed + tokens(clean_text) == n_tokens`` (property-tested).
    The DuckDB twin recomputes the cut from the identically-merged
    spans, so a off-by-one span boundary or wrong join-back order
    hash-fails."""
    from isilon_hadoop_tools_spark.operators.corpus import dup_span_cut

    return dup_span_cut(
        _t(spark, sf_dir, "documents"), "text", "doc_id", n=_DUP_SPAN_N
    )


_SUFFIX_SPANS_ORACLE = f"""
    WITH arrs AS (
      SELECT doc_id AS id, regexp_split_to_array(trim(text), '\\s+') AS arr
      FROM documents
    ),
    grams AS (
      SELECT id, i - 1 AS pos, t, array_to_string(arr[i:i+t-1], ' ') AS g
      FROM arrs,
           unnest(generate_series(1, len(arr))) AS u(i),
           unnest(generate_series(1, len(arr) - i + 1)) AS v(t)
    ),
    dupg AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
    dl AS (
      SELECT id, pos, max(t) AS dup_len
      FROM grams JOIN dupg USING (g) GROUP BY id, pos
    ),
    hits AS (
      SELECT id, pos AS s, pos + dup_len AS e, dup_len
      FROM dl WHERE dup_len >= {_DUP_SPAN_N}
    ),
    isl AS (
      SELECT *, CASE WHEN s > coalesce(max(e) OVER (
                     PARTITION BY id ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                     THEN 1 ELSE 0 END AS nw
      FROM hits
    ),
    isl2 AS (
      SELECT *, sum(nw) OVER (PARTITION BY id ORDER BY s, e
                              ROWS UNBOUNDED PRECEDING) AS island
      FROM isl
    )
    SELECT id, min(s)::BIGINT AS start_tok, max(e)::BIGINT AS end_tok,
           (max(e) - min(s))::BIGINT AS span_len,
           max(dup_len)::BIGINT AS max_dup_len,
           count(*)::BIGINT AS n_positions
    FROM isl2 GROUP BY id, island
    """


@query("doc_suffix_dup_spans", oracle=_SUFFIX_SPANS_ORACLE)
def doc_suffix_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact variable-length duplicated-substring spans (L29d; the
    suffix-array method of Lee et al. 2022 that `doc_dup_spans`
    approximates with fixed 10-grams): per position the TRUE longest
    duplicated token prefix (within-doc repeats count), island-merged
    into maximal spans for dup_len ≥ 10. Engine = exact fixed-gram
    candidate prune + sorted-candidate suffix adjacency + JVM
    token-array LCP (no single-partition window — two-phase global
    row numbering); oracle = brute-force enumeration of EVERY
    (position, length) substring with a count — two genuinely
    different algorithms that must agree row for row."""
    from isilon_hadoop_tools_spark.operators.corpus import suffix_dup_spans

    return suffix_dup_spans(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        min_len=_DUP_SPAN_N,
    )


@query(
    "doc_suffix_span_cut",
    oracle=f"""
    WITH arrs AS (
      SELECT doc_id AS id, regexp_split_to_array(trim(text), '\\s+') AS arr
      FROM documents
    ),
    grams AS (
      SELECT id, i - 1 AS pos, t, array_to_string(arr[i:i+t-1], ' ') AS g
      FROM arrs,
           unnest(generate_series(1, len(arr))) AS u(i),
           unnest(generate_series(1, len(arr) - i + 1)) AS v(t)
    ),
    dupg AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
    dl AS (
      SELECT id, pos, max(t) AS dup_len
      FROM grams JOIN dupg USING (g) GROUP BY id, pos
    ),
    hits AS (
      SELECT id, pos AS s, pos + dup_len AS e
      FROM dl WHERE dup_len >= {_DUP_SPAN_N}
    ),
    isl AS (
      SELECT *, CASE WHEN s > coalesce(max(e) OVER (
                     PARTITION BY id ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                     THEN 1 ELSE 0 END AS nw
      FROM hits
    ),
    isl2 AS (
      SELECT *, sum(nw) OVER (PARTITION BY id ORDER BY s, e
                              ROWS UNBOUNDED PRECEDING) AS island
      FROM isl
    ),
    merged AS (
      SELECT id, min(s) AS st, max(e) AS en FROM isl2 GROUP BY id, island
    ),
    toks AS (
      SELECT id, p1 - 1 AS pos, arr[p1] AS tok
      FROM (SELECT id, arr, unnest(generate_series(1, len(arr))) AS p1
            FROM arrs)
    ),
    marked AS (
      SELECT t.id, t.pos, t.tok,
             EXISTS(SELECT 1 FROM merged m
                    WHERE m.id = t.id AND t.pos >= m.st AND t.pos < m.en)
               AS removed
      FROM toks t
    ),
    agg AS (
      SELECT id, count(*) AS n_tokens,
             sum(CASE WHEN removed THEN 1 ELSE 0 END) AS n_removed,
             string_agg(CASE WHEN NOT removed THEN tok END, ' '
                        ORDER BY pos) AS clean_text
      FROM marked GROUP BY id
    )
    SELECT d.doc_id AS id,
           coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
           coalesce(a.n_removed, 0)::BIGINT AS n_removed,
           coalesce(a.clean_text, '') AS clean_text
    FROM documents d LEFT JOIN agg a ON a.id = d.doc_id
    """,
)
def doc_suffix_span_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RefinedWeb remove step over the EXACT maximal spans (L29e
    — Lee et al. 2022's actual find-then-cut pipeline, where
    `doc_dup_span_cut` cuts the fixed-gram approximation): tokens
    inside any exact variable-length duplicated span are removed with
    the shared cut machinery and exact accounting. vs the fixed-gram
    cut, this also removes WITHIN-document repeated boilerplate the
    cross-doc gram pass leaves in. Oracle re-derives spans by
    brute-force substring enumeration and recomputes the cut."""
    from isilon_hadoop_tools_spark.operators.corpus import suffix_span_cut

    return suffix_span_cut(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        min_len=_DUP_SPAN_N,
    )


@query("doc_quality_eval", oracle=_quality_oracle(eval_split=True))
def doc_quality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out evaluation of the quality classifier (L58c) — the
    readout a curation team gates on before trusting a filter: md5
    hash-split 80/20 (append-stable, never random()), integer GD on
    the train slice only, long-form confusion table on the held-out
    slice at the m ≥ 0 threshold with per-class shares. The oracle
    unrolls the identical split + GD + scoring in SQL."""
    from isilon_hadoop_tools_spark.operators.corpus import (
        quality_classifier_eval,
    )

    return quality_classifier_eval(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        F.col("lang") == "en",
    )


@query(
    "doc_quality_score_drift",
    oracle=f"""
    WITH j AS (
      SELECT s.score AS v,
             CASE WHEN d.source = 'src0' THEN 1 ELSE 0 END AS b
      FROM ({_quality_oracle(score=True)}) s
      JOIN documents d ON d.doc_id = s.id
    ),
    counts AS (
      SELECT v, sum(b)::HUGEINT AS nb, sum(1 - b)::HUGEINT AS nc
      FROM j GROUP BY v
    ),
    cum AS (
      SELECT v,
             sum(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cb,
             sum(nc) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cc,
             sum(nb) OVER () AS tb,
             sum(nc) OVER () AS tc
      FROM counts
    ),
    diff AS (SELECT v, tb, tc, abs(cb * tc - cc * tb) AS num FROM cum)
    SELECT tb::BIGINT AS n_base, tc::BIGINT AS n_cur, v AS at_value,
           round(num::DOUBLE / (tb * tc)::DOUBLE, 6) AS ks_stat
    FROM diff ORDER BY num DESC, v ASC LIMIT 1
    """,
)
def doc_quality_score_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The monitor that composes two round-11 operators (L58d): the
    quality classifier's SCORE distribution compared across crawl
    sources with the exact KS gate — "did this source shift under my
    trained filter?", the question a curation pipeline asks on every
    new crawl snapshot. Scores from the trained model (source 'src0'
    as baseline, everything else as current); sup-ECDF difference
    decided in DECIMAL(38,0) integer arithmetic. The oracle composes
    the unrolled-GD scoring chain as a subquery of the KS chain —
    both already proven against their own engine paths."""
    from isilon_hadoop_tools_spark.operators.analytics import ks_drift
    from isilon_hadoop_tools_spark.operators.corpus import quality_scores

    docs = _t(spark, sf_dir, "documents")
    scored = quality_scores(docs, "text", "doc_id", F.col("lang") == "en")
    joined = scored.join(
        docs.select(F.col("doc_id").alias("id"), "source"), "id"
    )
    return ks_drift(
        joined,
        "score",
        in_base=F.col("source") == "src0",
        in_cur=F.col("source") != "src0",
    )


@query(
    "doc_chunk_overlap",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS id,
             regexp_split_to_array(trim(text), '\\s+') AS tk,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n
      FROM documents
    ),
    exploded AS (
      SELECT id, tk, n,
             unnest(generate_series(0, n - 1, {_CHUNK_STRIDE})) AS start_tok
      FROM base WHERE n > 0
    )
    SELECT id,
           (start_tok // {_CHUNK_STRIDE})::INT AS chunk_idx,
           start_tok,
           least({_CHUNK_SIZE}, n - start_tok)::INT AS n_tokens,
           {stable_hash32_sql(
               f"array_to_string(tk[start_tok+1:start_tok+{_CHUNK_SIZE}], ' ')"
           )} AS chunk_hash
    FROM exploded
    """,
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking with overlap (size 16, stride 12)
    — the RAG / context-packing precursor; chunk_hash feeds chunk-level
    exact dedup without re-tokenizing."""
    from isilon_hadoop_tools_spark.operators.corpus import chunk_overlap

    return chunk_overlap(
        _t(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        size=_CHUNK_SIZE,
        stride=_CHUNK_STRIDE,
    )


@query(
    "doc_char_entropy",
    oracle="""
    WITH idx AS (
      SELECT doc_id AS id, text,
             unnest(generate_series(1, length(text))) AS i
      FROM documents
    ),
    counts AS (
      SELECT id, substring(text, i::INT, 1) AS ch, count(*) AS c
      FROM idx GROUP BY id, ch
    )
    SELECT id, sum(c)::BIGINT AS n_chars,
           round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) AS entropy_bits
    FROM counts GROUP BY id
    """,
)
def doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution entropy per document (bits/char): the
    cheap quality gate that flags degenerate repetition (near 0) and
    binary-ish noise (near log2 alphabet)."""
    from isilon_hadoop_tools_spark.operators.corpus import char_entropy

    return char_entropy(_t(spark, sf_dir, "documents"), "text", "doc_id")


@query(
    "corpus_vocab_topk",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      FROM documents
    ),
    per_doc AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY id, term),
    stats AS (
      SELECT term, sum(tf)::BIGINT AS tf_total, count(*) AS df
      FROM per_doc GROUP BY term
    )
    SELECT term, tf_total, df, rank FROM (
      SELECT *, row_number() OVER (ORDER BY tf_total DESC, term) AS rank
      FROM stats
    ) WHERE rank <= 1000
    """,
)
def corpus_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary build (tokenizer-training precursor): term
    total/document frequency + frequency rank, top 1000."""
    from isilon_hadoop_tools_spark.operators.corpus import vocab_topk

    return vocab_topk(_t(spark, sf_dir, "documents"), "text", "doc_id", k=1000)


@query("corpus_wordpiece_merges", oracle=_wordpiece_oracle(5))
def corpus_wordpiece_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece merge training (L54d, Schuster & Nakajima 2012 —
    BERT's tokenizer), completing the production tokenizer trio with
    BPE and unigram-LM: greedy merges where the round winner
    maximizes the LIKELIHOOD gain count(pair)/(count(l)·count(r))
    rather than the raw pair count — quantized to an exact
    DECIMAL(38,0)/HUGEINT integer score (ties lexicographic) so every
    engine learns the identical rule table at any corpus scale. Same
    vocabulary-bounded round shape as BPE plus one symbol-count
    aggregation; the oracle unrolls all 5 rounds including the score
    join and the window-based greedy merge — one wrong symbol count
    or tie-break diverges every later round."""
    from isilon_hadoop_tools_spark.operators.corpus import wordpiece_train

    return wordpiece_train(
        _t(spark, sf_dir, "documents"), "text", "doc_id", rounds=5
    )


@query("corpus_bpe_tokenize", oracle=_bpe_apply_oracle(6))
def corpus_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE round trip (L54b): the 6 learned merge rules applied back
    to the corpus — per-document character vs post-merge token counts
    and the realized compression ratio. Merges run on the
    DISTINCT-WORD table only (language-bounded), documents join the
    finished vocabulary in one corpus-sized equi-join; the oracle
    re-derives the rules AND the tokenization from the same unrolled
    chain, so a divergence in either phase fails."""
    from isilon_hadoop_tools_spark.operators.corpus import (
        bpe_apply,
        bpe_train,
    )

    docs = _t(spark, sf_dir, "documents")
    rules = [
        (r["lhs"], r["rhs"])
        for r in bpe_train(docs, "text", "doc_id", rounds=6)
        .orderBy("merge_round")
        .collect()
    ]
    return bpe_apply(docs, "text", "doc_id", rules)


@query(
    "corpus_wordpiece_tokenize", oracle=_bpe_apply_oracle(5, mode="wordpiece")
)
def corpus_wordpiece_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece round trip (L54d x L54b): the 5 likelihood-ranked
    rules applied back to the corpus through the SAME merge machinery
    as BPE (`bpe_apply` — only the trainer's round-winner selector
    differs), reporting per-doc chars vs post-merge tokens and the
    realized compression. Oracle re-derives the likelihood-scored
    rules AND the tokenization from one unrolled chain — a divergence
    in either phase fails, and because WordPiece picks DIFFERENT
    rules than BPE on this corpus, a selector mix-up cannot hide."""
    from isilon_hadoop_tools_spark.operators.corpus import (
        bpe_apply,
        wordpiece_train,
    )

    docs = _t(spark, sf_dir, "documents")
    rules = [
        (r["lhs"], r["rhs"])
        for r in wordpiece_train(docs, "text", "doc_id", rounds=5)
        .orderBy("merge_round")
        .collect()
    ]
    return bpe_apply(docs, "text", "doc_id", rules)


@query("corpus_bpe_merges", oracle=_bpe_oracle(6))
def corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge training (L54, Sennrich et al. 2016) — the actual
    tokenizer-training step past the vocabulary build: the first 6
    merge rules learned over the documents corpus. The corpus is
    scanned ONCE (word counts); every round then runs on the
    vocabulary table with a shuffle-free zip_with pair count, a
    total-order top-1, and a pure-JVM F.aggregate greedy merge — no
    UDF anywhere. The oracle unrolls all 6 rounds including the
    window-based greedy non-overlapping merge, so one wrong tie-break
    or overlap decision diverges every later round."""
    from isilon_hadoop_tools_spark.operators.corpus import bpe_train

    return bpe_train(_t(spark, sf_dir, "documents"), "text", "doc_id", rounds=6)


@query("corpus_byte_bpe_merges", oracle=_bpe_oracle(5, alphabet="byte"))
def corpus_byte_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level BPE merge training (L54e; GPT-2 family — Radford et
    al. 2019), the tokenizer most users actually match: UTF-8 byte
    alphabet (no OOV text exists) behind the engine's regex
    pre-tokenization, then the SAME symbol-agnostic greedy merge
    machinery as char-BPE — symbols are lowercase hex byte strings,
    so learned rules compose multi-byte characters the char trainer
    gets for free. Oracle unrolls all 5 rounds over the byte-level
    v0 (hex(encode(w)) sliced into byte pairs)."""
    from isilon_hadoop_tools_spark.operators.corpus import byte_bpe_train

    return byte_bpe_train(
        _t(spark, sf_dir, "documents"), "text", "doc_id", rounds=5
    )


@query(
    "corpus_byte_bpe_tokenize",
    oracle=_bpe_apply_oracle(5, alphabet="byte"),
)
def corpus_byte_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level BPE round trip (L54e x L54b): the 5 learned byte
    merges applied back to the corpus through the shared merge
    machinery — per-document UTF-8 octets vs post-merge tokens and
    the realized compression. Merges run on the distinct PRE-TOKEN
    table only; documents join the finished vocabulary in one
    corpus-sized equi-join. The oracle re-derives rules AND
    tokenization from one unrolled chain."""
    from isilon_hadoop_tools_spark.operators.corpus import (
        byte_bpe_apply,
        byte_bpe_train,
    )

    docs = _t(spark, sf_dir, "documents")
    rules = [
        (r["lhs"], r["rhs"])
        for r in byte_bpe_train(docs, "text", "doc_id", rounds=5)
        .orderBy("merge_round")
        .collect()
    ]
    return byte_bpe_apply(docs, "text", "doc_id", rules)


@query("corpus_unigram_tokenize", oracle=_unigram_lm_oracle(mode="apply"))
def corpus_unigram_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM round trip (the bpe_tokenize twin): the trained
    model Viterbi-segments the DISTINCT-WORD table once more under
    the final piece costs and documents join the finished per-word
    token counts in ONE corpus-sized equi-join — per-doc chars vs
    Viterbi tokens and the realized compression. The oracle re-runs
    the whole EM chain AND the final segmentation (tokens per word =
    popcount of the boundary mask), so a divergence in either phase
    fails."""
    from isilon_hadoop_tools_spark.operators.corpus import unigram_lm_apply

    return unigram_lm_apply(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        max_piece_len=4, n_seed_multi=16, em_rounds=2,
    )


@query("corpus_unigram_lm", oracle=_unigram_lm_oracle())
def corpus_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (Kudo 2018; SentencePiece's
    default) — the OTHER production tokenizer family next to BPE:
    seed a substring candidate vocabulary, then 2 EM rounds — E-step
    Viterbi segmentation of every DISTINCT word under fixed-point
    integer −ln p piece costs (pure-JVM ``F.aggregate`` DP with a
    boundary-bitmask tie-break; no UDF), M-step count re-estimation
    with zero-count multi-char pruning and single-char coverage
    floors. Corpus scanned ONCE; every round is vocabulary-sized.
    The oracle reaches the same model by brute-force ENUMERATING all
    segmentations per word (recursive CTE) under the identical
    (cost, mask) total order — a different algorithm agreeing on
    every E-step makes the DP itself the thing being checked."""
    from isilon_hadoop_tools_spark.operators.corpus import unigram_lm_train

    return unigram_lm_train(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        max_piece_len=4, n_seed_multi=16, em_rounds=2,
    )


@query(
    "corpus_good_turing",
    oracle=r"""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      FROM documents
    ),
    freq AS (SELECT term, count(*) AS r FROM toks GROUP BY term),
    nr AS (SELECT r, count(*) AS n_r FROM freq GROUP BY r)
    SELECT r, n_r,
           round((r + 1.0) * (CASE WHEN lead(r) OVER w = r + 1
                                   THEN lead(n_r) OVER w END) / n_r,
                 6) AS r_star
    FROM nr WINDOW w AS (ORDER BY r)
    """,
)
def corpus_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency spectrum (L53): count-of-counts ``n_r``
    per observed token frequency plus the Turing-discounted ``r*`` —
    the LM-smoothing / unseen-mass primitive (``n_1/N`` estimates how
    much vocabulary the corpus is still missing). Corpus-scale work
    is one term-count shuffle; the spectrum table the window runs on
    is support-sized (distinct frequencies), never corpus-sized."""
    from isilon_hadoop_tools_spark.operators.corpus import good_turing_counts

    return good_turing_counts(
        _t(spark, sf_dir, "documents"), "text", "doc_id"
    )


@query(
    "doc_unigram_surprisal",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      FROM documents
    ),
    freq AS (SELECT term, count(*) AS tf_total FROM toks GROUP BY term),
    totals AS (
      SELECT sum(tf_total)::BIGINT AS t_tokens, count(*) AS v_terms FROM freq
    )
    SELECT id, count(*) AS n_tokens,
           round(avg(round(-log2((tf_total + 1.0) / (t_tokens + v_terms)), 9)),
                 6) AS surprisal_bits
    FROM toks JOIN freq USING (term) CROSS JOIN totals
    GROUP BY id
    """,
)
def doc_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram surprisal (corpus-frequency perplexity
    proxy): high = rare/out-of-distribution tokens, low = templated
    boilerplate — the cheap LM-free quality score."""
    from isilon_hadoop_tools_spark.operators.corpus import unigram_surprisal

    return unigram_surprisal(_t(spark, sf_dir, "documents"), "text", "doc_id")


@query(
    "doc_dsir_importance",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id AS id,
             CASE WHEN lang = 'zh' THEN 1 ELSE 0 END AS is_target,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      FROM documents
    ),
    freq AS (
      SELECT term, count(*) AS cb, sum(is_target)::BIGINT AS ct
      FROM toks GROUP BY term
    ),
    totals AS (
      SELECT sum(cb)::BIGINT AS nb, sum(ct)::BIGINT AS nt,
             count(*) AS v
      FROM freq
    ),
    scored AS (
      SELECT id, count(*) AS n_tokens,
             round(avg(round(log2((ct + 1.0) / (nt + v))
                             - log2((cb + 1.0) / (nb + v)), 9)),
                   6) AS logratio_bits
      FROM toks JOIN freq USING (term) CROSS JOIN totals
      GROUP BY id
      ORDER BY logratio_bits DESC, id
      LIMIT 100
    )
    SELECT id, n_tokens, logratio_bits,
           row_number() OVER (ORDER BY logratio_bits DESC, id)
             AS sel_rank
    FROM scored
    """,
)
def doc_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (L50): top-100 docs by unigram
    log-likelihood ratio against the ``lang='zh'`` target domain —
    the in-domain-data skimmer for raw-crawl curation."""
    from isilon_hadoop_tools_spark.operators.corpus import dsir_importance

    return dsir_importance(
        _t(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        target=F.col("lang") == "zh",
        k=100,
    ).withColumnRenamed("rank", "sel_rank")


@query("corpus_decontaminate_bloom", oracle=_DECONTAMINATE_ORACLE)
def corpus_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination via a driver-built Bloom bitmap embedded as a
    literal: the corpus tests 3 md5-derived bit positions per gram as
    a pure projection and only Bloom hits meet the exact eval-gram
    set — same exact output (and oracle) as corpus_decontaminate,
    with the join traffic of the rare hits only."""
    from isilon_hadoop_tools_spark.operators.corpus import decontaminate_bloom

    docs = _t(spark, sf_dir, "documents")
    return decontaminate_bloom(docs, "text", "doc_id", F.col("id") % 97 == 0, 3)


@query(
    "corpus_mg_heavy_tokens",
    oracle=rf"""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS item
      FROM documents
    ),
    tot AS (SELECT count(*) AS n_total FROM toks)
    SELECT item, count(*)::BIGINT AS cnt
    FROM toks, tot
    GROUP BY item, n_total
    HAVING count(*) * {_MG_K} > n_total
    """,
)
def corpus_mg_heavy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy-hitter tokens (count > n/30) found through a
    bounded-state Misra-Gries candidate pass + exact recount: the
    per-partition summaries hold at most 29 counters each no matter
    how long the token tail gets, and the recount makes the output
    exactly the true heavy-hitter set — so the oracle is the plain
    GROUP BY / HAVING the sketch avoids running over the full corpus."""
    from isilon_hadoop_tools_spark.operators.corpus import tokens
    from isilon_hadoop_tools_spark.operators.sketches import mg_heavy_hitters

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("term"))
    return mg_heavy_hitters(toks, "term", k=_MG_K)


@query(
    "doc_weighted_sample",
    oracle=r"""
    WITH keyed AS (
      SELECT doc_id AS id, n_chars::DOUBLE AS weight,
             CASE WHEN n_chars > 0
                  THEN round(pow(
                    ((('0x' || substr(md5('wsample:' || doc_id::VARCHAR),
                                      1, 8))::BIGINT + 1) / 4294967296.0),
                    1.0 / n_chars), 9)
                  ELSE 0.0 END AS sample_key
      FROM documents
    )
    SELECT id, weight, sample_key,
           row_number() OVER (ORDER BY sample_key DESC, id) AS sample_rank
    FROM keyed ORDER BY sample_key DESC, id LIMIT 100
    """,
)
def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample (Efraimidis-Spirakis, weight =
    n_chars): top-100 of u^(1/w) over the content-addressed uniform —
    the quality/length-weighted corpus mixing draw, reproducible with
    no rand()."""
    from isilon_hadoop_tools_spark.operators.corpus import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample(docs, "doc_id", "n_chars", n=100)


@query(
    "corpus_mixture_plan",
    oracle=r"""
    WITH sized AS (
      SELECT source, count(*) AS n_docs,
             sum(length(regexp_split_to_array(trim(text), '\s+')))::BIGINT
               AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT count(*) AS s, min(n_tokens) AS tmin FROM sized)
    SELECT source, n_docs, n_tokens,
           round(1.0 / s, 6) AS target_w,
           round(tmin / n_tokens, 6) AS rate,
           round(tmin / n_tokens * n_tokens)::BIGINT AS expected_tokens
    FROM sized CROSS JOIN tot
    """,
)
def corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture plan: per-source downsampling rates that
    rebalance every source to the binding (smallest) source's token
    count — the data-mixing step before weighted draws."""
    from isilon_hadoop_tools_spark.operators.corpus import mixture_plan

    return mixture_plan(_t(spark, sf_dir, "documents"), "text", "source")


@query(
    "doc_bm25_topk",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      FROM documents
    ),
    tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY id, term),
    dl AS (SELECT id, count(*) AS dl FROM toks GROUP BY id),
    corpus AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
    avg_dl AS (SELECT avg(dl) AS avgdl FROM dl),
    qtf AS (
      SELECT * FROM tf
      WHERE term IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
    ),
    dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM qtf GROUP BY term),
    scored AS (
      SELECT q.id, d.dl,
             ln((c.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
               * (q.tf * (1.2 + 1.0))
               / (q.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / a.avgdl))
               AS s
      FROM qtf q
      JOIN dl d USING (id)
      JOIN dfreq f USING (term)
      CROSS JOIN corpus c CROSS JOIN avg_dl a
    )
    SELECT id, max(dl) AS dl, round(sum(s), 6) AS bm25
    FROM scored GROUP BY id
    ORDER BY bm25 DESC, id
    LIMIT 10
    """,
)
def doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance top-10 for a fixed domain probe query — the IR
    scorer for query-targeted corpus filtering, one notch past tf-idf
    via term saturation (k1) and length normalization (b). Query-term
    slice, df table, N, and avgdl all broadcast onto the tiny qtf
    fact; top-k is a TakeOrderedAndProject, never a corpus-wide
    ranking window."""
    from isilon_hadoop_tools_spark.operators.corpus import bm25_topk

    return bm25_topk(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        _BM25_TERMS, k=10,
    )


@query(
    "doc_hybrid_rrf",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      FROM documents
    ),
    tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY id, term),
    dl AS (SELECT id, count(*) AS dl FROM toks GROUP BY id),
    corpus AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
    avg_dl AS (SELECT avg(dl) AS avgdl FROM dl),
    qtf AS (
      SELECT * FROM tf
      WHERE term IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
    ),
    dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM qtf GROUP BY term),
    bscored AS (
      SELECT q.id,
             ln((c.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
               * (q.tf * (1.2 + 1.0))
               / (q.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / a.avgdl))
               AS s
      FROM qtf q
      JOIN dl d USING (id)
      JOIN dfreq f USING (term)
      CROSS JOIN corpus c CROSS JOIN avg_dl a
    ),
    lex AS (
      SELECT id, row_number() OVER (ORDER BY bm25 DESC, id) AS rank_a
      FROM (SELECT id, round(sum(s), 6) AS bm25 FROM bscored GROUP BY id
            ORDER BY bm25 DESC, id LIMIT 20)
    ),
    qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
    cscored AS (
      SELECT c.vec_id AS id,
             round(list_dot_product(q.v, c.embedding::DOUBLE[])
                   / (sqrt(list_dot_product(q.v, q.v))
                      * sqrt(list_dot_product(c.embedding::DOUBLE[],
                                              c.embedding::DOUBLE[]))),
                   6) AS cos_sim
      FROM embeddings c CROSS JOIN qv q
      WHERE c.vec_id != 0
    ),
    dense AS (
      SELECT id, row_number() OVER (ORDER BY cos_sim DESC, id) AS rank_b
      FROM (SELECT * FROM cscored ORDER BY cos_sim DESC, id LIMIT 20)
    ),
    fused AS (
      SELECT coalesce(lex.id, dense.id) AS id, rank_a, rank_b,
             round(coalesce(1.0 / (60 + rank_a), 0.0)
                   + coalesce(1.0 / (60 + rank_b), 0.0), 6) AS rrf
      FROM lex FULL OUTER JOIN dense ON lex.id = dense.id
      ORDER BY rrf DESC, id LIMIT 10
    )
    SELECT id, rank_a, rank_b, rrf,
           row_number() OVER (ORDER BY rrf DESC, id) AS fused_rank
    FROM fused
    """,
)
def doc_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (L52): reciprocal-rank fusion of the BM25
    lexical top-20 (domain-probe query) with the cosine dense top-20
    (query vector 0) — rank-based, calibration-free combination, the
    RAG-stack default."""
    from isilon_hadoop_tools_spark.operators.corpus import bm25_topk, rrf_fuse

    lex = bm25_topk(
        _t(spark, sf_dir, "documents"), "text", "doc_id", _BM25_TERMS, k=20
    ).withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("bm25"), "id")),
    )
    emb = _t(spark, sf_dir, "embeddings")
    dense = similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") == 0), k=20
    ).select(F.col("neighbor_id").alias("id"), "rank")
    return rrf_fuse(lex, dense, k0=60, k=10)


@query(
    "doc_normalize_text",
    oracle="""
    SELECT doc_id AS id,
           trim(regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
             ' +', ' ', 'g')) AS norm_text,
           length(text)::BIGINT AS n_chars_raw,
           length(trim(regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
             ' +', ' ', 'g')))::BIGINT AS n_chars_norm
    FROM documents
    """,
)
def doc_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (L46): lowercase → strip
    non-alphanumerics → collapse whitespace → trim, with before/after
    char counts — the pre-pass that lets exact dedup collapse case/
    punctuation/spacing variants. Stateless scan-bound projection,
    zero shuffles; identical regex chain on both engines."""
    from isilon_hadoop_tools_spark.operators.corpus import normalize_text

    return normalize_text(_t(spark, sf_dir, "documents"), "text", "doc_id")


@query(
    "corpus_temperature_mixture",
    oracle=r"""
    WITH sized AS (
      SELECT source, count(*) AS n_docs,
             sum(length(regexp_split_to_array(trim(text), '\s+')))::BIGINT
               AS n_tokens
      FROM documents GROUP BY source
    ),
    powed AS (
      SELECT *, pow(n_tokens::DOUBLE, 0.3) AS pw FROM sized
    ),
    tot AS (SELECT sum(n_tokens)::DOUBLE AS tt, sum(pw) AS pt FROM powed)
    SELECT source, n_docs, n_tokens,
           round(n_tokens / tt, 6) AS p_raw,
           round(pw / pt, 6) AS p_alpha,
           round((pw / pt) / (n_tokens / tt), 6) AS boost
    FROM powed CROSS JOIN tot
    """,
)
def corpus_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture plan (L48, alpha=0.3 — the mT5/
    XLM-R multilingual recipe): sampling probability ∝ token-share^α,
    flattening the source distribution so low-resource sources are
    upweighted without forcing the uniform mix; one source-keyed
    partial agg + a broadcast normalization fold."""
    from isilon_hadoop_tools_spark.operators.corpus import (
        temperature_mixture_plan,
    )

    return temperature_mixture_plan(
        _t(spark, sf_dir, "documents"), "text", "source", alpha=0.3
    )


@query(
    "corpus_doremi_weights",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id AS id, source AS domain,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      FROM documents
    ),
    freq AS (SELECT term, count(*) AS tf_total FROM toks GROUP BY term),
    totals AS (
      SELECT sum(tf_total)::BIGINT AS t_tokens, count(*) AS v_terms
      FROM freq
    ),
    scored AS (
      SELECT id, domain,
             round(-log2((tf_total + 1.0) / (t_tokens + v_terms)), 9)
               AS bits
      FROM toks JOIN freq USING (term) CROSS JOIN totals
    ),
    dom AS (
      SELECT domain, count(DISTINCT id) AS n_docs,
             count(*) AS n_tokens, round(avg(bits), 6) AS loss_bits
      FROM scored GROUP BY domain
    ),
    ref AS (SELECT round(avg(bits), 6) AS ref_bits FROM scored),
    it0 AS (
      SELECT domain, n_docs, n_tokens, loss_bits,
             round(greatest(loss_bits - ref_bits, 0.0), 6) AS excess_bits,
             1.0 / count(*) OVER () AS w,
             count(*) OVER () AS k
      FROM dom CROSS JOIN ref
    ),
    it1 AS (SELECT * REPLACE (round((1.0 - 0.1) * (w * exp(0.5 * excess_bits))
              / sum(w * exp(0.5 * excess_bits)) OVER () + 0.1 / k, 9) AS w)
            FROM it0),
    it2 AS (SELECT * REPLACE (round((1.0 - 0.1) * (w * exp(0.5 * excess_bits))
              / sum(w * exp(0.5 * excess_bits)) OVER () + 0.1 / k, 9) AS w)
            FROM it1),
    it3 AS (SELECT * REPLACE (round((1.0 - 0.1) * (w * exp(0.5 * excess_bits))
              / sum(w * exp(0.5 * excess_bits)) OVER () + 0.1 / k, 9) AS w)
            FROM it2),
    it4 AS (SELECT * REPLACE (round((1.0 - 0.1) * (w * exp(0.5 * excess_bits))
              / sum(w * exp(0.5 * excess_bits)) OVER () + 0.1 / k, 9) AS w)
            FROM it3),
    it5 AS (SELECT * REPLACE (round((1.0 - 0.1) * (w * exp(0.5 * excess_bits))
              / sum(w * exp(0.5 * excess_bits)) OVER () + 0.1 / k, 9) AS w)
            FROM it4)
    SELECT domain, n_docs, n_tokens, loss_bits, excess_bits,
           round(w, 6) AS weight
    FROM it5
    """,
)
def corpus_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi domain reweighting (L71; Xie et al. 2023): 5 unrolled
    multiplicative-weights rounds over the 5 `source` domains, driven
    by clipped excess loss (per-domain mean unigram-LM token
    surprisal vs the global mean) with ε=0.1 uniform smoothing and
    η=0.5 — the learned mixture that replaces hand-tuned Pile
    weights. One corpus token scan (hint-free vocab join), one
    domain aggregate; every iteration is k-row window work. Oracle
    unrolls identical iterations as chained CTEs."""
    from isilon_hadoop_tools_spark.operators.corpus import doremi_weights

    return doremi_weights(
        _t(spark, sf_dir, "documents"), "text", "doc_id", "source"
    )


@query(
    "doc_pack_sequences",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id % 8 AS shard, doc_id AS id,
             least(length(regexp_split_to_array(trim(text), '\s+')),
                   512)::BIGINT AS n_tok
      FROM documents
    ),
    cum AS (
      SELECT shard, id, n_tok,
             sum(n_tok) OVER (
               PARTITION BY shard ORDER BY n_tok DESC, id
               ROWS UNBOUNDED PRECEDING
             )::BIGINT AS cum
      FROM toks
    ),
    binned AS (SELECT *, (cum - n_tok) // 512 + 1 AS bin FROM cum),
    seqd AS (
      SELECT shard, id, n_tok,
             dense_rank() OVER (
               PARTITION BY shard ORDER BY bin
             )::INT AS seq_no
      FROM binned
    ),
    agg AS (
      SELECT shard, seq_no, count(*)::BIGINT AS n_docs,
             sum(n_tok)::BIGINT AS n_tokens
      FROM seqd GROUP BY 1, 2
    )
    SELECT shard, seq_no, n_docs, n_tokens,
           round(n_tokens / 512.0, 6) AS fill_frac,
           count(*) OVER (PARTITION BY shard) AS n_seqs
    FROM agg
    """,
)
def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document sequence packing (L72 — HF TRL packing /
    axolotl multipack; distinct from `doc_pack_chunks`, which chunks
    WITHIN a document): whole docs binned into 512-token training
    sequences per id-mod-8 shard by the size-ordered start-offset
    rule shared with the SC9 compaction planner, so short documents
    share context windows instead of wasting them on padding. Per
    packed sequence: doc count, capped token sum, fill fraction
    (can pass 1.0 by at most one doc's tail — the trainer's
    concat-and-slice consumes it), shard sequence count."""
    from isilon_hadoop_tools_spark.operators.corpus import pack_sequences

    return pack_sequences(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        context_len=512, n_shards=8,
    )


def _ccnet_oracle() -> str:
    """DuckDB twin of ``ccnet_pipeline``: the paragraph-dedup fixture
    CTEs, the stopword-profile lang argmax over the CLEANED text, the
    per-language KN CTE chain (every count table keyed by lang), and
    per-language tercile windows."""
    from isilon_hadoop_tools_spark.functions.text import LANG_PROFILES

    langs = sorted(LANG_PROFILES)
    scores = ",\n             ".join(
        f"{_lang_score_sql(lang)} AS s_{lang}" for lang in langs
    )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    chain = "\n                  ".join(
        f"WHEN s_{lang} = m THEN '{lang}'" for lang in langs
    )
    return rf"""
    WITH fx AS (
      SELECT doc_id AS id,
             'shared header ' || (doc_id % 25)::VARCHAR || chr(10) || text
               AS text
      FROM documents
    ),
    prs AS (
      SELECT id, i - 1 AS pos, ps[i] AS para
      FROM (SELECT id, string_split(text, chr(10)) AS ps FROM fx),
           unnest(range(1, len(ps) + 1)) AS t(i)
    ),
    f1 AS (SELECT para, min(id) AS fid FROM prs GROUP BY para),
    f2 AS (
      SELECT p.para, p.id AS fid, min(p.pos) AS fpos
      FROM prs p JOIN f1 ON f1.para = p.para AND f1.fid = p.id
      GROUP BY p.para, p.id
    ),
    flag AS (
      SELECT p.id, p.pos, p.para,
             (p.id = f2.fid AND p.pos = f2.fpos) AS keep
      FROM prs p JOIN f2 ON f2.para = p.para
    ),
    clean AS (
      SELECT id, count(*)::BIGINT AS n_paras,
             sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
             coalesce(string_agg(CASE WHEN keep THEN para END, chr(10)
                                 ORDER BY pos), '') AS text
      FROM flag GROUP BY id
    ),
    langd AS (
      SELECT id, n_paras, n_kept, text,
             CASE WHEN m = 0 THEN 'unknown'
                  {chain}
                  ELSE 'unknown' END AS lang
      FROM (
        SELECT *, {best} AS m FROM (
          SELECT id, n_paras, n_kept, text,
             {scores}
          FROM clean
        )
      )
    ),
    arrs AS (
      SELECT id, lang AS g,
             regexp_split_to_array(trim(text), '\s+') AS arr
      FROM langd WHERE trim(text) <> ''
    ),
    bigrams AS (
      SELECT id, g, arr[i] AS w1, arr[i + 1] AS w2
      FROM arrs, unnest(generate_series(1, len(arr) - 1)) AS u(i)
    ),
    big AS (SELECT g, w1, w2, count(*) AS c12 FROM bigrams
            GROUP BY g, w1, w2),
    ctx AS (SELECT g, w1, sum(c12)::BIGINT AS c1, count(*) AS nf
            FROM big GROUP BY g, w1),
    cont AS (SELECT g, w2, count(*) AS nb FROM big GROUP BY g, w2),
    types AS (SELECT g, count(*) AS t FROM big GROUP BY g),
    scored AS (
      SELECT b.id, b.g, count(*) AS n_bigrams,
             round(avg(round(-log2(
               (x.c12 - 0.75) / c.c1
               + (0.75 * c.nf / c.c1) * (n.nb / y.t)
             ), 9)), 6) AS ppl_bits
      FROM bigrams b
      JOIN big x USING (g, w1, w2)
      JOIN ctx c USING (g, w1)
      JOIN cont n USING (g, w2)
      JOIN types y USING (g)
      GROUP BY b.id, b.g
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY g
                                   ORDER BY ppl_bits, id) AS rk,
             count(*) OVER (PARTITION BY g) AS n
      FROM scored
    ),
    bucketed AS (
      SELECT id, n_bigrams, ppl_bits,
             CASE WHEN rk <= n // 3 THEN 'head'
                  WHEN rk <= 2 * n // 3 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM ranked
    )
    SELECT l.id, l.lang, l.n_paras, l.n_kept,
           coalesce(b.n_bigrams, 0)::BIGINT AS n_bigrams,
           b.ppl_bits,
           coalesce(b.bucket, 'short') AS bucket
    FROM langd l LEFT JOIN bucketed b ON b.id = l.id
    """


@query("doc_ccnet_pipeline", oracle=_ccnet_oracle())
def doc_ccnet_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet pipeline end to end (L73 — Wenzek et al. 2020), the
    capstone composing three shipped stages in the paper's order:
    corpus-wide paragraph-hash dedup (boilerplate header pool of 25
    dies here), language ID over the CLEANED text, and PER-LANGUAGE
    interpolated-KN perplexity (one LM per language, as CCNet trains
    one KenLM per language) bucketed head/middle/tail WITHIN each
    language. Per-language terciles ride one two-phase global rank
    ordered (lang, bits, id) plus a languages-count offset table --
    no data-sized window anywhere."""
    from isilon_hadoop_tools_spark.operators.corpus import ccnet_pipeline

    i = F.col("doc_id")
    fx = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("shared header "),
            F.pmod(i, F.lit(25)).cast("string"),
            F.lit("\n"),
            F.col("text"),
        ).alias("text"),
    )
    return ccnet_pipeline(fx, "text", "doc_id")


@query("corpus_quality_classifier_train", oracle=_quality_oracle())
def corpus_quality_classifier_train(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-classifier training (L58; fastText / DCLM /
    FineWeb-Edu-style curation filter): a hashed bag-of-words linear
    classifier over the documents table with ``lang = 'en'`` as the
    "good"-class label, fit by 3 rounds of deterministic INTEGER
    gradient descent under the hard-sigmoid logistic — one corpus
    scan per round with map-side partial gradients, 33 driver-held
    weights broadcast back as a map literal. The oracle unrolls the
    identical GD rounds in SQL (the `corpus_bpe_merges` pattern);
    weights match bit for bit because no transcendental ever runs."""
    from isilon_hadoop_tools_spark.operators.corpus import (
        quality_classifier_train,
    )

    docs = _t(spark, sf_dir, "documents")
    return quality_classifier_train(
        docs, "text", "doc_id", F.col("lang") == "en"
    )


@query("doc_quality_scores", oracle=_quality_oracle(score=True))
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-bound inference with the trained quality classifier
    (L58b): every document scored under the round-3 weights —
    ``score = hard-σ(margin)`` as an exact rational (6 dp), plus the
    ``keep`` filter decision at the 0.5 threshold. The scoring pass
    is join-free (weights are a broadcast map literal): at 100 TB
    this is one scan, which is the whole point of training a cheap
    linear filter instead of running an LLM judge per document."""
    from isilon_hadoop_tools_spark.operators.corpus import quality_scores

    docs = _t(spark, sf_dir, "documents")
    return quality_scores(docs, "text", "doc_id", F.col("lang") == "en")


@query(
    "doc_curation_pipeline",
    oracle=f"""
    WITH kept_ids AS (
      SELECT id FROM (
        SELECT s.id,
               row_number() OVER (ORDER BY s.margin DESC, s.id) AS rk
        FROM ({_quality_oracle(score=True)}) s
      ) WHERE rk <= (SELECT count(*) * 50 // 100 FROM documents)
    ),
    arrs AS (
      SELECT d.doc_id AS id,
             regexp_split_to_array(trim(d.text), '\\s+') AS arr
      FROM documents d JOIN kept_ids k ON k.id = d.doc_id
    ),
    grams AS (
      SELECT id, i - 1 AS pos, t, array_to_string(arr[i:i+t-1], ' ') AS g
      FROM arrs,
           unnest(generate_series(1, len(arr))) AS u(i),
           unnest(generate_series(1, len(arr) - i + 1)) AS v(t)
    ),
    dupg AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
    dl AS (
      SELECT id, pos, max(t) AS dup_len
      FROM grams JOIN dupg USING (g) GROUP BY id, pos
    ),
    hits AS (
      SELECT id, pos AS s, pos + dup_len AS e
      FROM dl WHERE dup_len >= {_DUP_SPAN_N}
    ),
    isl AS (
      SELECT *, CASE WHEN s > coalesce(max(e) OVER (
                     PARTITION BY id ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                     THEN 1 ELSE 0 END AS nw
      FROM hits
    ),
    isl2 AS (
      SELECT *, sum(nw) OVER (PARTITION BY id ORDER BY s, e
                              ROWS UNBOUNDED PRECEDING) AS island
      FROM isl
    ),
    merged AS (
      SELECT id, min(s) AS st, max(e) AS en FROM isl2 GROUP BY id, island
    ),
    toks AS (
      SELECT id, p1 - 1 AS pos, arr[p1] AS tok
      FROM (SELECT id, arr, unnest(generate_series(1, len(arr))) AS p1
            FROM arrs)
    ),
    marked AS (
      SELECT t.id, t.pos, t.tok,
             EXISTS(SELECT 1 FROM merged m
                    WHERE m.id = t.id AND t.pos >= m.st AND t.pos < m.en)
               AS removed
      FROM toks t
    ),
    agg AS (
      SELECT id, count(*) AS n_tokens,
             sum(CASE WHEN removed THEN 1 ELSE 0 END) AS n_removed,
             string_agg(CASE WHEN NOT removed THEN tok END, ' '
                        ORDER BY pos) AS clean_text
      FROM marked GROUP BY id
    ),
    cut AS (
      SELECT k.id,
             coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
             coalesce(a.n_removed, 0)::BIGINT AS n_removed,
             coalesce(a.clean_text, '') AS clean_text
      FROM kept_ids k LEFT JOIN agg a ON a.id = k.id
    ),
    fp AS (
      SELECT *, ('0x' || substr(md5(clean_text), 1, 15))::BIGINT AS fpv
      FROM cut
    ),
    groups AS (
      SELECT fpv, min(id) AS keep_id, count(*)::BIGINT AS n_dups
      FROM fp GROUP BY fpv
    )
    SELECT f.id, f.n_tokens, f.n_removed, f.clean_text,
           g.keep_id, g.n_dups
    FROM fp f JOIN groups g USING (fpv)
    """,
)
def doc_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE CAPSTONE COMPOSITION (L60): the end-to-end curation
    pipeline a training-data team ships — quality filter (integer-GD
    classifier, keep score ≥ ½) → exact variable-length substring cut
    over the KEPT corpus (spans recomputed post-filter: dropping
    documents changes what is duplicated) → exact dedup of the
    cleaned texts with min-id canonical election. Every stage is an
    already-proven operator; this composition is hash-checked
    end-to-end (quality chain + rank cut + brute-force span/cut chain
    + md5 fingerprint grouping composed in one oracle), so any
    stage's contract drifting fails HERE too. The filter is the
    DCLM / FineWeb-Edu selection rule — keep the TOP 50% by
    classifier margin (exact (margin DESC, id) rank, two-phase global
    numbering) — so exactly half the corpus survives the first stage
    regardless of the label's base rate. Final corpus = rows with
    keep_id == id."""
    from isilon_hadoop_tools_spark.operators.corpus import (
        curation_pipeline,
    )

    return curation_pipeline(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        F.col("lang") == "en", min_len=_DUP_SPAN_N,
    )


@query(
    "doc_lm_perplexity",
    oracle=r"""
    WITH arrs AS (
      SELECT doc_id AS id, regexp_split_to_array(trim(text), '\s+') AS arr
      FROM documents
    ),
    toks AS (
      SELECT id, i - 1 AS pos, arr[i] AS tok
      FROM arrs, unnest(generate_series(1, len(arr))) AS u(i)
    ),
    bigrams AS (
      SELECT id, arr[i] AS w1, arr[i + 1] AS w2
      FROM arrs, unnest(generate_series(1, len(arr) - 1)) AS u(i)
    ),
    big AS (SELECT w1, w2, count(*) AS c12 FROM bigrams GROUP BY w1, w2),
    uni AS (SELECT tok AS w1, count(*) AS c1 FROM toks GROUP BY tok),
    v AS (SELECT count(*) AS v FROM uni),
    scored AS (
      SELECT b.id, count(*) AS n_bigrams,
             round(avg(round(-log2((g.c12 + 1.0) / (u.c1 + v.v)), 9)), 6)
               AS ppl_bits
      FROM bigrams b
      JOIN big g USING (w1, w2)
      JOIN uni u USING (w1)
      CROSS JOIN v
      GROUP BY b.id
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY ppl_bits, id) AS rk,
             count(*) OVER () AS n
      FROM scored
    ),
    bucketed AS (
      SELECT id, n_bigrams, ppl_bits,
             CASE WHEN rk <= n // 3 THEN 'head'
                  WHEN rk <= 2 * n // 3 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM ranked
    )
    SELECT d.doc_id AS id,
           coalesce(b.n_bigrams, 0)::BIGINT AS n_bigrams,
           b.ppl_bits,
           coalesce(b.bucket, 'short') AS bucket
    FROM documents d LEFT JOIN bucketed b ON b.id = d.doc_id
    """,
)
def doc_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring (L61; Wenzek et al. 2020 — the
    filter behind CCNet/CC-100, the standard alternative to
    classifier filtering): mean bigram surprisal under a
    corpus-trained add-one-smoothed bigram LM, bucketed into CCNet's
    head/middle/tail TERCILES by exact global rank (two-phase row
    numbering, (bits, id) ties). Per-bigram terms pre-rounded to 9
    decimals (the surprisal determinism convention); the count-table
    joins carry NO broadcast hint (distinct bigrams are corpus-scale
    on web text — AQE picks the strategy; only the 1-row V aggregate
    broadcasts); short docs surface as bucket='short' instead of
    vanishing."""
    from isilon_hadoop_tools_spark.operators.corpus import (
        lm_perplexity_buckets,
    )

    return lm_perplexity_buckets(
        _t(spark, sf_dir, "documents"), "text", "doc_id"
    )


@query(
    "doc_kn_perplexity",
    oracle=r"""
    WITH arrs AS (
      SELECT doc_id AS id, regexp_split_to_array(trim(text), '\s+') AS arr
      FROM documents
    ),
    bigrams AS (
      SELECT id, arr[i] AS w1, arr[i + 1] AS w2
      FROM arrs, unnest(generate_series(1, len(arr) - 1)) AS u(i)
    ),
    big AS (SELECT w1, w2, count(*) AS c12 FROM bigrams GROUP BY w1, w2),
    ctx AS (SELECT w1, sum(c12)::BIGINT AS c1, count(*) AS nf
            FROM big GROUP BY w1),
    cont AS (SELECT w2, count(*) AS nb FROM big GROUP BY w2),
    types AS (SELECT count(*) AS t FROM big),
    scored AS (
      SELECT b.id, count(*) AS n_bigrams,
             round(avg(round(-log2(
               (g.c12 - 0.75) / x.c1
               + (0.75 * x.nf / x.c1) * (n.nb / y.t)
             ), 9)), 6) AS ppl_bits
      FROM bigrams b
      JOIN big g USING (w1, w2)
      JOIN ctx x USING (w1)
      JOIN cont n USING (w2)
      CROSS JOIN types y
      GROUP BY b.id
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY ppl_bits, id) AS rk,
             count(*) OVER () AS n
      FROM scored
    ),
    bucketed AS (
      SELECT id, n_bigrams, ppl_bits,
             CASE WHEN rk <= n // 3 THEN 'head'
                  WHEN rk <= 2 * n // 3 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM ranked
    )
    SELECT d.doc_id AS id,
           coalesce(b.n_bigrams, 0)::BIGINT AS n_bigrams,
           b.ppl_bits,
           coalesce(b.bucket, 'short') AS bucket
    FROM documents d LEFT JOIN bucketed b ON b.id = d.doc_id
    """,
)
def doc_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser–Ney LM scoring (L70; Kneser & Ney 1995,
    Chen & Goodman 1999 — the smoothing KenLM ships and CCNet's
    perplexity filter actually runs): mean bigram surprisal under a
    corpus-trained interpolated-KN bigram LM — discounted observed
    mass plus continuation-probability backoff
    ``N1+(•,w2)/N1+(•,•)`` — bucketed into CCNet head/middle/tail
    terciles by exact two-phase global rank. Context counts are
    bigram-derived (``c(w1•)``, not raw unigram counts); the four
    count tables join with NO broadcast hint (corpus-scale on web
    text; only the 1-row types aggregate broadcasts); short docs
    surface as bucket='short'."""
    from isilon_hadoop_tools_spark.operators.corpus import (
        kn_perplexity_buckets,
    )

    return kn_perplexity_buckets(
        _t(spark, sf_dir, "documents"), "text", "doc_id"
    )


@query(
    "corpus_decontaminate_neardup",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    {_MINHASH_SIGS_SQL},
    banded AS (
      SELECT id, seed AS band, minhash::VARCHAR AS band_key
      FROM sigs
    )
    SELECT t.id, count(DISTINCT e.id)::BIGINT AS n_eval_partners,
           count(*)::BIGINT AS n_band_hits
    FROM banded t
    JOIN banded e ON t.band = e.band AND t.band_key = e.band_key
    WHERE t.id % 97 <> 0 AND e.id % 97 = 0
    GROUP BY t.id
    """,
)
def corpus_decontaminate_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fuzzy benchmark decontamination (L62; the RefinedWeb companion
    to exact-gram `corpus_decontaminate`): training docs that are
    MinHash-LSH near-duplicates of the held-out eval slice
    (doc_id % 97 == 0), with 1-row bands — any shared minhash flags,
    the high-recall direction contamination screening wants. The
    eval band keys broadcast; the corpus streams map-side. Oracle
    recomputes signatures and the cross-boundary band join from the
    shared SQL constants."""
    from isilon_hadoop_tools_spark.operators.corpus import (
        decontaminate_neardup,
    )

    return decontaminate_neardup(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        F.pmod(F.col("doc_id"), F.lit(97)) == 0,
    )


def _url_fixture(docs: DataFrame) -> DataFrame:
    """Deterministic per-doc URL fixture (the testdata has no URL
    column — the synthesis pattern of `doc_redact_pii`): mixed-case
    scheme/host, userinfo, default and non-default ports, empty
    paths, tracking params, IDN punycode, IPv4 hosts, two-level
    ccTLD suffixes, and fragments, all derived from doc_id so the
    DuckDB oracle rebuilds the identical corpus."""
    i = F.col("doc_id")
    url = F.concat(
        F.when(i % 4 == 0, F.lit("HTTPS")).otherwise(F.lit("http")),
        F.lit("://"),
        F.when(
            i % 9 == 0,
            F.concat(F.lit("u"), (i % 5).cast("string"), F.lit(":pw@")),
        ).otherwise(F.lit("")),
        F.when(i % 7 == 0, F.lit("WWW.Example.COM"))
        .when(i % 7 == 1, F.lit("news.example.co.uk"))
        .when(i % 7 == 2, F.lit("Sub.Blog.Example.org"))
        .when(
            i % 7 == 3,
            F.concat(F.lit("192.168.1."), (i % 200).cast("string")),
        )
        .when(i % 7 == 4, F.lit("xn--bcher-kva.example"))
        .when(
            i % 7 == 5,
            F.concat(
                F.lit("cdn"), (i % 5).cast("string"),
                F.lit(".static.example.net"),
            ),
        )
        .otherwise(
            F.concat(F.lit("example"), (i % 3).cast("string"),
                     F.lit(".com.au"))
        ),
        F.when(
            i % 5 == 0,
            F.when(i % 4 == 0, F.lit(":443")).otherwise(F.lit(":80")),
        )
        .when(i % 5 == 1, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.when(i % 3 == 0, F.lit("")).otherwise(
            F.concat(F.lit("/Articles/item"), (i % 50).cast("string"))
        ),
        F.when(i % 6 == 5, F.lit("?utm_source=feed&gclid=Abc123"))
        .when(
            i % 2 == 0,
            F.concat(
                F.lit("?utm_source=feed&b="), (i % 5).cast("string"),
                F.lit("&a="), (i % 3).cast("string"),
            ),
        )
        .otherwise(F.lit("")),
        F.when(
            i % 2 == 1,
            F.concat(F.lit("#sec-"), (i % 4).cast("string")),
        ).otherwise(F.lit("")),
    )
    return docs.select("doc_id", url.alias("url"))


_URL_FIXTURE_SQL = """
    urls AS (
      SELECT doc_id,
        (CASE WHEN doc_id % 4 = 0 THEN 'HTTPS' ELSE 'http' END)
        || '://'
        || (CASE WHEN doc_id % 9 = 0
                 THEN 'u' || (doc_id % 5)::VARCHAR || ':pw@' ELSE '' END)
        || (CASE doc_id % 7
             WHEN 0 THEN 'WWW.Example.COM'
             WHEN 1 THEN 'news.example.co.uk'
             WHEN 2 THEN 'Sub.Blog.Example.org'
             WHEN 3 THEN '192.168.1.' || (doc_id % 200)::VARCHAR
             WHEN 4 THEN 'xn--bcher-kva.example'
             WHEN 5 THEN 'cdn' || (doc_id % 5)::VARCHAR
                         || '.static.example.net'
             ELSE 'example' || (doc_id % 3)::VARCHAR || '.com.au' END)
        || (CASE WHEN doc_id % 5 = 0
                 THEN (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE ':80' END)
                 WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END)
        || (CASE WHEN doc_id % 3 = 0 THEN ''
                 ELSE '/Articles/item' || (doc_id % 50)::VARCHAR END)
        || (CASE WHEN doc_id % 6 = 5 THEN '?utm_source=feed&gclid=Abc123'
                 WHEN doc_id % 2 = 0
                 THEN '?utm_source=feed&b=' || (doc_id % 5)::VARCHAR
                      || '&a=' || (doc_id % 3)::VARCHAR
                 ELSE '' END)
        || (CASE WHEN doc_id % 2 = 1
                 THEN '#sec-' || (doc_id % 4)::VARCHAR ELSE '' END)
        AS url
      FROM documents
    )
"""

# DuckDB twin of operators/urls.py's canonical_url_expr /
# registrable_domain_expr — same regexes, same tracking list, same
# two-level-suffix heuristic (both sides import the shared constants)
from isilon_hadoop_tools_spark.operators.urls import (  # noqa: E402
    TRACKING_PARAM_RE as _TRACK_RE,
    TWO_LEVEL_SUFFIXES as _TWO_LEVEL,
)

_TWO_LEVEL_IN = ", ".join(f"'{s}'" for s in _TWO_LEVEL)

_URL_CANON_SQL = f"""
    u1 AS (
      SELECT doc_id, url,
             lower(regexp_extract(url,
                   '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
             regexp_replace(regexp_extract(url, '^([^#]*)', 1),
                   '^[A-Za-z][A-Za-z0-9+.\\-]*://', '') AS rest
      FROM urls
    ),
    u2 AS (
      SELECT *,
             regexp_extract(regexp_extract(rest, '^([^/?]*)', 1),
                            '([^@]*)$', 1) AS hostport,
             regexp_extract(rest, '^[^/?]*([^?]*)', 1) AS path0,
             regexp_extract(rest, '\\?(.*)$', 1) AS q
      FROM u1
    ),
    u3 AS (
      SELECT *,
             lower(regexp_extract(hostport, '^([^:]*)', 1)) AS host,
             regexp_extract(hostport, ':([0-9]+)$', 1) AS port
      FROM u2
    ),
    u4 AS (
      SELECT *,
             array_to_string(list_sort(list_filter(string_split(q, '&'),
               p -> p <> '' AND NOT regexp_matches(p, '{_TRACK_RE}'))),
               '&') AS qc,
             string_split(host, '.') AS labs
      FROM u3
    ),
    canon AS (
      SELECT doc_id, url, host,
        scheme || '://' || host
          || CASE WHEN port <> ''
                   AND NOT ((scheme = 'http' AND port = '80')
                         OR (scheme = 'https' AND port = '443'))
                  THEN ':' || port ELSE '' END
          || CASE WHEN path0 = '' THEN '/' ELSE path0 END
          || CASE WHEN qc <> '' THEN '?' || qc ELSE '' END AS canon_url,
        CASE WHEN regexp_matches(host,
                    '^[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+$')
                  OR len(labs) <= 2 THEN host
             WHEN array_to_string(labs[-2:], '.') IN ({_TWO_LEVEL_IN})
                  THEN array_to_string(labs[-3:], '.')
             ELSE array_to_string(labs[-2:], '.') END AS domain
      FROM u4
    )
"""


@query(
    "doc_url_canonicalize",
    oracle=f"""
    WITH {_URL_FIXTURE_SQL}, {_URL_CANON_SQL}
    SELECT doc_id AS id, url, canon_url, host, domain FROM canon
    """,
)
def doc_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (L63 — the hygiene pass every web-corpus
    pipeline runs before URL-level dedup): lowercase scheme/host,
    strip userinfo / default ports / fragments / tracking params,
    normalize empty paths, sort surviving query params; plus the
    registrable-domain (eTLD+1) readout under the documented
    two-level-suffix heuristic. Pure regexp/array column algebra —
    scan-bound at 100 TB, no shuffle, no UDF. The oracle rebuilds
    the identical URL corpus and canonicalization in SQL from the
    SAME shared regex/suffix constants."""
    from isilon_hadoop_tools_spark.operators.urls import url_canonicalize

    urls = _url_fixture(_t(spark, sf_dir, "documents"))
    return url_canonicalize(urls, "url", "doc_id")


@query(
    "corpus_domain_caps",
    oracle=f"""
    WITH {_URL_FIXTURE_SQL}, {_URL_CANON_SQL},
    ranked AS (
      SELECT doc_id AS id, domain,
             row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rk
      FROM canon
    ),
    agg AS (
      SELECT domain, count(*)::BIGINT AS n_docs,
             sum(CASE WHEN rk <= 20 THEN 1 ELSE 0 END)::BIGINT AS n_kept
      FROM ranked GROUP BY domain
    )
    SELECT domain, n_docs, n_kept,
           round(n_docs::DOUBLE / (SELECT sum(n_docs) FROM agg), 6)
             AS share_before,
           round(n_kept::DOUBLE / (SELECT sum(n_kept) FROM agg), 6)
             AS share_after
    FROM agg
    """,
)
def corpus_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registrable-domain frequency caps + domain-mix report
    (L64 — the FineWeb per-domain discipline): keep at most 20 docs
    per domain (lowest ids — deterministic), report each domain's
    doc count and corpus share before/after the cap. Scale shape:
    ONE domain-keyed aggregate splits the corpus; only ABOVE-cap
    domains' rows enter the rank window (the long tail of small
    domains — most of a web corpus — bypasses it)."""
    from isilon_hadoop_tools_spark.operators.urls import domain_mix_report

    urls = _url_fixture(_t(spark, sf_dir, "documents"))
    return domain_mix_report(urls, "url", "doc_id", cap=20)


def _url_psl_fixture(docs: DataFrame) -> DataFrame:
    """Deterministic per-doc URL fixture targeting PUBLIC SUFFIX LIST
    semantics (hosts the two-level heuristic mis-groups): github.io /
    blogspot private suffixes, *.kawasaki.jp wildcard registries with
    the !city.kawasaki.jp exception, the *.ck / !www.ck canonical
    wildcard-exception pair, and plain gTLD hosts as controls — all
    derived from doc_id so the DuckDB oracle rebuilds the identical
    corpus."""
    i = F.col("doc_id")
    host = (
        F.when(i % 8 == 0, F.concat(F.lit("user"), (i % 7).cast("string"), F.lit(".github.io")))
        .when(i % 8 == 1, F.concat(F.lit("blog"), (i % 5).cast("string"), F.lit(".Blogspot.com")))
        .when(i % 8 == 2, F.concat(F.lit("www.example"), (i % 3).cast("string"), F.lit(".co.uk")))
        .when(i % 8 == 3, F.concat(F.lit("a.town"), (i % 4).cast("string"), F.lit(".kawasaki.jp")))
        .when(i % 8 == 4, F.lit("deep.sub.city.kawasaki.jp"))
        .when(i % 8 == 5, F.concat(F.lit("shop"), (i % 6).cast("string"), F.lit(".example.ck")))
        .when(i % 8 == 6, F.lit("www.ck"))
        .otherwise(F.concat(F.lit("news.portal"), (i % 4).cast("string"), F.lit(".com")))
    )
    url = F.concat(
        F.lit("https://"), host, F.lit("/p"), (i % 9).cast("string")
    )
    return docs.select("doc_id", url.alias("url"))


_URL_PSL_FIXTURE_SQL = """
    urls AS (
      SELECT doc_id,
        'https://'
        || (CASE WHEN doc_id % 8 = 0
                 THEN 'user' || (doc_id % 7)::VARCHAR || '.github.io'
                 WHEN doc_id % 8 = 1
                 THEN 'blog' || (doc_id % 5)::VARCHAR || '.Blogspot.com'
                 WHEN doc_id % 8 = 2
                 THEN 'www.example' || (doc_id % 3)::VARCHAR || '.co.uk'
                 WHEN doc_id % 8 = 3
                 THEN 'a.town' || (doc_id % 4)::VARCHAR || '.kawasaki.jp'
                 WHEN doc_id % 8 = 4 THEN 'deep.sub.city.kawasaki.jp'
                 WHEN doc_id % 8 = 5
                 THEN 'shop' || (doc_id % 6)::VARCHAR || '.example.ck'
                 WHEN doc_id % 8 = 6 THEN 'www.ck'
                 ELSE 'news.portal' || (doc_id % 4)::VARCHAR || '.com' END)
        || '/p' || (doc_id % 9)::VARCHAR AS url
      FROM documents
    )
"""


def _psl_domain_case_sql(host: str = "host", labs: str = "labs") -> str:
    """DuckDB CASE twin of ``registrable_domain_psl_expr`` over the
    PACKAGED snapshot: emitted from the SAME ``psl_match_plan`` rule
    order and rule sets the Spark expression compiles from, so both
    engines walk identical branches."""
    from isilon_hadoop_tools_spark.operators.urls import (
        load_psl,
        psl_match_plan,
    )

    rules = load_psl()
    branches = []
    for kind, k, ps in psl_match_plan(rules):
        vals = getattr(rules, kind)[k]
        inlist = ", ".join(f"'{v}'" for v in sorted(vals))
        cond = f"array_to_string({labs}[-{k}:], '.') IN ({inlist})"
        if kind == "wild":
            cond += f" AND len({labs}) >= {k + 1}"
        if ps >= 1:
            win = (
                f"CASE WHEN len({labs}) > {ps} "
                f"THEN array_to_string({labs}[-{ps + 1}:], '.') "
                f"ELSE {host} END"
            )
        else:
            win = host
        branches.append(f"WHEN {cond} THEN {win}")
    return (
        f"CASE WHEN {host} LIKE '[%' "
        f"OR regexp_matches({host}, "
        f"'^[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+$') "
        f"OR len({labs}) <= 1 THEN {host} "
        + " ".join(branches)
        + f" ELSE CASE WHEN len({labs}) >= 2 "
        f"THEN array_to_string({labs}[-2:], '.') ELSE {host} END END"
    )


@query(
    "corpus_domain_caps_psl",
    oracle=f"""
    WITH {_URL_PSL_FIXTURE_SQL},
    hostcte AS (
      SELECT doc_id,
             lower(regexp_extract(regexp_extract(regexp_replace(
               regexp_extract(url, '^([^#]*)', 1),
               '^[A-Za-z][A-Za-z0-9+.\\-]*://', ''),
               '^([^/?]*)', 1), '([^@]*)$', 1)) AS hostport
      FROM urls
    ),
    dom AS (
      SELECT doc_id, {{psl_case}} AS domain
      FROM (
        SELECT doc_id, host, string_split(host, '.') AS labs
        FROM (SELECT doc_id,
                     regexp_extract(hostport, '^([^:]*)', 1) AS host
              FROM hostcte)
      )
    ),
    ranked AS (
      SELECT doc_id AS id, domain,
             row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rk
      FROM dom
    ),
    agg AS (
      SELECT domain, count(*)::BIGINT AS n_docs,
             sum(CASE WHEN rk <= 15 THEN 1 ELSE 0 END)::BIGINT AS n_kept
      FROM ranked GROUP BY domain
    )
    SELECT domain, n_docs, n_kept,
           round(n_docs::DOUBLE / (SELECT sum(n_docs) FROM agg), 6)
             AS share_before,
           round(n_kept::DOUBLE / (SELECT sum(n_kept) FROM agg), 6)
             AS share_after
    FROM agg
    """.replace("{psl_case}", _psl_domain_case_sql()),
)
def corpus_domain_caps_psl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain frequency caps under FULL Public Suffix List
    semantics (L64d — r12 VERDICT #2): same cap/report shape as
    `corpus_domain_caps`, but the registrable domain comes from
    PSL longest-match (plain multi-level suffixes like `github.io`,
    wildcard registries `*.kawasaki.jp`, exceptions `!city.kawasaki.jp`
    / `!www.ck`) compiled into one JVM-side InSet when-chain from the
    packaged pinned snapshot — rules a fixed two-level set CANNOT
    express, on a fixture where heuristic and PSL answers diverge on
    6 of 8 host families. Scan-bound: no UDF, no broadcast join, the
    rule table is bounded driver state compiled into the plan."""
    from isilon_hadoop_tools_spark.operators.urls import (
        domain_mix_report,
        load_psl,
    )

    urls = _url_psl_fixture(_t(spark, sf_dir, "documents"))
    return domain_mix_report(urls, "url", "doc_id", cap=15, psl=load_psl())


_ML_LANGS = ("de", "en", "es", "fr")

# stopword-FREE language-typical vocabularies: every LANG_PROFILES
# stopword is absent, so the heuristic identifier scores 0 on every
# doc ('unknown') while char-3-gram heads separate the languages —
# the fixture that makes "trained dominates heuristic" measurable
_ML_VOCAB = {
    "de": ("verwaltung", "gesellschaft", "wissenschaft", "geschichte",
           "nachricht", "beziehung"),
    "en": ("through", "thought", "nothing", "knights", "sharing",
           "brought"),
    "es": ("informacion", "situacion", "desarrollo", "gobierno",
           "trabajo", "corazon"),
    "fr": ("bureaux", "chateau", "travaux", "toujours", "beaucoup",
           "nouveaux"),
}


def _multilang_fixture(docs: DataFrame) -> DataFrame:
    """Deterministic multilingual corpus: doc_id % 4 picks the
    language, the text is 8 vocabulary words cycled by
    ``(doc_id + 3*j) % 6`` — both engines rebuild it bit-identically
    (the `_url_fixture` synthesis pattern)."""
    i = F.col("doc_id")

    def pick(lang: str, j: int):
        return F.element_at(
            F.array(*[F.lit(w) for w in _ML_VOCAB[lang]]),
            ((i + 3 * j) % 6 + 1).cast("int"),
        )

    words = [
        F.when(i % 4 == 0, pick("de", j))
        .when(i % 4 == 1, pick("en", j))
        .when(i % 4 == 2, pick("es", j))
        .otherwise(pick("fr", j))
        for j in range(8)
    ]
    lang = (
        F.when(i % 4 == 0, F.lit("de"))
        .when(i % 4 == 1, F.lit("en"))
        .when(i % 4 == 2, F.lit("es"))
        .otherwise(F.lit("fr"))
    )
    return docs.select(
        "doc_id", lang.alias("lang"), F.concat_ws(" ", *words).alias("text")
    )


def _ml_vocab_sql(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in _ML_VOCAB[lang]) + "]"


_ML_FIXTURE_SQL = f"""
    ml AS (
      SELECT doc_id AS id,
             (CASE WHEN doc_id % 4 = 0 THEN 'de'
                   WHEN doc_id % 4 = 1 THEN 'en'
                   WHEN doc_id % 4 = 2 THEN 'es'
                   ELSE 'fr' END) AS lang_y,
             array_to_string(list_transform(range(0, 8), jj ->
               (CASE WHEN doc_id % 4 = 0 THEN {_ml_vocab_sql("de")}
                     WHEN doc_id % 4 = 1 THEN {_ml_vocab_sql("en")}
                     WHEN doc_id % 4 = 2 THEN {_ml_vocab_sql("es")}
                     ELSE {_ml_vocab_sql("fr")} END)
               [((doc_id + 3 * jj) % 6) + 1]), ' ') AS text
      FROM documents
    )
"""


def _lang_id_trained_oracle(
    n_buckets: int = 64,
    rounds: int = 2,
    scale: int = 1000,
    lr_num: int = 1,
    lr_den: int = 4,
) -> str:
    """Unrolled multi-class GD twin of ``lang_classifier_eval`` over
    the multilingual fixture: char-3-gram hashed features, one
    weights CTE per round per the `_quality_oracle` pattern but keyed
    by (lang, j), holdout argmax prediction with the same
    (margin DESC, lang ASC) tie order."""
    four_s = 4 * scale
    langs_sql = "[" + ", ".join(f"'{lg}'" for lg in _ML_LANGS) + "]"

    def feats_cte(tag: str, where: str) -> str:
        return f"""
    grams_{tag} AS (
      SELECT id, lang_y, substr(text, i::INT, 3) AS g
      FROM (SELECT * FROM ml {where}) m,
           unnest(range(1, length(text) - 1)) AS t(i)
    ),
    tf_{tag} AS (
      SELECT id, lang_y,
             (('0x' || substr(md5(g), 1, 8))::BIGINT % {n_buckets}) AS j,
             count(*)::BIGINT AS x
      FROM grams_{tag} GROUP BY id, lang_y, j
    ),
    feats_{tag} AS (
      SELECT * FROM tf_{tag}
      UNION ALL
      SELECT id, lang_y, {n_buckets}::BIGINT AS j, 1::BIGINT AS x
      FROM ml {where}
    )"""

    parts = [
        f"""
    WITH {_ML_FIXTURE_SQL},
    n AS (SELECT count(*)::BIGINT AS n_docs FROM ml WHERE id % 5 <> 0),
    {feats_cte("tr", "WHERE id % 5 <> 0")},
    langs AS (SELECT unnest({langs_sql}) AS lang),
    w0 AS (
      SELECT l.lang, j.j::BIGINT AS j, 0::HUGEINT AS w
      FROM langs l, (SELECT unnest(range(0, {n_buckets + 1})) AS j) j
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
    m{r} AS (
      SELECT f.id, l.lang,
             least({four_s}, greatest(0,
                   {2 * scale} + sum(w.w * f.x))) AS N
      FROM feats_tr f CROSS JOIN langs l
      JOIN w{r - 1} w ON w.lang = l.lang AND w.j = f.j
      GROUP BY f.id, l.lang
    ),
    g{r} AS (
      SELECT m.lang, f.j,
             sum((m.N - {four_s} * (CASE WHEN f.lang_y = m.lang
                                         THEN 1 ELSE 0 END)) * f.x) AS G
      FROM feats_tr f JOIN m{r} m ON m.id = f.id
      GROUP BY m.lang, f.j
    ),
    w{r} AS (
      SELECT w.lang, w.j,
             w.w - ({lr_num} * coalesce(g.G, 0))
                   // ({lr_den * 4} * n.n_docs) AS w
      FROM w{r - 1} w LEFT JOIN g{r} g ON g.lang = w.lang AND g.j = w.j, n
    )"""
        )
    parts.append(
        f""",
    {feats_cte("te", "WHERE id % 5 = 0")},
    sc AS (
      SELECT f.id, f.lang_y, l.lang, sum(w.w * f.x) AS m
      FROM feats_te f CROSS JOIN langs l
      JOIN w{rounds} w ON w.lang = l.lang AND w.j = f.j
      GROUP BY f.id, f.lang_y, l.lang
    ),
    pred AS (
      SELECT id, lang_y, lang AS predicted FROM (
        SELECT *, row_number() OVER (PARTITION BY id
                                     ORDER BY m DESC, lang ASC) AS rk
        FROM sc
      ) WHERE rk = 1
    )
    SELECT lang_y AS labeled_lang, predicted AS predicted_lang,
           count(*)::BIGINT AS n,
           round(count(*)::DOUBLE
                 / sum(count(*)) OVER (PARTITION BY lang_y), 6) AS share
    FROM pred GROUP BY labeled_lang, predicted_lang"""
    )
    return "".join(parts)


@query("doc_lang_id_trained", oracle=_lang_id_trained_oracle())
def doc_lang_id_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED language identification (L15b — r12 VERDICT #4, the
    CCNet/fastText upgrade of the stopword heuristic): one-vs-rest
    integer-GD heads over hashed char-3-gram buckets, trained on the
    doc_id%5!=0 slice of a deterministic multilingual fixture whose
    vocabularies contain NO profile stopwords (the heuristic reads
    'unknown' on every doc), evaluated as the holdout confusion
    table. One scan per GD round with map-side partials; L x (D+1)
    driver-held weights broadcast back as a map literal; prediction
    is argmax margin with (margin DESC, lang ASC) ties — exact
    integer arithmetic end to end, hash-identical to the unrolled
    multi-class DuckDB twin."""
    from isilon_hadoop_tools_spark.operators.corpus import (
        lang_classifier_eval,
    )

    docs = _multilang_fixture(_t(spark, sf_dir, "documents"))
    return lang_classifier_eval(
        docs,
        "text",
        "doc_id",
        "lang",
        list(_ML_LANGS),
        F.col("doc_id") % 5 != 0,
        n_buckets=64,
        rounds=2,
        ngram_n=3,
    )


@query(
    "corpus_paragraph_dedup",
    oracle="""
    WITH fx AS (
      SELECT doc_id AS id,
             'shared header ' || (doc_id % 25)::VARCHAR || chr(10)
             || 'body section ' || ((doc_id * 7 + 3) % 40)::VARCHAR
             || chr(10) || 'unique tail ' || doc_id::VARCHAR AS text
      FROM documents
    ),
    prs AS (
      SELECT id, i - 1 AS pos, ps[i] AS para
      FROM (SELECT id, string_split(text, chr(10)) AS ps FROM fx),
           unnest(range(1, len(ps) + 1)) AS t(i)
    ),
    f1 AS (SELECT para, min(id) AS fid FROM prs GROUP BY para),
    f2 AS (
      SELECT p.para, p.id AS fid, min(p.pos) AS fpos
      FROM prs p JOIN f1 ON f1.para = p.para AND f1.fid = p.id
      GROUP BY p.para, p.id
    ),
    flag AS (
      SELECT p.id, p.pos, p.para,
             (p.id = f2.fid AND p.pos = f2.fpos) AS keep
      FROM prs p JOIN f2 ON f2.para = p.para
    )
    SELECT id, count(*)::BIGINT AS n_paras,
           sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           coalesce(string_agg(CASE WHEN keep THEN para END, chr(10)
                               ORDER BY pos), '') AS text_clean
    FROM flag GROUP BY id
    """,
)
def corpus_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet paragraph-hash dedup (L67 — Wenzek et al. 2020 §3.1, the
    FIRST pass of the CCNet pipeline): cross-corpus exact paragraph
    dedup keeping only each paragraph's (min id, min pos) occurrence,
    documents re-assembled in order. Fixture: 3-paragraph docs whose
    header/body paragraphs are drawn from shared pools (25 / 40
    variants — heavy cross-doc duplication, the boilerplate model)
    and whose tail is unique. One paragraph-keyed aggregate + one
    id-keyed re-assembly; the hottest boilerplate paragraph is a
    single group (`operators/corpus.py paragraph_dedup`)."""
    from isilon_hadoop_tools_spark.operators.corpus import paragraph_dedup

    i = F.col("doc_id")
    fx = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("shared header "), (i % 25).cast("string"), F.lit("\n"),
            F.lit("body section "), ((i * 7 + 3) % 40).cast("string"),
            F.lit("\n"),
            F.lit("unique tail "), i.cast("string"),
        ).alias("text"),
    )
    return paragraph_dedup(fx, "text", "doc_id")


@query(
    "doc_quality_threshold_sweep",
    oracle=rf"""
    WITH sc AS (
      SELECT round(length(list_filter(
                 regexp_split_to_array(trim(text), '\s+'),
                 t -> t IN ({{sw}})))::DOUBLE
               / length(regexp_split_to_array(trim(text), '\s+')), 4) AS s,
             length(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS wt
      FROM documents
    ),
    binned AS (
      SELECT least(20, greatest(0, floor(s * 100 / 5)::INT)) AS b,
             count(*)::BIGINT AS n, sum(wt)::BIGINT AS ws
      FROM sc GROUP BY b
    ),
    grid AS (SELECT unnest(range(0, 21))::INT AS b),
    full_g AS (
      SELECT g.b, coalesce(n, 0) AS n, coalesce(ws, 0) AS ws
      FROM grid g LEFT JOIN binned USING (b)
    ),
    cum AS (
      SELECT b,
             (sum(n) OVER (ORDER BY b DESC ROWS BETWEEN UNBOUNDED
                           PRECEDING AND CURRENT ROW))::BIGINT
               AS n_docs_kept,
             (sum(ws) OVER (ORDER BY b DESC ROWS BETWEEN UNBOUNDED
                            PRECEDING AND CURRENT ROW))::BIGINT
               AS weight_kept
      FROM full_g
    )
    SELECT round(b * 5 / 100.0, 6) AS threshold,
           n_docs_kept, weight_kept,
           round(CASE WHEN (SELECT sum(ws) FROM full_g) > 0
                      THEN weight_kept::DOUBLE
                           / (SELECT sum(ws) FROM full_g)
                      ELSE 0.0 END, 6) AS weight_share
    FROM cum
    """.replace("{sw}", _STOPWORDS_SQL),
)
def doc_quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-threshold calibration sweep (L68 — the FineWeb-Edu
    release artifact: token-retention vs score-threshold curve):
    stopword-ratio score (4 dp, the shared doc_token_stats signal),
    token-count weight, thresholds on a 0.05 grid. ONE corpus scan
    into a 21-row grid aggregate; the cumulative sweep runs on the
    grid rows only (`operators/corpus.py quality_threshold_sweep`)."""
    from isilon_hadoop_tools_spark.operators.corpus import (
        quality_threshold_sweep,
    )

    docs = _t(spark, sf_dir, "documents")
    return quality_threshold_sweep(
        docs,
        F.round(stopword_ratio("text", _STOPWORDS), 4),
        token_count("text"),
        step_m=5,
    )


_PARA_DEDUP_ORACLE = """
    WITH fx AS (
      SELECT doc_id AS id,
             'shared header ' || (doc_id % 25)::VARCHAR || chr(10)
             || 'body section ' || ((doc_id * 7 + 3) % 40)::VARCHAR
             || chr(10) || 'unique tail ' || doc_id::VARCHAR AS text
      FROM documents
    ),
    prs AS (
      SELECT id, i - 1 AS pos, ps[i] AS para
      FROM (SELECT id, string_split(text, chr(10)) AS ps FROM fx),
           unnest(range(1, len(ps) + 1)) AS t(i)
    ),
    f1 AS (SELECT para, min(id) AS fid FROM prs GROUP BY para),
    f2 AS (
      SELECT p.para, p.id AS fid, min(p.pos) AS fpos
      FROM prs p JOIN f1 ON f1.para = p.para AND f1.fid = p.id
      GROUP BY p.para, p.id
    ),
    flag AS (
      SELECT p.id, p.pos, p.para,
             (p.id = f2.fid AND p.pos = f2.fpos) AS keep
      FROM prs p JOIN f2 ON f2.para = p.para
    )
    SELECT id, count(*)::BIGINT AS n_paras,
           sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           coalesce(string_agg(CASE WHEN keep THEN para END, chr(10)
                               ORDER BY pos), '') AS text_clean
    FROM flag GROUP BY id
"""


@query("paragraph_index_stream", oracle=_PARA_DEDUP_ORACLE)
def paragraph_index_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CCNet paragraph-dedup maintenance (§2.9 x L67): the
    3-paragraph fixture arrives as three micro-batches ordered so a
    LATER batch carries lower doc ids (doc_id%3 descending order ->
    displacement is exercised: boilerplate ownership moves to the
    lower id and previously-rebuilt docs re-assemble). No checkpoint
    (replays no-op — pinned by the replay unit matrix in
    tests/test_streaming_neardup.py; the bench drains once) and the
    final per-doc
    snapshot must hash-match the batch `corpus_paragraph_dedup`
    oracle on the same corpus."""
    from isilon_hadoop_tools_spark.streaming.events import drain
    from isilon_hadoop_tools_spark.streaming.neardup import (
        PP_KEPT_SCHEMA,
        paragraph_index_apply_batch,
    )

    i = F.col("doc_id")
    fx = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("shared header "), (i % 25).cast("string"), F.lit("\n"),
            F.lit("body section "), ((i * 7 + 3) % 40).cast("string"),
            F.lit("\n"),
            F.lit("unique tail "), i.cast("string"),
        ).alias("text"),
    )
    # later batches bring LOWER residues, so cross-batch displacement
    # happens
    stream = _sliced_stream(
        spark, fx, "paragraph_index_stream", sf_dir, residues=(2, 1, 0)
    )
    state = _fresh_state(spark, "paragraph_index_stream")
    drain(
        stream, lambda batch, _id: paragraph_index_apply_batch(batch, state), None
    )
    return state.read("pp_kept", PP_KEPT_SCHEMA)


@query("suffix_index_stream", oracle=_SUFFIX_SPANS_ORACLE)
def suffix_index_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-substring dedup maintenance (§2.9 x L29d): the
    documents table arrives as three micro-batches; each batch's
    grams probe the persisted duplicated-gram postings, spans
    recompute EXACTLY and only for touched documents, and the spans
    state is swapped. No checkpoint: replays are no-ops (pinned by
    the replay/partial-append unit matrix in
    tests/test_streaming_neardup.py; the bench drains once) and the
    final spans state must hash-match the batch
    `doc_suffix_dup_spans` brute-force oracle on the same corpus —
    one missed cross-batch duplicate or a stale untouched-doc span
    fails the value hash."""
    from isilon_hadoop_tools_spark.streaming.events import drain
    from isilon_hadoop_tools_spark.streaming.neardup import (
        SFX_SPANS_SCHEMA,
        suffix_index_apply_batch,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    stream = _sliced_stream(spark, docs, "suffix_index_stream", sf_dir)
    state = _fresh_state(spark, "suffix_index_stream")
    drain(
        stream,
        lambda batch, _id: suffix_index_apply_batch(
            batch, state, min_len=_DUP_SPAN_N
        ),
        None,
    )
    return state.read("sfx_spans", SFX_SPANS_SCHEMA)


@query(
    "corpus_decontaminate_spans",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id AS id, regexp_split_to_array(trim(text), '\s+') AS arr
      FROM documents
    ),
    grams AS (
      SELECT id, i - 1 AS pos, array_to_string(arr[i:i+2], ' ') AS g
      FROM toks, unnest(generate_series(1, len(arr) - 2)) AS u(i)
    ),
    eg AS (SELECT DISTINCT g FROM grams WHERE id % 97 = 0),
    hits AS (
      SELECT id, pos AS s, pos + 3 AS e
      FROM grams JOIN eg USING (g) WHERE id % 97 <> 0
    ),
    isl AS (
      SELECT *, CASE WHEN s > coalesce(max(e) OVER (
                     PARTITION BY id ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                     THEN 1 ELSE 0 END AS nw
      FROM hits
    ),
    isl2 AS (
      SELECT *, sum(nw) OVER (PARTITION BY id ORDER BY s, e
                              ROWS UNBOUNDED PRECEDING) AS island
      FROM isl
    )
    SELECT id, min(s)::BIGINT AS start_tok, max(e)::BIGINT AS end_tok,
           (max(e) - min(s))::BIGINT AS span_len,
           count(*)::BIGINT AS n_grams
    FROM isl2 GROUP BY id, island
    """,
)
def corpus_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-level decontamination report (L25b): WHERE each
    training doc overlaps the eval slice (doc_id % 97 == 0) — merged
    maximal token spans of eval-shared 3-grams, not just a doc flag.
    Eval grams broadcast; the corpus streams map-side; spans
    island-merge per doc."""
    from isilon_hadoop_tools_spark.operators.corpus import (
        decontaminate_spans,
    )

    return decontaminate_spans(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        F.pmod(F.col("id"), F.lit(97)) == 0, n=3,
    )


def _url_dedup_fixture(docs: DataFrame) -> DataFrame:
    """URL fixture for the keep-one dedup: the BASE url repeats with
    period 24 over doc_id while tracking params and fragments carry
    the full doc_id — every RAW url is distinct, every CANONICAL url
    collapses to one of 24 groups. Case noise on scheme/host proves
    the collapse goes through normalization, not string equality."""
    i = F.col("doc_id")
    j = i % 24
    url = F.concat(
        F.lit("http://Example"),
        (j % 3).cast("string"),
        F.lit(".COM/page"),
        j.cast("string"),
        F.lit("?utm_source=s"),
        i.cast("string"),
        F.lit("&gclid=g"),
        i.cast("string"),
        F.when(j % 2 == 1, F.lit("&x=1")).otherwise(F.lit("")),
        F.lit("#f"),
        i.cast("string"),
    )
    return docs.select("doc_id", url.alias("url"))


_URL_DEDUP_FIXTURE_SQL = """
    urls AS (
      SELECT doc_id,
        'http://Example' || ((doc_id % 24) % 3)::VARCHAR
        || '.COM/page' || (doc_id % 24)::VARCHAR
        || '?utm_source=s' || doc_id::VARCHAR
        || '&gclid=g' || doc_id::VARCHAR
        || (CASE WHEN (doc_id % 24) % 2 = 1 THEN '&x=1' ELSE '' END)
        || '#f' || doc_id::VARCHAR AS url
      FROM documents
    )
"""


@query(
    "dedup_url_keep_one",
    oracle=f"""
    WITH {_URL_DEDUP_FIXTURE_SQL}, {_URL_CANON_SQL},
    g AS (
      SELECT canon_url, min(doc_id) AS keep_id,
             count(*)::BIGINT AS n_dups
      FROM canon GROUP BY canon_url
    )
    SELECT c.doc_id AS id, c.canon_url, g.n_dups,
           c.doc_id = g.keep_id AS kept
    FROM canon c JOIN g USING (canon_url)
    """,
)
def dedup_url_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level exact dedup over CANONICAL urls (L63b — the CCNet
    by-URL dedup the canonicalizer exists for): raw urls all differ
    (unique tracking params + fragments), canonical urls collapse to
    24 groups; keep the lowest id per group. One keyed aggregate +
    join back, both on the canonical URL."""
    from isilon_hadoop_tools_spark.operators.urls import url_keep_one

    urls = _url_dedup_fixture(_t(spark, sf_dir, "documents"))
    return url_keep_one(urls, "url", "doc_id")


@query(
    "corpus_decontaminate_cut",
    oracle=r"""
    WITH toks0 AS (
      SELECT doc_id AS id, regexp_split_to_array(trim(text), '\s+') AS arr
      FROM documents
    ),
    grams AS (
      SELECT id, i - 1 AS pos, array_to_string(arr[i:i+2], ' ') AS g
      FROM toks0, unnest(generate_series(1, len(arr) - 2)) AS u(i)
    ),
    eg AS (SELECT DISTINCT g FROM grams WHERE id % 97 = 0),
    hits AS (
      SELECT id, pos AS s, pos + 3 AS e
      FROM grams JOIN eg USING (g) WHERE id % 97 <> 0
    ),
    isl AS (
      SELECT *, CASE WHEN s > coalesce(max(e) OVER (
                     PARTITION BY id ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                     THEN 1 ELSE 0 END AS nw
      FROM hits
    ),
    isl2 AS (
      SELECT *, sum(nw) OVER (PARTITION BY id ORDER BY s, e
                              ROWS UNBOUNDED PRECEDING) AS island
      FROM isl
    ),
    merged AS (
      SELECT id, min(s) AS st, max(e) AS en FROM isl2 GROUP BY id, island
    ),
    toks AS (
      SELECT id, p1 - 1 AS pos, arr[p1] AS tok
      FROM (SELECT id, arr, unnest(generate_series(1, len(arr))) AS p1
            FROM toks0)
    ),
    marked AS (
      SELECT t.id, t.pos, t.tok,
             EXISTS(SELECT 1 FROM merged m
                    WHERE m.id = t.id AND t.pos >= m.st AND t.pos < m.en)
               AS removed
      FROM toks t
    ),
    agg AS (
      SELECT id, count(*) AS n_tokens,
             sum(CASE WHEN removed THEN 1 ELSE 0 END) AS n_removed,
             string_agg(CASE WHEN NOT removed THEN tok END, ' '
                        ORDER BY pos) AS clean_text
      FROM marked GROUP BY id
    )
    SELECT d.doc_id AS id,
           coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
           coalesce(a.n_removed, 0)::BIGINT AS n_removed,
           coalesce(a.clean_text, '') AS clean_text
    FROM documents d LEFT JOIN agg a ON a.id = d.doc_id
    WHERE d.doc_id % 97 <> 0
    """,
)
def corpus_decontaminate_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination surgery (L25c — the RefinedWeb remove step on
    L25b's report): cut the eval-overlapping 3-gram spans out of the
    training docs; eval rows (doc_id % 97 == 0) excluded from the
    output. Same exact-accounting contract as the dup-span cuts."""
    from isilon_hadoop_tools_spark.operators.corpus import decontaminate_cut

    return decontaminate_cut(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        F.pmod(F.col("id"), F.lit(97)) == 0, n=3,
    )


@query(
    "doc_web_curation_pipeline",
    oracle=f"""
    WITH {_URL_DEDUP_FIXTURE_SQL}, {_URL_CANON_SQL},
    train AS (
      SELECT doc_id, canon_url, domain FROM canon WHERE doc_id % 97 <> 0
    ),
    g AS (
      SELECT canon_url, min(doc_id) AS keep_id FROM train
      GROUP BY canon_url
    ),
    uk AS (
      SELECT t.doc_id, t.domain, t.doc_id = g.keep_id AS u_kept
      FROM train t JOIN g USING (canon_url)
    ),
    ranked AS (
      SELECT doc_id, row_number() OVER (PARTITION BY domain
                                        ORDER BY doc_id) AS rk
      FROM uk WHERE u_kept
    ),
    ck AS (SELECT doc_id, rk <= 5 AS c_kept FROM ranked),
    kept AS (SELECT doc_id FROM ck WHERE c_kept),
    toks0 AS (
      SELECT doc_id AS id, regexp_split_to_array(trim(text), '\\s+') AS arr
      FROM documents
      WHERE doc_id % 97 = 0 OR doc_id IN (SELECT doc_id FROM kept)
    ),
    grams AS (
      SELECT id, i - 1 AS pos, array_to_string(arr[i:i+2], ' ') AS gg
      FROM toks0, unnest(generate_series(1, len(arr) - 2)) AS u(i)
    ),
    eg AS (SELECT DISTINCT gg FROM grams WHERE id % 97 = 0),
    hits AS (
      SELECT id, pos AS s, pos + 3 AS e
      FROM grams JOIN eg USING (gg) WHERE id % 97 <> 0
    ),
    isl AS (
      SELECT *, CASE WHEN s > coalesce(max(e) OVER (
                     PARTITION BY id ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                     THEN 1 ELSE 0 END AS nw
      FROM hits
    ),
    isl2 AS (
      SELECT *, sum(nw) OVER (PARTITION BY id ORDER BY s, e
                              ROWS UNBOUNDED PRECEDING) AS island
      FROM isl
    ),
    merged AS (
      SELECT id, min(s) AS st, max(e) AS en FROM isl2 GROUP BY id, island
    ),
    nrem AS (
      SELECT id, sum(en - st)::BIGINT AS n_removed FROM merged GROUP BY id
    )
    SELECT u.doc_id AS id, u.domain,
           CASE WHEN NOT u_kept THEN 'url_dup'
                WHEN NOT coalesce(c_kept, FALSE) THEN 'domain_cap'
                ELSE 'kept' END AS stage,
           coalesce(n.n_removed, 0)::BIGINT AS n_removed
    FROM uk u
    LEFT JOIN ck ON ck.doc_id = u.doc_id
    LEFT JOIN nrem n ON n.id = u.doc_id
    """,
)
def doc_web_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEB-curation capstone (L65 — the URL-family sibling of the L60
    quality capstone): canonical-URL keep-one dedup → per-domain cap
    (5) on the survivors → contamination span cut of the kept docs
    against the eval slice (doc_id % 97 == 0), one hash-checked
    composition reporting every non-eval doc's fate (url_dup /
    domain_cap / kept + tokens cut). The oracle recomputes all three
    stages in SQL from the same shared URL constants and the
    brute-force span machinery."""
    from isilon_hadoop_tools_spark.operators.corpus import (
        web_curation_pipeline,
    )

    docs = _t(spark, sf_dir, "documents")
    urls = _url_dedup_fixture(docs).join(
        docs.select("doc_id", "text"), "doc_id"
    )
    return web_curation_pipeline(
        urls, "url", "text", "doc_id", cap=5,
        is_eval=F.pmod(F.col("id"), F.lit(97)) == 0, n=3,
    )


@query(
    "domain_caps_index_stream",
    oracle=f"""
    WITH {_URL_FIXTURE_SQL}, {_URL_CANON_SQL},
    ranked AS (
      SELECT doc_id AS id, domain,
             row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rk
      FROM canon
    )
    SELECT id, domain, rk <= 20 AS kept FROM ranked
    """,
)
def domain_caps_index_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-domain cap maintenance (§2.9 x L64): the URL
    fixture arrives as three micro-batches keyed doc_id % 3 — so ids
    arrive OUT of id order and later batches displace previously-kept
    docs — decisions recompute only for touched domains, and the
    decision snapshot after one drain must hash-match the batch cap
    semantics (lowest 20 ids per domain) over the whole corpus."""
    from isilon_hadoop_tools_spark.streaming.events import drain
    from isilon_hadoop_tools_spark.streaming.neardup import (
        DC_KEPT_SCHEMA,
        domain_caps_apply_batch,
    )

    urls = _url_fixture(_t(spark, sf_dir, "documents"))
    stream = _sliced_stream(spark, urls, "domain_caps_stream", sf_dir)
    state = _fresh_state(spark, "domain_caps_index_stream")
    drain(
        stream,
        lambda batch, _id: domain_caps_apply_batch(batch, state, cap=20),
        None,
    )
    return state.read("dc_kept", DC_KEPT_SCHEMA)


@query(
    "url_keep_one_index_stream",
    oracle=f"""
    WITH {_URL_DEDUP_FIXTURE_SQL}, {_URL_CANON_SQL},
    g AS (
      SELECT canon_url, min(doc_id) AS keep_id,
             count(*)::BIGINT AS n_dups
      FROM canon GROUP BY canon_url
    )
    SELECT c.doc_id AS id, c.canon_url, g.n_dups,
           c.doc_id = g.keep_id AS kept
    FROM canon c JOIN g USING (canon_url)
    """,
)
def url_keep_one_index_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming canonical-URL keep-one maintenance (§2.9 x L63b):
    the dedup-fixture URLs arrive as three micro-batches keyed
    doc_id % 3 (out of id order — later batches displace previous
    group representatives and grow n_dups); decisions recompute only
    for touched canonical groups, and the snapshot after one drain
    must hash-match the batch keep-one oracle."""
    from isilon_hadoop_tools_spark.streaming.events import drain
    from isilon_hadoop_tools_spark.streaming.neardup import (
        UK_KEPT_SCHEMA,
        url_keep_one_apply_batch,
    )

    urls = _url_dedup_fixture(_t(spark, sf_dir, "documents"))
    stream = _sliced_stream(spark, urls, "url_keep_one_stream", sf_dir)
    state = _fresh_state(spark, "url_keep_one_index_stream")
    drain(
        stream, lambda batch, _id: url_keep_one_apply_batch(batch, state), None
    )
    return state.read("uk_kept", UK_KEPT_SCHEMA)


@query(
    "corpus_domain_quality",
    oracle=f"""
    WITH {_URL_FIXTURE_SQL}, {_URL_CANON_SQL},
    scored AS (
      SELECT c.domain,
             CASE WHEN length(regexp_split_to_array(trim(d.text), '\\s+')) = 0
                  THEN 0.0
                  ELSE length(list_filter(
                         regexp_split_to_array(trim(d.text), '\\s+'),
                         t -> t IN ({_STOPWORDS_SQL})))::DOUBLE
                       / length(regexp_split_to_array(trim(d.text), '\\s+'))
             END AS q
      FROM canon c JOIN documents d ON d.doc_id = c.doc_id
    )
    SELECT domain, count(*)::BIGINT AS n_docs,
           round(avg(q), 6) AS mean_quality,
           count(*) >= 3 AND round(avg(q), 6) < 0.05 AS flagged
    FROM scored GROUP BY domain
    """,
)
def corpus_domain_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registrable-domain QUALITY rollup (L64b — the FineWeb
    domain-unit quality filter: domains are curated as units because
    the domain signal is more robust than a single page's score):
    mean stopword-ratio per domain, flagged when a domain with >= 3
    docs falls below 0.05. One domain-keyed aggregate with map-side
    partials; score-agnostic operator (any per-row quality Column
    plugs in)."""
    from isilon_hadoop_tools_spark.functions.text import stopword_ratio
    from isilon_hadoop_tools_spark.operators.urls import (
        domain_quality_report,
    )

    docs = _t(spark, sf_dir, "documents")
    urls = _url_fixture(docs).join(docs.select("doc_id", "text"), "doc_id")
    return domain_quality_report(
        urls, "url", "doc_id",
        quality_expr=stopword_ratio("text", _STOPWORDS),
        min_quality=0.05, min_docs=3,
    )


@query(
    "doc_html_extract",
    oracle="""
    SELECT doc_id,
           regexp_replace(trim(text), '\\s+', ' ', 'g')
             AS extracted_text,
           5 AS n_blocks, 1 AS n_kept
    FROM documents
    """,
)
def doc_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML text extraction + boilerplate removal (L74 — the first
    stage of C4/CCNet/RefinedWeb/FineWeb, which all start at crawled
    HTML): each document is wrapped in a deterministic page template
    with planted boilerplate (nav bar, short header, share buttons,
    link-farm footer, a <head> with scripts) around the real text in
    a <p> block, and ``html_extract`` must cut every boilerplate
    block and recover EXACTLY the whitespace-normalized article text
    — the oracle predicts the full output analytically (5 non-empty
    blocks per page, 1 kept, extracted == normalized source text),
    so the extraction is verified against ground truth instead of a
    re-implementation. One scan-bound projection, no shuffle, no
    UDF."""
    from isilon_hadoop_tools_spark.operators.corpus import html_extract

    docs = _t(spark, sf_dir, "documents")
    page = F.concat(
        F.lit(
            '<html><head><title>Doc</title><style>.x{c:1}</style>'
            "<script>var x = 1 < 2;</script></head><body>"
            '<nav><a href="/">Home</a> <a href="/p">Products</a> '
            '<a href="/c">Contact</a></nav>'
            "<h1>Synthetic Fixture</h1><p>"
        ),
        F.col("text"),
        F.lit(
            '</p><div><a href="/s">Share</a> <a href="/t">Tweet</a> '
            "now</div><footer>&copy; 2024 "
            '<a href="/a">About</a> <a href="/pr">Privacy</a> '
            '<a href="/te">Terms</a></footer></body></html>'
        ),
    )
    pages = docs.select("doc_id", page.alias("html"))
    return html_extract(pages, "doc_id", "html")


# SAME oracle as doc_web_curation_pipeline — deliberately: the HTML
# front door must change NOTHING downstream (every stage tokenizes on
# whitespace, and the L74 extraction recovers exactly the whitespace-
# normalized article text from the planted-boilerplate page).
@query(
    "doc_web_curation_from_html",
    oracle=REGISTRY["doc_web_curation_pipeline"].oracle,
)
def doc_web_curation_from_html(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WEB-curation capstone fed RAW HTML (L65 + L74 — how a real
    crawl enters the pipeline): each doc's text is wrapped in the
    deterministic boilerplate page template, and
    ``web_curation_pipeline(html_col=...)`` runs the L74 extraction
    INLINE (scan-fused, no extra join) before URL keep-one → domain
    cap → decontamination cut. Hash-checked against the clean-text
    pipeline's oracle VERBATIM: boilerplate in, identical curation
    ledger out."""
    from isilon_hadoop_tools_spark.operators.corpus import (
        web_curation_pipeline,
    )

    docs = _t(spark, sf_dir, "documents")
    page = F.concat(
        F.lit(
            '<html><head><title>Doc</title><style>.x{c:1}</style>'
            "<script>var x = 1 < 2;</script></head><body>"
            '<nav><a href="/">Home</a> <a href="/p">Products</a> '
            '<a href="/c">Contact</a></nav>'
            "<h1>Synthetic Fixture</h1><p>"
        ),
        F.col("text"),
        F.lit(
            '</p><div><a href="/s">Share</a> <a href="/t">Tweet</a> '
            "now</div><footer>&copy; 2024 "
            '<a href="/a">About</a> <a href="/pr">Privacy</a> '
            '<a href="/te">Terms</a></footer></body></html>'
        ),
    )
    urls = _url_dedup_fixture(docs).join(
        docs.select("doc_id", page.alias("html")), "doc_id"
    )
    return web_curation_pipeline(
        urls, "url", "html", "doc_id", cap=5,
        is_eval=F.pmod(F.col("id"), F.lit(97)) == 0, n=3,
        html_col="html",
    )


_LINK_EDGES_SQL = """rev AS (
      SELECT d.doc_id AS src,
             (d.doc_id * 7 + u.k) % (SELECT count(*) FROM documents)
               AS dst,
             count(*)::DOUBLE AS w
      FROM documents d, unnest([1, 2, 3]) AS u(k)
      GROUP BY 1, 2
    )"""


@query(
    "doc_link_pagerank",
    oracle=_pagerank_oracle(5, edges_sql=_LINK_EDGES_SQL, out_col="doc_id"),
)
def doc_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web link graph end to end (L74b + G1): each document's page
    plants three outlinks ``/doc/<(id*7+k) % N>`` among the L74
    boilerplate (nav/share/footer anchors that must NOT become
    edges), ``html_links`` extracts every anchor from the raw HTML,
    the ``/doc/<n>`` targets become weighted edges, and 5 rounds of
    weighted PageRank rank the corpus — the crawl-side composition
    (extract -> graph -> rank) running entirely on the engine's own
    operators. The oracle builds the SAME edge set analytically from
    the planting rule and replays the unrolled PageRank chain, so the
    extraction is verified against ground truth."""
    from isilon_hadoop_tools_spark.operators.corpus import html_links
    from isilon_hadoop_tools_spark.operators.graph import pagerank

    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.groupBy().agg(F.count(F.lit(1)).alias("_n"))
    outlinks = F.concat_ws(
        " ",
        *[
            F.format_string(
                '<a href="/doc/%d">ref</a>',
                F.pmod(F.col("doc_id") * 7 + F.lit(k), F.col("_n")),
            )
            for k in (1, 2, 3)
        ],
    )
    page = F.concat(
        F.lit(
            '<html><head><title>Doc</title>'
            "<script>var x = 1 < 2;</script></head><body>"
            '<nav><a href="/">Home</a> <a href="/p">Products</a></nav>'
            "<p>"
        ),
        F.col("text"),
        F.lit(" "),
        outlinks,
        F.lit(
            '</p><footer>&copy; 2024 <a href="/a">About</a></footer>'
            "</body></html>"
        ),
    )
    pages = docs.crossJoin(F.broadcast(n_docs)).select(
        "doc_id", page.alias("html")
    )
    edges = (
        html_links(pages, "doc_id", "html")
        .filter(F.col("href").rlike(r"^/doc/\d+$"))
        .select(
            F.col("doc_id").alias("src"),
            F.regexp_extract("href", r"/doc/(\d+)", 1)
            .cast("long")
            .alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    return pagerank(edges, "src", "dst", "w", iterations=5).select(
        F.col("v").alias("doc_id"), "pagerank"
    )


@query(
    "doc_gopher_quality",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'),
                          ' ') AS toks
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(toks)::BIGINT AS w,
             list_sum(list_transform(toks, t -> length(t)))::BIGINT
               AS chars,
             len(list_filter(toks,
                             t -> regexp_matches(t, '[#…]')))::BIGINT
               AS sym,
             len(list_filter(toks,
                             t -> regexp_matches(t, '[A-Za-z]')))::BIGINT
               AS alpha,
             len(list_filter(toks,
                 t -> list_contains(['the','be','to','of','and','that',
                                     'have','with'], lower(t))))::BIGINT
               AS stop
      FROM base
    )
    SELECT doc_id, w AS n_words,
           w >= 50 AND w <= 100000 AS word_count_ok,
           chars * 10 >= w * 30 AND chars * 10 <= w * 100
             AS mean_word_len_ok,
           sym * 100 <= w * 10 AS symbol_ratio_ok,
           alpha * 100 >= w * 80 AS alpha_word_ratio_ok,
           stop >= 2 AS stopword_rule_ok,
           (w >= 50 AND w <= 100000)
             AND (chars * 10 >= w * 30 AND chars * 10 <= w * 100)
             AND sym * 100 <= w * 10
             AND alpha * 100 >= w * 80
             AND stop >= 2 AS passes
    FROM m
    """,
)
def doc_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality rules (L75; Rae et al. 2021 table A1 —
    the rule set RefinedWeb/FineWeb variants descend from): word-count
    window, mean-word-length window, symbol-to-word ratio,
    alphabetic-word ratio, and the N-common-stopwords prose gate,
    each as a per-rule boolean column plus the conjunction — kept
    unfolded so L68 threshold sweeps and L20 funnels consume the
    bits. Pure scan-bound column algebra with exact integer ratio
    comparisons; the oracle replays every rule."""
    from isilon_hadoop_tools_spark.operators.corpus import gopher_quality

    return gopher_quality(_t(spark, sf_dir, "documents"))


@query(
    "corpus_zipf_fit",
    oracle=r"""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      FROM documents
    ),
    stats AS (
      SELECT term, count(*)::BIGINT AS tf_total FROM toks GROUP BY term
    ),
    top AS (
      SELECT tf_total,
             row_number() OVER (ORDER BY tf_total DESC, term) AS rnk
      FROM stats QUALIFY rnk <= 200
    )
    SELECT count(*)::BIGINT AS n_terms,
           round(regr_slope(ln(tf_total), ln(rnk)), 6) AS slope,
           round(regr_intercept(ln(tf_total), ln(rnk)), 6) AS intercept,
           round(regr_r2(ln(tf_total), ln(rnk)), 6) AS r2
    FROM top
    """,
)
def corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary (L77): OLS
    of ln(freq) on ln(rank) over the top-200 terms - the corpus-
    health diagnostic (slope near -1 and high R^2 for natural text;
    plateaus flag duplicated boilerplate). One vocabulary aggregate
    plus one regression aggregate over the bounded top table."""
    from isilon_hadoop_tools_spark.operators.corpus import zipf_fit

    return zipf_fit(_t(spark, sf_dir, "documents"), "text", "doc_id", 200)


@query(
    "corpus_heaps_fit",
    oracle=r"""
    WITH tk AS (
      SELECT doc_id AS id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      FROM documents
    ),
    tkf AS (SELECT id, term FROM tk WHERE term <> ''),
    nt AS (SELECT id, count(*) AS nt FROM tkf GROUP BY id),
    fst AS (SELECT term, min(id) AS id FROM tkf GROUP BY term),
    nv AS (SELECT id, count(*) AS nv FROM fst GROUP BY id),
    per AS (
      SELECT nt.id, nt.nt, coalesce(nv.nv, 0) AS nv
      FROM nt LEFT JOIN nv ON nt.id = nv.id
    ),
    cum AS (
      SELECT sum(nt) OVER (ORDER BY id) AS cnt,
             sum(nv) OVER (ORDER BY id) AS cnv
      FROM per
    )
    SELECT count(*)::BIGINT AS n_docs,
           max(cnt)::BIGINT AS n_tokens,
           max(cnv)::BIGINT AS n_terms,
           round(regr_slope(ln(cnv), ln(cnt)), 6) AS beta,
           round(regr_intercept(ln(cnv), ln(cnt)), 6) AS ln_k,
           round(regr_r2(ln(cnv), ln(cnt)), 6) AS r2
    FROM cum
    """,
)
def corpus_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit (L78, Zipf's companion): each
    term attributed to its FIRST document, exact integer cumulative
    (tokens, vocabulary) curves in document order via the two-phase
    ordered cumsum, then ONE regression aggregate of ln(V) on ln(N) -
    organic text grows sublinearly (beta ~ 0.4-0.6); templated or
    id-like corpora fall outside. Reads the growth CURVE where L77
    reads the frequency axis."""
    from isilon_hadoop_tools_spark.operators.corpus import heaps_fit

    return heaps_fit(_t(spark, sf_dir, "documents"), "text", "doc_id")


@query(
    "doc_phrase_search",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS term,
             unnest(generate_series(
               1, len(regexp_split_to_array(trim(text), '\s+'))
             )) AS pos
      FROM documents
    )
    SELECT t1.id AS doc_id, count(*)::BIGINT AS n_matches
    FROM toks t1
    JOIN toks t2 ON t2.id = t1.id AND t2.pos = t1.pos + 1
    JOIN toks t3 ON t3.id = t1.id AND t3.pos = t1.pos + 2
    WHERE t1.term = 'slow' AND t2.term = 'hash' AND t3.term = 'batch'
    GROUP BY t1.id
    """,
)
def doc_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search (L79): per-term posting lists joined
    on (doc, pos + offset) stitch the exact phrase 'slow hash batch'
    back together - the adjacency-and-order IR primitive BM25 cannot
    express; per-doc occurrence counts, overlaps counted as a
    positional index does."""
    from isilon_hadoop_tools_spark.operators.corpus import phrase_search

    return phrase_search(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        "slow hash batch",
    )


@query(
    "doc_vocab_coverage",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      FROM documents
    ),
    tkf AS (SELECT id, term FROM toks WHERE term <> ''),
    stats AS (
      SELECT term, count(*) AS tf_total FROM tkf GROUP BY term
    ),
    vocab AS (
      SELECT term FROM (
        SELECT term,
               row_number() OVER (ORDER BY tf_total DESC, term) AS rnk
        FROM stats
      ) WHERE rnk <= 50
    ),
    flagged AS (
      SELECT tkf.id, (vocab.term IS NULL)::INT AS oov
      FROM tkf LEFT JOIN vocab ON tkf.term = vocab.term
    )
    SELECT id AS doc_id, count(*)::BIGINT AS n_tokens,
           sum(oov)::BIGINT AS n_oov,
           round(sum(oov) / count(*), 6) AS oov_rate
    FROM flagged GROUP BY id
    """,
)
def doc_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage (L54f): OOV rate per document
    against the corpus's own top-50 vocabulary - the pre-training
    check that catches a vocab whose misses would explode sequence
    lengths through byte fallback. One explode + one broadcast
    membership join + one per-doc aggregate."""
    from isilon_hadoop_tools_spark.operators.corpus import (
        vocab_coverage,
        vocab_topk,
    )

    docs = _t(spark, sf_dir, "documents")
    vocab = vocab_topk(docs, "text", "doc_id", k=50).select("term")
    return vocab_coverage(docs, "text", "doc_id", vocab)


@query(
    "doc_gram_novelty",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS tok,
             unnest(generate_series(1, len(
               regexp_split_to_array(trim(text), '\s+')))) AS pos
      FROM documents
    ),
    grams AS (
      SELECT t1.id, doc_id % 10 = 0 AS ref,
             t1.tok || ' ' || t2.tok || ' ' || t3.tok AS g
      FROM toks t1
      JOIN toks t2 ON t2.id = t1.id AND t2.pos = t1.pos + 1
      JOIN toks t3 ON t3.id = t1.id AND t3.pos = t1.pos + 2
      JOIN documents d ON d.doc_id = t1.id
    ),
    ref AS (SELECT DISTINCT g FROM grams WHERE ref),
    cand AS (SELECT id, g FROM grams WHERE NOT ref),
    flagged AS (
      SELECT cand.id, (ref.g IS NULL)::INT AS novel
      FROM cand LEFT JOIN ref ON cand.g = ref.g
    )
    SELECT id AS doc_id, count(*)::BIGINT AS n_grams,
           sum(novel)::BIGINT AS n_novel,
           round(sum(novel) / count(*), 6) AS novelty_rate
    FROM flagged GROUP BY id
    """,
)
def doc_gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 3-gram novelty vs a reference split (L80, Lee et
    al. 2022's overlap-rate metric - the train-side mirror of L25
    decontamination: how much of each candidate is n-gram-NEW
    relative to what the model has already seen; every 10th doc plays
    the reference). Grams counted with multiplicity; the reference
    collapses to distinct grams before one membership join."""
    from isilon_hadoop_tools_spark.operators.corpus import gram_novelty

    return gram_novelty(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        F.pmod(F.col("doc_id"), F.lit(10)) == 0, n=3,
    )
