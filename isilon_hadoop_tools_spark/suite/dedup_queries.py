"""Suite queries — dedup: exact/near dedup families: MinHash, SimHash, prefix-filter, winnowing.

Split from the original suite.py; registration order is enforced
centrally by the package __init__ via _CANONICAL_ORDER."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from isilon_hadoop_tools_spark.functions.hashing import FINGERPRINT64_SQL
from isilon_hadoop_tools_spark.operators import dedup, similarity

from isilon_hadoop_tools_spark.suite._shared import (
    _COS_DUP_THRESHOLD,
    _MINHASH_SIGS_SQL,
    _NGRAM_MAX_DF,
    _SHINGLE_SQL,
    _SIMHASH_SQL,
    _cos_dup_oracle,
    _fresh_state,
    _semantic_dedup_oracle,
    _sliced_stream,
    _t,
    query,
)


@query(
    "dedup_exact_docs",
    oracle=f"""
    SELECT {FINGERPRINT64_SQL.format(expr='text')} AS fingerprint,
           min(doc_id) AS keep_id,
           count(*) AS n_dups
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5-fingerprint → groupBy → keep min id."""
    return dedup.exact_dedup(_t(spark, sf_dir, "documents"), "text", "doc_id")


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    kept AS (
      SELECT s.doc_id, s.shingle
      FROM shingled s
      JOIN (SELECT shingle FROM shingled
            GROUP BY shingle HAVING count(*) <= {_NGRAM_MAX_DF}) ok
      USING (shingle)
    ),
    sizes AS (SELECT doc_id, count(*) AS set_size FROM kept GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM kept a JOIN kept b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(n_inter::DOUBLE / (sa.set_size + sb.set_size - n_inter), 6)
             AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_inter::DOUBLE / (sa.set_size + sb.set_size - n_inter) >= 0.2
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 3-word-shingle Jaccard >= 0.2 via
    inverted-index self-join (no n^2 cross product), with the hot-
    shingle ``max_df`` cap ON — a stopword shingle's posting list is
    what turns the self-join quadratic at corpus scale."""
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        k=3,
        threshold=0.2,
        max_df=_NGRAM_MAX_DF,
    )


@query(
    "dedup_minhash_signatures",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    {_MINHASH_SIGS_SQL}
    SELECT id, seed, minhash FROM sigs
    """,
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 seeded md5-derived hash functions) — the
    LSH candidate generator's input, exact-checked against the oracle."""
    return dedup.minhash_signatures(
        _t(spark, sf_dir, "documents"), "text", "doc_id", num_hashes=8
    )


@query(
    "dedup_minhash_lsh_candidates",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    {_MINHASH_SIGS_SQL},
    banded AS (
      SELECT id, (seed // 2) AS band,
             string_agg(minhash::VARCHAR, ',' ORDER BY seed) AS band_key
      FROM sigs GROUP BY id, (seed // 2)
    )
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_bands
    FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
    WHERE a.id < b.id
    GROUP BY 1, 2
    """,
)
def dedup_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH candidate pairs (8 hashes, 4 bands of 2):
    documents agreeing on any band's full minhash vector become
    candidates. The shuffle key (band, band_key) is uniform by
    construction — the 100 TB-safe alternative to the quadratic
    shingle self-join. Exact-checked: the seeded hash family makes
    the candidate set deterministic and SQL-reproducible."""
    return dedup.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id", num_hashes=8, bands=4
    )


@query(
    "dedup_keep_one",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_SQL},
    kept AS (
      SELECT s.doc_id, s.shingle
      FROM shingled s
      JOIN (SELECT shingle FROM shingled
            GROUP BY shingle HAVING count(*) <= {_NGRAM_MAX_DF}) ok
      USING (shingle)
    ),
    sizes AS (SELECT doc_id, count(*) AS set_size FROM kept GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM kept a JOIN kept b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE n_inter::DOUBLE / (sa.set_size + sb.set_size - n_inter) >= 0.2
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    cc(id, keep_id) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, c.keep_id FROM cc c JOIN edges e ON e.src = c.id
    )
    SELECT id, min(keep_id) AS keep_id FROM cc GROUP BY id
    """,
)
def dedup_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup dedup: Jaccard pairs (hot-shingle capped)
    -> connected components by iterative min-label propagation ->
    every doc labeled with its component's surviving min id
    (singletons keep themselves). Oracle re-derives components with a
    recursive transitive-closure CTE."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", k=3, threshold=0.2, max_df=_NGRAM_MAX_DF
    )
    return dedup.connected_components(
        docs.select(F.col("doc_id").alias("id")), pairs
    )


@query(
    "simhash_docs",
    oracle=f"WITH {_SIMHASH_SQL} SELECT id, simhash FROM sims",
)
def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints over distinct tokens."""
    return dedup.simhash(_t(spark, sf_dir, "documents"), "text", "doc_id", bits=32)


@query(
    "simhash_hamming_pairs",
    oracle=f"""
    WITH {_SIMHASH_SQL}
    SELECT a.id AS id_a, b.id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sims a JOIN sims b ON a.id < b.id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at hamming distance <= 3, found by the
    byte-band pigeonhole trick: 3 flipped bits touch at most 3 of the
    4 bytes, so every qualifying pair agrees on >= 1 whole byte —
    candidate generation is an equi-join on (byte_idx, byte_value),
    provably complete, never the n^2 cross product the oracle runs."""
    return dedup.simhash_near_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id", max_hamming=3
    )


@query(
    "simhash_rep_pairs",
    oracle=f"""
    WITH {_SIMHASH_SQL},
    planted AS (
      SELECT id, simhash FROM sims
      UNION ALL
      SELECT id + 1000000 AS id, simhash FROM sims
    ),
    grp AS (
      SELECT simhash, min(id) AS rep, count(*) AS n_ids
      FROM planted GROUP BY simhash
    )
    SELECT a.rep AS id_a, b.rep AS id_b,
           bit_count(xor(a.simhash, b.simhash))::INT AS hamming,
           a.n_ids AS n_a, b.n_ids AS n_b
    FROM grp a JOIN grp b ON a.rep < b.rep
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    UNION ALL
    SELECT rep AS id_a, rep AS id_b, 0 AS hamming,
           n_ids AS n_a, n_ids AS n_b
    FROM grp WHERE n_ids >= 2
    """,
)
def simhash_rep_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``expand_duplicates=False`` SCALE form of the hamming band
    join, oracle-locked: every document's fingerprint is planted twice
    (ids offset by 1e6), so every hash group has >= 2 members and the
    representative-pair contract — one ``(id_a, id_b, hamming, n_a,
    n_b)`` row per qualifying DISTINCT-hash pair plus one ``(rep, rep,
    0, n, n)`` intra row per multi-member group — is checked
    cross-engine against a brute-force DuckDB twin. O(distinct²)
    output even where the expanded form would be O(n²)."""
    sims = dedup.simhash(
        _t(spark, sf_dir, "documents"), "text", "doc_id", bits=32
    ).localCheckpoint(eager=False)
    planted = sims.unionByName(
        sims.select((F.col("id") + 1_000_000).alias("id"), "simhash")
    )
    return dedup.hamming_band_pairs(
        planted,
        "simhash",
        "id",
        bits=32,
        max_hamming=3,
        bands=4,
        expand_duplicates=False,
    )


@query("dedup_embedding_cosine", oracle=_cos_dup_oracle())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: the corpus is doubled with
    scaled copies (cosine-identical, id+10000), then pairs >= 0.9 are
    found via multi-table LSH candidates + exact verify. Sign-hash
    buckets are scale-invariant, so the duplicate pairs co-bucket in
    every table — candidate recall is exact here while the join stays
    bucket-local; the oracle mirrors the same md5-plane LSH candidate
    generation (see :func:`_cos_dup_oracle`), so it scales with the
    operator instead of brute-forcing n^2 pairs."""
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    scaled = emb.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(F.col("embedding").cast("array<double>"), lambda x: x * 1.1).alias(
            "embedding"
        ),
    )
    return similarity.cosine_near_dup_pairs(
        base.unionByName(scaled), threshold=_COS_DUP_THRESHOLD
    )


_SEMANTIC_DEDUP_BUDGET = 120  # sf0.01 clusters run 104-146 rows, so
# the gate exercises BOTH pair paths: 3 light clusters through the
# exact all-pairs search, 5 heavy ones through the sign-LSH bound


@query(
    "semantic_dedup_keep",
    oracle=_semantic_dedup_oracle(budget=_SEMANTIC_DEDUP_BUDGET),
)
def semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup end-to-end (L41): the corpus doubled with
    cosine-identical scaled copies (id+10000), clustered on the unit
    sphere with deterministic k-means, cosine >= 0.9 pairs found
    within clusters only, each row labeled with its connected
    component's min id — scaled copies must collapse onto their base
    (keep_id == base id). The n^2/k within-cluster pair search is the
    published SemDeDup trade that replaces a corpus-wide all-pairs
    join, now budgeted against mega-clusters (r12 VERDICT #1):
    clusters above ``max_cluster_rows`` route through within-cluster
    sign-LSH banding with an occupancy-sized plane count, so the
    worst key's candidate volume is ~linear in cluster size; the
    oracle mirrors the plane constants and the heavy/light split
    exactly (see ``operators/similarity.py:semantic_dedup``)."""
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    scaled = emb.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x * 1.1
        ).alias("embedding"),
    )
    return similarity.semantic_dedup(
        base.unionByName(scaled),
        "embedding",
        "vec_id",
        k=8,
        iters=3,
        threshold=_COS_DUP_THRESHOLD,
        max_cluster_rows=_SEMANTIC_DEDUP_BUDGET,
        tables=8,
    )


@query(
    "simhash_index_stream",
    oracle=f"""
    WITH {_SIMHASH_SQL}
    SELECT a.id AS id_a, b.id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sims a JOIN sims b ON a.id < b.id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def simhash_index_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup maintenance (§2.9 x L6): the documents
    table arrives as THREE micro-batches (doc_id mod 3 slices, one
    file per trigger); each batch is fingerprinted, anti-joined
    against the persisted members, band-matched against the
    distinct-fingerprint postings index, and the newly-created pairs
    merge into state — never a corpus-wide self-join. No checkpoint:
    replayed batches are no-ops by the members anti-join (pinned by
    the replay/restart unit matrix in tests/test_streaming_neardup.py;
    the bench drains once), and the final pair state must equal
    the batch ``simhash_near_pairs`` answer — the oracle brute-forces
    all pairs at hamming <= 3, so one missed or phantom incremental
    pair hash-fails."""
    from isilon_hadoop_tools_spark import streaming

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    stream = _sliced_stream(spark, docs, "simhash_index_stream", sf_dir)
    state = _fresh_state(spark, "simhash_index_stream")
    streaming.simhash_stream_into_state(
        stream, state, text_col="text", id_col="doc_id"
    )
    return state.read("near_pairs", "id_a LONG, id_b LONG, hamming INT")


@query(
    "dedup_minhash_jaccard_est",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    {_MINHASH_SIGS_SQL},
    banded AS (
      SELECT id, (seed // 2) AS band,
             string_agg(minhash::VARCHAR, ',' ORDER BY seed) AS band_key
      FROM sigs GROUP BY id, (seed // 2)
    ),
    cands AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.id < b.id
      GROUP BY 1, 2
    ),
    agree AS (
      SELECT c.id_a, c.id_b,
             sum((sa.minhash = sb.minhash)::INT)::BIGINT AS n_agree
      FROM cands c
      JOIN sigs sa ON sa.id = c.id_a
      JOIN sigs sb ON sb.id = c.id_b AND sb.seed = sa.seed
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM shingled GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_inter
      FROM cands c
      JOIN shingled x ON x.doc_id = c.id_a
      JOIN shingled y ON y.doc_id = c.id_b AND y.shingle = x.shingle
      GROUP BY 1, 2
    )
    SELECT a.id_a, a.id_b, n_agree,
           round(n_agree / 8.0, 6) AS est_jaccard,
           round(coalesce(n_inter, 0)::DOUBLE
                 / (sa.sz + sb.sz - coalesce(n_inter, 0)), 6)
             AS exact_jaccard,
           round(abs(n_agree / 8.0
                 - coalesce(n_inter, 0)::DOUBLE
                   / (sa.sz + sb.sz - coalesce(n_inter, 0))), 6)
             AS abs_err
    FROM agree a
    LEFT JOIN inter USING (id_a, id_b)
    JOIN sizes sa ON sa.doc_id = a.id_a
    JOIN sizes sb ON sb.doc_id = a.id_b
    """,
)
def dedup_minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash Jaccard estimation accuracy on the LSH candidates
    (L55): Ĵ = agreeing-seeds/8 vs the true shingle Jaccard per
    candidate pair — the readout behind "trust the signature, skip
    the exact verify". The exact side is left-semi-restricted to
    candidate ids before any shingle join, so ground truth never goes
    quadratic in the corpus."""
    return dedup.minhash_jaccard_eval(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        num_hashes=8, bands=4,
    )


@query(
    "dedup_lsh_recall",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    kept AS (
      SELECT s.doc_id, s.shingle
      FROM shingled s
      JOIN (SELECT shingle FROM shingled
            GROUP BY shingle HAVING count(*) <= {_NGRAM_MAX_DF}) ok
      USING (shingle)
    ),
    ssizes AS (SELECT doc_id, count(*) AS set_size FROM kept GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM kept a JOIN kept b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT id_a, id_b
      FROM inter
      JOIN ssizes sa ON sa.doc_id = id_a
      JOIN ssizes sb ON sb.doc_id = id_b
      WHERE n_inter::DOUBLE / (sa.set_size + sb.set_size - n_inter) >= 0.2
    ),
    {_MINHASH_SIGS_SQL},
    banded AS (
      SELECT id, (seed // 2) AS band,
             string_agg(minhash::VARCHAR, ',' ORDER BY seed) AS band_key
      FROM sigs GROUP BY id, (seed // 2)
    ),
    cand AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.id < b.id
      GROUP BY 1, 2
    ),
    hit AS (SELECT t.* FROM truth t JOIN cand c USING (id_a, id_b))
    SELECT (SELECT count(*) FROM truth) AS n_true,
           (SELECT count(*) FROM cand) AS n_candidates,
           (SELECT count(*) FROM hit) AS n_hit,
           CASE WHEN (SELECT count(*) FROM truth) = 0 THEN 1.0
                ELSE round((SELECT count(*) FROM hit)::DOUBLE
                           / (SELECT count(*) FROM truth), 6)
           END AS recall
    """,
)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate-recall evaluation (L45): exact shingle-Jaccard
    truth pairs vs banded MinHash-LSH candidates, with the recall
    share — the acceptance gate for replacing the quadratic exact
    pair search with LSH at corpus scale. Both sides are the engine's
    own deterministic operators (same parameters as their standalone
    suite queries), so every count is exact and cross-engine
    reproducible."""
    from isilon_hadoop_tools_spark.operators.dedup import lsh_recall_eval

    return lsh_recall_eval(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        k=3, threshold=0.2, max_df=_NGRAM_MAX_DF, num_hashes=8, bands=4,
    )


@query(
    "dedup_component_sizes",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_SQL},
    kept AS (
      SELECT s.doc_id, s.shingle
      FROM shingled s
      JOIN (SELECT shingle FROM shingled
            GROUP BY shingle HAVING count(*) <= {_NGRAM_MAX_DF}) ok
      USING (shingle)
    ),
    csizes AS (SELECT doc_id, count(*) AS set_size FROM kept GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM kept a JOIN kept b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM inter
      JOIN csizes sa ON sa.doc_id = id_a
      JOIN csizes sb ON sb.doc_id = id_b
      WHERE n_inter::DOUBLE / (sa.set_size + sb.set_size - n_inter) >= 0.2
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    cc(id, keep_id) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, c.keep_id FROM cc c JOIN edges e ON e.src = c.id
    ),
    labels AS (SELECT id, min(keep_id) AS keep_id FROM cc GROUP BY id),
    comps AS (SELECT keep_id, count(*) AS component_size
              FROM labels GROUP BY keep_id)
    SELECT component_size, count(*) AS n_components
    FROM comps GROUP BY component_size
    """,
)
def dedup_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup component-size histogram: the dedup QA view that
    answers "is the corpus mostly singletons, or did one giant
    boilerplate component swallow it?" — composes the Jaccard pair
    graph, connected components, and two tiny follow-up aggs (both on
    already-bounded label tables)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", k=3, threshold=0.2, max_df=_NGRAM_MAX_DF
    )
    labels = dedup.connected_components(
        docs.select(F.col("doc_id").alias("id")), pairs
    )
    comps = labels.groupBy("keep_id").agg(
        F.count(F.lit(1)).alias("component_size")
    )
    return comps.groupBy("component_size").agg(
        F.count(F.lit(1)).alias("n_components")
    )


@query(
    "minhash_index_stream",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    {_MINHASH_SIGS_SQL},
    banded AS (
      SELECT id, (seed // 2) AS band,
             string_agg(minhash::VARCHAR, ',' ORDER BY seed) AS band_key
      FROM sigs GROUP BY id, (seed // 2)
    )
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_bands
    FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
    WHERE a.id < b.id
    GROUP BY 1, 2
    """,
)
def minhash_index_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash-LSH maintenance (§2.9 x L4): the documents
    table arrives as three micro-batches; each is signed, anti-joined
    against persisted members, band-key-matched against the
    DISTINCT-signature postings index, and the newly-created
    candidate pairs (with their agreeing-band counts) merge into
    state. No checkpoint: replays are no-ops by the members anti-join
    (pinned by the unit matrix in tests/test_streaming_neardup.py;
    the bench drains once), and the final pair
    state must hash-match the batch LSH candidate
    answer — the same oracle as ``dedup_minhash_lsh_candidates``, so
    one missed cross-batch collision or wrong n_bands fails."""
    from isilon_hadoop_tools_spark.streaming.events import drain
    from isilon_hadoop_tools_spark.streaming.neardup import (
        minhash_index_apply_batch,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    stream = _sliced_stream(spark, docs, "minhash_index_stream", sf_dir)
    state = _fresh_state(spark, "minhash_index_stream")
    drain(
        stream,
        lambda batch, _id: minhash_index_apply_batch(
            batch, state, num_hashes=8, bands=4
        ),
        None,
    )
    return state.read("lsh_pairs", "id_a LONG, id_b LONG, n_bands LONG")


@query(
    "dedup_lsh_plan",
    oracle="""
    WITH facts(b, r) AS (VALUES (1, 16), (2, 8), (4, 4), (8, 2), (16, 1)),
    grid AS (
      SELECT b, r, i / 20.0 AS s
      FROM facts, unnest(generate_series(1, 19)) AS u(i)
    ),
    calc AS (
      SELECT b, r, s,
             1 - pow(1 - pow(s, r), b) AS p,
             pow(1 - pow(0.5, 1.0 / b), 1.0 / r) AS t50
      FROM grid
    )
    SELECT b AS bands, r AS rows_per_band,
           floor(s * 1000000 + 0.5) / 1000000 AS s,
           floor(p * 1000000 + 0.5) / 1000000 AS p_candidate,
           floor(t50 * 1000000 + 0.5) / 1000000 AS t50
    FROM calc
    """,
)
def dedup_lsh_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH parameter planner (L5b) — the sizing table to
    consult BEFORE running banded LSH at 100 TB: the S-curve
    P(candidate | jaccard s) = 1 − (1 − s^r)^b for every (bands,
    rows) factorization of the 16-hash signature, plus each
    factorization's 50%-collision threshold. Choosing (b, r) IS
    choosing the similarity threshold; this makes the trade explicit.
    Parameter-scale math computed driver-side with the same libm the
    oracle calls, half-up 6-dp rounding on both engines."""
    from isilon_hadoop_tools_spark.operators.dedup import lsh_plan

    return lsh_plan(spark, n_hashes=16, grid_steps=20)
