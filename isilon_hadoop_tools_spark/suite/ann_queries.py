"""Suite queries — ann: similarity search: brute force, LSH, IVF, PQ, embedding quality.

Split from the original suite.py; registration order is enforced
centrally by the package __init__ via _CANONICAL_ORDER."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from isilon_hadoop_tools_spark.operators import similarity

from isilon_hadoop_tools_spark.suite._shared import (
    _ANN_K,
    _ANN_QUERIES,
    _fresh_state,
    _ivf_ann_oracle,
    _ivf_pq_oracle,
    _kmeans_cte_chain,
    _kmeans_oracle,
    _binary_ann_oracle,
    _lsh_ann_oracle,
    _lsh_cand_cte,
    _lsh_multiprobe_oracle,
    _power_iter_oracle,
    _pq_adc_oracle,
    _pq_oracle,
    _t,
    query,
)


@query("embedding_top_pc", oracle=_power_iter_oracle())
def embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction by matrix-free power iteration (L51):
    6 exact-integer rounds over the quantized embeddings — w = X'(Xv)
    in one wide-agg job per round, L-inf normalized with half-away
    integer division, sign-canonicalized. Bit-identical cross-engine
    with NO float tolerance anywhere."""
    vecs = similarity.quantize_vectors(
        _t(spark, sf_dir, "embeddings"), "embedding", "vec_id"
    )
    return similarity.power_iteration_top_pc(vecs, dim=64, iters=6)


@query("embedding_ivf_index_stream", oracle=f"""
    WITH qvecs AS (
      SELECT vec_id,
             list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT)
               AS qv
      FROM embeddings
    ),{_kmeans_cte_chain(4, 2, 64)}
    SELECT list_id, vec_id, dist FROM assign
    """)
def embedding_ivf_index_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming IVF index maintenance (§2.9 x L12): the coarse
    codebook is trained offline (the batch `kmeans_train`, k=4,
    2 Lloyd rounds) and the embeddings STREAM is folded into the
    inverted lists micro-batch by micro-batch — members anti-join
    makes the second full drain a no-op, the postings append is
    vid-guarded against partial-append crashes, and the final
    postings must equal the oracle's one-pass batch assignment
    bit-for-bit (exact-integer argmin, (dist, list_id) ties)."""
    from isilon_hadoop_tools_spark.operators.similarity import (
        kmeans_train,
        quantize_vectors,
    )
    from isilon_hadoop_tools_spark.streaming.events import drain
    from isilon_hadoop_tools_spark.streaming.neardup import (
        IVF_POSTINGS_SCHEMA,
        ivf_index_apply_batch,
    )

    emb = _t(spark, sf_dir, "embeddings")
    vecs = quantize_vectors(emb, "embedding", "vec_id").persist()
    try:
        cents = kmeans_train(vecs, 4, 2)
    finally:
        vecs.unpersist()
    state = _fresh_state(spark, "embedding_ivf_index_stream")
    schema = emb.schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(f"{sf_dir}/embeddings.*")  # file source needs a glob
    )
    drain(
        stream, lambda batch, _id: ivf_index_apply_batch(batch, state, cents), None
    )
    return state.read("ivf_postings", IVF_POSTINGS_SCHEMA).select(
        "list_id", F.col("vid").alias("vec_id"), "dist"
    )


@query("embedding_kmeans_assign", oracle=_kmeans_oracle())
def embedding_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=8, 3 iterations) in integer-quantized space:
    centroids train on the driver-broadcast loop, the corpus is
    scanned once per iteration — the iterative-algorithm pattern a
    100 TB IVF index build uses, deterministic enough to hash-match a
    hand-unrolled DuckDB CTE chain."""
    from isilon_hadoop_tools_spark.operators.similarity import kmeans_iterate

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_iterate(emb, "embedding", "vec_id", k=8, iters=3)


@query(
    "embedding_label_probe",
    oracle="""
    WITH qvecs AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT)
               AS qv
      FROM embeddings
    ),
    cent AS (
      SELECT label AS clabel, i,
             round(sum(qv[i])::DOUBLE / count(*))::BIGINT AS cval
      FROM qvecs, (SELECT unnest(range(1, 65)) AS i) _idx
      GROUP BY label, i
    ),
    cvec AS (
      SELECT clabel, list(cval ORDER BY i) AS c FROM cent GROUP BY clabel
    ),
    assign AS (
      SELECT vec_id, label, clabel AS pred_label,
             row_number() OVER (
               PARTITION BY vec_id
               ORDER BY list_sum(list_transform(range(1, 65),
                 i -> (qv[i] - c[i]) * (qv[i] - c[i]))), clabel) AS rn
      FROM qvecs CROSS JOIN cvec
    )
    SELECT label::INT AS label, pred_label::INT AS pred_label,
           count(*) AS n
    FROM assign WHERE rn = 1 GROUP BY label, pred_label
    """,
)
def embedding_label_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid linear probe on the labeled embeddings (the
    first consumer of the ``label`` column): per-label centroids in
    integer-quantized space, shuffle-free literal-argmin
    classification, confusion-table output — the standard "how good
    is this representation" diagnostic, bit-identical to the DuckDB
    twin (exact integer distances; ties to the lowest label)."""
    from isilon_hadoop_tools_spark.operators.similarity import (
        label_centroid_probe,
    )

    return label_centroid_probe(
        _t(spark, sf_dir, "embeddings"), "embedding", "vec_id", "label"
    )


@query(
    "embedding_label_separation",
    oracle="""
    WITH qvecs AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT)
               AS qv
      FROM embeddings
    ),
    cent AS (
      SELECT label AS clabel, i,
             round(sum(qv[i])::DOUBLE / count(*))::BIGINT AS cval
      FROM qvecs, (SELECT unnest(range(1, 65)) AS i) _idx
      GROUP BY label, i
    ),
    cvec AS (
      SELECT clabel, list(cval ORDER BY i) AS c FROM cent GROUP BY clabel
    ),
    intra AS (
      SELECT q.label, count(*) AS n,
             round(sum(list_sum(list_transform(range(1, 65),
               i -> (qv[i] - c[i]) * (qv[i] - c[i]))))::DOUBLE
               / count(*), 6) AS mean_intra_sq
      FROM qvecs q JOIN cvec v ON v.clabel = q.label
      GROUP BY q.label
    ),
    pairs AS (
      SELECT a.clabel AS label, b.clabel AS other,
             list_sum(list_transform(range(1, 65),
               i -> (a.c[i] - b.c[i]) * (a.c[i] - b.c[i]))) AS d
      FROM cvec a JOIN cvec b ON a.clabel <> b.clabel
    ),
    nearest AS (
      SELECT label, other, d,
             row_number() OVER (PARTITION BY label ORDER BY d, other) AS rn
      FROM pairs
    )
    SELECT i.label::INT AS label, i.n, i.mean_intra_sq,
           n.other::INT AS nearest_other_label, n.d::BIGINT AS inter_sq
    FROM intra i LEFT JOIN nearest n ON n.label = i.label AND n.rn = 1
    """,
)
def embedding_label_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class cohesion/separation report (the silhouette-lite that
    stays LINEAR): per-label mean squared distance to own centroid vs
    the centroid's exact distance to its nearest other centroid —
    one corpus scan + a broadcast centroid join, no pairwise member
    distances; the C x C separation matrix is driver-side integer
    math. Bit-identical to the DuckDB twin."""
    from isilon_hadoop_tools_spark.operators.similarity import (
        label_separation_stats,
    )

    return label_separation_stats(
        _t(spark, sf_dir, "embeddings"), "embedding", "vec_id", "label"
    )


@query(
    "embedding_knn_probe",
    oracle="""
    WITH qvecs AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT)
               AS qv
      FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id, qv AS q_qv, label AS true_label
      FROM qvecs ORDER BY vec_id LIMIT 50
    ),
    scored AS (
      SELECT q.query_id, q.true_label, c.vec_id AS nid, c.label AS n_label,
             list_sum(list_transform(range(1, 65),
               i -> (c.qv[i] - q.q_qv[i]) * (c.qv[i] - q.q_qv[i]))) AS dist
      FROM qvecs c CROSS JOIN q WHERE c.vec_id <> q.query_id
    ),
    top AS (
      SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY dist, nid) AS rk
      FROM scored
    ),
    votes AS (
      SELECT query_id, true_label, n_label, count(*) AS c
      FROM top WHERE rk <= 5 GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT query_id, true_label, n_label AS pred_label,
             row_number() OVER (
               PARTITION BY query_id ORDER BY c DESC, n_label) AS rn
      FROM votes
    )
    SELECT true_label::INT AS label, count(*) AS n_eval,
           sum(CASE WHEN pred_label = true_label
                    THEN 1 ELSE 0 END)::BIGINT AS n_correct,
           round(sum(CASE WHEN pred_label = true_label
                          THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
             AS accuracy
    FROM pred WHERE rn = 1 GROUP BY true_label
    """,
)
def embedding_knn_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 5-NN label probe over the 50 lowest-id vectors
    vs the full corpus (O(n_queries · n) with a broadcast query
    table — the eval that sees local structure the linear centroid
    probe cannot). Exact integer distances, ties to lowest id /
    lowest label — bit-identical to the DuckDB twin."""
    from isilon_hadoop_tools_spark.operators.similarity import (
        knn_label_probe,
    )

    return knn_label_probe(
        _t(spark, sf_dir, "embeddings"), "embedding", "vec_id", "label"
    )


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             round(list_max(list_transform(embedding, x -> abs(x::DOUBLE)))
                   / 127, 6) AS scale,
             CASE WHEN scale = 0
                  THEN list_transform(embedding, x -> 0)
                  ELSE list_transform(embedding,
                                      x -> round(x::DOUBLE / scale)::INT)
             END AS qvec
      FROM embeddings
    )
    SELECT vec_id, scale,
           unnest(generate_series(0, len(qvec) - 1))::INT AS pos,
           unnest(qvec)::INT AS qval
    FROM q
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the 4x storage cut for
    embedding columns at 100 TB. Scale is pre-rounded to 6 decimals so
    the scalar is reproducible cross-engine; zero vectors quantize to
    all-zero. Shuffle-free per-row array math.

    The gate output is the *exploded* form ``(vec_id, scale, pos,
    qval)`` — one scalar row per component — because the driver's
    canonicalizer can't sort an array column (pandas ``unhashable
    type: 'list'``); ``quantize_embeddings`` itself still returns the
    packed ``qvec`` array a storage pass would write."""
    from isilon_hadoop_tools_spark.operators.similarity import (
        quantize_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings")
    packed = quantize_embeddings(emb, "embedding", "vec_id", 8)
    return packed.select(
        "vec_id", "scale", F.posexplode("qvec").alias("pos", "qval")
    )


@query(
    "ann_brute_force_cosine",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_vec
      FROM embeddings WHERE vec_id < {_ANN_QUERIES}
    ),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round(
               list_dot_product(q.q_vec, c.embedding::DOUBLE[])
               / (sqrt(list_dot_product(q.q_vec, q.q_vec))
                  * sqrt(list_dot_product(c.embedding::DOUBLE[],
                                          c.embedding::DOUBLE[]))),
               6) AS cos_sim
      FROM embeddings c, q
      WHERE c.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {_ANN_K}
    """,
)
def ann_brute_force_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for the first 5 vectors —
    broadcast nested loop + per-group top-k (no shuffle of the corpus)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < _ANN_QUERIES), k=_ANN_K
    )


@query("ann_lsh_bucketed", oracle=_lsh_ann_oracle())
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN: random-hyperplane LSH buckets then exact rank
    within bucket. Approximate vs brute force but *deterministic* —
    the md5-derived planes let the SQL oracle recompute the identical
    bucket bits, so this hash-checks despite being an ANN. Recall vs
    brute force additionally asserted in tests/test_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.lsh_ann_topk(
        emb, emb.filter(F.col("vec_id") < _ANN_QUERIES), k=_ANN_K, planes=4
    )


@query("ann_binary_hamming", oracle=_binary_ann_oracle())
def ann_binary_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization ANN (L11c — RaBitQ-style sign-bit
    compression, the 1-bit index every 2024-era vector store ships):
    64-dim vectors collapse to two 32-bit sign words (32x footprint
    cut), candidates rank by pure-integer Hamming distance
    (bit_count(xor)) with queries broadcast so the scan streams
    map-side comparing two longs per row, and the top-40 candidates
    rerank by exact cosine. Deterministic end to end, so the SQL
    oracle recomputes the identical words and candidate cut;
    recall vs brute force asserted in tests/test_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.binary_hamming_topk(
        emb, emb.filter(F.col("vec_id") < _ANN_QUERIES),
        k=_ANN_K, rerank=40,
    )


@query("ann_lsh_multiprobe", oracle=_lsh_multiprobe_oracle())
def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN (L11b): HALF the hash tables of
    `ann_lsh_bucketed` (4 vs 8 — half the corpus-side index
    footprint, the cost that matters at 100 TB) with each query also
    probing every Hamming-1 bucket; recall-vs-baseline asserted in
    tests/test_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.lsh_ann_topk(
        emb,
        emb.filter(F.col("vec_id") < _ANN_QUERIES),
        k=_ANN_K,
        planes=4,
        tables=4,
        probes=4,
    )


@query("ann_ivf_probed", oracle=_ivf_ann_oracle())
def ann_ivf_probed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF scale-path ANN: corpus partitioned into inverted lists by
    nearest centroid (the n_lists lowest-id vectors — deterministic),
    queries probe the 4 closest lists, exact rank inside. The
    deterministic centroids make it SQL-oracle-checkable; recall vs
    brute force (~0.92 at 16 lists / 4 probes) is asserted in
    tests/test_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_ann_topk(
        emb, emb.filter(F.col("vec_id") < _ANN_QUERIES), k=_ANN_K
    )


@query(
    "embedding_l2_normalize",
    oracle="""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS nrm
      FROM embeddings
    )
    SELECT vec_id,
           unnest(generate_series(0, len(v) - 1))::INT AS pos,
           unnest(list_transform(
             v, x -> CASE WHEN nrm = 0 THEN 0.0 ELSE round(x / nrm, 6) END))
             AS nval
    FROM v
    """,
)
def embedding_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization of the embedding column, exploded to scalar
    (vec_id, pos, nval) rows for the gate — unit vectors turn cosine
    ANN into dot-product ANN and make int8 quantization uniform."""
    from isilon_hadoop_tools_spark.operators.similarity import l2_normalize

    return l2_normalize(_t(spark, sf_dir, "embeddings"), "embedding", "vec_id")


@query(
    "ann_recall_eval",
    oracle=f"""
    WITH {_lsh_cand_cte()},
    lsh_scored AS (
      SELECT query_id, neighbor_id,
             round(list_dot_product(q.v, c.v)
                   / (sqrt(list_dot_product(q.v, q.v))
                      * sqrt(list_dot_product(c.v, c.v))), 6) AS cos_sim
      FROM cand
      JOIN vecs q ON q.vec_id = cand.query_id
      JOIN vecs c ON c.vec_id = cand.neighbor_id
    ),
    lsh AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM lsh_scored
      ) WHERE rank <= {_ANN_K}
    ),
    bf_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.v, c.v)
                   / (sqrt(list_dot_product(q.v, q.v))
                      * sqrt(list_dot_product(c.v, c.v))), 6) AS cos_sim
      FROM vecs q JOIN vecs c ON c.vec_id != q.vec_id
      WHERE q.vec_id < {_ANN_QUERIES}
    ),
    bf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM bf_scored
      ) WHERE rank <= {_ANN_K}
    )
    SELECT b.query_id, count(l.neighbor_id)::BIGINT AS n_hits,
           round(count(l.neighbor_id) / {_ANN_K}.0, 6) AS recall
    FROM bf b LEFT JOIN lsh l USING (query_id, neighbor_id)
    GROUP BY b.query_id
    """,
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the LSH ANN path against brute-force ground truth
    — the eval an approximate index must pass before replacing an
    exact scan; per-query (n_hits, recall)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ann_recall(
        emb, emb.filter(F.col("vec_id") < _ANN_QUERIES), k=_ANN_K, planes=4
    )


@query(
    "embedding_jl_distortion",
    oracle="""
    WITH qv AS (
      SELECT vec_id,
             list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT)
               AS qv
      FROM embeddings WHERE vec_id < 10
    ),
    signs AS (
      SELECT j, i,
             CASE WHEN (('0x' || substr(md5('rp:' || j::VARCHAR || ':'
                                        || i::VARCHAR), 1, 8))::BIGINT
                        % 2) = 0
                  THEN 1 ELSE -1 END AS s
      FROM range(0, 16) t(j), range(0, 64) u(i)
    ),
    proj AS (
      SELECT vec_id, j, sum(s * qv[i + 1])::BIGINT AS pv
      FROM qv, signs GROUP BY vec_id, j
    ),
    din AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum(list_transform(range(1, 65),
               i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i])))::BIGINT
               AS d_in2
      FROM qv a JOIN qv b ON a.vec_id < b.vec_id
    ),
    dout AS (
      SELECT pa.vec_id AS id_a, pb.vec_id AS id_b,
             sum((pa.pv - pb.pv) * (pa.pv - pb.pv))::BIGINT AS d_out2
      FROM proj pa JOIN proj pb
        ON pa.j = pb.j AND pa.vec_id < pb.vec_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, d_in2, d_out2,
           round(d_out2::DOUBLE / (16 * d_in2), 6) AS norm_ratio
    FROM din JOIN dout USING (id_a, id_b)
    """,
)
def embedding_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss projection distortion eval (L56,
    Achlioptas 2003): 64-d embeddings projected to 16-d by an
    md5-derived Rademacher matrix — integer-exact, bit-reproducible
    on any engine — with all query-pair distances compared exactly;
    ``norm_ratio`` = d_out²/(16·d_in²) has expectation 1, and the
    projection itself is a shuffle-free whole-stage-codegen
    projection. The acceptance gate before swapping full vectors for
    projections in ANN/clustering at 100 TB."""
    return similarity.jl_distortion_eval(
        _t(spark, sf_dir, "embeddings"), "embedding", "vec_id",
        n_queries=10, out_dim=16, in_dim=64,
    )


@query("embedding_pq_codes", oracle=_pq_oracle())
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (IVF-PQ's compression half): 4 subspace
    codebooks learned with the integer-quantized k-means, each vector
    reduced to 4 codes — bit-identical cross-engine per subspace
    (prefixed oracle chains), the layout behind billion-vector ANN
    memory budgets. Two steps past int8 quantization (L27) and flat
    IVF (L12)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.pq_encode(
        emb, "embedding", "vec_id", m=4, k=8, iters=2
    )


@query("ann_ivf_pq", oracle=_ivf_pq_oracle())
def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ combined index (FAISS ``IndexIVFPQ``) — the production
    billion-vector ANN shape, joining the engine's coarse quantizer
    (L12/L28), RESIDUAL product quantization (L43), and ADC search
    (L44) into one read path: a query probes its 2 nearest of 4
    inverted lists and ranks only those lists' rows, each stored as 4
    codes — no vector math per corpus row, corpus state ~m bytes per
    vector. Residual encoding (``qv - coarse_centroid``) is what
    separates this from flat PQ. Exact bigint arithmetic end to end,
    so codes, probes, and ranks are all bit-identical to the oracle's
    unrolled chain."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_pq_topk(
        emb, "embedding", "vec_id", n_queries=5, topk=10,
        n_lists=4, n_probe=2, coarse_iters=2, m=4, k=8, pq_iters=2,
    )


@query(
    "embedding_hard_negatives",
    oracle="""
    WITH qvecs AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT)
               AS qv
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, label AS query_label, qv AS q_qv
          FROM qvecs WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, q.query_label, v.vec_id AS neighbor_id,
             v.label AS neighbor_label,
             list_sum(list_transform(range(1, 65),
               i -> (v.qv[i] - q.q_qv[i]) * (v.qv[i] - q.q_qv[i])))::BIGINT
               AS dist
      FROM qvecs v CROSS JOIN q
      WHERE v.label <> q.query_label
    )
    SELECT query_id, query_label, neighbor_id, neighbor_label, dist, rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY dist, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (L57) — the contrastive-training data-prep
    step: for each query vector, the 3 nearest corpus vectors with a
    DIFFERENT label (random negatives are too easy; the near-but-wrong
    ones carry the gradient). The label filter composes into the
    broadcast-query scan — O(n_queries · n), never all-pairs — and
    exact integer distances with (dist, id) ties keep every rank
    bit-identical to the oracle."""
    from isilon_hadoop_tools_spark.operators.similarity import (
        hard_negative_topk,
    )

    return hard_negative_topk(
        _t(spark, sf_dir, "embeddings"),
        "embedding", "vec_id", "label", k=3, n_queries=5,
    )


@query("ann_ivf_pq_rerank", oracle=_ivf_pq_oracle(rerank_k=40))
def ann_ivf_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ + exact re-rank (the FAISS refine step) — the full
    production ANN read path: ADC keeps the top-40 candidates per
    query (4x the final k), those ids equi-join BACK to the stored
    quantized vectors (a 5x40-row-driven point-lookup join, never a
    corpus scan), and the final top-10 ranks on EXACT integer squared
    L2 — recovering the recall the m=4 codes gave up while still
    touching only probed-list rows. Same bigint determinism contract
    end to end; the oracle replays ADC and the refine join from the
    unrolled k-means chains."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_pq_topk(
        emb, "embedding", "vec_id", n_queries=5, topk=10,
        n_lists=4, n_probe=2, coarse_iters=2, m=4, k=8, pq_iters=2,
        rerank_k=40,
    )


@query("ann_pq_adc", oracle=_pq_adc_oracle())
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search via asymmetric distance computation — the billion-
    vector ANN read path (IVF-PQ's query half, completing L43): the
    corpus exists only as per-subspace codes, each query precomputes
    an integer lookup table to every codebook centroid, and distance
    is the sum of m table entries — a broadcast join on (subspace,
    code) plus one keyed integer sum; no vector math per corpus row
    at query time. Exact bigint arithmetic end-to-end, so ranks are
    bit-identical to the oracle's."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.pq_adc_topk(
        emb, "embedding", "vec_id", n_queries=5, topk=10,
        m=4, k=8, iters=2,
    )


def _mrl_dim_sql(d: int, k: int = 10) -> str:
    """Brute-force top-k CTEs over the first ``d`` embedding
    components (DuckDB list slice is 1-based inclusive), same rounded
    cosine + (cos DESC, id ASC) rank as the full-dim truth."""
    return f"""
    ap{d} AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_dot_product(q.v[1:{d}], c.v[1:{d}])
                     / (sqrt(list_dot_product(q.v[1:{d}], q.v[1:{d}]))
                        * sqrt(list_dot_product(c.v[1:{d}], c.v[1:{d}]))),
                     6) AS cos_sim,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_dot_product(q.v[1:{d}], c.v[1:{d}])
                     / (sqrt(list_dot_product(q.v[1:{d}], q.v[1:{d}]))
                        * sqrt(list_dot_product(c.v[1:{d}], c.v[1:{d}]))),
                     6) DESC, c.vec_id) AS rank
        FROM mq q, mvecs c WHERE c.vec_id <> q.vec_id
      ) WHERE rank <= {k}
    ),
    hits{d} AS (
      SELECT t.query_id, count(a.neighbor_id)::BIGINT AS n_hits
      FROM mtruth t LEFT JOIN ap{d} a
        ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
      GROUP BY t.query_id
    )"""


_MRL_DIMS = (8, 16, 32, 64)


@query(
    "embedding_matryoshka_recall",
    oracle="""
    WITH mvecs AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    mq AS (SELECT vec_id, v FROM mvecs WHERE vec_id < 5),
    mtruth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_dot_product(q.v, c.v)
                     / (sqrt(list_dot_product(q.v, q.v))
                        * sqrt(list_dot_product(c.v, c.v))), 6) DESC,
                   c.vec_id) AS rank
        FROM mq q, mvecs c WHERE c.vec_id <> q.vec_id
      ) WHERE rank <= 10
    ),"""
    + ",".join(_mrl_dim_sql(d) for d in _MRL_DIMS)
    + "\n    "
    + "\n    UNION ALL\n    ".join(
        f"SELECT {d} AS dim, query_id, n_hits,"
        f" round(n_hits::DOUBLE / 10, 6) AS recall FROM hits{d}"
        for d in _MRL_DIMS
    ),
)
def embedding_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation eval (L69 — MRL, Kusupati et al. 2022):
    recall@10 of exact cosine search over prefix-truncated embeddings
    (dims 8/16/32/64) vs the full-dim ground truth, per query — the
    calibration readout behind serve-truncated-then-rerank storage
    trades. Each dim is one broadcast-query exact scan; at 100 TB
    this runs on an eval sample (`operators/similarity.py
    matryoshka_recall`)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.matryoshka_recall(
        emb,
        emb.filter(F.col("vec_id") < 5),
        "embedding",
        "vec_id",
        dims=_MRL_DIMS,
        k=10,
    )
