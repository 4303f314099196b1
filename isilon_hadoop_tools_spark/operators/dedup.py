"""Deduplication operators for the LLM-data-pipeline surface.

Exact (hash-groupBy), n-gram Jaccard, MinHash+LSH, and SimHash — each
a pure DataFrame composition over the ``documents`` table, designed
around one shuffle pattern: explode features → self-join candidates →
verify. All hashes are the cross-engine md5-derived
:func:`~isilon_hadoop_tools_spark.functions.hashing.stable_hash32`,
so every operator is DuckDB-oracle-checkable.

Scale notes (100 TB):
- candidate generation joins on feature keys; hot features (stopword
  shingles) are capped with ``max_df`` (drop posting lists longer than
  N docs) — the standard inverted-index trick that bounds the
  self-join's skew.
- MinHash bands turn the quadratic pair space into |bands| equi-joins
  on (band_id, band_hash) — the shuffle key is uniform by
  construction.
- pair outputs use ``id_a < id_b`` so each pair shuffles once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from isilon_hadoop_tools_spark.functions.hashing import fingerprint64, stable_hash32
from isilon_hadoop_tools_spark.functions.text import tokens
from isilon_hadoop_tools_spark.sources.local import local_df


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One surviving row per distinct text: fingerprint → min(id).

    Output: ``fingerprint``, ``keep_id``, ``n_dups``. Map-side partial
    aggregation makes this one shuffle of (fingerprint, id, 1).
    """
    return (
        df.select(fingerprint64(text_col).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def shingle_posting_list(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    max_df: int | None = None,
    wide: bool = False,
) -> DataFrame:
    """(shingle, id) posting list with optional frequent-shingle cap.

    Shingles are built by ``posexplode`` + ``lead`` windows rather than
    the array higher-order-function form (``transform`` + ``slice``
    over the token array): HOF expressions fall out of whole-stage codegen
    and measure ~4x slower here. The trailing ``distinct()`` needs no
    exchange — the window already hash-partitioned rows by ``id``,
    which satisfies the (id, shingle) clustering requirement.

    ``wide=True`` replaces the window's exchange with a
    ``REPARTITION_BY_NUM`` on ``id`` (same required distribution, zero
    added shuffles, AQE-exempt): the shingle-build window is
    compute-dense (lead chains + concat per token row) but its shuffle
    is tiny in bytes, so AQE byte-coalescing otherwise runs it 2-3
    tasks wide on a 32-core box. Callers that rebuild the posting list
    per consumer (the prefix-filter join) pass it; single-consumer
    callers keep the default.
    """
    pe = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    if wide:
        from isilon_hadoop_tools_spark.session import shuffle_partition_count

        npart = max(2, shuffle_partition_count(df.sparkSession))
        pe = pe.repartition(npart, "id")
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, k)]
    posts = (
        pe.select(
            "id",
            F.concat_ws(" ", *parts).alias("shingle"),
            parts[-1].alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .drop("_last")
        .distinct()
    )
    if max_df is not None:
        hot = posts.groupBy("shingle").count().filter(F.col("count") > max_df)
        posts = posts.join(F.broadcast(hot.select("shingle")), "shingle", "left_anti")
    return posts


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.8,
    max_df: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs by exact Jaccard over k-word shingle sets.

    Output: ``id_a``, ``id_b``, ``jaccard`` (id_a < id_b, jaccard >=
    threshold). Inverted-index self-join: only pairs sharing >= 1
    shingle are scored, so cost is sum(posting_list^2), not n^2.

    ``max_df`` caps posting-list length (default 1000): a shingle seen
    in more docs is discriminating nothing and would make the hottest
    join key quadratic at corpus scale, so it is dropped from both the
    index and the per-doc set sizes. Pass ``None`` to disable (exact
    Jaccard over every shingle — small corpora only).

    Shape: ONE pipeline, no self-join and no re-consumption — each
    posting row carries its document's set size (a whole-partition
    count window on the id partitioning the posting build already
    established), the per-shingle groups collect (id, set_size)
    structs bounded by ``max_df``, and pairs are generated *in place*
    with nested ``transform``, already carrying both set sizes. An
    earlier form joined a separate ``sizes`` aggregate back on id_a
    and id_b; those joins pushed different ``isnotnull`` filters into
    each branch, defeating ReusedExchange and recomputing the whole
    posting pipeline three times (measured: 31 Exchange nodes in the
    final plan vs 5 for this form).
    """
    # Two r16 experiments tried here and REVERTED on paired A/B:
    # fingerprinting the shingle to a long (the prefix-filter-join
    # move) was flat-to-negative — without an array_intersect verify
    # to cheapen, the md5 per posting row costs what the narrower
    # groupBy key saves; and wide=True on the posting build left
    # every stage wall unchanged (the shingle window here is not
    # compute-dense enough for width to matter, unlike the prefix
    # join's rebuild-per-consumer form).
    posts = shingle_posting_list(df, text_col, id_col, k, max_df)
    sized = posts.withColumn(
        "set_size", F.count(F.lit(1)).over(Window.partitionBy("id"))
    )
    # REPARTITION_BY_NUM on the group key (the prefix-join fix applied
    # to the inverted index): the per-shingle pair fan-out + the pair
    # partial-aggregate run INSIDE the aggregation stage, whose width
    # AQE coalesces by shuffle BYTES — tiny posting rows, compute-dense
    # fan-out, profiled 3-4 post-coalesce tasks at sf0.1 with the rest
    # of the box idle. The numbered repartition is AQE-exempt and
    # satisfies the aggregation's required distribution, so it replaces
    # (not adds to) the groupBy exchange; the count comes from
    # spark.sql.shuffle.partitions (cluster-sized by the caller).
    from isilon_hadoop_tools_spark.session import shuffle_partition_count

    npart = max(2, shuffle_partition_count(df.sparkSession))
    lists = sized.repartition(npart, "shingle").groupBy("shingle").agg(
        F.sort_array(F.collect_list(F.struct("id", "set_size"))).alias("members")
    )
    # all ordered pairs (members[i], members[j]), i < j — members is
    # sorted by (id, …), so id_a < id_b by construction
    pair_structs = F.flatten(
        F.transform(
            "members",
            lambda x, i: F.transform(
                F.slice("members", i + 2, F.size("members")),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    x["set_size"].alias("size_a"),
                    y["id"].alias("id_b"),
                    y["set_size"].alias("size_b"),
                ),
            ),
        )
    )
    inter = (
        lists.filter(F.size("members") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.size_a", "p.id_b", "p.size_b")
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_inter"),
            F.first("size_a").alias("size_a"),
            F.first("size_b").alias("size_b"),
        )
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 16, k: int = 3
) -> DataFrame:
    """MinHash signature per document: for each hash-family member,
    the min hash over the document's shingle set.

    Output: ``id``, ``seed``, ``minhash`` (long format — band grouping
    composes on top without array surgery).

    One wide aggregation, not a seed-explode: each (id, shingle) row
    computes ``num_hashes`` hash columns and a single ``groupBy(id)``
    takes ``num_hashes`` mins, so the shuffle carries |ids| rows of
    ``num_hashes`` columns instead of ``num_hashes``x the row count.
    The long format is restored afterward with ``stack`` (a cheap
    post-shuffle unpivot).

    The family is universal hashing over ONE base md5 —
    ``h_i = (a_i·h + b_i) mod 2^31-1`` with md5-derived (a_i, b_i)
    constants — instead of ``num_hashes`` seeded md5 calls per
    shingle: the 10x-scale probe showed the seeded-md5 form CPU-bound
    in its 16 md5s per shingle; the affine form computes one md5 and
    ``num_hashes`` integer ops, stays integer-exact on any engine.
    """
    from isilon_hadoop_tools_spark.functions.hashing import (
        MERSENNE31,
        affine_params,
    )

    posts = shingle_posting_list(df, text_col, id_col, k)
    h = stable_hash32(F.col("shingle"))
    mins = posts.withColumn("_h", h).groupBy("id").agg(
        *[
            F.min(
                F.pmod(
                    F.lit(affine_params(s)[0]) * F.col("_h")
                    + F.lit(affine_params(s)[1]),
                    F.lit(MERSENNE31),
                )
            ).alias(f"_m{s}")
            for s in range(num_hashes)
        ]
    )
    stack_args = ", ".join(f"{s}, _m{s}" for s in range(num_hashes))
    return mins.select(
        "id",
        F.expr(f"stack({num_hashes}, {stack_args}) AS (seed, minhash)"),
    )


def minhash_sig_keys(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """One ``(id, sig_key)`` row per document: the full seed-ordered
    MinHash signature rendered as ``bands`` comma-joined band keys
    concatenated with ``"|"``. Equality on ``sig_key`` == equality on
    the whole signature; splitting on ``"|"`` recovers the per-band
    join keys ("|" cannot occur inside a band key, so the concat is
    injective) — the shared signature encoding of the batch LSH join
    and the streaming band-index maintenance.

    The returned frame is lazily localCheckpointed: every consumer
    uses it at least twice (group table + expansion joins), and the
    per-side pushdowns would otherwise defeat ReusedExchange and
    recompute the shingle + minhash aggregation per consumer.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, k)
    banded = (
        sigs.withColumn("band", (F.col("seed") / rows_per_band).cast("int"))
        .groupBy("id", "band")
        .agg(
            # seed-ordered minhash vector rendered as a join key —
            # equality on the string == equality on the band vector,
            # and (unlike md5(to_json)) it has an exact SQL twin
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seed", "minhash"))),
                    lambda s: s["minhash"].cast("string"),
                ),
                ",",
            ).alias("band_key")
        )
        .select("id", "band", "band_key")
    )
    return (
        banded.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("band", "band_key"))),
                    lambda s: s["band_key"],
                ),
                "|",
            ).alias("sig_key")
        )
        .localCheckpoint(eager=False)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    expand_duplicates: bool = True,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH.

    ``num_hashes`` minhashes split into ``bands`` bands of
    ``num_hashes // bands`` rows; documents agreeing on all rows of
    any band become a candidate pair. Output: ``id_a``, ``id_b``,
    ``n_bands`` (number of agreeing bands).

    Identical signatures are collapsed BEFORE the band self-join
    (same construction as :func:`hamming_band_pairs`): ids group by
    their full seed-ordered signature, the band join runs over one
    min-id representative per DISTINCT signature, and pairs re-expand
    to member ids afterward. Byte-identical documents — and the
    byte-DIFFERENT ones with identical shingle sets (whitespace
    variants, boilerplate with non-shingled diffs) that
    ``exact_dedup`` cannot collapse — therefore contribute ONE row
    per band bucket regardless of multiplicity: the join stays
    O(distinct²) per bucket by construction, not by docstring
    precondition.

    - ``expand_duplicates=True`` (default): the historical contract —
      one ``id_a``, ``id_b``, ``n_bands`` row per qualifying member
      pair (identical-signature pairs agree on every band, so their
      ``n_bands`` == ``bands``). Output size is the answer size;
      nothing upstream of it is quadratic in n.
    - ``expand_duplicates=False``: the scale form — one row per
      qualifying DISTINCT-signature pair ``(id_a, id_b, n_bands,
      n_a, n_b)`` with representative ids and group sizes, plus one
      ``(rep, rep, bands, n, n)`` row per signature with >= 2
      members. O(distinct²) rows even when the expansion is O(n²).
    """
    full = minhash_sig_keys(df, text_col, id_col, num_hashes, bands, k)
    groups = (
        full.groupBy("sig_key")
        .agg(F.min("id").alias("rep"), F.count(F.lit(1)).alias("n_ids"))
        .localCheckpoint(eager=False)
    )
    rep_banded = groups.select(
        "rep",
        "sig_key",
        F.posexplode(F.split("sig_key", r"\|")).alias("band", "band_key"),
    )
    a = rep_banded.select(
        "band",
        "band_key",
        F.col("rep").alias("rep_a"),
        F.col("sig_key").alias("sig_a"),
    )
    b = rep_banded.select(
        "band",
        "band_key",
        F.col("rep").alias("rep_b"),
        F.col("sig_key").alias("sig_b"),
    )
    rep_pairs = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("rep_a") < F.col("rep_b"))
        .groupBy("rep_a", "rep_b")
        .agg(
            F.count(F.lit(1)).alias("n_bands"),
            F.first("sig_a").alias("sig_a"),
            F.first("sig_b").alias("sig_b"),
        )
    )
    if not expand_duplicates:
        sizes = groups.select("rep", "n_ids")
        cross = (
            rep_pairs.join(
                sizes.select(F.col("rep").alias("rep_a"), F.col("n_ids").alias("n_a")),
                "rep_a",
            )
            .join(
                sizes.select(F.col("rep").alias("rep_b"), F.col("n_ids").alias("n_b")),
                "rep_b",
            )
            .select(
                F.col("rep_a").alias("id_a"),
                F.col("rep_b").alias("id_b"),
                "n_bands",
                "n_a",
                "n_b",
            )
        )
        intra = groups.filter(F.col("n_ids") >= 2).select(
            F.col("rep").alias("id_a"),
            F.col("rep").alias("id_b"),
            F.lit(bands).cast("long").alias("n_bands"),
            F.col("n_ids").alias("n_a"),
            F.col("n_ids").alias("n_b"),
        )
        return cross.unionByName(intra)
    # expand representative pairs back to member ids: each unordered
    # signature pair appears exactly once in rep_pairs and each id has
    # exactly one signature, so the expansion needs no pair dedup
    cross = (
        rep_pairs.join(
            full.select(F.col("sig_key").alias("sig_a"), F.col("id").alias("_ida")),
            "sig_a",
        )
        .join(
            full.select(F.col("sig_key").alias("sig_b"), F.col("id").alias("_idb")),
            "sig_b",
        )
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            "n_bands",
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )
    # intra-group (identical-signature) pairs agree on every band:
    # straight equi-join on the signature — output-bound, never
    # multiplied through the band buckets
    ga = full.select("sig_key", F.col("id").alias("id_a"))
    gb = full.select("sig_key", F.col("id").alias("id_b"))
    intra = (
        ga.join(gb, "sig_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(bands).cast("long").alias("n_bands"))
    )
    return cross.unionByName(intra)


def simhash_near_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 32,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs with hamming distance <= ``max_hamming``.

    Pigeonhole band join: the fingerprint splits into ``bands`` equal
    bit-slices; <= ``max_hamming`` flipped bits can dirty at most
    ``max_hamming`` slices, so any qualifying pair agrees exactly on
    >= 1 slice whenever ``max_hamming < bands`` — candidate generation
    is an equi-join on (band_idx, band_value), *complete by
    construction*, and the full cross product never materializes.
    Output: ``id_a``, ``id_b``, ``hamming``.
    """
    # lazy localCheckpoint: the fingerprint table feeds both sides of
    # the band self-join, whose per-side pushdowns defeat
    # ReusedExchange — without it the whole token-vote aggregation runs
    # twice. One (id, simhash) row per document — corpus-key sized.
    sims = simhash(df, text_col, id_col, bits).localCheckpoint(eager=False)
    return hamming_band_pairs(
        sims, "simhash", "id", bits=bits, max_hamming=max_hamming, bands=bands
    )


def band_slice_array(hash_col, bits: int, bands: int):
    """``bands`` equal bit-slices of a bit-hash column as an array —
    the pigeonhole band key shared by the batch band joins and the
    streaming band-index maintenance. Pure integer arithmetic
    (floor-div + mod), codegen'd, with an exact SQL twin."""
    band_bits = bits // bands
    return F.array(
        *[
            (
                F.floor(hash_col / F.lit(2 ** (band_bits * j)))
                % F.lit(2**band_bits)
            ).cast("long")
            for j in range(bands)
        ]
    )


def _width_pinned_groups(src: DataFrame, keys: list[str], *aggs) -> DataFrame:
    """The distinct-hash group table of a band join, checkpointed at a
    PINNED width: a ``REPARTITION_BY_NUM`` on the group key replaces
    the aggregation's exchange (same required distribution, zero added
    shuffles) and — being AQE-exempt — stops the checkpointed frame
    from coalescing to 1-2 partitions on its tiny shuffle bytes.
    Everything built on the checkpoint (band posexplode, the band
    self-join fan-out, the pair partial aggregate) inherits its
    parallelism from it, and that work is compute-dense: profiled as a
    1-task 19 MB-shuffle-write fan-out stage in the unified 4-modality
    query with 31 cores idle before the pin. The count comes from
    ``spark.sql.shuffle.partitions`` (cluster-sized by the caller)."""
    from isilon_hadoop_tools_spark.session import shuffle_partition_count

    npart = max(2, shuffle_partition_count(src.sparkSession))
    return (
        src.repartition(npart, *keys)
        .groupBy(*keys)
        .agg(*aggs)
        .localCheckpoint(eager=False)
    )


def hamming_band_pairs(
    hashes: DataFrame,
    hash_col: str,
    id_col: str,
    bits: int = 32,
    max_hamming: int = 3,
    bands: int = 4,
    expand_duplicates: bool = True,
) -> DataFrame:
    """Generic pigeonhole band join over ANY precomputed bit-hash
    column (SimHash text fingerprints, aHash image fingerprints, …):
    <= ``max_hamming`` flipped bits dirty at most ``max_hamming`` of
    the ``bands`` equal bit-slices, so any qualifying pair agrees on
    >= 1 slice whenever ``max_hamming < bands`` — candidate generation
    is an equi-join on (band_idx, band_val), complete by construction,
    no cross product.

    Identical fingerprints are collapsed BEFORE the band self-join:
    the join runs over one min-id representative per DISTINCT hash
    value, so a boilerplate doc/image duplicated 10^6 times
    contributes ONE row to every band bucket instead of 10^6 — the
    band join stays O(distinct²) per bucket regardless of the
    duplicate multiplicity (the former data-dependent quadratic).

    - ``expand_duplicates=True`` (default): pairs are re-expanded to
      member ids after the (cheap) representative join — same output
      contract as always: ``id_a``, ``id_b``, ``hamming`` with
      ``id_a < id_b``, one row per qualifying id pair. Intra-group
      (hamming 0) pairs are emitted by a direct equi-join on the hash
      value, never through the band buckets. Output size is the
      answer size; nothing upstream of it is quadratic in n.
    - ``expand_duplicates=False``: the scale form — one row per
      qualifying DISTINCT-hash pair ``(id_a, id_b, hamming, n_a,
      n_b)`` where ids are the group representatives and ``n_*`` the
      group sizes, plus one ``(rep, rep, 0, n, n)`` row per hash with
      >= 2 members. O(distinct²) rows total even when the full pair
      expansion would be O(n²).
    """
    if max_hamming >= bands:
        raise ValueError("completeness requires max_hamming < bands")
    # lazy localCheckpoint: the (id, hash) projection feeds the group
    # table plus up to three expansion joins; hash columns are often
    # mapInPandas-computed (image hashes) and must not recompute
    src = hashes.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("_hash")
    ).localCheckpoint(eager=False)
    groups = _width_pinned_groups(
        src, ["_hash"], F.min("id").alias("rep"),
        F.count(F.lit(1)).alias("n_ids"),
    )
    banded = groups.select(
        "rep",
        "_hash",
        F.posexplode(band_slice_array(F.col("_hash"), bits, bands)).alias(
            "band_idx", "band_val"
        ),
    )
    a = banded.select(
        "band_idx",
        "band_val",
        F.col("rep").alias("rep_a"),
        F.col("_hash").alias("ha"),
    )
    b = banded.select(
        "band_idx",
        "band_val",
        F.col("rep").alias("rep_b"),
        F.col("_hash").alias("hb"),
    )
    rep_pairs = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("rep_a") < F.col("rep_b"))
        .groupBy("rep_a", "rep_b")
        .agg(F.first("ha").alias("ha"), F.first("hb").alias("hb"))
        .select(
            "rep_a",
            "rep_b",
            "ha",
            "hb",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    if not expand_duplicates:
        sizes = groups.select("rep", "n_ids")
        cross = (
            rep_pairs.join(
                sizes.select(F.col("rep").alias("rep_a"), F.col("n_ids").alias("n_a")),
                "rep_a",
            )
            .join(
                sizes.select(F.col("rep").alias("rep_b"), F.col("n_ids").alias("n_b")),
                "rep_b",
            )
            .select(
                F.col("rep_a").alias("id_a"),
                F.col("rep_b").alias("id_b"),
                "hamming",
                "n_a",
                "n_b",
            )
        )
        intra = groups.filter(F.col("n_ids") >= 2).select(
            F.col("rep").alias("id_a"),
            F.col("rep").alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
            F.col("n_ids").alias("n_a"),
            F.col("n_ids").alias("n_b"),
        )
        return cross.unionByName(intra)
    # expand representative pairs back to member ids: each unordered
    # hash pair appears exactly once in rep_pairs and each id has
    # exactly one hash, so the expansion needs no pair dedup
    cross = (
        rep_pairs.join(
            src.select(F.col("_hash").alias("ha"), F.col("id").alias("_ida")), "ha"
        )
        .join(src.select(F.col("_hash").alias("hb"), F.col("id").alias("_idb")), "hb")
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            "hamming",
        )
        # guard against dirty input (same id under two different
        # hashes): a (id, id, hamming>0) self-pair must not leak out
        .filter(F.col("id_a") < F.col("id_b"))
    )
    # intra-group (identical-hash) pairs: straight equi-join on the
    # hash value — output-bound, never multiplied through the bands
    ga = src.select("_hash", F.col("id").alias("id_a"))
    gb = src.select("_hash", F.col("id").alias("id_b"))
    intra = (
        ga.join(gb, "_hash")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).cast("int").alias("hamming"))
    )
    return cross.unionByName(intra)


def tagged_band_slice_array(hash_col, modality_col, params: dict):
    """Per-modality band slicing as ONE expression: a ``CASE`` chain
    over the modality tag dispatching to :func:`band_slice_array`
    with that modality's (bits, _, bands) — shared by the batch
    unified band join and the streaming unified index so the two can
    never slice differently.

    A non-null modality tag NOT present in ``params`` (typo'd
    fingerprint_fn) raises at execution via a per-row ``assert_true``
    guard instead of the bare CASE's NULL — a NULL result here would
    silently drop the whole modality from banding and from the
    streaming index. NULL tags are handled EXPLICITLY (the guard
    accepts ``modality IS NULL`` — Spark's ``assert_true`` throws on
    NULL input, so relying on downstream joins to infer an
    ``IS NOT NULL`` filter only works in the batch band-join path;
    the streaming posting build has no such join): a NULL tag yields
    a NULL band array, which posexplode/band joins then drop."""
    out = None
    known = None
    for m, (bits, _max_h, bands) in sorted(params.items()):
        e = band_slice_array(hash_col, bits, bands)
        cond = modality_col == m
        out = F.when(cond, e) if out is None else out.when(cond, e)
        known = cond if known is None else known | cond
    guard = F.assert_true(
        known | modality_col.isNull(),
        F.concat(
            F.lit("unknown modality tag: "),
            F.coalesce(modality_col.cast("string"), F.lit("NULL")),
        ),
    )
    return F.when(guard.isNull(), out)


def tagged_hamming_band_pairs(
    df: DataFrame,
    params: dict[str, tuple[int, int, int]],
    modality_col: str = "modality",
    hash_col: str = "fhash",
    id_col: str = "id",
) -> DataFrame:
    """ONE banded hamming join over fingerprints from MANY modalities
    — the unified dedup index: text SimHash, image aHash, audio
    Goertzel, and video mosaic rows live in the same tagged
    ``(modality, id, fhash)`` table, each modality keeps its OWN
    ``(bits, max_hamming, bands)`` parameters via ``params``, and
    candidate generation is a single self-equi-join keyed on
    ``(modality, band_idx, band_val)`` — the modality in the bucket
    key both prevents cross-modality collisions and lets every
    modality use a different band split inside the one shuffle.

    Same safety construction as :func:`hamming_band_pairs` (this is
    the SURVEY §7.8 "one index design, four modalities" claim made
    executable): identical fingerprints collapse to a min-id
    representative per DISTINCT ``(modality, hash)`` before banding,
    the band join is pigeonhole-complete per modality
    (``max_hamming < bands`` enforced for each), intra-group pairs
    come from a direct equi-join on the hash value, and output size
    is the answer size. At 100 TB this means ONE index table and ONE
    maintenance pipeline for the whole multimodal corpus instead of
    four.

    Output: ``modality``, ``id_a``, ``id_b``, ``hamming`` with
    ``id_a < id_b``, one row per qualifying same-modality pair.
    """
    for m, (bits, max_h, bands) in params.items():
        if max_h >= bands:
            raise ValueError(
                f"completeness requires max_hamming < bands for {m!r}"
            )

    def per_modality(expr_of):
        out = None
        for m, p in sorted(params.items()):
            e = expr_of(p)
            out = F.when(F.col("modality") == m, e) if out is None else out.when(
                F.col("modality") == m, e
            )
        return out

    src = df.select(
        F.col(modality_col).alias("modality"),
        F.col(id_col).alias("id"),
        F.col(hash_col).alias("_hash"),
    ).localCheckpoint(eager=False)
    groups = _width_pinned_groups(
        src, ["modality", "_hash"], F.min("id").alias("rep")
    )
    band_arr = tagged_band_slice_array(
        F.col("_hash"), F.col("modality"), params
    )
    banded = groups.select(
        "modality",
        "rep",
        "_hash",
        F.posexplode(band_arr).alias("band_idx", "band_val"),
    )
    a = banded.select(
        "modality",
        "band_idx",
        "band_val",
        F.col("rep").alias("rep_a"),
        F.col("_hash").alias("ha"),
    )
    b = banded.select(
        "modality",
        "band_idx",
        "band_val",
        F.col("rep").alias("rep_b"),
        F.col("_hash").alias("hb"),
    )
    max_h_expr = per_modality(lambda p: F.lit(p[1]))
    rep_pairs = (
        a.join(b, ["modality", "band_idx", "band_val"])
        .filter(F.col("rep_a") < F.col("rep_b"))
        .groupBy("modality", "rep_a", "rep_b")
        .agg(F.first("ha").alias("ha"), F.first("hb").alias("hb"))
        .select(
            "modality",
            "rep_a",
            "rep_b",
            "ha",
            "hb",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_h_expr)
    )
    cross = (
        rep_pairs.join(
            src.select(
                "modality",
                F.col("_hash").alias("ha"),
                F.col("id").alias("_ida"),
            ),
            ["modality", "ha"],
        )
        .join(
            src.select(
                "modality",
                F.col("_hash").alias("hb"),
                F.col("id").alias("_idb"),
            ),
            ["modality", "hb"],
        )
        .select(
            "modality",
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            "hamming",
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )
    ga = src.select("modality", "_hash", F.col("id").alias("id_a"))
    gb = src.select("modality", "_hash", F.col("id").alias("id_b"))
    intra = (
        ga.join(gb, ["modality", "_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "modality", "id_a", "id_b", F.lit(0).cast("int").alias("hamming")
        )
    )
    return cross.unionByName(intra)


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 50,
    algorithm: str = "auto",
    label_budget: int = 8,
) -> DataFrame:
    """Keep-one clustering: label every node with the min id reachable
    through the near-dup pair graph (no graph library needed).

    Output: ``id``, ``keep_id`` (singletons keep themselves; a doc is
    a duplicate iff ``keep_id != id``).

    Algorithms (property-tested equivalent, `tests/test_dedup.py`):

    - ``min_label``: iterative min-label propagation. One edges⋈labels
      join + min-aggregation per round; the label front advances one
      hop per round, so rounds ~ component DIAMETER. The cheap path
      for shallow near-dup components (the common corpus case).
      Raises ``RuntimeError`` if ``max_iter`` rounds are exhausted
      unconverged — never a silent star fallback (the caller chose
      the algorithm) or silent partial labels.
    - ``star``: alternating large-star/small-star (Kiveris et al.,
      "Connected Components in MapReduce and Beyond", SoCC'14). Each
      round re-wires the edge graph toward per-neighborhood minima and
      converges in O(log²) rounds on ANY topology — the 100 TB path
      for high-diameter graphs (entity-resolution chains, web graphs)
      where diameter-many min-label rounds would never finish.
    - ``auto`` (default): min-label up to ``label_budget`` rounds;
      if still unconverged (deep component detected at runtime),
      switch to star rounds seeded with the partial labels — already
      propagated progress is kept as extra (id, keep_id) edges.

    Every round truncates lineage with ``localCheckpoint`` and drives
    convergence off a bounded driver-side scalar.
    """
    if algorithm not in ("auto", "min_label", "star"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    edges = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).unionByName(
        pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    )
    labels = nodes.select(F.col(id_col).alias("id"), F.col(id_col).alias("keep_id"))
    if algorithm == "star":
        return _cc_star(labels, edges, max_iter)
    budget = max_iter if algorithm == "min_label" else min(label_budget, max_iter)
    for it in range(budget):
        neighbor_min = (
            edges.join(labels, edges["src"] == labels["id"])
            .groupBy("dst")
            .agg(F.min("keep_id").alias("_nmin"))
        )
        # convergence flag computed inside the same pass — a separate
        # new-vs-old join would re-shuffle both label sets every round
        stepped = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["dst"], "left")
            .select(
                "id",
                F.least(F.col("keep_id"), F.coalesce("_nmin", "keep_id")).alias(
                    "keep_id"
                ),
                (F.coalesce("_nmin", "keep_id") < F.col("keep_id")).alias("_changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = stepped.filter("_changed").limit(1).count()
        labels = stepped.drop("_changed")
        if changed == 0:
            return labels
    if algorithm == "min_label":
        # explicit min_label exhausted max_iter without converging:
        # honor the caller's algorithm choice — no silent star
        # fallback — and surface the truncation instead of returning
        # partial labels as if they were components
        raise RuntimeError(
            f"connected_components(algorithm='min_label') did not "
            f"converge in max_iter={max_iter} rounds (component "
            f"diameter exceeds the budget); raise max_iter or use "
            f"algorithm='star'/'auto'"
        )
    # auto + unconverged: the graph is deeper than the label budget —
    # finish with the O(log²)-round star iteration, keeping propagated
    # progress as extra edges (keep_id is reachable from id, so the
    # augmented graph has the same components)
    label_edges = labels.filter(F.col("keep_id") != F.col("id")).select(
        F.col("id").alias("src"), F.col("keep_id").alias("dst")
    )
    aug = edges.unionByName(label_edges).unionByName(
        label_edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return _cc_star(labels.select("id").select("id", F.col("id").alias("keep_id")),
                    aug, max_iter)


def _cc_star(labels: DataFrame, edges: DataFrame, max_iter: int) -> DataFrame:
    """Large-star/small-star rounds to convergence; ``edges`` must
    contain both directions of every undirected pair. Returns the same
    ``(id, keep_id)`` contract as min-label propagation.

    Per round (2 shuffled aggregations + 2 joins over the shrinking
    edge set): large-star hangs every strictly-larger neighbor of u
    onto m = min(N(u) ∪ {u}); small-star (keyed on each edge's larger
    endpoint) hangs the smaller neighbors and u itself onto the
    neighborhood min. Edges monotonically re-wire into stars centered
    at component minima; converged when the canonical edge multiset
    stops changing — checked with a (count, xor-of-fingerprints)
    scalar, one tiny driver row per round, never an edge-set compare.
    """
    # canonical undirected, no self-loops
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    def _edge_sig(e: DataFrame) -> tuple[int, int]:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(
                fingerprint64(F.concat_ws(":", F.col("a"), F.col("b")))
            ).alias("x"),
        ).collect()[0]
        return (row["n"], row["x"])

    # seed the convergence check with the INPUT edge set's signature:
    # an already-star-shaped graph is then recognized as converged in
    # round 1 (without this, max_iter=1 on any non-empty graph raised
    # unconditionally — confirming convergence needed a second round)
    prev_sig = _edge_sig(und)
    converged = False
    for _ in range(max_iter):
        both = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            und.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = both.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        # large-star: (v, m) for v in N(u), v > u
        large = (
            both.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        )
        lcan = (
            large.filter(F.col("src") != F.col("dst"))
            .select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
            )
            .distinct()
        )
        # small-star over the large-star output: key every edge on its
        # larger endpoint u (neighbors all < u), hang them + u on min
        sboth = lcan.select(F.col("b").alias("u"), F.col("a").alias("v"))
        smins = sboth.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            sboth.join(smins, "u")
            .select(F.col("v").alias("src"), F.col("m").alias("dst"))
            .unionByName(
                smins.select(F.col("u").alias("src"), F.col("m").alias("dst"))
            )
        )
        und = (
            small.filter(F.col("src") != F.col("dst"))
            .select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        sig = _edge_sig(und)
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged and prev_sig[0] != 0:
        # the final label extraction below ASSUMES the edge set
        # converged to stars; an exhausted budget would silently
        # return wrong keep_ids — surface it instead (star converges
        # in O(log² n) rounds, so hitting the default 50 means
        # something is deeply wrong, not merely slow)
        raise RuntimeError(
            f"star connected-components did not converge in "
            f"max_iter={max_iter} rounds; raise max_iter"
        )
    # converged edge set is a union of stars centered at component
    # minima: every non-min node has exactly one (min, node) edge
    comp = und.groupBy(F.col("b").alias("id")).agg(F.min("a").alias("_m"))
    return (
        labels.join(comp, "id", "left")
        .select("id", F.coalesce("_m", F.col("id")).alias("keep_id"))
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    window: int = 4,
    impl: str = "arrow",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS rolling-hash scheme): hash every character ``k``-gram, slide a
    ``window``-wide frame over the hash sequence, and keep the distinct
    window minima. The winnowing guarantee: two documents sharing any
    substring of length >= ``k + window - 1`` share at least one
    fingerprint, so fingerprint overlap is an edit-robust containment
    signal (plagiarism / boilerplate / quotation detection) that exact
    and shingle-set dedup both miss.

    Output: ``id``, ``fp`` (distinct selected hashes per document).

    Shape: winnowing is per-document *stateless*, so the whole scheme
    runs as a scan-bound projection with zero shuffles: the corpus
    never leaves its input partitioning (an earlier form exploded
    every *character* and ran three windows over a corpus-wide
    hash-partition-by-id exchange — at 100 TB that exchange IS the
    job; this form has none). Per-row memory is O(len) longs, bounded
    by the document length.

    Two implementations, byte-identical output (equality-tested):

    - ``impl="arrow"`` (default): ``mapInPandas`` — per Arrow batch,
      hash the grams with ``hashlib.md5`` (same value as
      ``stable_hash32``) and take window minima with one numpy
      ``sliding_window_view().min``. Higher-order functions fall out
      of whole-stage codegen and interpret md5+substring per element;
      the Arrow batch path measures ~2x faster — this is the carve-out
      case where a vectorized Pandas path beats the built-ins.
    - ``impl="hof"``: pure-JVM — per row, build the gram-hash array
      with ``transform(sequence(1, len-k+1), i -> hash(substr))``,
      take each window's minimum with ``array_min(slice(...))``,
      dedup with ``array_distinct``, explode.
    """
    if impl == "arrow":
        def gen(batches):
            import hashlib

            import numpy as np
            import pandas as pd
            from numpy.lib.stride_tricks import sliding_window_view

            for pdf in batches:
                ids, fps = [], []
                for did, text in zip(pdf[id_col], pdf[text_col]):
                    n = len(text) - k + 1
                    if n < window:  # no full window -> no fingerprints
                        continue
                    hs = np.fromiter(
                        (
                            int(hashlib.md5(text[i : i + k].encode()).hexdigest()[:8], 16)
                            for i in range(n)
                        ),
                        dtype=np.int64,
                        count=n,
                    )
                    sel = np.unique(sliding_window_view(hs, window).min(axis=1))
                    ids.append(np.full(len(sel), did, dtype=np.int64))
                    fps.append(sel)
                if ids:
                    yield pd.DataFrame(
                        {"id": np.concatenate(ids), "fp": np.concatenate(fps)}
                    )

        # per-gram md5 in the Python worker is the query's entire cost
        # and it parallelizes only as wide as the scan — one parquet
        # file at bench scale means ONE task doing everything
        # (profiled 1.8 s single-task with 31 cores idle; 0.67 s
        # widened). Conditional: a many-split corpus skips the
        # exchange entirely.
        from isilon_hadoop_tools_spark.session import widen_narrow_input

        src = widen_narrow_input(
            df.select(F.col(id_col).cast("long").alias(id_col), text_col),
            id_col,
        )
        return src.mapInPandas(gen, "id long, fp long")
    # Docs shorter than k+window-1 have no full window -> no
    # fingerprints. The filter also guards sequence() against a
    # negative span (Spark's sequence(1, n) with n < 1 descends).
    ok = df.filter(F.length(F.col(text_col)) >= k + window - 1)
    grams = ok.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.sequence(F.lit(1), F.length(F.col(text_col)) - (k - 1)),
            lambda i: stable_hash32(F.substring(F.col(text_col), i, F.lit(k))),
        ).alias("grams"),
    )
    selected = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("grams") - (window - 1)),
            lambda j: F.array_min(F.slice(F.col("grams"), j, window)),
        )
    )
    return grams.select("id", F.explode(selected).alias("fp"))


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 32) -> DataFrame:
    """Per-document SimHash fingerprint over distinct whitespace tokens.

    bit j of the fingerprint = sign of sum over tokens of
    (+1 if bit j of stable_hash32(token) else -1).  Output: ``id``,
    ``simhash`` (long).

    One wide aggregation: each token row computes ``bits`` vote
    columns ((h >> j) & 1, literal shifts, all codegen'd) and a single
    ``groupBy(id)`` sums them — no bits-explode (the naive form
    shuffles ``bits``x the token count) and one shuffle instead of
    two. The fingerprint is then reassembled from the signs.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens(text_col))).alias("tok"),
    ).withColumn("h", stable_hash32("tok"))
    # SQL-string expressions, deliberately: the Column-API form built
    # ~400 py4j round-trips (bits vote columns x ~8 calls each + a
    # bits-term fingerprint fold), ~1.2-1.5 s of driver time PER BUILD
    # on this operator alone, paid again on every bench rep. One
    # F.expr per vote + one for the fingerprint parses JVM-side in a
    # handful of calls; the parsed trees are the same expressions
    # (shiftright/&/CASE/CAST), so plans and results are unchanged.
    votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {j}) & 1) = 1"
            " THEN 1 ELSE -1 END)"
        ).alias(f"_s{j}")
        for j in range(bits)
    ]
    sums = toks.groupBy("id").agg(*votes)
    fingerprint = F.expr(
        " + ".join(
            f"CASE WHEN _s{j} > 0 THEN CAST({2 ** j} AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END"
            for j in range(bits)
        )
    )
    return sums.select("id", fingerprint.alias("simhash"))


def lsh_recall_eval(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.2,
    max_df: int | None = 1000,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Candidate-generation quality evaluation: recall of the banded
    MinHash-LSH candidate pairs against exact shingle-Jaccard truth —
    the acceptance gate for swapping the quadratic exact pair search
    out for LSH on a production corpus (the dedup twin of
    `similarity.ann_recall`).

    Both sides are the engine's own deterministic operators, so the
    whole report is exact and cross-engine reproducible. One row:
    ``n_true`` (exact Jaccard pairs >= threshold), ``n_candidates``
    (LSH band-collision pairs), ``n_hit`` (true pairs the LSH path
    surfaced), ``recall`` (hit share, 6 dp; 1.0 on an empty truth
    set).

    Shape: ONE full-outer join of the two (distinct-by-construction)
    pair tables on the pair key, with a presence flag per side — all
    three counts fall out of a single aggregation. An earlier form
    checkpointed both tables and ran count + semi-join + count per
    side (truth/cand consumed twice each); under AQE a lazy
    localCheckpoint still executes the whole subtree at BUILD time
    (``toRdd`` materializes every intermediate stage), so the
    checkpoints bought nothing and cost persist passes — the
    flag-join form computes each subtree exactly once with no
    materialization at all.
    """
    # CORRECTNESS INVARIANT (ADVICE r16): the single-aggregation
    # flag-join below is only exact while BOTH pair tables are
    # distinct on (id_a, id_b) — duplicate rows would multiply
    # through the full-outer join key and inflate every count.
    # Today that holds by construction (ngram_jaccard_pairs ends in
    # a pair groupBy; minhash_lsh_pairs collapses per-signature
    # representatives then pair-distincts) and is pinned by
    # tests/test_dedup.py::test_recall_eval_inputs_distinct_pairs —
    # a change that makes either emit duplicate pairs must fail
    # there, not silently skew recall here.
    truth = ngram_jaccard_pairs(
        df, text_col, id_col, k=k, threshold=threshold, max_df=max_df
    ).select("id_a", "id_b", F.lit(1).alias("_t"))
    cand = minhash_lsh_pairs(
        df, text_col, id_col, num_hashes=num_hashes, bands=bands
    ).select("id_a", "id_b", F.lit(1).alias("_c"))
    return (
        truth.join(cand, ["id_a", "id_b"], "full_outer")
        .agg(
            F.count("_t").alias("n_true"),
            F.count("_c").alias("n_candidates"),
            F.count(F.when(F.col("_t").isNotNull(), F.col("_c"))).alias(
                "n_hit"
            ),
        )
        .select(
            "n_true",
            "n_candidates",
            "n_hit",
            F.when(F.col("n_true") == 0, F.lit(1.0))
            .otherwise(
                F.round(F.col("n_hit") / F.col("n_true"), 6)
            )
            .alias("recall"),
        )
    )


def hamming_recall_eval(
    hashes: DataFrame,
    id_col: str,
    hash_cols: list[str],
    bits: int,
    max_hamming: int,
    bands: int,
    max_eval_rows: int = 250_000,
) -> DataFrame:
    """Recall of banded candidate generation in the INCOMPLETE regime
    (``max_hamming >= bands``): with that many flipped bits no band
    need survive intact, so the pigeonhole guarantee is gone and
    banding becomes a recall/cost trade — this eval measures it, and
    measures how much OR-ing candidates across several hashes (aHash
    + dHash in the image path) buys back. The acceptance gate for the
    "candidate on either hash" production claim.

    - truth: brute-force pairs with ``hamming(hash_cols[0]) <=
      max_hamming``. Quadratic BY DESIGN (it is ground truth) — run
      the eval on a sample/partition of a production corpus, exactly
      like :func:`lsh_recall_eval` and ``similarity.ann_recall``.
    - candidates of hash c: pairs agreeing on >= 1 of the ``bands``
      bit-slices of c (the band join's candidate set, no hamming
      filter — what the generator alone would surface).

    One deterministic row: ``n_true``, ``n_candidates`` (union over
    hashes), ``n_hit_first``/``recall_first`` (first hash only),
    ``n_hit_union``/``recall_union`` (candidate on ANY hash; >=
    recall_first by construction). Recalls are 6 dp, 1.0 on empty
    truth.

    ``max_eval_rows`` ENFORCES the eval-on-a-sample contract that the
    quadratic truth pass and its broadcast b-side depend on (the r15
    MoR delete-budget shape): past the budget the eval raises rather
    than silently building an n^2 truth join over an unbounded
    broadcast. The count rides the checkpoint the plan materializes
    anyway, so the guard costs one count job over cached rows.
    """
    src = hashes.select(
        F.col(id_col).alias("id"), *[F.col(c) for c in hash_cols]
    ).localCheckpoint(eager=False)
    n_rows = src.count()
    if n_rows > max_eval_rows:
        raise ValueError(
            f"hamming_recall_eval input is {n_rows} rows, past the "
            f"eval budget of {max_eval_rows} — the truth pass is "
            "brute-force quadratic BY DESIGN (ground truth); run the "
            "eval on a sample/partition, or raise max_eval_rows if "
            "the n^2 cost and the broadcast b-side are truly intended"
        )
    primary = hash_cols[0]
    a = src.select(
        F.col("id").alias("id_a"),
        *[F.col(c).alias(f"_{c}_a") for c in hash_cols],
    )
    b = src.select(
        F.col("id").alias("id_b"),
        *[F.col(c).alias(f"_{c}_b") for c in hash_cols],
    )
    truth = (
        # broadcast the b-side: the eval corpus is bounded by contract
        # (run on a sample), and without the hint the theta join plans
        # as a CartesianProduct whose partition count is |a|x|b| parts
        # (1024 tasks once the payload scan is widened to 32). BNLJ
        # keeps the a-side's parallelism and ships only id+hash rows.
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .filter(
            F.bit_count(
                F.col(f"_{primary}_a").bitwiseXOR(F.col(f"_{primary}_b"))
            )
            <= max_hamming
        )
        .select("id_a", "id_b", F.lit(1).alias("_t"))
    )

    def band_cand(c: str) -> DataFrame:
        banded = src.select(
            "id",
            F.posexplode(band_slice_array(F.col(c), bits, bands)).alias(
                "band_idx", "band_val"
            ),
        )
        ca = banded.select("band_idx", "band_val", F.col("id").alias("id_a"))
        cb = banded.select("band_idx", "band_val", F.col("id").alias("id_b"))
        return (
            ca.join(cb, ["band_idx", "band_val"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                F.lit(1 if c == primary else 0).alias("_first"),
            )
        )

    # one tagged union + pair groupBy replaces per-hash distinct()s:
    # max(_first) marks pairs the primary hash alone would surface.
    # All four counts then fall out of ONE full-outer flag-join pass —
    # the same single-aggregation shape as lsh_recall_eval (see there
    # for why the checkpointed count+semi-join form lost: under AQE a
    # lazy localCheckpoint executes its subtree at build time, so the
    # three checkpoints bought nothing and cost persist passes).
    cand_union = band_cand(hash_cols[0])
    for c in hash_cols[1:]:
        cand_union = cand_union.unionByName(band_cand(c))
    cand = cand_union.groupBy("id_a", "id_b").agg(
        F.max("_first").alias("_first")
    )
    recall = lambda n: (  # noqa: E731
        F.when(F.col("n_true") == 0, F.lit(1.0)).otherwise(
            F.round(F.col(n) / F.col("n_true"), 6)
        )
    )
    return (
        truth.join(cand, ["id_a", "id_b"], "full_outer")
        .agg(
            F.count("_t").alias("n_true"),
            F.count("_first").alias("n_candidates"),
            F.count(
                F.when(
                    F.col("_t").isNotNull() & (F.col("_first") == 1), 1
                )
            ).alias("n_hit_first"),
            F.count(F.when(F.col("_t").isNotNull(), F.col("_first"))).alias(
                "n_hit_union"
            ),
        )
        .select(
            "n_true",
            "n_candidates",
            "n_hit_first",
            recall("n_hit_first").alias("recall_first"),
            "n_hit_union",
            recall("n_hit_union").alias("recall_union"),
        )
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard-threshold set-similarity join via PREFIX
    FILTERING (AllPairs/PPJoin, Xiao et al., WWW'08) — the scale
    alternative to :func:`ngram_jaccard_pairs`'s ``max_df`` cap that
    stays EXACT: no shingle is dropped, yet hot shingles never become
    quadratic join keys.

    The filter: order every document's shingles by global document
    frequency (rarest first; ties on the shingle string so the order
    is total and engine-independent). Two sets with
    ``jaccard >= t`` must overlap in at least ``ceil(t*s)`` elements,
    so each doc only needs to index its first
    ``s - ceil(t*s) + 1`` shingles — any qualifying pair is
    guaranteed to collide on one of those prefix tokens. Candidates
    additionally pass the length filter
    (``t*max(sa,sb) <= min(sa,sb)``), then exact Jaccard is verified
    over the FULL sets.

    Why it scales where the df-cap doesn't have to: prefixes select
    each doc's globally rarest shingles, so prefix posting lists are
    short by construction (a stopword shingle lands in a prefix only
    for near-stopword-only docs), and the candidate join's key
    distribution self-balances as the corpus grows — without
    sacrificing exactness the way ``max_df`` does.

    Output: ``id_a``, ``id_b``, ``jaccard`` (id_a < id_b, jaccard >=
    ``threshold``) — identical to an uncapped
    :func:`ngram_jaccard_pairs` **under the engine's
    fingerprint-identity convention**: shingle identity is the 60-bit
    content fingerprint (:func:`fingerprint64`), not the string, the
    same convention the L1 exact-dedup layer uses at the document
    level. Every join/sort key AND the exact verify's
    ``array_intersect`` therefore run on primitive longs. The cost of
    the convention is the birthday bound on fingerprint collisions: at
    ``N`` distinct shingles the expected number of colliding shingle
    PAIRS is ``N**2 / 2**61`` (~4.3e-2 at N=1e9, ~43 at N=1e10, ~4300
    at N=1e11 — i.e. per-pair jaccard error stays vanishing even at
    100 TB, but it is no longer exactly zero). A collision merges two
    unrelated shingles' identities: their ``df`` counts add (pruning
    only — harmless) and the verify can count one false intersection
    element per colliding pair co-occurring in a candidate pair.
    Deployments that need strict string identity at 1e11+ shingles
    should widen the key (e.g. a 2x64-bit fingerprint struct, or keep
    the string in the final ``array_intersect`` while joining on the
    fingerprint) — the pruning math is identity-agnostic.

    Shape: posting build (one id-partitioned window chain) → df join
    (shuffle on shingle) → per-doc rank window (re-uses the id hash
    partitioning) → prefix self-join (shuffle on shingle, short
    lists) → verification joins keyed on id_a / (id_b, shingle) —
    every stage a hash join on a bounded-skew key.
    """
    # the posting list feeds three consumers (document frequencies,
    # the size+rank window, and the verification arrays), each
    # re-running the posexplode + lead-window build. Measured
    # interleaved on one session, materializing it (localCheckpoint
    # OR DISK_ONLY persist) is NEUTRAL at 1× and REGRESSIVE at 3×+
    # (a MEMORY_AND_DISK copy thrashes the block manager once the
    # row-format postings outgrow storage memory — the 30× sweep ran
    # 1.7× slower), so the rebuilds from the columnar scan stay.
    #
    # Token identity is the 64-bit content FINGERPRINT of the shingle,
    # not the string — the engine's exact-dedup convention (L1
    # fingerprint→min-id uses the same md5-slice at the document
    # level). Every downstream stage gets cheaper for it: the df join,
    # the prefix self-join and the pair groupBy key on 8-byte longs
    # instead of k-word strings, and — the dominant win — the exact
    # verify's array_intersect compares primitive long arrays instead
    # of hashing/comparing strings per element (profiled 94 CPU-s in
    # the verify stage at sf0.1 on strings). The global (df, token)
    # sort order changes with the token representation, but that order
    # only shapes PRUNING (prefix selection + positional/suffix
    # bounds); the exact verify decides the output, so results are
    # identical under the fingerprint-identity convention.
    posts = shingle_posting_list(
        df, text_col, id_col, k, max_df=None, wide=True
    ).select("id", fingerprint64("shingle").alias("shingle"))
    dfreq = posts.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    sized = posts.withColumn(
        "set_size", F.count(F.lit(1)).over(Window.partitionBy("id"))
    )
    ranked = sized.join(dfreq, "shingle").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("id").orderBy("df", "shingle")
        ),
    )
    # REPARTITION_BY_NUM on the join key: the prefix self-join's
    # shuffle is tiny in BYTES (short posting rows) but its candidate
    # fan-out + positional-filter work is the query's dominant
    # compute, and AQE coalesces by bytes — profiled at sf0.1 the
    # joined stage ran on 3 post-coalesce partitions (8.1 s of the
    # 12.3 s wall) with 29 cores idle. An explicit numbered
    # repartition is exempt from AQE coalescing; the count comes from
    # spark.sql.shuffle.partitions (cluster-sized by the caller,
    # core-count locally), not a constant. Both join sides project
    # from the same repartitioned frame, so the second side rides a
    # ReusedExchange instead of a second shuffle.
    from isilon_hadoop_tools_spark.session import shuffle_partition_count

    npart = max(2, shuffle_partition_count(df.sparkSession))
    prefix = (
        ranked.filter(
            F.col("rn")
            <= F.col("set_size")
            - F.ceil(F.lit(threshold) * F.col("set_size"))
            + F.lit(1)
        )
        .select("id", "set_size", "shingle", "df", "rn")
        .repartition(npart, "shingle")
    )
    a = prefix.select(
        F.col("id").alias("id_a"),
        F.col("set_size").alias("size_a"),
        "shingle",
        "df",
        F.col("rn").alias("rn_a"),
    )
    b = prefix.select(
        F.col("id").alias("id_b"),
        F.col("set_size").alias("size_b"),
        "shingle",
        F.col("rn").alias("rn_b"),
    )
    # PPJoin POSITIONAL filter (Xiao et al., WWW'08 §3.2), distributed
    # form: both docs sort their shingles by the same global (df,
    # shingle) total order, so a candidate pair's minimum-order
    # collision IS the pair's first common token overall (any earlier
    # common token would sit at smaller positions in BOTH prefixes and
    # therefore be a smaller collision row). For that token at 1-based
    # positions (i, j), overlap <= 1 + min(size_a - i, size_b - j);
    # jaccard >= t needs overlap >= ceil(t/(1+t) * (size_a + size_b)).
    # The 1e-9 slack only ever UNDER-prunes on a float ceil edge —
    # pruning-only, the exact verify below decides the output.
    coll = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        # length filter — pruning only (exact verify follows), so the
        # float comparison's edge behavior cannot affect the output
        .filter(
            (F.lit(threshold) * F.col("size_a") <= F.col("size_b"))
            & (F.lit(threshold) * F.col("size_b") <= F.col("size_a"))
        )
    )
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("size_a") + F.col("size_b"))
        - F.lit(1e-9)
    )
    # the minimal-(df, shingle) collision within a pair is the row
    # with minimal rn_a (a's rank order IS the (df, shingle) order, and
    # rn_a is unique per collision row), so the positional argmin packs
    # into ONE long min — a plain codegen HashAggregate, no struct
    # ordering path. The same packing's MAX is the LAST collision,
    # feeding the PPJoin+-style suffix bound below.
    pack = F.col("rn_a").cast("long") * F.lit(2147483648) + F.col("rn_b")
    # SUFFIX bound (the PPJoin+ §3.3 idea in its distributed form):
    # both docs order their shingles by the same global (df, shingle)
    # total order, and each PREFIX is a prefix of that order — so the
    # collision set is a PREFIX of the pair's common-token sequence
    # (if a common token is in both prefixes, every earlier common
    # token is too). Hence with C collision rows and the LAST
    # collision at 1-based positions (i_l, j_l), every further common
    # token sits past i_l in a AND past j_l in b:
    #   overlap <= C + min(size_a - i_l, size_b - j_l)
    # — tighter than the first-collision bound whenever C > 1, and
    # pruning-only (the exact verify below decides the output).
    cand = (
        coll.groupBy("id_a", "id_b")
        .agg(
            F.min(pack).alias("_pk"),
            F.max(pack).alias("_pl"),
            F.count(F.lit(1)).alias("_c"),
            F.first("size_a").alias("size_a"),
            F.first("size_b").alias("size_b"),
        )
        .filter(
            (
                F.lit(1)
                + F.least(
                    F.col("size_a") - F.expr("_pk div 2147483648"),
                    F.col("size_b") - F.pmod("_pk", F.lit(2147483648)),
                )
                >= alpha
            )
            & (
                F.col("_c")
                + F.least(
                    F.col("size_a") - F.expr("_pl div 2147483648"),
                    F.col("size_b") - F.pmod("_pl", F.lit(2147483648)),
                )
                >= alpha
            )
        )
        .select("id_a", "id_b", "size_a", "size_b")
    )
    # verification: per-doc shingle ARRAYS + one array_intersect per
    # candidate pair. The earlier exploded form (cand ⋈ posts on id_a,
    # then ⋈ on (id_b, shingle), then a pair-keyed count) shuffled and
    # re-aggregated |cand| · avg_set_size rows — ~390M at 10x sf0.1,
    # the measured 59x-wall-at-30x superlinear stage of the r13 sweep;
    # the array form moves the same bytes in |cand| rows through two
    # hash joins and needs NO pair-keyed aggregation at all.
    sets = posts.groupBy("id").agg(F.collect_list("shingle").alias("toks"))
    inter = (
        cand.join(
            sets.select(F.col("id").alias("id_a"), F.col("toks").alias("ta")),
            "id_a",
        )
        .join(
            sets.select(F.col("id").alias("id_b"), F.col("toks").alias("tb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "size_a",
            "size_b",
            F.size(F.array_intersect("ta", "tb")).alias("n_inter"),
        )
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_jaccard_eval(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    k: int = 3,
) -> DataFrame:
    """Estimated-vs-exact Jaccard on the LSH candidate pairs — the
    accuracy readout for the production decision "skip the exact
    shingle verify and trust the signature estimate": the MinHash
    estimator ``Ĵ = (agreeing seeds) / num_hashes`` (an unbiased
    Bernoulli mean, sd = sqrt(J(1-J)/H)) next to the true shingle
    Jaccard, per candidate pair.

    Shape: candidates come from the collapsed band join (bounded by
    the answer size); the signature agreement is two broadcast-able
    joins of the candidate list onto the (id, seed, minhash) table
    keyed by id+seed; the exact side computes |A∩B| ONLY for
    candidate ids — the posting list is left-semi-filtered to ids
    that appear in any pair before the shingle equi-join, so the
    quadratic exact verify never touches non-candidate documents.

    Output: ``id_a``, ``id_b``, ``n_agree``, ``est_jaccard``,
    ``exact_jaccard``, ``abs_err`` (all 6 dp).
    """
    cands = minhash_lsh_pairs(
        df, text_col, id_col, num_hashes, bands, k
    ).select("id_a", "id_b").localCheckpoint(eager=False)
    # sigs feeds BOTH est-side joins and the semi-filtered posting
    # list feeds three consumers (sizes + both inter sides): without
    # materialization each consumer re-runs the tokenize + signature
    # (resp. posting-window) build — profiled as five concurrent ~1 s
    # 3-task jobs recomputing near-identical subtrees. Both are
    # bounded intermediates (n×num_hashes int rows; candidate docs'
    # postings only).
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, k
    ).localCheckpoint(eager=False)
    est = (
        cands.join(
            sigs.select(
                F.col("id").alias("id_a"), "seed",
                F.col("minhash").alias("mh_a"),
            ),
            "id_a",
        )
        .join(
            sigs.select(
                F.col("id").alias("id_b"), "seed",
                F.col("minhash").alias("mh_b"),
            ),
            ["id_b", "seed"],
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(
                (F.col("mh_a") == F.col("mh_b")).cast("long")
            ).alias("n_agree")
        )
    )
    cand_ids = (
        cands.select(F.col("id_a").alias("id"))
        .unionByName(cands.select(F.col("id_b").alias("id")))
        .distinct()
    )
    posts = (
        shingle_posting_list(df, text_col, id_col, k)
        .join(cand_ids, "id", "left_semi")
        .localCheckpoint(eager=False)
    )
    sizes = posts.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        cands.join(
            posts.select(F.col("id").alias("id_a"), "shingle"), "id_a"
        )
        .join(
            posts.select(F.col("id").alias("id_b"), "shingle"),
            ["id_b", "shingle"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        est.join(inter, ["id_a", "id_b"], "left")
        .join(sizes.withColumnRenamed("id", "id_a")
                   .withColumnRenamed("sz", "sa"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b")
                   .withColumnRenamed("sz", "sb"), "id_b")
    )
    ni = F.coalesce(F.col("n_inter"), F.lit(0))
    exact = ni.cast("double") / (F.col("sa") + F.col("sb") - ni)
    est_j = F.col("n_agree").cast("double") / num_hashes
    return out.select(
        "id_a",
        "id_b",
        "n_agree",
        F.round(est_j, 6).alias("est_jaccard"),
        F.round(exact, 6).alias("exact_jaccard"),
        F.round(F.abs(est_j - exact), 6).alias("abs_err"),
    )


def lsh_plan(spark, n_hashes: int = 16, grid_steps: int = 20):
    """MinHash-LSH parameter planner — the sizing table an operator
    consults BEFORE running banded LSH at scale: for every
    factorization ``bands x rows = n_hashes``, the S-curve
    ``P(candidate | jaccard s) = 1 − (1 − s^r)^b`` over an s-grid,
    plus each factorization's 50%-collision threshold
    ``t50 = (1 − 0.5^(1/b))^(1/r)``. Choosing (b, r) IS choosing the
    similarity threshold; this makes the trade explicit (more bands →
    lower threshold, more candidates; more rows → sharper curve).

    The table is parameter-scale (factorizations × grid), so it is
    computed driver-side in Python floats — the same libm the DuckDB
    twin calls — and rounded with the engine's half-up convention
    (``floor(x·1e6 + 0.5)/1e6``; Python's bare ``round`` is
    half-to-even and would diverge). Returns a DataFrame so it
    composes with the rest of the suite.

    Output: ``bands``, ``rows_per_band``, ``s`` (grid point, 6 dp),
    ``p_candidate`` (6 dp), ``t50`` (6 dp, repeated per
    factorization).
    """
    import math

    def r6(x: float) -> float:
        return math.floor(x * 1_000_000 + 0.5) / 1_000_000

    rows = []
    for b in range(1, n_hashes + 1):
        if n_hashes % b:
            continue
        r = n_hashes // b
        t50 = (1.0 - 0.5 ** (1.0 / b)) ** (1.0 / r)
        for i in range(1, grid_steps):
            s = i / grid_steps
            p = 1.0 - (1.0 - s**r) ** b
            rows.append((b, r, r6(s), r6(p), r6(t50)))
    return local_df(
        spark, rows,
        "bands int, rows_per_band int, s double, p_candidate double,"
        " t50 double",
    )
