"""Streaming near-dup maintenance (§2.9 x L4/L6): SimHash hamming
pairs and MinHash-LSH candidates over a continuously-crawled corpus.

The production shape: each micro-batch of new documents is
fingerprinted, matched against a persisted band index, and the
newly-created near-dup pairs are appended — without ever re-running
the corpus-wide band self-join. Two crash-safe folds carry the
member-based appliers. The band-index fold, ``_band_index_apply``,
has three thin callers:
:func:`simhash_index_apply_batch` (integer fingerprints, bit-slice
bands, hamming filter), :func:`minhash_index_apply_batch`
(signature strings, band-key equality, agreeing-band counts) and
:func:`tagged_index_apply_batch` (per-modality SimHash buckets in
one index).

State (``ParquetState`` tables; Delta/Iceberg MERGE on a real
deployment):

- ``fp_members`` (id, fp): one row per seen document.
- ``band_postings`` (band_idx, band_val, fp): the band index over
  DISTINCT fingerprints only — the same representative collapse as
  the batch ``hamming_band_pairs``, so a boilerplate document
  duplicated 10^6 times holds ONE posting per band and batch joins
  stay O(batch x distinct-per-bucket).
- ``near_pairs`` (id_a, id_b, hamming): the accumulated answer.

Per batch (all bounded joins, no corpus self-join):

1. anti-join the batch's fingerprints against ``fp_members`` — only
   genuinely NEW ids proceed (a replayed batch is a no-op, which is
   what makes the whole operator idempotent without a checkpoint);
2. band the batch's distinct fingerprints and equi-join them against
   the upserted postings — pigeonhole-complete candidates (every
   pair within ``max_hamming < bands`` agrees on >= 1 slice);
3. expand qualifying fingerprint pairs to (new id, any member) pairs
   and merge them into ``near_pairs``.

Write order is crash-safe: pairs, then postings, then members — a
batch is "committed" only once the members land, so a crash between
writes replays the batch and the anti-join/merge steps re-converge
to the same state. The pair table merges via read-modify-swap (the
dedup in the merge is the idempotence backstop); the two INDEX
tables append only their delta, so per-batch write work is O(batch)
— with swap-on-write the total write volume over a stream of B
batches would be O(corpus · B), quadratic in stream length. A crash
mid-append can leave a partial delta; the anti-joins re-add exactly
the missing rows on replay, and candidate generation counts DISTINCT
fingerprint pairs / bands so a re-added posting row can never
double-count (partial-append simulation in the tests).

Batch-equivalence contract (the oracle): after draining any prefix of
the stream, ``near_pairs`` equals the batch
``simhash_near_pairs`` over the same prefix — every qualifying pair
(x, y) is detected when the later of x, y arrives, because by then
the earlier one's fingerprint is in the postings index.

The touched-group fold, ``_touched_apply``, carries the snapshot
appliers whose decisions a later row can DISPLACE:
:func:`domain_caps_apply_batch` (lowest ``cap`` ids per domain),
:func:`url_keep_one_apply_batch` (lowest id per canonical URL) and
:func:`compaction_apply_batch` (size-ordered bins per partition).
Per batch it anti-joins the members, recomputes the decisions of
the groups the batch touched from the logged rows plus the new ones,
and swaps them into the decision snapshot. Members again land last
(decisions, then log, then members), so a crash replays the batch.
The suffix and paragraph appliers follow the same discipline, keyed
by their own touched sets.

Every applier runs each step's jobs under a ``"<applier>: <step>"``
job description, and the caller's description is restored on exit.
Callers drain a stream through an applier with
:func:`~isilon_hadoop_tools_spark.streaming.events.drain`;
:func:`simhash_stream_into_state` is the one ready-made drain.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from isilon_hadoop_tools_spark.operators.dedup import (
    band_slice_array,
    minhash_sig_keys,
    simhash,
)
from isilon_hadoop_tools_spark.plans.state import ParquetState
from isilon_hadoop_tools_spark.session import shuffle_partition_count
from isilon_hadoop_tools_spark.streaming.events import drain

MEMBERS_SCHEMA = "id LONG, fp LONG"
POSTINGS_SCHEMA = "band_idx INT, band_val LONG, fp LONG"
PAIRS_SCHEMA = "id_a LONG, id_b LONG, hamming INT"

SIG_MEMBERS_SCHEMA = "id LONG, sig_key STRING"
SIG_POSTINGS_SCHEMA = "band INT, band_key STRING, sig_key STRING"
SIG_PAIRS_SCHEMA = "id_a LONG, id_b LONG, n_bands LONG"


def _new_rows(
    batch: DataFrame, members: DataFrame, keys: list
) -> DataFrame | None:
    """The rows of ``batch`` whose ``keys`` are not in ``members`` yet,
    eagerly checkpointed — batch-sized and consumed by several later
    steps, so the upstream work must not recompute per consumer — or
    ``None`` when the batch is empty or already folded in. This
    anti-join is what makes every member-based applier a no-op on a
    replayed batch, with or without a stream checkpoint."""
    new = batch.join(members.select(*keys), keys, "left_anti").localCheckpoint(
        eager=True
    )
    return new if new.take(1) else None


@contextmanager
def _job_steps(spark, label: str):
    """Label one applier call's jobs: yields ``step(name)``, which sets
    the thread's job description to ``"{label}: {name}"`` for the jobs
    that follow; the caller's description is restored on any exit."""
    sc = spark.sparkContext
    prior = sc.getLocalProperty("spark.job.description")
    try:
        yield lambda name: sc.setJobDescription(f"{label}: {name}")
    finally:
        sc.setJobDescription(prior)


def _hamming_within(bound):
    """Band-index candidate scorer: DISTINCT fingerprint pairs (a
    re-added posting row must not count twice) whose hamming distance
    is at most ``bound`` — a literal or a per-row Column."""

    def score(joined: DataFrame, keys: list) -> DataFrame:
        return (
            joined.select(*keys)
            .distinct()
            .withColumn(
                "hamming",
                F.bit_count(F.col("_d").bitwiseXOR(F.col("_o"))).cast("int"),
            )
            .filter(F.col("hamming") <= bound)
        )

    return score


def _agreeing_bands(joined: DataFrame, keys: list) -> DataFrame:
    """Band-index candidate scorer for band KEYS: the number of
    DISTINCT agreeing bands per signature pair — raw join rows would
    inflate it when a partial-append crash left duplicate postings."""
    return joined.groupBy(*keys).agg(F.countDistinct("band").alias("n_bands"))


def _band_index_apply(
    delta: DataFrame,
    state: ParquetState,
    label: str,
    tables: tuple,
    part: list,
    fp: str,
    band_cols: tuple,
    band_arr,
    score,
    merge,
) -> None:
    """The one crash-safe band-index fold behind the SimHash, MinHash
    and tagged appliers (see the module docstring for the design).

    ``delta`` holds the batch's ``(*part, id, fp)`` rows; ``tables``
    is the ``(name, schema)`` triple of the members, postings and
    pairs tables; ``part`` the keys every bucket and pair is scoped
    by (``[]`` or ``["modality"]``); ``band_arr`` the band array over
    the ``fp`` column whose ``posexplode`` yields ``band_cols``;
    ``score(joined, keys)`` reduces band-join rows to ``keys`` plus
    one score column, which ``merge`` (``F.min``/``F.max``) folds per
    pair into the persisted answer. Every step's jobs carry a
    ``label`` description; the caller's description is restored on
    any exit."""
    (mem_t, mem_s), (post_t, post_s), (pair_t, pair_s) = tables
    spark = delta.sparkSession
    # width pin for the delta checkpoint AND the pair merge: without
    # it the checkpoint materializes at the anti-join's AQE-coalesced
    # width (1 partition for a micro-batch) and the band fan-out +
    # candidate stage downstream runs single-task (profiled 0.8 →
    # 1.9 → 2.3 s across three batches on the unified twin), and
    # the merge aggregation collapses to one task the same way
    npart = max(2, shuffle_partition_count(spark))
    keys = part + [fp]
    with _job_steps(spark, label) as step:
        step("new members")
        members = state.read(mem_t, mem_s)
        new_members = _new_rows(delta, members, part + ["id"])
        if new_members is None:
            return
        postings = state.read(post_t, post_s)
        step("delta checkpoint")
        # the keyed numbered repartition REPLACES the distinct's
        # exchange (same required distribution, AQE-exempt)
        delta_fps = (
            new_members.select(*keys)
            .repartition(npart, *keys)
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_fps = delta_fps.join(
            postings.filter(F.col(band_cols[0]) == 0).select(*keys),
            keys,
            "left_anti",
        )
        step("postings checkpoint")
        new_postings = (
            new_fps.select(*part, F.posexplode(band_arr).alias(*band_cols), fp)
            .select(*part, F.col(band_cols[0]).cast("int"), band_cols[1], fp)
            # eager: O(batch) rows, consumed by the candidate join AND
            # the postings append. Checkpointing the whole postings
            # union instead was an O(index) materialization per batch
            # that grew with the stream (profiled 0.7 → 1.4 → 2.4 s
            # across three batches); the union stays lazy and the
            # index side streams straight from its parquet scan.
            .localCheckpoint(eager=True)
        )
        all_postings = postings.unionByName(new_postings)
        # pigeonhole candidates: the batch's distinct fingerprints x
        # the full index on (band, band value) — includes fp == fp
        # (identical fingerprints agree on every band)
        joined = (
            delta_fps.select(
                *part,
                F.col(fp).alias("_d"),
                F.posexplode(band_arr).alias(*band_cols),
            )
            .join(all_postings, part + list(band_cols))
            .select(*part, "_d", F.col(fp).alias("_o"), band_cols[0])
        )
        cand = score(joined, part + ["_d", "_o"])
        score_col = cand.columns[-1]
        merged_members = members.unionByName(new_members)
        pairs = (
            cand.join(
                new_members.select(
                    *part, F.col(fp).alias("_d"), F.col("id").alias("_ida")
                ),
                part + ["_d"],
            )
            .join(
                merged_members.select(
                    *part, F.col(fp).alias("_o"), F.col("id").alias("_idb")
                ),
                part + ["_o"],
            )
            .select(
                *part,
                F.least("_ida", "_idb").alias("id_a"),
                F.greatest("_ida", "_idb").alias("id_b"),
                score_col,
            )
            # drops self-pairs; a both-new pair arrives once per
            # direction with the SAME symmetric score, so the merge
            # groupBy collapses it — a distinct() here was a second
            # full exchange of the pair rows for nothing
            .filter(F.col("id_a") < F.col("id_b"))
        )
        current = state.read(pair_t, pair_s)
        step("pairs merge write")
        state.write(
            pair_t,
            current.unionByName(pairs)
            .groupBy(*part, "id_a", "id_b")
            .agg(merge(score_col).alias(score_col)),
            partitions=npart,
        )
        # index tables APPEND their delta — O(batch) writes per batch,
        # not an O(corpus) rewrite (swap-on-write would make total
        # write work quadratic in the stream length). Members land
        # last: they are the batch's commit point.
        step("postings append")
        state.append(post_t, new_postings)
        step("members append")
        state.append(mem_t, new_members)


def _touched_apply(
    batch: DataFrame,
    state: ParquetState,
    label: str,
    tables: tuple,
    key: list,
    group: str,
    decide,
) -> None:
    """The one crash-safe touched-group fold behind the domain-cap,
    keep-one-URL and compaction appliers (see the module docstring).

    ``batch`` holds the batch's projected rows, unique on ``key``;
    ``tables`` is the ``(name, schema)`` triple of the members, log
    and decision tables. Decisions recompute ONLY for the ``group``
    values present in the batch — an untouched group's rows are
    unchanged, so its decisions are already exact: ``decide(cand)``
    maps every logged or new row of the touched groups to their
    decision rows, which replace the touched groups' snapshot rows.
    Write order: decisions (swap) → log (append, anti-joined, so a
    partial append re-adds only the missing rows) → members (append,
    the commit point); the log read excludes the replaying keys so a
    partial append cannot double-count a row into its group. Every
    step's jobs carry a ``label`` description; the caller's
    description is restored on any exit."""
    (mem_t, mem_s), (log_t, log_s), (out_t, out_s) = tables
    with _job_steps(batch.sparkSession, label) as step:
        step("new members")
        new = _new_rows(batch, state.read(mem_t, mem_s), key)
        if new is None:
            return  # replayed or empty batch
        new_keys = new.select(*key)
        log_raw = state.read(log_t, log_s)
        old = log_raw.join(new_keys, key, "left_anti")
        step("touched checkpoint")
        touched = new.select(group).distinct().localCheckpoint(eager=True)
        step("decisions swap")
        decided = decide(old.join(touched, group, "left_semi").unionByName(new))
        current = state.read(out_t, out_s)
        state.write(
            out_t, current.join(touched, group, "left_anti").unionByName(decided)
        )
        step("log append")
        state.append(log_t, new.join(log_raw.select(*key), key, "left_anti"))
        step("members append")
        state.append(mem_t, new_keys)


def simhash_index_apply_batch(
    batch: DataFrame,
    state: ParquetState,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    bands: int = 4,
) -> None:
    """Fold one micro-batch of documents into the band index and
    append the newly-detected near-dup pairs (see module docstring)."""
    if max_hamming >= bands:
        raise ValueError("completeness requires max_hamming < bands")
    _band_index_apply(
        simhash(batch, text_col, id_col, bits).select(
            "id", F.col("simhash").alias("fp")
        ),
        state,
        "simhash_index",
        (
            ("fp_members", MEMBERS_SCHEMA),
            ("band_postings", POSTINGS_SCHEMA),
            ("near_pairs", PAIRS_SCHEMA),
        ),
        part=[],
        fp="fp",
        band_cols=("band_idx", "band_val"),
        band_arr=band_slice_array(F.col("fp"), bits, bands),
        score=_hamming_within(max_hamming),
        merge=F.min,
    )


def simhash_stream_into_state(
    docs: DataFrame,
    state: ParquetState,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    bands: int = 4,
    checkpoint: str | None = None,
) -> None:
    """Drain a document stream through
    :func:`simhash_index_apply_batch` via ``foreachBatch`` with
    ``trigger(availableNow)`` — the streaming twin of the batch
    ``simhash_near_pairs``, replay-proof with or without a
    checkpoint (the members anti-join makes every batch idempotent)."""
    # the applier is looked up at batch time, not bound here, so a
    # rebinding of the module attribute (tracing) sees every batch
    drain(
        docs,
        lambda batch, _batch_id: simhash_index_apply_batch(
            batch,
            state,
            text_col=text_col,
            id_col=id_col,
            bits=bits,
            max_hamming=max_hamming,
            bands=bands,
        ),
        checkpoint,
    )


def minhash_index_apply_batch(
    batch: DataFrame,
    state: ParquetState,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> None:
    """The MinHash-LSH twin of :func:`simhash_index_apply_batch`:
    fold one micro-batch into a persisted band-key index and append
    the newly-created LSH candidate pairs ``(id_a, id_b, n_bands)``.

    Identical state design, with the signature string standing in for
    the integer fingerprint: ``sig_members`` (id, sig_key),
    ``sig_postings`` (band, band_key, sig_key — DISTINCT signatures
    only, the rep-collapse as persisted state), ``lsh_pairs``. The
    members anti-join makes replays no-ops; the pairs→postings→
    members write order makes a mid-batch crash replayable; after any
    prefix the pair state equals the batch
    :func:`~isilon_hadoop_tools_spark.operators.dedup.minhash_lsh_pairs`
    over that prefix (candidate (x, y) is found when the later of
    x, y arrives — the earlier signature is in the postings by then,
    and agreeing bands join key-for-key).
    """
    _band_index_apply(
        minhash_sig_keys(batch, text_col, id_col, num_hashes, bands, k),
        state,
        "minhash_index",
        (
            ("sig_members", SIG_MEMBERS_SCHEMA),
            ("sig_postings", SIG_POSTINGS_SCHEMA),
            ("lsh_pairs", SIG_PAIRS_SCHEMA),
        ),
        part=[],
        fp="sig_key",
        band_cols=("band", "band_key"),
        band_arr=F.split("sig_key", r"\|"),
        score=_agreeing_bands,
        merge=F.max,
    )


IVF_MEMBERS_SCHEMA = "vid LONG"
IVF_POSTINGS_SCHEMA = "list_id INT, vid LONG, dist LONG"


def ivf_index_apply_batch(
    batch: DataFrame,
    state: ParquetState,
    centroids: list,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
) -> None:
    """Fold one micro-batch of vectors into the IVF inverted lists —
    the streaming half of the L12/L44b index for a continuously
    embedded corpus: the coarse codebook is PRE-TRAINED offline (the
    production reality — codebooks retrain on samples, the index
    ingests continuously) and each batch's new vectors are assigned
    by the same exact-integer argmin as the batch operator, so the
    final postings equal a one-pass batch assignment.

    Same crash/replay discipline as the near-dup indexes: members
    anti-join makes a replayed batch a no-op; postings append is
    guarded by its own vid anti-join so a crash between the postings
    and members appends cannot duplicate rows; appends are O(batch),
    never an index rewrite."""
    from isilon_hadoop_tools_spark.operators.similarity import (
        kmeans_assign,
        quantize_vectors,
    )

    with _job_steps(batch.sparkSession, "ivf_index") as step:
        step("new members")
        members = state.read("ivf_members", IVF_MEMBERS_SCHEMA)
        new = _new_rows(
            quantize_vectors(batch, vec_col, id_col, scale), members, ["vid"]
        )
        if new is None:
            return  # replayed or empty batch
        assign = kmeans_assign(new, centroids).select(
            F.col("list_id").cast("int"), "vid", "dist"
        )
        postings = state.read("ivf_postings", IVF_POSTINGS_SCHEMA)
        new_postings = assign.join(postings.select("vid"), "vid", "left_anti")
        step("postings append")
        state.append("ivf_postings", new_postings)
        step("members append")
        state.append("ivf_members", new.select("vid"))


TAGGED_MEMBERS_SCHEMA = "modality STRING, id LONG, fp LONG"
TAGGED_POSTINGS_SCHEMA = (
    "modality STRING, band_idx INT, band_val LONG, fp LONG"
)
TAGGED_PAIRS_SCHEMA = "modality STRING, id_a LONG, id_b LONG, hamming INT"


def tagged_index_apply_batch(
    fps: DataFrame,
    state: ParquetState,
    params: dict,
) -> None:
    """Fold one micro-batch of TAGGED fingerprints — ``(modality, id,
    fhash)`` rows from any mix of text/image/audio/video — into ONE
    unified band index (the streaming twin of the batch
    ``tagged_hamming_band_pairs``, completing L16u for the
    continuous-crawl case): one postings table, one members table,
    one pairs table, with the modality inside every key so buckets
    never mix and each modality keeps its own ``params[(bits,
    max_hamming, bands)]`` inside the shared maintenance pipeline.

    Same crash/replay discipline as the per-modality indexes
    (members anti-join ⇒ replayed batches are no-ops; pairs →
    postings → members write order; appends are O(batch), never an
    index rewrite) — one discipline now maintains the whole
    multimodal corpus instead of four copies of it.
    """
    from isilon_hadoop_tools_spark.operators.dedup import (
        tagged_band_slice_array,
    )

    for m, (_bits, max_h, bands) in params.items():
        if max_h >= bands:
            raise ValueError(
                f"completeness requires max_hamming < bands for {m!r}"
            )
    max_h_expr = None
    for m, (_bits, max_h, _bands) in sorted(params.items()):
        cond = F.col("modality") == m
        max_h_expr = (
            F.when(cond, F.lit(max_h))
            if max_h_expr is None
            else max_h_expr.when(cond, F.lit(max_h))
        )
    # NULL modality tags are pruned EXPLICITLY at ingest (mirrors the
    # guard in tagged_band_slice_array, which accepts NULL tags and
    # yields a NULL band array): the batch band join infers an
    # IS NOT NULL filter on its keys, but this posting build has no
    # such join, and an implicit dependence on optimizer inference is
    # exactly what let a NULL-tag row previously fail whole batches.
    _band_index_apply(
        fps.filter(F.col("modality").isNotNull()).select(
            "modality", "id", F.col("fhash").alias("fp")
        ),
        state,
        "tagged_index",
        (
            ("tfp_members", TAGGED_MEMBERS_SCHEMA),
            ("tband_postings", TAGGED_POSTINGS_SCHEMA),
            ("tnear_pairs", TAGGED_PAIRS_SCHEMA),
        ),
        part=["modality"],
        fp="fp",
        band_cols=("band_idx", "band_val"),
        band_arr=tagged_band_slice_array(F.col("fp"), F.col("modality"), params),
        score=_hamming_within(max_h_expr),
        merge=F.min,
    )


SFX_MEMBERS_SCHEMA = "id LONG"
SFX_DOCS_SCHEMA = "id LONG, text STRING"
SFX_GRAMS_SCHEMA = "id LONG, pos LONG, gh LONG"
SFX_SPANS_SCHEMA = (
    "id LONG, start_tok LONG, end_tok LONG, span_len LONG,"
    " max_dup_len LONG, n_positions LONG"
)


def suffix_index_apply_batch(
    docs: DataFrame,
    state: ParquetState,
    min_len: int = 10,
    max_match_len: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Fold one micro-batch of documents into the EXACT-substring
    (suffix) dedup index — the streaming twin of the batch
    ``suffix_dup_spans`` (L29d), completing the continuous-crawl
    story for the last dedup family that only had a batch form.

    State tables:

    - ``sfx_members`` (id): seen docs — the replay no-op anti-join.
    - ``sfx_docs`` (id, text): the corpus store recomputes read from
      (a real deployment points this at the lakehouse table).
    - ``sfx_grams`` (id, pos, gh): ALL candidate-gram postings —
      which (doc, pos) carry which ``min_len``-gram fingerprint.
    - ``sfx_spans``: the current exact spans per doc (the batch
      operator's answer over everything seen so far).

    Per batch, spans recompute ONLY for TOUCHED documents, exactly:

    1. touched grams = the batch's grams whose corpus-wide count is
       now >= 2 (counted only for the batch's gh values — O(batch)
       index probes, never a full postings scan);
    2. touched docs = every doc holding a touched gram. A new
       partner for any position p shares p's leading gram, so a
       doc with NO touched gram cannot have changed dup_lens — its
       stored spans stay exact;
    3. the recompute candidate set = every position (ANY doc) whose
       gram is a duplicated gram OF A TOUCHED DOC — partner-closed
       for touched docs' positions (a max-LCP partner shares the
       position's leading gram, which is a duplicated touched-doc
       gram), so ``_suffix_spans_from``'s subset adjacency is exact
       for them; untouched partner docs contribute suffixes but
       their own (possibly subset-underestimated) spans are NOT
       emitted;
    4. spans for touched docs are swapped in; untouched rows carry
       over.

    Crash/replay discipline (the family contract): write order is
    spans (swap) -> gram postings (append, anti-joined so a partial
    append replays to exactly the missing rows — duplicate posting
    rows would corrupt the >= 2 counts) -> docs (append, anti-joined)
    -> members (append, the commit point). A replayed batch anti-joins
    to empty and is a no-op.
    """
    from isilon_hadoop_tools_spark.functions.text import tokens
    from isilon_hadoop_tools_spark.operators.corpus import (
        _suffix_grams,
        _suffix_spans_from,
    )

    with _job_steps(docs.sparkSession, "suffix_index") as step:
        step("new members")
        batch = docs.select(
            F.col(id_col).alias("id"), F.col(text_col).alias("text")
        )
        new_docs = _new_rows(
            batch, state.read("sfx_members", SFX_MEMBERS_SCHEMA), ["id"]
        )
        if new_docs is None:
            return  # replayed or empty batch
        step("grams checkpoint")
        _toks_new, grams_new = _suffix_grams(new_docs, "text", "id", min_len)
        grams_new = grams_new.localCheckpoint(eager=True)
        # a crash AFTER the postings/docs appends but BEFORE the members
        # append replays this batch with its rows partially persisted:
        # excluding the replaying ids from the "old" side (an O(batch)
        # anti-join) and recomputing them fresh prevents double-counted
        # gram occurrences (which would fabricate duplicates) and
        # double-unioned texts; the storage appends below anti-join too,
        # so the tables themselves stay duplicate-free
        new_ids = new_docs.select("id")
        postings_raw = state.read("sfx_grams", SFX_GRAMS_SCHEMA)
        docs_raw = state.read("sfx_docs", SFX_DOCS_SCHEMA)
        postings = postings_raw.join(new_ids, "id", "left_anti")
        old_docs = docs_raw.join(new_ids, "id", "left_anti")
        all_grams = postings.unionByName(grams_new).localCheckpoint(eager=False)
        touched_gh = grams_new.select("gh").distinct()
        dup_touched = (
            all_grams.join(touched_gh, "gh")
            .groupBy("gh")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") >= 2)
            .select("gh")
        )
        step("touched docs checkpoint")
        touched_docs = (
            all_grams.join(dup_touched, "gh")
            .select("id")
            .distinct()
            .localCheckpoint(eager=True)
        )
        tg = all_grams.join(touched_docs, "id", "left_semi").select("gh").distinct()
        relevant = (
            all_grams.join(tg, "gh")
            .groupBy("gh")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") >= 2)
            .select("gh")
        )
        cands = all_grams.join(relevant, "gh", "left_semi").select("id", "pos")
        all_texts = old_docs.unionByName(new_docs)
        toks = (
            all_texts.join(cands.select("id").distinct(), "id", "left_semi")
            .select("id", tokens("text").alias("_arr"))
            .localCheckpoint(eager=False)
        )
        spans_new = _suffix_spans_from(cands, toks, min_len, max_match_len).join(
            touched_docs, "id", "left_semi"
        )
        step("spans swap")
        current = state.read("sfx_spans", SFX_SPANS_SCHEMA)
        merged = current.join(touched_docs, "id", "left_anti").unionByName(
            spans_new.select(
                "id", "start_tok", "end_tok", "span_len",
                "max_dup_len", "n_positions",
            )
        )
        state.write("sfx_spans", merged)
        # appends anti-join the RAW reads (not the replay-cleaned views)
        # so a partially-appended prior attempt re-adds only missing rows
        step("grams append")
        state.append(
            "sfx_grams",
            grams_new.join(postings_raw, ["id", "pos", "gh"], "left_anti"),
        )
        step("docs append")
        state.append(
            "sfx_docs", new_docs.join(docs_raw.select("id"), "id", "left_anti")
        )
        step("members append")
        state.append("sfx_members", new_docs.select("id"))


DC_MEMBERS_SCHEMA = "id LONG"
DC_DOCS_SCHEMA = "id LONG, domain STRING"
DC_KEPT_SCHEMA = "id LONG, domain STRING, kept BOOLEAN"


def domain_caps_apply_batch(
    docs: DataFrame,
    state: ParquetState,
    cap: int,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> None:
    """Fold one micro-batch of documents into the per-domain
    frequency-cap decision table — the streaming twin of the batch
    ``urls.domain_caps`` (L64), keeping the BATCH semantics exactly:
    kept = the lowest ``cap`` ids per registrable domain over
    everything seen so far. That means a newly-arrived LOWER id can
    displace a previously-kept doc — decisions for touched domains
    are REPLACED per batch, not appended; downstream consumers read
    the decision table as a snapshot (the deterministic-by-id cap is
    what makes replays and backfills converge to one answer
    regardless of arrival order).

    Per batch, decisions recompute ONLY for TOUCHED domains (domains
    present in the batch — untouched domains' counts and id sets are
    unchanged, so their decisions are already exact); the recompute
    itself is the batch operator's shape (under-cap domains bypass
    the rank window).

    State: ``dc_members`` (replay no-op anti-join), ``dc_docs``
    (id, domain), ``dc_kept`` (the decision snapshot), folded by
    :func:`_touched_apply` (write order and replay discipline).
    """
    from isilon_hadoop_tools_spark.operators.urls import (
        host_expr,
        registrable_domain_expr,
    )

    def decide(cand: DataFrame) -> DataFrame:
        cand = cand.localCheckpoint(eager=False)
        counts = cand.groupBy("domain").agg(F.count(F.lit(1)).alias("_n"))
        heavy = counts.filter(F.col("_n") > cap).select("domain")
        light = cand.join(heavy, "domain", "left_anti").select(
            "id", "domain", F.lit(True).alias("kept")
        )
        w = Window.partitionBy("domain").orderBy("id")
        ranked = (
            cand.join(heavy, "domain", "left_semi")
            .withColumn("_rk", F.row_number().over(w))
            .select("id", "domain", (F.col("_rk") <= cap).alias("kept"))
        )
        return light.unionByName(ranked)

    _touched_apply(
        docs.select(
            F.col(id_col).alias("id"),
            registrable_domain_expr(host_expr(url_col)).alias("domain"),
        ),
        state,
        "domain_caps",
        (
            ("dc_members", DC_MEMBERS_SCHEMA),
            ("dc_docs", DC_DOCS_SCHEMA),
            ("dc_kept", DC_KEPT_SCHEMA),
        ),
        key=["id"],
        group="domain",
        decide=decide,
    )


UK_MEMBERS_SCHEMA = "id LONG"
UK_DOCS_SCHEMA = "id LONG, canon_url STRING"
UK_KEPT_SCHEMA = "id LONG, canon_url STRING, n_dups LONG, kept BOOLEAN"


def url_keep_one_apply_batch(
    docs: DataFrame,
    state: ParquetState,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> None:
    """Fold one micro-batch into the canonical-URL keep-one decision
    table — the streaming twin of ``urls.url_keep_one`` (L63b) with
    the same BATCH semantics as the domain-cap maintainer: kept = the
    lowest id per canonical-URL group over everything seen, so a
    later-arriving lower id displaces the previous representative and
    ``n_dups`` grows as the group does. Decisions recompute ONLY for
    touched canonical groups (groups present in the batch); untouched
    groups' snapshots are already exact.

    State: ``uk_members`` / ``uk_docs`` / ``uk_kept``, folded by
    :func:`_touched_apply`.
    """
    from isilon_hadoop_tools_spark.operators.urls import canonical_url_expr

    def decide(cand: DataFrame) -> DataFrame:
        g = cand.groupBy("canon_url").agg(
            F.min("id").alias("_keep_id"), F.count(F.lit(1)).alias("n_dups")
        )
        return cand.join(g, "canon_url").select(
            "id",
            "canon_url",
            "n_dups",
            (F.col("id") == F.col("_keep_id")).alias("kept"),
        )

    _touched_apply(
        docs.select(
            F.col(id_col).alias("id"),
            canonical_url_expr(url_col).alias("canon_url"),
        ),
        state,
        "url_keep_one",
        (
            ("uk_members", UK_MEMBERS_SCHEMA),
            ("uk_docs", UK_DOCS_SCHEMA),
            ("uk_kept", UK_KEPT_SCHEMA),
        ),
        key=["id"],
        group="canon_url",
        decide=decide,
    )


PP_MEMBERS_SCHEMA = "id LONG"
PP_PARAS_SCHEMA = "id LONG, pos INT, para STRING"
PP_FIRST_SCHEMA = "para STRING, fid LONG, fpos INT"
PP_KEPT_SCHEMA = "id LONG, n_paras LONG, n_kept LONG, text_clean STRING"


def paragraph_index_apply_batch(
    docs: DataFrame,
    state: ParquetState,
    sep: str = "\n",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Fold one micro-batch into the CCNet paragraph-dedup state —
    the streaming twin of ``corpus.paragraph_dedup`` (L67) with the
    displacement semantics of the other curation maintainers: a
    paragraph occurrence is kept iff it is the (min id, min pos)
    occurrence over EVERYTHING seen, so a later-arriving lower id
    takes ownership of a boilerplate paragraph and every previously-
    rebuilt document that contained it is re-assembled — replays and
    backfills converge to the batch answer regardless of arrival
    order.

    Per batch, work is bounded by the TOUCHED paragraph set: the
    ownership table updates only for the batch's paragraphs (an
    idempotent min-merge), and only documents owning a touched
    paragraph (plus the batch docs) re-assemble; everything else's
    decision rows are byte-identical and untouched.

    State: ``pp_members`` (replay no-op anti-join), ``pp_paras``
    (the (id, pos, para) postings), ``pp_first`` (paragraph
    ownership), ``pp_kept`` (the per-doc rebuilt snapshot). Write
    order: kept (swap) -> first (swap, idempotent min) -> paras
    (append, anti-joined) -> members (append, the commit point);
    reads exclude the replaying ids so a partial paras append cannot
    double-count an occurrence.
    """
    with _job_steps(docs.sparkSession, "paragraph_index") as step:
        step("new members")
        new_docs = _new_rows(
            docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")),
            state.read("pp_members", PP_MEMBERS_SCHEMA),
            ["id"],
        )
        if new_docs is None:
            return  # replayed or empty batch
        new_ids = new_docs.select("id")
        step("paras checkpoint")
        new_paras = new_docs.select(
            "id", F.posexplode(F.split("text", sep)).alias("pos", "para")
        ).localCheckpoint(eager=True)
        paras_raw = state.read("pp_paras", PP_PARAS_SCHEMA)
        old_paras = paras_raw.join(new_ids, "id", "left_anti")
        step("touched checkpoint")
        touched = new_paras.select("para").distinct().localCheckpoint(eager=True)
        first_raw = state.read("pp_first", PP_FIRST_SCHEMA)
        new_first = new_paras.groupBy("para").agg(
            F.min(F.struct(F.col("id"), F.col("pos"))).alias("_f")
        ).select("para", F.col("_f.id").alias("fid"), F.col("_f.pos").alias("fpos"))
        merged_touched = (
            first_raw.join(touched, "para", "left_semi")
            .unionByName(new_first)
            .groupBy("para")
            .agg(F.min(F.struct(F.col("fid"), F.col("fpos"))).alias("_f"))
            .select(
                "para", F.col("_f.fid").alias("fid"), F.col("_f.fpos").alias("fpos")
            )
        )
        step("ownership checkpoint")
        first_merged = (
            first_raw.join(touched, "para", "left_anti")
            .unionByName(merged_touched)
            .localCheckpoint(eager=True)
        )
        step("affected checkpoint")
        affected = (
            old_paras.join(touched, "para", "left_semi")
            .select("id")
            .unionByName(new_ids)
            .distinct()
            .localCheckpoint(eager=True)
        )
        all_affected_paras = (
            old_paras.unionByName(new_paras)
            .join(affected, "id", "left_semi")
        )
        flagged = all_affected_paras.join(first_merged, "para").select(
            "id",
            "pos",
            "para",
            ((F.col("id") == F.col("fid")) & (F.col("pos") == F.col("fpos"))).alias(
                "keep"
            ),
        )
        rebuilt = flagged.groupBy("id").agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("pos", "para"))
                        )
                    ),
                    lambda s: s["para"],
                ),
                sep,
            ).alias("text_clean"),
        )
        current = state.read("pp_kept", PP_KEPT_SCHEMA)
        merged_kept = current.join(affected, "id", "left_anti").unionByName(
            rebuilt
        )
        step("kept swap")
        state.write("pp_kept", merged_kept)
        step("ownership swap")
        state.write("pp_first", first_merged)
        step("paras append")
        state.append(
            "pp_paras",
            new_paras.join(paras_raw.select("id", "pos"), ["id", "pos"], "left_anti"),
        )
        step("members append")
        state.append("pp_members", new_ids)


CP_MEMBERS_SCHEMA = "partition STRING, file LONG"
CP_FILES_SCHEMA = "partition STRING, file LONG, size_bytes LONG"
CP_PLAN_SCHEMA = (
    "partition STRING, file LONG, size_bytes LONG, cum_bytes LONG,"
    " bin_seq INT, n_files_before LONG, n_files_after INT"
)


def compaction_apply_batch(
    files: DataFrame,
    state: ParquetState,
    target_bytes: int,
    partition_col: str = "partition",
    file_col: str = "file",
    size_col: str = "size_bytes",
) -> None:
    """Fold one micro-batch of FILE-LISTING rows into the compaction
    plan — the streaming twin of the batch ``skew.compaction_plan``
    (SC9), keeping the BATCH semantics exactly: the plan for every
    table partition equals the size-ordered start-offset binning over
    ALL files seen so far. A newly-arrived large file RESORTS its
    partition (size-DESC order changes), displacing every previous
    bin assignment there — so plans for touched partitions are
    REPLACED per batch, never patched, and the snapshot converges to
    one answer regardless of arrival order (the continuous OPTIMIZE
    loop a streaming-ingested lakehouse table runs).

    Per batch, the plan recomputes ONLY for TOUCHED partitions
    (partitions present in the batch); untouched partitions' listings
    are unchanged, so their plans are already exact. Files are
    immutable storage objects, so a re-appearing (partition, file)
    key is a REPLAY, not an update — the members anti-join no-ops it.

    State: ``cp_members`` (replay no-op), ``cp_files`` (the
    accumulated listing), ``cp_plan`` (the decision snapshot), folded
    by :func:`_touched_apply`.
    """
    from isilon_hadoop_tools_spark.operators.skew import compaction_plan

    _touched_apply(
        files.select(
            F.col(partition_col).cast("string").alias("partition"),
            F.col(file_col).cast("long").alias("file"),
            F.col(size_col).cast("long").alias("size_bytes"),
        ),
        state,
        "compaction",
        (
            ("cp_members", CP_MEMBERS_SCHEMA),
            ("cp_files", CP_FILES_SCHEMA),
            ("cp_plan", CP_PLAN_SCHEMA),
        ),
        key=["partition", "file"],
        group="partition",
        decide=lambda cand: compaction_plan(
            cand, "partition", "file", "size_bytes", target_bytes
        ),
    )


BLOOM_BITS_SCHEMA = "bit INT"


def bloom_index_apply_batch(
    keys: DataFrame,
    state: ParquetState,
    key_col: str,
    m_bits: int = 8192,
    k_hashes: int = 3,
    seed_base: int = 97,
) -> None:
    """Fold one micro-batch of build-side keys into the SC11 Bloom
    bitmap's SET-BIT table — the streaming twin of
    ``skew.bloom_semi_join``'s driver fold, for the case where the
    selective build side is itself a stream (e.g. an arriving
    blocklist): per batch, the batch keys' bit positions union into
    the state with ``distinct`` — set-union is idempotent and
    commutative, so replayed or re-ordered batches converge to the
    same bitmap, and the state is bounded by ``m_bits`` rows forever.
    A probe side then prefilters with the CURRENT bitmap exactly as
    the batch operator does (false positives verified away by the
    exact join)."""
    from isilon_hadoop_tools_spark.functions.hashing import stable_hash32

    with _job_steps(keys.sparkSession, "bloom_index") as step:
        step("bits union write")
        k = F.col(key_col).cast("string")
        bits = keys.select(
            F.explode(
                F.array(
                    *[
                        F.pmod(
                            stable_hash32(k, seed_base + j), F.lit(m_bits)
                        ).cast("int")
                        for j in range(k_hashes)
                    ]
                )
            ).alias("bit")
        ).distinct()
        current = state.read("bloom_bits", BLOOM_BITS_SCHEMA)
        state.write("bloom_bits", current.unionByName(bits).distinct())
