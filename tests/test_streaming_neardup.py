"""Streaming SimHash band-index maintenance: incremental pair
detection across micro-batches must equal the batch answer, survive
restarts (checkpointed or not), and treat replays as no-ops."""

from __future__ import annotations

import os
from typing import Callable, NamedTuple

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from conftest import file_stream, write_batch
from isilon_hadoop_tools_spark.operators import dedup
from isilon_hadoop_tools_spark.operators.corpus import (
    _suffix_grams,
    paragraph_dedup,
    suffix_dup_spans,
)
from isilon_hadoop_tools_spark.operators.skew import compaction_plan
from isilon_hadoop_tools_spark.operators.urls import (
    canonical_url_expr,
    domain_caps,
    host_expr,
    registrable_domain_expr,
    url_keep_one,
)
from isilon_hadoop_tools_spark.plans.state import ParquetState
from isilon_hadoop_tools_spark.streaming.events import drain
from isilon_hadoop_tools_spark.streaming.neardup import (
    CP_FILES_SCHEMA,
    CP_PLAN_SCHEMA,
    DC_KEPT_SCHEMA,
    PAIRS_SCHEMA,
    PP_KEPT_SCHEMA,
    SFX_SPANS_SCHEMA,
    SIG_PAIRS_SCHEMA,
    UK_KEPT_SCHEMA,
    compaction_apply_batch,
    domain_caps_apply_batch,
    minhash_index_apply_batch,
    paragraph_index_apply_batch,
    simhash_index_apply_batch,
    simhash_stream_into_state,
    suffix_index_apply_batch,
    tagged_index_apply_batch,
    url_keep_one_apply_batch,
)

DOCS_SCHEMA = "doc_id LONG, text STRING"

BASE = "the quick brown fox jumps over the lazy dog again and again today"
# three micro-batches: an exact-dup pair split ACROSS batches (1, 4),
# a near-dup in the same batch as its twin (2), unrelated docs, and a
# second cross-batch exact dup of doc 1 in the last batch (6)
BATCHES = [
    [(1, BASE), (2, BASE + " extra")],
    [(3, "completely different text about spark engines and shuffles"), (4, BASE)],
    [(5, "another unrelated document mentioning parquet files only"), (6, BASE)],
]


def _write_doc_batch(dirpath: str, name: str, rows) -> None:
    write_batch(
        dirpath,
        name,
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        },
    )


def _pairs(state: ParquetState):
    return {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in state.read("near_pairs", PAIRS_SCHEMA).collect()
    }


def _lsh_pairs(state: ParquetState):
    return {
        (r["id_a"], r["id_b"]): r["n_bands"]
        for r in state.read("lsh_pairs", SIG_PAIRS_SCHEMA).collect()
    }


def _simhash_truth(spark, rows):
    return {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_near_pairs(
            spark.createDataFrame(rows, DOCS_SCHEMA),
            "text",
            "doc_id",
            max_hamming=3,
        ).collect()
    }


def _lsh_truth(spark, rows):
    return {
        (r["id_a"], r["id_b"]): r["n_bands"]
        for r in dedup.minhash_lsh_pairs(
            spark.createDataFrame(rows, DOCS_SCHEMA),
            "text",
            "doc_id",
            num_hashes=8,
            bands=4,
        ).collect()
    }


def _simhash_partial_postings(first):
    # bands 1..3 of the batch's fingerprints, band 0 missing
    return (
        dedup.simhash(first, "text", "doc_id", 32)
        .select(
            F.posexplode(
                dedup.band_slice_array(F.col("simhash"), 32, 4)
            ).alias("band_idx", "band_val"),
            F.col("simhash").alias("fp"),
        )
        .filter(F.col("band_idx") > 0)
        .select(F.col("band_idx").cast("int"), "band_val", "fp")
    )


def _lsh_partial_postings(first):
    return (
        dedup.minhash_sig_keys(first, "text", "doc_id", 8, 4)
        .select(
            F.posexplode(F.split("sig_key", r"\|")).alias("band", "band_key"),
            "sig_key",
        )
        .filter(F.col("band") > 0)
        .select(F.col("band").cast("int"), "band_key", "sig_key")
    )


class _Applier(NamedTuple):
    """One member-based applier under the shared contract below. The
    band indexes fill the stream/postings fields, the touched-set
    snapshot appliers the logs and crash fields."""

    batches: list  # the micro-batches, rows of ``schema``
    schema: str
    apply: Callable  # (batch, state) -> None
    read: Callable  # state -> {key: decision} from the answer table
    answer: Callable  # (spark, rows) -> the batch answer over rows
    members: str
    logs: tuple = ()  # (table, key columns): appended logs, unique on key
    crash: Callable = None  # (spark, state, seen) -> last batch's partial writes
    stream: Callable = None  # (stream, state, checkpoint) -> None
    postings: str = None
    partial_postings: Callable = None  # first batch -> postings minus band 0
    exact_dup: int = None  # the score of an exact-duplicate pair


SIMHASH = _Applier(
    batches=BATCHES,
    schema=DOCS_SCHEMA,
    apply=lambda batch, state: simhash_index_apply_batch(batch, state),
    stream=lambda stream, state, ckpt: simhash_stream_into_state(
        stream, state, text_col="text", id_col="doc_id", checkpoint=ckpt
    ),
    read=_pairs,
    answer=_simhash_truth,
    members="fp_members",
    postings="band_postings",
    partial_postings=_simhash_partial_postings,
    exact_dup=0,
)
MINHASH = _Applier(
    batches=BATCHES,
    schema=DOCS_SCHEMA,
    apply=lambda batch, state: minhash_index_apply_batch(
        batch, state, num_hashes=8, bands=4
    ),
    stream=lambda stream, state, ckpt: drain(
        stream,
        lambda batch, _id: minhash_index_apply_batch(
            batch, state, num_hashes=8, bands=4
        ),
        ckpt,
    ),
    read=_lsh_pairs,
    answer=_lsh_truth,
    members="sig_members",
    postings="sig_postings",
    partial_postings=_lsh_partial_postings,
    exact_dup=4,  # exact dups agree on every band
)


# The contract every member-based applier keeps (the band indexes
# above, the touched-set snapshot appliers further down): ``case.batches``
# folded one by one equal the batch answer at every prefix, a replay
# is a no-op, and the members and log tables hold every row once.


def _apply_all(spark, state, case, batches):
    for rows in batches:
        case.apply(spark.createDataFrame(rows, case.schema), state)


def _all_rows(case):
    return [r for b in case.batches for r in b]


def _assert_folded_once(state, case, rows):
    assert state.read(case.members).count() == len(rows)
    for table, key in case.logs:
        log = state.read(table)
        assert log.count() == log.select(*key).distinct().count()


def _fold_every_prefix(spark, tmp_path, case):
    # fold the batches in one by one as plain DataFrames: after each
    # fold the state equals the batch answer over the prefix
    state = ParquetState(spark, str(tmp_path / "state"))
    seen = []
    for rows in case.batches:
        seen.extend(rows)
        case.apply(spark.createDataFrame(rows, case.schema), state)
        assert case.read(state) == case.answer(spark, seen)
    return state


def _replay_is_noop(spark, tmp_path, case, state=None):
    # replay every batch onto a state that already holds them all (an
    # uncheckpointed second drain or a crash-recovery re-delivery): the
    # state must not change after any one replayed batch
    if state is None:
        state = ParquetState(spark, str(tmp_path / "state"))
        _apply_all(spark, state, case, case.batches)
    before = case.read(state)
    for rows in case.batches:
        case.apply(spark.createDataFrame(rows, case.schema), state)
        assert case.read(state) == before
    rows = _all_rows(case)
    assert before == case.answer(spark, rows)
    _assert_folded_once(state, case, rows)
    return state


def _partial_append_replays_clean(spark, tmp_path, case):
    # crash simulation: the last batch's attempt died after some of its
    # writes landed (``case.crash`` writes them) and before the members
    # append committed it; the replay must not double-count the
    # partially-appended rows and must converge to the batch answer
    state = ParquetState(spark, str(tmp_path / "state"))
    _apply_all(spark, state, case, case.batches[:-1])
    rows = _all_rows(case)
    case.crash(spark, state, rows)
    _apply_all(spark, state, case, case.batches[-1:])
    assert case.read(state) == case.answer(spark, rows)
    _assert_folded_once(state, case, rows)
    return state


def _drain_restarts(spark, tmp_path, idx: _Applier):
    # staged reveal across three checkpointed restarts, then an idle
    # restart, then a full uncheckpointed replay: every stage of the
    # recovery story converges to the batch answer
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    ckpt = str(tmp_path / "ckpt")
    state = ParquetState(spark, str(tmp_path / "state"))

    def restart(ck):
        idx.stream(file_stream(spark, DOCS_SCHEMA, in_dir), state, ck)

    for stage, rows in enumerate(idx.batches):
        _write_doc_batch(in_dir, f"b{stage}.parquet", rows)
        restart(ckpt)
    truth = idx.answer(spark, _all_rows(idx))
    assert idx.read(state) == truth
    restart(ckpt)  # idle restart: no new files, no state change
    assert idx.read(state) == truth
    restart(None)  # uncheckpointed replay: the anti-join makes it a no-op
    assert idx.read(state) == truth


def _partial_posting_append(spark, tmp_path, idx: _Applier):
    # simulate a crash mid-postings-append: bands 1..3 of the first
    # batch's fingerprints landed but band 0 did not — the replay
    # re-adds ALL bands (the anti-join keys on band 0), leaving
    # duplicate posting rows for bands 1..3, and the pair state must
    # still equal the batch answer (candidates count DISTINCT
    # fingerprint pairs / bands)
    state = ParquetState(spark, str(tmp_path / "state"))
    first = spark.createDataFrame(idx.batches[0], idx.schema)
    state.append(idx.postings, idx.partial_postings(first))
    _apply_all(spark, state, idx, idx.batches)
    assert idx.read(state) == idx.answer(spark, _all_rows(idx))
    posts = state.read(idx.postings)
    assert posts.distinct().count() < posts.count()


def _assert_exact_dups(state, idx: _Applier):
    # cross-batch exact dups must be present with the exact-dup score
    got = idx.read(state)
    assert got[(1, 4)] == got[(1, 6)] == got[(4, 6)] == idx.exact_dup


def test_apply_batch_incremental_equals_batch(spark, tmp_path):
    _assert_exact_dups(_fold_every_prefix(spark, tmp_path, SIMHASH), SIMHASH)


def test_apply_batch_replay_is_noop(spark, tmp_path):
    _replay_is_noop(spark, tmp_path, SIMHASH)


def test_minhash_apply_batch_incremental_equals_batch(spark, tmp_path):
    _assert_exact_dups(_fold_every_prefix(spark, tmp_path, MINHASH), MINHASH)


def test_minhash_apply_batch_replay_is_noop(spark, tmp_path):
    _replay_is_noop(spark, tmp_path, MINHASH)


def test_stream_drain_equals_batch_and_restarts(spark, tmp_path):
    _drain_restarts(spark, tmp_path, SIMHASH)


def test_minhash_stream_drain_equals_batch_and_restarts(spark, tmp_path):
    _drain_restarts(spark, tmp_path, MINHASH)


def test_simhash_partial_posting_append_does_not_corrupt(spark, tmp_path):
    _partial_posting_append(spark, tmp_path, SIMHASH)


def test_minhash_partial_posting_append_does_not_inflate_bands(
    spark, tmp_path
):
    _partial_posting_append(spark, tmp_path, MINHASH)


@pytest.mark.parametrize(
    "applier",
    [
        "simhash", "minhash", "tagged", "domain_caps", "url_keep_one",
        "compaction", "suffix", "paragraph",
    ],
)
def test_band_index_restores_job_description_on_error(
    spark, tmp_path, monkeypatch, applier
):
    # a write failing mid-batch runs under the applier's step label and
    # must not leak it onto the caller's later jobs
    def first_batch(case):
        return lambda st: case.apply(
            spark.createDataFrame(case.batches[0], case.schema), st
        )

    call, failing, label = {
        "simhash": (first_batch(SIMHASH), SIMHASH.postings, "simhash_index"),
        "minhash": (first_batch(MINHASH), MINHASH.postings, "minhash_index"),
        "tagged": (
            lambda st: tagged_index_apply_batch(
                spark.createDataFrame(
                    [("t", 1, 0b0001), ("t", 2, 0b0011)],
                    "modality STRING, id LONG, fhash LONG",
                ),
                st,
                {"t": (12, 2, 4)},
            ),
            "tband_postings",
            "tagged_index",
        ),
        "domain_caps": (first_batch(DOMAIN_CAPS), "dc_docs", "domain_caps"),
        "url_keep_one": (first_batch(URL_KEEP_ONE), "uk_docs", "url_keep_one"),
        "compaction": (first_batch(COMPACTION), "cp_files", "compaction"),
        "suffix": (first_batch(SUFFIX), "sfx_grams", "suffix_index"),
        "paragraph": (first_batch(PARAGRAPH), "pp_paras", "paragraph_index"),
    }[applier]
    append = ParquetState.append
    sc = spark.sparkContext
    seen = []

    def failing_append(self, table, df):
        if table == failing:
            seen.append(sc.getLocalProperty("spark.job.description"))
            raise RuntimeError("injected append failure")
        return append(self, table, df)

    monkeypatch.setattr(ParquetState, "append", failing_append)
    sc.setJobDescription("caller label")
    try:
        with pytest.raises(RuntimeError, match="injected append failure"):
            call(ParquetState(spark, str(tmp_path / "state")))
        assert sc.getLocalProperty("spark.job.description") == "caller label"
        assert seen[0].startswith(f"{label}: ")
    finally:
        sc.setJobDescription(None)


# ---------------------------------------------------------------------
# streaming IVF index maintenance (2.9 x L12)
# ---------------------------------------------------------------------


def _write_vec_batch(dirpath: str, name: str, rows) -> None:
    write_batch(
        dirpath,
        name,
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
        },
    )


VEC_SCHEMA = "vec_id LONG, embedding ARRAY<FLOAT>"


def test_ivf_stream_matches_batch_assignment_and_replay_noop(
    spark, tmp_path
):
    from isilon_hadoop_tools_spark.operators.similarity import (
        kmeans_assign,
        kmeans_train,
        quantize_vectors,
    )
    from isilon_hadoop_tools_spark.streaming.neardup import (
        IVF_POSTINGS_SCHEMA,
        ivf_index_apply_batch,
    )

    in_dir = str(tmp_path / "in")
    (tmp_path / "in").mkdir()
    batches = [
        [(i, [float(10 + i % 3), 10.0]) for i in range(0, 4)],
        [(i, [float(-10 - i % 3), -10.0]) for i in range(10, 14)],
        [(20, [10.5, 10.0]), (21, [-10.5, -10.0])],
    ]
    for bi, rows in enumerate(batches):
        _write_vec_batch(in_dir, f"b{bi}.parquet", rows)
    all_rows = [r for b in batches for r in b]
    batch_df = spark.createDataFrame(
        all_rows, "vec_id long, embedding array<float>"
    )
    vecs = quantize_vectors(batch_df, "embedding", "vec_id")
    cents = kmeans_train(vecs, k=2, iters=2)
    truth = {
        r["vid"]: (r["list_id"], r["dist"])
        for r in kmeans_assign(vecs, cents).collect()
    }
    state = ParquetState(spark, str(tmp_path / "state"))
    for _ in range(2):  # second drain must be a replay no-op
        drain(
            file_stream(spark, VEC_SCHEMA, in_dir),
            lambda batch, _id: ivf_index_apply_batch(batch, state, cents),
            None,
        )
    got = {
        r["vid"]: (r["list_id"], r["dist"])
        for r in state.read("ivf_postings", IVF_POSTINGS_SCHEMA).collect()
    }
    assert got == truth
    # one posting row per vector — the replay added nothing
    assert state.read("ivf_postings", IVF_POSTINGS_SCHEMA).count() == len(
        all_rows
    )


def test_ivf_stream_checkpointed_restart_ingests_only_new(spark, tmp_path):
    """Checkpointed restart: the second drain sees only the files
    that arrived after the first; final postings equal the batch
    assignment over everything."""
    from isilon_hadoop_tools_spark.operators.similarity import (
        kmeans_assign,
        kmeans_train,
        quantize_vectors,
    )
    from isilon_hadoop_tools_spark.streaming.neardup import (
        IVF_POSTINGS_SCHEMA,
        ivf_index_apply_batch,
    )

    in_dir = str(tmp_path / "in")
    (tmp_path / "in").mkdir()
    ckpt = str(tmp_path / "ckpt")
    b0 = [(i, [float(10 + i % 2), 10.0]) for i in range(4)]
    b1 = [(i, [float(-10 - i % 2), -10.0]) for i in range(10, 14)]
    all_rows = b0 + b1
    batch_df = spark.createDataFrame(
        all_rows, "vec_id long, embedding array<float>"
    )
    cents = kmeans_train(
        quantize_vectors(batch_df, "embedding", "vec_id"), k=2, iters=1
    )
    state = ParquetState(spark, str(tmp_path / "state"))

    def drain_new():
        drain(
            file_stream(spark, VEC_SCHEMA, in_dir),
            lambda batch, _id: ivf_index_apply_batch(batch, state, cents),
            ckpt,
        )

    _write_vec_batch(in_dir, "b0.parquet", b0)
    drain_new()
    _write_vec_batch(in_dir, "b1.parquet", b1)
    drain_new()
    truth = {
        r["vid"]: (r["list_id"], r["dist"])
        for r in kmeans_assign(
            quantize_vectors(batch_df, "embedding", "vec_id"), cents
        ).collect()
    }
    got = {
        r["vid"]: (r["list_id"], r["dist"])
        for r in state.read("ivf_postings", IVF_POSTINGS_SCHEMA).collect()
    }
    assert got == truth


def test_tagged_index_stream_modality_isolation_and_replay(spark, tmp_path):
    """The unified tagged index: text and image fingerprints of the
    SAME ids maintained in one postings/members/pairs table set —
    cross-batch pairs detected per modality, identical hash VALUES
    across modalities never pair, replays are no-ops, and the final
    state equals the batch tagged_hamming_band_pairs answer."""
    from isilon_hadoop_tools_spark.streaming.neardup import (
        TAGGED_PAIRS_SCHEMA,
        tagged_index_apply_batch,
    )

    params = {"t": (12, 2, 4), "i": (12, 1, 4)}
    # ids 1/4 exact text dups across batches; 2 near 1 (hamming 1);
    # image side: SAME hash values under modality 'i' with its own
    # tighter threshold; id 9 exists only in 'i'
    batches = [
        [("t", 1, 0b0001), ("t", 2, 0b0011), ("i", 1, 0b0001)],
        [("t", 3, 0xF00), ("t", 4, 0b0001), ("i", 9, 0b0011)],
        [("t", 6, 0b0001), ("i", 4, 0b0001)],
    ]
    state = ParquetState(spark, str(tmp_path / "state"))
    for _ in range(2):  # second pass replays every batch: no-ops
        for rows in batches:
            tagged_index_apply_batch(
                spark.createDataFrame(
                    rows, "modality STRING, id LONG, fhash LONG"
                ),
                state,
                params,
            )
    got = {
        (r["modality"], r["id_a"], r["id_b"]): r["hamming"]
        for r in state.read("tnear_pairs", TAGGED_PAIRS_SCHEMA).collect()
    }
    all_rows = [r for b in batches for r in b]
    want = {
        (r["modality"], r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.tagged_hamming_band_pairs(
            spark.createDataFrame(
                all_rows, "modality STRING, id LONG, fhash LONG"
            ),
            params,
        ).collect()
    }
    assert got == want
    # cross-batch text dups found; the same values under 'i' pair
    # independently; hamming-2 pair survives in 't' (max_h=2) but
    # would not in 'i' (max_h=1)
    assert got[("t", 1, 4)] == 0 and got[("t", 1, 6)] == 0
    assert got[("i", 1, 4)] == 0
    assert ("t", 2, 3) not in got
    assert ("i", 1, 9) in got  # hamming 1 <= 1
    # members grew once per distinct (modality, id) — replay added 0
    assert state.read(
        "tfp_members", "modality STRING, id LONG, fp LONG"
    ).count() == len(all_rows)


def test_tagged_index_stream_null_tag_dropped_not_fatal(spark, tmp_path):
    """A NULL modality tag in a streaming batch must be DROPPED, not
    fail the batch: Spark's assert_true throws on NULL input, and the
    streaming posting build (posexplode after a left_anti join, which
    keeps NULL keys) has no band join to infer an IS NOT NULL filter
    from — so the guard must accept NULL tags explicitly. Non-null
    UNKNOWN tags must still fail loudly."""
    from isilon_hadoop_tools_spark.streaming.neardup import (
        TAGGED_PAIRS_SCHEMA,
    )

    params = {"t": (12, 2, 4)}
    state = ParquetState(spark, str(tmp_path / "state"))
    tagged_index_apply_batch(
        spark.createDataFrame(
            [("t", 1, 0b0001), (None, 2, 0b0001), ("t", 3, 0b0001)],
            "modality STRING, id LONG, fhash LONG",
        ),
        state,
        params,
    )
    got = {
        (r["modality"], r["id_a"], r["id_b"]): r["hamming"]
        for r in state.read("tnear_pairs", TAGGED_PAIRS_SCHEMA).collect()
    }
    # the NULL-tag row vanished; the two tagged rows still paired
    assert got == {("t", 1, 3): 0}
    assert state.read(
        "tfp_members", "modality STRING, id LONG, fp LONG"
    ).count() == 2
    # a typo'd (non-null, unknown) tag still fails the batch
    with pytest.raises(Exception, match="unknown modality tag: x"):
        tagged_index_apply_batch(
            spark.createDataFrame(
                [("x", 9, 0b0001)], "modality STRING, id LONG, fhash LONG"
            ),
            state,
            params,
        )


# ---- streaming exact-substring (suffix) dedup index (L29d twin) ----

# min_len=4 scenario exercising every maintenance path:
# - doc 6 has a WITHIN-doc repeat from batch 1 (span exists early,
#   doc never touched again -> its stored span must survive swaps)
# - doc 1's spans GROW twice: batch 2 brings a 6-token partner
#   (prefix dup), batch 3 an exact 12-token copy (doc 4)
# - doc 2 has NO partner until batch 3 (doc 5) -> no span, then span
# - docs 3 is never duplicated -> never any span
_SFX_A10 = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"
_SFX_BATCHES = [
    [(1, _SFX_A10 + " z1 z2"), (2, "m1 m2 m3 m4 m5 f1 f2"),
     (6, "r1 r2 r3 r4 x r1 r2 r3 r4")],
    [(3, "q1 q2 q3 q4 q5 q6 q7"), (7, "a1 a2 a3 a4 a5 a6 k1 k2")],
    [(4, _SFX_A10 + " z1 z2"), (5, "m1 m2 m3 m4 m5 n1")],
]
_URL_SCHEMA = "doc_id LONG, url STRING"


def _by_key(df, key, cols):
    """``{key: (cols...)}`` over ``df``'s rows; a one-column key maps by
    its bare value."""
    return {
        (r[key[0]] if len(key) == 1 else tuple(r[k] for k in key)): tuple(
            r[c] for c in cols
        )
        for r in df.collect()
    }


_SFX_KEY = ("id", "start_tok", "end_tok")
_SFX_COLS = ("span_len", "max_dup_len", "n_positions")


def _sfx_crash(spark, state, seen):
    # the attempt appended half its gram postings and one of its doc
    # rows: a double-counted single occurrence (doc 5's "m3 m4 m5 n1")
    # would fabricate a duplicate
    last = spark.createDataFrame(_SFX_BATCHES[-1], DOCS_SCHEMA).select(
        F.col("doc_id").alias("id"), "text"
    )
    _, grams = _suffix_grams(last, "text", "id", 4)
    state.append("sfx_grams", grams.filter(F.col("pos") % 2 == 0))
    state.append("sfx_docs", last.filter(F.col("id") == 5))


SUFFIX = _Applier(
    batches=_SFX_BATCHES,
    schema=DOCS_SCHEMA,
    apply=lambda batch, state: suffix_index_apply_batch(batch, state, min_len=4),
    read=lambda state: _by_key(
        state.read("sfx_spans", SFX_SPANS_SCHEMA), _SFX_KEY, _SFX_COLS
    ),
    answer=lambda spark, rows: _by_key(
        suffix_dup_spans(
            spark.createDataFrame(rows, DOCS_SCHEMA), "text", "doc_id", min_len=4
        ),
        _SFX_KEY,
        _SFX_COLS,
    ),
    members="sfx_members",
    logs=(("sfx_grams", ("id", "pos")), ("sfx_docs", ("id",))),
    crash=_sfx_crash,
)


def test_suffix_index_incremental_equals_batch_at_every_prefix(
    spark, tmp_path
):
    """After every micro-batch, the spans state must equal the batch
    suffix_dup_spans answer over the prefix corpus — including spans
    of OLD docs growing when a longer partner arrives later, and
    untouched docs' spans carrying over unchanged."""
    final = SUFFIX.read(_fold_every_prefix(spark, tmp_path, SUFFIX))
    # scenario sanity: doc 1's span really grew across batches and
    # doc 6's within-doc span survived untouched
    assert (1, 0, 12) in final  # full 12-token dup with doc 4
    # doc 6's within-doc repeat (two 4-token islands) from batch 1
    assert (6, 0, 4) in final and (6, 5, 9) in final


def test_suffix_index_replay_is_noop(spark, tmp_path):
    _replay_is_noop(spark, tmp_path, SUFFIX)


def test_suffix_index_partial_append_crash_replays_clean(spark, tmp_path):
    """Crash simulation: batch 3 dies AFTER half its gram postings
    (and one of its doc rows) were appended but BEFORE the members
    append committed. The replay must not double-count the
    partially-persisted rows (a double-counted single occurrence
    would fabricate a duplicate) and must converge to the clean
    state."""
    _partial_append_replays_clean(spark, tmp_path, SUFFIX)


def test_suffix_stream_drain_twice_equals_batch(spark, tmp_path):
    """End-to-end through readStream/foreachBatch: three file batches
    drained twice without a checkpoint equal the batch answer."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, rows in enumerate(_SFX_BATCHES):
        _write_doc_batch(src, f"b{i}.parquet", rows)
        os.utime(
            os.path.join(src, f"b{i}.parquet"),
            (1_700_000_000 + i, 1_700_000_000 + i),
        )
    state = ParquetState(spark, str(tmp_path / "state"))
    schema = spark.read.parquet(os.path.join(src, "b0.parquet")).schema
    for _ in range(2):
        stream = file_stream(spark, schema, os.path.join(src, "b*.parquet"))
        drain(
            stream,
            lambda batch, _id: suffix_index_apply_batch(batch, state, min_len=4),
            None,
        )
    assert SUFFIX.read(state) == SUFFIX.answer(spark, _all_rows(SUFFIX))


# ---- streaming per-domain frequency-cap maintenance (L64 twin) ----

_DC_BATCHES = [
    # domain a.example.com via hosts hA*, domain b.org via hB
    [(10, "http://hA1.example.com/x"), (11, "http://hA2.example.com/y"),
     (30, "http://hB.b.org/z")],
    [(12, "http://hA3.example.com/x")],            # fills a's cap (3)
    [(5, "http://hA4.example.com/q"),              # DISPLACES id 12
     (31, "http://hB2.b.org/w")],
]
_DC_COLS = ("domain", "kept")


def _dc_crash(spark, state, seen):
    # kept already swapped to the post-batch snapshot, ONE of the two
    # doc rows (id 5) already appended
    state.write(
        "dc_kept",
        domain_caps(spark.createDataFrame(seen, _URL_SCHEMA), "url", "doc_id", 3)
        .select("id", *_DC_COLS),
    )
    last = spark.createDataFrame(_DC_BATCHES[-1], _URL_SCHEMA).select(
        F.col("doc_id").alias("id"),
        registrable_domain_expr(host_expr("url")).alias("domain"),
    )
    state.append("dc_docs", last.filter(F.col("id") == 5))


DOMAIN_CAPS = _Applier(
    batches=_DC_BATCHES,
    schema=_URL_SCHEMA,
    apply=lambda batch, state: domain_caps_apply_batch(batch, state, cap=3),
    read=lambda state: _by_key(
        state.read("dc_kept", DC_KEPT_SCHEMA), ("id",), _DC_COLS
    ),
    answer=lambda spark, rows: _by_key(
        domain_caps(spark.createDataFrame(rows, _URL_SCHEMA), "url", "doc_id", 3),
        ("id",),
        _DC_COLS,
    ),
    members="dc_members",
    logs=(("dc_docs", ("id",)),),
    crash=_dc_crash,
)


def test_domain_caps_stream_displacement_and_prefix_equivalence(
    spark, tmp_path
):
    """After every micro-batch the decision snapshot equals the batch
    cap over the prefix — including a LATER-arriving lower id
    displacing a previously-kept doc (the deterministic-by-id
    semantics that make replays and backfills converge)."""
    final = DOMAIN_CAPS.read(_fold_every_prefix(spark, tmp_path, DOMAIN_CAPS))
    assert final[12] == ("example.com", False)  # displaced by id 5
    assert final[5] == ("example.com", True)
    assert final[30] == ("b.org", True) and final[31] == ("b.org", True)


def test_domain_caps_stream_replay_is_noop(spark, tmp_path):
    _replay_is_noop(spark, tmp_path, DOMAIN_CAPS)


_UK_BATCHES = [
    [(10, "http://Example.com/a?utm_source=x"), (20, "http://b.org/z")],
    [(12, "http://example.com/a")],       # same canon as 10
    [(4, "http://EXAMPLE.com/a#frag"),    # displaces 10
     (21, "http://b.org/z?gclid=1")],
]
_UK_COLS = ("canon_url", "n_dups", "kept")


def _uk_crash(spark, state, seen):
    # kept already swapped, ONE of the two doc rows (id 4) appended
    state.write(
        "uk_kept",
        url_keep_one(spark.createDataFrame(seen, _URL_SCHEMA), "url", "doc_id")
        .select("id", *_UK_COLS),
    )
    last = spark.createDataFrame(_UK_BATCHES[-1], _URL_SCHEMA).select(
        F.col("doc_id").alias("id"),
        canonical_url_expr("url").alias("canon_url"),
    )
    state.append("uk_docs", last.filter(F.col("id") == 4))


URL_KEEP_ONE = _Applier(
    batches=_UK_BATCHES,
    schema=_URL_SCHEMA,
    apply=url_keep_one_apply_batch,
    read=lambda state: _by_key(
        state.read("uk_kept", UK_KEPT_SCHEMA), ("id",), _UK_COLS
    ),
    answer=lambda spark, rows: _by_key(
        url_keep_one(spark.createDataFrame(rows, _URL_SCHEMA), "url", "doc_id"),
        ("id",),
        _UK_COLS,
    ),
    members="uk_members",
    logs=(("uk_docs", ("id",)),),
    crash=_uk_crash,
)


def test_url_keep_one_stream_displacement_and_replay(spark, tmp_path):
    """Keep-one maintenance: the canonical-group representative is
    displaced by a later-arriving lower id, n_dups grows with the
    group, replays are no-ops, and every prefix equals the batch
    answer."""
    state = _fold_every_prefix(spark, tmp_path, URL_KEEP_ONE)
    got = URL_KEEP_ONE.read(
        _replay_is_noop(spark, tmp_path, URL_KEEP_ONE, state)
    )
    assert got[4] == ("http://example.com/a", 3, True)
    assert got[10] == ("http://example.com/a", 3, False)
    assert got[20][2] is True


def test_domain_caps_partial_append_crash_replays_clean(spark, tmp_path):
    """Crash simulation (r12 VERDICT #7): the batch-3 attempt dies
    AFTER the dc_kept swap and AFTER half its dc_docs rows were
    appended, BEFORE the dc_members commit. Replay must not count the
    partially-appended docs twice into their domain and must converge
    to the clean prefix answer."""
    final = DOMAIN_CAPS.read(
        _partial_append_replays_clean(spark, tmp_path, DOMAIN_CAPS)
    )
    # the displacement survived the crash-replay cycle
    assert final[5] == ("example.com", True)
    assert final[12] == ("example.com", False)


def test_url_keep_one_partial_append_crash_replays_clean(spark, tmp_path):
    """Same crash matrix for the keep-one maintainer: kill between the
    uk_kept swap and the uk_docs/uk_members appends (one of two doc
    rows persisted). Replay must keep n_dups exact (a double-counted
    doc would inflate its group) and converge to the batch answer."""
    got = URL_KEEP_ONE.read(
        _partial_append_replays_clean(spark, tmp_path, URL_KEEP_ONE)
    )
    # displacement + exact group size survived
    assert got[4] == ("http://example.com/a", 3, True)
    assert got[10] == ("http://example.com/a", 3, False)
    assert got[21] == ("http://b.org/z", 2, False)


# ---- streaming CCNet paragraph-dedup maintenance (L67 twin) ----

_PP_BATCHES = [
    [(10, "alpha\nbody-A\ntail-10"), (20, "beta\nbody-B\ntail-20")],
    [(12, "alpha\nbody-C\ntail-12")],          # 'alpha' stays owned by 10
    [(5, "alpha\nbody-B\ntail-5")],            # DISPLACES 10's alpha AND 20's body-B
]
_PP_COLS = ("n_paras", "n_kept", "text_clean")


def _pp_answer(spark, rows):
    return _by_key(
        paragraph_dedup(spark.createDataFrame(rows, DOCS_SCHEMA), "text", "doc_id"),
        ("id",),
        _PP_COLS,
    )


def _pp_crash(spark, state, seen):
    # kept + first already swapped, ONE of doc 5's three paragraph
    # postings appended
    state.write(
        "pp_kept",
        spark.createDataFrame(
            [(i, *v) for i, v in _pp_answer(spark, seen).items()],
            PP_KEPT_SCHEMA,
        ),
    )
    # pp_first swaps BEFORE the paras append in the write order, so the
    # crashed snapshot must carry the post-batch ownership too
    first = {}
    for did, text in seen:
        for pos, para in enumerate(text.split("\n")):
            if para not in first or (did, pos) < first[para]:
                first[para] = (did, pos)
    state.write(
        "pp_first",
        spark.createDataFrame(
            [(p, f[0], f[1]) for p, f in first.items()],
            "para STRING, fid LONG, fpos INT",
        ),
    )
    state.append(
        "pp_paras",
        spark.createDataFrame([(5, 0, "alpha")], "id LONG, pos INT, para STRING"),
    )


PARAGRAPH = _Applier(
    batches=_PP_BATCHES,
    schema=DOCS_SCHEMA,
    apply=paragraph_index_apply_batch,
    read=lambda state: _by_key(
        state.read("pp_kept", PP_KEPT_SCHEMA), ("id",), _PP_COLS
    ),
    answer=_pp_answer,
    members="pp_members",
    logs=(("pp_paras", ("id", "pos")),),
    crash=_pp_crash,
)


def test_paragraph_stream_displacement_and_prefix_equivalence(
    spark, tmp_path
):
    final = PARAGRAPH.read(_fold_every_prefix(spark, tmp_path, PARAGRAPH))
    # doc 5 (lowest id) now owns 'alpha' and 'body-B'
    assert final[5] == (3, 3, "alpha\nbody-B\ntail-5")
    # doc 10 lost 'alpha' on displacement
    assert final[10] == (3, 2, "body-A\ntail-10")
    # doc 20 lost 'body-B'
    assert final[20] == (3, 2, "beta\ntail-20")
    assert final[12] == (3, 2, "body-C\ntail-12")


def test_paragraph_stream_replay_and_partial_append_crash(spark, tmp_path):
    # the crashed batch replays clean, then a full second sweep of pure
    # replays changes nothing
    state = _partial_append_replays_clean(spark, tmp_path, PARAGRAPH)
    _replay_is_noop(spark, tmp_path, PARAGRAPH, state)
    p = state.read("pp_paras", "id LONG, pos INT, para STRING")
    assert p.count() == 3 * len(_all_rows(PARAGRAPH))


_CP_BATCHES = [
    [("p1", 1, 100), ("p2", 1, 500)],
    [("p1", 2, 300)],                     # resorts p1: 300 > 100
    [("p1", 3, 50), ("p2", 2, 10)],
]
_CP_SCHEMA = "partition STRING, file LONG, size_bytes LONG"
_CP_KEY = ("partition", "file")
_CP_COLS = ("size_bytes", "cum_bytes", "bin_seq", "n_files_before", "n_files_after")


def _cp_plan(spark, rows):
    return compaction_plan(
        spark.createDataFrame(rows, _CP_SCHEMA),
        "partition", "file", "size_bytes", 256,
    )


def _cp_crash(spark, state, seen):
    # plan already swapped to the post-batch answer, ONE of the two
    # file rows appended
    state.write("cp_plan", _cp_plan(spark, seen))
    state.append(
        "cp_files",
        spark.createDataFrame(_CP_BATCHES[-1], _CP_SCHEMA).filter(
            F.col("file") == 3
        ),
    )


COMPACTION = _Applier(
    batches=_CP_BATCHES,
    schema=_CP_SCHEMA,
    apply=lambda batch, state: compaction_apply_batch(batch, state, 256),
    read=lambda state: _by_key(
        state.read("cp_plan", CP_PLAN_SCHEMA), _CP_KEY, _CP_COLS
    ),
    answer=lambda spark, rows: _by_key(_cp_plan(spark, rows), _CP_KEY, _CP_COLS),
    members="cp_members",
    logs=(("cp_files", _CP_KEY),),
    crash=_cp_crash,
)


def test_compaction_stream_displacement_prefix_and_replay(spark, tmp_path):
    """Compaction maintenance: after every micro-batch the plan
    snapshot equals the batch planner over the prefix; a
    later-arriving larger file RESORTS its partition and displaces
    the earlier file's bin; a full replay sweep is a no-op."""
    state = _fold_every_prefix(spark, tmp_path, COMPACTION)
    final = COMPACTION.read(_replay_is_noop(spark, tmp_path, COMPACTION, state))
    # displacement: p1 file 1 was bin 1 alone; file 2 (300 B) sorts
    # first and pushes it to start offset 300 -> bin 2
    assert final[("p1", 2)][2] == 1
    assert final[("p1", 1)][2] == 2


def test_compaction_partial_append_crash_replays_clean(spark, tmp_path):
    """Crash simulation (the suffix/domain-caps matrix): the batch-3
    attempt dies AFTER the cp_plan swap and AFTER one of its two
    cp_files rows appended, BEFORE the cp_members commit. Replay must
    not double-count the partially-appended file into its partition
    and must converge to the clean full answer."""
    state = _partial_append_replays_clean(spark, tmp_path, COMPACTION)
    files = state.read("cp_files", CP_FILES_SCHEMA)
    assert files.count() == len(_all_rows(COMPACTION))


def test_bloom_index_stream_converges_and_stays_bounded(spark, tmp_path):
    """SC11s: set-bit union is idempotent — a double drain converges
    to the batch-built bitmap; the state is bounded by m_bits rows
    regardless of key volume; the maintained bitmap prefilters a
    probe to the exact semi-join result."""
    from isilon_hadoop_tools_spark.operators.skew import (
        bloom_build_bits,
        bloom_probe_cond,
    )
    from isilon_hadoop_tools_spark.streaming.neardup import (
        BLOOM_BITS_SCHEMA,
        bloom_index_apply_batch,
    )

    d = str(tmp_path / "keys")
    os.makedirs(d)
    for b in range(3):
        write_batch(
            d,
            f"b{b}.parquet",
            {"k": pa.array([b * 100 + i * 7 for i in range(40)], pa.int64())},
        )
    state = ParquetState(spark, str(tmp_path / "state"))
    for _ in range(2):  # replay without checkpoint: must converge
        drain(
            file_stream(spark, "k long", d),
            lambda batch, _id: bloom_index_apply_batch(
                batch, state, "k", m_bits=256
            ),
            None,
        )
    got = {r["bit"] for r in
           state.read("bloom_bits", BLOOM_BITS_SCHEMA).collect()}
    want = bloom_build_bits(
        spark.read.parquet(d).select(F.col("k").alias("_k")),
        "_k", m_bits=256,
    )
    assert got == want
    assert len(got) <= 256

    big = spark.range(1000).select(F.col("id").alias("pk"))
    keys = spark.read.parquet(d).select(
        F.col("k").cast("string").alias("_k")
    ).distinct()
    reduced = big.filter(
        bloom_probe_cond("pk", got, m_bits=256)
    ).join(big.select(F.col("pk").cast("string").alias("_k"))
           .join(keys, "_k", "left_semi"),
           F.col("pk").cast("string") == F.col("_k"), "left_semi")
    exact = big.join(
        keys, F.col("pk").cast("string") == F.col("_k"), "left_semi"
    )
    assert sorted(r["pk"] for r in reduced.collect()) == sorted(
        r["pk"] for r in exact.collect()
    )
