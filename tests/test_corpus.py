"""Corpus-curation operator tests: repetition signals, deterministic
splits, and funnel monotonicity."""

from __future__ import annotations

import pytest

from isilon_hadoop_tools_spark.operators.corpus import (
    curation_funnel,
    hash_split,
    repetition_stats,
)


def test_repetition_stats_degenerate_doc(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),  # one bigram repeated 3x
            (2, "a fresh set of words"),  # all bigrams unique
            (3, "solo"),  # < 2 tokens: no bigrams
        ],
        "id BIGINT, text STRING",
    )
    out = {r["id"]: r.asDict() for r in repetition_stats(df, "text", "id").collect()}
    assert out[1]["top_ngram_frac"] == 1.0
    assert out[1]["dup_ngram_frac"] == 1.0
    assert out[1]["unique_token_ratio"] == 0.25
    assert out[2]["top_ngram_frac"] == 0.25  # 4 bigrams, each once
    assert out[2]["dup_ngram_frac"] == 0.0
    assert out[3]["n_tokens"] == 1
    assert out[3]["top_ngram_frac"] == 0.0  # gram-less doc kept, not dropped


def test_hash_split_deterministic_and_stable_under_append(spark):
    df1 = spark.createDataFrame([(i,) for i in range(100)], "id BIGINT")
    df2 = spark.createDataFrame([(i,) for i in range(200)], "id BIGINT")
    s1 = {r["id"]: r["split"] for r in hash_split(df1, "id").collect()}
    s2 = {r["id"]: r["split"] for r in hash_split(df2, "id").collect()}
    # appending new docs never moves an existing doc between splits
    assert all(s2[i] == s1[i] for i in range(100))
    # all three splits materialize over 200 docs
    assert set(s2.values()) == {"train", "val", "test"}


def test_hash_split_salt_gives_independent_split(spark):
    df = spark.createDataFrame([(i,) for i in range(200)], "id BIGINT")
    a = {r["id"]: r["split"] for r in hash_split(df, "id", salt="a").collect()}
    b = {r["id"]: r["split"] for r in hash_split(df, "id", salt="b").collect()}
    assert any(a[i] != b[i] for i in range(200))


def test_hash_split_rejects_bad_weights(spark):
    df = spark.createDataFrame([(1,)], "id BIGINT")
    with pytest.raises(ValueError, match="sum to 100"):
        hash_split(df, "id", splits=(("train", 50), ("test", 40)))


def test_curation_funnel_monotone(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is on the mat and the dog is here"),  # en, clean
            (2, "the cat is on the mat and the dog is here"),  # exact dup
            (3, "der hund ist nicht die katze und das haus"),  # de, clean
            (4, "el perro y el gato y una casa es una"),  # es → dropped
            (5, "the the the the the the the the"),  # en, degenerate
        ],
        "id BIGINT, text STRING",
    )
    rows = {
        r["stage"]: r["n_docs"]
        for r in curation_funnel(
            df, "text", "id", keep_langs=("en", "de")
        ).collect()
    }
    assert rows == {"raw": 5, "lang": 4, "quality": 3, "dedup": 2}


def test_stratified_sample_cap_and_determinism(spark):
    df = spark.createDataFrame(
        [(i, "a" if i < 50 else "b") for i in range(60)],
        "id BIGINT, stratum STRING",
    )
    from isilon_hadoop_tools_spark.operators.corpus import (
        stratified_sample_exact,
    )

    out1 = stratified_sample_exact(df, "stratum", "id", 10)
    rows = out1.groupBy("stratum").count().collect()
    counts = {r["stratum"]: r["count"] for r in rows}
    assert counts == {"a": 10, "b": 10}
    # deterministic: same sample every run, even repartitioned
    ids1 = sorted(r["id"] for r in out1.collect())
    ids2 = sorted(
        r["id"]
        for r in stratified_sample_exact(
            df.repartition(7), "stratum", "id", 10
        ).collect()
    )
    assert ids1 == ids2


def test_pack_chunks_prefix_sum_semantics(spark):
    from isilon_hadoop_tools_spark.operators.corpus import pack_chunks

    df = spark.createDataFrame(
        [(i, "g", "tok " * 10) for i in range(10)],  # 10 tokens each
        "id BIGINT, grp STRING, text STRING",
    )
    out = sorted(
        pack_chunks(df, "text", "id", "grp", token_budget=25).collect(),
        key=lambda r: r["tok_offset"],
    )
    # offsets are an exclusive prefix sum: 0,10,20,...,90
    assert [r["tok_offset"] for r in out] == list(range(0, 100, 10))
    # chunk = floor(offset/25): 0,0,0,1,1,2,2,2,3,3
    assert [r["chunk_id"] for r in out] == [0, 0, 0, 1, 1, 2, 2, 2, 3, 3]
    # every chunk's docs start inside the budget boundary
    assert all(r["chunk_id"] == r["tok_offset"] // 25 for r in out)


def test_tfidf_topk_ranks_distinctive_terms(spark):
    from isilon_hadoop_tools_spark.operators.corpus import tfidf_topk

    df = spark.createDataFrame(
        [
            (1, "common rare1 common common"),
            (2, "common rare2 common common"),
            (3, "common common common common"),
        ],
        "id BIGINT, text STRING",
    )
    out = tfidf_topk(df, "text", "id", k=1)
    top = {r["id"]: r["term"] for r in out.collect()}
    # the doc-unique term beats the everywhere-term despite lower tf
    assert top[1] == "rare1"
    assert top[2] == "rare2"
    assert top[3] == "common"
    assert out.filter("rk > 1").count() == 0


def test_redact_pii_replaces_and_counts(spark):
    from isilon_hadoop_tools_spark.operators.corpus import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at bob.s@corp-x.io or call +1-555-1234"),
            (2, "server 10.0.0.1 and 192.168.1.255 up"),
            (3, "nothing sensitive here"),
        ],
        "id BIGINT, text STRING",
    )
    out = {r["id"]: r.asDict() for r in redact_pii(df, "text", "id").collect()}
    assert out[1]["redacted"] == "mail me at <EMAIL> or call <PHONE>"
    assert (out[1]["n_email"], out[1]["n_phone"], out[1]["n_ipv4"]) == (1, 1, 0)
    assert out[2]["redacted"] == "server <IPV4> and <IPV4> up"
    assert out[2]["n_ipv4"] == 2
    assert out[3]["redacted"] == "nothing sensitive here"
    assert (out[3]["n_email"], out[3]["n_phone"], out[3]["n_ipv4"]) == (0, 0, 0)


def test_redact_pii_patterns_match_suite_oracle():
    # the doc_redact_pii oracle embeds the patterns as literals; keep
    # them in sync with the operator's canonical dict
    import __spark_entry__ as entry
    from isilon_hadoop_tools_spark.operators.corpus import PII_PATTERNS

    oracle = entry.oracle_sql()["doc_redact_pii"]
    for pat in PII_PATTERNS.values():
        assert pat in oracle


def test_decontaminate_flags_overlap_only(spark):
    from pyspark.sql import functions as F

    from isilon_hadoop_tools_spark.operators.corpus import decontaminate

    df = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps"),  # eval
            (11, "lazy dogs sleep all day"),  # eval
            (20, "a quick brown fox appears"),  # shares 'quick brown fox'
            (21, "totally different words entirely here"),  # clean
            (22, "lazy dogs sleep all day long"),  # shares 3 grams w/ 11
        ],
        "id BIGINT, text STRING",
    )
    out = {
        r["id"]: r["n_shared_grams"]
        for r in decontaminate(df, "text", "id", F.col("id") < 20, 3).collect()
    }
    assert out == {20: 1, 22: 3}


def test_truncate_tokens_short_doc_untouched(spark):
    from isilon_hadoop_tools_spark.operators.corpus import truncate_tokens

    df = spark.createDataFrame(
        [(1, "a b c"), (2, " ".join(f"t{i}" for i in range(50)))],
        "id BIGINT, text STRING",
    )
    out = {r["id"]: r.asDict() for r in truncate_tokens(df, "text", "id", 8).collect()}
    assert out[1]["truncated"] == "a b c"
    assert out[1]["was_truncated"] is False
    assert out[2]["truncated"] == "t0 t1 t2 t3 t4 t5 t6 t7"
    assert out[2]["n_tokens"] == 50
    assert out[2]["was_truncated"] is True


def test_dup_spans_detects_shared_10gram(spark):
    from isilon_hadoop_tools_spark.operators.corpus import dup_spans

    shared = "one two three four five six seven eight nine ten"
    rows = [
        (1, "lead in words " + shared + " tail a"),
        (2, shared + " other ending entirely here"),
        (3, "completely different text with no overlap at all whatsoever kept"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = dup_spans(docs, "text", "doc_id", n=10)
    got = {(r["id"], r["pos"]) for r in out.collect()}
    # doc 1's shared span starts at token 3, doc 2's at token 0
    assert (1, 3) in got
    assert (2, 0) in got
    assert all(i != 3 for i, _ in got)


def test_dup_span_merge_islands_cover_hit_union(spark):
    from isilon_hadoop_tools_spark.operators.corpus import (
        dup_span_merge,
        dup_spans,
    )

    # two shared regions in doc 1 separated by unique filler, one
    # overlapping-hit region in doc 2 — merged spans must cover
    # EXACTLY the union of the [pos, pos+10) hit intervals, be
    # disjoint, and be maximal (gap >= 1 between islands)
    shared_a = "one two three four five six seven eight nine ten"
    shared_b = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, shared_a + " u1 u2 u3 " + shared_b),
        (2, shared_a + " more " + shared_a),
        (3, shared_b + " unrelated trailing words here now"),
        (4, "totally disjoint text with nothing shared anywhere at all kept"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    hits = dup_spans(docs, "text", "doc_id", n=10).collect()
    merged = dup_span_merge(docs, "text", "doc_id", n=10).collect()

    union_by_doc: dict[int, set[int]] = {}
    for r in hits:
        union_by_doc.setdefault(r["id"], set()).update(
            range(r["pos"], r["pos"] + 10)
        )
    covered_by_doc: dict[int, set[int]] = {}
    for r in merged:
        cov = covered_by_doc.setdefault(r["id"], set())
        span = set(range(r["start_tok"], r["end_tok"]))
        assert not cov & span  # islands are disjoint
        cov.update(span)
        assert r["span_len"] == r["end_tok"] - r["start_tok"]
        assert r["n_grams"] >= 1
    assert covered_by_doc == union_by_doc
    # maximality: islands within a doc are separated by >= 1 token
    for doc in {r["id"] for r in merged}:
        spans = sorted(
            (r["start_tok"], r["end_tok"]) for r in merged if r["id"] == doc
        )
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert s2 > e1
    # doc 1 carries two distinct islands (shared_a then shared_b)
    assert len([r for r in merged if r["id"] == 1]) == 2
    assert not [r for r in merged if r["id"] == 4]


def test_chunk_overlap_boundaries(spark):
    from isilon_hadoop_tools_spark.operators.corpus import chunk_overlap

    text = " ".join(f"t{i}" for i in range(20))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = {r["start_tok"]: r for r in chunk_overlap(
        docs, "text", "doc_id", size=16, stride=12).collect()}
    assert set(out) == {0, 12}
    assert out[0]["n_tokens"] == 16 and out[0]["chunk_idx"] == 0
    assert out[12]["n_tokens"] == 8 and out[12]["chunk_idx"] == 1  # truncated tail


def test_char_entropy_known_values(spark):
    from isilon_hadoop_tools_spark.operators.corpus import char_entropy

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab")], "doc_id long, text string"
    )
    got = {r["id"]: r for r in char_entropy(docs, "text", "doc_id").collect()}
    assert got[1]["entropy_bits"] == 0.0  # single symbol
    assert got[2]["entropy_bits"] == 1.0  # two equiprobable symbols
    assert got[1]["n_chars"] == 4


def test_vocab_topk_ranks_by_frequency(spark):
    from isilon_hadoop_tools_spark.operators.corpus import vocab_topk

    docs = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a b z")], "doc_id long, text string"
    )
    out = {r["term"]: r for r in vocab_topk(docs, "text", "doc_id", k=3).collect()}
    assert set(out) == {"a", "b", "z"} or set(out) == {"a", "b", "c"}
    assert out["a"]["rank"] == 1 and out["a"]["tf_total"] == 4 and out["a"]["df"] == 2
    assert out["b"]["rank"] == 2 and out["b"]["tf_total"] == 3


def test_unigram_surprisal_rare_tokens_score_higher(spark):
    from isilon_hadoop_tools_spark.operators.corpus import unigram_surprisal

    docs = spark.createDataFrame(
        [(1, "common common common common"), (2, "rareword common")],
        "doc_id long, text string",
    )
    got = {r["id"]: r for r in unigram_surprisal(docs, "text", "doc_id").collect()}
    assert got[2]["surprisal_bits"] > got[1]["surprisal_bits"]
    assert got[1]["n_tokens"] == 4 and got[2]["n_tokens"] == 2


def test_weighted_sample_prefers_heavy_weights(spark):
    from isilon_hadoop_tools_spark.operators.corpus import weighted_sample

    # weight 1000 vs weight 1: heavy rows should dominate the sample
    rows = [(i, 1000 if i < 50 else 1) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    top = weighted_sample(df, "doc_id", "w", n=30).collect()
    heavy = sum(1 for r in top if r["weight"] == 1000.0)
    assert heavy >= 25
    assert [r["sample_rank"] for r in sorted(top, key=lambda r: r["sample_rank"])] == list(range(1, 31))


def test_weighted_sample_deterministic_across_partitionings(spark):
    from isilon_hadoop_tools_spark.operators.corpus import weighted_sample

    rows = [(i, i % 7 + 1) for i in range(300)]
    a = spark.createDataFrame(rows, "doc_id long, w long")
    b = spark.createDataFrame(rows, "doc_id long, w long").repartition(13)
    sa = [(r["id"], r["sample_rank"]) for r in weighted_sample(a, "doc_id", "w", 20).collect()]
    sb = [(r["id"], r["sample_rank"]) for r in weighted_sample(b, "doc_id", "w", 20).collect()]
    assert sorted(sa) == sorted(sb)


def test_mixture_plan_binding_source_rate_is_one(spark):
    from isilon_hadoop_tools_spark.operators.corpus import mixture_plan

    rows = (
        [(i, "a b c d", "big") for i in range(10)]
        + [(100 + i, "a b", "small") for i in range(5)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    plan = {r["source"]: r for r in mixture_plan(docs, "text", "source").collect()}
    assert plan["small"]["rate"] == 1.0  # binding source keeps everything
    assert plan["big"]["rate"] == 0.25  # 10 tokens vs 40
    assert plan["big"]["expected_tokens"] == 10


def test_new_operators_tolerate_empty_and_null_text(spark):
    from isilon_hadoop_tools_spark.operators.corpus import (
        char_entropy,
        chunk_overlap,
        dup_spans,
        unigram_surprisal,
        vocab_topk,
    )

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "real text content here")],
        "doc_id long, text string",
    )
    # none of these may raise; null/empty docs just vanish or score 0
    assert dup_spans(docs, "text", "doc_id").count() == 0
    assert chunk_overlap(docs, "text", "doc_id").filter("id != 3").count() == 0
    assert char_entropy(docs, "text", "doc_id").filter("id != 3").count() == 0
    assert vocab_topk(docs, "text", "doc_id", 10).count() == 4
    assert unigram_surprisal(docs, "text", "doc_id").filter("id != 3").count() == 0


def test_bm25_ranks_by_tf_and_length(spark):
    from isilon_hadoop_tools_spark.operators.corpus import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "spark spark spark noise noise"),  # tf=3, dl=5
            (2, "spark noise noise noise noise"),  # tf=1, dl=5
            (3, "spark"),                          # tf=1, dl=1 (short)
            (4, "noise noise noise"),              # no query term
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(df, "text", "doc_id", ["spark"], k=10).collect()
    ids = [r.id for r in out]
    assert 4 not in ids  # docs without any query term never surface
    scores = {r.id: r.bm25 for r in out}
    assert scores[1] > scores[2]  # higher tf wins at equal length
    assert scores[3] > scores[2]  # shorter doc wins at equal tf


def test_normalize_text_canonicalizes_variants(spark):
    from isilon_hadoop_tools_spark.operators.corpus import normalize_text

    df = spark.createDataFrame(
        [
            (1, "Hello,   World!"),
            (2, "hello world"),
            (3, "  HELLO--WORLD  "),
        ],
        "doc_id LONG, text STRING",
    )
    out = {r.id: r for r in normalize_text(df, "text", "doc_id").collect()}
    # all three variants collapse to the same canonical form
    assert out[1].norm_text == out[2].norm_text == out[3].norm_text == "hello world"
    assert out[1].n_chars_raw == 15 and out[1].n_chars_norm == 11


def test_temperature_mixture_flattens_distribution(spark):
    from isilon_hadoop_tools_spark.operators.corpus import (
        temperature_mixture_plan,
    )

    # 90/10 token split at alpha=0.3: the small source's sampling
    # probability must rise above its raw share, the big one's fall
    rows = [(i, "w " * 10, "big") for i in range(90)]
    rows += [(100 + i, "w " * 10, "small") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING, source STRING")
    out = {r.source: r for r in
           temperature_mixture_plan(df, "text", "source", 0.3).collect()}
    assert out["small"].p_alpha > out["small"].p_raw
    assert out["big"].p_alpha < out["big"].p_raw
    assert out["small"].boost > 1.0 > out["big"].boost
    total = out["small"].p_alpha + out["big"].p_alpha
    assert abs(total - 1.0) < 1e-5


def test_temperature_mixture_alpha_one_is_raw_mix(spark):
    from isilon_hadoop_tools_spark.operators.corpus import (
        temperature_mixture_plan,
    )

    df = spark.createDataFrame(
        [(1, "a b c", "x"), (2, "d e", "y")],
        "doc_id LONG, text STRING, source STRING",
    )
    out = temperature_mixture_plan(df, "text", "source", 1.0).collect()
    for r in out:
        assert r.p_alpha == r.p_raw and r.boost == 1.0


def test_dup_span_cut_accounting_and_rebuild(spark):
    from isilon_hadoop_tools_spark.operators.corpus import dup_span_cut

    shared = " ".join(f"w{i}" for i in range(12))
    rows = [
        (1, "alpha " + shared + " omega"),
        (2, shared + " entirely different tail text here"),
        (3, "no duplication in this one at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {
        r["id"]: r
        for r in dup_span_cut(df, "text", "doc_id", n=10).collect()
    }
    # conservation property: kept + removed == original, per doc
    for did, r in out.items():
        kept = len(r["clean_text"].split()) if r["clean_text"] else 0
        assert kept + r["n_removed"] == r["n_tokens"], did
    # doc 1: shared grams at pos 1..3 merge to span [1, 13) — the 12
    # shared tokens go, the unique frame stays, in order
    assert out[1]["n_removed"] == 12
    assert out[1]["clean_text"] == "alpha omega"
    # doc 2: span [0, 12) — clean text is the unique tail
    assert out[2]["n_removed"] == 12
    assert out[2]["clean_text"] == "entirely different tail text here"
    # doc 3: untouched
    assert out[3]["n_removed"] == 0
    assert out[3]["clean_text"] == rows[2][1]


def test_dup_span_cut_whole_doc_removed(spark):
    from isilon_hadoop_tools_spark.operators.corpus import dup_span_cut

    text = " ".join(f"t{i}" for i in range(10))  # exactly one 10-gram
    df = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id LONG, text STRING"
    )
    out = {
        r["id"]: r for r in dup_span_cut(df, "text", "doc_id", n=10).collect()
    }
    for did in (1, 2):
        assert out[did]["n_tokens"] == 10
        assert out[did]["n_removed"] == 10
        assert out[did]["clean_text"] == ""


def test_dsir_importance_ranks_in_domain_docs_first(spark):
    from pyspark.sql import functions as F

    from isilon_hadoop_tools_spark.operators.corpus import dsir_importance

    rows = [
        (1, "alpha beta gamma alpha beta", "t"),    # target domain
        (2, "alpha gamma beta beta alpha", "t"),    # target domain
        (3, "delta epsilon zeta eta theta", "b"),   # background-only
        (4, "delta zeta eta theta epsilon", "b"),
        (5, "alpha beta gamma delta zeta", "b"),    # mixed vocab
    ]
    df = spark.createDataFrame(rows, "id BIGINT, text STRING, dom STRING")
    out = dsir_importance(
        df, "text", "id", target=F.col("dom") == "t", k=5
    ).collect()
    assert [r.rank for r in out] == [1, 2, 3, 4, 5]
    # target-vocab docs outscore background-vocab docs; mixed in between
    order = [r.id for r in out]
    assert set(order[:2]) == {1, 2}
    assert order[2] == 5
    assert set(order[3:]) == {3, 4}
    top = out[0]
    assert top.n_tokens == 5
    assert out[0].logratio_bits > 0 > out[-1].logratio_bits


def test_dsir_importance_k_cut_is_deterministic(spark):
    from pyspark.sql import functions as F

    from isilon_hadoop_tools_spark.operators.corpus import dsir_importance

    # identical docs -> identical scores; the k-cut must break ties
    # on the lower id, not on partition order
    rows = [(i, "same text every time", "t" if i == 0 else "b") for i in range(10)]
    df = spark.createDataFrame(rows, "id BIGINT, text STRING, dom STRING")
    out = dsir_importance(df, "text", "id", target=F.col("dom") == "t", k=4).collect()
    assert [r.id for r in out] == [0, 1, 2, 3]


def test_rrf_fuse_full_outer_and_missing_contributes_zero(spark):
    from isilon_hadoop_tools_spark.operators.corpus import rrf_fuse

    a = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "id LONG, rank LONG"
    )
    b = spark.createDataFrame(
        [(2, 1), (4, 2)], "id LONG, rank LONG"
    )
    out = {r.id: r for r in rrf_fuse(a, b, k0=60, k=10).collect()}
    # doc 2 is in both lists -> highest fused score
    assert out[2].fused_rank == 1
    assert abs(out[2].rrf - (1 / 62 + 1 / 61)) < 1e-6
    # docs only in one list still appear with NULL other-rank
    assert out[1].rank_b is None and abs(out[1].rrf - 1 / 61) < 1e-6
    assert out[4].rank_a is None and abs(out[4].rrf - 1 / 62) < 1e-6
    assert len(out) == 4


def test_rrf_fuse_k_cut_ties_to_lowest_id(spark):
    from isilon_hadoop_tools_spark.operators.corpus import rrf_fuse

    a = spark.createDataFrame(
        [(i, 1) for i in range(5)], "id LONG, rank LONG"
    )
    empty = spark.createDataFrame([], "id LONG, rank LONG")
    out = rrf_fuse(a, empty, k0=60, k=3).collect()
    assert [r.id for r in out] == [0, 1, 2]  # equal scores: id breaks
    assert [r.fused_rank for r in out] == [1, 2, 3]


def test_good_turing_hand_computed_spectrum(spark):
    """'a a a b b c d e' -> freq(a)=3, freq(b)=2, c/d/e=1:
    n_1=3, n_2=1, n_3=1; r*(1)=2*1/3, r*(2)=3*1/1, r*(3)=NULL."""
    from isilon_hadoop_tools_spark.operators.corpus import good_turing_counts

    df = spark.createDataFrame(
        [(1, "a a a b b c d e")], "doc_id long, text string"
    )
    rows = {r["r"]: r for r in good_turing_counts(df, "text", "doc_id").collect()}
    assert {r: rows[r]["n_r"] for r in rows} == {1: 3, 2: 1, 3: 1}
    assert rows[1]["r_star"] == round(2 * 1 / 3, 6)
    assert rows[2]["r_star"] == 3.0
    assert rows[3]["r_star"] is None


def test_good_turing_spectrum_gap_yields_null(spark):
    """Frequencies {1, 3} with no n_2: r*(1) must be NULL (the lead
    row exists but is not r+1), not n_3-based."""
    from isilon_hadoop_tools_spark.operators.corpus import good_turing_counts

    df = spark.createDataFrame(
        [(1, "x y y y")], "doc_id long, text string"
    )
    rows = {r["r"]: r for r in good_turing_counts(df, "text", "doc_id").collect()}
    assert set(rows) == {1, 3}
    assert rows[1]["r_star"] is None
    assert rows[3]["r_star"] is None


def test_bpe_train_canonical_sennrich_example(spark):
    """The classic low/lower/newest/widest corpus (no end-of-word
    marker): merges must be es(8), est(8), ew(5), ewest(5), lo(5) —
    frequency then lexicographic tie-break, exactly as worked through
    in Sennrich et al. 2016 sec. 3.2."""
    from isilon_hadoop_tools_spark.operators.corpus import bpe_train

    text = " ".join(["low"] * 3 + ["lower"] * 2 + ["newest"] * 5 + ["widest"] * 3)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = [
        (r["merge_round"], r["lhs"], r["rhs"], r["pair_count"])
        for r in bpe_train(df, "text", "doc_id", rounds=5)
        .orderBy("merge_round")
        .collect()
    ]
    assert got == [
        (1, "e", "s", 8),
        (2, "es", "t", 8),
        (3, "e", "w", 5),
        (4, "ew", "est", 5),
        (5, "l", "o", 5),
    ]


def test_bpe_merge_expr_greedy_non_overlapping(spark):
    """Self-pair runs merge greedily left-to-right without overlap:
    aaa -> [aa, a], aaaa -> [aa, aa]; a fresh merge never re-merges
    with the following symbol in the same round."""
    from pyspark.sql import functions as F

    from isilon_hadoop_tools_spark.operators.corpus import _bpe_merge_expr

    df = spark.createDataFrame(
        [("aaa",), ("aaaa",), ("aab",), ("baa",), ("aba",), ("b",)],
        "w string",
    )
    got = {
        r["w"]: r["m"]
        for r in df.select(
            "w", _bpe_merge_expr(F.split("w", ""), "a", "a").alias("m")
        ).collect()
    }
    assert got == {
        "aaa": ["aa", "a"],
        "aaaa": ["aa", "aa"],
        "aab": ["aa", "b"],
        "baa": ["b", "aa"],
        "aba": ["a", "b", "a"],
        "b": ["b"],
    }


def test_bpe_train_stops_when_no_pairs_remain(spark):
    """A corpus of single-char words has no pairs: zero merge rows,
    not an error."""
    from isilon_hadoop_tools_spark.operators.corpus import bpe_train

    df = spark.createDataFrame([(1, "a b c a")], "doc_id long, text string")
    assert bpe_train(df, "text", "doc_id", rounds=3).count() == 0


def test_bpe_apply_compression_accounting(spark):
    """Applying the trained rules: token counts drop by exactly the
    number of merge occurrences, chars are conserved, and a corpus
    with no learned rules tokenizes to characters."""
    from isilon_hadoop_tools_spark.operators.corpus import bpe_apply, bpe_train

    text = " ".join(["low"] * 3 + ["newest"] * 5)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rules = [
        (r["lhs"], r["rhs"])
        for r in bpe_train(df, "text", "doc_id", rounds=2)
        .orderBy("merge_round")
        .collect()
    ]
    # round 2 ties at count 5 resolve to the lexicographically
    # smallest lhs: ("e", "w") beats ("es", "t")
    assert rules == [("e", "s"), ("e", "w")]
    r = bpe_apply(df, "text", "doc_id", rules).collect()[0]
    assert r["n_words"] == 8
    assert r["n_chars"] == 3 * 3 + 5 * 6  # chars conserved
    # 'low' stays 3 symbols; 'newest' = n ew es t -> 4 symbols
    assert r["n_tokens"] == 3 * 3 + 5 * 4
    assert r["compression"] == round(39 / 29, 6)
    # no rules: tokens == chars
    r0 = bpe_apply(df, "text", "doc_id", []).collect()[0]
    assert r0["n_tokens"] == r0["n_chars"]


def _unigram_reference(texts, max_piece_len=4, n_seed_multi=16,
                       em_rounds=2, scale=1_000_000):
    """In-test reference: the full unigram-LM recipe with the E-step
    done by brute-force ENUMERATION of every segmentation (min
    (cost, boundary-mask) tuple) — independent of the engine's
    Viterbi DP."""
    import math
    from collections import Counter

    words = Counter(w for t in texts for w in t.split() if len(w) <= 52)
    seed = Counter()
    for w, n in words.items():
        for j in range(len(w)):
            for l in range(1, min(max_piece_len, len(w) - j) + 1):
                seed[w[j:j + l]] += n
    singles = {p: c for p, c in seed.items() if len(p) == 1}
    multis = dict(
        sorted(
            ((p, c) for p, c in seed.items() if len(p) > 1),
            key=lambda kv: (-kv[1], kv[0]),
        )[:n_seed_multi]
    )
    counts = {**singles, **multis}

    def costs_of(cnt):
        tot = sum(cnt.values())
        return {
            p: math.floor(-math.log(c / tot) * scale + 0.5)
            for p, c in cnt.items()
        }

    def enumerate_segs(w, costs):
        out = []

        def rec(pos, cost, mask, pieces):
            if pos == len(w):
                out.append((cost, mask, list(pieces)))
                return
            for l in range(1, min(max_piece_len, len(w) - pos) + 1):
                piece = w[pos:pos + l]
                if piece in costs:
                    pieces.append(piece)
                    rec(pos + l, cost + costs[piece], mask + (1 << pos),
                        pieces)
                    pieces.pop()

        rec(0, 0, 0, [])
        return min(out)[2]

    for _ in range(em_rounds):
        costs = costs_of(counts)
        observed = Counter()
        for w, n in words.items():
            for piece in enumerate_segs(w, costs):
                observed[piece] += n
        counts = {p: max(observed.get(p, 0), 1) for p in singles}
        counts.update(
            {p: observed[p] for p in multis if observed.get(p, 0) > 0}
        )
    total = sum(counts.values())
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return [
        (p, c, round(c / total, 6), i + 1)
        for i, (p, c) in enumerate(ranked)
    ]


def test_unigram_lm_canonical_example(spark):
    """Hand-checkable corpus: 'abab' dominates, so the seed picks
    'ab'/'abab'/'ba'-family multis and EM must concentrate mass on
    'abab' as ONE piece (the whole-word segmentation is cheapest),
    flooring the now-unused single chars at count 1."""
    from isilon_hadoop_tools_spark.operators.corpus import unigram_lm_train

    texts = ["abab abab abab ab", "abab cd cd ab"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        (r["piece"], r["count"], r["prob"], r["rank"])
        for r in unigram_lm_train(df, "text", "doc_id")
        .orderBy("rank")
        .collect()
    ]
    expect = _unigram_reference(texts)
    assert got == [
        (p, c, round(pr, 6), rk) for p, c, pr, rk in expect
    ]
    by_piece = {p: c for p, c, _, _ in got}
    # the whole word won: every 'abab' occurrence is one piece
    assert by_piece["abab"] == 4
    assert by_piece["ab"] == 2
    assert by_piece["cd"] == 2
    # singles are floored, never pruned (coverage stays 1.0)
    for ch in "abcd":
        assert by_piece[ch] == 1


def test_unigram_lm_matches_enumeration_reference(spark):
    """Viterbi DP vs brute-force enumeration on a messier corpus
    (shared prefixes/suffixes force real tie-breaks), plus the
    >52-char word-exclusion contract."""
    from isilon_hadoop_tools_spark.operators.corpus import unigram_lm_train

    texts = [
        "lower lowest newest newer low new west estes",
        "lower lower newest newest lowest " + "x" * 60,
        "es t lo w ne est lowes newes",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        (r["piece"], r["count"], r["prob"], r["rank"])
        for r in unigram_lm_train(df, "text", "doc_id")
        .orderBy("rank")
        .collect()
    ]
    expect = _unigram_reference(texts)
    assert got == expect
    # the 60-char token was excluded: 'x' never entered the vocab
    assert all(p != "x" for p, _, _, _ in got)


def test_wordpiece_likelihood_beats_raw_count(spark):
    """The defining WordPiece-vs-BPE divergence: pair (a,b) occurs
    10x but both symbols are everywhere (score 10/(30*30)); pair
    (c,d) occurs twice and its symbols occur ONLY there (score
    2/(2*2) = 0.5). BPE merges (a,b) first; WordPiece must merge
    (c,d) — with the exact quantized score."""
    from isilon_hadoop_tools_spark.operators.corpus import (
        bpe_train,
        wordpiece_train,
    )

    text = " ".join(["ab"] * 10 + ["cd"] * 2 + ["a"] * 20 + ["b"] * 20)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    wp = wordpiece_train(df, "text", "doc_id", rounds=1).collect()[0]
    assert (wp["lhs"], wp["rhs"]) == ("c", "d")
    assert wp["pair_count"] == 2
    assert wp["score_q"] == 2 * 10**9 // (2 * 2)
    bp = bpe_train(df, "text", "doc_id", rounds=1).collect()[0]
    assert (bp["lhs"], bp["rhs"]) == ("a", "b")


def test_wordpiece_stops_when_no_pairs_remain(spark):
    from isilon_hadoop_tools_spark.operators.corpus import wordpiece_train

    df = spark.createDataFrame(
        [(1, "ab ab")], "doc_id long, text string"
    )
    rules = wordpiece_train(df, "text", "doc_id", rounds=5).collect()
    # one merge exhausts every multi-symbol word
    assert [(r["lhs"], r["rhs"]) for r in rules] == [("a", "b")]


def test_unigram_lm_apply_compression_accounting(spark):
    """Round trip on the canonical corpus: the trained model keeps
    'abab'/'ab'/'cd' as whole pieces, so every word is ONE token and
    compression = chars/words exactly; token/char sums are per-doc."""
    from isilon_hadoop_tools_spark.operators.corpus import unigram_lm_apply

    texts = ["abab abab abab ab", "abab cd cd ab"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["id"]: r for r in unigram_lm_apply(
        df, "text", "doc_id"
    ).collect()}
    d0, d1 = got[0], got[1]
    assert (d0["n_words"], d0["n_chars"], d0["n_tokens"]) == (4, 14, 4)
    assert d0["compression"] == 3.5
    assert (d1["n_words"], d1["n_chars"], d1["n_tokens"]) == (4, 10, 4)
    assert d1["compression"] == 2.5


def test_unigram_lm_long_rare_word_sentinel(spark):
    """Regression for the Viterbi sentinel bound: a 28-char word of
    corpus-rare characters has a real path cost of ~28·ln(total)·scale
    (every char costs a full -ln p), which exceeds the old fixed
    ``scale·64`` sentinel once total ≳ 10 — the j<0 sentinel struct
    then wins ``F.least`` and decodes a garbage boundary mask. The
    sentinel is now derived from the actual cost table
    (``53·max(cost)+1``), so the DP must match the enumeration
    reference exactly AND the rare word must segment into its 28
    single-char pieces (only singles of rare chars are in vocab)."""
    from isilon_hadoop_tools_spark.operators.corpus import (
        unigram_lm_apply,
        unigram_lm_train,
    )

    # 52 rare chars with no 2+-char substring repeated often enough to
    # make the seed: the 8 common letters each contribute 3 multi
    # pieces (xx/xxx/xxxx) with count ≥ 160, filling the top-16 multi
    # seed entirely, so the rare word's ONLY in-vocab segmentation is
    # all-singles — true path cost ≈ 52·ln(total)·scale ≈ 4e8, far
    # beyond the old 6.4e7 bound (garbage masks from offset ~9 on).
    rare = ("zqxjvkwmy" * 6)[:52]
    common = ("aaaa bbbb cccc dddd eeee ffff gggg hhhh " * 40).strip()
    texts = [common, rare + " aaaa bbbb"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        (r["piece"], r["count"], r["prob"], r["rank"])
        for r in unigram_lm_train(df, "text", "doc_id")
        .orderBy("rank")
        .collect()
    ]
    expect = _unigram_reference(texts)
    assert got == expect
    # all-singles segmentation: 'z' starts each 9-char cycle → 6 obs
    by_piece = {p: c for p, c, _, _ in got}
    assert by_piece["z"] == 6
    assert not any(len(p) > 1 and p[0] in "zqxjvkwmy" for p in by_piece)
    # round trip: the rare word is 52 single-char tokens; the model
    # kept 'aa'/'bb' (count 82 each beats the whole word), so the two
    # common words are 2 tokens apiece
    apply = {r["id"]: r for r in unigram_lm_apply(
        df, "text", "doc_id"
    ).collect()}
    assert apply[1]["n_words"] == 3
    assert apply[1]["n_tokens"] == 52 + 2 + 2


def test_viterbi_segment_cost_table_scale_independence(spark):
    """Direct teeth for the sentinel bound: a cost table as trained on
    a ~30M-token corpus (rare chars cost ln(total/1)·scale ≈ 1.7e7)
    makes a 9-char rare word's true path cost 4·1.7e7 ≈ 6.9e7 — ABOVE
    the old fixed ``scale·64 = 6.4e7`` sentinel, so an out-of-vocab
    4-char extension (cost ``big``) used to beat the honest all-singles
    path at offset 4 and decode 'zqxj' as one OOV piece. With
    ``_viterbi_big`` deriving the sentinel from the cost table
    (53·max+1), the all-singles segmentation must win."""
    from pyspark.sql import functions as F

    from isilon_hadoop_tools_spark.operators.corpus import (
        _viterbi_big,
        _viterbi_segment,
    )

    costs = {c: 17_000_000 for c in "zqxjvkwmy"}
    costs["aa"] = 1_000_000  # an unrelated cheap multi sets no trap
    big = _viterbi_big(costs)
    assert big == 53 * 17_000_000 + 1
    df = spark.createDataFrame([("zqxjzqxjz",)], "w string")
    got = df.select(
        _viterbi_segment(F.col("w"), costs, 4, big).alias("pieces")
    ).head()["pieces"]
    assert got == list("zqxjzqxjz")
    # the old constant provably breaks this exact input: OOV 'zqxj'
    # (cost 6.4e7) undercuts 4 singles (6.8e7) and wins F.least
    bad = df.select(
        _viterbi_segment(F.col("w"), costs, 4, 64_000_000).alias("pieces")
    ).head()["pieces"]
    assert bad != list("zqxjzqxjz")


def test_quality_classifier_planted_signal(spark):
    """A token perfectly correlated with the positive label must end
    with a positive weight, its negative-class twin with a negative
    weight, and scoring must separate the classes at the 0.5 keep
    threshold. Buckets (md5 % 32): excellent→4, spammy→20,
    common→25 — no collisions among the planted tokens."""
    from pyspark.sql import functions as F

    from isilon_hadoop_tools_spark.operators.corpus import (
        quality_classifier_train,
        quality_scores,
    )

    rows = [
        (i, "excellent common " + ("common " * (i % 3)), 1)
        for i in range(10)
    ] + [
        (10 + i, "spammy common " + ("common " * (i % 3)), 0)
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, y int")
    w = {
        r["feature_id"]: r["weight"]
        for r in quality_classifier_train(
            df, "text", "doc_id", F.col("y") == 1
        ).collect()
    }
    assert len(w) == 33  # 32 hash buckets + bias
    assert w[4] > 0, w  # 'excellent' bucket
    assert w[20] < 0, w  # 'spammy' bucket
    # balanced classes + symmetric features → shared/bias weights 0
    assert w[25] == 0 and w[32] == 0

    scores = {
        r["id"]: r
        for r in quality_scores(
            df, "text", "doc_id", F.col("y") == 1
        ).collect()
    }
    assert all(scores[i]["keep"] for i in range(10))
    assert not any(scores[10 + i]["keep"] for i in range(10))
    assert min(scores[i]["score"] for i in range(10)) > max(
        scores[10 + i]["score"] for i in range(10)
    )


def test_quality_classifier_tdiv_matches_duckdb(spark):
    """The weight-update rounding convention: _tdiv truncates toward
    zero exactly like DuckDB's integer `//` (Python's bare `//`
    floors and would diverge on every negative gradient)."""
    import duckdb

    from isilon_hadoop_tools_spark.operators.corpus import _tdiv

    for a in (-7, -6, -1, 0, 1, 6, 7, -1000001):
        for b in (2, 3, 7, 1000):
            got = duckdb.sql(f"SELECT {a} // {b}").fetchone()[0]
            assert _tdiv(a, b) == got, (a, b)


def test_byte_bpe_diverges_from_char_bpe_on_multibyte_utf8(spark):
    """The defining byte-vs-char divergence: 'éé' is TWO symbols to
    the char trainer (first merge (é, é)) but FOUR bytes (c3 a9 c3
    a9) to the byte trainer, whose most frequent pair is (c3, a9) —
    the multi-byte composition of 'é' itself, which char-BPE gets
    for free. Also pins the hex-symbol alphabet and the pre-token
    boundary (merges never cross the regex split)."""
    from isilon_hadoop_tools_spark.operators.corpus import (
        bpe_train,
        byte_bpe_apply,
        byte_bpe_train,
    )

    df = spark.createDataFrame(
        [(1, "éé éé ab"), (2, "éé éé ab ab")], "doc_id long, text string"
    )
    # 'éé' x4 beats 'ab' x3 (no tie: 'a' < 'é' would win a tie)
    char_rules = bpe_train(df, "text", "doc_id", rounds=1).collect()
    assert (char_rules[0]["lhs"], char_rules[0]["rhs"]) == ("é", "é")
    assert char_rules[0]["pair_count"] == 4

    byte_rules = byte_bpe_train(df, "text", "doc_id", rounds=2).collect()
    # the ASCII-classed pre-tokenizer splits 'éé' into TWO 'é'
    # pre-tokens (non-ASCII letters fall to the symbol branch), so
    # round 1 sees 'é' x8, each [c3, a9] — the byte pair of é
    assert (byte_rules[0]["lhs"], byte_rules[0]["rhs"]) == ("c3", "a9")
    assert byte_rules[0]["pair_count"] == 8
    # round 2: 'é' is now the single symbol [c3a9] (no pair left —
    # merges never cross the pre-token split), so (61, 62) from
    # 'ab' x3 wins. Char-BPE's (é, é) is UNREACHABLE for the byte
    # trainer under this pre-tokenizer — the families provably
    # diverge on the same corpus.
    assert (byte_rules[1]["lhs"], byte_rules[1]["rhs"]) == ("61", "62")
    assert byte_rules[1]["pair_count"] == 3

    out = {
        r["id"]: r
        for r in byte_bpe_apply(
            df, "text", "doc_id",
            [(r["lhs"], r["rhs"]) for r in byte_rules],
        ).collect()
    }
    # doc 1 'éé éé ab': pre-tokens [é, é, é, é, ab] → 5 words,
    # bytes 2·4 + 2 = 10; post-merge each é = [c3a9], ab = [6162]
    # → 5 tokens
    assert (out[1]["n_words"], out[1]["n_bytes"], out[1]["n_tokens"]) == (
        5, 10, 5,
    )
    assert out[1]["compression"] == 2.0


def test_suffix_dup_spans_matches_bruteforce(spark):
    """The candidate-pruned suffix-adjacency form vs a Python
    brute-force over every (position, length) pair — including
    within-document repeats, a full-document duplicate pair, and a
    no-duplicate doc, across several min_len values."""
    from isilon_hadoop_tools_spark.operators.corpus import suffix_dup_spans

    texts = {
        1: "a b c d e f g h x y z",
        2: "q r a b c d e f g h w",   # shares the 8-token run a..h
        3: "m n m n m n o p",          # overlapping within-doc repeats
        4: "unique tokens only here",
        5: "a b c d e f g h x y z",    # identical to doc 1
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    toks = {k: v.split() for k, v in texts.items()}
    sufs = [(i, p) for i, t in toks.items() for p in range(len(t))]

    def true_dl(i, p):
        best = 0
        for j, q in sufs:
            if (j, q) == (i, p):
                continue
            n = 0
            while (
                p + n < len(toks[i])
                and q + n < len(toks[j])
                and toks[i][p + n] == toks[j][q + n]
            ):
                n += 1
            best = max(best, n)
        return best

    for min_len in (2, 3, 5, 8):
        hits: dict[int, list] = {}
        for i, p in sufs:
            d = true_dl(i, p)
            if d >= min_len:
                hits.setdefault(i, []).append((p, p + d, d))
        expect = []
        for i, hh in sorted(hits.items()):
            hh.sort()
            cur = None
            for s, e, d in hh:
                if cur and s <= cur[1]:
                    cur = (cur[0], max(cur[1], e), max(cur[2], d), cur[3] + 1)
                else:
                    if cur:
                        expect.append((i,) + cur)
                    cur = (s, e, d, 1)
            if cur:
                expect.append((i,) + cur)
        got = sorted(
            (r["id"], r["start_tok"], r["end_tok"], r["max_dup_len"],
             r["n_positions"])
            for r in suffix_dup_spans(
                df, "text", "doc_id", min_len
            ).collect()
        )
        assert got == sorted(expect), (min_len, got, sorted(expect))


def test_suffix_dup_spans_supersede_fixed_gram_hits(spark):
    """The property VERDICT asked for: every fixed-n `dup_spans` hit
    (a cross-document duplicated n-gram at [pos, pos+n)) falls inside
    one of `suffix_dup_spans`'s maximal spans at min_len = n — the
    variable-length method strictly generalizes the approximation."""
    from isilon_hadoop_tools_spark.operators.corpus import (
        dup_spans,
        suffix_dup_spans,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta one two"),
        (2, "pre alpha beta gamma delta epsilon zeta eta theta post"),
        (3, "x y alpha beta gamma delta q r s t u v w"),
        (4, "totally unrelated content words here again more filler"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    n = 4
    fixed = dup_spans(df, "text", "doc_id", n=n).collect()
    assert fixed, "fixture must produce fixed-gram hits"
    spans = {}
    for r in suffix_dup_spans(df, "text", "doc_id", min_len=n).collect():
        spans.setdefault(r["id"], []).append(
            (r["start_tok"], r["end_tok"])
        )
    for r in fixed:
        covered = any(
            s <= r["pos"] and r["pos"] + n <= e
            for s, e in spans.get(r["id"], [])
        )
        assert covered, (r["id"], r["pos"], spans.get(r["id"]))
    # and the suffix spans report a TRUE max length the fixed pass
    # cannot see: docs 1/2 share 8 tokens, so max_dup_len = 8 > n
    by_id = {
        r["id"]: r["max_dup_len"]
        for r in suffix_dup_spans(df, "text", "doc_id", min_len=n).collect()
    }
    assert by_id[1] == 8 and by_id[2] == 8


def test_suffix_span_cut_accounting_and_within_doc(spark):
    """The exact-span cut removes WITHIN-document repeats the
    cross-doc fixed-gram cut leaves in, with exact accounting
    (n_removed + tokens(clean_text) == n_tokens) and empty-doc
    passthrough."""
    from isilon_hadoop_tools_spark.operators.corpus import (
        dup_span_cut,
        suffix_span_cut,
    )

    boiler = "alpha beta gamma delta"
    rows = [
        # doc 1 repeats its own 4-token boilerplate twice: a
        # within-doc duplicate no other doc shares
        (1, f"{boiler} middle words here {boiler} tail"),
        (2, "completely different tokens in this one entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in suffix_span_cut(
        df, "text", "doc_id", min_len=4
    ).collect()}
    assert out[1]["n_removed"] == 8  # both boilerplate spans cut
    assert out[1]["clean_text"] == "middle words here tail"
    assert out[2]["n_removed"] == 0
    for r in out.values():
        n_clean = len(r["clean_text"].split()) if r["clean_text"] else 0
        assert r["n_removed"] + n_clean == r["n_tokens"]
    # the fixed-gram CROSS-DOC cut misses the within-doc repeat
    fixed = {r["id"]: r for r in dup_span_cut(
        df, "text", "doc_id", n=4
    ).collect()}
    assert fixed[1]["n_removed"] == 0


def test_suffix_dup_spans_sub_space_tokens(spark):
    """Tokens containing code points below U+0020 (e.g. \\x01 — the
    whitespace tokenizer only splits on [ \\t\\n\\x0B\\f\\r], so such
    bytes stay INSIDE a token) must not break suffix order: ordering
    candidate suffixes by a space-joined string sorts 'b\\x01x'
    BEFORE every 'b<space>...' key (\\x01 < ' '), so common
    token-prefixes stop being contiguous, max-LCP partners stop being
    adjacent, and exact duplicated spans silently vanish. The engine
    orders by the token ARRAY itself (element-wise lexicographic),
    which IS suffix order on token sequences."""
    from isilon_hadoop_tools_spark.operators.corpus import suffix_dup_spans

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b c"), (3, "a b\x01x y"), (4, "a b\x01x y")],
        "id long, text string",
    )
    got = {
        (r["id"], r["start_tok"], r["end_tok"], r["max_dup_len"])
        for r in suffix_dup_spans(df, "text", "id", min_len=2).collect()
    }
    # docs 1/2 share ['a','b']; docs 3/4 are identical 3-token docs.
    # A string-joined sort key interleaves doc3/doc4 suffixes between
    # the doc1/doc2 group and drops the (1,2) spans entirely.
    assert got == {(1, 0, 2, 2), (2, 0, 2, 2), (3, 0, 3, 3), (4, 0, 3, 3)}


def test_quality_classifier_eval_separable_signal(spark):
    """On a perfectly separable planted corpus the held-out confusion
    table must be purely diagonal (predicted == label, share 1.0)
    for every class present in the test slice."""
    from pyspark.sql import functions as F

    from isilon_hadoop_tools_spark.operators.corpus import (
        quality_classifier_eval,
    )

    # buckets (md5 % 32): excellent→4, spammy→20, common→25,
    # neutral→10 — all distinct (e.g. 'filler' would COLLIDE with
    # 'spammy' at 20 and poison the positive class)
    rows = [
        (i, "excellent common neutral", 1) for i in range(40)
    ] + [
        (100 + i, "spammy common neutral", 0) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, y int")
    out = quality_classifier_eval(
        df, "text", "doc_id", F.col("y") == 1
    ).collect()
    assert out, "test slice must be non-empty"
    for r in out:
        assert r["predicted"] == r["label"], r
        assert r["share"] == 1.0


def test_curation_pipeline_three_stages_act(spark):
    """Every stage of the capstone must demonstrably act on one
    fixture: the rank cut keeps exactly the top half by margin (the
    planted-signal docs), the kept docs' shared boilerplate is cut as
    a duplicated span, and the two identically-cleaned docs collapse
    to one canonical."""
    from pyspark.sql import functions as F

    from isilon_hadoop_tools_spark.operators.corpus import (
        curation_pipeline,
    )

    boiler = "alpha beta gamma delta"
    rows = (
        # positive class: contains 'excellent'; shares boilerplate
        [(1, f"excellent common {boiler} tail one", 1),
         (2, f"excellent common {boiler} tail one", 1)]  # exact dup of 1
        + [(3, f"excellent common {boiler} other words", 1)]
        + [(10 + i, "spammy common unique%d filler here now" % i, 0)
           for i in range(3)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, y int")
    out = {r["id"]: r for r in curation_pipeline(
        df, "text", "doc_id", F.col("y") == 1, min_len=4
    ).collect()}
    # stage 1: exactly half (3 of 6) kept — the planted-positive docs
    assert set(out) == {1, 2, 3}
    # stage 2: the 4-token boilerplate (present in all three kept
    # docs) is cut from every one
    assert all(r["n_removed"] >= 4 for r in out.values())
    assert "alpha" not in out[1]["clean_text"]
    # stage 3: docs 1 and 2 clean to identical text -> one canonical
    assert out[1]["clean_text"] == out[2]["clean_text"]
    assert out[1]["keep_id"] == out[2]["keep_id"] == 1
    assert out[1]["n_dups"] == 2
    assert out[3]["keep_id"] == 3 and out[3]["n_dups"] == 1
    # accounting survives the composition
    for r in out.values():
        n_clean = len(r["clean_text"].split()) if r["clean_text"] else 0
        assert r["n_removed"] + n_clean == r["n_tokens"]


def test_lm_perplexity_fluency_ordering_and_buckets(spark):
    """A doc made of the corpus's dominant bigram patterns must land
    in 'head' (lowest surprisal) and a doc of one-off bigrams in
    'tail'; sub-2-token docs surface as 'short' with NULL bits; the
    tercile split is exact on the ranked count."""
    from isilon_hadoop_tools_spark.operators.corpus import (
        lm_perplexity_buckets,
    )

    common = "the cat sat on the mat"
    rows = (
        [(i, common) for i in range(1, 5)]          # fluent under the LM
        + [(10, "zeta qux vorp glim blat krun")]     # all rare bigrams
        + [(11, "the cat sat on zeta qux")]          # mixed
        + [(20, "solo")]                             # no bigram
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in lm_perplexity_buckets(
        df, "text", "doc_id"
    ).collect()}
    assert out[20]["bucket"] == "short"
    assert out[20]["n_bigrams"] == 0 and out[20]["ppl_bits"] is None
    assert out[1]["ppl_bits"] < out[11]["ppl_bits"] < out[10]["ppl_bits"]
    # 6 ranked docs -> terciles of 2: the four 'common' docs fill
    # head+middle; the rare and mixed docs land in tail
    assert out[1]["bucket"] == "head"
    assert out[10]["bucket"] == "tail"
    buckets = [r["bucket"] for i, r in out.items() if i != 20]
    assert buckets.count("head") == 2
    assert buckets.count("middle") == 2
    assert buckets.count("tail") == 2


def test_kn_perplexity_hand_computed(spark):
    """Interpolated Kneser–Ney bigram probabilities on a corpus small
    enough to hand-compute: big = {(a,b):2, (b,a):1, (a,c):1}, so
    c(a•)=3, N1+(a,•)=2, c(b•)=1, N1+(b,•)=1, N1+(•,·)=1 each,
    types=3.

      P(b|a) = (2−.75)/3 + (.75·2/3)(1/3) = 7/12
      P(a|b) = (1−.75)/1 + (.75·1/1)(1/3) = 1/2
      P(c|a) = (1−.75)/3 + (.75·2/3)(1/3) = 1/4

    Doc 'a b a b' → mean of round9(−log2) over [7/12, 1/2, 7/12] =
    0.851738; doc 'a c' → exactly 2.0 bits. Observed continuation
    mass from context 'a' sums to 7/12+1/4 < 1 (the rest is KN's
    reserve for unseen continuations). Sub-2-token docs surface as
    'short' with NULL bits."""
    from isilon_hadoop_tools_spark.operators.corpus import (
        kn_perplexity_buckets,
    )

    rows = [(1, "a b a b"), (2, "a c"), (3, "x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in kn_perplexity_buckets(
        df, "text", "doc_id"
    ).collect()}
    assert out[3]["bucket"] == "short"
    assert out[3]["n_bigrams"] == 0 and out[3]["ppl_bits"] is None
    assert out[1]["n_bigrams"] == 3 and out[2]["n_bigrams"] == 1
    assert out[1]["ppl_bits"] == pytest.approx(0.851738, abs=1e-6)
    assert out[2]["ppl_bits"] == pytest.approx(2.0, abs=1e-9)
    assert out[1]["ppl_bits"] < out[2]["ppl_bits"]


def test_kn_continuation_beats_raw_frequency(spark):
    """The Kneser–Ney signature: a token frequent ONLY in one context
    ('francisco' always after 'san') gets a LOW continuation
    probability, so a NOVEL pairing with it scores worse under KN
    backoff than an equally-frequent token observed after many
    contexts. Both probe bigrams occur once with the same context
    count; only the continuation factor differs — the add-one LM
    would score them identically when unigram counts tie."""
    from isilon_hadoop_tools_spark.operators.corpus import _kn_scored

    rows = [
        # 'francisco' 4x, always after 'san' (1 continuation type)
        (1, "san francisco san francisco san francisco san francisco"),
        # 'tea' 4x after 4 DIFFERENT contexts (4 continuation types)
        (2, "green tea black tea iced tea herbal tea"),
        # probe docs: one novel bigram each, same probe context 'odd'
        (10, "odd francisco"),
        (11, "odd tea"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in _kn_scored(
        df, "text", "doc_id", 0.75
    ).collect()}
    assert out[11]["ppl_bits"] < out[10]["ppl_bits"]


def test_doremi_weights_hard_domain_gains_mass(spark):
    """A domain of rare one-off tokens (high surprisal = high excess
    loss) must end with MORE weight than the boilerplate domain made
    of the corpus's dominant tokens; weights stay a distribution
    (sum 1) and every domain keeps at least the ε/k uniform floor —
    DoReMi's no-domain-starves regularization."""
    from isilon_hadoop_tools_spark.operators.corpus import doremi_weights

    common = "the cat sat on the mat " * 3
    rows = (
        [(i, "easy", common) for i in range(4)]
        + [(10, "hard", "zeta qux vorp glim blat krun vex jorum")]
        + [(11, "hard", "smelt quoin fyrd welkin gnomon pleach")]
    )
    df = spark.createDataFrame(rows, "doc_id long, src string, text string")
    out = {r["domain"]: r for r in doremi_weights(
        df, "text", "doc_id", "src"
    ).collect()}
    assert out["hard"]["excess_bits"] > 0.0
    assert out["easy"]["excess_bits"] == 0.0  # below-global clips to 0
    assert out["hard"]["weight"] > out["easy"]["weight"]
    total = sum(r["weight"] for r in out.values())
    assert total == pytest.approx(1.0, abs=1e-5)
    k = len(out)
    assert all(r["weight"] >= 0.1 / k - 1e-6 for r in out.values())
    assert out["easy"]["n_docs"] == 4 and out["hard"]["n_docs"] == 2
    with pytest.raises(ValueError):
        doremi_weights(df, "text", "doc_id", "src", iters=0)


def test_pack_sequences_fills_and_caps(spark):
    """Hand-built shard: docs of 300/150/62/60 tokens at context 512
    pack as [300+150+62 = 512, fill exactly 1.0] then [60] — the
    fourth doc's start offset (512) opens the next sequence; an
    over-length doc is capped at the context and sits alone at fill
    1.0; short docs share windows (the padding the packer saves)."""
    from isilon_hadoop_tools_spark.operators.corpus import pack_sequences

    def words(n):
        return " ".join(["w"] * n)

    rows = [
        (0, words(300)), (8, words(150)), (16, words(62)),
        (24, words(60)),
        (1, words(700)),  # shard 1: capped at 512, alone
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["shard"], r["seq_no"]): r for r in pack_sequences(
        df, "text", "doc_id", context_len=512, n_shards=8
    ).collect()}
    s0_first = out[(0, 1)]
    assert s0_first["n_docs"] == 3 and s0_first["n_tokens"] == 512
    assert s0_first["fill_frac"] == 1.0
    s0_second = out[(0, 2)]
    assert s0_second["n_docs"] == 1 and s0_second["n_tokens"] == 60
    assert s0_first["n_seqs"] == 2 and s0_second["n_seqs"] == 2
    s1 = out[(1, 1)]
    assert s1["n_docs"] == 1 and s1["n_tokens"] == 512
    assert s1["fill_frac"] == 1.0 and s1["n_seqs"] == 1


def test_ccnet_pipeline_stages_compose(spark):
    """End-to-end CCNet: the shared header paragraph survives only on
    the lowest id; a fully-duplicate doc empties to bucket='short'
    with lang 'unknown'; languages bucket INDEPENDENTLY (3 en docs →
    one head/middle/tail each; 2 de docs → middle + tail, never
    head — ⌊2/3⌋ = 0)."""
    from isilon_hadoop_tools_spark.operators.corpus import ccnet_pipeline

    hdr = "the menu bar"
    rows = [
        (1, hdr + "\nthe cat sat on the mat and the dog sat too"),
        (2, hdr + "\nthe cat sat on the mat and the cat sat again"),
        (3, hdr + "\nzorp glim vex the strange tokens here of the"),
        (10, hdr + "\nthe cat sat on the mat and the dog sat too"),
        (20, "der hund und die katze und das haus\nder mann und die frau"),
        (21, "die sonne und der mond und das meer\nund der wind die wolke"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in ccnet_pipeline(
        df, "text", "doc_id"
    ).collect()}
    # full duplicate of doc 1 (both paragraphs seen) -> empty clean
    assert out[10]["n_kept"] == 0
    assert out[10]["bucket"] == "short" and out[10]["lang"] == "unknown"
    # header kept only on doc 1
    assert out[1]["n_kept"] == 2
    assert out[2]["n_kept"] == 1 and out[3]["n_kept"] == 1
    # languages identified on CLEANED text
    assert all(out[i]["lang"] == "en" for i in (1, 2, 3))
    assert all(out[i]["lang"] == "de" for i in (20, 21))
    # per-language terciles: en has 3 ranked docs, de has 2
    assert sorted(out[i]["bucket"] for i in (1, 2, 3)) == [
        "head", "middle", "tail",
    ]
    assert sorted(out[i]["bucket"] for i in (20, 21)) == ["middle", "tail"]


def test_decontaminate_neardup_flags_paraphrased_leakage(spark):
    """A training doc that is a lightly-edited copy of an eval doc
    must be flagged (shares minhash bands); an unrelated doc must
    not; eval docs themselves never appear in the output."""
    from pyspark.sql import functions as F

    from isilon_hadoop_tools_spark.operators.corpus import (
        decontaminate_neardup,
    )

    base = "the quick brown fox jumps over the lazy dog again today ok"
    rows = [
        (0, base),                                   # eval (id % 3 == 0)
        (1, base.replace("lazy", "sleepy")),         # near-dup of eval
        (2, "completely different text about spark engines and scans"),
        (3, "unrelated second eval document with its own words here"),
        (4, base),                                   # exact copy of eval
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in decontaminate_neardup(
        df, "text", "doc_id", F.pmod(F.col("doc_id"), F.lit(3)) == 0
    ).collect()}
    assert 4 in out and out[4]["n_eval_partners"] >= 1  # exact copy
    assert 1 in out  # paraphrase still shares bands
    assert 2 not in out  # unrelated
    assert 0 not in out and 3 not in out  # eval side never flagged


def test_decontaminate_spans_merges_adjacent_hits(spark):
    """Position-level decontamination: overlapping eval-shared grams
    merge into ONE maximal span; clean docs and eval docs emit
    nothing."""
    from pyspark.sql import functions as F

    from isilon_hadoop_tools_spark.operators.corpus import (
        decontaminate_spans,
    )

    rows = [
        (0, "secret bench phrase here plus tail words"),          # eval
        (1, "intro words secret bench phrase here ending"),
        (2, "totally unrelated content with no overlap at all"),
        (97, "another eval only row nothing shared"),             # eval
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r["id"], r["start_tok"], r["end_tok"], r["span_len"], r["n_grams"])
        for r in decontaminate_spans(
            df, "text", "doc_id", F.pmod(F.col("id"), F.lit(97)) == 0, n=3
        ).collect()
    ]
    # doc 1 hits grams at pos 2 ("secret bench phrase") and pos 3
    # ("bench phrase here") -> one merged span [2, 6)
    assert got == [(1, 2, 6, 4, 2)]


def test_decontaminate_cut_accounting_and_eval_excluded(spark):
    """The cut removes exactly the merged contaminated spans from
    TRAINING docs (n_removed + tokens(clean_text) == n_tokens), eval
    rows never appear in the output, clean docs pass through."""
    from pyspark.sql import functions as F

    from isilon_hadoop_tools_spark.operators.corpus import decontaminate_cut

    rows = [
        (0, "secret bench phrase here plus tail words"),          # eval
        (1, "intro words secret bench phrase here ending"),
        (2, "totally unrelated content with no overlap at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in decontaminate_cut(
        df, "text", "doc_id", F.pmod(F.col("id"), F.lit(97)) == 0, n=3
    ).collect()}
    assert set(out) == {1, 2}  # eval doc 0 excluded
    # doc 1's merged span [2, 6) cut: 'intro words ... ending' remains
    assert out[1]["clean_text"] == "intro words ending"
    assert out[1]["n_removed"] == 4
    assert out[2]["n_removed"] == 0
    for r in out.values():
        n_clean = len(r["clean_text"].split()) if r["clean_text"] else 0
        assert r["n_removed"] + n_clean == r["n_tokens"]


def test_trained_lang_id_dominates_heuristic(spark):
    # r12 VERDICT #4: on the stopword-free multilingual fixture the
    # heuristic scores 0 on every doc ('unknown'), so its holdout
    # accuracy is 0; the trained char-3-gram heads must be (near-)
    # perfect on the cleanly-separated vocabularies.
    from pyspark.sql import functions as F

    from isilon_hadoop_tools_spark.functions.text import lang_id
    from isilon_hadoop_tools_spark.operators.corpus import lang_classifier_eval
    from isilon_hadoop_tools_spark.suite.docs_queries import (
        _ML_LANGS,
        _multilang_fixture,
    )
    from isilon_hadoop_tools_spark.sources import tpch

    from conftest import SMOKE_SF_DIR

    docs = _multilang_fixture(
        tpch.load_table(spark, "documents", SMOKE_SF_DIR)
    )
    holdout = docs.filter(F.col("doc_id") % 5 == 0)
    n_holdout = holdout.count()
    assert n_holdout > 0

    # heuristic: zero stopwords anywhere -> 'unknown' for every doc
    heur = holdout.select(
        (lang_id("text") == F.col("lang")).cast("long").alias("hit")
    ).agg(F.sum("hit")).first()[0]
    assert heur == 0

    conf = lang_classifier_eval(
        docs,
        "text",
        "doc_id",
        "lang",
        list(_ML_LANGS),
        F.col("doc_id") % 5 != 0,
        n_buckets=64,
        rounds=2,
        ngram_n=3,
    ).collect()
    correct = sum(
        r["n"] for r in conf if r["labeled_lang"] == r["predicted_lang"]
    )
    total = sum(r["n"] for r in conf)
    assert total == n_holdout
    acc = correct / total
    assert acc >= 0.95, (acc, conf)


def test_paragraph_dedup_keeps_first_occurrence(spark):
    from isilon_hadoop_tools_spark.operators.corpus import paragraph_dedup

    rows = [
        (1, "alpha\nbody\ntail-1"),
        (2, "alpha\nother\ntail-2"),   # 'alpha' dup of doc 1 pos 0
        (3, "body\nbody\ntail-3"),     # within-doc dup + cross-doc dup
        (4, "alpha\nalpha\nalpha"),    # everything cut
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r for r in paragraph_dedup(df, "text", "id").collect()}
    assert out[1]["text_clean"] == "alpha\nbody\ntail-1"
    assert out[1]["n_paras"] == 3 and out[1]["n_kept"] == 3
    assert out[2]["text_clean"] == "other\ntail-2"
    assert out[2]["n_kept"] == 2
    # doc 3: 'body' already kept in doc 1; both copies here cut
    assert out[3]["text_clean"] == "tail-3"
    assert out[3]["n_kept"] == 1
    # doc 4: every paragraph already owned by doc 1
    assert out[4]["text_clean"] == "" and out[4]["n_kept"] == 0
    assert out[4]["n_paras"] == 3


def test_quality_threshold_sweep_grid(spark):
    from pyspark.sql import functions as F

    from isilon_hadoop_tools_spark.operators.corpus import (
        quality_threshold_sweep,
    )

    # scores 0.0, 0.25, 0.5, 1.0 with weights 10, 20, 30, 40
    df = spark.createDataFrame(
        [(0.0, 10), (0.25, 20), (0.5, 30), (1.0, 40)],
        "s double, w int",
    )
    out = {
        r["threshold"]: r
        for r in quality_threshold_sweep(
            df, F.col("s"), F.col("w"), step_m=5
        ).collect()
    }
    assert len(out) == 21
    assert out[0.0]["n_docs_kept"] == 4 and out[0.0]["weight_kept"] == 100
    assert out[0.0]["weight_share"] == 1.0
    assert out[0.25]["n_docs_kept"] == 3 and out[0.25]["weight_kept"] == 90
    assert out[0.3]["n_docs_kept"] == 2 and out[0.3]["weight_kept"] == 70
    assert out[0.55]["n_docs_kept"] == 1 and out[0.55]["weight_kept"] == 40
    assert out[1.0]["n_docs_kept"] == 1 and out[1.0]["weight_share"] == 0.4


def test_zipf_fit_recovers_power_law(spark):
    """L77: a corpus built with freq(rank) = C / rank must fit slope
    ~ -1 with near-perfect R^2; a uniform (templated) corpus fits a
    flat slope."""
    from isilon_hadoop_tools_spark.operators.corpus import zipf_fit

    words = []
    for r in range(1, 41):
        words += [f"w{r:03d}"] * max(1, round(4000 / r))
    zipf_doc = " ".join(words)
    flat_doc = " ".join([f"u{r:03d}" for r in range(1, 41)] * 10)
    df = spark.createDataFrame(
        [(1, zipf_doc)], "doc_id long, text string"
    )
    row = zipf_fit(df, "text", "doc_id", top_n=40).collect()[0]
    assert row["n_terms"] == 40
    assert -1.05 < row["slope"] < -0.95
    assert row["r2"] > 0.999
    flat = zipf_fit(
        spark.createDataFrame([(1, flat_doc)], "doc_id long, text string"),
        "text", "doc_id", top_n=40,
    ).collect()[0]
    assert abs(flat["slope"]) < 1e-6  # all counts equal: flat line


def test_heaps_fit_linear_and_saturated_corpora(spark):
    """L78 exact regimes: a corpus where every doc introduces only
    new terms grows V = N (beta 1, r2 1, ln_k 0); a fully templated
    corpus saturates immediately (beta ~ 0)."""
    from isilon_hadoop_tools_spark.operators.corpus import heaps_fit

    fresh = spark.createDataFrame(
        [
            (d, " ".join(f"w{d:02d}_{i}" for i in range(10)))
            for d in range(1, 21)
        ],
        "doc_id long, text string",
    )
    row = heaps_fit(fresh, "text", "doc_id").collect()[0]
    assert row["n_docs"] == 20
    assert row["n_tokens"] == row["n_terms"] == 200
    assert abs(row["beta"] - 1.0) < 1e-9
    assert abs(row["ln_k"]) < 1e-9
    assert row["r2"] == 1.0

    templated = spark.createDataFrame(
        [(d, "a b c d e f g h i j") for d in range(1, 21)],
        "doc_id long, text string",
    )
    t = heaps_fit(templated, "text", "doc_id").collect()[0]
    assert t["n_terms"] == 10 and t["n_tokens"] == 200
    assert abs(t["beta"]) < 1e-9  # vocabulary never grows


def test_phrase_search_overlaps_order_and_length(spark):
    """L79: overlapping occurrences count separately (positional
    semantics), order matters, and 3-token phrases stitch through two
    joins."""
    import pytest

    from isilon_hadoop_tools_spark.operators.corpus import phrase_search

    df = spark.createDataFrame(
        [
            (1, "a a a b"),
            (2, "a b a"),
            (3, "x a a y a a"),
            (4, "b a"),
        ],
        "doc_id long, text string",
    )
    two = {r["doc_id"]: r["n_matches"]
           for r in phrase_search(df, "text", "doc_id", "a a").collect()}
    assert two == {1: 2, 3: 2}  # overlaps in doc 1 count separately
    rev = {r["doc_id"]: r["n_matches"]
           for r in phrase_search(df, "text", "doc_id", "b a").collect()}
    assert rev == {2: 1, 4: 1}  # order-sensitive
    tri = {r["doc_id"]: r["n_matches"]
           for r in phrase_search(df, "text", "doc_id", "a a b").collect()}
    assert tri == {1: 1}
    with pytest.raises(ValueError):
        phrase_search(df, "text", "doc_id", "solo")


def test_vocab_coverage_oov_rates(spark):
    """L54f: tokens outside the supplied vocabulary count as OOV;
    full-coverage docs read 0; empty-vocab reads 1."""
    from isilon_hadoop_tools_spark.operators.corpus import vocab_coverage

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a x y z")],
        "doc_id long, text string",
    )
    vocab = spark.createDataFrame([("a",), ("b",)], "term string")
    out = {r["doc_id"]: r for r in
           vocab_coverage(docs, "text", "doc_id", vocab).collect()}
    assert out[1]["n_oov"] == 0 and out[1]["oov_rate"] == 0.0
    assert out[2]["n_tokens"] == 4 and out[2]["n_oov"] == 3
    assert out[2]["oov_rate"] == 0.75


def test_gram_novelty_multiplicity_and_rates(spark):
    """L80: candidate grams count with multiplicity, reference grams
    dedupe, and rates are exact on a hand fixture."""
    from pyspark.sql import functions as F

    from isilon_hadoop_tools_spark.operators.corpus import gram_novelty

    docs = spark.createDataFrame(
        [
            (10, "a b c d"),          # reference: grams {a b c, b c d}
            (1, "a b c x"),           # grams: 'a b c'(stale), 'b c x'(new)
            (2, "a b c a b c d"),     # stale twice + 2 bridge grams + stale
            (3, "p q r s"),           # all new
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gram_novelty(
        docs, "text", "doc_id", F.col("doc_id") >= 10, n=3
    ).collect()}
    assert 10 not in out  # reference docs are not scored
    assert out[1]["n_grams"] == 2 and out[1]["n_novel"] == 1
    assert out[1]["novelty_rate"] == 0.5
    # doc 2 grams: 'a b c','b c a','c a b','a b c','b c d' ->
    # stale: 1st, 4th, 5th; novel: 2
    assert out[2]["n_grams"] == 5 and out[2]["n_novel"] == 2
    assert out[3]["novelty_rate"] == 1.0
