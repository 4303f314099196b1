"""Scalar function helpers (SURVEY §2.8): octal modes (sticky-bit
round-trip, reference ``onefs.py:822,1219``), IPv4<->int + range
expansion (``onefs.py:1182-1197``), posix paths
(``directories.py:63``), and text expressions."""

from __future__ import annotations

from pyspark.sql import functions as F

from isilon_hadoop_tools_spark.functions.ip import (
    expand_ip_ranges,
    ip_to_long,
    long_to_ip,
)
from isilon_hadoop_tools_spark.functions.octal import from_octal, to_octal
from isilon_hadoop_tools_spark.functions.paths import posix_join
from isilon_hadoop_tools_spark.functions.text import (
    bpe_token_count,
    char_ngrams,
    punct_ratio,
    stopword_ratio,
    token_count,
    tokens,
)


def _one(spark, expr, **cols):
    schema = ", ".join(f"{k} STRING" for k in cols)
    df = spark.createDataFrame([tuple(cols.values())], schema or "dummy STRING")
    return df.select(expr.alias("out")).first()["out"]


# ---------- octal (sticky bit must survive the round trip) ----------


def test_to_octal_sticky_bit(spark):
    df = spark.createDataFrame([(0o1777,), (0o755,), (0o644,)], "mode INT")
    out = [r["o"] for r in df.select(to_octal("mode").alias("o")).collect()]
    assert out == ["1777", "755", "644"]


def test_octal_round_trip(spark):
    modes = [0o1777, 0o755, 0o700, 0o1755, 0o777]
    df = spark.createDataFrame([(m,) for m in modes], "mode INT")
    out = df.select(
        "mode", from_octal(to_octal("mode")).alias("back")
    ).collect()
    for r in out:
        assert r["back"] == r["mode"]


# ---------- ipv4 ----------


def test_ip_to_long_big_endian(spark):
    # struct.unpack("!I", socket.inet_aton("10.1.2.3")) == 167838211
    assert _one(spark, ip_to_long("ip"), ip="10.1.2.3") == 167838211
    assert _one(spark, ip_to_long("ip"), ip="0.0.0.0") == 0
    assert _one(spark, ip_to_long("ip"), ip="255.255.255.255") == 4294967295


def test_ip_round_trip(spark):
    for ip in ("10.1.2.3", "192.168.0.1", "255.0.255.0"):
        assert _one(spark, long_to_ip(ip_to_long("ip")), ip=ip) == ip


def test_expand_ip_ranges(spark):
    pools = spark.createDataFrame(
        [("10.0.0.1", "10.0.0.3"), ("10.0.0.3", "10.0.0.5")], "lo STRING, hi STRING"
    )
    addrs = {r["addr"] for r in expand_ip_ranges(pools, "lo", "hi").collect()}
    # overlapping ranges dedup to the union
    assert addrs == {f"10.0.0.{i}" for i in range(1, 6)}


# ---------- posix paths ----------


def test_posix_join_relative(spark):
    assert (
        _one(spark, posix_join("root", "rel"), root="/ifs/zone", rel="user/hive")
        == "/ifs/zone/user/hive"
    )


def test_posix_join_absolute_rel_rerooted(spark):
    assert (
        _one(spark, posix_join("root", "rel"), root="/ifs/zone/", rel="/user")
        == "/ifs/zone/user"
    )


def test_posix_join_collapses_slashes(spark):
    assert (
        _one(spark, posix_join("root", "rel"), root="/ifs//zone//", rel="//a//b")
        == "/ifs/zone/a/b"
    )


# ---------- text ----------


def test_tokens_empty_is_empty_array(spark):
    assert _one(spark, tokens("t"), t="") == []
    assert _one(spark, tokens("t"), t="  one two  ") == ["one", "two"]


def test_token_count(spark):
    assert _one(spark, token_count("t"), t="a b  c") == 3
    assert _one(spark, token_count("t"), t="") == 0


def test_bpe_token_count_runs_and_counts(spark):
    # regression: regexp_extract_all with a groupless pattern needs
    # idx=0 or it raises at execution time
    # "hello, world42!" -> hello | , | world | 42 | !
    assert _one(spark, bpe_token_count("t"), t="hello, world42!") == 5


def test_char_ngrams(spark):
    assert _one(spark, char_ngrams("t", 3), t="abcd") == ["abc", "bcd"]
    assert _one(spark, char_ngrams("t", 3), t="ab") == []


def test_uuid_and_seeded_rand(spark):
    """F12: uuid() yields distinct RFC-4122 strings; rand(seed) is
    deterministic across runs of the same plan."""
    import re

    df = spark.range(100)
    uuids = [r["u"] for r in df.select(F.expr("uuid()").alias("u")).collect()]
    assert len(set(uuids)) == 100
    assert all(re.fullmatch(r"[0-9a-f-]{36}", u) for u in uuids)
    a = [r["x"] for r in df.select(F.rand(seed=42).alias("x")).collect()]
    b = [r["x"] for r in df.select(F.rand(seed=42).alias("x")).collect()]
    assert a == b


def test_lang_id_on_real_sentences(spark):
    from isilon_hadoop_tools_spark.functions.text import lang_id

    cases = [
        ("the cat is one of the best animals", "en"),
        ("der hund ist nicht die katze und das pferd", "de"),
        ("el perro y los gatos es una historia", "es"),
        ("le chien et les chats est une histoire dans paris", "fr"),
        ("xyzzy plugh", "unknown"),
    ]
    for text, expected in cases:
        assert _one(spark, lang_id("t"), t=text) == expected


def test_punct_ratio(spark):
    assert _one(spark, punct_ratio("t"), t="") == 0.0
    assert abs(_one(spark, punct_ratio("t"), t="ab,.") - 0.5) < 1e-9


def test_stopword_ratio(spark):
    val = _one(spark, stopword_ratio("t", ("the", "a")), t="the cat a hat x")
    assert abs(val - 0.4) < 1e-9
    assert _one(spark, stopword_ratio("t", ("the",)), t="") == 0.0


def test_feature_bitmap_decode_matches_reference_semantics(spark):
    # reference onefs.py:1010-1035: supported iff feature_bit ==
    # i*64 + offset for any entry i of the feature's gen; absent gen
    # falls back to gen <= default_gen
    from isilon_hadoop_tools_spark.functions.features import GEN, supported_features

    gen_bits = spark.createDataFrame(
        [
            (GEN["PIPE"], 0, [0, 3]),      # bits 0 and 3
            (GEN["PIPE"], 1, [1]),         # bit 64+1 = 65
            (GEN["FRTR"], 0, []),          # present but empty
        ],
        "gen long, entry_idx int, offsets array<int>",
    )
    probes = spark.createDataFrame(
        [
            ("pipe_bit3", GEN["PIPE"], 3),     # hit in entry 0
            ("pipe_bit65", GEN["PIPE"], 65),   # hit via i*64+offset
            ("pipe_bit7", GEN["PIPE"], 7),     # miss
            ("frtr_bit0", GEN["FRTR"], 0),     # gen present, no offsets
            ("old_gen", GEN["JAWS"], 0),       # absent gen <= default
            ("new_gen", GEN["ERA1"], 0),       # absent gen > default
        ],
        "feature string, feature_gen long, feature_bit int",
    )
    out = {
        r["feature"]: r["supported"]
        for r in supported_features(gen_bits, probes, default_gen=GEN["KANA"]).collect()
    }
    assert out == {
        "pipe_bit3": True,
        "pipe_bit65": True,
        "pipe_bit7": False,
        "frtr_bit0": False,
        "old_gen": True,
        "new_gen": False,
    }


def test_revision_gate_matches_reference_releases(spark):
    # onefs.py:1038-1042 branches on revision < 8.0.1.0; feature flags
    # (onefs.py:1019-1022) need >= 8.2.0.0
    from isilon_hadoop_tools_spark.functions.versions import (
        ONEFS_RELEASES,
        revision_at_least,
        revision_long,
    )
    from pyspark.sql import functions as F

    rows = [
        ("old", f"{ONEFS_RELEASES['8.0.0.4']:x}"),
        ("mid", f"0x{ONEFS_RELEASES['8.1.2.0']:X}"),  # 0x prefix, upper
        ("new", f"{ONEFS_RELEASES['8.2.3.0']:x}"),
    ]
    df = spark.createDataFrame(rows, "name string, revision string")
    out = {
        r["name"]: (r["flush_new_api"], r["features_ok"], r["rev_long"])
        for r in df.select(
            "name",
            revision_at_least("revision", "8.0.1.0").alias("flush_new_api"),
            revision_at_least("revision", "8.2.0.0").alias("features_ok"),
            revision_long("revision").alias("rev_long"),
        ).collect()
    }
    assert out["old"] == (False, False, ONEFS_RELEASES["8.0.0.4"])
    assert out["mid"] == (True, False, ONEFS_RELEASES["8.1.2.0"])
    assert out["new"] == (True, True, ONEFS_RELEASES["8.2.3.0"])


def test_license_status_matches_reference_branches(spark):
    # onefs.py:796-806 + _license_is_active onefs.py:606-607
    from isilon_hadoop_tools_spark.sources.cluster import (
        license_status,
        licenses_df,
    )

    out = {
        r["name"]: r["license_state"]
        for r in license_status(licenses_df(spark), as_of="2026-08-13").collect()
    }
    assert out == {
        "SmartConnect Advanced": "active",
        "HDFS": "active",  # evaluation counts as active by status
        "CloudPools": "expired",
        "SyncIQ": "missing",
    }
