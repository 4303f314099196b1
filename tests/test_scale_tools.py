"""Scale-technique tests: salted aggregation matches its unsalted
twin, and bucketed tables co-locate joins with no exchange."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from isilon_hadoop_tools_spark.operators.skew import salted_count


def _skewed(spark, n=5000):
    # 80% of rows share one hot key
    return spark.range(n).select(
        F.when(F.col("id") % 5 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )


def test_salted_count_matches_plain_count(spark):
    df = _skewed(spark)
    plain = {r["k"]: r["count"] for r in df.groupBy("k").count().collect()}
    salted = {r["k"]: r["count"] for r in salted_count(df, "k", salt=4).collect()}
    assert plain == salted


def test_bucketed_join_has_no_shuffle(spark):
    """Both sides bucketed by the join key into the same bucket count
    -> SortMergeJoin with ZERO exchanges (the co-located join the
    engine relies on for repeated fact-fact joins at scale).
    (warehouse.dir is static config, so the default ./spark-warehouse
    is used and gitignored.)"""
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    orders = spark.range(1000).select(
        F.col("id").alias("o_orderkey"), (F.col("id") % 7).alias("o_flag")
    )
    lineitem = spark.range(3000).select(
        (F.col("id") % 1000).alias("l_orderkey"), F.col("id").alias("l_qty")
    )
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
        "overwrite"
    ).saveAsTable("b_orders")
    lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
        "overwrite"
    ).saveAsTable("b_lineitem")

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucket layout satisfies the join
        assert joined.count() == 3000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_zorder_key_interleaves_bits(spark):
    from isilon_hadoop_tools_spark.operators.skew import zorder_key
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(0b1010, 0b0101)], "a long, b long"
    ).select(zorder_key([F.col("a"), F.col("b")], bits=4).alias("z"))
    # interleave a=1010, b=0101 -> bit pairs (a_b, b_b) from LSB:
    # b0: a=0,b=1 -> 10 ; b1: a=1,b=0 -> 01 ; b2: a=0,b=1 -> 10 ; b3: a=1,b=0 -> 01
    # z = sum: a bits at even positions (0,2,4,6), b bits at odd
    expected = sum(
        ((0b1010 >> i) & 1) << (2 * i) | ((0b0101 >> i) & 1) << (2 * i + 1)
        for i in range(4)
    )
    assert df.collect()[0]["z"] == expected


def test_zorder_layout_partitions_cover_all_rows(spark):
    from isilon_hadoop_tools_spark.operators.skew import zorder_layout
    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        (F.col("id") % 256).alias("a"), ((F.col("id") * 7) % 256).alias("b")
    )
    out = zorder_layout(df, [F.col("a"), F.col("b")], bits=8, n_ranges=64)
    rows = out.collect()
    assert sum(r["n_rows"] for r in rows) == 1000
    width = (1 << 16) // 64
    for r in rows:
        assert r["range_id"] * width <= r["z_min"] <= r["z_max"] < (r["range_id"] + 1) * width


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE's runtime skew-join handling: a hot key whose partition
    dwarfs the median gets split into multiple tasks (the final
    adaptive SortMergeJoin is marked skew=true) — the engine's answer
    to skew the salting operator handles manually."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # incompressible per-row padding: shuffle skew detection works
        # on COMPRESSED shuffle-write sizes, so a constant pad would
        # make every partition look tiny
        pad = F.repeat(F.sha2(F.col("id").cast("string"), 256), 4)
        left = spark.range(0, 20_000).select(
            (F.col("id") % 1000).alias("k"), pad.alias("pad")
        )
        # hot key: 0 appears 20k more times -> its partition is far
        # beyond the 64KB threshold while the median stays tiny
        hot = spark.range(20_000, 40_000).select(
            F.lit(0).cast("long").alias("k"), pad.alias("pad")
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.lit("r").alias("tag")
        )
        joined = left.unionByName(hot).join(right, "k")
        # execute THIS queryExecution (count() would plan a separate
        # agg query and leave this one's adaptive plan non-final)
        assert len(joined.collect()) == 40_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_zone_prune_report_clustered_vs_shuffled(spark):
    """On a perfectly clustered id the predicate scans exactly the
    covering zones; on a decorrelated column every zone intersects
    and skip_fraction is 0 — both with a sound certificate."""
    from pyspark.sql import functions as F

    from isilon_hadoop_tools_spark.operators.skew import zone_prune_report

    df = spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") / 100).cast("long").alias("zone"),
        (F.col("id") * 37 % 1000).alias("shuffled"),
    )
    r = zone_prune_report(df, "zone", "id", 250, 449).collect()[0]
    assert r["n_zones"] == 10
    assert r["zones_scanned"] == 3  # zones 2, 3, 4
    assert r["rows_scanned"] == 300
    assert r["rows_matching"] == 200
    assert r["skip_fraction"] == 0.7
    assert r["certificate_ok"]
    r2 = zone_prune_report(df, "zone", "shuffled", 250, 449).collect()[0]
    assert r2["zones_scanned"] == 10  # decorrelated: nothing skips
    assert r2["skip_fraction"] == 0.0
    assert r2["certificate_ok"]


def test_zone_prune_report_no_matches_outside_range(spark):
    """A predicate range beyond the data scans zero zones and skips
    everything."""
    from isilon_hadoop_tools_spark.operators.skew import zone_prune_report

    from pyspark.sql import functions as F

    df = spark.range(0, 100).select(
        "id", (F.col("id") / 10).cast("long").alias("zone")
    )
    r = zone_prune_report(df, "zone", "id", 5000, 6000).collect()[0]
    assert r["zones_scanned"] == 0
    assert r["rows_matching"] == 0
    assert r["skip_fraction"] == 1.0
    assert r["certificate_ok"]


def test_bloom_zone_report_beats_minmax_on_spread_keys(spark):
    """Planted zones whose few keys straddle the whole domain: every
    zone's [min, max] contains the probe (range skipping reads all
    rows) while the bloom prunes every zone not holding the probe —
    up to false positives, never false negatives (certificate)."""
    from isilon_hadoop_tools_spark.operators.skew import bloom_zone_report

    rows = []
    for z in range(6):
        rows.append((z, 0))                  # shared low outlier
        rows.append((z, 10**9))              # shared high outlier
        rows.extend((z, 100 + z) for _ in range(8))  # zone's own key
    df = spark.createDataFrame(rows, "zone long, skey long")
    probe = 102  # lives only in zone 2
    r = bloom_zone_report(df, "zone", "skey", probe).collect()[0]
    assert r["n_zones"] == 6
    assert r["rows_matching"] == 8
    # min/max cannot skip anything: every zone spans [<=7, >=1e9]
    assert r["zones_scanned_minmax"] == 6
    assert r["skip_fraction_minmax"] == 0.0
    # bloom scans the true zone plus at most fp collisions, never 0
    assert 1 <= r["zones_scanned_bloom"] < 6
    assert r["certificate_ok"]
    assert r["skip_fraction_bloom"] > 0.5
    # probing an absent key: zero matches, certificate still holds
    r2 = bloom_zone_report(df, "zone", "skey", 999_999).collect()[0]
    assert r2["rows_matching"] == 0
    assert r2["certificate_ok"]


def test_compaction_plan_hand_built_listing(spark):
    """Hand-built file listing, target 100: partition 'a' packs
    [100, 60, 50, 30] (size-desc order) into start-offset bins
    [1, 2, 2, 3] -> 4 files become 3 (bin 2 = 60+50 = 110: a bin
    accepts files whose start offset falls inside it, so it can
    overflow by at most one file -- the same rule Spark's own
    maxPartitionBytes file coalescing uses); partition 'b' has a jumbo
    (350) that keeps its assigned bin to itself -- the 10-byte file
    starts at offset 350 and lands in a LATER bin -- and dense_rank
    collapses the jumbo's skipped ids so n_files_after counts real
    output files."""
    from isilon_hadoop_tools_spark.operators.skew import compaction_plan

    rows = [
        ("a", 1, 60), ("a", 2, 100), ("a", 3, 30), ("a", 4, 50),
        ("b", 1, 350), ("b", 2, 10),
    ]
    df = spark.createDataFrame(rows, "part string, f int, sz long")
    out = compaction_plan(df, "part", "f", "sz", 100)
    got = {(r["partition"], r["file"]): r for r in out.collect()}
    a = [got[("a", 2)], got[("a", 1)], got[("a", 4)], got[("a", 3)]]
    assert [r["cum_bytes"] for r in a] == [100, 160, 210, 240]
    assert [r["bin_seq"] for r in a] == [1, 2, 2, 3]
    assert all(r["n_files_before"] == 4 and r["n_files_after"] == 3
               for r in a)
    jumbo, small = got[("b", 1)], got[("b", 2)]
    assert jumbo["bin_seq"] == 1 and small["bin_seq"] == 2
    assert jumbo["n_files_after"] == 2  # dense: ids 1 and 4 -> seq 1, 2
    with pytest.raises(ValueError):
        compaction_plan(df, "part", "f", "sz", 0)


def test_compaction_execute_rewrites_and_certifies(spark, tmp_path):
    """The executor writes ONE parquet file per plan bin (verified
    against an independent filesystem walk), the read-back checksum
    equals the original's, and both certificates report true."""
    import pathlib

    from isilon_hadoop_tools_spark.operators.skew import (
        compaction_execute,
        compaction_plan,
    )

    rows = [(i, f"p{i % 2}", i % 5, f"v{i}") for i in range(200)]
    df = spark.createDataFrame(rows, "id long, part string, f long, v string")
    files = df.groupBy(
        F.col("part").alias("partition"), F.col("f").alias("file")
    ).agg((F.count(F.lit(1)) * 100).alias("size_bytes"))
    plan = compaction_plan(files, "partition", "file", "size_bytes", 250)
    out_dir = str(tmp_path / "compacted")
    r = compaction_execute(
        df, plan,
        partition_expr=F.col("part"),
        file_expr=F.col("f"),
        out_dir=out_dir,
        checksum_cols=["id", "v"],
    ).collect()[0]
    assert r["n_rows"] == 200
    assert r["checksums_match"] and r["layout_matches_plan"]
    assert r["checksum_before"] == r["checksum_after"]
    # independent filesystem walk agrees with the certificate
    on_disk = len(list(pathlib.Path(out_dir).rglob("part-*.parquet")))
    assert on_disk == r["files_written"] == r["n_files_after"]
    # 2 partitions x 5 files of 500B at target 250 -> 500B jumbo
    # files each get their own bin: 10 before, 10 after? no -- each
    # file is 40 rows * 100 = 4000B >> 250 -> every file its own bin
    assert r["n_files_before"] == 10


def test_layout_write_footer_stats_real_footers(spark, tmp_path):
    """3000 rows keyed by id in 1024-row zones: the parquet FOOTER
    stats (read via pyarrow) must equal the logically-computed zone
    stats (footer_ok everywhere), zones are contiguous value ranges
    on the clustered column, and only the zones intersecting the
    predicate are marked scanned."""
    from isilon_hadoop_tools_spark.operators.skew import (
        layout_write_footer_stats,
    )

    df = spark.range(3000).select(F.col("id"))
    out = layout_write_footer_stats(
        df,
        F.col("id"),
        "id",
        F.col("id"),
        str(tmp_path / "zones"),
        rows_per_file=1024,
        lo=1100,
        hi=1200,
    ).collect()
    rows = {r["zone"]: r for r in out}
    assert sorted(rows) == [0, 1, 2]
    assert [rows[z]["n_rows"] for z in (0, 1, 2)] == [1024, 1024, 952]
    assert all(r["footer_ok"] for r in out)
    assert (rows[0]["mn"], rows[0]["mx"]) == (0, 1023)
    assert (rows[1]["mn"], rows[1]["mx"]) == (1024, 2047)
    assert (rows[2]["mn"], rows[2]["mx"]) == (2048, 2999)
    # predicate [1100, 1200] lives entirely in zone 1
    assert [rows[z]["scanned"] for z in (0, 1, 2)] == [False, True, False]


def test_hilbert_key_matches_reference_walk(spark):
    """hilbert_key equals the classical xy2d rotate-and-reflect walk
    on random order-8 points; at order 2 it is a bijection onto
    0..15 whose consecutive keys are ALWAYS grid neighbors (the
    continuity property Morton lacks -- the reason Hilbert zones
    prune tighter); 2-column arity is enforced."""
    import random

    import pytest as _pytest

    from isilon_hadoop_tools_spark.operators.skew import hilbert_key

    def ref_xy2d(order, x, y):
        d, s = 0, order // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    rng = random.Random(3)
    pts = [(rng.randrange(256), rng.randrange(256)) for _ in range(200)]
    pts += [(x, y) for x in range(4) for y in range(4)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {(r["x"], r["y"]): r["d"] for r in df.select(
        "x", "y", hilbert_key(["x", "y"], 8).alias("d")
    ).collect()}
    assert all(got[(x, y)] == ref_xy2d(256, x, y) for x, y in pts)
    small = {(r["x"], r["y"]): r["d"] for r in df.filter(
        "x < 4 and y < 4"
    ).select("x", "y", hilbert_key(["x", "y"], 2).alias("d")).collect()}
    assert sorted(small.values()) == list(range(16))
    inv = {d: xy for xy, d in small.items()}
    assert all(
        abs(inv[d][0] - inv[d + 1][0]) + abs(inv[d][1] - inv[d + 1][1]) == 1
        for d in range(15)
    )
    with _pytest.raises(ValueError):
        hilbert_key(["x"], 8)


def test_bloom_semi_join_equals_exact_semi_join(spark):
    """SC11: the Bloom prefilter must be INVISIBLE in the result -
    false positives are verified away - even with a deliberately
    tiny bitmap (high FP rate), and an empty small side yields an
    empty result."""
    from pyspark.sql import functions as F

    from isilon_hadoop_tools_spark.operators.skew import bloom_semi_join

    big = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("payload")
    )
    small = spark.createDataFrame(
        [(i * 37,) for i in range(20)], "sk long"
    )
    exact = sorted(
        map(tuple, big.join(
            small, big["k"] == small["sk"], "left_semi"
        ).collect())
    )
    got = sorted(map(tuple, bloom_semi_join(
        big, small, "k", "sk"
    ).collect()))
    assert got == exact and len(exact) > 0
    # tiny bitmap: every probe likely passes the Bloom, the exact
    # verification still removes every false positive
    noisy = sorted(map(tuple, bloom_semi_join(
        big, small, "k", "sk", m_bits=8, k_hashes=2
    ).collect()))
    assert noisy == exact
    empty = bloom_semi_join(
        big, small.filter(F.lit(False)), "k", "sk"
    ).count()
    assert empty == 0
