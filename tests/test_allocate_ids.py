"""Contiguous ID allocation (SURVEY W1) — the engine's parallel
re-expression of the reference's serial counter probe
(``identities.py:75-89,126-149``)."""

from __future__ import annotations

from isilon_hadoop_tools_spark.operators.allocate_ids import allocate_ids


def test_allocate_contiguous_no_taken(spark):
    names = spark.createDataFrame([("b",), ("a",), ("c",)], "name STRING")
    out = {
        r["name"]: r["uid"]
        for r in allocate_ids(names, "name", start=1025, out_col="uid").collect()
    }
    # k-th name in sorted order gets the k-th ID
    assert out == {"a": 1025, "b": 1026, "c": 1027}


def test_allocate_skips_taken_ids(spark):
    names = spark.createDataFrame([(n,) for n in "abcde"], "name STRING")
    taken = spark.createDataFrame([(1025,), (1027,), (1028,)], "id INT")
    out = {
        r["name"]: r["uid"]
        for r in allocate_ids(names, "name", taken, start=1025, out_col="uid").collect()
    }
    # free IDs in order: 1026, 1029, 1030, 1031, 1032
    assert out == {"a": 1026, "b": 1029, "c": 1030, "d": 1031, "e": 1032}


def test_allocate_dedups_names(spark):
    names = spark.createDataFrame([("a",), ("a",), ("b",)], "name STRING")
    rows = allocate_ids(names, "name", start=1).collect()
    assert len(rows) == 2
    assert {r["id"] for r in rows} == {1, 2}
