"""Error-algebra tests: the reference's 10 malformation cases
(``tests/conftest.py:424-533``), the exception hierarchy
(``tests/test_onefs.py:402-426``), and the 15 message predicates."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from isilon_hadoop_tools_spark import IsilonHadoopToolsSparkError
from isilon_hadoop_tools_spark import errors as E


def _df(spark, bodies):
    return spark.createDataFrame(
        [(i, b) for i, b in enumerate(bodies)], "err_id INT, body STRING"
    )


def _classify(spark, body):
    return _df(spark, [body]).select(E.classify_body("body").alias("v")).first()["v"]


# The reference's malformation matrix, one assertion per fixture case.
CASES = [
    ('{"errors": [{"message": "x"}]}', E.VALID),
    ('{"errors": [{}]}', E.MALFORMED),  # KeyError case
    ('{"errors": [[]]}', E.MALFORMED),  # TypeError case
    ('{"errors": []}', E.VALID),  # empty errors is fine
    ('{"errors": null}', E.MALFORMED),  # not iterable
    ("{}", E.MALFORMED),  # 'errors' missing (bug 248011 analog)
    ("[]", E.MALFORMED),  # top level not an object
    ("not JSON", E.UNDECODABLE),
    (None, E.UNDECODABLE),  # no body
    ("", E.UNDECODABLE),  # uninitialized
]


@pytest.mark.parametrize("body,expected", CASES)
def test_classification_matrix(spark, body, expected):
    assert _classify(spark, body) == expected


def test_exception_hierarchy():
    assert issubclass(E.UndecodableErrorBody, E.MalformedErrorBody)
    assert issubclass(E.MalformedErrorBody, E.ErrorAlgebraError)
    assert issubclass(E.ErrorAlgebraError, IsilonHadoopToolsSparkError)


def test_parse_messages_explodes(spark):
    body = json.dumps({"errors": [{"message": "a"}, {"message": "b"}]})
    out = E.parse_messages(_df(spark, [body, "not JSON"]))
    assert sorted(r["message"] for r in out.collect()) == ["a", "b"]


@pytest.mark.parametrize("kind", sorted(E.FORMATS))
def test_each_matcher_matches_its_rendered_message(spark, kind):
    ctx_vals = {
        "gid": 1026,
        "uid": 2001,
        "group_name": "hadoop",
        "user_name": "hdfs",
        "proxy_name": "oozie",
        "license_name": "HDFS",
        "zone_name": "zone1",
    }
    message = E.FORMATS[kind].format(
        *[ctx_vals[p] for p in E.MATCHER_PARAMS[kind]]
    )
    df = spark.createDataFrame(
        [(message, *ctx_vals.values())],
        "message STRING, gid INT, uid INT, group_name STRING, user_name STRING, "
        "proxy_name STRING, license_name STRING, zone_name STRING",
    )
    ctx = {k: F.col(k) for k in ctx_vals}
    row = df.select(
        E.first_match("message", ctx).alias("kind"),
        E.matcher(kind, F.col("message"), ctx).alias("m"),
    ).first()
    assert row["m"] is True
    assert row["kind"] == kind


def test_wrong_params_do_not_match(spark):
    df = spark.createDataFrame(
        [("Group already exists with gid '1026'", 9999)], "message STRING, gid INT"
    )
    assert (
        df.select(
            E.matcher("gid_already_exists", F.col("message"), {"gid": F.col("gid")})
            .alias("m")
        ).first()["m"]
        is False
    )


def test_is_transient(spark):
    df = spark.createDataFrame(
        [(E.FORMATS["try_again"],), ("other",)], "message STRING"
    )
    got = [r["t"] for r in df.select(E.is_transient("message").alias("t")).collect()]
    assert got == [True, False]
