"""Shared core of the suite package: the registry, the @query
decorator, table loading/caching, oracle-builder helpers, and the
driver-gate ordering logic. Family modules import from here; the
package __init__ imports the families in a fixed order and then
enforces the canonical registration order."""

from __future__ import annotations

import os
import re as _re
import shutil
from dataclasses import dataclass
from pathlib import Path
from typing import Callable, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from isilon_hadoop_tools_spark import multimodal as M
from isilon_hadoop_tools_spark.functions.hashing import (
    stable_hash32,
    stable_hash32_sql,
)
from isilon_hadoop_tools_spark.operators import similarity
from isilon_hadoop_tools_spark.session import shuffle_partition_count
from isilon_hadoop_tools_spark.oracle import values_cte
from isilon_hadoop_tools_spark.sources import catalogs, tpch


@dataclass
class QuerySpec:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # None => driver does a rows-only check


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        REGISTRY[name] = QuerySpec(fn, oracle)
        return fn

    return deco


# Shared base-table reads: at the correctness scales (sf0.001/sf0.01)
# every suite query used to re-read its parquet inputs from scratch;
# with 100+ queries per oracle run that re-scan dominated the gate's
# wall clock. Cache each (session, sf_dir, table) once and let all
# queries hang off the same in-memory relation. Disabled at bench
# scales (the benchmark should measure real scans) and switchable off
# for the physical-plan audits (which assert parquet pushdown, a
# property an InMemoryTableScan would mask).
CACHE_TABLES = os.environ.get("SPARK_GRAFT_CACHE_TABLES", "1") != "0"


_CACHEABLE_SF = ("sf0.001", "sf0.01")


# keyed by the session OBJECT (not id(spark): holding only the id
# would let a garbage-collected session's id be reused by a new one,
# aliasing cached DataFrames of a dead session)
_TABLE_CACHE: dict[tuple[SparkSession, str, str], DataFrame] = {}

# Plan-only memo for the NON-cacheable scales (bench sf0.1): re-running
# tpch.load_table per query call pays a py4j file-listing + footer
# schema read + two conf roundtrips every time — measured ~0.14 s of
# the 0.35 s events_hourly_rollup wall, i.e. the per-query FIXED
# overhead the r13/r15 bench creep concentrated on (pure driver-side
# Python, hypersensitive to machine load). Reusing the DataFrame
# OBJECT reuses the resolved relation; it does NOT .cache() data, so
# bench executions still scan parquet and pushdown audits still see
# the real scan.
_PLAN_CACHE: dict[tuple[SparkSession, str, str], DataFrame] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if not CACHE_TABLES:
        return tpch.load_table(spark, name, sf_dir)
    key = (spark, sf_dir, name)
    if os.path.basename(sf_dir.rstrip("/")) not in _CACHEABLE_SF:
        df = _PLAN_CACHE.get(key)
        if df is None:
            df = tpch.load_table(spark, name, sf_dir)
            _PLAN_CACHE[key] = df
        return df
    df = _TABLE_CACHE.get(key)
    if df is None:
        df = tpch.load_table(spark, name, sf_dir).cache()
        _TABLE_CACHE[key] = df
    return df


Q1_CUTOFF = "1999-12-31 00:00:00"


def _users_cte(dist: str, zone: str = "zone1") -> str:
    return values_cte(
        "seed_users", ["user_name", "primary_group"], catalogs.user_rows(dist, zone)
    )


def _pool_int_sql(col: str) -> str:
    return (
        f"split_part({col}, '.', 1)::BIGINT * 16777216"
        f" + split_part({col}, '.', 2)::BIGINT * 65536"
        f" + split_part({col}, '.', 3)::BIGINT * 256"
        f" + split_part({col}, '.', 4)::BIGINT"
    )


_SFX = "-c1"


_PROBE_USERS = ("hdfs", "hive", "yarn")


def _uid_lookup_oracle() -> str:
    n_u = len(catalogs.user_rows("cdh"))
    n_g = len(catalogs.group_rows("cdh"))
    probes = ", ".join(f"'{u}'" for u in _PROBE_USERS)
    return f"""
    WITH {_users_cte('cdh')},
    {values_cte('seed_groups', ['group_name'], catalogs.group_rows('cdh'))},
    users_f AS (
      SELECT user_name, primary_group,
             1024 + row_number() OVER (ORDER BY user_name) AS uid
      FROM seed_users
    ),
    groups_f AS (
      SELECT group_name,
             1024 + row_number() OVER (ORDER BY group_name) AS gid
      FROM seed_groups
    )
    SELECT u.user_name, u.uid, u.primary_group, g.gid
    FROM users_f u JOIN groups_f g ON g.group_name = u.primary_group
    WHERE u.user_name IN ({probes})
    """


_DIR_SUFFIX = "-prod"


_TAKEN_UIDS = (1026, 1027, 1030, 1040)


def _allocation_oracle(dist: str) -> str:
    n = len(catalogs.user_rows(dist))
    hi = 1025 + n + len(_TAKEN_UIDS) - 1
    taken = ", ".join(f"({t})" for t in _TAKEN_UIDS)
    return f"""
    WITH {_users_cte(dist)},
    taken(id) AS (VALUES {taken}),
    ranked AS (
      SELECT user_name, row_number() OVER (ORDER BY user_name) AS rk
      FROM seed_users
    ),
    free AS (
      SELECT gs.g AS id, row_number() OVER (ORDER BY gs.g) AS rk
      FROM generate_series(1025, {hi}) gs(g)
      WHERE gs.g NOT IN (SELECT id FROM taken)
    )
    SELECT r.user_name, f.id AS uid
    FROM ranked r JOIN free f USING (rk)
    """


# Desired-vs-actual reconciliation fixture: actual = CDH users with
# three rows missing (→ create), one primary group drifted (→ update),
# and one stray row (→ orphan).
_RECON_MISSING = ("flume", "kafka", "sentry")


_RECON_DRIFTED = {"hive": "hadoop"}


_RECON_STRAY = ("legacy-svc", "legacy-svc")


def _actual_user_rows() -> list[tuple[str, str]]:
    rows = []
    for name, pgroup in catalogs.user_rows("cdh"):
        if name in _RECON_MISSING:
            continue
        rows.append((name, _RECON_DRIFTED.get(name, pgroup)))
    rows.append(_RECON_STRAY)
    return sorted(rows)


# state and stream-source dirs live in this checkout's .scratch, so two
# trees (a past commit under A/B, a second gate) never share them
_SCRATCH = str(Path(__file__).resolve().parents[2] / ".scratch")


def _fresh_state(spark: SparkSession, name: str):
    from isilon_hadoop_tools_spark.plans.state import ParquetState

    root = f"{_SCRATCH}/{name}"
    shutil.rmtree(root, ignore_errors=True)
    return ParquetState(spark, root)


def _sliced_stream(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    sf_dir: str,
    key: str = "doc_id",
    residues: tuple = (0, 1, 2),
) -> DataFrame:
    """``df`` as a file stream of one micro-batch per residue: batch
    ``n`` is the single-file slice ``pmod(key, 3) == residues[n]``,
    written as ``b{n}.parquet`` under ``_SCRATCH/<name>_src_<tag>``
    with its mtime in batch order, and the stream reads one file per
    trigger — so a registered ``*_index_stream`` query folds its input
    in three batches, in a fixed order."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    stream_dir = f"{_SCRATCH}/{name}_src_{tag}"
    shutil.rmtree(stream_dir, ignore_errors=True)
    os.makedirs(stream_dir)
    for n, residue in enumerate(residues):
        tmp = f"{stream_dir}.slice{n}"
        df.filter(F.pmod(F.col(key), F.lit(3)) == residue).coalesce(
            1
        ).write.mode("overwrite").parquet(tmp)
        part = next(
            f for f in sorted(os.listdir(tmp)) if f.startswith("part-")
        )
        dst = os.path.join(stream_dir, f"b{n}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (1_700_000_000 + n, 1_700_000_000 + n))
        shutil.rmtree(tmp)
    schema = spark.read.parquet(f"{stream_dir}/b0.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/b*.parquet")
    )


# Pre-existing cluster state: one group and one user already created
# with out-of-sequence IDs — exercises both ID adoption (the existing
# rows keep their IDs/attributes, reference identities.py:251-262) and
# collision skip (allocation must step over 1030/1026).
_PRE_GROUP = ("hadoop", 1030)


_PRE_USER = ("hdfs", 1026, "hadoop")


def _apply_identities_oracle() -> str:
    n_g = len(catalogs.group_rows("cdh"))
    n_u = len(catalogs.user_rows("cdh"))
    hi_g = 1025 + n_g + 8
    hi_u = 1025 + n_u + 8
    return f"""
    WITH {values_cte('seed_groups', ['group_name'], catalogs.group_rows('cdh'))},
    {_users_cte('cdh')},
    pre_g(group_name, gid) AS (VALUES ('{_PRE_GROUP[0]}', {_PRE_GROUP[1]})),
    pre_u(user_name, uid, primary_group) AS (
      VALUES ('{_PRE_USER[0]}', {_PRE_USER[1]}, '{_PRE_USER[2]}')),
    ranked_g AS (
      SELECT group_name, row_number() OVER (ORDER BY group_name) AS rk
      FROM seed_groups WHERE group_name NOT IN (SELECT group_name FROM pre_g)
    ),
    free_g AS (
      SELECT gs.g AS gid, row_number() OVER (ORDER BY gs.g) AS rk
      FROM generate_series(1025, {hi_g}) gs(g)
      WHERE gs.g NOT IN (SELECT gid FROM pre_g)
    ),
    groups_f AS (
      SELECT group_name, gid FROM pre_g
      UNION ALL
      SELECT r.group_name, f.gid FROM ranked_g r JOIN free_g f USING (rk)
    ),
    ranked_u AS (
      SELECT user_name, primary_group,
             row_number() OVER (ORDER BY user_name) AS rk
      FROM seed_users WHERE user_name NOT IN (SELECT user_name FROM pre_u)
    ),
    free_u AS (
      SELECT gs.g AS uid, row_number() OVER (ORDER BY gs.g) AS rk
      FROM generate_series(1025, {hi_u}) gs(g)
      WHERE gs.g NOT IN (SELECT uid FROM pre_u)
    ),
    users_f AS (
      SELECT user_name, uid, primary_group FROM pre_u
      UNION ALL
      SELECT r.user_name, f.uid, r.primary_group
      FROM ranked_u r JOIN free_u f USING (rk)
    )
    SELECT u.user_name, u.uid, u.primary_group, g.gid AS primary_gid
    FROM users_f u JOIN groups_f g ON g.group_name = u.primary_group
    """


_STRAY_USERS = (("legacy-svc", "legacy-svc"), ("old-etl", "etl"))


# S8 fixture: actual filesystem permissions = the resolved CDH catalog
# with two paths absent (→ mkdir), one mode drifted (→ chmod), one
# owner drifted (→ chown), one mode+group drifted (→ chmod+chown), and
# one path the catalog doesn't know (→ foreign). Modes are octal
# STRINGS — the shape a filesystem-metadata scan returns (S8,
# onefs.py:1209-1221 parses int(acl.mode, 8)).
_PERM_ROOT = "/ifs/zone1/hadoop"


_PERM_MISSING = frozenset({"/user/flume", "/user/sqoop2"})


_PERM_CHMOD = {"/tmp/hive": 0o755}


_PERM_CHOWN = {"/user/hue": "hue-legacy"}


_PERM_CHMOD_CHOWN = {"/user/spark": (0o755, "hadoop")}


_PERM_FOREIGN = (f"{_PERM_ROOT}/legacy", "nobody", "nobody", "755")


def _actual_perm_rows() -> list[tuple[str, str, str, str]]:
    rows = []
    for _seq, path, owner, grp, mode in catalogs.directory_rows("cdh"):
        if path in _PERM_MISSING:
            continue
        if path in _PERM_CHMOD:
            mode = _PERM_CHMOD[path]
        if path in _PERM_CHOWN:
            owner = _PERM_CHOWN[path]
        if path in _PERM_CHMOD_CHOWN:
            mode, grp = _PERM_CHMOD_CHOWN[path]
        abs_path = _PERM_ROOT + ("" if path == "/" else path)
        rows.append((abs_path, owner, grp, f"{mode:o}"))
    rows.append(_PERM_FOREIGN)
    return sorted(rows)


def _script_oracle() -> str:
    n_g = len(catalogs.group_rows("cdh"))
    n_u = len(catalogs.user_rows("cdh"))
    return f"""
    WITH {values_cte('seed_groups', ['group_name'], catalogs.group_rows('cdh'))},
    {_users_cte('cdh')},
    {values_cte('seed_m', ['user_name', 'group_name'], catalogs.membership_rows('cdh'))},
    groups_f AS (
      SELECT group_name,
             1024 + row_number() OVER (ORDER BY group_name) AS gid
      FROM seed_groups
    ),
    users_f AS (
      SELECT user_name, primary_group,
             1024 + row_number() OVER (ORDER BY user_name) AS uid
      FROM seed_users
    )
    SELECT 1 AS stage, group_name AS sort_key,
           'groupadd --gid ' || gid || ' ' || group_name AS line
    FROM groups_f
    UNION ALL
    SELECT 2 AS stage, u.user_name AS sort_key,
           'useradd --uid ' || u.uid || ' --gid ' || g.gid || ' ' || u.user_name
             AS line
    FROM users_f u JOIN groups_f g ON g.group_name = u.primary_group
    UNION ALL
    SELECT 3 AS stage, user_name || ':' || group_name AS sort_key,
           'usermod -a -G ' || group_name || ' ' || user_name AS line
    FROM seed_m
    """


_ERR_CTX = {
    "gid": 1026,
    "uid": 2001,
    "group_name": "hadoop",
    "user_name": "hdfs",
    "proxy_name": "oozie",
    "license_name": "HDFS",
    "zone_name": "zone1",
}


_ERR_COLS = ["err_id", "body"] + list(_ERR_CTX)


def _err_body(*messages: str) -> str:
    import json as _json

    return _json.dumps({"errors": [{"message": m} for m in messages]})


def _rendered_py(kind: str) -> str:
    from isilon_hadoop_tools_spark import errors as _e

    args = [_ERR_CTX[p] for p in _e.MATCHER_PARAMS[kind]]
    return _e.FORMATS[kind].format(*args)


def _error_seed_rows() -> list[tuple]:
    from isilon_hadoop_tools_spark import errors as _e

    ctx = tuple(_ERR_CTX.values())
    rows = []
    for i, kind in enumerate(_e.FORMATS, start=1):
        rows.append((i, _err_body(_rendered_py(kind)), *ctx))
    rows += [
        (16, _err_body("something else entirely"), *ctx),
        (17, _err_body(_rendered_py("try_again"), _rendered_py("group_already_exists")), *ctx),
        # the reference's 10 malformation fixtures, conftest.py:424-533
        (18, '{"errors": [{}]}', *ctx),
        (19, '{"errors": [[]]}', *ctx),
        (20, '{"errors": []}', *ctx),
        (21, '{"errors": null}', *ctx),
        (22, "{}", *ctx),
        (23, "[]", *ctx),
        (24, "not JSON", *ctx),
        (25, None, *ctx),
        (26, "", *ctx),
        (27, _err_body(""), *ctx),
    ]
    return rows


_ERR_SCHEMA = (
    "err_id INT, body STRING, gid INT, uid INT, group_name STRING, "
    "user_name STRING, proxy_name STRING, license_name STRING, zone_name STRING"
)


_ERR_VALID_SQL = """
      body IS NOT NULL AND json_valid(body)
      AND json_type(try_cast(body AS JSON)) = 'OBJECT'
      AND json_type(try_cast(body AS JSON), '$.errors') IS NOT DISTINCT FROM 'ARRAY'
      AND len(list_filter(
            json_transform(body, '{"errors":[{"message":"VARCHAR"}]}').errors,
            e -> e.message IS NULL)) = 0
"""


def _sql_rendered(kind: str) -> str:
    """DuckDB twin of errors.rendered(): fmt-style format() call."""
    from isilon_hadoop_tools_spark import errors as _e

    fmt_sql = _e.FORMATS[kind].replace("'", "''")
    params = _e.MATCHER_PARAMS[kind]
    if not params:
        return f"'{fmt_sql}'"
    args = ", ".join(dict.fromkeys(params))  # {0},{1} bind by position
    return f"format('{fmt_sql}', {args})"


_EMA_ALPHA = 0.3


_HOURLY_ROLLUP_ORACLE = """
    SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """


_SESSION_GAP_SEC = 600


_STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is")


_STOPWORDS_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)


def _lang_score_sql(lang: str) -> str:
    from isilon_hadoop_tools_spark.functions.text import LANG_PROFILES

    words = ", ".join(f"'{w}'" for w in LANG_PROFILES[lang])
    return (
        r"len(list_filter(regexp_split_to_array(trim(text), '\s+'),"
        f" t -> t IN ({words})))"
    )


def _lang_id_oracle() -> str:
    from isilon_hadoop_tools_spark.functions.text import LANG_PROFILES

    langs = sorted(LANG_PROFILES)
    scores = ",\n           ".join(
        f"{_lang_score_sql(lang)} AS s_{lang}" for lang in langs
    )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    chain = "\n                ".join(
        f"WHEN s_{lang} = m THEN '{lang}'" for lang in langs
    )
    return f"""
    WITH scored AS (
      SELECT doc_id, lang AS labeled_lang,
           {scores}
      FROM documents
    ),
    m AS (SELECT *, {best} AS m FROM scored)
    SELECT doc_id, labeled_lang,
           CASE WHEN m = 0 THEN 'unknown'
                {chain}
                END AS detected_lang,
           m AS score
    FROM m
    """


# shared oracle CTE: per-doc token-bigram repetition ingredients
_REPETITION_SQL = r"""
    rep_base AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ),
    rep_toks AS (
      SELECT doc_id, unnest(toks) AS tok,
             generate_subscripts(toks, 1) AS pos
      FROM rep_base
    ),
    rep_grams AS (
      SELECT doc_id,
             tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos)
               AS gram
      FROM rep_toks
      QUALIFY gram IS NOT NULL
    ),
    rep_per_gram AS (
      SELECT doc_id, gram, count(*) AS cnt
      FROM rep_grams GROUP BY doc_id, gram
    ),
    rep_per_doc AS (
      SELECT doc_id, sum(cnt) AS n_grams, max(cnt) AS top_cnt,
             sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_cnt
      FROM rep_per_gram GROUP BY doc_id
    )
"""


_DECONTAMINATE_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(length(t) - 2, 0) + 1),
               i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS g
      FROM toks
    ),
    ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0)
    SELECT grams.doc_id, count(*) AS n_shared_grams
    FROM grams JOIN ev USING (g)
    WHERE doc_id % 97 <> 0
    GROUP BY 1
    """


def _kmeans_cte_chain(
    k: int = 8, iters: int = 3, dim: int = 64, prefix: str = ""
) -> str:
    """Hand-unrolled Lloyd iterations as a DuckDB CTE chain — possible
    only because the operator runs in integer-quantized space (exact
    bigint distance sums; one double division per mean), so every
    iteration is bit-identical across engines. Expects a
    ``qvecs(vec_id, qv)`` CTE to be defined by the caller; terminates
    with an ``assign(vec_id, list_id, dist)`` CTE. ``prefix`` renames
    every chain-internal CTE (qvecs/assign/c{t}/a{t}/m{t}) so several
    chains — one per PQ subspace — can coexist in one WITH clause."""
    idx = f"range(1, {dim + 1})"
    parts = [
        f"""
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS list_id, qv AS c
      FROM qvecs ORDER BY vec_id LIMIT {k}
    )"""
    ]
    for t in range(1, iters + 1):
        prev = f"c{t - 1}"
        parts.append(
            f"""
    a{t} AS (
      SELECT vec_id, qv, list_id,
             list_sum(list_transform({idx},
               i -> (qv[i] - c[i]) * (qv[i] - c[i]))) AS dist,
             row_number() OVER (
               PARTITION BY vec_id
               ORDER BY list_sum(list_transform({idx},
                 i -> (qv[i] - c[i]) * (qv[i] - c[i]))), list_id) AS rn
      FROM qvecs CROSS JOIN {prev}
    ),
    m{t} AS (
      SELECT list_id, i, round(sum(qv[i])::DOUBLE / count(*))::BIGINT AS cval
      FROM a{t}, (SELECT unnest({idx}) AS i) _idx
      WHERE rn = 1 GROUP BY list_id, i
    ),
    c{t} AS (
      SELECT {prev}.list_id,
             CASE WHEN count(m{t}.i) = 0 THEN any_value({prev}.c)
                  ELSE list(m{t}.cval ORDER BY m{t}.i) END AS c
      FROM {prev} LEFT JOIN m{t} USING (list_id) GROUP BY {prev}.list_id
    )"""
        )
    parts.append(
        f"""
    assign AS (
      SELECT vec_id, list_id, dist::BIGINT AS dist
      FROM (
        SELECT vec_id, list_id,
               list_sum(list_transform({idx},
                 i -> (qv[i] - c[i]) * (qv[i] - c[i]))) AS dist,
               row_number() OVER (
                 PARTITION BY vec_id
                 ORDER BY list_sum(list_transform({idx},
                   i -> (qv[i] - c[i]) * (qv[i] - c[i]))), list_id) AS rn
        FROM qvecs CROSS JOIN c{iters}
      ) WHERE rn = 1
    )"""
    )
    sql = ",".join(parts)
    if prefix:
        sql = _re.sub(
            r"\b(qvecs|assign|[cam]\d+)\b", prefix + r"\1", sql
        )
    return sql


def _kmeans_oracle(k: int = 8, iters: int = 3, dim: int = 64) -> str:
    return f"""
    WITH qvecs AS (
      SELECT vec_id,
             list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT)
               AS qv
      FROM embeddings
    ),{_kmeans_cte_chain(k, iters, dim)}
    SELECT vec_id, list_id, dist FROM assign
    """


def _power_iter_oracle(
    dim: int = 64, iters: int = 6, scale: int = 1000
) -> str:
    """Hand-unrolled power-iteration rounds as a DuckDB CTE chain —
    bit-identical to `power_iteration_top_pc` because every round is
    exact integer arithmetic (long dot products, one wide sum, and
    half-away integer division for the L-inf normalization)."""
    import math

    idx = f"range(1, {dim + 1})"
    v0 = scale // math.isqrt(dim)
    parts = [
        f"""
    v0 AS (SELECT list_transform({idx},
                  i -> CAST({v0} AS BIGINT)) AS v)"""
    ]
    for t in range(1, iters + 1):
        p = f"{2 * scale}*w"
        parts.append(
            f"""
    s{t} AS (
      SELECT qv, list_sum(list_transform({idx},
               i -> qv[i] * v[i])) AS score
      FROM qvecs CROSS JOIN v{t - 1}
    ),
    w{t} AS (
      SELECT i, sum(qv[i] * score)::BIGINT AS w
      FROM s{t}, (SELECT unnest({idx}) AS i) _i
      GROUP BY i
    ),
    m{t} AS (SELECT max(abs(w)) AS m FROM w{t}),
    v{t} AS (
      SELECT list(CASE WHEN m = 0 THEN 0
                       WHEN w >= 0 THEN ({p} + m) // (2*m)
                       ELSE -((-{p} + m) // (2*m)) END
                  ORDER BY i) AS v
      FROM w{t} CROSS JOIN m{t}
    )"""
        )
    chain = ",".join(parts)
    return f"""
    WITH qvecs AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> round(x::DOUBLE * {scale})::BIGINT) AS qv
      FROM embeddings
    ),{chain},
    sgn AS (
      SELECT CASE WHEN (
        SELECT v[i] FROM v{iters}
        CROSS JOIN (SELECT unnest({idx}) AS i) _i
        WHERE v[i] != 0 ORDER BY i LIMIT 1
      ) < 0 THEN -1 ELSE 1 END AS s
    )
    SELECT i - 1 AS dim, v[i] * s AS loading
    FROM v{iters} CROSS JOIN sgn
    CROSS JOIN (SELECT unnest({idx}) AS i) _i
    """


Q7_NATION_A = "NATION_3"


Q7_NATION_B = "NATION_7"


_PS_KEY_SQL = "ps_partkey::VARCHAR || ':' || ps_suppkey::VARCHAR"


PARTSUPP_SQL = f"""
    partsupp AS (
      SELECT ps_partkey, ps_suppkey,
             round(1 + ({stable_hash32_sql(_PS_KEY_SQL)} % 10000) / 100.0, 2)
               AS ps_supplycost,
             (1 + ({stable_hash32_sql(_PS_KEY_SQL, seed=1)} % 9999))::INT
               AS ps_availqty
      FROM (SELECT DISTINCT l_partkey AS ps_partkey,
                            l_suppkey AS ps_suppkey FROM lineitem)
    )
"""


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of ``PARTSUPP_SQL``. One lineitem shuffle for
    the distinct pair set; costs/quantities are stateless hash
    expressions, so the relation needs no storage and is identical on
    every engine and every run."""
    li = _t(spark, sf_dir, "lineitem")
    key = F.concat_ws(":", "ps_partkey", "ps_suppkey")
    return (
        li.select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .distinct()
        .withColumn(
            "ps_supplycost",
            F.round(1 + F.pmod(stable_hash32(key), F.lit(10000)) / 100.0, 2),
        )
        .withColumn(
            "ps_availqty",
            (1 + F.pmod(stable_hash32(key, seed=1), F.lit(9999))).cast("int"),
        )
    )


Q11_NATION = "NATION_7"


Q20_NATION = "NATION_3"


Q8_NATION = "NATION_3"


_SHINGLE_SQL = r"""
    shingled AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(length(toks) - 2, 0) + 1),
               i -> array_to_string(list_slice(toks, i, i + 2), ' ')
             ))) AS shingle
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
            FROM documents)
    )
"""


_NGRAM_MAX_DF = 100


def _minhash_params_sql(num_hashes: int = 8) -> str:
    """The universal-hash family's (seed, a, b) constants as a VALUES
    CTE — same md5-derived numbers ``affine_params`` computes."""
    from isilon_hadoop_tools_spark.functions.hashing import affine_params

    rows = ", ".join(
        f"({s}, {affine_params(s)[0]}, {affine_params(s)[1]})"
        for s in range(num_hashes)
    )
    return f"params(seed, pa, pb) AS (VALUES {rows})"


_MINHASH_SIGS_SQL = f"""
    {_minhash_params_sql()},
    sigs AS (
      SELECT doc_id AS id, seed,
             min((pa * {stable_hash32_sql('shingle')} + pb) % 2147483647)
               AS minhash
      FROM shingled CROSS JOIN params
      GROUP BY doc_id, seed
    )
"""


_SIMHASH_SQL = f"""
    toks AS (
      SELECT DISTINCT doc_id AS id,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    votes AS (
      SELECT id, bit,
             sum(CASE WHEN floor(h / pow(2, bit))::BIGINT % 2 = 1
                      THEN 1 ELSE -1 END) AS s
      FROM (SELECT id, {stable_hash32_sql('tok')} AS h FROM toks),
           range(0, 32) r(bit)
      GROUP BY id, bit
    ),
    sims AS (
      SELECT id, sum(CASE WHEN s > 0 THEN pow(2, bit)::BIGINT ELSE 0 END)::BIGINT
                   AS simhash
      FROM votes GROUP BY id
    )
"""


_COS_DUP_THRESHOLD = 0.9


def _cos_dup_oracle(tables: int = 8, max_planes: int = 16, dim: int = 64) -> str:
    """DuckDB twin of ``cosine_near_dup_pairs`` that MIRRORS the
    sign-LSH candidate generation instead of brute-forcing all pairs
    (the old form was quadratic and unusable past sf0.01). The
    md5-derived plane components recompute exactly in SQL
    (``similarity._plane_component``), and the occupancy-sized plane
    count (``similarity.auto_planes``) is recomputed from the corpus
    cardinality, so the oracle tracks the operator at ANY scale
    factor. Bucket-bit parity note: a bit could differ only when a
    plane dot lands within fp-accumulation epsilon of zero —
    probability ~1e-7 across the whole sf0.1 corpus."""
    return f"""
    WITH corpus AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 10000, list_transform(embedding::DOUBLE[], x -> x * 1.1)
      FROM embeddings
    ),
    params AS (
      SELECT greatest(2, least({max_planes},
               ceil(log2((SELECT count(*) FROM corpus) / 16.0))))::INT
               AS nplanes
    ),
    comp AS (
      SELECT t.t AS table_id, p.p, j.j,
             (('0x' || substr(md5(p.p || ':' || j.j || ':' || (7 + 1000 * t.t)),
                              1, 8))::BIGINT / 2147483648.0 - 1.0) AS w
      FROM (SELECT unnest(range(0, {tables})) AS t) t,
           (SELECT unnest(range(0, {max_planes})) AS p) p,
           (SELECT unnest(range(0, {dim})) AS j) j
      WHERE p.p < (SELECT nplanes FROM params)
    ),
    buckets AS (
      SELECT id, table_id,
             sum(CASE WHEN dot >= 0 THEN pow(2, p)::BIGINT ELSE 0 END)::BIGINT
               AS bucket
      FROM (
        SELECT c.id, comp.table_id, comp.p,
               sum(c.v[comp.j + 1] * comp.w) AS dot
        FROM corpus c CROSS JOIN comp
        GROUP BY c.id, comp.table_id, comp.p
      )
      GROUP BY id, table_id
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM buckets a JOIN buckets b USING (table_id, bucket)
      WHERE a.id < b.id
    )
    SELECT id_a, id_b,
           round(list_dot_product(va.v, vb.v)
                 / (sqrt(list_dot_product(va.v, va.v))
                    * sqrt(list_dot_product(vb.v, vb.v))), 6) AS cos_sim
    FROM cand
    JOIN corpus va ON va.id = cand.id_a
    JOIN corpus vb ON vb.id = cand.id_b
    WHERE round(list_dot_product(va.v, vb.v)
                / (sqrt(list_dot_product(va.v, va.v))
                   * sqrt(list_dot_product(vb.v, vb.v))), 6)
          >= {_COS_DUP_THRESHOLD}
    """


def _semantic_dedup_oracle(
    k: int = 8,
    iters: int = 3,
    dim: int = 64,
    budget: int | None = None,
    tables: int = 8,
) -> str:
    """SemDeDup oracle: the corpus doubled with scale-1.1 copies, unit
    normalization, the hand-unrolled Lloyd chain over the quantized
    unit vectors, within-cluster rounded-cosine pairs, then a
    recursive transitive-closure min-label keep — every stage reusing
    an already-hash-matched SQL pattern (``_kmeans_cte_chain``,
    ``dedup_embedding_cosine``'s cosine, ``dedup_keep_one``'s cc).

    ``budget`` mirrors the operator's ``max_cluster_rows``
    mega-cluster bound (r13): clusters above the budget generate
    candidates through within-cluster sign-LSH banding — the same
    md5-derived plane constants as ``_cos_dup_oracle`` restricted to
    heavy-cluster members, plane count occupancy-sized from the
    LARGEST heavy cluster (``similarity.semantic_pair_planes``, clamp
    [2, 24]) — while light clusters keep the exact all-pairs search.
    ``budget=None`` keeps the unbudgeted within-cluster join."""
    if budget is None:
        pair_ctes = ""
        pairs_cte = f"""
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM clustered a JOIN clustered b
        ON a.list_id = b.list_id AND a.id < b.id
      WHERE round(list_dot_product(a.v, b.v) / (a.n * b.n), 6)
            >= {_COS_DUP_THRESHOLD}
    ),"""
    else:
        pair_ctes = f"""
    sizes AS (
      SELECT list_id, count(*) AS n_rows FROM clustered GROUP BY list_id
    ),
    heavy AS (SELECT list_id FROM sizes WHERE n_rows > {budget}),
    params AS (
      SELECT greatest(2, least(24, ceil(log2(
               coalesce((SELECT max(n_rows) FROM sizes
                         WHERE n_rows > {budget}), 1) / 16.0))))::INT
               AS nplanes
    ),
    comp AS (
      SELECT t.t AS table_id, p.p, j.j,
             (('0x' || substr(md5(p.p || ':' || j.j || ':' || (7 + 1000 * t.t)),
                              1, 8))::BIGINT / 2147483648.0 - 1.0) AS w
      FROM (SELECT unnest(range(0, {tables})) AS t) t,
           (SELECT unnest(range(0, 24)) AS p) p,
           (SELECT unnest(range(0, {dim})) AS j) j
      WHERE p.p < (SELECT nplanes FROM params)
    ),
    hmem AS (
      SELECT c.id, c.list_id, c.v
      FROM clustered c JOIN heavy h USING (list_id)
    ),
    hbuckets AS (
      SELECT id, list_id, table_id,
             sum(CASE WHEN dot >= 0 THEN pow(2, p)::BIGINT ELSE 0 END)::BIGINT
               AS bucket
      FROM (
        SELECT m.id, m.list_id, comp.table_id, comp.p,
               sum(m.v[comp.j + 1] * comp.w) AS dot
        FROM hmem m CROSS JOIN comp
        GROUP BY m.id, m.list_id, comp.table_id, comp.p
      )
      GROUP BY id, list_id, table_id
    ),
    hcand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM hbuckets a JOIN hbuckets b USING (list_id, table_id, bucket)
      WHERE a.id < b.id
    ),"""
        pairs_cte = f"""
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM clustered a JOIN clustered b
        ON a.list_id = b.list_id AND a.id < b.id
      WHERE a.list_id NOT IN (SELECT list_id FROM heavy)
        AND round(list_dot_product(a.v, b.v) / (a.n * b.n), 6)
            >= {_COS_DUP_THRESHOLD}
      UNION ALL
      SELECT hc.id_a, hc.id_b
      FROM hcand hc
      JOIN clustered va ON va.id = hc.id_a
      JOIN clustered vb ON vb.id = hc.id_b
      WHERE round(list_dot_product(va.v, vb.v) / (va.n * vb.n), 6)
            >= {_COS_DUP_THRESHOLD}
    ),"""
    return f"""
    WITH RECURSIVE corpus AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 10000, list_transform(embedding::DOUBLE[], x -> x * 1.1)
      FROM embeddings
    ),
    unitv AS (
      SELECT id,
             CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN v
                  ELSE list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
             END AS u
      FROM corpus
    ),
    qvecs AS (
      SELECT id AS vec_id,
             list_transform(u, x -> round(x * 1000)::BIGINT) AS qv
      FROM unitv
    ),{_kmeans_cte_chain(k, iters, dim)},
    clustered AS (
      SELECT a.vec_id AS id, a.list_id, c.v,
             sqrt(list_dot_product(c.v, c.v)) AS n
      FROM assign a JOIN corpus c ON c.id = a.vec_id
    ),{pair_ctes}{pairs_cte}
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ),
    cc(id, keep_id) AS (
      SELECT id, id FROM corpus
      UNION
      SELECT e.dst, c.keep_id FROM cc c JOIN edges e ON e.src = c.id
    )
    SELECT a.vec_id, a.list_id, k.keep_id
    FROM assign a
    JOIN (SELECT id, min(keep_id) AS keep_id FROM cc GROUP BY id) k
      ON k.id = a.vec_id
    """


# payloads synthesized deterministically from documents: a third get
# PNG magic bytes, a third JPEG, the rest stay bare text bytes
_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


_JPEG_MAGIC = b"\xff\xd8\xff\xe0"


_PAYLOAD_SQL = r"""
    CASE WHEN doc_id % 3 = 0
           THEN '\x89\x50\x4E\x47\x0D\x0A\x1A\x0A'::BLOB || encode(text)
         WHEN doc_id % 3 = 1
           THEN '\xFF\xD8\xFF\xE0'::BLOB || encode(text)
         ELSE encode(text) END
"""


def _doc_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id) frame feeding the synthetic payload generators.

    Payload synthesis + codec decode is the CPU-dense part of every
    multimodal query, and it parallelizes only as wide as this frame:
    at bench scale the documents table is one parquet file, so the
    whole synth+decode chain ran in 1-2 scan tasks (profiled 1.4 s
    single-task BMP synth with 30 cores idle). Repartitioning the
    8-byte id rows BEFORE synthesis is the guide-§8 move-small-rows
    discipline: the exchange carries ids, never payloads, and the
    downstream mapInPandas codecs run at full width. Skipped when the
    scan is already at least as wide as the shuffle partition count
    (the 100 TB case — real corpora arrive in many files)."""
    ids = _t(spark, sf_dir, "documents").select("doc_id")
    npart = max(2, shuffle_partition_count(spark))
    if ids.rdd.getNumPartitions() < npart:
        return ids.repartition(npart, "doc_id")
    return ids


def _payload_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    payload = (
        F.when(
            F.pmod("doc_id", F.lit(3)) == 0,
            F.concat(F.lit(_PNG_MAGIC), F.encode("text", "utf-8")),
        )
        .when(
            F.pmod("doc_id", F.lit(3)) == 1,
            F.concat(F.lit(_JPEG_MAGIC), F.encode("text", "utf-8")),
        )
        .otherwise(F.encode("text", "utf-8"))
    )
    return docs.select("doc_id", payload.alias("payload"))


_ANN_QUERIES = 5


_ANN_K = 10


_ANN_SCORE_RANK_SQL = f"""
    scored AS (
      SELECT query_id, neighbor_id,
             round(list_dot_product(q.v, c.v)
                   / (sqrt(list_dot_product(q.v, q.v))
                      * sqrt(list_dot_product(c.v, c.v))), 6) AS cos_sim
      FROM cand
      JOIN vecs q ON q.vec_id = cand.query_id
      JOIN vecs c ON c.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {_ANN_K}
"""


def _lsh_cand_cte(planes: int = 4, tables: int = 8, dim: int = 64) -> str:
    """Shared CTE chain recomputing ``lsh_ann_topk``'s candidate set in
    DuckDB: the md5-derived hyperplanes are deterministic constants
    (``similarity._plane_component``), so they are embedded as literal
    DOUBLE[] rows and the bucket bits recompute exactly — bit p =
    (dot(v, plane_p) >= 0), bucket = Σ 2^p·bit. ``dim`` is pinned to
    the testdata's embedding length (64)."""
    rows = []
    for t in range(tables):
        seed = 7 + 1000 * t
        for p in range(planes):
            w = ",".join(
                repr(similarity._plane_component(p, j, seed)) for j in range(dim)
            )
            rows.append(f"({t}, {p}, [{w}]::DOUBLE[])")
    values = ",\n      ".join(rows)
    return f"""planes(table_id, p, w) AS (VALUES
      {values}),
    vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    hashed AS (
      SELECT vec_id, table_id,
             sum(CASE WHEN list_dot_product(v, w) >= 0
                      THEN pow(2, p)::BIGINT ELSE 0 END)::BIGINT AS bucket
      FROM vecs CROSS JOIN planes GROUP BY vec_id, table_id
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM hashed c JOIN hashed q USING (table_id, bucket)
      WHERE q.vec_id < {_ANN_QUERIES} AND c.vec_id != q.vec_id
    )"""


def _binary_ann_oracle(rerank: int = 40) -> str:
    """DuckDB twin of ``binary_hamming_topk``: sign bits packed into
    two 32-bit words (MSB-first, weight ``1 << (32 - i)`` — exactly
    the Spark ``acc·2 + bit`` fold), Hamming candidates via
    ``bit_count(xor(..))``, exact-cosine rerank through the shared
    score/rank tail."""
    word = (
        "list_sum(list_transform(generate_series(1, 32), i ->"
        " CASE WHEN v[i + {off}] >= 0 THEN (1::BIGINT << (32 - i))"
        " ELSE 0 END))::BIGINT"
    )
    return f"""
    WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    words AS (
      SELECT vec_id,
             {word.format(off=0)} AS lo,
             {word.format(off=32)} AS hi
      FROM vecs
    ),
    cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY bit_count(xor(q.lo, c.lo))
                          + bit_count(xor(q.hi, c.hi)), c.vec_id
               ) AS hrk
        FROM words q JOIN words c
          ON q.vec_id < {_ANN_QUERIES} AND c.vec_id <> q.vec_id
      ) WHERE hrk <= {rerank}
    ),
    {_ANN_SCORE_RANK_SQL}
    """


def _lsh_ann_oracle(planes: int = 4, tables: int = 8, dim: int = 64) -> str:
    """DuckDB twin of ``lsh_ann_topk`` (see :func:`_lsh_cand_cte`)."""
    return f"""
    WITH {_lsh_cand_cte(planes, tables, dim)},
    {_ANN_SCORE_RANK_SQL}
    """


def _ivf_ann_oracle(n_lists: int = 16, n_probe: int = 4) -> str:
    """DuckDB twin of ``ivf_ann_topk``: centroids are the ``n_lists``
    lowest-id vectors; assignment ranks centroid cosine rounded to 9
    decimals (both engines round before ranking, so fp accumulation
    order can't flip a probe rank), tie-broken by list_id."""
    cos9 = (
        "round(list_dot_product(v, c) / (sqrt(list_dot_product(v, v))"
        " * sqrt(list_dot_product(c, c))), 9)"
    )
    return f"""
    WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS list_id, v AS c
      FROM (SELECT * FROM vecs ORDER BY vec_id LIMIT {n_lists})
    ),
    assigned AS (
      SELECT vec_id, list_id,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY {cos9} DESC, list_id) AS r
      FROM vecs CROSS JOIN cents
    ),
    cassign AS (SELECT vec_id AS neighbor_id, list_id FROM assigned WHERE r <= 1),
    qassign AS (SELECT vec_id AS query_id, list_id FROM assigned
                WHERE vec_id < {_ANN_QUERIES} AND r <= {n_probe}),
    cand AS (
      SELECT DISTINCT query_id, neighbor_id
      FROM cassign JOIN qassign USING (list_id)
      WHERE query_id != neighbor_id
    ),
    {_ANN_SCORE_RANK_SQL}
    """


def _lsh_multiprobe_oracle(
    planes: int = 4, tables: int = 4, dim: int = 64, probes: int = 4
) -> str:
    """DuckDB twin of ``lsh_ann_topk(probes=...)``: query buckets are
    expanded to the original plus each 1-bit-flipped neighbor before
    the candidate join — same plane constants as `_lsh_cand_cte`."""
    base = _lsh_cand_cte(planes, tables, dim)
    # drop the single-probe cand CTE; rebuild with the probe fan-out
    base = base[: base.rfind(",\n    cand AS")]
    flips = ", ".join(str(1 << p) for p in range(probes))
    return f"""
    WITH {base},
    qprobe AS (
      SELECT vec_id, table_id, xor(bucket, f) AS bucket
      FROM hashed, (SELECT unnest([0, {flips}]) AS f) _f
      WHERE vec_id < {_ANN_QUERIES}
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM hashed c JOIN qprobe q USING (table_id, bucket)
      WHERE c.vec_id != q.vec_id
    ),
    {_ANN_SCORE_RANK_SQL}
    """


_DUP_SPAN_N = 10


_CHUNK_SIZE, _CHUNK_STRIDE = 16, 12


def _bpe_cte_chain(
    rounds: int = 6,
    mode: str = "bpe",
    scale: int = 10**9,
    alphabet: str = "char",
) -> str:
    """Unrolled BPE/WordPiece merge-training rounds: per round a
    weighted pair count, the round-winner top-1 — ``mode='bpe'``:
    (cnt DESC, lhs, rhs); ``mode='wordpiece'``: the quantized
    likelihood score ``cnt·scale // (sym_cnt(lhs)·sym_cnt(rhs))``
    in HUGEINT, then (score_q DESC, lhs, rhs) — and the greedy
    left-to-right non-overlapping merge expressed with window
    functions — island detection over consecutive matched positions
    (runs only occur for self-pairs) with alternate selection, lag
    for the consumed flag, ordered list rebuild. Ends at ``v{rounds}``
    (word, n, syms) with ``b{t}`` rule CTEs along the way.

    ``alphabet='byte'`` switches v0 to the GPT-2-family byte level:
    regex pre-tokenization (the engine's ``BPE_TOKEN_RE``) instead of
    whitespace words, and lowercase 2-hex-char UTF-8 byte symbols
    instead of characters — the round machinery is symbol-agnostic."""
    if alphabet == "byte":
        parts = [
            r"""
    WITH toks AS (
      SELECT unnest(regexp_extract_all(text,
                    '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS w
      FROM documents
    ),
    v0 AS (
      SELECT w, count(*) AS n,
             regexp_extract_all(lower(hex(encode(w))), '..') AS syms
      FROM toks GROUP BY w
    )"""
        ]
    else:
        parts = [
            r"""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      FROM documents
    ),
    v0 AS (
      SELECT w, count(*) AS n, string_split(w, '') AS syms
      FROM toks GROUP BY w
    )"""
        ]
    for t in range(1, rounds + 1):
        prev = f"v{t - 1}"
        if mode == "bpe":
            selector = f"""b{t} AS (SELECT lhs, rhs, cnt FROM p{t}
             ORDER BY cnt DESC, lhs, rhs LIMIT 1),"""
        else:
            selector = f"""s{t} AS (
      SELECT s, sum(cnt)::BIGINT AS sc FROM (
        SELECT unnest(syms) AS s, n AS cnt FROM {prev}
      ) GROUP BY s
    ),
    b{t} AS (
      SELECT p.lhs, p.rhs, p.cnt,
             (p.cnt::HUGEINT * {scale}
              // (sl.sc::HUGEINT * sr.sc))::BIGINT AS score_q
      FROM p{t} p
      JOIN s{t} sl ON sl.s = p.lhs
      JOIN s{t} sr ON sr.s = p.rhs
      ORDER BY score_q DESC, p.lhs, p.rhs LIMIT 1),"""
        parts.append(f""",
    p{t} AS (
      SELECT syms[i] AS lhs, syms[i + 1] AS rhs, sum(n)::BIGINT AS cnt
      FROM {prev}, unnest(generate_series(1, len(syms) - 1)) AS u(i)
      GROUP BY lhs, rhs
    ),
    {selector}
    pos{t} AS (
      SELECT w, n, i, syms[i] AS s, b.lhs AS bl, b.rhs AS br,
             CASE WHEN i < len(syms) AND syms[i] = b.lhs
                       AND syms[i + 1] = b.rhs
                  THEN 1 ELSE 0 END AS m
      FROM {prev} CROSS JOIN b{t} b,
           unnest(generate_series(1, len(syms))) AS u(i)
    ),
    isl{t} AS (
      SELECT *, CASE WHEN m = 1
                     THEN i - row_number() OVER (PARTITION BY w, m
                                                 ORDER BY i) END AS isl
      FROM pos{t}
    ),
    sel{t} AS (
      SELECT *, m = 1 AND (i - min(i) OVER (PARTITION BY w, isl)) % 2 = 0
               AS selected
      FROM isl{t}
    ),
    fin{t} AS (
      SELECT *, coalesce(lag(selected) OVER (PARTITION BY w ORDER BY i),
                         false) AS consumed
      FROM sel{t}
    ),
    v{t} AS (
      SELECT w, any_value(n) AS n,
             list(CASE WHEN selected THEN bl || br ELSE s END
                  ORDER BY i) FILTER (WHERE NOT consumed) AS syms
      FROM fin{t} GROUP BY w
    )""")
    return "".join(parts)


def _bpe_oracle(rounds: int = 6, alphabet: str = "char") -> str:
    sels = [
        f"SELECT {t} AS merge_round, lhs, rhs, cnt AS pair_count FROM b{t}"
        for t in range(1, rounds + 1)
    ]
    return (
        _bpe_cte_chain(rounds, alphabet=alphabet)
        + "\n    "
        + "\n    UNION ALL ".join(sels)
    )


def _wordpiece_oracle(rounds: int = 5) -> str:
    sels = [
        f"SELECT {t} AS merge_round, lhs, rhs, cnt AS pair_count,"
        f" score_q FROM b{t}"
        for t in range(1, rounds + 1)
    ]
    return (
        _bpe_cte_chain(rounds, mode="wordpiece")
        + "\n    "
        + "\n    UNION ALL ".join(sels)
    )


def _bpe_apply_oracle(
    rounds: int = 6, mode: str = "bpe", alphabet: str = "char"
) -> str:
    """Tokenization twin: the training chain's final ``v{rounds}``
    vocabulary joined back onto every document's words. ``mode``
    selects which trainer's rules are applied (the merge machinery is
    shared; only the round-winner selector differs); ``alphabet``
    selects whitespace-word chars vs pre-token UTF-8 bytes."""
    if alphabet == "byte":
        doc_words = r"""
    doc_words AS (
      SELECT doc_id, unnest(regexp_extract_all(text,
                     '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS w
      FROM documents
    )"""
        size_expr, size_alias = "octet_length(encode(w))", "n_bytes"
    else:
        doc_words = r"""
    doc_words AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      FROM documents
    )"""
        size_expr, size_alias = "length(w)", "n_chars"
    return (
        _bpe_cte_chain(rounds, mode=mode, alphabet=alphabet)
        + f""",
    {doc_words.strip()}
    SELECT doc_id AS id, count(*) AS n_words,
           sum({size_expr})::BIGINT AS {size_alias},
           sum(len(v{rounds}.syms))::BIGINT AS n_tokens,
           round(sum({size_expr})::DOUBLE / sum(len(v{rounds}.syms)), 6)
             AS compression
    FROM doc_words JOIN v{rounds} USING (w)
    GROUP BY doc_id"""
    )


def _unigram_lm_oracle(
    max_piece_len: int = 4, n_seed_multi: int = 16,
    em_rounds: int = 2, scale: int = 1_000_000, mode: str = "train",
) -> str:
    """Unigram-LM EM twin via a DIFFERENT algorithm: where the engine
    runs integer Viterbi DP per distinct word, the oracle brute-force
    ENUMERATES every segmentation with a recursive CTE (sound at
    oracle scale: words ≤ 8 chars here, ≤ tetranacci(len) paths each)
    and picks the (cost, mask) minimum — the same total order the
    engine's ``F.least`` tuple-min realizes, reached independently.
    One wrong E-step segmentation re-weights the M-step counts and
    diverges every later round."""
    L = max_piece_len
    parts = [rf"""
    WITH RECURSIVE toks AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      FROM documents
    ),
    words AS (
      SELECT w, count(*)::BIGINT AS n, length(w) AS wl FROM toks
      WHERE length(w) <= 52 GROUP BY w
    ),
    subs AS (
      SELECT substr(w, j + 1, l) AS piece, sum(n)::BIGINT AS cnt
      FROM words,
           unnest(generate_series(0, wl - 1)) AS sj(j),
           unnest(generate_series(1, {L})) AS sl(l)
      WHERE j + l <= wl
      GROUP BY piece
    ),
    singles AS (SELECT piece, cnt FROM subs WHERE length(piece) = 1),
    multis AS (
      SELECT piece, cnt FROM (
        SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rn
        FROM subs WHERE length(piece) > 1) WHERE rn <= {n_seed_multi}
    ),
    v0 AS (SELECT piece, cnt FROM singles UNION ALL SELECT piece, cnt FROM multis),
    c0 AS (
      SELECT piece, floor(-ln(cnt / t.tot) * {scale} + 0.5)::BIGINT AS cost
      FROM v0, (SELECT sum(cnt)::DOUBLE AS tot FROM v0) t
    )"""]
    for t in range(1, em_rounds + 1):
        p = t - 1
        parts.append(f""",
    e{t} AS (
      SELECT w, wl, 0 AS pos, 0::BIGINT AS cost, 0::BIGINT AS mask FROM words
      UNION ALL
      SELECT e.w, e.wl, e.pos + lu.l, e.cost + c.cost,
             e.mask + (1::BIGINT << e.pos)
      FROM e{t} e,
           unnest(generate_series(1, {L})) AS lu(l),
           c{p} c
      WHERE e.pos < e.wl AND e.pos + lu.l <= e.wl
        AND c.piece = substr(e.w, e.pos + 1, lu.l)
    ),
    best{t} AS (
      SELECT w, n, wl, mask FROM (
        SELECT e.w, e.mask,
               row_number() OVER (PARTITION BY e.w
                                  ORDER BY e.cost, e.mask) AS rn
        FROM e{t} e WHERE e.pos = e.wl
      ) b JOIN words USING (w) WHERE rn = 1
    ),
    st{t} AS (
      SELECT w, n, wl,
             unnest(list_filter(range(0, wl),
                                j -> ((mask >> j) & 1) = 1)) AS s
      FROM best{t}
    ),
    pc{t} AS (
      SELECT n, substr(w, s + 1,
             coalesce(lead(s) OVER (PARTITION BY w ORDER BY s), wl) - s)
               AS piece
      FROM st{t}
    ),
    o{t} AS (SELECT piece, sum(n)::BIGINT AS cnt FROM pc{t} GROUP BY piece),
    v{t} AS (
      SELECT s.piece, greatest(coalesce(o.cnt, 0), 1) AS cnt
      FROM singles s LEFT JOIN o{t} o USING (piece)
      UNION ALL
      SELECT m.piece, o.cnt FROM multis m JOIN o{t} o USING (piece)
    ),
    c{t} AS (
      SELECT piece, floor(-ln(cnt / t.tot) * {scale} + 0.5)::BIGINT AS cost
      FROM v{t}, (SELECT sum(cnt)::DOUBLE AS tot FROM v{t}) t
    )""")
    if mode == "train":
        parts.append(f"""
    SELECT piece, cnt AS count, round(cnt / t.tot, 6) AS prob,
           row_number() OVER (ORDER BY cnt DESC, piece) AS rank
    FROM v{em_rounds}, (SELECT sum(cnt)::DOUBLE AS tot FROM v{em_rounds}) t
    """)
    else:
        # apply: one more enumeration round under the FINAL costs —
        # tokens per word = popcount of the boundary mask — then one
        # doc join; mirrors unigram_lm_apply
        t, p = em_rounds + 1, em_rounds
        parts.append(f""",
    e{t} AS (
      SELECT w, wl, 0 AS pos, 0::BIGINT AS cost, 0::BIGINT AS mask FROM words
      UNION ALL
      SELECT e.w, e.wl, e.pos + lu.l, e.cost + c.cost,
             e.mask + (1::BIGINT << e.pos)
      FROM e{t} e,
           unnest(generate_series(1, {max_piece_len})) AS lu(l),
           c{p} c
      WHERE e.pos < e.wl AND e.pos + lu.l <= e.wl
        AND c.piece = substr(e.w, e.pos + 1, lu.l)
    ),
    wtok AS (
      SELECT w, wl, bit_count(mask)::BIGINT AS nt FROM (
        SELECT e.w, e.wl, e.mask,
               row_number() OVER (PARTITION BY e.w
                                  ORDER BY e.cost, e.mask) AS rn
        FROM e{t} e WHERE e.pos = e.wl
      ) WHERE rn = 1
    ),
    doc_words AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
      FROM documents
    )
    SELECT doc_id AS id, count(*) AS n_words,
           sum(wl)::BIGINT AS n_chars,
           sum(nt)::BIGINT AS n_tokens,
           round(sum(wl)::DOUBLE / sum(nt), 6) AS compression
    FROM doc_words JOIN wtok USING (w)
    GROUP BY doc_id
    """)
    return "".join(parts)


_HLL_B = 8


_HLL_M = 1 << _HLL_B


def _alpha_sql() -> str:
    """The HLL bias-correction constant as an exact SQL literal."""
    from isilon_hadoop_tools_spark.operators.sketches import _alpha

    # ::DOUBLE: DuckDB parses the bare literal as DECIMAL(18,16) and
    # overflows multiplying it by m^2
    return f"{_alpha(_HLL_M)!r}::DOUBLE"


_HLL_REG_SQL = f"""
    h AS (
      SELECT (('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT) AS h
      FROM events
    ),
    rho_rows AS (
      SELECT h % {_HLL_M} AS bucket,
             CASE WHEN h // {_HLL_M} = 0 THEN {32 - _HLL_B + 1}
                  ELSE {32 - _HLL_B} - floor(log2(h // {_HLL_M}))::BIGINT
             END AS rho
      FROM h
    ),
    regs AS (SELECT bucket, max(rho)::BIGINT AS rho FROM rho_rows GROUP BY bucket)
"""


_CMS_D, _CMS_W, _CMS_SEED = 4, 256, 101


_CMS_TOP = 10


_MG_K = 30


def _zorder_terms(a_expr: str, b_expr: str, bits: int = 8) -> str:
    """The Morton-interleave as an explicit SQL sum of static-shift
    terms — the same 2·bits integer terms ``zorder_key`` builds."""
    terms = []
    for b in range(bits):
        for c, e in enumerate((a_expr, b_expr)):
            terms.append(f"((({e}) // {1 << b}) % 2) * {1 << (2 * b + c)}")
    return " + ".join(terms)


def _zone_stats_sql(
    key_expr: str,
    layout: str,
    lo: int = 32,
    hi: int = 63,
    width: int = 1024,
) -> str:
    """One layout's zone-map stats on the user-bucket predicate
    (zones = contiguous ``width``-wide ranges of the layout key)."""
    return f"""
      SELECT '{layout}' AS layout, count(*) AS n_zones,
             sum(CASE WHEN mx >= {lo} AND mn <= {hi} THEN 1 ELSE 0 END)
               ::BIGINT AS zones_scanned,
             sum(n)::BIGINT AS rows_total,
             sum(CASE WHEN mx >= {lo} AND mn <= {hi} THEN n ELSE 0 END)
               ::BIGINT AS rows_scanned,
             sum(nm)::BIGINT AS rows_matching,
             round(1.0 - sum(CASE WHEN mx >= {lo} AND mn <= {hi}
                                  THEN n ELSE 0 END)::DOUBLE / sum(n), 6)
               AS skip_fraction,
             sum(CASE WHEN NOT (mx >= {lo} AND mn <= {hi})
                      THEN nm ELSE 0 END) = 0 AS certificate_ok
      FROM (
        SELECT ({key_expr}) // {width} AS z,
               min(user_id % 256) AS mn, max(user_id % 256) AS mx,
               count(*) AS n,
               sum(CASE WHEN user_id % 256 BETWEEN {lo} AND {hi}
                        THEN 1 ELSE 0 END) AS nm
        FROM events GROUP BY z
      )"""


def _hilbert_chain(bits: int = 8) -> str:
    """The per-level Hilbert CTE chain (l0..lN carrying event_id, the
    user bucket, and the evolving x/y/d state) shared by the
    zone-stats oracle and the footer-verified layout writer."""
    parts = [
        "l0 AS (SELECT event_id, (user_id % 256)::BIGINT AS x0,"
        " ((hour(ts) * 60 + minute(ts)) % 256)::BIGINT AS y0,"
        " 0::BIGINT AS d0,"
        " user_id % 256 AS ub FROM events)"
    ]
    for i, lev in enumerate(reversed(range(bits))):
        s = 1 << lev
        p, c = i, i + 1
        rx = f"(CASE WHEN (x{p} & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (y{p} & {s}) > 0 THEN 1 ELSE 0 END)"
        parts.append(
            f"l{c} AS (SELECT event_id, ub,\n"
            f"  CASE WHEN (y{p} & {s}) = 0 THEN"
            f" CASE WHEN (x{p} & {s}) > 0 THEN {s - 1} - y{p}"
            f" ELSE y{p} END ELSE x{p} END AS x{c},\n"
            f"  CASE WHEN (y{p} & {s}) = 0 THEN"
            f" CASE WHEN (x{p} & {s}) > 0 THEN {s - 1} - x{p}"
            f" ELSE x{p} END ELSE y{p} END AS y{c},\n"
            f"  d{p} + {s * s} * xor(3 * {rx}, {ry}) AS d{c}\n"
            f"  FROM l{p})"
        )
    return ",\n".join(parts)


def _hilbert_stats_sql(
    bits: int = 8, lo: int = 90, hi: int = 140, width: int = 128
) -> str:
    """The Hilbert layout's zone-map stats as a WITH-chain — the
    rotate-and-reflect walk has per-level state (x, y mutate), so
    unlike Morton's closed-form shift sum it can't inline into
    ``_zone_stats_sql``; each CTE level is the same (rx, ry, rotate,
    quadrant-add) step ``hilbert_key`` folds in F.aggregate."""
    chain = _hilbert_chain(bits)
    return f"""
      WITH {chain},
      hzones AS (
        SELECT d{bits} // {width} AS z,
               min(ub) AS mn, max(ub) AS mx, count(*) AS n,
               sum(CASE WHEN ub BETWEEN {lo} AND {hi} THEN 1 ELSE 0 END)
                 AS nm
        FROM l{bits} GROUP BY z
      )
      SELECT 'hilbert' AS layout, count(*) AS n_zones,
             sum(CASE WHEN mx >= {lo} AND mn <= {hi} THEN 1 ELSE 0 END)
               ::BIGINT AS zones_scanned,
             sum(n)::BIGINT AS rows_total,
             sum(CASE WHEN mx >= {lo} AND mn <= {hi} THEN n ELSE 0 END)
               ::BIGINT AS rows_scanned,
             sum(nm)::BIGINT AS rows_matching,
             round(1.0 - sum(CASE WHEN mx >= {lo} AND mn <= {hi}
                                  THEN n ELSE 0 END)::DOUBLE / sum(n), 6)
               AS skip_fraction,
             sum(CASE WHEN NOT (mx >= {lo} AND mn <= {hi})
                      THEN nm ELSE 0 END) = 0 AS certificate_ok
      FROM hzones"""


_PPM_TARGET = 4


def _ppm_payload_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic P6 PPM binaries, one per document: dimensions
    ``(doc_id % 6 + 2) x (doc_id % 4 + 2)``, pixel byte ``p`` =
    ``(doc_id*31 + p*7) % 256`` — assembled as hex and unhex'd into a
    real binary payload the decoder must genuinely parse."""
    docs = _doc_ids(spark, sf_dir)
    w = F.pmod("doc_id", F.lit(6)) + F.lit(2)
    h = F.pmod("doc_id", F.lit(4)) + F.lit(2)
    n_bytes = w * h * F.lit(3)
    pix_hex = F.array_join(
        F.transform(
            F.sequence(F.lit(0), (n_bytes - 1).cast("int")),
            lambda p: F.lpad(
                F.hex(
                    F.pmod(
                        F.col("doc_id") * 31 + p.cast("long") * 7, F.lit(256)
                    )
                ),
                2,
                "0",
            ),
        ),
        "",
    )
    header = F.concat(
        F.lit("P6\n"),
        w.cast("string"),
        F.lit(" "),
        h.cast("string"),
        F.lit("\n255\n"),
    )
    payload = F.unhex(F.concat(F.hex(F.encode(header, "utf-8")), pix_hex))
    return docs.select("doc_id", payload.alias("payload"))


def _le_hex(col, nbytes: int):
    """Little-endian byte hex of an integer column (for binary
    payload construction in pure Spark expressions)."""
    return F.concat(
        *[
            F.lpad(
                F.hex(F.shiftright(col, 8 * i).bitwiseAND(F.lit(255))),
                2,
                "0",
            )
            for i in range(nbytes)
        ]
    )


def _wav_payload_df(
    spark: SparkSession,
    sf_dir: str,
    base_mod: int | None = None,
    n_samples: int | None = None,
) -> DataFrame:
    """Per-document RIFF/WAVE PCM16 payloads as REAL binary: a full
    44-byte canonical header (RIFF size, fmt chunk with rate 8000,
    mono, 16-bit, data chunk size) followed by n deterministic int16
    samples ((base*17 + i*13) % 65536, two's complement) — built
    entirely with JVM expressions (hex/unhex), no UDF. By default
    n = doc_id%16+4 and base = doc_id. The fingerprint fixture passes
    ``n_samples`` (144 = 9 Goertzel frames) and ``base_mod``
    (base = doc_id % base_mod): docs sharing a base get
    BYTE-IDENTICAL audio (the audio-dedup fixture)."""
    docs = _doc_ids(spark, sf_dir)
    base = (
        F.pmod("doc_id", F.lit(base_mod)) if base_mod else F.col("doc_id")
    ).cast("long")
    n = (
        F.lit(n_samples) if n_samples else F.pmod("doc_id", F.lit(16)) + F.lit(4)
    ).cast("long")
    ds = n * 2
    sample_hex = F.array_join(
        F.transform(
            F.sequence(F.lit(0), (n - 1).cast("int")),
            lambda p: _le_hex(
                F.pmod(base * 17 + p.cast("long") * 13, F.lit(65536)), 2
            ),
        ),
        "",
    )
    ascii_hex = lambda s: F.hex(F.encode(F.lit(s), "utf-8"))  # noqa: E731
    header_hex = F.concat(
        ascii_hex("RIFF"), _le_hex(ds + 36, 4), ascii_hex("WAVE"),
        ascii_hex("fmt "), _le_hex(F.lit(16), 4),
        _le_hex(F.lit(1), 2),      # PCM
        _le_hex(F.lit(1), 2),      # mono
        _le_hex(F.lit(8000), 4),   # sample rate
        _le_hex(F.lit(16000), 4),  # byte rate
        _le_hex(F.lit(2), 2),      # block align
        _le_hex(F.lit(16), 2),     # bits/sample
        ascii_hex("data"), _le_hex(ds, 4),
    )
    payload = F.unhex(F.concat(header_hex, sample_hex))
    return docs.select("doc_id", payload.alias("payload"))


def _encoded_payload_df(
    spark: SparkSession, sf_dir: str, encode: Callable[[int], bytes]
) -> DataFrame:
    """The one Arrow encode stage behind the codec fixtures that need
    a real ``multimodal`` encoder (compression, like LZW, zlib or DCT,
    is not expressible as JVM column expressions, unlike the BMP, WAV
    and PPM fixtures): ``encode(doc_id)`` returns one document's
    payload. It runs over :func:`_doc_ids`, so synthesis runs at
    shuffle width."""
    def gen(batches):
        for batch in batches:
            payloads = [encode(int(doc_id)) for doc_id in batch["doc_id"]]
            yield pd.DataFrame({"doc_id": batch["doc_id"], "payload": payloads})

    return _doc_ids(spark, sf_dir).mapInPandas(gen, "doc_id LONG, payload BINARY")


def _base(doc_id: int, base_mod: int | None) -> int:
    """A fixture's pixel/sample key: doc_id, or doc_id % base_mod when
    set — the duplicate knob (docs sharing a base get byte-identical
    content)."""
    return doc_id % base_mod if base_mod else doc_id


def _linear_rgb(base: int, w: int, h: int):
    """The BMP fixture's pixel model as an (h, w, 3) RGB array:
    channels linear in (base, x, y), so the oracle recomputes every
    decoded feature analytically."""
    y, x = np.mgrid[0:h, 0:w]
    return np.stack(
        [
            (base + 3 * x + 7 * y) % 256,
            (base * 2 + 5 * x + 11 * y) % 256,
            (base * 3 + 13 * x + 17 * y) % 256,
        ],
        axis=-1,
    )


def _block_gray(base: int):
    """BLOCK-CONSTANT GRAY (h, w, 3): dims ``w = 8·(base%3+1),
    h = 8·(base%2+1)``, 8x8 block (bx, by) filled with ``v = (base +
    37·bx + 73·by) % 256`` on all three channels — the regime where
    baseline JPEG under an all-ones quant table round-trips pixels
    EXACTLY (constant blocks put all energy in the DC coefficient,
    which quantizes losslessly; gray pixels pin the chroma planes at
    exactly 128), so the oracle recomputes every decoded byte
    analytically despite the lossy format."""
    by, bx = np.mgrid[0 : base % 2 + 1, 0 : base % 3 + 1]
    v = (base + 37 * bx + 73 * by) % 256
    pix = np.repeat(np.repeat(v, 8, axis=0), 8, axis=1)
    return np.stack([pix] * 3, axis=-1)


def _y4m_payload_df(
    spark: SparkSession, sf_dir: str, base_mod: int | None = None
) -> DataFrame:
    """Per-document REAL YUV4MPEG2 payloads (8x4, 8 frames, C420,
    neutral chroma) written by ``multimodal.y4m_encode``; luminance
    ``Y(f, x, y) = (base + 3x + 7y + 11f) % 256`` so the oracle
    recomputes every decoded byte analytically. ``base`` is
    :func:`_base` (the duplicate-video knob)."""
    y, x = np.mgrid[0:4, 0:8]

    def encode(doc_id: int) -> bytes:
        base = _base(doc_id, base_mod)
        return M.y4m_encode(
            np.stack([(base + 3 * x + 7 * y + 11 * f) % 256 for f in range(8)])
        )

    return _encoded_payload_df(spark, sf_dir, encode)


def _audio_near_dups_oracle(
    base_mod: int = 200, frame: int = 16, bands: int = 4, frames: int = 9
) -> str:
    """Audio-fingerprint twin: the SAME quantized Goertzel taps
    (literal VALUES from ``multimodal.goertzel_tables`` — one source
    of constants for both engines), exact-integer energies from the
    analytic sample formula, energy-derivative bits, banded pairs."""
    tabs = ", ".join(
        f"({k}, {i}, {c}, {s})" for k, i, c, s in M.goertzel_tables(frame, bands)
    )
    need = frame * frames
    return f"""
    WITH tab(k, j, c, s) AS (VALUES {tabs}),
    base AS (SELECT doc_id, doc_id % {base_mod} AS b FROM documents),
    samp AS (
      SELECT doc_id, b, unnest(generate_series(0, {need - 1})) AS i
      FROM base
    ),
    vals AS (
      SELECT doc_id, i // {frame} AS f, i % {frame} AS j,
             ((b * 17 + i * 13) % 65536)
               - CASE WHEN (b * 17 + i * 13) % 65536 >= 32768
                      THEN 65536 ELSE 0 END AS x
      FROM samp
    ),
    eng AS (
      SELECT doc_id, f, t.k,
             sum(x * t.c)::BIGINT * sum(x * t.c)::BIGINT
               + sum(x * t.s)::BIGINT * sum(x * t.s)::BIGINT AS e
      FROM vals JOIN tab t ON t.j = vals.j
      GROUP BY doc_id, f, t.k
    ),
    diff AS (
      SELECT doc_id, f, k, e,
             lag(e) OVER (PARTITION BY doc_id, k ORDER BY f) AS pe
      FROM eng
    ),
    hashes AS (
      SELECT doc_id,
             sum(CASE WHEN e > pe THEN
                   (1::BIGINT << ((f - 1) * {bands} + (k - 1)))
                 ELSE 0 END)::BIGINT AS ahash
      FROM diff WHERE f >= 1 GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.ahash, b.ahash))::BIGINT AS hamming
    FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
    """


_PROFILE_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority",
]


_PROFILE_NUMERIC = {"o_orderkey", "o_custkey", "o_totalprice"}


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_COLS:
        if c in _PROFILE_NUMERIC:
            mn = f"round(min({c})::DOUBLE, 6)"
            mx = f"round(max({c})::DOUBLE, 6)"
        else:
            mn = "CAST(NULL AS DOUBLE)"
            mx = "CAST(NULL AS DOUBLE)"
        parts.append(
            f"SELECT '{c}' AS column_name, count(*) AS n_rows, "
            f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls, "
            f"count(DISTINCT {c}) AS n_distinct, "
            f"{mn} AS min_num, {mx} AS max_num FROM orders"
        )
    return " UNION ALL ".join(parts)


_PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]


_PSI_BREAKS = [50, 100, 150, 200, 250, 300, 350, 400, 450]


def _pboot_oracle(
    replicates: int = 20, alpha: float = 0.05, seed_base: int = 7100
) -> str:
    """Poisson-bootstrap twin: the same integer Poisson(1) CDF
    thresholds baked as literals into both plans, one conditional-sum
    pair per replicate, list_sort + 1-based order-statistic pick."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        poisson_thresholds,
    )

    ts = poisson_thresholds()
    cols, means = [], []
    for b in range(replicates):
        h = stable_hash32_sql("event_id::VARCHAR", seed=seed_base + b)
        w = "(" + " + ".join(f"({h} >= {t})::INT" for t in ts) + ")"
        cols.append(f"sum({w} * value) AS ws{b}")
        cols.append(f"sum({w})::BIGINT AS wn{b}")
        means.append(f"round(ws{b} / nullif(wn{b}, 0), 6)")
    lo = int(alpha * replicates) + 1
    hi = replicates - int(alpha * replicates)
    return f"""
    WITH g AS (
      SELECT event_type, count(value) AS n, sum(value) AS s,
             {", ".join(cols)}
      FROM events GROUP BY event_type
    ),
    m AS (
      SELECT event_type, n, round(s / n, 6) AS mean,
             list_sort(list_value({", ".join(means)})) AS ms
      FROM g
    )
    SELECT event_type, n, mean,
           CASE WHEN len(list_filter(ms, x -> x IS NOT NULL))
                     = {replicates}
                THEN list_filter(ms, x -> x IS NOT NULL)[{lo}] END
             AS ci_lo,
           CASE WHEN len(list_filter(ms, x -> x IS NOT NULL))
                     = {replicates}
                THEN list_filter(ms, x -> x IS NOT NULL)[{hi}] END
             AS ci_hi,
           {replicates} AS n_replicates
    FROM m
    """


_PAGERANK_NATION_EDGES = """rev AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
             round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS w
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    )"""


def _pagerank_oracle(
    iterations: int = 5,
    edges_sql: str | None = None,
    out_col: str = "nationkey",
) -> str:
    """Unrolled-iteration DuckDB twin of `operators/graph.py`
    `pagerank`; ``edges_sql`` is a CTE named ``rev`` with (src, dst,
    w) — defaults to the nation trade graph. Expressions (not rounded
    constants) are mirrored — e.g. ``(1.0 - 0.85)`` on both engines —
    so IEEE results agree bit-for-bit before the per-iteration
    round(…, 10)."""
    parts = [
        "\n    WITH "
        + (edges_sql or _PAGERANK_NATION_EDGES)
        + ","
        + """
    verts AS (SELECT DISTINCT src AS v FROM rev),
    fedges AS (
      SELECT e.src, e.dst, e.w FROM rev e JOIN verts t ON e.dst = t.v
    ),
    norm AS (
      SELECT src, dst, w / sum(w) OVER (PARTITION BY src) AS p
      FROM fedges
    ),
    cnt AS (SELECT count(*)::DOUBLE AS n FROM verts),
    r0 AS (SELECT v.v, 1.0 / c.n AS r FROM verts v CROSS JOIN cnt c)
    """
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""", d{i} AS (
      SELECT coalesce(sum(p.r), 0.0) AS dm FROM r{i - 1} p
      WHERE p.v NOT IN (SELECT src FROM norm)
    ), r{i} AS (
      SELECT v.v,
             round((1.0 - 0.85) / c.n
                   + 0.85 * (coalesce(s.acc, 0.0) + dd.dm / c.n),
                   10) AS r
      FROM verts v CROSS JOIN cnt c CROSS JOIN d{i} dd
      LEFT JOIN (
        SELECT e.dst, sum(p.r * e.p) AS acc
        FROM norm e JOIN r{i - 1} p ON e.src = p.v
        GROUP BY e.dst
      ) s ON s.dst = v.v
    )
    """
        )
    parts.append(
        f"SELECT v AS {out_col}, r AS pagerank FROM r{iterations}"
    )
    return "".join(parts)


# quantity bands: a tiny dimension of [lo, hi] ranges joined non-equi
_QTY_BANDS = [
    ("tiny", 0, 9),
    ("small", 10, 19),
    ("medium", 20, 34),
    ("large", 35, 44),
    ("huge", 45, 100),
]


_BM25_TERMS = ["stream", "join", "filter"]


def _pq_oracle(m: int = 4, k: int = 8, iters: int = 2, dim: int = 64) -> str:
    """Product-quantization twin: one prefixed k-means CTE chain per
    subspace over the sliced vectors, codes unioned."""
    sub = dim // m
    parts = [
        """
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    )"""
    ]
    selects = []
    for j in range(m):
        p = f"s{j}_"
        lo, hi = j * sub + 1, (j + 1) * sub
        parts.append(
            f""",
    {p}qvecs AS (
      SELECT vec_id,
             list_transform(v[{lo}:{hi}],
                            x -> round(x * 1000)::BIGINT) AS qv
      FROM base
    ),{_kmeans_cte_chain(k, iters, sub, prefix=p)}"""
        )
        selects.append(
            f"SELECT vec_id, {j} AS subspace, list_id AS code "
            f"FROM {p}assign"
        )
    parts.append("\n" + "\nUNION ALL\n".join(selects))
    return "".join(parts)


def _pq_adc_oracle(
    m: int = 4, k: int = 8, iters: int = 2, dim: int = 64,
    n_queries: int = 5, topk: int = 10,
) -> str:
    """ADC twin: per-subspace prefixed chains expose both the codes
    (``s{j}_assign``) and the final codebook (``s{j}_c{iters}``); the
    query-to-centroid lookup distances and the per-vector code-sum
    are exact bigints, so ranks match bit-for-bit."""
    sub = dim // m
    idx = f"range(1, {sub + 1})"
    parts = [
        """
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    )"""
    ]
    branches = []
    for j in range(m):
        p = f"s{j}_"
        lo, hi = j * sub + 1, (j + 1) * sub
        parts.append(
            f""",
    {p}qvecs AS (
      SELECT vec_id,
             list_transform(v[{lo}:{hi}],
                            x -> round(x * 1000)::BIGINT) AS qv
      FROM base
    ),{_kmeans_cte_chain(k, iters, sub, prefix=p)}"""
        )
        branches.append(
            f"""SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
             list_sum(list_transform({idx},
               i -> (q.qv[i] - c.c[i]) * (q.qv[i] - c.c[i]))) AS pdist
      FROM {p}assign a
      JOIN {p}c{iters} c USING (list_id)
      CROSS JOIN (SELECT vec_id, qv FROM {p}qvecs
                  WHERE vec_id < {n_queries}) q"""
        )
    parts.append(
        f""",
    parts AS (
      {" UNION ALL ".join(branches)}
    ),
    scored AS (
      SELECT query_id, neighbor_id, sum(pdist)::BIGINT AS adist
      FROM parts GROUP BY query_id, neighbor_id
    )
    SELECT query_id, neighbor_id, adist, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adist, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {topk}"""
    )
    return "".join(parts)


def _ivf_pq_oracle(
    n_lists: int = 4, n_probe: int = 2, coarse_iters: int = 2,
    m: int = 4, k: int = 8, pq_iters: int = 2, dim: int = 64,
    n_queries: int = 5, topk: int = 10, rerank_k: int | None = None,
) -> str:
    """IVF-PQ twin: the coarse k-means chain (prefix ``cq_``) feeds a
    residual CTE (``qv - coarse_centroid`` — exact bigints), each
    residual slice trains its own prefixed chain, and the probe / LUT
    / ADC stages are pure integer SQL — every stage bit-identical to
    the engine's."""
    sub = dim // m
    fidx = f"range(1, {dim + 1})"
    sidx = f"range(1, {sub + 1})"
    parts = [
        f"""
    WITH cq_qvecs AS (
      SELECT vec_id,
             list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT)
               AS qv
      FROM embeddings
    ),{_kmeans_cte_chain(n_lists, coarse_iters, dim, prefix="cq_")},
    res AS (
      SELECT q.vec_id, a.list_id AS clist,
             list_transform({fidx}, i -> q.qv[i] - c.c[i]) AS rv
      FROM cq_qvecs q
      JOIN cq_assign a USING (vec_id)
      JOIN cq_c{coarse_iters} c ON a.list_id = c.list_id
    )"""
    ]
    branches = []
    for j in range(m):
        p = f"s{j}_"
        lo, hi = j * sub + 1, (j + 1) * sub
        parts.append(
            f""",
    {p}qvecs AS (
      SELECT vec_id, rv[{lo}:{hi}] AS qv FROM res
    ),{_kmeans_cte_chain(k, pq_iters, sub, prefix=p)}"""
        )
        branches.append(
            f"""SELECT l.query_id, a.vec_id AS neighbor_id, l.pdist
      FROM {p}assign a
      JOIN res r ON a.vec_id = r.vec_id
      JOIN (
        SELECT qr.query_id, qr.clist, cb.list_id AS code,
               list_sum(list_transform({sidx},
                 i -> (qr.rv[{lo - 1} + i] - cb.c[i])
                    * (qr.rv[{lo - 1} + i] - cb.c[i]))) AS pdist
        FROM qres qr CROSS JOIN {p}c{pq_iters} cb
      ) l ON l.clist = r.clist AND l.code = a.list_id"""
        )
    parts.append(
        f""",
    probes AS (
      SELECT query_id, clist FROM (
        SELECT q.vec_id AS query_id, c.list_id AS clist,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_sum(list_transform({fidx},
                   i -> (q.qv[i] - c.c[i]) * (q.qv[i] - c.c[i]))),
                   c.list_id) AS rn
        FROM (SELECT * FROM cq_qvecs WHERE vec_id < {n_queries}) q
        CROSS JOIN cq_c{coarse_iters} c
      ) WHERE rn <= {n_probe}
    ),
    qres AS (
      SELECT p.query_id, p.clist,
             list_transform({fidx}, i -> q.qv[i] - c.c[i]) AS rv
      FROM probes p
      JOIN cq_qvecs q ON q.vec_id = p.query_id
      JOIN cq_c{coarse_iters} c ON c.list_id = p.clist
    ),
    parts AS (
      {" UNION ALL ".join(branches)}
    ),
    scored AS (
      SELECT query_id, neighbor_id, sum(pdist)::BIGINT AS adist
      FROM parts GROUP BY query_id, neighbor_id
    )"""
    )
    if rerank_k is None:
        parts.append(
            f"""
    SELECT query_id, neighbor_id, adist, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adist, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {topk}"""
        )
    else:
        parts.append(
            f""",
    cands AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adist, neighbor_id) AS arank
        FROM scored
      ) WHERE arank <= {rerank_k}
    ),
    exact AS (
      SELECT c.query_id, c.neighbor_id,
             list_sum(list_transform({fidx},
               i -> (q.qv[i] - v.qv[i]) * (q.qv[i] - v.qv[i])))::BIGINT
               AS edist
      FROM cands c
      JOIN cq_qvecs q ON q.vec_id = c.query_id
      JOIN cq_qvecs v ON v.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, edist, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY edist, neighbor_id) AS rank
      FROM exact
    ) WHERE rank <= {topk}"""
        )
    return "".join(parts)


def _hll_overlap_oracle() -> str:
    """Inclusion-exclusion overlap twin: per-set register CTEs, the
    max-merge union, and the same smallrange-branch estimate formula
    as the merge-daily oracle — every est rounded to 4 before the
    subtraction, mirroring the Spark side exactly."""
    sets = {
        "a": "event_type = 'click' AND value >= 700",
        "b": "event_type = 'view' AND value >= 700",
    }
    parts = ["\n    WITH "]
    reg_ctes = []
    for p, pred in sets.items():
        reg_ctes.append(f"""{p}h AS (
      SELECT (('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT) AS h
      FROM events WHERE {pred}
    ),
    {p}rho AS (
      SELECT h % {_HLL_M} AS bucket,
             CASE WHEN h // {_HLL_M} = 0 THEN {32 - _HLL_B + 1}
                  ELSE {32 - _HLL_B} - floor(log2(h // {_HLL_M}))::BIGINT
             END AS rho
      FROM {p}h
    ),
    {p}regs AS (SELECT bucket, max(rho)::BIGINT AS rho
                FROM {p}rho GROUP BY bucket)""")
    parts.append(",\n    ".join(reg_ctes))
    parts.append(f""",
    uregs AS (
      SELECT bucket, max(rho) AS rho FROM
        (SELECT * FROM aregs UNION ALL SELECT * FROM bregs)
      GROUP BY bucket
    )""")

    def est_cte(name: str, regs: str) -> str:
        return f""",
    {name} AS (
      SELECT round(CASE
               WHEN ({_alpha_sql()} * {_HLL_M * _HLL_M})
                    / (s_filled + ({_HLL_M} - v_filled)) <= {2.5 * _HLL_M}
                    AND ({_HLL_M} - v_filled) > 0
               THEN {_HLL_M}.0 * ln({_HLL_M}.0 / ({_HLL_M} - v_filled))
               ELSE ({_alpha_sql()} * {_HLL_M * _HLL_M})
                    / (s_filled + ({_HLL_M} - v_filled))
             END, 4) AS est
      FROM (SELECT count(*) AS v_filled, sum(pow(2.0, -rho)) AS s_filled
            FROM {regs})
    )"""

    for name, regs in (("ea", "aregs"), ("eb", "bregs"), ("eu", "uregs")):
        parts.append(est_cte(name, regs))
    parts.append(f""",
    exact AS (
      SELECT
        (SELECT count(DISTINCT user_id) FROM events WHERE {sets['a']})
          AS exact_a,
        (SELECT count(DISTINCT user_id) FROM events WHERE {sets['b']})
          AS exact_b,
        (SELECT count(*) FROM
           (SELECT DISTINCT user_id FROM events WHERE {sets['a']})
           WHERE user_id IN
             (SELECT user_id FROM events WHERE {sets['b']}))
          AS exact_inter
    )
    SELECT ea.est AS est_a, eb.est AS est_b, eu.est AS est_union,
           round(greatest(ea.est + eb.est - eu.est, 0.0), 4) AS est_inter,
           exact_a, exact_b, exact_inter
    FROM ea, eb, eu, exact""")
    return "".join(parts)


_KMV_K = 512


def _bloom_key_hash(payload: str) -> int:
    """Driver-side twin of ``stable_hash32`` (md5 first 8 hex) for
    building bloom-probe literals — bit-identical to the engine and
    oracle expressions by construction."""
    import hashlib

    return int(hashlib.md5(payload.encode()).hexdigest()[:8], 16)


_BLOOM_PROBE = _bloom_key_hash("15:2")  # day 15, user-residue 2


_BLOOM_PROBE_MASK = 0


for _i in range(4):
    _BLOOM_PROBE_MASK |= 1 << (_bloom_key_hash(f"{_i}:{_BLOOM_PROBE}") % 63)


def _bloom_zone_oracle() -> str:
    def h(payload_expr: str) -> str:
        return f"(('0x' || substr(md5({payload_expr}), 1, 8))::BIGINT)"

    skey = h("date_part('day', ts)::BIGINT::VARCHAR || ':'"
             " || (user_id % 4)::VARCHAR")
    seeded = [h(f"'{i}:' || skey::VARCHAR") for i in range(4)]
    mask = " | ".join(f"(1::BIGINT << ({hx} % 63))" for hx in seeded)
    return f"""
    WITH keyed AS (
      SELECT date_trunc('day', ts) AS z, {skey} AS skey FROM events
    ),
    masked AS (SELECT z, skey, {mask} AS mask FROM keyed),
    zones AS (
      SELECT z, bit_or(mask) AS bloom,
             min(skey) AS mn, max(skey) AS mx, count(*) AS n,
             sum(CASE WHEN skey = {_BLOOM_PROBE} THEN 1 ELSE 0 END) AS nm
      FROM masked GROUP BY z
    )
    SELECT count(*) AS n_zones,
           sum(CASE WHEN (bloom & {_BLOOM_PROBE_MASK}) = {_BLOOM_PROBE_MASK}
                    THEN 1 ELSE 0 END)::BIGINT AS zones_scanned_bloom,
           sum(CASE WHEN mx >= {_BLOOM_PROBE} AND mn <= {_BLOOM_PROBE}
                    THEN 1 ELSE 0 END)::BIGINT AS zones_scanned_minmax,
           sum(n)::BIGINT AS rows_total,
           sum(CASE WHEN (bloom & {_BLOOM_PROBE_MASK}) = {_BLOOM_PROBE_MASK}
                    THEN n ELSE 0 END)::BIGINT AS rows_scanned_bloom,
           sum(CASE WHEN mx >= {_BLOOM_PROBE} AND mn <= {_BLOOM_PROBE}
                    THEN n ELSE 0 END)::BIGINT AS rows_scanned_minmax,
           sum(nm)::BIGINT AS rows_matching,
           round(1.0 - sum(CASE WHEN (bloom & {_BLOOM_PROBE_MASK})
                                     = {_BLOOM_PROBE_MASK}
                                THEN n ELSE 0 END)::DOUBLE / sum(n), 6)
             AS skip_fraction_bloom,
           round(1.0 - sum(CASE WHEN mx >= {_BLOOM_PROBE}
                                     AND mn <= {_BLOOM_PROBE}
                                THEN n ELSE 0 END)::DOUBLE / sum(n), 6)
             AS skip_fraction_minmax,
           sum(CASE WHEN NOT ((bloom & {_BLOOM_PROBE_MASK})
                              = {_BLOOM_PROBE_MASK})
                    THEN nm ELSE 0 END) = 0 AS certificate_ok
    FROM zones
    """


_HIST_LO, _HIST_HI, _HIST_BINS = 0.0, 100.0, 20


def _kcore_oracle(k: int = 2, rounds: int = 6) -> str:
    """Unrolled k-core peel over the record-linkage graph: exactly
    ``rounds`` degree-filter rounds. The Spark operator's early exit
    fires only at the fixed point (peeling is monotone), so the
    fixed-round unroll is result-identical."""
    parts = [
        """
    WITH blocked AS (
      SELECT c_custkey AS id, c_name AS txt,
             substring(c_name, 10, 8) AS blk
      FROM customer
    ),
    sizes AS (SELECT blk, count(*) AS bn FROM blocked GROUP BY blk),
    small AS (
      SELECT b.* FROM blocked b JOIN sizes s USING (blk)
      WHERE s.bn <= 200
    ),
    e0 AS MATERIALIZED (
      SELECT a.id AS src, b.id AS dst
      FROM small a JOIN small b USING (blk)
      WHERE a.id < b.id AND levenshtein(a.txt, b.txt) <= 1
    )"""
    ]
    for r in range(rounds):
        parts.append(
            f""",
    k{r} AS MATERIALIZED (
      SELECT v FROM (SELECT src AS v FROM e{r}
                     UNION ALL SELECT dst FROM e{r})
      GROUP BY v HAVING count(*) >= {k}
    ),
    e{r + 1} AS MATERIALIZED (
      SELECT src, dst FROM e{r}
      WHERE src IN (SELECT v FROM k{r}) AND dst IN (SELECT v FROM k{r})
    )"""
        )
    parts.append(
        f"""
    SELECT v AS c_custkey, count(*)::BIGINT AS core_degree
    FROM (SELECT src AS v FROM e{rounds}
          UNION ALL SELECT dst FROM e{rounds})
    GROUP BY v"""
    )
    return "".join(parts)


def _lpa_oracle(rounds: int = 4) -> str:
    """Unrolled synchronous LPA rounds over the record-linkage graph:
    per round each vertex adopts the most frequent label among its
    neighbors plus itself, ties to the lowest label — the exact
    deterministic vote of ``graph.label_propagation``."""
    parts = [
        """
    WITH blocked AS (
      SELECT c_custkey AS id, c_name AS txt,
             substring(c_name, 10, 8) AS blk
      FROM customer
    ),
    sizes AS (SELECT blk, count(*) AS bn FROM blocked GROUP BY blk),
    small AS (
      SELECT b.* FROM blocked b JOIN sizes s USING (blk)
      WHERE s.bn <= 200
    ),
    e AS MATERIALIZED (
      SELECT a.id AS src, b.id AS dst
      FROM small a JOIN small b USING (blk)
      WHERE a.id < b.id AND levenshtein(a.txt, b.txt) <= 1
    ),
    und AS MATERIALIZED (
      SELECT src, dst FROM e
      UNION ALL SELECT dst AS src, src AS dst FROM e
    ),
    l0 AS (SELECT DISTINCT src AS v, src AS community FROM und)"""
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f""",
    l{t} AS MATERIALIZED (
      SELECT v, community FROM (
        SELECT v, community,
               row_number() OVER (PARTITION BY v
                                  ORDER BY n DESC, community) AS rn
        FROM (
          SELECT v, community, count(*) AS n FROM (
            SELECT u.src AS v, l.community
            FROM und u JOIN l{t - 1} l ON l.v = u.dst
            UNION ALL SELECT v, community FROM l{t - 1}
          ) GROUP BY v, community
        )
      ) WHERE rn = 1
    )"""
        )
    parts.append(
        f"""
    SELECT v AS c_custkey, community FROM l{rounds}"""
    )
    return "".join(parts)


def _bmp_payload_df(
    spark: SparkSession, sf_dir: str, base_mod: int | None = None
) -> DataFrame:
    """BMP payloads for the sf documents table — see
    :func:`_bmp_payload_from`."""
    return _bmp_payload_from(
        _doc_ids(spark, sf_dir), base_mod
    )


def _bmp_payload_from(
    docs: DataFrame, base_mod: int | None = None
) -> DataFrame:
    """Per-document 24-bit BI_RGB BMP payloads as REAL binary: full
    BITMAPFILEHEADER + BITMAPINFOHEADER, then the pixel array with the
    format's two traps intact — bottom-up row order and 4-byte row
    padding — and BGR channel order. Dimensions w = base%5+2,
    h = base%3+2; channel formulas are linear in (base, x, y) so the
    oracle recomputes every feature analytically. ``base`` is doc_id,
    or doc_id % base_mod when set — the duplicate-image knob: docs
    sharing a base get BYTE-IDENTICAL images (the image-dedup
    fixture). Built entirely with JVM expressions (hex/unhex), no
    UDF. Takes the (doc_id) DataFrame directly so streaming
    micro-batches can reuse the generator."""
    base = (
        F.pmod("doc_id", F.lit(base_mod)) if base_mod else F.col("doc_id")
    ).cast("long")
    w = (F.pmod(base, F.lit(5)) + F.lit(2)).cast("long")
    h = (F.pmod(base, F.lit(3)) + F.lit(2)).cast("long")
    pad = F.pmod(F.lit(4) - F.pmod(w * 3, F.lit(4)), F.lit(4))
    stride = w * 3 + pad
    file_size = stride * h + F.lit(54)
    ascii_hex = lambda s: F.hex(F.encode(F.lit(s), "utf-8"))  # noqa: E731

    def chan(val):
        return F.lpad(F.hex(val), 2, "0")

    def px_hex(x, y):
        # stored BGR
        return F.concat(
            chan(F.pmod(base * 3 + x * 13 + y * 17, F.lit(256))),
            chan(F.pmod(base * 2 + x * 5 + y * 11, F.lit(256))),
            chan(F.pmod(base + x * 3 + y * 7, F.lit(256))),
        )

    pad_hex = F.lit("000000").substr(F.lit(1), (pad * 2).cast("int"))
    body_hex = F.array_join(
        F.transform(
            F.sequence(F.lit(0), (h - 1).cast("int")),
            lambda ystore: F.concat(
                F.array_join(
                    F.transform(
                        F.sequence(F.lit(0), (w - 1).cast("int")),
                        lambda x: px_hex(
                            x.cast("long"), h - 1 - ystore.cast("long")
                        ),
                    ),
                    "",
                ),
                pad_hex,
            ),
        ),
        "",
    )
    header_hex = F.concat(
        ascii_hex("BM"), _le_hex(file_size, 4),
        F.lit("00000000"),          # reserved
        _le_hex(F.lit(54), 4),      # pixel data offset
        _le_hex(F.lit(40), 4),      # BITMAPINFOHEADER size
        _le_hex(w, 4), _le_hex(h, 4),
        _le_hex(F.lit(1), 2),       # planes
        _le_hex(F.lit(24), 2),      # bpp
        _le_hex(F.lit(0), 4),       # BI_RGB
        _le_hex(stride * h, 4),     # image size
        _le_hex(F.lit(2835), 4), _le_hex(F.lit(2835), 4),  # ppm
        _le_hex(F.lit(0), 4), _le_hex(F.lit(0), 4),  # colors used/important
    )
    payload = F.unhex(F.concat(header_hex, body_hex))
    return docs.select("doc_id", payload.alias("payload"))


def _gif_payload_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document REAL GIF87a payloads: logical screen descriptor +
    global 256-color palette + LZW-compressed index stream written by
    ``multimodal.gif_encode``. Pixel index at (x, y) is
    ``(doc_id + 3x + 7y) % 256`` and the palette maps index i to
    ``(i, 255 - i, (7i + 13) % 256)`` — both analytic, so the oracle
    recomputes every decoded byte THROUGH the palette indirection
    without ever seeing the payload."""
    i = np.arange(256)
    pal = np.stack([i, 255 - i, (7 * i + 13) % 256], axis=-1)

    def encode(doc_id: int) -> bytes:
        y, x = np.mgrid[0 : doc_id % 4 + 2, 0 : doc_id % 6 + 2]
        return M.gif_encode((doc_id + 3 * x + 7 * y) % 256, pal)

    return _encoded_payload_df(spark, sf_dir, encode)


def _gif_bmp_twin_payload_df(
    spark: SparkSession, sf_dir: str, base_mod: int = 200
) -> DataFrame:
    """GIF payloads carrying EXACTLY the BMP fixture's pixel model
    (dims ``w = base%5+2, h = base%3+2``, :func:`_linear_rgb`): each
    tiny image's distinct colors become its palette (≤ 24 ≤ 256
    entries, sorted for determinism), so a GIF and a BMP of the same
    ``base`` decode to byte-identical pixel arrays from byte-DIFFERENT
    containers — the mixed-corpus dedup fixture."""
    def encode(doc_id: int) -> bytes:
        base = doc_id % base_mod
        pix = _linear_rgb(base, base % 5 + 2, base % 3 + 2)
        # palette sorted lexicographically; idx = each pixel's entry
        pal, idx = np.unique(pix.reshape(-1, 3), axis=0, return_inverse=True)
        return M.gif_encode(idx.reshape(pix.shape[:2]), pal)

    return _encoded_payload_df(spark, sf_dir, encode)


def _png_payload_df(
    spark: SparkSession, sf_dir: str, base_mod: int | None = None
) -> DataFrame:
    """Per-document REAL PNG payloads: signature + CRC-correct
    IHDR/IDAT/IEND with zlib-compressed scanlines, written by
    ``multimodal.png_encode_rgb``. Dimensions w = base%6+2,
    h = base%4+2; channels are the BMP fixture's
    :func:`_linear_rgb`, so the oracle recomputes every decoded
    feature analytically; each row y is filtered with type
    (base + y) % 5, which exercises all five unfilter paths across the
    corpus. ``base`` is :func:`_base` (the duplicate-image knob)."""
    def encode(doc_id: int) -> bytes:
        base = _base(doc_id, base_mod)
        h = base % 4 + 2
        filters = [(base + y) % 5 for y in range(h)]
        return M.png_encode_rgb(_linear_rgb(base, base % 6 + 2, h), filters)

    return _encoded_payload_df(spark, sf_dir, encode)


def _jpeg_payload_df(
    spark: SparkSession, sf_dir: str, base_mod: int | None = None
) -> DataFrame:
    """Per-document REAL baseline JFIF payloads written by
    ``multimodal.jpeg_encode_rgb`` (markers + canonical DHT + DCT +
    Huffman entropy coding) over the :func:`_block_gray` pixel model,
    where baseline JPEG decodes exactly. ``base`` is :func:`_base`
    (the duplicate-image knob)."""
    return _encoded_payload_df(
        spark, sf_dir,
        lambda doc_id: M.jpeg_encode_rgb(_block_gray(_base(doc_id, base_mod))),
    )


def _jpeg_png_twin_payload_df(
    spark: SparkSession, sf_dir: str, base_mod: int = 200
) -> DataFrame:
    """Mixed-container payloads over ONE :func:`_block_gray` pixel
    model (the regime where baseline JPEG decodes exactly): even
    doc_ids encode as real JPEG, odd as real PNG — byte-different
    containers (DCT+Huffman vs zlib+filters) of byte-identical
    pixels whenever ``doc_id % base_mod`` collides, so the duplicate
    structure crosses the container boundary."""
    def encode(doc_id: int) -> bytes:
        pix = _block_gray(doc_id % base_mod)
        return M.jpeg_encode_rgb(pix) if doc_id % 2 == 0 else M.png_encode_rgb(pix)

    return _encoded_payload_df(spark, sf_dir, encode)


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


_MODALITY_ORACLES = (
    ("audio", "multimodal_audio_near_dups"),
    ("image", "multimodal_image_near_dups"),
    ("text", "simhash_hamming_pairs"),
    ("video", "multimodal_video_near_dups"),
)


def _unified_near_dups_oracle(tags: tuple = None) -> str:
    """Cross-modality twin: the unified output must equal the UNION
    of the per-modality analytic oracles (each already proven against
    its own engine path), tagged by modality — composed from the
    registered oracle strings themselves so the two contracts can
    never drift apart. ``tags`` restricts to a subset (the streaming
    fixture fingerprints two modalities)."""
    subs = [
        f"SELECT '{tag}' AS modality, t.id_a, t.id_b,"
        f" t.hamming::INT AS hamming FROM ({REGISTRY[name].oracle}) t"
        for tag, name in _MODALITY_ORACLES
        if tags is None or tag in tags
    ]
    return "\n    UNION ALL\n    ".join(subs)


def _quality_oracle(
    rounds: int = 3,
    n_buckets: int = 32,
    scale: int = 1000,
    lr_num: int = 1,
    lr_den: int = 4,
    score: bool = False,
    eval_split: bool = False,
    train_pct: int = 80,
    salt: str = "qce",
    label_sql: str | None = None,
) -> str:
    """Unrolled-GD DuckDB oracle for the quality classifier (the
    `corpus_bpe_merges` unrolled-rounds pattern): one weights CTE per
    GD round, each recomputing the hard-sigmoid margins and integer
    gradient under the previous round's weights. Everything is
    integer arithmetic — DuckDB's `//` truncates toward zero exactly
    like the engine's `_tdiv` — so weights match bit for bit. With
    ``score=True`` the final select scores every document under the
    last round's weights instead of returning the weights. With
    ``eval_split=True`` documents md5-hash-split into train/test
    (train < ``train_pct`` of 100), the GD trains on the train slice
    only, and the final select is the held-out long-form confusion
    table (label, predicted, n, share) at the m ≥ 0 threshold."""
    four_s = 4 * scale
    bkt = (
        f"(('0x' || substr(md5('{salt}:' || doc_id::VARCHAR), 1, 8))"
        f"::BIGINT % 100)"
    )
    if label_sql is None:
        label_sql = "CASE WHEN lang = 'en' THEN 1 ELSE 0 END"
    d_cols = f"doc_id AS id, ({label_sql})::BIGINT AS y, text"
    if eval_split:
        d_cte = (
            f"SELECT {d_cols}, {bkt} AS bkt FROM documents"
        )
        train_where = f"WHERE bkt < {train_pct}"
    else:
        d_cte = f"SELECT {d_cols} FROM documents"
        train_where = ""
    parts = [
        f"""
    WITH d AS (
      {d_cte}
    ),
    n AS (SELECT count(*)::BIGINT AS n_docs FROM d {train_where}),
    tf AS (
      SELECT id, y,
             (('0x' || substr(md5(tok), 1, 8))::BIGINT % {n_buckets}) AS j,
             count(*)::BIGINT AS x
      FROM (SELECT * FROM d {train_where}) d2,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS t(tok)
      GROUP BY id, y, j
    ),
    feats AS (
      SELECT * FROM tf
      UNION ALL
      SELECT id, y, {n_buckets}::BIGINT AS j, 1::BIGINT AS x
      FROM d {train_where}
    ),
    w0 AS (SELECT unnest(range(0, {n_buckets + 1}))::BIGINT AS j,
                  0::HUGEINT AS w)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
    m{r} AS (
      SELECT f.id, f.y,
             least({four_s}, greatest(0,
                   {2 * scale} + sum(w.w * f.x))) AS N
      FROM feats f JOIN w{r - 1} w USING (j) GROUP BY f.id, f.y
    ),
    g{r} AS (
      SELECT f.j, sum((m.N - {four_s} * f.y) * f.x) AS G
      FROM feats f JOIN m{r} m ON m.id = f.id GROUP BY f.j
    ),
    w{r} AS (
      SELECT w.j,
             w.w - ({lr_num} * coalesce(g.G, 0))
                   // ({lr_den * 4} * n.n_docs) AS w
      FROM w{r - 1} w LEFT JOIN g{r} g USING (j), n
    )"""
        )
    if eval_split:
        parts.append(
            f""",
    tf_test AS (
      SELECT id, y,
             (('0x' || substr(md5(tok), 1, 8))::BIGINT % {n_buckets}) AS j,
             count(*)::BIGINT AS x
      FROM (SELECT * FROM d WHERE bkt >= {train_pct}) d3,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS t(tok)
      GROUP BY id, y, j
    ),
    feats_test AS (
      SELECT * FROM tf_test
      UNION ALL
      SELECT id, y, {n_buckets}::BIGINT AS j, 1::BIGINT AS x
      FROM d WHERE bkt >= {train_pct}
    ),
    scored AS (
      SELECT f.y AS label,
             CASE WHEN sum(w.w * f.x) >= 0 THEN 1 ELSE 0 END AS predicted
      FROM feats_test f JOIN w{rounds} w USING (j) GROUP BY f.id, f.y
    )
    SELECT label::INT AS label, predicted, count(*)::BIGINT AS n,
           round(count(*)::DOUBLE
                 / sum(count(*)) OVER (PARTITION BY label), 6) AS share
    FROM scored GROUP BY label, predicted"""
        )
    elif score:
        parts.append(
            f"""
    SELECT f.id, sum(w.w * f.x)::BIGINT AS margin,
           round(least({four_s}, greatest(0,
                 {2 * scale} + sum(w.w * f.x)))::DOUBLE / {four_s}, 6)
             AS score,
           least({four_s}, greatest(0,
                 {2 * scale} + sum(w.w * f.x))) >= {2 * scale} AS keep
    FROM feats f JOIN w{rounds} w USING (j) GROUP BY f.id"""
        )
    else:
        parts.append(
            f"""
    SELECT j::INT AS feature_id, w::BIGINT AS weight
    FROM w{rounds}"""
        )
    return "".join(parts)


def _driver_last_green() -> dict[str, int]:
    """Map query name -> most recent round with a green driver row,
    parsed from the ``CORRECTNESS_r*.json`` files the driver drops at
    the repo root. A row is green when ``hash_match`` is true, or —
    for rows-only checks with no oracle — when ``rows_match`` is true.
    Red rows do not count: a query that failed its last check keeps
    its older (or absent) green round and sorts back to the front."""
    import json

    # repo root: this file sits at isilon_hadoop_tools_spark/suite/
    root = Path(__file__).resolve().parents[2]
    last: dict[str, int] = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        m = _re.search(r"r(\d+)$", path.stem)
        if m is None:
            continue
        rnd = int(m.group(1))
        try:
            data = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, rec in data.items():
            if not isinstance(rec, dict):
                continue
            green = rec.get("hash_match") is True or (
                rec.get("hash_match") is None
                and rec.get("rows_match") is True
            )
            if green and rnd > last.get(name, -1):
                last[name] = rnd
    return last


def _ordered_names() -> list[str]:
    """Registration order for the driver gate: least-recently-verified
    first. The driver checks ~the first 50 queries per round, so
    sorting by the round of each query's latest green driver row (from
    the driver's own CORRECTNESS files) makes the window a
    deterministic round-robin — every query re-earns a driver row at
    least every ceil(n/50) rounds, new/red/never-checked queries jump
    to the front, and a regression cannot hide outside the window for
    more than two rounds."""
    last = _driver_last_green()
    # stable sort: ties keep registration (_CANONICAL_ORDER) order
    return sorted(REGISTRY, key=lambda n: last.get(n, -1))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].spark for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }


# Canonical registration order (the original suite.py order). Append
# new query names here as they are added; names missing from this
# list register AFTER the canonical block, in family import order.
_CANONICAL_ORDER = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_local_supplier_volume",
    "customers_without_orders",
    "urgent_orders_with_heavy_items",
    "top3_orders_per_customer",
    "customer_order_gaps",
    "nations_customers_only",
    "nations_customers_and_suppliers",
    "agg_surface_stats",
    "lineitem_rollup",
    "lineitem_cube",
    "customer_trailing_revenue",
    "lineitem_grouping_sets",
    "realm_spn_reconcile",
    "cluster_node_revision",
    "pool_addresses",
    "zone_hdfs_root",
    "settings_as_map_entries",
    "identity_suffix_all_tables",
    "uid_lookup_probe",
    "orders_format_roundtrip",
    "identity_users_cdh",
    "identity_groups_cdp",
    "identity_memberships_hdp",
    "identity_proxy_users_cdp",
    "directories_cdh_suffixed",
    "uid_allocation_cdh",
    "referential_integrity_cdh",
    "reconcile_users_cdh",
    "delete_orphan_users",
    "update_hdfs_settings",
    "apply_identities_cdh",
    "apply_identities_rerun_delta",
    "apply_directories_cdh",
    "directory_permissions_drift",
    "identity_script_cdh",
    "events_hourly_rollup",
    "events_dedup_first",
    "error_classification",
    "error_matchers",
    "events_asof_latest_order",
    "events_props_parsed",
    "events_user_ema",
    "events_hourly_rollup_stream",
    "events_sliding_rollup_stream",
    "events_dedup_first_stream",
    "events_sessionized",
    "events_stream_stream_join",
    "events_salted_type_counts",
    "orders_partitioned_pruning",
    "events_foreach_batch_state",
    "doc_token_stats",
    "doc_lang_quality",
    "doc_lang_id",
    "doc_repetition_stats",
    "doc_train_split",
    "doc_stratified_sample",
    "doc_pack_chunks",
    "doc_redact_pii",
    "corpus_decontaminate",
    "doc_truncate_tokens",
    "embedding_top_pc",
    "embedding_ivf_index_stream",
    "embedding_kmeans_assign",
    "embedding_label_probe",
    "embedding_label_separation",
    "embedding_knn_probe",
    "embedding_quantize_int8",
    "doc_tfidf_topk",
    "corpus_curation_funnel",
    "q14_promo_revenue",
    "q6_forecast_revenue",
    "q4_order_priority",
    "q7_nation_volume",
    "q10_returned_items",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "q18_large_volume_customers",
    "q19_bracket_revenue",
    "q22_dormant_customers",
    "q2_min_cost_supplier",
    "q11_important_stock",
    "q16_supplier_part_counts",
    "q20_excess_stock_suppliers",
    "q8_market_share",
    "q9_product_type_profit",
    "q12_late_shipment_priority",
    "q21_waiting_suppliers",
    "dedup_exact_docs",
    "dedup_ngram_jaccard",
    "doc_prefix_jaccard_pairs",
    "dedup_minhash_signatures",
    "dedup_minhash_lsh_candidates",
    "dedup_keep_one",
    "doc_winnow_fingerprints",
    "simhash_docs",
    "simhash_hamming_pairs",
    "simhash_rep_pairs",
    "dedup_embedding_cosine",
    "semantic_dedup_keep",
    "orders_price_bands",
    "multimodal_metadata",
    "multimodal_binary_dedup",
    "multimodal_decode_stub",
    "multimodal_frame_sample",
    "ann_brute_force_cosine",
    "ann_lsh_bucketed",
    "ann_lsh_multiprobe",
    "ann_binary_hamming",
    "ann_ivf_probed",
    "doc_dup_spans",
    "doc_dup_span_merged",
    "doc_dup_span_cut",
    "doc_suffix_dup_spans",
    "doc_chunk_overlap",
    "doc_char_entropy",
    "embedding_l2_normalize",
    "ann_recall_eval",
    "corpus_vocab_topk",
    "corpus_wordpiece_merges",
    "corpus_bpe_tokenize",
    "corpus_wordpiece_tokenize",
    "corpus_bpe_merges",
    "corpus_byte_bpe_merges",
    "corpus_byte_bpe_tokenize",
    "corpus_unigram_tokenize",
    "corpus_unigram_lm",
    "corpus_good_turing",
    "doc_unigram_surprisal",
    "doc_dsir_importance",
    "events_hll_registers",
    "events_hll_distinct_users",
    "corpus_decontaminate_bloom",
    "events_cms_heavy_hitters",
    "corpus_mg_heavy_tokens",
    "doc_weighted_sample",
    "corpus_mixture_plan",
    "events_zorder_skipping",
    "events_hilbert_skipping",
    "events_hilbert_write_skipping",
    "events_zorder_layout",
    "events_compaction_plan",
    "compaction_index_stream",
    "events_compaction_execute",
    "multimodal_resize_stub",
    "multimodal_feature_stub",
    "multimodal_resize_real",
    "multimodal_y4m_features",
    "multimodal_video_near_dups",
    "multimodal_audio_near_dups",
    "multimodal_wav_features",
    "events_funnel_conversion",
    "events_weekly_retention",
    "events_sessions_batch",
    "events_value_quantiles",
    "events_value_quantiles_approx",
    "orders_profile",
    "events_cdc_apply",
    "customer_blocked_editdist",
    "lineitem_part_pairs",
    "events_type_outliers",
    "events_incremental_rollup",
    "events_daily_gapfill",
    "events_type_pivot",
    "customer_priority_scd2",
    "lineitem_priority_at_ship",
    "events_last_purchase_locf",
    "events_ab_lift",
    "events_theil_sen_trend",
    "events_cusum_changepoint",
    "events_last_touch_attribution",
    "events_linear_attribution",
    "events_time_decay_attribution",
    "events_psi_drift",
    "events_js_divergence",
    "events_psi_stream",
    "events_ks_drift",
    "events_ordered_funnel",
    "events_trimmed_mean",
    "events_mom_mean",
    "events_value_bootstrap_ci",
    "nation_trade_pagerank",
    "events_multigrain_rollup",
    "events_stream_static_join",
    "orders_expectations",
    "orders_table_checksum",
    "customer_spend_deciles",
    "lineitem_quantity_band_join",
    "events_week_from_day_rollup",
    "customer_first_last_orders",
    "orders_priority_multiset_diff",
    "doc_bm25_topk",
    "doc_hybrid_rrf",
    "customer_entity_resolution",
    "embedding_jl_distortion",
    "embedding_pq_codes",
    "ann_ivf_pq",
    "embedding_hard_negatives",
    "ann_ivf_pq_rerank",
    "ann_pq_adc",
    "events_hll_overlap",
    "events_hll_merge_daily",
    "events_quantile_sketch",
    "lineitem_orders_join_size_cms",
    "customer_k_anonymity",
    "customer_dp_histogram",
    "customer_fs_linkage_em",
    "customer_l_diversity",
    "customer_t_closeness",
    "events_bloom_zone_skipping",
    "events_zone_skipping",
    "events_kmv_stream",
    "events_cdc_stream",
    "events_cms_stream",
    "events_hll_stream",
    "simhash_index_stream",
    "customer_link_triangles",
    "customer_link_neighbor_jaccard",
    "events_session_conversion",
    "events_skew_report",
    "customer_link_clustering",
    "events_type_transitions",
    "events_hll_by_type",
    "events_value_histogram",
    "customer_link_kcore",
    "customer_link_communities",
    "dedup_minhash_jaccard_est",
    "dedup_lsh_recall",
    "events_type_mad_outliers",
    "doc_normalize_text",
    "multimodal_gif_features",
    "multimodal_mixed_near_dups",
    "multimodal_png_features",
    "multimodal_bmp_features",
    "events_approx_distinct_bound",
    "events_time_weighted_value",
    "events_active_interval_union",
    "events_interval_overlap_pairs",
    "events_value_equidepth_hist",
    "corpus_temperature_mixture",
    "corpus_doremi_weights",
    "doc_pack_sequences",
    "doc_ccnet_pipeline",
    "dedup_component_sizes",
    "events_value_trend",
    "lineitem_corr_matrix",
    "multimodal_bmp_ahash",
    "multimodal_image_near_dups",
    "multimodal_bmp_dhash",
    "multimodal_hash_recall",
    "minhash_index_stream",
    "multimodal_png_near_dups",
    "multimodal_unified_near_dups",
    "multimodal_unified_index_stream",
    "corpus_quality_classifier_train",
    "doc_quality_scores",
    "doc_suffix_span_cut",
    "doc_quality_eval",
    "dedup_lsh_plan",
    "doc_quality_score_drift",
    "multimodal_jpeg_features",
    "multimodal_jpeg_near_dups",
    "doc_curation_pipeline",
    "multimodal_jpeg_png_near_dups",
    "doc_lm_perplexity",
    "doc_kn_perplexity",
    "corpus_decontaminate_neardup",
    "events_mann_whitney",
    "doc_url_canonicalize",
    "corpus_domain_caps",
    "suffix_index_stream",
    "corpus_decontaminate_spans",
    "dedup_url_keep_one",
    "corpus_decontaminate_cut",
    "events_chi_square_drift",
    "doc_web_curation_pipeline",
    "events_wilcoxon_signed_rank",
    "domain_caps_index_stream",
    "url_keep_one_index_stream",
    "events_cvm_drift",
    "events_ad_drift",
    "corpus_domain_quality",
    "corpus_domain_caps_psl",
    "doc_lang_id_trained",
    "multimodal_pair_alignment",
    "corpus_paragraph_dedup",
    "doc_quality_threshold_sweep",
    "embedding_matryoshka_recall",
    "paragraph_index_stream",
    "customer_linkage_block_audit",
    "events_snapshot_time_travel",
    "doc_html_extract",
    "doc_web_curation_from_html",
    "events_snapshot_pruned_scan",
    "events_snapshot_diff",
    "events_survival_km",
    "customer_fs_linkage_multirule",
    "events_survival_logrank",
    "doc_link_pagerank",
    "events_snapshot_cdc_stream",
    "doc_gopher_quality",
    "orders_snapshot_merge_upsert",
    "events_snapshot_schema_evolution",
    "orders_lineitem_incremental_join",
    "events_cuped_ab",
    "corpus_zipf_fit",
    "events_sprt_decision",
    "orders_lineitem_bloom_semi_join",
    "corpus_heaps_fit",
    "orders_wap_publish",
    "events_sprt_stream",
    "events_dp_mean",
    "events_weekday_seasonality",
    "doc_phrase_search",
    "orders_bloom_index_stream",
    "events_seasonal_anomalies",
    "events_seasonal_naive_backtest",
    "events_snapshot_changes_feed",
    "events_rfm_segments",
    "events_range_partition_audit",
    "lineitem_brand_rules",
    "doc_vocab_coverage",
    "events_huber_mean",
    "events_benford",
    "events_cohort_ltv",
    "events_snapshot_append_stream",
    "doc_gram_novelty",
    "events_mann_kendall",
    "events_revenue_gini",
    "events_stream_left_outer_join",
    "events_snapshot_row_deletes",
    "events_conversion_ztest",
    "events_snapshot_rename_evolution",
    "events_cdc_delete_stream",
]


def _enforce_registration_order() -> None:
    """Rebuild REGISTRY in canonical order after the family modules
    have registered (import order groups by family; the driver
    contract preserves the historical interleaved order)."""
    snapshot = dict(REGISTRY)
    missing = [n for n in _CANONICAL_ORDER if n not in snapshot]
    assert not missing, f"canonical order lists unregistered: {missing}"
    canon = set(_CANONICAL_ORDER)
    extras = [n for n in snapshot if n not in canon]
    REGISTRY.clear()
    REGISTRY.update({n: snapshot[n] for n in _CANONICAL_ORDER})
    REGISTRY.update({n: snapshot[n] for n in extras})
