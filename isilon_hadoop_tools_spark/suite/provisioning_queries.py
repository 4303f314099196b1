"""Suite queries — provisioning: identity/directory catalogs, reconcile + sinks, cluster scans, error algebra.

Split from the original suite.py; registration order is enforced
centrally by the package __init__ via _CANONICAL_ORDER."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from isilon_hadoop_tools_spark.functions.octal import to_octal
from isilon_hadoop_tools_spark.operators.allocate_ids import allocate_ids
from isilon_hadoop_tools_spark.operators.guards import dangling_references
from isilon_hadoop_tools_spark.operators.reconcile import reconcile
from isilon_hadoop_tools_spark.oracle import values_cte
from isilon_hadoop_tools_spark.sources import catalogs, cluster
from isilon_hadoop_tools_spark.sources.local import local_df

from isilon_hadoop_tools_spark.suite._shared import (
    _DIR_SUFFIX,
    _ERR_COLS,
    _ERR_CTX,
    _ERR_SCHEMA,
    _ERR_VALID_SQL,
    _PERM_ROOT,
    _PRE_GROUP,
    _PRE_USER,
    _PROBE_USERS,
    _SFX,
    _STRAY_USERS,
    _TAKEN_UIDS,
    _actual_perm_rows,
    _actual_user_rows,
    _allocation_oracle,
    _apply_identities_oracle,
    _error_seed_rows,
    _fresh_state,
    _pool_int_sql,
    _script_oracle,
    _sql_rendered,
    _uid_lookup_oracle,
    _users_cte,
    query,
)


@query(
    "realm_spn_reconcile",
    oracle=(
        "WITH "
        + values_cte(
            "seed_realms",
            ["realm_name", "auth_provider", "sc_zone"],
            cluster.REALM_ROWS,
        )
        + ", "
        + values_cte("seed_keytab", ["realm_name", "spn"], cluster.KEYTAB_ROWS)
        + """,
    desired AS (
      SELECT realm_name, svc || '/' || sc_zone AS spn
      FROM seed_realms, unnest(['hdfs', 'HTTP']) AS t(svc)
    )
    SELECT coalesce(d.realm_name, k.realm_name) AS realm_name,
           coalesce(d.spn, k.spn) AS spn,
           CASE WHEN k.spn IS NULL THEN 'create'
                WHEN d.spn IS NULL THEN 'delete'
                ELSE 'noop' END AS action
    FROM desired d
    FULL OUTER JOIN seed_keytab k
      ON d.realm_name = k.realm_name AND d.spn = k.spn
    """
    ),
)
def realm_spn_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kerberos SPN lifecycle (S6 realms/keytab scans + S9 create_spn
    + S10 delete_spn): desired SPNs are {hdfs,HTTP}/{SmartConnect
    zone} per realm (``onefs.py:919-932``); reconciling against the
    keytab classifies create (missing), noop (present), delete (stale
    entry — the keep-list semantics of ``onefs.py:988-1000``)."""
    realms = cluster.realms_df(spark)
    keytab = cluster.keytab_df(spark)
    desired = realms.select(
        "realm_name",
        "sc_zone",
        F.explode(F.array(F.lit("hdfs"), F.lit("HTTP"))).alias("svc"),
    ).select(
        "realm_name", F.concat_ws("/", "svc", "sc_zone").alias("spn")
    )
    d = desired.alias("d")
    k = keytab.alias("k")
    return (
        d.join(
            k,
            (F.col("d.realm_name") == F.col("k.realm_name"))
            & (F.col("d.spn") == F.col("k.spn")),
            "full_outer",
        )
        .select(
            F.coalesce("d.realm_name", "k.realm_name").alias("realm_name"),
            F.coalesce("d.spn", "k.spn").alias("spn"),
            F.when(F.col("k.spn").isNull(), "create")
            .when(F.col("d.spn").isNull(), "delete")
            .otherwise("noop")
            .alias("action"),
        )
    )


@query(
    "cluster_node_revision",
    oracle=(
        "WITH "
        + values_cte("seed_nodes", ["node_id", "revision"], cluster.NODE_ROWS)
        + """
    SELECT revision,
           count(*) AS n_nodes,
           (SELECT count(DISTINCT revision) FROM seed_nodes) AS n_revisions
    FROM seed_nodes GROUP BY revision
    """
    ),
)
def cluster_node_revision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cluster-revision check (A1/A3, ``onefs.py:1240-1245``): the
    single distinct node revision; a mixed-mode cluster (n_revisions
    > 1) is the reference's ``MixedModeError``."""
    from isilon_hadoop_tools_spark.operators.guards import assert_unique
    from isilon_hadoop_tools_spark.sources import cluster

    nodes = cluster.nodes_df(spark)
    distinct_revs = nodes.select("revision").distinct()
    assert_unique(distinct_revs.select(F.lit(1).alias("one")), "one")
    n_revs = distinct_revs.count()
    return nodes.groupBy("revision").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.lit(n_revs).cast("long").alias("n_revisions"),
    )


@query(
    "pool_addresses",
    oracle=(
        "WITH "
        + values_cte(
            "seed_pools",
            ["pool_name", "low_ip", "high_ip"],
            cluster.POOL_ROWS,
        )
        + f""",
    expanded AS (
      SELECT split_part(pool_name, ':', 2) AS pool_id,
             unnest(generate_series({_pool_int_sql('low_ip')},
                                    {_pool_int_sql('high_ip')})) AS a
      FROM seed_pools
      WHERE pool_name LIKE 'subnet0%'
    )
    SELECT DISTINCT pool_id,
           (a // 16777216) % 256 || '.' || (a // 65536) % 256 || '.'
             || (a // 256) % 256 || '.' || a % 256 AS addr
    FROM expanded
    """
    ),
)
def pool_addresses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Network-pool IP range expansion (F7/F11, ``node_addresses``
    ``onefs.py:1182-1197``) with the split-':' pool-id parse (F3) and
    a startswith prefix predicate (P6)."""
    from isilon_hadoop_tools_spark.functions.ip import expand_ip_ranges
    from isilon_hadoop_tools_spark.sources import cluster

    pools = cluster.pools_df(spark).filter(
        F.col("pool_name").startswith("subnet0")
    ).withColumn("pool_id", F.split("pool_name", ":").getItem(1))
    return expand_ip_ranges(pools, "low_ip", "high_ip", keep=["pool_id"])


@query(
    "zone_hdfs_root",
    oracle=(
        "WITH "
        + values_cte(
            "seed_zones",
            ["zone_name", "zone_path", "zone_id"],
            cluster.ZONE_ROWS,
        )
        + ",\n    "
        + values_cte(
            "seed_hdfs",
            ["zone_name", "root_directory", "default_block_size", "service_enabled"],
            cluster.HDFS_SETTINGS_ROWS,
        )
        + """
    SELECT z.zone_name, s.root_directory,
           z.zone_path || '/' || s.root_directory AS hdfs_root,
           s.default_block_size
    FROM seed_zones z
    JOIN seed_hdfs s ON lower(z.zone_name) = lower(s.zone_name)
    WHERE s.service_enabled
    """
    ),
)
def zone_hdfs_root(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Settings projection reads (S7) joined case-insensitively on the
    zone name (P5/F2, ``onefs.py:688-693``) and composed into the
    zone-relative HDFS root path (F4, ``directories.py:47-59``)."""
    from isilon_hadoop_tools_spark.functions.paths import posix_join
    from isilon_hadoop_tools_spark.sources import cluster

    zones = cluster.zones_df(spark)
    settings = cluster.hdfs_settings_df(spark).filter(F.col("service_enabled"))
    return zones.join(
        F.broadcast(settings.withColumnRenamed("zone_name", "s_zone")),
        F.lower(zones["zone_name"]) == F.lower(F.col("s_zone")),
    ).select(
        "zone_name",
        "root_directory",
        posix_join(F.col("zone_path"), F.col("root_directory")).alias("hdfs_root"),
        "default_block_size",
    )


@query(
    "settings_as_map_entries",
    oracle=(
        "WITH "
        + values_cte(
            "seed_hdfs",
            ["zone_name", "root_directory", "default_block_size", "service_enabled"],
            cluster.HDFS_SETTINGS_ROWS,
        )
        + """
    SELECT zone_name, e.entry.key AS setting_key, e.entry.value AS setting_value
    FROM seed_hdfs,
         UNNEST(map_entries(MAP {
           'root_directory': root_directory,
           'default_block_size': default_block_size::VARCHAR,
           'service_enabled': service_enabled::VARCHAR
         })) AS e(entry)
    """
    ),
)
def settings_as_map_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface (F9: map construction, entry explode): each
    settings document pivoted to (zone, key, value) rows — the
    engine's form of the reference's settings-dict projections
    (``onefs.py:1122-1142``)."""
    from isilon_hadoop_tools_spark.sources import cluster as cl

    settings = cl.hdfs_settings_df(spark)
    doc = F.create_map(
        F.lit("root_directory"), F.col("root_directory"),
        F.lit("default_block_size"), F.col("default_block_size").cast("string"),
        F.lit("service_enabled"), F.col("service_enabled").cast("string"),
    )
    return settings.select(
        "zone_name", F.explode(doc).alias("setting_key", "setting_value")
    )


@query(
    "identity_suffix_all_tables",
    oracle=f"""
    WITH {_users_cte('cdh')},
    {values_cte('seed_groups', ['group_name'], catalogs.group_rows('cdh'))},
    {values_cte('seed_m', ['user_name', 'group_name'], catalogs.membership_rows('cdh'))},
    {values_cte('seed_p', ['proxy_name', 'member_name', 'member_type'], catalogs.proxy_user_rows('cdh'))}
    SELECT 'user' AS kind, user_name || '{_SFX}' AS name_1,
           primary_group || '{_SFX}' AS name_2, CAST(NULL AS VARCHAR) AS member_type
    FROM seed_users
    UNION ALL
    SELECT 'group', group_name || '{_SFX}', NULL, NULL FROM seed_groups
    UNION ALL
    SELECT 'membership', user_name || '{_SFX}', group_name || '{_SFX}', NULL
    FROM seed_m
    UNION ALL
    SELECT 'proxy', proxy_name || '{_SFX}', member_name || '{_SFX}', member_type
    FROM seed_p
    """,
)
def identity_suffix_all_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The identity-suffix transform applied across all four identity
    tables (F1, ``identities.py:323-347`` — users, groups,
    memberships, proxy members; the member *type* is never suffixed)."""
    from isilon_hadoop_tools_spark.plans.identities import _suffixed

    u = _suffixed(
        catalogs.users_df(spark, "cdh"), ["user_name", "primary_group"], _SFX
    ).select(
        F.lit("user").alias("kind"),
        F.col("user_name").alias("name_1"),
        F.col("primary_group").alias("name_2"),
        F.lit(None).cast("string").alias("member_type"),
    )
    g = _suffixed(catalogs.groups_df(spark, "cdh"), ["group_name"], _SFX).select(
        F.lit("group").alias("kind"),
        F.col("group_name").alias("name_1"),
        F.lit(None).cast("string").alias("name_2"),
        F.lit(None).cast("string").alias("member_type"),
    )
    m = _suffixed(
        catalogs.memberships_df(spark, "cdh"), ["user_name", "group_name"], _SFX
    ).select(
        F.lit("membership").alias("kind"),
        F.col("user_name").alias("name_1"),
        F.col("group_name").alias("name_2"),
        F.lit(None).cast("string").alias("member_type"),
    )
    p = _suffixed(
        catalogs.proxy_users_df(spark, "cdh"), ["proxy_name", "member_name"], _SFX
    ).select(
        F.lit("proxy").alias("kind"),
        F.col("proxy_name").alias("name_1"),
        F.col("member_name").alias("name_2"),
        F.col("member_type"),
    )
    return u.unionByName(g).unionByName(m).unionByName(p)


@query("uid_lookup_probe", oracle=_uid_lookup_oracle())
def uid_lookup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cardinality-asserted name lookups (J1/J2/J3 + P6 isin): probe
    three user names through the composed user->uid, user->pgroup,
    pgroup->gid broadcast joins, with uniqueness asserted on both
    lookup tables first (``onefs.py:1072-1082,1267-1277``)."""
    from isilon_hadoop_tools_spark.operators.guards import assert_unique

    users = allocate_ids(
        catalogs.users_df(spark, "cdh"), "user_name", start=1025, out_col="uid"
    ).join(catalogs.users_df(spark, "cdh"), "user_name")
    groups = allocate_ids(
        catalogs.groups_df(spark, "cdh"), "group_name", start=1025, out_col="gid"
    )
    assert_unique(users, "user_name")
    assert_unique(groups, "group_name")
    probes = users.filter(F.col("user_name").isin(*_PROBE_USERS))
    return probes.join(
        F.broadcast(groups.withColumnRenamed("group_name", "primary_group")),
        "primary_group",
    ).select("user_name", "uid", "primary_group", "gid")


@query(
    "identity_users_cdh",
    oracle=f"WITH {_users_cte('cdh')} SELECT user_name, primary_group FROM seed_users",
)
def identity_users_cdh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed catalog scan (S1): CDH users normalized to 1NF."""
    return catalogs.users_df(spark, "cdh")


@query(
    "identity_groups_cdp",
    oracle=(
        "WITH "
        + values_cte("seed_groups", ["group_name"], catalogs.group_rows("cdp"))
        + " SELECT group_name FROM seed_groups"
    ),
)
def identity_groups_cdp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed catalog scan (S1): CDP groups = declared ∪ primary ∪
    secondary, deduplicated (SURVEY SO1/A4)."""
    return catalogs.groups_df(spark, "cdp")


@query(
    "identity_memberships_hdp",
    oracle=(
        "WITH "
        + values_cte(
            "seed_m", ["user_name", "group_name"], catalogs.membership_rows("hdp")
        )
        + " SELECT user_name, group_name FROM seed_m"
    ),
)
def identity_memberships_hdp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership flatten (J5 explode semantics) for HDP."""
    return catalogs.memberships_df(spark, "hdp")


@query(
    "identity_proxy_users_cdp",
    oracle=(
        "WITH "
        + values_cte(
            "seed_p",
            ["proxy_name", "member_name", "member_type"],
            catalogs.proxy_user_rows("cdp"),
        )
        + " SELECT proxy_name, member_name, member_type FROM seed_p"
    ),
)
def identity_proxy_users_cdp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proxy-user flatten: typed (member_name, member_type) pairs."""
    return catalogs.proxy_users_df(spark, "cdp")


@query(
    "directories_cdh_suffixed",
    oracle=(
        "WITH "
        + values_cte(
            "seed_d",
            ["seq", "path", "owner", "grp", "mode"],
            catalogs.directory_rows("cdh"),
        )
        + f"""
    SELECT seq, path,
           owner || '{_DIR_SUFFIX}' AS owner,
           grp   || '{_DIR_SUFFIX}' AS grp,
           to_base(mode, 8) AS mode_octal
    FROM seed_d
    """
    ),
)
def directories_cdh_suffixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory catalog (S2) + identity-suffix transform (F1,
    ``directories.py:109-112``) + octal formatting (F5,
    ``onefs.py:822``: f"{mode:o}"). ``seq`` preserves the reference's
    parent-first order (W2)."""
    dirs = catalogs.directories_df(spark, "cdh")
    return dirs.select(
        "seq",
        "path",
        F.concat(F.col("owner"), F.lit(_DIR_SUFFIX)).alias("owner"),
        F.concat(F.col("group"), F.lit(_DIR_SUFFIX)).alias("grp"),
        to_octal("mode").alias("mode_octal"),
    )


@query("uid_allocation_cdh", oracle=_allocation_oracle("cdh"))
def uid_allocation_cdh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous UID allocation with collision skip (W1): the k-th
    user name (total order) gets the k-th free ID >= 1025, skipping
    already-taken IDs — the parallel re-expression of the reference's
    serial counter probe (``identities.py:75-89,126-149``)."""
    users = catalogs.users_df(spark, "cdh")
    taken = local_df(users.sparkSession, [(t,) for t in _TAKEN_UIDS], "id INT")
    return allocate_ids(users, "user_name", taken, start=1025, out_col="uid")


@query(
    "referential_integrity_cdh",
    oracle=f"""
    WITH {_users_cte('cdh')},
    {values_cte('seed_groups', ['group_name'], catalogs.group_rows('cdh'))},
    {values_cte('seed_d', ['seq', 'path', 'owner', 'grp', 'mode'], catalogs.directory_rows('cdh'))}
    SELECT 'owner' AS kind, count(*)::BIGINT AS violations
    FROM seed_d WHERE owner NOT IN (SELECT user_name FROM seed_users)
    UNION ALL
    SELECT 'group' AS kind, count(*)::BIGINT AS violations
    FROM seed_d WHERE grp NOT IN (SELECT group_name FROM seed_groups)
    """,
)
def referential_integrity_cdh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity anti-join (J6): every directory owner must
    be a user, every directory group a group
    (``tests/test_directories.py:6-14``). Violations must be 0."""
    dirs = catalogs.directories_df(spark, "cdh")
    users = catalogs.users_df(spark, "cdh")
    groups = catalogs.groups_df(spark, "cdh")
    owner_bad = dangling_references(dirs, "owner", users, "user_name").agg(
        F.count(F.lit(1)).alias("violations")
    ).select(F.lit("owner").alias("kind"), "violations")
    group_bad = dangling_references(
        dirs.withColumnRenamed("group", "group_name"), "group_name", groups, "group_name"
    ).agg(F.count(F.lit(1)).alias("violations")).select(
        F.lit("group").alias("kind"), "violations"
    )
    return owner_bad.unionByName(group_bad)


@query(
    "reconcile_users_cdh",
    oracle=f"""
    WITH {_users_cte('cdh')},
    {values_cte('actual_users', ['user_name', 'primary_group'], _actual_user_rows())}
    SELECT coalesce(d.user_name, a.user_name) AS user_name,
           CASE WHEN a.user_name IS NULL THEN 'create'
                WHEN d.user_name IS NULL THEN 'orphan'
                WHEN d.primary_group IS DISTINCT FROM a.primary_group THEN 'update'
                ELSE 'noop' END AS action,
           d.primary_group AS desired_primary_group,
           a.primary_group AS actual_primary_group
    FROM seed_users d FULL OUTER JOIN actual_users a USING (user_name)
    """,
)
def reconcile_users_cdh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Desired-vs-actual full-outer reconciliation (J8): classify every
    key as create / update / noop / orphan — the engine's declarative
    form of the reference's write-and-tolerate-conflict semantics
    (``identities.py:137-148,251-262``)."""
    desired = catalogs.users_df(spark, "cdh")
    actual = local_df(spark, _actual_user_rows(), catalogs.USERS_SCHEMA)
    return reconcile(desired, actual, "user_name")


@query(
    "delete_orphan_users",
    oracle=f"WITH {_users_cte('cdh')} SELECT user_name, primary_group FROM seed_users",
)
def delete_orphan_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete sink (S10, reference ``onefs.py:958-1008``): seed state
    with the catalog plus two stray rows, classify orphans via the
    reconcile diff, delete them with the key anti-join sink, commit,
    and read the committed state back — only catalog rows survive."""
    from isilon_hadoop_tools_spark.operators.reconcile import ACTION_ORPHAN, reconcile
    from isilon_hadoop_tools_spark.plans.sinks import apply_delete

    state = _fresh_state(spark, "delete_orphan_users")
    seeded = sorted(list(catalogs.user_rows("cdh")) + list(_STRAY_USERS))
    state.write("svc_users", local_df(spark, seeded, catalogs.USERS_SCHEMA))
    actual = state.read("svc_users", catalogs.USERS_SCHEMA)
    desired = catalogs.users_df(spark, "cdh")
    orphans = reconcile(desired, actual, "user_name").filter(
        F.col("action") == ACTION_ORPHAN
    )
    state.write("svc_users", apply_delete(actual, orphans, "user_name"))
    return state.read("svc_users", catalogs.USERS_SCHEMA)


@query(
    "update_hdfs_settings",
    oracle=(
        "WITH "
        + values_cte(
            "seed_hdfs",
            ["zone_name", "root_directory", "default_block_size", "service_enabled"],
            cluster.HDFS_SETTINGS_ROWS,
        )
        + """
    SELECT zone_name, root_directory,
           CASE WHEN zone_name = 'Zone1' THEN 262144
                ELSE default_block_size END AS default_block_size,
           service_enabled
    FROM seed_hdfs
    """
    ),
)
def update_hdfs_settings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Settings update sink (S12, reference ``onefs.py:1291-1304``):
    per-key column overwrite of one zone's block size, committed and
    read back; unknown settings columns are rejected by Spark's
    analyzer — the engine's twin of the reference's reflective key
    validation (``onefs.py:1279-1289``)."""
    from isilon_hadoop_tools_spark.plans.sinks import apply_update
    from isilon_hadoop_tools_spark.sources import cluster as cl

    state = _fresh_state(spark, "update_hdfs_settings")
    state.write("hdfs_settings", cl.hdfs_settings_df(spark))
    current = state.read("hdfs_settings", cl.HDFS_SETTINGS_SCHEMA)
    updates = local_df(
        spark, [("Zone1", 262144)], "zone_name STRING, default_block_size INT"
    )
    state.write(
        "hdfs_settings",
        apply_update(current, updates, "zone_name", ["default_block_size"]),
    )
    return state.read("hdfs_settings", cl.HDFS_SETTINGS_SCHEMA)


@query("apply_identities_cdh", oracle=_apply_identities_oracle())
def apply_identities_cdh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full staged identity apply (S9/W1/W2): seed a state with one
    pre-existing group and user (stray IDs), run the four-stage
    pipeline, read the committed parquet state back, and resolve each
    user's primary gid (J4 composed lookup). Checks ID adoption,
    collision skip, and the write->read-back round trip in one query."""
    from isilon_hadoop_tools_spark.plans import identities as pid

    state = _fresh_state(spark, "apply_identities_cdh")
    state.write(
        "groups", local_df(spark, [_PRE_GROUP], pid.GROUPS_STATE)
    )
    state.write("users", local_df(spark, [_PRE_USER], pid.USERS_STATE))
    pid.apply_identities(spark, state, "cdh")
    users = state.read("users", pid.USERS_STATE)
    groups = state.read("groups", pid.GROUPS_STATE)
    return users.join(
        F.broadcast(groups.withColumnRenamed("group_name", "primary_group")),
        "primary_group",
    ).select(
        "user_name", "uid", "primary_group", F.col("gid").alias("primary_gid")
    )


@query(
    "apply_identities_rerun_delta",
    oracle="""
    SELECT CAST(NULL AS VARCHAR) AS user_name, CAST(NULL AS VARCHAR) AS action,
           CAST(NULL AS VARCHAR) AS desired_primary_group,
           CAST(NULL AS VARCHAR) AS actual_primary_group
    WHERE FALSE
    """,
)
def apply_identities_rerun_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's rerun invariant (J8, README "work with what it
    finds"): applying the pipeline twice and reconciling desired vs
    committed state leaves nothing to create or update."""
    from isilon_hadoop_tools_spark.operators.reconcile import idempotency_delta
    from isilon_hadoop_tools_spark.plans import identities as pid

    state = _fresh_state(spark, "apply_identities_rerun")
    pid.apply_identities(spark, state, "cdh")
    pid.apply_identities(spark, state, "cdh")
    desired = catalogs.users_df(spark, "cdh")
    actual = state.read("users", pid.USERS_STATE).select(
        "user_name", "primary_group"
    )
    return idempotency_delta(desired, actual, "user_name")


@query(
    "apply_directories_cdh",
    oracle=(
        "WITH "
        + values_cte(
            "seed_d",
            ["seq", "path", "owner", "grp", "mode"],
            catalogs.directory_rows("cdh"),
        )
        + f"""
    SELECT '/ifs/zone1/hadoop'
             || CASE WHEN path = '/' THEN '' ELSE path END AS path,
           owner || '{_DIR_SUFFIX}' AS owner,
           grp   || '{_DIR_SUFFIX}' AS grp,
           to_base(mode, 8) AS mode_octal
    FROM seed_d
    """
    ),
)
def apply_directories_cdh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parents-first staged mkdir/chmod/chown apply (S11/W2): commit
    the CDH directory catalog depth level by depth level into a state
    table, then read the committed state back with octal modes."""
    from isilon_hadoop_tools_spark.plans import directories as pdir

    state = _fresh_state(spark, "apply_directories_cdh")
    pdir.apply_directories(
        spark,
        state,
        "cdh",
        zone_path="/ifs/zone1",
        hdfs_root_dir="hadoop",
        suffix=_DIR_SUFFIX,
    )
    out = state.read("directories", pdir.DIRECTORIES_STATE)
    return out.select(
        "path",
        "owner",
        F.col("group").alias("grp"),
        to_octal("mode").alias("mode_octal"),
    )


@query(
    "directory_permissions_drift",
    oracle=(
        "WITH "
        + values_cte(
            "seed_d",
            ["seq", "path", "owner", "grp", "mode"],
            catalogs.directory_rows("cdh"),
        )
        + ",\n"
        + values_cte(
            "actual_raw",
            ["path", "owner", "grp", "mode_octal"],
            _actual_perm_rows(),
        )
        + f"""
    , desired AS (
      SELECT '{_PERM_ROOT}'
               || CASE WHEN path = '/' THEN '' ELSE path END AS path,
             owner, grp, mode
      FROM seed_d
    ),
    actual AS (
      SELECT path, owner, grp,
             list_sum(list_transform(
               range(1, length(mode_octal) + 1),
               i -> (ascii(substring(mode_octal, i::INT, 1)) - 48)
                    * 8 ** (length(mode_octal) - i)))::INT AS mode
      FROM actual_raw
    )
    SELECT coalesce(d.path, a.path) AS path,
           CASE WHEN a.path IS NULL THEN 'mkdir'
                WHEN d.path IS NULL THEN 'foreign'
                WHEN d.mode <> a.mode
                     AND (d.owner <> a.owner OR d.grp <> a.grp)
                  THEN 'chmod+chown'
                WHEN d.mode <> a.mode THEN 'chmod'
                WHEN d.owner <> a.owner OR d.grp <> a.grp THEN 'chown'
                ELSE 'ok' END AS action,
           to_base(d.mode, 8) AS desired_mode_octal,
           to_base(a.mode, 8) AS actual_mode_octal,
           d.owner AS desired_owner, a.owner AS actual_owner,
           d.grp AS desired_grp, a.grp AS actual_grp
    FROM desired d FULL OUTER JOIN actual a ON d.path = a.path
    """
    ),
)
def directory_permissions_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permissions read + postcondition drift check (S8): parse the
    octal modes a filesystem-metadata scan returns, full-outer diff
    against the resolved directory catalog, and classify each path
    into the repair call it needs (``onefs.py:1209-1221``,
    ``directories.py:62-86``)."""
    from isilon_hadoop_tools_spark.plans import directories as pdir

    desired = pdir.desired_directories(spark, "cdh", _PERM_ROOT).drop("depth")
    actual = pdir.read_permissions(
        local_df(spark, _actual_perm_rows(), pdir.PERMISSIONS_ACTUAL_SCHEMA)
    )
    out = pdir.permissions_drift(desired, actual)
    return out.select(
        "path",
        "action",
        to_octal("desired_mode").alias("desired_mode_octal"),
        to_octal("actual_mode").alias("actual_mode_octal"),
        "desired_owner",
        F.col("actual_owner"),
        F.col("desired_group").alias("desired_grp"),
        F.col("actual_group").alias("actual_grp"),
    )


@query("identity_script_cdh", oracle=_script_oracle())
def identity_script_cdh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shell-script side output (S13): the replay script rows —
    ``groupadd --gid``, ``useradd --uid --gid``, ``usermod -a -G`` —
    generated from a freshly applied state (reference
    ``identities.py:224-229,279-280``)."""
    from isilon_hadoop_tools_spark.plans import identities as pid

    state = _fresh_state(spark, "identity_script_cdh")
    pid.apply_identities(spark, state, "cdh")
    return pid.script_lines(
        state.read("groups", pid.GROUPS_STATE),
        state.read("users", pid.USERS_STATE),
        state.read("memberships", pid.MEMBERSHIPS_STATE),
    )


@query(
    "error_classification",
    oracle=(
        "WITH "
        + values_cte("seed_err", _ERR_COLS, _error_seed_rows())
        + f"""
    SELECT err_id,
           CASE WHEN body IS NULL OR NOT json_valid(body) THEN 'undecodable'
                WHEN NOT ({_ERR_VALID_SQL}) THEN 'malformed'
                ELSE 'ok' END AS validity,
           CASE WHEN {_ERR_VALID_SQL}
                THEN len(json_transform(body,
                         '{{"errors":[{{"message":"VARCHAR"}}]}}').errors)
                END AS n_messages
    FROM seed_err
    """
    ),
)
def error_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-body shape classification (F10 + §2.11): every one of the
    reference's 10 malformation cases plus valid bodies, classified by
    one CASE expression — undecodable / malformed / ok."""
    from isilon_hadoop_tools_spark import errors as E

    seed = local_df(spark, _error_seed_rows(), _ERR_SCHEMA)
    validity = E.classify_body("body")
    parsed = F.from_json("body", E.ERRORS_SCHEMA)
    return seed.select(
        "err_id",
        validity.alias("validity"),
        F.when(validity == E.VALID, F.size(parsed["errors"])).alias("n_messages"),
    )


@query(
    "error_matchers",
    oracle=(
        "WITH "
        + values_cte("seed_err", _ERR_COLS, _error_seed_rows())
        + f""",
    valid AS (SELECT * FROM seed_err WHERE {_ERR_VALID_SQL}),
    msgs AS (
      SELECT v.err_id, v.gid, v.uid, v.group_name, v.user_name,
             v.proxy_name, v.license_name, v.zone_name, e.message AS message
      FROM valid v,
           UNNEST(json_transform(v.body,
                  '{{"errors":[{{"message":"VARCHAR"}}]}}').errors) AS t(e)
    )
    SELECT err_id, message,
           CASE
             {{matcher_chain}}
             ELSE 'unclassified' END AS kind,
           message = '{{try_again_msg}}' AS transient
    FROM msgs
    """.replace(
            "{matcher_chain}",
            "\n             ".join(
                f"WHEN message = {_sql_rendered(k)} THEN '{k}'"
                for k in (
                    "gid_already_exists",
                    "group_already_exists",
                    "group_not_found",
                    "group_unresolvable",
                    "license_expired",
                    "license_missing",
                    "proxy_user_already_exists",
                    "try_again",
                    "uid_already_exists",
                    "user_already_exists",
                    "user_already_in_group",
                    "user_not_found",
                    "user_unresolvable",
                    "zone_not_found",
                    "dir_path_already_exists",
                )
            ),
        ).replace(
            "{try_again_msg}",
            "OneFS API is temporarily unavailable. Try your request again.",
        )
    ),
)
def error_matchers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 15 equality predicates (P4) as one first-match expression
    over exploded messages, plus the transient/retry classifier
    (``accesses_onefs``, ``onefs.py:566-596``)."""
    from isilon_hadoop_tools_spark import errors as E

    seed = local_df(spark, _error_seed_rows(), _ERR_SCHEMA)
    msgs = E.parse_messages(seed, "body")
    ctx = {k: F.col(k) for k in _ERR_CTX}
    return msgs.select(
        "err_id",
        "message",
        E.first_match("message", ctx).alias("kind"),
        E.is_transient("message").alias("transient"),
    )
