"""SparkSession factory for the engine.

Local mode is the test rig; the config is chosen so the same code is
cluster-correct at 100 TB: AQE on (runtime join-strategy + skew-join +
partition coalescing), shuffle partitions sized by env, UTC session
timezone (oracle comparability), Arrow enabled for the Pandas-UDF
slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def shuffle_partition_count(spark: SparkSession, default: int = 200) -> int:
    """``spark.sql.shuffle.partitions`` as an int, tolerating platforms
    where the conf is the string ``"auto"`` (AQE auto-sizing, e.g.
    Databricks): fall back to the cluster's default parallelism instead
    of raising ValueError mid-query. Used by the two-phase
    range-partitioned operators (`_ordered_cumsum`,
    `_ordered_row_number`, ID allocation) that need an explicit
    partition count for their driver-side offset pass."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", str(default)))
    except (TypeError, ValueError):
        return max(2, int(spark.sparkContext.defaultParallelism))


def _has_exchange(plan) -> bool:
    """Whether the JVM physical ``plan`` holds an exchange node
    (``Exchange``, ``BroadcastExchange``, ``ReusedExchange``) anywhere
    in its tree — through AQE wrappers and query stages, cached
    relations and subqueries. Node names, not plan text: a column
    name or string literal can spell "Exchange" too."""
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.endswith("Exchange"):
            return True
        # AQE's wrapper and its query stages are leaves that hold
        # their plan outside children/innerChildren
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            stack.append(node.plan())
        for seq in (node.children(), node.innerChildren()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return False


def widen_narrow_input(df, *keys):
    """Conditionally widen a scan-width-bound frame before a
    compute-dense per-row stage (Python fingerprinting, codec decode,
    HTML regex extraction): repartition on ``keys`` ONLY when the
    frame has fewer partitions than ``spark.sql.shuffle.partitions``.
    At bench scale a one-file parquet table otherwise runs the whole
    stage in 1-2 tasks; a production many-split corpus skips the
    exchange entirely (the `_doc_ids` pattern, generalized).

    Designed for SCAN-LEVEL inputs (a parquet read plus row-local
    projections/filters). The width probe uses ``.rdd``, which under
    AQE materializes every upstream shuffle stage at plan-build time
    (``toRdd``), so a frame whose physical plan already contains an
    ``Exchange`` is passed through untouched rather than probed: its
    width is shuffle-determined (not scan-determined), and probing it
    would silently execute the upstream stages twice. That includes a
    ``BroadcastExchange``: its build side is a job of its own."""
    npart = max(2, shuffle_partition_count(df.sparkSession))
    if _has_exchange(df._jdf.queryExecution().executedPlan()):
        return df
    if df.rdd.getNumPartitions() < npart:
        return df.repartition(npart, *keys)
    return df


def get_session(
    app_name: str = "isilon_hadoop_tools_spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a real cluster the ``master`` is supplied by spark-submit; here
    we default to ``local[$SPARK_GRAFT_CPUS]``. Shuffle partitions
    default to the core count locally — on a 1000-executor cluster the
    caller passes a value sized to the shuffle volume and AQE coalesces
    the rest.
    """
    cpus = str(cpus or DEFAULT_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-partition the stages that materialize persisted
        # plans: with the default (false) every .persist() subtree
        # keeps raw spark.sql.shuffle.partitions tasks — profiled as
        # fleets of 32-task ~0.3-0.7 s no-IO stages inside the
        # k-means/PQ training loops; the conf trades exchange reuse
        # on cache hits (irrelevant here: caches are per-operator
        # scratch, never shared across differently-partitioned
        # consumers) for right-sized cached stages. A cluster deploy
        # where exchange reuse across cached consumers matters passes
        # "false" through ``extra_conf``.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # snapshot readers pass manifests' explicit file lists; above
        # this many paths Spark switches to a DISTRIBUTED listing job
        # with one task per path (profiled: 1200-task / 3-4 s listing
        # jobs per snapshot_read at sf0.1, twice per compaction
        # rewrite, vs milliseconds of driver-side stat calls on a
        # local FS). This covers the bench's file counts; an
        # object-store cluster deploy lowers it through ``extra_conf``.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cpus}]")
    for key, val in (extra_conf or {}).items():
        builder = builder.config(key, val)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
