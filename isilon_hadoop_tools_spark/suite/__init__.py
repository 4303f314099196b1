"""The engine's oracle-checked query suite, as a package.

The public surface is REGISTRY, query, queries(), oracle_sql(),
CACHE_TABLES and QuerySpec, which live in ._shared together with the
ordering helpers and the table cache (import those from ._shared).
Each family module registers its @query functions on import, and
_shared._enforce_registration_order() then restores the canonical
interleaved registration order, which breaks ties in the driver
window's least-recently-verified ordering.

Family import order is fixed: dedup must precede multimodal (the
unified-index oracle composes REGISTRY oracle strings of dedup-family
queries at import time).
"""

from isilon_hadoop_tools_spark.suite import _shared
from isilon_hadoop_tools_spark.suite._shared import (  # noqa: F401
    CACHE_TABLES,
    REGISTRY,
    QuerySpec,
    oracle_sql,
    queries,
    query,
)

# Importing the family modules registers their queries; the star
# imports keep every query function reachable as `suite.<name>` (used
# by __spark_entry__.entry and ad-hoc tooling).
from isilon_hadoop_tools_spark.suite.provisioning_queries import *  # noqa: F401,F403
from isilon_hadoop_tools_spark.suite.tpch_queries import *  # noqa: F401,F403
from isilon_hadoop_tools_spark.suite.events_queries import *  # noqa: F401,F403
from isilon_hadoop_tools_spark.suite.docs_queries import *  # noqa: F401,F403
from isilon_hadoop_tools_spark.suite.dedup_queries import *  # noqa: F401,F403
from isilon_hadoop_tools_spark.suite.ann_queries import *  # noqa: F401,F403
from isilon_hadoop_tools_spark.suite.multimodal_queries import *  # noqa: F401,F403
from isilon_hadoop_tools_spark.suite.analytics_queries import *  # noqa: F401,F403

_shared._enforce_registration_order()
