"""Structured Streaming surface (SURVEY §2.9).

The reference's only streaming-adjacent contract is the HDFS inotify
settings read (``onefs.py:1099-1120``): an event feed with a maximum
delivery delay and a retention horizon. The engine maps that contract
onto Structured Streaming over the ``events`` table — max delay ==
watermark, retention == watermark-driven state eviction — and the
reference's idempotent sinks (S9) onto ``foreachBatch`` merges. Every
such maintainer drains its source through the one
:func:`~isilon_hadoop_tools_spark.streaming.events.drain`
(``foreachBatch`` + ``trigger(availableNow)`` + optional checkpoint)
with its own per-batch applier: the ``*_stream_into_*`` functions of
``events`` bind theirs, and a near-dup index is drained by passing
``drain`` a lambda over its ``*_apply_batch``.
"""

from isilon_hadoop_tools_spark.streaming.neardup import (
    compaction_apply_batch,
    domain_caps_apply_batch,
    minhash_index_apply_batch,
    simhash_index_apply_batch,
    simhash_stream_into_state,
    suffix_index_apply_batch,
    paragraph_index_apply_batch,
    tagged_index_apply_batch,
    url_keep_one_apply_batch,
)
from isilon_hadoop_tools_spark.streaming.events import (
    dedup_first_stream,
    dedup_within_watermark,
    hourly_rollup_stream,
    sliding_rollup_stream,
    static_enrich_rollup_stream,
    read_events_stream,
    run_available_now,
    sessionize,
    view_purchase_interval_join,
)

__all__ = [
    "dedup_first_stream",
    "domain_caps_apply_batch",
    "dedup_within_watermark",
    "hourly_rollup_stream",
    "sliding_rollup_stream",
    "static_enrich_rollup_stream",
    "read_events_stream",
    "run_available_now",
    "minhash_index_apply_batch",
    "sessionize",
    "simhash_index_apply_batch",
    "simhash_stream_into_state",
    "suffix_index_apply_batch",
    "paragraph_index_apply_batch",
    "compaction_apply_batch",
    "tagged_index_apply_batch",
    "url_keep_one_apply_batch",
    "view_purchase_interval_join",
]
