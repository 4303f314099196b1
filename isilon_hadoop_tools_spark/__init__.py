"""isilon_hadoop_tools_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of
``Isilon/isilon_hadoop_tools`` (reference at ``/root/reference``),
re-expressed Spark-first: DataFrame/SQL logical plans optimized by
Catalyst, plus the LLM-data-pipeline operators (dedup, similarity
search, multimodal columns, text analysis) the reference lacks.

Layout
------
- ``session``    : SparkSession builder tuned for local + cluster use.
- ``errors``     : error-row algebra — body classification, the 15
                   message predicates, transient/retry routing
                   (reference ``onefs.py:256-478,566-596``).
- ``oracle``     : seed-catalog → ANSI-SQL VALUES rendering for the
                   DuckDB correctness oracle.
- ``sources``    : parquet scans + seed catalogs (identity / directory
                   tables, reference ``identities.py:350-538``,
                   ``directories.py:115-240``).
- ``functions``  : scalar helper expressions (octal modes, IPv4<->int,
                   posix paths, text tokens/n-grams).
- ``operators``  : relational + reconciliation + LLM-pipeline operators.
- ``plans``      : the write side — parquet-backed state, idempotent
                   merge/update/delete sinks, the staged topological
                   executor, and the identity / directory pipelines
                   (reference ``identities.py:284-309``,
                   ``directories.py:62-86``).
- ``multimodal`` : binary image/audio/video columns with typed
                   metadata, magic-byte sniffing, binary dedup, and
                   Arrow-batched decode/frame-sample stages (codecs
                   stubbed deterministically).
- ``streaming``  : Structured Streaming mappings of the event surface
                   (watermarked windows, sessionization, stateful
                   dedup, foreachBatch idempotent sinks — the
                   reference's inotify contract, ``onefs.py:1099-1120``).
- ``scripts``    : reference-shaped entry points (``create_users`` /
                   ``create_directories`` with the console scripts'
                   argument semantics, incl. copy-on-write dry runs —
                   reference ``_scripts.py:78-167``).
- ``cli``        : argparse console scripts mirroring the reference's
                   argument surface (``cli.py:32-190``,
                   ``_scripts.py:20-167``), ``catches`` → exit code 1.
- ``suite``      : the oracle-checked query registry (driver contract).

Operator modules under ``operators/``: relational (``reconcile``,
``allocate_ids``, ``guards``, ``topk``, ``asof``, ``skew`` incl.
Z-order), dedup (exact/ngram/minhash/simhash/winnow/connected
components), ``similarity`` (ANN, quantization, k-means, SemDeDup),
``corpus`` (curation, sampling, mixing, chunking, quality gates),
``sketches`` (deterministic HyperLogLog + count-min).
"""

__version__ = "0.1.0"


class IsilonHadoopToolsSparkError(Exception):
    """Root exception (reference: ``__init__.py:16-28``)."""
