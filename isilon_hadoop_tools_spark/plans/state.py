"""Parquet-backed mutable table state with swap-on-write.

Stands in for the reference's remote cluster state (the OneFS side of
every reconcile). Each logical table is a parquet directory; writes
land in a staging dir first and swap in atomically, so a sink that
*reads* the current generation while computing the next one never
overwrites its own input mid-plan (Spark reads lazily — in-place
overwrite of a source is a classic self-corruption).

On a real deployment the same contract is a Delta/Iceberg table (ACID
MERGE); plain parquet + swap keeps this engine dependency-free while
preserving the read-modify-swap discipline.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from isilon_hadoop_tools_spark.sources.local import local_df


class ParquetState:
    """A directory of named parquet tables with atomic replace."""

    def __init__(self, spark: SparkSession, root: str, write_partitions: int = 1):
        self.spark = spark
        self.root = root
        # State tables are catalog-sized (identities, directories,
        # settings — tens to thousands of rows); under a vanilla
        # session's 200 shuffle partitions an uncoalesced write
        # produces 200 near-empty files per table. Callers with a
        # genuinely large state table raise this.
        self.write_partitions = write_partitions
        os.makedirs(root, exist_ok=True)

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        return os.path.isdir(self._path(table))

    def read(self, table: str, schema: T.StructType | str | None = None) -> DataFrame:
        """Current state of ``table``; empty DataFrame if never written.

        The never-written branch is ``local_df(spark, [], schema)``:
        an empty Arrow-built ``LocalRelation`` with the declared
        schema, nullability included, whose zero-row size lets
        Catalyst broadcast it and propagate the empty relation through
        every consumer downstream. Reading a never-written table
        requires ``schema`` for that branch.
        """
        if self.exists(table):
            return self.spark.read.parquet(self._path(table))
        if schema is None:
            raise KeyError(f"state table {table!r} never written and no schema given")
        return local_df(self.spark, [], schema)

    def write(self, table: str, df: DataFrame, partitions: int | None = None) -> int:
        """Replace ``table`` with ``df`` (stage then swap); returns the
        new row count (read from the staged parquet footers on the
        driver — a re-read ``count()`` would cost one extra Spark job
        per write, and the staged executor writes per stage).

        ``partitions`` overrides ``write_partitions`` for THIS write:
        ``coalesce(1)`` does not just produce one file — it collapses
        the entire final stage (aggregation included) to one task, so
        a compute-bearing state table (the streaming pair merges)
        passes the plan's own shuffle width here to keep the merge
        aggregation wide; catalog-sized tables keep the 1-file
        default. More files per table is the explicit trade (the
        table is swap-replaced every write, so the count never
        accumulates)."""
        final = self._path(table)
        tmp = final + ".staging"
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
        n_out = partitions or self.write_partitions
        df.coalesce(n_out).write.mode("overwrite").parquet(tmp)
        n = self._footer_count(tmp)
        old = final + ".old"
        if os.path.isdir(final):
            os.rename(final, old)
        os.rename(tmp, final)
        if os.path.isdir(old):
            shutil.rmtree(old)
        return n

    def append(self, table: str, df: DataFrame) -> None:
        """Append ``df``'s rows to ``table`` without rewriting the
        existing data — the monotone-index write path (streaming band
        postings / member tables), where swap-on-write's O(table)
        rewrite per batch would make total work quadratic in the
        stream length. Per-batch cost is O(delta) instead.

        Atomicity caveat (documented, tested): Spark's append commits
        per file, so a crash mid-append can leave a SUBSET of the
        delta's rows. Consumers of appended tables must therefore be
        (a) keyed-idempotent — re-deriving the delta with an
        anti-join against the table re-adds only the missing rows —
        and (b) duplicate-tolerant where a partially-landed group
        could be re-added under a different file split (the streaming
        index counts DISTINCT bands, never raw posting rows). The
        production analog is a Delta/Iceberg append commit, which
        closes the partial-visibility window entirely.
        """
        df.coalesce(self.write_partitions).write.mode("append").parquet(
            self._path(table)
        )

    @staticmethod
    def _footer_count(path: str) -> int:
        """Row count from parquet footer metadata — no Spark job.

        Local-filesystem only, like the rest of this stand-in class
        (the production analog is a Delta/Iceberg table whose commit
        log carries the count).
        """
        import pyarrow.parquet as pq

        return sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )

    def destroy(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


class OverlayState(ParquetState):
    """A copy-on-write view over a base state, for dry runs.

    Reads fall through to ``base`` until the table is written here;
    writes land only in this overlay's directory. A staged pipeline
    can therefore *compose* through its own pending outputs (stage 2
    reads stage 1's would-be state) while the base state stays
    untouched — the reference's dry-run substitutes logging sinks but
    still threads its in-memory counters the same way
    (``identities.py:188-198,312-320``).
    """

    def __init__(self, base: ParquetState, root: str):
        super().__init__(base.spark, root)
        self.base = base

    def read(self, table: str, schema: T.StructType | str | None = None) -> DataFrame:
        if self.exists(table):
            return super().read(table, schema)
        return self.base.read(table, schema)
