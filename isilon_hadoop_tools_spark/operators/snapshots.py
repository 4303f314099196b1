"""Atomic snapshot-manifest commits for the batch rewrite family.

The maintenance writers (``compaction_execute``,
``layout_write_footer_stats``) used to land bare ``mode("overwrite")``
parquet directories: a reader concurrent with the rewrite saw a
half-written table, and there was no old state to roll back to. This
module gives them the mini-Delta/Iceberg commit discipline the
engine's STREAMING maintainers already have (marker-row commits +
crash matrices), generalizing the reference's rerun-converges sink
contract (`/root/reference/src/isilon_hadoop_tools/identities.py:124-160`
— tolerate-exists, idempotent replay) to whole-table rewrites:

- data files land in a fresh VERSIONED directory
  (``<table>/data/v<NNNNN>/``) that no reader points at yet;
- a manifest (``<table>/_manifests/<NNNNN>.json``) records the exact
  file list, row count, and an order-independent checksum;
- the commit is ONE atomic pointer swap (write-temp + ``os.replace``
  of ``<table>/_LATEST``) — POSIX rename atomicity, the same primitive
  Delta's ``_delta_log`` commit relies on per log file.

Crash matrix (every window leaves a readable table):

====================================  =================================
crash window                          observable state
====================================  =================================
during the data write                 torn ``data/v<N>`` dir exists but
                                      NO manifest points at it — readers
                                      still resolve the old pointer;
                                      replay overwrites the dir
after manifest, before pointer swap   manifest is orphaned-but-valid;
                                      readers still see the old version;
                                      replay allocates the NEXT version
                                      and swaps the pointer — converges
during either rename                  ``os.replace`` is atomic: readers
                                      see the old or the new file, never
                                      a partial one
====================================  =================================

Readers (:func:`snapshot_read`) load the MANIFEST's exact file list
(``basePath``-anchored so partition columns survive), so stray or torn
files in the data directory are invisible by construction, and any
previous version stays readable until its files are vacuumed — which
is what makes ``version=N-1`` time travel free.

Concurrent writers (r15): version allocation is arbitrated by
put-if-absent reservation markers (``O_CREAT|O_EXCL`` — the same
primitive Delta borrows from the object store), the pointer swap is
flock-serialized and monotonic, and read-modify-write commits take a
compare-and-swap (``expect_latest=``) that fails loudly with
``ConcurrentSnapshotError`` instead of silently losing an update. On
an object store without POSIX rename/flock, substitute its native
put-if-absent — the requirement is stated, not hidden.
"""

from __future__ import annotations

import contextlib
import json
import os
import pathlib
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from isilon_hadoop_tools_spark.sources.local import local_df

_MANIFESTS = "_manifests"
_POINTER = "_LATEST"
_POINTERS = "_pointers"


def _table(table_dir: str | os.PathLike) -> pathlib.Path:
    return pathlib.Path(table_dir)


def _atomic_write_text(path: pathlib.Path, text: str) -> None:
    tmp = path.with_name(path.name + ".tmp")
    tmp.write_text(text)
    os.replace(tmp, path)


class _PosixFlockBackend:
    """Commit primitives for a POSIX filesystem: advisory ``flock``
    mutex, ``O_CREAT|O_EXCL`` put-if-absent, overwriting-rename
    pointer swap. The fastest path when the table lives on a local
    or POSIX-complete shared filesystem."""

    name = "flock"

    @contextlib.contextmanager
    def lock(self, table: pathlib.Path):
        import fcntl

        with open(table / (_POINTER + ".lock"), "w") as fh:
            fcntl.flock(fh, fcntl.LOCK_EX)
            yield

    def put_if_absent(self, path: pathlib.Path, text: str = "") -> bool:
        try:
            fd = os.open(str(path), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        try:
            if text:
                os.write(fd, text.encode())
        finally:
            os.close(fd)
        return True

    def advance(self, table: pathlib.Path, version: int) -> None:
        _atomic_write_text(table / _POINTER, str(version))

    def publish(self, table: pathlib.Path, version: int) -> bool:
        with self.lock(table):
            cur = latest_version(table)
            if cur is None or version > cur:
                self.advance(table, version)
                return True
            return False


class _RenameBackend:
    """Commit primitives restricted to the HDFS surface (the north
    star runs Spark on HDFS-on-OneFS, where ``flock`` does not exist
    and rename never overwrites): the mutex is an atomic ``mkdir``
    (HDFS mkdir is atomic; stale locks from dead writers are broken
    after a TTL), put-if-absent is write-temp + hard-``link`` (the
    local stand-in for HDFS ``create(overwrite=false)`` — both fail
    atomically when the target exists), and the pointer is a
    PER-VERSION marker file under ``_pointers/`` whose MAX is the
    committed tip — monotonic by construction, and with no
    delete-then-rename window where a reader would find no pointer
    at all (HDFS rename cannot atomically replace a file)."""

    name = "rename"

    def __init__(self, stale_lock_sec: float = 300.0):
        self.stale_lock_sec = stale_lock_sec

    @contextlib.contextmanager
    def lock(self, table: pathlib.Path):
        d = table / (_POINTER + ".lockdir")
        deadline = time.monotonic() + 60.0
        while True:
            try:
                os.mkdir(d)
                break
            except FileExistsError:
                try:
                    stale = (
                        time.time() - d.stat().st_mtime
                        > self.stale_lock_sec
                    )
                except FileNotFoundError:
                    continue  # holder just released: retry at once
                if stale:
                    # holder died mid-commit: break the lock (rmdir of
                    # a vanished dir means someone else broke it first)
                    with contextlib.suppress(FileNotFoundError):
                        os.rmdir(d)
                    continue
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"commit lock {d} held past the acquisition "
                        f"deadline; a stale holder is broken after "
                        f"{self.stale_lock_sec}s"
                    )
                time.sleep(0.01)
        try:
            yield
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.rmdir(d)

    def put_if_absent(self, path: pathlib.Path, text: str = "") -> bool:
        tmp = path.with_name(
            f"{path.name}.tmp.{os.getpid()}.{threading.get_ident()}"
        )
        tmp.write_text(text)
        try:
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            tmp.unlink(missing_ok=True)

    def advance(self, table: pathlib.Path, version: int) -> None:
        pdir = table / _POINTERS
        pdir.mkdir(parents=True, exist_ok=True)
        self.put_if_absent(pdir / f"{version:05d}.ptr")

    def publish(self, table: pathlib.Path, version: int) -> bool:
        cur = latest_version(table)
        if cur is not None and version <= cur:
            return False
        self.advance(table, version)
        return True


_BACKENDS = {"flock": _PosixFlockBackend(), "rename": _RenameBackend()}
_BACKEND = _BACKENDS["flock"]


def set_commit_backend(name: str):
    """Select the commit-protocol backend for this process: ``"flock"``
    (POSIX default) or ``"rename"`` (HDFS-compatible: mkdir mutex +
    create-no-overwrite, no flock, no overwriting rename). Both run
    the same protocol; :func:`latest_version` understands tables
    written by either, so the choice is per-deployment, not baked
    into the data."""
    global _BACKEND
    if name not in _BACKENDS:
        raise ValueError(
            f"unknown commit backend {name!r}; know {sorted(_BACKENDS)}"
        )
    _BACKEND = _BACKENDS[name]
    return _BACKEND


def _commit_lock(table: pathlib.Path):
    return _BACKEND.lock(table)


def latest_version(table_dir: str | os.PathLike) -> int | None:
    """The committed version the pointer names, or None for an empty
    table. Reads one small file (flock backend) and/or lists the
    small ``_pointers/`` marker directory (rename backend) — never
    the data directory. The max of both sources wins, so a table is
    readable regardless of which backend committed it."""
    table = _table(table_dir)
    best: int | None = None
    try:
        best = int((table / _POINTER).read_text().strip())
    except (FileNotFoundError, ValueError):
        pass
    pdir = table / _POINTERS
    if pdir.is_dir():
        vs = [int(f.stem) for f in pdir.glob("*.ptr") if f.stem.isdigit()]
        if vs and (best is None or max(vs) > best):
            best = max(vs)
    return best


def _manifest_path(table_dir: str | os.PathLike, version: int) -> pathlib.Path:
    return _table(table_dir) / _MANIFESTS / f"{version:05d}.json"


def read_manifest(table_dir: str | os.PathLike, version: int) -> dict:
    return json.loads(_manifest_path(table_dir, version).read_text())


def _next_version(table_dir: str | os.PathLike) -> int:
    """1 + the highest manifest OR reservation on disk (NOT the
    pointer): an orphaned manifest from a crash-before-pointer-swap
    must never be reused for different content, so replay allocates
    past it; a crashed writer's reservation likewise parks its number
    forever (numbers are cheap, reuse is not)."""
    mdir = _table(table_dir) / _MANIFESTS
    if not mdir.is_dir():
        return 1
    vs = [
        int(f.stem)
        for f in list(mdir.glob("*.json")) + list(mdir.glob("*.reserved"))
        if f.stem.isdigit()
    ]
    return max(vs, default=0) + 1


def _reserve_version(table: pathlib.Path) -> int:
    """Allocate the next version number with PUT-IF-ABSENT semantics
    (backend-arbitrated — ``O_CREAT|O_EXCL`` on POSIX, create-no-
    overwrite on HDFS): two concurrent writers can never own the same
    version, so they can never clobber each other's ``data/v<N>``
    directory. The reservation marker is removed once the manifest
    lands; a crashed writer leaves a marker that simply parks its
    number (replay allocates past it)."""
    (table / _MANIFESTS).mkdir(parents=True, exist_ok=True)
    while True:
        v = _next_version(table)
        marker = table / _MANIFESTS / f"{v:05d}.reserved"
        if _BACKEND.put_if_absent(marker):
            return v
        # lost the race for this number: take the next


def _swap_pointer_monotonic(table: pathlib.Path, version: int) -> bool:
    """Publish ``version`` iff it is ahead of the current pointer,
    via the selected commit backend (flock-serialized overwriting
    rename on POSIX; max-of-marker-files on the rename backend): a
    slower writer that finishes after a newer commit must NOT move
    the pointer backwards. Returns whether the swap happened; a False
    is not a failure — the version is committed history (manifest ≤
    latest), just never was the tip."""
    return _BACKEND.publish(table, version)


class ConcurrentSnapshotError(RuntimeError):
    """Raised by a compare-and-swap commit (``expect_latest=``) when
    the table advanced past the version the writer read — the
    read-modify-write (MERGE, compaction) must re-read and retry."""


def snapshot_write(
    df: DataFrame,
    table_dir: str | os.PathLike,
    partition_by: list[str] | None = None,
    stats_cols: list[str] | None = None,
    kind: str = "full",
    base_version: int | None = None,
    publish: bool = True,
    expect_latest: int | None = None,
    meta: dict | None = None,
    field_ids: dict[str, int] | None = None,
) -> int:
    """Write ``df`` as the table's next snapshot and atomically commit
    it. Returns the committed version number.

    ``field_ids``: stable per-column FIELD IDs (the Iceberg v2 schema
    -evolution device: a column's identity is its ID, its name is a
    label) recorded in the manifest. Defaults are assigned
    automatically — a fresh table numbers its columns 1..n, a chained
    write (``base_version``) inherits the base's ID for every column
    name it shares and allocates fresh IDs for new names — so ADD
    evolution needs no declaration. RENAME and DROP do: pass the
    mapping explicitly (same ID under the new name = rename; an ID
    absent from a later schema = dropped). Readers
    (:func:`snapshot_read_evolved`) resolve chains by ID.

    CONCURRENCY: version numbers are allocated with put-if-absent
    reservations (two writers can never own the same ``data/v<N>``
    directory) and the pointer swap is flock-serialized and MONOTONIC
    (a slow writer finishing after a newer commit keeps its version as
    committed history but never moves the pointer backwards) — blind
    appends from concurrent writers are safe on any shared POSIX
    filesystem. Read-modify-write writers (MERGE, compaction) pass
    ``expect_latest=<version they read>`` for a compare-and-swap
    commit: if the table advanced, ``ConcurrentSnapshotError`` is
    raised (the stage becomes an orphaned manifest) and the caller
    re-reads and retries. Object stores without rename/flock need
    their native put-if-absent instead — stated, not hidden.

    ``publish=False`` STAGES the snapshot instead (write-audit-publish,
    the Iceberg WAP pattern): data and manifest land normally but the
    pointer does NOT swap, so no reader sees the version until
    :func:`snapshot_publish` promotes it — audit queries read the
    staged version explicitly (``snapshot_read(..., version=v)``),
    and an abandoned stage is just an orphaned manifest the vacuum's
    orphan rule already respects and replay allocates past.

    The data write is a normal distributed parquet job into the fresh
    versioned directory; everything after it is bounded driver-side
    METADATA work (one file listing of that directory, two small-file
    renames) — nothing scales with row count.

    ``stats_cols``: record per-file min/max for these columns in the
    manifest (read from the real parquet FOOTERS with pyarrow — the
    Iceberg manifest-stats idea), enabling :func:`snapshot_scan` to
    prune files at PLANNING time without opening them. The footer
    walk is driver-side metadata work bounded by the file count.

    ``kind``: ``"full"`` (default — the snapshot IS the table),
    ``"delta"`` (merge-on-read: the snapshot holds only NEW rows and
    ``base_version`` names the committed version it extends — the
    LSM discipline that turns an O(state) rewrite per commit into an
    O(batch) append; see :func:`delta_chain` /
    :func:`snapshot_read_chain` for reconstruction), or ``"delete"``
    (an EQUALITY-DELETE file — Iceberg's merge-on-read row delete:
    the snapshot holds only the KEY columns of deleted rows, and
    :func:`snapshot_read_mor` applies deletes by commit order, so a
    row re-appended AFTER a delete survives). A delta with
    ``base_version=None`` extends the empty table. Manifests written
    before this field existed read as ``"full"``."""
    if kind not in ("full", "delta", "delete"):
        raise ValueError(
            f"kind must be 'full', 'delta' or 'delete'; got {kind!r}"
        )
    table = _table(table_dir)
    version = _reserve_version(table)
    try:
        manifest = _build_snapshot(
            df, table, version, partition_by, stats_cols, kind,
            base_version, publish, expect_latest, meta, field_ids,
        )
    except BaseException:
        # an exception BEFORE the manifest lands (failed validation,
        # failed data write, meta clash) must not park the reserved
        # number until the GC TTL — the number was never referenced
        # by any manifest, so releasing it is safe (a later writer's
        # mode("overwrite") clobbers any torn data directory)
        (table / _MANIFESTS / f"{version:05d}.reserved").unlink(
            missing_ok=True
        )
        raise
    (table / _MANIFESTS).mkdir(parents=True, exist_ok=True)
    if expect_latest is not None:
        # CAS commit for read-modify-write writers (MERGE, compaction):
        # serialize the final check-and-swap so a concurrent commit
        # between the early check and this point is still caught; the
        # data/manifest of a losing writer stay an orphaned stage.
        with _commit_lock(table):
            if latest_version(table) != expect_latest:
                (table / _MANIFESTS / f"{version:05d}.reserved").unlink(
                    missing_ok=True
                )
                raise ConcurrentSnapshotError(
                    f"table advanced past expected version "
                    f"{expect_latest} (now {latest_version(table)}); "
                    f"re-read and retry"
                )
            _atomic_write_text(
                _manifest_path(table, version),
                json.dumps(manifest, indent=1),
            )
            if publish:
                _BACKEND.advance(table, version)
        (table / _MANIFESTS / f"{version:05d}.reserved").unlink(
            missing_ok=True
        )
        return version
    _atomic_write_text(
        _manifest_path(table, version), json.dumps(manifest, indent=1)
    )
    # reservation served its purpose once the manifest exists
    (table / _MANIFESTS / f"{version:05d}.reserved").unlink(missing_ok=True)
    if publish:
        _swap_pointer_monotonic(table, version)
    return version


def _build_snapshot(
    df: DataFrame,
    table: pathlib.Path,
    version: int,
    partition_by: list[str] | None,
    stats_cols: list[str] | None,
    kind: str,
    base_version: int | None,
    publish: bool,
    expect_latest: int | None,
    meta: dict | None,
    field_ids: dict[str, int] | None = None,
) -> dict:
    """Validate, run the distributed data write for ``version``, and
    return its manifest dict — everything that can fail BEFORE the
    commit, factored out so :func:`snapshot_write` can release the
    version reservation on any pre-manifest exception."""
    if base_version is not None and not _manifest_path(
        table, base_version
    ).is_file():
        raise FileNotFoundError(
            f"base_version {base_version} has no manifest in {table}"
        )
    if field_ids is None:
        # auto-assign: inherit the base's ID per shared column NAME,
        # fresh IDs for new names (add-column evolution needs no
        # declaration); a fresh table numbers its columns 1..n
        inherited: dict[str, int] = {}
        if base_version is not None:
            inherited = read_manifest(table, base_version).get(
                "field_ids", {}
            )
        field_ids = {}
        nxt = max(inherited.values(), default=0)
        for c in df.columns:
            if c in inherited:
                field_ids[c] = inherited[c]
            else:
                nxt += 1
                field_ids[c] = nxt
    else:
        missing = [c for c in df.columns if c not in field_ids]
        if missing:
            raise ValueError(
                f"field_ids lacks ids for columns {missing}"
            )
        if len(set(field_ids.values())) != len(field_ids):
            raise ValueError("field_ids must be unique per column")
    if expect_latest is not None and latest_version(table) != expect_latest:
        raise ConcurrentSnapshotError(
            f"table advanced past expected version {expect_latest} "
            f"(now {latest_version(table)}); re-read and retry"
        )
    data_rel = f"data/v{version:05d}"
    data_dir = table / data_rel
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(str(data_dir))
    files = sorted(
        str(p.relative_to(data_dir))
        for p in data_dir.rglob("part-*.parquet")
    )
    spark = df.sparkSession
    if files:
        back = _read_files(spark, data_dir, files)
        from isilon_hadoop_tools_spark.functions.hashing import fingerprint64

        chk = back.select(
            fingerprint64(
                F.concat_ws(
                    "|", *[F.col(c).cast("string") for c in back.columns]
                )
            ).alias("_fp")
        ).agg(F.bit_xor("_fp").alias("c"), F.count(F.lit(1)).alias("n"))
        crow = chk.collect()[0]
        n_rows = int(crow["n"])
        checksum = int(crow["c"]) if crow["c"] is not None else 0
        schema = back.schema.json()
    else:  # empty table: keep the schema so time travel still reads
        n_rows, checksum, schema = 0, 0, df.schema.json()
    manifest = {
        "version": version,
        "data_dir": data_rel,
        "files": files,
        "n_files": len(files),
        "n_rows": n_rows,
        "checksum": checksum,
        "partition_by": partition_by or [],
        "schema": schema,
        "kind": kind,
        "base_version": base_version,
        "field_ids": {c: int(i) for c, i in field_ids.items()},
        # committed-history marker: False for a write-audit-publish
        # STAGE until snapshot_publish promotes it — the changes feed
        # walks only published versions, so an abandoned bad stage
        # never leaks into a downstream consumer (manifests from
        # before this field read as published)
        "published": bool(publish),
    }
    if meta:
        # caller-supplied COMMIT METADATA (e.g. the streaming writer's
        # batch id for exactly-once replay detection); reserved keys
        # cannot be shadowed
        clash = set(meta) & set(manifest)
        if clash:
            raise ValueError(f"meta shadows manifest keys: {sorted(clash)}")
        manifest.update(meta)
    if stats_cols:
        manifest["file_stats"] = _footer_stats(data_dir, files, stats_cols)
    return manifest


def snapshot_publish(table_dir: str | os.PathLike, version: int) -> int:
    """Promote a STAGED snapshot (written with ``publish=False``) to
    the committed version — the PUBLISH step of write-audit-publish:
    one atomic pointer swap after the audit passed, so a bad batch
    never becomes visible and a good one becomes visible all at once.
    Also flips the manifest's ``published`` flag so the changes feed
    counts the version as committed history (a crash between the swap
    and the flag rewrite converges on a replayed publish — the call
    is idempotent at the tip). Raises if the version has no manifest
    or is strictly behind the pointer (publishing backwards would
    un-commit later data)."""
    table = _table(table_dir)
    if not _manifest_path(table, version).is_file():
        raise FileNotFoundError(
            f"no staged manifest for version {version} in {table}"
        )
    swapped = _swap_pointer_monotonic(table, version)
    if not swapped and latest_version(table) != version:
        raise ValueError(
            f"version {version} is not ahead of the committed "
            f"pointer {latest_version(table)}; publishing backwards "
            f"would un-commit newer data"
        )
    m = read_manifest(table, version)
    if not m.get("published", True):
        m["published"] = True
        _atomic_write_text(
            _manifest_path(table, version), json.dumps(m, indent=1)
        )
    return version


def _read_files(
    spark: SparkSession, data_dir: pathlib.Path, files: list[str]
) -> DataFrame:
    paths = [str(data_dir / f) for f in files]
    return spark.read.option("basePath", str(data_dir)).parquet(*paths)


def _footer_stats(
    data_dir: pathlib.Path, files: list[str], cols: list[str]
) -> dict:
    """Per-file [min, max] for ``cols`` out of the parquet footers —
    real statistics any engine agrees on, not recomputed from data."""
    import pyarrow.parquet as pq

    out: dict[str, dict[str, list]] = {}
    for rel in files:
        md = pq.ParquetFile(str(data_dir / rel)).metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        stats: dict[str, list] = {}
        for col in cols:
            if col not in names:
                continue  # partition column: not in the data footer
            mns, mxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(names[col]).statistics
                if st is None or not st.has_min_max:
                    mns, mxs = [], []
                    break
                mns.append(st.min)
                mxs.append(st.max)
            if mns:
                stats[col] = [min(mns), max(mxs)]
        out[rel] = stats
    return out


def snapshot_prune(
    table_dir: str | os.PathLike,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> tuple[list[str], int]:
    """Manifest-stats file pruning (the Iceberg planning-time prune):
    the files of a committed snapshot whose footer ``[min, max]`` for
    ``col`` intersects ``[lo, hi]``, plus the total file count. Pure
    driver-side manifest work — no file is opened. Files without
    recorded stats for ``col`` are conservatively kept."""
    table = _table(table_dir)
    if version is None:
        version = latest_version(table)
        if version is None:
            raise FileNotFoundError(f"no committed snapshot in {table}")
    m = read_manifest(table, version)
    stats = m.get("file_stats", {})
    kept = []
    for rel in m["files"]:
        s = stats.get(rel, {}).get(col)
        if s is None or (s[1] >= lo and s[0] <= hi):
            kept.append(rel)
    return kept, len(m["files"])


def snapshot_scan(
    spark: SparkSession,
    table_dir: str | os.PathLike,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """Range scan THROUGH the manifest stats: only files whose footer
    range intersects ``[lo, hi]`` are handed to the reader (planning-
    time pruning — the skipped files are never opened), and the exact
    residual filter is applied on top, so the result equals a full
    scan + filter at a fraction of the I/O when the layout clusters
    ``col`` (write with :func:`snapshot_write` ``stats_cols`` after a
    range repartition — the SC8 zone-map discipline, now carried by
    the table format instead of a side report)."""
    table = _table(table_dir)
    if version is None:
        version = latest_version(table)
        if version is None:
            raise FileNotFoundError(f"no committed snapshot in {table}")
    kept, _total = snapshot_prune(table, col, lo, hi, version)
    m = read_manifest(table, version)
    if not kept:
        return snapshot_read(spark, table, version).filter(F.lit(False))
    df = _read_files(spark, table / m["data_dir"], kept)
    return df.filter(F.col(col).between(lo, hi))


def delta_chain(
    table_dir: str | os.PathLike, version: int | None = None
) -> list[int]:
    """The versions whose UNION reconstructs the table state at
    ``version`` under merge-on-read: walk ``base_version`` links from
    ``version`` back through ``"delta"`` manifests until (and
    including) the first ``"full"`` snapshot, oldest first. A full
    snapshot is its own chain of one. Pure driver-side manifest
    reads, bounded by chain length (the merge-on-read writer bounds
    that with its compaction budget)."""
    table = _table(table_dir)
    if version is None:
        version = latest_version(table)
        if version is None:
            raise FileNotFoundError(f"no committed snapshot in {table}")
    chain: list[int] = []
    v: int | None = version
    while v is not None:
        m = read_manifest(table, v)
        chain.append(v)
        if m.get("kind", "full") == "full":
            break  # delta AND delete versions both chain to a base
        v = m.get("base_version")
    chain.reverse()
    return chain


def snapshot_read_chain(
    spark: SparkSession,
    table_dir: str | os.PathLike,
    version: int | None = None,
    with_version_col: str | None = None,
) -> DataFrame:
    """Union of every snapshot in :func:`delta_chain` — the raw
    merge-on-read input BEFORE the caller's merge algebra collapses
    it (per-key ``max_by`` for CDC, ``distinct`` for append-only
    sets). ``with_version_col`` adds the contributing version as a
    column for merges that need commit ORDER rather than an
    order-independent key."""
    table = _table(table_dir)
    chain = delta_chain(table, version)
    out: DataFrame | None = None
    for v in chain:
        part = snapshot_read(spark, table, v)
        if with_version_col:
            part = part.withColumn(with_version_col, F.lit(v))
        out = part if out is None else out.unionByName(part)
    return out


def snapshot_vacuum(
    table_dir: str | os.PathLike,
    keep_last: int = 2,
) -> dict:
    """Reclaim data files referenced ONLY by expired snapshots — the
    Delta VACUUM / Iceberg expire-snapshots maintenance step that
    bounds the time-travel window. Keeps the newest ``keep_last``
    committed versions (pointer version and below) plus any orphaned
    manifests ABOVE the pointer (a concurrent writer's crash window
    is not ours to collect); a data file is deleted only when NO kept
    manifest references it, so readers pinned to a kept version are
    never torn. Expired manifests are removed after their files, so a
    crash mid-vacuum leaves manifests whose ``readable`` flag in
    :func:`snapshot_history` reports the damage honestly and a rerun
    converges. Pure driver-side metadata work.

    Returns ``{"files_deleted": n, "versions_expired": [...]}``.
    """
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1; got {keep_last}")
    table = _table(table_dir)
    latest = latest_version(table)
    if latest is None:
        return {"files_deleted": 0, "versions_expired": []}
    mdir = table / _MANIFESTS
    versions = sorted(
        int(f.stem) for f in mdir.glob("*.json") if f.stem.isdigit()
    )
    committed = [v for v in versions if v <= latest]
    expired = committed[:-keep_last] if len(committed) > keep_last else []
    kept = [v for v in versions if v not in expired]
    # merge-on-read closure: a kept DELTA version is unreadable
    # without its base chain, so every chain member of a kept version
    # is kept too (its manifest and files survive the vacuum)
    keep_closure: set[int] = set(kept)
    for v in kept:
        try:
            keep_closure.update(delta_chain(table, v))
        except FileNotFoundError:
            pass  # broken chain (already vacuumed ancestor): keep v itself
    expired = [v for v in expired if v not in keep_closure]
    kept = sorted(keep_closure)
    live: set[pathlib.Path] = set()
    for v in kept:
        m = read_manifest(table, v)
        live.update((table / m["data_dir"] / f).resolve() for f in m["files"])
    deleted = 0
    for v in expired:
        m = read_manifest(table, v)
        data_dir = table / m["data_dir"]
        for rel in m["files"]:
            p = (data_dir / rel).resolve()
            if p not in live and p.is_file():
                p.unlink()
                deleted += 1
    for v in expired:  # manifests last: a mid-vacuum crash stays visible
        _manifest_path(table, v).unlink(missing_ok=True)
    return {"files_deleted": deleted, "versions_expired": expired}


def _multiset_diff(a: DataFrame, b: DataFrame) -> DataFrame:
    """Rows only in ``b`` tagged ``'added'``, rows only in ``a``
    tagged ``'removed'`` (bag semantics via ``exceptAll`` — a row
    present twice-then-once yields one ``removed``). One shuffle per
    side on the full row."""
    added = b.exceptAll(a).withColumn("change", F.lit("added"))
    removed = a.exceptAll(b).withColumn("change", F.lit("removed"))
    return added.unionByName(removed)


def snapshot_diff(
    spark: SparkSession,
    table_dir: str | os.PathLike,
    v_from: int,
    v_to: int,
) -> DataFrame:
    """Multiset CDC diff between the RAW FILES of two committed
    snapshots — the honest cost of exporting a CDC stream from
    snapshots that don't carry row lineage. NOTE: both sides are read
    raw (``snapshot_read``), so a merge-on-read version contributes
    only its own files; :func:`snapshot_changes` reconstructs chain
    state before diffing a rewrite — use that for a consumer feed."""
    a = snapshot_read(spark, table_dir, v_from)
    b = snapshot_read(spark, table_dir, v_to)
    return _multiset_diff(a, b)


def snapshot_read(
    spark: SparkSession,
    table_dir: str | os.PathLike,
    version: int | None = None,
) -> DataFrame:
    """Read a committed snapshot — the pointer's version by default,
    or an explicit older ``version`` (time travel). Only the
    manifest's exact file list is scanned, so a concurrent rewrite's
    in-flight files are invisible."""
    table = _table(table_dir)
    if version is None:
        version = latest_version(table)
        if version is None:
            raise FileNotFoundError(f"no committed snapshot in {table}")
    m = read_manifest(table, version)
    if not m["files"]:
        from pyspark.sql.types import StructType

        return local_df(
            spark, [], StructType.fromJson(json.loads(m["schema"]))
        )
    return _read_files(spark, table / m["data_dir"], m["files"])


def snapshot_merge(
    spark: SparkSession,
    table_dir: str | os.PathLike,
    source: DataFrame,
    key_cols: list[str],
    when_matched: str = "update",
    insert_not_matched: bool = True,
    delete_when=None,
) -> int:
    """MERGE INTO through an atomic snapshot commit — the Delta/
    Iceberg upsert verb over the manifest layer: join the CURRENT
    committed snapshot with ``source`` on ``key_cols`` and commit the
    merged table as the next FULL version (copy-on-write MERGE), so a
    reader concurrent with the merge resolves the old manifest until
    the pointer swaps and version N−1 time travel survives.

    Clauses (the ANSI MERGE surface a warehouse user expects):

    - matched rows: ``when_matched="update"`` takes the SOURCE row,
      ``"keep"`` keeps the target row (insert-if-absent semantics);
      with ``delete_when`` (a callable ``(t, s) -> Column`` where
      ``t``/``s`` map a column name to the target/source side of the
      joined row, e.g. ``lambda t, s: s("op") == "D"``), matched rows
      satisfying it are DELETED.
    - unmatched source rows: inserted when ``insert_not_matched``.

    One shuffle join target×source on the merge key; the write is
    O(table) — MERGE is copy-on-write by design here (the
    merge-on-read delta path is :func:`snapshot_write`
    ``kind="delta"`` + a reader-side algebra, for streams).
    Duplicate SOURCE keys are rejected loudly (ANSI MERGE's
    nondeterministic-update error) via a 1-row guard aggregate.
    """
    if when_matched not in ("update", "keep"):
        raise ValueError(
            f"when_matched must be 'update' or 'keep'; got {when_matched!r}"
        )
    # MERGE is read-modify-write: pin the version being merged into and
    # commit with compare-and-swap — a concurrent commit between the
    # read and the swap triggers a re-read and retry instead of a
    # silent lost update.
    for _attempt in range(4):
        base = latest_version(table_dir)
        try:
            return _merge_once(
                spark, table_dir, source, key_cols, when_matched,
                insert_not_matched, delete_when, base,
            )
        except ConcurrentSnapshotError:
            if _attempt == 3:
                raise
    raise AssertionError("unreachable")


def _merge_once(
    spark: SparkSession,
    table_dir: str | os.PathLike,
    source: DataFrame,
    key_cols: list[str],
    when_matched: str,
    insert_not_matched: bool,
    delete_when,
    base: int | None,
) -> int:
    target = snapshot_read(spark, table_dir, base)
    cols = target.columns
    if sorted(source.columns) != sorted(cols):
        raise ValueError(
            f"source columns {sorted(source.columns)} != "
            f"target columns {sorted(cols)}"
        )
    # ANSI MERGE rejects a source that matches one target row twice.
    # One bounded pre-action (distributed agg, <=1 row to the driver)
    # — a lazy assert column would be pruned away as unused.
    ndup = (
        source.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .limit(1)
        .count()
    )
    if ndup:
        raise ValueError(
            "snapshot_merge: duplicate keys in source — ANSI MERGE "
            "forbids a source row set that updates one target row "
            "twice (nondeterministic update)"
        )
    s = source.select(*[F.col(c).alias(f"_s_{c}") for c in cols])
    on = [F.col(k) == F.col(f"_s_{k}") for k in key_cols]
    j = target.join(s, on, "full_outer")
    matched = F.col(f"_s_{key_cols[0]}").isNotNull() & F.col(
        key_cols[0]
    ).isNotNull()
    src_only = F.col(key_cols[0]).isNull()
    if delete_when is not None:
        cond = delete_when(
            lambda c: F.col(c), lambda c: F.col(f"_s_{c}")
        )
        j = j.filter(~(matched & cond))
    out_cols = []
    for c in cols:
        sc = F.col(f"_s_{c}")
        tc = F.col(c)
        if when_matched == "update":
            v = F.when(matched | src_only, sc).otherwise(tc)
        else:
            v = F.when(src_only, sc).otherwise(tc)
        out_cols.append(v.alias(c))
    merged = j.select(*out_cols)
    if not insert_not_matched:
        merged = j.filter(~src_only).select(*out_cols)
    return snapshot_write(merged, table_dir, expect_latest=base)


_WIDENINGS = {
    ("byte", "short"), ("byte", "integer"), ("byte", "long"),
    ("short", "integer"), ("short", "long"),
    ("integer", "long"), ("float", "double"),
}


def snapshot_read_evolved(
    spark: SparkSession,
    table_dir: str | os.PathLike,
    version: int | None = None,
) -> DataFrame:
    """Merge-on-read chain read WITH SCHEMA EVOLUTION, resolved by
    FIELD ID (Iceberg v2 semantics: a column's identity is its
    manifest-recorded ID, its name is just the current label):

    - **add**: a column a version predates (its ID absent there) is
      filled with NULL;
    - **rename**: the same ID under an older name reads that column
      and surfaces it under the NEWEST name — no data rewrite;
    - **drop**: a version's column whose ID the newest schema no
      longer carries is simply not selected;
    - **retype**: only lossless widenings (byte→short→int→long,
      float→double) are cast; anything else raises loudly.

    The newest CHAIN member's manifest defines the output schema.
    Manifests from before the field-ID layer fall back to BY-NAME
    resolution (adds fill NULL; an extra column raises, since without
    IDs a drop is indistinguishable from a rename)."""
    import json as _json

    from pyspark.sql.types import StructType

    table = _table(table_dir)
    chain = delta_chain(table, version)
    for v in chain:
        if read_manifest(table, v).get("kind", "full") == "delete":
            raise ValueError(
                "snapshot_read_evolved is for append-only chains; "
                "a delete version needs snapshot_read_mor"
            )
    newest_m = read_manifest(table, chain[-1])
    newest = StructType.fromJson(_json.loads(newest_m["schema"]))
    newest_ids: dict[str, int] = newest_m.get("field_ids", {})
    out: DataFrame | None = None
    for v in chain:
        m = read_manifest(table, v)
        part = snapshot_read(spark, table, v)
        vids: dict[str, int] = m.get("field_ids", {})
        if vids and newest_ids:
            # field-ID resolution: old name -> id -> newest field
            by_id = {
                vids[c]: c for c in part.columns if c in vids
            }
            cols = []
            for f in newest.fields:
                fid = newest_ids.get(f.name)
                src = by_id.get(fid)
                if src is None:
                    cols.append(F.lit(None).cast(f.dataType).alias(f.name))
                    continue
                src_t = part.schema[src].dataType
                if src_t != f.dataType and (
                    src_t.typeName(), f.dataType.typeName()
                ) not in _WIDENINGS:
                    raise ValueError(
                        f"field id {fid} changed type "
                        f"{src_t.simpleString()} -> "
                        f"{f.dataType.simpleString()} between version "
                        f"{v} and the newest schema — only lossless "
                        f"widenings are supported"
                    )
                cols.append(F.col(src).cast(f.dataType).alias(f.name))
            part = part.select(*cols)
        else:
            # legacy by-name fallback (pre-field-ID manifests)
            missing = [
                f for f in newest.fields if f.name not in part.columns
            ]
            extra = [
                c for c in part.columns if c not in newest.fieldNames()
            ]
            if extra:
                raise ValueError(
                    f"version {v} has columns {extra} absent from the "
                    f"newest schema — drop/rename evolution needs the "
                    f"field-ID layer (manifest lacks field_ids)"
                )
            part = part.select(
                *part.columns,
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in missing
                ],
            ).select(*newest.fieldNames())
        out = part if out is None else out.unionByName(part)
    return out


def snapshot_read_mor(
    spark: SparkSession,
    table_dir: str | os.PathLike,
    key_cols: list[str],
    version: int | None = None,
    max_delete_rows: int = 10_000_000,
    over_budget: str = "raise",
) -> DataFrame:
    """Merge-on-read reader applying EQUALITY-DELETE files (SC10j —
    Iceberg's v2 row-delete semantics over this manifest layer): the
    chain's full/delta versions contribute rows, its ``"delete"``
    versions contribute deleted KEYS, and a row survives iff no
    delete with a LATER commit version names its key — so deleting a
    key and appending it again re-materializes the row (sequence-
    number semantics), a delete costs O(deleted keys) written instead
    of rewriting the table, and compaction (a later ``"full"``
    commit) resets the chain as always.

    Shape: chain union + ONE aggregate of max delete version per key
    + ONE left join. Deletes are usually small (they were enumerated)
    so the aggregate is BROADCAST — but "usually" is not a plan
    input: the chain walk sums the delete manifests' recorded
    ``n_rows``, and past ``max_delete_rows`` the forced hint would
    silently OOM executors, so the reader fails LOUDLY naming the
    versions ("compact first") — or, with ``over_budget="shuffle"``,
    drops the hint and lets AQE pick the join (correct, slower, never
    OOM). A GDPR purge or bulk retention sweep accumulated across
    un-compacted delete snapshots is exactly this case.
    """
    if over_budget not in ("raise", "shuffle"):
        raise ValueError(
            f"over_budget must be 'raise' or 'shuffle'; got {over_budget!r}"
        )
    table = _table(table_dir)
    chain = delta_chain(table, version)
    rows: DataFrame | None = None
    dels: DataFrame | None = None
    delete_rows = 0
    delete_versions: list[int] = []
    for v in chain:
        m = read_manifest(table, v)
        part = snapshot_read(spark, table, v).withColumn(
            "_v", F.lit(v)
        )
        if m.get("kind", "full") == "delete":
            missing = [k for k in key_cols if k not in part.columns]
            if missing:
                raise ValueError(
                    f"delete version {v} lacks key columns {missing}"
                )
            delete_rows += int(m.get("n_rows", 0))
            delete_versions.append(v)
            part = part.select(*key_cols, "_v")
            dels = part if dels is None else dels.unionByName(part)
        else:
            rows = part if rows is None else rows.unionByName(part)
    if rows is None:
        raise FileNotFoundError(f"no row-bearing snapshot in {table}")
    if dels is None:
        return rows.drop("_v")
    broadcast_ok = delete_rows <= max_delete_rows
    if not broadcast_ok and over_budget == "raise":
        raise ValueError(
            f"merge-on-read delete set is {delete_rows} rows across "
            f"versions {delete_versions}, past the broadcast budget "
            f"of {max_delete_rows} — compact the table first, raise "
            f"max_delete_rows, or pass over_budget='shuffle'"
        )
    dmax = dels.groupBy(*key_cols).agg(F.max("_v").alias("_dv"))
    if broadcast_ok:
        dmax = F.broadcast(dmax)
    out = rows.join(dmax, key_cols, "left").filter(
        F.col("_dv").isNull() | (F.col("_v") > F.col("_dv"))
    )
    return out.drop("_v", "_dv")


def snapshot_gc(
    table_dir: str | os.PathLike,
    stale_after_sec: float = 86400.0,
) -> dict:
    """Garbage-collect CRASHED-WRITER debris the vacuum deliberately
    leaves alone: a writer that died between its version reservation
    and its manifest leaves (a) a ``.reserved`` marker that parks the
    number forever and (b) possibly a torn ``data/v<N>`` directory no
    manifest will ever reference. Both are invisible to readers, but
    they accrue.

    Liveness is decided by AGE (stated assumption, the standard
    object-store janitor contract): a reservation older than
    ``stale_after_sec`` whose manifest never appeared belongs to a
    dead writer — no commit takes a day. Its marker and torn data
    directory are removed; fresh reservations (a writer still in
    flight) are untouched, as are versioned dirs WITH manifests and
    legacy torn dirs younger than the TTL.

    Returns ``{"reservations_removed": n, "torn_dirs_removed": n}``.
    Pure driver-side metadata work; idempotent; safe to run on a
    schedule next to :func:`snapshot_vacuum`.
    """
    import shutil
    import time as _time

    table = _table(table_dir)
    mdir = table / _MANIFESTS
    now = _time.time()
    res_removed = 0
    torn_removed = 0
    if mdir.is_dir():
        for marker in mdir.glob("*.reserved"):
            if not marker.stem.isdigit():
                continue
            if now - marker.stat().st_mtime < stale_after_sec:
                continue  # writer may still be in flight
            v = int(marker.stem)
            if _manifest_path(table, v).is_file():
                # commit landed but the unlink was lost: just clean
                marker.unlink(missing_ok=True)
                res_removed += 1
                continue
            torn = table / "data" / f"v{v:05d}"
            if torn.is_dir():
                shutil.rmtree(torn, ignore_errors=True)
                torn_removed += 1
            marker.unlink(missing_ok=True)
            res_removed += 1
    # legacy torn dirs (no reservation ever existed): collect only
    # when old AND unreferenced by any manifest
    ddir = table / "data"
    referenced = set()
    if mdir.is_dir():
        for f in mdir.glob("*.json"):
            if f.stem.isdigit():
                referenced.add(read_manifest(table, int(f.stem))["data_dir"])
    if ddir.is_dir():
        for sub in ddir.iterdir():
            rel = f"data/{sub.name}"
            if rel in referenced or not sub.is_dir():
                continue
            v = sub.name.lstrip("v")
            if v.isdigit() and (mdir / f"{int(v):05d}.reserved").is_file():
                continue  # handled (or protected) above
            if now - sub.stat().st_mtime < stale_after_sec:
                continue
            shutil.rmtree(sub, ignore_errors=True)
            torn_removed += 1
    return {
        "reservations_removed": res_removed,
        "torn_dirs_removed": torn_removed,
    }


def snapshot_history(
    spark: SparkSession, table_dir: str | os.PathLike
) -> DataFrame:
    """One row per manifest on disk: version, file/row counts,
    checksum, whether the pointer names it (``is_latest``), and
    whether every data file it lists is still present (``readable``
    — False after a vacuum, or for an orphan whose replay overwrote
    the versioned directory). Driver-side metadata work bounded by
    manifest and file counts."""
    table = _table(table_dir)
    latest = latest_version(table)
    mdir = table / _MANIFESTS
    rows = []
    for f in sorted(mdir.glob("*.json")) if mdir.is_dir() else []:
        if not f.stem.isdigit():
            continue
        m = json.loads(f.read_text())
        v = int(m["version"])
        data_dir = table / m["data_dir"]
        rows.append(
            (
                v,
                int(m["n_files"]),
                int(m["n_rows"]),
                int(m["checksum"]),
                bool(latest is not None and v == latest),
                all((data_dir / rel).is_file() for rel in m["files"]),
            )
        )
    return local_df(
        spark, rows,
        "version LONG, n_files LONG, n_rows LONG, checksum LONG,"
        " is_latest BOOLEAN, readable BOOLEAN",
    )


def _published_versions(table: pathlib.Path) -> list[int]:
    """Every manifest version that is COMMITTED HISTORY: the
    ``published`` flag is True (legacy manifests without the flag
    count as published). A write-audit-publish stage that was never
    promoted stays invisible here — its rows were never readable, so
    they must never reach a changes-feed consumer."""
    mdir = table / _MANIFESTS
    out = []
    for f in sorted(mdir.glob("*.json")) if mdir.is_dir() else []:
        if not f.stem.isdigit():
            continue
        v = int(f.stem)
        if read_manifest(table, v).get("published", True):
            out.append(v)
    return out


def snapshot_changes(
    spark: SparkSession,
    table_dir: str | os.PathLike,
    since_version: int,
    to_version: int | None = None,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Incremental changes feed ``(since_version, to_version]`` — what
    a downstream consumer polls instead of re-reading the table (the
    Delta CDF / Iceberg incremental-read verb): walks the PUBLISHED
    manifests after ``since_version`` (a write-audit-publish stage
    that was never promoted is not history — no reader ever saw it,
    so its rows never enter the feed) and

    - for a ``"delta"`` version, emits its rows as ``'added'``
      DIRECTLY from its files — an append's changes ARE its files, no
      diff computed, no base scanned (the incremental fast path);
    - for a ``"delete"`` version, emits its key rows as ``'removed'``
      straight from the files;
    - for a ``"full"`` version (a compaction or rewrite), falls back
      to the honest multiset diff of the rewrite against the
      RECONSTRUCTED state at the previous published version — the
      chain union for an append-only history, or the merge-on-read
      state (``key_cols`` required) when the chain carries equality
      deletes. Diffing against the previous version's raw files alone
      would re-emit every base-chain row as a spurious ``'added'``
      and hide rows the rewrite dropped.

    Output: the table columns + ``change`` ('added'/'removed') +
    ``_commit_version``. A pure-append (merge-on-read) history never
    pays a diff; mixed histories pay exactly one diff per rewrite.
    """
    table = _table(table_dir)
    if to_version is None:
        to_version = latest_version(table)
        if to_version is None:
            raise FileNotFoundError(f"no committed snapshot in {table}")
    if since_version > to_version:
        raise ValueError(
            f"since_version {since_version} > to_version {to_version}"
        )
    committed = _published_versions(table)
    versions = [v for v in committed if since_version < v <= to_version]
    out: DataFrame | None = None
    for v in versions:
        m = read_manifest(table, v)
        kind = m.get("kind", "full")
        if kind == "delta":
            part = snapshot_read(spark, table, v).withColumn(
                "change", F.lit("added")
            )
        elif kind == "delete":
            # an equality-delete file's changes ARE its key rows —
            # emitted as 'removed' straight from the files (columns
            # the keys lack surface as NULL via the allow-missing
            # union below)
            part = snapshot_read(spark, table, v).withColumn(
                "change", F.lit("removed")
            )
        else:
            prevs = [p for p in committed if p < v]
            if not prevs:
                part = snapshot_read(spark, table, v).withColumn(
                    "change", F.lit("added")
                )
            else:
                prev = prevs[-1]
                chain = delta_chain(table, prev)
                has_deletes = any(
                    read_manifest(table, c).get("kind", "full") == "delete"
                    for c in chain
                )
                if has_deletes:
                    if key_cols is None:
                        raise ValueError(
                            f"history before the rewrite at version {v} "
                            f"carries equality-delete versions; pass "
                            f"key_cols so the pre-rewrite state can be "
                            f"reconstructed with merge-on-read semantics"
                        )
                    before = snapshot_read_mor(
                        spark, table, key_cols, version=prev
                    )
                else:
                    before = snapshot_read_chain(spark, table, prev)
                part = _multiset_diff(before, snapshot_read(spark, table, v))
        part = part.withColumn("_commit_version", F.lit(v))
        out = (
            part
            if out is None
            else out.unionByName(part, allowMissingColumns=True)
        )
    if out is None:
        base = snapshot_read(spark, table, to_version)
        return base.withColumn("change", F.lit("added")).withColumn(
            "_commit_version", F.lit(to_version)
        ).filter(F.lit(False))
    return out
