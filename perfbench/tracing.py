"""Outside-in per-layer trace.

Two sources, both read from outside the program:

- benchmark-side spans: the workloads open spans around their own calls
  into the engine's public functions, and ``instrument`` wraps the
  public functions those calls reach internally (state reads and
  writes, guards, ID allocation, snapshot commits, the streaming
  applier) by rebinding module attributes for the traced run only;
- Spark's status store (``sc._jsc.sc().statusStore()``): jobs, stage
  attempts, task run time, GC and shuffle/IO bytes, attributed to the
  op whose wall-clock window contains the job's submission.

Spans live in memory and are reduced to per-op metrics when the run
ends. Untraced runs use ``NullTracer``, which records nothing.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import threading
import time

from core import Span, clip, interval_union, self_times, tree_size


class NullTracer:
    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def count(self, name: str, n: float = 1, at: float | None = None) -> None:
        pass


class Tracer:
    """In-memory span recorder. A span's parent is the innermost open
    span on the same thread, else the current op span (foreachBatch
    callbacks arrive on another thread)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: list[tuple[float, str, float]] = []  # (time, name, n)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.op_span: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else self.op_span
        start = time.time()
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, start, start, parent))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.time()

    @contextlib.contextmanager
    def op(self):
        """The span of one timed op: the parent of spans opened on
        threads the engine starts (streaming callbacks)."""
        with self.span("op"):
            self.op_span = len(self.spans) - 1
            try:
                yield
            finally:
                self.op_span = None

    def count(self, name: str, n: float = 1, at: float | None = None) -> None:
        """Add ``n`` to counter ``name``, stamped now or at ``at``
        (a check made after an op stamps its counts inside the op)."""
        with self._lock:
            self.counts.append((time.time() if at is None else at, name, n))


# ------------------------------------------------------------ patching


def _rebind(module_prefix: str, original, replacement) -> list[tuple[object, str, object]]:
    """Point every module-level alias of ``original`` under
    ``module_prefix`` at ``replacement``; returns undo records."""
    undo = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(module_prefix):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)
                undo.append((mod, attr, original))
    return undo


def instrument(tracer: Tracer) -> contextlib.ExitStack:
    """Wrap the engine's internally-called public functions with spans
    and counters. Returns an ExitStack whose close() restores them."""
    import isilon_hadoop_tools_spark.multimodal  # noqa: F401  (load for rebinding)
    from isilon_hadoop_tools_spark.operators import allocate_ids as alloc_mod
    from isilon_hadoop_tools_spark.operators import guards
    from isilon_hadoop_tools_spark.operators import snapshots
    from isilon_hadoop_tools_spark.plans import executor, identities
    from isilon_hadoop_tools_spark.plans.state import ParquetState
    from isilon_hadoop_tools_spark.streaming import neardup

    pkg = "isilon_hadoop_tools_spark"
    undo: list[tuple[object, str, object]] = []

    def spanned(name, fn, after=None):
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if after is not None:
                after(args, kwargs, out)
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    def wrap_function(name, fn, after=None):
        undo.extend(_rebind(pkg, fn, spanned(name, fn, after)))

    def state_written(args, _kwargs, _out):
        state, table = args[0], args[1]
        files, size = tree_size(state._path(table), ".parquet")
        tracer.count("plans.state.writes")
        tracer.count("plans.state.files_written", files)
        tracer.count("plans.state.bytes_written", size)

    def state_appended(args, _kwargs, _out):
        tracer.count("plans.state.writes")

    def snapshot_committed(args, kwargs, version):
        tracer.count("operators.snapshots.commits")
        if kwargs.get("kind", "full") == "full":
            table = args[1] if len(args) > 1 else kwargs["table_dir"]
            manifest = snapshots.read_manifest(table, version)
            data_dir = os.path.join(str(table), manifest["data_dir"])
            tracer.count("operators.snapshots.compactions")
            tracer.count(
                "operators.snapshots.bytes_rewritten",
                sum(os.path.getsize(os.path.join(data_dir, f)) for f in manifest["files"]),
            )

    def vacuumed(_args, _kwargs, out):
        tracer.count("operators.snapshots.vacuum_files_deleted", out["files_deleted"])

    def guard_checked(_args, _kwargs, _out):
        tracer.count("operators.guards.checks")

    def allocated(_args, _kwargs, _out):
        tracer.count("operators.allocate_ids.calls")

    for method, name, after in (
        ("read", "plans.state.read", None),
        ("write", "plans.state.write", state_written),
        ("append", "plans.state.append", state_appended),
    ):
        fn = getattr(ParquetState, method)
        setattr(ParquetState, method, spanned(name, fn, after))
        undo.append((ParquetState, method, fn))

    wrap_function("plans.executor.run_stages", executor.run_stages)
    wrap_function("plans.identities.write_script", identities.write_script)
    wrap_function("operators.guards", guards.assert_referential_integrity, guard_checked)
    wrap_function("operators.guards", guards.assert_referential_integrity_many, guard_checked)
    wrap_function("operators.allocate_ids", alloc_mod.allocate_ids, allocated)
    wrap_function("streaming.neardup.apply_batch", neardup.simhash_index_apply_batch)
    wrap_function("operators.snapshots.commit", snapshots.snapshot_write, snapshot_committed)
    wrap_function("operators.snapshots.delta_chain", snapshots.delta_chain)
    wrap_function("operators.snapshots.snapshot_vacuum", snapshots.snapshot_vacuum, vacuumed)
    wrap_function("operators.snapshots.snapshot_read", snapshots.snapshot_read)

    stack = contextlib.ExitStack()

    def restore():
        for owner, attr, original in reversed(undo):
            setattr(owner, attr, original)

    stack.callback(restore)
    return stack


# --------------------------------------------------------- status store


def status_store_dump(spark) -> tuple[list[dict], list[dict]]:
    """All jobs and stage attempts held by the status store, as JSON."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(scala_module.__getattr__("MODULE$"))
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(
        mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None))
    )
    return jobs, stages


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.ProcessHandle.current().pid())


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM (VmHWM), in MB."""
    with open(f"/proc/{jvm_pid(spark)}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


# ------------------------------------------------------------ reduction

# spans that cover a whole layer report "<layer>.s", the rest "<call>_s"
LAYER_SPANS = ("operators.guards", "operators.allocate_ids")


def span_metric(name: str) -> str:
    return name + (".s" if name in LAYER_SPANS else "_s")


def op_layer_metrics(
    tracer: Tracer,
    jobs: list[dict],
    stages: list[dict],
    windows: list[tuple[float, float]],
    cores: int,
) -> dict[str, float]:
    """Per-layer totals over the timed ops, divided by the op count
    (so each metric is "per unit op"); ratios are ratios of totals.

    ``windows`` are the ops' (start, end) wall-clock intervals."""
    n_ops = len(windows)
    tot: dict[str, float] = {}

    def add(name: str, v: float) -> None:
        tot[name] = tot.get(name, 0.0) + v

    job_iv = [
        (j["submissionTime"] / 1000.0, j["completionTime"] / 1000.0)
        for j in jobs
        if j.get("submissionTime") and j.get("completionTime")
    ]
    stage_rows = [s for s in stages if s.get("submissionTime")]
    wall_total = 0.0
    for lo, hi in windows:
        wall_total += hi - lo
        mine = [iv for iv in job_iv if lo <= iv[0] <= hi]
        add("spark.jobs", len(mine))
        busy = interval_union([c for c in (clip(iv, lo, hi) for iv in mine) if c])
        add("spark.job_busy_s", busy)
        add("driver.gap_s", (hi - lo) - busy)
        add("driver.pre_job_s", (min(iv[0] for iv in mine) - lo) if mine else (hi - lo))
        for s in stage_rows:
            if not lo <= s["submissionTime"] / 1000.0 <= hi:
                continue
            add("spark.stages", 1)
            add("spark.tasks", s["numTasks"])
            add("spark.failed_tasks", s["numFailedTasks"])
            add("spark.stage_attempts_retried", 1 if s["attemptId"] > 0 else 0)
            add("spark.task_s", s["executorRunTime"] / 1000.0)
            add("spark.gc_s", s["jvmGcTime"] / 1000.0)
            add("spark.shuffle_write_bytes", s["shuffleWriteBytes"])
            add("spark.shuffle_read_bytes", s["shuffleReadBytes"])
            add("spark.input_bytes", s["inputBytes"])
            add("spark.output_bytes", s["outputBytes"])
    # benchmark-side spans: time per named layer (inclusive), and the
    # streaming start tax = drain call start -> first job inside it
    in_ops = [
        s for s in tracer.spans
        if any(lo <= s.start and s.end <= hi for lo, hi in windows)
    ]
    for s in in_ops:
        add(span_metric(s.name), s.end - s.start)
        if s.name.startswith("streaming.") and s.name.endswith("_drain"):
            inner = [iv[0] for iv in job_iv if s.start <= iv[0] <= s.end]
            add("streaming.start_s", (min(inner) - s.start) if inner else (s.end - s.start))
            add("streaming.drain_s", s.end - s.start)
    for t, name, n in tracer.counts:
        if any(lo <= t <= hi for lo, hi in windows):
            add(name, n)

    out = {k: v / n_ops for k, v in tot.items()}
    out["driver.gap_share"] = tot.get("driver.gap_s", 0.0) / wall_total if wall_total else 0.0
    busy = tot.get("spark.job_busy_s", 0.0)
    out["spark.slot_util"] = tot.get("spark.task_s", 0.0) / (busy * cores) if busy else 0.0
    return out


def self_time_by_name(tracer: Tracer) -> dict[str, float]:
    """Total self time per span name (for the layer table)."""
    out: dict[str, float] = {}
    for s, st in zip(tracer.spans, self_times(tracer.spans)):
        out[s.name] = out.get(s.name, 0.0) + st
    return out
