"""Benchmark entry point.

    python3 perfbench/run.py --workload {provision,lake} \
        --seed N --seconds S --trace {0,1}

Builds one ``local[min(nproc,4)]`` session through the engine's
``get_session``, generates the workload's inputs from ``--seed``, runs
one full-size untimed warmup, then a closed loop with one client: the
next op starts only after the previous one finished and was checked.
The loop stops once ``--seconds`` of op time have run and the workload
is at a cycle boundary. Output checks run between ops and are not
timed. The last stdout line is the result JSON.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
traced and untraced cycles and reports the per-layer metrics of the
traced ones (see README.md).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import core  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "op_p50_s": "s",
    "stored_bytes_per_input_byte": "ratio",
}
PER_LAYER = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_busy_s": "s",
    "driver.pre_job_s": "s",
    "driver.gap_s": "s",
    "driver.gap_share": "ratio",
    "spark.task_s": "s",
    "spark.slot_util": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.failed_tasks": "count",
    "spark.stage_attempts_retried": "count",
    "session.get_session_s": "s",
    "scripts.create_users_s": "s",
    "scripts.create_directories_s": "s",
    "plans.state.write_s": "s",
    "plans.state.read_s": "s",
    "plans.state.writes": "count",
    "plans.state.files_written": "count",
    "plans.state.bytes_written": "bytes",
    "plans.identities.write_script_s": "s",
    "operators.guards.checks": "count",
    "operators.guards.s": "s",
    "operators.allocate_ids.calls": "count",
    "operators.allocate_ids.s": "s",
    "operators.allocate_ids.collisions": "count",
    "operators.corpus.curation_pipeline_s": "s",
    "operators.corpus.kept_share": "ratio",
    "operators.dedup.minhash_lsh_pairs_s": "s",
    "operators.dedup.connected_components_s": "s",
    "operators.dedup.hamming_band_pairs_s": "s",
    "operators.dedup.pairs_out": "count",
    "operators.dedup.recall": "ratio",
    "multimodal.png_ahash_s": "s",
    "streaming.drain_s": "s",
    "streaming.start_s": "s",
    "streaming.batches": "count",
    "streaming.rows_in": "count",
    "streaming.neardup.apply_batch_s": "s",
    "ingest.read_s": "s",
    "operators.snapshots.commits": "count",
    "operators.snapshots.commit_s": "s",
    "operators.snapshots.compactions": "count",
    "operators.snapshots.bytes_rewritten": "bytes",
    "operators.snapshots.live_bytes": "bytes",
    "operators.snapshots.live_files": "count",
    "operators.snapshots.vacuum_files_deleted": "count",
    "op.count": "count",
    "op.tail_s": "s",
    "op.tail_pct": "pct",
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_ratio": "ratio",
    "failed_op_share": "ratio",
}
# hard stop for the timed loop, well inside the 180 s run limit
LOOP_DEADLINE_S = 120.0


def _spark_jvms(exclude: int | None) -> int:
    """Spark JVMs on this host other than ``exclude`` (by /proc cmdline)."""
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == exclude:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"org.apache.spark" in cmd and b"java" in cmd:
            n += 1
    return n


def _steal_s() -> float:
    """CPU time stolen from this host by its hypervisor, all CPUs (s)."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _host_state(exclude: int | None = None) -> dict:
    """Load, stolen CPU and other Spark JVMs: a contended host explains
    a slow run."""
    return {
        "loadavg_1m": os.getloadavg()[0],
        "steal_s": _steal_s(),
        "other_spark_jvms": _spark_jvms(exclude),
    }


def _workload(name: str):
    if name == "provision":
        from wl_provision import Provision

        return Provision
    from wl_lake import Lake

    return Lake


def _session(cores: int, trace: bool, work: str):
    from isilon_hadoop_tools_spark.session import get_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "3g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        # the status store keeps 1000 jobs/stages by default; a traced
        # provision run starts more, and counts would silently cap
        conf.update(
            {
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            }
        )
    return get_session("perfbench", cpus=cores, shuffle_partitions=cores, extra_conf=conf)


def _stop(spark) -> None:
    """Stop the session and the py4j gateway JVM, and wait for it."""
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    sc._gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort: never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


@dataclass
class Cycle:
    """One cycle of the timed loop (``wl.cycle`` ops)."""

    traced: bool
    windows: list[tuple[float, float]] = field(default_factory=list)  # per op, epoch s
    items: int = 0  # verified items
    wall: float = 0.0  # summed op wall time


def _trace_metrics(spark, tracer, cycles: list[Cycle], cores: int) -> dict[str, float]:
    """Per-layer metrics of the traced cycles, plus the informational
    op tail, peak JVM memory and the tracing overhead ratio."""
    from tracing import jvm_peak_rss_mb, op_layer_metrics, status_store_dump

    jobs, stages = status_store_dump(spark)
    traced = [c for c in cycles if c.traced]
    windows = [w for c in traced for w in c.windows]
    layer = op_layer_metrics(tracer, jobs, stages, windows, cores)
    walls = [end - start for start, end in windows]
    pct, tail_s = core.tail(walls)

    def rate(cs: list[Cycle]) -> float:
        return sum(c.items for c in cs) / sum(c.wall for c in cs)

    layer.update(
        {
            "op.count": float(len(walls)),
            "op.tail_s": tail_s,
            "op.tail_pct": pct,
            "jvm.peak_rss_mb": jvm_peak_rss_mb(spark),
            "trace.overhead_ratio": rate(traced) / rate([c for c in cycles if not c.traced]),
        }
    )
    return {k: layer.get(k, 0.0) for k in PER_LAYER}


def _run_op(wl, cycle: Cycle, tracer, log: core.OpLog) -> None:
    """Prepare (untimed), run (timed; traced cycles are instrumented),
    then check (untimed) one op."""
    from tracing import instrument

    prepare, run, check = wl.next()
    prepare()
    error = None
    start, t0 = time.time(), time.perf_counter()
    with instrument(tracer) if cycle.traced else contextlib.nullcontext():
        try:
            if cycle.traced:
                with tracer.op():
                    run()
            else:
                run()
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, the loop goes on
            error = f"{type(exc).__name__}: {exc}"
            traceback.print_exc(file=sys.stderr)
    wall = time.perf_counter() - t0
    cycle.windows.append((start, time.time()))
    cycle.wall += wall
    if error is not None:
        log.fail(wall, error)
        return
    try:
        problems, items = check(start)
    except Exception as exc:  # noqa: BLE001 - a crashing check fails the op
        problems, items = [f"check raised {type(exc).__name__}: {exc}"], 0
    log.record(wall, items, problems)
    if not problems:
        cycle.items += items


def timed_loop(wl, seconds: float, tracer, trace: bool, log: core.OpLog):
    """Closed loop, one client, whole cycles until ``seconds`` of op time
    (and, traced, one traced plus one untraced cycle). Returns the
    cycles and the workload's ``(stored, input)`` bytes as they stood
    after the first cycle, so a faster program that fits more cycles
    still compares like for like."""
    from tracing import NullTracer

    null = NullTracer()
    cycles: list[Cycle] = []
    footprint = None
    deadline = time.perf_counter() + LOOP_DEADLINE_S
    while time.perf_counter() < deadline:
        if sum(c.wall for c in cycles) >= seconds and (not trace or len(cycles) >= 2):
            break
        cycle = Cycle(traced=trace and len(cycles) % 2 == 0)
        cycles.append(cycle)
        wl.tracer = tracer if cycle.traced else null
        for _ in range(wl.cycle):
            _run_op(wl, cycle, tracer, log)
        if footprint is None:
            footprint = (wl.stored_bytes(), wl.consumed_input_bytes())
    return cycles, footprint


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("provision", "lake"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # the package is imported from the checkout root, and Spark's
    # Python workers must find it too
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    try:
        import isilon_hadoop_tools_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2

    from tracing import NullTracer, Tracer, jvm_pid, self_time_by_name

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    host_start = _host_state()
    cores = min(os.cpu_count() or 1, 4)
    tracer = Tracer() if trace else NullTracer()

    spark = None
    try:
        t0 = time.perf_counter()
        spark = _session(cores, trace, work)
        session_s = time.perf_counter() - t0
        wl = _workload(args.workload)(spark, os.path.join(work, "data"), args.seed, NullTracer())
        wl.generate()
        warmup_problems = wl.warmup()
        setup_s = time.perf_counter() - T_START

        log = core.OpLog()
        cycles, (stored, consumed) = timed_loop(wl, args.seconds, tracer, trace, log)
        final_problems = warmup_problems + wl.final_check()
        timed_wall = sum(c.wall for c in cycles)
        correct = log.failed == 0 and not final_problems

        summary = {
            "workload": args.workload,
            "seed": args.seed,
            "input": wl.describe(),
            "ops": log.attempted,
            "failed_ops": log.failed,
            "failed_op_share": log.failed_share,
            "items": log.items,
            "timed_wall_s": timed_wall,
            "stored_bytes": stored,
            "input_bytes": consumed,
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "host_start": host_start,
            "host_end": _host_state(exclude=jvm_pid(spark)),
            "errors": (log.errors + final_problems)[:10],
        }
        if not trace:
            metrics = {
                "setup_s": setup_s,
                "items_per_s": log.items / timed_wall,
                "op_p50_s": core.median(log.walls),
                "stored_bytes_per_input_byte": stored / consumed,
            }
        else:
            metrics = _trace_metrics(spark, tracer, cycles, cores)
            metrics.update({"session.get_session_s": session_s, "failed_op_share": log.failed_share})
            summary["self_time_s"] = self_time_by_name(tracer)
        units = END_TO_END if not trace else PER_LAYER
        print(json.dumps(summary), flush=True)
        for k, v in metrics.items():
            print(f"  {k:<44} {v:>16.6g} {units[k]}", flush=True)
        if not trace:
            print(f"  {'failed_op_share':<44} {log.failed_share:>16.6g} ratio", flush=True)
        print(
            core.result_line(
                correct, log.attempted, log.failed,
                {k: core.metric(v, units[k]) for k, v in metrics.items()},
            ),
            flush=True,
        )
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
