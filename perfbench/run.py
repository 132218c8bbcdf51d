#!/usr/bin/env python3
"""Benchmark of record for the extraction engine.

    python3 perfbench/run.py --workload job_incremental --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json and workloads.py): ``job_incremental`` and
``curate_dedup``. Each run sets up once -- JVM launch, input generation and
the workload's untimed warm-up jobs, timed together as ``setup_s`` -- and
then times whole jobs until ``--seconds`` have passed, at least one;
``job_s`` is their median. The warm-up jobs take the first-use cost (class
loading, code generation, JIT, Python worker start) out of the timed jobs,
and their output is checked like theirs. Everything the run writes lives in
``.perfbench_work/`` under the repository root and is removed at exit,
after every process the run started -- the JVM, its Python workers, the
input pool and multiprocessing's resource tracker -- has ended.
The session is sized from the host: ``SPARK_GRAFT_CPUS`` is the number of
usable CPUs and ``SPARK_GRAFT_DRIVER_MEM`` a sixteenth of physical memory
(1-4 GiB).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import ctypes
import gc
import json
import multiprocessing
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "peak_pss_mb": "MB",
}

_KERNEL = {
    "extract.s_per_kdoc": "s/kdoc",
    "extract.blocks_per_doc": "count",
    "extract.content_block_ratio": "ratio",
    "detect.s_per_kdoc": "s/kdoc",
    "detect.spans_per_doc": "count",
    "detect.flag_rate": "ratio",
    "detect.cache_hit_ratio": "ratio",
    "correct.s_per_kdoc": "s/kdoc",
    "correct.tokens": "count",
    "correct.changed_ratio": "ratio",
    "correct.cache_hit_ratio": "ratio",
    "kernel.assemble_s_per_kdoc": "s/kdoc",
}
_KERNELS_SPARK = {
    "kernels_spark.python_total_s": "s",
    "kernels_spark.python_boot_s": "s",
    "kernels_spark.python_init_s": "s",
    "kernels_spark.data_sent_bytes": "bytes",
    "kernels_spark.data_received_bytes": "bytes",
    "kernels_spark.scaling_eff": "ratio",
    "kernels_spark.python_share": "ratio",
}
_PIPELINE = {
    "pipeline.job_full_s": "s",
    "pipeline.job_resume_s": "s",
    "pipeline.pending_scan_s": "s",
    "pipeline.write_s": "s",
    "pipeline.manifest_s": "s",
    "snapshots.commit_s": "s",
    "pipeline.partitions_done": "count",
    "pipeline.partitions_skipped": "count",
    "sources.files_written": "count",
    "sources.bytes_written_per_input_byte": "ratio",
    "spark.jobs_per_run": "count",
}
_OPERATORS = {
    f"operators.{op}.{key}": unit
    for op in ("dedup", "lines", "winnow")
    for key, unit in (
        ("wall_s", "s"),
        ("plan_s", "s"),
        ("shuffle_bytes", "bytes"),
        ("shuffle_s", "s"),
        ("spill_bytes", "bytes"),
        ("peak_exec_mem_bytes", "bytes"),
        ("task_skew", "ratio"),
        ("exchanges", "count"),
    )
}
_OPERATORS.update({"operators.dedup.lsh_candidates": "count", "operators.dedup.verified_ratio": "ratio"})
_RUN = {
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.busy_share": "ratio",
    "spark.shuffle_share": "ratio",
    "trace.job_s": "s",
    "trace.uncovered_share": "ratio",
}
PER_LAYER = {**_KERNELS_SPARK, **_KERNEL, **_PIPELINE, **_OPERATORS, **_RUN}


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_mb() -> int:
    with open("/proc/meminfo") as fh:
        total_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return max(1024, min(4096, total_kb // 1024 // 16))


def configure(work: str, trace: bool) -> None:
    """Host-sized session settings, passed from outside the program."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    conf = [
        "spark.ui.showConsoleProgress=false",
        # the whole heap from the start, so the heap's footprint does not
        # depend on when the collector chose to grow it
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Xms{driver_mem_mb()}m",
    ]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{log_dir}",
            "spark.eventLog.compress=false",
        ]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(host_cpus()),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_mem_mb()}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=" ".join(
            [f"--conf {shlex.quote(c)}" for c in conf] + ["pyspark-shell"]
        ),
    )


def session(cores: int | None = None):
    from sbb_ocr_postcorrection_spark.pipeline import build_session

    spark = build_session(app="perfbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_gateway() -> None:
    """Stop the JVM that the first session launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the parent of its orphaned descendants, so that the
    JVM's Python workers, which outlive the JVM for a moment, can be waited
    for like its own children."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_children(timeout: float = 60.0) -> None:
    """Stop multiprocessing's resource tracker, then wait until every process
    below this one has ended; kill those still running after ``timeout``."""
    from multiprocessing import resource_tracker

    from perfbench.trace import children_map

    gc.collect()  # release the pool's semaphores before their tracker stops
    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in children_map().get(os.getpid(), []):
                try:
                    os.kill(child, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def timed_loop(wl, spark, seconds: float, traced: bool, mem=None) -> list[float]:
    """Closed loop: the next job starts when the previous one ends, until
    one job has succeeded and ``seconds`` have passed, or three have failed.
    The job label is cleared after every job, so the checks that follow are
    never counted as a job's own work. With ``mem`` (a MemorySampler) the
    peak of each completed job is appended to ``mem.peaks``."""
    durations: list[float] = []
    start = time.perf_counter()
    fails = 0
    while fails < 3 and (not durations or time.perf_counter() - start < seconds):
        if mem is not None:
            mem.reset()
        t0 = time.perf_counter()
        try:
            wl.iterate(spark, len(durations), traced)
        except Exception as exc:  # noqa: BLE001 - a failed job is counted, not fatal
            wl.record([f"job {len(durations)}: {type(exc).__name__}: {exc}"])
            fails += 1
            continue
        finally:
            spark.sparkContext.setJobDescription(None)
        durations.append(time.perf_counter() - t0)
        if mem is not None:
            mem.peaks.append(mem.peak_mb)
        wl.record([])
    return durations


def bench(name: str, seed: int, seconds: float, traced: bool, work: str) -> dict:
    from perfbench import trace, workloads

    pool = multiprocessing.get_context("spawn").Pool(min(4, host_cpus()))
    mem = trace.MemorySampler(exclude={p.pid for p in multiprocessing.active_children()})
    mem.start()
    wl = workloads.WORKLOADS[name](seed, work, pool)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = session()
        t1 = time.perf_counter()
        wl.prepare(os.path.join(work, "input"))
        t2 = time.perf_counter()
        for _ in range(wl.WARMUP_JOBS):  # untimed and unlabelled
            timed_loop(wl, spark, 0.0, False)
        setup_s = time.perf_counter() - t0
        print(f"  setup: session {t1 - t0:.2f} s, inputs {t2 - t1:.2f} s, "
              f"warm-up {t0 + setup_s - t2:.2f} s", flush=True)
        print(f"perfbench {name} seed={seed} inputs: {json.dumps(wl.stats)}", flush=True)

        if not traced:
            durations = timed_loop(wl, spark, seconds, False, mem)
            metrics = {
                "setup_s": setup_s,
                "job_s": statistics.median(durations) if durations else None,
                "peak_pss_mb": statistics.median(mem.peaks) if mem.peaks else None,
            }
            t0 = time.perf_counter()
            wl.check(spark)
            print(f"  check: {time.perf_counter() - t0:.2f} s", flush=True)
        else:
            undo = wl.install_spans()
            try:
                durations = timed_loop(wl, spark, seconds, True)
            finally:
                undo()
            wl.check(spark)
            wl.before_stop(spark)
            spark.stop()  # flushes the event log
            spark = None
            log = trace.EventLog(trace.read_event_log(os.path.join(work, "eventlog")))
            iters = len(durations)
            if iters:
                wl.traced_layers(session, log, iters)
                covered = sum(log.sql_wall(p) for p in wl.PREFIXES) + wl.spans
                # shares of the core-seconds the timed jobs had
                core_s = host_cpus() * sum(durations)

                def share(table: dict) -> float:
                    return sum(log.total(table, p) for p in wl.PREFIXES) / core_s

                wl.layers.update({
                    "kernels_spark.python_share": sum(
                        log.python_total(p, "python_total_s") for p in wl.PREFIXES
                    ) / core_s,
                    "spark.tasks": sum(log.total(log.tasks, p) for p in wl.PREFIXES) / iters,
                    "spark.tasks_failed": sum(log.total(log.tasks_failed, p) for p in wl.PREFIXES),
                    "spark.busy_share": share(log.task_s),
                    "spark.shuffle_share": share(log.shuffle_s),
                    "trace.job_s": statistics.median(durations),
                    "trace.uncovered_share": max(0.0, 1 - covered / sum(durations)),
                })
            metrics = {k: float(wl.layers.get(k, 0.0)) for k in PER_LAYER} if iters else {}
        print(f"  jobs: {', '.join(f'{d:.2f}' for d in durations)} s", flush=True)
    finally:
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        stop_gateway()
        pool.close()
        pool.join()
        mem.stop()
        print(f"  teardown: {time.perf_counter() - t0:.2f} s", flush=True)

    # with no completed job (each failure is already counted) only the
    # metrics that do not need one are reported
    metrics = {k: v for k, v in metrics.items() if v is not None}
    units = PER_LAYER if traced else END_TO_END
    for key, value in metrics.items():
        print(f"  {key} = {value:.6g} {units[key]}")
    frac = wl.failed / wl.attempted
    print(f"  ops_failed_frac = {frac:.6g} ({wl.failed}/{wl.attempted})")
    for p in wl.problems[:20]:
        print(f"  FAILED: {p}")
    return {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops its JVM and pool and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    adopt_orphans()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        configure(work, bool(args.trace))
        result = bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        reap_children()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
