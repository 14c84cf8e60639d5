#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload extract-mix --seed 1 --seconds 8 --trace 0

One run makes the workload's inputs from the seed (cached by seed under
``.bench_work/cache``), launches one Spark JVM on ``local[nproc]``, sets up
a session and its warm-up job three times, runs the job once checked and
untimed, and then repeats it timed for ``--seconds``. With ``--trace 0`` it
reports the end-to-end metrics. With ``--trace 1`` it measures for half of
``--seconds``, then again as long in a new session with Spark's event log
on, runs the engine under spans in this process, and reports the per-layer
metrics. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (name -> value and unit). Metrics of a layer the workload
does not exercise read 0.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402

PACKAGE = "activestorage_ocr_spark"

#: set-up (session start + warm-up job) repeats per run; set-up_s is the median
SETUPS = 3
#: fewest timed jobs per measurement of a traced run, which measures twice
TRACED_MIN_REPS = 2
#: seconds a left-over child gets to exit after SIGTERM before SIGKILL
STOP_GRACE_S = 10.0
PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts: a process
    whose parent exits first (the JVM's Python workers, multiprocessing's
    resource tracker) is re-parented here, so ``stop_children`` finds it."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_children() -> None:
    """Stop every child of this process and wait until each has ended:
    close the resource tracker's pipe (it exits on EOF and ignores SIGTERM),
    SIGTERM the rest, SIGKILL whatever outlives ``STOP_GRACE_S``."""
    from multiprocessing import resource_tracker

    from perfbench.tracing import children

    tracker = resource_tracker._resource_tracker
    if getattr(tracker, "_fd", None) is not None:
        os.close(tracker._fd)
        tracker._fd = None
    me, signalled = os.getpid(), set()
    deadline = time.monotonic() + STOP_GRACE_S
    while kids := children().get(me, []):
        late = time.monotonic() > deadline
        for pid in kids:
            try:
                if os.waitpid(pid, os.WNOHANG)[0]:
                    continue
                if late:
                    os.kill(pid, signal.SIGKILL)
                elif pid not in signalled:
                    os.kill(pid, signal.SIGTERM)
                    signalled.add(pid)
            except (ChildProcessError, ProcessLookupError):
                pass
        time.sleep(0.05)


class SparkRunner:
    """One Spark JVM per run; sessions start and stop inside it. Every
    temporary file Spark, the JVM and the Python workers write goes under
    ``tmp``."""

    def __init__(self, tmp: str, cores: int) -> None:
        self.tmp, self.cores = tmp, cores
        self.session = None
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")

    def start(self, event_dir: str | None = None):
        from activestorage_ocr_spark.sources.session import build_session

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
        }
        if event_dir:
            os.makedirs(event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.session = build_session(
            master=f"local[{self.cores}]", app_name="perfbench",
            shuffle_partitions=self.cores, extra_conf=conf,
        )
        self.session.sparkContext.setLogLevel("ERROR")
        return self.session

    def stop(self) -> None:
        if self.session is not None:
            self.session.stop()
            self.session = None

    def close(self) -> None:
        """Stop the session, then the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _setup(runner: SparkRunner, wl) -> tuple[object, list[tuple[float, float]]]:
    """SETUPS x (session start + warm-up job) in the already-running JVM;
    returns the last session and each set-up's (start, warm-up) seconds."""
    times = []
    spark = None
    for _ in range(SETUPS):
        runner.stop()
        t0 = time.perf_counter()
        spark = runner.start()
        t1 = time.perf_counter()
        wl.warmup(spark)
        times.append((t1 - t0, time.perf_counter() - t1))
    return spark, times


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, list[float]]:
    """One run; returns the JSON result and the untraced timed walls."""
    from perfbench.workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work")
    tmp = os.path.join(work, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    wl = WORKLOADS[workload](os.path.join(work, "cache"), tmp, seed, cores)
    wl.prepare()
    if trace:
        wl.min_reps = min(wl.min_reps, TRACED_MIN_REPS)
    runner = SparkRunner(tmp, cores)
    try:
        runner.start()  # launches the JVM, outside every set-up time
        spark, setups = _setup(runner, wl)
        # a traced run measures twice, each for half the time
        window = seconds / 2 if trace else seconds
        untraced = wl.measure(spark, window, "timed")
        checks = [untraced]
        if not trace:
            metrics = {
                "setup_s": statistics.median(a + b for a, b in setups),
                "wall_s": untraced.wall_s,
                **wl.end_to_end(untraced),
            }
        else:
            traces = os.path.join(work, "traces", f"{workload}-seed{seed}-{os.getpid()}")
            event_dir = os.path.join(traces, "eventlog")
            runner.stop()
            spark = runner.start(event_dir)
            wl.warmup(spark)
            traced = wl.layers(spark, window, "timed")
            checks.append(traced)
            runner.stop()  # flushes the event log
            from perfbench.eventlog import EventLog

            log = EventLog(event_dir)
            metrics = dict.fromkeys(PER_LAYER, 0.0)
            metrics["session.start_s"] = statistics.median(a for a, _ in setups)
            metrics["session.warmup_s"] = statistics.median(b for _, b in setups)
            metrics["trace.eventlog_overhead_s"] = traced.wall_s - untraced.wall_s
            engine = {}
            if workload != "query-suite":
                engine = wl.engine_layers(wl.kernel_docs(), f"{workload}-{seed}",
                                          os.path.join(traces, "spans.jsonl"))
                metrics.update(wl.status_layers(untraced))
            metrics.update(wl.layer_metrics(log, traced, untraced, engine))
            metrics.update({k: v for k, v in engine.items() if k in PER_LAYER})
    finally:
        runner.close()
        shutil.rmtree(tmp, ignore_errors=True)
    units = {**END_TO_END, **{k: u for k, (u, _) in PER_LAYER.items()}}
    attempted = sum(c.attempted for c in checks)
    failed = sum(c.failed for c in checks)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }, untraced.walls


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["extract-mix", "crawl-job", "query-suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    adopt_orphans()
    # a SIGTERM unwinds through the clean-up below instead of killing at once
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result, walls = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        stop_children()
    print(f"# {args.workload} timed runs (s): {' '.join(f'{w:.3f}' for w in walls)}")
    for name, m in result["metrics"].items():
        print(f"# {args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(f"# {args.workload} failed_share = {result['failed'] / result['attempted']:.6g} "
          f"({result['failed']} of {result['attempted']})")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
