#!/usr/bin/env python3
"""Extra benchmarks for the optimization rounds (guide §1.4 noop-sink
isolation). NOT the frozen driver bench — `bench.py` stays the measured
contract; this file exists so per-query numbers and plans can be
captured without touching it.

Usage:
  python bench_extra.py [query ...]            # time the named queries
  python bench_extra.py --explain DIR [q ...]  # also dump .explain("formatted")
  python bench_extra.py --runs N [q ...]
  python bench_extra.py --task-overhead        # ms per empty Python task

Env (same contract as bench.py): SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1), SPARK_GRAFT_CPUS (default 32). Methodology matches
bench.py exactly: one warm run, clearCache, one timed run per repeat,
noop sink.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

DEFAULT = [
    "dedup_lsh_pairs",
    "decontaminate_ngrams",
    "sim_topk",
    "curation_keep_list",
    "dedup_spans",
    "conf_full",
]


def _empty_task(batches):
    yield from batches


def task_overhead(spark, reps: int = 3) -> dict:
    """Wall ms per empty Python task (10 x CPUS one-row tasks), with the
    workers' stock zip import-cache invalidation and again after the
    extraction kernel has run on every worker and installed its stat guard
    (sources/session.py). The gap is what each task pays when PySpark's
    per-task ``importlib.invalidate_caches()`` re-reads every zip archive
    on the worker path; rerun it after a PySpark or Python upgrade."""
    from activestorage_ocr_spark.operators.extraction import (
        EXTRACTED_SCHEMA, make_extract_kernel,
    )

    n = 10 * CPUS
    ids = spark.range(0, n, 1, n)

    def ms_per_task() -> float:
        walls = []
        for _ in range(reps):
            t0 = time.perf_counter()
            ids.mapInArrow(_empty_task, ids.schema).write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
        return round(sorted(walls)[len(walls) // 2] * 1000 / n, 2)

    spark.sparkContext.setJobDescription("bench_extra task overhead warm")
    ms_per_task()  # forks the Python workers
    spark.sparkContext.setJobDescription("bench_extra task overhead stock")
    stock = ms_per_task()
    pages = ids.selectExpr(
        "cast(id as string) as url", "cast(null as timestamp) as warc_ts",
        "cast('<p>x</p>' as binary) as html", "cast(null as string) as lang",
    )
    spark.sparkContext.setJobDescription("bench_extra task overhead guard")
    kernel = make_extract_kernel("pixelocr", "minimal", 1 << 20)
    pages.mapInArrow(kernel, EXTRACTED_SCHEMA).write.format("noop").mode("overwrite").save()
    spark.sparkContext.setJobDescription("bench_extra task overhead guarded")
    guarded = ms_per_task()
    return {"tasks": n, "stock_ms_per_task": stock, "guarded_ms_per_task": guarded}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", default=None)
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--explain", metavar="DIR", default=None)
    ap.add_argument("--task-overhead", action="store_true")
    args = ap.parse_args()
    names = args.queries or DEFAULT

    from activestorage_ocr_spark.plans.queries import QUERIES
    from activestorage_ocr_spark.sources.session import build_session

    spark = build_session(
        master=f"local[{CPUS}]",
        app_name="asos-bench-extra",
        shuffle_partitions=CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    if args.task_overhead:
        try:
            print(json.dumps({"cpus": CPUS, "task_overhead": task_overhead(spark)}))
        finally:
            spark.stop()
        return
    out = {}
    try:
        for name in names:
            q = QUERIES[name]
            if args.explain:
                os.makedirs(args.explain, exist_ok=True)
                import contextlib
                import io

                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    q(spark, SF_DIR).explain("formatted")
                with open(os.path.join(args.explain, f"{name}.txt"), "w") as f:
                    f.write(buf.getvalue())
            spark.sparkContext.setJobDescription(f"bench_extra warm {name}")
            q(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
            runs = []
            for i in range(args.runs):
                spark.sparkContext.setJobDescription(f"bench_extra {name} run{i}")
                t0 = time.perf_counter()
                q(spark, SF_DIR).write.format("noop").mode("overwrite").save()
                runs.append(round(time.perf_counter() - t0, 3))
                spark.catalog.clearCache()
            out[name] = runs if args.runs > 1 else runs[0]
            print(f"# {name}: {runs}", file=sys.stderr)
    finally:
        spark.stop()
    print(json.dumps({"sf_dir": SF_DIR, "cpus": CPUS, "queries": out}))


if __name__ == "__main__":
    main()
