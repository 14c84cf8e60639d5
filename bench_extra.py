#!/usr/bin/env python3
"""Side tools next to the frozen driver bench (`bench.py` stays the
measured contract). Query timing lives in
`perfbench/run.py --workload query-suite`.

Usage:
  python bench_extra.py --explain DIR [query ...]  # write each query's
                                                   # .explain("formatted") to
                                                   # DIR/<query>.txt (default:
                                                   # every registered query)
  python bench_extra.py --task-overhead            # ms per empty Python task

Env (same contract as bench.py): SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1), SPARK_GRAFT_CPUS (default 32).
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


def explain(spark, out_dir: str, names: list[str]) -> None:
    """Write each query's formatted physical plan to ``out_dir``; runs none."""
    import contextlib
    import io

    from activestorage_ocr_spark.plans.queries import QUERIES

    os.makedirs(out_dir, exist_ok=True)
    for name in names or sorted(QUERIES):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            QUERIES[name](spark, SF_DIR).explain("formatted")
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(buf.getvalue())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", help="queries to explain (default: all)")
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--explain", metavar="DIR")
    mode.add_argument("--task-overhead", action="store_true")
    args = ap.parse_args()

    from activestorage_ocr_spark.sources.session import build_session

    spark = build_session(
        master=f"local[{CPUS}]",
        app_name="asos-bench-extra",
        shuffle_partitions=CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.task_overhead:
            print(json.dumps({"cpus": CPUS, "task_overhead": task_overhead(spark)}))
        else:
            explain(spark, args.explain, args.queries)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
