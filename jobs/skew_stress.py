"""Skew-stress bench: giant-page tail vs the two skew_handling modes.

Verdict r2 asked for evidence behind the single-scan giants trade-off (its
pass-2 exchange carries all rows): build a pathological corpus — many small
pages plus a handful of multi-MB giants — and measure wall time and shuffle
bytes for ``skew_handling`` in {"giants", "off"}.

Usage::

    python jobs/skew_stress.py [--small 20000] [--giants 8]
        [--giant-mb 12] [--cpus 32]

Prints one JSON line per mode plus a summary table; the round's numbers are
recorded in PLANS.md ("Skew-stress evidence").
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _stage_metrics(ui: str) -> dict:
    """Sum shuffle/in-out bytes over all completed stages via the UI REST API."""
    try:
        apps = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications", timeout=5))
        app_id = apps[0]["id"]
        stages = json.load(
            urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages", timeout=5)
        )
    except Exception:
        return {}
    tot = {"shuffle_write": 0, "shuffle_read": 0, "input_bytes": 0, "stages": 0}
    for s in stages:
        if s.get("status") != "COMPLETE":
            continue
        tot["shuffle_write"] += s.get("shuffleWriteBytes", 0)
        tot["shuffle_read"] += s.get("shuffleReadBytes", 0)
        tot["input_bytes"] += s.get("inputBytes", 0)
        tot["stages"] += 1
    return tot


def _random_words(n_bytes: int, seed: int) -> str:
    """Low-compressibility text (real shuffle/IO bytes, unlike repeated
    paragraphs which lz4/zstd collapse to nothing)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    raw = letters[rng.randint(0, 26, n_bytes)]
    # sprinkle spaces so the tokenizer sees words
    raw[rng.randint(0, n_bytes, n_bytes // 6)] = ord(" ")
    return raw.tobytes().decode()


def _small_page(seed: int) -> bytes:
    """Crawl-realistic ratio: ~85% boilerplate (link-dense nav the extractor
    drops), ~15% real content — so the giants-mode pass-through exchange
    (extracted text instead of raw html) actually saves bytes, as it does
    on real pages."""
    import numpy as np

    rng = np.random.RandomState(seed)
    nav = "".join(
        f'<a href="/x{i}">{_random_words(24, seed * 97 + i)}</a>' for i in range(60)
    )
    content = "<p>" + _random_words(400, seed + 7) + "</p>"
    return (
        "<html><body><nav>" + nav + "</nav><main>" + content + "</main></body></html>"
    ).encode()


def build_corpus(spark, n_small: int, n_giants: int, giant_mb: int, path: str) -> None:
    import pyspark.sql.functions as F

    small_htmls = [_small_page(i) for i in range(64)]
    rows = [
        (f"https://s{i}.example/p/{i}", small_htmls[i % 64], "en") for i in range(n_small)
    ]
    df = spark.createDataFrame(rows, "url string, html binary, lang string").withColumn(
        "warc_ts", F.current_timestamp()
    )
    df.repartition(32).write.mode("overwrite").parquet(path)
    # giants go into ONE file — the realistic pathology (a site dump lands
    # in one input split; without skew handling one task chews it all)
    grows = []
    for g in range(n_giants):
        body = "<p>" + _random_words(giant_mb * 1024 * 1024, 1000 + g) + "</p>"
        grows.append(
            (f"https://giant{g}.example/p/{g}",
             ("<html><body><main>" + body + "</main></body></html>").encode(), "en")
        )
    gdf = spark.createDataFrame(grows, "url string, html binary, lang string").withColumn(
        "warc_ts", F.current_timestamp()
    )
    gdf.coalesce(1).write.mode("append").parquet(path)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--small", type=int, default=20_000)
    ap.add_argument("--giants", type=int, default=8)
    ap.add_argument("--giant-mb", type=int, default=12)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--path", default="/tmp/asos_skew_stress")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.driver.memory", "24g")
        .config("spark.sql.session.timeZone", "UTC")
        .appName("skew-stress")
        .getOrCreate()
    )
    ui = "http://localhost:4040"
    from activestorage_ocr_spark.operators.extraction import extract_pages

    data = f"{args.path}/pages"
    import os

    if not os.path.exists(f"{args.path}/_BUILT"):
        build_corpus(spark, args.small, args.giants, args.giant_mb, data)
        open(f"{args.path}/_BUILT", "w").write("ok")

    pages = spark.read.parquet(data)
    n = pages.count()  # warm the scan/page cache so modes compare fairly
    results = {}
    for mode in ("off", "giants"):
        best = None
        for rep in range(2):  # best-of-2: the VM swings +-30% run to run
            before = _stage_metrics(ui)
            t0 = time.perf_counter()
            out = extract_pages(pages, skew_handling=mode, max_bytes=64 * 1024 * 1024)
            got = out.groupBy("status").count().collect()
            wall = time.perf_counter() - t0
            after = _stage_metrics(ui)
            delta = {
                k: after.get(k, 0) - before.get(k, 0)
                for k in ("shuffle_write", "shuffle_read", "input_bytes", "stages")
            }
            cur = {
                "wall_sec": round(wall, 3),
                "rows": {r["status"]: r["count"] for r in got},
                **{k: int(v) for k, v in delta.items()},
            }
            if best is None or cur["wall_sec"] < best["wall_sec"]:
                best = cur
        results[mode] = best
        print(json.dumps({"mode": mode, "n_pages": n, **best}))

    print("\nmode     wall_s  shufW_MB  shufR_MB")
    for m, r in results.items():
        print(
            f"{m:8s} {r['wall_sec']:7.2f} {r['shuffle_write']/1e6:9.1f}"
            f" {r['shuffle_read']/1e6:9.1f}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
