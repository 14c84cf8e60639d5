"""Seeded inputs for the three workloads, cached by seed under the work dir.

Every row is a pure function of (seed, i), so a seed always yields the same
bytes and a cached input is reused only under its own seed. Goldens and
oracles come from the single-node extractor and DuckDB, never from Spark.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from activestorage_ocr_spark.engine.extract import extract_document
from activestorage_ocr_spark.fixtures import gen_corpus

#: extract-mix: size of the FIXTURES.md section 1 mix, and its warm-up slice
MIX_DOCS = 2000
MIX_WARM_DOCS = 200

#: crawl-job: cheap boilerplate-heavy pages plus a few multi-MB giants that
#: all land in one input file
CRAWL_SMALL = 2000
CRAWL_GIANTS = 8
CRAWL_GIANT_BYTES = 1_250_000
CRAWL_WARM_DOCS = 200
#: above the giant size, or the giants quarantine as IMAGE_TOO_LARGE
CRAWL_MAX_BYTES = 4 * 1024 * 1024
CRAWL_LANG = "en"
#: url-hash output parts of the job (its resume and commit unit)
CRAWL_PARTS = 16
CRAWL_SMALL_PER_FILE = 1000

#: query-suite: table sizes, half of sf0.1 for the star schema and events
#: and 0.4 of it for the text tables, so one timed pass takes a few seconds
QUERY_ROWS = {
    "lineitem": 300_000,
    "orders": 75_000,
    "customer": 7_500,
    "documents": 2_000,
    "embeddings": 1_000,
    "events": 50_000,
}
QUERY_TABLES = ("nation", *QUERY_ROWS)

_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
_DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _done(d: str) -> bool:
    return os.path.exists(os.path.join(d, "_DONE"))


def _mark_done(d: str) -> None:
    with open(os.path.join(d, "_DONE"), "w") as f:
        f.write("ok")


def _fresh(d: str) -> None:
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)


# ---------------------------------------------------------------------------
# extract-mix
# ---------------------------------------------------------------------------


def mix_corpus(cache: str, seed: int, n: int, workers: int) -> str:
    """FIXTURES.md section 1 mix: ``pages.parquet`` (a directory) and
    ``goldens.parquet`` from the repository's own corpus generator."""
    return gen_corpus.ensure_corpus(
        n, seed=seed, base=os.path.join(cache, "extract-mix"), workers=workers
    )


# ---------------------------------------------------------------------------
# crawl-job
# ---------------------------------------------------------------------------


def _random_words(rng: np.random.Generator, n_bytes: int) -> str:
    """Low-compressibility lowercase text with a space every ~6 letters."""
    raw = _LETTERS[rng.integers(0, 26, n_bytes)]
    raw[rng.integers(0, n_bytes, n_bytes // 6)] = ord(" ")
    return raw.tobytes().decode()


def crawl_url(seed: int, i: int) -> str:
    h = hashlib.sha1(f"crawl:{seed}:{i}".encode()).hexdigest()[:12]
    return f"https://site{i % 500}.example/c/{h}"


def crawl_payload(seed: int, i: int) -> bytes:
    """Rows below CRAWL_SMALL are small crawl pages: ~85% link-dense
    navigation the extractor drops, ~15% main content. The rows after them
    are giants: CRAWL_GIANT_BYTES of paragraphs inside <main>."""
    rng = np.random.default_rng([seed, i])
    if i >= CRAWL_SMALL:
        paras = "".join(
            f"<p>{_random_words(rng, 1000)}</p>" for _ in range(CRAWL_GIANT_BYTES // 1007)
        )
        return f"<html><body><main>{paras}</main></body></html>".encode()
    nav = "".join(f'<a href="/x{k}">{_random_words(rng, 24)}</a>' for k in range(60))
    content = f"<p>{_random_words(rng, 400)}</p>"
    return f"<html><body><nav>{nav}</nav><main>{content}</main></body></html>".encode()


def _crawl_row(seed: int, i: int) -> dict:
    return {
        "url": crawl_url(seed, i),
        "warc_ts": gen_corpus.EPOCH + dt.timedelta(seconds=i * 37),
        "html": crawl_payload(seed, i),
        "text": None,
        "lang": CRAWL_LANG,
    }


def _golden_row(url: str, r: dict) -> dict:
    return {
        "url": url,
        "mime": r["mime"],
        "extracted_text": r["extracted_text"],
        "confidence": r["confidence"],
        "engine": r["engine"],
        "status": r["status"],
        "error_code": r["error_code"],
        "warnings": r["warnings"],
        "spans": [{"start": s, "end": e, "kind": k} for s, e, k in r["spans"]],
    }


def _crawl_golden_chunk(args: tuple) -> list[dict]:
    """Process-pool unit: golden rows for crawl rows [lo, hi)."""
    seed, lo, hi = args
    return [
        _golden_row(
            crawl_url(seed, i),
            extract_document(crawl_payload(seed, i), max_bytes=CRAWL_MAX_BYTES, languages="eng"),
        )
        for i in range(lo, hi)
    ]


def crawl_corpus(cache: str, seed: int, n_small: int, n_giants: int, workers: int) -> str:
    """Write ``pages/`` (small pages over several files, every giant in one
    file) and ``goldens.parquet``; returns the directory. The goldens are
    computed over ``workers`` spawned processes."""
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    d = os.path.join(cache, "crawl-job", f"seed{seed}_s{n_small}_g{n_giants}_v1")
    if _done(d):
        return d
    _fresh(d)
    pages = os.path.join(d, "pages")
    os.makedirs(pages)
    files = [range(lo, min(lo + CRAWL_SMALL_PER_FILE, n_small))
             for lo in range(0, n_small, CRAWL_SMALL_PER_FILE)]
    if n_giants:
        files.append(range(CRAWL_SMALL, CRAWL_SMALL + n_giants))
    for k, rows in enumerate(files):
        tbl = pa.Table.from_pylist([_crawl_row(seed, i) for i in rows], schema=gen_corpus.PAGES_SCHEMA)
        pq.write_table(tbl, os.path.join(pages, f"part-{k:05d}.parquet"),
                       compression="zstd", row_group_size=256)
    # one giant per chunk, so the giants spread over the pool
    chunks = [(seed, i, i + 1) for i in range(CRAWL_SMALL, CRAWL_SMALL + n_giants)]
    chunks += [(seed, lo, min(lo + 250, n_small)) for lo in range(0, n_small, 250)]
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(workers, mp_context=ctx) as pool:
        golden_rows = [r for part in pool.map(_crawl_golden_chunk, chunks) for r in part]
    pq.write_table(pa.Table.from_pylist(golden_rows, schema=gen_corpus.GOLDEN_SCHEMA),
                   os.path.join(d, "goldens.parquet"), compression="zstd")
    _mark_done(d)
    return d


# ---------------------------------------------------------------------------
# query-suite
# ---------------------------------------------------------------------------


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents; 5% repeat an earlier document plus " dup"."""
    words = np.asarray(_DOC_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]) for _ in range(n)]
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[rng.integers(0, n)].removesuffix(" dup") + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, ["en", "es", "zh", "de", "fr"], n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.normal(size=(n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    secs = np.sort(rng.uniform(0, 30 * 86400, n))
    ts = np.datetime64("2024-01-01", "us") + (secs * 1e6).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n)),
        "event_type": _pick(rng, ["signup", "click", "error", "view", "purchase"], n),
        "value": pa.array(np.round(rng.exponential(60.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def _tpch(rng: np.random.Generator, rows: dict[str, int]) -> dict[str, pa.Table]:
    n_o, n_c, n_l = rows["orders"], rows["customer"], rows["lineitem"]
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_c).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_c)),
        "c_mktsegment": _pick(rng, ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"], n_c),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o)),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n_o),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_o)),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_o),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l)),
        "l_partkey": pa.array(rng.integers(0, 20000, n_l)),
        "l_suppkey": pa.array(rng.integers(0, 1000, n_l)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_l)),
        "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_l),
        "l_linestatus": _pick(rng, ["O", "F"], n_l),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_l),
    })
    return {"nation": nation, "customer": customer, "orders": orders, "lineitem": lineitem}


def query_tables(cache: str, seed: int, rows: dict[str, int] = QUERY_ROWS) -> str:
    """The tables the headline queries read, one single-row-group parquet
    file each (the layout the queries are tuned for); returns the dir."""
    key = "_".join(f"{k}{v}" for k, v in sorted(rows.items()))
    d = os.path.join(cache, "query-suite", f"seed{seed}_{hashlib.sha1(key.encode()).hexdigest()[:8]}_v1")
    if _done(d):
        return d
    _fresh(d)
    rng = np.random.default_rng(seed)
    tables = _tpch(rng, rows)
    tables["documents"] = _documents(rng, rows["documents"])
    tables["embeddings"] = _embeddings(rng, rows["embeddings"])
    tables["events"] = _events(rng, rows["events"])
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(d, f"{name}.parquet"), row_group_size=max(1, tbl.num_rows))
    _mark_done(d)
    return d
