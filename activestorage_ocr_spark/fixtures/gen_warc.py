"""Deterministic WARC fixture + golden parquet for the ``warc_ingest``
driver query (same pattern as gen_media: the golden is a pure single-node
run of the SAME parser the Spark kernel uses, written once and cached;
DuckDB reads it back as the oracle relation).

The fixture re-packages the synthetic corpus pages (gen_corpus) as 8
member-per-record ``.warc.gz`` files — the Common Crawl layout — with one
deterministically corrupted record in file 0 so the resync path is part of
the oracled surface.
"""

from __future__ import annotations

import glob
import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq

N_WARC_FILES = 8

GOLDEN_ARROW = pa.schema(
    [
        pa.field("url", pa.string()),
        pa.field("ts", pa.string()),
        pa.field("content_type", pa.string()),
        pa.field("http_status", pa.int32()),
        pa.field("content_language", pa.string()),
        pa.field("warc_file", pa.string()),
        pa.field("n_bytes", pa.int64()),
        pa.field("html_md5", pa.string()),
    ]
)


def ensure_warc_fixture(n_docs: int, base: str = "/tmp/asos_spark_corpus") -> str:
    """Write (once, cached) the WARC fixture files + golden parquet for a
    corpus of ``n_docs`` pages; returns the dir."""
    from ..sources.warc import _open_warc, parse_warc_stream, write_warc
    from .gen_corpus import ensure_corpus

    d = os.path.join(base, f"warc_n{n_docs}_v1")
    done = os.path.join(d, "_DONE")
    if os.path.exists(done):
        return d
    os.makedirs(d, exist_ok=True)

    corpus = ensure_corpus(n_docs)
    pages = pq.read_table(
        os.path.join(corpus, "pages.parquet"), columns=["url", "warc_ts", "html", "lang"]
    )
    shards: list[list[dict]] = [[] for _ in range(N_WARC_FILES)]
    for i, (url, ts, html, lang) in enumerate(
        zip(
            pages.column("url").to_pylist(),
            pages.column("warc_ts").to_pylist(),
            pages.column("html").to_pylist(),
            pages.column("lang").to_pylist(),
        )
    ):
        shards[i % N_WARC_FILES].append(
            {
                "url": url,
                "date": ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
                "html": html,
                "content_type": "application/octet-stream",
                "language": lang,
            }
        )
    paths = []
    for i, shard in enumerate(shards):
        paths.append(write_warc(os.path.join(d, f"part-{i:02d}.warc.gz"), shard))
    # deterministic corruption: re-write file 0 with its second record's
    # version line damaged (post-gzip corruption would break the gzip member;
    # damage inside the uncompressed record instead)
    import gzip as _gz

    write_warc(paths[0], shards[0], per_record_gzip=False)
    with open(paths[0], "rb") as f:
        raw = f.read()
    idx = raw.find(b"WARC/1.0", 1)
    raw = raw[:idx] + b"XXXX/9.9" + raw[idx + 8 :]
    with open(paths[0], "wb") as f:
        f.write(_gz.compress(raw, 6))

    rows = []
    for p in paths:
        fh = _open_warc(p)
        try:
            for r in parse_warc_stream(fh, os.path.basename(p)):
                rows.append(
                    {
                        "url": r["url"],
                        "ts": r["warc_ts"].strftime("%Y-%m-%d %H:%M:%S")
                        if r["warc_ts"]
                        else None,
                        "content_type": r["content_type"],
                        "http_status": r["http_status"],
                        "content_language": r["content_language"],
                        "warc_file": r["warc_file"],
                        "n_bytes": len(r["html"]),
                        "html_md5": hashlib.md5(r["html"]).hexdigest(),
                    }
                )
        finally:
            fh.close()
    # parse-error rows carry a file-position in record_id (excluded from the
    # golden columns) — the row itself, including its count, IS oracled
    pq.write_table(
        pa.Table.from_pylist(rows, schema=GOLDEN_ARROW),
        os.path.join(d, "golden.parquet"),
        compression="zstd",
    )
    with open(done, "w") as f:
        f.write("ok")
    return d


def warc_paths(n_docs: int) -> list[str]:
    d = ensure_warc_fixture(n_docs)
    return sorted(glob.glob(os.path.join(d, "part-*.warc.gz")))


def warc_oracles(n_docs: int = 2_000) -> dict[str, str]:
    d = ensure_warc_fixture(n_docs)
    return {
        "warc_ingest": f"""
            SELECT url, ts, content_type, http_status, content_language,
                   warc_file, n_bytes, html_md5
            FROM read_parquet('{d}/golden.parquet')
        """,
    }
