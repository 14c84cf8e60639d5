"""Continuous extraction over a landing directory of page parquet files.

The reference is strictly request/response batch-of-one and the north rule is
batch (SURVEY.md §2.6 streaming row), so the batch pipeline is primary. This
module is the incremental-ingest surface a production crawl feed needs: new
parquet files dropped into a landing dir are picked up by the file source,
run through the SAME ``extract_pages`` as a batch job, and appended to the
output sink with exactly-once file-source checkpointing — Structured
Streaming's checkpoint dir replaces the batch pipeline's part-key manifest.

Watermarking: the hourly metrics stream tolerates late page arrivals up to
``late_threshold`` on ``warc_ts`` (tumbling windows, append mode).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.extraction import extract_pages
from ..sources.session import zip_guarded

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def read_pages_stream(
    spark: SparkSession, landing_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(landing_dir)
    )


def extract_pages_stream(
    pages: DataFrame,
    *,
    engine: str | None = None,
    preset: str | None = None,
    max_bytes: int | None = None,
    doc_timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming variant of the extraction pipeline: `extract_pages` with
    skew routing off (map-only, no exchange — a streaming micro-batch is one
    file group; the in-kernel byte-budget slicing still guards memory).
    Unset knobs resolve from env config exactly as in batch. The
    per-document wall budget matters MORE here than in batch: a straggling
    document stalls the whole micro-batch and every trigger behind it."""
    return extract_pages(
        pages, engine=engine, preset=preset, max_bytes=max_bytes,
        doc_timeout_ms=doc_timeout_ms, skew_handling="off",
    )


def start_extraction_stream(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    **kwargs,
) -> StreamingQuery:
    """File-source -> extraction -> parquet sink with checkpointing.
    Exactly-once per input file via the streaming commit log."""
    out = extract_pages_stream(read_pages_stream(spark, landing_dir), **kwargs)
    return (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def dedup_pages_stream(pages: DataFrame, late_threshold: str = "2 hours") -> DataFrame:
    """Stateful streaming dedup on url: recrawls of a url arriving within the
    watermark horizon are dropped; state is *evicted* once the watermark
    passes, so memory stays bounded on an unbounded crawl feed (plain
    ``dropDuplicates(["url"])`` under a watermark never evicts when the
    event-time column isn't a key — the streaming twin of the batch
    ``dropDuplicates`` in SURVEY.md §2.6)."""
    return pages.withWatermark("warc_ts", late_threshold).dropDuplicatesWithinWatermark(["url"])


def curate_stream(
    extracted: DataFrame,
    late_threshold: str = "2 hours",
    min_tokens: int = 5,
    min_quality: float = 0.3,
) -> DataFrame:
    """Streaming curation stage — the streaming twin of
    ``operators/curation.run_curation_job``: identical map-side gates
    (token count, quality score) then content-fingerprint dedup within the
    watermark horizon.

    Keeper semantics differ from the batch job HONESTLY: the batch keeper
    is the global min-id per fingerprint (a pure function of the whole
    input, resume-split-invariant); a stream keeps the FIRST ARRIVAL per
    fingerprint and evicts state once the watermark passes, so a duplicate
    arriving later than ``late_threshold`` passes through — bounded state
    is the price of unbounded input. The batch job downstream remains the
    source of truth for exact global dedup; this stage is the
    cheap-early-drop in front of it (the standard lambda shape)."""
    from ..operators import textstats as ts
    from ..operators.extraction import OK_STATUSES

    text = F.col("extracted_text")
    gated = (
        extracted.filter(F.col("status").isin(*OK_STATUSES))
        .withColumn("n_tokens", ts.token_count(text))
        .withColumn("quality", F.round(ts.quality_score(text), 9))
        .filter(
            (F.col("n_tokens") >= min_tokens)
            & (F.col("quality") >= min_quality)
        )
        .withColumn("fp", F.md5(F.trim(F.lower(text)).cast("binary")))
    )
    return gated.withWatermark("warc_ts", late_threshold).dropDuplicatesWithinWatermark(
        ["fp"]
    )


def start_curation_stream(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    late_threshold: str = "2 hours",
    **kwargs,
) -> StreamingQuery:
    """File source -> extraction -> streaming curation -> parquet sink:
    the full landing-to-curated flow as one exactly-once streaming query."""
    curated = curate_stream(
        extract_pages_stream(read_pages_stream(spark, landing_dir), **kwargs),
        late_threshold=late_threshold,
    )
    return (
        curated.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def hourly_metrics_stream(
    extracted: DataFrame, late_threshold: str = "1 hour"
) -> DataFrame:
    """Watermarked tumbling-window rollup over the extraction stream:
    per (hour, mime, status) doc counts and byte/char sums; rows finalize
    once the watermark passes (late pages within ``late_threshold`` are
    still counted)."""
    return (
        extracted.withWatermark("warc_ts", late_threshold)
        .groupBy(F.window("warc_ts", "1 hour").alias("w"), "mime", "status")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bytes").alias("bytes_in"),
            F.sum("chars_out").alias("chars_out"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "mime",
            "status",
            "n_docs",
            "bytes_in",
            "chars_out",
        )
    )


def start_hourly_metrics_stream(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    late_threshold: str = "1 hour",
    **kwargs,
) -> StreamingQuery:
    extracted = extract_pages_stream(read_pages_stream(spark, landing_dir), **kwargs)
    metrics = hourly_metrics_stream(extracted, late_threshold)
    return (
        metrics.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def site_crawl_sessions(pages: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` (the
    task-brief pattern for semantics the built-in stateful ops can't
    express): per-HOST crawl sessions with an inactivity gap.

    State per host: (session_start, last_seen, n_pages, total_bytes).
    A page whose warc_ts is more than ``gap`` after the host's last page
    closes the open session (emitting it) and starts a new one; event-time
    timeout flushes sessions when the watermark passes last_seen + gap —
    so output is complete even for hosts that simply stop appearing.
    Emits (host, session_start, session_end, n_pages, total_bytes).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    tagged = pages.select(
        F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1).alias("host"),
        "warc_ts",
        F.coalesce(F.length("html"), F.lit(0)).cast("long").alias("n_bytes"),
    ).withWatermark("warc_ts", gap)
    return tagged.groupBy("host").applyInPandasWithState(
        _make_session_fn(_duration_ms(gap)),
        outputStructType=(
            "host string, session_start timestamp, session_end timestamp, "
            "n_pages long, total_bytes long"
        ),
        stateStructType="s0 long, s1 long, n long, b long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _make_session_fn(gap_ms: int):
    """The per-host state function of `site_crawl_sessions`."""
    import datetime as dt

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    def fn(key, pdf_iter, state: GroupState):
        host = key[0]
        if state.hasTimedOut:
            (s0, s1, n, b) = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        "host": host,
                        "session_start": dt.datetime.utcfromtimestamp(s0 / 1000.0),
                        "session_end": dt.datetime.utcfromtimestamp(s1 / 1000.0),
                        "n_pages": n,
                        "total_bytes": b,
                    }
                ]
            )
            return
        rows = []
        events = []
        for pdf in pdf_iter:
            for ts, nb in zip(pdf["warc_ts"], pdf["n_bytes"]):
                events.append((int(ts.value // 10**6), int(nb)))
        events.sort()
        cur = state.get if state.exists else None
        for ts_ms, nb in events:
            if cur is None:
                cur = (ts_ms, ts_ms, 1, nb)
            elif ts_ms - cur[1] > gap_ms:
                rows.append(cur)
                cur = (ts_ms, ts_ms, 1, nb)
            else:
                cur = (cur[0], max(cur[1], ts_ms), cur[2] + 1, cur[3] + nb)
        if cur is not None:
            state.update(cur)
            # event-time timeouts must sit above the current watermark
            state.setTimeoutTimestamp(max(cur[1] + gap_ms, state.getCurrentWatermarkMs() + 1))
        out = pd.DataFrame(
            [
                {
                    "host": host,
                    "session_start": dt.datetime.utcfromtimestamp(s0 / 1000.0),
                    "session_end": dt.datetime.utcfromtimestamp(s1 / 1000.0),
                    "n_pages": n,
                    "total_bytes": b,
                }
                for (s0, s1, n, b) in rows
            ]
        )
        if len(out):
            yield out

    return zip_guarded(fn)


def _duration_ms(s: str) -> int:
    n, unit = s.split()
    mult = {"second": 1000, "seconds": 1000, "minute": 60_000, "minutes": 60_000,
            "hour": 3_600_000, "hours": 3_600_000}[unit]
    return int(n) * mult
