"""The three closed-loop workloads: one batch job at a time, the next one
starting after the previous one completes.

Each workload makes its inputs from the seed (``prepare``), runs a small
warm-up job as the end of set-up (``warmup``), then runs its job once
untimed with the outputs checked (``check``) and repeats it timed until the
measuring time is up (``measure``). ``layers`` adds its per-layer numbers
from a traced run.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from activestorage_ocr_spark.fixtures.gen_corpus import TEST_MAX_BYTES
from activestorage_ocr_spark.operators.extraction import GIANT_BYTES, extract_pages
from activestorage_ocr_spark.operators.lineage import run_extraction_job
from activestorage_ocr_spark.sources.pages import read_pages_tuned

from . import inputs, tracing
from .eventlog import PHASE_PROPERTY, EventLog
from .metrics import HEADLINE
from .verify import GOLDEN_COLUMNS, OK_STATUSES, check_extraction, query_matches

PAGE_COLUMNS = ("url", "warc_ts", "html", "lang")
#: runs of the scan-only job behind the sources.* metrics
SCAN_REPS = 3


@dataclass
class Measurement:
    """What one measuring pass saw: wall seconds per timed job, how many
    outputs were checked and how many of them were wrong."""

    walls: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    statuses: dict = field(default_factory=dict)
    per_query: dict[str, list[float]] = field(default_factory=dict)
    rss_mb: float = 0.0

    @property
    def wall_s(self) -> float:
        return statistics.median(self.walls)


def _phase(spark, name: str) -> None:
    spark.sparkContext.setLocalProperty(PHASE_PROPERTY, name)


def _geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    min_reps = 3

    def __init__(self, cache: str, tmp: str, seed: int, cores: int) -> None:
        self.cache, self.tmp, self.seed, self.cores = cache, tmp, seed, cores

    def end_to_end(self, m: Measurement) -> dict[str, float]:
        """docs_per_s, geomean_s and worker_peak_rss_mb for extraction."""
        return {
            "docs_per_s": self.n_docs / m.wall_s,
            "geomean_s": _geomean(m.walls),
            "worker_peak_rss_mb": m.rss_mb,
        }

    def measure(self, spark, seconds: float, phase: str) -> Measurement:
        """One untimed, checked run of the job (a new session needs a run
        to reach steady speed), then timed runs until ``seconds`` is up."""
        m = Measurement()
        _phase(spark, "warm")
        self.check(spark, m)
        deadline = time.perf_counter() + seconds
        while len(m.walls) < self.min_reps or time.perf_counter() < deadline:
            _phase(spark, phase)
            m.walls.append(self.run_once(spark, m))
            m.rss_mb = max(m.rss_mb, tracing.peak_rss_mb("python"))
        return m

    def scan_layer(self, spark, pages: str) -> dict[str, float]:
        """The scan alone: the four extraction columns to a noop sink."""
        walls = []
        for _ in range(SCAN_REPS):
            _phase(spark, "scan")
            t0 = time.perf_counter()
            _noop(read_pages_tuned(spark, pages).select(*PAGE_COLUMNS))
            walls.append(time.perf_counter() - t0)
        return {"sources.scan_s": statistics.median(walls)}

    def scan_counts(self, log: EventLog) -> dict[str, float]:
        return {
            "sources.scan_tasks": log.task_count("scan") / SCAN_REPS,
            "sources.input_bytes": log.sql_metric("scan", "size of files read") / SCAN_REPS,
        }

    def kernel_docs(self) -> list[tuple]:
        """(payload, extract_document kwargs) for the single-process runs."""
        tbl = pq.read_table(self.pages, columns=["html", "lang"])
        return [
            (p, {"max_bytes": self.max_bytes, "languages": self.kernel_language(lang)})
            for p, lang in zip(tbl.column("html").to_pylist(), tbl.column("lang").to_pylist())
        ]

    def engine_layers(self, docs: list[tuple], run_id: str, spans_path: str) -> dict[str, float]:
        tracing.single_process(docs[:200])  # lazy tables, imports
        kernel_s = tracing.single_process(docs)
        rec = tracing.SpanRecorder(run_id)
        traced_s = tracing.single_process(docs, rec)
        rec.write(spans_path)
        out = {name: rec.self_s.get(name, 0.0) for name in [*tracing.ENGINE_SPANS, tracing.ROOT_SPAN]}
        out["engine.docs_per_s_1core"] = len(docs) / kernel_s
        out["trace.span_overhead_s"] = traced_s - kernel_s
        out["engine.kernel_1core_s"] = kernel_s
        return out

    def extraction_layers(self, log: EventLog, phase: str, reps: int) -> dict[str, float]:
        pass1 = log.python_stages(phase, after_exchange=False)
        pass2 = log.python_stages(phase, after_exchange=True)
        return {
            "extraction.pass1_stage_s": log.stage_seconds(pass1) / reps,
            "extraction.pass2_stage_s": log.stage_seconds(pass2) / reps,
            "extraction.task_skew": log.task_skew(pass1 + pass2),
            "extraction.exchange_bytes": log.exchange_metric(phase, "url", "shuffle bytes written") / reps,
            "extraction.exchange_records": log.exchange_metric(phase, "url", "shuffle records written") / reps,
            "extraction.fetch_wait_s": sum(log.stage_metrics[s]["fetch_wait_ms"] for s in pass2) / 1000.0 / reps,
            "extraction.python_sent_bytes": log.sql_metric(phase, "data sent to Python workers") / reps,
            "extraction.python_returned_bytes": log.sql_metric(phase, "data returned from Python workers") / reps,
        }

    def status_layers(self, m: Measurement) -> dict[str, float]:
        total = sum(m.statuses.values())
        ok = sum(n for s, n in m.statuses.items() if s in OK_STATUSES)
        return {"engine.ok_ratio": ok / total, "engine.quarantined": total - ok}

    def deferred_rows(self) -> int:
        import pyarrow.compute as pc

        sizes = pq.read_table(self.pages, columns=["html"]).column("html")
        return int(pc.sum(pc.greater(pc.binary_length(sizes), GIANT_BYTES)).as_py() or 0)


class ExtractMix(Workload):
    """extract_pages (giants mode) over the FIXTURES.md section 1 mix, to a
    noop sink; every url checked against the goldens."""

    name = "extract-mix"
    min_reps = 4
    max_bytes = TEST_MAX_BYTES

    def prepare(self) -> None:
        d = inputs.mix_corpus(self.cache, self.seed, inputs.MIX_DOCS, self.cores)
        self.pages = os.path.join(d, "pages.parquet")
        self.goldens = os.path.join(d, "goldens.parquet")
        warm = inputs.mix_corpus(self.cache, self.seed, inputs.MIX_WARM_DOCS, 0)
        self.warm_pages = os.path.join(warm, "pages.parquet")
        self.n_docs = inputs.MIX_DOCS

    @staticmethod
    def kernel_language(lang):
        return lang

    def _extract(self, spark, pages: str):
        return extract_pages(read_pages_tuned(spark, pages), max_bytes=TEST_MAX_BYTES)

    def warmup(self, spark) -> None:
        _noop(self._extract(spark, self.warm_pages))

    def run_once(self, spark, m: Measurement) -> float:
        t0 = time.perf_counter()
        _noop(self._extract(spark, self.pages))
        return time.perf_counter() - t0

    def check(self, spark, m: Measurement) -> None:
        """The timed job's plan, collected instead of written to noop."""
        out = self._extract(spark, self.pages).select("url", *GOLDEN_COLUMNS).toArrow()
        c = check_extraction(out, pq.read_table(self.goldens))
        m.attempted, m.failed, m.statuses = c.attempted, c.failed, dict(c.statuses)

    def layers(self, spark, seconds: float, log_phase: str) -> Measurement:
        """Also one pass of the query suite, whose layers only it runs."""
        m = self.measure(spark, seconds, log_phase)
        self.scan = self.scan_layer(spark, self.pages)
        self.queries = QuerySuite(self.cache, self.tmp, self.seed, self.cores)
        self.queries.prepare()
        self.query_pass = self.queries.single_pass(spark, "queries")
        m.attempted += self.query_pass.attempted
        m.failed += self.query_pass.failed
        return m

    def layer_metrics(self, log, traced: Measurement, untraced: Measurement, engine: dict) -> dict:
        out = {**self.scan, **self.scan_counts(log)}
        out.update(self.queries.query_layers(log, self.query_pass, "queries"))
        out.update(self.extraction_layers(log, "timed", len(traced.walls)))
        out["extraction.deferred_rows"] = self.deferred_rows()
        ceiling = tracing.ceiling_docs_per_s(self.kernel_docs(), self.cores)
        out["engine.ceiling_docs_per_s"] = ceiling
        out["extraction.spark_vs_ceiling"] = (self.n_docs / untraced.wall_s) / ceiling
        out["extraction.framework_s"] = (
            untraced.wall_s - out["sources.scan_s"] - engine["engine.kernel_1core_s"] / self.cores
        )
        return out


class CrawlJob(Workload):
    """run_extraction_job into a fresh output dir, then a resume rerun that
    must find nothing to do; every committed url checked against goldens."""

    name = "crawl-job"
    #: two jobs of about 8 s already outlast --seconds; a third would not
    #: fit the benchmark's time budget
    min_reps = 2
    max_bytes = inputs.CRAWL_MAX_BYTES

    def prepare(self) -> None:
        d = inputs.crawl_corpus(self.cache, self.seed, inputs.CRAWL_SMALL, inputs.CRAWL_GIANTS, self.cores)
        self.pages = os.path.join(d, "pages")
        self.goldens = os.path.join(d, "goldens.parquet")
        warm = inputs.crawl_corpus(self.cache, self.seed, inputs.CRAWL_WARM_DOCS, 0, self.cores)
        self.warm_pages = os.path.join(warm, "pages")
        self.n_docs = inputs.CRAWL_SMALL + inputs.CRAWL_GIANTS
        self.out = os.path.join(self.tmp, "crawl-out")
        self.runs = 0
        self.resume_walls: list[float] = []

    @staticmethod
    def kernel_language(lang):
        return "eng"

    def _job(self, spark, pages: str, run_id: str) -> dict:
        return run_extraction_job(
            spark, read_pages_tuned(spark, pages), self.out, run_id=run_id,
            n_parts=inputs.CRAWL_PARTS, engine="pixelocr", preset="minimal",
            max_bytes=inputs.CRAWL_MAX_BYTES,
        )

    def warmup(self, spark) -> None:
        """A small extraction to a noop sink; the job's own first run is the
        untimed one of ``measure``."""
        _noop(extract_pages(read_pages_tuned(spark, self.warm_pages), max_bytes=self.max_bytes))

    def run_once(self, spark, m: Measurement) -> float:
        shutil.rmtree(self.out, ignore_errors=True)
        self.runs += 1
        phase = spark.sparkContext.getLocalProperty(PHASE_PROPERTY)
        t0 = time.perf_counter()
        first = self._job(spark, self.pages, f"run{self.runs}")
        t1 = time.perf_counter()
        _phase(spark, f"{phase}-resume")
        again = self._job(spark, self.pages, f"run{self.runs}-resume")
        t2 = time.perf_counter()
        self.resume_walls.append(t2 - t1)
        # every run's commit is checked, outside the timed region
        out = pq.read_table(os.path.join(self.out, "data"), columns=["url", *GOLDEN_COLUMNS])
        c = check_extraction(out, pq.read_table(self.goldens))
        resumed_clean = first["n_rows"] == self.n_docs and again["parts_done"] == 0
        m.attempted += c.attempted + 1
        m.failed += c.failed + (0 if resumed_clean else 1)
        m.statuses = dict(c.statuses)
        return t2 - t0

    def check(self, spark, m: Measurement) -> None:
        """Every run, this untimed one too, is checked as it finishes."""
        self.run_once(spark, m)

    def layers(self, spark, seconds: float, log_phase: str) -> Measurement:
        self.resume_walls = []
        m = self.measure(spark, seconds, log_phase)
        files = [os.path.join(r, f) for r, _, fs in os.walk(os.path.join(self.out, "data"))
                 for f in fs if f.endswith(".parquet")]
        self.written = {
            "lineage.files_written": len(files),
            "lineage.bytes_written": sum(os.path.getsize(f) for f in files),
            "lineage.resume_probe_s": statistics.median(self.resume_walls),
        }
        self.scan = self.scan_layer(spark, self.pages)
        return m

    def layer_metrics(self, log, traced: Measurement, untraced: Measurement, engine: dict) -> dict:
        reps = len(traced.walls)
        out = {**self.scan, **self.scan_counts(log), **self.written}
        out.update(self.extraction_layers(log, "timed", reps))
        out["extraction.deferred_rows"] = self.deferred_rows()
        commits = log.write_executions("timed", "/data")
        manifests = log.write_executions("timed", "/_manifest")
        out["lineage.data_commit_s"] = sum(log.execution_span_s(x, x) for x in commits) / reps
        out["lineage.manifest_s"] = sum(
            log.execution_span_s(c, w, from_end=True) for c, w in zip(commits, manifests)
        ) / reps
        out["lineage.write_exchange_bytes"] = log.exchange_metric("timed", "part_key", "shuffle bytes written") / reps
        return out


class QuerySuite(Workload):
    """The 14 headline queries over seeded tables (inputs.QUERY_ROWS), in a
    seeded order: each warmed (its rows kept for the oracle check), then
    cache-cleared and timed to a noop sink."""

    name = "query-suite"
    min_reps = 1

    def prepare(self) -> None:
        self.tables = inputs.query_tables(self.cache, self.seed)
        self.order = list(HEADLINE)
        random.Random(self.seed).shuffle(self.order)
        self.n_docs = inputs.QUERY_ROWS["documents"]

    def _query(self, spark, name: str):
        from activestorage_ocr_spark.plans.queries import QUERIES

        return QUERIES[name](spark, self.tables)

    def warmup(self, spark) -> None:
        _noop(self._query(spark, HEADLINE[0]))

    def _timed(self, spark, name: str) -> float:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        _noop(self._query(spark, name))
        return time.perf_counter() - t0

    def measure(self, spark, seconds: float, phase: str) -> Measurement:
        """Warm every query with ``single_pass`` (which checks it), then
        time passes over all of them until ``seconds`` is up (at least one)."""
        warm = self.single_pass(spark, "warm")
        m = Measurement(per_query={q: [] for q in self.order})
        _phase(spark, phase)
        deadline = time.perf_counter() + seconds
        while len(m.per_query[self.order[0]]) < self.min_reps or time.perf_counter() < deadline:
            for q in self.order:
                m.per_query[q].append(self._timed(spark, q))
        spark.catalog.clearCache()
        m.walls = [sum(statistics.median(v) for v in m.per_query.values())]
        m.rss_mb = tracing.peak_rss_mb("jvm")
        m.attempted, m.failed = warm.attempted, warm.failed
        return m

    def single_pass(self, spark, phase: str) -> Measurement:
        """Each query once, cache-cleared, timed while its rows are
        collected for the oracle check: no warm run, so first-run costs
        (planning, code generation) are part of each time."""
        m = Measurement(per_query={})
        results = {}
        _phase(spark, phase)
        for q in self.order:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = self._query(spark, q)
            results[q] = (df.columns, [tuple(r) for r in df.collect()])
            m.per_query[q] = [time.perf_counter() - t0]
        m.walls = [sum(v[0] for v in m.per_query.values())]
        m.attempted = len(self.order)
        m.failed = sum(not self._oracle_ok(q, *results[q]) for q in self.order)
        return m

    def _oracle_ok(self, name: str, cols, rows) -> bool:
        import duckdb

        from activestorage_ocr_spark.plans.queries import ORACLES

        con = duckdb.connect()
        try:
            for t in inputs.QUERY_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables}/{t}.parquet'")
            res = con.execute(ORACLES[name])
            return query_matches(cols, rows, [d[0] for d in res.description], res.fetchall())
        finally:
            con.close()

    def end_to_end(self, m: Measurement) -> dict[str, float]:
        """docs_per_s counts the documents table against the suite's wall;
        the worker memory is the JVM's, since no query runs Python."""
        return {
            "docs_per_s": self.n_docs / m.wall_s,
            "geomean_s": _geomean(statistics.median(v) for v in m.per_query.values()),
            "worker_peak_rss_mb": m.rss_mb,
        }

    def layers(self, spark, seconds: float, log_phase: str) -> Measurement:
        return self.measure(spark, seconds, log_phase)

    def layer_metrics(self, log, traced: Measurement, untraced: Measurement, engine: dict) -> dict:
        return self.query_layers(log, traced, "timed")

    @staticmethod
    def query_layers(log, m: Measurement, phase: str) -> dict:
        out = {f"queries.{q}_s": statistics.median(v) for q, v in m.per_query.items()}
        passes = len(next(iter(m.per_query.values())))
        out["queries.shuffle_bytes"] = log.total(phase, "shuffle_write_bytes") / passes
        return out


WORKLOADS = {w.name: w for w in (ExtractMix, CrawlJob, QuerySuite)}
