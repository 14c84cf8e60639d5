"""The benchmark's metrics: names, units and which direction is better.
BENCHMARK.json lists the same names; ``test_perfbench.py`` keeps the two
in step."""

#: name -> unit; the end-to-end metrics of BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "1/s",
    "geomean_s": "s",
    "worker_peak_rss_mb": "MB",
}

_ENGINE_TIMES = [
    "sniff", "html", "pdf_parse", "pdf_text", "pdf_image_decode", "image_decode",
    "preprocess", "ocr", "confidence", "other",
]
HEADLINE = [
    "agg_pricing_summary", "join_broadcast_revenue", "window_top_order_per_customer",
    "conf_full", "text_fingerprint", "dedup_lsh_pairs", "sim_topk", "events_sessionize",
    "curation_keep_list", "decontaminate_ngrams", "dedup_spans", "pack_sequences",
    "curation_domain_stats", "crawl_delta",
]

#: name -> (unit, better); the per-layer metrics of BENCHMARK.json
PER_LAYER = {
    "sources.scan_s": ("s", "lower"),
    "sources.scan_tasks": ("count", "lower"),
    "sources.input_bytes": ("bytes", "lower"),
    "engine.docs_per_s_1core": ("1/s", "higher"),
    **{f"engine.{k}_s": ("s", "lower") for k in _ENGINE_TIMES},
    "engine.ok_ratio": ("ratio", "higher"),
    "engine.quarantined": ("count", "lower"),
    "engine.ceiling_docs_per_s": ("1/s", "higher"),
    "extraction.spark_vs_ceiling": ("ratio", "higher"),
    "extraction.framework_s": ("s", "lower"),
    "extraction.pass1_stage_s": ("s", "lower"),
    "extraction.pass2_stage_s": ("s", "lower"),
    "extraction.task_skew": ("ratio", "lower"),
    "extraction.exchange_bytes": ("bytes", "lower"),
    "extraction.exchange_records": ("count", "lower"),
    "extraction.fetch_wait_s": ("s", "lower"),
    "extraction.deferred_rows": ("count", "lower"),
    "extraction.python_sent_bytes": ("bytes", "lower"),
    "extraction.python_returned_bytes": ("bytes", "lower"),
    "lineage.data_commit_s": ("s", "lower"),
    "lineage.manifest_s": ("s", "lower"),
    "lineage.resume_probe_s": ("s", "lower"),
    "lineage.files_written": ("count", "lower"),
    "lineage.bytes_written": ("bytes", "lower"),
    "lineage.write_exchange_bytes": ("bytes", "lower"),
    **{f"queries.{q}_s": ("s", "lower") for q in HEADLINE},
    "queries.shuffle_bytes": ("bytes", "lower"),
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "trace.eventlog_overhead_s": ("s", "lower"),
    "trace.span_overhead_s": ("s", "lower"),
}
