"""Names and units of the per-layer metrics a traced run reports, grouped
by the product module each one measures."""

from __future__ import annotations

from .workloads import OPS_QUERIES

PER_LAYER_UNITS: dict[str, str] = {
    # sources: parquet scan of the extraction corpus
    "scan.s": "s",
    "scan.bytes": "bytes",
    "scan.tasks": "count",
    # functions.udfs: the JVM -> Python Arrow boundary (ArrowEvalPython)
    "udf.init_ms": "ms",
    "udf.python_ms": "ms",
    "udf.bytes_sent": "bytes",
    "udf.bytes_received": "bytes",
    "udf.rows": "count",
    "udf.null_floor_s": "s",
    "udf.core_util": "ratio",
    # extraction core, single core in the benchmark process
    "core.docs_per_s_1core": "docs/s",
    "core.extract_one_us.p50": "us",
    "core.extract_one_us.p99": "us",
    "core.extract_one_us.max": "us",
    "dom.parse_html_us": "us",
    "newsplease.maintext_us": "us",
    "readability.extract_us": "us",
    "policy.extract_html_us": "us",
    "langid.detect_document_us": "us",
    "pdf.extract_pdf_us": "us",
    "udfs.assemble_us": "us",
    "udfs.to_frame_us": "us",
    "langid.detect_calls_per_doc": "count",
    # plans.job: the extract_bulk pass as Spark ran it
    "job.stages": "count",
    "job.tasks": "count",
    "job.shuffle_bytes": "bytes",
    "job.gc_s": "s",
    # where the extract_bulk pass wall goes
    "bulk.transit_s": "s",
    "bulk.python_s": "s",
    "bulk.accounted_share": "ratio",
    # plans.sink: the extract_resume pass
    "sink.prune_s": "s",
    "sink.merge_s": "s",
    "sink.jobs": "count",
    "sink.count_jobs": "count",
    "sink.key_scan_s": "s",
    "sink.shuffle_write_bytes": "bytes",
    "sink.write_s": "s",
    "sink.bytes_written": "bytes",
    "sink.lineage_s": "s",
    "sink.wall_share": "ratio",
    # operators: one ops_suite pass
    **{f"q.{q}.{k}": u for q in OPS_QUERIES
       for k, u in (("s", "s"), ("stages", "count"),
                    ("shuffle_bytes", "bytes"))},
    "ops.executor_cpu_s": "s",
    "ops.gc_s": "s",
    # span self times of the traced passes
    "self.extract_bulk.sources.read_s": "s",
    "self.extract_bulk.plans.job.run_extraction_s": "s",
    "self.extract_bulk.execute_s": "s",
    "self.extract_bulk.pass_s": "s",
    "self.extract_resume.sources.read_s": "s",
    "self.extract_resume.plans.sink.prune_extraction_input_s": "s",
    "self.extract_resume.plans.job.run_extraction_s": "s",
    "self.extract_resume.plans.sink.merge_s": "s",
    "self.extract_resume.pass_s": "s",
    "self.ops_suite.pass_s": "s",
    # tracing overhead per workload: the traced pass's wall minus the
    # untraced wall, read as the time the tracer's bookkeeping took
    "trace.extract_bulk.overhead_s": "s",
    "trace.extract_resume.overhead_s": "s",
    "trace.ops_suite.overhead_s": "s",
    # peak RSS of the process tree (driver JVM and Python workers)
    # during each workload's last (untraced) warm-up pass
    "rss.extract_bulk.peak_mb": "MB",
    "rss.extract_resume.peak_mb": "MB",
    "rss.ops_suite.peak_mb": "MB",
    # same-window control leaf
    "control.py_loop_s": "s",
    "control.scan_s": "s",
}
