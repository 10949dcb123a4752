"""Tests for M13 metadata, S8 raw artifacts, M12 Spark-side flip, and the
spark-submit job entrypoint."""

import json
import shutil
import tempfile

from pyspark.sql import functions as F

from navigator_document_parser_spark.plans.job import (
    flip_pdf_block_coords,
    raw_parse_artifacts,
    run_extraction,
)
from navigator_document_parser_spark.sources.synth import synth_documents


def test_pipeline_metadata_enrichment(spark):
    out = run_extraction(
        synth_documents(spark, 10, 2),
        run_id="meta-run",
        parsing_date="2026-08-16T00:00:00",
    )
    row = out.select("pipeline_metadata").first()
    pm = row["pipeline_metadata"]["parser_metadata"]
    assert pm["parsing_date"] == "2026-08-16T00:00:00"
    assert pm["run_id"] == "meta-run"
    assert pm["engine_version"].startswith("spark-docparse/")


def test_pipeline_metadata_merge_on_reparse(spark):
    """Re-parse of already-enriched rows mirrors add_parser_metadata
    (cli/parse_pdfs.py:204-242): existing parser_metadata keys the new
    run writes are OVERWRITTEN, other inner keys and other top-level
    keys survive; rows whose map lacks 'parser_metadata' get the whole
    map replaced (reference quirk kept)."""
    from pyspark.sql import functions as F

    docs = synth_documents(spark, 6, 2)
    enriched = docs.withColumn(
        "pipeline_metadata",
        F.when(
            F.col("url").endswith("0"),
            # no parser_metadata key -> whole-map replacement branch
            F.create_map(
                F.lit("ingest"), F.create_map(F.lit("src"), F.lit("warc"))
            ),
        ).otherwise(
            F.create_map(
                F.lit("ingest"),
                F.create_map(F.lit("src"), F.lit("warc")),
                F.lit("parser_metadata"),
                F.create_map(
                    F.lit("run_id"), F.lit("OLD-RUN"),
                    F.lit("azure_model_id"), F.lit("prebuilt-document"),
                ),
            )
        ),
    )
    out = run_extraction(enriched, run_id="new-run",
                         parsing_date="2026-08-16T00:00:00")
    rows = {r["url"]: r["pipeline_metadata"] for r in
            out.select("url", "pipeline_metadata").collect()}
    assert "_pm_overwrote" not in out.columns
    for url, pm in rows.items():
        inner = pm["parser_metadata"]
        assert inner["run_id"] == "new-run"  # overwritten
        assert inner["parsing_date"] == "2026-08-16T00:00:00"
        if url.endswith("0"):
            # replacement branch drops other top-level keys (quirk)
            assert "ingest" not in pm
        else:
            assert pm["ingest"]["src"] == "warc"  # top-level survives
            assert inner["azure_model_id"] == "prebuilt-document"


def test_raw_parse_artifacts_side_table(spark):
    out = run_extraction(synth_documents(spark, 15, 2), run_id="raw")
    art = raw_parse_artifacts(out)
    rows = art.collect()
    assert len(rows) == 15
    parsed = json.loads(rows[0]["artifact"])
    assert "parser" in parsed and "languages" in parsed


def test_spark_side_flip_matches_python_flip(spark):
    from navigator_document_parser_spark.extraction.pdf_blocks import (
        extract_pdf,
        vertically_flip_block_coords,
    )
    from navigator_document_parser_spark.sources.synth import make_pdf

    out = run_extraction(synth_documents(spark, 20, 2), run_id="flip")
    flipped = flip_pdf_block_coords(out).filter(F.col("parser") == "pdf")
    rows = {r["url"]: r for r in flipped.collect()}
    assert rows
    for url, r in rows.items():
        doc_id = int(url.rsplit("/", 1)[1].removesuffix(".pdf"))
        ext = extract_pdf(make_pdf(doc_id))
        expected = vertically_flip_block_coords(ext.blocks, ext.pages)
        got = r["pdf_blocks"]
        assert len(got) == len(expected)
        for g, e in zip(got, expected):
            assert abs(g["y0"] - e.y0) < 1e-9 and abs(g["y1"] - e.y1) < 1e-9
            assert g["text"] == e.text


def test_extract_job_cli_end_to_end(spark):
    """Drive jobs/extract.py main() — the spark-submit surface."""
    import jobs.extract as J

    base = tempfile.mkdtemp(prefix="ndps-job-")
    try:
        synth_documents(spark, 25, 2).write.parquet(base + "/in")
        J.main([
            "--input", base + "/in",
            "--output", base + "/out",
            "--run-id", "job-1",
            "--parsing-date", "2026-08-16T00:00:00",
            "--translate", "en",
        ])
        out = spark.read.parquet(base + "/out")
        originals = out.filter(~F.col("translated")).count()
        translated = out.filter(F.col("translated")).count()
        assert originals == 25
        assert translated > 0
        # idempotent re-run, exercising the skew-rebalance flag path too
        J.main([
            "--input", base + "/in",
            "--output", base + "/out",
            "--run-id", "job-2",
            "--translate", "en",
            "--rebalance-partitions", "8",
        ])
        again = spark.read.parquet(base + "/out")
        assert again.count() == originals + translated
    finally:
        shutil.rmtree(base, ignore_errors=True)
