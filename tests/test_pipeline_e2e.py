"""End-to-end Spark pipeline tests: synth corpus -> extract -> sink.

Mirrors the reference's e2e CLI tests (cli/test/test_run_parser.py:73-160):
exact output accounting per route, non-empty blocks, md5, page metadata,
plus the Spark-side guarantees: idempotent merge, resume, determinism.
"""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from navigator_document_parser_spark.plans.job import (
    run_extraction,
    run_translation,
    with_route,
)
from navigator_document_parser_spark.plans.sink import ParquetMergeSink
from navigator_document_parser_spark.sources.synth import synth_documents

N_DOCS = 80


@pytest.fixture(scope="module")
def extracted(spark):
    docs = synth_documents(spark, N_DOCS, partitions=4)
    df = run_extraction(docs, run_id="t1").cache()
    yield df
    df.unpersist()


def test_every_input_is_accounted_for(extracted):
    # no-drop guarantee (S6 semantics): one output row per input key
    assert extracted.count() == N_DOCS
    assert extracted.select("url", "warc_ts").distinct().count() == N_DOCS


def test_routing_counts(spark, extracted):
    # every 5th doc is .pdf by construction
    n_pdf = extracted.filter(F.col("parser") == "pdf").count()
    assert n_pdf == N_DOCS // 5
    parsers = {r["parser"] for r in extracted.select("parser").distinct().collect()}
    assert parsers <= {"pdf", "newsplease", "readability", "empty", "none"}


def test_html_blocks_and_validity(extracted):
    html_rows = extracted.filter(
        F.col("parser").isin("newsplease", "readability")
    )
    assert html_rows.count() > 0
    # block ids are b0..bN in order
    bad_ids = html_rows.filter(
        F.exists(
            F.arrays_zip(
                F.col("text_blocks.text_block_id"),
                F.sequence(F.lit(0), F.size("text_blocks") - 1),
            ),
            lambda z: z["text_block_id"] != F.concat(F.lit("b"), z["1"]),
        )
    ).count()
    assert bad_ids == 0
    # text equals '\n'-joined block lines
    mismatch = html_rows.filter(
        F.col("text") != F.array_join(F.flatten("text_blocks.text"), "\n")
    ).count()
    assert mismatch == 0


def test_pdf_rows_have_md5_pages_and_spans(extracted):
    pdf_rows = extracted.filter(F.col("parser") == "pdf")
    assert pdf_rows.filter(F.col("md5sum").isNull()).count() == 0
    assert pdf_rows.filter(F.size("page_metadata") < 1).count() == 0
    # spans index the concatenated content: offset+length <= len(text)
    bad_span = pdf_rows.filter(
        F.exists(
            F.col("pdf_blocks"),
            lambda b: b["offset"] + b["length"] > F.length(F.col("text")),
        )
    ).count()
    assert bad_span == 0


def test_languages_detected_match_generated_lang(spark, extracted):
    docs = synth_documents(spark, N_DOCS, partitions=4).select("url", "lang")
    joined = extracted.filter(
        (F.col("parser").isin("newsplease", "readability"))
        & (F.size("languages") > 0)
    ).join(docs, "url")
    total = joined.count()
    agree = joined.filter(F.col("languages")[0] == F.col("lang")).count()
    assert total > 0
    assert agree / total > 0.9, f"langid agreement {agree}/{total}"


def test_no_errors_on_synthetic_corpus(extracted):
    assert extracted.filter(F.col("error").isNotNull()).count() == 0


def test_determinism_two_runs_identical(spark, extracted):
    again = run_extraction(
        synth_documents(spark, N_DOCS, partitions=2), run_id="t1"
    )
    a = {r["url"]: r["text"] for r in extracted.select("url", "text").collect()}
    b = {r["url"]: r["text"] for r in again.select("url", "text").collect()}
    assert a == b  # byte-identical text per url, partitioning-independent


def test_translation_stage(spark, extracted):
    translated = run_translation(extracted, ["en"])
    t = translated.filter(F.col("parser").isin("newsplease", "readability"))
    rows = t.limit(5).collect()
    assert rows, "expected translated html rows"
    for r in rows:
        assert r["translated"] is True
        assert r["languages"] == ["en"]
        assert r["translated_to"] == "en"
        for b in r["text_blocks"]:
            assert b["language"] == "en"
            for line in b["text"]:
                # stub format, byte-identical to the reference mock
                assert line.startswith("translated to en: ") or not any(
                    c.isalpha() for c in line
                )
    # P7: docs already detected as single-language 'en' are excluded
    en_docs = extracted.filter(
        (F.size("languages") == 1) & (F.col("languages")[0] == "en")
    ).count()
    assert translated.count() == extracted.count() - en_docs


def test_translation_doc_meta(spark, extracted):
    """M14 residue — mirrors src/translator/test/test_translate.py:19-94:
    document_name/document_description analogs (doc_meta map values) are
    translated through the same per-string gating; untranslatable values
    (digits/punct-only) and keys pass through untouched; rows without the
    optional column are unaffected (run_translation stays schema-driven).
    """
    with_meta = extracted.withColumn(
        "doc_meta",
        F.create_map(
            F.lit("document_name"),
            F.concat(F.lit("Name of "), F.col("url")),
            F.lit("document_description"),
            F.lit("A policy document."),
            F.lit("document_slug"),
            F.lit("123-456"),  # worthiness-gated: all digits/punct
        ),
    )
    out = run_translation(with_meta, ["en"])
    rows = out.filter(F.col("parser").isin("newsplease", "readability")).limit(
        5
    ).collect()
    assert rows
    for r in rows:
        meta = r["doc_meta"]
        assert meta["document_name"] == f"translated to en: Name of {r['url']}"
        assert (
            meta["document_description"]
            == "translated to en: A policy document."
        )
        # P8 skip: untranslatable strings pass through byte-identical
        assert meta["document_slug"] == "123-456"
        assert r["translated"] is True and r["translated_to"] == "en"

    # without the optional column the output schema is unchanged
    plain = run_translation(extracted, ["en"])
    assert "doc_meta" not in plain.columns


class TestMergeSink:
    def setup_method(self, m):
        self.dir = tempfile.mkdtemp(prefix="ndps-sink-")

    def teardown_method(self, m):
        shutil.rmtree(self.dir, ignore_errors=True)

    def test_flat_layout_is_rejected(self, spark):
        """A table whose root holds part files (the flat layout, merge_id
        as a data column) is refused with an error naming it, and nothing
        is written: mixing it with per-merge directories would break
        partition discovery and silently disable the anti-join."""
        import os

        docs = synth_documents(spark, 20, partitions=2)
        ext = run_extraction(docs, run_id="old")
        out_dir = self.dir + "/out"
        ext.withColumn("part_id", F.spark_partition_id()).withColumn(
            "merge_id", F.lit("old-run-deadbeef")
        ).write.parquet(out_dir)
        before = sorted(os.listdir(out_dir))

        sink = ParquetMergeSink(out_dir)
        more = synth_documents(spark, 30, partitions=2)
        with pytest.raises(ValueError, match=out_dir):
            sink.merge(spark, run_extraction(more, run_id="r2"), "r2")
        assert sorted(os.listdir(out_dir)) == before
        assert not os.path.exists(sink.lineage_path)
        assert sink.read(spark).count() == 20

    def test_idempotent_and_resumable(self, spark):
        docs = synth_documents(spark, 40, partitions=2)
        sink = ParquetMergeSink(self.dir + "/out")

        # simulated crash: first run committed only part of the input
        half = docs.filter(F.xxhash64("url") % 2 == 0)
        n_half = half.count()
        assert 0 < n_half < 40
        r1 = sink.merge(spark, run_extraction(half, run_id="r1"), "r1")
        assert r1["inserted"] == n_half

        # resume: full input, anti-join prunes the committed part
        r2 = sink.merge(spark, run_extraction(docs, run_id="r2"), "r2")
        assert r2["inserted"] == 40 - n_half
        total = spark.read.parquet(self.dir + "/out")
        assert total.count() == 40
        assert total.select("url").distinct().count() == 40

        # idempotency: full re-run adds zero rows
        r3 = sink.merge(spark, run_extraction(docs, run_id="r3"), "r3")
        assert r3["inserted"] == 0
        assert spark.read.parquet(self.dir + "/out").count() == 40

        # lineage rows exist for the two inserting runs
        lineage = spark.read.parquet(self.dir + "/out_lineage")
        got = {r["run_id"] for r in lineage.select("run_id").collect()}
        assert {"r1", "r2"} <= got
        sums = {
            r["run_id"]: r["s"]
            for r in lineage.groupBy("run_id").agg(
                F.sum("n_rows").alias("s")
            ).collect()
        }
        assert sums["r1"] == n_half and sums["r2"] == 40 - n_half


def test_streaming_ingestion(spark):
    import os

    from navigator_document_parser_spark.streaming.stream_job import (
        start_dedup_extraction_stream,
    )

    base = tempfile.mkdtemp(prefix="ndps-stream-")
    try:
        in_dir = os.path.join(base, "in")
        synth_documents(spark, 30, partitions=2).write.parquet(in_dir)
        q = start_dedup_extraction_stream(
            spark,
            in_dir,
            os.path.join(base, "out"),
            os.path.join(base, "ckpt"),
        )
        q.awaitTermination(120)
        out = spark.read.parquet(os.path.join(base, "out"))
        assert out.count() == 30

        # restart the stream over the same directory: checkpoint + merge
        # semantics -> still 30 rows
        q2 = start_dedup_extraction_stream(
            spark,
            in_dir,
            os.path.join(base, "out"),
            os.path.join(base, "ckpt"),
        )
        q2.awaitTermination(120)
        assert spark.read.parquet(os.path.join(base, "out")).count() == 30
    finally:
        shutil.rmtree(base, ignore_errors=True)
