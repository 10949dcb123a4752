"""Resume prunes COMPUTE, not just writes (VERDICT r2 'What's wrong #1').

The reference skips finished documents BEFORE parsing
(cli/parse_htmls.py:82-83, cli/parse_pdfs.py:315-317); the Spark analog
is an anti-join against committed keys BELOW the extraction/translation
UDFs. These tests pin that placement by counting the rows that actually
flow through the UDF stage (observe/docs counter), not just the rows the
sink writes.
"""

import shutil
import tempfile

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from navigator_document_parser_spark.plans.job import (
    run_extraction,
    run_translation,
)
from navigator_document_parser_spark.plans import sink as sink_mod
from navigator_document_parser_spark.plans.sink import ParquetMergeSink
from navigator_document_parser_spark.sources.synth import synth_documents

N_DOCS = 40


@pytest.fixture()
def out_dir():
    d = tempfile.mkdtemp(prefix="ndps-resume-")
    yield d + "/out"
    shutil.rmtree(d, ignore_errors=True)


def test_resume_prunes_extraction_compute(spark, out_dir):
    """A resumed run executes the extraction UDF ONLY on un-committed
    rows: the observe docs counter over the pruned plan counts the
    remainder, never the full input."""
    docs = synth_documents(spark, N_DOCS, partitions=2)
    sink = ParquetMergeSink(out_dir)

    # crashed first run: committed a deterministic half
    half = docs.filter(F.xxhash64("url") % 2 == 0)
    n_half = half.count()
    assert 0 < n_half < N_DOCS
    sink.merge(spark, run_extraction(half, run_id="r1"), "r1")

    # resume over the FULL input, pruned below the UDF
    pruned = sink.prune_extraction_input(spark, docs)
    obs = Observation("resume-docs")
    out = run_extraction(pruned, run_id="r2").observe(
        obs, F.count(F.lit(1)).alias("docs")
    )
    r2 = sink.merge(spark, out, "r2")
    assert r2["inserted"] == N_DOCS - n_half
    # the UDF stage saw exactly the un-committed rows
    assert obs.get["docs"] == N_DOCS - n_half

    # fully-committed table: the pruned input is EMPTY (zero UDF work),
    # and run-twice still adds 0 rows
    assert sink.prune_extraction_input(spark, docs).count() == 0
    r3 = sink.merge(
        spark,
        run_extraction(sink.prune_extraction_input(spark, docs), run_id="r3"),
        "r3",
    )
    assert r3["inserted"] == 0
    assert spark.read.parquet(out_dir).count() == N_DOCS


def test_prune_sits_below_the_udf(spark, out_dir):
    """Plan shape: the resume anti-join is a child of the ArrowEvalPython
    stage (prunes the UDF INPUT), not a filter over its output."""
    docs = synth_documents(spark, 10, partitions=2)
    sink = ParquetMergeSink(out_dir)
    sink.merge(spark, run_extraction(docs, run_id="seed"), "seed")

    plan = run_extraction(
        sink.prune_extraction_input(spark, docs), run_id="probe"
    )._jdf.queryExecution().executedPlan().toString()
    # physical plans print root-first: the UDF stage must appear BEFORE
    # (i.e. above) the left-anti join in the tree
    udf_at = plan.find("ArrowEvalPython")
    anti_at = plan.find("LeftAnti")
    assert udf_at >= 0 and anti_at >= 0
    assert udf_at < anti_at, "anti-join must sit below the extraction UDF"


def test_translation_resume_prunes_before_udf(spark, out_dir):
    docs = synth_documents(spark, N_DOCS, partitions=2)
    sink = ParquetMergeSink(out_dir)
    sink.merge(spark, run_extraction(docs, run_id="e1"), "e1")

    extraction_rows = spark.read.parquet(out_dir).filter("translated = false")

    # first translation run: nothing committed yet -> full candidate set
    t1 = run_translation(
        extraction_rows,
        ["en"],
        run_id="t1",
        committed=sink.committed_translation_keys(spark),
    )
    obs1 = Observation("t1-pairs")
    t1 = t1.observe(obs1, F.count(F.lit(1)).alias("pairs"))
    s1 = sink.merge(spark, t1, "t1")
    assert s1["inserted"] > 0
    n_pairs = obs1.get["pairs"]
    assert n_pairs == s1["inserted"]

    # resumed translation run: every finished (url, warc_ts, target) pair
    # is pruned BEFORE the translate UDFs -> zero rows flow through
    t2 = run_translation(
        extraction_rows,
        ["en"],
        run_id="t2",
        committed=sink.committed_translation_keys(spark),
    )
    obs2 = Observation("t2-pairs")
    t2 = t2.observe(obs2, F.count(F.lit(1)).alias("pairs"))
    s2 = sink.merge(spark, t2, "t2")
    assert s2["inserted"] == 0
    assert obs2.get["pairs"] == 0

    # a NEW target language is not blocked by committed 'en' pairs
    t3 = run_translation(
        extraction_rows,
        ["en", "fr"],
        run_id="t3",
        committed=sink.committed_translation_keys(spark),
    )
    fr_rows = t3.filter(F.col("translated_to") == "fr").count()
    en_rows = t3.filter(F.col("translated_to") == "en").count()
    assert fr_rows > 0 and en_rows == 0


def test_committed_keys_broadcast_fallback(spark, out_dir, monkeypatch):
    """Forcing the committed key set past MAX_BROADCAST_KEYS drops the
    broadcast hint (AQE shuffle join) — semantics unchanged: run-twice
    still adds 0 rows and resume still prunes compute."""
    docs = synth_documents(spark, 20, partitions=2)
    sink = ParquetMergeSink(out_dir)
    sink.merge(spark, run_extraction(docs, run_id="r1"), "r1")

    monkeypatch.setattr(sink_mod, "MAX_BROADCAST_KEYS", 1)
    keys = sink.committed_extraction_keys(spark)
    # the hint is genuinely absent from the logical plan
    assert "ResolvedHint" not in keys._jdf.queryExecution().analyzed().toString()

    pruned = sink.prune_extraction_input(spark, docs)
    assert pruned.count() == 0

    r2 = sink.merge(spark, run_extraction(docs, run_id="r2"), "r2")
    assert r2["inserted"] == 0
    assert spark.read.parquet(out_dir).count() == 20

    # and the small-key path DOES hint
    monkeypatch.setattr(sink_mod, "MAX_BROADCAST_KEYS", 1_000_000)
    keys2 = sink.committed_extraction_keys(spark)
    assert "ResolvedHint" in keys2._jdf.queryExecution().analyzed().toString()


def test_within_batch_dedup_picks_the_same_row_in_any_order(spark, out_dir):
    """Rows that share a key but differ in content collapse to ONE row
    chosen by their content, not by which row the aggregate saw first:
    the same rows in any order or partitioning commit the same row.
    '' and NULL in translated_to are two keys, as in the null-safe
    anti-join and iceberg_merge_sql."""
    import datetime

    ts = datetime.datetime(2024, 1, 1)
    schema = (
        "url string, warc_ts timestamp, translated_to string, text string, "
        "error string, pipeline_metadata map<string, map<string, string>>"
    )
    rows = [
        ("u1", ts, None, "A", None, {"parser_metadata": {"run_id": "a"}}),
        ("u1", ts, None, "B", None, {"parser_metadata": {"run_id": "b"}}),
        ("u1", ts, None, "A", None, {"parser_metadata": {"run_id": "c"}}),
        ("u2", ts, "fr", "y", None, None),
        ("u2", ts, "fr", "x", "boom", None),
        ("u3", ts, "", "p", None, {}),
        ("u3", ts, None, "q", None, None),
    ]

    def committed(batch_rows, parts):
        batch = spark.createDataFrame(batch_rows, schema)
        batch = batch.coalesce(1) if parts == 1 else batch.repartition(parts)
        path = f"{out_dir}/{len(seen)}"
        stats = ParquetMergeSink(path).merge(spark, batch, "d")
        assert stats["inserted"] == 4
        return sorted(
            (r["url"],
             "<null>" if r["translated_to"] is None else r["translated_to"],
             r["text"],
             r["error"] or "", str(r["pipeline_metadata"]))
            for r in spark.read.parquet(path).collect()
        )

    seen = []
    for batch_rows in (rows, rows[::-1]):
        for parts in (1, 3):
            seen.append(committed(batch_rows, parts))
    assert all(s == seen[0] for s in seen), seen
    assert seen[0] == [
        ("u1", "<null>", "A", "", "{'parser_metadata': {'run_id': 'a'}}"),
        ("u2", "fr", "x", "boom", "None"),
        ("u3", "", "p", "", "{}"),
        ("u3", "<null>", "q", "", "None"),
    ]
