"""spark-submit entrypoint for the extraction pipeline.

Cluster usage (north-rule deployment shape):

    zip -r ndps.zip navigator_document_parser_spark
    spark-submit --py-files ndps.zip jobs/extract.py \
        --input  s3a://bucket/warehouse/documents \
        --output s3a://bucket/warehouse/documents_extracted \
        --run-id 2026-08-16-a \
        --parsing-date 2026-08-16T00:00:00 \
        --rebalance-partitions 0 \
        --translate en

Reads the documents table (Iceberg path or parquet dir), resumes from
whatever the sink has committed (anti-join), extracts, merges (one row
per key, picked by content), writes lineage, then optionally appends
stub-translated rows for the target languages.
"""

from __future__ import annotations

import argparse
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--format", default="parquet",
                   choices=("parquet", "warc"),
                   help="input format: parquet documents table, or raw "
                        "Common-Crawl .warc/.warc.gz shards")
    p.add_argument("--output", required=True)
    p.add_argument("--run-id", required=True)
    p.add_argument("--parsing-date", default=None,
                   help="run-level literal; pin for determinism")
    p.add_argument("--rebalance-partitions", type=int, default=0,
                   help=">0 forces a round-robin repartition (skew defusal)")
    p.add_argument("--translate", default="",
                   help="comma-separated target languages; empty = skip")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from navigator_document_parser_spark.config import build_spark
    from navigator_document_parser_spark.plans.job import (
        run_extraction,
        run_translation,
    )
    from navigator_document_parser_spark.plans.sink import ParquetMergeSink
    from navigator_document_parser_spark.schema import DOCUMENTS_SCHEMA

    spark = build_spark("extract-job", master=args.master)
    if args.format == "warc":
        from navigator_document_parser_spark.sources.warc import read_warc

        docs = read_warc(spark, args.input)
    else:
        docs = spark.read.schema(DOCUMENTS_SCHEMA).parquet(args.input)

    sink = ParquetMergeSink(args.output)
    # resume prunes COMPUTE, not just writes: anti-join the raw input
    # against committed (url, warc_ts) BEFORE the extraction UDF, so a
    # resumed 90%-done run pays ~10% of the CPU (SURVEY §3.1: scan ->
    # filter not-yet-done -> UDF; reference skip-if-exists before
    # parsing, cli/parse_htmls.py:82-83, cli/parse_pdfs.py:315-317).
    extracted = run_extraction(
        sink.prune_extraction_input(spark, docs),
        run_id=args.run_id,
        rebalance_partitions=args.rebalance_partitions or None,
        parsing_date=args.parsing_date,
    )
    stats = sink.merge(spark, extracted, args.run_id)
    print(f"extraction merged: {stats}")

    targets = [t for t in args.translate.split(",") if t.strip()]
    if targets:
        translate_run = args.run_id + "-translate"
        extraction_rows = spark.read.parquet(args.output).filter(
            "translated = false"
        )
        # same below-the-UDF pruning for translation: finished
        # (url, warc_ts, target) pairs never reach the translate UDFs
        translated = run_translation(
            extraction_rows,
            targets,
            run_id=translate_run,
            committed=sink.committed_translation_keys(spark),
        )
        tstats = sink.merge(spark, translated, translate_run)
        print(f"translation merged: {tstats}")


if __name__ == "__main__":
    main()
