"""The Python-UDF stages run one task per core, or one per
spark.sql.files.maxPartitionBytes of input when that is more, whatever
the number of input files (plans/job.size_udf_input)."""

import datetime
import glob
import math
import os
import random
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq

from navigator_document_parser_spark.plans.job import (
    run_extraction,
    run_translation,
)
from navigator_document_parser_spark.schema import DOCUMENTS_SCHEMA
from navigator_document_parser_spark.sources.synth import synth_documents

FILES = 16


@contextmanager
def split_bytes(spark, n):
    """maxPartitionBytes = openCostInBytes = n: no scan task holds two
    files unless they fit n together (perfbench's one-task-per-file
    setting at its 256 MB)."""
    keys = ("spark.sql.files.maxPartitionBytes",
            "spark.sql.files.openCostInBytes")
    old = [spark.conf.get(k) for k in keys]
    for k in keys:
        spark.conf.set(k, str(n))
    try:
        yield
    finally:
        for k, v in zip(keys, old):
            spark.conf.set(k, v)


def _file_bytes(path):
    return sum(os.path.getsize(f) for f in glob.glob(f"{path}/*.parquet"))


def _expected(spark, path, split):
    cores = spark.sparkContext.defaultParallelism
    return min(FILES, max(cores, math.ceil(_file_bytes(path) / split)))


def test_file_per_task_input_runs_one_udf_task_per_core(spark, tmp_path):
    path = f"{tmp_path}/docs"
    synth_documents(spark, 160, partitions=FILES).write.parquet(path)
    with split_bytes(spark, 256 << 20):
        docs = spark.read.schema(DOCUMENTS_SCHEMA).parquet(path)
        assert docs.rdd.getNumPartitions() == FILES
        out = run_extraction(docs)
        # ceil(bytes / 256 MB) is 1, so one task per core
        assert out.rdd.getNumPartitions() == _expected(spark, path, 256 << 20)
        assert out.count() == 160


def test_large_input_gets_more_tasks_than_cores(spark, tmp_path):
    # 16 files of incompressible html, ~24 MB, at bench.py's 4 MB split
    rng = random.Random(7)
    path = f"{tmp_path}/big"
    os.makedirs(path)
    for i in range(FILES):
        n = 24
        pq.write_table(
            pa.table({
                "url": [f"https://big.example/{i}/{j}" for j in range(n)],
                "warc_ts": pa.array([0] * n, pa.timestamp("us", tz="UTC")),
                "html": [rng.randbytes(64 << 10) for _ in range(n)],
                "text": [""] * n,
                "lang": ["en"] * n,
            }),
            f"{path}/part-{i:05d}.parquet",
        )
    split = 4 << 20
    with split_bytes(spark, split):
        docs = spark.read.schema(DOCUMENTS_SCHEMA).parquet(path)
        assert docs.rdd.getNumPartitions() == FILES
        tasks = run_extraction(docs).rdd.getNumPartitions()
    assert tasks == _expected(spark, path, split)
    assert spark.sparkContext.defaultParallelism < tasks < FILES


def test_rdd_backed_input_keeps_its_partitioning(spark):
    # createDataFrame rows have no size estimate (Long.MaxValue)
    html = b"<html><body><p>" + b"Plain words in a paragraph. " * 20 + b"</p></body></html>"
    ts = datetime.datetime(2024, 1, 1)
    rows = [(f"https://rdd.example/{i}", ts, html, "", "en") for i in range(12)]
    docs = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 6), DOCUMENTS_SCHEMA
    )
    out = run_extraction(docs)
    assert out.rdd.getNumPartitions() == 6
    assert out.filter("error IS NULL").count() == 12


def test_rebalance_partitions_is_exact(spark, tmp_path):
    path = f"{tmp_path}/docs"
    synth_documents(spark, 40, partitions=FILES).write.parquet(path)
    with split_bytes(spark, 256 << 20):
        docs = spark.read.schema(DOCUMENTS_SCHEMA).parquet(path)
        out = run_extraction(docs, rebalance_partitions=7)
        assert out.rdd.getNumPartitions() == 7


def test_translation_udf_stage_is_sized_the_same(spark, tmp_path):
    src = f"{tmp_path}/docs"
    synth_documents(spark, 64, partitions=4).write.parquet(src)
    extracted_path = f"{tmp_path}/extracted"
    run_extraction(
        spark.read.schema(DOCUMENTS_SCHEMA).parquet(src)
    ).repartition(FILES).write.parquet(extracted_path)
    with split_bytes(spark, 256 << 20):
        extracted = spark.read.parquet(extracted_path)
        assert extracted.rdd.getNumPartitions() == FILES
        out = run_translation(extracted, ["en", "fr"])
        assert out.rdd.getNumPartitions() == _expected(
            spark, extracted_path, 256 << 20
        )
        assert out.count() > 0
