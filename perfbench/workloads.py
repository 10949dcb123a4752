"""The three workloads. Each is a closed loop: one driver thread submits
one Spark action at a time and waits for it.

Each workload implements ``Workload``: ``prepare`` builds its inputs and
expected outputs (load generation, never timed), ``cold`` is the first
untimed pass in a fresh session, ``run`` is one timed pass returning its
check, and the remaining hooks are untimed.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Iterator, Tuple

import numpy as np
import pandas as pd

from . import corpus, sparkstats

PARSING_DATE = "2024-01-01T00:00:00"
SAMPLE_URLS = 16  # per pass, text compared byte for byte with _extract_one


@dataclass
class Check:
    """Outcome of one pass: units attempted and failed, with reasons."""
    units: int = 1
    failed: int = 0
    reasons: list[str] = field(default_factory=list)

    def expect(self, ok: bool, reason: str) -> None:
        """Fail the (single) unit unless ``ok``."""
        if not ok:
            self.failed = 1
            self.reasons.append(reason)


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    nproc: int
    tracer: object
    extract_docs: int
    ops_docs: int


def _digest_expr(df):
    """Order-independent 64-bit digest of every column of ``df``: XOR of
    per-row hashes of the row's JSON form (maps are not hashable in
    Spark). Top-level floats are rounded to 6 places first, so a
    reordered floating-point sum does not read as a changed output."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    cols = [
        F.round(F.col(f.name), 6).alias(f.name)
        if isinstance(f.dataType, (DoubleType, FloatType)) else F.col(f.name)
        for f in df.schema.fields
    ]
    return F.bit_xor(F.xxhash64(F.to_json(F.struct(*cols))))


def _summary(df, sample_urls: list[str]):
    """One aggregate over every output column: row count, error rows,
    digest, and the text of the sampled urls. Returns the executed
    aggregate (whose plan holds the pass's SQL metrics) and its row."""
    from pyspark.sql import functions as F

    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("error").isNotNull().cast("int")).alias("errors"),
        _digest_expr(df).alias("digest"),
        F.collect_list(
            F.when(F.col("url").isin(sample_urls), F.struct("url", "text"))
        ).alias("sample"),
    )
    return agg, agg.collect()[0]


class Workload:
    name = ""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def docs_out(self) -> int:
        """Documents one pass delivers."""
        raise NotImplementedError

    def restore(self) -> None:
        """Reset state before every pass."""

    def pass_wall(self, elapsed: float) -> float:
        """The timed part of a pass that took ``elapsed`` seconds."""
        return elapsed

    def verify(self, check: Check) -> None:
        """Checks on what the pass left behind."""

    def final_checks(self) -> list[Check]:
        """Once-per-run checks, after the timed passes."""
        return []


class _Extraction(Workload):
    """Shared corpus handling of the two extraction workloads."""

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.reference_digest = None

    def prepare(self) -> None:
        from navigator_document_parser_spark.functions import udfs

        self.dir = corpus.extraction_corpus(self.ctx.work, self.ctx.seed,
                                            self.ctx.extract_docs)
        self.docs_dir = os.path.join(self.dir, "docs")
        self.files = sorted(glob.glob(os.path.join(self.docs_dir, "*.parquet")))
        self.ids = np.load(os.path.join(self.dir, "ids.npy"))
        self.new_ids = np.load(os.path.join(self.dir, "new.npy"))
        pool = self.sample_pool()
        step = max(1, len(pool) // SAMPLE_URLS)
        sample = {corpus.doc_url(int(i)) for i in pool[::step][:SAMPLE_URLS]}
        self.expected = {}
        for f in self.files:
            t = pd.read_parquet(f, columns=["url", "html"])
            for url, html in zip(t["url"], t["html"]):
                if url in sample:
                    route = ("pdf" if url.lower().endswith(".pdf")
                             else "html" if html else "none")
                    self.expected[url] = udfs._extract_one(html, route)["text"]

    def sample_pool(self):
        return self.ids

    def read_docs(self, paths=None):
        from navigator_document_parser_spark.schema import DOCUMENTS_SCHEMA

        return self.ctx.spark.read.schema(DOCUMENTS_SCHEMA).parquet(
            *(paths or [self.docs_dir]))

    def check_summary(self, row, n_expected: int, check: Check) -> None:
        check.expect(row["n"] == n_expected, f"rows {row['n']} != {n_expected}")
        check.expect((row["errors"] or 0) == 0, f"{row['errors']} error rows")
        got = {r["url"]: r["text"] for r in row["sample"]}
        check.expect(got == self.expected, "sampled text differs from _extract_one")
        if self.reference_digest is None:
            self.reference_digest = row["digest"]
        check.expect(row["digest"] == self.reference_digest,
                     "output digest changed between passes")


def null_udf():
    """Do-nothing pandas UDF with the extraction UDF's signature: the
    floor cost of moving (html, route) through Arrow to Python and back."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def null(it: Iterator[Tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        for blobs, _ in it:
            yield pd.Series(np.zeros(len(blobs), dtype=np.int32))

    return null


class ExtractBulk(_Extraction):
    """Parquet scan -> run_extraction -> one aggregate over every output
    column. No sink."""

    name = "extract_bulk"

    def docs_out(self) -> int:
        return self.ctx.extract_docs

    def cold(self) -> None:
        """A null-UDF pass over one file per core: starts the Python
        workers and the JVM's Arrow path without extracting."""
        self.null_floor(self.files[: self.ctx.nproc])

    def null_floor(self, paths=None) -> float:
        from pyspark.sql import functions as F

        from navigator_document_parser_spark.plans.job import with_route

        docs = with_route(self.read_docs(paths))
        t0 = time.perf_counter()
        docs.agg(F.sum(null_udf()(F.col("html"), F.col("route")))).collect()
        return time.perf_counter() - t0

    def scan_only(self) -> float:
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        self.read_docs().agg(F.sum(F.length("html"))).collect()
        return time.perf_counter() - t0

    def run(self) -> Check:
        from navigator_document_parser_spark.plans.job import run_extraction

        tr = self.ctx.tracer
        check = Check()
        with tr.span("sources.read"):
            docs = self.read_docs()
        with tr.span("plans.job.run_extraction"):
            out = run_extraction(docs, run_id="bench", parsing_date=PARSING_DATE)
        with tr.span("execute"):
            # kept until the next pass, so its plan metrics stay readable
            self.action, row = _summary(out, list(self.expected))
        self.check_summary(row, self.ctx.extract_docs, check)
        return check


class ExtractResume(_Extraction):
    """jobs/extract.py's path: prune_extraction_input -> run_extraction ->
    ParquetMergeSink.merge (within-batch dedup and lineage on), against a
    sink that already holds the older three quarters of the corpus."""

    name = "extract_resume"

    def docs_out(self) -> int:
        return len(self.new_ids)

    def sample_pool(self):
        return self.new_ids

    def prepare(self) -> None:
        super().prepare()
        self.base = os.path.join(self.ctx.work, "sink", "base")
        self.live = os.path.join(self.ctx.work, "sink", "live")

    def cold(self) -> None:
        """Commit the older three quarters with the product pipeline: the
        committed state every pass starts from (also the cold pass)."""
        from pyspark.sql import functions as F

        from navigator_document_parser_spark.plans.job import run_extraction
        from navigator_document_parser_spark.plans.sink import ParquetMergeSink

        spark = self.ctx.spark
        for p in (self.base, self.base + "_lineage"):
            shutil.rmtree(p, ignore_errors=True)
        new = spark.createDataFrame(
            [(corpus.doc_url(int(i)),) for i in self.new_ids], "url string")
        old = self.read_docs().join(F.broadcast(new), "url", "left_anti")
        stats = ParquetMergeSink(self.base).merge(
            spark, run_extraction(old, run_id="base", parsing_date=PARSING_DATE),
            "base")
        want = self.ctx.extract_docs - len(self.new_ids)
        if stats["inserted"] != want:
            raise RuntimeError(f"committed base has {stats['inserted']} rows, want {want}")

    def restore(self) -> None:
        for suffix in ("", "_lineage"):
            shutil.rmtree(self.live + suffix, ignore_errors=True)
            shutil.copytree(self.base + suffix, self.live + suffix)

    def run(self) -> Check:
        from navigator_document_parser_spark.plans.job import run_extraction
        from navigator_document_parser_spark.plans.sink import ParquetMergeSink

        tr, spark = self.ctx.tracer, self.ctx.spark
        check = Check()
        sink = ParquetMergeSink(self.live)
        with tr.span("sources.read"):
            docs = self.read_docs()
        with tr.span("plans.sink.prune_extraction_input"):
            pruned = sink.prune_extraction_input(spark, docs)
        with tr.span("plans.job.run_extraction"):
            out = run_extraction(pruned, run_id="resume", parsing_date=PARSING_DATE)
        with tr.span("plans.sink.merge"):
            stats = sink.merge(spark, out, "resume")
        check.expect(stats["inserted"] == len(self.new_ids),
                     f"inserted {stats['inserted']} != {len(self.new_ids)}")
        return check

    def _written(self):
        dirs = glob.glob(os.path.join(self.live, "merge_id=resume-*"))
        if len(dirs) != 1:
            return None
        return self.ctx.spark.read.parquet(dirs[0]).drop("part_id")

    def verify(self, check: Check) -> None:
        """Untimed check of the rows the pass committed."""
        written = self._written()
        check.expect(written is not None, "no single merge directory for the pass")
        if written is not None:
            self.check_summary(_summary(written, list(self.expected))[1],
                               len(self.new_ids), check)

    def final_checks(self) -> list[Check]:
        return [self.repeat_merge()]

    def repeat_merge(self) -> Check:
        """Merging the batch the last pass committed again inserts nothing."""
        from navigator_document_parser_spark.plans.sink import ParquetMergeSink

        check = Check()
        written = self._written()
        check.expect(written is not None, "no single merge directory for the pass")
        if written is not None:
            again = ParquetMergeSink(self.live).merge(self.ctx.spark, written, "again")
            check.expect(again["inserted"] == 0,
                         f"repeated merge inserted {again['inserted']} rows")
        return check


# contract queries of the operator suite, one per carried operator item
# it can stand for: the shingle join (dedup_containment shares it), the
# winnowing pair count, and edit-distance banding. Left out: the
# iterative graph ranks (pagerank, trustrank, hits, domain_quality), the
# search queries, lsh_audit and dedup_components. Any one of them costs
# as much as this whole suite, and a run of it must fit into the fixed
# time of the benchmark's many runs.
OPS_QUERIES = [
    "dedup_ngram_jaccard",
    "winnow_pairs",
    "dedup_editdist2",
]


class OpsSuite(Workload):
    """Each contract query over the seeded documents table, forced by one
    aggregate over every output column (row count and digest)."""

    name = "ops_suite"

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.queries = OPS_QUERIES
        self.reference: dict[str, tuple] = {}
        self.query_s: dict[str, list[float]] = {q: [] for q in self.queries}
        self.query_stages: dict[str, list] = {}

    def docs_out(self) -> int:
        return self.ctx.ops_docs * len(self.queries)

    def prepare(self) -> None:
        import __spark_entry__

        self.sf_dir = corpus.ops_documents(self.ctx.work, self.ctx.seed, self.ctx.ops_docs)
        self.fns = {q: __spark_entry__.queries()[q] for q in self.queries}

    def cold(self) -> None:
        self.run()

    def pass_wall(self, elapsed: float) -> float:
        return self.pass_s  # query time only, not the GCs between

    def final_checks(self) -> list[Check]:
        return [self.oracle_check()]

    def run(self) -> Check:
        from pyspark.sql import functions as F

        from .session import jvm_gc

        tr, spark = self.ctx.tracer, self.ctx.spark
        check = Check(units=len(self.queries))
        self.pass_s = 0.0
        for q in self.queries:
            if tr.enabled:
                mark = sparkstats.stage_mark(spark)
            t0 = time.perf_counter()
            with tr.span(f"q.{q}"):
                df = self.fns[q](spark, self.sf_dir)
                row = df.agg(F.count(F.lit(1)).alias("n"),
                             _digest_expr(df).alias("d")).collect()[0]
            dt = time.perf_counter() - t0
            self.pass_s += dt
            self.query_s[q].append(dt)
            if tr.enabled:
                self.query_stages[q] = sparkstats.stages_since(spark, mark)
            got = (row["n"], row["d"])
            want = self.reference.setdefault(q, got)
            if got != want:
                check.failed += 1
                check.reasons.append(f"{q}: {got} != {want}")
            del df
            # release the query's checkpoint blocks before the next one
            # (outside the query's time)
            jvm_gc(spark)
        return check

    def oracle_check(self) -> Check:
        """Row count of each query against its DuckDB oracle over the same
        table."""
        import duckdb

        import __spark_entry__

        check = Check(units=len(self.queries))
        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            path = os.path.join(self.sf_dir, "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            for q in self.queries:
                n = len(con.sql(oracles[q]).fetchall())
                if n != self.reference[q][0]:
                    check.failed += 1
                    check.reasons.append(f"{q}: spark {self.reference[q][0]} rows, "
                                         f"duckdb {n}")
        finally:
            con.close()
        return check
