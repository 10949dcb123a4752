"""Idempotent keyed sink + resume protocol (MERGE emulation over parquet).

Semantics mirror the reference's never-clobber, never-drop output contract:
  - one output per key; re-running adds nothing
    (skip-if-exists: cli/parse_htmls.py:82-83, cli/parse_pdfs.py:315-317;
    OverwriteNewerCloudError skip: cli/parse_htmls.py:89-99)
  - a crashed run resumes by set semantics, not sentinel files
    (blank pre-write S6 replaced by left-anti join against committed keys)

On a real cluster this is Iceberg `MERGE INTO output USING batch ON
url AND warc_ts AND translated_to WHEN NOT MATCHED THEN INSERT` — the
interface here is identical; the parquet emulation exists because the
sandbox has no Iceberg catalog jars (SURVEY §7.4.5). Spark's
FileOutputCommitter gives per-job atomicity: a killed job leaves no
committed files, so resume == re-run; the anti-join prunes finished work.

Lineage (X4/north_rule): per-partition counters (rows, failures, text
bytes) written next to the data per run — computed from a second
column-pruned scan of the just-committed files, never by re-running the
extraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException
from pyspark.sql.types import MapType

KEYS = ["url", "warc_ts", "translated_to"]

# Broadcasting the committed key set is right while it fits executor
# memory (keys are ~100 B/row -> ~1 GB at this cap). Past the cap the
# hint is dropped and AQE picks a shuffle join — same semantics,
# different physical plan. Read at call time; tests patch it.
MAX_BROADCAST_KEYS = 10_000_000


class ParquetMergeSink:
    def __init__(self, path: str, keys: list[str] | None = None):
        self.path = path.rstrip("/")
        self.keys = keys or KEYS
        self.lineage_path = self.path + "_lineage"

    # -- reads -------------------------------------------------------------

    def read(self, spark: SparkSession) -> DataFrame | None:
        try:
            return spark.read.parquet(self.path)
        except AnalysisException:
            return None

    def _has_flat_files(self, spark: SparkSession) -> bool:
        """True when the table root holds data files directly (the flat
        layout of tables written before the per-merge directories).
        Hadoop FS API — works for file://, s3a://, hdfs:// alike."""
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(self.path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(hpath):
            return False
        for st in fs.listStatus(hpath):
            name = st.getPath().getName()
            if st.isFile() and not name.startswith(("_", ".")):
                return True
        return False

    def committed_keys(self, spark: SparkSession) -> DataFrame | None:
        existing = self.read(spark)
        if existing is None:
            return None
        # column-pruned scan: only the key columns leave the parquet reader.
        # No dropDuplicates: every consumer is a left-anti join (or the
        # broadcast-size count), and duplicate build rows cannot change
        # which batch rows an anti-join keeps.
        return existing.select(*self.keys)

    def _maybe_broadcast(self, spark: SparkSession, keys: DataFrame) -> DataFrame:
        """Broadcast the committed key set only while it is small enough.

        The count is one extra job over the column-pruned key scan —
        cheap next to re-scanning the table per anti-join branch, and it
        is what actually decides executor-memory safety (a size estimate
        from file stats would include non-key columns). Past the cap the
        plain DataFrame is returned and AQE picks a shuffle-hash join.
        """
        if keys.count() <= MAX_BROADCAST_KEYS:
            return F.broadcast(keys)
        return keys

    @staticmethod
    def _anti_join_keys(
        batch: DataFrame, committed: DataFrame, pairs: list[tuple[str, str]]
    ) -> DataFrame:
        """left-anti on NULL-SAFE key equality (<=>), matching the
        iceberg_merge_sql ON clause: a null key part must anti-join
        against its committed twin or re-running re-inserts it forever.
        ``pairs`` maps batch column -> committed column."""
        cond = [
            F.col(f"b.{bc}").eqNullSafe(F.col(f"c.{cc}")) for bc, cc in pairs
        ]
        return batch.alias("b").join(
            committed.alias("c"), on=cond, how="left_anti"
        )

    # -- resume: prune work BEFORE compute (SURVEY §3.1 lifecycle:
    #    scan -> filter not-yet-done -> UDF). The merge() anti-join prunes
    #    WRITES; these prune the UDF INPUT so a resumed 90%-done run pays
    #    ~10% of the extraction CPU, not 100%. Reference semantics are
    #    skip-if-exists BEFORE parsing (cli/parse_htmls.py:82-83,
    #    cli/parse_pdfs.py:315-317).

    def committed_extraction_keys(self, spark: SparkSession) -> DataFrame | None:
        """(url, warc_ts) of committed ORIGINAL-extraction rows
        (translated_to IS NULL), broadcast-hinted while small."""
        ck = self.committed_keys(spark)
        if ck is None:
            return None
        keys = ck.filter(F.col("translated_to").isNull()).select(
            "url", "warc_ts"
        )
        return self._maybe_broadcast(spark, keys)

    def committed_translation_keys(self, spark: SparkSession) -> DataFrame | None:
        """(url, warc_ts, translated_to) of committed TRANSLATED rows,
        broadcast-hinted while small."""
        ck = self.committed_keys(spark)
        if ck is None:
            return None
        keys = ck.filter(F.col("translated_to").isNotNull())
        return self._maybe_broadcast(spark, keys)

    def prune_extraction_input(
        self, spark: SparkSession, docs: DataFrame
    ) -> DataFrame:
        """Anti-join the RAW documents input against committed extraction
        keys so the extraction UDF only ever sees un-committed rows —
        the join sits BELOW the ArrowEvalPython stage by construction
        (it filters the input plan, not the UDF output)."""
        keys = self.committed_extraction_keys(spark)
        if keys is None:
            return docs
        return self._anti_join_keys(
            docs, keys, [("url", "url"), ("warc_ts", "warc_ts")]
        )

    # -- production path -----------------------------------------------------

    def iceberg_merge_sql(self, target_table: str, source_view: str) -> str:
        """The single statement this sink emulates, for real Iceberg
        catalogs (SURVEY §7.4.5): register the batch as a temp view and
        run this instead of merge(). Same keys, same insert-if-absent
        semantics; snapshot isolation comes from Iceberg's commit.
        """
        on = " AND ".join(
            f"t.{k} <=> s.{k}" for k in self.keys  # null-safe equality
        )
        return (
            f"MERGE INTO {target_table} t\n"
            f"USING {source_view} s\n"
            f"ON {on}\n"
            f"WHEN NOT MATCHED THEN INSERT *"
        )

    # -- merge -------------------------------------------------------------

    def _dedup_batch(self, batch: DataFrame) -> DataFrame:
        """One row per key (reference: input id-set dedup,
        run_parser.py:157), picked by content: the smallest row in
        Spark's total order over the non-key columns, so the same rows
        in any order or partitioning keep the same row. One aggregate
        grouped on the keys themselves (GROUP BY treats NULLs as equal,
        '' and NULL stay apart, as in the anti-join), so the dedup is
        the same single exchange a dropDuplicates would be.

        Maps have no order in Spark, so a map column (pipeline_metadata,
        doc_meta) takes part as its JSON text and is parsed back after
        the pick — an exact round trip for string-keyed maps.
        """
        rest = [f for f in batch.schema.fields if f.name not in self.keys]
        has_map = {f.name for f in rest if isinstance(f.dataType, MapType)}
        picked = batch.groupBy(*self.keys).agg(
            F.min(
                F.struct(*[
                    F.to_json(f.name).alias(f.name)
                    if f.name in has_map else F.col(f.name)
                    for f in rest
                ])
            ).alias("_row")
        )
        return picked.select(*[
            F.col(c) if c in self.keys
            else F.from_json(f"_row.{c}", batch.schema[c].dataType).alias(c)
            if c in has_map
            else F.col(f"_row.{c}").alias(c)
            for c in batch.columns
        ])

    def merge(
        self, spark: SparkSession, batch: DataFrame, run_id: str
    ) -> dict:
        """Insert-if-absent on (url, warc_ts, translated_to).

        Returns {'inserted': n, 'partitions': p} counted from the
        committed files (no re-execution of the upstream plan). Raises
        ValueError, writing nothing, on a table in the flat layout.
        """
        if self._has_flat_files(spark):
            # a per-merge directory next to flat part files breaks
            # partition discovery, which would silently disable the
            # anti-join and re-insert committed rows on the next run
            raise ValueError(
                f"{self.path} holds data files at its root (flat layout); "
                "the sink only appends per-merge partition directories"
            )
        deduped = self._dedup_batch(batch)

        committed = self.committed_keys(spark)
        if committed is not None:
            # NULL-SAFE key equality throughout (<=>), matching both the
            # iceberg_merge_sql ON clause and the within-batch dedup
            # (GROUP BY treats nulls as equal): a null key part must
            # anti-join against its committed twin, or re-running would
            # re-insert it every time and break run-twice-adds-0-rows.
            # Broadcast only while the key set fits executor memory
            # (MAX_BROADCAST_KEYS) — past that AQE plans a shuffle join;
            # the sink interface doesn't change.
            deduped = self._anti_join_keys(
                deduped,
                self._maybe_broadcast(spark, committed),
                [(k, k) for k in self.keys],
            )

        # stats/lineage key on a UNIQUE per-invocation merge id, not the
        # logical run_id: resuming a crashed run with the SAME run_id must
        # not re-count rows committed by the earlier attempt (lineage
        # would double-count and 'inserted' would over-report).
        import re
        import uuid

        merge_id = re.sub(
            r"[^A-Za-z0-9._-]", "_", f"{run_id}-{uuid.uuid4().hex[:8]}"
        )  # sanitized: merge_id becomes a hive partition directory name
        to_write = deduped.withColumn("part_id", F.spark_partition_id())

        # each merge commits into its own hive-style partition dir:
        # readers of self.path recover merge_id via partition discovery,
        # and the lineage recount below scans ONLY this merge's files
        # (column-pruned), never the whole table's history.
        merge_dir = f"{self.path}/merge_id={merge_id}"
        to_write.write.mode("append").parquet(merge_dir)
        try:
            written = spark.read.parquet(merge_dir)
        except AnalysisException:
            # empty batch: parquet write emitted no data files
            return {"inserted": 0, "partitions": 0}
        lineage = written.groupBy("part_id").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.col("error").isNotNull(), 1).otherwise(0)
            ).alias("n_failures"),
            F.sum(F.length(F.col("text"))).alias("bytes_text_out"),
        ).select(
            F.lit(run_id).alias("run_id"),
            F.col("part_id").alias("partition_id"),
            "n_rows", "n_failures", "bytes_text_out",
        )
        # one row per written partition, cached: appended as lineage and
        # collected for the returned counts, so the merge's files are
        # scanned once (writing the collected rows back through
        # createDataFrame would round-trip them through Python)
        lineage = lineage.cache()
        try:
            lineage.write.mode("append").parquet(self.lineage_path)
            rows = lineage.collect()
        finally:
            lineage.unpersist()
        return {
            "inserted": sum(r["n_rows"] for r in rows),
            "partitions": len(rows),
        }
