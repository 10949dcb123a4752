"""Streaming inverted-index maintenance (foreachBatch + index_merge).

A crawl lands document parquet files continuously; the search side
wants the sharded posting-block index (operators/search.py
index_export layout) to follow without full rebuilds. Each micro-batch
folds the new documents into the committed index with index_merge —
only posting blocks in the delta's doc ranges are decoded and rebuilt,
so per-batch COMPUTE scales with the batch — and the writer is
incremental at the FILE level too: posting blocks are grouped into
contiguous doc-range buckets (pb = block_id div blocks_per_bucket), a
generation rewrites only the buckets the delta touched, and a manifest
inherits every other bucket's file from the previous generation:

    index_dir/
      gen=0/pb=0/ ... gen=0/pb=7/   parquet (first batch: all buckets)
      gen=2/pb=3/                   parquet (batch 2 touched bucket 3)
      manifest_0.json               {"0": "gen=0/pb=0", ...}
      manifest_2.json               {..., "3": "gen=2/pb=3"}  (rest inherited)
      _CURRENT                      one line naming the live generation

Readers resolve _CURRENT -> manifest -> immutable bucket directories —
never a directory being written. Inheritance is sound because
index_merge passes blocks outside the delta's doc ranges through
UNCHANGED (its pytest-pinned invariant), and a bucket is a union of
whole blocks. Generation id = micro-batch id. Crash replay never
touches an existing directory: if _CURRENT already names the batch
the generation committed fully and the replay is a no-op (index_merge
is a fixpoint, so skipping is sound); otherwise the replay writes to
a fresh ``gen=<id>r<attempt>`` suffix and re-points, so directories a
reader (or the live manifest) may reference are immutable even across
crashes mid-write (r6 ADVICE). The pointer write is a POSIX-atomic
rename; the
module therefore REQUIRES a local/POSIX ``index_dir`` and rejects URI
paths loudly — on object stores the manifest/pointer pair must become
a conditional-put (the Iceberg-shaped seam, same as
ParquetMergeSink.iceberg_merge_sql); a silent local/remote split-brain
is worse than a crash. Superseded gen=*/pb=* directories and old
manifests are immutable history: vacuum_generations() deletes
everything the live manifest no longer references (the Iceberg
expire-snapshots analogue) — call it on whatever retention cadence the
deployment wants; a --tail stream that never vacuums grows storage
linearly in rewritten-bucket count.

Stream==batch parity: after draining N batches the committed index
equals index_export over the union of all batches — pinned by pytest,
including overlapping re-crawls and the file-inheritance claim itself.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.search import index_export, index_merge

_POINTER = "_CURRENT"


def _read_manifest(index_dir: str) -> dict[str, str] | None:
    ptr = os.path.join(index_dir, _POINTER)
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        gen = f.read().strip()
    with open(os.path.join(index_dir, f"manifest_{gen}.json")) as f:
        return json.load(f)


def read_current_index(
    spark: SparkSession, index_dir: str
) -> DataFrame | None:
    """The live index generation (manifest-resolved union of immutable
    bucket directories), or None before the first commit."""
    manifest = _read_manifest(index_dir)
    if not manifest:  # no commit yet, or every bucket purged
        return None
    paths = [os.path.join(index_dir, p) for p in manifest.values()]
    return spark.read.parquet(*paths)


def _commit_generation(
    index_dir: str, gen: int, manifest: dict[str, str]
) -> None:
    """Write the generation manifest, then point _CURRENT at it via
    write-temp + atomic rename (readers see the old or the new
    generation, never a torn one)."""
    with open(os.path.join(index_dir, f"manifest_{gen}.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    ptr = os.path.join(index_dir, _POINTER)
    tmp = ptr + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(gen))
    os.replace(tmp, ptr)


def vacuum_generations(index_dir: str) -> list[str]:
    """Delete every gen=*/pb=* directory and manifest_*.json the LIVE
    manifest no longer references (expire-snapshots). Readers of the
    current generation are unaffected (its files are all referenced);
    readers pinned to an OLDER manifest lose it — the caller owns the
    retention window, exactly like Iceberg snapshot expiry. Returns
    the deleted relative paths."""
    import shutil

    ptr = os.path.join(index_dir, _POINTER)
    if not os.path.exists(ptr):
        return []
    with open(ptr) as f:
        live_gen = f.read().strip()
    manifest = _read_manifest(index_dir) or {}
    keep_dirs = set(manifest.values())
    deleted: list[str] = []
    for name in sorted(os.listdir(index_dir)):
        if name.startswith("manifest_") and name.endswith(".json"):
            if name != f"manifest_{live_gen}.json":
                os.remove(os.path.join(index_dir, name))
                deleted.append(name)
        elif name.startswith("gen="):
            for pb in sorted(os.listdir(os.path.join(index_dir, name))):
                rel = f"{name}/{pb}"
                if rel not in keep_dirs:
                    shutil.rmtree(os.path.join(index_dir, rel))
                    deleted.append(rel)
            if not os.listdir(os.path.join(index_dir, name)):
                os.rmdir(os.path.join(index_dir, name))
    return deleted


def write_index_batch(
    spark: SparkSession,
    index_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 8,
    block_size: int = 128,
    blocks_per_bucket: int = 16,
) -> None:
    """Fold one micro-batch into the committed index (module-level so
    the crash-replay paths are unit-testable; the stream's foreachBatch
    is a thin wrapper)."""
    ptr = os.path.join(index_dir, _POINTER)
    if os.path.exists(ptr):
        with open(ptr) as f:
            if f.read().strip() == str(batch_id):
                # crash landed between _commit_generation and the
                # streaming checkpoint commit: the generation is
                # already live — rewriting its directories would
                # tear them under readers (r6 ADVICE). Replay is a
                # no-op (the commit is the fixpoint).
                return
    if batch_df.isEmpty():
        return
    prev = _read_manifest(index_dir)
    old = (
        None
        if not prev
        else spark.read.parquet(
            *[os.path.join(index_dir, p) for p in prev.values()]
        )
    )
    if old is None:
        merged = index_export(
            batch_df, id_col=id_col, text_col=text_col,
            n_shards=n_shards, block_size=block_size,
        )
    else:
        # old is a fresh immutable parquet read — re-checkpointing
        # the WHOLE committed index every batch would make batch
        # cost scale with index size (review finding; index_merge
        # documents this exact escape hatch)
        merged = index_merge(
            old, batch_df, id_col=id_col, text_col=text_col,
            n_shards=n_shards, block_size=block_size,
            materialize_old=False,
        )
    # buckets the delta can have touched: its doc ids' block ranges
    # (index_merge only changes blocks in these ranges — everything
    # else is inherited by manifest, not rewritten)
    touched = {
        int(r.pb)
        for r in batch_df.select(
            F.expr(
                f"(({id_col} div {int(block_size)}) div"
                f" {int(blocks_per_bucket)})"
            ).alias("pb")
        )
        .distinct()
        .collect()
    }
    # bounded: |touched| <= distinct doc-ranges of ONE micro-batch.
    # Materialize the merge ONCE — each touched bucket filters the
    # checkpointed result instead of re-running the merge plan.
    merged = merged.withColumn(
        "pb", F.expr(f"(block_id div {int(blocks_per_bucket)})")
    ).localCheckpoint(eager=True)
    # replay hygiene: never reuse a generation directory that
    # already exists on disk (a previous attempt may have written
    # partial buckets, and a reader may hold any existing dir) —
    # fresh suffix per attempt, commit re-points atomically
    gen_name = f"gen={batch_id}"
    attempt = 0
    while os.path.exists(os.path.join(index_dir, gen_name)):
        attempt += 1
        gen_name = f"gen={batch_id}r{attempt}"
    manifest = dict(prev) if prev else {}
    for pb in sorted(touched):
        rel = f"{gen_name}/pb={pb}"
        sub = merged.filter(F.col("pb") == pb).drop("pb")
        if sub.isEmpty():
            # a re-crawl purged the whole bucket: drop it from the
            # manifest (an empty parquet dir is unreadable)
            manifest.pop(str(pb), None)
            continue
        sub.write.mode("overwrite").parquet(
            os.path.join(index_dir, rel)
        )
        manifest[str(pb)] = rel
    _commit_generation(index_dir, batch_id, manifest)


def start_index_maintenance_stream(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    schema: str = "doc_id long, text string",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 8,
    block_size: int = 128,
    blocks_per_bucket: int = 16,
    available_now: bool = True,
):
    """Tail ``input_dir`` for document parquet files and keep the
    committed index under ``index_dir`` current. Returns the started
    StreamingQuery; availableNow=True drains the backlog and stops."""
    if "://" in index_dir:
        raise ValueError(
            "index_dir must be a local/POSIX path: the manifest and "
            "_CURRENT pointer use atomic rename, which object-store "
            "URIs cannot honor — wire a conditional-put manifest "
            "before pointing this at s3a/hdfs (module docstring)"
        )
    os.makedirs(index_dir, exist_ok=True)
    stream = spark.readStream.schema(schema).parquet(input_dir)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_index_batch(
            spark, index_dir, batch_df, batch_id,
            id_col=id_col, text_col=text_col, n_shards=n_shards,
            block_size=block_size, blocks_per_bucket=blocks_per_bucket,
        )

    writer = (
        stream.writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
