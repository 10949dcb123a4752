"""Streaming index maintenance == batch full rebuild (stream parity).

Drains a file stream in per-file micro-batches (one file landed per
availableNow drain, same checkpoint) through
streaming/index_stream.py and compares the committed generation
against index_export over the union — including a second run whose
delta RE-CRAWLS existing ids (changed text must replace old postings,
the index_merge invariant, here pinned end-to-end through the stream).
"""

import os
import shutil
import tempfile

import pytest

from navigator_document_parser_spark.operators.search import index_export
from navigator_document_parser_spark.streaming.index_stream import (
    read_current_index,
    start_index_maintenance_stream,
)


def _canon(df):
    return sorted(
        (r.shard, r.term, r.block_id, r.block_df, list(r.postings))
        for r in df.collect()
    )


def _write_docs(spark, path, rows):
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("append").parquet(path)


@pytest.fixture()
def dirs():
    base = tempfile.mkdtemp(prefix="ndps-idxstream-")
    yield (base + "/in", base + "/index", base + "/ckpt")
    shutil.rmtree(base, ignore_errors=True)


def _drain(spark, in_dir, index_dir, ckpt, **kw):
    """Process every landed file not yet in the checkpoint, then stop."""
    opts = {"n_shards": 4, "block_size": 8, **kw}
    q = start_index_maintenance_stream(
        spark, in_dir, index_dir, ckpt, **opts
    )
    q.awaitTermination(120)


def test_index_stream_matches_batch_rebuild(spark, dirs):
    in_dir, index_dir, ckpt = dirs
    batches = [
        [(i, f"alpha beta doc{i} common") for i in range(0, 10)],
        [(i, f"gamma delta doc{i} common") for i in range(10, 20)],
        [(i, f"epsilon doc{i} common") for i in range(20, 30)],
    ]
    for rows in batches:  # one file per micro-batch
        _write_docs(spark, in_dir, rows)
        _drain(spark, in_dir, index_dir, ckpt)

    committed = read_current_index(spark, index_dir)
    assert committed is not None
    all_docs = spark.createDataFrame(
        [r for rows in batches for r in rows], "doc_id long, text string"
    )
    want = index_export(all_docs, n_shards=4, block_size=8)
    assert _canon(committed) == _canon(want)


def test_index_stream_recrawl_replaces_postings(spark, dirs):
    in_dir, index_dir, ckpt = dirs
    first = [(i, f"original text doc{i}") for i in range(12)]
    _write_docs(spark, in_dir, first)
    _drain(spark, in_dir, index_dir, ckpt)

    # second run: the stream resumes from its checkpoint and only the
    # delta is processed; ids 3..8 are re-crawled with CHANGED text
    recrawl = [(i, f"revised words doc{i}") for i in range(3, 9)]
    _write_docs(spark, in_dir, recrawl)
    _drain(spark, in_dir, index_dir, ckpt)

    committed = read_current_index(spark, index_dir)
    final_docs = {i: t for i, t in first}
    final_docs.update({i: t for i, t in recrawl})
    want = index_export(
        spark.createDataFrame(
            sorted(final_docs.items()), "doc_id long, text string"
        ),
        n_shards=4, block_size=8,
    )
    assert _canon(committed) == _canon(want)
    # 'original' must be fully purged from the re-crawled doc range
    purged = committed.filter(
        "term = 'original' and block_id = 0"
    ).collect()
    # block 0 covers ids 0..7; originals remain only for 0,1,2
    assert [list(r.postings) for r in purged] == [[0, 1, 1]]


def test_index_stream_empty_input_never_commits(spark, dirs):
    in_dir, index_dir, ckpt = dirs
    os.makedirs(in_dir, exist_ok=True)
    q = start_index_maintenance_stream(
        spark, in_dir, index_dir, ckpt, n_shards=4, block_size=8,
    )
    q.awaitTermination(60)
    assert read_current_index(spark, index_dir) is None


def test_index_stream_inherits_untouched_buckets(spark, dirs):
    """A generation must REWRITE only the buckets its delta touched and
    inherit everything else by manifest — the file-level incrementality
    claim itself."""
    from navigator_document_parser_spark.streaming.index_stream import (
        _read_manifest,
    )

    in_dir, index_dir, ckpt = dirs
    small = {"n_shards": 2, "block_size": 4, "blocks_per_bucket": 1}
    _write_docs(spark, in_dir, [(i, f"aa bb doc{i}") for i in range(8)])
    _drain(spark, in_dir, index_dir, ckpt, **small)
    _write_docs(spark, in_dir, [(i, f"cc doc{i}") for i in range(8, 12)])
    _drain(spark, in_dir, index_dir, ckpt, **small)

    manifest = _read_manifest(index_dir)
    # batch 0 wrote buckets 0 (docs 0-3) and 1 (docs 4-7); batch 1
    # touched only bucket 2 (docs 8-11) -> 0 and 1 are INHERITED
    assert manifest["0"] == "gen=0/pb=0"
    assert manifest["1"] == "gen=0/pb=1"
    assert manifest["2"].startswith("gen=") and manifest["2"].endswith("pb=2")
    assert not manifest["2"].startswith("gen=0")

    committed = read_current_index(spark, index_dir)
    want = index_export(
        spark.createDataFrame(
            [(i, f"aa bb doc{i}") for i in range(8)]
            + [(i, f"cc doc{i}") for i in range(8, 12)],
            "doc_id long, text string",
        ),
        n_shards=2, block_size=4,
    )
    assert _canon(committed) == _canon(want)


def test_index_stream_purged_bucket_leaves_manifest(spark, dirs):
    """Re-crawling every doc of a bucket with empty text must purge the
    bucket from the manifest (not leave an unreadable empty dir)."""
    from navigator_document_parser_spark.streaming.index_stream import (
        _read_manifest,
    )

    in_dir, index_dir, ckpt = dirs
    small = {"n_shards": 2, "block_size": 4, "blocks_per_bucket": 1}
    _write_docs(spark, in_dir, [(i, f"xx doc{i}") for i in range(8)])
    _drain(spark, in_dir, index_dir, ckpt, **small)
    assert set(_read_manifest(index_dir)) == {"0", "1"}

    _write_docs(spark, in_dir, [(i, "") for i in range(4)])  # empty re-crawl
    _drain(spark, in_dir, index_dir, ckpt, **small)
    manifest = _read_manifest(index_dir)
    assert set(manifest) == {"1"}  # bucket 0 fully purged
    committed = read_current_index(spark, index_dir)
    want = index_export(
        spark.createDataFrame(
            [(i, "") for i in range(4)]
            + [(i, f"xx doc{i}") for i in range(4, 8)],
            "doc_id long, text string",
        ),
        n_shards=2, block_size=4,
    )
    assert _canon(committed) == _canon(want)


def test_index_stream_vacuum_and_uri_guard(spark, dirs):
    from navigator_document_parser_spark.streaming.index_stream import (
        _read_manifest,
        vacuum_generations,
    )

    in_dir, index_dir, ckpt = dirs
    small = {"n_shards": 2, "block_size": 4, "blocks_per_bucket": 1}
    _write_docs(spark, in_dir, [(i, f"vv doc{i}") for i in range(4)])
    _drain(spark, in_dir, index_dir, ckpt, **small)
    _write_docs(spark, in_dir, [(i, f"ww doc{i}") for i in range(4)])
    _drain(spark, in_dir, index_dir, ckpt, **small)
    before = read_current_index(spark, index_dir)
    want = _canon(before)

    deleted = vacuum_generations(index_dir)
    # batch 1 rewrote bucket 0 -> gen=0's copy and manifest_0 expire
    assert any(d.startswith("gen=0") for d in deleted)
    assert "manifest_0.json" in deleted
    assert _canon(read_current_index(spark, index_dir)) == want
    assert vacuum_generations(index_dir) == []  # idempotent

    with pytest.raises(ValueError):
        start_index_maintenance_stream(
            spark, in_dir, "s3a://bucket/index", ckpt)


def test_index_maintain_cli_end_to_end(spark, dirs):
    import jobs.index_maintain as J

    in_dir, index_dir, ckpt = dirs
    _write_docs(spark, in_dir, [(i, f"cli doc{i}") for i in range(8)])
    J.main(["--input", in_dir, "--index", index_dir,
            "--checkpoint", ckpt, "--n-shards", "2",
            "--block-size", "4", "--timeout", "120", "--vacuum"])
    committed = read_current_index(spark, index_dir)
    want = index_export(
        spark.createDataFrame([(i, f"cli doc{i}") for i in range(8)],
                              "doc_id long, text string"),
        n_shards=2, block_size=4)
    assert _canon(committed) == _canon(want)


# ---------------------------------------------------------------------------
# crash-replay hygiene (r6 ADVICE): replays never touch live directories
# ---------------------------------------------------------------------------

from navigator_document_parser_spark.streaming.index_stream import (  # noqa: E402
    write_index_batch,
)


def test_replay_of_committed_batch_is_a_noop(spark, dirs):
    """Crash AFTER _commit_generation but BEFORE the streaming
    checkpoint commit: _CURRENT already names the batch — the replay
    must not rewrite (tear) the live directories."""
    _, index_dir, _ = dirs
    os.makedirs(index_dir, exist_ok=True)
    docs = spark.createDataFrame(
        [(i, f"alpha doc{i}") for i in range(10)],
        "doc_id long, text string",
    )
    write_index_batch(spark, index_dir, docs, batch_id=0,
                      n_shards=4, block_size=8)
    before = _canon(read_current_index(spark, index_dir))
    mtimes = {
        p: os.path.getmtime(os.path.join(index_dir, p))
        for p in os.listdir(index_dir)
    }
    # replay the SAME batch id (what foreachBatch does after that crash)
    write_index_batch(spark, index_dir, docs, batch_id=0,
                      n_shards=4, block_size=8)
    after = _canon(read_current_index(spark, index_dir))
    assert after == before
    assert {
        p: os.path.getmtime(os.path.join(index_dir, p))
        for p in os.listdir(index_dir)
    } == mtimes  # nothing rewritten, nothing new


def test_replay_after_partial_write_uses_fresh_suffix(spark, dirs):
    """Crash MID-WRITE (gen dir exists, pointer not yet moved): the
    replay must write to gen=<id>r1 and commit, leaving the partial
    gen=<id> directory untouched on disk (vacuum's job later)."""
    _, index_dir, _ = dirs
    os.makedirs(index_dir, exist_ok=True)
    base = spark.createDataFrame(
        [(i, f"alpha doc{i}") for i in range(10)],
        "doc_id long, text string",
    )
    write_index_batch(spark, index_dir, base, batch_id=0,
                      n_shards=4, block_size=8)
    # simulate batch 1 crashing mid-write: a partial bucket exists but
    # _CURRENT still points at generation 0
    partial = os.path.join(index_dir, "gen=1", "pb=0")
    os.makedirs(partial)
    with open(os.path.join(partial, "part-garbage.tmp"), "w") as f:
        f.write("torn")
    delta = spark.createDataFrame(
        [(i, f"beta doc{i}") for i in range(10, 20)],
        "doc_id long, text string",
    )
    write_index_batch(spark, index_dir, delta, batch_id=1,
                      n_shards=4, block_size=8)
    with open(os.path.join(index_dir, "_CURRENT")) as f:
        assert f.read().strip() == "1"
    import json as _json
    with open(os.path.join(index_dir, "manifest_1.json")) as f:
        manifest = _json.load(f)
    # the committed generation lives under the fresh r1 suffix...
    assert any(v.startswith("gen=1r1/") for v in manifest.values())
    assert not any(v == "gen=1/pb=0" for v in manifest.values())
    # ...and the torn partial is still on disk, untouched
    assert os.path.exists(os.path.join(partial, "part-garbage.tmp"))
    # the committed index is readable and contains both batches
    got = read_current_index(spark, index_dir)
    expect = index_export(base.unionByName(delta),
                          n_shards=4, block_size=8)
    assert _canon(got) == _canon(expect)
    # vacuum removes the torn directory once nothing references it
    from navigator_document_parser_spark.streaming.index_stream import (
        vacuum_generations,
    )
    deleted = vacuum_generations(index_dir)
    assert "gen=1/pb=0" in deleted
    assert _canon(read_current_index(spark, index_dir)) == _canon(expect)
