"""Operator tests: Spark result vs DuckDB oracle on the driver testdata.

These pre-validate exactly the contract the driver's CORRECTNESS check
runs: same parquet inputs, Spark DataFrame vs ANSI SQL, compared after
column-name-aligned sorting.
"""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["documents", "embeddings", "events", "lineitem", "orders", "customer"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def load(spark, name):
    return spark.read.parquet(f"{SF_DIR}/{name}.parquet")


def compare(spark_df, duck_df: pd.DataFrame, sort_cols, float_cols=()):
    s = spark_df.toPandas()
    d = duck_df
    assert sorted(s.columns) == sorted(d.columns), (s.columns, d.columns)
    s = s[sorted(s.columns)].sort_values(sort_cols).reset_index(drop=True)
    d = d[sorted(d.columns)].sort_values(sort_cols).reset_index(drop=True)
    assert len(s) == len(d), f"row count {len(s)} vs {len(d)}"
    for c in s.columns:
        if c in float_cols:
            pd.testing.assert_series_equal(
                s[c].astype(float), d[c].astype(float),
                check_exact=False, rtol=1e-6, atol=1e-6, check_names=False,
            )
        else:
            assert s[c].astype(str).tolist() == d[c].astype(str).tolist(), c


# ---------------------------------------------------------------------------
# text metrics
# ---------------------------------------------------------------------------

def test_text_metrics_vs_oracle(spark, ddb):
    from navigator_document_parser_spark.operators import text as T

    docs = load(spark, "documents")
    got = docs.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        T.punct_count(F.col("text")).cast("bigint").alias("n_punct"),
        T.quality_score(F.col("text")).alias("quality"),
        T.lang_guess(F.col("text")).alias("lang_guess"),
        T.fingerprint(F.col("text")).alias("fp"),
    )
    oracle = ddb.sql(f"""
        SELECT doc_id,
               {T.oracle_token_count('text')} AS n_tokens,
               {T.oracle_punct_count('text')} AS n_punct,
               {T.oracle_quality('text')} AS quality,
               {T.oracle_lang_guess('text')} AS lang_guess,
               {T.oracle_fingerprint('text')} AS fp
        FROM documents
    """).df()
    compare(got, oracle, ["doc_id"], float_cols={"quality"})


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def test_exact_dup_groups_vs_oracle(spark, ddb):
    from navigator_document_parser_spark.operators.dedup import exact_dup_groups

    got = exact_dup_groups(load(spark, "documents"))
    oracle = ddb.sql("""
        SELECT md5(text) AS fp, COUNT(*) AS n_copies, MIN(doc_id) AS keeper_id
        FROM documents GROUP BY md5(text)
    """).df()
    compare(got, oracle, ["fp"])


def test_minhash_signature_vs_oracle(spark, ddb):
    from navigator_document_parser_spark.operators.dedup import minhash_signature

    got = (
        load(spark, "documents")
        .select(
            "doc_id",
            F.concat_ws("|", minhash_signature(F.col("text"), 4)).alias("sig"),
        )
    )
    # identical shingle + md5-min formulation in DuckDB
    oracle = ddb.sql("""
        WITH toks AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\\s+') AS t
          FROM documents
        ), sh AS (
          SELECT doc_id,
                 CASE WHEN length(t) < 3 THEN []
                 ELSE list_distinct(list_transform(
                    generate_series(1, length(t) - 2),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS s
          FROM toks
        )
        SELECT doc_id,
               concat_ws('|',
                 list_aggregate(list_transform(s, x -> md5('0:' || x)), 'min'),
                 list_aggregate(list_transform(s, x -> md5('1:' || x)), 'min'),
                 list_aggregate(list_transform(s, x -> md5('2:' || x)), 'min'),
                 list_aggregate(list_transform(s, x -> md5('3:' || x)), 'min')
               ) AS sig
        FROM sh
    """).df()
    compare(got, oracle, ["doc_id"])


def test_simhash_vs_oracle(spark, ddb):
    from navigator_document_parser_spark.operators.dedup import simhash

    got = simhash(load(spark, "documents"))
    bit_sums = ", ".join(
        f"SUM(CASE WHEN (h // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(16)
    )
    sig = " + ".join(
        f"(CASE WHEN s{b} >= 0 THEN {1 << b} ELSE 0 END)" for b in range(16)
    )
    oracle = ddb.sql(f"""
        WITH toks AS (
          SELECT doc_id, unnest(list_distinct(
                   string_split_regex(trim(lower(text)), '\\s+'))) AS tok
          FROM documents
        ), hashed AS (
          SELECT doc_id,
                 CAST('0x' || substring(md5(tok), 1, 4) AS BIGINT) AS h
          FROM toks WHERE length(tok) > 0
        ), agg AS (
          SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id
        )
        SELECT d.doc_id, COALESCE(({sig}), 0) AS simhash
        FROM (SELECT DISTINCT doc_id FROM documents) d
        LEFT JOIN agg USING (doc_id)
    """).df()
    compare(got, oracle, ["doc_id"])


def test_ngram_jaccard_pairs_vs_oracle(spark, ddb):
    from navigator_document_parser_spark.operators.dedup import ngram_jaccard_pairs

    got = ngram_jaccard_pairs(
        load(spark, "documents"), threshold=0.1, length_band=64
    )
    oracle = ddb.sql("""
        WITH sh AS (
          SELECT doc_id, lang, length(text) // 64 AS lb,
                 (WITH t AS (SELECT string_split_regex(trim(lower(text)), '\\s+') AS t)
                  SELECT CASE WHEN length(t) < 3 THEN []
                  ELSE list_distinct(list_transform(generate_series(1, length(t)-2),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END FROM t) AS s
          FROM documents
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(CASE WHEN length(list_distinct(list_concat(a.s, b.s))) = 0
                 THEN 0.0
                 ELSE length(list_intersect(a.s, b.s)) * 1.0
                      / length(list_distinct(list_concat(a.s, b.s))) END, 4)
               AS jaccard_sim
        FROM sh a JOIN sh b
          ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
        WHERE round(CASE WHEN length(list_distinct(list_concat(a.s, b.s))) = 0
                 THEN 0.0
                 ELSE length(list_intersect(a.s, b.s)) * 1.0
                      / length(list_distinct(list_concat(a.s, b.s))) END, 4) >= 0.1
    """).df()
    compare(got, oracle, ["id_a", "id_b"], float_cols={"jaccard_sim"})


def test_minhash_dedup_sanity(spark):
    """MinHash pipeline: identical texts always collide; verified pairs
    carry jaccard 1.0."""
    from navigator_document_parser_spark.operators.dedup import minhash_dedup_pairs

    data = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "a completely different document about spark pipelines"),
        ],
        "doc_id long, text string",
    )
    pairs = minhash_dedup_pairs(data, threshold=0.7).collect()
    assert len(pairs) == 1
    assert (pairs[0]["id_a"], pairs[0]["id_b"]) == (1, 2)
    assert pairs[0]["jaccard_sim"] == 1.0


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------

def test_knn_bruteforce_vs_oracle(spark, ddb):
    from navigator_document_parser_spark.operators.similarity import knn_bruteforce

    emb = load(spark, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = knn_bruteforce(emb, queries, k=5)
    oracle = ddb.sql("""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
                   FROM embeddings WHERE vec_id < 5),
        scored AS (
          SELECT q.query_id, e.vec_id,
                 round(list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]),
                   CAST(q.qvec AS DOUBLE[])), 4) AS sim
          FROM embeddings e CROSS JOIN q
          WHERE e.vec_id <> q.query_id
        )
        SELECT query_id, vec_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, vec_id ASC) AS rank
        FROM scored
        QUALIFY rank <= 5
    """).df()
    compare(got, oracle, ["query_id", "rank"], float_cols={"sim"})


def test_knn_lsh_recall_vs_bruteforce(spark):
    from navigator_document_parser_spark.operators.similarity import (
        knn_bruteforce,
        knn_lsh,
    )

    emb = load(spark, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in knn_bruteforce(emb, queries, k=3).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in knn_lsh(
            emb, queries, dim=dim, k=3, n_planes=4, n_tables=6
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH recall unreasonably low: {recall}"


def test_bpe_token_count_vs_whitespace(spark):
    """BPE-ish pre-tokens exceed whitespace tokens on punctuated /
    contracted / code-ish text (the reason the estimator exists)."""
    from navigator_document_parser_spark.operators.text import (
        bpe_token_count,
        token_count,
    )

    df = spark.createDataFrame(
        [
            (1, "plain words only here"),
            (2, "it's a well-known fact: tokenizers don't split on spaces!"),
            (3, "x=42; y+=3.14 // compute"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: (r["ws"], r["bpe"])
        for r in df.select(
            "doc_id",
            token_count(F.col("text")).alias("ws"),
            bpe_token_count(F.col("text")).alias("bpe"),
        ).collect()
    }
    assert rows[1] == (4, 4)  # clean prose: identical
    ws2, bpe2 = rows[2]
    assert ws2 == 9 and bpe2 == 15  # contractions/punct split out
    ws3, bpe3 = rows[3]
    assert bpe3 > ws3  # code-ish text undershoots badly on whitespace
    assert rows[4] == (0, 0)


def test_pack_sequences_budget_bound(spark):
    """Greedy packing invariant: a pack never exceeds max_tokens by more
    than one document (sum - max_doc < budget), ids stay unique, and
    packing is deterministic."""
    from navigator_document_parser_spark.operators.text import pack_sequences

    df = spark.createDataFrame(
        [(i, " ".join(["w"] * (5 + (i * 37) % 90))) for i in range(600)],
        "doc_id long, text string",
    )
    out = pack_sequences(df, max_tokens=100, n_shards=4).toPandas()
    assert len(out) == 600 and out.doc_id.nunique() == 600
    assert out.shard.nunique() == 4
    g = out.groupby(["shard", "pack_id"]).n_tokens.agg(["sum", "max"])
    assert ((g["sum"] - g["max"]) < 100).all()
    out2 = pack_sequences(df, max_tokens=100, n_shards=4).toPandas()
    assert out.sort_values("doc_id").pack_id.tolist() == \
        out2.sort_values("doc_id").pack_id.tolist()


def test_hash_sample_deterministic_superset_and_strata(spark):
    from navigator_document_parser_spark.operators.text import hash_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "fr") for i in range(2000)],
        "doc_id long, lang string",
    )
    s_a = {r["doc_id"] for r in hash_sample(df, 0.2).collect()}
    s_b = {r["doc_id"] for r in hash_sample(df, 0.2).collect()}
    assert s_a == s_b  # re-running reselects the same docs
    s_big = {r["doc_id"] for r in hash_sample(df, 0.6).collect()}
    assert s_a <= s_big  # growing the fraction only ADDS docs
    assert 0.15 < len(s_a) / 2000 < 0.25
    # strata override: fr kept in full, en dropped entirely
    strat = hash_sample(df, 0.5, strata={"fr": 1.0, "en": 0.0})
    by_lang = {
        r["lang"]: r["n"]
        for r in strat.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert by_lang == {"fr": 1000}
    # a different salt draws an (almost surely) different sample
    s_salt = {r["doc_id"] for r in hash_sample(df, 0.2, salt="v2").collect()}
    assert s_salt != s_a


def test_gopher_quality_bands(spark):
    from navigator_document_parser_spark.operators.text import gopher_quality

    good = " ".join(
        ["the quick brown fox jumps over the lazy dog and that is fine"] * 6
    )  # 72 words, mean len ~3.9, 4+ required stopwords, no symbols
    rows = {
        r["doc_id"]: r
        for r in gopher_quality(
            spark.createDataFrame(
                [
                    (1, good),
                    (2, "too short to pass the fifty word floor"),
                    (3, " ".join(["supercalifragilistic"] * 80)),  # mean>10
                    (4, good + " " + "#" * 1 + " ..." * 30),  # symbol ratio
                    (5, " ".join(["word"] * 80)),  # no required stopwords
                    (6, ""),
                ],
                "doc_id long, text string",
            )
        ).collect()
    }
    assert rows[1]["passes"] is True
    assert rows[2]["passes"] is False and rows[2]["n_words"] < 50
    assert rows[3]["passes"] is False and rows[3]["mean_word_len"] > 10
    assert rows[4]["passes"] is False and rows[4]["symbol_ratio"] >= 0.1
    assert rows[5]["passes"] is False and rows[5]["stop_hits"] == 0
    assert rows[6]["passes"] is False and rows[6]["n_words"] == 0


def test_decontaminate_flags_known_overlap(spark):
    from navigator_document_parser_spark.operators.text import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated sentence about maritime law"),
            (3, "short"),  # no 3-grams at all
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "we saw the quick brown fox yesterday evening")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_hits"], r["contaminated"])
        for r in decontaminate(corpus, bench).collect()
    }
    # shared 3-grams: 'the quick brown', 'quick brown fox'
    assert got[1] == (2, True)
    assert got[2] == (0, False)
    assert got[3] == (0, False)  # shingle-less docs stay in the spine


def test_pii_scrub_redacts_and_counts(spark):
    from navigator_document_parser_spark.operators.text import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "reach me at jane.doe+x@sub.example.co.uk or +44 555 0199."),
            (2, "no pii here, just text about emissions @ large"),
            (3, "two mails: a@b.io c.d@e-f.org and +1 202 5550 extra"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert rows[1]["n_emails"] == 1 and rows[1]["n_phones"] == 1
    assert "<EMAIL>" in rows[1]["scrubbed"]
    assert "<PHONE>" in rows[1]["scrubbed"]
    assert "jane.doe" not in rows[1]["scrubbed"]
    assert rows[2]["n_emails"] == 0 and rows[2]["n_phones"] == 0
    assert rows[2]["scrubbed"].startswith("no pii here")
    assert rows[3]["n_emails"] == 2 and rows[3]["n_phones"] == 1


def test_simhash64_single_token_matches_md5_prefix(spark):
    """A one-token doc's 64-bit signature IS the token's 64-bit hash
    (every bit vote is +1/-1 from a single token), pinning the two-half
    conv() assembly against Python's md5."""
    import hashlib

    from navigator_document_parser_spark.operators.dedup import simhash

    data = spark.createDataFrame(
        [(1, "alpha"), (2, "zebra")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["simhash"] & ((1 << 64) - 1)
        for r in simhash(data, bits=64).collect()
    }
    for doc_id, tok in [(1, "alpha"), (2, "zebra")]:
        expect = int(hashlib.md5(tok.encode()).hexdigest()[:16], 16)
        assert got[doc_id] == expect, (doc_id, hex(got[doc_id]), hex(expect))


def test_simhash64_near_pairs_exact_recall_and_precision(spark):
    """64-bit pigeonhole blocking finds EXACTLY the pairs within
    max_hamming (recall by the pigeonhole theorem, precision by the true
    bit_count filter) — verified against a driver-side brute force."""
    from navigator_document_parser_spark.operators.dedup import (
        simhash,
        simhash_near_pairs,
    )

    base = (
        "climate adaptation funding requires coordinated national policy "
        "and local implementation across sectors with measurable targets"
    )
    rows = []
    for i in range(30):
        words = base.split()
        # perturb a couple of words deterministically: clusters of docs
        # a few bits apart plus unrelated far docs
        if i % 3 == 1:
            words[i % len(words)] = f"var{i}"
        if i % 3 == 2:
            words = [f"w{i}x{j}" for j in range(12)]
        rows.append((i, " ".join(words)))
    data = spark.createDataFrame(rows, "doc_id long, text string")

    max_h = 3
    sigs = {
        r["doc_id"]: r["simhash"] & ((1 << 64) - 1)
        for r in simhash(data, bits=64).collect()
    }
    expect = {
        (a, b)
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= max_h
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_pairs(data, max_hamming=max_h, bits=64).collect()
    }
    assert expect, "fixture must contain at least one near pair"
    assert got == expect, (sorted(got), sorted(expect))


def test_knn_lsh_plan_is_one_scan_one_hash_join(spark):
    """Candidate generation must be ONE broadcast-hash EQUI-join on
    (tbl, bkt) over ONE corpus scan: an OR-of-buckets predicate degrades
    to BroadcastNestedLoopJoin (O(N*Q) — brute force in disguise), and
    the r2 union-of-branches shape paid one corpus scan + plan per
    table. The exploded table-id array is a LITERAL, so the generate
    guard never re-evaluates the bucket folds."""
    from navigator_document_parser_spark.operators.similarity import knn_lsh

    emb = load(spark, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    df = knn_lsh(emb, queries, dim=dim, k=3, n_planes=4, n_tables=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert plan.count("BroadcastHashJoin") == 1
    # one corpus-side parquet scan total (the query side here derives
    # from the same table, hence <= 2 scans in the whole plan)
    assert plan.count("FileScan parquet") <= 2
    # dedup + rank share one exchange on query_id: no extra shuffle on
    # (query_id, vec_id) from a dropDuplicates
    assert "Exchange hashpartitioning(query_id" in plan
    assert plan.count("Exchange hashpartitioning(query_id#") <= 1


def test_knn_ivf_assignment_is_shuffle_free(spark):
    """Cell assignment must be a pure projection (vectorized matmul), not
    a crossJoin + window: the only exchanges in the search plan are the
    final top-k window (and AQE reads), never an N*C ranking shuffle."""
    from navigator_document_parser_spark.operators.similarity import (
        ivf_train_sampled,
        knn_ivf,
    )

    emb = load(spark, "embeddings")
    cents = ivf_train_sampled(emb, n_centroids=4)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    df = knn_ivf(emb, queries, cents, k=3, n_probe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # exactly one hash-partitioned exchange: the per-query top-k window
    assert plan.count("Exchange hashpartitioning") <= 1, plan[:2000]


def test_quantize_embeddings_roundtrip_error_bound(spark):
    """Dequantized vectors (q * scale) differ per coordinate by at most
    scale/2; the max-|coordinate| quantizes to exactly ±127; zero
    vectors get scale 0 and all-zero codes."""
    from navigator_document_parser_spark.operators.similarity import (
        quantize_embeddings,
    )

    emb = load(spark, "embeddings").select("vec_id", "embedding").limit(
        50
    ).unionByName(
        spark.createDataFrame(
            [(999999, [0.0] * 64)],
            "vec_id long, embedding array<double>",
        ).select(
            "vec_id",
            F.col("embedding").cast("array<float>").alias("embedding"),
        )
    )
    orig = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in emb.collect()}
    rows = {r["vec_id"]: r for r in quantize_embeddings(emb).collect()}
    assert rows[999999]["scale"] == 0.0
    assert all(x == 0 for x in rows[999999]["q"])
    for vid, r in rows.items():
        if vid == 999999:
            continue
        scale, q = r["scale"], list(r["q"])
        assert max(abs(x) for x in q) == 127
        assert all(-127 <= x <= 127 for x in q)
        for o, qq in zip(orig[vid], q):
            assert abs(o - qq * scale) <= scale / 2 + 1e-9


def test_embedding_neardup_blocked(spark):
    from navigator_document_parser_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    emb = load(spark, "embeddings")
    pairs = embedding_neardup_pairs(emb, threshold=0.99)
    for r in pairs.limit(20).collect():
        assert r["id_a"] < r["id_b"]
        assert r["sim"] >= 0.99


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

def test_multimodal_features_deterministic(spark):
    from navigator_document_parser_spark.operators.multimodal import (
        extract_media_features,
        fake_features,
        synth_media,
    )

    media = synth_media(spark, 30, partitions=3)
    feats = extract_media_features(media, dim=8)
    rows = {r["media_id"]: r for r in feats.collect()}
    assert len(rows) == 30
    # schema shape
    r0 = rows[0]
    assert len(r0["features"]) == 8
    assert r0["n_bytes"] > 0 and len(r0["content_hash"]) == 32
    # determinism against the pure function
    media_local = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    for mid, r in list(rows.items())[:5]:
        expected = fake_features(media_local[mid], 8)
        assert [round(x, 5) for x in r["features"]] == [
            round(x, 5) for x in expected
        ]


def test_sample_video_frames_fanout(spark):
    from navigator_document_parser_spark.operators.multimodal import (
        sample_video_frames,
        synth_media,
    )

    media = synth_media(spark, 30, partitions=3)
    out = sample_video_frames(media, n_frames=5, frame_px=4)
    n_videos = media.filter("kind = 'video'").count()
    assert out.count() == 5 * n_videos  # exact 1->N fan-out
    one = sorted(
        (r["frame_idx"], r["frame_ts_ms"])
        for r in out.filter("media_id = 2").collect()
    )
    # evenly spaced, strictly increasing timestamps, 4x4 frames
    assert [i for i, _ in one] == [0, 1, 2, 3, 4]
    ts = [t for _, t in one]
    assert ts == sorted(ts) and len(set(ts)) == 5
    assert all(
        len(bytes(r["frame"])) == 16
        for r in out.filter("media_id = 2").collect()
    )


def test_simhash_near_pairs_detects_near_identical_docs(spark):
    from navigator_document_parser_spark.operators.dedup import (
        simhash_near_pairs,
    )

    base = ("the quick brown fox jumps over the lazy dog while the "
            "weather report mentions rain tomorrow afternoon")
    data = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra"),  # near-identical -> tiny hamming dist
            (3, "completely unrelated text about database query engines "
                "and vectorized execution plans in columnar systems"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(data, max_hamming=3).collect()
    }
    # pigeonhole blocking guarantees the near-identical pair is found;
    # 16-bit simhash is coarse, so unrelated pairs MAY also fall within
    # 3 bits — the guarantee under test is recall, not precision
    assert (1, 2) in pairs
    assert pairs[(1, 2)] == min(pairs.values())
    # tight radius keeps only the near-identical pair
    tight = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_pairs(data, max_hamming=2).collect()
    }
    assert (1, 2) in tight


def test_repetition_signals_hand_computed(spark):
    """'a b a b a b': grams 'a b'x3 + 'b a'x2, total gram chars 15 ->
    top 9/15, dup 15/15; all-distinct docs score 0 dup; <gram_n-word
    docs have no signal and are dropped."""
    from navigator_document_parser_spark.operators.text import (
        repetition_signals,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),
            (2, "a b c d e f g"),
            (3, "solo"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_signals(docs).collect()}
    assert set(rows) == {1, 2}  # doc 3: one word, no 2-gram
    r1 = rows[1]
    assert r1["top_gram"] == "a b" and r1["top_gram_count"] == 3
    assert r1["top_gram_frac"] == 0.6      # 3*3 / 15
    assert r1["dup_gram_frac"] == 1.0      # every gram repeats
    assert r1["passes"] is False
    r2 = rows[2]
    assert r2["top_gram"] == "a b" and r2["top_gram_count"] == 1
    assert r2["top_gram_frac"] == round(3 / 18, 4)
    assert r2["dup_gram_frac"] == 0.0
    assert r2["passes"] is True


def test_cap_per_group_bounds_and_determinism(spark):
    from navigator_document_parser_spark.operators.text import cap_per_group

    rows = [(i, "big") for i in range(12)]
    rows += [(100 + i, "mid") for i in range(5)]
    rows += [(200, "one")]
    docs = spark.createDataFrame(rows, "doc_id long, source string")

    out = cap_per_group(docs, group_col="source", k=3)
    got = [(r["doc_id"], r["source"], r["rank_in_group"])
           for r in out.collect()]
    by_group = {}
    for d, s, rk in got:
        by_group.setdefault(s, []).append((rk, d))
    assert len(by_group["big"]) == 3
    assert len(by_group["mid"]) == 3
    assert len(by_group["one"]) == 1
    for g in by_group.values():
        assert sorted(rk for rk, _ in g) == list(range(1, len(g) + 1))

    # deterministic: identical selection regardless of input partitioning
    again = cap_per_group(docs.repartition(7), group_col="source", k=3)
    assert sorted(got) == sorted(
        (r["doc_id"], r["source"], r["rank_in_group"])
        for r in again.collect()
    )


def test_tfidf_top_terms_hand_computed(spark):
    """2 docs: idf = (n_docs+1)/(df+1); apple only in d1 -> 2*(3/2)=3.0,
    shared 'banana' -> 1.0, cherry only in d2 -> 1.5."""
    from navigator_document_parser_spark.operators.text import (
        tfidf_top_terms,
    )

    docs = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "banana cherry")],
        "doc_id long, text string",
    )
    out = {(r["doc_id"], r["term"]): (r["tf"], r["score"], r["rank"])
           for r in tfidf_top_terms(docs, k=2).collect()}
    assert out[(1, "apple")] == (2, 3.0, 1)
    assert out[(1, "banana")] == (1, 1.0, 2)
    assert out[(2, "cherry")] == (1, 1.5, 1)
    assert out[(2, "banana")] == (1, 1.0, 2)


def test_new_curation_ops_plan_shapes(spark):
    """Pin the single-scan shapes: repetition_signals must not recompute
    the explode->count subtree per aggregate branch (window formulation),
    and tfidf's tf barrier keeps one scan; host_cap is one exchange."""
    from navigator_document_parser_spark.operators.text import (
        cap_per_group,
        repetition_signals,
        tfidf_top_terms,
    )

    docs = load(spark, "documents")

    p1 = repetition_signals(docs)._jdf.queryExecution().executedPlan().toString()
    assert p1.count("FileScan parquet") == 1
    assert p1.count("Generate") == 1  # one posexplode, not one per branch

    df2 = tfidf_top_terms(docs)
    p2 = df2._jdf.queryExecution().executedPlan().toString()
    # tf is materialized once (checkpoint barrier); the only parquet scan
    # left is the column-pruned n_docs subquery reading doc_id alone
    assert p2.count("FileScan parquet") == 1
    assert "ReadSchema: struct<doc_id:bigint>" in p2
    assert df2.count() > 0

    p3 = cap_per_group(docs)  # documents carries a real 'source' column
    plan3 = p3._jdf.queryExecution().executedPlan().toString()
    assert plan3.count("Exchange hashpartitioning") == 1


def test_selection_and_substring_plan_shapes(spark):
    """Pin the scale shapes of the round-3 selection/substring ops:
    budget_select is one exchange + one running-sum window;
    mix_rebalance broadcasts its per-group rates (corpus side stays
    shuffle-free); duplicated_spans reuses the hash(id) exchange for
    both the island window and the span aggregation (2 wide exchanges
    total: gram hash + id)."""
    from navigator_document_parser_spark.operators.dedup import (
        duplicated_spans,
    )
    from navigator_document_parser_spark.operators.selection import (
        budget_select,
        mix_rebalance,
    )

    docs = load(spark, "documents")

    p1 = budget_select(docs, token_budget=1500)
    plan1 = p1._jdf.queryExecution().executedPlan().toString()
    assert plan1.count("Exchange hashpartitioning") == 1
    assert plan1.count("Window") == 1

    p2 = mix_rebalance(docs)
    plan2 = p2._jdf.queryExecution().executedPlan().toString()
    # the corpus row side never hash-shuffles; rates arrive broadcast.
    # Both hash exchanges belong to the #groups-row counts aggregate
    # (the subtree appears twice pre-AQE; ReuseExchange collapses it at
    # runtime) — never to corpus rows.
    assert "BroadcastHashJoin" in plan2
    assert plan2.count("Exchange hashpartitioning") <= 2

    p3 = duplicated_spans(docs)
    plan3 = p3._jdf.queryExecution().executedPlan().toString()
    # dup-hash detection is an aggregate + semi-join (AQE skew-eligible),
    # never a window over the gram hash
    assert "LeftSemi" in plan3
    # exchanges: gram-hash agg/join (h) + one hash(id) reused by the
    # window AND the final (id, grp) aggregate — no third wide exchange
    n_exch = plan3.count("Exchange hashpartitioning")
    assert n_exch <= 3, plan3
    assert plan3.count("Window") == 1


def test_ml_quality_score_exact_semantics(spark):
    """Margin = mean md5-hashed integer weight / 1000; weights re-derived
    in pure Python must agree exactly (the integer-sum design is what
    keeps the oracle bit-identical)."""
    import hashlib

    from navigator_document_parser_spark.operators.text import (
        ml_quality_score,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta beta"), (2, "Gamma  gamma")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in ml_quality_score(docs).collect()}

    def w(tok):
        return int(hashlib.md5(f"q:{tok}".encode()).hexdigest()[:8], 16) % 2001 - 1000

    def r4(x):  # the engine-portable sign*floor(abs+.5) rounding
        import math
        s = (x > 0) - (x < 0)
        return s * math.floor(abs(x) * 10000.0 + 0.5) / 10000.0

    m1 = r4((w("alpha") + 2 * w("beta")) / 3000.0)
    m2 = r4(2 * w("gamma") / 2000.0)
    assert got[1]["n_tokens"] == 3 and got[1]["margin"] == m1
    assert got[2]["n_tokens"] == 2 and got[2]["margin"] == m2
    assert got[1]["keep"] == (m1 > 0.0) and got[2]["keep"] == (m2 > 0.0)


def test_duplicated_spans_hand_computed(spark):
    """Known shared 8-token run across two docs -> one maximal span each;
    a unique doc and a too-short doc produce nothing; identical docs
    report their full length."""
    from navigator_document_parser_spark.operators.dedup import (
        duplicated_spans,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        # span embedded at token offset 2 in doc 1, offset 0 in doc 2
        (1, "pre one " + shared + " post"),
        (2, shared + " trailing words here"),
        (3, "completely unique text with enough tokens to shingle ok"),
        (4, "short"),
        (5, "same same same identical document body copy here x y z"),
        (6, "same same same identical document body copy here x y z"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = (
        duplicated_spans(df, min_tokens=8)
        .orderBy("doc_id", "span_start")
        .collect()
    )
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(
            (r.span_start, r.span_end, r.span_tokens)
        )
    assert by_doc[1] == [(2, 9, 8)]
    assert by_doc[2] == [(0, 7, 8)]
    assert 3 not in by_doc and 4 not in by_doc
    # identical 11-token docs: one maximal span covering everything
    assert by_doc[5] == [(0, 10, 11)]
    assert by_doc[6] == [(0, 10, 11)]
    # invariant: every span is at least min_tokens long
    assert all(
        s[2] == s[1] - s[0] + 1 and s[2] >= 8
        for spans in by_doc.values()
        for s in spans
    )


def test_duplicated_spans_merges_overlapping_grams(spark):
    """A 12-token shared run must come back as ONE span of 12, not five
    8-gram fragments (gaps-and-islands merge)."""
    from navigator_document_parser_spark.operators.dedup import (
        duplicated_spans,
    )

    run = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    df = spark.createDataFrame(
        [(1, "lead " + run), (2, run + " tail1 tail2")],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: (r.span_start, r.span_end, r.span_tokens)
        for r in duplicated_spans(df, min_tokens=8).collect()
    }
    assert out == {1: (1, 12, 12), 2: (0, 11, 12)}


def test_budget_select_greedy_cut_semantics(spark):
    """Kept iff tokens accumulated before the doc are under the budget:
    best-quality docs first, overrun bounded by one document, non-empty
    whenever the group is."""
    from navigator_document_parser_spark.operators.selection import (
        budget_select,
    )
    from navigator_document_parser_spark.operators.text import (
        bpe_token_count,
        quality_score,
    )

    rows = [
        # lang A: three docs with strictly decreasing quality (longer
        # text => higher quality here; no punctuation)
        (1, " ".join(["w"] * 60), "A"),
        (2, " ".join(["w"] * 40), "A"),
        (3, " ".join(["w"] * 20), "A"),
        # lang B: one tiny doc — budget must still keep it
        (4, "solo doc", "B"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    # budget 70: doc1 (60 tokens, cum_before 0) kept; doc2 (cum_before
    # 60 < 70) kept, overrunning to 100; doc3 (cum_before 100) dropped.
    out = {
        r.doc_id: r
        for r in budget_select(df, token_budget=70).collect()
    }
    assert set(out) == {1, 2, 4}
    assert out[1].cum_tokens == 60 and out[2].cum_tokens == 100
    assert out[4].cum_tokens == 2
    # quality/n_tokens columns agree with the shared primitives
    prims = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            quality_score(F.col("text")).alias("q"),
            bpe_token_count(F.col("text")).alias("t"),
        ).collect()
    }
    for i, r in out.items():
        assert r.quality == prims[i].q and r.n_tokens == prims[i].t


def test_mix_rebalance_uniform_mix_properties(spark):
    """The smallest group survives whole (rate 1.0); larger groups thin
    toward its size; the rule is replayable (two runs identical)."""
    from navigator_document_parser_spark.operators.selection import (
        mix_rebalance,
    )

    rows = [(i, f"text {i}", "big" if i < 80 else "small")
            for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = mix_rebalance(df).toPandas()
    small = out[out.lang == "small"]
    big = out[out.lang == "big"]
    # rate for the smallest group is exactly 1.0 -> all 20 rows kept
    assert len(small) == 20 and (small.keep_rate == 1.0).all()
    assert (big.keep_rate == 0.25).all()
    # Bernoulli thinning: strictly fewer than the original 80, and the
    # kept set is a deterministic function of doc_id (replayable)
    assert 0 < len(big) < 80
    again = mix_rebalance(df).toPandas()
    assert sorted(out.doc_id) == sorted(again.doc_id)


def test_keyword_search_conjunctive_ranking(spark):
    """AND semantics: a doc matches only if EVERY distinct query term
    occurs; ranking = integer idf-weighted tf sum, doc_id tie-break."""
    from navigator_document_parser_spark.operators.search import (
        keyword_search,
    )

    rows = [
        (0, "hash join hash join hash"),   # hash tf=3, join tf=2
        (1, "hash join"),                  # both tf=1
        (2, "hash hash hash hash"),        # missing 'join' -> no match
        (3, "join scan filter"),           # missing 'hash' -> no match
        (4, "scan scan"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = keyword_search(df, [(7, ["hash", "join"])], k=10).toPandas()
    assert list(out.query_id.unique()) == [7]
    assert list(out.doc_id) == [0, 1]          # ranked by score desc
    assert list(out["rank"]) == [1, 2]
    # weights: n_docs=5; df(hash)=3 -> w=1666, df(join)=3 -> w=1666
    assert list(out.score) == [5 * 1666, 2 * 1666]
    assert list(out.sum_tf) == [5, 2]


def test_keyword_search_topk_and_tiebreak(spark):
    from navigator_document_parser_spark.operators.search import (
        keyword_search,
    )

    # 6 docs all with tf=1 for 'scan': ranking falls back to doc_id asc
    rows = [(i, "scan other words") for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = keyword_search(df, [(1, ["scan"])], k=4).toPandas()
    assert list(out.doc_id) == [0, 1, 2, 3]
    assert list(out["rank"]) == [1, 2, 3, 4]


def test_search_null_doc_id_matches_oracles(spark):
    """A NULL doc_id row is no document: keyword and bm25 drop it on
    input (it adds to no statistic and is never a hit), and in the other
    rankings, where it ties on score, it ranks after every real doc_id,
    as in DuckDB. Covers every ranking with a doc_id tie-break: keyword,
    bm25, boolean, hybrid RRF and search_eval's ideal ranking."""
    from navigator_document_parser_spark.operators.search import (
        bm25_search,
        boolean_search,
        hybrid_search_rrf,
        keyword_search,
        oracle_bm25_search,
        oracle_boolean_search,
        oracle_hybrid_search_rrf,
        oracle_keyword_search,
        oracle_search_eval,
        search_eval,
    )

    rows = [
        (1, "hash join scan"),
        (2, "hash scan"),
        (3, "join filter"),
        (4, "window agg"),
        (None, "hash join"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({'NULL' if d is None else d}, '{t}')" for d, t in rows
        )
        + ") t(doc_id, text)"
    )
    queries = [(1, ["hash"]), (2, ["hash", "join"]), (3, ["join"])]
    kw = keyword_search(df, queries, k=10)
    bm = bm25_search(df, queries, k=10)
    compare(
        kw,
        con.sql(oracle_keyword_search(queries, k=10)).df(),
        ["query_id", "rank"],
    )
    compare(
        bm,
        con.sql(oracle_bm25_search(queries, k=10)).df(),
        ["query_id", "rank"],
        float_cols=("score",),
    )
    # one rule for both: the NULL-doc_id row is never a hit, so on the
    # single-term queries (where AND and OR match alike) the conjunctive
    # and the BM25 ranking return the same documents
    def hits_of(ranked):
        out: dict = {}
        for r in ranked.collect():
            out.setdefault(r["query_id"], set()).add(r["doc_id"])
        return out

    kw_hits, bm_hits = hits_of(kw), hits_of(bm)
    assert all(None not in h for h in (*kw_hits.values(), *bm_hits.values()))
    assert kw_hits[1] == bm_hits[1] == {1, 2}
    assert kw_hits[3] == bm_hits[3] == {1, 3}
    # "hash" ties at tf 1 in docs 1, 2 and the NULL row: the NULL row
    # ranks last, as in the oracle
    bool_queries = [(1, ["hash"], [], []), (2, [], ["join"], ["filter"])]
    compare(
        boolean_search(df, bool_queries, k=10),
        con.sql(oracle_boolean_search(bool_queries, k=10)).df(),
        ["query_id", "rank"],
    )
    compare(
        hybrid_search_rrf(df, queries, k=10, k_cand=10),
        con.sql(oracle_hybrid_search_rrf(queries, k=10, k_cand=10)).df(),
        ["query_id", "rank"],
        float_cols=("rrf",),
    )
    # a NULL judged doc ties on rel with a real one in the ideal ranking
    hits = [(1, 1, 1), (1, None, 2), (1, 2, 3), (2, 4, 1)]
    rels = [(1, 2, 2), (1, None, 2), (1, 1, 1), (2, 3, 1)]
    for name, rows_, cols in (
        ("hits_t", hits, "query_id, doc_id, rank"),
        ("rels_t", rels, "query_id, doc_id, rel"),
    ):
        con.execute(
            f"CREATE TABLE {name} AS SELECT * FROM (VALUES "
            + ", ".join(
                "(" + ", ".join("NULL" if v is None else str(v) for v in r)
                + ")"
                for r in rows_
            )
            + f") t({cols})"
        )
    compare(
        search_eval(
            spark.createDataFrame(
                hits, "query_id bigint, doc_id bigint, rank int"
            ),
            spark.createDataFrame(
                rels, "query_id bigint, doc_id bigint, rel int"
            ),
            k=3,
        ),
        con.sql(oracle_search_eval(
            "SELECT * FROM hits_t", "SELECT * FROM rels_t", k=3
        )).df(),
        ["query_id"],
        float_cols=("ndcg3", "mrr3"),
    )


def test_paragraph_dedup_first_occurrence_wins(spark):
    """A chunk repeated across docs survives only at its first
    (doc_id, idx) occurrence; docs are rebuilt from kept chunks in
    order."""
    from navigator_document_parser_spark.operators.dedup import (
        paragraph_dedup,
    )

    boiler = "a b c"                      # 3-token boilerplate chunk
    rows = [
        (0, f"{boiler} x y z"),           # chunks: [a b c][x y z]
        (1, f"{boiler} p q r"),           # [a b c] dup -> dropped
        (2, "p q r only once here"),      # [p q r] first seen at doc1!
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = (
        paragraph_dedup(df, chunk_tokens=3)
        .toPandas().set_index("doc_id").sort_index()
    )
    assert out.loc[0].kept_text == "a b c x y z"
    assert out.loc[0].n_dropped == 0
    # doc1 loses the boilerplate but keeps its own 'p q r' (first seen)
    assert out.loc[1].kept_text == "p q r"
    assert out.loc[1].n_dropped == 1
    # doc2's 'p q r' is now a duplicate of doc1's
    assert out.loc[2].kept_text == "only once here"
    assert out.loc[2].n_dropped == 1
    assert list(out.n_paras) == [2, 2, 2]


def test_url_canonicalize_and_blocklist(spark):
    from navigator_document_parser_spark.operators.urls import filter_urls

    rows = [
        (0, "HTTP://WWW.Site1.Example.ORG:80/a/b/?utm_source=x&id=9#frag"),
        (1, "https://api.site2.example.org:443/v1"),
        (2, "https://ads.blocked.net:8080/x?fbclid=z&q=1"),
        (3, "http://blocked.net/"),
        (4, "https://sub.deep.blocked.net/y"),
        (5, "https://notblocked.net/ok?gclid=1"),
        (6, "blocked.net/x"),             # scheme-less crawl link
        (7, "//Sub.Blocked.NET/y#z"),     # protocol-relative
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url"])
    out = (
        filter_urls(df, ["blocked.net"])
        .select("doc_id", "url_canonical", "domain", "blocked")
        .toPandas().set_index("doc_id").sort_index()
    )
    # default port + trailing slash + fragment + utm_* all stripped
    assert out.loc[0].url_canonical == "http://www.site1.example.org/a/b?id=9"
    assert out.loc[0].domain == "site1.example.org"
    # :443 stripped for https; www. only stripped from domain
    assert out.loc[1].url_canonical == "https://api.site2.example.org/v1"
    assert out.loc[1].domain == "api.site2.example.org"
    # non-default port survives in the url but not the domain
    assert out.loc[2].url_canonical == "https://ads.blocked.net:8080/x?q=1"
    assert out.loc[2].domain == "ads.blocked.net"
    # suffix semantics: exact, subdomain, deep subdomain all blocked —
    # including scheme-less and protocol-relative forms
    assert list(out.blocked) == [False, False, True, True, True, False,
                                 True, True]
    # bare-host trailing slash: path collapses to empty
    assert out.loc[3].url_canonical == "http://blocked.net"
    assert out.loc[6].url_canonical == "blocked.net/x"
    assert out.loc[6].domain == "blocked.net"
    assert out.loc[7].url_canonical == "sub.blocked.net/y"
    assert out.loc[7].domain == "sub.blocked.net"


def test_lm_rarity_flags_offdistribution_doc(spark):
    """A doc made of bigrams nothing else produces fails the gate; docs
    sharing the corpus's common bigrams pass with rare_frac 0."""
    from navigator_document_parser_spark.operators.text import lm_rarity

    common = "the table has a hash join"
    rows = [(i, common) for i in range(6)]
    rows.append((6, "zq xv qqq zzz pp9 k3k"))   # all-unseen bigrams
    rows.append((7, f"{common} zq xv"))         # partially rare
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = (
        lm_rarity(df, min_count=3, max_rare_frac=0.5)
        .toPandas().set_index("doc_id").sort_index()
    )
    assert (out.loc[0:5].rare_frac == 0.0).all()
    assert bool(out.loc[0].pass_lm)
    assert out.loc[6].rare_frac == 1.0 and not out.loc[6].pass_lm
    # doc7: bigrams = 5 common + 'join zq','zq xv' rare -> 2/7
    assert out.loc[7].n_bigrams == 7 and out.loc[7].n_rare == 2
    assert bool(out.loc[7].pass_lm)


def test_snapshot_dedup_new_vs_old_flags(spark):
    """Exact re-crawls flag exact_dup, lightly-edited docs flag near_dup
    only, genuinely fresh docs keep; old-vs-old pairs are never
    consulted."""
    from navigator_document_parser_spark.operators.dedup import (
        snapshot_dedup,
    )

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark forest tonight")
    old = spark.createDataFrame(
        [(0, base), (1, "completely different old text about spark "
                        "shuffles and partitions at scale")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (10, base),                       # exact re-crawl
            (11, base + " with a small appended update"),  # near dup
            (12, "entirely novel page content that shares nothing "
                 "with the committed snapshot whatsoever today"),
        ],
        ["doc_id", "text"],
    )
    out = (
        snapshot_dedup(new, old)
        .toPandas().set_index("doc_id").sort_index()
    )
    assert bool(out.loc[10].exact_dup) and bool(out.loc[10].near_dup)
    assert not out.loc[10].keep
    assert not out.loc[11].exact_dup and bool(out.loc[11].near_dup)
    assert not out.loc[11].keep
    assert not out.loc[12].exact_dup and not out.loc[12].near_dup
    assert bool(out.loc[12].keep)


def test_importance_select_sign_semantics(spark):
    """Tokens lean by cross-multiplied count ratios; a token with equal
    target/source share is neutral; scores are tf-weighted."""
    from navigator_document_parser_spark.operators.selection import (
        importance_select,
    )

    rows = [
        (0, "gold gold gold", True),
        (1, "gold gold mix", True),
        (2, "spam spam mix", False),
        (3, "spam spam spam", False),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "is_ref"])
    out = (
        importance_select(df, F.col("is_ref"))
        .toPandas().set_index("doc_id").sort_index()
    )
    # totals: t_tot=6, s_tot=12; gold t5/s5 -> leans target,
    # spam t0/s5 -> leans source, mix t1/s2 -> exactly neutral
    assert out.loc[0].score == 1.0 and bool(out.loc[0].selected)
    assert out.loc[1].score == 0.6667
    assert out.loc[2].score == -0.6667 and not out.loc[2].selected
    assert out.loc[3].score == -1.0
    assert out.loc[1].lean_target == 2 and out.loc[1].lean_source == 0


def test_session2_ops_plan_shapes(spark):
    """Pin the scale shapes of the newest ops: keyword_search filters to
    the query vocabulary BELOW its tf shuffle and never nested-loops the
    corpus (the only BNLJ is the 1-row n_docs scalar attachment);
    paragraph_dedup's first-occurrence rule is an aggregate (map-side
    combinable), never a window over the paragraph hash; snapshot_dedup
    reads each snapshot once (checkpoints), joins hash-to-hash; url
    canonicalization is a shuffle-free projection."""
    from navigator_document_parser_spark.operators.dedup import (
        paragraph_dedup,
        snapshot_dedup,
    )
    from navigator_document_parser_spark.operators.search import (
        keyword_search,
    )
    from navigator_document_parser_spark.operators.urls import filter_urls
    from navigator_document_parser_spark.operators.text import lm_rarity

    docs = load(spark, "documents")

    p = keyword_search(docs, [(0, ["hash", "join"])], k=5)
    plan = p._jdf.queryExecution().executedPlan().toString()
    # vocabulary predicate sits under the tf aggregate, not above it
    assert "term#" in plan and plan.count("Window") >= 1
    assert plan.count("BroadcastNestedLoop") <= 1  # 1-row n_docs only
    assert "CartesianProduct" not in plan

    p2 = paragraph_dedup(docs)
    plan2 = p2._jdf.queryExecution().executedPlan().toString()
    # no window at all: first-occurrence = min(struct) aggregate
    assert plan2.count("Window") == 0
    assert "partial_min" in plan2 or "HashAggregate" in plan2

    p3 = snapshot_dedup(docs.limit(50), docs)
    plan3 = p3._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan3
    assert "BroadcastNestedLoop" not in plan3
    # both sides come from checkpoints: no parquet re-scan per branch
    assert plan3.count("FileScan parquet") == 0

    p4 = filter_urls(
        docs.withColumn("url", F.concat(F.lit("https://h/"), "doc_id")),
        ["blocked.net"],
    )
    plan4 = p4._jdf.queryExecution().executedPlan().toString()
    assert plan4.count("Exchange") == 0  # pure projection

    p5 = lm_rarity(docs)
    plan5 = p5._jdf.queryExecution().executedPlan().toString()
    # count join-back is an equi-join with NO forced broadcast hint in
    # the logical plan (AQE may still choose broadcast at runtime)
    assert "CartesianProduct" not in plan5
    assert plan5.count("Window") == 0


def test_chunk_windows_overlap_semantics(spark):
    """Chunks start every `stride` tokens, span `window` tokens, overlap
    by window-stride, and the trailing chunk is short but present."""
    from navigator_document_parser_spark.operators.text import chunk_windows

    text = " ".join(f"w{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    out = (
        chunk_windows(df, window=4, stride=3)
        .toPandas().sort_values("chunk_idx").reset_index(drop=True)
    )
    assert list(out.start_token) == [0, 3, 6, 9]
    assert list(out.chunk_tokens) == [4, 4, 4, 1]
    assert out.loc[0].chunk_text == "w0 w1 w2 w3"
    assert out.loc[1].chunk_text == "w3 w4 w5 w6"   # 1-token overlap
    assert out.loc[3].chunk_text == "w9"
    # every token covered at least once
    covered = set()
    for _, r in out.iterrows():
        covered.update(range(r.start_token, r.start_token + r.chunk_tokens))
    assert covered == set(range(10))


def test_parse_robots_txt_grammar():
    """Comments, blank lines, case-insensitive fields, multi-agent
    groups, group reset after rules, empty Disallow."""
    from navigator_document_parser_spark.operators.robots import (
        parse_robots_txt,
    )

    txt = """
# corpus policy
User-Agent: *
Disallow: /private/   # trailing comment
ALLOW: /private/pub

User-agent: googlebot
User-agent: bingbot
Disallow: /api/

User-agent: slurp
Disallow:
"""
    rules = parse_robots_txt(txt)
    assert ("*", "disallow", "/private/") in rules
    assert ("*", "allow", "/private/pub") in rules
    # one rule line fans out to every agent of its group
    assert ("googlebot", "disallow", "/api/") in rules
    assert ("bingbot", "disallow", "/api/") in rules
    # empty Disallow == allow-all: no rule row for slurp
    assert not [r for r in rules if r[0] == "slurp"]
    assert len(rules) == 4


def test_robots_rules_and_filter_semantics(spark):
    """mapInPandas rule extraction + longest-prefix-wins filtering with
    allow beating disallow on ties and ruleless hosts allowed."""
    from navigator_document_parser_spark.operators.robots import (
        robots_filter,
        robots_rules,
    )

    blobs = spark.createDataFrame(
        [
            ("a.net", "User-agent: *\nDisallow: /x/\nAllow: /x/ok"),
            ("b.net", "User-agent: *\nDisallow: /\n"),
            ("c.net", "User-agent: googlebot\nDisallow: /\n"),
        ],
        ["host", "robots_txt"],
    )
    rules = robots_rules(blobs)
    assert rules.count() == 4
    urls = spark.createDataFrame(
        [
            (1, "a.net", "/x/secret"),     # /x/ disallow wins
            (2, "a.net", "/x/okay"),       # /x/ok allow is longer -> wins
            (3, "a.net", "/y"),            # no rule matches -> allowed
            (4, "b.net", "/anything"),     # whole-host block
            (5, "c.net", "/page"),         # googlebot-only rules ignored
            (6, "d.net", "/page"),         # host without robots.txt
        ],
        ["doc_id", "host", "path"],
    )
    out = (
        robots_filter(urls, rules)
        .toPandas().set_index("doc_id").sort_index()
    )
    assert list(out.allowed) == [False, True, True, False, True, True]
    assert out.loc[2].match_len == 5      # '/x/ok'
    assert out.loc[4].match_len == 1
    assert out.loc[3].match_len == 0


def test_c4_filters_line_and_doc_rules(spark):
    from navigator_document_parser_spark.operators.text import c4_filters

    good = ("this line has five good words.\n"
            "another proper sentence with enough words!\n"
            'a third quoted line with many words"\n'
            "no terminal punctuation here at all\n"
            "short line.")
    rows = [
        (0, good),                                   # 3 kept lines -> keep
        (1, good + "\nsee lorem ipsum boilerplate"), # doc dropped
        (2, good + "\nvar x = { 1 };"),              # brace -> dropped
        (3, good + "\nmentions badword1 sadly."),    # blocklist -> dropped
        (4, "only one good line right here.\nand nothing else"),  # <3 kept
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = (
        c4_filters(df)
        .toPandas().set_index("doc_id").sort_index()
    )
    assert out.loc[0].n_lines == 5 and out.loc[0].n_kept_lines == 3
    assert bool(out.loc[0].keep_doc)
    assert out.loc[0].kept_text.count("\n") == 2   # exactly 3 kept lines
    assert not out.loc[1].keep_doc
    assert not out.loc[2].keep_doc
    assert not out.loc[3].keep_doc
    assert not out.loc[4].keep_doc and out.loc[4].n_kept_lines == 1


def test_robots_filter_agent_wildcard_fallback(spark):
    """A specific agent obeys the host's '*' group when no
    agent-specific group exists, and NEVER mixes the two groups; rules
    outside any User-agent group are ignored."""
    from navigator_document_parser_spark.operators.robots import (
        parse_robots_txt,
        robots_filter,
    )

    # group-less leading rule must be dropped entirely
    assert parse_robots_txt("Disallow: /\nUser-agent: *\nDisallow: /x/") \
        == [("*", "disallow", "/x/")]

    rules = spark.createDataFrame(
        [
            ("a.net", "*", "disallow", "/x/"),
            ("b.net", "*", "disallow", "/"),
            ("b.net", "googlebot", "disallow", "/g/"),
        ],
        ["host", "agent", "rule_type", "path_prefix"],
    )
    urls = spark.createDataFrame(
        [
            (1, "a.net", "/x/page"),   # '*' group applies via fallback
            (2, "b.net", "/y"),        # googlebot group exists: '/' rule
                                       # from '*' must NOT leak in
            (3, "b.net", "/g/page"),   # googlebot's own rule
        ],
        ["doc_id", "host", "path"],
    )
    out = (
        robots_filter(urls, rules, agent="googlebot")
        .toPandas().set_index("doc_id").sort_index()
    )
    assert not out.loc[1].allowed            # fell back to a.net's '*'
    assert bool(out.loc[2].allowed)          # '*' block did not leak
    assert not out.loc[3].allowed


def test_semdedup_invariants(spark):
    """Assignment matches brute-force nearest-centroid; within a
    cluster no kept item is >= threshold-similar to a lower-id kept-or-
    dropped item; every dropped item HAS such a lower-id witness."""
    import math

    from navigator_document_parser_spark.operators.similarity import (
        _hyperplane,
        _unit,
        semdedup,
    )

    emb = load(spark, "embeddings")
    thr = 0.35
    out = semdedup(emb, dim=64, n_clusters=8, threshold=thr)
    got = {r["vec_id"]: r for r in out.collect()}
    vecs = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    assert set(got) == set(vecs)

    cents = [_unit(_hyperplane(64, c, 7)) for c in range(8)]

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    def cos(a, b):
        na = math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))
        return 0.0 if na == 0 else round(dot(a, b) / na, 4)

    clusters: dict[int, list[int]] = {}
    for vid, r in got.items():
        scores = [dot(vecs[vid], c) for c in cents]
        best = max(range(8), key=lambda i: (scores[i], -i)) + 1
        assert r["cluster_id"] == best, vid
        clusters.setdefault(best, []).append(vid)

    for cid, vids in clusters.items():
        for b in vids:
            witnesses = [
                a for a in vids
                if a < b and cos(vecs[a], vecs[b]) >= thr
            ]
            assert got[b]["keep"] == (not witnesses), (cid, b)


def test_split_sentences_truth(spark):
    from navigator_document_parser_spark.operators.text import (
        split_sentences,
    )

    df = spark.createDataFrame(
        [
            (1, "One two. Three four!   Five?\nSix."),
            (2, "   "),          # whitespace-only: no rows
            (3, "no terminal punctuation at all"),
        ],
        "doc_id long, text string",
    )
    rows = sorted(
        split_sentences(df).collect(),
        key=lambda r: (r["doc_id"], r["sent_idx"]),
    )
    got = [(r["doc_id"], r["sent_idx"], r["sentence"], r["n_words"])
           for r in rows]
    # doc 1: '?\n' splits (\s covers newline); trailing 'Six.' keeps
    # its final period since no whitespace follows
    assert got == [
        (1, 0, "One two.", 2),
        (1, 1, "Three four!", 2),
        (1, 2, "Five?", 1),
        (1, 3, "Six.", 1),
        (3, 0, "no terminal punctuation at all", 5),
    ]


def test_band_keys_param_guard(spark):
    """bands<=0, num_hashes<=0, or a non-multiple must raise — silent
    truncation degrades LSH recall invisibly for the batch, snapshot,
    and streaming callers (ADVICE r3 + review finding: num_hashes=0
    passed the first guard and produced md5('') for every band)."""
    import pytest as _pytest

    from navigator_document_parser_spark.operators.dedup import (
        band_keys_from_shingles,
    )

    for nh, b in [(0, 2), (-8, 4), (4, 0), (4, -1), (5, 2)]:
        with _pytest.raises(ValueError):
            band_keys_from_shingles(F.col("sh"), nh, b)
    band_keys_from_shingles(F.col("sh"), 8, 4)  # valid: no raise


def test_bpe_tokenize_matches_reference_bpe(spark):
    """The chained-replace formulation must equal a classic per-word
    BPE apply (priority-ordered, merge all disjoint adjacent pairs per
    rule) implemented independently in Python."""
    import re

    from navigator_document_parser_spark.operators.text import (
        DEFAULT_BPE_MERGES,
        bpe_tokenize_stats,
    )

    def ref_bpe_word(word):
        syms = list(word)
        for a, b in DEFAULT_BPE_MERGES:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    texts = [
        (1, "The thing is THAT the thick cat sat"),
        (2, "ingest reorderandthen 42 stock!!"),
        (3, "   "),
        (4, "punct-only: ... !!!"),
        (5, "aaaa thth erer"),  # adjacent-pair disjointness cases
        (6, "hello\n"),          # trailing newline: 1 word, not 2
        (7, "\n\n"),             # whitespace-only: 0 words
        (8, "\thello world\t"),  # edge tabs: 2 words
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r["doc_id"]: r for r in bpe_tokenize_stats(df).collect()}
    for doc_id, text in texts:
        words = [w for w in re.split(r"[^a-z0-9]+", text.lower()) if w]
        n_sub = sum(len(ref_bpe_word(w)) for w in words)
        g = got[doc_id]
        assert g["n_words"] == len(words), (doc_id, g)
        assert g["n_subwords"] == n_sub, (doc_id, g)
        if words:
            assert abs(
                g["subwords_per_word"] - round(n_sub / len(words), 4)
            ) < 1e-9


def test_bpe_and_sentences_fuzz_vs_reference(spark):
    """300 seeded pseudo-random texts (unicode junk, edge whitespace,
    punctuation runs) through bpe_tokenize_stats and split_sentences in
    ONE Spark pass each, compared against independent Python
    references."""
    import random
    import re

    from navigator_document_parser_spark.operators.text import (
        DEFAULT_BPE_MERGES,
        bpe_tokenize_stats,
        split_sentences,
    )

    rng = random.Random(42)
    alphabet = (
        "abcdefghijklmnopqrstuvwxyz0123456789 \t\n\r.!?|;,\"'{}<>à漢"
    )
    texts = [
        (i, "".join(rng.choice(alphabet)
                    for _ in range(rng.randrange(0, 80))))
        for i in range(300)
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")

    def ref_bpe_word(word):
        syms = list(word)
        for a, b in DEFAULT_BPE_MERGES:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    got = {r["doc_id"]: r for r in bpe_tokenize_stats(df).collect()}
    for doc_id, text in texts:
        words = [w for w in re.split(r"[^a-z0-9]+", text.lower()) if w]
        n_sub = sum(len(ref_bpe_word(w)) for w in words)
        g = got[doc_id]
        assert g["n_words"] == len(words), (doc_id, repr(text), g)
        assert g["n_subwords"] == n_sub, (doc_id, repr(text), g)

    srows = {}
    for r in split_sentences(df).collect():
        srows.setdefault(r["doc_id"], []).append(
            (r["sent_idx"], r["sentence"], r["n_words"], r["n_chars"])
        )
    for doc_id, text in texts:
        marked = re.sub(r"([.!?])\s+", "\\1\x01", text)
        want = [
            (i, seg, len(seg.strip().split()), len(seg))
            for i, seg in enumerate(marked.split("\x01"))
            if seg.strip()
        ]
        assert sorted(srows.get(doc_id, [])) == want, (doc_id, repr(text))


def test_session4_ops_plan_shapes(spark):
    """Pin the scale shapes of the round-4 session additions:
    bloom_snapshot_filter probes via a BROADCAST join (the bitmap is
    m/32 rows) and never nested-loops; phrase/bm25 keep the vocabulary
    predicate and no cartesian path; index_export groups on (term,
    block) — an aggregate, no window; zorder is a map-only projection
    above one 1-row stats broadcast; hll/cms are pure hash aggregates
    with no window or BNLJ; knn_pq joins the literal ADC table by
    broadcast."""
    from navigator_document_parser_spark.operators.dedup import (
        bloom_snapshot_filter,
        cdc_dedup,
    )
    from navigator_document_parser_spark.operators.layout import (
        zorder_layout,
    )
    from navigator_document_parser_spark.operators.search import (
        bm25_search,
        index_export,
        phrase_search,
    )
    from navigator_document_parser_spark.operators.sketches import (
        cms_counts,
        hll_distinct,
    )

    docs = load(spark, "documents")

    p = bloom_snapshot_filter(docs.limit(50), docs)
    plan = p._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan

    p = phrase_search(docs, [(0, ["fast", "table"])])
    plan = p._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # anchor-vote conjunction: aggregates, not an n-way self-join of
    # postings (a 2-token phrase would show >= 2 joins of the corpus)
    assert plan.count("FileScan parquet") <= 1

    p = bm25_search(docs, [(0, ["hash", "join"])], k=5)
    plan = p._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoop") <= 1  # 1-row stats attach

    p = index_export(docs)
    plan = p._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 0  # blocks via aggregate only
    assert "CartesianProduct" not in plan

    p = zorder_layout(docs, "n_chars", "doc_id", bits=8, n_buckets=4)
    plan = p._jdf.queryExecution().executedPlan().toString()
    # one 1-row min/max broadcast; corpus side never shuffles
    assert plan.count("Exchange hashpartitioning") == 0
    assert "CartesianProduct" not in plan

    for q in (
        hll_distinct(docs, p=6),
        cms_counts(docs.selectExpr("text AS tok"), ["x"], width=64),
    ):
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Window") == 0
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan

    p = cdc_dedup(docs, avg_chunk=8)
    plan = p._jdf.queryExecution().executedPlan().toString()
    # the chunk table is checkpointed ONCE (it feeds the first-occurrence
    # aggregate AND the join-back; un-barriered, the scan -> explode ->
    # boundary-window subtree appeared twice) — downstream of the
    # barrier there is no Window node and no parquet re-scan, and the
    # first-occurrence rule stays an aggregate over the chunk hash
    assert "Window [" not in plan
    assert plan.count("FileScan parquet") == 0
    assert "Scan ExistingRDD" in plan  # reads the checkpoint
    assert "HashAggregate" in plan


def test_audio_windowing_fanout(spark):
    """window_audio_samples: variable 1->N fan-out, only full windows,
    hop-overlapped byte ranges, md5 content hashes."""
    import hashlib

    from navigator_document_parser_spark.operators.multimodal import (
        synth_media,
        window_audio_samples,
    )

    media = synth_media(spark, 30, partitions=2)
    out = window_audio_samples(
        media, window_bytes=64, hop_bytes=32
    ).collect()
    src = {
        r["media_id"]: bytes(r["payload"])
        for r in media.filter("kind = 'audio'").collect()
    }
    assert out and {r["media_id"] for r in out} <= set(src)
    per_media = {}
    for r in out:
        per_media.setdefault(r["media_id"], []).append(r)
    for mid, rows in per_media.items():
        payload = src[mid]
        expect = 1 + (len(payload) - 64) // 32
        assert len(rows) == expect
        for r in rows:
            start = r["start_byte"]
            win = payload[start:start + 64]
            assert len(win) == 64  # full windows only
            assert r["content_hash"] == hashlib.md5(win).hexdigest()
    # sizes vary by id -> fan-out genuinely variable
    assert len({len(v) for v in per_media.values()}) > 1


def test_q6_filters_pushed_and_columns_pruned(spark):
    """The Q6 shape exists to prove scan hygiene: all three predicates
    reach the parquet scan as PushedFilters and only the 4 referenced
    columns of 11 are read."""
    import __spark_entry__ as E

    plan = (
        E.queries()["q6_forecast_revenue"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    scan = next(
        ln for ln in plan.splitlines() if "FileScan parquet" in ln
    )
    assert "PushedFilters: [IsNotNull" in scan
    assert "l_shipdate" in scan and "l_discount" in scan
    cols = scan.split("FileScan parquet [")[1].split("]")[0].split(",")
    assert len(cols) == 4  # column pruning: 4 of 11


def test_materialize_concurrently_inherits_job_tags(spark):
    # a tag added on the calling thread reaches every thunk's thread,
    # without pyspark's "Spark session is not provided" warning
    import warnings

    from navigator_document_parser_spark.operators import (
        materialize_concurrently,
    )

    spark.addTag("ndps-concurrent")
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error", UserWarning)
            tags = materialize_concurrently(
                spark, spark.getTags, spark.getTags, spark.getTags
            )
    finally:
        spark.removeTag("ndps-concurrent")
    assert all("ndps-concurrent" in t for t in tags), tags
