"""Inverted-index keyword search over a document corpus.

The reference pipeline feeds a downstream search product (extracted text
is indexed by url — see /root/reference/README.md pipeline diagram); this
module supplies the engine-side retrieval capability itself: build a
postings table from the corpus and answer conjunctive multi-term queries
with a deterministic, idf-weighted top-k ranking.

Scoring is EXACT across engines on purpose: the per-term weight is the
integer ``n_docs * 1000 div df(term)`` (a monotone rational idf analog —
same design as tfidf_top_terms' rational idf) and the document score is
``sum(tf * weight)``, all BIGINT arithmetic, so the DuckDB oracle
hash-matches bit-for-bit. Logarithmic idf would rank identically but
differ in the last ulp between libm implementations.

100 TB shape: the corpus is scanned ONCE and filtered to the query
vocabulary BEFORE the tf shuffle (predicate on the exploded term — the
aggregate state is bounded by |query vocab| x n_docs, not corpus token
count). Document frequencies and the query table are broadcast; the only
wide exchange is the narrow (doc_id, term, tf) aggregate and the final
per-query top-k window over candidate rows.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def term_postings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocabulary: Sequence[str] | None = None,
) -> DataFrame:
    """(term, doc_id, tf) postings; optionally restricted to a vocabulary.

    The vocabulary filter sits below the aggregation so a 3-term query
    over 100 TB shuffles only rows for those 3 terms.
    """
    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("term"),
    ).filter(F.length("term") > 0)
    if vocabulary is not None:
        words = words.filter(F.col("term").isin(list(vocabulary)))
    return words.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("tf")
    )


def keyword_search(
    df: DataFrame,
    queries: Iterable[tuple[int, Sequence[str]]],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Conjunctive (AND) multi-term search, top-``k`` docs per query.

    ``queries`` is an iterable of (query_id, terms). A document matches
    iff every distinct query term occurs in it; matches are ranked by
    the integer idf-weighted score described in the module docstring,
    ties broken by ascending doc_id (fully deterministic). A row with a
    NULL doc_id is no document: it is dropped on input, as in
    bm25_search.

    Returns (query_id, rank, doc_id, score, sum_tf).
    """
    spark = df.sparkSession
    df = df.filter(F.col(id_col).isNotNull())
    qrows = []
    vocab: set[str] = set()
    for qid, terms in queries:
        distinct = sorted(set(terms))
        vocab.update(distinct)
        for t in distinct:
            qrows.append((int(qid), t, len(distinct)))
    qdf = spark.createDataFrame(
        qrows, "query_id bigint, term string, n_terms int"
    )

    # tf feeds both the document-frequency aggregate and the scored
    # join; the barrier stops each branch from re-running
    # scan->explode->agg (lessons 3/7). Post-filter it is tiny:
    # |vocab| x n_docs rows at most. dfq is count(doc_id) over the
    # unique (term, doc_id) rows == count(DISTINCT doc_id), as a
    # map-side-combinable aggregate + broadcast — NOT a
    # term-partitioned window, which would serialize a hot term into
    # one task (r7 review).
    tf = term_postings(
        df, id_col, text_col, vocabulary=sorted(vocab)
    ).localCheckpoint(eager=True)
    dfreq = tf.groupBy("term").agg(F.count("doc_id").alias("dfq"))
    n_docs = df.select(F.count_distinct(F.col(id_col)).alias("n_docs"))

    scored = (
        tf.join(F.broadcast(qdf), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("query_id", "doc_id", "n_terms")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.sum(
                F.col("tf") * F.expr("n_docs * 1000 div dfq")
            ).alias("score"),
            F.sum("tf").alias("sum_tf"),
        )
        .filter(F.col("n_matched") == F.col("n_terms"))
    )
    # NULLS LAST: DuckDB's ascending order, which the oracle ranks by
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc_nulls_last()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "doc_id",
            F.col("score").cast("bigint").alias("score"),
            F.col("sum_tf").cast("bigint").alias("sum_tf"),
        )
    )


def oracle_keyword_search(
    queries: Iterable[tuple[int, Sequence[str]]],
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
    k: int = 10,
) -> str:
    """DuckDB SQL computing exactly keyword_search() (integer math
    only); NULL-doc_id rows are dropped on input."""
    from navigator_document_parser_spark.operators import sql_quote

    vals = []
    for qid, terms in queries:
        distinct = sorted(set(terms))
        for t in distinct:
            vals.append(f"({int(qid)}, {sql_quote(t)}, {len(distinct)})")
    values = ", ".join(vals)
    return f"""
        WITH q(query_id, term, n_terms) AS (VALUES {values}),
        w AS (
          SELECT {id_col} AS doc_id,
                 unnest(string_split_regex(
                   trim(lower({text_col})), '\\s+')) AS term
          FROM {table} WHERE {id_col} IS NOT NULL
        ), tf AS (
          SELECT term, doc_id, count(*) AS tf
          FROM w
          WHERE length(term) > 0
            AND term IN (SELECT DISTINCT term FROM q)
          GROUP BY term, doc_id
        ), dfreq AS (
          SELECT term, count(DISTINCT doc_id) AS dfq FROM tf GROUP BY term
        ), n AS (
          SELECT count(DISTINCT {id_col}) AS n_docs FROM {table}
          WHERE {id_col} IS NOT NULL
        ), scored AS (
          SELECT q.query_id, tf.doc_id,
                 count(*) AS n_matched, max(q.n_terms) AS n_terms,
                 sum(tf.tf * (n.n_docs * 1000 // dfreq.dfq)) AS score,
                 sum(tf.tf) AS sum_tf
          FROM tf
          JOIN q USING (term)
          JOIN dfreq USING (term)
          CROSS JOIN n
          GROUP BY q.query_id, tf.doc_id
        )
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(rank AS BIGINT) AS rank,
               doc_id,
               CAST(score AS BIGINT) AS score,
               CAST(sum_tf AS BIGINT) AS sum_tf
        FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, doc_id ASC) AS rank
          FROM scored WHERE n_matched = n_terms
        )
        WHERE rank <= {k}
    """


def phrase_search(
    df: DataFrame,
    phrases: Iterable[tuple[int, Sequence[str]]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact phrase matching via a positional inverted index.

    ``phrases`` is an iterable of (phrase_id, tokens). A phrase matches
    at anchor position p iff token i of the phrase equals document token
    p+i for every i — the classic positional-postings conjunction, done
    here in ONE aggregation instead of an n-way self-join: each posting
    row matching phrase token i votes for anchor ``pos - i``; an anchor
    with all n distinct i votes is a match.

    100 TB shape: postings are filtered to the phrase vocabulary BEFORE
    any exchange (the per-term predicate sits on the exploded scan), the
    phrase table is broadcast, and the only wide operations are two
    narrow aggregations keyed by (phrase_id, doc_id[, anchor]) with
    map-side combine. No self-join of the postings table, whose n-way
    variant is the textbook scale trap here.

    Returns (phrase_id, doc_id, n_matches, first_pos) for matching docs;
    positions are 0-based over the empty-token-filtered token stream.
    """
    spark = df.sparkSession
    prows = []
    vocab: set[str] = set()
    for pid, toks in phrases:
        toks = list(toks)
        if not toks:
            raise ValueError(f"phrase {pid} is empty")
        vocab.update(toks)
        for i, t in enumerate(toks):
            prows.append((int(pid), t, i, len(toks)))
    pdf_ = spark.createDataFrame(
        prows, "phrase_id bigint, term string, i int, n_terms int"
    )

    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
        lambda t: F.length(t) > 0,
    )
    postings = (
        df.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
        .select("doc_id", F.posexplode("toks").alias("pos", "term"))
        .filter(F.col("term").isin(sorted(vocab)))
    )
    anchors = (
        postings.join(F.broadcast(pdf_), "term")
        .select(
            "phrase_id",
            "doc_id",
            (F.col("pos") - F.col("i")).alias("anchor"),
            "i",
            "n_terms",
        )
        .filter(F.col("anchor") >= 0)
        .groupBy("phrase_id", "doc_id", "anchor", "n_terms")
        .agg(F.count_distinct("i").alias("n_i"))
        .filter(F.col("n_i") == F.col("n_terms"))
    )
    return (
        anchors.groupBy("phrase_id", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("anchor").cast("bigint").alias("first_pos"),
        )
    )


def oracle_phrase_search(
    phrases: Iterable[tuple[int, Sequence[str]]],
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    """DuckDB SQL computing exactly phrase_search() — deliberately a
    DIFFERENT algorithm (naive per-document list-slice scan) so the two
    engines cross-validate rather than share one formulation."""
    from navigator_document_parser_spark.operators import sql_quote

    vals = []
    for pid, toks in phrases:
        lst = ", ".join(sql_quote(t) for t in toks)
        vals.append(f"({int(pid)}, [{lst}])")
    values = ", ".join(vals)
    return f"""
        WITH p(phrase_id, pts) AS (VALUES {values}),
        toks AS (
          SELECT {id_col} AS doc_id,
                 list_filter(string_split_regex(
                   trim(lower({text_col})), '\\s+'),
                   t -> length(t) > 0) AS ts
          FROM {table}
        ), m AS (
          SELECT p.phrase_id, t.doc_id,
                 list_filter(
                   generate_series(1, len(t.ts) - len(p.pts) + 1),
                   i -> t.ts[i : i + len(p.pts) - 1] = p.pts
                 ) AS hits
          FROM toks t CROSS JOIN p
        )
        SELECT CAST(phrase_id AS BIGINT) AS phrase_id,
               doc_id,
               CAST(len(hits) AS BIGINT) AS n_matches,
               CAST(hits[1] - 1 AS BIGINT) AS first_pos
        FROM m WHERE len(hits) > 0
    """


def _bm25_score_sql(k1: float, b: float) -> str:
    """The per-(term,doc) BM25 contribution as ONE SQL fragment shared
    verbatim by the Spark plan and the DuckDB oracle — identical
    expression text maximizes bit-parity of the double math. Expects
    columns tf, dfq, n_docs, sum_dl, dl in scope. Lucene's +1 idf
    variant keeps every contribution positive."""
    avgdl = "(cast(sum_dl as double) / n_docs)"
    idf = "ln(1.0 + (cast(n_docs as double) - dfq + 0.5) / (dfq + 0.5))"
    tfn = (
        f"(tf * ({k1!r} + 1.0)) / "
        f"(tf + {k1!r} * (1.0 - {b!r} + {b!r} * dl / {avgdl}))"
    )
    return f"({idf}) * ({tfn})"


def bm25_search(
    df: DataFrame,
    queries: Iterable[tuple[int, Sequence[str]]],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Disjunctive (OR) BM25 ranking, top-``k`` docs per query.

    Rank is over the score ROUNDED to 4dp (ties by ascending doc_id):
    ranking on raw doubles would let a last-ulp libm difference flip an
    order across engines; at 4dp the comparison is stable and the
    residual risk is a true value within 1e-16 of a rounding boundary.

    100 TB shape: postings are vocabulary-filtered before the tf
    shuffle (like keyword_search); document length and corpus stats
    (n_docs, sum_dl — in production a materialized corpus statistic,
    here a second narrow aggregate branch) join in via broadcasts. The
    doc-length sum is kept in BIGINT and divided once, so avgdl is
    order-independent — a floating avg() over a shuffled corpus is not.
    A row with a NULL doc_id is no document: it is dropped on input, so
    it is neither scored nor counted in n_docs or avgdl (keyword_search
    drops it the same way).

    Returns (query_id, rank, doc_id, score).
    """
    spark = df.sparkSession
    df = df.filter(F.col(id_col).isNotNull())
    qrows = []
    vocab: set[str] = set()
    for qid, terms in queries:
        for t in sorted(set(terms)):
            vocab.add(t)
            qrows.append((int(qid), t))
    qdf = spark.createDataFrame(qrows, "query_id bigint, term string")

    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
        lambda t: F.length(t) > 0,
    )
    base = df.select(
        F.col(id_col).alias("doc_id"), toks.alias("toks")
    ).select("doc_id", F.size("toks").cast("bigint").alias("dl"), "toks")

    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    tf = (
        base.select("doc_id", "dl", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(sorted(vocab)))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
        # tf feeds the dfreq aggregate AND the scored join; without a
        # barrier the dfreq branch re-ran the whole tokenize+explode+
        # agg subtree (18 Exchanges, 0 reused — r7). Bounded:
        # |query vocab| x n_docs rows. NOT a term-partitioned window:
        # that would serialize a hot term's n_docs rows into one task,
        # where count(tf over term) aggregates with map-side combine
        # and broadcasts back (r7 review).
        .localCheckpoint(eager=True)
    )
    # count(doc_id) over unique (term, doc_id) rows == the oracle's
    # count(DISTINCT doc_id)
    dfreq = tf.groupBy("term").agg(F.count("doc_id").alias("dfq"))
    scored = (
        tf.join(F.broadcast(qdf), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(
            F.round(
                F.sum(F.expr(_bm25_score_sql(k1, b))), 4
            ).alias("score")
        )
    )
    # NULLS LAST: DuckDB's ascending order, which the oracle ranks by
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc_nulls_last()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def oracle_bm25_search(
    queries: Iterable[tuple[int, Sequence[str]]],
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB SQL computing exactly bm25_search() — same scoring SQL
    fragment, same 4dp rounding before ranking; NULL-doc_id rows are
    dropped on input."""
    from navigator_document_parser_spark.operators import sql_quote

    vals = []
    for qid, terms in queries:
        for t in sorted(set(terms)):
            vals.append(f"({int(qid)}, {sql_quote(t)})")
    values = ", ".join(vals)
    score = _bm25_score_sql(k1, b)
    return f"""
        WITH q(query_id, term) AS (VALUES {values}),
        base AS (
          SELECT {id_col} AS doc_id,
                 list_filter(string_split_regex(
                   trim(lower({text_col})), '\\s+'),
                   t -> length(t) > 0) AS toks
          FROM {table} WHERE {id_col} IS NOT NULL
        ), lens AS (
          SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base
        ), stats AS (
          SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM lens
        ), w AS (
          SELECT doc_id, unnest(toks) AS term FROM base
        ), tf AS (
          SELECT w.term, w.doc_id, count(*) AS tf, max(lens.dl) AS dl
          FROM w JOIN lens USING (doc_id)
          WHERE w.term IN (SELECT DISTINCT term FROM q)
          GROUP BY w.term, w.doc_id
        ), dfreq AS (
          SELECT term, count(DISTINCT doc_id) AS dfq FROM tf GROUP BY term
        ), scored AS (
          SELECT q.query_id, tf.doc_id,
                 round(sum({score}), 4) AS score
          FROM tf
          JOIN q USING (term)
          JOIN dfreq USING (term)
          CROSS JOIN stats
          GROUP BY q.query_id, tf.doc_id
        )
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(rank AS BIGINT) AS rank,
               doc_id, score
        FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, doc_id ASC) AS rank
          FROM scored
        )
        WHERE rank <= {k}
    """


def index_export(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 8,
    block_size: int = 128,
) -> DataFrame:
    """Materialize a sharded inverted index: delta-encoded posting-list
    blocks, the on-disk layout search engines actually write (term
    dictionary + doc-gap lists per block, cf. Lucene skip blocks).

    Rows: (shard, term, block_id, block_df, postings) where
      shard    = md5(term) % n_shards (portable hash -> stable shard
                 ownership across engines and re-runs)
      block_id = doc_id div block_size — posting lists are split into
                 doc-range blocks, so ONE hot term ('the') never builds
                 one giant array on one reducer: the shuffle key is
                 (term, block), bounding every group at block_size
      block_df = docs containing the term within the block
      postings = doc-gap encoding: [first_doc, gap, gap, ...] relative
                 to the block's first occurrence

    100 TB shape: one explode -> (term, block) hash aggregate with
    map-side combine; collect_list stays because each group is bounded
    by block_size (an UNBLOCKED collect_list per term is the scale trap
    this layout exists to avoid). The delta transform runs over the
    aggregate's output attribute — a concrete column, so CollapseProject
    cannot re-inline the aggregation into each array element.
    """
    if n_shards <= 0 or block_size <= 0:
        raise ValueError("n_shards and block_size must be positive")
    words = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.filter(
                    F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
                    lambda t: F.length(t) > 0,
                )
            ).alias("term"),
        )
        .dropDuplicates(["term", "doc_id"])
    )
    blocks = (
        words.withColumn(
            "block_id", F.expr(f"doc_id div {block_size}")
        )
        .groupBy("term", "block_id")
        .agg(
            F.count(F.lit(1)).alias("block_df"),
            F.sort_array(F.collect_list("doc_id")).alias("docs"),
        )
    )
    from navigator_document_parser_spark.operators import md5_u32_sql

    return blocks.select(
        F.expr(f"{md5_u32_sql('term', 'spark')} % {n_shards}").alias(
            "shard"
        ),
        "term",
        F.col("block_id").cast("bigint").alias("block_id"),
        F.col("block_df").cast("bigint").alias("block_df"),
        F.transform(
            F.col("docs"),
            lambda x, i: F.when(i == 0, x).otherwise(
                x - F.element_at(F.col("docs"), i)
            ),
        ).alias("postings"),
    )


def oracle_index_export(
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
    n_shards: int = 8,
    block_size: int = 128,
) -> str:
    """DuckDB SQL computing exactly index_export()."""
    from navigator_document_parser_spark.operators import md5_u32_sql

    shard_expr = md5_u32_sql("term", "duckdb")
    return f"""
        WITH w AS (
          SELECT DISTINCT {id_col} AS doc_id,
                 unnest(list_filter(string_split_regex(
                   trim(lower({text_col})), '\\s+'),
                   t -> length(t) > 0)) AS term
          FROM {table}
        ), b AS (
          SELECT term, doc_id // {block_size} AS block_id,
                 count(*) AS block_df,
                 list_sort(list(doc_id)) AS docs
          FROM w GROUP BY term, doc_id // {block_size}
        )
        SELECT {shard_expr} % {n_shards} AS shard,
               term,
               CAST(block_id AS BIGINT) AS block_id,
               CAST(block_df AS BIGINT) AS block_df,
               list_transform(generate_series(1, len(docs)),
                 i -> CASE WHEN i = 1 THEN docs[i]
                           ELSE docs[i] - docs[i-1] END) AS postings
        FROM b
    """


def index_merge(
    old_index: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 8,
    block_size: int = 128,
    materialize_old: bool = True,
) -> DataFrame:
    """Incrementally fold newly crawled documents into an existing
    index_export() table — the monthly-delta maintenance path: only
    posting blocks in the delta's doc ranges are decoded and rebuilt;
    every other block passes through UNTOUCHED (anti-join), so the
    cost scales with the delta, not the index.

    The new crawl is AUTHORITATIVE for its doc ids: every old posting
    of a re-crawled id is dropped before the merge, so changed and
    even emptied documents converge — the invariant (pytest + oracle)
    merge(index(old docs), new docs) == index_export(old-minus-delta
    union new docs) holds for overlapping deltas, not just disjoint
    ones. The DuckDB oracle for the contract query is literally the
    from-scratch full-corpus oracle — an engine-independent
    correctness statement rather than a mirrored formulation.

    100 TB shape: touched blocks are selected by doc-range block id
    alone (a re-crawl must be able to DELETE a term the new version no
    longer contains, which a (term, block) key cannot see), so the
    rebuild cost is every term in the delta's doc-range blocks —
    bounded by the delta's ranges, never the index. Affected blocks
    are delta-DECODED with a bounded per-block window (groups <=
    block_size rows), purged of delta ids (anti-join), merged with the
    new postings and re-encoded by the same aggregate as index_export.
    old_index is eagerly checkpointed — it feeds the untouched
    anti-join AND the affected semi-join (the cdc_dedup dual-consumer
    lesson); pass an already-materialized table with
    ``materialize_old=False`` to skip the copy.
    """
    if n_shards <= 0 or block_size <= 0:
        raise ValueError("n_shards and block_size must be positive")
    from navigator_document_parser_spark.operators import md5_u32_sql
    from pyspark.sql.window import Window as W

    # ONE delta scan/checkpoint for both the id table and the token
    # table (r7): explode_outer keeps a null-term row for empty docs,
    # so new_ids (which must purge even token-less re-crawls) and
    # new_words both project from it. The old shape paid two delta
    # scans and three SERIAL eager-checkpoint jobs at construction
    # (2.4s of index_merge's 3.5s at sf0.1); independent barriers now
    # materialize concurrently (guide §2.6 — actions are only
    # sequential because driver code calls them sequentially).
    def _delta():
        return (
            new_docs.select(
                F.col(id_col).alias("doc_id"),
                F.explode_outer(
                    F.filter(
                        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
                        lambda t: F.length(t) > 0,
                    )
                ).alias("term"),
            )
            .dropDuplicates(["term", "doc_id"])
            .withColumn("block_id", F.expr(f"doc_id div {block_size}"))
            .localCheckpoint(eager=True)
        )

    if materialize_old:
        from navigator_document_parser_spark.operators import (
            materialize_concurrently,
        )

        old_index, delta = materialize_concurrently(
            new_docs.sparkSession,
            lambda: old_index.localCheckpoint(eager=True),
            _delta,
        )
    else:
        delta = _delta()
    new_ids = delta.select("doc_id", "block_id").dropDuplicates(
        ["doc_id"]
    )
    new_words = delta.filter(F.col("term").isNotNull())
    # block ids come from the doc IDS (not the token table): an empty
    # re-crawled doc has no tokens but must still purge its postings
    delta_blocks = new_ids.select("block_id").dropDuplicates()

    untouched = old_index.join(delta_blocks, ["block_id"], "left_anti")
    affected_old = old_index.join(delta_blocks, ["block_id"], "leftsemi")
    decoded_old = (
        affected_old.select(
            "term", "block_id", F.posexplode("postings").alias("i", "gap")
        )
        .withColumn(
            "doc_id",
            F.sum("gap").over(
                W.partitionBy("term", "block_id").orderBy("i")
            ),
        )
        .select("term", "block_id", "doc_id")
        # the new crawl owns its ids: stale postings drop here
        .join(new_ids.select("doc_id"), ["doc_id"], "left_anti")
    )
    rebuilt = (
        decoded_old.unionByName(
            new_words.select("term", "block_id", "doc_id")
        )
        .dropDuplicates(["term", "block_id", "doc_id"])
        .groupBy("term", "block_id")
        .agg(
            F.count(F.lit(1)).alias("block_df"),
            F.sort_array(F.collect_list("doc_id")).alias("docs"),
        )
        .select(
            F.expr(f"{md5_u32_sql('term', 'spark')} % {n_shards}").alias(
                "shard"
            ),
            "term",
            F.col("block_id").cast("bigint").alias("block_id"),
            F.col("block_df").cast("bigint").alias("block_df"),
            F.transform(
                F.col("docs"),
                lambda x, i: F.when(i == 0, x).otherwise(
                    x - F.element_at(F.col("docs"), i)
                ),
            ).alias("postings"),
        )
    )
    return untouched.select(
        "shard", "term", "block_id", "block_df", "postings"
    ).unionByName(rebuilt)


def index_lookup(
    index: DataFrame,
    terms: Sequence[str],
) -> DataFrame:
    """Serve a conjunctive (AND) query FROM the materialized index —
    the production read path for index_export/index_merge output: no
    corpus access at all. Posting blocks for the query terms are
    selected by equi-join (term pushdown prunes everything else),
    delta-decoded with the bounded per-block window, and a doc matches
    iff it appears under every distinct query term.

    The contract oracle re-derives the answer from the RAW DOCUMENTS
    with a tokenize-and-test scan — a different algorithm over a
    different input that must produce the same docs, cross-validating
    both the index construction and this read path.

    Returns (doc_id, n_terms) for matching docs.
    """
    distinct_terms = sorted(set(terms))
    if not distinct_terms:
        raise ValueError("terms must be non-empty")
    from pyspark.sql.window import Window as W

    spark = index.sparkSession
    tdf = spark.createDataFrame(
        [(t,) for t in distinct_terms], "term string"
    )
    blocks = index.join(F.broadcast(tdf), "term")
    decoded = (
        blocks.select(
            "term", "block_id", F.posexplode("postings").alias("i", "gap")
        )
        .withColumn(
            "doc_id",
            F.sum("gap").over(
                W.partitionBy("term", "block_id").orderBy("i")
            ),
        )
        .select("term", "doc_id")
    )
    return (
        decoded.groupBy("doc_id")
        .agg(F.count_distinct("term").alias("n_terms"))
        .filter(F.col("n_terms") == len(distinct_terms))
        .select("doc_id", F.col("n_terms").cast("bigint").alias("n_terms"))
    )


def oracle_index_lookup(
    terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    """DuckDB oracle for index_lookup — deliberately a raw-corpus
    tokenize-and-test scan, NOT an index decode: the two paths must
    agree for the whole build->serve loop to be correct."""
    from navigator_document_parser_spark.operators import sql_quote

    distinct_terms = sorted(set(terms))
    preds = " AND ".join(
        f"list_contains(toks, {sql_quote(t)})" for t in distinct_terms
    )
    return f"""
        WITH t AS (
          SELECT {id_col} AS doc_id,
                 list_filter(string_split_regex(
                   trim(lower({text_col})), '\\s+'),
                   x -> length(x) > 0) AS toks
          FROM {table}
        )
        SELECT doc_id,
               CAST({len(distinct_terms)} AS BIGINT) AS n_terms
        FROM t WHERE {preds}
    """


# ---- boolean retrieval (MUST / SHOULD / MUST_NOT) --------------------------

def boolean_search(
    df: DataFrame,
    queries: Iterable[tuple[int, Sequence[str], Sequence[str], Sequence[str]]],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Boolean retrieval over the same postings table keyword_search
    builds: each query is (query_id, must, should, must_not). A document
    matches iff every ``must`` term occurs, at least one ``should`` term
    occurs (when the list is non-empty), and no ``must_not`` term occurs.
    Matches rank by total tf over the positive (must + should) terms,
    ties by ascending doc_id — fully deterministic and integer-exact, so
    the DuckDB oracle hash-matches.

    Every query needs >= 1 positive term: a pure-negation query ("all
    docs except ...") would require a full corpus anti-scan per query —
    reject it loudly rather than silently scanning 100 TB.

    100 TB shape: identical to keyword_search — the corpus is scanned
    once, filtered to the union vocabulary BEFORE the tf aggregate
    (candidate state is |vocab| x matching docs, not corpus tokens);
    the query table broadcasts; negation is NOT an anti-join against
    the corpus but a flag on the already-joined candidate rows (a doc
    containing only negated terms never ranks, and a doc containing
    none of the query's terms was never a candidate).
    """
    spark = df.sparkSession
    qrows = []
    vocab: set[str] = set()
    for qid, must, should, must_not in queries:
        m, s, n = sorted(set(must)), sorted(set(should)), sorted(set(must_not))
        if not m and not s:
            raise ValueError(
                f"query {qid}: needs at least one must/should term "
                "(pure negation would scan the whole corpus)"
            )
        overlap = (set(m) | set(s)) & set(n)
        if overlap:
            raise ValueError(f"query {qid}: terms {overlap} both positive "
                             "and negated")
        vocab.update(m, s, n)
        for t in m:
            qrows.append((int(qid), t, "must", len(m), len(s)))
        for t in s:
            qrows.append((int(qid), t, "should", len(m), len(s)))
        for t in n:
            qrows.append((int(qid), t, "not", len(m), len(s)))
    qdf = spark.createDataFrame(
        qrows,
        "query_id bigint, term string, kind string, "
        "n_must int, n_should int",
    )

    tf = term_postings(df, id_col, text_col, vocabulary=sorted(vocab))
    cand = (
        tf.join(F.broadcast(qdf), "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.max("n_must").alias("n_must"),
            F.max("n_should").alias("n_should"),
            F.sum(
                F.when(F.col("kind") == "must", 1).otherwise(0)
            ).alias("must_hit"),
            F.max(
                F.when(F.col("kind") == "should", 1).otherwise(0)
            ).alias("should_hit"),
            F.max(
                F.when(F.col("kind") == "not", 1).otherwise(0)
            ).alias("not_hit"),
            F.sum(
                F.when(F.col("kind") != "not", F.col("tf")).otherwise(0)
            ).alias("sum_tf"),
        )
        .filter(
            (F.col("must_hit") == F.col("n_must"))
            & ((F.col("n_should") == 0) | (F.col("should_hit") == 1))
            & (F.col("not_hit") == 0)
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sum_tf").desc(), F.col("doc_id").asc_nulls_last()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "rank", "doc_id",
            F.col("sum_tf").cast("bigint").alias("sum_tf"),
        )
    )


def oracle_boolean_search(
    queries: Iterable[tuple[int, Sequence[str], Sequence[str], Sequence[str]]],
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
    k: int = 10,
) -> str:
    """DuckDB replica of boolean_search (same relational shape — VALUES
    query table joined to a tf aggregate, flag-based negation — so every
    count/tf stays integer)."""
    from navigator_document_parser_spark.operators import sql_quote

    vals = []
    for qid, must, should, must_not in queries:
        m, s, n = sorted(set(must)), sorted(set(should)), sorted(set(must_not))
        for t in m:
            vals.append(f"({int(qid)}, {sql_quote(t)}, 'must', "
                        f"{len(m)}, {len(s)})")
        for t in s:
            vals.append(f"({int(qid)}, {sql_quote(t)}, 'should', "
                        f"{len(m)}, {len(s)})")
        for t in n:
            vals.append(f"({int(qid)}, {sql_quote(t)}, 'not', "
                        f"{len(m)}, {len(s)})")
    values = ", ".join(vals)
    return f"""
        WITH q(query_id, term, kind, n_must, n_should) AS (VALUES {values}),
        w AS (
          SELECT {id_col} AS doc_id,
                 unnest(string_split_regex(
                   trim(lower({text_col})), '\\s+')) AS term
          FROM {table}
        ), tf AS (
          SELECT term, doc_id, count(*) AS tf
          FROM w
          WHERE length(term) > 0
            AND EXISTS (SELECT 1 FROM q WHERE q.term = w.term)
          GROUP BY term, doc_id
        ), cand AS (
          SELECT q.query_id, tf.doc_id,
                 max(q.n_must) AS n_must,
                 max(q.n_should) AS n_should,
                 sum(CASE WHEN q.kind = 'must' THEN 1 ELSE 0 END)
                   AS must_hit,
                 max(CASE WHEN q.kind = 'should' THEN 1 ELSE 0 END)
                   AS should_hit,
                 max(CASE WHEN q.kind = 'not' THEN 1 ELSE 0 END) AS not_hit,
                 sum(CASE WHEN q.kind <> 'not' THEN tf.tf ELSE 0 END)
                   AS sum_tf
          FROM tf JOIN q USING (term)
          GROUP BY q.query_id, tf.doc_id
        )
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(rank AS BIGINT) AS rank,
               doc_id,
               CAST(sum_tf AS BIGINT) AS sum_tf
        FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY sum_tf DESC, doc_id ASC) AS rank
          FROM cand
          WHERE must_hit = n_must
            AND (n_should = 0 OR should_hit = 1)
            AND not_hit = 0
        )
        WHERE rank <= {k}
    """


# ---- hybrid retrieval: BM25 + dense, reciprocal-rank fusion ----------------

def _fh_query_vec(terms: Sequence[str], dim: int) -> list[int]:
    from navigator_document_parser_spark.operators.similarity import (
        _fh_token,
    )

    qv = [0] * dim
    for t in sorted(set(terms)):
        b, s = _fh_token(t, dim)
        qv[b] += s
    return qv


def hybrid_search_rrf(
    df: DataFrame,
    queries: Iterable[tuple[int, Sequence[str]]],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k_cand: int = 20,
    dim: int = 16,
    rrf_k: int = 60,
) -> DataFrame:
    """Hybrid retrieval: BM25 (sparse) and cosine over feature-hash
    embeddings (dense), fused by reciprocal-rank fusion
    (Cormack et al. 2009): rrf(d) = sum over systems of
    1 / (rrf_k + rank_sys(d)) over each system's top ``k_cand``.
    RRF needs only RANKS, which is what makes it engine-exact here:
    both input rankings are already deterministic (BM25 on the
    4dp-rounded score, dense on the 4dp-rounded integer-math cosine,
    ties by doc_id), and 1/(60+r) is one exact-rounded IEEE division
    of small integers — identical everywhere, no score calibration
    between systems needed (the whole reason RRF is the production
    default for hybrid).

    100 TB shape: the sparse side is bm25_search (vocabulary-filtered
    postings); the dense side is ONE broadcast of |queries| literal
    vectors against the feature_hash_embed aggregate (integer dot in
    codegen) with per-query top-k_cand; fusion is a full-outer join of
    two <= |queries| * k_cand row tables — driver-free throughout. A
    real ANN index (knn_lsh / knn_ivf) slots into the dense side
    unchanged: RRF consumes ranks, not scores.

    Returns (query_id, rank, doc_id, rrf).
    """
    from navigator_document_parser_spark.operators.similarity import (
        feature_hash_embed,
    )

    spark = df.sparkSession
    qlist = [(int(qid), list(terms)) for qid, terms in queries]

    sparse = bm25_search(
        df, qlist, id_col=id_col, text_col=text_col, k=k_cand
    ).select("query_id", "doc_id", F.col("rank").alias("r_sparse"))

    vecs = feature_hash_embed(df, id_col=id_col, text_col=text_col,
                              dim=dim)
    qrows = []
    for qid, terms in qlist:
        qv = _fh_query_vec(terms, dim)
        qn = sum(x * x for x in qv)
        qrows.append(tuple([qid] + qv + [qn]))
    qschema = (
        "query_id bigint, "
        + ", ".join(f"qv{j} bigint" for j in range(dim))
        + ", qnorm_sq bigint"
    )
    qdf = spark.createDataFrame(qrows, qschema)

    dot = sum(
        (F.col(f"v{j}") * F.col(f"qv{j}") for j in range(dim)),
        F.lit(0).cast("bigint"),
    )
    sim = F.when(
        (F.col("norm_sq") == 0) | (F.col("qnorm_sq") == 0), F.lit(0.0)
    ).otherwise(
        F.round(
            dot.cast("double")
            / F.sqrt((F.col("norm_sq") * F.col("qnorm_sq")).cast("double")),
            4,
        )
    )
    wd = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("doc_id").asc_nulls_last()
    )
    dense = (
        vecs.crossJoin(F.broadcast(qdf))
        .select("query_id", "doc_id", sim.alias("sim"))
        .withColumn("r_dense", F.row_number().over(wd))
        .filter(F.col("r_dense") <= k_cand)
        .select("query_id", "doc_id", "r_dense")
    )

    fused = sparse.join(dense, ["query_id", "doc_id"], "full").select(
        "query_id", "doc_id",
        (
            F.coalesce(1.0 / (F.lit(rrf_k) + F.col("r_sparse")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("r_dense")), F.lit(0.0))
        ).alias("rrf"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id").asc_nulls_last()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", F.round("rrf", 6).alias("rrf"))
    )


def oracle_hybrid_search_rrf(
    queries: Iterable[tuple[int, Sequence[str]]],
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
    k: int = 10,
    k_cand: int = 20,
    dim: int = 16,
    rrf_k: int = 60,
) -> str:
    """DuckDB replica of hybrid_search_rrf: the bm25 oracle and the
    feature-hash-embed oracle as CTEs, same literal query vectors, same
    1/(rrf_k + rank) fusion."""
    from navigator_document_parser_spark.operators.similarity import (
        oracle_feature_hash_embed,
    )

    qlist = [(int(qid), list(terms)) for qid, terms in queries]
    sparse = oracle_bm25_search(
        qlist, id_col=id_col, text_col=text_col, table=table, k=k_cand
    )
    emb = oracle_feature_hash_embed(
        id_col=id_col, text_col=text_col, table=table, dim=dim
    )
    qvals = []
    for qid, terms in qlist:
        qv = _fh_query_vec(terms, dim)
        qn = sum(x * x for x in qv)
        qvals.append(
            "(" + ", ".join(str(x) for x in [qid] + qv + [qn]) + ")"
        )
    qcols = "query_id, " + ", ".join(
        f"qv{j}" for j in range(dim)
    ) + ", qnorm_sq"
    dot = " + ".join(f"v.v{j} * q.qv{j}" for j in range(dim))
    return f"""
        WITH sparse AS (
          SELECT query_id, doc_id, rank AS r_sparse FROM ({sparse})
        ), emb AS ({emb}),
        qv({qcols}) AS (VALUES {', '.join(qvals)}),
        dense AS (
          SELECT query_id, doc_id, r_dense FROM (
            SELECT q.query_id, v.doc_id,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY (CASE WHEN v.norm_sq = 0 OR q.qnorm_sq = 0
                       THEN 0.0
                       ELSE round(CAST({dot} AS DOUBLE)
                            / sqrt(CAST(v.norm_sq * q.qnorm_sq AS DOUBLE)),
                            4) END) DESC, v.doc_id ASC) AS r_dense
            FROM emb v CROSS JOIN qv q
          ) WHERE r_dense <= {k_cand}
        ),
        fused AS (
          SELECT query_id, doc_id,
                 coalesce(1.0 / ({rrf_k} + s.r_sparse), 0.0)
                 + coalesce(1.0 / ({rrf_k} + d.r_dense), 0.0) AS rrf
          FROM sparse s FULL OUTER JOIN dense d USING (query_id, doc_id)
        )
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(rank AS BIGINT) AS rank,
               doc_id, round(rrf, 6) AS rrf
        FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY rrf DESC, doc_id ASC) AS rank
          FROM fused
        )
        WHERE rank <= {k}
    """


# ---- snippet / highlight extraction (the serving-side display step) --------

def snippet_search(
    df: DataFrame,
    queries: Iterable[tuple[int, Sequence[str]]],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    width: int = 80,
    lead: int = 40,
) -> DataFrame:
    """BM25 top-k plus a deterministic display snippet per hit: the
    ``width``-char window starting ``lead`` chars before the FIRST
    occurrence (case-folded, min over query terms) of any query term —
    what a result page renders under each link. Entirely integer
    string math (strpos/substr are 1-based with identical clamping in
    both engines), so the snippet text itself is engine-exact.

    A term can match inside a longer word (instr is substring search,
    not token search) — that is display behavior, not ranking: ranking
    stays with bm25_search. Hits whose text contains no literal term
    occurrence (possible only if tokenization split differently than
    the raw text) keep a NULL pos/snippet rather than a fabricated
    window.

    100 TB shape: the corpus-sized work is bm25_search (vocabulary-
    filtered postings); the snippet pass touches only |queries| * k
    winning docs — one broadcast terms join + one semi-join-sized text
    fetch. Returns (query_id, rank, doc_id, pos, snippet).
    """
    spark = df.sparkSession
    qlist = [(int(qid), list(terms)) for qid, terms in queries]
    hits = bm25_search(
        df, qlist, id_col=id_col, text_col=text_col, k=k
    ).select("query_id", "rank", "doc_id")

    qterms = spark.createDataFrame(
        [
            (qid, t)
            for qid, terms in qlist
            for t in sorted(set(terms))
        ],
        "query_id bigint, term string",
    )
    docs = df.select(
        F.col(id_col).alias("doc_id"),
        F.lower(F.col(text_col)).alias("ltext"),
        F.col(text_col).alias("text"),
    )
    pos = (
        hits.join(docs, "doc_id")
        .join(F.broadcast(qterms), "query_id")
        .withColumn("p", F.expr("instr(ltext, term)"))
        .groupBy("query_id", "rank", "doc_id")
        .agg(
            F.min(F.when(F.col("p") > 0, F.col("p")))
            .cast("bigint")
            .alias("pos"),
            F.first("text").alias("text"),
        )
    )
    start = F.greatest(F.lit(1), (F.col("pos") - F.lit(int(lead))))
    return pos.select(
        "query_id",
        "rank",
        "doc_id",
        "pos",
        F.col("text")
        .substr(start.cast("int"), F.lit(int(width)))
        .alias("snippet"),
    )


def oracle_snippet_search(
    queries: Iterable[tuple[int, Sequence[str]]],
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
    k: int = 5,
    width: int = 80,
    lead: int = 40,
) -> str:
    """DuckDB replica of snippet_search — same bm25 hits CTE, same
    strpos/min/substr math."""
    from navigator_document_parser_spark.operators import sql_quote

    qlist = [(int(qid), list(terms)) for qid, terms in queries]
    hits = oracle_bm25_search(
        qlist, id_col=id_col, text_col=text_col, table=table, k=k
    )
    tvals = ", ".join(
        f"({qid}, {sql_quote(t)})"
        for qid, terms in qlist
        for t in sorted(set(terms))
    )
    return f"""
        WITH hits AS (
          SELECT query_id, rank, doc_id FROM ({hits})
        ),
        terms(query_id, term) AS (VALUES {tvals}),
        docs AS (
          SELECT {id_col} AS doc_id, lower({text_col}) AS ltext,
                 {text_col} AS text
          FROM {table}
        ),
        pos AS (
          SELECT h.query_id, h.rank, h.doc_id,
                 CAST(min(CASE WHEN strpos(d.ltext, t.term) > 0
                          THEN strpos(d.ltext, t.term) END) AS BIGINT)
                   AS pos,
                 min(d.text) AS text
          FROM hits h
          JOIN docs d USING (doc_id)
          JOIN terms t ON t.query_id = h.query_id
          GROUP BY h.query_id, h.rank, h.doc_id
        )
        SELECT query_id, rank, doc_id, pos,
               substring(text,
                         CAST(greatest(1, pos - {int(lead)}) AS INT),
                         {int(width)}) AS snippet
        FROM pos
    """


# --------------------------------------------------------------------------
# retrieval quality evaluation (nDCG@k, MRR@k)
# --------------------------------------------------------------------------

def _dcg_weights(k: int) -> list[float]:
    """Literal per-rank DCG discounts 1/log2(rank+1), computed ONCE in
    Python and embedded as repr() literals on both engines — so the
    only cross-engine float ops are k multiplications and k-1 additions
    in a FIXED left-associated order (CLAUDE.md lesson 13 discipline:
    repr(float) round-trips exactly into both Java and DuckDB doubles).
    """
    import math

    return [1.0 / math.log2(i + 1) for i in range(1, k + 1)]


_GAIN_SQL = (
    "(CASE {rel} WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 7 END)"
)


def search_eval(
    hits: DataFrame,
    rels: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Graded retrieval evaluation: nDCG@k and MRR@k per query — the
    measurement step that closes the index build -> serve -> evaluate
    loop (how every ranking change in a search/RAG pipeline is judged).

    ``hits``: (query_id, doc_id, rank) from any retriever;
    ``rels``:  (query_id, doc_id, rel) integer grades 0..3.

    Gains are the standard 2^rel - 1 (integer CASE ladder); DCG is a
    PIVOTED explicit sum — one max(CASE rank=i) column per position
    times a repr-literal discount, added left-to-right — so no
    cross-row float SUM whose partition order could differ between
    engines. IDCG ranks the query's own judged gains descending
    (doc_id tie-break); ndcg = round(dcg/idcg, 4), NULL when the query
    has no relevant documents; mrr = 1/first-relevant-rank, exact
    IEEE division; n_rel = the TOTAL relevant judged count (not
    capped at k — usable as a recall@k denominator).

    100 TB shape: one broadcast-sized join (hits x rels on the pair
    key), two #queries-row hash aggregates, one bounded window over
    judged docs per query. Everything after the join is O(#queries).
    """
    from pyspark.sql import Window

    kk = int(k)
    ws = _dcg_weights(kk)
    h = (
        hits.filter(F.col("rank") <= kk)
        .join(rels, ["query_id", "doc_id"], "left")
        .withColumn("rel0", F.coalesce(F.col("rel"), F.lit(0)))
        .withColumn("gain", F.expr(_GAIN_SQL.format(rel="rel0")))
    )
    dcg_cols = [
        F.max(
            F.when(F.col("rank") == i + 1, F.col("gain")).otherwise(0)
        ).alias(f"g{i + 1}")
        for i in range(kk)
    ]
    mrr = F.min(
        F.when(F.col("rel0") > 0, F.col("rank"))
    ).alias("first_rel")
    per_q = h.groupBy("query_id").agg(*dcg_cols, mrr)
    dcg_expr = " + ".join(
        f"(CAST(g{i + 1} AS DOUBLE) * ({ws[i]!r}))" for i in range(kk)
    )

    jw = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("doc_id").asc_nulls_last()
    )
    judged = rels.withColumn(
        "irank", F.row_number().over(jw)
    ).withColumn("igain", F.expr(_GAIN_SQL.format(rel="rel")))
    idcg_cols = [
        F.max(
            F.when(F.col("irank") == i + 1, F.col("igain")).otherwise(0)
        ).alias(f"ig{i + 1}")
        for i in range(kk)
    ]
    # n_rel = TOTAL relevant judged docs (recall@k denominators need
    # the uncapped count) — aggregated over ALL judged rows, while the
    # IDCG pivot reads only the top-k ideal ranks
    ideal = judged.groupBy("query_id").agg(
        *idcg_cols,
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_rel"),
    )
    idcg_expr = " + ".join(
        f"(CAST(ig{i + 1} AS DOUBLE) * ({ws[i]!r}))" for i in range(kk)
    )
    out = per_q.join(ideal, "query_id", "left")
    return out.select(
        "query_id",
        F.coalesce(F.col("n_rel"), F.lit(0)).cast("bigint").alias("n_rel"),
        F.when(
            F.expr(idcg_expr) > 0,
            F.round(F.expr(dcg_expr) / F.expr(idcg_expr), 4),
        ).alias(f"ndcg{kk}"),
        F.when(
            F.col("first_rel").isNotNull(),
            F.lit(1.0) / F.col("first_rel"),
        ).alias(f"mrr{kk}"),
    )


def oracle_search_eval(hits_sql: str, rels_sql: str, k: int = 5) -> str:
    """DuckDB replica of search_eval: ``hits_sql`` yields
    (query_id, doc_id, rank), ``rels_sql`` yields
    (query_id, doc_id, rel); both may be full statements (wrapped as
    derived tables). Same pivoted explicit sums, same repr literals."""
    kk = int(k)
    ws = _dcg_weights(kk)
    gain = _GAIN_SQL.format(rel="rel0")
    igain = _GAIN_SQL.format(rel="rel")
    g_cols = ",\n                 ".join(
        f"MAX(CASE WHEN rank = {i + 1} THEN {gain} ELSE 0 END) AS g{i + 1}"
        for i in range(kk)
    )
    ig_cols = ",\n                 ".join(
        f"MAX(CASE WHEN irank = {i + 1} THEN {igain} ELSE 0 END)"
        f" AS ig{i + 1}"
        for i in range(kk)
    )
    dcg = " + ".join(
        f"(CAST(g{i + 1} AS DOUBLE) * ({ws[i]!r}))" for i in range(kk)
    )
    idcg = " + ".join(
        f"(CAST(ig{i + 1} AS DOUBLE) * ({ws[i]!r}))" for i in range(kk)
    )
    return f"""
        WITH hits AS (SELECT * FROM ({hits_sql}) _h),
        rels AS (SELECT * FROM ({rels_sql}) _r),
        h AS (
          SELECT ht.query_id, ht.rank,
                 COALESCE(r.rel, 0) AS rel0
          FROM hits ht LEFT JOIN rels r
            ON ht.query_id = r.query_id AND ht.doc_id = r.doc_id
          WHERE ht.rank <= {kk}
        ), per_q AS (
          SELECT query_id,
                 {g_cols},
                 MIN(CASE WHEN rel0 > 0 THEN rank END) AS first_rel
          FROM h GROUP BY query_id
        ), judged AS (
          SELECT query_id, rel,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY rel DESC, doc_id ASC) AS irank
          FROM rels
        ), ideal AS (
          SELECT query_id,
                 {ig_cols},
                 CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_rel
          FROM judged GROUP BY query_id
        )
        SELECT p.query_id,
               COALESCE(i.n_rel, 0) AS n_rel,
               CASE WHEN ({idcg}) > 0
                    THEN round(({dcg}) / ({idcg}), 4) END AS ndcg{kk},
               CASE WHEN p.first_rel IS NOT NULL
                    THEN 1.0 / p.first_rel END AS mrr{kk}
        FROM per_q p LEFT JOIN ideal i ON i.query_id = p.query_id
    """


# ---- prefix autocomplete (the search-suggest index) ------------------------

def prefix_suggest(
    docs: DataFrame,
    k: int = 3,
    max_prefix: int = 4,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Query-autocomplete index: for every term prefix of length
    1..max_prefix, the top-k corpus terms by document frequency — the
    table a suggest-as-you-type service serves straight from memory
    (prefix -> ranked completions), built offline next to index_export.

    DF, not raw term count (one spammy page repeating a term must not
    own a prefix); rank = (df desc, term asc) so ties are
    deterministic; min_count prunes the hapax tail BEFORE the prefix
    explode (at web scale the tail is most of the vocabulary and
    contributes nothing a user should be offered).

    100 TB shape: one (term, doc) dedup aggregate -> vocabulary-sized
    table, <= max_prefix rows per term after the explode, one
    per-prefix top-k window over groups already cut to the surviving
    vocabulary. No full-corpus shuffle beyond the DF aggregate (which
    has map-side combine).

    Returns (prefix, rank, term, df).
    """
    if k <= 0 or max_prefix <= 0:
        raise ValueError("k and max_prefix must be positive")
    vocab = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            # extract-all of the token class == split on its complement
            # with empties dropped (identical stream; the negated-class
            # java-regex split measured 13x slower — r7)
            F.explode(
                F.expr(
                    f"regexp_extract_all(lower({text_col}),"
                    " '[a-z0-9_]+', 0)"
                )
            ).alias("term"),
        )
        .dropDuplicates(["term", "doc_id"])
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        .filter(F.col("df") >= int(min_count))
    )
    pre = vocab.select(
        "term", "df",
        F.explode(
            F.expr(
                f"transform(sequence(1, least({int(max_prefix)},"
                f" length(term))), p -> substring(term, 1, p))"
            )
        ).alias("prefix"),
    )
    w = Window.partitionBy("prefix").orderBy(
        F.col("df").desc(), F.col("term").asc()
    )
    return (
        pre.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(
            "prefix", F.col("rank").cast("bigint").alias("rank"),
            "term", "df",
        )
    )


def oracle_prefix_suggest(
    k: int = 3,
    max_prefix: int = 4,
    min_count: int = 2,
    table: str = "documents",
) -> str:
    """DuckDB replica of prefix_suggest over ``table`` (doc_id, text)."""
    return f"""
        WITH vocab AS (
          SELECT term, CAST(count(*) AS BIGINT) AS df FROM (
            SELECT DISTINCT doc_id, unnest(list_filter(
              string_split_regex(lower(text), '[^a-z0-9_]+'),
              x -> x <> '')) AS term
            FROM {table}
          ) GROUP BY term
          HAVING count(*) >= {int(min_count)}
        ), pre AS (
          SELECT term, df,
                 unnest(list_transform(
                   range(1, least({int(max_prefix)}, length(term)) + 1),
                   p -> substr(term, 1, p))) AS prefix
          FROM vocab
        )
        SELECT prefix, CAST(rank AS BIGINT) AS rank, term, df
        FROM (
          SELECT *, row_number() OVER (PARTITION BY prefix
                   ORDER BY df DESC, term ASC) AS rank
          FROM pre
        )
        WHERE rank <= {int(k)}
    """
