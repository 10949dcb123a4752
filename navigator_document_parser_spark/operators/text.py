"""Text-analysis operators — pure JVM-side column expressions.

Training-data pipeline primitives over a text column: token counting,
quality scoring, heuristic language ID, document fingerprinting. All
built-in pyspark.sql.functions (whole-stage codegen; no Python in the hot
path) and all expressible in ANSI-ish SQL so the DuckDB oracle can verify
them 1:1.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from navigator_document_parser_spark.operators import (
    collect_if_small,
    ratio4,
    ratio4_sql,
)

# small portable punctuation class (identical semantics in Spark + DuckDB
# regex; deliberately NOT \p{Punct}, whose membership differs by engine)
PUNCT_CLASS = "[.,;:!?]"

_WS_RE = re.compile(r"\s+")


def token_count(col: Column) -> Column:
    """Whitespace token count; 0 for blank/empty."""
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def punct_count(col: Column) -> Column:
    return F.length(col) - F.length(F.regexp_replace(col, PUNCT_CLASS, ""))


def quality_score(col: Column) -> Column:
    """Deterministic [0,1] quality heuristic.

    score = min(1, tokens/200) * (1 - punct_ratio), rounded to 4dp.
    Length rewards substance; punctuation-density penalizes boilerplate
    (same spirit as P8's all-punctuation skip, translate.py:13-25).
    """
    n = F.length(col)
    tokens = token_count(col)
    punct_ratio = F.when(n == 0, F.lit(0.0)).otherwise(
        punct_count(col) / n.cast("double")
    )
    raw = F.least(F.lit(1.0), tokens / F.lit(200.0)) * (F.lit(1.0) - punct_ratio)
    return F.round(raw, 4)


# marker words per language for the SQL-expressible heuristic lang ID.
# Occurrences counted as substring ' w ' hits — portable via replace().
LANG_MARKERS = {
    "en": [" the ", " and ", " of "],
    "fr": [" le ", " la ", " les "],
    "de": [" der ", " die ", " und "],
    "es": [" el ", " los ", " las "],
}


def _marker_hits(col: Column, marker: str) -> Column:
    return (
        F.length(col) - F.length(F.replace(col, F.lit(marker), F.lit("")))
    ) / F.lit(len(marker))


def lang_guess(col: Column) -> Column:
    """argmax over marker-word hit counts; 'und' when all zero.

    Tie-break: fixed language order en>fr>de>es (first max wins).
    """
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    scores = {
        lang: sum(
            (_marker_hits(padded, m) for m in markers), start=F.lit(0.0)
        )
        for lang, markers in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # build reversed so earlier languages win ties
    for lang in reversed(list(LANG_MARKERS)):
        expr = F.when((scores[lang] > 0) & (scores[lang] == best), lang).otherwise(expr)
    return expr


def fingerprint(col: Column) -> Column:
    """Normalized-content fingerprint: md5 of lowercased,
    whitespace-collapsed text."""
    return F.md5(F.trim(F.regexp_replace(F.lower(col), r"\s+", " ")))


def _winnow_one(text: str, k: int, w: int) -> list[int]:
    """Winnowing selection of one text: md5-prefix hashes of its
    k-grams (lowered, whitespace collapsed), the min of each window of
    w, distinct in first-selection order."""
    t = _WS_RE.sub(" ", (text or "").lower()).strip()
    n = len(t) - k + 1
    if n < 1:
        return []
    grams = [
        int(hashlib.md5(t[i : i + k].encode("utf-8")).hexdigest()[:8], 16)
        for i in range(n)
    ]
    n_win = n - w + 1
    if n_win < 1:
        return []
    seen: set[int] = set()
    out: list[int] = []
    for j in range(n_win):
        m = min(grams[j : j + w])
        if m not in seen:
            seen.add(m)
            out.append(m)
    return out


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken):
    k-gram hashes -> min per sliding window of w -> distinct selections.

    Output rows (id, fp) — the robust rolling-hash fingerprint set used
    for plagiarism-style containment detection. Hashes are md5-prefix
    ints, portable to the DuckDB oracle. Short texts (< k chars after
    normalization) produce no rows.
    """
    # Arrow-batched pandas UDF, not nested array expressions: composing
    # slice() over a computed gram array re-inlines the whole gram
    # expression per window after CollapseProject -> O(n^2) md5 per row
    # (measured: did not finish at 500 docs). The Python loop is O(n)
    # and uses the same md5 math, so the SQL oracle still reproduces it.
    from typing import Iterator

    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                for fp in _winnow_one(text, k, w):
                    ids.append(doc_id)
                    fps.append(fp)
            yield pd.DataFrame({"id": pd.Series(ids, dtype="int64"),
                                "fp": pd.Series(fps, dtype="int64")})

    return df.select(id_col, text_col).mapInPandas(
        run, schema="id long, fp long"
    )


def _winnow_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    w: int,
) -> DataFrame:
    """winnow_fingerprints folded per doc: one row (id, fpa, n_fp) per
    document with >= 1 selected fingerprint — the same _winnow_one math,
    emitted as arrays so winnow_pairs never pays the 5M-row explode +
    groupBy round-trip just to fold them back."""
    from typing import Iterator

    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, arrs, lens = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                lst = _winnow_one(text, k, w)
                if lst:
                    ids.append(doc_id)
                    arrs.append(lst)
                    lens.append(len(lst))
            yield pd.DataFrame({
                "id": pd.Series(ids, dtype="int64"),
                "fpa": pd.Series(arrs, dtype="object"),
                "n_fp": pd.Series(lens, dtype="int64"),
            })

    return df.select(id_col, text_col).mapInPandas(
        run, schema="id long, fpa array<long>, n_fp bigint"
    )


def oracle_winnow(k: int = 8, w: int = 4) -> str:
    """DuckDB equivalent of winnow_fingerprints over `documents`."""
    return f"""
        WITH norm AS (
          SELECT doc_id,
                 trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
          FROM documents
        ), grams AS (
          SELECT doc_id,
                 CASE WHEN length(t) - {k} + 1 < 1 THEN []
                 ELSE list_transform(
                   generate_series(1, length(t) - {k} + 1),
                   i -> CAST('0x' || substring(md5(substring(t, i, {k})), 1, 8)
                             AS BIGINT))
                 END AS g
          FROM norm
        ), sel AS (
          SELECT doc_id,
                 CASE WHEN length(g) - {w} + 1 < 1 THEN []
                 ELSE list_distinct(list_transform(
                   generate_series(1, length(g) - {w} + 1),
                   j -> list_aggregate(list_slice(g, j, j + {w} - 1), 'min')))
                 END AS fps
          FROM grams
        )
        SELECT doc_id AS id, unnest(fps) AS fp FROM sel
    """


# Docs per winnow_pairs block: B = ceil(n / WINNOW_BLOCK_ROWS) blocks per
# side, so n*B replicated rows against B*(B+1)/2 block-pair tasks. Read at
# call time; tests patch it.
WINNOW_BLOCK_ROWS = 2048


def winnow_pairs(
    df: DataFrame,
    min_shared: int = 3,
    k: int = 8,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MOSS-style plagiarism pairs over winnowing fingerprints
    (Schleimer/Wilkerson/Aiken §4): documents sharing >= ``min_shared``
    selected fingerprints, scored by containment against the SMALLER
    fingerprint set — position-sampled robustness the n-gram Jaccard
    path doesn't have (winnowing guarantees a shared fingerprint for
    any shared run of length >= w+k-1, whatever its position).

    Pair counting is a blocked sparse matrix product computed INSIDE
    Arrow tasks, not an fp equi-join: winnowing selections on a
    boilerplate-heavy corpus are corpus-hot (measured at 200k docs:
    6,952 distinct fps over 5.6M (doc, fp) rows, max df 33,700 — the
    fp self-join shuffles sum(df^2) ~ 19 BILLION pair rows through a
    JVM join + re-shuffled aggregate, 380s). Instead: docs fold to
    (id, fp-array) once, each doc's array is replicated to its
    B = ceil(n/WINNOW_BLOCK_ROWS) block-pair tasks, and every task counts its
    block pair's intersections with a per-left-doc gather + bincount
    over a fp-sorted right-side inverted index — the (id_a, id_b)
    aggregation happens entirely in-task (both docs' full fp sets are
    present, so every pair's count is FINAL — nothing quadratic ever
    crosses the shuffle).
    Replication ships n*B doc rows, so WINNOW_BLOCK_ROWS trades task count
    against shuffle volume; the min_shared filter applies in-task,
    before emission.

    Returns (id_a, id_b, n_shared, containment4).
    """
    import numpy as np
    import pandas as pd

    sets = _winnow_sets(
        df, id_col=id_col, text_col=text_col, k=k, w=w
    ).localCheckpoint(eager=True)
    n_docs = sets.count()
    n_blocks = max(1, -(-int(n_docs) // WINNOW_BLOCK_ROWS))
    min_sh = int(min_shared)

    rep = (
        sets.withColumn(
            "c", F.pmod(F.xxhash64("id"), F.lit(n_blocks)).cast("int")
        )
        .withColumn(
            "o", F.explode(F.array(*[F.lit(t) for t in range(n_blocks)]))
        )
        .select(
            F.least("c", "o").alias("ka"),
            F.greatest("c", "o").alias("kb"),
            "c", "id", "fpa", "n_fp",
        )
    )

    id_type = df.schema[id_col].dataType.simpleString()

    def count_block(key, pdf):
        ka, kb = key
        empty = pd.DataFrame(
            {"id_a": [], "id_b": [], "n_shared": [], "n_a": [], "n_b": []}
        )
        diagonal = ka == kb
        if diagonal:
            left = right = pdf
        else:
            left = pdf[pdf["c"] == ka]
            right = pdf[pdf["c"] == kb]
        nl, nr = len(left), len(right)
        if nl == 0 or nr == 0:
            return empty

        # right-side inverted index: fp-sorted doc positions + per-fp
        # group offsets (the spGEMM gather side)
        r_lens = right["fpa"].map(len).to_numpy()
        r_doc = np.repeat(np.arange(nr), r_lens)
        r_fp = np.concatenate(right["fpa"].to_numpy()).astype(
            np.int64, copy=False
        )
        order = np.argsort(r_fp, kind="stable")
        r_fp = r_fp[order]
        r_doc = r_doc[order]
        ur, rstart, rcnt = np.unique(
            r_fp, return_index=True, return_counts=True
        )

        ids_l = left["id"].to_numpy()
        ids_r = right["id"].to_numpy()
        nfp_l = left["n_fp"].to_numpy()
        nfp_r = right["n_fp"].to_numpy()
        out_ia, out_ib, out_ns, out_na, out_nb = [], [], [], [], []
        for xi, fparr in enumerate(left["fpa"].to_numpy()):
            fx = np.asarray(fparr, dtype=np.int64)
            gi = np.searchsorted(ur, fx)
            gi = np.minimum(gi, len(ur) - 1)
            gi = gi[ur[gi] == fx]
            if gi.size == 0:
                continue
            cnts = rcnt[gi]
            m = int(cnts.sum())
            # grouped ranges: for each matched fp, its right-doc slice
            g = np.repeat(np.arange(gi.size), cnts)
            off = np.concatenate(([0], np.cumsum(cnts)[:-1]))
            pos = np.arange(m) - off[g]
            hits = r_doc[rstart[gi][g] + pos]
            row_counts = np.bincount(hits, minlength=nr)
            yi = np.nonzero(row_counts >= min_sh)[0]
            if yi.size == 0:
                continue
            ia = np.full(yi.size, ids_l[xi])
            ib = ids_r[yi]
            if diagonal:
                keep = ia < ib
                ia, ib, yi = ia[keep], ib[keep], yi[keep]
                if yi.size == 0:
                    continue
            na = np.full(yi.size, nfp_l[xi])
            nb = nfp_r[yi]
            if not diagonal:
                swap = ib < ia
                ia, ib = np.where(swap, ib, ia), np.where(swap, ia, ib)
                na, nb = np.where(swap, nb, na), np.where(swap, na, nb)
            out_ia.append(ia)
            out_ib.append(ib)
            out_ns.append(row_counts[yi])
            out_na.append(na)
            out_nb.append(nb)
        if not out_ia:
            return empty
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_ia),
                "id_b": np.concatenate(out_ib),
                "n_shared": np.concatenate(out_ns),
                "n_a": np.concatenate(out_na),
                "n_b": np.concatenate(out_nb),
            }
        )

    shared = rep.groupBy("ka", "kb").applyInPandas(
        count_block,
        schema=(
            f"id_a {id_type}, id_b {id_type}, n_shared bigint, "
            "n_a bigint, n_b bigint"
        ),
    )
    return shared.select(
        "id_a", "id_b", "n_shared",
        ratio4(
            F.col("n_shared"), F.least(F.col("n_a"), F.col("n_b"))
        ).alias("containment4"),
    )


def oracle_winnow_pairs(min_shared: int = 3, k: int = 8, w: int = 4) -> str:
    """DuckDB replica of winnow_pairs over `documents` (reuses the
    oracle_winnow fingerprint derivation verbatim). fps/sizes are
    MATERIALIZED: DuckDB inlines plain CTEs and the winnow derivation
    has 4 reference paths (lesson 21)."""
    r4 = ratio4_sql("n_shared", "least(n_a, n_b)")
    return f"""
        WITH fps AS MATERIALIZED ({oracle_winnow(k=k, w=w)}),
        sizes AS MATERIALIZED (
          SELECT id, CAST(count(*) AS BIGINT) AS n_fp
          FROM fps GROUP BY id
        ), shared AS (
          SELECT a.id AS id_a, b.id AS id_b,
                 CAST(count(*) AS BIGINT) AS n_shared
          FROM fps a JOIN fps b ON a.fp = b.fp AND a.id < b.id
          GROUP BY 1, 2
          HAVING count(*) >= {int(min_shared)}
        )
        SELECT s.id_a, s.id_b, s.n_shared, {r4} AS containment4
        FROM shared s
        JOIN (SELECT id, n_fp AS n_a FROM sizes) x ON s.id_a = x.id
        JOIN (SELECT id, n_fp AS n_b FROM sizes) y ON s.id_b = y.id
    """


# GPT-2-style pre-tokenizer, engine-portable: explicit Latin ranges
# instead of \p{L} (Java and RE2 ship different Unicode table versions;
# explicit classes are identical everywhere). Groups: common English
# contractions, optionally-space-prefixed letter runs, digit runs,
# punctuation runs, residual whitespace.
BPE_SPLIT_RE = (
    r"'(?:s|t|m|d|ll|ve|re)"
    r"| ?[A-Za-zÀ-ÖØ-öø-ÿ]+"
    r"| ?[0-9]+"
    r"| ?[^ A-Za-zÀ-ÖØ-öø-ÿ0-9]+"
)


def bpe_token_count(col: Column) -> Column:
    """Pre-token count under a BPE-ish split (the training-data 'how
    many tokens is this corpus' estimator — whitespace counts undershoot
    code/punctuation-heavy text badly). Pure codegen regexp; counts
    pre-tokens, i.e. an upper bound on merged BPE tokens."""
    return F.size(
        F.regexp_extract_all(col, F.lit(BPE_SPLIT_RE), F.lit(0))
    ).cast("bigint")


def oracle_bpe_token_count(col: str) -> str:
    pat = BPE_SPLIT_RE.replace("'", "''")  # SQL string-literal escaping
    return f"CAST(len(regexp_extract_all({col}, '{pat}')) AS BIGINT)"


# ---- deterministic (stratified) corpus sampling ---------------------------

def hash_sample(
    df: DataFrame,
    fraction: float,
    id_col: str = "doc_id",
    strata: dict[str, float] | None = None,
    strata_col: str = "lang",
    salt: str = "sample",
) -> DataFrame:
    """Deterministic subsample: keep a row iff the md5 of (salt, id)
    falls under the stratum's fraction — the reproducible alternative to
    RNG-based TABLESAMPLE for data-mix construction (re-running any
    subset of the corpus re-selects exactly the same documents, and a
    fraction increase is a SUPERSET of the smaller sample, so mixes can
    be grown without resampling). Pure codegen'd filter: no shuffle, no
    state, embarrassingly parallel; md5 keeps it replayable in any
    engine. ``strata`` overrides the default fraction per strata_col
    value (absent keys use ``fraction``).
    """
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}:"),
                               F.col(id_col).cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    if strata:
        frac = F.lit(float(fraction))
        for key, f in sorted(strata.items()):
            frac = F.when(
                F.col(strata_col) == key, F.lit(float(f))
            ).otherwise(frac)
    else:
        frac = F.lit(float(fraction))
    return df.filter(u < frac)


def oracle_hash_sample(fraction: float, id_col: str = "doc_id",
                       strata: dict[str, float] | None = None,
                       strata_col: str = "lang",
                       salt: str = "sample") -> str:
    u = (
        f"(CAST('0x' || substring(md5('{salt}:' || "
        f"CAST({id_col} AS VARCHAR)), 1, 8) AS BIGINT) / 4294967296.0)"
    )
    frac = str(float(fraction))
    if strata:
        for key, f in sorted(strata.items()):
            frac = (
                f"CASE WHEN {strata_col} = '{key}' THEN {float(f)} "
                f"ELSE {frac} END"
            )
    return f"{u} < ({frac})"


# ---- sequence packing (training-batch prep) --------------------------------

def pack_sequences(
    df: DataFrame,
    max_tokens: int = 2048,
    n_shards: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "pack",
) -> DataFrame:
    """Assign documents to fixed-token-budget packs (the sequence-packing
    step before tokenized training batches are written).

    Greedy cumulative packing: within a shard, docs in id order go to
    pack floor(tokens_before / max_tokens) — a pack can overrun by at
    most one document (the standard streaming approximation; exact bin
    packing is inherently sequential). Sharding makes it SCALE: a single
    global running sum is one-partition work, so docs are first split
    into ``n_shards`` deterministic md5 shards and each shard packs
    independently in parallel — at 100 TB, shards map to writer tasks
    and (shard, pack_id) is the output file key. Deterministic and
    SQL-replayable (md5 shard + one window cumsum).
    """
    from pyspark.sql.window import Window

    n_tok = token_count(F.col(text_col)).cast("bigint")
    shard = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}:"),
                               F.col(id_col).cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("bigint"),
        F.lit(n_shards),
    ).cast("int")
    w = Window.partitionBy("shard").orderBy(F.col(id_col).asc())
    base = df.select(
        F.col(id_col), n_tok.alias("n_tokens"), shard.alias("shard")
    )
    return base.withColumn(
        "tokens_before",
        F.coalesce(
            F.sum("n_tokens").over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select(
        id_col,
        "shard",
        "n_tokens",
        F.floor(F.col("tokens_before") / F.lit(max_tokens))
        .cast("bigint")
        .alias("pack_id"),
    )


def oracle_pack_sequences(max_tokens: int = 2048, n_shards: int = 16,
                          id_col: str = "doc_id", text_col: str = "text",
                          salt: str = "pack",
                          table: str = "documents") -> str:
    nw = oracle_token_count(text_col)
    return f"""
        WITH base AS (
          SELECT {id_col},
                 CAST({nw} AS BIGINT) AS n_tokens,
                 CAST(CAST('0x' || substring(md5('{salt}:' ||
                      CAST({id_col} AS VARCHAR)), 1, 8) AS BIGINT)
                      % {n_shards} AS INTEGER) AS shard
          FROM {table}
        )
        SELECT {id_col}, shard, n_tokens,
               CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                      PARTITION BY shard ORDER BY {id_col} ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) * 1.0 / {max_tokens}) AS BIGINT) AS pack_id
        FROM base
    """


# ---- Gopher-style quality filter rules ------------------------------------

# the 8-word required-stopword list from Gopher (Rae et al. 2021 §A1.1):
# a doc must contain >= 2 of these DISTINCT words to pass
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Gopher-rule document quality signals + pass flag.

    Per doc: word count, mean word length, symbol-to-word ratio
    ('#' + '...' occurrences), distinct required-stopword hits; passes =
    50 <= words <= 100000 AND 3 <= mean_len <= 10 AND symbol_ratio < 0.1
    AND stop_hits >= 2 (the Gopher repro-filter core). Pure codegen'd
    column expressions, shuffle-free — embarrassingly parallel at any
    corpus size; every expression has identical SQL semantics for the
    DuckDB oracle.
    """
    c = F.col(text_col)
    n_words = token_count(c).cast("bigint")
    chars_no_ws = F.length(F.regexp_replace(c, r"\s", ""))
    mean_len = F.when(n_words > 0,
                      ratio4(chars_no_ws, n_words)).otherwise(F.lit(0.0))
    n_hash = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    n_ellipsis = F.size(F.regexp_extract_all(c, F.lit(r"\.\.\."), F.lit(0)))
    symbol_ratio = F.when(
        n_words > 0, ratio4(n_hash + n_ellipsis, n_words)
    ).otherwise(F.lit(0.0))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.split(F.trim(F.lower(c)), r"\s+")),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    ).cast("bigint")
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        stop_hits.alias("stop_hits"),
        (
            n_words.between(50, 100000)
            & mean_len.between(3.0, 10.0)
            & (symbol_ratio < 0.1)
            & (stop_hits >= 2)
        ).alias("passes"),
    )


def oracle_gopher(id_col: str = "doc_id", text_col: str = "text",
                  table: str = "documents") -> str:
    stops = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    nw = oracle_token_count(text_col)
    return f"""
        WITH g AS (
          SELECT {id_col},
                 CAST({nw} AS BIGINT) AS n_words,
                 length(regexp_replace({text_col}, '\\s', '', 'g'))
                   AS chars_no_ws,
                 length({text_col})
                   - length(replace({text_col}, '#', '')) AS n_hash,
                 len(regexp_extract_all({text_col}, '\\.\\.\\.'))
                   AS n_ellipsis,
                 CAST(length(list_intersect(
                   list_distinct(string_split_regex(
                     trim(lower({text_col})), '\\s+')),
                   [{stops}])) AS BIGINT) AS stop_hits
          FROM {table}
        )
        SELECT {id_col}, n_words,
               CASE WHEN n_words > 0
                 THEN (floor((((chars_no_ws)) * 20000.0 + ((n_words))) / (2.0 * ((n_words)))) / 10000.0)
                 ELSE 0.0 END AS mean_word_len,
               CASE WHEN n_words > 0
                 THEN (floor((((n_hash + n_ellipsis)) * 20000.0 + ((n_words))) / (2.0 * ((n_words)))) / 10000.0)
                 ELSE 0.0 END AS symbol_ratio,
               stop_hits,
               (n_words BETWEEN 50 AND 100000)
                 AND (CASE WHEN n_words > 0
                      THEN (floor((((chars_no_ws)) * 20000.0 + ((n_words))) / (2.0 * ((n_words)))) / 10000.0)
                      ELSE 0.0 END BETWEEN 3.0 AND 10.0)
                 AND (CASE WHEN n_words > 0
                      THEN (floor((((n_hash + n_ellipsis)) * 20000.0 + ((n_words))) / (2.0 * ((n_words)))) / 10000.0)
                      ELSE 0.0 END < 0.1)
                 AND stop_hits >= 2 AS passes
        FROM g
    """


# ---- benchmark decontamination -------------------------------------------

def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold: int = 1,
) -> DataFrame:
    """Flag corpus docs sharing >= ``threshold`` distinct word n-grams
    with ANY benchmark/holdout document (the standard training-data
    decontamination pass; production uses 8-13-grams, GPT-3 appendix C).

    Plan: benchmark n-grams are deduped and BROADCAST (holdout sets are
    tiny vs the corpus); the corpus side explodes its distinct shingles
    and hits are a broadcast-hash semi-join + one groupBy(doc) count —
    no corpus self-join, no shuffle of text. The shingle table is
    eagerly checkpointed (lineage barrier: InferFiltersFromGenerate +
    pushdown would re-evaluate the shingle HOF at the scan, CLAUDE.md
    lesson 3/7) and also serves as the output spine so shingle-less
    docs report n_hits=0.
    """
    from .dedup import word_shingles

    c_sh = corpus.select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), ngram).alias("sh"),
    ).localCheckpoint(eager=True)
    inv = c_sh.filter(F.size("sh") > 0).select(
        "id", F.explode("sh").alias("g")
    )
    b_sh = (
        benchmark.select(
            F.explode(word_shingles(F.col(text_col), ngram)).alias("g")
        ).distinct()
    )
    hits = (
        inv.join(F.broadcast(b_sh), "g")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        c_sh.select("id")
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias(
                "n_hits"
            ),
            (F.coalesce(F.col("n_hits"), F.lit(0)) >= threshold).alias(
                "contaminated"
            ),
        )
    )


# ---- PII scrubbing ---------------------------------------------------------

# portable regexes (same semantics in Java regex and RE2/DuckDB)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+\d{1,3} \d{3} \d{4}"


def pii_scrub(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Redact emails and international-format phone numbers, with
    per-document match counts. Pure codegen'd column expressions
    (regexp_extract_all + regexp_replace) — no Python, no shuffle; the
    pass is embarrassingly parallel at any corpus size. Patterns are
    deliberately restricted to syntax with identical semantics in Java
    regex and RE2 so the DuckDB oracle replays them 1:1.
    """
    c = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(c, F.lit(PHONE_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ).alias("scrubbed"),
    )


# ---- DuckDB oracle fragments (kept adjacent so drift is visible) ---------

def oracle_token_count(col: str) -> str:
    return (
        f"CASE WHEN length(trim({col})) = 0 THEN 0 "
        f"ELSE length(string_split_regex(trim({col}), '\\s+')) END"
    )


def oracle_punct_count(col: str) -> str:
    return f"length({col}) - length(regexp_replace({col}, '{PUNCT_CLASS}', '', 'g'))"


def oracle_quality(col: str) -> str:
    tc = oracle_token_count(col)
    pc = oracle_punct_count(col)
    return (
        f"round(least(1.0, {tc} / 200.0) * (1.0 - CASE WHEN length({col}) = 0 "
        f"THEN 0.0 ELSE ({pc}) * 1.0 / length({col}) END), 4)"
    )


def oracle_lang_guess(col: str) -> str:
    padded = f"(' ' || lower({col}) || ' ')"

    def hits(marker: str) -> str:
        return (
            f"((length({padded}) - length(replace({padded}, '{marker}', '')))"
            f" / {len(marker)}.0)"
        )

    score = {
        lang: " + ".join(hits(m) for m in markers)
        for lang, markers in LANG_MARKERS.items()
    }
    greatest = "greatest(" + ", ".join(f"({s})" for s in score.values()) + ")"
    expr = "'und'"
    for lang in reversed(list(LANG_MARKERS)):
        expr = (
            f"CASE WHEN ({score[lang]}) > 0 AND ({score[lang]}) = {greatest} "
            f"THEN '{lang}' ELSE {expr} END"
        )
    return expr


def oracle_fingerprint(col: str) -> str:
    return f"md5(trim(regexp_replace(lower({col}), '\\s+', ' ', 'g')))"


# ---- repetition signals (Gopher A1.3 analog) ------------------------------

def repetition_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_n: int = 2,
    top_frac_max: float = 0.2,
    dup_frac_max: float = 0.6,
) -> DataFrame:
    """Within-document repetition quality signals over word ``gram_n``-grams
    (the Gopher A1.3 repetition filters, word-level):

      top_gram_frac — characters in occurrences of the most frequent
                      gram / characters in ALL gram occurrences
                      (tie-break: count desc, gram asc)
      dup_gram_frac — characters in grams occurring >1 time / characters
                      in all gram occurrences
      passes        — top_gram_frac <= top_frac_max AND
                      dup_gram_frac <= dup_frac_max

    Grams overlap, so the denominator is total gram characters (keeps
    both fractions in [0, 1]) rather than document length.

    Documents with fewer than ``gram_n`` words have no signal and are
    dropped. Plan shape: ONE shuffle on doc_id (the lead() window);
    the (doc_id, gram) count, both per-doc aggregates, and the final
    join are all satisfied by that same hash partitioning (doc_id is a
    prefix of every downstream key), so Catalyst inserts no further
    exchanges — the whole operator is linear in total grams at any
    corpus size. Grams are built with lead(), never slice-over-
    computed-array HOFs (BENCH finding 9: those go O(n^2) after
    CollapseProject).
    """
    from pyspark.sql.window import Window

    words = F.split(F.trim(F.col(text_col)), r"\s+")
    pos = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(words).alias("pos", "word"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("word")] + [
        F.lead("word", i).over(w) for i in range(1, gram_n)
    ]
    # gram and its completeness guard MUST live in the SAME projection:
    # window functions evaluate over their input rows, so filtering on a
    # lead() first and concat'ing another lead() after would re-evaluate
    # the second window over the already-filtered frame and emit
    # truncated grams at each document tail
    grams = (
        pos.select(
            "doc_id",
            F.concat_ws(" ", *parts).alias("gram"),
            F.lead("word", gram_n - 1).over(w).alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .select("doc_id", "gram")
    )
    counts = grams.groupBy("doc_id", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # per-doc sums and the top gram come from WINDOW aggregates over the
    # same doc_id partitioning, not a (sums JOIN top) of two aggregates —
    # that shape re-computes the whole scan->explode->count subtree once
    # per branch (measured: 2 scans, 2 Generates; this one: 1 of each)
    w_top = Window.partitionBy("doc_id").orderBy(
        F.col("cnt").desc(), F.col("gram").asc()
    )
    w_doc = Window.partitionBy("doc_id")
    per_doc = counts.select(
        "doc_id",
        F.col("gram").alias("top_gram"),
        F.col("cnt").alias("top_gram_count"),
        F.row_number().over(w_top).alias("_rn"),
        F.sum(
            F.when(F.col("cnt") > 1, F.col("cnt") * F.length("gram"))
            .otherwise(F.lit(0))
        ).over(w_doc).alias("dup_chars"),
        F.sum(F.col("cnt") * F.length("gram")).over(w_doc).alias(
            "total_chars"
        ),
    ).filter(F.col("_rn") == 1)
    # 4dp rounding via INTEGER half-up, not round(double, 4): Spark's
    # round() goes through the shortest decimal repr (BigDecimal
    # HALF_UP on Double.toString) while DuckDB rounds the binary
    # double — a count ratio whose shortest repr lands exactly on
    # .xxxx5 (sf0.1 doc: dup_chars/total_chars printing as 0.14125)
    # rounds to 0.1413 vs 0.1412. floor((n*20000 + d) / (2d)) is
    # half-up of n*10000/d computed identically in both engines
    # (operands <= ~2e9, exact in double; same as lm_rarity's
    # integer-till-one-division discipline).
    def _ratio4(num, den):
        return F.floor((num * 20000 + den) / (den * 2)) / F.lit(1e4)

    top_frac = _ratio4(
        F.col("top_gram_count") * F.length("top_gram"),
        F.col("total_chars"),
    )
    dup_frac = _ratio4(F.col("dup_chars"), F.col("total_chars"))
    return per_doc.select(
        "doc_id",
        "top_gram",
        "top_gram_count",
        top_frac.alias("top_gram_frac"),
        dup_frac.alias("dup_gram_frac"),
        (
            (top_frac <= top_frac_max) & (dup_frac <= dup_frac_max)
        ).alias("passes"),
    )


def oracle_repetition(
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
    gram_n: int = 2,
    top_frac_max: float = 0.2,
    dup_frac_max: float = 0.6,
) -> str:
    gram_sql = " || ' ' || ".join(
        ["word"]
        + [
            f"lead(word, {i}) OVER (PARTITION BY doc_id ORDER BY pos)"
            for i in range(1, gram_n)
        ]
    )
    return f"""
        WITH w AS (
          SELECT {id_col} AS doc_id, length({text_col}) AS tlen,
                 unnest(string_split_regex(trim({text_col}), '\\s+')) AS word,
                 generate_subscripts(
                   string_split_regex(trim({text_col}), '\\s+'), 1) AS pos
          FROM {table}
        ), g AS (
          SELECT doc_id, tlen, {gram_sql} AS gram FROM w
        ), c AS (
          SELECT doc_id, gram, count(*) AS cnt
          FROM g WHERE gram IS NOT NULL GROUP BY doc_id, gram
        ), s AS (
          SELECT doc_id,
                 CAST(sum(CASE WHEN cnt > 1 THEN cnt * length(gram)
                          ELSE 0 END) AS BIGINT) AS dup_chars,
                 CAST(sum(cnt * length(gram)) AS BIGINT) AS total_chars
          FROM c GROUP BY doc_id
        ), t AS (
          SELECT doc_id, gram AS top_gram, cnt AS top_gram_count
          FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                  ORDER BY cnt DESC, gram ASC) AS rn FROM c)
          WHERE rn = 1
        )
        SELECT s.doc_id, t.top_gram,
               CAST(t.top_gram_count AS BIGINT) AS top_gram_count,
               floor((t.top_gram_count * length(t.top_gram) * 20000.0
                      + s.total_chars) / (2.0 * s.total_chars)) / 10000.0
                 AS top_gram_frac,
               floor((s.dup_chars * 20000.0 + s.total_chars)
                     / (2.0 * s.total_chars)) / 10000.0
                 AS dup_gram_frac,
               (floor((t.top_gram_count * length(t.top_gram) * 20000.0
                       + s.total_chars) / (2.0 * s.total_chars)) / 10000.0
                  <= {top_frac_max}
                AND floor((s.dup_chars * 20000.0 + s.total_chars)
                          / (2.0 * s.total_chars)) / 10000.0
                    <= {dup_frac_max}) AS passes
        FROM s JOIN t USING (doc_id)
    """


# ---- per-origin cap (anti-domination sampling) ----------------------------

def cap_per_group(
    df: DataFrame,
    group_col: str = "source",
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep at most ``k`` documents per origin (host/source/domain) —
    the anti-domination cap every crawl-scale corpus applies so one
    prolific site cannot dominate training data.

    Selection is a DETERMINISTIC hash order (md5 of the id), not
    arrival order: re-running on a grown corpus keeps a stable,
    unbiased per-origin sample. One shuffle on the group key; skewed
    origins are bounded by k rows out per group, and AQE splits the
    skewed window partitions on the way in.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("rank_in_group", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank_in_group") <= k)
        .select(id_col, group_col, "rank_in_group")
    )


def oracle_cap_per_group(
    group_col: str = "source",
    k: int = 10,
    id_col: str = "doc_id",
    table: str = "documents",
) -> str:
    return f"""
        SELECT {id_col}, {group_col},
               CAST(rank_in_group AS BIGINT) AS rank_in_group
        FROM (
          SELECT {id_col}, {group_col},
                 row_number() OVER (PARTITION BY {group_col}
                   ORDER BY md5(CAST({id_col} AS VARCHAR)) ASC,
                            {id_col} ASC) AS rank_in_group
          FROM {table}
        ) WHERE rank_in_group <= {k}
    """


# ---- tf-idf top terms (corpus analytics) -----------------------------------

def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by tf-idf.

    idf is the RATIONAL form (n_docs + 1) / (df + 1) rather than its
    logarithm: IEEE +,-,*,/ are correctly rounded and therefore
    bit-identical across engines, while ln() differs in the last ulp
    between libm implementations — the rational form ranks identically
    (log is monotone) and keeps the DuckDB oracle exact.

    Plan shape: one shuffle for tf on (doc_id, word); document
    frequencies aggregate map-side-partial over tf and come back as a
    BROADCAST vocabulary join (vocabulary << corpus); n_docs rides in
    as a broadcast 1-row cross join (no driver-side action, the whole
    operator is one lazy plan); final top-k window shuffles narrow
    (doc_id, term, score) rows only.
    """
    from pyspark.sql.window import Window

    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("term"),
    ).filter(F.length("term") > 0)
    # tf feeds BOTH the vocabulary aggregate and the scored join; without
    # a barrier each branch re-runs scan->explode->count (measured: 3
    # scans). The eager checkpoint is the single-batch analog of the
    # persisted term-frequency index a production corpus keeps anyway —
    # and eager because lazy barriers race (BENCH finding 7).
    tf = (
        words.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    dfreq = tf.groupBy("term").agg(
        F.count_distinct(F.col("doc_id")).alias("dfq")
    )
    n_docs = df.select(
        F.count_distinct(F.col(id_col)).alias("n_docs")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            ratio4(
                F.col("tf") * (F.col("n_docs") + F.lit(1)),
                F.col("dfq") + F.lit(1),
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "score", "rank")
    )


def oracle_tfidf(
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
    k: int = 3,
) -> str:
    return f"""
        WITH w AS (
          SELECT {id_col} AS doc_id,
                 unnest(string_split_regex(
                   trim(lower({text_col})), '\\s+')) AS term
          FROM {table}
        ), tf AS (
          SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
          FROM w WHERE length(term) > 0 GROUP BY doc_id, term
        ), dfreq AS (
          SELECT term, count(DISTINCT doc_id) AS dfq FROM tf GROUP BY term
        ), n AS (
          SELECT count(DISTINCT {id_col}) AS n_docs FROM {table}
        ), scored AS (
          SELECT tf.doc_id, tf.term, tf.tf,
                 (floor((((tf.tf * (n.n_docs + 1))) * 20000.0 + ((dfreq.dfq + 1))) / (2.0 * ((dfreq.dfq + 1)))) / 10000.0)
                   AS score
          FROM tf JOIN dfreq USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, tf, score, CAST(rank AS BIGINT) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                ORDER BY score DESC, term ASC) AS rank FROM scored)
        WHERE rank <= {k}
    """


# ---- model-based quality scoring (hashed linear classifier) ----------------

def ml_quality_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "q",
    threshold: float = 0.0,
) -> DataFrame:
    """fastText-style document quality scoring: a linear classifier over
    hashed token features — the model-based filter stage (e.g. CCNet /
    LLaMA-pipeline "quality model") expressed as pure codegen.

    Default weights are md5-derived integers in [-1000, 1000] (a
    deterministic stand-in; production swaps in trained weights by
    replacing the weight expression with a broadcast-map lookup — the
    aggregation shape is identical). The per-doc margin is
    mean(weight)/1000.

    Engine-exactness: weights stay INTEGERS and sum as BIGINT — integer
    addition is order-independent, unlike a float sum whose partial-
    aggregation order differs between Spark and the oracle — and the
    single final division is IEEE-exact on both engines. One shuffle
    (the per-doc aggregate, map-side partial); embarrassingly parallel
    at any corpus size.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("tok"),
    ).filter(F.length("tok") > 0)
    w_int = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed + ":"), F.col("tok"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 2001
        - 1000
    )
    agg = toks.groupBy("doc_id").agg(
        F.sum(w_int).alias("sw"), F.count(F.lit(1)).alias("n_tokens")
    )
    # engine-portable 4dp rounding: sign*floor(abs+.5), all IEEE ops on
    # an IEEE-identical quotient (same trick as quantize_embeddings) —
    # engines' round() disagree when the quotient lands exactly on a
    # .00005 boundary, which integer weight sums hit regularly
    x = F.col("sw") / (F.col("n_tokens") * F.lit(1000.0))
    margin = (
        F.signum(x) * F.floor(F.abs(x) * F.lit(10000.0) + F.lit(0.5))
        / F.lit(10000.0)
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        margin.alias("margin"),
        (margin > threshold).alias("keep"),
    )


def oracle_ml_quality(
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
    seed: str = "q",
    threshold: float = 0.0,
) -> str:
    return f"""
        WITH t AS (
          SELECT {id_col} AS doc_id,
                 unnest(string_split_regex(
                   trim(lower({text_col})), '\\s+')) AS tok
          FROM {table}
        ), w AS (
          SELECT doc_id,
                 CAST('0x' || substring(md5('{seed}:' || tok), 1, 8)
                      AS BIGINT) % 2001 - 1000 AS wi
          FROM t WHERE length(tok) > 0
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               sign(CAST(sum(wi) AS BIGINT) / (count(*) * 1000.0))
                 * floor(abs(CAST(sum(wi) AS BIGINT)
                             / (count(*) * 1000.0)) * 10000.0 + 0.5)
                 / 10000.0 AS margin,
               sign(CAST(sum(wi) AS BIGINT) / (count(*) * 1000.0))
                 * floor(abs(CAST(sum(wi) AS BIGINT)
                             / (count(*) * 1000.0)) * 10000.0 + 0.5)
                 / 10000.0 > {threshold} AS keep
        FROM w GROUP BY doc_id
    """


# ---- n-gram LM rarity filter (perplexity-proxy quality gate) --------------

def lm_rarity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    max_rare_frac: float = 0.02,
) -> DataFrame:
    """Corpus-trained bigram "language model" rarity filter — the
    integer-exact analog of a KenLM perplexity gate (CCNet trains an LM
    on clean text and drops high-perplexity docs): a document full of
    bigrams the corpus itself rarely produces is mis-encoded, mis-split,
    machine-generated, or off-distribution.

    A true perplexity is a float log-sum whose value differs in the last
    ulp across engines; the rarity fraction (share of bigram instances
    whose CORPUS frequency is below ``min_count``) ranks the same tail
    and stays integer until one final rounded division, so the DuckDB
    oracle hash-matches exactly.

    100 TB shape: one scan -> positional bigram explode -> count
    aggregate with map-side partial combine; the count table joins back
    on the bigram key as a plain equi-join (AQE broadcasts it when the
    vocabulary is small; web-scale bigram vocabularies are NOT
    broadcastable, so no broadcast hint is forced). Token arrays are
    checkpointed before the bigram transform (CLAUDE.md lessons 3/9).

    Returns (doc_id, n_bigrams, n_rare, rare_frac, pass_lm).
    """
    tokens = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = df.select(F.col(id_col).alias("doc_id"), tokens.alias("t"))
    base = base.localCheckpoint(eager=True)
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size("t") - 2),
        lambda i: F.concat(
            F.element_at("t", (i + 1).cast("int")),
            F.lit(" "),
            F.element_at("t", (i + 2).cast("int")),
        ),
    )
    bg = base.filter(F.size("t") >= 2).select(
        "doc_id", F.explode(bigrams).alias("bg")
    )
    counts = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("cnt"))
    per = (
        bg.join(counts, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(
                F.when(F.col("cnt") < min_count, 1).otherwise(0)
            ).alias("n_rare"),
        )
    )
    out = base.select("doc_id").join(per, "doc_id", "left")
    frac = F.when(
        F.coalesce(F.col("n_bigrams"), F.lit(0)) > 0,
        ratio4(F.col("n_rare"), F.col("n_bigrams")),
    ).otherwise(F.lit(0.0))
    return out.select(
        "doc_id",
        F.coalesce(F.col("n_bigrams"), F.lit(0))
        .cast("bigint")
        .alias("n_bigrams"),
        F.coalesce(F.col("n_rare"), F.lit(0)).cast("bigint").alias("n_rare"),
        frac.alias("rare_frac"),
        (frac <= F.lit(max_rare_frac)).alias("pass_lm"),
    )


def oracle_lm_rarity(
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
    min_count: int = 5,
    max_rare_frac: float = 0.02,
) -> str:
    return f"""
        WITH toks AS (
          SELECT {id_col} AS doc_id,
                 string_split_regex(trim(lower({text_col})), '\\s+') AS t
          FROM {table}
        ), pos AS (
          SELECT doc_id, t, unnest(generate_series(1, length(t) - 1)) AS i
          FROM toks WHERE length(t) >= 2
        ), bg AS (
          SELECT doc_id, t[i] || ' ' || t[i+1] AS bg FROM pos
        ), cnt AS (
          SELECT bg, count(*) AS cnt FROM bg GROUP BY bg
        ), per AS (
          SELECT doc_id, count(*) AS n_bigrams,
                 sum(CASE WHEN cnt < {min_count} THEN 1 ELSE 0 END)
                   AS n_rare
          FROM bg JOIN cnt USING (bg) GROUP BY doc_id
        ), j AS (
          SELECT t.doc_id,
                 coalesce(p.n_bigrams, 0) AS n_bigrams,
                 coalesce(p.n_rare, 0) AS n_rare
          FROM toks t LEFT JOIN per p USING (doc_id)
        )
        SELECT doc_id,
               CAST(n_bigrams AS BIGINT) AS n_bigrams,
               CAST(n_rare AS BIGINT) AS n_rare,
               CASE WHEN n_bigrams > 0
                    THEN (floor((((n_rare)) * 20000.0 + ((n_bigrams))) / (2.0 * ((n_bigrams)))) / 10000.0)
                    ELSE 0.0 END AS rare_frac,
               (CASE WHEN n_bigrams > 0
                     THEN (floor((((n_rare)) * 20000.0 + ((n_bigrams))) / (2.0 * ((n_bigrams)))) / 10000.0)
                     ELSE 0.0 END) <= {max_rare_frac} AS pass_lm
        FROM j
    """



def ccnet_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    min_count: int = 5,
) -> DataFrame:
    """CCNet-style perplexity bucketing: per language, rank documents by
    the lm_rarity bigram-rarity fraction (the engine's integer-exact
    perplexity proxy) and split into head / middle / tail terciles —
    the exact shape CCNet uses to stratify Common Crawl by LM quality
    before sampling (head = most in-distribution).

    Bucketing is RANK-based, not threshold-based, so it is deterministic
    and engine-exact: rn*3 <= n -> head, rn*3 <= 2n -> middle, else
    tail (ties on rare_frac break by ascending doc_id; rare_frac itself
    is a 4dp-rounded double identical across engines).

    100 TB shape: lm_rarity's bigram count-join (its scale story), then
    ONE narrow per-language window over (doc_id, lang, rare_frac) rows
    — the window input is one row per document, not per token. Skewed
    language sizes (en >> all) are fine: row_number over a billion-row
    partition is a single sorted scan, and if that ever binds, the
    rank can be computed against a percentile-bucketed pre-aggregate.

    Returns (doc_id, lang, rare_frac, bucket).
    """
    from pyspark.sql.window import Window

    lm = lm_rarity(df, id_col=id_col, text_col=text_col,
                   min_count=min_count)
    base = df.select(F.col(id_col).alias("doc_id"),
                     F.col(lang_col).alias("lang"))
    j = base.join(lm.select("doc_id", "rare_frac"), "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.col("rare_frac").asc(), F.col("doc_id").asc()
    )
    cnt = Window.partitionBy("lang")
    ranked = j.select(
        "doc_id", "lang", "rare_frac",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(cnt).alias("n"),
    )
    bucket = (
        F.when(F.col("rn") * 3 <= F.col("n"), F.lit("head"))
        .when(F.col("rn") * 3 <= 2 * F.col("n"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return ranked.select("doc_id", "lang", "rare_frac",
                         bucket.alias("bucket"))


def oracle_ccnet_buckets(
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    table: str = "documents",
    min_count: int = 5,
) -> str:
    lm = oracle_lm_rarity(id_col=id_col, text_col=text_col, table=table,
                          min_count=min_count)
    return f"""
        WITH lm AS (SELECT doc_id, rare_frac FROM ({lm}) t),
        j AS (
          SELECT d.{id_col} AS doc_id, d.{lang_col} AS lang, lm.rare_frac
          FROM {table} d JOIN lm ON lm.doc_id = d.{id_col}
        ), ranked AS (
          SELECT doc_id, lang, rare_frac,
                 row_number() OVER (PARTITION BY lang
                     ORDER BY rare_frac ASC, doc_id ASC) AS rn,
                 count(*) OVER (PARTITION BY lang) AS n
          FROM j
        )
        SELECT doc_id, lang, rare_frac,
               CASE WHEN rn * 3 <= n THEN 'head'
                    WHEN rn * 3 <= 2 * n THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM ranked
    """



def top_ngrams(
    df: DataFrame,
    n: int = 3,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide most-frequent word n-grams — the WIMBD-style "what's
    in my big data" audit (the first thing to look at before training:
    boilerplate n-grams at the top mean the cleaning missed a template).

    100 TB shape: positional n-gram explode -> ONE count aggregate with
    map-side partial combine, then a global top-k via orderBy(...).
    limit(k) — Spark plans that as TakeOrderedAndProject (each partition
    keeps its local k, the driver merges k x partitions rows), NOT a
    single-partition window sort over every distinct n-gram. The
    row_number pass runs over the k survivors only.

    Deterministic: ties break by ngram string ascending. Returns
    (ngram, cnt, rank).
    """
    from pyspark.sql.window import Window

    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("t"))
    # barrier: element_at over a COMPUTED array re-inlines the split per
    # use after CollapseProject (CLAUDE.md lessons 2/3) — same guard as
    # lm_rarity's bigram transform
    base = base.localCheckpoint(eager=True)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("t") - n),
        lambda i: F.concat_ws(
            " ",
            *[F.element_at("t", (i + j + 1).cast("int")) for j in range(n)],
        ),
    )
    counts = (
        base.filter(F.size("t") >= n)
        .select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("ngram").asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("ngram").asc())
    return counts.select(
        "ngram",
        F.col("cnt").cast("bigint").alias("cnt"),
        F.row_number().over(w).cast("bigint").alias("rank"),
    )


def oracle_top_ngrams(
    n: int = 3,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
    return f"""
        WITH toks AS (
          SELECT {id_col} AS doc_id,
                 string_split_regex(trim(lower({text_col})), '\\s+') AS t
          FROM {table}
        ), pos AS (
          SELECT doc_id, t,
                 unnest(generate_series(1, length(t) - {n - 1})) AS i
          FROM toks WHERE length(t) >= {n}
        ), counts AS (
          SELECT {gram} AS ngram, count(*) AS cnt
          FROM pos GROUP BY 1
        )
        SELECT ngram, CAST(cnt AS BIGINT) AS cnt,
               CAST(row_number() OVER (ORDER BY cnt DESC, ngram ASC)
                    AS BIGINT) AS rank
        FROM counts
        ORDER BY cnt DESC, ngram ASC
        LIMIT {k}
    """


# ---- overlapping window chunking (RAG / retrieval prep) --------------------

# Priority-ordered BPE merge table (classic high-frequency English
# pairs; a trained vocabulary drops in as the same list). Symbols are
# the merge CONCATENATIONS — later rules reference earlier outputs.
DEFAULT_BPE_MERGES: tuple = (
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("o", "n"),
    ("r", "e"), ("e", "r"), ("a", "t"), ("e", "n"), ("e", "s"),
    ("o", "r"), ("a", "r"), ("a", "l"), ("s", "t"), ("i", "t"),
    ("o", "u"), ("an", "d"), ("in", "g"), ("t", "o"), ("i", "s"),
    ("e", "d"), ("l", "e"), ("r", "o"), ("c", "k"),
)


def bpe_tokenize_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    merges: tuple = DEFAULT_BPE_MERGES,
) -> DataFrame:
    """Byte-pair-encoding subword tokenization as pure string algebra —
    no UDF, no loop, no shuffle: the whole pass is codegen.

    BPE-apply = for each merge rule, in priority order, replace every
    adjacent symbol pair — which is exactly a chain of LITERAL string
    replaces over a delimited symbol representation. Normalized text
    ([a-z0-9] + word breaks) becomes one ',x;'-wrapped symbol per char
    (",h;,e;,l;,l;,o;|,w;...", '|' separating words); merge (a,b) is
    then replace(",a;,b;" -> ",ab;"). BOTH delimiters are load-bearing:
    the ';' suffix makes adjacent disjoint matches share zero boundary
    characters (so one left-to-right non-overlapping replace —
    identical semantics in Spark and DuckDB — merges every disjoint
    pair, exactly BPE's apply step), and the ',' prefix anchors symbol
    STARTS so a needle can never match the tail of a longer symbol
    (",the;,n;" must not merge as e+n — caught by the reference-BPE
    pytest). Word breaks '|' contain no symbol characters, so merges
    cannot cross words.

    Returns (doc_id, n_words, n_subwords, subwords_per_word): the
    compression diagnostics a tokenizer-aware curation pass filters on
    (low subwords/word = natural text; high = junk/codes). 100 TB
    shape: ~24 chained C-speed replaces in one projection, zero
    shuffle, nothing leaves the JVM.
    """
    # ONE class for every non-symbol char (punctuation AND whitespace)
    # -> word break, then strip edge breaks: trim() strips only spaces,
    # so a trailing \n would otherwise survive as a phantom '|' word
    # (review finding: 'hello\n' counted 2 words)
    s = F.lower(F.col(text_col))
    s = F.regexp_replace(s, "[^a-z0-9]+", "|")
    s = F.regexp_replace(s, r"^\|+|\|+$", "")
    s = F.regexp_replace(s, "([a-z0-9])", ",$1;")
    for a, b in merges:
        s = F.replace(s, F.lit(f",{a};,{b};"), F.lit(f",{a}{b};"))
    n_sub = F.length(s) - F.length(F.replace(s, F.lit(";"), F.lit("")))
    n_words = F.when(F.length(s) == 0, F.lit(0)).otherwise(
        F.length(s) - F.length(F.replace(s, F.lit("|"), F.lit(""))) + 1
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_words.cast("bigint").alias("n_words"),
        n_sub.cast("bigint").alias("n_subwords"),
        F.when(n_words == 0, F.lit(0.0))
        .otherwise(ratio4(n_sub, n_words))
        .alias("subwords_per_word"),
    )


def oracle_bpe_tokenize_stats(
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
    merges: tuple = DEFAULT_BPE_MERGES,
) -> str:
    """DuckDB SQL computing exactly bpe_tokenize_stats(): the same
    normalization regexes ('g' flag — Spark replaces globally by
    default) and the same literal replace chain (both engines scan
    left-to-right, non-overlapping, resuming after the match)."""
    expr = (
        f"regexp_replace(regexp_replace(regexp_replace("
        f"lower({text_col}), '[^a-z0-9]+', '|', 'g'), "
        f"'^\\|+|\\|+$', '', 'g'), '([a-z0-9])', ',\\1;', 'g')"
    )
    for a, b in merges:
        expr = f"replace({expr}, ',{a};,{b};', ',{a}{b};')"
    return f"""
        WITH m AS (
          SELECT {id_col} AS doc_id, {expr} AS s FROM {table}
        ), c AS (
          SELECT doc_id,
                 CASE WHEN length(s) = 0 THEN 0
                      ELSE length(s) - length(replace(s, '|', '')) + 1
                 END AS n_words,
                 length(s) - length(replace(s, ';', '')) AS n_subwords
          FROM m
        )
        SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
               CAST(n_subwords AS BIGINT) AS n_subwords,
               CASE WHEN n_words = 0 THEN 0.0
                    ELSE (floor((((n_subwords)) * 20000.0 + ((n_words))) / (2.0 * ((n_words)))) / 10000.0)
               END AS subwords_per_word
        FROM c
    """


def split_sentences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sentence segmentation: terminal punctuation (./!/?) followed by
    whitespace ends a sentence. Implemented as mark-then-split — a
    regexp_replace inserts a \\x01 marker after the punctuation, then a
    split on the marker — because lookbehind is unavailable in
    RE2-based engines (DuckDB), and the identical two-step runs on both
    sides so the oracle is exact. The abbreviation weakness ("e.g. x"
    splits) is the documented cost of a dictionary-free heuristic.

    sent_idx is the RAW split position (0-based); empty/whitespace
    segments are filtered AFTER indexing, so the whole operator is a
    zero-shuffle generate+projection — no window, no re-numbering
    shuffle. Returns (doc_id, sent_idx, sentence, n_words, n_chars).
    """
    marked = F.regexp_replace(
        F.col(text_col), r"([.!?])\s+", "$1\x01"
    )
    out = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(marked, "\x01")).alias(
            "sent_idx", "sentence"
        ),
    )
    # regexp-trim, not trim(): trim strips only SPACES, so a sentence
    # starting with \n would pass the emptiness filter and gain a
    # phantom empty token in the word count (caught by the fuzz test)
    ws_trim = F.regexp_replace(F.col("sentence"), r"^\s+|\s+$", "")
    return out.filter(F.length(ws_trim) > 0).select(
        "doc_id",
        F.col("sent_idx").cast("bigint").alias("sent_idx"),
        "sentence",
        F.size(F.split(ws_trim, r"\s+")).cast("bigint").alias("n_words"),
        F.length("sentence").cast("bigint").alias("n_chars"),
    )


def oracle_split_sentences(
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    """DuckDB SQL computing exactly split_sentences() — the same
    mark-then-split regex steps (RE2-compatible, no lookbehind)."""
    return f"""
        WITH m AS (
          SELECT {id_col} AS doc_id,
                 regexp_replace({text_col}, '([.!?])\\s+',
                                '\\1' || chr(1), 'g') AS t
          FROM {table}
        ), l AS (
          SELECT doc_id, string_split(t, chr(1)) AS arr FROM m
        ), p AS (
          SELECT doc_id, arr,
                 unnest(generate_series(1, length(arr))) AS i
          FROM l
        )
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS sent_idx,
               arr[i] AS sentence,
               CAST(length(string_split_regex(
                      regexp_replace(arr[i], '^\\s+|\\s+$', '', 'g'),
                      '\\s+')) AS BIGINT) AS n_words,
               CAST(length(arr[i]) AS BIGINT) AS n_chars
        FROM p
        WHERE length(regexp_replace(arr[i], '^\\s+|\\s+$', '', 'g')) > 0
    """


def chunk_windows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
    stride: int = 12,
) -> DataFrame:
    """Split each document into overlapping token windows — the standard
    retrieval/RAG prep: chunk i covers tokens [i*stride, i*stride+window)
    and consecutive chunks overlap by (window - stride) tokens so no
    span longer than the overlap is cut mid-context. Every token appears
    in at least one chunk; the trailing chunk may be short.

    100 TB shape: a pure per-document projection + posexplode (zero
    shuffle — chunking parallelizes with the scan). The token array is
    checkpointed before the window transform so CollapseProject cannot
    re-inline split() per slice (CLAUDE.md lessons 3/9); output rows are
    narrow (ids + chunk text) and feed an embedding or index stage
    directly.

    Returns (doc_id, chunk_idx, start_token, chunk_tokens, chunk_text).
    """
    w, s = int(window), int(stride)
    if not (0 < s <= w):
        raise ValueError("need 0 < stride <= window")
    tokens = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = df.select(
        F.col(id_col).alias("doc_id"), tokens.alias("t")
    ).localCheckpoint(eager=True)
    chunks = F.transform(
        F.sequence(F.lit(0), F.floor((F.size("t") - 1) / s).cast("int")),
        lambda i: F.array_join(F.slice("t", i * s + 1, w), " "),
    )
    return (
        base.filter(F.size("t") > 0)
        .select(
            "doc_id",
            F.size("t").alias("_n"),
            F.posexplode(chunks).alias("chunk_idx", "chunk_text"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            (F.col("chunk_idx") * s).cast("bigint").alias("start_token"),
            F.least(
                F.lit(w), F.col("_n") - F.col("chunk_idx") * s
            ).cast("bigint").alias("chunk_tokens"),
            "chunk_text",
        )
    )


def oracle_chunk_windows(
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
    window: int = 16,
    stride: int = 12,
) -> str:
    w, s = int(window), int(stride)
    return f"""
        WITH toks AS (
          SELECT {id_col} AS doc_id,
                 string_split_regex(trim(lower({text_col})), '\\s+') AS t
          FROM {table}
        ), pos AS (
          SELECT doc_id, t, length(t) AS n,
                 unnest(generate_series(0, (length(t) - 1) // {s})) AS i
          FROM toks WHERE length(t) > 0
        )
        SELECT doc_id,
               CAST(i AS BIGINT) AS chunk_idx,
               CAST(i * {s} AS BIGINT) AS start_token,
               CAST(least({w}, n - i * {s}) AS BIGINT) AS chunk_tokens,
               array_to_string(t[i*{s}+1:i*{s}+{w}], ' ') AS chunk_text
        FROM pos
    """


# ---- C4-style heuristic cleaning (Raffel et al. 2020, §2.2) ---------------

def c4_filters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bad_words: tuple = ("badword1", "badword2"),
    min_line_words: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """The C4 cleaning heuristics over newline-delimited lines:

      line level — keep a line only if it ends in terminal punctuation
      (./!/?/", tested on the rtrim'd line, as the paper's heuristic
      operates on stripped lines) and has >= ``min_line_words`` words;
      document level — drop the whole document if it mentions
      "lorem ipsum", contains a curly brace (code leakage), or any
      blocklisted word; require >= ``min_kept_lines`` surviving lines.

    Terminal punctuation is tested with right(rtrim(line), 1) set
    membership (not a regex) so the DuckDB oracle is trivially
    identical.

    100 TB shape: pure per-document projection (HOF line filter +
    scalar contains checks), zero shuffle; the line array is
    checkpointed so CollapseProject cannot re-inline the split per use
    (CLAUDE.md lessons 3/9).

    Returns (doc_id, n_lines, n_kept_lines, keep_doc, kept_text).
    """
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), "\n").alias("lines"),
        F.lower(F.col(text_col)).alias("_lower"),
    ).localCheckpoint(eager=True)

    def line_ok(line):
        last = F.substring(F.rtrim(line), -1, 1)
        ok = last.isin(".", "!", "?", '"')
        words = F.size(F.split(F.trim(line), r"\s+"))
        return ok & (words >= min_line_words)

    kept = F.filter(F.col("lines"), line_ok)
    bad = F.lit(False)
    for w in bad_words:
        bad = bad | F.col("_lower").contains(w)
    doc_dirty = (
        F.col("_lower").contains("lorem ipsum")
        | F.col("_lower").contains("{")
        | bad
    )
    out = base.select(
        "doc_id",
        F.size("lines").cast("bigint").alias("n_lines"),
        F.size(kept).cast("bigint").alias("n_kept_lines"),
        (
            ~doc_dirty & (F.size(kept) >= F.lit(min_kept_lines))
        ).alias("keep_doc"),
        F.array_join(kept, "\n").alias("kept_text"),
    )
    return out


def oracle_c4_filters(
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
    bad_words: tuple = ("badword1", "badword2"),
    min_line_words: int = 5,
    min_kept_lines: int = 3,
    prelude_cte: str = "",
) -> str:
    """``prelude_cte``, when given, must be a complete leading WITH
    clause body (e.g. "WITH synth AS (...)") — the oracle continues it
    with its own CTEs and reads from ``table``."""
    from navigator_document_parser_spark.operators import sql_quote

    bad = " OR ".join(
        f"contains(lower(text), {sql_quote(w)})" for w in bad_words
    )
    keep_line = (
        "right(rtrim(l), 1) IN ('.', '!', '?', '\"') AND "
        f"length(string_split_regex(trim(l), '\\s+')) >= {min_line_words}"
    )
    head = f"{prelude_cte}, base AS (" if prelude_cte else "WITH base AS ("
    return f"""
        {head}
          SELECT {id_col} AS doc_id, {text_col} AS text,
                 string_split({text_col}, chr(10)) AS lines
          FROM {table}
        ), k AS (
          SELECT doc_id, text, lines,
                 list_filter(lines, l -> {keep_line}) AS kept
          FROM base
        )
        SELECT doc_id,
               CAST(length(lines) AS BIGINT) AS n_lines,
               CAST(length(kept) AS BIGINT) AS n_kept_lines,
               (NOT (contains(lower(text), 'lorem ipsum')
                     OR contains(lower(text), '{{')
                     OR {bad})
                AND length(kept) >= {min_kept_lines}) AS keep_doc,
               coalesce(array_to_string(kept, chr(10)), '') AS kept_text
        FROM k
    """


# ---------------------------------------------------------------------------
# unicode / whitespace text normalization (the ftfy-ish cleanup stage)
# ---------------------------------------------------------------------------

# control chars except \t \n (CR handled by the CRLF fold first), plus
# zero-widths and BOM. Two-digit \xHH and \x{HHHH} escapes are valid in
# BOTH Java regex (Spark) and RE2 (DuckDB); the pattern reaches Spark via
# the py4j string (never SQL-literal parsing, whose backslash rules differ)
_CTRL_ZW_PATTERN = (
    "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F"
    "\\x{200B}-\\x{200D}\\x{FEFF}]"
)
# curly quotes -> straight, en/em dash -> '-', NBSP -> space
_TRANSLATE_FROM = "\u2018\u2019\u201C\u201D\u2013\u2014\u00A0"
_TRANSLATE_TO = "''\"\"-- "


def normalize_text(col: Column) -> Column:
    """Deterministic text cleanup, pure codegen (no UDF):

      1. CRLF -> LF
      2. strip control chars (keep \\t, \\n) + zero-widths + BOM
      3. unify curly quotes / dashes / NBSP (translate)
      4. collapse runs of spaces+tabs to one space
      5. drop spaces hugging newlines
      6. trim leading/trailing spaces and newlines

    Character-class step 2 and the collapse regexes are written with
    escapes valid in both Java regex and RE2, so the DuckDB oracle runs
    the IDENTICAL patterns. 100 TB: a map-only projection fused into
    whole-stage codegen above the scan.
    """
    s = F.replace(col, F.lit("\r\n"), F.lit("\n"))
    s = F.replace(s, F.lit("\r"), F.lit("\n"))
    s = F.regexp_replace(s, _CTRL_ZW_PATTERN, "")
    s = F.translate(s, _TRANSLATE_FROM, _TRANSLATE_TO)
    s = F.regexp_replace(s, "[ \\t]+", " ")
    s = F.regexp_replace(s, " ?\\n ?", "\n")
    return F.btrim(s, F.lit(" \n"))


def with_normalized_text(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, text_norm, n_chars_norm, changed) per document."""
    norm = normalize_text(F.col(text_col))
    return df.select(
        F.col(id_col).alias("doc_id"),
        norm.alias("text_norm"),
        F.length(norm).cast("bigint").alias("n_chars_norm"),
        (norm != F.col(text_col)).alias("changed"),
    )


def oracle_normalize_text(
    text_sql: str, id_col: str = "doc_id", table: str = "documents"
) -> str:
    """DuckDB SQL computing exactly with_normalized_text() over
    ``SELECT doc_id, <text_sql> AS text``. DuckDB string literals do not
    process backslashes, so the Python pattern strings embed verbatim."""
    from navigator_document_parser_spark.operators import sql_quote

    ctrl = sql_quote(_CTRL_ZW_PATTERN)
    tfrom = sql_quote(_TRANSLATE_FROM)
    tto = sql_quote(_TRANSLATE_TO)
    return f"""
        WITH src AS (
          SELECT {id_col} AS doc_id, {text_sql} AS text FROM {table}
        ), n AS (
          SELECT doc_id, text,
            trim(
              regexp_replace(
                regexp_replace(
                  translate(
                    regexp_replace(
                      replace(replace(text, chr(13) || chr(10), chr(10)),
                              chr(13), chr(10)),
                      {ctrl}, '', 'g'),
                    {tfrom}, {tto}),
                  '[ \\t]+', ' ', 'g'),
                ' ?\\n ?', chr(10), 'g'),
              ' ' || chr(10)) AS text_norm
          FROM src
        )
        SELECT doc_id, text_norm,
               CAST(length(text_norm) AS BIGINT) AS n_chars_norm,
               (text_norm <> text) AS changed
        FROM n
    """


# --------------------------------------------------------------------------
# encoding repair (mojibake fix, ftfy's core case)
# --------------------------------------------------------------------------

# UTF-8 bytes mis-decoded as cp1252 — the single most common web-crawl
# corruption (ftfy's headline case). Pairs are GENERATED from the good
# characters at import (good.encode('utf-8').decode('cp1252')) so the
# multi-char mojibake strings can never be hand-typed wrong; characters
# whose UTF-8 bytes hit cp1252's unmapped holes (e.g. U+201D, byte 0x9D)
# are skipped. All bads are multi-char strings starting 'â' (3-byte
# originals) or 'Ã'/'Â' (2-byte originals) while goods are single chars,
# so no good contains a bad and repair order cannot cascade.
_MOJIBAKE_GOODS = (
    "’",  # ’ right single quote
    "“",  # “ left double quote
    "–",  # – en dash
    "—",  # — em dash
    "…",  # … ellipsis
    "é",  # é
    "è",  # è
    "ä",  # ä
    "ö",  # ö
    "ü",  # ü
    "ñ",  # ñ
    "ç",  # ç
    " ",  # nbsp
)


def mojibake_pairs() -> list[tuple[str, str]]:
    """(bad, good) repair table, derived not transcribed."""
    pairs = []
    for g in _MOJIBAKE_GOODS:
        try:
            bad = g.encode("utf-8").decode("cp1252")
        except UnicodeDecodeError:  # pragma: no cover - static table
            continue
        pairs.append((bad, g))
    return pairs


def fix_mojibake(col: Column) -> Column:
    """Chain of LITERAL replaces (C-speed, codegen; the same
    portable-replace discipline as BPE apply) undoing UTF-8-as-cp1252
    mojibake. Replace is left-to-right non-overlapping in both engines,
    and every needle maps to a single char, so the chain is confluent."""
    s = col
    for bad, good in mojibake_pairs():
        s = F.replace(s, F.lit(bad), F.lit(good))
    return s


def oracle_fix_mojibake_sql(expr: str) -> str:
    """DuckDB rendering of fix_mojibake over ``expr`` — same generated
    pair table, same order, UTF-8 literals embedded directly (CLAUDE.md
    lesson 17: never chr() above 127 in shared SQL)."""
    from navigator_document_parser_spark.operators import sql_quote

    s = expr
    for bad, good in mojibake_pairs():
        s = f"replace({s}, {sql_quote(bad)}, {sql_quote(good)})"
    return s


# --------------------------------------------------------------------------
# per-host boilerplate line removal (template stripping)
# --------------------------------------------------------------------------

def boilerplate_strip(
    df: DataFrame,
    host_col: str = "host",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    threshold_pct: int = 50,
) -> DataFrame:
    """Strip per-host template lines (nav bars, cookie banners, footers)
    — the frequency-based boilerplate removal CCNet/trafilatura-style
    pipelines run AFTER DOM extraction: a line is boilerplate for a host
    when it appears in >= threshold_pct % of that host's documents (and
    in at least min_docs of them, so tiny hosts don't self-censor).

    The threshold test is integer cross-multiplication
    (n_docs_with_line * 100 >= host_docs * threshold_pct) — exact in
    every engine, never a float ratio compare.

    Plan shape (100 TB): lines are posexploded once; the per-host line
    frequency is ONE hash aggregate keyed (host, md5(line)) — map-side
    combinable, and the md5 key means full line text never rides the
    shuffle twice; host doc totals are a #hosts-row aggregate joined
    back on host (no forced broadcast — #hosts is unbounded on a web
    corpus, AQE broadcasts when small); the boilerplate set joins back to the line table
    on (host, line-hash) as a plain equi-join (the set is
    hosts x template-lines — small, but not provably broadcastable);
    the document rebuild is one more hash aggregate. No windows, so a
    mega-host cannot stall a partition.

    Returns (doc_id, host, n_kept, n_dropped, text_clean) with
    text_clean the surviving trimmed lines joined by newline in original
    order. Blank lines are dropped from both counts (standard
    extraction behavior; reference drops empty lines at
    /root/reference/src/html_parser/combined.py text-block split).
    """
    lines = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.col(host_col).alias("host"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias(
                "pos", "raw"
            ),
        )
        .withColumn("line", F.trim(F.col("raw")))
        .filter(F.col("line") != "")
        .withColumn("lh", F.md5(F.col("line")))
        .drop("raw")
    )
    freq = lines.groupBy("host", "lh").agg(
        F.countDistinct("doc_id").alias("n_with")
    )
    totals = df.groupBy(F.col(host_col).alias("host")).agg(
        F.countDistinct(F.col(id_col)).alias("host_docs")
    )
    bp = (
        freq.join(totals, "host")
        .filter(
            (F.col("n_with") >= F.lit(int(min_docs)))
            & (
                F.col("n_with") * 100
                >= F.col("host_docs") * F.lit(int(threshold_pct))
            )
        )
        .select("host", "lh")
        .withColumn("is_bp", F.lit(True))
    )
    flagged = lines.join(bp, ["host", "lh"], "left").withColumn(
        "is_bp", F.coalesce(F.col("is_bp"), F.lit(False))
    )
    kept_struct = F.when(
        ~F.col("is_bp"), F.struct(F.col("pos"), F.col("line"))
    )
    return (
        flagged.groupBy("doc_id", "host")
        .agg(
            F.sum(F.when(~F.col("is_bp"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(F.when(F.col("is_bp"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda x: x["line"],
                ),
                "\n",
            ).alias("text_clean"),
        )
    )


def oracle_boilerplate_strip(
    src_sql: str, min_docs: int = 2, threshold_pct: int = 50
) -> str:
    """DuckDB replica of boilerplate_strip over ``src_sql`` producing
    (doc_id, host, text). Same md5 line keys, same integer
    cross-multiplied threshold; rebuild via ordered string_agg."""
    return f"""
        WITH src AS ({src_sql}),
        p AS (
          SELECT doc_id, host, string_split(text, chr(10)) AS parts
          FROM src
        ), ln AS (
          SELECT doc_id, host, u.pos AS pos, u.line AS line,
                 md5(u.line) AS lh
          FROM (
            SELECT doc_id, host,
                   unnest(list_transform(parts,
                     (x, i) -> struct_pack(pos := i, line := trim(x))))
                     AS u
            FROM p
          )
          WHERE u.line <> ''
        ), freq AS (
          SELECT host, lh, count(DISTINCT doc_id) AS n_with
          FROM ln GROUP BY host, lh
        ), totals AS (
          SELECT host, count(DISTINCT doc_id) AS host_docs
          FROM src GROUP BY host
        ), bp AS (
          SELECT f.host, f.lh
          FROM freq f JOIN totals t USING (host)
          WHERE f.n_with >= {int(min_docs)}
            AND f.n_with * 100 >= t.host_docs * {int(threshold_pct)}
        ), flagged AS (
          SELECT l.doc_id, l.host, l.pos, l.line,
                 (b.lh IS NOT NULL) AS is_bp
          FROM ln l LEFT JOIN bp b
            ON l.host = b.host AND l.lh = b.lh
        )
        SELECT doc_id, host,
               CAST(SUM(CASE WHEN is_bp THEN 0 ELSE 1 END) AS BIGINT)
                 AS n_kept,
               CAST(SUM(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dropped,
               COALESCE(string_agg(line, chr(10) ORDER BY pos)
                        FILTER (WHERE NOT is_bp), '') AS text_clean
        FROM flagged
        GROUP BY doc_id, host
    """


# --------------------------------------------------------------------------
# corpus keyness (Dunning log-likelihood G^2)
# --------------------------------------------------------------------------

def _g2_fragment(a: str, b: str, na: str, nb: str) -> str:
    """Dunning (1993) log-likelihood G^2 for a term with count ``a`` in
    the focus corpus (total ``na``) and ``b`` in the contrast corpus
    (total ``nb``) — rendered as ONE SQL string valid in BOTH Spark SQL
    and DuckDB (ln/CASE/CAST are common dialect).

    Each ln argument is a single division of two EXACTLY-representable
    doubles (products of counts; exact below 2^52 — fine to ~10^26
    token-pairs), so both engines feed ln the identical double; the
    final round(...,4) absorbs ln's last-ulp libm differences (the
    cosine/log precedent, CLAUDE.md lesson 18 scope note)."""
    n = f"(CAST({na} AS DOUBLE) + CAST({nb} AS DOUBLE))"
    t1 = (
        f"(CASE WHEN {a} > 0 THEN CAST({a} AS DOUBLE) * "
        f"ln((CAST({a} AS DOUBLE) * {n}) / "
        f"(CAST({na} AS DOUBLE) * (CAST({a} AS DOUBLE) + CAST({b} AS DOUBLE))))"
        f" ELSE 0.0 END)"
    )
    t2 = (
        f"(CASE WHEN {b} > 0 THEN CAST({b} AS DOUBLE) * "
        f"ln((CAST({b} AS DOUBLE) * {n}) / "
        f"(CAST({nb} AS DOUBLE) * (CAST({a} AS DOUBLE) + CAST({b} AS DOUBLE))))"
        f" ELSE 0.0 END)"
    )
    return f"round(2.0 * ({t1} + {t2}), 4)"


def keyness_terms(
    df: DataFrame,
    focus: str = "en",
    k: int = 25,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Top-k characteristic terms of a sub-corpus by Dunning G^2 — the
    corpus-linguistics keyness statistic data-curation pipelines use to
    profile a domain slice against the rest before writing filter rules.

    direction ('focus'/'rest') comes from the integer cross-multiply
    a*Nb vs b*Na — exact, never a float rate compare; ranking is over
    the 4dp-ROUNDED G^2 (term asc tie-break) so libm ulps cannot flip
    an order across engines.

    Plan shape (100 TB): one token hash-aggregate with conditional
    counts (map-side combinable; shuffle rows are (term, a, b)); the
    corpus totals fold back via crossJoin(broadcast(agg)) over the
    EAGERLY CHECKPOINTED term table, so the double-embedded subtree
    reads materialized blocks (CLAUDE.md lesson 16); top-k is
    orderBy+limit = TakeOrderedAndProject, never a global window.
    """
    toks = df.select(
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("term"),
        (F.col(group_col) == F.lit(focus)).alias("in_focus"),
    ).filter(F.col("term") != "")
    terms = (
        toks.groupBy("term")
        .agg(
            F.sum(F.when(F.col("in_focus"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_focus"),
            F.sum(F.when(F.col("in_focus"), 0).otherwise(1))
            .cast("bigint")
            .alias("n_rest"),
        )
        .localCheckpoint(eager=True)
    )
    totals = terms.agg(
        F.sum("n_focus").cast("bigint").alias("na"),
        F.sum("n_rest").cast("bigint").alias("nb"),
    )
    g2 = F.expr(_g2_fragment("n_focus", "n_rest", "na", "nb"))
    scored = (
        terms.crossJoin(F.broadcast(totals))
        .select(
            "term",
            "n_focus",
            "n_rest",
            F.when(
                # DECIMAL(38,0) cross-products: bigint*bigint wraps at
                # web-scale token totals (importance_select precedent)
                F.col("n_focus").cast("decimal(38,0)") * F.col("nb")
                >= F.col("n_rest").cast("decimal(38,0)") * F.col("na"),
                F.lit("focus"),
            )
            .otherwise(F.lit("rest"))
            .alias("direction"),
            g2.alias("g2"),
        )
        .orderBy(F.col("g2").desc(), F.col("term").asc())
        .limit(int(k))
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("g2").desc(), F.col("term").asc())
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    )


def oracle_keyness_terms(
    focus: str = "en",
    k: int = 25,
    group_col: str = "lang",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    """DuckDB replica of keyness_terms — same tokenization as the
    Spark side, same shared G^2 fragment, QUALIFY top-k."""
    from navigator_document_parser_spark.operators import sql_quote

    g2 = _g2_fragment("n_focus", "n_rest", "na", "nb")
    return f"""
        WITH toks AS (
          SELECT unnest(string_split_regex(trim(lower({text_col})),
                                           '\\s+')) AS term,
                 ({group_col} = {sql_quote(focus)}) AS in_focus
          FROM {table}
        ), terms AS (
          SELECT term,
                 CAST(SUM(CASE WHEN in_focus THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_focus,
                 CAST(SUM(CASE WHEN in_focus THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_rest
          FROM toks WHERE term <> '' GROUP BY term
        ), totals AS (
          SELECT CAST(SUM(n_focus) AS BIGINT) AS na,
                 CAST(SUM(n_rest) AS BIGINT) AS nb
          FROM terms
        ), scored AS (
          SELECT term, n_focus, n_rest,
                 CASE WHEN CAST(n_focus AS DECIMAL(38,0)) * nb
                        >= CAST(n_rest AS DECIMAL(38,0)) * na
                      THEN 'focus' ELSE 'rest' END AS direction,
                 {g2} AS g2
          FROM terms CROSS JOIN totals
        )
        SELECT term, n_focus, n_rest, direction, g2,
               CAST(row_number() OVER (ORDER BY g2 DESC, term ASC)
                    AS BIGINT) AS rank
        FROM scored
        ORDER BY g2 DESC, term ASC
        LIMIT {int(k)}
    """


# --------------------------------------------------------------------------
# token-distribution entropy (gibberish / keyword-stuffing signal)
# --------------------------------------------------------------------------

_ENTROPY_CONTRIB_SQL = (
    # fixed-point c*log2(c) at 2^-20 resolution: both engines compute
    # the SAME double per row (c is an exact small integer), and the
    # per-doc SUM is then INTEGER — exact under any partition/visit
    # order. The only residual cross-engine risk is a last-ulp log2
    # difference landing within 2^-21 of a boundary — the same
    # accepted per-row risk class as the rounded cosine/ln operators,
    # with the ORDER-dependent float-sum risk (the one that actually
    # bites at corpus scale) designed out.
    "CAST(floor(CAST({c} AS DOUBLE) * log2(CAST({c} AS DOUBLE))"
    " * 1048576.0 + 0.5) AS BIGINT)"
)


def token_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (bits):
    H = log2(n) - (sum_t c_t*log2(c_t)) / n — near 0 for one-word spam,
    near log2(n) for all-distinct text; the cheap gibberish /
    keyword-stuffing signal quality pipelines run next to the Gopher
    repetition fractions (which measure TOP-term mass; entropy measures
    the whole distribution).

    100 TB shape: one (doc, term) hash aggregate + one doc aggregate,
    both map-side combinable; the entropy sum rides the shuffle as an
    exact BIGINT (see _ENTROPY_CONTRIB_SQL).

    Returns (doc_id, n_tokens, n_distinct, entropy4); empty documents
    produce no row (no tokens, no distribution).
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_doc = tf.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.sum(F.expr(_ENTROPY_CONTRIB_SQL.format(c="c")))
        .cast("bigint")
        .alias("s_fx"),
    )
    h = F.expr(
        "round(log2(CAST(n_tokens AS DOUBLE)) - "
        "(CAST(s_fx AS DOUBLE) / 1048576.0)"
        " / CAST(n_tokens AS DOUBLE), 4)"
    )
    return per_doc.select(
        "doc_id", "n_tokens", "n_distinct", h.alias("entropy4")
    )


def oracle_token_entropy(
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    """DuckDB replica of token_entropy — same tokenization, same
    fixed-point contribution fragment, same final expression."""
    contrib = _ENTROPY_CONTRIB_SQL.format(c="c")
    return f"""
        WITH toks AS (
          SELECT {id_col} AS doc_id,
                 unnest(string_split_regex(trim(lower({text_col})),
                                           '\\s+')) AS term
          FROM {table}
        ), tf AS (
          SELECT doc_id, term, count(*) AS c
          FROM toks WHERE term <> '' GROUP BY doc_id, term
        ), per_doc AS (
          SELECT doc_id,
                 CAST(SUM(c) AS BIGINT) AS n_tokens,
                 CAST(count(*) AS BIGINT) AS n_distinct,
                 CAST(SUM({contrib}) AS BIGINT) AS s_fx
          FROM tf GROUP BY doc_id
        )
        SELECT doc_id, n_tokens, n_distinct,
               round(log2(CAST(n_tokens AS DOUBLE)) -
                     (CAST(s_fx AS DOUBLE) / 1048576.0)
                     / CAST(n_tokens AS DOUBLE), 4) AS entropy4
        FROM per_doc
    """


# ---------------------------------------------------------------------------
# code-vs-prose routing (the StarCoder/RedPajama-style corpus splitter)
# ---------------------------------------------------------------------------

# whole-token identifiers: the split pattern is shared-safe ([^a-z0-9_]+
# parses identically in Java regex and RE2) so both engines tokenize
# identically; keyword hits count OCCURRENCES, not distinct keywords
CODE_KEYWORDS = (
    "def", "return", "import", "class", "function", "var", "const",
)
_CODE_SYMBOLS = "{};=()[]<>"


def code_detect(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keywords: tuple = CODE_KEYWORDS,
    min_kw: int = 2,
    min_sym: int = 3,
    min_code_lines: int = 2,
) -> DataFrame:
    """Heuristic code-vs-prose router — the stage a web-corpus pipeline
    runs before language-specific filtering so source code does not
    pollute the prose quality statistics (and vice versa; the
    StarCoder/RedPajama pipelines split exactly this way before
    per-domain cleaning). Reference scope note: the reference parser
    extracts HTML/PDF prose only (src/html_parser/combined.py) — code
    routing is part of the beyond-reference training-data toolkit.

    Signals, all integer until the one ratio:
      n_sym       — count of code punctuation chars ({};=()[]<>),
                    via length minus translate-removal (both engines);
      sym_ratio   — ratio4(n_sym, length(text)) (lesson 18: never
                    round() a count ratio);
      kw_hits     — whole-token keyword occurrences after lowering and
                    splitting on [^a-z0-9_]+;
      code_lines  — lines that are indented (4 spaces / tab) OR end in
                    ; { } after rtrim;
      is_code     — (kw_hits >= min_kw AND n_sym >= min_sym)
                    OR code_lines >= min_code_lines.

    100 TB shape: pure per-document projection, zero shuffle; the line
    and token arrays are computed once behind an eager checkpoint so
    CollapseProject cannot re-inline the splits per use (lessons 3/9).

    Returns (doc_id, n_sym, sym_ratio, kw_hits, code_lines, is_code).
    """
    from navigator_document_parser_spark.operators import ratio4

    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
        F.split(F.col(text_col), "\n").alias("lines"),
        # extract-all: same tokens as the negated-class split minus the
        # boundary empties (which can never match a keyword) and 13x
        # faster in java regex (r7)
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit("[a-z0-9_]+"), F.lit(0)
        ).alias("toks"),
    ).localCheckpoint(eager=True)

    n_sym = (
        F.length("text")
        - F.length(F.translate(F.col("text"), _CODE_SYMBOLS, ""))
    ).cast("bigint")

    kw = F.size(
        F.filter(F.col("toks"), lambda t: t.isin(*keywords))
    ).cast("bigint")

    def code_line(line):
        last = F.substring(F.rtrim(line), -1, 1)
        return (
            (F.substring(line, 1, 4) == "    ")
            | (F.substring(line, 1, 1) == "\t")
            | last.isin(";", "{", "}")
        )

    n_code_lines = F.size(F.filter(F.col("lines"), code_line)).cast(
        "bigint"
    )

    out = base.select(
        "doc_id",
        n_sym.alias("n_sym"),
        ratio4(n_sym, F.greatest(F.length("text").cast("bigint"), F.lit(1)))
        .alias("sym_ratio"),
        kw.alias("kw_hits"),
        n_code_lines.alias("code_lines"),
        (
            ((kw >= min_kw) & (n_sym >= min_sym))
            | (n_code_lines >= min_code_lines)
        ).alias("is_code"),
    )
    return out


def oracle_code_detect(
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
    keywords: tuple = CODE_KEYWORDS,
    min_kw: int = 2,
    min_sym: int = 3,
    min_code_lines: int = 2,
    prelude_cte: str = "",
) -> str:
    """DuckDB replica of code_detect. ``prelude_cte``, when given, is a
    complete leading WITH body (the synthesized-text CTE); the oracle
    reads ``table`` either way."""
    from navigator_document_parser_spark.operators import (
        ratio4_sql,
        sql_quote,
    )

    kw_set = ", ".join(sql_quote(k) for k in keywords)
    sym = sql_quote(_CODE_SYMBOLS)
    code_line = (
        "substring(l, 1, 4) = '    ' OR substring(l, 1, 1) = chr(9) "
        "OR right(rtrim(l), 1) IN (';', '{', '}')"
    )
    head = f"{prelude_cte}, base AS (" if prelude_cte else "WITH base AS ("
    sym_ratio = ratio4_sql("n_sym", "greatest(length(text), 1)")
    return f"""
        {head}
          SELECT {id_col} AS doc_id, {text_col} AS text,
                 string_split({text_col}, chr(10)) AS lines,
                 string_split_regex(lower({text_col}), '[^a-z0-9_]+')
                   AS toks
          FROM {table}
        ), sig AS (
          SELECT doc_id, text,
                 CAST(length(text) - length(translate(text, {sym}, ''))
                      AS BIGINT) AS n_sym,
                 CAST(length(list_filter(toks,
                      t -> t IN ({kw_set}))) AS BIGINT) AS kw_hits,
                 CAST(length(list_filter(lines, l -> {code_line}))
                      AS BIGINT) AS code_lines
          FROM base
        )
        SELECT doc_id, n_sym,
               {sym_ratio} AS sym_ratio,
               kw_hits, code_lines,
               ((kw_hits >= {min_kw} AND n_sym >= {min_sym})
                OR code_lines >= {min_code_lines}) AS is_code
        FROM sig
    """


# ---------------------------------------------------------------------------
# unicode script profiling / mixed-script spoof detection
# ---------------------------------------------------------------------------

# \x{h..h} escapes parse identically in Java regex (Spark) and RE2
# (DuckDB); the patterns reach Spark via py4j strings and DuckDB via
# verbatim single-quoted literals (no backslash processing), the
# text_normalize discipline
_SCRIPT_CLASSES = (
    ("latin", "[A-Za-z]"),
    ("digit", "[0-9]"),
    ("cyr", "[\\x{0400}-\\x{04FF}]"),
    ("cjk", "[\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}]"),
)
_SPOOF_LATIN = "[A-Za-z]"
_SPOOF_CYR = "[\\x{0400}-\\x{04FF}]"


def script_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document Unicode script profile + homoglyph-spoof signal —
    the script-consistency gate a web corpus runs beside language ID
    (a 'latin' document full of Cyrillic lookalikes is either mislabeled
    or adversarial; mixed-script TOKENS are the classic phishing/SEO
    homoglyph trick, per the UTS #39 confusables model).

    Counts are size(regexp_extract_all(...)) per script class — one
    map-only projection, no shuffle; spoof_tokens counts whitespace
    tokens matching BOTH the Latin and Cyrillic classes.

      main_script — integer-compare CASE ladder over the letter-script
                    counts (latin >= cyr >= cjk precedence on ties);
      is_suspect  — spoof_tokens >= 1.

    Returns (doc_id, n_latin, n_digit, n_cyr, n_cjk, main_script,
    spoof_tokens, is_suspect).
    """
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
        F.split(F.col(text_col), "\\s+").alias("toks"),
    ).localCheckpoint(eager=True)

    counts = {
        name: F.size(
            F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))
        ).cast("bigint")
        for name, pat in _SCRIPT_CLASSES
    }
    spoof = F.size(
        F.filter(
            F.col("toks"),
            lambda t: t.rlike(_SPOOF_LATIN) & t.rlike(_SPOOF_CYR),
        )
    ).cast("bigint")
    main = (
        F.when(
            (counts["latin"] >= counts["cyr"])
            & (counts["latin"] >= counts["cjk"]),
            F.lit("latin"),
        )
        .when(counts["cyr"] >= counts["cjk"], F.lit("cyr"))
        .otherwise(F.lit("cjk"))
    )
    return base.select(
        "doc_id",
        counts["latin"].alias("n_latin"),
        counts["digit"].alias("n_digit"),
        counts["cyr"].alias("n_cyr"),
        counts["cjk"].alias("n_cjk"),
        main.alias("main_script"),
        spoof.alias("spoof_tokens"),
        (spoof >= 1).alias("is_suspect"),
    )


def oracle_script_stats(
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
    prelude_cte: str = "",
) -> str:
    """DuckDB replica of script_stats (same \\x{{...}} patterns)."""
    from navigator_document_parser_spark.operators import sql_quote

    cnt = {
        name: f"CAST(len(regexp_extract_all(text, {sql_quote(pat)}))"
        f" AS BIGINT)"
        for name, pat in _SCRIPT_CLASSES
    }
    head = f"{prelude_cte}, base AS (" if prelude_cte else "WITH base AS ("
    return f"""
        {head}
          SELECT {id_col} AS doc_id, {text_col} AS text,
                 string_split_regex({text_col}, '\\s+') AS toks
          FROM {table}
        ), sig AS (
          SELECT doc_id,
                 {cnt['latin']} AS n_latin,
                 {cnt['digit']} AS n_digit,
                 {cnt['cyr']} AS n_cyr,
                 {cnt['cjk']} AS n_cjk,
                 CAST(len(list_filter(toks, t ->
                   regexp_matches(t, {sql_quote(_SPOOF_LATIN)}) AND
                   regexp_matches(t, {sql_quote(_SPOOF_CYR)})))
                   AS BIGINT) AS spoof_tokens
          FROM base
        )
        SELECT doc_id, n_latin, n_digit, n_cyr, n_cjk,
               CASE WHEN n_latin >= n_cyr AND n_latin >= n_cjk
                    THEN 'latin'
                    WHEN n_cyr >= n_cjk THEN 'cyr'
                    ELSE 'cjk' END AS main_script,
               spoof_tokens,
               (spoof_tokens >= 1) AS is_suspect
        FROM sig
    """


# ---------------------------------------------------------------------------
# vocabulary coverage / OOV-rate profiling (tokenizer prep)
# ---------------------------------------------------------------------------

def vocab_coverage(
    df: DataFrame,
    vocab_size: int = 256,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Top-``vocab_size`` corpus vocabulary and the per-slice coverage
    it achieves — the first question of tokenizer design (how big must
    V be before the OOV tail is negligible, and which language slices
    it starves; the fertility/coverage table every BPE/unigram-LM
    training run starts from).

    Vocabulary = the ``vocab_size`` most frequent whitespace tokens,
    (count desc, term asc) deterministic ties. Per slice:
    n_tokens, n_covered (token OCCURRENCES whose term is in-vocab),
    n_terms (distinct terms), oov4 = ratio4(n_tokens - n_covered,
    n_tokens).

    100 TB shape: one (term) hash aggregate with map-side combine; the
    vocabulary is TakeOrdered top-V (never a global window) and joins
    back as a broadcast semi-join onto the (slice, term) counts — the
    corpus streams through exactly twice, shuffling only (slice, term)
    aggregates.

    Returns (lang, n_tokens, n_covered, n_terms, oov4).
    """
    from navigator_document_parser_spark.operators import ratio4

    toks = df.select(
        F.col(group_col).alias("lang"),
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("term"),
    ).filter(F.col("term") != "")
    slice_tf = toks.groupBy("lang", "term").agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=True)

    vocab = (
        slice_tf.groupBy("term")
        .agg(F.sum("c").alias("tc"))
        .orderBy(F.col("tc").desc(), F.col("term").asc())
        .limit(vocab_size)
        .select("term")
    )
    cov = slice_tf.join(
        F.broadcast(vocab.withColumn("in_v", F.lit(1))), "term", "left"
    )
    n_tok = F.sum("c").cast("bigint")
    n_cov = F.sum(
        F.when(F.col("in_v").isNotNull(), F.col("c")).otherwise(0)
    ).cast("bigint")
    return cov.groupBy("lang").agg(
        n_tok.alias("n_tokens"),
        n_cov.alias("n_covered"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
    ).select(
        "lang",
        "n_tokens",
        "n_covered",
        "n_terms",
        ratio4(
            F.col("n_tokens") - F.col("n_covered"), F.col("n_tokens")
        ).alias("oov4"),
    )


def oracle_vocab_coverage(
    vocab_size: int = 256,
    group_col: str = "lang",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    """DuckDB replica of vocab_coverage."""
    from navigator_document_parser_spark.operators import ratio4_sql

    oov = ratio4_sql("(n_tokens - n_covered)", "n_tokens")
    return f"""
        WITH toks AS (
          SELECT {group_col} AS lang,
                 unnest(string_split_regex(trim(lower({text_col})),
                                           '\\s+')) AS term
          FROM {table}
        ), stf AS (
          SELECT lang, term, count(*) AS c
          FROM toks WHERE term <> '' GROUP BY lang, term
        ), vocab AS (
          SELECT term FROM (
            SELECT term, CAST(SUM(c) AS BIGINT) AS tc FROM stf
            GROUP BY term
          ) ORDER BY tc DESC, term ASC LIMIT {vocab_size}
        ), cov AS (
          SELECT s.lang, s.c,
                 CASE WHEN v.term IS NOT NULL THEN s.c ELSE 0 END AS cc
          FROM stf s LEFT JOIN vocab v ON s.term = v.term
        ), agg AS (
          SELECT lang,
                 CAST(SUM(c) AS BIGINT) AS n_tokens,
                 CAST(SUM(cc) AS BIGINT) AS n_covered,
                 CAST(count(*) AS BIGINT) AS n_terms
          FROM cov GROUP BY lang
        )
        SELECT lang, n_tokens, n_covered, n_terms, {oov} AS oov4
        FROM agg
    """


# ---------------------------------------------------------------------------
# keyword-profile topic classification
# ---------------------------------------------------------------------------

# fixed topic lexicons — the transparent, auditable domain router a
# corpus pipeline runs when an ML classifier is unavailable or must be
# explainable (the RedPajama/CCNet domain-bucket precedent)
TOPIC_LEXICONS = (
    ("storage", ("table", "row", "column", "scan", "data", "part")),
    ("compute", ("query", "join", "sort", "merge", "hash", "agg")),
    ("stream", ("stream", "window", "batch", "line")),
)


def topic_classify(
    df: DataFrame,
    lexicons: tuple = TOPIC_LEXICONS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Keyword-lexicon topic scores + argmax label per document.
    Scores count whole-token occurrences of each topic's lexicon in
    the lowered whitespace tokens; the label is an integer-compare
    CASE ladder in lexicon order (earlier lexicon wins ties, 'none'
    when every score is 0).

    100 TB shape: map-only token-array filters behind one eager
    checkpoint of the split (lessons 3/9) — no shuffle, no UDF.

    Returns (doc_id, s_<topic>... one per lexicon, topic).
    """
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(
            F.trim(F.lower(F.col(text_col))), r"\s+"
        ).alias("toks"),
    ).localCheckpoint(eager=True)

    # closure FACTORY, never a default-arg lambda: a 2-param lambda is
    # handed (element, index) by F.filter (CLAUDE.md lesson 1)
    def _in_lexicon(kws):
        return lambda t: t.isin(*kws)

    scores = {
        name: F.size(
            F.filter(F.col("toks"), _in_lexicon(kws))
        ).cast("bigint")
        for name, kws in lexicons
    }
    label = F.lit("none")
    # build the ladder back-to-front so earlier lexicons win ties
    names = [n for n, _ in lexicons]
    for i in range(len(names) - 1, -1, -1):
        cond = scores[names[i]] > 0
        for j in range(len(names)):
            if j != i:
                op = (
                    scores[names[i]] >= scores[names[j]]
                    if i < j
                    else scores[names[i]] > scores[names[j]]
                )
                cond = cond & op
        label = F.when(cond, F.lit(names[i])).otherwise(label)
    cols = [F.col("doc_id")]
    cols += [scores[n].alias(f"s_{n}") for n in names]
    cols.append(label.alias("topic"))
    return base.select(*cols)


def oracle_topic_classify(
    lexicons: tuple = TOPIC_LEXICONS,
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    """DuckDB replica of topic_classify — same lexicons, same
    earlier-wins tie ladder."""
    from navigator_document_parser_spark.operators import sql_quote

    names = [n for n, _ in lexicons]
    score_sql = {
        n: (
            "CAST(len(list_filter(toks, t -> t IN ("
            + ", ".join(sql_quote(k) for k in kws)
            + "))) AS BIGINT)"
        )
        for n, kws in lexicons
    }
    sel = ", ".join(f"{score_sql[n]} AS s_{n}" for n in names)
    ladder = "'none'"
    for i in range(len(names) - 1, -1, -1):
        conds = [f"s_{names[i]} > 0"]
        for j in range(len(names)):
            if j != i:
                op = ">=" if i < j else ">"
                conds.append(f"s_{names[i]} {op} s_{names[j]}")
        ladder = (
            f"CASE WHEN {' AND '.join(conds)} THEN '{names[i]}' "
            f"ELSE {ladder} END"
        )
    return f"""
        WITH base AS (
          SELECT {id_col} AS doc_id,
                 string_split_regex(trim(lower({text_col})), '\\s+')
                   AS toks
          FROM {table}
        ), sig AS (
          SELECT doc_id, {sel} FROM base
        )
        SELECT doc_id, {', '.join('s_' + n for n in names)},
               {ladder} AS topic
        FROM sig
    """


# ---------------------------------------------------------------------------
# readability scoring (Flesch reading ease)
# ---------------------------------------------------------------------------

def readability_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flesch reading-ease per document — the audience-level signal
    education/simplification corpora filter on (206.835 - 1.015·w/s -
    84.6·sy/w; Flesch 1948). Syllables via the standard vowel-group
    heuristic ([aeiouy]+ runs), sentences via terminator runs
    ([.!?]+), both shared-safe regexes.

    Engine parity is EXACT, not rounded: both per-doc ratios use the
    integer half-up fixed point of ratio4 (lesson 18), and the score
    is assembled in BIGINT at 10^7 scale —
    score_fx = 2068350000 - 1015*wps_fx - 84600*spw_fx — so there is
    no round() anywhere for shortest-repr HALF_UP to diverge on (the
    4dp-decimal products this formula generates are exactly the
    .xxxx5 boundary class that bites).

    100 TB shape: map-only projection, zero shuffle.

    Returns (doc_id, n_words, n_sentences, n_syllables, wps4, spw4,
    flesch).
    """
    t = F.col(text_col)
    w = F.greatest(
        F.size(
            F.filter(
                F.split(F.trim(F.lower(t)), r"\s+"),
                lambda x: x != "",
            )
        ).cast("bigint"),
        F.lit(1),
    )
    s = F.greatest(
        F.size(
            F.regexp_extract_all(t, F.lit("[.!?]+"), F.lit(0))
        ).cast("bigint"),
        F.lit(1),
    )
    sy = F.size(
        F.regexp_extract_all(F.lower(t), F.lit("[aeiouy]+"), F.lit(0))
    ).cast("bigint")
    # integer half-up 10^4 fixed points (the ratio4 numerator)
    wps_fx = F.floor((w * 20000 + s) / (s * 2)).cast("bigint")
    spw_fx = F.floor((sy * 20000 + w) / (w * 2)).cast("bigint")
    score_fx = (
        F.lit(2068350000).cast("bigint")
        - F.lit(1015) * wps_fx
        - F.lit(84600) * spw_fx
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        w.alias("n_words"),
        s.alias("n_sentences"),
        sy.alias("n_syllables"),
        (wps_fx / F.lit(1e4)).alias("wps4"),
        (spw_fx / F.lit(1e4)).alias("spw4"),
        (score_fx.cast("double") / F.lit(1e7)).alias("flesch"),
    )


def oracle_readability_score(
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    """DuckDB replica of readability_score — identical fixed-point
    assembly."""
    return f"""
        WITH base AS (
          SELECT {id_col} AS doc_id,
                 greatest(CAST(len(list_filter(
                   string_split_regex(trim(lower({text_col})), '\\s+'),
                   x -> x <> '')) AS BIGINT), 1) AS w,
                 greatest(CAST(len(regexp_extract_all({text_col},
                   '[.!?]+')) AS BIGINT), 1) AS s,
                 CAST(len(regexp_extract_all(lower({text_col}),
                   '[aeiouy]+')) AS BIGINT) AS sy
          FROM {table}
        ), fx AS (
          SELECT doc_id, w, s, sy,
                 CAST(floor((w * 20000 + s) / (s * 2)) AS BIGINT)
                   AS wps_fx,
                 CAST(floor((sy * 20000 + w) / (w * 2)) AS BIGINT)
                   AS spw_fx
          FROM base
        )
        SELECT doc_id, w AS n_words, s AS n_sentences,
               sy AS n_syllables,
               wps_fx / 10000.0 AS wps4,
               spw_fx / 10000.0 AS spw4,
               CAST(2068350000 - 1015 * wps_fx - 84600 * spw_fx
                    AS DOUBLE) / 10000000.0 AS flesch
        FROM fx
    """


# ---------------------------------------------------------------------------
# character-trigram gibberish scoring
# ---------------------------------------------------------------------------

def gibberish_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Character-trigram LM score per document — the gibberish /
    keyboard-mash / encoding-garbage detector that catches what the
    word-level LM (lm_rarity) cannot: tokens that are not words at
    all. Model = corpus trigram frequencies; score = mean log2
    P(trigram) over the document's trigram occurrences (higher = more
    natural for this corpus).

    Engine parity is the token_entropy discipline: each occurrence
    contributes floor(log2(C(t)) * 2^20 + 0.5) as BIGINT — the per-doc
    sum is exact integers under any shuffle order; the only floats are
    one per-row log2 (accepted ulp class) and the final assembly
    score = sum_fx / 2^20 / n - log2(T), identical doubles both sides.

    100 TB shape: one trigram explode -> hash aggregate builds the
    alphabet-bounded corpus dictionary (map-side combine absorbs hot
    trigrams); per-doc sums are ONE vectorized Arrow pass over the
    lowered text against the collected (bounded by collect_if_small,
    the broadcast-join shape above it) dictionary — no per-occurrence
    rows ever shuffle or materialize.

    Returns (doc_id, n_tris, score) — score is round()-free: the
    raw double is emitted (hash-stable because its inputs are exact).
    Documents shorter than 3 chars have no trigrams and yield NO row
    (both engines identically).
    """
    # the lowered text must be a STORED column before the interpreted
    # transform lambda reads it: CollapseProject would otherwise inline
    # s = lower(text) into every substring(s, i, 3) — one full-text
    # lower per TRIGRAM (measured 4.5s at sf1.0; ~1.4s with the
    # barrier). Cheap: the projection is one narrow string per doc.
    from typing import Iterator as _Iterator

    import pandas as _pd

    # the lowered text feeds TWO passes (corpus counts + per-doc
    # scoring) — barrier it so lower() runs once; narrow (one string
    # per doc)
    lowered = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.lower(F.col(text_col)).alias("s"),
        )
        .filter(F.length("s") >= 3)
        .localCheckpoint(eager=True)
    )
    id_type = lowered.schema["doc_id"].dataType.simpleString()
    # corpus counts: explode -> hash aggregate (map-side combine
    # absorbs hot trigrams); dictionary-sized output, checkpointed so
    # the size-gated collect and the fallback join don't re-run the
    # explode
    corpus = (
        lowered.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(s) - 2),"
                    " i -> substring(s, i, 3))"
                )
            ).alias("t"),
        )
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        # per-trigram contribution computed in SPARK SQL so the log2
        # stays the JVM's (ulp parity with the old join path)
        .withColumn(
            "contrib",
            F.expr(
                "CAST(floor(log2(CAST(c AS DOUBLE)) * 1048576.0"
                " + 0.5) AS BIGINT)"
            ),
        )
        .localCheckpoint(eager=True)
    )
    # r7: the old shape checkpointed the FULL (doc_id, trigram) table
    # (15M rows at sf1.0) and paid a broadcast join + per-doc shuffle
    # over it. The trigram DICTIONARY is alphabet-bounded (377 at
    # sf1.0), so collect (t, c, contrib) to the driver — the bounded-
    # collect class (centroids, BPE rounds) — and score each doc in
    # one vectorized Arrow pass: trigram codes by bit-packing the
    # UTF-32 char codes (21 bits each), searchsorted into the sorted
    # dictionary (every doc trigram IS in the corpus by construction),
    # integer contrib sums (exact under any order). Falls back to the
    # old join shape if the dictionary is too large to collect.
    dictionary = collect_if_small(corpus)
    if dictionary is not None:
        tt = int(dictionary["c"].sum())  # exact BIGINT total
        import numpy as _np

        def _code(t: str) -> int:
            a = _np.frombuffer(
                t.encode("utf-32-le"), dtype=_np.uint32
            ).astype(_np.int64)
            return int((a[0] << 42) | (a[1] << 21) | a[2])

        pairs = sorted(
            (_code(t), int(c))
            for t, c in zip(dictionary["t"], dictionary["contrib"])
        )
        keys = _np.array([p[0] for p in pairs], dtype=_np.int64)
        vals = _np.array([p[1] for p in pairs], dtype=_np.int64)

        def score_docs(
            batches: _Iterator[_pd.DataFrame],
        ) -> _Iterator[_pd.DataFrame]:
            for pdf in batches:
                ids, nt, sf = [], [], []
                for doc_id, s in zip(pdf["doc_id"], pdf["s"]):
                    a = _np.frombuffer(
                        s.encode("utf-32-le"), dtype=_np.uint32
                    ).astype(_np.int64)
                    tri = (
                        (a[:-2] << 42) | (a[1:-1] << 21) | a[2:]
                    )
                    ids.append(doc_id)
                    nt.append(tri.shape[0])
                    sf.append(
                        int(vals[_np.searchsorted(keys, tri)].sum())
                    )
                yield _pd.DataFrame(
                    {
                        "doc_id": ids,
                        "n_tris": _pd.Series(nt, dtype="int64"),
                        "s_fx": _pd.Series(sf, dtype="int64"),
                    }
                )

        per_doc = lowered.mapInPandas(
            score_docs,
            schema=f"doc_id {id_type}, n_tris bigint, s_fx bigint",
        )
        return per_doc.select(
            "doc_id",
            "n_tris",
            (
                (F.col("s_fx").cast("double") / F.lit(1048576.0))
                / F.col("n_tris")
                - F.expr(f"log2(CAST({int(tt)} AS DOUBLE))")
            ).alias("score"),
        )

    # fallback: dictionary too large to collect — the r6 join shape.
    # (This path re-explodes trigrams for tris where the r6 layout
    # derived corpus FROM the tris checkpoint: one extra compute pass
    # in exchange for the fast path never materializing per-occurrence
    # rows — the rare-path trade, r7 review.)
    tris = (
        lowered.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(s) - 2),"
                    " i -> substring(s, i, 3))"
                )
            ).alias("t"),
        )
        .localCheckpoint(eager=True)
    )
    total = corpus.groupBy().agg(
        F.sum("c").cast("bigint").alias("tt")
    )
    per_doc = (
        tris.join(F.broadcast(corpus), "t")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tris"),
            F.sum("contrib").cast("bigint").alias("s_fx"),
        )
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "n_tris",
        (
            (F.col("s_fx").cast("double") / F.lit(1048576.0))
            / F.col("n_tris")
            - F.expr("log2(CAST(tt AS DOUBLE))")
        ).alias("score"),
    )


def oracle_gibberish_score(
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    """DuckDB replica of gibberish_score."""
    return f"""
        WITH tris AS (
          SELECT {id_col} AS doc_id,
                 unnest(list_transform(
                   generate_series(1, length(lower({text_col})) - 2),
                   i -> substr(lower({text_col}), i, 3))) AS t
          FROM {table}
          WHERE length({text_col}) >= 3
        ), corpus AS (
          SELECT t, CAST(count(*) AS BIGINT) AS c FROM tris GROUP BY t
        ), tot AS (
          SELECT CAST(SUM(c) AS BIGINT) AS tt FROM corpus
        ), per_doc AS (
          SELECT doc_id,
                 CAST(count(*) AS BIGINT) AS n_tris,
                 CAST(SUM(CAST(floor(log2(CAST(c AS DOUBLE))
                      * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT) AS s_fx
          FROM tris JOIN corpus USING (t)
          GROUP BY doc_id
        )
        SELECT doc_id, n_tris,
               (CAST(s_fx AS DOUBLE) / 1048576.0) / n_tris
                 - log2(CAST(tt AS DOUBLE)) AS score
        FROM per_doc, tot
    """


def kn_bigram_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Kneser-Ney count export for bigram LM training (the KenLM
    `lmplz` counting pass): everything interpolated-KN smoothing needs,
    as INTEGERS — per bigram (w1, w2): its count c, the left context's
    total c(w1 .) and fan-out N1+(w1 .), the right word's continuation
    count N1+(. w2), and the global distinct-bigram total N1+(. .).
    P_KN assembles driver/consumer-side from these; exporting counts
    instead of probabilities keeps the operator bit-exact across
    engines (floats would differ in the last ulp) and lets shards merge
    by plain addition — counts are the mergeable state, probabilities
    are not.

    Tokenization matches lm_rarity (whitespace split of trimmed
    lowercase), so the two operators see the same bigram space.

    100 TB shape: one scan -> positional bigram transform (token arrays
    checkpointed first, lessons 3/9) -> one (w1, w2) count aggregate
    with map-side combine, eagerly checkpointed ONCE because it feeds
    three aggregate branches and a 1-row total (lesson 16's
    subtree-duplication trap); the context/continuation joins are plain
    equi-joins AQE broadcasts when the vocabulary allows. The
    ``min_count`` cut applies at the END so every exported row's
    context totals reflect the uncut corpus (pruning before the
    aggregates would bias c(w1 .) exactly like KenLM's pruning caveat).

    Returns (w1, w2, c, c_w1, n1p_w1, cont_w2, n1p_total), c >= min_count.
    """
    if int(min_count) < 1:
        raise ValueError("min_count must be >= 1")
    tokens = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = df.select(F.col(id_col).alias("doc_id"), tokens.alias("t"))
    base = base.localCheckpoint(eager=True)
    pairs = F.transform(
        F.sequence(F.lit(0), F.size("t") - 2),
        lambda i: F.struct(
            F.element_at("t", (i + 1).cast("int")).alias("w1"),
            F.element_at("t", (i + 2).cast("int")).alias("w2"),
        ),
    )
    bg = base.filter(F.size("t") >= 2).select(
        F.explode(pairs).alias("s")
    ).select(F.col("s.w1").alias("w1"), F.col("s.w2").alias("w2"))
    big = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=True)
    )
    w1s = big.groupBy("w1").agg(
        F.sum("c").cast("bigint").alias("c_w1"),
        F.count(F.lit(1)).cast("bigint").alias("n1p_w1"),
    )
    w2s = big.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("cont_w2")
    )
    tot = big.agg(F.count(F.lit(1)).cast("bigint").alias("n1p_total"))
    return (
        big.join(w1s, "w1")
        .join(w2s, "w2")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("c") >= int(min_count))
        .select("w1", "w2", "c", "c_w1", "n1p_w1", "cont_w2",
                "n1p_total")
    )


def oracle_kn_bigram_counts(docs_sql: str, min_count: int = 1) -> str:
    """DuckDB replica of kn_bigram_counts; ``docs_sql`` yields
    (doc_id, text)."""
    return f"""
        WITH toks AS MATERIALIZED (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\\s+') AS t
          FROM ({docs_sql})
        ), bg AS MATERIALIZED (
          SELECT s.w1 AS w1, s.w2 AS w2 FROM (
            SELECT unnest(list_transform(range(1, len(t)),
                     i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS s
            FROM toks WHERE len(t) >= 2
          )
        ), big AS MATERIALIZED (
          SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
          FROM bg GROUP BY w1, w2
        ), w1s AS (
          SELECT w1, CAST(sum(c) AS BIGINT) AS c_w1,
                 CAST(count(*) AS BIGINT) AS n1p_w1
          FROM big GROUP BY w1
        ), w2s AS (
          SELECT w2, CAST(count(*) AS BIGINT) AS cont_w2
          FROM big GROUP BY w2
        ), tot AS (
          SELECT CAST(count(*) AS BIGINT) AS n1p_total FROM big
        )
        SELECT b.w1, b.w2, b.c, w1s.c_w1, w1s.n1p_w1, w2s.cont_w2,
               tot.n1p_total
        FROM big b
        JOIN w1s USING (w1) JOIN w2s USING (w2) CROSS JOIN tot
        WHERE b.c >= {int(min_count)}
    """
