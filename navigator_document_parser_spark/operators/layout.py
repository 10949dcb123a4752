"""Data-layout optimization: Z-order clustering for multi-dimensional
scan pruning (the Delta/Iceberg OPTIMIZE ZORDER analog).

A 100 TB table queried by BOTH host/source and time/size benefits from
neither a sort on one key nor the other; interleaving the bits of the
two dimensions (the Z-order / Morton curve) gives every range of the
curve locality in BOTH dimensions, so min/max file statistics prune
scans for either predicate. This module computes the curve position and
the range bucket a writer would repartitionByRange on.

Everything is INTEGER math — min/max scaling is divide-first by a
bucket width (never a float ratio, never a range-sized multiply), and
the interleave is a sum of shifted bit tests — so the DuckDB oracle
reproduces every value bit-for-bit and a re-layout of the same data is
byte-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _scale_sql(col: str, mn: str, mx: str, bits: int) -> str:
    """Integer scale of ``col`` into [0, 2^bits) by bucket width
    ``((max-min) div 2^bits) + 1``: divide-first, so no intermediate
    ever exceeds the data's own range — the multiply-first form
    (col-mn)*(2^bits-1) overflows INT64 for wide dimensions (epoch
    microseconds over a few years already exceed 2^63/65535; DuckDB
    errors, non-ANSI Spark silently wraps). Exact in both engines;
    degenerate range (max == min) needs no special case (width 1,
    everything maps to 0)."""
    m = 1 << bits
    return (
        f"(({col} - {mn}) div ((({mx} - {mn}) div {m}) + 1))"
    )


def _interleave_sql(za: str, zb: str, bits: int, dialect: str) -> str:
    """Morton interleave: bit i of za -> bit 2i, bit i of zb -> bit
    2i+1. Rendered as ONE flat sum (2*bits terms) per CLAUDE.md lesson
    13 — py4j node-by-node construction of wide expressions costs more
    driver time than execution. ``dialect`` picks shift spelling:
    'spark' uses shiftright/shiftleft functions, 'duckdb' uses >>/<<
    operators."""
    terms = []
    for i in range(bits):
        if dialect == "spark":
            a = f"shiftleft(shiftright({za}, {i}) & 1, {2 * i})"
            b = f"shiftleft(shiftright({zb}, {i}) & 1, {2 * i + 1})"
        else:
            a = f"((({za} >> {i}) & 1) << {2 * i})"
            b = f"((({zb} >> {i}) & 1) << {2 * i + 1})"
        terms.append(a)
        terms.append(b)
    return " + ".join(terms)


def zorder_layout(
    df: DataFrame,
    dim_a: str,
    dim_b: str,
    id_col: str = "doc_id",
    bits: int = 16,
    n_buckets: int = 32,
) -> DataFrame:
    """Z-order curve position + range bucket for a two-dimensional
    layout key. Returns (id, za, zb, zvalue, bucket).

    100 TB shape: one 1-row min/max aggregate per run (broadcast back
    via crossJoin), then a map-only projection computing the scaled
    coordinates and the interleaved curve position. A production writer
    follows with repartitionByRange(n_buckets, zvalue) + write; the plan
    here stays shuffle-free so the operator composes under other
    layouts. Buckets are equal-width slices of the curve (bucket =
    zvalue * n_buckets div 2^(2*bits)); range-partitioning on zvalue at
    write time balances row counts even when the curve is occupied
    unevenly.
    """
    if bits <= 0 or bits > 31:
        raise ValueError("bits must be in [1, 31]")
    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    if n_buckets > (1 << 62) >> (2 * bits):
        # zvalue < 2^(2*bits); the bucket multiply must stay in INT64
        raise ValueError("n_buckets too large for 2*bits curve width")
    stats = df.agg(
        F.min(dim_a).cast("bigint").alias("mna"),
        F.max(dim_a).cast("bigint").alias("mxa"),
        F.min(dim_b).cast("bigint").alias("mnb"),
        F.max(dim_b).cast("bigint").alias("mxb"),
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(dim_a).cast("bigint").alias("a"),
        F.col(dim_b).cast("bigint").alias("b"),
    ).crossJoin(F.broadcast(stats))
    za = _scale_sql("a", "mna", "mxa", bits)
    zb = _scale_sql("b", "mnb", "mxb", bits)
    scaled = base.select(
        "id",
        F.expr(za).cast("bigint").alias("za"),
        F.expr(zb).cast("bigint").alias("zb"),
    )
    z = _interleave_sql("za", "zb", bits, "spark")
    return scaled.select(
        "id",
        "za",
        "zb",
        F.expr(z).cast("bigint").alias("zvalue"),
    ).withColumn(
        "bucket",
        F.expr(f"zvalue * {n_buckets} div {1 << (2 * bits)}").cast(
            "bigint"
        ),
    )


def oracle_zorder_layout(
    dim_a: str,
    dim_b: str,
    id_col: str = "doc_id",
    table: str = "documents",
    bits: int = 16,
    n_buckets: int = 32,
) -> str:
    """DuckDB SQL computing exactly zorder_layout()."""
    za = _scale_sql("a", "mna", "mxa", bits).replace(" div ", " // ")
    zb = _scale_sql("b", "mnb", "mxb", bits).replace(" div ", " // ")
    z = _interleave_sql("za", "zb", bits, "duckdb")
    return f"""
        WITH stats AS (
          SELECT CAST(min({dim_a}) AS BIGINT) AS mna,
                 CAST(max({dim_a}) AS BIGINT) AS mxa,
                 CAST(min({dim_b}) AS BIGINT) AS mnb,
                 CAST(max({dim_b}) AS BIGINT) AS mxb
          FROM {table}
        ), base AS (
          SELECT {id_col} AS id, CAST({dim_a} AS BIGINT) AS a,
                 CAST({dim_b} AS BIGINT) AS b, s.*
          FROM {table} CROSS JOIN stats s
        ), scaled AS (
          SELECT id, CAST({za} AS BIGINT) AS za,
                 CAST({zb} AS BIGINT) AS zb
          FROM base
        )
        SELECT id, za, zb,
               CAST({z} AS BIGINT) AS zvalue,
               CAST(({z}) * {n_buckets} // {1 << (2 * bits)} AS BIGINT)
                 AS bucket
        FROM scaled
    """


# --------------------------------------------------------------------------
# rendezvous (highest-random-weight) shard assignment
# --------------------------------------------------------------------------

def _hrw_pick_sql(key_sql: str, shards: int, dialect: str) -> str:
    """Argmax-by-score shard pick as ONE flat SQL string (CLAUDE.md
    lesson 13): score_s = md5_u32('rv:<s>:' || key); WHEN branch i
    tests h_i >= h_j for all j > i, so the first matching branch is the
    first index attaining the max (deterministic tie-break by lowest
    shard id; both engines CSE the repeated md5 within a projection)."""
    from navigator_document_parser_spark.operators import md5_u32_sql

    def h(s: int) -> str:
        inner = (
            f"concat('rv:{s}:', {key_sql})"
            if dialect == "spark"
            else f"'rv:{s}:' || {key_sql}"
        )
        return md5_u32_sql(inner, dialect)

    hs = [h(s) for s in range(int(shards))]
    whens = []
    for i in range(int(shards) - 1):
        cond = " AND ".join(
            f"{hs[i]} >= {hs[j]}" for j in range(i + 1, int(shards))
        )
        whens.append(f"WHEN {cond} THEN {i}")
    return (
        "CASE " + " ".join(whens) + f" ELSE {int(shards) - 1} END"
    )


def rendezvous_shards(
    df: DataFrame,
    key_col: str = "url",
    id_col: str = "doc_id",
    shards: int = 8,
    alt_shards: int = 9,
) -> DataFrame:
    """Rendezvous / highest-random-weight shard assignment (Thaler &
    Ravishankar 1998) — the stable way to lay out a 100 TB corpus into
    output shards: each key goes to argmax_s md5('rv:<s>:' || key).
    Unlike ``hash(key) % n``, growing n -> n+1 moves ONLY the keys the
    new shard wins (expected 1/(n+1) of the corpus); a mod-hash
    relayout moves ~n/(n+1) of every byte. The ``moved`` column is that
    diff computed in the same pass for both shard counts — the
    capacity-planning question ("what does adding a shard cost?")
    answered without a second job.

    All integer md5 math in two flat CASE ladders inside one codegen
    projection — zero shuffle, zero UDF; a writer follows with
    repartition(shards, 'shard') which is the one unavoidable shuffle
    of any re-layout.

    Returns (doc_id, shard, shard_grown, moved).
    """
    if shards < 1 or alt_shards < 1:
        raise ValueError("shard counts must be positive")
    pick = _hrw_pick_sql(key_col, shards, "spark")
    pick_alt = _hrw_pick_sql(key_col, alt_shards, "spark")
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.expr(pick).cast("bigint").alias("shard"),
        F.expr(pick_alt).cast("bigint").alias("shard_grown"),
    ).withColumn(
        "moved",
        (F.col("shard") != F.col("shard_grown")).cast("int"),
    )


def oracle_rendezvous_shards(
    key_col: str = "url",
    id_col: str = "doc_id",
    table: str = "documents",
    shards: int = 8,
    alt_shards: int = 9,
) -> str:
    """DuckDB replica of rendezvous_shards — same md5 scores, same
    first-max CASE ladder."""
    pick = _hrw_pick_sql(key_col, shards, "duckdb")
    pick_alt = _hrw_pick_sql(key_col, alt_shards, "duckdb")
    return f"""
        SELECT {id_col} AS doc_id,
               CAST({pick} AS BIGINT) AS shard,
               CAST({pick_alt} AS BIGINT) AS shard_grown,
               CAST(CASE WHEN ({pick}) <> ({pick_alt}) THEN 1 ELSE 0 END
                    AS INT) AS moved
        FROM {table}
    """


# --------------------------------------------------------------------------
# small-file compaction planning (Iceberg rewrite_data_files analog)
# --------------------------------------------------------------------------

def compact_plan(
    files: DataFrame,
    part_col: str = "part",
    path_col: str = "path",
    bytes_col: str = "bytes",
    target_bytes: int = 512 * 1024 * 1024,
    min_input_files: int = 2,
) -> DataFrame:
    """Bin-pack small files into target-size rewrite groups — the
    lakehouse maintenance pass (Iceberg's rewrite_data_files / Delta
    OPTIMIZE) that keeps a 100 TB table's scan-task count sane: every
    file below ``target_bytes`` is assigned, within its table
    partition, to a contiguous next-fit group whose id is the file's
    starting byte offset div target (deterministic: files walk in path
    order, so a group closes as soon as the running total passes the
    target — at most one overshooting file per group, the classic
    next-fit bound). Files already at/over target are left alone, and
    groups with fewer than ``min_input_files`` members are dropped
    (rewriting one small file buys nothing — Iceberg's
    min-input-files default).

    The window partitions by the TABLE partition — the unit compaction
    runs over anyway — so per-partition state is bounded and there is
    never a global sort (the dedup_snm discipline; a file listing is
    1 row per file, but partition-local windows keep the plan correct
    at any listing size).

    Returns (part, path, bytes, grp, grp_files, grp_bytes) — one row
    per file to rewrite; (part, grp) identifies the output file.
    """
    if int(target_bytes) <= 0:
        raise ValueError("target_bytes must be positive")
    if int(min_input_files) <= 1:
        raise ValueError("min_input_files must be at least 2")
    small = files.select(
        F.col(part_col).alias("part"),
        F.col(path_col).alias("path"),
        F.col(bytes_col).cast("bigint").alias("bytes"),
    ).filter(F.col("bytes") < int(target_bytes))
    w = (
        Window.partitionBy("part").orderBy("path")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # starting-offset div target, in INTEGER math (bigint div — a
    # double division would lose exactness past 2^53 cumulative bytes)
    planned = small.withColumn(
        "off", F.sum("bytes").over(w) - F.col("bytes")
    ).withColumn(
        "grp", F.expr(f"off div {int(target_bytes)}").cast("bigint")
    ).drop("off")
    wg = Window.partitionBy("part", "grp")
    return (
        planned.withColumn(
            "grp_files", F.count(F.lit(1)).over(wg).cast("bigint")
        )
        .withColumn("grp_bytes", F.sum("bytes").over(wg).cast("bigint"))
        .filter(F.col("grp_files") >= int(min_input_files))
        .select("part", "path", "bytes", "grp", "grp_files", "grp_bytes")
    )


def oracle_compact_plan(
    files_sql: str,
    target_bytes: int,
    min_input_files: int = 2,
) -> str:
    """DuckDB replica of compact_plan; ``files_sql`` yields
    (part, path, bytes)."""
    t = int(target_bytes)
    return f"""
        WITH fl AS ({files_sql}),
        small AS (
          SELECT part, path, CAST(bytes AS BIGINT) AS bytes
          FROM fl WHERE bytes < {t}
        ), planned AS (
          SELECT part, path, bytes,
                 CAST((SUM(bytes) OVER (PARTITION BY part ORDER BY path
                        ROWS UNBOUNDED PRECEDING) - bytes)
                      // {t} AS BIGINT) AS grp
          FROM small
        ), sized AS (
          SELECT part, path, bytes, grp,
                 CAST(count(*) OVER (PARTITION BY part, grp) AS BIGINT)
                   AS grp_files,
                 CAST(SUM(bytes) OVER (PARTITION BY part, grp) AS BIGINT)
                   AS grp_bytes
          FROM planned
        )
        SELECT part, path, bytes, grp, grp_files, grp_bytes
        FROM sized WHERE grp_files >= {int(min_input_files)}
    """


def table_stats(
    df: DataFrame,
    cols: list[str],
) -> DataFrame:
    """ANALYZE-style per-column statistics in ONE scan — the numbers a
    cost-based optimizer (and a human sizing shuffle partitions) needs:
    row count, null count, exact distinct count, and min/max rendered
    as strings (type-agnostic output schema). All aggregates fold into
    a single Aggregate node (one pass, partial map-side combine);
    count(DISTINCT) over several columns expands via Spark's standard
    expand-node rewrite — still one scan of the table.

    At 100 TB exact NDV per column is the expensive part; swap
    count_distinct for approx_count_distinct (HLL) there — kept exact
    here so the operator is oracle-checkable bit-for-bit. min/max cast
    to string AFTER aggregation (cast(min(x)) not min(cast(x)):
    numeric order, not lexicographic).

    Returns (col, n_rows, n_null, n_distinct, min_val, max_val),
    one row per requested column.
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"_null_{c}"),
            F.count_distinct(F.col(c)).alias(f"_ndv_{c}"),
            F.min(F.col(c)).cast("string").alias(f"_min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_max_{c}"),
        ]
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', _null_{c}, _ndv_{c}, _min_{c}, _max_{c}" for c in cols
    )
    return one.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(col, n_null, n_distinct, min_val, max_val)"
        ),
        F.col("_n").alias("n_rows"),
    ).select(
        "col",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_null").cast("bigint").alias("n_null"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        "min_val", "max_val",
    )


def oracle_table_stats(table_sql: str, cols: list[str]) -> str:
    """DuckDB replica of table_stats; one UNION ALL branch per column
    over a single materialized source CTE."""
    branches = "\n        UNION ALL\n".join(
        f"""        SELECT '{c}' AS col,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(*) FILTER (WHERE {c} IS NULL) AS BIGINT)
                 AS n_null,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(min({c}) AS STRING) AS min_val,
               CAST(max({c}) AS STRING) AS max_val
        FROM src"""
        for c in cols
    )
    return f"""
        WITH src AS MATERIALIZED ({table_sql})
{branches}
    """
