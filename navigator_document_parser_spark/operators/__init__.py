"""Operator library (dedup / similarity / text / selection / graph /
multimodal / urls / robots / search / joins).

Shared helper for the DuckDB oracle renderers: caller-supplied strings
(query terms, rule paths, blocklist words) are embedded as SQL literals,
so embedded single quotes must be doubled or the rendered oracle is
broken/altered SQL.
"""


def sql_quote(s: str) -> str:
    """Render ``s`` as a single-quoted ANSI SQL string literal."""
    return "'" + str(s).replace("'", "''") + "'"


def md5_u32_sql(inner: str, dialect: str) -> str:
    """The repo's ONE portable 32-bit hash: the first 8 hex chars of
    md5(<inner>) as a BIGINT in [0, 2^32). ``inner`` is a SQL string
    expression rendered verbatim (add seeds/casts in the caller).
    Spark spells the conversion conv(...,16,10); DuckDB casts a '0x'
    literal — everything downstream (Bloom positions, shard and worker
    assignment, sketch registers, samplers) derives from this single
    definition so the Spark/DuckDB parity contract lives in one place.
    """
    if dialect == "spark":
        return (
            f"cast(conv(substring(md5({inner}), 1, 8), 16, 10) as bigint)"
        )
    if dialect == "duckdb":
        return (
            f"CAST('0x' || substring(md5({inner}), 1, 8) AS BIGINT)"
        )
    raise ValueError(f"unknown dialect {dialect!r}")


def ratio4(num, den):
    """Portable 4dp half-up rounding of a COUNT ratio num/den.

    round(num/den, 4) on doubles is NOT engine-portable: Spark's round()
    applies BigDecimal HALF_UP to the double's shortest decimal repr
    (Double.toString) while DuckDB rounds the binary value — a ratio of
    integers whose shortest repr prints as exactly .xxxx5 (e.g.
    113/800 = 0.14125, not dyadic) rounds to .xxx13 in Spark and
    .xxx12 in DuckDB. floor((num*20000 + den) / (2*den)) / 1e4 is
    half-up of num*10000/den computed in exact double arithmetic in
    both engines (valid for non-negative integer num, den with
    num*20000 + den < 2^52; the quotient is representable whenever it
    is an exact integer, so floor never mis-crosses).

    Use for any ratio of counts emitted at 4dp; keep plain round() for
    genuinely float-valued expressions (cosines, logs), where a
    5-significant-digit shortest repr has vanishing probability.
    """
    from pyspark.sql import functions as F

    return F.floor((num * 20000 + den) / (den * 2)) / F.lit(1e4)


def ratio4_sql(num: str, den: str) -> str:
    """SQL rendering of ratio4 — dialect-neutral (floor/+/*/÷ only);
    multiplies in double, which is exact at count magnitudes."""
    return (
        f"(floor(((({num})) * 20000.0 + (({den}))) / (2.0 * (({den}))))"
        f" / 10000.0)"
    )


# Row bound of every size-selected driver fast path (collect_if_small).
# For the graph operators it counts symmetric edge rows: 1M rows of two
# longs is ~16 MB on the driver.
DRIVER_MAX_ROWS = 1 << 20


def collect_if_small(df, non_null=()):
    """The one gate in front of a driver fast path: collect ``df`` as
    pandas when it has at most DRIVER_MAX_ROWS rows and no NULL in the
    ``non_null`` columns, else return None and let the caller run its
    distributed path. One action (a LIMIT collect, so a frame over the
    bound never reaches the driver whole); the size alone picks the
    path, and the distributed path is the reference the fast replay is
    tested against. NULLs are not orderable on the driver, so they go
    to the distributed path too."""
    pdf = df.limit(DRIVER_MAX_ROWS + 1).toPandas()
    if len(pdf) > DRIVER_MAX_ROWS or any(
        pdf[c].isna().any() for c in non_null
    ):
        return None
    return pdf


def materialize_concurrently(spark, *thunks):
    """Run independent materialization thunks (each typically ending in
    an eager localCheckpoint) in parallel driver threads and return
    their results in argument order — guide §2.6: Spark actions are
    only sequential because driver code calls them sequentially.
    Threads are wrapped with inheritable_thread_target(spark) so the
    caller's local properties and the session's job tags reach the jobs
    each thunk runs (without the session, pyspark drops the tags)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(inherit(t)) for t in thunks]
        return [f.result() for f in futures]
