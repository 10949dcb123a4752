"""Similarity search over an embedding column (array<float>).

Two paths:
  - brute-force cosine top-k: broadcast the (small) query set, JVM-side
    dot product via zip_with/aggregate, window rank. The correctness
    baseline; O(N*Q) but fully distributed and shuffle-light (the only
    shuffle is the per-query top-k window, which AQE keeps tiny because
    rows are (query_id, vec_id, sim)).
  - LSH (random-hyperplane) bucketed: deterministic md5-derived
    hyperplanes -> sign-bit bucket; candidates only within a bucket.
    The scale path: at 10^9 vectors the cross product is gone and each
    bucket is a tiny local problem.

Embeddings cast to double before arithmetic so results match a float64
oracle (DuckDB list_cosine_similarity) at 4dp rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Rows per chunk of an in-block numpy gram matmul: a chunk's similarity
# matrix is chunk x block_size doubles. Read at call time; tests patch
# them to force many partial chunks.
NEARDUP_CHUNK_ROWS = 2048
KNN_GRAPH_CHUNK_ROWS = 1024
BITEXT_CHUNK_ROWS = 1024
BITEXT_LSH_CHUNK_ROWS = 2048
# Rows per side of one bitext_margin_mine hash block (task size).
BITEXT_BLOCK_ROWS = 12288


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity, 4dp (cross-engine float-stable)."""
    da = a.cast("array<double>")
    db = b.cast("array<double>")
    denom = norm(da) * norm(db)
    return F.round(
        F.when(denom == 0, F.lit(0.0)).otherwise(dot(da, db) / denom), 4
    )


def knn_bruteforce(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Top-k cosine neighbors per query (excluding self-matches).

    queries: (query_id, embedding). Broadcast — the query side must be
    small (the classic ANN-serving shape); the corpus side streams.
    Deterministic rank: (sim desc, vec_id asc).
    """
    from pyspark.sql.window import Window

    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
        )
    )
    scored = embeddings.alias("e").crossJoin(q).select(
        "query_id",
        F.col(f"e.{id_col}").alias("vec_id"),
        cosine(F.col(f"e.{vec_col}"), F.col("qvec")).alias("sim"),
    ).filter(F.col("vec_id") != F.col("query_id"))

    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "sim", "rank")
    )


def _hyperplane(dim: int, plane: int, seed: int = 42) -> list[float]:
    """Deterministic pseudo-random hyperplane from md5 — no RNG state."""
    import hashlib

    vals = []
    for d in range(dim):
        h = hashlib.md5(f"{seed}:{plane}:{d}".encode()).hexdigest()
        vals.append((int(h[:8], 16) % 2001 - 1000) / 1000.0)
    return vals


def _lsh_bucket_sql(vec_sql: str, dim: int, n_planes: int, seed: int) -> str:
    """The bucket expression as ONE SQL string. Semantically identical to
    the Column construction below (same left-associated aggregate/
    zip_with fold, same literal doubles: repr() round-trips exactly into
    Java's Double.parseDouble), but the whole tree parses in a single
    gateway call — building it node-by-node through py4j costs hundreds
    of driver round-trips per bucket and dominated knn_lsh wall time
    (execution is sub-second; construction was multi-second)."""
    terms = []
    for p in range(n_planes):
        plane = _hyperplane(dim, p, seed)
        arr = "array(" + ",".join(f"{x!r}D" for x in plane) + ")"
        proj = (
            f"aggregate(zip_with(CAST({vec_sql} AS ARRAY<DOUBLE>), {arr}, "
            f"(x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {proj} >= 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def lsh_bucket(vec: Column | str, dim: int, n_planes: int = 8, seed: int = 42) -> Column:
    """Random-hyperplane sign bucket (int in [0, 2^n_planes)).

    Pass a column NAME (str) on hot paths: the expression then parses in
    one gateway call (_lsh_bucket_sql). A Column is accepted for
    composed expressions and builds the identical tree node-by-node.
    """
    if isinstance(vec, str):
        return F.expr(_lsh_bucket_sql(vec, dim, n_planes, seed))
    v = vec.cast("array<double>")
    bucket = F.lit(0)
    for p in range(n_planes):
        plane = _hyperplane(dim, p, seed)
        proj = F.aggregate(
            F.zip_with(v, F.lit(plane), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def _bucket_case(vec_name: str, dim: int, n_planes: int, n_tables: int) -> Column:
    """Per-table LSH bucket for a row holding an exploded literal table
    id ``tbl``: a CASE evaluates one branch per row, so each exploded
    copy pays only its own table's n_planes folds, and the whole tree
    parses in ONE gateway call (see _lsh_bucket_sql)."""
    whens = " ".join(
        f"WHEN {t} THEN {_lsh_bucket_sql(vec_name, dim, n_planes, 42 + t)}"
        for t in range(n_tables)
    )
    return F.expr(f"CASE tbl {whens} END")


def knn_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH.

    A candidate is scored if it shares a bucket with the query in ANY of
    the ``n_tables`` independent hash tables (the standard recall
    amplifier: miss probability decays as miss_one^n_tables). Recall <
    1.0 by construction; the bruteforce path is the oracle.

    Plan shape — ONE corpus scan, ONE broadcast-hash EQUI-join, ONE job:
    each side explodes a LITERAL [0..n_tables) table-id array (literal,
    so InferFiltersFromGenerate's size>0 guard costs nothing — exploding
    a COMPUTED bucket array re-evaluates every fold twice, finding 3)
    and derives its bucket with a per-table CASE over ``tbl``, so each
    exploded row evaluates exactly its own table's n_planes folds: total
    fold work is identical to a materialized index table, with no
    checkpoint I/O and no 4x scan fan-out (the r2 union-of-branches paid
    4 corpus scans + 4 plans). Candidate generation stays O(sum of
    bucket collision sizes) — never the O(N*Q) nested-loop an
    OR-of-buckets predicate forces (finding 8). A pair colliding in m
    tables appears m times with an identical sim; the narrow candidate
    rows dedup + rank in ONE exchange on query_id (lag-based dedup
    shares the window's partitioning, so there is no second shuffle).
    The fold math is untouched: left-associated aggregate/zip_with, so
    bucket ids stay bit-identical to the SQL oracle. At 10^9 vectors a
    deployment serving many query batches would persist the exploded
    (tbl, bkt, vec_id) index once and reuse it; for a single batch this
    single-pass shape is strictly cheaper.
    """
    from pyspark.sql.window import Window

    tbl_ids = F.array(*[F.lit(t) for t in range(n_tables)])

    e_idx = (
        embeddings.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("evec")
        )
        .withColumn("tbl", F.explode(tbl_ids))
        .withColumn("bkt", _bucket_case("evec", dim, n_planes, n_tables))
    )
    q_idx = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
        )
        .withColumn("tbl", F.explode(tbl_ids))
        .withColumn("bkt", _bucket_case("qvec", dim, n_planes, n_tables))
    )

    cand = (
        e_idx.join(F.broadcast(q_idx), ["tbl", "bkt"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosine(F.col("evec"), F.col("qvec")).alias("sim"),
        )
    )

    # dedup multi-table collisions and rank in one exchange: both windows
    # partition by query_id, so Catalyst plans a single shuffle with two
    # in-partition sorts (dropDuplicates would add its own exchange on
    # (query_id, vec_id) before the rank shuffle)
    w_d = Window.partitionBy("query_id").orderBy(F.col("vec_id").asc())
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    return (
        cand.withColumn(
            "_dup", F.col("vec_id") == F.lag("vec_id").over(w_d)
        )
        .filter(~F.coalesce(F.col("_dup"), F.lit(False)))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "sim", "rank")
    )


def _unit(vec: list[float]) -> list[float]:
    """Driver-side L2 normalization (zero vectors stay zero)."""
    import math

    n = math.sqrt(sum(x * x for x in vec))
    if n == 0:
        return [0.0] * len(vec)
    return [x / n for x in vec]


def _probe_udf(unit_cents: list[list[float]], n_probe: int):
    """Vectorized nearest-cell assignment: one Arrow-batched numpy matmul.

    The assignment score is dot(v, ĉ) against PRE-NORMALIZED centroids:
    |v| is a positive per-row constant, so argmax over ĉ equals argmax
    cosine. Dense (batch × dim) @ (dim × C) scoring is exactly what BLAS
    is for — a JVM-side formulation is either a crossJoin + window
    (shuffles N*C rows) or an interpreted higher-order-function tree
    (~1024 literal nodes; no codegen, second-scale plan-compile cost per
    job), both measured slower at every scale. ZERO shuffle: the UDF is
    a pure projection. ``n_probe=1`` returns [nearest]; ties break
    toward the smallest cid (np.argsort stable, matching struct-max
    tie-break semantics). cids are 1-based.
    """
    from pyspark.sql.functions import pandas_udf

    mat = [list(c) for c in unit_cents]  # plain lists: cheap to pickle
    n = int(n_probe)

    def probe(v):
        import numpy as np
        import pandas as pd

        m = np.asarray(mat, dtype=np.float64).T  # dim x C
        x = np.stack(v.to_numpy()).astype(np.float64)  # batch x dim
        s = x @ m  # batch x C
        order = np.argsort(-s, axis=1, kind="stable")[:, :n] + 1
        return pd.Series(list(order.astype("int32")))

    return pandas_udf(probe, "array<int>")


def _collect_centroids(centroids: DataFrame) -> list[list[float]]:
    """(cid, centroid) DataFrame -> cid-ordered driver list (cid = idx+1)."""
    rows = centroids.select("cid", "centroid").collect()
    return [list(r["centroid"]) for r in sorted(rows, key=lambda r: r["cid"])]


def ivf_train_sampled(
    embeddings: DataFrame,
    n_centroids: int = 16,
    sample_size: int = 4096,
    iterations: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tol: float = 1e-9,
) -> DataFrame:
    """IVF coarse quantizer trained on a bounded driver sample — the
    production IVF shape (FAISS trains its quantizer on a sample, not
    the corpus): ONE Spark job collects a deterministic md5-ordered
    sample (TakeOrdered — no full sort, O(sample_size) driver memory
    at ANY corpus scale), then Lloyd's k-means runs locally in numpy
    at BLAS speed, where 20 iterations cost milliseconds instead of 20
    driver-round-trip jobs.

    2 jobs total, independent of ``iterations``: a coarse quantizer's
    training set never needs to exceed ~100k vectors, so trading data
    motion for job latency is the right call. Seeding: farthest-first
    (maximin) from the sample head. Deterministic (md5 order, no RNG
    state). Returns (cid, centroid array<double>), cid in
    [1, n_centroids].
    """
    import numpy as np

    rows = (
        embeddings.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .orderBy(F.md5(F.col("vid").cast("string")), F.col("vid"))
        .limit(int(sample_size))
        .collect()
    )
    x = np.asarray([list(r["v"]) for r in rows], dtype=np.float64)
    n, dim = x.shape
    k = min(int(n_centroids), n)

    # farthest-first seeding on the (already md5-shuffled) sample
    norms = np.sqrt((x * x).sum(axis=1))
    safe = np.where(norms == 0.0, 1.0, norms)
    xu = x / safe[:, None]
    seeds = [0]
    sims = xu @ xu[0]  # cosine to nearest chosen seed
    for _ in range(1, k):
        nxt = int(np.argmin(sims))
        seeds.append(nxt)
        sims = np.maximum(sims, xu @ xu[nxt])
    cents = x[seeds].copy()

    for _ in range(int(iterations)):
        cu = cents / np.where(
            (cn := np.sqrt((cents * cents).sum(axis=1))) == 0.0, 1.0, cn
        )[:, None]
        assign = np.argmax(xu @ cu.T, axis=1)
        new = cents.copy()  # empty clusters keep position
        for c in range(k):
            members = x[assign == c]
            if len(members):
                new[c] = members.mean(axis=0)
        moved = float(np.abs(new - cents).max())
        cents = new
        if moved <= tol:
            break

    spark = embeddings.sparkSession
    return spark.createDataFrame(
        [(i + 1, [float(v) for v in c]) for i, c in enumerate(cents)],
        schema="cid int, centroid array<double>",
    )


def knn_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF search: score only vectors in the query's n_probe nearest
    cells. Cell assignment on BOTH sides is a shuffle-free vectorized
    projection (_probe_udf numpy matmul); the cell match is a
    broadcast-hash EQUI-join on cid (queries are tiny). The only shuffle
    in the whole plan is the final per-query top-k window over the
    narrow candidate rows. Each corpus vector lives in exactly one cell
    and probe cids are distinct, so no dedup pass is needed. At corpus
    scale the candidate set shrinks by ~n_probe/n_centroids.
    """
    from pyspark.sql.window import Window

    unit = [_unit(c) for c in _collect_centroids(centroids)]
    nearest = _probe_udf(unit, 1)
    prober = _probe_udf(unit, n_probe)

    e_cells = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("evec"),
        F.element_at(nearest(F.col(vec_col)), 1).alias("cid"),
    )
    q_cells = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            F.explode(prober(F.col(vec_col))).alias("cid"),
        )
    )
    scored = (
        e_cells.join(q_cells, "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosine(F.col("evec"), F.col("qvec")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "sim", "rank")
    )


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the standard memory prep
    for an ANN index (4x smaller than float32; IVF/LSH recall loss is
    marginal because relative magnitudes within a vector survive).

    scale = max(|v|) / 127; q[d] = sign(v[d]) * floor(|v[d]|/scale + .5)
    in [-127, 127] (zero vectors quantize to zeros with scale 0). The
    sign*floor(+0.5) form is round-half-away-from-zero built ONLY from
    IEEE-exact ops, so numpy, Spark SQL, and DuckDB agree bit-for-bit —
    engine round() half-mode differences can't leak into the oracle.
    Vectorized numpy batch math (an aggregate-fold HOF would re-evaluate
    max|v| per element after CollapseProject — O(dim^2)/row,
    CLAUDE.md lesson 2); zero shuffle. Output keeps the scale so
    dequantization (q * scale) bounds per-coordinate error by scale/2.
    """
    from pyspark.sql.functions import pandas_udf

    def quant(v):
        import numpy as np
        import pandas as pd

        x = np.stack(v.to_numpy()).astype(np.float64)  # batch x dim
        amax = np.abs(x).max(axis=1)
        scale = amax / 127.0
        safe = np.where(scale == 0.0, 1.0, scale)
        q = (np.sign(x) * np.floor(np.abs(x) / safe[:, None] + 0.5))
        q = np.where(scale[:, None] == 0.0, 0.0, q).astype("int32")
        return pd.DataFrame({"scale": scale, "q": list(q)})

    quant_udf = pandas_udf(quant, "struct<scale:double, q:array<int>>")
    return embeddings.select(
        F.col(id_col), quant_udf(F.col(vec_col)).alias("_z")
    ).select(
        id_col,
        F.round(F.col("_z.scale"), 8).alias("scale"),
        F.col("_z.q").alias("q"),
    )


def semdedup(
    embeddings: DataFrame,
    dim: int,
    n_clusters: int = 8,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv
    2303.09540): assign every embedding to its nearest centroid, then
    within each cluster drop any item whose cosine similarity (4dp) to
    a LOWER-id cluster-mate meets the threshold — the first occurrence
    survives (the paper keeps one representative per semantic
    duplicate group; lowest-id-wins is the deterministic pick).

    Centroids here are md5-derived unit vectors (_hyperplane — the
    same determinism trick as the LSH planes), so cluster assignment
    and therefore the WHOLE operator is expressible in the DuckDB
    oracle; a trained k-means (ivf_train_sampled) drops in for
    production use without touching the shape. Ties in the argmax break toward the
    smallest cid exactly like _probe_udf's stable argsort.

    Scale shape: assignment is a zero-shuffle Arrow matmul projection;
    the pair stage is embedding_neardup_pairs blocked on cluster_id
    (chunked per-block gram matmul, ONE groupBy shuffle); the drop
    rule is a left join against the distinct dropped-id set (AQE
    broadcasts it when small). No all-pairs path exists.

    Returns (vec_id, cluster_id, keep).
    """
    cents = [
        _unit(_hyperplane(dim, c, seed)) for c in range(n_clusters)
    ]
    nearest = _probe_udf(cents, 1)
    # eager barrier: `assigned` feeds BOTH the pairs groupBy branch and
    # the final left join (different partitionings — ReuseExchange
    # cannot fire), so without it the corpus scan + assignment matmul
    # run twice (CLAUDE.md lesson 7; found in review)
    assigned = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        F.element_at(nearest(F.col(vec_col)), 1).alias("cluster_id"),
    ).localCheckpoint(eager=True)
    pairs = embedding_neardup_pairs(
        assigned,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        block_col="cluster_id",
    )
    dropped = (
        pairs.select(F.col("id_b").alias(id_col))
        .dropDuplicates([id_col])
        .withColumn("_d", F.lit(True))
    )
    return assigned.join(dropped, id_col, "left").select(
        id_col, "cluster_id", F.col("_d").isNull().alias("keep")
    )


def oracle_semdedup(
    dim: int,
    n_clusters: int = 8,
    threshold: float = 0.95,
    seed: int = 7,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB SQL computing exactly semdedup(): centroid scores as
    explicit left-associated dot-product sums over the SAME md5 unit
    vectors (repr(float) round-trips exactly), first-wins argmax as a
    `s_c >= greatest(later scores)` CASE ladder (matches numpy's
    stable argsort tie-break), pair test via 4dp-rounded
    list_cosine_similarity like the embedding_neardup oracle."""
    cents = [
        _unit(_hyperplane(dim, c, seed)) for c in range(n_clusters)
    ]

    def dot_sql(c: list[float]) -> str:
        terms = " + ".join(
            f"v[{d + 1}]*({c[d]!r})" for d in range(dim)
        )
        return f"(0.0 + {terms})"

    scores = ", ".join(
        f"{dot_sql(c)} AS s{i}" for i, c in enumerate(cents)
    )
    ladder = " ".join(
        f"WHEN s{c} >= greatest("
        + ", ".join(f"s{j}" for j in range(c + 1, n_clusters))
        + f") THEN {c + 1}"
        for c in range(n_clusters - 1)
    )
    return f"""
        WITH v AS (
          SELECT {id_col} AS vec_id, CAST({vec_col} AS DOUBLE[]) AS v
          FROM {table}
        ), sc AS (
          SELECT vec_id, v, {scores} FROM v
        ), a AS (
          SELECT vec_id, v,
                 CASE {ladder} ELSE {n_clusters} END AS cid
          FROM sc
        ), f AS (
          SELECT a1.vec_id FROM a a1 JOIN a a2
            ON a1.cid = a2.cid AND a2.vec_id < a1.vec_id
          WHERE round(list_cosine_similarity(a1.v, a2.v), 4)
                >= {float(threshold)!r}
        )
        SELECT a.vec_id, CAST(a.cid AS INTEGER) AS cluster_id,
               a.vec_id NOT IN (SELECT vec_id FROM f) AS keep
        FROM a
    """


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    dim: int | None = None,
    n_planes: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked to avoid N^2.

    Default blocking on a categorical column (label); with
    block_col=None, blocks on the random-hyperplane LSH bucket instead
    (requires ``dim``). There is deliberately no unblocked path — an
    unconstrained self-join is exactly the N^2 this operator exists to
    avoid.

    Within a block the pair scoring is ONE Arrow pandas group with a
    numpy gram matmul (CLAUDE.md lesson 11): the previous blocked
    equi-join paid 3 interpreted HOF folds per PAIR (~76M lambda evals
    at sf0.1; no codegen for higher-order array functions), the matmul
    pays one BLAS gemm per block (~25M flops). The UDF emits raw
    doubles with a conservative prefilter (threshold - 1e-4, wider than
    the 4dp half-step of 5e-5); the exact ``round(sim, 4) >= threshold``
    gate stays Spark-side so the oracle comparison semantics are
    unchanged. The only shuffle is the groupBy on the block key.

    Memory: chunking bounds the GRAM matrix at NEARDUP_CHUNK_ROWS x block_size
    doubles, but applyInPandas materializes each whole block (ids +
    vectors) in one task before chunking — per-task memory is
    O(block_size x dim). Blocking columns must therefore have bounded
    group sizes (labels/clusters/LSH buckets at sane n_planes); for a
    corpus with pathological hot blocks, salt the block key into
    sub-blocks and union the cross-salt pairs — do NOT feed an
    unbounded-cardinality block through this operator.
    """
    if block_col is None:
        if dim is None:
            raise ValueError(
                "block_col=None requires dim= for LSH-bucket blocking"
            )
        blk = lsh_bucket(vec_col, dim, n_planes)  # str: one-call parse
    else:
        blk = F.col(block_col)
    id_type = embeddings.schema[id_col].dataType.simpleString()
    base = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        blk.alias("blk"),
    )
    lo = float(threshold) - 1e-4
    chunk = NEARDUP_CHUNK_ROWS

    def block_pairs(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"id_a": [], "id_b": [], "sim_raw": []})
        n = len(pdf)
        if n < 2:
            return empty
        ids = pdf["id"].to_numpy()
        x = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        norms = np.sqrt((x * x).sum(axis=1))
        frames = []
        for s in range(0, n, chunk):
            e = min(s + chunk, n)
            denom = norms[s:e, None] * norms[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                sim = np.where(denom == 0.0, 0.0, (x[s:e] @ x.T) / denom)
            mask = (ids[s:e, None] < ids[None, :]) & (sim >= lo)
            ra, rb = np.nonzero(mask)
            if len(ra):
                frames.append(pd.DataFrame({
                    "id_a": ids[s + ra],
                    "id_b": ids[rb],
                    "sim_raw": sim[ra, rb],
                }))
        if not frames:
            return empty
        return pd.concat(frames, ignore_index=True)

    return (
        base.groupBy("blk")
        .applyInPandas(
            block_pairs,
            schema=f"id_a {id_type}, id_b {id_type}, sim_raw double",
        )
        .select(
            "id_a", "id_b", F.round(F.col("sim_raw"), 4).alias("sim")
        )
        .filter(F.col("sim") >= threshold)
    )


def semantic_clusters(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    dim: int | None = None,
    n_planes: int = 8,
) -> DataFrame:
    """Semantic duplicate CLUSTERS, not just pairs: the transitive
    closure of embedding_neardup_pairs — the unit a curation pipeline
    actually acts on (keep one representative per cluster, or
    down-weight the whole cluster a la SemDeDup at cluster granularity).

    Pure composition of two oracle-checked primitives: the pair
    definition is embedding_neardup_pairs VERBATIM (same blocking, same
    4dp gate — the positive-pair semantics cannot drift), and the
    closure is dedup.connected_components (hash-min + pointer jumping,
    O(log diameter) batched rounds). Vectors in no pair are singletons
    by definition and are deliberately NOT emitted — at corpus scale
    the non-duplicate mass is the overwhelming majority and a cluster
    table that repeats it row-for-row is pointless shuffle; callers
    left-anti join to find untouched vectors.

    Returns (vec_id, cluster_id, cluster_size): cluster_id = smallest
    member id, cluster_size >= 2.
    """
    from navigator_document_parser_spark.operators.dedup import (
        connected_components,
    )

    pairs = embedding_neardup_pairs(
        embeddings,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        block_col=block_col,
        dim=dim,
        n_planes=n_planes,
    )
    comps = connected_components(pairs)  # (node, comp)
    sizes = comps.groupBy("comp").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return comps.join(sizes, on="comp").select(
        F.col("node").alias("vec_id"),
        F.col("comp").alias("cluster_id"),
        "cluster_size",
    )


def knn_graph(
    embeddings: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-vectors top-k cosine neighbor graph — the offline kNN-graph
    build that semantic dedup, diversity sampling, and graph-based
    curation all sit on. Every vector is simultaneously a query and a
    candidate; an exact build is N^2, so candidates are blocked through
    the same deterministic multi-table hyperplane banding as knn_lsh /
    bitext_margin_mine_lsh (a neighbor is considered iff it shares a
    bucket in ANY table; recall amplifies with n_tables).

    Within each (tbl, bkt) block the scoring is ONE Arrow pandas group
    with a chunked numpy gram matmul (lesson 11 — interpreted HOF folds
    per pair lose by >10x). The block emits, per source row, every
    candidate whose RAW sim is >= (k-th best raw in block) - 2e-4: a
    candidate below that bound has rounded sim strictly below k
    emitted rivals' rounded sims (|round(x) - x| <= 5e-5), so the
    pruned union provably contains the global 4dp top-k — the in-block
    cut is a pure row-count optimization, never a semantics change.
    Multi-table duplicates collapse via groupBy(src, nbr) max; the
    final rank is on the ROUNDED sim with nbr-ascending ties, so the
    deterministic banding keeps the whole operator oracle-checkable.

    Scale shape: one corpus scan, one shuffle to the (tbl, bkt) blocks,
    ~(k + ties) emitted rows per (vector, table), one (src, nbr)
    aggregate, one per-src top-k window. Per-task memory is
    O(block_size x dim) (the applyInPandas group) — size n_planes so
    buckets stay bounded, exactly the embedding_neardup discipline.

    Returns (src_id, nbr_id, sim, rank), rank in [1, k].
    """
    if int(k) <= 0:
        raise ValueError("k must be positive")
    if int(n_planes) <= 0 or int(n_tables) <= 0:
        raise ValueError("n_planes and n_tables must be positive")
    id_type = embeddings.schema[id_col].dataType.simpleString()
    tbl_ids = F.array(*[F.lit(t) for t in range(n_tables)])
    base = (
        embeddings.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .withColumn("tbl", F.explode(tbl_ids))
        .withColumn("bkt", _bucket_case("v", dim, n_planes, n_tables))
    )
    kk = int(k)
    chunk = KNN_GRAPH_CHUNK_ROWS

    def block_topk(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"src": [], "nbr": [], "sim_raw": []})
        n = len(pdf)
        if n < 2:
            return empty
        ids = pdf["id"].to_numpy()
        x = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        norms = np.sqrt((x * x).sum(axis=1))
        frames = []
        for s in range(0, n, chunk):
            e = min(s + chunk, n)
            denom = norms[s:e, None] * norms[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                sim = np.where(denom == 0.0, 0.0, (x[s:e] @ x.T) / denom)
            sim[ids[s:e, None] == ids[None, :]] = -np.inf  # self
            m = sim.shape[1]
            if m - 1 > kk:
                kth = np.partition(sim, m - kk, axis=1)[:, m - kk]
            else:
                kth = np.full(e - s, -np.inf)
            mask = sim >= np.maximum(kth - 2e-4, -1.5)[:, None]
            ra, rb = np.nonzero(mask)
            if len(ra):
                frames.append(pd.DataFrame({
                    "src": ids[s + ra],
                    "nbr": ids[rb],
                    "sim_raw": sim[ra, rb],
                }))
        if not frames:
            return empty
        return pd.concat(frames, ignore_index=True)

    cand = base.groupBy("tbl", "bkt").applyInPandas(
        block_topk,
        schema=f"src {id_type}, nbr {id_type}, sim_raw double",
    )
    merged = cand.groupBy("src", "nbr").agg(
        F.max("sim_raw").alias("sim_raw")
    )
    w = Window.partitionBy("src").orderBy(
        F.round(F.col("sim_raw"), 4).desc(), F.col("nbr").asc()
    )
    return (
        merged.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= kk)
        .select(
            F.col("src").alias("src_id"),
            F.col("nbr").alias("nbr_id"),
            F.round(F.col("sim_raw"), 4).alias("sim"),
            "rank",
        )
    )


def oracle_knn_graph(
    emb_sql: str,
    dim: int,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 4,
) -> str:
    """DuckDB replica of knn_graph: deterministic md5-literal
    hyperplanes, left-associated projection folds, per-table
    within-bucket directed pairs UNIONed (set semantics = the Spark
    side's multi-table max-dedup), rank on the 4dp-rounded sim with
    nbr-ascending ties. The Spark side's in-block prune is
    containment-safe by construction, so the oracle ranks the FULL
    banded candidate set."""

    def proj(t: int, p: int) -> str:
        plane = _hyperplane(dim, p, seed=42 + t)
        terms = " + ".join(f"v[{d + 1}]*({plane[d]!r})" for d in range(dim))
        return f"(0.0 + {terms})"

    def bucket(t: int) -> str:
        return " + ".join(
            f"(CASE WHEN {proj(t, p)} >= 0 THEN {1 << p} ELSE 0 END)"
            for p in range(n_planes)
        )

    bcols = ", ".join(f"({bucket(t)}) AS b{t}" for t in range(n_tables))
    branches = "\n          UNION\n".join(
        f"          SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,\n"
        f"                 a.embedding AS av, b.embedding AS bv\n"
        f"          FROM eb a JOIN eb b ON a.b{t} = b.b{t}"
        f" AND a.vec_id <> b.vec_id"
        for t in range(n_tables)
    )
    return f"""
        WITH eraw AS (
          SELECT vec_id, embedding, CAST(embedding AS DOUBLE[]) AS v
          FROM ({emb_sql})
        ), eb AS (
          SELECT vec_id, embedding, {bcols} FROM eraw
        ), cand AS (
{branches}
        ), scored AS (
          SELECT src_id, nbr_id,
                 round(list_cosine_similarity(
                   CAST(av AS DOUBLE[]),
                   CAST(bv AS DOUBLE[])), 4) AS sim
          FROM cand
        )
        SELECT src_id, nbr_id, sim,
               CAST(rank AS BIGINT) AS rank
        FROM (
          SELECT *, row_number() OVER (PARTITION BY src_id
                   ORDER BY sim DESC, nbr_id ASC) AS rank
          FROM scored
        )
        WHERE rank <= {int(k)}
    """


def _pq_encode_udf(books: list[list[list[float]]]):
    """Fused PQ codes + reconstruction error in one Arrow batch: per
    subspace a (batch x sub) @ (sub x C) matmul; err accumulates
    ||x_s||^2 - 2*s_best + 1 (unit centroids). Struct-returning pandas
    UDF, zero shuffle."""
    from pyspark.sql.functions import pandas_udf

    mats = [[list(c) for c in cents] for cents in books]
    n_sub = len(mats)
    fields = ", ".join(
        [f"code_{s + 1} int" for s in range(n_sub)] + ["err double"]
    )

    def enc(v):
        import numpy as np
        import pandas as pd

        x = np.stack(v.to_numpy()).astype(np.float64)  # batch x dim
        sub = x.shape[1] // n_sub
        cols = {}
        err = np.zeros(len(x))
        for s in range(n_sub):
            xs = x[:, s * sub : (s + 1) * sub]
            m = np.asarray(mats[s], dtype=np.float64).T  # sub x C
            sc = xs @ m
            order = np.argsort(-sc, axis=1, kind="stable")[:, 0]
            cols[f"code_{s + 1}"] = (order + 1).astype("int32")
            best = sc[np.arange(len(x)), order]
            err += (xs * xs).sum(axis=1) - 2.0 * best + 1.0
        cols["err"] = err
        return pd.DataFrame(cols)

    return pandas_udf(enc, f"struct<{fields}>")


def pq_encode(
    embeddings: DataFrame,
    dim: int,
    n_subspaces: int = 4,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
    recon: str = "sql",
) -> DataFrame:
    """Product quantization (Jégou et al. 2011): split each vector into
    ``n_subspaces`` contiguous sub-vectors and store only the id of the
    nearest codebook centroid per subspace — dim floats become
    n_subspaces small ints (64x compression at the contract's 64-dim /
    4x8 setup), the memory layout IVF-PQ ANN indexes build on.

    Codebooks here are md5-derived unit vectors (the semdedup
    determinism trick) so assignment — and therefore the whole operator
    — is DuckDB-expressible; a per-subspace trained k-means
    (ivf_train_sampled) drops in for production without changing the
    shape. With unit centroids, argmin squared-distance equals argmax
    dot (||x_s|| is constant per row), so assignment reuses the stable
    argmax of _probe_udf: one Arrow numpy matmul per subspace, ZERO
    shuffle, a pure projection end to end.

    recon_err (the ADC residual ||x - decode(codes)||^2, 6dp) has two
    implementations:
      recon="sql" (default, the oracle-checked path): ONE SQL
        expression whose per-dimension terms are left-associated in
        codebook order, identical to the DuckDB oracle's fold, so even
        the float column hash-matches. The ~512-term expression
        exceeds whole-stage codegen's method limits and executes
        interpreted — fine at verification scale, wrong for a 1B-row
        run.
      recon="fused": the production path — the error falls out of the
        SAME per-subspace matmul as the codes (||x_s||^2 - 2*s_max +
        1, centroids are unit), zero extra passes, BLAS throughput.
        Differs from the SQL fold only in summation-order ulps
        (pytest-pinned to 1e-6 agreement after rounding).

    Returns (vec_id, code_1..code_m, recon_err).
    """
    if recon not in ("sql", "fused"):
        raise ValueError("recon must be 'sql' or 'fused'")
    if dim % n_subspaces != 0:
        raise ValueError("dim must divide evenly into n_subspaces")
    if n_centroids < 2:
        raise ValueError("n_centroids must be >= 2")
    sub = dim // n_subspaces
    books = [
        [
            _unit(_hyperplane(sub, s * n_centroids + c, seed))
            for c in range(n_centroids)
        ]
        for s in range(n_subspaces)
    ]
    # cast to double BEFORE any arithmetic: v[d]*v[d] on a float array
    # multiplies in single precision (promotion happens after), while
    # the oracle's CAST(.. AS DOUBLE[]) multiplies doubles — one such
    # ulp flipped a 6dp rounding boundary in 500 rows
    out = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    if recon == "fused":
        enc = _pq_encode_udf(books)
        out = out.withColumn("_enc", enc(F.col("v")))
        return out.select(
            id_col,
            *[
                F.col("_enc").getItem(f"code_{s + 1}").alias(f"code_{s + 1}")
                for s in range(n_subspaces)
            ],
            F.round(F.col("_enc").getItem("err"), 6).alias("recon_err"),
        )
    for s, cents in enumerate(books):
        probe = _probe_udf(cents, 1)
        out = out.withColumn(
            f"code_{s + 1}",
            F.element_at(probe(F.slice(F.col("v"), s * sub + 1, sub)), 1),
        )

    # recon_err via the expanded identity: ||x_s - c||^2 = ||x_s||^2
    # - 2 x_s.c + 1 (unit centroids). The ||x||^2 fold is shared across
    # subspaces and each CASE arm is a 16-term dot — ~2.5x fewer ops
    # than folding (v-c)^2 per arm, small enough that codegen compiles
    # instead of falling back to interpreted on a too-large method.
    # Spark array indexing is 0-based; the oracle twin uses 1-based.
    def dot_case(s: int, cents: list[list[float]], base: int) -> str:
        whens = []
        for c, cent in enumerate(cents):
            terms = " + ".join(
                f"v[{base + d}]*({cent[d]!r})" for d in range(sub)
            )
            whens.append(f"WHEN {c + 1} THEN (0.0 + {terms})")
        return f"(CASE code_{s + 1} {' '.join(whens)} END)"

    xx = "(0.0 + " + " + ".join(
        f"v[{d}]*v[{d}]" for d in range(dim)
    ) + ")"
    dots = dot_case(0, books[0], 0)
    for s in range(1, n_subspaces):
        dots = f"({dots} + {dot_case(s, books[s], s * sub)})"
    err = f"(({xx} - 2.0 * {dots}) + {float(n_subspaces)!r})"
    return out.select(
        id_col,
        *[f"code_{s + 1}" for s in range(n_subspaces)],
        F.expr(f"round({err}, 6)").alias("recon_err"),
    )


def oracle_pq_encode(
    dim: int,
    n_subspaces: int = 4,
    n_centroids: int = 8,
    seed: int = 11,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB SQL computing exactly pq_encode(): per-subspace argmax-dot
    CASE ladder (stable ties, mirrors numpy argsort) + the identical
    left-associated reconstruction-error fold."""
    sub = dim // n_subspaces
    books = [
        [
            _unit(_hyperplane(sub, s * n_centroids + c, seed))
            for c in range(n_centroids)
        ]
        for s in range(n_subspaces)
    ]

    def dot_sql(s: int, cent: list[float]) -> str:
        terms = " + ".join(
            f"v[{s * sub + d + 1}]*({cent[d]!r})" for d in range(sub)
        )
        return f"(0.0 + {terms})"


    score_cols = []
    ladders = []
    dist_cases = []
    for s, cents in enumerate(books):
        score_cols.extend(
            f"{dot_sql(s, cent)} AS s{s}_{c}"
            for c, cent in enumerate(cents)
        )
        ladder = " ".join(
            f"WHEN s{s}_{c} >= greatest("
            + ", ".join(f"s{s}_{j}" for j in range(c + 1, n_centroids))
            + f") THEN {c + 1}"
            for c in range(n_centroids - 1)
        )
        ladders.append(
            f"CASE {ladder} ELSE {n_centroids} END AS code_{s + 1}"
        )
        whens = " ".join(
            f"WHEN {c + 1} THEN {dot_sql(s, cent)}"
            for c, cent in enumerate(cents)
        )
        dist_cases.append(f"(CASE code_{s + 1} {whens} END)")
    xx = "(0.0 + " + " + ".join(
        f"v[{d + 1}]*v[{d + 1}]" for d in range(dim)
    ) + ")"
    dots = dist_cases[0]
    for c in dist_cases[1:]:
        dots = f"({dots} + {c})"
    err = f"(({xx} - 2.0 * {dots}) + {float(n_subspaces)!r})"
    codes = ", ".join(f"code_{s + 1}" for s in range(n_subspaces))
    return f"""
        WITH v AS (
          SELECT {id_col} AS vec_id, CAST({vec_col} AS DOUBLE[]) AS v
          FROM {table}
        ), sc AS (
          SELECT vec_id, v, {", ".join(score_cols)} FROM v
        ), a AS (
          SELECT vec_id, v, {", ".join(ladders)} FROM sc
        )
        SELECT vec_id, {codes},
               round({err}, 6) AS recon_err
        FROM a
    """


def knn_pq(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    n_subspaces: int = 4,
    n_centroids: int = 8,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 11,
) -> DataFrame:
    """Approximate kNN by asymmetric distance computation (ADC) over PQ
    codes — the actual IVF-PQ query path: the corpus is represented
    only by its n_subspaces codebook ids, and a query scores a vector
    as sum_s table_q[s][code_s], where table_q is the query's
    precomputed distance to every codebook centroid.

    Although the RESULT is approximate (quantization error vs true
    kNN), the COMPUTATION is deterministic given the codes, so the
    whole operator is oracle-checkable — unlike knn_ivf, whose probe
    set depends on trained centroids.

    Engine parity: the per-(query, subspace, centroid) distances are
    computed on the DRIVER in left-associated Python float64 (queries
    are the tiny side — the same collect knn_lsh's hyperplanes rely
    on) and injected as a literal broadcast table; Python's
    left-to-right accumulation performs the identical IEEE op sequence
    as the oracle's SQL fold, so the literals match bit-for-bit. The
    final distance is the explicit left-associated sum of the
    n_subspaces conditional-aggregate columns — never sum() over rows,
    whose accumulation order is partition-dependent.

    100 TB shape: codes come from pq_encode's fused Arrow path (one
    matmul per subspace, zero shuffle); the query side is a broadcast
    of nq * m * k' literal rows; scoring is one broadcast equi-join on
    (s, code) + one (query, vec) hash aggregate with map-side combine;
    ranking is the standard per-query top-k window.

    Returns (query_id, rank, vec_id, dist).
    """
    if dim % n_subspaces != 0:
        raise ValueError("dim must divide evenly into n_subspaces")
    sub = dim // n_subspaces
    books = [
        [
            _unit(_hyperplane(sub, s * n_centroids + c, seed))
            for c in range(n_centroids)
        ]
        for s in range(n_subspaces)
    ]
    spark = embeddings.sparkSession
    qrows = queries.select(
        F.col(query_id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).collect()
    adc = []
    for r in qrows:
        if not isinstance(r["qid"], int):
            # the literal adc table and the oracle's CAST both assume
            # integer query ids; fail loudly instead of coercing
            raise TypeError(
                f"knn_pq requires integer {query_id_col!r} values, "
                f"got {type(r['qid']).__name__}"
            )
        qv = [float(x) for x in r["qv"]]
        for s in range(n_subspaces):
            xs = qv[s * sub : (s + 1) * sub]
            for c, cent in enumerate(books[s]):
                d = 0.0
                for x, ce in zip(xs, cent):
                    d = d + (x - ce) * (x - ce)
                adc.append((int(r["qid"]), s + 1, c + 1, d))
    adc_df = spark.createDataFrame(
        adc, "qid bigint, s int, code int, d double"
    )

    codes = pq_encode(
        embeddings,
        dim,
        n_subspaces=n_subspaces,
        n_centroids=n_centroids,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        recon="fused",
    ).select(
        id_col,
        *[f"code_{s + 1}" for s in range(n_subspaces)],
    )
    stack = ", ".join(
        f"{s + 1}, code_{s + 1}" for s in range(n_subspaces)
    )
    unpivoted = codes.select(
        F.col(id_col),
        F.expr(f"stack({n_subspaces}, {stack}) AS (s, code)"),
    )
    per_sub = (
        unpivoted.join(F.broadcast(adc_df), ["s", "code"])
        .groupBy("qid", id_col)
        .agg(
            *[
                F.sum(
                    F.when(F.col("s") == s + 1, F.col("d"))
                ).alias(f"d{s + 1}")
                for s in range(n_subspaces)
            ]
        )
    )
    dist = F.col("d1")
    for s in range(1, n_subspaces):
        dist = dist + F.col(f"d{s + 1}")
    scored = per_sub.select(
        F.col("qid").alias(query_id_col),
        F.col(id_col),
        F.round(dist, 6).alias("dist"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "dist")
    )


def oracle_knn_pq(
    dim: int,
    n_subspaces: int = 4,
    n_centroids: int = 8,
    k: int = 10,
    seed: int = 11,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: str = "vec_id < 5",
) -> str:
    """DuckDB SQL computing exactly knn_pq() with queries drawn from
    ``table`` rows matching ``query_filter``: codes via the pq_encode
    oracle ladder, ADC distances via the identical left-associated
    fold over the query vectors."""
    sub = dim // n_subspaces
    books = [
        [
            _unit(_hyperplane(sub, s * n_centroids + c, seed))
            for c in range(n_centroids)
        ]
        for s in range(n_subspaces)
    ]

    def fold(s: int, cent: list[float]) -> str:
        terms = " + ".join(
            f"(qv[{s * sub + d + 1}] - ({cent[d]!r}))"
            f" * (qv[{s * sub + d + 1}] - ({cent[d]!r}))"
            for d in range(sub)
        )
        return f"(0.0 + {terms})"

    arms = []
    for s in range(n_subspaces):
        for c, cent in enumerate(books[s]):
            arms.append(
                f"SELECT qid, {s + 1} AS s, {c + 1} AS code, "
                f"{fold(s, cent)} AS d FROM q"
            )
    adc = "\n          UNION ALL\n          ".join(arms)
    pq_sql = oracle_pq_encode(
        dim,
        n_subspaces=n_subspaces,
        n_centroids=n_centroids,
        seed=seed,
        table=table,
        id_col=id_col,
        vec_col=vec_col,
    )
    unpiv = "\n          UNION ALL\n          ".join(
        f"SELECT vec_id, {s + 1} AS s, code_{s + 1} AS code FROM pq"
        for s in range(n_subspaces)
    )
    dsum = " + ".join(f"d{s + 1}" for s in range(n_subspaces))
    dcols = ", ".join(
        f"SUM(CASE WHEN u.s = {s + 1} THEN a.d END) AS d{s + 1}"
        for s in range(n_subspaces)
    )
    return f"""
        WITH q AS (
          SELECT {id_col} AS qid, CAST({vec_col} AS DOUBLE[]) AS qv
          FROM {table} WHERE {query_filter}
        ), adc AS (
          {adc}
        ), pq AS ({pq_sql}
        ), unpiv AS (
          {unpiv}
        ), agg AS (
          SELECT a.qid, u.vec_id, {dcols}
          FROM unpiv u JOIN adc a ON a.s = u.s AND a.code = u.code
          GROUP BY a.qid, u.vec_id
        ), scored AS (
          SELECT qid AS query_id, vec_id, round({dsum}, 6) AS dist
          FROM agg
        )
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(rank AS BIGINT) AS rank, vec_id, dist
        FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY dist ASC, vec_id ASC) AS rank
          FROM scored
        )
        WHERE rank <= {k}
    """


# ---- margin-based bitext mining (CCMatrix / LASER alignment shape) ---------

def _block_margin_fn(chunk: int):
    """Cogrouped per-block margin scorer shared by bitext_margin_mine
    (hash-blocked exact) and bitext_margin_mine_lsh (LSH-blocked).

    Left rows carry (src_id, qvec), right rows (tgt_id, tvec); emits,
    per source row, every candidate whose RAW cosine is >= (2nd best
    raw in block) - 2e-4: a dropped candidate has rounded sim strictly
    below two emitted rivals' rounded sims (|round(x) - x| <= 5e-5
    each), so the pruned union provably contains the block's 4dp top-2
    — a row-count optimization, never a semantics change. ``chunk``
    source rows share one gram matmul."""

    def block_margin(left, right):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"src_id": [], "tgt_id": [], "sim_raw": []})
        if len(left) == 0 or len(right) == 0:
            return empty
        sids = left["src_id"].to_numpy()
        tids = right["tgt_id"].to_numpy()
        x = np.stack(left["qvec"].to_numpy()).astype(np.float64)
        y = np.stack(right["tvec"].to_numpy()).astype(np.float64)
        xn = np.sqrt((x * x).sum(axis=1))
        yn = np.sqrt((y * y).sum(axis=1))
        m = len(tids)
        frames = []
        for s in range(0, len(sids), chunk):
            e = min(s + chunk, len(sids))
            denom = xn[s:e, None] * yn[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                sim = np.where(denom == 0.0, 0.0, (x[s:e] @ y.T) / denom)
            if m > 2:
                second = np.partition(sim, m - 2, axis=1)[:, m - 2]
                mask = sim >= (second - 2e-4)[:, None]
                ra, rb = np.nonzero(mask)
            else:
                ra, rb = np.nonzero(np.ones_like(sim, dtype=bool))
            if len(ra):
                frames.append(pd.DataFrame({
                    "src_id": sids[s + ra],
                    "tgt_id": tids[rb],
                    "sim_raw": sim[ra, rb],
                }))
        if not frames:
            return empty
        return pd.concat(frames, ignore_index=True)

    return block_margin


def bitext_margin_mine(
    src: DataFrame,
    tgt: DataFrame,
    min_sim: float = 0.3,
    min_margin: float = 0.02,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Margin-based parallel-corpus mining: for every source-language
    vector, score the top-2 target-language neighbors by cosine and
    accept the best as a translation pair iff it clears BOTH an
    absolute similarity floor and a margin over the runner-up — the
    CCMatrix/LASER margin criterion (an embedding in a dense crowd of
    equally-similar targets is topic overlap, not a translation; a
    clear margin is the alignment signal). Difference margin (s1 - s2)
    rather than the ratio so negative cosines can't flip the
    inequality; sims are 4dp-rounded doubles, so s1 - s2 and every
    comparison are engine-exact.

    This is the EXACT baseline (the knn_bruteforce of mining): every
    (src, tgt) pair is scored exactly once. The previous shape — a
    broadcast crossJoin with a per-pair Catalyst cosine fold — paid
    ~dim expression evals for each of the |src| x |tgt| pairs (101s at
    200k vectors). All pairs are now covered by a deterministic hash
    block grid: each side gets a pmod(xxhash64(id), B) block, each row
    is replicated to the other side's block count, and ONE cogrouped
    Arrow task per block pair scores its sub-matrix with a chunked
    numpy cross matmul (the bitext_margin_mine_lsh scorer), emitting
    per-source candidates that provably contain the block's 4dp top-2
    (see _block_margin_fn). Since each pair lives in exactly one block
    pair, the union of per-block emissions contains the GLOBAL top-2
    and the exact Spark-side round + window + margin tail below is
    unchanged — identical output, O(|src| x |tgt|) flops now at BLAS
    speed. At mining scale (10^9 x 10^9) still prefer the LSH path:
    this baseline's flops are inherently quadratic; BITEXT_BLOCK_ROWS
    only sizes tasks (per-task memory is O(BITEXT_BLOCK_ROWS x dim +
    BITEXT_CHUNK_ROWS x BITEXT_BLOCK_ROWS)).

    Returns (src_id, tgt_id, sim, margin) for accepted pairs.
    """
    n_src = src.count()
    n_tgt = tgt.count()
    s_blocks = max(1, -(-int(n_src) // BITEXT_BLOCK_ROWS))
    t_blocks = max(1, -(-int(n_tgt) // BITEXT_BLOCK_ROWS))
    s_id_type = src.schema[id_col].dataType.simpleString()
    t_id_type = tgt.schema[id_col].dataType.simpleString()
    s_idx = (
        src.select(
            F.col(id_col).alias("src_id"),
            F.col(vec_col).cast("array<double>").alias("qvec"),
        )
        .withColumn(
            "sb", F.pmod(F.xxhash64("src_id"), F.lit(s_blocks)).cast("int")
        )
        .withColumn(
            "tb", F.explode(F.array(*[F.lit(t) for t in range(t_blocks)]))
        )
    )
    t_idx = (
        tgt.select(
            F.col(id_col).alias("tgt_id"),
            F.col(vec_col).cast("array<double>").alias("tvec"),
        )
        .withColumn(
            "tb", F.pmod(F.xxhash64("tgt_id"), F.lit(t_blocks)).cast("int")
        )
        .withColumn(
            "sb", F.explode(F.array(*[F.lit(t) for t in range(s_blocks)]))
        )
    )
    scored = (
        s_idx.groupBy("sb", "tb")
        .cogroup(t_idx.groupBy("sb", "tb"))
        .applyInPandas(
            _block_margin_fn(BITEXT_CHUNK_ROWS),
            schema=(
                f"src_id {s_id_type}, tgt_id {t_id_type}, sim_raw double"
            ),
        )
        .withColumn("sim", F.round(F.col("sim_raw"), 4))
    )
    w = Window.partitionBy("src_id").orderBy(
        F.col("sim").desc(), F.col("tgt_id").asc()
    )
    top2 = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 2
    )
    best = top2.groupBy("src_id").agg(
        F.max(F.when(F.col("rank") == 1, F.col("tgt_id"))).alias("tgt_id"),
        F.max(F.when(F.col("rank") == 1, F.col("sim"))).alias("sim"),
        F.max(F.when(F.col("rank") == 2, F.col("sim"))).alias("sim2"),
    )
    margin = F.round(
        F.col("sim") - F.coalesce(F.col("sim2"), F.lit(-1.0)), 4
    )
    return (
        best.select("src_id", "tgt_id", "sim", margin.alias("margin"))
        .filter(
            (F.col("sim") >= F.lit(float(min_sim)))
            & (F.col("margin") >= F.lit(float(min_margin)))
        )
    )


def oracle_bitext_margin_mine(
    src_sql: str,
    tgt_sql: str,
    min_sim: float = 0.3,
    min_margin: float = 0.02,
) -> str:
    """DuckDB replica of bitext_margin_mine. ``src_sql`` / ``tgt_sql``
    must yield (vec_id, embedding) rows; the same 4dp cosine, top-2
    window, and difference margin."""
    return f"""
        WITH s AS ({src_sql}), t AS ({tgt_sql}),
        scored AS (
          SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
                 round(list_cosine_similarity(
                   CAST(t.embedding AS DOUBLE[]),
                   CAST(s.embedding AS DOUBLE[])), 4) AS sim
          FROM t CROSS JOIN s
        ), top2 AS (
          SELECT *, row_number() OVER (PARTITION BY src_id
                   ORDER BY sim DESC, tgt_id ASC) AS rank
          FROM scored
          QUALIFY rank <= 2
        ), best AS (
          SELECT src_id,
                 max(CASE WHEN rank = 1 THEN tgt_id END) AS tgt_id,
                 max(CASE WHEN rank = 1 THEN sim END) AS sim,
                 max(CASE WHEN rank = 2 THEN sim END) AS sim2
          FROM top2 GROUP BY src_id
        )
        SELECT src_id, tgt_id, sim,
               round(sim - coalesce(sim2, -1.0), 4) AS margin
        FROM best
        WHERE sim >= {float(min_sim)!r}
          AND round(sim - coalesce(sim2, -1.0), 4) >= {float(min_margin)!r}
    """


def bitext_margin_mine_lsh(
    src: DataFrame,
    tgt: DataFrame,
    dim: int,
    min_sim: float = 0.3,
    min_margin: float = 0.02,
    n_planes: int = 4,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH-blocked margin mining — the scale path for
    ``bitext_margin_mine`` (which is the exact O(|src| x |tgt|)
    baseline and stays as this operator's recall yardstick, mirroring
    the knn_ivf <-> knn_ivf_fullprobe pattern).

    Blocking: both sides explode a LITERAL [0..n_tables) table-id array
    (literal, so InferFiltersFromGenerate costs nothing — lesson 3) and
    derive a random-hyperplane bucket per table with a single-parse
    CASE (each exploded row pays exactly its own table's n_planes
    folds, the knn_lsh shape). Candidates come from ONE cogrouped
    shuffle on (tbl, bkt) — deliberately NOT broadcast: at mining scale
    (10^8 x 10^8 sentence embeddings) both sides are large, and the
    (tbl, bkt) shuffle is the whole point.

    Within each (tbl, bkt) block the pair scoring is ONE Arrow cogroup
    with a chunked numpy cross matmul (lesson 11 / BENCH finding 14 —
    the previous interpreted cosine() HOF paid ~dim lambda evals per
    candidate pair and its throughput was JVM-state-sensitive; this is
    the exact embedding_neardup_pairs / knn_graph treatment). The block
    emits, per source row, every candidate whose RAW sim is >= (2nd
    best raw in block) - 2e-4: a dropped candidate has rounded sim
    strictly below two emitted rivals' rounded sims (|round(x) - x| <=
    5e-5 each), so the pruned union provably contains the global 4dp
    top-2 — the in-block cut is a row-count optimization, never a
    semantics change. Multi-table collisions collapse via
    groupBy(src_id, tgt_id) max on the raw sim (duplicate computations
    agree after the Spark-side round); the exact ``round(sim, 4)``
    happens Spark-side, so oracle_bitext_margin_mine_lsh (which scores
    the full UNION of per-table branch joins) is unchanged.

    Semantics: the CCMatrix/LASER top-2 margin criterion applied WITHIN
    the candidate block — a source whose true runner-up lands outside
    every shared bucket sees an inflated margin, so acceptance is
    approximate (recall vs the exact baseline is pytest-checked).
    Bucket assignment is deterministic (md5 hyperplanes, left-
    associated double folds), so the whole operator is still
    oracle-exact: oracle_bitext_margin_mine_lsh replicates the banding
    bit-for-bit in DuckDB.

    Per-task memory is O(block_size x dim) for the cogrouped block
    (ids + both vector stacks) plus the BITEXT_LSH_CHUNK_ROWS x block_size GRAM
    chunk — size n_planes so buckets stay bounded, exactly the
    embedding_neardup_pairs discipline.

    Returns (src_id, tgt_id, sim, margin) for accepted pairs.
    """
    tbl_ids = F.array(*[F.lit(t) for t in range(n_tables)])
    s_id_type = src.schema[id_col].dataType.simpleString()
    t_id_type = tgt.schema[id_col].dataType.simpleString()
    s_idx = (
        src.select(
            F.col(id_col).alias("src_id"),
            F.col(vec_col).cast("array<double>").alias("qvec"),
        )
        .withColumn("tbl", F.explode(tbl_ids))
        .withColumn("bkt", _bucket_case("qvec", dim, n_planes, n_tables))
    )
    t_idx = (
        tgt.select(
            F.col(id_col).alias("tgt_id"),
            F.col(vec_col).cast("array<double>").alias("tvec"),
        )
        .withColumn("tbl", F.explode(tbl_ids))
        .withColumn("bkt", _bucket_case("tvec", dim, n_planes, n_tables))
    )
    cand = (
        s_idx.groupBy("tbl", "bkt")
        .cogroup(t_idx.groupBy("tbl", "bkt"))
        .applyInPandas(
            _block_margin_fn(BITEXT_LSH_CHUNK_ROWS),
            schema=(
                f"src_id {s_id_type}, tgt_id {t_id_type}, sim_raw double"
            ),
        )
    )
    # multi-table collisions: the same (src, tgt) dot computed in every
    # shared block — collapse on max raw (knn_graph discipline; the
    # duplicates agree after the 4dp round below)
    merged = cand.groupBy("src_id", "tgt_id").agg(
        F.max("sim_raw").alias("sim_raw")
    )
    sim4 = F.round(F.col("sim_raw"), 4)
    w = Window.partitionBy("src_id").orderBy(
        sim4.desc(), F.col("tgt_id").asc()
    )
    top2 = (
        merged.withColumn("sim", sim4)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
    )
    best = top2.groupBy("src_id").agg(
        F.max(F.when(F.col("rank") == 1, F.col("tgt_id"))).alias("tgt_id"),
        F.max(F.when(F.col("rank") == 1, F.col("sim"))).alias("sim"),
        F.max(F.when(F.col("rank") == 2, F.col("sim"))).alias("sim2"),
    )
    margin = F.round(
        F.col("sim") - F.coalesce(F.col("sim2"), F.lit(-1.0)), 4
    )
    return (
        best.select("src_id", "tgt_id", "sim", margin.alias("margin"))
        .filter(
            (F.col("sim") >= F.lit(float(min_sim)))
            & (F.col("margin") >= F.lit(float(min_margin)))
        )
    )


def oracle_bitext_margin_mine_lsh(
    src_sql: str,
    tgt_sql: str,
    dim: int,
    min_sim: float = 0.3,
    min_margin: float = 0.02,
    n_planes: int = 4,
    n_tables: int = 4,
) -> str:
    """DuckDB replica of bitext_margin_mine_lsh: hyperplanes are
    deterministic md5 literals and projections are explicit
    left-associated sums starting at 0.0 (bit-identical to Spark's
    aggregate(zip_with(...)) fold order), so the approximate banding is
    still hash-checkable. Pair candidates come from a UNION over the
    per-table branch joins (set semantics dedup multi-table
    collisions, matching the Spark side's lag dedup)."""

    def proj(t: int, p: int) -> str:
        plane = _hyperplane(dim, p, seed=42 + t)
        terms = " + ".join(f"v[{d + 1}]*({plane[d]!r})" for d in range(dim))
        return f"(0.0 + {terms})"

    def bucket(t: int) -> str:
        return " + ".join(
            f"(CASE WHEN {proj(t, p)} >= 0 THEN {1 << p} ELSE 0 END)"
            for p in range(n_planes)
        )

    bcols = ", ".join(f"({bucket(t)}) AS b{t}" for t in range(n_tables))
    branches = "\n          UNION\n".join(
        f"          SELECT s.src_id, t.tgt_id, s.qvec, t.tvec\n"
        f"          FROM sb s JOIN tb t ON s.b{t} = t.b{t}"
        for t in range(n_tables)
    )
    return f"""
        WITH sraw AS (
          SELECT vec_id, embedding, CAST(embedding AS DOUBLE[]) AS v
          FROM ({src_sql})
        ), traw AS (
          SELECT vec_id, embedding, CAST(embedding AS DOUBLE[]) AS v
          FROM ({tgt_sql})
        ), sb AS (
          SELECT vec_id AS src_id, embedding AS qvec, {bcols} FROM sraw
        ), tb AS (
          SELECT vec_id AS tgt_id, embedding AS tvec, {bcols} FROM traw
        ), cand AS (
{branches}
        ), scored AS (
          SELECT src_id, tgt_id,
                 round(list_cosine_similarity(
                   CAST(tvec AS DOUBLE[]),
                   CAST(qvec AS DOUBLE[])), 4) AS sim
          FROM cand
        ), top2 AS (
          SELECT *, row_number() OVER (PARTITION BY src_id
                   ORDER BY sim DESC, tgt_id ASC) AS rank
          FROM scored
          QUALIFY rank <= 2
        ), best AS (
          SELECT src_id,
                 max(CASE WHEN rank = 1 THEN tgt_id END) AS tgt_id,
                 max(CASE WHEN rank = 1 THEN sim END) AS sim,
                 max(CASE WHEN rank = 2 THEN sim END) AS sim2
          FROM top2 GROUP BY src_id
        )
        SELECT src_id, tgt_id, sim,
               round(sim - coalesce(sim2, -1.0), 4) AS margin
        FROM best
        WHERE sim >= {float(min_sim)!r}
          AND round(sim - coalesce(sim2, -1.0), 4) >= {float(min_margin)!r}
    """


# ---- feature-hash (hashing-trick) text embedding ---------------------------

def _fh_token(term: str, dim: int) -> tuple[int, int]:
    """Python mirror of the feature-hash (bucket, sign) for one token —
    used to build QUERY vectors client-side with bit-identical math."""
    import hashlib

    h = int(hashlib.md5(f"fh:{term}".encode()).hexdigest()[:8], 16)
    # sign from bit 16, NOT from h%2: with an even dim, h%2 equals the
    # bucket's parity, which would give every even bucket sign +1 and
    # every odd bucket sign -1 (a degenerate embedding).
    return h % dim, (1 if (h >> 16) % 2 == 0 else -1)


def _fh_sign_sql(h: str, dialect: str) -> str:
    shift = f"shiftright({h}, 16)" if dialect == "spark" else f"({h} >> 16)"
    return f"(CASE WHEN {shift} % 2 = 0 THEN 1 ELSE -1 END)"


def feature_hash_embed(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 16,
) -> DataFrame:
    """Hashing-trick document embedding (Weinberger et al. 2009): each
    token hashes to one of ``dim`` buckets with a +-1 sign; the document
    vector is the signed token-count sum per bucket. Entirely INTEGER —
    the on-cluster "embed text without a model" baseline that makes
    dense retrieval, clustering, and near-dup runnable over the same
    corpus the sparse index covers (and the exact shape a real encoder
    would slot into: same (doc_id, vector) contract).

    100 TB shape: one token explode -> ONE hash aggregate with dim
    conditional sums (map-side partial combine; state = dim ints per
    doc). No vocabulary to build, broadcast, or synchronize — that is
    the point of the hashing trick at scale.

    Returns (doc_id, v0..v{dim-1}, norm_sq) — columns, not an array,
    so downstream dot products stay in whole-stage codegen.
    """
    from navigator_document_parser_spark.operators import md5_u32_sql

    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
        lambda t: F.length(t) > 0,
    )
    h_sql = md5_u32_sql("concat('fh:', term)", "spark")
    flat = df.select(
        F.col(id_col).alias("doc_id"), F.explode(toks).alias("term")
    ).select(
        "doc_id",
        F.expr(f"({h_sql}) % {dim}").cast("int").alias("bucket"),
        F.expr(_fh_sign_sql(h_sql, "spark")).cast("int").alias("sign"),
    )
    sums = [
        F.sum(
            F.when(F.col("bucket") == j, F.col("sign")).otherwise(0)
        ).cast("bigint").alias(f"v{j}")
        for j in range(dim)
    ]
    vec = flat.groupBy("doc_id").agg(*sums)
    norm_sq = sum(
        (F.col(f"v{j}") * F.col(f"v{j}") for j in range(dim)),
        F.lit(0).cast("bigint"),
    )
    return vec.withColumn("norm_sq", norm_sq)


def oracle_feature_hash_embed(
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
    dim: int = 16,
) -> str:
    """DuckDB replica of feature_hash_embed — same md5 bucket/sign."""
    from navigator_document_parser_spark.operators import md5_u32_sql

    h_sql = md5_u32_sql("'fh:' || term", "duckdb")
    sums = ",\n                 ".join(
        f"CAST(sum(CASE WHEN bucket = {j} THEN sign ELSE 0 END)"
        f" AS BIGINT) AS v{j}"
        for j in range(dim)
    )
    norm = " + ".join(f"v{j} * v{j}" for j in range(dim))
    return f"""
        WITH flat AS (
          SELECT {id_col} AS doc_id,
                 unnest(list_filter(string_split_regex(
                   trim(lower({text_col})), '\\s+'),
                   t -> length(t) > 0)) AS term
          FROM {table}
        ), hx AS (
          SELECT doc_id,
                 CAST(({h_sql}) % {dim} AS INT) AS bucket,
                 CAST({_fh_sign_sql(h_sql, 'duckdb')} AS INT) AS sign
          FROM flat
        ), vec AS (
          SELECT doc_id, {sums}
          FROM hx GROUP BY doc_id
        )
        SELECT *, CAST({norm} AS BIGINT) AS norm_sq FROM vec
    """


def embedding_outliers(
    embeddings: DataFrame,
    n_top: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space outlier surfacing: squared distance to the
    corpus centroid, top-``n_top`` ranked — the mislabeled/garbage-
    input triage view an embedding-curation pipeline runs after every
    encoder batch (SemDeDup keeps the near-duplicates; this surfaces
    the opposite tail).

    Engine-parity design: the centroid is built from per-dimension
    INTEGER sums of 2^-20 fixed-point quantized components, so the
    cross-ROW reduction is exact under any partition/visit order (the
    float-sum order hazard is designed out, same discipline as
    token_entropy); only the per-row distance fold is float, rounded
    4dp (the accepted per-row risk class of the cosine operators).

    100 TB shape: posexplode + groupBy(dim) is a 64-group hash
    aggregate — map-side combine holds 64 cells per task, so the
    exploded rows never reach the exchange; the centroid row is a
    broadcast; top-N is TakeOrderedAndProject (no global window). The
    per-row HOF distance fold is interpreted — at corpus scale swap it
    for the fused Arrow matmul path (pq_encode's recon UDF) and keep
    this expression as the oracle-parity reference.

    Returns (vec_id, dist4, rank) — the n_top farthest, rank 1 = most
    distant, ties broken by vec_id ascending.
    """
    from pyspark.sql.window import Window

    v = F.col(vec_col).cast("array<double>")
    dims = embeddings.select(
        F.posexplode(v).alias("pos", "val")
    ).select(
        "pos",
        F.expr(
            "CAST(floor(val * 1048576.0 + 0.5) AS BIGINT)"
        ).alias("q"),
    )
    per_dim = dims.groupBy("pos").agg(
        F.sum("q").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    cent = per_dim.groupBy().agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("pos"),
                        (
                            F.col("s").cast("double")
                            / (F.col("n") * F.lit(1048576.0))
                        ).alias("c"),
                    )
                )
            ),
            lambda x: x["c"],
        ).alias("carr")
    )
    scored = (
        embeddings.select(F.col(id_col).alias("vec_id"), v.alias("v"))
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("v"),
                        F.col("carr"),
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                4,
            ).alias("dist4"),
        )
    )
    top = scored.orderBy(
        F.col("dist4").desc(), F.col("vec_id").asc()
    ).limit(n_top)
    w = Window.orderBy(F.col("dist4").desc(), F.col("vec_id").asc())
    return top.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    )


def oracle_embedding_outliers(
    n_top: int = 20,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB replica of embedding_outliers — same fixed-point centroid
    sums, same squared-distance fold, same (dist4 desc, id asc) top-N."""
    return f"""
        WITH q AS (
          SELECT {id_col} AS vec_id, CAST({vec_col} AS DOUBLE[]) AS v
          FROM {table}
        ), d AS (
          SELECT i,
                 CAST(SUM(CAST(floor(v[i] * 1048576.0 + 0.5) AS BIGINT))
                      AS BIGINT) AS s,
                 CAST(count(*) AS BIGINT) AS n
          FROM q, unnest(generate_series(1, len(v))) u(i)
          GROUP BY i
        ), c AS (
          SELECT list(CAST(s AS DOUBLE) / (n * 1048576.0) ORDER BY i)
                   AS carr
          FROM d
        ), sc AS (
          SELECT vec_id,
                 round(list_sum(list_transform(
                   generate_series(1, len(v)),
                   i -> (v[i] - carr[i]) * (v[i] - carr[i]))), 4)
                   AS dist4
          FROM q, c
        )
        SELECT vec_id, dist4,
               CAST(row_number() OVER (ORDER BY dist4 DESC, vec_id ASC)
                    AS BIGINT) AS rank
        FROM sc
        ORDER BY dist4 DESC, vec_id ASC
        LIMIT {n_top}
    """


def mmr_rerank(
    embeddings: DataFrame,
    queries: DataFrame,
    n_cands: int = 8,
    k: int = 4,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Maximal-marginal-relevance reranking (Carbonell & Goldstein
    1998): per query take the top-``n_cands`` cosine candidates, then
    greedily pick ``k`` of them maximizing
    lam * rel(i) - (1 - lam) * max_{j in picked} sim(i, j) — the
    diversity rerank a RAG pipeline runs between retrieval and context
    packing so near-duplicate passages don't crowd the window.

    Engine parity: rel and the pairwise sims are the repo's 4dp cosine
    (the knn_cosine risk class); every selection compares
    lam*rel - (1-lam)*maxsim on those identical 4dp doubles with
    (score desc, id asc) tie-breaks, so both engines walk the same
    greedy path; lam and (1-lam) are injected as the same repr
    literals.

    100 TB shape: candidate generation is the broadcast-query knn scan
    (checkpointed once); everything after operates on n_cands rows per
    query — the n_cands^2 candidate pairs are cogrouped with the
    candidates by query_id and the k greedy rounds run in ONE Arrow
    pass per query, never over the corpus. Keep k small (it is a
    rerank, not a sort).

    Returns (query_id, vec_id, pick, mmr_score) with pick in 1..k,
    pick 1 = pure-relevance argmax (maxsim taken as 0).
    """
    if k < 1 or n_cands < k:
        raise ValueError("need n_cands >= k >= 1")
    lam = float(lam)
    one_minus = 1.0 - lam

    import pandas as pd

    cands = knn_bruteforce(
        embeddings,
        queries,
        k=n_cands,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
    ).withColumnRenamed("sim", "rel").localCheckpoint(eager=True)

    ev = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
    )
    cv = cands.select("query_id", "vec_id", "rel").join(ev, "vec_id")
    # single consumer now (the cogrouped greedy pass) — no barrier
    # needed; cv reads the checkpointed cands
    pairs = (
        cv.alias("a")
        .join(
            cv.alias("b"),
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.query_id").alias("query_id"),
            F.col("a.vec_id").alias("ia"),
            F.col("b.vec_id").alias("ib"),
            cosine(F.col("a.v"), F.col("b.v")).alias("s"),
        )
    )

    # r7: the k-round unrolled Spark loop re-executed each prior
    # round's subplan per later reference (the lesson-16 class — exec
    # was 2.9s of tiny-table window/join stages at sf0.1). Every float
    # the greedy walk compares (rel, pairwise s) is ALREADY a
    # 4dp-rounded Spark-side double, and lam*rel - (1-lam)*ms over
    # identical doubles is the same IEEE arithmetic in any engine, so
    # the walk runs in ONE cogrouped Arrow pass per query — same
    # picks, same raw scores; the output round(.,4) stays in Spark
    # (lesson 18: never round doubles in Python).
    qid_t = cands.schema["query_id"].dataType.simpleString()
    vid_t = cands.schema["vec_id"].dataType.simpleString()

    def greedy(cdf: pd.DataFrame, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(cdf) == 0:
            return pd.DataFrame(
                {"query_id": [], "vec_id": [], "pick": [], "score0": []}
            )
        qid = cdf["query_id"].iloc[0]
        s = {
            (ia, ib): sv
            for ia, ib, sv in zip(pdf["ia"], pdf["ib"], pdf["s"])
        }
        rel = dict(zip(cdf["vec_id"], cdf["rel"]))
        first = cdf.loc[cdf["rank"] == 1, "vec_id"].iloc[0]
        picked = [first]
        rows = [(qid, first, 1, lam * rel[first])]
        remaining = sorted(v for v in cdf["vec_id"] if v != first)
        for t in range(2, k + 1):
            if not remaining:
                break
            best = None
            for v in remaining:
                msv = [s[(v, j)] for j in picked if (v, j) in s]
                ms = max(msv) if msv else 0.0
                sc = lam * rel[v] - one_minus * ms
                # window order: score0 DESC, vec_id ASC
                if best is None or (-sc, v) < (-best[1], best[0]):
                    best = (v, sc)
            rows.append((qid, best[0], t, best[1]))
            picked.append(best[0])
            remaining.remove(best[0])
        return pd.DataFrame(
            rows, columns=["query_id", "vec_id", "pick", "score0"]
        )

    out = (
        cands.select("query_id", "vec_id", "rel", "rank")
        .groupBy("query_id")
        .cogroup(pairs.groupBy("query_id"))
        .applyInPandas(
            greedy,
            schema=(
                f"query_id {qid_t}, vec_id {vid_t}, "
                "pick bigint, score0 double"
            ),
        )
    )
    return out.select(
        "query_id",
        "vec_id",
        "pick",
        F.round(F.col("score0"), 4).alias("mmr_score"),
    )


def oracle_mmr_rerank(
    queries_pred: str = "vec_id < 3",
    n_cands: int = 8,
    k: int = 4,
    lam: float = 0.7,
    table: str = "embeddings",
) -> str:
    """DuckDB replica of mmr_rerank as an unrolled greedy CTE chain
    (the bpe_train precedent). ``queries_pred`` selects the query rows
    from ``table``."""
    lam = float(lam)
    one_minus = 1.0 - lam
    parts = [
        f"""
        WITH q AS (
          SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM {table} WHERE {queries_pred}
        ), e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {table}
        ), scored AS (
          SELECT q.query_id, e.vec_id,
                 round(list_cosine_similarity(e.v, q.qv), 4) AS rel
          FROM e CROSS JOIN q
          WHERE e.vec_id <> q.query_id
        ), cand AS (
          SELECT query_id, vec_id, rel FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY rel DESC, vec_id ASC) AS rk
            FROM scored
          ) WHERE rk <= {n_cands}
        ), cv AS (
          SELECT c.query_id, c.vec_id, c.rel, e.v
          FROM cand c JOIN e USING (vec_id)
        ), p AS (
          SELECT a.query_id, a.vec_id AS ia, b.vec_id AS ib,
                 round(list_cosine_similarity(a.v, b.v), 4) AS s
          FROM cv a JOIN cv b
            ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
        ), s1 AS (
          SELECT query_id, vec_id, CAST(1 AS BIGINT) AS pick,
                 round({lam!r} * rel, 4) AS mmr_score
          FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY rel DESC, vec_id ASC) AS rk
            FROM cand
          ) WHERE rk = 1
        )"""
    ]
    union = ["SELECT * FROM s1"]
    for t in range(2, k + 1):
        prev_all = " UNION ALL ".join(
            f"SELECT query_id, vec_id FROM s{i}" for i in range(1, t)
        )
        parts.append(
            f"""
        , sel{t} AS ({prev_all})
        , rem{t} AS (
          SELECT c.* FROM cand c
          WHERE NOT EXISTS (SELECT 1 FROM sel{t} s
                            WHERE s.query_id = c.query_id
                              AND s.vec_id = c.vec_id)
        ), ms{t} AS (
          SELECT p.query_id, p.ia AS vec_id, max(p.s) AS ms
          FROM p JOIN sel{t} s
            ON p.query_id = s.query_id AND p.ib = s.vec_id
          GROUP BY p.query_id, p.ia
        ), sc{t} AS (
          SELECT r.query_id, r.vec_id,
                 {lam!r} * r.rel
                   - {one_minus!r} * coalesce(m.ms, 0.0) AS score0
          FROM rem{t} r LEFT JOIN ms{t} m
            ON r.query_id = m.query_id AND r.vec_id = m.vec_id
        ), s{t} AS (
          SELECT query_id, vec_id, CAST({t} AS BIGINT) AS pick,
                 round(score0, 4) AS mmr_score
          FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY score0 DESC, vec_id ASC) AS rk
            FROM sc{t}
          ) WHERE rk = 1
        )"""
        )
        union.append(f"SELECT * FROM s{t}")
    return "".join(parts) + " " + " UNION ALL ".join(union)


def contrastive_triplets(
    embeddings: DataFrame,
    pairs: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """(anchor, positive, negative) training triplets for contrastive
    fine-tuning (the SimCSE/E5 data-prep shape): positives are the
    supplied near-duplicate pairs; negatives are deterministic hash
    picks over the dense [0, max_id] id space — md5 of the pair key,
    stepped forward up to twice to dodge the anchor/positive ids (two
    forbidden values, three candidates: one is always free).

    Sampled negatives are RANDOM negatives, not hard negatives — the
    standard first-epoch recipe; swap the sampler for an ANN-mined one
    (knn_cosine ranks 2..k) when hard negatives are wanted. Ids absent
    from a sparse id space would emit dangling negatives; the corpus
    id space is dense (synth tables and any row_number'd real corpus).

    100 TB shape: one 1-row max aggregate broadcast back (a single
    crossJoin fold, never inside a loop — lesson 16) and a pure
    projection over the pairs; no joins against the corpus.

    Returns (anchor_id, pos_id, neg_id, pos_sim); requires at least 3
    ids (pairs vanish otherwise).
    """
    from navigator_document_parser_spark.operators import md5_u32_sql

    m = embeddings.groupBy().agg(
        (F.max(F.col(id_col)) + 1).cast("bigint").alias("m")
    )
    h = md5_u32_sql(
        "concat(cast(id_a as string), ':', cast(id_b as string))",
        "spark",
    )
    neg = (
        f"CASE WHEN ({h}) % m NOT IN (id_a, id_b) THEN ({h}) % m "
        f"WHEN (({h}) + 1) % m NOT IN (id_a, id_b) THEN (({h}) + 1) % m "
        f"ELSE (({h}) + 2) % m END"
    )
    return (
        pairs.crossJoin(F.broadcast(m))
        .filter(F.col("m") >= 3)
        .selectExpr(
            "id_a AS anchor_id",
            "id_b AS pos_id",
            f"CAST({neg} AS BIGINT) AS neg_id",
            "sim AS pos_sim",
        )
    )


def oracle_contrastive_triplets(
    pairs_sql: str,
    table: str = "embeddings",
    id_col: str = "vec_id",
) -> str:
    """DuckDB replica of contrastive_triplets; ``pairs_sql`` must yield
    (id_a, id_b, sim)."""
    from navigator_document_parser_spark.operators import md5_u32_sql

    h = md5_u32_sql(
        "cast(id_a AS VARCHAR) || ':' || cast(id_b AS VARCHAR)",
        "duckdb",
    )
    neg = (
        f"CASE WHEN ({h}) % m NOT IN (id_a, id_b) THEN ({h}) % m "
        f"WHEN (({h}) + 1) % m NOT IN (id_a, id_b) THEN (({h}) + 1) % m "
        f"ELSE (({h}) + 2) % m END"
    )
    return f"""
        WITH p AS ({pairs_sql}),
        mm AS (
          SELECT CAST(max({id_col}) + 1 AS BIGINT) AS m FROM {table}
        )
        SELECT id_a AS anchor_id, id_b AS pos_id,
               CAST({neg} AS BIGINT) AS neg_id,
               sim AS pos_sim
        FROM p CROSS JOIN mm
        WHERE m >= 3
    """


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-level decontamination: flag corpus vectors whose
    cosine to ANY benchmark/holdout vector reaches ``threshold`` — the
    semantic complement of the n-gram decontaminate (text.py), which
    paraphrased or lightly-reworded benchmark leakage slips past.

    Candidates come from the same deterministic multi-table hyperplane
    banding as knn_lsh/knn_graph (corpus and benchmark rows sharing a
    bucket in ANY table); each (tbl, bkt) block scores corpus-vs-
    benchmark with ONE numpy cross-gram matmul and emits each corpus
    row's best in-block sim. Global max per corpus id, then the exact
    4dp gate — round is monotone, so round(max(raw)) == max(round(raw))
    and the oracle can rank the full banded candidate set.

    Benchmark suites are tiny next to the corpus: the benchmark side of
    every block is broadcast-sized, and the corpus side streams through
    one shuffle to the block key. Corpus vectors with no banded
    candidate get max_sim NULL, contaminated false.

    Returns (vec_id, max_sim, contaminated).
    """
    tbl_ids = F.array(*[F.lit(t) for t in range(n_tables)])

    def banded(df: DataFrame, side: str) -> DataFrame:
        return (
            df.select(
                F.col(id_col).alias("id"),
                F.col(vec_col).cast("array<double>").alias("v"),
            )
            .withColumn("side", F.lit(side))
            .withColumn("tbl", F.explode(tbl_ids))
            .withColumn("bkt", _bucket_case("v", dim, n_planes, n_tables))
        )

    both = banded(corpus, "c").unionByName(banded(benchmark, "r"))

    def block_max(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"id": [], "sim_raw": []})
        cm = pdf["side"] == "c"
        rm = pdf["side"] == "r"
        if not cm.any() or not rm.any():
            return empty
        cid = pdf.loc[cm, "id"].to_numpy()
        cx = np.stack(pdf.loc[cm, "v"].to_numpy()).astype(np.float64)
        rx = np.stack(pdf.loc[rm, "v"].to_numpy()).astype(np.float64)
        cn = np.sqrt((cx * cx).sum(axis=1))
        rn = np.sqrt((rx * rx).sum(axis=1))
        denom = cn[:, None] * rn[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            sim = np.where(denom == 0.0, 0.0, (cx @ rx.T) / denom)
        return pd.DataFrame({"id": cid, "sim_raw": sim.max(axis=1)})

    id_type = corpus.schema[id_col].dataType.simpleString()
    best = (
        both.groupBy("tbl", "bkt")
        .applyInPandas(block_max, schema=f"id {id_type}, sim_raw double")
        .groupBy("id")
        .agg(F.max("sim_raw").alias("sim_raw"))
        .select(
            "id", F.round(F.col("sim_raw"), 4).alias("max_sim")
        )
    )
    return (
        corpus.select(F.col(id_col).alias("id"))
        .join(best, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            "max_sim",
            F.coalesce(
                F.col("max_sim") >= threshold, F.lit(False)
            ).alias("contaminated"),
        )
    )


def oracle_semantic_decontaminate(
    corpus_sql: str,
    bench_sql: str,
    threshold: float,
    dim: int,
    n_planes: int = 4,
    n_tables: int = 4,
) -> str:
    """DuckDB replica of semantic_decontaminate: the deterministic
    md5-literal hyperplanes make banding pure SQL; max over the FULL
    banded candidate set (round is monotone, so rounding the max equals
    the Spark side's max-then-round)."""

    def proj(t: int, p: int) -> str:
        plane = _hyperplane(dim, p, seed=42 + t)
        terms = " + ".join(f"v[{d + 1}]*({plane[d]!r})" for d in range(dim))
        return f"(0.0 + {terms})"

    def bucket(t: int) -> str:
        return " + ".join(
            f"(CASE WHEN {proj(t, p)} >= 0 THEN {1 << p} ELSE 0 END)"
            for p in range(n_planes)
        )

    bcols = ", ".join(f"({bucket(t)}) AS b{t}" for t in range(n_tables))
    branches = "\n          UNION\n".join(
        f"          SELECT c.vec_id AS cid, c.embedding AS cv,\n"
        f"                 r.vec_id AS rid, r.embedding AS rv\n"
        f"          FROM cb c JOIN rb r ON c.b{t} = r.b{t}"
        for t in range(n_tables)
    )
    return f"""
        WITH craw AS (
          SELECT vec_id, embedding,
                 CAST(embedding AS DOUBLE[]) AS v
          FROM ({corpus_sql})
        ), rraw AS (
          SELECT vec_id, embedding,
                 CAST(embedding AS DOUBLE[]) AS v
          FROM ({bench_sql})
        ), cb AS (SELECT vec_id, embedding, {bcols} FROM craw),
        rb AS (SELECT vec_id, embedding, {bcols} FROM rraw),
        cand AS (
{branches}
        ), best AS (
          SELECT cid,
                 round(MAX(list_cosine_similarity(
                   CAST(cv AS DOUBLE[]), CAST(rv AS DOUBLE[]))), 4)
                   AS max_sim
          FROM cand GROUP BY cid
        )
        SELECT c.vec_id, b.max_sim,
               COALESCE(b.max_sim >= {threshold!r}, FALSE)
                 AS contaminated
        FROM craw c LEFT JOIN best b ON c.vec_id = b.cid
    """
