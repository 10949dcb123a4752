"""Link-graph analytics for crawl curation.

Web-scale pipelines weight domains by their position in the host link
graph (edges from page outlinks, e.g. operators/tables.extract_links):
link-based scores separate organic sites from spam farms far more
cheaply than per-page classifiers. This module maps the standard power-iteration
PageRank onto DataFrame ops with the same scale discipline as
dedup.connected_components:

  - each iteration is ONE logical plan: edge-join + hash aggregate,
    dangling mass folded in via a 1-row broadcast crossJoin — no
    per-iteration driver action (collect) anywhere;
  - the normalized edge table is eager-localCheckpoint'ed once (it is
    re-read every iteration and feeds two branches per round —
    CLAUDE.md lesson 7: lazy barriers race under concurrent branch
    materialization);
  - rank lineage is truncated every CHECKPOINT_EVERY iterations so
    the plan stays bounded (the components lesson: unbounded iterative
    lineage re-executes the whole chain per action); label propagation,
    BFS and k-core truncate theirs at the same cadence.

Reference scope note: the reference parser has no graph analytics; this
is part of the beyond-reference training-data layer (SURVEY §2 "beyond"
table), like dedup/ANN.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from navigator_document_parser_spark.operators import collect_if_small

# Rounds between eager localCheckpoints of an iterative operator's state
# (ranks, labels, depths, alive set). Read at call time.
CHECKPOINT_EVERY = 3


def _truncate(df: DataFrame, i: int, rounds: int) -> DataFrame:
    """Checkpoint the state after round ``i`` every CHECKPOINT_EVERY
    rounds, except after the last. Eager: the state feeds two branches
    of the next round (lesson 7)."""
    if (i + 1) % CHECKPOINT_EVERY == 0 and i + 1 < rounds:
        return df.localCheckpoint(eager=True)
    return df


def _transition(
    edges: DataFrame, src: str, dst: str, weight: str | None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(frac, nodes, dangling) of the weighted link graph, each eagerly
    checkpointed: frac (src, dst, w/W(src)) and nodes are re-read every
    iteration; dangling nodes (never a src) spread their mass."""
    w = (
        F.col(weight).cast("double")
        if weight is not None
        else F.lit(1.0)
    )
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w")
    )
    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    frac = (
        e.join(out_w, "src")
        .select("src", "dst", (F.col("w") / F.col("out_w")).alias("frac"))
        .localCheckpoint(eager=True)  # re-read every iteration
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    dangling = nodes.join(
        frac.select(F.col("src").alias("node")).distinct(),
        "node",
        "left_anti",
    ).localCheckpoint(eager=True)
    return frac, nodes, dangling


def _power_iteration(
    frac: DataFrame,
    nodes: DataFrame,
    dangling: DataFrame,
    init: Column,
    teleport: Column,
    dangling_share: Column,
    damping: float,
    iterations: int,
) -> DataFrame:
    """The power iteration pagerank and trustrank share -> (node, rank):

    rank_0(v)     = init
    rank_{t+1}(v) = teleport + d * (in-flow(v) + dangling_share)

    ``init``, ``teleport`` and ``dangling_share`` are columns over
    ``node``; ``dangling_share`` may also read ``dm``, this round's
    dangling mass. Per iteration one shuffle on dst (hash aggregate with
    map-side combine) plus one join of the ranks onto the checkpointed
    edge table (broadcast or hash, as AQE picks); the dangling mass is a
    1-row reduction crossJoin-broadcast back.
    """
    ranks = nodes.select("node", init.alias("rank"))
    d = float(damping)
    for i in range(int(iterations)):
        dang_mass = (
            ranks.join(dangling, "node", "leftsemi")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        contrib = (
            frac.join(
                ranks.withColumnRenamed("node", "src"), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("frac")).alias("m"))
        )
        ranks = _truncate(
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang_mass))
            .select(
                "node",
                (
                    teleport
                    + F.lit(d)
                    * (F.coalesce(F.col("m"), F.lit(0.0)) + dangling_share)
                ).alias("rank"),
            ),
            i,
            int(iterations),
        )
    return ranks


def pagerank(
    edges: DataFrame,
    src: str = "src_host",
    dst: str = "dst_host",
    weight: str | None = "n_links",
    damping: float = 0.85,
    iterations: int = 10,
) -> DataFrame:
    """Weighted PageRank over an edge list -> (node, rank).

    rank_{t+1}(v) = (1-d)/N + d * (sum_{u->v} rank_t(u) * w(u,v)/W(u)
                                   + dangling_mass_t / N)

    where W(u) is u's total out-weight and dangling nodes (no
    out-edges) redistribute their mass uniformly — the standard
    stochastic-matrix completion, so sum(rank) == 1 at every step.
    Scale shape: _power_iteration.
    """
    frac, nodes, dangling = _transition(edges, src, dst, weight)
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    d = float(damping)
    return _power_iteration(
        frac, nodes, dangling,
        init=F.lit(1.0 / n),
        teleport=F.lit((1.0 - d) / n),
        dangling_share=F.col("dm") / n,
        damping=d,
        iterations=iterations,
    )


def hits(
    edges: DataFrame,
    src: str = "src_host",
    dst: str = "dst_host",
    weight: str | None = "n_links",
    iterations: int = 5,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) -> (node, authority, hub).

    Per iteration: auth'(v) = sum_{u->v} hub(u)*w;
    hub'(u) = sum_{u->v} auth'(v)*w. Normalization happens ONCE at the
    end (L1): per-iteration scale factors are uniform positive scalars,
    so deferring them changes nothing after the final divide — and it
    keeps the logical plan LINEAR in the iteration count. A
    normalize-inside-the-loop variant embeds the score subtree twice
    per normalization (score + 1-row norm aggregate), and with two of
    them per iteration the un-truncated plan grows ~4^t — Catalyst
    analysis time explodes long before execution does (measured: 5
    iterations un-analyzable in minutes; this shape runs in seconds).
    Magnitudes grow like (total edge weight)^(2t) — fine in doubles
    for the handful of iterations HITS needs on any realistic host
    graph.

    Scale: two shuffles per iteration (hash agg on dst, then on src),
    map-side combine on both; no driver collects or counts anywhere.
    The whole power iteration is ONE linear DAG — right for the
    handful of iterations HITS needs.
    """
    if iterations <= 0:
        raise ValueError("iterations must be positive")
    w = (
        F.col(weight).cast("double")
        if weight is not None
        else F.lit(1.0)
    )
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w")
    ).localCheckpoint(eager=True)  # re-read twice per iteration
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _l1(df: DataFrame, col: str) -> DataFrame:
        # embeds df twice (scores + 1-row norm): call once at the very
        # end — inside the loop this doubling compounds to ~4^t
        norm = df.agg(
            F.coalesce(F.sum(col), F.lit(0.0)).alias("_norm")
        )
        return df.crossJoin(F.broadcast(norm)).select(
            "node",
            F.when(F.col("_norm") == 0.0, F.lit(0.0))
            .otherwise(F.col(col) / F.col("_norm"))
            .alias(col),
        )

    # init hub = 1.0, NOT 1/n: the final L1 normalize cancels any
    # uniform init scale, and skipping the count() removes a driver
    # action (empty input degrades to an empty result naturally)
    hubs = nodes.select("node", F.lit(1.0).alias("hub"))
    auths = None
    for _ in range(int(iterations)):
        auths = (
            nodes.join(
                e.join(hubs.withColumnRenamed("node", "src"), "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum(F.col("hub") * F.col("w")).alias("a")),
                "node",
                "left",
            )
            .select("node", F.coalesce("a", F.lit(0.0)).alias("authority"))
        )
        hubs = (
            nodes.join(
                e.join(auths.withColumnRenamed("node", "dst"), "dst")
                .groupBy(F.col("src").alias("node"))
                .agg(F.sum(F.col("authority") * F.col("w")).alias("h")),
                "node",
                "left",
            )
            .select("node", F.coalesce("h", F.lit(0.0)).alias("hub"))
        )

    return _l1(auths, "authority").join(_l1(hubs, "hub"), "node").select(
        "node", "authority", "hub"
    )


def anchor_text_topk(
    edges: DataFrame,
    k: int = 3,
    dst: str = "dst_host",
    anchor: str = "anchor",
) -> DataFrame:
    """Top-``k`` anchor texts per link target — the Common Crawl
    "anchor text dataset" shape (what other pages call a page is a
    ranking/labeling signal search and curation both consume).

    edges: one row per (src page/host, dst, anchor text) link. Count
    per (dst, anchor), rank per dst by (count desc, anchor asc) —
    deterministic ties — keep k.

    100 TB shape: one hash aggregate (map-side partial combine absorbs
    per-page repeats) + one per-dst top-k window over the already
    aggregated rows (bounded by distinct anchors per target, not link
    count). A mega-hub target with millions of distinct anchors is the
    skew case; the count aggregate has already collapsed duplicates,
    and AQE splits any residual straggler partition.

    Returns (dst_host, anchor, n_links, rank).
    """
    from pyspark.sql.window import Window

    counts = (
        edges.select(F.col(dst).alias("dst_host"),
                     F.col(anchor).alias("anchor"))
        .groupBy("dst_host", "anchor")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )
    w = Window.partitionBy("dst_host").orderBy(
        F.col("n_links").desc(), F.col("anchor").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("dst_host", "anchor",
                F.col("n_links").cast("bigint").alias("n_links"), "rank")
    )


def label_propagation(
    edges: DataFrame,
    iterations: int = 5,
    src: str = "src_host",
    dst: str = "dst_host",
) -> DataFrame:
    """Synchronous min-label propagation over the UNDIRECTED host graph
    — the cheap community detector crawl pipelines use to group hosts
    into site clusters (mirror farms, link rings) before per-community
    caps. Exactly ``iterations`` synchronized rounds (NOT run to
    fixpoint, so the unrolled-CTE oracle replays it step for step):
      l_0(v)   = v
      l_{t+1}(v) = min(l_t(v), min over neighbors u of l_t(u))
    After enough rounds this converges to connected components (see
    dedup.connected_components for the fixpoint variant with its
    batched-round scale story); the fixed-round form is the bounded-
    cost approximation that is one shuffle per round.

    100 TB shape: per round ONE edge-join + min-aggregate (string min
    has a map-side partial combine); label lineage truncated every
    CHECKPOINT_EVERY rounds like pagerank. Returns (node, community).
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # bounded fast path (the connected_components discipline): the
    # fixed-round synchronous min-label recurrence is exact string
    # arithmetic — replay it on the driver when the materialized edge
    # table is small, one collect + one createDataFrame instead of one
    # join-round job per iteration. Spark's string min and Python's str
    # min agree (both codepoint order). Larger graphs and NULL
    # endpoints take the distributed rounds below.
    pdf = collect_if_small(sym, non_null=("a", "b"))
    if pdf is not None:
        node_t = sym.schema["a"].dataType.simpleString()
        adj: dict = {}
        for a, b in zip(pdf["a"], pdf["b"]):
            adj.setdefault(a, []).append(b)
        labels_d = {v: v for v in adj}
        for _ in range(int(iterations)):
            labels_d = {
                v: min(
                    labels_d[v],
                    min(labels_d[u] for u in nbrs),
                )
                for v, nbrs in adj.items()
            }
        return edges.sparkSession.createDataFrame(
            list(labels_d.items()),
            f"node {node_t}, community {node_t}",
        )
    labels = sym.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for i in range(int(iterations)):
        nbr = (
            sym.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy("a")
            .agg(F.min("label").alias("nbr_min"))
            .withColumnRenamed("a", "node")
        )
        labels = _truncate(
            labels.join(nbr, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_min", F.col("label"))
                ).alias("label"),
            ),
            i,
            int(iterations),
        )
    return labels.select("node", F.col("label").alias("community"))


def oracle_label_propagation(edges_sql: str, iterations: int = 5) -> str:
    """DuckDB replica of label_propagation: the same symmetrized edge
    set, one chained CTE per synchronized round (mirrors the pagerank
    oracle's unrolled power iteration). ``edges_sql`` must yield
    (src_host, dst_host) rows."""
    step = """
        l{t1} AS (
          SELECT l.node,
                 least(l.label, coalesce(m.mn, l.label)) AS label
          FROM l{t0} l
          LEFT JOIN (SELECT s.a AS node, min(l2.label) AS mn
                     FROM sym s JOIN l{t0} l2 ON l2.node = s.b
                     GROUP BY s.a) m
            ON m.node = l.node
        )"""
    steps = ", ".join(
        step.format(t0=t, t1=t + 1) for t in range(int(iterations))
    )
    return f"""
        WITH e AS ({edges_sql}),
        sym AS (
          SELECT src_host AS a, dst_host AS b FROM e
          UNION
          SELECT dst_host, src_host FROM e
        ),
        l0 AS (
          SELECT DISTINCT a AS node, a AS label FROM sym
        ), {steps}
        SELECT node, label AS community FROM l{iterations}
    """


def bfs_depth(
    edges: DataFrame,
    seeds: list[str],
    rounds: int = 4,
    src: str = "src_host",
    dst: str = "dst_host",
) -> DataFrame:
    """Multi-source BFS over the DIRECTED link graph: crawl depth from
    a seed list — the frontier-discovery question every crawl planner
    asks (what is reachable within r hops, and how deep is each host).
    Exactly ``rounds`` synchronized relaxations (bounded, so the
    unrolled-CTE oracle replays it step for step):
      d_0(v)     = 0 if v in seeds else UNREACHED
      d_{t+1}(v) = min(d_t(v), min over edges u->v of d_t(u) + 1)
    UNREACHED is an integer sentinel (not NULL): Spark's least() skips
    NULLs while engines differ on NULL handling in min-aggregates over
    empty frontiers — the sentinel keeps every comparison pure integer
    and identical everywhere. Hosts still at the sentinel after the
    last round are dropped (unreached within ``rounds``).

    100 TB shape: per round ONE join (labels to edge sources) + ONE
    min-aggregate (map-side partial combine) — the textbook Pregel
    round expressed as DataFrame ops; label lineage truncated every
    CHECKPOINT_EVERY rounds exactly like pagerank/label_propagation.

    Returns (host, depth).
    """
    _UNREACHED = 1 << 30
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        sym.select(F.col("a").alias("node"))
        .union(sym.select(F.col("b").alias("node")))
        .distinct()
    )
    seed_set = sorted(set(seeds))
    # bounded fast path: the fixed-round relaxation is exact integer
    # arithmetic — replay it on the driver when the edge table is small
    # (connected_components discipline); larger graphs and NULL
    # endpoints take the distributed rounds below.
    pdf = collect_if_small(sym, non_null=("a", "b"))
    if pdf is not None:
        node_t = sym.schema["a"].dataType.simpleString()
        preds: dict = {}
        all_nodes: set = set()
        for a, b in zip(pdf["a"], pdf["b"]):
            preds.setdefault(b, []).append(a)
            all_nodes.add(a)
            all_nodes.add(b)
        ss = set(seed_set)
        dist = {
            v: (0 if v in ss else _UNREACHED) for v in all_nodes
        }
        for _ in range(int(rounds)):
            dist = {
                v: (
                    min(d, min(dist[u] + 1 for u in preds[v]))
                    if v in preds
                    else d
                )
                for v, d in dist.items()
            }
        return edges.sparkSession.createDataFrame(
            [(v, d) for v, d in dist.items() if d < _UNREACHED],
            f"host {node_t}, depth bigint",
        )
    labels = nodes.select(
        "node",
        F.when(F.col("node").isin(seed_set), F.lit(0))
        .otherwise(F.lit(_UNREACHED))
        .cast("int")
        .alias("dist"),
    )
    for i in range(int(rounds)):
        nbr = (
            sym.join(labels.withColumnRenamed("node", "a"), "a")
            .groupBy("b")
            .agg(F.min(F.col("dist") + 1).alias("nbr_min"))
            .withColumnRenamed("b", "node")
        )
        labels = _truncate(
            labels.join(nbr, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("dist"),
                    F.coalesce("nbr_min", F.col("dist")),
                ).alias("dist"),
            ),
            i,
            int(rounds),
        )
    return (
        labels.filter(F.col("dist") < _UNREACHED)
        .select(
            F.col("node").alias("host"),
            F.col("dist").cast("bigint").alias("depth"),
        )
    )


def oracle_bfs_depth(
    edges_sql: str, seeds: list[str], rounds: int = 4
) -> str:
    """DuckDB replica of bfs_depth: same sentinel, one chained CTE per
    synchronized round. ``edges_sql`` must yield (src_host, dst_host)."""
    from navigator_document_parser_spark.operators import sql_quote

    unreached = 1 << 30
    seed_vals = ", ".join(
        f"({sql_quote(s)})" for s in sorted(set(seeds))
    )
    step = """
        d{t1} AS (
          SELECT d.node,
                 least(d.dist, coalesce(m.mn, d.dist)) AS dist
          FROM d{t0} d
          LEFT JOIN (SELECT e.b AS node, min(d2.dist + 1) AS mn
                     FROM e JOIN d{t0} d2 ON d2.node = e.a
                     GROUP BY e.b) m
            ON m.node = d.node
        )"""
    steps = ", ".join(
        step.format(t0=t, t1=t + 1) for t in range(int(rounds))
    )
    return f"""
        WITH raw AS ({edges_sql}),
        e AS (SELECT DISTINCT src_host AS a, dst_host AS b FROM raw),
        nodes AS (
          SELECT a AS node FROM e UNION SELECT b FROM e
        ),
        seeds(node) AS (VALUES {seed_vals}),
        d0 AS (
          SELECT n.node,
                 CASE WHEN EXISTS (SELECT 1 FROM seeds s
                                   WHERE s.node = n.node)
                      THEN 0 ELSE {unreached} END AS dist
          FROM nodes n
        ), {steps}
        SELECT node AS host, CAST(dist AS BIGINT) AS depth
        FROM d{rounds}
        WHERE dist < {unreached}
    """


def k_core(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 5,
    src: str = "src_host",
    dst: str = "dst_host",
) -> DataFrame:
    """Bounded k-core decomposition of the UNDIRECTED host graph:
    repeatedly peel nodes of degree < k. The k-core is the standard
    link-spam / seed-set signal (dense interlinked neighborhoods
    survive; peripheral pages and isolated spam pairs peel away) and
    the cheap preconditioner before heavier graph analytics.

    Exactly ``rounds`` synchronized peels (bounded, so the unrolled-CTE
    oracle replays it step for step; real graphs reach the fixpoint in
    a handful of peels). Round t:
      deg_t(v)  = |{u : {u,v} edge, u and v both alive}|
      alive_t   = {v : deg_t(v) >= k}
    Output is the degree table over the FINAL alive set — at fixpoint
    every degree >= k; with truncated rounds the table is the honest
    intermediate (no post-filter, so Spark and the oracle agree
    bit-for-bit either way).

    100 TB shape: per round two semi-join-shaped hash joins of the
    symmetric edge table against the (shrinking) alive set + ONE
    count aggregate with map-side combine — alive only ever shrinks,
    so round cost is monotone non-increasing; edge table checkpointed
    once, alive lineage truncated every CHECKPOINT_EVERY rounds.

    Returns (host, degree).
    """
    if k <= 0 or rounds <= 0:
        raise ValueError("k and rounds must be positive")
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = (
        und.unionByName(
            und.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .localCheckpoint(eager=True)  # re-read every round, two branches
    )
    # bounded fast path: the fixed-round peel is exact integer
    # arithmetic — replay it on the driver when the edge table is small
    # (connected_components discipline); larger graphs and NULL
    # endpoints take the distributed rounds below.
    pdf = collect_if_small(sym, non_null=("a", "b"))
    if pdf is not None:
        node_t = sym.schema["a"].dataType.simpleString()
        adj: dict = {}
        for a, b in zip(pdf["a"], pdf["b"]):
            adj.setdefault(a, []).append(b)
        alive_s = set(adj)

        def _deg(al: set) -> dict:
            # degree over alive-alive edges; nodes with none emit no
            # row (matches the join+groupBy shape)
            return {
                v: d
                for v in al
                if (d := sum(1 for u in adj[v] if u in al)) > 0
            }

        for _ in range(int(rounds)):
            alive_s = {
                v for v, d in _deg(alive_s).items() if d >= int(k)
            }
        return edges.sparkSession.createDataFrame(
            list(_deg(alive_s).items()),
            f"host {node_t}, degree bigint",
        )
    alive = sym.select(F.col("a").alias("node")).distinct()

    def _degrees(alive_df: DataFrame) -> DataFrame:
        return (
            sym.join(alive_df.withColumnRenamed("node", "a"), "a")
            .join(
                alive_df.select(F.col("node").alias("b")), "b"
            )
            .groupBy("a")
            .agg(F.count(F.lit(1)).alias("deg"))
        )

    for t in range(int(rounds)):
        alive = _truncate(
            _degrees(alive)
            .filter(F.col("deg") >= int(k))
            .select(F.col("a").alias("node")),
            t,
            int(rounds),
        )
    return _degrees(alive).select(
        F.col("a").alias("host"),
        F.col("deg").cast("bigint").alias("degree"),
    )


def oracle_k_core(edges_sql: str, k: int = 3, rounds: int = 5) -> str:
    """DuckDB replica of k_core: same symmetrized edge set, one chained
    CTE pair (degree, alive) per peel. ``edges_sql`` must yield
    (src_host, dst_host)."""
    step = """
        d{t} AS (
          SELECT e.a AS node, count(*) AS deg
          FROM e
          JOIN a{t0} x ON x.node = e.a
          JOIN a{t0} y ON y.node = e.b
          GROUP BY e.a
        ), a{t} AS (
          SELECT node FROM d{t} WHERE deg >= {k}
        )"""
    steps = ", ".join(
        step.format(t=t + 1, t0=t, k=int(k)) for t in range(int(rounds))
    )
    return f"""
        WITH raw AS ({edges_sql}),
        und AS (
          SELECT DISTINCT least(src_host, dst_host) AS a,
                          greatest(src_host, dst_host) AS b
          FROM raw WHERE src_host <> dst_host
        ),
        e AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
        a0 AS (SELECT DISTINCT a AS node FROM e),
        {steps},
        dfin AS (
          SELECT e.a AS node, count(*) AS deg
          FROM e
          JOIN a{rounds} x ON x.node = e.a
          JOIN a{rounds} y ON y.node = e.b
          GROUP BY e.a
        )
        SELECT node AS host, CAST(deg AS BIGINT) AS degree FROM dfin
    """


def triangle_count(
    edges: DataFrame,
    src: str = "src_host",
    dst: str = "dst_host",
) -> DataFrame:
    """Per-node triangle counts over the UNDIRECTED host graph — with
    k_core the other classic link-farm signal (spam rings are
    triangle-dense; organic link neighborhoods are sparse), and the
    numerator of the local clustering coefficient.

    Enumeration over the canonical orientation a < b (string order):
    wedges (a<b, a<c with b<c) joined on the shared low endpoint, then
    a semi-join against the edge set closes (b, c) — every triangle
    found exactly once as a<b<c, exploded to its three members, ONE
    count aggregate. At 100 TB the orientation would hash-order by
    DEGREE (caps wedge fan-out at the max low-degree, the standard
    Suri-Vassilvitskii trick); name order keeps the oracle replay
    byte-identical and the plan shape is the same two equi-joins —
    swap the ordering key when host degree skew matters.

    Returns (host, triangles) for nodes in >= 1 triangle.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)  # three join branches read it
    )
    e1 = und.select(F.col("a"), F.col("b"))
    e2 = und.select(F.col("a"), F.col("b").alias("c"))
    wedges = (
        e1.join(e2, "a")
        .filter(F.col("b") < F.col("c"))
    )
    tris = wedges.join(
        und.select(F.col("a").alias("b"), F.col("b").alias("c")),
        ["b", "c"],
        "leftsemi",
    )
    members = (
        tris.select(F.col("a").alias("node"))
        .unionByName(tris.select(F.col("b").alias("node")))
        .unionByName(tris.select(F.col("c").alias("node")))
    )
    return members.groupBy(F.col("node").alias("host")).agg(
        F.count(F.lit(1)).cast("bigint").alias("triangles")
    )


def oracle_triangle_count(edges_sql: str) -> str:
    """DuckDB replica of triangle_count — same canonical a<b<c
    enumeration. ``edges_sql`` must yield (src_host, dst_host)."""
    return f"""
        WITH raw AS ({edges_sql}),
        und AS (
          SELECT DISTINCT least(src_host, dst_host) AS a,
                          greatest(src_host, dst_host) AS b
          FROM raw WHERE src_host <> dst_host
        ),
        tris AS (
          SELECT e1.a, e1.b, e2.b AS c
          FROM und e1
          JOIN und e2 ON e2.a = e1.a AND e1.b < e2.b
          WHERE EXISTS (SELECT 1 FROM und e3
                        WHERE e3.a = e1.b AND e3.b = e2.b)
        ),
        members AS (
          SELECT a AS node FROM tris
          UNION ALL SELECT b FROM tris
          UNION ALL SELECT c FROM tris
        )
        SELECT node AS host, CAST(count(*) AS BIGINT) AS triangles
        FROM members GROUP BY node
    """


def cocitation_topk(
    edges: DataFrame,
    k: int = 5,
    max_out: int = 1000,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
) -> DataFrame:
    """Top-k related hosts by co-citation: two targets are related when
    many sources link to BOTH (Small 1973; the classic "related pages"
    signal, also the GraphRAG/SEO neighborhood primitive).

    n_shared = |{src : src->a and src->b}| over DISTINCT edges; output
    both directions (host, related, n_shared, rank) with rank <= k per
    host, ties broken by related-host name for determinism.

    100 TB shape: the wedge enumeration self-joins the distinct edge
    list on src, so cost is sum over srcs of out-degree^2 — hub sources
    (a directory page linking everywhere) would dominate, so srcs with
    out-degree > max_out are dropped first (standard co-citation
    practice; the cap is an explicit, oracle-replicated parameter, not
    a silent truncation). One distinct + one degree aggregate + one
    equi-join + one pair aggregate + a per-host top-k window.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outd"))
    e = e.join(
        deg.filter(F.col("outd") <= F.lit(int(max_out))).select("src"),
        "src",
    )
    a = e.select("src", F.col("dst").alias("dst_a"))
    b = e.select("src", F.col("dst").alias("dst_b"))
    pairs = (
        a.join(b, "src")
        .filter(F.col("dst_a") < F.col("dst_b"))
        .groupBy("dst_a", "dst_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    sym = pairs.select(
        F.col("dst_a").alias("host"),
        F.col("dst_b").alias("related"),
        "n_shared",
    ).unionByName(
        pairs.select(
            F.col("dst_b").alias("host"),
            F.col("dst_a").alias("related"),
            "n_shared",
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("host").orderBy(
        F.col("n_shared").desc(), F.col("related").asc()
    )
    return (
        sym.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= int(k))
    )


def oracle_cocitation_topk(
    edges_sql: str, k: int = 5, max_out: int = 1000
) -> str:
    """DuckDB replica of cocitation_topk over ``edges_sql`` (a subquery
    yielding src_host, dst_host)."""
    return f"""
        WITH raw AS ({edges_sql}),
        e AS (
          SELECT DISTINCT src_host AS src, dst_host AS dst FROM raw
        ), deg AS (
          SELECT src FROM e GROUP BY src
          HAVING count(*) <= {int(max_out)}
        ), ee AS (
          SELECT e.* FROM e JOIN deg USING (src)
        ), pairs AS (
          SELECT a.dst AS dst_a, b.dst AS dst_b,
                 CAST(count(*) AS BIGINT) AS n_shared
          FROM ee a JOIN ee b
            ON a.src = b.src AND a.dst < b.dst
          GROUP BY 1, 2
        ), sym AS (
          SELECT dst_a AS host, dst_b AS related, n_shared FROM pairs
          UNION ALL
          SELECT dst_b, dst_a, n_shared FROM pairs
        )
        SELECT host, related, n_shared,
               CAST(rank AS BIGINT) AS rank
        FROM (
          SELECT *, row_number() OVER (PARTITION BY host
                  ORDER BY n_shared DESC, related ASC) AS rank
          FROM sym
        )
        WHERE rank <= {int(k)}
    """


def trustrank(
    edges: DataFrame,
    seeds: "list[str]",
    src: str = "src_host",
    dst: str = "dst_host",
    weight: str | None = "n_links",
    damping: float = 0.85,
    iterations: int = 5,
) -> DataFrame:
    """TrustRank (Gyongyi et al. 2004): PageRank with the teleport
    vector concentrated on a curated trusted-seed set — trust flows out
    from the seeds along links, so low-trust/high-PageRank hosts stand
    out as link spam, and crawl frontiers can be expanded seed-first.

    rank_{t+1}(v) = (1-d)*t(v) + d * (in-flow(v) + dangling_mass*t(v))
    with t(v) = 1/|S| on seeds, 0 elsewhere (dangling mass teleports by
    t as well — the standard personalized-PageRank completion, so
    sum(rank) == 1 every step). Initial rank = t.

    Scale shape identical to pagerank() (_power_iteration). Seeds are a
    driver-side literal list (curated seed sets are O(thousands)); for
    bigger seed tables swap the IN-set for a broadcast semi-join flag.
    """
    if not seeds:
        raise ValueError("trustrank requires a non-empty seed set")
    seed_set = sorted(set(seeds))
    ns = len(seed_set)
    frac, nodes, dangling = _transition(edges, src, dst, weight)
    t_v = F.when(
        F.col("node").isin(seed_set), F.lit(1.0 / ns)
    ).otherwise(F.lit(0.0))
    d = float(damping)
    return _power_iteration(
        frac, nodes, dangling,
        init=t_v,
        teleport=F.lit(1.0 - d) * t_v,
        dangling_share=F.col("dm") * t_v,
        damping=d,
        iterations=iterations,
    )


def oracle_trustrank(
    edges_sql: str,
    seeds: "list[str]",
    damping: float = 0.85,
    iterations: int = 5,
) -> str:
    """DuckDB replica of trustrank over ``edges_sql`` (a subquery
    yielding src, dst, w) — the power iteration unrolled as chained
    CTEs, every float op mirroring the Spark side (sum order absorbed
    by the caller's 8dp rounding, the pagerank_hosts precedent)."""
    from navigator_document_parser_spark.operators import sql_quote

    seed_set = sorted(set(seeds))
    ns = len(seed_set)
    seed_list = ", ".join(sql_quote(x) for x in seed_set)
    d = repr(float(damping))
    tv = (
        f"(CASE WHEN nd.node IN ({seed_list})"
        f" THEN 1.0 / {ns} ELSE 0.0 END)"
    )
    it = """
        r{t1} AS (
          SELECT nd.node,
                 (1.0 - {d}) * {tv}
                   + {d} * (COALESCE(c.m, 0.0) + dmx.dm * {tv})
                   AS rank
          FROM nodes nd
          CROSS JOIN (SELECT COALESCE(SUM(r.rank), 0.0) AS dm
                      FROM r{t0} r JOIN dang USING (node)) dmx
          LEFT JOIN (SELECT f.dst AS node, SUM(r.rank * f.frac) AS m
                     FROM frac f JOIN r{t0} r ON r.node = f.src
                     GROUP BY f.dst) c
            ON c.node = nd.node
        )"""
    steps = ", ".join(
        it.format(t0=t, t1=t + 1, d=d, tv=tv)
        for t in range(int(iterations))
    )
    return f"""
        WITH edges AS ({edges_sql}),
        outw AS (
          SELECT src, SUM(CAST(w AS DOUBLE)) AS ow FROM edges GROUP BY src
        ), frac AS (
          SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / o.ow AS frac
          FROM edges e JOIN outw o USING (src)
        ), nodes AS (
          SELECT src AS node FROM edges
          UNION
          SELECT dst FROM edges
        ), dang AS (
          SELECT node FROM nodes
          WHERE node NOT IN (SELECT DISTINCT src FROM edges)
        ), r0 AS (
          SELECT nd.node, {tv} AS rank FROM nodes nd
        ), {steps}
        SELECT node, round(rank, 8) AS rank FROM r{int(iterations)}
    """
