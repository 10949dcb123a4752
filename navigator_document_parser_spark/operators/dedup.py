"""Deduplication operators for web-scale corpora.

All variants are expressed with built-in DataFrame ops (shuffle-aware,
AQE-friendly); hashes are md5-based so the DuckDB oracle can reproduce
them bit-for-bit (portable across engines, unlike xxhash/murmur).

Scale notes (100 TB):
  - exact: one hash-aggregate shuffle on a 32-char key; map-side partial
    aggregation applies. Skewed empty/boilerplate texts hash to hot keys
    -> those groups are exactly the duplicates we want; AQE skew handling
    splits oversized partitions.
  - MinHash+LSH: signatures are narrow (k md5 strings); candidate
    generation joins on band keys only — never all-pairs. The verify
    join re-reads only candidate doc ids (semi-join pushdown).
  - SimHash: 16-bit signature via one explode + one groupBy; near-dup =
    small hamming distance on the signature integer.
  - n-gram Jaccard: pairwise ONLY within cheap buckets (lang, length
    band) — the classic blocking trick; never unconstrained N^2.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from navigator_document_parser_spark.operators import (
    collect_if_small,
    ratio4,
    ratio4_sql,
)


# --------------------------------------------------------------------------
# exact
# --------------------------------------------------------------------------

def exact_dup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text.

    keeper = min id of the group (deterministic canonical representative).
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("keeper_id"),
        )
    )


# --------------------------------------------------------------------------
# shingles + MinHash + LSH
# --------------------------------------------------------------------------

def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of lowercased whitespace tokens.

    Empty/short texts yield an empty array (guarded sequence bounds).

    Built as zip_with over n shifted slices of the token array, NOT a
    transform(sequence) of element_at reads: interpreted higher-order
    lambdas re-evaluate their child expression per element access, so
    each element_at(tokens, ...) re-ran the whole regex split — ~3
    splits per SHINGLE (measured 6.2s for a 200k-doc projection; the
    slice/zip_with form evaluates the split a constant ~7x per ROW and
    the same projection runs in ~1s). Output is identical: slice j
    holds tokens[j..j+cnt-1], so zipping concatenates exactly
    tokens[i], tokens[i+1], ..., tokens[i+n-1] per position in the
    original order, and tokens are never null/empty (trim + \\s+ split)
    so concat == concat_ws.
    """
    tokens = F.split(F.trim(F.lower(col)), r"\s+")
    k = F.size(tokens)
    cnt = k - F.lit(n) + F.lit(1)
    zipped = F.slice(tokens, 1, cnt)
    for j in range(1, n):
        part = F.slice(tokens, j + 1, cnt)
        zipped = F.zip_with(
            zipped, part, lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.when(k < n, F.array().cast("array<string>")).otherwise(
        F.array_distinct(zipped)
    )


def minhash_signature(col: Column, num_hashes: int = 8) -> Column:
    """MinHash signature as an array of md5-string minima.

    sig[h] = min over shingles s of md5(h || ':' || s). Lexicographic min
    over md5 hex strings is a valid uniform min-hash family and is
    byte-portable to any SQL engine with md5().
    """
    shingles = word_shingles(col)

    def hasher(h: int):
        # NB: F.transform dispatches on lambda arity — a 2-arg lambda
        # receives (element, index), so the seed must be closed over via
        # a factory, never a default argument.
        return lambda s: F.md5(F.concat(F.lit(f"{h}:"), s))

    return F.array(
        *[
            F.array_min(F.transform(shingles, hasher(h)))
            for h in range(num_hashes)
        ]
    )


def jaccard(col_a: Column, col_b: Column) -> Column:
    """|A ∩ B| / |A ∪ B| over distinct-element arrays (4dp).

    Computed as i / (|A| + |B| - i): one array_intersect pass instead of
    intersect+union (higher-order array ops are interpreted, not
    codegen'd — halving the passes matters at pair-explosion scale).
    Identical value to the union formulation for distinct-element arrays.
    """
    inter = F.size(F.array_intersect(col_a, col_b))
    union = F.size(col_a) + F.size(col_b) - inter
    return F.when(union == 0, F.lit(0.0)).otherwise(
        ratio4(inter, union)
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.7,
) -> DataFrame:
    """Full MinHash+LSH near-dup: candidates -> exact-Jaccard verify.

    Output (id_a, id_b, jaccard_sim) for verified pairs above threshold.

    Plan notes (measured on 500 docs, interpreted higher-order funcs):
      - signatures derive from the shingle COLUMN, and band keys from
        per-hash minima used exactly once — element_at() over a computed
        sig array would re-inline the whole signature expression per
        band element after CollapseProject (~10x work)
      - the shingle table feeds THREE join branches (sig + verify a/b)
        and the exploded band table feeds TWO (self-join sides); without
        a checkpoint Spark recomputes each branch from the scan, so both
        are eagerly checkpointed — shingles are ~2-3x text bytes, and
        the blocks spill to disk safely at corpus scale.
    """

    # barrier + reuse: three join branches read the materialized
    # shingles; lineage truncation also stops InferFiltersFromGenerate
    # pushdown from re-evaluating the shingle expression at the scan.
    # EAGER: with a lazy checkpoint the branches race and can compute
    # the table up to 3x concurrently before the cache fills
    # (measured 2.6s vs 13s variance).
    sh = df.select(
        F.col(id_col).alias("id"), word_shingles(F.col(text_col)).alias("sh")
    ).localCheckpoint(eager=True)

    # Drop shingle-less docs (empty/short texts): they cannot be MinHash
    # near-dups, and leaving them in gives every one the SAME md5('')
    # band key — a quadratic hot bucket in the self-join at corpus scale.
    # Also matches the SQL oracle, where NULL band keys never join.
    # CRITICAL ORDERING: the filter sits AFTER the checkpoint — placed
    # before it, Catalyst inlines size(word_shingles(text)) > 0 into a
    # scan-side filter below the repartition (the shingle expression runs
    # twice, once single-threaded; measured 12s vs 3s on 5k docs).
    sh = sh.filter(F.size("sh") > 0)

    # Band keys built directly from per-hash minima: each min-expression
    # appears exactly once (composing element_at() over a computed sig
    # array instead re-inlines the whole signature per band element
    # after CollapseProject — measured 10x on 500 docs). The shared
    # construction lives in band_keys_from_shingles so snapshot/stream
    # dedup and the SQL oracles stay bit-identical with this operator.
    sigs = sh.select(
        "id",
        band_keys_from_shingles(
            F.col("sh"), num_hashes, bands
        ).alias("band_keys"),
    )
    exploded = sigs.select(
        "id", F.posexplode("band_keys").alias("band", "key")
    ).localCheckpoint(eager=True)
    a = exploded.alias("a")
    b = exploded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.key") == F.col("b.key"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cands.join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )


# --------------------------------------------------------------------------
# connected components + canonical dedup (pairs -> clusters -> keep one)
# --------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Min-label propagation over the duplicate-pair graph.

    Output (node, comp): comp = smallest id reachable from node. The
    standard large-graph approach (hash-min + pointer jumping): each
    round joins the current labels across edges and takes the min, then
    compresses label chains (comp := comp(comp)) — O(log diameter)
    rounds; duplicate clusters are near-cliques from LSH banding, so 1-2
    rounds in practice. Rounds run until the fixpoint.

    Driver-action batching: two rounds are chained into ONE job before
    the convergence collect (a job per round makes job-launch overhead
    the dominant cost on all but huge graphs); a no-change result in
    the LAST chained round is a fixpoint (hash-min is monotone), so
    correctness is unaffected.
    The edge table is eagerly checkpointed once (it is re-read by every
    round — lazy barriers race under concurrent branch materialization,
    CLAUDE.md lesson 7); label lineage is truncated at each collect.

    COST BOUND: an unmaterialized round's labels feed ~3 places in the
    next round's plan (neighbor join + stepped + the pointer-jump
    self-join) and Spark does not dedupe common subplans — chained
    rounds re-execute earlier ones ~3^(k-1) times, so the chain stays
    at 2 rounds (the measured sweet spot: job-launch savings beat the
    single recompute level).
    """
    edges = pairs.select(
        F.col(id_a).cast("long").alias("src"),
        F.col(id_b).cast("long").alias("dst"),
    )
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)

    # bounded fast path: (node, min-reachable-id) is ALGORITHM-
    # INDEPENDENT, so when the (already-materialized) edge table is
    # small, collect it and run union-find — one collect + one
    # createDataFrame instead of O(log diameter) join-round jobs, whose
    # launch overhead dominates on all but huge graphs. Larger graphs
    # and NULL endpoints take the distributed rounds below.
    pdf = collect_if_small(sym, non_null=("src", "dst"))
    if pdf is not None:
        parent: dict = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for s, d in zip(pdf["src"], pdf["dst"]):
            s, d = int(s), int(d)
            if s not in parent:
                parent[s] = s
            if d not in parent:
                parent[d] = d
            rs, rd = find(s), find(d)
            if rs != rd:  # union by min label: root = smaller id
                if rs < rd:
                    parent[rd] = rs
                else:
                    parent[rs] = rd
        out = [(n, find(n)) for n in parent]
        return pairs.sparkSession.createDataFrame(out, "node long, comp long")

    def hash_min_round(labels: DataFrame) -> DataFrame:
        # hash-min step: candidate label for dst = min neighbor comp
        neighbor = (
            sym.join(labels, sym.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("comp").alias("ncomp"))
        )
        stepped = labels.join(neighbor, "node", "left").select(
            "node",
            F.least(
                F.col("comp"), F.coalesce(F.col("ncomp"), F.col("comp"))
            ).alias("comp"),
            (F.coalesce(F.col("ncomp"), F.col("comp")) < F.col("comp"))
            .cast("int")
            .alias("changed"),
        )
        # pointer-jumping step: comp := comp(comp) — halves label-chain
        # depth each round, so long paths converge in O(log diameter)
        # instead of O(diameter)
        l2 = stepped.select(
            F.col("node").alias("jnode"), F.col("comp").alias("jcomp")
        )
        return stepped.join(l2, stepped.comp == l2.jnode, "left").select(
            "node",
            F.coalesce(F.col("jcomp"), F.col("comp")).alias("comp"),
            F.greatest(
                F.col("changed"),
                (F.coalesce(F.col("jcomp"), F.col("comp")) < F.col("comp"))
                .cast("int"),
            ).alias("changed"),
        )

    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )
    while True:
        chained = hash_min_round(
            hash_min_round(labels).select("node", "comp")
        ).localCheckpoint(eager=False)
        labels = chained.select("node", "comp")
        # one action materializes both chained rounds; 'changed' counts
        # only the LAST round — 0 there means fixpoint
        if not chained.agg(F.sum("changed")).collect()[0][0]:
            return labels


def dedup_corpus(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Keep one canonical row per duplicate cluster.

    A row survives unless it belongs to a component and is not its
    minimum-id representative. Left-anti join against the loser set —
    docs never in any pair pass through untouched.
    """
    comps = connected_components(pairs, id_a, id_b)
    losers = comps.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(F.broadcast(losers), id_col, "left_anti")


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

SIMHASH_BITS = 16


def _token_hash_bit(b: int) -> Column:
    """Bit b (LSB-first) of the token's 64-bit md5-prefix hash.

    The 64-bit value is the first 16 hex chars of md5(tok), assembled as
    two 32-bit halves because conv() of 16 hex chars overflows a signed
    long: HI = chars 1-8, LO = chars 9-16, value = HI*2^32 + LO.
    """
    if b < 32:
        h = F.conv(F.substring(F.md5(F.col("tok")), 9, 8), 16, 10).cast("long")
        return F.shiftright(h, b).bitwiseAND(F.lit(1))
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
    return F.shiftright(h, b - 32).bitwiseAND(F.lit(1))


def _bit_value(b: int) -> Column:
    """Literal 2^b as a signed long (bit 63 = long min, two's complement)."""
    if b == 63:
        return F.lit(-(1 << 63))
    return F.lit(1 << b)


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """``bits``-wide SimHash per document (16 or 64).

    Bit b of the signature is set when sum over distinct tokens of
    (+1 if token-hash bit b else -1) >= 0. One explode + one groupBy;
    portable to SQL. Docs with no tokens produce no rows and are
    re-attached with sig 0.

    Width guidance: 16-bit (the oracle-checked default) saturates around
    10^5 docs — 2^16 buckets birthday-collide — so REAL corpora should
    use bits=64 (the Manku et al. production width); the near-pair
    blocking in simhash_near_pairs widens with it. The 16-bit hash is
    the first 4 hex chars of md5 (unchanged, oracle-stable); 64-bit uses
    the first 16 hex chars via two 32-bit halves.
    """
    if bits not in (16, 64):
        raise ValueError("simhash supports bits=16 or bits=64")
    tokens = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
        ).alias("tok"),
    ).filter(F.length("tok") > 0)

    if bits == 16:
        h16 = F.conv(F.substring(F.md5(F.col("tok")), 1, 4), 16, 10).cast(
            "long"
        )
        bit = [
            F.shiftright(h16, b).bitwiseAND(F.lit(1)) for b in range(16)
        ]
    else:
        bit = [_token_hash_bit(b) for b in range(64)]

    with_bits = tokens.select(
        "id",
        *[
            F.when(bit[b] == 1, 1).otherwise(-1).alias(f"b{b}")
            for b in range(bits)
        ],
    )
    agg = with_bits.groupBy("id").agg(
        *[F.sum(f"b{b}").alias(f"s{b}") for b in range(bits)]
    )
    sig = sum(
        (
            F.when(F.col(f"s{b}") >= 0, _bit_value(b)).otherwise(F.lit(0))
            for b in range(bits)
        ),
        start=F.lit(0),
    )
    signed = agg.select("id", sig.cast("bigint").alias("simhash"))
    # re-attach token-less docs with signature 0
    all_ids = df.select(F.col(id_col).alias("id")).distinct()
    return (
        all_ids.join(signed, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("simhash"), F.lit(0)).alias("simhash"),
        )
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 2,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance — EXACT recall.

    Pigeonhole blocking: the ``bits``-wide signature is split into
    (max_hamming + 1) blocks; two signatures within max_hamming bits
    must agree exactly on at least one block, so the union of per-block
    equi-joins finds every qualifying pair while each join stays an
    equi-join on a short bit-slice (the standard Manku/Jain/Sarma
    multi-table split). Slices use unsigned shifts so the 64-bit width
    (top bit = sign bit of the long) blocks correctly.
    """
    n_blocks = max_hamming + 1
    width = bits // n_blocks
    s = simhash(df, id_col, text_col, bits=bits)

    def slices(prefix: str):
        cols = [
            F.col(id_col).alias(f"id_{prefix}"),
            F.col("simhash").alias(f"h{prefix}"),
        ]
        for blk in range(n_blocks):
            lo = blk * width
            w = (bits if blk == n_blocks - 1 else lo + width) - lo
            sliced = F.shiftrightunsigned(F.col("simhash"), lo)
            if lo + w < 64:  # w==64-lo needs no mask: shift cleared the rest
                sliced = sliced.bitwiseAND(F.lit((1 << w) - 1))
            cols.append(sliced.alias(f"blk{blk}_{prefix}"))
        return s.select(*cols)

    a, b = slices("a"), slices("b")
    cand = None
    for blk in range(n_blocks):
        j = a.join(
            b,
            (F.col(f"blk{blk}_a") == F.col(f"blk{blk}_b"))
            & (F.col("id_a") < F.col("id_b")),
        ).select("id_a", "id_b", "ha", "hb")
        cand = j if cand is None else cand.unionByName(j)

    return (
        cand.dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# --------------------------------------------------------------------------
# n-gram Jaccard with blocking
# --------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    length_band: int = 64,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard over word 3-gram sets within (lang, length//band)
    blocks — inverted-index formulation.

    Instead of materializing shingle ARRAYS onto every candidate pair
    (array_intersect is interpreted per pair; pair rows carry both
    arrays through the shuffle — measured 35s+ on 5k docs), explode the
    distinct shingles once and equi-join on (shingle, block):
    |A ∩ B| = the pair's match count, so
    J = cnt / (|A| + |B| - cnt). Everything is codegen'd hash join +
    hash aggregate; shuffle rows are (id, block, shingle) — no arrays.
    Cost scales with sum over shingles of df(s)^2 within a block (tiny
    for natural text) instead of all block pairs.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(lang_col).alias("lg"),
        F.floor(F.length(F.col(text_col)) / length_band).alias("lb"),
        word_shingles(F.col(text_col)).alias("sh"),
    ).withColumn("n_sh", F.size("sh"))
    # lineage barrier: InferFiltersFromGenerate adds size(sh)>0 below the
    # explode, and predicate pushdown carries that through Repartition to
    # the scan — re-evaluating the whole (interpreted) shingle expression
    # per row on the unparallelized pre-shuffle side, per join branch
    # (measured 10x). localCheckpoint truncates lineage so shingles are
    # computed exactly once, post-shuffle, in parallel. EAGER: this table
    # feeds BOTH sides of the self-join, and lazy barriers race under
    # concurrent branch materialization (CLAUDE.md lesson 7).
    base = base.localCheckpoint(eager=True)

    inv = base.select(
        "id", "lg", "lb", "n_sh", F.explode("sh").alias("s")
    )
    a = inv.select(
        F.col("id").alias("id_a"), "lg", "lb", "s", F.col("n_sh").alias("na")
    )
    b = inv.select(
        F.col("id").alias("id_b"), "lg", "lb", "s", F.col("n_sh").alias("nb")
    )
    inter = (
        a.join(b, ["lg", "lb", "s"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("i"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
    )
    sim = ratio4(
        F.col("i"), F.col("na") + F.col("nb") - F.col("i")
    )
    return (
        inter.select("id_a", "id_b", sim.alias("jaccard_sim"))
        .filter(F.col("jaccard_sim") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    threshold: float = 0.5,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT (Broder's other resemblance
    measure): cont_a = |A ∩ B| / |A| — the fraction of A's 3-gram
    shingles that also occur in B. Jaccard misses the
    snippet-inside-page case (a 50-word article quoted verbatim in a
    3,000-word page has tiny Jaccard but containment ~1.0), which is
    exactly the template/quotation duplication web corpora are full of
    — so this deliberately does NOT length-band: the interesting pairs
    have very different lengths. Blocking is (lang, shared shingle)
    via the same inverted-index formulation as ngram_jaccard_pairs
    (cost = sum over shingles of df(s)^2 within a language, never
    unconstrained N^2; a stopword-only shingle shared by everything is
    bounded by shingle distinctness within the 3-gram space).

    Keeps pairs where EITHER direction clears ``threshold``. All
    counts integer; ratios rounded to 4dp — engine-exact.

    Returns (id_a, id_b, inter, cont_a, cont_b).
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(lang_col).alias("lg"),
        word_shingles(F.col(text_col)).alias("sh"),
    ).withColumn("n_sh", F.size("sh"))
    # same eager lineage barrier as ngram_jaccard_pairs: the shingle
    # expression must be computed once, post-shuffle, not re-inlined at
    # the scan below both self-join branches (CLAUDE.md lessons 3/7).
    base = base.localCheckpoint(eager=True)

    inv = base.filter(F.col("n_sh") > 0).select(
        "id", "lg", "n_sh", F.explode("sh").alias("s")
    )
    a = inv.select(
        F.col("id").alias("id_a"), "lg", "s", F.col("n_sh").alias("na")
    )
    b = inv.select(
        F.col("id").alias("id_b"), "lg", "s", F.col("n_sh").alias("nb")
    )
    inter = (
        a.join(b, ["lg", "s"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("i"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
    )
    cont_a = ratio4(F.col("i"), F.col("na"))
    cont_b = ratio4(F.col("i"), F.col("nb"))
    return (
        inter.select(
            "id_a", "id_b",
            F.col("i").cast("bigint").alias("inter"),
            cont_a.alias("cont_a"),
            cont_b.alias("cont_b"),
        )
        .filter(
            F.greatest("cont_a", "cont_b") >= F.lit(float(threshold))
        )
    )


# --------------------------------------------------------------------------
# exact substring (duplicated span) detection
# --------------------------------------------------------------------------

def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 8,
) -> DataFrame:
    """Cross-document duplicated-span detection — the distributed analog
    of suffix-array "exact substring" dedup (Lee et al. 2022): find, per
    document, every maximal token span of length >= ``min_tokens`` that
    also appears verbatim in at least one OTHER document.

    Shape: hash every ``min_tokens``-gram (stride 1) with its position,
    mark grams whose hash occurs in >= 2 distinct docs, then merge
    per-doc runs of adjacent duplicated positions (gaps-and-islands) into
    maximal spans. A span of L >= min_tokens shared tokens produces
    L - min_tokens + 1 adjacent duplicated grams, so islands reconstruct
    the full span exactly — same output a suffix array would give for
    matches >= min_tokens, without any global sort.

    100 TB notes: the only wide exchanges are (1) gram-hash aggregation
    (map-side partial min/max combine, so a boilerplate gram in millions
    of docs still ships ONE row per map task) + an equi-join back on the
    hash (AQE skew-split applies, unlike a window over the hash), and
    (2) one hash(id) exchange that both the island window and the span
    aggregation reuse (HashPartitioning(id) satisfies the (id, grp)
    clustering). Token arrays are localCheckpoint'ed before the gram
    transform so CollapseProject cannot re-inline split() per
    element_at (CLAUDE.md lessons 2/3); grams stay md5 so the DuckDB
    oracle reproduces them bit-for-bit.

    Returns (doc_id, span_start, span_end, span_tokens), positions
    0-based token offsets, span_end inclusive.
    """
    n = int(min_tokens)
    tokens = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = df.select(F.col(id_col).alias("id"), tokens.alias("t"))
    # Lineage barrier: `t` must be a materialized column, not the split()
    # expression, when the gram transform reads it n times per element.
    base = base.localCheckpoint(eager=True)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("t") - n),
        lambda i: F.md5(
            F.concat_ws(
                " ",
                *[
                    F.element_at("t", (i + j + 1).cast("int"))
                    for j in range(n)
                ],
            )
        ),
    )
    sh = base.filter(F.size("t") >= n).select(
        "id", F.posexplode(grams).alias("pos", "h")
    )
    dup = (
        sh.groupBy("h")
        .agg(F.min("id").alias("lo"), F.max("id").alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .select("h")
    )
    hits = sh.join(dup, "h", "leftsemi")
    w = Window.partitionBy("id").orderBy("pos")
    isl = hits.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return (
        isl.groupBy("id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            F.max("pos").alias("span_end_gram"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("span_start").cast("bigint").alias("span_start"),
            (F.col("span_end_gram") + n - 1).cast("bigint").alias("span_end"),
            (F.col("span_end_gram") - F.col("span_start") + n)
            .cast("bigint")
            .alias("span_tokens"),
        )
    )


# --------------------------------------------------------------------------
# paragraph-level dedup (CCNet-style)
# --------------------------------------------------------------------------

def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 12,
) -> DataFrame:
    """CCNet-style paragraph-level dedup: drop every repeated paragraph
    occurrence corpus-wide, keeping only its FIRST occurrence (ordered by
    (doc_id, paragraph index)), and rebuild each document from its kept
    paragraphs.

    CCNet (Wenzek et al. 2020) hashes paragraphs and discards duplicate
    hashes so boilerplate (cookie banners, nav text) repeated across a
    crawl disappears while one canonical copy survives. The corpus here
    has no newline structure, so "paragraphs" are deterministic
    ``chunk_tokens``-token chunks — the operator is the same for any
    paragraph splitter.

    100 TB shape: the first-occurrence rule is a groupBy(md5(para)) with
    min(struct(doc_id, idx)) — an aggregate with MAP-SIDE partial
    combine, deliberately NOT a window over the hash (a boilerplate
    paragraph present in millions of docs would make one window
    partition hot; the aggregate ships one row per map task). Join back
    on the hash (AQE skew-split applies), then one groupBy(doc_id) to
    rebuild. Token arrays are localCheckpoint'ed before the chunk
    transform so CollapseProject cannot re-inline split() per slice
    (CLAUDE.md lessons 3/9).

    Returns (doc_id, n_paras, n_dropped, kept_text).
    """
    c = int(chunk_tokens)
    tokens = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = df.select(F.col(id_col).alias("doc_id"), tokens.alias("t"))
    base = base.localCheckpoint(eager=True)
    chunks = F.transform(
        F.sequence(
            F.lit(0), F.floor((F.size("t") - 1) / c).cast("int")
        ),
        lambda i: F.array_join(F.slice("t", i * c + 1, c), " "),
    )
    paras = base.filter(F.size("t") > 0).select(
        "doc_id", F.posexplode(chunks).alias("idx", "para")
    ).withColumn("h", F.md5("para"))
    firsts = paras.groupBy("h").agg(
        F.min(F.struct("doc_id", "idx")).alias("first")
    )
    marked = paras.join(firsts, "h").withColumn(
        "kept",
        (F.col("doc_id") == F.col("first.doc_id"))
        & (F.col("idx") == F.col("first.idx")),
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_paras"),
        F.sum(F.when(F.col("kept"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("kept"), F.struct("idx", "para"))
                    )
                ),
                lambda x: x["para"],
            ),
            " ",
        ).alias("kept_text"),
    )


def oracle_paragraph_dedup(
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
    chunk_tokens: int = 12,
) -> str:
    """DuckDB SQL computing exactly paragraph_dedup()."""
    c = int(chunk_tokens)
    return f"""
        WITH toks AS (
          SELECT {id_col} AS doc_id,
                 string_split_regex(trim(lower({text_col})), '\\s+') AS t
          FROM {table}
        ), pos AS (
          SELECT doc_id, t,
                 unnest(generate_series(0, (length(t) - 1) // {c})) AS i
          FROM toks WHERE length(t) > 0
        ), ch AS (
          SELECT doc_id, i AS idx,
                 array_to_string(t[i*{c}+1:i*{c}+{c}], ' ') AS para
          FROM pos
        ), f AS (
          SELECT doc_id, idx, para,
                 row_number() OVER (PARTITION BY para
                                    ORDER BY doc_id, idx) AS rn
          FROM ch
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_paras,
               CAST(coalesce(count(*) FILTER (rn > 1), 0) AS BIGINT)
                 AS n_dropped,
               coalesce(string_agg(para, ' ' ORDER BY idx)
                        FILTER (rn = 1), '') AS kept_text
        FROM f GROUP BY doc_id
    """


# --------------------------------------------------------------------------
# incremental snapshot dedup (new crawl vs committed corpus)
# --------------------------------------------------------------------------

def band_keys_from_shingles(
    sh: Column, num_hashes: int = 4, bands: int = 2
) -> Column:
    """MinHash LSH band keys (array of ``bands`` md5 strings) from a
    shingle-array column — the exact construction minhash_dedup_pairs
    uses, factored out so batch snapshot dedup and the streaming
    stream-static variant share one definition (and one SQL oracle).

    On an EMPTY shingle array every band key degrades to md5('') —
    callers must filter size(sh) > 0 first (see minhash_dedup_pairs'
    hot-bucket note)."""
    if num_hashes <= 0 or bands <= 0 or num_hashes % bands:
        # silent truncation here would degrade LSH recall invisibly in
        # every caller (batch, snapshot, and streaming paths share this)
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a positive multiple of "
            f"bands ({bands})"
        )
    rows_per_band = num_hashes // bands

    def min_hash(h: int) -> Column:
        def hasher(prefix: str):
            return lambda s: F.md5(F.concat(F.lit(prefix), s))

        return F.array_min(F.transform(sh, hasher(f"{h}:")))

    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        min_hash(b * rows_per_band + r)
                        for r in range(rows_per_band)
                    ],
                )
            )
            for b in range(bands)
        ]
    )


def snapshot_dedup(
    new_df: DataFrame,
    old_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 4,
    bands: int = 2,
) -> DataFrame:
    """Dedup a NEW crawl snapshot against a committed OLD snapshot — the
    monthly-Common-Crawl workflow: never re-pay storage/training cost for
    a page that was already captured.

    Two stages, both new-vs-old only (no old-vs-old work):
      - exact_dup: md5(text) of the new doc exists in the old snapshot
      - near_dup: the new doc shares a MinHash LSH band key with ANY old
        doc (the recall stage of MinHash dedup; band construction
        identical to minhash_dedup_pairs so the SQL oracle reproduces it
        bit-for-bit)
    keep = NOT exact_dup AND NOT near_dup.

    100 TB shape: the old snapshot is hashed/banded once (in production
    this is a materialized index, here a plan branch); both stages are
    plain equi-joins shuffled on (hash) / (band, key) — no broadcast
    assumption, because the committed side is the BIG side. Short docs
    with no shingles get near_dup=false (and, as in minhash_dedup_pairs,
    never produce the shared md5('') hot bucket).

    Returns new snapshot rows as (doc_id, exact_dup, near_dup, keep).
    """
    def prep(df: DataFrame) -> DataFrame:
        # ONE corpus scan per side: content hash + shingles together.
        # The eager checkpoint is the single-batch analog of the banded
        # index a production store keeps for the committed snapshot —
        # and it stops the exact and near branches from re-running the
        # scan + shingle expression (CLAUDE.md lessons 3/7).
        base = df.select(
            F.col(id_col).alias("id"),
            F.md5(F.col(text_col)).alias("h"),
            word_shingles(F.col(text_col)).alias("sh"),
        )
        return base.localCheckpoint(eager=True)

    def banded(prepped: DataFrame) -> DataFrame:
        sh = prepped.filter(F.size("sh") > 0)
        sigs = sh.select(
            "id",
            band_keys_from_shingles(
                F.col("sh"), num_hashes, bands
            ).alias("band_keys"),
        )
        return sigs.select(
            "id", F.posexplode("band_keys").alias("band", "key")
        )

    # the two prep barriers are independent jobs — materialize them
    # concurrently (guide §2.6; the index_merge r7 pattern) instead of
    # serially
    from navigator_document_parser_spark.operators import (
        materialize_concurrently,
    )

    new_p, old_p = materialize_concurrently(
        new_df.sparkSession, lambda: prep(new_df), lambda: prep(old_df)
    )
    new_h = new_p.select("id", "h")
    old_h = old_p.select("h").dropDuplicates(["h"])
    exact = (
        new_h.join(old_h.withColumn("_e", F.lit(True)), "h", "left")
        .select("id", F.coalesce("_e", F.lit(False)).alias("exact_dup"))
    )
    near_ids = (
        banded(new_p)
        .join(banded(old_p).select("band", "key"), ["band", "key"], "leftsemi")
        .select("id")
        .dropDuplicates(["id"])
        .withColumn("_n", F.lit(True))
    )
    return (
        exact.join(near_ids, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "exact_dup",
            F.coalesce("_n", F.lit(False)).alias("near_dup"),
            (
                ~F.col("exact_dup")
                & ~F.coalesce("_n", F.lit(False))
            ).alias("keep"),
        )
    )


def oracle_snapshot_dedup(
    new_text_sql: str,
    id_col: str = "doc_id",
    table: str = "documents",
) -> str:
    """DuckDB SQL computing exactly snapshot_dedup(num_hashes=4, bands=2)
    where the new snapshot is ``SELECT doc_id, <new_text_sql> AS text``
    over ``table`` and the old snapshot is ``table`` itself."""
    shingle = (
        "CASE WHEN length(t) < 3 THEN [] ELSE list_distinct("
        "list_transform(generate_series(1, length(t) - 2), "
        "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END"
    )

    def sig_block(src: str) -> str:
        return f"""
          SELECT doc_id, s,
                 md5(list_aggregate(list_transform(s, x -> md5('0:' || x)), 'min')
                     || ',' ||
                     list_aggregate(list_transform(s, x -> md5('1:' || x)), 'min'))
                   AS band0,
                 md5(list_aggregate(list_transform(s, x -> md5('2:' || x)), 'min')
                     || ',' ||
                     list_aggregate(list_transform(s, x -> md5('3:' || x)), 'min'))
                   AS band1
          FROM (
            SELECT doc_id, {shingle} AS s FROM (
              SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\\s+') AS t
              FROM {src}
            )
          ) WHERE length(s) > 0
        """

    return f"""
        WITH newdoc AS (
          SELECT {id_col} AS doc_id, {new_text_sql} AS text FROM {table}
        ), olddoc AS (
          SELECT {id_col} AS doc_id, text FROM {table}
        ), oldh AS (
          SELECT DISTINCT md5(text) AS h FROM olddoc
        ), nsig AS ({sig_block('newdoc')}
        ), osig AS ({sig_block('olddoc')}
        ), nbands AS (
          SELECT doc_id, 0 AS band, band0 AS key FROM nsig
          UNION ALL
          SELECT doc_id, 1 AS band, band1 AS key FROM nsig
        ), obands AS (
          SELECT 0 AS band, band0 AS key FROM osig
          UNION ALL
          SELECT 1 AS band, band1 AS key FROM osig
        ), near AS (
          SELECT DISTINCT n.doc_id FROM nbands n
          JOIN obands o ON n.band = o.band AND n.key = o.key
        )
        SELECT nd.doc_id,
               EXISTS (SELECT 1 FROM oldh o
                       WHERE o.h = md5(nd.text)) AS exact_dup,
               (nr.doc_id IS NOT NULL) AS near_dup,
               (NOT EXISTS (SELECT 1 FROM oldh o
                            WHERE o.h = md5(nd.text))
                AND nr.doc_id IS NULL) AS keep
        FROM newdoc nd LEFT JOIN near nr USING (doc_id)
    """


# --------------------------------------------------------------------------
# Bloom-filter prefiltered snapshot dedup
# --------------------------------------------------------------------------

def _bloom_pos_sql(j: int, h_expr: str, m_bits: int) -> str:
    """Bit position j for content hash ``h_expr``: the shared portable
    md5-u32 primitive (operators.md5_u32_sql) of 'j:' || h, mod
    ``m_bits``."""
    from navigator_document_parser_spark.operators import md5_u32_sql

    inner = f"'{j}:' || {h_expr}"
    return f"{md5_u32_sql(inner, 'spark')} % {m_bits}"


def bloom_words(
    df: DataFrame,
    text_col: str = "text",
    m_bits: int = 1 << 16,
    num_hashes: int = 4,
    hash_col: str | None = None,
    assume_distinct: bool = False,
) -> DataFrame:
    """Distributed Bloom-filter bitmap over distinct content hashes.

    Returns (word_idx bigint, word bigint): the filter's bit array packed
    into 32-bit words (stored in BIGINT so shifts never touch the sign
    bit — portable two's-complement-free math across engines). Built with
    ONE hash-aggregate shuffle: explode the k=num_hashes bit positions
    per distinct hash, bit_or the masks per word. Map-side partial
    aggregation collapses most rows before the exchange, and the result
    is m_bits/32 rows regardless of corpus size — broadcastable even when
    the corpus it summarizes is 100 TB.

    Pass ``hash_col`` when the input already carries md5 content hashes
    (e.g. a materialized committed-snapshot index) to skip re-hashing;
    add ``assume_distinct=True`` when the caller guarantees uniqueness
    to skip the dedup exchange as well (bit_or is idempotent, so
    duplicates only cost work, never correctness).
    """
    if m_bits <= 0 or num_hashes <= 0:
        raise ValueError("m_bits and num_hashes must be positive")
    if hash_col is not None:
        h = df.select(F.col(hash_col).alias("h"))
    else:
        h = df.select(F.md5(F.col(text_col)).alias("h"))
    if not assume_distinct:
        h = h.dropDuplicates(["h"])
    pos = h.select(
        F.explode(
            F.array(
                *[
                    F.expr(_bloom_pos_sql(j, "h", m_bits))
                    for j in range(num_hashes)
                ]
            )
        ).alias("pos")
    )
    return (
        pos.select(
            F.expr("pos div 32").alias("word_idx"),
            F.expr("shiftleft(1L, cast(pos % 32 as int))").alias("m"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(m)").alias("word"))
    )


def bloom_snapshot_filter(
    new_df: DataFrame,
    old_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = 1 << 16,
    num_hashes: int = 4,
) -> DataFrame:
    """Exact snapshot dedup with a Bloom prefilter — the shuffle-light
    scale path for new-crawl-vs-committed dedup (complements
    snapshot_dedup, which pays an equi-join on every new row).

    A Bloom filter has NO false negatives, so restricting the exact
    content-hash verify join to bloom-hit rows yields *bit-identical*
    exact_dup semantics to the full join while the join input shrinks to
    (true dups + false positives) — at a monthly-crawl dup rate of ~25%
    and fp rate under 1%, the verify join touches ~4x fewer rows, and
    the committed side is represented by an m_bits/32-row broadcast
    instead of a shuffled join side.

    100 TB shape: the bitmap is built once per committed snapshot (in
    production a materialized table, here a plan branch), broadcast to
    the probe; the probe itself is ONE broadcast join over exploded
    (id, pos) rows plus a bool_and groupBy whose map-side combine
    reduces the exchange to one narrow row per new doc. The verify join
    then shuffles only the bloom-hit slice.

    Returns (doc_id, bloom_hit, exact_dup, false_positive, keep):
      bloom_hit       filter says "maybe committed"
      exact_dup       verified: content hash exists in the committed set
      false_positive  bloom_hit but not actually committed
      keep            NOT exact_dup (safe: no false negatives)
    """
    # the committed hashes feed two branches (bitmap build + verify
    # join); the eager checkpoint stops the second branch re-running the
    # committed scan + md5 (CLAUDE.md lessons 3/7)
    old_h = (
        old_df.select(F.md5(F.col(text_col)).alias("h"))
        .dropDuplicates(["h"])
        .localCheckpoint(eager=True)
    )
    words = bloom_words(old_h, m_bits=m_bits, num_hashes=num_hashes,
                        hash_col="h", assume_distinct=True)
    new_h = new_df.select(F.col(id_col).alias("id"),
                          F.md5(F.col(text_col)).alias("h"))
    probe = (
        new_h.select(
            "id",
            "h",
            F.explode(
                F.array(
                    *[
                        F.expr(_bloom_pos_sql(j, "h", m_bits))
                        for j in range(num_hashes)
                    ]
                )
            ).alias("pos"),
        )
        .select(
            "id",
            "h",
            F.expr("pos div 32").alias("word_idx"),
            F.expr("shiftleft(1L, cast(pos % 32 as int))").alias("m"),
        )
        .join(F.broadcast(words), "word_idx", "left")
        .select(
            "id",
            "h",
            (
                (F.coalesce(F.col("word"), F.lit(0)).bitwiseAND(F.col("m")))
                == F.col("m")
            ).alias("hit"),
        )
        .groupBy("id", "h")
        .agg(F.expr("bool_and(hit)").alias("bloom_hit"))
        # barrier: probe feeds BOTH the verify branch and the final
        # join; without it the whole corpus-sized probe pipeline (scan,
        # k-way explode, broadcast join, bool_and aggregate) executes
        # twice — confirmed as two disjoint HashAggregate chains in the
        # physical plan (CLAUDE.md lessons 3/7)
        .localCheckpoint(eager=True)
    )
    verified = (
        probe.filter(F.col("bloom_hit"))
        .join(old_h.withColumn("_e", F.lit(True)), "h", "left")
        .select(
            "id", "h", F.coalesce("_e", F.lit(False)).alias("exact_dup")
        )
    )
    # join back on (id, h), not id alone: a doc_id re-crawled twice in
    # one batch with different contents must pair each content's
    # bloom_hit with ITS OWN verify verdict, never the sibling's
    return (
        probe.join(verified, ["id", "h"], "left")
        .select(
            F.col("id").alias(id_col),
            "bloom_hit",
            F.coalesce("exact_dup", F.lit(False)).alias("exact_dup"),
            (
                F.col("bloom_hit")
                & ~F.coalesce("exact_dup", F.lit(False))
            ).alias("false_positive"),
            (~F.coalesce("exact_dup", F.lit(False))).alias("keep"),
        )
    )


def oracle_bloom_snapshot_filter(
    new_text_sql: str,
    id_col: str = "doc_id",
    table: str = "documents",
    m_bits: int = 1 << 16,
    num_hashes: int = 4,
) -> str:
    """DuckDB SQL computing exactly bloom_snapshot_filter() where the new
    snapshot is ``SELECT doc_id, <new_text_sql> AS text`` over ``table``
    and the committed snapshot is ``table`` itself. Same md5-derived bit
    positions, same 32-bit word packing, bit-identical booleans.

    Membership tests use EXISTS, never ``h IN (SELECT ...)``: a NULL in
    the committed hash set turns three-valued IN into NULL where the
    Spark side's left-join + coalesce yields FALSE."""
    js = ", ".join(f"({j})" for j in range(num_hashes))

    def pos(h: str, j: str = "j") -> str:
        from navigator_document_parser_spark.operators import md5_u32_sql

        inner = f"CAST({j} AS VARCHAR) || ':' || {h}"
        return f"{md5_u32_sql(inner, 'duckdb')} % {m_bits}"

    return f"""
        WITH newdoc AS (
          SELECT {id_col} AS doc_id, {new_text_sql} AS text FROM {table}
        ), nh AS (
          SELECT doc_id, md5(text) AS h FROM newdoc
        ), oldh AS (
          SELECT DISTINCT md5(text) AS h FROM {table}
        ), js(j) AS (VALUES {js}),
        opos AS (
          SELECT DISTINCT {pos('h')} AS pos FROM oldh CROSS JOIN js
        ), words AS (
          SELECT pos // 32 AS word_idx,
                 bit_or(1::BIGINT << CAST(pos % 32 AS INTEGER)) AS word
          FROM opos GROUP BY 1
        ), npos AS (
          SELECT doc_id, h, {pos('h')} AS pos FROM nh CROSS JOIN js
        ), probe AS (
          SELECT n.doc_id, n.h,
                 bool_and(
                   (COALESCE(w.word, 0)
                    & (1::BIGINT << CAST(n.pos % 32 AS INTEGER)))
                   = (1::BIGINT << CAST(n.pos % 32 AS INTEGER))
                 ) AS bloom_hit
          FROM npos n LEFT JOIN words w ON n.pos // 32 = w.word_idx
          GROUP BY n.doc_id, n.h
        )
        SELECT doc_id,
               bloom_hit,
               (bloom_hit AND EXISTS (SELECT 1 FROM oldh o
                                      WHERE o.h = probe.h)) AS exact_dup,
               (bloom_hit AND NOT EXISTS (SELECT 1 FROM oldh o
                                          WHERE o.h = probe.h))
                 AS false_positive,
               NOT (bloom_hit AND EXISTS (SELECT 1 FROM oldh o
                                          WHERE o.h = probe.h)) AS keep
        FROM probe
    """


# --------------------------------------------------------------------------
# content-defined chunking (CDC) dedup
# --------------------------------------------------------------------------

def cdc_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    avg_chunk: int = 8,
) -> DataFrame:
    """Content-defined chunk dedup — the rsync/LBFS boundary trick at
    token granularity: a token CLOSES a chunk iff md5(token) % avg_chunk
    == 0, so expected chunk length is avg_chunk tokens and boundaries
    re-synchronize after insertions/deletions. Fixed-window chunking
    (paragraph_dedup) misses every repeat after a one-token shift; CDC
    boundaries are a function of content alone, so shifted duplicates
    land in identical chunks again.

    First occurrence of a chunk (min (doc_id, chunk_idx), the CCNet
    rule) owns it; later instances are duplicates.

    100 TB shape: one shuffle keyed by doc (the running boundary count
    is a per-doc window whose partitions are bounded by document
    length), one chunk-hash aggregate with map-side combine for the
    global first-occurrence (min-struct — NEVER a window over the chunk
    hash, which would serialize hot chunks), and a chunk-level
    equi-join back. Per-doc output keeps the result narrow.

    Returns (doc_id, n_tokens, n_chunks, n_dup_chunks, dup_token_frac).
    """
    if avg_chunk <= 0:
        raise ValueError("avg_chunk must be positive")
    toks = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(
                F.filter(
                    F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
                    lambda t: F.length(t) > 0,
                )
            ).alias("pos", "tok"),
        )
        .withColumn(
            "boundary",
            (
                F.expr(
                    "cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint)"
                )
                % avg_chunk
                == 0
            ).cast("int"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    chunked = toks.withColumn(
        "chunk_idx", F.coalesce(F.sum("boundary").over(w), F.lit(0))
    )
    chunks = (
        chunked.groupBy("doc_id", "chunk_idx")
        .agg(
            F.count(F.lit(1)).alias("c_toks"),
            F.sort_array(F.collect_list(F.struct("pos", "tok"))).alias(
                "parts"
            ),
        )
        .select(
            "doc_id",
            "chunk_idx",
            "c_toks",
            F.md5(
                F.array_join(
                    F.expr("transform(parts, s -> s.tok)"), " "
                )
            ).alias("h"),
        )
        # barrier: chunks feeds BOTH the first-occurrence aggregate and
        # the flag join-back — without it the whole scan -> explode ->
        # boundary window -> chunk aggregate subtree executes twice
        # (caught by the plan-shape test: two Window nodes)
        .localCheckpoint(eager=True)
    )
    firsts = chunks.groupBy("h").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("first")
    )
    flagged = chunks.join(firsts, "h").select(
        "doc_id",
        "c_toks",
        (
            (F.col("first.doc_id") != F.col("doc_id"))
            | (F.col("first.chunk_idx") != F.col("chunk_idx"))
        ).cast("int").alias("is_dup"),
    )
    return flagged.groupBy("doc_id").agg(
        F.sum("c_toks").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("is_dup").cast("bigint").alias("n_dup_chunks"),
        ratio4(
            F.sum(F.col("is_dup") * F.col("c_toks")), F.sum("c_toks")
        ).alias("dup_token_frac"),
    )


def oracle_cdc_dedup(
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
    avg_chunk: int = 8,
) -> str:
    """DuckDB SQL computing exactly cdc_dedup()."""
    return f"""
        WITH toks AS (
          SELECT q.doc_id, q.i - 1 AS pos, q.ts[q.i] AS tok
          FROM (
            SELECT doc_id, ts,
                   unnest(generate_series(1, len(ts))) AS i
            FROM (
              SELECT {id_col} AS doc_id,
                     list_filter(string_split_regex(
                       trim(lower({text_col})), '\\s+'),
                       t -> length(t) > 0) AS ts
              FROM {table}
            )
          ) q
        ), flags AS (
          SELECT doc_id, pos, tok,
                 CASE WHEN CAST('0x' || substring(md5(tok), 1, 8)
                             AS BIGINT) % {avg_chunk} = 0
                      THEN 1 ELSE 0 END AS boundary
          FROM toks
        ), chunked AS (
          SELECT doc_id, pos, tok,
                 COALESCE(SUM(boundary) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS chunk_idx
          FROM flags
        ), chunks AS (
          SELECT doc_id, chunk_idx, count(*) AS c_toks,
                 md5(string_agg(tok, ' ' ORDER BY pos)) AS h
          FROM chunked GROUP BY doc_id, chunk_idx
        ), firsts AS (
          SELECT h, min(struct_pack(doc_id := doc_id,
                                    chunk_idx := chunk_idx)) AS first
          FROM chunks GROUP BY h
        ), flagged AS (
          SELECT c.doc_id, c.c_toks,
                 CASE WHEN f.first.doc_id <> c.doc_id
                        OR f.first.chunk_idx <> c.chunk_idx
                      THEN 1 ELSE 0 END AS is_dup
          FROM chunks c JOIN firsts f USING (h)
        )
        SELECT doc_id,
               CAST(SUM(c_toks) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(SUM(is_dup) AS BIGINT) AS n_dup_chunks,
               {ratio4_sql("SUM(is_dup * c_toks)", "SUM(c_toks)")}
                 AS dup_token_frac
        FROM flagged GROUP BY doc_id
    """


def snapshot_diff(
    new_df: DataFrame,
    old_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = "source",
) -> DataFrame:
    """Snapshot audit: classify every document id across two crawls as
    added / removed / changed / unchanged and aggregate counts per
    ``group_col`` (host/source) — the monthly-crawl health report read
    before committing a snapshot (a spike in 'removed' or 'changed' for
    one host usually means a site redesign or a crawler bug, not real
    content change).

    100 TB shape: ONE full-outer equi-join on the id (changed-ness via
    md5 comparison, no text shipped through the join beyond the two
    32-char hashes) + one hash aggregate on the group; both map-side
    combinable.

    Returns (grp, n_added, n_removed, n_changed, n_unchanged).
    """
    # presence markers, NOT hash nullness: md5(NULL text) is NULL, so
    # classifying on oh/nh nullness would call a null-text doc present
    # in both crawls "added"/"removed" and break the partition-of-ids
    # invariant (review finding). Equality is null-safe for the same
    # reason.
    n = new_df.select(
        F.col(id_col).alias("id"),
        F.md5(F.col(text_col)).alias("nh"),
        F.lit(1).alias("nmark"),
        *( [F.col(group_col).alias("ngrp")] if group_col else [] ),
    )
    o = old_df.select(
        F.col(id_col).alias("id"),
        F.md5(F.col(text_col)).alias("oh"),
        F.lit(1).alias("omark"),
        *( [F.col(group_col).alias("ogrp")] if group_col else [] ),
    )
    j = n.join(o, "id", "full_outer")
    grp = (
        F.coalesce("ngrp", "ogrp") if group_col else F.lit("all")
    ).alias("grp")
    status = (
        F.when(F.col("omark").isNull(), F.lit("added"))
        .when(F.col("nmark").isNull(), F.lit("removed"))
        .when(F.col("nh").eqNullSafe(F.col("oh")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        j.select(grp, status.alias("status"))
        .groupBy("grp")
        .agg(
            F.sum((F.col("status") == "added").cast("int"))
            .cast("bigint").alias("n_added"),
            F.sum((F.col("status") == "removed").cast("int"))
            .cast("bigint").alias("n_removed"),
            F.sum((F.col("status") == "changed").cast("int"))
            .cast("bigint").alias("n_changed"),
            F.sum((F.col("status") == "unchanged").cast("int"))
            .cast("bigint").alias("n_unchanged"),
        )
    )


def oracle_snapshot_diff(
    new_table_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    table: str = "documents",
) -> str:
    """DuckDB SQL computing exactly snapshot_diff() where the new
    snapshot is ``new_table_sql`` (a subquery with id/text/group cols)
    and the old snapshot is ``table``."""
    return f"""
        WITH n AS (
          SELECT {id_col} AS id, md5({text_col}) AS nh,
                 {group_col} AS ngrp
          FROM ({new_table_sql})
        ), o AS (
          SELECT {id_col} AS id, md5({text_col}) AS oh,
                 {group_col} AS ogrp
          FROM {table}
        ), j AS (
          SELECT COALESCE(n.ngrp, o.ogrp) AS grp,
                 CASE WHEN o.id IS NULL THEN 'added'
                      WHEN n.id IS NULL THEN 'removed'
                      WHEN n.nh IS NOT DISTINCT FROM o.oh
                        THEN 'unchanged'
                      ELSE 'changed' END AS status
          FROM n FULL OUTER JOIN o ON n.id = o.id
        )
        SELECT grp,
               CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_added,
               CAST(SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_removed,
               CAST(SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_changed,
               CAST(SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_unchanged
        FROM j GROUP BY grp
    """


def lsh_audit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 4,
    bands: int = 2,
    threshold: float = 0.2,
) -> DataFrame:
    """LSH parameter audit: precision/recall of the MinHash band-join
    candidate set against exact-Jaccard ground truth — the tuning loop
    every near-dedup deployment runs on a sample before committing
    (num_hashes, bands) for the full corpus.

    Ground truth is the UNBLOCKED inverted-index exact-Jaccard pair set
    (a pair with J >= threshold > 0 shares at least one shingle, so the
    shingle equi-join enumerates ALL qualifying pairs — no length/lang
    blocking that could hide misses). Candidates are the band-key
    equi-join pairs from the exact construction minhash_dedup_pairs
    uses (band_keys_from_shingles).

    Returns ONE row: (n_truth, n_candidates, n_true_positive,
    precision4, recall4) — counts BIGINT, ratios via the portable
    integer half-up ratio4 (NULL when the denominator is 0).

    100 TB shape: the shingle table is checkpointed once and feeds all
    four join branches; both pair sets are equi-joins + hash
    aggregates; the final comparison is one full-outer join on the
    pair key and a single global aggregate. On a real corpus this runs
    on a deterministic hash-sample (operators/text.py hash_sample) —
    the audit's value is the ratio, which a sample estimates.
    """
    from navigator_document_parser_spark.operators import ratio4

    if threshold <= 0:
        # the inverted-index ground truth enumerates only pairs sharing
        # >= 1 shingle, which is complete exactly for J >= t > 0; at
        # t = 0 the disjoint pairs are silently absent and recall's
        # denominator is wrong (same guard class as num_hashes <= 0)
        raise ValueError("lsh_audit requires threshold > 0")
    # checkpoint the BARE (id, sh) projection: size()/filter stacked
    # under the checkpoint would re-inline the interpreted shingle HOF
    # once per reference after CollapseProject (3x per row — CLAUDE.md
    # lessons 2/3; measured 9s vs 3s on the sf0.1 half-sample). Sizing
    # and the emptiness filter read materialized arrays instead.
    base = df.select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col)).alias("sh"),
    ).localCheckpoint(eager=True)
    base = base.withColumn("n_sh", F.size("sh")).filter(
        F.col("n_sh") > 0
    )
    inv = base.select("id", "n_sh", F.explode("sh").alias("s"))
    ta = inv.select(
        F.col("id").alias("id_a"), F.col("n_sh").alias("na"), "s"
    )
    tb = inv.select(
        F.col("id").alias("id_b"), F.col("n_sh").alias("nb"), "s"
    )
    truth = (
        ta.join(tb, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("i"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
        .filter(
            ratio4(F.col("i"), F.col("na") + F.col("nb") - F.col("i"))
            >= F.lit(threshold)
        )
        .select("id_a", "id_b", F.lit(1).alias("t"))
    )
    banded = base.select(
        "id",
        F.posexplode(
            band_keys_from_shingles(
                F.col("sh"), num_hashes=num_hashes, bands=bands
            )
        ).alias("band", "key"),
    )
    ca = banded.select(F.col("id").alias("id_a"), "band", "key")
    cb = banded.select(F.col("id").alias("id_b"), "band", "key")
    cand = (
        ca.join(cb, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .select("id_a", "id_b", F.lit(1).alias("c"))
    )
    joined = truth.join(cand, ["id_a", "id_b"], "full")
    agg = joined.agg(
        F.sum("t").cast("bigint").alias("n_truth"),
        F.sum("c").cast("bigint").alias("n_candidates"),
        F.sum(
            F.when(F.col("t").isNotNull() & F.col("c").isNotNull(), 1)
            .otherwise(0)
        ).cast("bigint").alias("n_true_positive"),
    )
    return agg.select(
        "n_truth",
        "n_candidates",
        "n_true_positive",
        F.when(
            F.col("n_candidates") > 0,
            ratio4(F.col("n_true_positive"), F.col("n_candidates")),
        ).alias("precision4"),
        F.when(
            F.col("n_truth") > 0,
            ratio4(F.col("n_true_positive"), F.col("n_truth")),
        ).alias("recall4"),
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    window: int = 4,
    threshold: float = 0.1,
    key_len: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sorted-neighborhood dedup blocking (Hernandez & Stolfo 1995):
    sort the corpus by a cheap key (here the first key_len chars of the
    lowercased text), slide a w-row window down the sort order, and
    exact-verify only pairs within the window — the third classic
    blocking family next to LSH banding and inverted-index sharing,
    and the right one when near-dups share PREFIXES (title clones,
    templated articles) rather than random shingles.

    The global rank is computed scale-correctly: repartitionByRange on
    (key, id) gives contiguous key ranges in ascending partition-id
    order, per-partition sizes (an O(#partitions) collect) become
    cumulative offsets, and rank = offset + per-PARTITION row_number —
    never a single-partition global window. The ranked table is
    checkpointed once (it feeds both join sides); window pairs are ONE
    integer equi-join (rn + d = rn_b after a literal 1..w fan-out);
    verification is array_intersect on the carried shingle sets —
    bounded at N*w pairs by construction, so arrays-on-pairs is safe
    here (contrast ngram_jaccard_pairs, where pair count is unbounded).

    Returns (id_a, id_b, rn_dist, jaccard_sim) for verified pairs,
    id_a the earlier row in sort order.
    """
    from navigator_document_parser_spark.operators import ratio4

    if window <= 0:
        raise ValueError("window must be positive")
    spark = df.sparkSession
    npart = spark.sparkContext.defaultParallelism
    # ONE materialization (r7): shingles are computed AFTER the range
    # exchange, in the same projection that stamps pid, so the
    # partitioner's boundary-sampling pass evaluates only the cheap
    # substring key and the shingle arrays are stored exactly once.
    # (The old shape checkpointed the shingle table, re-shuffled it,
    # and checkpointed it AGAIN to pin placement — two serial
    # materializations of the heavy arrays.) Rank order depends only
    # on (key, id), so placement is unchanged; the single eager
    # checkpoint still pins pids for the sizes/ranks dual read
    # (lesson 7).
    placed = (
        df.select(
            F.col(id_col).alias("id"),
            F.substring(
                F.lower(F.trim(F.col(text_col))), 1, int(key_len)
            ).alias("key"),
            F.col(text_col).alias("_t"),
        )
        .repartitionByRange(npart, "key", "id")
        .select(
            "id", "key", word_shingles(F.col("_t")).alias("sh")
        )
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
        # size() AFTER the barrier: fused into the pre-checkpoint
        # projection it would re-inline the shingle HOF per reference
        # (CollapseProject — lessons 2/20)
        .withColumn("n_sh", F.size("sh"))
    )
    sizes = sorted(
        (r["pid"], r["n"]) for r in
        placed.groupBy("pid").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, acc = [], 0
    for pid, n in sizes:
        offsets.append((pid, acc))
        acc += n
    off = F.broadcast(
        # explicit schema: an EMPTY input yields offsets == [], which
        # schema inference rejects (every sibling operator returns an
        # empty frame for empty input, so must this one)
        spark.createDataFrame(offsets, "pid int, offset bigint")
    )
    from pyspark.sql import Window

    w_local = Window.partitionBy("pid").orderBy("key", "id")
    ranked = (
        placed.join(off, "pid")
        .withColumn(
            "rn",
            (F.row_number().over(w_local) + F.col("offset")).cast(
                "bigint"
            ),
        )
        .select("id", "rn", "sh", "n_sh")
    )
    fan = ranked.select(
        F.col("id").alias("id_a"),
        F.col("sh").alias("sh_a"),
        F.col("n_sh").alias("na"),
        "rn",
        F.explode(
            F.array(*[F.lit(d) for d in range(1, int(window) + 1)])
        ).alias("rn_dist"),
    ).withColumn("rn_b", F.col("rn") + F.col("rn_dist"))
    pairs = fan.join(
        ranked.select(
            F.col("id").alias("id_b"),
            F.col("sh").alias("sh_b"),
            F.col("n_sh").alias("nb"),
            F.col("rn").alias("rn_b"),
        ),
        "rn_b",
    )
    i = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    u = F.col("na") + F.col("nb") - i
    return (
        pairs.withColumn("i", i)
        .filter(u > 0)
        .select(
            "id_a",
            "id_b",
            F.col("rn_dist").cast("bigint").alias("rn_dist"),
            ratio4(F.col("i"), F.col("na") + F.col("nb") - F.col("i"))
            .alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= F.lit(threshold))
    )


def oracle_sorted_neighborhood(
    window: int = 4,
    threshold: float = 0.1,
    key_len: int = 16,
    shingle_cte: str = "",
) -> str:
    """DuckDB replica of sorted_neighborhood_pairs over the documents
    table: the oracle may use the straightforward global row_number —
    rank equality with the distributed offset construction is exactly
    what the hash check proves. ``shingle_cte`` is the repo's shared
    _SHINGLE_CTE (callers pass it in to keep one definition)."""
    from navigator_document_parser_spark.operators import ratio4_sql

    jac = ratio4_sql(
        "length(list_intersect(a.s, b.s))",
        "length(a.s) + length(b.s) - length(list_intersect(a.s, b.s))",
    )
    return f"""
        {shingle_cte}
        , ranked AS (
          SELECT doc_id, s,
                 row_number() OVER (
                   ORDER BY substring(lower(trim(text)), 1, {int(key_len)}),
                            doc_id) AS rn
          FROM sh
        ), fan AS (
          SELECT r.doc_id AS id_a, r.s AS s_a, r.rn, t.d AS rn_dist
          FROM ranked r,
               (SELECT unnest(generate_series(1, {int(window)})) AS d) t
        ), pairs AS (
          SELECT f.id_a, b.doc_id AS id_b, f.rn_dist,
                 f.s_a, b.s AS s_b
          FROM fan f JOIN ranked b ON b.rn = f.rn + f.rn_dist
        )
        SELECT id_a, id_b, CAST(rn_dist AS BIGINT) AS rn_dist,
               {jac.replace('a.s', 's_a').replace('b.s', 's_b')}
                 AS jaccard_sim
        FROM pairs
        WHERE length(s_a) + length(s_b)
                - length(list_intersect(s_a, s_b)) > 0
          AND {jac.replace('a.s', 's_a').replace('b.s', 's_b')}
                >= {threshold!r}
    """


def bbit_minhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    b: int = 8,
) -> DataFrame:
    """b-bit MinHash resemblance estimation (Li & König 2010) over the
    standard LSH candidate pairs: store only the low ``b`` bits of each
    of ``num_hashes`` MinHash values — a 2^b-fold signature-memory
    reduction (the difference between a signature store that fits in
    executor memory at 100 TB and one that does not) — and correct the
    accidental-collision inflation exactly:

        E = matches / num_hashes,  C = 2^-b,
        J_hat = (E - C) / (1 - C)
              = (matches * 2^b - num_hashes)
                / (num_hashes * (2^b - 1))   — pure integers until the
                                               one ratio4 division.

    The b-bit value is the md5_u32 primitive of the SAME md5-string
    minima minhash_signature/band_keys_from_shingles use (prefix
    'h:'), mod 2^b — one hash-family definition repo-wide. Signatures
    ride the candidate join as ``num_hashes`` SMALLINT-sized columns,
    never arrays through the shuffle.

    100 TB shape: bare (id, shingles) projection checkpointed once
    (lessons 3/20); candidates are the (4,2) banded equi-join (no
    all-pairs path); the estimate join touches candidate rows only.

    Returns (id_a, id_b, n_match, jhat4) — jhat4 clamped at 0 (a pair
    matching fewer than the collision floor estimates 0, not negative).
    """
    if b < 1 or b > 16:
        raise ValueError("b must be in [1, 16]")
    if num_hashes < 1:
        raise ValueError("num_hashes must be >= 1")
    mod = 1 << b

    base = df.select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col)).alias("sh"),
    ).localCheckpoint(eager=True)
    ne = base.filter(F.size("sh") > 0)

    def min_hash(h: int) -> Column:
        def hasher(prefix: str):
            return lambda s: F.md5(F.concat(F.lit(prefix), s))

        return F.array_min(F.transform(F.col("sh"), hasher(f"{h}:")))

    # evaluate every interpreted HOF minimum exactly ONCE: the b-bit
    # signature columns AND the (4,2) band keys both derive from the
    # materialized min strings (two downstream plans would otherwise
    # re-run the minima per consumer — the lesson-2/3 class)
    n_min = max(num_hashes, 4)
    mins = ne.select(
        "id", *[min_hash(h).alias(f"m{h}") for h in range(n_min)]
    ).localCheckpoint(eager=True)

    def bbit(h: int) -> Column:
        return (
            F.conv(F.substring(F.col(f"m{h}"), 1, 8), 16, 10).cast(
                "bigint"
            )
            % mod
        )

    sig = mins.select(
        "id", *[bbit(h).alias(f"b{h}") for h in range(num_hashes)]
    )
    # band_keys_from_shingles(num_hashes=4, bands=2) spelled over the
    # shared minima: md5(m0 || ',' || m1), md5(m2 || ',' || m3)
    bands = mins.select(
        "id",
        F.explode(
            F.array(
                F.md5(F.concat_ws(",", F.col("m0"), F.col("m1"))),
                F.md5(F.concat_ws(",", F.col("m2"), F.col("m3"))),
            )
        ).alias("bk"),
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sig.select(
        F.col("id").alias("id_a"),
        *[F.col(f"b{h}").alias(f"a{h}") for h in range(num_hashes)],
    )
    sb = sig.select(
        F.col("id").alias("id_b"),
        *[F.col(f"b{h}").alias(f"bb{h}") for h in range(num_hashes)],
    )
    j = cand.join(sa, "id_a").join(sb, "id_b")
    m = None
    for h in range(num_hashes):
        term = F.when(F.col(f"a{h}") == F.col(f"bb{h}"), 1).otherwise(0)
        m = term if m is None else m + term
    num = F.greatest(
        F.lit(0), (m * mod - F.lit(num_hashes)).cast("bigint")
    )
    den = F.lit(num_hashes * (mod - 1)).cast("bigint")
    return j.select(
        "id_a",
        "id_b",
        m.cast("bigint").alias("n_match"),
        ratio4(num, den).alias("jhat4"),
    )


def oracle_bbit_minhash_pairs(
    id_col: str = "doc_id",
    table: str = "documents",
    num_hashes: int = 8,
    b: int = 8,
    shingle_cte: str = "",
) -> str:
    """DuckDB replica of bbit_minhash_pairs(num_hashes, b) with (4,2)
    banded candidates. ``shingle_cte`` must be the shared _SHINGLE_CTE
    (relation ``sh`` with doc_id, s)."""
    mod = 1 << b

    def min_sql(h: int) -> str:
        return (
            f"list_aggregate(list_transform(s, x -> md5('{h}:' || x)),"
            f" 'min')"
        )

    def bbit_sql(h: int) -> str:
        return (
            f"CAST('0x' || substring({min_sql(h)}, 1, 8) AS BIGINT)"
            f" % {mod}"
        )

    sig_cols = ", ".join(
        f"{bbit_sql(h)} AS b{h}" for h in range(num_hashes)
    )
    matches = " + ".join(
        f"CASE WHEN a.b{h} = bb.b{h} THEN 1 ELSE 0 END"
        for h in range(num_hashes)
    )
    num = f"greatest(0, mm * {mod} - {num_hashes})"
    den = f"{num_hashes * (mod - 1)}"
    from navigator_document_parser_spark.operators import ratio4_sql

    j4 = ratio4_sql(num, den)
    return f"""
        {shingle_cte}
        , shf AS (
          SELECT doc_id, s FROM sh WHERE length(s) > 0
        ), sig AS (
          SELECT doc_id, {sig_cols} FROM shf
        ), bnd AS (
          SELECT doc_id,
                 md5({min_sql(0)} || ',' || {min_sql(1)}) AS band0,
                 md5({min_sql(2)} || ',' || {min_sql(3)}) AS band1
          FROM shf
        ), bl AS (
          SELECT doc_id, band0 AS bk FROM bnd
          UNION ALL
          SELECT doc_id, band1 AS bk FROM bnd
        ), cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bl a JOIN bl b
            ON a.bk = b.bk AND a.doc_id < b.doc_id
        ), scored AS (
          SELECT c.id_a, c.id_b, ({matches}) AS mm
          FROM cand c
          JOIN sig a ON a.doc_id = c.id_a
          JOIN sig bb ON bb.doc_id = c.id_b
        )
        SELECT id_a, id_b, CAST(mm AS BIGINT) AS n_match,
               {j4} AS jhat4
        FROM scored
    """


def dedup_cluster_stats(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Duplicate-cluster size histogram — the dedup POST-MORTEM report:
    how much of the corpus sits in 2-doc mirrors vs 1000-doc template
    farms decides whether to tighten thresholds or write host rules
    (cluster-size tails are also the standard sanity check that LSH
    banding isn't chaining unrelated docs through hubs).

    Input ``pairs`` (id_a, id_b) feeds the batched connected-components
    operator; singletons (docs in no pair) are reported as the
    cluster_size = 1 row so the histogram masses sum to the corpus.

    100 TB shape: components is the existing batched-rounds operator;
    the histogram is two tiny aggregates over (comp) rows; the two
    1-row counts fold back via one crossJoin each (never in a loop —
    lesson 16).

    Pair endpoints absent from ``df`` are dropped (semi-join) so the
    sum-to-corpus invariant holds even when the pair graph was mined
    from a wider snapshot than the corpus being reported on.

    Returns (cluster_size, n_clusters, n_docs).
    """
    ids = df.select(F.col(id_col).alias("node"))
    comps = connected_components(pairs).join(ids, "node", "left_semi")
    sizes = comps.groupBy("comp").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    hist = sizes.groupBy("sz").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("sz").cast("bigint").alias("n_docs"),
    )
    total = df.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("total")
    )
    clustered = sizes.groupBy().agg(
        F.coalesce(F.sum("sz"), F.lit(0)).cast("bigint").alias("c")
    )
    singles = (
        total.crossJoin(F.broadcast(clustered))
        .select(
            F.lit(1).cast("bigint").alias("sz"),
            (F.col("total") - F.col("c")).alias("n_clusters"),
            (F.col("total") - F.col("c")).alias("n_docs"),
        )
        .filter(F.col("n_clusters") > 0)
    )
    out = hist.select(
        F.col("sz").alias("cluster_size"), "n_clusters", "n_docs"
    ).unionByName(
        singles.select(
            F.col("sz").alias("cluster_size"), "n_clusters", "n_docs"
        )
    )
    # a component reduced to one in-df node by the semi-join lands in
    # the sz=1 bin alongside the never-paired singles — merge the two
    # cluster_size=1 rows (a no-op when pairs came from df itself,
    # where every component has >= 2 nodes)
    return out.groupBy("cluster_size").agg(
        F.sum("n_clusters").cast("bigint").alias("n_clusters"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
    )


def mirror_hosts(
    df: DataFrame,
    host_col: str = "source",
    text_col: str = "text",
    min_shared: int = 2,
    ratio_num: int = 1,
    ratio_den: int = 2,
) -> DataFrame:
    """Cross-host mirror detection: host pairs whose DISTINCT content
    sets overlap heavily are mirrors (the classic Common-Crawl
    curation problem — cdn./www./country-TLD copies of one site — and
    the host-level view exact dedup alone doesn't surface). A pair is
    flagged when it shares >= ``min_shared`` distinct texts AND the
    overlap covers more than ratio_num/ratio_den of the SMALLER host's
    distinct content (integer cross-multiply, never a float compare).

    100 TB shape: content collapses to md5 immediately (text never
    rides a join); the pair join is per content-hash — cost is
    Σ df(h)² over hosts sharing a hash, the inverted-index shape, with
    genuinely-mirrored content (small per-hash host lists) cheap by
    construction. Hot hashes (site-template boilerplate shared by
    thousands of hosts) belong to boilerplate_strip upstream; a
    production run caps per-hash host-list length the same way
    containment_pairs caps df.

    Returns (host_a, host_b, n_shared, n_a, n_b, overlap4, is_mirror).
    """
    hh = df.select(
        F.col(host_col).alias("host"),
        F.md5(F.col(text_col)).alias("h"),
    ).dropDuplicates(["host", "h"])
    sizes = hh.groupBy("host").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    pairs = (
        hh.alias("a")
        .join(
            hh.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.host") < F.col("b.host")),
        )
        .groupBy(
            F.col("a.host").alias("host_a"),
            F.col("b.host").alias("host_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    out = (
        pairs.join(
            sizes.select(
                F.col("host").alias("host_a"), F.col("n").alias("n_a")
            ),
            "host_a",
        )
        .join(
            sizes.select(
                F.col("host").alias("host_b"), F.col("n").alias("n_b")
            ),
            "host_b",
        )
    )
    least_n = F.least(F.col("n_a"), F.col("n_b"))
    return out.select(
        "host_a",
        "host_b",
        "n_shared",
        "n_a",
        "n_b",
        ratio4(F.col("n_shared"), least_n).alias("overlap4"),
        (
            (F.col("n_shared") >= min_shared)
            & (F.col("n_shared") * ratio_den > least_n * ratio_num)
        ).alias("is_mirror"),
    )


def oracle_mirror_hosts(
    docs_sql: str,
    host_col: str = "source",
    text_col: str = "text",
    min_shared: int = 2,
    ratio_num: int = 1,
    ratio_den: int = 2,
) -> str:
    """DuckDB replica of mirror_hosts over ``docs_sql`` yielding at
    least (host_col, text_col)."""
    r4 = ratio4_sql("n_shared", "least(n_a, n_b)")
    return f"""
        WITH d AS ({docs_sql}),
        hh AS (
          SELECT DISTINCT {host_col} AS host, md5({text_col}) AS h
          FROM d
        ), sizes AS (
          SELECT host, CAST(count(*) AS BIGINT) AS n
          FROM hh GROUP BY host
        ), pairs AS (
          SELECT a.host AS host_a, b.host AS host_b,
                 CAST(count(*) AS BIGINT) AS n_shared
          FROM hh a JOIN hh b
            ON a.h = b.h AND a.host < b.host
          GROUP BY 1, 2
        )
        SELECT host_a, host_b, n_shared,
               sa.n AS n_a, sb.n AS n_b,
               {r4} AS overlap4,
               (n_shared >= {min_shared}
                AND n_shared * {ratio_den}
                    > least(sa.n, sb.n) * {ratio_num}) AS is_mirror
        FROM pairs
        JOIN sizes sa ON sa.host = pairs.host_a
        JOIN sizes sb ON sb.host = pairs.host_b
    """


def dedup_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Keep the HIGHEST-QUALITY member per duplicate cluster — the
    production variant of dedup_corpus: near-dup groups usually hold a
    canonical page plus truncated/ad-injected/paywalled copies, and
    "first crawled" (min id) is the wrong copy to keep; "best copy"
    (longest, highest quality score) is what curation pipelines
    actually select (SlimPajama keeps lowest-loss, CCNet keeps head
    bucket). Ties break to the smaller id, so the operator degrades to
    dedup_corpus exactly when quality is constant.

    One quality lookup join on the component members (a tiny table vs
    the corpus), one max-struct aggregate per component — the min-struct
    argmax discipline (never a window over the corpus) — then the same
    broadcast loser anti-join as dedup_corpus.
    """
    comps = connected_components(pairs, id_a, id_b)
    scored = comps.join(
        docs.select(
            F.col(id_col).cast("long").alias("node"),
            F.col(quality_col).alias("_q"),
        ),
        on="node",
    )
    winners = scored.groupBy("comp").agg(
        F.max(F.struct(F.col("_q"), (-F.col("node")).alias("_negid")))
        .alias("w")
    ).select(
        "comp", (-F.col("w._negid")).cast("long").alias("keeper")
    )
    losers = (
        comps.join(winners, on="comp")
        .filter(F.col("node") != F.col("keeper"))
        .select(F.col("node").alias(id_col))
    )
    return docs.join(F.broadcast(losers), id_col, "left_anti")


# --------------------------------------------------------------------------
# perceptual image dedup (dHash + pigeonhole banding)
# --------------------------------------------------------------------------

def _dhash_band_terms(band: int, width: int, height: int, elem) -> str:
    """The 16-bit integer for dHash band ``band`` (0..3) as one SQL sum.

    Bit b (LSB-first within the band, global bit = band*16 + k) is set
    iff pixel(y, x+1) > pixel(y, x) with b = y*(width-1) + x — the
    classic difference hash over a width x height grayscale grid
    ((width-1)*height == 64 total bits). ``elem(i)`` renders a 1-based
    access to the pixel list, so Spark (element_at) and DuckDB ([i])
    share the exact index math; rendered as ONE literal-heavy SQL
    string per band (lesson 13 — never node-by-node Column folds).
    """
    terms = []
    for k in range(16):
        b = band * 16 + k
        y, x = divmod(b, width - 1)
        i = y * width + x  # 0-based left pixel of the comparison
        terms.append(
            f"(CASE WHEN {elem(i + 2)} > {elem(i + 1)} "
            f"THEN {1 << k} ELSE 0 END)"
        )
    return " + ".join(terms)


def _dhash_mirror_band_terms(band: int, width: int, height: int,
                             elem) -> str:
    """Band ``band`` of the dHash of the HORIZONTALLY MIRRORED grid,
    computed from the original pixels (mirror M[y][x] = p[y][W-1-x], so
    bit b=(y,x) is [p[y][W-2-x] > p[y][W-1-x]]). Mirroring is where
    plain dHash dedup is trivially evaded (flipped memes/product
    shots); note ties make this NOT a pure bit-permutation of the
    direct hash — it must be computed from pixels, exactly as here."""
    terms = []
    for k in range(16):
        b = band * 16 + k
        y, x = divmod(b, width - 1)
        left = y * width + (width - 2 - x)   # 0-based M[y][x+1]
        right = y * width + (width - 1 - x)  # 0-based M[y][x]
        terms.append(
            f"(CASE WHEN {elem(left + 1)} > {elem(right + 1)} "
            f"THEN {1 << k} ELSE 0 END)"
        )
    return " + ".join(terms)


def _dhash_bands_arrow(
    rows: DataFrame,
    key_cols: list[str],
    pixels_col: str,
    width: int,
    height: int,
    mirror: bool,
) -> DataFrame:
    """(key_cols..., b0..b3[, m0..m3]) in ONE Arrow pass — the exact
    integer math of _dhash_band_terms / _dhash_mirror_band_terms
    vectorized in numpy (pure > comparisons and power-of-two sums, so
    bit-identical to the SQL form).

    The Catalyst shape needed a localCheckpoint of the WIDE pixel
    arrays just to keep the 128 element_at reads from re-inlining a
    computed pixels expression (lessons 3/20) — and materializing 72
    ints per row cost ~3x the whole band computation (measured 4.5s vs
    1.5s synth + 0.9s bands at 200k images). Here pixels are evaluated
    exactly once as UDF input; malformed grids (len != width*height)
    are dropped inside the pass, mirroring the SQL-side len() guard.
    """
    import numpy as np
    import pandas as pd

    w, h = int(width), int(height)
    grid = w * h
    key_types = [
        f"{c} {rows.schema[c].dataType.simpleString()}" for c in key_cols
    ]
    band_names = [f"b{t}" for t in range(4)] + (
        [f"m{t}" for t in range(4)] if mirror else []
    )
    schema = ", ".join(key_types + [f"{c} int" for c in band_names])
    weights = (1 << np.arange(16)).astype(np.int64)

    def run(batches):
        for pdf in batches:
            arrs = pdf[pixels_col].to_numpy()
            n = len(arrs)
            out_cols = {c: pdf[c] for c in key_cols}
            if n == 0:
                yield pd.DataFrame(
                    {**out_cols, **{c: [] for c in band_names}}
                )
                continue
            lens = np.fromiter(
                (len(a) for a in arrs), dtype=np.int64, count=n
            )
            ok = lens == grid
            if not ok.all():
                pdf = pdf[ok]
                arrs = arrs[ok]
                out_cols = {c: pdf[c] for c in key_cols}
                n = len(arrs)
            if n == 0:
                yield pd.DataFrame(
                    {**out_cols, **{c: [] for c in band_names}}
                )
                continue
            p = np.stack(arrs).astype(np.int64).reshape(n, h, w)
            d = (p[:, :, 1:] > p[:, :, :-1]).reshape(n, 64)
            for t in range(4):
                out_cols[f"b{t}"] = (
                    d[:, t * 16 : (t + 1) * 16] @ weights
                ).astype(np.int32)
            if mirror:
                dm = (p[:, :, :-1] > p[:, :, 1:])[:, :, ::-1].reshape(
                    n, 64
                )
                for t in range(4):
                    out_cols[f"m{t}"] = (
                        dm[:, t * 16 : (t + 1) * 16] @ weights
                    ).astype(np.int32)
            yield pd.DataFrame(out_cols)

    return rows.select(*key_cols, pixels_col).mapInPandas(
        run, schema=schema
    )


def dedup_phash(
    images: DataFrame,
    id_col: str = "media_id",
    pixels_col: str = "pixels",
    width: int = 9,
    height: int = 8,
    max_dist: int = 3,
    mirror_invariant: bool = False,
) -> DataFrame:
    """Near-duplicate IMAGE pairs by perceptual-hash (dHash) Hamming
    distance — EXACT recall within ``max_dist``, the pixel-level dedup
    modality the text family (simhash/minhash) and the embedding family
    (neardup/semdedup) don't cover (VERDICT r5 next-round #4).

    ``mirror_invariant=True`` additionally catches horizontally FLIPPED
    copies (the classic perceptual-dedup evasion): the higher-id side
    also publishes the bands of its mirrored grid into the same 4 band
    slots, and a pair is accepted on
    min(ham(a, b), ham(a, mirror(b))) <= max_dist. Pigeonhole holds per
    orientation, so recall stays exact; emitted ``hamming`` is the min.
    (Ties in pixel comparisons make the mirror hash NOT a permutation
    of the direct one — it is computed from pixels, and mirror is
    defined on the id_b side, so the result is deterministic and
    oracle-replicable.)

    Input is the decoded grayscale grid (``pixels``: array<int>,
    width x height, row-major) — the real-codec decode/resize that
    produces it is the documented multimodal stub boundary
    (operators/multimodal.py _fake_raster); everything from pixels down
    is deterministic integer math, so the whole operator is
    oracle-exact in DuckDB.

    Shape (the simhash_near_pairs pigeonhole, modernized per lesson 12):
    the 64-bit dHash lives as FOUR 16-bit band ints (never one signed
    64-bit value — no sign-bit gymnastics); a pair within Hamming
    distance <= 3 must agree exactly on >= 1 of the 4 bands, so
    candidates come from ONE equi-join on the folded key
    band_idx * 2^16 + band_value (a literal band-id explode on both
    sides — one shuffle, no OR-join BNLJ, no union of branches).
    Verification is bit_count over per-band XORs — integers end to end.

    The (id, pixels) projection is eagerly checkpointed first: the 128
    element_at reads per row would otherwise re-inline a COMPUTED
    pixels expression per access (lessons 3/20 — the lsh_audit
    discipline).

    100 TB shape: one narrow materialization (id + 72 small ints), one
    map-only band projection, one (band-key) shuffle whose per-key
    groups are true-collision sized, one pair-dedup aggregate. No
    all-pairs path.

    Returns (id_a, id_b, hamming) with id_a < id_b, hamming <= max_dist.
    """
    if (width - 1) * height != 64:
        raise ValueError(
            "dHash grid must yield 64 bits: (width-1)*height == 64"
        )
    if not 0 <= int(max_dist) <= 3:
        raise ValueError(
            "max_dist must be in [0, 3]: 4 bands of 16 bits pigeonhole "
            "exactly up to Hamming distance 3"
        )
    # bands in one Arrow pass (malformed grids dropped inside — the
    # ANSI/oracle len() guard); the narrow 4-8-int rows checkpoint so
    # both join branches read them instead of recomputing
    bands = _dhash_bands_arrow(
        images.select(
            F.col(id_col).alias("id"),
            F.col(pixels_col).cast("array<int>").alias("p"),
        ),
        ["id"], "p", width, height, mirror_invariant,
    ).localCheckpoint(eager=True)
    bkey = F.expr(
        "CASE bi WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 "
        "ELSE b3 END + bi * 65536"
    )
    keyed = bands.withColumn(
        "bi", F.explode(F.array(*[F.lit(t) for t in range(4)]))
    ).select("id", *bands.columns[1:], bkey.alias("bk"))
    a = keyed.select(
        F.col("id").alias("id_a"),
        *[F.col(f"b{t}").alias(f"b{t}_a") for t in range(4)],
        "bk",
    )
    if mirror_invariant:
        # the id_b side publishes BOTH orientations' bands into the
        # same 4 key slots: slot t matches on b_t (direct) or m_t
        # (mirror) — still ONE equi-join on the folded key
        mkey = F.expr(
            "CASE bi WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 "
            "WHEN 3 THEN b3 WHEN 4 THEN m0 WHEN 5 THEN m1 "
            "WHEN 6 THEN m2 ELSE m3 END + (bi % 4) * 65536"
        )
        bcols = [f"b{t}" for t in range(4)] + [f"m{t}" for t in range(4)]
        b = (
            bands.withColumn(
                "bi",
                F.explode(F.array(*[F.lit(t) for t in range(8)])),
            )
            .select(
                F.col("id").alias("id_b"),
                *[F.col(c).alias(f"{c}_b") for c in bcols],
                mkey.alias("bk"),
            )
        )
    else:
        b = keyed.select(
            F.col("id").alias("id_b"),
            *[F.col(f"b{t}").alias(f"b{t}_b") for t in range(4)],
            "bk",
        )
    ham_direct = sum(
        (
            F.bit_count(
                F.col(f"b{t}_a").bitwiseXOR(F.col(f"b{t}_b"))
            )
            for t in range(4)
        ),
        start=F.lit(0),
    )
    if mirror_invariant:
        ham_mirror = sum(
            (
                F.bit_count(
                    F.col(f"b{t}_a").bitwiseXOR(F.col(f"m{t}_b"))
                )
                for t in range(4)
            ),
            start=F.lit(0),
        )
        ham = F.least(ham_direct, ham_mirror)
    else:
        ham = ham_direct
    return (
        a.join(b, on="bk")
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a", "id_b", ham.cast("bigint").alias("hamming")
        )
        .filter(F.col("hamming") <= int(max_dist))
    )


def oracle_dedup_phash(
    images_sql: str,
    width: int = 9,
    height: int = 8,
    max_dist: int = 3,
    mirror_invariant: bool = False,
) -> str:
    """DuckDB replica of dedup_phash; ``images_sql`` yields
    (media_id, pixels LIST). Bands share _dhash_band_terms' exact index
    math (1-based list access); candidates come from a UNION over the
    per-band branch joins (set semantics dedup multi-band collisions —
    every branch carries the SAME full column set so duplicate rows are
    identical, the bitext-oracle pattern); both CTEs are MATERIALIZED
    (lesson 21). With mirror_invariant, 4 extra branches join a.b_t to
    the id_b side's mirrored band m_t and hamming is the LEAST of the
    two orientations."""

    def elem(i: int) -> str:
        return f"p[{i}]"

    bcols = ", ".join(
        f"({_dhash_band_terms(t, width, height, elem)}) AS b{t}"
        for t in range(4)
    )
    carry_a = ", ".join(f"a.b{t} AS b{t}a" for t in range(4))
    carry_b = ", ".join(f"b.b{t} AS b{t}b" for t in range(4))
    direct = " + ".join(
        f"bit_count(xor(b{t}a, b{t}b))" for t in range(4)
    )
    if mirror_invariant:
        bcols += ", " + ", ".join(
            f"({_dhash_mirror_band_terms(t, width, height, elem)})"
            f" AS m{t}"
            for t in range(4)
        )
        carry_b += ", " + ", ".join(
            f"b.m{t} AS m{t}b" for t in range(4)
        )
        mirror = " + ".join(
            f"bit_count(xor(b{t}a, m{t}b))" for t in range(4)
        )
        ham = f"LEAST({direct}, {mirror})"
        joins = [f"a.b{t} = b.b{t}" for t in range(4)] + [
            f"a.b{t} = b.m{t}" for t in range(4)
        ]
    else:
        ham = direct
        joins = [f"a.b{t} = b.b{t}" for t in range(4)]
    branches = "\n          UNION\n".join(
        f"          SELECT a.id AS id_a, b.id AS id_b,\n"
        f"                 {carry_a},\n"
        f"                 {carry_b}\n"
        f"          FROM bands a JOIN bands b\n"
        f"            ON {cond} AND a.id < b.id"
        for cond in joins
    )
    return f"""
        WITH imgs AS MATERIALIZED (
          SELECT media_id AS id, pixels AS p FROM ({images_sql})
          WHERE len(pixels) = {int(width) * int(height)}
        ), bands AS MATERIALIZED (
          SELECT id, {bcols} FROM imgs
        ), cand AS (
{branches}
        )
        SELECT id_a, id_b,
               CAST({ham} AS BIGINT) AS hamming
        FROM cand
        WHERE {ham} <= {int(max_dist)}
    """


def video_neardup(
    frames: DataFrame,
    vid_col: str = "media_id",
    frame_col: str = "frame_idx",
    pixels_col: str = "pixels",
    width: int = 9,
    height: int = 8,
    max_dist: int = 3,
    min_frames: int = 2,
) -> DataFrame:
    """Near-duplicate VIDEO pairs from sampled-frame perceptual hashes —
    the video face of dedup_phash: re-encoded/mirrored copies survive
    codec changes but their sampled frames stay perceptually identical,
    so two videos are flagged when >= ``min_frames`` of the first
    video's frames each have a dHash within ``max_dist`` bits of SOME
    frame of the second.

    Input is the sampled-frame grid table (video id, frame idx, decoded
    grayscale pixels) — sample_video_frames' output once the codec stub
    boundary is swapped for a real demuxer; from pixels down everything
    is the dedup_phash integer machinery (shared _dhash_band_terms), so
    the operator is oracle-exact.

    Shape: one narrow checkpoint (vid, fi, 72 small ints), one map-only
    band projection, ONE folded-band-key equi-join (lesson 12), a
    frame-pair dedup aggregate, one (vid_a, vid_b) count-distinct
    rollup. Cross-video pairs only (vid_a < vid_b) — a video never
    matches itself however similar its own frames are.

    Returns (vid_a, vid_b, n_matched), n_matched >= min_frames.
    """
    if (width - 1) * height != 64:
        raise ValueError(
            "dHash grid must yield 64 bits: (width-1)*height == 64"
        )
    if not 0 <= int(max_dist) <= 3:
        raise ValueError(
            "max_dist must be in [0, 3]: 4 bands of 16 bits pigeonhole "
            "exactly up to Hamming distance 3"
        )
    if int(min_frames) <= 0:
        raise ValueError("min_frames must be positive")
    # bands in one Arrow pass (malformed grids dropped inside — the
    # ANSI/oracle len() guard); narrow rows checkpoint for both branches
    bands = _dhash_bands_arrow(
        frames.select(
            F.col(vid_col).alias("vid"),
            F.col(frame_col).alias("fi"),
            F.col(pixels_col).cast("array<int>").alias("p"),
        ),
        ["vid", "fi"], "p", width, height, False,
    ).localCheckpoint(eager=True)
    bkey = F.expr(
        "CASE bi WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 "
        "ELSE b3 END + bi * 65536"
    )
    keyed = bands.withColumn(
        "bi", F.explode(F.array(*[F.lit(t) for t in range(4)]))
    ).select("vid", "fi", "b0", "b1", "b2", "b3", bkey.alias("bk"))
    a = keyed.select(
        F.col("vid").alias("vid_a"), F.col("fi").alias("fi_a"),
        *[F.col(f"b{t}").alias(f"b{t}_a") for t in range(4)], "bk",
    )
    b = keyed.select(
        F.col("vid").alias("vid_b"), F.col("fi").alias("fi_b"),
        *[F.col(f"b{t}").alias(f"b{t}_b") for t in range(4)], "bk",
    )
    ham = sum(
        (
            F.bit_count(
                F.col(f"b{t}_a").bitwiseXOR(F.col(f"b{t}_b"))
            )
            for t in range(4)
        ),
        start=F.lit(0),
    )
    matched = (
        a.join(b, on="bk")
        .filter(F.col("vid_a") < F.col("vid_b"))
        .dropDuplicates(["vid_a", "fi_a", "vid_b", "fi_b"])
        .filter(ham <= int(max_dist))
    )
    return (
        matched.groupBy("vid_a", "vid_b")
        .agg(F.countDistinct("fi_a").cast("bigint").alias("n_matched"))
        .filter(F.col("n_matched") >= int(min_frames))
    )


def oracle_video_neardup(
    frames_sql: str,
    width: int = 9,
    height: int = 8,
    max_dist: int = 3,
    min_frames: int = 2,
) -> str:
    """DuckDB replica of video_neardup; ``frames_sql`` yields
    (media_id, frame_idx, pixels LIST). Same band math, UNION-branch
    candidates, distinct frame-pair verify, count-distinct rollup."""

    def elem(i: int) -> str:
        return f"p[{i}]"

    bcols = ", ".join(
        f"({_dhash_band_terms(t, width, height, elem)}) AS b{t}"
        for t in range(4)
    )
    branches = "\n          UNION\n".join(
        f"          SELECT a.vid AS vid_a, a.fi AS fi_a,\n"
        f"                 b.vid AS vid_b, b.fi AS fi_b,\n"
        f"                 a.b0 AS b0a, a.b1 AS b1a, a.b2 AS b2a,"
        f" a.b3 AS b3a,\n"
        f"                 b.b0 AS b0b, b.b1 AS b1b, b.b2 AS b2b,"
        f" b.b3 AS b3b\n"
        f"          FROM bands a JOIN bands b\n"
        f"            ON a.b{t} = b.b{t} AND a.vid < b.vid"
        for t in range(4)
    )
    ham = (
        "bit_count(xor(b0a, b0b)) + bit_count(xor(b1a, b1b)) + "
        "bit_count(xor(b2a, b2b)) + bit_count(xor(b3a, b3b))"
    )
    return f"""
        WITH fr AS MATERIALIZED (
          SELECT media_id AS vid, frame_idx AS fi, pixels AS p
          FROM ({frames_sql})
          WHERE len(pixels) = {int(width) * int(height)}
        ), bands AS MATERIALIZED (
          SELECT vid, fi, {bcols} FROM fr
        ), cand AS (
{branches}
        ), matched AS (
          SELECT vid_a, fi_a, vid_b, fi_b FROM cand
          WHERE {ham} <= {int(max_dist)}
        )
        SELECT vid_a, vid_b,
               CAST(count(DISTINCT fi_a) AS BIGINT) AS n_matched
        FROM matched
        GROUP BY vid_a, vid_b
        HAVING count(DISTINCT fi_a) >= {int(min_frames)}
    """


def _hk_band_terms(band: int, elem_cur, elem_prev) -> str:
    """The 8-bit integer for Haitsma-Kalker fingerprint band ``band``
    (0..3) as one SQL sum. Bit k (global bit b = band*8 + k) is set iff
    the band-energy delta STEEPENS frame over frame:

        (E[f][b] - E[f][b+1]) - (E[f-1][b] - E[f-1][b+1]) > 0

    — the classic robust audio fingerprint (sign of the time-frequency
    second difference), needing 33 band energies for 32 bits.
    ``elem_cur(i)`` / ``elem_prev(i)`` render 1-based access to the
    current / previous frame's energy list, so Spark and DuckDB share
    the exact index math (the _dhash_band_terms discipline)."""
    terms = []
    for k in range(8):
        b = band * 8 + k
        cur = f"({elem_cur(b + 1)} - {elem_cur(b + 2)})"
        prv = f"({elem_prev(b + 1)} - {elem_prev(b + 2)})"
        terms.append(
            f"(CASE WHEN {cur} - {prv} > 0 THEN {1 << k} ELSE 0 END)"
        )
    return " + ".join(terms)


def audio_neardup(
    frames: DataFrame,
    track_col: str = "media_id",
    frame_col: str = "frame_idx",
    energies_col: str = "energies",
    max_dist: int = 3,
    min_frames: int = 2,
) -> DataFrame:
    """Near-duplicate AUDIO pairs from frame fingerprints — the audio
    face of the perceptual family (image: dedup_phash, video:
    video_neardup): re-encoded/resampled copies keep the sign pattern
    of spectral-energy second differences, the Haitsma-Kalker
    fingerprint. Input is the spectral-frame table (track id, frame
    idx, 33 band energies as array<int>) — the FFT/mel filterbank that
    produces it is the multimodal codec stub boundary; from energies
    down everything is integer, so the operator is oracle-exact.

    Per frame f >= 1 (frame 0 has no predecessor) the 32-bit
    fingerprint lives as FOUR 8-bit band ints; candidates come from ONE
    folded band-key equi-join (pigeonhole: Hamming <= 3 shares a band),
    verified with bit_count over per-band XORs; tracks are flagged when
    >= ``min_frames`` of the first track's fingerprint frames each
    match SOME frame of the second within ``max_dist`` bits.

    Shape: one narrow checkpoint (track, fi, 33 small ints), one
    track-partitioned lag window (arrays are 33 ints — cheap to
    shuffle), a map-only probe projection, one probe-key shuffle, a
    frame-pair dedup aggregate, one (track_a, track_b) count-distinct
    rollup. Candidates come from the two 16-bit HALVES of the 32-bit
    fingerprint with a Hamming<=1 multiprobe (identity + 16 single-bit
    flips per half on the probe side, exact keys on the other): 3 bit
    errors across 2 halves leave one half with <= 1 error, so recall
    stays exact, while the key space is 2 x 65,536 instead of the four
    8-bit bands' 1,024 — measured at 150k fingerprint frames, the
    candidate join drops from ~712M rows (sum df^2 over 8-bit bands)
    to ~2M-per-half exact-collision volume times the 17 probes. The
    cheap bit_count verify runs BEFORE the frame-pair dedup aggregate
    (duplicate candidate rows carry identical band columns, so
    filter-then-dedup is equivalent and the wide aggregate only sees
    true matches).

    Returns (track_a, track_b, n_matched), n_matched >= min_frames.
    """
    if not 0 <= int(max_dist) <= 3:
        raise ValueError(
            "max_dist must be in [0, 3]: two 16-bit halves with a "
            "ham<=1 multiprobe pigeonhole exactly up to Hamming "
            "distance 3"
        )
    if int(min_frames) <= 0:
        raise ValueError("min_frames must be positive")
    base = (
        frames.select(
            F.col(track_col).alias("trk"),
            F.col(frame_col).alias("fi"),
            F.col(energies_col).cast("array<int>").alias("p"),
        )
        # 33 band energies -> 32 bits; dedup_phash's ANSI/oracle guard
        .filter(F.size("p") == 33)
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("trk").orderBy("fi")
    cur = base.withColumn("q", F.lag("p").over(w)).filter(
        F.col("q").isNotNull()
    )

    def elem_cur(i: int) -> str:
        return f"element_at(p, {i})"

    def elem_prev(i: int) -> str:
        return f"element_at(q, {i})"

    # narrow checkpoint: the window + 66 element_at band folds compute
    # ONCE, not once per join branch (8 small ints per row)
    bands = cur.select(
        "trk", "fi",
        *[
            F.expr(_hk_band_terms(t, elem_cur, elem_prev))
            .cast("int").alias(f"b{t}")
            for t in range(4)
        ],
    ).withColumn(
        "h0", (F.col("b0") * 256 + F.col("b1")).cast("int")
    ).withColumn(
        "h1", (F.col("b2") * 256 + F.col("b3")).cast("int")
    ).localCheckpoint(eager=True)
    # probe side: per half, the identity key plus all 16 single-bit
    # flips (ham<=1 between halves <=> some probe equals the exact key)
    probe_keys = []
    for hi in (0, 1):
        h = F.col(f"h{hi}")
        probe_keys.append(h + F.lit(hi * 65536))
        for j in range(16):
            probe_keys.append(
                h.bitwiseXOR(F.lit(1 << j)) + F.lit(hi * 65536)
            )
    a = bands.withColumn("bk", F.explode(F.array(*probe_keys))).select(
        F.col("trk").alias("trk_a"), F.col("fi").alias("fi_a"),
        *[F.col(f"b{t}").alias(f"b{t}_a") for t in range(4)], "bk",
    )
    b = bands.withColumn(
        "bk",
        F.explode(
            F.array(F.col("h0"), F.col("h1") + F.lit(65536))
        ),
    ).select(
        F.col("trk").alias("trk_b"), F.col("fi").alias("fi_b"),
        *[F.col(f"b{t}").alias(f"b{t}_b") for t in range(4)], "bk",
    )
    ham = sum(
        (
            F.bit_count(
                F.col(f"b{t}_a").bitwiseXOR(F.col(f"b{t}_b"))
            )
            for t in range(4)
        ),
        start=F.lit(0),
    )
    matched = (
        a.join(b, on="bk")
        .filter((F.col("trk_a") < F.col("trk_b")) & (ham <= int(max_dist)))
        .dropDuplicates(["trk_a", "fi_a", "trk_b", "fi_b"])
    )
    return (
        matched.groupBy("trk_a", "trk_b")
        .agg(F.countDistinct("fi_a").cast("bigint").alias("n_matched"))
        .filter(F.col("n_matched") >= int(min_frames))
    )


def oracle_audio_neardup(
    frames_sql: str,
    max_dist: int = 3,
    min_frames: int = 2,
) -> str:
    """DuckDB replica of audio_neardup; ``frames_sql`` yields
    (media_id, frame_idx, energies LIST)."""

    def elem_cur(i: int) -> str:
        return f"p[{i}]"

    def elem_prev(i: int) -> str:
        return f"q[{i}]"

    bcols = ", ".join(
        f"({_hk_band_terms(t, elem_cur, elem_prev)}) AS b{t}"
        for t in range(4)
    )
    branches = "\n          UNION\n".join(
        f"          SELECT a.trk AS trk_a, a.fi AS fi_a,\n"
        f"                 b.trk AS trk_b, b.fi AS fi_b,\n"
        f"                 a.b0 AS b0a, a.b1 AS b1a, a.b2 AS b2a,"
        f" a.b3 AS b3a,\n"
        f"                 b.b0 AS b0b, b.b1 AS b1b, b.b2 AS b2b,"
        f" b.b3 AS b3b\n"
        f"          FROM bands a JOIN bands b\n"
        f"            ON a.b{t} = b.b{t} AND a.trk < b.trk"
        for t in range(4)
    )
    ham = (
        "bit_count(xor(b0a, b0b)) + bit_count(xor(b1a, b1b)) + "
        "bit_count(xor(b2a, b2b)) + bit_count(xor(b3a, b3b))"
    )
    return f"""
        WITH fr AS MATERIALIZED (
          SELECT media_id AS trk, frame_idx AS fi, energies AS p
          FROM ({frames_sql})
          WHERE len(energies) = 33
        ), lagged AS MATERIALIZED (
          SELECT trk, fi, p,
                 lag(p) OVER (PARTITION BY trk ORDER BY fi) AS q
          FROM fr
        ), bands AS MATERIALIZED (
          SELECT trk, fi, {bcols} FROM lagged WHERE q IS NOT NULL
        ), cand AS (
{branches}
        ), matched AS (
          SELECT trk_a, fi_a, trk_b, fi_b FROM cand
          WHERE {ham} <= {int(max_dist)}
        )
        SELECT trk_a, trk_b,
               CAST(count(DISTINCT fi_a) AS BIGINT) AS n_matched
        FROM matched
        GROUP BY trk_a, trk_b
        HAVING count(DISTINCT fi_a) >= {int(min_frames)}
    """


def phash_snapshot_dedup(
    new_images: DataFrame,
    old_images: DataFrame,
    id_col: str = "media_id",
    pixels_col: str = "pixels",
    width: int = 9,
    height: int = 8,
    max_dist: int = 3,
) -> DataFrame:
    """Incremental perceptual dedup: each NEW image against the
    COMMITTED image corpus only — the monthly-crawl shape
    (dedup_incremental / snapshot_dedup for text): the old corpus was
    already deduped when it was committed, so the only joins a new
    snapshot pays are new-bands x old-bands; never old x old, and
    new x new is dedup_phash on the delta alone.

    Same 64-bit dHash / 4x16-bit pigeonhole machinery as dedup_phash
    (exact recall within max_dist); each matching new image reports its
    BEST committed match — min (hamming, then old id) via a min-struct
    aggregate, never a corpus-wide window. New images with no committed
    match produce no row (the caller's left-join decides what "fresh"
    means).

    Returns (media_id, dup_of, hamming) — one row per matched new id.
    """
    if (width - 1) * height != 64:
        raise ValueError(
            "dHash grid must yield 64 bits: (width-1)*height == 64"
        )
    if not 0 <= int(max_dist) <= 3:
        raise ValueError(
            "max_dist must be in [0, 3]: 4 bands of 16 bits pigeonhole "
            "exactly up to Hamming distance 3"
        )

    def bands_of(df: DataFrame, side: str) -> DataFrame:
        # one Arrow pass (dedup_phash's _dhash_bands_arrow): pixels are
        # evaluated once as UDF input, so no wide-array checkpoint; the
        # narrow band rows checkpoint instead (single consumer each,
        # but the explode below would otherwise re-derive them under
        # InferFiltersFromGenerate)
        return _dhash_bands_arrow(
            df.select(
                F.col(id_col).alias(f"id_{side}"),
                F.col(pixels_col).cast("array<int>").alias("p"),
            ),
            [f"id_{side}"], "p", width, height, False,
        ).select(
            f"id_{side}",
            *[F.col(f"b{t}").alias(f"b{t}_{side}") for t in range(4)],
        ).localCheckpoint(eager=True)

    def keyed_of(bands: DataFrame, side: str) -> DataFrame:
        bkey = F.expr(
            f"CASE bi WHEN 0 THEN b0_{side} WHEN 1 THEN b1_{side} "
            f"WHEN 2 THEN b2_{side} ELSE b3_{side} END + bi * 65536"
        )
        return bands.withColumn(
            "bi", F.explode(F.array(*[F.lit(t) for t in range(4)]))
        ).select(
            f"id_{side}", *[f"b{t}_{side}" for t in range(4)],
            bkey.alias("bk"),
        )

    # independent band materializations overlap (guide §2.6; the
    # snapshot_dedup r7 pattern)
    from navigator_document_parser_spark.operators import (
        materialize_concurrently,
    )

    b_new, b_old = materialize_concurrently(
        new_images.sparkSession,
        lambda: bands_of(new_images, "new"),
        lambda: bands_of(old_images, "old"),
    )
    nw = keyed_of(b_new, "new")
    od = keyed_of(b_old, "old")
    ham = sum(
        (
            F.bit_count(
                F.col(f"b{t}_new").bitwiseXOR(F.col(f"b{t}_old"))
            )
            for t in range(4)
        ),
        start=F.lit(0),
    )
    matched = (
        nw.join(od, on="bk")
        .dropDuplicates(["id_new", "id_old"])
        .withColumn("hamming", ham.cast("bigint"))
        .filter(F.col("hamming") <= int(max_dist))
    )
    best = matched.groupBy("id_new").agg(
        F.min(F.struct("hamming", F.col("id_old").alias("dup_of")))
        .alias("w")
    )
    return best.select(
        F.col("id_new").alias(id_col),
        F.col("w.dup_of").alias("dup_of"),
        F.col("w.hamming").alias("hamming"),
    )


def oracle_phash_snapshot_dedup(
    new_sql: str,
    old_sql: str,
    width: int = 9,
    height: int = 8,
    max_dist: int = 3,
) -> str:
    """DuckDB replica of phash_snapshot_dedup; both inputs yield
    (media_id, pixels LIST)."""

    def elem(i: int) -> str:
        return f"p[{i}]"

    bcols = ", ".join(
        f"({_dhash_band_terms(t, width, height, elem)}) AS b{t}"
        for t in range(4)
    )
    branches = "\n          UNION\n".join(
        f"          SELECT n.id AS id_new, o.id AS id_old,\n"
        f"                 n.b0 AS b0n, n.b1 AS b1n, n.b2 AS b2n,"
        f" n.b3 AS b3n,\n"
        f"                 o.b0 AS b0o, o.b1 AS b1o, o.b2 AS b2o,"
        f" o.b3 AS b3o\n"
        f"          FROM nbands n JOIN obands o ON n.b{t} = o.b{t}"
        for t in range(4)
    )
    ham = (
        "bit_count(xor(b0n, b0o)) + bit_count(xor(b1n, b1o)) + "
        "bit_count(xor(b2n, b2o)) + bit_count(xor(b3n, b3o))"
    )
    grid = int(width) * int(height)
    return f"""
        WITH nimgs AS MATERIALIZED (
          SELECT media_id AS id, pixels AS p FROM ({new_sql})
          WHERE len(pixels) = {grid}
        ), oimgs AS MATERIALIZED (
          SELECT media_id AS id, pixels AS p FROM ({old_sql})
          WHERE len(pixels) = {grid}
        ), nbands AS MATERIALIZED (
          SELECT id, {bcols} FROM nimgs
        ), obands AS MATERIALIZED (
          SELECT id, {bcols} FROM oimgs
        ), cand AS (
{branches}
        ), matched AS (
          SELECT id_new, id_old, CAST({ham} AS BIGINT) AS hamming
          FROM cand WHERE {ham} <= {int(max_dist)}
        )
        SELECT id_new AS media_id, id_old AS dup_of, hamming
        FROM (
          SELECT *, row_number() OVER (PARTITION BY id_new
                   ORDER BY hamming ASC, id_old ASC) AS rn
          FROM matched
        )
        WHERE rn = 1
    """
