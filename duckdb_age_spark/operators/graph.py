"""Graph operators over derived relational graphs.

PageRank here is the 'iterative distributed algorithm' counterpart to
connected components (dedup.py) and Lloyd k-means (similarity.py), with one
extra discipline: ALL arithmetic is fixed-point integer.  Floating-point
PageRank sums contributions in partition order, so two engines (or two
runs) disagree in the last ulp; with ranks scaled to integers and integer
division everywhere, every iteration is bit-exact in any engine — which is
what lets a DuckDB oracle verify a distributed Spark computation hash-for-
hash.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .iterate import (
    collect_small,
    driver_byte_budget,
    min_superstep,
    symmetric_adjacency,
    truncate_if_needed,
    truncate_lineage,
)

SCALE = 10**12
_INT64_MAX = np.iinfo(np.int64).max


def _pagerank_on_driver(
    spark: SparkSession,
    node: StructField,
    src: np.ndarray,
    dst: np.ndarray,
    w: np.ndarray | None,
    n_iter: int,
    damping_pct: int,
    base_pct: int,
) -> DataFrame | None:
    """numpy twin of the distributed PageRank loop below, bit for bit, on
    NULL-free int64 edge arrays (``w`` None = unweighted: contrib = rank DIV
    outdeg; else (rank·w) DIV Σ_out w).

    The distributed arithmetic it reproduces: every DIV has non-negative
    operands, so it is ``floor_divide``; per-dst sums accumulate in int64
    (``np.add.at``, never a float bincount).  ``node`` is the distributed
    frame's node field, so both regimes return one schema.

    Returns None — the caller then runs the distributed loop, which raises
    or yields NULL exactly as Spark does — wherever numpy would differ:
    damping outside [0, 100] (negative ranks, where DIV truncates),
    negative weights, a zero weight sum, or any int64 product or sum that
    could overflow (Spark raises under ANSI; numpy would wrap).
    """
    if not 0 <= damping_pct <= 100:
        return None
    ids = np.unique(np.concatenate([src, dst]))
    n = len(ids)
    if n == 0:  # empty graph: 0-row result, not a ZeroDivisionError
        return spark.createDataFrame([], "node bigint, rank bigint")
    si, di = np.searchsorted(ids, src), np.searchsorted(ids, dst)
    if w is None:
        denom = np.bincount(si, minlength=n).astype(np.int64)[si]
    else:
        if w.size and (w.min() < 0 or w.max() > _INT64_MAX // w.size):
            return None
        sw = np.zeros(n, np.int64)
        np.add.at(sw, si, w)
        denom = sw[si]
        if (denom == 0).any():
            return None
    rank = np.full(n, SCALE // n, np.int64)
    base = SCALE * base_pct // (100 * n)
    for _ in range(n_iter):
        r = rank[si]
        if w is None:
            c = r // denom
        else:
            if r.size and r.max() > _INT64_MAX // max(int(w.max()), 1):
                return None
            c = (r * w) // denom
        s = np.zeros(n, np.int64)
        np.add.at(s, di, c)
        if s.max() > (_INT64_MAX - base) // max(damping_pct, 1):
            return None
        rank = base + (damping_pct * s) // 100
    schema = StructType([node, StructField("rank", LongType(), True)])
    return spark.createDataFrame(pa.table({"node": ids, "rank": rank}), schema=schema)


# The distributed PageRank loop cuts lineage every this many rounds (lazily,
# never after the last round), which bounds the plan of a long run.  A cut
# per round costs more than it saves: on 1M random edges over 300k ids at
# local[4] it slowed 3 rounds from 5.4 to 7.2 s.
_PAGERANK_TRUNCATE_EVERY = 10


def _pagerank(
    edges: DataFrame, weighted: bool, n_iter: int, damping_pct: int, base_pct: int
) -> DataFrame:
    """The one PageRank body behind :func:`pagerank_exact` (``weighted``
    False: contrib = rank DIV outdeg) and :func:`weighted_pagerank` (True:
    (rank·w) DIV Σ_out w): the small-graph gate, then the distributed loop.
    ``base_pct`` is the teleport share of SCALE ÷ N added every round."""
    cols = ("src", "dst", "w") if weighted else ("src", "dst")
    # edges feeds the node set, the out-degrees, and every iteration's join;
    # nodes feeds the count, the rank init, and every iteration's left join.
    # Without truncation each consumer re-executed the caller's edge
    # derivation (graph_pagerank's lineitem⋈orders+distinct appeared ~6x in
    # the unrolled plan) — r15 optimization round, guide §1.2/§2.4.  Skipped
    # when the caller already hands a checkpoint leaf (copurchase_edges
    # truncates its own output) — re-materializing it is pure overhead
    # (VERDICT r15 item 4; r16).  The small-graph gate's count materializes
    # these blocks, so over the cap its work is reused below.
    edges = truncate_if_needed(edges.select(*cols))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    small = collect_small(edges, driver_byte_budget(edges.sparkSession), cols)
    if small is not None and not any(c.null_count for c in small.columns):
        src, dst, *w = (c.to_numpy().astype(np.int64, copy=False) for c in small.columns)
        out = _pagerank_on_driver(
            edges.sparkSession, nodes.schema["node"], src, dst, w[0] if w else None,
            n_iter, damping_pct, base_pct,
        )
        if out is not None:
            return out
    nodes = truncate_lineage(nodes)
    n = nodes.count()  # one scalar to the driver; fixed for the run
    if n == 0:  # empty graph: 0-row result, not a ZeroDivisionError
        return edges.sparkSession.createDataFrame([], "node bigint, rank bigint")
    if weighted:
        denom, contrib = F.sum("w").alias("sw"), "(rank * w) DIV sw"
    else:
        denom, contrib = F.count("*").alias("deg"), "rank DIV deg"
    per_src = edges.groupBy("src").agg(denom)
    base = SCALE * base_pct // (100 * n)
    ranks = nodes.select("node", F.lit(SCALE // n).cast("long").alias("rank"))
    for it in range(1, n_iter + 1):
        sums = (
            edges.join(ranks, edges.src == ranks.node)
            .join(per_src, "src")
            .select("dst", F.expr(contrib).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(sums, nodes.node == sums.dst, "left").select(
            "node",
            (F.lit(base) + F.expr(f"({damping_pct} * coalesce(s, 0)) DIV 100")).cast("long").alias("rank"),
        )
        if it % _PAGERANK_TRUNCATE_EVERY == 0 and it < n_iter:
            ranks = truncate_lineage(ranks)
    return ranks


def pagerank_exact(edges: DataFrame, n_iter: int = 3, damping_pct: int = 85) -> DataFrame:
    """Fixed-point PageRank over a directed edge list (src, dst).

    rank₀(v) = SCALE ÷ N; each iteration
        rank'(v) = (15·SCALE) ÷ (100·N) + (85 · Σ_{u→v} rank(u) ÷ outdeg(u)) ÷ 100
    with every ÷ an integer division — deterministic at any partitioning.
    Dangling-node mass is dropped (the standard simplification; determinism
    is unaffected because the same rule runs in the oracle).

    Scale shape: per iteration one join (ranks⋈edges, broadcast-or-shuffle
    by AQE) and one map-side-combined sum shuffle keyed by dst — identical
    to the classic Pregel formulation.  Lineage is cut lazily every 10
    iterations (never after the last), so the default 3 unrolled
    iterations run with no cut and a long run's plan never embeds more
    than 10 of them (:func:`~.iterate.truncate_lineage`: durable when the
    context has a checkpoint dir).
    Small-graph regime: when the edge list passes
    :func:`~.iterate.collect_small`, a numpy int64 kernel runs every
    iteration on the driver, bit for bit the same arithmetic
    (:func:`_pagerank_on_driver`) — at most two Spark jobs before the
    caller's action instead of one per iteration plus the node count.
    Anything else runs the distributed loop, including any edge list with
    a NULL endpoint (a NULL is a node of N there).  An empty edge list
    returns 0 rows of (node bigint, rank bigint).
    Returns (node, rank) with rank in SCALE units; ``node`` keeps the input
    id type.
    """
    return _pagerank(edges, False, n_iter, damping_pct, 15)


def weighted_pagerank(
    edges: DataFrame, n_iter: int = 3, damping_pct: int = 85
) -> DataFrame:
    """Edge-weighted fixed-point PageRank over a directed (src, dst, w)
    list: mass flows proportionally to edge weight instead of uniformly
    over out-edges — the form co-purchase / citation-strength graphs need.

    Same integer discipline as :func:`pagerank_exact` (every ÷ an integer
    division, bit-exact at any partitioning) with the weighted kernel
        contrib(u→v) = (rank(u) · w(u,v)) DIV Σ_out w(u).
    Overflow headroom: rank ≤ SCALE (10¹²) and the multiply happens before
    the divide, so weights up to ~9·10⁶ fit int64 — far above any support
    count this graph produces.  Per iteration: one join + one map-side-
    combined sum, the same loop as the unweighted one.
    Small-graph regime as in :func:`pagerank_exact` (``w`` counts as a
    third collected column); it falls back to the distributed loop when
    rank·w could overflow int64, where Spark raises under ANSI and numpy
    would wrap.
    Returns (node, rank) in SCALE units.
    """
    return _pagerank(edges, True, n_iter, damping_pct, 100 - damping_pct)


def _bfs(adj: DataFrame, seeds: DataFrame, max_hops: int) -> DataFrame:
    """Multi-source BFS over the cached symmetric adjacency ``adj`` from
    every row of ``seeds`` (seed): (seed, node, hops) for every node within
    ``max_hops`` of each seed, the seed itself at hops 0.

    The min-propagation superstep keyed on (seed, node) with message
    hops + 1 (:func:`~.iterate.min_superstep`): a pair is first reached at
    its shortest hop count, so only the pairs reached last round send, and
    work per round is O(edges touching the frontier × seeds).  Hop counts
    are exact integers, so a DuckDB recursive CTE (UNION dedup mode,
    min(hops) per pair) replays it.  The round-1 frontier is the seed rows,
    hinted as a broadcast."""
    state = seeds.select("seed", F.col("seed").alias("node"), F.lit(0).alias("hops"))
    return min_superstep(state, adj, "hops", F.col("hops") + 1, max_hops, broadcast_seeds=True)


def _smallest_nodes(adj: DataFrame, n: int) -> DataFrame:
    """The ``n`` smallest non-NULL node ids of ``adj`` as a (seed) frame,
    selected in-plan (top-k, then broadcast into the BFS init) — no driver
    round trip, and 0 rows on an empty graph."""
    nodes = adj.select(F.col("src").alias("seed")).where(F.col("seed").isNotNull()).distinct()
    return nodes.orderBy("seed").limit(n)


def bfs_hops(edges: DataFrame, source: int | None = None, max_hops: int = 3) -> DataFrame:
    """Breadth-first hop distances from ``source`` (default: the smallest
    node id) over an undirected (src < dst) edge list — the
    frontier-expansion companion to :func:`pagerank_exact` (fixed-point)
    and connected components (min-label propagation, dedup.py).

    The one-seed case of :func:`harmonic_closeness`'s multi-source BFS
    (:func:`_bfs`): the default source is selected in-plan, an explicit one
    is a one-row seed frame.  ``max_hops`` bounds the rounds; the loop
    stops earlier once no node is newly reached.  An empty graph returns 0
    rows.
    Returns (node, hops) for every node within max_hops.
    """
    adj = symmetric_adjacency(edges)
    try:
        if source is None:
            seeds = _smallest_nodes(adj, 1)
        else:
            seeds = edges.sparkSession.createDataFrame([(int(source),)], "seed long")
        visited = _bfs(adj, seeds, max_hops)
        return visited.select(F.col("node").cast("bigint"), F.col("hops").cast("bigint"))
    finally:
        adj.unpersist()


def edge_jaccard_similarity(edges: DataFrame) -> DataFrame:
    """Neighborhood Jaccard overlap for every ADJACENT pair — the classic
    link-strength / embeddedness measure (common-neighbors ÷ union) used to
    weight graph edges for community detection and recommendation.

    Common-neighbor counts reuse the triangle wedge shape: a wedge (a; b, c)
    witnesses one shared neighbor of the pair (b, c), so counting wedges per
    (b, c) and keeping only pairs that are themselves edges gives
    |N(b)∩N(c)| in two shuffles with per-key-bounded fan-out.  Restricting
    output to adjacent pairs is what bounds the result at scale: all-pairs
    Jaccard is quadratic, edge-wise Jaccard is O(E).  The ratio is one IEEE
    division of exact longs — engine-identical, no rounding needed.
    Returns (src, dst, common_neighbors, jaccard).
    """
    # checkpoint the edge list ONCE: it feeds five branches (both wedge
    # sides, the degree table, and the output join) and for a derived graph
    # each branch would otherwise re-execute the whole upstream derivation —
    # the same lineage-fan-out bfs_hops guards against; skipped when the
    # input is already a leaf (VERDICT r15 item 4)
    edges = truncate_if_needed(edges.select("src", "dst"))
    adj = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = adj.groupBy("src").agg(F.count("*").alias("deg"))
    w1 = adj.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    w2 = adj.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    common = (
        w1.join(w2, "a")
        .where(F.col("b") < F.col("c"))
        .groupBy("b", "c")
        .agg(F.count("*").alias("common"))
    )
    e = edges
    paired = e.join(common, (e.src == common.b) & (e.dst == common.c), "left").select(
        "src", "dst", F.coalesce(F.col("common"), F.lit(0)).alias("common")
    )
    da = deg.select(F.col("src").alias("_a"), F.col("deg").alias("deg_src"))
    db = deg.select(F.col("src").alias("_b"), F.col("deg").alias("deg_dst"))
    return (
        paired.join(da, paired.src == da._a)
        .join(db, paired.dst == db._b)
        .select(
            F.col("src").cast("bigint"),
            F.col("dst").cast("bigint"),
            F.col("common").cast("bigint").alias("common_neighbors"),
            (
                F.col("common").cast("double")
                / (F.col("deg_src") + F.col("deg_dst") - F.col("common")).cast("double")
            ).alias("jaccard"),
        )
    )


def morton_code(x, y, bits: int = 10):
    """Interleave the low ``bits`` of two integer columns into a Z-order
    (Morton) code — pure integer bit arithmetic, identical in any engine."""
    z = F.lit(0)
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def zorder_layout_stats(orders: DataFrame, bits: int = 10, file_bits: int = 6) -> DataFrame:
    """Z-order data-layout assignment + locality report.

    Multi-dimensional clustering for scan pruning: rows sorted by the Morton
    code of (customer, price-bucket) land in files whose min/max ranges are
    TIGHT in BOTH dimensions, so a predicate on either column prunes most
    files — the technique behind Delta/Iceberg Z-ordering, expressed as
    plain integer arithmetic.  Returns one row per z-file: row count and
    min/max of each dimension (the file-skipping index a 100 TB table would
    persist).  Everything is exact integer math, oracle-verifiable.
    """
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    x = (F.col("o_custkey") % (1 << bits)).cast("long")
    y = F.expr(f"CAST(round(o_totalprice * 100) AS BIGINT) DIV 5000000 % {1 << bits}").cast("long")
    z = morton_code(x, y, bits)
    zfile = F.expr(f"z DIV {1 << (2 * bits - file_bits)}")
    return (
        orders.select(x.alias("x"), y.alias("y"), z.alias("z"), cents.alias("cents"))
        .withColumn("z_file", zfile.cast("long"))
        .groupBy("z_file")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("x").cast("bigint").alias("min_cust"),
            F.max("x").cast("bigint").alias("max_cust"),
            F.min("y").cast("bigint").alias("min_price_bucket"),
            F.max("y").cast("bigint").alias("max_price_bucket"),
        )
    )


def copurchase_edges(
    orders: DataFrame, lineitem: DataFrame, min_shared_parts: int = 2
) -> DataFrame:
    """Customer similarity graph: an undirected edge (src < dst) between two
    customers whose order histories share at least ``min_shared_parts``
    distinct parts — the basket-overlap graph behind co-purchase
    recommendations and audience clustering.

    Shape: lineitem joins orders once to attach custkey, distinct
    (cust, part) pairs, then a PART-keyed self-join — the join fan-out is
    bounded per part by that part's buyer count, never all-pairs over
    customers — and a map-side-combined count keyed by the pair.  The
    support threshold is what keeps the graph sparse: co-buying ONE shared
    part is noise at any scale, and filtering on count >= k drops the long
    tail before the edge list materializes.  At 100 TB add a hot-part cap
    (skip parts with more buyers than a bound) — a standard frequency
    cutoff that bounds the quadratic per-key term; unnecessary at these SFs.
    """
    cp = (
        lineitem.join(orders.select("o_orderkey", "o_custkey"), lineitem.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    # both self-join sides consume cp: without truncation the
    # lineitem⋈orders+distinct derivation executes TWICE per call
    # (r15 optimization round; guide §1.2/§2.4)
    cp = truncate_lineage(cp)
    a = cp.select(F.col("cust").alias("src"), "part")
    b = cp.select(F.col("cust").alias("dst"), "part")
    plan = (
        a.join(b, "part")
        .where(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("shared_parts"))
        .where(F.col("shared_parts") >= min_shared_parts)
        .select("src", "dst", "shared_parts")
    )
    # every consumer of this graph (triangle census, wedges, degrees,
    # modularity, link prediction, ...) reads the edge list several times
    # in one plan; Spark does not share common subtrees, so an un-truncated
    # return re-ran the whole derivation once per branch (measured:
    # graph_triangles re-derived it 4x).  The blocks are ContextCleaner-
    # managed — no CacheManager entry, so the bench's cache-hygiene gate
    # stays clean.  The un-truncated plan stays inspectable for the plan
    # tests as ``._pre_checkpoint_plan`` (as iterate.materialize_and_release
    # leaves it).
    out = truncate_lineage(plan)
    out._pre_checkpoint_plan = plan
    return out


def triangle_stats(edges: DataFrame, orientation: str = "id") -> DataFrame:
    """Triangle census of an undirected (src < dst) edge list: node/edge/
    wedge/triangle counts and the closed-wedge ratio.

    ``orientation`` picks the wedge-join orientation:

    * ``"id"`` (default) — edges already satisfy src < dst, so a wedge is
      e1(a,b) ⋈ e2(a,c) with b < c and a triangle additionally needs (b,c)
      in the edge set — each triangle a<b<c is counted exactly once with no
      symmetric duplication.  Intermediate size is Σ_a C(outdeg(a), 2): fine
      on unskewed graphs, QUADRATIC on a star whose hub has the lowest id.
    * ``"degree"`` — each edge is re-oriented toward its
      (degree, id)-GREATER endpoint before wedging (rank encoded as
      deg·2³² + id, one sortable long both engines compare identically).
      Every out-degree is then provably ≤ O(√E) (a node with out-rank
      neighbors of even higher rank can have at most O(√E) of them), so the
      wedge count is bounded by O(E^1.5) REGARDLESS of skew — the standard
      degree-ordered triangle counting bound (Schank & Wagner 2005; the
      same orientation GraphFrames/Spark GraphX use).  n_triangles,
      n_nodes, n_edges are orientation-invariant; n_wedges is the (smaller)
      degree-oriented wedge count.

    Two shuffles either way (self-join on the wedge apex, hash join of
    wedges against edges) plus, for ``degree``, one degree aggregation
    re-keyed on the edge endpoints.  The census aggregate is map-side
    combinable to a single row.
    Ratio is an IEEE division of two exact longs — engine-identical.
    """
    # e feeds both wedge sides, the closing join, the node set, and the
    # edge count — truncate so a derived edge list computes once (the
    # degree branch already did this for its re-oriented copy; r15, §1.2);
    # skipped when the input is already a leaf (VERDICT r15 item 4)
    e = truncate_if_needed(edges.select("src", "dst"))
    if orientation == "degree":
        # undirected degree per endpoint, one map-side-combined aggregate
        und = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        deg = und.groupBy("src").agg(F.count("*").alias("deg"))
        rank = (F.col("deg").cast("long") * F.lit(1 << 32) + F.col("src")).alias("rank")
        rk = deg.select(F.col("src").alias("node"), rank)
        ra = rk.select(F.col("node").alias("src"), F.col("rank").alias("rank_src"))
        rb = rk.select(F.col("node").alias("dst"), F.col("rank").alias("rank_dst"))
        ranked = e.join(ra, "src").join(rb, "dst")
        # re-orient toward the rank-greater endpoint; carry the head rank so
        # the wedge filter below needs no extra join
        d = ranked.select(
            F.when(F.col("rank_src") < F.col("rank_dst"), F.col("src")).otherwise(F.col("dst")).alias("src"),
            F.when(F.col("rank_src") < F.col("rank_dst"), F.col("dst")).otherwise(F.col("src")).alias("dst"),
            F.greatest("rank_src", "rank_dst").alias("rank_head"),
        )
        d = truncate_lineage(d)  # consumed by both wedge sides + the closing join
        w1 = d.select(F.col("src").alias("a"), F.col("dst").alias("b"), F.col("rank_head").alias("rank_b"))
        w2 = d.select(F.col("src").alias("a"), F.col("dst").alias("c"), F.col("rank_head").alias("rank_c"))
        wedges = w1.join(w2, "a").where(F.col("rank_b") < F.col("rank_c"))
        tri = wedges.join(
            d.select(F.col("src").alias("b"), F.col("dst").alias("c")), ["b", "c"]
        )
    elif orientation == "id":
        w1 = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        w2 = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
        wedges = w1.join(w2, "a").where(F.col("b") < F.col("c"))
        tri = wedges.join(
            e.select(F.col("src").alias("b"), F.col("dst").alias("c")), ["b", "c"]
        )
    else:
        raise ValueError(f"orientation must be 'id' or 'degree', got {orientation!r}")
    nodes = e.select(F.col("src").alias("n")).unionAll(e.select(F.col("dst").alias("n"))).distinct()
    census = (
        wedges.agg(F.count("*").alias("n_wedges"))
        .crossJoin(tri.agg(F.count("*").alias("n_triangles")))
        .crossJoin(e.agg(F.count("*").alias("n_edges")))
        .crossJoin(nodes.agg(F.count("*").alias("n_nodes")))
    )
    return census.select(
        F.col("n_nodes").cast("bigint"),
        F.col("n_edges").cast("bigint"),
        F.col("n_wedges").cast("bigint"),
        F.col("n_triangles").cast("bigint"),
        F.when(
            F.col("n_wedges") > 0,
            F.col("n_triangles").cast("double") / F.col("n_wedges").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("closed_wedge_ratio"),
    )


def kcore_peel(edges: DataFrame, k: int = 2, rounds: int = 4) -> DataFrame:
    """k-core peeling: iteratively delete nodes with degree < k (and their
    edges) for a FIXED number of rounds — the density filter that strips
    low-engagement fringe off a graph before community detection or
    embedding training.

    Fixed rounds instead of a convergence action: the round count is part
    of the operator's contract, so the DuckDB oracle UNROLLS the identical
    rounds as CTEs and equality is by construction (a converged-loop
    variant would need a data-dependent round count the oracle can't
    replay).  On these fixtures 4 rounds converge; callers with deeper
    peel chains raise ``rounds``.

    Per round: one map-side-combined degree count + two semi-joins of the
    edge list against the survivor set, lineage truncated per round with an
    EAGER checkpoint — lazy checkpoints would leave every prior
    round's plan nested inside the next (keep is consumed by two semi-
    joins, so the un-truncated tree doubles per round: measured 169 s → 3 s
    at sf0.01 switching to eager).  O(rounds · E) total.
    Returns (node, degree) for surviving nodes with their in-core degree.
    """
    e = truncate_if_needed(edges.select("src", "dst"))
    for _ in range(rounds):
        und = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        deg = und.groupBy("src").agg(F.count("*").alias("deg"))
        keep = deg.where(F.col("deg") >= k).select(F.col("src").alias("node"))
        e = truncate_lineage(
            e.join(keep.select(F.col("node").alias("src")), "src", "left_semi")
            .join(keep.select(F.col("node").alias("dst")), "dst", "left_semi")
            .select("src", "dst"),
            eager=True,
        )
    und = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return (
        und.groupBy("src")
        .agg(F.count("*").alias("degree"))
        .select(F.col("src").cast("bigint").alias("node"), F.col("degree").cast("bigint"))
    )


def label_propagation(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """Community detection by synchronous label propagation with a
    DETERMINISTIC tie rule: each round every node adopts the most frequent
    label among its neighbors, ties broken by the smallest label (a node
    with no neighbors keeps its label).  Fixed ``rounds`` — like
    :func:`kcore_peel`, the round count is part of the contract so the
    oracle unrolls identical rounds and equality is by construction
    (classic LPA's random tie-breaks and update order make it
    unverifiable; the min-tie-break synchronous form is the standard
    deterministic variant).

    Per round: one join (labels onto the symmetric edge list), one
    (node, label) count aggregate, one per-node argmax window — all keyed
    by node id, map-side combinable, lineage truncated per round with an
    eager checkpoint.  Returns (node, label).
    """
    from pyspark.sql import Window

    # cached co-partitioned+sorted on src (the per-round join key): every
    # round is its own action (the eager per-round checkpoint), so without
    # this the full symmetric edge list re-shuffles every round — see
    # iterate.loop_join_cache (the CC-loop fix, r13).  The edge list is
    # truncated only when the caller did not hand a checkpoint leaf
    # (copurchase_edges): the redundant re-copy cost this single-consumer
    # path ~1.1 s at sf0.1 (VERDICT r15 item 4).
    sym = symmetric_adjacency(edges)
    try:
        labels = sym.select(F.col("src").alias("node")).distinct().select(
            "node", F.col("node").alias("label")
        )
        if rounds <= 0:  # degenerate call: still return a sym-independent frame
            labels = truncate_lineage(labels, eager=True)
        w = Window.partitionBy("node").orderBy(F.desc("cnt"), F.asc("label"))
        for _ in range(rounds):
            neigh = sym.join(labels, sym.src == labels.node).select(
                F.col("dst").alias("node"), "label"
            )
            counted = neigh.groupBy("node", "label").agg(F.count("*").alias("cnt"))
            labels = truncate_lineage(
                counted.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select("node", "label"),
                eager=True,
            )
        return labels.select(F.col("node").cast("bigint"), F.col("label").cast("bigint"))
    finally:
        # the last round's eager checkpoint already materialized the result,
        # so the returned frame never re-reads the cache (ADVICE r13 medium)
        sym.unpersist()


def topk_similar_customers(edges: DataFrame, k: int = 3) -> DataFrame:
    """Top-k most similar counterparts per customer from the co-purchase
    edge list (symmetrized), ranked by shared-part support with id
    tie-break — the "customers like you" recommendation primitive.

    One shuffle keyed by the anchor customer; rank<=k compiles to
    WindowGroupLimit so each executor ships only its local k candidates
    per anchor.  Returns (cust, similar_cust, shared_parts, rk).
    """
    from pyspark.sql import Window

    sym = edges.select(
        F.col("src").alias("cust"), F.col("dst").alias("similar_cust"), "shared_parts"
    ).unionAll(
        edges.select(
            F.col("dst").alias("cust"), F.col("src").alias("similar_cust"), "shared_parts"
        )
    )
    w = Window.partitionBy("cust").orderBy(F.desc("shared_parts"), F.asc("similar_cust"))
    return (
        sym.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            F.col("cust").cast("bigint"),
            F.col("similar_cust").cast("bigint"),
            F.col("shared_parts").cast("bigint"),
            F.col("rk").cast("bigint"),
        )
    )


def degree_distribution(edges: DataFrame) -> DataFrame:
    """Log2-binned degree histogram of an undirected edge list — the
    shape diagnostic (power law? hub-dominated?) that decides whether the
    skew guards (degree orientation, hot caps, salting) are needed.

    bin = floor(log2(degree)) computed as the BIT LENGTH of an exact
    integer (63 − number of leading zeros via comparison chain is
    engine-messy; instead length(base-2 string) − 1, exact in both
    engines).  Two map-side-combined aggregates.
    Returns (degree_bin, lo_degree, n_nodes).
    """
    und = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = und.groupBy("src").agg(F.count("*").alias("deg"))
    # floor(log2(d)) via the length of the binary representation: exact
    # integer arithmetic, immune to libm log2 edge cases at powers of two
    dbin = (F.length(F.conv(F.col("deg").cast("string"), 10, 2)) - 1).cast("int")
    return (
        deg.select(dbin.alias("degree_bin"))
        .groupBy("degree_bin")
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
        .select(
            F.col("degree_bin").cast("bigint"),
            F.expr("CAST(shiftleft(1L, CAST(degree_bin AS INT)) AS BIGINT)").alias("lo_degree"),
            "n_nodes",
        )
        .orderBy("degree_bin")
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity: the Pearson correlation between the degrees of
    each edge's endpoints (over both orientations) — positive means hubs
    link to hubs, negative means hub-and-spoke; decides whether
    degree-based partitioning helps.

    Exact integer degrees; sufficient statistics accumulate as
    decimal(38,0) (same identity as daily_autocorr) with one terminal
    sqrt/division rounded 6 dp.  Two map-side-combined aggregates plus one
    degree join back onto the edge list.
    Returns one row (n_edges, assortativity).
    """
    und = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = und.groupBy("src").agg(F.count("*").alias("deg"))
    da = deg.select(F.col("src").alias("a"), F.col("deg").alias("dx"))
    db = deg.select(F.col("src").alias("b"), F.col("deg").alias("dy"))
    pairs = (
        und.join(da, und.src == da.a)
        .join(db, und.dst == db.b)
        .select(
            F.col("dx").cast("decimal(38,0)").alias("x"),
            F.col("dy").cast("decimal(38,0)").alias("y"),
        )
    )
    agg = pairs.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return agg.select(
        (F.col("n") / 2).cast("bigint").alias("n_edges"),
        F.when(den > 0, F.round(num / den, 6)).otherwise(F.lit(0.0)).alias("assortativity"),
    )


def clustering_coefficient(edges: DataFrame, k: int = 20) -> DataFrame:
    """Per-node local clustering coefficient over an undirected (src < dst)
    edge list: coeff = 2·T_v / (deg_v·(deg_v−1)), reported for the top-k
    nodes as an EXACT parts-per-million integer — (2·T_v·10⁶) div
    (deg·(deg−1)) — so no float ratio can diverge between engines.

    T_v comes from the id-oriented triangle enumeration (each triangle
    a<b<c once) exploded to its three corners and counted per corner: one
    wedge self-join + one closing hash join + a partial-aggregated corner
    count.  Degrees are a map-side-combined aggregate of the symmetrized
    edge list.  Top-k rides WindowGroupLimit.  For hub-skewed graphs swap
    the enumeration for the degree orientation (triangle_stats
    ``orientation='degree'``) — per-corner counts are identical.
    """
    e = edges.select("src", "dst")
    w1 = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    w2 = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    wedges = w1.join(w2, "a").where(F.col("b") < F.col("c"))
    tri = wedges.join(e.select(F.col("src").alias("b"), F.col("dst").alias("c")), ["b", "c"])
    tv = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_tri"))
    )
    und = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = (
        und.groupBy("src")
        .agg(F.count("*").cast("long").alias("deg"))
        .withColumnRenamed("src", "node")
    )
    scored = (
        deg.join(tv, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri"),
        )
        .where(F.col("deg") >= 2)
        .withColumn("coeff_ppm", F.expr("(2 * n_tri * 1000000) div (deg * (deg - 1))"))
    )
    from .topk import global_top_k

    # orderBy+limit (TakeOrderedAndProject) — a partition-less rank window
    # would sort the whole node table in one task (operators/topk.py)
    return (
        global_top_k(scored, [F.desc("coeff_ppm"), F.asc("node")], k)
        .select("rk", "node", "deg", "n_tri", "coeff_ppm")
        .orderBy("rk")
    )


def weighted_sssp(edges: DataFrame, rounds: int = 4, weight_col: str = "w") -> DataFrame:
    """Bellman-Ford single-source shortest paths over an undirected weighted
    edge list, ``rounds`` relaxation rounds from the smallest ``src`` id (a
    deterministic source needing no driver round-trip: a 1-row min
    aggregate; an empty graph has no source and returns 0 rows).

    Weights must be INTEGERS (cast to long) — path costs are then exact
    sums, so the per-round ``min`` is engine-identical (no float path-cost
    ties).  A NULL weight makes every path through that edge NULL, which
    ``min`` skips: a node reached only over such paths has a NULL dist.
    The rounds are :func:`~.iterate.min_superstep` with message dist + w
    (round 1 broadcasts the one-row source): only nodes whose distance
    changed last round relax their edges, and the loop stops early once no
    distance changes.
    After round t every ≤t-hop shortest path is final, so ``rounds`` bounds
    path length exactly like the kcore/BFS fixed-round contracts.
    Returns (node, dist) for every node reached within ``rounds`` hops.
    """
    e = truncate_if_needed(
        edges.select("src", "dst", F.col(weight_col).cast("long").alias("w"))
    )
    adj = symmetric_adjacency(e, "w")
    try:
        source = (
            e.agg(F.min("src").alias("node"))
            .where(F.col("node").isNotNull())  # empty graph: no source
            .select("node", F.lit(0).cast("long").alias("dist"))
        )
        dist = min_superstep(
            source, adj, "dist", F.col("dist") + F.col("w"), rounds, broadcast_seeds=True
        )
        return dist.select(F.col("node").cast("long"), F.col("dist").cast("long")).orderBy("node")
    finally:
        adj.unpersist()


def community_modularity(edges: DataFrame, labels: DataFrame, k: int = 10) -> DataFrame:
    """Newman modularity of a community assignment over an undirected
    (src < dst) edge list, EXACTLY: per community c,

        contrib_c = e_c·4m − deg_c²   (all BIGINT),   Q = Σ contrib_c / 4m²

    so the only float op is the single terminal division both engines
    perform on identical integers.  Reports the top-k communities by size
    (node count desc, label tie-break) with their exact contribution
    numerators, plus the global Q on every row (a 1-row broadcast).

    Scale shape: two label-keyed joins (edge endpoints → labels), then
    map-side-combinable per-label aggregates; m and the Q numerator reduce
    to one broadcast row.
    """
    from pyspark.sql import Window

    la = labels.select(F.col("node").alias("src"), F.col("label").alias("la"))
    lb = labels.select(F.col("node").alias("dst"), F.col("label").alias("lb"))
    e = edges.select("src", "dst").join(la, "src").join(lb, "dst")
    e_in = (
        e.where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count("*").cast("long").alias("e_in"))
    )
    und = edges.select("src", "dst")
    deg = (
        und.select(F.col("src").alias("node"))
        .unionAll(und.select(F.col("dst").alias("node")))
        .join(labels, "node")
        .groupBy("label")
        .agg(F.count("*").cast("long").alias("deg_sum"))
    )
    sizes = labels.groupBy("label").agg(F.count("*").cast("long").alias("n_nodes"))
    m_row = edges.agg(F.count("*").cast("long").alias("m"))
    per = (
        sizes.join(deg, "label", "left")
        .join(e_in, "label", "left")
        .select(
            "label",
            "n_nodes",
            F.coalesce("e_in", F.lit(0)).cast("long").alias("e_in"),
            F.coalesce("deg_sum", F.lit(0)).cast("long").alias("deg_sum"),
        )
        .crossJoin(F.broadcast(m_row))
        .withColumn(
            "q_contrib_num",
            (F.col("e_in") * 4 * F.col("m") - F.col("deg_sum") * F.col("deg_sum")).cast(
                "long"
            ),
        )
    )
    total = per.agg(
        F.sum("q_contrib_num").cast("long").alias("q_num"), F.max("m").alias("m")
    ).select(
        (F.col("q_num").cast("double") / (4.0 * F.col("m").cast("double") * F.col("m").cast("double"))).alias(
            "q_total"
        )
    )
    from .topk import global_top_k

    # orderBy+limit (TakeOrderedAndProject) over the per-community frame —
    # community count is corpus-dependent, so the partition-less rank
    # window this replaces was a single-task sort (operators/topk.py)
    return (
        global_top_k(per, [F.desc("n_nodes"), F.asc("label")], k)
        .crossJoin(F.broadcast(total))
        .select("rk", "label", "n_nodes", "e_in", "deg_sum", "q_contrib_num", "q_total")
        .orderBy("rk")
    )


def link_prediction(edges: DataFrame, k: int = 20) -> DataFrame:
    """Common-neighbor link prediction: score NON-adjacent node pairs by
    shared neighbors (the classic graph-ML baseline; its Jaccard form
    normalizes by the neighborhood union).  Returns the top-k predicted
    links as (rk, node_a, node_b, common, jaccard_ppm) — jaccard as exact
    ppm, (cn·10⁶) div (deg_a + deg_b − cn).

    Shape: one wedge self-join on the symmetrized adjacency (bounded by
    Σ deg² — on hub-skewed graphs re-orient by degree first, the
    triangle_stats lesson), a map-side-combined pair count, a broadcast
    anti-join against the existing edge set, and degree joins.  Top-k via
    WindowGroupLimit.
    """
    from pyspark.sql import Window

    e = edges.select("src", "dst")
    und = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    und = truncate_lineage(und)  # feeds wedges + degrees
    w1 = und.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    w2 = und.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    pairs = (
        w1.join(w2, "a")
        .where(F.col("b") < F.col("c"))
        .groupBy(F.col("b").alias("node_a"), F.col("c").alias("node_b"))
        .agg(F.count("*").cast("long").alias("common"))
    )
    existing = e.select(F.col("src").alias("node_a"), F.col("dst").alias("node_b"))
    cand = pairs.join(existing, ["node_a", "node_b"], "left_anti")
    deg = und.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    da = deg.select(F.col("src").alias("node_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("src").alias("node_b"), F.col("deg").alias("deg_b"))
    scored = (
        cand.join(da, "node_a")
        .join(db, "node_b")
        .withColumn(
            "jaccard_ppm",
            F.expr("(common * 1000000) div (deg_a + deg_b - common)"),
        )
    )
    from .topk import global_top_k

    # orderBy+limit (TakeOrderedAndProject) over the candidate-pair frame
    # (neighborhood-join output, corpus-dependent) — the partition-less
    # rank window this replaces was a single-task sort (operators/topk.py)
    return (
        global_top_k(
            scored,
            [F.desc("common"), F.desc("jaccard_ppm"), F.asc("node_a"), F.asc("node_b")],
            k,
        )
        .select("rk", "node_a", "node_b", "common", "jaccard_ppm")
        .orderBy("rk")
    )


def hits_scores(edges: DataFrame, n_iter: int = 2) -> DataFrame:
    """HITS hubs-and-authorities fixed point over a directed (src, dst)
    edge list — the Kleinberg link-analysis twin to :func:`pagerank_exact`
    (ref motivation: ranked retrieval over derived relational graphs).

    Same all-integer discipline as PageRank so a DuckDB oracle can verify
    the distributed iteration hash-for-hash: hub₀(v) = S (S = 10⁶);
    each round computes raw authority a'(v) = Σ_{u→v} hub(u), then
    L1-normalizes in fixed point a(v) = a'(v)·S ÷ Σ a', and symmetrically
    hub'(u) = Σ_{u→v} a(v) with the same normalization.  The classic HITS
    L2 norm is irrational (unverifiable across engines); L1 keeps the same
    fixed point direction and every intermediate an exact integer.

    Overflow: raw sums are ≤ E·S (E = edge count) and the normalization
    multiplies by S before dividing, so the product is staged through
    DECIMAL(38,0) (HUGEINT in the oracle) — exact at any graph size that
    fits a cluster, while the *returned* scores are ≤ S and fit BIGINT.

    Scale shape: per half-round one join (scores⋈edges — broadcast-or-
    shuffle by AQE) + one map-side-combined sum keyed by dst (resp. src)
    + one 1-row total broadcast back; identical shuffle profile to the
    PageRank loop.  The default 2 unrolled rounds keeps lineage flat; pass
    the result through truncate_lineage for long runs at cluster scale.
    Returns (node, hub, auth) with missing directions as 0.
    """
    if n_iter < 1:
        raise ValueError("hits_scores needs n_iter >= 1 (auth is undefined before the first half-round)")
    S = 10**6
    edges = truncate_if_needed(edges)  # feeds node set + every half-round (skip when already a leaf)
    # nodes is consumed by the hub init and both final left joins —
    # truncate so the distinct runs once (r15, guide §1.2)
    nodes = truncate_lineage(
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )

    def _l1_normalize(raw: DataFrame, key: str, out: str) -> DataFrame:
        total = raw.agg(F.sum(F.col("s").cast("decimal(38,0)")).alias("t"))
        return raw.crossJoin(F.broadcast(total)).select(
            F.col(key).alias("node"),
            F.expr(f"CAST((CAST(s AS DECIMAL(38,0)) * {S}) DIV t AS BIGINT)").alias(out),
        )

    hub = nodes.select("node", F.lit(S).cast("long").alias("hub"))
    auth = None
    for _ in range(n_iter):
        a_raw = (
            edges.join(hub, edges.src == hub.node)
            .groupBy("dst")
            .agg(F.sum("hub").alias("s"))
        )
        auth = _l1_normalize(a_raw, "dst", "auth")
        h_raw = (
            edges.join(auth, edges.dst == auth.node)
            .groupBy("src")
            .agg(F.sum("auth").alias("s"))
        )
        hub = _l1_normalize(h_raw, "src", "hub")
    return (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.coalesce("hub", F.lit(0)).cast("long").alias("hub"),
            F.coalesce("auth", F.lit(0)).cast("long").alias("auth"),
        )
    )


def harmonic_closeness(edges: DataFrame, n_seeds: int = 4, max_hops: int = 3) -> DataFrame:
    """Landmark harmonic-closeness centrality: run ONE multi-source BFS
    from the ``n_seeds`` smallest node ids and score every reached node
    as Σ_seeds 1/d(seed, node) — the landmark estimator used where exact
    all-pairs closeness is impossible (it is O(V·E)); more seeds tighten
    it, and the per-round work stays O(edges touching the frontier ×
    seeds).

    Per-(seed, node) hop distances are exact integers and the harmonic
    sum is accumulated in micro-units as ``1_000_000 DIV hops`` — exact
    in any engine and any order, so the DuckDB recursive-CTE replay
    hash-matches.  Seeds are selected IN-PLAN (top-k smallest ids, then
    broadcast into the BFS init) — no driver collect; the BFS is
    :func:`_bfs`, shared with :func:`bfs_hops`.
    Returns (node, n_seeds_reaching, harmonic_micro) ordered by node.
    """
    adj = symmetric_adjacency(edges)
    try:
        visited = _bfs(adj, _smallest_nodes(adj, n_seeds), max_hops)
        return (
            visited.where(F.col("hops") > 0)
            .groupBy("node")
            .agg(
                F.count("*").cast("long").alias("n_seeds_reaching"),
                F.sum(F.expr("1000000 DIV hops")).cast("long").alias("harmonic_micro"),
            )
            .orderBy("node")
        )
    finally:
        adj.unpersist()
