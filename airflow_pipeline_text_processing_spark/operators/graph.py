"""Graph analytics over event logs: transition-graph extraction and
fixed-iteration PageRank in exact integer fixed point.

The 100 TB shape: the heavy step is EDGE EXTRACTION -- a per-user lag
window over the full event log (shuffle on user_id, never global) that
aggregates trillions of events into a transition graph whose node set is
small (event types, pages, states).  The iterative part then runs on the
small graph: k joins of a node-sized rank relation against an edge
relation.  This aggregate-big/iterate-small split is how web-scale
PageRank actually deploys on Spark.

Exactness: edge probabilities are quantized once to parts-per-million
(``(w * 10^6) div out_w``) and ranks carried at SCALE = 10^12, so every
iteration is BIGINT multiply/divide -- bit-identical across engines and
partition orders, with documented headroom (rank_fp * p_fp <= 10^18 <
2^63 regardless of corpus size, because p_fp is bounded by 10^6).
Dangling nodes (no out-edges) emit no flow -- the standard simplified
formulation; total mass is then < 1, which is fine for ranking.

The duplicate-cluster connected-components operator lives in dedup.py
(large-star/small-star); this module covers weighted-digraph analytics.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

SCALE = 10**12
P_SCALE = 10**6
DAMP_NUM, DAMP_DEN = 85, 100


def transition_edges(ev: DataFrame) -> DataFrame:
    """Per-user consecutive event-type transition counts: ``src, dst, w``.
    One lag window per ``user_id`` (total order via ``(ts, event_id)``)
    and one map-side-combined groupBy -- the log-to-graph aggregation."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("src", F.lag("event_type").over(w))
        .filter(F.col("src").isNotNull())
        .groupBy("src", F.col("event_type").alias("dst"))
        .agg(F.count("*").alias("w"))
    )


def pagerank_fixed(
    nodes: DataFrame, edges: DataFrame, iterations: int = 3
) -> DataFrame:
    """``iterations`` power steps of damped PageRank over ``nodes(node)``
    and ``edges(src, dst, w)``; returns ``node, rank_fp`` (SCALE units).

    Each step: per-edge flow ``(rank_fp * p_fp) div 10^6`` with
    ``p_fp = (w * 10^6) div out_w`` precomputed once, summed into each
    destination, then ``rank' = teleport + (85 * inflow) div 100`` where
    ``teleport = ((SCALE * 15) div 100) div n``.  All BIGINT; the edge
    relation and the rank relation are both graph-sized (small), so each
    iteration is a broadcast-scale join regardless of corpus size.
    """
    out_tot = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    edges_p = edges.join(out_tot, "src").select(
        "src",
        "dst",
        F.expr(f"(w * {P_SCALE}) div out_w").alias("p_fp"),
    )
    n_df = nodes.agg(F.count("*").alias("n_nodes"))
    ranks = nodes.crossJoin(F.broadcast(n_df)).select(
        "node", F.expr(f"{SCALE} div n_nodes").alias("rank_fp")
    )
    for _ in range(iterations):
        inflow = (
            edges_p.join(ranks, edges_p.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.expr(f"(rank_fp * p_fp) div {P_SCALE}").alias("flow"),
            )
            .groupBy("node")
            .agg(F.sum("flow").alias("inflow"))
        )
        ranks = (
            nodes.join(inflow, "node", "left")
            .crossJoin(F.broadcast(n_df))
            .select(
                "node",
                F.expr(
                    f"(({SCALE} * 15) div 100) div n_nodes"
                    f" + ({DAMP_NUM} * coalesce(inflow, 0)) div {DAMP_DEN}"
                ).alias("rank_fp"),
            )
        )
    return ranks.orderBy("node")


def label_propagation(
    nodes: DataFrame, edges: DataFrame, iterations: int = 3
) -> DataFrame:
    """Synchronous majority-label propagation (community detection) over
    ``nodes(node)`` and weighted ``edges(src, dst, w)``, treated as
    undirected: each round EVERY node simultaneously adopts the label
    with the greatest total incident edge weight among its neighbors'
    current labels (ties to the lexicographically smaller label;
    isolated nodes keep their own).  Labels initialize to the node ids,
    so the fixed-point is deterministic -- no RNG, no visit order, and a
    SQL oracle replays it exactly.

    Complements the min-label connected components in dedup.py (which
    finds REACHABILITY classes): majority voting respects edge weight
    density, so weakly-bridged clusters keep separate communities where
    CC would merge them.

    Scale shape: same aggregate-big/iterate-small split as
    ``pagerank_fixed`` -- the heavy step is the one-time edge
    extraction; each round here is one graph-sized join + one
    map-side-combinable (node, label) weight sum + one per-node argmax
    window over its incident-label counts.  Returns ``node, label``.
    """
    und = (
        edges.select("src", "dst", "w")
        .unionAll(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(iterations):
        votes = (
            und.join(labels, und.dst == labels.node)
            .groupBy("src", "label")
            .agg(F.sum("w").alias("vw"))
        )
        win = Window.partitionBy("src").orderBy(
            F.col("vw").desc(), F.col("label")
        )
        new = (
            votes.withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") == 1)
            .select(F.col("src").alias("node"), F.col("label").alias("_new"))
        )
        labels = (
            labels.join(new, "node", "left")
            .select("node", F.coalesce("_new", "label").alias("label"))
        )
    return labels


def cooccurrence_edges(
    items: DataFrame,
    group_cols: list,
    node_col: str = "user_id",
    min_group: int = 2,
    max_group: int = 20,
) -> DataFrame:
    """Bipartite projection with a fan-out guard: distinct node pairs
    (``src < dst``) that co-occur in the same group.  Groups larger than
    ``max_group`` are DROPPED before the self-join -- the same
    boilerplate cap as the LSH band buckets and the winnowing rarity
    cap, and the difference between an O(sum cap^2) projection and an
    O(max_group_size^2) hot-key blowup at corpus scale."""
    g = items.select(*group_cols, node_col).distinct()
    ok = (
        g.groupBy(*group_cols)
        .agg(F.count("*").alias("_nu"))
        .filter(
            (F.col("_nu") >= min_group) & (F.col("_nu") <= max_group)
        )
        .select(*group_cols)
    )
    # NOTE (r15): a lineage cut here was measured and REJECTED -- every
    # registry consumer checkpoints the returned edge list itself (the
    # triangle/link-predict/CC paths), so an internal cut just adds a
    # second materialization job (+0.4-0.5 s on triangle/clustering).
    g = g.join(ok, group_cols)
    a = g.select(*group_cols, F.col(node_col).alias("src"))
    b = g.select(*group_cols, F.col(node_col).alias("dst"))
    return (
        a.join(b, group_cols)
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def triangle_counts(
    edges: DataFrame, checkpoint_input: bool = True
) -> DataFrame:
    """Per-node triangle counts over an undirected simple graph given as
    distinct ``(src, dst)`` with ``src < dst`` -- the degree-ordered
    wedge join (Suri & Vassilvitskii, WWW'11; Cohen's MapReduce
    formulation): orient every edge from its lower-(degree, id) endpoint
    to the higher, enumerate wedges by self-joining oriented edges on
    their source, and close each wedge against the oriented edge list.

    Why this survives 100x: orientation bounds every node's OUT-degree
    by O(sqrt(m)) (a node of degree d only points at neighbors of degree
    >= d, and there are at most 2*sqrt(m) nodes of degree >= sqrt(m)),
    so the wedge self-join -- the only super-linear stage -- generates
    at most sum(outdeg^2) = O(m^1.5) rows regardless of skew: a hub of
    degree 10^6 contributes NO wedges from its own side.  Every step is
    an equi-join or hash aggregate; nothing is quadratic in the node
    set.  Returns ``(node, n_tri)`` for nodes in >= 1 triangle.

    The edge list and the oriented relation are localCheckpointed:
    ``edges`` feeds three consumers (degrees, the orientation join) and
    ``oriented`` feeds three more (both wedge sides and the closing
    probe), so without the cut Spark re-derives the whole upstream
    projection per consumer -- measured 2x on graph_triangle_count at
    sf0.1 (3.4 s -> 1.7 s, identical output)."""
    edges = edges.localCheckpoint(eager=False)
    deg = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    withd = edges.join(
        deg.select(F.col("node").alias("src"), F.col("deg").alias("ds")),
        "src",
    ).join(
        deg.select(F.col("node").alias("dst"), F.col("deg").alias("dd")),
        "dst",
    )
    lower_is_src = (F.col("ds") < F.col("dd")) | (
        (F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))
    )
    oriented = withd.select(
        F.when(lower_is_src, F.col("src")).otherwise(F.col("dst")).alias("a"),
        F.when(lower_is_src, F.col("dst")).otherwise(F.col("src")).alias("b"),
        F.when(lower_is_src, F.col("dd")).otherwise(F.col("ds")).alias("deg_b"),
    ).localCheckpoint(eager=False)
    o2 = oriented.select(
        "a", F.col("b").alias("c"), F.col("deg_b").alias("deg_c")
    )
    wedges = (
        oriented.join(o2, "a")
        .filter(
            (F.col("deg_b") < F.col("deg_c"))
            | ((F.col("deg_b") == F.col("deg_c")) & (F.col("b") < F.col("c")))
        )
        .select("a", "b", "c")
    )
    closing = oriented.select(
        F.col("a").alias("b"), F.col("b").alias("c")
    )
    tris = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
    members = (
        tris.select(F.col("a").alias("node"))
        .unionAll(tris.select(F.col("b").alias("node")))
        .unionAll(tris.select(F.col("c").alias("node")))
    )
    return members.groupBy("node").agg(
        F.count("*").cast("long").alias("n_tri")
    )


def kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Iterative k-core peeling over an undirected simple graph
    ``(src, dst)`` with ``src < dst``: each round drops every node whose
    degree in the SURVIVING subgraph is below ``k``, for a FIXED number
    of ``rounds`` -- the bounded-iteration form whose unrolled-CTE SQL
    replay certifies it (same device as the Lloyd/BPE oracles).  Run to
    a fixed point it is Matula-Beck k-core decomposition; a fixed small
    ``rounds`` is the scale-practical form (each round strictly shrinks
    the graph, and real graphs converge in a handful of rounds).

    Scale shape per round: one degree hash-agg over the surviving edge
    list + two semi joins to restrict the edges -- all equi-joins on
    node ids, nothing quadratic; the edge list only ever SHRINKS, so
    round cost is monotonically decreasing.  The aggregate-big/
    iterate-small loop runs on DataFrames with a localCheckpoint per
    round to keep the lineage flat (same device as pagerank above).

    Returns ``(node, deg)`` -- survivors of the last round with their
    surviving-subgraph degree, the candidate k-core membership."""
    live = edges.select("src", "dst").localCheckpoint(eager=False)
    for _ in range(rounds):
        deg = (
            live.select(F.col("src").alias("node"))
            .unionAll(live.select(F.col("dst").alias("node")))
            .groupBy("node")
            .agg(F.count("*").cast("long").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("node")
        live = (
            live.join(keep.withColumnRenamed("node", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("node", "dst"), "dst", "left_semi")
            .select("src", "dst")
            .localCheckpoint(eager=False)
        )
    return (
        live.select(F.col("src").alias("node"))
        .unionAll(live.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )


def ancestor_doubling(
    nodes: DataFrame, rounds: int = 4
) -> DataFrame:
    """Root and depth for every node of a forest given as
    ``(node, parent)`` rows (roots point at themselves) -- by POINTER
    DOUBLING: each round joins the current ancestor relation with
    itself, so after k rounds every node knows its 2^k-step ancestor
    and the accumulated step count.  This is the scalable answer to
    the recursive-CTE hierarchy walk Spark lacks: a depth-d forest
    resolves in ceil(log2 d) self-joins instead of d dependent scans
    -- O(log d) shuffles on a relation that never grows past |V|.
    ``rounds=4`` covers depth <= 16; the SQL oracle replays the same
    semantics as a WITH RECURSIVE walk.

    Each round is one equi-join (node-keyed hash shuffle) plus a
    localCheckpoint to keep the lineage flat (the kcore/pagerank
    device).  Roots carry ``anc = node, steps = 0``; the doubling
    preserves the invariant ``anc = the node's (steps)-step ancestor,
    anc root-reached iff anc.parent = anc``.

    Dangling parents -- pointers at ids with no row of their own (a
    forest cut at an ingestion boundary) -- are TERMINAL: the walk
    stops there, the dangling id is reported as the root and the hop
    into it counts toward depth.  The doubling implements this with a
    LEFT join + coalesce (an inner join would silently DROP every
    node whose ancestor chain leaves the relation -- the review-found
    hazard); callers wanting strict forests can assert
    ``parent isin nodes`` upstream.

    Returns ``(node, root, depth)`` -- exact for every node whose
    depth <= 2^rounds; deeper nodes return their 2^rounds-ancestor
    and that partial depth (callers size ``rounds`` to the forest,
    same contract as ``kcore_peel``'s bounded rounds)."""
    base = nodes.select(
        F.col("node"),
        F.col("parent").alias("anc"),
        F.when(F.col("parent") == F.col("node"), F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("steps"),
    ).localCheckpoint(eager=False)
    cur = base
    for _ in range(rounds):
        nxt = cur.select(
            F.col("node").alias("_n"),
            F.col("anc").alias("_a"),
            F.col("steps").alias("_s"),
        )
        cur = (
            cur.join(
                nxt.select(
                    F.col("_n").alias("anc"),
                    F.col("_a").alias("anc2"),
                    F.col("_s").alias("s2"),
                ),
                "anc",
                "left",
            )
            .select(
                "node",
                # a dangling ancestor has no row: stay put (terminal)
                F.coalesce(F.col("anc2"), F.col("anc")).alias("anc"),
                (F.col("steps") + F.coalesce(F.col("s2"), F.lit(0)))
                .cast("long")
                .alias("steps"),
            )
            .localCheckpoint(eager=False)
        )
    return cur.select(
        "node", F.col("anc").alias("root"), F.col("steps").alias("depth")
    )


RA_SCALE = 10**12


def link_prediction_ra(
    edges: DataFrame, max_center_deg: int = 64
) -> DataFrame:
    """Resource-Allocation link prediction (Zhou, Lu & Zhang, EPJ B
    2009) over an undirected simple graph given as distinct
    ``(src, dst)`` with ``src < dst``: for every NON-adjacent pair
    (u, w) sharing at least one neighbor, score the missing edge by
    ``ra_fp = sum over common neighbors v of RA_SCALE div deg(v)``
    (plus the plain common-neighbor count ``cn``).  Exact BIGINT
    everywhere: RA's 1/deg weights become one integer division per
    wedge -- no libm, bit-identical across engines and partition
    orders (engine-conventions memo).

    Scale shape: wedges here must be centered at EVERY common
    neighbor, so degree orientation (the triangle trick) cannot apply
    -- instead the fan-out guard is ``max_center_deg``: centers above
    the cap are dropped before the neighbor-pair self-join, bounding
    wedge rows by ``cap * m`` (linear in edges, whatever the skew).
    The cap is principled for RA specifically: a center of degree d
    contributes weight RA_SCALE/d per pair, so the dropped super-hub
    evidence is exactly the signal RA already discounts toward zero
    ("shared a mega-hub neighbor" predicts nothing).  Same device as
    ``cooccurrence_edges``' ``max_group`` and the LSH band cap.

    The edge list is localCheckpointed: it feeds the adjacency
    explosion, the degree agg, and the final anti-join -- three
    different derivations that defeat exchange reuse (the measured
    lineage-cut rule from PROFILE_r10 §6).

    Returns ``(src, dst, cn, ra_fp)`` with ``src < dst``, candidates
    only (existing edges anti-joined away).  ``cn`` is the CAPPED
    common-neighbor count -- common neighbors of degree >
    ``max_center_deg`` are excluded (they never generate wedge rows),
    so it under-counts the plain CN score exactly where RA discounts
    it; treat it as RA's companion diagnostic, not a standalone
    common-neighbors metric (r11 ADVICE note).
    """
    edges = edges.localCheckpoint(eager=False)
    adj = edges.select(
        F.col("src").alias("v"), F.col("dst").alias("n")
    ).unionAll(edges.select(F.col("dst").alias("v"), F.col("src").alias("n")))
    deg = adj.groupBy("v").agg(F.count("*").cast("long").alias("deg"))
    # cadj feeds both wedge sides; cut so the adjacency union + degree
    # aggregate + cap join run once, not twice (r15)
    cadj = adj.join(
        deg.filter(F.col("deg") <= max_center_deg), "v"
    ).localCheckpoint(eager=False)
    b = cadj.select("v", F.col("n").alias("w"))
    wedges = (
        cadj.select("v", "deg", F.col("n").alias("u"))
        .join(b, "v")
        .filter(F.col("u") < F.col("w"))
    )
    scored = wedges.groupBy(
        F.col("u").alias("src"), F.col("w").alias("dst")
    ).agg(
        F.count("*").cast("long").alias("cn"),
        F.sum(F.expr(f"CAST({RA_SCALE} DIV deg AS BIGINT)"))
        .cast("long")
        .alias("ra_fp"),
    )
    return scored.join(edges, ["src", "dst"], "left_anti")
