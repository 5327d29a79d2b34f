"""Graph algorithms beyond connected components
(operators/dedup.py::connected_components): exact integer PageRank,
degree-oriented triangle counting, incremental triangle maintenance
(:func:`triangle_delta`), and the iterative k-core peel
(:func:`kcore_peel`). Bipartite butterfly counting lives in the query
layer (queries/analytics.py) as composition of the same primitives.

Training-data pipelines use link-graph centrality as a document-quality
prior (the classic web-corpus weighting); entity graphs (customer <->
supplier here) get the same treatment. Like the k-means trainer
(operators/clustering.py), the iteration is made ORACLE-CHECKABLE by
keeping all mass in integer micro-units: ranks are BIGINTs, per-edge
contributions use integer division, and the damping step is
``150000 + (85 * incoming) div 100`` — no float appears anywhere, so any
engine replaying the recipe (and any partitioning / summation order)
produces bit-identical ranks. The float formulation r' = 0.15 + 0.85 *
sum(contrib) is order-dependent in the sum and engine-dependent in the
multiply — unreproducible at scale.

Scale shape per iteration (E edges, V nodes): one shuffle joining ranks
to edges on src, one shuffle aggregating contributions on dst — the
canonical Pregel exchange pair. At 100 TB: pre-partition the edge table
by src once (it is iteration-invariant — the join then reuses the
layout), keep ranks as the small side where degree skew allows broadcast,
and checkpoint every few rounds exactly as connected_components does to
cut lineage. Dangling nodes are absent by construction when the caller
symmetrizes the edge list (every node then has out-degree >= 1) —
:func:`pagerank_exact` assumes that; :func:`pagerank_directed` handles a
genuinely directed list with the standard dangling-mass redistribution
(VERDICT r8 #5), still all-integer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..obs import materialize

TELEPORT_U6 = 150_000  # (1 - d) with d = 0.85, in micro-units
DAMP_NUM, DAMP_DEN = 85, 100


def pagerank_exact(
    edges: DataFrame,
    iters: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-budget PageRank over a (src, dst) edge list; returns
    (node, rank_u6) with rank in exact micro-units (average 1e6 per node
    up to integer-division rounding). ``iters`` is small by construction
    (like kmeans_train). Construction is eager: it runs the checkpoint
    jobs for the edge, degree and node tables below, plus one per round.

    r16 (VERDICT r15 #4, guide §5): the edge list and the iteration-
    invariant dimension tables (out-degrees, node set) are truncated ONCE
    at entry — every round's contribution join and the final update
    consume them, and with a lazy caller subtree (e.g. the
    orders x lineitem distinct pair build of pagerank_suppliers) each of
    those consumers re-executed the whole build per round, the
    connected_components trap in per-round form."""
    edges = materialize(edges.select(src, dst))
    deg = materialize(edges.groupBy(src).agg(F.count("*").alias("_out_deg")))
    nodes = materialize(edges.select(F.col(src).alias("node")).distinct())
    ranks = nodes.withColumn("rank_u6", F.lit(1_000_000).cast("long"))
    for _ in range(iters):
        # per-round lineage cut: without it round t's static plan nests
        # round t-1's entirely (pagerank_directed measured 22 -> 10
        # shuffles from this one line)
        ranks = materialize(ranks)
        contrib = (
            edges.join(ranks, edges[src] == ranks["node"])
            .join(deg, src)
            .select(
                F.col(dst).alias("_to"),
                F.expr("rank_u6 div _out_deg").alias("_c"),
            )
        )
        incoming = contrib.groupBy("_to").agg(F.sum("_c").alias("_in"))
        ranks = (
            nodes.join(incoming, nodes["node"] == incoming["_to"], "left")
            .select(
                "node",
                (
                    F.lit(TELEPORT_U6)
                    + F.expr(
                        f"({DAMP_NUM} * coalesce(_in, 0)) div {DAMP_DEN}"
                    )
                )
                .cast("long")
                .alias("rank_u6"),
            )
        )
    return ranks


def pagerank_directed(
    edges: DataFrame,
    iters: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """PageRank over a genuinely DIRECTED (src, dst) edge list with the
    standard dangling-mass redistribution (Page et al. 1999 §2.6): nodes
    with out-degree 0 leak their rank nowhere, so each round their total
    mass D is split ``D div N`` to every node before damping:

        rank'(v) = 150000 + (85 * (incoming(v) + D div N)) div 100

    All state stays in BIGINT micro-units (the module-docstring recipe),
    so the directed variant is as oracle-replayable and partition-
    independent as :func:`pagerank_exact`. Nodes are src UNION dst (a
    sink-only node must still receive rank). The dangling sum is a 1-row
    aggregate broadcast into the update — per round that adds one
    anti-join-shaped scan of the rank table to the canonical two-shuffle
    Pregel pair; N is a driver-side scalar computed once (iteration-
    invariant node set).

    r16 (VERDICT r15 #4, guide §5): edges/deg/nodes truncated once at
    entry (see pagerank_exact — here the un-truncated shape was worse
    still: the dangling anti-join AND the contribution join both
    re-derived ``deg`` from the caller's lazy edge subtree every
    round)."""
    edges = materialize(edges.select(src, dst))
    deg = materialize(edges.groupBy(src).agg(F.count("*").alias("_out_deg")))
    nodes = materialize(
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()  # iteration-invariant scalar (checkpoint scan)
    ranks = nodes.withColumn("rank_u6", F.lit(1_000_000).cast("long"))
    for _ in range(iters):
        # each round consumes `ranks` TWICE (dangling agg + contribution
        # join) — cut lineage per round (house rule) or the duplicated
        # subplan doubles every previous round's shuffles
        ranks = materialize(ranks)
        dangling = (
            ranks.join(deg, ranks["node"] == deg[src], "left_anti")
            .agg(
                F.coalesce(F.sum("rank_u6"), F.lit(0))
                .cast("long")
                .alias("_dmass")
            )
        )
        share = dangling.select(
            F.expr(f"_dmass div {n_nodes}").cast("long").alias("_share")
        )
        contrib = (
            edges.join(ranks, edges[src] == ranks["node"])
            .join(deg, src)
            .select(
                F.col(dst).alias("_to"),
                F.expr("rank_u6 div _out_deg").alias("_c"),
            )
        )
        incoming = contrib.groupBy("_to").agg(F.sum("_c").alias("_in"))
        ranks = (
            nodes.join(incoming, nodes["node"] == incoming["_to"], "left")
            .crossJoin(F.broadcast(share))  # 1-row stats side
            .select(
                "node",
                (
                    F.lit(TELEPORT_U6)
                    + F.expr(
                        f"({DAMP_NUM} * (coalesce(_in, 0) + _share))"
                        f" div {DAMP_DEN}"
                    )
                )
                .cast("long")
                .alias("rank_u6"),
            )
        )
    return ranks


def count_triangles(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts over an undirected simple graph given as
    distinct ``src < dst`` pairs — the node-clustering signal community
    detection and spam/quality scoring build on.

    Algorithm: degree-ordered edge orientation (Schank/Wagner) — orient
    every edge from the (degree, id)-smaller endpoint to the larger, then
    count directed wedges s->t, t->w closed by s->w. Each triangle is
    enumerated exactly once, and the join fan-out per node is bounded by
    its ORIENTED out-degree, which the orientation caps at O(sqrt(m))
    regardless of raw degree skew — the hub node that would explode a
    naive wedge join (deg^2 pairs) instead contributes only wedges among
    its few higher-degree neighbours. At 100 TB: three hash-partitioned
    self-joins on node keys (AQE handles residual skew); the edge list is
    shuffled, never the payloads; non-iterative, so no checkpoint needed.
    The (degree, id) tie-break makes the orientation — and therefore the
    intermediate plan, not just the result — deterministic across engines
    and partitionings, which is what lets a DuckDB oracle replay it.

    The edge list and the oriented table are each consumed multiple
    times (degree build + orientation; e1/e2/e3), so both are
    materialized once via ``localCheckpoint(eager=True)`` at
    construction — Catalyst does not CSE a self-joined subtree, and
    without the cut the ENTIRE edge build re-ran once per wedge side
    (observed: 22 shuffles / 9 SMJ in the static plan vs 3 shuffles
    after). At 100 TB this is exactly the "write the oriented edge list,
    then join it against itself" shape every distributed triangle
    counter uses.
    """
    edges = materialize(edges)
    u, v = F.col(src), F.col(dst)
    both = edges.select(u.alias("node")).unionAll(edges.select(v.alias("node")))
    deg = both.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    du = deg.select(F.col("node").alias(src), F.col("d").alias("_du"))
    dv = deg.select(F.col("node").alias(dst), F.col("d").alias("_dv"))
    ed = edges.join(du, src).join(dv, dst)
    u_first = (F.col("_du") < F.col("_dv")) | (
        (F.col("_du") == F.col("_dv")) & (u < v)
    )
    oriented = materialize(
        ed.select(
            F.when(u_first, u).otherwise(v).alias("s"),
            F.when(u_first, v).otherwise(u).alias("t"),
        )
    )
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.t") == F.col("e2.s"))
        .join(
            e3,
            (F.col("e3.s") == F.col("e1.s")) & (F.col("e3.t") == F.col("e2.t")),
        )
        .select(
            F.col("e1.s").alias("a"),
            F.col("e1.t").alias("b"),
            F.col("e2.t").alias("c"),
        )
    )
    # explode, not a 3-way self-union: a union would re-run the wedge
    # joins once per corner (tri is not CSE'd either)
    corners = tri.select(
        F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("node")
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Iterative k-core peel over an undirected simple graph (distinct
    ``src < dst`` pairs): each round drops every node whose current degree
    is below ``k`` plus all incident edges, until the ``rounds`` budget is
    spent. Returns the peel TRAJECTORY — one row (round, n_nodes,
    n_edges) per round including round 0 — the shrinking-core curve
    dense-subgraph mining and community pre-filtering read; the final
    round's survivors are the k-core once the trajectory has flattened
    (convergence is data-dependent, so the caller pins ``rounds``; the
    all-integer trajectory makes an unrolled-CTE oracle replay exact).

    Scale shape per round (the connected-components discipline): one
    degree aggregation + two anti-joins, with the edge table
    ``localCheckpoint``-ed every round — lineage stays flat and each
    round reads the materialized previous state, never the whole chain.
    Degrees shrink monotonically, so rounds get cheaper as they go; at
    100 TB pre-partition the edge table by ``src`` once and the per-round
    joins reuse the layout."""
    e = materialize(edges.select(src, dst))

    def stats(r: int, ecur: DataFrame) -> DataFrame:
        return (
            ecur.select(
                F.explode(F.array(F.col(src), F.col(dst))).alias("node")
            )
            .agg(
                F.countDistinct("node").alias("n_nodes"),
                F.expr("count(*) div 2").alias("n_edges"),
            )
            .select(
                F.lit(r).cast("int").alias("round"), "n_nodes", "n_edges"
            )
        )

    out = stats(0, e)
    for r in range(1, rounds + 1):
        deg = (
            e.select(F.explode(F.array(F.col(src), F.col(dst))).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("_d"))
        )
        bad = deg.filter(F.col("_d") < k).select("node")
        e = materialize(
            e.join(bad.withColumnRenamed("node", src), src, "left_anti")
            .join(bad.withColumnRenamed("node", dst), dst, "left_anti")
            .select(src, dst)
        )
        out = out.unionByName(stats(r, e))
    return out


def triangle_delta(
    old_edges: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node counts of triangles CREATED by ``new_edges`` landing on a
    graph that already holds ``old_edges`` (both as distinct ``src < dst``
    pairs) — incremental triangle maintenance, the shape a persisted
    100 TB graph needs: the old graph's triangles are never re-enumerated.

    Enumeration is ANCHORED on the new edges: the union is degree-oriented
    exactly like :func:`count_triangles`, then each of the three wedge
    positions is probed with only the oriented NEW edges (three
    delta-by-full joins, cost ~ |new| x oriented degree), and the three
    anchored streams are distinct-ed on the oriented triple — a triangle
    containing two or three new edges appears in multiple streams but
    counts once. Equals count_triangles(old ∪ new) − count_triangles(old)
    per node (test-pinned)."""
    old_edges = old_edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    )
    new_edges = new_edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    )
    union = materialize(old_edges.unionByName(new_edges).distinct())
    both = union.select(F.col("u").alias("node")).unionAll(
        union.select(F.col("v").alias("node"))
    )
    deg = both.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("_du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("_dv"))
    ed = union.join(du, "u").join(dv, "v")
    u_first = (F.col("_du") < F.col("_dv")) | (
        (F.col("_du") == F.col("_dv")) & (F.col("u") < F.col("v"))
    )
    oriented = materialize(
        ed.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )
    # oriented new edges: an oriented edge is new iff its unordered pair
    # is a new pair (orientation may flip the id order)
    new_o = materialize(
        oriented.join(
            new_edges.select(
                F.col("u").alias("_lo"), F.col("v").alias("_hi")
            ),
            (F.least("s", "t") == F.col("_lo"))
            & (F.greatest("s", "t") == F.col("_hi")),
            "left_semi",
        )
    )

    def wedge(e1, e2, e3):
        return (
            e1.alias("e1")
            .join(e2.alias("e2"), F.col("e1.t") == F.col("e2.s"))
            .join(
                e3.alias("e3"),
                (F.col("e3.s") == F.col("e1.s"))
                & (F.col("e3.t") == F.col("e2.t")),
            )
            .select(
                F.col("e1.s").alias("a"),
                F.col("e1.t").alias("b"),
                F.col("e2.t").alias("c"),
            )
        )

    tri = (
        wedge(new_o, oriented, oriented)
        .unionByName(wedge(oriented, new_o, oriented))
        .unionByName(wedge(oriented, oriented, new_o))
        .distinct()
    )
    corners = tri.select(
        F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("node")
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_new_triangles")
    )


def label_propagation(
    edges: DataFrame,
    iters: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) with a total
    deterministic update: each round every node adopts the MOST FREQUENT
    label among its neighbors, ties broken by the smallest label — so the
    trajectory is a pure function of the graph (no randomized visit order;
    the classic async LPA is irreproducible by design, useless under an
    oracle). Labels start as the node's own id. Expects a SYMMETRIZED edge
    list (contributions flow src -> dst; symmetric input makes the update
    undirected); isolated nodes never appear in an edge list by
    construction.

    Unlike min-label connected components (operators/dedup.py), the mode
    update segments DENSE regions into communities instead of flooding
    whole components with one label. Per round: one join shuffle keyed on
    src + one (dst, label) count + one per-dst argmax window — the Pregel
    pair plus a group-limit; per-round ``localCheckpoint`` cuts lineage
    (house rule for iterative algorithms).

    r16: the edge list is truncated once at entry (pagerank_exact's
    rationale — every round's join re-executed the caller's lazy edge
    subtree)."""
    edges = materialize(edges.select(src, dst))
    nodes = edges.select(F.col(src).alias("node")).distinct()
    labels = nodes.withColumn("label", F.col("node"))
    from pyspark.sql.window import Window

    for _ in range(iters):
        counts = (
            edges.join(labels, edges[src] == labels["node"])
            .groupBy(F.col(dst).alias("_n"), "label")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        w = Window.partitionBy("_n").orderBy(
            F.col("_c").desc(), F.col("label").asc()
        )
        labels = materialize(
            counts.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select(F.col("_n").alias("node"), "label")
        )
    return labels


def pagerank_weighted(
    edges: DataFrame,
    iters: int = 2,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Weighted PageRank over (src, dst, w) with INTEGER edge weights:
    each round a node's rank splits proportionally to edge weight —
    ``contrib = (rank * w) div W_out(src)`` — instead of uniformly.
    Transaction intensity (order counts, byte volumes) is the natural
    integer weight, and integer proportional split keeps the whole loop
    bit-exact like :func:`pagerank_exact` (same recipe, same Pregel
    shuffle pair; W_out is one extra iteration-invariant aggregate).
    Assumes a symmetrized edge list like pagerank_exact (every node has
    out-weight >= 1); compose the dangling step from pagerank_directed
    for genuinely directed inputs.

    r16: edges/out-weights/nodes truncated once at entry (pagerank_exact's
    rationale — iteration-invariant tables consumed every round)."""
    edges = materialize(edges.select(src, dst, weight))
    wtot = materialize(
        edges.groupBy(src)
        .agg(F.sum(weight).cast("long").alias("_w_out"))
    )
    nodes = materialize(edges.select(F.col(src).alias("node")).distinct())
    ranks = nodes.withColumn("rank_u6", F.lit(1_000_000).cast("long"))
    for _ in range(iters):
        ranks = materialize(ranks)  # per-round lineage cut
        contrib = (
            edges.join(ranks, edges[src] == ranks["node"])
            .join(wtot, src)
            .select(
                F.col(dst).alias("_to"),
                F.expr(f"(rank_u6 * {weight}) div _w_out").alias("_c"),
            )
        )
        incoming = contrib.groupBy("_to").agg(F.sum("_c").alias("_in"))
        ranks = nodes.join(
            incoming, nodes["node"] == incoming["_to"], "left"
        ).select(
            "node",
            (
                F.lit(TELEPORT_U6)
                + F.expr(f"({DAMP_NUM} * coalesce(_in, 0)) div {DAMP_DEN}")
            )
            .cast("long")
            .alias("rank_u6"),
        )
    return ranks
