"""Iterative graph operators (DataFrame-native).

connected_components: min-label propagation to fixpoint. Each
superstep is one join + one min-aggregate; lineage is cut with
localCheckpoint so the logical plan stays O(1) across iterations, and
convergence is detected by counting changed labels (an action per
superstep — unavoidable for any fixpoint loop). Supersteps are
bounded by graph DIAMETER — fine for the short co-author chains in
fixtures, slow on 100 TB path-shaped graphs.

connected_components_star: the large-star/small-star alternation
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14) — same join+min-aggregate per round but O(log n) rounds
regardless of diameter; this is the 100 TB variant. Both operators
share the (node, component = min reachable label) contract and are
property-tested equal (tests/test_graph_star.py).

Used by dblp_coauthor_components (co-author graph) and
llm_dedup_clusters (near-duplicate transitive closure).

Every operator reads edges as (src, dst) and vertices as (node).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Superstep caps. Label propagation needs diameter-many rounds and
# stops early at its fixpoint; the star alternation needs O(log n)
# rounds. Both raise if the cap is hit before the fixpoint.
CC_MAX_ITERS = 100
CC_STAR_MAX_ITERS = 50


def connected_components(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """(vertices[node], edges[src,dst]) -> (node, component) where
    component = min vertex label reachable in the undirected graph.
    Isolated vertices form singleton components. Raises RuntimeError
    if labels still change after CC_MAX_ITERS rounds."""
    bi = (
        edges.select(F.col("src").alias("_s"), F.col("dst").alias("_d"))
        .unionByName(edges.select(F.col("dst").alias("_s"), F.col("src").alias("_d")))
        .distinct()
        .persist()
    )
    labels = (
        vertices.select("node")
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(CC_MAX_ITERS):
        neighbor_min = (
            bi.join(labels, bi["_s"] == labels["node"])
            .select(F.col("_d").alias("node"), "component")
            .groupBy("node")
            .agg(F.min("component").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nmin", F.col("component"))
                ).alias("component"),
                (F.coalesce("nmin", F.col("component")) < F.col("component")).alias(
                    "_chg"
                ),
            )
        ).localCheckpoint(eager=False)  # the count below materializes it
        changed = new_labels.filter(F.col("_chg")).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    else:
        # labels still moved in the last round, so some component is
        # wider than the cap allows: its labels are not the minimum yet
        bi.unpersist()
        raise RuntimeError(
            f"connected_components did not reach the label fixpoint within "
            f"CC_MAX_ITERS={CC_MAX_ITERS} rounds (label propagation needs "
            f"one round per hop of the graph's diameter)"
        )
    bi.unpersist()
    return labels


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(N(u) ∪ {u}). One symmetrize + one min-aggregate + one join."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("_mn")).select(
        "u", F.least("_mn", F.col("u")).alias("m")
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Direct each edge large→small; for each node u connect all its
    smaller neighbors (and u itself) to their minimum."""
    d = (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    return (
        d.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionByName(mins.select("u", F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_star(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """Large-star/small-star connected components — identical contract
    to ``connected_components`` but O(log n) rounds instead of graph
    diameter, so a 100 TB chain-shaped graph converges in ~dozens of
    supersteps, not millions.

    Each round is two (join + min-aggregate) passes over the edge set;
    lineage is cut per round with localCheckpoint. Convergence =
    (count, sum of xxhash64(u,v)) checksum of the canonical edge set
    unchanged — one tiny aggregate per round instead of a set-diff
    shuffle; hash collisions masking a real change would need two
    64-bit sums to collide simultaneously, which we accept
    deterministically (same data → same verdict). At fixpoint the
    edges form stars rooted at each component's minimum label.
    """
    e = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    prev = None
    converged = False
    for _ in range(CC_STAR_MAX_ITERS):
        # lazy checkpoint: the checksum aggregate right below is the
        # materializing action, so each round runs ONE job (an eager
        # checkpoint would run its own job first, doubling the
        # per-round fixed cost that dominates small/converged graphs)
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        sig = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: exact and overflow-proof under ANSI mode
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        cur = (sig["n"], sig["h"])
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        # a non-star-shaped edge set would make the final left join
        # emit multiple (node, component) rows per node with no other
        # signal — fail loudly instead (the contract is a convergence
        # GUARANTEE: large/small-star fixpoints in O(log n) rounds, so
        # hitting this means CC_STAR_MAX_ITERS is set far too low)
        raise RuntimeError(
            f"connected_components_star did not reach the edge-set fixpoint "
            f"within CC_STAR_MAX_ITERS={CC_STAR_MAX_ITERS} rounds (O(log n) "
            f"rounds suffice — 50 covers any feasible graph)"
        )
    roots = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return (
        vertices.select("node")
        .distinct()
        .join(roots, "node", "left")
        .select("node", F.coalesce("component", F.col("node")).alias("component"))
    )


def oriented_edges(edges: DataFrame) -> DataFrame:
    """Degree-ordered orientation: re-point every undirected edge from
    its lower-(degree, id) endpoint to its higher one. The lexicographic
    tie-break on id makes the order total, so every triangle has exactly
    one "apex" (its (deg,id)-minimal vertex) and the out-degree of any
    vertex is O(sqrt(m)) — a vertex with out-degree k has k neighbors of
    degree >= its own >= k, which costs k^2/2 <= m edge endpoints.
    Split out of ``triangles`` so tests can assert the bound on the
    exact production orientation (tests/test_scale_stress.py hub graph).
    Output columns: s, sd (source + its degree), t, td."""
    e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    bi = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = bi.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    ed = (
        e.join(deg.select("u", F.col("d").alias("du")), "u")
        .join(deg.select(F.col("u").alias("v"), F.col("d").alias("dv")), "v")
    )
    fwd = F.col("du") < F.col("dv")
    tie = (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    return ed.select(
        F.when(fwd | tie, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(fwd | tie, F.col("du")).otherwise(F.col("dv")).alias("sd"),
        F.when(fwd | tie, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(fwd | tie, F.col("dv")).otherwise(F.col("du")).alias("td"),
    )


def triangles(edges: DataFrame) -> DataFrame:
    """Exact triangle enumeration with DEGREE-ORDERED orientation
    (Cohen, "Graph Twiddling in a MapReduce World", CiSE'09; the
    standard MapReduce triangle recipe). Input: undirected edge set,
    one row per edge with src < dst, no duplicates. Output: one row
    (a, b, c) per triangle, each triangle exactly once.

    Scale: the naive wedge join on id-ordered edges generates deg(u)^2
    wedge candidates at each hub — a celebrity author with 10^5
    coauthors yields 10^10 candidates in one key group. Re-orienting
    every edge from its lower-(degree, id) endpoint to its higher one
    caps every out-degree at O(sqrt(m)), so the wedge join's total
    output is bounded by m^(3/2) and no single key group exceeds
    ~sqrt(2m) rows — the skewed-hub problem is removed by
    construction, not by salting. Two shuffles (degree agg + wedge
    join); the closing-edge probe joins on the wedge's two endpoints,
    an equi-join AQE can skew-split if residual hotness remains.
    """
    oriented = oriented_edges(edges)
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    lex = (F.col("e1.td") < F.col("e2.td")) | (
        (F.col("e1.td") == F.col("e2.td")) & (F.col("e1.t") < F.col("e2.t"))
    )
    wedges = e1.join(e2, (F.col("e1.s") == F.col("e2.s")) & lex).select(
        F.col("e1.s").alias("a"), F.col("e1.t").alias("b"), F.col("e2.t").alias("c")
    )
    # closing edge b—c is oriented b→c because (deg,id)(b) < (deg,id)(c)
    closer = oriented.select(F.col("s").alias("b"), F.col("t").alias("c"))
    return wedges.join(closer, ["b", "c"]).select("a", "b", "c")
