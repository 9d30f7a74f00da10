"""Graph operators (DataFrame-native): connected components and
triangle enumeration.

connected_components_star is the engine's one connected-components
operator: the large-star/small-star alternation (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14). Each round
is two (join + min-aggregate) passes over the edge set, and the
fixpoint takes O(log n) rounds whatever the graph's diameter, so a
chain-shaped graph converges in dozens of rounds, not millions.
Lineage is cut with localCheckpoint each round, so the plan stays O(1)
in rounds. It raises RuntimeError if the edge set has not reached its
fixpoint after CC_STAR_MAX_ITERS rounds.

Used by dblp_coauthor_components(_star) (co-author graph),
llm_dedup_clusters (near-duplicate transitive closure) and
llm_leakage_free_split (cluster-level split assignment). Property
tests compare it with a Python union-find (tests/test_graph_star.py).

Every operator reads edges as (src, dst) and vertices as (node).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Round cap of the star alternation: it needs O(log n) rounds, plus one
# to confirm the fixpoint.
CC_STAR_MAX_ITERS = 50


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
    """(vertices[node], edges[src,dst]) -> (node, component): one row
    per distinct vertex, where component is the minimum label reachable
    from node in the undirected graph over the vertices and the edge
    endpoints. So an edge endpoint that is not a vertex still connects
    and labels its neighbours: edges (b,0x),(0x,c) with vertices {b,c}
    give b->0x and c->0x, and 0x gets no row. Further edge cases:
    - an edge with a NULL endpoint, or a self-loop, is ignored;
    - a NULL vertex gives one (NULL, NULL) row;
    - an isolated vertex labels itself; no vertices give no rows.

    Convergence = (count, sum of xxhash64(u,v)) checksum of the
    canonical edge set unchanged — one tiny aggregate per round instead
    of a set-diff shuffle; hash collisions masking a real change would
    need two 64-bit sums to collide simultaneously, which we accept
    deterministically (same data → same verdict). At the fixpoint the
    edges form stars rooted at each component's minimum label, and one
    vertex ⋈ roots join labels the vertices.
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
            f"rounds suffice)"
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
