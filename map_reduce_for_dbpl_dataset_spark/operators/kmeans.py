"""Fixed-iteration k-means (Lloyd's) over quantized integer vectors.

The iterative-ML member of the engine's algorithm family (next to
connected components and PageRank in operators/graph.py /
queries/dblp.py) — and the one codebook construction of the vector
operators (operators/similarity.py semdedup, ivf_topk and
pq_adc_topk consume exactly this kind of centroid table, seeded with
zero Lloyd rounds or trained with KMEANS_ITERS; PQ encoding and
llm_embed_classifier's class means and prediction are this module's
_assign and _update_centroids). No reference counterpart (the
reference's closest ancestry is its iterative-MapReduce job chain,
SURVEY.md §3).

Determinism contract: vectors are integer-quantized, distances are
exact integer squared-L2, centroid updates are integer truncated
division (Spark `div` ≡ DuckDB `//`, both truncate toward zero), and
argmin ties break on the lower centroid id — every iteration is
bit-identical to the unrolled-CTE oracle regardless of partitioning.

Scale: per iteration —
- assignment: broadcast join of the K-row centroid table against the
  corpus (narrow, no corpus shuffle), argmin via min(struct);
- update: posexplode to (cluster, dim, val) then ONE partial-agg
  groupBy over K*dim cells and a K-row rebuild. The classic
  MapReduce k-means, K*dim tiny vs corpus.
Each iteration ends in an eager localCheckpoint of the K-row
centroid table, so the lineage stays one iteration deep and the
trained codebook's consumers never re-run training.

Partition key: with the optional ``key`` column every step trains
one independent codebook per key value in the same pass (PQ's
subspaces), and the assignment becomes a broadcast equi-join on it.

NULL vectors: a NULL vector is assigned the lowest cluster (its
distances are all NULL, which both engines order last) and adds
nothing to a centroid (the oracle's count(q), not count(*)).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.exprs import sql_hof
from ..functions.vectors import quantize

# Lloyd iterations per training run, shared with the unrolled-CTE
# oracles in queries/pipeline.py.
KMEANS_ITERS = 2


def dist2_q(a: str, b: str) -> Column:
    """Exact integer squared L2 distance of two quantized vectors, given
    as SQL text (one sql_hof parse)."""
    return sql_hof(
        "aggregate",
        f"zip_with({a}, {b}, (x, y) -> (x - y) * (x - y))",
        "CAST(0 AS BIGINT)",
        "(acc, x) -> acc + x",
    )


def _quantized(corpus: DataFrame, id_col: str, vec_col: str, key: str | None = None) -> DataFrame:
    """(vid, q[, key]): the corpus with each vector integer-quantized."""
    keys = [key] if key else []
    return corpus.select(F.expr(f"{id_col} AS vid"), quantize(vec_col).alias("q"), *keys)


def _seed_centroids(q: DataFrame, init_ids: Sequence[int], key: str | None = None) -> DataFrame:
    """([key, ]cluster, c): one initial centroid per seed id (and key);
    no rows for no seed ids (``vid IN ()`` does not parse)."""
    keys = [key] if key else []
    ids = ", ".join(str(int(i)) for i in init_ids)
    return q.filter(f"vid IN ({ids})" if ids else "false").selectExpr(
        *keys, "vid AS cluster", "q AS c"
    )


def _assign(q: DataFrame, cents: DataFrame, key: str | None = None) -> DataFrame:
    """Nearest centroid per vector (and key value) — exact integer
    distance, ties to the lower cluster id.  The argmin is a
    PARTIAL-AGGREGABLE min(struct(d2, cluster)) — lexicographic struct
    ordering gives exactly (d2 asc, cluster asc) — rather than a
    row_number window: the K-fanned scored table combines map-side
    instead of sorting corpus*K rows per vid partition.  Every other
    column of ``q`` is functionally dependent on (vid, key) and rides
    through any_value."""
    keys = [key] if key else []
    carried = [c for c in q.columns if c not in ("vid", *keys)]
    scored = q.join(F.broadcast(cents), key).withColumn("d2", dist2_q("q", "c"))
    return (
        scored.groupBy("vid", *keys)
        .agg(
            F.expr("min(struct(d2, cluster)) AS _b"),
            *[F.expr(f"any_value({c}) AS {c}") for c in carried],
        )
        .selectExpr("vid", *keys, *carried, "_b.cluster AS cluster", "_b.d2 AS d2")
    )


def kmeans_train(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    init_ids: Sequence[int],
    iters: int = KMEANS_ITERS,
    key: str | None = None,
) -> DataFrame:
    """Run `iters` Lloyd iterations from centroids seeded at
    `init_ids`; returns the quantized centroid table ([key, ]cluster,
    c) — the one codebook construction behind similarity.semdedup,
    ivf_topk and pq_adc_topk.  A seeded codebook is this with
    ``iters=0``: the seed rows themselves, built lazily."""
    q = _quantized(corpus, id_col, vec_col, key)
    if iters == 0:
        return _seed_centroids(q, init_ids, key)
    # Spread + pin the quantized corpus for the duration of training:
    # every Lloyd iteration re-reads it (assignment + update), the
    # per-iteration centroid checkpoint makes each iteration an
    # action, and a small input file may scan as 1-2 splits (parquet
    # can't split below a row group), serializing the per-dim sums.
    # One explicit shuffle to shuffle.partitions + a persist bounds
    # the rescans to one; unpersisted before returning.
    n_shuffle = int(corpus.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    q = q.repartition(n_shuffle).persist()
    cents = _seed_centroids(q, init_ids, key)
    for _ in range(iters):
        # materialize the K-row table per iteration: each Lloyd step
        # is a natural barrier, and without the cut every DOWNSTREAM
        # use of the trained centroids (assignment, probe, pairwise
        # verify branches) re-executes the whole training chain —
        # measured 3x recompute in the SemDeDup composition. K rows,
        # so the checkpoint is free. The pre-checkpoint plan is
        # audited via _update_centroids (tools/plan_audit.py
        # kmeans_iteration[pre-checkpoint]).
        cents = _update_centroids(_assign(q, cents, key), key).localCheckpoint(eager=True)
    q.unpersist()
    return cents


def _update_centroids(assigned: DataFrame, key: str | None = None) -> DataFrame:
    """One Lloyd centroid update: posexplode to ([key, ]cluster, dim,
    val), ONE partial-agg groupBy over K*dim cells, K-row rebuild."""
    keys = [key] if key else []
    ex = assigned.selectExpr(*keys, "cluster", "posexplode(q) AS (dim, val)")
    per_dim = ex.groupBy(*keys, "cluster", "dim").agg(
        F.expr("sum(val) AS s"), F.expr("count(1) AS n")
    )
    return (
        per_dim.withColumn("cv", F.expr("s div n"))
        .groupBy(*keys, "cluster")
        .agg(
            sql_hof(
                "transform", "array_sort(collect_list(struct(dim, cv)))", "st -> st.cv"
            ).alias("c")
        )
    )


def kmeans_assign(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame,
) -> DataFrame:
    """Assign every corpus row to its nearest centroid from a trained
    (cluster, c) table (kmeans_train output): broadcast K-row join,
    exact integer distances, ties to the lower cluster id. Returns
    (id_col, cluster) — the consumer-facing assignment surface used
    by compositions like llm_cluster_top_terms."""
    q = _quantized(corpus, id_col, vec_col)
    return _assign(q, centroids).selectExpr(f"vid AS {id_col}", "cluster")


def kmeans_fixed(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    init_ids: Sequence[int],
) -> DataFrame:
    """Run KMEANS_ITERS Lloyd iterations from centroids seeded at
    `init_ids`; returns the final per-cluster summary
    (cluster, n_members, sse, min_member) — all exact integers."""
    cents = kmeans_train(corpus, id_col, vec_col, init_ids)
    final = _assign(_quantized(corpus, id_col, vec_col), cents)
    return final.groupBy("cluster").agg(
        F.expr("count(1) AS n_members"),
        F.expr("sum(d2) AS sse"),
        F.expr("min(vid) AS min_member"),
    )
