"""Similarity search over embedding columns (LLM-pipeline extension).

Seven operators, all scoring on vectors quantized at QUANT_SCALE
(functions/vectors.py) so every cosine and distance is exact and the
DuckDB oracles replay them bit-for-bit:

- brute_force_topk: exact quantized-cosine top-k. The query set is
  broadcast (it is small by construction); the corpus never shuffles
  — each partition scores its slice and WindowGroupLimit keeps k rows
  per query before the exchange. This is the correct baseline and the
  right plan up to ~10^7 corpus rows per executor-core batch.
- hard_negative_topk: the same plan with a label-inequality join, for
  contrastive training pairs.
- lsh_ann_topk: random-hyperplane LSH. Plane coefficients are
  deterministic integers derived from an LCG (portable to the DuckDB
  oracle); bucket = sign-bit string of the plane dot products.
  Candidates = same bucket as the query (single-probe), ranked by
  exact quantized cosine. Sub-linear scan at the cost of recall —
  the bucket join replaces the full scan with a shuffle on bucket ids.
- embedding_near_pairs: the all-pairs form of the LSH bucket join.
- semdedup: cluster, then drop within-cluster near-duplicates.
- ivf_topk: inverted-file ANN over a quantized centroid codebook.
- pq_adc_topk: product quantization with asymmetric distance lookup.

Codebook contract: the three codebook operators (semdedup, ivf_topk,
pq_adc_topk) take one quantized codebook form, built by one
construction — operators/kmeans.py kmeans_train: the seed rows picked
by id, then 0 (seeded) or KMEANS_ITERS (trained) Lloyd rounds.
semdedup's ``centroid_ids`` is that construction with zero rounds;
PQ's per-subspace books are the same trainer keyed on the subspace
index (_pq_codebook: one Lloyd pass trains every subspace), and PQ
encodes the corpus with k-means' own argmin (kmeans.py _assign).

One scorer: every vector is prepared by _prepared (quantize, exact
squared norm), and the per-query operators — brute_force_topk,
hard_negative_topk, lsh_ann_topk and ivf_topk's final ranking — score
through _cos_top_k: a broadcast join of the query set on the caller's
condition, cosine_q, the k best per query (top_k_per_group's
row_number plan, operators/topk.py, with a (cos, neighbor_id)
tie-break) and cos_micro.  queries/llm.py holds the same pieces in
DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cosine_q, dot_q, norm2_q, quantize
from .kmeans import _assign, _quantized, dist2_q, kmeans_train
from .pairs import _salted_pair_join, spread_for_pair_join
from .topk import top_k_per_group

# Deterministic hyperplane coefficients: c(j, i) from a 31-bit LCG,
# shifted to be sign-balanced. Reproducible in SQL as
# ((1103515245 * (j*dim + i) + 12345) % 2147483648) % 1001 - 500.
N_PLANES = 8
_LCG_A, _LCG_C, _LCG_M = 1103515245, 12345, 2_147_483_648

_INT32_MAX = 2_147_483_647


def _narrow_q32(q: Column, n2: Column) -> Column:
    """array<long> -> array<int> for the replicated pair-stage shuffle
    (guide §2.3 "narrower types": the salted pair join ships every
    vector PAIR_SALT+1 times, so halving the element width halves the
    stage's dominant shuffle bytes).

    Exactness bound: the existing integer-dot contract already requires
    dim * max|qi|^2 <= 2^63 (else norm2_q/dot_q would overflow long),
    which caps |qi| at sqrt(2^63/dim) — 3.8e8 for dim=64, two orders
    of magnitude inside int32 (2.147e9). The runtime guard checks the
    per-ROW implication max|qi| <= sqrt(n2) using the already-computed
    exact n2 = sum(qi^2): n2 <= (2^31-1)^2 guarantees every element
    casts losslessly; a violating row raises instead of wrapping
    (long->int casts wrap silently under non-ANSI semantics). The
    guard is deliberately CONSERVATIVE (it costs nothing — n2 already
    exists): it can reject a vector whose norm exceeds the bound even
    though each element fits, but such a vector has rms element
    >= 2.7e8 at dim 64 — two orders of magnitude outside any unit-ish
    embedding at QUANT_SCALE=1000, and within 2x of where the exact int64
    dot itself stops being guaranteed.
    The guard presumes n2 itself is exact (the contract above): under
    non-ANSI semantics an n2 that wrapped past 2^63 could pass the
    bound with elements outside int32.
    dot_q/norm2_q widen elements back to long before multiplying, so
    the arithmetic — and every oracle-checked result — is unchanged.

    A null vector (or one with a null element, which nulls n2) passes
    through as a null array<int>: a null comparison would otherwise
    fall into the raise branch and fail the whole job."""
    return (
        F.when(n2.isNull(), F.lit(None).cast("array<int>"))
        .when(
            n2 <= F.lit(_INT32_MAX * _INT32_MAX),  # (2^31-1)^2 as a long literal
            F.transform(q, lambda x: x.cast("int")),
        )
        .otherwise(
            F.raise_error(
                F.lit(
                    "quantized embedding element exceeds int32: the narrowed "
                    "pair-stage shuffle would wrap — widen scale bound"
                )
            ).cast("array<int>")
        )
    )


def plane_coef(j: int, i: int, dim: int) -> int:
    return ((_LCG_A * (j * dim + i) + _LCG_C) % _LCG_M) % 1001 - 500


def _bucket_expr(qvec: str, dim: int) -> Column:
    """Sign-bit bucket id from N_PLANES hyperplane dot products over
    the quantized vector column ``qvec`` — pure codegen arithmetic, no
    UDF, written as one SQL-text expression (one parse, where Column
    literals cost a Py4J round trip per coefficient)."""
    bits = []
    for j in range(N_PLANES):
        coefs = ", ".join(str(plane_coef(j, i, dim)) for i in range(dim))
        dot = (
            f"aggregate(zip_with({qvec}, array({coefs}), (x, c) -> x * c), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )
        bits.append(f"CASE WHEN {dot} >= 0 THEN {1 << j} ELSE 0 END")
    return F.expr(" + ".join(bits))


_COS_MICRO = "CAST(floor(cos * 1e6) AS BIGINT) AS cos_micro"


def _prepared(df: DataFrame, vec_col: str, *cols: str) -> DataFrame:
    """``cols`` (SQL expressions: the id, then any carried columns),
    ``_q`` — ``vec_col`` quantized at QUANT_SCALE — and ``_n2``, its
    exact squared norm: the one preparation every quantized-cosine
    operator scores from.

    Column references are F.expr(name): F.col captures its Python call
    site with Py4J round trips on every call, a parse does not."""
    return df.select(*map(F.expr, cols), quantize(F.expr(vec_col)).alias("_q")).withColumn(
        "_n2", norm2_q(F.expr("_q"))
    )


def _cos_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    on: str,
    k: int,
    out: tuple[str, ...] = ("query_id", "neighbor_id"),
) -> DataFrame:
    """The one quantized-cosine scorer: ``corpus`` (neighbor_id, _q,
    _n2, ...) joins the BROADCAST ``queries`` (query_id, _q, _n2, ...),
    both from _prepared, on the SQL condition ``on``, in which ``c.``
    and ``q.`` qualify a corpus and a query column; each pair scores
    cosine_q, the k best per query_id (cos desc, neighbor_id asc) are
    kept, and the result is ``out`` plus cos_micro.  The ranking is
    top_k_per_group's row_number plan (operators/topk.py), with the
    window written as SQL text: the corpus never shuffles before the
    per-query WindowGroupLimit.  A condition with an equality between
    the sides plans a broadcast hash join, any other a broadcast
    nested-loop join.

    Degenerate inputs match the oracle (tests/test_curation_inputs.py):
    an empty corpus or query set gives no rows; a NULL vector scores a
    NULL cosine, which ranks after every real neighbour (DESC puts
    NULLs last), so a NULL query keeps its k lowest neighbour ids with
    a NULL cos_micro."""
    scored = corpus.alias("c").join(F.broadcast(queries.alias("q")), F.expr(on)).withColumn(
        "cos", cosine_q(dot_q(F.expr("q._q"), F.expr("c._q")), F.expr("q._n2"), F.expr("c._n2"))
    )
    return (
        scored.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS _rn",
        )
        .filter(f"_rn <= {k}")
        .selectExpr(*out, _COS_MICRO)
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors (quantized cosine) of each query vector.
    Returns (query_id, neighbor_id, cos_micro) with deterministic
    (cos desc, neighbor_id asc) ranking (_cos_top_k)."""
    return _cos_top_k(
        _prepared(corpus, vec_col, f"{id_col} AS neighbor_id"),
        _prepared(queries, vec_col, f"{query_id_col} AS query_id"),
        "neighbor_id != query_id",
        k,
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
) -> DataFrame:
    """Contrastive hard-negative mining: for each query vector, the k
    most cosine-similar corpus vectors whose LABEL DIFFERS from the
    query's — the embedding-curation step that builds contrastive /
    metric-learning training pairs (a positive's nearest other-class
    neighbors are the negatives worth training on).

    Scale shape: identical to brute_force_topk — the (small) query
    set broadcasts WITH its labels, the corpus never shuffles, and
    the label constraint rides the broadcast-join condition so
    same-class rows are discarded BEFORE any scoring expression
    runs; per-query top-k is limited via WindowGroupLimit ahead of
    the exchange.  Returns (query_id, query_label, neighbor_id,
    neighbor_label, cos_micro) with deterministic (cos desc,
    neighbor_id asc) ranking."""
    return _cos_top_k(
        _prepared(corpus, vec_col, f"{id_col} AS neighbor_id", f"{label_col} AS neighbor_label"),
        _prepared(queries, vec_col, f"{id_col} AS query_id", f"{label_col} AS query_label"),
        "neighbor_label != query_label",
        k,
        ("query_id", "query_label", "neighbor_id", "neighbor_label"),
    )


def embedding_near_pairs(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: bucket every vector by
    its hyperplane signature, self-join on bucket (id_a < id_b), keep
    pairs with exact quantized cosine >= threshold.

    The all-pairs analog of lsh_ann_topk: single-probe recall (a pair
    is found iff no plane separates it — the standard LSH trade), but
    the join is on bucket ids, so the work is sum of squared bucket
    sizes, not corpus^2. At 100 TB: buckets are the shuffle key;
    Zipfian bucket skew is handled by AQE skew-split, or add more
    planes to shrink buckets.
    """
    # pin the signature computation ONCE (both join sides would
    # re-run the 8 plane dot products per row), then spread the
    # quadratic pair fan-out explicitly — AQE would coalesce the
    # exchange by its (tiny) input size, blind to sum-bucket^2 pairs
    # (measured 68 s -> ~8 s at the sf1 point; rationale in
    # operators/pairs.py)
    c = spread_for_pair_join(
        _prepared(corpus, vec_col, f"{id_col} AS _id").withColumn(
            "bucket", _bucket_expr("_q", dim)
        ),
        "bucket",
    )
    a = c.select(F.col("_id").alias("id_a"), F.col("_q").alias("_qa"), F.col("_n2").alias("_na"), "bucket")
    b = c.select(F.col("_id").alias("id_b"), F.col("_q").alias("_qb"), F.col("_n2").alias("_nb"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine_q(dot_q(F.col("_qa"), F.col("_qb")), F.col("_na"), F.col("_nb")))
        .filter(F.col("cos") >= threshold)
        .selectExpr("id_a", "id_b", _COS_MICRO)
    )


def semdedup(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroid_ids: list[int] | None = None,
    threshold: float = 0.95,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Semantic deduplication (SemDeDup — Abbas, Tirumala, Simig,
    Ganguli, Morcos, "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication", arXiv:2303.09540): cluster the
    embedding space with a coarse codebook, then drop all but one
    member of every within-cluster group of semantic near-duplicates
    (pairwise cosine >= threshold).

    Plan shape at 100 TB — the reason SemDeDup clusters at all:
    - assignment scores the corpus against the K-row centroid table,
      argmax cosine with ties to the lower cell. The corpus never
      shuffles for this. The codebook is a quantized (cluster, c)
      table from operators/kmeans.py kmeans_train: pass it trained as
      ``centroids`` (the composition llm_semdedup_trained
      demonstrates), or pass ``centroid_ids`` for the same
      construction with zero Lloyd rounds (the seed rows themselves).
    - the near-dup search shuffles once on cluster id, and the
      pairwise work is sum over clusters of |cluster|^2 — the whole
      point vs the corpus^2 all-pairs scan. Hot clusters are ordinary
      equi-join skew (AQE-splittable); more centroids shrink clusters.
    - keep rule is deterministic: a row is dropped iff a LOWER-id row
      of the same cluster sits within the cosine threshold (the
      paper keeps one representative per epsilon-group; lowest-id is
      the portable tie-break the oracle can replay).

    Determinism: quantized integer dot/norm (functions/vectors.py),
    cosine as a single double expression — bit-identical to DuckDB.
    Output: (id_col, cluster, kept)."""
    if (centroid_ids is None) == (centroids is None):
        raise ValueError("pass exactly one of centroid_ids / centroids")
    if centroids is None:
        centroids = kmeans_train(corpus, id_col, vec_col, centroid_ids, iters=0)
    c = _semdedup_corpus(corpus, id_col, vec_col)
    # lineage cut (lazy, graph.py pattern): the assignment feeds
    # THREE consumers (both sides of the within-cluster pair join and
    # the final labeling join) — without it the broadcast centroid
    # scoring re-executes per consumer. The pre-checkpoint plan is
    # audited via _semdedup_assigned (tools/plan_audit.py
    # semdedup_assign[pre-checkpoint]).
    assigned = _semdedup_assigned(c, centroids).localCheckpoint(eager=False)
    # Within-cluster pair enumeration, SALTED over (cluster, salt)
    # shuffle keys (operators/pairs.py _salted_pair_join): K clusters
    # alone would leave the sum-cluster^2 cosine work on K tasks.
    lo = assigned.select(
        "cluster", F.col("_id").alias("_lo"), F.col("_q").alias("_ql"), F.col("_n2").alias("_nl")
    )
    hi = assigned.select(
        "cluster", F.col("_id").alias("_hi"), F.col("_q").alias("_qh"), F.col("_n2").alias("_nh")
    )
    dominated = (
        _salted_pair_join(lo, hi, "cluster", "_hi")
        .filter(F.col("_lo") < F.col("_hi"))
        .withColumn(
            "_pcos", cosine_q(dot_q(F.col("_ql"), F.col("_qh")), F.col("_nl"), F.col("_nh"))
        )
        .filter(F.col("_pcos") >= threshold)
        .select(F.col("_hi").alias("_id"))
        .distinct()
    )
    return (
        assigned.join(dominated.withColumn("_dup", F.lit(1)), "_id", "left")
        .select(
            F.col("_id").alias(id_col), "cluster", F.col("_dup").isNull().alias("kept")
        )
    )


def _semdedup_corpus(corpus: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Quantize + exact-norm + int32-narrow the corpus for semdedup
    (shared with tools/plan_audit.py semdedup_assign[pre-checkpoint]
    so the audited subtree is the live construction). The narrow
    happens BEFORE the assignment/pair pipeline: the pair stage
    replicates these vectors PAIR_SALT+1 ways through its salted
    shuffle (guide §2.3; bound + guard at _narrow_q32)."""
    return _prepared(corpus, vec_col, f"{id_col} AS _id").withColumn(
        "_q", _narrow_q32(F.col("_q"), F.col("_n2"))
    )


def _semdedup_assigned(c: DataFrame, centroids: DataFrame) -> DataFrame:
    """SemDeDup cell assignment of the prepared corpus ``c``
    (_semdedup_corpus): argmax cosine against the K-row (cluster, c)
    codebook, ties to the lower cell — as ONE Arrow-batched numpy
    matmul per input batch (mapInPandas), not a per-row JVM
    expression over an N*K joined table.

    Why: dense embedding scoring is a matrix multiply.  The
    expression form (broadcast join + per-row higher-order-function
    dot products) pays interpreted per-element lambda overhead that
    whole-stage codegen cannot absorb — measured ~160 us per scored
    row, 14 s for K=141 over 20k rows at the sf1 point, LINEAR in K;
    the same scoring as a per-batch int64 matmul + float64 argmax is
    0.6 s (23x).  At 100 TB the gap decides feasibility, and this is
    the kernel shape every production vector system uses (BLAS over
    Arrow batches).  The corpus still never shuffles: the K-row
    quantized codebook (K*dim*8 bytes, <=131 KB at the cap) ships in
    the task closure, each batch computes B x K scores locally, and
    one row per input row comes out.

    Exactness: quantized dots are int64 matmul (exact); cosine =
    dot / sqrt(n2a * kn2) evaluated in float64 — bit-identical to
    the JVM/DuckDB double expression (products stay below 2^53, and
    IEEE division/sqrt are correctly rounded everywhere).  Cells are
    sorted ascending so numpy's first-max argmax IS the lower-cell
    tie-break; an exact cosine tie between distinct cells requires
    equal doubles, which both engines then break the same way.  A NULL
    vector (NULL ``_n2``) scores a NULL cosine against every cell, which
    the oracle ranks last, so every cell ties and it takes the lowest.

    The K-row collect is a driver scalar of the graph-fixpoint
    class; K is bounded (codebook), never corpus-scale."""
    import numpy as np

    crows = sorted(
        centroids.select("cluster", "c", norm2_q(F.col("c"))).collect()
    )
    cells = np.array([r[0] for r in crows], dtype=np.int64)
    ck_t = np.array([r[1] for r in crows], dtype=np.int64).T  # dim x K
    kn2 = np.array([r[2] for r in crows], dtype=np.float64)

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            real = pdf["_n2"].notna().to_numpy()
            best = np.zeros(len(pdf), dtype=np.int64)  # NULL vector: lowest cell
            if real.any():
                q = np.stack(pdf["_q"].to_numpy()[real]).astype(np.int64)  # B x dim
                dots = q @ ck_t  # B x K, int64 exact
                n2 = pdf["_n2"].to_numpy()[real].astype(np.float64)
                cos = dots.astype(np.float64) / np.sqrt(n2[:, None] * kn2[None, :])
                best[real] = np.argmax(cos, axis=1)  # first max == lowest cell
            yield pd.DataFrame(
                {
                    "_id": pdf["_id"],
                    "_q": pdf["_q"],
                    "_n2": pdf["_n2"],
                    "cluster": cells[best],
                }
            )

    return c.mapInPandas(assign, "_id long, _q array<int>, _n2 long, cluster long")


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    dim: int,
    k: int = 3,
) -> DataFrame:
    """Approximate top-k: candidates share the query's hyperplane
    bucket; exact quantized cosine ranks within the bucket."""
    return _cos_top_k(
        _prepared(corpus, vec_col, f"{id_col} AS neighbor_id").withColumn(
            "bucket", _bucket_expr("_q", dim)
        ),
        _prepared(queries, vec_col, f"{query_id_col} AS query_id").withColumn(
            "bucket", _bucket_expr("_q", dim)
        ),
        "c.bucket = q.bucket AND neighbor_id != query_id",
        k,
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    centroids: DataFrame,
    k: int = 3,
    n_probe: int = 2,
) -> DataFrame:
    """IVF (inverted-file) ANN: partition the corpus into cells by
    nearest centroid, then search only the ``n_probe`` cells nearest
    each query — the classic coarse-quantizer layout (FAISS IVF-flat),
    expressed as two joins.

    Plan shape at 100 TB: the centroid table is tiny by construction
    (k-means coarse codebook, 2^10..2^20 rows) -> both the assignment
    pass and the query-probe pass are BROADCAST joins against the
    corpus; the only shuffle is the candidate join on cell id, whose
    size is corpus/n_cells * n_probe per query. Hot cells (Zipfian
    data) are AQE skew-split; more centroids shrink cells.

    ``centroids`` is a quantized (cluster, c) codebook: the
    operators/kmeans.py kmeans_train output (llm_ann_ivf_trained) or
    quantized member rows picked as seeds (llm_ann_ivf). Returns
    (query_id, neighbor_id, cos_micro), k rows per query ranked
    (cos desc, neighbor_id asc).

    Determinism: all scoring on quantized integer vectors (exact),
    ties broken by id — bit-identical to the DuckDB oracle.
    """
    cents = centroids.select(
        F.col("cluster").alias("_cell"), F.col("c").alias("_kq")
    ).withColumn("_kn2", norm2_q(F.col("_kq")))

    def nearest_cells(df: DataFrame, idc: str, out_id: str, n: int) -> DataFrame:
        scored = (
            _prepared(df, vec_col, f"{idc} AS {out_id}")
            .join(F.broadcast(cents))
            .withColumn("_cos", cosine_q(dot_q(F.col("_q"), F.col("_kq")), F.col("_n2"), F.col("_kn2")))
        )
        return top_k_per_group(
            scored, [out_id], [F.desc("_cos"), F.asc("_cell")], n, rank_col="_rn"
        ).select(out_id, "_cell", "_q", "_n2")

    return _cos_top_k(
        nearest_cells(corpus, id_col, "neighbor_id", 1),
        nearest_cells(queries, query_id_col, "query_id", n_probe),
        "c._cell = q._cell AND neighbor_id != query_id",
        k,
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    codebook: DataFrame,
    n_sub: int = 4,
    k: int = 3,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
    Search", TPAMI 2011 — the FAISS PQ/ADC layout).

    The vector space is split into ``n_sub`` subspaces; each corpus
    subvector is ENCODED as the id of its nearest per-subspace
    codeword. ``codebook`` is the quantized (m, cluster, c) table
    _pq_codebook builds: operators/kmeans.py kmeans_train keyed on the
    subspace index m, seeded (zero Lloyd rounds, llm_ann_pq) or
    trained (llm_ann_pq_trained) — one construction, one input form.
    The encoder is k-means' own assignment (kmeans.py _assign, keyed
    on m).  A query never touches corpus vectors: it precomputes a
    (subspace, code) -> partial-d2 lookup table and scores every
    corpus row as the SUM of n_sub table lookups.

    Scale: this is the memory-bound regime's answer — the corpus
    collapses from dim*4 bytes/row to n_sub*log2(K) BITS/row (here
    64 floats -> 1 byte), so a 100 TB embedding store becomes ~0.4 TB
    of codes that fit executor memory. The encode pass is a broadcast
    join against the K*n_sub-row codebook with a partial-agg argmin;
    the search pass is a broadcast of the per-query LUT (Q*n_sub*K
    rows) against the codes with sum/topk — the corpus never
    shuffles until the final per-query WindowGroupLimit. Compose with
    ivf_topk cells to prune the scan itself (IVF-PQ).

    Determinism: quantized integer subvector distances, argmin ties
    to the lower code, ADC ties to the lower neighbor id —
    bit-identical to the DuckDB oracle."""

    def subvectors(df: DataFrame, idc: str) -> DataFrame:
        return _quantized(_pq_slices(df, idc, vec_col, n_sub), idc, "_sv", "m")

    codes = _assign(subvectors(corpus, id_col), codebook, "m").select(
        F.col("vid").alias("nid"), "m", F.col("cluster").alias("code")
    )
    lut = (
        subvectors(queries, query_id_col)
        .join(F.broadcast(codebook), "m")
        .select(
            F.col("vid").alias("query_id"),
            "m",
            F.col("cluster").alias("code"),
            dist2_q("q", "c").alias("d2"),
        )
    )
    scored = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("nid") != F.col("query_id"))
        .groupBy("query_id", "nid")
        .agg(F.sum("d2").alias("adc_d2"))
    )
    return top_k_per_group(
        scored, ["query_id"], [F.asc("adc_d2"), F.asc("nid")], k, rank_col="_rn"
    ).select("query_id", F.col("nid").alias("neighbor_id"), "adc_d2")


def _pq_slices(df: DataFrame, id_col: str, vec_col: str, n_sub: int) -> DataFrame:
    """(id_col, m, _sv): one row per vector and subspace m, ``_sv`` the
    raw m-th of ``n_sub`` equal slices of ``vec_col``, sized from the
    vector itself.  Slicing commutes with elementwise quantization, so
    the codebook and the encoder measure in the same space."""
    sd = f"CAST(size({vec_col}) / {n_sub} AS INT)"
    parts = ", ".join(
        f"named_struct('m', {m}, '_sv', slice({vec_col}, {sd} * {m} + 1, {sd}))"
        for m in range(n_sub)
    )
    return df.selectExpr(id_col, f"inline(array({parts}))")


def _pq_codebook(
    corpus: DataFrame, id_col: str, vec_col: str, codeword_ids: list[int], n_sub: int, iters: int
) -> DataFrame:
    """The (m, cluster, c) codebook pq_adc_topk takes: operators/
    kmeans.py kmeans_train over the subvector slices keyed on the
    subspace m, so one Lloyd pass trains every subspace's book, seeded
    at ``codeword_ids`` and run for ``iters`` rounds (0: the seed
    subvectors themselves).  A code is its seed's vector id."""
    return kmeans_train(
        _pq_slices(corpus, id_col, vec_col, n_sub), id_col, "_sv", codeword_ids, iters, "m"
    )
