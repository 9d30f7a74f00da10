"""Training-data pipeline queries (LLM-pipeline extensions, second
batch): benchmark decontamination, PII scrubbing, domain-mixture
sampling, sequence packing, intra-document repetition scoring, and
IVF-partitioned ANN.

No reference counterpart (the reference's surface is the six DBLP
queries — SURVEY.md §2.2); these are the operations a 100 TB
training-data pipeline layers on top of the dedup/similarity family
in queries/llm.py.

Portability contract (same as llm.py): every compared value is
produced by constructs with identical semantics in Spark SQL and
DuckDB — md5-based hash60, integer arithmetic, IEEE-double division
+ floor. The oracle re-implements the SAME algorithm.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import hash60, tokens, word_shingles
from ..functions.vectors import quantize
from ..operators.kmeans import KMEANS_ITERS, _assign, _update_centroids, kmeans_train
from ..operators.pairs import _salted_pair_join, spread_for_pair_join
from ..operators.similarity import _pq_codebook, ivf_topk, pq_adc_topk
from ..operators.topk import top_k_per_group
from ..sources.parquet import load_table
from .llm import (
    _AUGMENTED_CTE,
    _CLUSTER_CTE,
    _JACCARD_PAIRS_CTE,
    _NORM_SQL,
    _SH_CTE,
    _TOKENS_SQL,
    EMB_DIM,
    N_QUERY_VECS,
    _augmented_embeddings,
    _cos,
    _docs_shingled,
    _n2,
    _near_dup_clusters,
    _norm_sql,
    _prepared_cte,
    _quant,
    _top_k_tail,
)

# --- decontamination ---------------------------------------------------------
# Held-out "benchmark" split: every 20th doc. In production the test
# side is a real benchmark suite (bounded, MBs); here it is carved
# from the corpus so the oracle sees the identical split.
TEST_MOD = 20
CONTAM_THRESHOLD_MICRO = 500_000


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for each training document, the
    containment of its 3-word shingle set in the union of benchmark
    shingles — flag docs above 50%. The standard pre-training hygiene
    pass (e.g. GPT-3 appendix C; 13-gram overlap) at shingle
    granularity.

    Scale: the exploded-shingle semi-join shuffles on the shingle
    string. With a real benchmark suite the right side is bounded and
    the join broadcasts; here the split scales with the corpus, so
    the strategy is left to the size threshold + AQE. Counting
    distinct hits per doc is one partial-aggregated pass."""
    sh = _docs_shingled(spark, sf_dir)
    ex = sh.select(
        "doc_id", F.explode(F.array_distinct("shingles")).alias("shingle")
    )
    test_sh = ex.filter(F.col("doc_id") % TEST_MOD == 0).select("shingle").distinct()
    train = ex.filter(F.col("doc_id") % TEST_MOD != 0)
    sizes = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        train.join(test_sh, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        sizes.join(hits, "doc_id", "left")
        .withColumn("n_hit", F.coalesce("n_hit", F.lit(0)))
        .withColumn(
            "contain_micro",
            F.floor(F.col("n_hit") * 1000000.0 / F.col("n_shingles")).cast("long"),
        )
        .withColumn("is_contaminated", F.col("contain_micro") >= CONTAM_THRESHOLD_MICRO)
        .select("doc_id", "n_shingles", "n_hit", "contain_micro", "is_contaminated")
        .orderBy("doc_id")
    )


SQL_DECONTAMINATE = f"""
WITH {_SH_CTE},
ex AS (SELECT doc_id, unnest(ss) AS shingle FROM sh),
test_sh AS (SELECT DISTINCT shingle FROM ex WHERE doc_id % {TEST_MOD} = 0),
train AS (SELECT * FROM ex WHERE doc_id % {TEST_MOD} != 0),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM train GROUP BY doc_id),
hits AS (
  SELECT doc_id, count(*) AS n_hit FROM train
  WHERE shingle IN (SELECT shingle FROM test_sh) GROUP BY doc_id
)
SELECT s.doc_id, s.n_shingles, coalesce(h.n_hit, 0) AS n_hit,
       CAST(floor(coalesce(h.n_hit, 0) * 1000000.0 / s.n_shingles) AS BIGINT) AS contain_micro,
       coalesce(h.n_hit, 0) * 1000000.0 / s.n_shingles >= {CONTAM_THRESHOLD_MICRO}
         AS is_contaminated
FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
ORDER BY s.doc_id
"""


# --- PII scrubbing -----------------------------------------------------------
# The fixture text is synthetic word salad, so PII is injected
# deterministically (identically in both engines) before scrubbing —
# the operator under test is the scrub itself.
_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.-]+"
_PHONE_RE = "[0-9]{7,}"


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: regex-scrub emails and long digit runs, report
    per-doc redaction counts and a hash of the scrubbed text. Pure
    JVM-side regexp_* expressions — at 100 TB this is a narrow map
    over the scan with zero shuffles; counts come from
    regexp_extract_all (one pass) and the scrub from two
    regexp_replace passes."""
    d = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com tel "),
        ((F.col("doc_id") * 7919) % 9000000 + 1000000).cast("string"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(aug, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(aug, F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(aug, F.lit(_PHONE_RE), 0)).alias("n_phones"),
        F.length(scrubbed).alias("scrub_len"),
        hash60(scrubbed).alias("scrub_hash"),
    ).orderBy("doc_id")


SQL_PII_SCRUB = f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || doc_id::VARCHAR || '@mail.example.com tel '
              || ((doc_id * 7919) % 9000000 + 1000000)::VARCHAR AS a
  FROM documents
),
s AS (
  SELECT doc_id, a,
         regexp_replace(regexp_replace(a, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                        '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed
  FROM aug
)
SELECT doc_id,
       len(regexp_extract_all(a, '{_EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(a, '{_PHONE_RE}')) AS n_phones,
       length(scrubbed) AS scrub_len,
       ('0x' || substr(md5(scrubbed), 1, 15))::BIGINT AS scrub_hash
FROM s ORDER BY doc_id
"""


# --- domain-mixture sampling -------------------------------------------------
def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling: per-source target rates (derived
    deterministically from the source name), applied as a per-row
    hash gate — the standard way to hit a target data mixture
    (e.g. The Pile / Dolma mixture weights) without a shuffle.

    Scale: the gate is a narrow filter on the scan (no sample()
    nondeterminism, no repartition); the report is one partial-agg
    groupBy over ~constant source cardinality."""
    d = load_table(spark, sf_dir, "documents")
    weight = (F.lit(100000) + hash60(F.col("source")) % 900000).alias("weight_micro")
    gate = hash60(F.concat(F.col("source"), F.lit(":"), F.col("doc_id").cast("string")))
    kept = (gate % 1000000) < F.col("weight_micro")
    return (
        d.select(
            "source",
            weight,
            F.size(tokens(F.col("text"))).alias("_ntok"),
            kept.alias("_kept"),
        )
        .groupBy("source", "weight_micro")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("_kept"), 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(F.col("_kept"), F.col("_ntok")).otherwise(0)).alias("tokens_kept"),
        )
        .withColumn(
            "realized_micro",
            F.floor(F.col("n_kept") * 1000000.0 / F.col("n_total")).cast("long"),
        )
        .orderBy("source")
    )


SQL_DOMAIN_MIXTURE = f"""
WITH w AS (
  SELECT doc_id, source,
         100000 + ('0x' || substr(md5(source), 1, 15))::BIGINT % 900000 AS weight_micro,
         ('0x' || substr(md5(source || ':' || doc_id::VARCHAR), 1, 15))::BIGINT % 1000000
           AS gate,
         len({_TOKENS_SQL}) AS ntok
  FROM documents
),
g AS (
  SELECT source, weight_micro,
         count(*) AS n_total,
         sum(CASE WHEN gate < weight_micro THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         sum(CASE WHEN gate < weight_micro THEN ntok ELSE 0 END)::BIGINT AS tokens_kept
  FROM w GROUP BY source, weight_micro
)
SELECT source, weight_micro, n_total, n_kept, tokens_kept,
       CAST(floor(n_kept * 1000000.0 / n_total) AS BIGINT) AS realized_micro
FROM g ORDER BY source
"""


# --- sequence packing --------------------------------------------------------
PACK_BUDGET = 256
PACK_SHARDS = 8


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concatenate documents in deterministic order
    within each (lang, shard) stream and cut packs every PACK_BUDGET
    tokens (a doc belongs to the pack where it starts) — the
    concat-and-chunk layout used to build training batches.

    Expressed as a running-sum window + integer division: one shuffle,
    no UDF, no collect. The stream key is (lang, shard) with shard =
    doc_id hash-bucket — lang alone has tiny cardinality, so at 100 TB
    each language would funnel through ONE window task (round-1
    verdict). Sharding bounds every window partition at 1/PACK_SHARDS
    of a language (scale PACK_SHARDS with the corpus); each shard packs
    against its own budget, which is exactly how parallel batch
    builders shard in practice."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "lang",
        (F.col("doc_id") % PACK_SHARDS).cast("int").alias("shard"),
        F.size(tokens(F.col("text"))).alias("n_tok"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = base.withColumn(
        "pack_id",
        F.floor(F.coalesce(F.sum("n_tok").over(w), F.lit(0)) / F.lit(float(PACK_BUDGET))).cast(
            "long"
        ),
    )
    return (
        packed.groupBy("lang", "shard", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("lang", "shard", "pack_id")
    )


SQL_SEQUENCE_PACK = f"""
WITH base AS (
  SELECT doc_id, lang, CAST(doc_id % {PACK_SHARDS} AS INT) AS shard,
         len({_TOKENS_SQL}) AS n_tok
  FROM documents
),
p AS (
  SELECT doc_id, lang, shard, n_tok,
         CAST(floor(coalesce(sum(n_tok) OVER (
             PARTITION BY lang, shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / {PACK_BUDGET}.0) AS BIGINT) AS pack_id
  FROM base
)
SELECT lang, shard, pack_id, count(*) AS n_docs, sum(n_tok)::BIGINT AS n_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM p GROUP BY lang, shard, pack_id ORDER BY lang, shard, pack_id
"""


# --- intra-document repetition ----------------------------------------------
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition scoring: fraction of repeated 3-word shingles per
    document (C4/Gopher-style "repetitious text" quality gate). All
    array expressions over the shared shingle table — a narrow map,
    no shuffle, no explode."""
    sh = _docs_shingled(spark, sf_dir)
    n_total = F.size("shingles")
    n_distinct = F.size(F.array_distinct("shingles"))
    return (
        sh.filter(n_total > 0)
        .select(
            "doc_id",
            n_total.alias("n_shingles"),
            n_distinct.alias("n_distinct"),
            F.floor((n_total - n_distinct) * 1000000.0 / n_total).cast("long").alias(
                "rep_micro"
            ),
        )
        .orderBy("doc_id")
    )


SQL_REPETITION = f"""
WITH toks AS (
  SELECT doc_id,
         {_TOKENS_SQL} AS t
  FROM documents
),
shm AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]
              ELSE [] END AS ss
  FROM toks
)
SELECT doc_id, len(ss) AS n_shingles, len(list_distinct(ss)) AS n_distinct,
       CAST(floor((len(ss) - len(list_distinct(ss))) * 1000000.0 / len(ss)) AS BIGINT)
         AS rep_micro
FROM shm WHERE len(ss) > 0 ORDER BY doc_id
"""


# --- k-means codebooks (oracle side) ----------------------------------------
# Every vector codebook — SemDeDup cells, IVF coarse cells, PQ
# per-subspace codewords, llm_kmeans itself — is the k-means seed table
# followed by 0 (seeded) or KMEANS_ITERS (trained) Lloyd rounds, on
# both engines (operators/kmeans.py kmeans_train).
KMEANS_INIT_IDS = [30, 31, 32, 33]

# one Lloyd assignment {P}a{t} against the centroid table {P}c{p}
_KM_ASSIGN = """
{P}a{t} AS (
  SELECT vid, q, cluster, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY d2 ASC, cluster ASC) AS rn
    FROM (SELECT a.vid, a.q, c.cluster, {d2} AS d2 FROM {P}q a CROSS JOIN {P}c{p} c))
  WHERE rn = 1
)"""
# one Lloyd centroid update {P}c{t} from the assignment {P}a{t}; a
# NULL vector adds to no count (count(q)), as in operators/kmeans.py
_KM_UPDATE = """
{P}pd{t} AS (
  SELECT cluster, u.i AS dim, sum(q[u.i]) AS s, count(q) AS n
  FROM {P}a{t} CROSS JOIN LATERAL (SELECT unnest(range(1, {dplus})) AS i) u
  GROUP BY cluster, u.i
),
{P}c{t} AS (SELECT cluster, list(s // n ORDER BY dim) AS c FROM {P}pd{t} GROUP BY cluster)"""


def _km_d2(dim: int) -> str:
    return (
        f"CAST(list_sum([(a.q[i]-c.c[i])*(a.q[i]-c.c[i]) "
        f"for i in range(1, {dim + 1})]) AS BIGINT)"
    )


def _kmeans_prelude(
    prefix: str = "k",
    ids: list[int] | None = None,
    dim: int | None = None,
    vec_expr: str | None = None,
    src_pred: str | None = None,
    c0_sql: str | None = None,
    rounds: int = KMEANS_ITERS,
) -> str:
    """operators/kmeans.py kmeans_train as CTEs ({prefix}-named to
    avoid name capture): the quantized training corpus {prefix}q, the
    seed table {prefix}c0 (rows ``ids``, default KMEANS_INIT_IDS), then
    ``rounds`` unrolled Lloyd rounds ending with the centroid table
    {prefix}c{rounds} — so a seeded codebook is ``rounds=0``.
    ``vec_expr`` replaces the embedding (a list slice per PQ subspace,
    with ``dim`` its length); ``src_pred`` restricts the TRAINING
    corpus (a WHERE over the raw embeddings scan — llm_semdedup_scaled's
    bounded sample); ``c0_sql`` replaces the whole seed-select body
    (its data-dependent ORDER BY vid LIMIT k seeding)."""
    ids_s = ", ".join(str(i) for i in (KMEANS_INIT_IDS if ids is None else ids))
    src_where = f"\n  WHERE {src_pred}" if src_pred else ""
    dim = EMB_DIM if dim is None else dim
    vec = vec_expr or "embedding"
    lloyd = "".join(
        f",{_KM_ASSIGN.format(t=t, p=t - 1, d2=_km_d2(dim), P=prefix)}"
        f",{_KM_UPDATE.format(t=t, dplus=dim + 1, P=prefix)}"
        for t in range(1, rounds + 1)
    )
    c0_body = (
        c0_sql
        if c0_sql is not None
        else f"SELECT vid AS cluster, q AS c FROM {prefix}q WHERE vid IN ({ids_s})"
    )
    return f"""{prefix}q AS (
  SELECT vec_id AS vid,
         {_quant(vec)} AS q
  FROM embeddings{src_where}
),
{prefix}c0 AS ({c0_body}){lloyd}"""


def _kmeans_final() -> str:
    """The final assignment ka{KMEANS_ITERS+1}: every embedding's
    nearest centroid of _kmeans_prelude's trained kc{KMEANS_ITERS}
    (operators/kmeans.py kmeans_assign), with its d2."""
    return _KM_ASSIGN.format(
        t=KMEANS_ITERS + 1, p=KMEANS_ITERS, d2=_km_d2(EMB_DIM), P="k"
    )


# --- IVF ANN -----------------------------------------------------------------
# Coarse codebook: the vectors right after the query range seed it;
# llm_ann_ivf uses the seeds themselves (zero Lloyd rounds),
# llm_ann_ivf_trained trains from KMEANS_INIT_IDS — same layout and
# joins.
IVF_CENTROID_IDS = list(range(N_QUERY_VECS, N_QUERY_VECS + 8))
IVF_N_PROBE = 2


def _ann_ivf(spark: SparkSession, sf_dir: str, centroid_ids: list[int], iters: int) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        corpus=e,
        queries=e.filter(F.col("vec_id") < N_QUERY_VECS),
        id_col="vec_id",
        vec_col="embedding",
        query_id_col="vec_id",
        centroids=kmeans_train(e, "vec_id", "embedding", centroid_ids, iters=iters),
        k=3,
        n_probe=IVF_N_PROBE,
    ).orderBy("query_id", "neighbor_id")


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-partitioned ANN (see operators/similarity.py ivf_topk):
    assign every vector to its nearest centroid cell, probe the 2
    nearest cells per query, exact-rank within the probed cells."""
    return _ann_ivf(spark, sf_dir, IVF_CENTROID_IDS, 0)


def _cell_rank_cte(rounds: int) -> str:
    """Every row of the CTE ``n`` against the k-means prelude's codebook
    kc{rounds}: ``cell_rank`` holds (vec_id, q, n2, cell, rn), rn
    ranking the cells by cosine desc, lower cell first — ivf_topk's
    nearest_cells and semdedup's assignment (operators/similarity.py)."""
    return f"""cents AS (SELECT cluster AS cell, c AS q, {_n2("c")} AS n2 FROM kc{rounds}),
cell_rank AS (
  SELECT a.vec_id, a.q, a.n2, c.cell,
         row_number() OVER (PARTITION BY a.vec_id ORDER BY {_cos("a", "c")} DESC, c.cell ASC) AS rn
  FROM n a CROSS JOIN cents c
)"""


def _ivf_sql(ids: list[int], rounds: int) -> str:
    """llm_ann_ivf[_trained] oracle: the k-means prelude's centroid
    table after ``rounds`` Lloyd rounds is the IVF codebook."""
    return f"""
WITH {_kmeans_prelude(ids=ids, rounds=rounds)},
{_prepared_cte()},
{_cell_rank_cte(rounds)},
cells AS (SELECT vec_id AS neighbor_id, q, n2, cell FROM cell_rank WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, q, n2, cell FROM cell_rank
  WHERE rn <= {IVF_N_PROBE} AND vec_id < {N_QUERY_VECS}
),
scored AS (
  SELECT p.query_id, c.neighbor_id, {_cos("p", "c")} AS cos
  FROM probes p JOIN cells c ON c.cell = p.cell AND c.neighbor_id != p.query_id
),
{_top_k_tail(3)}
"""


# --- PQ / ADC ANN ------------------------------------------------------------
# Per-subspace codebooks seeded at the 4 vectors after the IVF
# centroids: llm_ann_pq uses the seed subvectors themselves (zero
# Lloyd rounds), llm_ann_pq_trained trains every subspace in one keyed
# pass.  The oracle trains one prelude per subspace and codes by seed
# position; the seeds ascend, so Spark's seed-id codes rank the same.
PQ_CODEWORD_IDS = list(range(N_QUERY_VECS + 8, N_QUERY_VECS + 12))
PQ_N_SUB = 4


def _ann_pq(spark: SparkSession, sf_dir: str, iters: int) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    book = _pq_codebook(e, "vec_id", "embedding", PQ_CODEWORD_IDS, PQ_N_SUB, iters)
    return pq_adc_topk(
        corpus=e,
        queries=e.filter(F.col("vec_id") < N_QUERY_VECS),
        id_col="vec_id",
        vec_col="embedding",
        query_id_col="vec_id",
        codebook=book,
        n_sub=PQ_N_SUB,
        k=3,
    ).orderBy("query_id", "neighbor_id")


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with ADC scoring (see
    operators/similarity.py pq_adc_topk): corpus rows collapse to
    4 two-bit codes; queries precompute a (subspace, code) lookup
    table and rank the whole corpus by 4 table lookups per row."""
    return _ann_pq(spark, sf_dir, 0)


def _pq_sql(rounds: int) -> str:
    """llm_ann_pq[_trained] oracle: one k-means prelude per subspace
    (``rounds`` Lloyd rounds over the subvector slices) unioned into
    the (m, code, bq) book."""
    sub_dim = EMB_DIM // PQ_N_SUB
    case = " ".join(
        f"WHEN {cid} THEN {idx}" for idx, cid in enumerate(PQ_CODEWORD_IDS)
    )
    d2 = f"list_sum([(s.sq[i] - b.bq[i]) * (s.sq[i] - b.bq[i]) for i in range(1, {sub_dim + 1})])"
    preludes = ",\n".join(
        _kmeans_prelude(
            prefix=f"s{m}",
            ids=list(PQ_CODEWORD_IDS),
            dim=sub_dim,
            vec_expr=f"embedding[{m * sub_dim + 1}:{(m + 1) * sub_dim}]",
            rounds=rounds,
        )
        for m in range(PQ_N_SUB)
    )
    book_union = "\n  UNION ALL\n".join(
        f"  SELECT {m} AS m, CASE cluster {case} END AS code, c AS bq "
        f"FROM s{m}c{rounds}"
        for m in range(PQ_N_SUB)
    )
    return f"""
WITH {preludes},
q0 AS (
  SELECT vec_id, {_quant()} AS q FROM embeddings
),
ms AS (SELECT unnest([{", ".join(str(m) for m in range(PQ_N_SUB))}]) AS m),
subs AS (
  SELECT vec_id, m, q[m * {sub_dim} + 1 : m * {sub_dim} + {sub_dim}] AS sq
  FROM q0 CROSS JOIN ms
),
book AS (
{book_union}
),
enc AS (
  SELECT s.vec_id AS nid, s.m, b.code, {d2} AS d2
  FROM subs s JOIN book b USING (m)
),
codes AS (
  SELECT nid, m, code FROM (
    SELECT *, row_number() OVER (PARTITION BY nid, m ORDER BY d2, code) AS rn FROM enc
  ) WHERE rn = 1
),
lut AS (
  SELECT s.vec_id AS query_id, s.m, b.code, {d2} AS d2
  FROM subs s JOIN book b USING (m)
  WHERE s.vec_id < {N_QUERY_VECS}
),
scored AS (
  SELECT l.query_id, c.nid, CAST(sum(l.d2) AS BIGINT) AS adc_d2
  FROM codes c JOIN lut l ON l.m = c.m AND l.code = c.code AND c.nid != l.query_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_d2, nid) AS rn
  FROM scored
)
SELECT query_id, nid AS neighbor_id, adc_d2
FROM ranked WHERE rn <= 3 ORDER BY query_id, neighbor_id
"""


# --- edit-distance near-dup --------------------------------------------------
LEV_SEEDS = 25
LEV_MAX_DIST = 5
LEV_BLOCK_LEN = 24


def q_dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-duplicate pairs with prefix blocking: block
    on the first 24 chars, compare only within blocks, keep pairs with
    levenshtein ≤ 5. The fixture corpus has no natural near-identical
    pairs, so mutants (doc_id+300000, text + ' qz', distance exactly 3)
    of the first 25 docs are injected identically in both engines.

    Scale: blocking bounds the candidate set — the join shuffles on
    the 24-char prefix, so cost is Σ block² not corpus² — and two
    LOSSLESS per-pair cuts keep each surviving candidate cheap
    (round-6; before them the sf1 point ran >28 min because every
    key-shifted copy of a doc shares its 24-char prefix, and each of
    those pairs paid a FULL O(len_a*len_b) DP on ~2 KB texts):

    - length band on the join condition: |len_a - len_b| > k implies
      distance > k, so those pairs never reach the DP;
    - the 3-arg levenshtein(l, r, k) bounds the DP band at O(len*k)
      (~400x less work on 2 KB texts) and returns the EXACT distance
      for every pair within k and -1 beyond — output-identical to
      the 2-arg form + filter, so the DuckDB oracle keeps its plain
      levenshtein and the hash gate is unchanged.

    The pair enumeration is SALTED over (blk, salt) keys with a
    pinned shuffle_hash join (operators/pairs.py _salted_pair_join,
    shared with operators/similarity.py semdedup): a bare prefix-key join has as many shuffle keys as
    distinct prefixes, AQE coalesces that exchange by its tiny INPUT
    size (blind to the quadratic fan-out), and hot prefixes leave
    the DP work on a handful of straggler tasks (measured: 4
    post-coalesce partitions with one straggler at the sf1 point)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mut = d.filter(F.col("doc_id") < LEV_SEEDS).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat("text", F.lit(" qz")).alias("text"),
    )
    blk = d.unionAll(mut).withColumn("blk", F.substring("text", 1, LEV_BLOCK_LEN))
    lo = blk.select(F.col("doc_id").alias("id_a"), F.col("text").alias("_ta"), "blk")
    hi = blk.select(F.col("doc_id").alias("id_b"), F.col("text").alias("_tb"), "blk")
    return (
        _salted_pair_join(lo, hi, "blk", "id_b")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.length("_ta") - F.length("_tb")) <= LEV_MAX_DIST)
        )
        .select(
            "id_a",
            "id_b",
            F.levenshtein(F.col("_ta"), F.col("_tb"), LEV_MAX_DIST).alias("dist"),
        )
        .filter((F.col("dist") >= 0) & (F.col("dist") <= LEV_MAX_DIST))
        .orderBy("id_a", "id_b")
    )


SQL_DEDUP_LEVENSHTEIN = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 300000, text || ' qz' FROM documents WHERE doc_id < {LEV_SEEDS}
),
blk AS (SELECT doc_id, text, substr(text, 1, {LEV_BLOCK_LEN}) AS blk FROM corpus)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, levenshtein(a.text, b.text) AS dist
FROM blk a JOIN blk b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE levenshtein(a.text, b.text) <= {LEV_MAX_DIST}
ORDER BY id_a, id_b
"""


QUERIES = {
    "llm_decontaminate": q_decontaminate,
    "llm_dedup_levenshtein": q_dedup_levenshtein,
    "llm_pii_scrub": q_pii_scrub,
    "llm_domain_mixture": q_domain_mixture,
    "llm_sequence_pack": q_sequence_pack,
    "llm_repetition": q_repetition,
    "llm_ann_ivf": q_ann_ivf,
    "llm_ann_pq": q_ann_pq,
}

ORACLE_SQL = {
    "llm_decontaminate": SQL_DECONTAMINATE,
    "llm_dedup_levenshtein": SQL_DEDUP_LEVENSHTEIN,
    "llm_pii_scrub": SQL_PII_SCRUB,
    "llm_domain_mixture": SQL_DOMAIN_MIXTURE,
    "llm_sequence_pack": SQL_SEQUENCE_PACK,
    "llm_repetition": SQL_REPETITION,
    "llm_ann_ivf": _ivf_sql(IVF_CENTROID_IDS, 0),
    "llm_ann_pq": _pq_sql(0),
}


# --- k-means (iterative, trains the IVF codebook) ----------------------------
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration Lloyd's k-means over the embeddings
    (operators/kmeans.py): 2 exact integer iterations from fixed
    seeds, reporting per-cluster size, integer SSE and min member —
    the trainer for the IVF coarse codebook used by llm_ann_ivf."""
    from ..operators.kmeans import kmeans_fixed

    e = load_table(spark, sf_dir, "embeddings")
    return kmeans_fixed(e, "vec_id", "embedding", KMEANS_INIT_IDS).orderBy("cluster")


def _kmeans_sql() -> str:
    return f"""
WITH {_kmeans_prelude()},{_kmeans_final()}
SELECT cluster, count(*) AS n_members, sum(d2)::BIGINT AS sse, min(vid) AS min_member
FROM ka{KMEANS_ITERS + 1} GROUP BY cluster ORDER BY cluster
"""


QUERIES["llm_kmeans"] = q_kmeans
ORACLE_SQL["llm_kmeans"] = _kmeans_sql()


# --- line-level boilerplate removal (third batch: corpus curation) -----------
# C4/CCNet-style line-frequency dedup: a "line" shared by >= LINE_MIN_DF
# documents is boilerplate (headers, footers, navigation chrome) and is
# stripped from every document. The fixture texts are single-line word
# soup, so lines are derived deterministically as LINE_TOKENS-token
# chunks, and one corpus-wide header plus a per-source footer are
# APPENDED IN THE QUERY (both sides of the oracle see the same
# augmentation) so the operator provably fires — the same deterministic
# augmentation pattern as the levenshtein/near-dup fixtures.
LINE_TOKENS = 8
LINE_MIN_DF = 3


def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate stripping with corpus-wide line
    document-frequency (the C4 cleanup / CCNet dedup shape):

    1. split each doc into lines (token chunks + injected header/footer),
    2. posexplode -> (doc_id, pos, line), key lines by hash60 (group and
       join on a 60-bit key, never on the line text — at 100 TB the
       shuffle carries 8-byte keys, not strings),
    3. line df = two-phase count(distinct doc_id) per line key,
    4. equi-join df back (no broadcast: the line-df table scales with
       the corpus) and drop lines with df >= LINE_MIN_DF,
    5. rebuild each doc in position order with a conditional ordered
       collect; emit counts + hash60 of the cleaned text.

    One explode, two shuffles (df agg, join+re-agg) — no UDF, no
    collect, no per-line window over the corpus.
    """
    d = load_table(spark, sf_dir, "documents")
    # Tokenize in a SEPARATE projection (the r21 chunk_overlap fix,
    # applied to the same shape here in round 22): inlined, the
    # per-position slice(tokens(text), ...) inside the interpreted
    # transform lambda re-ran the regex/split chain once per LINE
    # position, and the size(toks) references added two more copies.
    td = d.select("doc_id", "source", tokens(F.col("text")).alias("_t"))
    toks = F.col("_t")
    n_chunks = F.ceil(F.size(toks).cast("double") / F.lit(float(LINE_TOKENS))).cast("int")
    chunks = F.when(F.size(toks) > 0, F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * LINE_TOKENS + 1, LINE_TOKENS)),
    )).otherwise(F.array().cast("array<string>"))
    lines = F.concat(
        F.array(F.lit("corpus shared boilerplate header line")),
        chunks,
        F.array(F.concat(F.lit("footer of "), F.col("source"))),
    )
    exploded = td.select("doc_id", F.posexplode(lines).alias("pos", "line")).withColumn(
        "lk", hash60(F.col("line"))
    )
    line_df = exploded.groupBy("lk").agg(
        F.count_distinct(F.col("doc_id")).alias("df")
    )
    keep = F.col("df") < LINE_MIN_DF
    rebuilt = (
        exploded.join(line_df, "lk")
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(keep, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(keep, 0).otherwise(1)).alias("n_dropped"),
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(keep, F.struct("pos", "line")))
                    ),
                    lambda s: s["line"],
                ),
            ).alias("_cleaned"),
        )
    )
    return rebuilt.select(
        "doc_id", "n_kept", "n_dropped", hash60(F.col("_cleaned")).alias("cleaned_fp")
    ).orderBy("doc_id")


SQL_BOILERPLATE_LINES = f"""
WITH toks AS (
  SELECT doc_id, source,
         {_TOKENS_SQL} AS t
  FROM documents
),
chunked AS (
  SELECT doc_id,
         list_concat(
           ['corpus shared boilerplate header line'],
           list_concat(
             CASE WHEN len(t) > 0 THEN
               [array_to_string(t[(i*{LINE_TOKENS}+1):(i*{LINE_TOKENS}+{LINE_TOKENS})], ' ')
                for i in range(CAST(ceil(len(t)::DOUBLE / {LINE_TOKENS}.0) AS BIGINT))]
             ELSE [] END,
             ['footer of ' || source]))
         AS lines
  FROM toks
),
unnested AS (
  SELECT doc_id,
         generate_subscripts(lines, 1) - 1 AS pos,
         unnest(lines) AS line
  FROM chunked
),
exploded AS (
  SELECT doc_id, pos, line,
         CAST(('0x' || substr(md5(line), 1, 15)) AS BIGINT) AS lk
  FROM unnested
),
ldf AS (SELECT lk, count(DISTINCT doc_id) AS df FROM exploded GROUP BY lk),
rebuilt AS (
  SELECT e.doc_id,
         sum(CASE WHEN ldf.df < {LINE_MIN_DF} THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         sum(CASE WHEN ldf.df >= {LINE_MIN_DF} THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
         coalesce(string_agg(e.line, chr(10) ORDER BY e.pos)
                  FILTER (WHERE ldf.df < {LINE_MIN_DF}), '') AS _cleaned
  FROM exploded e JOIN ldf USING (lk)
  GROUP BY e.doc_id
)
SELECT doc_id, n_kept, n_dropped,
       CAST(('0x' || substr(md5(_cleaned), 1, 15)) AS BIGINT) AS cleaned_fp
FROM rebuilt ORDER BY doc_id
"""


# --- stratified quality selection (per-source curation) ----------------------
# Keep each source's top-quality docs above its own p80 threshold —
# the mixture-curation step that follows scoring. The threshold is an
# exact interpolated percentile per source (portable: Spark
# `percentile` == DuckDB `quantile_cont`, proven by tpch_percentiles);
# at 100 TB swap in approx_percentile (t-digest) with a bounds oracle.
QUALITY_PCT = 0.8


def q_quality_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source stratified selection WITHOUT a per-source global
    sort: aggregate an exact per-source quality threshold (a partial-
    aggregatable percentile, 20 rows out), broadcast it back, filter.
    A row_number/ntile formulation would range-sort every source
    partition; the threshold form is one narrow agg + one broadcast
    join — the plan that survives a 1000-executor corpus.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    scored = d.select(
        "doc_id",
        "source",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    ).select(
        "doc_id",
        "source",
        "n_tokens",
        (
            F.floor(
                (F.col("n_distinct").cast("double") / F.col("n_tokens").cast("double"))
                * 1e6
            )
            / 1e6
        ).alias("quality"),
    )
    thr = scored.groupBy("source").agg(
        (F.floor(F.percentile(F.col("quality"), F.lit(QUALITY_PCT)) * 1e6) / 1e6).alias(
            "thr"
        ),
        F.count(F.lit(1)).alias("n_total"),
    )
    return (
        scored.join(F.broadcast(thr), "source")
        .filter(F.col("quality") >= F.col("thr"))
        .groupBy("source")
        .agg(
            F.max("thr").alias("thr"),
            F.max("n_total").alias("n_total"),
            F.count(F.lit(1)).alias("n_selected"),
            F.sum("n_tokens").alias("selected_tokens"),
            F.min("doc_id").alias("min_selected_doc"),
        )
        .orderBy("source")
    )


SQL_QUALITY_SELECT = f"""
WITH scored AS (
  SELECT doc_id, source,
         len({_TOKENS_SQL}) AS n_tokens,
         floor(len(list_distinct({_TOKENS_SQL}))::DOUBLE
               / len({_TOKENS_SQL})::DOUBLE
               * 1000000.0) / 1000000.0 AS quality
  FROM documents
),
thr AS (
  SELECT source,
         floor(quantile_cont(quality, {QUALITY_PCT}) * 1000000.0) / 1000000.0 AS thr,
         count(*) AS n_total
  FROM scored GROUP BY source
)
SELECT s.source, max(t.thr) AS thr, max(t.n_total) AS n_total,
       count(*) AS n_selected, sum(s.n_tokens)::BIGINT AS selected_tokens,
       min(s.doc_id) AS min_selected_doc
FROM scored s JOIN thr t USING (source)
WHERE s.quality >= t.thr
GROUP BY s.source ORDER BY s.source
"""


# Sketch-threshold variant: accuracy 100 gives the Greenwald-Khanna
# sketch a rank guarantee of n/100; the verdict asks the sketch
# threshold to land between the exact (pct-BAND) and (pct+BAND)
# quantiles — a rank-band check that is robust to tied quality
# scores, where a count-based band would jump by the tie mass.
QUALITY_APPROX_ACC = 100
QUALITY_APPROX_BAND = 0.1


def q_quality_select_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB swap the exact query's docstring names: per-source
    thresholds from approx_percentile — a fixed-size, mergeable
    Greenwald-Khanna sketch, so the threshold agg stays one partial-
    aggregatable pass with bounded state regardless of source size
    (exact percentile buffers each source's values). Oracle is a
    BOUNDS check (the tpch_approx_distinct pattern): each engine
    computes its own sketch threshold and verifies the selection it
    induces lands within the error band of its own exact selection —
    only the deterministic verdict and exact counts are compared.  The
    band is on rank (the threshold lies between the exact
    QUALITY_PCT -/+ QUALITY_APPROX_BAND quantiles), not on the selected
    count, which would jump by the mass of tied quality scores."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    scored = d.select(
        "doc_id",
        "source",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    ).select(
        "doc_id",
        "source",
        (
            F.floor(
                (F.col("n_distinct").cast("double") / F.col("n_tokens").cast("double"))
                * 1e6
            )
            / 1e6
        ).alias("quality"),
    )
    def _pctl(p: float) -> F.Column:
        return F.floor(F.percentile(F.col("quality"), F.lit(p)) * 1e6) / 1e6

    thr = scored.groupBy("source").agg(
        _pctl(QUALITY_PCT).alias("thr_exact"),
        _pctl(QUALITY_PCT - QUALITY_APPROX_BAND).alias("_q_lo"),
        _pctl(QUALITY_PCT + QUALITY_APPROX_BAND).alias("_q_hi"),
        (
            F.floor(
                F.approx_percentile(
                    F.col("quality"), F.lit(QUALITY_PCT), F.lit(QUALITY_APPROX_ACC)
                )
                * 1e6
            )
            / 1e6
        ).alias("_thr_approx"),
        F.count(F.lit(1)).alias("n_total"),
    )
    sel = (
        scored.join(F.broadcast(thr), "source")
        .groupBy("source")
        .agg(
            F.max("n_total").alias("n_total"),
            F.sum((F.col("quality") >= F.col("thr_exact")).cast("long")).alias(
                "n_selected"
            ),
            F.max(
                (F.col("_thr_approx") >= F.col("_q_lo"))
                & (F.col("_thr_approx") <= F.col("_q_hi"))
            ).alias("approx_ok"),
        )
    )
    return sel.select("source", "n_total", "n_selected", "approx_ok").orderBy("source")


SQL_QUALITY_SELECT_APPROX = f"""
WITH scored AS (
  SELECT doc_id, source,
         floor(len(list_distinct({_TOKENS_SQL}))::DOUBLE
               / len({_TOKENS_SQL})::DOUBLE
               * 1000000.0) / 1000000.0 AS quality
  FROM documents
),
thr AS (
  SELECT source,
         floor(quantile_cont(quality, {QUALITY_PCT}) * 1000000.0) / 1000000.0 AS thr_exact,
         floor(quantile_cont(quality, {QUALITY_PCT - QUALITY_APPROX_BAND}) * 1000000.0) / 1000000.0 AS q_lo,
         floor(quantile_cont(quality, {QUALITY_PCT + QUALITY_APPROX_BAND}) * 1000000.0) / 1000000.0 AS q_hi,
         floor(approx_quantile(quality, {QUALITY_PCT}) * 1000000.0) / 1000000.0 AS thr_approx,
         count(*) AS n_total
  FROM scored GROUP BY source
)
SELECT s.source, max(t.n_total) AS n_total,
       sum(CASE WHEN s.quality >= t.thr_exact THEN 1 ELSE 0 END)::BIGINT AS n_selected,
       bool_and(t.thr_approx BETWEEN t.q_lo AND t.q_hi) AS approx_ok
FROM scored s JOIN thr t USING (source)
GROUP BY s.source ORDER BY s.source
"""


# --- incremental dedup vs a prior snapshot -----------------------------------
# Continuous-refresh hygiene: only documents whose content fingerprint
# is NEW relative to the already-trained snapshot survive, deduped
# within the incoming batch itself. Snapshot = even doc_ids (carved
# from the corpus so the oracle sees the identical split); production
# feeds a persisted fingerprint table instead.


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every incoming (odd doc_id) document tagged with: whether its
    fingerprint exists in the snapshot (left semi-ish via left join +
    flag), and whether it is the canonical (min doc_id) copy within
    the incoming batch. Survivors = new AND canonical. One shuffle on
    fp for the window, one join against the snapshot's distinct-fp
    table; at 100 TB the snapshot side is the persisted fingerprint
    store keyed identically, so the join is co-partitioned."""
    from ..functions.text import fingerprint

    d = load_table(spark, sf_dir, "documents")
    fp = d.select("doc_id", fingerprint(F.col("text")).alias("fp"))
    snapshot = fp.filter(F.col("doc_id") % 2 == 0).select("fp").distinct()
    incoming = fp.filter(F.col("doc_id") % 2 == 1)
    w = Window.partitionBy("fp")
    return (
        incoming.join(
            snapshot.withColumn("_seen", F.lit(1)), "fp", "left"
        )
        .withColumn("is_new", F.col("_seen").isNull())
        .withColumn("batch_keep_id", F.min("doc_id").over(w))
        .withColumn(
            "survives",
            F.col("is_new") & (F.col("doc_id") == F.col("batch_keep_id")),
        )
        .select("doc_id", "fp", "is_new", "batch_keep_id", "survives")
        .orderBy("doc_id")
    )


SQL_DEDUP_INCREMENTAL = f"""
WITH f AS (
  SELECT doc_id, md5({_NORM_SQL}) AS fp
  FROM documents
),
snap AS (SELECT DISTINCT fp FROM f WHERE doc_id % 2 = 0),
inc AS (SELECT * FROM f WHERE doc_id % 2 = 1)
SELECT inc.doc_id, inc.fp,
       snap.fp IS NULL AS is_new,
       min(inc.doc_id) OVER (PARTITION BY inc.fp) AS batch_keep_id,
       (snap.fp IS NULL) AND
         (inc.doc_id = min(inc.doc_id) OVER (PARTITION BY inc.fp)) AS survives
FROM inc LEFT JOIN snap USING (fp)
ORDER BY doc_id
"""


QUERIES["llm_boilerplate_lines"] = q_boilerplate_lines
ORACLE_SQL["llm_boilerplate_lines"] = SQL_BOILERPLATE_LINES
QUERIES["llm_quality_select"] = q_quality_select
ORACLE_SQL["llm_quality_select"] = SQL_QUALITY_SELECT
QUERIES["llm_quality_select_approx"] = q_quality_select_approx
ORACLE_SQL["llm_quality_select_approx"] = SQL_QUALITY_SELECT_APPROX
QUERIES["llm_dedup_incremental"] = q_dedup_incremental
ORACLE_SQL["llm_dedup_incremental"] = SQL_DEDUP_INCREMENTAL


# --- semantic dedup (round-4 batch: curation beyond n-gram identity) ----------
# SemDeDup threshold: the planted near-dups (exact copies cos=1.0,
# every-4th-halved copies cos~0.97) sit far above it; unrelated fixture
# vectors top out ~0.51 — a wide deterministic margin on both sides.
SEMDEDUP_THRESHOLD = 0.9
SEMDEDUP_CENTROID_IDS = [30, 31, 32, 33]


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the augmented embedding corpus (same deterministic
    augmentation as llm_dedup_embedding: exact copies at +100000 and
    every-4th-element-halved copies at +200000 plant near-dups the raw
    fixture lacks): coarse-cluster by broadcast centroid assignment,
    then keep one representative per within-cluster epsilon-group
    (operators/similarity.py semdedup). Output is the full labeling
    (vec_id, cluster, kept) so the oracle checks survivors AND drops."""
    from ..operators.similarity import semdedup

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = _augmented_embeddings(e)
    return semdedup(
        corpus,
        "vec_id",
        "embedding",
        SEMDEDUP_CENTROID_IDS,
        threshold=SEMDEDUP_THRESHOLD,
    ).orderBy("vec_id")


# SemDeDup's own scaling law: within-cluster pair work is sum of
# cluster^2, so the centroid count must SCALE WITH THE CORPUS (the
# paper trains ~110k centroids for LAION). K=4 (the llm_kmeans seeds)
# is the oracle-matching demonstrator; the K=32 variant is the same
# composition at the operating point a 10x corpus needs — measured at
# the sf1 scale point, freezing K=4 while the corpus 10xed costs
# ~100x pair work (154 s), while K=32 restores it (~8x fewer pairs
# AND 8x more shuffle-key parallelism).
SEMDEDUP_K32_IDS = list(range(30, 62))


def _semdedup_trained(
    spark: SparkSession, sf_dir: str, init_ids: list[int]
) -> DataFrame:
    from ..operators.similarity import semdedup

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = kmeans_train(e, "vec_id", "embedding", init_ids)
    corpus = _augmented_embeddings(e)
    return semdedup(
        corpus,
        "vec_id",
        "embedding",
        threshold=SEMDEDUP_THRESHOLD,
        centroids=cents,
    ).orderBy("vec_id")


def q_semdedup_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-assign composition (round-4 verdict #3): the SemDeDup
    coarse codebook is TRAINED — operators/kmeans.py kmeans_train runs
    the same 2 exact-integer Lloyd iterations as llm_kmeans over the
    raw embeddings — where llm_semdedup stops at the seeds (zero Lloyd
    rounds). Same assignment plan shape (the K-row codebook is the
    same (cluster, c) table, seeded or trained); both oracles come from
    _semdedup_sql, whose kmeans prelude unrolls the rounds as CTEs —
    exact hash equality end to end, closing the 'production trains
    them' caveat with a live demonstration."""
    return _semdedup_trained(spark, sf_dir, KMEANS_INIT_IDS)


def q_semdedup_trained_k32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-scaled operating point of llm_semdedup_trained
    (K=32 trained centroids — see the scaling-law comment above):
    identical composition and oracle construction, 8x smaller
    clusters, so the within-cluster pair stage carries ~1/8 the pairs
    across 8x more shuffle keys. This is the variant the bench times
    at the sf1 scale point."""
    return _semdedup_trained(spark, sf_dir, SEMDEDUP_K32_IDS)


# The K-selection rule itself, promoted from prose to code (round-5
# verdict #4): K = clamp(isqrt(N), floor=8, cap=256) over the RAW
# embedding count N.  With within-cluster pair work ~ N^2/K, an
# isqrt K makes total pair work ~ N^1.5 — the operating point moves
# with the corpus instead of being a hand-picked id list.  The cap
# guards the fixture seed-id range (seeds come from the base key
# block, which the scale fixtures keep contiguous in every copy
# stride); production replaces the smallest-ids seeding with a
# hash-sampled K and drops the cap.
SEMDEDUP_SCALED_BASE = 30
SEMDEDUP_SCALED_FLOOR = 8
SEMDEDUP_SCALED_CAP = 256
# Codebook TRAINING runs over a bounded deterministic sample of
# ~TRAIN_PER_CENTROID rows per centroid (vec_id % m == 0 with
# m = max(1, N div (TRAIN_PER_CENTROID * K))), not the full corpus:
# full-corpus Lloyd iterations cost O(N * K * dim) per pass, which
# GROWS with the K the scaling rule picks — measured 22 s vs the
# hand-picked K=32's 9 s at the sf1 point.  Training on a per-
# centroid-bounded sample keeps the training pass O(K^2 * dim)
# (corpus-size-independent) while ASSIGNMENT still covers the full
# corpus — exactly the SemDeDup paper's regime (the codebook is fit
# on a fraction of LAION, applied to all of it).
SEMDEDUP_TRAIN_PER_CENTROID = 20


def semdedup_scaled_k(n: int) -> int:
    return max(SEMDEDUP_SCALED_FLOOR, min(math.isqrt(n), SEMDEDUP_SCALED_CAP))


def semdedup_train_stride(n: int, k: int) -> int:
    return max(1, n // (SEMDEDUP_TRAIN_PER_CENTROID * k))


def q_semdedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llm_semdedup_trained with K COMPUTED from the corpus
    (semdedup_scaled_k above) and the codebook trained on a bounded
    sample (semdedup_train_stride above) instead of a frozen id
    list: one cheap count sizes the codebook, kmeans_train runs over
    the vec_id % m == 0 sample seeded at the sample's K smallest ids
    >= BASE, and the trained centroids drive the same full-corpus
    broadcast assignment + salted pair stage as the _trained/_k32
    variants.  At the fixture scale points: sf0.01 N=500 -> K=22,
    m=1 (sample == corpus, so this point coincides with the
    contiguous-id form the driver certifies); sf0.1 N=2000 -> K=44,
    m=2; sf1 N=20000 -> K=141, m=7 — pair budget ~N^1.5 AND a
    corpus-size-independent training pass.  The oracle computes the
    SAME K and m in SQL from count(*) (floor(sqrt(double)) — exact
    below 2^52 rows since IEEE sqrt is correctly rounded; the K-row
    seed list is an ORDER BY vid LIMIT k over the sample in both
    engines), so one static string stays hash-exact at every scale
    factor."""
    from ..operators.similarity import semdedup

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = e.count()
    k = semdedup_scaled_k(n)
    m = semdedup_train_stride(n, k)
    sample = e.filter(F.col("vec_id") % m == 0)
    # K-row driver scalar (the graph-fixpoint pattern): the seed ids
    # are the sample's K smallest ids >= BASE — if the sample holds
    # fewer, training simply runs with that many clusters, exactly as
    # the oracle's LIMIT does.
    ids = [
        r.vec_id
        for r in sample.filter(F.col("vec_id") >= SEMDEDUP_SCALED_BASE)
        .select("vec_id")
        .orderBy("vec_id")
        .limit(k)
        .collect()
    ]
    cents = kmeans_train(sample, "vec_id", "embedding", ids)
    corpus = _augmented_embeddings(e)
    return semdedup(
        corpus,
        "vec_id",
        "embedding",
        threshold=SEMDEDUP_THRESHOLD,
        centroids=cents,
    ).orderBy("vec_id")


# --- overlapping chunking (RAG / context-window prep) -------------------------
# Fixed token windows with overlap: the standard retrieval-corpus and
# long-document training prep (chunk size CHUNK_W tokens, stride
# CHUNK_S, so consecutive chunks share CHUNK_W - CHUNK_S tokens).
CHUNK_W = 32
CHUNK_S = 24


def q_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into overlapping CHUNK_W-token windows at
    stride CHUNK_S. Pure narrow plan: tokenize, compute the start
    sequence, transform+posexplode — zero shuffles, no UDF; the chunk
    text never leaves the executor (only its 60-bit fingerprint and
    token count are emitted). At 100 TB this is the map stage feeding
    an embedding or packing pass; Catalyst prunes the scan to (doc_id,
    text)."""
    d = load_table(spark, sf_dir, "documents")
    # Tokenize in a SEPARATE projection (referenced multiple times, so
    # CollapseProject keeps it one per-row evaluation): inlined, the
    # per-position slice(tokens(text), ...) inside the interpreted
    # lambda re-runs the regex/split chain once per chunk position, and
    # Generate planning copies it again into an inferred filter — the
    # round-21 _span_shingled finding (OPTIMIZATION_r21.md), applied to
    # the same shape here.
    t = d.select("doc_id", tokens(F.col("text")).alias("_t"))
    toks = F.col("_t")
    n = F.size(toks)
    n_chunks = F.when(n <= CHUNK_W, F.lit(1)).otherwise(
        F.ceil((n - CHUNK_W).cast("double") / F.lit(float(CHUNK_S))).cast("int") + 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * CHUNK_S + 1, CHUNK_W)),
    )
    return (
        t.select("doc_id", F.posexplode(chunks).alias("chunk_id", "chunk"))
        .select(
            "doc_id",
            "chunk_id",
            F.size(F.split(F.col("chunk"), " ")).alias("n_chunk_tokens"),
            hash60(F.col("chunk")).alias("chunk_fp"),
        )
        .orderBy("doc_id", "chunk_id")
    )


SQL_CHUNK_OVERLAP = f"""
WITH toks AS (
  SELECT doc_id,
         {_TOKENS_SQL} AS t
  FROM documents
),
nc AS (
  SELECT doc_id, t,
         CASE WHEN len(t) <= {CHUNK_W} THEN 1
              ELSE CAST(ceil((len(t) - {CHUNK_W})::DOUBLE / {CHUNK_S}.0) AS BIGINT) + 1
         END AS n_chunks
  FROM toks
),
chunks AS (
  SELECT doc_id, CAST(u.i AS INTEGER) AS chunk_id,
         array_to_string(t[(u.i * {CHUNK_S} + 1):(u.i * {CHUNK_S} + {CHUNK_W})], ' ') AS chunk
  FROM nc CROSS JOIN LATERAL (SELECT unnest(range(n_chunks)) AS i) u
)
SELECT doc_id, chunk_id,
       len(string_split(chunk, ' ')) AS n_chunk_tokens,
       CAST(('0x' || substr(md5(chunk), 1, 15)) AS BIGINT) AS chunk_fp
FROM chunks ORDER BY doc_id, chunk_id
"""


# --- temperature-weighted mixture sampling ------------------------------------
# Deterministic multinomial allocation: per-source targets proportional
# to n_s^alpha (alpha=0.5 — the standard temperature that upweights
# small sources vs natural sampling), apportioned exactly by largest
# remainder, then filled by hash-rank. Complements llm_domain_mixture
# (which reports the weights) and llm_quality_select (threshold
# selection) with the SELECTION step a mixture plan actually executes.
MIX_TOTAL = 200


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Select MIX_TOTAL docs across sources with weight sqrt(n_s),
    exact largest-remainder apportionment, deterministic hash-rank
    fill. Integer-exact end to end: weights are floor(sqrt(n)) (IEEE
    sqrt is correctly rounded, so floor(sqrt) of a BIGINT is portable),
    base/remainder are pure integer arithmetic, and the per-source
    fill ranks by (hash60(doc_id), doc_id).

    Scale: the apportionment runs over ONE row per source — the
    unpartitioned windows there are bounded by the source vocabulary
    (dozens), never the corpus, and sit behind a tiny aggregate. The
    corpus-side work is one broadcast join of the K-row target table
    plus one per-source window rank (shuffle on source; skew = a hot
    source, AQE-splittable)."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    wall = Window.partitionBy()  # K source rows, bounded; see docstring
    alloc = (
        counts.withColumn("fw", F.floor(F.sqrt(F.col("n_total").cast("double"))).cast("long"))
        .withColumn("tot_fw", F.sum("fw").over(wall))
        .withColumn("base", F.expr(f"({MIX_TOTAL} * fw) div tot_fw"))
        .withColumn("rem", F.expr(f"({MIX_TOTAL} * fw) % tot_fw"))
        .withColumn("deficit", F.lit(MIX_TOTAL) - F.sum("base").over(wall))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy().orderBy(F.desc("rem"), F.asc("source"))
            ),
        )
        .withColumn(
            "target",
            F.col("base") + F.when(F.col("rk") <= F.col("deficit"), 1).otherwise(0),
        )
        .select("source", "n_total", "target")
    )
    ranked = d.select("doc_id", "source").withColumn(
        "sample_rk",
        F.row_number().over(
            Window.partitionBy("source").orderBy(
                hash60(F.col("doc_id").cast("string")), F.asc("doc_id")
            )
        ),
    )
    return (
        ranked.join(F.broadcast(alloc), "source")
        .filter(F.col("sample_rk") <= F.col("target"))
        .select("source", "doc_id", "sample_rk", "target", "n_total")
        .orderBy("source", "sample_rk")
    )


SQL_MIXTURE_SAMPLE = f"""
WITH counts AS (SELECT source, count(*) AS n_total FROM documents GROUP BY source),
alloc0 AS (
  SELECT source, n_total,
         CAST(floor(sqrt(n_total::DOUBLE)) AS BIGINT) AS fw
  FROM counts
),
alloc1 AS (
  SELECT source, n_total, fw,
         sum(fw) OVER () AS tot_fw
  FROM alloc0
),
alloc2 AS (
  SELECT source, n_total,
         ({MIX_TOTAL} * fw) // tot_fw AS base,
         ({MIX_TOTAL} * fw) % tot_fw AS rem
  FROM alloc1
),
alloc AS (
  -- CAST: base is HUGEINT after the windowed sum and DuckDB's Python
  -- client surfaces HUGEINT as float, which would break the hash match
  SELECT source, n_total,
         CAST(base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source ASC)
                      <= {MIX_TOTAL} - sum(base) OVER () THEN 1 ELSE 0 END AS BIGINT) AS target
  FROM alloc2
),
ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) ASC,
                    doc_id ASC) AS sample_rk
  FROM documents
)
SELECT r.source, r.doc_id, r.sample_rk, a.target, a.n_total
FROM ranked r JOIN alloc a USING (source)
WHERE r.sample_rk <= a.target
ORDER BY r.source, r.sample_rk
"""


def _semdedup_sql(
    ids: list[int] | None = None,
    rounds: int = KMEANS_ITERS,
    extra_cte: str = "",
    **prelude_kwargs,
) -> str:
    """llm_semdedup (seeded: ``rounds=0``) and llm_semdedup_trained
    [_k32|_scaled] oracle: the kmeans prelude's centroid table after
    ``rounds`` Lloyd rounds is the SemDeDup codebook.  ``extra_cte``
    prepends data-dependent scalar CTEs (the _scaled variant's K/m)
    that the ``prelude_kwargs`` overrides (src_pred / c0_sql) may
    reference."""
    return f"""
WITH {extra_cte}{_kmeans_prelude(ids=ids, rounds=rounds, **prelude_kwargs)},
{_AUGMENTED_CTE},
{_prepared_cte("corpus", "emb")},
{_cell_rank_cte(rounds)},
assigned AS (SELECT vec_id, q, n2, cell AS cluster FROM cell_rank WHERE rn = 1),
dominated AS (
  SELECT DISTINCT hi.vec_id
  FROM assigned lo JOIN assigned hi
    ON lo.cluster = hi.cluster AND lo.vec_id < hi.vec_id
  WHERE {_cos("lo", "hi")} >= {SEMDEDUP_THRESHOLD}
)
SELECT a.vec_id, a.cluster, d.vec_id IS NULL AS kept
FROM assigned a LEFT JOIN dominated d ON a.vec_id = d.vec_id
ORDER BY a.vec_id
"""


def q_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-codebook IVF ANN (round-4 verdict #3, sibling of
    llm_semdedup_trained): the coarse quantizer is kmeans_train's
    (cluster, c) output — the same 2 exact-integer Lloyd iterations
    llm_kmeans certifies — instead of llm_ann_ivf's seeds with zero
    rounds. Identical plan shape: the K-row codebook broadcasts for
    assignment and probing; the only shuffle stays the cell-id
    candidate join. Both oracles come from _ivf_sql — hash-exact end
    to end."""
    return _ann_ivf(spark, sf_dir, KMEANS_INIT_IDS, KMEANS_ITERS)


QUERIES["llm_semdedup"] = q_semdedup
ORACLE_SQL["llm_semdedup"] = _semdedup_sql(SEMDEDUP_CENTROID_IDS, rounds=0)
QUERIES["llm_semdedup_trained"] = q_semdedup_trained
ORACLE_SQL["llm_semdedup_trained"] = _semdedup_sql()
QUERIES["llm_semdedup_trained_k32"] = q_semdedup_trained_k32
ORACLE_SQL["llm_semdedup_trained_k32"] = _semdedup_sql(SEMDEDUP_K32_IDS)
QUERIES["llm_semdedup_scaled"] = q_semdedup_scaled
ORACLE_SQL["llm_semdedup_scaled"] = _semdedup_sql(
    extra_cte=(
        # k = clamp(isqrt(N), floor, cap); m = train-sample stride
        f"kdef AS (SELECT k, greatest(1, n // ({SEMDEDUP_TRAIN_PER_CENTROID} * k)) AS m "
        f"FROM (SELECT count(*) AS n, greatest({SEMDEDUP_SCALED_FLOOR}, "
        f"least(CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT), "
        f"{SEMDEDUP_SCALED_CAP})) AS k FROM embeddings)),\n"
    ),
    src_pred="vec_id % (SELECT m FROM kdef) = 0",
    c0_sql=(
        "SELECT vid AS cluster, q AS c FROM ("
        f"SELECT vid, q FROM kq WHERE vid >= {SEMDEDUP_SCALED_BASE} "
        "ORDER BY vid LIMIT (SELECT k FROM kdef))"
    ),
)
def q_ann_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained per-subspace PQ codebook (the third train-then-assign
    composition, completing the set with llm_semdedup_trained and
    llm_ann_ivf_trained): kmeans_train runs the llm_kmeans Lloyd
    iterations over the raw subvector slices, keyed on the subspace so
    one pass trains all PQ_N_SUB books, seeded at PQ_CODEWORD_IDS
    (operators/similarity.py _pq_codebook), where llm_ann_pq stops at
    the seeds. Same plan shape: the K*n_sub-row codebook broadcasts
    for encode and LUT build; the corpus never shuffles until the
    final per-query top-k."""
    return _ann_pq(spark, sf_dir, KMEANS_ITERS)


QUERIES["llm_ann_ivf_trained"] = q_ann_ivf_trained
ORACLE_SQL["llm_ann_ivf_trained"] = _ivf_sql(KMEANS_INIT_IDS, KMEANS_ITERS)
CLUSTER_TOP_K = 3


def q_cluster_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster labeling by class-based TF-IDF (the BERTopic c-TF-IDF
    idea): train the coarse codebook (kmeans_train), assign each
    embedding to its cluster (kmeans_assign, broadcast join), attach
    the documents sharing the vector's id, and surface each cluster's
    top terms by a term-frequency x inverse-cluster-frequency score.
    The corpus-auditing composition — "what is each corpus region
    about" — built entirely from already-certified pieces.

    Integer-exact scoring: idf is the LINEAR form K/df_clusters
    rather than a log (a float log differs across engines in the last
    ulp; the linear form is the same monotone ranking for K=4 and
    keeps score_micro = tf * 1e6 * K div df_clusters exact).

    Scale: assignment broadcasts the K-row codebook; (cluster, term)
    tf is one partial-agg groupBy; cluster-df derives FROM the tf
    table (vocabulary-sized, not corpus-sized); per-cluster top-k is
    a WindowGroupLimit over K partitions."""
    from ..operators.kmeans import kmeans_assign

    e = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_train(e, "vec_id", "embedding", KMEANS_INIT_IDS)
    assigned = kmeans_assign(e, "vec_id", "embedding", cents)
    d = load_table(spark, sf_dir, "documents")
    docs = d.join(assigned, d["doc_id"] == assigned["vec_id"]).select(
        "cluster", F.explode(tokens(F.col("text"))).alias("tok")
    )
    tf = docs.groupBy("cluster", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfc = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df_clusters"))
    k_lit = len(KMEANS_INIT_IDS)
    scored = tf.join(dfc, "tok").withColumn(
        "score_micro", F.expr(f"(tf * 1000000 * {k_lit}) div df_clusters")
    )
    return (
        top_k_per_group(
            scored,
            ["cluster"],
            [F.desc("score_micro"), F.asc("tok")],
            CLUSTER_TOP_K,
            rank_col="_rn",
        )
        .select("cluster", "tok", "tf", "df_clusters", "score_micro")
        .orderBy("cluster", F.desc("score_micro"), "tok")
    )


def _cluster_top_terms_sql() -> str:
    k_lit = len(KMEANS_INIT_IDS)
    return f"""
WITH {_kmeans_prelude()},{_kmeans_final()},
docs AS (
  SELECT f.cluster,
         unnest(string_split({_norm_sql('d.text')}, ' ')) AS tok
  FROM documents d JOIN ka{KMEANS_ITERS + 1} f ON f.vid = d.doc_id
),
tf AS (SELECT cluster, tok, count(*) AS tf FROM docs GROUP BY 1, 2),
dfc AS (SELECT tok, count(*) AS df_clusters FROM tf GROUP BY tok),
scored AS (
  SELECT cluster, tok, tf, df_clusters,
         (tf * 1000000 * {k_lit}) // df_clusters AS score_micro
  FROM tf JOIN dfc USING (tok)
)
SELECT cluster, tok, tf, df_clusters, score_micro
FROM (
  SELECT *, row_number() OVER (PARTITION BY cluster
                               ORDER BY score_micro DESC, tok ASC) AS rn
  FROM scored
) WHERE rn <= {CLUSTER_TOP_K}
ORDER BY cluster, score_micro DESC, tok
"""


QUERIES["llm_ann_pq_trained"] = q_ann_pq_trained
ORACLE_SQL["llm_ann_pq_trained"] = _pq_sql(KMEANS_ITERS)
# --- semantic train/eval decontamination -------------------------------------
# llm_decontaminate catches VERBATIM leakage (13-gram membership);
# this catches paraphrase-level leakage: an eval item whose embedding
# sits within cosine tau of ANY training vector is flagged. Exact
# copies of the first DECON_SEM_PLANTS eval vectors are planted into
# the train side at +400000 so flagged rows provably exist.
DECON_SEM_TAU_MICRO = 950_000
DECON_SEM_PLANTS = 3


def q_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space eval-set decontamination: for every eval vector
    (vec_id < N_QUERY_VECS), find its exact nearest train vector
    (operators/similarity.py brute_force_topk, k=1 — eval side
    broadcast, train corpus never shuffles) and flag cos >= tau.

    Scale: the eval set is small by construction (that is what makes
    it an eval set), so the broadcast-scan is the right baseline; at
    100 TB train corpora swap in llm_ann_ivf/_pq's probed scan with
    the same flagging tail. Output keeps the nearest id and score so
    a flagged item is auditable, not just counted."""
    from ..operators.similarity import brute_force_topk

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    evalv = e.filter(F.col("vec_id") < N_QUERY_VECS)
    planted = evalv.filter(F.col("vec_id") < DECON_SEM_PLANTS).select(
        (F.col("vec_id") + 400000).alias("vec_id"), "embedding"
    )
    train = e.filter(F.col("vec_id") >= N_QUERY_VECS).unionAll(planted)
    nearest = brute_force_topk(
        corpus=train,
        queries=evalv,
        id_col="vec_id",
        vec_col="embedding",
        query_id_col="vec_id",
        k=1,
    )
    return (
        nearest.select(
            F.col("query_id").alias("vec_id"),
            F.col("neighbor_id").alias("nearest_train_id"),
            "cos_micro",
            (F.col("cos_micro") >= DECON_SEM_TAU_MICRO).alias("leaked"),
        )
        .orderBy("vec_id")
    )


SQL_DECONTAMINATE_SEMANTIC = f"""
WITH {_prepared_cte()},
evalv AS (SELECT * FROM n WHERE vec_id < {N_QUERY_VECS}),
train AS (
  SELECT * FROM n WHERE vec_id >= {N_QUERY_VECS}
  UNION ALL
  SELECT vec_id + 400000, q, n2 FROM n WHERE vec_id < {DECON_SEM_PLANTS}
),
scored AS (
  SELECT e.vec_id, t.vec_id AS nid, {_cos("e", "t")} AS cos
  FROM evalv e CROSS JOIN train t
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nid ASC) AS rn
  FROM scored
)
SELECT vec_id, nid AS nearest_train_id,
       CAST(floor(cos * 1e6) AS BIGINT) AS cos_micro,
       floor(cos * 1e6) >= {DECON_SEM_TAU_MICRO} AS leaked
FROM ranked WHERE rn = 1 ORDER BY vec_id
"""


QUERIES["llm_cluster_top_terms"] = q_cluster_top_terms
ORACLE_SQL["llm_cluster_top_terms"] = _cluster_top_terms_sql()
QUERIES["llm_decontaminate_semantic"] = q_decontaminate_semantic
ORACLE_SQL["llm_decontaminate_semantic"] = SQL_DECONTAMINATE_SEMANTIC
QUERIES["llm_chunk_overlap"] = q_chunk_overlap
ORACLE_SQL["llm_chunk_overlap"] = SQL_CHUNK_OVERLAP
QUERIES["llm_mixture_sample"] = q_mixture_sample
ORACLE_SQL["llm_mixture_sample"] = SQL_MIXTURE_SAMPLE


# --- exact substring-span dedup (Lee et al., "Deduplicating Training
# Data Makes Language Models Better", ACL 2022: ExactSubstr) ------------------
# Their suffix-array formulation is single-machine; the distributed
# re-expression is a K-token shingle-key join + gaps-and-islands merge:
# two docs share a >= K-token span iff they share a K-shingle, and
# runs of consecutive matching positions at the same diagonal
# (p_a - p_b) reconstruct the maximal spans exactly.
SPAN_K = 16
SPAN_DF_CAP = 64  # drop shingle keys seen in more docs (boilerplate guard)


def _span_shingled(d: DataFrame) -> DataFrame:
    """Step 1 of q_substring_spans: positional K-shingles keyed by
    hash60 — shuffles carry (doc_id, position, 8-byte key), never span
    text.  Narrow: one posexplode of the per-doc shingle array.

    The shingle array is built by word_shingles (offset-slice
    zip_with concats — position i of its output IS token position i,
    exactly the old transform(sequence(i), concat_ws(slice(toks, i+1,
    K))) enumeration with the short-tail shingles already excluded by
    its length guard).  The tokenization is projected SEPARATELY and
    referenced twice downstream so CollapseProject keeps it one
    per-row evaluation: inlined, the per-position slice(tokens(text),
    i+1, K) inside the (interpreted — higher-order lambdas are exempt
    from codegen subexpression elimination) lambda re-ran the whole
    regex/split chain once per token position, and Generate planning
    (InferFiltersFromGenerate) copied the same monster into an
    inferred filter — measured 2.3x on the full query at the sf1
    point."""
    t = d.select("doc_id", tokens(F.col("text")).alias("_t"))
    return t.select(
        "doc_id",
        F.posexplode(word_shingles(F.col("_t"), SPAN_K)).alias("p", "sh"),
    ).select("doc_id", "p", hash60(F.col("sh")).alias("sk"))


def _span_positions(shingled: DataFrame) -> DataFrame:
    """Step 2 of q_substring_spans: cap shingle document-frequency at
    SPAN_DF_CAP (two-phase distinct count — partial_count(distinct)
    collapses map-side) — a boilerplate shingle shared by the whole
    corpus would otherwise produce a df^2 join blowup.

    The registry query hides this subtree behind lineage cuts (Scan
    ExistingRDD in its explained plan), so the df-cap plan property is
    asserted pre-cut by tools/plan_audit.py
    ``substring_spans[pre-checkpoint]``."""
    sk_df = shingled.groupBy("sk").agg(F.count_distinct("doc_id").alias("df"))
    return shingled.join(sk_df.filter(F.col("df") <= SPAN_DF_CAP).select("sk"), "sk")


def q_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal shared token spans (>= SPAN_K tokens) per document pair:

    1. K-shingle each doc WITH POSITION (``_span_shingled``);
    2. cap shingle document-frequency at SPAN_DF_CAP
       (``_span_positions``);
    3. equi-join positions across docs (id_a < id_b), then merge
       consecutive positions per (pair, diagonal) into maximal spans
       with one gaps-and-islands window — run_len + K - 1 tokens.

    Output per pair: span count, longest span, total matched
    positions. At 100 TB: one explode, the key join (AQE-splittable),
    one window keyed by (pair, diagonal) — state bounded per pair.

    Round-6 lineage/spread discipline (rationale in
    operators/pairs.py): the positional-shingle derivation is
    O(len*K) higher-order work per doc, so the corpus spreads across
    cores behind a cut (the optimizer would otherwise push the
    derivation back into the few-split scan stage); the derived
    stream is pinned ONCE (the df-count lineage and the join probe
    would re-run it); and the df-capped position table goes through
    spread_for_pair_join before serving as both self-join sides
    (86 s -> ~11 s at the sf1 point)."""
    n_parallel = spark.sparkContext.defaultParallelism
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(n_parallel)
        .localCheckpoint(eager=False)
    )
    shingled = _span_shingled(d).localCheckpoint(eager=False)
    pos = spread_for_pair_join(_span_positions(shingled), "sk")
    pairs = (
        pos.select(F.col("doc_id").alias("id_a"), F.col("p").alias("p_a"), "sk")
        .join(
            pos.select(F.col("doc_id").alias("id_b"), F.col("p").alias("p_b"), "sk"),
            "sk",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "p_a", (F.col("p_a") - F.col("p_b")).alias("diag"))
    )
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("p_a")
    spans = (
        pairs.withColumn("island", F.col("p_a") - F.row_number().over(w))
        .groupBy("id_a", "id_b", "diag", "island")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    return (
        spans.groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            (F.max("run_len") + SPAN_K - 1).alias("max_span_tokens"),
            F.sum("run_len").alias("n_matched_positions"),
        )
        .orderBy("id_a", "id_b")
    )


SQL_SUBSTRING_SPANS = f"""
WITH toks AS (
  SELECT doc_id,
         {_TOKENS_SQL} AS t
  FROM documents
),
shingled AS (
  SELECT doc_id, u.i - 1 AS p,
         CAST(('0x' || substr(md5(array_to_string(t[u.i:u.i + {SPAN_K} - 1], ' ')), 1, 15)) AS BIGINT) AS sk
  FROM toks CROSS JOIN LATERAL (
    SELECT unnest(range(1, greatest(len(t) - {SPAN_K}, 0) + 2)) AS i) u
  WHERE len(t[u.i:u.i + {SPAN_K} - 1]) >= {SPAN_K}
),
kept AS (
  SELECT sk FROM (SELECT sk, count(DISTINCT doc_id) AS df FROM shingled GROUP BY sk)
  WHERE df <= {SPAN_DF_CAP}
),
pos AS (SELECT s.* FROM shingled s JOIN kept USING (sk)),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.p AS p_a, a.p - b.p AS diag
  FROM pos a JOIN pos b ON a.sk = b.sk AND a.doc_id < b.doc_id
),
spans AS (
  SELECT id_a, id_b, diag,
         p_a - row_number() OVER (PARTITION BY id_a, id_b, diag ORDER BY p_a) AS island
  FROM pairs
),
runs AS (
  SELECT id_a, id_b, diag, island, count(*) AS run_len
  FROM spans GROUP BY id_a, id_b, diag, island
)
SELECT id_a, id_b,
       count(*) AS n_spans,
       CAST(max(run_len) + {SPAN_K} - 1 AS BIGINT) AS max_span_tokens,
       sum(run_len)::BIGINT AS n_matched_positions
FROM runs GROUP BY id_a, id_b ORDER BY id_a, id_b
"""


# --- token-rarity quality score (unigram-LM proxy, integer-exact) ------------
# Mean corpus-frequency rank of a document's tokens: a deterministic
# stand-in for unigram log-prob scoring (rank is a monotone transform
# of frequency, and unlike ln it is integer-exact across engines).
# The vocabulary ranking reuses the two-pass global rank
# (operators/global_rank.py) — ranking a 100 TB corpus vocabulary with
# a bare Window.orderBy would funnel it through one task.


def q_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean token-rarity rank: explode tokens, count the
    vocabulary (partial-agg), globally rank it by (count desc, token
    asc) via the range-partitioned two-pass rank, join ranks back and
    aggregate per doc. rarity_micro = sum_rank * 1e6 div n_tokens —
    pure integer arithmetic end to end."""
    from ..operators.global_rank import global_row_number

    d = load_table(spark, sf_dir, "documents")
    ex = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    vocab = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    ranked, _n = global_row_number(
        vocab, [F.desc("cnt"), F.asc("tok")], out_col="rank"
    )
    return (
        ex.join(ranked.select("tok", "rank"), "tok")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("rank").alias("sum_rank"))
        .withColumn("rarity_micro", F.expr("(sum_rank * 1000000) div n_tokens"))
        .select("doc_id", "n_tokens", "sum_rank", "rarity_micro")
        .orderBy("doc_id")
    )


SQL_TOKEN_RARITY = f"""
WITH ex AS (
  SELECT doc_id,
         unnest({_TOKENS_SQL}) AS tok
  FROM documents
),
vocab AS (SELECT tok, count(*) AS cnt FROM ex GROUP BY tok),
ranked AS (
  SELECT tok, row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rank FROM vocab
)
SELECT doc_id, count(*) AS n_tokens, sum(rank)::BIGINT AS sum_rank,
       CAST((sum(rank) * 1000000) // count(*) AS BIGINT) AS rarity_micro
FROM ex JOIN ranked USING (tok)
GROUP BY doc_id ORDER BY doc_id
"""


# --- bigram-LM fluency score (CCNet-style quality signal) --------------------
def _bigram_db(d: DataFrame) -> DataFrame:
    """Per-doc bigram multiplicities (doc_id, h_bg, h_w1, t) keyed on
    8-byte hashes: the single tokenize+explode+shuffle pass every part
    of q_bigram_lm_score derives from."""
    # Pin the bigram ARRAYS before the explode (the winnow move):
    # Generate planning (InferFiltersFromGenerate + filter pushdown)
    # otherwise copies the tokenize+shingle chain into an inferred
    # size(...) > 0 filter, re-running the regex/split pass once more
    # per document row.
    # tokens projected separately: word_shingles references its
    # argument several times; binding it to an attribute first keeps
    # the tokenize chain at one evaluation per row (~15% off this
    # derivation in the sf1 A/B)
    bgs = (
        d.select("doc_id", tokens(F.col("text")).alias("_t"))
        .select("doc_id", word_shingles(F.col("_t"), 2).alias("bgs"))
        .localCheckpoint(eager=False)
    )
    big = bgs.select("doc_id", F.explode("bgs").alias("bg")).select(
        "doc_id",
        F.xxhash64("bg").alias("h_bg"),
        F.xxhash64(F.substring_index("bg", " ", 1)).alias("h_w1"),
    )
    # Collapse the exploded stream ONCE to per-doc bigram
    # multiplicities; everything downstream derives from this single
    # exchange (corpus counts = a second agg over it, join probe =
    # the table itself), so Spark's ReusedExchange tokenizes and
    # explodes the corpus exactly once — the naive join-back against
    # the raw exploded stream re-ran the whole text pipeline for the
    # probe side (measured ~2x the query at sf1).  h_bg determines
    # h_w1 (same bigram -> same first word), so the extra group key
    # changes no cardinality.
    return big.groupBy("doc_id", "h_bg", "h_w1").agg(F.count(F.lit(1)).alias("t"))


def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model fluency score — the step past unigram
    token-rarity (llm_token_rarity) toward the CCNet/KenLM perplexity
    filter: documents whose word-to-word transitions are common in
    the corpus score high, word-soup scores low.

    Integer-exact by construction: per-term conditional probabilities
    c(w_{i-1} w_i) / c(w_{i-1} .) would need a float SUM (order-
    dependent, not portable), so the score is the micro-average —
    ratio of the two exact integer sums with ONE division at the end:
    score_micro = floor(1e6 * sum(c(bigram)) / sum(c(prefix))).

    Plan: one bigram explode, immediately collapsed to 8-byte
    xxhash64 keys — h_bg = xxhash64(bigram), h_w1 = xxhash64(first
    word) — so every downstream exchange (the count groupBy and both
    join-backs) shuffles fixed-width longs instead of Zipf-skewed
    text keys (round-5 verdict #3; the PPJoin key trick).  Hashing is
    CONSISTENT: counts are grouped by the same hash the join probes,
    so the lookup is always the row's own bucket — a 64-bit collision
    would merge two bigrams' counts identically on both sides of
    every join (never a dropped/duplicated row), and at ~2^-65 per
    pair it is not a reachable event even at a 10^9-bigram
    vocabulary.  The exploded stream collapses ONCE to per-doc
    bigram multiplicities (db below, lazily checkpointed): corpus
    counts, prefix masses, and the scoring join-back all derive from
    that single tokenize+explode+shuffle pass, and what the joins
    move is (8-byte keys, counts) — never the text.  At sf1 the
    query sits within ~2x of its own bare tokenize+explode floor
    (4.1 s of 8.2 s), i.e. it is text-scan-bound, which is where a
    corpus scoring pass should be.  Docs with < 2 tokens have no
    bigrams and drop out (none in the fixtures). Hot bigrams are
    ordinary join skew — AQE-splittable, no collect anywhere.  Hashed
    keys are exact here only because every lookup joins the corpus back
    to its own counts; a lookup into another corpus's table would need
    the bigram string."""
    # three consumers (join probe, corpus counts, prefix masses) —
    # pin the one tokenize+explode+shuffle pass (graph.py lazy-
    # checkpoint pattern; planner exchange reuse does not fire across
    # these differently-keyed aggregation branches)
    db = _bigram_db(load_table(spark, sf_dir, "documents")).localCheckpoint(
        eager=False
    )
    bgc = db.groupBy("h_bg", "h_w1").agg(F.sum("t").alias("c_bg"))
    pfx = bgc.groupBy("h_w1").agg(F.sum("c_bg").alias("c_w1"))
    return (
        db.join(bgc, ["h_bg", "h_w1"])
        .join(pfx, "h_w1")
        .groupBy("doc_id")
        .agg(
            F.sum("t").alias("n_bigrams"),
            F.sum(F.col("t") * F.col("c_bg")).alias("hits"),
            F.sum(F.col("t") * F.col("c_w1")).alias("mass"),
        )
        .withColumn("score_micro", F.expr("(hits * 1000000) div mass"))
        .select("doc_id", "n_bigrams", "hits", "mass", "score_micro")
        .orderBy("doc_id")
    )


SQL_BIGRAM_LM_SCORE = f"""
WITH toks AS (
  SELECT doc_id,
         {_TOKENS_SQL} AS t
  FROM documents
),
big AS (
  SELECT doc_id,
         unnest(CASE WHEN len(t) >= 2
                     THEN [array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]
                     ELSE [] END) AS bg
  FROM toks
),
bgc AS (SELECT bg, count(*) AS c_bg FROM big GROUP BY bg),
pfx AS (
  SELECT string_split(bg, ' ')[1] AS w1, sum(c_bg) AS c_w1 FROM bgc GROUP BY 1
)
SELECT b.doc_id, count(*) AS n_bigrams,
       sum(c.c_bg)::BIGINT AS hits, sum(p.c_w1)::BIGINT AS mass,
       CAST((sum(c.c_bg) * 1000000) // sum(p.c_w1) AS BIGINT) AS score_micro
FROM big b
JOIN bgc c USING (bg)
JOIN pfx p ON p.w1 = string_split(b.bg, ' ')[1]
GROUP BY b.doc_id ORDER BY b.doc_id
"""


# --- deterministic corpus shuffle / shard assignment -------------------------
# Training-order preparation: every doc gets a (shard, position) under
# a hash permutation — reproducible across reruns and engines, unlike
# rand()-seeded orderings. N_SHARDS is small here; at 100 TB it is the
# output-file count (tens of thousands), so each per-shard window
# stays bounded at corpus/N_SHARDS rows.
N_SHARDS = 8


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-permutation shuffle: shard = hash60(doc_id) mod N_SHARDS,
    position = rank within shard by (hash, doc_id). One shuffle on
    shard id; the per-shard window is the write-side ordering of a
    sharded training-data export (pairs with the ordered sink,
    sinks_queries.py)."""
    d = load_table(spark, sf_dir, "documents")
    h = hash60(F.col("doc_id").cast("string"))
    return (
        d.select("doc_id", h.alias("_h"))
        .withColumn("shard", F.pmod(F.col("_h"), F.lit(N_SHARDS)).cast("int"))
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("shard").orderBy(F.asc("_h"), F.asc("doc_id"))
            ),
        )
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")
    )


SQL_CORPUS_SHUFFLE = f"""
WITH h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS _h
  FROM documents
)
SELECT doc_id,
       CAST(_h % {N_SHARDS} AS INTEGER) AS shard,
       CAST(row_number() OVER (PARTITION BY _h % {N_SHARDS} ORDER BY _h ASC, doc_id ASC) AS INTEGER) AS pos
FROM h ORDER BY shard, pos
"""


QUERIES["llm_substring_spans"] = q_substring_spans
ORACLE_SQL["llm_substring_spans"] = SQL_SUBSTRING_SPANS
QUERIES["llm_token_rarity"] = q_token_rarity
ORACLE_SQL["llm_token_rarity"] = SQL_TOKEN_RARITY
QUERIES["llm_bigram_lm_score"] = q_bigram_lm_score
ORACLE_SQL["llm_bigram_lm_score"] = SQL_BIGRAM_LM_SCORE
QUERIES["llm_corpus_shuffle"] = q_corpus_shuffle
ORACLE_SQL["llm_corpus_shuffle"] = SQL_CORPUS_SHUFFLE


# --- leakage-free train/validation/test split --------------------------------
# Document-level random splits LEAK: a near-duplicate pair lands on
# both sides of the train/eval boundary and the eval score is
# memorization, not generalization (the failure llm_decontaminate
# detects after the fact — this prevents it at split time).  The unit
# of assignment is therefore the near-dup CLUSTER: every member of a
# transitive near-dup component hashes to the same split.
SPLIT_BUCKETS = 100
SPLIT_TRAIN_LT = 80  # buckets [0,80) -> train
SPLIT_VAL_LT = 90  # [80,90) -> validation, [90,100) -> test


def q_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level split assignment: components of the near-dup
    graph (exact Jaccard >= 0.8 here, llm.py _near_dup_clusters; at
    100 TB the edge set comes from minhash_lsh_pairs instead — same
    downstream plan) are hashed by their canonical id into 100
    buckets, 80/10/10.  Assignment is a narrow hash expression on the
    component label — no extra shuffle beyond the O(log n)
    large-star/small-star component rounds — and deterministic across
    reruns/engines (md5-based hash60, no rand())."""
    labels = _near_dup_clusters(spark, sf_dir)
    bucket = F.pmod(
        hash60(F.col("cluster_id").cast("string")), F.lit(SPLIT_BUCKETS)
    )
    return (
        labels.select(
            "doc_id",
            "cluster_id",
            bucket.alias("bucket"),
            F.when(bucket < SPLIT_TRAIN_LT, F.lit("train"))
            .when(bucket < SPLIT_VAL_LT, F.lit("validation"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
        .orderBy("doc_id")
    )


SQL_LEAKAGE_FREE_SPLIT = f"""
WITH RECURSIVE {_SH_CTE},{_JACCARD_PAIRS_CTE},{_CLUSTER_CTE},
bk AS (
  SELECT doc_id, cluster_id,
         CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % {SPLIT_BUCKETS} AS bucket
  FROM labels
)
SELECT doc_id, cluster_id, bucket,
       CASE WHEN bucket < {SPLIT_TRAIN_LT} THEN 'train'
            WHEN bucket < {SPLIT_VAL_LT} THEN 'validation'
            ELSE 'test' END AS split
FROM bk ORDER BY doc_id
"""

QUERIES["llm_leakage_free_split"] = q_leakage_free_split
ORACLE_SQL["llm_leakage_free_split"] = SQL_LEAKAGE_FREE_SPLIT


# --- nearest-class-mean quality classifier (Rocchio) -------------------------
# Model-based corpus filtering (the GPT-3-appendix "quality
# classifier" pattern) in its simplest exact form: class prototype =
# the labeled training set's per-class mean embedding; a document
# scores as its nearest prototype.  Train is ONE partial-agg pass;
# inference is a broadcast of the K-class model and a narrow exact-
# integer argmin — the plan shape any linear/prototype scorer has at
# 100 TB (weights broadcast, corpus never shuffles to score).
CLS_HOLDOUT_MOD = 5  # vec_id % 5 == 0 is held out of training


def q_embed_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train on 80% of labeled vectors, score ALL vectors against the
    10 class prototypes.  The prototype is the INTEGER-DIVIDED class
    mean mu_k = s_k div n_k (elementwise), and a document scores as
    argmin_k |x - mu_k|^2 — one k-means centroid update with the label
    as the cluster, then one k-means assignment (operators/kmeans.py
    _update_centroids and _assign): exact BIGINT arithmetic with a
    CORPUS-INDEPENDENT magnitude bound, |f| <= dim * (2*q_max)^2 ~
    2.6e8 regardless of rows per class, and ties to the lower class id
    via the partial-aggregable min(struct) argmin.  A NULL label is no
    class; a NULL vector adds to no class mean and predicts the lowest
    class."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(F.col("vec_id").alias("vid"), "label", quantize(F.col("embedding")).alias("q"))
    model = _update_centroids(
        q.filter(f"vid % {CLS_HOLDOUT_MOD} != 0 AND label IS NOT NULL").selectExpr(
            "label AS cluster", "q"
        )
    )
    return (
        _assign(q, model)
        .selectExpr(
            "vid AS vec_id",
            "label",
            "cluster AS pred",
            "cluster = label AS correct",
            f"vid % {CLS_HOLDOUT_MOD} = 0 AS holdout",
        )
        .orderBy("vec_id")
    )


SQL_EMBED_CLASSIFIER = f"""
WITH q AS (
  SELECT vec_id, label,
         {_quant()} AS q
  FROM embeddings
),
tr AS (SELECT * FROM q WHERE vec_id % {CLS_HOLDOUT_MOD} != 0),
cell AS (
  SELECT label, i, sum(q[i])::BIGINT AS s
  FROM tr, range(1, {EMB_DIM} + 1) t(i) GROUP BY label, i
),
sv AS (SELECT label AS k, list(s ORDER BY i) AS s FROM cell GROUP BY label),
model AS (
  SELECT c.k, [sv.s[i] // c.n for i in range(1, {EMB_DIM} + 1)] AS mu
  FROM (SELECT label AS k, count(q) AS n FROM tr GROUP BY label) c
  JOIN sv ON c.k = sv.k
),
scored AS (
  SELECT q.vec_id, q.label, m.k,
         list_sum([(q.q[i] - m.mu[i]) * (q.q[i] - m.mu[i])
                   for i in range(1, {EMB_DIM} + 1)])::BIGINT AS f
  FROM q, model m
),
pred AS (
  SELECT vec_id, label, k,
         row_number() OVER (PARTITION BY vec_id ORDER BY f ASC, k ASC) AS rn
  FROM scored
)
SELECT vec_id, label, k AS pred, k = label AS correct,
       vec_id % {CLS_HOLDOUT_MOD} = 0 AS holdout
FROM pred WHERE rn = 1 ORDER BY vec_id
"""

QUERIES["llm_embed_classifier"] = q_embed_classifier
ORACLE_SQL["llm_embed_classifier"] = SQL_EMBED_CLASSIFIER
