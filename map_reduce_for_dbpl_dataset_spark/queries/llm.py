"""LLM-pipeline extension queries over the documents/embeddings
fixtures (SURVEY.md §2.2 `[extension]`, BASELINE.json north star).

Families: exact dedup, MinHash+LSH near-dup, SimHash near-dup, exact
n-gram-Jaccard similarity join, brute-force + LSH ANN over
embeddings, text analysis (token stats, quality, language-ID,
fingerprinting).

Every query has a full DuckDB oracle: the sketches are built from
engine-portable primitives (md5-based hash60, integer modular
arithmetic, floor) so signatures, buckets, and scores are
bit-identical across engines — the oracle re-implements the SAME
algorithm, it does not approximate it. SQL is generated from the same
Python constants (PERMS, plane coefficients) the Spark operators use.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    fingerprint,
    floor6,
    hash60,
    langid_pick,
    marker_hits,
    normalize_text,
    tokens,
    tokens_from_normalized,
    word_shingles,
)
from ..operators.dedup import (
    MINHASH_P,
    N_BANDS,
    N_PERM,
    PERMS,
    SIMHASH_BITS,
    SIMHASH_CHUNKS,
    JaccardPrefixIndex,
    exact_dedup,
    jaccard_prefix_index,
    jaccard_prefix_join,
    minhash_lsh_pairs,
    simhash_near_pairs,
)
from ..functions.text import ROLL_B, ROLL_P, rolling_fold
from ..functions.vectors import QUANT_SCALE
from ..operators.pairs import release_pair_join_pin, spread_for_pair_join
from ..operators.similarity import (
    N_PLANES,
    brute_force_topk,
    embedding_near_pairs,
    lsh_ann_topk,
    plane_coef,
)
from ..operators.topk import top_k_per_group
from ..sources.parquet import data_file_stamps, load_table

EMB_DIM = 64
N_QUERY_VECS = 10


@dataclass
class _DocsSnapshot:
    """The per-session derived tables of one documents snapshot: the
    persisted shingle table and, once an exact Jaccard query has asked
    for it, the pinned threshold-0.8 prefix index over it."""

    shingles: DataFrame
    prefix_index: JaccardPrefixIndex | None = None

    def release(self) -> None:
        self.shingles.unpersist(blocking=False)
        if self.prefix_index is not None:
            release_pair_join_pin(self.prefix_index.prefix)


_SNAPSHOTS: dict[tuple, _DocsSnapshot] = {}


def _docs_snapshot(spark: SparkSession, sf_dir: str) -> _DocsSnapshot:
    # The shingle pipeline (normalize-regex + split + slice-concat) is
    # the dominant scan cost and every dedup strategy reuses the result
    # 2-3x (signatures + verification self-joins), so persist it once
    # per (session, documents table).  The exact Jaccard queries
    # (_near_dup_pairs) also keep their PPJoin prefix index here: it is
    # a function of the shingle table alone, and rebuilding it costs
    # every build two Spark jobs and every run its df/rank windows.  At
    # 100 TB the same move is writing both tables to parquet once per
    # corpus snapshot and feeding all dedup passes from them.
    #
    # The key names the table's data files with their mtime and size,
    # so a documents.parquet rewritten in place during a session is
    # shingled and indexed afresh instead of served from the old tables.
    #
    # LRU-of-one lifecycle per session: a new snapshot (or a call from
    # a new session) evicts every other entry, and evicting an entry of
    # this session releases its shingle table and its index together,
    # so a long-lived session sweeping many sf dirs pins at most ONE
    # snapshot in executor memory.
    #
    # Callers read the persisted frame through the DataFrame API only:
    # spark.sql("... {sh}", sh=sh) registers it as a temporary view and
    # drops that view afterwards, which uncaches the persisted table
    # (getPersistentRDDs() goes to 0 and every later consumer re-derives
    # the shingles from text).
    path = os.path.join(sf_dir, "documents.parquet")
    key = (spark.sparkContext.applicationId, sf_dir, data_file_stamps(path))
    cached = _SNAPSHOTS.get(key)
    if cached is not None:
        return cached
    for old_key in [k for k in _SNAPSHOTS if k != key]:
        old = _SNAPSHOTS.pop(old_key)
        if old_key[0] == key[0]:  # same session: actively release blocks
            old.release()
        # dead sessions: their executors are gone, just drop the ref
    d = load_table(spark, sf_dir, "documents")
    # Small compressed fixture files arrive as ONE input split; the
    # shingle derivation is CPU-bound, so spread it across cores first.
    # At 100 TB the scan is naturally split and this repartition drops
    # out (it's a no-op cost next to the derivation either way).
    # tokens projected separately (round 22): word_shingles references
    # its argument ~8x (slices + length args + guard), and expression
    # trees have no sharing, so an inlined tokenize chain re-runs per
    # reference — bind it to an attribute first (wash-to-slightly-
    # better locally; structural at scale, and this build feeds every
    # dedup consumer once per session)
    sh = (
        d.repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", tokens(F.col("text")).alias("_t"))
        .select("doc_id", word_shingles(F.col("_t"), 3).alias("shingles"))
        .persist()
    )
    snap = _SNAPSHOTS[key] = _DocsSnapshot(sh)
    return snap


def _docs_shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles): the session's persisted 3-word shingle table
    of ``sf_dir``'s documents (_docs_snapshot)."""
    return _docs_snapshot(spark, sf_dir).shingles


def _near_dup_pairs(snap: _DocsSnapshot) -> DataFrame:
    """(id_a, id_b, jaccard): every document pair of the snapshot whose
    distinct shingle sets have Jaccard >= 0.8 — the prefix-filtered
    join (operators/dedup.py jaccard_prefix_join) over the snapshot's
    prefix index, which the first call per snapshot builds
    (jaccard_prefix_index) and every later one reuses."""
    if snap.prefix_index is None:
        snap.prefix_index = jaccard_prefix_index(
            snap.shingles, "doc_id", "shingles", threshold=0.8
        )
    return jaccard_prefix_join(snap.prefix_index, snap.shingles, "doc_id", "shingles")


def _norm_sql(col: str) -> str:
    """functions/text.py normalize_text in DuckDB: lower, collapse
    whitespace runs to one space, trim."""
    return f"trim(regexp_replace(lower({col}), '\\s+', ' ', 'g'))"


# normalize_text / tokens (tokens_from_normalized) of the text column.
_NORM_SQL = _norm_sql("text")
_TOKENS_SQL = f"string_split({_NORM_SQL}, ' ')"

# SQL prelude mirroring tokens()/word_shingles(): normalize, split,
# 3-word shingles (DuckDB list slicing is 1-based inclusive).
_SH_CTE = f"""
toks AS (
  SELECT doc_id,
         {_TOKENS_SQL} AS t
  FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])
              ELSE [] END AS ss
  FROM toks
)
"""

_H60 = "('0x' || substr(md5(shingle), 1, 15))::BIGINT"


# --- exact dedup -------------------------------------------------------------
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return exact_dedup(d, "doc_id", "text").select(
        "doc_id", "fp", "keep_id", "n_copies", "is_canonical"
    )


SQL_DEDUP_EXACT = f"""
WITH f AS (
  SELECT doc_id, md5({_NORM_SQL}) AS fp
  FROM documents
)
SELECT doc_id, fp,
       min(doc_id) OVER (PARTITION BY fp) AS keep_id,
       count(*) OVER (PARTITION BY fp) AS n_copies,
       doc_id = min(doc_id) OVER (PARTITION BY fp) AS is_canonical
FROM f
"""


# --- MinHash + LSH near-dup --------------------------------------------------
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _docs_shingled(spark, sf_dir)
    out = minhash_lsh_pairs(sh, "doc_id", "shingles", threshold=0.8)
    return out.select(
        F.col("id_a"), F.col("id_b"), F.floor(F.col("jaccard") * 1e6).cast("long").alias("jaccard_micro")
    ).orderBy("id_a", "id_b")


def _minhash_sql() -> str:
    rows_per_band = N_PERM // N_BANDS
    sig_exprs = ",\n    ".join(
        f"min(({a} * (h % {MINHASH_P}) + {b}) % {MINHASH_P}) AS sig_{k}"
        for k, (a, b) in enumerate(PERMS)
    )
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {bi} AS band, concat_ws('-', {cols}) AS key FROM sigs".format(
            bi=bi,
            cols=", ".join(f"sig_{bi * rows_per_band + r}" for r in range(rows_per_band)),
        )
        for bi in range(N_BANDS)
    )
    return f"""
WITH {_SH_CTE},
ex AS (
  SELECT doc_id, {_H60} AS h
  FROM (SELECT doc_id, unnest(ss) AS shingle FROM sh)
),
sigs AS (
  SELECT doc_id,
    {sig_exprs}
  FROM ex GROUP BY doc_id
),
bands AS (
{band_selects}
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
verified AS (
  SELECT id_a, id_b,
         len(list_intersect(sa.ss, sb.ss))::DOUBLE
           / (len(sa.ss) + len(sb.ss) - len(list_intersect(sa.ss, sb.ss)))::DOUBLE AS j
  FROM cands
  JOIN sh sa ON sa.doc_id = id_a
  JOIN sh sb ON sb.doc_id = id_b
)
SELECT id_a, id_b, CAST(floor(j * 1e6) AS BIGINT) AS jaccard_micro
FROM verified WHERE j >= 0.8 ORDER BY id_a, id_b
"""


# --- exact n-gram Jaccard similarity join ------------------------------------
def q_ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard join: every document pair whose distinct
    3-word shingle sets have Jaccard >= 0.8, through the PPJoin
    prefix-filtered join (operators/dedup.py) over the documents
    snapshot's cached prefix index (_near_dup_pairs): the first build
    per snapshot builds the index, later builds start at the candidate
    join.  Its oracle is the
    DuckDB shingle self-join with no filter at all, so hash equality
    proves the prefix, length and positional filters lose no pair.
    Candidate cost is the sum of squared prefix-bucket sizes, so it
    grows super-linearly with the corpus: past a few hundred thousand
    documents per snapshot the operating point is
    llm_dedup_minhash_lsh, with this join kept for exact passes."""
    return _near_dup_pairs(_docs_snapshot(spark, sf_dir)).selectExpr(
        "id_a", "id_b", "CAST(floor(jaccard * 1e6) AS BIGINT) AS jaccard_micro"
    ).orderBy("id_a", "id_b")


# The oracles' exact pair set: pairs(id_a, id_b, j) over a shingle
# self-join, j >= 0.8 (follows _SH_CTE).
_JACCARD_PAIRS_CTE = """
ex AS (SELECT doc_id, unnest(ss) AS shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b, n_common::DOUBLE / (sa.sz + sb.sz - n_common)::DOUBLE AS j
  FROM common JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
  WHERE j >= 0.8
)"""

# The oracles' near-dup clusters: labels(doc_id, cluster_id), the min
# doc_id reachable over pairs (follows _JACCARD_PAIRS_CTE, in a WITH
# RECURSIVE).
_CLUSTER_CTE = """
bi AS (SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM sh
  UNION
  SELECT r.src, bi.d FROM reach r JOIN bi ON r.dst = bi.s
),
labels AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src)"""

SQL_NGRAM_JACCARD = f"""
WITH {_SH_CTE},{_JACCARD_PAIRS_CTE}
SELECT id_a, id_b, CAST(floor(j * 1e6) AS BIGINT) AS jaccard_micro
FROM pairs ORDER BY id_a, id_b
"""


def _near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id): every document labeled with the min doc_id
    of its near-duplicate component — the exact Jaccard >= 0.8 pairs
    (_near_dup_pairs, over the snapshot's cached prefix index, so only
    the first build per snapshot builds it) are the edges, every
    document of the shingle table a vertex, and operators/graph.py
    connected_components_star (large-star/small-star, O(log n)
    rounds) the components."""
    from ..operators.graph import connected_components_star

    snap = _docs_snapshot(spark, sf_dir)
    edges = _near_dup_pairs(snap).selectExpr("id_a AS src", "id_b AS dst")
    return connected_components_star(
        edges, snap.shingles.selectExpr("doc_id AS node")
    ).selectExpr("node AS doc_id", "component AS cluster_id")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fuzzy-dedup endgame: near-dup PAIRS are only edges —
    deduplication needs transitive CLUSTERS (a~b, b~c => {a,b,c} even
    if a!~c) and a canonical survivor per cluster (_near_dup_clusters).
    Canonical = min doc_id. The oracle rebuilds the same clusters with
    a recursive CTE over the shingle self-join's pairs.  Keep-set =
    rows with is_canonical — what a 100 TB pipeline would write out."""
    return _near_dup_clusters(spark, sf_dir).selectExpr(
        "doc_id", "cluster_id", "doc_id = cluster_id AS is_canonical"
    )


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_SH_CTE},{_JACCARD_PAIRS_CTE},{_CLUSTER_CTE}
SELECT doc_id, cluster_id, doc_id = cluster_id AS is_canonical FROM labels
"""


# --- SimHash near-dup --------------------------------------------------------
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _docs_shingled(spark, sf_dir)
    return simhash_near_pairs(sh, "doc_id", "shingles", max_hamming=3).orderBy("id_a", "id_b")


def _simhash_sql() -> str:
    chunk_w = SIMHASH_BITS // SIMHASH_CHUNKS
    bit_sums = ",\n    ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{i}"
        for i in range(SIMHASH_BITS)
    )
    sim_terms = " + ".join(
        f"CASE WHEN s_{i} >= 0 THEN {1 << i} ELSE 0 END" for i in range(SIMHASH_BITS)
    )
    chunk_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {ci} AS chunk, (simhash >> {ci * chunk_w}) & {(1 << chunk_w) - 1} AS key FROM sims"
        for ci in range(SIMHASH_CHUNKS)
    )
    return f"""
WITH {_SH_CTE},
ex AS (
  SELECT doc_id, {_H60} AS h
  FROM (SELECT doc_id, unnest(ss) AS shingle FROM sh)
),
bitsums AS (
  SELECT doc_id,
    {bit_sums}
  FROM ex GROUP BY doc_id
),
sims AS (
  SELECT doc_id, CAST({sim_terms} AS BIGINT) AS simhash FROM bitsums
),
chunks AS (
{chunk_selects}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM chunks a JOIN chunks b
    ON a.chunk = b.chunk AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3 ORDER BY id_a, id_b
"""


# --- ANN over embeddings -----------------------------------------------------
# operators/similarity.py's quantized-cosine scorer in DuckDB: one
# quantization, one squared norm, one prepared-rows CTE, one cosine, one
# ranked top-k tail and one hyperplane-bucket CTE serve every vector oracle.


def _quant(vec: str = "embedding") -> str:
    """functions/vectors.py quantize of the list ``vec``: the one oracle
    quantization."""
    return f"[CAST(floor(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT) for x in {vec}]"


def _n2(vec: str) -> str:
    """functions/vectors.py norm2_q of the quantized list ``vec``."""
    return f"CAST(list_sum([x * x for x in {vec}]) AS BIGINT)"


def _prepared_cte(src: str = "embeddings", vec: str = "embedding", carry: str = "") -> str:
    """operators/similarity.py _prepared: CTE ``n`` holds (vec_id,
    ``carry`` columns, q, n2) for every row of ``src``."""
    return f"""q0 AS (SELECT vec_id{carry}, {_quant(vec)} AS q FROM {src}),
n AS (SELECT *, {_n2("q")} AS n2 FROM q0)"""


def _cos(a: str, b: str) -> str:
    """functions/vectors.py cosine_q of the rows ``a`` and ``b`` (each
    with q and n2)."""
    return (
        f"CAST(list_sum([{a}.q[i] * {b}.q[i] for i in range(1, {EMB_DIM + 1})]) AS DOUBLE)"
        f" / sqrt(CAST({a}.n2 AS DOUBLE) * CAST({b}.n2 AS DOUBLE))"
    )


def _top_k_tail(k: int, cols: str = "query_id, neighbor_id") -> str:
    """operators/similarity.py _cos_top_k's ranking over the CTE
    ``scored`` (query_id, neighbor_id, cos, ...): ``cols`` plus
    cos_micro of the k best rows per query."""
    return f"""ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn
  FROM scored
)
SELECT {cols}, CAST(floor(cos * 1e6) AS BIGINT) AS cos_micro
FROM ranked WHERE rn <= {k} ORDER BY query_id, neighbor_id"""


_PLANE_ROWS = ",\n    ".join(
    "({j}, [{coefs}])".format(
        j=j, coefs=", ".join(str(plane_coef(j, i, EMB_DIM)) for i in range(EMB_DIM))
    )
    for j in range(N_PLANES)
)
# operators/similarity.py _bucket_expr over the CTE ``n``: ``nb`` is n
# plus each row's hyperplane bucket.
_BUCKETS_CTE = f"""planes(j, coefs) AS (
  SELECT * FROM (VALUES
    {_PLANE_ROWS}
  ) AS p(j, coefs)
),
dots AS (
  SELECT n.vec_id, p.j,
         CAST(list_sum([n.q[i] * p.coefs[i] for i in range(1, {EMB_DIM + 1})]) AS BIGINT) AS d
  FROM n CROSS JOIN planes p
),
buckets AS (
  SELECT vec_id, sum(CASE WHEN d >= 0 THEN 1 << j ELSE 0 END) AS bucket
  FROM dots GROUP BY vec_id
),
nb AS (SELECT n.*, b.bucket FROM n JOIN buckets b USING (vec_id))"""


def q_ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(f"vec_id < {N_QUERY_VECS}")
    return brute_force_topk(e, queries, "vec_id", "embedding", "vec_id", k=5).orderBy(
        "query_id", "neighbor_id"
    )


SQL_ANN_BRUTE_TOPK = f"""
WITH {_prepared_cte()},
scored AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id, {_cos("qs", "c")} AS cos
  FROM n qs JOIN n c ON c.vec_id != qs.vec_id
  WHERE qs.vec_id < {N_QUERY_VECS}
),
{_top_k_tail(5)}
"""


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining over the labeled embedding
    corpus: for each of the first N_QUERY_VECS vectors, the 5 most
    cosine-similar vectors of a DIFFERENT label — the pair-curation
    step for contrastive / metric-learning training data (the
    negatives worth training on are the ones the embedding currently
    confuses with the anchor).  Plan shape = brute ANN's (queries
    broadcast with labels, corpus never shuffles, label predicate on
    the join condition, WindowGroupLimit before the exchange);
    operators/similarity.py hard_negative_topk."""
    from ..operators.similarity import hard_negative_topk

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < N_QUERY_VECS)
    return hard_negative_topk(e, queries, "vec_id", "embedding", "label", k=5).orderBy(
        "query_id", "neighbor_id"
    )


SQL_HARD_NEGATIVES = f"""
WITH {_prepared_cte(carry=", label")},
scored AS (
  SELECT qs.vec_id AS query_id, qs.label AS query_label,
         c.vec_id AS neighbor_id, c.label AS neighbor_label, {_cos("qs", "c")} AS cos
  FROM n qs JOIN n c ON c.label != qs.label
  WHERE qs.vec_id < {N_QUERY_VECS}
),
{_top_k_tail(5, "query_id, query_label, neighbor_id, neighbor_label")}
"""


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < N_QUERY_VECS)
    return lsh_ann_topk(
        e, queries, "vec_id", "embedding", "vec_id", dim=EMB_DIM, k=3
    ).orderBy("query_id", "neighbor_id")


SQL_ANN_LSH_TOPK = f"""
WITH {_prepared_cte()},
{_BUCKETS_CTE},
scored AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id, {_cos("qs", "c")} AS cos
  FROM nb qs JOIN nb c ON c.bucket = qs.bucket AND c.vec_id != qs.vec_id
  WHERE qs.vec_id < {N_QUERY_VECS}
),
{_top_k_tail(3)}
"""


def _augmented_embeddings(e: DataFrame) -> DataFrame:
    """Deterministic near-dup planting (llm_dedup_embedding and the
    llm_semdedup family): the fixture embeddings have no natural
    near-dups (max pairwise cosine ~0.51), so exact copies of the
    first 10 vectors are added at ids +100000 and copies with every
    4th element halved (cosine ~0.97) at +200000 — halving is exact
    in binary floats, so both engines quantize identically.  The
    DuckDB twin is _AUGMENTED_CTE."""
    seeds = e.filter(F.col("vec_id") < 10)
    exact = seeds.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    half4 = F.transform(
        "embedding",
        lambda x, i: F.when(i % 4 == 0, x.cast("double") * F.lit(0.5)).otherwise(
            x.cast("double")
        ),
    )
    near = seeds.select((F.col("vec_id") + 200000).alias("vec_id"), half4.alias("embedding"))
    return e.unionAll(exact).unionAll(near)


# _augmented_embeddings in DuckDB: the `corpus` CTE (after its `base`).
_AUGMENTED_CTE = f"""base AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings
),
corpus AS (
  SELECT vec_id, emb FROM base
  UNION ALL
  SELECT vec_id + 100000, emb FROM base WHERE vec_id < 10
  UNION ALL
  SELECT vec_id + 200000,
         [CASE WHEN (i - 1) % 4 = 0 THEN emb[i] * 0.5 ELSE emb[i] END
          for i in range(1, {EMB_DIM + 1})]
  FROM base WHERE vec_id < 10
)"""


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs over the augmented corpus
    (_augmented_embeddings)."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return embedding_near_pairs(
        _augmented_embeddings(e), "vec_id", "embedding", dim=EMB_DIM, threshold=0.9
    ).orderBy("id_a", "id_b")


SQL_DEDUP_EMBEDDING = f"""
WITH {_AUGMENTED_CTE},
{_prepared_cte("corpus", "emb")},
{_BUCKETS_CTE},
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_cos("a", "b")} AS cos
  FROM nb a JOIN nb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, CAST(floor(cos * 1e6) AS BIGINT) AS cos_micro
FROM pairs WHERE cos >= 0.9 ORDER BY id_a, id_b
"""


def q_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint + duplicate
    group size per fingerprint (exact-dup detection that, unlike the
    md5 fingerprint, distinguishes shuffled word order)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    # two extra projections so the tokenize chain and the per-token
    # md5 hash array each evaluate ONCE per row (rolling_fold
    # references its argument 3x; expression trees have no sharing)
    t = d.select("doc_id", tokens(F.col("text")).alias("_t"))
    hsdf = t.select(
        "doc_id",
        F.transform(F.col("_t"), lambda tok: hash60(tok) % ROLL_P).alias("_hs"),
    )
    fp = hsdf.select("doc_id", rolling_fold(F.col("_hs")).alias("fp"))
    return fp.withColumn("n_same_fp", F.count(F.lit(1)).over(Window.partitionBy("fp")))


SQL_FINGERPRINT_ROLLING = f"""
WITH toks AS (
  SELECT doc_id,
         {_TOKENS_SQL} AS t
  FROM documents
),
fp AS (
  SELECT doc_id,
         list_reduce(
           list_transform(t, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % {ROLL_P}),
           (a, b) -> (a * {ROLL_B} + b) % {ROLL_P}
         ) AS fp
  FROM toks
)
SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n_same_fp FROM fp
"""


# --- text analysis -----------------------------------------------------------
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics and a heuristic quality score.
    A NULL text gets NULL statistics, as in the oracle (under ANSI the
    size of a NULL array is NULL); an empty table gives no rows
    (tests/test_curation_inputs.py)."""
    d = load_table(spark, sf_dir, "documents")
    # normalize + tokenize projected separately so each runs ONCE per
    # row: marker_hits is a higher-order function (CodegenFallback, no
    # codegen CSE), so an inlined `toks` re-ran the regex/split chain
    # for it on top of the codegen-shared copy (r21 spans pattern;
    # same-session A/B at sf1: 2.43 -> 2.36 s best-of-5).  Everything
    # but the functions/text.py helpers is SQL text: one parse per
    # expression, where Column operators cost Py4J round trips each.
    t = d.select(F.expr("doc_id"), normalize_text(F.expr("text")).alias("_n")).select(
        F.expr("doc_id"),
        tokens_from_normalized(F.expr("_n")).alias("_t"),
        F.expr("length(_n) AS n_chars_norm"),
    )
    counts = t.select(
        F.expr("doc_id"),
        F.expr("size(_t) AS n_tokens"),
        F.expr("size(array_distinct(_t)) AS n_distinct"),
        marker_hits(F.expr("_t"), STOPWORDS).alias("n_stop"),
        F.expr("n_chars_norm"),
    )
    distinct_ratio = "CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE)"
    stop_ratio = "CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)"
    quality = (
        f"0.5D * ({distinct_ratio})"
        f" + 0.3D * (1.0D - abs({stop_ratio} - 0.4D))"
        " + 0.2D * least(CAST(n_tokens AS DOUBLE) / 100.0D, 1.0D)"
    )
    return counts.select(
        *map(F.expr, ["doc_id", "n_tokens", "n_distinct", "n_stop", "n_chars_norm"]),
        floor6(F.expr(distinct_ratio)).alias("distinct_ratio"),
        floor6(F.expr(quality)).alias("quality"),
    )


_STOP_LIST = ", ".join(f"'{s}'" for s in STOPWORDS)

SQL_TEXT_STATS = f"""
WITH toks AS (
  SELECT doc_id,
         {_TOKENS_SQL} AS t,
         length({_NORM_SQL}) AS n_chars_norm
  FROM documents
),
base AS (
  SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_distinct,
         len(list_filter(t, x -> list_contains([{_STOP_LIST}], x))) AS n_stop,
         n_chars_norm
  FROM toks
)
SELECT doc_id, n_tokens, n_distinct, n_stop, n_chars_norm,
  floor((n_distinct::DOUBLE / n_tokens::DOUBLE) * 1000000.0) / 1000000.0 AS distinct_ratio,
  floor((0.5 * (n_distinct::DOUBLE / n_tokens::DOUBLE)
       + 0.3 * (1.0 - abs(n_stop::DOUBLE / n_tokens::DOUBLE - 0.4))
       + 0.2 * least(n_tokens::DOUBLE / 100.0, 1.0)) * 1000000.0) / 1000000.0 AS quality
FROM base
"""


def q_quality_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vectorized-Python escape hatch, used knowingly: the same
    quality formula as llm_text_stats, but the final scoring runs in
    an Arrow-batched @pandas_udf instead of Catalyst expressions.
    This is the engine's scalar-UDF surface (SURVEY.md §2.2 U1) — for
    logic that genuinely needs Python libraries; for arithmetic like
    this the JVM expression path (llm_text_stats) is the fast path,
    which is why only ONE query uses the UDF form. The token-count
    inputs are still computed JVM-side; only the float combine crosses
    into Python, columnar via Arrow."""
    from pyspark.sql.functions import pandas_udf

    from ..session import ship_package

    ship_package(spark)

    @pandas_udf("double")
    def quality_pudf(
        n_tokens: pd.Series, n_distinct: pd.Series, n_stop: pd.Series
    ) -> pd.Series:
        nt = n_tokens.astype("float64")
        dr = n_distinct.astype("float64") / nt
        sr = n_stop.astype("float64") / nt
        q = 0.5 * dr + 0.3 * (1.0 - (sr - 0.4).abs()) + 0.2 * (nt / 100.0).clip(upper=1.0)
        return np.floor(q * 1000000.0) / 1000000.0

    d = load_table(spark, sf_dir, "documents")
    # separate token projection: the marker_hits HOF reference would
    # otherwise re-run the tokenize chain (q_text_stats rationale)
    t = d.select("doc_id", tokens(F.col("text")).alias("_t"))
    base = t.select(
        "doc_id",
        F.size("_t").alias("n_tokens"),
        F.size(F.array_distinct("_t")).alias("n_distinct"),
        marker_hits(F.col("_t"), STOPWORDS).alias("n_stop"),
    )
    return base.select(
        "doc_id",
        quality_pudf("n_tokens", "n_distinct", "n_stop").alias("quality"),
    )


SQL_QUALITY_PANDAS_UDF = f"""
WITH toks AS (
  SELECT doc_id,
         {_TOKENS_SQL} AS t
  FROM documents
),
base AS (
  SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_distinct,
         len(list_filter(t, x -> list_contains([{_STOP_LIST}], x))) AS n_stop
  FROM toks
)
SELECT doc_id,
  floor((0.5 * (n_distinct::DOUBLE / n_tokens::DOUBLE)
       + 0.3 * (1.0 - abs(n_stop::DOUBLE / n_tokens::DOUBLE - 0.4))
       + 0.2 * least(n_tokens::DOUBLE / 100.0, 1.0)) * 1000000.0) / 1000000.0 AS quality
FROM base
"""


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # Three projections so each expensive piece evaluates ONCE per
    # row (CollapseProject keeps an alias referenced >1 time): the
    # inlined form re-ran the tokenize chain once per marker_hits
    # REFERENCE in the vote cascade (~9 evaluations/row — HOFs are
    # CodegenFallback, exempt from codegen CSE; measured ~20% of the
    # query at the sf1 point).
    t = d.select("doc_id", "lang", tokens(F.col("text")).alias("_t"))
    votes = t.select(
        "doc_id",
        "lang",
        *[
            marker_hits(F.col("_t"), m).alias(f"_h_{lang}")
            for lang, m in LANG_MARKERS.items()
        ],
    )
    return (
        votes.select(
            "doc_id",
            F.col("lang").alias("labeled_lang"),
            langid_pick(
                {lang: F.col(f"_h_{lang}") for lang in LANG_MARKERS}
            ).alias("predicted_lang"),
        )
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("labeled_lang", "predicted_lang")
    )


def _langid_sql() -> str:
    hits = {
        lang: f"len(list_filter(t, x -> list_contains([{', '.join(repr(m) for m in ms)}], x)))"
        for lang, ms in LANG_MARKERS.items()
    }
    return f"""
WITH toks AS (
  SELECT doc_id, lang,
         {_TOKENS_SQL} AS t
  FROM documents
),
scored AS (
  SELECT doc_id, lang AS labeled_lang,
         {hits['en']} AS h_en, {hits['es']} AS h_es,
         {hits['de']} AS h_de, {hits['fr']} AS h_fr
  FROM toks
),
pred AS (
  SELECT labeled_lang,
         CASE WHEN h_en >= h_es AND h_en >= h_de AND h_en >= h_fr THEN 'en'
              WHEN h_es >= h_de AND h_es >= h_fr THEN 'es'
              WHEN h_de >= h_fr THEN 'de'
              ELSE 'fr' END AS predicted_lang
  FROM scored
)
SELECT labeled_lang, predicted_lang, count(*) AS n_docs
FROM pred GROUP BY 1, 2 ORDER BY labeled_lang, predicted_lang
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs regex ('BPE-ish' alpha-run) token counts."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)).alias("n_alpha_runs"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit("[a-z]{4,}"), 0)).alias("n_long_runs"),
    )


SQL_TOKEN_COUNT = f"""
SELECT doc_id,
       len({_TOKENS_SQL}) AS n_ws_tokens,
       len(regexp_extract_all(lower(text), '[a-z]+')) AS n_alpha_runs,
       len(regexp_extract_all(lower(text), '[a-z]{{4,}}')) AS n_long_runs
FROM documents
"""


QUERIES = {
    "llm_dedup_exact": q_dedup_exact,
    "llm_dedup_minhash_lsh": q_dedup_minhash_lsh,
    "llm_ngram_jaccard": q_ngram_jaccard_prefix,
    "llm_ngram_jaccard_prefix": q_ngram_jaccard_prefix,
    "llm_dedup_clusters": q_dedup_clusters,
    "llm_dedup_simhash": q_dedup_simhash,
    "llm_ann_brute_topk": q_ann_brute_topk,
    "llm_hard_negatives": q_hard_negatives,
    "llm_ann_lsh_topk": q_ann_lsh_topk,
    "llm_dedup_embedding": q_dedup_embedding,
    "llm_fingerprint_rolling": q_fingerprint_rolling,
    "llm_text_stats": q_text_stats,
    "llm_quality_pandas_udf": q_quality_pandas_udf,
    "llm_langid": q_langid,
    "llm_token_count": q_token_count,
}

ORACLE_SQL = {
    "llm_dedup_exact": SQL_DEDUP_EXACT,
    "llm_dedup_minhash_lsh": _minhash_sql(),
    "llm_ngram_jaccard": SQL_NGRAM_JACCARD,
    "llm_ngram_jaccard_prefix": SQL_NGRAM_JACCARD,
    "llm_dedup_clusters": SQL_DEDUP_CLUSTERS,
    "llm_dedup_simhash": _simhash_sql(),
    "llm_ann_brute_topk": SQL_ANN_BRUTE_TOPK,
    "llm_hard_negatives": SQL_HARD_NEGATIVES,
    "llm_ann_lsh_topk": SQL_ANN_LSH_TOPK,
    "llm_dedup_embedding": SQL_DEDUP_EMBEDDING,
    "llm_fingerprint_rolling": SQL_FINGERPRINT_ROLLING,
    "llm_text_stats": SQL_TEXT_STATS,
    "llm_quality_pandas_udf": SQL_QUALITY_PANDAS_UDF,
    "llm_langid": _langid_sql(),
    "llm_token_count": SQL_TOKEN_COUNT,
}


def q_zscore_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (the remaining Arrow-Python surface
    next to mapInPandas / scalar pandas_udf / applyInPandasWithState):
    z-score normalize doc quality within each language group — each
    group arrives as ONE pandas frame. The oracle computes the same
    z-score with window aggregates; population stddev from exact
    micro-int sums keeps both engines bit-identical.

    Scale: applyInPandas shuffles by group key and materializes each
    group in worker memory — correct for bounded groups (languages);
    for unbounded groups prefer window expressions (as the oracle
    shows this one could be)."""
    from ..session import ship_package

    ship_package(spark)

    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    base = d.select(
        "doc_id",
        "lang",
        # integer micro-quality so group sums are exact in both engines
        F.floor(
            (F.size(F.array_distinct(toks)).cast("double") / F.size(toks).cast("double"))
            * 1000000.0
        ).cast("long").alias("q_micro"),
    )

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        q = pdf["q_micro"].astype("float64")
        n = float(len(q))
        mean = q.sum() / n
        var = (q * q).sum() / n - mean * mean
        sd = var ** 0.5
        z = (q - mean) / sd if sd > 0 else q * 0.0
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "lang": pdf["lang"],
                "z_micro": np.floor(z * 1000000.0).astype("int64"),
            }
        )

    return base.groupBy("lang").applyInPandas(
        zscore, schema="doc_id long, lang string, z_micro long"
    )


SQL_ZSCORE_GROUPED_MAP = f"""
WITH base AS (
  SELECT doc_id, lang,
         CAST(floor((len(list_distinct(t))::DOUBLE / len(t)::DOUBLE) * 1000000.0) AS BIGINT) AS q_micro
  FROM (
    SELECT doc_id, lang,
           {_TOKENS_SQL} AS t
    FROM documents
  )
),
stats AS (
  SELECT doc_id, lang, q_micro,
         count(*) OVER w AS n,
         sum(q_micro) OVER w AS s,
         sum(q_micro * q_micro) OVER w AS s2
  FROM base WINDOW w AS (PARTITION BY lang)
),
z AS (
  SELECT doc_id, lang,
         CASE WHEN (s2::DOUBLE / n::DOUBLE - (s::DOUBLE / n::DOUBLE) * (s::DOUBLE / n::DOUBLE)) > 0
              THEN (q_micro::DOUBLE - s::DOUBLE / n::DOUBLE)
                   / sqrt(s2::DOUBLE / n::DOUBLE - (s::DOUBLE / n::DOUBLE) * (s::DOUBLE / n::DOUBLE))
              ELSE 0.0 END AS zval
  FROM stats
)
SELECT doc_id, lang, CAST(floor(zval * 1000000.0) AS BIGINT) AS z_micro FROM z
"""

QUERIES["llm_zscore_grouped_map"] = q_zscore_grouped_map
ORACLE_SQL["llm_zscore_grouped_map"] = SQL_ZSCORE_GROUPED_MAP


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF term weighting (SURVEY.md §2.2 text-analysis list):
    tf = term count in doc, idf = N/df (LINEAR idf, not log — IEEE
    division is correctly rounded so both engines produce identical
    doubles; ln() is not so guaranteed, and a log-idf oracle could
    flake on floor boundaries). Top-3 non-stopword terms per doc by
    (tfidf desc, term asc) for the first 50 docs.

    Scale: one explode + two aggregates (df per term, tf per doc-term)
    + a broadcast of the term-df table; WindowGroupLimit bounds the
    per-doc rank."""
    d = load_table(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    terms = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .filter(~F.array_contains(stop, F.col("term")) & (F.col("term") != ""))
    )
    n_docs = d.count()  # driver scalar: one tiny job, constant-folds into the plan
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = terms.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    scored = (
        # unhinted: the term-df table scales with vocabulary; let the
        # size threshold + AQE choose broadcast (it does locally)
        tf.join(df_, "term")
        .withColumn(
            "tfidf_micro",
            F.floor(
                F.col("tf").cast("double")
                * (F.lit(float(n_docs)) / F.col("df").cast("double"))
                * 1000000.0
            ).cast("long"),
        )
        .filter(F.col("doc_id") < 50)
    )
    return (
        top_k_per_group(
            scored,
            ["doc_id"],
            [F.desc("tfidf_micro"), F.asc("term")],
            3,
            rank_col="rn",
            keep_rank=True,
        )
        .select("doc_id", "term", "tf", "df", "tfidf_micro", "rn")
        .orderBy("doc_id", "rn")
    )


def _tfidf_sql() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id,
         {_TOKENS_SQL} AS t
  FROM documents
),
terms AS (
  SELECT doc_id, unnest(t) AS term FROM toks
),
filtered AS (
  SELECT doc_id, term FROM terms
  WHERE term <> '' AND NOT list_contains([{_STOP_LIST}], term)
),
n AS (SELECT count(*) AS n_docs FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM filtered GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM filtered GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         CAST(floor(tf.tf::DOUBLE * (n.n_docs::DOUBLE / df.df::DOUBLE) * 1000000.0) AS BIGINT) AS tfidf_micro
  FROM tf JOIN df USING (term) CROSS JOIN n
  WHERE tf.doc_id < 50
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf_micro DESC, term ASC) AS rn
  FROM scored
)
SELECT doc_id, term, tf, df, tfidf_micro, rn
FROM ranked WHERE rn <= 3 ORDER BY doc_id, rn
"""


QUERIES["llm_tfidf_top_terms"] = q_tfidf_top_terms
ORACLE_SQL["llm_tfidf_top_terms"] = _tfidf_sql()


# --- mapInArrow (lowest-level Arrow batch surface) ---------------------------
def q_token_count_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting through mapInArrow — the lowest-level Python
    execution surface (raw pyarrow RecordBatch in/out, no pandas
    conversion), completing the Arrow matrix next to mapInPandas /
    scalar pandas_udf / grouped & cogrouped applyInPandas /
    applyInPandasWithState (SURVEY.md §2.2 U1). Same semantics as
    llm_token_count, so the two shapes share one oracle and
    cross-check each other.

    Scale: batches stream through the worker with zero-copy Arrow
    transport; per-batch Python cost is the regex loop — for the hot
    path prefer the JVM regexp exprs (llm_token_count IS that query);
    this form exists for logic that genuinely needs Python (custom
    tokenizers, sentencepiece, etc.)."""
    import re

    def count_tokens(batches):
        import pyarrow as pa

        ws = re.compile(r"\s+")
        alpha = re.compile(r"[a-z]+")
        long_run = re.compile(r"[a-z]{4,}")
        for batch in batches:
            ids = batch.column("doc_id")
            texts = batch.column("text").to_pylist()
            n_ws, n_a, n_l = [], [], []
            for t in texts:
                low = (t or "").lower()
                n_ws.append(len(ws.sub(" ", low).strip().split(" ")))
                n_a.append(len(alpha.findall(low)))
                n_l.append(len(long_run.findall(low)))
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(n_ws, type=pa.int32()),
                    pa.array(n_a, type=pa.int32()),
                    pa.array(n_l, type=pa.int32()),
                ],
                ["doc_id", "n_ws_tokens", "n_alpha_runs", "n_long_runs"],
            )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInArrow(
        count_tokens,
        "doc_id long, n_ws_tokens int, n_alpha_runs int, n_long_runs int",
    )


QUERIES["llm_token_count_arrow"] = q_token_count_arrow
ORACLE_SQL["llm_token_count_arrow"] = SQL_TOKEN_COUNT


# --- winnowing fingerprints (MOSS) -------------------------------------------
WINNOW_W = 4  # window of consecutive shingle hashes per fingerprint
WINNOW_MUTANTS = 25
WINNOW_MAX_DF = 50  # drop boilerplate fingerprints shared too widely
WINNOW_MIN_SHARED = 8


def _winnow_fps(corpus: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, fps): distinct winnowing fingerprints
    per document.

    Sliding-window minimum as W-1 zip_with/least passes over offset
    slices of the hash sequence (the word_shingles construction):
    m[i] = least(h[i], ..., h[i+W-1]).  The earlier
    transform(sequence(i), array_min(slice(h, i+1, W))) form re-sliced
    (allocated) a W-array per position — measured ~3x slower per
    evaluation at the sf1 point with identical output.  The slices of
    an empty/short h are empty (m clamped at 0), so docs with < W
    shingles contribute no fingerprints and a separate size(h) >= W
    filter (which would re-evaluate the whole hash chain per row when
    pushed down) is subsumed.

    THREE projections, not one (round 22; the r21 spans fix one level
    deeper): Catalyst expression trees have no sharing, so every
    syntactic REFERENCE to a subtree is its own copy, and copies under
    different higher-order-function lambdas (CodegenFallback — exempt
    from codegen subexpression elimination) each evaluate per row.
    Inlined, `h` (the tokenize+shingle+md5 chain) appears ~8 times
    (once per slice, plus each slice's length argument `m`, plus the
    word_shingles guard), so the md5 chain ran ~8x per row — measured
    8x on the derivation at the sf1 point (6.2 s -> 0.76 s,
    value-identical). Projecting `_t` then `_h` separately binds every
    reference to an attribute; CollapseProject keeps the projections
    apart because the aliases are non-cheap and referenced more than
    once. tools/plan_audit.py winnow_fps[pre-checkpoint] audits this
    subtree with _winnow_df_capped, ahead of the caller's lineage
    cut."""
    W = WINNOW_W
    t = corpus.select("doc_id", tokens(F.col("text")).alias("_t"))
    hdf = t.select(
        "doc_id", F.transform(word_shingles(F.col("_t"), 3), hash60).alias("_h")
    )
    h = F.col("_h")
    m = F.greatest(F.size(h) - (W - 1), F.lit(0))
    acc = F.slice(h, 1, m)
    for off in range(1, W):
        acc = F.zip_with(acc, F.slice(h, off + 1, m), lambda a, b: F.least(a, b))
    return hdf.select("doc_id", F.array_distinct(acc).alias("fps"))


def _winnow_df_capped(fps: DataFrame) -> DataFrame:
    """(doc_id, fp, _df): the exploded fingerprints, minus those shared
    by more than WINNOW_MAX_DF documents.  Document frequency rides
    the fp shuffle as a window count (no second aggregate subtree —
    same move as lsh_sized_buckets)."""
    from pyspark.sql import Window

    ex = fps.select("doc_id", F.explode("fps").alias("fp"))
    return ex.withColumn(
        "_df", F.count(F.lit(1)).over(Window.partitionBy("fp"))
    ).filter(F.col("_df") <= WINNOW_MAX_DF)


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03 — the MOSS algorithm): hash the ORDERED shingle
    sequence, slide a w=4 window over it, keep each window's minimum
    — a guaranteed-coverage ~2/(w+1) sample of the shingles that is
    position-robust (any shared substring of >= w+2 tokens shares a
    fingerprint). Candidate near-dup pairs then come from joining on
    the SAMPLED fingerprints instead of every shingle — the
    full-shingle join's shuffle shrinks ~2.5x at the same recall
    floor, and widely-shared fingerprints are capped by document
    frequency (<= 50) exactly like llm_boilerplate_lines, which
    bounds the join's hot keys (same two-regime reasoning as the LSH
    bucket cap in operators/dedup.py).

    The fixture corpus has no natural substring-sharing pairs, so
    mutants (doc_id+400000, a tail appended — prefix shingles intact)
    are injected identically in both engines; expected output = each
    doc paired with its mutant. All arithmetic is hash60/integer —
    the oracle replays the sequence, windows, and mins verbatim."""
    W = WINNOW_W
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mut = d.filter(F.col("doc_id") < WINNOW_MUTANTS).select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        F.concat("text", F.lit(" winnowed mutant tail")).alias("text"),
    )
    # the sliding-min fingerprint derivation below is CPU-bound
    # higher-order work (O(len*W) per doc); a small parquet file
    # scans as a handful of splits, so spread the corpus across
    # cores BEFORE paying it.  The checkpoint is load-bearing: the
    # optimizer pushes deterministic projections below a round-robin
    # repartition (to shuffle fewer bytes), which would collapse the
    # whole fingerprint derivation back into the 4-task scan stage —
    # exactly the straggler this exchange exists to prevent (measured:
    # without the cut the scan stage held 2 stragglers for ~8 min at
    # sf1 while every later stage ran 32-wide)
    n_parallel = spark.sparkContext.defaultParallelism
    corpus = (
        d.unionAll(mut).repartition(n_parallel).localCheckpoint(eager=False)
    )
    # Pin the fingerprint ARRAYS before the explode: Generate planning
    # (InferFiltersFromGenerate + alias-substituting filter pushdown)
    # otherwise copies the whole derivation into an inferred
    # size(...) > 0 filter, where the per-position slice of the
    # (inlined, interpreted — higher-order lambdas are exempt from
    # codegen subexpression elimination) hash chain re-evaluates the
    # md5 pipeline once per window position: measured 27 s for the
    # explode of a 2.7 s derivation at sf1; pinned, the Generate reads
    # the checkpointed arrays and the explode is free.
    fps = _winnow_fps(corpus).localCheckpoint(eager=False)
    # pin the fingerprint stream once (the O(len*W) sliding-min
    # transform plus the df window are the dominant cost — both
    # self-join sides would re-execute them), then spread the pair
    # enumeration explicitly: sum-df^2 pairs is ~225M at the sf1
    # point while the exchange INPUT is tiny, and AQE coalesces by
    # input size blind to the fan-out — measured 4 post-coalesce
    # tasks holding the stage ~8 min; 519 s -> 31 s with the spread
    # (rationale in operators/pairs.py)
    exf = spread_for_pair_join(_winnow_df_capped(fps).select("doc_id", "fp"), "fp")
    a, b = exf.alias("a"), exf.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
        .orderBy("id_a", "id_b")
    )


SQL_WINNOW_PAIRS = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 400000, text || ' winnowed mutant tail'
  FROM documents WHERE doc_id < {WINNOW_MUTANTS}
),
wtoks AS (
  SELECT doc_id,
         {_TOKENS_SQL} AS t
  FROM corpus
),
wsh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]
              ELSE [] END AS ss
  FROM wtoks
),
whs AS (
  SELECT doc_id,
         list_transform(ss, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS h
  FROM wsh WHERE len(ss) >= {WINNOW_W}
),
wfp AS (
  SELECT doc_id,
         list_distinct([list_min(h[i:i+{WINNOW_W - 1}]) for i in range(1, len(h) - {WINNOW_W - 2})]) AS fps
  FROM whs
),
ex AS (SELECT doc_id, unnest(fps) AS fp FROM wfp),
dfc AS (SELECT fp, count(*) AS c FROM ex GROUP BY fp),
exf AS (SELECT ex.doc_id, ex.fp FROM ex JOIN dfc USING (fp) WHERE c <= {WINNOW_MAX_DF})
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM exf a JOIN exf b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= {WINNOW_MIN_SHARED}
ORDER BY id_a, id_b
"""

QUERIES["llm_winnow_pairs"] = q_winnow_pairs
ORACLE_SQL["llm_winnow_pairs"] = SQL_WINNOW_PAIRS


# --- grouped-agg pandas UDF (U1 matrix: the aggregate-UDF surface) -----------
def q_trimmed_mean_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF — the one Arrow-Python surface the U1
    matrix did not yet exercise (scalar pandas_udf, grouped-map
    applyInPandas, mapInPandas, mapInArrow, applyInPandasWithState all
    have rows): a 10%-trimmed mean of document length per (lang,
    source), i.e. a whole-group reduction whose Python body receives
    the group's column as ONE pandas Series. Trimming by VALUE is
    order-free, and the mean is computed in exact integer micro units
    (sum*1e6 // count), so the result is bit-identical to the oracle's
    rank-window SQL — no float-summation-order hazard crosses the
    engine boundary.

    Scale: grouped-agg UDFs aggregate WITHOUT partial aggregation —
    every group's rows ship to one task (unlike JVM partial_avg).
    That is the documented cost of the surface: use it for genuinely
    non-decomposable statistics (trimmed/winsorized estimators, exact
    medians); decomposable ones belong in JVM expressions. Group
    count here is bounded (langs x sources), so the shuffle is wide
    but each group fits a task."""
    from pyspark.sql.functions import pandas_udf

    from ..session import ship_package

    ship_package(spark)

    @pandas_udf("long")
    def trimmed_mean_micro(v: pd.Series) -> int:
        s = np.sort(v.to_numpy(dtype="int64"))
        k = int(len(s) // 10)
        core = s[k : len(s) - k] if len(s) > 2 * k else s
        return int(int(core.sum()) * 1_000_000 // len(core))

    d = load_table(spark, sf_dir, "documents")
    # Spark rejects a grouped-agg pandas UDF mixed with JVM aggregates
    # in one agg() (INVALID_PANDAS_UDF_PLACEMENT) — the count comes
    # from its own (partial-aggregated) pass joined back on the keys
    tm = d.groupBy("lang", "source").agg(
        trimmed_mean_micro("n_chars").alias("trimmed_mean_chars_micro")
    )
    counts = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tm.join(counts, ["lang", "source"])
        .select("lang", "source", "n_docs", "trimmed_mean_chars_micro")
        .orderBy("lang", "source")
    )


SQL_TRIMMED_MEAN_GROUPED_AGG = """
WITH ranked AS (
  SELECT lang, source, n_chars,
         row_number() OVER (PARTITION BY lang, source ORDER BY n_chars) AS rn,
         count(*) OVER (PARTITION BY lang, source) AS n
  FROM documents
),
core AS (
  SELECT lang, source, n_chars, n
  FROM ranked
  WHERE n <= 2 * (n // 10) OR (rn > n // 10 AND rn <= n - n // 10)
)
SELECT lang, source, CAST(max(n) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) * 1000000 // count(*) AS trimmed_mean_chars_micro
FROM core GROUP BY lang, source ORDER BY lang, source
"""

QUERIES["llm_trimmed_mean_grouped_agg"] = q_trimmed_mean_grouped_agg
ORACLE_SQL["llm_trimmed_mean_grouped_agg"] = SQL_TRIMMED_MEAN_GROUPED_AGG
