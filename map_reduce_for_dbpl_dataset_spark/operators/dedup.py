"""Deduplication family (LLM-pipeline extensions).

Four escalating strategies over a (id, text) corpus:

- exact:   md5 content fingerprint, hash groupBy — one shuffle.
- minhash: word-shingle MinHash signatures + LSH banding; candidate
  pairs share a band bucket, then exact Jaccard verification. The
  classic sub-quadratic near-dup join.
- simhash: 32-bit sign-of-weighted-bits sketch; candidates share one
  of four 8-bit chunks (pigeonhole: hamming <= 3 implies an equal
  chunk), verified by bit_count(xor).
- ngram_jaccard_prefix: exact sparse similarity join with PPJoin
  prefix, length and positional filters — only rare-shingle prefixes
  join, so common shingles never fan out, and every candidate is
  verified against the exact shingle sets. Its candidate cost still
  grows super-linearly with the corpus; at 100 TB use minhash/simhash.

Scale design: everything is groupBy/join — no collect, no driver
loops, no UDFs. Signatures are K aggregate columns computed in ONE
hash aggregate (not K shuffles). MinHash and SimHash hash shingles
with the md5-based hash60 (functions/text.py) and nothing else: the
DuckDB oracles recompute every signature from the same md5 prefix, and
an engine-specific hash such as xxhash64 has no DuckDB twin, so its
signatures could not be checked.
"""

from __future__ import annotations

import random
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint, hash60
from .pairs import spread_for_pair_join

# MinHash universe: permutation hashes h_k(x) = (a_k * (x mod P) + b_k) mod P
# over the 60-bit token hash. P prime; constants fixed (seeded) so Spark
# and the DuckDB oracle produce identical signatures.
MINHASH_P = 1_000_003
N_PERM = 16
N_BANDS = 4  # 4 bands x 4 rows: ~0.5 Jaccard LSH threshold
_rng = random.Random(0xC0FFEE)
PERMS: list[tuple[int, int]] = [
    (_rng.randrange(1, MINHASH_P), _rng.randrange(0, MINHASH_P)) for _ in range(N_PERM)
]

SIMHASH_BITS = 32
SIMHASH_CHUNKS = 4


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Content-fingerprint dedup: every row tagged with its canonical
    (minimum-id) representative and the duplicate-group size."""
    from pyspark.sql import Window

    w = Window.partitionBy("fp")
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .withColumn("keep_id", F.min(id_col).over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(w))
        .withColumn("is_canonical", F.col(id_col) == F.col("keep_id"))
    )


def _perm_min(hm: Column, a: int, b: int) -> Column:
    # hm is already reduced mod MINHASH_P (hoisted out of the K
    # aggregate expressions — computed once per row, not K times)
    return F.min((F.lit(a) * hm + F.lit(b)) % MINHASH_P)


def minhash_signatures(
    shingled: DataFrame,
    id_col: str,
    shingle_col: str,
) -> DataFrame:
    """(id, array<shingle>) -> (id, sig_0..sig_{K-1}).

    One explode + ONE hash aggregate computing all K permutation
    minima as separate aggregate columns — K never multiplies the
    shuffle.
    """
    h = (hash60(F.col("shingle")) % MINHASH_P).alias("h")
    exploded = shingled.select(
        F.col(id_col), F.explode_outer(F.array_distinct(F.col(shingle_col))).alias("shingle")
    ).select(id_col, h)
    return exploded.groupBy(id_col).agg(
        *[_perm_min(F.col("h"), a, b).alias(f"sig_{k}") for k, (a, b) in enumerate(PERMS)]
    )



# Buckets above this size abandon the single-aggregate collect_list
# pair expansion for a bucket-key self-join: collect_list materializes
# the whole bucket in ONE aggregate row (2 GiB row limit) and its n²
# pairs in ONE task — a Zipfian hot bucket at 100 TB becomes a
# straggler/OOM. The self-join spreads the same n² across tasks and is
# eligible for AQE skew-split. Small buckets keep the cheaper
# aggregate form (no join machinery per tiny bucket).
LSH_HOT_BUCKET = 1024


def lsh_sized_buckets(signatures: DataFrame, id_col: str) -> DataFrame:
    """(id, sig_*) -> (id, band, key, n): band the signature (N_BANDS
    groups of N_PERM/N_BANDS rows) and attach each bucket's size via a
    window count over (band, key) — the sizing rides the bucketing
    shuffle, so the signature aggregate is computed once. Buckets of
    one are dropped (no pair can come from them).

    Split out from ``lsh_candidate_pairs`` so the plan is auditable
    pre-checkpoint (tools/plan_audit.py asserts the single-aggregate
    signature pass and the sizing window on THIS plan; the caller's
    checkpoint hides it behind a Scan ExistingRDD)."""
    from pyspark.sql import Window

    rows_per_band = N_PERM // N_BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.concat_ws(
                    "-", *[F.col(f"sig_{bi * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("key"),
            )
            for bi in range(N_BANDS)
        ]
    )
    banded = signatures.select(F.col(id_col), F.explode(bands).alias("b")).select(
        id_col, F.col("b.band").alias("band"), F.col("b.key").alias("key")
    )
    return banded.withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("band", "key"))
    ).filter(F.col("n") >= 2)


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str, hot_bucket: int = LSH_HOT_BUCKET
) -> DataFrame:
    """Emit distinct id pairs (a < b) sharing any band bucket.

    Two-regime plan keyed on bucket size (``lsh_sized_buckets``):

    - size <= hot_bucket: groupBy + in-array combinations expression —
      one hash aggregate, a narrow expression, no join.
    - size >  hot_bucket: bucket-key self-join with id_a < id_b. The
      pair count is identical (n² is inherent to LSH) but the work is
      spread across tasks instead of concentrated in one collect_list
      row, and AQE skew-split can further divide a Zipfian bucket.
    """
    # lazy localCheckpoint: the sized bucket table feeds THREE
    # consumers (small-regime agg, both hot self-join branches);
    # without it each consumer re-evaluates the explode+signature
    # aggregate (AQE stage reuse is not guaranteed across the union's
    # branches — measured ~1.5x on the full pipeline). Materializes on
    # first use only; blocks are freed when the RDD is GC'd.
    sized = lsh_sized_buckets(signatures, id_col).localCheckpoint(eager=False)

    small = sized.filter(F.col("n") <= hot_bucket)
    buckets = small.groupBy("band", "key").agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), y -> struct(x AS id_a, y AS id_b))))"
    )
    small_pairs = (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
    )

    hot = sized.filter(F.col("n") > hot_bucket).select(id_col, "band", "key")
    hot_pairs = (
        hot.withColumnRenamed(id_col, "id_a")
        .join(hot.withColumnRenamed(id_col, "id_b"), ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )

    return small_pairs.unionByName(hot_pairs).distinct()


def verify_jaccard(
    pairs: DataFrame,
    shingled: DataFrame,
    id_col: str,
    shingle_col: str,
    broadcast_pairs: bool = True,
) -> DataFrame:
    """Attach exact Jaccard over distinct shingle sets to candidate
    pairs (array_intersect on the collected sets — pairs are few after
    LSH, so the per-pair set math is cheap).

    The candidate side is broadcast by default: post-LSH pairs are
    orders of magnitude smaller than the shingle-set table (which
    carries the full array payload), so shipping pairs to the sets —
    not sets to the pairs — avoids shuffling the arrays twice
    (measured ~2x on the verify stage). Pass broadcast_pairs=False if
    banding is loose enough that candidates rival the corpus size."""
    if broadcast_pairs:
        pairs = F.broadcast(pairs)

    def sets(side: str) -> DataFrame:
        return shingled.selectExpr(
            f"{id_col} AS id_{side}", f"array_distinct({shingle_col}) AS set_{side}"
        )

    return (
        pairs.join(sets("a"), "id_a")
        .join(sets("b"), "id_b")
        .selectExpr("*", "size(array_intersect(set_a, set_b)) AS n_common")
        .selectExpr(
            "id_a",
            "id_b",
            "CAST(n_common AS DOUBLE)"
            " / CAST(size(set_a) + size(set_b) - n_common AS DOUBLE) AS jaccard",
        )
    )


def minhash_lsh_pairs(
    shingled: DataFrame,
    id_col: str,
    shingle_col: str,
    threshold: float = 0.8,
) -> DataFrame:
    """Full near-dup pipeline: signatures -> LSH candidates -> exact
    Jaccard >= threshold."""
    sigs = minhash_signatures(shingled, id_col, shingle_col)
    cands = lsh_candidate_pairs(sigs, id_col)
    return verify_jaccard(cands, shingled, id_col, shingle_col).filter(
        F.col("jaccard") >= threshold
    )


def simhash_values(
    shingled: DataFrame,
    id_col: str,
    shingle_col: str,
) -> DataFrame:
    """(id, array<shingle>) -> (id, simhash int32-in-long): per bit,
    sum +-1 over shingle hashes; bit set iff the sum is >= 0. One
    explode + one aggregate with 32 conditional-sum columns."""
    h = hash60(F.col("shingle")).alias("h")
    exploded = shingled.select(
        F.col(id_col), F.explode_outer(F.array_distinct(F.col(shingle_col))).alias("shingle")
    ).select(id_col, h)
    bit_sums = exploded.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s_{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    sim = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"s_{i}") >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return bit_sums.select(F.col(id_col), sim.cast("long").alias("simhash"))


def simhash_near_pairs(
    shingled: DataFrame,
    id_col: str,
    shingle_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by simhash: candidates share one of
    SIMHASH_CHUNKS 8-bit chunks (pigeonhole guarantees recall for
    hamming <= SIMHASH_CHUNKS - 1), verified with bit_count(xor)."""
    sims = simhash_values(shingled, id_col, shingle_col)
    chunk_w = SIMHASH_BITS // SIMHASH_CHUNKS
    chunks = F.array(
        *[
            F.struct(
                F.lit(ci).alias("chunk"),
                F.shiftright(F.col("simhash"), ci * chunk_w)
                .bitwiseAND(F.lit((1 << chunk_w) - 1))
                .alias("key"),
            )
            for ci in range(SIMHASH_CHUNKS)
        ]
    )
    banded = sims.select(F.col(id_col), F.col("simhash"), F.explode(chunks).alias("c")).select(
        id_col, "simhash", F.col("c.chunk").alias("chunk"), F.col("c.key").alias("key")
    )
    left = banded.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"), "chunk", "key")
    right = banded.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"), "chunk", "key")
    return (
        left.join(right, ["chunk", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# SQL text of the epsilon every fractional PPJoin bound subtracts
# before ceil() (ngram_jaccard_pairs_prefix: FP rounding may only
# loosen a prune).
_EPS = "1e-9D"


def _sql_double(x: float) -> str:
    """A Python float as an exact Spark SQL double literal (a bare
    ``0.8`` in SQL text is a DECIMAL)."""
    return f"{x!r}D"


def _ceil_sql(x: str) -> str:
    """ceil of the SQL expression ``x``, eps-loosened."""
    return f"ceil({x} - {_EPS})"


def _prefix_table(
    shingled: DataFrame, id_col: str, shingle_col: str, threshold: float
) -> DataFrame:
    """PPJoin prefix rows (_id, _sz, _rk, _sh) of ngram_jaccard_pairs_prefix:
    each document's distinct shingles hashed to _sh, ranked by ascending
    global document frequency (ties by hash), cut to the probe prefix
    |X| - ceil(t*|X|) + 1.

    Split out so the plan is auditable pre-checkpoint
    (tools/plan_audit.py jaccard_prefix[pre-checkpoint]; the caller's
    spread_for_pair_join hides it behind a Scan ExistingRDD)."""
    t = _sql_double(threshold)
    return (
        # the set and its size, once per document, below the explode
        shingled.selectExpr(
            f"{id_col} AS _id",
            f"array_distinct({shingle_col}) AS _set",
            "size(_set) AS _sz",
        )
        .selectExpr("_id", "_sz", "explode(_set) AS shingle")
        .selectExpr("_id", "_sz", "xxhash64(shingle) AS _sh")
        # df as a window count (no orderBy -> no sort): one exchange on
        # _sh instead of the groupBy+rejoin's two
        .selectExpr("*", "count(1) OVER (PARTITION BY _sh) AS _df")
        # _df is dropped with the rank: the spread pins + replicates
        # whatever it carries into BOTH sides of the quadratic prefix
        # fan-out, and _df is dead once the rank has used it (guide
        # §2.3 "project before the exchange")
        .selectExpr(
            "_id",
            "_sz",
            "row_number() OVER (PARTITION BY _id ORDER BY _df ASC, _sh ASC) AS _rk",
            "_sh",
        )
        .filter(f"_rk <= _sz - {_ceil_sql(f'{t} * _sz')} + 1")
    )


def ngram_jaccard_pairs_prefix(
    shingled: DataFrame, id_col: str, shingle_col: str, threshold: float = 0.8
) -> DataFrame:
    """Prefix-filtered EXACT Jaccard join: every pair (id_a < id_b)
    whose distinct-shingle Jaccard is >= threshold, with that Jaccard,
    sub-quadratically (PPJoin: Xiao, Wang, Lin, Yu, "Efficient
    Similarity Joins for Near Duplicate Detection", WWW'08 — prefix +
    length + positional filters, all three).

    - PREFIX filter: order each doc's shingles by ascending global
      document frequency (ties by key); two sets with Jaccard >= t
      MUST share a shingle among each other's first
      |X| - ceil(t*|X|) + 1 entries, so only prefixes join.
    - LENGTH filter: J >= t forces t*|A| <= |B| <= |A|/t; candidate
      pairs outside the size band are dropped inside the join.
    - PAIR-PREFIX filter (PPJoin's index/probe-prefix asymmetry,
      generalized): with both sizes in hand the required overlap is
      alpha = ceil(t/(1+t) * (|A|+|B|)), and the generalized prefix
      lemma says a qualifying pair must share a token ranked
      <= |A|-alpha+1 in A AND <= |B|-alpha+1 in B — a per-JOIN-ROW
      prune far tighter than the worst-case probe prefix (which
      assumes the smallest legal partner). Applied before the pair
      groupBy, it cuts the group input ~3x at sf1.
    - POSITIONAL filter (tight form): ranks are assigned by ONE
      global order (df asc, hash asc), so for any two docs the
      common tokens interleave MONOTONICALLY: u < v globally implies
      rank_A(u) < rank_A(v) and rank_B(u) < rank_B(v). Hence every
      common token below the largest matched prefix token t* is
      itself a matched prefix token (it sits inside both prefixes),
      and overlap <= n_matched + min(|A|-rk_a(t*), |B|-rk_b(t*)).
      Aggregating count(*) + max ranks per pair gives this exactly —
      strictly tighter than the textbook single-probe bound of
      1 + min(|A|-min_rk_a, |B|-min_rk_b). (At sf1 the three pair
      filters prune 7.0M join rows -> ~0.2M candidates for the same
      exact 2,560-pair result.)

    Scale: the candidate join's cost is sum of squared PREFIX-bucket
    sizes (rare shingles -> tiny buckets), vs squared full-posting
    sizes for a shingle self-join. The df-ranking pass is a window count
    plus a per-doc rank window — two exchanges of the exploded table —
    and it depends only on the shingle table and the threshold, so it
    is a step of its own (jaccard_prefix_index) and the candidate join
    and verification another (jaccard_prefix_join); this operator
    chains the two.  A caller that joins one shingle table repeatedly
    builds the index once and joins it many times: queries/llm.py keeps
    it beside the persisted shingle table, one per documents snapshot
    (at 100 TB, the ranked prefix table written once per corpus
    snapshot). Verification does NOT broadcast the
    candidate set (unlike post-LSH verify): prefix candidates scale
    with the corpus, so they flow through a shuffled join against the
    shingle-set table.

    Internal joins/shuffles key on xxhash64(shingle), never the
    shingle STRING — 8-byte fixed keys through every exchange and
    sort. This cannot cost exactness: the prefix/positional theorems
    only need a CONSISTENT global shingle order (df is a performance
    heuristic, and both docs of any true pair hash a shared shingle
    to the same key, so no candidate is lost; a hash collision can
    only merge two df counts / admit a spurious candidate, and every
    candidate is exact-verified over the string shingle sets
    afterwards). Set sizes need no second corpus-wide window: each
    document's distinct set is projected ONCE and sized beside it,
    below the explode, so the size is computed once per document and
    carried onto its exploded rows.  (Sized above the explode, the
    projection would re-run array_distinct over the whole shingle array
    for every exploded row — quadratic in the document length; the
    plan audit's jaccard_prefix[pre-checkpoint] row guards this.)

    All fractional bounds subtract 1e-9 before ceil(): the true
    bounds are mathematical reals, and a double product that rounds
    UP past an exactly-integer value would otherwise over-tighten a
    filter and could drop a true pair; the epsilon means FP rounding
    can only loosen the prune (spurious admits die in verification).

    TWO-TIER VERIFICATION (the sf1 hot spot: ~1M candidates for
    ~2.5k true pairs, and the positional bound is structurally weak
    at this size/threshold — every pair sharing one alpha-prefix
    token passes it). Tier 1 intersects per-doc SORTED LONG hash
    arrays (8-byte elements, ~3x less shuffle than the string sets
    and a cheaper comparator); tier 2 re-verifies the tiny survivor
    set over exact string sets. Exactness is a theorem, not a
    probability: per doc the shingles are string-distinct, so each
    doc's hash array has as many distinct hashes as distinct strings
    unless two of them collide, and the tier-1 hash sets compare the
    two counts and raise on any intra-doc collision. Absent intra-doc
    collisions the string->hash map is injective per doc, so
    |Ah n Bh| >= |A n B| and hashed Jaccard >= string Jaccard —
    tier 1 at threshold t can only ADMIT spurious pairs (killed by
    tier 2), never drop a true one.

    Degenerate inputs match the oracle's shingle self-join
    (tests/test_curation_inputs.py):
    an empty table gives no pairs, and a document whose shingle array
    is empty (a NULL or sub-3-word text shingles to ``[]``) explodes to
    no rows, so it joins no pair.

    Bounds, filters, aggregates and windows are SQL text: one parse per
    expression, where composing them from Column operators costs Py4J
    round trips per node on every build (tests/test_build_budget.py).
    """
    index = jaccard_prefix_index(shingled, id_col, shingle_col, threshold)
    return jaccard_prefix_join(index, shingled, id_col, shingle_col)


class JaccardPrefixIndex(NamedTuple):
    """The pinned, spread PPJoin prefix table of one shingle table and
    the threshold its prefixes were cut for (jaccard_prefix_index)."""

    prefix: DataFrame
    threshold: float


def jaccard_prefix_index(
    shingled: DataFrame, id_col: str, shingle_col: str, threshold: float = 0.8
) -> JaccardPrefixIndex:
    """Step one of ngram_jaccard_pairs_prefix: the df-ranked prefix
    table (_prefix_table), pinned and spread for the candidate
    self-join.

    The prefix table feeds BOTH sides of the candidate self-join;
    the sides differ in projection aliases, so exchange reuse does
    not fire and the whole df/rank window pipeline would execute
    once per side (measured ~2.5 s of a ~8 s query re-run at the
    sf1 point).  spread_for_pair_join pins it once and spreads the
    quadratic prefix-bucket fan-out over AQE-exempt key-hashed
    partitions (operators/pairs.py rationale).  Building the index
    plans the pin's upstream shuffle stages, which runs them; every
    join over the index afterwards reads the pinned blocks
    (release_pair_join_pin frees them)."""
    prefix = spread_for_pair_join(
        _prefix_table(shingled, id_col, shingle_col, threshold), "_sh"
    )
    return JaccardPrefixIndex(prefix, threshold)


def jaccard_prefix_join(
    index: JaccardPrefixIndex, shingled: DataFrame, id_col: str, shingle_col: str
) -> DataFrame:
    """Step two of ngram_jaccard_pairs_prefix: the candidate join with
    its length, pair-prefix and positional filters over ``index``, then
    the two-tier verification against ``shingled``, the shingle table
    the index was built from.  (id_a, id_b, jaccard) for every pair
    with Jaccard >= the index's threshold."""
    threshold = index.threshold
    t = _sql_double(threshold)
    alpha = _ceil_sql(f"{_sql_double(threshold / (1 + threshold))} * (_sza + _szb)")
    a = index.prefix.selectExpr("_id AS id_a", "_sz AS _sza", "_rk AS _rka", "_sh")
    b = index.prefix.selectExpr("_id AS id_b", "_sz AS _szb", "_rk AS _rkb", "_sh")
    cands = (
        a.join(b, "_sh")
        # length filter (symmetric size band), then the pair-prefix
        # filter: the shared token must sit within BOTH docs'
        # alpha-derived prefixes (alpha = required overlap for this
        # size pair)
        .filter(
            f"_szb >= {_ceil_sql(f'{t} * _sza')}"
            f" AND _sza >= {_ceil_sql(f'{t} * _szb')}"
            f" AND _rka <= _sza - {alpha} + 1"
            f" AND _rkb <= _szb - {alpha} + 1"
            " AND id_a < id_b"
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.expr("max(_sza) AS _sza"),
            F.expr("max(_szb) AS _szb"),
            F.expr("count(1) AS _npfx"),
            F.expr("max(_rka) AS _xrka"),
            F.expr("max(_rkb) AS _xrkb"),
        )
        # tight positional filter (monotone interleaving, see above):
        # matched-prefix count + tokens reachable past the LAST match
        .filter(f"_npfx + least(_sza - _xrka, _szb - _xrkb) >= {alpha}")
        .selectExpr("id_a", "id_b")
    )
    # tier 1: intersect sorted 8-byte hash arrays (collision-guarded;
    # J_hash >= J_string, so >= t here loses nothing). Built as a
    # NARROW map over the caller's (usually persisted) shingle table —
    # no shuffle, and crucially no recomputation of the df/rank
    # window pipeline. The guard compares distinct-hash count to the
    # distinct-string count: any intra-doc xxhash64 collision breaks
    # the injectivity the tier-1 bound needs, so it raises (a
    # 2^-64-scale event; the exactness contract requires failing
    # loudly over silently degrading).
    # _harr bound to an attribute in its own projection: the guard
    # references it three times (two sizes + the pass-through), and
    # expression trees have no sharing — inlined, the sort+hash
    # construction would run 3x per row.
    hsets = shingled.selectExpr(
        f"{id_col} AS _id",
        f"array_sort(transform(array_distinct({shingle_col}), x -> xxhash64(x))) AS _harr",
    ).selectExpr(
        "_id",
        "CASE WHEN size(array_distinct(_harr)) = size(_harr) THEN _harr"
        " ELSE CAST(raise_error('xxhash64 collision between two shingles of one"
        " document: hashed Jaccard bound invalid') AS ARRAY<BIGINT>) END AS _hset",
    )
    tier1 = (
        cands.join(hsets.selectExpr("_id AS id_a", "_hset AS _ha"), "id_a")
        .join(hsets.selectExpr("_id AS id_b", "_hset AS _hb"), "id_b")
        # I_h*(1+t) >= t*(|A|+|B|)  <=>  J_hash >= t (integer-safe,
        # eps-loosened)
        .filter(
            f"size(array_intersect(_ha, _hb)) * {_sql_double(1 + threshold)}"
            f" >= {t} * (size(_ha) + size(_hb)) - {_EPS}"
        )
        .selectExpr("id_a", "id_b")
    )
    # tier 2: exact string-set verification of the tiny survivor set
    # (shuffled, not broadcast: survivors track the true pair count,
    # which scales with the corpus)
    return verify_jaccard(
        tier1, shingled, id_col, shingle_col, broadcast_pairs=False
    ).filter(f"jaccard >= {t}")

