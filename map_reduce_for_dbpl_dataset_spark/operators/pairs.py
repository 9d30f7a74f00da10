"""Pair-stage spread discipline (LLM-pipeline extension, no reference
counterpart — SURVEY.md §2.2 dedup family infrastructure).

The one recurring scale trap of candidate-pair enumeration: a
self-equi-join on a bucketing key (LSH bucket, fingerprint, shingle
key) has an INPUT that is small relative to its quadratic fan-out
(sum over keys of df^2 pairs), and AQE sizes post-shuffle tasks by
input bytes — blind to the fan-out — so it coalesces the exchange to
a handful of tasks that then hold the stage while every core idles.
Measured at the 10x (sf1) scale point when this bit: winnowing
519 s -> 31 s, embedding near-pairs 68 s -> ~8 s, substring spans
86 s -> ~11 s after applying the fix below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# pair-stage partitions per core of the cluster's default parallelism
PAIR_SPREAD_FACTOR = 4

# Salt fan-out of _salted_pair_join: each join key's pairs shuffle on
# (key, salt) over this many salts instead of on the key alone.
PAIR_SALT = 32


def spread_for_pair_join(df: DataFrame, *keys: str) -> DataFrame:
    """Prepare ``df`` to be BOTH sides of a quadratic self-equi-join
    on ``keys``: pin it once, then spread it over
    ``PAIR_SPREAD_FACTOR * defaultParallelism`` key-hashed partitions.

    Two load-bearing pieces:

    - ``localCheckpoint(eager=False)`` cuts the lineage so the
      (typically expensive: higher-order shingling, df-cap windows,
      signature derivation) upstream subtree runs ONCE instead of once
      per join side — and so the optimizer cannot push deterministic
      projections back below an upstream round-robin repartition,
      which would collapse the derivation into the few-split scan
      stage (the round-6 straggler: 2 tasks holding a stage ~8 min at
      sf1 while later stages ran 32-wide).  "Lazy" covers only the
      final checkpoint job: under AQE the call itself plans the input
      adaptively, which runs every upstream shuffle stage (map stages
      and their exchanges) right away, so a caller pays them when it
      BUILDS the query, not when it executes it.
    - a user-specified ``repartition(n, *keys)`` is EXEMPT from AQE
      partition coalescing, so the pair fan-out is distributed over n
      tasks by key hash no matter how few input bytes feed the
      exchange; both join sides derive from this one exchange, so the
      join is co-partitioned and adds no further shuffle.

    ``PAIR_SPREAD_FACTOR * defaultParallelism`` keeps per-task pair
    work bounded while capping scheduler overhead; at cluster scale n
    grows with the executor count, which is exactly the knob you want.

    Sibling disciplines — when this helper is the WRONG tool:

    - pair fan-out concentrated on FEW keys (e.g. K semantic
      clusters, K << cores): hashing by key cannot spread K keys over
      more than K tasks — salt the hi side and replicate the lo side,
      then pin the join with ``hint("shuffle_hash")`` so planner size
      estimates cannot flip it to broadcast (``_salted_pair_join``
      below; operators/similarity.py ``semdedup``, queries/pipeline.py
      ``q_dedup_levenshtein``).
    - a multi-consumer subtree that does NOT feed a pair join needs
      only the bare lazy checkpoint — no keyed spread (exchange reuse
      does not fire across differently-keyed aggregation branches;
      queries/pipeline.py ``q_bigram_lm_score``'s per-doc table).

    The plan audit (tools/plan_audit.py) asserts the explicit spread
    (``REPARTITION_BY_NUM``) survives in every caller's plan.
    """
    n_parallel = df.sparkSession.sparkContext.defaultParallelism
    return df.localCheckpoint(eager=False).repartition(
        PAIR_SPREAD_FACTOR * n_parallel, *keys
    )


def release_pair_join_pin(spread: DataFrame) -> None:
    """Free the blocks of the checkpoint a ``spread_for_pair_join``
    frame reads.  A pin that every build makes afresh is freed when
    the JVM collects its RDD; a pin kept across queries is released
    with this when its owner lets it go, so executor memory does not
    wait on a JVM garbage collection."""
    leaves = spread._jdf.queryExecution().logical().collectLeaves()  # noqa: SLF001
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRDD":
            leaf.rdd().unpersist(False)


def _salted_pair_join(lo: DataFrame, hi: DataFrame, key: str, hi_id: str) -> DataFrame:
    """Equi-join the lo and hi sides of a within-key pair enumeration
    on ``(key, _salt)``: every lo row is replicated over the
    ``PAIR_SALT`` salts, every hi row takes the one salt
    ``pmod(xxhash64(hi_id), PAIR_SALT)``, so each lo/hi pair meets
    exactly once and a key's quadratic fan-out spreads over
    ``PAIR_SALT`` shuffle keys (lo-side duplication bounded at
    ``PAIR_SALT`` x its rows).

    For pair fan-out concentrated on FEW keys: a bare key join has as
    many shuffle keys as distinct keys, and AQE coalesces that
    exchange by its (tiny) INPUT size, blind to the fan-out, so the
    pair work lands on a handful of tasks (measured: 13M SemDeDup
    pairs in 3 tasks at the sf1 scale point).  The salt only spreads
    the work if the join SHUFFLES on (key, salt): planner size
    estimates can fall under the broadcast threshold (a checkpointed
    or mapInPandas input), and a broadcast join would evaluate every
    pair on the probe side's few input partitions with the salt
    ignored (measured 4x on the K=32 sf1 SemDeDup point), so
    ``hint("shuffle_hash")`` on the hi side pins the distribution."""
    lo = lo.withColumn("_salt", F.explode(F.array(*[F.lit(s) for s in range(PAIR_SALT)])))
    hi = hi.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(hi_id)), F.lit(PAIR_SALT)).cast("int")
    )
    return lo.join(hi.hint("shuffle_hash"), [key, "_salt"])
