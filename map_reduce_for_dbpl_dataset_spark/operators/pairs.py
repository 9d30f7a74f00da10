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

# pair-stage partitions per core of the cluster's default parallelism
PAIR_SPREAD_FACTOR = 4


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
      sf1 while later stages ran 32-wide).
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
      estimates cannot flip it to broadcast (operators/similarity.py
      ``semdedup``).
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
