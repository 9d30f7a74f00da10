"""Top-k operators.

Replaces the reference's two hand-rolled top-k structures:
- per-group min-eviction map (Homework2.scala:92-126, Q1) — only
  correct with a single reducer (SURVEY.md §2.1 ⚠);
- global sort+slice in reducer cleanup (Homework2.scala:502-510, Q6;
  the Q5 variant at :412-431 is dead code and never limits).

Both become declarative plans that are correct at any parallelism:
- per-group: row_number over a window; Spark ≥3.5 inserts WindowGroupLimit,
  which pushes the k-limit into each partition's sort — the map-side
  "keep only 10" the reference wanted, but distributed and
  spill-safe.
- global: orderBy+limit compiles to TakeOrderedAndProject — each
  partition keeps a k-sized heap and the driver merges k·P rows, so
  no global sort materializes even at 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    group_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rank",
    keep_rank: bool = False,
) -> DataFrame:
    """Exactly k rows per group (fewer if the group is smaller), by
    row_number over ``order_by``.

    order_by must be deterministic (include a tie-break key): the
    reference's eviction ties are arbitrary (strict '>' keeps the
    incumbent, Homework2.scala:102); we fix explicit tie-breaks so
    results are reproducible across runs and cluster sizes.
    """
    w = Window.partitionBy(*group_by).orderBy(*order_by)
    out = df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)
    return out if keep_rank else out.drop(rank_col)


def top_k_global(
    df: DataFrame, order_by: Sequence[Column], k: int
) -> DataFrame:
    """Global top-k: TakeOrderedAndProject, not a full sort."""
    return df.orderBy(*order_by).limit(k)
