"""Scale-safe global ranking: two-pass row numbering over a total order.

``Window.orderBy`` with no partition key funnels EVERY row through one
task — fine at 1,500 fixture rows, dead at 100 TB (the round-1 verdict
flagged tpch_window_ntile for exactly this). The distributed form is
the classic two-pass rank:

  pass 1: range-repartition on the order keys (each partition holds a
          contiguous slice of the total order), count rows per
          partition — P counts, bounded by the cluster's partition
          count, never by the data;
  pass 2: broadcast the cumulative per-partition offsets back and add
          them to a per-partition local row_number — the window's
          partition key is the range-partition id, so no window group
          ever exceeds one partition's rows.

The order must be TOTAL (deterministic tie-break, the repo-wide oracle
convention) so row_number == rank and percent_rank/cume_dist/ntile are
pure functions of (row_number, n):

  percent_rank = (rn - 1) / (n - 1)          (0.0 when n == 1)
  cume_dist    = rn / n
  ntile(k)     = first n%k tiles get n//k+1 rows, the rest n//k
                 (Spark/DuckDB share this split rule)

The per-partition counts ARE collected to the driver — P long values,
the broadcast-side of the pattern, not a data collect.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PID, _LRN, _OFF = "_gr_pid", "_gr_lrn", "_gr_off"


def global_row_number(
    df: DataFrame,
    order_by: Sequence[Column],
    out_col: str = "rn",
) -> tuple[DataFrame, int]:
    """Append a 1-based global row number under ``order_by`` (which
    must be a total order) without a single-partition window.

    Returns ``(df_with_rn, total_rows)`` — callers usually need ``n``
    for percent_rank/cume_dist/ntile anyway, and it falls out of the
    offset pass for free. The range partitioning uses
    ``spark.sql.shuffle.partitions`` ranges.
    """
    order_by = list(order_by)
    parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    # localCheckpoint pins ONE materialization of the range partitioning:
    # the counts action below and the caller's later window/join pass
    # would otherwise execute repartitionByRange twice, and the
    # RangePartitioner's sampling (reseeded per plan instantiation on
    # the imbalanced-partition resample path) can assign rows to
    # different partitions across executions — silently wrong global
    # row numbers under skew. Checkpointed blocks are freed by the
    # ContextCleaner once the caller's plan is done with them; the
    # lineage-truncation fault-tolerance tradeoff is worth determinism.
    ranged = (
        df.repartitionByRange(int(parts), *order_by)
        .withColumn(_PID, F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = ranged.groupBy(_PID).agg(F.count(F.lit(1)).alias("c")).collect()
    sizes = {r[_PID]: r["c"] for r in counts}
    total, offsets, acc = 0, [], 0
    for pid in sorted(sizes):
        offsets.append((pid, acc))
        acc += sizes[pid]
    total = acc
    off_df = df.sparkSession.createDataFrame(
        offsets or [(0, 0)], f"{_PID} int, {_OFF} long"
    )
    w = Window.partitionBy(_PID).orderBy(*order_by)
    out = (
        ranged.withColumn(_LRN, F.row_number().over(w))
        .join(F.broadcast(off_df), _PID)
        .withColumn(out_col, (F.col(_OFF) + F.col(_LRN)).cast("long"))
        .drop(_PID, _LRN, _OFF)
    )
    return out, total


def ntile_from_rn(rn: Column, n: int, k: int) -> Column:
    """Spark's ntile(k) as a pure expression over (row_number, n):
    the first n % k tiles hold n//k + 1 rows, the remaining hold n//k."""
    q, r = n // k, n % k
    big = q + 1
    boundary = big * r  # rows 1..boundary live in the r bigger tiles
    return (
        F.when(F.lit(r > 0) & (rn <= F.lit(boundary)), ((rn - 1) / F.lit(big)).cast("long") + 1)
        .otherwise(F.lit(r) + ((rn - F.lit(boundary) - 1) / F.lit(q)).cast("long") + 1)
        .cast("int")
    )
