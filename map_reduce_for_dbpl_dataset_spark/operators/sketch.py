"""Count-min sketch as DataFrame algebra (Cormode & Muthukrishnan,
"An improved data stream summary: the count-min sketch and its
applications", J. Algorithms 2005).

Spark ships a `count_min_sketch` aggregate but returns an opaque
binary with no SQL-side estimator, so the sketch here is built as
plain relational ops: the sketch IS a (depth, bucket, count) table of
at most depth*width rows — a bounded summary of an unbounded stream.

Scale: the build is one partial-aggregated shuffle whose final state
is depth*width rows REGARDLESS of input size (each task pre-collapses
to <= depth*width partial rows before the exchange — the map-side
combine is what makes a sketch a sketch). Estimation broadcasts the
sketch (a few KB) and probes it per candidate key: no shuffle of the
corpus, no full-cardinality groupBy. The classic 100 TB use: find
heavy hitters over a key too high-cardinality to aggregate exactly,
paying O(depth*width) memory for an overestimate bounded by
eps*N = (e/width)*N with probability 1 - (1/e)^depth.

The sketch shape is fixed at CMS_DEPTH x CMS_WIDTH for both build and
estimate, so a sketch can never be probed with coordinates it was not
built with. Hashing is fixed to the md5-based hash60
(functions/text.py): the DuckDB oracle recomputes every bucket from
the same md5 prefix, which an engine-specific hash such as xxhash64
would not allow.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import hash60

CMS_DEPTH = 4
CMS_WIDTH = 256


def _coords(k: Column) -> Column:
    """array<struct<d, bucket>>: row i hashes "i:key" — an
    independent-enough hash family, and the exact concat form the
    DuckDB oracle mirrors."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("d"),
                (hash60(F.concat_ws(":", F.lit(str(i)), k)) % CMS_WIDTH).alias("bucket"),
            )
            for i in range(CMS_DEPTH)
        ]
    )


def cms_build(df: DataFrame, key: str) -> DataFrame:
    """Sketch table (d, bucket, c): c = number of input rows whose
    key hashes to bucket under hash row d. At most
    CMS_DEPTH*CMS_WIDTH rows."""
    return (
        df.select(F.explode(_coords(F.col(key).cast("string"))).alias("p"))
        .select("p.d", "p.bucket")
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_estimate(sketch: DataFrame, candidates: DataFrame, key: str) -> DataFrame:
    """(key, est): est = min over the CMS_DEPTH rows of the probed
    bucket counts — >= true frequency always, <= true +
    (e/CMS_WIDTH)*N w.h.p. The sketch side is broadcast; candidates
    never shuffle."""
    k = F.col(key).cast("string")
    probes = candidates.select(
        k.alias("_cms_k"), F.explode(_coords(k)).alias("p")
    ).select("_cms_k", "p.d", "p.bucket")
    return (
        probes.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("_cms_k")
        .agg(F.min("c").alias("est"))
        .select(F.col("_cms_k").alias(key), "est")
    )
