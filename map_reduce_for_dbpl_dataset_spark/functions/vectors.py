"""Vector math over array<float> embedding columns.

Built-in higher-order functions (zip_with / aggregate / transform)
keep the math JVM-side — no UDF, no Python round-trips.

Determinism: embeddings are quantized to integers
(floor(x * QUANT_SCALE)) before any similarity math, so dot products
and squared norms are EXACT integers and the final cosine is one IEEE
double expression — bit-identical across engines and partitionings.
This mirrors the
int8-quantization trick production ANN systems use; the Spark path
and the oracle path compute the same thing.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .exprs import sql_hof


# The one quantization scale: every vector operator and every DuckDB
# oracle (queries/llm.py _quant) multiply by this before flooring.
QUANT_SCALE = 1000


def quantize(vec: Column | str) -> Column:
    """array<float> -> array<long>, qi = floor(xi * QUANT_SCALE) (a str
    is SQL text, as in sql_hof)."""
    return sql_hof(
        "transform", vec, f"x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT)"
    )


def dot_q(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized vectors.

    Elements are widened to long BEFORE the multiply so the math is
    identical for array<long> and narrowed array<int> inputs (the
    semdedup pair stage ships int32 vectors to halve shuffle bytes —
    operators/similarity.py); for long inputs Catalyst's SimplifyCasts
    removes the no-op cast, so the historical plans are unchanged."""
    return sql_hof(
        "aggregate",
        sql_hof("zip_with", a, b, "(x, y) -> CAST(x AS BIGINT) * CAST(y AS BIGINT)"),
        "CAST(0 AS BIGINT)",
        "(x, y) -> x + y",
    )


def norm2_q(a: Column) -> Column:
    """Exact integer squared norm (same widening rule as dot_q)."""
    return sql_hof(
        "aggregate",
        sql_hof("transform", a, "x -> CAST(x AS BIGINT) * CAST(x AS BIGINT)"),
        "CAST(0 AS BIGINT)",
        "(x, y) -> x + y",
    )


def cosine_q(dot: Column, n2a: Column, n2b: Column) -> Column:
    """Cosine from exact integer parts; single double expression."""
    return dot.cast("double") / F.sqrt(n2a.cast("double") * n2b.cast("double"))
