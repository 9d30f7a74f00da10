"""Text-analysis expression library (LLM-pipeline extensions,
SURVEY.md §2.2 checklist — no reference counterpart).

Everything is built from JVM-side Catalyst expressions (split /
higher-order array functions / md5) — no Python UDFs in any hot path.

Cross-engine portability rule: any value that participates in an
oracle comparison is produced by constructs with identical semantics
in Spark SQL and DuckDB (md5, floor, integer modular arithmetic) —
floating rounding goes through floor(x * 1e6) / 1e6, never
round-half-to-even vs half-up ambiguity.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .exprs import sql_hof

# 60-bit portable token hash: md5 hex prefix as an integer. Identical
# in DuckDB: ('0x' || substr(md5(s), 1, 15))::BIGINT. It is the one
# hash of every oracle-checked signature and sketch (minhash, simhash,
# count-min, split buckets): xxhash64 is engine-specific, so DuckDB
# could not replay a signature built from it.
def hash60(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def normalize_text(c: Column) -> Column:
    """lower + collapse whitespace + trim: canonical form for
    fingerprinting and tokenization."""
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def tokens_from_normalized(norm: Column) -> Column:
    """Whitespace tokens of already-normalized text (array<string>) —
    for callers that project ``normalize_text`` once and reuse it."""
    return F.split(norm, " ")


def tokens(c: Column) -> Column:
    """Whitespace tokens of the normalized text (array<string>)."""
    return tokens_from_normalized(normalize_text(c))


def word_shingles(toks: Column, n: int = 3) -> Column:
    """n-word shingles: the standard dedup unit (MinHash input).

    Built as n-1 zip_with concats over offset slices of the token
    array — each shingle is assembled from n aligned array reads, no
    per-index slice() copies. Benchmarked ~5x faster than the naive
    transform(sequence(i), concat_ws(slice(toks, i, n))) form, which
    re-slices the array per position. Guarded for short inputs:
    sequence(1, 0) in Spark is DESCENDING [1, 0], not empty."""
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    acc = F.slice(toks, 1, m)
    for off in range(1, n):
        acc = F.zip_with(
            acc, F.slice(toks, off + 1, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.when(F.size(toks) >= n, acc).otherwise(F.array().cast("array<string>"))


def fingerprint(c: Column) -> Column:
    """Content fingerprint: md5 of the normalized text — the exact-dedup
    key (byte-identical content modulo whitespace/case)."""
    return F.md5(normalize_text(c))


def floor6(c: Column) -> Column:
    """floor to 6 decimals — deterministic across engines (no
    round-half ties)."""
    return F.floor(c * F.lit(1000000.0)) / F.lit(1000000.0)


# Polynomial rolling-hash constants: fp = fold(h_i) of (acc*B + h_i) mod P.
# acc*B < ~1.3e11 stays far inside int64 under ANSI mode.
ROLL_B = 131
ROLL_P = 1_000_000_007


def rolling_fold(hs: Column) -> Column:
    """Polynomial rolling-hash fold over a per-token hash array.
    ``hs`` is referenced three times (slice + size + seed), so hot
    paths should pass a PRE-PROJECTED attribute — expression trees
    have no sharing, and an inlined per-token md5 array re-evaluates
    per reference (the q_winnow_pairs lesson, round 22)."""
    rest = F.slice(hs, 2, F.greatest(F.size(hs) - 1, F.lit(0)))
    return F.aggregate(
        rest,
        F.element_at(hs, 1),
        lambda acc, x: (acc * ROLL_B + x) % ROLL_P,
    )


def rolling_fingerprint(toks: Column) -> Column:
    """Order-sensitive document fingerprint: polynomial rolling hash
    over per-token hash60 values — same-token-multiset docs with
    different word order get DIFFERENT fingerprints (unlike the md5
    content fingerprint, which canonicalizes whitespace only).
    Pure codegen fold (F.aggregate), portable to DuckDB list_reduce.
    Single-column convenience form: evaluates the per-token hash array
    once per REFERENCE in the fold — see rolling_fold for the
    two-projection form used on corpus-scale paths."""
    return rolling_fold(F.transform(toks, lambda t: hash60(t) % ROLL_P))


STOPWORDS = ("the", "a", "and", "of", "to", "is", "in", "it", "that", "for")

LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "is", "in", "it", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "del", "se", "un"),
    "de": ("der", "die", "und", "das", "nicht", "ist", "ich", "ein", "zu", "mit"),
    "fr": ("le", "la", "de", "et", "les", "des", "une", "que", "pour", "dans"),
}


def marker_hits(toks: Column, markers: tuple[str, ...]) -> Column:
    """Non-distinct count of tokens appearing in the marker list."""
    words = ", ".join(f"'{m}'" for m in markers)  # plain lowercase words
    return F.size(sql_hof("filter", toks, f"x -> array_contains(array({words}), x)"))


def langid_pick(h: dict[str, Column]) -> Column:
    """Preference-ordered winner of the stopword-marker vote
    (en > es > de > fr on ties).  ``h`` maps lang -> vote-count
    Column.  Callers on a hot path should pass PRE-PROJECTED count
    columns: each count is referenced up to three times below, and
    marker_hits is a higher-order function (CodegenFallback — exempt
    from codegen subexpression elimination), so inlined counts
    re-evaluate their whole child chain per reference."""
    return (
        F.when((h["en"] >= h["es"]) & (h["en"] >= h["de"]) & (h["en"] >= h["fr"]), "en")
        .when((h["es"] >= h["de"]) & (h["es"] >= h["fr"]), "es")
        .when(h["de"] >= h["fr"], "de")
        .otherwise("fr")
    )


def langid_expr(toks: Column) -> Column:
    """n-gram-free language-ID heuristic: stopword-marker voting with a
    fixed preference order (en > es > de > fr) on ties.  Single-column
    convenience form — evaluates marker_hits (and therefore ``toks``)
    once per REFERENCE in the pick; see langid_pick for the
    two-projection form used on corpus-scale paths."""
    return langid_pick(
        {lang: marker_hits(toks, m) for lang, m in LANG_MARKERS.items()}
    )
