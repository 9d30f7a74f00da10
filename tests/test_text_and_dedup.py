"""Text expression + dedup/similarity operator tests."""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import functions as F

from map_reduce_for_dbpl_dataset_spark.functions.text import (
    fingerprint,
    langid_expr,
    normalize_text,
    tokens,
    word_shingles,
)
from map_reduce_for_dbpl_dataset_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs_prefix,
    simhash_values,
)
from map_reduce_for_dbpl_dataset_spark.queries.llm import WINNOW_W, _winnow_fps
from map_reduce_for_dbpl_dataset_spark.queries.pipeline import SPAN_K, _span_shingled
from map_reduce_for_dbpl_dataset_spark.sources.parquet import load_table


def test_word_shingles_short_input_guard(spark):
    df = spark.createDataFrame([("a b",), ("a b c d",), ("",)], "t string")
    out = df.select(word_shingles(tokens(F.col("t")), 3).alias("s")).collect()
    assert out[0].s == []
    assert out[1].s == ["a b c", "b c d"]
    assert out[2].s == []


def test_normalize_and_fingerprint_whitespace_case_invariant(spark):
    df = spark.createDataFrame([("Hello  World",), ("hello world ",)], "t string")
    fps = [r.fp for r in df.select(fingerprint(F.col("t")).alias("fp")).collect()]
    assert fps[0] == fps[1]
    norm = df.select(normalize_text(F.col("t")).alias("n")).collect()
    assert norm[0].n == "hello world"


def test_langid_prefers_marker_majority(spark):
    df = spark.createDataFrame(
        [("the cat is on the mat",), ("el gato que en los arboles y se fue",)], "t string"
    )
    out = [r.l for r in df.select(langid_expr(tokens(F.col("t"))).alias("l")).collect()]
    assert out == ["en", "es"]


def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "Same  Text"), (3, "other")], "doc_id long, text string"
    )
    out = {r.doc_id: (r.keep_id, r.n_copies, r.is_canonical) for r in exact_dedup(df, "doc_id", "text").collect()}
    assert out[1] == (1, 2, True)
    assert out[2] == (1, 2, False)
    assert out[3] == (3, 1, True)


def _shingled(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return df.select("doc_id", word_shingles(tokens(F.col("text")), 3).alias("shingles"))


def test_minhash_identical_docs_identical_signatures(spark):
    sh = _shingled(spark, [(1, "a b c d e f g h"), (2, "a b c d e f g h")])
    sigs = minhash_signatures(sh, "doc_id", "shingles").collect()
    s1, s2 = (tuple(r)[1:] for r in sorted(sigs, key=lambda r: r.doc_id))
    assert s1 == s2


def test_minhash_lsh_finds_near_duplicate(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different words everywhere nothing shared at all here now ok"
    sh = _shingled(spark, [(1, base), (2, near), (3, far)])
    pairs = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(sh, "doc_id", "shingles", threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_lsh_hot_bucket_self_join_matches_small_path(spark):
    """Adversarial hot bucket: every doc shares every band key. With
    hot_bucket forced below the bucket size the self-join regime must
    emit exactly the same C(n,2) pairs as the collect_list regime."""
    from map_reduce_for_dbpl_dataset_spark.operators.dedup import (
        N_PERM,
        lsh_candidate_pairs,
    )

    n = 60
    sigs = spark.createDataFrame(
        [(i, *[7] * N_PERM) for i in range(n)],
        "doc_id long, " + ", ".join(f"sig_{k} long" for k in range(N_PERM)),
    )
    expected = {(a, b) for a in range(n) for b in range(a + 1, n)}
    hot = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(sigs, "doc_id", hot_bucket=8).collect()
    }
    small = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(sigs, "doc_id", hot_bucket=10_000).collect()
    }
    assert hot == expected
    assert small == expected


def test_lsh_mixed_hot_and_small_buckets(spark):
    """One hot bucket (ids 0..29 identical sigs) + one small bucket
    (ids 100,101) + a singleton (id 200): the two regimes partition the
    buckets and their union is exactly the brute-force pair set."""
    from map_reduce_for_dbpl_dataset_spark.operators.dedup import (
        N_PERM,
        lsh_candidate_pairs,
    )

    rows = [(i, *[7] * N_PERM) for i in range(30)]
    rows += [(100, *[11] * N_PERM), (101, *[11] * N_PERM), (200, *[13] * N_PERM)]
    sigs = spark.createDataFrame(
        rows, "doc_id long, " + ", ".join(f"sig_{k} long" for k in range(N_PERM))
    )
    got = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(sigs, "doc_id", hot_bucket=8).collect()
    }
    expected = {(a, b) for a in range(30) for b in range(a + 1, 30)} | {(100, 101)}
    assert got == expected


def test_ngram_jaccard_exact_values(spark, set_jaccard_pairs):
    sh = _shingled(spark, [(1, "a b c d"), (2, "a b c d"), (3, "x y z w")])
    out = ngram_jaccard_pairs_prefix(sh, "doc_id", "shingles", threshold=0.5).collect()
    assert len(out) == 1 and out[0].id_a == 1 and out[0].id_b == 2 and out[0].jaccard == 1.0
    assert {(r.id_a, r.id_b): r.jaccard for r in out} == set_jaccard_pairs(sh.collect(), 0.5)


def test_simhash_identical_equal_disjoint_differs(spark):
    sh = _shingled(
        spark,
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "q r s t u v w x y z")],
    )
    sims = {r.doc_id: r.simhash for r in simhash_values(sh, "doc_id", "shingles").collect()}
    assert sims[1] == sims[2]
    assert sims[1] != sims[3]


# --- winnowing sliding-min and positional-span shingling ---------------------
# Both derivations are built from zip_with/least passes over offset
# slices for speed; these pin the VALUES against independent
# pure-Python implementations so any rewrite of the expressions keeps
# the algorithm, not just the oracle hash.


def _py_hash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_tokens(text: str) -> list[str]:
    return re.sub(r"\s+", " ", text.lower()).strip().split(" ")


def _py_shingles(toks: list[str], n: int) -> list[str]:
    if len(toks) < n:
        return []
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def _py_winnow_fps(text: str, w: int) -> list[int]:
    hs = [_py_hash60(s) for s in _py_shingles(_py_tokens(text), 3)]
    if len(hs) < w:
        return []
    mins = [min(hs[i : i + w]) for i in range(len(hs) - w + 1)]
    out: list[int] = []
    for m in mins:  # array_distinct keeps first-occurrence order
        if m not in out:
            out.append(m)
    return out


def test_winnow_slide_min_matches_bruteforce(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(60)
    rows = {r["doc_id"]: r["text"] for r in d.collect()}
    got = {r["doc_id"]: r["fps"] for r in _winnow_fps(d).collect()}
    assert set(got) == set(rows)
    for doc_id, text in rows.items():
        assert got[doc_id] == _py_winnow_fps(text, WINNOW_W), doc_id


def test_winnow_slide_min_short_and_duplicate_edge_cases(spark):
    # < W shingles (including empty text) must yield an EMPTY array —
    # the old explicit size(h) >= W filter is subsumed by the slice
    # clamp; duplicate-heavy text exercises array_distinct ordering.
    texts = [
        (0, ""),  # no tokens
        (1, "one two"),  # no 3-shingles at all
        (2, "a b c d e"),  # 3 shingles < W=4
        (3, "a b c d e f"),  # exactly W shingles -> 1 window
        (4, "x y " * 40),  # heavy duplication
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r["doc_id"]: r["fps"] for r in _winnow_fps(df).collect()}
    for doc_id, text in texts:
        assert got[doc_id] == _py_winnow_fps(text, WINNOW_W), doc_id


def test_span_shingled_matches_bruteforce(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(60)
    rows = {r["doc_id"]: r["text"] for r in d.collect()}
    got = {}
    for r in _span_shingled(d).collect():
        got.setdefault(r["doc_id"], []).append((r["p"], r["sk"]))
    for doc_id, text in rows.items():
        expect = [
            (p, _py_hash60(s))
            for p, s in enumerate(_py_shingles(_py_tokens(text), SPAN_K))
        ]
        assert sorted(got.get(doc_id, [])) == expect, doc_id


def test_span_shingled_short_doc_yields_no_rows(spark):
    df = spark.createDataFrame(
        [(0, "just a few tokens"), (1, " ".join(f"t{i}" for i in range(SPAN_K)))],
        "doc_id long, text string",
    )
    rows = _span_shingled(df).collect()
    # doc 0 has < SPAN_K tokens -> nothing; doc 1 has exactly SPAN_K -> one
    assert [(r["doc_id"], r["p"]) for r in rows] == [(1, 0)]
    assert rows[0]["sk"] == _py_hash60(" ".join(f"t{i}" for i in range(SPAN_K)))
