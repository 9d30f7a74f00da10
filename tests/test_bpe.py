"""Fourth-batch tokenizer-prep operators: BPE merge training /
segmentation (queries/bpe.py) and the chunked inverted index.

The driver's differential gate proves Spark == DuckDB; these tests
prove both equal an INDEPENDENT pure-Python reimplementation of the
defined algorithm (greedy-leftmost non-overlapping merge application,
fully-weighted overlap pair counts, (count desc, pair asc) tie-break),
so a shared misreading of replace() semantics across both engines
cannot slip through.
"""

from __future__ import annotations

import re
from collections import Counter

from map_reduce_for_dbpl_dataset_spark.queries.bpe import (
    BPE_MERGES,
    BPE_TOP_WORDS,
    POSTINGS_SPAN,
    q_bpe_encode,
    q_bpe_segment,
    q_bpe_train,
    q_inverted_index,
)

_WORD = re.compile(r"^[a-z0-9]+$")


def _words(texts: list[str]) -> Counter:
    c: Counter = Counter()
    for t in texts:
        for w in re.sub(r"\s+", " ", t.lower()).strip().split(" "):
            if _WORD.match(w):
                c[w] += 1
    return c


def _python_bpe(texts: list[str]):
    """Reference BPE: returns (merge rows, final segmentation)."""
    counts = _words(texts)
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_TOP_WORDS]
    seqs = {w: tuple(w) for w, _ in top}
    merges = []
    for r in range(1, BPE_MERGES + 1):
        pc: Counter = Counter()
        for w, cnt in top:
            s = seqs[w]
            for i in range(len(s) - 1):  # fully-weighted overlap counts
                pc[(s[i], s[i + 1])] += cnt
        best = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        (a, b), n = best
        merges.append((r, f"{a} {b}", f"{a}~{b}", n))
        for w in seqs:  # greedy-leftmost, non-overlapping
            s, out, i = seqs[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(f"{a}~{b}")
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = tuple(out)
    seg = {w: (cnt, len(seqs[w]), " ".join(seqs[w])) for w, cnt in top}
    return merges, seg


def test_bpe_train_matches_python_reference(spark, sf_dir):
    texts = [
        r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("text")
        .collect()
    ]
    expected, _ = _python_bpe(texts)
    got = [
        (r.round, r.pair, r.merged, r.pair_count)
        for r in q_bpe_train(spark, sf_dir).collect()
    ]
    assert got == expected
    # merges must actually compound: later rounds may merge a '~'
    # symbol produced earlier, and counts are non-increasing only
    # per-construction when the corpus is skewed — assert the
    # structural invariant instead: every pair is two known symbols.
    assert all(" " in p and "~" in m for _, p, m, _ in got)


def test_bpe_segment_matches_python_reference(spark, sf_dir):
    texts = [
        r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("text")
        .collect()
    ]
    _, expected = _python_bpe(texts)
    got = {
        r.word: (r.cnt, r.n_pieces, r.pieces)
        for r in q_bpe_segment(spark, sf_dir).collect()
    }
    assert got == expected
    # round-trip: removing separators reconstructs every word exactly
    for w, (_, _, pieces) in got.items():
        assert pieces.replace(" ", "").replace("~", "") == w


def _apply_rules(word: str, rules: list[tuple[str, str]]) -> tuple:
    """Greedy-leftmost one pass per rule, in learned order."""
    s: tuple = tuple(word)
    for a, b in rules:
        out, i = [], 0
        while i < len(s):
            if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                out.append(f"{a}~{b}")
                i += 2
            else:
                out.append(s[i])
                i += 1
        s = tuple(out)
    return s


def test_bpe_encode_matches_python_reference(spark, sf_dir):
    rows = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    merges, _ = _python_bpe([r.text for r in rows])
    rules = [tuple(p.split(" ")) for _, p, _, _ in merges]
    expected = {}
    for r in rows:
        words = [
            w
            for w in re.sub(r"\s+", " ", r.text.lower()).strip().split(" ")
            if _WORD.match(w)
        ]
        if not words:
            continue
        n_chars = sum(len(w) for w in words)
        n_pieces = sum(len(_apply_rules(w, rules)) for w in words)
        expected[r.doc_id] = (
            len(words),
            n_chars,
            n_pieces,
            n_chars * 1_000_000 // n_pieces,
        )
    got = {
        r.doc_id: (r.n_words, r.n_chars, r.n_pieces, r.compression_micro)
        for r in q_bpe_encode(spark, sf_dir).collect()
    }
    assert got == expected
    # merges actually fired somewhere: pieces < chars for some doc
    assert any(p < c for _, c, p, _ in got.values())


def test_inverted_index_rescan_and_chunk_bound(spark, sf_dir):
    rows = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    expected: dict = {}
    for r in rows:
        toks = {
            w
            for w in re.sub(r"\s+", " ", r.text.lower()).strip().split(" ")
            if _WORD.match(w)
        }
        for t in toks:
            expected.setdefault((t, r.doc_id // POSTINGS_SPAN), []).append(r.doc_id)
    got = q_inverted_index(spark, sf_dir).collect()
    assert {
        (r.term, r.chunk): (r.chunk_df, r.postings) for r in got
    } == {
        k: (len(v), ",".join(str(i) for i in sorted(v)))
        for k, v in expected.items()
    }
    # the scale contract: no postings row exceeds the chunk span
    assert all(r.chunk_df <= POSTINGS_SPAN for r in got)


def test_bpe_encode_oov_fallback(spark, tmp_path):
    """Fixture word types all fit in the top-K vocab, so the fast
    path covers everything there; this corpus has > BPE_TOP_WORDS
    word types, forcing real out-of-vocab words through the
    replace-chain fallback — which must segment them with the SAME
    learned rules the vocab words trained."""
    n_types = BPE_TOP_WORDS + 64
    texts = []
    for i in range(n_types):
        # low-index words repeat (trained vocab, Zipf head); the tail
        # appears once each and falls outside the top-K cap
        reps = 5 if i < 50 else 1
        texts.extend([f"prefix{i:04d} shared common tail"] * reps)
    import pandas as pd

    docs = pd.DataFrame(
        {"doc_id": range(len(texts)), "text": texts,
         "lang": "en", "source": "synthetic", "n_chars": [len(t) for t in texts]}
    )
    docs.to_parquet(f"{tmp_path}/documents.parquet")

    merges, _ = _python_bpe(texts)
    rules = [tuple(p.split(" ")) for _, p, _, _ in merges]
    expected = {}
    for doc_id, t in enumerate(texts):
        words = [w for w in t.split(" ") if _WORD.match(w)]
        n_chars = sum(len(w) for w in words)
        n_pieces = sum(len(_apply_rules(w, rules)) for w in words)
        expected[doc_id] = (len(words), n_chars, n_pieces,
                            n_chars * 1_000_000 // n_pieces)
    got = {
        r.doc_id: (r.n_words, r.n_chars, r.n_pieces, r.compression_micro)
        for r in q_bpe_encode(spark, str(tmp_path)).collect()
    }
    assert got == expected


def _write_docs(tmp_path, texts):
    import pandas as pd

    pd.DataFrame(
        {"doc_id": range(len(texts)), "text": texts,
         "lang": "en", "source": "synthetic", "n_chars": [len(t) for t in texts]}
    ).to_parquet(f"{tmp_path}/documents.parquet")


def test_bpe_early_stop_when_merges_exhaust(spark, tmp_path):
    """Merges exhaust after ONE round (the only multi-symbol word type
    is 'ab'; after merging (a,b) no adjacent pair remains anywhere) —
    the trainer must stop there instead of running the remaining
    budgeted rounds with an empty best-pair table, which would
    propagate through the cross joins and silently empty the entire
    corpus encode (round-5 verdict #5 / ADVICE)."""
    assert BPE_MERGES > 1  # the test is about stopping short of R
    texts = ["a b ab", "ab a b", "b a ab"]
    _write_docs(tmp_path, texts)
    sf = str(tmp_path)

    train = q_bpe_train(spark, sf).collect()
    assert [(r.round, r.pair, r.merged, r.pair_count) for r in train] == [
        (1, "a b", "a~b", 3)
    ]

    seg = {r.word: r.pieces for r in q_bpe_segment(spark, sf).collect()}
    assert seg == {"a": "a", "b": "b", "ab": "a~b"}

    enc = {
        r.doc_id: (r.n_words, r.n_chars, r.n_pieces, r.compression_micro)
        for r in q_bpe_encode(spark, sf).collect()
    }
    # every doc: words [a, b, ab] -> 3 words, 4 chars, 3 pieces; the
    # encode output must NOT be empty (the pre-fix failure mode)
    assert enc == {i: (3, 4, 3, 4_000_000 // 3) for i in range(3)}


def test_bpe_zero_learnable_pairs(spark, tmp_path):
    """Fully degenerate corpus (every word a single char): zero merge
    rules; train returns an empty rule table with the contract schema
    and encode degrades to character segmentation."""
    texts = ["a b c", "c b a"]
    _write_docs(tmp_path, texts)
    sf = str(tmp_path)

    train = q_bpe_train(spark, sf)
    assert train.columns == ["round", "pair", "merged", "pair_count"]
    assert train.count() == 0

    enc = {
        r.doc_id: (r.n_words, r.n_chars, r.n_pieces)
        for r in q_bpe_encode(spark, sf).collect()
    }
    assert enc == {0: (3, 3, 3), 1: (3, 3, 3)}


def test_bpe_zero_merge_budget(spark, sf_dir, monkeypatch):
    """A symbol budget equal to the base alphabet leaves zero merge
    rounds: train is the empty rule table and segment returns every
    trained word type split into single characters."""
    from map_reduce_for_dbpl_dataset_spark.queries import bpe

    monkeypatch.setattr(bpe, "BPE_MERGES", 0)
    assert q_bpe_train(spark, sf_dir).count() == 0

    texts = [
        r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("text")
        .collect()
    ]
    top = sorted(_words(texts).items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_TOP_WORDS]
    got = {
        r.word: (r.cnt, r.n_pieces, r.pieces)
        for r in q_bpe_segment(spark, sf_dir).collect()
    }
    assert got == {w: (cnt, len(w), " ".join(w)) for w, cnt in top}
