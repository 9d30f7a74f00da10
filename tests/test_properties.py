"""Property-style checks (SURVEY.md §5.3): results verified against an
independent recomputation or an invariant, not a golden file."""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_for_dbpl_dataset_spark.operators.runs import longest_consecutive_run
from map_reduce_for_dbpl_dataset_spark.queries import dblp


def _longest_run_python(years: list[int]) -> int:
    ys = sorted(set(years))
    best = cur = 1
    for a, b in zip(ys, ys[1:]):
        cur = cur + 1 if b == a + 1 else 1
        best = max(best, cur)
    return best


def test_runs_agree_with_python_rescan(spark):
    import random

    rng = random.Random(7)
    rows = []
    expected = {}
    for k in range(40):
        years = [rng.randint(1990, 2020) for _ in range(rng.randint(1, 30))]
        rows += [(f"k{k}", y) for y in years]
        expected[f"k{k}"] = _longest_run_python(years)
    df = spark.createDataFrame(rows, "k string, year int")
    got = {r.k: r.longest_run for r in longest_consecutive_run(df, ["k"], "year").collect()}
    assert got == expected


def test_q6_disjoint_from_multi_author_records(spark, sf_dir):
    from map_reduce_for_dbpl_dataset_spark.functions.exprs import authors_or_editors
    from map_reduce_for_dbpl_dataset_spark.sources.parquet import publications

    solo = {r.author for r in dblp.q6_solo_only_authors(spark, sf_dir).collect()}
    multi = {
        r.author
        for r in publications(spark)
        .select(F.explode(authors_or_editors()).alias("author"), F.size(authors_or_editors()).alias("n"))
        .filter(F.col("n") > 1)
        .select("author")
        .distinct()
        .collect()
    }
    assert not solo & multi


def test_q1_counts_match_direct_recount(spark, sf_dir):
    # every (venue, author, n_pubs) in the top-10 must equal the true
    # count computed independently
    from map_reduce_for_dbpl_dataset_spark.functions.exprs import authors_or_editors, venue_expr
    from map_reduce_for_dbpl_dataset_spark.sources.parquet import publications

    top = dblp.q1_top_authors_per_venue(spark, sf_dir)
    truth = (
        publications(spark)
        .withColumns({"venue": venue_expr(), "aus": authors_or_editors()})
        .select("venue", F.explode("aus").alias("author"))
        .filter((F.col("venue") != "") & (F.col("author") != ""))
        .groupBy("venue", "author")
        .count()
    )
    joined = top.join(truth, ["venue", "author"], "left")
    bad = joined.filter(
        F.col("count").isNull() | (F.col("count") != F.col("n_pubs"))
    ).count()
    assert bad == 0


def test_ppjoin_filters_lossless_vs_naive(spark, set_jaccard_pairs):
    """The PPJoin prefix/length/positional filters are exact-theory
    prunes — on a seeded random corpus engineered to put many pairs
    near the threshold, the filtered join must return EXACTLY the
    brute-force all-pairs result (ids and jaccard values)."""
    import random

    from map_reduce_for_dbpl_dataset_spark.operators.dedup import (
        ngram_jaccard_pairs_prefix,
    )

    rng = random.Random(41)
    vocab = [f"w{i}" for i in range(60)]
    rows = []
    base_sets = []
    for d in range(30):
        if base_sets and rng.random() < 0.5:
            # perturb an earlier doc: drop/add a few shingles so the
            # pair's jaccard lands near the 0.8 boundary
            src = list(rng.choice(base_sets))
            k = rng.randint(1, 4)
            for _ in range(k):
                if rng.random() < 0.5 and len(src) > 5:
                    src.pop(rng.randrange(len(src)))
                else:
                    src.append(rng.choice(vocab) + f"x{rng.randint(0, 9)}")
            sset = src
        else:
            sset = [rng.choice(vocab) + f"s{rng.randint(0, 99)}" for _ in range(rng.randint(8, 25))]
        base_sets.append(sset)
        rows.append((d, sset))
    df = spark.createDataFrame(rows, "doc_id long, shingles array<string>")

    def norm(out):
        return sorted(
            (r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in out.collect()
        )

    naive = sorted(
        (a, b, round(j, 9)) for (a, b), j in set_jaccard_pairs(rows, 0.8).items()
    )
    pp = norm(ngram_jaccard_pairs_prefix(df, "doc_id", "shingles", threshold=0.8))
    assert len(naive) > 0  # the perturbation must actually create pairs
    assert pp == naive


def test_ppjoin_exact_threshold_boundary(spark, set_jaccard_pairs):
    """Deterministic boundary cases for the PPJoin exactness contract:
    pairs at EXACTLY J = t must survive every filter. The (4,5)-size
    pair doubles as a regression test for the FP-ceil fix — t*|B| =
    4.0 exactly, and a ceil that rounds the double product up would
    over-tighten the length filter and drop the pair."""
    from map_reduce_for_dbpl_dataset_spark.operators.dedup import (
        ngram_jaccard_pairs_prefix,
    )

    rows = [
        # J(1,2) = 8/10 = 0.8 exactly (sizes 9, 9)
        (1, [f"w{i}" for i in range(8)] + ["only_a"]),
        (2, [f"w{i}" for i in range(8)] + ["only_b"]),
        # J(3,4) = 4/5 = 0.8 exactly (sizes 4, 5; t*sz integer both ways)
        (3, ["a", "b", "c", "d"]),
        (4, ["a", "b", "c", "d", "e"]),
        # J(5,6) = 7/11 < 0.8: must be pruned/dropped
        (5, [f"u{i}" for i in range(7)] + ["p", "q"]),
        (6, [f"u{i}" for i in range(7)] + ["r", "s"]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, shingles array<string>")

    def norm(out):
        return sorted(
            (r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in out.collect()
        )

    expected = [(1, 2, 0.8), (3, 4, 0.8)]
    assert sorted(
        (a, b, round(j, 9)) for (a, b), j in set_jaccard_pairs(rows, 0.8).items()
    ) == expected
    assert norm(ngram_jaccard_pairs_prefix(df, "doc_id", "shingles", 0.8)) == expected


def _spans_python(docs: dict[int, str], k: int, df_cap: int):
    """Definition-based reference for q_substring_spans: maximal runs
    of matching K-token window positions per (pair, diagonal), after
    dropping windows whose text is shared by more than df_cap docs.
    Independent of the shingle-join formulation: enumerates position
    pairs directly from the token arrays."""
    import re
    from collections import defaultdict

    toks = {
        i: re.sub(r"\s+", " ", t.lower()).strip().split(" ") for i, t in docs.items()
    }
    sh = {
        i: [" ".join(ts[p : p + k]) for p in range(len(ts) - k + 1)]
        if len(ts) >= k
        else []
        for i, ts in toks.items()
    }
    df = defaultdict(set)
    for i, ss in sh.items():
        for s in set(ss):
            df[s].add(i)
    keep = {s for s, d in df.items() if len(d) <= df_cap}
    expected = {}
    ids = sorted(sh)
    for xa in range(len(ids)):
        for xb in range(xa + 1, len(ids)):
            a, b = ids[xa], ids[xb]
            by_diag = defaultdict(set)
            for pa, sa in enumerate(sh[a]):
                if sa not in keep:
                    continue
                for pb, sb in enumerate(sh[b]):
                    if sb == sa:
                        by_diag[pa - pb].add(pa)
            if not by_diag:
                continue
            n_spans = n_pos = max_run = 0
            for ps in by_diag.values():
                sorted_ps = sorted(ps)
                run = 1
                for prev, cur in zip(sorted_ps, sorted_ps[1:] + [None]):
                    if cur == prev + 1:
                        run += 1
                    else:
                        n_spans += 1
                        max_run = max(max_run, run)
                        run = 1
                n_pos += len(sorted_ps)
            expected[(a, b)] = (n_spans, max_run + k - 1, n_pos)
    return expected


def test_substring_spans_match_definition(spark, tmp_path):
    """q_substring_spans (shingle-key join + gaps-and-islands diagonal
    merge) must equal the definition-based position-pair enumeration on
    a corpus engineered with shared prefixes, mid-document copies,
    repeated in-doc blocks (multi-diagonal matches), and a 70-doc
    boilerplate block that the SPAN_DF_CAP=64 guard must suppress."""
    import random

    from map_reduce_for_dbpl_dataset_spark.queries.pipeline import (
        SPAN_DF_CAP,
        SPAN_K,
        q_substring_spans,
    )

    rng = random.Random(83)
    vocab = [f"w{i}" for i in range(300)]
    boiler = [f"bp{i}" for i in range(SPAN_K)]  # exactly one K-window
    docs: dict[int, str] = {}
    for d in range(70):
        body = [rng.choice(vocab) + f"u{d}_{j}" for j in range(30)]
        # every doc carries the boilerplate block: its pure window has
        # df=70 > SPAN_DF_CAP and must create no pairs by itself
        docs[d] = " ".join(body[:15] + boiler + body[15:])
    base = [rng.choice(vocab) for _ in range(40)]
    # shared prefix (span SPAN_K+9), a mid-doc copy at a different
    # offset (diagonal != 0), and a doc repeating the same block twice
    # (two diagonals against the single-block doc)
    block = base[: SPAN_K + 9]
    docs[100] = " ".join(block + [f"t100_{j}" for j in range(10)])
    docs[101] = " ".join([f"t101_{j}" for j in range(7)] + block + [f"t101x{j}" for j in range(5)])
    docs[102] = " ".join(block + [f"t102_{j}" for j in range(4)] + block)
    expected = _spans_python(docs, SPAN_K, SPAN_DF_CAP)
    # non-vacuous: the engineered structure must produce pairs, a
    # multi-span pair, and no boilerplate-only pairs
    assert expected, "corpus produced no shared spans"
    assert any(v[0] >= 2 for v in expected.values())
    assert all(a >= 100 and b >= 100 for a, b in expected)

    import pandas as pd

    sf_dir = str(tmp_path)
    pd.DataFrame(
        {"doc_id": list(docs), "text": [docs[i] for i in docs]}
    ).to_parquet(f"{sf_dir}/documents.parquet", index=False)
    got = {
        (r.id_a, r.id_b): (r.n_spans, r.max_span_tokens, r.n_matched_positions)
        for r in q_substring_spans(spark, sf_dir).collect()
    }
    assert got == expected


def test_winnow_pairs_match_python_replay(spark, tmp_path):
    """q_winnow_pairs must equal a pure-Python replay of the MOSS
    pipeline (hash60 -> per-doc sliding-window min fingerprints ->
    df-cap -> pairwise shared-fingerprint count), and the winnowing
    COVERAGE GUARANTEE must hold: a planted shared run of R shingles
    >= W yields at least one common fingerprint, and the long planted
    blocks here yield enough distinct shared mins to clear the
    WINNOW_MIN_SHARED output threshold."""
    import hashlib
    import random
    import re
    from collections import defaultdict

    from map_reduce_for_dbpl_dataset_spark.queries.llm import (
        WINNOW_MAX_DF,
        WINNOW_MIN_SHARED,
        WINNOW_MUTANTS,
        WINNOW_W,
        q_winnow_pairs,
    )

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    rng = random.Random(19)
    docs: dict[int, str] = {}
    base_id = WINNOW_MUTANTS  # ids below WINNOW_MUTANTS get mutants injected
    for d in range(40):
        docs[base_id + d] = " ".join(
            rng.choice([f"v{j}" for j in range(500)]) + f"_{d}_{i}"
            for i in range(rng.randint(20, 60))
        )
    # plant three long shared blocks (60 tokens ~ 58 shingles >> W):
    # pair (100, 101) shares one block, (102, 103) shares two disjoint
    # blocks, (104, 105) shares a block at different offsets
    blocks = [
        [f"b{k}_{i}" for i in range(60)] for k in range(4)
    ]
    docs[100] = " ".join(blocks[0] + [f"x100_{i}" for i in range(15)])
    docs[101] = " ".join([f"x101_{i}" for i in range(9)] + blocks[0])
    docs[102] = " ".join(blocks[1] + [f"x102_{i}" for i in range(12)] + blocks[2])
    docs[103] = " ".join(blocks[2] + [f"x103_{i}" for i in range(7)] + blocks[1])
    docs[104] = " ".join([f"x104_{i}" for i in range(20)] + blocks[3])
    docs[105] = " ".join(blocks[3] + [f"x105_{i}" for i in range(3)])

    # pure-Python replay of the exact pipeline
    fps: dict[int, set] = {}
    for i, text in docs.items():
        toks = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
        sh = [" ".join(toks[p : p + 3]) for p in range(len(toks) - 2)]
        hs = [h60(s) for s in sh]
        if len(hs) < WINNOW_W:
            continue
        fps[i] = {
            min(hs[p : p + WINNOW_W]) for p in range(len(hs) - WINNOW_W + 1)
        }
    df = defaultdict(int)
    for i, s in fps.items():
        for f in s:
            df[f] += 1
    kept = {i: {f for f in s if df[f] <= WINNOW_MAX_DF} for i, s in fps.items()}
    ids = sorted(kept)
    expected = {}
    for xa in range(len(ids)):
        for xb in range(xa + 1, len(ids)):
            a, b = ids[xa], ids[xb]
            n = len(kept[a] & kept[b])
            if n >= WINNOW_MIN_SHARED:
                expected[(a, b)] = n
    # guarantee is non-vacuous: all three planted pairs must clear the
    # threshold in the reference, and no random-only pair should
    assert set(expected) == {(100, 101), (102, 103), (104, 105)}

    import pandas as pd

    pd.DataFrame(
        {"doc_id": list(docs), "text": [docs[i] for i in docs]}
    ).to_parquet(f"{tmp_path}/documents.parquet", index=False)
    got = {
        (r.id_a, r.id_b): r.n_shared
        for r in q_winnow_pairs(spark, str(tmp_path)).collect()
    }
    assert got == expected


def test_simhash_chunk_join_equals_all_pairs_hamming(spark):
    """The chunked candidate join (pigeonhole: hamming <= CHUNKS - 1
    implies one equal 8-bit chunk) must return EXACTLY the pairs a
    definition-based all-pairs scan finds: signatures replayed in
    Python from hash60 bit votes, hamming computed directly, no
    chunking anywhere in the reference."""
    import hashlib
    import random
    from itertools import combinations

    from map_reduce_for_dbpl_dataset_spark.operators.dedup import (
        SIMHASH_BITS,
        simhash_near_pairs,
    )

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def sim_py(shingles: list[str]) -> int:
        hs = [h60(s) for s in set(shingles)]
        if not hs:
            return 0
        out = 0
        for i in range(SIMHASH_BITS):
            votes = sum(1 if (h >> i) & 1 else -1 for h in hs)
            if votes >= 0:
                out |= 1 << i
        return out

    rng = random.Random(29)
    vocab = [f"sh{j}" for j in range(400)]
    rows = []
    for d in range(30):
        rows.append((d, [rng.choice(vocab) + f"_{rng.randint(0, 50)}" for _ in range(25)]))
    # near-dup family: perturb one base set by 1..3 shingles so several
    # pairs land at small-but-nonzero hamming
    base = [f"nd_{j}" for j in range(30)]
    for k, d in enumerate(range(100, 106)):
        mutated = base[: len(base) - k] + [f"mut_{k}_{j}" for j in range(k)]
        rows.append((d, mutated))
    rows.append((200, []))  # empty doc: simhash 0 by the -1-vote rule

    expected = set()
    sims = {d: sim_py(sh) for d, sh in rows}
    for (a, sa), (b, sb) in combinations(sorted(sims.items()), 2):
        ham = bin(sa ^ sb).count("1")
        if ham <= 3:
            expected.add((a, b, ham))
    # non-vacuous: the mutation ladder must produce hits at more than
    # one hamming distance, and not every pair
    assert expected and len({h for _, _, h in expected}) >= 2
    assert len(expected) < len(sims) * (len(sims) - 1) // 2

    df = spark.createDataFrame(rows, "doc_id long, shingles array<string>")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_pairs(df, "doc_id", "shingles").collect()
    }
    assert got == expected


def _lev_python(a: str, b: str) -> int:
    """Textbook full O(len_a*len_b) Levenshtein DP — deliberately NOT
    the banded 3-arg form the query uses, so the replay also certifies
    the query's two per-pair cuts (length band, DP band) as lossless."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_dedup_levenshtein_matches_definition(spark, tmp_path):
    """q_dedup_levenshtein (prefix blocking + salted pair join + length
    band + banded DP) must equal the definition-based replay: inject
    the ' qz' mutants, block on the first LEV_BLOCK_LEN chars, full-DP
    every same-block pair, keep dist <= LEV_MAX_DIST.  The corpus is
    engineered with a multi-doc block holding pairs at distance 0, at
    exactly the threshold, at threshold+1 (must be excluded), and past
    the length band, plus a cross-block near-identical pair (edit
    inside the prefix -> different blocks -> no pair, by the blocking
    definition both engines share).  This is the sf1-oracle-excluded
    query's definition replay (round-8 verdict #7; DuckDB has no
    threshold levenshtein, so its oracle is sf0.01-only)."""
    import random
    from itertools import combinations

    import pandas as pd

    from map_reduce_for_dbpl_dataset_spark.queries.pipeline import (
        LEV_BLOCK_LEN,
        LEV_MAX_DIST,
        LEV_SEEDS,
        q_dedup_levenshtein,
    )

    rng = random.Random(17)
    pfx = lambda k: f"prefix{k:02d}".ljust(LEV_BLOCK_LEN, "x")  # noqa: E731
    docs: dict[int, str] = {}
    p = pfx(0)
    docs[0] = p + "abcdefghij"          # block-A anchor (id < LEV_SEEDS -> mutant)
    docs[1] = p + "abcde"               # dist(0,1) = 5 == threshold: kept
    docs[2] = p + "abcdefghij"          # dist(0,2) = 0: kept
    docs[3] = p + "abcdefghij123456"    # dist(0,3) = 6: excluded by one
    docs[4] = p + "a" * 40              # len diff > LEV_MAX_DIST vs all: band cut
    # cross-block near-identical pair: one edit INSIDE the prefix
    docs[5] = pfx(1) + "sharedsuffix"
    docs[6] = pfx(1)[:-1] + "Z" + "sharedsuffix"
    # filler docs with unique prefixes (some id < LEV_SEEDS -> mutants)
    for i in range(7, 40):
        docs[i] = pfx(i) + "".join(rng.choice("abcdefg") for _ in range(20))

    corpus = dict(docs)
    for i, t in docs.items():
        if i < LEV_SEEDS:
            corpus[i + 300000] = t + " qz"
    blocks: dict[str, list[int]] = {}
    for i, t in corpus.items():
        blocks.setdefault(t[:LEV_BLOCK_LEN], []).append(i)
    expected = {
        (a, b): d
        for ids in blocks.values()
        for a, b in combinations(sorted(ids), 2)
        if (d := _lev_python(corpus[a], corpus[b])) <= LEV_MAX_DIST
    }
    # non-vacuous: boundary kept, identity kept, every mutant at exactly
    # 3; threshold+1, band-cut, and cross-block pairs all absent
    assert expected[(0, 1)] == LEV_MAX_DIST and expected[(0, 2)] == 0
    for i in range(LEV_SEEDS):
        assert expected[(i, i + 300000)] == 3, i
    assert (0, 3) not in expected and _lev_python(corpus[0], corpus[3]) == LEV_MAX_DIST + 1
    assert (0, 4) not in expected and abs(len(corpus[0]) - len(corpus[4])) > LEV_MAX_DIST
    assert (5, 6) not in expected and _lev_python(corpus[5], corpus[6]) == 1

    sf_dir = str(tmp_path)
    pd.DataFrame(
        {"doc_id": list(docs), "text": [docs[i] for i in docs]}
    ).to_parquet(f"{sf_dir}/documents.parquet", index=False)
    got = {(r.id_a, r.id_b): r.dist for r in q_dedup_levenshtein(spark, sf_dir).collect()}
    assert got == expected
