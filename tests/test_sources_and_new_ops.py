"""Unit tests: XML source, sinks, rolling fingerprint, embedding
near-dup (SURVEY.md §5 strategy: golden + property)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from map_reduce_for_dbpl_dataset_spark.functions.text import (
    rolling_fingerprint,
    tokens,
)
from map_reduce_for_dbpl_dataset_spark.operators.similarity import (
    embedding_near_pairs,
)
from map_reduce_for_dbpl_dataset_spark.sources.xml import publications_from_xml


def test_xml_source_golden(spark, tmp_path):
    p = tmp_path / "lines.xml"
    p.write_text(
        '<article key="a/1" mdate="2001-02-03"><author>X</author>'
        "<author>Y</author><title>T &amp; U</title><year>1999</year>"
        "<journal>J</journal></article>\n"
        '<phdthesis key="p/2" mdate="2002-03-04"><author>Z</author>'
        "<title>Th</title><year>2001</year><school>S</school></phdthesis>\n"
    )
    rows = {r["key"]: r for r in publications_from_xml(spark, str(p)).collect()}
    a = rows["a/1"]
    assert a["kind"] == "article"
    assert a["authors"] == ["X", "Y"]
    assert a["editors"] == []
    assert a["title"] == "T & U"
    assert a["year"] == 1999
    assert str(a["mdate"]) == "2001-02-03"
    b = rows["p/2"]
    assert (b["kind"], b["school"], b["journal"]) == ("phdthesis", "S", None)


def test_xml_fixture_roundtrip_count(spark):
    from map_reduce_for_dbpl_dataset_spark.sources.parquet import publications

    parsed = publications_from_xml(spark)
    assert parsed.count() == publications(spark).count()
    # spot-invariant: per-kind counts survive the roundtrip
    a = dict(parsed.groupBy("kind").count().collect())
    b = dict(publications(spark).groupBy("kind").count().collect())
    assert a == b


def test_rolling_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma")],
        ["id", "text"],
    )
    out = {
        r["id"]: r["fp"]
        for r in df.select(
            "id", rolling_fingerprint(tokens(F.col("text"))).alias("fp")
        ).collect()
    }
    assert out[1] == out[3]
    assert out[1] != out[2]  # same tokens, different order


def test_embedding_near_pairs_finds_exact_copy(spark):
    dim = 8
    v1 = [float(i + 1) for i in range(dim)]
    v2 = [float(dim - i) for i in range(dim)]
    df = spark.createDataFrame(
        [(1, v1), (2, v2), (3, list(v1))], ["vec_id", "embedding"]
    )
    pairs = embedding_near_pairs(df, "vec_id", "embedding", dim=dim, threshold=0.99)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 3) in got
    assert all(p == (1, 3) for p in got)


def test_csv_sink_partitioned_output(spark, tmp_path):
    from map_reduce_for_dbpl_dataset_spark.sources.sinks import read_csv, write_csv

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    ).repartition(4)
    path = str(tmp_path / "csvout")
    write_csv(df, path, sep="|")
    import glob

    parts = glob.glob(path + "/part-*")
    assert len(parts) > 1  # partitioned output, no coalesce(1) funnel
    back = read_csv(spark, path, "id long, k long", sep="|")
    assert back.count() == 100
    assert back.agg(F.sum("id")).first()[0] == 4950


def test_coauthor_components_small_graph(spark):
    from map_reduce_for_dbpl_dataset_spark.queries import dblp as dblp_mod
    import pyspark.sql.functions as F

    # run the co-author components query on a hand-built edge set by
    # monkeypatching the pub source: pubs {p1: a,b}, {p2: b,c}, {p3: d,e},
    # {p4: f} -> components {a,b,c}->a, {d,e}->d, {f}->f
    rows = [
        ("p1", ["a", "b"]),
        ("p2", ["b", "c"]),
        ("p3", ["d", "e"]),
        ("p4", ["f"]),
    ]
    df = spark.createDataFrame(rows, ["key", "aus"]).withColumn(
        "venue", F.lit("v")
    )
    orig = dblp_mod._pubs_with_venue
    dblp_mod._pubs_with_venue = lambda s, sf_dir=None: df
    try:
        out = {
            r["author"]: r["component"]
            for r in dblp_mod.coauthor_components_star(spark, "").collect()
        }
    finally:
        dblp_mod._pubs_with_venue = orig
    assert out == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d", "f": "f"}


def test_minhash_lsh_catches_exact_duplicates(spark):
    """Recall floor: identical shingle sets -> identical signatures ->
    same band buckets -> the pair MUST surface with jaccard 1.0."""
    from map_reduce_for_dbpl_dataset_spark.operators.dedup import minhash_lsh_pairs

    rows = [
        (1, ["a b c", "b c d", "c d e", "d e f"]),
        (2, ["a b c", "b c d", "c d e", "d e f"]),
        (3, ["x y z", "y z w", "z w v", "w v u"]),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "shingles"])
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           minhash_lsh_pairs(df, "doc_id", "shingles", threshold=0.8).collect()}
    assert out == {(1, 2): 1.0}


def test_prefix_jaccard_equals_naive(spark, set_jaccard_pairs):
    from map_reduce_for_dbpl_dataset_spark.operators.dedup import (
        ngram_jaccard_pairs_prefix,
    )

    rows = [
        (1, ["q w", "w e", "e r", "r t", "t y"]),
        (2, ["q w", "w e", "e r", "r t", "zz z"]),
        (3, ["q w", "aa a", "bb b", "cc c", "dd d"]),
        (4, ["q w", "w e", "e r", "r t", "t y"]),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "shingles"])
    for t in (0.5, 0.8):
        naive = {k: round(j, 9) for k, j in set_jaccard_pairs(rows, t).items()}
        pref = {(r["id_a"], r["id_b"]): round(r["jaccard"], 9) for r in
                ngram_jaccard_pairs_prefix(df, "doc_id", "shingles", t).collect()}
        assert naive == pref
        assert naive  # non-vacuous


def test_pysource_pushdown_prunes_partitions():
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan, StringContains

    from map_reduce_for_dbpl_dataset_spark.sources.pysource import SyntheticDocsReader

    r = SyntheticDocsReader(n_rows=300, n_parts=8)  # rpp = 38
    leftover = list(
        r.pushFilters(
            [
                GreaterThanOrEqual(("id",), 37),
                LessThan(("id",), 141),
                StringContains(("payload",), "doc"),  # unsupported -> returned
            ]
        )
    )
    assert len(leftover) == 1 and isinstance(leftover[0], StringContains)
    parts = r.partitions()
    # ids 37..140 live in shards 0..3 of 8 (rpp=38): half the scan pruned
    assert [p.value for p in parts] == [0, 1, 2, 3]
    got = [row[0] for p in parts for row in r.read(p)]
    assert got == list(range(37, 141))


def test_transform_with_state_gated_consistently(spark):
    from map_reduce_for_dbpl_dataset_spark.queries.streaming_queries import QUERIES
    from map_reduce_for_dbpl_dataset_spark.streaming.transform_state import (
        transform_with_state_available,
    )

    assert ("stream_transform_with_state" in QUERIES) == transform_with_state_available()


def test_transform_with_state_gate_reports_actual_probe(spark, sf_dir):
    """The gate query's report row must track the REAL import outcome
    — both branches asserted (round-5 verdict #8), so if this
    container ever gains the protobuf wheel the stale 'missing'
    report fails loudly here instead of rotting silently."""
    import duckdb

    from map_reduce_for_dbpl_dataset_spark.queries.streaming_queries import (
        ORACLE_SQL,
        QUERIES,
    )
    from map_reduce_for_dbpl_dataset_spark.streaming.transform_state import (
        transform_with_state_available,
    )

    try:
        from google.protobuf import descriptor  # noqa: F401

        live = True
    except ImportError:
        live = False
    assert transform_with_state_available() == live

    row = QUERIES["stream_transform_with_state_gate"](spark, sf_dir).collect()[0]
    assert row.available == live
    if live:
        assert "active" in row.reason
        assert "stream_transform_with_state" in QUERIES
    else:
        assert "google.protobuf missing" in row.reason
        assert "stream_transform_with_state" not in QUERIES
    # the oracle literal (generated at registry-build time) must agree
    # with the live Spark row it will be differentially compared to
    orow = duckdb.sql(ORACLE_SQL["stream_transform_with_state_gate"]).fetchone()
    assert (row.surface, row.available, row.reason) == orow


def test_interleave_bits_matches_python(spark):
    """Morton key expression == bit-interleave reference, including
    the 3-column case and values at the 16-bit domain edge."""
    from map_reduce_for_dbpl_dataset_spark.operators.zorder import interleave_bits

    def morton(vals, bits):
        z = 0
        for j, v in enumerate(vals):
            for i in range(bits):
                z |= ((v >> i) & 1) << (i * len(vals) + j)
        return z

    rows = [(0, 0, 0), (1, 2, 3), (65535, 0, 65535), (12345, 54321, 7)]
    df = spark.createDataFrame(rows, "a long, b long, c long")
    got2 = [
        r.z
        for r in df.select(interleave_bits([F.col("a"), F.col("b")]).alias("z"))
        .orderBy("z")
        .collect()
    ]
    want2 = sorted(morton([a, b], 16) for a, b, _ in rows)
    assert got2 == want2
    got3 = [
        r.z
        for r in df.select(
            interleave_bits([F.col("a"), F.col("b"), F.col("c")], bits=8).alias("z")
        )
        .orderBy("z")
        .collect()
    ]
    want3 = sorted(morton([a & 255, b & 255, c & 255], 8) for a, b, c in rows)
    assert got3 == want3


def test_zorder_layout_clusters_both_columns(spark, tmp_path):
    """After the Morton write, per-file min/max spans of BOTH columns
    are a fraction of their full ranges — the property row-group
    skipping depends on (a linear sort gives it to one column only)."""
    import glob

    from map_reduce_for_dbpl_dataset_spark.operators.zorder import write_zordered

    n = 1 << 12
    df = spark.range(n).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    path = str(tmp_path / "zorder")
    write_zordered(df, path, [F.col("x"), F.col("y")], n_files=8, bits=6)
    spans_x, spans_y = [], []
    for f in glob.glob(f"{path}/part-*.parquet"):
        part = spark.read.parquet(f).agg(
            F.min("x"), F.max("x"), F.min("y"), F.max("y")
        ).collect()[0]
        spans_x.append(part[1] - part[0])
        spans_y.append(part[3] - part[2])
    assert len(spans_x) >= 4
    # full range of each column is 64; a random or single-sorted
    # layout leaves the OTHER column's span at ~64 in every file
    assert sum(spans_x) / len(spans_x) <= 48
    assert sum(spans_y) / len(spans_y) <= 48


def test_cms_estimate_upper_bounds_and_tightness(spark):
    """est >= exact for every key (CMS never undercounts), and with
    width >> distinct keys the estimate is exact."""
    from map_reduce_for_dbpl_dataset_spark.operators.sketch import (
        cms_build,
        cms_estimate,
    )

    df = spark.range(2000).select((F.col("id") % 37).alias("k"))
    sketch = cms_build(df, "k")
    cand = df.select("k").distinct()
    est = {r.k: r.est for r in cms_estimate(sketch, cand, "k").collect()}
    exact = {str(r.k): r.n for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(est) == set(exact)
    for k, e in est.items():
        assert e >= exact[k]
    # 37 keys into 4x256 buckets: collisions possible but bounded;
    # min-over-depth should recover the exact count for most keys
    exact_hits = sum(1 for k in est if est[k] == exact[k])
    assert exact_hits >= 30


def test_pq_adc_structure_and_recall(spark):
    """PQ/ADC returns exactly k neighbors per query, never the query
    itself, and a planted exact duplicate of the query attains the
    MINIMAL possible ADC — sum over subspaces of the query's own
    quantization error (the duplicate shares the query's argmin codes,
    so nothing can score lower; other vectors may tie by landing in
    the same cells, which is PQ's resolution limit by design)."""
    import random as _r

    from map_reduce_for_dbpl_dataset_spark.operators.similarity import (
        _pq_codebook,
        pq_adc_topk,
    )

    rng = _r.Random(11)
    dim, n = 16, 60
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    rows.append((100, list(rows[0][1])))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # seeded book: the codeword vectors' subvectors (zero Lloyd rounds)
    book = _pq_codebook(df, "vec_id", "embedding", [10, 11, 12, 13], 4, iters=0)

    def run(k):
        return pq_adc_topk(
            corpus=df,
            queries=df.filter(F.col("vec_id") < 2),
            id_col="vec_id",
            vec_col="embedding",
            query_id_col="vec_id",
            codebook=book,
            n_sub=4,
            k=k,
        ).collect()

    per_q = {}
    for r in run(3):
        assert r.neighbor_id != r.query_id
        assert r.adc_d2 >= 0
        per_q.setdefault(r.query_id, []).append(r)
    assert {q: len(v) for q, v in per_q.items()} == {0: 3, 1: 3}

    # full ranking: the duplicate's ADC == the global minimum for q0,
    # and == the theoretical floor Σ_m min_code d2(q0_sub, codeword)
    full = {(r.query_id, r.neighbor_id): r.adc_d2 for r in run(100)}
    q0 = {nid: d for (qid, nid), d in full.items() if qid == 0}
    quant = [int(__import__("math").floor(x * 1000)) for x in rows[0][1]]
    books = {
        m: [
            [int(__import__("math").floor(x * 1000)) for x in rows[cw][1]][m * 4 : m * 4 + 4]
            for cw in (10, 11, 12, 13)
        ]
        for m in range(4)
    }
    floor_adc = sum(
        min(
            sum((a - b) ** 2 for a, b in zip(quant[m * 4 : m * 4 + 4], bq))
            for bq in books[m]
        )
        for m in range(4)
    )
    assert q0[100] == min(q0.values()) == floor_adc


def test_point_in_interval_join_matches_naive(spark):
    """Binned containment join == naive cross-join filter, including
    intervals LONGER than the bin width (multi-bin replication) and
    zero-length intervals; every pair exactly once."""
    import datetime as _dt
    import random as _r

    from map_reduce_for_dbpl_dataset_spark.operators.intervals import (
        point_in_interval_join,
    )

    rng = _r.Random(3)
    base = _dt.date(2020, 1, 1)
    pts = [(i, base + _dt.timedelta(days=rng.randrange(0, 200))) for i in range(120)]
    ivs = []
    for j in range(40):
        s = base + _dt.timedelta(days=rng.randrange(0, 200))
        ln = rng.choice([0, 3, 14, 45])  # up to 3x the bin width
        ivs.append((j, s, s + _dt.timedelta(days=ln)))
    pdf = spark.createDataFrame(pts, "pid long, d date")
    idf = spark.createDataFrame(ivs, "iid long, s date, e date")
    got = {
        (r.pid, r.iid)
        for r in point_in_interval_join(pdf, idf, "d", "s", "e", bin_days=14).collect()
    }
    want = {(p, j) for p, d in pts for j, s, e in ivs if s <= d <= e}
    assert got == want
