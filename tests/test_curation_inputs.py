"""The llm_curation operators and the nearest-neighbour operators on
inputs the fixtures never produce.

``llm_text_stats``, the exact Jaccard join and the queries built on it
(``llm_ngram_jaccard``, ``llm_ngram_jaccard_prefix``,
``llm_dedup_clusters``, ``llm_leakage_free_split``), every caller of
operators/similarity.py's one quantized-cosine scorer
(``llm_ann_brute_topk``, ``llm_hard_negatives``, ``llm_ann_lsh_topk``,
``llm_ann_ivf``) and the users of operators/kmeans.py's assignment and
centroid update (``llm_kmeans``, ``llm_ann_pq_trained``,
``llm_embed_classifier``, ``llm_semdedup``) run against their DuckDB
oracles on
- an empty ``documents``/``embeddings`` pair;
- the suite's tables plus one row whose ``text`` and ``embedding`` are
  NULL;
- a ``documents.parquet`` rewritten in place between two runs of one
  session (the persisted shingle table and the prefix index over it
  must follow the new file).
Each case matches its oracle in row count, columns and
``tools/check.py``'s order-insensitive digest.  The empty pair also
runs ``llm_semdedup_scaled``, which reads its k-means seeds from the
data and so gets an empty seed list.  One session sweeping two sf dirs
keeps one documents snapshot at a time.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark import StorageLevel

from map_reduce_for_dbpl_dataset_spark import queries as reg
from map_reduce_for_dbpl_dataset_spark.queries.llm import _docs_shingled

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
from check import canon_pandas, digest_pandas  # noqa: E402

OPS = (
    "llm_text_stats",
    "llm_ngram_jaccard",
    "llm_ngram_jaccard_prefix",
    "llm_dedup_clusters",
    "llm_leakage_free_split",
    "llm_ann_brute_topk",
    "llm_hard_negatives",
    "llm_ann_lsh_topk",
    "llm_ann_ivf",
    "llm_kmeans",
    "llm_ann_pq_trained",
    "llm_embed_classifier",
    "llm_semdedup",
)
TABLES = ("documents", "embeddings")


def _write_tables(sf: Path, tables: dict[str, pa.Table]) -> str:
    sf.mkdir(exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, sf / f"{name}.parquet")
    return str(sf)


def _suite_tables(sf_dir: str) -> dict[str, pa.Table]:
    return {t: pq.read_table(os.path.join(sf_dir, f"{t}.parquet")) for t in TABLES}


def _assert_matches_oracle(spark, sf: str, name: str) -> None:
    got = reg.all_queries()[name](spark, sf).toPandas()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    want = con.sql(reg.all_oracle_sql()[name]).df()
    con.close()
    assert len(got) == len(want), name
    assert sorted(got.columns) == sorted(want.columns), name
    assert digest_pandas(canon_pandas(got)) == digest_pandas(canon_pandas(want)), name


@pytest.mark.parametrize("name", (*OPS, "llm_semdedup_scaled"))
def test_empty_tables_match_oracle(spark, sf_dir, tmp_path, name):
    empty = {t: table.slice(0, 0) for t, table in _suite_tables(sf_dir).items()}
    _assert_matches_oracle(spark, _write_tables(tmp_path / "empty", empty), name)


@pytest.mark.parametrize("name", OPS)
def test_null_text_and_embedding_row_matches_oracle(spark, sf_dir, tmp_path, name):
    """A NULL text shingles to the empty set and scores NULL text
    statistics; a NULL embedding scores a NULL cosine, which ranks
    after every real neighbour.  The NULL vector's id is below
    N_QUERY_VECS, so it is also a query: its neighbours all score NULL
    and rank by id.  k-means assigns a NULL vector the lowest cluster
    and adds it to no centroid."""
    tables = _suite_tables(sf_dir)
    docs, emb = tables["documents"], tables["embeddings"]
    null_doc = {c: [None] for c in docs.column_names}
    null_doc["doc_id"] = [max(docs["doc_id"].to_pylist()) + 1]
    null_vec = {c: [None] for c in emb.column_names}
    null_vec["vec_id"] = [-1]
    tables["documents"] = pa.concat_tables(
        [docs, pa.Table.from_pydict(null_doc, schema=docs.schema)]
    )
    tables["embeddings"] = pa.concat_tables(
        [emb, pa.Table.from_pydict(null_vec, schema=emb.schema)]
    )
    _assert_matches_oracle(spark, _write_tables(tmp_path / "nulls", tables), name)


def test_rewritten_documents_are_reshingled(spark, sf_dir, tmp_path):
    """The persisted shingle table and its prefix index are keyed by
    the documents file's name, mtime and size: rewriting the file
    between two runs of one session re-derives both instead of serving
    the old ones, for the Jaccard join and for the clusters built on
    it."""
    docs = _suite_tables(sf_dir)["documents"]
    sf = _write_tables(tmp_path / "rewrite", _suite_tables(sf_dir))
    _assert_matches_oracle(spark, sf, "llm_ngram_jaccard_prefix")

    # documents 1-4 become copies of document 0: ten exact pairs among 0-4
    texts = docs["text"].to_pylist()
    texts[1:5] = [texts[0]] * 4
    copies = docs.set_column(docs.column_names.index("text"), "text", pa.array(texts))
    pq.write_table(copies, os.path.join(sf, "documents.parquet"))
    _assert_matches_oracle(spark, sf, "llm_ngram_jaccard_prefix")
    _assert_matches_oracle(spark, sf, "llm_dedup_clusters")


def test_one_documents_snapshot_per_session(spark, sf_dir, tmp_path):
    """Alternating two sf dirs in one session: each switch evicts the
    other dir's snapshot, releasing its shingle table and its prefix
    index, so the persisted RDDs do not grow from one round to the
    next."""
    jsc = spark.sparkContext._jsc
    join = reg.all_queries()["llm_ngram_jaccard_prefix"]
    sfs = [_write_tables(tmp_path / "copy", _suite_tables(sf_dir)), sf_dir]
    persisted, previous = [], None
    for _ in range(2):
        for sf in sfs:
            join(spark, sf).write.format("noop").mode("overwrite").save()
            if previous is not None:
                assert previous.storageLevel == StorageLevel.NONE
            previous = _docs_shingled(spark, sf)
            assert previous.storageLevel != StorageLevel.NONE
        persisted.append(jsc.getPersistentRDDs().size())
    assert persisted[1] <= persisted[0], persisted
