"""Declared parquet schemas (sources/parquet.py): each declaration equals
the schema Spark infers from the data, a declared column the file lacks
is absent rather than NULL, and building a query launches no Spark
job."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import StructType

from map_reduce_for_dbpl_dataset_spark import queries as registry
from map_reduce_for_dbpl_dataset_spark.sources.parquet import (
    FIXTURE_SCHEMAS,
    PUBLICATIONS_PATH,
    PUBLICATIONS_SCHEMA,
    _nanos_normalized,
    load_table,
    publications,
)
from map_reduce_for_dbpl_dataset_spark.sources.xml import publications_from_xml

BUILT_QUERIES = (
    "dblp_q1_top_authors_per_venue",
    "dblp_q2_consecutive_years",
    "dblp_q3_solo_titles_per_venue",
    "dblp_q4_max_authors_per_venue",
    "dblp_q5_top_coauthor_volume",
    "dblp_q6_solo_only_authors",
    "llm_text_stats",
    "llm_ann_brute_topk",
)


@pytest.mark.parametrize("table", sorted(FIXTURE_SCHEMAS))
def test_declared_schema_equals_inferred(spark, sf_dir, table):
    """In the test sf dir and its sibling sf0.01 (schema reads only)."""
    sf_dirs = [sf_dir]
    sibling = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if os.path.isdir(sibling) and sibling != sf_dir:
        sf_dirs.append(sibling)
    for sf in sf_dirs:
        path = os.path.join(sf, f"{table}.parquet")
        if table == "events":
            path = _nanos_normalized(path, pq.read_schema(path))
        inferred = spark.read.parquet(path).schema
        assert inferred == StructType.fromDDL(FIXTURE_SCHEMAS[table]), sf


def test_declared_publications_schema_equals_inferred(spark):
    declared = StructType.fromDDL(PUBLICATIONS_SCHEMA)
    assert spark.read.parquet(PUBLICATIONS_PATH).schema == declared


def test_xml_source_has_the_declared_publications_layout(spark):
    def layout(schema):  # simpleString carries no nullability
        return [(f.name, f.dataType.simpleString()) for f in schema.fields]

    assert layout(publications_from_xml(spark).schema) == layout(
        StructType.fromDDL(PUBLICATIONS_SCHEMA)
    )


def test_missing_declared_column_is_absent_not_null(spark, sf_dir, tmp_path):
    """A query that reads only the file's columns runs; one that uses a
    missing column fails at analysis, naming it."""
    table = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(table.drop(["lang", "n_chars"]), tmp_path / "documents.parquet")
    docs = load_table(spark, str(tmp_path), "documents")
    assert docs.columns == ["doc_id", "text", "source"]
    assert docs.select("doc_id", "text").count() == table.num_rows
    with pytest.raises(AnalysisException, match="UNRESOLVED_COLUMN.*`lang`"):
        docs.select("lang")


def test_footer_check_reads_a_spark_style_directory(spark, tmp_path):
    """Only data files are read for the footer: _SUCCESS and .crc files
    are skipped."""
    pubs = pq.read_table(PUBLICATIONS_PATH)
    out = tmp_path / "publications.parquet"
    out.mkdir()
    (out / "_SUCCESS").write_bytes(b"")
    (out / ".part-0.parquet.crc").write_bytes(b"\x00")
    pq.write_table(pubs, out / "part-0.parquet")
    assert publications(spark, str(out)).columns == pubs.column_names

    pq.write_table(pubs.drop(["mdate"]), out / "part-0.parquet")
    assert "mdate" not in publications(spark, str(out)).columns

    (out / "part-0.parquet").unlink()
    with pytest.raises(FileNotFoundError, match="no parquet data file"):
        publications(spark, str(out))


def test_mistyped_column_still_fails_in_the_reader(spark, sf_dir, tmp_path):
    table = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    as_text = pa.array([str(v) for v in table["doc_id"].to_pylist()], pa.string())
    pq.write_table(table.set_column(0, "doc_id", as_text), tmp_path / "documents.parquet")
    with pytest.raises(Exception, match="doc_id"):
        load_table(spark, str(tmp_path), "documents").collect()


def test_building_a_query_launches_no_spark_job(spark, sf_dir):
    """Without declared schemas every parquet read infers its schema
    with a Spark job at build time; built here, no query runs one."""
    sc = spark.sparkContext
    queries = registry.all_queries()
    builds = {name: (lambda name=name: queries[name](spark, sf_dir)) for name in BUILT_QUERIES}
    builds["publications_from_xml"] = lambda: publications_from_xml(spark)
    launched = {}
    for name, build in builds.items():
        group = f"build-{name}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        launched[name] = list(sc.statusTracker().getJobIdsForGroup(group))
    assert launched == {name: [] for name in builds}
