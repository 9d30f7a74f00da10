"""Parquet sources for the driver fixtures.

Replaces the reference's two-stage ingestion (whole-file XML DOM →
line-record text file, dblpXMLparser.scala:24-103; then per-record
re-parse in every mapper, Homework2.scala:39) with a columnar scan:
Spark's parquet reader gives partitioned parallel input, predicate
pushdown and column pruning for free — the things the reference
hand-rolls with 800 fixed splits and early mapper returns
(SURVEY.md §4).

Every table is read with its schema declared. Without one, Spark
infers the schema from the parquet footers with a Spark job, again
each time a query that reads the table is built: ~100 ms per read at
the fixture sizes, more than some queries spend executing. With the
schema declared, building a query launches no job. The declaration is
narrowed to the columns of one data file's footer, read in-process
with pyarrow: a declared column the file lacks is left out rather than
read as NULLs, so a query that uses it fails at analysis, naming the
column, as the inferred read did, and one that does not still runs. A
column of the wrong type fails inside Spark's parquet reader.
tests/test_declared_schemas.py pins each declaration to the schema
Spark infers from the fixture files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# The generated TPC-H-ish fixture tables (TESTDATA.md), each
# with the schema Spark infers from its files (timestamps written
# without a zone read as TIMESTAMP_NTZ).
FIXTURE_SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, "
        "c_mktsegment STRING"
    ),
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
        "p_size INT, p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
        "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    "events": (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    ),
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}
FIXTURE_TABLES = tuple(FIXTURE_SCHEMAS)

# DBLP-shaped fixture for the six reference queries (FIXTURES.md §A).
# Generated deterministically by fixtures/make_publications.py; the
# scale factor is irrelevant to these queries so one fixed file serves
# smoke/correctness/bench alike.
PUBLICATIONS_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "fixtures",
    "publications.parquet",
)

# The publications layout: one row per record, repeated XML fields as
# array<string>. sources/xml.py builds its projection from this list.
PUBLICATIONS_SCHEMA = (
    "key STRING, kind STRING, title STRING, authors ARRAY<STRING>, "
    "editors ARRAY<STRING>, year INT, journal STRING, booktitle STRING, "
    "publisher STRING, school STRING, pages STRING, ee ARRAY<STRING>, "
    "crossref STRING, mdate DATE, address STRING, volume STRING, number STRING, "
    "month STRING, url ARRAY<STRING>, cdrom STRING, cite ARRAY<STRING>, "
    "note STRING, isbn STRING, series STRING, chapter STRING, publnr STRING"
)


def ddl_columns(ddl: str) -> list[tuple[str, str]]:
    """(name, type) pairs of a flat DDL schema as written in this module
    (no type here contains ", ")."""
    return [tuple(field.split(" ", 1)) for field in ddl.split(", ")]


def _is_data_file(name: str) -> bool:
    """Files whose name starts with ``_`` or ``.`` (_SUCCESS, .crc) are
    not data."""
    return not name.startswith(("_", "."))


def _footer_schema(path: str):
    """The arrow schema of one data file of a parquet file or directory,
    read from its footer with pyarrow (no Spark job)."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        data = sorted(f for f in os.listdir(path) if _is_data_file(f))
        if not data:
            raise FileNotFoundError(f"{path}: no parquet data file")
        path = os.path.join(path, data[0])
    return pq.read_schema(path)


def data_file_stamps(path: str) -> tuple[tuple[str, int, int], ...]:
    """(name, mtime_ns, size) of every data file of a parquet file or
    directory, from one listing: a rewrite of the table changes it."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_mtime_ns, st.st_size),)
    with os.scandir(path) as entries:
        return tuple(
            sorted(
                (e.name, e.stat().st_mtime_ns, e.stat().st_size)
                for e in entries
                if _is_data_file(e.name)
            )
        )


def _read_declared(spark: SparkSession, path: str, ddl: str, footer) -> DataFrame:
    """Read ``path`` with the declared ``ddl``, narrowed to the columns
    its ``footer`` has."""
    present = [f"{name} {type_}" for name, type_ in ddl_columns(ddl) if name in footer.names]
    return spark.read.schema(", ".join(present)).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table with its declared schema
    (``FIXTURE_SCHEMAS``). Filters and projections placed on the result
    still reach the scan (PushedFilters / ReadSchema in .explain)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    footer = _footer_schema(path)
    if name == "events":
        path = _nanos_normalized(path, footer)
    return _read_declared(spark, path, FIXTURE_SCHEMAS[name], footer)


def _nanos_normalized(path: str, schema) -> str:
    """Spark's parquet reader rejects INT64 TIMESTAMP(NANOS) columns
    (SPARK-40819 — no nanosecond TimestampType), and the driver's
    events fixture is written with pandas-default ns precision. This
    ingestion shim rewrites such files once per (path, mtime) into a
    /tmp cache with microsecond precision — the same truncation DuckDB
    applies when it reads NANOS parquet, so both engines see identical
    values. At production scale this normalization belongs in the
    ingest job (a one-line pyarrow cast per file batch); queries stay
    unchanged either way. ``schema`` is the file's arrow schema.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not any(
        isinstance(f.type, pa.TimestampType) and f.type.unit == "ns" for f in schema
    ):
        return path
    import hashlib

    st = os.stat(path)
    # md5, not hash(): Python string hashing is per-process randomized,
    # which would defeat cross-process cache reuse of the rewrite.
    key = f"{path}|{st.st_mtime_ns}|{st.st_size}".encode()
    cache = f"/tmp/mrdbpl_norm_{hashlib.md5(key).hexdigest()[:16]}.parquet"
    if not os.path.exists(cache):
        table = pq.read_table(path)
        fields = [
            pa.field(f.name, pa.timestamp("us"))
            if isinstance(f.type, pa.TimestampType) and f.type.unit == "ns"
            else f
            for f in schema
        ]
        tmp = cache + ".tmp"
        # safe=False: ns -> us truncation, matching DuckDB's own read of
        # NANOS parquet (verified identical on the fixture).
        pq.write_table(
            table.cast(pa.schema(fields), safe=False), tmp, compression="snappy"
        )
        os.replace(tmp, cache)
    return cache


def publications(
    spark: SparkSession, path: str | None = None, sf_dir: str | None = None
) -> DataFrame:
    """The DBLP-shaped publications table (FIXTURES.md §A): one row per
    publication record — the reference's one-XML-element-per-line model
    (dblpXMLparser.scala:96) flattened to typed columns, with repeated
    XML fields as array<string>.

    If ``sf_dir`` contains its own ``publications.parquet`` (the
    inflated scaling fixtures from tools/make_scale_fixtures.py do),
    that file wins — so the bench's second scale point actually scales
    the DBLP queries. The driver sf dirs have no such file and fall
    through to the committed fixture, unchanged.

    Read with the declared ``PUBLICATIONS_SCHEMA``, narrowed to the
    file's columns as ``load_table`` does."""
    if path is None and sf_dir is not None:
        scaled = os.path.join(sf_dir, "publications.parquet")
        if os.path.exists(scaled):
            path = scaled
    path = path or PUBLICATIONS_PATH
    return _read_declared(spark, path, PUBLICATIONS_SCHEMA, _footer_schema(path))
