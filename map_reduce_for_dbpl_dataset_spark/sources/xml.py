"""DBLP line-record XML source.

The reference ingests DBLP in two stages: whole-file DOM load split
into 800 chunks across 8 threads emitting one trimmed XML element per
line (dblpXMLparser.scala:24-103), then EVERY mapper re-parses its
line with ``XML.loadString`` (Homework2.scala:39,155,236,293,374,455).

Spark-native replacement: ``spark.read.text`` gives a partitioned
distributed scan of the line-record file (input splits replace the
fixed 800-chunk thread pool), and ``from_xml`` parses each record
ONCE into a typed struct inside codegen — repeated elements become
array<string> columns, attributes become ``_key``/``_mdate`` fields.
Downstream queries then run on columns, never re-parsing.

At 100 TB: text scan splits by spark.sql.files.maxPartitionBytes;
from_xml is a narrow per-row expression, so ingestion scales linearly
with executors and the parsed result should be written to parquet
once (partitioned by kind/year) rather than re-parsed per query —
``publications_from_xml`` IS that one-time parse.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .parquet import PUBLICATIONS_SCHEMA, ddl_columns

# Content model per dblp.dtd:32-46: record kind = element name, fields
# optional and repeatable; key/mdate are attributes. The FULL %field;
# set (dblp.dtd:36, author..publnr) is carried: author/editor/ee/url/
# cite as array<string> (commonly repeated in real DBLP), the rest as
# scalar strings.
PUB_XML_SCHEMA = (
    "author array<string>, editor array<string>, title string, year int, "
    "journal string, booktitle string, publisher string, school string, "
    "pages string, ee array<string>, crossref string, "
    "address string, volume string, number string, month string, "
    "url array<string>, cdrom string, cite array<string>, note string, "
    "isbn string, series string, chapter string, publnr string, "
    "_key string, _mdate string"
)

PUBLICATIONS_XML_PATH = os.path.join(
    os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ),
    "fixtures",
    "publications.xml",
)


# publications column -> from_xml field, where the names differ.
_XML_FIELD = {"key": "_key", "authors": "author", "editors": "editor", "mdate": "_mdate"}


def _publication_column(name: str, type_: str) -> str:
    """SQL for one publications column over the parsed record ``r``:
    absent repeated fields become empty arrays, mdate a DATE."""
    if name == "kind":
        return "kind"
    field = f"r.{_XML_FIELD.get(name, name)}"
    if type_ == "ARRAY<STRING>":
        field = f"coalesce({field}, CAST(array() AS ARRAY<STRING>))"
    elif type_ == "DATE":
        field = f"to_date({field})"
    return f"{field} AS `{name}`"


_PUBLICATION_COLUMNS = [
    _publication_column(name, type_) for name, type_ in ddl_columns(PUBLICATIONS_SCHEMA)
]


def publications_from_xml(
    spark: SparkSession, path: str | None = None
) -> DataFrame:
    """Parse DBLP line records into the publications schema.

    Column-for-column the shape of ``sources.parquet.publications``
    (``PUBLICATIONS_SCHEMA``): absent XML fields surface as NULL
    (strings) / empty arrays. The projection is one ``selectExpr``.
    """
    lines = spark.read.text(path or PUBLICATIONS_XML_PATH)
    rec = lines.select(
        F.regexp_extract("value", r"^<([a-z]+)[ >]", 1).alias("kind"),
        F.from_xml("value", PUB_XML_SCHEMA).alias("r"),
    )
    return rec.selectExpr(*_PUBLICATION_COLUMNS)
