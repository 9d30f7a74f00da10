"""Shared scalar expressions for the DBLP query family.

These are the two sub-operators the reference duplicates across its
mappers (SURVEY.md §2.1 "shared sub-operators"), expressed once as
Catalyst column expressions so they stay inside whole-stage codegen —
no Python executes per row. Both read the publications table's own
column names (sources/parquet.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NO_VENUE = "No venue available"


def _nonempty(c: Column) -> Column:
    """NULL-out empty strings so coalesce() can fall through, mirroring
    the reference's `if (x.text == "") fallback` checks."""
    return F.nullif(F.coalesce(c, F.lit("")), F.lit(""))


def venue_expr() -> Column:
    """Venue derivation — the 6-arm dispatch duplicated in three mappers
    of the reference (Homework2.scala:42-51, :239-248, :296-305):

      article                  -> journal, else booktitle
      inproceedings|incollection -> booktitle
      book|proceedings         -> publisher, else booktitle
      phdthesis|mastersthesis  -> school
      www                      -> first 3 '/'-segments of the key
                                  (Homework2.scala:49)
      otherwise                -> "No venue available" (Homework2.scala:50)

    Missing branches yield '' (the reference emits the empty string and
    filters it downstream, Homework2.scala:136).
    """
    kind, journal, booktitle = F.col("kind"), F.col("journal"), F.col("booktitle")
    publisher, school, key = F.col("publisher"), F.col("school"), F.col("key")
    www_venue = F.concat_ws("/", F.slice(F.split(key, "/"), 1, 3))
    return (
        F.when(kind == "article", F.coalesce(_nonempty(journal), _nonempty(booktitle)))
        .when(kind.isin("inproceedings", "incollection"), _nonempty(booktitle))
        .when(
            kind.isin("book", "proceedings"),
            F.coalesce(_nonempty(publisher), _nonempty(booktitle)),
        )
        .when(kind.isin("phdthesis", "mastersthesis"), _nonempty(school))
        .when(kind == "www", www_venue)
        .otherwise(F.lit(NO_VENUE))
    )


def authors_or_editors() -> Column:
    """Author/editor coalesce (Homework2.scala:53-57, repeated at six
    sites): the author list, falling back to editors when empty.
    Returns array<string>; empty array when both are absent."""
    a = F.coalesce(F.col("authors"), F.array().cast("array<string>"))
    e = F.coalesce(F.col("editors"), F.array().cast("array<string>"))
    return F.when(F.size(a) > 0, a).otherwise(e)
