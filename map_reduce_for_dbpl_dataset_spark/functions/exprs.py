"""Shared scalar expressions written as Spark SQL text.

The DBLP query family's two sub-operators are the ones the reference
duplicates across its mappers (SURVEY.md §2.1 "shared sub-operators"),
expressed once as Catalyst expressions so they stay inside whole-stage
codegen — no Python executes per row. Both read the publications
table's own column names (sources/parquet.py).

Each is written as Spark SQL text and parsed in one ``F.expr`` call.
Composing the same CASE from Column objects costs a Py4J round trip
per node, ~40 for the venue dispatch, paid every time a DBLP query is
built; the parsed expression is the same Catalyst tree, so the plans
do not change.  ``sql_hof`` applies the same rule to the higher-order
Column helpers of functions/text.py and functions/vectors.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NO_VENUE = "No venue available"

# nullif(coalesce(x, ''), '') NULLs out empty strings so coalesce() can
# fall through, mirroring the reference's `if (x.text == "") fallback`.
_VENUE_SQL = f"""
CASE
  WHEN kind = 'article' THEN coalesce(
    nullif(coalesce(journal, ''), ''), nullif(coalesce(booktitle, ''), ''))
  WHEN kind IN ('inproceedings', 'incollection') THEN nullif(coalesce(booktitle, ''), '')
  WHEN kind IN ('book', 'proceedings') THEN coalesce(
    nullif(coalesce(publisher, ''), ''), nullif(coalesce(booktitle, ''), ''))
  WHEN kind IN ('phdthesis', 'mastersthesis') THEN nullif(coalesce(school, ''), '')
  WHEN kind = 'www' THEN concat_ws('/', slice(split(key, '/'), 1, 3))
  ELSE '{NO_VENUE}'
END
"""

_AUTHORS_OR_EDITORS_SQL = """
CASE
  WHEN size(coalesce(authors, CAST(array() AS ARRAY<STRING>))) > 0
    THEN coalesce(authors, CAST(array() AS ARRAY<STRING>))
  ELSE coalesce(editors, CAST(array() AS ARRAY<STRING>))
END
"""


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

    An empty or absent field yields NULL where the reference emits the
    empty string; both are filtered downstream (Homework2.scala:136).
    """
    return F.expr(_VENUE_SQL)


def authors_or_editors() -> Column:
    """Author/editor coalesce (Homework2.scala:53-57, repeated at six
    sites): the author list, falling back to editors when empty.
    Returns array<string>; empty array when both are absent."""
    return F.expr(_AUTHORS_OR_EDITORS_SQL)


def sql_hof(name: str, *args: Column | str) -> Column:
    """The SQL function ``name`` over ``args``, where a str argument is
    SQL text — a lambda such as ``"x -> x + 1"`` or a literal — and a
    Column argument is passed as is.

    The same Catalyst tree as F.transform/F.aggregate/... with a Python
    lambda, which builds its lambda from Column objects: ~50 Py4J round
    trips for a one-line body, against one ``F.expr`` parse here.  When
    every argument is SQL text the whole call is one parse; a Column
    argument costs ``F.call_function`` plus a parse per text argument,
    ~10 round trips."""
    if all(isinstance(a, str) for a in args):
        return F.expr(f"{name}({', '.join(args)})")
    return F.call_function(
        name, *[F.expr(a) if isinstance(a, str) else a for a in args]
    )
