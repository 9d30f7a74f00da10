"""The six reference queries (SURVEY.md §2.1), Spark-first.

Each query is a composition of generic operators over the DBLP-shaped
`publications` fixture (FIXTURES.md §A), implementing the *intended*
semantics; the reference's literal deviations (single-reducer top-k,
duplicate-year streak reset, per-mapper argmax, dead top-100) are
documented at each site and covered by golden tests.

Every query gets a DuckDB oracle over the same parquet file so the
driver's differential check covers the DBLP family, not just the
TPC-H fixtures. Tie-breaks are made explicit everywhere (count desc,
name asc — the reference's only deliberate ordering, Q5's stable sort
at Homework2.scala:436-439) so value hashes are stable.

Scale notes: every plan here is shuffle-minimal —
- one exchange for the groupBy, reusing it for the window where the
  keys prefix-match (Q1's groupBy(venue,author) partitioning is
  compatible with the window's partitionBy(venue));
- per-group top-k uses WindowGroupLimit (Spark >= 3.5) so each
  partition keeps only k rows before the exchange;
- global top-k compiles to TakeOrderedAndProject (k-heap per
  partition, driver merges k*P rows);
- explode(authors) multiplies rows ~3x but is a narrow op; the
  Zipfian venue/author skew is handled by AQE skew-split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exprs import authors_or_editors, venue_expr
from ..operators.argmax import argmax_per_group
from ..operators.runs import longest_consecutive_run
from ..operators.topk import top_k_global, top_k_per_group
from ..sources.parquet import (
    PUBLICATIONS_PATH,
    PUBLICATIONS_SCHEMA,
    ddl_columns,
    publications,
)


def _pubs_with_venue(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """publications + derived venue + coalesced author list.

    The projection is narrow (no shuffle); Catalyst prunes unread
    columns out of the parquet scan. sf_dir is honored only when it
    carries its own publications.parquet (the inflated scaling
    fixtures); the driver sf dirs fall through to the committed
    fixture.
    """
    return publications(spark, sf_dir=sf_dir).withColumns(
        {"venue": venue_expr(), "aus": authors_or_editors()}
    )


def _pub_authors(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """(pub, a): one row per distinct non-empty author of each
    publication — the vertex/edge source of the co-author graph."""
    return (
        _pubs_with_venue(spark, sf_dir)
        .select(F.col("key").alias("pub"), F.explode(F.array_distinct("aus")).alias("a"))
        .filter(F.col("a") != "")
    )


# ---------------------------------------------------------------------------
# SQL prelude shared by the oracles: venue derivation + author coalesce,
# mirroring functions/exprs.py exactly (NULL venue where no branch hits,
# filtered downstream like the reference's empty-string filters).
# ---------------------------------------------------------------------------
_PUBS_CTE = f"""
pubs AS (
  SELECT
    *,
    CASE
      WHEN kind = 'article' THEN coalesce(nullif(journal, ''), nullif(booktitle, ''))
      WHEN kind IN ('inproceedings', 'incollection') THEN nullif(booktitle, '')
      WHEN kind IN ('book', 'proceedings') THEN coalesce(nullif(publisher, ''), nullif(booktitle, ''))
      WHEN kind IN ('phdthesis', 'mastersthesis') THEN nullif(school, '')
      WHEN kind = 'www' THEN array_to_string(list_slice(string_split(key, '/'), 1, 3), '/')
      ELSE 'No venue available'
    END AS venue,
    CASE
      WHEN len(coalesce(authors, [])) > 0 THEN authors
      ELSE coalesce(editors, [])
    END AS aus
  FROM read_parquet('{PUBLICATIONS_PATH}')
)
"""


# --- Q1: top-10 most-published authors per venue -----------------------------
def q1_top_authors_per_venue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference: MapTask1/ReduceTask1 (Homework2.scala:30-144): emit
    ("venue,author", 1), sum, keep per-venue top-10 in a min-eviction
    map that is only correct with ONE reducer (:70-71). Here: count per
    (venue, author) then window rank <= 10 — correct at any
    parallelism; composite string keys become grouping columns.
    """
    counts = (
        _pubs_with_venue(spark, sf_dir)
        .select("venue", F.explode("aus").alias("author"))
        .filter((F.col("venue") != "") & (F.col("author") != ""))
        .groupBy("venue", "author")
        .agg(F.count(F.lit(1)).alias("n_pubs"))
    )
    return top_k_per_group(
        counts,
        ["venue"],
        [F.desc("n_pubs"), F.asc("author")],
        k=10,
    )


Q1_SQL = f"""
WITH {_PUBS_CTE},
ex AS (
  SELECT venue, unnest(aus) AS author
  FROM pubs WHERE venue IS NOT NULL AND venue <> ''
),
counts AS (
  SELECT venue, author, count(*) AS n_pubs
  FROM ex WHERE author <> '' GROUP BY venue, author
),
ranked AS (
  SELECT venue, author, n_pubs,
         row_number() OVER (PARTITION BY venue ORDER BY n_pubs DESC, author ASC) AS rn
  FROM counts
)
SELECT venue, author, n_pubs FROM ranked WHERE rn <= 10
"""


# --- Q2: authors with >= 10 consecutive publication years --------------------
def q2_consecutive_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference: MapTask2/ReduceTask2 (Homework2.scala:146-228):
    collect an author's years and scan for the longest prev+1 run.
    Literal bug: duplicate years RESET the streak (:217-221) — two
    papers in 2005 inside 1990-2020 truncate the run. Intended
    semantics (implemented): longest run over DISTINCT years, as a
    gaps-and-islands window plan (operators/runs.py) — no per-author
    collect, state is one counter per (author, island).
    """
    pubs = (
        _pubs_with_venue(spark, sf_dir)
        .filter(F.col("year").isNotNull())
        .select(F.explode("aus").alias("author"), "year")
        .filter(F.col("author") != "")
    )
    runs = longest_consecutive_run(pubs, ["author"], "year", out_col="longest_run")
    return runs.filter(F.col("longest_run") >= 10)


Q2_SQL = f"""
WITH {_PUBS_CTE},
ex AS (
  SELECT DISTINCT unnest(aus) AS author, year
  FROM pubs WHERE year IS NOT NULL
),
islands AS (
  SELECT author, year,
         year - row_number() OVER (PARTITION BY author ORDER BY year) AS island
  FROM ex WHERE author <> ''
),
runs AS (
  SELECT author, island, count(*) AS run_len
  FROM islands GROUP BY author, island
)
SELECT author, max(run_len) AS longest_run
FROM runs GROUP BY author HAVING max(run_len) >= 10
"""


# --- Q2 literal variant: the duplicate-year reset bug, reproduced -------------
def q2_literal_dupreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's LITERAL Q2 semantics, preserved as a checked
    artifact: duplicate years RESET the streak (Homework2.scala:217-221
    — `sorted(i) == sorted(i-1) + 1` is false for equal years, so two
    papers in one year truncate a decade-long run). Same
    gaps-and-islands plan as the intended query but WITHOUT the
    distinct: equal years land in different islands exactly as the
    reference's scan resets its counter. Threshold lowered to 5 so the
    deviation is visible on the fixture (rows differ from
    dblp_q2_consecutive_years)."""
    pubs = (
        _pubs_with_venue(spark, sf_dir)
        .filter(F.col("year").isNotNull())
        .select(F.explode("aus").alias("author"), "year")
        .filter(F.col("author") != "")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("author").orderBy("year")
    runs = (
        pubs.withColumn("grp", F.col("year") - F.row_number().over(w))
        .groupBy("author", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
        .groupBy("author")
        .agg(F.max("run_len").alias("longest_run"))
    )
    return runs.filter(F.col("longest_run") >= 5)


Q2_LITERAL_SQL = f"""
WITH {_PUBS_CTE},
ex AS (
  SELECT unnest(aus) AS author, year
  FROM pubs WHERE year IS NOT NULL
),
islands AS (
  SELECT author, year,
         year - row_number() OVER (PARTITION BY author ORDER BY year) AS island
  FROM ex WHERE author <> ''
),
runs AS (
  SELECT author, island, count(*) AS run_len
  FROM islands GROUP BY author, island
)
SELECT author, max(run_len) AS longest_run
FROM runs GROUP BY author HAVING max(run_len) >= 5
"""


# --- Q5 literal variant: the dead top-100 (emits ALL authors) -----------------
def q5_literal_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's LITERAL Q5: its top-100 eviction map is dead
    code (guard at Homework2.scala:412 is always false), so every
    author is emitted, sorted (volume desc, author asc by the stable
    double sort :436-443). Preserved here as the no-limit variant of
    the intended query."""
    weighted = (
        _pubs_with_venue(spark, sf_dir)
        .filter(F.size("aus") > 0)
        .select(F.explode("aus").alias("author"), F.size("aus").alias("w"))
        .filter(F.col("author") != "")
        .groupBy("author")
        .agg(F.sum("w").alias("coauthor_volume"))
    )
    return weighted.orderBy(F.desc("coauthor_volume"), F.asc("author"))


Q5_LITERAL_SQL = f"""
WITH {_PUBS_CTE},
ex AS (
  SELECT unnest(aus) AS author, len(aus) AS w
  FROM pubs WHERE len(aus) > 0
)
SELECT author, sum(w)::BIGINT AS coauthor_volume
FROM ex WHERE author <> ''
GROUP BY author
ORDER BY coauthor_volume DESC, author ASC
"""


# --- Q3: per venue, titles of single-author publications ---------------------
def q3_solo_titles_per_venue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference: MapTask3/ReduceTask3 (Homework2.scala:230-282):
    emit (venue, title) iff exactly one author, reducer concatenates
    '|'-separated (with a stray leading '|', :274, dropped here).
    Concatenation order is shuffle-arrival in the reference; we sort
    titles first so the result is deterministic (SURVEY.md §7).
    """
    return (
        _pubs_with_venue(spark, sf_dir)
        .filter(
            (F.size("aus") == 1)
            & (F.col("venue") != "")
            & (F.col("title") != "")
        )
        .groupBy("venue")
        .agg(
            F.concat_ws("|", F.array_sort(F.collect_list("title"))).alias("titles")
        )
    )


Q3_SQL = f"""
WITH {_PUBS_CTE}
SELECT venue, string_agg(title, '|' ORDER BY title) AS titles
FROM pubs
WHERE len(aus) = 1 AND venue IS NOT NULL AND venue <> '' AND title <> ''
GROUP BY venue
"""


# --- Q4: per venue, publication(s) with the max number of authors ------------
def q4_max_authors_per_venue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference: MapTask4/ReduceTask4 (Homework2.scala:283-366): a
    map-side running argmax whose maxima are PER-MAPPER and never
    re-reduced (:321-339) — a superset of the true answer with >1
    split. Intended semantics (implemented): global per-venue max,
    all ties kept (operators/argmax.py). Catalyst still computes the
    window max with partial aggregation map-side.
    """
    pubs = (
        _pubs_with_venue(spark, sf_dir)
        .withColumn("n_authors", F.size("aus"))
        .filter(
            (F.col("venue") != "")
            & (F.col("title") != "")
            & (F.col("n_authors") > 0)
        )
        .select("venue", "title", "n_authors")
    )
    return argmax_per_group(pubs, ["venue"], "n_authors")


Q4_SQL = f"""
WITH {_PUBS_CTE},
base AS (
  SELECT venue, title, len(aus) AS n_authors
  FROM pubs
  WHERE venue IS NOT NULL AND venue <> '' AND title <> '' AND len(aus) > 0
),
mx AS (
  SELECT venue, title, n_authors,
         max(n_authors) OVER (PARTITION BY venue) AS venue_max
  FROM base
)
SELECT venue, title, n_authors FROM mx WHERE n_authors = venue_max
"""


# --- Q5: top-100 authors by co-author volume ---------------------------------
def q5_top_coauthor_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference: MapTask5/ReduceTask5 (Homework2.scala:368-445): per
    author of each record emit the record's FULL author count (self
    included — the documented simplification at :383); the top-100
    eviction map is dead code (:412-431, guard always false) so the
    reference emits ALL authors. Intended semantics (implemented):
    sum weights, order (volume desc, author asc — the reference's
    stable double sort :436-439), LIMIT 100. Compiles to
    TakeOrderedAndProject — no global sort.
    """
    weighted = (
        _pubs_with_venue(spark, sf_dir)
        .filter(F.size("aus") > 0)
        .select(
            F.explode("aus").alias("author"),
            F.size("aus").alias("w"),
        )
        .filter(F.col("author") != "")
        .groupBy("author")
        .agg(F.sum("w").alias("coauthor_volume"))
    )
    return top_k_global(
        weighted, [F.desc("coauthor_volume"), F.asc("author")], k=100
    )


Q5_SQL = f"""
WITH {_PUBS_CTE},
ex AS (
  SELECT unnest(aus) AS author, len(aus) AS w
  FROM pubs WHERE len(aus) > 0
)
SELECT author, sum(w)::BIGINT AS coauthor_volume
FROM ex WHERE author <> ''
GROUP BY author
ORDER BY coauthor_volume DESC, author ASC
LIMIT 100
"""


# --- Q6: top-100 authors who only ever publish solo --------------------------
def q6_solo_only_authors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference: MapTask6/ReduceTask6 (Homework2.scala:447-519):
    single-author record -> (author, 1); multi-author record ->
    (author, 0) poison marker; reducer aborts an author on any 0
    (:484-493) and emits a top-100 that again assumes one reducer
    (:478). Here the poison trick becomes a conditional aggregate:
    sum(solo) + max(has_co) in ONE pass — same single shuffle as the
    reference intended, correct at any parallelism.
    """
    per_author = (
        _pubs_with_venue(spark, sf_dir)
        .filter(F.size("aus") > 0)
        .select(
            F.explode("aus").alias("author"),
            F.size("aus").alias("n_authors"),
        )
        .filter(F.col("author") != "")
        .groupBy("author")
        .agg(
            F.sum(F.when(F.col("n_authors") == 1, 1).otherwise(0)).alias("n_solo"),
            F.max(F.when(F.col("n_authors") > 1, 1).otherwise(0)).alias("has_co"),
        )
    )
    solo_only = per_author.filter(F.col("has_co") == 0).select("author", "n_solo")
    return top_k_global(solo_only, [F.desc("n_solo"), F.asc("author")], k=100)


Q6_SQL = f"""
WITH {_PUBS_CTE},
ex AS (
  SELECT unnest(aus) AS author, len(aus) AS n_authors
  FROM pubs WHERE len(aus) > 0
),
per_author AS (
  SELECT author,
         sum(CASE WHEN n_authors = 1 THEN 1 ELSE 0 END)::BIGINT AS n_solo,
         max(CASE WHEN n_authors > 1 THEN 1 ELSE 0 END) AS has_co
  FROM ex WHERE author <> '' GROUP BY author
)
SELECT author, n_solo FROM per_author WHERE has_co = 0
ORDER BY n_solo DESC, author ASC
LIMIT 100
"""


# --- XML ingestion roundtrip --------------------------------------------------
def xml_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ingestion path, Spark-native and oracle-checked:
    parse the DBLP line-record file (fixtures/publications.xml, the
    format dblpXMLparser.scala:96 emits) with a distributed text scan +
    from_xml (replacing the per-mapper XML.loadString at
    Homework2.scala:39), yielding the typed publications schema. The
    oracle reads the parquet original with the same absent-field
    normalization (empty string -> NULL), so the hash match proves the
    XML path reproduces the table exactly.

    Output contract: array columns are serialized with chr(31) and the
    mdate date is rendered ISO on BOTH sides — the driver canonicalizes
    through pandas ``sort_values``, which crashes on list cells and
    renders date/datetime dtypes differently per engine. The
    array-returning form stays internal (sources/xml.py).
    """
    from ..sources.xml import publications_from_xml

    # Spark concat_ws renders an empty array as '' while DuckDB
    # array_to_string renders it NULL — nullif on both sides unifies.
    def out(name: str, type_: str) -> F.Column | str:
        if type_ == "ARRAY<STRING>":
            return F.nullif(F.concat_ws("\x1f", name), F.lit("")).alias(name)
        if type_ == "DATE":
            return F.col(name).cast("string").alias(name)
        return name

    return publications_from_xml(spark).select(
        *[out(name, type_) for name, type_ in ddl_columns(PUBLICATIONS_SCHEMA)]
    )


XML_INGEST_SQL = f"""
SELECT key, kind, nullif(title, '') AS title,
       nullif(array_to_string(coalesce(authors, []), chr(31)), '') AS authors,
       nullif(array_to_string(coalesce(editors, []), chr(31)), '') AS editors,
       year, nullif(journal, '') AS journal, nullif(booktitle, '') AS booktitle,
       nullif(publisher, '') AS publisher, nullif(school, '') AS school,
       nullif(pages, '') AS pages,
       nullif(array_to_string(coalesce(ee, []), chr(31)), '') AS ee,
       nullif(crossref, '') AS crossref,
       strftime(mdate, '%Y-%m-%d') AS mdate,
       nullif(address, '') AS address, nullif(volume, '') AS volume,
       nullif(number, '') AS number, nullif(month, '') AS month,
       nullif(array_to_string(coalesce(url, []), chr(31)), '') AS url,
       nullif(cdrom, '') AS cdrom,
       nullif(array_to_string(coalesce(cite, []), chr(31)), '') AS cite,
       nullif(note, '') AS note, nullif(isbn, '') AS isbn,
       nullif(series, '') AS series, nullif(chapter, '') AS chapter,
       nullif(publnr, '') AS publnr
FROM read_parquet('{PUBLICATIONS_PATH}')
"""


# --- co-author pairs (the self-join the reference avoids) --------------------
def coauthor_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True co-author pairs with co-publication counts — the self-join
    on exploded authors the reference sidesteps with its authorSeq
    .length weighting trick (Homework2.scala:383-386; SURVEY.md §2.2
    joins checklist names this the natural join demonstrator).

    Scale: the join key is the publication key (bounded fan-out per
    record — max authors/record, not authors/corpus), so the explode
    self-join is |records| * avg_authors^2, never quadratic in the
    author universe. Zipfian prolific authors skew the final groupBy,
    split by AQE.
    """
    ex = _pub_authors(spark, sf_dir)
    pairs = (
        ex.select(F.col("pub"), F.col("a").alias("author_a"))
        .join(ex.select(F.col("pub"), F.col("a").alias("author_b")), "pub")
        .filter(F.col("author_a") < F.col("author_b"))
        .groupBy("author_a", "author_b")
        .agg(F.count(F.lit(1)).alias("n_copubs"))
    )
    return pairs


COAUTHOR_PAIRS_SQL = f"""
WITH {_PUBS_CTE},
ex AS (
  SELECT key, unnest(list_distinct(aus)) AS a FROM pubs
)
SELECT l.a AS author_a, r.a AS author_b, count(*) AS n_copubs
FROM ex l JOIN ex r ON l.key = r.key AND l.a < r.a
WHERE l.a <> '' AND r.a <> ''
GROUP BY 1, 2
"""


# --- connected components over the co-author graph (iterative) ---------------
def _coauthor_graph(
    spark: SparkSession, sf_dir: str | None = None
) -> tuple[DataFrame, DataFrame]:
    ex = _pub_authors(spark, sf_dir)
    edges = (
        ex.select("pub", F.col("a").alias("src"))
        .join(ex.select("pub", F.col("a").alias("dst")), "pub")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    vertices = ex.select(F.col("a").alias("node"))
    return edges, vertices


def coauthor_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the co-author graph: (author, component
    = min author name reachable through co-authorship) — the engine's
    iterative-algorithm surface (no reference counterpart; the closest
    ancestry is PageRank-style MapReduce chains). The fixpoint is
    operators/graph.py connected_components_star: large-star/small-star
    rounds, O(log n) of them whatever the graph's diameter, each round
    one checksum action; edges and vertices both come from the
    publications' author lists, so every edge endpoint is a vertex.

    Registered as dblp_coauthor_components and
    dblp_coauthor_components_star. The oracle computes the same
    components with a DuckDB recursive CTE (transitive closure + min
    reachable label) — exact agreement, not rows-only."""
    from ..operators.graph import connected_components_star

    edges, vertices = _coauthor_graph(spark, sf_dir)
    labels = connected_components_star(edges, vertices)
    return labels.select(F.col("node").alias("author"), "component")


def coauthor_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-author triangle counts over the co-author graph via
    degree-ordered orientation (operators/graph.py:triangles — each
    triangle enumerated exactly once with hub-proof out-degrees, see
    the operator docstring for the m^(3/2) bound). The count of
    triangles an author sits in is the numerator of their local
    clustering coefficient — the standard community-density signal.

    The oracle enumerates the same triangles with plain id-ordering
    (e1.src = e2.src wedge + closing-edge join): orientation changes
    WHICH vertex apexes each triangle but not the triangle set, so
    the per-author hash match proves the degree-ordered plan is
    exactly lossless and duplicate-free."""
    from ..operators.graph import triangles

    edges, _ = _coauthor_graph(spark, sf_dir)
    tri = triangles(edges)
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("author"))
        .groupBy("author")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy("author")
    )


COAUTHOR_TRIANGLES_SQL = f"""
WITH {_PUBS_CTE},
ex AS (
  SELECT key, unnest(list_distinct(aus)) AS a FROM pubs
),
pe AS (SELECT key, a FROM ex WHERE a <> ''),
edges AS (
  SELECT DISTINCT l.a AS src, r.a AS dst
  FROM pe l JOIN pe r ON l.key = r.key AND l.a < r.a
),
tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM edges e1
  JOIN edges e2 ON e2.src = e1.src AND e1.dst < e2.dst
  JOIN edges e3 ON e3.src = e1.dst AND e3.dst = e2.dst
)
SELECT author, count(*) AS n_triangles
FROM (SELECT unnest([a, b, c]) AS author FROM tri)
GROUP BY author ORDER BY author
"""


COAUTHOR_COMPONENTS_SQL = f"""
WITH RECURSIVE {_PUBS_CTE},
ex AS (
  SELECT key, unnest(list_distinct(aus)) AS a FROM pubs
),
pe AS (SELECT key, a FROM ex WHERE a <> ''),
edges AS (
  SELECT DISTINCT l.a AS src, r.a AS dst
  FROM pe l JOIN pe r ON l.key = r.key AND l.a < r.a
),
bi AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
nodes AS (SELECT DISTINCT a AS node FROM pe),
reach(src, dst) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT r.src, bi.dst FROM reach r JOIN bi ON r.dst = bi.src
)
SELECT src AS author, min(dst) AS component FROM reach GROUP BY src
"""


# --- PageRank over the co-author graph (iterative, integer-exact) ------------
PR_SCALE = 10**12
PR_ITERS = 3


def pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the symmetric co-author graph —
    the canonical iterative-MapReduce chain (the reference's Hadoop
    lineage: rank mass flows along edges each superstep; SURVEY.md §4
    names this the PageRank-style ancestry of the coauthor components).

    All arithmetic is scaled-integer (`div`, not `/`) so the result
    is exactly order-independent and bit-identical to the oracle:
      contrib(u→v) = r(u) div deg(u)
      r'(v) = (15·base) div 100 + (85·Σ contrib) div 100
    with base = SCALE div |V|. Every node of the symmetric graph has
    in-degree = out-degree ≥ 1, so no dangling-mass term is needed.

    Scale: the loop-invariant (edge ⋈ degree) table is persisted once;
    each of the 3 iterations is one shuffle-join on src plus one
    partial-aggregated groupBy on dst — the same two exchanges a
    Pregel superstep costs. Lineage stays 3 plans deep (no checkpoint
    needed at fixed small iteration counts; coauthor_components_star shows
    the localCheckpoint pattern for unbounded fixpoints)."""
    ex = _pub_authors(spark, sf_dir)
    bi = (
        ex.select("pub", F.col("a").alias("src"))
        .join(ex.select("pub", F.col("a").alias("dst")), "pub")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    deg = bi.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ew = bi.join(deg, "src").persist()
    n = deg.count()
    base = PR_SCALE // n
    teleport = (15 * base) // 100
    ranks = deg.select(F.col("src").alias("node"), F.lit(base).cast("long").alias("rank"))
    for _ in range(PR_ITERS):
        contribs = ew.join(ranks.withColumnRenamed("node", "src"), "src").select(
            F.col("dst").alias("node"), F.expr("rank div deg").alias("c")
        )
        ranks = contribs.groupBy("node").agg(F.sum("c").alias("s")).select(
            "node",
            (F.lit(teleport) + F.expr("(85 * s) div 100")).cast("long").alias("rank"),
        )
    return ranks.select(
        F.col("node").alias("author"), F.col("rank").alias("pr_scaled")
    ).orderBy("author")


def _pagerank_sql() -> str:
    iter_cte = """
r{next} AS (
  SELECT bi.dst AS node,
         (15::BIGINT * (SELECT base FROM b)) // 100
         + (85::BIGINT * sum(r.rank // d.deg)) // 100 AS rank
  FROM bi JOIN r{cur} r ON bi.src = r.node JOIN deg d ON bi.src = d.src
  GROUP BY bi.dst
)"""
    iters = ",".join(iter_cte.format(cur=i, next=i + 1) for i in range(PR_ITERS))
    return f"""
WITH {_PUBS_CTE},
ex AS (SELECT key, unnest(list_distinct(aus)) AS a FROM pubs),
pe AS (SELECT key, a FROM ex WHERE a <> ''),
bi AS (
  SELECT DISTINCT l.a AS src, r.a AS dst
  FROM pe l JOIN pe r ON l.key = r.key AND l.a <> r.a
),
deg AS (SELECT src, count(*) AS deg FROM bi GROUP BY src),
b AS (SELECT {PR_SCALE}::BIGINT // count(*) AS base FROM deg),
r0 AS (SELECT src AS node, (SELECT base FROM b) AS rank FROM deg),{iters}
SELECT node AS author, rank::BIGINT AS pr_scaled FROM r{PR_ITERS} ORDER BY author
"""


QUERIES = {
    "dblp_xml_ingest": xml_ingest,
    "dblp_pagerank": pagerank,
    "dblp_coauthor_pairs": coauthor_pairs,
    "dblp_coauthor_components": coauthor_components_star,
    "dblp_coauthor_components_star": coauthor_components_star,
    "dblp_coauthor_triangles": coauthor_triangles,
    "dblp_q1_top_authors_per_venue": q1_top_authors_per_venue,
    "dblp_q2_consecutive_years": q2_consecutive_years,
    "dblp_q2_literal_dupreset": q2_literal_dupreset,
    "dblp_q3_solo_titles_per_venue": q3_solo_titles_per_venue,
    "dblp_q4_max_authors_per_venue": q4_max_authors_per_venue,
    "dblp_q5_top_coauthor_volume": q5_top_coauthor_volume,
    "dblp_q5_literal_all": q5_literal_all,
    "dblp_q6_solo_only_authors": q6_solo_only_authors,
}

ORACLE_SQL = {
    "dblp_xml_ingest": XML_INGEST_SQL,
    "dblp_pagerank": _pagerank_sql(),
    "dblp_coauthor_pairs": COAUTHOR_PAIRS_SQL,
    "dblp_coauthor_components": COAUTHOR_COMPONENTS_SQL,
    "dblp_coauthor_components_star": COAUTHOR_COMPONENTS_SQL,
    "dblp_coauthor_triangles": COAUTHOR_TRIANGLES_SQL,
    "dblp_q1_top_authors_per_venue": Q1_SQL,
    "dblp_q2_consecutive_years": Q2_SQL,
    "dblp_q2_literal_dupreset": Q2_LITERAL_SQL,
    "dblp_q3_solo_titles_per_venue": Q3_SQL,
    "dblp_q4_max_authors_per_venue": Q4_SQL,
    "dblp_q5_top_coauthor_volume": Q5_SQL,
    "dblp_q5_literal_all": Q5_LITERAL_SQL,
    "dblp_q6_solo_only_authors": Q6_SQL,
}
