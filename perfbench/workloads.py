"""The benchmark's workloads: which ops one pass runs.

- ``dblp_pipeline`` is the paper's own flow: parse the line-record XML
  corpus and write it to parquet, then run the reference's report
  queries on that parquet; each run's check also writes the reports as
  CSV, the reference's output format, and digests what was written.
  It is the only workload with XML parsing and sink writes, and it does
  no text-function or vector work, so it is the control where a text,
  dedup or vector change predicts no movement.
- ``llm_curation`` runs curation operators over seeded documents and
  embeddings.  It is bound by text functions, the prefix-filtered pair
  join and vector scoring, and touches no XML or sinks, so a text or
  dedup optimisation shows here.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Op:
    name: str
    # "ingest": parse the XML and write parquet, in every pass;
    # "report": a query timed through the noop sink whose check writes
    #   it as CSV and digests what was written;
    # "query": a query timed through the noop sink, checked in pandas.
    kind: str = "query"


WORKLOADS: dict[str, tuple[Op, ...]] = {
    "dblp_pipeline": (
        Op("xml_ingest", "ingest"),
        Op("dblp_q1_top_authors_per_venue", "report"),
        Op("dblp_q2_consecutive_years", "report"),
        Op("dblp_q3_solo_titles_per_venue", "report"),
        Op("dblp_q4_max_authors_per_venue", "report"),
        Op("dblp_q5_top_coauthor_volume", "report"),
        Op("dblp_q6_solo_only_authors", "report"),
    ),
    "llm_curation": (
        Op("llm_text_stats"),
        Op("llm_ngram_jaccard_prefix"),
        Op("llm_ann_brute_topk"),
    ),
}
