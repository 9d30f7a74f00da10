"""Per-layer probes for the traced run.

Each probe calls one public function of an engine module directly,
from the benchmark, on the seed's generated inputs of the workload
that owns that code path, and times a full execution of the result
through the noop sink (or a real write for the sources layer).  Every
traced run executes every probe, so each traced run reports the same
per-layer metric names; the owning workload is recorded beside each.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from map_reduce_for_dbpl_dataset_spark.functions.exprs import authors_or_editors, venue_expr
from map_reduce_for_dbpl_dataset_spark.functions.text import fingerprint, tokens, word_shingles
from map_reduce_for_dbpl_dataset_spark.functions.vectors import quantize
from map_reduce_for_dbpl_dataset_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs_prefix,
)
from map_reduce_for_dbpl_dataset_spark.operators.global_rank import global_row_number
from map_reduce_for_dbpl_dataset_spark.operators.graph import connected_components_star
from map_reduce_for_dbpl_dataset_spark.operators.kmeans import kmeans_train
from map_reduce_for_dbpl_dataset_spark.operators.runs import longest_consecutive_run
from map_reduce_for_dbpl_dataset_spark.operators.similarity import brute_force_topk, semdedup
from map_reduce_for_dbpl_dataset_spark.operators.topk import top_k_per_group
from map_reduce_for_dbpl_dataset_spark.queries.dblp import q1_top_authors_per_venue
from map_reduce_for_dbpl_dataset_spark.queries.llm import N_QUERY_VECS
from map_reduce_for_dbpl_dataset_spark.queries.pipeline import (
    KMEANS_INIT_IDS,
    KMEANS_ITERS,
    SEMDEDUP_CENTROID_IDS,
    SEMDEDUP_THRESHOLD,
)
from map_reduce_for_dbpl_dataset_spark.sources.parquet import load_table, publications
from map_reduce_for_dbpl_dataset_spark.sources.sinks import write_csv
from map_reduce_for_dbpl_dataset_spark.sources.xml import publications_from_xml

OWNER = {"sources": "dblp_pipeline", "functions.text": "llm_curation",
         "functions.vectors": "llm_curation", "functions.exprs": "dblp_pipeline",
         "operators.dedup": "llm_curation", "operators.similarity": "llm_curation",
         "operators.kmeans": "llm_curation", "operators.graph": "dblp_pipeline",
         "operators.topk": "dblp_pipeline", "operators.runs": "dblp_pipeline",
         "operators.global_rank": "dblp_pipeline"}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _bytes_under(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _dirs, files in os.walk(path) for f in files)


def run_probes(spark, tracer, inputs: dict[str, str], work_dir: str,
               own_tables: list[tuple[str, str]]) -> dict[str, float]:
    """Run every probe once; return ``{metric: value}``.

    ``inputs`` maps workload -> generated input dir; ``own_tables``
    lists the running workload's (input dir, table) pairs for the bare
    parquet scan."""
    out: dict[str, float] = {}

    def timed(metric: str, layer: str, action) -> None:
        with tracer.span(metric, layer.split(".")[0]):
            t0 = time.perf_counter()
            action()
            out[metric] = time.perf_counter() - t0

    dblp, llm = inputs["dblp_pipeline"], inputs["llm_curation"]
    xml = os.path.join(dblp, "publications.xml")
    sf = os.path.join(work_dir, "probe_sf")
    pub_path = os.path.join(sf, "publications.parquet")
    csv_path = os.path.join(work_dir, "probe_csv")

    # sources
    timed("sources.xml_parse_s", "sources", lambda: _noop(publications_from_xml(spark, xml)))
    timed("sources.parquet_write_s", "sources",
          lambda: publications_from_xml(spark, xml).write.mode("overwrite").parquet(pub_path))
    timed("sources.csv_write_s", "sources",
          lambda: write_csv(q1_top_authors_per_venue(spark, sf), csv_path))
    out["sources.bytes_written"] = _bytes_under(pub_path) + _bytes_under(csv_path)
    timed("sources.parquet_scan_s", "sources", lambda: [
        _noop(spark.read.parquet(os.path.join(d, f"{t}.parquet"))) for d, t in own_tables])

    # functions: projection-only passes over the owner's input
    docs = load_table(spark, llm, "documents")
    emb = load_table(spark, llm, "embeddings")
    pubs = publications(spark, sf_dir=sf)
    timed("functions.text.tokens_s", "functions",
          lambda: _noop(docs.select(tokens(F.col("text")).alias("t"))))
    toks = docs.select("doc_id", tokens(F.col("text")).alias("_t"))
    timed("functions.text.word_shingles_s", "functions",
          lambda: _noop(toks.select(word_shingles(F.col("_t"), 3).alias("s"))))
    timed("functions.text.fingerprint_s", "functions",
          lambda: _noop(docs.select(fingerprint(F.col("text")).alias("f"))))
    timed("functions.vectors.quantize_s", "functions",
          lambda: _noop(emb.select(quantize(F.col("embedding")).alias("q"))))
    timed("functions.exprs.venue_s", "functions",
          lambda: _noop(pubs.select(venue_expr().alias("venue"))))

    # operators
    shingled = toks.select("doc_id", word_shingles(F.col("_t"), 3).alias("shingles")).persist()
    shingled.count()
    sigs = minhash_signatures(shingled, "doc_id", "shingles")
    timed("operators.dedup.minhash_signatures_s", "operators", lambda: _noop(sigs))
    with tracer.span("operators.dedup.pair_counts", "operators"):
        out["operators.dedup.candidate_pairs"] = lsh_candidate_pairs(sigs, "doc_id").count()
        out["operators.dedup.verified_pairs"] = minhash_lsh_pairs(
            shingled, "doc_id", "shingles", threshold=0.8).count()
    timed("operators.dedup.jaccard_prefix_s", "operators", lambda: _noop(
        ngram_jaccard_pairs_prefix(shingled, "doc_id", "shingles", threshold=0.8)))
    shingled.unpersist()
    vecs = emb.select("vec_id", "embedding")
    timed("operators.similarity.semdedup_s", "operators", lambda: _noop(semdedup(
        vecs, "vec_id", "embedding", SEMDEDUP_CENTROID_IDS, threshold=SEMDEDUP_THRESHOLD)))
    timed("operators.similarity.brute_force_topk_s", "operators", lambda: _noop(brute_force_topk(
        vecs, vecs.filter(F.col("vec_id") < N_QUERY_VECS), "vec_id", "embedding", "vec_id", k=5)))
    timed("operators.kmeans.train_s", "operators", lambda: _noop(kmeans_train(
        vecs, "vec_id", "embedding", KMEANS_INIT_IDS, iters=KMEANS_ITERS)))

    authored = pubs.select("key", "year", venue_expr().alias("venue"),
                           F.explode(F.array_distinct(authors_or_editors())).alias("author"))
    edges = (authored.select("key", F.col("author").alias("src"))
             .join(authored.select("key", F.col("author").alias("dst")), "key")
             .filter(F.col("src") < F.col("dst")).select("src", "dst").distinct())
    vertices = authored.select(F.col("author").alias("node"))
    timed("operators.graph.components_star_s", "operators",
          lambda: _noop(connected_components_star(edges, vertices)))
    counts = authored.groupBy("venue", "author").agg(F.count(F.lit(1)).alias("n"))
    timed("operators.topk.top_k_per_group_s", "operators", lambda: _noop(top_k_per_group(
        counts, ["venue"], [F.desc("n"), F.asc("author")], k=10)))
    timed("operators.runs.longest_consecutive_run_s", "operators",
          lambda: _noop(longest_consecutive_run(authored, ["author"], "year")))
    timed("operators.global_rank.global_row_number_s", "operators", lambda: _noop(
        global_row_number(pubs.select("key", "year"), [F.desc("year"), F.asc("key")])[0]))
    return out
