"""Build budget of the llm_curation and nearest-neighbour operators
and of the iterative queries.

Building a query costs Py4J round trips between Python and the JVM:
every Column operator and every ``F.col`` is one or more calls, where
a SQL-text expression is parsed in one.  The three operators the llm_curation
benchmark times are built mostly from SQL text; the counts below pin
that, and the build cost of the other nearest-neighbour operators and
of k-means training, with ~25% headroom.  Only the building thread's calls count:
job-progress traffic from other threads varies run to run.

The prefix-filtered Jaccard join also reads the session's persisted
shingle table (queries/llm.py ``_docs_shingled``); a build that went
through ``spark.sql`` with the frame as a keyword argument would drop
the table from the cache and re-derive shingles from text.

The connected-components queries launch Spark jobs while they are
built: each large-star/small-star round runs one checksum action
(operators/graph.py connected_components_star), and the inputs of the
rounds run theirs.  The near-dup clusters' input is the prefix-filtered
Jaccard join, whose pinned prefix index (operators/dedup.py
jaccard_prefix_index) plans its upstream shuffle stages when it is
built; the session keeps that index beside the shingle table, so its
stages run once per documents snapshot, not once per build, and a warm
build of the Jaccard join itself launches no job.  k-means training
(operators/kmeans.py kmeans_train) checkpoints its centroid table once
per Lloyd iteration; product quantization trains all of its subspaces
in those same iterations, so ``llm_ann_pq_trained`` costs what
``llm_kmeans`` does.  Job counts are deterministic for fixed data, so
the counts below are the measured values, not budgets with headroom.
"""

from __future__ import annotations

import gc
import threading

import py4j.clientserver
import pytest
from pyspark import StorageLevel

from map_reduce_for_dbpl_dataset_spark import queries as registry
from map_reduce_for_dbpl_dataset_spark.queries.llm import _docs_shingled

# Py4J round trips of one warm build at the suite's sf dir, plus ~25%:
# measured 256, 203 and 307 for the three llm_curation operators; 341,
# 339 and 930 for the other callers of the quantized-cosine scorer
# (operators/similarity.py _cos_top_k); 366 and 819 for two k-means
# trainings (operators/kmeans.py, two Lloyd iterations each).
ROUND_TRIP_BUDGET = {
    "llm_text_stats": 320,
    "llm_ngram_jaccard_prefix": 255,
    "llm_ann_brute_topk": 395,
    "llm_hard_negatives": 435,
    "llm_ann_lsh_topk": 425,
    "llm_ann_ivf": 1360,
    "llm_kmeans": 460,
    "llm_ann_pq_trained": 1025,
}

# Spark jobs of one warm build at the suite's sf dir (the same at
# local[2] and local[4]).
BUILD_JOBS = {
    "dblp_coauthor_components": 48,
    "dblp_coauthor_components_star": 48,
    "llm_ann_pq_trained": 13,
    "llm_dedup_clusters": 26,
    "llm_kmeans": 13,
    "llm_leakage_free_split": 26,
    "llm_ngram_jaccard": 0,
    "llm_ngram_jaccard_prefix": 0,
}


def _round_trips(build) -> int:
    conn = py4j.clientserver.ClientServerConnection
    send = conn.send_command
    me = threading.get_ident()
    calls = 0

    def counting(self, command):
        nonlocal calls
        if threading.get_ident() == me:
            calls += 1
        return send(self, command)

    gc.collect()
    conn.send_command = counting
    try:
        build()
    finally:
        conn.send_command = send
    return calls


@pytest.mark.parametrize("name", sorted(ROUND_TRIP_BUDGET))
def test_build_round_trips_within_budget(spark, sf_dir, name):
    build = registry.all_queries()[name]
    build(spark, sf_dir)  # warm: the persisted shingle table exists
    calls = _round_trips(lambda: build(spark, sf_dir))
    assert calls <= ROUND_TRIP_BUDGET[name], calls


@pytest.mark.parametrize("name", sorted(BUILD_JOBS))
def test_build_jobs_pinned(spark, sf_dir, name):
    build = registry.all_queries()[name]
    build(spark, sf_dir)  # warm: the persisted shingle table exists
    sc = spark.sparkContext
    group = f"build-jobs-{name}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        build(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == BUILD_JOBS[name]


def test_prefix_join_keeps_the_shingle_table_cached(spark, sf_dir):
    df = registry.all_queries()["llm_ngram_jaccard_prefix"](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    assert "InMemoryTableScan" in df._jdf.queryExecution().executedPlan().toString()
    assert _docs_shingled(spark, sf_dir).storageLevel != StorageLevel.NONE
    assert spark.sparkContext._jsc.getPersistentRDDs().size() > 0
