"""Self-tests of the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(BENCH_DIR))

from perfbench import gen, oracle, run, tracing  # noqa: E402
from tools import check  # noqa: E402


# --- digests ---------------------------------------------------------------
def test_digest_is_the_repository_gate_digest_and_order_insensitive():
    df = pd.DataFrame({"b": [2, 1, 3], "a": ["x", "y", None]})
    got = oracle.digest_frame(df)
    assert got["digest"] == check.digest_pandas(check.canon_pandas(df))
    assert got["rows"] == 3 and got["columns"] == ["a", "b"]
    shuffled = df.iloc[[2, 0, 1]][["a", "b"]]
    assert oracle.digest_frame(shuffled) == got
    changed = df.assign(b=[2, 1, 4])
    assert oracle.digest_frame(changed)["digest"] != got["digest"]


def test_dblp_oracle_reads_the_given_publications_path():
    sql = oracle.oracle_sql("dblp_q1_top_authors_per_venue", "/data/pubs.parquet")
    assert "/data/pubs.parquet" in sql
    assert "fixtures/publications.parquet" not in sql


# --- generators and manifests ----------------------------------------------
@pytest.fixture(scope="module")
def cache(tmp_path_factory):
    return str(tmp_path_factory.mktemp("cache"))


def test_generation_is_seeded_and_shape_stable(cache, tmp_path):
    d1, m1 = gen.ensure_inputs(cache, "llm_curation", 5)
    d2, m2 = gen.ensure_inputs(str(tmp_path), "llm_curation", 5)
    d3, m3 = gen.ensure_inputs(str(tmp_path), "llm_curation", 6)
    assert m1["files"] == m2["files"]
    assert gen.manifest_problems(d1, gen.expected_identity("llm_curation", 5)) == []
    for name, pin in m1["files"].items():
        assert m3["files"][name]["rows"] == pin["rows"]
        assert m3["files"][name]["digest"] != pin["digest"]


def test_stale_cache_is_detected_and_rebuilt(cache):
    d, m = gen.ensure_inputs(cache, "dblp_pipeline", 5)
    identity = gen.expected_identity("dblp_pipeline", 5)
    xml = os.path.join(d, "publications.xml")
    with open(xml, "a") as fh:
        fh.write("<article key=\"extra\"></article>\n")
    problems = gen.manifest_problems(d, identity)
    assert problems == ["publications.xml: rows/digest differ from manifest"]
    assert gen.manifest_problems(d, dict(identity, version=-1))
    d2, m2 = gen.ensure_inputs(cache, "dblp_pipeline", 5)
    assert m2["files"] == m["files"]
    assert gen.manifest_problems(d2, identity) == []


def test_oracle_digests_are_cached_per_input(cache):
    d, m = gen.ensure_inputs(cache, "llm_curation", 5)
    first = oracle.ensure_digests(d, m, ["llm_text_stats"])
    again = oracle.ensure_digests(d, m, ["llm_text_stats"])
    assert again == first  # served from ORACLE.json, oracle_s included
    other = oracle.ensure_digests(d, m, ["llm_text_stats", "llm_ann_brute_topk"])
    assert other["key"] != first["key"]
    assert other["ops"]["llm_text_stats"] == first["ops"]["llm_text_stats"]


# --- spans -----------------------------------------------------------------
def test_covered_merges_overlapping_intervals():
    assert tracing.covered([]) == 0.0
    assert tracing.covered([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert tracing.covered([(0, 10), (2, 3)]) == pytest.approx(10.0)


def test_self_time_subtracts_children_once():
    spans = [
        {"id": 0, "name": "op", "layer": "queries", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "plan", "layer": "queries", "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "name": "write", "layer": "sources", "parent": 0, "start": 2.0, "end": 6.0},
        {"id": 3, "name": "inner", "layer": "functions", "parent": 2, "start": 4.0, "end": 5.0},
    ]
    st = tracing.self_times(spans)
    assert st == pytest.approx({0: 5.0, 1: 2.0, 2: 3.0, 3: 1.0})
    assert tracing.layer_self_times(spans) == pytest.approx(
        {"queries": 7.0, "sources": 3.0, "functions": 1.0})
    # self times add up to the root's wall time
    assert sum(st.values()) == pytest.approx(10.0 + 1.0)  # plan and write overlap by 1 s


def test_tracer_nests_spans_by_call_order():
    tr = tracing.Tracer()
    with tr.span("a", "x"):
        with tr.span("b", "y"):
            pass
    with tr.span("c", "x"):
        pass
    assert [(s["name"], s["parent"]) for s in tr.spans] == [("a", None), ("b", 0), ("c", None)]
    assert all(s["end"] >= s["start"] for s in tr.spans)


def test_proc_tree_reads_this_process():
    tree = tracing.ProcTree(os.getpid())
    assert os.getpid() in tree.pids()
    assert tree.rss_bytes() > 0
    assert tree.cpu_s() > 0


# --- metric reduction ------------------------------------------------------
def test_metrics_reduce_passes_by_median_and_geomean():
    res = {"ready_at": 110.0, "cold": {"wall": 9.0},
           "passes": [{"wall": w, "cpu": c, "ops": {"a": a, "b": 4.0}}
                      for w, c, a in ((5.0, 8.0, 1.0), (4.0, 6.0, 1.0), (6.0, 7.0, 2.0))],
           "peak_rss_bytes": 3 * 2**20,
           "checks": {"a": {"ok": True}, "b": {"ok": False}}}
    m = run.end_to_end(100.0, res, 2)
    assert m["setup_s"] == (10.0, "s")
    assert m["pass_s"] == (5.0, "s") and m["cold_pass_s"] == (9.0, "s")
    assert m["ok_ops"] == (0.5, "fraction")
    assert run.op_geomean(res["passes"]) == pytest.approx(2.0)  # sqrt(1 * 4)


# --- status store ----------------------------------------------------------
def test_job_group_metrics_on_a_tiny_job():
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[2]").appName("perfbench-test")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "4").getOrCreate())
    try:
        spark.sparkContext.setJobGroup("perfbench-test", "tiny")
        (spark.range(10_000).selectExpr("id % 7 AS k").groupBy("k").count()
         .write.format("noop").mode("overwrite").save())
        m = tracing.job_group_metrics(spark, "perfbench-test")
        assert m["jobs"] >= 1 and m["stages"] >= 2 and m["tasks"] >= 2
        assert m["shuffle_write_bytes"] > 0 and m["shuffle_read_bytes"] > 0
        assert m["executor_cpu_s"] > 0 and m["task_skew"] >= 1.0
        assert tracing.job_group_metrics(spark, "no-such-group")["jobs"] == 0
    finally:
        spark.stop()


# --- contract --------------------------------------------------------------
def test_refuses_a_directory_without_the_engine(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "llm_curation", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    for line in proc.stdout.splitlines():
        with pytest.raises(json.JSONDecodeError):
            json.loads(line)
