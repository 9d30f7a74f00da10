"""Unit tests for the generic relational operators."""

from __future__ import annotations

import datetime
import re

from pyspark.sql import functions as F

from map_reduce_for_dbpl_dataset_spark.operators.argmax import argmax_per_group
from map_reduce_for_dbpl_dataset_spark.operators.asof import asof_join
from map_reduce_for_dbpl_dataset_spark.operators.runs import longest_consecutive_run
from map_reduce_for_dbpl_dataset_spark.operators.topk import top_k_global, top_k_per_group


def test_top_k_per_group_row_number(spark):
    df = spark.createDataFrame(
        [("a", "x", 5), ("a", "y", 5), ("a", "z", 3), ("b", "p", 1)],
        "grp string, item string, cnt int",
    )
    out = top_k_per_group(df, ["grp"], [F.desc("cnt"), F.asc("item")], k=2)
    rows = {(r.grp, r.item) for r in out.collect()}
    # tie at cnt=5 broken by item asc; exactly 2 rows for group a
    assert rows == {("a", "x"), ("a", "y"), ("b", "p")}


def test_top_k_global_is_take_ordered(spark):
    df = spark.range(1000).withColumn("v", F.col("id") % 17)
    out = top_k_global(df, [F.desc("v"), F.asc("id")], k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert out.count() == 5


def test_longest_consecutive_run_duplicates_do_not_reset(spark):
    # the reference's literal bug: a duplicate year truncated the run
    # (Homework2.scala:217-221); intended semantics keeps the full run.
    df = spark.createDataFrame(
        [("a", y) for y in [1990, 1991, 1991, 1992, 1993]] + [("b", 2000), ("b", 2002)],
        "k string, year int",
    )
    out = {r.k: r.longest_run for r in longest_consecutive_run(df, ["k"], "year").collect()}
    assert out == {"a": 4, "b": 1}


def test_longest_consecutive_run_gap(spark):
    df = spark.createDataFrame(
        [("a", y) for y in [1, 2, 3, 10, 11, 12, 13]], "k string, year int"
    )
    out = longest_consecutive_run(df, ["k"], "year").collect()
    assert out[0].longest_run == 4


def test_argmax_keeps_all_ties(spark):
    df = spark.createDataFrame(
        [("v", "t1", 7), ("v", "t2", 7), ("v", "t3", 2), ("w", "t4", 1)],
        "venue string, title string, n int",
    )
    out = argmax_per_group(df, ["venue"], "n")
    assert {(r.venue, r.title) for r in out.collect()} == {("v", "t1"), ("v", "t2"), ("w", "t4")}


def _ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


def test_asof_join_backward_and_exact_tie(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00")), (1, _ts("2024-01-01T12:00:00")), (2, _ts("2024-01-01T09:00:00"))],
        "k int, t timestamp_ntz",
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), 100), (1, _ts("2024-01-01T11:30:00"), 200), (2, _ts("2024-01-01T09:30:00"), 300)],
        "k int, rt timestamp_ntz, payload int",
    )
    out = asof_join(left, right, ["k"], "t", "rt", ["payload"], how="inner")
    got = {(r.k, r.t.isoformat(), r.payload) for r in out.collect()}
    # 10:00 matches the 10:00 build row exactly (tie matches);
    # 12:00 picks the latest prior (11:30 -> 200);
    # k=2 probe at 09:00 has no prior row -> dropped under inner.
    assert got == {(1, "2024-01-01T10:00:00", 100), (1, "2024-01-01T12:00:00", 200)}


def test_asof_join_left_keeps_unmatched(spark):
    left = spark.createDataFrame([(2, _ts("2024-01-01T09:00:00"))], "k int, t timestamp_ntz")
    right = spark.createDataFrame(
        [(2, _ts("2024-01-01T09:30:00"), 300)], "k int, rt timestamp_ntz, payload int"
    )
    out = asof_join(left, right, ["k"], "t", "rt", ["payload"], how="left").collect()
    assert len(out) == 1 and out[0].payload is None


def test_asof_join_carries_legit_null_payload(spark):
    # A build row whose payload IS null must still win over an older
    # non-null row (struct carry, not per-column carry).
    left = spark.createDataFrame([(1, _ts("2024-01-01T12:00:00"))], "k int, t timestamp_ntz")
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), 100), (1, _ts("2024-01-01T11:00:00"), None)],
        "k int, rt timestamp_ntz, payload int",
    )
    out = asof_join(left, right, ["k"], "t", "rt", ["payload"], how="inner").collect()
    assert len(out) == 1 and out[0].payload is None


def test_salted_join_identical_to_plain_join(spark):
    from pyspark.sql import functions as F

    from map_reduce_for_dbpl_dataset_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(i, i % 3) for i in range(300)], "row_id long, k int"
    )
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "k int, v string")
    got = salted_join(big, small, key="k", salt=F.col("row_id"), n_salts=7)
    plain = big.join(small, "k")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, plain.collect()))
    assert "_salt" not in got.columns


def test_salted_join_unmatched_keys_drop_like_inner(spark):
    from pyspark.sql import functions as F

    from map_reduce_for_dbpl_dataset_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, 0), (2, 9)], "row_id long, k int")
    small = spark.createDataFrame([(0, "a")], "k int, v string")
    out = salted_join(big, small, key="k", salt=F.col("row_id"), n_salts=4).collect()
    assert len(out) == 1 and out[0].k == 0


def test_events_funnel_strict_order_rescan(spark, sf_dir):
    """Independent Python rescan of the strict-sequence semantics:
    first view, first click AFTER that view, first purchase AFTER
    that click — not merely per-type minima."""
    from map_reduce_for_dbpl_dataset_spark.queries.tpch import q_events_funnel
    from map_reduce_for_dbpl_dataset_spark.sources.parquet import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    ).collect()
    by_user: dict = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append((r.ts, r.event_type))
    expected = {}
    for u, rows in by_user.items():
        t1 = min((t for t, k in rows if k == "view"), default=None)
        t2 = (
            min((t for t, k in rows if k == "click" and t > t1), default=None)
            if t1 is not None
            else None
        )
        t3 = (
            min((t for t, k in rows if k == "purchase" and t > t2), default=None)
            if t2 is not None
            else None
        )
        step = 3 if t3 else 2 if t2 else 1 if t1 else 0
        expected[u] = (t1, t2, t3, step)
    got = {
        r.user_id: (r.t_view, r.t_click, r.t_purchase, r.furthest_step)
        for r in q_events_funnel(spark, sf_dir).collect()
    }
    assert got == expected
    # the funnel narrows (or holds) at every step
    n1 = sum(1 for v in got.values() if v[3] >= 1)
    n2 = sum(1 for v in got.values() if v[3] >= 2)
    n3 = sum(1 for v in got.values() if v[3] >= 3)
    assert n1 >= n2 >= n3 > 0


def test_events_retention_rescan(spark, sf_dir):
    """Python rescan of the cohort grid: Monday-anchored signup week,
    offset = whole weeks to the activity week, distinct users."""
    import datetime

    from map_reduce_for_dbpl_dataset_spark.queries.tpch import q_events_retention
    from map_reduce_for_dbpl_dataset_spark.sources.parquet import load_table

    def monday(ts):
        d = ts.date()
        return d - datetime.timedelta(days=d.weekday())

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    ).collect()
    signup: dict = {}
    for r in ev:
        if r.event_type == "signup":
            if r.user_id not in signup or r.ts < signup[r.user_id]:
                signup[r.user_id] = r.ts
    cells: dict = {}
    for r in ev:
        if r.user_id not in signup:
            continue
        cw = monday(signup[r.user_id])
        off = (monday(r.ts) - cw).days // 7
        if off >= 0:
            cells.setdefault((cw.isoformat(), off), set()).add(r.user_id)
    expected = {k: len(v) for k, v in cells.items()}
    got = {
        (r.cohort_week, r.week_offset): r.n_users
        for r in q_events_retention(spark, sf_dir).collect()
    }
    assert got == expected
    # week-0 of each cohort contains every cohort member (the signup
    # event itself is activity), so it is the cohort's max cell
    for (cw, off), n in got.items():
        assert n <= got[(cw, 0)]


def test_spread_for_pair_join_plan_and_result(spark):
    """The pair-spread helper must (a) keep the rows identical, (b)
    emit an explicit keyed repartition that AQE cannot coalesce
    (REPARTITION_BY_NUM over PAIR_SPREAD_FACTOR * defaultParallelism
    partitions), and (c) cut lineage so both self-join sides read the
    pinned RDD instead of re-deriving the input (Scan ExistingRDD)."""
    from map_reduce_for_dbpl_dataset_spark.operators.pairs import (
        PAIR_SPREAD_FACTOR,
        spread_for_pair_join,
    )

    df = spark.createDataFrame(
        [(i, i % 7) for i in range(100)], "id bigint, key int"
    )
    spread = spread_for_pair_join(df, "key")
    assert sorted((r.id, r.key) for r in spread.collect()) == [
        (i, i % 7) for i in range(100)
    ]
    plan = spark._jvm.PythonSQLUtils.explainString(
        spread._jdf.queryExecution(), "formatted"
    )
    assert "REPARTITION_BY_NUM" in plan
    assert "Scan ExistingRDD" in plan
    n = PAIR_SPREAD_FACTOR * spark.sparkContext.defaultParallelism
    # one regex binds the key and the partition count in a single match
    # (round-8 ADVICE: two independent substring checks could pass with
    # the wrong repartition width)
    assert re.search(rf"hashpartitioning\(key#\d+[^)]*, {n}\)", plan), plan
    # the self-join on the spread frame stays co-partitioned and pair
    # counts are exact (sum over keys of n_k * (n_k - 1) / 2)
    a, b = spread.alias("a"), spread.alias("b")
    pairs = a.join(
        b, (F.col("a.key") == F.col("b.key")) & (F.col("a.id") < F.col("b.id"))
    ).count()
    from collections import Counter
    sizes = Counter(i % 7 for i in range(100))
    assert pairs == sum(v * (v - 1) // 2 for v in sizes.values())
