"""Self-check for the re-certification rotation policy
(queries/__init__.py): the grading driver verifies only the FIRST 50
registry entries per round, so the ordering must always put the
weakest correctness signal first.  These invariants make the policy
self-checking — a record naming a query that no longer exists, a
mis-read CORRECTNESS_r<N>.json, or an ordering bug between queries()
and oracle_sql() fails fast here instead of silently aging green rows.

No SparkSession needed; this only inspects the registry ordering.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

from map_reduce_for_dbpl_dataset_spark import queries as reg

REPO = Path(__file__).resolve().parents[1]

# The driver's per-round differential-check window size.
WINDOW = 50


def test_bookkeeping_names_are_real_queries():
    names = set(reg.all_queries())
    # A record that keeps a renamed/deleted query, or a typo in
    # _CHANGED, would silently distort the rotation — every
    # bookkeeping name must be a registered query.
    assert set(reg._last_checked()) <= names
    assert set(reg._CHANGED) <= names


def test_window_prioritizes_weakest_signal():
    names = list(reg.all_queries())
    assert len(names) == len(set(names))
    lc, changed = reg._last_checked(), set(reg._CHANGED)
    window = set(names[:WINDOW])

    # Tier 1: never-driver-checked queries all make the window
    # (unless there are somehow more than WINDOW of them).
    never = [n for n in names if n not in lc]
    if len(never) <= WINDOW:
        assert set(never) <= window

    # Tier 2: materially-changed queries re-enter the window.
    if len(never) + len(changed) <= WINDOW:
        assert changed <= window

    # Tier 3: staleness is monotone across the window boundary — no
    # excluded row may be staler than an included one.
    inside = [lc[n] for n in names[:WINDOW] if n in lc and n not in changed]
    outside = [lc[n] for n in names[WINDOW:] if n in lc and n not in changed]
    if inside and outside:
        assert max(inside) <= min(outside)

    # The stalest tier is refreshed wholesale when it fits.
    if lc:
        stalest = min(lc.values())
        stale_rows = [n for n in lc if lc[n] == stalest and n not in changed]
        if len(never) + len(changed) + len(stale_rows) <= WINDOW:
            assert set(stale_rows) <= window


def test_queries_and_oracles_share_one_order():
    # The driver zips queries() with oracle_sql() positionally when
    # selecting its window; the two surfaces must agree exactly.
    q = list(reg.all_queries())
    o = list(reg.all_oracle_sql())
    assert [n for n in q if n in set(o)] == o


def _row(green: bool = True, err: str | None = None) -> dict:
    return {
        "rows_match": True,
        "schema_match": True,
        "hash_match": green,
        "spark_rows": 1,
        "oracle_rows": 1,
        "err": err,
    }


def test_last_green_rounds_from_synthetic_records(tmp_path):
    # an empty directory gives an empty map, and so plain name order
    names = ["c_q", "a_q", "b_q"]
    assert reg.last_green_rounds(tmp_path) == {}
    assert reg._priority_order(names, reg.last_green_rounds(tmp_path)) == sorted(names)

    records = {
        "CORRECTNESS_r01.json": {"a_q": _row(), "b_q": _row(), "c_q": _row()},
        # the highest green round wins
        "CORRECTNESS_r03.json": {"a_q": _row()},
        # red rows never count: a hash mismatch, or an error
        "CORRECTNESS_r04.json": {"a_q": _row(green=False), "b_q": _row(err="boom")},
        "CORRECTNESS_r2.json": {"c_q": _row()},
        # matches CORRECTNESS_r* but not CORRECTNESS_r<N>.json: skipped
        "CORRECTNESS_r05_c8.json": {"b_q": _row()},
        "CORRECTNESS_rXX.json": {"b_q": _row()},
    }
    for fname, rows in records.items():
        (tmp_path / fname).write_text(json.dumps(rows))
    last = reg.last_green_rounds(tmp_path)
    assert last == {"a_q": 3, "b_q": 1, "c_q": 2}
    # oldest-first: b_q (r1), then c_q (r2), then a_q (r3)
    assert reg._priority_order(names, last) == ["b_q", "c_q", "a_q"]


def test_import_reads_no_records():
    # Executors import the package from a zip of its .py files only, so
    # the records are read on first registry use, never at import.
    code = (
        "import __spark_entry__\n"
        "from map_reduce_for_dbpl_dataset_spark import queries as reg\n"
        "assert reg._last_checked.cache_info().misses == 0\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True)
