"""Oracle differential for the queries listed in ``queries._CHANGED``.

The registry's full Spark-vs-DuckDB differential (``tools/check.py``)
runs outside pytest, and the sf1 net skips when ``fixtures/sf1`` is
absent, so a query whose build or oracle was just edited would
otherwise go uncompared until a full check.  Each ``_CHANGED`` query
runs here at the suite's sf dir and must match its oracle in row
count, column names and the order-insensitive digest of
``tools/check.py``.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

from map_reduce_for_dbpl_dataset_spark import queries as reg
from map_reduce_for_dbpl_dataset_spark.sources.parquet import FIXTURE_TABLES

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
from check import canon_pandas, digest_pandas  # noqa: E402


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    yield con
    con.close()


@pytest.mark.parametrize("name", reg._CHANGED)
def test_changed_query_matches_oracle(spark, sf_dir, oracle_con, name):
    got = reg.all_queries()[name](spark, sf_dir).toPandas()
    want = oracle_con.sql(reg.all_oracle_sql()[name]).df()
    assert len(got) == len(want)
    assert sorted(got.columns) == sorted(want.columns)
    assert digest_pandas(canon_pandas(got)) == digest_pandas(canon_pandas(want))
