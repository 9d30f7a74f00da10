"""DuckDB oracle digests for a workload's ops, cached once per seed.

Each op's digest is computed with ``tools/check.py``'s canonical
pandas form (columns sorted by name, rows sorted by every column,
cells hashed by their string rendering), imported rather than copied,
so the benchmark's check is the repository's correctness gate.  The
cache is keyed by the input manifest and by the oracle SQL text, so a
regenerated input or an edited oracle invalidates it.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import duckdb

from map_reduce_for_dbpl_dataset_spark import queries as registry
from map_reduce_for_dbpl_dataset_spark.queries.dblp import XML_INGEST_SQL
from map_reduce_for_dbpl_dataset_spark.sources.parquet import PUBLICATIONS_PATH
from tools import check


def digest_frame(df) -> dict:
    """Row count, sorted column names and canonical digest of a pandas
    frame; ``check.canon_pandas`` raises on unhashable cells, exactly as
    the repository's gate does."""
    return {"rows": len(df), "columns": sorted(df.columns),
            "digest": check.digest_pandas(check.canon_pandas(df))}


def oracle_sql(op: str, publications_path: str) -> str:
    """The op's oracle SQL.  DBLP oracles read the committed fixture
    path, which is swapped for ``publications_path``; the ingest op's
    oracle is the registry's XML-roundtrip SQL."""
    sql = XML_INGEST_SQL if op == "xml_ingest" else registry.all_oracle_sql()[op]
    return sql.replace(PUBLICATIONS_PATH, publications_path)


def connect(input_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for name in sorted(os.listdir(input_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(input_dir, name)
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def ensure_digests(input_dir: str, manifest: dict, ops: list[str]) -> dict:
    """Return ``{"oracle_s": seconds, "ops": {op: digest}}``, computing
    and caching it in ``input_dir/ORACLE.json`` when absent or stale."""
    pubs = os.path.join(input_dir, "publications.parquet")
    key_src = json.dumps(manifest["files"], sort_keys=True) + "".join(
        op + oracle_sql(op, pubs) for op in ops)
    key = hashlib.sha256(key_src.encode()).hexdigest()[:32]
    path = os.path.join(input_dir, "ORACLE.json")
    if os.path.exists(path):
        with open(path) as fh:
            cached = json.load(fh)
        if cached.get("key") == key:
            return cached
    t0 = time.perf_counter()
    con = connect(input_dir)
    digests = {op: digest_frame(con.sql(oracle_sql(op, pubs)).df()) for op in ops}
    con.close()
    result = {"key": key, "oracle_s": time.perf_counter() - t0, "ops": digests}
    with open(path + ".tmp", "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)
    return result
