"""Dump `.explain("formatted")` for named registry queries (and a few
pre-checkpoint subtrees) into plans/<dir>/<name>_<tag>.txt — the
before/after evidence files the optimization rounds commit.

Usage: python tools/dump_plans.py <outdir> <tag> <query> [<query> ...]
  e.g. python tools/dump_plans.py plans/r22 before llm_winnow_pairs
Special names: jaccard_full_plan, semdedup_pairstage (operator and
sub-pipeline dumps).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def _jaccard_full_plan(spark, sf_dir):
    """The full ngram_jaccard_pairs_prefix operator plan; its candidate
    join region is the part above the tier-1/tier-2 verification joins."""
    from map_reduce_for_dbpl_dataset_spark.operators import dedup as D
    from map_reduce_for_dbpl_dataset_spark.queries.llm import _docs_shingled

    sh = _docs_shingled(spark, sf_dir)
    return D.ngram_jaccard_pairs_prefix(sh, "doc_id", "shingles", threshold=0.8)


def _semdedup_pairstage(spark, sf_dir):
    """The salted within-cluster pair join of semdedup (K=4 seeded
    demonstrator shape), ahead of the labeling join."""
    from map_reduce_for_dbpl_dataset_spark.operators.similarity import semdedup
    from map_reduce_for_dbpl_dataset_spark.sources.parquet import load_table

    e = load_table(spark, sf_dir, "embeddings")
    return semdedup(e, "vec_id", "embedding", centroid_ids=[30, 31, 32, 33])


SPECIAL = {
    "jaccard_full_plan": _jaccard_full_plan,
    "semdedup_pairstage": _semdedup_pairstage,
}


def main() -> None:
    outdir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)
    from map_reduce_for_dbpl_dataset_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("dump-plans", cpus=8)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    qs = entrymod.queries()

    def explain(df) -> str:
        return spark._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )

    for name in names:
        df = SPECIAL[name](spark, sf_dir) if name in SPECIAL else qs[name](spark, sf_dir)
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(explain(df))
        print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
