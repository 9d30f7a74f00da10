"""SparkSession factory tuned for this engine.

Used by tests and bench.py; the driver supplies its own session to
``__spark_entry__.entry``/``queries`` so query code never builds one.

Scale notes (100 TB design target):
- AQE on: runtime coalescing of small shuffle partitions, skew-join
  splitting for Zipfian keys (DBLP venues/authors, TPC-H custkeys).
- shuffle.partitions sized to cores locally; on a real cluster this
  is a starting hint only — AQE re-plans from map output statistics.
- Arrow enabled for the (few) Pandas-UDF paths (multimodal decode).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    Pandas-UDF closures reference module functions, which cloudpickle
    serializes by reference — workers must be able to import the
    package. On a real cluster that's ``spark-submit --py-files``;
    here we zip the package once per application and register it, so
    queries work under any driver cwd/session (the grading driver
    builds its own SparkSession).
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zpath = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fname in files:
                    if fname.endswith(".py"):
                        full = os.path.join(root, fname)
                        rel = os.path.join(
                            pkg_name, os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
    spark.sparkContext.addPyFile(zpath)
    _SHIPPED.add(app_id)


def default_cpus() -> int:
    """Local cores of a session built without ``cpus``:
    ``SPARK_GRAFT_CPUS`` when set, else the CPUs this process may run
    on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "mrdbpl-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = default_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let the planner pick shuffled-hash join when its size guards
        # hold: no sort of either shuffled side.  The actual guards
        # (SparkStrategies.canBuildLocalHashMap + muchSmaller): the
        # build side's STATS ESTIMATE must be under
        # autoBroadcastJoinThreshold * shuffle partitions (64 MB * P
        # here) AND 3x smaller than the other side — estimate-based,
        # so a bad post-filter underestimate can pick SHJ where a
        # build partition OOMs a task that SMJ would have spilled;
        # acceptable here because the estimates at play are plain
        # parquet scans.  Plan-verified effect of the flip:
        # the connected-components labeling join plans ShuffledHashJoin
        # (plan audit row "final labeling join is an equi join").
        # tpch_revenue_by_nation's lineitem ⋈ orders still plans
        # SortMergeJoin at the bench SFs (the muchSmaller guard fails
        # there), so no SHJ speedup is claimed for it.  Bucketed joins
        # unaffected (still SMJ over bucketed scans, no exchange).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
