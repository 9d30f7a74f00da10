"""One benchmark run's Spark process.

Started fresh by ``run.py`` for every run, so set-up, the cold pass and
the warm passes are those of a new ``local[k]`` application.  Usage:

    python3 perfbench/worker.py JOB.json RESULT.json

JOB.json names the workload, its input directory, the per-run work
directory, the oracle digests, the measuring time and the trace flag;
RESULT.json receives raw timings for ``run.py`` to reduce to metrics.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import oracle, tracing  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

MIN_PASSES = 3  # timed passes, even when they overrun the measuring time
UNTRACED_PASSES = 2  # traced run: passes without job groups, for the overhead
TRACED_PASSES = 2


class Runner:
    """Runs one workload's ops against a live session."""

    def __init__(self, spark, job: dict) -> None:
        from map_reduce_for_dbpl_dataset_spark import queries as registry

        self.spark, self.job = spark, job
        self.ops = WORKLOADS[job["workload"]]
        self.queries = registry.all_queries()
        self.input_dir = job["inputs"][job["workload"]]
        self.work_dir = job["work_dir"]
        # DBLP reports read the parquet the ingest op writes each pass.
        if any(op.kind == "ingest" for op in self.ops):
            self.sf_dir = os.path.join(self.work_dir, "sf")
        else:
            self.sf_dir = self.input_dir
        self.tree = tracing.ProcTree(os.getpid())
        self.failed: dict[str, str] = {}

    def _execute(self, op) -> None:
        from map_reduce_for_dbpl_dataset_spark.sources.xml import publications_from_xml

        if op.kind == "ingest":
            xml = os.path.join(self.input_dir, "publications.xml")
            publications_from_xml(self.spark, xml).write.mode("overwrite").parquet(
                os.path.join(self.sf_dir, "publications.parquet"))
        else:
            self.queries[op.name](self.spark, self.sf_dir).write.format("noop").mode(
                "overwrite").save()

    def run_pass(self, tracer: tracing.Tracer | None = None, tag: str = "") -> dict:
        """Run every op once.  An op that raises is recorded as failed
        and skipped from then on; it never aborts the run."""
        sc = self.spark.sparkContext
        cpu0, t0 = self.tree.cpu_s(), time.perf_counter()
        times: dict[str, float] = {}
        plans: dict[str, float] = {}
        for op in self.ops:
            if op.name in self.failed:
                continue
            start = time.perf_counter()
            try:
                if tracer is None:
                    self._execute(op)
                else:
                    layer = "sources" if op.kind == "ingest" else "queries"
                    sc.setJobGroup(f"{tag}:{op.name}", op.name)
                    with tracer.span(op.name, layer):
                        if op.kind != "ingest":
                            with tracer.span("plan", "queries"):
                                p0 = time.perf_counter()
                                df = self.queries[op.name](self.spark, self.sf_dir)
                                df._jdf.queryExecution().executedPlan()
                                plans[op.name] = time.perf_counter() - p0
                        with tracer.span("execute", layer):
                            self._execute(op)
            except Exception as e:  # noqa: BLE001 - a failed op is a result
                self.failed[op.name] = f"{type(e).__name__}: {str(e)[:300]}"
                continue
            times[op.name] = time.perf_counter() - start
        if tracer is not None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return {"wall": time.perf_counter() - t0, "cpu": self.tree.cpu_s() - cpu0,
                "ops": times, "plans": plans}

    def check(self) -> dict[str, dict]:
        """Untimed: compare each op's output with its oracle digest.  It
        executes every op once more, so it is also the warm-up between
        the cold pass and the timed passes."""
        from map_reduce_for_dbpl_dataset_spark.sources.sinks import read_csv, write_csv

        out = {}
        for op in self.ops:
            want = self.job["digests"][op.name]
            if op.name in self.failed:
                out[op.name] = {"ok": False, "error": self.failed[op.name]}
                continue
            try:
                if op.kind == "ingest":
                    self._execute(op)
                    pub_glob = os.path.join(self.sf_dir, "publications.parquet", "*.parquet")
                    con = oracle.connect(self.input_dir)
                    got = oracle.digest_frame(con.sql(oracle.oracle_sql(op.name, pub_glob)).df())
                    con.close()
                elif op.kind == "report":
                    # write the report, then check what was written
                    df = self.queries[op.name](self.spark, self.sf_dir)
                    path = os.path.join(self.work_dir, "reports", op.name)
                    write_csv(df, path)
                    got = oracle.digest_frame(read_csv(self.spark, path, df.schema).toPandas())
                else:
                    got = oracle.digest_frame(
                        self.queries[op.name](self.spark, self.sf_dir).toPandas())
            except Exception as e:  # noqa: BLE001 - a failed check is a result
                out[op.name] = {"ok": False, "error": f"{type(e).__name__}: {str(e)[:300]}"}
                continue
            out[op.name] = {"ok": got == want, "got": got, "want": want}
        return out


def measure(runner: Runner, seconds: float) -> dict:
    """Cold pass, the oracle check as warm-up, then timed passes for
    ``seconds``: a pass is started while the last one would still fit,
    and at least MIN_PASSES are run."""
    cold = runner.run_pass()
    checks = runner.check()
    passes: list[dict] = []
    t0 = time.perf_counter()
    while len(passes) < MIN_PASSES or (
            time.perf_counter() - t0 + passes[-1]["wall"] <= seconds):
        passes.append(runner.run_pass())
    return {"cold": cold, "checks": checks, "passes": passes}


def trace(runner: Runner, tracer: tracing.Tracer) -> dict:
    """Traced run: untraced warm passes, then passes with one job group
    per op whose status-store metrics are collected after each pass,
    then every per-layer probe."""
    from perfbench import probes

    runner.run_pass()  # cold
    checks = runner.check()
    untraced = [runner.run_pass() for _ in range(UNTRACED_PASSES)]
    traced, per_op = [], {}
    for i in range(TRACED_PASSES):
        tag = f"perfbench-{i}"
        with tracer.span(f"pass {i}", "bench"):
            p = runner.run_pass(tracer, tag)
        traced.append(p["wall"])
        for name, exec_s in p["ops"].items():
            m = tracing.job_group_metrics(runner.spark, f"{tag}:{name}")
            m["exec_s"] = exec_s - p["plans"].get(name, 0.0)
            m["plan_s"] = p["plans"].get(name, 0.0)
            per_op.setdefault(name, []).append(m)
    own = [(runner.input_dir, f[:-8]) for f in sorted(os.listdir(runner.input_dir))
           if f.endswith(".parquet")]
    layer_metrics = probes.run_probes(runner.spark, tracer, runner.job["inputs"],
                                      runner.work_dir, own)
    return {"untraced": untraced,
            "traced_pass_s": statistics.median(traced),
            # median over traced passes, per op and metric
            "per_op": {name: {k: statistics.median(m[k] for m in ms) for k in ms[0]}
                       for name, ms in per_op.items()},
            "probes": layer_metrics, "probe_owner": probes.OWNER, "checks": checks}


def main(job_path: str, result_path: str) -> None:
    with open(job_path) as fh:
        job = json.load(fh)
    tracer = tracing.Tracer()
    tree = tracing.ProcTree(os.getpid())
    with tracing.PeakRss(tree) as rss:
        with tracer.span("session.get_spark", "session"):
            t0 = time.perf_counter()
            from map_reduce_for_dbpl_dataset_spark.session import get_spark

            spark = get_spark(f"perfbench-{job['workload']}", cpus=job["cpus"])
            get_spark_s = time.perf_counter() - t0
        with tracer.span("session.first_job", "session"):
            t1 = time.perf_counter()
            spark.range(1).count()
            first_job_s = time.perf_counter() - t1
        ready_at = time.time()
        runner = Runner(spark, job)
        result = {"ready_at": ready_at, "get_spark_s": get_spark_s,
                  "first_job_s": first_job_s}
        if job["trace"]:
            result["trace"] = trace(runner, tracer)
            result["checks"] = result["trace"].pop("checks")
            result["spans"] = tracer.spans
            result["layer_self_s"] = tracing.layer_self_times(tracer.spans)
        else:
            result.update(measure(runner, job["seconds"]))
        spark.stop()
    result["peak_rss_bytes"] = rss.peak
    with open(result_path + ".tmp", "w") as fh:
        json.dump(result, fh)
    os.replace(result_path + ".tmp", result_path)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
