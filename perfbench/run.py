"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates (or reuses) the seed's inputs and oracle digests, starts a
fresh ``local[k]`` Spark process for the run (``perfbench/worker.py``),
and prints one JSON line as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end set, with ``--trace 1`` the per-layer
set; a traced run also writes its spans and per-op status-store
metrics to ``perfbench/.cache/traces/``.  Everything the run writes
stays under ``perfbench/.cache/``; the per-run work directory is
deleted when the run ends.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, REPO_ROOT)

from perfbench import tracing  # noqa: E402  (imports no engine code)

CACHE = os.path.join(BENCH_DIR, ".cache")
DEADLINE_S = 170  # the whole run, generation included
DRIVER_MEM = "2g"

# The engine and the repository code the benchmark imports; a checkout
# without them cannot be benchmarked.
REQUIRED = ("map_reduce_for_dbpl_dataset_spark/session.py", "tools/check.py",
            "fixtures/make_publications_xml.py",
            "fixtures/publications.parquet", "__spark_entry__.py")

PER_LAYER_UNITS = {
    "session.get_spark_s": "s", "session.first_job_s": "s",
    "sources.xml_parse_s": "s", "sources.parquet_write_s": "s",
    "sources.csv_write_s": "s", "sources.bytes_written": "bytes",
    "sources.parquet_scan_s": "s",
    "functions.text.tokens_s": "s", "functions.text.word_shingles_s": "s",
    "functions.text.fingerprint_s": "s", "functions.vectors.quantize_s": "s",
    "functions.exprs.venue_s": "s",
    "operators.dedup.minhash_signatures_s": "s", "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_pairs": "count", "operators.dedup.jaccard_prefix_s": "s",
    "operators.similarity.semdedup_s": "s", "operators.similarity.brute_force_topk_s": "s",
    "operators.kmeans.train_s": "s", "operators.graph.components_star_s": "s",
    "operators.topk.top_k_per_group_s": "s", "operators.runs.longest_consecutive_run_s": "s",
    "operators.global_rank.global_row_number_s": "s",
    "queries.plan_s": "s", "queries.exec_s": "s", "queries.jobs": "count",
    "queries.stages": "count", "queries.tasks": "count", "queries.executor_cpu_s": "s",
    "queries.gc_s": "s", "queries.shuffle_read_bytes": "bytes",
    "queries.shuffle_write_bytes": "bytes", "queries.spill_bytes": "bytes",
    "queries.task_skew": "ratio",
    "layer.session.self_s": "s", "layer.sources.self_s": "s",
    "layer.functions.self_s": "s", "layer.operators.self_s": "s",
    "layer.queries.self_s": "s",
    "trace.untraced_pass_s": "s", "trace.traced_pass_s": "s", "trace.overhead_s": "s",
    # moved here from the end-to-end set: too unsteady run to run
    "op_geomean_s": "s", "cpu_s": "s", "peak_rss_mb": "MiB",
}


def op_geomean(passes: list[dict]) -> float:
    """Geometric mean over ops of each op's median time in ``passes``
    (ops that failed in any pass are left out)."""
    medians = [statistics.median(p["ops"][name] for p in passes)
               for name in passes[0]["ops"] if all(name in p["ops"] for p in passes)]
    return math.exp(statistics.fmean(math.log(t) for t in medians))


def end_to_end(spawn_at: float, res: dict, n_ops: int) -> dict[str, tuple[float, str]]:
    ok = sum(c["ok"] for c in res["checks"].values())
    return {
        "setup_s": (res["ready_at"] - spawn_at, "s"),
        "cold_pass_s": (res["cold"]["wall"], "s"),
        "pass_s": (statistics.median(p["wall"] for p in res["passes"]), "s"),
        "ok_ops": (ok / n_ops, "fraction"),
    }


def per_layer(res: dict) -> dict[str, tuple[float, str]]:
    tr = res["trace"]
    values = {"session.get_spark_s": res["get_spark_s"],
              "session.first_job_s": res["first_job_s"], **tr["probes"]}
    per_op = tr["per_op"].values()
    for key in ("plan_s", "exec_s", "jobs", "stages", "tasks", "executor_cpu_s", "gc_s",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        values[f"queries.{key}"] = sum(m[key] for m in per_op)
    values["queries.task_skew"] = max(m["task_skew"] for m in per_op)
    for layer in ("session", "sources", "functions", "operators", "queries"):
        values[f"layer.{layer}.self_s"] = res["layer_self_s"].get(layer, 0.0)
    untraced = tr["untraced"]
    values["trace.untraced_pass_s"] = statistics.median(p["wall"] for p in untraced)
    values["trace.traced_pass_s"] = tr["traced_pass_s"]
    values["trace.overhead_s"] = tr["traced_pass_s"] - values["trace.untraced_pass_s"]
    values["op_geomean_s"] = op_geomean(untraced)
    values["cpu_s"] = statistics.median(p["cpu"] for p in untraced)
    values["peak_rss_mb"] = res["peak_rss_bytes"] / 2**20
    return {name: (values[name], unit) for name, unit in PER_LAYER_UNITS.items()}


def _reap_group(pgid: int) -> None:
    """Kill whatever is left of the worker's process group (its JVM and
    Python workers) and wait until it is gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    for _ in range(100):
        stats = (tracing.proc_stat(int(p)) for p in os.listdir("/proc") if p.isdigit())
        if not any(st and int(st[2]) == pgid and st[0] != "Z" for st in stats):
            return
        time.sleep(0.05)


def run_worker(job: dict, run_dir: str, deadline: float) -> tuple[float, dict]:
    job_path = os.path.join(run_dir, "job.json")
    result_path = os.path.join(run_dir, "result.json")
    with open(job_path, "w") as fh:
        json.dump(job, fh)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
               SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
               # -UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
               PYSPARK_SUBMIT_ARGS=f"--driver-java-options '-Djava.io.tmpdir={tmp} "
                                   f"-XX:-UsePerfData' pyspark-shell")
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "w") as log:
        spawn_at = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(BENCH_DIR, "worker.py"), job_path, result_path],
            cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _reap_group(proc.pid)
            proc.wait()
    if code != 0 or not os.path.exists(result_path):
        with open(log_path, errors="replace") as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"worker {'timed out' if code is None else f'exited {code}'}:\n{tail}")
    with open(result_path) as fh:
        return spawn_at, json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(REPO_ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    from perfbench import gen, oracle
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    ops = WORKLOADS[args.workload]
    # A traced run probes every layer, each on its owning workload's inputs.
    needed = sorted(WORKLOADS) if args.trace else [args.workload]
    inputs, manifests = {}, {}
    for w in needed:
        inputs[w], manifests[w] = gen.ensure_inputs(os.path.join(CACHE, "inputs"), w, args.seed)
    digests = oracle.ensure_digests(inputs[args.workload], manifests[args.workload],
                                    [op.name for op in ops])
    print(f"perfbench: inputs generated in {manifests[args.workload]['gen_s']:.2f} s, "
          f"oracle digests in {digests['oracle_s']:.2f} s (cached per seed)", file=sys.stderr)

    os.makedirs(os.path.join(CACHE, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(CACHE, "runs"))
    try:
        job = {"workload": args.workload, "inputs": inputs, "work_dir": run_dir,
               "digests": digests["ops"], "seconds": args.seconds, "trace": args.trace,
               "cpus": min(4, os.cpu_count() or 1)}
        spawn_at, res = run_worker(job, run_dir, deadline)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for name, c in res["checks"].items():
        if not c["ok"]:
            print(f"perfbench: {name} does not match its oracle: "
                  f"{c.get('error') or (c['got'], c['want'])}", file=sys.stderr)
    if args.trace:
        metrics = per_layer(res)
        report = os.path.join(CACHE, "traces", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(report), exist_ok=True)
        with open(report, "w") as fh:
            json.dump({k: res[k] for k in ("trace", "spans", "layer_self_s", "checks")},
                      fh, indent=1)
        print(f"perfbench: trace report in {os.path.relpath(report, REPO_ROOT)}",
              file=sys.stderr)
    else:
        metrics = end_to_end(spawn_at, res, len(ops))
        print("perfbench: pass wall/cpu " + " ".join(
            f"{p['wall']:.2f}/{p['cpu']:.1f}" for p in res["passes"])
            + f" (cold {res['cold']['wall']:.2f}/{res['cold']['cpu']:.1f})", file=sys.stderr)
        for op in ops:
            times = [p["ops"][op.name] for p in res["passes"] if op.name in p["ops"]]
            if times:
                print(f"perfbench: {op.name:34s} cold {res['cold']['ops'].get(op.name, 0):6.2f} s"
                      f"  warm " + " ".join(f"{t:.2f}" for t in times), file=sys.stderr)
    failed = sum(not c["ok"] for c in res["checks"].values())
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
