"""Runs one workload and prints its metrics; see README.md.

usage: python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a spark-graft checkout. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

from . import build, layers, metrics, oracle, stats
from .spans import build_tree
from .workloads import WORKLOADS, pass_orders

DEFAULT_SF_DIR = "/root/testdata/sf0.1"
HEAP = "3g"
MAX_PASSES = 64  # orders handed to the harness; it stops by time long before
BUILD_TIMEOUT_S = 600
# a run must end within 180 s; a normal one takes about 45
RUN_TIMEOUT_S = 120
ORACLE_TIMEOUT_S = 40
REQUIRED = ("src/main/scala/graft/SparkEntry.scala", "tools/check.py")


class BenchError(Exception):
    pass


def parse_args(argv):
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args(argv)


def git_commit(root):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        if out.returncode != 0:
            return None
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_harness(classpath, work, plan_lines, log):
    """Run one harness JVM on a plan; return its result record."""
    plan_path = os.path.join(work, "plan.txt")
    result_path = os.path.join(work, "result.json")
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()))
    cmd = build.java_command(classpath, HEAP, work, "perfbench.Harness", plan_path, result_path)
    with open(plan_path, "w") as fh:
        fh.write("\n".join(plan_lines + [f"spawn_epoch_s={time.time()!r}"]) + "\n")
    with open(log, "ab") as err:
        proc = subprocess.run(cmd, env=env, stdout=err, stderr=err, timeout=RUN_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(result_path):
        with open(log, errors="replace") as fh:
            tail = fh.read()[-3000:]
        raise BenchError(f"harness exited with {proc.returncode}:\n{tail}")
    with open(result_path) as fh:
        return json.load(fh)


def outcome(passes, verdicts):
    """(attempted, failed runs, {query: reason}) over every pass. A query
    that threw in any pass or whose output mismatched its oracle is failed:
    all its runs count as failed and none of them is timed."""
    bad = {n: f"oracle: {d}" for n, (ok, d) in verdicts.items() if not ok}
    for p in passes:
        for q in p["queries"]:
            if q["error"] is not None:
                bad[q["name"]] = f"threw: {q['error']}"
    runs = [q for p in passes for q in p["queries"]]
    return len(runs), sum(q["name"] in bad for q in runs), bad


def pass_wall(p, good):
    return sum(q["total_s"] for q in p["queries"] if q["name"] in good)


def end_to_end(result, good):
    passes = result["passes"]
    timed = [p for p in passes if not p["cold"]]
    samples = [q["total_s"] for p in timed for q in p["queries"] if q["name"] in good]
    m = {
        "setup_s": result["setup"]["setup_s"],
        "cold_wall_s": pass_wall(passes[0], good),
        "wall_s": stats.median([pass_wall(p, good) for p in timed]),
        "heap_peak_mb": result["heap_peak_bytes"] / 2 ** 20,
    }
    return {k: m[k] for k in metrics.END_TO_END}, len(samples)


def per_layer(result, good, fail_ratio):
    passes = result["passes"]
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["cold"] and not p["traced"]]
    per_pass = [layers.pass_layers(p, result["cpus"]) for p in traced]
    m = {k: stats.median([pp[k] for pp in per_pass]) for k in per_pass[0]}
    m["session.start_s"] = result["setup"]["session_start_s"]
    m["functions.register_s"] = result["setup"]["functions_register_s"]
    samples = [q["total_s"] for p in untraced for q in p["queries"] if q["name"] in good]
    m["query_p50_s"] = stats.median(samples)
    m["query_p90_s"] = stats.percentile(samples, 90)
    m["query.samples"] = len(samples)
    batch = [s for p in traced for s in layers.batch_seconds(p)]
    m["batch_p50_s"] = stats.percentile(batch, 50) if batch else 0.0
    m["batch_p90_s"] = stats.percentile(batch, 90) if batch else 0.0
    rows = sum(b["input_rows"] for p in traced for b in p["trace"]["batches"])
    m["stream_rows_per_s"] = rows / sum(batch) if batch and sum(batch) > 0 else 0.0
    m["fail_ratio"] = fail_ratio
    m["trace.overhead"] = (stats.median([pass_wall(p, good) for p in traced])
                           / stats.median([pass_wall(p, good) for p in untraced]))
    return {k: m[k] for k in metrics.PER_LAYER}


def main(argv=None):
    args = parse_args(argv)
    # a terminated run still stops its JVM (subprocess.run kills the child
    # on any exception) and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    missing = [r for r in REQUIRED if not os.path.isfile(os.path.join(root, r))]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found; run from the root of a "
              "spark-graft checkout", file=sys.stderr)
        return 2
    sf_dir = os.environ.get("PERFBENCH_SF_DIR", DEFAULT_SF_DIR)
    if not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
        print(f"perfbench: no test data at {sf_dir}", file=sys.stderr)
        return 2
    names = WORKLOADS[args.workload]
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    bench_work = os.path.join(root, ".bench_work")
    work = os.path.join(bench_work, f"{tag}-{os.getpid()}")
    results = os.path.join(bench_work, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    log = os.path.join(results, tag + ".log")
    if os.path.exists(log):
        os.remove(log)
    try:
        try:
            classpath, source = build.ensure_built(root, BUILD_TIMEOUT_S)
        except (RuntimeError, subprocess.SubprocessError) as e:
            raise BenchError(str(e))
        out_dir = os.path.join(work, "out")
        plan = [f"sf_dir={sf_dir}", f"out_dir={out_dir}", f"seconds={args.seconds}",
                f"trace={args.trace}"]
        plan += ["pass=" + ",".join(o) for o in pass_orders(names, args.seed, MAX_PASSES)]
        t0 = time.monotonic()
        result = run_harness(classpath, work, plan, log)
        t1 = time.monotonic()
        verdicts = oracle.check(root, sf_dir, out_dir, names, ORACLE_TIMEOUT_S)
        phases = {"harness_s": t1 - t0, "oracle_s": time.monotonic() - t1}
    except (BenchError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed, bad = outcome(result["passes"], verdicts)
    good = set(names) - set(bad)
    if not good:
        print("perfbench: every query failed: " + json.dumps(bad), file=sys.stderr)
        return 1
    e2e, n_samples = end_to_end(result, good)
    values = per_layer(result, good, failed / attempted) if args.trace else e2e
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "cpus": result["cpus"], "heap": HEAP,
        "heap_max_bytes": result["heap_max_bytes"], "sf_dir": sf_dir,
        "commit": git_commit(root), "source_hash": source,
        "spark": result["spark_version"], "java": result["java_version"],
        "queries": names, "timed_passes": sum(not p["cold"] for p in result["passes"]),
        "query_samples": n_samples, "failed_queries": bad, "phases": phases,
    }
    spans = {p["index"]: [vars(s) for s in build_tree(p)] for p in result["passes"] if p["traced"]}
    with open(os.path.join(results, tag + ".json"), "w") as fh:
        json.dump({"run": record, "metrics": values, "spans": spans, "raw": result}, fh)

    print("run " + json.dumps(record, sort_keys=True))
    for name in names:
        status = bad.get(name, "ok")
        times = [q["total_s"] for p in result["passes"] if not p["cold"]
                 for q in p["queries"] if q["name"] == name]
        print(f"query {name:28s} median {stats.median(times):8.3f} s  {status}")
    for k, v in values.items():
        print(f"metric {k} = {v:.6g} {metrics.unit(k)}")
    if args.trace and values["query.samples"] < stats.samples_needed(90):
        print(f"note query_p90_s rests on {values['query.samples']} samples; "
              f"a supported p90 needs {stats.samples_needed(90)}")
    print(json.dumps({
        "correct": not bad, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": metrics.unit(k)} for k, v in values.items()},
    }))
    return 0
