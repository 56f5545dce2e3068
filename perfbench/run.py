"""Benchmark entry point: one workload per process, against local[nproc].

    python3 perfbench/run.py --workload sync_churn --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics of BENCHMARK.json; ``--trace 1`` wraps the engine's layers and
prints the per-layer metrics instead. ``--workload all`` runs every
workload untraced and then traced, prints the end-to-end metrics of
each with their units, and reports the tracing overhead (traced pass
time over untraced). The last line of standard output is always one
JSON object: correct, attempted, failed, metrics. Records of each run
(ops, checks, spans, host facts) go to .perfbench_results/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402
from perfbench.trace import Tracer, shuffle_bytes_by_group  # noqa: E402
from perfbench.workloads import WORKLOADS, Env  # noqa: E402
from wc_vector_indexing_spark.session import get_spark  # noqa: E402

RESULTS = os.path.join(ROOT, ".perfbench_results")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def start_spark(work: str, traced: bool):
    conf = {
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={work}",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        os.makedirs(os.path.join(work, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", cpus=nproc(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for every process under it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    below = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    proc.wait(timeout=120)
    deadline = time.time() + 60
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in below):
        time.sleep(0.1)


def host_facts(spark_version: str, seed: int) -> dict:
    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_version": spark_version,
        "python": sys.version.split()[0],
        "seed": seed,
    }


def run_one(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # every scratch file of the engine, Spark and the python workers stays
    # inside the checkout
    os.environ.update({
        "TMPDIR": work,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = work
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, traced)
        session_s = time.perf_counter() - t0
        try:
            tracer = Tracer(spark, traced)
            res = WORKLOADS[workload](Env(
                spark, tracer, seed, seconds, work, spark.sparkContext._gateway.proc.pid))
            res.extra["session_s"] = session_s
            facts = host_facts(spark.version, seed)
        finally:
            stop_spark(spark)
        shuffle = shuffle_bytes_by_group(os.path.join(work, "events")) if traced else {}
        e2e = metrics.end_to_end(tracer, res)
        layers = metrics.per_layer(tracer, res, shuffle) if traced else {}
        record = {
            "workload": workload, "traced": traced, "host": facts,
            "end_to_end": e2e, "per_layer": layers,
            "session_s": session_s, "setup_units_s": res.setup_units, "rounds_s": res.rounds,
            "checks": res.checks, "check_failures": res.check_failures,
            "ops": [{"op_id": o.op_id, "kind": o.kind, "wall_s": o.wall_s, "ok": o.ok,
                     "jobs": o.jobs, "stages": o.stages, "tasks": o.tasks, **o.attrs}
                    for o in tracer.ops],
            "cached_after_op": res.extra.get("cached_after_op", []),
            "peak_rss_mb": res.extra["peak_rss_mb"],
        }
        os.makedirs(RESULTS, exist_ok=True)
        stem = os.path.join(RESULTS, f"{workload}-s{seed}")
        if traced:
            tracer.dump(stem + "-spans.jsonl")
            try:
                with open(stem + "-t0.json") as f:
                    base = json.load(f)["end_to_end"]["pass_s"]
                record["trace_overhead_frac"] = e2e["pass_s"] / base - 1
            except FileNotFoundError:
                pass
        with open(stem + f"-t{int(traced)}.json", "w") as f:
            json.dump(record, f, indent=1)
        return record
    finally:
        shutil.rmtree(work, ignore_errors=True)


def result_line(record: dict, traced: bool) -> dict:
    s = spec()
    declared = s["per_layer"] if traced else s["end_to_end"]
    values = record["per_layer"] if traced else record["end_to_end"]
    failed = sum(1 for o in record["ops"] if not o["ok"])
    return {
        "correct": not record["check_failures"] and failed == 0,
        "attempted": len(record["ops"]),
        "failed": failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                    for m in declared},
    }


def run_all(seed: int, seconds: float) -> dict:
    """Every workload, untraced then traced, each in its own process."""
    units = {m["name"]: m["unit"] for m in spec()["end_to_end"]}
    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        for traced in (0, 1):
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(seed),
                 "--seconds", str(seconds), "--trace", str(traced)],
                stdout=subprocess.PIPE, text=True, check=True)
            line = json.loads(p.stdout.strip().splitlines()[-1])
            out["correct"] &= line["correct"]
            out["attempted"] += line["attempted"]
            out["failed"] += line["failed"]
        with open(os.path.join(RESULTS, f"{w}-s{seed}-t1.json")) as f:
            traced_rec = json.load(f)
        with open(os.path.join(RESULTS, f"{w}-s{seed}-t0.json")) as f:
            e2e = json.load(f)["end_to_end"]
        for name, v in e2e.items():
            print(f"{w:20s} {name:14s} {v:12.4f} {units[name]}")
            out["metrics"][f"{w}.{name}"] = {"value": v, "unit": units[name]}
        print(f"{w:20s} {'trace_overhead':14s} {traced_rec['trace_overhead_frac']:12.4f} "
              f"(traced pass_s / untraced - 1); per-layer: {w}-s{seed}-t1.json")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        line = run_all(args.seed, args.seconds)
    else:
        record = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
        for f in record["check_failures"]:
            print(f"CHECK FAILED {f}", file=sys.stderr)
        line = result_line(record, bool(args.trace))
        for name, m in line["metrics"].items():
            print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
