"""Dedup benchmark: one workload per invocation, driven from outside the
engine through its product entry points.

    python3 perfbench/run.py --workload mixed-skew --seed 1 --seconds 5 --trace 0

Run it from the repository root. A run sets up (Spark session, inputs and
oracle from the seed, untimed warm-up calls), then makes the workload's
timed calls, all of them at least once and more until `--seconds` have
passed, checking every output against the oracle. The last line of stdout
is one JSON object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics with `--trace 0`,
the per-layer metrics with `--trace 1`. A traced run turns on Spark's event
log, keeps spans in memory and writes them, with the Spark jobs under each,
to `.perfbench_work/traces/`.

Call costs are CPU seconds of this process, the Spark JVM and its Python
workers, medians over a run's calls. On a shared host the machine's virtual
CPUs are taken from it for minutes at a time: on a 4-vCPU VM the wall times
of the same calls spread 15-40% between runs, their CPU seconds about half
as much. Each call's wall and CPU seconds are printed before the result
line.

Everything a run writes stays under `.perfbench_work/` in the checkout:
Spark's local dirs and JVM temp files go there (on disk, not in RAM), and the
JVM heap is sized from the machine's memory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

T_START = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

END_TO_END_UNITS = {
    "docs_per_cpu_s": "docs/cpu-s",
    "side_call_cpu_s": "s",
    "dup_pair_recall": "ratio",
    "pair_precision": "ratio",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
STAGE_LAYERS = (
    "signatures",
    "candidates",
    "verify",
    "clusters",
    "simhash",
    "substring",
    "ingest",
    "probe",
)
STAGE_UNITS = {
    "wall_s": "s",
    "self_s": "s",
    "jobs": "count",
    "task_s": "s",
    "python_worker_s": "s",
    "jvm_cpu_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "max_task_s": "s",
    "median_task_s": "s",
}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    **{f"{layer}.{k}": u for layer in STAGE_LAYERS for k, u in STAGE_UNITS.items()},
    "candidates.n_pairs": "count",
    "candidates.max_bucket": "count",
    "candidates.yield": "ratio",
    "verify.n_pairs": "count",
    "store.bytes_per_doc": "B",
    "kernels.shingle_mb_per_s": "MB/s",
    "kernels.sketch_ns_per_shingle": "ns",
    "bench.self_s": "s",
    "trace.overhead_s": "s",
}


def pin_environment(run_dir: str) -> dict[str, str]:
    """An eighth of the machine's memory for the Spark JVM heap; Spark's
    local dirs and JVM temp files on disk inside the checkout; one local
    core per CPU this process may run on."""
    with open("/proc/meminfo") as f:
        mem_kib = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    tmp = os.path.join(run_dir, "tmp")
    env = {
        "SPARK_DRIVER_MEMORY": f"{mem_kib // 8192}m",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "TMPDIR": tmp,
        # every JVM Spark starts, the launcher too: temp files in the
        # checkout, no hsperfdata file in the system temp directory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[key], exist_ok=True)
    os.environ.update(env)
    return env


def start_session(run_dir: str, event_log: str | None):
    from minhash_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # The whole heap from the start: peak RSS then does not depend on
        # when the JVM chose to grow it. C1 compilation only: a run is too
        # short for C2 to reach its steady state, and while it compiles, a
        # side call's CPU time falls from 12-14 s to 7 s over its first ten
        # calls and the compiler threads compete with the calls for the
        # cores; with C1 the warm calls' time is flat from the first.
        "spark.driver.extraJavaOptions": (
            f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -XX:TieredStopAtLevel=1"
        ),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark("perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def untraced_record(workload: str) -> str:
    return os.path.join(WORK, "untraced", f"{workload}.json")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "minhash_spark")):
        print(f"no minhash_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if args.trace and not os.path.exists(untraced_record(args.workload)):
        # the tracing overhead is measured against an untraced run
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload]
        cmd += ["--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        subprocess.run(cmd, cwd=ROOT, check=True, stdout=subprocess.DEVNULL)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    print("environment " + json.dumps(pin_environment(run_dir)), flush=True)
    try:
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def run(args, run_dir: str) -> dict:
    from perfbench import data
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    event_log = os.path.join(run_dir, "eventlog") if args.trace else None
    wl = WORKLOADS[args.workload](Tracer(), run_dir, os.path.join(WORK, "cache"), args.seed)
    with ThreadPoolExecutor(1) as pool:
        prepared = pool.submit(wl.prepare)
        t0 = time.time()
        spark = start_session(run_dir, event_log)
        session_s = time.time() - t0
    try:
        prepared.result()
        wl.spark = spark
        wl.setup()
        t0 = time.time()
        wl.warmup()
        warmup_s = time.time() - t0
        setup_s = time.time() - T_START
        print(
            f"set-up {setup_s:.2f} s, session start {session_s:.2f} s, warm-up {warmup_s:.2f} s",
            flush=True,
        )

        calls = wl.calls()
        wl.tracer = tracer = Tracer(spark if args.trace else None)
        wl.recalls, wl.precisions = [], []
        walls: dict[str, list[float]] = {name: [] for name, _ in calls}
        docs = {}
        cpus: dict[str, list[float]] = {name: [] for name, _ in calls}
        attempted = failed = 0
        with data.PeakRss() as rss, tracer.span("workload"):
            t_begin = time.time()
            while attempted < len(calls) or time.time() - t_begin < args.seconds:
                name, call = calls[attempted % len(calls)]
                attempted += 1
                try:
                    n, seconds, cpu = call()
                except Exception:  # a failed call is counted, and the run goes on
                    print(f"{name} call failed:\n{traceback.format_exc()}", file=sys.stderr)
                    failed += 1
                    continue
                walls[name].append(seconds)
                cpus[name].append(cpu)
                docs[name] = n
    finally:
        stop_session(spark)

    print(f"call wall seconds {json.dumps(walls)}", flush=True)
    print(f"call CPU seconds {json.dumps(cpus)}", flush=True)
    main_name, side_name = wl.main_name, wl.side_name
    ok = bool(walls[main_name]) and bool(walls[side_name])
    if not args.trace:
        metrics = {
            "docs_per_cpu_s": docs[main_name] / statistics.median(cpus[main_name]) if ok else 0.0,
            "side_call_cpu_s": statistics.median(cpus[side_name]) if ok else 0.0,
            "dup_pair_recall": min(wl.recalls, default=0.0),
            "pair_precision": min(wl.precisions, default=0.0),
            "peak_rss_mb": rss.peak_bytes / 1e6,
            "setup_s": setup_s,
        }
        units = END_TO_END_UNITS
        if ok:
            os.makedirs(os.path.dirname(untraced_record(args.workload)), exist_ok=True)
            with open(untraced_record(args.workload), "w") as f:
                json.dump({"seed": args.seed, "main_call_s": walls[main_name]}, f)
    else:
        tracer.attach_event_log(event_log)
        tracer.write(
            os.path.join(WORK, "traces", f"{args.workload}-{args.seed}-{tracer.run_id}.json")
        )
        metrics = layer_metrics(tracer, wl, session_s)
        with open(untraced_record(args.workload)) as f:
            untraced = json.load(f)["main_call_s"]
        metrics["trace.overhead_s"] = (
            statistics.median(walls[main_name]) - statistics.median(untraced) if ok else 0.0
        )
        units = PER_LAYER_UNITS
    return {
        "correct": ok and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def layer_metrics(tracer, wl, session_s: float) -> dict[str, float]:
    """Per-layer metrics of a traced run. Stage layers report per call: wall
    and self time, and the event-log counters of the jobs under them. A
    layer the workload does not call reads 0."""
    from perfbench.workloads import kernel_rates

    self_s = tracer.self_seconds()
    metrics = {"session.start_s": session_s}
    for layer in STAGE_LAYERS:
        calls = sum(1 for sp in tracer.spans if sp["name"] == layer) or 1
        metrics[f"{layer}.wall_s"] = tracer.wall_seconds(layer) / calls
        metrics[f"{layer}.self_s"] = self_s.get(layer, 0.0) / calls
        for name, value in tracer.counters(layer).items():
            per_call = name not in ("max_task_s", "median_task_s")
            metrics[f"{layer}.{name}"] = value / calls if per_call else value
    for name in ("candidates.n_pairs", "candidates.max_bucket", "candidates.yield", "verify.n_pairs"):
        metrics[name] = float(wl.layer_counts.get(name, 0.0))
    metrics["store.bytes_per_doc"] = wl.store_bytes_per_doc
    metrics.update(kernel_rates(wl.texts[:200], wl.cfg))
    metrics["bench.self_s"] = self_s.get("workload", 0.0)
    return metrics


if __name__ == "__main__":
    sys.exit(main())
