"""Run one benchmark workload in this process and print its result.

Usage (from the repository root):

    python3 perfbench/run.py --workload kg_query --seed 1 --seconds 8 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Inputs are generated from ``--seed`` under ``.perfbench_work/`` in the
repository root, which is removed when the run ends.  A record of the
run (host stamps, every metric, op samples, output checks and, when
traced, the spans) is written to a uniquely named file under
``.perfbench_runs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_DIR = os.path.join(ROOT, "remove_na_lgbtiq_queer_knowledge_graph_spark")
# Spark task threads: two leave cores of a 4-core host to the JVM's
# compiler and GC threads and to the Python process (README.md)
MAX_CPUS = 2


def cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop that touches no engine code:
    a reading of host speed, recorded beside the metrics and never used
    to normalize them."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    steal = fields[7] if len(fields) > 7 else 0
    # guest time is already counted in user/nice
    return steal, sum(fields[:8])


def driver_memory() -> str:
    """A driver heap that fits the host: a quarter of physical memory,
    at most 2 GiB (the largest output a run collects is ~35k rows)."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return "2g"
    return f"{max(min(total // 4, 2 << 30) >> 20, 512)}m"


def pin_environment(work: str) -> dict[str, str]:
    """The engine's existing knobs, set for this run before the session
    starts: cores within the host, a driver heap that fits it, and every
    scratch, spill and temp path inside the run's work directory."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    for sub in ("tmp", "scratch", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    pins = {
        "SPARK_GRAFT_CPUS": str(min(MAX_CPUS, nproc)),
        "SPARK_DRIVER_MEM": driver_memory(),
        "SPARK_GRAFT_SCRATCH_ROOT": os.path.join(work, "scratch"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # no hsperfdata file: the JVM writes it to /tmp whatever the
        # temp dir is set to
        "PYSPARK_SUBMIT_ARGS": "--driver-java-options "
            f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell",
    }
    os.environ.update(pins)
    return pins


def stop_spark() -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - fall back to killing it
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    t_main = time.perf_counter()
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(ENGINE_DIR):
        print(f"engine package not found at {ENGINE_DIR}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads
    from perfbench.spans import Tracer
    from perfbench.stats import tail_percentile

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run_id = (f"{args.workload}-seed{args.seed}-trace{args.trace}-"
              f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    stamps = {"seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "nproc": len(os.sched_getaffinity(0)),
              "loadavg_before": list(os.getloadavg()),
              "cpu_probe_start_s": cpu_probe()}
    steal0, total0 = cpu_ticks()
    stamps["pins"] = pin_environment(work)

    run = workloads.Run(work=work, seed=args.seed, seconds=args.seconds,
                        tracer=Tracer(bool(args.trace)))
    try:
        workloads.WORKLOADS[args.workload](run)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    steal1, total1 = cpu_ticks()
    stamps["steal_share"] = ((steal1 - steal0) / (total1 - total0)
                             if total1 > total0 else 0.0)
    stamps["loadavg_after"] = list(os.getloadavg())
    stamps["cpu_probe_end_s"] = cpu_probe()

    n = len(run.op_times)
    failed = sum(run.op_failed)
    e2e = run.end_to_end()
    layers = run.per_layer() if args.trace else {}
    shown, units = ((layers, workloads.PER_LAYER) if args.trace
                    else (e2e, workloads.END_TO_END))
    result = {
        "correct": failed == 0 and bool(run.checks)
                   and all(run.checks.values()),
        "attempted": n,
        "failed": failed,
        "metrics": {k: {"value": shown[k], "unit": units[k]} for k in units},
    }

    record = {
        "workload": args.workload, "stamps": stamps,
        "end_to_end": e2e, "per_layer": layers,
        "op_tail_pct": tail_percentile(n),
        "setup_reps_s": run.setup_reps, "session_s": run.session_s,
        "ops": [{"label": lab, "s": t, "failed": f} for lab, t, f
                in zip(run.op_labels, run.op_times, run.op_failed)],
        "checks": run.checks, "spark_counts": run.counts,
        "phases_s": run.phases,
        "run_wall_s": time.perf_counter() - t_main,
        "spans": run.tracer.as_dicts(),
        "result": result,
    }
    runs_dir = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs_dir, exist_ok=True)
    path = os.path.join(runs_dir, f"{run_id}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    print(f"run record: {path}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
