"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One run:

1. makes a fresh work directory under ``.bench_work/`` and points
   ``TMPDIR``, Spark's local dirs, the JVM temp dir and the SQL
   warehouse into it, so build-once artifacts (``user_cache_dir``
   indexes) are rebuilt by every run and nothing outside the checkout
   is read or written;
2. generates the workload's inputs and computes the expected answers
   (not timed); ``--seed`` drives the football generator and the
   per-pass query order;
3. starts the session and runs the workload's warm-up passes, the first
   of which builds the persisted artifacts (``setup_s``);
4. runs passes in a closed loop, one client, until ``--seconds`` have
   passed and the workload's minimum of passes is done; the query order is
   rotated per pass from the seed;
5. checks every output, writes a sidecar record to ``.bench_out/``
   and prints one JSON line: ``correct``, ``attempted``, ``failed``
   and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
   metrics with ``--trace 1``).

It exits 1 when any output is wrong or any operation failed, and 2
when the engine package is not in the current directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

PACKAGE = "etl_football_analytics_pipeline_spark"
END_TO_END = {"pass_s": "s", "op_geomean_s": "s", "op_p90_s": "s", "setup_s": "s"}
PER_LAYER = {
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "exec.collect_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.input_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "operators.python_run_s": "s",
    "operators.python_start_s": "s",
    "operators.python_bytes_sent": "B",
    "operators.python_bytes_returned": "B",
    "trace.untimed_gap_s": "s",
    "trace.overhead_s": "s",
}


def isolate(root: str, work: str) -> dict[str, str]:
    """Environment for this run; must be applied before the JVM starts
    (Python workers inherit the JVM's environment)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    cpus = len(os.sched_getaffinity(0))
    try:
        ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    except (ValueError, OSError):
        ram_gb = 8.0
    settings = {
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        # python workers do not inherit this process's sys.path
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        # session.py defaults to local[32] and a 48g heap
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(8, int(ram_gb // 5)))}g",
        # every JVM (the spark-submit launcher too): temp files in the
        # work dir and no hsperfdata under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(settings)
    tempfile.tempdir = None
    return settings


def spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # the heap starts at full size, so GC pressure does not fall as
        # the heap grows across the measured passes
        "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired; never leave it running
            proc.kill()
            proc.wait()


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: always one measured sample."""
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q * len(ordered)) - 1)]


def op_geomean(passes) -> float:
    """Geometric mean over operations of each one's median latency.

    With a handful of operation types the median sample jumps between
    types from run to run; the geometric mean of per-operation medians
    (the TPC-H power-metric convention) weighs every operation alike."""
    per_op: dict[str, list[float]] = {}
    for _t, _s, res in passes:
        for r in res:
            per_op.setdefault(r.name, []).append(r.latency_s)
    logs = [math.log(statistics.median(v)) for v in per_op.values()]
    return math.exp(sum(logs) / len(logs))


def rotation(ops: tuple[str, ...], seed: int, p: int) -> list[str]:
    """Per-pass order: a seeded base offset, then half the list per
    pass, so no query sits at a pass edge in every pass."""
    n = len(ops)
    shift = (random.Random(seed).randrange(n) + p * (n // 2)) % n
    return list(ops[shift:] + ops[:shift])


def make_workload(name: str, work: str, seed: int):
    from registry_ops import WORKLOADS, RegistryWorkload

    if name in WORKLOADS:
        return RegistryWorkload(WORKLOADS[name], work)
    if name == "football_etl":
        from football import FootballWorkload

        return FootballWorkload(work, seed)
    raise SystemExit(f"unknown workload {name!r}")


def run(args, root: str, work: str) -> tuple[dict, dict]:
    from hostnoise import HostNoise
    from spans import Tracer

    noise = HostNoise()
    settings = isolate(root, work)
    wl = make_workload(args.workload, work, args.seed)
    inputs = wl.prepare()

    from etl_football_analytics_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=spark_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    off = Tracer(spark, args.workload, enabled=False)
    on = Tracer(spark, args.workload, enabled=bool(args.trace))
    all_results = []
    try:
        setup_s = session_s
        warm_up = []
        for p in range(wl.warmup_passes):
            t1 = time.perf_counter()
            warm = wl.run_pass(spark, off, rotation(wl.ops, args.seed, p))
            setup_s += time.perf_counter() - t1 - wl.untimed_s
            wl.check_pending(warm)
            warm_up.append({r.name: [r.build_s, r.collect_s] for r in warm})
            all_results += warm

        passes: list[tuple[bool, float, list]] = []
        # with tracing: at least one untraced and one traced pass
        min_passes = max(wl.min_passes, 2) if args.trace else wl.min_passes
        deadline = time.perf_counter() + args.seconds
        while len(passes) < min_passes or time.perf_counter() < deadline:
            traced = bool(args.trace) and len(passes) % 2 == 1
            order = rotation(wl.ops, args.seed, wl.warmup_passes + len(passes))
            tp = time.perf_counter()
            res = wl.run_pass(spark, on if traced else off, order)
            passes.append((traced, time.perf_counter() - tp - wl.untimed_s, res))
            wl.check_pending(res)
            all_results += res
        all_results += wl.final_checks(spark)
    finally:
        stop_spark(spark)

    failures = [(r.name, r.problem) for r in all_results if r.problem is not None]
    if args.trace:
        metrics = layer_metrics(passes, session_s)
        metrics.update(wl.layers([(s, res) for t, s, res in passes if t]))
        units = {**PER_LAYER, **wl.layer_extra}
    else:
        lat = [r.latency_s for _t, _s, res in passes for r in res]
        metrics = {
            "pass_s": statistics.median(s for _t, s, _r in passes),
            "op_geomean_s": op_geomean(passes),
            "op_p90_s": percentile(lat, 0.9),
            "setup_s": setup_s,
        }
        metrics.update(wl.end_to_end(passes))
        units = {**END_TO_END, **wl.end_to_end_extra}
    result = {
        "correct": not failures,
        "attempted": len(all_results),
        "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    sidecar = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "settings": settings,
        "inputs": inputs,
        "host_noise": noise.summary(),
        "setup_s": setup_s,
        "session_start_s": session_s,
        "warm_up": warm_up,
        "passes": [{"traced": t, "pass_s": s,
                    "ops": {r.name: [r.build_s, r.collect_s] for r in res}}
                   for t, s, res in passes],
        "failures": failures,
    }
    if args.trace:
        sidecar["spans"] = [s.__dict__ for s in on.spans]
    return result, sidecar


def layer_metrics(passes, session_s: float) -> dict[str, float]:
    traced = [(s, res) for t, s, res in passes if t]
    plain = [s for t, s, _res in passes if not t]
    sums: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    gaps = []
    for pass_s, res in traced:
        sums["plans.build_s"] += sum(r.build_s for r in res)
        sums["exec.collect_s"] += sum(r.collect_s for r in res)
        gaps.append(pass_s - sum(r.latency_s for r in res))
        for r in res:
            for key, value in r.counts.items():
                sums[key] = sums.get(key, 0.0) + value
    n = len(traced)
    out = {k: v / n for k, v in sums.items()}
    out["session.start_s"] = session_s
    out["trace.untimed_gap_s"] = statistics.median(gaps)
    out["trace.overhead_s"] = (statistics.median(s for s, _r in traced)
                               - statistics.median(plain))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: run from the repository root ({PACKAGE}/ not found in {root})",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".bench_work", f"{args.workload}_{args.seed}_{os.getpid()}")
    os.makedirs(work)
    try:
        result, sidecar = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(sidecar, fh, indent=1, default=str)
    for name, problem in sidecar["failures"]:
        print(f"# FAILED {name}: {problem}", file=sys.stderr)
    print("# " + json.dumps({k: sidecar[k] for k in
                             ("workload", "seed", "settings", "host_noise")}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
