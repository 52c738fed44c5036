"""Time every query of the two registry module groups on the
benchmark's generated data, to choose and justify the op subsets of
``star_queries`` and ``corpus_ops``.

    python3 perfbench/survey.py [--passes 3] [--seed 0]

Run from the repository root. One session runs a cold pass and then
``--passes`` warm passes over all the group's queries (order rotated
per pass), then one traced pass for the job counts. Every output is
checked against its DuckDB oracle. Prints one line per query — module,
median warm build and collect time, share of the group's warm pass,
jobs launched while building and while collecting, check result — and
the selection ``registry_ops.select`` makes from those figures.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from registry_ops import GROUPS, PASS_BUDGET_S, WORKLOADS, RegistryWorkload, select  # noqa: E402
from run import PACKAGE, isolate, rotation, spark_conf, stop_spark  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--seed", type=int, default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"survey: run from the repository root ({PACKAGE}/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".bench_work", f"survey_{os.getpid()}")
    os.makedirs(work)
    try:
        isolate(root, work)
        from etl_football_analytics_pipeline_spark.plans import QUERIES
        from etl_football_analytics_pipeline_spark.session import get_spark
        from spans import Tracer

        module = {n: QUERIES[n].__module__.rsplit(".", 1)[-1] for n in QUERIES}
        everything = tuple(sorted(n for n in QUERIES
                                  if any(module[n] in g for g in GROUPS.values())))
        wl = RegistryWorkload(everything, work)
        wl.prepare()
        spark = get_spark(app_name="perfbench-survey", extra_conf=spark_conf(work))
        spark.sparkContext.setLogLevel("ERROR")
        try:
            off = Tracer(spark, "survey", enabled=False)
            on = Tracer(spark, "survey", enabled=True)
            times: dict[str, list[tuple[float, float]]] = {n: [] for n in everything}
            problems: dict[str, str] = {}
            jobs: dict[str, tuple[float, float]] = {}
            for p in range(args.passes + 2):
                traced = p == args.passes + 1
                res = wl.run_pass(spark, on if traced else off,
                                  rotation(everything, args.seed, p))
                wl.check_pending(res)
                for r in res:
                    if r.problem:
                        problems[r.name] = r.problem
                    if traced:
                        jobs[r.name] = (r.counts.get("plans.build_jobs", 0),
                                        r.counts.get("exec.jobs", 0))
                    elif p > 0:
                        times[r.name].append((r.build_s, r.collect_s))
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    warm = {n: (statistics.median(b for b, _c in v), statistics.median(c for _b, c in v))
            for n, v in times.items()}
    for wname, modules in GROUPS.items():
        ops = [n for n in everything if module[n] in modules]
        total = sum(sum(warm[n]) for n in ops)
        build = sum(warm[n][0] for n in ops)
        print(f"## {wname}: {len(ops)} queries, warm pass {total:.2f} s "
              f"(build {build:.2f} s, {sum(jobs[n][0] for n in ops):.0f} build jobs, "
              f"{sum(jobs[n][1] for n in ops):.0f} collect jobs)")
        for n in sorted(ops, key=lambda n: -sum(warm[n])):
            b, c = warm[n]
            print(f"{module[n]:10s} {n:28s} build {b:6.3f} collect {c:6.3f} "
                  f"share {(b + c) / total:6.1%} jobs {jobs[n][0]:3.0f}/{jobs[n][1]:3.0f} "
                  f"{problems.get(n, 'ok')[:80]}")
        chosen = select(ops, {n: sum(warm[n]) for n in ops}, module, PASS_BUDGET_S)
        cover = sum(sum(warm[n]) for n in chosen) / total
        cb = sum(warm[n][0] for n in chosen) / max(1e-9, sum(sum(warm[n]) for n in chosen))
        print(f"selected ({sum(sum(warm[n]) for n in chosen):.2f} s, {cover:.1%} of the "
              f"group's warm pass, build share {cb:.1%} vs {build / total:.1%}): "
              f"{', '.join(chosen)}")
        if set(chosen) != set(WORKLOADS[wname]):
            print(f"  differs from registry_ops.WORKLOADS[{wname!r}]")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
