"""Registry workloads: named queries built with ``QUERIES[name](spark,
sf_dir)`` and collected, each result checked against its DuckDB oracle.

``star_queries`` draws from ``plans/relational.py``, ``plans/analytics.py``
and ``plans/coverage.py`` (scans, joins, aggregates, windows: JVM work
with little plan-build and almost no Python). ``corpus_ops`` draws from
``plans/llm_ops.py`` and ``plans/quality.py`` (pandas-UDF kernels,
persisted IVF, BM25 and MinHash indexes, jobs launched while plans
build).
The sets are fixed; see ``perfbench/README.md`` for why they are
subsets of the two module groups.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import duckdb

from checks import compare
from tpch_gen import TABLES, generate

# generated at the row counts of the sf0.01 test tables (TESTDATA.md), from
# a fixed data seed as those are: the run's --seed drives the query order,
# so runs differ in order but not in data
SF = 0.01
DATA_SEED = 42

# chosen by ``select`` (below) from the warm per-query times that
# ``survey.py`` measures on this data; see perfbench/README.md
STAR_QUERIES = (
    "events_rollup_suite", "cast_parse_suite", "u1_union_by_name", "sketch_suite",
    "a3_a8_global_aggs",
)
CORPUS_OPS = (
    "dedup_minhash_suite", "dq_expectations_suite", "ann_ivf_topk", "text_ngram_suite",
)
WORKLOADS = {"star_queries": STAR_QUERIES, "corpus_ops": CORPUS_OPS}
# the plans modules each workload draws from
GROUPS = {
    "star_queries": ("relational", "analytics", "coverage"),
    "corpus_ops": ("llm_ops", "quality"),
}
# queries that read a build-once artifact, by artifact (built in set-up)
ARTIFACTS = {
    "ivf index": ("ann_ivf_topk",),
    "bm25 index": ("text_ngram_suite", "ann_cosine_topk"),
    "minhash index": ("dedup_minhash_suite",),
    "stream-merge target": ("events_rollup_suite",),
}
# warm seconds per pass (as survey.py measures them) that the time
# limit leaves each workload: 22 runs of each workload and 4 traced runs
# must finish within 3420 s, and each run's cold pass builds every
# artifact
PASS_BUDGET_S = 5.0


def select(ops, warm_s: dict[str, float], module: dict[str, str],
           budget_s: float) -> list[str]:
    """The op subset rule. Coverage first, at the least cost: the
    cheapest query of every build-once artifact the group uses, then of
    every module not yet covered. Then the heaviest remaining queries,
    by share of the group's warm pass, while the pass stays within the
    budget."""
    cheapest = sorted(ops, key=lambda n: warm_s[n])
    chosen: list[str] = []
    for users in ARTIFACTS.values():
        present = [n for n in cheapest if n in users]
        if present and not any(n in users for n in chosen):
            chosen.append(present[0])
    for m in sorted({module[n] for n in ops}):
        if not any(module[n] == m for n in chosen):
            chosen.append(next(n for n in cheapest if module[n] == m))
    used = sum(warm_s[n] for n in chosen)
    for n in reversed(cheapest):
        if n not in chosen and used + warm_s[n] <= budget_s:
            chosen.append(n)
            used += warm_s[n]
    return chosen


@dataclass
class OpResult:
    name: str
    latency_s: float
    build_s: float
    collect_s: float
    problem: str | None   # None when the output matched the oracle
    counts: dict[str, float] = field(default_factory=dict)


class Workload:
    """What ``run.py`` asks of a workload; the defaults fit the
    registry workloads."""

    ops: tuple[str, ...] = ()
    # one cold pass builds the artifacts; then at least two measured
    # passes, as the time limit (see PASS_BUDGET_S) allows. Run-to-run
    # spread comes from host load that changes between runs: over ten
    # runs, the mean of two measured passes spread no more than the
    # median of three
    warmup_passes = 1
    min_passes = 2
    untimed_s = 0.0     # check time inside the current pass
    end_to_end_extra: dict[str, str] = {}
    layer_extra: dict[str, str] = {}

    def end_to_end(self, passes) -> dict[str, float]:
        return {}

    def layers(self, traced) -> dict[str, float]:
        return {}

    def final_checks(self, spark) -> list[OpResult]:
        return []


class RegistryWorkload(Workload):
    """One closed-loop client running the workload's queries in turn."""

    def __init__(self, ops: tuple[str, ...], work_dir: str):
        self.ops = ops
        # relative to the checkout root (the cwd): relational._mirror_tag
        # turns the data path into a catalog table name, which a `-` in
        # the checkout's own location would make unparsable
        self.data_dir = os.path.relpath(os.path.join(work_dir, f"sf{SF}"))
        self.oracle: dict[str, tuple[list[str], list[tuple]]] = {}
        self._pending: list[tuple[str, list[str], list[tuple]]] = []

    def prepare(self) -> dict[str, object]:
        """Generate the tables and compute every oracle answer once
        (not timed)."""
        rows = generate(self.data_dir, DATA_SEED, SF)
        from etl_football_analytics_pipeline_spark.plans import ORACLES

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.data_dir, t)}.parquet'")
            for name in self.ops:
                res = con.execute(ORACLES[name])
                self.oracle[name] = ([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()
        return {"sf": SF, "rows": rows}

    def run_op(self, spark, tracer, name: str) -> OpResult:
        """Build plus collect of one query; the output is kept for
        ``check_pending`` so checking stays outside the timed pass."""
        from etl_football_analytics_pipeline_spark.plans import QUERIES

        with tracer.span(name) as root:
            t0 = time.perf_counter()
            try:
                with tracer.span("build", phase="build", op=name):
                    df = QUERIES[name](spark, self.data_dir)
                t1 = time.perf_counter()
                with tracer.span("collect", phase="collect", op=name):
                    rows = [tuple(r) for r in df.collect()]
                t2 = time.perf_counter()
                self._pending.append((name, df.columns, rows))
                problem = None
            except Exception as exc:  # noqa: BLE001 — one failed op must not end the run
                t1 = t2 = time.perf_counter()
                problem = f"{type(exc).__name__}: {exc}"[:300]
        counts = tracer.harvest(root) if root is not None else {}
        spark.catalog.clearCache()
        return OpResult(name, t2 - t0, t1 - t0, t2 - t1, problem, counts)

    def check_pending(self, results: list[OpResult]) -> None:
        """Compare the outputs kept since the last call with the oracle."""
        got = {name: (cols, rows) for name, cols, rows in self._pending}
        self._pending = []
        for r in results:
            if r.problem is None:
                cols, rows = got[r.name]
                want_cols, want_rows = self.oracle[r.name]
                r.problem = compare(cols, rows, want_cols, want_rows)

    def run_pass(self, spark, tracer, order: list[str]) -> list[OpResult]:
        return [self.run_op(spark, tracer, name) for name in order]
