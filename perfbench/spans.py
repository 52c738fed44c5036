"""Spans and per-layer counters recorded around the benchmark's calls
into the engine.

Tracing is off unless a ``Tracer`` is created with ``enabled=True``.
When on, every Spark job the benchmark launches is tagged with the job
group ``<workload>/<op>/<phase>``; after each operation the tracer
reads the jobs of those groups from ``statusTracker()``, their stages
from the application status store and the Python-worker SQL metrics
from the SQL status store. Spans stay in memory and are written out
once, when the run ends. Both status stores are populated with the
Spark UI disabled.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# SQL metric name → (per-layer counter, unit kind)
PYTHON_SQL_METRICS = {
    "time to run Python workers": ("operators.python_run_s", "time"),
    "time to start Python workers": ("operators.python_start_s", "time"),
    "time to initialize Python workers": ("operators.python_start_s", "time"),
    "data sent to Python workers": ("operators.python_bytes_sent", "size"),
    "data returned from Python workers": ("operators.python_bytes_returned", "size"),
}
_PLAN_METRIC = re.compile(r"SQLPlanMetric\(([^,()]+),(\d+),(\w+)\)")
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def parse_sql_metric(text: str, kind: str) -> float:
    """Total of one formatted SQL metric value: either ``"9.3 s"`` or
    ``"total (min, med, max ...)\\n9.3 s (2.3 s, ...)"``. Times are
    returned in seconds, sizes in bytes."""
    line = text.split("\n")[-1].strip()
    number, unit = line.split(" (")[0].split()[:2]
    number = float(number.replace(",", ""))
    table = _TIME_UNITS if kind == "time" else _SIZE_UNITS
    return number * table[unit]


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    op_id: int
    start: float
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)


class Tracer:
    """Records spans and harvests Spark's status stores per operation.

    ``span()`` is a no-op context when tracing is off, so the timed
    code path is identical in both modes apart from the tagging."""

    def __init__(self, spark, workload: str, enabled: bool):
        self.spark = spark
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 0
        self._next_op = 0
        self._groups: list[tuple[str, str]] = []   # (phase, group) of the current op
        self._exec_seen = -1
        if enabled:
            self._sc = spark.sparkContext
            self._jsc = self._sc._jsc.sc()
            self._gw = self._sc._gateway
            self._sql_store = spark._jsparkSession.sharedState().statusStore()

    # ------------------------------------------------------------------ spans

    @contextmanager
    def span(self, name: str, phase: str | None = None, op: str | None = None):
        """One span; ``phase`` tags the Spark jobs launched inside it
        with the group ``<workload>/<op>/<phase>``."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._next_op += 1
            self._exec_seen = self._last_execution_id()
        s = Span(name, self._next_id, parent.span_id if parent else None,
                 self._next_op, time.perf_counter())
        self._next_id += 1
        self.spans.append(s)
        self._stack.append(s)
        group = None
        if phase is not None:
            group = f"{self.workload}/{op or name}/{phase}"
            self._groups.append((phase, group))
            self._sc.setJobGroup(group, group, False)
        try:
            yield s
        finally:
            if group is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            s.end = time.perf_counter()
            self._stack.pop()

    # ---------------------------------------------------------------- harvest

    def harvest(self, span: Span) -> dict[str, float]:
        """Attach the counters of every job group opened since the last
        harvest to ``span`` (the operation's root span) and return them."""
        if not self.enabled:
            return {}
        self._jsc.listenerBus().waitUntilEmpty()
        counts: dict[str, float] = {}
        tracker = self._sc.statusTracker()
        store = self._jsc.statusStore()
        for phase, group in self._groups:
            jobs = tracker.getJobIdsForGroup(group)
            key = "plans.build_jobs" if phase == "build" else "exec.jobs"
            counts[key] = counts.get(key, 0) + len(jobs)
            # stage work of both phases, so it covers the same jobs as
            # the Python-worker SQL metrics below
            for job_id in jobs:
                self._add_job_stages(store, job_id, counts)
        self._groups = []
        self._add_python_metrics(counts)
        span.counts.update(counts)
        return counts

    def _add_job_stages(self, store, job_id: int, counts: dict[str, float]) -> None:
        job = store.job(job_id)
        stage_ids = job.stageIds()
        empty_status = self._gw.jvm.java.util.ArrayList()
        no_quantiles = self._gw.new_array(self._gw.jvm.double, 0)
        for i in range(stage_ids.size()):
            attempts = store.stageData(int(stage_ids.apply(i)), False, empty_status,
                                       False, no_quantiles)
            for k in range(attempts.size()):
                st = attempts.apply(k)
                if st.status().toString() == "SKIPPED":
                    continue
                counts["exec.stages"] = counts.get("exec.stages", 0) + 1
                for key, value in (
                    ("exec.tasks", st.numTasks()),
                    ("exec.failed_tasks", st.numFailedTasks()),
                    ("exec.executor_run_s", st.executorRunTime() / 1e3),
                    ("exec.executor_cpu_s", st.executorCpuTime() / 1e9),
                    ("exec.input_bytes", st.inputBytes()),
                    ("exec.shuffle_read_bytes", st.shuffleReadBytes()),
                    ("exec.shuffle_write_bytes", st.shuffleWriteBytes()),
                    ("exec.spill_bytes", st.memoryBytesSpilled() + st.diskBytesSpilled()),
                ):
                    counts[key] = counts.get(key, 0) + value

    def _last_execution_id(self) -> int:
        count = self._sql_store.executionsCount()
        if count == 0:
            return -1
        return int(self._sql_store.executionsList(count - 1, 1).apply(0).executionId())

    def _add_python_metrics(self, counts: dict[str, float]) -> None:
        # an operator node shared by several executions of the op (a
        # cached or checkpointed frame) reports its accumulator in each
        # of them: count every accumulator once, at its largest value
        seen: dict[int, tuple[str, float]] = {}
        last = self._last_execution_id()
        for exec_id in range(self._exec_seen + 1, last + 1):
            found = self._sql_store.execution(exec_id)
            if found.isEmpty():
                continue
            wanted = [
                (int(acc), PYTHON_SQL_METRICS[name])
                for name, acc, _kind in _PLAN_METRIC.findall(found.get().metrics().toString())
                if name in PYTHON_SQL_METRICS
            ]
            if not wanted:
                continue
            values = self._sql_store.executionMetrics(exec_id)
            for acc, (key, kind) in wanted:
                text = values.get(acc)
                if text.isDefined():
                    value = parse_sql_metric(text.get(), kind)
                    if acc not in seen or seen[acc][1] < value:
                        seen[acc] = (key, value)
        for key, value in seen.values():
            counts[key] = counts.get(key, 0) + value
        self._exec_seen = last
