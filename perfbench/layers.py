"""Measurement helpers for the benchmark: an in-memory span recorder,
readers of Spark's status stores, and the statistics the end-to-end
metrics are computed with.

Every reader observes the program from outside: it reads the stores
Spark keeps for the session (job, stage, SQL-execution and storage
status) after a query ran, and attributes what it finds to that query
through the job group the benchmark set before calling it.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from dataclasses import asdict, dataclass, field

# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    trace_id: str
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """Spans kept in memory and written out once, when the run ends.

    A disabled tracer records nothing, so the untraced run pays one
    attribute check per span."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    def start(self, name: str, trace_id: str = "") -> Span | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        span = Span(
            span_id=len(self.spans),
            name=name,
            parent=parent.span_id if parent else None,
            trace_id=trace_id or (parent.trace_id if parent else ""),
            start=time.perf_counter(),
        )
        self.spans.append(span)
        self._stack.append(span)
        return span

    def end(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        popped = self._stack.pop()
        if popped is not span:
            raise RuntimeError(f"span {span.name} ended out of order")

    def unwind(self, span: Span | None) -> None:
        """End ``span`` and every child span an exception left open."""
        if span is None:
            return
        while self._stack:
            top = self._stack.pop()
            top.end = time.perf_counter()
            if top is span:
                return

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name: each span's duration minus the
    part of its interval that its child spans cover."""
    covered: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            covered.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        busy = 0.0
        cursor = s.start
        for lo, hi in sorted(covered.get(s.span_id, [])):
            lo, hi = max(lo, cursor, s.start), min(hi, s.end)
            if hi > lo:
                busy += hi - lo
            cursor = max(cursor, hi)
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - busy
    return out


# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def rows_per_s(rows_per_pass: int, hot_pass_s: float) -> float:
    """Input rows read per pass over the hot pass time."""
    if hot_pass_s <= 0:
        raise ValueError("hot pass time must be positive")
    return rows_per_pass / hot_pass_s


# ---------------------------------------------------------------------------
# SQL metric strings
# ---------------------------------------------------------------------------

_TIME_UNITS = {"ns": 1e-9, "µs": 1e-6, "us": 1e-6, "ms": 1e-3, "s": 1.0,
               "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40, "PiB": 1 << 50, "EiB": 1 << 60}
_VALUE = re.compile(r"^\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-zµ]*)")


def parse_sql_metric(text: str) -> float:
    """A SQL metric's display string as a number in base units:
    seconds for timings, bytes for sizes, the count for sums.

    Spark renders one value (``"2.0 s"``, ``"15.2 KiB"``, ``"1,024"``)
    or, over several tasks, a ``total (min, med, max ...)`` header line
    followed by ``"<total> (<min>, <med>, <max> ...)"``; the total is
    returned."""
    lines = text.strip().splitlines()
    m = _VALUE.match(lines[-1]) if lines else None
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return number
    if unit in _TIME_UNITS:
        return number * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return number * _SIZE_UNITS[unit]
    raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")


# ---------------------------------------------------------------------------
# Spark status readers
# ---------------------------------------------------------------------------

PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "MapInPandas", "MapInArrow",
                "AggregateInPandas", "WindowInPandas")
# Python-node SQL metric display names -> per-layer metric keys
UDF_METRICS = {
    "time to run Python workers": "udf.run_s",
    "time to start Python workers": "udf.start_s",
    "time to initialize Python workers": "udf.init_s",
    "data sent to Python workers": "udf.sent_mb",
    "number of output rows": "udf.rows",
}
_MB = float(1 << 20)


def plan_counts(df) -> dict[str, float]:
    """Force the DataFrame's physical plan, then read its Catalyst phase
    times and count the plan's nodes and exchanges."""
    qe = df._jdf.queryExecution()
    tree = qe.executedPlan().treeString()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)
        out[f"catalyst.{phase}_ms"] = (
            float(summary.get().durationMs()) if summary.isDefined() else 0.0
        )
    nodes = [ln for ln in tree.splitlines() if re.match(r"^[\s:|+-]*[A-Z]\w*", ln)]
    out["catalyst.plan_nodes"] = float(len(nodes))
    out["catalyst.plan_exchanges"] = float(
        sum(1 for ln in nodes if re.match(r"^[\s:|+-]*(\w*Exchange)\b", ln))
    )
    return out


def group_jobs(sc, group: str) -> list[int]:
    return list(sc.statusTracker().getJobIdsForGroup(group))


def stage_metrics(sc, job_ids: list[int]) -> dict[str, float]:
    """Sum the completed stages of ``job_ids`` from the status store."""
    from py4j.protocol import Py4JJavaError

    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stage_ids = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict.fromkeys(
        ("exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s",
         "exec.gc_s", "exec.shuffle_write_mb", "exec.shuffle_read_mb",
         "exec.spill_mb", "exec.input_mb"),
        0.0,
    )
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage that never ran has no record
            continue
        if st.status().toString() != "COMPLETE":
            continue
        out["exec.stages"] += 1
        out["exec.tasks"] += st.numTasks()
        out["exec.task_run_s"] += st.executorRunTime() / 1e3
        out["exec.task_cpu_s"] += st.executorCpuTime() / 1e9
        out["exec.gc_s"] += st.jvmGcTime() / 1e3
        out["exec.shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
        out["exec.shuffle_read_mb"] += st.shuffleReadBytes() / _MB
        out["exec.spill_mb"] += (
            st.memoryBytesSpilled() + st.diskBytesSpilled()
        ) / _MB
        out["exec.input_mb"] += st.inputBytes() / _MB
    return out


def sql_execution_count(spark) -> int:
    return int(spark._jsparkSession.sharedState().statusStore().executionsCount())


def udf_metrics(spark, first_execution: int, job_ids: list[int]) -> dict[str, float]:
    """Python-node SQL metrics of the SQL executions, listed from
    ``first_execution`` on, that ran any of ``job_ids``."""
    store = spark._jsparkSession.sharedState().statusStore()
    total = int(store.executionsCount())
    wanted = set(job_ids)
    out = {"udf.nodes": 0.0} | dict.fromkeys(UDF_METRICS.values(), 0.0)
    executions = store.executionsList(first_execution, total - first_execution)
    it = executions.iterator()
    while it.hasNext():
        ex = it.next()
        ran = {int(j) for j in json.loads(
            "[" + ex.jobs().keySet().mkString(",") + "]"
        )}
        if not ran & wanted:
            continue
        eid = ex.executionId()
        values = store.executionMetrics(eid)
        seen = set()  # nodes of one Python runner share accumulators
        nodes = store.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            if not node.name().startswith(PYTHON_NODES):
                continue
            out["udf.nodes"] += 1
            metrics = node.metrics().iterator()
            while metrics.hasNext():
                m = metrics.next()
                key = UDF_METRICS.get(m.name())
                if key is None or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                shown = values.get(m.accumulatorId())
                if shown.isDefined():
                    v = parse_sql_metric(shown.get())
                    out[key] += v / _MB if key.endswith("_mb") else v
    return out


def cached_mb(sc) -> tuple[float, float, int]:
    """(memory MB, disk MB, RDD count) of every RDD with cached blocks."""
    infos = [i for i in sc._jsc.sc().getRDDStorageInfo() if i.numCachedPartitions() > 0]
    return (
        sum(i.memSize() for i in infos) / _MB,
        sum(i.diskSize() for i in infos) / _MB,
        len(infos),
    )


# ---------------------------------------------------------------------------
# Processes
# ---------------------------------------------------------------------------


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole machine, from /proc/stat.
    Time stolen by other guests on the host slows every timing alike."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / _MB
