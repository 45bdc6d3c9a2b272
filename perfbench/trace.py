"""Spans around layer calls, and the Spark status-store numbers behind them.

A span records name, start, end, parent and run id. Each span runs its
layer call under its own Spark job group, so afterwards the app status
store (``AppStatusStore``: jobs, stages, tasks) and the SQL status store
(``SQLAppStatusStore``: per-node SQL metrics such as the bytes a
MapInArrow node sent to and got back from its Python workers) can be read
per span. Spans stay in memory; nothing is read from the stores until the
traced job has finished.
"""

from __future__ import annotations

import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


@dataclass
class Span:
    name: str
    parent: int | None
    run_id: str
    group: str
    start: float = 0.0
    end: float = 0.0
    children: list[int] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans; each span's Spark jobs carry its group."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, parent, self.run_id, f"{self.run_id}/{idx}:{name}")
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        sc.setJobGroup(sp.group, sp.group, False)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]].group
                sc.setJobGroup(outer, outer, False)
            else:
                sc._jsc.clearJobGroup()

    def self_time(self, sp: Span) -> float:
        """Span wall minus the part of it its child spans cover (children
        of one span run one after another, never overlapping)."""
        return sp.wall - sum(self.spans[c].wall for c in sp.children)

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def _scala_list(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _opt(o):
    return o.get() if o.isDefined() else None


def parse_metric(text: str | None) -> float:
    """SQL-metric display string -> number in base units (bytes, seconds,
    or a plain count). Aggregated metrics read ``total (min, med, max
    ...)\\n<total> (...)``; the total is the first value after the
    header."""
    if not text:
        return 0.0
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", body)
    if m is None:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _SIZE.get(unit, _TIME.get(unit, 1.0))


class StatusReader:
    """Reads per-span job, stage, task and SQL-node numbers."""

    def __init__(self, spark):
        self.spark = spark
        self.tracker = spark.sparkContext.statusTracker()
        self.store = spark._jsparkSession.sparkContext().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def jobs(self, group: str) -> list[int]:
        return sorted(self.tracker.getJobIdsForGroup(group))

    def stages(self, group: str) -> dict:
        """Summed stage metrics over the group's jobs, plus per-stage task
        durations (ms) and task intervals (epoch ms)."""
        out = {"run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_b": 0,
               "spill_b": 0, "stage_tasks": {}, "intervals": []}
        seen = set()
        for j in self.jobs(group):
            info = self.tracker.getJobInfo(j)
            for st in (info.stageIds if info else []):
                if st in seen:
                    continue
                seen.add(st)
                try:
                    sd = self.store.lastStageAttempt(st)
                except Exception:  # noqa: BLE001 - skipped stage, never ran
                    continue
                out["run_s"] += sd.executorRunTime() / 1e3
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_write_b"] += sd.shuffleWriteBytes()
                out["spill_b"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                durs = []
                for t in _scala_list(self.store.taskList(st, 0, 1 << 20)):
                    d = t.duration()
                    d = _opt(d) if hasattr(d, "isDefined") else d
                    if d is None:
                        continue
                    launch = t.launchTime().getTime()
                    durs.append(int(d))
                    out["intervals"].append((launch, launch + int(d)))
                if durs:
                    out["stage_tasks"][st] = durs
        return out

    def executions(self, group: str) -> list[dict]:
        """SQL executions whose jobs belong to the group, in submission
        order: ``{"id", "start", "end" (epoch s), "plan", "jobs"}``."""
        jobs = set(self.jobs(group))
        hits = []
        for e in _scala_list(self.sql.executionsList()):
            ids = set()
            it = e.jobs().keySet().iterator()
            while it.hasNext():
                ids.add(it.next())
            if not ids & jobs:
                continue
            done = _opt(e.completionTime())
            hits.append({
                "id": e.executionId(),
                "start": e.submissionTime() / 1e3,
                "end": done.getTime() / 1e3 if done is not None else time.time(),
                "plan": e.physicalPlanDescription() or "",
                "jobs": sorted(ids),
            })
        return sorted(hits, key=lambda x: x["start"])

    def node_metrics(self, execution: dict) -> list[dict]:
        """One dict per SQL plan node of an execution:
        ``{"node": name, "desc": description, "<metric name>": value}``."""
        eid = execution["id"]
        vals = {}
        it = self.sql.executionMetrics(eid).iterator()
        while it.hasNext():
            kv = it.next()
            vals[kv._1()] = kv._2()
        rows = []
        for n in _scala_list(self.sql.planGraph(eid).allNodes()):
            row = {"node": n.name().strip(), "desc": n.desc()}
            for m in _scala_list(n.metrics()):
                row[m.name()] = parse_metric(vals.get(m.accumulatorId()))
            rows.append(row)
        return rows

    def nodes(self, group: str) -> list[dict]:
        """Plan nodes of every SQL execution of the group."""
        return [r for e in self.executions(group) for r in self.node_metrics(e)]

    def pre_job_s(self, execution: dict) -> float:
        """Driver time between an SQL execution's submission and its first
        Spark job's submission: analysis, optimization, physical and
        adaptive planning."""
        subs = []
        for j in execution["jobs"]:
            sub = _opt(self.store.job(j).submissionTime())
            if sub is not None:
                subs.append(sub.getTime() / 1e3)
        return max(0.0, min(subs) - execution["start"]) if subs else 0.0


def first_write(executions: list[dict]) -> list[dict]:
    """The first execution that writes files, as a one-element list (or
    empty): the data write of ``run_one_pass`` and ``write_snapshot``,
    which both write their data before any marker or side table."""
    return [e for e in executions if "InsertIntoHadoopFsRelationCommand" in e["plan"]][:1]


def node_sum(rows: list[dict], node: str, metric: str) -> float:
    return sum(r.get(metric, 0.0) for r in rows if r["node"].startswith(node))


def covered_s(intervals: list[tuple[int, int]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] (epoch s) during which at least one task ran."""
    spans = sorted((max(a / 1e3, lo), min(b / 1e3, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def max_over_p50(stage_tasks: dict[int, list[int]]) -> float:
    """Max task over median task of the stage with the most task time."""
    if not stage_tasks:
        return 0.0
    durs = max(stage_tasks.values(), key=sum)
    return max(durs) / max(statistics.median(durs), 1.0)
