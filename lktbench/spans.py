"""Spans around the benchmark's calls into the library, attributed to Spark
stages through a local event log.

Every span id is also set as the Spark job group, so each job, stage and
task in the event log names the span that caused it. After the session
stops, :func:`load_event_logs` reads the logs and :class:`Attribution` turns
them into child spans (one per stage) and per-span sums of Spark's task and
SQL metrics. Spans stay in memory until :meth:`Tracer.dump` writes them out
as JSON lines.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct")
PY_RUN = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
NO_SPAN = "lktbench-unattributed"


@dataclass
class Span:
    id: str
    op: str  # id of the op (or setup step) this span belongs to
    layer: str
    part: str
    start: float
    end: float

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; otherwise every method is a no-op, so the
    untraced run executes the same code with nothing in the way."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.sc = None  # set per session

    @contextmanager
    def span(self, op: str, layer: str, part: str):
        if not self.enabled:
            yield
            return
        sid = f"{op}:{layer}.{part}"
        self.sc.setJobGroup(sid, sid)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(sid, op, layer, part, t0, time.time()))
            self.sc.setJobGroup(NO_SPAN, NO_SPAN)

    def dump(self, path: str, children: dict) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"id": s.id, "parent": s.op, "layer": s.layer,
                                    "part": s.part, "start": s.start, "end": s.end}) + "\n")
                for c in children.get(s.id, []):
                    f.write(json.dumps(dict(c, parent=s.id)) + "\n")


# ------------------------------------------------------------------ event log

@dataclass
class Task:
    launch: float
    finish: float
    run_s: float
    gc_s: float
    shuffle_write: int
    spill: int
    out_bytes: int
    by_name: dict  # SQL metric name -> summed update
    by_id: dict  # accumulator id -> update


@dataclass
class Stage:
    name: str
    submit: float = 0.0
    complete: float = 0.0
    tasks: list = field(default_factory=list)


@dataclass
class Job:
    group: str
    start: float
    end: float
    stages: list  # Stage objects
    execution: tuple | None  # (app, sql execution id)


def _metric_scale(types: dict, name: str) -> float:
    kind = types.get(name, "sum")
    return {"timing": 1e-3, "nsTiming": 1e-9}.get(kind, 1.0)


def load_event_logs(directory: str) -> "Attribution":
    """Parse every uncompressed, non-rolling event log in ``directory``."""
    jobs: list[Job] = []
    plans: dict[tuple, list] = {}
    metric_types: dict[str, str] = {}
    for path in sorted(glob.glob(os.path.join(directory, "*"))):
        app = os.path.basename(path)
        stages: dict[int, Stage] = {}
        open_jobs: dict[int, Job] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties", {})
                    ex = props.get("spark.sql.execution.id")
                    st = [stages.setdefault(i, Stage("")) for i in ev["Stage IDs"]]
                    open_jobs[ev["Job ID"]] = Job(
                        props.get("spark.jobGroup.id") or NO_SPAN,
                        ev["Submission Time"] / 1e3, 0.0, st,
                        (app, int(ex)) if ex is not None else None,
                    )
                elif kind == "SparkListenerJobEnd":
                    job = open_jobs.pop(ev["Job ID"], None)
                    if job is not None:
                        job.end = ev["Completion Time"] / 1e3
                        job.stages = [s for s in job.stages if s.tasks]
                        jobs.append(job)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    s = stages.setdefault(info["Stage ID"], Stage(""))
                    s.name = info.get("Stage Name", "")
                    s.submit = info.get("Submission Time", 0) / 1e3
                    s.complete = info.get("Completion Time", 0) / 1e3
                elif kind == "SparkListenerTaskEnd":
                    stages.setdefault(ev["Stage ID"], Stage("")).tasks.append(_task(ev))
                elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                    plans.setdefault((app, ev["executionId"]), []).append(ev["sparkPlanInfo"])
                    _collect_types(ev["sparkPlanInfo"], metric_types)
    return Attribution(jobs, plans, metric_types)


def _task(ev: dict) -> Task:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    by_name: dict = {}
    by_id: dict = {}
    for a in info.get("Accumulables", []):
        name, upd = a.get("Name", ""), a.get("Update")
        if name.startswith("internal.") or not isinstance(upd, (int, float, str)):
            continue
        try:
            upd = float(upd)
        except ValueError:
            continue
        by_name[name] = by_name.get(name, 0.0) + upd
        by_id[a["ID"]] = upd
    return Task(
        launch=info["Launch Time"] / 1e3,
        finish=info["Finish Time"] / 1e3,
        run_s=m.get("Executor Run Time", 0) / 1e3,
        gc_s=m.get("JVM GC Time", 0) / 1e3,
        shuffle_write=(m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
        spill=m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0),
        out_bytes=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
        by_name=by_name,
        by_id=by_id,
    )


def _walk(node: dict):
    yield node
    for c in node.get("children", []):
        yield from _walk(c)


def _collect_types(plan: dict, out: dict) -> None:
    for n in _walk(plan):
        for m in n.get("metrics", []):
            out[m["name"]] = m.get("metricType", "sum")


def union_seconds(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Attribution:
    """Spark work grouped by the span (job group) that caused it."""

    def __init__(self, jobs: list, plans: dict, metric_types: dict):
        self.types = metric_types
        self.plans = plans
        self.by_group: dict[str, list[Job]] = {}
        for j in jobs:
            self.by_group.setdefault(j.group, []).append(j)

    def jobs(self, sid: str) -> list:
        return sorted(self.by_group.get(sid, []), key=lambda j: j.start)

    @staticmethod
    def tasks(jobs) -> list:
        seen, out = set(), []
        for j in jobs:
            for s in j.stages:
                if id(s) not in seen:
                    seen.add(id(s))
                    out.extend(s.tasks)
        return out

    def named(self, tasks, name: str) -> float:
        """Sum of a SQL metric over tasks, in seconds for timings."""
        return sum(t.by_name.get(name, 0.0) for t in tasks) * _metric_scale(self.types, name)

    def join_rows(self, jobs) -> int:
        """Output rows of every join node in the jobs' SQL executions."""
        ids = set()
        for ex in {j.execution for j in jobs if j.execution}:
            for plan in self.plans.get(ex, []):
                for n in _walk(plan):
                    if n["nodeName"] in JOIN_NODES:
                        ids.update(m["accumulatorId"] for m in n["metrics"]
                                   if m["name"] == "number of output rows")
        return int(sum(t.by_id.get(i, 0) for t in self.tasks(jobs) for i in ids))

    def broadcast_join(self, jobs) -> bool:
        """True when an execution's final plan joins by broadcast hash."""
        for ex in {j.execution for j in jobs if j.execution}:
            final = self.plans.get(ex, [])[-1:]
            if any(n["nodeName"] == "BroadcastHashJoin" for p in final for n in _walk(p)):
                return True
        return False

    def stage_children(self, sid: str) -> list[dict]:
        """One child span per stage the span's jobs ran, with its task metrics."""
        out = []
        for j in self.jobs(sid):
            for s in j.stages:
                ts = s.tasks
                out.append({
                    "id": f"{sid}/stage:{s.name[:60]}",
                    "layer": "spark.stage",
                    "start": s.submit or min(t.launch for t in ts),
                    "end": s.complete or max(t.finish for t in ts),
                    "tasks": len(ts),
                    "task_max_s": max(t.finish - t.launch for t in ts),
                    "run_s": sum(t.run_s for t in ts),
                    "gc_s": sum(t.gc_s for t in ts),
                    "shuffle_write_bytes": sum(t.shuffle_write for t in ts),
                    "py_run_s": self.named(ts, PY_RUN),
                })
        return out


def self_seconds(span: Span, children: list[dict]) -> float:
    """Span duration minus the part of it its child stages cover."""
    inside = [(max(c["start"], span.start), min(c["end"], span.end)) for c in children]
    return span.seconds - union_seconds([iv for iv in inside if iv[1] > iv[0]])
