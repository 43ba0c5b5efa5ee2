"""Spans around the benchmark's calls into each layer, and the Spark
job/stage metrics that fall inside them.

A span records its name, start, end, parent and run id, and sets its id
as the Spark job group while it is open, so every job the layer submits
carries the span that caused it. When the run ends, :meth:`Tracer.collect`
reads every job and stage from the application status store, which
answers with the Spark UI disabled, and :func:`layer_table` turns spans
plus jobs into per-layer quantities.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: Job group of work the benchmark runs untraced inside a traced run.
UNTRACED_GROUP = "perfbench-untraced"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench:{self.run_id}:{self.id}"


class Tracer:
    """Keeps spans in memory; writes nothing until the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = None  # SparkContext, once the session exists
        self.jobs: list[dict] = []
        self.stages: list[dict] = []

    @property
    def current(self) -> Span:
        return self._stack[-1]

    def set_group(self, group: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 self.run_id, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self.set_group(s.group)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.set_group(parent.group if parent else None)

    def wrap(self, fn, name: str, on_result=None):
        """``fn`` run inside span ``name``; ``on_result(span, result)``
        may attach extra quantities to the span."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(s, out)
                return out

        return traced

    def collect(self, spark) -> float:
        """Read every job and stage from the status store; returns the
        seconds the read took."""
        t0 = time.time()
        jvm = spark.sparkContext._jvm
        gateway = spark.sparkContext._gateway
        store = spark.sparkContext._jsc.sc().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_module, "MODULE$"))
        self.jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        stages = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        self.stages = json.loads(mapper.writeValueAsString(stages))
        return time.time() - t0

    def dump(self) -> dict:
        return {
            "run_id": self.run_id,
            "spans": [asdict(s) for s in self.spans],
            "jobs": self.jobs,
            "stages": self.stages,
        }


def rdd_storage_bytes(sc) -> int:
    """Bytes currently held by persisted RDDs (memory plus disk)."""
    return sum(int(i.memSize()) + int(i.diskSize()) for i in sc._jsc.sc().getRDDStorageInfo())


def _union_len(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def span_rows(trace: dict) -> list[dict]:
    """One row per span instance: its quantities plus attrs. Job and
    stage quantities are inclusive of child spans; ``self_s`` is the
    span's wall time not covered by a child span or one of its own jobs."""
    spans = [Span(**s) for s in trace["spans"]]
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    by_group: dict[str, list[dict]] = {}
    for j in trace["jobs"]:
        by_group.setdefault(j.get("jobGroup") or "", []).append(j)
    stages = {(st["stageId"], st["attemptId"]): st for st in trace["stages"]}
    stage_attempts: dict[int, list[dict]] = {}
    for (sid, _), st in stages.items():
        stage_attempts.setdefault(sid, []).append(st)

    def subtree(s: Span) -> list[Span]:
        out = [s]
        for c in children.get(s.id, []):
            out.extend(subtree(c))
        return out

    def interval(j: dict) -> tuple[float, float]:
        end = j.get("completionTime") or j["submissionTime"]
        return j["submissionTime"] / 1000.0, end / 1000.0

    rows = []
    for s in spans:
        own = by_group.get(s.group, [])
        incl = [j for t in subtree(s) for j in by_group.get(t.group, [])]
        seen = {}
        for j in incl:
            for sid in j.get("stageIds", []):
                for st in stage_attempts.get(sid, []):
                    seen[(sid, st["attemptId"])] = st
        st_list = list(seen.values())
        busy = s.end - s.start
        kids = [(c.start, c.end) for c in children.get(s.id, [])]
        row = {
            "name": s.name, "id": s.id, "parent": s.parent, "run_id": s.run_id,
            "start": s.start, "end": s.end,
            "busy_s": busy,
            "self_s": busy - _union_len(kids + [interval(j) for j in own], s.start, s.end),
            "jobs": len(incl),
            "tasks": sum(j.get("numCompletedTasks", 0) + j.get("numFailedTasks", 0) for j in incl),
            "stage_s": sum(st.get("executorRunTime", 0) for st in st_list) / 1000.0,
            "driver_gap_s": busy - _union_len([interval(j) for j in incl], s.start, s.end),
            "shuffle_write_bytes": sum(st.get("shuffleWriteBytes", 0) for st in st_list),
            "shuffle_read_bytes": sum(st.get("shuffleReadBytes", 0) for st in st_list),
            "spill_bytes": sum(
                st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0) for st in st_list
            ),
            "input_bytes": sum(st.get("inputBytes", 0) for st in st_list),
            "output_bytes": sum(st.get("outputBytes", 0) for st in st_list),
        }
        row.update(s.attrs)
        rows.append(row)
    return rows


def unattributed_jobs(trace: dict) -> int:
    """Jobs that ran with no span open (and not in an untraced phase)."""
    return sum(1 for j in trace["jobs"] if not j.get("jobGroup"))


def layer_table(rows: list[dict]) -> dict[str, float]:
    """``<span>.<quantity>`` → median over the span's calls."""
    per: dict[str, list[float]] = {}
    for r in rows:
        for k, v in r.items():
            if k in ("name", "id", "parent", "run_id", "start", "end"):
                continue
            per.setdefault(f"{r['name']}.{k}", []).append(float(v))
    return {k: statistics.median(v) for k, v in per.items()}
