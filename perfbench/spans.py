"""Spans around every call into the engine, and the Spark-side cost of
each span read back from Spark's in-process status store.

A span is (id, name, layer, pass, parent, start, end). Opening a span
sets a Spark job group named after it, so every job the call submits
carries the span's id; a streaming query's jobs carry the query's run
id instead, which the caller registers with :meth:`Tracer.alias`. A job
whose group matches no span is attributed by submission time to the
innermost span open at that moment (one client, so spans never
overlap except by nesting), and reported as unattributed if none was.

The status store is live with ``spark.ui.enabled=false``. It is read
once, after the run, as two JSON documents (jobs, stages) serialized
inside the JVM, so the read costs two gateway calls, not one per stage.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    layer: str
    pass_no: int | None
    parent: int | None
    start: float
    end: float | None = None
    jobs: list[int] = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._aliases: dict[str, int] = {}

    @contextlib.contextmanager
    def span(self, name: str, layer: str, pass_no: int | None = None):
        parent = self._open[-1] if self._open else None
        s = Span(
            len(self.spans), name, layer,
            pass_no if pass_no is not None else (parent.pass_no if parent else None),
            parent.id if parent else None, time.time(),
        )
        self.spans.append(s)
        self._open.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @property
    def current(self) -> Span:
        """The innermost open span."""
        return self._open[-1]

    def alias(self, group: str, span: Span) -> None:
        """Attribute jobs submitted under ``group`` (a streaming query's
        run id) to ``span``."""
        self._aliases[group] = span.id

    def job_ids(self, span: Span) -> list[int]:
        """Jobs submitted under the span's group or one of its aliases."""
        groups = [span.group] + [g for g, sid in self._aliases.items() if sid == span.id]
        tracker = self.sc.statusTracker()
        return sorted(j for g in groups for j in tracker.getJobIdsForGroup(g))

    def drain(self) -> None:
        """Block until the listener bus has delivered every event posted
        so far, so the status store holds every finished job."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def dump(self, path: str, cost: dict[int, dict] | None = None) -> None:
        """One JSON line per span, with its Spark cost when given."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "cost": (cost or {}).get(s.id)}) + "\n")

    # -- status store ---------------------------------------------------
    def read_store(self) -> tuple[list[dict], dict[int, dict]]:
        """(jobs, stages by stage id) from the status store. A stage
        with several attempts is summed over them."""
        self.drain()
        gw = self.sc._gateway
        jvm = gw.jvm
        store = self.sc._jsc.sc().statusStore()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            scala_module.__getattr__("MODULE$")
        )
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        raw = json.loads(
            mapper.writeValueAsString(store.stageList(None, False, False, gw.new_array(jvm.double, 0), None))
        )
        stages: dict[int, dict] = {}
        for st in raw:
            if st["status"] == "SKIPPED":
                continue
            agg = stages.setdefault(st["stageId"], dict.fromkeys(STAGE_FIELDS, 0))
            for k in STAGE_FIELDS:
                agg[k] += st.get(k, 0) or 0
        return jobs, stages

    def attribute(self, jobs: list[dict]) -> tuple[dict[int, int], list[int], int]:
        """job id -> span id; the unattributed job ids; the number of
        jobs attributed by submission time rather than group."""
        by_group = {s.group: s.id for s in self.spans}
        by_group.update(self._aliases)
        out: dict[int, int] = {}
        unattributed: list[int] = []
        by_time = 0
        for j in jobs:
            sid = by_group.get(j.get("jobGroup") or "")
            if sid is None:
                sid = self._innermost_at(j["submissionTime"] / 1000.0)
                by_time += sid is not None
            if sid is None:
                unattributed.append(j["jobId"])
            else:
                out[j["jobId"]] = sid
        return out, unattributed, by_time

    def _innermost_at(self, t: float) -> int | None:
        best = None
        for s in self.spans:
            if s.start <= t <= (s.end if s.end is not None else float("inf")):
                if best is None or s.start >= best.start:
                    best = s
        return best.id if best else None


#: StageData fields summed per stage (times in ms / ns, sizes in bytes)
STAGE_FIELDS = (
    "numTasks", "numFailedTasks", "executorRunTime", "executorCpuTime",
    "shuffleWriteBytes", "shuffleReadBytes", "memoryBytesSpilled", "diskBytesSpilled",
)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time: its duration minus the part of its interval
    covered by its direct children (overlapping children are merged, and
    a child's part outside the parent is not subtracted)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end if c.end is not None else c.start, end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (end - s.start) - covered
    return out
