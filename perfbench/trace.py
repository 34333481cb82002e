"""Spans around layer calls, and the Spark counters charged to each span.

A :class:`Tracer` records one span per ``with tracer.span(...)`` block:
name, layer, parent, start and end, all in driver memory. Each span runs
its Spark jobs under its own job group. After the pass the jobs and
stages are read back from the application status store (it is populated
with the UI disabled) and each job is charged to a span:

* a job whose group is a span's group belongs to that span;
* a job with no group (an action launched from a library's own thread
  pool: thread-local job groups do not cross into plain threads) goes to
  the innermost span open at its submission time. These are counted as
  *unattributed* jobs.

A stage listed by several jobs (a reused shuffle) is charged once, to
the first job that lists it. A stage that never ran (skipped, or
missing from the store) counts as skipped, never as failed.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

MB = 1024 * 1024
STAGE_TOTALS = (
    "task_s", "cpu_s", "shuffle_mb", "spill_mb", "tasks", "failed_tasks",
    "stages", "skipped_stages",
)


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    pass_id: str
    start: float
    end: float = 0.0
    rows_out: int = 0
    pinned_mb: float = 0.0
    jobs: list = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"perfbench-{self.pass_id}-{self.sid}"

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder bound to one SparkContext. Spans nest by call
    order; the job group of the innermost open span is the current
    thread's group, and the enclosing group comes back on exit."""

    def __init__(self, sc, pass_id: str = "p0"):
        self.sc = sc
        self.pass_id = pass_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(len(self.spans), name, layer or name, parent, self.pass_id,
                  time.time())
        self.spans.append(sp)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def self_times(self) -> dict[int, float]:
        """Span wall minus its children's walls (spans open and close on
        one thread, so children never overlap)."""
        return {
            sp.sid: sp.wall - sum(c.wall for c in self.spans
                                  if c.parent == sp.sid)
            for sp in self.spans
        }

    def assign_jobs(self, jobs: list[dict]) -> int:
        """Charge each job to a span (see module docstring); returns the
        number of jobs placed by submission time."""
        by_group = {sp.group: sp for sp in self.spans}
        placed_by_time = 0
        for job in jobs:
            group = job.get("jobGroup")
            if group in by_group:
                by_group[group].jobs.append(job)
                continue
            t = (job.get("submissionTime") or 0) / 1000.0
            if group is not None or not t:
                continue
            open_at = [sp for sp in self.spans if sp.start <= t <= sp.end]
            if open_at:
                max(open_at, key=lambda sp: sp.start).jobs.append(job)
                placed_by_time += 1
        return placed_by_time


def stage_totals(jobs: list[dict], lookup, charged: set | None = None) -> dict:
    """Sum the stage metrics of ``jobs``. ``lookup(stage_id)`` returns the
    stage's attempts (dicts in the status store's JSON shape) or raises
    LookupError when the store has no such stage. ``charged`` carries
    stage ids already counted by earlier calls, so a reused stage counts
    once."""
    charged = set() if charged is None else charged
    tot = dict.fromkeys(STAGE_TOTALS, 0.0)
    for job in jobs:
        for sid in job.get("stageIds", []):
            if sid in charged:
                continue
            charged.add(sid)
            try:
                attempts = lookup(sid)
            except LookupError:  # the store keeps no record: never ran
                attempts = []
            ran = [a for a in attempts if a.get("status") != "SKIPPED"]
            if not ran:
                tot["skipped_stages"] += 1
                continue
            tot["stages"] += 1
            for a in ran:
                tot["task_s"] += a.get("executorRunTime", 0) / 1000.0
                tot["cpu_s"] += a.get("executorCpuTime", 0) / 1e9
                tot["shuffle_mb"] += (
                    a.get("shuffleReadBytes", 0) + a.get("shuffleWriteBytes", 0)
                ) / MB
                tot["spill_mb"] += (
                    a.get("memoryBytesSpilled", 0) + a.get("diskBytesSpilled", 0)
                ) / MB
                tot["tasks"] += (
                    a.get("numCompleteTasks", 0) + a.get("numFailedTasks", 0)
                    + a.get("numKilledTasks", 0)
                )
                tot["failed_tasks"] += a.get("numFailedTasks", 0)
    return tot


class StatusStore:
    """JSON views of the live AppStatusStore: jobs, stage attempts and
    cached RDDs, each fetched with one gateway call."""

    def __init__(self, sc):
        self.sc = sc
        jvm = sc._jvm
        scala = getattr(jvm.com.fasterxml.jackson.module.scala,
                        "DefaultScalaModule$").__getattr__("MODULE$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala)
        self._store = sc._jsc.sc().statusStore()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs_since(self, t0: float) -> list[dict]:
        jobs = self._json(self._store.jobsList(None))
        return sorted(
            (j for j in jobs if (j.get("submissionTime") or 0) >= t0 * 1000),
            key=lambda j: j["jobId"],
        )

    def stage_lookup(self):
        """A ``lookup(stage_id)`` over all stage attempts; ids the list
        lacks fall back to ``lastStageAttempt``, which raises for a stage
        the store never saw."""
        jvm = self.sc._jvm
        stages = self._json(self._store.stageList(
            None, False, False, self.sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        ))
        by_id: dict[int, list[dict]] = {}
        for st in stages:
            by_id.setdefault(st["stageId"], []).append(st)

        def lookup(sid: int) -> list[dict]:
            if sid in by_id:
                return by_id[sid]
            try:
                return [self._json(self._store.lastStageAttempt(sid))]
            except Py4JJavaError as e:  # NoSuchElementException
                raise LookupError(sid) from e

        return lookup

    def pinned_mb(self, exclude=frozenset()) -> float:
        """Memory + disk held by persisted or checkpointed RDD blocks,
        leaving out the RDDs whose ids are in ``exclude``."""
        rdds = self._json(self._store.rddList(True))
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0)
                   for r in rdds if r["id"] not in exclude) / MB


def pass_counters(store: StatusStore, tracer: Tracer) -> tuple[dict, int]:
    """Charge the jobs submitted since the tracer's first span; returns
    per-span stage totals and the number of jobs placed by time."""
    t0 = min(sp.start for sp in tracer.spans)
    placed = tracer.assign_jobs(store.jobs_since(t0))
    lookup = store.stage_lookup()
    owner = {j["jobId"]: sp.sid for sp in tracer.spans for j in sp.jobs}
    jobs = sorted((j for sp in tracer.spans for j in sp.jobs),
                  key=lambda j: j["jobId"])
    per_span = {sp.sid: dict.fromkeys(STAGE_TOTALS, 0.0) for sp in tracer.spans}
    charged: set = set()
    for job in jobs:
        tot = per_span[owner[job["jobId"]]]
        for k, v in stage_totals([job], lookup, charged).items():
            tot[k] += v
    for sp in tracer.spans:
        per_span[sp.sid]["jobs"] = len(sp.jobs)
    return per_span, placed
