"""Call timing, job-group tagging and the Spark status-store collector.

Every timed public call goes through :meth:`Tracer.call`. Untraced, that is
a bare ``perf_counter`` pair. Traced, the call also runs under its own Spark
job group; once it returns, the group's jobs and stages are read back from
Spark's status store (``statusTracker().getJobIdsForGroup`` and
``AppStatusStore.lastStageAttempt``) and kept in memory as child spans of
the call span. :meth:`Tracer.write` dumps all spans at the end of a run.

A layer's self time is its span minus the part of that span its child spans
cover; for a call that is the driver-side time no Spark job was running
(plan construction, broadcast, result fetch, host-side scatter).
"""

from __future__ import annotations

import itertools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Call:
    """One timed public call and, when traced, what its Spark jobs did."""

    name: str
    layer: str
    start: float = 0.0  # epoch seconds
    end: float = 0.0
    t0: float = 0.0  # perf_counter
    wall_s: float = 0.0
    traced: bool = False
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_ms: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    job_ms: float = 0.0  # union of the jobs' [submit, complete] intervals
    cpu_s: float = 0.0  # CPU time of the whole process tree during the call (traced only)

    @property
    def wall_ms(self) -> float:
        return self.wall_s * 1e3

    @property
    def driver_ms(self) -> float:
        """Call wall time not covered by any of its Spark jobs."""
        return max(0.0, self.wall_ms - self.job_ms)

    @property
    def shuffle_bytes(self) -> int:
        return self.shuffle_write_bytes


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, live and reaped children) used so far by
    this process and every process under it: the driver, the JVM and the
    Python workers. Reads ``/proc``; costs about 2 ms."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue  # ended while scanning
        fields = s[s.rfind(")") + 2 :].split()
        pid = int(d)
        kids.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        p = todo.pop()
        total += ticks.get(p, 0)
        todo += kids.get(p, [])
    return total / _TICK


def _opt_ms(opt) -> float | None:
    """Scala ``Option[java.util.Date]`` → epoch ms (None when empty)."""
    return float(opt.get().getTime()) if opt.isDefined() else None


def _union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Times calls; with ``enabled`` also tags and collects their Spark jobs."""

    def __init__(self, spark, enabled: bool, trace_id: str):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._store = self.sc._jsc.sc().statusStore() if enabled else None

    @contextmanager
    def call(self, name: str, layer: str, traced: bool = True):
        """Time the body as one call of ``layer``; yields the :class:`Call`.

        ``traced=False`` skips tagging even in a traced run, which is how
        the traced run measures its own overhead against untraced calls.
        """
        c = Call(name, layer, traced=self.enabled and traced)
        group = f"pb-{next(self._ids)}" if c.traced else None
        if group is not None:
            self.sc.setJobGroup(group, f"{layer}:{name}", False)
        cpu0 = tree_cpu_s() if c.traced else 0.0
        c.start, c.t0 = time.time(), time.perf_counter()
        try:
            yield c
        finally:
            c.wall_s = time.perf_counter() - c.t0
            if c.traced:
                c.cpu_s = tree_cpu_s() - cpu0
            c.end = c.start + c.wall_s
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                self._collect(c, group)

    def _collect(self, c: Call, group: str) -> None:
        # job/stage end events reach the status store through the listener
        # bus, which may lag the action's return: drain it first
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        span_id = next(self._ids)
        lo, hi = c.start * 1e3, c.end * 1e3
        self.spans.append(
            {"trace": self.trace_id, "id": span_id, "parent": None, "name": c.name,
             "layer": c.layer, "start_ms": lo, "end_ms": hi}
        )
        intervals, seen = [], set()
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            jd = self._store.job(jid)
            js, je = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            if js is None or je is None:
                continue
            c.jobs += 1
            intervals.append((js, je))
            job_span = next(self._ids)
            self.spans.append(
                {"trace": self.trace_id, "id": job_span, "parent": span_id,
                 "name": f"job {jid}", "layer": "spark.job", "start_ms": js, "end_ms": je}
            )
            sids = jd.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen:
                    continue
                sd = self._store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                seen.add(sid)
                c.stages += 1
                c.tasks += sd.numTasks()
                c.executor_ms += sd.executorRunTime()
                c.input_bytes += sd.inputBytes()
                c.shuffle_read_bytes += sd.shuffleReadBytes()
                c.shuffle_write_bytes += sd.shuffleWriteBytes()
                c.shuffle_write_records += sd.shuffleWriteRecords()
                ss = _opt_ms(sd.submissionTime())
                se = _opt_ms(sd.completionTime())
                if ss is not None and se is not None:
                    self.spans.append(
                        {"trace": self.trace_id, "id": next(self._ids), "parent": job_span,
                         "name": f"stage {sid}", "layer": "spark.stage",
                         "start_ms": ss, "end_ms": se,
                         "tasks": sd.numTasks(), "executor_ms": sd.executorRunTime(),
                         "input_bytes": sd.inputBytes(),
                         "shuffle_read_bytes": sd.shuffleReadBytes(),
                         "shuffle_write_bytes": sd.shuffleWriteBytes()}
                    )
        c.job_ms = _union_ms(intervals, lo, hi)

    def write(self, path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))
