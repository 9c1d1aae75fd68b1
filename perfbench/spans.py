"""In-memory spans, per-operation job accounting and host facts.

A span is (name, start, end, parent).  Spans nest through a stack, so a
span opened inside another is its child; self time is a span's duration
minus its children's.  ``Tracer`` is used only in the traced run; the
timed run uses ``NullTracer``, whose ``span`` costs one context manager.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None   # index into Tracer.spans


class NullTracer:
    enabled = False

    def span(self, name: str):
        return nullcontext()


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent))
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def add(self, name: str, start: float, duration: float) -> None:
        """Record a span whose time was summed elsewhere (time spent inside
        a generator's iteration), as a child of the open span."""
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, start, start + duration, parent))

    def self_times(self, root: int) -> dict[str, float]:
        """Self time per span name over the subtree under ``root``."""
        children: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                children[s.parent].append(i)
        out: dict[str, float] = defaultdict(float)
        todo = [root]
        while todo:
            i = todo.pop()
            s = self.spans[i]
            kids = children.get(i, [])
            out[s.name] += (s.end - s.start) - sum(
                self.spans[k].end - self.spans[k].start for k in kids)
            todo.extend(kids)
        return dict(out)

    def dump(self, path: str) -> None:
        """One JSON line per span; ``op`` is the index of the operation's
        root span, shared by every span of that operation."""
        with open(path, "w", encoding="utf-8") as f:
            for i, s in enumerate(self.spans):
                root = i
                while self.spans[root].parent is not None:
                    root = self.spans[root].parent
                f.write(json.dumps({"name": s.name, "start": s.start,
                                    "end": s.end, "parent": s.parent,
                                    "op": root}) + "\n")


def timed_iter(tracer, name: str, it):
    """Yield from ``it``, recording the total time spent inside its
    ``next()`` calls as one span ``name`` under the consumer's open span
    (the generator's work interleaves with the consumer's)."""
    if not tracer.enabled:
        yield from it
        return
    it = iter(it)
    total, first = 0.0, None
    try:
        while True:
            t = time.perf_counter()
            first = t if first is None else first
            try:
                item = next(it)
            except StopIteration:
                total += time.perf_counter() - t
                return
            total += time.perf_counter() - t
            yield item
    finally:
        if first is not None:
            tracer.add(name, first, total)


# -- Spark accounting --------------------------------------------------------

class JobGroups:
    """Runs calls in named job groups and counts their jobs and stages
    through ``statusTracker``; stage I/O comes from the UI REST API at the
    end of the run (the listener bus is asynchronous)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._n = 0

    def new_group(self, prefix: str) -> str:
        self._n += 1
        gid = f"{prefix}-{self._n}"
        self.sc.setJobGroup(gid, gid)
        return gid

    def jobs(self, gid: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(gid))

    def stages(self, gid: str) -> list[int]:
        st = self.sc.statusTracker()
        out: set[int] = set()
        for j in self.jobs(gid):
            info = st.getJobInfo(j)
            if info is not None:
                out.update(int(s) for s in info.stageIds)
        return sorted(out)

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def stage_io(self, stage_ids: set[int]) -> dict[str, int]:
        """Shuffle-write and spill bytes over ``stage_ids`` (skipped stages
        excluded), read from ``/api/v1/applications/<id>/stages``."""
        url = (f"{self.sc.uiWebUrl}/api/v1/applications/"
               f"{self.sc.applicationId}/stages")
        rows = []
        for _ in range(20):   # wait for the listener to catch up
            with urllib.request.urlopen(url, timeout=10) as r:
                rows = json.load(r)
            if not any(r["status"] == "ACTIVE" for r in rows):
                break
            time.sleep(0.25)
        out = {"stages_run": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        for r in rows:
            if r["stageId"] in stage_ids and r["status"] != "SKIPPED":
                out["stages_run"] += 1
                out["shuffle_write_bytes"] += r["shuffleWriteBytes"]
                out["spill_bytes"] += (r["memoryBytesSpilled"]
                                       + r["diskBytesSpilled"])
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Force the frame's own physical plan and read its
    ``QueryPlanningTracker`` phase times (seconds)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


# -- host --------------------------------------------------------------------

def _status_kb(pid: int | str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def reset_peak_rss(jvm_pid: int | None) -> None:
    """Reset VmHWM of this process and of the driver JVM to their current
    RSS (``5`` written to ``/proc/<pid>/clear_refs``)."""
    for pid in ("self",) + ((jvm_pid,) if jvm_pid is not None else ()):
        with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as f:
            f.write("5")


def peak_rss_mb(jvm_pid: int | None) -> dict[str, float]:
    """VmHWM of this Python process and of the driver JVM, in MiB."""
    return {"python": _status_kb("self", "VmHWM") / 1024.0,
            "jvm": (_status_kb(jvm_pid, "VmHWM") / 1024.0
                    if jvm_pid is not None else 0.0)}


def host_facts(spark, driver_mem: str) -> dict:
    with open("/proc/meminfo", encoding="ascii") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gib": round(mem_kb / 1024 / 1024, 2),
        "driver_heap": driver_mem,
        "driver_heap_repo_default": "48g unless SPARK_GRAFT_DRIVER_MEM",
        "spark_version": spark.version,
        "master": spark.sparkContext.master,
    }
