"""Layer accounting from outside the program.

* :class:`Tracer` keeps spans (name, start, end, parent, op id) in memory
  around calls into the package's public functions and dumps them as JSON.
  Wrappers are installed once per process and record only while
  ``tracer.active`` is set, so traced and untraced passes can alternate.
* :func:`job_census` counts the Spark jobs, stages and tasks of one job
  group through ``statusTracker``.
* :func:`ambient_load` snapshots machine contention and speed; :func:`jvm_memory`
  reads the driver JVM's heap (after a forced GC) and peak RSS.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time


class Tracer:
    def __init__(self):
        self.active = False
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self._stack = threading.local()

    def _parents(self) -> list[int]:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    def span(self, name: str, fn, *args, **kwargs):
        """Call ``fn`` and, while active, record a span around it.  Returns
        ``(result, span)``; ``span`` is ``None`` when inactive."""
        if not self.active:
            return fn(*args, **kwargs), None
        parents = self._parents()
        rec = {
            "name": name,
            "op": self.op_id,
            "parent": parents[-1] if parents else None,
            "id": len(self.spans),
        }
        self.spans.append(rec)
        parents.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            return fn(*args, **kwargs), rec
        finally:
            rec["end"] = time.perf_counter()
            parents.pop()

    def wrap(self, name: str, fn, on_result=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            result, rec = self.span(name, fn, *args, **kwargs)
            if rec is not None and on_result is not None:
                on_result(rec, result)
            return result

        return traced

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def job_census(sc, group: str) -> dict[str, int]:
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            sinfo = tracker.getStageInfo(sid)
            if sinfo is not None:
                stages += 1
                tasks += sinfo.numTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def checkpoint_state(sc) -> dict[str, float]:
    """Live persisted RDDs and the storage they hold, in MB."""
    live = sc._jsc.getPersistentRDDs().size()
    infos = sc._jsc.sc().getRDDStorageInfo()
    held = sum(i.memSize() + i.diskSize() for i in infos)
    return {"live_rdds": live, "storage_mb": held / 2**20}


def jvm_memory(sc) -> dict[str, float]:
    """Driver heap in use after a forced GC, and the JVM's peak RSS."""
    jvm = sc._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    heap = (rt.totalMemory() - rt.freeMemory()) / 2**20
    pid = jvm.java.lang.ProcessHandle.current().pid()
    peak_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                peak_kb = int(line.split()[1])
    return {"heap_used_mb": heap, "peak_rss_mb": peak_kb / 1024}


def ambient_load(exclude: set[int] = frozenset()) -> dict[str, float]:
    """Machine-contention snapshot: load1 and runnable processes other
    than ``exclude``.  ``contended`` is set when either exceeds what an
    idle machine shows."""
    load1 = os.getloadavg()[0]
    running = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) in exclude:
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[0] == "R":
                    running += 1
        except (OSError, IndexError):
            continue
    cpus = os.cpu_count() or 1
    return {
        "load1": load1,
        "running_procs": running,
        "contended": int(load1 > cpus or running > 2),
        "cpu_probe_ms": cpu_probe_ms(),
    }


def cpu_probe_ms(n: int = 2_000_000) -> float:
    """Wall time of a fixed single-threaded Python loop: shows how fast the
    machine runs right now, which load1 misses on a shared host."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i
    return 1000 * (time.perf_counter() - t0)
