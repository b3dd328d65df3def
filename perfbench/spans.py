"""Spans around calls into the engine's layers, with Spark counters, and
the process readings (RSS, CPU time) the end-to-end metrics use.

A span records name, start, end, parent span and op id. Each span that
runs Spark work gets its own job group; right after the call its jobs,
stages and tasks come from ``statusTracker`` and its shuffle and spill
bytes from the status store (populated with ``spark.ui.enabled=false``
too). Spans stay in memory and are written as JSON at exit.

With tracing off, ``span`` only runs the body: untraced runs time the
same code with no job groups and no counter reads.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import resource
import time
from pathlib import Path

from py4j.protocol import Py4JJavaError

COUNTERS = ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, spark: bool = True):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        group = f"perfbench-{sid}" if spark else None
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "group": group,
        }
        if spark:
            self.sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if spark:
                rec.update(self._counters(group))
                outer = next((s for s in reversed(self._stack) if s["group"]), None)
                if outer is not None:
                    self.sc.setJobGroup(outer["group"], outer["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def add(self, name: str, start: float, end: float) -> None:
        """Record a span timed before the tracer existed."""
        if self.enabled:
            self.spans.append({"id": next(self._ids), "name": name, "parent": None,
                               "op": None, "group": None, "start": start, "end": end})

    def _counters(self, group: str) -> dict:
        st = self.sc.statusTracker()
        job_ids = st.getJobIdsForGroup(group)
        # job-end events reach the status store asynchronously
        deadline = time.perf_counter() + 5.0
        while time.perf_counter() < deadline:
            infos = [st.getJobInfo(j) for j in job_ids]
            if all(i is None or i.status in ("SUCCEEDED", "FAILED") for i in infos):
                break
            time.sleep(0.01)
        stage_ids = sorted({s for i in infos if i is not None for s in i.stageIds})
        store = self.sc._jsc.sc().statusStore()
        tasks = shuffle = spill = 0
        ran = 0
        for sid in stage_ids:
            try:
                data = store.lastStageAttempt(sid)
            except Py4JJavaError:  # never attempted, so not in the store
                continue
            if data.status().toString() == "SKIPPED":
                continue
            ran += 1
            tasks += data.numCompleteTasks() + data.numFailedTasks()
            shuffle += data.shuffleWriteBytes()
            spill += data.memoryBytesSpilled() + data.diskBytesSpilled()
        return {"jobs": len(job_ids), "stages": ran, "tasks": tasks,
                "shuffle_bytes": shuffle, "spill_bytes": spill}

    def self_times(self) -> dict[str, float]:
        """Per span name, summed self time: duration minus the time its
        direct children cover (children never overlap here: one client,
        one thread)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        doc = {"spans": self.spans, "self_time_s": self.self_times(), **extra}
        path.write_text(json.dumps(doc, indent=1, default=str))


class Process:
    """Resource readings of this Python process plus the Spark JVM and
    every process under it (the Python UDF workers), from ``/proc``."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.tick = os.sysconf("SC_CLK_TCK")

    def peak_rss_mb(self) -> float:
        """Peak RSS of the JVM plus this Python process."""
        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        with open(f"/proc/{self.jvm_pid}/status") as f:
            kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        return kb / 1024

    def cpu_s(self) -> tuple[float, float]:
        """CPU seconds used so far by this process, the JVM and the JVM's
        descendants (reaped workers count through their parent), and the
        part of it spent in the JVM's JIT compiler threads."""
        kids: dict[int, list[int]] = {}
        ticks: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:  # exited while listing
                continue
            fields = stat[stat.rfind(")") + 2:].split()
            pid = int(name)
            kids.setdefault(int(fields[1]), []).append(pid)
            ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        total, todo = 0, [self.jvm_pid]
        while todo:
            pid = todo.pop()
            total += ticks.get(pid, 0)
            todo += kids.get(pid, [])
        jit = 0
        for tid in os.listdir(f"/proc/{self.jvm_pid}/task"):
            try:
                with open(f"/proc/{self.jvm_pid}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:  # exited while listing
                continue
            if stat[stat.find("(") + 1:].startswith(("C1 CompilerThre", "C2 CompilerThre")):
                jit += sum(int(x) for x in stat[stat.rfind(")") + 2:].split()[11:13])
        own = os.times()
        return total / self.tick + own.user + own.system, jit / self.tick
