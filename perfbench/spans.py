"""Spans around the benchmark's calls into the engine's layers, with the
Spark-side cost of each span read from Spark's own status store, and the
resident memory of the Spark JVM and of its Python workers.

A span is ``name, start, end, parent, op`` plus the jobs, stages, tasks,
executor CPU/run/GC time, shuffle bytes and spill of the Spark jobs started
inside it: every span runs under its own ``sc.setJobGroup``, and when it ends
the jobs of that group are looked up with ``sc.statusTracker()`` and their
stages with the status store (both work with ``spark.ui.enabled=false``).
Spans are kept in memory and written out once, when the run ends.

With tracing off every method is a no-op, so the untraced run times the
engine alone.
"""

from __future__ import annotations

import contextlib
import json
import os
import pathlib
import threading
import time
from collections.abc import Iterator

from py4j.protocol import Py4JJavaError
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._cached: list[DataFrame] = []
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None) -> Iterator[dict]:
        """Record one call into a layer.  The yielded dict takes extra
        counters (e.g. ``hot_cells``) that the caller measures inside."""
        attrs: dict = {}
        if not self.enabled:
            yield attrs
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        self._next += 1
        rec = {
            "id": self._next,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "group": f"perfbench-span-{self._next}",
        }
        self._stack.append(rec)
        sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield attrs
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            rec.update(self._group_cost(rec["group"]))
            rec.update(attrs)
            self.spans.append(rec)

    def materialize(self, df: DataFrame) -> DataFrame:
        """Run a lazy layer's plan inside its own span (traced run only), so
        its time is charged to that layer and not to whichever later layer
        happens to trigger it.  Released by :meth:`release`."""
        if not self.enabled:
            return df
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
        self._cached.append(df)
        return df

    def release(self) -> None:
        for df in self._cached:
            df.unpersist(blocking=True)
        self._cached.clear()

    def _group_cost(self, group: str) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # the status store is fed by the listener bus asynchronously: drain
        # it so the last tasks' metrics are in before reading
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        cost = dict.fromkeys(
            ("stages", "tasks", "run_s", "cpu_s", "gc_s",
             "shuffle_read_mb", "shuffle_write_mb", "spill_mb"), 0.0
        )
        cost["jobs"] = len(jobs)
        for s in stage_ids:
            try:
                sd = store.lastStageAttempt(s)
            except Py4JJavaError:
                continue  # evicted from the store
            if sd.status().toString() == "SKIPPED":
                continue  # shuffle output reused, nothing ran
            cost["stages"] += 1
            cost["tasks"] += sd.numCompleteTasks()
            cost["run_s"] += sd.executorRunTime() / 1e3
            cost["cpu_s"] += sd.executorCpuTime() / 1e9
            cost["gc_s"] += sd.jvmGcTime() / 1e3
            cost["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
            cost["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
            cost["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
        return cost

    def dump(self, path: pathlib.Path) -> None:
        path.write_text(json.dumps(self.spans, indent=1))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _status_kb(pid: int, field: str) -> int:
    """A ``kB`` field of ``/proc/<pid>/status`` (0 once the process is gone)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pid: int) -> float:
    """The kernel's high-water mark of ``pid``'s resident set."""
    return _status_kb(pid, "VmHWM") / 1024.0


class WorkerRssSampler:
    """Samples the summed resident set of the Python workers the Spark JVM
    forks (every descendant of ``jvm``) on a background thread; ``peak_mb``
    is the largest sum seen.  The worker count follows task timing, so this
    is kept apart from the JVM's own peak."""

    def __init__(self, jvm: int, interval: float = 0.2) -> None:
        self.jvm = jvm
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            kb = sum(_status_kb(p, "VmRSS") for p in process_tree(self.jvm)[1:])
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(self.interval)

    def start(self) -> WorkerRssSampler:
        self._thread.start()
        return self

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=10)
