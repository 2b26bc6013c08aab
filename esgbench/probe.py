"""Outside-in measurement: spans, Spark scheduler counters and process-tree
RSS.  Nothing here reaches into the engine; it only watches the calls the
benchmark makes and the processes it started."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time


def p90(values: list[float]) -> float:
    """90th percentile, interpolated between order statistics (less jumpy
    than nearest rank on a few dozen samples); 0.0 for an empty sample."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=10, method="inclusive")[8]


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written at exit.

    ``span`` sets a fresh Spark job group for its body, so the scheduler
    counters of the jobs a layer launched can be read back per span."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counters: dict[str, dict] = {}
        self._stack: list[int] = []

    def span(self, name: str):
        return _Span(self, name)

    def busy(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Span time minus the part of it covered by child spans, per name."""
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            child = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == i)
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - child)
        return out

    def spark_totals(self) -> dict[str, int]:
        tot = {"jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0}
        for c in self.counters.values():
            for k in tot:
                tot[k] += c[k]
        return tot

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": self.spans,
                    "self_time_s": self.self_times(),
                    "spark_by_group": self.counters,
                },
                f,
                indent=1,
            )


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        t = self.t
        self.idx = len(t.spans)
        self.group = f"{t.run_id}:{self.idx}:{self.name}"
        t.spans.append(
            {"name": self.name, "start": time.perf_counter(), "end": None,
             "parent": t._stack[-1] if t._stack else None, "run_id": t.run_id}
        )
        t._stack.append(self.idx)
        t.spark.sparkContext.setJobGroup(self.group, self.name)
        return self

    def __exit__(self, *exc):
        t = self.t
        t.spans[self.idx]["end"] = time.perf_counter()
        t._stack.pop()
        t.counters[self.group] = job_group_counts(t.spark, self.group)
        parent = t.spans[t._stack[-1]]["name"] if t._stack else None
        if parent is not None:
            t.spark.sparkContext.setJobGroup(f"{t.run_id}:{t._stack[-1]}:{parent}", parent)
        return False


def job_group_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks of one job group, read from the
    scheduler's status tracker; plus the persisted-RDD count right after."""
    st = spark.sparkContext.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0}
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        out["jobs"] += 1
        if info is None:
            continue
        for sid in info.stageIds:
            stage = st.getStageInfo(sid)
            if stage is None:  # skipped stage (shuffle output reused)
                continue
            out["stages"] += 1
            out["tasks"] += stage.numTasks
            out["tasks_failed"] += stage.numFailedTasks
    out["persisted_rdds"] = persisted_rdds(spark)
    return out


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants (JVM, Python
    workers): the sum of their proportional set sizes, so pages that forked
    Python workers share with their daemon count once, not once per fork."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the process-tree RSS on a background thread; ``peak_mb``."""

    def __init__(self, interval_s: float = 0.25):
        self.interval = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def median(values):
    return statistics.median(values) if values else 0.0
