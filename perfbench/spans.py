"""Spans and Spark stage metrics for the traced run.

A span is opened around each call into a layer's public function.
Spans live in memory (name, start, end, parent, run id, counts) and
are written out once, when the run ends.  Every span sets its own
Spark job group, so the jobs a layer launches are attributed to it;
after the run the collector reads task, shuffle and spill totals for
those jobs from the JVM's ``AppStatusStore`` (works with the UI
disabled).
"""

from __future__ import annotations

import contextlib
import json
import threading
import time


class Tracer:
    """Records spans when ``enabled``; a disabled tracer is a no-op,
    so the untraced run executes the same code with nothing added."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        # spans may open on several threads: each keeps its own stack
        # (Spark job groups are per thread too)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _new(self, name: str, parent, group: str | None, **fields) -> dict:
        with self._lock:
            sp = {"id": len(self.spans), "name": name,
                  "run_id": self.run_id, "parent": parent,
                  "group": group, "counts": {}, **fields}
            if sp["group"] == "":
                sp["group"] = f"{self.run_id}-{sp['id']}"
            self.spans.append(sp)
        return sp

    @contextlib.contextmanager
    def span(self, name: str):
        """Time a layer call; the yielded dict takes counts."""
        if not self.enabled:
            yield {}
            return
        sc = self.spark.sparkContext
        stack = self._local.__dict__.setdefault("stack", [])
        sp = self._new(name, stack[-1]["id"] if stack else None, "")
        stack.append(sp)
        sc.setJobGroup(sp["group"], name)
        sp["start"] = time.perf_counter()
        try:
            yield sp["counts"]
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            if stack:
                sc.setJobGroup(stack[-1]["group"], stack[-1]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def add(self, name: str, start: float, end: float,
            group: str | None = None) -> None:
        """Record a span measured elsewhere (e.g. a streaming
        micro-batch, timed by the stream's own sink wrapper)."""
        if self.enabled:
            self._new(name, None, group, start=start, end=end)

    def collect_stage_metrics(self) -> None:
        """Attach Spark task/shuffle/spill totals to every span from
        the jobs of its job group."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        stages = stage_table(self.spark)
        tracker = sc.statusTracker()
        for sp in self.spans:
            totals = dict.fromkeys(STAGE_FIELDS, 0.0)
            if sp["group"] is not None:
                job_ids = tracker.getJobIdsForGroup(sp["group"])
                totals["jobs"] = len(job_ids)
                for job_id in job_ids:
                    info = tracker.getJobInfo(job_id)
                    for sid in (info.stageIds if info else ()):
                        for k, v in stages.get(sid, {}).items():
                            totals[k] = totals.get(k, 0.0) + v
            sp["stage"] = totals

    def self_time(self, sp: dict) -> float:
        """Span duration minus the part its children cover (children
        of one span run one after another on its thread)."""
        kids = sum(c["end"] - c["start"] for c in self.spans
                   if c["parent"] == sp["id"])
        return (sp["end"] - sp["start"]) - kids

    def layer(self, prefix: str) -> dict:
        """Totals over every span named ``prefix`` or
        ``prefix.<child>``: self seconds, counts, stage metrics."""
        out = {"self_s": 0.0, "wall_s": 0.0, "n": 0}
        out.update(dict.fromkeys(STAGE_FIELDS, 0.0))
        for sp in self.spans:
            if sp["name"] != prefix and \
                    not sp["name"].startswith(prefix + "."):
                continue
            out["n"] += 1
            out["self_s"] += self.self_time(sp)
            if sp["name"] == prefix:
                out["wall_s"] += sp["end"] - sp["start"]
            for k, v in sp.get("stage", {}).items():
                out[k] = out.get(k, 0.0) + v
            for k, v in sp["counts"].items():
                out[k] = out.get(k, 0) + v
        return out

    def last(self, name: str, key: str) -> float:
        """Count ``key`` of the latest span called ``name`` (0 if none)."""
        for sp in reversed(self.spans):
            if sp["name"] == name:
                return sp["counts"].get(key, 0)
        return 0

    def dump(self, path: str) -> None:
        """Write every span as one JSON line (the trace file)."""
        with open(path, "w", encoding="utf-8") as f:
            for sp in self.spans:
                f.write(json.dumps(sp, sort_keys=True) + "\n")


#: per-span stage totals (names as reported in the per-layer metrics)
STAGE_FIELDS = ("tasks", "failed_tasks", "executor_busy_s",
                "shuffle_write_mb", "shuffle_read_mb", "spill_mb")


def stage_table(spark) -> dict[int, dict]:
    """stage id -> summed task/shuffle/spill figures over its attempts,
    read from ``AppStatusStore.stageList`` through py4j."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    empty = jvm.java.util.ArrayList()
    seq = store.stageList(None, False, False,
                          jvm.scala.Array.emptyDoubleArray(), empty)
    out: dict[int, dict] = {}
    mb = 1024.0 * 1024.0
    for i in range(seq.size()):
        st = seq.apply(i)
        row = out.setdefault(st.stageId(), dict.fromkeys(STAGE_FIELDS, 0.0))
        row["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        row["failed_tasks"] += st.numFailedTasks()
        row["executor_busy_s"] += st.executorRunTime() / 1000.0
        row["shuffle_write_mb"] += st.shuffleWriteBytes() / mb
        row["shuffle_read_mb"] += st.shuffleReadBytes() / mb
        row["spill_mb"] += (st.memoryBytesSpilled()
                            + st.diskBytesSpilled()) / mb
        row["input_records"] = row.get("input_records", 0.0) \
            + st.inputRecords()
    return out
