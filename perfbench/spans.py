"""Spans and counters recorded from outside the engine.

A span wraps one public call into a layer: ``build`` covers the call
that returns a lazy DataFrame, ``exec`` covers materialising it. Spans
of one operation share its id and carry the Spark job group the
operation ran under, so Spark job and task counts come from the
``statusTracker`` per operation. Spans stay in memory until
:meth:`Tracer.dump`.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.op_id: int | None = None

    def begin_op(self, op_id: int, part: str = "") -> None:
        """Tag the Spark jobs that follow with the operation's (part's)
        job group."""
        self.op_id = op_id
        self.sc.setJobGroup(self.group(op_id, part), f"benchmark operation {op_id}{part}")

    @staticmethod
    def group(op_id: int, part: str = "") -> str:
        return f"op-{op_id}{part}"

    @contextlib.contextmanager
    def span(self, layer: str, phase: str):
        start = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(
                {
                    "op": self.op_id,
                    "layer": layer,
                    "phase": phase,
                    "start": start,
                    "end": time.perf_counter(),
                }
            )

    def jobs_and_tasks(self, op_id: int, part: str = "") -> tuple[int, int]:
        """Spark jobs run under the operation's (part's) job group,
        broadcast builds included, and the tasks of their stages."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(self.group(op_id, part))
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                stage = st.getStageInfo(s)
                tasks += stage.numTasks if stage else 0
        return len(jobs), tasks

    def self_ms(self, layer: str, phase: str | None = None) -> list[float]:
        """Per-operation total duration of a layer's spans, in ms.
        Spans of one layer never nest, so duration is self time."""
        per_op: dict[int, float] = {}
        for s in self.spans:
            if s["layer"] == layer and (phase is None or s["phase"] == phase):
                per_op[s["op"]] = per_op.get(s["op"], 0.0) + (s["end"] - s["start"]) * 1e3
        return list(per_op.values())

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def jvm_gc_ms(spark) -> float:
    """Total JVM garbage-collection time so far, read through JMX."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))


def jvm_pid(spark) -> int:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return int(mf.getRuntimeMXBean().getPid())


def peak_rss_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
