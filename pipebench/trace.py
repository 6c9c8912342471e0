"""Tracing from outside the program: spans around the benchmark's calls
into each layer, and counters read back from Spark's status stores.

Each span sets a Spark job group, so after the batch the jobs and stages
that span launched can be looked up in the ``AppStatusStore``; Python-UDF
counters come from the SQL status store's plan metrics, which Spark keeps
with the UI switched off.  Spans stay in memory until ``Tracer.dump``.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
PYTHON_METRICS = {
    "time to run Python workers": "python_s",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_received_bytes",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    batch: int
    group: str


class Tracer:
    """Spans and job groups; a disabled tracer does nothing, so untimed
    and timed code paths stay the same function calls."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, batch: int):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent.name if parent else None, batch,
                 f"pipebench-{batch}-{len(self.spans)}-{name}")
        self._stack.append(s)
        sc.setJobGroup(s.group, name)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            if parent:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def batch_spans(self, batch: int) -> list[Span]:
        return [s for s in self.spans if s.batch == batch]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class StatusReader:
    """Reads finished jobs, stages, SQL plan metrics and cache residency."""

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def drain(self) -> None:
        """Wait until the listeners have seen every event posted so far."""
        self.jsc.listenerBus().waitUntilEmpty()

    def stage_totals(self, groups: list[str]) -> dict[str, float]:
        tracker = self.spark.sparkContext.statusTracker()
        job_ids = sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})
        stage_ids = set()
        for j in job_ids:
            stage_ids.update(self.conv.asJava(self.store.job(j).stageIds()))
        tot = dict.fromkeys(
            ["jobs", "tasks", "cpu_s", "gc_s", "input_records", "shuffle_write_bytes", "spill_bytes"], 0.0)
        tot["jobs"] = float(len(job_ids))
        for sid in stage_ids:
            st = self.store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            tot["tasks"] += st.numTasks()
            tot["cpu_s"] += st.executorCpuTime() / 1e9
            tot["gc_s"] += st.jvmGcTime() / 1e3
            tot["input_records"] += st.inputRecords()
            tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["spill_bytes"] += st.diskBytesSpilled()
        return tot

    def executions_count(self) -> int:
        return int(self.sql.executionsCount())

    def plan_nodes(self, first_execution: int):
        """``(node, metric values by accumulator id)`` for every plan node of
        the SQL executions from ``first_execution`` (an earlier
        ``executions_count()``) on."""
        n = self.executions_count() - first_execution
        for e in self.conv.asJava(self.sql.executionsList(first_execution, n)):
            values = self.conv.asJava(self.sql.executionMetrics(e.executionId()))
            for node in self.conv.asJava(self.sql.planGraph(e.executionId()).allNodes()):
                yield node, values

    def python_totals(self, first_execution: int) -> dict[str, float]:
        """Python-UDF plan metrics, summed."""
        tot = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        for node, values in self.plan_nodes(first_execution):
            for m in self.conv.asJava(node.metrics()):
                key = PYTHON_METRICS.get(m.name())
                if key and values.get(m.accumulatorId()) is not None:
                    tot[key] += parse_metric(values.get(m.accumulatorId()))
        return tot

    def scan_columns(self, first_execution: int) -> list[list[str]]:
        """Top-level columns each parquet scan node read (its ``ReadSchema``)."""
        scans = []
        for node, _ in self.plan_nodes(first_execution):
            m = re.search(r"ReadSchema: struct<(.*)>", node.desc())
            if node.name().startswith("Scan parquet") and m:
                scans.append(_top_level_fields(m.group(1)))
        return scans

    def storage_bytes(self) -> float:
        """Memory plus disk held by cached RDDs right now."""
        return float(sum(r.memSize() + r.diskSize() for r in self.jsc.getRDDStorageInfo()))


def _top_level_fields(struct_body: str) -> list[str]:
    """``'a:string,b:struct<c:int>'`` -> ``['a', 'b']``."""
    fields, depth, start = [], 0, 0
    for i, ch in enumerate(struct_body + ","):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            fields.append(struct_body[start:i].split(":", 1)[0])
            start = i + 1
    return fields


def parse_metric(text: str) -> float:
    """A SQL metric's display string (``'7.6 MiB'``, ``'913 ms'``, or the
    ``total (min, med, max ...)`` form) as seconds or bytes."""
    total = text.split("\n")[-1]
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", total)
    if not m:
        raise ValueError(f"unparsed metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of process ``pid``, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")
