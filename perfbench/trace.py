"""Spark's own counters, read around calls, and the traced-run span recorder.

Everything is read in-process from stores Spark keeps even with the UI off:

- the status store (``SparkContext.statusStore``): jobs with their stage
  ids and times, stage metrics (executor run/CPU time, shuffle bytes,
  spill, input records) and per-task durations;
- the SQL status store: per-plan-node metrics, of which the Python-UDF
  nodes' "time to run Python workers" is summed into ``python_s``;
- ``CodegenMetrics.METRIC_COMPILATION_TIME``: whole-stage codegen compile
  milliseconds;
- ``/proc``: resident memory of the driver, the JVM and the Python workers.

Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PY_TIME_METRIC = "time to run Python workers"
_DURATION = re.compile(r"([0-9.,]+)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _parse_duration_s(text: str) -> float:
    """Seconds from a formatted SQL timing metric (total on the 2nd line)."""
    line = text.split("\n")[-1]
    m = _DURATION.search(line)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]


class SparkCounters:
    """Readers over the status stores of one live SparkContext."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = spark._jvm
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            getattr(scala, "MODULE$")
        )
        self._empty = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self.slots = sc.defaultParallelism

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(self._empty))

    def last_job_id(self) -> int:
        return max((j["jobId"] for j in self.jobs()), default=-1)

    def jobs_after(self, job_id: int) -> list[dict]:
        return sorted(
            (j for j in self.jobs() if j["jobId"] > job_id), key=lambda j: j["jobId"]
        )

    @contextmanager
    def job_group(self, group: str):
        """Tag the jobs run inside the block, for ``group_jobs`` afterwards."""
        self._sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            yield
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)

    def group_jobs(self, group: str) -> list[dict]:
        ids = sorted(self._sc.statusTracker().getJobIdsForGroup(group))
        return [self._json(self._store.job(j)) for j in ids]

    def stage_attempts(self, stage_id: int) -> list[dict]:
        return [
            a
            for a in self._json(
                self._store.stageData(stage_id, False, self._empty, False, self._no_quantiles)
            )
            if a["status"] != "SKIPPED"
        ]

    def task_durations_ms(self, stage_id: int, attempt: int) -> list[int]:
        tasks = self._json(self._store.taskList(stage_id, attempt, 1 << 30))
        return [t["duration"] for t in tasks if t.get("duration") is not None]

    def sql_execution_count(self) -> int:
        return self._sql.executionsCount()

    def python_seconds(self, first_execution: int) -> float:
        """Python-worker time summed over SQL executions from the given index."""
        n = self._sql.executionsCount()
        if n <= first_execution:
            return 0.0
        total = 0.0
        for ex in self._json(self._sql.executionsList(first_execution, n - first_execution)):
            ids = {str(m["accumulatorId"]) for m in ex["metrics"] if m["name"] == PY_TIME_METRIC}
            if not ids:
                continue
            values = self._json(self._sql.executionMetrics(ex["executionId"]))
            total += sum(_parse_duration_s(v) for k, v in values.items() if k in ids)
        return total

    def node_output_rows(self, node: str, first: int, stop: int | None = None) -> list[int]:
        """'number of output rows' of every plan node whose name contains
        ``node``, in the SQL executions with index in [first, stop)."""
        out = []
        stop = self._sql.executionsCount() if stop is None else stop
        for i in range(first, stop):
            eid = self._sql.executionsList(i, 1).apply(0).executionId()
            nodes = self._sql.planGraph(eid).allNodes()
            values = self._json(self._sql.executionMetrics(eid))
            for n in range(nodes.size()):
                if node not in nodes.apply(n).name():
                    continue
                metrics = nodes.apply(n).metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    if metric.name() == "number of output rows":
                        raw = values.get(str(metric.accumulatorId()), "0")
                        out.append(int(raw.split("\n")[-1].split()[0].replace(",", "")))
        return out

    def compile_ms(self) -> int:
        """Total codegen compile ms recorded so far (exact below 1028 samples)."""
        return int(sum(self._codegen.getSnapshot().getValues()))


def job_seconds(job: dict) -> float:
    return (job["completionTime"] - job["submissionTime"]) / 1000.0


def covered_seconds(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] millisecond intervals, in s."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def span_counters(counters: SparkCounters, jobs: list[dict], wall_s: float) -> dict:
    """Counters of the given jobs: work done, time busy, skew, idle driver."""
    stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
    attempts = [a for s in stage_ids for a in counters.stage_attempts(s)]
    durations = [
        d for a in attempts for d in counters.task_durations_ms(a["stageId"], a["attemptId"])
    ]
    run_s = sum(a["executorRunTime"] for a in attempts) / 1000.0
    busy = [
        (a["submissionTime"], a["completionTime"])
        for a in attempts
        if a.get("submissionTime") and a.get("completionTime")
    ]
    median = statistics.median(durations) if durations else 0
    return {
        "jobs": len(jobs),
        "stages": len(attempts),
        "tasks": sum(a["numCompleteTasks"] for a in attempts),
        "exec_run_s": run_s,
        "exec_cpu_s": sum(a["executorCpuTime"] for a in attempts) / 1e9,
        "shuffle_write_bytes": sum(a["shuffleWriteBytes"] for a in attempts),
        "spill_bytes": sum(a["diskBytesSpilled"] for a in attempts),
        "input_records": sum(a["inputRecords"] for a in attempts),
        "task_skew": (max(durations) / max(median, 1)) if durations else 0.0,
        "core_util": run_s / (wall_s * counters.slots) if wall_s > 0 else 0.0,
        "driver_s": max(wall_s - covered_seconds(busy), 0.0),
    }


@dataclass
class Span:
    name: str
    parent: str | None
    run_id: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Recorder:
    """Records a span around each call into a layer, with the Spark counters
    of the jobs that call ran. Spans nest; self time is a span's wall time
    minus the time its child spans cover. Spans of one pass share ``run_id``."""

    def __init__(self, counters: SparkCounters, run_id: str):
        self.counters = counters
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].name if self._stack else None
        job0 = self.counters.last_job_id()
        sql0 = self.counters.sql_execution_count()
        sp = Span(name, parent, self.run_id, time.perf_counter())
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(sp)
            jobs = self.counters.jobs_after(job0)
            sp.counters = span_counters(self.counters, jobs, sp.wall_s)
            sp.counters["python_s"] = self.counters.python_seconds(sql0)

    def self_seconds(self, sp: Span) -> float:
        children = [c for c in self.spans if c.parent == sp.name and c.run_id == sp.run_id
                    and c.start >= sp.start and c.end <= sp.end]
        return max(sp.wall_s - sum(c.wall_s for c in children), 0.0)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "name": s.name,
                        "parent": s.parent,
                        "run_id": s.run_id,
                        "start": s.start,
                        "end": s.end,
                        "self_s": self.self_seconds(s),
                        "counters": s.counters,
                    }
                    for s in self.spans
                ],
                f,
                indent=1,
            )


class NullRecorder:
    """The untraced run: spans cost nothing and record nothing."""

    @contextmanager
    def span(self, name: str):
        yield None


def process_tree_peak_rss_mb() -> float:
    """Sum of peak resident set (VmHWM) over this process and its descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total_kb = 0
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
