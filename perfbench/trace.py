"""Measurement helpers: percentiles, in-memory spans and the traced run.

The untraced run only times ops. A traced run (``--trace 1``) also:

- turns on the Spark event log (uncompressed, not rolling) and folds it
  into per-layer counts after the session stops;
- tags each op with its own job group, and maps each streaming query's
  run id to the op that drained it (micro-batch jobs carry the query's
  run id as their group, not the caller's);
- records Catalyst phase times of every action through a
  ``QueryExecutionListener``;
- probes persisted RDDs and storage size around each op.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import math
import os
import time
from collections import defaultdict
from contextlib import contextmanager


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(1, math.ceil(p / 100 * len(s))) - 1]


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def eventlog_conf(log_dir: str) -> list[str]:
    """spark-submit ``--conf`` flags that turn the event log on in a form
    :func:`fold_event_log` can read line by line."""
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{os.path.abspath(log_dir)}",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
    ]


#: SQL metric of the Python-worker nodes (pandas/Arrow UDFs, stateful
#: pandas operators): milliseconds the task spent running Python code.
PYTHON_RUN_METRIC = "time to run Python workers"


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def fold_event_log(events, group_to_op: dict[str, str]) -> dict[str, dict]:
    """Per-op counts and task metrics from Spark listener events.

    ``events`` is an iterable of decoded event-log records; jobs map to
    ops through their job group (``spark.jobGroup.id``). Jobs in groups
    not named in ``group_to_op`` are ignored. Returns, per op: jobs,
    stages, tasks, ``job_busy_ms`` (union of job intervals) and summed
    task metrics."""
    stage_op: dict[int, str] = {}
    job_op: dict[int, str] = {}
    job_start: dict[int, int] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    intervals: dict[str, list[tuple[int, int]]] = defaultdict(list)
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            op = group_to_op.get(group)
            if op is None:
                continue
            job_op[e["Job ID"]] = op
            job_start[e["Job ID"]] = e["Submission Time"]
            out[op]["jobs"] += 1
            for sid in e["Stage IDs"]:
                stage_op[sid] = op
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_op:
            op = job_op[e["Job ID"]]
            intervals[op].append((job_start[e["Job ID"]], e["Completion Time"]))
        elif kind == "SparkListenerStageCompleted":
            op = stage_op.get(e["Stage Info"]["Stage ID"])
            if op is not None:
                out[op]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get(e["Stage ID"])
            if op is None:
                continue
            m = e.get("Task Metrics") or {}
            r = out[op]
            r["tasks"] += 1
            r["run_ms"] += m.get("Executor Run Time", 0)
            r["cpu_ns"] += m.get("Executor CPU Time", 0)
            r["gc_ms"] += m.get("JVM GC Time", 0)
            r["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            r["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            r["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            r["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == PYTHON_RUN_METRIC:
                    r["python_ms"] += float(acc.get("Update") or 0)
    for op, iv in intervals.items():
        out[op]["job_busy_ms"] = _union_ms(iv)
    return {op: dict(v) for op, v in out.items()}


def read_event_log(log_dir: str):
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                yield json.loads(line)


def fold_progress(progress: list[dict]) -> dict[str, float]:
    """Stream layer counts from ``StreamingQuery.recentProgress``: data
    batches, input rows, summed trigger time and, from the last batch,
    the rows and bytes held in state."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    last = progress[-1] if progress else {}
    ops = last.get("stateOperators") or []
    return {
        "batches": len(batches),
        "input_rows": sum(p.get("numInputRows", 0) for p in progress),
        "trigger_ms": sum((p.get("durationMs") or {}).get("triggerExecution", 0) for p in progress),
        "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
        "state_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
    }


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by process ``root`` and its live
    descendants, with the children each has reaped. Time the hypervisor
    steals from the guest is not in it, unlike wall time."""
    tick = os.sysconf("SC_CLK_TCK")
    parent: dict[int, int] = {}
    cpu: dict[int, float] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process exited while we listed
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        parent[int(d)] = int(fields[1])
        cpu[int(d)] = sum(int(x) for x in fields[11:15]) / tick  # utime stime cutime cstime
    tree, grew = {root}, True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return sum(cpu.get(pid, 0.0) for pid in tree)


class _PhaseListener:
    """JVM ``QueryExecutionListener`` implemented over the py4j callback
    server: sums Catalyst phase times of every finished action."""

    def __init__(self):
        self.ms = defaultdict(float)
        self.actions = 0

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM interface)
        phases = qe.tracker().phases()
        it = phases.keySet().iterator()
        while it.hasNext():
            k = it.next()
            self.ms[k] += phases.get(k).get().durationMs()
        self.actions += 1

    def onFailure(self, func_name, qe, exc):  # noqa: N802 (JVM interface)
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Op spans for every run; job groups, Catalyst and cache probes only
    when ``enabled``. ``hook_s`` is the time spent in those probes."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.group_to_op: dict[str, str] = {}
        self.hook_s = 0.0
        self.phases = None
        if enabled:
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(self.sc._gateway)
            self.phases = _PhaseListener()
            spark._jsparkSession.listenerManager().register(self.phases)

    def _cache_state(self) -> tuple[int, int]:
        jsc = self.sc._jsc
        n = jsc.getPersistentRDDs().size()
        size = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo())
        return n, size

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Time a block. When tracing and ``group`` is set, the block's
        jobs run under that job group and cache state is read on both
        sides."""
        rec = {"name": name, "group": group}
        if self.enabled and group is not None:
            h = time.perf_counter()
            self.sc.setJobGroup(group, name)
            self.group_to_op[group] = group
            rec["persisted_before"], rec["storage_before"] = self._cache_state()
            self.hook_s += time.perf_counter() - h
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            rec["wall_s"] = rec["t1"] - rec["t0"]
            if self.enabled and group is not None:
                h = time.perf_counter()
                rec["persisted_after"], rec["storage_after"] = self._cache_state()
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.hook_s += time.perf_counter() - h
            self.spans.append(rec)

    def stream_drained(self, query, group: str) -> dict[str, float]:
        """Attribute a finished streaming query's jobs to ``group`` and
        fold its progress reports."""
        h = time.perf_counter()
        self.group_to_op[str(query.runId)] = group
        progress = []
        for p in query.recentProgress:
            progress.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
        self.hook_s += time.perf_counter() - h
        return fold_progress(progress)

    def flush_listeners(self) -> None:
        if self.enabled:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1, default=str)
