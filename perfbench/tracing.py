"""Measurement from outside the program: spans, sink wrappers, process
memory and Spark's JSON event log.

Nothing here changes what the jobs compute.  Spans are kept in memory and
written with the report when the benchmark ends; the event log is only
enabled in the traced run and parsed after its session stops.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# Local property that tags every Spark job started inside a span; the
# event log carries it in the job and stage properties.
TAG_PROPERTY = "perfbench.tag"


class Spans:
    """In-memory span list: (name, tag, start, end) on one monotonic clock."""

    def __init__(self) -> None:
        self.t0 = time.monotonic()
        self.items: list[dict] = []

    @contextmanager
    def span(self, name: str, tag: str | None = None):
        start = time.monotonic()
        try:
            yield
        finally:
            self.items.append(
                {
                    "name": name,
                    "tag": tag,
                    "start_s": start - self.t0,
                    "end_s": time.monotonic() - self.t0,
                }
            )

    def total(self, name: str, tag: str | None = None) -> float:
        return sum(
            s["end_s"] - s["start_s"]
            for s in self.items
            if s["name"] == name and (tag is None or s["tag"] == tag)
        )


@contextmanager
def spark_tag(spark, tag: str):
    """Tag the Spark jobs started in this block (read back from the event log)."""
    sc = spark.sparkContext
    sc.setLocalProperty(TAG_PROPERTY, tag)
    try:
        yield
    finally:
        sc.setLocalProperty(TAG_PROPERTY, None)


class TimedSink:
    """The two SnapshotSink methods the jobs call: times ``append`` and
    counts the snapshots ``read_committed`` returns.  Injected through the
    jobs' ``sink=`` / ``lineage_sink=`` parameters in the traced run only."""

    def __init__(self, inner, spans: Spans, name: str, tag: str) -> None:
        self.inner = inner
        self.spans = spans
        self.name = name
        self.tag = tag
        self.snapshots_read = 0

    def append(self, df, *, run_id=None):
        with self.spans.span(f"{self.name}.append", self.tag):
            return self.inner.append(df, run_id=run_id)

    def read_committed(self, spark):
        self.snapshots_read += len(self.inner.snapshots())
        return self.inner.read_committed(spark)


def _proc_tree_pss_bytes(root_pid: int) -> int:
    """Proportional resident bytes of ``root_pid`` and all its descendants,
    from /proc.  PSS splits each shared page among the processes mapping
    it, so forked Python workers are not counted once per fork."""
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(entry))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Background sampler of the peak proportional resident memory of a
    process tree (the driver JVM plus its Python workers).  ``with``
    starts and joins it."""

    def __init__(self, root_pid: int, interval_s: float = 0.25) -> None:
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _proc_tree_pss_bytes(self.root_pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("RSS sampler did not stop")


# --------------------------------------------------------------------------
# Spark JSON event log
# --------------------------------------------------------------------------
# SQL metric type -> factor to seconds
_METRIC_TYPE_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}

# SQL metric name -> layer metric it is summed into (times in seconds)
_SQL_METRICS = {
    "scan time": "scan.s",
    "time to start Python workers": "python.worker_start_s",
    "time to initialize Python workers": "python.worker_start_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "arrow.to_python_bytes",
    "data returned from Python workers": "arrow.from_python_bytes",
    "task commit time": "commit.s",
    "job commit time": "commit.s",
}

TAG_METRICS = (
    "scan.s",
    "scan.bytes",
    "codegen.s",
    "python.worker_start_s",
    "python.run_s",
    "arrow.to_python_bytes",
    "arrow.from_python_bytes",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "shuffle.fetch_wait_s",
    "executor.run_s",
    "executor.cpu_s",
    "gc.s",
    "spill.bytes",
    "commit.s",
    "task.failed",
)


def _walk(node):
    yield node
    for child in node.get("children", ()):
        yield from _walk(child)


def parse_event_log(path: str, input_path: str) -> dict[str, dict]:
    """Per-tag layer metrics from one Spark JSON event log.

    Returns ``{tag: {metric: value, "jobs": n, "input_scans": n,
    "widest_stage_skew": x}}``.  Task metrics and SQL metric updates are
    summed over the tasks of the stages the tag's jobs ran.
    ``input_scans`` counts distinct scan operators over ``input_path``
    that did work; a cached plan's scan runs, and counts, once.
    """
    accums: dict[int, tuple[str, str, str]] = {}  # accum id -> (metric, node, type)
    input_scan_accums: set[int] = set()
    stage_tag: dict[int, str] = {}
    exec_tag: dict[str, str] = {}
    per_tag: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_runs: dict[int, list[float]] = defaultdict(list)
    scans_seen: dict[str, set[int]] = defaultdict(set)
    input_marker = os.path.abspath(input_path)

    def add_plan(plan) -> None:
        for node in _walk(plan):
            name = node.get("nodeName", "")
            desc = json.dumps(node.get("metadata", {})) + node.get("simpleString", "")
            is_input_scan = name.startswith("Scan parquet") and input_marker in desc
            for m in node.get("metrics", ()):
                accums[m["accumulatorId"]] = (m["name"], name, m["metricType"])
                if is_input_scan and m["name"] == "number of output rows":
                    input_scan_accums.add(m["accumulatorId"])

    def add_sql(tag: str, acc_id: int, value: float) -> None:
        if acc_id not in accums:
            return
        metric, node, mtype = accums[acc_id]
        scale = _METRIC_TYPE_SCALE.get(mtype, 1.0)
        if metric == "duration" and node.startswith("WholeStageCodegen"):
            per_tag[tag]["codegen.s"] += value * scale
        elif metric in _SQL_METRICS:
            per_tag[tag][_SQL_METRICS[metric]] += value * scale
        if acc_id in input_scan_accums and value > 0:
            scans_seen[tag].add(acc_id)

    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                add_plan(e["sparkPlanInfo"])
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                tag = props.get(TAG_PROPERTY)
                if tag is None:
                    continue
                per_tag[tag]["jobs"] += 1
                for sid in e.get("Stage IDs", ()):
                    stage_tag[sid] = tag
                if "spark.sql.execution.id" in props:
                    exec_tag[str(props["spark.sql.execution.id"])] = tag
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                tag = exec_tag.get(str(e.get("executionId")))
                if tag is not None:
                    for acc_id, value in e.get("accumUpdates", ()):
                        add_sql(tag, acc_id, float(value))
            elif kind == "SparkListenerTaskEnd":
                tag = stage_tag.get(e["Stage ID"])
                if tag is None:
                    continue
                t = per_tag[tag]
                if e.get("Task End Reason", {}).get("Reason") != "Success":
                    t["task.failed"] += 1
                tm = e.get("Task Metrics") or {}
                run_ms = tm.get("Executor Run Time", 0)
                stage_runs[e["Stage ID"]].append(run_ms)
                t["executor.run_s"] += run_ms / 1e3
                t["executor.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                t["gc.s"] += tm.get("JVM GC Time", 0) / 1e3
                t["spill.bytes"] += tm.get("Disk Bytes Spilled", 0)
                t["scan.bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                sw = tm.get("Shuffle Write Metrics") or {}
                t["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                t["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                t["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                for a in e.get("Task Info", {}).get("Accumulables", ()):
                    if "Update" in a:
                        add_sql(tag, a["ID"], float(a["Update"]))

    out: dict[str, dict] = {}
    for tag, t in per_tag.items():
        row = {
            m: int(t.get(m, 0)) if m.endswith("bytes") or m == "task.failed" else float(t.get(m, 0.0))
            for m in TAG_METRICS
        }
        row["jobs"] = int(t.get("jobs", 0))
        row["input_scans"] = len(scans_seen.get(tag, ()))
        stages = [s for s, st in stage_tag.items() if st == tag and stage_runs.get(s)]
        if stages:
            # widest stage: most tasks, then most run time
            widest = max(stages, key=lambda s: (len(stage_runs[s]), sum(stage_runs[s])))
            runs = stage_runs[widest]
            med = statistics.median(runs)
            row["widest_stage_skew"] = max(runs) / med if med > 0 else 1.0
        else:
            row["widest_stage_skew"] = 1.0
        out[tag] = row
    return out
