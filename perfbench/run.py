#!/usr/bin/env python3
"""Job-level benchmark of the resumable extraction jobs.

    python3 perfbench/run.py --workload flagship_cold --seed 1 --seconds 15 --trace 0

Runs one workload (``perfbench/workloads.py``) on one local[4] session in
a closed loop: one job call at a time, the next starting when the
previous one has committed.  Every call's committed output is checked
against the workload's oracle outside the timed region.

``--trace 0`` prints the end-to-end metrics:

* ``docs_per_s``: input docs / job wall time (the call into
  ``run_flagship`` / ``run_web`` until it returns), median of the timed
  calls that follow the first call and the warm-up calls;
* ``setup_s``: ``get_spark`` wall time plus the first call's excess over
  that median, what a fresh spark-submit pays;
* ``peak_rss_mb``: median over the timed calls of each call's peak
  proportional resident memory (PSS) of the driver JVM and its Python
  workers, sampled from /proc.

``--trace 1`` first repeats the untraced measurement, then restarts the
session with Spark's JSON event log on, injects timing sink wrappers, and
prints the per-layer metrics (see ``LAYER_UNITS``).

Failed calls (raised, or output failed the check) are reported in
``failed`` out of ``attempted``.  The last stdout line is one JSON object;
the full run list, spans and layer table go to
``perfbench/_work/reports/<workload>-trace<0|1>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")

CORES = 4
# Driver heap: below the 15 GB host, with room for the Python workers.
DRIVER_MEM = "3g"
MIN_TIMED_CALLS = 3
# job time spent in untimed warm-up calls after the first call
WARMUP_S = 6.0
TRACED_RUNS = 3
LAYER_REPEATS = 2

E2E_UNITS = {"docs_per_s": "docs/s", "setup_s": "s", "peak_rss_mb": "MB"}

LAYER_UNITS = {
    "session.get_spark_s": "s",
    "python.worker_start_s": "s",
    "checkpoint.pending_s": "s",
    "checkpoint.pending_frac": "ratio",
    "checkpoint.snapshots_read": "count",
    "checkpoint.append_s": "s",
    "skew.repartition_s": "s",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s",
    "task.max_over_median": "ratio",
    "extract.s": "s",
    "extract.docs_out_frac": "ratio",
    "extract.spans_out": "count",
    "codegen.s": "s",
    "dom.s": "s",
    "python.run_s": "s",
    "arrow.to_python_bytes": "bytes",
    "arrow.from_python_bytes": "bytes",
    "dom.blocks_dropped_frac": "ratio",
    "layout.s": "s",
    "lineage.append_s": "s",
    "plan.self_s": "s",
    "plan.spark_jobs": "count",
    "plan.input_scans": "count",
    "scan.s": "s",
    "scan.bytes": "bytes",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "gc.s": "s",
    "spill.bytes": "bytes",
    "commit.s": "s",
    "task.failed": "count",
    "trace.overhead_frac": "ratio",
}

# per-run directories under WORK, emptied at start and removed at exit
SCRATCH_DIRS = ("tmp", "spark-local", "warehouse", "eventlog")

# layer time metrics measured by noop runs, when on the workload's path
NOOP_LAYERS = ("checkpoint.pending_s", "skew.repartition_s", "extract.s", "dom.s", "layout.s")


def session_conf(event_log_dir: str | None = None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # the JVM's temporary files stay in the work dir; -XX:-UsePerfData
        # stops it writing /tmp/hsperfdata_<user>
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
        ),
    }
    if event_log_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(event_log_dir: str | None = None):
    from cloud_ocr_summarizer_spark.session import get_spark

    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # spark-submit's launcher JVM would otherwise create /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return get_spark(app_name="perfbench", cores=CORES, extra_conf=session_conf(event_log_dir))


def stop_gateway() -> None:
    """Stop the active session and the driver JVM, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class Bench:
    """One workload's job calls on the current session, with their checks."""

    def __init__(self, workload, spark, get_spark_s: float) -> None:
        self.wl = workload
        self.spark = spark
        self.get_spark_s = get_spark_s
        self.docs = None  # the input table, read after the workload builds it
        self.calls: list[dict] = []
        self.jvm_pid = spark.sparkContext._gateway.proc.pid

    def call(self, label: str, *, spans=None, tag: str | None = None) -> dict:
        """One timed job call, then its output check (untimed)."""
        from perfbench.tracing import RssSampler, TimedSink, spark_tag
        from cloud_ocr_summarizer_spark.sources.checkpoint import SnapshotSink

        run = self.wl.prepare(len(self.calls))
        rec = {"label": label, "tag": tag, "problems": []}
        sinks = {}
        if spans is not None:
            sinks = {
                "sink": TimedSink(SnapshotSink(run.out), spans, "checkpoint", tag),
                "lineage_sink": TimedSink(SnapshotSink(run.lineage), spans, "lineage", tag),
            }
        result = None
        with RssSampler(self.jvm_pid) as rss:
            t0 = time.monotonic()
            try:
                if tag is None:
                    result = self.wl.job(self.spark, run, self.docs, **sinks)
                else:
                    with spans.span("job", tag), spark_tag(self.spark, tag):
                        result = self.wl.job(self.spark, run, self.docs, **sinks)
            except Exception:
                rec["problems"].append(traceback.format_exc(limit=3))
            rec["wall_s"] = time.monotonic() - t0
        rec["peak_rss_mb"] = rss.peak_bytes / 2**20
        if result is not None:
            t0 = time.monotonic()
            try:
                rec["problems"] += self.wl.check(self.spark, run, result)
                if spans is not None:
                    rec["docs_written"] = result.docs_written
                    rec["snapshots_read"] = sinks["sink"].snapshots_read
                    rec.update(self.wl.output_counts(self.spark, run, result))
            except Exception:
                rec["problems"].append(traceback.format_exc(limit=3))
            rec["check_s"] = time.monotonic() - t0
        self.wl.cleanup(run)
        rec["ok"] = not rec["problems"]
        self.calls.append(rec)
        return rec

    def closed_loop(self, seconds: float) -> list[float]:
        """First call, warm-up calls until WARMUP_S of job time, then timed
        calls until ``seconds`` of job time (at least MIN_TIMED_CALLS).
        Every call is checked; returns the walls of the good timed calls."""
        self.call("first")
        spent = 0.0
        while spent < WARMUP_S:
            spent += self.call("warmup")["wall_s"]
        timed = []
        spent = 0.0
        while spent < seconds or len(timed) < MIN_TIMED_CALLS:
            rec = self.call("timed")
            spent += rec["wall_s"]
            timed.append(rec)
        walls = [r["wall_s"] for r in timed if r["ok"]]
        if not walls or not self.calls[0]["ok"]:
            raise RuntimeError("no successful job calls: " + json.dumps(self.calls)[:2000])
        return walls


def end_to_end(bench: Bench, timed: list[float]) -> dict:
    med = statistics.median(timed)
    return {
        "docs_per_s": bench.wl.n_docs / med,
        "setup_s": bench.get_spark_s + (bench.calls[0]["wall_s"] - med),
        "peak_rss_mb": statistics.median(
            c["peak_rss_mb"] for c in bench.calls if c["label"] == "timed" and c["ok"]
        ),
    }


def traced(bench: Bench, untraced_median: float, ev_dir: str) -> tuple[dict, dict]:
    """Traced job calls and layer noop runs on an event-logged session.
    Returns (per-layer metrics, detail for the report)."""
    from perfbench.tracing import Spans, parse_event_log, spark_tag
    from perfbench.workloads import noop

    spans = Spans()
    wl, spark = bench.wl, bench.spark
    bench.call("traced-warmup", spans=spans, tag="warmup")
    tags = [f"job{k}" for k in range(TRACED_RUNS)]
    recs = [bench.call("traced", spans=spans, tag=t) for t in tags]

    noop_s: dict[str, list[float]] = {}
    bases: dict[str, str | None] = {}
    noop(bench.docs)  # the first noop after the job calls runs slow; discard it
    for rep in range(LAYER_REPEATS):
        run = wl.prepare(len(bench.calls) + rep)
        for metric, df, base in wl.layer_chain(spark, run, bench.docs):
            bases[metric] = base
            t0 = time.monotonic()
            with spans.span(metric, f"layer{rep}"), spark_tag(spark, f"layer.{metric}"):
                noop(df)
            noop_s.setdefault(metric, []).append(time.monotonic() - t0)
        wl.cleanup(run)
    stop_gateway()

    logs = [os.path.join(ev_dir, f) for f in os.listdir(ev_dir)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    ev = parse_event_log(logs[0], wl.input_path)

    def med(values):
        return statistics.median(values)

    layer_s = {
        m: min(noop_s[m]) - min(noop_s[b]) for m, b in bases.items() if b is not None
    }
    walls = [r["wall_s"] for r in recs]
    append_s = med([spans.total("checkpoint.append", t) for t in tags])
    lineage_s = med([spans.total("lineage.append", t) for t in tags])
    out = {
        "session.get_spark_s": bench.get_spark_s,
        "python.worker_start_s": ev.get("warmup", {}).get("python.worker_start_s", 0.0),
        "checkpoint.pending_frac": wl.n_pending / wl.n_docs,
        "checkpoint.snapshots_read": recs[0]["snapshots_read"],
        "checkpoint.append_s": append_s,
        "lineage.append_s": lineage_s,
        "task.max_over_median": med([ev[t]["widest_stage_skew"] for t in tags]),
        "extract.docs_out_frac": recs[0]["docs_written"] / wl.n_pending,
        "extract.spans_out": recs[0]["extract.spans_out"],
        "dom.blocks_dropped_frac": recs[0].get("dom.blocks_dropped_frac", 0.0),
        "plan.self_s": med(walls) - sum(layer_s.values()) - append_s - lineage_s,
        "plan.spark_jobs": ev[tags[0]]["jobs"],
        "plan.input_scans": ev[tags[0]]["input_scans"],
        "task.failed": sum(ev[t]["task.failed"] for t in ev),
        "trace.overhead_frac": med(walls) / untraced_median - 1.0,
    }
    for m in NOOP_LAYERS:
        out[m] = layer_s.get(m, 0.0)
    for m in LAYER_UNITS:
        if m not in out:
            out[m] = med([ev[t][m] for t in tags])
    detail = {
        "noop_s": noop_s,
        "layer_bases": bases,
        "layers_on_path": sorted(layer_s),
        "event_log_by_tag": ev,
        "spans": spans.items,
    }
    return out, detail




def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    # the program under test must be importable before anything starts
    from perfbench.workloads import make_workload

    for d in SCRATCH_DIRS:
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    for d in ("tmp", "reports", "eventlog"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    # keep Python's temporary files (package zip, gateway handshake) in the checkout
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tempfile.tempdir = None

    workload = make_workload(args.workload, os.path.join(WORK, "data"))
    try:
        t0 = time.monotonic()
        spark = start_session()
        bench = Bench(workload, spark, get_spark_s=time.monotonic() - t0)
        t0 = time.monotonic()
        workload.build(spark, args.seed)
        build_s = time.monotonic() - t0
        bench.docs = workload.read_input(spark)
        timed = bench.closed_loop(args.seconds)
        metrics = end_to_end(bench, timed)
        units = E2E_UNITS
        detail: dict = {}
        if args.trace:
            ev_dir = os.path.join(WORK, "eventlog")
            bench.spark.stop()
            bench.spark = start_session(ev_dir)
            bench.docs = workload.read_input(bench.spark)
            detail["end_to_end"] = metrics
            metrics, layer_detail = traced(bench, statistics.median(timed), ev_dir)
            detail.update(layer_detail)
            units = LAYER_UNITS
    finally:
        workload.close()
        stop_gateway()
        for d in (workload.dir, *(os.path.join(WORK, d) for d in SCRATCH_DIRS)):
            shutil.rmtree(d, ignore_errors=True)

    attempted = len(bench.calls)
    failed = sum(not c["ok"] for c in bench.calls)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "n_docs": workload.n_docs,
        "n_pending": workload.n_pending,
        "cores": CORES,
        "driver_memory": DRIVER_MEM,
        "failed_frac": failed / attempted,
        "timed_calls": len(timed),
        "build_s": build_s,
        "metrics": metrics,
        "calls": bench.calls,
        **detail,
    }
    path = os.path.join(WORK, "reports", f"{args.workload}-trace{args.trace}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(report, f, indent=1, default=str)
    # per-layer times and ratios keep 6 significant digits so the line
    # stays well under a 2,000-character log tail; counts stay exact
    digits = ".6g" if args.trace else ".17g"
    line = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m: {"value": v if isinstance(v, int) else float(format(v, digits)), "unit": u}
            for m, u in units.items()
            for v in (metrics[m],)
        },
    }
    print(json.dumps(line, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
