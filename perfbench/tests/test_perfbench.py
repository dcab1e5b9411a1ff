"""The benchmark's own tests, at tiny sizes.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from perfbench.workloads import FlagshipWorkload, WebWorkload, _run_snapshot

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Runs perfbench/run.py's main() with tiny inputs and a private work dir.
_TINY_MAIN = r"""
import sys
sys.path.insert(0, {root!r})
import perfbench.run as run
import perfbench.workloads as workloads

make = workloads.make_workload
workloads.make_workload = lambda name, root, n_docs=None: make(name, root, {n_docs})
run.WORK = {work!r}
run.WARMUP_S = 0.0
run.MIN_TIMED_CALLS = 1
sys.exit(run.main(sys.argv[1:]))
"""


def _tiny_run(tmp_path, workload: str, trace: int, n_docs: int) -> dict:
    code = _TINY_MAIN.format(root=ROOT, n_docs=n_docs, work=str(tmp_path / "work"))
    out = subprocess.run(
        [sys.executable, "-c", code, "--workload", workload, "--seed", "5",
         "--seconds", "0", "--trace", str(trace)],
        capture_output=True, text=True, timeout=600, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def _benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


@pytest.mark.parametrize(
    "workload,trace,section",
    [("flagship_cold", 0, "end_to_end"), ("web_classified", 1, "per_layer")],
)
def test_every_metric_printed_with_its_unit(tmp_path, workload, trace, section):
    line = _tiny_run(tmp_path, workload, trace, n_docs=400)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 2
    want = {m["name"]: m["unit"] for m in _benchmark_spec()[section]}
    got = {name: m["unit"] for name, m in line["metrics"].items()}
    assert got == want
    assert all(isinstance(m["value"], (int, float)) for m in line["metrics"].values())
    assert len(json.dumps(line, separators=(",", ":"))) < 1800


def _rewrite_snapshot(spark, path: str, transform) -> None:
    tmp = path + ".rewrite"
    transform(spark.read.parquet(path)).write.parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)


def test_corrupted_flagship_output_is_caught(spark, tmp_path):
    wl = FlagshipWorkload(str(tmp_path), 300, resume=False)
    wl.build(spark, seed=5)
    run = wl.prepare(0)
    result = wl.job(spark, run, wl.read_input(spark))
    assert wl.check(spark, run, result) == []

    victim = "doc_000000000007"  # a skew-cluster doc, hundreds of spans
    assert victim in wl.sample_ids
    path = _run_snapshot(run.out, result.run_id)["path"]
    _rewrite_snapshot(
        spark,
        path,
        lambda df: df.withColumn(
            "spans_out",
            F.when(
                F.col("doc_id") == victim, F.slice("spans_out", 2, 10_000)
            ).otherwise(F.col("spans_out")),
        ),
    )
    problems = wl.check(spark, run, result)
    assert problems == [f"{victim}: spans differ from the oracle"]


def test_corrupted_web_output_is_caught(spark, tmp_path):
    wl = WebWorkload(str(tmp_path), 200)
    wl.build(spark, seed=5)
    try:
        run = wl.prepare(0)
        result = wl.job(spark, run, wl.read_input(spark))
        assert wl.check(spark, run, result) == []

        path = _run_snapshot(run.out, result.run_id)["path"]
        _rewrite_snapshot(
            spark,
            path,
            lambda df: df.withColumn(
                "n_tokens",
                F.when(F.col("doc_id") == 17, F.col("n_tokens") + 1).otherwise(
                    F.col("n_tokens")
                ),
            ),
        )
        problems = wl.check(spark, run, result)
        assert len(problems) == 1 and "DuckDB oracle" in problems[0]
    finally:
        wl.close()


def test_resume_restore_keeps_manifest_identical(spark, tmp_path):
    wl = FlagshipWorkload(str(tmp_path), 600, resume=True)
    wl.build(spark, seed=5)
    manifest = os.path.join(wl.state_root, "manifest.json")
    with open(manifest, "rb") as f:
        prepared = f.read()
    snaps_before = sorted(os.listdir(wl.state_root))
    assert len(json.loads(prepared)["snapshots"]) == 4
    assert 0 < wl.n_pending < wl.n_docs

    docs = wl.read_input(spark)
    for index in range(2):
        run = wl.prepare(index)
        with open(manifest, "rb") as f:
            assert f.read() == prepared
        assert sorted(os.listdir(wl.state_root)) == snaps_before
        result = wl.job(spark, run, docs)
        assert result.docs_written == wl.n_pending
        assert wl.check(spark, run, result) == []
        wl.cleanup(run)
