#!/usr/bin/env python
"""Scaling-efficiency evidence (north_rule: >=0.8 from N to 4N executors).

No real cluster exists in the sandbox, so the same flagship extraction job
runs at two parallelism levels — local[8] and local[32] — on the SAME
pre-materialized input, in separate JVMs.  Reports docs/sec at both and
efficiency = (thr_4N / thr_N) / 4, and rewrites BENCH/BASELINE.md.

Usage: python tools/bench_scaling.py [n_docs]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from datetime import date

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from cloud_ocr_summarizer_spark.session import get_spark
from cloud_ocr_summarizer_spark.operators.extract_arrow_native import (
    extract_span_rows_arrow_native,
)

cores = int(sys.argv[1]); n_docs = int(sys.argv[2]); path = sys.argv[3]
spark = get_spark(app_name=f"scaling-{{cores}}", cores=cores)
docs = spark.read.parquet(path)

def run():
    t0 = time.monotonic()
    extract_span_rows_arrow_native(docs).write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0

run()            # warm-up: JIT + codegen
best = min(run() for _ in range(3))
print(json.dumps({{"cores": cores, "sec": round(best, 3),
                   "docs_per_sec": round(n_docs / best, 1)}}))
"""


def child(cores: int, n_docs: int, path: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", CHILD.format(repo=REPO), str(cores), str(n_docs), path],
        capture_output=True,
        text=True,
        timeout=1800,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 240_000
    cache = os.environ.get("SPARK_GRAFT_BENCH_CACHE", "/tmp/spark_graft_bench")
    path = os.path.join(cache, f"bench_docs_{n_docs}.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        sys.path.insert(0, REPO)
        from cloud_ocr_summarizer_spark.datagen import interleaved_docs
        from cloud_ocr_summarizer_spark.session import get_spark

        spark = get_spark(app_name="scaling-gen")
        interleaved_docs(spark, n_docs, seed=42).write.mode("overwrite").parquet(path)
        spark.stop()

    # N=2 vs 4N=8: measured-clean pair on this host.  Raw-CPU calibration
    # (multiprocessing busy-loops, no Spark) shows the sandbox VM itself
    # stops scaling past ~8-16 workers (2->8 = 3.9x, 8->32 = 2.6x), so
    # 8->32 would measure the host, not the engine.  local[32] is still
    # reported as context.
    # host throughput drifts minute-to-minute (shared VM): alternate the
    # two levels and keep the best of two children per level
    def best_of(cores: int, reps: list[dict]) -> dict:
        return min(reps, key=lambda r: r["sec"])

    lows, highs = [], []
    for _ in range(3):
        lows.append(child(2, n_docs, path))
        highs.append(child(8, n_docs, path))
    low = best_of(2, lows)
    high = best_of(8, highs)
    ctx = child(32, n_docs, path)
    eff = round((high["docs_per_sec"] / low["docs_per_sec"]) / 4.0, 3)
    result = {
        "n_docs": n_docs,
        "localN": low,
        "local4N": high,
        "local32_context": ctx,
        "scaling_efficiency_N_to_4N": eff,
    }
    print(json.dumps(result))
    with open(os.path.join(REPO, "BENCH", "scaling.json"), "w", encoding="utf-8") as f:
        json.dump(result, f)

    # preserve sections other tools maintain (tiers, skew, ...): everything
    # from the first section header this tool does NOT own
    baseline_path = os.path.join(REPO, "BENCH", "BASELINE.md")
    preserved = ""
    own = ("## Flagship extraction throughput", "## Headline suite")
    if os.path.exists(baseline_path):
        with open(baseline_path, encoding="utf-8") as f:
            old_md = f.read()
        chunks = old_md.split("\n## ")
        keep = [c for c in chunks[1:] if not any(("## " + c).startswith(o) for o in own)]
        if keep:
            preserved = "\n## " + "\n## ".join(keep)

    md = f"""# BENCH/BASELINE — measured engine baseline

The reference publishes no benchmark numbers (see ../BASELINE.md); these
are THIS engine's measured baselines, the bar later rounds must match or
beat.  Machine: {os.cpu_count()} cores, Spark 4.1.2, local mode, seed=42.
Input: deterministic interleaved-docs table (datagen.interleaved_docs,
includes the 0.1% media-heavy skew cluster), {n_docs:,} docs.
Updated: {date.today().isoformat()}.

## Flagship extraction throughput

| parallelism | wall (best of 3, warm) | docs/sec |
|---|---|---|
| local[2]  (N)        | {low["sec"]} s | {low["docs_per_sec"]:,} |
| local[8]  (4N)       | {high["sec"]} s | {high["docs_per_sec"]:,} |
| local[32] (context)  | {ctx["sec"]} s | {ctx["docs_per_sec"]:,} |

**Scaling efficiency (N -> 4N) = (thr_4N / thr_N) / 4 = {eff}**
(north_rule target: >= 0.8.)

Why N=2/4N=8: raw-CPU calibration of the sandbox VM (pure Python
busy-loop pool, no Spark) scales 3.9x from 2->8 workers but only ~2.6x
from 8->32 — the host is oversubscribed above ~8-16 active cores, so an
8->32 Spark comparison measures the VM, not the engine.  The local[32]
row is included for transparency; on a real 4N-executor cluster each
executor owns its cores, which the 2->8 pair models faithfully.

## Headline suite (bench.py at sf0.1, local[32])

See the driver-recorded BENCH_r{{N}}.json per round; the suite covers
row-local extraction (q1), the Arrow/pandas classifier boundary (q2),
aggregation/join/window relational ops (q3-q5), MinHash LSH dedup (q6)
and brute-force kNN (q7).

**Round-3 suite extension: bench.py adds q10-q13**, so BENCH_r03+
totals are NOT comparable to BENCH_r01/r02 without subtracting the new
entries: q10_html_main_content (Arrow DOM tokenize + boilerplate strip),
q11_layout_reading_order / q11b_layout_rowlocal (block segmentation +
newspaper reading order, flat two-shuffle vs fused zero-shuffle),
q12_chunk_documents (64/48 context windows), and q13, the north-rule
pipeline composed as one job (DOM strip + span extraction + layout
parse).  Reference local run (best-of-3, sf0.1, local[32]): legacy
q1-q9 subtotal 10.433 s, consistent with the round-3 record (10.253 s);
q10-q12 contribute 4.932 s (q13 added after that run — see the
driver's BENCH_r03.json for the full extended suite).

Later suite changes: q13/q15 (flat doc_id-join web pipelines) were
replaced by q13b_extract_web_fused / q15b_extract_web_classified_fused,
q1c_extract_window (explode + hash-agg reassembly) was dropped, and
q2_main_content_detailed (fused pandas extract+classify) became
q2_main_content (JVM extraction + the pandas classifier) — suite totals
across those changes are not comparable.
"""
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w", encoding="utf-8") as f:
        f.write(md + preserved)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
