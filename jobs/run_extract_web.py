#!/usr/bin/env python
"""spark-submit entry point for the composed web-extraction job.

Packaging (north_rule: ships via --py-files):

    cd /root/repo && zip -r /tmp/cos_spark.zip cloud_ocr_summarizer_spark
    spark-submit --py-files /tmp/cos_spark.zip jobs/run_extract_web.py \
        --input  <parquet-or-iceberg path of (doc_id, text, ...)> \
        --output <snapshot sink root> \
        --lineage <metrics sink root> \
        --repartition 4096

One job runs the whole north-rule surface per document — DOM boilerplate
strip + span extraction/kind tagging + layout parse — in one pass over
the input: the row-local span stats ride through the DOM strip's Arrow
stage, so the pipeline itself has no shuffle.  ``--repartition`` adds
one (the salted rebalance before it), and so does the resume filter once
snapshots exist: re-running after a failure resumes from the committed
snapshots (left_anti on doc_id) — idempotent.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--lineage", default=None)
    p.add_argument("--repartition", type=int, default=None)
    args = p.parse_args()

    spark = (
        SparkSession.builder.appName("cloud-ocr-summarizer-spark-extract-web")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    from cloud_ocr_summarizer_spark.plans.extract_web import run_web

    result = run_web(
        spark,
        spark.read.parquet(args.input),
        output_root=args.output,
        lineage_root=args.lineage,
        repartition_to=args.repartition,
    )
    print(
        f"run_id={result.run_id} snapshot={result.snapshot_id} "
        f"docs_written={result.docs_written}"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
