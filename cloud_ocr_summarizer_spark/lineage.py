"""Per-partition lineage metrics (north_rule; FIXTURES.md §4).

Schema: (run_id, snapshot_id, partition_id, doc_count, span_count, bytes,
wall_time_s) — one row per partition of the job's output.

``partition_metrics`` measures inside the tasks (a mapInPandas pass that
emits one tagged row per partition — no driver accumulators, works at any
executor count).  The production jobs run it, when they have a lineage
sink, as the FIRST action on their persisted output
(``plans.flagship.commit_snapshot``), so the partition's compute is
pipelined into the timed task and ``wall_time_s`` covers it.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("snapshot_id", T.LongType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("doc_count", T.LongType()),
        T.StructField("span_count", T.LongType()),
        T.StructField("bytes", T.LongType()),
        T.StructField("wall_time_s", T.DoubleType()),
    ]
)


def partition_metrics(
    out: DataFrame,
    *,
    run_id: str,
    span_count: Column,
    span_bytes: Column,
) -> DataFrame:
    """Lineage rows (one per partition) over ``out`` (one row per
    document), with real per-partition wall time.  ``snapshot_id`` is 0:
    the committing job stamps it once the snapshot exists.

    ``span_count`` / ``span_bytes`` are the caller's per-document
    expressions; they are evaluated JVM-side BEFORE the Python stage, so
    the pandas task only sums two int columns and stamps the clock.
    Spark pipelines the upstream computation into this task's input
    iterator, so the measured time covers the partition's full compute.
    """
    pre = out.select(
        span_count.cast("long").alias("n_spans"),
        span_bytes.cast("long").alias("n_bytes"),
    )

    def measure(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        t0 = time.monotonic()
        docs = 0
        spans = 0
        nbytes = 0
        for pdf in batches:
            docs += len(pdf)
            spans += int(pdf["n_spans"].sum())
            nbytes += int(pdf["n_bytes"].sum())
        pid = TaskContext.get().partitionId()
        yield pd.DataFrame(
            {
                "run_id": [run_id],
                "snapshot_id": [0],
                "partition_id": [pid],
                "doc_count": [docs],
                "span_count": [spans],
                "bytes": [nbytes],
                "wall_time_s": [time.monotonic() - t0],
            }
        )

    return pre.mapInPandas(measure, schema=LINEAGE_SCHEMA)
