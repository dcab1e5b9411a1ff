"""Per-partition lineage metrics (north_rule; FIXTURES.md §4).

Schema: (run_id, snapshot_id, partition_id, doc_count, span_count, bytes,
wall_time_s) — one row per partition of the job's output.

The clock is a per-row JVM column (``System.nanoTime`` through
``reflect``), so no Python stage runs and the time is read where the
rows are computed, below the job's persist:

* ``stamp_start`` — the job stamps a START clock on its pending rows at
  the start of its output stage, and its row-local operators carry the
  column through (``carried`` names it for ``keep``/``carry`` tuples).
* ``stamp_end`` — the END clock plus the per-doc span count and bytes,
  as long columns on the output.
* ``aggregate`` — one JVM ``groupBy(spark_partition_id())`` over those
  longs: count, sums, and ``max(end) - min(start)``.

Both clocks must be stamped in the same stage — after the last Exchange
— because ``nanoTime`` is only comparable within one JVM and only the
task that computes a partition sees all of its rows.  A pipeline that
does not carry the start column is measured from its first output row
(``min(end)``), which misses the time before that row.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cloud_ocr_summarizer_spark.functions.text import memo_col

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

START = "_lineage_start_ns"
_END = "_lineage_end_ns"
_SPANS = "_lineage_spans"
_BYTES = "_lineage_bytes"


@memo_col
def _clock() -> Column:
    """Per-row monotonic JVM clock in ns.  ``reflect`` is nondeterministic,
    so Catalyst evaluates it once per row: never constant-folded, never
    inlined into a consumer."""
    return F.reflect(F.lit("java.lang.System"), F.lit("nanoTime")).cast("long")


def stamp_start(df: DataFrame) -> DataFrame:
    """``df`` plus the START clock; stamp it after the last Exchange."""
    return df.withColumn(START, _clock())


def carried(df: DataFrame) -> tuple[str, ...]:
    """The START column if ``df`` has one, for a ``keep``/``carry`` tuple."""
    return (START,) if START in df.columns else ()


def stamp_end(out: DataFrame, *, span_count: Column, span_bytes: Column) -> DataFrame:
    """``out`` plus the END clock and the per-doc ``span_count`` /
    ``span_bytes`` as longs.  ``reflect`` keeps this projection out of
    whole-stage codegen, so its columns are evaluated in order and the
    clock, the last one, is read after the row's other columns."""
    return out.select(
        "*",
        span_count.cast("long").alias(_SPANS),
        span_bytes.cast("long").alias(_BYTES),
        _clock().alias(_END),
    )


def strip(stamped: DataFrame) -> DataFrame:
    """``stamped`` without the lineage helper columns."""
    return stamped.drop(START, _END, _SPANS, _BYTES)


def aggregate(stamped: DataFrame, *, run_id: str) -> DataFrame:
    """Lineage rows over a :func:`stamp_end` output, one per NON-EMPTY
    partition.  ``snapshot_id`` is 0: the committing job stamps it once
    the snapshot exists (:func:`committed_rows`)."""
    key, aggs, cols = _aggregate_cols(START in stamped.columns)
    return stamped.groupBy(key).agg(*aggs).select(F.lit(run_id).alias("run_id"), *cols)


@memo_col
def _aggregate_cols(has_start: bool):
    """:func:`aggregate`'s groupBy key, aggregates and output columns
    after ``run_id``.  ``has_start``: the stamped output carries the
    START column."""
    start = F.col(START) if has_start else F.col(_END)
    aggs = (
        F.count(F.lit(1)).alias("doc_count"),
        F.sum(_SPANS).alias("span_count"),
        F.sum(_BYTES).alias("bytes"),
        ((F.max(_END) - F.min(start)) / F.lit(1e9)).alias("wall_time_s"),
    )
    cols = (
        F.lit(0).cast("long").alias("snapshot_id"),
        *map(
            F.col, ("partition_id", "doc_count", "span_count", "bytes", "wall_time_s")
        ),
    )
    return F.spark_partition_id().alias("partition_id"), aggs, cols


def partition_metrics(
    out: DataFrame,
    *,
    run_id: str,
    span_count: Column,
    span_bytes: Column,
) -> DataFrame:
    """:func:`aggregate` over ``out`` (one row per document) with its
    end clock and span columns stamped in one step."""
    return aggregate(
        stamp_end(out, span_count=span_count, span_bytes=span_bytes), run_id=run_id
    )


def committed_rows(
    spark: SparkSession,
    rows: list,
    *,
    run_id: str,
    snapshot_id: int,
    partitions: int,
) -> DataFrame:
    """The lineage table for one commit: the collected :func:`aggregate`
    ``rows`` stamped with ``snapshot_id``, plus a 0-doc, 0.0 s row for
    every id in ``range(partitions)`` the groupBy did not return, so
    empty partitions keep their row.  A pyarrow local relation: no
    Python tasks."""
    got = {r["partition_id"]: r.asDict() for r in rows}
    empty = dict(run_id=run_id, doc_count=0, span_count=0, bytes=0, wall_time_s=0.0)
    table = [
        {**got.get(pid, empty), "partition_id": pid, "snapshot_id": snapshot_id}
        for pid in range(partitions)
    ]
    columns = {name: [row[name] for row in table] for name in LINEAGE_SCHEMA.names}
    return spark.createDataFrame(pa.table(columns), schema=LINEAGE_SCHEMA)
