"""The flagship job: resumable, lineage-emitting, skew-aware extraction.

Physical shape (SURVEY.md §4.4):

    scan(docs)                          [column-pruned, filters pushed]
    -> pending_docs (left_anti)         [resume; no-op on first run]
    -> size gate                        [10 MB analogue]
    -> [salted repartition]             [the last Exchange]
    -> [lineage start clock]            [per-row JVM nanoTime]
    -> extract_spans (row-local)        [0 shuffles; carries the clock]
    -> [lineage end clock + span longs]
    -> persist + lineage aggregate      [first action: one JVM groupBy by
                                         partition id, the count;
                                         count() when lineage is off]
    -> sink.append(extracted)           [snapshot commit, from the cache]
    -> sink.append(lineage)             [metrics table, one row per
                                         output partition]

No Python runs anywhere in the job: the lineage clocks are JVM columns
stamped after the last Exchange, in the stage that computes the rows.

Run it twice and the second run writes nothing new (idempotent resume).
"""

from __future__ import annotations

import uuid
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cloud_ocr_summarizer_spark import lineage
from cloud_ocr_summarizer_spark.functions.text import memo_col
from cloud_ocr_summarizer_spark.operators.extract import extract_spans
from cloud_ocr_summarizer_spark.operators.skew import salted_repartition
from cloud_ocr_summarizer_spark.sources.checkpoint import SnapshotSink, pending_docs


@dataclass
class FlagshipResult:
    run_id: str
    snapshot_id: int | None
    docs_written: int


@memo_col
def span_octets() -> Column:
    """Per-doc bytes of ``spans_out``: span text plus media_ref octets."""
    return F.aggregate(
        F.col("spans_out"),
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.coalesce(F.octet_length(s["text"]), F.lit(0))
        + F.coalesce(F.octet_length(s["media_ref"]), F.lit(0)),
    )


def commit_snapshot(
    out: DataFrame,
    *,
    run_id: str,
    sink,
    lineage_sink,
    span_count: Column,
    span_bytes: Column,
    after_commit: Callable[[DataFrame], None] | None = None,
) -> FlagshipResult:
    """Commit one run's output as a snapshot plus its lineage rows.

    With a ``lineage_sink``, the end clock and per-doc ``span_count`` /
    ``span_bytes`` are stamped on ``out`` below the persist
    (``lineage.stamp_end``), and the FIRST action is the lineage
    aggregate: one JVM ``groupBy(spark_partition_id())`` that fills the
    cache, and whose doc counts are the run's count — no separate
    ``count()`` pass.  ``wall_time_s`` runs from the partition's first
    start clock (stamped by the job after its last Exchange and carried
    in ``out``; without it, from the first output row) to its last end
    clock, so it covers the partition's compute.  Without a lineage
    sink, a JVM ``count()`` fills the cache.  Zero docs commit nothing.
    The snapshot is written from the cache without the helper columns;
    ``after_commit`` sees that cached output before it is released
    (re-evaluating ``out`` after the commit would re-run the resume
    filter against the new snapshot and find nothing).
    """
    if lineage_sink is not None:
        out = lineage.stamp_end(out, span_count=span_count, span_bytes=span_bytes)
    cached = out.persist()
    try:
        if lineage_sink is None:
            metrics = None
            docs = cached.count()
        else:
            metrics = lineage.aggregate(cached, run_id=run_id).collect()
            docs = sum(r["doc_count"] for r in metrics)
        if docs == 0:
            return FlagshipResult(run_id=run_id, snapshot_id=None, docs_written=0)
        committed = lineage.strip(cached)
        snapshot_id = sink.append(committed, run_id=run_id)
        if after_commit is not None:
            after_commit(committed)
        if metrics is not None:
            lineage_sink.append(
                lineage.committed_rows(
                    out.sparkSession,
                    metrics,
                    run_id=run_id,
                    snapshot_id=snapshot_id,
                    partitions=cached.rdd.getNumPartitions(),
                ),
                run_id=run_id,
            )
        return FlagshipResult(run_id=run_id, snapshot_id=snapshot_id, docs_written=docs)
    finally:
        cached.unpersist()


def run_flagship(
    spark: SparkSession,
    input_df: DataFrame,
    *,
    output_root: str,
    lineage_root: str | None = None,
    raw_debug_root: str | None = None,
    repartition_to: int | None = None,
    min_confidence: float = 0.0,
    sink=None,
    raw_debug_sink=None,
    lineage_sink=None,
) -> FlagshipResult:
    """Extract all pending documents, commit one snapshot + lineage rows.

    ``raw_debug_root`` is the S6 raw-response debug sink analogue
    (reference vision_processor.py:129-133, gated by config
    settings.py:110): when set, the RAW pre-extraction spans of exactly
    the docs processed this run are committed to a second SnapshotSink
    under the same run_id; when None (the default), nothing is written.

    ``sink`` / ``raw_debug_sink`` / ``lineage_sink`` inject any object
    with the SnapshotSink surface (append/read_committed/...): pass
    ``sources.iceberg.IcebergSnapshotSink("cat.db.tbl")`` on a real
    Iceberg deployment — ALL THREE outputs take the swap, not just the
    main one; each defaults to the parquet stand-in at its *_root path.
    """
    run_id = uuid.uuid4().hex
    sink = sink if sink is not None else SnapshotSink(output_root)
    if lineage_sink is None and lineage_root:
        lineage_sink = SnapshotSink(lineage_root)
    todo = pending_docs(input_df, sink, spark)
    if repartition_to:
        todo = salted_repartition(todo, repartition_to)
    if lineage_sink is not None:
        todo = lineage.stamp_start(todo)
    extracted = extract_spans(
        todo, min_confidence=min_confidence, keep=lineage.carried(todo)
    )

    rsink = raw_debug_sink
    if rsink is None and raw_debug_root:
        rsink = SnapshotSink(raw_debug_root)

    def capture_raw(cached: DataFrame) -> None:
        # debug capture of the raw input spans for THIS run's doc set
        # (left_semi against the CACHED extracted ids).  Deliberate
        # trade: this re-scans the input once — only when the debug sink
        # is enabled.  The alternative (carrying raw spans through
        # extraction) would widen every row of every run to save a scan
        # on the rare debug run.
        raw = input_df.join(cached.select("doc_id"), on="doc_id", how="left_semi")
        rsink.append(raw, run_id=run_id)

    return commit_snapshot(
        extracted,
        run_id=run_id,
        sink=sink,
        lineage_sink=lineage_sink,
        span_count=F.size("spans_out"),
        span_bytes=span_octets(),
        after_commit=capture_raw if rsink is not None else None,
    )
