"""Structured Streaming variant of the extraction job.

The reference is purely batch (SURVEY.md §2.10); the north rule's
resumability is covered by the snapshot/anti-join path in
sources/checkpoint.py.  This module is the optional streaming stretch:
a file-source stream over the input directory, the SAME row-local
extraction transformation, and an exactly-once file sink driven by
``Trigger.AvailableNow`` — i.e. "process whatever has landed since the
last checkpoint, then stop", the streaming twin of batch-incremental.

Because extraction is a stateless per-row transform, no watermark or
state store is needed; Spark's source offsets + sink commit log give
exactly-once across restarts (the checkpointLocation carries resume
state instead of our manifest).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from cloud_ocr_summarizer_spark.operators.extract import extract_spans

INPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("kind", T.StringType()),
                        T.StructField("text", T.StringType()),
                        T.StructField("media_ref", T.StringType()),
                        T.StructField("offset", T.IntegerType()),
                    ]
                )
            ),
        ),
    ]
)


def start_incremental_extract(
    spark: SparkSession,
    *,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    min_confidence: float = 0.0,
) -> StreamingQuery:
    """Start an AvailableNow streaming extraction over a parquet directory.

    Each invocation drains newly-arrived files and stops; re-invoking after
    more files land continues from the stream checkpoint — no reprocessing,
    no duplicates (exactly-once file sink).
    """
    stream = (
        spark.readStream.schema(INPUT_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )
    extracted = extract_spans(stream, min_confidence=min_confidence)
    return (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )


DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)


def start_incremental_extract_web(
    spark: SparkSession,
    *,
    input_dir: str,
    output_root: str,
    checkpoint_dir: str,
    lineage_root: str | None = None,
    pipeline=None,
) -> StreamingQuery:
    """AvailableNow streaming twin of the composed web-extraction job.

    ``pipeline`` passes through to ``run_web`` (default: the
    container-strip pipeline; e.g. ``extract_web_documents_classified_fused``
    runs the full-Readability-classifier pipeline incrementally).

    Each micro-batch runs the BATCH pipeline via ``foreachBatch`` +
    ``plans.extract_web.run_web``: the snapshot sink's anti-join pending
    filter makes a retried batch a no-op, so source offsets (stream
    checkpoint) + manifest commits give exactly-once end-to-end without
    any streaming state store.
    """
    from cloud_ocr_summarizer_spark.plans.extract_web import run_web

    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )

    def sink(batch_df, batch_id: int) -> None:
        run_web(
            batch_df.sparkSession,
            batch_df,
            output_root=output_root,
            lineage_root=lineage_root,
            pipeline=pipeline,
        )

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_incremental_curation_gates(
    spark: SparkSession,
    *,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    min_quality: int = 3000,
    full_repetition: bool = False,
) -> StreamingQuery:
    """Streaming twin of the STATELESS curation stages: quality gate,
    repetition gate, PII redaction, and split assignment run under
    Structured Streaming with no watermark and no state store — every
    stage here is a row-local expression (the batch repetition_profile
    aggregates, so the stream uses an equivalent ROW-LOCAL form over the
    in-row word array: same flag semantics, no shuffle).  The stateFUL
    stages (dedup) stay batch-incremental by design: cross-row duplicate
    detection over an unbounded stream needs the snapshot/anti-join path
    (sources/checkpoint.py) or the applyInPandasWithState
    first-occurrence dedup in streaming/stateful.py.
    """
    from pyspark.sql import functions as F

    from cloud_ocr_summarizer_spark.functions.hashing import hash_split_col
    from cloud_ocr_summarizer_spark.operators.textstats import (
        quality_score_col,
        redacted_text_col,
        repetition_flagged_col,
        repetition_full_flagged_col,
    )

    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )
    gated = stream.filter(quality_score_col(F.col("text")) >= min_quality)
    kept = gated.filter(
        ~F.coalesce(repetition_flagged_col(F.col("text")), F.lit(False))
    )
    if full_repetition:
        # the line-level + n-gram half of the Gopher repetition family —
        # also a pure row-local expression, so still no state store
        kept = kept.filter(
            ~F.coalesce(repetition_full_flagged_col(F.col("text")), F.lit(False))
        )
    out = (
        kept.withColumn("text", redacted_text_col(F.col("text")))
        .withColumn("split", hash_split_col(F.col("doc_id")))
    )
    return (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )


SITEMAP_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("shard_id", T.IntegerType()),
        T.StructField("sitemap_xml", T.StringType()),
    ]
)


def start_incremental_sitemap_ingest(
    spark: SparkSession,
    *,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """AvailableNow streaming twin of sitemap urlset ingestion.

    Sites republish sitemap shards continuously; each drain parses only
    newly-landed shard files into URL entries.  The parse
    (operators/sitemap.parse_sitemap_urls) is a stateless row-local
    transform, so — unlike the composed extract-web job, which needs
    foreachBatch for its 1:1 join — this runs as a PLAIN streaming
    transformation: source offsets + the parquet sink commit log give
    exactly-once with no state store, no watermark, no foreachBatch.
    """
    from cloud_ocr_summarizer_spark.operators.sitemap import (
        parse_sitemap_urls,
    )

    return _start_stateless_parse_ingest(
        spark, SITEMAP_SCHEMA, parse_sitemap_urls,
        input_dir=input_dir, output_dir=output_dir,
        checkpoint_dir=checkpoint_dir,
    )


def _start_stateless_parse_ingest(
    spark: SparkSession,
    schema,
    parse_fn,
    *,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Shared AvailableNow wiring for the stateless file-parse twins
    (sitemap, feeds): source offsets + the parquet sink commit log give
    exactly-once; a stateless map needs no state store, no watermark,
    no foreachBatch.  One place to tune trigger/sink options."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )
    return (
        parse_fn(stream)
        .writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )


FEED_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("feed_xml", T.StringType()),
    ]
)


def start_incremental_feed_ingest(
    spark: SparkSession,
    *,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """AvailableNow streaming twin of RSS/Atom feed ingestion.

    Hosts republish feeds on their own cadence; each drain parses only
    newly-landed feed files into entry rows.  Like the sitemap twin,
    the parse (operators/feeds.parse_feed_entries) is a stateless
    row-local transform, so this is a PLAIN streaming transformation —
    exactly-once from source offsets + the parquet sink commit log, no
    state store, no foreachBatch.
    """
    from cloud_ocr_summarizer_spark.operators.feeds import parse_feed_entries

    return _start_stateless_parse_ingest(
        spark, FEED_SCHEMA, parse_feed_entries,
        input_dir=input_dir, output_dir=output_dir,
        checkpoint_dir=checkpoint_dir,
    )
