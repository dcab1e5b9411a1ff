"""Composed web-document extraction: the north-rule pipeline as ONE job.

The target workload is "batched DOM tokenization and boilerplate
classification + PDF/image layout parsing for media_ref spans + per-span
kind tagging" over interleaved text+media documents.  The individual
operators each have their own driver query; this plan composes them the
way a user runs them — one call, one output row per document:

  doc_id, main_text, n_tokens          (DOM boilerplate strip)
  n_spans, n_media                     (span extraction + kind tagging)
  n_blocks, first_block                (layout parse, reading order)

Plan shape at scale: one pruned documents scan, zero Exchanges.  The
span stats are entirely row-local (extract_spans + the layout fold +
media counting never shuffle; one codegen stage per doc), so they are
computed first and CARRIED through the one ``mapInArrow`` stage that
runs the shared Arrow-native DOM kernel (``operators.dom``) — no second
scan and no doc_id re-join.  The MapInArrow is the plan's only Python
stage, and no Python runs per row or per token: the DOM kernel does
O(batches) numpy / pyarrow.compute calls.  Two pipelines share this
shape: the container strip (:func:`extract_web_documents_fused`) and the
full Readability classifier
(:func:`extract_web_documents_classified_fused`).  The registered queries
``extract_web`` / ``extract_web_fused`` run the former and
``extract_web_classified`` / ``extract_web_classified_fused`` the latter.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cloud_ocr_summarizer_spark import lineage
from cloud_ocr_summarizer_spark.datagen import (
    derive_classified_html_from_documents,
    derive_html_from_documents,
    derive_spans_from_documents,
)
from cloud_ocr_summarizer_spark.functions.text import memo_col
from cloud_ocr_summarizer_spark.operators.dom import (
    extract_html_classified,
    extract_html_main,
)
from cloud_ocr_summarizer_spark.operators.extract import extract_spans
from cloud_ocr_summarizer_spark.operators.layout import blocks_rowlocal_col


def _span_stats_branch(
    docs: DataFrame,
    *,
    keep: tuple[str, ...],
    layout_blocks_alias: str = "n_blocks",
) -> DataFrame:
    """Row-local span extraction + kind tagging + layout fold, reduced
    to the per-doc stat columns the composed pipelines carry.  ``keep``
    passes document columns through (text/source for the HTML deriver
    downstream, and a lineage start clock);
    ``layout_blocks_alias`` renames the layout block count when the
    carrying stage has its own n_blocks column."""
    doc_id, *stats = _span_stats_cols(layout_blocks_alias)
    return extract_spans(
        derive_spans_from_documents(docs, keep=keep), with_stats=False, keep=keep
    ).select(doc_id, *[F.col(c) for c in keep], *stats)


@memo_col
def _span_stats_cols(layout_blocks_alias: str) -> tuple[Column, ...]:
    """doc_id then the stat columns of :func:`_span_stats_branch`."""
    blocks = blocks_rowlocal_col("spans_out")
    return (
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size("spans_out").cast("int").alias("n_spans"),
        F.size(
            F.filter(F.col("spans_out"), lambda s: s["media_ref"].isNotNull())
        ).cast("int").alias("n_media"),
        F.size(blocks).cast("int").alias(layout_blocks_alias),
        # try_: a document whose every span was filtered (or empty text)
        # has zero blocks — element_at(…, 1) would FAIL THE JOB under
        # ANSI mode; NULL is the correct first_block for it
        F.try_element_at(blocks, F.lit(1))["block_text"].alias("first_block"),
    )


def extract_web_documents_fused(docs: DataFrame) -> DataFrame:
    """One row per document: DOM container strip, span stats and layout.

    ``docs`` is the documents table (doc_id, text, source, ...); the
    deterministic HTML/spans derivers stand in for raw crawl payloads,
    exactly as in the single-operator queries.  Every span-branch
    column is row-local, so the stats are computed first and CARRIED
    through the DOM strip's Arrow stage (``extract_html_main(carry=...)``):
    ONE pruned documents scan, one codegen stage, one Arrow map stage,
    zero Exchanges.  A lineage start clock on ``docs`` is carried
    through too.
    """
    clock = lineage.carried(docs)
    stats = _span_stats_branch(docs, keep=("text", "source", *clock))
    carried = ("n_spans", "n_media", "n_blocks", "first_block", *clock)
    return extract_html_main(
        derive_html_from_documents(stats, keep=carried), carry=carried
    )


def extract_web_documents_classified_fused(docs: DataFrame) -> DataFrame:
    """:func:`extract_web_documents_fused` with the FULL Readability
    classifier in place of the container strip: every <p> block passes
    both integer heuristics (link density AND text density —
    ``operators.dom.extract_html_classified``) before reassembly.  The
    row-local span/layout stats are CARRIED through the classifier's
    Arrow stage (``extract_html_classified(carry=...)``): one pruned
    documents scan, zero Exchanges.  A lineage start clock on ``docs``
    is carried through too.

    Output adds the classifier's counts (renamed ``n_html_blocks`` /
    ``n_html_dropped`` — ``n_blocks`` stays the LAYOUT block count)."""
    # layout count carried under a distinct name: the classifier's own
    # output already has an n_blocks column (its HTML block count)
    clock = lineage.carried(docs)
    stats = _span_stats_branch(
        docs, keep=("text", "source", *clock), layout_blocks_alias="n_layout_blocks"
    )
    carried = ("n_spans", "n_media", "n_layout_blocks", "first_block", *clock)
    out = extract_html_classified(
        derive_classified_html_from_documents(stats, keep=carried), carry=carried
    )
    # the classified output contract: classifier counts renamed, the
    # layout count back under n_blocks
    return out.select(
        "doc_id",
        "main_text",
        "n_tokens",
        F.col("n_blocks").alias("n_html_blocks"),
        F.col("n_dropped").alias("n_html_dropped"),
        "n_spans",
        "n_media",
        F.col("n_layout_blocks").alias("n_blocks"),
        "first_block",
        *clock,
    )


def run_web(
    spark: SparkSession,
    docs: DataFrame,
    *,
    output_root: str,
    lineage_root: str | None = None,
    repartition_to: int | None = None,
    sink=None,
    lineage_sink=None,
    pipeline=None,
):
    """Resumable composed extraction: same snapshot/lineage contract as
    ``plans.flagship.run_flagship``, over the one-job web pipeline.

    Pending docs are the anti-join against the committed output
    (idempotent rerun); an optional salted repartition balances
    media-heavy documents across the Arrow workers of the DOM branch.
    ``pipeline`` swaps the per-batch plan (default: the container-strip
    pipeline :func:`extract_web_documents_fused`; pass
    ``extract_web_documents_classified_fused`` to run the
    full-Readability-classifier pipeline under the same resume/lineage
    contract — any (docs)->DataFrame with doc_id/main_text columns
    works; lineage needs an n_spans column, the lineage span count).
    With lineage on, ``todo`` gets the lineage start clock; both
    composed pipelines carry it, other pipelines are timed from their
    first output row.  Returns a ``FlagshipResult``.
    """
    from cloud_ocr_summarizer_spark.operators.skew import salted_repartition
    from cloud_ocr_summarizer_spark.plans.flagship import commit_snapshot
    from cloud_ocr_summarizer_spark.sources.checkpoint import (
        SnapshotSink,
        pending_docs,
    )

    run_id = uuid.uuid4().hex
    sink = sink if sink is not None else SnapshotSink(output_root)
    if lineage_sink is None and lineage_root:
        lineage_sink = SnapshotSink(lineage_root)
    todo = pending_docs(docs, sink, spark)
    if repartition_to:
        todo = salted_repartition(todo, repartition_to)
    if lineage_sink is not None:
        todo = lineage.stamp_start(todo)
    make_web = pipeline if pipeline is not None else extract_web_documents_fused
    web = make_web(todo)
    return commit_snapshot(
        web,
        run_id=run_id,
        sink=sink,
        lineage_sink=lineage_sink,
        span_count=F.col("n_spans"),
        span_bytes=F.coalesce(F.octet_length("main_text"), F.lit(0)),
    )
