"""Composed web-document extraction: the north-rule pipeline as ONE job.

The target workload is "batched DOM tokenization and boilerplate
classification + PDF/image layout parsing for media_ref spans + per-span
kind tagging" over interleaved text+media documents.  The individual
operators each have their own driver query; this plan composes them the
way a user runs them — one call, one output row per document:

  doc_id, main_text, n_tokens          (DOM boilerplate strip)
  n_spans, n_media                     (span extraction + kind tagging)
  n_blocks, first_block                (layout parse, reading order)

Plan shape at scale: two branches over the same documents scan —

* the SPAN branch is entirely row-local (extract_spans + the layout
  fold + media counting never shuffle; one codegen stage per doc), and
* the DOM branch is one ``mapInArrow`` stage running the shared
  Arrow-native DOM kernel (``operators.dom``) —

joined 1:1 on doc_id: a single O(docs) equi-join is the only shuffle in
the whole pipeline.  The ``_fused`` twins carry the span branch's
row-local stats through that Arrow stage instead: one scan, zero
Exchanges, and the MapInArrow is the plan's only Python stage.  No
Python runs per row or per token anywhere: the DOM kernel does
O(batches) numpy / pyarrow.compute calls.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cloud_ocr_summarizer_spark import lineage
from cloud_ocr_summarizer_spark.datagen import (
    derive_html_from_documents,
    derive_spans_from_documents,
)
from cloud_ocr_summarizer_spark.functions.text import memo_col
from cloud_ocr_summarizer_spark.operators.dom import extract_html_main
from cloud_ocr_summarizer_spark.operators.extract import extract_spans
from cloud_ocr_summarizer_spark.operators.layout import blocks_rowlocal_col


def _span_stats_branch(
    docs: DataFrame,
    *,
    keep: tuple[str, ...] = (),
    layout_blocks_alias: str = "n_blocks",
) -> DataFrame:
    """Row-local span extraction + kind tagging + layout fold, reduced
    to the per-doc stat columns every composed variant joins on or
    carries.  ``keep`` passes document columns through (for fused
    variants that still need text/source downstream);
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


def extract_web_documents(docs: DataFrame) -> DataFrame:
    """One row per document combining DOM strip, span stats, and layout.

    ``docs`` is the documents table (doc_id, text, source, ...); the
    deterministic HTML/spans derivers stand in for raw crawl payloads,
    exactly as in the single-operator queries (so each branch keeps its
    independent oracle coverage).
    """
    dom = extract_html_main(derive_html_from_documents(docs))
    return dom.join(_span_stats_branch(docs), "doc_id")


def extract_web_documents_classified(docs: DataFrame) -> DataFrame:
    """:func:`extract_web_documents` with the FULL Readability
    classifier in the DOM branch: instead of the container strip alone,
    every <p> block passes both integer heuristics (link density AND
    text density — ``operators.dom.extract_html_classified``) before
    reassembly.  Same plan shape: two branches over the documents scan,
    one O(docs) equi-join as the only shuffle.

    Output adds the classifier's counts (renamed ``n_html_blocks`` /
    ``n_html_dropped`` — ``n_blocks`` stays the LAYOUT block count)."""
    from cloud_ocr_summarizer_spark.datagen import (
        derive_classified_html_from_documents,
    )
    from cloud_ocr_summarizer_spark.operators.dom import extract_html_classified

    dom = extract_html_classified(
        derive_classified_html_from_documents(docs)
    ).select(
        "doc_id",
        "main_text",
        "n_tokens",
        F.col("n_blocks").alias("n_html_blocks"),
        F.col("n_dropped").alias("n_html_dropped"),
    )
    return dom.join(_span_stats_branch(docs), "doc_id")


def extract_web_documents_fused(docs: DataFrame) -> DataFrame:
    """Zero-shuffle twin of :func:`extract_web_documents` — same output
    contract and oracle, better plan at scale.

    Every span-branch column is row-local, so instead of a second scan
    plus a 1:1 join, the stats are computed first and CARRIED through
    the DOM strip's Arrow stage (``extract_html_main(carry=...)``): ONE
    pruned documents scan, one codegen stage, one Arrow map stage, zero
    Exchanges.  At 100 TB this halves the input IO and removes the only
    shuffle of the flat plan; keep the flat variant for inputs whose
    branches genuinely come from different tables.  A lineage start
    clock on ``docs`` is carried through too.
    """
    clock = lineage.carried(docs)
    stats = _span_stats_branch(docs, keep=("text", "source", *clock))
    carried = ("n_spans", "n_media", "n_blocks", "first_block", *clock)
    return extract_html_main(
        derive_html_from_documents(stats, keep=carried), carry=carried
    )


def extract_web_documents_classified_fused(docs: DataFrame) -> DataFrame:
    """Zero-shuffle twin of :func:`extract_web_documents_classified` —
    same output contract and oracle.  The row-local span/layout stats
    are computed first and CARRIED through the classifier's Arrow stage
    (``extract_html_classified(carry=...)``): one pruned documents
    scan, zero Exchanges.  A lineage start clock on ``docs`` is carried
    through too."""
    from cloud_ocr_summarizer_spark.datagen import (
        derive_classified_html_from_documents,
    )
    from cloud_ocr_summarizer_spark.operators.dom import extract_html_classified

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
    # match the flat variant's column names/order exactly (same oracle)
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
    ``pipeline`` swaps the per-batch plan (default: the zero-shuffle
    fused twin; pass ``extract_web_documents_classified`` to run the
    full-Readability-classifier variant under the same resume/lineage
    contract — any (docs)->DataFrame with doc_id/main_text columns
    works; lineage needs an n_spans column, the lineage span count).
    With lineage on, ``todo`` gets the lineage start clock; the fused
    twins carry it, other pipelines are timed from their first output
    row.  Returns a ``FlagshipResult``.
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
    # fused twin by default: the job reads one table, so the
    # zero-shuffle plan (stats carried through the Arrow stage) is
    # strictly better here
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
