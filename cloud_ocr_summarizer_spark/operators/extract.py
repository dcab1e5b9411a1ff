"""Flagship extraction: interleaved spans -> ordered, classified sequences.

One physical strategy per output shape (SURVEY.md §2.3):

* ``extract_spans`` — nested ``spans_out`` per doc, ROW-LOCAL.  Spans never
  leave their row; filtering, classification, text assembly and
  offset-ordering happen with higher-order functions
  (filter/transform/sort_array) entirely inside WholeStageCodegen.  ZERO
  shuffles — at 100 TB this is a pure map stage whose cost scales
  linearly with input splits.  (An explode + hash-agg reassembly adds
  a doc_id shuffle and measured no faster, ROADMAP.md item 3; chunk
  reassembly that genuinely crosses rows is skew.reassemble_chunks.)

* ``extract_span_rows`` — flat per-span rows with a ``seq`` column:
  ``extract_spans`` then posexplode, still zero shuffles.  Its mapInArrow
  twin, extract_arrow_native, is the fastest flat path measured.

Both implement the same contract as oracle.extract_document; golden tests
assert they agree span-for-span.

Reference semantics: nested-loop flatten + bottom-up text assembly,
src/processors/vision_processor.py:146-208 (simple) / :210-402 (detailed);
positional ordering :182,:241; confidence gate :261-264; size gate :43-48.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cloud_ocr_summarizer_spark import config
from cloud_ocr_summarizer_spark.functions.text import (
    classify_kind_col,
    memo_col,
    normalize_block_text_col,
    token_count_col,
)

# Output span struct: the span-sequence-equality contract fields.
SPAN_FIELDS = ("kind", "text", "media_ref", "offset")


def _has_confidence(df: DataFrame, spans_col: str) -> bool:
    element = df.schema[spans_col].dataType.elementType
    return "confidence" in element.fieldNames()


def _canonical_struct(s: Column) -> Column:
    """Classify + assemble one span, field-ordered for deterministic
    struct sorting.

    Struct comparison is field-by-field with nulls first, so sorting on
    (offset, kind, text, media_ref) matches oracle.extract_document's
    tie-break exactly — no duplicated sort-key strings (halves the
    string allocations on the hot path vs a separate-key design).
    """
    kind = classify_kind_col(s["kind"])
    is_media = kind.isin(*config.MEDIA_KINDS)
    is_text = kind.isin(*config.TEXT_KINDS)
    text = F.when(is_media, F.lit(None).cast("string")).otherwise(
        normalize_block_text_col(s["text"])
    )
    media_ref = F.when(is_text, F.lit(None).cast("string")).otherwise(s["media_ref"])
    offset = s["offset"].cast("int")
    return F.struct(
        offset.alias("offset"),
        kind.alias("kind"),
        text.alias("text"),
        media_ref.alias("media_ref"),
    )


def _project_out(s: Column) -> Column:
    return F.struct(
        s["kind"].alias("kind"),
        s["text"].alias("text"),
        s["media_ref"].alias("media_ref"),
        s["offset"].alias("offset"),
    )


@memo_col
def _size_gate(spans_col: str, max_text_bytes: int) -> Column:
    """A doc's raw text bytes are at most ``max_text_bytes`` (settings.py:66)."""
    text_bytes = F.aggregate(
        F.col(spans_col),
        F.lit(0).cast("long"),
        lambda acc, s: acc + F.coalesce(F.octet_length(s["text"]), F.lit(0)),
    )
    return text_bytes <= F.lit(max_text_bytes)


@memo_col
def _spans_out(spans_col: str, min_confidence: float, has_confidence: bool) -> Column:
    """The ordered canonical ``spans_out`` array.  ``has_confidence``
    (whether the span struct has a confidence field) comes from the
    caller's schema."""
    spans = F.col(spans_col)
    if has_confidence:
        # detailed-mode gate, vision_processor.py:261-264; null passes
        # (simple mode carries confidence=None, :177)
        spans = F.filter(
            spans,
            lambda s: s["confidence"].isNull()
            | (s["confidence"] >= F.lit(min_confidence)),
        )
    ordered = F.sort_array(F.transform(spans, _canonical_struct))
    return F.transform(ordered, _project_out)


@memo_col
def _extracted_cols(with_stats: bool) -> tuple[Column, ...]:
    """doc_id, spans_out [+ n_spans, n_tokens]: :func:`extract_spans`'s output."""
    cols = (F.col("doc_id"), F.col("spans_out"))
    if with_stats:
        cols += (
            F.size("spans_out").alias("n_spans"),
            F.aggregate(
                F.filter(F.col("spans_out"), lambda s: s["text"].isNotNull()),
                F.lit(0),
                lambda acc, s: acc + token_count_col(s["text"]),
            ).alias("n_tokens"),
        )
    return cols


def extract_spans(
    df: DataFrame,
    *,
    spans_col: str = "spans",
    min_confidence: float = config.MIN_CONFIDENCE_THRESHOLD,
    max_text_bytes: int = config.MAX_DOC_TEXT_BYTES,
    with_stats: bool = True,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Row-local flagship extraction (zero shuffles).

    Input : doc_id, spans array<struct<kind,text,media_ref,offset[,confidence]>>
    Output: doc_id, spans_out (ordered canonical spans) [+ n_spans, n_tokens]
    Oversize docs (raw text > ``max_text_bytes``) are rejected, mirroring
    the reference's 10 MB gate (vision_processor.py:43-48).
    ``keep`` carries extra input columns through unchanged (same
    convention as datagen.derive_spans_from_documents) so downstream
    row-local stages never pay a doc_id re-join shuffle.
    """
    spans_out = _spans_out(spans_col, min_confidence, _has_confidence(df, spans_col))
    out = df.filter(_size_gate(spans_col, max_text_bytes)).withColumn(
        "spans_out", spans_out
    )
    return out.select(*_extracted_cols(with_stats), *[F.col(c) for c in keep])


# Detailed-mode layout geometry (normalized_vertices analogue, reference
# vision_processor.py:304-313, 344-353, 382-391): a deterministic
# single-column page model — span k of n occupies the vertical band
# [(k-1)/n, k/n]; text spans run nearly full-width, media spans are
# narrower and offset right (so centroid_x distinguishes the kinds).
BBOX_X_TEXT = (0.05, 0.95)
BBOX_X_MEDIA = (0.30, 0.80)


def _bbox_col(pos: Column, n: Column, is_media: Column) -> Column:
    """4 normalized vertices (clockwise from top-left), like the Vision
    API's boundingBox.normalizedVertices."""
    y0 = pos.cast("double") / n
    y1 = (pos + 1).cast("double") / n
    x0 = F.when(is_media, F.lit(BBOX_X_MEDIA[0])).otherwise(F.lit(BBOX_X_TEXT[0]))
    x1 = F.when(is_media, F.lit(BBOX_X_MEDIA[1])).otherwise(F.lit(BBOX_X_TEXT[1]))
    return F.array(
        F.struct(x0.alias("x"), y0.alias("y")),
        F.struct(x1.alias("x"), y0.alias("y")),
        F.struct(x1.alias("x"), y1.alias("y")),
        F.struct(x0.alias("x"), y1.alias("y")),
    )


def extract_span_rows(
    df: DataFrame,
    *,
    spans_col: str = "spans",
    min_confidence: float = config.MIN_CONFIDENCE_THRESHOLD,
    include_bounding_boxes: bool = False,
) -> DataFrame:
    """Flat per-span output: (doc_id, seq, kind, text, media_ref, offset).

    ``seq`` is the 1-based reading-order position (positional numbering,
    vision_processor.py:182) — this row shape is what the driver's DuckDB
    oracle cross-checks, and what downstream per-span operators consume.
    Row-local sort then posexplode: still zero shuffles.

    ``include_bounding_boxes`` (P5 column gating, like the reference's
    include-geometry detailed mode) appends ``bbox`` — 4 normalized
    (x, y) vertices from the deterministic layout model above.  Off by
    default: the column (and its arithmetic) is never materialized
    unless asked for.
    """
    extracted = extract_spans(
        df, spans_col=spans_col, min_confidence=min_confidence, with_stats=False
    )
    # posexplode_outer: plain posexplode makes Catalyst inject a
    # size(...)>0 pre-filter that re-evaluates the whole spans expression;
    # outer + a post-generate null filter evaluates it once.
    flat = extracted.select(
        "doc_id", F.size("spans_out").alias("_n"),
        F.posexplode_outer("spans_out").alias("pos", "s"),
    ).filter(F.col("pos").isNotNull())
    cols = [
        F.col("doc_id"),
        (F.col("pos") + 1).alias("seq"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    ]
    if include_bounding_boxes:
        cols.append(
            _bbox_col(
                F.col("pos"), F.col("_n"), F.col("s.media_ref").isNotNull()
            ).alias("bbox")
        )
    return flat.select(*cols)
