"""PDF/image layout parsing: block segmentation + reading-order sort.

The reference walks each page's block tree in the order the Vision API
emits it (vision_processor.py:226-269) — it never has to RECOVER layout,
because the upstream service already did.  A from-scratch layout parser
must do that recovery itself: given per-span bounding boxes, (1) group
vertically-adjacent spans of the same column into blocks (block
segmentation), and (2) emit blocks in newspaper reading order — column
by column, top to bottom — which for multi-column pages genuinely
differs from byte-offset order.

Scale design
------------
All geometry is carried as INTEGER milli-units (1/1000 of page height /
width): block segmentation and reading order are pure integer
comparisons, so the DuckDB oracle twin is engine-exact with no float
rounding anywhere.

``segment_blocks`` is one window pass partitioned by
(doc_id, page, col) — a single O(spans) shuffle on a fine-grained key
(billions of distinct values at 10^12 docs; no skew: a page column
holds at most a few hundred spans).  ``assemble_reading_order`` is one
hash aggregate on the same key prefix plus a per-doc row_number — the
agg reuses the window's partitioning, so AQE/Exchange-reuse keeps the
whole chain at ~one real shuffle.  Nothing here is per-row Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cloud_ocr_summarizer_spark.functions.text import let_col, memo_col

# Two-column page model (integer milli-units).  Span k (0-based pos) of a
# doc sits in column k % 2 at row k // 2; each page holds PAGE_ROWS rows
# per column; rows advance 60 milli and every BLOCK_ROWS-th row opens an
# extra 50-milli gap, so the intra-block gap is 20 and the inter-block
# gap is 70 — segmentation threshold 50 sits strictly between them.
ROW_PITCH = 60
ROW_HEIGHT = 40
BLOCK_EXTRA_GAP = 50
BLOCK_ROWS = 3
PAGE_ROWS = 9
GAP_THRESHOLD = 50
COL_X = {0: (50, 450), 1: (550, 950)}


def derive_two_column_geometry(rows: DataFrame, *, pos_col: str = "seq") -> DataFrame:
    """Attach deterministic two-column page geometry to flat span rows.

    ``rows`` is the flagship flat shape (doc_id, seq, kind, text,
    media_ref, offset); output adds (page, col, x0, x1, y0, y1) in
    integer milli-units.  Spans alternate columns in offset order, so
    offset order is NOT reading order — exactly the case a layout
    parser exists for.  Pure per-row expressions; zero shuffles.
    """
    k = (F.col(pos_col) - 1).cast("long")
    row = (k / 2).cast("long")
    col = (k % 2).cast("int")
    page = (row / PAGE_ROWS).cast("int")
    r = (row % PAGE_ROWS).cast("long")
    y0 = (r * ROW_PITCH + (r / BLOCK_ROWS).cast("long") * BLOCK_EXTRA_GAP).cast("int")
    return rows.select(
        "*",
        page.alias("page"),
        col.alias("col"),
        F.when(col == 0, F.lit(COL_X[0][0])).otherwise(F.lit(COL_X[1][0])).alias("x0"),
        F.when(col == 0, F.lit(COL_X[0][1])).otherwise(F.lit(COL_X[1][1])).alias("x1"),
        y0.alias("y0"),
        (y0 + ROW_HEIGHT).alias("y1"),
    )


def segment_blocks(
    geo: DataFrame, *, gap_threshold: int = GAP_THRESHOLD
) -> DataFrame:
    """Gap-based block segmentation within each (doc, page, column).

    A span opens a new block when the vertical gap to the previous span
    in its column exceeds ``gap_threshold`` milli-units (a gap EQUAL to
    the threshold stays in the block).  block_id is the 1-based running
    count of block openings — one lag + one running sum over the same
    window, a single shuffle keyed (doc_id, page, col).
    """
    w = Window.partitionBy("doc_id", "page", "col").orderBy("y0")
    prev_y1 = F.lag("y1").over(w)
    opens = F.when(
        prev_y1.isNull() | (F.col("y0") - prev_y1 > gap_threshold), 1
    ).otherwise(0)
    return geo.withColumn(
        "block_id",
        F.sum(opens).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"),
    )


def _span_repr() -> Column:
    # interleaved payload: text spans contribute their text, media spans
    # their media_ref — block text preserves the interleaving inline.
    return F.coalesce(F.col("text"), F.col("media_ref"))


def block_rollup(blocks: DataFrame) -> DataFrame:
    """One row per segmented block: extent, span count, assembled text.

    Hash aggregate on (doc_id, page, col, block_id); intra-block order
    is recovered row-locally via array_sort on (y0, repr) pairs — no
    window re-sort.
    """
    return blocks.groupBy("doc_id", "page", "col", "block_id").agg(
        F.min("y0").alias("y_top"),
        F.max("y1").alias("y_bottom"),
        F.count(F.lit(1)).cast("int").alias("span_cnt"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("y0"), _span_repr().alias("t")))
                ),
                lambda s: s["t"],
            ),
            " ",
        ).alias("block_text"),
    )


def assemble_reading_order(block_rows: DataFrame) -> DataFrame:
    """Newspaper reading order: page, then column, then top-down.

    reading_seq is the per-document 1-based block position in that
    order.  Window keyed by doc_id only — bounded by blocks-per-doc
    (hundreds), so no partition ever exceeds a single document.
    """
    w = Window.partitionBy("doc_id").orderBy("page", "col", "y_top")
    return block_rows.withColumn(
        "reading_seq", F.row_number().over(w).cast("int")
    )


_BLOCK_ACC_TYPE = (
    "ARRAY<STRUCT<page:INT,col:INT,y_top:INT,y_bottom:INT,"
    "span_cnt:INT,block_text:STRING>>"
)


@memo_col
def blocks_rowlocal_col(
    spans_col: str = "spans_out", *, gap_threshold: int = GAP_THRESHOLD
) -> Column:
    """Reading-ordered block array, computed per document from its
    complete span array: transform (geometry) + array_sort (newspaper
    order) + boundary-slice segmentation.  Shared by
    :func:`reading_order_rowlocal` and the doc-level summary so the two
    cannot diverge.

    Cost note: segmentation is LINEAR in spans.  An earlier aggregate
    fold was quadratic for mega-documents — Catalyst's immutable
    aggregate state re-materialized the accumulated block array (and
    its concatenated text) every step.  The current form never
    accumulates: block START indices come from one filter over the span
    indices (each test touches two let-bound array elements), and each
    block is then built independently from its slice, with
    ``array_join`` (single output buffer) assembling the text.  Total
    work = one pass + one copy of each span — a 400k-word document went
    from minutes to sub-second, so ``operators.skew.split_heavy_docs``
    is now only needed for PLACEMENT (a mega row still binds one task),
    not for cost blowup.  ``array_join`` skips null reprs exactly like
    the old concat_ws chain and the oracle's string_agg (a repr is
    never null in practice: every span carries text xor media_ref)."""

    def geo(s, k):
        r_global = F.floor(k / 2).cast("long")
        r = (r_global % PAGE_ROWS).cast("long")
        y0 = (r * ROW_PITCH + F.floor(r / BLOCK_ROWS).cast("long") * BLOCK_EXTRA_GAP)
        return F.struct(
            F.floor(r_global / PAGE_ROWS).cast("int").alias("page"),
            (k % 2).cast("int").alias("col"),
            y0.cast("int").alias("y0"),
            (y0 + ROW_HEIGHT).cast("int").alias("y1"),
            F.coalesce(s["text"], s["media_ref"]).alias("repr"),
        )

    def build(arr: Column) -> Column:
        n = F.size(arr)

        def at(i: Column) -> Column:
            return F.element_at(arr, i.cast("int"))

        def is_start(i: Column) -> Column:
            # try_element_at: at i==1 the prev lookup hits index 0, which
            # element_at would make an ANSI error — today's Or only
            # short-circuits it by evaluation order, which a predicate
            # refactor could silently break.  try_ returns NULL there and
            # (i == 1) | NULL is true.
            prev = F.try_element_at(arr, (i - 1).cast("int"))
            cur = at(i)
            return (i == 1) | (
                (cur["page"] != prev["page"])
                | (cur["col"] != prev["col"])
                | (cur["y0"] - prev["y1"] > gap_threshold)
            )

        starts = F.filter(F.sequence(F.lit(1), n), is_start)

        def blocks_from(st: Column) -> Column:
            def mk(j: Column) -> Column:
                lo = F.element_at(st, j.cast("int"))
                hi = F.coalesce(
                    F.try_element_at(st, (j + 1).cast("int")) - 1, n
                )
                first, last = at(lo), at(hi)
                reprs = F.transform(
                    F.slice(arr, lo, hi - lo + 1), lambda s: s["repr"]
                )
                return F.struct(
                    first["page"].alias("page"),
                    first["col"].alias("col"),
                    first["y0"].alias("y_top"),
                    last["y1"].alias("y_bottom"),
                    (hi - lo + 1).cast("int").alias("span_cnt"),
                    F.array_join(reprs, " ").alias("block_text"),
                )

            return F.transform(F.sequence(F.lit(1), F.size(st)), mk)

        return F.when(n > 0, let_col(starts, blocks_from)).otherwise(
            F.expr(f"CAST(array() AS {_BLOCK_ACC_TYPE})")
        )

    return let_col(F.array_sort(F.transform(F.col(spans_col), geo)), build)


def reading_order_rowlocal(
    extracted: DataFrame,
    *,
    spans_col: str = "spans_out",
    gap_threshold: int = GAP_THRESHOLD,
) -> DataFrame:
    """Fused row-local twin of the segment/rollup/reading-order chain.

    When layout parse runs directly downstream of extraction, every
    document's ordered span array is already complete in ONE row — so
    the whole parse is a single zero-shuffle codegen stage
    (:func:`blocks_rowlocal_col`).  Same output contract and oracle as
    ``assemble_reading_order`` over the flat path; use the flat
    operators when spans arrive pre-flattened.
    """
    blocks = blocks_rowlocal_col(spans_col, gap_threshold=gap_threshold)
    return extracted.select(
        "doc_id", F.posexplode(blocks).alias("pos", "b")
    ).select(
        "doc_id",
        (F.col("pos") + 1).cast("int").alias("reading_seq"),
        F.col("b.page").alias("page"),
        F.col("b.col").alias("col"),
        F.col("b.block_text").alias("block_text"),
    )
