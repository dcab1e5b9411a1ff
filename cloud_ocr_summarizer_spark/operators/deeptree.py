"""Deep-tree hierarchy flatten: the reference's full 4-level nested walk
(pages -> blocks -> paragraphs -> words -> symbols) as a Spark operator.

The reference's detailed mode builds a document as nested loops over
``response -> pages -> blocks -> paragraphs -> words -> symbols``
(`/root/reference/src/processors/vision_processor.py:226-269`, helpers
``_process_block`` :279-326, ``_process_paragraph`` :328-364,
``_process_word`` :366-402) and assembles text bottom-up:

* symbols concatenate with NO separator into a word          (:393-400)
* words join with ``' '`` into a paragraph, then ``strip()`` (:356-363)
* paragraphs join with ``'\n'`` into a block, then ``strip()`` (:316-325)
* page numbers are 1-based ARRIVAL order (list position)     (:241)

The engine's flagship input is the 1-level ``spans`` flattening of that
tree (SURVEY §1.4); THIS module handles genuinely nested input:

* ``extract_deep_tree``       — chained ``posexplode`` down to block rows
                                (pages, then blocks: the two levels that
                                multiply row counts), with the inner
                                paragraph/word/symbol assembly done
                                row-locally by JVM higher-order functions
                                — zero Python, zero extra shuffles.
* ``derive_deep_tree_from_documents`` — deterministic, SQL-mirrorable
                                deep-tree builder over the flat driver
                                ``documents`` table (words -> chars as
                                symbols; 4 words/paragraph, 3 paragraphs/
                                block, 2 blocks/page), kept in lockstep
                                with oracles.ORACLES["extract_deep_tree"].

The extractor's rows are golden-checked against the pure-Python
reference walk in ``oracle.deep_tree_blocks``.  It is the only walk: a
per-row Python walk over Arrow batches measured 13x slower on the same
rows, so the registry name ``extract_deep_tree_arrow`` is an alias of
``extract_deep_tree``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tree fan-out of the synthetic deriver (mirrored in the DuckDB oracle)
WORDS_PER_PARAGRAPH = 4
PARAGRAPHS_PER_BLOCK = 3
BLOCKS_PER_PAGE = 2

DEEP_TREE_SCHEMA = (
    "array<struct<blocks:array<struct<block_type:string,"
    "paragraphs:array<struct<words:array<struct<symbols:array<string>>>>>>>>>"
)


def _strip_ws(text: Column) -> Column:
    """Python ``str.strip()`` twin for the ASCII-whitespace contract
    (functions/text.py module caveat)."""
    return F.regexp_replace(text, r"^\s+|\s+\z", "")


def assemble_block_text_col(paragraphs: Column) -> Column:
    """Bottom-up block text from a ``paragraphs`` array column, exactly
    the reference separators/strip points (vision_processor.py:316-400):
    symbols + '' -> word; words + ' ' + strip -> paragraph; paragraphs +
    '\\n' + strip -> block."""
    para_text = lambda p: _strip_ws(  # noqa: E731
        F.array_join(
            F.transform(p["words"], lambda w: F.array_join(w["symbols"], "")),
            " ",
        )
    )
    return _strip_ws(F.array_join(F.transform(paragraphs, para_text), "\n"))


def extract_deep_tree(tree: DataFrame) -> DataFrame:
    """(doc_id, pages) deep tree -> one row per block:
    (doc_id, page_number, block_seq, kind, text).

    Chained explode ONLY for the levels that become rows (pages, blocks);
    paragraph/word/symbol assembly stays inside the block row as
    higher-order functions, so the physical plan is scan -> generate ->
    generate -> project — row-local, no shuffle, and the inner arrays
    never materialize as rows (a 4-deep full explode would multiply the
    row count by words*symbols only to re-aggregate it back).
    page_number/block_seq are 1-based positional arrival order (:241).
    """
    pages = tree.select(
        "doc_id", F.posexplode("pages").alias("page_idx", "page")
    )
    blocks = pages.select(
        "doc_id",
        (F.col("page_idx") + 1).cast("int").alias("page_number"),
        F.posexplode("page.blocks").alias("block_idx", "block"),
    )
    return blocks.select(
        "doc_id",
        "page_number",
        (F.col("block_idx") + 1).cast("int").alias("block_seq"),
        F.col("block.block_type").alias("kind"),
        assemble_block_text_col(F.col("block.paragraphs")).alias("text"),
    )


def derive_deep_tree_from_documents(docs: DataFrame) -> DataFrame:
    """documents(doc_id, text, ...) -> (doc_id, pages) deep tree.

    Deterministic: word i of the whitespace-split text goes to paragraph
    i div 4; paragraph p to block p div 3; block b to page b div 2; a
    word's symbols are its characters, so the bottom-up assembly
    reconstructs the words exactly.  block_type = TABLE iff
    (doc_id*13 + b) % 7 == 3 else TEXT.  Mirrored 1:1 by
    oracles.ORACLES["extract_deep_tree"] — keep in lockstep.
    """
    from cloud_ocr_summarizer_spark.functions.text import (
        let_col,
        whitespace_tokens_col,
    )

    d = F.col("doc_id")
    # token array let-bound (functions.text.let_col): HOF lambda bodies
    # re-evaluate invariant subexpressions per element (no loop-invariant
    # motion in Catalyst), so element_at(split(text), i) inside the
    # nested word lambda would re-tokenize the document once per WORD —
    # O(n^2); the binding also survives predicate pushdown substitution.
    def pages_of(words: Column) -> Column:
        n_words = F.size(words)
        n_paras = F.ceil(n_words / F.lit(WORDS_PER_PARAGRAPH)).cast("int")
        n_blocks = F.ceil(n_paras / F.lit(PARAGRAPHS_PER_BLOCK)).cast("int")
        n_pages = F.ceil(n_blocks / F.lit(BLOCKS_PER_PAGE)).cast("int")

        def word_struct(i: Column) -> Column:
            w = F.element_at(words, i.cast("int") + 1)
            symbols = F.transform(
                F.sequence(F.lit(1), F.length(w)), lambda j: w.substr(j, F.lit(1))
            )
            return F.struct(symbols.alias("symbols"))

        def para_struct(p: Column) -> Column:
            lo = p.cast("int") * WORDS_PER_PARAGRAPH
            hi = F.least(lo + WORDS_PER_PARAGRAPH, n_words)
            ws = F.transform(F.sequence(lo, hi - 1), word_struct)
            return F.struct(ws.alias("words"))

        def block_struct(b: Column) -> Column:
            lo = b.cast("int") * PARAGRAPHS_PER_BLOCK
            hi = F.least(lo + PARAGRAPHS_PER_BLOCK, n_paras)
            ps = F.transform(F.sequence(lo, hi - 1), para_struct)
            kind = F.when(
                F.pmod(d * 13 + b, F.lit(7)) == 3, F.lit("TABLE")
            ).otherwise(F.lit("TEXT"))
            return F.struct(kind.alias("block_type"), ps.alias("paragraphs"))

        def page_struct(g: Column) -> Column:
            lo = g.cast("int") * BLOCKS_PER_PAGE
            hi = F.least(lo + BLOCKS_PER_PAGE, n_blocks)
            bs = F.transform(F.sequence(lo, hi - 1), block_struct)
            return F.struct(bs.alias("blocks"))

        return F.when(
            n_pages > 0,
            F.transform(F.sequence(F.lit(0).cast("int"), n_pages - 1), page_struct),
        ).otherwise(F.array().cast(DEEP_TREE_SCHEMA))

    pages = let_col(whitespace_tokens_col(F.col("text")), pages_of)
    return docs.select(d.alias("doc_id"), pages.alias("pages"))


# ---------------------------------------------------------------------------
# Detailed mode: per-level bounding boxes (block, paragraph, word)
#
# The reference's detailed mode attaches bounding_box.normalized_vertices
# (a 4-vertex {x,y} rectangle) at block (vision_processor.py:304-313),
# paragraph (:344-353), and word (:382-391) level, gated by the
# include_bounding_boxes output config (settings.py) — a distinct output
# mode, so the engine keeps it as a distinct deriver/extractor pair
# rather than widening the plain tree.  Vertices are integer page-milli
# units (page = 1000x1000), the same cross-engine-exact convention as
# span_geometry / layout.py.
# ---------------------------------------------------------------------------

# deterministic layout grid (mirrored in oracles.ORACLES["deep_tree_geometry"]
# and oracle.deep_tree_geometry_rows — keep all three in lockstep)
PAGE_MILLI = 1000
BLOCK_SLOT_Y = 500  # each of the 2 blocks gets a vertical half
BLOCK_H = 480
PARA_SLOT_Y = 160  # each of the 3 paragraphs a band inside its block
PARA_H = 150
PARA_X0, PARA_X1 = 5, 995
WORD_SLOT_X = 250  # each of the 4 words a horizontal slot
WORD_X_PAD = 10
WORD_W_PER_CHAR = 25
WORD_W_MAX = 230
WORD_Y_PAD = 10
WORD_H = 130

DEEP_TREE_GEOM_SCHEMA = (
    "array<struct<blocks:array<struct<block_type:string,"
    "bbox:array<struct<x:int,y:int>>,"
    "paragraphs:array<struct<bbox:array<struct<x:int,y:int>>,"
    "words:array<struct<bbox:array<struct<x:int,y:int>>,"
    "symbols:array<string>>>>>>>>>"
)


def _rect_vertices(x0: Column, y0: Column, x1: Column, y1: Column) -> Column:
    """Clockwise 4-vertex rectangle, the reference's normalized_vertices
    shape (vision_processor.py:306-313) in integer milli units."""
    as_i = lambda c: c.cast("int")  # noqa: E731
    pt = lambda x, y: F.struct(as_i(x).alias("x"), as_i(y).alias("y"))  # noqa: E731
    return F.array(pt(x0, y0), pt(x1, y0), pt(x1, y1), pt(x0, y1))


def derive_deep_tree_geometry_from_documents(docs: DataFrame) -> DataFrame:
    """documents -> deep tree WITH per-level bbox fields (detailed mode).

    Same fan-out as derive_deep_tree_from_documents (4 words/paragraph,
    3 paragraphs/block, 2 blocks/page); every node additionally carries a
    deterministic integer-milli rectangle derived from its position:

    * block b (bi = b mod 2):  x [0, 1000], y [bi*500, bi*500 + 480]
    * paragraph p (pi = p mod 3): x [5, 995],
      y [block_y0 + pi*160, +150]
    * word i (wi = i mod 4): x [wi*250 + 10, + min(230, len*25)],
      y [para_y0 + 10, para_y0 + 140]
    """
    from cloud_ocr_summarizer_spark.functions.text import (
        let_col,
        whitespace_tokens_col,
    )

    d = F.col("doc_id")
    # token array let-bound (functions.text.let_col): HOF lambda bodies
    # re-evaluate invariant subexpressions per element (no loop-invariant
    # motion in Catalyst), so element_at(split(text), i) inside the
    # nested word lambda would re-tokenize the document once per WORD —
    # O(n^2); the binding also survives predicate pushdown substitution.
    def pages_of(words: Column) -> Column:
        n_words = F.size(words)
        n_paras = F.ceil(n_words / F.lit(WORDS_PER_PARAGRAPH)).cast("int")
        n_blocks = F.ceil(n_paras / F.lit(PARAGRAPHS_PER_BLOCK)).cast("int")
        n_pages = F.ceil(n_blocks / F.lit(BLOCKS_PER_PAGE)).cast("int")

        def block_y0(b: Column) -> Column:
            return F.pmod(b, F.lit(BLOCKS_PER_PAGE)) * BLOCK_SLOT_Y

        def para_y0(p: Column) -> Column:
            b = F.floor(p / F.lit(PARAGRAPHS_PER_BLOCK)).cast("int")
            return block_y0(b) + F.pmod(p, F.lit(PARAGRAPHS_PER_BLOCK)) * PARA_SLOT_Y

        def word_struct(i: Column) -> Column:
            w = F.element_at(words, i.cast("int") + 1)
            symbols = F.transform(
                F.sequence(F.lit(1), F.length(w)), lambda j: w.substr(j, F.lit(1))
            )
            p = F.floor(i / F.lit(WORDS_PER_PARAGRAPH)).cast("int")
            x0 = F.pmod(i, F.lit(WORDS_PER_PARAGRAPH)) * WORD_SLOT_X + WORD_X_PAD
            x1 = x0 + F.least(F.lit(WORD_W_MAX), F.length(w) * WORD_W_PER_CHAR)
            y0 = para_y0(p) + WORD_Y_PAD
            bbox = _rect_vertices(x0, y0, x1, y0 + WORD_H)
            return F.struct(bbox.alias("bbox"), symbols.alias("symbols"))

        def para_struct(p: Column) -> Column:
            lo = p.cast("int") * WORDS_PER_PARAGRAPH
            hi = F.least(lo + WORDS_PER_PARAGRAPH, n_words)
            ws = F.transform(F.sequence(lo, hi - 1), word_struct)
            y0 = para_y0(p)
            bbox = _rect_vertices(
                F.lit(PARA_X0), y0, F.lit(PARA_X1), y0 + PARA_H
            )
            return F.struct(bbox.alias("bbox"), ws.alias("words"))

        def block_struct(b: Column) -> Column:
            lo = b.cast("int") * PARAGRAPHS_PER_BLOCK
            hi = F.least(lo + PARAGRAPHS_PER_BLOCK, n_paras)
            ps = F.transform(F.sequence(lo, hi - 1), para_struct)
            kind = F.when(
                F.pmod(d * 13 + b, F.lit(7)) == 3, F.lit("TABLE")
            ).otherwise(F.lit("TEXT"))
            y0 = block_y0(b)
            bbox = _rect_vertices(F.lit(0), y0, F.lit(PAGE_MILLI), y0 + BLOCK_H)
            return F.struct(
                kind.alias("block_type"), bbox.alias("bbox"), ps.alias("paragraphs")
            )

        def page_struct(g: Column) -> Column:
            lo = g.cast("int") * BLOCKS_PER_PAGE
            hi = F.least(lo + BLOCKS_PER_PAGE, n_blocks)
            bs = F.transform(F.sequence(lo, hi - 1), block_struct)
            return F.struct(bs.alias("blocks"))

        return F.when(
            n_pages > 0,
            F.transform(F.sequence(F.lit(0).cast("int"), n_pages - 1), page_struct),
        ).otherwise(F.array().cast(DEEP_TREE_GEOM_SCHEMA))

    pages = let_col(whitespace_tokens_col(F.col("text")), pages_of)
    return docs.select(d.alias("doc_id"), pages.alias("pages"))


def extract_deep_tree_geometry(tree: DataFrame) -> DataFrame:
    """Detailed-mode flatten: one row per node at EVERY level
    (block, paragraph, word), each with its text and the stored bbox
    (vision_processor.py:304-313, :344-353, :382-391 — the reference
    emits text + normalized_vertices at all three levels).

    Plan shape: the same two generates as extract_deep_tree (pages,
    blocks), then ONE more generate over a row-locally built per-block
    node array (1 block row + its paragraph rows + its word rows,
    assembled by higher-order functions).  Still zero shuffles, zero
    Python; the word level multiplies rows, but word rows ARE the
    output here, not an intermediate.

    Output: (doc_id, level, page_number, block_seq, para_seq, word_seq,
    text, x0, y0, x1, y1, bbox_area) — integer-milli coords read from
    the stored vertices (v1 = top-left, v3 = bottom-right); seq columns
    are 1-based, 0 = not applicable at that level (no NULLs: nullable
    ints decay to float64/object in pandas and would soften the driver
    hash).
    """
    blocks = tree.select(
        "doc_id", F.posexplode("pages").alias("page_idx", "page")
    ).select(
        "doc_id",
        (F.col("page_idx") + 1).cast("int").alias("page_number"),
        F.posexplode("page.blocks").alias("block_idx", "block"),
    )

    as_i = lambda c: c.cast("int")  # noqa: E731

    def coords(bbox: Column) -> list[Column]:
        tl = F.element_at(bbox, 1)
        br = F.element_at(bbox, 3)
        return [as_i(tl["x"]), as_i(tl["y"]), as_i(br["x"]), as_i(br["y"])]

    def node_row(level: str, para_seq, word_seq, text: Column, bbox: Column):
        x0, y0, x1, y1 = coords(bbox)
        return F.struct(
            F.lit(level).alias("level"),
            as_i(F.lit(para_seq) if isinstance(para_seq, int) else para_seq).alias(
                "para_seq"
            ),
            as_i(F.lit(word_seq) if isinstance(word_seq, int) else word_seq).alias(
                "word_seq"
            ),
            text.alias("text"),
            x0.alias("x0"),
            y0.alias("y0"),
            x1.alias("x1"),
            y1.alias("y1"),
            ((x1 - x0) * (y1 - y0)).alias("bbox_area"),
        )

    def word_text(w: Column) -> Column:
        return F.array_join(w["symbols"], "")

    def para_text(p: Column) -> Column:
        return _strip_ws(
            F.array_join(F.transform(p["words"], word_text), " ")
        )

    block = F.col("block")
    paras = block["paragraphs"]
    block_rows = F.array(
        node_row("block", 0, 0, assemble_block_text_col(paras), block["bbox"])
    )
    para_rows = F.transform(
        paras,
        lambda p, pi: node_row("paragraph", pi + 1, 0, para_text(p), p["bbox"]),
    )
    word_rows = F.flatten(
        F.transform(
            paras,
            lambda p, pi: F.transform(
                p["words"],
                lambda w, wi: node_row("word", pi + 1, wi + 1, word_text(w), w["bbox"]),
            ),
        )
    )

    return blocks.select(
        "doc_id",
        "page_number",
        (F.col("block_idx") + 1).cast("int").alias("block_seq"),
        F.explode(F.concat(block_rows, para_rows, word_rows)).alias("node"),
    ).select(
        "doc_id",
        F.col("node.level").alias("level"),
        "page_number",
        "block_seq",
        F.col("node.para_seq").alias("para_seq"),
        F.col("node.word_seq").alias("word_seq"),
        F.col("node.text").alias("text"),
        F.col("node.x0").alias("x0"),
        F.col("node.y0").alias("y0"),
        F.col("node.x1").alias("x1"),
        F.col("node.y1").alias("y1"),
        F.col("node.bbox_area").alias("bbox_area"),
    )
