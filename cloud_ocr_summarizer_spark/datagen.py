"""Deterministic synthetic interleaved-document tables (FIXTURES.md §1).

Two generators:

* ``interleaved_docs`` — fully DISTRIBUTED and seed-deterministic: every
  value is column arithmetic over ``spark.range`` + xxhash64, so the same
  (n_docs, seed) yields identical rows at any partitioning / parallelism.
  Includes the media-heavy skew cluster (0.1% of docs get ~100x spans,
  >=90% media) and fixed-id edge docs.  Used by bench.py and property
  tests; scales to any n_docs without driver memory.

* ``derive_spans_from_documents`` — the SQL-mirrorable interleaver that
  turns the driver's flat ``documents`` parquet into the engine's input
  shape (doc_id, spans).  Kept simple enough to express identically in
  DuckDB SQL (__spark_entry__.oracle_sql) so the driver can cross-check
  the whole flagship pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cloud_ocr_summarizer_spark import config
from cloud_ocr_summarizer_spark.functions.text import (
    let_col,
    memo_col,
    whitespace_tokens_col,
)

# Small fixed vocabulary; some entries carry nasty whitespace to exercise
# the assembly semantics (trim points, vision_processor.py:176,325,363).
_VOCAB = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    "  padded", "trailing  ", "two  spaces", "line\nbreak", "tab\there",
    "x", "the", "a", "and", "of",
]


def _h(*cols: Column | str | int) -> Column:
    """Stable 64-bit hash of the arguments (xxhash64: fixed seed, no RNG)."""
    lits = [c if isinstance(c, Column) else F.lit(c) for c in cols]
    return F.xxhash64(*lits)


def _pick(word_idx: Column) -> Column:
    """vocab[word_idx % len] as a Column expression."""
    arr = F.array(*[F.lit(w) for w in _VOCAB])
    return F.element_at(arr, (F.pmod(word_idx, F.lit(len(_VOCAB))) + 1).cast("int"))


def interleaved_docs(
    spark: SparkSession,
    n_docs: int,
    *,
    seed: int = 42,
    with_confidence: bool = False,
    skew: bool = True,
    partitions: int | None = None,
) -> DataFrame:
    """(doc_id string, spans array<struct<kind,text,media_ref,offset[,confidence]>>).

    Span order within the array is scrambled (offset defines reading order,
    not position).  Edge docs at fixed indices: 0 = empty spans, 1 = single
    span, 2 = all-media, 3 = duplicate offsets.
    """
    rng = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)
    d = F.col("id")

    base_n = (F.pmod(_h(d, seed, "n"), F.lit(12)) + 1).cast("int")
    is_skew = F.lit(skew) & (F.pmod(d, F.lit(1000)) == 7)
    n_spans = (
        F.when(d == 0, 0)
        .when(d == 1, 1)
        .when(is_skew, base_n * 100)  # media-heavy skew cluster
        .otherwise(base_n)
    )

    def make_span(i: Column) -> Column:
        # media iff hash bucket hits: 25% normally, ~92% for skew docs,
        # 100% for the all-media edge doc (id 2).
        bucket = F.pmod(_h(d, i, seed, "m"), F.lit(12))
        is_media = (
            F.when(d == 2, F.lit(True))
            .when(is_skew, bucket < 11)
            .otherwise(bucket < 3)
        )
        n_words = (F.pmod(_h(d, i, seed, "w"), F.lit(9)) + 2).cast("int")
        words = F.transform(
            F.sequence(F.lit(0), n_words - 1), lambda j: _pick(_h(d, i, j, seed, "v"))
        )
        text = F.when(~is_media, F.array_join(words, " "))
        media_ref = F.when(
            is_media,
            F.concat(
                F.lit(config.MEDIA_REF_PREFIX),
                d.cast("string"),
                F.lit("/"),
                i.cast("string"),
                F.lit(".png"),
            ),
        )
        kind = (
            F.when(is_media, F.lit(config.KIND_PICTURE))
            .when(F.pmod(_h(d, i, seed, "k"), F.lit(10)) == 0, F.lit(config.KIND_TABLE))
            .otherwise(F.lit(config.KIND_TEXT))
        )
        # duplicate-offsets edge doc (id 3): all spans share offset 0
        offset = F.when(d == 3, F.lit(0)).otherwise(i.cast("int"))
        fields = [
            kind.alias("kind"),
            text.alias("text"),
            media_ref.alias("media_ref"),
            offset.alias("offset"),
        ]
        if with_confidence:
            conf = 0.4 + (F.pmod(_h(d, i, seed, "c"), F.lit(600)) / F.lit(1000.0))
            fields.append(conf.cast("float").alias("confidence"))
        return F.struct(*fields)

    spans = F.when(n_spans == 0, F.array().cast(
        "array<struct<kind:string,text:string,media_ref:string,offset:int"
        + (",confidence:float>>" if with_confidence else ">>")
    )).otherwise(F.transform(F.sequence(F.lit(0), n_spans - 1), make_span))

    # Scramble array order deterministically: sort by a per-span hash, so
    # offset (not array position) carries reading order.
    scrambled = F.transform(
        F.sort_array(
            F.transform(
                spans, lambda s: F.struct(_h(d, s["offset"], s["kind"], seed, "shuf").alias("k"), s.alias("s"))
            )
        ),
        lambda x: x["s"],
    )

    return rng.select(
        F.format_string("doc_%012d", d).alias("doc_id"), scrambled.alias("spans")
    )


def derive_doc_languages(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, languages array<struct<lang,conf>>): the
    per-page ``detected_languages`` passthrough (reference
    vision_processor.py:189-199 — each page carries (language_code,
    confidence) pairs; here one page per doc).

    Deterministic, SQL-mirrorable: candidates are [the doc's own lang,
    'en', 'fr'] with confidences c1 = (51 + 7*doc_id % 47)/100,
    c2 = 0.6049, c3 = (30 + 11*doc_id % 29)/100; every 20th doc reports
    NO languages (the empty-annotation case the defaults must cover).
    """
    d = F.col("doc_id")
    c1 = (51 + F.pmod(d * 7, F.lit(47))) / 100.0
    c2 = F.lit(0.6049)
    c3 = (30 + F.pmod(d * 11, F.lit(29))) / 100.0
    entry = lambda lang, conf: F.struct(  # noqa: E731
        lang.alias("lang"), conf.cast("double").alias("conf")
    )
    langs = F.array(
        entry(F.col("lang"), c1),
        entry(F.lit("en"), c2),
        entry(F.lit("fr"), c3),
    )
    empty = F.array().cast("array<struct<lang:string,conf:double>>")
    return docs.select(
        "doc_id",
        F.when(F.pmod(d, F.lit(20)) == 0, empty).otherwise(langs).alias("languages"),
    )


def derive_spans_from_documents(docs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """documents(doc_id, text, ...) -> (doc_id, spans) interleaved table.

    Deterministic word-chunk interleaver (config: SPAN_WORDS_PER_CHUNK words
    per span, every MEDIA_EVERY-th span of doc d — phase d*31 — is media).
    Mirrored 1:1 by the DuckDB SQL in __spark_entry__.oracle_sql, so keep
    the two in lockstep when editing.  ``keep`` carries extra document
    columns (e.g. ``source``) through as-is — a projection, not a join, so
    operators that need doc metadata alongside spans never pay a doc_id
    re-join shuffle.
    """
    return docs.select(*_spans_cols(), *[F.col(c) for c in keep])


@memo_col
def _spans_cols() -> tuple[Column, Column]:
    """The (doc_id, spans) columns of :func:`derive_spans_from_documents`."""
    k = config.SPAN_WORDS_PER_CHUNK
    d = F.col("doc_id")

    # The token array is LET-BOUND (functions.text.let_col): expressions
    # inside a higher-order-function lambda are re-evaluated PER ELEMENT
    # (Catalyst does no loop-invariant code motion), so referencing
    # split(text) from make_span would re-tokenize the whole document
    # once per span — O(words^2 / k) per doc, measured 35x+ on
    # 10^5-word docs.  let_col (rather than a hoisted projection) also
    # survives predicate pushdown: a downstream filter on the spans
    # column gets the WHOLE expression substituted into its condition,
    # and the internal binding keeps that copy linear too.
    def spans_of(words: Column) -> Column:
        n_spans = F.ceil(F.size(words) / F.lit(k)).cast("int")

        def make_span(i: Column) -> Column:
            is_media = F.pmod(d * 31 + i, F.lit(config.MEDIA_EVERY)) == 0
            chunk = F.array_join(F.slice(words, i.cast("int") * k + 1, k), " ")
            # rotate media extensions so mime dispatch (P1) sees all
            # branches, including the octet-stream default (.bin)
            ext = F.element_at(
                F.array(F.lit(".png"), F.lit(".jpg"), F.lit(".bin")),
                (F.pmod(i, F.lit(3)) + 1).cast("int"),
            )
            return F.struct(
                F.when(is_media, F.lit(config.KIND_PICTURE))
                .otherwise(F.lit(config.KIND_TEXT))
                .alias("kind"),
                F.when(~is_media, chunk).alias("text"),
                F.when(
                    is_media,
                    F.concat(
                        F.lit(config.MEDIA_REF_PREFIX),
                        d.cast("string"),
                        F.lit("/"),
                        i.cast("string"),
                        ext,
                    ),
                ).alias("media_ref"),
                i.cast("int").alias("offset"),
            )

        empty = F.array().cast(
            "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
        )
        return F.when(n_spans > 0, F.transform(
            F.sequence(F.lit(0).cast("int"), n_spans - 1), make_span
        )).otherwise(empty)

    spans = let_col(whitespace_tokens_col(F.col("text")), spans_of)
    return d.alias("doc_id"), spans.alias("spans")


def derive_html_from_documents(docs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """documents -> (doc_id, html): deterministic tag-soup wrapper.
    ``keep`` carries extra input columns through unchanged (same
    convention as derive_spans_from_documents).

    The document's words are the ONLY non-boilerplate text, split across
    two <p> blocks with head/nav/header/aside/footer/script/style
    boilerplate around and between them — so a correct DOM strip
    (operators/dom.py) must reproduce exactly the whitespace-normalized
    original text.  The DuckDB oracle therefore computes the expected
    output from documents.text directly: the value check is a full
    synthesize->tokenize->strip->reassemble round trip.
    """
    return docs.select(*_html_cols(), *[F.col(c) for c in keep])


@memo_col
def _html_cols() -> tuple[Column, Column]:
    """The (doc_id, html) columns of :func:`derive_html_from_documents`."""
    d = F.col("doc_id")
    src = F.coalesce(F.col("source"), F.lit("unknown"))

    # token array let-bound (see derive_spans_from_documents): referenced
    # 4x below (n/p1/p2) — one tokenize per row, pushdown-proof
    def html_of(words: Column) -> Column:
        n = F.size(words)
        half = F.ceil(n / F.lit(2)).cast("int")
        p1 = F.array_join(F.slice(words, F.lit(1), half), " ")
        p2 = F.when(
            n > half, F.array_join(F.slice(words, half + 1, n - half), " ")
        ).otherwise(F.lit(""))
        return F.concat(
            F.lit('<html><head><title>Doc '),
            d.cast("string"),
            F.lit('</title><script>var x=1;</script><style>p { color: red; }'
                  '</style></head>\n<body><header><h1>Site '),
            src,
            F.lit('</h1></header><nav><a href="http://nav/home">Home</a> '
                  '<a href="http://nav/about">About</a></nav>'
                  '<!-- begin content --><div class="main"><p>'),
            p1,
            F.lit('</p><aside>Sponsored http://spam.example <b>ads</b></aside><p>'),
            p2,
            F.lit('</p><br/></div><footer>(c) 2026 '),
            src,
            F.lit('</footer></body></html>'),
        )

    html = let_col(whitespace_tokens_col(F.col("text")), html_of)
    return d.alias("doc_id"), html.alias("html")


def derive_linked_html_from_documents(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, html) with per-block link-density classes.

    The document's words are split into 8-word <p> blocks; block i of
    doc d draws its class from (d*31 + i) % 5:

      class 0 — every word wrapped in one <a> (link density 1: a nav/
                related-links block in Readability terms; MUST be
                dropped by the density rule 2*link_tokens > tokens)
      class 1 — the first floor(n/2) words inside <a> (density <= 0.5:
                legitimate prose with citations; MUST be kept whole)
      else    — plain prose (kept)

    Boilerplate containers wrap the blocks so the density operator also
    exercises the container strip.  The DuckDB oracle re-derives the
    kept set from documents.text with the same integer arithmetic —
    keep the two in lockstep (oracles.py ``html_main_dense``).
    """
    d = F.col("doc_id")
    k = config.SPAN_WORDS_PER_CHUNK

    # token array let-bound — see derive_spans_from_documents (per-element
    # re-tokenization inside the block lambda is quadratic in doc length)
    def body_of(words: Column) -> Column:
        n_blocks = F.ceil(F.size(words) / F.lit(k)).cast("int")

        def make_block(i: Column) -> Column:
            cls = F.pmod(d * 31 + i, F.lit(5))
            chunk = F.slice(words, i.cast("int") * k + 1, k)
            n = F.size(chunk)
            half = F.floor(n / 2).cast("int")
            full_link = F.concat(
                F.lit('<p><a href="http://x/'),
                i.cast("string"),
                F.lit('">'),
                F.array_join(chunk, " "),
                F.lit("</a></p>"),
            )
            half_link = F.concat(
                F.lit('<p><a href="http://x/h">'),
                F.array_join(F.slice(chunk, F.lit(1), half), " "),
                F.lit("</a> "),
                F.array_join(F.slice(chunk, half + 1, n - half), " "),
                F.lit("</p>"),
            )
            plain = F.concat(F.lit("<p>"), F.array_join(chunk, " "), F.lit("</p>"))
            return (
                F.when(cls == 0, full_link).when(cls == 1, half_link).otherwise(plain)
            )

        return F.when(
            n_blocks > 0,
            F.array_join(
                F.transform(
                    F.sequence(F.lit(0).cast("int"), n_blocks - 1), make_block
                ),
                "\n",
            ),
        ).otherwise(F.lit(""))

    body = let_col(whitespace_tokens_col(F.col("text")), body_of)
    html = F.concat(
        F.lit("<html><head><title>D"),
        d.cast("string"),
        F.lit('</title></head><body><nav><a href="http://nav/home">Home'
              "</a></nav><!-- content -->"),
        body,
        F.lit("<footer>(c) 2026</footer></body></html>"),
    )
    return docs.select(d.alias("doc_id"), html.alias("html"))


def derive_density_html_from_documents(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, html) with per-block TEXT-density classes.

    The document's words split into 8-word <p> blocks; block i of doc d
    draws its rendered shape from (d*31 + i) % 5:

      class 0 — fragment: only the chunk's first 2 words (a byline /
                copyright line / caption; wc <= 2 < 7 words per line,
                so the density rule MUST drop it)
      class 1 — triple prose: the chunk space-joined three times
                (usually wraps past 80 cols; kept or dropped purely by
                the shared integer arithmetic — both engines compute
                wc = 3n and nc = 3*len(chunk)+2 from the same string)
      else    — plain chunk (kept iff >= 7 words fit one line; short
                tail chunks legitimately drop)

    Boilerplate containers wrap the blocks so the density operator also
    exercises the container strip.  The DuckDB oracle re-derives every
    block's content string from documents.text with the same integer
    arithmetic — keep the two in lockstep (oracles.py
    ``html_main_density``).
    """
    d = F.col("doc_id")
    k = config.SPAN_WORDS_PER_CHUNK

    # token array let-bound — see derive_spans_from_documents
    def body_of(words: Column) -> Column:
        n_blocks = F.ceil(F.size(words) / F.lit(k)).cast("int")

        def make_block(i: Column) -> Column:
            cls = F.pmod(d * 31 + i, F.lit(5))
            chunk = F.slice(words, i.cast("int") * k + 1, k)
            cj = F.array_join(chunk, " ")
            fragment = F.array_join(F.slice(chunk, 1, 2), " ")
            triple = F.concat_ws(" ", cj, cj, cj)
            content = F.when(cls == 0, fragment).when(cls == 1, triple).otherwise(cj)
            return F.concat(F.lit("<p>"), content, F.lit("</p>"))

        return F.when(
            n_blocks > 0,
            F.array_join(
                F.transform(
                    F.sequence(F.lit(0).cast("int"), n_blocks - 1), make_block
                ),
                "\n",
            ),
        ).otherwise(F.lit(""))

    body = let_col(whitespace_tokens_col(F.col("text")), body_of)
    html = F.concat(
        F.lit("<html><head><title>D"),
        d.cast("string"),
        F.lit("</title></head><body><header>Site D"),
        d.cast("string"),
        F.lit("</header><!-- content -->"),
        body,
        F.lit("<footer>(c) 2026 example.test</footer></body></html>"),
    )
    return docs.select(d.alias("doc_id"), html.alias("html"))


def derive_pdf_streams_from_documents(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload:binary) minimal PDF content streams.

    The document's words split into 8-word blocks laid out on a
    two-column page: block i sits at x = 50 + (i%2)*300,
    y = 720 - (i//2)*40, rendered as a BT…ET text object with the first
    4 words shown by an absolute-Tm Tj and (when the block has more
    than 4 words) the rest on a second line via a relative
    ``0 -12 Td`` — so the parser's Tm-reset / Td-accumulate state
    machine is genuinely exercised.  %-comment lines frame the stream.

    The DuckDB oracle (oracles.py ``pdf_text_spans`` /
    ``pdf_main_text``) re-derives every line's position and content
    from documents.text with the same integer arithmetic — keep the
    two in lockstep.  Word contract: corpus words contain no ``(``,
    ``)`` or ``\\`` (same class of contract as the HTML derivers).
    """
    d = F.col("doc_id")
    k = config.SPAN_WORDS_PER_CHUNK
    half = k // 2

    # token array let-bound — see derive_spans_from_documents
    def body_of(words: Column) -> Column:
        n_blocks = F.ceil(F.size(words) / F.lit(k)).cast("int")

        def make_block(i: Column) -> Column:
            chunk = F.slice(words, i.cast("int") * k + 1, k)
            n = F.size(chunk)
            x = (F.lit(50) + F.pmod(i, F.lit(2)) * 300).cast("int")
            y = (F.lit(720) - F.floor(i / 2).cast("int") * 40).cast("int")
            l1 = F.array_join(F.slice(chunk, 1, half), " ")
            l2 = F.array_join(F.slice(chunk, half + 1, k - half), " ")
            head = F.concat(
                F.lit("BT 1 0 0 1 "),
                x.cast("string"),
                F.lit(" "),
                y.cast("string"),
                F.lit(" Tm ("),
                l1,
                F.lit(") Tj"),
            )
            tail = F.when(
                n > half, F.concat(F.lit(" 0 -12 Td ("), l2, F.lit(") Tj"))
            ).otherwise(F.lit(""))
            return F.concat(head, tail, F.lit(" ET"))

        return F.when(
            n_blocks > 0,
            F.array_join(
                F.transform(
                    F.sequence(F.lit(0).cast("int"), n_blocks - 1), make_block
                ),
                "\n",
            ),
        ).otherwise(F.lit(""))

    body = let_col(whitespace_tokens_col(F.col("text")), body_of)
    stream = F.concat(
        F.lit("%PDF-1.4\n% synthetic content stream D"),
        d.cast("string"),
        F.lit("\n"),
        body,
        F.lit("\n%%EOF"),
    )
    return docs.select(d.alias("doc_id"), F.encode(stream, "UTF-8").alias("payload"))


def derive_classified_html_from_documents(
    docs: DataFrame, keep: tuple[str, ...] = ()
) -> DataFrame:
    """documents -> (doc_id, html) exercising BOTH Readability rules.
    ``keep`` carries extra input columns through (projection, no join).

    8-word <p> blocks; block i of doc d draws from (d*31 + i) % 5:

      class 0 — every word inside one <a> (link-dense: MUST drop)
      class 1 — first floor(n/2) words inside <a> (link rule keeps;
                the text-density rule still drops short tails)
      class 2 — fragment: first 2 words only (text-sparse: MUST drop)
      else    — plain prose (kept iff >= 7 words fit the line rule)

    The DuckDB oracle (oracles.py ``html_main_classified``) re-derives
    every block's content, wc and link-wc from documents.text with the
    same integer arithmetic — keep in lockstep.
    """
    return docs.select(*_classified_html_cols(), *[F.col(c) for c in keep])


@memo_col
def _classified_html_cols() -> tuple[Column, Column]:
    """The (doc_id, html) columns of
    :func:`derive_classified_html_from_documents`."""
    d = F.col("doc_id")
    k = config.SPAN_WORDS_PER_CHUNK

    # token array let-bound — see derive_spans_from_documents
    def body_of(words: Column) -> Column:
        n_blocks = F.ceil(F.size(words) / F.lit(k)).cast("int")

        def make_block(i: Column) -> Column:
            cls = F.pmod(d * 31 + i, F.lit(5))
            chunk = F.slice(words, i.cast("int") * k + 1, k)
            n = F.size(chunk)
            half = F.floor(n / 2).cast("int")
            full_link = F.concat(
                F.lit('<p><a href="http://x/'),
                i.cast("string"),
                F.lit('">'),
                F.array_join(chunk, " "),
                F.lit("</a></p>"),
            )
            half_link = F.concat(
                F.lit('<p><a href="http://x/h">'),
                F.array_join(F.slice(chunk, F.lit(1), half), " "),
                F.lit("</a> "),
                F.array_join(F.slice(chunk, half + 1, n - half), " "),
                F.lit("</p>"),
            )
            fragment = F.concat(
                F.lit("<p>"), F.array_join(F.slice(chunk, 1, 2), " "), F.lit("</p>")
            )
            plain = F.concat(F.lit("<p>"), F.array_join(chunk, " "), F.lit("</p>"))
            return (
                F.when(cls == 0, full_link)
                .when(cls == 1, half_link)
                .when(cls == 2, fragment)
                .otherwise(plain)
            )

        return F.when(
            n_blocks > 0,
            F.array_join(
                F.transform(
                    F.sequence(F.lit(0).cast("int"), n_blocks - 1), make_block
                ),
                "\n",
            ),
        ).otherwise(F.lit(""))

    body = let_col(whitespace_tokens_col(F.col("text")), body_of)
    html = F.concat(
        F.lit("<html><head><title>D"),
        d.cast("string"),
        F.lit('</title></head><body><nav><a href="http://nav/home">Home'
              "</a></nav><!-- content -->"),
        body,
        F.lit("<footer>(c) 2026</footer></body></html>"),
    )
    return d.alias("doc_id"), html.alias("html")


def derive_media_pdf_payloads(docs: DataFrame) -> DataFrame:
    """documents -> (asset_key, payload:binary): one minimal PDF content
    stream per MEDIA span (the north rule's "PDF layout parsing for
    media_ref spans" stand-in — at deployment the payload column is the
    fetched asset bytes).

    Even offsets render a single Tm line, odd offsets add a relative-Td
    second line, so the parser's state machine is exercised per asset.
    asset_key = (doc_id << 20) | offset — bit arithmetic, so encode and
    decode stay EXACT at any scale (no double-division rounding) and
    offsets up to 2^20-1 (docs to ~8M words) cannot collide across
    documents; real deployments key the parse by a struct column
    instead.  Oracle lockstep: oracles.py ``media_pdf_layout``.
    """
    spans = derive_spans_from_documents(docs)
    m = (
        spans.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode("spans").alias("s"),
        )
        .where(F.col("s.media_ref").isNotNull())
        .select(
            "doc_id",
            F.col("s.offset").alias("offset"),
            F.col("s.media_ref").alias("media_ref"),
        )
    )
    two = F.pmod(F.col("offset"), F.lit(2)) == 1
    stream = F.concat(
        F.lit("%PDF-1.4\nBT 1 0 0 1 50 700 Tm (asset "),
        F.col("media_ref"),
        F.lit(") Tj"),
        F.when(
            two,
            F.concat(
                F.lit(" 0 -14 Td (doc "),
                F.col("doc_id").cast("string"),
                F.lit(" span "),
                F.col("offset").cast("string"),
                F.lit(") Tj"),
            ),
        ).otherwise(F.lit("")),
        F.lit(" ET\n%%EOF"),
    )
    return m.select(
        (F.shiftleft(F.col("doc_id"), 20).bitwiseOR(F.col("offset")))
        .alias("asset_key"),
        F.encode(stream, "UTF-8").alias("payload"),
    )
