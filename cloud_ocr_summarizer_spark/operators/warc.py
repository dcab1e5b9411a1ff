"""WARC-style crawl-record parsing: the container format above HTML.

A web-scale extraction pipeline's raw input is crawl archives — WARC
records wrapping an HTTP response wrapping the HTML.  The engine
already parses the inner layers (operators/dom.py, pdfstream.py); this
module adds the envelope so the full chain
``record bytes -> WARC headers -> HTTP status -> HTML -> main text``
runs as ONE Spark job, all row-local and shuffle-free: the envelope is
JVM expressions (binary decode + regexp header extraction +
locate/substr splits), the strip is the DOM kernel's one Arrow map
stage (``operators.dom.extract_html_main``).

Synthesis (``derive_warc_records_from_documents``) builds one
spec-shaped record per document over the SAME deterministic HTML as the
DOM queries, so the composed driver query's DuckDB twin re-derives the
expected main text straight from documents.text — the value check is a
full synthesize->envelope->parse->strip round trip.  Every 17th record
is a 404 with a stub body (the extraction must drop it), and the
Content-Length header is the real byte length of the HTTP payload
(checked against DuckDB strlen of the identically derived message).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from cloud_ocr_summarizer_spark.datagen import derive_html_from_documents

CRLF = "\r\n"
_SEP = CRLF + CRLF


def derive_warc_records_from_documents(docs: DataFrame) -> DataFrame:
    """documents -> (payload: binary) one WARC-response-style record each.

    The record carries doc identity ONLY inside its own headers
    (WARC-Record-ID / WARC-Target-URI) — the parser must recover it
    from the bytes, exactly like a real crawl read.
    """
    with_html = derive_html_from_documents(docs)
    d = F.col("doc_id")
    is_404 = d % 17 == 0
    status_line = F.when(
        is_404, F.lit("HTTP/1.1 404 Not Found")
    ).otherwise(F.lit("HTTP/1.1 200 OK"))
    body = F.when(is_404, F.lit("<html><body>gone</body></html>")).otherwise(
        F.col("html")
    )
    http = F.concat(
        status_line,
        F.lit(CRLF + "Content-Type: text/html" + _SEP),
        body,
    )
    record = F.concat(
        F.lit("WARC/1.0" + CRLF),
        F.lit("WARC-Type: response" + CRLF),
        F.lit("WARC-Record-ID: <urn:doc:"),
        d.cast("string"),
        F.lit(">" + CRLF),
        F.lit("WARC-Target-URI: http://crawl.example/doc/"),
        d.cast("string"),
        F.lit(CRLF),
        F.lit("WARC-Date: 2026-01-"),
        F.lpad((d % 28 + 1).cast("string"), 2, "0"),
        F.lit("T00:00:00Z" + CRLF),
        F.lit("Content-Length: "),
        F.octet_length(http).cast("string"),
        F.lit(_SEP),
        http,
    )
    return with_html.select(F.encode(record, "UTF-8").alias("payload"))


def _header(text: Column, name: str) -> Column:
    # field names are case-insensitive (ISO 28500 §5.1 for WARC fields,
    # RFC 7230 §3.2 for HTTP) and whitespace after the colon is
    # optional — a case-sensitive match silently drops the field on
    # crawls that emit 'content-length:' or 'WARC-TARGET-URI:'
    return F.regexp_extract(text, rf"(?mi)^{name}:[ \t]*(.*?)\r?$", 1)


def _after_blank_line(text: Column) -> Column:
    """Everything after the FIRST CRLFCRLF (1-based locate + substr).

    NULL when no CRLFCRLF exists: a malformed record must surface as
    NULL envelope/body fields (countable via
    :func:`warc_malformed_audit`), not parse as garbage that the
    http_status filter then silently drops."""
    pos = F.locate(_SEP, text)
    return F.when(pos > 0, text.substr(pos + 4, F.length(text)))


def parse_warc_records(
    records: DataFrame, *, payload_col: str = "payload"
) -> DataFrame:
    """(payload binary) -> parsed record fields + inner HTML.

    Output: (doc_id, target_uri, warc_date, content_length, http_status,
    html).  doc_id is recovered from WARC-Record-ID; content_length is
    the header value AS DECLARED.  Row-local: one decode, regexp header
    extraction, two locate/substr envelope splits.
    """
    staged = records.select(
        F.decode(F.col(payload_col), "UTF-8").alias("_t")
    ).select("_t", _after_blank_line(F.col("_t")).alias("_http"))
    # try_cast on every numeric field: a missing, garbage, or overlong
    # header value is a NULL field (countable by the audit), never an
    # ANSI cast error that aborts the job on one bad crawl record
    return staged.select(
        F.regexp_extract(F.col("_t"), r"WARC-Record-ID: <urn:doc:(\d+)>", 1)
        .try_cast("bigint")
        .alias("doc_id"),
        _header(F.col("_t"), "WARC-Target-URI").alias("target_uri"),
        _header(F.col("_t"), "WARC-Date").alias("warc_date"),
        _header(F.col("_t"), "Content-Length")
        .try_cast("bigint")
        .alias("content_length"),
        # any HTTP version (1.0 responses are routine in crawls; a
        # 1.1-only match turned them into NULL-status drops)
        F.regexp_extract(
            F.col("_http"), r"^HTTP/\d+(?:\.\d+)? (\d+)(?=\s|$)", 1
        )
        .try_cast("int")
        .alias("http_status"),
        _after_blank_line(F.col("_http")).alias("html"),
    )


def warc_malformed_audit(
    records: DataFrame, *, payload_col: str = "payload"
) -> DataFrame:
    """ONE row: how many records fail the envelope grammar — missing
    the header/body CRLFCRLF split (http_body_null) or the inner HTTP
    header/entity split (html_null).  Malformed crawl records are
    normal at web scale; they must be countable, never silently
    absorbed by the status filter."""
    parsed = parse_warc_records(records, payload_col=payload_col)
    return parsed.agg(
        F.count("*").cast("bigint").alias("n_records"),
        F.sum(F.when(F.col("http_status").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_status_null"),
        F.sum(F.when(F.col("html").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_html_null"),
    )


def warc_main_text(docs: DataFrame) -> DataFrame:
    """The composed crawl round trip: documents -> WARC bytes -> parse
    -> keep HTTP 200 -> DOM boilerplate strip -> (doc_id, target_uri,
    content_length, main_text, n_tokens).

    One scan, row-local end to end; the DuckDB twin re-derives
    main_text from documents.text and every envelope field from doc_id
    arithmetic — agreement proves the container parser and the DOM
    strip compose losslessly.
    """
    return _main_text_from_records(
        derive_warc_records_from_documents(docs)
    )


def _main_text_from_records(records: DataFrame) -> DataFrame:
    """The ONE composed chain (parse -> HTTP-200 filter -> DOM strip ->
    projection) shared by the plain and gzip-member round trips, so the
    'oracle byte-identical' claim between them cannot de-sync."""
    from cloud_ocr_summarizer_spark.operators.dom import extract_html_main

    parsed = parse_warc_records(records)
    ok = parsed.where(F.col("http_status") == 200)
    return extract_html_main(
        ok, carry=("target_uri", "content_length")
    ).select("doc_id", "target_uri", "content_length", "main_text", "n_tokens")


def gzip_payloads(
    records: DataFrame, *, payload_col: str = "payload"
) -> DataFrame:
    """Gzip each record payload (real WARC shards are per-record gzip
    members).  Deterministic bytes: fixed mtime=0 and compresslevel so
    the same input always produces the same member.  Arrow-batched
    stdlib gzip — the part a JVM expression genuinely cannot do.
    """
    import pandas as pd

    schema = "payload binary"

    def compress(batches):
        import gzip

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "payload": [
                        gzip.compress(bytes(b), compresslevel=6, mtime=0)
                        for b in pdf[payload_col]
                    ]
                }
            )

    return records.mapInPandas(compress, schema=schema)


def gunzip_payloads(
    records: DataFrame, *, payload_col: str = "payload"
) -> DataFrame:
    """Inverse of :func:`gzip_payloads`; tolerant of already-plain
    payloads (magic-byte check), so mixed shards parse in one pass."""
    import pandas as pd

    schema = "payload binary"

    def decompress(batches):
        import gzip

        for pdf in batches:
            out = []
            for b in pdf[payload_col]:
                raw = bytes(b)
                out.append(
                    gzip.decompress(raw)
                    if raw[:2] == b"\x1f\x8b"
                    else raw
                )
            yield pd.DataFrame({"payload": out})

    return records.mapInPandas(decompress, schema=schema)


def warc_main_text_gz(docs: DataFrame) -> DataFrame:
    """:func:`warc_main_text` over gzip-member records: synthesize ->
    gzip each record -> gunzip -> parse -> 200-filter -> DOM strip.
    Compression is transparent to the contract, so the DuckDB twin is
    IDENTICAL to warc_extract's — the value check proves the
    compress/decompress pair is lossless end to end.
    """
    gz = gzip_payloads(derive_warc_records_from_documents(docs))
    return _main_text_from_records(gunzip_payloads(gz))
