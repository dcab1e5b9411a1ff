"""Arrow-native extraction must match the expression path row-for-row
(and therefore the oracle, by transitivity with test_extract)."""

from cloud_ocr_summarizer_spark.datagen import interleaved_docs
from cloud_ocr_summarizer_spark.operators.extract import extract_span_rows
from cloud_ocr_summarizer_spark.operators.extract_arrow_native import (
    extract_span_rows_arrow_native,
)
from tests.test_extract import EDGE_DOCS, SPAN_SCHEMA, docs_schema, to_rows


def rows_key(collected):
    return sorted(
        (r["doc_id"], r["seq"], r["kind"], r["text"], r["media_ref"], r["offset"])
        for r in collected
    )


def test_arrow_confidence_gate(spark):
    from tests.test_extract import SPAN_CONF_SCHEMA

    rows = [
        (
            "c",
            [
                {"kind": "TEXT", "text": "hi", "media_ref": None, "offset": 0, "confidence": 0.9},
                {"kind": "TEXT", "text": "lo", "media_ref": None, "offset": 1, "confidence": 0.3},
                {"kind": "TEXT", "text": "nul", "media_ref": None, "offset": 2, "confidence": None},
            ],
        )
    ]
    df = spark.createDataFrame(rows, docs_schema(SPAN_CONF_SCHEMA))
    out = extract_span_rows_arrow_native(df, min_confidence=0.7).collect()
    assert [r["text"] for r in sorted(out, key=lambda r: r["seq"])] == ["hi", "nul"]


def test_arrow_normalize_fuzz_matches_oracle():
    """The pyarrow regex normalization must equal the pure-Python spec on
    every ASCII whitespace character (RE2's \\s lacks \\x0b) and keep
    non-ASCII whitespace as word text."""
    import random

    import pyarrow as pa

    from cloud_ocr_summarizer_spark import oracle
    from cloud_ocr_summarizer_spark.operators.extract_arrow_native import _normalize

    rng = random.Random(7)
    pieces = ["a", "bb", "x y", " ", "  ", "\t", "\n", "\n\n", "\r", "w\tw", "",
              "\x0b", "\x0c", "\r\n", "\xa0", "\u2028", "\u3000", "\x1c"]
    strings = [
        "".join(rng.choice(pieces) for _ in range(rng.randint(0, 12)))
        for _ in range(500)
    ]
    got = _normalize(pa.array(strings, type=pa.string())).to_pylist()
    for s, g in zip(strings, got):
        assert g == oracle.normalize_block_text(s), repr(s)


def test_arrow_native_matches_expression(spark):
    docs = EDGE_DOCS + [("vt", [("TEXT", "x y\x0bbb\x0b", None, 0)])]
    df = spark.createDataFrame(to_rows(docs), docs_schema(SPAN_SCHEMA))
    got = rows_key(extract_span_rows_arrow_native(df).collect())
    assert got == rows_key(extract_span_rows(df).collect())
    assert ("vt", 1, "TEXT", "x y bb", None, 0) in got
    gen = interleaved_docs(spark, 300, seed=42).cache()
    assert rows_key(extract_span_rows_arrow_native(gen).collect()) == rows_key(
        extract_span_rows(gen).collect()
    )
    gen.unpersist()


def test_arrow_native_gates(spark):
    from tests.test_extract import SPAN_CONF_SCHEMA

    rows = [
        ("big", [{"kind": "TEXT", "text": "x" * 2000, "media_ref": None, "offset": 0,
                  "confidence": None}]),
        ("ok", [
            {"kind": "TEXT", "text": "keep me", "media_ref": None, "offset": 0,
             "confidence": 0.9},
            {"kind": "TEXT", "text": "drop me", "media_ref": None, "offset": 1,
             "confidence": 0.1},
        ]),
    ]
    df = spark.createDataFrame(rows, docs_schema(SPAN_CONF_SCHEMA))
    out = extract_span_rows_arrow_native(
        df, min_confidence=0.5, max_text_bytes=1000
    ).collect()
    assert [(r["doc_id"], r["text"]) for r in out] == [("ok", "keep me")]


def test_bbox_geometry_rowlocal_vs_arrow(spark):
    """The row-local nested bbox encodes the layout model for every span:
    span k of n occupies the band [(k-1)/n, k/n], media spans are the
    narrower x range."""
    from cloud_ocr_summarizer_spark.operators.extract import (
        BBOX_X_MEDIA,
        BBOX_X_TEXT,
    )

    docs = interleaved_docs(spark, 60, seed=5)
    rows = extract_span_rows(docs, include_bounding_boxes=True).collect()
    n = {}
    for r in rows:
        n[r["doc_id"]] = n.get(r["doc_id"], 0) + 1
    got = {
        (r["doc_id"], r["seq"]): (
            r["bbox"][0]["x"], r["bbox"][2]["x"], r["bbox"][0]["y"], r["bbox"][2]["y"]
        )
        for r in rows
    }
    want = {
        (r["doc_id"], r["seq"]): (
            *(BBOX_X_MEDIA if r["media_ref"] is not None else BBOX_X_TEXT),
            (r["seq"] - 1) / n[r["doc_id"]],
            r["seq"] / n[r["doc_id"]],
        )
        for r in rows
    }
    assert got == want  # bit-identical doubles
    # vertices are a sane normalized box: 4 points, 0 <= coords <= 1,
    # media spans narrower than text spans
    for r in rows:
        assert len(r["bbox"]) == 4
        for v in r["bbox"]:
            assert 0.0 <= v["x"] <= 1.0 and 0.0 <= v["y"] <= 1.0
        width = round(r["bbox"][1]["x"] - r["bbox"][0]["x"], 6)
        assert width == (0.5 if r["media_ref"] is not None else 0.9)


def test_bbox_gated_off_by_default(spark):
    docs = interleaved_docs(spark, 5, seed=5)
    assert "bbox" not in extract_span_rows(docs).columns


def test_select_primary_language_semantics(spark):
    """Argmax over array<struct<lang,conf>>: first max wins ties, empty
    annotations take the default and flag used_default."""
    from pyspark.sql import functions as F

    from cloud_ocr_summarizer_spark.operators.textstats import (
        select_primary_language,
    )

    rows = [
        (1, [("de", 0.9), ("en", 0.5)]),     # clear winner
        (2, [("de", 0.7), ("en", 0.7)]),     # tie -> first in order
        (3, []),                               # empty -> default
        (4, [("fr", 0.1)]),                    # single
    ]
    df = spark.createDataFrame(
        rows, "doc_id int, languages array<struct<lang:string,conf:double>>"
    )
    got = {
        r["doc_id"]: (r["primary_lang"], r["used_default"])
        for r in select_primary_language(df, default="ja").collect()
    }
    assert got == {
        1: ("de", False),
        2: ("de", False),
        3: ("ja", True),
        4: ("fr", False),
    }


def test_bbox_geometry_duplicate_doc_ids(spark):
    """Regression: adjacent input rows sharing a doc_id must keep their
    OWN y-bands (per input row) — grouping on doc_id values would merge
    them into one band and break the tiling invariant."""
    span = lambda off, t: ("TEXT", t, None, off)  # noqa: E731
    rows = [
        (7, [span(0, "a"), span(1, "b")]),
        (7, [span(0, "c")]),          # SAME doc_id, next row
        (8, [span(0, "d"), span(1, "e"), span(2, "f")]),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    ).coalesce(1)  # one partition: adjacent rows
    jvm = sorted(
        (r["text"], r["bbox"][0]["y"], r["bbox"][2]["y"])
        for r in extract_span_rows(df, include_bounding_boxes=True).collect()
    )
    assert jvm == [
        ("a", 0.0, 0.5), ("b", 0.5, 1.0),
        ("c", 0.0, 1.0),  # per-row bands: the single-span row spans the page
        ("d", 0.0, 1 / 3), ("e", 1 / 3, 2 / 3), ("f", 2 / 3, 1.0),
    ]
