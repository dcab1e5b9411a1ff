"""Golden tests: the distributed engine must match the pure-Python oracle
span-for-span — the span-sequence-equality contract
(kind, text, media_ref, order) from BASELINE.json north_rule.
"""

import pytest
from pyspark.sql import types as T

from cloud_ocr_summarizer_spark import oracle
from cloud_ocr_summarizer_spark.datagen import interleaved_docs
from cloud_ocr_summarizer_spark.operators.extract import (
    extract_span_rows,
    extract_spans,
)

SPAN_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)
SPAN_CONF_SCHEMA = T.StructType(
    SPAN_SCHEMA.fields + [T.StructField("confidence", T.FloatType())]
)


def docs_schema(span_schema):
    return T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("spans", T.ArrayType(span_schema)),
        ]
    )


# Hand-written edge docs (FIXTURES.md §1 edge list).
EDGE_DOCS = [
    ("empty", []),
    ("single", [("TEXT", "only  span ", None, 0)]),
    (
        "whitespace",
        [
            ("TEXT", "  a\t b \n\n c  ", None, 1),
            ("TEXT", "\n\n", None, 0),
            ("TABLE", " x |  y ", None, 2),
        ],
    ),
    (
        "allmedia",
        [
            ("PICTURE", None, "gs://b/2.png", 1),
            ("BARCODE", None, "gs://b/1.png", 0),
        ],
    ),
    (
        "dup_offsets",
        [
            ("TEXT", "z", None, 0),
            ("TEXT", "a", None, 0),
            ("PICTURE", None, "gs://m", 0),
        ],
    ),
    (
        "raw_kinds",
        [
            ("html", "<p> hi </p>", None, 0),
            ("pdf", "page text", None, 1),
            ("jpg", "ignored", "gs://img.jpg", 2),
            ("weird", "mystery", "gs://keep", 3),
        ],
    ),
    (
        "enum_kinds",
        [("1", "one", None, 0), ("3", None, "gs://p", 1), ("5", None, "gs://bc", 2)],
    ),
    (
        "text_with_media_leak",
        [("TEXT", "keep text", "gs://leak", 0)],
    ),
    ("scrambled", [("TEXT", c, None, o) for o, c in [(5, "f"), (0, "a"), (3, "d"), (1, "b"), (4, "e"), (2, "c")]]),
]


def to_rows(docs):
    return [
        (doc_id, [{"kind": k, "text": t, "media_ref": m, "offset": o} for k, t, m, o in spans])
        for doc_id, spans in docs
    ]


def expected_by_oracle(docs, **kw):
    return {
        doc_id: oracle.extract_document(
            [dict(zip(("kind", "text", "media_ref", "offset"), s)) for s in spans], **kw
        )
        for doc_id, spans in docs
    }


def spans_out_as_tuples(row):
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row]


@pytest.mark.parametrize("impl", [extract_spans])
def test_edge_docs_match_oracle(spark, impl):
    df = spark.createDataFrame(to_rows(EDGE_DOCS), docs_schema(SPAN_SCHEMA))
    got = {r["doc_id"]: spans_out_as_tuples(r["spans_out"]) for r in impl(df).collect()}
    want = expected_by_oracle(EDGE_DOCS)
    assert set(got) == set(want)
    for doc_id in want:
        assert got[doc_id] == want[doc_id], doc_id


def test_confidence_gate_matches_oracle(spark):
    docs = [
        (
            "conf",
            [
                ("TEXT", "hi", None, 0, 0.9),
                ("TEXT", "lo", None, 1, 0.3),
                ("TEXT", "nul", None, 2, None),
                ("PICTURE", None, "gs://p", 3, 0.5),
            ],
        )
    ]
    rows = [
        (
            d,
            [
                {"kind": k, "text": t, "media_ref": m, "offset": o, "confidence": c}
                for k, t, m, o, c in spans
            ],
        )
        for d, spans in docs
    ]
    df = spark.createDataFrame(rows, docs_schema(SPAN_CONF_SCHEMA))
    got = {
        r["doc_id"]: spans_out_as_tuples(r["spans_out"])
        for r in extract_spans(df, min_confidence=0.7).collect()
    }
    want = {
        d: oracle.extract_document(
            [
                dict(zip(("kind", "text", "media_ref", "offset", "confidence"), s))
                for s in spans
            ],
            min_confidence=0.7,
        )
        for d, spans in docs
    }
    assert got == want


def test_size_gate_rejects_oversize_doc(spark):
    docs = [
        ("small", [("TEXT", "ok", None, 0)]),
        ("big", [("TEXT", "x" * 2000, None, 0)]),
    ]
    df = spark.createDataFrame(to_rows(docs), docs_schema(SPAN_SCHEMA))
    out = extract_spans(df, max_text_bytes=1000)
    assert [r["doc_id"] for r in out.collect()] == ["small"]


def test_generated_docs_match_oracle_both_impls(spark):
    df = interleaved_docs(spark, 200, seed=42).cache()
    local = {
        r["doc_id"]: [
            {"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"], "offset": s["offset"]}
            for s in r["spans"]
        ]
        for r in df.collect()
    }
    want = {d: oracle.extract_document(spans) for d, spans in local.items()}
    got = {
        r["doc_id"]: spans_out_as_tuples(r["spans_out"])
        for r in extract_spans(df).collect()
    }
    assert got == want
    df.unpersist()


def test_generated_docs_partitioning_invariance(spark):
    # Same logical input at different partitioning -> identical sequences
    # (order-insensitivity of the engine, SURVEY.md §5.2.3).
    a = interleaved_docs(spark, 120, seed=42, partitions=1)
    b = interleaved_docs(spark, 120, seed=42, partitions=13)
    ra = {r["doc_id"]: spans_out_as_tuples(r["spans_out"]) for r in extract_spans(a).collect()}
    rb = {
        r["doc_id"]: spans_out_as_tuples(r["spans_out"])
        for r in extract_spans(b.repartition(7)).collect()
    }
    assert ra == rb


def test_extract_span_rows_shape_and_seq(spark):
    df = spark.createDataFrame(to_rows(EDGE_DOCS), docs_schema(SPAN_SCHEMA))
    rows = extract_span_rows(df).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    want = expected_by_oracle(EDGE_DOCS)
    for doc_id, expected in want.items():
        got = sorted(by_doc.get(doc_id, []), key=lambda r: r["seq"])
        assert [g["seq"] for g in got] == list(range(1, len(expected) + 1))
        assert [(g["kind"], g["text"], g["media_ref"], g["offset"]) for g in got] == expected


def test_normalize_fuzz_engine_matches_oracle(spark):
    """500 adversarial whitespace strings: column expression == pure
    Python spec (oracle.normalize_block_text)."""
    import random

    from pyspark.sql import functions as F

    from cloud_ocr_summarizer_spark import oracle
    from cloud_ocr_summarizer_spark.functions.text import normalize_block_text_col

    rng = random.Random(42)
    pieces = ["a", "bb", "x y", " ", "  ", "\t", "\n", "\n\n", "\r", "w\tw", "",
              "\xa0", "\u2028", "\u3000", "\x1c"]
    strings = [
        "".join(rng.choice(pieces) for _ in range(rng.randint(0, 12)))
        for _ in range(500)
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(strings)], "i int, s string")
    got = {
        r["i"]: r["n"]
        for r in df.select("i", normalize_block_text_col(F.col("s")).alias("n")).collect()
    }
    for i, s in enumerate(strings):
        assert got[i] == oracle.normalize_block_text(s), repr(s)


def test_extra_span_metadata_tolerated(spark):
    """Detailed-mode per-span metadata (confidence + bbox,
    vision_processor.py:304-313) flows through extraction: gates apply,
    extra fields don't leak into the canonical output."""
    bbox_t = T.ArrayType(
        T.StructType([T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())])
    )
    span_t = T.StructType(
        SPAN_CONF_SCHEMA.fields + [T.StructField("bbox", bbox_t)]
    )
    rows = [
        (
            "d",
            [
                {"kind": "TEXT", "text": "hello", "media_ref": None, "offset": 1,
                 "confidence": 0.9, "bbox": [{"x": 0.1, "y": 0.2}]},
                {"kind": "TEXT", "text": "dropped", "media_ref": None, "offset": 0,
                 "confidence": 0.2, "bbox": None},
            ],
        )
    ]
    df = spark.createDataFrame(rows, docs_schema(span_t))
    out = extract_spans(df, min_confidence=0.5).collect()
    assert spans_out_as_tuples(out[0]["spans_out"]) == [("TEXT", "hello", None, 1)]


def test_bbox_bands_tile_unit_interval(spark):
    """Geometry invariant: each doc's span y-bands tile [0, 1] exactly —
    consecutive bands share an edge, the first starts at 0, the last
    ends at 1 (single-column layout model)."""
    from cloud_ocr_summarizer_spark.datagen import interleaved_docs
    from cloud_ocr_summarizer_spark.operators.extract import extract_span_rows

    rows = extract_span_rows(
        interleaved_docs(spark, 40, seed=9), include_bounding_boxes=True
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["seq"], r["bbox"][0]["y"], r["bbox"][2]["y"])
        )
    assert by_doc  # non-empty corpus
    for spans in by_doc.values():
        spans.sort()
        assert spans[0][1] == 0.0
        assert spans[-1][2] == 1.0
        for (_, _, y1_prev), (_, y0_next, _) in zip(spans, spans[1:]):
            assert y1_prev == y0_next  # no gap, no overlap


def test_memoized_builder_is_per_jvm(spark, monkeypatch):
    """A ``memo_col`` builder returns the SAME Column on a second call in
    one JVM, and builds a new one under another gateway."""
    from pyspark import SparkContext

    from cloud_ocr_summarizer_spark.operators.layout import blocks_rowlocal_col

    first = blocks_rowlocal_col("spans_out")
    assert blocks_rowlocal_col("spans_out") is first
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert blocks_rowlocal_col("spans_out") is not first
    monkeypatch.undo()
    assert blocks_rowlocal_col("spans_out") is first


def test_memoized_columns_shared_by_two_branches_match_oracle(spark):
    """Both ``extract_spans`` calls build from the same cached Columns;
    one plan holding both branches still matches the oracle."""
    a = spark.createDataFrame(to_rows(EDGE_DOCS[:5]), docs_schema(SPAN_SCHEMA))
    b = spark.createDataFrame(to_rows(EDGE_DOCS[5:]), docs_schema(SPAN_SCHEMA))
    out = extract_spans(a).unionByName(extract_spans(b))
    got = {r["doc_id"]: spans_out_as_tuples(r["spans_out"]) for r in out.collect()}
    assert got == expected_by_oracle(EDGE_DOCS)
