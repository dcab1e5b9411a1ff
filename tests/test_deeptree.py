"""Deep-tree flatten (VERDICT r2 item 5): the 4-level nested walk
(pages -> blocks -> paragraphs -> words -> symbols) of the
chained-explode extractor, golden-checked against the pure-Python
reference walk."""

import pytest

from cloud_ocr_summarizer_spark.operators.deeptree import (
    DEEP_TREE_SCHEMA,
    derive_deep_tree_from_documents,
    extract_deep_tree,
)
from cloud_ocr_summarizer_spark.oracle import deep_tree_blocks


def word(w: str) -> dict:
    return {"symbols": list(w)}


def para(*words: str) -> dict:
    return {"words": [word(w) for w in words]}


def block(kind: str, *paras: dict) -> dict:
    return {"block_type": kind, "paragraphs": list(paras)}


DOCS = [
    # 2 pages, multi-block, multi-paragraph
    (
        "d1",
        [
            {
                "blocks": [
                    block("TEXT", para("hello", "deep"), para("tree")),
                    block("TABLE", para("row1"), para("row2"), para("row3")),
                ]
            },
            {"blocks": [block("TEXT", para("second", "page"))]},
        ],
    ),
    # edge shapes: empty pages, page with no blocks, block with empty
    # paragraph, word with no symbols, whitespace-bearing symbols (the
    # strip points must fire)
    ("d2", []),
    ("d3", [{"blocks": []}]),
    ("d4", [{"blocks": [block("TEXT", {"words": []})]}]),
    ("d5", [{"blocks": [block("TEXT", para(""), para("x"))]}]),
    (
        "d6",
        [{"blocks": [block("PICTURE", {"words": [{"symbols": [" ", "a", " "]}]})]}],
    ),
]


@pytest.fixture(scope="module")
def tree(spark):
    return spark.createDataFrame(
        DOCS, f"doc_id string, pages {DEEP_TREE_SCHEMA}"
    )


def expected_rows():
    rows = []
    for doc_id, pages in DOCS:
        rows.extend(deep_tree_blocks(doc_id, pages))
    return sorted(rows)


def _got(df):
    return sorted(
        (r["doc_id"], r["page_number"], r["block_seq"], r["kind"], r["text"])
        for r in df.collect()
    )


def test_extract_deep_tree_matches_oracle_walk(spark, tree):
    assert _got(extract_deep_tree(tree)) == expected_rows()


def test_deep_tree_strip_points():
    # the three separator/strip rules straight from the reference walk
    rows = deep_tree_blocks(
        "d",
        [
            {
                "blocks": [
                    block(
                        "TEXT",
                        {"words": [{"symbols": ["a", "b"]}, {"symbols": ["c"]}]},
                        {"words": [{"symbols": [" ", "x"]}]},
                    )
                ]
            }
        ],
    )
    # word join '' -> "ab" "c"; paragraph join ' ' -> "ab c";
    # second paragraph " x" strips to "x"; block join '\n'
    assert rows == [("d", 1, 1, "TEXT", "ab c\nx")]


def test_unicode_whitespace_symbols_stay(spark):
    """The engine's whitespace contract is ASCII (Java \\s): a NBSP
    symbol at a paragraph edge must survive the strip in the extractor
    AND the Python oracle walk — bare str.strip() would eat it in the
    oracle only, silently desyncing the two."""
    doc = [
        {
            "blocks": [
                block("TEXT", {"words": [{"symbols": [" ", "x"]}]})
            ]
        }
    ]
    tree = spark.createDataFrame(
        [("u1", doc)], f"doc_id string, pages {DEEP_TREE_SCHEMA}"
    )
    want = [("u1", 1, 1, "TEXT", " x")]
    assert _got(extract_deep_tree(tree)) == want
    assert deep_tree_blocks("u1", doc) == want


def test_derived_tree_twins_agree(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha bravo charlie delta echo foxtrot golf hotel india "
                "juliet kilo lima mike november oscar papa quebec romeo"),
            (2, "one two three"),
            (3, ""),
            (4, "   "),
            (5, "single"),
        ],
        "doc_id long, text string",
    )
    tree = derive_deep_tree_from_documents(docs)
    a = _got(extract_deep_tree(tree))
    # 18 words -> 5 paragraphs -> 2 blocks -> 1 page; doc 2: 1 block
    d1 = [r for r in a if r[0] == 1]
    assert [(r[1], r[2]) for r in d1] == [(1, 1), (1, 2)]
    assert d1[0][4] == (
        "alpha bravo charlie delta\necho foxtrot golf hotel\n"
        "india juliet kilo lima"
    )
    assert d1[1][4] == "mike november oscar papa\nquebec romeo"
    assert not [r for r in a if r[0] in (3, 4)]  # empty docs -> no rows
    # python-oracle parity for the derived tree too
    pdocs = {r["doc_id"]: r["pages"] for r in tree.collect()}

    def to_plain(obj):
        if hasattr(obj, "asDict"):
            return {k: to_plain(v) for k, v in obj.asDict().items()}
        if isinstance(obj, list):
            return [to_plain(x) for x in obj]
        return obj

    exp = []
    for did, pages in pdocs.items():
        exp.extend(deep_tree_blocks(did, to_plain(pages)))
    assert a == sorted(exp)


def test_null_elements_match_jvm_twin(spark):
    """NULL handling of the JVM walk, pinned row for row: NULL pages
    vanish (posexplode of NULL blocks), NULL blocks emit a (NULL kind,
    NULL text) row, NULL paragraphs arrays give NULL text, and NULL
    paras/words/symbols are skipped exactly like array_join skips NULL
    elements (the empty paragraph's '' joins, then the block strips)."""
    sym = lambda *s: {"symbols": list(s)}  # noqa: E731
    word_rows = [
        (
            1,
            [
                None,  # null page: contributes nothing
                {
                    "blocks": [
                        None,  # null block: row with NULL kind/text
                        {"block_type": "TEXT", "paragraphs": None},
                        {
                            "block_type": "TEXT",
                            "paragraphs": [
                                None,  # skipped
                                {"words": None},  # skipped
                                {"words": [None, sym("a", None, "b"),
                                           {"symbols": None}]},
                                {"words": []},  # empty para -> ''
                            ],
                        },
                    ]
                },
            ],
        )
    ]
    df = spark.createDataFrame(
        word_rows, f"doc_id long, pages {DEEP_TREE_SCHEMA}"
    )
    got = sorted(map(tuple, extract_deep_tree(df).collect()))
    assert got == [
        (1, 2, 1, None, None),  # the null block row
        (1, 2, 2, "TEXT", None),  # null paragraphs array
        (1, 2, 3, "TEXT", "ab"),  # null para/word/symbols skipped
    ]


# --------------------------------------------------------------------------
# detailed mode: per-level bounding boxes (VERDICT r3 missing item 3)
# --------------------------------------------------------------------------
from cloud_ocr_summarizer_spark.operators.deeptree import (  # noqa: E402
    DEEP_TREE_GEOM_SCHEMA,
    derive_deep_tree_geometry_from_documents,
    extract_deep_tree_geometry,
)
from cloud_ocr_summarizer_spark.oracle import deep_tree_geometry_rows  # noqa: E402


def rect(x0: int, y0: int, x1: int, y1: int) -> list[dict]:
    return [
        {"x": x0, "y": y0},
        {"x": x1, "y": y0},
        {"x": x1, "y": y1},
        {"x": x0, "y": y1},
    ]


def gword(w: str, bbox: list[dict]) -> dict:
    return {"bbox": bbox, "symbols": list(w)}


def gpara(bbox: list[dict], *words: dict) -> dict:
    return {"bbox": bbox, "words": list(words)}


def gblock(kind: str, bbox: list[dict], *paras: dict) -> dict:
    return {"block_type": kind, "bbox": bbox, "paragraphs": list(paras)}


GEOM_DOCS = [
    (
        "g1",
        [
            {
                "blocks": [
                    gblock(
                        "TEXT",
                        rect(0, 0, 1000, 480),
                        gpara(
                            rect(5, 0, 995, 150),
                            gword("hi", rect(10, 10, 60, 140)),
                            gword("there", rect(260, 10, 385, 140)),
                        ),
                        gpara(rect(5, 160, 995, 310), gword("x", rect(10, 170, 35, 300))),
                    ),
                    gblock(
                        "TABLE",
                        rect(0, 500, 1000, 980),
                        gpara(rect(5, 500, 995, 650), gword("row", rect(10, 510, 85, 640))),
                    ),
                ]
            },
            {"blocks": [gblock("TEXT", rect(0, 0, 1000, 480))]},
        ],
    ),
    ("g2", []),
    ("g3", [{"blocks": []}]),
    # strip points still fire in the para/block texts of geometry rows
    (
        "g4",
        [
            {
                "blocks": [
                    gblock(
                        "TEXT",
                        rect(0, 0, 1000, 480),
                        gpara(
                            rect(5, 0, 995, 150),
                            gword(" a", rect(10, 10, 60, 140)),
                        ),
                    )
                ]
            }
        ],
    ),
]


@pytest.fixture(scope="module")
def geom_tree(spark):
    return spark.createDataFrame(
        GEOM_DOCS, f"doc_id string, pages {DEEP_TREE_GEOM_SCHEMA}"
    )


GEOM_COLS = (
    "doc_id level page_number block_seq para_seq word_seq text "
    "x0 y0 x1 y1 bbox_area"
).split()


def _geom_got(df):
    return sorted(tuple(r[c] for c in GEOM_COLS) for r in df.collect())


def test_extract_deep_tree_geometry_matches_oracle_walk(spark, geom_tree):
    want = sorted(
        row for doc_id, pages in GEOM_DOCS
        for row in deep_tree_geometry_rows(doc_id, pages)
    )
    assert _geom_got(extract_deep_tree_geometry(geom_tree)) == want


def test_geometry_block_rows_equal_plain_extractor(spark):
    """Detailed mode is a superset: its block-level rows must carry the
    same keys/kind-free text as extract_deep_tree on the same documents
    (the reference's two output modes share the block assembly,
    vision_processor.py:316-325)."""
    docs = spark.createDataFrame(
        [
            (1, "alpha bravo charlie delta echo foxtrot golf hotel india "
                "juliet kilo lima mike"),
            (2, "one two three"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    plain = {
        (r["doc_id"], r["page_number"], r["block_seq"]): r["text"]
        for r in extract_deep_tree(derive_deep_tree_from_documents(docs)).collect()
    }
    detailed = extract_deep_tree_geometry(
        derive_deep_tree_geometry_from_documents(docs)
    )
    got = {
        (r["doc_id"], r["page_number"], r["block_seq"]): r["text"]
        for r in detailed.where("level = 'block'").collect()
    }
    assert got == plain


def test_geometry_containment_invariants(spark):
    """Derived boxes nest: every word box inside its paragraph's box,
    every paragraph box inside its block's slot; areas positive; words
    rejoin to the paragraph text."""
    docs = spark.createDataFrame(
        [(7, "the quick brown fox jumps over a lazy dog near the riverbank "
             "while seventeen extraordinarily long hippopotamuses watch")],
        "doc_id long, text string",
    )
    rows = extract_deep_tree_geometry(
        derive_deep_tree_geometry_from_documents(docs)
    ).collect()
    by_level: dict = {"block": {}, "paragraph": {}, "word": []}
    for r in rows:
        key = (r["page_number"], r["block_seq"], r["para_seq"])
        if r["level"] == "block":
            by_level["block"][key[:2]] = r
        elif r["level"] == "paragraph":
            by_level["paragraph"][key] = r
        else:
            by_level["word"].append(r)
        assert r["bbox_area"] == (r["x1"] - r["x0"]) * (r["y1"] - r["y0"]) > 0
    assert by_level["block"] and by_level["paragraph"] and by_level["word"]
    for w in by_level["word"]:
        p = by_level["paragraph"][(w["page_number"], w["block_seq"], w["para_seq"])]
        b = by_level["block"][(w["page_number"], w["block_seq"])]
        assert p["x0"] <= w["x0"] <= w["x1"] <= p["x1"]
        assert p["y0"] <= w["y0"] <= w["y1"] <= p["y1"]
        assert b["y0"] <= p["y0"] <= p["y1"] <= b["y1"] + 0  # para band in block
    # words rejoin to the paragraph text
    for key, p in by_level["paragraph"].items():
        words = sorted(
            (w["word_seq"], w["text"])
            for w in by_level["word"]
            if (w["page_number"], w["block_seq"], w["para_seq"]) == key
        )
        assert " ".join(t for _, t in words) == p["text"]


def test_geometry_extractor_plan_is_shuffle_free(spark, geom_tree):
    plan = extract_deep_tree_geometry(geom_tree)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
