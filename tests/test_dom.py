"""HTML DOM tokenize + boilerplate strip (operators/dom.py)."""

from pyspark.sql import types as T

from cloud_ocr_summarizer_spark.operators.dom import extract_html_main

SF = "/root/testdata/sf0.001"

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("html", T.StringType()),
    ]
)


def _run(spark, fn, rows):
    df = fn(spark.createDataFrame(rows, SCHEMA))
    return {r["doc_id"]: (r["main_text"], r["n_tokens"]) for r in df.collect()}


BASIC = (
    '<html><head><title>T</title><script>var x = 1 < 2;</script></head>'
    '<body><nav><a href="http://n">Home</a></nav>'
    '<!-- note --><div class="a"><p>hello   brave</p>'
    '<aside>ads</aside><p>new\nworld</p><br/></div>'
    '<footer>bye</footer></body></html>'
)


def test_strip_basic_both_paths(spark):
    rows = [(1, BASIC), (2, None), (3, ""), (4, "plain text, no tags")]
    out = _run(spark, extract_html_main, rows)
    assert out[1] == ("hello brave new world", 4)
    assert out[2] == ("", 0) and out[3] == ("", 0)
    assert out[4] == ("plain text, no tags", 4)


def test_stray_lt_inside_script(spark):
    # the '<' in '1 < 2' is inside <script>: dropped by containment
    html = "<body><script>if (a < b) {}</script><p>kept</p></body>"
    assert _run(spark, extract_html_main, [(1, html)])[1] == ("kept", 1)


def test_nested_container_canonical_only(spark):
    # <aside> inside <aside>: the depth counter keeps counting, so the
    # text after the inner </aside> is still boilerplate (a non-greedy
    # regex would stop at the FIRST </aside> and leak "trailing")
    html = (
        "<body><p>before</p>"
        "<aside>outer <aside>inner</aside> trailing</aside>"
        "<p>after</p></body>"
    )
    assert _run(spark, extract_html_main, [(1, html)])[1] == ("before after", 2)


def test_header_regex_does_not_eat_head_close(spark):
    # '<head...' must not match the 'header' strip nor vice versa
    html = "<head><title>t</title></head><body><header>h</header><p>ok</p></body>"
    assert _run(spark, extract_html_main, [(1, html)])[1] == ("ok", 1)


def test_golden_equal_on_synthesized_corpus(spark, oracle_equal):
    from cloud_ocr_summarizer_spark.datagen import derive_html_from_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    html = derive_html_from_documents(docs)
    res = oracle_equal(extract_html_main(html), "html_main_content", SF)
    assert res["spark_rows"] == docs.count()


def test_empty_input(spark):
    empty = spark.createDataFrame([], SCHEMA)
    assert extract_html_main(empty).count() == 0


# ---- link-density block classification (extract_html_dense) ----

from cloud_ocr_summarizer_spark.operators.dom import extract_html_dense  # noqa: E402


def _block_totals(df):
    """(dropped, blocks) summed over every document."""
    from pyspark.sql import functions as F

    row = df.agg(F.sum("n_dropped"), F.sum("n_blocks")).first()
    return row[0], row[1]


def _run_dense(spark, fn, rows):
    df = fn(spark.createDataFrame(rows, SCHEMA))
    return {
        r["doc_id"]: (r["main_text"], r["n_tokens"], r["n_blocks"], r["n_dropped"])
        for r in df.collect()
    }


DENSE = (
    "<html><head><title>t</title></head><body>"
    '<nav><a href="#">Home</a> <a href="#">About</a></nav>'
    '<p><a href="#">all</a> <a href="#">words</a> <a href="#">linked</a></p>'
    '<p><a href="#">half here</a> and half plain</p>'
    "<p>plain prose block</p>"
    "<p></p>"
    "</body></html>"
)


def test_density_rule_boundaries_both_paths(spark):
    # block 1: 3/3 linked -> dropped; block 2: 2/5 linked -> kept;
    # block 3: 0/3 -> kept; block 4: empty (0/0) -> kept, no text.
    # nav anchors are inside a boilerplate container: never counted.
    out = _run_dense(spark, extract_html_dense, [(1, DENSE)])
    assert out[1] == ("half here and half plain plain prose block", 8, 4, 1)


def test_density_exactly_half_is_kept(spark):
    # 2 of 4 tokens linked: 2*2 <= 4 -> kept (the boundary is inclusive)
    html = '<body><p><a href="#">one two</a> three four</p></body>'
    assert _run_dense(spark, extract_html_dense, [(1, html)])[1] == (
        "one two three four", 4, 1, 0,
    )


def test_density_majority_linked_is_dropped(spark):
    # 3 of 5 tokens linked: 2*3 > 5 -> dropped
    html = '<body><p><a href="#">one two three</a> four five</p></body>'
    assert _run_dense(spark, extract_html_dense, [(1, html)])[1] == ("", 0, 1, 1)


def test_dense_null_and_blockless_input(spark):
    rows = [(1, None), (2, "no tags at all"), (3, "")]
    out = _run_dense(spark, extract_html_dense, rows)
    # text outside any <p> block is not part of any block's density
    # decision and not emitted (the <p>-contents-only contract)
    assert out[1] == ("", 0, 0, 0) and out[2] == ("", 0, 0, 0)
    assert out[3] == ("", 0, 0, 0)


def test_dense_golden_equal_on_synthesized_corpus(spark, oracle_equal):
    from cloud_ocr_summarizer_spark.datagen import derive_linked_html_from_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = extract_html_dense(derive_linked_html_from_documents(docs))
    res = oracle_equal(out, "html_main_dense", SF)
    assert res["spark_rows"] == docs.count()
    # the deriver's class arithmetic guarantees some of each outcome
    dropped, blocks = _block_totals(out)
    assert 0 < dropped < blocks


# ---- text-density block classification (extract_html_density) ----

from cloud_ocr_summarizer_spark.operators.dom import extract_html_density  # noqa: E402


def test_textdensity_one_line_boundary_both_paths(spark):
    # 7 short words on one line: 7 >= 7*1 -> kept; 6 words -> dropped
    html = (
        "<body><p>one two three four five six seven</p>"
        "<p>one two three four five six</p></body>"
    )
    out = _run_dense(spark, extract_html_density, [(1, html)])
    assert out[1] == ("one two three four five six seven", 7, 2, 1)


def test_textdensity_wrapped_lines_raise_the_bar(spark):
    # 14 six-char words -> nc = 14*6+13 = 97 -> 2 lines -> need 14: kept.
    # 13 six-char words -> nc = 90 -> 2 lines -> need 14 > 13: dropped.
    w = " ".join(["sixchr"] * 14)
    v = " ".join(["sixchr"] * 13)
    html = f"<body><p>{w}</p><p>{v}</p></body>"
    out = _run_dense(spark, extract_html_density, [(1, html)])
    assert out[1] == (w, 14, 2, 1)


def test_textdensity_exact_80_char_line(spark):
    # 9 words, nc exactly 80 -> ceil(80/80) = 1 line -> 9 >= 7 kept;
    # one char more -> 2 lines -> 9 < 14 dropped
    base = ["abcdefg"] * 9  # 9*7 chars + 8 spaces = 71 -> pad first word
    w80 = " ".join(["abcdefghijklmnop"] + base[1:])  # 16+8*7+8 = 80
    w81 = " ".join(["abcdefghijklmnopq"] + base[1:])  # 81
    html = f"<body><p>{w80}</p><p>{w81}</p></body>"
    out = _run_dense(spark, extract_html_density, [(1, html)])
    assert out[1] == (w80, 9, 2, 1)


def test_textdensity_fragment_and_container_strip(spark):
    # high-density prose inside <header> never reaches a block; the
    # 2-word fragment block drops; empty block drops silently
    html = (
        "<body><header>one two three four five six seven eight</header>"
        "<p>(c) 2026</p><p></p>"
        "<p>real content sentence with exactly seven words</p></body>"
    )
    out = _run_dense(spark, extract_html_density, [(1, html)])
    assert out[1] == ("real content sentence with exactly seven words", 7, 3, 2)


def test_textdensity_null_and_blockless_input(spark):
    rows = [(1, None), (2, "free text outside blocks"), (3, "")]
    out = _run_dense(spark, extract_html_density, rows)
    assert out[1] == ("", 0, 0, 0) and out[2] == ("", 0, 0, 0)
    assert out[3] == ("", 0, 0, 0)


def test_textdensity_golden_equal_on_synthesized_corpus(spark, oracle_equal):
    from cloud_ocr_summarizer_spark.datagen import derive_density_html_from_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = extract_html_density(derive_density_html_from_documents(docs))
    res = oracle_equal(out, "html_main_density", SF)
    assert res["spark_rows"] == docs.count()
    dropped, blocks = _block_totals(out)
    assert 0 < dropped < blocks


# ---- combined Readability classifier (extract_html_classified) ----

from cloud_ocr_summarizer_spark.operators.dom import extract_html_classified  # noqa: E402


def test_classified_both_rules_fire_independently(spark):
    # b1: 8 words, majority linked -> link rule drops (text-rich);
    # b2: 2 plain words -> text rule drops (link-free);
    # b3: 7 plain words, one line -> kept;
    # b4: 8 words, exactly half linked -> both rules pass -> kept
    html = (
        "<body>"
        '<p><a href="#">one two three four five</a> six seven eight</p>'
        "<p>(c) 2026</p>"
        "<p>one two three four five six seven</p>"
        '<p><a href="#">one two three four</a> five six seven eight</p>'
        "</body>"
    )
    out = _run_dense(spark, extract_html_classified, [(1, html)])
    assert out[1] == (
        "one two three four five six seven "
        "one two three four five six seven eight",
        15, 4, 2,
    )


def test_classified_golden_equal_and_all_classes(spark, oracle_equal):
    from cloud_ocr_summarizer_spark.datagen import (
        derive_classified_html_from_documents,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = extract_html_classified(derive_classified_html_from_documents(docs))
    res = oracle_equal(out, "html_main_classified", SF)
    assert res["spark_rows"] == docs.count()
    dropped, blocks = _block_totals(out)
    # classes 0 (link-dense) and 2 (fragment) both drop; >= 2/5 of
    # blocks must go, and plenty must survive
    assert blocks * 2 // 5 <= dropped < blocks


def test_warc_envelope_round_trip(spark):
    """The container parser recovers every header field and the exact
    inner HTML; 404 records parse but are dropped by the composed job."""
    from pyspark.sql import functions as F

    from cloud_ocr_summarizer_spark.datagen import derive_html_from_documents
    from cloud_ocr_summarizer_spark.operators.warc import (
        derive_warc_records_from_documents,
        parse_warc_records,
        warc_main_text,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha bravo w{i} charlie", "srcA", "en")
         for i in (0, 1, 16, 17, 34, 35)],
        "doc_id long, text string, source string, lang string",
    )
    parsed = parse_warc_records(derive_warc_records_from_documents(docs))
    rows = {r.doc_id: r for r in parsed.collect()}
    assert set(rows) == {0, 1, 16, 17, 34, 35}
    for d, r in rows.items():
        assert r.target_uri == f"http://crawl.example/doc/{d}"
        assert r.warc_date == f"2026-01-{d % 28 + 1:02d}T00:00:00Z"
        assert r.http_status == (404 if d % 17 == 0 else 200)
        # declared Content-Length == actual HTTP message byte length
        msg = (
            ("HTTP/1.1 404 Not Found" if d % 17 == 0 else "HTTP/1.1 200 OK")
            + "\r\nContent-Type: text/html\r\n\r\n"
        )
        body = rows[d].html
        assert r.content_length == len(msg.encode()) + len(body.encode())
    # inner HTML of 200s is byte-identical to the DOM deriver's output
    expect_html = {
        r.doc_id: r.html
        for r in derive_html_from_documents(docs).collect()
    }
    for d in (1, 16, 35):
        assert rows[d].html == expect_html[d]
    assert rows[0].html == "<html><body>gone</body></html>"
    # the composed job drops the 404s
    out = warc_main_text(docs)
    kept = {r.doc_id for r in out.collect()}
    assert kept == {1, 16, 35}
    got = {r.doc_id: r.main_text for r in out.collect()}
    assert got[16] == "alpha bravo w16 charlie"


def test_warc_gzip_round_trip_lossless(spark):
    from cloud_ocr_summarizer_spark.operators.warc import (
        warc_main_text,
        warc_main_text_gz,
    )

    docs = spark.createDataFrame(
        [(i, f"word{i} text here", "s", "en") for i in range(1, 30)],
        "doc_id long, text string, source string, lang string",
    )
    plain = warc_main_text(docs)
    gz = warc_main_text_gz(docs)
    assert gz.exceptAll(plain).count() == 0
    assert plain.exceptAll(gz).count() == 0


def test_meta_robots_gate(spark):
    from pyspark.sql import functions as F

    from cloud_ocr_summarizer_spark.operators.dom import (
        inject_robots_noindex,
        meta_robots_gate,
    )

    html_df = spark.createDataFrame(
        [(i, "<html><head><title>t</title></head><body><p>x</p></body></html>")
         for i in range(26)],
        "doc_id long, html string",
    )
    marked = inject_robots_noindex(html_df, every=13)
    # the injected meta really is in the flagged docs' head
    flagged = marked.where(F.col("doc_id") % 13 == 0).collect()
    assert all('content="noindex"' in r.html for r in flagged)
    kept = {r.doc_id for r in meta_robots_gate(marked).select("doc_id").collect()}
    assert kept == {i for i in range(26) if i % 13 != 0}
    # case-insensitive and attribute-order tolerant
    tricky = spark.createDataFrame(
        [(1, '<head><META CONTENT="a,NOINDEX,b" NAME="robots"></head>')],
        "doc_id long, html string",
    )
    # attribute order swapped: name after content — regex keys on
    # name= then content=, so this variant is NOT caught; pin the
    # documented contract (name-then-content, any case)
    ordered = spark.createDataFrame(
        [(1, '<head><meta NAME="robots" Content="x,NoIndex"></head>'),
         (2, '<head><meta name="robots" content="index,follow"></head>')],
        "doc_id long, html string",
    )
    assert {r.doc_id for r in meta_robots_gate(ordered).collect()} == {2}
    assert meta_robots_gate(tricky).count() == 1  # documented miss


def test_warc_malformed_record_surfaces_null_not_garbage(spark):
    """A record without the CRLFCRLF envelope split parses to NULL
    body/status fields (countable) instead of garbage that the status
    filter silently drops (the audit-over-silence policy)."""
    from cloud_ocr_summarizer_spark.operators.warc import (
        parse_warc_records,
        warc_malformed_audit,
    )

    good = (
        "WARC/1.0\r\nWARC-Record-ID: <urn:doc:7>\r\n"
        "WARC-Target-URI: http://x/7\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n"
        "Content-Length: 20\r\n\r\n"
        "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html>hi</html>"
    )
    no_envelope = "WARC/1.0\nWARC-Record-ID: <urn:doc:8>\nno crlfcrlf at all"
    no_http_split = (
        "WARC/1.0\r\nWARC-Record-ID: <urn:doc:9>\r\n\r\n"
        "HTTP/1.1 200 OK\r\nContent-Type: text/html"  # no header/body split
    )
    df = spark.createDataFrame(
        [(g.encode(),) for g in (good, no_envelope, no_http_split)],
        "payload binary",
    )
    rows = {r.doc_id: r for r in parse_warc_records(df).collect()}
    assert rows[7].http_status == 200 and rows[7].html == "<html>hi</html>"
    assert rows[8].http_status is None and rows[8].html is None
    assert rows[9].http_status == 200 and rows[9].html is None
    audit = warc_malformed_audit(df).collect()[0]
    assert (audit.n_records, audit.n_status_null, audit.n_html_null) == (3, 1, 2)


def test_warc_garbage_numeric_headers_null_not_crash(spark):
    """Non-numeric Content-Length, an over-bigint record id, and a
    non-numeric status line must parse as NULL fields under ANSI mode —
    one corrupt crawl record may never abort the whole job."""
    from cloud_ocr_summarizer_spark.operators.warc import parse_warc_records

    garbage = (
        "WARC/1.0\r\nWARC-Record-ID: <urn:doc:99999999999999999999999>\r\n"
        "WARC-Target-URI: http://x/g\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n"
        "Content-Length: abc\r\n\r\n"
        "HTTP/1.1 2x0 Weird\r\nContent-Type: text/html\r\n\r\n<html>g</html>"
    )
    df = spark.createDataFrame([(garbage.encode(),)], "payload binary")
    row = parse_warc_records(df).collect()[0]
    assert row.doc_id is None
    assert row.content_length is None
    assert row.http_status is None
    assert row.html == "<html>g</html>"


# ---- the Arrow-native kernel: parity fuzz vs a per-doc Python model ----

import random  # noqa: E402
import re  # noqa: E402
from collections import Counter  # noqa: E402

import pyarrow as pa  # noqa: E402

from cloud_ocr_summarizer_spark.operators.dom import (  # noqa: E402
    BOILER_CONTAINERS,
    _dom_batch,
    _rule_readability,
    _utf8_buffers,
)

# the tokenizer grammar the kernel implements, as a Python regex
TOKEN_RE = r"(?s)<(/?)([a-zA-Z][a-zA-Z0-9]*)[^>]*>|([^<]+)"
COMMENT_RE = r"(?s)<!--.*?-->"


def _td_sparse(wc, lwc, tc):
    nc = tc + max(wc - 1, 0)
    return wc < 7 * max((nc + 79) // 80, 1)


MODEL_RULES = {
    "link": lambda wc, lwc, tc: 2 * lwc > wc,
    "density": _td_sparse,
    "readability": lambda wc, lwc, tc: 2 * lwc > wc or _td_sparse(wc, lwc, tc),
}


def _model(html, rule):
    """One document through re.finditer(TOKEN_RE) and explicit open/close
    bookkeeping.  ``depth[name]`` is the height of ``name`` on the open
    stack; an unmatched close takes it below zero (a close is counted,
    never matched against a specific open), so a later open of that
    name is balanced by it.  <p> tags inside boilerplate open no block.
    ``rule`` None is the strip: every non-boilerplate word survives."""
    depth = Counter()
    blocks, words_out = [], []  # block: [wc, lwc, tc, words]
    for m in re.finditer(TOKEN_RE, re.sub(COMMENT_RE, " ", html or "")):
        slash, name, text = m.groups()
        boiler = any(depth[c] > 0 for c in BOILER_CONTAINERS)
        if name is not None:
            name = name.lower()
            if name == "p" and boiler:
                continue
            depth[name] += -1 if slash else 1
            if name == "p" and not slash:
                blocks.append([0, 0, 0, []])
            continue
        words = text.split()
        if boiler:
            continue
        if rule is None:
            words_out += words
        elif depth["p"] > 0:
            b = blocks[-1]
            b[0] += len(words)
            b[1] += len(words) if depth["a"] > 0 else 0
            b[2] += sum(map(len, words))
            b[3] += words
    if rule is None:
        return (" ".join(words_out), len(words_out))
    dropped = [MODEL_RULES[rule](wc, lwc, tc) for wc, lwc, tc, _ in blocks]
    kept = [w for b, d in zip(blocks, dropped) if not d for w in b[3]]
    return (" ".join(kept), len(kept), len(blocks), sum(dropped))


HOSTILE_ATOMS = [
    "<p>", "</p>", "<P class=x>", "<p/>", "<a href='#'>", "</a>", "<A>", "</A >",
    "<nav>", "</nav>", "<NaV>", "<header>", "</header>", "<head>", "</head>",
    "<aside>", "</Aside>", "<script>", "</script>", "<style>", "</style>",
    "<footer>", "<Footer id=1>", "</footer>", "<headerx>", "<p1>", "<pre>",
    "<!-- c -->", "<!--", "-->", "<!---->", "<", ">", "< p>", "</ p>", "</",
    "<a <b>", "<<p>>", "<1>", "<br/>", "<é>", "x>y", "a<b",
    " ", "  ", "\n", "\t", "\xa0", "\x1c", "\x85", "　", "​", " ",
    "word", "alpha beta", "supercalifragilistic", "é", "日本語", "😀", "naïve",
    "one two three four five six seven eight",
]


def _hostile_rows(seed, n):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        r = rng.random()
        html = None if r < 0.03 else "" if r < 0.06 else "".join(
            rng.choices(HOSTILE_ATOMS, k=rng.randrange(0, 60))
        )
        rows.append((i, html))
    return rows


def test_kernel_parity_fuzz_vs_python_model(spark):
    """All four canonical operators vs the per-doc model on a seeded
    hostile corpus: stray '<', unterminated comments, swallowed tags,
    spaced closes, mixed case, unmatched closes, Unicode whitespace
    (\\xa0, \\x1c, \\x85, U+3000 split words; U+200B does not),
    multi-byte UTF-8, null and empty documents."""
    rows = _hostile_rows(20261017, 800)
    df = spark.createDataFrame(rows, SCHEMA).repartition(3)
    ops = {
        None: extract_html_main,
        "link": extract_html_dense,
        "density": extract_html_density,
        "readability": extract_html_classified,
    }
    for rule, fn in ops.items():
        got = {r["doc_id"]: tuple(r)[1:] for r in fn(df).collect()}
        want = {i: _model(h, rule) for i, h in rows}
        assert got == want, fn.__name__
    # the corpus reaches every branch of the model
    outcomes = [_model(h, "readability") for _, h in rows]
    assert any(o[3] for o in outcomes) and any(o[1] for o in outcomes)
    assert any(o[2] > o[3] for o in outcomes)


# ---- the kernel's input shapes (no Spark: _dom_batch called directly) --


def _batch(ids, html, typ=pa.string()):
    return pa.RecordBatch.from_arrays(
        [pa.array(ids, pa.int64()), pa.array(html, typ)], names=["doc_id", "html"]
    )


def _rows(rb, rule=_rule_readability):
    return [tuple(r.values()) for r in _dom_batch(rb, rule).to_pylist()]


def test_kernel_null_and_empty_batches():
    for html in ([None, None, None], ["", "", ""], [None, "", None]):
        assert _rows(_batch([7, 3, 5], html)) == [
            (7, "", 0, 0, 0), (3, "", 0, 0, 0), (5, "", 0, 0, 0),
        ]
        assert _rows(_batch([7, 3, 5], html), None) == [(7, "", 0), (3, "", 0), (5, "", 0)]


def test_kernel_batch_without_tokens():
    # a stray '<' is skipped: no tag and no text token in the batch
    rb = _batch([4, 2, 9, 1], ["<", "<<", "<<<", None])
    assert _rows(rb) == [
        (4, "", 0, 0, 0), (2, "", 0, 0, 0), (9, "", 0, 0, 0), (1, "", 0, 0, 0),
    ]
    assert _rows(rb, None) == [(4, "", 0), (2, "", 0), (9, "", 0), (1, "", 0)]
    # tags but no words: blocks exist, every one is dropped
    assert _rows(_batch([1, 2], ["<p></p><p> </p>", "<nav><p>x</p></nav>"])) == [
        (1, "", 0, 2, 2), (2, "", 0, 0, 0),
    ]


SHAPE_HTML = [
    "<p>one two three four five six seven</p>",
    None,
    "<nav>skip</nav><p>é ü ï ö ä ß ç</p><p>(c)</p>",
    "",
    "<header><p>x</p></header>free <p>a b c d e f g</p>",
]
SHAPE_WANT = [
    (10, "one two three four five six seven", 7, 1, 0),
    (11, "", 0, 0, 0),
    (12, "é ü ï ö ä ß ç", 7, 2, 1),
    (13, "", 0, 0, 0),
    (14, "a b c d e f g", 7, 1, 0),
]


def test_kernel_sliced_batch_keeps_row_alignment():
    rb = _batch(list(range(10, 15)), SHAPE_HTML)
    assert _rows(rb) == SHAPE_WANT
    for start in range(1, 5):
        sliced = rb.slice(start, 5 - start)
        assert sliced.column("html").offset == start
        assert _rows(sliced) == SHAPE_WANT[start:]
    # the buffer view itself honours the slice offset
    offsets, data = _utf8_buffers(rb.column("html").slice(2, 2))
    assert data[offsets[0] : offsets[1]].tobytes().decode() == SHAPE_HTML[2]
    assert offsets[2] == offsets[1]


def test_kernel_large_string_html():
    rb = _batch(list(range(10, 15)), SHAPE_HTML, pa.large_string())
    assert _rows(rb) == SHAPE_WANT
    assert _rows(rb.slice(2, 3)) == SHAPE_WANT[2:]
    out = _dom_batch(rb, None)
    assert out.schema.field("main_text").type == pa.string()
    assert out.column("doc_id").to_pylist() == list(range(10, 15))
