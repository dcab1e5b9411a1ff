"""Seeded-random fuzz: the round-2 curation operators vs pure-Python
models (same style as the language-ID / repetition fuzz suites — the
synthetic driver corpus exercises only a narrow slice of inputs)."""

import hashlib
import random
import re

import pytest
from pyspark.sql import functions as F


def _h31(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:14], 16) % 2147483647


@pytest.fixture(scope="module")
def rng():
    return random.Random(123)


def test_redact_pii_fuzz_vs_python(spark, rng):
    from cloud_ocr_summarizer_spark.operators.textstats import (
        PII_PATTERNS,
        redact_pii,
    )

    pieces = [
        "plain", "words", "a.b@c.de", "x@y.io", "555-123-4567", "12-34",
        "1.2.3.4", "999.999.999.999", "not@an", "@@", "a@b.c", "end.",
        "10.0.0.1:8080", "u+tag@d-e.org", "123-456-7890x", "",
    ]
    rows = []
    for i in range(300):
        t = " ".join(rng.choices(pieces, k=rng.randrange(0, 10)))
        rows.append((i, t if rng.random() > 0.05 else None))
    df = spark.createDataFrame(rows, "doc_id int, text string")

    def py_model(text):
        out = text
        counts = []
        for _, pattern, token in PII_PATTERNS:
            counts.append(len(re.findall(pattern, out)))
            out = re.sub(pattern, token, out)
        return (out, *counts)

    got = {
        r["doc_id"]: (r["redacted"], r["n_email"], r["n_phone"], r["n_ipv4"])
        for r in redact_pii(df).collect()
    }
    for i, t in rows:
        if t is None:
            assert got[i][0] is None
            continue
        assert got[i] == py_model(t), (i, t)


def test_pack_sequences_fuzz_vs_python(spark, rng):
    from cloud_ocr_summarizer_spark.operators.sampling import pack_sequences

    rows = [(i, rng.randrange(1, 300)) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id int, n_tokens int")
    budget, n_buckets = 100, 16

    got = {
        r["doc_id"]: (r["bucket"], r["bin_id"], r["fill_pos"])
        for r in pack_sequences(df, budget=budget, n_buckets=n_buckets).collect()
    }

    buckets = {}
    for i, nt in rows:
        h = _h31(f"pack:{i}")
        buckets.setdefault(h % n_buckets, []).append((h, i, nt))
    want = {}
    for b, members in buckets.items():
        members.sort()
        cum = 0
        for _, i, nt in members:
            want[i] = (b, cum // budget, cum)
            cum += nt
    assert got == want


def test_ngram_contamination_fuzz_vs_python(spark, rng):
    from cloud_ocr_summarizer_spark.operators.dedup import ngram_contamination

    vocab = ["aa", "bb", "cc", "dd", "ee", "ff", "gg"]
    corpus_rows = [
        (i, " ".join(rng.choices(vocab, k=rng.randrange(0, 9))))
        for i in range(200)
    ]
    bench_rows = [
        (1000 + i, " ".join(rng.choices(vocab, k=rng.randrange(2, 7))))
        for i in range(20)
    ]
    n = 2

    def grams(text):
        w = text.split()
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    bench_grams = set().union(*(grams(t) for _, t in bench_rows))
    want = {}
    for i, t in corpus_rows:
        g = grams(t)
        if g:
            hits = len(g & bench_grams)
            want[i] = (len(g), hits, hits > 0)

    corpus = spark.createDataFrame(corpus_rows, "doc_id int, text string")
    bench = spark.createDataFrame(bench_rows, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["n_grams"], r["n_hit_grams"], r["contaminated"])
        for r in ngram_contamination(corpus, bench, n=n).collect()
    }
    assert got == want


def test_html_dense_fuzz_vs_python(spark, rng):
    """Link-density classifier vs a directly-computed model: random
    block structures (word/link counts, whitespace noise, attributes,
    self-closing tags, boiler wrappers) rendered to HTML, expected
    output derived from the structure — never from parsing."""
    from cloud_ocr_summarizer_spark.operators.dom import extract_html_dense

    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    rows, expected = [], {}
    for i in range(250):
        blocks, html_parts, kept_words = [], [], []
        for _ in range(rng.randrange(0, 6)):
            n = rng.randrange(0, 7)
            n_link = rng.randrange(0, n + 1)
            toks = [rng.choice(words) for _ in range(n)]
            linked, plain = toks[:n_link], toks[n_link:]
            attr = rng.choice(["", ' class="c"', " id=z"])
            inner = ""
            if linked:
                inner += f'<a href="#">{" ".join(linked)}</a>'
            if plain:
                inner += ("  " if linked else "") + " ".join(plain)
            html_parts.append(f"<p{attr}>{inner}</p>")
            blocks.append((n, n_link))
            if not 2 * n_link > n:
                kept_words.extend(toks)
        noise = rng.choice(
            ["", "<nav><a href='#'>x y z</a></nav>", "<br/>", "<!-- c -->"]
        )
        html = "<body>" + noise + "".join(html_parts) + "</body>"
        rows.append((i, html))
        n_dropped = sum(1 for n, l in blocks if 2 * l > n)
        expected[i] = (
            " ".join(kept_words),
            len(kept_words),
            len(blocks),
            n_dropped,
        )

    df = spark.createDataFrame(rows, "doc_id long, html string")
    got = {
        r["doc_id"]: (r["main_text"], r["n_tokens"], r["n_blocks"], r["n_dropped"])
        for r in extract_html_dense(df).collect()
    }
    assert got == expected


def test_pdf_stream_fuzz_vs_python(spark, rng):
    """PDF content-stream parser vs a directly-computed model: random
    operator sequences (Tm resets, Td chains of varying length, comment
    noise, escaped strings, multi-digit negatives) rendered to bytes,
    expected spans derived from the structure — never from parsing.
    Canonical Arrow path only (the JVM twin is contracted to the
    derived fixed block shape, not arbitrary interleavings)."""
    from cloud_ocr_summarizer_spark.operators.pdfstream import (
        parse_pdf_text_spans,
    )

    words = ["alpha", "beta", "gamma", "de lta", "e(f)g", "h\\i"]

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    rows, expected = [], {}
    for i in range(200):
        parts, spans = [], []
        x = y = 0
        for _ in range(rng.randrange(0, 5)):
            parts.append("BT")
            x = y = 0  # BT resets the text matrix (ISO 32000 §9.4.1)
            if rng.random() < 0.9:  # occasionally a Tm-less text object
                x, y = rng.randrange(-500, 500), rng.randrange(-500, 500)
                parts.append(f"1 0 0 1 {x} {y} Tm")
            for _ in range(rng.randrange(1, 4)):
                if rng.random() < 0.5:
                    dx, dy = rng.randrange(-30, 30), rng.randrange(-30, 30)
                    x, y = x + dx, y + dy
                    parts.append(f"{dx} {dy} Td")
                t = " ".join(
                    rng.choice(words) for _ in range(rng.randrange(1, 4))
                )
                parts.append(f"({esc(t)}) Tj")
                spans.append((len(spans), x, y, t))
            parts.append("ET")
            if rng.random() < 0.3:
                parts.append("% noise (with parens) and Tj BT tokens")
        rows.append((i, ("\n".join(parts)).encode()))
        expected[i] = spans
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got: dict[int, list] = {i: [] for i in expected}
    for r in parse_pdf_text_spans(df).collect():
        got[r["doc_id"]].append((r["seq"], r["x"], r["y"], r["line_text"]))
    for i in got:
        got[i].sort()
    assert got == expected
    assert sum(len(v) for v in expected.values()) > 300  # fuzz actually fuzzed


def test_html_classified_fuzz_vs_python(spark, rng):
    """Combined Readability classifier vs a directly-computed model:
    the same random block structures as the dense fuzz, but the model
    applies BOTH integer rules (2*link > total; wc < 7*ceil(nc/80))
    to decide each block's fate — never by parsing."""
    from cloud_ocr_summarizer_spark.operators.dom import extract_html_classified

    # mixed word lengths so the wrapped-line arithmetic is exercised
    words = ["alpha", "beta", "gamma", "supercalifragilistic", "eps", "zz"]
    rows, expected = [], {}
    for i in range(250):
        blocks, html_parts = [], []
        kept_words = []
        for _ in range(rng.randrange(0, 6)):
            n = rng.randrange(0, 12)
            n_link = rng.randrange(0, n + 1)
            toks = [rng.choice(words) for _ in range(n)]
            linked, plain = toks[:n_link], toks[n_link:]
            attr = rng.choice(["", ' class="c"', " id=z"])
            inner = ""
            if linked:
                inner += f'<a href="#">{" ".join(linked)}</a>'
            if plain:
                inner += ("  " if linked else "") + " ".join(plain)
            html_parts.append(f"<p{attr}>{inner}</p>")
            nc = sum(len(t) for t in toks) + max(n - 1, 0)
            lines = max((nc + 79) // 80, 1)
            dropped = (2 * n_link > n) or (n < 7 * lines)
            blocks.append(dropped)
            if not dropped:
                kept_words.extend(toks)
        noise = rng.choice(
            ["", "<header><a href='#'>x y z</a></header>", "<br/>", "<!-- c -->"]
        )
        html = "<body>" + noise + "".join(html_parts) + "</body>"
        rows.append((i, html))
        expected[i] = (
            " ".join(kept_words),
            len(kept_words),
            len(blocks),
            sum(blocks),
        )

    df = spark.createDataFrame(rows, "doc_id long, html string")
    got = {
        r["doc_id"]: (r["main_text"], r["n_tokens"], r["n_blocks"], r["n_dropped"])
        for r in extract_html_classified(df).collect()
    }
    assert got == expected
    # both rules must actually fire somewhere in the corpus
    assert any(v[3] for v in expected.values())
    assert any(v[1] for v in expected.values())


def test_word_level_gates_fuzz_vs_python(spark, rng):
    """readability_profile, gopher_quality_rules, and dedup_intra_doc vs
    directly-computed models over random word soups (mixed lengths,
    digits, no-vowel words, planted '.' sentence breaks, planted chunk
    repeats)."""
    from cloud_ocr_summarizer_spark.operators.textstats import (
        dedup_intra_doc,
        gopher_quality_rules,
        readability_profile,
    )

    lex = ["the", "zz", "beautiful", "12345", "rhythm", "cat", "of",
           "supercalifragilistic", "a", "to"]
    rows = []
    for i in range(200):
        words = [rng.choice(lex) for _ in range(rng.randrange(0, 40))]
        if words and rng.random() < 0.5:  # planted repeat region
            words = words + words[: rng.randrange(1, len(words) + 1)]
        toks = list(words)
        if toks and rng.random() < 0.5:  # planted sentence break token
            toks.insert(rng.randrange(len(toks) + 1), ".")
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def vg(w):
        import re as _re
        return max(1, len([g for g in _re.split(r"[^aeiouy]+", w.lower()) if g]))

    # readability model
    want_r = {}
    for i, text in rows:
        toks = [t for t in text.replace(".", " ").split() if t]
        segs = [s for s in __import__("re").split(r"[.!?]+", text)
                if s.split()]
        w, s_, sy = len(toks), max(len(segs), 1), sum(vg(t) for t in toks)
        fk = (390 * w // s_) + (11800 * sy // w) - 15590 if w else None
        want_r[i] = (w, s_, sy, fk)
    got_r = {r["doc_id"]: tuple(r)[1:] for r in readability_profile(df).collect()}
    assert got_r == want_r

    # gopher model (min_words=10 so the band splits the fuzz corpus)
    want_g = {}
    for i, text in rows:
        toks = text.split()
        w = len(toks)
        chars = sum(len(t) for t in toks)
        alpha = sum(1 for t in toks if __import__("re").search("[A-Za-z]", t))
        stops = len({s for s in ("the", "and", "of", "a", "to", "in")
                     if s in [t.lower() for t in toks]})
        want_g[i] = (w >= 10 and w <= 100000 and 3 * w <= chars
                     and chars <= 10 * w and 5 * alpha >= 4 * w and stops >= 2)
    got_g = {
        r["doc_id"]: r["passes_gopher"]
        for r in gopher_quality_rules(df, min_words=10).collect()
    }
    assert got_g == want_g
    assert any(want_g.values()) and not all(want_g.values())

    # intra-doc dedup model
    want_d = {}
    for i, text in rows:
        toks = text.split()
        chunks = [" ".join(toks[j:j + 8]) for j in range(0, len(toks), 8)]
        seen, kept = set(), []
        for c in chunks:
            if c not in seen:
                seen.add(c)
                kept.append(c)
        want_d[i] = (" ".join(kept), len(chunks), len(chunks) - len(kept))
    got_d = {r["doc_id"]: tuple(r)[1:] for r in dedup_intra_doc(df).collect()}
    assert got_d == want_d
    assert any(v[2] for v in want_d.values())  # repeats actually fired


def test_canonicalize_url_fuzz_vs_python(spark, rng):
    """Seeded-random URL noise vs a pure-Python model of the SAME
    normal form (implemented with re, sharing no code with the Spark
    regexp chain)."""
    import re as _re

    from cloud_ocr_summarizer_spark.operators.urls import canonicalize_url_col

    def py_canonical(u: str) -> str:
        u = _re.sub(r"#.*$", "", u)
        m = _re.match(r"^([a-z]+://[^/?#]*)", u)
        if m:
            u = m.group(1).lower() + u[m.end():]
        u = _re.sub(r"^(http://[^/:?#]+):80([/?]|$)", r"\1\2", u)
        u = _re.sub(r"^(https://[^/:?#]+):443([/?]|$)", r"\1\2", u)
        u = _re.sub(r"([?&])utm_[^&#]*", r"\1", u)
        u = _re.sub(r"\?&", "?", u)
        u = _re.sub(r"&&+", "&", u)
        u = _re.sub(r"[?&]$", "", u)
        u = _re.sub(r"(://[^/]+/.+?)/$", r"\1", u)
        return u

    schemes = ["http://", "https://"]
    hosts = ["h.com", "SUB.Example-3.ORG", "a-b.co", "X9.NET"]
    ports = ["", ":80", ":8080", ":443"]
    # "" covers the no-path authority form: default-port strip must fire
    # before a query or end-of-string, not only before "/"
    paths = ["", "/", "/a", "/a/b.html", "/p/7.html/", "/deep/x/y/"]
    queries = ["", "?utm_source=s", "?keep=1", "?utm_a=1&keep=2",
               "?keep=1&utm_b=2", "?utm_a=1&utm_b=2", "?a=1&b=2"]
    frags = ["", "#x", "#sec1"]
    urls = []
    for _ in range(300):
        urls.append(
            rng.choice(schemes) + rng.choice(hosts) + rng.choice(ports)
            + rng.choice(paths) + rng.choice(queries) + rng.choice(frags)
        )
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [
        r.c
        for r in df.coalesce(1)
        .select(canonicalize_url_col("url").alias("c"))
        .collect()
    ]
    assert got == [py_canonical(u) for u in urls]
