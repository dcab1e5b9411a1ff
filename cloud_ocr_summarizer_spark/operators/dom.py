"""HTML DOM tokenization and boilerplate strip (Readability-style).

The north-star pipeline names "batched DOM/byte-stream tokenization and
boilerplate classification ... over a parsed node tree".  The reference
never parses markup itself — it ships page images to a vision API
(/root/reference/src/processors/vision_processor.py) — so this module is
the from-scratch Spark-native realization of that stage for HTML
payloads: tokenize the byte stream into tags and text, decide for every
text node whether it sits inside a boilerplate container (head, nav,
header, footer, aside, script, style), and reassemble the surviving
text in document order.

One physical path: the four operators (``extract_html_main``,
``_dense``, ``_density``, ``_classified``) share ONE Arrow-native
kernel (:func:`_dom_batch`) run through ``mapInArrow``.  Per batch it
works on the flat UTF-8 byte buffer of the html column: numpy finds the
tag spans and text runs, per-container open/close depth counters are
cumulative sums that restart at each document (a stack machine's depth
counter, computed column-wise), ``utf8_split_whitespace`` yields the
words, ``np.bincount`` the per-<p>-block counts and ``binary_join`` the
reassembled text.  Python runs O(batches) operations, never one per row
or per token.  Handles arbitrarily nested containers correctly.  The
four operators differ only in the drop rule: none for the strip, an
integer predicate over the per-block counts for each of the three block
classifiers.

Scale shape: one shuffle-free map stage over whatever partitioning the
input already has — the same plan class as the flagship extractor; a
1000-executor scan parallelizes embarrassingly.

Input HTML contract (matches datagen.derive_html_from_documents and any
tag-soup within it): tags ``<name ...>``/``</name>``, attribute values
without ``>``, comments ``<!-- -->``; entity decoding is out of scope.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

# containers whose entire subtree is boilerplate (Readability's
# unlikelyCandidates, reduced to the structural tags)
BOILER_CONTAINERS = ("head", "nav", "header", "footer", "aside", "script", "style")

_COMMENT_RE = r"(?s)<!--.*?-->"

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("main_text", T.StringType()),
        T.StructField("n_tokens", T.IntegerType()),
    ]
)

_DENSE_SCHEMA = T.StructType(
    list(_OUT_SCHEMA.fields)
    + [
        T.StructField("n_blocks", T.IntegerType()),
        T.StructField("n_dropped", T.IntegerType()),
    ]
)


# ---- the shared Arrow-native DOM kernel --------------------------------
# Token grammar — what Python's re.finditer yields for
# ``(?s)<(/?)([a-zA-Z][a-zA-Z0-9]*)[^>]*>|([^<]+)`` after the comment
# strip: a TAG starts at a '<' followed by a letter or by '/' and a
# letter, and runs to the next '>' of the same document (a later '<'
# before that '>' is swallowed); its name is the maximal [A-Za-z0-9]
# run, lowercased.  A TEXT token is a maximal run of bytes that lie
# outside tag spans and are not '<' (a '<' that starts no tag is
# skipped and splits the run).  Every marker is ASCII, so byte
# positions never split a UTF-8 character.
#
# All block classifiers run the same tokenize/containment/count
# machinery; only the drop rule differs — a predicate over the
# per-block counts (wc = words, lwc = anchor-contained words, tc =
# non-whitespace characters).  Rules cannot diverge from the stage
# they filter.

_DropRule = Callable[[np.ndarray, np.ndarray, np.ndarray], np.ndarray]

# tracked tag names: the boilerplate containers, then <p> (the block
# boundary) and <a> (link text)
_TAGS = pa.array([t.encode() for t in BOILER_CONTAINERS + ("p", "a")])
_P = len(BOILER_CONTAINERS)
_A = _P + 1
# tag-name bytes read per tag: a longer alnum run names no tracked tag
_NAME_W = max(len(t) for t in BOILER_CONTAINERS) + 1


def _rule_link_dense(wc: np.ndarray, lwc: np.ndarray, tc: np.ndarray) -> np.ndarray:
    """Readability link density, integer form: drop iff 2*link > total."""
    return 2 * lwc > wc


def _rule_text_sparse(wc: np.ndarray, lwc: np.ndarray, tc: np.ndarray) -> np.ndarray:
    """Boilerpipe text density: drop iff fewer than TD_MIN_WPL words per
    80-column wrapped line of the single-space-normalized text."""
    nc = tc + np.maximum(wc - 1, 0)
    lines = np.maximum((nc + TD_WRAP_COLS - 1) // TD_WRAP_COLS, 1)
    return wc < TD_MIN_WPL * lines


def _rule_readability(wc: np.ndarray, lwc: np.ndarray, tc: np.ndarray) -> np.ndarray:
    """The full Readability pair: a block survives only if it is neither
    link-dense nor text-sparse."""
    return _rule_link_dense(wc, lwc, tc) | _rule_text_sparse(wc, lwc, tc)


def _utf8_buffers(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """int64 value offsets (row starts plus the end) and the uint8 data
    buffer of a string / large_string array, honouring its slice offset."""
    _, offsets, data = arr.buffers()
    width = np.int64 if pa.types.is_large_string(arr.type) else np.int32
    offsets = np.frombuffer(offsets, width)[arr.offset : arr.offset + len(arr) + 1]
    return offsets.astype(np.int64), np.frombuffer(data, np.uint8)


def _doc_cumsum(x: np.ndarray, first: np.ndarray) -> np.ndarray:
    """Cumulative sum along axis 0 that restarts at each document;
    ``first[i]`` is the index of the first token of token i's document."""
    cs = np.cumsum(x, axis=0)
    return cs - cs[first] + x[first]


def _tags(buf: np.ndarray, offs: np.ndarray):
    """Tag spans of the documents in ``buf`` (document i is
    ``buf[offs[i]:offs[i+1]]``): start ('<'), end ('>'), closing flag and
    tracked-name code (-1: untracked), plus the '<' mask."""
    is_lt = buf == 60  # '<'
    lt = np.flatnonzero(is_lt)
    gt = np.flatnonzero(buf == 62)  # '>'
    doc_end = offs[np.searchsorted(offs, lt, "right")]

    def byte_at(pos: np.ndarray) -> np.ndarray:
        return np.where(pos < doc_end, buf[np.minimum(pos, len(buf) - 1)], 0)

    c1 = byte_at(lt + 1)
    close = c1 == 47  # '/'
    c = np.where(close, byte_at(lt + 2), c1) | 0x20
    nxt = np.append(gt, len(buf))[np.searchsorted(gt, lt)]
    ok = (c >= 97) & (c <= 122) & (nxt < doc_end)
    start, end, close = lt[ok], nxt[ok], close[ok]
    # candidates that share one '>' are one tag: the first '<' wins
    first = np.ones(len(end), bool)
    first[1:] = end[1:] != end[:-1]
    start, end, close = start[first], end[first], close[first]

    # the name is the alnum prefix of the _NAME_W bytes after '<' or
    # '</'; the '>' (never alnum) bounds the reads inside the tag
    pos = np.minimum((start + 1 + close)[:, None] + np.arange(_NAME_W), end[:, None])
    raw = buf[pos]
    low = raw | 0x20  # ASCII lowercase
    alnum = ((low >= 97) & (low <= 122)) | ((raw >= 48) & (raw <= 57))
    name = np.where(np.cumprod(alnum, axis=1, dtype=bool), low, 0).astype(np.uint8)
    name = pa.array(name.view(f"S{_NAME_W}").ravel())
    code = pc.index_in(name, value_set=_TAGS).fill_null(-1).to_numpy()
    return start, end, close, code, is_lt


def _text_runs(
    buf: np.ndarray, offs: np.ndarray, start: np.ndarray, end: np.ndarray, is_lt: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Maximal runs of bytes that lie outside the tag spans
    ``[start, end]``, are not '<' and do not cross a document boundary:
    (run start, exclusive run end)."""
    nb = len(buf)
    cover = np.zeros(nb + 1, np.int8)
    cover[start] = 1
    cover[end + 1] -= 1
    text = (np.cumsum(cover[:-1], dtype=np.int8) == 0) & ~is_lt
    cont = np.zeros(nb, bool)  # byte continues a run begun at the byte before
    cont[1:] = text[:-1] & text[1:]
    cont[offs[:-1][offs[:-1] < nb]] = False
    run_start = np.flatnonzero(text & ~cont)
    run_end = np.flatnonzero(text & ~np.append(cont[1:], False)) + 1
    return run_start, run_end


def _dom_batch(
    batch: pa.RecordBatch, drop_rule: _DropRule | None, carry: tuple[str, ...] = ()
) -> pa.RecordBatch:
    """The DOM kernel over one Arrow batch of (doc_id, html, *carry).

    Output rows are 1:1 positional with input rows: (doc_id, main_text,
    n_tokens), then (n_blocks, n_dropped) when ``drop_rule`` is given,
    then the ``carry`` columns as the batch's own Arrow arrays.  With no
    rule every text token outside a boilerplate container is kept; with
    a rule only text inside a <p> block counts, and every block for
    which ``drop_rule(wc, lwc, tc)`` holds is dropped whole."""
    n = batch.num_rows
    html = pc.replace_substring_regex(
        batch.column("html").fill_null(""), pattern=_COMMENT_RE, replacement=" "
    )
    offsets, data = _utf8_buffers(html)
    lo = offsets[0]
    buf, offs = data[lo : offsets[-1]], offsets - lo

    t_start, t_end, t_close, t_code, is_lt = _tags(buf, offs)
    r_start, r_end = _text_runs(buf, offs, t_start, t_end, is_lt)

    # the token stream in document order: tags and text runs merged
    order = np.argsort(np.concatenate([t_start, r_start]), kind="stable")
    pos = np.concatenate([t_start, r_start])[order]
    stop = np.concatenate([t_end + 1, r_end])[order]
    is_text = order >= len(t_start)
    code = np.concatenate([t_code, np.full(len(r_start), -1)])[order]
    close = np.concatenate([t_close, np.zeros(len(r_start), bool)])[order]
    doc = np.searchsorted(offs, pos, "right") - 1
    first = np.searchsorted(doc, doc)

    # per-name depth counters: > 0 at a token means an unclosed <name>
    # precedes it in its document (an unmatched close counts below 0)
    tracked = np.flatnonzero(code >= 0)
    delta = np.zeros((len(pos), len(_TAGS)), np.int32)
    delta[tracked, code[tracked]] = np.where(close[tracked], -1, 1)
    depth = _doc_cumsum(delta, first)
    boiler = (depth[:, :_P] > 0).any(axis=1)
    keep = is_text & ~boiler

    if drop_rule is not None:
        # <p> blocks outside boilerplate, numbered across the batch: a
        # text token belongs to the latest <p> opened before it and
        # counts only at positive <p> depth in its document (the
        # "<p>...</p> contents only" contract)
        p_step = np.where(boiler, 0, delta[:, _P])
        p_open = p_step > 0
        keep &= _doc_cumsum(p_step, first) > 0
        block = np.cumsum(p_open) - 1
        block_doc = doc[p_open]

    # words of the kept text tokens, each token split on its own so no
    # word crosses a token boundary
    k_doc = doc[keep]
    bounds = np.empty(2 * len(k_doc), np.int64)
    bounds[0::2], bounds[1::2] = pos[keep] + lo, stop[keep] + lo
    tokens = pa.array([], pa.large_string())
    if len(k_doc):
        spans = pa.LargeStringArray.from_buffers(
            len(bounds) - 1, pa.py_buffer(bounds), html.buffers()[2]
        )
        tokens = spans.take(pa.array(np.arange(0, len(bounds), 2)))
    split = pc.utf8_split_whitespace(tokens)
    words = split.flatten()
    w_tok = pc.list_parent_indices(split).to_numpy()
    w_len = pc.utf8_length(words).to_numpy()
    w_keep = w_len > 0  # utf8_split_whitespace emits "" at edge whitespace

    counts = []
    if drop_rule is not None:
        blk = block[keep]
        wc_tok = np.bincount(w_tok[w_keep], minlength=len(k_doc))
        tc_tok = np.bincount(w_tok[w_keep], weights=w_len[w_keep], minlength=len(k_doc))
        link = depth[keep, _A] > 0

        def per_block(tok_blk: np.ndarray, w: np.ndarray) -> np.ndarray:
            return np.bincount(tok_blk, weights=w, minlength=len(block_doc)).astype(np.int64)

        dropped = drop_rule(
            per_block(blk, wc_tok), per_block(blk[link], wc_tok[link]), per_block(blk, tc_tok)
        )
        w_keep &= ~dropped[blk][w_tok]
        counts = [
            pa.array(np.bincount(block_doc, minlength=n), pa.int32()),
            pa.array(np.bincount(block_doc[dropped], minlength=n), pa.int32()),
        ]

    n_tokens = np.bincount(k_doc[w_tok[w_keep]], minlength=n)
    per_doc = pa.ListArray.from_arrays(
        pa.array(np.concatenate([[0], np.cumsum(n_tokens)]), pa.int32()),
        words.filter(pa.array(w_keep)),
    )
    main = pc.binary_join(per_doc, pa.scalar(" ", pa.large_string())).cast(pa.string())
    schema = _OUT_SCHEMA if drop_rule is None else _DENSE_SCHEMA
    return pa.RecordBatch.from_arrays(
        [batch.column("doc_id"), main, pa.array(n_tokens, pa.int32()), *counts]
        + [batch.column(c) for c in carry],
        names=schema.fieldNames() + list(carry),
    )


def _map_dom(
    df: DataFrame, html_col: str, carry: tuple[str, ...], drop_rule: _DropRule | None
) -> DataFrame:
    """(doc_id, html, *carry) through :func:`_dom_batch` as one
    ``mapInArrow`` stage."""
    src = df.select(
        F.col("doc_id").cast("long"),
        F.col(html_col).alias("html"),
        *[F.col(c) for c in carry],
    )
    out = _OUT_SCHEMA if drop_rule is None else _DENSE_SCHEMA
    schema = T.StructType(list(out.fields) + [src.schema[c] for c in carry])

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if rb.num_rows:
                yield _dom_batch(rb, drop_rule, carry)

    return src.mapInArrow(run, schema=schema)


def extract_html_main(
    df: DataFrame, *, html_col: str = "html", carry: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, html) -> (doc_id, main_text, n_tokens), canonical path.

    ``carry`` passes extra input columns through the Arrow stage
    unchanged (output rows are 1:1 positional with input rows), so a
    fused pipeline can keep row-local results alongside the strip
    without a doc_id re-join.
    """
    return _map_dom(df, html_col, carry, None)


def extract_html_dense(df: DataFrame, *, html_col: str = "html") -> DataFrame:
    """Readability-style link-density block classification, canonical
    Arrow path: tokenize -> strip boilerplate containers -> segment into
    <p> blocks -> count tokens and anchor-contained tokens per block via
    the same vectorized depth counters -> DROP blocks where
    2*link_tokens > tokens (nav/related-link lists) -> reassemble the
    survivors in document order.

    Output: (doc_id, main_text, n_tokens, n_blocks, n_dropped).  The
    integer 2x rule keeps the decision exact in every engine (no float
    density), mirroring the repo's integer-cents convention.
    """
    return _map_dom(df, html_col, (), _rule_link_dense)


# ---- text-density block classification (Kohlschütter et al., WSDM'10:
# "Boilerplate Detection using Shallow Text Features" — text density =
# words per wrapped line at a fixed column width; low-density blocks
# are boilerplate).  Integer form so the decision is exact in every
# engine: with wc = whitespace tokens and nc = single-space-normalized
# character count, lines = max(1, ceil(nc/80)) and a block is DROPPED
# iff wc < 7 * lines.  Empty blocks (wc = 0) fall out of the same rule.
TD_WRAP_COLS = 80
TD_MIN_WPL = 7


def extract_html_density(df: DataFrame, *, html_col: str = "html") -> DataFrame:
    """Boilerpipe-style TEXT-density block classification, canonical
    Arrow path (the second Readability heuristic the north star names,
    complementing :func:`extract_html_dense`'s LINK density): tokenize
    -> strip boilerplate containers -> segment into <p> blocks -> per
    block count tokens (wc) and normalized chars (nc, tokens joined by
    single spaces) via the same vectorized depth counters -> DROP
    blocks with fewer than ``TD_MIN_WPL`` words per 80-column wrapped
    line (integer rule ``wc < 7 * max(1, ceil(nc/80))`` — short
    bylines, copyright lines, captions) -> reassemble survivors in
    document order.

    Output: (doc_id, main_text, n_tokens, n_blocks, n_dropped)."""
    return _map_dom(df, html_col, (), _rule_text_sparse)


def extract_html_classified(
    df: DataFrame, *, html_col: str = "html", carry: tuple[str, ...] = ()
) -> DataFrame:
    """The COMBINED Readability classifier, canonical Arrow path: a
    <p> block survives only if it is neither link-dense
    (``2*link_tokens > tokens``) nor text-sparse
    (``wc < 7 * max(1, ceil(nc/80))``) — the north star's full
    "text-density + link-density heuristics" applied in ONE pass over
    the shared block kernel (same tokenize/containment/count stage as
    the single-rule classifiers; only the predicate differs).

    ``carry`` passes extra input columns through the Arrow stage
    unchanged (output rows are 1:1 positional with input rows), same
    contract as ``extract_html_main(carry=...)`` — a fused pipeline
    keeps row-local results alongside the classification without a
    doc_id re-join.

    Output: (doc_id, main_text, n_tokens, n_blocks, n_dropped)."""
    return _map_dom(df, html_col, carry, _rule_readability)


__all__ = [
    "extract_html_main",
    "extract_html_dense",
    "extract_html_density",
    "extract_html_classified",
    "BOILER_CONTAINERS",
    "TD_WRAP_COLS",
    "TD_MIN_WPL",
]


# ---- robots meta gate (crawl-compliance filter) --------------------------

ROBOTS_NOINDEX_RE = r'(?i)<meta[^>]*name="robots"[^>]*content="[^"]*noindex'


def inject_robots_noindex(
    html_df: DataFrame, *, html_col: str = "html", every: int = 13
) -> DataFrame:
    """Deterministically mark every ``every``-th document noindex (a
    <meta name="robots" content="noindex"> in <head>) — the synthesis
    side of the compliance-gate round trip."""
    flagged = F.pmod(F.col("doc_id"), F.lit(every)) == 0
    injected = F.regexp_replace(
        F.col(html_col),
        "<head>",
        '<head><meta name="robots" content="noindex">',
    )
    return html_df.withColumn(
        html_col, F.when(flagged, injected).otherwise(F.col(html_col))
    )


def meta_robots_gate(html_df: DataFrame, *, html_col: str = "html") -> DataFrame:
    """Drop documents whose HTML declares robots noindex — the standard
    crawl-compliance gate, applied BEFORE extraction spends any work on
    the body.  Row-local rlike filter; zero shuffles."""
    return html_df.where(~F.col(html_col).rlike(ROBOTS_NOINDEX_RE))
