"""Column-expression builders for the reference's scalar text semantics.

Every function here returns a pyspark Column built ONLY from built-in
functions (JVM-side, WholeStageCodegen-friendly) — no Python UDFs.  Each
mirrors a rule in oracle.py; golden tests assert the two agree.

Whitespace is Java regex ``\\s`` = ``[ \\t\\n\\x0b\\f\\r]``, ASCII only; the
oracle splits and strips on the same class.  Trailing strips anchor on
``\\z``, not ``$``: Java's ``$`` also matches before a final line
terminator (``\\u2028``, ``\\u0085``), which would strip the space in
``"x \\u2028"``.
"""

from __future__ import annotations

import functools

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F

from cloud_ocr_summarizer_spark import config

_WS = r"\s+"


def _collapse_ws(paragraph: Column) -> Column:
    """words -> ' '-join -> strip, per paragraph (vision_processor.py:356-363).

    ``split`` on a whitespace run leaves an empty leading token when the
    paragraph starts with whitespace — filter empties, like str.split().
    """
    words = F.filter(F.split(paragraph, _WS), lambda w: w != F.lit(""))
    return F.array_join(words, " ")


def normalize_block_text_col(text: Column) -> Column:
    """Reference text assembly: paragraphs split on '\\n', whitespace
    collapsed within each (words + ' ' + strip, vision_processor.py:361-363),
    re-joined with '\\n' (block concat :323) and fully stripped (:325).
    Null in, null out.  Mirrors oracle.normalize_block_text.
    """
    paragraphs = F.transform(F.split(text, "\n"), _collapse_ws)
    joined = F.array_join(paragraphs, "\n")
    return F.regexp_replace(joined, r"^\s+|\s+\z", "")


def memo_col(builder):
    """Build a pure Column builder's expression once per driver JVM.

    Every Column built in Python costs py4j round trips, and a pipeline
    that rebuilds the same expression trees on every call (or every
    streaming micro-batch) pays them again each time.  A decorated
    builder is called once per distinct argument tuple; later calls
    return the SAME Column object.  That is only correct under three
    rules:

    * every argument is a plain hashable value (str/int/float/bool or a
      tuple of them) — it is part of the memo key (typed, so ``0`` and
      ``0.0`` build apart);
    * the output depends on nothing else: never on a DataFrame, a
      Column, a schema or a session conf (read those in the caller and
      pass the plain value in);
    * the memo is keyed on the JVM gateway (``SparkContext._gateway``).
      A cached Column is an unresolved expression, so it stays valid
      when a session is stopped and restarted in the same JVM; a new
      gateway (a new JVM) builds afresh.
    """
    @functools.lru_cache(maxsize=None, typed=True)
    def build(gateway, *args, **kwargs):
        return builder(*args, **kwargs)

    @functools.wraps(builder)
    def cached(*args, **kwargs):
        return build(SparkContext._gateway, *args, **kwargs)

    return cached


@memo_col
def _kind_map_lit() -> Column:
    mapping: dict[str, str] = {}
    for k, v in config.BLOCK_TYPES.items():
        mapping[str(k)] = v  # int enum arriving as a string
    for v in config.BLOCK_TYPES.values():
        mapping[v] = v  # canonical passthrough
    for k, v in config.RAW_KIND_MAP.items():
        mapping.setdefault(k, v)  # raw ingest kinds (lowercase)
    flat: list[Column] = []
    for k, v in mapping.items():
        flat.append(F.lit(k))
        flat.append(F.lit(v))
    return F.create_map(*flat)


def classify_kind_col(kind: Column) -> Column:
    """Raw kind tag -> canonical vocabulary with UNKNOWN default.

    Covers the int block-type enum (vision_processor.py:289-300), canonical
    strings, and raw ingest-format strings via lowercase fallback
    (extension map analogue, config/settings.py:84-89).
    """
    kind_map = _kind_map_lit()
    c = kind.cast("string")
    return F.coalesce(
        F.element_at(kind_map, c),
        F.element_at(kind_map, F.lower(c)),
        F.lit(config.KIND_UNKNOWN),
    )


def mime_for_name_col(name: Column) -> Column:
    """Extension -> mime with octet-stream default (vision_processor.py:99-105)."""
    ext = F.lower(F.regexp_extract(name, r"(\.[^.\/]+)$", 1))
    flat: list[Column] = []
    for k, v in config.MIME_MAP.items():
        flat.append(F.lit(k))
        flat.append(F.lit(v))
    return F.coalesce(F.element_at(F.create_map(*flat), ext), F.lit(config.MIME_DEFAULT))


def whitespace_tokens_col(text: Column) -> Column:
    """Array of whitespace-delimited tokens, str.split() semantics."""
    return F.filter(F.split(F.coalesce(text, F.lit("")), _WS), lambda w: w != F.lit(""))


def let_col(value: Column, body) -> Column:
    """Let-binding for column expressions: evaluate ``value`` once per
    row and hand it to ``body`` as a bound lambda variable.

    Catalyst performs NO loop-invariant code motion inside
    higher-order-function lambdas: any non-trivial expression referenced
    from a lambda body is re-evaluated per ELEMENT, which turns an
    O(row) expression (e.g. split(text)) referenced from a per-chunk
    lambda into O(row^2) per row.  ``transform`` over a single-element
    array evaluates its collection argument exactly once; inside the
    lambda the parameter is a cheap variable reference.  Measured
    49-175x on 25k-50k-word documents for word_chunks_col; quadratic ->
    flat.  Use whenever a lambda body must reference a computed array.
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def word_chunks_col(text: Column, k: int) -> Column:
    """Consecutive ``k``-word chunks of a text column, each rendered as a
    space-joined string (the passage unit of the intra-doc and cross-doc
    dedup gates — keep both on this ONE expression so their chunk
    boundaries can never diverge).  Empty/null text -> empty array.
    The token array is let-bound (``let_col``) so the per-chunk lambda
    never re-tokenizes the document."""

    def chunks(words: Column) -> Column:
        n = F.ceil(F.size(words) / F.lit(k)).cast("int")
        return F.when(
            n > 0,
            F.transform(
                F.sequence(F.lit(0).cast("int"), n - 1),
                lambda i: F.array_join(
                    F.slice(words, i.cast("int") * k + 1, k), " "
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return let_col(whitespace_tokens_col(text), chunks)


def token_count_col(text: Column) -> Column:
    """Whitespace-model token count (token_counter.py:71-72); null -> 1
    (scalar rule :67-68).  Mirrors oracle.token_count_text."""
    return F.when(text.isNull(), F.lit(1)).otherwise(F.size(whitespace_tokens_col(text)))
