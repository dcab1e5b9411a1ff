"""Main-content classification: text-density + link-density scoring
(Readability-style boilerplate stripping), the engine's replacement for the
reference's per-page remote summarization calls (U2, gemini.py:118-133).

One physical path: ``classify_spans`` scores Arrow batches with
``mapInPandas``.  Whole documents arrive as pandas batches; scoring is
vectorized pandas string ops (NO per-row Python).  The same scoring as
JVM column expressions measured 1.6x slower (ROADMAP.md item 3).

Scoring contract (pinned against the DuckDB ``main_content`` oracle in
tests/test_pipeline.py; every class below is ASCII, like the oracle's):
  text_density  = min(n_tokens / 40, 1)
  link_density  = link_tokens / n_tokens          (tokens containing '://'
                                                   or starting 'http')
  punct_density = non-alnum-non-space chars / chars
  score         = 0.5*text_density + 0.3*(1-link_density)
                + 0.2*(1-punct_density)              -> basis points (floor)
  TEXT/TABLE: is_content = score >= 5000 and n_tokens >= 3
  PICTURE/BARCODE: always content (score 10000); others: never (score 0).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from cloud_ocr_summarizer_spark import config

CONTENT_THRESHOLD_BP = 5000
MIN_CONTENT_TOKENS = 3


def _classified_schema(input_schema: T.StructType) -> T.StructType:
    """Input columns passed through + the two score columns appended —
    works for any doc_id type (string at corpus scale, long in testdata)."""
    return T.StructType(
        list(input_schema.fields)
        + [
            T.StructField("content_score", T.IntegerType()),
            T.StructField("is_content", T.BooleanType()),
        ]
    )


def _score_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Vectorized scoring of one Arrow batch of span rows.  ``re.ASCII``
    keeps ``\\s`` ASCII like the oracle's: Unicode ``\\s`` would also split
    on ``\\xa0``, ``\\u2003`` or ``\\x1c``."""
    text = pdf["text"].fillna("")
    n_tokens = text.str.count(r"\S+", flags=re.ASCII).astype("int64")
    # one match per token starting-position: token starts with 'http' OR
    # contains '://' — same predicate as the SQL oracle, fully vectorized
    link_tokens = text.str.count(
        r"(?<!\S)(?:http|\S*://)", flags=re.ASCII
    ).astype("int64")
    n_chars = text.str.len().astype("int64")
    n_punct = text.str.count(r"[^A-Za-z0-9\s]", flags=re.ASCII).astype("int64")
    with np.errstate(divide="ignore", invalid="ignore"):
        text_density = np.minimum(n_tokens / 40.0, 1.0)
        link_density = np.where(n_tokens > 0, link_tokens / n_tokens, 0.0)
        punct_density = np.where(n_chars > 0, n_punct / n_chars, 0.0)
    score = 0.5 * text_density + 0.3 * (1 - link_density) + 0.2 * (1 - punct_density)
    bp = np.floor(score * 10000).astype("int32")
    kind = pdf["kind"]
    is_media = kind.isin(list(config.MEDIA_KINDS))
    is_text = kind.isin(list(config.TEXT_KINDS))
    out = pdf.copy()
    out["content_score"] = np.where(is_media, 10000, np.where(is_text, bp, 0)).astype(
        "int32"
    )
    out["is_content"] = np.where(
        is_media,
        True,
        is_text
        & (out["content_score"] >= CONTENT_THRESHOLD_BP)
        & (n_tokens >= MIN_CONTENT_TOKENS),
    )
    return out


def classify_spans(span_rows: DataFrame) -> DataFrame:
    """Append (content_score, is_content) to flat span rows via
    mapInPandas (Arrow batches).

    Spans of one document may be split across batches/partitions — the
    scoring is span-local so that's safe.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _score_batch(pdf)

    return span_rows.mapInPandas(run, schema=_classified_schema(span_rows.schema))


def main_content_rows(span_rows: DataFrame) -> DataFrame:
    """Main-content selection: classify then keep content spans only."""
    return classify_spans(span_rows).filter(F.col("is_content"))
