"""Arrow-NATIVE extraction: mapInArrow over pyarrow RecordBatches.

The strictest reading of "zero per-row Python": the nested column never
leaves Arrow — ``ListArray.flatten()`` exposes the span StructArray, field
vectors are zero-copy, text assembly runs in pyarrow.compute regex
kernels, ordering is one numpy lexsort — Python executes O(batches)
operations regardless of row count.  (Converting the batch to pandas
costs a struct->dict conversion per span: a mapInPandas form measured
2.3x slower than the JVM path, ROADMAP.md item 3.)

Same contract as extract.extract_span_rows (golden-tested equal).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from cloud_ocr_summarizer_spark import config

_CANON = {str(k): v for k, v in config.BLOCK_TYPES.items()}
_CANON.update({v: v for v in config.BLOCK_TYPES.values()})
for _k, _v in config.RAW_KIND_MAP.items():
    _CANON.setdefault(_k, _v)


_LOWER_CANON = {k.lower(): v for k, v in _CANON.items()}

# ASCII whitespace except '\n' (Java's \s minus the paragraph break)
_COLLAPSE_WS = r"[\t\x0b\f\r ][\t\x0b\f\r ]+|[\t\x0b\f\r]"


def _classify(kind: pa.Array) -> np.ndarray:
    """Vectorized kind map: exact key, else lowercase key, else UNKNOWN.
    Factorize first — Python touches only the UNIQUE kind strings (a
    handful per batch), never per row."""
    k = kind.to_numpy(zero_copy_only=False).astype(object)
    k = np.where(pd.isnull(k), "", k).astype(object)
    uniq, inverse = np.unique(k.astype(str), return_inverse=True)
    mapped = np.array(
        [
            _CANON.get(u, _LOWER_CANON.get(u.lower(), config.KIND_UNKNOWN))
            for u in uniq
        ],
        dtype=object,
    )
    return mapped[inverse]


def _normalize(text: pa.Array) -> pa.Array:
    """Reference text assembly in pyarrow regex kernels (matches
    oracle.normalize_block_text on ASCII whitespace).

    The collapse class is spelled out: RE2's ``\\s`` lacks ``\\x0b``,
    which Java's ``\\s`` (the row-local path) collapses.  The pattern
    skips lone spaces (runs of >= 2, or a single non-space whitespace
    char): the naive ``[^\\S\\n]+`` matches EVERY inter-word gap and
    rewrites the whole string — measured 2.35x slower for identical
    output.  The final strip is the ascii_trim_whitespace kernel
    (" \\t\\n\\r\\x0b\\f" — exactly Java's \\s class), ~9x the
    anchored-regex trim."""
    t = pc.replace_substring_regex(text, pattern=_COLLAPSE_WS, replacement=" ")
    t = pc.replace_substring_regex(t, pattern=r" ?\n ?", replacement="\n")
    return pc.ascii_trim_whitespace(t)


def _extract_record_batch(
    rb: pa.RecordBatch, min_confidence: float, max_text_bytes: int
) -> pa.RecordBatch:
    tbl = pa.Table.from_batches([rb]).combine_chunks()
    spans = tbl.column("spans")
    chunk = spans.chunk(0) if spans.num_chunks else pa.array(
        [], type=spans.type
    )
    doc_id = tbl.column("doc_id").combine_chunks()

    offsets = np.asarray(chunk.offsets)
    counts = np.diff(offsets - offsets[0])
    flat = chunk.flatten()  # StructArray of spans, zero-copy
    doc_idx = np.repeat(np.arange(len(counts)), counts)

    out_schema = pa.schema(
        [
            ("doc_id", doc_id.type),
            ("seq", pa.int32()),
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )

    def empty() -> pa.RecordBatch:
        return pa.RecordBatch.from_arrays(
            [pa.array([], type=f.type) for f in out_schema], schema=out_schema
        )

    if len(flat) == 0:
        return empty()

    text_raw = flat.field("text")

    # size gate: whole-doc raw text bytes (vision_processor.py:43-48)
    tbytes = pc.coalesce(pc.binary_length(text_raw), pa.scalar(0)).to_numpy(
        zero_copy_only=False
    )
    doc_bytes = np.zeros(len(counts), dtype=np.int64)
    np.add.at(doc_bytes, doc_idx, tbytes)
    keep = doc_bytes[doc_idx] <= max_text_bytes

    # confidence gate (vision_processor.py:261-264); null passes
    if "confidence" in [f.name for f in flat.type]:
        conf = flat.field("confidence").to_numpy(zero_copy_only=False)
        keep &= np.isnan(conf) | (conf >= min_confidence)

    if not keep.any():
        return empty()
    sel = np.flatnonzero(keep)
    flat = flat.take(pa.array(sel))
    doc_idx = doc_idx[sel]

    kind = _classify(flat.field("kind"))
    is_media = np.isin(kind, list(config.MEDIA_KINDS))
    is_text = np.isin(kind, list(config.TEXT_KINDS))

    text = _normalize(flat.field("text")).to_numpy(zero_copy_only=False).astype(object)
    text[is_media] = None
    media = flat.field("media_ref").to_numpy(zero_copy_only=False).astype(object)
    media[is_text] = None
    offset = pc.coalesce(flat.field("offset"), pa.scalar(0, flat.field("offset").type)
                         ).to_numpy(zero_copy_only=False).astype(np.int32)

    # vectorized null masks (a [v is None ...] listcomp is ~2x slower)
    t_null = pd.isnull(text)
    m_null = pd.isnull(media)
    order = np.lexsort(
        (
            np.where(m_null, "", media),
            ~m_null,
            np.where(t_null, "", text),
            ~t_null,
            kind,
            offset,
            doc_idx,
        )
    )
    d = doc_idx[order]
    starts = np.flatnonzero(np.r_[True, d[1:] != d[:-1]])
    seq = np.arange(len(d), dtype=np.int64)
    seq -= np.repeat(seq[starts], np.diff(np.r_[starts, len(d)]))

    return pa.RecordBatch.from_arrays(
        [
            doc_id.take(pa.array(d)),
            pa.array((seq + 1).astype(np.int32)),
            pa.array(kind[order], type=pa.string()),
            pa.array(text[order], type=pa.string()),
            pa.array(media[order], type=pa.string()),
            pa.array(offset[order], type=pa.int32()),
        ],
        schema=out_schema,
    )


def extract_span_rows_arrow_native(
    df: DataFrame,
    *,
    min_confidence: float = config.MIN_CONFIDENCE_THRESHOLD,
    max_text_bytes: int = config.MAX_DOC_TEXT_BYTES,
) -> DataFrame:
    """mapInArrow extraction: (doc_id, spans) -> flat ordered span rows."""
    schema = T.StructType(
        [
            T.StructField("doc_id", df.schema["doc_id"].dataType),
            T.StructField("seq", T.IntegerType()),
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("media_ref", T.StringType()),
            T.StructField("offset", T.IntegerType()),
        ]
    )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if rb.num_rows:
                yield _extract_record_batch(rb, min_confidence, max_text_bytes)

    return df.mapInArrow(run, schema=schema)
