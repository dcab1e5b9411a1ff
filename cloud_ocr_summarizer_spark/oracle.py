"""Pure-Python single-document oracle — the executable spec.

Re-derives the reference's per-document extraction semantics exactly, from
the reference source (file:line cited per rule), with NO Spark involved.
Golden tests run the distributed engine and compare span sequences against
this module (SURVEY.md §5.2.1).  Write/extend THIS first, from the
reference, never from the Spark code.

Rules encoded
-------------
* text assembly  : symbols join ''  -> word   (vision_processor.py:170-172,
                   393-400); words join ' ' then strip -> paragraph
                   (:173, :356-363); paragraphs join '\\n' then strip
                   -> block (:316-325).  On our flat span text this is:
                   per-newline-paragraph whitespace collapse, then a
                   newline join, then a full strip.
* kind tagging   : block-type enum -> {UNKNOWN,TEXT,TABLE,PICTURE,RULER,
                   BARCODE} (vision_processor.py:289-296); raw ingest kinds
                   (html/pdf/png/jpg) via the extension map analogue
                   (config/settings.py:84-89).
* confidence gate: drop spans with confidence < threshold
                   (vision_processor.py:261-264; default 0.0,
                   config/settings.py:109).
* ordering       : positional / arrival order == `offset`
                   (vision_processor.py:182,241); duplicate offsets break
                   ties deterministically on (kind, text, media_ref).
* size gate      : total raw text bytes per doc <= 10 MB
                   (vision_processor.py:43-48, config/settings.py:66).
* token counting : whitespace split, len(s.split())
                   (src/utils/token_counter.py:71-72); recursive structure
                   rules (:60-82) in count_structure().
* language top-1 : stable sort desc by confidence, first language_code;
                   divergent defaults 'en' (gemini.py:113) vs 'ja'
                   (claude.py:190).
* rollup         : '\\n'.join of per-unit texts in order, only when more
                   than one contributes (gemini.py:76-83, claude.py:67-74).
"""

from __future__ import annotations

import re
from typing import Any

from cloud_ocr_summarizer_spark import config


# --------------------------------------------------------------------------
# text assembly (E2-E4)
# --------------------------------------------------------------------------
# Java's \s, the class both engine paths collapse and strip: ASCII only,
# so NBSP, U+2028, U+3000 and the \x1c-\x1f separators are word text.
_WS_CHARS = " \t\n\x0b\f\r"
_WS_RUN = re.compile("[" + _WS_CHARS + "]+")


def normalize_block_text(text: str | None) -> str | None:
    """Assemble span text with the reference's concat/strip semantics.

    Within each newline-delimited paragraph, words are separated by runs
    of ASCII whitespace (``[ \\t\\n\\x0b\\f\\r]``, Java's ``\\s``) and are
    re-joined with single spaces (words+' ' then strip,
    vision_processor.py:361-363).  Paragraphs are re-joined with '\\n' and
    the whole block stripped of the same class (vision_processor.py:
    323-325).  Interior empty paragraphs survive as empty lines (the
    reference appends para_text + '\\n' unconditionally).  Non-ASCII
    whitespace (NBSP, U+2028, U+3000, U+001C) is kept as word text.
    """
    if text is None:
        return None
    paragraphs = [
        " ".join(w for w in _WS_RUN.split(p) if w) for p in text.split("\n")
    ]
    return "\n".join(paragraphs).strip(_WS_CHARS)


# --------------------------------------------------------------------------
# kind classification (P1/P2)
# --------------------------------------------------------------------------
_CANONICAL_KINDS = frozenset(config.BLOCK_TYPES.values())


def classify_kind(raw: Any) -> str:
    """Map a raw kind tag to the canonical vocabulary.

    Accepts the reference's integer block-type enum
    (vision_processor.py:289-300: ``block_types.get(int, 'UNKNOWN')``),
    canonical strings, or raw ingest-format strings (html/pdf/png/jpg —
    the extension-map analogue, config/settings.py:84-89).
    """
    if raw is None:
        return config.KIND_UNKNOWN
    if isinstance(raw, bool):
        return config.KIND_UNKNOWN
    if isinstance(raw, int):
        return config.BLOCK_TYPES.get(raw, config.KIND_UNKNOWN)
    s = str(raw)
    if s in _CANONICAL_KINDS:
        return s
    if s.isdigit():
        # enum arriving as a string — int(str(block_type)) path,
        # vision_processor.py:300
        return config.BLOCK_TYPES.get(int(s), config.KIND_UNKNOWN)
    return config.RAW_KIND_MAP.get(s.lower(), config.KIND_UNKNOWN)


def mime_for_name(name: str) -> str:
    """Extension -> mime with default (vision_processor.py:99-105)."""
    dot = name.rfind(".")
    ext = name[dot:].lower() if dot >= 0 else ""
    return config.MIME_MAP.get(ext, config.MIME_DEFAULT)


# --------------------------------------------------------------------------
# per-document extraction (the flagship contract)
# --------------------------------------------------------------------------
def doc_text_bytes(spans: list[dict[str, Any]]) -> int:
    """Total raw text payload in bytes (size-gate input, settings.py:66)."""
    return sum(len(s.get("text", "").encode("utf-8")) for s in spans if s.get("text"))


def extract_document(
    spans: list[dict[str, Any]],
    min_confidence: float = config.MIN_CONFIDENCE_THRESHOLD,
) -> list[tuple[str, str | None, str | None, int]]:
    """Extract the ordered span sequence for one document.

    Input spans are dicts with keys kind, text, media_ref, offset and an
    optional confidence.  Returns tuples (kind, text, media_ref, offset)
    sorted by (offset, kind, text, media_ref) — the span-sequence-equality
    contract (BASELINE.json north_rule).
    """
    out: list[tuple[str, str | None, str | None, int]] = []
    for s in spans:
        conf = s.get("confidence")
        if conf is not None and conf < min_confidence:
            # detailed-mode confidence gate, vision_processor.py:261-264
            continue
        kind = classify_kind(s.get("kind"))
        text = s.get("text")
        media_ref = s.get("media_ref")
        if kind in config.MEDIA_KINDS:
            # media spans carry only the reference URI (gcp_utils.py:100)
            text = None
        else:
            text = normalize_block_text(text)
        if kind in config.TEXT_KINDS:
            media_ref = None
        out.append((kind, text, media_ref, int(s.get("offset", 0))))
    # nulls-first tie-break — matches Spark struct ordering on
    # (offset, kind, text, media_ref)
    out.sort(
        key=lambda t: (
            t[3],
            t[0],
            (t[1] is not None, t[1] or ""),
            (t[2] is not None, t[2] or ""),
        )
    )
    return out


# --------------------------------------------------------------------------
# token counting (A2) — token_counter.py:60-82
# --------------------------------------------------------------------------
def token_count_text(text: str | None) -> int:
    """Whitespace-model token count (token_counter.py:71-72)."""
    if text is None:
        return 1  # None counts as one token (:67-68)
    return len(text.split())


def count_structure(obj: Any, depth: int = 0) -> int:
    """Recursive structure token count — faithful to token_counter.py:60-82.

    None/bool/number -> 1; string -> len(split()); dict -> sum over items of
    1 + count(value); list/tuple -> sum of counts; depth capped at 100.
    """
    if depth > 100:
        return 0
    if obj is None:
        return 1
    if isinstance(obj, (bool, int, float)):
        return 1
    if isinstance(obj, str):
        return len(obj.split())
    if isinstance(obj, dict):
        return sum(1 + count_structure(v, depth + 1) for _, v in obj.items())
    if isinstance(obj, (list, tuple)):
        return sum(count_structure(item, depth + 1) for item in obj)
    return 1


# --------------------------------------------------------------------------
# language top-1 (T1) — gemini.py:98-116 / claude.py:178-194
# --------------------------------------------------------------------------
def primary_language(
    detected_languages_per_unit: list[list[dict[str, Any]]],
    default: str = config.DEFAULT_LANGUAGE_EN,
) -> str:
    """First unit (page/span) with any detected languages wins; within it,
    stable sort desc by confidence (Python ``sorted`` is stable — ties keep
    arrival order, matching gemini.py:104-108) and take the top code.
    """
    for langs in detected_languages_per_unit:
        if langs:
            top = sorted(langs, key=lambda x: x.get("confidence", 0), reverse=True)
            return top[0]["language_code"]
    return default


# --------------------------------------------------------------------------
# rollup (A6) — gemini.py:76-83 / claude.py:67-74
# --------------------------------------------------------------------------
def rollup_text(unit_texts_in_order: list[str | None]) -> str | None:
    """'\\n'-join of non-empty unit texts in order, only when more than one
    contributes (the ``len(summaries) > 1`` branch, gemini.py:76-79)."""
    contributing = [t for t in unit_texts_in_order if t]
    if len(contributing) > 1:
        return "\n".join(contributing)
    return None


# --------------------------------------------------------------------------
# structure stats (A1/A3/A4/A5) — token_counter.py:85-128
# --------------------------------------------------------------------------
def structure_stats(spans: list[dict[str, Any]]) -> dict[str, Any]:
    n_spans = len(spans)
    n_text = sum(1 for s in spans if classify_kind(s.get("kind")) in config.TEXT_KINDS)
    n_media = sum(1 for s in spans if classify_kind(s.get("kind")) in config.MEDIA_KINDS)
    confidences = [s["confidence"] for s in spans if s.get("confidence") is not None]
    langs: set[str] = set()
    for s in spans:
        for li in s.get("detected_languages") or []:
            langs.add(li.get("language_code"))
    return {
        "n_spans": n_spans,
        "n_text_spans": n_text,
        "n_media_spans": n_media,
        "n_tokens": sum(token_count_text(s.get("text")) for s in spans if s.get("text")),
        "avg_confidence": (sum(confidences) / len(confidences)) if confidences else 0.0,
        "languages": sorted(langs),
    }


def deep_tree_blocks(doc_id, pages) -> list[tuple]:
    """Pure-Python reference walk of the 4-level deep tree — the executable
    spec for operators/deeptree.py, transcribed from the reference's nested
    loops (vision_processor.py:226-269; _process_block :279-326,
    _process_paragraph :328-364, _process_word :366-402):

    * word = ''.join(symbols)                      (:393-400)
    * paragraph = ' '-concat of words, .strip()    (:356-363)
    * block = '\n'-concat of paragraphs, .strip()  (:316-325)
    * page_number / block_seq = 1-based arrival order (:241)

    Strips use the engine's ASCII-whitespace contract (Java \\s — see
    functions/text.py module caveat), not bare str.strip(): the
    reference's Python strip also eats Unicode whitespace, which the
    JVM extractor cannot match; the contract pins ASCII.

    Returns [(doc_id, page_number, block_seq, kind, text), ...].
    """
    ascii_ws = " \t\n\x0b\f\r"
    out = []
    for page_idx, page in enumerate(pages or []):
        for block_idx, block in enumerate(page.get("blocks") or []):
            block_text = ""
            for para in block.get("paragraphs") or []:
                para_text = ""
                for word in para.get("words") or []:
                    word_text = ""
                    for symbol in word.get("symbols") or []:
                        word_text += symbol          # :396-400
                    para_text += word_text + " "     # :356-361
                block_text += para_text.strip(ascii_ws) + "\n"  # :363, :316-323
            out.append(
                (
                    doc_id,
                    page_idx + 1,
                    block_idx + 1,
                    block.get("block_type"),
                    block_text.strip(ascii_ws),      # :325
                )
            )
    return out


def deep_tree_geometry_rows(doc_id, pages) -> list[tuple]:
    """Pure-Python walk of the detailed-mode (bbox-carrying) deep tree —
    the executable spec for operators/deeptree.extract_deep_tree_geometry.
    The reference's detailed mode emits text + a 4-vertex rectangle at
    block (vision_processor.py:300-313), paragraph (:340-353), and word
    (:378-391) level; here each node's stored ``bbox`` is read back
    (vertex 1 = top-left, vertex 3 = bottom-right) and text is assembled
    bottom-up exactly as deep_tree_blocks.

    Returns [(doc_id, level, page_number, block_seq, para_seq, word_seq,
    text, x0, y0, x1, y1, bbox_area), ...]; seq columns are 1-based with
    0 = not applicable at that level.
    """
    ascii_ws = " \t\n\x0b\f\r"

    def box(node):
        v = node["bbox"]
        x0, y0 = v[0]["x"], v[0]["y"]
        x1, y1 = v[2]["x"], v[2]["y"]
        return x0, y0, x1, y1, (x1 - x0) * (y1 - y0)

    out = []
    for page_idx, page in enumerate(pages or []):
        for block_idx, block in enumerate(page.get("blocks") or []):
            pn, bs = page_idx + 1, block_idx + 1
            block_text = ""
            para_rows, word_rows = [], []
            for para_idx, para in enumerate(block.get("paragraphs") or []):
                para_text = ""
                for word_idx, word in enumerate(para.get("words") or []):
                    word_text = "".join(word.get("symbols") or [])
                    para_text += word_text + " "
                    word_rows.append(
                        (doc_id, "word", pn, bs, para_idx + 1, word_idx + 1,
                         word_text, *box(word))
                    )
                para_text = para_text.strip(ascii_ws)
                block_text += para_text + "\n"
                para_rows.append(
                    (doc_id, "paragraph", pn, bs, para_idx + 1, 0,
                     para_text, *box(para))
                )
            out.append(
                (doc_id, "block", pn, bs, 0, 0,
                 block_text.strip(ascii_ws), *box(block))
            )
            out.extend(para_rows)
            out.extend(word_rows)
    return out
