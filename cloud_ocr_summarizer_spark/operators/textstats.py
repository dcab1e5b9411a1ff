"""Text-analysis operators for corpus curation: language ID, quality
scoring, token counting, document fingerprinting.

All row-local column expressions (zero shuffles until the caller
aggregates); deterministic; SQL-expressible for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from cloud_ocr_summarizer_spark.functions.text import (
    let_col,
    normalize_block_text_col,
    whitespace_tokens_col,
)

# Tiny English stopword list (public, frequency-based); the heuristic is a
# ratio, so the list just needs to be fixed and shared with the oracle SQL.
EN_STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")


def stopword_ratio_col(text: Column) -> Column:
    """share of tokens that are English stopwords (language-ID heuristic)."""
    words = whitespace_tokens_col(F.lower(text))
    n = F.size(words)
    hits = F.size(F.filter(words, lambda w: w.isin(*EN_STOPWORDS)))
    return F.when(n > 0, F.round(hits / n, 4)).otherwise(F.lit(0.0))


def quality_score_col(text: Column) -> Column:
    """Composite quality score in [0,1]: rewards reasonable length and word
    size, penalizes non-alphanumeric density (boilerplate/markup signal).

    score = 0.4*min(n_tokens/100, 1) + 0.3*(1 - punct_ratio)
          + 0.3*min(avg_word_len/8, 1)
    Returned as integer basis points (floor(score * 10000)).
    """
    return quality_score_from_words(whitespace_tokens_col(text), text)


def quality_score_from_words(words: Column, text: Column) -> Column:
    """:func:`quality_score_col` with a caller-supplied token array —
    for call sites that already hold the tokens (e.g. a rollup that
    also counts them), so the document is tokenized once, not twice."""
    n_tokens = F.size(words)
    n_chars = F.length(F.coalesce(text, F.lit("")))
    # punct count = length of the text with all alnum/ws RUNS deleted.
    # The run quantifier matters enormously: the equivalent negated
    # single-char form [^A-Za-z0-9\s] makes the regex engine iterate one
    # replacement match per character — measured 17x slower at 120k docs.
    n_punct = F.length(
        F.regexp_replace(F.coalesce(text, F.lit("")), r"[A-Za-z0-9\s]+", "")
    )
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    # sum of word lengths == count of non-whitespace chars (words are
    # exactly the non-ws runs), so one codegen'd regex pass replaces the
    # per-element interpreted HOF fold — measured 1.7x on the 120k filter
    nonws = F.length(F.regexp_replace(F.coalesce(text, F.lit("")), r"\s+", ""))
    avg_word_len = F.when(n_tokens > 0, nonws / n_tokens).otherwise(F.lit(0.0))
    score = (
        0.4 * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
        + 0.3 * (1 - punct_ratio)
        + 0.3 * F.least(avg_word_len / F.lit(8.0), F.lit(1.0))
    )
    # basis points via floor: round() half-breaking differs across engines
    # (Spark HALF_UP vs DuckDB) exactly at .xxxx5 values
    return F.floor(score * 10000).cast("int")


def fingerprint_col(text: Column) -> Column:
    """Content fingerprint: md5 of the NORMALIZED text (whitespace-
    insensitive), truncated to 16 hex chars — stable doc identity for
    dedup/lineage joins."""
    return F.substring(F.md5(normalize_block_text_col(text).cast("binary")), 1, 16)


# Char-trigram profiles per language (trigrams of common function words,
# '_'-padded word boundaries).  Public frequency-table style; the oracle SQL
# embeds the same literals, so classification is exactly reproducible.
LANG_TRIGRAM_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("_th", "the", "he_", "_a_", "_an", "and", "nd_", "_of", "of_",
           "_to", "to_", "_in", "in_", "ing", "ng_", "_is", "is_"),
    "de": ("_de", "der", "er_", "die", "ie_", "_di", "und", "_un", "nd_",
           "sch", "ein", "_ei", "ich", "ch_", "cht", "_da", "das"),
    "fr": ("_le", "les", "es_", "_de", "de_", "des", "ent", "nt_", "_qu",
           "que", "ue_", "_un", "une", "ne_", "_et", "et_", "ais"),
}


def char_trigrams_col(text: Column) -> Column:
    """All char trigrams of '_'-padded lowercase tokens (with multiplicity):
    'the cat' -> trigrams of '_the_' ++ trigrams of '_cat_'.  Padding keeps
    every padded token >= 3 chars, so no empty-sequence edge case."""
    padded = F.transform(
        whitespace_tokens_col(F.lower(text)),
        lambda w: F.concat(F.lit("_"), w, F.lit("_")),
    )
    return F.flatten(
        F.transform(
            padded,
            lambda w: F.transform(
                F.sequence(F.lit(1), F.length(w) - 2),
                lambda i: w.substr(i.cast("int"), F.lit(3)),
            ),
        )
    )


def language_id_scores(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """N-gram language ID: per-language trigram-profile hit ratio + argmax.

    score_L = floor(10000 * (# doc trigrams, with multiplicity, found in
    L's profile) / (total doc trigrams)) as integer basis points (floor so
    both engines agree bit-exactly; see quality_score_col); prediction is
    the best score with the fixed preference order en > de > fr on ties.
    Row-local (zero shuffles); mirrors the classic n-gram profile method
    (Cavnar & Trenkle) reduced to a fixed-profile hit ratio.
    """
    # One pass over the trigrams: explode once, look each trigram up in a
    # literal trigram -> bitmask map (bit0=en, bit1=de, bit2=fr), and let
    # the codegen'd hash aggregate count n + per-language hits together.
    # Partial aggregation completes map-side (all of a doc's trigrams come
    # from one input row), so the exchange carries ONE 5-int row per doc —
    # measured 3x faster than the naive 3x filter(tg, isin(profile)) form
    # and 2x faster than a row-local struct fold (interpreted HOF), with
    # no counter-overflow caps.
    langs = ("en", "de", "fr")
    masks: dict[str, int] = {}
    for bit, lang in enumerate(langs):
        for t in LANG_TRIGRAM_PROFILES[lang]:
            masks[t] = masks.get(t, 0) | (1 << bit)
    mask_map = F.create_map(
        *[x for t, m in sorted(masks.items()) for x in (F.lit(t), F.lit(m))]
    )
    exploded = df.select(
        F.col(id_col),
        F.explode_outer(char_trigrams_col(F.col(text_col))).alias("_tg"),
    )
    m = F.coalesce(mask_map[F.col("_tg")], F.lit(0))
    counted = exploded.groupBy(id_col).agg(
        F.count("_tg").alias("_n"),
        *[
            F.sum(F.shiftright(m, bit).bitwiseAND(F.lit(1))).alias(f"_h_{lg}")
            for bit, lg in enumerate(langs)
        ],
    )

    def score(lang: str) -> Column:
        return (
            F.when(
                F.col("_n") > 0,
                F.floor(F.lit(10000.0) * F.col(f"_h_{lang}") / F.col("_n")),
            )
            .otherwise(F.lit(0))
            .cast("int")
        )

    out = counted.select(
        F.col(id_col),
        score("en").alias("score_en"),
        score("de").alias("score_de"),
        score("fr").alias("score_fr"),
    )
    pred = (
        F.when(
            (F.col("score_en") >= F.col("score_de"))
            & (F.col("score_en") >= F.col("score_fr")),
            F.lit("en"),
        )
        .when(F.col("score_de") >= F.col("score_fr"), F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return out.withColumn("pred_lang", pred)


def repetition_profile(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition/diversity signals per document (Rae et al.,
    "Scaling Language Models: ... Gopher", 2021 — the repetition filters).

    Output (integer basis points via floor for cross-engine exactness):
      n_tokens            total whitespace tokens
      top_word_share_bp   floor(10000 * max single-word count / n_tokens)
      unique_ratio_bp     floor(10000 * distinct words / n_tokens)
      flagged             n_tokens >= 10 AND (top_word_share > 30% OR
                          unique ratio < 30%) — degenerate/repetitive doc
                          (Gopher-ish bounds; short docs are exempt, a
                          3-token doc legitimately has 33% top share)

    ROW-LOCAL (one projection, zero shuffles): the signals come from the
    sorted in-row token array (see ``_repetition_signals``), value-
    identical to the earlier explode + two-hash-aggregation plan but
    1.3-2.0x faster at every measured tier and — the part that matters
    at 100 TB — free of the exchange that carried one row per
    (doc, word) (BENCH/repetition.json; interleaved A/B:
    ``python tools/harness.py repetition``).
    """
    n, top, uniq = _repetition_signals(F.col(text_col))
    bp = lambda num: (  # noqa: E731
        F.when(n > 0, F.floor(F.lit(10000.0) * num / n))
        .otherwise(F.lit(0))
        .cast("int")
    )
    out = df.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        bp(top).alias("top_word_share_bp"),
        bp(uniq).alias("unique_ratio_bp"),
    )
    return out.withColumn(
        "flagged",
        (F.col("n_tokens") >= REP_MIN_TOKENS)
        & (
            (F.col("top_word_share_bp") > REP_TOP_SHARE_BP)
            | (F.col("unique_ratio_bp") < REP_UNIQUE_RATIO_BP)
        ),
    )


def redacted_text_col(text: Column) -> Column:
    """The PII redaction chain as ONE column expression — the single
    source of the category order for redact_pii (which additionally
    counts per category on the partially-redacted stream), the curation
    pipeline, and the streaming gates.  Keep all consumers on this
    helper so the redacted corpus cannot diverge from the value-checked
    redact_pii output."""
    out = text
    for _, pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


# Gopher repetition thresholds — single source for repetition_profile,
# repetition_flagged_col, and every oracle that mirrors them.
REP_MIN_TOKENS = 10
REP_TOP_SHARE_BP = 3000
REP_UNIQUE_RATIO_BP = 3000


def _repetition_signals(text: Column) -> tuple[Column, Column, Column]:
    """(n_tokens, top_word_count, distinct_count) as row-local column
    expressions — the shared kernel of ``repetition_profile`` and
    ``repetition_flagged_col``.

    The top-word count is a max-run-length fold over the SORTED token
    array — O(n log n) per row.  The obvious nested-HOF form
    (``transform(distinct, w -> count of w in words)``) is
    O(distinct x n) and measured 3.6x slower at 10^6 docs in one
    interleaved window (7.14 s vs 1.99 s best-of-4, value-identical);
    the sorted fold also beats the old explode + two-hash-aggregation
    plan (2.91 s) — see BENCH/repetition.json.  The fold's '' sentinel
    for ``prev`` cannot collide: the tokenizer drops empty strings."""
    words = whitespace_tokens_col(F.lower(text))
    return F.size(words), _max_run_count(words), F.size(F.array_distinct(words))


def _max_run_count(arr: Column) -> Column:
    """Count of the most frequent element of a string array, as a
    max-run-length fold over the sorted copy — the shared kernel of the
    repetition signals (see ``_repetition_signals`` for the measured
    rationale vs the nested-HOF form).  Elements must be non-empty
    (the '' fold sentinel)."""
    sorted_arr = F.array_sort(arr)
    step_run = lambda acc, w: (  # noqa: E731 — run length if w extends acc
        F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
    )
    return F.aggregate(
        sorted_arr,
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, w: F.struct(
            w.alias("prev"),
            step_run(acc, w).alias("run"),
            F.greatest(acc["best"], step_run(acc, w)).alias("best"),
        ),
        lambda acc: acc["best"],
    )


def repetition_flagged_col(text: Column) -> Column:
    """``repetition_profile``'s flag as ONE column expression (same
    thresholds, same basis-point arithmetic) for single-column consumers
    — the streaming gates and the inline curation filter."""
    n, top, uniq = _repetition_signals(text)
    # 10000.0 (double), NOT the int literal: 10000 * top overflows
    # IntegerType at top >= 214749 — under ANSI mode that THROWS on a
    # single ~1MB doc and kills the whole job (and repetition_profile's
    # arithmetic is double, so the twin would also diverge)
    return (n >= REP_MIN_TOKENS) & (
        (F.floor(F.lit(10000.0) * top / n) > REP_TOP_SHARE_BP)
        | (F.floor(F.lit(10000.0) * uniq / n) < REP_UNIQUE_RATIO_BP)
    )


# repetition_profile_full thresholds (Rae et al. 2021 Table A1 bounds,
# expressed in integer basis points; shared with the DuckDB oracle).
REP_DUP_LINE_BP = 3000        # duplicate line fraction > 0.30
REP_DUP_LINE_CHAR_BP = 2000   # duplicate line character fraction > 0.20
REP_TOP_NGRAM_BP = {2: 2000, 3: 1800, 4: 1600}


def repetition_profile_full(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The REST of Gopher's repetition filter family (Rae et al. 2021
    Table A1) beyond ``repetition_profile``'s word-level signals —
    duplicate-line fractions and top n-gram shares, integerized and
    entirely ROW-LOCAL (one projection, zero shuffles):

      n_lines                 '\\n'-split, space-trimmed, non-empty lines
      dup_line_frac_bp        floor(10000 * line occurrences after each
                              line's FIRST / n_lines)
      dup_line_char_frac_bp   floor(10000 * chars in those repeat
                              occurrences / total line chars)
      top_{2,3,4}gram_share_bp floor(10000 * most-frequent word n-gram
                              count / total n-grams), lowercased tokens
                              like the word-level profile
      flagged_full            any Table-A1 bound exceeded: dup lines
                              > 30%, dup line chars > 20%, top 2/3/4-gram
                              share > 20/18/16% (a 0 denominator never
                              flags)

    Deviations from the paper, chosen for integer cross-engine
    exactness: n-gram shares are COUNT fractions (the paper weights by
    characters), and duplicate-line char fraction counts repeat
    occurrences (total minus first-occurrence chars).  Thresholds keep
    the paper's values.  Like the paper, apply AFTER a word-count gate
    (``gopher_quality_rules``): a 4-word doc's all-distinct 2-grams
    already have top share 1/3 > 20%, so very short docs trivially
    exceed the share bounds.  The top-count kernel is the sorted
    max-run fold (``_max_run_count``); the O(distinct x n) nested-HOF
    form measured 3.6x slower.
    """
    sig = _full_repetition_cols(F.col(text_col))
    out = df.select(F.col(id_col), *(c.alias(name) for name, c in sig.items()))
    return out.withColumn(
        "flagged_full",
        _full_repetition_flag({name: F.col(name) for name in sig}),
    )


def _full_repetition_flag(sig: dict[str, Column]) -> Column:
    """The Table-A1 threshold disjunction over the signal dict — ONE
    definition shared by the batch profile and the streaming flag, so
    the bounds cannot desynchronize."""
    return (
        (sig["dup_line_frac_bp"] > REP_DUP_LINE_BP)
        | (sig["dup_line_char_frac_bp"] > REP_DUP_LINE_CHAR_BP)
        | (sig["top_2gram_share_bp"] > REP_TOP_NGRAM_BP[2])
        | (sig["top_3gram_share_bp"] > REP_TOP_NGRAM_BP[3])
        | (sig["top_4gram_share_bp"] > REP_TOP_NGRAM_BP[4])
    )


def _full_repetition_cols(text: Column) -> dict[str, Column]:
    """The line-level + n-gram repetition signals as named row-local
    column expressions — shared by ``repetition_profile_full`` and the
    single-column ``repetition_full_flagged_col``."""
    t = F.coalesce(text, F.lit(""))
    lines = F.filter(
        F.transform(F.split(t, "\n"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    n_lines = F.size(lines)
    dlines = F.array_distinct(lines)
    n_rep = n_lines - F.size(dlines)
    line_chars = F.aggregate(lines, F.lit(0), lambda a, s: a + F.length(s))
    rep_chars = line_chars - F.aggregate(
        dlines, F.lit(0), lambda a, s: a + F.length(s)
    )
    bp = lambda num, den: (  # noqa: E731
        F.when(den > 0, F.floor(F.lit(10000.0) * num / den))
        .otherwise(F.lit(0))
        .cast("int")
    )
    words = whitespace_tokens_col(F.lower(t))
    n_words = F.size(words)

    def gram_share(n: int) -> Column:
        # let-bound (functions.text.let_col): the per-gram lambda slices
        # the BOUND token array — referencing the split expression
        # directly would re-tokenize per gram position (quadratic)
        def share(ws: Column) -> Column:
            grams = F.when(
                F.size(ws) >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size(ws) - n),
                    lambda i: F.array_join(
                        F.slice(ws, i.cast("int") + 1, n), " "
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
            return bp(_max_run_count(grams), F.size(grams))

        return let_col(words, share)

    return {
        "n_lines": n_lines.cast("int"),
        "dup_line_frac_bp": bp(n_rep, n_lines),
        "dup_line_char_frac_bp": bp(rep_chars, line_chars),
        "top_2gram_share_bp": gram_share(2),
        "top_3gram_share_bp": gram_share(3),
        "top_4gram_share_bp": gram_share(4),
    }


def repetition_full_flagged_col(text: Column) -> Column:
    """``repetition_profile_full``'s flag as ONE column expression (same
    signals, same Table-A1 bounds via ``_full_repetition_flag``) for
    single-column consumers — the streaming gates' optional line/n-gram
    repetition filter."""
    return _full_repetition_flag(_full_repetition_cols(text))


def text_profile(df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document text-analysis profile (one row-local projection)."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.size(whitespace_tokens_col(t)).alias("n_tokens"),
        stopword_ratio_col(t).alias("stopword_ratio"),
        (stopword_ratio_col(t) >= 0.05).alias("looks_english"),
        quality_score_col(t).alias("quality_score"),
        fingerprint_col(t).alias("fingerprint"),
    )


def select_primary_language(
    df: DataFrame,
    *,
    languages_col: str = "languages",
    default: str = "en",
) -> DataFrame:
    """T1 top-1 language selection over an extracted detected-languages
    column (reference vision_processor.py:189-199 emits per-page
    (language_code, confidence) pairs; gemini.py:113 falls back to 'en',
    claude.py:190 to 'ja' — the divergent ``default`` knob).

    Generic row-local argmax over ``array<struct<lang, conf>>``: a fold
    keeping the best entry with STRICT > comparison, so the first of any
    tied-confidence entries wins (matching the reference's first-wins
    iteration order).  Empty/absent annotations take ``default`` and set
    used_default.  Zero shuffles; works on any number of candidates.
    """
    langs = F.col(languages_col)
    best = F.aggregate(
        langs,
        F.struct(
            F.lit(None).cast("string").alias("lang"),
            F.lit(-1.0).alias("conf"),
        ),
        lambda acc, x: F.when(
            x["conf"] > acc["conf"],
            F.struct(x["lang"].alias("lang"), x["conf"].alias("conf")),
        ).otherwise(acc),
    )
    return df.select(
        "doc_id",
        F.coalesce(best["lang"], F.lit(default)).alias("primary_lang"),
        best["lang"].isNull().alias("used_default"),
    )


# PII patterns shared with the DuckDB oracle (plain RE2-compatible syntax,
# no lookarounds, so Java regex and DuckDB's RE2 agree).  Order matters:
# emails are redacted before phones/IPs so digit runs inside a surviving
# address can't double-redact.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "[PHONE]"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
)


def redact_pii(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Training-data PII scrub: mask emails / phone numbers / IPv4
    addresses with typed placeholders and count each category.

    Row-local regexp_replace chain (JVM, codegen) — a pure map stage at
    any scale.  Counts are taken SEQUENTIALLY on the partially-redacted
    stream (phone/ipv4 count over the email-redacted text, not the
    original — same order as replacement), so engine and oracle agree
    even when patterns could overlap.
    Output: doc_id, redacted, n_email, n_phone, n_ipv4.
    """
    out = df
    text = F.col(text_col)
    counts = []
    current = text
    for name, pattern, token in PII_PATTERNS:
        counts.append(
            F.coalesce(F.regexp_count(current, F.lit(pattern)), F.lit(0)).alias(
                f"n_{name}"
            )
        )
        current = F.regexp_replace(current, pattern, token)
    return out.select("doc_id", current.alias("redacted"), *counts)


def vocab_coverage(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 1024,
) -> DataFrame:
    """Corpus vocabulary induction + per-document OOV accounting.

    Derives the top-``vocab_size`` lowercase tokens by corpus frequency
    (ties broken lexicographically, so the vocabulary is deterministic
    in any engine) and scores every document's coverage against it:
    (n_tokens, n_oov, oov_permille).  The permille is integer floor
    division — no float ratio crosses the engine boundary.

    Scale: the vocabulary is one wordcount shuffle + a distributed
    top-k (orderBy+limit = TakeOrdered, never a global sort), bounded
    at ``vocab_size`` rows INDEPENDENT of corpus size — so the join
    back is always broadcast.  The per-doc rollup is one shuffle keyed
    by doc id.  Two passes over the token stream (one to build the
    vocabulary, one to score) is inherent to the semantics; both are
    map-side-partial aggregations.
    """
    # explode_outer: an empty/NULL-text doc keeps one NULL-term row so
    # every input doc surfaces with a (0, 0, 0) coverage row — same
    # guarantee as the sibling per-doc profiles
    words = df.select(
        F.col(id_col),
        F.explode_outer(
            whitespace_tokens_col(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
        ).alias("term"),
    )
    vocab = (
        words.filter(F.col("term").isNotNull())
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(vocab_size)
        .select("term", F.lit(True).alias("in_vocab"))
    )
    scored = words.join(F.broadcast(vocab), "term", "left")
    oov = F.sum(
        F.when(F.col("term").isNotNull() & F.col("in_vocab").isNull(), 1).otherwise(0)
    )
    n = F.count(F.col("term"))
    return scored.groupBy(id_col).agg(
        n.alias("n_tokens"),
        oov.alias("n_oov"),
        F.when(n > 0, F.floor(oov * 1000 / n)).otherwise(0).cast("int")
        .alias("oov_permille"),
    )


def readability_profile(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Flesch-Kincaid-style readability grade, integer-milli exact.

    The classic quality gate for training-data curation, re-expressed
    so every engine computes the identical value (the repo's
    integer-cents convention): words are whitespace tokens after
    sentence punctuation strips to spaces; sentences are the non-empty
    ``[.!?]+`` segments (min 1); syllables approximate as vowel-group
    count per word (``[aeiouy]+`` runs, min 1 per word — the standard
    FK floor); and the grade is published in integer milli-units as

        fk_milligrade = floor(390*W/S) + floor(11800*Sy/W) - 15590

    (FK grade = 0.39*W/S + 11.8*Sy/W - 15.59, scaled x1000 with each
    term floored — exact in any engine while 390*W < 2^53).  Row-local
    column expressions; one shuffle-free map stage."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    toks = whitespace_tokens_col(F.regexp_replace(text, r"[.!?]+", " "))
    w = F.size(toks)
    sentences_raw = F.size(
        F.filter(
            F.split(text, r"[.!?]+"),
            lambda s: F.size(whitespace_tokens_col(s)) > 0,
        )
    )
    s = F.greatest(sentences_raw, F.lit(1))

    def syl(word: Column) -> Column:
        groups = F.size(
            F.filter(F.split(F.lower(word), "[^aeiouy]+"), lambda p: p != "")
        )
        return F.greatest(groups, F.lit(1))

    sy = F.aggregate(toks, F.lit(0), lambda acc, word: acc + syl(word))
    fk = F.floor(390 * w / s) + F.floor(11800 * sy / w) - 15590
    return df.select(
        F.col(id_col),
        w.cast("int").alias("n_words"),
        s.cast("int").alias("n_sentences"),
        sy.cast("int").alias("n_syllables"),
        F.when(w > 0, fk).cast("int").alias("fk_milligrade"),
    )


def dedup_intra_doc(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text", k: int = 8
) -> DataFrame:
    """Intra-document deduplication (the Gopher/FineWeb repeated-
    passage gate): split the document into ``k``-word chunks, drop
    every chunk that exactly repeats an EARLIER chunk of the same
    document, reassemble the survivors in order.

    Entirely row-local — ``array_distinct`` keeps the FIRST occurrence
    of each chunk in order (verified semantics), so the whole gate is
    one builtin hash-set pass per document inside codegen: no HOF fold,
    no shuffle, no state.  At 100 TB this is a pure map stage like
    every other gate.  (An aggregate/array_position fold computes the
    same result; the builtin measured 1.2x faster at 10^6 docs — the
    gate's dominant cost is tokenize+chunk rendering, not membership.)

    Output: (id, clean_text, n_chunks, n_removed)."""
    from cloud_ocr_summarizer_spark.functions.text import word_chunks_col

    chunks = word_chunks_col(F.col(text_col), k)
    kept = F.array_distinct(chunks)
    return df.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("clean_text"),
        F.size(chunks).cast("int").alias("n_chunks"),
        (F.size(chunks) - F.size(kept)).cast("int").alias("n_removed"),
    )


GOPHER_STOPWORDS = ("the", "and", "of", "a", "to", "in")


def gopher_quality_rules(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_stop_hits: int = 2,
) -> DataFrame:
    """The Gopher word-level quality rule set (Rae et al. 2021 §A1.1),
    integerized so every engine agrees exactly:

      R1 word count within [min_words, max_words]
      R2 mean word length in [3, 10]:  3*W <= chars <= 10*W
         (chars = non-whitespace characters across words)
      R3 >= 80% of words contain an alphabetic character:
         5*alpha_words >= 4*W
      R4 at least ``min_stop_hits`` distinct common stopwords present

    Complements ``gopher_repetition`` (the repetition half of the
    paper's filter).  One row-local projection; no shuffle.

    Output: (id, n_words, n_chars, n_alpha_words, n_stop_hits,
    passes_gopher)."""
    toks = whitespace_tokens_col(F.coalesce(F.col(text_col), F.lit("")))
    w = F.size(toks)
    chars = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    # one lowered pass; array_intersect returns distinct common
    # elements, so this counts DISTINCT stopwords present (same set
    # arithmetic as the oracle's list_filter/list_contains)
    stop_hits = F.size(
        F.array_intersect(
            F.transform(toks, F.lower),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    passes = (
        (w >= min_words)
        & (w <= max_words)
        & (3 * w <= chars)
        & (chars <= 10 * w)
        & (5 * alpha >= 4 * w)
        & (stop_hits >= min_stop_hits)
    )
    return df.select(
        F.col(id_col),
        w.cast("int").alias("n_words"),
        chars.cast("int").alias("n_chars"),
        alpha.cast("int").alias("n_alpha_words"),
        stop_hits.cast("int").alias("n_stop_hits"),
        passes.alias("passes_gopher"),
    )


def top_terms_per_doc(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    common_cap: int = 1024,
) -> DataFrame:
    """Rarity-weighted top-k terms per document (integer tf/df).

    The keyword-extraction signal: per (doc, term) frequency weighted
    by inverse document frequency, kept integer-exact as
    ``score_micro = tf * 10^6 div df_docs`` (monotone in the tf·idf
    ranking direction; no float log crosses the engine boundary), then
    the top ``k`` terms per doc by (score desc, term asc).

    Scale — the df join is where a naive plan dies: joining the
    (doc, term) tf table to the df table ON TERM sends every row of a
    stop-word term ("the" ≈ every doc) to one partition.  Exact
    frequency-split join instead: the top-``common_cap`` terms by df
    (deterministic ties) are BROADCAST — they are precisely the hot
    keys — and only the remaining rare tail (per-term multiplicity
    bounded above by the cap boundary's df) takes the shuffle join.
    Both paths use the same exact df values, so the result is identical
    to the naive join (the DuckDB twin IS the naive join) and
    independent of the split.  Top-k per doc is a doc-partitioned
    row_number window — per-key state is doc-sized, never corpus-sized.
    """
    from pyspark.sql import Window

    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            whitespace_tokens_col(
                F.lower(F.coalesce(F.col(text_col), F.lit("")))
            )
        ).alias("term"),
    )
    tf = words.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    common = (
        dfreq.orderBy(F.col("df_docs").desc(), F.col("term").asc())
        .limit(common_cap)
        .localCheckpoint(eager=False)
    )
    hot = tf.join(F.broadcast(common), "term")
    cold = tf.join(
        F.broadcast(common.select("term")), "term", "left_anti"
    ).join(dfreq, "term")
    scored = hot.unionByName(cold).select(
        "doc_id",
        "term",
        F.col("tf").cast("bigint").alias("tf"),
        F.col("df_docs").cast("bigint").alias("df_docs"),
        F.expr("tf * 1000000 div df_docs").cast("bigint").alias(
            "score_micro"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("term_rank") <= k)
        .select(
            F.col("doc_id").alias(id_col),
            "term_rank",
            "term",
            "tf",
            "df_docs",
            "score_micro",
        )
    )


def derive_script_noise_col(text_col: Column, doc_id: Column) -> Column:
    """documents.text + deterministic non-Latin padding.

    The testdata corpus is ASCII; appending ``doc_id % 5`` CJK and
    ``doc_id % 3`` Cyrillic characters (plus ``doc_id % 4`` digits)
    gives every script-counting branch real mass while staying a pure
    function of (text, doc_id) both engines can build."""
    return F.concat(
        F.coalesce(text_col, F.lit("")),
        F.repeat(F.lit("中"), (doc_id % 5).cast("int")),
        F.repeat(F.lit("й"), (doc_id % 3).cast("int")),
        F.repeat(F.lit("7"), (doc_id % 4).cast("int")),
    )


def script_profile(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    add_noise: bool = False,
) -> DataFrame:
    """Per-document Unicode-script character profile + dominant script.

    Counts Latin letters, CJK ideographs (U+4E00-U+9FFF), Cyrillic
    (U+0400-U+04FF) and ASCII digits by the delete-and-diff idiom
    (``length(s) - length(regexp_replace(s, class, ''))``) — row-local,
    whole-stage codegen, zero shuffles, the language-ID prior a
    fastText-style gate consults before any model runs.  The dominant
    script is the max count with a fixed tie order (latin, cjk,
    cyrillic, digit; all-zero -> 'other') so the label is deterministic
    in any engine.  The DuckDB twin counts with ITS OWN regexp engine
    (RE2 vs Java) over the same text — agreement checks the counting
    itself, not just the synthesis.
    """
    s = (
        derive_script_noise_col(F.col(text_col), F.col(id_col))
        if add_noise
        else F.coalesce(F.col(text_col), F.lit(""))
    )

    def _count(cls: str) -> Column:
        return (
            F.length(s) - F.length(F.regexp_replace(s, cls, ""))
        ).cast("bigint")

    n_latin = _count("[A-Za-z]")
    n_cjk = _count("[一-鿿]")
    n_cyr = _count("[Ѐ-ӿ]")
    n_digit = _count("[0-9]")
    best = F.greatest(n_latin, n_cjk, n_cyr, n_digit)
    main = (
        F.when(best == 0, F.lit("other"))
        .when(n_latin == best, F.lit("latin"))
        .when(n_cjk == best, F.lit("cjk"))
        .when(n_cyr == best, F.lit("cyrillic"))
        .otherwise(F.lit("digit"))
    )
    return df.select(
        F.col(id_col),
        n_latin.alias("n_latin"),
        n_cjk.alias("n_cjk"),
        n_cyr.alias("n_cyrillic"),
        n_digit.alias("n_digit"),
        main.alias("main_script"),
    )


def compression_profile(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    low_permille: int = 300,
    high_permille: int = 950,
) -> DataFrame:
    """zlib compression-ratio quality signal (Dolma/RefinedWeb-style).

    Ratio = compressed/uncompressed bytes in integer permille; a
    too-compressible document (< ``low_permille``) is hyper-repetitive
    boilerplate, an incompressible one (> ``high_permille``) is
    random/binary noise — both are curation drops orthogonal to the
    word-level Gopher rules.  Output: (doc_id, n_bytes, n_zlib,
    ratio_permille, flagged).

    Arrow-batched stdlib zlib over ``mapInPandas`` (fixed level 6, the
    warc.gzip_payloads precedent) — the one computation in this module
    a JVM expression genuinely cannot do, and the documented non-JVM
    cost.  Map-only: zero shuffles, per-batch memory bounded by Arrow
    batch sizing.  No SQL engine can mirror zlib, so the driver records
    the weaker rows-only check; the pytest pins values against the SAME
    stdlib the workers use.
    """
    import pandas as pd

    schema = (
        f"{id_col} bigint, n_bytes bigint, n_zlib bigint, "
        "ratio_permille int, flagged boolean"
    )

    def run(batches):
        import zlib

        for pdf in batches:
            raw = [
                (t if isinstance(t, str) else "").encode("utf-8")
                for t in pdf[text_col].fillna("")
            ]
            n_bytes = [len(b) for b in raw]
            n_zlib = [len(zlib.compress(b, 6)) for b in raw]
            ratio = [
                (c * 1000) // b if b else 0
                for c, b in zip(n_zlib, n_bytes)
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": n_bytes,
                    "n_zlib": n_zlib,
                    "ratio_permille": ratio,
                    "flagged": [
                        b > 0 and (r < low_permille or r > high_permille)
                        for r, b in zip(ratio, n_bytes)
                    ],
                }
            )

    return df.select(id_col, text_col).mapInPandas(run, schema=schema)
