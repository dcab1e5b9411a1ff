"""Deduplication operators for large-scale corpus curation.

Four tiers, cheapest first — all built so the expensive pairwise work only
ever happens inside small candidate buckets, never across the full corpus
(at 10^12 docs a global cross-join is off the table):

* ``exact_duplicates``      — hash-groupBy on normalized text (1 shuffle).
* ``ngram_jaccard_pairs``   — word n-gram Jaccard for candidate pairs that
                              share a gram within a blocking key.
* ``minhash_lsh_pairs``     — MinHash signatures + banded LSH: row-local
                              signature computation, one shuffle per band
                              bucket join, exact-Jaccard verification only
                              inside buckets.
* ``simhash_buckets``       — 64-bit SimHash fingerprint; near-dup pairs by
                              Hamming distance within prefix buckets.

MinHash follows Broder, "On the resemblance and containment of documents"
(1997) with the banded-LSH layout popularized by Leskovec/Rajaraman/Ullman
(Mining of Massive Datasets ch. 3); SimHash follows Charikar, "Similarity
estimation techniques from rounding algorithms" (STOC 2002).

All hashing is xxhash64 (seed-stable Spark built-in) so results are
deterministic across runs/partitionings; no Python in the hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from cloud_ocr_summarizer_spark.functions.text import (
    let_col,
    normalize_block_text_col,
    whitespace_tokens_col,
)


def word_ngrams_col(text: Column, n: int) -> Column:
    """Distinct word n-grams of a text column, row-local.  The token
    array is let-bound (functions.text.let_col) so the per-gram lambda
    never re-tokenizes the document (quadratic otherwise)."""

    def grams_of(words: Column) -> Column:
        grams = F.when(
            F.size(words) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(words) - n),
                lambda i: F.array_join(
                    F.slice(words, i.cast("int") + 1, n), " "
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.array_distinct(grams)

    return let_col(whitespace_tokens_col(text), grams_of)


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: group by md5 of normalized text; keeper = min id.

    One shuffle on the hash; at scale the md5 is computed map-side and the
    groupBy benefits from partial aggregation.
    """
    normalized = normalize_block_text_col(F.col(text_col))
    hashed = df.select(
        F.col(id_col), F.md5(normalized.cast("binary")).alias("text_hash")
    )
    return hashed.groupBy("text_hash").agg(
        F.count("*").alias("n_docs"),
        F.min(id_col).alias("keeper"),
    )


def _distinct_gram_stream(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    block_col: str | None,
    n: int,
) -> DataFrame:
    """(id[, blk], gram): one row per distinct word n-gram per doc —
    shared by the Jaccard join and the gram-df cap-drop audit."""
    return df.select(
        F.col(id_col).alias("id"),
        *([F.col(block_col).alias("blk")] if block_col else []),
        F.explode(word_ngrams_col(F.col(text_col), n)).alias("gram"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    n: int = 3,
    threshold: float = 0.5,
    max_gram_df: int | None = 256,
) -> DataFrame:
    """Exact word-n-gram Jaccard for candidate pairs sharing >=1 gram
    (optionally within a blocking column to bound the candidate set).

    Output: (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    intersection via gram-join counts; union = |A| + |B| - inter.

    ``max_gram_df`` caps the document frequency of grams entering the
    self-join: a gram shared by D docs contributes O(D^2) join rows, so
    one boilerplate gram in 10^5 docs would otherwise create 10^10 rows.
    Grams with df > cap are dropped from BOTH the join and the per-doc
    gram sizes, so jaccard is computed consistently over the rare-gram
    sets (near-dups keep sharing plenty of rare grams; what the cap
    removes is corpus-wide boilerplate that carries no dedup signal —
    standard MinHash-era practice).  ``None`` disables the cap.  Dropped
    grams are observable via ``ngram_gram_df_drop_audit``.
    """
    grams = _distinct_gram_stream(
        df, id_col=id_col, text_col=text_col, block_col=block_col, n=n
    )
    join_keys = ["gram"] + (["blk"] if block_col else [])
    # Materialize the gram stream behind one exchange: `grams` feeds the
    # df-cap aggregate, the semi-join, both self-join sides and the sizes
    # aggregate — identical repartition subtrees let ReuseExchange compute
    # the scan+explode ONCE instead of per consumer.
    grams = grams.repartition(*join_keys)
    if max_gram_df is not None:
        # grams are distinct per doc, so count(*) per gram == doc frequency
        rare = (
            grams.groupBy(*join_keys)
            .agg(F.count("*").alias("gram_df"))
            .filter(F.col("gram_df") <= max_gram_df)
            .drop("gram_df")
        )
        grams = grams.join(rare, on=join_keys, how="left_semi")
    sizes = grams.groupBy("id").agg(F.count("*").alias("n_grams"))
    b = grams
    pairs = (
        grams.alias("a")
        .join(b.alias("b"), on=join_keys)
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        pairs.join(sa, F.col("id_a") == F.col("sa.id"))
        .join(sb, F.col("id_b") == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter")
                / (F.col("sa.n_grams") + F.col("sb.n_grams") - F.col("inter")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def gram_hashes_pandas_df(
    df: DataFrame, *, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, grams array<long>): distinct word n-gram hashes, computed
    batch-vectorized in pandas — C tokenizer, shifted string concat, one
    ``pd.util.hash_array`` call per batch.  Measured 3.5x the JVM
    string-gram expression at 120k docs (string allocation dominates the
    JVM path; here it stays in vectorized object ops).

    Hash family: pandas' stable 64-bit siphash-style array hash —
    deterministic across runs/processes (fixed key), NOT cross-engine;
    use md5_gram_hashes_col for oracle-checked variants.
    """
    from pyspark.sql import types as T

    id_type = df.schema[id_col].dataType

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # ASCII-whitespace tokenization, identical to the JVM twin
            # whitespace_tokens_col (Java \s class): bare str.split() also
            # splits on Unicode whitespace (NBSP, U+2028, ...) and would
            # desync grams from the JVM/checked variants on such input.
            # Strip first so the regex split never yields empty edge tokens.
            stripped = pdf[text_col].fillna("").str.strip(" \t\n\x0b\f\r")
            words = stripped.str.split(r"[ \t\n\x0b\f\r]+", regex=True)
            empty = stripped == ""
            if empty.any():
                # ''.split(regex) yields [''], not [] — match str.split()/
                # the JVM twin, which emit NO token for whitespace-only text
                words = words.copy()
                words[empty] = pd.Series(
                    [[] for _ in range(int(empty.sum()))], index=words.index[empty]
                )
            lens = words.map(len).to_numpy()
            flat = pd.Series(
                np.concatenate(
                    [
                        np.array(w, dtype=object) if w else np.array([], dtype=object)
                        for w in words
                    ]
                ),
                dtype=object,
            )
            doc_idx = np.repeat(np.arange(len(words)), lens)
            if len(doc_idx):
                # gram i spans words i..i+n-1; valid iff word i+n-1 is in
                # the same doc (shifted doc index, -1-padded to length)
                shifted = np.full(len(doc_idx), -1, dtype=doc_idx.dtype)
                if len(doc_idx) >= n - 1:
                    shifted[: len(doc_idx) - (n - 1)] = doc_idx[n - 1 :]
                same_doc = shifted == doc_idx
                gram = flat
                for k in range(1, n):
                    gram = gram + " " + flat.shift(-k)
                grams = gram[same_doc]
                gdoc = doc_idx[same_doc]
                h = pd.util.hash_array(grams.to_numpy(dtype=object)).view(np.int64)
                per = pd.DataFrame({"d": gdoc, "h": h}).drop_duplicates()
                grouped = per.groupby("d", sort=False)["h"].apply(list)
            else:
                grouped = {}
            res = [[]] * len(words)
            for d, lst in dict(grouped).items():
                res[d] = lst
            yield pd.DataFrame({"id": pdf[id_col], "grams": res})

    schema = T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("grams", T.ArrayType(T.LongType())),
        ]
    )
    return df.mapInPandas(run, schema=schema)



# Fixed odd multipliers/offsets (golden-ratio sequence) for the affine
# signature family used on the vectorized path; wraparound uint64 arithmetic.
_GOLDEN = 0x9E3779B97F4A7C15


def _sig_pandas(num_hashes: int):
    """Series[array<long>] -> Series[array<long>] pandas_udf: MinHash
    signatures via one numpy matrix min-reduce per Arrow batch.

    sig[i] = min over gram hashes g of (a_i * g + b_i) mod 2^64 — a
    deterministic universal-hash family, fully vectorized: the whole batch
    flattens to one (total_grams x num_hashes) uint64 matrix reduced with
    minimum.reduceat.  ~100x the throughput of the interpreted HOF tree.
    """
    a = (np.arange(1, num_hashes + 1, dtype=np.uint64) * np.uint64(_GOLDEN)) | np.uint64(1)
    b = np.arange(num_hashes, dtype=np.uint64) * np.uint64(0xC2B2AE3D27D4EB4F)

    @pandas_udf("array<bigint>")
    def sig(ghashes: pd.Series) -> pd.Series:
        lengths = ghashes.map(len).to_numpy()
        out = [[0] * num_hashes] * len(ghashes)
        nz = np.flatnonzero(lengths > 0)
        if len(nz) == 0:
            return pd.Series(out)
        nz_lens = lengths[nz]
        flat = np.concatenate(
            [np.asarray(ghashes.iat[i], dtype=np.int64) for i in nz]
        ).view(np.uint64)
        with np.errstate(over="ignore"):
            mat = flat[:, None] * a[None, :] + b[None, :]  # uint64 wraparound
        starts = np.zeros(len(nz_lens), dtype=np.int64)
        np.cumsum(nz_lens[:-1], out=starts[1:])
        mins = np.minimum.reduceat(mat, starts, axis=0).view(np.int64)
        for row_i, m in zip(nz, mins):
            out[row_i] = m
        return pd.Series(out)

    return sig


# --- cross-engine (md5/affine) hash family for the CHECKED variant -------
# All arithmetic stays below 2^62 so BIGINT (DuckDB) and int64/uint64
# (numpy) agree exactly; see plans/oracles.py ORACLES["dedup_minhash_checked"].
from cloud_ocr_summarizer_spark.functions.hashing import M31 as _CK_M  # noqa: E402

_CK_MULT = 2654435761
_CK_BOFF = 40503
_CK_BAND_B = 131


def md5_gram_hashes_col(text: Column, n: int) -> Column:
    """Word n-grams hashed with the shared cross-engine family
    (functions/hashing.md5_hash31_col)."""
    from cloud_ocr_summarizer_spark.functions.hashing import md5_hash31_col

    return F.array_distinct(F.transform(word_ngrams_col(text, n), md5_hash31_col))


def _sig_pandas_affine(num_hashes: int):
    """Checked-variant signature: sig[i] = min over grams g of
    (a_i*g + b_i) % M with a_i = ((MULT*(i+1)) % M) | 1, b_i =
    (BOFF*(i+7)) % M — bit-identical to the DuckDB oracle SQL."""
    a = (((_CK_MULT * (np.arange(num_hashes, dtype=np.uint64) + 1)) % _CK_M)
         | np.uint64(1))
    b = (_CK_BOFF * (np.arange(num_hashes, dtype=np.uint64) + 7)) % _CK_M

    @pandas_udf("array<bigint>")
    def sig(ghashes: pd.Series) -> pd.Series:
        lengths = ghashes.map(len).to_numpy()
        out = [[0] * num_hashes] * len(ghashes)
        nz = np.flatnonzero(lengths > 0)
        if len(nz) == 0:
            return pd.Series(out)
        nz_lens = lengths[nz]
        flat = np.concatenate(
            [np.asarray(ghashes.iat[i], dtype=np.int64) for i in nz]
        ).astype(np.uint64)
        mat = (flat[:, None] * a[None, :] + b[None, :]) % _CK_M  # < 2^62: exact
        starts = np.zeros(len(nz_lens), dtype=np.int64)
        np.cumsum(nz_lens[:-1], out=starts[1:])
        mins = np.minimum.reduceat(mat, starts, axis=0).astype(np.int64)
        for row_i, m in zip(nz, mins):
            out[row_i] = m
        return pd.Series(out)

    return sig


def _affine_band_bucket(sig: Column, band: Column, rows_per_band: int) -> Column:
    """bucket = fold over the band slice of (acc*131 + x) % M."""
    return F.aggregate(
        F.slice(sig, band.cast("int") * rows_per_band + 1, rows_per_band),
        F.lit(0).cast("long"),
        lambda acc, x: F.pmod(acc * _CK_BAND_B + x, F.lit(_CK_M)),
    )


def _lsh_banded(
    base: DataFrame,
    sig_udf,
    bucket_fn,
    *,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """base(id, grams) -> (id, band, bucket): signature + banded bucket
    keys.  Shared by the pair expansion AND the cap-drop audit so the two
    can never diverge on what lands in a bucket."""
    rows_per_band = num_hashes // bands
    sig = base.select("id", sig_udf(F.col("grams")).alias("sig"))
    return sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.cast("int").alias("band"),
                    bucket_fn(F.col("sig"), b, rows_per_band).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def _cap_drop_summary(
    sizes: DataFrame, *, cap_name: str, cap: int, size_col: str = "bsz"
) -> DataFrame:
    """Group-size frame -> ONE row (cap_name, cap_value, dropped_groups,
    dropped_rows): how many groups exceed the cap and how many member rows
    they carried.  coalesce(0) so a cap that never fires still yields an
    explicit zero row — silence is the failure mode being fixed."""
    over = sizes.filter(F.col(size_col) > cap)
    return over.agg(
        F.lit(cap_name).alias("cap_name"),
        F.lit(cap).cast("int").alias("cap_value"),
        F.coalesce(F.count("*"), F.lit(0)).alias("dropped_groups"),
        F.coalesce(F.sum(size_col), F.lit(0)).cast("long").alias("dropped_rows"),
    )


def _lsh_pairs_from_base(
    base: DataFrame,
    sig_udf,
    bucket_fn,
    *,
    num_hashes: int,
    bands: int,
    threshold: float,
    max_bucket_size: int | None = 4096,
) -> DataFrame:
    """Shared LSH skeleton: base(id, grams) -> sig -> band buckets ->
    in-bucket pair expansion -> exact-Jaccard verification.

    ``max_bucket_size`` skips degenerate hot buckets: a (band, bucket)
    holding k docs becomes ONE k-array row whose pair expansion is O(k^2)
    in a single task — a 10^5-identical-doc corpus would hang one executor
    on 10^10 pairs.  Buckets above the cap are dropped (their members are
    mass-duplicates that exact dedup catches far cheaper — run
    exact_duplicates first, as plans/curate.py does).  ``None`` disables.
    Dropped buckets are observable via ``lsh_bucket_drop_audit`` (same
    banding stage, aggregated over-cap counts).
    """
    banded = _lsh_banded(
        base, sig_udf, bucket_fn, num_hashes=num_hashes, bands=bands
    )

    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    k = F.size(F.col("ids"))
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), k - 2),
            lambda i: F.transform(
                F.sequence(i + 1, k - 1),
                lambda j: F.struct(
                    F.element_at(F.col("ids"), i.cast("int") + 1).alias("id_a"),
                    F.element_at(F.col("ids"), j.cast("int") + 1).alias("id_b"),
                ),
            ),
        )
    )
    pairs = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )
    ga = base.select(F.col("id").alias("id_a"), F.col("grams").alias("grams_a"))
    gb = base.select(F.col("id").alias("id_b"), F.col("grams").alias("grams_b"))
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size(F.array_union("grams_a", "grams_b"))
    return (
        pairs.join(ga, "id_a")
        .join(gb, "id_b")
        .select("id_a", "id_b", F.round(inter / union, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _checked_minhash_base(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int,
    parallelism: int | None,
) -> DataFrame:
    """(id, grams) base for the md5/affine LSH family — shared by the
    pair expansion and the cap-drop audit."""
    par = parallelism or df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(par)  # spread the CPU-heavy gram stage
        .select(
            F.col(id_col).alias("id"),
            md5_gram_hashes_col(F.col(text_col), n).alias("grams"),
        )
        .filter(F.size("grams") > 0)
        .repartition(par, "id")  # ReuseExchange materialization point
    )


def minhash_lsh_pairs_checked(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    parallelism: int | None = None,
    max_bucket_size: int | None = 4096,
) -> DataFrame:
    """MinHash LSH with the md5/affine hash family — every arithmetic step
    reproducible in DuckDB, so the driver value-checks the full pipeline
    (plans/oracles.py "dedup_minhash_checked", which mirrors the
    ``max_bucket_size`` cap).  Marginally slower than minhash_lsh_pairs
    (md5 vs xxhash64 gram hashing); same semantics."""
    base = _checked_minhash_base(
        df, id_col=id_col, text_col=text_col, n=n, parallelism=parallelism
    )
    return _lsh_pairs_from_base(
        base,
        _sig_pandas_affine(num_hashes),
        _affine_band_bucket,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        max_bucket_size=max_bucket_size,
    )


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    parallelism: int | None = None,
    max_bucket_size: int | None = 4096,
) -> DataFrame:
    """MinHash + banded LSH near-dup candidates, verified with exact Jaccard.

    Pipeline shape (scale-first):
      1. row-local: gram hashes -> signature (computed ONCE — no self-join
         recompute) -> per-band bucket keys;
      2. groupBy (band, bucket): buckets holding >1 doc expand to candidate
         id pairs row-locally (buckets are near-dup groups, so tiny);
      3. distinct pairs join gram sets back by id; exact Jaccard only for
         candidates.

    ``parallelism`` repartitions the input first — a single-file parquet
    scan otherwise runs the (CPU-heavy) signature stage on one core.
    Docs shorter than n words are dropped.
    Output: (id_a, id_b, jaccard) with jaccard >= threshold.
    """
    # First repartition: spread the CPU-heavy gram stage (a single-file
    # input otherwise runs it on one core).  Gram stage lineage of A/Bs
    # (all measured at 120k docs, keep measuring before swapping):
    # word-hash-combine 3x slower than JVM string grams; JVM string grams
    # 3.5x slower than the batch-vectorized pandas path used here.
    # Second repartition (AFTER the gram stage): `base` feeds three plan
    # branches (signature + both verification joins); an identical
    # exchange subtree lets ReuseExchange materialize the grams ONCE
    # instead of recomputing them per branch — measured 1.85x end-to-end.
    par = parallelism or df.sparkSession.sparkContext.defaultParallelism
    base = (
        gram_hashes_pandas_df(
            df.repartition(par), id_col=id_col, text_col=text_col, n=n
        )
        .filter(F.size("grams") > 0)
        .repartition(par, "id")
    )

    def xxhash_bucket(sig: Column, band: Column, rows_per_band: int) -> Column:
        return F.xxhash64(
            F.slice(sig, band.cast("int") * rows_per_band + 1, rows_per_band)
        )

    return _lsh_pairs_from_base(
        base,
        _sig_pandas(num_hashes),
        xxhash_bucket,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        max_bucket_size=max_bucket_size,
    )



def _simhash_pandas(bits: int = 64):
    """Series[array<long>] (word hashes) -> Series[array<int>] (sign bits),
    vectorized: one (total_words x bits) matrix + add.reduceat per batch."""
    shifts = np.arange(bits, dtype=np.uint64)

    @pandas_udf("array<int>")
    def sim(whashes: pd.Series) -> pd.Series:
        lengths = whashes.map(len).to_numpy()
        out = [[0] * bits] * len(whashes)
        nz = np.flatnonzero(lengths > 0)
        if len(nz) == 0:
            return pd.Series(out)
        nz_lens = lengths[nz]
        flat = np.concatenate(
            [np.asarray(whashes.iat[i], dtype=np.int64) for i in nz]
        ).view(np.uint64)
        signs = (((flat[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64) * 2 - 1)
        starts = np.zeros(len(nz_lens), dtype=np.int64)
        np.cumsum(nz_lens[:-1], out=starts[1:])
        sums = np.add.reduceat(signs, starts, axis=0)
        bit_rows = (sums > 0).astype(np.int32)
        for row_i, r in zip(nz, bit_rows):
            out[row_i] = r
        return pd.Series(out)

    return sim


def simhash_fingerprints(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash bit array).  Near-dup pairs = small Hamming distance.
    Word hashing stays JVM-side (one cheap transform); the 64-bit sign
    reduction runs on the vectorized pandas path.

    Zero-token docs are EXCLUDED (same contract as the checked twin,
    ``_checked_simhash_fp``): every empty doc hashes to the identical
    all-zero fingerprint, so k blank OCR pages would otherwise co-bucket
    in every band and emit ~k^2/2 bogus hamming-0 pairs (or silently
    saturate the bucket cap)."""
    toks = whitespace_tokens_col(F.col(text_col))
    whashes = F.transform(toks, lambda w: F.xxhash64(w))
    return df.filter(F.size(toks) > 0).select(
        F.col(id_col).alias("id"),
        _simhash_pandas(64)(whashes).alias("bits"),
    )


def simhash_near_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    bands: int = 4,
    max_bucket_size: int | None = 4096,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance, banded-LSH style.

    The 64 bits split into ``bands`` blocks; a pair is a candidate if ANY
    block matches exactly (pigeonhole: hamming <= bands-1 guarantees a
    match; up to max_hamming found with high recall).  One shuffle on
    (band, block-bucket); exact Hamming verified inside buckets only.
    Output: (id_a, id_b, hamming) with hamming <= max_hamming.
    """
    fp = simhash_fingerprints(df, id_col=id_col, text_col=text_col)
    return _simhash_pairs_from_fp(
        fp, bits=64, bands=bands, max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
    )


def _simhash_banded(fp: DataFrame, *, bits: int, bands: int) -> DataFrame:
    """(id, bits) -> (id, bits, band, bucket): block-prefix bucket keys.
    Shared by the pair join and the cap-drop audit."""
    block = bits // bands
    return fp.select(
        "id",
        "bits",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.cast("int").alias("band"),
                    F.aggregate(
                        F.slice(F.col("bits"), b.cast("int") * block + 1, block),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc * 2 + x,
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(
        "id", "bits", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _simhash_pairs_from_fp(
    fp: DataFrame,
    *,
    bits: int,
    bands: int,
    max_hamming: int,
    max_bucket_size: int | None = 4096,
) -> DataFrame:
    """(id, bits) fingerprints -> (id_a, id_b, hamming) near pairs via
    banded exact-block matching (one shuffle on (band, bucket)).

    ``max_bucket_size`` drops degenerate hot buckets before the in-bucket
    self-join (a bucket of k docs is k^2 join rows in one task); it also
    prunes singleton buckets from the join input.  Mass-identical docs
    belong to exact dedup, not here — see _lsh_pairs_from_base.  Dropped
    buckets are observable via ``simhash_bucket_drop_audit``."""
    banded = _simhash_banded(fp, bits=bits, bands=bands)
    if max_bucket_size is not None:
        ok = (
            banded.groupBy("band", "bucket")
            .agg(F.count("*").alias("bsz"))
            .filter((F.col("bsz") > 1) & (F.col("bsz") <= max_bucket_size))
            .drop("bsz")
        )
        banded = banded.join(ok, on=["band", "bucket"], how="left_semi")
    a = banded.alias("a")
    b = banded.alias("b")
    ham = F.aggregate(
        F.zip_with(F.col("a.bits"), F.col("b.bits"), lambda x, y: F.abs(x - y)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def md5_word_hashes_col(text: Column) -> Column:
    """One hash per whitespace token with the shared cross-engine family
    (functions/hashing.md5_hash31_col)."""
    from cloud_ocr_summarizer_spark.functions.hashing import md5_hash31_col

    return F.transform(whitespace_tokens_col(text), md5_hash31_col)


def _checked_simhash_fp(
    df: DataFrame, *, id_col: str, text_col: str, bits: int, bands: int
) -> DataFrame:
    """(id, bits) fingerprints for the cross-engine md5 SimHash family —
    shared by the pair join and the cap-drop audit."""
    if bits % bands or bits >= 31:
        raise ValueError("bits must be < 31 and divisible by bands")
    base = df.select(
        F.col(id_col).alias("id"),
        md5_word_hashes_col(F.col(text_col)).alias("wh"),
    ).filter(F.size("wh") > 0)
    return base.select("id", _simhash_pandas(bits)(F.col("wh")).alias("bits"))


def simhash_near_pairs_checked(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 24,
    bands: int = 4,
    max_hamming: int = 6,
    max_bucket_size: int | None = 4096,
) -> DataFrame:
    """SimHash near-dup pairs with the cross-engine md5 hash family so a
    DuckDB oracle can value-check the FULL pipeline (word hashing, per-bit
    majority sign, banding, bucket join, exact Hamming filter — including
    the ``max_bucket_size`` cap, mirrored in the oracle SQL).

    ``bits`` must stay < 31 (md5-family hashes are 31-bit) and divisible
    by ``bands``.  Same physical shape as ``simhash_near_pairs``: row-local
    fingerprints on the vectorized pandas path, one shuffle on
    (band, bucket), Hamming verified only inside buckets.
    """
    fp = _checked_simhash_fp(df, id_col=id_col, text_col=text_col, bits=bits, bands=bands)
    return _simhash_pairs_from_fp(
        fp, bits=bits, bands=bands, max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: per corpus doc, how many of its word
    n-grams appear anywhere in a benchmark/eval set (the standard
    8-13-gram overlap check run before training to keep eval data out of
    the training corpus).

    Scale shape: eval sets are tiny next to a training corpus, so the
    benchmark's DISTINCT grams build map-side and BROADCAST into a left
    join against the corpus gram stream — the corpus explodes row-locally
    and is never shuffled by the join; the only shuffle is the per-doc
    hash aggregation (map-side partial).  Docs with zero grams (shorter
    than n words) are dropped — they cannot be contaminated.

    Output: (doc_id, n_grams, n_hit_grams, contaminated).
    """
    cg = corpus.select(
        F.col(id_col).alias("id"),
        F.explode(word_ngrams_col(F.col(text_col), n)).alias("gram"),
    )
    bg = (
        benchmark.select(
            F.explode(word_ngrams_col(F.col(bench_text_col), n)).alias("gram")
        )
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    marked = cg.join(F.broadcast(bg), on="gram", how="left")
    return (
        marked.groupBy("id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit_grams"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_grams",
            "n_hit_grams",
            (F.col("n_hit_grams") > 0).alias("contaminated"),
        )
    )


# --- cap-drop observability ----------------------------------------------
# Every cap above (gram-df, LSH bucket, SimHash bucket) silently discards
# data when it fires; at 10^12 docs the caps WILL fire, and a curation run
# that skipped the most-duplicated content must be distinguishable from one
# that didn't.  Each audit reuses the exact stage the cap filters (shared
# helpers — the audit cannot diverge from the operator) and returns ONE row
# (cap_name, cap_value, dropped_groups, dropped_rows).  plans/curate.py
# unions them into the ``curation_audit`` query; lineage is the natural
# sink in a deployed run.


def ngram_gram_df_drop_audit(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    n: int = 3,
    max_gram_df: int = 256,
) -> DataFrame:
    """How much the ``max_gram_df`` cap of ``ngram_jaccard_pairs`` drops:
    groups = distinct over-cap grams, rows = (doc, gram) pairs removed."""
    grams = _distinct_gram_stream(
        df, id_col=id_col, text_col=text_col, block_col=block_col, n=n
    )
    join_keys = ["gram"] + (["blk"] if block_col else [])
    sizes = grams.groupBy(*join_keys).agg(F.count("*").alias("bsz"))
    return _cap_drop_summary(
        sizes, cap_name="ngram_gram_df", cap=max_gram_df
    )


def lsh_bucket_drop_audit(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket_size: int = 4096,
    parallelism: int | None = None,
) -> DataFrame:
    """How much the ``max_bucket_size`` cap of
    ``minhash_lsh_pairs_checked`` drops: groups = over-cap (band, bucket)
    pairs, rows = doc memberships they carried (a doc in two hot buckets
    counts twice — that is what the pair expansion would have seen).
    Uses the md5/affine family so a DuckDB oracle value-checks the counts;
    the xxhash production variant shares the banding code path."""
    base = _checked_minhash_base(
        df, id_col=id_col, text_col=text_col, n=n, parallelism=parallelism
    )
    banded = _lsh_banded(
        base,
        _sig_pandas_affine(num_hashes),
        _affine_band_bucket,
        num_hashes=num_hashes,
        bands=bands,
    )
    sizes = banded.groupBy("band", "bucket").agg(F.count("*").alias("bsz"))
    return _cap_drop_summary(
        sizes, cap_name="minhash_lsh_bucket", cap=max_bucket_size
    )


def simhash_bucket_drop_audit(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 24,
    bands: int = 4,
    max_bucket_size: int = 4096,
) -> DataFrame:
    """How much the ``max_bucket_size`` cap of
    ``simhash_near_pairs_checked`` drops (same accounting as
    ``lsh_bucket_drop_audit``)."""
    fp = _checked_simhash_fp(
        df, id_col=id_col, text_col=text_col, bits=bits, bands=bands
    )
    banded = _simhash_banded(fp, bits=bits, bands=bands)
    sizes = banded.groupBy("band", "bucket").agg(F.count("*").alias("bsz"))
    return _cap_drop_summary(
        sizes, cap_name="simhash_bucket", cap=max_bucket_size
    )


def contaminated_doc_ids(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Decontamination membership only: doc ids sharing >=1 word n-gram
    with the benchmark — same contaminated set as ``ngram_contamination``
    without the per-doc gram statistics.

    Scale shape: the corpus gram stream SEMI-joins the broadcast
    benchmark grams, so non-hit grams die at the probe — no per-doc hash
    aggregation over every (doc, gram) group just to decide a boolean.
    The only shuffle is the distinct over the (rare) hit ids.  Wall time
    is explode-scan-bound either way (~2% faster at 10^6 docs,
    interleaved A/B; membership verified equal) — the win is aggregation
    STATE: the stats form keeps 10^8+ gram groups live at 10^7 docs,
    this form only the hits.  Use ngram_contamination when the hit
    counts themselves are the product.
    """
    cg = corpus.select(
        F.col(id_col).alias(id_col),
        F.explode(word_ngrams_col(F.col(text_col), n)).alias("gram"),
    )
    bg = benchmark.select(
        F.explode(word_ngrams_col(F.col(bench_text_col), n)).alias("gram")
    ).distinct()
    return cg.join(F.broadcast(bg), "gram", "left_semi").select(id_col).distinct()


def duplicate_clusters(
    pairs: DataFrame,
    *,
    max_iterations: int = 20,
) -> DataFrame:
    """Near-dup pair edges (id_a, id_b) -> (doc_id, cluster_id): connected
    components, cluster_id = the MIN doc id in each component.

    Pair mining alone under-deduplicates chains: A~B and B~C pairs make
    {A,B,C} one duplicate cluster even when (A,C) never co-bucketed.
    This is ``linkgraph.min_labels`` (the min-label function behind
    ``link_components``) run to convergence: it stops at the first round
    that changes no label, and raises ``RuntimeError`` if labels still
    move after ``max_iterations`` rounds — returning them would silently
    under-merge clusters (tail docs keep non-minimal labels and survive
    keep-one-per-cluster dedup).  Near-dup components are shallow; 20
    rounds cover diameter-20 chains, far beyond real dup clusters.  The
    driver only reads one changed-row count per round; no row data ever
    reaches it.
    """
    from cloud_ocr_summarizer_spark.operators.linkgraph import min_labels

    if max_iterations < 1:
        raise ValueError("max_iterations must be >= 1")
    edges = pairs.select(
        F.col("id_a").alias("src_doc_id"), F.col("id_b").alias("dst_doc_id")
    )
    return min_labels(edges, rounds=max_iterations, converge=True).select(
        "doc_id", F.col("label").alias("cluster_id")
    )


def dedup_cross_doc_passages(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text", k: int = 8
) -> DataFrame:
    """C4-style cross-DOCUMENT passage deduplication (Raffel et al. 2020
    §2.2 deduplicate repeated spans corpus-wide; word-chunk granularity
    like the intra-doc gate): split every document into consecutive
    ``k``-word chunks, keep only the globally FIRST occurrence of each
    distinct chunk — ordered by (doc_id, chunk_idx) — and reassemble the
    surviving chunks per document in order.  The intra-doc gate
    (``textstats.dedup_intra_doc``) falls out as a special case: a chunk
    repeated within one document also loses to its own first occurrence.

    Scale shape (no pairwise work anywhere):
      1. one explode to (doc, idx, chunk) — O(total chunks) rows;
      2. one hash aggregation keyed by chunk taking min(struct(doc,
         idx)).  First-occurrence-wins means the kept occurrences ARE
         exactly the per-chunk minima, so there is NO join back to the
         occurrence stream; hot boilerplate chunks collapse in the
         map-side partial min before the exchange (skew-safe);
      3. one reassembly aggregation keyed by doc (collect_list +
         array_sort — hash agg, not a window sort);
      4. broadcast-free 1:1 left join back to the input for docs whose
         every chunk lost (clean_text '').

    Output: (id, clean_text, n_chunks, n_removed).
    """
    from cloud_ocr_summarizer_spark.functions.text import word_chunks_col

    occ = df.select(
        F.col(id_col),
        F.posexplode(word_chunks_col(F.col(text_col), k)).alias("_idx", "_chunk"),
    )
    winners = occ.groupBy("_chunk").agg(
        F.min(F.struct(F.col(id_col), F.col("_idx"))).alias("_w")
    )
    kept = winners.select(
        F.col("_w")[id_col].alias(id_col),
        F.col("_w._idx").alias("_idx"),
        F.col("_chunk"),
    )
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_idx", "_chunk"))),
                lambda s: s["_chunk"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    # the totals branch needs only the COUNT of chunks — ceil(words/k)
    # — so it never pays the chunk-string rendering the occ branch does
    # (rendering is the gate's dominant map-side cost; halving it
    # mattered enough to call out in dedup_intra_doc's docstring too)
    n_chunks = F.ceil(
        F.size(whitespace_tokens_col(F.coalesce(F.col(text_col), F.lit(""))))
        / F.lit(k)
    ).cast("int")
    totals = df.select(F.col(id_col), n_chunks.alias("_n_chunks"))
    return totals.join(reassembled, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        F.col("_n_chunks").cast("int").alias("n_chunks"),
        (F.col("_n_chunks") - F.coalesce(F.col("_n_kept"), F.lit(0)))
        .cast("int")
        .alias("n_removed"),
    )


def dedup_keep_best(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Near-dup cluster canonicalization: keep the best-quality member.

    Mining pairs (or even clusters) only answers "what is duplicated";
    a curation pipeline must then DECIDE which copy survives.  The
    standard policy is keep-best: group near-dups into connected
    components (:func:`duplicate_clusters`) and keep the member with the
    highest quality score, ties to the smallest doc_id.

    Output: (doc_id, cluster_id, quality_bp, kept) for EVERY input doc —
    singletons are their own cluster and always kept, so the kept=true
    subset is the curated corpus and the kept=false subset is the
    audit trail.

    Scale shape: the rank window runs ONLY over the clustered subset
    (the duplicate docs — orders of magnitude smaller than the corpus);
    singletons never enter a window, so the corpus-sized branch is one
    anti-join against the small cluster table, not a full-corpus
    shuffle-and-rank.  quality_bp is integer basis points
    (textstats.quality_score_col) — cross-engine exact.
    """
    from pyspark.sql import Window

    from cloud_ocr_summarizer_spark.operators.textstats import quality_score_col

    clusters = duplicate_clusters(pairs.select("id_a", "id_b"))
    scored = docs.select(
        F.col("doc_id"), quality_score_col(F.col("text")).alias("quality_bp")
    )
    in_cluster = scored.join(clusters, "doc_id")
    rank = F.row_number().over(
        Window.partitionBy("cluster_id").orderBy(
            F.col("quality_bp").desc(), F.col("doc_id").asc()
        )
    )
    ranked = in_cluster.select(
        "doc_id", "cluster_id", "quality_bp", (rank == 1).alias("kept")
    )
    singles = scored.join(clusters.select("doc_id"), "doc_id", "left_anti").select(
        "doc_id",
        F.col("doc_id").alias("cluster_id"),
        "quality_bp",
        F.lit(True).alias("kept"),
    )
    return ranked.unionByName(singles)
