"""Driver-checkable queries: one per implemented operator family.

Every function here takes (spark, sf_dir) and returns a DataFrame; most have
an ANSI-SQL twin in ``oracles.py`` that DuckDB runs on the same parquet —
the pair IS the correctness gate (driver compares row count + schema +
order-insensitive value hash).  Conventions to keep the two sides
hash-identical:

* alias every computed column, same name both sides;
* round every float aggregate to a fixed number of decimals BOTH sides;
* deterministic total ordering before any row_number / top-k cutoff;
* NEVER round(sum(<multi-decimal product>), k): a few percent of groups
  land exactly on a rounding boundary, where engine summation order and
  half-rounding rules disagree.  Sum such values as exact scaled
  integers and do the final half-up in integer arithmetic
  (floor((tt + 50) / 100) — see q_pricing_summary).  Sums of plain
  2-decimal columns rounded to >= their own scale are safe.

SURVEY.md §2 operator ids are cited per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cloud_ocr_summarizer_spark import config
from cloud_ocr_summarizer_spark.datagen import derive_spans_from_documents
from cloud_ocr_summarizer_spark.functions.text import (
    mime_for_name_col,
    normalize_block_text_col,
    token_count_col,
    whitespace_tokens_col,
)
from cloud_ocr_summarizer_spark.operators.extract import (
    extract_span_rows,
    extract_spans,
)


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _documents_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> interleaved (doc_id, spans) via the deterministic deriver."""
    return derive_spans_from_documents(_read(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# extraction family (S1-S3, P1-P4, E1-E6)
# ---------------------------------------------------------------------------
def q_extract_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: derive interleaved spans, extract, emit ordered span rows.

    Exercises the full row-local pipeline (E1-E6 + P2): classification,
    text assembly, offset-ordered reassembly, positional seq numbering.
    """
    return extract_span_rows(_documents_spans(spark, sf_dir))


def q_assemble_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2-E4 text assembly + A2 token count applied to raw document text."""
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        normalize_block_text_col(F.col("text")).alias("clean_text"),
        F.size(whitespace_tokens_col(F.col("text"))).alias("n_tokens"),
    )


def q_doc_structure_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A5 structure stats per document over the derived span table."""
    rows = extract_span_rows(_documents_spans(spark, sf_dir))
    return rows.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.when(F.col("kind").isin(*config.TEXT_KINDS), 1).otherwise(0)).alias(
            "n_text_spans"
        ),
        F.sum(F.when(F.col("kind").isin(*config.MEDIA_KINDS), 1).otherwise(0)).alias(
            "n_media_spans"
        ),
        F.sum(
            F.when(
                F.col("text").isNotNull(), token_count_col(F.col("text"))
            ).otherwise(0)
        ).alias("n_tokens"),
    )


def q_rollup_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 rollup: '\\n'-join of text spans in offset order iff >1 contributes
    (gemini.py:76-83).  Row-local: filter + array_join on the ordered array."""
    extracted = extract_spans(_documents_spans(spark, sf_dir), with_stats=False)
    texts = F.filter(
        F.col("spans_out"),
        lambda s: s["text"].isNotNull() & (s["text"] != F.lit("")),
    )
    return extracted.select(
        "doc_id",
        F.when(F.size(texts) > 1, F.array_join(F.transform(texts, lambda s: s["text"]), "\n"))
        .alias("rollup_text"),
        F.size(texts).alias("n_contributing"),
    )


def q_mime_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 mime dispatch over media refs of the derived spans."""
    rows = extract_span_rows(_documents_spans(spark, sf_dir))
    media = rows.filter(F.col("media_ref").isNotNull())
    return (
        media.select(mime_for_name_col(F.col("media_ref")).alias("mime"))
        .groupBy("mime")
        .agg(F.count("*").alias("n_refs"))
    )


def q_size_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 size gate analogue: per-doc byte size + within-limit flag."""
    docs = _read(spark, sf_dir, "documents")
    limit = 1500  # bytes; small so both branches appear at sf0.01
    return docs.select(
        "doc_id",
        F.octet_length("text").alias("text_bytes"),
        (F.octet_length("text") <= F.lit(limit)).alias("within_limit"),
    )


def q_confidence_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 confidence gate: deterministic synthetic confidence per span,
    drop below 0.7, count survivors per doc."""
    rows = extract_span_rows(_documents_spans(spark, sf_dir))
    conf = F.pmod(F.col("doc_id") * 7 + F.col("offset") * 13, F.lit(100)) / 100.0
    return (
        rows.withColumn("confidence", conf)
        .filter(F.col("confidence") >= 0.7)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.round(F.avg("confidence"), 4).alias("avg_conf"),
        )
    )


def q_primary_language_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 top-1 selection: per source, the language with the greatest total
    n_chars (deterministic tie-break on lang asc)."""
    docs = _read(spark, sf_dir, "documents")
    per = docs.groupBy("source", "lang").agg(F.sum("n_chars").alias("chars"))
    w = Window.partitionBy("source").orderBy(F.col("chars").desc(), F.col("lang").asc())
    return (
        per.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("primary_lang"), "chars")
    )


def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/T2 latest-artifact: newest event per user (ts desc, id desc)."""
    events = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            "event_type",
            # epoch micros via NTZ-NTZ diff: TZ-proof cross-engine compare
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            ).alias("ts_us"),
        )
    )


# ---------------------------------------------------------------------------
# relational layer: aggregations / joins / top-k / windows (A*, J*, T*)
# ---------------------------------------------------------------------------
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A5 at scale (TPC-H Q1 shape): map-side partial agg + final agg,
    no joins — the canonical partial+final hash aggregation pattern."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            # price*(1-disc) is an exact 4-decimal value: sum it as exact
            # integer ten-thousandths, then round — sum-of-doubles ulp
            # noise otherwise decides cent boundaries differently per
            # engine (~1% of groups land exactly on one)
            # exact integer ten-thousandths, then half-up to cents in
            # INTEGER arithmetic: floor((tt + 50) / 100) — engines disagree
            # on rounding doubles that sit exactly on a half cent
            (
                F.floor(
                    (
                        F.sum(
                            F.round(
                                F.col("l_extendedprice")
                                * (1 - F.col("l_discount"))
                                * 10000
                            ).cast("long")
                        )
                        + 50
                    )
                    / 100.0
                )
                / 100.0
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 broadcast-join pattern: small dims (nation, customer) broadcast
    against the fact table; Catalyst keeps it shuffle-free on the dims."""
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


def q_topk_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 top-k per group: window rank <= 3 with a total deterministic order."""
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    joined = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "c_mktsegment",
            F.col("rk").alias("rank_in_segment"),
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
    )


def q_orders_without_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resume/checkpoint anti-join shape (SURVEY.md §2.10): left_anti on the
    key = NOT EXISTS — the exact plan the incremental resume path uses."""
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_anti")
        .select("o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("o_totalprice"))
    )


def q_urgent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi = EXISTS: customers holding at least one urgent order."""
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


def q_events_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window running aggregate + lag (E5/E6 analogues over a time axis)."""
    events = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2).alias(
            "running_value"
        ),
        F.row_number().over(w).alias("event_seq"),
        F.round(F.coalesce(F.lag("value").over(w), F.lit(0.0)), 2).alias("prev_value"),
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: new session when the gap from the previous event
    exceeds 30 minutes (lag + conditional cumsum)."""
    events = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact microsecond gap: second-granularity diffs truncate differently
    # across engines around the threshold
    gap_us = F.expr(
        "timestampdiff(MICROSECOND,"
        " lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts)"
    )
    marked = events.withColumn(
        "new_session",
        F.when(gap_us.isNull() | (gap_us > 1800 * 1000000), F.lit(1)).otherwise(F.lit(0)),
    )
    return marked.groupBy("user_id").agg(
        F.sum("new_session").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


def q_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user counts by event type (fixed value list)."""
    events = _read(spark, sf_dir, "events")
    agg = events.groupBy("user_id")
    exprs = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"n_{t}")
        for t in ("click", "view", "purchase", "signup", "error")
    ]
    return agg.agg(*exprs)


def q_grouping_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP over (returnflag, linestatus): subtotal + grand total
    rows (multi-level aggregation, A-family)."""
    li = _read(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def q_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per event type (interpolated), matching DuckDB's
    quantile_cont — A-family order statistics."""
    events = _read(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


def q_union_kind_branches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 union: text-span and media-span branches processed separately,
    recombined with unionByName before aggregation."""
    rows = extract_span_rows(_documents_spans(spark, sf_dir))
    text_branch = rows.filter(F.col("kind").isin(*config.TEXT_KINDS)).select(
        "doc_id", F.col("kind"), token_count_col(F.col("text")).alias("payload")
    )
    media_branch = rows.filter(F.col("kind").isin(*config.MEDIA_KINDS)).select(
        "doc_id", F.col("kind"), F.length("media_ref").alias("payload")
    )
    return (
        text_branch.unionByName(media_branch)
        .groupBy("kind")
        .agg(F.count("*").alias("n_spans"), F.sum("payload").alias("total_payload"))
    )


# ---------------------------------------------------------------------------
# corpus curation: dedup + text analysis
# ---------------------------------------------------------------------------
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: md5(normalized text) -> count + keeper."""
    from cloud_ocr_summarizer_spark.operators.dedup import exact_duplicates

    return exact_duplicates(_read(spark, sf_dir, "documents"))


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard pairs (>=0.5) blocked by source."""
    from cloud_ocr_summarizer_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _read(spark, sf_dir, "documents"), block_col="source", n=3, threshold=0.5
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard verified (rows-only check;
    semantics pinned against brute force in tests/test_dedup.py)."""
    from cloud_ocr_summarizer_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _read(spark, sf_dir, "documents"),
        n=3,
        num_hashes=32,
        bands=8,
        threshold=0.5,
        parallelism=spark.sparkContext.defaultParallelism,
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within prefix buckets (rows-only check)."""
    from cloud_ocr_summarizer_spark.operators.dedup import simhash_near_pairs

    return simhash_near_pairs(_read(spark, sf_dir, "documents"), max_hamming=8)


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc language-ID heuristic, quality score, fingerprint, tokens."""
    from cloud_ocr_summarizer_spark.operators.textstats import text_profile

    return text_profile(_read(spark, sf_dir, "documents"))


def q_token_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 at corpus scale: token totals per source."""
    docs = _read(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.sum(F.size(whitespace_tokens_col(F.col("text")))).alias("total_tokens"),
        F.round(F.avg(F.size(whitespace_tokens_col(F.col("text")))), 4).alias(
            "avg_tokens"
        ),
        F.count("*").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------
def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 per query (vec_id<10) over the rest of the corpus."""
    from cloud_ocr_summarizer_spark.operators.similarity import cosine_topk

    emb = _read(spark, sf_dir, "embeddings")
    return cosine_topk(
        emb.filter(F.col("vec_id") < 10), emb.filter(F.col("vec_id") >= 10), k=5
    )


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 over a FIXED hash-sampled centroid budget (the
    scale-safe form: centroid count, and thus the broadcast, independent
    of corpus size).  Value-checked against a DuckDB twin."""
    from cloud_ocr_summarizer_spark.operators.similarity import ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb.filter(F.col("vec_id") < 10),
        emb.filter(F.col("vec_id") >= 10),
        k=5,
        n_centroids=16,
        n_probe=4,
    )


def q_knn_ivf_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with one Lloyd iteration of centroid refinement (pure
    DataFrame k-means step) — exercises kmeans_refine_centroids end to
    end; the DuckDB twin reproduces the assignment/mean/reassign step."""
    from cloud_ocr_summarizer_spark.operators.similarity import ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb.filter(F.col("vec_id") < 10),
        emb.filter(F.col("vec_id") >= 10),
        k=5,
        n_centroids=16,
        n_probe=4,
        kmeans_iterations=1,
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within label blocks (cos >= 0.3)."""
    from cloud_ocr_summarizer_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    return embedding_near_dup_pairs(
        _read(spark, sf_dir, "embeddings"), threshold=0.3
    )


BATCH_4 = {
    "knn_bruteforce": q_knn_bruteforce,
    "knn_ivf": q_knn_ivf,
    "knn_ivf_refined": q_knn_ivf_refined,
    "embedding_neardup": q_embedding_neardup,
}


# ---------------------------------------------------------------------------
# UDF-stage operators: pandas classifier, multimodal, lineage
# ---------------------------------------------------------------------------
def q_extract_flagship_arrow_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow extraction: nested column never leaves Arrow (fastest
    path measured: ~614k docs/s at 1M docs, local[32])."""
    from cloud_ocr_summarizer_spark.operators.extract_arrow_native import (
        extract_span_rows_arrow_native,
    )

    return extract_span_rows_arrow_native(_documents_spans(spark, sf_dir))


def q_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 boilerplate classification: the vectorized pandas (mapInPandas)
    scorer over the flat span rows — the driver cross-check exercises the
    UDF itself."""
    from cloud_ocr_summarizer_spark.operators.classify import main_content_rows

    rows = extract_span_rows(_documents_spans(spark, sf_dir))
    return main_content_rows(rows)


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: feature-extract media spans over Arrow batches
    (deterministic fallback decode — SQL-mirrorable)."""
    from cloud_ocr_summarizer_spark.operators.multimodal import media_features

    rows = extract_span_rows(_documents_spans(spark, sf_dir))
    return media_features(rows)


def q_span_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detailed-mode layout geometry (normalized_vertices analogue,
    vision_processor.py:304-313): per-span area + centroid derived FROM
    the nested bbox column, so the value check pins the geometry data
    itself.  Row-local; zero shuffles."""
    rows = extract_span_rows(
        _documents_spans(spark, sf_dir), include_bounding_boxes=True
    )
    b = F.col("bbox")
    x0, y0 = F.element_at(b, 1)["x"], F.element_at(b, 1)["y"]
    x1, y1 = F.element_at(b, 3)["x"], F.element_at(b, 3)["y"]
    return rows.select(
        "doc_id",
        "seq",
        "kind",
        "offset",
        F.round((x1 - x0) * (y1 - y0), 6).alias("bbox_area"),
        F.round((x0 + x1) / 2, 6).alias("centroid_x"),
        F.round((y0 + y1) / 2, 6).alias("centroid_y"),
    )


def q_span_geometry_px(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixel-space geometry: the reference carries page width/height next
    to the normalized vertices (vision_processor.py:243-244); here page
    dims are deterministic per doc and the normalized bbox scales into
    pixel coordinates with floor (floor of identical doubles is
    engine-identical; round() would flip on exact .5 ties where the
    engines' decimal conversions differ)."""
    rows = extract_span_rows(
        _documents_spans(spark, sf_dir), include_bounding_boxes=True
    )
    d = F.col("doc_id")
    page_w = (512 + F.pmod(d * 3, F.lit(1024))).cast("int")
    page_h = (512 + F.pmod(d * 5, F.lit(1024))).cast("int")
    b = F.col("bbox")
    x0, y0 = F.element_at(b, 1)["x"], F.element_at(b, 1)["y"]
    x1, y1 = F.element_at(b, 3)["x"], F.element_at(b, 3)["y"]
    return rows.select(
        "doc_id",
        "seq",
        page_w.alias("page_w"),
        page_h.alias("page_h"),
        F.floor(x0 * page_w).cast("int").alias("px0"),
        F.floor(x1 * page_w).cast("int").alias("px1"),
        F.floor(y0 * page_h).cast("int").alias("py0"),
        F.floor(y1 * page_h).cast("int").alias("py1"),
    )


def q_lineage_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 lineage: per-partition metrics over a deterministic repartition
    (rows-only check — one row per non-empty partition from one JVM
    aggregate; wall time is read from per-row JVM clocks, from each
    partition's first output row to its last, since no start clock is
    carried here; totals pinned in tests/test_pipeline.py)."""
    from cloud_ocr_summarizer_spark.lineage import partition_metrics
    from cloud_ocr_summarizer_spark.plans.flagship import span_octets

    extracted = extract_spans(_documents_spans(spark, sf_dir), with_stats=False)
    return partition_metrics(
        extracted.repartition(8, "doc_id"),
        run_id="driver-check",
        span_count=F.size("spans_out"),
        span_bytes=span_octets(),
    )


# ---------------------------------------------------------------------------
# reference-fidelity extras: recursive token rules, T1 defaults, date ops
# ---------------------------------------------------------------------------
def q_structure_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 recursive structure rules (token_counter.py:60-82) applied to the
    span tree: dict -> sum(1 + count(v)); string -> len(split); null/int
    -> 1.  Per doc: sum over spans of (4 + tok(kind)+tok(text)+tok(media)+1)."""
    rows = extract_span_rows(_documents_spans(spark, sf_dir))
    tok = token_count_col  # null -> 1, string -> whitespace tokens
    span_tokens = (
        F.lit(4)  # one per struct key (dict rule, token_counter.py:73-74)
        + tok(F.col("kind"))
        + tok(F.col("text"))
        + tok(F.col("media_ref"))
        + F.lit(1)  # offset scalar
    )
    return rows.groupBy("doc_id").agg(
        F.sum(span_tokens).alias("structure_tokens"),
        F.count("*").alias("n_spans"),
    )


def _q_primary_language(default: str):
    """T1 over a REAL detected-languages column: derive the per-doc
    (lang, conf) annotations (vision_processor.py:189-199 passthrough),
    then run the generic row-local argmax operator — not arithmetic
    inlined into the query.  The DuckDB oracle reproduces the same
    annotation values and first-max-wins selection."""

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from cloud_ocr_summarizer_spark.datagen import derive_doc_languages
        from cloud_ocr_summarizer_spark.operators.textstats import (
            select_primary_language,
        )

        docs = _read(spark, sf_dir, "documents")
        return select_primary_language(
            derive_doc_languages(docs), default=default
        )

    return q


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish tokenization: alpha runs / digit runs / single punct."""
    docs = _read(spark, sf_dir, "documents")
    pieces = F.regexp_extract_all(
        F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0
    )
    return docs.select(
        "doc_id",
        F.size(pieces).alias("n_bpe_tokens"),
        F.size(whitespace_tokens_col(F.col("text"))).alias("n_ws_tokens"),
    )


_ROLL_M = 2147483647
_ROLL_B = 131


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling hash over word hashes (order-sensitive document
    fingerprint; md5-derived word hashes so DuckDB reproduces it)."""
    docs = _read(spark, sf_dir, "documents")
    words = whitespace_tokens_col(F.col("text"))
    wh = lambda w: F.pmod(  # noqa: E731
        F.conv(F.substring(F.md5(w.cast("binary")), 1, 14), 16, 10).cast("bigint"),
        F.lit(_ROLL_M),
    )
    rolled = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: F.pmod(acc * _ROLL_B + wh(w), F.lit(_ROLL_M)),
    )
    return docs.select("doc_id", rolled.alias("rolling_fp"))


def q_first_text_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 first-unit scan (gemini.py:101-110: iterate pages, return the
    first that carries usable data): row-local — filter the ordered span
    array to text-bearing spans and take element 1.  Docs with no such
    span are dropped (the reference falls through to its default).
    Zero shuffles: the scan short-circuits inside the array, never
    explodes the document."""
    extracted = extract_spans(_documents_spans(spark, sf_dir), with_stats=False)
    texts = F.filter(
        F.col("spans_out"),
        lambda s: s["text"].isNotNull() & (s["text"] != F.lit("")),
    )
    first = F.element_at(texts, 1)
    return extracted.filter(F.size(texts) > 0).select(
        "doc_id",
        first["offset"].alias("first_offset"),
        first["kind"].alias("first_kind"),
        first["text"].alias("first_text"),
    )


def q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date bucketing + multi-agg: per (day, type) counts and value stats.
    Day index = epoch days (TZ-proof for NTZ timestamps)."""
    events = _read(spark, sf_dir, "events")
    ts_us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    return (
        events.withColumn("day_idx", F.floor(ts_us / F.lit(86400000000)).cast("int"))
        .groupBy("day_idx", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def q_asof_last_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one): for every purchase event, the
    most recent prior click by the same user — expressed as last_value
    over an ordered window on the unioned stream, no cross join."""
    events = _read(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    enriched = events.withColumn(
        "last_click_id", F.last(click_id, ignorenulls=True).over(w)
    )
    return enriched.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        "last_click_id",
    )


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, date filters, revenue agg, top-10."""
    cust = _read(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15")
    )
    li = _read(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            # exact integer ten-thousandths (see q_pricing_summary): a
            # cent flip here could even move the top-10 cutoff
            (
                F.floor(
                    (
                        F.sum(
                            F.round(
                                F.col("l_extendedprice")
                                * (1 - F.col("l_discount"))
                                * 10000
                            ).cast("long")
                        )
                        + 50
                    )
                    / 100.0
                )
                / 100.0
            ).alias("revenue")
        )
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select(
            "l_orderkey",
            F.expr(
                "timestampdiff(DAY, TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate)"
            ).cast("int").alias("orderdate_epoch_day"),
            "o_orderpriority",
            "revenue",
            F.col("rk").alias("revenue_rank"),
        )
    )


def q_sql_api_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same logical query as revenue_by_nation but through the spark.sql
    surface (temp views + ANSI SQL) — the engine's SQL front door."""
    _read(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    _read(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    _read(spark, sf_dir, "nation").createOrReplaceTempView("v_nation")
    return spark.sql(
        """
        SELECT n_name,
               round(sum(o_totalprice), 2) AS revenue,
               count(*) AS n_orders
        FROM v_orders
        JOIN v_customer ON o_custkey = c_custkey
        JOIN v_nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        """
    )


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert emulation (anti-join + union): customers with
    custkey % 10 == 0 receive a deterministic balance update."""
    from cloud_ocr_summarizer_spark.operators.merge import merge_upsert

    cust = _read(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal")
    )
    updates = cust.filter(F.pmod(F.col("c_custkey"), F.lit(10)) == 0).select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") + 100.0, 2).alias("c_acctbal"),
    )
    return merge_upsert(cust, updates, key="c_custkey")


BATCH_5 = {
    "asof_last_click_before_purchase": q_asof_last_click_before_purchase,
    "shipping_priority": q_shipping_priority,
    "merge_upsert": q_merge_upsert,
    "sql_api_revenue": q_sql_api_revenue,
    "structure_token_count": q_structure_token_count,
    "primary_language_default_en": _q_primary_language(config.DEFAULT_LANGUAGE_EN),
    "primary_language_default_ja": _q_primary_language(config.DEFAULT_LANGUAGE_JA),
    "token_count_bpe": q_token_count_bpe,
    "rolling_fingerprint": q_rolling_fingerprint,
    "first_text_span": q_first_text_span,
    "events_daily": q_events_daily,
}


# aliases: extract_flagship_arrow, main_content_fused and
# span_geometry_arrow keep their registered names and banked CORRECTNESS
# rows
BATCH_UDF = {
    "extract_flagship_arrow": q_extract_flagship_arrow_native,
    "extract_flagship_arrow_native": q_extract_flagship_arrow_native,
    "main_content": q_main_content,
    "main_content_fused": q_main_content,
    "media_features": q_media_features,
    "span_geometry": q_span_geometry,
    "span_geometry_arrow": q_span_geometry,
    "span_geometry_px": q_span_geometry_px,
    "lineage_metrics": q_lineage_metrics,
}


def q_dedup_minhash_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH with the cross-engine md5/affine hash family — the
    driver value-checks the FULL LSH pipeline (signatures, banding,
    bucket pair expansion, exact-Jaccard verification)."""
    from cloud_ocr_summarizer_spark.operators.dedup import minhash_lsh_pairs_checked

    return minhash_lsh_pairs_checked(
        _read(spark, sf_dir, "documents"),
        n=3,
        num_hashes=32,
        bands=8,
        threshold=0.5,
        parallelism=spark.sparkContext.defaultParallelism,
    )


def q_dedup_simhash_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with the cross-engine md5 family — DuckDB
    value-checks the full pipeline (per-bit majority, banding, Hamming)."""
    from cloud_ocr_summarizer_spark.operators.dedup import simhash_near_pairs_checked

    return simhash_near_pairs_checked(
        _read(spark, sf_dir, "documents"), bits=30, bands=5, max_hamming=2
    )


def q_language_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram-profile language ID (Cavnar-Trenkle-style hit ratio),
    basis-point integer scores + argmax prediction."""
    from cloud_ocr_summarizer_spark.operators.textstats import language_id_scores

    return language_id_scores(_read(spark, sf_dir, "documents"))


def q_user_segments_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators (INTERSECT / EXCEPT) over event-type user cohorts."""
    ev = _read(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id")
    both = clicks.intersect(purchases).select(
        "user_id", F.lit("click_and_purchase").alias("segment")
    )
    only = clicks.subtract(purchases).select(
        "user_id", F.lit("click_only").alias("segment")
    )
    return both.unionByName(only)


def q_part_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery decorrelated into a
    WINDOW average per part (one lineitem scan + one shuffle, vs the
    aggregate-then-self-join form which scans and shuffles lineitem
    twice — the window form halves fact-table IO at 100 TB)."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    w = Window.partitionBy("l_partkey")
    below = li.withColumn("thr", 0.2 * F.avg("l_quantity").over(w)).filter(
        F.col("l_quantity") < F.col("thr")
    )
    joined = below.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    # avg_yearly = round(sum(price)/7, 2) computed in EXACT integer cents:
    # sum 2-decimal prices as cents (order-independent), then half-up the
    # /7 in integer arithmetic — round(a/b) = (2a + b) DIV 2b for a,b > 0.
    # round(<double sum>/7.0, 2) would let engine summation order decide
    # cent boundaries (same hazard class q_pricing_summary eliminates).
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        joined.groupBy("p_brand")
        .agg(F.sum(cents).alias("_tc"), F.count("*").alias("n_lines"))
        .select(
            "p_brand",
            (F.expr("(_tc * 2 + 7) DIV 14") / 100.0).alias("avg_yearly"),
            "n_lines",
        )
    )


def q_media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline: feature-extract (stub decode) -> aspect-fit
    resize plan -> uniform-stride frame sampling, one row per frame."""
    from cloud_ocr_summarizer_spark.operators.multimodal import (
        frame_samples,
        media_features,
        resize_plan,
    )

    rows = extract_span_rows(_documents_spans(spark, sf_dir))
    feats = media_features(rows)
    return frame_samples(resize_plan(feats, target=224), k=4).select(
        "doc_id", "media_ref", "media_kind", "out_w", "out_h", "frame_idx"
    )


def q_events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1h length, 30m slide) — the F.window
    operator family; each event lands in 2 overlapping windows."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def q_events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: JSON path extraction from the
    props string column (JVM-side get_json_object, no Python)."""
    ev = _read(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
            F.count_distinct("k").alias("n_distinct_k"),
        )
    )


# Static value bands (irregular bounds, half-open [lo, hi)).
VALUE_BANDS = (
    ("micro", 0.0, 10.0),
    ("small", 10.0, 50.0),
    ("medium", 50.0, 200.0),
    ("large", 200.0, 1e9),
)


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (non-equi interval) join: events.value into irregular bands.

    The bands table is tiny, so the join broadcasts — each event row is
    checked against the interval predicate map-side, NO shuffle of the
    fact stream (BroadcastNestedLoopJoin).  This is the scale pattern for
    interval lookups: broadcast the intervals; never range-shuffle the
    facts.
    """
    ev = _read(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        list(VALUE_BANDS), "band string, lo double, hi double"
    )
    joined = ev.join(
        F.broadcast(bands),
        (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
    )
    return joined.groupBy("band").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


def q_orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE over (status, priority): all 4 grouping combinations
    in one pass (Expand-based multi-level aggregation)."""
    o = _read(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


def q_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch per event type (k=64): bounded-state
    approximate COUNT(DISTINCT user_id) with a cross-engine hash family —
    the estimate itself is value-checked by the DuckDB oracle."""
    from cloud_ocr_summarizer_spark.operators.sketch import kmv_distinct

    return kmv_distinct(
        _read(spark, sf_dir, "events"), "event_type", "user_id", k=64
    )


def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/val/test split by doc-id hash (80/10/10): the
    standard leakage-safe way to split a training corpus — membership is
    a pure function of the id (stable across runs, partitionings, and
    engines), never a PRNG sample.  Uses the cross-engine md5/31-bit
    family so DuckDB value-checks the assignment itself."""
    from cloud_ocr_summarizer_spark.functions.hashing import hash_split_col

    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select(
            hash_split_col(F.col("doc_id")).alias("split"),
            F.size(whitespace_tokens_col(F.col("text"))).alias("n_tokens"),
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


def q_customer_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join + two-level aggregation — how many
    customers placed exactly N orders (including zero)."""
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("n_customers"))


def q_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive (OR-of-ANDs) predicate across a join —
    exercises Catalyst's CNF conversion / partial predicate pushdown."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10)
         & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20)
           & (F.col("l_quantity") >= 5) & (F.col("l_quantity") <= 30))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 30)
           & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 40))
    )
    return j.filter(cond).agg(
        (
            F.floor(
                (
                    F.sum(
                        F.round(
                            F.col("l_extendedprice")
                            * (1 - F.col("l_discount"))
                            * 10000
                        ).cast("long")
                    )
                    + 50
                )
                / 100.0
            )
            / 100.0
        ).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


def q_events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native F.session_window sessionization (the SessionWindowing
    physical operator — merge-on-gap), vs the manual lag+cumsum form in
    q_events_sessionize.  A gap of exactly 30min starts a NEW session
    (event joins only while ts < last + gap), hence >= in the oracle."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def q_orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((status), (priority)) + grouping_id —
    finer-grained than rollup/cube, via the SQL API."""
    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority,
               count(*) AS n_orders
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


def q_order_value_ntiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remaining ranking-window family: ntile(4) + percent_rank + cume_dist
    over order value within each priority class."""
    o = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


def q_sentences_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function) splitting documents into
    sentences with positions — the one deliberately row-at-a-time API in
    the repo, included for UDF-surface completeness.  NOT a hot-path
    pattern: the same logic is expressible row-locally with
    split/posexplode (which the oracle uses), and that is what a 100 TB
    job should do."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx int, sentence string")
    class SplitSentences:
        def eval(self, text: str):  # noqa: D102
            if text is None:
                return
            import re

            # strip EXACTLY the charset the DuckDB oracle trims —
            # bare .strip() also removes unicode whitespace (NBSP etc.)
            # and would desync the value hash on such input
            parts = [p.strip(" \t\n\r") for p in re.split(r"[.!?]+", text)]
            for i, p in enumerate(parts):
                if p:
                    yield i, p

    spark.udtf.register("split_sentences", SplitSentences)
    _read(spark, sf_dir, "documents").createOrReplaceTempView("docs_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.sentence
        FROM docs_udtf d, LATERAL split_sentences(d.text) s
        """
    )


def q_media_payload_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BinaryType multimodal plumbing: synthesized opaque payload ->
    Arrow -> pandas byte-level feature extraction."""
    from cloud_ocr_summarizer_spark.operators.multimodal import (
        media_payload_features,
    )

    rows = extract_span_rows(_documents_spans(spark, sf_dir))
    return media_payload_features(rows)


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: correlated EXISTS + NOT EXISTS against the same
    fact table — suppliers whose line was the ONLY late one on a
    multi-supplier order.  EXISTS -> left_semi on (order, other-supplier),
    NOT EXISTS -> left_anti on (order, other-supplier, late)."""
    li = _read(spark, sf_dir, "lineitem")
    # "late" proxy for this schema (no receipt/commit dates): last line of
    # the order by linenumber
    mx = li.groupBy("l_orderkey").agg(F.max("l_linenumber").alias("max_ln"))
    late = li.join(mx, "l_orderkey").filter(F.col("l_linenumber") == F.col("max_ln"))
    others = li.select(
        F.col("l_orderkey").alias("o_k"), F.col("l_suppkey").alias("s_k")
    ).distinct()
    exists = late.join(
        others,
        (F.col("l_orderkey") == F.col("o_k"))
        & (F.col("l_suppkey") != F.col("s_k")),
        "left_semi",
    )
    late_others = late.select(
        F.col("l_orderkey").alias("o_k2"), F.col("l_suppkey").alias("s_k2")
    ).distinct()
    lonely = exists.join(
        late_others,
        (F.col("l_orderkey") == F.col("o_k2"))
        & (F.col("l_suppkey") != F.col("s_k2")),
        "left_anti",
    )
    return lonely.groupBy("l_suppkey").agg(F.count("*").alias("numwait"))


def q_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-aggregate subquery threshold + NOT EXISTS —
    above-average-balance customers with no URGENT orders, by nation.
    (The urgent restriction keeps the NOT EXISTS non-degenerate on this
    synthetic data, where every customer has some order.)"""
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("threshold")
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("threshold")
    )
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    no_orders = rich.join(urgent, "c_custkey", "left_anti")
    return no_orders.groupBy("c_nationkey").agg(
        F.count("*").alias("numcust"),
        F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
    )


def q_nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: 6-table join chain (lineitem-orders-customer +
    supplier, nation x2) with cross-nation pairs and a per-year rollup.
    The fact table joins big-to-big (orders) sort-merge; all dimension
    hops broadcast — one fact shuffle total."""
    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
    )
    # exact integer-cent summation: per-row cents are computed identically
    # in both engines, and an integer sum is order-independent — unlike
    # sum-of-doubles, whose last-ulp noise can flip round(.,2) by a cent
    # on small groups
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(
        (F.floor((F.sum(cents) + 50) / 100.0) / 100.0).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id % 40 == 0 play the
    held-out eval set, the rest the training corpus; flag corpus docs
    sharing any word 3-gram with the eval set (n=3 here so the fixed
    testdata yields a non-degenerate hit distribution; production uses
    8-13).  Eval grams broadcast — the corpus is never shuffled by the
    join."""
    from cloud_ocr_summarizer_spark.operators.dedup import ngram_contamination

    docs = _read(spark, sf_dir, "documents")
    bench = docs.filter(F.pmod(F.col("doc_id"), F.lit(40)) == 0)
    corpus = docs.filter(F.pmod(F.col("doc_id"), F.lit(40)) != 0)
    return ngram_contamination(corpus, bench, n=3)


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over text carrying deterministic synthetic contact info
    (the fixed testdata has none, so the query plants one email, phone,
    and IPv4 per doc — counts and the redacted text are value-checked).
    Row-local regexp chain; pure map stage."""
    from cloud_ocr_summarizer_spark.operators.textstats import redact_pii

    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    pii_text = F.concat(
        F.col("text"),
        F.lit(" contact user-"), d.cast("string"), F.lit("@example.com tel "),
        F.lpad(F.pmod(d, F.lit(1000)).cast("string"), 3, "0"), F.lit("-"),
        F.lpad(F.pmod(d * 7, F.lit(1000)).cast("string"), 3, "0"), F.lit("-"),
        F.lpad(F.pmod(d * 13, F.lit(10000)).cast("string"), 4, "0"),
        F.lit(" from 10.0."), F.pmod(d, F.lit(256)).cast("string"), F.lit(".1"),
    )
    return redact_pii(docs.select("doc_id", pii_text.alias("text")))


def q_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing: deterministic per-source sampling rates (hash of the
    doc id, no PRNG) — src0 kept fully, src1 at 50%, src2 at 10%,
    everything else dropped.  Row-local filter; membership value-checked
    row for row."""
    from cloud_ocr_summarizer_spark.operators.sampling import hash_sample

    docs = _read(spark, sf_dir, "documents")
    return hash_sample(
        docs,
        stratum_col="source",
        fractions={"src0": 1.0, "src1": 0.5, "src2": 0.1},
    ).select("doc_id", "source")


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: docs fill fixed 256-token bins in deterministic
    hash order within 32 buckets (bounded window state, one shuffle)."""
    from cloud_ocr_summarizer_spark.operators.sampling import pack_sequences

    docs = _read(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id",
        F.size(whitespace_tokens_col(F.col("text"))).alias("n_tokens"),
    )
    return pack_sequences(with_tokens, budget=256, n_buckets=32)


def q_curation_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED curation pipeline value-checked end to end: exact
    dedup -> MinHash near-dup removal (cross-engine md5 variant) ->
    quality gate -> repetition gate -> train/val/test split.  The DuckDB
    twin replays every stage of the composition, so stage INTERACTIONS
    (who survives whom) are checked, not just each operator alone."""
    from cloud_ocr_summarizer_spark.plans.curate import curate_documents

    docs = _read(spark, sf_dir, "documents")
    out = curate_documents(docs, checked=True)
    return out.select(
        "doc_id",
        "split",
        F.size(whitespace_tokens_col(F.col("text"))).alias("n_tokens"),
    )


def q_curation_full_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL pretraining pipeline value-checked end to end: core
    curation (checked MinHash) -> decontamination vs the doc_id%40==0
    eval subset -> PII redaction -> per-source mixing (src0-9 full,
    src10-19 half) -> 256-token packing.  The DuckDB twin replays all
    eight stages including their interactions."""
    from cloud_ocr_summarizer_spark.plans.curate import curate_documents_full

    docs = _read(spark, sf_dir, "documents")
    bench = docs.filter(F.pmod(F.col("doc_id"), F.lit(40)) == 0).select(
        "doc_id", "text"
    )
    mix = {f"src{i}": (1.0 if i < 10 else 0.5) for i in range(20)}
    return curate_documents_full(
        docs,
        benchmark=bench,
        contamination_n=3,
        mix_fractions=mix,
        pack_budget=256,
        checked=True,
    )


def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: a derived revenue view + scalar-max selection —
    suppliers whose period revenue EQUALS the global maximum.  The max is
    a 1-row broadcast crossJoin (never a self-join of the aggregate with
    itself, which would scan lineitem twice)."""
    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-07-01"))
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    revenue = li.groupBy("l_suppkey").agg(
        (F.floor((F.sum(cents) + 50) / 100.0) / 100.0).alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    top = revenue.crossJoin(F.broadcast(mx)).filter(
        F.col("total_revenue") == F.col("mx")
    )
    s = _read(spark, sf_dir, "supplier")
    return top.join(
        F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey")
    ).select("s_suppkey", "s_name", "total_revenue")


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN (GROUP BY ... HAVING sum > X) — customers with
    any order whose total quantity exceeds the threshold; the HAVING set
    drives a semi join on the order key (one lineitem aggregation, no
    correlated re-scan)."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    j = (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    return j.select(
        "c_custkey",
        "c_name",
        "o_orderkey",
        F.expr(
            "timestampdiff(DAY, TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate)"
        ).cast("int").alias("orderdate_epoch_day"),
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "total_qty",
    )


def q_excess_parts_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested correlated subquery decorrelated — for each
    supplier, parts whose 'available' proxy exceeds half the quantity
    that (supplier, part) actually shipped in a period.  The correlated
    `0.5 * sum(...)` becomes ONE grouped aggregate joined back (no
    per-row re-scan); availability is a deterministic function of the
    keys (the schema has no partsupp table)."""
    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    shipped = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum("l_quantity").alias("qty")
    )
    avail = F.pmod(
        F.col("l_suppkey") * 37 + F.col("l_partkey") * 11, F.lit(100)
    ).alias("availqty")
    s = _read(spark, sf_dir, "supplier")
    return (
        shipped.select("l_suppkey", "l_partkey", "qty", avail)
        .filter(F.col("availqty") > 0.5 * F.col("qty"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("n_excess_parts"))
    )


def q_events_trailing_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (vs the ROWS frames elsewhere): per event, the
    sum and count of the same user's events in the TRAILING HOUR by
    event time — the frame is value-based, so ties and gaps behave
    differently from rowsBetween (a distinct physical window mode)."""
    events = _read(spark, sf_dir, "events")
    ts_us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_us"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        events.withColumn("ts_us", ts_us)
        .select(
            "user_id",
            "event_id",
            "ts_us",
            F.count("*").over(w).alias("n_trailing_hour"),
            # value is a plain 2-decimal column (verified on the testdata):
            # per the header convention, round(sum(...), 2) of 2-decimal
            # values is safe — ulp noise stays ~1e-9 from a boundary.
            # Only multi-decimal PRODUCTS need the integer-cents form.
            F.round(F.sum("value").over(w), 2).alias("value_trailing_hour"),
        )
    )


def q_segments_setops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set operators (EXCEPT ALL / INTERSECT ALL): unlike the
    distinct forms in user_segments_setops, these preserve MULTIPLICITY
    (a user with 3 clicks and 1 purchase keeps 2 click_surplus rows) —
    a different physical operator (Expand/aggregate-based replication)."""
    ev = _read(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id")
    surplus = clicks.exceptAll(purchases).groupBy("user_id").agg(
        F.count("*").alias("n_click_surplus")
    )
    matched = clicks.intersectAll(purchases).groupBy("user_id").agg(
        F.count("*").alias("n_matched")
    )
    return surplus.join(matched, "user_id", "full_outer").select(
        "user_id",
        F.coalesce("n_click_surplus", F.lit(0)).alias("n_click_surplus"),
        F.coalesce("n_matched", F.lit(0)).alias("n_matched"),
    )


def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other — the semantics CDC/merge pipelines need for
    nullable business keys (a plain = join silently drops them)."""
    ev = _read(spark, sf_dir, "events")
    # nullable derived key: every 7th event carries NULL
    keyed = ev.select(
        "event_id",
        "event_type",
        F.when(F.pmod(F.col("event_id"), F.lit(7)) != 0,
               F.pmod(F.col("event_id"), F.lit(5))).alias("k"),
    )
    a = keyed.filter(F.col("event_type") == "click").alias("a")
    b = keyed.filter(F.col("event_type") == "purchase").alias("b")
    j = a.join(b, F.col("a.k").eqNullSafe(F.col("b.k")))
    return j.groupBy(F.col("a.k").alias("k")).agg(
        F.count("*").alias("n_pairs"),
        F.count_distinct(F.col("b.event_id")).alias("n_purchases"),
    )


def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary heavy hitters: the 20 most frequent lowercase
    tokens.  Canonical wordcount shape — explode, map-side partial agg,
    ONE shuffle on the token, then a distributed top-k (orderBy+limit =
    per-partition TakeOrdered, no global sort); the rank window runs on
    the 20 surviving rows only."""
    docs = _read(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(whitespace_tokens_col(F.lower(F.col("text")))).alias("term")
    )
    counts = words.groupBy("term").agg(F.count("*").alias("n"))
    top = counts.orderBy(F.col("n").desc(), F.col("term").asc()).limit(20)
    w = Window.orderBy(F.col("n").desc(), F.col("term").asc())
    return top.withColumn("rk", F.row_number().over(w).cast("int"))


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/diversity quality signals per document."""
    from cloud_ocr_summarizer_spark.operators.textstats import repetition_profile

    return repetition_profile(_read(spark, sf_dir, "documents"))


def q_curation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap-drop observability (VERDICT r2 "silent cap drops"): one row per
    dedup/ANN cap — (cap_name, cap_value, dropped_groups, dropped_rows).
    Caps here are deliberately TIGHT so every cap actually fires at test
    scale and the DuckDB twin value-checks nonzero drop accounting; the
    production defaults (4096/256/65536) fire only on degenerate mass-dup
    corpora, which tests/test_dedup.py covers synthetically."""
    from cloud_ocr_summarizer_spark.plans.curate import curation_cap_audit

    return curation_cap_audit(
        _read(spark, sf_dir, "documents"),
        embeddings=_read(spark, sf_dir, "embeddings"),
        n=3,
        num_hashes=32,
        bands=8,
        max_bucket_size=2,
        max_gram_df=4,
        simhash_bits=30,
        simhash_bands=5,
        simhash_max_bucket_size=16,
        max_block_size=52,
        parallelism=spark.sparkContext.defaultParallelism,
    )


def q_extract_deep_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep-tree flatten (SURVEY E1's 4-level case, vision_processor.py
    :226-269): derive a pages->blocks->paragraphs->words->symbols tree
    from documents, flatten via chained posexplode, assemble text
    bottom-up with the exact ''/' '/'\\n'+strip separators."""
    from cloud_ocr_summarizer_spark.operators.deeptree import (
        derive_deep_tree_from_documents,
        extract_deep_tree,
    )

    return extract_deep_tree(
        derive_deep_tree_from_documents(_read(spark, sf_dir, "documents"))
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS, not just pairs: connected components over the
    checked-MinHash near-dup edges (iterative min-label propagation —
    chains A~B, B~C collapse into one cluster even when (A,C) never
    co-bucketed).  DuckDB twin = recursive-CTE transitive closure."""
    from cloud_ocr_summarizer_spark.operators.dedup import (
        duplicate_clusters,
        minhash_lsh_pairs_checked,
    )

    pairs = minhash_lsh_pairs_checked(
        _read(spark, sf_dir, "documents"),
        n=3,
        num_hashes=32,
        bands=8,
        threshold=0.5,
        parallelism=spark.sparkContext.defaultParallelism,
    )
    return duplicate_clusters(pairs.select("id_a", "id_b"))


def q_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the 100 TB memory path: 8-byte codes
    instead of float vectors): hash-seeded per-subspace codebooks ->
    integer-quantized ADC shortlist -> exact cosine re-rank.  Every
    cutoff is integer arithmetic, fully replayed by the DuckDB twin."""
    from cloud_ocr_summarizer_spark.operators.similarity import pq_topk

    emb = _read(spark, sf_dir, "embeddings")
    return pq_topk(
        emb.filter(F.col("vec_id") < 10),
        emb.filter(F.col("vec_id") >= 10),
        k=5,
        dims=64,
        m=16,
        n_codebook=16,
        rerank=8,
    )


def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinctive terms per document, ranked by the integer
    tf-rarity score tf * (N_docs - doc_freq) — the TF-IDF shape (frequent
    in the doc, rare in the corpus) kept in exact integer arithmetic so
    the ranking can never diverge across engines on a log() ulp (the
    repo's integer-cents rule).  Plan: explode -> (doc, term) tf agg ->
    term df agg -> 1-row N broadcast -> per-doc window top-k."""
    docs = _read(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(whitespace_tokens_col(F.lower(F.col("text")))).alias("term"),
    )
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (F.col("tf") * (F.col("n_docs") - F.col("df"))).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", F.col("rk").cast("int").alias("rk"), "term", "score")
    )


def q_stratified_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-N-per-stratum deterministic sampling (the distributed
    reservoir analogue): per source keep the 5 docs with the smallest
    cross-engine hash — reproducible across runs/engines/partitionings,
    unlike rate-based sampling (hash_sample) which only approximates a
    per-stratum COUNT."""
    from cloud_ocr_summarizer_spark.functions.hashing import md5_hash31_col

    docs = _read(spark, sf_dir, "documents")
    h = md5_hash31_col(F.concat(F.lit("strat:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "source", h.alias("_h"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("doc_id", "source", F.col("rk").cast("int").alias("rk"))
    )


BATCH_6 = {
    "curation_audit": q_curation_audit,
    "extract_deep_tree": q_extract_deep_tree,
    # alias: keeps the registered name and its banked CORRECTNESS rows
    "extract_deep_tree_arrow": q_extract_deep_tree,
    "dedup_clusters": q_dedup_clusters,
    "knn_pq": q_knn_pq,
    "doc_keywords": q_doc_keywords,
    "stratified_sample_exact": q_stratified_sample_exact,
    "decontaminate": q_decontaminate,
    "pii_redaction": q_pii_redaction,
    "sample_mix": q_sample_mix,
    "pack_sequences": q_pack_sequences,
    "curation_checked": q_curation_checked,
    "curation_full_checked": q_curation_full_checked,
    "top_supplier_revenue": q_top_supplier_revenue,
    "large_orders": q_large_orders,
    "excess_parts_suppliers": q_excess_parts_suppliers,
    "top_terms": q_top_terms,
    "events_trailing_hour": q_events_trailing_hour,
    "segments_setops_all": q_segments_setops_all,
    "null_safe_join": q_null_safe_join,
    "dedup_simhash_checked": q_dedup_simhash_checked,
    "kmv_distinct_users": q_kmv_distinct_users,
    "orders_grouping_sets": q_orders_grouping_sets,
    "order_value_ntiles": q_order_value_ntiles,
    "sentences_udtf": q_sentences_udtf,
    "gopher_repetition": q_gopher_repetition,
    "media_payload_features": q_media_payload_features,
    "waiting_suppliers": q_waiting_suppliers,
    "global_sales_opportunity": q_global_sales_opportunity,
    "nation_volume_shipping": q_nation_volume_shipping,
    "train_split": q_train_split,
    "customer_order_histogram": q_customer_order_histogram,
    "discounted_revenue": q_discounted_revenue,
    "events_session_window": q_events_session_window,
    "media_pipeline": q_media_pipeline,
    "events_sliding_window": q_events_sliding_window,
    "events_props_json": q_events_props_json,
    "events_range_join": q_events_range_join,
    "orders_cube": q_orders_cube,
    "language_id_ngram": q_language_id_ngram,
    "user_segments_setops": q_user_segments_setops,
    "part_small_quantity": q_part_small_quantity,
}


BATCH_3 = {
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_minhash_checked": q_dedup_minhash_checked,
    "dedup_simhash": q_dedup_simhash,
    "text_profile": q_text_profile,
    "token_stats_by_source": q_token_stats_by_source,
}


BATCH_2 = {
    "pricing_summary": q_pricing_summary,
    "revenue_by_nation": q_revenue_by_nation,
    "topk_orders_per_segment": q_topk_orders_per_segment,
    "orders_without_lineitems": q_orders_without_lineitems,
    "urgent_customers": q_urgent_customers,
    "events_running_sum": q_events_running_sum,
    "events_sessionize": q_events_sessionize,
    "event_type_pivot": q_event_type_pivot,
    "grouping_rollup": q_grouping_rollup,
    "value_quantiles": q_value_quantiles,
    "union_kind_branches": q_union_kind_branches,
}


BATCH_1 = {
    "extract_flagship": q_extract_flagship,
    "assemble_normalize": q_assemble_normalize,
    "doc_structure_stats": q_doc_structure_stats,
    "rollup_per_doc": q_rollup_per_doc,
    "mime_dispatch": q_mime_dispatch,
    "size_gate": q_size_gate,
    "confidence_filter": q_confidence_filter,
    "primary_language_by_source": q_primary_language_by_source,
    "latest_event_per_user": q_latest_event_per_user,
}


# ---------------------------------------------------------------------------
# BATCH_7 — the remaining TPC-H query shapes, adapted to this schema
# (no partsupp / l_shipmode / receipt dates; each docstring notes the
# adaptation).  Same idiom as the earlier relational batches: integer-cent
# sums for money, deterministic tiebreaks before any top-k cutoff, dims
# broadcast so the fact table shuffles at most once.
# ---------------------------------------------------------------------------
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated MIN subquery — for each part, the
    cheapest supplier that has actually supplied it.  No partsupp table
    here, so "supplies" = distinct (l_partkey, l_suppkey) pairs from
    lineitem and "cost" = s_acctbal.  Expressed as min-per-group via a
    row_number window over the deduped pair table (O(parts) groups, one
    shuffle on partkey); part + supplier dims broadcast."""
    li = _read(spark, sf_dir, "lineitem")
    supp = _read(spark, sf_dir, "supplier")
    part = _read(spark, sf_dir, "part")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    j = pairs.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("s_acctbal").asc(), F.col("s_suppkey").asc()
    )
    best = (
        j.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    return best.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    ).select(
        "p_partkey",
        "p_name",
        "s_suppkey",
        "s_name",
        F.round("s_acctbal", 2).alias("s_acctbal"),
    )


def q_priority_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS semi-join from orders into lineitem with a
    non-equi residual — count Q1-1996 orders per priority that had at
    least one line shipped after the order date ("late" proxy; this
    schema has no commit/receipt dates)."""
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    window = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    late = window.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: conditional aggregation over the full 7-table join
    (lineitem-orders-customer-nation-region + supplier-nation) — per
    order year, NATION_7-supplied revenue vs total revenue into EUROPE
    customers.  Q8's share ratio is deliberately emitted as the two
    exact integer-cent sums instead of a float division (the repo's
    integer-cents rule: a ratio of two large exact ints reintroduces the
    cross-engine rounding-boundary risk the rule exists to kill)."""
    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region")
    n_cust = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    n_supp = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    europe = r.filter(F.col("r_name") == "EUROPE").select(
        F.col("r_regionkey").alias("c_rk")
    )
    j = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(europe), "c_rk")
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("s_nk"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-01-01"))
        )
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    half_up = lambda col: (F.floor((col + 50) / 100.0) / 100.0)  # noqa: E731
    return (
        j.select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            cents.alias("cents"),
            F.when(F.col("supp_nation") == "NATION_7", cents)
            .otherwise(F.lit(0).cast("long"))
            .alias("nation_cents"),
        )
        .groupBy("o_year")
        .agg(
            half_up(F.sum("nation_cents")).alias("nation_revenue"),
            half_up(F.sum("cents")).alias("total_revenue"),
            F.count("*").alias("n_lines"),
        )
    )


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: LIKE-filtered part join + profit aggregation by
    supplier nation and order year.  No ps_supplycost here, so cost =
    p_retailprice * l_quantity / 2 (quantities are integral, retailprice
    2-dec — the per-row cents are exact in both engines); profit may go
    negative, which exercises the half-up formula on negative sums."""
    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders")
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation")
    part = _read(spark, sf_dir, "part")
    red = part.filter(F.col("p_name").like("%red%"))
    j = (
        li.join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    profit_cents = (
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000)
        - F.round(F.col("p_retailprice") * F.col("l_quantity") * 5000)
    ).cast("long")
    return (
        j.select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            profit_cents.alias("pc"),
        )
        .groupBy("nation", "o_year")
        .agg(
            (F.floor((F.sum("pc") + 50) / 100.0) / 100.0).alias("profit"),
            F.count("*").alias("n_lines"),
        )
    )


def q_returned_item_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns
    (l_returnflag = 'R') for Q1-1996 orders.  The cutoff orders by the
    EXACT integer-cent revenue desc then c_custkey — deterministic, so
    the top-20 SET is engine-independent; dollars emitted after the
    cutoff."""
    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    j = (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01"))
                & (F.col("o_orderdate") < F.lit("1996-04-01"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    per_cust = (
        j.select(
            "c_custkey",
            "c_name",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            F.col("n_name").alias("nation"),
            cents.alias("cents"),
        )
        .groupBy("c_custkey", "c_name", "c_acctbal", "nation")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    return (
        per_cust.orderBy(F.col("rev_cents").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            "nation",
            (F.floor((F.col("rev_cents") + 50) / 100.0) / 100.0).alias("revenue"),
        )
    )


def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: HAVING against a scalar-aggregate subquery — parts
    whose lineitem revenue exceeds 1.5x the MEAN per-part revenue.  A
    mean-relative threshold (unlike Q11's fixed total fraction) stays
    non-trivial at every SF tier, since the part count scales with SF.
    The compare is value_cents * 2 * n_parts > 3 * total_cents — pure
    int64 arithmetic on both engines (no float fraction anywhere; at true
    100 TB part counts, hoist to decimal(38) before the multiply); the
    1-row total broadcast cross-joins, so the per-part aggregate never
    reshuffles."""
    li = _read(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 10000).cast("long")
    per_part = (
        li.select("l_partkey", cents.alias("cents"))
        .groupBy("l_partkey")
        .agg(F.sum("cents").alias("value_cents"))
    )
    total = per_part.agg(
        F.sum("value_cents").alias("total_cents"),
        F.count("*").alias("n_parts"),
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_cents") * 2 * F.col("n_parts")
            > 3 * F.col("total_cents")
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            (F.floor((F.col("value_cents") + 50) / 100.0) / 100.0).alias("value"),
        )
    )


def q_linestatus_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + conditional counting by category — per
    l_linestatus (shipmode stand-in: this schema has no l_shipmode),
    late 1996-shipped lines split into high-priority (URGENT/HIGH) vs
    lower-priority order counts."""
    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders")
    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_shipdate") > F.col("o_orderdate"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy("l_linestatus").agg(
        F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
    )


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: single-month conditional aggregation over a
    broadcast part join — promo-type revenue alongside total revenue.
    Q14's percentage is emitted as the two exact integer-cent-derived
    sums, not a float ratio (same reasoning as q_market_share)."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")).filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01"))
        & (F.col("l_shipdate") < F.lit("1996-10-01"))
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    half_up = lambda col: (F.floor((col + 50) / 100.0) / 100.0)  # noqa: E731
    return j.agg(
        half_up(
            F.sum(
                F.when(F.col("p_type") == "PROMO", cents).otherwise(
                    F.lit(0).cast("long")
                )
            )
        ).alias("promo_revenue"),
        half_up(F.sum(cents)).alias("total_revenue"),
        F.count("*").alias("n_lines"),
    )


def q_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT-IN anti-join + per-group distinct count —
    distinct suppliers per (brand, type, size) over actually-supplied
    parts, excluding Brand#1 parts and suppliers in the "complaints"
    blacklist (s_acctbal < 0 stands in for the LIKE '%Complaints%'
    comment filter this schema lacks)."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    supp = _read(spark, sf_dir, "supplier")
    bad = supp.filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    pairs = (
        li.select("l_partkey", "l_suppkey")
        .distinct()
        .join(F.broadcast(bad), "l_suppkey", "left_anti")
    )
    j = pairs.join(
        F.broadcast(part.filter(F.col("p_brand") != "Brand#1")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    return j.groupBy("p_brand", "p_type", "p_size").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )


BATCH_7 = {
    "min_cost_supplier": q_min_cost_supplier,
    "priority_late_orders": q_priority_late_orders,
    "market_share": q_market_share,
    "product_profit": q_product_profit,
    "returned_item_ranking": q_returned_item_ranking,
    "important_parts": q_important_parts,
    "linestatus_priority_counts": q_linestatus_priority_counts,
    "promo_revenue": q_promo_revenue,
    "supplier_cnt": q_supplier_cnt,
}


def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInArrow: per-user recursive integer EWMA — the
    one sequential-state shape Spark SQL cannot express (no recursion;
    the per-step floor kills any weighted-sum closed form).  The DuckDB
    twin replays it with WITH RECURSIVE; integer arithmetic makes the
    engines bit-equal.  See operators/sequence.py for why this is the
    engine's single sanctioned per-row-Python loop."""
    from cloud_ocr_summarizer_spark.operators.sequence import ewma_per_user

    return ewma_per_user(_read(spark, sf_dir, "events"))


BATCH_7["events_ewma"] = q_events_ewma


def q_value_quantiles_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state histogram quantile sketch per event type — the
    10^12-row twin of q_value_quantiles' exact percentile (which buffers
    whole groups).  Deterministic by construction, so fully
    value-checked; estimates are bin lower edges (error <= one bin of
    the global range)."""
    from cloud_ocr_summarizer_spark.operators.sketch import histogram_quantiles

    return histogram_quantiles(_read(spark, sf_dir, "events"))


BATCH_7["value_quantiles_sketch"] = q_value_quantiles_sketch


def q_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate span removal (CCNet/RefinedWeb-style
    line-dedup adapted to the interleaved spans table): a TEXT span whose
    normalized content appears in >= 2 distinct docs of the same source
    is boilerplate and is dropped; survivors are renumbered in offset
    order.  Corpus is never shuffled — the fingerprint dictionary is one
    agg over hashes, broadcast back as one row per source (see
    operators/boilerplate.py docstring for the 100 TB plan)."""
    from cloud_ocr_summarizer_spark.operators.boilerplate import (
        remove_boilerplate_spans,
    )

    docs = _read(spark, sf_dir, "documents")
    return remove_boilerplate_spans(
        derive_spans_from_documents(docs, keep=("source",)), min_df=2
    )


BATCH_7["boilerplate_removal"] = q_boilerplate_removal


def q_boilerplate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap-drop audit for the boilerplate dictionary: max_dict tightened
    to 2 so the rank cap fires at test tiers and the audit row is
    value-checked nonzero — caps never fire silently."""
    from cloud_ocr_summarizer_spark.operators.boilerplate import (
        boilerplate_drop_audit,
    )

    docs = _read(spark, sf_dir, "documents")
    return boilerplate_drop_audit(
        derive_spans_from_documents(docs, keep=("source",)), min_df=2, max_dict=2
    )


BATCH_7["boilerplate_audit"] = q_boilerplate_audit


def q_html_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOM tokenize + boilerplate strip, canonical vectorized path: every
    document's words are wrapped in a deterministic HTML template (head/
    nav/header/aside/footer/script/style boilerplate around two <p>
    blocks), then the Arrow-batched tokenizer rebuilds the main content
    via per-container depth counters (operators/dom.py).  The oracle
    computes the expected text straight from documents.text — the value
    check is a full synthesize->parse->strip round trip."""
    from cloud_ocr_summarizer_spark.datagen import derive_html_from_documents
    from cloud_ocr_summarizer_spark.operators.dom import extract_html_main

    return extract_html_main(
        derive_html_from_documents(_read(spark, sf_dir, "documents"))
    )


BATCH_7["html_main_content"] = q_html_main_content


# alias: keeps the registered name and its banked CORRECTNESS rows
BATCH_7["html_main_content_simple"] = q_html_main_content


def _layout_blocks_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cloud_ocr_summarizer_spark.operators.layout import (
        block_rollup,
        derive_two_column_geometry,
        segment_blocks,
    )

    rows = extract_span_rows(_documents_spans(spark, sf_dir))
    return block_rollup(segment_blocks(derive_two_column_geometry(rows)))


def q_layout_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout parse stage 1 — block segmentation (operators/layout.py):
    deterministic two-column integer-milli geometry over the flagship
    span rows, gap-threshold segmentation per (doc, page, column), one
    hash-agg rollup per block with text assembled in top-down order.
    The reference receives blocks pre-segmented from the Vision API
    (vision_processor.py:226-269); this operator RECOVERS them from raw
    span geometry.  One shuffle, keyed (doc_id, page, col)."""
    return _layout_blocks_df(spark, sf_dir)


BATCH_7["layout_blocks"] = q_layout_blocks


def q_layout_reading_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout parse stage 2 — newspaper reading order: blocks ordered
    page -> column -> top-down, numbered per document.  For two-column
    pages this genuinely differs from byte-offset order (spans alternate
    columns in offset order), which is exactly what a layout parser
    exists to fix."""
    from cloud_ocr_summarizer_spark.operators.layout import assemble_reading_order

    return assemble_reading_order(_layout_blocks_df(spark, sf_dir)).select(
        "doc_id", "reading_seq", "page", "col", "block_text"
    )


BATCH_7["layout_reading_order"] = q_layout_reading_order


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (operators/sampling.chunk_documents):
    every document split into 64-token windows advancing by 48 (16-token
    overlap), the standard pretraining treatment of longer-than-context
    documents.  Zero shuffles, zero Python — one codegen stage of
    tokenize + sequence + posexplode + slice."""
    from cloud_ocr_summarizer_spark.operators.sampling import chunk_documents

    return chunk_documents(_read(spark, sf_dir, "documents"))


BATCH_7["chunk_documents"] = q_chunk_documents


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary induction + per-doc OOV rate
    (operators/textstats.vocab_coverage): top-1024 corpus tokens become
    the vocabulary (deterministic ties), every document scored for
    out-of-vocabulary tokens.  Vocabulary size is corpus-independent so
    the scoring join is always broadcast."""
    from cloud_ocr_summarizer_spark.operators.textstats import vocab_coverage

    return vocab_coverage(_read(spark, sf_dir, "documents"))


BATCH_7["vocab_coverage"] = q_vocab_coverage


def q_layout_reading_order_rowlocal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-shuffle fused twin of layout_reading_order
    (operators/layout.reading_order_rowlocal): geometry, gap
    segmentation, and newspaper ordering computed per document from its
    complete span array — transform + array_sort + one aggregate fold in
    a single codegen stage.  Same oracle as the flat two-shuffle path."""
    from cloud_ocr_summarizer_spark.operators.layout import reading_order_rowlocal

    return reading_order_rowlocal(
        extract_spans(_documents_spans(spark, sf_dir), with_stats=False)
    )


BATCH_7["layout_reading_order_rowlocal"] = q_layout_reading_order_rowlocal


def q_extract_web_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule pipeline composed as ONE job
    (plans/extract_web.extract_web_documents_fused): DOM boilerplate
    strip + row-local span extraction / kind tagging / layout parse,
    the span stats carried THROUGH the DOM strip's Arrow stage — one
    documents scan, zero Exchanges.  One output row per document."""
    from cloud_ocr_summarizer_spark.plans.extract_web import (
        extract_web_documents_fused,
    )

    return extract_web_documents_fused(_read(spark, sf_dir, "documents"))


# alias: keeps the registered name and its banked CORRECTNESS rows
BATCH_7["extract_web"] = q_extract_web_fused


def q_html_main_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability-style link-density block classification
    (operators/dom.extract_html_dense): documents rendered as <p> blocks
    with deterministic per-block link classes; blocks where anchor
    tokens exceed half the block's tokens (2*link > total, integer
    rule) are dropped as nav/related-link boilerplate.  Arrow path."""
    from cloud_ocr_summarizer_spark.datagen import derive_linked_html_from_documents
    from cloud_ocr_summarizer_spark.operators.dom import extract_html_dense

    return extract_html_dense(
        derive_linked_html_from_documents(_read(spark, sf_dir, "documents"))
    )


BATCH_7["html_main_dense"] = q_html_main_dense


# alias: keeps the registered name and its banked CORRECTNESS rows
BATCH_7["html_main_dense_simple"] = q_html_main_dense
BATCH_7["extract_web_fused"] = q_extract_web_fused


def q_html_main_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerpipe-style TEXT-density block classification
    (operators/dom.extract_html_density — Kohlschütter et al. WSDM'10):
    documents rendered as <p> blocks of varying density; blocks with
    fewer than 7 words per 80-column wrapped line (integer rule
    wc < 7*max(1, ceil(nc/80))) are dropped as fragment boilerplate.
    Complements html_main_dense's LINK-density rule — together they are
    the north star's named Readability heuristic pair.  Arrow path."""
    from cloud_ocr_summarizer_spark.datagen import derive_density_html_from_documents
    from cloud_ocr_summarizer_spark.operators.dom import extract_html_density

    return extract_html_density(
        derive_density_html_from_documents(_read(spark, sf_dir, "documents"))
    )


BATCH_7["html_main_density"] = q_html_main_density


# alias: keeps the registered name and its banked CORRECTNESS rows
BATCH_7["html_main_density_simple"] = q_html_main_density


def q_pdf_text_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF content-stream byte tokenization (operators/pdfstream):
    documents rendered as minimal two-column BT/Tm/Td/Tj streams, parsed
    back into positioned line spans by the vectorized token state
    machine (Tm resets, Td accumulates).  Canonical Arrow path."""
    from cloud_ocr_summarizer_spark.datagen import derive_pdf_streams_from_documents
    from cloud_ocr_summarizer_spark.operators.pdfstream import parse_pdf_text_spans

    return parse_pdf_text_spans(
        derive_pdf_streams_from_documents(_read(spark, sf_dir, "documents"))
    )


BATCH_7["pdf_text_spans"] = q_pdf_text_spans


def q_pdf_text_spans_simple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-expression twin of pdf_text_spans (aligned regexp_extract_all
    over the fixed block shape; WholeStageCodegen, zero Python)."""
    from cloud_ocr_summarizer_spark.datagen import derive_pdf_streams_from_documents
    from cloud_ocr_summarizer_spark.operators.pdfstream import (
        parse_pdf_text_spans_simple,
    )

    return parse_pdf_text_spans_simple(
        derive_pdf_streams_from_documents(_read(spark, sf_dir, "documents"))
    )


BATCH_7["pdf_text_spans_simple"] = q_pdf_text_spans_simple


def q_pdf_main_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parsed PDF spans assembled into per-document main text in
    newspaper reading order (left column first, y descending — PDF user
    space grows upward); row-local sort_array assembly, one shuffle."""
    from cloud_ocr_summarizer_spark.datagen import derive_pdf_streams_from_documents
    from cloud_ocr_summarizer_spark.operators.pdfstream import (
        assemble_pdf_main_text,
        parse_pdf_text_spans,
    )

    docs = _read(spark, sf_dir, "documents")
    return assemble_pdf_main_text(
        docs, parse_pdf_text_spans(derive_pdf_streams_from_documents(docs))
    )


BATCH_7["pdf_main_text"] = q_pdf_main_text


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (the last-but-one missing classic): 6-table join
    where customer and supplier must sit in the SAME nation, the nation
    restricted to one region, over a one-year order window.  One fact
    shuffle (lineitem-orders sort-merge); every dimension hop
    broadcasts, region->nation pre-joined driver-side-free.  Completes
    all 22 TPC-H query shapes together with forecast_revenue_change."""
    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    c = _read(spark, sf_dir, "customer")
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = n.join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    j = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        # Q5's defining predicate: the supplier is LOCAL to the customer
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    return j.groupBy("n_name").agg(
        (F.floor((F.sum(cents) + 50) / 100.0) / 100.0).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


BATCH_7["local_supplier_volume"] = q_local_supplier_volume


def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate on the fact table —
    the canonical predicate-pushdown showcase (all three filters reach
    the parquet scan; no join, no per-group shuffle, one global agg).
    Revenue is what WOULD have been charged without the discount:
    sum(l_extendedprice * l_discount), integer-cents exact."""
    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    cents = F.round(F.col("l_extendedprice") * F.col("l_discount") * 10000).cast(
        "long"
    )
    return li.agg(
        (F.floor((F.sum(cents) + 50) / 100.0) / 100.0).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


BATCH_7["forecast_revenue_change"] = q_forecast_revenue_change


def q_html_main_classified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMBINED Readability classifier (operators/dom.
    extract_html_classified): a block survives only if it is neither
    link-dense (2*link>total) nor text-sparse (wc < 7*ceil(nc/80)) —
    the north star's full heuristic pair in one Arrow pass over the
    shared block kernel."""
    from cloud_ocr_summarizer_spark.datagen import (
        derive_classified_html_from_documents,
    )
    from cloud_ocr_summarizer_spark.operators.dom import extract_html_classified

    return extract_html_classified(
        derive_classified_html_from_documents(_read(spark, sf_dir, "documents"))
    )


BATCH_7["html_main_classified"] = q_html_main_classified


# alias: keeps the registered name and its banked CORRECTNESS rows
BATCH_7["html_main_classified_simple"] = q_html_main_classified


def q_extract_web_classified_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed north-rule job with the FULL Readability classifier
    (plans/extract_web.extract_web_documents_classified_fused): both
    integer heuristics per block + span stats + layout, the stats
    carried through the classifier's Arrow stage — one documents scan,
    zero Exchanges."""
    from cloud_ocr_summarizer_spark.plans.extract_web import (
        extract_web_documents_classified_fused,
    )

    return extract_web_documents_classified_fused(_read(spark, sf_dir, "documents"))


# alias: keeps the registered name and its banked CORRECTNESS rows
BATCH_7["extract_web_classified"] = q_extract_web_classified_fused


def q_media_pdf_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF layout parsing FOR MEDIA_REF SPANS, end to end: every media
    span's asset is a derived PDF content stream (datagen.
    derive_media_pdf_payloads), byte-parsed by the Tm/Td state machine
    and reassembled per asset in y-descending reading order.  Plan:
    row-local explode + payload render (codegen) -> Arrow parse map
    stage -> one groupBy on the asset key; payload bytes never cross a
    shuffle."""
    from cloud_ocr_summarizer_spark.datagen import derive_media_pdf_payloads
    from cloud_ocr_summarizer_spark.operators.pdfstream import parse_pdf_text_spans

    assets = derive_media_pdf_payloads(
        _read(spark, sf_dir, "documents")
    ).withColumnRenamed("asset_key", "doc_id")
    parsed = parse_pdf_text_spans(assets)
    agg = parsed.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (-F.col("y")).alias("ny"),
                            F.col("seq").alias("seq"),
                            F.col("line_text").alias("line_text"),
                        )
                    )
                ),
                lambda s: s["line_text"],
            ),
            " ",
        ).alias("asset_text"),
        F.count(F.lit(1)).cast("int").alias("n_lines"),
    )
    # exact bit decode of the (doc_id << 20) | offset surrogate key
    return agg.select(
        F.shiftright(F.col("doc_id"), 20).cast("long").alias("doc_id"),
        F.col("doc_id").bitwiseAND(F.lit((1 << 20) - 1)).cast("int")
        .alias("offset"),
        "n_lines",
        "asset_text",
    )


BATCH_7["media_pdf_layout"] = q_media_pdf_layout


BATCH_7["extract_web_classified_fused"] = q_extract_web_classified_fused


def q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-milli Flesch-Kincaid readability over documents regrouped
    into 12-word sentences (the corpus has no native punctuation, so
    the query plants '.' boundaries deterministically — the operator
    then genuinely parses sentence segments and counts vowel-group
    syllables).  Row-local map stage."""
    from cloud_ocr_summarizer_spark.operators.textstats import readability_profile

    docs = _read(spark, sf_dir, "documents")
    from cloud_ocr_summarizer_spark.functions.text import let_col

    k = 12

    def to_sentences(words):
        n = F.size(words)
        chunks = F.transform(
            F.sequence(F.lit(0), F.ceil(n / F.lit(k)).cast("int") - 1),
            lambda i: F.array_join(F.slice(words, i.cast("int") * k + 1, k), " "),
        )
        return F.when(
            n > 0, F.concat(F.array_join(chunks, ". "), F.lit("."))
        ).otherwise(F.lit(""))

    # let-bound token array: the per-chunk lambda must slice the bound
    # array, not the split expression (re-tokenize per chunk = O(n^2))
    sentence_text = let_col(
        F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != ""), to_sentences
    )
    return readability_profile(
        docs.select("doc_id", sentence_text.alias("text"))
    )


BATCH_7["readability_scores"] = q_readability_scores


def q_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain balancing: at most 20 docs per source by deterministic
    md5-hash rank (operators/sampling.cap_per_source) — the RefinedWeb
    per-domain cap as a pure function of the data."""
    from cloud_ocr_summarizer_spark.operators.sampling import cap_per_source

    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_source(docs, cap=20)


BATCH_7["cap_per_source"] = q_cap_per_source


def q_dedup_intra_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repeated-passage removal (textstats.
    dedup_intra_doc): the query doubles each document's text so the
    repeat gate genuinely fires (the fixed corpus rarely repeats an
    exact 8-word chunk), then drops every chunk that repeats an earlier
    one.  Row-local fold, no shuffle."""
    from cloud_ocr_summarizer_spark.operators.textstats import dedup_intra_doc

    docs = _read(spark, sf_dir, "documents")
    doubled = F.when(
        F.length(F.col("text")) > 0, F.concat(F.col("text"), F.lit(" "), F.col("text"))
    ).otherwise(F.col("text"))
    return dedup_intra_doc(docs.select("doc_id", doubled.alias("text")))


BATCH_7["dedup_intra_doc"] = q_dedup_intra_doc


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher word-level quality rules (textstats.gopher_quality_rules,
    min_words=50 — the corpus median, so the word-count band genuinely
    splits it): word-count band, integer mean-word-length band,
    80%-alpha rule, and >= 2 distinct stopwords.  Complements
    gopher_repetition.  Row-local, no shuffle."""
    from cloud_ocr_summarizer_spark.operators.textstats import gopher_quality_rules

    return gopher_quality_rules(
        _read(spark, sf_dir, "documents"), min_words=50
    )


BATCH_7["gopher_quality"] = q_gopher_quality


def q_quality_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The new word-level gates COMPOSED the way a curation run chains
    them: doubled text (so the repeat gate fires) -> Gopher word-level
    rules (min_words=100 = the doubled-corpus median) -> intra-doc
    repeated-passage removal -> integer-milli Flesch-Kincaid over the
    CLEANED text (no planted punctuation here, so S clamps to 1).
    Three row-local stages + two 1:1 doc_id joins."""
    from cloud_ocr_summarizer_spark.operators.textstats import (
        dedup_intra_doc,
        gopher_quality_rules,
        readability_profile,
    )

    docs = _read(spark, sf_dir, "documents")
    doubled = docs.select(
        "doc_id",
        F.when(
            F.length("text") > 0, F.concat(F.col("text"), F.lit(" "), F.col("text"))
        ).otherwise(F.col("text")).alias("text"),
    )
    passed = gopher_quality_rules(doubled, min_words=100).filter(
        F.col("passes_gopher")
    ).select("doc_id", "n_words")
    cleaned = dedup_intra_doc(doubled.join(passed, "doc_id").select("doc_id", "text"))
    scored = readability_profile(
        cleaned.select("doc_id", F.col("clean_text").alias("text"))
    ).select("doc_id", "n_syllables", "fk_milligrade")
    return (
        passed.join(cleaned.select("doc_id", "n_removed"), "doc_id")
        .join(scored, "doc_id")
    )


BATCH_7["quality_pipeline"] = q_quality_pipeline


def q_source_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus length statistics with an EXACT lower median
    (order-statistic by rank, not approx_percentile — approximate
    sketches cannot cross the engine boundary bit-exactly).  One
    shuffle: both window specs share the source partition."""
    docs = _read(spark, sf_dir, "documents")
    w = F.size(F.filter(F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
                        lambda x: x != ""))
    base = docs.select("source", w.alias("w"), "doc_id")
    part = Window.partitionBy("source")
    ordered = part.orderBy("w", "doc_id")
    ranked = base.select(
        "source",
        "w",
        F.row_number().over(ordered).alias("rn"),
        F.count(F.lit(1)).over(part).alias("n_docs"),
        F.min("w").over(part).alias("min_words"),
        F.max("w").over(part).alias("max_words"),
    )
    return ranked.filter(
        F.col("rn") == F.floor((F.col("n_docs") + 1) / 2)
    ).select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("min_words").cast("int").alias("min_words"),
        F.col("w").cast("int").alias("median_words"),
        F.col("max_words").cast("int").alias("max_words"),
    )


BATCH_7["source_length_stats"] = q_source_length_stats


def q_curation_gates_rowlocal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming.incremental.start_incremental_curation_gates,
    built from the SAME shared column helpers (quality_score_col,
    repetition_flagged_col, redacted_text_col, hash_split_col) — so this
    value check covers the streaming gate chain's semantics too.  The
    fixed corpus has no PII, so the query plants one deterministic
    email/phone/IPv4 per doc (same derivation as pii_redaction) before
    gating; the repetition flag here is the ROW-LOCAL form (array ops,
    no explode/shuffle), value-identical to repetition_profile's
    aggregated flag.  Both gates genuinely FIRE at the test tiers: docs
    with doc_id % 7 == 0 are rewritten to a repeated word (repetition
    drop), and the quality threshold is tightened to 7000 bp (~median
    of the suffixed corpus, observed range 5597-8812) so the quality
    gate splits the remainder.  Pure map stage end to end — zero
    Exchanges."""
    from cloud_ocr_summarizer_spark.functions.hashing import hash_split_col
    from cloud_ocr_summarizer_spark.operators.textstats import (
        quality_score_col,
        redacted_text_col,
        repetition_flagged_col,
    )

    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    raw = F.when(
        F.pmod(d, F.lit(7)) == 0,
        F.array_join(F.array_repeat(F.lit("spam"), 40), " "),
    ).otherwise(F.col("text"))
    pii_text = F.concat(
        raw,
        F.lit(" contact user-"), d.cast("string"), F.lit("@example.com tel "),
        F.lpad(F.pmod(d, F.lit(1000)).cast("string"), 3, "0"), F.lit("-"),
        F.lpad(F.pmod(d * 7, F.lit(1000)).cast("string"), 3, "0"), F.lit("-"),
        F.lpad(F.pmod(d * 13, F.lit(10000)).cast("string"), 4, "0"),
        F.lit(" from 10.0."), F.pmod(d, F.lit(256)).cast("string"), F.lit(".1"),
    )
    base = docs.select("doc_id", pii_text.alias("text"))
    gated = base.filter(quality_score_col(F.col("text")) >= 7000)
    kept = gated.filter(
        ~F.coalesce(repetition_flagged_col(F.col("text")), F.lit(False))
    )
    return kept.select(
        "doc_id",
        redacted_text_col(F.col("text")).alias("clean_text"),
        hash_split_col(F.col("doc_id")).alias("split"),
    )


BATCH_7["curation_gates_rowlocal"] = q_curation_gates_rowlocal


def q_dedup_cross_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document passage dedup (dedup.dedup_cross_doc_passages —
    the C4-style corpus-wide repeated-span gate).  The fixed corpus
    shares no exact 8-word chunk across documents, so the query unions
    an id-shifted echo copy of every document: echo docs lose ALL their
    chunks to the original (global first-occurrence-wins), originals
    keep theirs — both the keep and drop paths genuinely execute.
    Explode + two hash aggregations + 1:1 left join; no pairwise work."""
    from cloud_ocr_summarizer_spark.operators.dedup import (
        dedup_cross_doc_passages,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    # offset = max(doc_id) + 1, NOT a fixed constant: a constant offset
    # collides with real ids at any tier larger than it, and the engine
    # and oracle disagree on the merged rows
    offset = docs.agg((F.max("doc_id") + F.lit(1)).alias("_off"))
    echo = docs.crossJoin(F.broadcast(offset)).select(
        (F.col("doc_id") + F.col("_off")).alias("doc_id"), F.col("text")
    )
    return dedup_cross_doc_passages(docs.unionByName(echo))


BATCH_7["dedup_cross_doc"] = q_dedup_cross_doc


def q_gopher_repetition_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's line-level + n-gram repetition filters
    (textstats.repetition_profile_full).  The fixed corpus is single-line
    prose, so the query deterministically restructures each doc:
    doc_id % 7 == 0 becomes a two-word loop (top-n-gram shares fire),
    then first-6-words / remainder / third line, where the third line
    duplicates the first for doc_id % 3 == 0 (duplicate-line fractions
    fire).  Row-local end to end — zero Exchanges."""
    from cloud_ocr_summarizer_spark.operators.textstats import (
        repetition_profile_full,
    )

    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    t = F.when(
        F.pmod(d, F.lit(7)) == 0,
        F.array_join(F.array_repeat(F.lit("tick tock"), 30), " "),
    ).otherwise(F.coalesce(F.col("text"), F.lit("")))
    words = F.filter(F.split(t, r"\s+"), lambda w: w != F.lit(""))
    line1 = F.array_join(F.slice(words, 1, 6), " ")
    rest = F.array_join(F.slice(words, 7, 1000000), " ")
    line3 = F.when(F.pmod(d, F.lit(3)) == 0, line1).otherwise(
        F.lit("unique tail line")
    )
    built = F.concat(line1, F.lit("\n"), rest, F.lit("\n"), line3)
    return repetition_profile_full(docs.select("doc_id", built.alias("text")))


BATCH_7["gopher_repetition_full"] = q_gopher_repetition_full


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source re-balancing (sampling.temperature_mix,
    alpha=0.3, target 50%).  The fixed corpus's sources are equal-sized
    (flat rates — nothing to balance), so the query derives skewed
    strata from doc_id % 10 (50/30/10/10%): the small strata's rates
    rise toward keep-all, the dominant one is cut — every rate branch
    genuinely differs.  Corpus never shuffles: count agg + broadcast
    rate join + row-local hash threshold."""
    from cloud_ocr_summarizer_spark.operators.sampling import temperature_mix

    docs = _read(spark, sf_dir, "documents")
    m = F.pmod(F.col("doc_id"), F.lit(10))
    stratum = (
        F.when(m < 5, F.lit("a"))
        .when(m < 8, F.lit("b"))
        .when(m < 9, F.lit("c"))
        .otherwise(F.lit("d"))
    )
    base = docs.select("doc_id", stratum.alias("stratum"))
    return temperature_mix(
        base, stratum_col="stratum", alpha=0.3, target_frac=0.5
    ).select("doc_id", "stratum", "rate_ppm")


BATCH_7["temperature_mix"] = q_temperature_mix


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (operators/bpe.py): the first
    6 learned merges over the documents corpus.  One corpus-sized
    wordcount shuffle; every merge round runs on the vocabulary-sized
    distinct-word table with a 1-row winning-pair collect (metadata-
    sized) and a localCheckpoint to stop iterative plan doubling."""
    from cloud_ocr_summarizer_spark.operators.bpe import bpe_merges_df

    return bpe_merges_df(_read(spark, sf_dir, "documents"), n_merges=6)


BATCH_7["bpe_merges"] = q_bpe_merges


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE ENCODER under the learned merges: train the same 6
    merges as q_bpe_merges, then encode every document row-locally
    (bpe_encode_col — the merge list is baked into the expression) and
    count subword tokens.  Value-checks the encoder against
    data-dependent learned merges, not a fixed table."""
    from cloud_ocr_summarizer_spark.operators.bpe import (
        bpe_encode_col,
        train_bpe_merges,
    )

    from cloud_ocr_summarizer_spark.operators.bpe import SEP

    docs = _read(spark, sf_dir, "documents")
    merges = train_bpe_merges(docs, n_merges=6)
    # separator-carrying words are excluded from training (oracle
    # representation constraint); exclude them from the encoded counts
    # too so both sides count the same word population
    clean = docs.select(
        "doc_id",
        F.array_join(
            F.filter(
                F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
                lambda w: (w != F.lit("")) & ~w.contains(SEP),
            ),
            " ",
        ).alias("text"),
    )
    toks = bpe_encode_col(F.col("text"), merges)
    words = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
        lambda w: w != F.lit(""),
    )
    return clean.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_bpe_tokens"),
        F.size(words).cast("int").alias("n_words"),
    )


BATCH_7["bpe_token_count"] = q_bpe_token_count


def q_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (sketch.count_min_sketch) over events.user_id,
    depth 4 x width 256: the materialized integer sketch table.  Output
    bounded at 1024 rows regardless of corpus size (map-side partial
    agg); every counter value-checked against the DuckDB hash twin."""
    from cloud_ocr_summarizer_spark.operators.sketch import count_min_sketch

    events = _read(spark, sf_dir, "events")
    return count_min_sketch(events, value_col="user_id", depth=4, width=256)


BATCH_7["cms_user_counts"] = q_cms_user_counts


def q_hll_user_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register table (sketch.hll_registers, b=6) over
    events.user_id — the integer (register, max_rho) surface; the
    float harmonic-mean estimate stays driver-side (sketch.hll_estimate,
    pytest-pinned) because its summation order is engine-dependent."""
    from cloud_ocr_summarizer_spark.operators.sketch import hll_registers

    events = _read(spark, sf_dir, "events")
    return hll_registers(events, value_col="user_id", b=6)


BATCH_7["hll_user_registers"] = q_hll_user_registers


def q_lm_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram LM rarity features (operators/lm.py — the
    CCNet-flavored filter's integer surface): per-doc adjacent-pair
    count, rare-transition share in bp, summed corpus support.  Two
    vocab-sized count aggregations + one bigram-keyed join + one per-doc
    rollup; the float perplexity sibling is pytest-pinned."""
    from cloud_ocr_summarizer_spark.operators.lm import lm_rarity_profile

    return lm_rarity_profile(_read(spark, sf_dir, "documents"))


BATCH_7["lm_rarity"] = q_lm_rarity


def q_lm_pair_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-row drop audit for the LM bigram-table min-count floor
    (operators/lm.lm_pair_drop_audit): distinct count-1 pairs pruned
    from the stored table + occurrences they carried — the Zipf tail
    the floor bounds is observable, never silent."""
    from cloud_ocr_summarizer_spark.operators.lm import lm_pair_drop_audit

    return lm_pair_drop_audit(_read(spark, sf_dir, "documents"))


BATCH_7["lm_pair_audit"] = q_lm_pair_audit


# --------------------------------------------------------------------------
# BATCH_8: round-4 additions
# --------------------------------------------------------------------------
BATCH_8: dict[str, object] = {}


def q_deep_tree_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detailed-mode deep-tree flatten WITH per-level bounding boxes
    (vision_processor.py:304-313 block, :344-353 paragraph, :382-391
    word normalized_vertices): one row per node at every level, text +
    integer-milli rectangle read from the stored bbox vertices.  Closes
    VERDICT r3 missing item 3 (span_geometry covered blocks only)."""
    from cloud_ocr_summarizer_spark.operators.deeptree import (
        derive_deep_tree_geometry_from_documents,
        extract_deep_tree_geometry,
    )

    return extract_deep_tree_geometry(
        derive_deep_tree_geometry_from_documents(_read(spark, sf_dir, "documents"))
    )


BATCH_8["deep_tree_geometry"] = q_deep_tree_geometry


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster canonicalization (operators/dedup.dedup_keep_best):
    connected components over the checked-MinHash pair edges, then keep
    the highest-quality member per cluster (integer-bp quality, ties to
    the smaller doc_id); singletons pass through without entering the
    rank window.  The curation DECISION layer on top of dedup_clusters —
    DuckDB twin = recursive-CTE closure + the same quality formula +
    one rank window."""
    from cloud_ocr_summarizer_spark.operators.dedup import (
        dedup_keep_best,
        minhash_lsh_pairs_checked,
    )

    docs = _read(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs_checked(
        docs,
        n=3,
        num_hashes=32,
        bands=8,
        threshold=0.5,
        parallelism=spark.sparkContext.defaultParallelism,
    )
    return dedup_keep_best(docs.select("doc_id", "text"), pairs)


BATCH_8["dedup_keep_best"] = q_dedup_keep_best


def q_link_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus link-graph edges: synthesize anchor HTML per document,
    then parse the internal doc:// hrefs back out (JVM regexp, row-local)
    — the DuckDB twin re-derives the edge set from the target arithmetic
    alone, so the value check is a synthesize->parse round trip
    (operators/linkgraph.extract_outlinks)."""
    from cloud_ocr_summarizer_spark.operators.linkgraph import (
        derive_linkgraph_html_from_documents,
        extract_outlinks,
    )

    return extract_outlinks(
        derive_linkgraph_html_from_documents(_read(spark, sf_dir, "documents"))
    )


BATCH_8["link_outlinks"] = q_link_outlinks


def q_link_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out/in degree over the full node set (orphans report
    0/0) — the graph-shape profile a crawl-curation pass reads before
    deciding centrality cutoffs (operators/linkgraph.degree_stats)."""
    from cloud_ocr_summarizer_spark.operators.linkgraph import (
        degree_stats,
        derive_linkgraph_html_from_documents,
        extract_outlinks,
    )

    docs = _read(spark, sf_dir, "documents")
    return degree_stats(
        docs, extract_outlinks(derive_linkgraph_html_from_documents(docs))
    )


BATCH_8["link_degree_stats"] = q_link_degree_stats


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration integer PageRank over the corpus link graph
    (operators/linkgraph.pagerank, 5 rounds, micro-unit BIGINT ranks) —
    iterative self-referencing plan cut per round with localCheckpoint;
    DuckDB twin is a generated chain of MATERIALIZED CTEs r1..r5."""
    from cloud_ocr_summarizer_spark.operators.linkgraph import (
        pagerank_over_documents,
    )

    return pagerank_over_documents(_read(spark, sf_dir, "documents"), n_iter=5)


BATCH_8["pagerank"] = q_pagerank


def q_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-rooted personalized PageRank
    (operators/linkgraph.pagerank_personalized): initial mass and the
    teleport term live only on the seed set doc_id % 20 == 0, so rank
    flows outward from trusted pages — the TrustRank-style quality
    prior.  It is `pagerank` with a seed predicate (one shared round
    body, _rank_round); DuckDB twin is the same generated MATERIALIZED-CTE
    chain with the seed-cased init/teleport expressions."""
    from cloud_ocr_summarizer_spark.operators.linkgraph import (
        derive_linkgraph_html_from_documents,
        extract_outlinks,
        pagerank_personalized,
    )

    docs = _read(spark, sf_dir, "documents")
    edges = extract_outlinks(derive_linkgraph_html_from_documents(docs))
    return pagerank_personalized(docs, edges, n_iter=5)


BATCH_8["pagerank_personalized"] = q_pagerank_personalized


def q_bow_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised bag-of-words curation classifier (operators/bow.py):
    train integer token-frequency weights on the 80% hash-split slice,
    score the held-out 20% with an exact argmax (ties to the smaller
    label) — the CCNet/fastText-style model gate, integer arithmetic
    end-to-end so the cross-engine hash is byte-stable."""
    from cloud_ocr_summarizer_spark.operators.bow import classify_bow

    return classify_bow(_read(spark, sf_dir, "documents"))


BATCH_8["bow_classify"] = q_bow_classify


def q_bow_classify_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BoW classifier with top_v=8: most held-out tokens fall
    outside the vocabulary, so the value check exercises the OOV
    prior-only scoring path and the deterministic top-V tie-break
    (count desc, token asc) cross-engine."""
    from cloud_ocr_summarizer_spark.operators.bow import classify_bow

    return classify_bow(_read(spark, sf_dir, "documents"), top_v=8)


BATCH_8["bow_classify_capped"] = q_bow_classify_capped


def q_bow_vocab_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-row drop audit for the BoW top-V vocabulary cap at top_v=8
    (operators/bow.bow_vocab_drop_audit): distinct training tokens cut
    + occurrences they carried, value-checked — the broadcast bound is
    observable, never silent (the dedup cap-audit policy)."""
    from cloud_ocr_summarizer_spark.operators.bow import bow_vocab_drop_audit

    return bow_vocab_drop_audit(_read(spark, sf_dir, "documents"), top_v=8)


BATCH_8["bow_vocab_audit"] = q_bow_vocab_audit


def q_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parser round trip (operators/urls.py): synthesize a URL per
    document covering every branch (scheme/port/query variants,
    doc-varying registered domain), parse it back with row-local JVM
    regexps — the DuckDB twin re-derives each field from doc_id
    arithmetic, never from the string, so the check proves the parser
    inverts the synthesis exactly."""
    from cloud_ocr_summarizer_spark.operators.urls import (
        derive_urls_from_documents,
        parse_urls,
    )

    return parse_urls(derive_urls_from_documents(_read(spark, sf_dir, "documents")))


BATCH_8["url_parse"] = q_url_parse


def q_domain_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist gate (operators/urls.domain_gate): broadcast
    anti-join of the parsed corpus against a blocklist of registered
    domains — the C4/RefinedWeb URL-level filter; output is the kept
    rows' (doc_id, host, domain)."""
    from cloud_ocr_summarizer_spark.operators.urls import (
        derive_urls_from_documents,
        domain_gate,
        parse_urls,
    )

    parsed = parse_urls(
        derive_urls_from_documents(_read(spark, sf_dir, "documents"))
    )
    return domain_gate(parsed, spark).select("doc_id", "host", "domain")


BATCH_8["domain_gate"] = q_domain_gate


def q_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inbound anchor-text aggregation per link target
    (operators/linkgraph.inbound_anchor_texts) — the signal web search
    and crawl curation read off the link graph; the DuckDB twin
    re-derives every (target, text) pair from the anchor arithmetic."""
    from cloud_ocr_summarizer_spark.operators.linkgraph import (
        derive_linkgraph_html_from_documents,
        inbound_anchor_texts,
    )

    return inbound_anchor_texts(
        derive_linkgraph_html_from_documents(_read(spark, sf_dir, "documents"))
    )


BATCH_8["anchor_texts"] = q_anchor_texts


def q_anchor_texts_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The anchor-text aggregation with top_k=2, so the hot-key cap
    actually truncates at this tier and the value check covers the
    two-level bounded merge's slice path itself (n_inbound stays the
    exact count; anchor_texts keeps the 2 lexicographically smallest)."""
    from cloud_ocr_summarizer_spark.operators.linkgraph import (
        derive_linkgraph_html_from_documents,
        inbound_anchor_texts,
    )

    return inbound_anchor_texts(
        derive_linkgraph_html_from_documents(_read(spark, sf_dir, "documents")),
        top_k=2,
    )


BATCH_8["anchor_texts_capped"] = q_anchor_texts_capped


def q_anchor_texts_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The anchor-text aggregation via merge='window' — the
    spill-bounded sort formulation for extreme power-law in-degree
    (row_number over a per-target window; ExternalSorter state spills
    instead of growing an aggregation buffer).  Bit-identical contract:
    shares ORACLES['anchor_texts'] with the salted default, so the
    driver value-checks the equivalence cross-engine."""
    from cloud_ocr_summarizer_spark.operators.linkgraph import (
        derive_linkgraph_html_from_documents,
        inbound_anchor_texts,
    )

    return inbound_anchor_texts(
        derive_linkgraph_html_from_documents(_read(spark, sf_dir, "documents")),
        merge="window",
    )


BATCH_8["anchor_texts_window"] = q_anchor_texts_window


def q_anchor_texts_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-row drop audit for the anchor-text top-K cap at top_k=2
    (operators/linkgraph.anchor_text_cap_audit): targets truncated +
    texts cut, value-checked against the same pair arithmetic the
    anchor_texts twin uses — dropped data is observable, never silent
    (the dedup cap-audit policy)."""
    from cloud_ocr_summarizer_spark.operators.linkgraph import (
        anchor_text_cap_audit,
        derive_linkgraph_html_from_documents,
    )

    return anchor_text_cap_audit(
        derive_linkgraph_html_from_documents(_read(spark, sf_dir, "documents")),
        top_k=2,
    )


BATCH_8["anchor_texts_audit"] = q_anchor_texts_audit


def q_domain_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain curation rollup (operators/urls.domain_quality_rollup):
    URL parse -> blocklist gate -> integer-bp quality scoring ->
    one domain aggregate; the text column rides the projections so the
    only corpus shuffle is the final groupBy."""
    from cloud_ocr_summarizer_spark.operators.urls import domain_quality_rollup

    return domain_quality_rollup(_read(spark, sf_dir, "documents"))


BATCH_8["domain_quality_rollup"] = q_domain_quality_rollup


def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate harmonic centrality over the corpus link graph
    (operators/linkgraph.harmonic_centrality_kmv): HyperBall-style
    iterated ball sketches with a k-minimum-values counter so every
    state cell is an exact integer — per-node state bounded at k hashes
    regardless of ball size.  DuckDB twin is a generated chain of
    MATERIALIZED CTEs over the same integer recurrence."""
    from cloud_ocr_summarizer_spark.operators.linkgraph import (
        derive_linkgraph_html_from_documents,
        extract_outlinks,
        harmonic_centrality_kmv,
    )

    docs = _read(spark, sf_dir, "documents")
    edges = extract_outlinks(derive_linkgraph_html_from_documents(docs))
    return harmonic_centrality_kmv(docs, edges, k=8, n_iter=3)


BATCH_8["harmonic_centrality"] = q_harmonic_centrality


def q_harmonic_centrality_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality with the merge='window' ball-sketch merge —
    explode + distinct + row_number <= k per target: every buffer O(1)
    or spill-bounded, for the in-degree regime where the salted
    pre-merge's constant-factor relief is not enough.  Shares
    ORACLES['harmonic_centrality'] (bit-identical recurrence)."""
    from cloud_ocr_summarizer_spark.operators.linkgraph import (
        derive_linkgraph_html_from_documents,
        extract_outlinks,
        harmonic_centrality_kmv,
    )

    docs = _read(spark, sf_dir, "documents")
    edges = extract_outlinks(derive_linkgraph_html_from_documents(docs))
    return harmonic_centrality_kmv(docs, edges, k=8, n_iter=3, merge="window")


BATCH_8["harmonic_centrality_window"] = q_harmonic_centrality_window


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + URL-level dedup (operators/urls.py):
    deterministic crawl noise (case, :80, utm_*, fragments, trailing
    slash) is synthesized onto pair-shared targets; the canonicalizer
    must collapse every variant — the DuckDB twin derives each doc's
    canonical URL from arithmetic alone, so the check proves the regexp
    chain inverts ALL the noise exactly."""
    from cloud_ocr_summarizer_spark.operators.urls import (
        derive_messy_urls_from_documents,
        url_dedup,
    )

    return url_dedup(
        derive_messy_urls_from_documents(_read(spark, sf_dir, "documents"))
    )


BATCH_8["url_dedup"] = q_url_dedup


def q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-container round trip (operators/warc.py): documents ->
    WARC-style record bytes -> envelope parse (headers, HTTP status) ->
    keep 200s -> DOM boilerplate strip.  The DuckDB twin re-derives the
    envelope fields from doc_id arithmetic, rebuilds the FULL HTML
    string to check Content-Length byte-for-byte, and derives main_text
    from documents.text — the complete crawl->text chain value-checked
    in one query."""
    from cloud_ocr_summarizer_spark.operators.warc import warc_main_text

    return warc_main_text(_read(spark, sf_dir, "documents"))


BATCH_8["warc_extract"] = q_warc_extract


def q_warc_extract_gz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip-member crawl round trip (operators/warc.warc_main_text_gz):
    each record compressed with deterministic gzip (mtime=0) and
    decompressed in Arrow batches before the same envelope parse + DOM
    strip — compression is transparent, so the oracle is byte-identical
    to warc_extract's and green means the codec pair is lossless."""
    from cloud_ocr_summarizer_spark.operators.warc import warc_main_text_gz

    return warc_main_text_gz(_read(spark, sf_dir, "documents"))


BATCH_8["warc_extract_gz"] = q_warc_extract_gz


def q_warc_malformed_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record accounting (operators/warc.warc_malformed_audit):
    every record whose embedded id satisfies doc_id % 9 == 4 has ALL of
    its CRLFCRLF separators corrupted to bare LFLF before parsing — the
    envelope grammar fails, so both the HTTP split and the body split
    must surface as NULL and the audit must count exactly the corrupted
    share (the twin re-derives the counts from the id arithmetic).  A
    parser that treats a missing separator as substr-from-position-4
    garbage reports zero here and fails the value check."""
    from cloud_ocr_summarizer_spark.operators.warc import (
        derive_warc_records_from_documents,
        warc_malformed_audit,
    )

    rec = derive_warc_records_from_documents(_read(spark, sf_dir, "documents"))
    txt = F.decode(F.col("payload"), "UTF-8")
    rid = F.regexp_extract(txt, r"urn:doc:(\d+)", 1).cast("bigint")
    corrupted = F.when(
        rid % 9 == 4, F.replace(txt, F.lit("\r\n\r\n"), F.lit("\n\n"))
    ).otherwise(txt)
    return warc_malformed_audit(
        rec.select(F.encode(corrupted, "UTF-8").alias("payload"))
    )


BATCH_8["warc_malformed_audit"] = q_warc_malformed_audit


def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-compliance gate round trip (operators/dom.meta_robots_gate):
    every 13th document's HTML is marked <meta robots noindex>; the gate
    must drop exactly those before the DOM strip — the twin derives the
    kept set from doc_id arithmetic."""
    from cloud_ocr_summarizer_spark.datagen import derive_html_from_documents
    from cloud_ocr_summarizer_spark.operators.dom import (
        extract_html_main,
        inject_robots_noindex,
        meta_robots_gate,
    )

    html = inject_robots_noindex(
        derive_html_from_documents(_read(spark, sf_dir, "documents"))
    )
    return extract_html_main(meta_robots_gate(html))


BATCH_8["robots_gate"] = q_robots_gate


def q_robots_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt parse round trip (operators/robotstxt.py): synthesize
    one robots file per URL host (decoy badbot group, comments,
    conditional Allow/Disallow rules), parse the User-agent:* group
    back out.  The DuckDB twin re-derives every rule from the host
    string arithmetic alone — the parser must scope to the * group,
    skip the decoy and comments, and recover (prefix, allow) exactly."""
    from cloud_ocr_summarizer_spark.operators.robotstxt import (
        derive_robots_txt_from_documents,
        parse_robots_rules,
    )

    return parse_robots_rules(
        derive_robots_txt_from_documents(_read(spark, sf_dir, "documents"))
    )


BATCH_8["robots_rules"] = q_robots_rules


def q_robots_txt_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-match robots.txt resolution per URL (RFC 9309 order:
    longest matching prefix wins, Allow wins length ties, no match =
    fetchable).  Row-local higher-order-function match over a bounded
    per-host rules array — one corpus shuffle total.  The DuckDB twin
    implements the SAME resolution independently (left join + ranked
    window over matches), so the check is cross-engine on the
    algorithm, not just the synthesis."""
    from cloud_ocr_summarizer_spark.operators.robotstxt import (
        derive_robots_txt_from_documents,
        robots_txt_gate,
    )
    from cloud_ocr_summarizer_spark.operators.urls import (
        derive_urls_from_documents,
        parse_urls,
    )

    docs = _read(spark, sf_dir, "documents")
    parsed = parse_urls(derive_urls_from_documents(docs))
    # hand the parsed frame through so the robots synthesis derives its
    # distinct hosts from it instead of re-parsing the corpus URLs
    return robots_txt_gate(
        parsed, derive_robots_txt_from_documents(docs, parsed_urls=parsed)
    )


BATCH_8["robots_txt_gate"] = q_robots_txt_gate


def q_robots_crawl_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl scheduling budget (operators/robotstxt.crawl_budget):
    frontier URL count x the * group's Crawl-delay (group-scoped parse
    — a delay in another agent's group must not throttle us; NULL
    delay = no throttle, budgeted at 1 s/URL).  The DuckDB twin
    re-derives the delay from host arithmetic and recomputes the
    budget independently."""
    from cloud_ocr_summarizer_spark.operators.robotstxt import (
        crawl_budget,
        derive_robots_txt_from_documents,
    )
    from cloud_ocr_summarizer_spark.operators.urls import (
        derive_urls_from_documents,
        parse_urls,
    )

    docs = _read(spark, sf_dir, "documents")
    parsed = parse_urls(derive_urls_from_documents(docs))
    return crawl_budget(
        parsed, derive_robots_txt_from_documents(docs, parsed_urls=parsed)
    )


BATCH_8["robots_crawl_budget"] = q_robots_crawl_budget


def q_robots_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery (operators/robotstxt.parse_sitemaps): the
    Sitemap field is FILE-scoped — synthesized at the top of the file
    for even hosts and after the * group for odd ones, so a parser
    that only read one group would miss half.  Twin re-derives every
    URL from the host string."""
    from cloud_ocr_summarizer_spark.operators.robotstxt import (
        derive_robots_txt_from_documents,
        parse_sitemaps,
    )

    return parse_sitemaps(
        derive_robots_txt_from_documents(_read(spark, sf_dir, "documents"))
    )


BATCH_8["robots_sitemaps"] = q_robots_sitemaps


def q_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed crawl-planning pipeline
    (operators/robotstxt.crawl_frontier): URL parse -> registered-domain
    blocklist gate -> RFC 9309 robots longest-match gate -> per-host
    crawl budget, in one job whose only corpus-sized exchanges are the
    host equi-join and the final host aggregate.  The DuckDB twin
    composes the SAME stages from the synthesis arithmetic (blocklist
    filter, independent ranked-window robots resolution, budget
    recomputation), so the cross-engine check covers the whole
    composition."""
    from cloud_ocr_summarizer_spark.operators.robotstxt import (
        crawl_frontier,
        derive_robots_txt_from_documents,
    )
    from cloud_ocr_summarizer_spark.operators.urls import (
        derive_urls_from_documents,
        parse_urls,
    )

    docs = _read(spark, sf_dir, "documents")
    parsed = parse_urls(derive_urls_from_documents(docs))
    return crawl_frontier(
        parsed, derive_robots_txt_from_documents(docs, parsed_urls=parsed)
    )


BATCH_8["crawl_frontier"] = q_crawl_frontier


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration integer HITS hubs-and-authorities over the corpus
    link graph (operators/linkgraph.hits_scores, 3 rounds) — the
    endorsement-direction complement to PageRank: directories/link hubs
    score high hub_micro, canonical content high auth_micro.  Integer
    max-derived normalizers replace the float L2 norm so the
    cross-engine hash is byte-stable; DuckDB twin is a generated chain
    of MATERIALIZED CTEs (a1..a3 / h1..h3 with per-round normalizer
    CTEs)."""
    from cloud_ocr_summarizer_spark.operators.linkgraph import (
        derive_linkgraph_html_from_documents,
        extract_outlinks,
        hits_scores,
    )

    docs = _read(spark, sf_dir, "documents")
    edges = extract_outlinks(derive_linkgraph_html_from_documents(docs))
    return hits_scores(docs, edges, n_iter=3)


BATCH_8["hits_scores"] = q_hits_scores


def q_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap urlset round trip (operators/sitemap.py): shard each
    host's URLs into sitemap XML files (3-entry shards so every tier
    exercises multi-shard hosts; production keeps the protocol's 50k
    cap), then parse the entries back — comment-decoy strip, entity
    unescaping (&amp;src=sm on query docs), DECIMAL-exact priority
    milli.  The DuckDB twin re-derives host/shard/pos/loc/lastmod/
    priority purely from doc_id arithmetic over the URL synthesis — it
    never sees the XML, so agreement proves the parser inverts the file
    format exactly."""
    from cloud_ocr_summarizer_spark.operators.sitemap import (
        derive_sitemap_xml_from_documents,
        parse_sitemap_urls,
    )

    docs = _read(spark, sf_dir, "documents")
    shards = derive_sitemap_xml_from_documents(docs, max_urls=3)
    return parse_sitemap_urls(shards)


BATCH_8["sitemap_urls"] = q_sitemap_urls


def q_sitemap_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemapindex round trip (operators/sitemap.py): build one index
    file per host pointing at its 3-entry shards, parse the pointers
    back out.  Twin derives shard counts from per-host URL counts
    (ceil division in doc_id arithmetic)."""
    from cloud_ocr_summarizer_spark.operators.sitemap import (
        derive_sitemap_index,
        derive_sitemap_xml_from_documents,
        parse_sitemap_index,
    )

    docs = _read(spark, sf_dir, "documents")
    shards = derive_sitemap_xml_from_documents(docs, max_urls=3)
    return parse_sitemap_index(derive_sitemap_index(shards))


BATCH_8["sitemap_index"] = q_sitemap_index


def q_html_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML table-grid extraction round trip (operators/htmltable.py):
    synthesize per-doc <table> grids (comment-decoy table, thead/tbody
    wrappers, nested spans, empty cells), recover every cell with its
    0-based (table, row, col) coordinates via a row-local three-level
    regexp scan — zero shuffles, zero Python.  The DuckDB twin derives
    every cell from doc_id arithmetic without parsing HTML."""
    from cloud_ocr_summarizer_spark.operators.htmltable import (
        derive_tables_html_from_documents,
        extract_tables,
    )

    return extract_tables(
        derive_tables_html_from_documents(_read(spark, sf_dir, "documents"))
    )


BATCH_8["html_tables"] = q_html_tables


def q_html_table_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table ROW records (operators/htmltable.table_records): each table
    row assembled into a single delimited record row-LOCALLY
    (transform + array_join inside the row's own string — no
    collect_list, no aggregation state, map-only plan).  Twin rebuilds
    each record with list_transform over the same arithmetic."""
    from cloud_ocr_summarizer_spark.operators.htmltable import (
        derive_tables_html_from_documents,
        table_records,
    )

    return table_records(
        derive_tables_html_from_documents(_read(spark, sf_dir, "documents"))
    )


BATCH_8["html_table_records"] = q_html_table_records


def q_top_terms_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rarity-weighted keyword extraction
    (operators/textstats.top_terms_per_doc): integer tf/df scoring with
    the exact frequency-split df join — the top-1024 hottest terms by
    document frequency are broadcast (they are precisely the keys that
    would skew a term-partitioned join) while the bounded rare tail
    shuffles.  The DuckDB twin runs the NAIVE join, so the value check
    proves the split changes nothing."""
    from cloud_ocr_summarizer_spark.operators.textstats import (
        top_terms_per_doc,
    )

    return top_terms_per_doc(_read(spark, sf_dir, "documents"), k=5)


BATCH_8["top_terms_per_doc"] = q_top_terms_per_doc


def q_link_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weakly-connected components of the corpus link graph
    (operators/linkgraph.link_components, 4 fixed min-label rounds) —
    the crawl-sharding / site-family signal, and the link-graph twin of
    dedup's duplicate clusters.  Fixed rounds instead of a convergence
    loop make intermediate state a pure function of the input, so the
    DuckDB chained-CTE twin matches bit-exactly even where labels have
    not finished propagating."""
    from cloud_ocr_summarizer_spark.operators.linkgraph import (
        derive_linkgraph_html_from_documents,
        extract_outlinks,
        link_components,
    )

    docs = _read(spark, sf_dir, "documents")
    edges = extract_outlinks(derive_linkgraph_html_from_documents(docs))
    return link_components(docs, edges, n_iter=4)


BATCH_8["link_components"] = q_link_components


def q_recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed recrawl planning (operators/sitemap.recrawl_schedule):
    parse the sitemap shards, key entries and the synthetic fetch
    ledger on (host, path) — the sitemap loc carries a tracking param
    the ledger URL does not, so raw-string joins would miss every third
    URL — and count per host how many URLs have a missing or newer
    <lastmod> than their last fetch.  The DuckDB twin recomputes
    staleness from the two date formulas alone (no XML, no join)."""
    from cloud_ocr_summarizer_spark.operators.sitemap import (
        derive_crawl_state_from_documents,
        derive_sitemap_xml_from_documents,
        parse_sitemap_urls,
        recrawl_schedule,
    )

    docs = _read(spark, sf_dir, "documents")
    entries = parse_sitemap_urls(
        derive_sitemap_xml_from_documents(docs, max_urls=3)
    )
    return recrawl_schedule(
        entries, derive_crawl_state_from_documents(docs)
    )


BATCH_8["recrawl_schedule"] = q_recrawl_schedule


def q_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script character profile
    (operators/textstats.script_profile): Latin/CJK/Cyrillic/digit
    counts by the row-local delete-and-diff idiom plus a deterministic
    dominant-script label — the language-ID prior a fastText-style gate
    consults before any model runs.  Deterministic CJK/Cyrillic/digit
    padding (doc_id arithmetic) gives every branch mass on the ASCII
    testdata; the DuckDB twin counts with its own regexp engine, so the
    check is cross-engine on the counting itself."""
    from cloud_ocr_summarizer_spark.operators.textstats import (
        script_profile,
    )

    return script_profile(
        _read(spark, sf_dir, "documents"), add_noise=True
    )


BATCH_8["script_profile"] = q_script_profile


def q_compression_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression-ratio quality signal
    (operators/textstats.compression_profile): integer-permille
    compressed/raw byte ratio + band flags — hyper-repetitive and
    random-noise drops orthogonal to the word-level rules.  Arrow-
    batched stdlib zlib (mapInPandas, map-only); no SQL engine mirrors
    zlib, so this is one of the repo's few rows-only driver checks —
    tests/test_textstats.py pins values against the same stdlib the
    workers run."""
    from cloud_ocr_summarizer_spark.operators.textstats import (
        compression_profile,
    )

    return compression_profile(_read(spark, sf_dir, "documents"))


BATCH_8["compression_profile"] = q_compression_profile


def q_sitemap_malformed_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-sitemap observability
    (operators/sitemap.sitemap_parse_audit): shards with a truncated
    last entry (deterministic corruption class) report n_dropped > 0 by
    comparing <loc> tags against blocks the parser recovers — dropped
    records are counted, never silently vanished (the
    warc_malformed_audit policy).  Twin re-derives every count from the
    corruption predicate's (host, shard_id) arithmetic."""
    from cloud_ocr_summarizer_spark.operators.sitemap import (
        derive_corrupted_sitemap_shards,
        sitemap_parse_audit,
    )

    return sitemap_parse_audit(
        derive_corrupted_sitemap_shards(
            _read(spark, sf_dir, "documents"), max_urls=3
        )
    )


BATCH_8["sitemap_malformed_audit"] = q_sitemap_malformed_audit


# ---------------------------------------------------------------------------
# BATCH_9: round-5 third-window additions (redirects, C4 lines, feeds,
# head/meta)
# ---------------------------------------------------------------------------

BATCH_9: dict[str, object] = {}


def q_redirect_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-ledger synthesis round trip (operators/redirects.py):
    one (src_url, http_status, dst_url) edge per redirecting residue
    class — chains, a self-loop, and a 2-cycle.  Map-only plan (dst
    URLs are arithmetic, never looked up); the DuckDB twin re-derives
    every edge from the same doc_id arithmetic."""
    from cloud_ocr_summarizer_spark.operators.redirects import (
        derive_redirects_from_documents,
    )

    return derive_redirects_from_documents(_read(spark, sf_dir, "documents"))


BATCH_9["redirect_edges"] = q_redirect_edges


def q_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop redirect-chain resolution
    (operators/redirects.resolve_redirects): max_hops+1 unique-key
    equi-joins carry O(max_hops) state per origin URL; loops are
    detected against the bounded visited path and reported, never
    dropped.  The DuckDB twin derives (final_url, n_hops, status) in
    CLOSED FORM from the synthesis residues — it never runs the
    algorithm, so agreement proves the iterative joins implement the
    chain semantics exactly (chains 1-3 hops, self-loop, 2-cycle, and
    the corpus-max dangling edge case)."""
    from cloud_ocr_summarizer_spark.operators.redirects import (
        derive_redirects_from_documents,
        resolve_redirects,
    )

    edges = derive_redirects_from_documents(_read(spark, sf_dir, "documents"))
    return resolve_redirects(edges)


BATCH_9["redirect_resolve"] = q_redirect_resolve


def q_redirect_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-resolution observability
    (operators/redirects.redirect_audit): (status, n_hops) chain counts
    + distinct terminals — loops/truncations surface as counted rows
    (the warc_malformed_audit policy).  Twin rolls up the closed-form
    resolution."""
    from cloud_ocr_summarizer_spark.operators.redirects import (
        derive_redirects_from_documents,
        redirect_audit,
        resolve_redirects,
    )

    edges = derive_redirects_from_documents(_read(spark, sf_dir, "documents"))
    return redirect_audit(resolve_redirects(edges))


BATCH_9["redirect_audit"] = q_redirect_audit


def q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (operators/linesclean.c4_line_filter):
    split -> per-line first-failing-rule classify (blockword > brace >
    no_terminal > few_words) -> filter -> re-join, one row-local
    projection, zero shuffles.  The DuckDB twin derives every line's
    verdict in CLOSED FORM from its kind residue — it never runs the
    classifier, so agreement proves the regex/blocklist rules implement
    the synthesis's intent exactly (incl. the lorem-ipsum page drop and
    zero-kept-line pages)."""
    from cloud_ocr_summarizer_spark.operators.linesclean import (
        c4_line_filter,
        derive_noisy_lines_from_documents,
    )

    return c4_line_filter(
        derive_noisy_lines_from_documents(_read(spark, sf_dir, "documents"))
    )


BATCH_9["c4_line_filter"] = q_c4_line_filter


def q_c4_line_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-cleaning mass balance (operators/linesclean.c4_line_audit):
    one corpus row summing kept/dropped lines per rule plus document
    verdict totals — dropped text is accounted for, never silently
    vanished (the warc_malformed_audit policy)."""
    from cloud_ocr_summarizer_spark.operators.linesclean import (
        c4_line_audit,
        c4_line_filter,
        derive_noisy_lines_from_documents,
    )

    return c4_line_audit(
        c4_line_filter(
            derive_noisy_lines_from_documents(_read(spark, sf_dir, "documents"))
        )
    )


BATCH_9["c4_line_audit"] = q_c4_line_audit


def q_feed_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS/Atom feed round trip (operators/feeds.py): synthesize one
    feed per host (RSS for even host groups, Atom for odd; newest-4
    window caps the assembly buffer), parse back to normalized entry
    rows — comment-decoy strip, CDATA vs entity titles, element-text vs
    href-attribute links, RFC-822 vs ISO dates.  The DuckDB twin
    re-derives every field from doc_id arithmetic over the URL
    synthesis — it never sees XML, so agreement proves the parser
    inverts both formats exactly."""
    from cloud_ocr_summarizer_spark.operators.feeds import (
        derive_feeds_from_documents,
        parse_feed_entries,
    )

    return parse_feed_entries(
        derive_feeds_from_documents(_read(spark, sf_dir, "documents"))
    )


BATCH_9["feed_entries"] = q_feed_entries


def q_feed_latest_per_host(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newest feed entry per host (operators/feeds.latest_entry_per_host):
    ranked window (pub_date DESC, guid ASC) over the cap-bounded entry
    rows — the recrawl planner's freshness primitive.  Twin re-ranks the
    arithmetic-derived entries independently."""
    from cloud_ocr_summarizer_spark.operators.feeds import (
        derive_feeds_from_documents,
        latest_entry_per_host,
        parse_feed_entries,
    )

    return latest_entry_per_host(
        parse_feed_entries(
            derive_feeds_from_documents(_read(spark, sf_dir, "documents"))
        )
    )


BATCH_9["feed_latest_per_host"] = q_feed_latest_per_host


def q_head_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML <head> metadata round trip (operators/headmeta.py):
    title/description/og:title/canonical/charset extracted head-scoped
    and comment-safe — decoy titles sit in a head comment AND in the
    body, attribute order and quote style vary, hrefs are entity-
    escaped.  Row-local parse (zero shuffles); the DuckDB twin derives
    every field from doc_id arithmetic (predecessor-URL canonicals via
    a 1:1 self-join) and never parses HTML."""
    from cloud_ocr_summarizer_spark.operators.headmeta import (
        derive_head_html_from_documents,
        extract_head_meta,
    )

    return extract_head_meta(
        derive_head_html_from_documents(_read(spark, sf_dir, "documents"))
    )


BATCH_9["head_meta"] = q_head_meta


def q_canonical_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Server-declared duplicate clustering
    (operators/headmeta.canonical_clusters): group on
    coalesce(canonical_url, url) — the exact-dedup single-shuffle shape
    driven by rel=canonical pointers instead of content hashes.  Twin
    re-clusters the closed-form metadata independently."""
    from cloud_ocr_summarizer_spark.operators.headmeta import (
        canonical_clusters,
        derive_head_html_from_documents,
        extract_head_meta,
    )

    return canonical_clusters(
        extract_head_meta(
            derive_head_html_from_documents(_read(spark, sf_dir, "documents"))
        )
    )


BATCH_9["canonical_clusters"] = q_canonical_clusters


def q_redirect_ledger_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-ledger contract audit
    (operators/redirects.redirect_ledger_audit): counts URLs violating
    the one-Location-per-URL contract that resolve_redirects relies on
    (violations would multiply state rows at every hop) — counted,
    never silently absorbed.  Twin recomputes all three counts from the
    edge arithmetic."""
    from cloud_ocr_summarizer_spark.operators.redirects import (
        derive_redirects_from_documents,
        redirect_ledger_audit,
    )

    return redirect_ledger_audit(
        derive_redirects_from_documents(_read(spark, sf_dir, "documents"))
    )


BATCH_9["redirect_ledger_audit"] = q_redirect_ledger_audit


def q_frontier_redirect_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirects folded into frontier planning
    (operators/redirects.frontier_redirect_rollup): the ledger is
    re-synthesized in the FRONTIER URL space (urls.py synthesis, 1:1
    neighbor self-joins), resolved, and LEFT-joined back onto every
    frontier URL — per host: URLs planned, redirect rewrites, dropped
    loop/truncated chains, distinct fetch targets.  Twin derives the
    resolution in closed form from the residues (p1/p2/p3 neighbor
    joins) and re-rolls the host aggregate independently."""
    from cloud_ocr_summarizer_spark.operators.redirects import (
        derive_redirects_from_parsed_urls,
        frontier_redirect_rollup,
        resolve_redirects,
    )
    from cloud_ocr_summarizer_spark.operators.urls import (
        derive_urls_from_documents,
        parse_urls,
    )

    parsed = parse_urls(
        derive_urls_from_documents(_read(spark, sf_dir, "documents"))
    )
    resolved = resolve_redirects(derive_redirects_from_parsed_urls(parsed))
    return frontier_redirect_rollup(parsed, resolved)


BATCH_9["frontier_redirect_rollup"] = q_frontier_redirect_rollup
