#!/usr/bin/env python
"""Benchmark harness: headline queries at SPARK_GRAFT_SF_DIR on
local[SPARK_GRAFT_CPUS].  Prints exactly ONE JSON line:

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...}, "sf": ..., "docs_per_sec": ...}

The flagship extraction runs over a pre-materialized deterministic
interleaved-docs table (SPARK_GRAFT_BENCH_DOCS docs, default 120k) —
the driver's `documents` table is fixed at 500 rows and too small to
measure.  Generation happens once per size outside the timed region.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cloud_ocr_summarizer_spark.session import get_spark  # noqa: E402
from tools.harness import (  # noqa: E402
    bench_docs,
    best_of,
    build_corpus,
    with_synthetic_lang,
)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "120000"))

    # no console progress bars: the last stdout line must be the JSON
    spark = get_spark(
        app_name="bench",
        cores=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    from cloud_ocr_summarizer_spark.operators.classify import main_content_rows
    from cloud_ocr_summarizer_spark.operators.extract import (
        extract_span_rows,
        extract_spans,
    )
    from cloud_ocr_summarizer_spark.operators.extract_arrow_native import (
        extract_span_rows_arrow_native,
    )
    from cloud_ocr_summarizer_spark.plans import queries as Q

    docs = spark.read.parquet(bench_docs(spark, n_docs))

    timings: dict[str, float] = {}

    def timed(name: str, make_df) -> None:
        # warm-up (codegen + JIT), then best-of-3 into the noop sink: the
        # host VM has noisy neighbors
        timings[name] = round(best_of(make_df, 3), 3)

    # q1: flagship extraction (mapInArrow — fastest measured path)
    timed(
        "q1_extract_flagship",
        lambda: extract_span_rows_arrow_native(docs),
    )
    # q1b: the row-local expression twin (JVM-only reference point)
    timed("q1b_extract_expression", lambda: extract_spans(docs))
    # q2: JVM extraction + the vectorized pandas classifier (Arrow batches)
    timed(
        "q2_main_content",
        lambda: main_content_rows(extract_span_rows(docs)),
    )
    # q3: TPC-H Q1-shape aggregation on lineitem (sf tier)
    timed("q3_pricing_summary", lambda: Q.q_pricing_summary(spark, sf_dir))
    # q4: broadcast join + agg
    timed("q4_revenue_by_nation", lambda: Q.q_revenue_by_nation(spark, sf_dir))
    # q5: window sessionization on events
    timed("q5_events_sessionize", lambda: Q.q_events_sessionize(spark, sf_dir))
    # q6: MinHash LSH dedup on the documents table
    timed("q6_dedup_minhash", lambda: Q.q_dedup_minhash_lsh(spark, sf_dir))
    # q7: brute-force kNN over embeddings
    timed("q7_knn_bruteforce", lambda: Q.q_knn_bruteforce(spark, sf_dir))
    # q8: composed curation pipeline (dedup -> gates -> split) on documents
    from cloud_ocr_summarizer_spark.plans.curate import curate_documents

    timed(
        "q8_curation_pipeline",
        lambda: (
            curate_documents(
                spark.read.parquet(f"{sf_dir}/documents.parquet"),
                parallelism=spark.sparkContext.defaultParallelism,
            )
        ),
    )
    # q9: text analysis battery (trigram language ID + profile) on documents
    timed("q9_language_id", lambda: Q.q_language_id_ngram(spark, sf_dir))
    # q10-q15b measure the 120k-doc documents-shaped derived corpus
    # (VERDICT r3 item 6: the sf documents table is 5k rows — fixed
    # overhead dominated and scale-dishonest for composed jobs).  NOT
    # comparable with BENCH_r03's q10-q15b, which measured 5k docs.
    # Corpus per row: q1-q2 and q10-q26 (except q16/q17) use the derived
    # n_docs corpus; q6, q8, q9, q16, q17 the sf documents table (~5k
    # rows at sf0.1); q3, q4, q5, q7 the sf relational tables.
    from cloud_ocr_summarizer_spark.datagen import (
        derive_html_from_documents,
        derive_pdf_streams_from_documents,
        derive_spans_from_documents,
    )
    from cloud_ocr_summarizer_spark.operators.dom import extract_html_main
    from cloud_ocr_summarizer_spark.operators.layout import (
        assemble_reading_order,
        block_rollup,
        derive_two_column_geometry,
        reading_order_rowlocal,
        segment_blocks,
    )
    from cloud_ocr_summarizer_spark.operators.pdfstream import parse_pdf_text_spans
    from cloud_ocr_summarizer_spark.operators.sampling import chunk_documents
    from cloud_ocr_summarizer_spark.plans.extract_web import (
        extract_web_documents_classified_fused,
        extract_web_documents_fused,
    )

    docs120 = spark.read.parquet(build_corpus(spark, n_docs))

    # q10: HTML DOM tokenize + boilerplate-container strip (north-star
    # "HTML boilerplate strip" path; Arrow-batched tokenizer)
    timed(
        "q10_html_main_content",
        lambda: extract_html_main(derive_html_from_documents(docs120)),
    )
    # q11: layout parse — block segmentation + newspaper reading order
    timed(
        "q11_layout_reading_order",
        lambda: (
            assemble_reading_order(
                block_rollup(
                    segment_blocks(
                        derive_two_column_geometry(
                            extract_span_rows(derive_spans_from_documents(docs120))
                        )
                    )
                )
            )
        ),
    )
    # q11b: zero-shuffle fused row-local twin of q11
    timed(
        "q11b_layout_rowlocal",
        lambda: (
            reading_order_rowlocal(
                extract_spans(
                    derive_spans_from_documents(docs120), with_stats=False
                )
            )
        ),
    )
    # q12: context-window chunking (64/48 overlapping training windows)
    timed("q12_chunk_documents", lambda: chunk_documents(docs120))
    # q13b: the north-rule pipeline composed as ONE job — DOM strip +
    # span extraction + layout parse, the span/layout stats carried
    # through the DOM Arrow stage (one documents scan, zero Exchanges).
    # q13 and q15 timed the retired flat doc_id-join plans: suite
    # totals that include them (BENCH_r05.json and earlier) are not
    # comparable with later ones.
    timed(
        "q13b_extract_web_fused",
        lambda: extract_web_documents_fused(docs120),
    )
    # q14: PDF content-stream byte tokenizer (Tm/Td state machine)
    timed(
        "q14_pdf_text_spans",
        lambda: (
            parse_pdf_text_spans(derive_pdf_streams_from_documents(docs120))
        ),
    )
    # q15b: composed job with the FULL Readability classifier pair,
    # stats carried through the classifier's Arrow stage
    timed(
        "q15b_extract_web_classified_fused",
        lambda: extract_web_documents_classified_fused(docs120),
    )
    # q16: the stateless curation gate chain as one zero-Exchange plan
    # (quality + row-local repetition + PII redaction + split — the
    # streaming gates' batch twin)
    timed(
        "q16_curation_gates",
        lambda: Q.q_curation_gates_rowlocal(spark, sf_dir),
    )
    # q17: cross-document passage dedup (C4-style first-occurrence-wins)
    timed("q17_dedup_cross_doc", lambda: Q.q_dedup_cross_doc(spark, sf_dir))
    # q18-q20: the round-4 families over the 120k derived corpus —
    # link-graph PageRank (iterative shuffle), the BoW classifier
    # (vocab-broadcast + one corpus shuffle; labels synthesized, the
    # derived corpus has no lang column), and the crawl-container
    # round trip (WARC parse + DOM strip, pure map)
    from cloud_ocr_summarizer_spark.operators.bow import classify_bow
    from cloud_ocr_summarizer_spark.operators.linkgraph import (
        pagerank_over_documents,
    )
    from cloud_ocr_summarizer_spark.operators.warc import warc_main_text

    labeled120 = with_synthetic_lang(docs120)
    timed("q18_pagerank", lambda: pagerank_over_documents(docs120, n_iter=5))
    timed("q19_bow_classify", lambda: classify_bow(labeled120))
    timed("q20_warc_extract", lambda: warc_main_text(docs120))
    # q21 (round 5): the composed crawl-planning pipeline — URL parse,
    # blocklist anti-join, RFC 9309 robots longest-match, per-host
    # budget; every exchange host-keyed (plan-asserted in tests)
    from cloud_ocr_summarizer_spark.operators.robotstxt import (
        crawl_frontier,
        derive_robots_txt_from_documents,
    )
    from cloud_ocr_summarizer_spark.operators.urls import (
        derive_urls_from_documents,
        parse_urls,
    )

    def _frontier():
        parsed = parse_urls(derive_urls_from_documents(labeled120))
        return crawl_frontier(
            parsed,
            derive_robots_txt_from_documents(labeled120, parsed_urls=parsed),
        )

    timed("q21_crawl_frontier", lambda: _frontier())
    # q22-q24 (round 5): structured table-grid extraction (map-only,
    # three-level regexp scan), rarity-weighted keywords (wordcount +
    # frequency-split df join + per-doc window), and integer HITS (the
    # second iterative graph family — 2 joins + 2 aggs per round)
    from cloud_ocr_summarizer_spark.operators.htmltable import (
        derive_tables_html_from_documents,
        extract_tables,
    )
    from cloud_ocr_summarizer_spark.operators.linkgraph import (
        derive_linkgraph_html_from_documents,
        extract_outlinks,
        hits_scores,
    )
    from cloud_ocr_summarizer_spark.operators.textstats import (
        top_terms_per_doc,
    )

    timed(
        "q22_html_tables",
        lambda: (
            extract_tables(derive_tables_html_from_documents(docs120))
        ),
    )
    timed("q23_top_terms", lambda: top_terms_per_doc(docs120, k=5))

    def _hits():
        edges = extract_outlinks(derive_linkgraph_html_from_documents(docs120))
        return hits_scores(docs120, edges, n_iter=3)

    timed("q24_hits_scores", lambda: _hits())
    # q25-q26 (round 5, third window): redirect-chain resolution (the
    # bounded iterative unique-key join) and C4 line cleaning (pure
    # map), both over the 120k derived corpus
    from cloud_ocr_summarizer_spark.operators.linesclean import (
        c4_line_filter,
        derive_noisy_lines_from_documents,
    )
    from cloud_ocr_summarizer_spark.operators.redirects import (
        derive_redirects_from_documents,
        resolve_redirects,
    )

    timed(
        "q25_redirect_resolve",
        lambda: (
            resolve_redirects(derive_redirects_from_documents(docs120))
        ),
    )
    timed(
        "q26_c4_lines",
        lambda: (
            c4_line_filter(derive_noisy_lines_from_documents(docs120))
        ),
    )

    total = round(sum(timings.values()), 3)
    docs_per_sec = round(n_docs / timings["q1_extract_flagship"], 1)
    out = {
        "metric": "headline_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir.rstrip("/").split("sf")[-1],
        "bench_docs": n_docs,
        "cpus": cpus,
        "docs_per_sec_extraction": docs_per_sec,
    }
    # include the last recorded N->4N scaling run (tools/harness.py scaling)
    scaling_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "BENCH", "scaling.json")
    if os.path.exists(scaling_path):
        with open(scaling_path, encoding="utf-8") as f:
            s = json.load(f)
        out["scaling_efficiency_N_to_4N"] = s.get("scaling_efficiency_N_to_4N")
        out["scaling_detail"] = {
            "localN": s.get("localN"),
            "local4N": s.get("local4N"),
        }
    # compact separators: the line must fit a 2,000-char log tail
    print(json.dumps(out, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
