"""Physical-plan regression tests: the properties docs/PLANS.md documents,
asserted so a future change can't silently regress them.

These inspect the optimized plan string — cheap (no execution) and
stable across AQE because the asserted properties (exchange counts,
join strategies, scan pruning) appear in the initial plan.  The one
exception is shared-lineage unions, where the static tree duplicates
prefix exchanges per branch: those budgets read the executed final
plan via _final_plan instead.
"""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _final_plan(df) -> str:
    """Execute, then return only the FINAL adaptive section of the plan.

    For a DAG whose branches share lineage (e.g. the per-hop exit union
    in resolve_redirects), the static string duplicates every prefix
    exchange once per branch; only after execution does the plan show
    which of those AQE collapsed into ReusedExchange nodes.  Budget
    assertions about *materialized* shuffles must read this section —
    the initial-plan count is an artifact of tree printing, not work.
    """
    df.collect()
    s = df._jdf.queryExecution().executedPlan().toString()
    return s.partition("== Initial Plan ==")[0]


@pytest.fixture(scope="module")
def Q():
    from cloud_ocr_summarizer_spark.plans import queries

    return queries


def test_flagship_is_zero_shuffle(spark, Q):
    """The extraction hot path must stay a pure map stage at any scale."""
    for q in (Q.q_extract_flagship, Q.q_span_geometry, Q.q_first_text_span,
              Q.q_pii_redaction):
        p = _plan(q(spark, SF))
        assert "Exchange" not in p, q.__name__


def test_flagship_scan_prunes_columns(spark, Q):
    """Only (doc_id, text) of the 5-column documents table reach the scan."""
    p = _plan(Q.q_extract_flagship(spark, SF))
    assert "ReadSchema" in p
    read = p[p.index("ReadSchema"):].splitlines()[0]
    assert "doc_id" in read and "text" in read
    assert "lang" not in read and "n_chars" not in read and "source" not in read


def test_decontaminate_broadcasts_benchmark(spark, Q):
    """The eval-gram side must broadcast; the corpus is never shuffled
    by the join (only the per-doc aggregation shuffles)."""
    p = _plan(Q.q_decontaminate(spark, SF))
    assert "BroadcastHashJoin" in p


def test_dim_joins_broadcast(spark, Q):
    """Small dimensions broadcast in the relational layer."""
    for q in (Q.q_revenue_by_nation, Q.q_shipping_priority):
        p = _plan(q(spark, SF))
        assert "BroadcastHashJoin" in p, q.__name__


def test_range_join_broadcasts_intervals(spark, Q):
    """Interval lookups broadcast the bands — never range-shuffle facts."""
    p = _plan(Q.q_events_range_join(spark, SF))
    assert "BroadcastNestedLoopJoin" in p


def test_part_small_quantity_single_fact_scan(spark, Q):
    """Q17 decorrelated as a window: lineitem is scanned ONCE (the
    agg+self-join form would scan it twice)."""
    p = _plan(Q.q_part_small_quantity(spark, SF))
    assert p.count("lineitem.parquet") == 1


def test_knn_ivf_centroids_take_ordered_not_full_sort(spark, Q):
    """The fixed centroid budget uses a limit (per-partition top-k), and
    the corpus side of the candidate join is not broadcast (the QUERY
    probes are the broadcast side)."""
    p = _plan(Q.q_knn_ivf(spark, SF))
    assert "Limit" in p or "TakeOrdered" in p


def test_sample_mix_is_pure_filter(spark, Q):
    p = _plan(Q.q_sample_mix(spark, SF))
    assert "Exchange" not in p and "Join" not in p


def test_deep_tree_extract_is_zero_shuffle(spark, Q):
    """Chained posexplode + HOF assembly must stay a pure map stage:
    scan -> generate -> generate -> project, no Exchange."""
    p = _plan(Q.q_extract_deep_tree(spark, SF))
    assert "Exchange" not in p
    assert p.count("Generate") == 2  # pages, blocks — inner levels stay row-local


def test_pq_encode_is_map_side_only(spark, Q):
    """PQ encoding joins only the broadcast one-row codebook: the corpus
    must not shuffle (the single tiny exchange belongs to the codebook
    aggregate, not the corpus scan)."""
    from pyspark.sql import functions as F

    from cloud_ocr_summarizer_spark.operators.similarity import (
        pq_codebook,
        pq_encode,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cb = pq_codebook(emb, id_col="vec_id", emb_col="embedding", n_codebook=16)
    p = _plan(pq_encode(emb, cb, id_col="vec_id", emb_col="embedding", dims=64, m=16))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    # no hash-partitioning of the corpus by any key
    assert "hashpartitioning(id" not in p and "hashpartitioning(vec_id" not in p


def test_batch7_fact_joins_broadcast_dims(spark, Q):
    """BATCH_7 TPC-H shapes: every dimension hop broadcasts — the fact
    table shuffles only for its aggregate, never to co-locate a dim."""
    for q in (Q.q_market_share, Q.q_product_profit, Q.q_returned_item_ranking,
              Q.q_promo_revenue, Q.q_supplier_cnt):
        p = _plan(q(spark, SF))
        assert "BroadcastHashJoin" in p, q.__name__


def test_returned_item_ranking_take_ordered(spark, Q):
    """Q10's top-20 must be TakeOrderedAndProject (per-partition heap +
    driver merge of 20 rows), not a global Sort of all customers."""
    p = _plan(Q.q_returned_item_ranking(spark, SF))
    assert "TakeOrderedAndProject" in p


def test_important_parts_threshold_is_broadcast(spark, Q):
    """Q11's scalar threshold joins as a broadcast nested loop over one
    row, and at runtime AQE reuses the per-part aggregate's exchange for
    the total rollup — lineitem is scanned and aggregated ONCE, not once
    per branch (the initial plan shows two scans; the executed one must
    not)."""
    df = Q.q_important_parts(spark, SF)
    p = _plan(df)
    assert "BroadcastNestedLoopJoin" in p
    df.collect()
    final = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "ReusedExchange" in final


def test_runtime_bloom_filter_injects_on_selective_shuffle_join(spark):
    """runtime_bloom_filter_conf: a selectively-filtered build side of a
    shuffle join injects bloom_filter_agg / might_contain so probe rows
    are dropped before the probe-side shuffle (thresholds forced to fire
    at test scale; production keeps the 10 GB probe default)."""
    from cloud_ocr_summarizer_spark.session import runtime_bloom_filter_conf

    conf = runtime_bloom_filter_conf(application_side_threshold="0")
    saved = {}
    saved_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for k, v in conf.items():
            saved[k] = spark.conf.get(k, None)
            spark.conf.set(k, v)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        part = spark.read.parquet(f"{SF}/part.parquet").filter(F.col("p_size") <= 3)
        j = (
            li.join(part.hint("merge"), F.col("l_partkey") == F.col("p_partkey"))
            .groupBy("p_brand")
            .count()
        )
        p = _plan(j)
        assert "bloom_filter_agg" in p and "might_contain" in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved_bcast)
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_curation_gates_rowlocal_is_zero_shuffle(spark, Q):
    """The stateless gate chain (quality + row-local repetition + PII
    redaction + split) must stay ONE map stage — no Exchange anywhere."""
    p = _plan(Q.q_curation_gates_rowlocal(spark, SF))
    assert "Exchange" not in p and "Join" not in p


def test_dedup_cross_doc_shuffle_budget(spark, Q):
    """Cross-doc passage dedup: per-chunk min agg + per-doc reassembly
    agg + the 1:1 totals join — shuffle count stays bounded (no pairwise
    expansion, no window-over-everything), and the per-chunk aggregation
    is a hash agg with a map-side partial, never a global sort."""
    from cloud_ocr_summarizer_spark.operators.dedup import (
        dedup_cross_doc_passages,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    p = _plan(dedup_cross_doc_passages(docs))
    assert "HashAggregate" in p or "ObjectHashAggregate" in p
    # bounded shuffles: chunk agg (1) + doc agg (1) + totals join (<=2
    # sides + possible AQE reuse) — never grows with duplication factor
    assert p.count("Exchange") <= 5, p.count("Exchange")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_temperature_mix_corpus_never_shuffles(spark, Q):
    """The corpus side reaches the rate join without an Exchange: only
    the |strata|-row rate table is shuffled/broadcast."""
    p = _plan(Q.q_temperature_mix(spark, SF))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    # no SortMergeJoin anywhere — the corpus is never exchange-partitioned
    assert "SortMergeJoin" not in p


def test_url_queries_are_map_or_broadcast_only(spark, Q):
    """URL parse is a pure map stage; the domain gate adds only a
    broadcast anti-join (the corpus never reshuffles)."""
    p = _plan(Q.q_url_parse(spark, SF))
    assert "Exchange" not in p
    g = _plan(Q.q_domain_gate(spark, SF))
    assert "BroadcastHashJoin" in g and "LeftAnti" in g
    assert "Exchange hashpartitioning" not in g


def test_bow_scoring_broadcasts_vocab_tables(spark, Q):
    """The vocab-sized weight table broadcasts into the token join and
    the priors ride as a 1-row broadcast array; the only sort-merge
    join allowed is the 1:1 doc_id map join (corpus vs its own
    per-doc score map) — never a join on token or (doc, label)."""
    p = _plan(Q.q_bow_classify(spark, SF))
    assert "BroadcastHashJoin" in p
    smjs = [ln for ln in p.splitlines() if "SortMergeJoin" in ln]
    assert smjs and all("doc_id" in ln and "_wl" not in ln for ln in smjs)


def test_outlink_extraction_shuffle_budget(spark, Q):
    """Edge extraction is map + ONE distinct (the canonical edge set);
    the only join is the 1-row max(doc_id) scalar broadcast cross —
    never a hash-partitioned join."""
    p = _plan(Q.q_link_outlinks(spark, SF))
    assert p.count("Exchange hashpartitioning") <= 2  # distinct partials
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in p


def test_table_extraction_is_map_only(spark, Q):
    """Both table queries (cells and row records) must stay pure map
    stages over the synthesized HTML — zero Exchange, zero Join."""
    for q in (Q.q_html_tables, Q.q_html_table_records):
        p = _plan(q(spark, SF))
        assert "Exchange" not in p and "Join" not in p, q.__name__


def test_sitemap_parse_stage_is_rowlocal(spark, Q):
    """The sitemap round trip's only exchanges are the synthesis window
    + the bounded shard groupBy; the parse itself adds none.  The
    malformed audit reads already-built shards the same way."""
    for q, cap in ((Q.q_sitemap_urls, 3), (Q.q_sitemap_malformed_audit, 3)):
        p = _plan(q(spark, SF))
        # window sort + shard hash agg: <= 2 shuffle boundaries total
        assert p.count("Exchange") <= 2, (q.__name__, p.count("Exchange"))
        assert "Join" not in p, q.__name__


def test_hits_half_step_shuffles_are_key_partitioned(spark, graph_rounds):
    """Each HITS half-step as hits_scores runs it (one round each, the
    authority pull joining on src, then the hub pull on dst): HITS pins
    no edge copy, the edge⋈state pull and the node-sized left join are
    key-partitioned, and the ONLY broadcast is the 1-row normalizer
    scalar (a BroadcastNestedLoopJoin by construction; nothing
    corpus-sized ever broadcasts)."""
    from cloud_ocr_summarizer_spark.operators import linkgraph as lg

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = spark.read.parquet(SF + "/documents.parquet")
        # plain edges (not the HTML derive, whose own 1-row synthesis
        # broadcast would appear in the lineage and muddy the count)
        edges = spark.createDataFrame(
            [(0, 1), (1, 2)], "src_doc_id long, dst_doc_id long"
        )
        lg.hits_scores(docs, edges, n_iter=1)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert len(graph_rounds) == 2
    for r, join_on in zip(graph_rounds, ("src_doc_id", "dst_doc_id")):
        p = r.plan
        assert r.pin_keys == [] and r.pinned_joins == []
        assert f"SortMergeJoin [{join_on}" in p, p
        assert p.count("BroadcastNestedLoopJoin") == 1, p
        # exactly one broadcast: the 1-row scalar
        assert p.count("BroadcastExchange") == 1, p.count("BroadcastExchange")


def test_c4_line_filter_is_zero_shuffle(spark, Q):
    """Line cleaning (synthesis + classify + filter + rejoin) must stay
    ONE map stage — no Exchange, no Join anywhere."""
    p = _plan(Q.q_c4_line_filter(spark, SF))
    assert "Exchange" not in p and "Join" not in p


def test_head_meta_parse_stage_is_rowlocal(spark, Q):
    """Head-meta extraction is map-only; the only exchanges in the
    round trip belong to the synthesis' 1:1 predecessor self-join."""
    from cloud_ocr_summarizer_spark.operators.headmeta import extract_head_meta

    parse_only = extract_head_meta(
        spark.createDataFrame(
            [(0, "u", "<html><head><title>t</title></head></html>")],
            "doc_id long, url string, html string",
        )
    )
    assert "Exchange" not in _plan(parse_only)
    p = _plan(Q.q_head_meta(spark, SF))
    assert p.count("Exchange hashpartitioning") <= 2, p


def test_redirect_resolution_shuffle_budget(spark, Q):
    """max_hops+1 unique-key equi-joins: SortMergeJoin/ShuffledHashJoin
    on url keys only — no BroadcastNestedLoopJoin (a cartesian would
    mean the join condition degenerated), bounded exchange count."""
    p = _plan(Q.q_redirect_resolve(spark, SF))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    # 5 joins, each side exchanged at most once + the seed distinct
    assert p.count("Exchange hashpartitioning") <= 12, p.count(
        "Exchange hashpartitioning"
    )


def test_feed_parse_stage_is_rowlocal(spark):
    """Feed parsing over already-materialized files is map-only (the
    window/groupBy exchanges belong to the synthesis)."""
    from cloud_ocr_summarizer_spark.operators.feeds import parse_feed_entries

    df = parse_feed_entries(
        spark.createDataFrame(
            [("h", "<rss version=\"2.0\"><channel></channel></rss>")],
            "host string, feed_xml string",
        )
    )
    assert "Exchange" not in _plan(df)


def test_redirect_edge_exchange_reused_across_hops(spark, Q):
    """When edges outgrow broadcast (the web-scale regime), the
    iteration-invariant edge shuffle is computed ONCE and AQE reuses it
    at every later hop — the property the resolve_redirects docstring
    promises.  Runtime assertion: the final adaptive plan carries
    ReusedExchange nodes for the 4 later hops."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = Q.q_redirect_resolve(spark, SF)
        df.collect()
        p = _plan(df)
        assert p.count("ReusedExchange") >= 4, p.count("ReusedExchange")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_frontier_redirect_rollup_shuffle_budget(spark, Q):
    """Resolution joins + the url join-back + the host aggregate (plus
    synthesis self-joins) stay key-partitioned inside a bounded
    exchange budget — no cartesian degeneration anywhere.

    Budgeted on the EXECUTED final plan: the early-exit union prints
    every branch's prefix exchanges in the static tree (34 of them),
    but AQE materializes the shared-lineage shuffles once — measured
    9 materialized + 20 reused.  The reuse floor pins that collapse so
    a refactor that breaks subplan canonicalization (turning reused
    prefixes into real recomputation) fails loudly here.
    """
    df = Q.q_frontier_redirect_rollup(spark, SF)
    p = _final_plan(df)
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert p.count("Exchange hashpartitioning") <= 16, p.count(
        "Exchange hashpartitioning"
    )
    assert p.count("ReusedExchange") >= 4, p.count("ReusedExchange")


def test_lm_rarity_has_no_join_back(spark, Q):
    """The every-doc contract rides the OUTER pair explode: 2 corpus
    scans (count-table build + scoring), broadcast bigram join, zero
    SortMergeJoin — the old zero-fill join-back cost a third scan and
    a corpus-sized SMJ (round-5 removal, docs/PLANS.md)."""
    p = _plan(Q.q_lm_rarity(spark, SF))
    assert "SortMergeJoin" not in p, p
    assert p.count("Scan parquet") <= 2, p.count("Scan parquet")
    assert p.count("Exchange hashpartitioning") <= 2, p
