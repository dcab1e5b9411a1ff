"""Link graph: outlink extraction round trip + integer PageRank.

PageRank is pinned against a hand-rolled pure-Python evaluation of the
same integer recurrence on the same derived edge set — an implementation
the Spark plan shares nothing with (the DuckDB chained-CTE twin is the
cross-engine check; this is the cross-IMPLEMENTATION check).
"""

import pytest
from pyspark.sql import functions as F

from cloud_ocr_summarizer_spark.operators import linkgraph
from cloud_ocr_summarizer_spark.operators.linkgraph import (
    DAMP_NUM,
    INIT_MICRO,
    TELEPORT_MICRO,
    degree_stats,
    derive_linkgraph_html_from_documents,
    extract_outlinks,
    pagerank,
    pagerank_over_documents,
)


def _docs(spark, n=12):
    return spark.createDataFrame(
        [(i, f"word{i} common text") for i in range(n)],
        "doc_id long, text string",
    )


def _expected_edges(n):
    edges = set()
    for d in range(n):
        for j in range(1, 2 + d % 3):
            t = (d * 7919 + j * 104729) % n
            if t != d:
                edges.add((d, t))
    return edges


def test_outlinks_match_target_arithmetic(spark):
    n = 12
    got = {
        (r.src_doc_id, r.dst_doc_id)
        for r in extract_outlinks(
            derive_linkgraph_html_from_documents(_docs(spark, n))
        ).collect()
    }
    assert got == _expected_edges(n)


def test_outlinks_ignore_external_anchors(spark):
    # the derived HTML carries http:// nav/footer anchors; none may leak
    n = 6
    html = derive_linkgraph_html_from_documents(_docs(spark, n))
    one = html.where(F.col("doc_id") == 1).collect()[0].html
    assert 'href="http://nav/home"' in one  # the decoys are really there
    got = {(r.src_doc_id, r.dst_doc_id) for r in extract_outlinks(html).collect()}
    # every edge lands on a real corpus node AND the set is exactly the
    # internal-anchor arithmetic — a lazy every-href parse would emit
    # extra (or garbage-id) edges from the decoys and fail both checks
    assert all(0 <= d < n for _, d in got)
    assert got == _expected_edges(n)


def _python_pagerank(n, n_iter=3):
    edges = _expected_edges(n)
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    ranks = {d: INIT_MICRO for d in range(n)}
    for _ in range(n_iter):
        inflow = {d: 0 for d in range(n)}
        for s, t in edges:
            inflow[t] += (ranks[s] // outdeg[s]) * DAMP_NUM // 100
        ranks = {d: TELEPORT_MICRO + inflow[d] for d in range(n)}
    return ranks


def test_pagerank_matches_pure_python(spark):
    n = 12
    docs = _docs(spark, n)
    edges = extract_outlinks(derive_linkgraph_html_from_documents(docs))
    got = {r.doc_id: r.rank_micro for r in pagerank(docs, edges, n_iter=3).collect()}
    assert got == _python_pagerank(n, n_iter=3)


def test_pagerank_orphan_gets_teleport_only(spark):
    docs = spark.createDataFrame([(0,), (1,), (2,)], "doc_id long")
    edges = spark.createDataFrame([(0, 1)], "src_doc_id long, dst_doc_id long")
    got = {r.doc_id: r.rank_micro for r in pagerank(docs, edges, n_iter=2).collect()}
    # node 2 never receives an edge: teleport only, every round
    assert got[2] == TELEPORT_MICRO
    # node 1 receives all of node 0's damped rank each round
    assert got[1] == TELEPORT_MICRO + (TELEPORT_MICRO * DAMP_NUM) // 100


def test_degree_stats_cover_all_nodes(spark):
    n = 9
    docs = _docs(spark, n)
    ds = degree_stats(
        docs, extract_outlinks(derive_linkgraph_html_from_documents(docs))
    )
    rows = {r.doc_id: (r.out_degree, r.in_degree) for r in ds.collect()}
    assert set(rows) == set(range(n))
    edges = _expected_edges(n)
    for d in range(n):
        assert rows[d] == (
            sum(1 for s, _ in edges if s == d),
            sum(1 for _, t in edges if t == d),
        )


def test_pagerank_over_documents_schema(spark):
    out = pagerank_over_documents(_docs(spark, 8), n_iter=2)
    assert [f.name for f in out.schema.fields] == [
        "doc_id",
        "rank_micro",
        "in_degree",
    ]
    assert out.count() == 8


def test_inbound_anchor_texts_hand_computed(spark):
    from cloud_ocr_summarizer_spark.operators.linkgraph import (
        inbound_anchor_texts,
    )

    n = 12
    got = {
        r.doc_id: (r.n_inbound, r.anchor_texts)
        for r in inbound_anchor_texts(
            derive_linkgraph_html_from_documents(_docs(spark, n))
        ).collect()
    }
    expected = {}
    for d in range(n):
        for j in range(1, 2 + d % 3):
            t = (d * 7919 + j * 104729) % n
            if t != d:
                expected.setdefault(t, []).append(f"ref-{d}-{j}")
    assert set(got) == set(expected)
    for t, texts in expected.items():
        assert got[t] == (len(texts), " | ".join(sorted(texts)))


def _hot_target_html(spark, n_src=100, extra=""):
    """n_src source docs all anchoring the SAME target 0 (plus doc 0
    itself) — the power-law hot key the top-K cap exists for."""
    rows = [(0, "<html></html>" + extra)]
    for s in range(1, n_src + 1):
        rows.append(
            (s, f'<a href="doc://0">t-{s:04d}</a> <a href="doc://{s}">self</a>')
        )
    return spark.createDataFrame(rows, "doc_id long, html string")


def test_inbound_anchor_texts_cap_truncates_hot_target(spark):
    from cloud_ocr_summarizer_spark.operators.linkgraph import (
        inbound_anchor_texts,
    )

    n_src = 100
    html = _hot_target_html(spark, n_src)
    got = {
        r.doc_id: (r.n_inbound, r.anchor_texts)
        for r in inbound_anchor_texts(html, top_k=5, n_salts=4).collect()
    }
    # the hot target reports its EXACT in-degree but only the 5
    # lexicographically smallest texts survive the two-level merge
    assert got[0] == (n_src, " | ".join(f"t-{s:04d}" for s in range(1, 6)))
    # self-links dropped: no other target exists
    assert set(got) == {0}


def test_inbound_anchor_texts_two_level_matches_single_salt(spark):
    from cloud_ocr_summarizer_spark.operators.linkgraph import (
        inbound_anchor_texts,
    )

    docs = _docs(spark, 12)
    html = derive_linkgraph_html_from_documents(docs)
    a = {
        r.doc_id: (r.n_inbound, r.anchor_texts)
        for r in inbound_anchor_texts(html, top_k=3, n_salts=1).collect()
    }
    b = {
        r.doc_id: (r.n_inbound, r.anchor_texts)
        for r in inbound_anchor_texts(html, top_k=3, n_salts=7).collect()
    }
    assert a == b  # min-k associativity: salting never changes the result


def test_anchor_text_cap_audit_counts_truncation(spark):
    from cloud_ocr_summarizer_spark.operators.linkgraph import (
        anchor_text_cap_audit,
    )

    html = _hot_target_html(spark, 20)
    row = anchor_text_cap_audit(html, top_k=5).collect()[0]
    assert (row.cap_name, row.cap_value) == ("anchor_texts_top_k", 5)
    assert (row.dropped_groups, row.dropped_rows) == (1, 15)
    # cap that never fires -> explicit zero row, not silence
    zero = anchor_text_cap_audit(html, top_k=1000).collect()[0]
    assert (zero.dropped_groups, zero.dropped_rows) == (0, 0)


def test_harmonic_centrality_merge_is_two_level(spark):
    from cloud_ocr_summarizer_spark.functions.hashing import md5_hash31_col
    from cloud_ocr_summarizer_spark.operators.linkgraph import (
        _merge_ball_sketches,
    )

    docs = _docs(spark, 6)
    edges = extract_outlinks(derive_linkgraph_html_from_documents(docs))
    cur = docs.select(
        "doc_id",
        F.array(md5_hash31_col(F.col("doc_id"))).alias("sketch"),
        F.lit(1).cast("bigint").alias("est"),
        F.lit(0).cast("bigint").alias("harmonic_milli"),
    )
    merged = _merge_ball_sketches(cur, edges, k=4, n_salts=8)
    plan = merged._jdf.queryExecution().optimizedPlan().toString()
    # the salted pre-merge stage exists: an aggregate keyed by
    # (dst, pmod(xxhash64(src))) runs before the per-dst merge, bounding
    # the aggregation buffer at in_degree/n_salts x k instead of
    # in_degree x k (the optimizer renames the _salt alias to a
    # _groupingexpression, so assert on the salt expression itself)
    assert "pmod(xxhash64" in plan
    assert "Aggregate [dst_doc_id" in plan  # level 1: (dst, salt)
    assert "Aggregate [doc_id" in plan  # level 2: per-dst merge


@pytest.fixture
def no_broadcast(spark):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def _pinned_round_ops(spark):
    """The operators whose rounds read a pinned edge side (all but
    HITS), each as it runs in the library, at one round where that is a
    parameter."""
    from cloud_ocr_summarizer_spark.operators.dedup import duplicate_clusters

    docs = _docs(spark, 12)
    edges = extract_outlinks(derive_linkgraph_html_from_documents(docs)).localCheckpoint()
    pairs = edges.select(F.col("src_doc_id").alias("id_a"),
                         F.col("dst_doc_id").alias("id_b"))
    return {
        "pagerank": lambda: pagerank(docs, edges, n_iter=1),
        "pagerank_personalized": lambda: linkgraph.pagerank_personalized(
            docs, edges, seed_mod=4, n_iter=1),
        "harmonic_salted": lambda: linkgraph.harmonic_centrality_kmv(
            docs, edges, k=4, n_iter=1, n_salts=8, merge="salted"),
        "harmonic_window": lambda: linkgraph.harmonic_centrality_kmv(
            docs, edges, k=4, n_iter=1, merge="window"),
        "components": lambda: linkgraph.link_components(docs, edges, n_iter=1),
        "dedup_clusters": lambda: duplicate_clusters(pairs),
    }


def _assert_rounds_read_pinned_edges(graph_rounds, name):
    assert graph_rounds, name
    for r in graph_rounds:
        assert r.pin_keys == ["src_doc_id"], (name, r.pin_keys)
        assert len(r.pinned_joins) == 1, (name, r.pinned_joins)
        on_edges, on_state = r.pinned_joins[0]
        assert on_edges == 0, name  # the pinned edge side is read in place
        assert on_state >= 1, name  # only the node-sized state shuffles


def test_graph_rounds_read_pinned_edges_without_exchange(
    spark, no_broadcast, graph_rounds
):
    """Every round of PageRank, personalized PageRank, a salted and a
    window harmonic merge, link_components and duplicate_clusters, as
    the operators run them: the state⋈edges join has no Exchange and no
    Sort on the pinned edge side; only the node-sized state side
    shuffles."""
    for name, op in _pinned_round_ops(spark).items():
        graph_rounds.clear()
        op()
        _assert_rounds_read_pinned_edges(graph_rounds, name)


def test_pinned_edges_are_not_broadcast(spark, graph_rounds):
    """Under the default broadcast threshold a pinned side small enough
    to broadcast is still read in place by a sort-merge join, not
    rebuilt into a broadcast hash table every round."""
    _pinned_round_ops(spark)["pagerank"]()
    _assert_rounds_read_pinned_edges(graph_rounds, "pagerank")


def test_harmonic_centrality_matches_pure_python(spark):
    import hashlib

    from cloud_ocr_summarizer_spark.functions.hashing import M31
    from cloud_ocr_summarizer_spark.operators.linkgraph import (
        harmonic_centrality_kmv,
    )

    n, k, iters = 12, 4, 3
    docs = _docs(spark, n)
    edges_df = extract_outlinks(derive_linkgraph_html_from_documents(docs))
    got = {
        r.doc_id: (r.n_reached_est, r.harmonic_milli)
        for r in harmonic_centrality_kmv(docs, edges_df, k=k, n_iter=iters).collect()
    }

    def h31(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:14], 16) % M31

    edges = _expected_edges(n)
    sk = {d: [h31(d)] for d in range(n)}
    est = {d: 1 for d in range(n)}
    harm = {d: 0 for d in range(n)}
    for t in range(1, iters + 1):
        nbr = {}
        for s, dst in edges:
            nbr.setdefault(dst, []).extend(sk[s])
        sk = {
            d: sorted(set(sk[d]) | set(nbr.get(d, [])))[:k] for d in range(n)
        }
        for d in range(n):
            e = len(sk[d]) if len(sk[d]) < k else ((k - 1) * M31) // sk[d][k - 1]
            harm[d] += max(0, e - est[d]) * 1000 // t
            est[d] = e
    assert got == {d: (est[d], harm[d]) for d in range(n)}


def test_graph_ops_unpersist_what_they_pin(spark):
    """After each graph op's result is collected, no RDD the call
    persisted is still registered: the only new persistent RDDs are the
    rounds' local checkpoints."""
    from cloud_ocr_summarizer_spark.operators.dedup import duplicate_clusters

    docs = _docs(spark, 10)
    edges = extract_outlinks(derive_linkgraph_html_from_documents(docs))
    pairs = edges.select(F.col("src_doc_id").alias("id_a"),
                         F.col("dst_doc_id").alias("id_b"))
    jsc = spark.sparkContext._jsc
    ops = {
        "pagerank": lambda: pagerank(docs, edges, n_iter=2),
        "pagerank_personalized": lambda: linkgraph.pagerank_personalized(
            docs, edges, seed_mod=4, n_iter=2),
        "pagerank_over_documents": lambda: pagerank_over_documents(docs, n_iter=2),
        "hits": lambda: linkgraph.hits_scores(docs, edges, n_iter=2),
        "harmonic": lambda: linkgraph.harmonic_centrality_kmv(docs, edges, k=4, n_iter=2),
        "components": lambda: linkgraph.link_components(docs, edges, n_iter=2),
        "dedup_clusters": lambda: duplicate_clusters(pairs),
    }
    for name, op in ops.items():
        before = set(jsc.getPersistentRDDs().keySet())
        assert op().collect(), name
        after = jsc.getPersistentRDDs()
        leaked = [
            i for i in after.keySet()
            if i not in before and not after.get(i).rdd().isLocallyCheckpointed()
        ]
        assert leaked == [], name


def test_pagerank_over_documents_bucketed_default_matches_plain(spark):
    """The default composed job (the pinned-edge loop that replaced the
    bucketed fan table) runs without a fallback warning and returns the
    plain recurrence's ranks with the edge set's in-degrees."""
    import warnings

    n = 10
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = {
            r.doc_id: (r.rank_micro, r.in_degree)
            for r in pagerank_over_documents(_docs(spark, n), n_iter=2).collect()
        }
    assert not [w for w in caught if issubclass(w.category, RuntimeWarning)]
    ranks = _python_pagerank(n, n_iter=2)
    edges = _expected_edges(n)
    assert got == {
        d: (ranks[d], sum(1 for _, t in edges if t == d)) for d in range(n)
    }


def test_pagerank_personalized_bucketed_default_matches_plain(spark):
    """Personalized PageRank on the default path runs without a fallback
    warning, and with every node a seed it is exactly plain PageRank."""
    import warnings

    from cloud_ocr_summarizer_spark.operators.linkgraph import (
        pagerank_personalized,
    )

    docs = _docs(spark, 10)
    edges_df = extract_outlinks(derive_linkgraph_html_from_documents(docs))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        seeded = pagerank_personalized(docs, edges_df, seed_mod=4, n_iter=2)
        assert seeded.count() == 10
        every = {
            (r.doc_id, r.rank_micro, r.is_seed)
            for r in pagerank_personalized(
                docs, edges_df, seed_mod=1, n_iter=2
            ).collect()
        }
    assert not [w for w in caught if issubclass(w.category, RuntimeWarning)]
    plain = {
        (r.doc_id, r.rank_micro, 1)
        for r in pagerank(docs, edges_df, n_iter=2).collect()
    }
    assert every == plain


def test_hot_dst_synthesis_concentrates_edges_on_doc0(spark):
    from cloud_ocr_summarizer_spark.operators.linkgraph import (
        inbound_anchor_texts,
    )

    n = 60
    docs = _docs(spark, n)
    html = derive_linkgraph_html_from_documents(docs, hot_dst_every=5)
    edges = extract_outlinks(html)
    # every uniform target divisible by 5 redirects to doc 0: the hot
    # key holds the redirected mass (~1/5 of slots, minus doc 0's own
    # self-links which drop), everything else matches the arithmetic
    expected = set()
    hot = 0
    for d in range(n):
        for j in range(1, 2 + d % 3):
            t = (d * 7919 + j * 104729) % n
            if t % 5 == 0:
                t = 0
                hot += d != 0
            if t != d:
                expected.add((d, t))
    got = {(r.src_doc_id, r.dst_doc_id) for r in edges.collect()}
    assert got == expected
    assert hot >= n // 5  # the skew is real, not incidental
    # and the bounded two-level aggregate is partitioning-proof on the
    # hot corpus: n_salts=1 (single per-dst buffer) vs the default 16
    a1 = {
        (r.doc_id, r.n_inbound, r.anchor_texts)
        for r in inbound_anchor_texts(html, n_salts=1).collect()
    }
    a16 = {
        (r.doc_id, r.n_inbound, r.anchor_texts)
        for r in inbound_anchor_texts(html).collect()
    }
    assert a1 == a16


def test_pagerank_personalized_matches_pure_python(spark):
    from cloud_ocr_summarizer_spark.operators.linkgraph import (
        pagerank_personalized,
    )

    n, n_iter, seed_mod = 24, 3, 4
    docs = _docs(spark, n)
    edges_df = extract_outlinks(derive_linkgraph_html_from_documents(docs))
    got = {
        r.doc_id: (r.rank_micro, r.is_seed)
        for r in pagerank_personalized(
            docs, edges_df, seed_mod=seed_mod, n_iter=n_iter
        ).collect()
    }
    edges = _expected_edges(n)
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    ranks = {d: INIT_MICRO if d % seed_mod == 0 else 0 for d in range(n)}
    for _ in range(n_iter):
        inflow = {d: 0 for d in range(n)}
        for s, t in edges:
            inflow[t] += (ranks[s] // outdeg[s]) * DAMP_NUM // 100
        ranks = {
            d: (TELEPORT_MICRO if d % seed_mod == 0 else 0) + inflow[d]
            for d in range(n)
        }
    assert got == {d: (ranks[d], int(d % seed_mod == 0)) for d in range(n)}
    # a non-seed with no path from any seed carries exactly zero rank
    assert all(
        rm == 0 for d, (rm, s) in got.items() if s == 0 and ranks[d] == 0
    )


def test_window_merge_variants_bit_identical(spark):
    """merge='window' (spill-bounded sort formulation for extreme
    power-law in-degree) must match merge='salted' bit-for-bit on a
    hot-key corpus, for both anchor texts and harmonic centrality."""
    from cloud_ocr_summarizer_spark.operators.linkgraph import (
        harmonic_centrality_kmv,
        inbound_anchor_texts,
    )

    # hot target (doc 0 receives every source's anchor) + the uniform
    # derived corpus, unioned so both shapes are exercised at once
    docs = _docs(spark, 12)
    html = derive_linkgraph_html_from_documents(docs).unionByName(
        _hot_target_html(spark, 40).select(
            (F.col("doc_id") + 100).alias("doc_id"), "html"
        )
    )
    a = {
        r.doc_id: (r.n_inbound, r.anchor_texts)
        for r in inbound_anchor_texts(html, top_k=5).collect()
    }
    b = {
        r.doc_id: (r.n_inbound, r.anchor_texts)
        for r in inbound_anchor_texts(html, top_k=5, merge="window").collect()
    }
    assert a == b

    edges = extract_outlinks(html)
    h_a = {
        r.doc_id: (r.n_reached_est, r.harmonic_milli)
        for r in harmonic_centrality_kmv(docs, edges, k=4, n_iter=2).collect()
    }
    h_b = {
        r.doc_id: (r.n_reached_est, r.harmonic_milli)
        for r in harmonic_centrality_kmv(
            docs, edges, k=4, n_iter=2, merge="window"
        ).collect()
    }
    assert h_a == h_b

    import pytest

    with pytest.raises(ValueError, match="merge"):
        inbound_anchor_texts(html, merge="nope")


def _python_hits(edge_list, n, n_iter=3):
    hub = {i: 1_000_000 for i in range(n)}
    auth = {i: 0 for i in range(n)}
    for _ in range(n_iter):
        raw = {i: 0 for i in range(n)}
        for s, d in edge_list:
            raw[d] += hub[s]
        sa = max(raw.values(), default=0) // 1_000_000 + 1
        auth = {i: raw[i] // sa for i in range(n)}
        raw = {i: 0 for i in range(n)}
        for s, d in edge_list:
            raw[s] += auth[d]
        sh = max(raw.values(), default=0) // 1_000_000 + 1
        hub = {i: raw[i] // sh for i in range(n)}
    return auth, hub


def test_hits_matches_pure_python(spark):
    from cloud_ocr_summarizer_spark.operators.linkgraph import hits_scores

    n = 12
    edges = sorted(_expected_edges(n))
    auth, hub = _python_hits(edges, n)
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edf = spark.createDataFrame(
        edges, "src_doc_id long, dst_doc_id long"
    )
    got = {
        r.doc_id: (r.auth_micro, r.hub_micro)
        for r in hits_scores(nodes, edf, n_iter=3).collect()
    }
    assert got == {i: (auth[i], hub[i]) for i in range(n)}


def test_hits_sink_node_has_zero_hub(spark):
    """A node with no outlinks cannot be a hub; no inlinks -> no auth."""
    from cloud_ocr_summarizer_spark.operators.linkgraph import hits_scores

    nodes = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    edf = spark.createDataFrame(
        [(0, 3), (1, 3), (2, 3)], "src_doc_id long, dst_doc_id long"
    )
    rows = {r.doc_id: r for r in hits_scores(nodes, edf).collect()}
    assert rows[3].hub_micro == 0 and rows[3].auth_micro > 0
    assert rows[0].auth_micro == 0 and rows[0].hub_micro > 0
    # the three identical hubs tie exactly (partitioning-independent)
    assert rows[0].hub_micro == rows[1].hub_micro == rows[2].hub_micro


def test_hits_half_step_derives_edges_once(spark, graph_rounds, tmp_path):
    """A half-step reads its per-node sums twice (the new scores and
    their max).  With the edges derived from the same documents table as
    the nodes, the second read must reuse the first one's shuffle: the
    executed last round derives the edges once, not once per read."""
    _docs(spark, 12).write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    edges = extract_outlinks(derive_linkgraph_html_from_documents(docs))
    linkgraph.hits_scores(docs, edges, n_iter=1)
    final = graph_rounds[-1].executed.toString().split("Initial Plan")[0]
    assert "Final Plan" in final
    assert final.count("Generate") == 1, final


def test_hits_partitioning_invariant(spark):
    from cloud_ocr_summarizer_spark.operators.linkgraph import hits_scores

    n = 12
    edges = sorted(_expected_edges(n))
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edf = spark.createDataFrame(edges, "src_doc_id long, dst_doc_id long")
    a = sorted(
        map(tuple, hits_scores(nodes, edf).collect())
    )
    b = sorted(
        map(
            tuple,
            hits_scores(
                nodes.repartition(7), edf.repartition(5, "dst_doc_id")
            ).collect(),
        )
    )
    assert a == b


def _python_components(edge_list, n, n_iter=4):
    und = set()
    for s, d in edge_list:
        und.add((s, d))
        und.add((d, s))
    lab = {i: i for i in range(n)}
    for _ in range(n_iter):
        nxt = dict(lab)
        for s, d in und:
            nxt[d] = min(nxt[d], lab[s])
        lab = nxt
    return lab


def test_components_match_pure_python_and_converge_on_chain(spark):
    from cloud_ocr_summarizer_spark.operators.linkgraph import (
        link_components,
    )

    n = 10
    # two chains + an isolate: {0-1-2-3}, {5-6-7}, {4}, {8,9} pair
    edges = [(0, 1), (1, 2), (2, 3), (5, 6), (6, 7), (9, 8)]
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edf = spark.createDataFrame(edges, "src_doc_id long, dst_doc_id long")
    got = {
        r.doc_id: r.component_id
        for r in link_components(nodes, edf, n_iter=4).collect()
    }
    assert got == _python_components(edges, n, 4)
    # 4 rounds fully propagate these diameters: canonical min labels
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 5, 8: 8, 9: 8}


def test_components_unconverged_state_is_deterministic(spark):
    from cloud_ocr_summarizer_spark.operators.linkgraph import (
        link_components,
    )

    n = 8
    chain = [(i, i + 1) for i in range(n - 1)]  # diameter 7 > 2 rounds
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edf = spark.createDataFrame(chain, "src_doc_id long, dst_doc_id long")
    got = {
        r.doc_id: r.component_id
        for r in link_components(nodes, edf, n_iter=2).collect()
    }
    assert got == _python_components(chain, n, 2)
    assert got[7] != 0  # genuinely unconverged, and exactly as modeled
