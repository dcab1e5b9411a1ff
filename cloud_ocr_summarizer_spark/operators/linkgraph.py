"""Web link graph: outlink extraction from HTML and integer PageRank.

A web-scale curation pipeline needs graph signals on top of per-document
text signals — Common-Crawl-style corpora rank and filter hosts by link
centrality (harmonic centrality / PageRank over the crawl's link graph)
before any text gate runs.  The reference pipeline is single-document
(vision_processor.py:146-326 has no cross-document stage), so this module
is part of the engine's web-scale extension surface, same tier as dedup
and ANN.

Three stages, each independently checkable:

* ``derive_linkgraph_html_from_documents`` — deterministic tag-soup
  corpus where doc ``d`` carries ``1 + d % 3`` internal anchors
  ``<a href="doc://T">`` with ``T = (d*7919 + j*104729) % N`` (dense ids
  0..N-1, so every target exists), plus external/nav anchors that the
  extractor must NOT count as corpus edges.
* ``extract_outlinks`` — pure-JVM regexp scan of the anchor scheme
  (zero Python, row-local; one ``distinct`` shuffle to canonicalize the
  edge set).  The DuckDB twin re-derives the edge set straight from the
  target arithmetic, so the value check is a full synthesize->parse
  round trip (same pattern as the dom.py oracles).
* ``pagerank`` — fixed-iteration PageRank in integer micro-units:
  every node starts at 1_000_000, one round is
  ``rank' = 150_000 + sum over in-edges of ((rank div outdeg) * 85) div 100``
  (damping 0.85, teleport 0.15, all BIGINT — integer division makes the
  result exact and order-independent, so the cross-engine value hash is
  byte-stable; same integer-arithmetic policy as the bp quality scores).
  Dangling-node mass is NOT redistributed (it decays into the teleport
  term) — documented deviation from normalized PageRank; rankings are
  what curation consumes and those are preserved.

Scale: every iterative operator here runs through :func:`iterate_rounds`.
Its iteration-invariant edge side is hash-partitioned and sorted on the
join key and persisted ONCE, so a round's sort-merge join shuffles only
the node-sized state (HITS, whose two pulls join on different keys,
pins nothing: see :func:`hits_scores`); each round is cut with
``localCheckpoint()`` (plan-doubling trap).  No broadcast of anything corpus-sized, no
driver-side state.  Per-edge contributions are ≤ rank ≤ total corpus
mass ≈ N·10^6, so BIGINT holds through N = 10^12 docs (max ~8.5·10^17 <
2^63).
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

DAMP_NUM = 85  # damping 0.85 as integer percent
TELEPORT_MICRO = 150_000  # (1 - 0.85) * 10^6
INIT_MICRO = 1_000_000


def derive_linkgraph_html_from_documents(
    docs: DataFrame, *, hot_dst_every: int | None = None
) -> DataFrame:
    """documents -> (doc_id, html) with deterministic internal anchors.

    Doc ``d`` links to ``(d*7919 + j*104729) % N`` for ``j`` in
    ``1..1+d%3`` (N = max(doc_id)+1; testdata ids are dense 0..N-1).
    Self-targets stay in the HTML — the extractor is responsible for
    dropping them.  Nav/external anchors (http:// scheme) surround the
    references block so a lazy 'every href' parse fails the value check.

    ``hot_dst_every=m`` redirects every anchor slot whose uniform target
    satisfies ``target % m == 0`` to doc 0 — ~1/m of ALL corpus edges
    land on one node, the power-law hot-in-degree shape the graph
    operators' two-level bounded merges exist for (bench corpus only;
    the oracles pin the default ``None`` synthesis).
    """
    n_docs = docs.agg((F.max("doc_id") + 1).alias("_n"))
    d = F.col("doc_id")
    deg = (d % 3 + 1).cast("int")

    def _target(j):
        t = F.pmod(d * 7919 + j.cast("bigint") * 104729, F.col("_n"))
        if hot_dst_every is not None:
            t = F.when(t % hot_dst_every == 0, F.lit(0).cast("bigint")).otherwise(t)
        return t

    anchors = F.array_join(
        F.transform(
            F.sequence(F.lit(1), deg),
            lambda j: F.concat(
                F.lit('<a href="doc://'),
                _target(j).cast("string"),
                # anchor text varies per (source, slot) so the inbound
                # anchor-text aggregation has a real signal to collect
                F.lit('">ref-'),
                d.cast("string"),
                F.lit("-"),
                j.cast("string"),
                F.lit("</a> "),
            ),
        ),
        "",
    )
    html = F.concat(
        F.lit('<html><body><nav><a href="http://nav/home">Home</a></nav>'
              '<div class="main"><p>'),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit('</p><div class="refs">'),
        anchors,
        F.lit('</div></div><footer><a href="http://ext.example/x">ext</a>'
              "</footer></body></html>"),
    )
    return docs.crossJoin(F.broadcast(n_docs)).select(
        d.alias("doc_id"), html.alias("html")
    )


def extract_outlinks(html_df: DataFrame, *, html_col: str = "html") -> DataFrame:
    """(doc_id, html) -> distinct (src_doc_id, dst_doc_id) corpus edges.

    Only the internal ``doc://`` scheme counts as a graph edge; self
    links are dropped.  Row-local regexp scan (whole-stage codegen) +
    one distinct shuffle to canonicalize the edge set.
    """
    dst = F.explode(
        F.regexp_extract_all(F.col(html_col), F.lit('href="doc://(\\d+)"'), 1)
    ).alias("_dst")
    return (
        html_df.select(F.col("doc_id").alias("src_doc_id"), dst)
        .select("src_doc_id", F.col("_dst").cast("bigint").alias("dst_doc_id"))
        .where(F.col("dst_doc_id") != F.col("src_doc_id"))
        .distinct()
    )


def degree_stats(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Per-node (doc_id, out_degree, in_degree) over the full node set.

    Two edge-sized aggs left-joined onto the node table — orphans report
    0/0 rather than vanishing (they still carry teleport rank).
    """
    outd = edges.groupBy(F.col("src_doc_id").alias("doc_id")).agg(
        F.count("*").alias("out_degree")
    )
    ind = edges.groupBy(F.col("dst_doc_id").alias("doc_id")).agg(
        F.count("*").alias("in_degree")
    )
    return (
        nodes.select("doc_id")
        .join(outd, "doc_id", "left")
        .join(ind, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def _pin(df: DataFrame, key: str) -> DataFrame:
    """``df`` hash-partitioned and sorted on ``key``, then persisted.  Once
    its cache is built, a sort-merge join on ``key`` reads it in place:
    no Exchange and no Sort on this side.  Under AQE a ``localCheckpoint``
    drops the partitioning, so every round would re-shuffle the side.
    The merge hint stops the planner from broadcasting a pinned side that
    fits under the broadcast threshold, which would rebuild its hash
    table every round."""
    return df.repartition(key).sortWithinPartitions(key).persist().hint("merge")


def iterate_rounds(
    pin: Sequence[tuple[DataFrame, str]],
    init: Callable[..., DataFrame],
    step: Callable[..., DataFrame],
    *,
    rounds: int,
    converge: bool = False,
) -> DataFrame:
    """The one round loop of the graph operators.

    Each ``(frame, key)`` of ``pin`` is an iteration-invariant side, pinned
    once by :func:`_pin`.  ``init(*pinned)`` is the start state and
    ``step(i, state, *pinned)`` round ``i`` (from 0); each round is cut
    with ``localCheckpoint``, since a plan that references its previous
    round doubles every round.  Fixed mode runs ``rounds`` rounds.
    ``converge=True`` stops at the first round that changes no row and
    raises ``RuntimeError`` when ``rounds`` run out first, rather than
    return a moving state as final.  The result is materialized before
    the pinned sides are unpersisted: a lazy checkpoint over an
    unpersisted side would silently recompute it.
    """
    pinned = []
    try:
        for df, key in pin:
            pinned.append(_pin(df, key))
            pinned[-1].count()  # a plan made before the cache exists sees no partitioning
        state = init(*pinned)
        if converge or not rounds:
            state = state.localCheckpoint()
        for i in range(rounds):
            new = step(i, state, *pinned).localCheckpoint(
                eager=converge or i == rounds - 1
            )
            changed = new.subtract(state).count() if converge else None
            state = new
            if changed == 0:
                return state
        if converge:
            raise RuntimeError(
                f"no fixpoint in {rounds} rounds ({changed} rows still "
                "changing): the graph is deeper than the round cap"
            )
        return state
    finally:
        for df in pinned:
            df.unpersist()


def _fan_table(edges: DataFrame) -> DataFrame:
    """(src, dst, outdeg): PageRank's iteration-invariant join input."""
    outdeg = edges.groupBy(F.col("src_doc_id").alias("doc_id")).agg(
        F.count("*").alias("outdeg")
    )
    return edges.join(outdeg, edges.src_doc_id == outdeg.doc_id).select(
        "src_doc_id", "dst_doc_id", "outdeg"
    )


def _rank_round(
    node_ids: DataFrame, teleport: Column, ranks: DataFrame, fan: DataFrame
) -> DataFrame:
    """One round of the integer rank recurrence (module docstring)."""
    contrib = (
        fan.join(ranks, fan.src_doc_id == ranks.doc_id)
        .select(
            F.col("dst_doc_id").alias("doc_id"),
            F.expr(f"((rank_micro div outdeg) * {DAMP_NUM}) div 100").alias("c"),
        )
        .groupBy("doc_id")
        .agg(F.sum("c").alias("inflow"))
    )
    return node_ids.join(contrib, "doc_id", "left").select(
        "doc_id",
        (teleport + F.coalesce(F.col("inflow"), F.lit(0))).alias("rank_micro"),
    )


def _pagerank(
    nodes: DataFrame, edges: DataFrame, *, n_iter: int, seed: Column | None
) -> DataFrame:
    """:func:`pagerank` with initial mass and teleport either uniform
    (``seed`` None) or concentrated on the rows where the boolean
    ``seed`` Column over ``doc_id`` holds (:func:`pagerank_personalized`).
    The (src, dst, outdeg) fan is pinned on src once, so a round
    shuffles only the node-sized ranks."""
    node_ids = nodes.select("doc_id")

    def per_node(micro: int) -> Column:
        m = F.lit(micro).cast("bigint")
        return m if seed is None else F.when(seed, m).otherwise(F.lit(0).cast("bigint"))

    return iterate_rounds(
        [(_fan_table(edges), "src_doc_id")],
        lambda fan: node_ids.select("doc_id", per_node(INIT_MICRO).alias("rank_micro")),
        lambda i, ranks, fan: _rank_round(node_ids, per_node(TELEPORT_MICRO), ranks, fan),
        rounds=n_iter,
    )


def pagerank(nodes: DataFrame, edges: DataFrame, *, n_iter: int = 5) -> DataFrame:
    """Fixed-iteration integer PageRank -> (doc_id, rank_micro).

    See the module docstring for the exact recurrence and why it is
    integer.  ``nodes`` must carry ``doc_id``; ``edges`` carries
    (src_doc_id, dst_doc_id).
    """
    return _pagerank(nodes, edges, n_iter=n_iter, seed=None)


PPR_SEED_MOD = 20  # doc_id % 20 == 0 -> trusted seed (5% of the corpus)


def pagerank_personalized(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    seed_mod: int = PPR_SEED_MOD,
    n_iter: int = 5,
) -> DataFrame:
    """Personalized (seed-rooted) integer PageRank
    -> (doc_id, rank_micro, is_seed).

    :func:`pagerank` (same loop and round body, so the two cannot
    de-sync) with initial mass AND the teleport term concentrated on the
    seed set ``doc_id % seed_mod == 0`` — the TrustRank/seeded-quality-
    prior shape: rank flows outward from trusted pages, a non-seed page
    scores only by (transitive) inbound proximity to seeds.  Per-seed teleport
    stays the uniform ``TELEPORT_MICRO`` integer rather than
    mass-normalizing by ``N/|seeds|`` — same documented deviation policy
    as the dangling-mass decay (rankings, which curation consumes, are
    preserved; BIGINT headroom is unchanged since per-node teleport
    never grows).  Seeds are a deterministic id-arithmetic set here; a
    deployment passes its own seed predicate.
    """
    is_seed = F.col("doc_id") % seed_mod == 0
    return _pagerank(nodes, edges, n_iter=n_iter, seed=is_seed).select(
        "doc_id", "rank_micro", is_seed.cast("int").alias("is_seed")
    )


def pagerank_over_documents(docs: DataFrame, *, n_iter: int = 5) -> DataFrame:
    """documents -> (doc_id, rank_micro, in_degree): the composed job.

    synthesize HTML -> parse outlinks -> :func:`pagerank`, joined with
    the in-degree so the output is directly consumable as a curation
    signal ("rank high, few inlinks" = teleport-propped page).
    """
    edges = extract_outlinks(derive_linkgraph_html_from_documents(docs))
    # in-degree directly from the edges: degree_stats would redundantly
    # re-aggregate the out-degree pagerank already computed and discard it
    ind = edges.groupBy(F.col("dst_doc_id").alias("doc_id")).agg(
        F.count("*").alias("in_degree")
    )
    return pagerank(docs, edges, n_iter=n_iter).join(ind, "doc_id", "left").select(
        "doc_id",
        "rank_micro",
        F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
    )


ANCHOR_TOP_K = 16  # texts kept per target; the hot-key state cap
ANCHOR_SALTS = 16  # level-1 fanout of the two-level bounded aggregate


def _anchor_pairs(html_df: DataFrame, *, html_col: str = "html") -> DataFrame:
    """(src, doc_id=target, txt) — one row per internal anchor occurrence,
    self-links dropped.  Shared by :func:`inbound_anchor_texts` and its
    cap audit so the two cannot diverge (the dedup audit policy)."""
    pairs = F.transform(
        F.regexp_extract_all(
            F.col(html_col), F.lit('<a href="doc://\\d+">[^<]*</a>'), 0
        ),
        lambda m: F.struct(
            F.regexp_extract(m, r"doc://(\d+)", 1).cast("bigint").alias("dst"),
            F.regexp_extract(m, r">([^<]*)<", 1).alias("txt"),
        ),
    )
    return (
        html_df.select(F.col("doc_id").alias("src"), F.explode(pairs).alias("p"))
        .select("src", F.col("p.dst").alias("doc_id"), F.col("p.txt").alias("txt"))
        .where(F.col("doc_id") != F.col("src"))
    )


def inbound_anchor_texts(
    html_df: DataFrame,
    *,
    html_col: str = "html",
    top_k: int = ANCHOR_TOP_K,
    n_salts: int = ANCHOR_SALTS,
    merge: str = "salted",
) -> DataFrame:
    """Per TARGET doc: the first ``top_k`` sorted inbound anchor texts
    (the classic web ranking/description signal — what OTHER pages call
    this page).

    One row-local regexp pass pulls (dst, anchor_text) pairs from the
    internal anchors, self-links drop (same contract as
    :func:`extract_outlinks`).  Web in-degree is power-law — a popular
    target has millions of inbound anchors, so an uncapped
    ``collect_list`` per dst is an unbounded aggregation buffer on one
    hot key.  The aggregate is therefore two-level and capped:

      level 1: groupBy (dst, salt(src)) keeps each salt shard's exact
               occurrence count and its ``top_k`` smallest texts
               (buffer <= in_degree / n_salts per key);
      level 2: groupBy dst merges — sum of exact counts, and the k
               smallest of the <= n_salts * top_k surviving texts
               (buffer <= n_salts * top_k per key).

    min-k over a sorted multiset is associative (any element of the
    global first k is within its shard's first k — pigeonhole), so the
    result is bit-identical to the single-level sort+slice on any
    partitioning; duplicates kept — repetition IS signal strength.
    ``n_inbound`` stays the EXACT total (counts are bounded-state), so
    truncation is observable per row; corpus-level accounting is
    :func:`anchor_text_cap_audit`.  Output: (doc_id, n_inbound,
    anchor_texts as ' | '-joined first-k sorted string).

    The salted pre-merge is a CONSTANT-FACTOR relief: the level-1
    buffer is still in_degree/n_salts, so an extreme (10^9-inbound)
    target merely OOMs ``n_salts`` times later.  ``merge="window"``
    is the fully bounded formulation for that regime: row_number over
    a (doc_id ORDER BY txt) window — sort state is an ExternalSorter
    that SPILLS for a hot key instead of growing an in-memory
    aggregation buffer, the exact count rides the same partitioning
    (no extra shuffle), and the post-filter reassembly holds <= top_k
    rows per key.  Bit-identical output (pytest-pinned on a hot-key
    corpus); same shuffle volume, plus a per-partition sort.
    """
    exploded = _anchor_pairs(html_df, html_col=html_col)
    if merge == "window":
        w_all = Window.partitionBy("doc_id")
        w_rank = Window.partitionBy("doc_id").orderBy("txt")
        return (
            exploded.withColumn("_n", F.count("*").over(w_all))
            .withColumn("_rn", F.row_number().over(w_rank))
            .where(F.col("_rn") <= top_k)
            .groupBy("doc_id")
            .agg(
                F.max("_n").cast("bigint").alias("n_inbound"),
                F.array_join(
                    F.sort_array(F.collect_list("txt")), " | "
                ).alias("anchor_texts"),
            )
        )
    if merge != "salted":
        raise ValueError(f"merge must be 'salted' or 'window', got {merge!r}")
    lvl1 = (
        exploded.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("src")), F.lit(n_salts))
        )
        .groupBy("doc_id", "_salt")
        .agg(
            F.count("*").alias("_cnt"),
            F.slice(F.sort_array(F.collect_list("txt")), 1, top_k).alias(
                "_txts"
            ),
        )
    )
    return lvl1.groupBy("doc_id").agg(
        F.sum("_cnt").cast("bigint").alias("n_inbound"),
        F.array_join(
            F.slice(
                F.sort_array(F.flatten(F.collect_list("_txts"))), 1, top_k
            ),
            " | ",
        ).alias("anchor_texts"),
    )


def anchor_text_cap_audit(
    html_df: DataFrame, *, html_col: str = "html", top_k: int = ANCHOR_TOP_K
) -> DataFrame:
    """ONE row: how much the ``top_k`` cap of :func:`inbound_anchor_texts`
    truncates — (cap_name, cap_value, dropped_groups = targets truncated,
    dropped_rows = anchor texts cut).  Reuses the exact pair stream the
    operator aggregates; schema/zero-row semantics pinned by the shared
    :func:`audit.cap_drop_audit_row` (the dedup audit family's
    contract)."""
    from cloud_ocr_summarizer_spark.operators.audit import cap_drop_audit_row

    sizes = _anchor_pairs(html_df, html_col=html_col).groupBy("doc_id").agg(
        F.count("*").alias("_n")
    )
    return cap_drop_audit_row(
        sizes.filter(F.col("_n") > top_k),
        cap_name="anchor_texts_top_k",
        cap_value=top_k,
        dropped_rows=F.col("_n") - top_k,
    )


# KMV-ball harmonic centrality (HyperBall structure, Boldi & Vigna
# "In-Core Computation of Geometric Centralities with HyperBall", with
# the HLL counter swapped for a k-minimum-values sketch so every state
# cell is an exact integer — the repo's cross-engine policy; HLL's
# harmonic-mean estimate is float and engine-fragile, KMV's
# ((k-1)*M) div kth_min is pure integer division).
KMV_K = 8


def _merge_ball_sketches(
    cur: DataFrame,
    edges: DataFrame,
    *,
    k: int,
    n_salts: int,
    merge: str = "salted",
) -> DataFrame:
    """One HyperBall round's sketch merge, hot-key state controlled.

    ``merge="salted"`` (default) pre-reduces per (dst, salt(src)) to
    the k smallest distinct hashes before the per-dst merge — the
    per-key aggregation buffer is in_degree/n_salts × k at level 1 and
    n_salts × k at level 2, never in_degree × k.  This is a
    CONSTANT-FACTOR relief (n_salts×), not a hard bound: an extreme
    power-law node still concentrates in_degree/n_salts×k values in
    one level-1 buffer.

    ``merge="window"`` is the fully bounded formulation for that
    regime: explode the joined sketches to (dst, hash) rows, distinct
    (a hash aggregate whose per-group state is O(1) and map-side
    combinable), then row_number <= k over a (dst ORDER BY hash)
    window — sort state SPILLS via the ExternalSorter for a hot key
    instead of growing an in-memory buffer, and the reassembly after
    the filter holds <= k rows per key.  Same shuffle volume (k
    hashes per inbound edge either way), plus a per-partition sort.

    min-k over distinct values is associative, so both are
    bit-identical to a single-level merge (pytest-pinned).  Factored
    out of the iteration loop so the plan shape is directly assertable
    (the loop cuts each round with localCheckpoint, which truncates
    the inspectable plan)."""
    empty = F.array().cast("array<bigint>")

    def _min_k_distinct(col_of_lists):
        return F.slice(
            F.array_sort(F.array_distinct(F.flatten(col_of_lists))), 1, k
        )

    joined = edges.join(
        cur.select(F.col("doc_id").alias("_u"), "sketch"),
        edges.src_doc_id == F.col("_u"),
    )
    if merge == "window":
        w_rank = Window.partitionBy("doc_id").orderBy("_h")
        nbr = (
            joined.select(
                F.col("dst_doc_id").alias("doc_id"),
                F.explode("sketch").alias("_h"),
            )
            .dropDuplicates(["doc_id", "_h"])
            .withColumn("_rn", F.row_number().over(w_rank))
            .where(F.col("_rn") <= k)
            .groupBy("doc_id")
            .agg(F.array_sort(F.collect_list("_h")).alias("_nbr"))
        )
    elif merge == "salted":
        pre = joined.groupBy(
            F.col("dst_doc_id").alias("doc_id"),
            F.pmod(F.xxhash64(F.col("_u")), F.lit(n_salts)).alias("_salt"),
        ).agg(_min_k_distinct(F.collect_list("sketch")).alias("_s1"))
        nbr = pre.groupBy("doc_id").agg(
            _min_k_distinct(F.collect_list("_s1")).alias("_nbr")
        )
    else:
        raise ValueError(f"merge must be 'salted' or 'window', got {merge!r}")
    return cur.join(nbr, "doc_id", "left").select(
        "doc_id",
        "est",
        "harmonic_milli",
        F.slice(
            F.array_sort(
                F.array_distinct(
                    F.concat(F.col("sketch"), F.coalesce("_nbr", empty))
                )
            ),
            1,
            k,
        ).alias("sketch"),
    )


def harmonic_centrality_kmv(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    k: int = KMV_K,
    n_iter: int = 3,
    n_salts: int = 16,
    merge: str = "salted",
) -> DataFrame:
    """Approximate harmonic centrality via iterated KMV ball sketches.

    Ball t of node v = nodes within t hops ALONG INCOMING edges (who
    can reach v — the direction harmonic centrality counts).  Each node
    carries the k smallest 31-bit hashes of its ball; one iteration is

      sketch'(v) = first k of sort(distinct(sketch(v) ∪ ⋃_{(u,v)∈E} sketch(u)))

    — an edges⋈sketches join + a TWO-LEVEL groupBy merge.  The result
    state is bounded at k BIGINTs per node regardless of ball size (the
    100-TB property; exact BFS frontiers are corpus-sized per node) —
    and so is the merge: a naive per-dst ``flatten(collect_list)``
    would buffer in_degree×k values on a hot node (web in-degree is
    power-law — the exact failure HyperBall's in-place counter merge
    avoids), so the merge pre-reduces per (dst, salt(src)) to the k
    smallest distinct hashes (buffer <= in_degree/n_salts × k), then
    merges the <= n_salts×k survivors per dst.  min-k over distinct
    values is associative, so the two-level result is bit-identical to
    the single-level merge (pytest-pinned against a pure-Python
    recurrence); same pattern as sketch.kmv_distinct's map-side prune.
    The salting is a constant-factor (n_salts×) relief; for extreme
    power-law in-degree pass ``merge="window"`` — the spill-bounded
    sort formulation (see :func:`_merge_ball_sketches`), bit-identical.

    Ball-size estimate est_t = |sketch| while < k (exact), else
    ((k-1)*M) div kth_min — all integer.  harmonic_milli =
    Σ_t max(0, est_t - est_{t-1}) * 1000 div t, the discrete harmonic
    sum over newly reached nodes.  Output: (doc_id, n_reached_est,
    harmonic_milli), byte-stable across engines and partitionings;
    DuckDB twin is a generated chain of MATERIALIZED CTEs
    (ORACLES["harmonic_centrality"]).
    """
    from cloud_ocr_summarizer_spark.functions.hashing import (
        M31,
        md5_hash31_col,
    )

    # single precomputed BIGINT literal: (k-1) * M31 written as an
    # int-literal product would multiply as INT and THROW under ANSI
    num = (k - 1) * M31
    est_t = F.when(
        F.size("sketch") < k, F.size("sketch").cast("bigint")
    ).otherwise(F.expr(f"{num} div element_at(sketch, {k})"))

    def step(i, cur, edges):
        stepped = _merge_ball_sketches(
            cur, edges, k=k, n_salts=n_salts, merge=merge
        ).select(
            "doc_id",
            "sketch",
            "harmonic_milli",
            est_t.alias("_est_t"),
            (F.greatest(F.lit(0).cast("bigint"), est_t - F.col("est")) * 1000)
            .alias("_gain_milli"),
        )
        return stepped.select(
            "doc_id",
            "sketch",
            F.col("_est_t").alias("est"),
            (
                F.col("harmonic_milli") + F.expr(f"_gain_milli div {i + 1}")
            ).alias("harmonic_milli"),
        )

    cur = iterate_rounds(
        [(edges, "src_doc_id")],
        lambda edges: nodes.select(
            "doc_id",
            F.array(md5_hash31_col(F.col("doc_id"))).alias("sketch"),
            F.lit(1).cast("bigint").alias("est"),
            F.lit(0).cast("bigint").alias("harmonic_milli"),
        ),
        step,
        rounds=n_iter,
    )
    return cur.select("doc_id", F.col("est").alias("n_reached_est"), "harmonic_milli")


def _half_step(
    state: DataFrame,
    edges: DataFrame,
    *,
    pull: str,
    into: str,
    join_on: str,
    group_on: str,
) -> DataFrame:
    """One HITS half-step over the (doc_id, auth_micro, hub_micro) state:
    pull column ``pull`` across the edges from ``join_on`` to
    ``group_on``, sum per target, then rescale so the max lands in
    (500_000, 1_000_000] — integer division by ``max_raw div 10^6 + 1``,
    so no multiplication ever happens and the raw sums (<= E * 10^6,
    < 2^63 through 10^12 edges) are the largest values in the job.  The
    result replaces column ``into`` for every node (absent = 0)."""
    raw = (
        edges.join(state, edges[join_on] == state.doc_id)
        .select(F.col(group_on).alias("doc_id"), F.col(pull).alias("score"))
        .groupBy("doc_id")
        .agg(F.sum("score").alias("raw"))
    )
    scale = raw.agg(
        F.coalesce(F.max("raw"), F.lit(0).cast("bigint")).alias("_mx")
    ).select((F.expr("_mx div 1000000") + 1).alias("_s"))
    new = F.expr("coalesce(raw, 0) div _s")
    return (
        state.join(raw, "doc_id", "left")
        .crossJoin(F.broadcast(scale))
        .select(
            "doc_id",
            *(new.alias(c) if c == into else c for c in ("auth_micro", "hub_micro")),
        )
    )


def hits_scores(
    nodes: DataFrame, edges: DataFrame, *, n_iter: int = 3
) -> DataFrame:
    """Fixed-iteration integer HITS -> (doc_id, auth_micro, hub_micro).

    Kleinberg's hubs-and-authorities recurrence in micro-units: every
    hub score starts at 10^6; round k sets

      auth_k(v) = (Σ_{(u,v)∈E} hub_{k-1}(u)) div s_a
      hub_k(u)  = (Σ_{(u,v)∈E} auth_k(v))   div s_h

    where each normalizer ``s = max_raw div 10^6 + 1`` rescales the max
    back into (500_000, 1_000_000] WITHOUT any multiplication — the
    usual L2 normalization is float; dividing by a max-derived integer
    keeps every value BIGINT-exact so the cross-engine hash is
    byte-stable and the result is partitioning-independent (integer
    sums are order-free).  Complements PageRank for curation: PageRank
    ranks endorsement flow, HITS separates directories/link-hubs
    (high hub) from canonical content (high auth) — the classic pair of
    crawl-quality priors.

    Scale: each half-step is one :func:`iterate_rounds` round:
    edges⋈state (key-partitioned shuffle, or a broadcast of the
    node-sized state where AQE picks one) + groupBy target
    (constant-size SUM buffers — no hot-key state, unlike a
    collect_list) + a node-sized left join + a 1-row broadcast for the
    normalizer.  The edges are not pinned: the two pulls join on
    different keys, and two pinned copies (one per key) measured slower
    than the per-round edge shuffle at 300k docs on local[4].  Raw sums
    <= E * 10^6 hold in BIGINT through 10^12 edges.  n_iter=0 returns
    the init vector (both scores 10^6).  DuckDB twin: generated
    MATERIALIZED-CTE chain (ORACLES["hits_scores"]).
    """
    halves = (
        dict(pull="hub_micro", into="auth_micro", join_on="src_doc_id",
             group_on="dst_doc_id"),
        dict(pull="auth_micro", into="hub_micro", join_on="dst_doc_id",
             group_on="src_doc_id"),
    )
    init = F.lit(INIT_MICRO).cast("bigint")
    return iterate_rounds(
        [],
        # a fresh doc_id attribute: edges derived from ``nodes`` share its
        # doc_id, and the self-join rewrite then differs between the two
        # reads of a half-step's sums, so their shuffle is not reused and
        # the edges are derived twice per half-step
        lambda: nodes.select(
            F.col("doc_id").alias("doc_id"),
            init.alias("auth_micro"),
            init.alias("hub_micro"),
        ),
        lambda i, state: _half_step(state, edges, **halves[i % 2]),
        rounds=2 * n_iter,
    )


def _min_label_round(labels: DataFrame, und: DataFrame) -> DataFrame:
    """label'(v) = min(label(v), min over neighbors u of label(u))."""
    nmin = (
        und.join(labels, und.src_doc_id == labels.doc_id)
        .select(F.col("dst_doc_id").alias("doc_id"), F.col("label").alias("nl"))
        .groupBy("doc_id")
        .agg(F.min("nl").alias("nmin"))
    )
    return labels.join(nmin, "doc_id", "left").select(
        "doc_id",
        F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias(
            "label"
        ),
    )


def min_labels(
    edges: DataFrame,
    node_ids: DataFrame | None = None,
    *,
    rounds: int,
    converge: bool = False,
) -> DataFrame:
    """Weakly-connected components by min-label -> (doc_id, label).

    Labels start at doc_id; each round every node takes the min label
    among itself and its undirected neighbors (the simplified small-star
    step of Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014), so labels reach the component minimum in at
    most diameter rounds.  ``edges`` (src_doc_id, dst_doc_id) is read as
    undirected: edges ∪ reverse(edges) distinct, pinned on src once.
    ``node_ids`` (doc_id) defaults to the nodes the edges touch.  Fixed
    mode runs ``rounds`` rounds; ``converge=True`` stops at a round that
    changes no label and raises when ``rounds`` run out first
    (:func:`iterate_rounds`).  Labels only decrease, so values stay in
    the doc_id domain — no overflow concern at any scale.
    """
    und = (
        edges.select("src_doc_id", "dst_doc_id")
        .unionByName(
            edges.select(
                F.col("dst_doc_id").alias("src_doc_id"),
                F.col("src_doc_id").alias("dst_doc_id"),
            )
        )
        .distinct()
    )

    def init(und: DataFrame) -> DataFrame:
        ids = node_ids
        if ids is None:
            ids = und.select(F.col("src_doc_id").alias("doc_id")).distinct()
        return ids.select("doc_id", F.col("doc_id").alias("label"))

    return iterate_rounds(
        [(und, "src_doc_id")],
        init,
        lambda i, labels, und: _min_label_round(labels, und),
        rounds=rounds,
        converge=converge,
    )


def link_components(
    nodes: DataFrame, edges: DataFrame, *, n_iter: int = 4
) -> DataFrame:
    """Fixed-iteration weakly-connected components by min-label.

    -> (doc_id, component_id): :func:`min_labels` after ``n_iter``
    rounds, labels initialized to doc_id.  The crawl-side twin of
    ``dedup.duplicate_clusters`` (the same function run to convergence
    on near-dup pair edges): component structure drives crawl sharding
    and mirror/site-family detection.  Fixed rounds instead of a
    convergence loop make the intermediate state a pure function of the
    input, so the DuckDB chained-CTE twin matches BIT-EXACTLY even on
    graphs whose diameter exceeds ``n_iter`` (labels are then not yet
    fully propagated on both sides alike — documented semantics, not an
    approximation mismatch).
    """
    return min_labels(edges, nodes.select("doc_id"), rounds=n_iter).select(
        "doc_id", F.col("label").alias("component_id")
    )
