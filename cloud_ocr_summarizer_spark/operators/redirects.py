"""HTTP redirect-chain resolution over a crawl ledger.

A crawler's fetch ledger records one ``Location`` edge per redirecting
URL (``src_url``, ``http_status`` in {301, 302, 307, 308}, ``dst_url``).
Frontier planning needs every chain collapsed to its terminal URL —
bounded hops, loop detection, nothing silently dropped.  This is the
redirect half of URL canonicalization (``urls.canonicalize_url_col``
normalizes the string form; this module follows the server-declared
moves).

Reference tie-in: the reference pipeline (vision_processor.py:146-326)
consumes already-fetched objects; redirect resolution belongs to the
crawl/curation surface the north rule adds around it, same tier as the
robots.txt gate and the sitemap/WARC parsers.

Scale design:
  - Resolution is ``max_hops + 1`` equi-joins (state.cur -> edges.src),
    each a key-partitioned shuffle.  The probe side carries one row per
    origin URL with O(max_hops) state (the bounded ``visited`` array) —
    never chain-corpus-sized.
  - The build side (``edges``) has UNIQUE join keys by contract (one
    ``Location`` per URL), so a hot canonical target — millions of
    sources 301-ing into one URL — fans in on the VALUE side only; no
    join key ever multiplies.  The power-law fan-in that hot-keys
    anchor aggregation is a non-event here.
  - ``edges`` is iteration-invariant, so the graph loops' pinning
    (``linkgraph._pin``: partition and sort the side on its join key
    and persist it once) applies verbatim when ``max_hops`` is large;
    at the default 4 hops the plain loop shuffles the state side only
    after AQE reuses the first edge exchange.
  - No ``collect``; loops/truncations surface as ``status`` values and
    are COUNTED by :func:`redirect_audit`, never silently dropped
    (the ``warc_malformed_audit`` policy).

Synthesis (datagen convention — every field re-derivable from doc_id
arithmetic, so the DuckDB twin derives the RESOLVED RESULT in closed
form without ever running the algorithm):
  residue r = doc_id % 8 picks the chain shape —
  r=0, r=7: terminal (no edge); r=1/2/3: chains of 1/2/3 hops down to
  the r=0 terminal (statuses 301/302/301); r=4: self-loop (308);
  r=5: edge to doc_id+1 (307) whose r=6 edge points back — a 2-cycle
  (unless doc_id is the corpus max, where the dangling target makes it
  a 1-hop terminal); r=6: edge to doc_id-1 (301), the other entry into
  the same 2-cycle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.column import Column

REDIRECT_MAX_HOPS = 4

_STATUS_OK = "ok"
_STATUS_LOOP = "loop"
_STATUS_TRUNCATED = "truncated"


def _rurl(doc_id: Column) -> Column:
    """Ledger URL for a doc id — pure doc_id arithmetic (twin-derivable)."""
    return F.concat(
        F.lit("http://r"),
        (doc_id % 10).cast("string"),
        F.lit(".example.net/p/"),
        doc_id.cast("string"),
    )


def _chain_dst_status(
    r: Column, prev: Column, self_: Column, nxt: Column
) -> tuple[Column, Column]:
    """The ONE residue scheme (see module docstring), parameterized by
    the prev/self/next destination expressions — shared by the
    document-space and frontier-space ledger synthesizers so the two
    can never desynchronize from their closed-form oracles."""
    dst = (
        F.when(r.isin(1, 2, 3, 6), prev)
        .when(r == 4, self_)
        .when(r == 5, nxt)
    )
    status = (
        F.when(r.isin(1, 3, 6), F.lit(301))
        .when(r == 2, F.lit(302))
        .when(r == 4, F.lit(308))
        .when(r == 5, F.lit(307))
    )
    return dst, status


def derive_redirects_from_documents(docs: DataFrame) -> DataFrame:
    """documents -> (src_url, http_status, dst_url) redirect ledger.

    One edge per doc whose residue class redirects (see module
    docstring).  Map-only: no joins, no shuffles — dst URLs are
    computed from arithmetic, not looked up.
    """
    d = F.col("doc_id")
    r = d % 8
    dst_id, status = _chain_dst_status(r, d - 1, d, d + 1)
    return docs.where(r.isin(1, 2, 3, 4, 5, 6)).select(
        _rurl(d).alias("src_url"),
        status.alias("http_status"),
        _rurl(dst_id).alias("dst_url"),
    )


def resolve_redirects(
    edges: DataFrame,
    urls: DataFrame | None = None,
    *,
    max_hops: int = REDIRECT_MAX_HOPS,
) -> DataFrame:
    """Collapse every chain to (url, final_url, n_hops, status).

    ``edges`` must hold ONE outgoing edge per ``src_url`` (a URL serves
    one ``Location``); ``urls`` defaults to the distinct redirect
    sources.  ``n_hops`` counts edges followed, INCLUDING the edge that
    revealed a loop; ``status`` is ``'ok'`` (reached a URL with no
    outgoing edge), ``'loop'`` (next URL already on the bounded
    ``visited`` path — ``final_url`` is the loop entry), or
    ``'truncated'`` (an edge still exists after ``max_hops``).

    Plan shape: ``max_hops`` advance joins plus one probe join, all on
    the unique-key edge side; per-row state is O(max_hops).
    """
    e = edges.select(
        F.col("src_url").alias("_src"), F.col("dst_url").alias("_dst")
    )
    if urls is None:
        state = e.select(F.col("_src").alias("url")).distinct()
    else:
        state = urls.select(F.col("url").cast("string").alias("url"))
    state = state.select(
        "url",
        F.col("url").alias("final_url"),
        F.lit(0).alias("n_hops"),
        F.array(F.col("url")).alias("visited"),
    )
    out_cols = ["url", "final_url", F.col("n_hops").cast("int").alias("n_hops")]
    done_parts = []
    for _ in range(max_hops):
        # EARLY EXIT: only still-open chains enter the next hop join.
        # Finished rows (terminal reached, loop closed) leave the loop
        # here, so a hot canonical target — where every chain collapses
        # onto ONE url after its first hop — is joined on the shared
        # key for exactly one detection hop, never dragged through the
        # remaining hops as single-partition dead weight.
        j = state.join(e, state["final_url"] == e["_src"], "left")
        advanced = F.col("_dst").isNotNull()
        looped = advanced & F.array_contains(F.col("visited"), F.col("_dst"))
        step = j.select(
            "url",
            F.when(advanced, F.col("_dst"))
            .otherwise(F.col("final_url"))
            .alias("final_url"),
            F.when(advanced, F.col("n_hops") + 1)
            .otherwise(F.col("n_hops"))
            .alias("n_hops"),
            F.when(
                advanced & ~looped,
                F.array_append(F.col("visited"), F.col("_dst")),
            )
            .otherwise(F.col("visited"))
            .alias("visited"),
            F.when(looped, F.lit(_STATUS_LOOP))
            .when(~advanced, F.lit(_STATUS_OK))
            .alias("status"),
        )
        done_parts.append(
            step.where(F.col("status").isNotNull()).select(
                *out_cols, "status"
            )
        )
        state = step.where(F.col("status").isNull()).drop("status")
    probe = state.join(e, state["final_url"] == e["_src"], "left").select(
        *out_cols,
        F.when(F.col("_dst").isNotNull(), F.lit(_STATUS_TRUNCATED))
        .otherwise(F.lit(_STATUS_OK))
        .alias("status"),
    )
    result = probe
    for part in done_parts:
        result = result.unionByName(part)
    return result


def redirect_audit(resolved: DataFrame) -> DataFrame:
    """(status, n_hops) -> chain count + distinct terminals.

    The observability row for the family: loops and truncations are
    COUNTED, never dropped — the cap/malformed-audit policy shared with
    ``warc_malformed_audit`` and the dedup drop audits.
    """
    return resolved.groupBy("status", "n_hops").agg(
        F.count("*").alias("n_chains"),
        F.countDistinct("final_url").alias("n_final_urls"),
    )


def dedup_ledger(edges: DataFrame) -> DataFrame:
    """Enforce the one-Location-per-URL contract DETERMINISTICALLY.

    A malformed ledger (two Location rows for one src — conflicting
    fetches, duplicated shards) would silently MULTIPLY state rows at
    every hop of :func:`resolve_redirects`.  This keeps the
    lexicographically-least (dst_url, http_status) per src — min_by on
    a struct, so the survivor is a pure function of the input (never
    partition order).  One edge-shuffle, paid once; Catalyst reuses
    the aggregated exchange across the resolution's hop joins.
    """
    return edges.groupBy("src_url").agg(
        F.min(F.struct("dst_url", "http_status")).alias("_m")
    ).select(
        "src_url",
        F.col("_m.http_status").alias("http_status"),
        F.col("_m.dst_url").alias("dst_url"),
    )


def redirect_ledger_audit(edges: DataFrame) -> DataFrame:
    """One row: ledger size vs distinct sources vs contract violations.

    ``n_multi_src`` counts URLs carrying MORE than one Location row —
    the rows :func:`dedup_ledger` would collapse.  Read this before
    resolving: a nonzero count means the fetch pipeline upstream wrote
    conflicting records (the warc_malformed_audit policy — violations
    are counted, never silently absorbed)."""
    per_src = edges.groupBy("src_url").agg(F.count("*").alias("_n"))
    return per_src.agg(
        F.sum("_n").cast("bigint").alias("n_edges"),
        F.count("*").alias("n_src_urls"),
        F.sum(F.when(F.col("_n") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_multi_src"),
    )


def derive_redirects_from_parsed_urls(parsed_urls: DataFrame) -> DataFrame:
    """parse_urls output -> a redirect ledger in the FRONTIER URL space.

    Same residue scheme as :func:`derive_redirects_from_documents`, but
    over the canonical URL synthesis (urls.py) so the resolution can
    join back onto crawl-planning rows.  Neighbor URLs come from 1:1
    self-joins on doc_id +- 1 (synthesis-only shuffles); a neighbor the
    corpus does not hold means the crawler never recorded that Location
    — the edge row is simply absent (NULL-dst rows are filtered, so the
    corpus-max r=5 doc is neither an edge nor a seed here).
    """
    u = parsed_urls.select("doc_id", "url")
    prev = u.select((F.col("doc_id") + 1).alias("doc_id"), F.col("url").alias("_prev"))
    nxt = u.select((F.col("doc_id") - 1).alias("doc_id"), F.col("url").alias("_next"))
    d = F.col("doc_id")
    r = d % 8
    dst, status = _chain_dst_status(
        r, F.col("_prev"), F.col("url"), F.col("_next")
    )
    return (
        u.join(prev, "doc_id", "left")
        .join(nxt, "doc_id", "left")
        .where(r.isin(1, 2, 3, 4, 5, 6) & dst.isNotNull())
        .select(
            F.col("url").alias("src_url"),
            status.alias("http_status"),
            dst.alias("dst_url"),
        )
    )


def frontier_redirect_rollup(
    parsed_urls: DataFrame, resolved: DataFrame
) -> DataFrame:
    """Fold server-declared moves into frontier planning, per host.

    Each frontier URL LEFT-joins the resolution (1:1 — resolved carries
    one row per redirect source): a miss means the URL serves content
    where it stands; a 'loop' or 'truncated' chain is dropped from the
    fetch plan but COUNTED.  Output per host: URLs planned, how many
    arrived via a redirect rewrite, and how many chains were dropped —
    the redirect half of the crawl_frontier budget inputs.

    Shuffle inventory: the url equi-join (unique keys both sides) +
    the host aggregate — the crawl_frontier two-exchange shape.
    """
    j = parsed_urls.select("doc_id", "host", "url").join(
        resolved.select(
            F.col("url").alias("_ru"),
            F.col("final_url").alias("_final"),
            F.col("status").alias("_status"),
        ),
        F.col("url") == F.col("_ru"),
        "left",
    )
    ok_redirect = F.col("_status") == "ok"
    dropped = F.col("_status").isin("loop", "truncated")
    return j.groupBy("host").agg(
        F.count("*").alias("n_urls"),
        F.sum(F.when(ok_redirect, 1).otherwise(0))
        .cast("bigint")
        .alias("n_rewritten"),
        F.sum(F.when(dropped, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dropped_chains"),
        F.countDistinct(
            F.when(~F.coalesce(dropped, F.lit(False)), F.coalesce(F.col("_final"), F.col("url")))
        ).alias("n_fetch_targets"),
    )
