"""DuckDB SQL twins for plans/queries.py — the driver's correctness gate.

Each SQL string runs on DuckDB views named after the parquet tables
(documents, events, lineitem, ...).  The derived-spans CTE mirrors
datagen.derive_spans_from_documents 1:1 — keep them in lockstep.

Type conventions (to match Spark output schemas):
* counts from F.count -> BIGINT (DuckDB count(*) already is);
* sums of ints -> CAST(... AS BIGINT) (DuckDB sum() returns HUGEINT);
* F.size / row_number seq -> CAST(... AS INT);
* rounded doubles -> round(x, n) both sides;
* timestamps compared as epoch microseconds (engine-TZ-proof).
"""

# Mirrors derive_spans_from_documents (datagen.py): 8-word chunks, every
# (doc_id*31 + i) % 4 == 0 span is media, extensions rotate png/jpg/bin.
SPANS_CTE = r"""
WITH __base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS words
  FROM documents
), __spans AS (
  SELECT doc_id, s.off AS off, s.is_media AS is_media,
         CASE WHEN s.is_media THEN NULL ELSE s.chunk END AS text,
         CASE WHEN s.is_media THEN 'gs://corpus/' || doc_id || '/' || s.off ||
              CASE s.off % 3 WHEN 0 THEN '.png' WHEN 1 THEN '.jpg' ELSE '.bin' END
         END AS media_ref,
         CASE WHEN s.is_media THEN 'PICTURE' ELSE 'TEXT' END AS kind
  FROM (
    SELECT doc_id,
           unnest(list_transform(range((len(words) + 7) // 8),
             i -> struct_pack(
                  off := CAST(i AS INT),
                  is_media := ((doc_id * 31 + i) % 4 = 0),
                  chunk := array_to_string(words[i*8+1 : i*8+8], ' ')))) AS s
    FROM __base
  )
)
"""

_TOKENS = r"len(list_filter(regexp_split_to_array({col}, '\s+'), w -> w <> ''))"

# normalized text (mirrors functions.text.normalize_block_text_col)
_NORM = (
    r"regexp_replace(regexp_replace("
    r"array_to_string(list_transform(string_split({col}, chr(10)),"
    r" p -> array_to_string(list_filter(regexp_split_to_array(p, '\s+'),"
    r" w -> w <> ''), ' ')), chr(10)),"
    r" '^\s+', ''), '\s+$', '')"
)

ORACLES: dict[str, str] = {}

def _quality_bp_sql(words: str, text: str) -> str:
    """The ONE SQL rendering of textstats.quality_score_col's integer-bp
    formula, parameterized on the words-list and text expressions —
    spliced into every oracle that scores quality so the three mirrors
    (curation, dedup_keep_best, domain_quality_rollup) cannot drift
    from each other.  Keep in lockstep with the Spark formula."""
    return (
        f"CAST(floor((0.4 * least(len({words}) / 100.0, 1.0)\n"
        f"      + 0.3 * (1 - CASE WHEN length({text}) > 0\n"
        f"           THEN (length({text}) - length(regexp_replace({text},"
        " '[^A-Za-z0-9\\s]', '', 'g')))"
        f" / length({text})\n"
        f"           ELSE 0.0 END)\n"
        f"      + 0.3 * least((CASE WHEN len({words}) > 0\n"
        f"           THEN list_sum(list_transform({words}, _c -> length(_c)))"
        f" / len({words})\n"
        f"           ELSE 0.0 END) / 8.0, 1.0)) * 10000) AS INT)"
    )



ORACLES["extract_flagship"] = SPANS_CTE + r"""
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY off) AS INT) AS seq,
       kind, text, media_ref, off AS "offset"
FROM __spans
"""

ORACLES["assemble_normalize"] = (
    r"""
SELECT doc_id,
       regexp_replace(regexp_replace(
         array_to_string(list_transform(string_split(text, chr(10)),
           p -> array_to_string(list_filter(regexp_split_to_array(p, '\s+'),
                                            w -> w <> ''), ' ')), chr(10)),
         '^\s+', ''), '\s+$', '') AS clean_text,
       CAST("""
    + _TOKENS.format(col="text")
    + r""" AS INT) AS n_tokens
FROM documents
"""
)

ORACLES["doc_structure_stats"] = SPANS_CTE + (
    r"""
SELECT doc_id,
       count(*) AS n_spans,
       CAST(sum(CASE WHEN NOT is_media THEN 1 ELSE 0 END) AS BIGINT) AS n_text_spans,
       CAST(sum(CASE WHEN is_media THEN 1 ELSE 0 END) AS BIGINT) AS n_media_spans,
       CAST(sum(CASE WHEN text IS NOT NULL THEN """
    + _TOKENS.format(col="text")
    + r""" ELSE 0 END) AS BIGINT) AS n_tokens
FROM __spans
GROUP BY doc_id
"""
)

ORACLES["rollup_per_doc"] = SPANS_CTE + r"""
SELECT doc_id,
       CASE WHEN count(*) FILTER (WHERE text IS NOT NULL AND text <> '') > 1
            THEN string_agg(text, chr(10) ORDER BY off)
                 FILTER (WHERE text IS NOT NULL AND text <> '')
       END AS rollup_text,
       CAST(count(*) FILTER (WHERE text IS NOT NULL AND text <> '') AS INT)
            AS n_contributing
FROM __spans
GROUP BY doc_id
"""

ORACLES["mime_dispatch"] = SPANS_CTE + r"""
SELECT CASE lower(regexp_extract(media_ref, '(\.[^./]+)$', 1))
         WHEN '.png' THEN 'image/png'
         WHEN '.jpg' THEN 'image/jpeg'
         WHEN '.jpeg' THEN 'image/jpeg'
         WHEN '.pdf' THEN 'application/pdf'
         ELSE 'application/octet-stream'
       END AS mime,
       count(*) AS n_refs
FROM __spans
WHERE media_ref IS NOT NULL
GROUP BY 1
"""

ORACLES["size_gate"] = r"""
SELECT doc_id,
       CAST(strlen(text) AS INT) AS text_bytes,
       strlen(text) <= 1500 AS within_limit
FROM documents
"""

ORACLES["confidence_filter"] = SPANS_CTE + r"""
SELECT doc_id,
       count(*) AS n_kept,
       round(avg(conf), 4) AS avg_conf
FROM (SELECT doc_id, ((doc_id * 7 + off * 13) % 100) / 100.0 AS conf FROM __spans)
WHERE conf >= 0.7
GROUP BY doc_id
"""

ORACLES["primary_language_by_source"] = r"""
WITH per AS (
  SELECT source, lang, CAST(sum(n_chars) AS BIGINT) AS chars
  FROM documents GROUP BY 1, 2
)
SELECT source, lang AS primary_lang, chars
FROM (SELECT *, row_number() OVER (PARTITION BY source
          ORDER BY chars DESC, lang ASC) AS rn FROM per)
WHERE rn = 1
"""

ORACLES["pricing_summary"] = r"""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       floor((sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                      AS BIGINT)) + 50) / 100.0) / 100.0 AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

ORACLES["revenue_by_nation"] = r"""
SELECT n_name,
       round(sum(o_totalprice), 2) AS revenue,
       count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""

ORACLES["topk_orders_per_segment"] = r"""
SELECT c_mktsegment, CAST(rk AS INT) AS rank_in_segment, o_orderkey,
       round(o_totalprice, 2) AS o_totalprice
FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY c_mktsegment
             ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders JOIN customer ON o_custkey = c_custkey
)
WHERE rk <= 3
"""

ORACLES["orders_without_lineitems"] = r"""
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
"""

ORACLES["urgent_customers"] = r"""
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
"""

ORACLES["events_running_sum"] = r"""
SELECT user_id, event_id,
       round(sum(value) OVER w, 2) AS running_value,
       CAST(row_number() OVER w AS INT) AS event_seq,
       round(coalesce(lag(value) OVER w, 0.0), 2) AS prev_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""

ORACLES["events_sessionize"] = r"""
WITH marked AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
              OR date_diff('microsecond',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT user_id,
       CAST(sum(new_session) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM marked GROUP BY user_id
"""

ORACLES["event_type_pivot"] = r"""
SELECT user_id,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
FROM events GROUP BY user_id
"""

ORACLES["grouping_rollup"] = r"""
SELECT l_returnflag, l_linestatus,
       count(*) AS n_items,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""

ORACLES["value_quantiles"] = r"""
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       round(quantile_cont(value, 0.99), 4) AS p99
FROM events GROUP BY event_type
"""

ORACLES["union_kind_branches"] = SPANS_CTE + (
    r"""
SELECT kind, count(*) AS n_spans,
       CAST(sum(payload) AS BIGINT) AS total_payload
FROM (
  SELECT kind, doc_id, """
    + _TOKENS.format(col="text")
    + r""" AS payload FROM __spans WHERE NOT is_media
  UNION ALL
  SELECT kind, doc_id, strlen(media_ref) AS payload FROM __spans WHERE is_media
)
GROUP BY kind
"""
)

ORACLES["dedup_exact"] = (
    r"""
SELECT md5("""
    + _NORM.format(col="text")
    + r""") AS text_hash,
       count(*) AS n_docs,
       min(doc_id) AS keeper
FROM documents GROUP BY 1
"""
)

ORACLES["dedup_ngram_jaccard"] = r"""
WITH base AS (
  SELECT doc_id AS id, source AS blk,
         list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS words
  FROM documents
), grams0 AS (
  SELECT id, blk,
         unnest(list_distinct(list_transform(range(greatest(len(words) - 2, 0)),
             i -> array_to_string(words[i+1 : i+3], ' ')))) AS gram
  FROM base
), rare AS (
  -- gram document-frequency cap (mirrors max_gram_df=256 in the engine)
  SELECT gram, blk FROM grams0 GROUP BY gram, blk HAVING count(*) <= 256
), grams AS (
  SELECT g.id, g.blk, g.gram FROM grams0 g JOIN rare USING (gram, blk)
), sizes AS (
  SELECT id, count(*) AS n_grams FROM grams GROUP BY id
), pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.blk = b.blk AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(inter / (sa.n_grams + sb.n_grams - inter), 4) AS jaccard
FROM pairs
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE round(inter / (sa.n_grams + sb.n_grams - inter), 4) >= 0.5
"""

_STOPWORDS_SQL = "['the','a','an','and','of','to','in','is','it','that']"

ORACLES["text_profile"] = (
    r"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS words,
         list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w <> '') AS lwords
  FROM documents
), scored AS (
  SELECT doc_id,
         CAST(len(words) AS INT) AS n_tokens,
         CASE WHEN len(lwords) > 0
              THEN round(len(list_filter(lwords, w -> list_contains("""
    + _STOPWORDS_SQL
    + r""", w))) / len(lwords), 4)
              ELSE 0.0 END AS stopword_ratio,
         CASE WHEN length(text) > 0
              THEN (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))) / length(text)
              ELSE 0.0 END AS punct_ratio,
         CASE WHEN len(words) > 0
              THEN list_sum(list_transform(words, w -> length(w))) / len(words)
              ELSE 0.0 END AS avg_word_len,
         len(words) AS nt,
         md5("""
    + _NORM.format(col="text")
    + r""")[1:16] AS fingerprint
  FROM base
)
SELECT doc_id, n_tokens, stopword_ratio,
       stopword_ratio >= 0.05 AS looks_english,
       CAST(floor((0.4 * least(nt / 100.0, 1.0) + 0.3 * (1 - punct_ratio)
             + 0.3 * least(avg_word_len / 8.0, 1.0)) * 10000) AS INT) AS quality_score,
       fingerprint
FROM scored
"""
)

ORACLES["token_stats_by_source"] = (
    r"""
SELECT source,
       CAST(sum("""
    + _TOKENS.format(col="text")
    + r""") AS BIGINT) AS total_tokens,
       round(avg("""
    + _TOKENS.format(col="text")
    + r""") , 4) AS avg_tokens,
       count(*) AS n_docs
FROM documents GROUP BY source
"""
)

_COS = (
    "round(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 4)"
)

ORACLES["knn_bruteforce"] = (
    r"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
           FROM embeddings WHERE vec_id < 10),
     c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce
           FROM embeddings WHERE vec_id >= 10),
     sims AS (SELECT query_id, neighbor_id, """
    + _COS.format(a="qe", b="ce")
    + r""" AS cosine FROM q, c)
SELECT query_id, CAST(rk AS INT) AS "rank", neighbor_id, cosine
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, neighbor_id ASC) AS rk FROM sims)
WHERE rk <= 5
"""
)

ORACLES["embedding_neardup"] = (
    r"""
WITH v0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
     okb AS (
       -- block-size cap mirrors max_block_size=65536 in the engine
       SELECT label FROM v0 GROUP BY label
       HAVING count(*) > 1 AND count(*) <= 65536),
     v AS (SELECT v0.* FROM v0 JOIN okb USING (label))
SELECT a.vec_id AS id_a, b.vec_id AS id_b, """
    + _COS.format(a="a.e", b="b.e")
    + r""" AS cosine
FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE """
    + _COS.format(a="a.e", b="b.e")
    + r""" >= 0.3
"""
)

# the Arrow extraction twin shares the flagship's contract and oracle
ORACLES["extract_flagship_arrow"] = ORACLES["extract_flagship"]
# ... and the fused extract+classify shares main_content's (set below)

# flagship rows re-used as a CTE for UDF-stage twins
_FLAGSHIP_ROWS = r"""
, __rows AS (
  SELECT doc_id,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY off) AS INT) AS seq,
         kind, text, media_ref, off AS "offset"
  FROM __spans
)
"""

ORACLES["main_content"] = SPANS_CTE + _FLAGSHIP_ROWS + r"""
, scored AS (
  SELECT doc_id, seq, kind, text, media_ref, "offset",
         len(list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'),
                         w -> w <> '')) AS nt,
         len(list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'),
                         w -> w <> '' AND (contains(w, '://') OR starts_with(w, 'http'))))
             AS links,
         length(coalesce(text, '')) AS nc,
         length(regexp_replace(coalesce(text, ''), '[A-Za-z0-9\s]', '', 'g')) AS np
  FROM __rows
), bp AS (
  SELECT *,
         CASE WHEN media_ref IS NOT NULL THEN 10000
              ELSE CAST(floor((
                   0.5 * least(nt / 40.0, 1.0)
                 + 0.3 * (1 - CASE WHEN nt > 0 THEN links / CAST(nt AS DOUBLE) ELSE 0.0 END)
                 + 0.2 * (1 - CASE WHEN nc > 0 THEN np / CAST(nc AS DOUBLE) ELSE 0.0 END)
               ) * 10000) AS INT)
         END AS content_score
  FROM scored
)
SELECT doc_id, seq, kind, text, media_ref, "offset", content_score,
       (media_ref IS NOT NULL OR (content_score >= 5000 AND nt >= 3)) AS is_content
FROM bp
WHERE media_ref IS NOT NULL OR (content_score >= 5000 AND nt >= 3)
"""

ORACLES["media_features"] = SPANS_CTE + r"""
SELECT doc_id, media_ref,
       CASE WHEN lower(regexp_extract(media_ref, '(\.[^./]+)$', 1))
                 IN ('.png', '.jpg', '.jpeg')
            THEN 'image' ELSE 'other' END AS media_kind,
       CAST(64 + (7 * strlen(media_ref)) % 512 AS INT) AS width,
       CAST(64 + (11 * strlen(media_ref)) % 512 AS INT) AS height,
       CAST(CASE WHEN lower(regexp_extract(media_ref, '(\.[^./]+)$', 1))
                 IN ('.png', '.jpg', '.jpeg')
            THEN 1 ELSE 16 + strlen(media_ref) % 48 END AS INT) AS n_frames
FROM __spans
WHERE media_ref IS NOT NULL
"""

# Layout geometry: single-column page model — span k of n occupies the
# vertical band [(k-1)/n, k/n]; text spans x in [0.05, 0.95], media spans
# x in [0.30, 0.80].  Mirrors operators/extract._bbox_col exactly
# (same division expressions, so the doubles are bit-identical).
ORACLES["span_geometry"] = SPANS_CTE + r"""
, r AS (
  SELECT doc_id,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY off) AS INT) AS seq,
         count(*) OVER (PARTITION BY doc_id) AS n,
         kind, is_media, off
  FROM __spans
), g AS (
  SELECT doc_id, seq, kind, off,
         CAST(seq - 1 AS DOUBLE) / n AS y0,
         CAST(seq AS DOUBLE) / n AS y1,
         CASE WHEN is_media THEN 0.30 ELSE 0.05 END AS x0,
         CASE WHEN is_media THEN 0.80 ELSE 0.95 END AS x1
  FROM r)
SELECT doc_id, seq, kind, off AS "offset",
       round((x1 - x0) * (y1 - y0), 6) AS bbox_area,
       round((x0 + x1) / 2, 6) AS centroid_x,
       round((y0 + y1) / 2, 6) AS centroid_y
FROM g
"""
# the Arrow geometry twin emits the same derived scalars
ORACLES["span_geometry_arrow"] = ORACLES["span_geometry"]

# Pixel-space twin: deterministic page dims x the normalized box, floored.
ORACLES["span_geometry_px"] = SPANS_CTE + r"""
, r AS (
  SELECT doc_id,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY off) AS INT) AS seq,
         count(*) OVER (PARTITION BY doc_id) AS n,
         is_media
  FROM __spans
)
SELECT doc_id, seq,
       CAST(512 + (doc_id * 3) % 1024 AS INT) AS page_w,
       CAST(512 + (doc_id * 5) % 1024 AS INT) AS page_h,
       CAST(floor((CASE WHEN is_media THEN 0.30 ELSE 0.05 END)
                  * (512 + (doc_id * 3) % 1024)) AS INT) AS px0,
       CAST(floor((CASE WHEN is_media THEN 0.80 ELSE 0.95 END)
                  * (512 + (doc_id * 3) % 1024)) AS INT) AS px1,
       CAST(floor((CAST(seq - 1 AS DOUBLE) / n)
                  * (512 + (doc_id * 5) % 1024)) AS INT) AS py0,
       CAST(floor((CAST(seq AS DOUBLE) / n)
                  * (512 + (doc_id * 5) % 1024)) AS INT) AS py1
FROM r
"""

ORACLES["structure_token_count"] = SPANS_CTE + (
    r"""
SELECT doc_id,
       CAST(sum(4 + 1
           + CASE WHEN kind IS NULL THEN 1 ELSE """
    + _TOKENS.format(col="kind")
    + r""" END
           + CASE WHEN text IS NULL THEN 1 ELSE """
    + _TOKENS.format(col="text")
    + r""" END
           + CASE WHEN media_ref IS NULL THEN 1 ELSE """
    + _TOKENS.format(col="media_ref")
    + r""" END) AS BIGINT) AS structure_tokens,
       count(*) AS n_spans
FROM __spans GROUP BY doc_id
"""
)

_LANG_PICK = r"""
  SELECT doc_id, lang,
         (51 + (doc_id * 7) % 47) / 100.0 AS c1,
         0.6049 AS c2,
         (30 + (doc_id * 11) % 29) / 100.0 AS c3,
         (doc_id % 20 = 0) AS no_langs
  FROM documents
"""


def _lang_oracle(default: str) -> str:
    return (
        "WITH l AS ("
        + _LANG_PICK
        + f""")
SELECT doc_id,
       CASE WHEN no_langs THEN '{default}'
            WHEN c1 >= c2 AND c1 >= c3 THEN lang
            WHEN c2 >= c3 THEN 'en'
            ELSE 'fr' END AS primary_lang,
       no_langs AS used_default
FROM l
"""
    )


ORACLES["primary_language_default_en"] = _lang_oracle("en")
ORACLES["primary_language_default_ja"] = _lang_oracle("ja")

ORACLES["token_count_bpe"] = (
    r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT)
           AS n_bpe_tokens,
       CAST("""
    + _TOKENS.format(col="text")
    + r""" AS INT) AS n_ws_tokens
FROM documents
"""
)

ORACLES["rolling_fingerprint"] = r"""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(
             list_filter(regexp_split_to_array(text, '\s+'), w -> w <> ''),
             w -> ('0x' || substr(md5(w), 1, 14))::BIGINT % 2147483647)),
         (a, b) -> (a * 131 + b) % 2147483647) AS rolling_fp
FROM documents
"""

# TPC-H Q15 shape: revenue view + scalar max.
ORACLES["top_supplier_revenue"] = r"""
WITH revenue AS (
  SELECT l_suppkey,
         floor((sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                        AS BIGINT)) + 50) / 100.0) / 100.0 AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""

# TPC-H Q18 shape: IN (GROUP BY ... HAVING).
ORACLES["large_orders"] = r"""
WITH big AS (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING round(sum(l_quantity), 2) > 150)
SELECT c_custkey, c_name, o_orderkey,
       CAST(epoch_us(o_orderdate) // 86400000000 AS INT) AS orderdate_epoch_day,
       round(o_totalprice, 2) AS o_totalprice, total_qty
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
"""

# TPC-H Q20 shape: decorrelated nested subquery over shipped quantities.
ORACLES["excess_parts_suppliers"] = r"""
WITH shipped AS (
  SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY l_suppkey, l_partkey)
SELECT s_suppkey, s_name, count(*) AS n_excess_parts
FROM shipped
JOIN supplier ON l_suppkey = s_suppkey
WHERE (l_suppkey * 37 + l_partkey * 11) % 100 > 0.5 * qty
GROUP BY s_suppkey, s_name
"""

# Multiset set operators: EXCEPT ALL / INTERSECT ALL preserve multiplicity.
ORACLES["segments_setops_all"] = r"""
WITH clicks AS (SELECT user_id FROM events WHERE event_type = 'click'),
     purchases AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
     surplus AS (
       SELECT user_id, count(*) AS n_click_surplus
       FROM (SELECT user_id FROM clicks EXCEPT ALL SELECT user_id FROM purchases)
       GROUP BY user_id),
     matched AS (
       SELECT user_id, count(*) AS n_matched
       FROM (SELECT user_id FROM clicks INTERSECT ALL SELECT user_id FROM purchases)
       GROUP BY user_id)
SELECT coalesce(s.user_id, m.user_id) AS user_id,
       coalesce(n_click_surplus, 0) AS n_click_surplus,
       coalesce(n_matched, 0) AS n_matched
FROM surplus s FULL OUTER JOIN matched m ON s.user_id = m.user_id
"""

# Null-safe equality join: NULL keys match each other.
ORACLES["null_safe_join"] = r"""
WITH keyed AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 7 <> 0 THEN event_id % 5 END AS k
  FROM events)
SELECT a.k, count(*) AS n_pairs,
       count(DISTINCT b.event_id) AS n_purchases
FROM (SELECT * FROM keyed WHERE event_type = 'click') a
JOIN (SELECT * FROM keyed WHERE event_type = 'purchase') b
  ON a.k IS NOT DISTINCT FROM b.k
GROUP BY a.k
"""

# RANGE-frame window: trailing hour by event time.
ORACLES["events_trailing_hour"] = r"""
SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       count(*) OVER w AS n_trailing_hour,
       round(sum(value) OVER w, 2) AS value_trailing_hour
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""

# Corpus heavy hitters: top-20 lowercase tokens by frequency.
ORACLES["top_terms"] = r"""
WITH w AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            x -> x <> '')) AS term
  FROM documents
), c AS (SELECT term, count(*) AS n FROM w GROUP BY term)
SELECT term, n, CAST(row_number() OVER (ORDER BY n DESC, term ASC) AS INT) AS rk
FROM c ORDER BY n DESC, term ASC LIMIT 20
"""

# Benchmark decontamination: corpus docs sharing a 3-gram with the
# doc_id % 40 == 0 eval subset (mirrors operators/dedup.ngram_contamination).
ORACLES["decontaminate"] = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS words
  FROM documents
), cg AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(greatest(len(words) - 2, 0)),
             i -> array_to_string(words[i+1 : i+3], ' ')))) AS gram
  FROM base WHERE doc_id % 40 <> 0
), bg AS (
  SELECT DISTINCT unnest(list_distinct(list_transform(range(greatest(len(words) - 2, 0)),
             i -> array_to_string(words[i+1 : i+3], ' ')))) AS gram
  FROM base WHERE doc_id % 40 = 0
)
SELECT c.doc_id, count(*) AS n_grams,
       CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hit_grams,
       sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) > 0 AS contaminated
FROM cg c LEFT JOIN bg b USING (gram)
GROUP BY c.doc_id
"""

# PII scrub: sequential count-then-replace chain, identical order to
# operators/textstats.redact_pii (counts on the partially-redacted stream).
ORACLES["pii_redaction"] = r"""
WITH p AS (
  SELECT doc_id,
         text || ' contact user-' || CAST(doc_id AS VARCHAR) || '@example.com tel '
              || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
              || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0') || '-'
              || lpad(CAST((doc_id * 13) % 10000 AS VARCHAR), 4, '0')
              || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' AS t0
  FROM documents
), s1 AS (
  SELECT doc_id, t0,
         CAST(len(regexp_extract_all(t0,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
         regexp_replace(t0,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t1
  FROM p
), s2 AS (
  SELECT doc_id, n_email,
         CAST(len(regexp_extract_all(t1, '\b\d{3}-\d{3}-\d{4}\b')) AS INT) AS n_phone,
         regexp_replace(t1, '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g') AS t2
  FROM s1
)
SELECT doc_id,
       regexp_replace(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g')
           AS redacted,
       n_email, n_phone,
       CAST(len(regexp_extract_all(t2,
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ipv4
FROM s2
"""

# The COMPOSED curation pipeline, end to end (mirrors
# plans/curate.curate_documents(checked=True)): exact dedup keepers ->
# checked-MinHash near-dup losers (n=3, 32 hashes, 8 bands, t=0.8,
# bucket cap 4096) -> quality gate (>= 3000 bp) -> repetition gate ->
# hash split.  Assembled from the per-operator oracle fragments so
# stage interactions are value-checked, not just each stage alone.
_CURATION_CORE = (
    r"""
WITH keepers AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT doc_id, md5("""
    + _NORM.format(col="text")
    + r""") AS h FROM documents)
  GROUP BY h
), d1 AS (
  SELECT d.doc_id, d.text, d.source FROM documents d JOIN keepers USING (doc_id)
), wordsrc AS (
  SELECT doc_id AS id,
         list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS words
  FROM d1
), base AS (
  SELECT id, grams FROM (
    SELECT id, list_distinct(list_transform(range(greatest(len(words) - 2, 0)),
        i -> ('0x' || substr(md5(array_to_string(words[i+1 : i+3], ' ')), 1, 14))::BIGINT
             % 2147483647)) AS grams
    FROM wordsrc)
  WHERE len(grams) > 0
), sig AS (
  SELECT id,
         list_transform(range(32), h ->
           list_min(list_transform(grams, g ->
             ((((2654435761 * (h + 1)) % 2147483647) | 1) * g
              + (40503 * (h + 7)) % 2147483647) % 2147483647))) AS sig
  FROM base
), banded AS (
  SELECT id, unnest(list_transform(range(8), b -> struct_pack(
      band := CAST(b AS INT),
      bucket := list_reduce(
        list_prepend(CAST(0 AS BIGINT), sig[b*4+1 : b*4+4]),
        (acc, x) -> (acc * 131 + x) % 2147483647)))) AS bb
  FROM sig
), buckets AS (
  SELECT bb.band AS band, bb.bucket AS bucket, list_sort(list(id)) AS ids
  FROM banded GROUP BY 1, 2 HAVING count(*) > 1 AND count(*) <= 4096
), cpairs AS (
  SELECT DISTINCT p.a AS id_a, p.b AS id_b FROM (
    SELECT unnest(flatten(list_transform(range(len(ids) - 1),
        i -> list_transform(range(i + 1, len(ids)),
             j -> struct_pack(a := ids[i+1], b := ids[j+1]))))) AS p
    FROM buckets)
), verified AS (
  SELECT id_a, id_b
  FROM cpairs
  JOIN base ga ON ga.id = id_a
  JOIN base gb ON gb.id = id_b
  WHERE round(len(list_intersect(ga.grams, gb.grams)) /
              (len(ga.grams) + len(gb.grams)
               - len(list_intersect(ga.grams, gb.grams))), 4) >= 0.8
), d2 AS (
  SELECT * FROM d1
  WHERE doc_id NOT IN (SELECT DISTINCT id_b FROM verified)
), scored AS (
  SELECT doc_id, text, source,
         len(list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '')) AS nt,
         CASE WHEN length(text) > 0
              THEN (length(text)
                    - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')))
                   / length(text)
              ELSE 0.0 END AS punct_ratio,
         CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '')) > 0
              THEN list_sum(list_transform(
                     list_filter(regexp_split_to_array(text, '\s+'), w -> w <> ''),
                     w -> length(w)))
                   / len(list_filter(regexp_split_to_array(text, '\s+'), w -> w <> ''))
              ELSE 0.0 END AS awl
  FROM d2
), d3 AS (
  SELECT doc_id, text, source, nt FROM scored
  WHERE CAST(floor((0.4 * least(nt / 100.0, 1.0) + 0.3 * (1 - punct_ratio)
             + 0.3 * least(awl / 8.0, 1.0)) * 10000) AS INT) >= 3000
), rep AS (
  SELECT doc_id, max(c) AS top, count(*) AS uniq, CAST(sum(c) AS BIGINT) AS n_tok
  FROM (SELECT doc_id, w, count(*) AS c
        FROM (SELECT doc_id, unnest(list_filter(
                 regexp_split_to_array(lower(text), '\s+'), w -> w <> '')) AS w
              FROM d3) GROUP BY doc_id, w)
  GROUP BY doc_id
), flagged AS (
  SELECT doc_id FROM rep
  WHERE n_tok >= 10 AND
        (CAST(floor(10000.0 * top / n_tok) AS INT) > 3000
         OR CAST(floor(10000.0 * uniq / n_tok) AS INT) < 3000)
), d4 AS (
  SELECT d3.doc_id, d3.text, d3.source, CAST(d3.nt AS INT) AS nt,
         CASE WHEN ('0x' || substr(md5(CAST(d3.doc_id AS VARCHAR)), 1, 14))::BIGINT
                   % 2147483647 % 100 < 80 THEN 'train'
              WHEN ('0x' || substr(md5(CAST(d3.doc_id AS VARCHAR)), 1, 14))::BIGINT
                   % 2147483647 % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM d3
  WHERE d3.doc_id NOT IN (SELECT doc_id FROM flagged)
)"""
)

ORACLES["curation_checked"] = _CURATION_CORE + r"""
SELECT doc_id, split, nt AS n_tokens FROM d4
"""

# The FULL pipeline (mirrors plans/curate.curate_documents_full with
# checked=True): core curation -> decontamination vs the doc_id % 40 == 0
# eval subset (3-grams) -> PII redaction -> per-source mixing (src0-9
# full, src10-19 half) -> 256-token packing in 1024 hash buckets.
ORACLES["curation_full_checked"] = _CURATION_CORE + r"""
, bg AS (
  SELECT DISTINCT unnest(list_distinct(list_transform(
      range(greatest(len(words) - 2, 0)),
      i -> array_to_string(words[i+1 : i+3], ' ')))) AS gram
  FROM (SELECT list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '')
            AS words
        FROM documents WHERE doc_id % 40 = 0)
), cg AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
      range(greatest(len(words) - 2, 0)),
      i -> array_to_string(words[i+1 : i+3], ' ')))) AS gram
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '')
                   AS words
        FROM d4)
), d5 AS (
  SELECT * FROM d4
  WHERE doc_id NOT IN (SELECT DISTINCT c.doc_id FROM cg c JOIN bg USING (gram))
), red AS (
  SELECT doc_id, source, split,
         regexp_replace(
           regexp_replace(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g'),
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS text
  FROM d5
), mixed AS (
  SELECT * FROM red
  WHERE ('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
        % 2147483647 % 1000000
        < CASE WHEN CAST(substr(source, 4) AS INT) < 10
               THEN 1000000 ELSE 500000 END
), tok AS (
  SELECT doc_id, source, split, text,
         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), w -> w <> ''))
              AS INT) AS n_tokens,
         ('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
             % 2147483647 AS h
  FROM mixed
), packed AS (
  SELECT doc_id, source, split, text, n_tokens,
         CAST(h % 1024 AS INT) AS bucket,
         sum(n_tokens) OVER (PARTITION BY h % 1024 ORDER BY h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM tok
)
SELECT doc_id, source, split, text, n_tokens, bucket,
       CAST((cum - n_tokens) // 256 AS INT) AS bin_id,
       CAST(cum - n_tokens AS BIGINT) AS fill_pos
FROM packed
"""

# Data mixing: per-source hash-sampling rates (mirrors
# operators/sampling.hash_sample with salt 'sample').
ORACLES["sample_mix"] = r"""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         ('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
             % 2147483647 % 1000000 AS bucket,
         CASE source WHEN 'src0' THEN 1000000
                     WHEN 'src1' THEN 500000
                     WHEN 'src2' THEN 100000
                     ELSE 0 END AS rate
  FROM documents)
WHERE bucket < rate
"""

# Sequence packing: contiguous token-budget fill in hash order within
# hash buckets (mirrors operators/sampling.pack_sequences).
ORACLES["pack_sequences"] = r"""
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), w -> w <> ''))
              AS BIGINT) AS n_tokens,
         ('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
             % 2147483647 AS h
  FROM documents
), c AS (
  SELECT doc_id, CAST(h % 32 AS INT) AS bucket, n_tokens,
         sum(n_tokens) OVER (PARTITION BY h % 32 ORDER BY h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT doc_id, bucket,
       CAST((cum - n_tokens) // 256 AS INT) AS bin_id,
       CAST(cum - n_tokens AS BIGINT) AS fill_pos,
       n_tokens
FROM c
"""

# T4 first-unit scan: first text-bearing span per doc in reading order.
ORACLES["first_text_span"] = SPANS_CTE + r"""
SELECT doc_id, off AS first_offset, kind AS first_kind, text AS first_text
FROM (SELECT doc_id, off, kind, text,
             row_number() OVER (PARTITION BY doc_id ORDER BY off) AS rn
      FROM __spans WHERE text IS NOT NULL AND text <> '')
WHERE rn = 1
"""

ORACLES["events_daily"] = r"""
SELECT CAST(epoch_us(ts) // 86400000000 AS INT) AS day_idx,
       event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
"""

ORACLES["latest_event_per_user"] = r"""
SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
          ORDER BY ts DESC, event_id DESC) AS rn FROM events)
WHERE rn = 1
"""

# fused extract+classify: identical contract to main_content
ORACLES["main_content_fused"] = ORACLES["main_content"]

# as-of join pattern: latest prior click per purchase
ORACLES["asof_last_click_before_purchase"] = r"""
SELECT user_id, event_id AS purchase_id, last_click_id
FROM (
  SELECT user_id, event_id, event_type,
         last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_click_id
  FROM events)
WHERE event_type = 'purchase'
"""

# TPC-H Q3 shape
ORACLES["shipping_priority"] = r"""
WITH agg AS (
  SELECT l_orderkey, o_orderdate, o_orderpriority,
         floor((sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                        AS BIGINT)) + 50) / 100.0) / 100.0 AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
    AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
  GROUP BY 1, 2, 3
)
SELECT l_orderkey,
       CAST(epoch_us(o_orderdate) // 86400000000 AS INT) AS orderdate_epoch_day,
       o_orderpriority, revenue,
       CAST(rk AS INT) AS revenue_rank
FROM (SELECT *, row_number() OVER (ORDER BY revenue DESC, l_orderkey ASC) AS rk
      FROM agg)
WHERE rk <= 10
"""

# CDC upsert emulation: updates win on key collision
ORACLES["merge_upsert"] = r"""
WITH cust AS (
  SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal FROM customer
), updates AS (
  SELECT c_custkey, c_name, round(c_acctbal + 100.0, 2) AS c_acctbal
  FROM cust WHERE c_custkey % 10 = 0
)
SELECT * FROM cust WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)
UNION ALL
SELECT * FROM updates
"""

# the mapInArrow twin shares the flagship contract/oracle too
ORACLES["extract_flagship_arrow_native"] = ORACLES["extract_flagship"]

# the spark.sql front-door twin of revenue_by_nation
ORACLES["sql_api_revenue"] = ORACLES["revenue_by_nation"]

# IVF ANN: centroid assignment + probes + exact rerank, all in SQL.
# Centroids = the 16 corpus ids with the smallest cross-engine md5/31-bit
# hash (mirrors derive_centroids' fixed hash-sampled budget).
ORACLES["knn_ivf"] = r"""
WITH q AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings WHERE vec_id < 10),
     c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings WHERE vec_id >= 10),
     cen AS (SELECT id AS cluster, e AS ce FROM c
             ORDER BY ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 14))::BIGINT
                      % 2147483647 ASC, id ASC
             LIMIT 16),
     casg AS (
       SELECT id AS neighbor_id, cluster FROM (
         SELECT c.id, cen.cluster,
                row_number() OVER (PARTITION BY c.id ORDER BY
                  round(list_dot_product(c.e, cen.ce) /
                    (sqrt(list_dot_product(c.e, c.e)) *
                     sqrt(list_dot_product(cen.ce, cen.ce))), 6) DESC,
                  cen.cluster ASC) AS rk
         FROM c, cen)
       WHERE rk = 1),
     qasg AS (
       SELECT id AS query_id, cluster FROM (
         SELECT q.id, cen.cluster,
                row_number() OVER (PARTITION BY q.id ORDER BY
                  round(list_dot_product(q.e, cen.ce) /
                    (sqrt(list_dot_product(q.e, q.e)) *
                     sqrt(list_dot_product(cen.ce, cen.ce))), 6) DESC,
                  cen.cluster ASC) AS rk
         FROM q, cen)
       WHERE rk <= 4),
     cand AS (
       SELECT DISTINCT qasg.query_id, casg.neighbor_id
       FROM qasg JOIN casg ON qasg.cluster = casg.cluster),
     sims AS (
       SELECT cand.query_id, cand.neighbor_id,
              round(list_dot_product(q.e, c.e) /
                (sqrt(list_dot_product(q.e, q.e)) *
                 sqrt(list_dot_product(c.e, c.e))), 4) AS cosine
       FROM cand
       JOIN q ON q.id = cand.query_id
       JOIN c ON c.id = cand.neighbor_id)
SELECT query_id, CAST(rk AS INT) AS "rank", neighbor_id, cosine
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, neighbor_id ASC) AS rk FROM sims)
WHERE rk <= 5
"""

# IVF ANN with ONE Lloyd refinement iteration — mirrors
# operators/similarity.kmeans_refine_centroids: rank-1 assignment on
# cosine rounded to 6; the per-dim mean is an EXACT integer sum of
# 10^-6-quantized components re-quantized via floor(sum/count + 0.5)
# (cross-engine equality is exact integer arithmetic, not ulp luck —
# the bound is proven in the operator docstring); empty clusters keep
# their seed.
ORACLES["knn_ivf_refined"] = r"""
WITH q AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings WHERE vec_id < 10),
     c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings WHERE vec_id >= 10),
     cen AS (SELECT id AS cluster, e AS ce FROM c
             ORDER BY ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 14))::BIGINT
                      % 2147483647 ASC, id ASC
             LIMIT 16),
     asg AS (
       SELECT id, cluster FROM (
         SELECT c.id, cen.cluster,
                row_number() OVER (PARTITION BY c.id ORDER BY
                  round(list_dot_product(c.e, cen.ce) /
                    (sqrt(list_dot_product(c.e, c.e)) *
                     sqrt(list_dot_product(cen.ce, cen.ce))), 6) DESC,
                  cen.cluster ASC) AS rk
         FROM c, cen)
       WHERE rk = 1),
     dims AS (
       SELECT a.cluster, t.i AS dim, c.e[t.i + 1] AS v
       FROM asg a JOIN c ON c.id = a.id, unnest(range(len(c.e))) AS t(i)),
     means AS (
       SELECT cluster, list(CAST(m AS FLOAT) ORDER BY dim) AS new_ce
       FROM (SELECT cluster, dim,
                    floor(CAST(sum(CAST(round(v * 1e6) AS BIGINT)) AS DOUBLE)
                          / count(*) + 0.5) / 1e6 AS m
             FROM dims GROUP BY 1, 2)
       GROUP BY cluster),
     ref AS (
       SELECT cen.cluster,
              coalesce(CAST(m.new_ce AS DOUBLE[]), cen.ce) AS ce
       FROM cen LEFT JOIN means m ON m.cluster = cen.cluster),
     casg AS (
       SELECT id AS neighbor_id, cluster FROM (
         SELECT c.id, ref.cluster,
                row_number() OVER (PARTITION BY c.id ORDER BY
                  round(list_dot_product(c.e, ref.ce) /
                    (sqrt(list_dot_product(c.e, c.e)) *
                     sqrt(list_dot_product(ref.ce, ref.ce))), 6) DESC,
                  ref.cluster ASC) AS rk
         FROM c, ref)
       WHERE rk = 1),
     qasg AS (
       SELECT id AS query_id, cluster FROM (
         SELECT q.id, ref.cluster,
                row_number() OVER (PARTITION BY q.id ORDER BY
                  round(list_dot_product(q.e, ref.ce) /
                    (sqrt(list_dot_product(q.e, q.e)) *
                     sqrt(list_dot_product(ref.ce, ref.ce))), 6) DESC,
                  ref.cluster ASC) AS rk
         FROM q, ref)
       WHERE rk <= 4),
     cand AS (
       SELECT DISTINCT qasg.query_id, casg.neighbor_id
       FROM qasg JOIN casg ON qasg.cluster = casg.cluster),
     sims AS (
       SELECT cand.query_id, cand.neighbor_id,
              round(list_dot_product(q.e, c.e) /
                (sqrt(list_dot_product(q.e, q.e)) *
                 sqrt(list_dot_product(c.e, c.e))), 4) AS cosine
       FROM cand
       JOIN q ON q.id = cand.query_id
       JOIN c ON c.id = cand.neighbor_id)
SELECT query_id, CAST(rk AS INT) AS "rank", neighbor_id, cosine
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, neighbor_id ASC) AS rk FROM sims)
WHERE rk <= 5
"""

# MinHash + banded LSH, md5/affine family — mirrors
# operators/dedup.minhash_lsh_pairs_checked step for step.
ORACLES["dedup_minhash_checked"] = r"""
WITH wordsrc AS (
  SELECT doc_id AS id,
         list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS words
  FROM documents
), base AS (
  SELECT id, grams FROM (
    SELECT id, list_distinct(list_transform(range(greatest(len(words) - 2, 0)),
        i -> ('0x' || substr(md5(array_to_string(words[i+1 : i+3], ' ')), 1, 14))::BIGINT
             % 2147483647)) AS grams
    FROM wordsrc)
  WHERE len(grams) > 0
), sig AS (
  SELECT id,
         list_transform(range(32), h ->
           list_min(list_transform(grams, g ->
             ((((2654435761 * (h + 1)) % 2147483647) | 1) * g
              + (40503 * (h + 7)) % 2147483647) % 2147483647))) AS sig
  FROM base
), banded AS (
  SELECT id, unnest(list_transform(range(8), b -> struct_pack(
      band := CAST(b AS INT),
      bucket := list_reduce(
        list_prepend(CAST(0 AS BIGINT), sig[b*4+1 : b*4+4]),
        (acc, x) -> (acc * 131 + x) % 2147483647)))) AS bb
  FROM sig
), buckets AS (
  -- bucket-size cap mirrors max_bucket_size=4096 in the engine
  SELECT bb.band AS band, bb.bucket AS bucket, list_sort(list(id)) AS ids
  FROM banded GROUP BY 1, 2 HAVING count(*) > 1 AND count(*) <= 4096
), pairs AS (
  SELECT DISTINCT p.a AS id_a, p.b AS id_b FROM (
    SELECT unnest(flatten(list_transform(range(len(ids) - 1),
        i -> list_transform(range(i + 1, len(ids)),
             j -> struct_pack(a := ids[i+1], b := ids[j+1]))))) AS p
    FROM buckets)
)
SELECT id_a, id_b,
       round(len(list_intersect(ga.grams, gb.grams)) /
             (len(ga.grams) + len(gb.grams)
              - len(list_intersect(ga.grams, gb.grams))), 4) AS jaccard
FROM pairs
JOIN base ga ON ga.id = id_a
JOIN base gb ON gb.id = id_b
WHERE round(len(list_intersect(ga.grams, gb.grams)) /
            (len(ga.grams) + len(gb.grams)
             - len(list_intersect(ga.grams, gb.grams))), 4) >= 0.5
"""


# SimHash near-dup pairs, md5 word-hash family — mirrors
# operators/dedup.simhash_near_pairs_checked (bits=24, bands=4, ham<=6).
ORACLES["dedup_simhash_checked"] = r"""
WITH wordsrc AS (
  SELECT doc_id AS id,
         list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS words
  FROM documents
), base AS (
  SELECT id, list_transform(words, w ->
      ('0x' || substr(md5(w), 1, 14))::BIGINT % 2147483647) AS wh
  FROM wordsrc WHERE len(words) > 0
), fp AS (
  SELECT id, list_transform(range(30), b ->
      CASE WHEN list_sum(list_transform(wh, h ->
          CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
      THEN 1 ELSE 0 END) AS bits
  FROM base
), banded AS (
  SELECT id, bits, unnest(list_transform(range(5), b -> struct_pack(
      band := CAST(b AS INT),
      bucket := list_reduce(
        list_prepend(CAST(0 AS BIGINT), bits[b*6+1 : b*6+6]),
        (acc, x) -> acc * 2 + x)))) AS bb
  FROM fp
), flat0 AS (
  SELECT id, bits, bb.band AS band, bb.bucket AS bucket FROM banded
), okb AS (
  -- bucket-size cap mirrors max_bucket_size=4096 in the engine
  SELECT band, bucket FROM flat0 GROUP BY 1, 2
  HAVING count(*) > 1 AND count(*) <= 4096
), flat AS (
  SELECT f.* FROM flat0 f JOIN okb USING (band, bucket)
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.bits AS ba, b.bits AS bb2
  FROM flat a JOIN flat b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
)
SELECT id_a, id_b, CAST(ham AS INT) AS hamming FROM (
  SELECT id_a, id_b,
         list_sum(list_transform(range(30), i ->
           CASE WHEN ba[i+1] <> bb2[i+1] THEN 1 ELSE 0 END)) AS ham
  FROM cand)
WHERE ham <= 2
"""

# Char-trigram language ID — mirrors operators/textstats.language_id_scores
# (same profile literals, '_'-padded lowercase tokens, basis-point floor).
_LANG_PROFILE_SQL = {
    "en": "['_th','the','he_','_a_','_an','and','nd_','_of','of_',"
          "'_to','to_','_in','in_','ing','ng_','_is','is_']",
    "de": "['_de','der','er_','die','ie_','_di','und','_un','nd_',"
          "'sch','ein','_ei','ich','ch_','cht','_da','das']",
    "fr": "['_le','les','es_','_de','de_','des','ent','nt_','_qu',"
          "'que','ue_','_un','une','ne_','_et','et_','ais']",
}
ORACLES["language_id_ngram"] = r"""
WITH toks AS (
  SELECT doc_id, list_transform(
      list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w <> ''),
      w -> '_' || w || '_') AS padded
  FROM documents
), tg AS (
  SELECT doc_id, flatten(list_transform(padded, w ->
      list_transform(range(length(w)-2), i -> substr(w, i+1, 3)))) AS tg
  FROM toks
), scored AS (
  SELECT doc_id,
    CASE WHEN len(tg) > 0 THEN CAST(floor(10000.0 *
      len(list_filter(tg, t -> list_contains({en}, t))) / len(tg)) AS INT)
      ELSE 0 END AS score_en,
    CASE WHEN len(tg) > 0 THEN CAST(floor(10000.0 *
      len(list_filter(tg, t -> list_contains({de}, t))) / len(tg)) AS INT)
      ELSE 0 END AS score_de,
    CASE WHEN len(tg) > 0 THEN CAST(floor(10000.0 *
      len(list_filter(tg, t -> list_contains({fr}, t))) / len(tg)) AS INT)
      ELSE 0 END AS score_fr
  FROM tg)
SELECT doc_id, score_en, score_de, score_fr,
  CASE WHEN score_en >= score_de AND score_en >= score_fr THEN 'en'
       WHEN score_de >= score_fr THEN 'de' ELSE 'fr' END AS pred_lang
FROM scored
""".replace("{en}", _LANG_PROFILE_SQL["en"]) \
   .replace("{de}", _LANG_PROFILE_SQL["de"]) \
   .replace("{fr}", _LANG_PROFILE_SQL["fr"])

# INTERSECT / EXCEPT cohorts over events.
ORACLES["user_segments_setops"] = r"""
SELECT user_id, 'click_and_purchase' AS segment FROM (
  SELECT user_id FROM events WHERE event_type = 'click'
  INTERSECT
  SELECT user_id FROM events WHERE event_type = 'purchase')
UNION ALL
SELECT user_id, 'click_only' AS segment FROM (
  SELECT user_id FROM events WHERE event_type = 'click'
  EXCEPT
  SELECT user_id FROM events WHERE event_type = 'purchase')
"""

# TPC-H Q17 shape: correlated scalar subquery, decorrelated.
ORACLES["part_small_quantity"] = r"""
WITH thr AS (
  SELECT l_partkey, 0.2 * avg(l_quantity) AS thr
  FROM lineitem GROUP BY 1)
SELECT p_brand,
       ((sum(CAST(round(l_extendedprice * 100) AS BIGINT)) * 2 + 7) // 14)
         / 100.0 AS avg_yearly,
       count(*) AS n_lines
FROM lineitem
JOIN thr USING (l_partkey)
JOIN part ON p_partkey = l_partkey
WHERE l_quantity < thr
GROUP BY p_brand
"""

# Multimodal pipeline: stub-decode features -> aspect-fit resize ->
# uniform-stride frame sampling (operators/multimodal.py fallback math).
ORACLES["media_pipeline"] = SPANS_CTE + r"""
, feats AS (
  SELECT doc_id, media_ref,
         CASE WHEN lower(regexp_extract(media_ref, '(\.[^./]+)$', 1))
                   IN ('.png', '.jpg', '.jpeg')
              THEN 'image' ELSE 'other' END AS media_kind,
         CAST(64 + (7 * strlen(media_ref)) % 512 AS INT) AS width,
         CAST(64 + (11 * strlen(media_ref)) % 512 AS INT) AS height,
         CAST(CASE WHEN lower(regexp_extract(media_ref, '(\.[^./]+)$', 1))
                   IN ('.png', '.jpg', '.jpeg')
              THEN 1 ELSE 16 + strlen(media_ref) % 48 END AS INT) AS n_frames
  FROM __spans
  WHERE media_ref IS NOT NULL
), rs AS (
  SELECT *,
         CAST(floor(width * 224.0 / greatest(width, height)) AS INT) AS out_w,
         CAST(floor(height * 224.0 / greatest(width, height)) AS INT) AS out_h
  FROM feats)
SELECT doc_id, media_ref, media_kind, out_w, out_h,
       CAST(unnest(list_transform(range(least(4, n_frames)),
            j -> floor(j * n_frames * 1.0 / least(4, n_frames)))) AS INT)
         AS frame_idx
FROM rs
"""

# Sliding event-time windows: 1h length, 30m slide -> each event in
# exactly 2 windows (start = 30m bucket, and that minus 30m).
ORACLES["events_sliding_window"] = r"""
WITH w AS (
  SELECT event_type, value,
         unnest([time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
                 time_bucket(INTERVAL '30 minutes', ts)]) AS window_start
  FROM events)
SELECT window_start,
       window_start + INTERVAL '1 hour' AS window_end,
       event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS total_value
FROM w
GROUP BY 1, 2, 3
"""

# JSON path extraction from the props string column.
ORACLES["events_props_json"] = r"""
SELECT event_type,
       count(*) AS n_events,
       round(avg(k), 4) AS avg_k,
       max(k) AS max_k,
       count(DISTINCT k) AS n_distinct_k
FROM (SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS INT) AS k
      FROM events)
GROUP BY event_type
"""

# Range join of events.value into irregular half-open bands.
ORACLES["events_range_join"] = r"""
WITH bands(band, lo, hi) AS (VALUES
  ('micro', 0.0, 10.0), ('small', 10.0, 50.0),
  ('medium', 50.0, 200.0), ('large', 200.0, 1e9))
SELECT band, count(*) AS n_events, round(sum(value), 4) AS total_value
FROM events JOIN bands ON value >= lo AND value < hi
GROUP BY band
"""

# GROUP BY CUBE over orders dimensions.
ORACLES["orders_cube"] = r"""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""

# KMV distinct sketch per event_type — mirrors operators/sketch.kmv_distinct
# (md5/31-bit family, k=64, estimate (k-1)/(h_k/M)).
ORACLES["kmv_distinct_users"] = r"""
WITH hashed AS (
  SELECT DISTINCT event_type AS grp,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 14))::BIGINT
           % 2147483647 AS h
  FROM events
  WHERE user_id IS NOT NULL
), topk AS (
  SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rk
  FROM hashed)
SELECT grp AS event_type,
       count(*) AS n_kept,
       max(h) AS kth_hash,
       round(CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
                  ELSE 63 / (max(h) / 2147483647.0) END, 2) AS est_distinct
FROM (SELECT * FROM topk WHERE rk <= 64)
GROUP BY grp
"""

# Hash-based train/val/test split (md5/31-bit family, 80/10/10).
ORACLES["train_split"] = r"""
WITH assigned AS (
  SELECT CASE
           WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
                % 2147483647 % 100 < 80 THEN 'train'
           WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
                % 2147483647 % 100 < 90 THEN 'val'
           ELSE 'test'
         END AS split,
         len(list_filter(regexp_split_to_array(text, '\s+'), w -> w <> ''))
           AS n_tokens
  FROM documents)
SELECT split, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM assigned GROUP BY split
"""

# TPC-H Q13 shape: left outer + double aggregation.
ORACLES["customer_order_histogram"] = r"""
SELECT c_count, count(*) AS n_customers
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey)
GROUP BY c_count
"""

# TPC-H Q19 shape: disjunctive predicate across a join.
ORACLES["discounted_revenue"] = r"""
SELECT floor((sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                     AS BIGINT)) + 50) / 100.0) / 100.0 AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 10
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size <= 20
       AND l_quantity BETWEEN 5 AND 30)
   OR (p_brand = 'Brand#3' AND p_size <= 30
       AND l_quantity BETWEEN 10 AND 40)
"""

# Native session_window twin: gaps-and-islands with >= gap split (Spark
# merges an event only while ts < last + gap; session end = last + gap).
ORACLES["events_session_window"] = r"""
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
              OR date_diff('microsecond', lag(ts) OVER w, ts)
                 >= 1800 * 1000000
         THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL '30 minutes' AS session_end,
       user_id,
       count(*) AS n_events,
       round(sum(value), 4) AS total_value
FROM numbered
GROUP BY user_id, sid
"""

# Explicit GROUPING SETS + grouping flags.
ORACLES["orders_grouping_sets"] = r"""
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) AS INT) AS g_status,
       CAST(grouping(o_orderpriority) AS INT) AS g_priority,
       count(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
"""

# ntile / percent_rank / cume_dist ranking windows.
ORACLES["order_value_ntiles"] = r"""
SELECT o_orderkey, o_orderpriority,
       ntile(4) OVER w AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""

# UDTF twin: split + indexed unnest (the row-local form a real job uses).
ORACLES["sentences_udtf"] = r"""
WITH parts AS (
  SELECT doc_id,
         unnest(list_transform(regexp_split_to_array(text, '[.!?]+'),
             (p, i) -> struct_pack(idx := i - 1,
                                   s := trim(p, ' ' || chr(9) || chr(10) || chr(13))))) AS u
  FROM documents
  WHERE text IS NOT NULL)
SELECT doc_id, CAST(u.idx AS INT) AS sent_idx, u.s AS sentence
FROM parts
WHERE u.s <> ''
"""

# Gopher-style repetition/diversity quality signals.
ORACLES["gopher_repetition"] = r"""
WITH words AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            w -> w <> '')) AS w
  FROM documents),
per_word AS (
  SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w),
prof AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         max(c) AS top, count(*) AS uniq
  FROM per_word GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(p.n_tokens, 0) AS n_tokens,
       CAST(CASE WHEN COALESCE(p.n_tokens, 0) > 0
            THEN floor(10000.0 * p.top / p.n_tokens) ELSE 0 END AS INT)
         AS top_word_share_bp,
       CAST(CASE WHEN COALESCE(p.n_tokens, 0) > 0
            THEN floor(10000.0 * p.uniq / p.n_tokens) ELSE 0 END AS INT)
         AS unique_ratio_bp,
       (COALESCE(p.n_tokens, 0) >= 10 AND
        (CAST(CASE WHEN COALESCE(p.n_tokens, 0) > 0
              THEN floor(10000.0 * p.top / p.n_tokens) ELSE 0 END AS INT) > 3000
         OR
         CAST(CASE WHEN COALESCE(p.n_tokens, 0) > 0
              THEN floor(10000.0 * p.uniq / p.n_tokens) ELSE 0 END AS INT) < 3000))
         AS flagged
FROM documents d LEFT JOIN prof p ON d.doc_id = p.doc_id
"""

# BINARY payload plumbing twin: payload = unhex(md5(ref)) (16 bytes),
# first byte = first two hex chars of the md5.
# Mirrors multimodal.synth_image_payload_col + parse_image_dimensions:
# the engine ENCODES w/h into real PNG/JPEG headers and DECODES them back
# with a struct-only parser; the oracle recomputes the encoded values, so
# a mismatch means the decoder misread actual container bytes.  n_bytes:
# PNG sig+IHDR = 33, JPEG SOI+APP0+SOF0+EOI = 41, unknown md5 blob = 16.
ORACLES["media_payload_features"] = SPANS_CTE + r"""
SELECT doc_id, media_ref,
       CAST(CASE WHEN ext = '.png' THEN 33
                 WHEN ext IN ('.jpg', '.jpeg') THEN 41
                 ELSE 16 END AS INT) AS n_bytes,
       CASE WHEN ext = '.png' THEN 'png'
            WHEN ext IN ('.jpg', '.jpeg') THEN 'jpeg'
            ELSE 'unknown' END AS format,
       CAST(CASE WHEN ext IN ('.png', '.jpg', '.jpeg')
                 THEN 16 + (7 * strlen(media_ref)) % 496 END AS INT) AS width,
       CAST(CASE WHEN ext IN ('.png', '.jpg', '.jpeg')
                 THEN 16 + (11 * strlen(media_ref)) % 496 END AS INT) AS height
FROM (SELECT doc_id, media_ref,
             lower(regexp_extract(media_ref, '(\.[^./]+)$', 1)) AS ext
      FROM __spans WHERE media_ref IS NOT NULL)
"""

# TPC-H Q21 shape: EXISTS + NOT EXISTS on the same fact table.
ORACLES["waiting_suppliers"] = r"""
WITH late AS (
  SELECT l.* FROM lineitem l
  JOIN (SELECT l_orderkey, max(l_linenumber) AS max_ln
        FROM lineitem GROUP BY l_orderkey) m
    ON l.l_orderkey = m.l_orderkey AND l.l_linenumber = m.max_ln)
SELECT l_suppkey, count(*) AS numwait
FROM late l1
WHERE EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM late l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY l_suppkey
"""

# TPC-H Q22 shape: scalar-aggregate threshold + NOT EXISTS.
ORACLES["global_sales_opportunity"] = r"""
SELECT c_nationkey,
       count(*) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer c
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
"""

# TPC-H Q7 shape: 6-table join, cross-nation volume by year.
ORACLES["nation_volume_shipping"] = r"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       floor((sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                      AS BIGINT)) + 50) / 100.0) / 100.0 AS revenue,
       count(*) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name <> n2.n_name
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
"""


# Cap-drop audit: mirrors plans/curate.curation_cap_audit with the tight
# test-scale caps of queries.q_curation_audit (minhash bucket > 2, gram
# df > 4, simhash(30,5) bucket > 16, embedding label block > 52).  Each
# branch replays the SAME stage its cap filters — grams/signature/banding
# CTEs are identical to the dedup_* oracles above.
ORACLES["curation_audit"] = r"""
WITH wordsrc AS (
  SELECT doc_id AS id,
         list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS words
  FROM documents
), keepers AS (
  -- the LSH/SimHash audits run on the exact-dedup survivors, the same
  -- frame curate_documents feeds its near-dup stage
  SELECT min(doc_id) AS id FROM documents
  GROUP BY md5(regexp_replace(regexp_replace(
    array_to_string(list_transform(string_split(text, chr(10)),
      p -> array_to_string(list_filter(regexp_split_to_array(p, '\s+'),
        w -> w <> ''), ' ')), chr(10)), '^\s+', ''), '\s+$', ''))
), kept_wordsrc AS (
  SELECT w.* FROM wordsrc w JOIN keepers USING (id)
), gramstr AS (
  SELECT id, unnest(list_distinct(list_transform(range(greatest(len(words)-2, 0)),
      i -> array_to_string(words[i+1 : i+3], ' ')))) AS gram
  FROM wordsrc
), gramsz AS (
  SELECT gram, count(*) AS bsz FROM gramstr GROUP BY 1
), mh_base AS (
  SELECT id, grams FROM (
    SELECT id, list_distinct(list_transform(range(greatest(len(words) - 2, 0)),
        i -> ('0x' || substr(md5(array_to_string(words[i+1 : i+3], ' ')), 1, 14))::BIGINT
             % 2147483647)) AS grams
    FROM kept_wordsrc)
  WHERE len(grams) > 0
), mh_sig AS (
  SELECT id,
         list_transform(range(32), h ->
           list_min(list_transform(grams, g ->
             ((((2654435761 * (h + 1)) % 2147483647) | 1) * g
              + (40503 * (h + 7)) % 2147483647) % 2147483647))) AS sig
  FROM mh_base
), mh_banded AS (
  SELECT id, unnest(list_transform(range(8), b -> struct_pack(
      band := CAST(b AS INT),
      bucket := list_reduce(
        list_prepend(CAST(0 AS BIGINT), sig[b*4+1 : b*4+4]),
        (acc, x) -> (acc * 131 + x) % 2147483647)))) AS bb
  FROM mh_sig
), mh_sz AS (
  SELECT bb.band AS band, bb.bucket AS bucket, count(*) AS bsz
  FROM mh_banded GROUP BY 1, 2
), sh_base AS (
  SELECT id, list_transform(words, w ->
      ('0x' || substr(md5(w), 1, 14))::BIGINT % 2147483647) AS wh
  FROM kept_wordsrc WHERE len(words) > 0
), sh_fp AS (
  SELECT id, list_transform(range(30), b ->
      CASE WHEN list_sum(list_transform(wh, h ->
          CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
      THEN 1 ELSE 0 END) AS bits
  FROM sh_base
), sh_banded AS (
  SELECT id, unnest(list_transform(range(5), b -> struct_pack(
      band := CAST(b AS INT),
      bucket := list_reduce(
        list_prepend(CAST(0 AS BIGINT), bits[b*6+1 : b*6+6]),
        (acc, x) -> acc * 2 + x)))) AS bb
  FROM sh_fp
), sh_sz AS (
  SELECT bb.band AS band, bb.bucket AS bucket, count(*) AS bsz
  FROM sh_banded GROUP BY 1, 2
), emb_sz AS (
  SELECT label, count(*) AS bsz FROM embeddings GROUP BY 1
)
SELECT 'ngram_gram_df' AS cap_name, CAST(4 AS INT) AS cap_value,
       CAST(count(*) AS BIGINT) AS dropped_groups,
       CAST(coalesce(sum(bsz), 0) AS BIGINT) AS dropped_rows
FROM gramsz WHERE bsz > 4
UNION ALL
SELECT 'minhash_lsh_bucket', CAST(2 AS INT),
       CAST(count(*) AS BIGINT), CAST(coalesce(sum(bsz), 0) AS BIGINT)
FROM mh_sz WHERE bsz > 2
UNION ALL
SELECT 'simhash_bucket', CAST(16 AS INT),
       CAST(count(*) AS BIGINT), CAST(coalesce(sum(bsz), 0) AS BIGINT)
FROM sh_sz WHERE bsz > 16
UNION ALL
SELECT 'embedding_block', CAST(52 AS INT),
       CAST(count(*) AS BIGINT), CAST(coalesce(sum(bsz), 0) AS BIGINT)
FROM emb_sz WHERE bsz > 52
"""


# Deep-tree flatten — mirrors operators/deeptree.py end to end: the
# deriver's fan-out (4 words/paragraph, 3 paragraphs/block, 2 blocks/
# page; symbols = word characters, so bottom-up assembly reconstructs
# the words) composed with the extractor's output shape.  Tokens carry
# no edge whitespace, so the strip points are no-ops here (they are
# exercised adversarially in tests/test_deeptree.py).
ORACLES["extract_deep_tree"] = r"""
WITH wordsrc AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS words
  FROM documents
), sized AS (
  SELECT doc_id, words, len(words) AS nw,
         CAST(ceil(len(words) / 4.0) AS INT) AS nparas
  FROM wordsrc WHERE len(words) > 0
), blocks AS (
  SELECT doc_id, words, nparas,
         unnest(range(CAST(ceil(nparas / 3.0) AS INT))) AS b
  FROM sized
)
SELECT doc_id,
       CAST(b // 2 + 1 AS INT) AS page_number,
       CAST(b % 2 + 1 AS INT) AS block_seq,
       CASE WHEN (doc_id * 13 + b) % 7 = 3 THEN 'TABLE' ELSE 'TEXT' END AS kind,
       array_to_string(
         list_transform(range(b * 3, least(b * 3 + 3, nparas)),
           p -> array_to_string(words[p * 4 + 1 : p * 4 + 4], ' ')),
         chr(10)) AS text
FROM blocks
"""

ORACLES["extract_deep_tree_arrow"] = ORACLES["extract_deep_tree"]


# Duplicate clusters = connected components over the checked-MinHash pair
# edges: recursive-CTE transitive closure (terminates because UNION
# dedups), component label = min reachable id — mirrors the fixpoint of
# operators/dedup.duplicate_clusters' min-label propagation.
ORACLES["dedup_clusters"] = (
    "WITH RECURSIVE pairs AS (\n"
    "  SELECT id_a, id_b FROM (\n" + ORACLES["dedup_minhash_checked"] + "\n  )\n"
    "), edges AS (\n"
    "  SELECT id_a AS s, id_b AS d FROM pairs\n"
    "  UNION ALL SELECT id_b, id_a FROM pairs\n"
    "), closure(s, d) AS (\n"
    "  SELECT s, d FROM edges\n"
    "  UNION\n"
    "  SELECT c.s, e.d FROM closure c JOIN edges e ON c.d = e.s\n"
    ")\n"
    "SELECT s AS doc_id, least(s, min(d)) AS cluster_id\n"
    "FROM closure GROUP BY s\n"
)


# Product-quantization ANN — mirrors operators/similarity.pq_topk step
# for step: hash-seeded codebook (same md5 family/order as
# derive_centroids), per-subspace L2 argmin encode (10^-6 integer
# distances, ties to the smaller index), ADC shortlist of 10^-6 integer
# dot terms summed exactly, exact-cosine re-rank of the top rerank*k=40.
# m=16 subspaces of 4 dims over the 64-d embeddings, 16 codebook entries.
ORACLES["knn_pq"] = r"""
WITH q AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings WHERE vec_id < 10),
     c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings WHERE vec_id >= 10),
     seeds AS (
       SELECT row_number() OVER (ORDER BY h, id) - 1 AS ci, e
       FROM (SELECT id, e,
                    ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 14))::BIGINT
                      % 2147483647 AS h
             FROM c)
       ORDER BY h, id LIMIT 16),
     cand AS (
       SELECT c.id, j.j, s.ci,
              CAST(round(1e6 * list_sum(list_transform(range(4), d ->
                (c.e[j.j*4 + d + 1] - s.e[j.j*4 + d + 1])
                * (c.e[j.j*4 + d + 1] - s.e[j.j*4 + d + 1]))))
                AS BIGINT) AS dist
       FROM c, range(16) j(j), seeds s),
     codes AS (
       SELECT id, j, ci FROM (
         SELECT *, row_number() OVER (PARTITION BY id, j
                     ORDER BY dist ASC, ci ASC) AS rk
         FROM cand)
       WHERE rk = 1),
     adc AS (
       SELECT q.id AS query_id, codes.id AS neighbor_id,
              sum(CAST(round(1e6 * list_sum(list_transform(range(4), d ->
                q.e[codes.j*4 + d + 1] * s.e[codes.j*4 + d + 1])))
                AS BIGINT)) AS adc_e6
       FROM q, codes JOIN seeds s ON s.ci = codes.ci
       GROUP BY 1, 2),
     shortlist AS (
       SELECT query_id, neighbor_id FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY adc_e6 DESC, neighbor_id ASC) AS rk
         FROM adc) WHERE rk <= 40),
     sims AS (
       SELECT s.query_id, s.neighbor_id,
              round(list_dot_product(q.e, c.e) /
                (sqrt(list_dot_product(q.e, q.e)) *
                 sqrt(list_dot_product(c.e, c.e))), 4) AS cosine
       FROM shortlist s
       JOIN q ON q.id = s.query_id
       JOIN c ON c.id = s.neighbor_id)
SELECT query_id, CAST(rk AS INT) AS "rank", neighbor_id, cosine
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, neighbor_id ASC) AS rk FROM sims)
WHERE rk <= 5
"""


# Per-doc distinctive terms: integer tf-rarity score tf * (N - df) — the
# TF-IDF ranking shape with no log(), so the cutoff is exact integers.
ORACLES["doc_keywords"] = r"""
WITH words AS (
  SELECT doc_id, unnest(list_filter(
      regexp_split_to_array(lower(text), '\s+'), w -> w <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, CAST(rk AS INT) AS rk, term, score FROM (
  SELECT tf.doc_id, tf.term, tf.tf * (n.n_docs - dfreq.df) AS score,
         row_number() OVER (PARTITION BY tf.doc_id
             ORDER BY tf.tf * (n.n_docs - dfreq.df) DESC, tf.term ASC) AS rk
  FROM tf JOIN dfreq USING (term), n)
WHERE rk <= 3
"""

# Exactly-5-per-source deterministic sample (hash-order reservoir).
ORACLES["stratified_sample_exact"] = r"""
SELECT doc_id, source, CAST(rk AS INT) AS rk FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY
           ('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
             % 2147483647 ASC, doc_id ASC) AS rk
  FROM documents)
WHERE rk <= 5
"""


# ---------------------------------------------------------------------------
# BATCH_7 — remaining TPC-H shapes (schema-adapted; see queries.py).
# ---------------------------------------------------------------------------

# TPC-H Q2 shape: correlated MIN via window over deduped supply pairs.
ORACLES["min_cost_supplier"] = r"""
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
ranked AS (
  SELECT p.l_partkey, p.l_suppkey, s.s_name, s.s_acctbal,
         row_number() OVER (PARTITION BY p.l_partkey
                            ORDER BY s.s_acctbal, p.l_suppkey) AS rk
  FROM pairs p JOIN supplier s ON p.l_suppkey = s.s_suppkey)
SELECT pt.p_partkey, pt.p_name,
       r.l_suppkey AS s_suppkey, r.s_name,
       round(r.s_acctbal, 2) AS s_acctbal
FROM ranked r JOIN part pt ON r.l_partkey = pt.p_partkey
WHERE r.rk = 1
"""

# TPC-H Q4 shape: EXISTS with a non-equi residual.
ORACLES["priority_late_orders"] = r"""
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
"""

# TPC-H Q8 shape: conditional agg over the 7-table join; share emitted as
# the two exact integer-cent sums (see the query docstring).
ORACLES["market_share"] = r"""
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       floor((sum(CASE WHEN n2.n_name = 'NATION_7'
                  THEN CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                            AS BIGINT) ELSE 0 END) + 50) / 100.0) / 100.0
         AS nation_revenue,
       floor((sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                      AS BIGINT)) + 50) / 100.0) / 100.0 AS total_revenue,
       count(*) AS n_lines
FROM lineitem
JOIN orders    ON l_orderkey = o_orderkey
JOIN customer  ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region    ON n1.n_regionkey = r_regionkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'EUROPE'
  AND o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY o_year
"""

# TPC-H Q9 shape: LIKE part filter + profit by supplier nation / year.
ORACLES["product_profit"] = r"""
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS INT) AS o_year,
       floor((sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                       - round(p_retailprice * l_quantity * 5000)
                      AS BIGINT)) + 50) / 100.0) / 100.0 AS profit,
       count(*) AS n_lines
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, year(o_orderdate)
"""

# TPC-H Q10 shape: top-20 by exact integer-cent revenue, then dollars.
ORACLES["returned_item_ranking"] = r"""
WITH per_cust AS (
  SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal,
         n_name AS nation,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                  AS BIGINT)) AS rev_cents
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate <  TIMESTAMP '1996-04-01'
  GROUP BY c_custkey, c_name, round(c_acctbal, 2), n_name)
SELECT c_custkey, c_name, c_acctbal, nation,
       floor((rev_cents + 50) / 100.0) / 100.0 AS revenue
FROM per_cust
ORDER BY rev_cents DESC, c_custkey
LIMIT 20
"""

# TPC-H Q11 shape: HAVING vs scalar subquery, all-integer mean-relative
# threshold (1.5x mean per-part revenue).
ORACLES["important_parts"] = r"""
WITH per_part AS (
  SELECT l_partkey,
         sum(CAST(round(l_extendedprice * 10000) AS BIGINT)) AS value_cents
  FROM lineitem GROUP BY l_partkey),
tot AS (SELECT sum(value_cents) AS total_cents, count(*) AS n_parts
        FROM per_part)
SELECT l_partkey AS p_partkey,
       floor((value_cents + 50) / 100.0) / 100.0 AS value
FROM per_part, tot
WHERE value_cents * 2 * n_parts > 3 * total_cents
"""

# TPC-H Q12 shape: conditional counting by l_linestatus.
ORACLES["linestatus_priority_counts"] = r"""
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_shipdate > o_orderdate
GROUP BY l_linestatus
"""

# TPC-H Q14 shape: promo vs total revenue for one month, exact sums.
ORACLES["promo_revenue"] = r"""
SELECT floor((sum(CASE WHEN p_type = 'PROMO'
                  THEN CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                            AS BIGINT) ELSE 0 END) + 50) / 100.0) / 100.0
         AS promo_revenue,
       floor((sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                      AS BIGINT)) + 50) / 100.0) / 100.0 AS total_revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate <  TIMESTAMP '1996-10-01'
"""

# TPC-H Q16 shape: anti-join blacklist + per-group distinct count.
ORACLES["supplier_cnt"] = r"""
WITH pairs AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
  WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                          WHERE s_acctbal < 0))
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM pairs JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
GROUP BY p_brand, p_type, p_size
"""


# Grouped-map recursive integer EWMA: DuckDB replays the per-user
# recursion with WITH RECURSIVE (the construct Spark SQL lacks, just as
# DuckDB lacks applyInArrow — each engine on its own strength).  Values
# are non-negative so // (truncation) == floor on both sides.
ORACLES["events_ewma"] = r"""
WITH RECURSIVE seqd AS (
  SELECT user_id,
         CAST(round(value * 100) AS BIGINT) AS c,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events),
counts AS (
  SELECT user_id, max(rn) AS n_events FROM seqd GROUP BY user_id),
rec AS (
  SELECT user_id, rn, c AS s FROM seqd WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.rn, (r.s + s.c) // 2
  FROM rec r JOIN seqd s ON s.user_id = r.user_id AND s.rn = r.rn + 1)
SELECT r.user_id, cnt.n_events, r.s AS ewma_cents
FROM rec r JOIN counts cnt
  ON r.user_id = cnt.user_id AND r.rn = cnt.n_events
"""


# Histogram quantile sketch: identical binning + cumulative-threshold
# arithmetic (all exact-rounded IEEE ops), so the estimate is bit-equal.
ORACLES["value_quantiles_sketch"] = r"""
WITH stats AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
binned AS (
  SELECT event_type,
         CAST(least(floor((value - mn) * 1024 / greatest(mx - mn, 1e-9)),
                    1023) AS INT) AS bin
  FROM events, stats),
counts AS (
  SELECT event_type, bin, count(*) AS c FROM binned GROUP BY event_type, bin),
cum AS (
  SELECT event_type, bin,
         sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cumc,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM counts)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n,
       round(mn + min(CASE WHEN cumc >= ceil(0.5 * n) THEN bin END)
                  * (mx - mn) / 1024, 4) AS p50_est,
       round(mn + min(CASE WHEN cumc >= ceil(0.9 * n) THEN bin END)
                  * (mx - mn) / 1024, 4) AS p90_est,
       round(mn + min(CASE WHEN cumc >= ceil(0.99 * n) THEN bin END)
                  * (mx - mn) / 1024, 4) AS p99_est
FROM cum, stats
GROUP BY event_type, mn, mx
"""


# boilerplate removal: mirror operators/boilerplate.py — per-source df of
# md5(lower(trim(text))) over DISTINCT docs, drop TEXT spans whose
# fingerprint reaches min_df=2, renumber seq in offset order.
ORACLES["boilerplate_removal"] = SPANS_CTE + r"""
, __src AS (
  SELECT s.doc_id, d.source, s.off, s.kind, s.text, s.media_ref
  FROM __spans s JOIN documents d USING (doc_id)
), __fps AS (
  SELECT DISTINCT source, md5(lower(trim(text))) AS fp, doc_id
  FROM __src WHERE kind = 'TEXT' AND text IS NOT NULL
), __dict AS (
  SELECT source, fp FROM __fps GROUP BY source, fp HAVING count(*) >= 2
), __kept AS (
  SELECT doc_id, off, kind, text, media_ref
  FROM __src s
  WHERE NOT (kind = 'TEXT' AND EXISTS (
    SELECT 1 FROM __dict d
    WHERE d.source = s.source AND d.fp = md5(lower(trim(s.text)))))
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY off) AS INT) AS seq,
       kind, text, media_ref, off AS "offset"
FROM __kept
"""

ORACLES["boilerplate_audit"] = SPANS_CTE + r"""
, __src AS (
  SELECT s.doc_id, d.source, s.kind, s.text
  FROM __spans s JOIN documents d USING (doc_id)
), __fps AS (
  SELECT DISTINCT source, md5(lower(trim(text))) AS fp, doc_id
  FROM __src WHERE kind = 'TEXT' AND text IS NOT NULL
), __rk AS (
  SELECT source, fp, df,
         row_number() OVER (PARTITION BY source
                            ORDER BY df DESC, fp ASC) AS rk
  FROM (SELECT source, fp, count(*) AS df
        FROM __fps GROUP BY source, fp HAVING count(*) >= 2)
)
SELECT 'boilerplate_dict' AS cap_name, CAST(2 AS INT) AS cap_value,
       count(*) AS dropped_groups,
       CAST(coalesce(sum(df), 0) AS BIGINT) AS dropped_rows
FROM __rk WHERE rk > 2
"""


# DOM strip round trip: the HTML synthesizer's only non-boilerplate text
# is the document's own words, so the expected main_text is simply the
# whitespace-normalized original — computed here without any HTML.
_HTML_MAIN = (
    r"""
SELECT doc_id,
       array_to_string(list_filter(regexp_split_to_array(text, '\s+'),
                                   w -> w <> ''), ' ') AS main_text,
       CAST("""
    + _TOKENS.format(col="text")
    + r""" AS INT) AS n_tokens
FROM documents
"""
)
ORACLES["html_main_content"] = _HTML_MAIN
ORACLES["html_main_content_simple"] = _HTML_MAIN


# Layout parse twins (operators/layout.py): the same integer-milli
# two-column geometry, gap segmentation, and newspaper reading order,
# re-derived in SQL.  Everything is integer arithmetic, so the value
# check is exact in both engines.
_LAYOUT_BLOCKS_CTES = SPANS_CTE + r"""
, __r AS (
  SELECT doc_id,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY off) - 1
              AS BIGINT) AS k,
         coalesce(text, media_ref) AS repr
  FROM __spans
), __g AS (
  SELECT doc_id, repr,
         CAST(k % 2 AS INT) AS col,
         CAST((k // 2) // 9 AS INT) AS page,
         ((k // 2) % 9) * 60 + (((k // 2) % 9) // 3) * 50 AS y0
  FROM __r
), __b AS (
  SELECT *, y0 + 40 AS y1,
         CASE WHEN lag(y0 + 40) OVER w IS NULL
                   OR y0 - lag(y0 + 40) OVER w > 50
              THEN 1 ELSE 0 END AS opens
  FROM __g WINDOW w AS (PARTITION BY doc_id, page, col ORDER BY y0)
), __bb AS (
  SELECT *, CAST(sum(opens) OVER (PARTITION BY doc_id, page, col ORDER BY y0
                                  ROWS UNBOUNDED PRECEDING) AS INT) AS block_id
  FROM __b
), __blocks AS (
  SELECT doc_id, page, col, block_id,
         CAST(min(y0) AS INT) AS y_top,
         CAST(max(y1) AS INT) AS y_bottom,
         CAST(count(*) AS INT) AS span_cnt,
         string_agg(repr, ' ' ORDER BY y0) AS block_text
  FROM __bb GROUP BY doc_id, page, col, block_id
)
"""

ORACLES["layout_blocks"] = _LAYOUT_BLOCKS_CTES + r"""
SELECT * FROM __blocks
"""

ORACLES["layout_reading_order"] = _LAYOUT_BLOCKS_CTES + r"""
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id
                               ORDER BY page, col, y_top) AS INT) AS reading_seq,
       page, col, block_text
FROM __blocks
"""


# Context-window chunking twin (operators/sampling.chunk_documents):
# same 64/48 window arithmetic, all integer, list-slice mirrored.
ORACLES["chunk_documents"] = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS toks
  FROM documents
), c AS (
  SELECT doc_id, toks, len(toks) AS n,
         CASE WHEN len(toks) <= 64 THEN 1
              ELSE CAST(1 + (len(toks) - 64 + 47) // 48 AS INT) END AS n_chunks
  FROM t
)
SELECT doc_id,
       CAST(i AS INT) AS chunk_id,
       CAST(n_chunks AS INT) AS n_chunks,
       CAST(least(64, n - i * 48) AS INT) AS chunk_len,
       array_to_string(toks[i*48+1 : i*48+64], ' ') AS chunk_text
FROM (SELECT *, unnest(range(n_chunks)) AS i FROM c)
"""


# Vocabulary induction + OOV twin (operators/textstats.vocab_coverage).
ORACLES["vocab_coverage"] = r"""
WITH w AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            x -> x <> '')) AS term
  FROM documents
), v AS (
  SELECT term FROM (
    SELECT term, count(*) AS n FROM w GROUP BY term
  ) ORDER BY n DESC, term ASC LIMIT 1024
), agg AS (
  SELECT w.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oov,
         CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) * 1000
              // count(*) AS INT) AS oov_permille
  FROM w LEFT JOIN v ON w.term = v.term
  GROUP BY w.doc_id
)
SELECT d.doc_id,
       coalesce(a.n_tokens, 0) AS n_tokens,
       coalesce(a.n_oov, 0) AS n_oov,
       CAST(coalesce(a.oov_permille, 0) AS INT) AS oov_permille
FROM documents d LEFT JOIN agg a USING (doc_id)
"""

ORACLES["layout_reading_order_rowlocal"] = ORACLES["layout_reading_order"]


# Link-density block classification (operators/dom.extract_html_dense):
# datagen.derive_linked_html_from_documents renders block i of doc d
# with class (d*31+i)%5 — class 0 is fully anchor-wrapped (density 1,
# dropped by the 2*link > total rule), class 1 half-wrapped (kept),
# else plain (kept).  The oracle re-derives the kept set from
# documents.text with the same integer arithmetic, no HTML parsing.
_DENSE = r"""
WITH __base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS words
  FROM documents
), __chunks AS (
  SELECT doc_id, c.i AS i, c.dropped AS dropped, c.chunk AS chunk, c.n AS n
  FROM (
    SELECT doc_id,
           unnest(list_transform(range((len(words) + 7) // 8),
             i -> struct_pack(
                  i := CAST(i AS INT),
                  dropped := ((doc_id * 31 + i) % 5 = 0),
                  chunk := array_to_string(words[i*8+1 : i*8+8], ' '),
                  n := len(words[i*8+1 : i*8+8])))) AS c
    FROM __base
  )
), __agg AS (
  SELECT doc_id,
         string_agg(chunk, ' ' ORDER BY i) FILTER (WHERE NOT dropped)
           AS main_text,
         sum(n) FILTER (WHERE NOT dropped) AS n_tokens,
         count(*) AS n_blocks,
         count(*) FILTER (WHERE dropped) AS n_dropped
  FROM __chunks GROUP BY doc_id
)
SELECT b.doc_id,
       coalesce(a.main_text, '') AS main_text,
       CAST(coalesce(a.n_tokens, 0) AS INT) AS n_tokens,
       CAST(coalesce(a.n_blocks, 0) AS INT) AS n_blocks,
       CAST(coalesce(a.n_dropped, 0) AS INT) AS n_dropped
FROM __base b LEFT JOIN __agg a USING (doc_id)
"""
ORACLES["html_main_dense"] = _DENSE
ORACLES["html_main_dense_simple"] = _DENSE


# Composed web-extraction pipeline (plans/extract_web.py): DOM strip +
# span stats + layout parse joined per document.  Reuses the exact CTEs
# of the single-operator oracles so the composition cannot diverge from
# the pieces it is built from.
ORACLES["extract_web"] = _LAYOUT_BLOCKS_CTES + r"""
, __span_stats AS (
  SELECT doc_id,
         CAST(count(*) AS INT) AS n_spans,
         CAST(sum(CASE WHEN media_ref IS NOT NULL THEN 1 ELSE 0 END)
              AS INT) AS n_media
  FROM __spans GROUP BY doc_id
), __block_stats AS (
  SELECT doc_id,
         CAST(count(*) AS INT) AS n_blocks,
         min(CASE WHEN rk = 1 THEN block_text END) AS first_block
  FROM (SELECT doc_id, block_text,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY page, col, y_top) AS rk
        FROM __blocks)
  GROUP BY doc_id
), __dom AS (""" + _HTML_MAIN + r""")
SELECT d.doc_id, d.main_text, d.n_tokens,
       CAST(coalesce(s.n_spans, 0) AS INT) AS n_spans,
       CAST(coalesce(s.n_media, 0) AS INT) AS n_media,
       CAST(coalesce(b.n_blocks, 0) AS INT) AS n_blocks,
       b.first_block
FROM __dom d
LEFT JOIN __span_stats s USING (doc_id)
LEFT JOIN __block_stats b USING (doc_id)
"""
ORACLES["extract_web_fused"] = ORACLES["extract_web"]


# Text-density classification (operators/dom.extract_html_density):
# re-derive each block's rendered content string from documents.text
# with datagen.derive_density_html_from_documents's exact arithmetic
# (class (doc_id*31+i)%5: 0 -> first-2-words fragment, 1 -> chunk
# space-joined 3x, else plain chunk), then apply the same integer rule
# wc < 7 * max(1, ceil(len(content)/80)).  Both engines judge the SAME
# content string, so keep deriver and oracle in lockstep.
_DENSITY = r"""
WITH __base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS words
  FROM documents
), __chunks AS (
  SELECT doc_id, c.i AS i, c.content AS content, c.wc AS wc
  FROM (
    SELECT doc_id,
           unnest(list_transform(range((len(words) + 7) // 8),
             i -> struct_pack(
                  i := CAST(i AS INT),
                  content := CASE (doc_id * 31 + i) % 5
                    WHEN 0 THEN array_to_string(words[i*8+1 : i*8+2], ' ')
                    WHEN 1 THEN array_to_string(words[i*8+1 : i*8+8], ' ')
                         || ' ' || array_to_string(words[i*8+1 : i*8+8], ' ')
                         || ' ' || array_to_string(words[i*8+1 : i*8+8], ' ')
                    ELSE array_to_string(words[i*8+1 : i*8+8], ' ') END,
                  wc := CASE (doc_id * 31 + i) % 5
                    WHEN 0 THEN least(len(words[i*8+1 : i*8+8]), 2)
                    WHEN 1 THEN 3 * len(words[i*8+1 : i*8+8])
                    ELSE len(words[i*8+1 : i*8+8]) END))) AS c
    FROM __base
  )
), __judged AS (
  SELECT doc_id, i, content, wc,
         wc < 7 * greatest((length(content) + 79) // 80, 1) AS dropped
  FROM __chunks
), __agg AS (
  SELECT doc_id,
         string_agg(content, ' ' ORDER BY i) FILTER (WHERE NOT dropped)
           AS main_text,
         sum(wc) FILTER (WHERE NOT dropped) AS n_tokens,
         count(*) AS n_blocks,
         count(*) FILTER (WHERE dropped) AS n_dropped
  FROM __judged GROUP BY doc_id
)
SELECT b.doc_id,
       coalesce(a.main_text, '') AS main_text,
       CAST(coalesce(a.n_tokens, 0) AS INT) AS n_tokens,
       CAST(coalesce(a.n_blocks, 0) AS INT) AS n_blocks,
       CAST(coalesce(a.n_dropped, 0) AS INT) AS n_dropped
FROM __base b LEFT JOIN __agg a USING (doc_id)
"""
ORACLES["html_main_density"] = _DENSITY
ORACLES["html_main_density_simple"] = _DENSITY


# PDF content-stream parse (operators/pdfstream): re-derive every
# line's position and content from documents.text with
# datagen.derive_pdf_streams_from_documents's exact integer layout
# arithmetic (block i at x=50+(i%2)*300, y=720-(i//2)*40; first 4 words
# on the Tm line, the rest 12 units lower via Td).
_PDF_LINES_CTES = r"""
WITH __base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS words
  FROM documents
), __pblocks AS (
  SELECT doc_id, c.i AS i, c.l1 AS l1, c.l2 AS l2, c.n AS n
  FROM (
    SELECT doc_id,
           unnest(list_transform(range((len(words) + 7) // 8),
             i -> struct_pack(
                  i := CAST(i AS INT),
                  l1 := array_to_string(words[i*8+1 : i*8+4], ' '),
                  l2 := array_to_string(words[i*8+5 : i*8+8], ' '),
                  n := len(words[i*8+1 : i*8+8])))) AS c
    FROM __base
  )
), __plines AS (
  SELECT doc_id, i, 1 AS line,
         CAST(50 + (i % 2) * 300 AS INT) AS x,
         CAST(720 - (i // 2) * 40 AS INT) AS y,
         l1 AS line_text
  FROM __pblocks
  UNION ALL
  SELECT doc_id, i, 2 AS line,
         CAST(50 + (i % 2) * 300 AS INT) AS x,
         CAST(720 - (i // 2) * 40 - 12 AS INT) AS y,
         l2 AS line_text
  FROM __pblocks WHERE n > 4
)
"""

ORACLES["pdf_text_spans"] = _PDF_LINES_CTES + r"""
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i, line) - 1
            AS INT) AS seq,
       x, y, line_text
FROM __plines
"""
ORACLES["pdf_text_spans_simple"] = ORACLES["pdf_text_spans"]

ORACLES["pdf_main_text"] = _PDF_LINES_CTES + r"""
SELECT d.doc_id,
       coalesce(a.main_text, '') AS main_text,
       CAST(coalesce(a.n_spans, 0) AS INT) AS n_spans
FROM documents d LEFT JOIN (
  SELECT doc_id,
         string_agg(line_text, ' ' ORDER BY (x >= 300), -y) AS main_text,
         count(*) AS n_spans
  FROM __plines GROUP BY doc_id
) a USING (doc_id)
"""


ORACLES["local_supplier_volume"] = r"""
SELECT n_name,
       floor(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                      AS BIGINT)) / 100.0 + 0.5) / 100.0 AS revenue,
       count(*) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
"""

ORACLES["forecast_revenue_change"] = r"""
SELECT floor(sum(CAST(round(l_extendedprice * l_discount * 10000)
                      AS BIGINT)) / 100.0 + 0.5) / 100.0 AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


# Combined Readability classification (operators/dom.
# extract_html_classified): both integer rules over the block content
# re-derived from documents.text with datagen.
# derive_classified_html_from_documents's class arithmetic.
_CLASSIFIED = r"""
WITH __base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS words
  FROM documents
), __chunks AS (
  SELECT doc_id, c.i AS i, c.content AS content, c.wc AS wc, c.lwc AS lwc
  FROM (
    SELECT doc_id,
           unnest(list_transform(range((len(words) + 7) // 8),
             i -> struct_pack(
                  i := CAST(i AS INT),
                  content := CASE (doc_id * 31 + i) % 5
                    WHEN 2 THEN array_to_string(words[i*8+1 : i*8+2], ' ')
                    ELSE array_to_string(words[i*8+1 : i*8+8], ' ') END,
                  wc := CASE (doc_id * 31 + i) % 5
                    WHEN 2 THEN least(len(words[i*8+1 : i*8+8]), 2)
                    ELSE len(words[i*8+1 : i*8+8]) END,
                  lwc := CASE (doc_id * 31 + i) % 5
                    WHEN 0 THEN len(words[i*8+1 : i*8+8])
                    WHEN 1 THEN len(words[i*8+1 : i*8+8]) // 2
                    ELSE 0 END))) AS c
    FROM __base
  )
), __judged AS (
  SELECT doc_id, i, content, wc,
         (2 * lwc > wc)
         OR (wc < 7 * greatest((length(content) + 79) // 80, 1)) AS dropped
  FROM __chunks
), __agg AS (
  SELECT doc_id,
         string_agg(content, ' ' ORDER BY i) FILTER (WHERE NOT dropped)
           AS main_text,
         sum(wc) FILTER (WHERE NOT dropped) AS n_tokens,
         count(*) AS n_blocks,
         count(*) FILTER (WHERE dropped) AS n_dropped
  FROM __judged GROUP BY doc_id
)
SELECT b.doc_id,
       coalesce(a.main_text, '') AS main_text,
       CAST(coalesce(a.n_tokens, 0) AS INT) AS n_tokens,
       CAST(coalesce(a.n_blocks, 0) AS INT) AS n_blocks,
       CAST(coalesce(a.n_dropped, 0) AS INT) AS n_dropped
FROM __base b LEFT JOIN __agg a USING (doc_id)
"""
ORACLES["html_main_classified"] = _CLASSIFIED
ORACLES["html_main_classified_simple"] = _CLASSIFIED


# Composed variant with the full Readability classifier in the DOM
# branch — reuses the span/layout CTEs of extract_web and embeds the
# html_main_classified oracle as a parenthesized WITH subquery, so the
# composition cannot diverge from its pieces.
ORACLES["extract_web_classified"] = _LAYOUT_BLOCKS_CTES + r"""
, __span_stats AS (
  SELECT doc_id,
         CAST(count(*) AS INT) AS n_spans,
         CAST(sum(CASE WHEN media_ref IS NOT NULL THEN 1 ELSE 0 END)
              AS INT) AS n_media
  FROM __spans GROUP BY doc_id
), __block_stats AS (
  SELECT doc_id,
         CAST(count(*) AS INT) AS n_blocks,
         min(CASE WHEN rk = 1 THEN block_text END) AS first_block
  FROM (SELECT doc_id, block_text,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY page, col, y_top) AS rk
        FROM __blocks)
  GROUP BY doc_id
), __dom AS (""" + _CLASSIFIED + r""")
SELECT d.doc_id, d.main_text, d.n_tokens,
       d.n_blocks AS n_html_blocks,
       d.n_dropped AS n_html_dropped,
       CAST(coalesce(s.n_spans, 0) AS INT) AS n_spans,
       CAST(coalesce(s.n_media, 0) AS INT) AS n_media,
       CAST(coalesce(b.n_blocks, 0) AS INT) AS n_blocks,
       b.first_block
FROM __dom d
LEFT JOIN __span_stats s USING (doc_id)
LEFT JOIN __block_stats b USING (doc_id)
"""


# Media-span PDF parse round trip: the engine renders one content
# stream per media span, byte-parses it back, and reassembles in
# y-descending order; the oracle states the expected round-trip
# identity directly from the span derivation.
ORACLES["media_pdf_layout"] = SPANS_CTE + r"""
SELECT doc_id,
       off AS "offset",
       CAST(CASE WHEN off % 2 = 1 THEN 2 ELSE 1 END AS INT) AS n_lines,
       'asset ' || media_ref ||
       CASE WHEN off % 2 = 1
            THEN ' doc ' || doc_id || ' span ' || off
            ELSE '' END AS asset_text
FROM __spans WHERE media_ref IS NOT NULL
"""

ORACLES["extract_web_classified_fused"] = ORACLES["extract_web_classified"]


# Integer-milli Flesch-Kincaid (operators/textstats.readability_profile
# over 12-word planted sentences): re-derived from documents.text with
# the same integer arithmetic — W words, S = max(ceil(W/12), 1)
# sentences, Sy = sum over words of max(1, vowel-group count).
ORACLES["readability_scores"] = r"""
WITH __base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS words
  FROM documents
), __stats AS (
  SELECT doc_id,
         len(words) AS w,
         greatest((len(words) + 11) // 12, 1) AS s,
         coalesce(list_sum(list_transform(words,
           wd -> greatest(len(list_filter(
                   regexp_split_to_array(lower(wd), '[^aeiouy]+'),
                   p -> p <> '')), 1))), 0) AS sy
  FROM __base
)
SELECT doc_id,
       CAST(w AS INT) AS n_words,
       CAST(s AS INT) AS n_sentences,
       CAST(sy AS INT) AS n_syllables,
       CAST(CASE WHEN w > 0
            THEN floor(390.0 * w / s) + floor(11800.0 * sy / w) - 15590
            END AS INT) AS fk_milligrade
FROM __stats
"""


# Domain balancing (operators/sampling.cap_per_source): same md5/31-bit
# hash family as every checked sampling operator (functions/hashing.py
# — single source of truth; SQL twin documented there).
ORACLES["cap_per_source"] = r"""
SELECT doc_id, source, source_rank
FROM (
  SELECT doc_id, source,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)
                         AS BIGINT) % 2147483647 ASC,
                    doc_id ASC) AS INT) AS source_rank
  FROM documents
)
WHERE source_rank <= 20
"""


# Intra-document dedup (textstats.dedup_intra_doc over doubled text):
# first-occurrence-wins on exact 8-word chunks, re-derived with the
# same chunk arithmetic over the doubled word list.
ORACLES["dedup_intra_doc"] = r"""
WITH __base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(
           CASE WHEN length(text) > 0 THEN text || ' ' || text ELSE text END,
           '\s+'), w -> w <> '') AS words
  FROM documents
), __chunks AS (
  SELECT doc_id, c.i AS i, c.chunk AS chunk
  FROM (
    SELECT doc_id,
           unnest(list_transform(range((len(words) + 7) // 8),
             i -> struct_pack(
                  i := CAST(i AS INT),
                  chunk := array_to_string(words[i*8+1 : i*8+8], ' ')))) AS c
    FROM __base
  )
), __ranked AS (
  SELECT doc_id, i, chunk,
         row_number() OVER (PARTITION BY doc_id, chunk ORDER BY i) AS rk
  FROM __chunks
), __agg AS (
  SELECT doc_id,
         string_agg(chunk, ' ' ORDER BY i) FILTER (WHERE rk = 1)
           AS clean_text,
         count(*) AS n_chunks,
         count(*) FILTER (WHERE rk > 1) AS n_removed
  FROM __ranked GROUP BY doc_id
)
SELECT b.doc_id,
       coalesce(a.clean_text, '') AS clean_text,
       CAST(coalesce(a.n_chunks, 0) AS INT) AS n_chunks,
       CAST(coalesce(a.n_removed, 0) AS INT) AS n_removed
FROM __base b LEFT JOIN __agg a USING (doc_id)
"""


# Gopher word-level quality rules (textstats.gopher_quality_rules):
# same integer arithmetic over the whitespace word list.
ORACLES["gopher_quality"] = r"""
WITH __base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS words
  FROM documents
), __stats AS (
  SELECT doc_id,
         len(words) AS w,
         coalesce(list_sum(list_transform(words, x -> len(x))), 0) AS chars,
         len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
           AS alpha,
         len(list_filter(['the','and','of','a','to','in'],
             s -> list_contains(list_transform(words, x -> lower(x)), s)))
           AS stop_hits
  FROM __base
)
SELECT doc_id,
       CAST(w AS INT) AS n_words,
       CAST(chars AS INT) AS n_chars,
       CAST(alpha AS INT) AS n_alpha_words,
       CAST(stop_hits AS INT) AS n_stop_hits,
       (w >= 50 AND w <= 100000 AND 3*w <= chars AND chars <= 10*w
        AND 5*alpha >= 4*w AND stop_hits >= 2) AS passes_gopher
FROM __stats
"""


# Composed quality gates (q_quality_pipeline): gopher rules -> intra-doc
# dedup -> FK readability over the cleaned words, all re-derived with
# the single-operator arithmetic over the doubled word list.
ORACLES["quality_pipeline"] = r"""
WITH __base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(
           CASE WHEN length(text) > 0 THEN text || ' ' || text ELSE text END,
           '\s+'), w -> w <> '') AS words
  FROM documents
), __gq AS (
  SELECT doc_id, len(words) AS w
  FROM __base
  WHERE len(words) >= 100 AND len(words) <= 100000
    AND 3*len(words) <= coalesce(list_sum(list_transform(words, x -> len(x))), 0)
    AND coalesce(list_sum(list_transform(words, x -> len(x))), 0) <= 10*len(words)
    AND 5*len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
        >= 4*len(words)
    AND len(list_filter(['the','and','of','a','to','in'],
            s -> list_contains(list_transform(words, x -> lower(x)), s))) >= 2
), __chunks AS (
  SELECT b.doc_id, c.i AS i, c.chunk AS chunk
  FROM (
    SELECT doc_id,
           unnest(list_transform(range((len(words) + 7) // 8),
             i -> struct_pack(
                  i := CAST(i AS INT),
                  chunk := array_to_string(words[i*8+1 : i*8+8], ' ')))) AS c
    FROM __base
  ) b JOIN __gq USING (doc_id)
), __kept AS (
  SELECT doc_id, i, chunk
  FROM (SELECT doc_id, i, chunk,
               row_number() OVER (PARTITION BY doc_id, chunk ORDER BY i) AS rk
        FROM __chunks)
  WHERE rk = 1
), __clean AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(
           string_agg(chunk, ' ' ORDER BY i), '\s+'), w -> w <> '') AS cwords,
         (SELECT count(*) FROM __chunks c2 WHERE c2.doc_id = __kept.doc_id)
           - count(*) AS n_removed
  FROM __kept GROUP BY doc_id
), __scored AS (
  SELECT doc_id, n_removed,
         len(cwords) AS w2,
         coalesce(list_sum(list_transform(cwords,
           wd -> greatest(len(list_filter(
                   regexp_split_to_array(lower(wd), '[^aeiouy]+'),
                   p -> p <> '')), 1))), 0) AS sy
  FROM __clean
)
SELECT g.doc_id,
       CAST(g.w AS INT) AS n_words,
       CAST(s.n_removed AS INT) AS n_removed,
       CAST(s.sy AS INT) AS n_syllables,
       CAST(CASE WHEN s.w2 > 0
            THEN floor(390.0 * s.w2 / 1) + floor(11800.0 * s.sy / s.w2) - 15590
            END AS INT) AS fk_milligrade
FROM __gq g JOIN __scored s USING (doc_id)
"""


# Exact per-source order statistics (q_source_length_stats): lower
# median by rank — integer arithmetic, no approximate sketch.
ORACLES["source_length_stats"] = r"""
WITH s AS (
  SELECT source, doc_id,
         len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))
           AS w
  FROM documents
), r AS (
  SELECT source, w,
         row_number() OVER (PARTITION BY source ORDER BY w, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n_docs,
         min(w) OVER (PARTITION BY source) AS min_words,
         max(w) OVER (PARTITION BY source) AS max_words
  FROM s
)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(min_words AS INT) AS min_words,
       CAST(w AS INT) AS median_words,
       CAST(max_words AS INT) AS max_words
FROM r WHERE rn = (n_docs + 1) // 2
"""


# Batch twin of the streaming curation gate chain
# (q_curation_gates_rowlocal): plant PII -> quality gate (>= 3000 bp)
# -> row-local repetition gate (value-identical to the aggregated
# gopher_repetition flag, so the oracle reuses that form) -> PII
# redaction chain -> hash split.  All scoring runs on COALESCE(t0, '')
# exactly like the engine's null-coalescing column helpers; redaction
# runs on the raw t0 (NULL stays NULL in both engines).
ORACLES["curation_gates_rowlocal"] = r"""
WITH p AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN rtrim(repeat('spam ', 40)) ELSE text END
           || ' contact user-' || CAST(doc_id AS VARCHAR) || '@example.com tel '
              || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
              || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0') || '-'
              || lpad(CAST((doc_id * 13) % 10000 AS VARCHAR), 4, '0')
              || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' AS t0
  FROM documents
), base AS (
  SELECT doc_id, t0, COALESCE(t0, '') AS t,
         list_filter(regexp_split_to_array(COALESCE(t0, ''), '\s+'),
                     w -> w <> '') AS words
  FROM p
), scored AS (
  SELECT doc_id, t0,
         """ + _quality_bp_sql("words", "t") + r""" AS qs
  FROM base
), lw AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(COALESCE(t0, '')), '\s+'),
                            w -> w <> '')) AS w
  FROM p
), per_word AS (
  SELECT doc_id, w, count(*) AS c FROM lw GROUP BY doc_id, w
), prof AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         max(c) AS top, count(*) AS uniq
  FROM per_word GROUP BY doc_id
), flags AS (
  SELECT doc_id,
         (n_tokens >= 10 AND
          (floor(10000.0 * top / n_tokens) > 3000
           OR floor(10000.0 * uniq / n_tokens) < 3000)) AS flagged
  FROM prof
), kept AS (
  SELECT s.doc_id, s.t0
  FROM scored s LEFT JOIN flags f USING (doc_id)
  WHERE s.qs >= 7000 AND NOT COALESCE(f.flagged, FALSE)
), s1 AS (
  SELECT doc_id,
         regexp_replace(t0,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t1
  FROM kept
), s2 AS (
  SELECT doc_id, regexp_replace(t1, '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g') AS t2
  FROM s1
)
SELECT doc_id,
       regexp_replace(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g')
           AS clean_text,
       CASE
         WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
              % 2147483647 % 100 < 80 THEN 'train'
         WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
              % 2147483647 % 100 < 90 THEN 'val'
         ELSE 'test'
       END AS split
FROM s2
"""


# Cross-document passage dedup (q_dedup_cross_doc): global
# first-occurrence-wins over 8-word chunks, (doc_id, idx) order —
# row_number() = 1 in DuckDB mirrors min(struct(doc_id, idx)) in the
# engine.  The input unions an id-shifted echo copy so the gate fires.
ORACLES["dedup_cross_doc"] = r"""
WITH p AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id, text
  FROM documents
), __base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(COALESCE(text, ''), '\s+'),
                     w -> w <> '') AS words
  FROM p
), __chunks AS (
  SELECT doc_id, c.i AS i, c.chunk AS chunk
  FROM (
    SELECT doc_id,
           unnest(list_transform(range((len(words) + 7) // 8),
             i -> struct_pack(
                  i := CAST(i AS INT),
                  chunk := array_to_string(words[i*8+1 : i*8+8], ' ')))) AS c
    FROM __base
  )
), __ranked AS (
  SELECT doc_id, i, chunk,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, i) AS rk
  FROM __chunks
), __agg AS (
  SELECT doc_id,
         string_agg(chunk, ' ' ORDER BY i) FILTER (WHERE rk = 1)
           AS clean_text,
         count(*) AS n_chunks,
         count(*) FILTER (WHERE rk = 1) AS n_kept
  FROM __ranked GROUP BY doc_id
)
SELECT b.doc_id,
       coalesce(a.clean_text, '') AS clean_text,
       CAST(coalesce(a.n_chunks, 0) AS INT) AS n_chunks,
       CAST(coalesce(a.n_chunks, 0) - coalesce(a.n_kept, 0) AS INT)
         AS n_removed
FROM (SELECT doc_id FROM p) b LEFT JOIN __agg a USING (doc_id)
"""


# Gopher line-level + n-gram repetition filters
# (q_gopher_repetition_full): mirrors the deterministic restructuring
# (two-word loop for doc_id%7, duplicated first line for doc_id%3) and
# the integer-bp signals.  The top-gram count uses the O(u*n) list form
# (fine at oracle tiers); the engine uses the sorted max-run fold.
ORACLES["gopher_repetition_full"] = r"""
WITH p0 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN rtrim(repeat('tick tock ', 30))
              ELSE COALESCE(text, '') END AS t
  FROM documents
), pw AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(t, '\s+'), w -> w <> '') AS words
  FROM p0
), built AS (
  SELECT doc_id,
         array_to_string(words[1:6], ' ') || chr(10) ||
         array_to_string(words[7:len(words)], ' ') || chr(10) ||
         CASE WHEN doc_id % 3 = 0 THEN array_to_string(words[1:6], ' ')
              ELSE 'unique tail line' END AS t2
  FROM pw
), sig AS (
  SELECT doc_id,
         list_filter(list_transform(regexp_split_to_array(t2, chr(10)),
                                    s -> trim(s)), s -> s <> '') AS lines,
         list_filter(regexp_split_to_array(lower(t2), '\s+'),
                     w -> w <> '') AS lw
  FROM built
), grams AS (
  SELECT doc_id, lines,
         list_transform(range(greatest(len(lw) - 1, 0)),
                        i -> array_to_string(lw[i+1:i+2], ' ')) AS g2,
         list_transform(range(greatest(len(lw) - 2, 0)),
                        i -> array_to_string(lw[i+1:i+3], ' ')) AS g3,
         list_transform(range(greatest(len(lw) - 3, 0)),
                        i -> array_to_string(lw[i+1:i+4], ' ')) AS g4
  FROM sig
), scored AS (
  SELECT doc_id,
         CAST(len(lines) AS INT) AS n_lines,
         CAST(CASE WHEN len(lines) > 0 THEN floor(10000.0 *
              (len(lines) - len(list_distinct(lines))) / len(lines))
              ELSE 0 END AS INT) AS dup_line_frac_bp,
         CAST(CASE WHEN COALESCE(list_sum(list_transform(lines,
                   s -> length(s))), 0) > 0
              THEN floor(10000.0 *
                   (list_sum(list_transform(lines, s -> length(s)))
                    - list_sum(list_transform(list_distinct(lines),
                                              s -> length(s))))
                   / list_sum(list_transform(lines, s -> length(s))))
              ELSE 0 END AS INT) AS dup_line_char_frac_bp,
         CAST(CASE WHEN len(g2) > 0 THEN floor(10000.0 *
              list_max(list_transform(list_distinct(g2),
                  x -> len(list_filter(g2, y -> y = x)))) / len(g2))
              ELSE 0 END AS INT) AS top_2gram_share_bp,
         CAST(CASE WHEN len(g3) > 0 THEN floor(10000.0 *
              list_max(list_transform(list_distinct(g3),
                  x -> len(list_filter(g3, y -> y = x)))) / len(g3))
              ELSE 0 END AS INT) AS top_3gram_share_bp,
         CAST(CASE WHEN len(g4) > 0 THEN floor(10000.0 *
              list_max(list_transform(list_distinct(g4),
                  x -> len(list_filter(g4, y -> y = x)))) / len(g4))
              ELSE 0 END AS INT) AS top_4gram_share_bp
  FROM grams
)
SELECT doc_id, n_lines, dup_line_frac_bp, dup_line_char_frac_bp,
       top_2gram_share_bp, top_3gram_share_bp, top_4gram_share_bp,
       (dup_line_frac_bp > 3000 OR dup_line_char_frac_bp > 2000
        OR top_2gram_share_bp > 2000 OR top_3gram_share_bp > 1800
        OR top_4gram_share_bp > 1600) AS flagged_full
FROM scored
"""


# Temperature mixing (q_temperature_mix): p_i ~ n_i^0.3, target 50%,
# rate quantized floor(x + 0.5) to ppm, membership by the md5/31-bit
# hash family — identical association order to the engine expression.
ORACLES["temperature_mix"] = r"""
WITH p AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 < 5 THEN 'a'
              WHEN doc_id % 10 < 8 THEN 'b'
              WHEN doc_id % 10 < 9 THEN 'c'
              ELSE 'd' END AS stratum
  FROM documents
), c AS (
  SELECT stratum, count(*) AS n FROM p GROUP BY stratum
), t AS (
  SELECT sum(n) AS tot, sum(pow(CAST(n AS DOUBLE), 0.3)) AS wsum FROM c
), r AS (
  SELECT stratum,
         CAST(least(1000000, floor(
           (500000.0 * tot) * pow(CAST(n AS DOUBLE), 0.3) / (wsum * n) + 0.5
         )) AS INT) AS rate_ppm
  FROM c, t
)
SELECT p.doc_id, p.stratum, r.rate_ppm
FROM p JOIN r USING (stratum)
WHERE ('0x' || substr(md5('tmix:' || CAST(p.doc_id AS VARCHAR)), 1, 14))::BIGINT
      % 2147483647 % 1000000 < r.rate_ppm
"""


def _bpe_rounds_sql(n_merges: int, *, min_pair_count: int = 2) -> str:
    """The shared chained-CTE core of the BPE oracles: per round, a
    weighted pair count, the (count DESC, left, right) argmax GUARDED by
    ``min_pair_count`` (an under-threshold round yields an EMPTY b{i},
    leaves the symbols unchanged, and therefore empties every later
    round too — mirroring the engine's break), and the greedy merge
    applied as a struct-accumulator ``list_reduce`` fold — the exact
    reference semantics (a string-replace formulation matched ACROSS
    symbol boundaries and was wrong; see operators/bpe.py).  DuckDB
    forbids subqueries inside lambdas, so each round's merge strings are
    hoisted through a 1-row m{i} relation (chr(30) sentinel when the
    round is empty — matches no symbol, so the fold is an identity
    rebuild)."""
    head = r"""
WITH w0 AS (
  SELECT word, count(*) AS freq
  FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                  w -> w <> '')) AS word
        FROM documents)
  WHERE NOT contains(word, chr(31))
  GROUP BY word
), s0 AS (
  SELECT word, freq,
         array_to_string(list_transform(range(length(word)),
             i -> substring(word, CAST(i + 1 AS INT), 1)), chr(31)) AS syms
  FROM w0
)"""
    fold = (
        "list_reduce(list_transform(string_split(syms, chr(31)), "
        "s -> struct_pack(o := '', p := s)), "
        "(acc, x) -> CASE WHEN acc.p = ml AND x.p = mr "
        "THEN struct_pack(o := acc.o || CASE WHEN acc.o = '' THEN '' "
        "ELSE chr(31) END || mm, p := CAST(NULL AS VARCHAR)) "
        "ELSE struct_pack(o := CASE WHEN acc.p IS NULL THEN acc.o "
        "ELSE acc.o || CASE WHEN acc.o = '' THEN '' ELSE chr(31) END || acc.p END, "
        "p := x.p) END)"
    )
    rounds = []
    for i in range(n_merges):
        rounds.append(f""", p{i} AS (
  SELECT pr.l AS l, pr.r AS r, sum(freq) AS c
  FROM (
    SELECT freq,
           unnest(list_transform(range(greatest(len(s) - 1, 0)),
               j -> struct_pack(l := s[j+1], r := s[j+2]))) AS pr
    FROM (SELECT freq, string_split(syms, chr(31)) AS s FROM s{i})
  )
  GROUP BY pr.l, pr.r
), b{i} AS (
  SELECT {i + 1} AS "rank", l, r, l || r AS merged,
         CAST(c AS BIGINT) AS pair_count
  FROM p{i} WHERE c >= {min_pair_count} ORDER BY c DESC, l, r LIMIT 1
), m{i} AS (
  SELECT coalesce((SELECT l FROM b{i}), chr(30)) AS ml,
         coalesce((SELECT r FROM b{i}), chr(30)) AS mr,
         coalesce((SELECT l || r FROM b{i}), chr(30)) AS mm
), s{i + 1} AS (
  SELECT word, freq,
         CASE WHEN red.p IS NULL THEN red.o
              ELSE red.o || CASE WHEN red.o = '' THEN '' ELSE chr(31) END
                   || red.p END AS syms
  FROM (SELECT word, freq, {fold} AS red
        FROM s{i} CROSS JOIN m{i})
)""")
    return head + "".join(rounds)


def _materialize_ctes(sql: str) -> str:
    """Force MATERIALIZED on every CTE: the BPE rounds reference each
    other multiply (pairs + three hoisted merge-string subqueries per
    round), and DuckDB's default CTE inlining makes the plan grow
    exponentially with rounds — the inlined 6-round query never
    finishes, the materialized one runs in ~0.1 s."""
    return sql.replace(" AS (", " AS MATERIALIZED (")


def _bpe_merges_oracle(n_merges: int) -> str:
    """Twin of q_bpe_merges: the learned merge table (empty rounds union
    away, mirroring the engine's early stop)."""
    union = " UNION ALL ".join(f'SELECT * FROM b{i}' for i in range(n_merges))
    return _materialize_ctes(_bpe_rounds_sql(n_merges)) + f"""
SELECT "rank", l AS "left", r AS "right", merged, pair_count
FROM ({union}) ORDER BY "rank"
"""


ORACLES["bpe_merges"] = _bpe_merges_oracle(6)


def _bpe_token_count_oracle(n_merges: int) -> str:
    """Twin of q_bpe_token_count: re-learn the same ``n_merges`` merges
    on THIS corpus, then count each document's subword tokens by
    joining its words to the TRAINED final symbol table s{n} (every
    corpus word is in the vocabulary by construction, and the engine's
    per-doc encoder applies the identical greedy folds, so the trained
    table IS the encoding).  Checks the encoder against data-dependent
    learned merges."""
    return _materialize_ctes(_bpe_rounds_sql(n_merges)) + f""", enc AS MATERIALIZED (
  SELECT word, CAST(len(string_split(syms, chr(31))) AS INT) AS ntok
  FROM s{n_merges}
), per_doc AS MATERIALIZED (
  SELECT d.doc_id,
         CAST(COALESCE(sum(e.ntok), 0) AS INT) AS n_bpe_tokens,
         CAST(count(e.ntok) AS INT) AS n_words
  FROM (SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(lower(COALESCE(text, '')),
                                                        '\\s+'),
                      w -> w <> '' AND NOT contains(w, chr(31))))
                 AS word
        FROM documents) d
  LEFT JOIN enc e USING (word)
  GROUP BY d.doc_id
)
SELECT doc_id,
       COALESCE(p.n_bpe_tokens, 0) AS n_bpe_tokens,
       COALESCE(p.n_words, 0) AS n_words
FROM documents LEFT JOIN per_doc p USING (doc_id)
"""


ORACLES["bpe_token_count"] = _bpe_token_count_oracle(6)


# Count-Min sketch over events.user_id (q_cms_user_counts): four salted
# md5/31-bit hash rows x 256 counters, all integer.
ORACLES["cms_user_counts"] = r"""
SELECT row, col, count(*) AS count
FROM (
  SELECT u.j AS row,
         CAST(('0x' || substr(md5('cms' || u.j || ':' ||
               CAST(user_id AS VARCHAR)), 1, 14))::BIGINT
              % 2147483647 % 256 AS INT) AS col
  FROM events, unnest([0, 1, 2, 3]) AS u(j)
)
GROUP BY row, col
"""

# HyperLogLog register table over events.user_id (q_hll_user_registers,
# b=6): register = h % 64, rho = 25 - len(bin(h // 64)) + 1 (both
# engines render bin() without leading zeros), max per register.
ORACLES["hll_user_registers"] = r"""
WITH h AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 14))::BIGINT
         % 2147483647 AS h
  FROM events
)
SELECT CAST(h % 64 AS INT) AS register,
       CAST(max(CASE WHEN h // 64 > 0 THEN 25 - length(bin(h // 64)) + 1
                     ELSE 26 END) AS INT) AS max_rho
FROM h GROUP BY h % 64
"""


# Corpus-trained bigram LM rarity features (q_lm_rarity): corpus pair
# counts joined back to each doc's pairs; integer bp arithmetic.
ORACLES["lm_rarity"] = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(COALESCE(text, '')), '\s+'),
                     w -> w <> '') AS lw
  FROM documents
), bi AS (
  SELECT doc_id, pr.w1 AS w1, pr.w2 AS w2
  FROM (SELECT doc_id,
               unnest(list_transform(range(greatest(len(lw) - 1, 0)),
                   i -> struct_pack(w1 := lw[i+1], w2 := lw[i+2]))) AS pr
        FROM toks)
), counts AS (
  SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2
), per_doc AS (
  SELECT b.doc_id, count(*) AS n,
         sum(CASE WHEN c.c2 <= 1 THEN 1 ELSE 0 END) AS nr,
         sum(c.c2) AS sp
  FROM bi b JOIN counts c USING (w1, w2)
  GROUP BY b.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n, 0) AS INT) AS n_bigrams,
       CAST(coalesce(CASE WHEN p.n > 0 THEN floor(10000.0 * p.nr / p.n) END,
                     0) AS INT) AS rare_bigram_bp,
       CAST(coalesce(p.sp, 0) AS BIGINT) AS sum_pair_count
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


# Drop audit for the LM bigram-table min-count floor: the twin rebuilds
# the UNPRUNED pair counts (same derivation as the lm_rarity CTEs) and
# totals the sub-floor tail the engine prunes from its stored table.
ORACLES["lm_pair_audit"] = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(COALESCE(text, '')), '\s+'),
                     w -> w <> '') AS lw
  FROM documents
), bi AS (
  SELECT doc_id, pr.w1 AS w1, pr.w2 AS w2
  FROM (SELECT doc_id,
               unnest(list_transform(range(greatest(len(lw) - 1, 0)),
                   i -> struct_pack(w1 := lw[i+1], w2 := lw[i+2]))) AS pr
        FROM toks)
), counts AS (
  SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2
)
SELECT 'lm_min_pair_count' AS cap_name, CAST(2 AS INT) AS cap_value,
       CAST(coalesce(sum(CASE WHEN c2 < 2 THEN 1 END), 0) AS BIGINT)
         AS dropped_groups,
       CAST(coalesce(sum(CASE WHEN c2 < 2 THEN c2 END), 0) AS BIGINT)
         AS dropped_rows
FROM counts
"""


# Detailed-mode per-level geometry (deep_tree_geometry): one row per node
# at block/paragraph/word level with its text and the deterministic
# integer-milli rectangle.  Mirrors operators/deeptree.py's layout grid
# (block: y half-page; paragraph: 160-milli band; word: 250-milli slot,
# width min(230, len*25)) — keep the three derivations (Spark deriver,
# this SQL, oracle.deep_tree_geometry_rows) in lockstep.
ORACLES["deep_tree_geometry"] = r"""
WITH wordsrc AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS words
  FROM documents
), sized AS (
  SELECT doc_id, words, len(words) AS nw,
         CAST(ceil(len(words) / 4.0) AS INT) AS nparas,
         CAST(ceil(ceil(len(words) / 4.0) / 3.0) AS INT) AS nblocks
  FROM wordsrc WHERE len(words) > 0
), block_rows AS (
  SELECT doc_id, 'block' AS level,
         CAST(b // 2 + 1 AS INT) AS page_number,
         CAST(b % 2 + 1 AS INT) AS block_seq,
         0 AS para_seq, 0 AS word_seq,
         array_to_string(
           list_transform(range(b * 3, least(b * 3 + 3, nparas)),
             p -> array_to_string(words[p * 4 + 1 : p * 4 + 4], ' ')),
           chr(10)) AS text,
         0 AS x0, CAST((b % 2) * 500 AS INT) AS y0,
         1000 AS x1, CAST((b % 2) * 500 + 480 AS INT) AS y1
  FROM sized, unnest(range(nblocks)) t(b)
), para_rows AS (
  SELECT doc_id, 'paragraph' AS level,
         CAST((p // 3) // 2 + 1 AS INT) AS page_number,
         CAST((p // 3) % 2 + 1 AS INT) AS block_seq,
         CAST(p % 3 + 1 AS INT) AS para_seq, 0 AS word_seq,
         array_to_string(words[p * 4 + 1 : p * 4 + 4], ' ') AS text,
         5 AS x0,
         CAST(((p // 3) % 2) * 500 + (p % 3) * 160 AS INT) AS y0,
         995 AS x1,
         CAST(((p // 3) % 2) * 500 + (p % 3) * 160 + 150 AS INT) AS y1
  FROM sized, unnest(range(nparas)) t(p)
), word_rows AS (
  SELECT doc_id, 'word' AS level,
         CAST(((w // 4) // 3) // 2 + 1 AS INT) AS page_number,
         CAST(((w // 4) // 3) % 2 + 1 AS INT) AS block_seq,
         CAST((w // 4) % 3 + 1 AS INT) AS para_seq,
         CAST(w % 4 + 1 AS INT) AS word_seq,
         words[w + 1] AS text,
         CAST((w % 4) * 250 + 10 AS INT) AS x0,
         CAST((((w // 4) // 3) % 2) * 500 + ((w // 4) % 3) * 160 + 10 AS INT)
           AS y0,
         CAST((w % 4) * 250 + 10
              + least(230, len(words[w + 1]) * 25) AS INT) AS x1,
         CAST((((w // 4) // 3) % 2) * 500 + ((w // 4) % 3) * 160 + 140 AS INT)
           AS y1
  FROM sized, unnest(range(nw)) t(w)
), unioned AS (
  SELECT * FROM block_rows
  UNION ALL SELECT * FROM para_rows
  UNION ALL SELECT * FROM word_rows
)
SELECT doc_id, level, page_number, block_seq, para_seq, word_seq, text,
       x0, y0, x1, y1, CAST((x1 - x0) * (y1 - y0) AS INT) AS bbox_area
FROM unioned
"""


# Keep-best canonicalization over the near-dup clusters: the recursive
# closure (reused verbatim from dedup_clusters) left-joined onto every
# document's integer-bp quality score (same formula as text_profile),
# rank window only deciding within clusters — singletons are their own
# cluster and always kept, mirroring operators/dedup.dedup_keep_best.
ORACLES["dedup_keep_best"] = (
    "WITH cl AS (\n  SELECT * FROM (\n"
    + ORACLES["dedup_clusters"]
    + "\n  )\n), scored AS (\n"
    + r"""
  SELECT doc_id,
         """ + _quality_bp_sql("words", "text") + r""" AS quality_bp
  FROM (SELECT doc_id, text,
               list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '')
                 AS words
        FROM documents)
), joined AS (
  SELECT s.doc_id,
         coalesce(cl.cluster_id, s.doc_id) AS cluster_id,
         s.quality_bp,
         cl.doc_id IS NOT NULL AS in_cluster
  FROM scored s LEFT JOIN cl ON s.doc_id = cl.doc_id
)
SELECT doc_id, cluster_id, quality_bp,
       (NOT in_cluster) OR row_number() OVER (
         PARTITION BY cluster_id
         ORDER BY quality_bp DESC, doc_id ASC) = 1 AS kept
FROM joined
"""
)


# Link graph: the twin derives the edge set straight from the anchor
# target arithmetic (doc d -> (d*7919 + j*104729) % N for j in
# 1..1+d%3, self-loops dropped, distinct), so checking it against the
# engine's synthesize-HTML->regexp-parse path is a full round trip —
# the two sides share only the formula, not the mechanism (same policy
# as the dom.py oracles).  Keep in lockstep with
# operators/linkgraph.derive_linkgraph_html_from_documents.
LINK_EDGES_CTE = r"""
WITH nn AS MATERIALIZED (SELECT max(doc_id) + 1 AS n FROM documents),
edges AS MATERIALIZED (
  SELECT DISTINCT d.doc_id AS src_doc_id,
         (d.doc_id * 7919 + t.j * 104729) % nn.n AS dst_doc_id
  FROM documents d, nn,
       unnest(generate_series(1, 1 + (d.doc_id % 3))) AS t(j)
  WHERE (d.doc_id * 7919 + t.j * 104729) % nn.n <> d.doc_id
)
"""

ORACLES["link_outlinks"] = LINK_EDGES_CTE + r"""
SELECT src_doc_id, dst_doc_id FROM edges
"""

ORACLES["link_degree_stats"] = LINK_EDGES_CTE + r"""
SELECT d.doc_id,
       CAST(coalesce(o.od, 0) AS BIGINT) AS out_degree,
       CAST(coalesce(i.ind, 0) AS BIGINT) AS in_degree
FROM documents d
LEFT JOIN (SELECT src_doc_id, count(*) AS od FROM edges GROUP BY 1) o
  ON d.doc_id = o.src_doc_id
LEFT JOIN (SELECT dst_doc_id, count(*) AS ind FROM edges GROUP BY 1) i
  ON d.doc_id = i.dst_doc_id
"""


def _pagerank_oracle(
    n_iter: int = 5,
    init_sql: str = "1000000",
    teleport_sql: str = "150000",
    tail: str | None = None,
) -> str:
    """Generated chain of MATERIALIZED CTEs mirroring linkgraph.pagerank.

    One CTE per iteration (r1..rK), each summing the integer per-edge
    contribution ((rank div outdeg) * 85) div 100 from the previous
    round.  MATERIALIZED is load-bearing: each rK is referenced by the
    next round's join AND DuckDB would otherwise inline the chain
    exponentially (same trap as the generated BPE oracle).  The sum is
    HUGEINT-typed, so every rank is cast back to BIGINT at each level.
    ``init_sql`` / ``teleport_sql`` are per-node expressions over
    documents ``d`` (personalized PageRank concentrates both on a seed
    set); ``tail`` overrides the final SELECT.
    """
    parts = [
        LINK_EDGES_CTE.strip()[4:],  # drop the leading 'WITH' to splice
        """outdeg AS MATERIALIZED (
  SELECT src_doc_id, count(*) AS od FROM edges GROUP BY 1
)""",
        f"""r0 AS MATERIALIZED (
  SELECT doc_id, CAST({init_sql} AS BIGINT) AS rank_micro FROM documents
)""",
    ]
    for k in range(1, n_iter + 1):
        parts.append(f"""r{k} AS MATERIALIZED (
  SELECT d.doc_id,
         CAST(({teleport_sql}) + coalesce(s.inflow, 0) AS BIGINT)
           AS rank_micro
  FROM documents d
  LEFT JOIN (
    SELECT e.dst_doc_id AS doc_id,
           sum(((r.rank_micro // o.od) * 85) // 100) AS inflow
    FROM edges e
    JOIN outdeg o ON e.src_doc_id = o.src_doc_id
    JOIN r{k - 1} r ON e.src_doc_id = r.doc_id
    GROUP BY e.dst_doc_id) s ON d.doc_id = s.doc_id
)""")
    chain = "WITH " + ",\n".join(parts)
    if tail is None:
        tail = f"""
SELECT r.doc_id, r.rank_micro,
       CAST(coalesce(i.ind, 0) AS BIGINT) AS in_degree
FROM r{n_iter} r
LEFT JOIN (SELECT dst_doc_id, count(*) AS ind FROM edges GROUP BY 1) i
  ON r.doc_id = i.dst_doc_id
"""
    return chain + tail


ORACLES["pagerank"] = _pagerank_oracle(5)


# Personalized (seed-rooted) PageRank: initial mass AND teleport live
# only on the seed set doc_id % 20 == 0 — the TrustRank shape.  The
# per-node expressions reference documents d inside the generated CTE
# chain; the iteration body is IDENTICAL to the plain twin.
_PPR_SEED_SQL = "CASE WHEN d.doc_id % 20 = 0 THEN {v} ELSE 0 END"
ORACLES["pagerank_personalized"] = _pagerank_oracle(
    5,
    init_sql="CASE WHEN doc_id % 20 = 0 THEN 1000000 ELSE 0 END",
    teleport_sql=_PPR_SEED_SQL.format(v=150000),
    tail="""
SELECT r.doc_id, r.rank_micro,
       CAST(CASE WHEN r.doc_id % 20 = 0 THEN 1 ELSE 0 END AS INT) AS is_seed
FROM r5 r
""",
)


# Bag-of-words classifier twin (operators/bow.py): identical hash
# split, identical integer weight/prior arithmetic, identical top-V
# vocabulary cap (count desc, token asc — the deterministic-ties rank);
# the argmax is a rank window (ORDER BY s DESC, label ASC) where Spark
# uses min(struct(-s, label)) — different mechanism, same exact cells.
_BOW_TRAIN_CTE = r"""
WITH split AS MATERIALIZED (
  SELECT doc_id, text, coalesce(lang, 'xx') AS lang,
         (('0x' || substr(md5('bowtrain:' || CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
           % 2147483647) % 100 < 80 AS is_train
  FROM documents
), occ AS MATERIALIZED (
  SELECT doc_id, lang AS label, is_train,
         unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            w -> w <> '')) AS token
  FROM split
), tok_tot AS MATERIALIZED (
  SELECT token, count(*) AS c FROM occ WHERE is_train GROUP BY 1
), vocab AS MATERIALIZED (
  SELECT token FROM (
    SELECT token, row_number() OVER (ORDER BY c DESC, token ASC) AS vrn
    FROM tok_tot)
  WHERE vrn <= {top_v}
)
"""


def _bow_classify_oracle(top_v: int) -> str:
    return _BOW_TRAIN_CTE.format(top_v=top_v) + r"""
, totals AS (
  SELECT label, count(*) AS tot FROM occ WHERE is_train GROUP BY 1
), weights AS MATERIALIZED (
  SELECT o.token, o.label,
         CAST((count(*) * 1000000) // t.tot AS BIGINT) AS w
  FROM occ o JOIN totals t USING (label)
  WHERE o.is_train AND o.token IN (SELECT token FROM vocab)
  GROUP BY o.token, o.label, t.tot
), label_counts AS (
  SELECT lang AS label, count(*) AS n FROM split WHERE is_train GROUP BY 1
), priors AS (
  SELECT label,
         CAST((n * 1000000) // (SELECT sum(n) FROM label_counts) AS BIGINT)
           AS prior
  FROM label_counts
), tok_scores AS MATERIALIZED (
  SELECT o.doc_id, w.label AS wl, CAST(sum(w.w) AS BIGINT) AS ts
  FROM occ o JOIN weights w ON o.token = w.token
  WHERE NOT o.is_train GROUP BY 1, 2
), per_label AS (
  SELECT h.doc_id, h.lang AS label, p.label AS wl,
         CAST(p.prior + coalesce(ts.ts, 0) AS BIGINT) AS s
  FROM split h
  CROSS JOIN priors p
  LEFT JOIN tok_scores ts ON h.doc_id = ts.doc_id AND p.label = ts.wl
  WHERE NOT h.is_train
)
SELECT doc_id, label, wl AS predicted, s AS score, wl = label AS correct
FROM (SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY s DESC, wl ASC) AS rn
      FROM per_label)
WHERE rn = 1
"""


ORACLES["bow_classify"] = _bow_classify_oracle(16384)
# top_v=8 forces most tokens OUT of the vocabulary (the synthetic
# corpus vocabulary is ~31 tokens), so the value check covers the OOV
# prior-only scoring path and the rank tie-break cross-engine
ORACLES["bow_classify_capped"] = _bow_classify_oracle(8)

ORACLES["bow_vocab_audit"] = _BOW_TRAIN_CTE.format(top_v=8) + """
SELECT 'bow_vocab_top_v' AS cap_name, CAST(8 AS INT) AS cap_value,
       CAST(coalesce(sum(CASE WHEN token NOT IN (SELECT token FROM vocab)
                          THEN 1 END), 0) AS BIGINT) AS dropped_groups,
       CAST(coalesce(sum(CASE WHEN token NOT IN (SELECT token FROM vocab)
                          THEN c END), 0) AS BIGINT) AS dropped_rows
FROM tok_tot
"""


# URL parser round trip (operators/urls.py): every field re-derived
# from (doc_id, source, lang) arithmetic — the twin never touches the
# URL string, so agreement proves the engine's regexp parser inverts
# the synthesis exactly.  Keep in lockstep with
# operators/urls.derive_urls_from_documents.
URL_FIELDS_CTE = r"""
WITH tldsel AS (
  SELECT doc_id, source, lang,
         CASE WHEN doc_id % 11 = 3 THEN 'co.uk'
              WHEN doc_id % 11 = 7 THEN 'com.au'
              ELSE CASE coalesce(lang, 'xx')
                     WHEN 'en' THEN 'com' WHEN 'de' THEN 'de'
                     WHEN 'es' THEN 'es' WHEN 'fr' THEN 'fr'
                     WHEN 'zh' THEN 'cn' ELSE 'org' END
         END AS tld
  FROM documents
), fields AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0 THEN 'https' ELSE 'http' END AS scheme,
         coalesce(source, 'unknown') || '-' || coalesce(lang, 'xx')
           || '.example-' || CAST(doc_id % 10 AS VARCHAR) || '.' || tld
           AS host,
         CASE WHEN doc_id % 5 = 0 THEN CAST(8080 AS INT) END AS port,
         '/' || coalesce(lang, 'xx') || '/doc-' || CAST(doc_id AS VARCHAR)
           || '.html' AS path,
         CASE WHEN doc_id % 3 = 0
              THEN 'ref=' || CAST(doc_id % 7 AS VARCHAR) END AS query_string,
         'example-' || CAST(doc_id % 10 AS VARCHAR) || '.' || tld AS domain
  FROM tldsel
), with_url AS (
  SELECT *,
         scheme || '://' || host
           || CASE WHEN port IS NOT NULL THEN ':8080' ELSE '' END
           || path
           || CASE WHEN query_string IS NOT NULL
                   THEN '?' || query_string ELSE '' END AS url
  FROM fields
)
"""

ORACLES["url_parse"] = URL_FIELDS_CTE + r"""
SELECT doc_id, url, scheme, host, port, path, query_string, domain
FROM with_url
"""

ORACLES["domain_gate"] = URL_FIELDS_CTE + r"""
SELECT doc_id, host, domain FROM with_url
WHERE domain NOT IN ('example-2.com', 'example-5.de', 'example-8.cn')
"""


# Inbound anchor texts: the twin re-derives every (target, 'ref-d-j')
# pair straight from the anchor arithmetic (never parsing the HTML) —
# note this oracle does NOT dedupe pairs like LINK_EDGES_CTE does:
# every anchor occurrence contributes its text.  n_inbound is the
# EXACT count; anchor_texts keeps only the first top_k sorted texts
# (linkgraph.ANCHOR_TOP_K — the hot-key state cap).
_ANCHOR_PAIRS_CTE = r"""
WITH nn AS MATERIALIZED (SELECT max(doc_id) + 1 AS n FROM documents),
pairs AS (
  SELECT (d.doc_id * 7919 + t.j * 104729) % nn.n AS doc_id,
         'ref-' || CAST(d.doc_id AS VARCHAR) || '-' || CAST(t.j AS VARCHAR)
           AS txt
  FROM documents d, nn,
       unnest(generate_series(1, 1 + (d.doc_id % 3))) AS t(j)
  WHERE (d.doc_id * 7919 + t.j * 104729) % nn.n <> d.doc_id
)
"""


def _anchor_texts_oracle(top_k: int) -> str:
    return _ANCHOR_PAIRS_CTE + f"""
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_inbound,
       array_to_string((list_sort(list(txt)))[1:{top_k}], ' | ')
         AS anchor_texts
FROM pairs GROUP BY doc_id
"""


ORACLES["anchor_texts"] = _anchor_texts_oracle(16)
ORACLES["anchor_texts_window"] = _anchor_texts_oracle(16)
# top_k=2 fires the cap on nearly every multi-inbound target, so the
# value check covers the truncation path itself, not just the pass-through
ORACLES["anchor_texts_capped"] = _anchor_texts_oracle(2)

ORACLES["anchor_texts_audit"] = _ANCHOR_PAIRS_CTE + """
, per AS (SELECT doc_id, count(*) AS n FROM pairs GROUP BY 1)
SELECT 'anchor_texts_top_k' AS cap_name, CAST(2 AS INT) AS cap_value,
       CAST(coalesce(sum(CASE WHEN n > 2 THEN 1 END), 0) AS BIGINT)
         AS dropped_groups,
       CAST(coalesce(sum(CASE WHEN n > 2 THEN n - 2 END), 0) AS BIGINT)
         AS dropped_rows
FROM per
"""


# Per-domain quality rollup: URL fields + the integer-bp quality formula
# (same expression as the dedup_keep_best / text_profile twins), gated
# by the blocklist, one GROUP BY domain.  All-integer outputs.
ORACLES["domain_quality_rollup"] = URL_FIELDS_CTE + r"""
, scored AS (
  SELECT f.domain,
         len(w.words) AS nt,
         """ + _quality_bp_sql("w.words", "d.text") + r""" AS quality_bp
  FROM with_url f
  JOIN documents d USING (doc_id)
  CROSS JOIN LATERAL (SELECT list_filter(
      regexp_split_to_array(coalesce(d.text, ''), '\s+'), x -> x <> '')
      AS words) w
  WHERE f.domain NOT IN ('example-2.com', 'example-5.de', 'example-8.cn')
)
SELECT domain,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS total_tokens,
       CAST(sum(quality_bp) AS BIGINT) AS sum_quality_bp
FROM scored GROUP BY domain
"""


def _harmonic_oracle(k: int = 8, n_iter: int = 3) -> str:
    """Generated MATERIALIZED-CTE chain mirroring
    linkgraph.harmonic_centrality_kmv: one CTE per ball iteration, each
    merging neighbor sketches along INCOMING edges, truncating to the k
    smallest hashes, and accumulating the integer harmonic gain.  All
    BIGINT (the KMV estimate is ((k-1)*M31) // kth_min — no floats)."""
    num = (k - 1) * 2147483647
    parts = [
        LINK_EDGES_CTE.strip()[4:],  # splice nn + edges
        f"""s0 AS MATERIALIZED (
  SELECT doc_id,
         [('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
            % 2147483647] AS sketch,
         CAST(1 AS BIGINT) AS est, CAST(0 AS BIGINT) AS harm
  FROM documents
)""",
    ]
    for t in range(1, n_iter + 1):
        parts.append(f"""s{t} AS MATERIALIZED (
  SELECT doc_id, sketch, est_new AS est,
         CAST(harm + (greatest(0, est_new - est) * 1000) // {t} AS BIGINT)
           AS harm
  FROM (
    SELECT doc_id, sketch, est, harm,
           CAST(CASE WHEN len(sketch) < {k} THEN len(sketch)
                ELSE {num} // sketch[{k}] END AS BIGINT) AS est_new
    FROM (
      SELECT p.doc_id,
             (list_sort(list_distinct(
                p.sketch || coalesce(nb.nbr, CAST([] AS BIGINT[])))))[1:{k}]
               AS sketch,
             p.est, p.harm
      FROM s{t - 1} p
      LEFT JOIN (
        SELECT e.dst_doc_id AS doc_id, flatten(list(s.sketch)) AS nbr
        FROM edges e JOIN s{t - 1} s ON e.src_doc_id = s.doc_id
        GROUP BY 1) nb USING (doc_id)
    )
  )
)""")
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT doc_id, est AS n_reached_est, harm AS harmonic_milli"
          f" FROM s{n_iter}\n"
    )


ORACLES["harmonic_centrality"] = _harmonic_oracle(8, 3)
ORACLES["harmonic_centrality_window"] = _harmonic_oracle(8, 3)


# URL dedup: the twin NEVER sees the messy URL — it derives each doc's
# canonical form straight from the pairing arithmetic, so agreement
# proves canonicalize_url_col strips every synthesized noise class.
ORACLES["url_dedup"] = r"""
WITH canon AS (
  SELECT doc_id,
         'http://example-' || CAST((doc_id // 2) % 10 AS VARCHAR)
           || '.com/p/' || CAST(doc_id // 2 AS VARCHAR) || '.html'
           AS canonical_url
  FROM documents
)
SELECT canonical_url,
       CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
       CAST(count(*) AS BIGINT) AS n_variants
FROM canon GROUP BY 1
"""


# WARC round trip (operators/warc.py): envelope fields from doc_id
# arithmetic; Content-Length from a byte-exact SQL reconstruction of
# the derived HTML (keep in lockstep with BOTH
# datagen.derive_html_from_documents and warc.derive_warc_records);
# main_text is the whitespace-normalized document text (the DOM-strip
# invariant, same claim as the html_main_content twin).
ORACLES["warc_extract"] = (
    r"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'),
                     w -> w <> '') AS words,
         coalesce(source, 'unknown') AS src
  FROM documents
  WHERE doc_id % 17 <> 0
), parts AS (
  SELECT doc_id, text, src, words,
         CAST(ceil(len(words) / 2.0) AS INT) AS half
  FROM base
), built AS (
  SELECT doc_id, text, words,
         '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
         || '</title><script>var x=1;</script><style>p { color: red; }'
         || '</style></head>' || chr(10) || '<body><header><h1>Site '
         || src
         || '</h1></header><nav><a href="http://nav/home">Home</a> '
         || '<a href="http://nav/about">About</a></nav>'
         || '<!-- begin content --><div class="main"><p>'
         || array_to_string(words[1:half], ' ')
         || '</p><aside>Sponsored http://spam.example <b>ads</b></aside><p>'
         || CASE WHEN len(words) > half
                 THEN array_to_string(words[half + 1:len(words)], ' ')
                 ELSE '' END
         || '</p><br/></div><footer>(c) 2026 ' || src
         || '</footer></body></html>' AS html
  FROM parts
)
SELECT doc_id,
       'http://crawl.example/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
       CAST(strlen('HTTP/1.1 200 OK' || chr(13) || chr(10)
             || 'Content-Type: text/html' || chr(13) || chr(10)
             || chr(13) || chr(10) || html) AS BIGINT) AS content_length,
       array_to_string(words, ' ') AS main_text,
       CAST(len(words) AS INT) AS n_tokens
FROM built
"""
)


# Gzip-member WARC round trip: compression is transparent to the
# contract — same twin as warc_extract.
ORACLES["warc_extract_gz"] = ORACLES["warc_extract"]


# Malformed-record audit: the query corrupts every CRLFCRLF separator of
# records with doc_id % 9 == 4 before parsing, so the envelope split and
# the HTTP body split both fail for exactly that share — the audit's
# NULL counts must invert the injection arithmetic.  n_records counts
# EVERY document (the audit runs before the 200-status filter).
ORACLES["warc_malformed_audit"] = r"""
SELECT CAST(count(*) AS BIGINT) AS n_records,
       CAST(sum(CASE WHEN doc_id % 9 = 4 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_status_null,
       CAST(sum(CASE WHEN doc_id % 9 = 4 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_html_null
FROM documents
"""


# Robots-noindex compliance gate: kept set = doc_id % 13 != 0, output =
# the DOM-strip invariant over the kept docs.
ORACLES["robots_gate"] = (
    r"""
SELECT doc_id,
       array_to_string(list_filter(regexp_split_to_array(text, '\s+'),
                                   w -> w <> ''), ' ') AS main_text,
       CAST("""
    + _TOKENS.format(col="text")
    + r""" AS INT) AS n_tokens
FROM documents
WHERE doc_id % 13 <> 0
"""
)


# robots.txt parse round trip: the twin re-derives the User-agent:*
# rules from the HOST STRING arithmetic alone (digit g and lang are
# regexp-extracted back out of the distinct hosts, exactly like
# operators/robotstxt._host_g/_host_lang) — agreement proves the
# engine's group-scoped parser skipped the badbot decoy group and the
# comment line and recovered every (prefix, allow) pair.
_ROBOTS_HOSTS_CTE = URL_FIELDS_CTE + r"""
, hosts AS (
  SELECT DISTINCT host,
         CAST(regexp_extract(host, '\.example-(\d)\.', 1) AS INT) AS g,
         regexp_extract(host, '-([a-z]{2})\.example-', 1) AS hlang
  FROM with_url
), rules AS (
  SELECT host, '/' AS prefix, 0 AS allow FROM hosts WHERE g = 9
  UNION ALL
  SELECT host, '/' || hlang || '/' AS prefix, 0 AS allow
  FROM hosts WHERE g % 3 = 0
  UNION ALL
  SELECT host, '/' || hlang || '/doc-' AS prefix, 1 AS allow
  FROM hosts WHERE g % 2 = 0
  UNION ALL
  SELECT host, '/tmp/' AS prefix, 0 AS allow FROM hosts
)
"""

ORACLES["robots_rules"] = _ROBOTS_HOSTS_CTE + r"""
SELECT host, prefix, CAST(allow AS INT) AS allow FROM rules
"""

# Longest-match resolution implemented INDEPENDENTLY (ranked window
# over prefix matches vs the engine's row-local array_max fold), so
# the cross-engine check covers the RFC 9309 resolution order itself:
# longest prefix wins, Allow wins length ties, no match = fetchable.
ORACLES["robots_txt_gate"] = _ROBOTS_HOSTS_CTE + r"""
, matches AS (
  SELECT u.doc_id, length(r.prefix) AS len, r.allow,
         row_number() OVER (
           PARTITION BY u.doc_id
           ORDER BY length(r.prefix) DESC, r.allow DESC
         ) AS rk
  FROM with_url u
  JOIN rules r
    ON u.host = r.host AND starts_with(u.path, r.prefix)
)
SELECT u.doc_id, u.url,
       CAST(CASE WHEN m.len IS NULL OR m.allow = 1 THEN 1 ELSE 0 END AS INT)
         AS fetchable,
       CAST(m.len AS INT) AS match_len,
       CAST(m.allow AS INT) AS match_allow
FROM with_url u
LEFT JOIN (SELECT doc_id, len, allow FROM matches WHERE rk = 1) m
  USING (doc_id)
"""


# Crawl budget: delay re-derived from host arithmetic (odd g throttles
# at 1 + g%4 seconds), budget recomputed independently of the engine's
# join — NULL delay budgets at 1 s/URL.
ORACLES["robots_crawl_budget"] = _ROBOTS_HOSTS_CTE + r"""
SELECT h.host,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(CASE WHEN h.g % 2 = 1 THEN 1 + h.g % 4 END AS INT)
         AS crawl_delay,
       CAST(count(*) * coalesce(
              CASE WHEN h.g % 2 = 1 THEN 1 + h.g % 4 END, 1) AS BIGINT)
         AS est_fetch_seconds
FROM with_url u JOIN hosts h USING (host)
GROUP BY h.host, h.g
"""

# Sitemap discovery: one file-scoped URL per host, re-derived from the
# host string alone.
ORACLES["robots_sitemaps"] = _ROBOTS_HOSTS_CTE + r"""
SELECT host,
       'https://' || host || '/sitemap-' || CAST(g AS VARCHAR) || '.xml'
         AS sitemap_url
FROM hosts
"""


# Composed crawl frontier: blocklist -> robots longest-match -> budget,
# every stage re-implemented independently (the robots resolution as a
# ranked window, the budget from host arithmetic) over the same
# synthesis.
ORACLES["crawl_frontier"] = _ROBOTS_HOSTS_CTE + r"""
, gated AS (
  SELECT * FROM with_url
  WHERE domain NOT IN ('example-2.com', 'example-5.de', 'example-8.cn')
), matches AS (
  SELECT u.doc_id, length(r.prefix) AS len, r.allow,
         row_number() OVER (
           PARTITION BY u.doc_id
           ORDER BY length(r.prefix) DESC, r.allow DESC
         ) AS rk
  FROM gated u
  JOIN rules r
    ON u.host = r.host AND starts_with(u.path, r.prefix)
), fetchable AS (
  SELECT u.host FROM gated u
  LEFT JOIN (SELECT doc_id, len, allow FROM matches WHERE rk = 1) m
    USING (doc_id)
  WHERE m.len IS NULL OR m.allow = 1
)
SELECT f.host,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(CASE WHEN h.g % 2 = 1 THEN 1 + h.g % 4 END AS INT)
         AS crawl_delay,
       CAST(count(*) * coalesce(
              CASE WHEN h.g % 2 = 1 THEN 1 + h.g % 4 END, 1) AS BIGINT)
         AS est_fetch_seconds
FROM fetchable f JOIN hosts h USING (host)
GROUP BY f.host, h.g
"""


def _hits_oracle(n_iter: int = 3) -> str:
    """Generated MATERIALIZED-CTE chain mirroring linkgraph.hits_scores.

    Per round k: a{k}r sums hub scores across edges into each dst (the
    HUGEINT sum cast back to BIGINT), a{k}s derives the integer
    normalizer max_raw // 10^6 + 1, a{k} rescales over ALL documents
    (absent = 0); then the same three CTEs for hubs reading a{k} across
    the edges' src side.  MATERIALIZED is load-bearing (the chain would
    otherwise inline exponentially — same trap as the PageRank twin).
    """
    parts = [
        LINK_EDGES_CTE.strip()[4:],  # drop the leading 'WITH' to splice
        """h0 AS MATERIALIZED (
  SELECT doc_id, CAST(1000000 AS BIGINT) AS score FROM documents
)""",
    ]
    for k in range(1, n_iter + 1):
        for side, prev, join_on, group_on in (
            ("a", f"h{k - 1}", "src_doc_id", "dst_doc_id"),
            ("h", f"a{k}", "dst_doc_id", "src_doc_id"),
        ):
            name = f"{side}{k}"
            parts.append(f"""{name}r AS MATERIALIZED (
  SELECT e.{group_on} AS doc_id, CAST(sum(p.score) AS BIGINT) AS raw
  FROM edges e JOIN {prev} p ON e.{join_on} = p.doc_id
  GROUP BY e.{group_on}
)""")
            parts.append(f"""{name}s AS MATERIALIZED (
  SELECT CAST(coalesce(max(raw), 0) // 1000000 + 1 AS BIGINT) AS s
  FROM {name}r
)""")
            parts.append(f"""{name} AS MATERIALIZED (
  SELECT d.doc_id, CAST(coalesce(r.raw, 0) // s.s AS BIGINT) AS score
  FROM documents d CROSS JOIN {name}s s
  LEFT JOIN {name}r r ON d.doc_id = r.doc_id
)""")
    return (
        "WITH " + ",\n".join(parts)
        + f"""
SELECT a.doc_id, a.score AS auth_micro, h.score AS hub_micro
FROM a{n_iter} a JOIN h{n_iter} h ON a.doc_id = h.doc_id
"""
    )


ORACLES["hits_scores"] = _hits_oracle(3)


# Sitemap round trips (operators/sitemap.py): both twins re-derive every
# field from doc_id arithmetic over the URL synthesis — the XML file is
# never parsed here, so agreement proves comment stripping, entity
# unescaping, and shard/pos assignment all invert the synthesis.
ORACLES["sitemap_urls"] = URL_FIELDS_CTE + r"""
, ranked AS (
  SELECT host, doc_id, url,
         row_number() OVER (PARTITION BY host ORDER BY doc_id) - 1 AS rn
  FROM with_url
)
SELECT host,
       CAST(rn // 3 AS INT) AS shard_id,
       CAST(rn % 3 + 1 AS INT) AS pos,
       url || CASE WHEN doc_id % 3 = 0 THEN '&src=sm' ELSE '' END AS loc,
       CASE WHEN doc_id % 2 = 0
            THEN '2026-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')
                 || '-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
       END AS lastmod,
       CASE WHEN doc_id % 4 = 1 THEN NULL
            ELSE CAST((doc_id % 10) * 100 AS INT) END AS priority_milli
FROM ranked
"""

ORACLES["sitemap_index"] = URL_FIELDS_CTE + r"""
, per_host AS (SELECT host, count(*) AS n FROM with_url GROUP BY 1)
SELECT host, CAST(t.k AS INT) AS shard_id,
       'https://' || host || '/sitemap-' || CAST(t.k AS VARCHAR) || '.xml'
         AS shard_loc
FROM per_host,
     unnest(generate_series(0, CAST((n - 1) // 3 AS BIGINT))) AS t(k)
"""


# HTML table grids (operators/htmltable.py): the twins re-derive every
# cell from doc_id arithmetic (tables/rows/cols/empties/header rows all
# synthesized by formula) — the HTML is never parsed here, so agreement
# proves comment stripping, thead/tbody handling, nested-span stripping
# and 0-based grid indexing all invert the synthesis.
_TABLE_GRID_CTE = r"""
WITH grids AS (
  SELECT d.doc_id AS doc_id, tt.t AS t,
         CASE WHEN (d.doc_id + tt.t) % 2 = 0 THEN 1 ELSE 0 END AS hh,
         1 + (d.doc_id + tt.t) % 3 AS n_rows,
         2 + (d.doc_id + tt.t) % 2 AS n_cols
  FROM documents d, unnest(generate_series(0, d.doc_id % 2)) AS tt(t)
)
"""

ORACLES["html_tables"] = _TABLE_GRID_CTE + r"""
, hdr AS (
  SELECT doc_id, CAST(t AS INT) AS table_idx, CAST(0 AS INT) AS row_idx,
         CAST(c.c - 1 AS INT) AS col_idx, TRUE AS is_header,
         'h-' || CAST(doc_id AS VARCHAR) || '-' || CAST(t AS VARCHAR)
           || '-' || CAST(c.c AS VARCHAR) AS cell_text
  FROM grids, unnest(generate_series(1, n_cols)) AS c(c)
  WHERE hh = 1
), dat AS (
  SELECT doc_id, CAST(t AS INT) AS table_idx,
         CAST(r.r - 1 + hh AS INT) AS row_idx,
         CAST(c.c - 1 AS INT) AS col_idx, FALSE AS is_header,
         CASE WHEN (doc_id + r.r + c.c) % 7 = 0 THEN ''
              ELSE 'c-' || CAST(doc_id AS VARCHAR) || '-'
                   || CAST(t AS VARCHAR) || '-' || CAST(r.r AS VARCHAR)
                   || '-' || CAST(c.c AS VARCHAR) END AS cell_text
  FROM grids,
       unnest(generate_series(1, n_rows)) AS r(r),
       unnest(generate_series(1, n_cols)) AS c(c)
)
SELECT * FROM hdr UNION ALL SELECT * FROM dat
"""

ORACLES["html_table_records"] = _TABLE_GRID_CTE + r"""
, hdr AS (
  SELECT doc_id, CAST(t AS INT) AS table_idx, CAST(0 AS INT) AS row_idx,
         TRUE AS is_header, CAST(n_cols AS INT) AS n_cols,
         array_to_string(
           list_transform(generate_series(1, n_cols),
             c -> 'h-' || CAST(doc_id AS VARCHAR) || '-'
                  || CAST(t AS VARCHAR) || '-' || CAST(c AS VARCHAR)),
           ' | ') AS row_text
  FROM grids WHERE hh = 1
), dat AS (
  SELECT doc_id, CAST(t AS INT) AS table_idx,
         CAST(r.r - 1 + hh AS INT) AS row_idx,
         FALSE AS is_header, CAST(n_cols AS INT) AS n_cols,
         array_to_string(
           list_transform(generate_series(1, n_cols),
             c -> CASE WHEN (doc_id + r.r + c) % 7 = 0 THEN ''
                       ELSE 'c-' || CAST(doc_id AS VARCHAR) || '-'
                            || CAST(t AS VARCHAR) || '-'
                            || CAST(r.r AS VARCHAR) || '-'
                            || CAST(c AS VARCHAR) END),
           ' | ') AS row_text
  FROM grids, unnest(generate_series(1, n_rows)) AS r(r)
)
SELECT * FROM hdr UNION ALL SELECT * FROM dat
"""


# Rarity-weighted top-k terms (operators/textstats.top_terms_per_doc):
# the twin is the NAIVE tf⋈df join — the Spark side's frequency-split
# (broadcast hot terms / shuffle rare tail) must be invisible in the
# values, so agreement proves the split is exact, not approximate.
ORACLES["top_terms_per_doc"] = r"""
WITH w AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            x -> x <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2
), df AS (
  SELECT term, count(*) AS df_docs FROM tf GROUP BY 1
), scored AS (
  SELECT tf.doc_id, tf.term,
         CAST(tf.tf AS BIGINT) AS tf,
         CAST(df.df_docs AS BIGINT) AS df_docs,
         CAST((tf.tf * 1000000) // df.df_docs AS BIGINT) AS score_micro
  FROM tf JOIN df USING (term)
), ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_micro DESC, term ASC) AS rn
  FROM scored
)
SELECT doc_id, CAST(rn AS INT) AS term_rank, term, tf, df_docs, score_micro
FROM ranked WHERE rn <= 5
"""


def _components_oracle(n_iter: int = 4) -> str:
    """Chained-CTE twin of linkgraph.link_components: the symmetrized
    distinct edge set, then one min-label CTE per round.  Fixed rounds
    on both sides make the (possibly unconverged) state bit-exact."""
    parts = [
        LINK_EDGES_CTE.strip()[4:],  # drop the leading 'WITH' to splice
        """und AS MATERIALIZED (
  SELECT src_doc_id, dst_doc_id FROM edges
  UNION
  SELECT dst_doc_id AS src_doc_id, src_doc_id AS dst_doc_id FROM edges
)""",
        """l0 AS MATERIALIZED (
  SELECT doc_id, doc_id AS component_id FROM documents
)""",
    ]
    for k in range(1, n_iter + 1):
        parts.append(f"""l{k} AS MATERIALIZED (
  SELECT d.doc_id,
         least(p.component_id,
               coalesce(m.nmin, p.component_id)) AS component_id
  FROM documents d
  JOIN l{k - 1} p ON d.doc_id = p.doc_id
  LEFT JOIN (
    SELECT u.dst_doc_id AS doc_id, min(p2.component_id) AS nmin
    FROM und u JOIN l{k - 1} p2 ON u.src_doc_id = p2.doc_id
    GROUP BY u.dst_doc_id) m ON d.doc_id = m.doc_id
)""")
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT doc_id, component_id FROM l{n_iter}\n"
    )


ORACLES["link_components"] = _components_oracle(4)


# Sitemap-driven recrawl planning (operators/sitemap.recrawl_schedule):
# the twin computes staleness straight from the two date formulas — no
# XML, no join — so agreement proves the Spark side's parse +
# (host, path) ledger join + ISO-string comparison end-to-end.
ORACLES["recrawl_schedule"] = URL_FIELDS_CTE + r"""
, dated AS (
  SELECT host, doc_id,
         CASE WHEN doc_id % 2 = 0
              THEN '2026-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')
                   || '-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
         END AS lastmod,
         '2026-' || lpad(CAST((doc_id * 5) % 12 + 1 AS VARCHAR), 2, '0')
           || '-' || lpad(CAST((doc_id * 11) % 28 + 1 AS VARCHAR), 2, '0')
           AS last_crawl
  FROM with_url
)
SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
       CAST(sum(CASE WHEN lastmod IS NULL OR lastmod > last_crawl
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_stale
FROM dated GROUP BY host
"""


# Unicode-script profile (operators/textstats.script_profile): the twin
# counts with DuckDB's RE2 engine over the same noised text — the check
# is cross-ENGINE on the counting idiom (delete-and-diff), not a
# synthesis re-derivation.  regexp_replace needs the 'g' flag here
# (DuckDB replaces first-match-only by default; Spark replaces all).
ORACLES["script_profile"] = """
WITH s AS (
  SELECT doc_id,
         coalesce(text, '')
           || repeat('中', CAST(doc_id % 5 AS INT))
           || repeat('й', CAST(doc_id % 3 AS INT))
           || repeat('7', CAST(doc_id % 4 AS INT)) AS s
  FROM documents
), c AS (
  SELECT doc_id,
         CAST(length(s) - length(regexp_replace(s, '[A-Za-z]', '', 'g'))
              AS BIGINT) AS n_latin,
         CAST(length(s) - length(regexp_replace(s, '[一-鿿]', '', 'g'))
              AS BIGINT) AS n_cjk,
         CAST(length(s) - length(regexp_replace(s, '[Ѐ-ӿ]', '', 'g'))
              AS BIGINT) AS n_cyrillic,
         CAST(length(s) - length(regexp_replace(s, '[0-9]', '', 'g'))
              AS BIGINT) AS n_digit
  FROM s
)
SELECT doc_id, n_latin, n_cjk, n_cyrillic, n_digit,
       CASE WHEN greatest(n_latin, n_cjk, n_cyrillic, n_digit) = 0
              THEN 'other'
            WHEN n_latin = greatest(n_latin, n_cjk, n_cyrillic, n_digit)
              THEN 'latin'
            WHEN n_cjk = greatest(n_latin, n_cjk, n_cyrillic, n_digit)
              THEN 'cjk'
            WHEN n_cyrillic = greatest(n_latin, n_cjk, n_cyrillic, n_digit)
              THEN 'cyrillic'
            ELSE 'digit' END AS main_script
FROM c
"""


# Malformed-sitemap audit (operators/sitemap.sitemap_parse_audit over
# derive_corrupted_sitemap_shards): the corruption predicate is pure
# (host, shard_id) arithmetic, so the twin re-derives per-shard entry
# counts from the URL synthesis and subtracts the predicate — the Spark
# side must measure the SAME numbers from the corrupted XML alone.
ORACLES["sitemap_malformed_audit"] = URL_FIELDS_CTE + r"""
, ranked AS (
  SELECT host,
         CAST((row_number() OVER (PARTITION BY host ORDER BY doc_id) - 1)
              // 3 AS INT) AS shard_id
  FROM with_url
), shards AS (
  SELECT host, shard_id, count(*) AS n
  FROM ranked GROUP BY host, shard_id
)
SELECT host, shard_id,
       CAST(n AS INT) AS n_locs,
       CAST(n - CASE WHEN (length(host) + shard_id) % 3 = 0
                     THEN 1 ELSE 0 END AS INT) AS n_parsed,
       CAST(CASE WHEN (length(host) + shard_id) % 3 = 0
                 THEN 1 ELSE 0 END AS INT) AS n_dropped
FROM shards
"""


# Redirect chains (operators/redirects.py): the twins derive the
# RESOLVED result in closed form from the synthesis residues (doc_id %
# 8 picks the chain shape) — the iterative-join algorithm is never run
# here, so agreement proves resolve_redirects implements the chain
# semantics (1-3 hop chains, self-loop, 2-cycle, corpus-max dangling
# edge) exactly.
def _ru(expr: str) -> str:
    """Ledger-URL SQL for a doc-id expression (mirrors redirects._rurl)."""
    return (
        "'http://r' || CAST((" + expr + ") % 10 AS VARCHAR)"
        " || '.example.net/p/' || CAST((" + expr + ") AS VARCHAR)"
    )


_REDIRECT_SEEDS_CTE = r"""
WITH nn AS MATERIALIZED (SELECT max(doc_id) AS mx FROM documents),
seeds AS (
  SELECT doc_id AS d, doc_id % 8 AS r FROM documents
  WHERE doc_id % 8 BETWEEN 1 AND 6
)
"""

ORACLES["redirect_edges"] = _REDIRECT_SEEDS_CTE + f"""
SELECT {_ru("d")} AS src_url,
       CAST(CASE WHEN r IN (1, 3, 6) THEN 301 WHEN r = 2 THEN 302
                 WHEN r = 4 THEN 308 ELSE 307 END AS INT) AS http_status,
       {_ru("CASE WHEN r IN (1, 2, 3, 6) THEN d - 1 WHEN r = 4 THEN d ELSE d + 1 END")}
         AS dst_url
FROM seeds
"""

_REDIRECT_RESOLVED_SQL = _REDIRECT_SEEDS_CTE + f"""
, resolved AS (
  SELECT {_ru("d")} AS url,
         CASE WHEN r = 1 THEN {_ru("d - 1")}
              WHEN r = 2 THEN {_ru("d - 2")}
              WHEN r = 3 THEN {_ru("d - 3")}
              WHEN r = 5 AND d = nn.mx THEN {_ru("d + 1")}
              ELSE {_ru("d")} END AS final_url,
         CAST(CASE WHEN r IN (1, 4) THEN 1
                   WHEN r = 5 AND d = nn.mx THEN 1
                   WHEN r IN (2, 5, 6) THEN 2
                   ELSE 3 END AS INT) AS n_hops,
         CASE WHEN r IN (1, 2, 3) THEN 'ok'
              WHEN r = 5 AND d = nn.mx THEN 'ok'
              ELSE 'loop' END AS status
  FROM seeds, nn
)
"""

ORACLES["redirect_resolve"] = (
    _REDIRECT_RESOLVED_SQL + "SELECT url, final_url, n_hops, status FROM resolved"
)

ORACLES["redirect_audit"] = _REDIRECT_RESOLVED_SQL + """
SELECT status, n_hops, CAST(count(*) AS BIGINT) AS n_chains,
       CAST(count(DISTINCT final_url) AS BIGINT) AS n_final_urls
FROM resolved GROUP BY status, n_hops
"""


# C4 line cleaning (operators/linesclean.py): the twins derive every
# line's verdict in closed form from its kind residue (k = (doc_id + i)
# % 6) — the classifier is never run here, so agreement proves the
# Spark rules (blocklist, brace, terminal punctuation, word minimum,
# lorem-ipsum page drop) invert the synthesis exactly.
_C4_LINES_CTE = r"""
WITH pages AS (
  SELECT doc_id AS d, doc_id % 4 + 3 AS n_body,
         doc_id % 13 = 0 AS lorem
  FROM documents
), lns AS (
  SELECT d, n_body, lorem, i.i AS i, (d + i.i) % 6 AS k
  FROM pages, unnest(generate_series(0, n_body - 1)) AS i(i)
), per_doc AS (
  SELECT d,
         CAST(any_value(n_body) + CASE WHEN any_value(lorem) THEN 1 ELSE 0 END
              AS INT) AS n_lines,
         CAST(count(*) FILTER (k = 0) AS INT) AS n_kept,
         CAST(count(*) FILTER (k IN (2, 5))
              + CASE WHEN any_value(lorem) THEN 1 ELSE 0 END AS INT)
           AS n_blockword,
         CAST(count(*) FILTER (k = 3) AS INT) AS n_brace,
         CAST(count(*) FILTER (k = 4) AS INT) AS n_no_terminal,
         CAST(count(*) FILTER (k = 1) AS INT) AS n_few_words,
         coalesce(string_agg(
           CASE WHEN k = 0 THEN 'Sentence ' || CAST(d AS VARCHAR) || '-'
                || CAST(i AS VARCHAR) || ' keeps enough clean words here.'
           END, chr(10) ORDER BY i), '') AS clean_text,
         (NOT any_value(lorem)) AND count(*) FILTER (k = 0) >= 1 AS doc_kept
  FROM lns GROUP BY d
)
"""

ORACLES["c4_line_filter"] = _C4_LINES_CTE + """
SELECT d AS doc_id, clean_text, n_lines, n_kept, n_blockword, n_brace,
       n_no_terminal, n_few_words, doc_kept
FROM per_doc
"""

ORACLES["c4_line_audit"] = _C4_LINES_CTE + """
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (doc_kept) AS BIGINT) AS n_docs_kept,
       CAST(sum(n_lines) AS BIGINT) AS lines_in,
       CAST(sum(n_kept) AS BIGINT) AS lines_kept,
       CAST(sum(n_blockword) AS BIGINT) AS lines_blockword,
       CAST(sum(n_brace) AS BIGINT) AS lines_brace,
       CAST(sum(n_no_terminal) AS BIGINT) AS lines_no_terminal,
       CAST(sum(n_few_words) AS BIGINT) AS lines_few_words
FROM per_doc
"""


# RSS/Atom feeds (operators/feeds.py): the twins re-derive every entry
# field from doc_id arithmetic over the URL synthesis — the XML is
# never parsed here, so agreement proves comment stripping, CDATA
# unwrap vs entity unescape, the RSS-element vs Atom-attribute link
# read, and both date-dialect normalizations invert the synthesis.
# Note (doc_id % 10) % 2 == doc_id % 2: the host-group parity that
# picks the format is visible directly on each member doc.
_FEED_ENTRIES_CTE = URL_FIELDS_CTE + r"""
, ranked AS (
  SELECT host, doc_id, url,
         row_number() OVER (PARTITION BY host ORDER BY doc_id) AS rn
  FROM with_url
), ent AS (
  SELECT host,
         CASE WHEN doc_id % 2 = 0 THEN 'rss' ELSE 'atom' END AS kind,
         CAST(rn AS INT) AS pos,
         'Title ' || CAST(doc_id AS VARCHAR)
           || CASE WHEN doc_id % 5 = 0 THEN ' & more' ELSE '' END AS title,
         url AS link,
         'guid-' || CAST(doc_id AS VARCHAR) AS guid,
         '2026-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '-'
           || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS pub_date
  FROM ranked WHERE rn <= 4
)
"""

ORACLES["feed_entries"] = _FEED_ENTRIES_CTE + """
SELECT host, kind, pos, title, link, guid, pub_date FROM ent
"""

ORACLES["feed_latest_per_host"] = _FEED_ENTRIES_CTE + """
, best AS (
  SELECT host, kind, title, link, guid, pub_date,
         row_number() OVER (
           PARTITION BY host ORDER BY pub_date DESC, guid ASC) AS rk
  FROM ent
)
SELECT host, kind, title, link, guid, pub_date FROM best WHERE rk = 1
"""


# HTML head metadata (operators/headmeta.py): the twins derive every
# field from doc_id arithmetic (predecessor-URL canonicals via a 1:1
# self-join on doc_id - 1) — the HTML is never parsed here, so
# agreement proves head scoping, comment stripping, attribute-order and
# quote-style tolerance, entity unescaping, and NULL-for-absent all
# invert the synthesis.
_HEAD_META_CTE = URL_FIELDS_CTE + r"""
, prev AS (
  SELECT u.doc_id, u.url, p.url AS prev_url
  FROM with_url u LEFT JOIN with_url p ON p.doc_id = u.doc_id - 1
), meta AS (
  SELECT doc_id, url,
         'Page ' || CASE WHEN doc_id % 5 = 0 THEN '& ' ELSE '' END
           || CAST(doc_id AS VARCHAR) AS title,
         CASE WHEN doc_id % 4 = 1 THEN NULL
              ELSE 'Desc ' || CAST(doc_id AS VARCHAR) END AS description,
         CASE WHEN doc_id % 3 = 2 THEN NULL
              ELSE 'OG ' || CAST(doc_id AS VARCHAR) END AS og_title,
         CASE WHEN doc_id % 3 = 1 THEN NULL
              WHEN doc_id % 6 = 2 THEN coalesce(prev_url, url)
              ELSE url END AS canonical_url,
         CASE WHEN doc_id % 2 = 0 THEN 'utf-8' END AS charset
  FROM prev
)
"""

ORACLES["head_meta"] = _HEAD_META_CTE + """
SELECT doc_id, url, title, description, og_title, canonical_url, charset
FROM meta
"""

ORACLES["canonical_clusters"] = _HEAD_META_CTE + """
SELECT coalesce(canonical_url, url) AS cluster_url,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS rep_doc_id,
       CAST(count(*) FILTER (canonical_url IS NULL OR canonical_url = url)
            AS BIGINT) AS n_self
FROM meta GROUP BY 1
"""


ORACLES["redirect_ledger_audit"] = _REDIRECT_SEEDS_CTE + """
SELECT CAST(count(*) AS BIGINT) AS n_edges,
       CAST(count(DISTINCT d) AS BIGINT) AS n_src_urls,
       CAST(0 AS BIGINT) AS n_multi_src
FROM seeds
"""


# Frontier-space redirects (operators/redirects.py): the twin derives
# the resolution in CLOSED FORM from the chain residues over the URL
# synthesis (neighbor URLs via 1:1 self-joins) and re-rolls the host
# aggregate independently — the iterative joins are never run in SQL.
# The corpus-max r=5 doc has no recorded Location (its neighbor does
# not exist), so it is neither an edge nor a seed.
ORACLES["frontier_redirect_rollup"] = URL_FIELDS_CTE + r"""
, nn AS MATERIALIZED (SELECT max(doc_id) AS mx FROM documents),
resolved AS (
  SELECT u.url,
         CASE WHEN u.doc_id % 8 = 1 THEN p1.url
              WHEN u.doc_id % 8 = 2 THEN p2.url
              WHEN u.doc_id % 8 = 3 THEN p3.url
              ELSE u.url END AS final_url,
         CASE WHEN u.doc_id % 8 IN (1, 2, 3) THEN 'ok'
              ELSE 'loop' END AS status
  FROM with_url u
  CROSS JOIN nn
  LEFT JOIN with_url p1 ON p1.doc_id = u.doc_id - 1
  LEFT JOIN with_url p2 ON p2.doc_id = u.doc_id - 2
  LEFT JOIN with_url p3 ON p3.doc_id = u.doc_id - 3
  WHERE u.doc_id % 8 BETWEEN 1 AND 6
    AND NOT (u.doc_id % 8 = 5 AND u.doc_id = nn.mx)
), rolled AS (
  SELECT w.host, w.url, r.final_url, r.status
  FROM with_url w LEFT JOIN resolved r ON w.url = r.url
)
SELECT host,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(*) FILTER (status = 'ok') AS BIGINT) AS n_rewritten,
       CAST(count(*) FILTER (status IN ('loop', 'truncated')) AS BIGINT)
         AS n_dropped_chains,
       CAST(count(DISTINCT CASE WHEN status IS NULL OR status = 'ok'
            THEN coalesce(final_url, url) END) AS BIGINT) AS n_fetch_targets
FROM rolled GROUP BY host
"""
