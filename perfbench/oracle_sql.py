"""DuckDB oracle SQL of the 16 headline queries, pinned here.

A verbatim copy of the operator registry's oracle SQL for these queries,
so that a change to the registry cannot change both sides of the
query_suite check at once. Table names are the parquet files' stems.
"""

HEADLINE = [
    "q1_pricing_rollup",
    "q3_order_revenue",
    "q5_nation_volume",
    "s2_scan_windows",
    "a1_conditional_rollup",
    "w1_adjacent_pairs",
    "w3_sliding_avg",
    "o5_topk_per_group",
    "p6_first_match_per_group",
    "f17_json_access",
    "t2_lang_id_heuristic",
    "t3_text_quality",
    "d1_exact_dedup",
    "d2_token_jaccard",
    "d3_minhash_lsh",
    "ann_bruteforce_topk",
]

ORACLE_SQL = {
    "q1_pricing_rollup": """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                   AS sum_qty,
           round(sum(l_extendedprice), 2)                              AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           round(avg(l_quantity), 4)                                   AS avg_qty,
           round(avg(l_discount), 6)                                   AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    "q3_order_revenue": """
    SELECT o.o_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d')                   AS orderdate
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
    "q5_nation_volume": """
    SELECT n.n_name AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name
    """,
    "s2_scan_windows": """
    SELECT min(l_orderkey)                                     AS min_id,
           max(l_orderkey)                                     AS max_id,
           count(DISTINCT l_orderkey)                          AS n_ids,
           CAST(ceil((max(l_orderkey) - min(l_orderkey) + 1) / 1000.0) AS BIGINT)
                                                               AS n_windows
    FROM lineitem
    """,
    "a1_conditional_rollup": """
    SELECT user_id,
           round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2)
             AS purchase_value,
           count(CASE WHEN event_type = 'view' THEN 1 END)  AS views,
           count(CASE WHEN event_type = 'click' THEN 1 END) AS clicks
    FROM events GROUP BY user_id
    """,
    "w1_adjacent_pairs": """
    SELECT user_id, count(*) AS transfers
    FROM (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ) WHERE event_type = 'purchase' AND prev = 'purchase'
    GROUP BY user_id
    """,
    "w3_sliding_avg": """
    SELECT event_id,
           floor((avg(CAST(round(value * 100) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW
           ) / 100.0) * 10000 + 0.5) / 10000 AS avg_24h
    FROM events
    """,
    "o5_topk_per_group": """
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    "p6_first_match_per_group": """
    SELECT c_custkey, o_orderkey AS first_f_order
    FROM (
      SELECT c.c_custkey, o.o_orderkey,
             row_number() OVER (PARTITION BY c.c_custkey
                                ORDER BY o.o_orderdate, o.o_orderkey) AS rn
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      WHERE o.o_orderstatus = 'F'
    ) WHERE rn = 1
    """,
    "f17_json_access": """
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_total
    FROM events GROUP BY event_type
    """,
    "t2_lang_id_heuristic": """
    SELECT doc_id,
           CASE WHEN len(list_filter(string_split(text, ' '),
                                     x -> x = 'the' OR x = 'a'))
                     >= 0.03 * len(string_split(text, ' '))
                THEN 'en_like' ELSE 'other' END AS pred_lang
    FROM documents
    """,
    "t3_text_quality": """
    SELECT doc_id,
           length(text)                                     AS n_chars,
           len(string_split(text, ' '))                     AS n_tokens,
           round(length(replace(text, ' ', '')) * 1.0
                 / len(string_split(text, ' ')), 4)         AS avg_token_len,
           round(len(list_filter(string_split(text, ' '),
                                 x -> x = 'the' OR x = 'a')) * 1.0
                 / len(string_split(text, ' ')), 4)         AS stopword_ratio,
           round(least(1.0, len(string_split(text, ' ')) / 100.0)
                 * (1.0 - len(list_filter(string_split(text, ' '),
                                          x -> x = 'the' OR x = 'a')) * 1.0
                        / len(string_split(text, ' '))), 4) AS quality
    FROM documents
    """,
    "d1_exact_dedup": """
    SELECT md5(text) AS content_hash,
           min(doc_id) AS keeper,
           count(*)    AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    "d2_token_jaccard": """
    WITH tok0 AS (
      SELECT DISTINCT doc_id, source, lang, tok FROM (
        SELECT doc_id, source, lang, unnest(string_split(text, ' ')) AS tok
        FROM documents)
    ),
    df AS (SELECT tok, count(*) AS c FROM tok0 GROUP BY tok),
    total AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
    tok AS (
      SELECT t.doc_id, t.source, t.lang, t.tok
      FROM tok0 t JOIN df ON df.tok = t.tok CROSS JOIN total
      WHERE df.c <= greatest(5, 0.5 * total.n)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM tok a JOIN tok b
        ON a.tok = b.tok AND a.source = b.source AND a.lang = b.lang
       AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           floor(inter * 10000.0 / (sa.n + sb.n - inter) + 0.5) / 10000.0 AS jaccard
    FROM pairs JOIN sizes sa ON pairs.id_a = sa.doc_id
               JOIN sizes sb ON pairs.id_b = sb.doc_id
    WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.82
    """,
    "d3_minhash_lsh": """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), shlist AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(t) >= 3
               THEN list_transform(range(0, len(t) - 3 + 1),
                      i -> array_to_string(list_slice(t, i + 1, i + 3), ' '))
               ELSE [array_to_string(t, ' ')] END) AS sh
      FROM toks
    ), shingle AS (
      SELECT doc_id, unnest(sh) AS s FROM shlist
    ), based AS (
      SELECT doc_id, list_reduce(
      [42::BIGINT]
      || list_transform(range(0, length(s)//4), w -> (1*unicode(substr(s,(4*w+1)::INT,1))+256*unicode(substr(s,(4*w+2)::INT,1))+65536*unicode(substr(s,(4*w+3)::INT,1))+16777216*unicode(substr(s,(4*w+4)::INT,1)))::BIGINT)
      || list_transform(range((length(s)//4)*4, length(s)),
           i -> (CASE WHEN unicode(substr(s,(i+1)::INT,1)) >= 128 THEN 4294967040 + unicode(substr(s,(i+1)::INT,1))
                      ELSE unicode(substr(s,(i+1)::INT,1)) END)::BIGINT),
      (h, k) -> (((((xor(h, (((((((((k)::HUGEINT * 3432918353) % 4294967296)::BIGINT << 15) % 4294967296) + ((((k)::HUGEINT * 3432918353) % 4294967296)::BIGINT >> 17)))::HUGEINT * 461845907) % 4294967296)::BIGINT) << 13) % 4294967296) + (xor(h, (((((((((k)::HUGEINT * 3432918353) % 4294967296)::BIGINT << 15) % 4294967296) + ((((k)::HUGEINT * 3432918353) % 4294967296)::BIGINT >> 17)))::HUGEINT * 461845907) % 4294967296)::BIGINT) >> 19)) * 5 + 3864292196) % 4294967296)) AS q_h,
      xor(q_h, length(s)) AS qf0,
      xor(qf0, qf0 >> 16) AS qf1,
      ((qf1::HUGEINT * 2246822507) % 4294967296)::BIGINT AS qf2,
      xor(qf2, qf2 >> 13) AS qf3,
      ((qf3::HUGEINT * 3266489909) % 4294967296)::BIGINT AS qf4,
      xor(qf4, qf4 >> 16) AS qf5,
      CASE WHEN qf5 >= 2147483648 THEN qf5 - 4294967296
           ELSE qf5 END AS mh
      FROM shingle
    ), xs AS (
      SELECT doc_id,
             (CASE WHEN mh < 0 THEN mh + 4294967296 ELSE mh END) % 2147483647 AS x
      FROM based
    ), sigs AS (
      SELECT doc_id,
             min((x * 822569776 + 13242096) % 2147483647) AS m0,
             min((x * 2137449172 + 1901221627) % 2147483647) AS m1,
             min((x * 524453159 + 59135052) % 2147483647) AS m2,
             min((x * 1365105718 + 95107365) % 2147483647) AS m3,
             min((x * 1880026317 + 1171781410) % 2147483647) AS m4,
             min((x * 481516917 + 1248669606) % 2147483647) AS m5,
             min((x * 1225605785 + 1643431418) % 2147483647) AS m6,
             min((x * 1165481978 + 1058256067) % 2147483647) AS m7,
             min((x * 1202486928 + 1567173351) % 2147483647) AS m8,
             min((x * 1549064882 + 1023433867) % 2147483647) AS m9,
             min((x * 1170776344 + 495622784) % 2147483647) AS m10,
             min((x * 646980842 + 1671713513) % 2147483647) AS m11,
             min((x * 1187404955 + 323759947) % 2147483647) AS m12,
             min((x * 852631583 + 2092247376) % 2147483647) AS m13,
             min((x * 1296531116 + 1584087043) % 2147483647) AS m14,
             min((x * 1353614495 + 504415490) % 2147483647) AS m15,
             min((x * 1967693549 + 1860322579) % 2147483647) AS m16,
             min((x * 682106749 + 1691282316) % 2147483647) AS m17,
             min((x * 1614618395 + 650164161) % 2147483647) AS m18,
             min((x * 498808183 + 1944459723) % 2147483647) AS m19,
             min((x * 1536813499 + 1705972083) % 2147483647) AS m20,
             min((x * 55437433 + 163843691) % 2147483647) AS m21,
             min((x * 4274033 + 1240086522) % 2147483647) AS m22,
             min((x * 2090933725 + 1248212433) % 2147483647) AS m23,
             min((x * 787967302 + 1360800782) % 2147483647) AS m24,
             min((x * 1421700433 + 2000751859) % 2147483647) AS m25,
             min((x * 913548234 + 292481479) % 2147483647) AS m26,
             min((x * 1299827072 + 1869737788) % 2147483647) AS m27,
             min((x * 1590214903 + 1585390058) % 2147483647) AS m28,
             min((x * 421988863 + 298408555) % 2147483647) AS m29,
             min((x * 262835632 + 1873350574) % 2147483647) AS m30,
             min((x * 240490035 + 2015452060) % 2147483647) AS m31
      FROM xs GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, 0 AS band, [m0, m1, m2, m3] AS k FROM sigs
      UNION ALL SELECT doc_id, 1 AS band, [m4, m5, m6, m7] AS k FROM sigs
      UNION ALL SELECT doc_id, 2 AS band, [m8, m9, m10, m11] AS k FROM sigs
      UNION ALL SELECT doc_id, 3 AS band, [m12, m13, m14, m15] AS k FROM sigs
      UNION ALL SELECT doc_id, 4 AS band, [m16, m17, m18, m19] AS k FROM sigs
      UNION ALL SELECT doc_id, 5 AS band, [m20, m21, m22, m23] AS k FROM sigs
      UNION ALL SELECT doc_id, 6 AS band, [m24, m25, m26, m27] AS k FROM sigs
      UNION ALL SELECT doc_id, 7 AS band, [m28, m29, m30, m31] AS k FROM sigs
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.k = b.k AND a.doc_id < b.doc_id
    ), jac AS (
      SELECT c.id_a, c.id_b,
             len(list_intersect(sa.sh, sb.sh)) AS inter,
             len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS uni,
             len(sa.sh) AS na, len(sb.sh) AS nb
      FROM cand c
      JOIN shlist sa ON sa.doc_id = c.id_a
      JOIN shlist sb ON sb.doc_id = c.id_b
    )
    
    SELECT id_a AS id_a, id_b AS id_b,
           floor(inter * 10000.0 / uni + 0.5) / 10000.0 AS jaccard
    FROM jac WHERE inter * 1.0 / uni >= 0.35
    """,
    "ann_bruteforce_topk": """
    SELECT query_id, vec_id AS neighbor, round(cos_sim, 4) AS cos_sim
    FROM (
      SELECT q.vec_id AS query_id, v.vec_id,
             list_cosine_similarity(q.embedding::DOUBLE[], v.embedding::DOUBLE[]) AS cos_sim,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], v.embedding::DOUBLE[]) DESC,
                        v.vec_id
             ) AS rn
      FROM embeddings q JOIN embeddings v ON v.vec_id <> q.vec_id
      WHERE q.vec_id < 8
    ) WHERE rn <= 5
    """,
}
