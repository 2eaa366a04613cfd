package graft

import graft.ext.TextAnalysis
import graft.OracleBuilders._

/** DuckDB oracle SQL, slice 2 of 3 — split from the monolithic
  * [[SparkEntry.oracleSql]] registry by size for maintainability (the
  * map is keyed by query name; family grouping lives in the Queries*
  * objects). No behavior change. */
private[graft] object Oracles2 {
  /** Shared stupid-backoff LM replay: the CTE chain producing per-doc
    * `(doc_id, n_scored, avg_logprob)` — used verbatim by q_lm_backoff
    * and wrapped by q_ccnet_buckets (CCNet tertile bucketing). */
  private val lmBackoffCtes: String =
    """t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         toks AS (SELECT unnest(l) AS w FROM t),
         nn AS (SELECT count(*)::DOUBLE AS n FROM toks WHERE w <> ''),
         uni AS (SELECT w, count(*)::BIGINT AS c1 FROM toks
              WHERE w <> '' GROUP BY 1),
         bi AS (SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
              FROM (SELECT doc_id, l,
                      unnest(generate_series(1, len(l) - 1)) AS i
                    FROM t WHERE len(l) >= 2)),
         big AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM bi GROUP BY 1, 2),
         inst AS (SELECT doc_id, l[i] AS w1, l[i + 1] AS w2, l[i + 2] AS w3
              FROM (SELECT doc_id, l,
                      unnest(generate_series(1, len(l) - 2)) AS i
                    FROM t WHERE len(l) >= 3)),
         tri AS (SELECT w1, w2, w3, count(*)::BIGINT AS c3 FROM inst
              GROUP BY 1, 2, 3 HAVING count(*) >= 2),
         bigp AS (SELECT w1 AS w2, w2 AS w3, c2 AS c2p FROM big WHERE c2 >= 2),
         sc AS (SELECT i.doc_id,
                CASE WHEN tri.c3 IS NOT NULL
                       THEN log2(tri.c3::DOUBLE / big.c2::DOUBLE)
                     WHEN bigp.c2p IS NOT NULL
                       THEN -1.3219280948873622
                            + log2(bigp.c2p::DOUBLE / u2.c1::DOUBLE)
                     ELSE -2.6438561897747244
                          + log2(u3.c1::DOUBLE / nn.n) END AS lp
              FROM inst i
              LEFT JOIN tri ON tri.w1 = i.w1 AND tri.w2 = i.w2
                           AND tri.w3 = i.w3
              LEFT JOIN big ON big.w1 = i.w1 AND big.w2 = i.w2
              LEFT JOIN bigp ON bigp.w2 = i.w2 AND bigp.w3 = i.w3
              LEFT JOIN uni u2 ON u2.w = i.w2
              LEFT JOIN uni u3 ON u3.w = i.w3
              CROSS JOIN nn),
         q AS (SELECT doc_id, floor(lp * 1e6 + 0.5)::BIGINT AS qlp FROM sc)"""
  private val lmBackoffSelect: String =
    """SELECT doc_id, count(*)::BIGINT AS n_scored,
                round(sum(qlp)::DOUBLE / 1e6 / count(*)::DOUBLE, 6)
                  AS avg_logprob
         FROM q GROUP BY 1"""

  /** Rule-family oracle bodies, hoisted so the funnel oracle can embed
    * them as subqueries (DuckDB scopes a nested WITH to its
    * parentheses). */
  private val c4RulesOracle: String =
    """WITH w0 AS (SELECT doc_id,
                list_filter(string_split(text, ' '), x -> x <> '') AS bw
              FROM documents),
         w1 AS (SELECT doc_id, CASE WHEN doc_id % 89 = 0
                  THEN list_concat(['{'], bw) ELSE bw END AS bw FROM w0),
         w2 AS (SELECT doc_id, CASE WHEN doc_id % 97 = 0
                  THEN list_concat(['lorem', 'ipsum'], bw)
                  ELSE bw END AS wl FROM w1),
         st AS (SELECT doc_id, wl,
                greatest((len(wl) + 5) // 6, 1)::BIGINT AS nl
              FROM w2),
         rend AS (SELECT doc_id,
                array_to_string([array_to_string(wl[(i-1)*6+1 : i*6], ' ')
                     || CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR
                            || ':' || i::VARCHAR), 1, 15))::UBIGINT
                            % 4 <> 0
                          THEN '.' ELSE '' END
                   for i in generate_series(1, nl)], chr(10)) AS page
              FROM st),
         ln AS (SELECT doc_id, page,
                [struct_pack(
                   len := len(list_filter(string_split(t, ' '),
                              x -> x <> ''))::BIGINT,
                   kept := right(t, 1) IN ('.', '!', '?', '"')
                           AND len(list_filter(string_split(t, ' '),
                                   x -> x <> '')) >= 5)
                 for t in string_split(page, chr(10))] AS lines
              FROM rend)
         SELECT doc_id, len(lines)::BIGINT AS n_lines,
                len([l for l in lines if l.kept])::BIGINT AS n_sentences,
                coalesce(list_sum([l.len for l in lines if l.kept]), 0)
                  ::BIGINT AS retained_words,
                contains(page, 'lorem ipsum') AS has_lorem,
                contains(page, '{') AS has_brace,
                (len([l for l in lines if l.kept]) >= 3
                 AND NOT contains(page, 'lorem ipsum')
                 AND NOT contains(page, '{')) AS pass
         FROM ln ORDER BY doc_id"""
  private val gopherRulesOracle: String =
    """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS l
              FROM documents),
         m AS (SELECT doc_id,
                len(l)::BIGINT AS n_words,
                (length(text) - (len(l) - 1))::DOUBLE / len(l)::DOUBLE
                  AS mwl,
                len(list_filter(l, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                  / greatest(len(l), 1)::DOUBLE AS ar,
                len(list_intersect(list_distinct(l),
                    ['the', 'a', 'and', 'of', 'to', 'in', 'is', 'it',
                     'that', 'for']))::BIGINT AS sh
              FROM t)
         SELECT doc_id, n_words,
                round(mwl, 6) AS mean_word_len,
                round(ar, 6) AS alpha_word_ratio,
                sh AS stop_hits,
                n_words BETWEEN 50 AND 100000 AS ok_words,
                mwl >= 3.0 AND mwl <= 10.0 AS ok_word_len,
                ar >= 0.8 AS ok_alpha,
                sh >= 2 AS ok_stop,
                (n_words BETWEEN 50 AND 100000) AND (mwl >= 3.0 AND mwl <= 10.0)
                  AND ar >= 0.8 AND sh >= 2 AS pass
         FROM m ORDER BY doc_id"""
  private val gopherRepetitionOracle: String =
    """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS l,
                greatest(length(text), 1)::BIGINT AS nc FROM documents),
         lines AS (SELECT doc_id,
                unnest([array_to_string(l[i*8+1 : i*8+8], ' ')
                        for i in generate_series(0, (len(l)-1)//8)]) AS seg
              FROM t),
         lc AS (SELECT doc_id, seg, count(*) AS c, length(seg) AS ln
              FROM lines GROUP BY 1, 2),
         lstat AS (SELECT doc_id, sum(c)::BIGINT AS n_lines,
                sum(c - 1)::BIGINT AS dl, sum((c - 1) * ln)::BIGINT AS dlc
              FROM lc GROUP BY 1),
         paras AS (SELECT doc_id,
                unnest([array_to_string(l[i*32+1 : i*32+32], ' ')
                        for i in generate_series(0, (len(l)-1)//32)]) AS seg
              FROM t),
         pc AS (SELECT doc_id, seg, count(*) AS c, length(seg) AS ln
              FROM paras GROUP BY 1, 2),
         pstat AS (SELECT doc_id, sum(c)::BIGINT AS n_paras,
                sum(c - 1)::BIGINT AS dp, sum((c - 1) * ln)::BIGINT AS dpc
              FROM pc GROUP BY 1),
         g2 AS (SELECT doc_id, unnest([array_to_string(l[i : i+1], ' ')
                        for i in generate_series(1, len(l) - 1)]) AS g
              FROM t),
         g2c AS (SELECT doc_id, g, count(*) AS c, length(g) AS ln
              FROM g2 GROUP BY 1, 2),
         g2m AS (SELECT doc_id, max(c) AS mc FROM g2c GROUP BY 1),
         g2t AS (SELECT c.doc_id, max(c.c * c.ln)::BIGINT AS mass
              FROM g2c c JOIN g2m m ON c.doc_id = m.doc_id AND c.c = m.mc
              GROUP BY 1),
         g3 AS (SELECT doc_id, unnest([array_to_string(l[i : i+2], ' ')
                        for i in generate_series(1, len(l) - 2)]) AS g
              FROM t),
         g3c AS (SELECT doc_id, g, count(*) AS c, length(g) AS ln
              FROM g3 GROUP BY 1, 2),
         g3m AS (SELECT doc_id, max(c) AS mc FROM g3c GROUP BY 1),
         g3t AS (SELECT c.doc_id, max(c.c * c.ln)::BIGINT AS mass
              FROM g3c c JOIN g3m m ON c.doc_id = m.doc_id AND c.c = m.mc
              GROUP BY 1),
         g4 AS (SELECT doc_id, unnest([array_to_string(l[i : i+3], ' ')
                        for i in generate_series(1, len(l) - 3)]) AS g
              FROM t),
         g4c AS (SELECT doc_id, g, count(*) AS c, length(g) AS ln
              FROM g4 GROUP BY 1, 2),
         g4m AS (SELECT doc_id, max(c) AS mc FROM g4c GROUP BY 1),
         g4t AS (SELECT c.doc_id, max(c.c * c.ln)::BIGINT AS mass
              FROM g4c c JOIN g4m m ON c.doc_id = m.doc_id AND c.c = m.mc
              GROUP BY 1),
         fmt AS (SELECT doc_id,
                len(l)::BIGINT AS n_words,
                (length(text) - (len(l) - 1))::DOUBLE / len(l)::DOUBLE
                  AS mwl,
                len(list_filter(l, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                  / greatest(len(l), 1)::DOUBLE AS ar,
                len(list_intersect(list_distinct(l),
                    ['the', 'a', 'and', 'of', 'to', 'in', 'is', 'it',
                     'that', 'for']))::BIGINT AS sh
              FROM t),
         ppm AS (SELECT t.doc_id, ls.n_lines, ps.n_paras,
                1000000 * ls.dl // ls.n_lines AS dup_line_ppm,
                1000000 * ls.dlc // t.nc AS dup_line_char_ppm,
                1000000 * ps.dp // ps.n_paras AS dup_para_ppm,
                1000000 * ps.dpc // t.nc AS dup_para_char_ppm,
                1000000 * coalesce(g2t.mass, 0) // t.nc AS top2_char_ppm,
                1000000 * coalesce(g3t.mass, 0) // t.nc AS top3_char_ppm,
                1000000 * coalesce(g4t.mass, 0) // t.nc AS top4_char_ppm,
                (f.n_words BETWEEN 50 AND 100000)
                  AND (f.mwl >= 3.0 AND f.mwl <= 10.0)
                  AND f.ar >= 0.8 AND f.sh >= 2 AS pass_format
              FROM t
              JOIN lstat ls ON t.doc_id = ls.doc_id
              JOIN pstat ps ON t.doc_id = ps.doc_id
              JOIN fmt f ON t.doc_id = f.doc_id
              LEFT JOIN g2t ON t.doc_id = g2t.doc_id
              LEFT JOIN g3t ON t.doc_id = g3t.doc_id
              LEFT JOIN g4t ON t.doc_id = g4t.doc_id)
         SELECT doc_id, n_lines, n_paras,
                dup_line_ppm, dup_line_char_ppm,
                dup_para_ppm, dup_para_char_ppm,
                top2_char_ppm, top3_char_ppm, top4_char_ppm,
                dup_line_ppm <= 300000 AS ok_dup_line,
                dup_line_char_ppm <= 200000 AS ok_dup_line_char,
                dup_para_ppm <= 300000 AS ok_dup_para,
                dup_para_char_ppm <= 200000 AS ok_dup_para_char,
                top2_char_ppm <= 200000 AS ok_top2,
                top3_char_ppm <= 180000 AS ok_top3,
                top4_char_ppm <= 160000 AS ok_top4,
                (dup_line_ppm <= 300000 AND dup_line_char_ppm <= 200000
                  AND dup_para_ppm <= 300000 AND dup_para_char_ppm <= 200000
                  AND top2_char_ppm <= 200000 AND top3_char_ppm <= 180000
                  AND top4_char_ppm <= 160000) AS pass_repetition,
                pass_format,
                pass_format AND (dup_line_ppm <= 300000
                  AND dup_line_char_ppm <= 200000
                  AND dup_para_ppm <= 300000 AND dup_para_char_ppm <= 200000
                  AND top2_char_ppm <= 200000 AND top3_char_ppm <= 180000
                  AND top4_char_ppm <= 160000) AS pass
         FROM ppm ORDER BY doc_id"""

  /** Shared by q_filter_funnel and q_filter_funnel_stream: the
    * streaming gate must reproduce the batch attrition report
    * cell-exactly from maintained ledger state, so both compare to the
    * one first-principles composition. */
  private def filterFunnelOracle: String =
    s"""WITH gfp AS (SELECT doc_id, pass FROM ($gopherRulesOracle)),
         grp AS (SELECT doc_id, pass_repetition
              FROM ($gopherRepetitionOracle)),
         c4p AS (SELECT doc_id, pass AS pass_c4 FROM ($c4RulesOracle)),
         toks AS (SELECT doc_id,
                len(string_split(text, ' '))::BIGINT AS n_tokens
              FROM documents),
         s2 AS (SELECT doc_id FROM gfp WHERE pass),
         s3 AS (SELECT s2.doc_id FROM s2 JOIN grp USING (doc_id)
              WHERE grp.pass_repetition),
         s4 AS (SELECT s3.doc_id FROM s3 JOIN c4p USING (doc_id)
              WHERE c4p.pass_c4),
         s56 AS (SELECT * FROM (
           WITH RECURSIVE
           $curationGateCtes
           s5 AS (SELECT s4.doc_id FROM s4 JOIN keptf USING (doc_id)),
           s5t AS (SELECT k.doc_id, k.text, k.l
                FROM keptf k JOIN s5 USING (doc_id)),
           ${simhashCcChainSql("s5t")},
           s6 AS (SELECT s5.doc_id FROM s5 LEFT JOIN clus
                  ON s5.doc_id = clus.id
                WHERE clus.id IS NULL OR clus.cluster_id = s5.doc_id)
           SELECT '5_lang_quality' AS stage, doc_id FROM s5
           UNION ALL SELECT '6_dedup_canonical', doc_id FROM s6)),
         stg AS (
           SELECT '1_all' AS stage, doc_id FROM documents
           UNION ALL SELECT '2_gopher_format', doc_id FROM s2
           UNION ALL SELECT '3_gopher_repetition', doc_id FROM s3
           UNION ALL SELECT '4_c4', doc_id FROM s4
           UNION ALL SELECT stage, doc_id FROM s56)
         SELECT stg.stage, count(*)::BIGINT AS n_docs,
                sum(tk.n_tokens)::BIGINT AS n_tokens
         FROM stg JOIN toks tk USING (doc_id)
         GROUP BY 1 ORDER BY 1"""

  val map: Map[String, String] = Map(
    "q_asof_native" -> asofOracle,

    "q_asof_native_merge" -> asofOracle,

    "q_asof_skew" -> asofOracle,

    "q_asof_stream" -> asofOracle,

    "q_asof_multi" ->
      """WITH clicks AS (SELECT event_id, user_id AS user_email,
                date_trunc('day', ts) AS day, ts
              FROM events WHERE event_type = 'click'),
         purch AS (SELECT user_id AS user_email,
                date_trunc('day', ts) AS day, ts,
                round(max(value), 6) AS pvalue
              FROM events WHERE event_type = 'purchase' GROUP BY 1, 2, 3)
         SELECT c.event_id, c.ts, c.user_email,
                p.ts AS asof_ts, p.pvalue AS asof_pvalue
         FROM clicks c ASOF LEFT JOIN purch p
           ON c.user_email = p.user_email AND c.day = p.day
             AND c.ts >= p.ts
         ORDER BY c.event_id""",

    "q_pivot_daily" ->
      """SELECT date_trunc('day', ts) AS day, user_id AS user_email,
                round(sum(value) FILTER (WHERE event_type = 'click'), 6) AS click,
                round(sum(value) FILTER (WHERE event_type = 'error'), 6) AS error,
                round(sum(value) FILTER (WHERE event_type = 'purchase'), 6) AS purchase,
                round(sum(value) FILTER (WHERE event_type = 'signup'), 6) AS signup,
                round(sum(value) FILTER (WHERE event_type = 'view'), 6) AS view
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_unpivot_orders" ->
      """SELECT o_orderkey, 'o_custkey' AS metric,
                CAST(o_custkey AS DOUBLE) AS val FROM orders
         UNION ALL
         SELECT o_orderkey, 'o_totalprice' AS metric, o_totalprice AS val
         FROM orders
         ORDER BY o_orderkey, metric""",

    "q_upsert_partitioned" ->
      """SELECT event_id, ts, user_id AS user_email, event_type AS habit,
                CASE WHEN event_id % 3 = 0 THEN value * 2 ELSE value END
                  AS value,
                props
         FROM events ORDER BY event_id""",

    "q_upsert_merge" ->
      """SELECT event_id, ts, user_id AS user_email, event_type AS habit,
                CASE WHEN event_id % 3 = 0 THEN value * 2 ELSE value END
                  AS value,
                props
         FROM events ORDER BY event_id""",

    "q_upsert_evolving" ->
      """SELECT event_id, ts, user_id AS user_email, event_type AS habit,
                CASE WHEN event_id % 3 = 0 THEN value * 2 ELSE value END
                  AS value,
                CASE WHEN event_id % 3 = 0 THEN 'reimport' END AS channel
         FROM events ORDER BY event_id""",

    "q_transform_wide" ->
      """SELECT * FROM (VALUES
           (TIMESTAMP '2025-08-22 17:00:00', 'alice@example.com', 'meditation_minutes', 25.0::DOUBLE, 'Notes: felt great', 'sheets'),
           (TIMESTAMP '2025-08-22 17:00:00', 'alice@example.com', 'mood_score', 8.0::DOUBLE, 'Notes: felt great', 'sheets'),
           (TIMESTAMP '2025-08-22 17:00:00', 'alice@example.com', 'workout', 1.0::DOUBLE, 'Notes: felt great', 'sheets'),
           (TIMESTAMP '2024-08-15 17:00:00', 'bob@x.com', 'workout', 0.0::DOUBLE, NULL::VARCHAR, 'sheets'),
           (TIMESTAMP '2025-01-15 18:00:00', 'carol@y.com', 'meditation_minutes', 10.5::DOUBLE, NULL, 'sheets'),
           (TIMESTAMP '2025-01-15 18:00:00', 'carol@y.com', 'workout', 1.0::DOUBLE, NULL, 'sheets'),
           (TIMESTAMP '2025-08-03 17:00:00', 'dave@z.com', 'meditation_minutes', 100.0::DOUBLE, 'Notes: ok', 'sheets'),
           (TIMESTAMP '2025-08-03 17:00:00', 'dave@z.com', 'mood_score', 7.0::DOUBLE, 'Notes: ok', 'sheets'),
           (TIMESTAMP '2025-08-03 17:00:00', 'dave@z.com', 'workout', 1.0::DOUBLE, 'Notes: ok', 'sheets'),
           (TIMESTAMP '2025-08-22 13:30:00', 'eve@w.com', 'meditation_minutes', 5.0::DOUBLE, NULL, 'sheets'),
           (TIMESTAMP '2025-08-22 13:30:00', 'eve@w.com', 'mood_score', 6.0::DOUBLE, NULL, 'sheets'),
           (TIMESTAMP '2025-08-22 13:30:00', 'eve@w.com', 'workout', 0.0::DOUBLE, NULL, 'sheets'),
           (TIMESTAMP '2024-08-15 11:00:00', 'gina@x.com', 'meditation_minutes', 3.0::DOUBLE, NULL, 'sheets'),
           (TIMESTAMP '2024-08-15 11:00:00', 'gina@x.com', 'mood_score', 2.0::DOUBLE, NULL, 'sheets'),
           (TIMESTAMP '2024-08-15 11:00:00', 'gina@x.com', 'workout', 1.0::DOUBLE, NULL, 'sheets')
         ) t(ts, user_email, habit, value, notes, source)
         ORDER BY user_email, habit""",

    // identical expected table to q_transform_wide: the CSV roundtrip
    // must not change the transform's output
    "q_transform_csv" ->
      """SELECT * FROM (VALUES
           (TIMESTAMP '2025-08-22 17:00:00', 'alice@example.com', 'meditation_minutes', 25.0::DOUBLE, 'Notes: felt great', 'sheets'),
           (TIMESTAMP '2025-08-22 17:00:00', 'alice@example.com', 'mood_score', 8.0::DOUBLE, 'Notes: felt great', 'sheets'),
           (TIMESTAMP '2025-08-22 17:00:00', 'alice@example.com', 'workout', 1.0::DOUBLE, 'Notes: felt great', 'sheets'),
           (TIMESTAMP '2024-08-15 17:00:00', 'bob@x.com', 'workout', 0.0::DOUBLE, NULL::VARCHAR, 'sheets'),
           (TIMESTAMP '2025-01-15 18:00:00', 'carol@y.com', 'meditation_minutes', 10.5::DOUBLE, NULL, 'sheets'),
           (TIMESTAMP '2025-01-15 18:00:00', 'carol@y.com', 'workout', 1.0::DOUBLE, NULL, 'sheets'),
           (TIMESTAMP '2025-08-03 17:00:00', 'dave@z.com', 'meditation_minutes', 100.0::DOUBLE, 'Notes: ok', 'sheets'),
           (TIMESTAMP '2025-08-03 17:00:00', 'dave@z.com', 'mood_score', 7.0::DOUBLE, 'Notes: ok', 'sheets'),
           (TIMESTAMP '2025-08-03 17:00:00', 'dave@z.com', 'workout', 1.0::DOUBLE, 'Notes: ok', 'sheets'),
           (TIMESTAMP '2025-08-22 13:30:00', 'eve@w.com', 'meditation_minutes', 5.0::DOUBLE, NULL, 'sheets'),
           (TIMESTAMP '2025-08-22 13:30:00', 'eve@w.com', 'mood_score', 6.0::DOUBLE, NULL, 'sheets'),
           (TIMESTAMP '2025-08-22 13:30:00', 'eve@w.com', 'workout', 0.0::DOUBLE, NULL, 'sheets'),
           (TIMESTAMP '2024-08-15 11:00:00', 'gina@x.com', 'meditation_minutes', 3.0::DOUBLE, NULL, 'sheets'),
           (TIMESTAMP '2024-08-15 11:00:00', 'gina@x.com', 'mood_score', 2.0::DOUBLE, NULL, 'sheets'),
           (TIMESTAMP '2024-08-15 11:00:00', 'gina@x.com', 'workout', 1.0::DOUBLE, NULL, 'sheets')
         ) t(ts, user_email, habit, value, notes, source)
         ORDER BY user_email, habit""",

    "q_raw_dedup" ->
      """SELECT min(doc_id) AS doc_id, sha256(text) AS row_hash,
                count(*) AS n_copies
         FROM documents GROUP BY sha256(text) ORDER BY 1""",

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 2) AS sum_qty,
                round(sum(l_extendedprice), 2) AS sum_base_price,
                round(sum(l_extendedprice * (1 - l_discount)), 2)
                  AS sum_disc_price,
                round(avg(l_quantity), 6) AS avg_qty,
                round(avg(l_discount), 6) AS avg_disc,
                count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_above_avg_orders" ->
      """SELECT o_custkey, count(*) AS n_above,
                round(max(o_totalprice), 6) AS max_price
         FROM orders o
         WHERE o_totalprice > (SELECT avg(o2.o_totalprice) FROM orders o2
                               WHERE o2.o_custkey = o.o_custkey)
         GROUP BY o_custkey ORDER BY o_custkey""",

    "q_revenue_by_nation" ->
      """SELECT n_name, round(sum(o_totalprice), 2) AS revenue,
                count(*) AS n_orders
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1 ORDER BY 1""",

    "q_shipping_priority" ->
      """SELECT l_orderkey,
              round(sum(l_extendedprice * (1.0 - l_discount)), 2)
                AS revenue,
              o_orderdate, o_orderpriority
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1996-03-15'
           AND l_shipdate > TIMESTAMP '1996-03-15'
         GROUP BY 1, 3, 4
         ORDER BY revenue DESC, o_orderdate, l_orderkey
         LIMIT 10""",

    "q_local_supplier_revenue" ->
      """SELECT n_name,
              round(sum(l_extendedprice * (1.0 - l_discount)), 2)
                AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
           AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY 1 ORDER BY revenue DESC, n_name""",

    "q_top_orders_per_segment" ->
      """SELECT c_mktsegment, rank, o_orderkey, o_totalprice FROM (
           SELECT c_mktsegment, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY c_mktsegment
                    ORDER BY o_totalprice DESC, o_orderkey) AS rank
           FROM orders JOIN customer ON o_custkey = c_custkey
         ) WHERE rank <= 5 ORDER BY c_mktsegment, rank""",

    // plain unpruned join — proves the bloom pre-filter changes nothing
    "q_bloom_join" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n_items,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_totalprice > 450000
         GROUP BY 1 ORDER BY 1""",

    "q_bloom_stream" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n_items,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_totalprice > 450000
         GROUP BY 1 ORDER BY 1""",

    "q_bucket_join" ->
      """SELECT o_orderdate,
                sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                  AS BIGINT))::BIGINT AS revenue_e4,
                count(*)::BIGINT AS n
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY 1""",

    "q_orc_roundtrip" ->
      """SELECT event_type AS habit, count(*)::BIGINT AS n,
                round(avg(value), 6) AS avg_value, max(ts) AS last_ts
         FROM events GROUP BY 1 ORDER BY 1""",

    "q_jsonl_roundtrip" ->
      """SELECT event_type AS habit, count(*)::BIGINT AS n,
                round(avg(value), 6) AS avg_value, max(ts) AS last_ts
         FROM events GROUP BY 1 ORDER BY 1""",

    "q_variant_shredded" ->
      """SELECT event_type AS habit, count(*)::BIGINT AS n,
                sum((props ->> '$.k')::BIGINT)::BIGINT AS sum_k,
                round(avg(value), 6) AS avg_value
         FROM events WHERE (props ->> '$.k')::BIGINT >= 50
         GROUP BY 1 ORDER BY 1""",

    "q_interval_join_stream" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'click'),
              p AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'purchase')
         SELECT c.event_id AS l_event_id, p.event_id AS r_event_id,
                c.ts AS l_ts, c.user_id AS user_email, p.ts AS r_ts
         FROM c JOIN p ON c.user_id = p.user_id
           AND p.ts >= c.ts - INTERVAL 2 HOUR AND p.ts <= c.ts
         ORDER BY 1, 2""",

    // the BATCH left interval join — every unmatched click must have
    // produced exactly one null-padded row through the watermark flush
    "q_interval_join_outer_stream" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'click'),
              p AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'purchase')
         SELECT c.event_id AS l_event_id, p.event_id AS r_event_id,
                c.ts AS l_ts, c.user_id AS user_email, p.ts AS r_ts
         FROM c LEFT JOIN p ON c.user_id = p.user_id
           AND p.ts >= c.ts - INTERVAL 2 HOUR AND p.ts <= c.ts
         ORDER BY 1, 2""",

    // both directions at once — the BATCH full interval join
    "q_interval_join_full_stream" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'click'),
              p AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'purchase')
         SELECT c.event_id AS l_event_id, p.event_id AS r_event_id,
                c.ts AS l_ts,
                coalesce(c.user_id, p.user_id) AS user_email,
                p.ts AS r_ts
         FROM c FULL JOIN p ON c.user_id = p.user_id
           AND p.ts >= c.ts - INTERVAL 2 HOUR AND p.ts <= c.ts
         ORDER BY 1, 2""",

    "q_profile_approx" ->
      """SELECT * FROM (
           SELECT 'event_id' AS col_name, count(*)::BIGINT AS n_rows,
                  (count(*) - count(event_id))::BIGINT AS n_null,
                  round(min(event_id)::DOUBLE, 6) AS min_num,
                  round(max(event_id)::DOUBLE, 6) AS max_num,
                  true AS approx_ok
           FROM events
           UNION ALL
           SELECT 'event_type', count(*)::BIGINT,
                  (count(*) - count(event_type))::BIGINT,
                  NULL::DOUBLE, NULL::DOUBLE, true
           FROM events
           UNION ALL
           SELECT 'user_id', count(*)::BIGINT,
                  (count(*) - count(user_id))::BIGINT,
                  round(min(user_id)::DOUBLE, 6),
                  round(max(user_id)::DOUBLE, 6), true
           FROM events
           UNION ALL
           SELECT 'value', count(*)::BIGINT,
                  (count(*) - count(value))::BIGINT,
                  round(min(value)::DOUBLE, 6),
                  round(max(value)::DOUBLE, 6), true
           FROM events
         ) ORDER BY col_name""",

    "q_profile" ->
      """SELECT * FROM (
           SELECT 'event_id' AS col_name, count(*)::BIGINT AS n_rows,
                  (count(*) - count(event_id))::BIGINT AS n_null,
                  count(DISTINCT event_id)::BIGINT AS n_distinct,
                  min(event_id)::DOUBLE AS min_num,
                  max(event_id)::DOUBLE AS max_num,
                  NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str
           FROM events
           UNION ALL
           SELECT 'user_id', count(*)::BIGINT,
                  (count(*) - count(user_id))::BIGINT,
                  count(DISTINCT user_id)::BIGINT,
                  min(user_id)::DOUBLE, max(user_id)::DOUBLE,
                  NULL::VARCHAR, NULL::VARCHAR
           FROM events
           UNION ALL
           SELECT 'event_type', count(*)::BIGINT,
                  (count(*) - count(event_type))::BIGINT,
                  count(DISTINCT event_type)::BIGINT,
                  NULL::DOUBLE, NULL::DOUBLE,
                  min(event_type), max(event_type)
           FROM events
           UNION ALL
           SELECT 'value', count(*)::BIGINT,
                  (count(*) - count(value))::BIGINT,
                  count(DISTINCT value)::BIGINT,
                  min(value)::DOUBLE, max(value)::DOUBLE,
                  NULL::VARCHAR, NULL::VARCHAR
           FROM events
         ) ORDER BY col_name""",

    "q_expectations" ->
      """WITH a AS (SELECT
              count(*)::DOUBLE AS n,
              count(o_custkey)::DOUBLE AS nn_cust,
              count(DISTINCT o_orderkey)::DOUBLE AS nd_key,
              count(o_orderkey)::DOUBLE AS nn_key,
              count(DISTINCT o_orderstatus)::DOUBLE AS nd_st,
              count(o_orderstatus)::DOUBLE AS nn_st,
              count(CASE WHEN o_totalprice BETWEEN 0 AND 100000
                    THEN 1 END)::DOUBLE AS nr_tp,
              count(o_totalprice)::DOUBLE AS nn_tp,
              count(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-')
                    THEN 1 END)::DOUBLE AS nm_pr,
              count(o_orderpriority)::DOUBLE AS nn_pr,
              count(CASE WHEN o_orderstatus IN ('F', 'O')
                    THEN 1 END)::DOUBLE AS ns_st
            FROM orders)
         SELECT * FROM (
           SELECT 'complete' AS "check", 'o_custkey' AS col_name,
                  round(nn_cust / n, 6) AS metric,
                  nn_cust / n >= 1.0 AS passed FROM a
           UNION ALL
           SELECT 'unique', 'o_orderkey', round(nd_key / nn_key, 6),
                  nd_key / nn_key >= 1.0 FROM a
           UNION ALL
           SELECT 'unique', 'o_orderstatus', round(nd_st / nn_st, 6),
                  nd_st / nn_st >= 1.0 FROM a
           UNION ALL
           SELECT 'in_range', 'o_totalprice', round(nr_tp / nn_tp, 6),
                  nr_tp / nn_tp >= 0.9 FROM a
           UNION ALL
           SELECT 'matches_regex', 'o_orderpriority',
                  round(nm_pr / nn_pr, 6), nm_pr / nn_pr >= 1.0 FROM a
           UNION ALL
           SELECT 'in_set', 'o_orderstatus', round(ns_st / nn_st, 6),
                  ns_st / nn_st >= 0.6 FROM a
         ) ORDER BY "check", col_name""",

    "q_token_count" ->
      """SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens, n_chars
         FROM documents ORDER BY doc_id""",

    "q_tokenizer_fertility" -> tokenizerFertilityOracle(8),

    // margin-gated language ID: same marker scores over the dirtied
    // text; second-best via a descending list sort (ties → margin 0)
    "q_lang_margin" -> {
      val markers = TextAnalysis.LangMarkers.map { case (l, ms) =>
        l -> ms.map(m => s"'$m'").mkString("[", ", ", "]")
      }
      val scores = markers.map { case (l, arr) =>
        s"len(list_filter(l, x -> list_contains($arr, x))) AS s_$l"
      }.mkString(",\n                ")
      val langs = TextAnalysis.LangMarkers.map(_._1)
      val best = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
      val cases = langs.map(l =>
        s"WHEN s_$l > 0 AND s_$l = best THEN '$l'").mkString(" ")
      val sorted = langs.map(l => s"s_$l::BIGINT")
        .mkString("list_sort([", ", ", "], 'DESC')[2]")
      s"""WITH t AS (SELECT doc_id, string_split(text ||
                CASE doc_id % 7 WHEN 0 THEN ' el la de que y en un'
                     WHEN 1 THEN ' der die und das ist'
                     WHEN 2 THEN ' le les des et est'
                     ELSE '' END, ' ') AS l
              FROM documents),
         s AS (SELECT doc_id, $scores FROM t),
         b AS (SELECT *, $best AS best, $sorted AS second FROM s),
         x AS (SELECT doc_id, CASE $cases ELSE 'und' END AS lang,
                best::BIGINT AS best, second,
                (best - second)::BIGINT AS margin
              FROM b)
         SELECT doc_id, lang, best, second, margin,
                CASE WHEN best > 0 AND margin >= 2 THEN lang
                     ELSE 'und' END AS lang_conf
         FROM x ORDER BY doc_id""" },

    "q_lang_id" -> {
      val markers = TextAnalysis.LangMarkers.map { case (l, ms) =>
        l -> ms.map(m => s"'$m'").mkString("[", ", ", "]")
      }
      val scores = markers.map { case (l, arr) =>
        s"len(list_filter(l, x -> list_contains($arr, x))) AS s_$l"
      }.mkString(",\n                ")
      val langs = TextAnalysis.LangMarkers.map(_._1)
      val best = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
      val cases = langs.map(l =>
        s"WHEN s_$l > 0 AND s_$l = best THEN '$l'").mkString(" ")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         s AS (SELECT doc_id, $scores FROM t),
         b AS (SELECT *, $best AS best FROM s)
         SELECT doc_id, CASE $cases ELSE 'und' END AS lang_guess
         FROM b ORDER BY doc_id"""
    },

    "q_lang_id_ngram" -> {
      // The trigram profiles are trained once on the driver and shipped
      // to BOTH engines as the same literal longs — no float surface.
      val profVals = TextAnalysis.LangProfiles
        .map { case (l, _, tg, lp) => s"('$l', '$tg', ${lp}::BIGINT)" }
        .mkString(",\n                ")
      val langVals = TextAnalysis.LangSeeds.map(_._1).zipWithIndex
        .map { case (l, p) => s"('$l', $p)" }.mkString(", ")
      s"""WITH prof(lang, tg, lp) AS (VALUES $profVals),
         langs(lang, prec) AS (VALUES $langVals),
         t AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
                '[^\\p{L} ]', ' ', 'g'), ' +', ' ', 'g')) AS n FROM documents),
         g AS (SELECT doc_id, unnest([substr(n, i, 3)
                for i in generate_series(1, length(n) - 2)]) AS tg
               FROM t WHERE length(n) >= 3),
         c AS (SELECT doc_id, tg, count(*)::BIGINT AS c FROM g GROUP BY 1, 2),
         sc AS (SELECT c.doc_id, l.lang, l.prec,
                 sum(c.c * coalesce(p.lp, ${TextAnalysis.LangOovLp}::BIGINT)) AS score
                FROM c CROSS JOIN langs l
                LEFT JOIN prof p ON p.lang = l.lang AND p.tg = c.tg
                GROUP BY 1, 2, 3),
         b AS (SELECT doc_id, lang, row_number() OVER (
                 PARTITION BY doc_id ORDER BY score DESC, prec ASC) AS rn
               FROM sc)
         SELECT d.doc_id, coalesce(b.lang, 'und') AS lang_guess
         FROM documents d LEFT JOIN b ON d.doc_id = b.doc_id AND b.rn = 1
         ORDER BY d.doc_id"""
    },

    "q_text_quality" ->
      """WITH t AS (SELECT doc_id, text, len(string_split(text, ' ')) AS n_tokens,
                length(text) AS n, len(list_filter(string_split(text, ' '),
                  x -> list_contains(['the','a','and','of','to','in','is','it','that','for'], x))) AS n_stop
              FROM documents),
         m AS (SELECT doc_id, n_tokens,
                (n - (n_tokens - 1))::DOUBLE / n_tokens::DOUBLE AS mtl,
                length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))::DOUBLE
                  / greatest(n, 1)::DOUBLE AS pr,
                n_stop::DOUBLE / greatest(n_tokens, 1)::DOUBLE AS sr
              FROM t)
         SELECT doc_id, n_tokens::BIGINT AS n_tokens,
                round(mtl, 6) AS mean_token_len,
                round(pr, 6) AS punct_ratio,
                round(sr, 6) AS stopword_ratio,
                round(25.0 * least(n_tokens::DOUBLE / 50.0, 1.0)
                      + 25.0 * least(mtl / 6.0, 1.0)
                      + 25.0 * (1.0 - pr)
                      + 25.0 * least(sr * 8.0, 1.0), 6) AS quality
         FROM m ORDER BY doc_id""",

    "q_token_stats" ->
      """SELECT doc_id,
                len(string_split(text, ' '))::BIGINT AS n_ws_tokens,
                len(regexp_extract_all(text,
                  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::BIGINT AS n_re_tokens
         FROM documents ORDER BY doc_id""",

    "q_chunk_tokens" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         c AS (SELECT doc_id, l,
                unnest(generate_series(0, (len(l) - 1) // 32)) AS i FROM t),
         s AS (SELECT doc_id, i::BIGINT AS chunk_idx,
                array_to_string(l[i * 32 + 1 : i * 32 + 32], ' ') AS chunk
              FROM c)
         SELECT doc_id, chunk_idx,
                len(string_split(chunk, ' '))::BIGINT AS n_tokens,
                md5(chunk) AS chunk_md5
         FROM s ORDER BY doc_id, chunk_idx""",

    "q_pack_sequences" ->
      """WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
                len(string_split(text, ' '))::BIGINT AS n_tokens
              FROM documents),
         c AS (SELECT doc_id, shard, n_tokens,
                sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM t WHERE n_tokens > 0)
         SELECT shard::BIGINT AS shard,
                floor((cum - n_tokens) / 512.0)::BIGINT AS bin,
                count(*)::BIGINT AS n_docs,
                sum(n_tokens)::BIGINT AS bin_tokens,
                min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM c GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_pack_concat" ->
      """WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
                len(string_split(text, ' '))::BIGINT AS n_tokens
              FROM documents),
         c AS (SELECT doc_id, shard, n_tokens,
                sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
                  AS e
              FROM t WHERE n_tokens > 0),
         spans AS (SELECT doc_id, shard, e - n_tokens AS s, e,
                unnest(generate_series((e - n_tokens) // 512,
                                       (e - 1) // 512)) AS bin
              FROM c)
         SELECT shard::BIGINT AS shard, bin::BIGINT AS bin,
                count(*)::BIGINT AS n_docs,
                sum(least(e, (bin + 1) * 512) -
                    greatest(s, bin * 512))::BIGINT AS bin_tokens,
                sum(greatest(s, bin * 512) - bin * 512)::BIGINT AS sum_starts,
                max(greatest(s, bin * 512) - bin * 512)::BIGINT AS max_start,
                min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM spans GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_unigram_logprob" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
              FROM documents),
         freq AS (SELECT token, count(*)::DOUBLE AS cnt FROM tok GROUP BY 1),
         tot AS (SELECT count(*)::DOUBLE AS n FROM tok)
         SELECT t.doc_id,
                round(avg(log2(f.cnt / tot.n)), 6) AS avg_logprob
         FROM tok t JOIN freq f USING (token), tot
         GROUP BY 1 ORDER BY 1""",

    "q_retention" ->
      """WITH w AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week
              FROM events),
         c AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY 1)
         SELECT c.cohort_week,
                (date_diff('day', c.cohort_week, w.week) // 7)::BIGINT
                  AS week_offset,
                count(*)::BIGINT AS n_users
         FROM w JOIN c USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_gopher_rules" -> gopherRulesOracle,

    // C4 rules: the render CTEs (word plants, 6-word slices, md5
    // terminal-period coin) build the PAGE only; the rule columns then
    // PARSE the rendered lines exactly as the engine's generic
    // c4Rules does (last-char terminal test, nonempty-token recount) —
    // so the two sides agree definitionally on ANY input, not just on
    // tokens that never end in punctuation
    "q_c4_rules" -> c4RulesOracle,

    // funnel: each stage's predicate is the corresponding family
    // oracle embedded as a subquery. Scoping discipline: the OUTER WITH
    // is non-recursive, where a nested subquery's own WITH shadows
    // cleanly; the recursive CC machinery (whose WITH RECURSIVE makes
    // every sibling CTE mutually visible regardless of definition
    // order, so a name shared with an embedded subquery's inner CTE
    // gets CAPTURED — observed: an outer `st` captured the c4 oracle's
    // inner `st`) is confined to its own inner subquery containing no
    // embedded oracles, only the curation builders' names
    "q_filter_funnel" -> filterFunnelOracle,
    // the streaming funnel sums maintained per-tick stage censuses and
    // applies the canonical-survivor rule over ledger state — same
    // report as the one-shot batch funnel, so the oracle is shared
    "q_filter_funnel_stream" -> filterFunnelOracle,
    // ...and the pair SET is probe-geometry-invariant (both pigeonholes
    // are exact at the same maxHamming), so the Manku table-keys run
    // shares the identical oracle: the whole claim under test
    "q_funnel_stream_tables" -> filterFunnelOracle,
    // ...and the Auto POLICY run (per-tick arm pick from the measured
    // cost model) shares it too: whichever arm each tick picks, the
    // verified pair set — and so the attrition report — is identical
    "q_funnel_stream_auto" -> filterFunnelOracle,

    // the repetition family mirrors gopherRepetitionLocal definitionally:
    // dup counts/char mass from per-(doc, segment) GROUP BY counts
    // (= the engine's sorted-adjacency fold), top-gram mass as
    // max(count*len) among the doc's top-count grams
    "q_gopher_repetition" -> gopherRepetitionOracle,

    "q_bm25" -> bm25Oracle,

    "q_bm25_rm3" -> bm25Rm3Oracle,

    // scoring the maintained index equals the ad-hoc corpus scan
    "q_bm25_stream" -> bm25Oracle,

    // word-position occurrences (overlaps included) straight off the
    // token arrays — no index in sight, so the conjunction's answer is
    // gated against first principles
    "q_phrase_search" ->
      """WITH w AS (SELECT doc_id,
                list_filter(string_split(text, ' '), x -> x <> '') AS ws
              FROM documents),
         hits AS (SELECT doc_id FROM
              (SELECT doc_id, ws,
                      unnest(generate_series(1, len(ws) - 1)) AS p
               FROM w)
              WHERE ws[p] = 'merge' AND ws[p + 1] = 'sort')
         SELECT doc_id, count(*)::BIGINT AS n_hits
         FROM hits GROUP BY 1 ORDER BY 1""",

    "q_dedup_recall" ->
      (s"""WITH mh AS MATERIALIZED (${minhashOracleSql("")}),
         ng AS MATERIALIZED ($ngramOracleSql),
         j AS (SELECT
                (ng.id_a IS NOT NULL)::BIGINT AS t,
                (mh.id_a IS NOT NULL)::BIGINT AS f
              FROM ng FULL OUTER JOIN mh
                ON ng.id_a = mh.id_a AND ng.id_b = mh.id_b)
         SELECT sum(t)::BIGINT AS n_truth, sum(f)::BIGINT AS n_found,
                sum(t * f)::BIGINT AS n_hit,
                round(sum(t * f)::DOUBLE / sum(t)::DOUBLE, 6) AS recall,
                round(sum(t * f)::DOUBLE / sum(f)::DOUBLE, 6) AS precision
         FROM j"""),

    "q_bigram_logprob" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l
              FROM documents),
         i AS (SELECT doc_id, l, unnest(generate_series(1, len(l) - 1)) AS i
              FROM t WHERE len(l) >= 2),
         b AS (SELECT doc_id, l[i] AS prev, l[i + 1] AS cur FROM i),
         bc AS (SELECT prev, cur, count(*)::DOUBLE AS bcnt
              FROM b GROUP BY 1, 2),
         pc AS (SELECT prev, sum(bcnt) AS pcnt FROM bc GROUP BY 1)
         SELECT b.doc_id,
                round(avg(log2(bc.bcnt / pc.pcnt)), 6) AS avg_logprob
         FROM b JOIN bc USING (prev, cur) JOIN pc USING (prev)
         GROUP BY 1 ORDER BY 1""",

    // Stupid-backoff trigram LM: numerator tables pruned at count ≥ 2,
    // denominators unpruned, α literals shipped full-precision to both
    // engines, per-token scores micro-quantized BEFORE the doc sum so
    // the aggregate is order-independent and engine-exact.
    "q_lm_backoff" ->
      s"""WITH $lmBackoffCtes
         $lmBackoffSelect
         ORDER BY 1""",

    // CCNet-style perplexity bucketing (Wenzek et al. 2020): per-source
    // tertiles of the SAME stupid-backoff doc score — head = the
    // lowest-perplexity (highest avg_logprob) third; ntile over the
    // engine-exact rounded score with doc_id tiebreak, so the bucket
    // assignment replays deterministically
    "q_ccnet_buckets" ->
      s"""WITH $lmBackoffCtes,
         lm AS ($lmBackoffSelect)
         SELECT l.doc_id, d.source, l.n_scored, l.avg_logprob,
                CASE ntile(3) OVER (PARTITION BY d.source
                       ORDER BY l.avg_logprob DESC, l.doc_id)
                  WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                  ELSE 'tail' END AS bucket
         FROM lm l JOIN documents d USING (doc_id)
         ORDER BY l.doc_id""",

    // the production CCNet form: cutoffs frozen from the deterministic
    // 10% md5 sample's tertile floors, full corpus bucketed by
    // threshold compare — the oracle replays the identical sample,
    // window-on-sample, and CASE (NULL c2 falls through to 'tail';
    // a source absent from the sample LEFT JOINs to NULL cutoffs and
    // buckets 'tail' rather than being dropped)
    "q_ccnet_frozen" ->
      s"""WITH $lmBackoffCtes,
         lm AS ($lmBackoffSelect),
         ls AS (SELECT l.doc_id, d.source, l.n_scored, l.avg_logprob
              FROM lm l JOIN documents d USING (doc_id)),
         samp AS (SELECT *, ntile(3) OVER (PARTITION BY source
                ORDER BY avg_logprob DESC, doc_id) AS t
              FROM ls
              WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::UBIGINT
                % 10 = 0),
         cuts AS (SELECT source,
                min(CASE WHEN t = 1 THEN avg_logprob END) AS c1,
                min(CASE WHEN t = 2 THEN avg_logprob END) AS c2
              FROM samp GROUP BY 1)
         SELECT ls.doc_id, ls.source, ls.n_scored, ls.avg_logprob,
                CASE WHEN ls.avg_logprob >= c.c1 THEN 'head'
                     WHEN ls.avg_logprob >= c.c2 THEN 'middle'
                     ELSE 'tail' END AS bucket
         FROM ls LEFT JOIN cuts c USING (source)
         ORDER BY ls.doc_id""",

    "q_chunk_overlap" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         c AS (SELECT doc_id, l,
                unnest(generate_series(0,
                  greatest(0, (len(l) - 32 + 16 - 1) // 16))) AS i FROM t),
         s AS (SELECT doc_id, i::BIGINT AS chunk_idx,
                array_to_string(l[i * 16 + 1 : i * 16 + 32], ' ') AS chunk
              FROM c)
         SELECT doc_id, chunk_idx,
                len(string_split(chunk, ' '))::BIGINT AS n_tokens,
                md5(chunk) AS chunk_md5
         FROM s ORDER BY doc_id, chunk_idx""",

    "q_repetition" ->
      """WITH tok AS (SELECT doc_id, text, string_split(text, ' ') AS l
              FROM documents),
         sh AS (SELECT doc_id, CASE WHEN len(l) >= 3
                THEN [array_to_string(l[i:i+2], ' ')
                      for i in generate_series(1, len(l) - 2)]
                ELSE [text] END AS s FROM tok)
         SELECT doc_id,
                round(1.0 - len(list_distinct(s))::DOUBLE / len(s)::DOUBLE, 6)
                  AS rep_ratio
         FROM sh ORDER BY doc_id""",

    "q_pii_scan" ->
      """SELECT doc_id,
                len(regexp_extract_all(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT
                  AS n_emails,
                len(regexp_extract_all(text,
                  'https?://[^ \t\n\r\f]+'))::BIGINT AS n_urls,
                len(regexp_extract_all(text, '[0-9]{7,}'))::BIGINT
                  AS n_long_numbers,
                md5(regexp_replace(regexp_replace(regexp_replace(text,
                  'https?://[^ \t\n\r\f]+', '<URL>', 'g'),
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                  '<EMAIL>', 'g'),
                  '[0-9]{7,}', '<NUM>', 'g')) AS masked_md5
         FROM documents ORDER BY doc_id""",

    // Luhn gate: candidates + validity replay the oracle's OWN
    // checksum arithmetic (double every 2nd digit from the right,
    // −9 over 9, sum mod 10); the masked hash is the fixture rebuild
    // (only checksum-valid runs become <CARD>)
    "q_pii_luhn" ->
      """WITH d AS (SELECT doc_id, text,
                text || CASE doc_id % 11
                  WHEN 0 THEN ' 4111111111111111'
                  WHEN 1 THEN ' 4111111111111112'
                  WHEN 2 THEN ' 4222222222222'
                  WHEN 3 THEN ' 41111111111111111111'
                  ELSE '' END AS t
              FROM documents),
         r AS (SELECT doc_id, text, t,
                regexp_extract_all(t,
                  '(^|[^0-9])([0-9]{13,19})([^0-9]|$)', 2) AS runs
              FROM d),
         v AS (SELECT doc_id, text, runs,
                list_filter(runs, x ->
                  list_sum([CASE WHEN (length(x) - i + 1) % 2 = 0
                      THEN CASE WHEN (ascii(substr(x, i, 1)) - 48) * 2 > 9
                           THEN (ascii(substr(x, i, 1)) - 48) * 2 - 9
                           ELSE (ascii(substr(x, i, 1)) - 48) * 2 END
                      ELSE ascii(substr(x, i, 1)) - 48 END
                    for i in generate_series(1, length(x))]) % 10 = 0)
                  AS valid
              FROM r)
         SELECT doc_id, len(runs)::BIGINT AS n_candidates,
                len(valid)::BIGINT AS n_valid,
                md5(text || CASE doc_id % 11
                  WHEN 0 THEN ' <CARD>'
                  WHEN 1 THEN ' 4111111111111112'
                  WHEN 2 THEN ' <CARD>'
                  WHEN 3 THEN ' 41111111111111111111'
                  ELSE '' END) AS masked_md5
         FROM v ORDER BY doc_id""",

    "q_heavy_hitters" ->
      """SELECT term, count(*)::BIGINT AS cnt
         FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
         GROUP BY term HAVING count(*) >= 200 ORDER BY term""",

    "q_bpe_pairs" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w
              FROM documents),
         p AS (SELECT unnest([substr(w, i, 2)
                  for i in generate_series(1, length(w) - 1)]) AS pair
              FROM w)
         SELECT pair, count(*)::BIGINT AS n
         FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 30""",

    "q_bpe_train" -> bpeTrainOracle(8),
    // training from the maintained word census is value-identical to
    // training from text (the census is the trainer's whole input)
    "q_bpe_train_census" -> bpeTrainOracle(8),

    "q_unigram_vocab" ->
      s"""WITH $unigramChainSql
         SELECT piece, cnt, cost FROM ucosts ORDER BY piece""",

    // the maintained-census vocabulary equals the batch seed
    "q_unigram_vocab_stream" ->
      s"""WITH $unigramChainSql
         SELECT piece, cnt, cost FROM ucosts ORDER BY piece""",

    "q_unigram_ids" ->
      s"""WITH $unigramChainSql
         SELECT (row_number() OVER (ORDER BY cost, piece) - 1)::BIGINT
                  AS id,
                piece, cnt, cost
         FROM ucosts ORDER BY id""",

    "q_unigram_encode" -> unigramEncodeOracle,
    "q_wordpiece" -> wordPieceOracle,

    // stride scheduling: per-source md5 rank, ikey = rank·1e9 // w
    "q_interleave" ->
      """WITH d AS (SELECT doc_id, source,
              ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::UBIGINT AS h
            FROM documents
            WHERE source IN ('src0', 'src1', 'src2', 'src3')),
         r AS (SELECT doc_id, source,
              row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
                ::BIGINT AS rank_in_source FROM d)
         SELECT doc_id, source, rank_in_source,
                (rank_in_source * 1000000000 //
                 CASE source WHEN 'src0' THEN 3 ELSE 1 END)::BIGINT AS ikey
         FROM r ORDER BY ikey, source, rank_in_source""",

    // raw-array 1-based positions, vocabulary keep-ppm thresholds
    // (sqrt is correctly rounded on both engines), md5 draws, and the
    // position-ordered survivor digest (coalesced to '' when a doc
    // keeps nothing, matching Spark's empty array_join)
    "q_subsample" ->
      """WITH tok AS (SELECT doc_id, l[i] AS word, i::BIGINT AS pos
              FROM (SELECT doc_id, string_split(text, ' ') AS l
                    FROM documents),
                   unnest(generate_series(1, len(l))) AS t(i)
              WHERE l[i] <> ''),
         freq AS (SELECT word, count(*)::BIGINT AS cnt FROM tok GROUP BY 1),
         tot AS (SELECT sum(cnt)::BIGINT AS N FROM freq),
         keep AS (SELECT word,
              least(1000000, round(1e6 *
                sqrt(10000.0 * N / cnt / 1e6)))::BIGINT AS keep_ppm
              FROM freq, tot),
         dr AS (SELECT t.doc_id, t.pos, t.word,
              (('0x' || substr(md5(t.doc_id || ' ' || t.pos || ' ' ||
                 t.word), 1, 15))::UBIGINT % 1000000)::BIGINT
                < k.keep_ppm AS kept
              FROM tok t JOIN keep k USING (word))
         SELECT doc_id, count(*)::BIGINT AS n_tokens,
                sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_kept,
                md5(coalesce(
                  string_agg(word, ' ' ORDER BY pos) FILTER (WHERE kept),
                  '')) AS kept_md5
         FROM dr GROUP BY 1 ORDER BY 1""",

    "q_skipgram" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS l
              FROM documents),
         pr AS (SELECT l[i] AS center, l[i + d.d] AS context
              FROM tok, unnest(generate_series(1, len(l))) AS t(i),
                   (SELECT unnest([-2, -1, 1, 2]) AS d) d
              WHERE len(l) >= 2 AND i + d.d >= 1 AND i + d.d <= len(l))
         SELECT center, context, count(*)::BIGINT AS n
         FROM pr GROUP BY 1, 2 ORDER BY 1, 2""",

    // inverse-CDF draws at md5(center, context, j) mod total mass over
    // the cumulative vocabulary table ordered by the md5 rank key (the
    // order whose high bits Spark salts its distributed prefix sum on)
    "q_negative_samples" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS l
              FROM documents),
         pr AS (SELECT l[i] AS center, l[i + d.d] AS context
              FROM tok, unnest(generate_series(1, len(l))) AS t(i),
                   (SELECT unnest([-2, -1, 1, 2]) AS d) d
              WHERE len(l) >= 2 AND i + d.d >= 1 AND i + d.d <= len(l)),
         pairs AS (SELECT center, context FROM pr GROUP BY 1, 2),
         voc AS (SELECT w AS word, count(*)::BIGINT AS m
              FROM (SELECT unnest(string_split(text, ' ')) AS w
                    FROM documents)
              WHERE w <> '' GROUP BY 1),
         cum AS (SELECT word, m,
              sum(m) OVER (ORDER BY
                  ('0x' || substr(md5(word), 1, 15))::UBIGINT, word
                ROWS UNBOUNDED PRECEDING)::BIGINT AS hi FROM voc),
         cum2 AS (SELECT word, hi - m AS lo, hi FROM cum),
         tot AS (SELECT max(hi)::BIGINT AS M FROM cum),
         smp AS (SELECT center, context, j.j::BIGINT AS j,
              (('0x' || substr(md5(center || ' ' || context || ' ' || j.j),
                 1, 15))::UBIGINT % M)::BIGINT AS r
              FROM pairs, (SELECT unnest([1, 2]) AS j) j, tot)
         SELECT s.center, s.context, s.j, c.word AS neg
         FROM smp s JOIN cum2 c ON s.r >= c.lo AND s.r < c.hi
         ORDER BY 1, 2, 3""",

    // both proven encode chains collapsed to corpus totals
    "q_tokenizer_eval" ->
      s"""WITH b AS (${bpeEncodeOracle(8)}),
         u AS ($unigramEncodeOracle),
         wpt AS ($wordPieceOracle)
         SELECT * FROM (
           SELECT 'bpe8' AS tokenizer,
                  sum(n_bpe_tokens)::BIGINT AS total_units FROM b
           UNION ALL
           SELECT 'unigram40' AS tokenizer,
                  sum(n_pieces)::BIGINT AS total_units FROM u
           UNION ALL
           SELECT 'wordpiece40' AS tokenizer,
                  sum(n_pieces)::BIGINT AS total_units FROM wpt)
         ORDER BY tokenizer""",

    "q_bpe_encode" -> bpeEncodeOracle(8),
    "q_bpe_encode_ids" -> bpeEncodeIdsOracle(8),

    // Ground truth, not a replay: the round-trip's decoded characters
    // must equal the raw text with the single-space separators removed.
    "q_bpe_roundtrip" ->
      """SELECT doc_id, md5(replace(text, ' ', '')) AS text_md5
         FROM documents WHERE replace(text, ' ', '') <> ''
         ORDER BY doc_id""",

    // Ground truth again: the byte-level round-trip must land on the
    // same characters — bytes are an encoding detail, not a semantics
    // change.
    "q_bpe_bytes_roundtrip" ->
      """SELECT doc_id, md5(replace(text, ' ', '')) AS text_md5
         FROM documents WHERE replace(text, ' ', '') <> ''
         ORDER BY doc_id""",
    "q_export_token_shards" -> exportTokenShardsOracle(8),
    "q_export_token_shards_eod" -> exportTokenShardsOracle(8, eod = true),

    // the packed position streams in the same closed-form spans algebra
    "q_pack_positions" ->
      s"""WITH ${bpeIdsChainSql(8)},
         pk AS (SELECT doc_id, doc_id % 4 AS shard, len(tids)::BIGINT AS n
              FROM fl WHERE len(tids) > 0),
         pc AS (SELECT doc_id, shard, n,
                sum(n) OVER (PARTITION BY shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
                  AS e
              FROM pk),
         spans AS (SELECT doc_id, shard, e - n AS s, e,
                unnest(generate_series((e - n) // 512,
                                       (e - 1) // 512)) AS bin
              FROM pc),
         sl AS (SELECT doc_id, shard, bin,
                greatest(s, bin * 512) - bin * 512 AS start_in_bin,
                least(e, (bin + 1) * 512) - greatest(s, bin * 512)
                  AS tok_in_bin,
                greatest(s, bin * 512) - s AS doc_off
              FROM spans),
         ps AS (SELECT shard, bin, start_in_bin, tok_in_bin,
                [p for p in generate_series(doc_off,
                                            doc_off + tok_in_bin - 1)]
                  AS pos
              FROM sl)
         SELECT shard::BIGINT AS shard, bin::BIGINT AS bin,
                count(*)::BIGINT AS n_docs,
                sum(tok_in_bin)::BIGINT AS bin_tokens,
                md5(array_to_string(
                  flatten(list(pos ORDER BY start_in_bin)), ' '))
                  AS pos_md5
         FROM ps GROUP BY 1, 2 ORDER BY 1, 2""",

    // Same hash → budget → ordered-prefix arithmetic as mixtureByTokens:
    // budget floor(2000·w/5.5) per source, md5-rank order, keep while
    // the cumulative count BEFORE the row is under budget.
    "q_mixture_budget" -> mixtureOracle,
    "q_mixture_salted" -> mixtureOracle,

    "q_pack_balanced" -> packBalancedOracle,
    "q_pack_balanced_salted" -> packBalancedOracle,

    // DSIR replay: candidate-vocabulary Laplace LMs on both sides,
    // each ln quantized to 1e-6-unit BIGINTs before the subtraction
    // and the per-doc sum — the NB discipline, so the top-k cut is
    // exact.
    "q_dsir_select" ->
      """WITH ct AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents WHERE source <> 'src0'),
         sf AS (SELECT term, count(*)::BIGINT AS c_s FROM ct GROUP BY 1),
         st AS (SELECT sum(c_s)::BIGINT AS n_s, count(*)::BIGINT AS v
              FROM sf),
         tt AS (SELECT term, count(*)::BIGINT AS c_t
              FROM (SELECT unnest(string_split(text, ' ')) AS term
                    FROM documents WHERE source = 'src0')
              GROUP BY 1),
         ttot AS (SELECT coalesce(sum(c_t), 0)::BIGINT AS n_t FROM tt),
         r AS (SELECT sf.term,
                CAST(round(ln((coalesce(tt.c_t, 0) + 1)::DOUBLE
                    / (ttot.n_t + st.v)) * 1e6) AS BIGINT)
              - CAST(round(ln((sf.c_s + 1)::DOUBLE
                    / (st.n_s + st.v)) * 1e6) AS BIGINT) AS ratio_e6
              FROM sf LEFT JOIN tt USING (term)
              CROSS JOIN st CROSS JOIN ttot),
         dtf AS (SELECT doc_id, term, count(*)::BIGINT AS n
              FROM ct GROUP BY 1, 2),
         w AS (SELECT doc_id, sum(n)::BIGINT AS n_tokens,
                sum(n * ratio_e6)::BIGINT AS weight_e6
              FROM dtf JOIN r USING (term) GROUP BY 1)
         SELECT doc_id, n_tokens, weight_e6 FROM w
         ORDER BY weight_e6 DESC, doc_id LIMIT 200""",

    // Temperature replay: per-source token masses off the corpus, the
    // relative-pow weights quantized to 1e-6 units (round to whole
    // units of the largest source), then the standard budget fill.
    // 2000 * w is exact (w <= 1e6 integral), the division replays the
    // driver's own IEEE expression order.
    "q_mixture_temperature" ->
      """WITH mass AS (SELECT source,
                sum(len(string_split(text, ' ')))::BIGINT AS m
              FROM documents GROUP BY 1),
         wts AS (SELECT source,
                round(pow(m / (SELECT max(m) FROM mass)::DOUBLE, 0.5)
                  * 1000000) AS w
              FROM mass),
         d AS (SELECT doc_id, source,
                len(string_split(text, ' '))::BIGINT AS n_tokens,
                ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::UBIGINT AS h
              FROM documents),
         r AS (SELECT d.doc_id, d.source, d.n_tokens,
                row_number() OVER (PARTITION BY d.source
                  ORDER BY h, d.doc_id)::BIGINT AS take_rank,
                sum(d.n_tokens) OVER (PARTITION BY d.source
                  ORDER BY h, d.doc_id
                  ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens,
                floor(2000 * wts.w / (SELECT sum(w) FROM wts))::BIGINT
                  AS budget
              FROM d JOIN wts ON d.source = wts.source
              WHERE d.n_tokens > 0)
         SELECT source, take_rank, doc_id, n_tokens, cum_tokens
         FROM r WHERE cum_tokens - n_tokens < budget
         ORDER BY source, take_rank""",

    "q_export_shards" ->
      """WITH b AS (SELECT doc_id,
                ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::UBIGINT AS h
              FROM documents)
         SELECT (h % 8)::BIGINT AS shard,
                row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
                  ::BIGINT AS shard_pos,
                doc_id
         FROM b ORDER BY shard, shard_pos""",

    "q_export_manifest" ->
      """WITH b AS (SELECT doc_id, text,
                ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::UBIGINT AS h
              FROM documents),
         r AS (SELECT (h % 8)::BIGINT AS shard,
                row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
                  AS shard_pos,
                doc_id, text
            FROM b)
         SELECT shard, count(*)::BIGINT AS n_docs,
              sum(length(text))::BIGINT AS total_chars,
              md5(string_agg(md5(text), '' ORDER BY shard_pos)) AS digest
         FROM r GROUP BY 1 ORDER BY 1""",

    // epoch-salted order replay: same shard hash, per-epoch rank key
    "q_export_epochs" ->
      """WITH b AS (SELECT doc_id,
                ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::UBIGINT AS h
              FROM documents),
         e0 AS (SELECT 0 AS epoch, (h % 8)::BIGINT AS shard,
                row_number() OVER (PARTITION BY h % 8 ORDER BY
                  ('0x' || substr(md5(doc_id::VARCHAR || ':0'), 1, 15))
                    ::UBIGINT, doc_id)::BIGINT AS shard_pos, doc_id
              FROM b),
         e1 AS (SELECT 1 AS epoch, (h % 8)::BIGINT AS shard,
                row_number() OVER (PARTITION BY h % 8 ORDER BY
                  ('0x' || substr(md5(doc_id::VARCHAR || ':1'), 1, 15))
                    ::UBIGINT, doc_id)::BIGINT AS shard_pos, doc_id
              FROM b)
         SELECT * FROM e0 UNION ALL SELECT * FROM e1
         ORDER BY epoch, shard, shard_pos""",

    // LEFT JOIN back to documents so empty-text docs keep their 0.0 row
    // and NULL text stays NULL — matching CharEntropy's contract
    "q_char_entropy" ->
      """WITH ch AS (SELECT doc_id,
                unnest([text[i] for i in generate_series(1, length(text))])
                  AS c
              FROM documents),
         cnt AS (SELECT doc_id, c, count(*)::DOUBLE AS k
              FROM ch GROUP BY 1, 2),
         e AS (SELECT doc_id,
                round(log2(sum(k)) - sum(k * log2(k)) / sum(k), 6)
                  AS char_entropy
              FROM cnt GROUP BY doc_id)
         SELECT d.doc_id,
                CASE WHEN d.text IS NULL THEN NULL
                     ELSE coalesce(e.char_entropy, 0.0) END AS char_entropy
         FROM documents d LEFT JOIN e ON d.doc_id = e.doc_id
         ORDER BY d.doc_id""",

    "q_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         scored AS (SELECT t.doc_id, t.term,
                round(t.tf * ln(n.n_docs::DOUBLE / d.df::DOUBLE), 6) AS tfidf
              FROM tf t JOIN df d ON t.term = d.term CROSS JOIN n),
         r AS (SELECT doc_id, term, tfidf,
                row_number() OVER (PARTITION BY doc_id
                  ORDER BY tfidf DESC, term)::BIGINT AS rank FROM scored)
         SELECT doc_id, rank, term, tfidf FROM r
         WHERE rank <= 3 AND doc_id < 50 ORDER BY doc_id, rank""",

    "q_mojibake" ->
      """WITH d AS (SELECT doc_id,
                CASE WHEN doc_id % 7 = 3 THEN text || ' caf' || chr(195)
                       || chr(169) || ' ' || chr(226) || chr(128) || chr(153)
                     WHEN doc_id % 13 = 5 THEN text || ' ' || chr(65533)
                     ELSE text END AS text FROM documents),
         m AS (SELECT doc_id, coalesce(text, '') AS t FROM d),
         c AS (SELECT doc_id,
                (length(t) - length(replace(t, chr(195), '')))::BIGINT
                  AS latin1_marks,
                ((length(t) - length(replace(t, chr(226) || chr(128), '')))
                  / 2)::BIGINT AS punct_marks,
                (length(t) - length(replace(t, chr(65533), '')))::BIGINT
                  AS replacement_marks
              FROM m)
         SELECT doc_id, latin1_marks, punct_marks, replacement_marks,
                (CASE WHEN latin1_marks + punct_marks + replacement_marks > 0
                  THEN 1 ELSE 0 END)::BIGINT AS suspect
         FROM c ORDER BY doc_id""",

    "q_source_cap" ->
      """WITH r AS (SELECT doc_id, source, n_chars,
                row_number() OVER (PARTITION BY source
                  ORDER BY n_chars DESC, doc_id)::BIGINT AS source_rank
              FROM documents)
         SELECT doc_id, source, n_chars, source_rank FROM r
         WHERE source_rank <= 10 ORDER BY source, source_rank""",

    "q_blocklist" -> blocklistOracleSql,

    // ledger twin: ticks partition docs, merged ledger == batch scan
    "q_blocklist_stream" -> blocklistOracleSql,

    "q_pmi_collocations" -> pmiOracleSql,

    // census-ledger twin: summed uni/bigram censuses == batch scan
    "q_pmi_stream" -> pmiOracleSql,

    "q_assoc_rules" -> assocOracleSql,

    // basket-census ledger twin (ticks partition whole baskets)
    "q_assoc_stream" -> assocOracleSql,

    "q_fingerprint" ->
      """WITH fp AS (SELECT doc_id, text,
                list_reduce(list_prepend(0::BIGINT,
                    [ascii(x)::BIGINT for x in string_split(text, '')]),
                  (a, b) -> (a * 31 + b) % 1000000007) AS poly_fp
              FROM documents)
         SELECT doc_id, poly_fp,
                CASE WHEN length(text) >= 8 THEN
                  list_min([list_reduce(list_prepend(0::BIGINT,
                      [ascii(x)::BIGINT for x in string_split(substr(text, i, 8), '')]),
                    (a, b) -> (a * 31 + b) % 1000000007)
                    for i in generate_series(1, length(text) - 7)])
                ELSE poly_fp END AS kgram_min_fp
         FROM fp ORDER BY doc_id""",

    // the SQL-function surface: entropy + both fingerprints in one
    // pass (the q_char_entropy and q_fingerprint replays joined)
    "q_sql_functions" ->
      """WITH ch AS (SELECT doc_id,
                unnest([text[i] for i in generate_series(1, length(text))])
                  AS c
              FROM documents),
         cnt AS (SELECT doc_id, c, count(*)::DOUBLE AS k
              FROM ch GROUP BY 1, 2),
         e AS (SELECT doc_id,
                round(log2(sum(k)) - sum(k * log2(k)) / sum(k), 6)
                  AS char_entropy
              FROM cnt GROUP BY doc_id),
         fp AS (SELECT doc_id, text,
                list_reduce(list_prepend(0::BIGINT,
                    [ascii(x)::BIGINT for x in string_split(text, '')]),
                  (a, b) -> (a * 31 + b) % 1000000007) AS poly_fp
              FROM documents)
         SELECT d.doc_id,
                CASE WHEN d.text IS NULL THEN NULL
                     ELSE coalesce(e.char_entropy, 0.0) END AS char_entropy,
                f.poly_fp,
                CASE WHEN length(f.text) >= 8 THEN
                  list_min([list_reduce(list_prepend(0::BIGINT,
                      [ascii(x)::BIGINT for x in string_split(substr(f.text, i, 8), '')]),
                    (a, b) -> (a * 31 + b) % 1000000007)
                    for i in generate_series(1, length(f.text) - 7)])
                ELSE f.poly_fp END AS kgram_min_fp
         FROM documents d
           LEFT JOIN e ON d.doc_id = e.doc_id
           JOIN fp f ON d.doc_id = f.doc_id
         ORDER BY d.doc_id""",

    "q_dedup_minhash" -> minhashOracleSql(""),
  )
}
