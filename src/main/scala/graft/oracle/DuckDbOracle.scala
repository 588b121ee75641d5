package graft.oracle

import graft.operators._

/** DuckDB reference SQL for every graded query, the oracle that
  * `graft.Verify`, `tools/compare.py` and perfbench grade the engine
  * against. Engine code never imports this package; the text reads the
  * engine's public constants so both sides share their parameters. */
object DuckDbOracle {
  /** Shared CTE prefix: q120's per-(type, week) trailing z-scores, ending
    * in `zz(event_type, wk, n_events, k, mean, std, z)` — consumed by
    * q120 (the full report) and q124 (the anomalous-week interval side). */
  private def anomalyZCte: String =
    s"""WITH weekly AS (
      |  SELECT event_type,
      |         floor((epoch_ms(ts) - ${graft.operators.Relational.RetentionEpochMs})::DOUBLE
      |               / ${graft.operators.Relational.WeekMs}.0)::INT AS wk,
      |         count(*)::BIGINT AS n_events
      |  FROM events GROUP BY 1, 2
      |),
      |w AS (
      |  SELECT event_type, wk, n_events,
      |         count(n_events) OVER f::DOUBLE AS k,
      |         sum(n_events) OVER f::DOUBLE AS s,
      |         sum(n_events * n_events) OVER f::DOUBLE AS s2
      |  FROM weekly
      |  WINDOW f AS (PARTITION BY event_type ORDER BY wk
      |               ROWS BETWEEN ${graft.operators.Relational.AnomalyTrailW} PRECEDING AND 1 PRECEDING)
      |),
      |z AS (
      |  SELECT event_type, wk, n_events, k, s / k AS mean,
      |         CASE WHEN k >= 2
      |              THEN sqrt(greatest((s2 - s * s / k) / (k - 1.0), 0.0)) END AS std
      |  FROM w
      |),
      |zz AS (
      |  SELECT event_type, wk, n_events, k, mean, std,
      |         CASE WHEN std > 0 THEN (n_events::DOUBLE - mean) / std END AS z
      |  FROM z
      |)""".stripMargin

  /** Shared CTE prefix: the 30-minute-gap sessionization, ending in
    * `s(user_id, ts, event_id, event_type, session_no)` — consumed by
    * q101 (paths), q124 (session intervals), q128 (transitions). */
  private def sessionCte: String =
    """WITH o AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
      |              THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |),
      |s AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                          ROWS UNBOUNDED PRECEDING) AS session_no
      |  FROM o
      |)""".stripMargin

  /** Shared CTE: distinct word-3-shingles + all-pairs exact Jaccard over
    * the documents table — the ground truth the LSH pipelines must equal.
    *
    * RECALL ASSUMPTION (q12, q14, q31, q47, q52, q63 near arm): the Spark
    * side generates candidates via 32×4 minhash banding and verifies them
    * exactly, while this oracle computes exact ALL-PAIRS Jaccard. They
    * hash-match only because banding recall at the 0.8 threshold is
    * ≥ 1-(1-0.8⁴)³² ≈ 1-5e-8 per qualifying pair — an unlucky corpus
    * could surface a ≥0.8 pair that no band catches and grade as a
    * mysterious hash mismatch. That event is the documented false-negative
    * rate of the operator, not a bug; if it ever fires, check the missed
    * pair's per-band signatures before suspecting the pipeline. */
  private val jaccardCte: String =
    """WITH sh AS (
      |  SELECT DISTINCT doc_id, w[i] || '_' || w[i+1] || '_' || w[i+2] AS g
      |  FROM (SELECT doc_id, regexp_extract_all(text, '[^ \t\n\r]+') AS w FROM documents),
      |       unnest(range(1, len(w) - 1)) t(i)
      |),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
      |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |),
      |jac AS (
      |  SELECT i, j, c * 1.0 / (si.n + sj.n - c) AS jaccard
      |  FROM inter
      |  JOIN sizes si ON si.doc_id = i
      |  JOIN sizes sj ON sj.doc_id = j
      |)""".stripMargin

  /** 131^j mod (2^31-1) for j = 0..15, inlined as (j, p) VALUES rows for
    * the q21 rolling-hash oracle — mirrors the native RollingHash
    * expression's family (B = 131, P = 2^31-1, window 16). */
  private def rollingPowN(w: Int): String =
    Iterator.iterate(1L)(h => h * 131L % 2147483647L).take(w).zipWithIndex
      .map { case (p, j) => s"($j, $p)" }.mkString(", ")
  private val rollingPow: String = rollingPowN(16)

  /** The q65/q277 trigram-hash CTE pair: doc frame `$d` (len-guarded)
    * and per-position trigram rolling hashes `$g(doc_id, lang, g)` —
    * mirrors the native RollingHash family at window [[TextAnalysis.CharGramN]]. */
  private def charGramCte(d: String, g: String): String = {
    import graft.operators.TextAnalysis.CharGramN
    s"""${d}pw(j, p) AS (VALUES ${rollingPowN(CharGramN)}),
      |$d AS (SELECT doc_id, lang, text FROM documents
      |       WHERE len(text) >= $CharGramN),
      |$g AS (
      |  SELECT d.doc_id, d.lang,
      |         (sum(ord(substr(d.text, s.i + ${CharGramN - 1} - w.j, 1))::BIGINT
      |              * w.p) % 2147483647)::BIGINT AS g
      |  FROM $d d, unnest(range(1, len(d.text) - ${CharGramN - 2})) s(i),
      |       ${d}pw w
      |  GROUP BY d.doc_id, d.lang, s.i
      |)""".stripMargin
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q01_wordcount" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents)
        |GROUP BY word ORDER BY word""".stripMargin,
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        |       round(l_extendedprice * (1.0 - l_discount), 4) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |  AND l_discount >= 0.05 AND l_quantity < 24
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_join_broadcast" ->
      """SELECT r_name, n_name,
        |       round(sum(o_totalprice), 2) AS total_revenue,
        |       count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,
    "q04_agg_having" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(avg(l_discount), 6) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |HAVING count(*) > 100
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q05_topk" ->
      """SELECT c_custkey, c_name, round(sum(o_totalprice), 2) AS total_spend
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY total_spend DESC, c_custkey ASC
        |LIMIT 10""".stripMargin,
    "q06_distinct" ->
      """SELECT DISTINCT event_type, user_id
        |FROM events ORDER BY event_type, user_id""".stripMargin,
    "q07_string_ops" ->
      """SELECT p_partkey,
        |       string_split(p_name, ' ')[1]  AS first_word,
        |       string_split(p_name, ' ')[-1] AS last_word,
        |       starts_with(p_name, 's') AS starts_s,
        |       (p_name LIKE '%t') AS ends_t,
        |       len(string_split(p_name, ' ')) AS n_words
        |FROM part
        |WHERE starts_with(p_name, 's') OR p_name LIKE '%t'
        |ORDER BY p_partkey""".stripMargin,
    "q08_nested_roundtrip" ->
      """SELECT event_id, event_type,
        |       regexp_extract(props, '([0-9]+)', 1)::INT AS k_val,
        |       user_id
        |FROM events ORDER BY event_id""".stripMargin,
    "q09_mapreduce_api" ->
      """SELECT event_type, round(sum(value), 2) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q10_partitioned_agg" ->
      """SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY user_id
        |HAVING count(*) >= 3
        |ORDER BY user_id""".stripMargin,
    "q11_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, md5(strip_accents(nfc_normalize(text))) AS content_hash, count(*) AS n_copies
        |FROM documents GROUP BY md5(strip_accents(nfc_normalize(text))) ORDER BY doc_id""".stripMargin,
    "q12_dedup_minhash" ->
      (jaccardCte +
        """
          |SELECT i AS doc_a, j AS doc_b, round(jaccard, 6) AS jaccard
          |FROM jac WHERE jaccard >= 0.8
          |ORDER BY doc_a, doc_b""".stripMargin),
    "q13_dedup_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '[^ \t\n\r]+')) AS tok FROM documents
        |),
        |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
        |bits AS (
        |  SELECT doc_id, b, sum(((h >> b) & 1) * 2 - 1) AS s
        |  FROM h, unnest(range(0, 48)) t(b)
        |  GROUP BY doc_id, b
        |),
        |sim AS (
        |  SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
        |  FROM bits GROUP BY doc_id
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
        |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q14_ngram_dedup" ->
      (jaccardCte +
        """
          |SELECT doc_id, n_chars FROM documents
          |WHERE doc_id NOT IN (SELECT DISTINCT j FROM jac WHERE jaccard >= 0.8)
          |ORDER BY doc_id""".stripMargin),
    "q15_embed_neardup" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |grid AS (
        |  SELECT t, i, d,
        |         ('0x' || substr(md5('lsh_' || t || '_' || i || '_' || d), 1, 7))::BIGINT % 2001 - 1000 AS w
        |  FROM unnest(range(0, 8)) t1(t), unnest(range(0, 8)) t2(i), unnest(range(0, 64)) t3(d)
        |),
        |dots AS (
        |  SELECT e.vec_id, g.t, g.i, sum(e.v[g.d + 1] * g.w) AS dot
        |  FROM e, grid g GROUP BY 1, 2, 3
        |),
        |codes AS (
        |  SELECT vec_id, t, sum(CASE WHEN dot > 0 THEN (1 << i) ELSE 0 END) AS c
        |  FROM dots GROUP BY 1, 2
        |),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM codes a JOIN codes b ON a.t = b.t AND a.c = b.c AND a.vec_id < b.vec_id
        |),
        |cos AS (
        |  SELECT vec_a, vec_b,
        |         list_dot_product(ea.v, eb.v) /
        |         (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS cosine
        |  FROM cand JOIN e ea ON ea.vec_id = vec_a JOIN e eb ON eb.vec_id = vec_b
        |)
        |SELECT vec_a, vec_b, round(cosine, 6) AS cosine
        |FROM cos WHERE cosine >= 0.42 ORDER BY vec_a, vec_b""".stripMargin,
    "q16_ann_bruteforce" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |pairs AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |         list_dot_product(q.qv, e.v) /
        |         (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cosine_raw
        |  FROM q JOIN e ON e.vec_id <> q.query_id
        |),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cosine_raw,
        |         row_number() OVER (PARTITION BY query_id ORDER BY cosine_raw DESC, neighbor_id ASC) AS rnk
        |  FROM pairs
        |)
        |SELECT query_id, neighbor_id, rnk::INT AS "rank", round(cosine_raw, 6) AS cosine
        |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    "q17_ann_lsh" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |params AS (SELECT greatest(1, ceil(log2(count(*) / 64.0)))::INT AS bits FROM e),
        |grid AS (
        |  SELECT i, d,
        |         ('0x' || substr(md5('ivf_0_' || i || '_' || d), 1, 7))::BIGINT % 2001 - 1000 AS w
        |  FROM unnest(range(0, (SELECT bits FROM params))) t2(i), unnest(range(0, 64)) t3(d)
        |),
        |dots AS (
        |  SELECT e.vec_id, g.i, sum(e.v[g.d + 1] * g.w) AS dot
        |  FROM e, grid g GROUP BY 1, 2
        |),
        |codes AS (
        |  SELECT vec_id, sum(CASE WHEN dot > 0 THEN (1 << i) ELSE 0 END) AS c
        |  FROM dots GROUP BY 1
        |),
        |pairs AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |         list_dot_product(ea.v, eb.v) /
        |         (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS cosine_raw
        |  FROM codes a JOIN codes b
        |    ON bit_count(xor(a.c::BIGINT, b.c::BIGINT)) <= 1 AND a.vec_id <> b.vec_id
        |  JOIN e ea ON ea.vec_id = a.vec_id
        |  JOIN e eb ON eb.vec_id = b.vec_id
        |),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cosine_raw,
        |         row_number() OVER (PARTITION BY query_id ORDER BY cosine_raw DESC, neighbor_id ASC) AS rnk
        |  FROM pairs
        |)
        |SELECT query_id, neighbor_id, rnk::INT AS "rank", round(cosine_raw, 6) AS cosine
        |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    "q18_langid" ->
      (langIdCte + """
        |SELECT doc_id, lang AS labeled_lang, plang AS predicted_lang, score::INT AS score
        |FROM pred ORDER BY doc_id""".stripMargin),
    "q113_stream_join_exec" ->
      """SELECT c.event_id AS click_id, c.user_id,
        |       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |       v.event_id AS view_id,
        |       strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts
        |FROM events c JOIN events v
        |  ON v.user_id = c.user_id
        | AND c.event_type = 'click' AND v.event_type = 'view'
        | AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 30 MINUTE
        |ORDER BY click_id, view_id""".stripMargin,
    "q114_lang_confusion" ->
      (langIdCte + """,
        |cm AS (SELECT lang AS labeled_lang, plang AS predicted_lang,
        |              count(*)::BIGINT AS n_docs
        |       FROM pred GROUP BY 1, 2),
        |tot AS (SELECT labeled_lang, sum(n_docs)::BIGINT AS n_lang FROM cm GROUP BY 1)
        |SELECT cm.labeled_lang, cm.predicted_lang, cm.n_docs,
        |       floor(cm.n_docs::DOUBLE / t.n_lang::DOUBLE * 1000000.0 + 0.5)
        |         / 1000000.0 AS share_of_labeled
        |FROM cm JOIN tot t USING (labeled_lang)
        |ORDER BY labeled_lang, predicted_lang""".stripMargin),
    "q115_hll_distinct" ->
      s"""WITH toks AS (
        |  SELECT lang, unnest(regexp_extract_all(text, '[^ \\t\\n\\r]+')) AS tok
        |  FROM documents
        |),
        |h AS (SELECT lang, tok, ('0x'||substr(md5(tok),1,15))::BIGINT AS h FROM toks),
        |regs AS (
        |  SELECT lang, h % ${Sketches.HllM} AS reg,
        |         max(${Sketches.HllRankBits + 1} - length(ltrim(bin(h // ${Sketches.HllM}), '0'))) AS mj
        |  FROM h GROUP BY 1, 2),
        |est0 AS (
        |  SELECT lang, count(*)::BIGINT AS v,
        |         sum(1.0 / (1::BIGINT << mj)::DOUBLE) AS s
        |  FROM regs GROUP BY 1),
        |est1 AS (
        |  SELECT lang,
        |         (0.7213/(1.0+1.079/${Sketches.HllM}.0)) * ${Sketches.HllM}.0 * ${Sketches.HllM}.0
        |           / (s + (${Sketches.HllM} - v)::DOUBLE) AS e_raw,
        |         (${Sketches.HllM} - v)::DOUBLE AS z
        |  FROM est0),
        |est2 AS (
        |  SELECT lang, CASE WHEN e_raw <= ${2.5 * Sketches.HllM} AND z > 0
        |                    THEN ${Sketches.HllM}.0 * ln(${Sketches.HllM}.0 / z)
        |                    ELSE e_raw END AS e FROM est1),
        |exact AS (SELECT lang, count(DISTINCT tok)::BIGINT AS exact_distinct FROM toks GROUP BY 1)
        |SELECT x.lang, x.exact_distinct,
        |       floor(e * 10000.0 + 0.5)/10000.0 AS hll_estimate,
        |       floor((e - x.exact_distinct::DOUBLE)/x.exact_distinct::DOUBLE * 10000.0 + 0.5)/10000.0 AS rel_error
        |FROM exact x JOIN est2 USING (lang)
        |ORDER BY lang""".stripMargin,
    "q116_heavy_hitters" ->
      s"""WITH occ AS (
        |  SELECT unnest(regexp_extract_all(text, '[^ \\t\\n\\r]+')) AS tok FROM documents
        |),
        |oh AS (SELECT tok, ('0x'||substr(md5(tok),1,7))::BIGINT AS h FROM occ),
        |cells AS (
        |  SELECT i.i AS r,
        |         ((h*(2*i.i+1) + 101*i.i + 7) % ${graft.functions.HashFunctions.P}) % ${Sketches.CmsW} AS b,
        |         count(*)::BIGINT AS c
        |  FROM oh CROSS JOIN (VALUES (0),(1),(2),(3)) i(i) GROUP BY 1, 2),
        |top AS (
        |  SELECT tok, count(*)::BIGINT AS exact_cnt
        |  FROM occ GROUP BY tok ORDER BY exact_cnt DESC, tok ASC LIMIT ${Sketches.CmsTopK}),
        |th AS (SELECT tok, exact_cnt, ('0x'||substr(md5(tok),1,7))::BIGINT AS h FROM top),
        |est AS (
        |  SELECT t.tok, t.exact_cnt, min(c.c) AS cms_estimate
        |  FROM th t CROSS JOIN (VALUES (0),(1),(2),(3)) i(i)
        |  JOIN cells c ON c.r = i.i
        |    AND c.b = ((t.h*(2*i.i+1) + 101*i.i + 7) % ${graft.functions.HashFunctions.P}) % ${Sketches.CmsW}
        |  GROUP BY 1, 2)
        |SELECT tok, exact_cnt, cms_estimate, (cms_estimate - exact_cnt) AS overestimate
        |FROM est ORDER BY exact_cnt DESC, tok ASC""".stripMargin,
    "q117_retention" ->
      s"""WITH uw AS (
        |  SELECT DISTINCT user_id,
        |         floor((epoch_ms(ts) - ${Relational.RetentionEpochMs})::DOUBLE
        |               / ${Relational.WeekMs}.0)::INT AS wk
        |  FROM events
        |),
        |cohort AS (SELECT user_id, min(wk) AS cohort_week FROM uw GROUP BY 1),
        |sizes AS (SELECT cohort_week, count(*)::BIGINT AS cohort_size FROM cohort GROUP BY 1),
        |act AS (
        |  SELECT c.cohort_week, (uw.wk - c.cohort_week)::INT AS week_offset,
        |         count(*)::BIGINT AS n_active
        |  FROM uw JOIN cohort c USING (user_id) GROUP BY 1, 2)
        |SELECT a.cohort_week, a.week_offset, a.n_active, s.cohort_size,
        |       floor(a.n_active::DOUBLE / s.cohort_size::DOUBLE * 1000000.0 + 0.5)
        |         / 1000000.0 AS retention
        |FROM act a JOIN sizes s USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin,
    "q118_bloom_decontam" ->
      s"""WITH t AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \\t\\n\\r]+') AS w FROM documents
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |         w[i] || '_' || w[i+1] || '_' || w[i+2] || '_' || w[i+3] || '_' || w[i+4] AS g
        |  FROM t, unnest(range(1, len(w) - 3)) s(i)
        |),
        |hp AS (
        |  SELECT doc_id, g,
        |         ((('0x'||substr(md5(g),1,7))::BIGINT*(2*i.i+1) + 101*i.i + 7)
        |            % ${graft.functions.HashFunctions.P}) % ${Dedup.BloomM} AS pos
        |  FROM sh CROSS JOIN (VALUES (0),(1),(2)) i(i)
        |),
        |refpos AS (SELECT DISTINCT pos FROM hp WHERE doc_id % 50 = 0),
        |flag AS (
        |  SELECT hp.doc_id, hp.g,
        |         min(CASE WHEN r.pos IS NOT NULL THEN 1 ELSE 0 END) AS hit
        |  FROM hp LEFT JOIN refpos r USING (pos)
        |  WHERE hp.doc_id % 50 <> 0
        |  GROUP BY 1, 2
        |),
        |bloom AS (SELECT doc_id, count(*)::BIGINT AS n_bloom FROM flag WHERE hit = 1 GROUP BY 1),
        |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 50 = 0),
        |exact AS (
        |  SELECT sh.doc_id, count(*)::BIGINT AS n_exact
        |  FROM sh JOIN bench USING (g)
        |  WHERE sh.doc_id % 50 <> 0 GROUP BY 1)
        |SELECT b.doc_id, coalesce(e.n_exact, 0)::BIGINT AS n_exact, b.n_bloom,
        |       (b.n_bloom - coalesce(e.n_exact, 0))::BIGINT AS n_false_pos
        |FROM bloom b LEFT JOIN exact e USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q119_priority_sample" ->
      s"""WITH pr AS (
        |  SELECT doc_id, n_chars AS w,
        |         n_chars::DOUBLE * ${Sampling.PriorityGrid}
        |           / (('0x' || substr(md5('pri_' || doc_id), 1, 7))::BIGINT + 1)::DOUBLE AS q
        |  FROM documents
        |),
        |rk AS (
        |  SELECT doc_id, w, q,
        |         row_number() OVER (ORDER BY q DESC, doc_id ASC) AS rnk
        |  FROM pr
        |),
        |tau AS (SELECT q AS tau FROM rk WHERE rnk = ${Sampling.PriorityN + 1})
        |SELECT r.rnk::BIGINT AS smp_rank, r.doc_id, r.w, r.q AS priority, t.tau,
        |       greatest(r.w::DOUBLE, t.tau) AS w_est
        |FROM rk r CROSS JOIN tau t
        |WHERE r.rnk <= ${Sampling.PriorityN}
        |ORDER BY smp_rank""".stripMargin,
    "q120_anomaly_weeks" ->
      (anomalyZCte + s"""
        |SELECT event_type, wk, n_events,
        |       CASE WHEN k >= 1 THEN floor(mean * 10000.0 + 0.5) / 10000.0 END AS trail_mean,
        |       floor(std * 10000.0 + 0.5) / 10000.0 AS trail_std,
        |       floor(z * 10000.0 + 0.5) / 10000.0 AS z,
        |       CASE WHEN z IS NOT NULL THEN abs(z) >= ${Relational.AnomalyZ} END AS is_anomaly
        |FROM zz
        |ORDER BY event_type, wk""".stripMargin),
    "q19_quality" ->
      (qualityCte + """
        |SELECT doc_id, n_tokens, mean_word_len, stopword_ratio, uniq_ratio, quality_score
        |FROM qual ORDER BY doc_id""".stripMargin),
    "q111_quality_percentile" -> {
      import graft.operators.Ranking.KeepPctAbove
      val pct = "floor(cume_dist() OVER (PARTITION BY lang ORDER BY quality_score)" +
        " * 1000000.0 + 0.5) / 1000000.0"
      qualityCte + s""",
        |j AS (SELECT q.doc_id, d.lang, q.quality_score
        |      FROM qual q JOIN documents d USING (doc_id))
        |SELECT doc_id, lang, quality_score, $pct AS pct,
        |       ($pct > $KeepPctAbove)::INT AS keep_top
        |FROM j ORDER BY doc_id""".stripMargin
    },
    "q20_tokencount" ->
      """SELECT doc_id,
        |       len(regexp_extract_all(text, '[^ \t\n\r]+'))::INT AS n_ws_tokens,
        |       len(regexp_extract_all(lower(text), '[a-z]+'))::INT AS n_alpha_tokens,
        |       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))::INT AS n_subword_tokens,
        |       len(text)::INT AS n_chars_measured
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q21_fingerprint" ->
      ("WITH pw(j, p) AS (VALUES " + rollingPow + "),\n" +
        """t AS (
          |  SELECT doc_id, text, regexp_extract_all(text, '[^ \t\n\r]+') AS w FROM documents
          |),
          |sh AS (
          |  SELECT doc_id, text,
          |         list_distinct([w[i] || '_' || w[i+1] || '_' || w[i+2]
          |                        FOR i IN range(1, len(w) - 1)]) AS gs
          |  FROM t
          |),
          |roll0 AS (
          |  SELECT d.doc_id, s.i,
          |         (sum(ord(substr(d.text, s.i + 15 - pw.j, 1))::BIGINT * pw.p) % 2147483647)::BIGINT AS h
          |  FROM documents d, unnest(range(1, len(d.text) - 14)) s(i), pw
          |  GROUP BY d.doc_id, s.i
          |),
          |roll AS (SELECT doc_id, min(h) AS rolling_fp FROM roll0 GROUP BY doc_id)
          |SELECT sh.doc_id, md5(sh.text) AS content_fp,
          |       list_min(list_transform(gs, g -> ('0x' || substr(md5(g), 1, 15))::BIGINT)) AS shingle_min_hash,
          |       roll.rolling_fp
          |FROM sh LEFT JOIN roll USING (doc_id) ORDER BY sh.doc_id""".stripMargin),
    "q22_multimodal" ->
      """SELECT doc_id, 'text' AS media_type,
        |       octet_length(text::BLOB)::INT AS n_bytes,
        |       ascii(substr(text, 1, 1)) AS first_byte,
        |       ascii(substr(text, -1, 1)) AS last_byte,
        |       md5(text) AS checksum
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q23_stream_window" ->
      """SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
        |       event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    "q24_salted_agg" ->
      """SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // identical SQL to q23 — the engine side differs: q88 executes the
    // aggregation through a real Structured Streaming micro-batch run
    "q88_stream_window_exec" ->
      """SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
        |       event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    "q25_sessionize" ->
      """WITH o AS (
        |  SELECT user_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |),
        |s AS (
        |  SELECT user_id, ts,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                          ROWS UNBOUNDED PRECEDING)::BIGINT AS session_no
        |  FROM o
        |)
        |SELECT user_id, session_no, count(*) AS n_events,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
        |FROM s GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin,
    "q26_semi_anti" ->
      """SELECT c_custkey, c_name, 'has_big_order' AS status
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        |UNION ALL
        |SELECT c_custkey, c_name, 'no_orders' AS status
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY status, c_custkey""".stripMargin,
    "q27_window" ->
      """WITH w AS (
        |  SELECT o_custkey, o_orderkey,
        |         row_number() OVER win AS rn,
        |         sum(o_totalprice) OVER (PARTITION BY o_custkey
        |                                 ORDER BY o_orderdate, o_orderkey
        |                                 ROWS UNBOUNDED PRECEDING) AS run_total
        |  FROM orders
        |  WINDOW win AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |)
        |SELECT o_custkey, rn::INT AS rn, o_orderkey, round(run_total, 2) AS run_total
        |FROM w WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,
    "q28_ann_ivf" ->
      materializeCtes(ivfCellsCte + annProbeRankSuffix),
    "q73_semdedup" ->
      materializeCtes(ivfHierCellsCte + s""",
        |dup AS (
        |  SELECT b.vec_id, min(a.vec_id) AS dup_of
        |  FROM cells a JOIN cells b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
        |  JOIN e ea ON ea.vec_id = a.vec_id
        |  JOIN e eb ON eb.vec_id = b.vec_id
        |  WHERE list_dot_product(ea.v, eb.v) /
        |        (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)))
        |          >= ${graft.operators.Similarity.CosineThreshold}
        |  GROUP BY b.vec_id
        |)
        |SELECT c.vec_id, c.cent_id, d.dup_of IS NOT NULL AS is_dup,
        |       coalesce(d.dup_of, -1) AS dup_of
        |FROM cells c LEFT JOIN dup d USING (vec_id)
        |ORDER BY c.vec_id""".stripMargin),
    "q29_sql" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= '1996-01-01'
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q30_asof_join" ->
      """SELECT c.event_id AS click_id, c.user_id,
        |       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |       strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
        |       coalesce(v.value, -1.0) AS view_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON c.user_id = v.user_id AND c.ts >= v.ts
        |ORDER BY click_id""".stripMargin,
    "q31_dup_clusters" ->
      (dupClustersCte + """
          |SELECT doc_id, cluster_id FROM clus ORDER BY doc_id""".stripMargin),
    "q112_dup_savings" ->
      (dupClustersCte + """,
          |rep AS (
          |  SELECT c.cluster_id, count(*) AS n_docs, sum(d.n_chars) AS total_chars,
          |         min(c.doc_id) AS kept_doc
          |  FROM clus c JOIN documents d USING (doc_id)
          |  GROUP BY 1 HAVING count(*) >= 2)
          |SELECT r.cluster_id, r.n_docs::BIGINT AS n_docs,
          |       r.total_chars::BIGINT AS total_chars, r.kept_doc,
          |       (r.total_chars - dk.n_chars)::BIGINT AS chars_saved
          |FROM rep r JOIN documents dk ON dk.doc_id = r.kept_doc
          |ORDER BY chars_saved DESC, cluster_id ASC LIMIT 20""".stripMargin),
    "q80_dedup_report" ->
      (jaccardCte.replace("WITH sh AS", "WITH RECURSIVE sh AS") +
        """,
          |edges AS (
          |  SELECT i AS src, j AS dst FROM jac WHERE jaccard >= 0.8
          |  UNION ALL
          |  SELECT j AS src, i AS dst FROM jac WHERE jaccard >= 0.8
          |),
          |reach AS (
          |  SELECT doc_id AS doc, doc_id AS root FROM documents
          |  UNION
          |  SELECT e.src AS doc, r.root
          |  FROM reach r JOIN edges e ON e.dst = r.doc
          |),
          |clusters AS (
          |  SELECT doc AS doc_id, min(root) AS cluster_id FROM reach GROUP BY doc
          |),
          |csz AS (
          |  SELECT cluster_id, count(*) AS cluster_size FROM clusters GROUP BY cluster_id
          |)
          |SELECT cluster_size, count(*) AS n_clusters,
          |       (cluster_size * count(*))::BIGINT AS n_docs,
          |       ((cluster_size - 1) * count(*))::BIGINT AS n_removable
          |FROM csz GROUP BY cluster_size
          |ORDER BY cluster_size""".stripMargin),
    "q81_bucketed_join" ->
      """SELECT o_orderkey, o_custkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "q32_normalize" ->
      """WITH folded AS (
        |  SELECT doc_id, lower(strip_accents(nfc_normalize(text))) AS ft FROM documents
        |)
        |SELECT doc_id,
        |       trim(regexp_replace(regexp_replace(ft, '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
        |       md5(trim(regexp_replace(regexp_replace(ft, '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_hash,
        |       len(trim(regexp_replace(regexp_replace(ft, '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))::INT AS norm_len
        |FROM folded ORDER BY doc_id""".stripMargin,
    "q33_pipeline" ->
      (jaccardCte +
        """,
          |norm AS (
          |  SELECT doc_id,
          |         md5(trim(regexp_replace(regexp_replace(lower(strip_accents(nfc_normalize(text))), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_hash
          |  FROM documents
          |),
          |exact_surv AS (SELECT min(doc_id) AS doc_id FROM norm GROUP BY norm_hash),
          |neardup AS (SELECT DISTINCT j AS doc_id FROM jac WHERE jaccard >= 0.8),
          |t AS (SELECT doc_id, regexp_extract_all(text, '[^ \t\n\r]+') AS w FROM documents),
          |qual AS (
          |  SELECT doc_id, len(w)::INT AS n_tokens,
          |         round(0.4 * round(len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is','it'], x))) * 1.0 / len(w), 4)
          |             + 0.3 * round(len(list_distinct(w)) * 1.0 / len(w), 4)
          |             + 0.3 * least(len(w) / 100.0, 1.0), 5) AS quality_score
          |  FROM t
          |)
          |SELECT s.doc_id, q.n_tokens, q.quality_score
          |FROM exact_surv s
          |JOIN qual q ON q.doc_id = s.doc_id
          |WHERE s.doc_id NOT IN (SELECT doc_id FROM neardup)
          |  AND q.quality_score >= 0.33
          |ORDER BY s.doc_id""".stripMargin),
    "q34_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '[^ \t\n\r]+')) AS term FROM documents
        |),
        |tc AS (SELECT doc_id, term, count(*) AS tc FROM terms GROUP BY doc_id, term),
        |dl AS (SELECT doc_id, count(*) AS dl FROM terms GROUP BY doc_id),
        |df AS (SELECT term, count(*) AS df FROM tc GROUP BY term),
        |n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
        |scored AS (
        |  SELECT tc.doc_id, tc.term,
        |         (tc.tc * 1.0 / dl.dl) * ln(n.n_docs / df.df) AS tfidf_raw
        |  FROM tc JOIN dl ON dl.doc_id = tc.doc_id JOIN df ON df.term = tc.term, n
        |),
        |ranked AS (
        |  SELECT doc_id, term, tfidf_raw,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf_raw DESC, term ASC) AS rnk
        |  FROM scored
        |)
        |SELECT doc_id, rnk::INT AS rnk, term, round(tfidf_raw, 6) AS tfidf
        |FROM ranked WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin,
    "q35_bigrams" ->
      """WITH t AS (SELECT regexp_extract_all(text, '[^ \t\n\r]+') AS w FROM documents),
        |b AS (SELECT unnest([w[i] || '_' || w[i+1] FOR i IN range(1, len(w))]) AS bigram FROM t)
        |SELECT bigram, count(*) AS cnt
        |FROM b GROUP BY bigram
        |ORDER BY cnt DESC, bigram ASC
        |LIMIT 20""".stripMargin,
    "q36_rollup" ->
      """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
        |       coalesce(o_orderstatus, 'ALL') AS status,
        |       count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        |ORDER BY priority, status""".stripMargin,
    "q37_pivot" ->
      """SELECT (user_id % 10)::INT AS user_bucket,
        |       sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click,
        |       sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS view,
        |       sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase,
        |       sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup,
        |       sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error
        |FROM events GROUP BY 1 ORDER BY user_bucket""".stripMargin,
    "q38_percentiles" ->
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 6) AS p50,
        |       round(quantile_cont(value, 0.9), 6) AS p90,
        |       round(quantile_cont(value, 0.99), 6) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q39_stats" ->
      """SELECT l_returnflag,
        |       round(stddev_samp(l_quantity), 4) AS sd_qty,
        |       round(var_samp(l_discount), 6) AS var_disc,
        |       round(corr(l_extendedprice, l_quantity), 4) AS corr_price_qty,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q40_full_outer" ->
      """WITH c AS (SELECT user_id AS cu, count(*) AS n_clicks FROM events WHERE event_type = 'click' GROUP BY 1),
        |v AS (SELECT user_id AS vu, count(*) AS n_views FROM events WHERE event_type = 'view' GROUP BY 1)
        |SELECT coalesce(cu, vu) AS user_id,
        |       coalesce(n_clicks, 0) AS n_clicks,
        |       coalesce(n_views, 0) AS n_views
        |FROM c FULL OUTER JOIN v ON cu = vu
        |ORDER BY user_id""".stripMargin,
    "q41_setops" ->
      """WITH clickers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
        |buyers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        |SELECT user_id, 'click_and_purchase' AS segment FROM (SELECT user_id FROM clickers INTERSECT SELECT user_id FROM buyers)
        |UNION ALL
        |SELECT user_id, 'click_no_purchase' AS segment FROM (SELECT user_id FROM clickers EXCEPT SELECT user_id FROM buyers)
        |ORDER BY segment, user_id""".stripMargin,
    "q42_histogram" ->
      """SELECT floor(value / 50)::INT AS bucket, count(*) AS n,
        |       round(avg(value), 4) AS avg_value
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q43_string_agg" ->
      """SELECT n_name, count(*) AS n_rich,
        |       string_agg(c_name, ',' ORDER BY c_name) AS roster
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > 9000.0
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q44_dates" ->
      """SELECT extract(year FROM o_orderdate)::INT AS yr,
        |       extract(month FROM o_orderdate)::INT AS mo,
        |       count(*) AS n_orders,
        |       min(date_diff('day', DATE '1995-01-01', o_orderdate::DATE))::INT AS first_day,
        |       max(date_diff('day', DATE '1995-01-01', o_orderdate::DATE))::INT AS last_day,
        |       round(sum(o_totalprice), 2) AS month_total
        |FROM orders GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin,
    "q45_profile" ->
      """SELECT count(*) AS n_rows,
        |       count(o_custkey) AS custkey_nonnull,
        |       count(DISTINCT o_custkey) AS custkey_distinct,
        |       count(DISTINCT o_orderstatus) AS status_distinct,
        |       count(DISTINCT o_orderpriority) AS priority_distinct,
        |       round(min(o_totalprice), 2) AS price_min,
        |       round(max(o_totalprice), 2) AS price_max,
        |       round(avg(o_totalprice), 2) AS price_avg
        |FROM orders""".stripMargin,
    "q46_argmax" ->
      """SELECT o_orderpriority,
        |       arg_max(o_orderkey, o_totalprice) AS biggest_order,
        |       arg_min(o_orderkey, o_totalprice) AS smallest_order,
        |       round(max(o_totalprice), 2) AS max_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q47_cluster_reps" ->
      (jaccardCte.replace("WITH sh AS", "WITH RECURSIVE sh AS") +
        """,
          |edges AS (
          |  SELECT i AS src, j AS dst FROM jac WHERE jaccard >= 0.8
          |  UNION ALL
          |  SELECT j AS src, i AS dst FROM jac WHERE jaccard >= 0.8
          |),
          |reach AS (
          |  SELECT doc_id AS doc, doc_id AS root FROM documents
          |  UNION
          |  SELECT e.src AS doc, r.root
          |  FROM reach r JOIN edges e ON e.dst = r.doc
          |),
          |labels AS (SELECT doc AS doc_id, min(root) AS cluster_id FROM reach GROUP BY doc),
          |t2 AS (SELECT doc_id, regexp_extract_all(text, '[^ \t\n\r]+') AS w FROM documents),
          |qual AS (
          |  SELECT doc_id,
          |         round(0.4 * round(len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is','it'], x))) * 1.0 / len(w), 4)
          |             + 0.3 * round(len(list_distinct(w)) * 1.0 / len(w), 4)
          |             + 0.3 * least(len(w) / 100.0, 1.0), 5) AS quality_score
          |  FROM t2
          |),
          |m AS (
          |  SELECT l.cluster_id, l.doc_id, q.quality_score,
          |         count(*) OVER (PARTITION BY l.cluster_id) AS n_members,
          |         row_number() OVER (PARTITION BY l.cluster_id
          |                            ORDER BY q.quality_score DESC, l.doc_id ASC) AS rn
          |  FROM labels l JOIN qual q USING (doc_id)
          |)
          |SELECT cluster_id, doc_id AS rep_doc_id, quality_score AS rep_quality, n_members
          |FROM m WHERE rn = 1 ORDER BY cluster_id""".stripMargin),
    "q48_sample" ->
      """WITH s AS (
        |  SELECT doc_id, lang, source,
        |         ('0x' || substr(md5('smp_' || doc_id), 1, 7))::BIGINT % 1000 AS bucket
        |  FROM documents
        |)
        |SELECT doc_id, lang, source, bucket FROM s
        |WHERE bucket < (CASE WHEN lang = 'en' THEN 100 ELSE 200 END)
        |ORDER BY doc_id""".stripMargin,
    "q49_langstats" ->
      """SELECT lang, count(*) AS n_docs,
        |       count(DISTINCT source) AS n_sources,
        |       sum(len(regexp_extract_all(text, '[^ \t\n\r]+')))::BIGINT AS total_tokens,
        |       round(avg(n_chars), 4) AS mean_chars,
        |       round(quantile_cont(n_chars, 0.5), 1) AS p50_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q50_pmi" ->
      """WITH t AS (SELECT regexp_extract_all(text, '[^ \t\n\r]+') AS w FROM documents),
        |uni AS (SELECT unnest(w) AS tk FROM t),
        |u AS (SELECT tk, count(*) AS c1 FROM uni GROUP BY tk),
        |nu AS (SELECT sum(c1)::DOUBLE AS n_uni FROM u),
        |b0 AS (SELECT unnest([{'ta': w[i], 'tb': w[i+1]} FOR i IN range(1, len(w))]) AS p FROM t),
        |b AS (SELECT p.ta AS ta, p.tb AS tb, count(*) AS c2 FROM b0 GROUP BY 1, 2),
        |nb AS (SELECT sum(c2)::DOUBLE AS n_bi FROM b),
        |scored AS (
        |  SELECT b.ta, b.tb, b.c2,
        |         ln((b.c2 / nb.n_bi) / ((ua.c1 / nu.n_uni) * (ub.c1 / nu.n_uni))) AS pmi_raw
        |  FROM b JOIN u ua ON ua.tk = b.ta JOIN u ub ON ub.tk = b.tb, nu, nb
        |  WHERE b.c2 >= 3
        |)
        |SELECT ta, tb, c2 AS cnt, round(pmi_raw, 6) AS pmi
        |FROM scored ORDER BY pmi_raw DESC, ta ASC, tb ASC LIMIT 20""".stripMargin,
    "q51_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\r]+') AS w FROM documents
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |         w[i] || '_' || w[i+1] || '_' || w[i+2] || '_' || w[i+3] || '_' || w[i+4] AS g
        |  FROM t, unnest(range(1, len(w) - 3)) s(i)
        |),
        |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 50 = 0)
        |SELECT doc_id, count(*) AS n_hits
        |FROM sh JOIN bench USING (g)
        |WHERE doc_id % 50 <> 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q52_curation_chain" ->
      ("WITH RECURSIVE " + jaccardCte.stripPrefix("WITH ") +
        """,
          |edges AS (
          |  SELECT i AS src, j AS dst FROM jac WHERE jaccard >= 0.8
          |  UNION ALL
          |  SELECT j AS src, i AS dst FROM jac WHERE jaccard >= 0.8
          |),
          |reach AS (
          |  SELECT doc_id AS doc, doc_id AS root FROM documents
          |  UNION
          |  SELECT e.src AS doc, r.root
          |  FROM reach r JOIN edges e ON e.dst = r.doc
          |),
          |labels AS (SELECT doc AS doc_id, min(root) AS cluster_id FROM reach GROUP BY doc),
          |t2 AS (SELECT doc_id, regexp_extract_all(text, '[^ \t\n\r]+') AS w FROM documents),
          |qual AS (
          |  SELECT doc_id,
          |         round(0.4 * round(len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is','it'], x))) * 1.0 / len(w), 4)
          |             + 0.3 * round(len(list_distinct(w)) * 1.0 / len(w), 4)
          |             + 0.3 * least(len(w) / 100.0, 1.0), 5) AS quality_score
          |  FROM t2
          |),
          |surv AS (
          |  SELECT doc_id FROM documents
          |  WHERE doc_id NOT IN (SELECT DISTINCT j FROM jac WHERE jaccard >= 0.8)
          |),
          |kept AS (
          |  SELECT l.cluster_id, count(*) AS n_kept
          |  FROM labels l JOIN surv USING (doc_id) GROUP BY 1
          |),
          |m AS (
          |  SELECT l.cluster_id, l.doc_id, q.quality_score,
          |         count(*) OVER (PARTITION BY l.cluster_id) AS n_members,
          |         row_number() OVER (PARTITION BY l.cluster_id
          |                            ORDER BY q.quality_score DESC, l.doc_id ASC) AS rn
          |  FROM labels l JOIN qual q USING (doc_id)
          |)
          |SELECT m.cluster_id, m.doc_id AS rep_doc_id, m.quality_score AS rep_quality,
          |       m.n_members, k.n_kept
          |FROM m JOIN kept k ON k.cluster_id = m.cluster_id
          |WHERE m.rn = 1 ORDER BY m.cluster_id""".stripMargin),
    "q53_shard_pack" ->
      s"""WITH t AS (
        |  SELECT doc_id, len(regexp_extract_all(text, '[^ \t\n\r]+'))::BIGINT AS n
        |  FROM documents
        |),
        |c AS (
        |  SELECT doc_id, n,
        |         sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
        |                      AND CURRENT ROW) - n AS pre
        |  FROM t
        |)
        |SELECT (pre // ${Packing.ShardBudget})::BIGINT AS shard_id, count(*) AS n_docs,
        |       sum(n)::BIGINT AS shard_tokens,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q54_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\r]+') AS w FROM documents
        |),
        |sh AS (
        |  SELECT doc_id, len(w) AS n_tokens,
        |         [w[i] || '_' || w[i+1] || '_' || w[i+2] FOR i IN range(1, len(w) - 1)] AS g
        |  FROM t
        |),
        |r AS (
        |  SELECT doc_id, n_tokens, len(g) AS n3, len(list_distinct(g)) AS u3 FROM sh
        |),
        |topt AS (
        |  SELECT doc_id, max(c) AS top_c FROM (
        |    SELECT doc_id, tk, count(*) AS c FROM (
        |      SELECT doc_id, unnest(w) AS tk FROM t) GROUP BY doc_id, tk)
        |  GROUP BY doc_id
        |),
        |scored AS (
        |  SELECT r.doc_id,
        |         round((n3 - u3) * 1.0 / greatest(n3, 1), 4) AS dup_3gram_ratio,
        |         round(top_c * 1.0 / n_tokens, 4) AS top_token_ratio
        |  FROM r JOIN topt USING (doc_id)
        |)
        |SELECT doc_id, dup_3gram_ratio, top_token_ratio,
        |       (dup_3gram_ratio > 0.5 OR top_token_ratio > 0.2) AS drop_doc
        |FROM scored ORDER BY doc_id""".stripMargin,
    "q55_top_supplier" ->
      """SELECT s_suppkey, s_name,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS total_revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
        |GROUP BY s_suppkey, s_name
        |ORDER BY total_revenue DESC, s_suppkey ASC
        |LIMIT 10""".stripMargin,
    "q56_scrub" ->
      """SELECT doc_id,
        |       len(regexp_extract_all(text, '[^ \t\n\r]+@[^ \t\n\r]+')) AS n_emails,
        |       len(regexp_extract_all(text, 'https?://[^ \t\n\r]*')) AS n_urls,
        |       regexp_replace(
        |         regexp_replace(text, 'https?://[^ \t\n\r]*', '<URL>', 'g'),
        |         '[^ \t\n\r]+@[^ \t\n\r]+', '<EMAIL>', 'g') AS scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q57_ann_ivf_hier" ->
      materializeCtes(ivfHierCellsCte + annProbeRankSuffix),
    "q58_winnow_pairs" ->
      s"""WITH pw(j, p) AS (VALUES $rollingPow),
        |roll0 AS (
        |  SELECT d.doc_id, s.i,
        |         (sum(ord(substr(d.text, s.i + 15 - pw.j, 1))::BIGINT * pw.p) % 2147483647)::BIGINT AS h
        |  FROM documents d, unnest(range(1, len(d.text) - 14)) s(i), pw
        |  GROUP BY d.doc_id, s.i
        |),
        |win AS (
        |  SELECT doc_id, i,
        |         min(h) OVER (PARTITION BY doc_id ORDER BY i
        |                      ROWS BETWEEN CURRENT ROW AND ${Dedup.WinnowW - 1} FOLLOWING) AS wmin,
        |         count(*) OVER (PARTITION BY doc_id) AS m
        |  FROM roll0
        |),
        |fps AS (SELECT DISTINCT doc_id, wmin AS fp FROM win WHERE i <= m - ${Dedup.WinnowW - 1}),
        |rare AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM fps GROUP BY fp) WHERE df <= ${Dedup.WinnowMaxDf}),
        |kept AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |HAVING count(*) >= ${Dedup.WinnowMinShared}
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q59_passage_dedup" ->
      s"""WITH t AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\r]+') AS w FROM documents
        |),
        |b AS (
        |  SELECT doc_id, s.i AS idx,
        |         array_to_string(w[s.i * ${Dedup.PassageWords} + 1 :
        |                           s.i * ${Dedup.PassageWords} + ${Dedup.PassageWords}], ' ') AS btext
        |  FROM t, unnest(range(0, (len(w) + ${Dedup.PassageWords - 1}) // ${Dedup.PassageWords})) s(i)
        |),
        |d AS (
        |  SELECT btext, count(DISTINCT doc_id) AS df, min(doc_id) AS first_doc
        |  FROM b GROUP BY btext
        |),
        |k AS (
        |  SELECT b.doc_id, b.idx, b.btext,
        |         (d.df = 1 OR b.doc_id = d.first_doc) AS keep
        |  FROM b JOIN d USING (btext)
        |)
        |SELECT doc_id, count(*) AS n_blocks,
        |       count(*) FILTER (keep) AS n_kept,
        |       coalesce(string_agg(btext, ' ' ORDER BY idx) FILTER (keep), '') AS new_text
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q60_lang_balance" ->
      """WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
        |t AS (SELECT min(n_lang) AS n_target FROM c)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d JOIN c USING (lang), t
        |WHERE ('0x' || substr(md5('bal_' || d.doc_id), 1, 7))::BIGINT % c.n_lang
        |        < t.n_target
        |ORDER BY d.doc_id""".stripMargin,
    "q61_length_deciles" ->
      s"""WITH n AS (SELECT count(*) AS cnt FROM documents)
        |SELECT doc_id, n_chars,
        |       row_number() OVER (ORDER BY n_chars, doc_id) AS "rank",
        |       ((row_number() OVER (ORDER BY n_chars, doc_id) - 1)
        |          * ${Ranking.NumBuckets} // cnt)::BIGINT AS decile
        |FROM documents, n ORDER BY doc_id""".stripMargin,
    "q62_ann_hnsw" -> materializeCtes(annHnswOracle),
    "q63_incremental_dedup" ->
      (jaccardCte +
        """,
          |s AS (SELECT (count(*) * 4) // 5 AS s FROM documents),
          |exact AS (
          |  SELECT b.doc_id, min(c.doc_id) AS exact_id
          |  FROM documents b, documents c, s
          |  WHERE b.doc_id >= s.s AND c.doc_id < s.s AND md5(b.text) = md5(c.text)
          |  GROUP BY b.doc_id
          |),
          |near AS (
          |  SELECT j AS doc_id, min(i) AS near_id
          |  FROM jac, s WHERE jaccard >= 0.8 AND i < s.s AND j >= s.s
          |  GROUP BY j
          |),
          |batch AS (SELECT doc_id FROM documents, s WHERE doc_id >= s.s)
          |SELECT d.doc_id,
          |       CASE WHEN e.exact_id IS NOT NULL THEN 'exact'
          |            WHEN n.near_id IS NOT NULL THEN 'near'
          |            ELSE 'new' END AS status,
          |       coalesce(e.exact_id, n.near_id) AS match_id
          |FROM batch d
          |LEFT JOIN exact e ON e.doc_id = d.doc_id
          |LEFT JOIN near n ON n.doc_id = d.doc_id
          |ORDER BY d.doc_id""".stripMargin),
    "q64_funnel" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |v AS (SELECT user_id, min(ts) AS t_view FROM events
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS t_click
        |      FROM events e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t_purchase
        |      FROM events e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1)
        |SELECT u.user_id,
        |       CASE WHEN p.t_purchase IS NOT NULL THEN 3
        |            WHEN c.t_click IS NOT NULL THEN 2
        |            WHEN v.t_view IS NOT NULL THEN 1
        |            ELSE 0 END AS stage,
        |       strftime(v.t_view, '%Y-%m-%d %H:%M:%S') AS first_view,
        |       strftime(c.t_click, '%Y-%m-%d %H:%M:%S') AS first_click,
        |       strftime(p.t_purchase, '%Y-%m-%d %H:%M:%S') AS first_purchase
        |FROM u
        |LEFT JOIN v ON v.user_id = u.user_id
        |LEFT JOIN c ON c.user_id = u.user_id
        |LEFT JOIN p ON p.user_id = u.user_id
        |ORDER BY u.user_id""".stripMargin,
    "q65_char_langid" ->
      s"""WITH ${charGramCte("d", "g")},
        |prof AS (
        |  SELECT lang AS plang, g FROM (
        |    SELECT lang, g,
        |           row_number() OVER (PARTITION BY lang
        |                              ORDER BY count(*) DESC, g ASC) AS rn
        |    FROM g GROUP BY lang, g) WHERE rn <= ${TextAnalysis.ProfileSize}
        |),
        |sc AS (
        |  SELECT g.doc_id, p.plang, count(*) AS score
        |  FROM g JOIN prof p USING (g) GROUP BY 1, 2
        |),
        |best AS (
        |  SELECT doc_id, plang, score,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY score DESC, plang ASC) AS rn
        |  FROM sc
        |)
        |SELECT d.doc_id, d.lang AS labeled_lang,
        |       coalesce(b.plang, 'und') AS predicted_lang,
        |       coalesce(b.score, 0)::BIGINT AS score
        |FROM d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "q66_embed_outliers" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |m AS (
        |  SELECT label, t.d, round(avg(v[t.d]), 6) AS m
        |  FROM e, unnest(range(1, 65)) t(d) GROUP BY 1, 2
        |),
        |c AS (SELECT label, list(m ORDER BY d) AS cv FROM m GROUP BY label),
        |s AS (
        |  SELECT e.vec_id, e.label,
        |         list_dot_product(e.v, c.cv) /
        |         (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) AS cos
        |  FROM e JOIN c USING (label)
        |)
        |SELECT vec_id, label, round(cos, 6) AS centroid_cos,
        |       cos < ${Similarity.OutlierCos} AS is_outlier
        |FROM s ORDER BY vec_id""".stripMargin,
    "q67_session_attribution" ->
      """WITH o AS (
        |  SELECT user_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |),
        |s AS (
        |  SELECT user_id, ts,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                          ROWS UNBOUNDED PRECEDING)::BIGINT AS session_no
        |  FROM o
        |),
        |sess AS (
        |  SELECT user_id, session_no, count(*) AS n_events,
        |         min(ts) AS s_start, max(ts) AS s_end
        |  FROM s GROUP BY user_id, session_no
        |),
        |err AS (
        |  SELECT user_id, ts AS e_ts, value AS e_value FROM events
        |  WHERE event_type = 'error'
        |)
        |SELECT sess.user_id, sess.session_no,
        |       any_value(sess.n_events) AS n_events,
        |       count(err.e_ts) AS n_errors,
        |       round(coalesce(sum(err.e_value), 0), 2) AS err_value,
        |       strftime(any_value(sess.s_start), '%Y-%m-%d %H:%M:%S') AS session_start
        |FROM sess
        |LEFT JOIN err ON err.user_id = sess.user_id
        |             AND err.e_ts >= sess.s_start AND err.e_ts <= sess.s_end
        |GROUP BY sess.user_id, sess.session_no
        |ORDER BY sess.user_id, sess.session_no""".stripMargin,
    "q68_ann_pq" -> materializeCtes(annPqOracle),
    "q69_domain_cap" ->
      s"""WITH h AS (
        |  SELECT source, doc_id,
        |         ('0x' || substr(md5('cap_' || doc_id), 1, 7))::BIGINT AS h
        |  FROM documents
        |),
        |r AS (
        |  SELECT source, doc_id,
        |         row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS cap_rank
        |  FROM h
        |)
        |SELECT source, doc_id, cap_rank FROM r
        |WHERE cap_rank <= ${Sampling.DomainCapN}
        |ORDER BY source, cap_rank""".stripMargin,
    "q70_vocab_oov" ->
      s"""WITH t AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
        |  FROM documents
        |),
        |c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
        |v AS (
        |  SELECT tok, TRUE AS in_vocab FROM (
        |    SELECT tok, row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rn FROM c)
        |  WHERE rn <= ${TextAnalysis.VocabSize}
        |),
        |o AS (
        |  SELECT t.doc_id, count(*) AS n_tokens,
        |         count(*) FILTER (v.in_vocab IS NULL) AS n_oov
        |  FROM t LEFT JOIN v USING (tok) GROUP BY t.doc_id
        |)
        |SELECT d.doc_id,
        |       coalesce(o.n_tokens, 0)::BIGINT AS n_tokens,
        |       coalesce(o.n_oov, 0)::BIGINT AS n_oov,
        |       (CASE WHEN coalesce(o.n_tokens, 0) = 0 THEN 0
        |             ELSE (o.n_oov * 1000) // o.n_tokens END)::BIGINT AS oov_permille
        |FROM documents d LEFT JOIN o USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "q71_temp_mix" ->
      s"""WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
        |t AS (SELECT min(n_lang) AS n_min FROM c),
        |r AS (
        |  SELECT c.lang,
        |         floor(sqrt(t.n_min::DOUBLE / c.n_lang) * ${Sampling.MixScale})::BIGINT AS keep_ppm
        |  FROM c, t
        |)
        |SELECT d.doc_id, d.lang, d.source, r.keep_ppm
        |FROM documents d JOIN r USING (lang)
        |WHERE ('0x' || substr(md5('mix_' || d.doc_id), 1, 7))::BIGINT
        |        % ${Sampling.MixScale} < r.keep_ppm
        |ORDER BY d.doc_id""".stripMargin,
    "q72_inverted_index" ->
      s"""WITH d AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks
        |  FROM documents
        |),
        |t AS (
        |  SELECT doc_id, s.i::INT - 1 AS pos, toks[s.i::INT] AS term
        |  FROM d, unnest(range(1, len(toks) + 1)) s(i)
        |),
        |p AS (
        |  SELECT term, doc_id, doc_id // ${Indexing.SegmentDocs} AS segment,
        |         count(*) AS tf,
        |         doc_id::VARCHAR || ':' || string_agg(pos::VARCHAR, '|' ORDER BY pos) AS posting
        |  FROM t GROUP BY term, doc_id
        |)
        |SELECT term, segment, count(*) AS seg_df, sum(tf)::BIGINT AS seg_tf,
        |       string_agg(posting, ' ' ORDER BY doc_id) AS postings
        |FROM p GROUP BY term, segment
        |ORDER BY term, segment""".stripMargin,
    "q75_bm25" -> {
      import graft.operators.Indexing.{Bm25B, Bm25K1, Bm25Query, Bm25TopK}
      s"""WITH terms AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
        |  FROM documents
        |),
        |dl AS (SELECT doc_id, count(*) AS dl FROM terms GROUP BY doc_id),
        |st AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM terms
        |  WHERE term IN (${Bm25Query.map(t => s"'$t'").mkString(", ")})
        |  GROUP BY 1, 2
        |),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |sc AS (
        |  SELECT tf.doc_id,
        |         ln(((st.n_docs - df.df + 0.5) / (df.df + 0.5)) + 1.0) *
        |           (tf.tf * ${Bm25K1 + 1.0}) /
        |           (tf.tf + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B * dl.dl / st.avgdl)) AS s
        |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term), st
        |)
        |SELECT doc_id, round(sum(s), 6) AS bm25, count(*) AS n_terms_hit
        |FROM sc GROUP BY doc_id
        |ORDER BY round(sum(s), 6) DESC, doc_id LIMIT $Bm25TopK""".stripMargin
    },
    "q76_pagerank" -> materializeCtes(pageRankOracle),
    "q82_ann_ivfpq" -> materializeCtes(annIvfPqOracle),
    "q83_ann_ivf_graph" -> materializeCtes(annIvfGraphOracle),
    "q86_cluster_balance" -> {
      import graft.operators.Sampling.MixScale
      materializeCtes(ivfHierCellsCte + s""",
        |counts AS (SELECT cent_id, count(*) AS n_cell FROM cells GROUP BY cent_id),
        |tgt AS (SELECT min(n_cell) AS n_min FROM counts),
        |r AS (
        |  SELECT c.cent_id,
        |         floor(sqrt(tgt.n_min::DOUBLE / c.n_cell) * $MixScale)::BIGINT AS keep_ppm
        |  FROM counts c, tgt
        |)
        |SELECT ce.vec_id, ce.cent_id, r.keep_ppm
        |FROM cells ce JOIN r USING (cent_id)
        |WHERE ('0x' || substr(md5('cb_' || ce.vec_id), 1, 7))::BIGINT
        |        % $MixScale < r.keep_ppm
        |ORDER BY ce.vec_id""".stripMargin)
    },
    "q87_ann_incremental" ->
      // Incremental maintenance is row-identical to assigning the batch
      // within the full hierarchical pass (per-vector deterministic
      // given the trained codebook), so the oracle is the UNCHANGED
      // training + assignment prefix with probes restricted to the
      // first 10 ingestion-batch ids (the q63 4/5 split over e).
      materializeCtes(ivfHierCellsCte + annProbeRankSuffixWhere(
        " AND vec_id >= (SELECT (count(*) * 4) // 5 FROM e)" +
          " AND vec_id < (SELECT (count(*) * 4) // 5 FROM e) + 10")),
    "q89_hard_negatives" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv, label AS ql FROM e WHERE vec_id < 10),
        |pairs AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |         list_dot_product(q.qv, e.v) /
        |         (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cosine_raw
        |  FROM q JOIN e ON e.vec_id <> q.query_id AND e.label <> q.ql
        |),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cosine_raw,
        |         row_number() OVER (PARTITION BY query_id ORDER BY cosine_raw DESC, neighbor_id ASC) AS rnk
        |  FROM pairs
        |)
        |SELECT query_id, neighbor_id, rnk::INT AS "rank", round(cosine_raw, 6) AS cosine
        |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    "q90_chunk_passages" -> {
      import graft.operators.TextAnalysis.{ChunkStride, ChunkTokens}
      s"""WITH t AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\r]+') AS w FROM documents
        |),
        |c AS (
        |  SELECT doc_id, s.i AS chunk_no, (s.i * $ChunkStride)::INT AS tok_start,
        |         w[s.i * $ChunkStride + 1 : s.i * $ChunkStride + $ChunkTokens] AS ck
        |  FROM t, unnest(range(0, (len(w) + ${ChunkStride - 1}) // $ChunkStride)) s(i)
        |)
        |SELECT doc_id, chunk_no::INT AS chunk_no, tok_start,
        |       len(ck)::INT AS n_tokens, array_to_string(ck, ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_no""".stripMargin
    },
    "q91_cluster_keywords" -> {
      import graft.operators.Pipeline.KeywordsPerCluster
      materializeCtes(ivfHierCellsCte + s""",
        |toks AS (
        |  SELECT c.cent_id, u.token
        |  FROM cells c JOIN documents d ON d.doc_id = c.vec_id,
        |       unnest(regexp_extract_all(lower(d.text), '[a-z]+')) u(token)
        |),
        |tf AS (SELECT cent_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
        |idf AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |nc AS (SELECT count(DISTINCT cent_id) AS ncells FROM cells),
        |sc AS (
        |  SELECT f.cent_id, f.token,
        |         f.tf * ((SELECT ncells FROM nc) + 1.0) / (i.df + 1.0) AS score
        |  FROM tf f JOIN idf i USING (token)
        |),
        |rankedk AS (
        |  SELECT cent_id, token, score,
        |         row_number() OVER (PARTITION BY cent_id ORDER BY score DESC, token ASC) AS rnk
        |  FROM sc
        |)
        |SELECT cent_id, rnk::INT AS "rank", token, round(score, 6) AS score
        |FROM rankedk WHERE rnk <= $KeywordsPerCluster ORDER BY cent_id, rnk""".stripMargin)
    },
    "q92_knn_label" -> {
      import graft.operators.Similarity.KnnLabelK
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv, label AS tl FROM e
        |      WHERE vec_id % 10 = 0 AND vec_id < 100),
        |pairs AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS nl,
        |         list_dot_product(q.qv, e.v) /
        |         (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cosine_raw
        |  FROM q JOIN e ON e.vec_id % 10 <> 0
        |),
        |rankedn AS (
        |  SELECT query_id, nl,
        |         row_number() OVER (PARTITION BY query_id ORDER BY cosine_raw DESC, neighbor_id ASC) AS rnk
        |  FROM pairs
        |),
        |votes AS (
        |  SELECT query_id, nl, count(*)::BIGINT AS votes
        |  FROM rankedn WHERE rnk <= $KnnLabelK GROUP BY 1, 2
        |),
        |pick AS (
        |  SELECT query_id, nl, votes,
        |         row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, nl ASC) AS vr
        |  FROM votes
        |)
        |SELECT p.query_id AS vec_id, p.nl::INT AS pred_label, q.tl::INT AS true_label,
        |       p.votes, (CASE WHEN p.nl = q.tl THEN 1 ELSE 0 END)::INT AS correct
        |FROM pick p JOIN q ON q.query_id = p.query_id
        |WHERE p.vr = 1 ORDER BY vec_id""".stripMargin
    },
    "q93_mmr_rerank" -> {
      import graft.operators.Similarity.{MmrK, MmrLambda, MmrPenalty, MmrPool, MmrQueries}
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $MmrQueries),
        |pairs AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |         list_dot_product(q.qv, e.v) /
        |         (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cosine_raw
        |  FROM q JOIN e ON e.vec_id <> q.query_id
        |),
        |pool AS (
        |  SELECT query_id, neighbor_id, round(cosine_raw, 6) AS cos6 FROM (
        |    SELECT query_id, neighbor_id, cosine_raw,
        |           row_number() OVER (PARTITION BY query_id ORDER BY cosine_raw DESC, neighbor_id ASC) AS rnk
        |    FROM pairs) WHERE rnk <= $MmrPool
        |),
        |psim AS (
        |  SELECT a.query_id, a.neighbor_id AS na, b.neighbor_id AS nb,
        |         round(list_dot_product(ea.v, eb.v) /
        |               (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 6) AS ps
        |  FROM pool a JOIN pool b ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
        |       JOIN e ea ON ea.vec_id = a.neighbor_id JOIN e eb ON eb.vec_id = b.neighbor_id
        |),
        |s1 AS (
        |  SELECT query_id, neighbor_id, 1 AS mmr_rank, $MmrLambda * cos6 AS score_raw
        |  FROM pool QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos6 DESC, neighbor_id ASC) = 1
        |),
        |c2 AS (
        |  SELECT p.query_id, p.neighbor_id,
        |         $MmrLambda * p.cos6 - $MmrPenalty * max(ps.ps) AS score_raw
        |  FROM pool p
        |       JOIN s1 ON s1.query_id = p.query_id AND p.neighbor_id <> s1.neighbor_id
        |       JOIN psim ps ON ps.query_id = p.query_id AND ps.na = p.neighbor_id
        |                   AND ps.nb = s1.neighbor_id
        |  GROUP BY p.query_id, p.neighbor_id, p.cos6
        |),
        |s2 AS (
        |  SELECT query_id, neighbor_id, 2 AS mmr_rank, score_raw
        |  FROM c2 QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score_raw DESC, neighbor_id ASC) = 1
        |),
        |sel12 AS (
        |  SELECT query_id, neighbor_id FROM s1 UNION ALL SELECT query_id, neighbor_id FROM s2
        |),
        |c3 AS (
        |  SELECT p.query_id, p.neighbor_id,
        |         $MmrLambda * p.cos6 - $MmrPenalty * max(ps.ps) AS score_raw
        |  FROM pool p
        |       JOIN psim ps ON ps.query_id = p.query_id AND ps.na = p.neighbor_id
        |       JOIN sel12 s ON s.query_id = ps.query_id AND s.neighbor_id = ps.nb
        |  WHERE NOT EXISTS (SELECT 1 FROM sel12 x
        |                    WHERE x.query_id = p.query_id AND x.neighbor_id = p.neighbor_id)
        |  GROUP BY p.query_id, p.neighbor_id, p.cos6
        |),
        |s3 AS (
        |  SELECT query_id, neighbor_id, 3 AS mmr_rank, score_raw
        |  FROM c3 QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score_raw DESC, neighbor_id ASC) = 1
        |),
        |allsel AS (
        |  SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
        |)
        |SELECT query_id, mmr_rank::INT AS mmr_rank, neighbor_id,
        |       floor(score_raw * 1000000.0 + 0.5) / 1000000.0 AS score
        |FROM allsel ORDER BY query_id, mmr_rank""".stripMargin
    },
    // q94: session_window semantics — a gap of EXACTLY the 30-minute
    // threshold starts a NEW session (half-open [ts, ts+gap) windows),
    // so the split rule is >=, unlike q25's lag rule (>). See
    // EventStream.sessionizeStreamed.
    "q94_stream_session_exec" ->
      """WITH o AS (
        |  SELECT user_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) >= 1800000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |),
        |s AS (
        |  SELECT user_id, ts,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                          ROWS UNBOUNDED PRECEDING)::BIGINT AS session_no
        |  FROM o
        |)
        |SELECT user_id, session_no, count(*) AS n_events,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
        |FROM s GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin,
    "q95_cell_drift" -> {
      import graft.operators.Pipeline.DriftBound
      materializeCtes(ivfHierCellsCte + s""",
        |halfp AS (SELECT count(*) // 2 AS half FROM e),
        |counts AS (
        |  SELECT cent_id,
        |         sum(CASE WHEN vec_id < (SELECT half FROM halfp) THEN 1 ELSE 0 END)::BIGINT AS n_old,
        |         sum(CASE WHEN vec_id >= (SELECT half FROM halfp) THEN 1 ELSE 0 END)::BIGINT AS n_new
        |  FROM cells GROUP BY cent_id
        |),
        |tots AS (SELECT sum(n_old)::BIGINT AS tot_old, sum(n_new)::BIGINT AS tot_new FROM counts),
        |ratios AS (
        |  SELECT c.cent_id, c.n_old, c.n_new,
        |         round(((c.n_new + 1)::DOUBLE * (t.tot_old + 1)::DOUBLE) /
        |               ((c.n_old + 1)::DOUBLE * (t.tot_new + 1)::DOUBLE), 6) AS drift_ratio
        |  FROM counts c, tots t
        |)
        |SELECT cent_id, n_old, n_new, drift_ratio,
        |       (CASE WHEN drift_ratio < ${1.0 / DriftBound} OR drift_ratio > $DriftBound
        |             THEN 1 ELSE 0 END)::INT AS drifted
        |FROM ratios ORDER BY cent_id""".stripMargin)
    },
    "q96_phrase_search" -> {
      import graft.operators.Indexing.{PhraseQueries, PhraseTopK}
      val values = PhraseQueries.map { p =>
        val Array(a, b) = p.split(" ", 2)
        s"('$p', '$a', '$b')"
      }.mkString(", ")
      s"""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w FROM documents),
        |tok AS (SELECT doc_id, i AS pos, w[i] AS term
        |        FROM t, unnest(range(1, len(w) + 1)) s(i)),
        |q(phrase, w1, w2) AS (VALUES $values),
        |hits AS (
        |  SELECT q.phrase, a.doc_id, count(*)::BIGINT AS n_hits
        |  FROM q
        |  JOIN tok a ON a.term = q.w1
        |  JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.term = q.w2
        |  GROUP BY 1, 2
        |),
        |ranked AS (
        |  SELECT phrase, doc_id, n_hits,
        |         row_number() OVER (PARTITION BY phrase ORDER BY n_hits DESC, doc_id ASC) AS rnk
        |  FROM hits
        |)
        |SELECT phrase, rnk::INT AS "rank", doc_id, n_hits
        |FROM ranked WHERE rnk <= $PhraseTopK ORDER BY phrase, rnk""".stripMargin
    },
    "q97_bpe_merges" -> {
      import graft.operators.TextAnalysis.BpeTopK
      s"""WITH w AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents),
        |wc AS (SELECT w, count(*) AS n FROM w GROUP BY 1),
        |p AS (SELECT substr(w, i, 2) AS pair, n
        |      FROM wc, unnest(range(1, length(w))) t(i)
        |      WHERE length(w) >= 2)
        |SELECT pair, sum(n)::BIGINT AS freq FROM p GROUP BY 1
        |ORDER BY freq DESC, pair ASC LIMIT $BpeTopK""".stripMargin
    },
    "q98_ngram_novelty" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, w[i] || '_' || w[i+1] || '_' || w[i+2] AS g
        |  FROM (SELECT doc_id, regexp_extract_all(text, '[^ \t\n\r]+') AS w FROM documents),
        |       unnest(range(1, len(w) - 1)) t(i)
        |),
        |f AS (SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY 1)
        |SELECT s.doc_id, count(*)::BIGINT AS n_shingles,
        |       sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_new,
        |       floor(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)::DOUBLE
        |             / count(*)::DOUBLE * 1000000.0 + 0.5) / 1000000.0 AS novelty
        |FROM sh s JOIN f USING (g) GROUP BY s.doc_id ORDER BY doc_id""".stripMargin,
    "q99_split_assign" -> {
      import graft.operators.Sampling.{TrainPerMille, ValPerMille}
      s"""WITH a AS (
        |  SELECT lang,
        |         CASE WHEN ('0x' || substr(md5('spl_' || doc_id), 1, 7))::BIGINT % 1000 < $TrainPerMille THEN 'train'
        |              WHEN ('0x' || substr(md5('spl_' || doc_id), 1, 7))::BIGINT % 1000 < $ValPerMille THEN 'val'
        |              ELSE 'test' END AS split
        |  FROM documents
        |),
        |ps AS (SELECT lang, split, count(*)::BIGINT AS n_docs FROM a GROUP BY 1, 2),
        |pl AS (SELECT lang, sum(n_docs)::BIGINT AS n_lang FROM ps GROUP BY 1)
        |SELECT ps.lang, ps.split, ps.n_docs,
        |       floor(ps.n_docs::DOUBLE / pl.n_lang::DOUBLE * 1000000.0 + 0.5) / 1000000.0 AS share
        |FROM ps JOIN pl USING (lang) ORDER BY lang, split""".stripMargin
    },
    "q100_corpus_overlap" ->
      """WITH halfp AS (SELECT count(*) // 2 AS half FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, w[i] || '_' || w[i+1] || '_' || w[i+2] AS g
        |  FROM (SELECT doc_id, regexp_extract_all(text, '[^ \t\n\r]+') AS w FROM documents),
        |       unnest(range(1, len(w) - 1)) t(i)
        |),
        |bits AS (
        |  SELECT g,
        |         max(CASE WHEN doc_id < (SELECT half FROM halfp) THEN 1 ELSE 0 END)::BIGINT AS in_old,
        |         max(CASE WHEN doc_id >= (SELECT half FROM halfp) THEN 1 ELSE 0 END)::BIGINT AS in_new
        |  FROM sh GROUP BY 1
        |)
        |SELECT sum(in_old)::BIGINT AS n_old, sum(in_new)::BIGINT AS n_new,
        |       sum(in_old * in_new)::BIGINT AS n_common,
        |       floor(sum(in_old * in_new)::DOUBLE /
        |             (sum(in_old) + sum(in_new) - sum(in_old * in_new))::DOUBLE
        |             * 1000000.0 + 0.5) / 1000000.0 AS jaccard,
        |       floor(sum(in_old * in_new)::DOUBLE / sum(in_new)::DOUBLE
        |             * 1000000.0 + 0.5) / 1000000.0 AS containment_new
        |FROM bits""".stripMargin,
    "q101_event_paths" -> {
      import graft.operators.Relational.PathTopK
      sessionCte + s""",
        |p AS (
        |  SELECT event_type || '>' || lead(event_type, 1) OVER w2
        |           || '>' || lead(event_type, 2) OVER w2 AS path,
        |         lead(event_type, 2) OVER w2 AS e3
        |  FROM s
        |  WINDOW w2 AS (PARTITION BY user_id, session_no ORDER BY ts, event_id)
        |)
        |SELECT path, count(*)::BIGINT AS n FROM p WHERE e3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path ASC LIMIT $PathTopK""".stripMargin
    },
    "q102_bpe_train" -> {
      import graft.operators.TextAnalysis.BpeRounds
      val sel = (1 to BpeRounds).map(r =>
        s"SELECT $r AS merge_no, px AS lhs, py AS rhs, px || py AS merged, freq::BIGINT AS freq FROM r$r")
        .mkString("\nUNION ALL ")
      s"""$bpeTrainCte
         |$sel
         |ORDER BY merge_no""".stripMargin
    },
    "q107_bpe_encode" -> {
      // Same training chain, then encode the per-(lang, word) vocabulary
      // through the 5 merges (nested list_reduce folds ≡ the engine's
      // chained aggregate folds) and roll fertility up per language.
      import graft.operators.TextAnalysis.BpeRounds
      val folded = (1 to BpeRounds).foldLeft(
        "rtrim(regexp_replace(w, '(.)', '\\1 ', 'g'))") { (s, r) =>
        s"ltrim(list_reduce(list_prepend('', string_split($s, ' ')), (acc, t) -> " +
          s"CASE WHEN t = r$r.py AND ends_with(acc, ' ' || r$r.px) " +
          s"THEN left(acc, length(acc) - length(r$r.px)) || r$r.px || r$r.py " +
          s"ELSE acc || ' ' || t END))"
      }
      val crossRs = (1 to BpeRounds).map(r => s"r$r").mkString(", ")
      s"""$bpeTrainCte,
         |wl AS MATERIALIZED (
         |  SELECT lang, w, count(*) AS n
         |  FROM (SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents)
         |  GROUP BY 1, 2),
         |enc AS (SELECT lang, w, n, $folded AS s FROM wl, $crossRs)
         |SELECT lang, sum(n)::BIGINT AS n_words,
         |       sum(n * length(w))::BIGINT AS n_chars,
         |       sum(n * len(string_split(s, ' ')))::BIGINT AS n_tokens,
         |       floor(sum(n * len(string_split(s, ' ')))::DOUBLE / sum(n)::DOUBLE
         |             * 1000000.0 + 0.5) / 1000000.0 AS tokens_per_word,
         |       floor(sum(n * length(w))::DOUBLE
         |             / sum(n * len(string_split(s, ' ')))::DOUBLE
         |             * 1000000.0 + 0.5) / 1000000.0 AS chars_per_token
         |FROM enc GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q103_zorder_layout" -> {
      import graft.operators.Layout.{ProbeHi, ProbeLo, ZCells, ZFiles}
      val morton = (0 until 8).map { i =>
        s"((cx // ${1L << i}) % 2) * ${1L << (2 * i + 1)} + ((cy // ${1L << i}) % 2) * ${1L << (2 * i)}"
      }.mkString(" + ")
      s"""WITH mm AS (SELECT min(o_custkey) AS ck_lo, max(o_custkey) AS ck_hi,
         |                   min(o_orderdate) AS d_lo, max(o_orderdate) AS d_hi FROM orders),
         |g AS (SELECT ((o_custkey - ck_lo) * $ZCells) // (ck_hi - ck_lo + 1) AS cx,
         |             (date_diff('day', d_lo, o_orderdate) * $ZCells)
         |               // (date_diff('day', d_lo, d_hi) + 1) AS cy
         |      FROM orders, mm),
         |z AS (SELECT cx, cy, $morton AS z FROM g),
         |f AS (SELECT 'zorder' AS layout, (z * $ZFiles) // ${ZCells.toLong * ZCells} AS file_id, cx, cy FROM z
         |      UNION ALL SELECT 'linear', (cx * $ZFiles) // $ZCells, cx, cy FROM z),
         |a AS (SELECT layout, file_id, count(*)::BIGINT AS n_rows,
         |             min(cx)::BIGINT AS min_cx, max(cx)::BIGINT AS max_cx,
         |             min(cy)::BIGINT AS min_cy, max(cy)::BIGINT AS max_cy
         |      FROM f GROUP BY 1, 2)
         |SELECT layout, file_id::BIGINT AS file_id, n_rows, min_cx, max_cx, min_cy, max_cy,
         |       (max_cx >= $ProbeLo AND min_cx <= $ProbeHi)::INT AS hit_ck,
         |       (max_cy >= $ProbeLo AND min_cy <= $ProbeHi)::INT AS hit_date
         |FROM a ORDER BY layout, file_id""".stripMargin
    },
    "q104_dup_triangles" -> {
      import graft.operators.Dedup.JaccardThreshold
      materializeCtes(jaccardCte + s""",
        |p AS (SELECT i AS a, j AS b FROM jac WHERE jaccard >= $JaccardThreshold),
        |deg AS (SELECT v, count(*) AS d
        |        FROM (SELECT a AS v FROM p UNION ALL SELECT b AS v FROM p) GROUP BY 1),
        |dw AS (SELECT count(*)::BIGINT AS n_nodes,
        |              coalesce(sum((d * (d - 1)) // 2), 0)::BIGINT AS n_wedges FROM deg),
        |ne AS (SELECT count(*)::BIGINT AS n_edges FROM p),
        |tr AS (SELECT count(*)::BIGINT AS n_triangles
        |       FROM p e1 JOIN p e2 ON e1.b = e2.a
        |       JOIN p e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles,
        |       CASE WHEN n_wedges = 0 THEN 0.0
        |            ELSE floor(3.0 * n_triangles / n_wedges * 1000000.0 + 0.5) / 1000000.0
        |       END AS clustering_coeff
        |FROM dw, ne, tr""".stripMargin)
    },
    "q105_merge_upsert" ->
      """WITH h AS (SELECT count(*) // 2 AS half FROM events),
        |k AS (
        |  SELECT user_id, event_type,
        |         max(CASE WHEN event_id < (SELECT half FROM h) THEN 1 ELSE 0 END) AS has_base,
        |         max(CASE WHEN event_id >= (SELECT half FROM h) THEN 1 ELSE 0 END) AS has_new,
        |         (max({'ts': ts, 'id': event_id})).id AS wid
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT event_type, count(*)::BIGINT AS n_keys,
        |       sum(CASE WHEN has_base = 0 THEN 1 ELSE 0 END)::BIGINT AS n_inserted,
        |       sum(CASE WHEN has_base = 1 AND has_new = 1
        |                 AND wid >= (SELECT half FROM h) THEN 1 ELSE 0 END)::BIGINT AS n_updated,
        |       sum(CASE WHEN has_base = 1 AND has_new = 1
        |                 AND wid < (SELECT half FROM h) THEN 1 ELSE 0 END)::BIGINT AS n_retained,
        |       sum(CASE WHEN has_new = 0 THEN 1 ELSE 0 END)::BIGINT AS n_carried
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    "q106_stream_dedup_exec" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    "q110_stream_userstats_exec" ->
      """SELECT user_id, count(*)::BIGINT AS n_events,
        |       round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q109_ivf_recall" -> {
      import graft.operators.Similarity.{BucketK, IvfNProbe}
      materializeCtes(ivfHierCellsCte + s""",
        |probes AS (SELECT vec_id, cent_id FROM asg
        |           WHERE rn <= $IvfNProbe AND vec_id < 10),
        |apairs AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |         list_dot_product(ea.v, eb.v) /
        |         (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS c
        |  FROM probes a JOIN cells b ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id
        |  JOIN e ea ON ea.vec_id = a.vec_id
        |  JOIN e eb ON eb.vec_id = b.vec_id),
        |approx AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |           row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id ASC) AS rnk
        |    FROM apairs) WHERE rnk <= $BucketK),
        |tpairs AS (
        |  SELECT ea.vec_id AS query_id, eb.vec_id AS neighbor_id,
        |         list_dot_product(ea.v, eb.v) /
        |         (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS c
        |  FROM e ea, e eb
        |  WHERE ea.vec_id < 10 AND ea.vec_id <> eb.vec_id),
        |truth AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |           row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id ASC) AS rnk
        |    FROM tpairs) WHERE rnk <= $BucketK),
        |m AS (SELECT t.query_id, count(*) AS n_match
        |      FROM truth t JOIN approx p USING (query_id, neighbor_id) GROUP BY 1)
        |SELECT q.vec_id AS query_id, $BucketK AS k,
        |       coalesce(m.n_match, 0)::BIGINT AS n_match,
        |       floor(coalesce(m.n_match, 0)::DOUBLE / ${BucketK}.0
        |             * 1000000.0 + 0.5) / 1000000.0 AS recall
        |FROM (SELECT vec_id FROM e WHERE vec_id < 10) q
        |LEFT JOIN m ON m.query_id = q.vec_id ORDER BY 1""".stripMargin)
    },
    "q108_minhash_error" -> {
      import graft.operators.Dedup.{JaccardThreshold, NumHashes}
      materializeCtes(jaccardCte + s""",
        |p AS (SELECT i AS doc_a, j AS doc_b, jaccard FROM jac WHERE jaccard >= $JaccardThreshold),
        |pd AS (SELECT DISTINCT doc_id
        |       FROM (SELECT doc_a AS doc_id FROM p UNION ALL SELECT doc_b FROM p)),
        |hs AS (SELECT s.doc_id, ('0x' || substr(md5(s.g), 1, 7))::BIGINT AS h
        |       FROM sh s JOIN pd USING (doc_id)),
        |sigs AS (SELECT doc_id, t.i,
        |                min(((2 * t.i + 1) * h + 101 * t.i + 7) % 2147483647) AS s
        |         FROM hs, unnest(range(0, $NumHashes)) t(i) GROUP BY 1, 2),
        |est AS (SELECT p.doc_a, p.doc_b, round(p.jaccard, 6) AS jaccard,
        |               sum(CASE WHEN a.s = b.s THEN 1 ELSE 0 END) AS m
        |        FROM p JOIN sigs a ON a.doc_id = p.doc_a
        |        JOIN sigs b ON b.doc_id = p.doc_b AND b.i = a.i
        |        GROUP BY 1, 2, 3)
        |SELECT doc_a, doc_b, jaccard,
        |       m / ${NumHashes}.0 AS est_jaccard,
        |       round(abs(jaccard - m / ${NumHashes}.0), 6) AS abs_err
        |FROM est ORDER BY doc_a, doc_b""".stripMargin)
    },
    "q85_ann_ivf_sq8" -> {
      import graft.operators.Similarity.{BucketK, Dims, IvfNProbe, SqLevels}
      materializeCtes(ivfHierCellsCte + s""",
        |probes AS (SELECT vec_id, cent_id FROM asg WHERE rn <= $IvfNProbe),
        |comp AS (SELECT vec_id, t.d, v[t.d + 1] AS x FROM e, unnest(range(0, $Dims)) t(d)),
        |stats AS (SELECT d, min(x) AS lo, max(x) AS hi FROM comp GROUP BY d),
        |dq AS (
        |  SELECT c.vec_id, c.d,
        |         round(s2.lo + (CASE WHEN s2.hi = s2.lo THEN 0
        |                             ELSE least(floor((c.x - s2.lo) * $SqLevels / (s2.hi - s2.lo)), ${SqLevels}.0) END)::INT
        |                       * (s2.hi - s2.lo) / $SqLevels, 6) AS dx
        |  FROM comp c JOIN stats s2 USING (d)
        |),
        |cand AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id
        |  FROM probes a JOIN cells b ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 10
        |),
        |qs AS (SELECT vec_id AS query_id, d, x AS qx FROM comp WHERE vec_id < 10),
        |dist AS (
        |  SELECT c.query_id, c.neighbor_id,
        |         round(sum((q.qx - v.dx) * (q.qx - v.dx)), 6) AS adist
        |  FROM cand c JOIN qs q ON q.query_id = c.query_id
        |  JOIN dq v ON v.vec_id = c.neighbor_id AND v.d = q.d
        |  GROUP BY 1, 2
        |),
        |ranked AS (
        |  SELECT query_id, neighbor_id, adist,
        |         row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC) AS rnk
        |  FROM dist
        |)
        |SELECT query_id, neighbor_id, rnk::INT AS "rank", adist AS approx_dist
        |FROM ranked WHERE rnk <= $BucketK ORDER BY query_id, rnk""".stripMargin)
    },
    "q84_ann_sq8" -> {
      import graft.operators.Similarity.{BucketK, Dims, SqLevels}
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |comp AS (SELECT vec_id, t.d, v[t.d + 1] AS x FROM e, unnest(range(0, $Dims)) t(d)),
        |stats AS (SELECT d, min(x) AS lo, max(x) AS hi FROM comp GROUP BY d),
        |dq AS (
        |  SELECT c.vec_id, c.d,
        |         round(s.lo + (CASE WHEN s.hi = s.lo THEN 0
        |                            ELSE least(floor((c.x - s.lo) * $SqLevels / (s.hi - s.lo)), ${SqLevels}.0) END)::INT
        |                      * (s.hi - s.lo) / $SqLevels, 6) AS dx
        |  FROM comp c JOIN stats s USING (d)
        |),
        |qs AS (SELECT vec_id AS query_id, d, x AS qx FROM comp WHERE vec_id < 10),
        |dist AS (
        |  SELECT q.query_id, v.vec_id, round(sum((q.qx - v.dx) * (q.qx - v.dx)), 6) AS adist
        |  FROM qs q JOIN dq v ON v.d = q.d AND v.vec_id <> q.query_id
        |  GROUP BY 1, 2
        |),
        |ranked AS (
        |  SELECT query_id, vec_id AS neighbor_id, adist,
        |         row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, vec_id ASC) AS rnk
        |  FROM dist
        |)
        |SELECT query_id, neighbor_id, rnk::INT AS "rank", adist AS approx_dist
        |FROM ranked WHERE rnk <= $BucketK ORDER BY query_id, rnk""".stripMargin
    },
    "q77_json_props" ->
      """WITH ev AS (
        |  SELECT event_type,
        |         CASE WHEN regexp_matches(json_extract_string(props, '$.k'), '^-?[0-9]+$')
        |              THEN TRY_CAST(json_extract_string(props, '$.k') AS INT) END AS k
        |  FROM events
        |)
        |SELECT event_type, count(*) AS n_events,
        |       sum(k)::BIGINT AS sum_k, min(k) AS min_k, max(k) AS max_k,
        |       count(DISTINCT k) AS n_distinct_k
        |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q78_promo_revenue" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |       round(sum(CASE WHEN p_type = 'PROMO'
        |                      THEN l_extendedprice * (1.0 - l_discount)
        |                      ELSE 0.0 END), 2) AS promo_revenue,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS total_revenue,
        |       round(100.0 * sum(CASE WHEN p_type = 'PROMO'
        |                              THEN l_extendedprice * (1.0 - l_discount)
        |                              ELSE 0.0 END)
        |             / sum(l_extendedprice * (1.0 - l_discount)), 4) AS promo_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q79_lm_score" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
        |  FROM documents
        |),
        |c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
        |tot AS (SELECT sum(cnt)::DOUBLE AS total FROM c),
        |p AS (
        |  SELECT t.doc_id, count(*) AS n_tokens,
        |         avg(-ln(c.cnt / tot.total)) AS xent_raw
        |  FROM t JOIN c USING (tok), tot GROUP BY t.doc_id
        |)
        |SELECT d.doc_id, coalesce(p.n_tokens, 0)::BIGINT AS n_tokens,
        |       round(coalesce(p.xent_raw, 0.0), 6) AS xent
        |FROM documents d LEFT JOIN p USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "q74_binned_range_join" ->
      """WITH tiers(tier, lo, hi) AS (
        |  VALUES ('bronze', 0.0, 50.0), ('silver', 50.0, 150.0),
        |         ('gold', 150.0, 300.0), ('platinum', 300.0, NULL)
        |)
        |SELECT e.event_type, t.tier, count(*) AS n_events,
        |       round(sum(e.value), 2) AS sum_value
        |FROM events e JOIN tiers t
        |  ON e.value >= t.lo AND (t.hi IS NULL OR e.value < t.hi)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q121_rrf_fusion" -> {
      import graft.operators.Indexing.{RrfC, RrfK}
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |pairs AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |         list_dot_product(q.qv, e.v) /
        |         (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS c
        |  FROM q JOIN e ON e.vec_id <> q.query_id),
        |sem AS (
        |  SELECT query_id, neighbor_id, rnk AS sem_rank FROM (
        |    SELECT query_id, neighbor_id,
        |           row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id ASC) AS rnk
        |    FROM pairs) WHERE rnk <= $RrfK),
        |tok AS (SELECT DISTINCT doc_id, term FROM (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
        |  FROM documents)),
        |sz AS (SELECT doc_id, count(*)::BIGINT AS n FROM tok GROUP BY 1),
        |qt AS (SELECT doc_id AS query_id, term FROM tok WHERE doc_id < 10),
        |inter AS (
        |  SELECT qt.query_id, t.doc_id AS neighbor_id, count(*)::BIGINT AS ni
        |  FROM qt JOIN tok t USING (term)
        |  WHERE t.doc_id <> qt.query_id GROUP BY 1, 2),
        |jac AS (
        |  SELECT i.query_id, i.neighbor_id,
        |         i.ni::DOUBLE / (sq.n + sn.n - i.ni)::DOUBLE AS j
        |  FROM inter i JOIN sz sq ON sq.doc_id = i.query_id
        |  JOIN sz sn ON sn.doc_id = i.neighbor_id),
        |lex AS (
        |  SELECT query_id, neighbor_id, rnk AS lex_rank FROM (
        |    SELECT query_id, neighbor_id,
        |           row_number() OVER (PARTITION BY query_id ORDER BY j DESC, neighbor_id ASC) AS rnk
        |    FROM jac) WHERE rnk <= $RrfK),
        |fuse AS (
        |  SELECT coalesce(s.query_id, l.query_id) AS query_id,
        |         coalesce(s.neighbor_id, l.neighbor_id) AS neighbor_id,
        |         s.sem_rank::INT AS sem_rank, l.lex_rank::INT AS lex_rank,
        |         coalesce(1.0::DOUBLE / ($RrfC + s.sem_rank)::DOUBLE, 0.0::DOUBLE)
        |           + coalesce(1.0::DOUBLE / ($RrfC + l.lex_rank)::DOUBLE, 0.0::DOUBLE) AS rrf
        |  FROM sem s FULL OUTER JOIN lex l
        |    ON s.query_id = l.query_id AND s.neighbor_id = l.neighbor_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sem_rank, lex_rank, rrf,
        |         row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, neighbor_id ASC) AS rnk
        |  FROM fuse)
        |SELECT query_id, neighbor_id, rnk::INT AS fused_rank, sem_rank, lex_rank,
        |       floor(rrf * 1000000.0 + 0.5) / 1000000.0 AS rrf
        |FROM ranked WHERE rnk <= $RrfK ORDER BY query_id, fused_rank""".stripMargin
    },
    "q122_ann_ndcg" -> {
      import graft.operators.Similarity.{BucketK, IvfNProbe}
      val idcg12 = (1 to BucketK).map(i => (BucketK + 1 - i) * (12 / (i + 1))).sum
      materializeCtes(ivfHierCellsCte + s""",
        |probes AS (SELECT vec_id, cent_id FROM asg
        |           WHERE rn <= $IvfNProbe AND vec_id < 10),
        |apairs AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |         list_dot_product(ea.v, eb.v) /
        |         (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS c
        |  FROM probes a JOIN cells b ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id
        |  JOIN e ea ON ea.vec_id = a.vec_id
        |  JOIN e eb ON eb.vec_id = b.vec_id),
        |approx AS (
        |  SELECT query_id, neighbor_id, rnk FROM (
        |    SELECT query_id, neighbor_id,
        |           row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id ASC) AS rnk
        |    FROM apairs) WHERE rnk <= $BucketK),
        |tpairs AS (
        |  SELECT ea.vec_id AS query_id, eb.vec_id AS neighbor_id,
        |         list_dot_product(ea.v, eb.v) /
        |         (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS c
        |  FROM e ea, e eb
        |  WHERE ea.vec_id < 10 AND ea.vec_id <> eb.vec_id),
        |truth AS (
        |  SELECT query_id, neighbor_id, ($BucketK + 1 - rnk) AS rel FROM (
        |    SELECT query_id, neighbor_id,
        |           row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id ASC) AS rnk
        |    FROM tpairs) WHERE rnk <= $BucketK),
        |g AS (
        |  SELECT a.query_id,
        |         coalesce(t.rel, 0) * (CASE a.rnk WHEN 1 THEN 6 WHEN 2 THEN 4 WHEN 3 THEN 3 END) AS g12,
        |         CASE WHEN t.rel IS NOT NULL THEN 1 ELSE 0 END AS hit
        |  FROM approx a LEFT JOIN truth t USING (query_id, neighbor_id)),
        |agg AS (SELECT query_id, sum(g12)::BIGINT AS dcg12,
        |               sum(hit)::BIGINT AS n_hits FROM g GROUP BY 1)
        |SELECT q.vec_id AS query_id, $BucketK AS k,
        |       coalesce(agg.n_hits, 0)::BIGINT AS n_hits,
        |       coalesce(agg.dcg12, 0)::BIGINT AS dcg12,
        |       floor(coalesce(agg.dcg12, 0)::DOUBLE / $idcg12.0
        |             * 1000000.0 + 0.5) / 1000000.0 AS ndcg
        |FROM (SELECT vec_id FROM e WHERE vec_id < 10) q
        |LEFT JOIN agg ON agg.query_id = q.vec_id ORDER BY 1""".stripMargin)
    },
    "q123_scd2" ->
      """WITH ev AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_state
        |  FROM events),
        |chg AS (
        |  SELECT user_id, ts, event_id, event_type FROM ev
        |  WHERE prev_state IS NULL OR prev_state <> event_type),
        |v AS (
        |  SELECT user_id, event_type AS state,
        |         row_number() OVER w AS version,
        |         epoch_us(ts) AS valid_from_us,
        |         epoch_us(lead(ts) OVER w) AS valid_to_us
        |  FROM chg WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, state, version::INT AS version, valid_from_us, valid_to_us,
        |       (valid_to_us IS NULL) AS is_current
        |FROM v ORDER BY user_id, version""".stripMargin,
    "q124_session_incidents" -> {
      import graft.operators.Relational.{AnomalyZ, RetentionEpochMs, WeekMs}
      anomalyZCte + s""",
        |anom AS (
        |  SELECT event_type AS anomaly_type, wk FROM zz
        |  WHERE z IS NOT NULL AND abs(z) >= $AnomalyZ),
        |o AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |),
        |sess AS (
        |  SELECT user_id,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                          ROWS UNBOUNDED PRECEDING)::BIGINT AS session_no,
        |         ts
        |  FROM o
        |),
        |siv AS (
        |  SELECT user_id, session_no, min(ts) AS s_start, max(ts) AS s_end,
        |         count(*)::BIGINT AS n_events
        |  FROM sess GROUP BY 1, 2),
        |sw AS (
        |  SELECT user_id, session_no, s_start, s_end, n_events,
        |         unnest(range(
        |           floor((epoch_ms(s_start) - $RetentionEpochMs)::DOUBLE / $WeekMs.0)::INT,
        |           floor((epoch_ms(s_end) - $RetentionEpochMs)::DOUBLE / $WeekMs.0)::INT + 1))::INT AS wk
        |  FROM siv)
        |SELECT sw.user_id, sw.session_no,
        |       epoch_us(sw.s_start) AS session_start_us,
        |       epoch_us(sw.s_end) AS session_end_us,
        |       sw.n_events, sw.wk, a.anomaly_type
        |FROM sw JOIN anom a USING (wk)
        |ORDER BY user_id, session_no, wk, anomaly_type""".stripMargin
    },
    "q125_interpolate" -> {
      import graft.operators.Relational.{HourMs, RetentionEpochMs}
      s"""WITH hourly AS (
        |  SELECT event_type,
        |         floor((epoch_ms(ts) - $RetentionEpochMs)::DOUBLE / $HourMs.0)::BIGINT AS hr,
        |         count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT event_type, unnest(range(mn, mx + 1)) AS hr
        |  FROM (SELECT event_type, min(hr) AS mn, max(hr) AS mx FROM hourly GROUP BY 1)),
        |dense AS (
        |  SELECT s.event_type, s.hr, h.n,
        |         last_value(h.n IGNORE NULLS) OVER pw AS pv,
        |         last_value(CASE WHEN h.n IS NOT NULL THEN s.hr END IGNORE NULLS) OVER pw AS ph,
        |         first_value(h.n IGNORE NULLS) OVER nw AS nv,
        |         first_value(CASE WHEN h.n IS NOT NULL THEN s.hr END IGNORE NULLS) OVER nw AS nh
        |  FROM spine s LEFT JOIN hourly h USING (event_type, hr)
        |  WINDOW pw AS (PARTITION BY s.event_type ORDER BY s.hr
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         nw AS (PARTITION BY s.event_type ORDER BY s.hr
        |                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT event_type, hr, n AS n_obs,
        |       floor(CASE WHEN n IS NOT NULL THEN n::DOUBLE
        |                  ELSE pv::DOUBLE + (nv - pv)::DOUBLE
        |                       * ((hr - ph)::DOUBLE / (nh - ph)::DOUBLE) END
        |             * 1000000.0 + 0.5) / 1000000.0 AS filled,
        |       (n IS NULL) AS is_interpolated
        |FROM dense ORDER BY event_type, hr""".stripMargin
    },
    "q126_cooccurrence" -> {
      import graft.operators.Graph.{CoocTopK, MaxBasketItems}
      s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |capped AS (
        |  SELECT l_orderkey, l_partkey FROM (
        |    SELECT l_orderkey, l_partkey,
        |           row_number() OVER (PARTITION BY l_orderkey ORDER BY
        |             ('0x' || substr(md5('bk_' || l_orderkey || '_' || l_partkey), 1, 7))::BIGINT,
        |             l_partkey) AS rn
        |    FROM items) WHERE rn <= $MaxBasketItems),
        |pairs AS (
        |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*)::BIGINT AS n_ab
        |  FROM capped a JOIN capped b USING (l_orderkey)
        |  WHERE a.l_partkey < b.l_partkey GROUP BY 1, 2),
        |supp AS (SELECT l_partkey, count(*)::BIGINT AS n FROM capped GROUP BY 1),
        |nb AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n_baskets FROM capped)
        |SELECT p.part_a, p.part_b, p.n_ab, sa.n AS n_a, sb.n AS n_b,
        |       floor((p.n_ab * nb.n_baskets)::DOUBLE / (sa.n * sb.n)::DOUBLE
        |             * 1000000.0 + 0.5) / 1000000.0 AS lift,
        |       floor(p.n_ab::DOUBLE / (sa.n + sb.n - p.n_ab)::DOUBLE
        |             * 1000000.0 + 0.5) / 1000000.0 AS jaccard
        |FROM pairs p
        |JOIN supp sa ON sa.l_partkey = p.part_a
        |JOIN supp sb ON sb.l_partkey = p.part_b
        |CROSS JOIN nb
        |ORDER BY p.n_ab DESC, p.part_a, p.part_b LIMIT $CoocTopK""".stripMargin
    },
    "q127_cluster_inertia" ->
      materializeCtes(ivfHierCellsCte + s""",
        |sims AS (
        |  SELECT c.cent_id,
        |         list_dot_product(e.v, f.cv) /
        |         (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(f.cv, f.cv))) AS cc
        |  FROM cells c JOIN e ON e.vec_id = c.vec_id
        |  JOIN c2 f ON f.cent_id = c.cent_id),
        |per AS (
        |  SELECT cent_id, count(*)::BIGINT AS n_vecs,
        |         sum(floor(cc * 1000.0)::BIGINT)::BIGINT AS sum_permille,
        |         min(cc) AS min_c
        |  FROM sims GROUP BY 1),
        |tot AS (SELECT sum(n_vecs)::BIGINT AS n_total FROM per)
        |SELECT per.cent_id, per.n_vecs,
        |       floor(per.sum_permille::DOUBLE / per.n_vecs::DOUBLE + 0.5) / 1000.0 AS mean_cohesion,
        |       floor(per.min_c * 1000000.0 + 0.5) / 1000000.0 AS min_cohesion,
        |       floor(per.n_vecs::DOUBLE / tot.n_total::DOUBLE * 1000000.0 + 0.5)
        |         / 1000000.0 AS share
        |FROM per CROSS JOIN tot ORDER BY per.cent_id""".stripMargin),
    "q128_markov_transitions" ->
      (sessionCte + """,
        |tr AS (
        |  SELECT event_type AS src, lead(event_type, 1) OVER w2 AS dst
        |  FROM s
        |  WINDOW w2 AS (PARTITION BY user_id, session_no ORDER BY ts, event_id)
        |),
        |cnt AS (SELECT src, dst, count(*)::BIGINT AS n_trans
        |        FROM tr WHERE dst IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT src, sum(n_trans)::BIGINT AS n_src FROM cnt GROUP BY 1)
        |SELECT c.src, c.dst, c.n_trans,
        |       floor(c.n_trans::DOUBLE / t.n_src::DOUBLE * 1000000.0 + 0.5)
        |         / 1000000.0 AS p
        |FROM cnt c JOIN tot t USING (src)
        |ORDER BY src, dst""".stripMargin),
    "q129_ship_priority" -> {
      import graft.operators.Relational.{ShipCutoff, ShipTopK}
      s"""SELECT o.o_orderkey, strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       o.o_orderpriority,
        |       round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS revenue
        |FROM customer c
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '$ShipCutoff'
        |  AND l.l_shipdate > TIMESTAMP '$ShipCutoff'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o.o_orderkey LIMIT $ShipTopK""".stripMargin
    },
    "q130_centroid_label" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |cells AS (
        |  SELECT label, d, v[d + 1] AS x
        |  FROM (SELECT label, v FROM e WHERE vec_id % 10 <> 0),
        |       unnest(range(0, len(v))) t(d)),
        |means AS (
        |  SELECT label, d, floor(avg(x) * 1000000.0 + 0.5) / 1000000.0 AS m
        |  FROM cells GROUP BY 1, 2),
        |cent AS (SELECT label AS clabel, list(m ORDER BY d) AS cv FROM means GROUP BY 1),
        |q AS (SELECT vec_id, label, v FROM e WHERE vec_id % 10 = 0),
        |sc AS (
        |  SELECT q.vec_id, q.label, c.clabel,
        |         list_dot_product(q.v, c.cv) /
        |         (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.cv, c.cv))) AS cc
        |  FROM q CROSS JOIN cent c),
        |rk AS (
        |  SELECT vec_id, label, clabel, cc,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, clabel ASC) AS rn
        |  FROM sc)
        |SELECT vec_id, label, clabel::INT AS predicted,
        |       floor(cc * 1000000.0 + 0.5) / 1000000.0 AS cosine,
        |       (clabel = label) AS correct
        |FROM rk WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "q131_mix_card" -> {
      import graft.operators.Pipeline.MixQualityThreshold
      "WITH RECURSIVE " +
        langIdCte.stripPrefix("WITH ") + ",\n" +
        qualityCte.stripPrefix("WITH ") + ",\n" +
        dupClustersCte.stripPrefix("WITH RECURSIVE ") + s""",
        |mix AS (
        |  SELECT p.plang AS predicted_lang,
        |         CASE WHEN q.quality_score >= $MixQualityThreshold
        |              THEN 'high' ELSE 'low' END AS quality_tier,
        |         CASE WHEN c.cluster_id = q.doc_id THEN 'keep' ELSE 'dup' END AS dup_status,
        |         q.n_tokens
        |  FROM qual q JOIN pred p USING (doc_id) JOIN clus c USING (doc_id)),
        |agg AS (
        |  SELECT predicted_lang, quality_tier, dup_status,
        |         count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS n_tokens
        |  FROM mix GROUP BY 1, 2, 3),
        |tot AS (SELECT sum(n_tokens)::DOUBLE AS tt FROM agg)
        |SELECT predicted_lang, quality_tier, dup_status, n_docs, n_tokens,
        |       floor(n_tokens::DOUBLE / tot.tt * 1000000.0 + 0.5) / 1000000.0 AS token_share
        |FROM agg CROSS JOIN tot ORDER BY 1, 2, 3""".stripMargin
    },
    "q132_pricing_summary" -> {
      import graft.operators.Relational.PricingCutoff
      s"""SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |       round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge,
        |       round(avg(l_quantity), 6) AS avg_qty,
        |       round(avg(l_extendedprice), 6) AS avg_price,
        |       round(avg(l_discount), 6) AS avg_disc,
        |       count(*)::BIGINT AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '$PricingCutoff'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "q133_dup_degrees" -> {
      import graft.operators.Dedup.JaccardThreshold
      (jaccardCte + s""",
        |p AS (SELECT i, j FROM jac WHERE jaccard >= $JaccardThreshold),
        |deg AS (
        |  SELECT doc_id, count(*)::BIGINT AS degree FROM (
        |    SELECT i AS doc_id FROM p UNION ALL SELECT j AS doc_id FROM p)
        |  GROUP BY 1),
        |hist AS (SELECT degree, count(*)::BIGINT AS n_docs FROM deg GROUP BY 1),
        |z AS (SELECT 0::BIGINT AS degree,
        |             ((SELECT count(*) FROM documents)
        |               - (SELECT count(*) FROM deg))::BIGINT AS n_docs)
        |SELECT degree, n_docs FROM hist
        |UNION ALL SELECT degree, n_docs FROM z WHERE n_docs > 0
        |ORDER BY degree""".stripMargin)
    },
    "q134_brand_skyline" ->
      """WITH pts AS (
        |  SELECT p_brand, p_retailprice AS price, p_size AS size,
        |         count(*)::BIGINT AS n_parts
        |  FROM part GROUP BY 1, 2, 3)
        |SELECT p.p_brand, p.price, p.size, p.n_parts
        |FROM pts p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pts q
        |  WHERE q.p_brand = p.p_brand
        |    AND q.price <= p.price AND q.size >= p.size
        |    AND (q.price < p.price OR q.size > p.size))
        |ORDER BY p_brand, price, size""".stripMargin,
    "q135_fuzzy_names" -> {
      import graft.operators.Dedup.FuzzyMaxDistance
      s"""WITH names AS (
        |  SELECT p_name, count(*)::BIGINT AS n_parts FROM part GROUP BY 1)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |       levenshtein(a.p_name, b.p_name)::INT AS distance,
        |       a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
        |FROM names a JOIN names b ON a.p_name < b.p_name
        |WHERE abs(length(a.p_name) - length(b.p_name)) <= $FuzzyMaxDistance
        |  AND levenshtein(a.p_name, b.p_name) <= $FuzzyMaxDistance
        |ORDER BY name_a, name_b""".stripMargin
    },
    "q136_value_cdf" -> {
      import graft.operators.Relational.CdfProbes
      // ::DOUBLE: a bare VALUES (10.0) is DECIMAL in DuckDB — both the
      // comparison and the output column must be double for parity
      val probes = CdfProbes.map(p => s"(${p}::DOUBLE)").mkString(", ")
      s"""WITH g AS (
        |  SELECT e.event_type, p.probe,
        |         sum(CASE WHEN e.value <= p.probe THEN 1 ELSE 0 END)::BIGINT AS n_le,
        |         count(*)::BIGINT AS n_total
        |  FROM events e CROSS JOIN (VALUES $probes) p(probe)
        |  GROUP BY 1, 2)
        |SELECT event_type, probe, n_le, n_total,
        |       floor(n_le::DOUBLE / n_total::DOUBLE * 1000000.0 + 0.5)
        |         / 1000000.0 AS cdf
        |FROM g ORDER BY event_type, probe""".stripMargin
    },
    "q137_local_supplier_volume" -> {
      import graft.operators.Relational.{LocalRegion, LocalYearEnd, LocalYearStart}
      s"""SELECT n.n_name, round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue
        |FROM customer c
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |JOIN region r ON r.r_regionkey = n.n_regionkey
        |WHERE r.r_name = '$LocalRegion'
        |  AND c.c_nationkey = s.s_nationkey
        |  AND o.o_orderdate >= TIMESTAMP '$LocalYearStart'
        |  AND o.o_orderdate < TIMESTAMP '$LocalYearEnd'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin
    },
    "q138_stratified_n" -> {
      import graft.operators.Sampling.StratumN
      s"""WITH d AS (
        |  SELECT lang, doc_id,
        |         ('0x' || substr(md5('strat_' || doc_id), 1, 7))::BIGINT AS draw
        |  FROM documents),
        |rk AS (
        |  SELECT lang, doc_id,
        |         row_number() OVER (PARTITION BY lang ORDER BY draw, doc_id) AS rn
        |  FROM d)
        |SELECT lang, rn::INT AS smp_rank, doc_id
        |FROM rk WHERE rn <= $StratumN ORDER BY lang, smp_rank""".stripMargin
    },
    "q139_returned_items" -> {
      import graft.operators.Relational.{ReturnedQuarterEnd, ReturnedQuarterStart, ReturnedTopK}
      s"""WITH agg AS (
        |  SELECT o.o_custkey,
        |         round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue
        |  FROM orders o
        |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderdate >= TIMESTAMP '$ReturnedQuarterStart'
        |    AND o.o_orderdate < TIMESTAMP '$ReturnedQuarterEnd'
        |    AND l.l_returnflag = 'R'
        |  GROUP BY 1)
        |SELECT c.c_custkey, c.c_name, n.n_name, a.revenue
        |FROM agg a
        |JOIN customer c ON c.c_custkey = a.o_custkey
        |JOIN nation n ON n.n_nationkey = c.c_nationkey
        |ORDER BY a.revenue DESC, c.c_custkey LIMIT $ReturnedTopK""".stripMargin
    },
    "q140_ngram_diversity" ->
      """WITH t AS (
        |  SELECT lang, regexp_extract_all(text, '[^ \t\n\r]+') AS w FROM documents),
        |uni AS (SELECT lang, unnest(w) AS tok FROM t),
        |uc AS (SELECT lang, count(*)::BIGINT AS n_tokens,
        |              count(DISTINCT tok)::BIGINT AS d1 FROM uni GROUP BY 1),
        |bi AS (
        |  SELECT lang, w[i] || '_' || w[i + 1] AS bg
        |  FROM t, unnest(range(1, len(w))) u(i)),
        |bc AS (SELECT lang, count(*)::BIGINT AS n_bigrams,
        |              count(DISTINCT bg)::BIGINT AS d2 FROM bi GROUP BY 1)
        |SELECT uc.lang, uc.n_tokens, uc.d1, bc.n_bigrams, bc.d2,
        |       floor(uc.d1::DOUBLE / uc.n_tokens::DOUBLE * 1000000.0 + 0.5)
        |         / 1000000.0 AS distinct1,
        |       floor(bc.d2::DOUBLE / bc.n_bigrams::DOUBLE * 1000000.0 + 0.5)
        |         / 1000000.0 AS distinct2
        |FROM uc JOIN bc USING (lang) ORDER BY lang""".stripMargin,
    "q141_burstiness" -> {
      import graft.operators.Relational.{HourMs, RetentionEpochMs}
      s"""WITH hourly AS (
        |  SELECT event_type,
        |         floor((epoch_ms(ts) - $RetentionEpochMs)::DOUBLE / $HourMs.0)::BIGINT AS hr,
        |         count(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2),
        |agg AS (
        |  SELECT event_type, count(*)::BIGINT AS n_hours,
        |         sum(c)::BIGINT AS s, sum(c * c)::BIGINT AS s2
        |  FROM hourly GROUP BY 1)
        |SELECT event_type, n_hours,
        |       floor(s::DOUBLE / n_hours::DOUBLE * 1000000.0 + 0.5)
        |         / 1000000.0 AS mean_per_hour,
        |       floor(((s2::DOUBLE - s::DOUBLE * s::DOUBLE / n_hours::DOUBLE)
        |                / n_hours::DOUBLE)
        |              / (s::DOUBLE / n_hours::DOUBLE)
        |             * 1000000.0 + 0.5) / 1000000.0 AS fano
        |FROM agg ORDER BY event_type""".stripMargin
    },
    "q142_priority_returns" -> {
      import graft.operators.Relational.{PriorityQuarterEnd, PriorityQuarterStart}
      s"""SELECT o.o_orderpriority, count(*)::BIGINT AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '$PriorityQuarterStart'
        |  AND o.o_orderdate < TIMESTAMP '$PriorityQuarterEnd'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q143_order_distribution" ->
      """WITH pc AS (SELECT o_custkey, count(*)::BIGINT AS n FROM orders GROUP BY 1)
        |SELECT coalesce(pc.n, 0)::BIGINT AS c_count, count(*)::BIGINT AS custdist
        |FROM customer c LEFT JOIN pc ON pc.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q144_large_orders" -> {
      import graft.operators.Relational.{LargeOrdersTopK, LargeQtyThreshold}
      s"""WITH qty AS (
        |  SELECT l_orderkey, sum(l_quantity) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > $LargeQtyThreshold)
        |SELECT c.c_custkey, c.c_name, o.o_orderkey,
        |       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       o.o_totalprice, q.total_qty
        |FROM qty q
        |JOIN orders o ON o.o_orderkey = q.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT $LargeOrdersTopK""".stripMargin
    },
    "q145_disjunctive_revenue" -> {
      import graft.operators.Relational.DisjunctiveBranches
      val branches = DisjunctiveBranches.map { case (brand, (szLo, szHi), (qLo, qHi)) =>
        s"(p.p_brand = '$brand' AND p.p_size BETWEEN $szLo AND $szHi" +
          s" AND l.l_quantity BETWEEN $qLo AND $qHi)"
      }.mkString("\n        |   OR ")
      s"""SELECT count(*)::BIGINT AS n_lines,
        |       round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE $branches""".stripMargin
    },
    "q146_idle_accounts" -> {
      import graft.operators.Relational.{IdleNationKeys, IdleSince}
      s"""WITH cohort AS (
        |  SELECT c_custkey, c_nationkey, c_acctbal FROM customer
        |  WHERE c_nationkey IN (${IdleNationKeys.mkString(", ")})),
        |ab AS (SELECT avg(c_acctbal) AS avg_bal FROM cohort WHERE c_acctbal > 0.0)
        |SELECT c.c_nationkey, count(*)::BIGINT AS numcust,
        |       round(sum(c.c_acctbal), 2) AS totacctbal
        |FROM cohort c CROSS JOIN ab
        |WHERE c.c_acctbal > ab.avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_orderdate >= TIMESTAMP '$IdleSince')
        |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q147_silhouette" ->
      materializeCtes(ivfHierCellsCte + """,
        |ranked_cc AS (
        |  SELECT w.vec_id, f.cent_id,
        |         list_dot_product(w.v, f.cv) /
        |         (sqrt(list_dot_product(w.v, w.v)) * sqrt(list_dot_product(f.cv, f.cv))) AS cc,
        |         row_number() OVER (PARTITION BY w.vec_id ORDER BY
        |           list_dot_product(w.v, f.cv) /
        |           (sqrt(list_dot_product(w.v, w.v)) * sqrt(list_dot_product(f.cv, f.cv))) DESC,
        |           f.cent_id ASC) AS rn
        |  FROM vgrp w JOIN fgrp f ON f.grp_id = w.grp_id),
        |pv AS (
        |  SELECT a.cent_id, (1.0 - a.cc) AS da, (1.0 - b.cc) AS db
        |  FROM ranked_cc a JOIN ranked_cc b ON b.vec_id = a.vec_id AND b.rn = 2
        |  WHERE a.rn = 1),
        |sv AS (
        |  SELECT cent_id,
        |         CASE WHEN greatest(da, db) < 1e-12 THEN 0.0
        |              ELSE (db - da) / greatest(da, db) END AS s
        |  FROM pv),
        |per_cell AS (
        |  SELECT cent_id, count(*)::BIGINT AS n_vecs,
        |         sum(floor(s * 1000.0)::BIGINT)::BIGINT AS sp, min(s) AS mn
        |  FROM sv GROUP BY 1)
        |SELECT cent_id, n_vecs,
        |       floor(sp::DOUBLE / n_vecs::DOUBLE + 0.5) / 1000.0 AS mean_silhouette,
        |       floor(mn * 1000000.0 + 0.5) / 1000000.0 AS min_silhouette
        |FROM per_cell ORDER BY cent_id""".stripMargin),
    "q148_vocab_growth" -> {
      import graft.operators.TextAnalysis.GrowthFractions
      val fr = GrowthFractions.map(f => s"($f::DOUBLE)").mkString(", ")
      s"""WITH t AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \\t\\n\\r]+') AS w FROM documents),
        |mx AS (SELECT max(doc_id)::BIGINT AS max_id FROM t),
        |cuts AS (
        |  SELECT f.frac, floor(mx.max_id::DOUBLE * f.frac)::BIGINT AS cut
        |  FROM (VALUES $fr) f(frac) CROSS JOIN mx),
        |tf AS (
        |  SELECT tok, min(doc_id) AS first_doc
        |  FROM (SELECT doc_id, unnest(w) AS tok FROM t) GROUP BY 1),
        |va AS (
        |  SELECT c.frac, c.cut, count(*)::BIGINT AS vocab
        |  FROM tf JOIN cuts c ON tf.first_doc <= c.cut GROUP BY 1, 2),
        |ta AS (
        |  SELECT c.frac, c.cut, sum(len(w))::BIGINT AS n_tokens
        |  FROM t JOIN cuts c ON t.doc_id <= c.cut GROUP BY 1, 2)
        |SELECT va.frac, va.cut, ta.n_tokens, va.vocab,
        |       floor(va.vocab::DOUBLE / ta.n_tokens::DOUBLE * 1000000.0 + 0.5)
        |         / 1000000.0 AS ttr
        |FROM va JOIN ta USING (frac, cut) ORDER BY frac""".stripMargin
    },
    "q149_embed_isotropy" ->
      materializeCtes("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |comp AS (SELECT vec_id, t.d, v[t.d] AS x FROM e, unnest(range(1, 65)) t(d)),
        |means AS (
        |  SELECT d, floor(avg(x) * 1000000.0 + 0.5) / 1000000.0 AS m
        |  FROM comp GROUP BY 1),
        |mv AS (SELECT list(m ORDER BY d) AS mvv FROM means),
        |nrm AS (
        |  SELECT mvv,
        |         floor(list_dot_product(mvv, mvv) * 1000000.0 + 0.5)
        |           / 1000000.0 AS mean_norm2
        |  FROM mv),
        |cs AS (
        |  SELECT n.mean_norm2,
        |         list_dot_product(e.v, n.mvv) /
        |         (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(n.mvv, n.mvv))) AS c
        |  FROM e CROSS JOIN nrm n)
        |SELECT count(*)::BIGINT AS n_vecs, mean_norm2,
        |       floor(sum(floor(c * 1000.0)::BIGINT)::DOUBLE / count(*)::DOUBLE + 0.5)
        |         / 1000.0 AS mean_cos_to_mean,
        |       floor(min(c) * 1000000.0 + 0.5) / 1000000.0 AS min_cos,
        |       floor(max(c) * 1000000.0 + 0.5) / 1000000.0 AS max_cos
        |FROM cs GROUP BY mean_norm2""".stripMargin),
    "q150_zipf_slope" -> {
      import graft.operators.TextAnalysis.ZipfTopK
      s"""WITH freq AS (
        |  SELECT lang, tok, count(*)::BIGINT AS n
        |  FROM (SELECT lang, unnest(regexp_extract_all(text, '[^ \\t\\n\\r]+')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2),
        |topn AS (
        |  SELECT lang, n,
        |         row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok ASC) AS rnk
        |  FROM freq QUALIFY rnk <= $ZipfTopK),
        |q AS (
        |  SELECT lang,
        |         floor(ln(rnk::DOUBLE) * 1000000.0 + 0.5)::BIGINT AS lx,
        |         floor(ln(n::DOUBLE) * 1000000.0 + 0.5)::BIGINT AS ly, n
        |  FROM topn),
        |agg AS (
        |  SELECT lang, count(*)::BIGINT AS n_ranks, sum(n)::BIGINT AS total_top_freq,
        |         sum(lx)::BIGINT AS sx, sum(ly)::BIGINT AS sy,
        |         sum(lx * ly)::BIGINT AS sxy, sum(lx * lx)::BIGINT AS sxx
        |  FROM q GROUP BY 1)
        |SELECT lang, n_ranks, total_top_freq,
        |       floor((n_ranks * sxy - sx * sy)::DOUBLE
        |             / (n_ranks * sxx - sx * sx)::DOUBLE * 1000000.0 + 0.5)
        |         / 1000000.0 AS zipf_slope
        |FROM agg ORDER BY lang""".stripMargin
    },
    "q151_data_quality" ->
      """WITH m AS (
        |  SELECT 'orders_pk_unique' AS "check",
        |         (count(*) - count(DISTINCT o_orderkey))::BIGINT AS metric FROM orders
        |  UNION ALL
        |  SELECT 'customer_pk_unique',
        |         (count(*) - count(DISTINCT c_custkey))::BIGINT FROM customer
        |  UNION ALL
        |  SELECT 'lineitem_orderkey_ri', count(*)::BIGINT FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |  UNION ALL
        |  SELECT 'orders_custkey_ri', count(*)::BIGINT FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |  UNION ALL
        |  SELECT 'orders_totalprice_positive',
        |         sum(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END)::BIGINT FROM orders
        |  UNION ALL
        |  SELECT 'lineitem_discount_range',
        |         sum(CASE WHEN l_discount < 0.0 OR l_discount > 1.0 THEN 1 ELSE 0 END)::BIGINT
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem_quantity_positive',
        |         sum(CASE WHEN l_quantity <= 0.0 THEN 1 ELSE 0 END)::BIGINT FROM lineitem
        |  UNION ALL
        |  SELECT 'orders_orderdate_nonnull',
        |         sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)::BIGINT FROM orders)
        |SELECT "check", metric, metric = 0 AS passed FROM m ORDER BY "check"""".stripMargin,
    "q152_source_drift" ->
      """WITH sl AS (SELECT source, lang, count(*)::BIGINT AS n_sl
        |            FROM documents GROUP BY 1, 2),
        |s AS (SELECT source, sum(n_sl)::BIGINT AS n_s FROM sl GROUP BY 1),
        |l AS (SELECT lang, sum(n_sl)::BIGINT AS n_l FROM sl GROUP BY 1),
        |tot AS (SELECT sum(n_sl)::BIGINT AS n_tot FROM sl),
        |terms AS (
        |  SELECT sl.source, s.n_s,
        |         floor((sl.n_sl::DOUBLE / s.n_s::DOUBLE)
        |               * ln((sl.n_sl * tot.n_tot)::DOUBLE / (s.n_s * l.n_l)::DOUBLE)
        |               * 1000000000.0 + 0.5)::BIGINT AS t_nano
        |  FROM sl JOIN s USING (source) JOIN l USING (lang) CROSS JOIN tot)
        |SELECT source, n_s AS n_docs, count(*)::BIGINT AS n_langs,
        |       sum(t_nano)::BIGINT::DOUBLE / 1000000000.0 AS kl
        |FROM terms GROUP BY source, n_s ORDER BY source""".stripMargin,
    "q153_vocab_coverage" -> {
      import graft.operators.TextAnalysis.CoverageDepths
      val depths = CoverageDepths.map(d => s"($d)").mkString(", ")
      s"""WITH freq AS (
        |  SELECT lang, tok, count(*)::BIGINT AS n
        |  FROM (SELECT lang, unnest(regexp_extract_all(text, '[^ \\t\\n\\r]+')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT lang, n,
        |         row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok ASC) AS rnk
        |  FROM freq),
        |totals AS (SELECT lang, sum(n)::BIGINT AS n_tokens FROM freq GROUP BY 1),
        |cov AS (
        |  SELECT r.lang, d.depth, sum(r.n)::BIGINT AS n_covered
        |  FROM ranked r JOIN (VALUES $depths) d(depth) ON r.rnk <= d.depth
        |  GROUP BY 1, 2)
        |SELECT c.lang, c.depth, c.n_covered, t.n_tokens,
        |       floor(c.n_covered::DOUBLE / t.n_tokens::DOUBLE * 1000000.0 + 0.5)
        |         / 1000000.0 AS coverage
        |FROM cov c JOIN totals t USING (lang) ORDER BY lang, depth""".stripMargin
    },
    "q154_embed_variance" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT t.d, floor(v[t.d] * 1000000.0 + 0.5)::BIGINT AS xq
        |      FROM e, unnest(range(1, 65)) t(d)),
        |per_dim AS (
        |  SELECT d, count(*)::BIGINT AS n, sum(xq)::BIGINT AS sx,
        |         sum(xq * xq)::BIGINT AS sxx
        |  FROM q GROUP BY 1),
        |pv AS (
        |  SELECT d, n,
        |         floor((sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE)
        |               / n::DOUBLE / 1000000000000.0 * 1000000000.0 + 0.5)::BIGINT
        |           AS var_nano
        |  FROM per_dim),
        |spec AS (
        |  SELECT count(*)::BIGINT AS n_dims, max(n)::BIGINT AS n_vecs,
        |         sum(var_nano)::BIGINT AS tot_nano, max(var_nano)::BIGINT AS max_nano,
        |         sum(var_nano * var_nano)::BIGINT AS sq_nano2
        |  FROM pv)
        |SELECT n_vecs, n_dims,
        |       tot_nano::DOUBLE / 1000000000.0 AS total_var,
        |       max_nano::DOUBLE / 1000000000.0 AS max_var,
        |       floor(tot_nano::DOUBLE * tot_nano::DOUBLE / sq_nano2::DOUBLE
        |             * 1000000.0 + 0.5) / 1000000.0 AS participation_ratio
        |FROM spec""".stripMargin,
    "q155_incremental_stats" -> {
      import graft.operators.DataQuality.StatsBatchDen
      s"""WITH split AS (
        |  SELECT (count(*) * ${StatsBatchDen - 1}) // $StatsBatchDen AS s FROM documents),
        |base AS (
        |  SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
        |         min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |  FROM documents, split WHERE doc_id < split.s GROUP BY 1),
        |batch AS (
        |  SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
        |         min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |  FROM documents, split WHERE doc_id >= split.s GROUP BY 1),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM batch)
        |SELECT lang, sum(n_docs)::BIGINT AS n_docs, sum(sum_chars)::BIGINT AS sum_chars,
        |       min(min_chars) AS min_chars, max(max_chars) AS max_chars,
        |       floor(sum(sum_chars)::DOUBLE / sum(n_docs)::DOUBLE * 1000000.0 + 0.5)
        |         / 1000000.0 AS mean_chars
        |FROM u GROUP BY 1 ORDER BY lang""".stripMargin
    },
    "q156_forecast_revenue" -> {
      import graft.operators.Relational.{ForecastDiscHi, ForecastDiscLo, ForecastMaxQty, ForecastYearEnd, ForecastYearStart}
      s"""SELECT count(*)::BIGINT AS n_lines,
        |       round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '$ForecastYearStart'
        |  AND l_shipdate < TIMESTAMP '$ForecastYearEnd'
        |  AND l_discount BETWEEN $ForecastDiscLo AND $ForecastDiscHi
        |  AND l_quantity < $ForecastMaxQty""".stripMargin
    },
    "q157_nation_volume" -> {
      import graft.operators.Relational.{VolumeNationA, VolumeNationB, VolumeShipEnd, VolumeShipStart}
      s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |       year(l.l_shipdate)::INT AS l_year,
        |       round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue
        |FROM lineitem l
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation sn ON sn.n_nationkey = s.s_nationkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN nation cn ON cn.n_nationkey = c.c_nationkey
        |WHERE l.l_shipdate >= TIMESTAMP '$VolumeShipStart'
        |  AND l.l_shipdate < TIMESTAMP '$VolumeShipEnd'
        |  AND ((sn.n_name = '$VolumeNationA' AND cn.n_name = '$VolumeNationB')
        |    OR (sn.n_name = '$VolumeNationB' AND cn.n_name = '$VolumeNationA'))
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
    },
    "q158_market_share" -> {
      import graft.operators.Relational.{ShareNation, ShareOrderEnd, ShareOrderStart, ShareRegion, ShareType}
      s"""WITH f AS (
        |  SELECT year(o.o_orderdate)::INT AS o_year,
        |         l.l_extendedprice * (1.0 - l.l_discount) AS rev,
        |         (ns.n_name = '$ShareNation') AS is_share
        |  FROM lineitem l
        |  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = '$ShareType'
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN nation nc ON nc.n_nationkey = c.c_nationkey
        |  JOIN region r ON r.r_regionkey = nc.n_regionkey AND r.r_name = '$ShareRegion'
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN nation ns ON ns.n_nationkey = s.s_nationkey
        |  WHERE o.o_orderdate >= TIMESTAMP '$ShareOrderStart'
        |    AND o.o_orderdate < TIMESTAMP '$ShareOrderEnd'),
        |g AS (
        |  SELECT o_year,
        |         round(sum(CASE WHEN is_share THEN rev ELSE 0.0 END), 2) AS share_rev,
        |         round(sum(rev), 2) AS total_rev
        |  FROM f GROUP BY 1)
        |SELECT o_year, share_rev, total_rev,
        |       floor(share_rev / total_rev * 1000000.0 + 0.5) / 1000000.0 AS mkt_share
        |FROM g ORDER BY o_year""".stripMargin
    },
    "q159_top_supplier_rev" -> {
      import graft.operators.Relational.{TopSuppQuarterEnd, TopSuppQuarterStart}
      s"""WITH rev AS (
        |  SELECT l_suppkey,
        |         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '$TopSuppQuarterStart'
        |    AND l_shipdate < TIMESTAMP '$TopSuppQuarterEnd'
        |  GROUP BY 1),
        |mx AS (SELECT max(total_rev) AS m FROM rev)
        |SELECT s.s_suppkey, s.s_name, r.total_rev
        |FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
        |CROSS JOIN mx WHERE r.total_rev = mx.m
        |ORDER BY s.s_suppkey""".stripMargin
    },
    "q160_small_qty_revenue" -> {
      import graft.operators.Relational.{SmallQtyBrand, SmallQtyFactor}
      s"""WITH lines AS (
        |  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |  WHERE p.p_brand = '$SmallQtyBrand'),
        |a AS (
        |  SELECT l_partkey, $SmallQtyFactor * avg(l_quantity) AS qty_threshold
        |  FROM lines GROUP BY 1)
        |SELECT count(*)::BIGINT AS n_lines,
        |       round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lines l JOIN a ON a.l_partkey = l.l_partkey
        |WHERE l.l_quantity < a.qty_threshold""".stripMargin
    },
    "q161_cell_purity" ->
      materializeCtes(ivfHierCellsCte + """,
        |cl AS (
        |  SELECT c.cent_id, em.label, count(*)::BIGINT AS c
        |  FROM cells c JOIN embeddings em ON em.vec_id = c.vec_id
        |  GROUP BY 1, 2),
        |ctot AS (SELECT cent_id, sum(c)::BIGINT AS n_vecs FROM cl GROUP BY 1),
        |cterms AS (
        |  SELECT cl.cent_id, cl.c, cl.label,
        |         floor((cl.c::DOUBLE / t.n_vecs::DOUBLE)
        |               * (0.0 - ln(cl.c::DOUBLE / t.n_vecs::DOUBLE))
        |               * 1000000000.0 + 0.5)::BIGINT AS h_nano
        |  FROM cl JOIN ctot t USING (cent_id)),
        |ctop AS (
        |  SELECT cent_id, label AS top_label, c,
        |         row_number() OVER (PARTITION BY cent_id ORDER BY c DESC, label ASC) AS rn
        |  FROM cl),
        |cent AS (
        |  SELECT cent_id, sum(h_nano)::BIGINT AS ent_nano, count(*)::BIGINT AS n_labels
        |  FROM cterms GROUP BY 1)
        |SELECT e.cent_id, t.n_vecs, e.n_labels, tp.top_label::INT AS top_label,
        |       floor(tp.c::DOUBLE / t.n_vecs::DOUBLE * 1000000.0 + 0.5)
        |         / 1000000.0 AS top_share,
        |       e.ent_nano::DOUBLE / 1000000000.0 AS entropy
        |FROM cent e JOIN ctot t USING (cent_id)
        |JOIN ctop tp ON tp.cent_id = e.cent_id AND tp.rn = 1
        |ORDER BY e.cent_id""".stripMargin),
    "q162_length_moments" ->
      """WITH agg AS (
        |  SELECT lang, count(*)::BIGINT AS n, sum(n_chars)::BIGINT AS s1,
        |         sum(n_chars * n_chars)::BIGINT AS s2,
        |         sum(n_chars * n_chars * n_chars)::BIGINT AS s3,
        |         sum(n_chars * n_chars * n_chars * n_chars)::BIGINT AS s4
        |  FROM documents GROUP BY 1),
        |m AS (
        |  SELECT lang, n,
        |         s1::DOUBLE / n::DOUBLE AS mu,
        |         s2::DOUBLE / n::DOUBLE - (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE) AS m2,
        |         s3::DOUBLE / n::DOUBLE
        |           - 3.0 * (s1::DOUBLE / n::DOUBLE) * (s2::DOUBLE / n::DOUBLE)
        |           + 2.0 * (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE) AS m3,
        |         s4::DOUBLE / n::DOUBLE
        |           - 4.0 * (s1::DOUBLE / n::DOUBLE) * (s3::DOUBLE / n::DOUBLE)
        |           + 6.0 * (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE) * (s2::DOUBLE / n::DOUBLE)
        |           - 3.0 * (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE)
        |               * (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE) AS m4
        |  FROM agg)
        |SELECT lang, n,
        |       floor(mu * 1000000.0 + 0.5) / 1000000.0 AS mean_chars,
        |       floor(sqrt(m2) * 1000000.0 + 0.5) / 1000000.0 AS std_chars,
        |       floor(m3 / (sqrt(m2) * m2) * 1000000.0 + 0.5) / 1000000.0 AS skewness,
        |       floor((m4 / (m2 * m2) - 3.0) * 1000000.0 + 0.5) / 1000000.0 AS kurtosis_excess
        |FROM m ORDER BY lang""".stripMargin,
    "q163_stream_ratelimit_exec" -> {
      import graft.streaming.EventStream.{RateCapacity, RateRefillPerSec}
      s"""WITH RECURSIVE ue AS (
        |  SELECT user_id, epoch_ms(ts) AS t, ts, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
        |  FROM events),
        |rec AS (
        |  -- seed types define the recursion's types: tokens MUST be
        |  -- ::DOUBLE or DuckDB carries the whole state in DECIMAL(2,1)
        |  SELECT user_id, 0::BIGINT AS rn, CAST(NULL AS BIGINT) AS last_ms,
        |         ${RateCapacity}::DOUBLE AS tokens, false AS admitted,
        |         CAST(NULL AS TIMESTAMP) AS ts, CAST(NULL AS VARCHAR) AS event_type,
        |         CAST(NULL AS DOUBLE) AS value
        |  FROM (SELECT DISTINCT user_id FROM ue)
        |  UNION ALL
        |  SELECT user_id, rn, last_ms,
        |         tk - CASE WHEN tk >= 1.0 THEN 1.0 ELSE 0.0 END AS tokens,
        |         tk >= 1.0 AS admitted, ts, event_type, value
        |  FROM (
        |    SELECT u.user_id, u.rn, u.t AS last_ms,
        |           least(${RateCapacity}::DOUBLE, r.tokens
        |             + CASE WHEN r.last_ms IS NULL THEN 0.0
        |                    ELSE greatest(0, u.t - r.last_ms)::DOUBLE / 1000.0
        |                         * $RateRefillPerSec END) AS tk,
        |           u.ts, u.event_type, u.value
        |    FROM rec r JOIN ue u ON u.user_id = r.user_id AND u.rn = r.rn + 1))
        |SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, event_type, value
        |FROM rec WHERE admitted ORDER BY user_id, ts""".stripMargin
    },
    "q164_json_roundtrip_agg" ->
      """SELECT source, count(*)::BIGINT AS n_docs,
        |       count(DISTINCT lang)::BIGINT AS n_langs,
        |       sum(n_chars)::BIGINT AS sum_chars,
        |       sum(length(text))::BIGINT AS sum_text_len,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM documents GROUP BY 1 ORDER BY source""".stripMargin,
    "q165_dedup_sensitivity" -> {
      import graft.operators.Dedup.{JaccardThreshold, SensitivityThresholds}
      val ths = SensitivityThresholds.map(t => s"($t::DOUBLE)").mkString(", ")
      materializeCtes(jaccardCte + s""",
        |p AS (SELECT i, j, round(jaccard, 6) AS jc FROM jac
        |      WHERE jaccard >= $JaccardThreshold),
        |ths AS (SELECT * FROM (VALUES $ths) t(th)),
        |cnt AS (SELECT t.th, count(*)::BIGINT AS n_pairs
        |        FROM p JOIN ths t ON p.jc >= t.th GROUP BY 1),
        |eps AS (SELECT th, count(DISTINCT d)::BIGINT AS n_docs FROM (
        |          SELECT t.th, p.i AS d FROM p JOIN ths t ON p.jc >= t.th
        |          UNION ALL
        |          SELECT t.th, p.j FROM p JOIN ths t ON p.jc >= t.th)
        |        GROUP BY th),
        |tot AS (SELECT count(*)::BIGINT AS n FROM documents)
        |SELECT t.th AS threshold,
        |       coalesce(c.n_pairs, 0)::BIGINT AS n_pairs,
        |       coalesce(e.n_docs, 0)::BIGINT AS n_docs_affected,
        |       floor(coalesce(e.n_docs, 0)::DOUBLE / tot.n::DOUBLE * 1000000.0 + 0.5)
        |         / 1000000.0 AS affected_share
        |FROM ths t LEFT JOIN cnt c ON c.th = t.th LEFT JOIN eps e ON e.th = t.th
        |CROSS JOIN tot ORDER BY threshold""".stripMargin)
    },
    "q166_lsh_bucket_stats" ->
      materializeCtes("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |params AS (SELECT greatest(1, ceil(log2(count(*) / 64.0)))::INT AS bits FROM e),
        |grid AS (
        |  SELECT i, d,
        |         ('0x' || substr(md5('ivf_0_' || i || '_' || d), 1, 7))::BIGINT % 2001 - 1000 AS w
        |  FROM unnest(range(0, (SELECT bits FROM params))) t2(i), unnest(range(0, 64)) t3(d)
        |),
        |dots AS (
        |  SELECT e.vec_id, g.i, sum(e.v[g.d + 1] * g.w) AS dot
        |  FROM e, grid g GROUP BY 1, 2
        |),
        |cds AS (
        |  SELECT vec_id, sum(CASE WHEN dot > 0 THEN (1 << i) ELSE 0 END) AS c
        |  FROM dots GROUP BY 1
        |),
        |sizes AS (SELECT c, count(*)::BIGINT AS s FROM cds GROUP BY 1),
        |tot AS (SELECT sum(s)::BIGINT AS n_vecs FROM sizes)
        |SELECT s AS bucket_size, count(*)::BIGINT AS n_buckets,
        |       (s * count(*))::BIGINT AS n_rows,
        |       (count(*) * (s * (s - 1) // 2))::BIGINT AS selfjoin_pairs,
        |       floor((s * count(*))::DOUBLE / any_value(tot.n_vecs)::DOUBLE
        |             * 1000000.0 + 0.5) / 1000000.0 AS row_share
        |FROM sizes CROSS JOIN tot GROUP BY s ORDER BY bucket_size""".stripMargin),
    "q167_join_skew_advisor" -> {
      import graft.operators.Relational.SkewHotFactor
      def arm(label: String, table: String, key: String): String =
        s"""  SELECT '$label' AS join_key, sa.n_keys, sa.n_rows, sa.max_freq,
          |         ha.n_hot_keys, ha.hot_rows
          |  FROM (SELECT count(*)::BIGINT AS n_keys, sum(f)::BIGINT AS n_rows,
          |               max(f)::BIGINT AS max_freq
          |        FROM (SELECT $key, count(*)::BIGINT AS f FROM $table GROUP BY 1)) sa
          |  CROSS JOIN (
          |    SELECT count(*)::BIGINT AS n_hot_keys, coalesce(sum(f), 0)::BIGINT AS hot_rows
          |    FROM (SELECT $key, count(*)::BIGINT AS f FROM $table GROUP BY 1) fa
          |    CROSS JOIN (SELECT count(*)::BIGINT AS nk, sum(ff)::BIGINT AS nr
          |                FROM (SELECT count(*)::BIGINT AS ff FROM $table GROUP BY $key)) st
          |    WHERE fa.f::DOUBLE > $SkewHotFactor * (st.nr::DOUBLE / st.nk::DOUBLE)) ha""".stripMargin
      s"""WITH u AS (
        |${arm("lineitem.l_orderkey", "lineitem", "l_orderkey")}
        |  UNION ALL
        |${arm("orders.o_custkey", "orders", "o_custkey")})
        |SELECT join_key, n_keys, n_rows, max_freq,
        |       floor(n_rows::DOUBLE / n_keys::DOUBLE * 1000000.0 + 0.5)
        |         / 1000000.0 AS mean_freq,
        |       floor(max_freq::DOUBLE * n_keys::DOUBLE / n_rows::DOUBLE
        |             * 1000000.0 + 0.5) / 1000000.0 AS skew_factor,
        |       n_hot_keys,
        |       floor(hot_rows::DOUBLE / n_rows::DOUBLE * 1000000.0 + 0.5)
        |         / 1000000.0 AS hot_row_share
        |FROM u ORDER BY join_key""".stripMargin
    },
    "q168_stream_static_exec" ->
      """WITH split AS (SELECT (count(*) * 4) // 5 AS s FROM documents),
        |ch AS (
        |  SELECT md5(text) AS h, min(doc_id) AS match_id
        |  FROM documents, split WHERE doc_id < split.s GROUP BY 1)
        |SELECT d.doc_id,
        |       CASE WHEN ch.match_id IS NOT NULL THEN 'exact' ELSE 'new' END AS status,
        |       ch.match_id
        |FROM documents d CROSS JOIN split
        |LEFT JOIN ch ON ch.h = md5(d.text)
        |WHERE d.doc_id >= split.s ORDER BY d.doc_id""".stripMargin,
    "q169_hll_merge" -> {
      import graft.operators.Sketches
      def est(src: String, alias: String) =
        s"""${alias}0 AS (
          |  SELECT count(*)::BIGINT AS v,
          |         sum(1.0 / (1::BIGINT << mj)::DOUBLE) AS s
          |  FROM $src),
          |${alias}1 AS (
          |  SELECT (0.7213/(1.0+1.079/${Sketches.HllM}.0)) * ${Sketches.HllM}.0 * ${Sketches.HllM}.0
          |           / (s + (${Sketches.HllM} - v)::DOUBLE) AS e_raw,
          |         (${Sketches.HllM} - v)::DOUBLE AS z
          |  FROM ${alias}0),
          |${alias}2 AS (
          |  SELECT CASE WHEN e_raw <= ${2.5 * Sketches.HllM} AND z > 0
          |              THEN ${Sketches.HllM}.0 * ln(${Sketches.HllM}.0 / z)
          |              ELSE e_raw END AS e FROM ${alias}1)""".stripMargin
      materializeCtes(s"""WITH toks AS (
        |  SELECT lang, unnest(regexp_extract_all(text, '[^ \\t\\n\\r]+')) AS tok
        |  FROM documents),
        |h AS (SELECT lang, tok, ('0x'||substr(md5(tok),1,15))::BIGINT AS h FROM toks),
        |perlang AS (
        |  SELECT lang, h % ${Sketches.HllM} AS reg,
        |         max(${Sketches.HllRankBits + 1} - length(ltrim(bin(h // ${Sketches.HllM}), '0'))) AS mj
        |  FROM h GROUP BY 1, 2),
        |mergedr AS (SELECT reg, max(mj) AS mj FROM perlang GROUP BY 1),
        |directr AS (
        |  SELECT h % ${Sketches.HllM} AS reg,
        |         max(${Sketches.HllRankBits + 1} - length(ltrim(bin(h // ${Sketches.HllM}), '0'))) AS mj
        |  FROM h GROUP BY 1),
        |${est("mergedr", "me")},
        |${est("directr", "de")},
        |exact AS (SELECT count(DISTINCT tok)::BIGINT AS exact_distinct FROM toks)
        |SELECT x.exact_distinct,
        |       floor(me2.e * 10000.0 + 0.5)/10000.0 AS merged_estimate,
        |       floor(de2.e * 10000.0 + 0.5)/10000.0 AS direct_estimate,
        |       floor(me2.e * 10000.0 + 0.5)/10000.0
        |         = floor(de2.e * 10000.0 + 0.5)/10000.0 AS merge_equals_rebuild,
        |       floor((floor(me2.e * 10000.0 + 0.5)/10000.0 - x.exact_distinct::DOUBLE)
        |             / x.exact_distinct::DOUBLE * 10000.0 + 0.5)/10000.0 AS rel_error
        |FROM exact x CROSS JOIN me2 CROSS JOIN de2""".stripMargin)
    },
    "q170_ann_filtered" -> {
      import graft.operators.Similarity.{BucketK, IvfNProbe}
      materializeCtes(ivfHierCellsCte + s""",
        |fprobes AS (SELECT vec_id, cent_id FROM asg
        |            WHERE rn <= $IvfNProbe AND vec_id < 10),
        |lab AS (SELECT vec_id, label FROM embeddings),
        |fpairs AS (
        |  SELECT a.vec_id AS query_id, la.label, b.vec_id AS neighbor_id,
        |         list_dot_product(ea.v, eb.v) /
        |         (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS cosine_raw
        |  FROM fprobes a JOIN cells b ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id
        |  JOIN lab la ON la.vec_id = a.vec_id
        |  JOIN lab lb ON lb.vec_id = b.vec_id AND lb.label = la.label
        |  JOIN e ea ON ea.vec_id = a.vec_id
        |  JOIN e eb ON eb.vec_id = b.vec_id),
        |franked AS (
        |  SELECT query_id, label, neighbor_id, cosine_raw,
        |         row_number() OVER (PARTITION BY query_id ORDER BY cosine_raw DESC, neighbor_id ASC) AS rnk
        |  FROM fpairs)
        |SELECT query_id, label, neighbor_id, rnk::INT AS "rank",
        |       round(cosine_raw, 6) AS cosine
        |FROM franked WHERE rnk <= $BucketK ORDER BY query_id, rnk""".stripMargin)
    },
    "q171_sparse_cosine" -> {
      import graft.operators.Indexing.SparseSimThreshold
      materializeCtes("""WITH sterms AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '[^ \t\n\r]+')) AS term
        |  FROM documents),
        |stc AS (SELECT doc_id, term, count(*)::BIGINT AS tc FROM sterms GROUP BY 1, 2),
        |sdl AS (SELECT doc_id, sum(tc)::BIGINT AS dl FROM stc GROUP BY 1),
        |sdf AS (SELECT term, count(*)::BIGINT AS df FROM stc GROUP BY 1),
        |sn AS (SELECT count(*)::DOUBLE AS nd FROM documents),
        |sw AS (
        |  SELECT t.doc_id, t.term,
        |         floor((t.tc::DOUBLE / d.dl::DOUBLE) * ln(sn.nd / f.df::DOUBLE)
        |               * 1000000.0 + 0.5)::BIGINT AS wi
        |  FROM stc t JOIN sdl d USING (doc_id) JOIN sdf f USING (term) CROSS JOIN sn),
        |stop1 AS (
        |  SELECT doc_id, term AS bterm FROM (
        |    SELECT doc_id, term,
        |           row_number() OVER (PARTITION BY doc_id ORDER BY wi DESC, term ASC) AS rn
        |    FROM sw) WHERE rn = 1),
        |scand AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM stop1 a JOIN stop1 b ON a.bterm = b.bterm AND a.doc_id < b.doc_id),
        |snrm AS (SELECT doc_id, sum(wi * wi)::BIGINT AS n2 FROM sw GROUP BY 1),
        |sdots AS (
        |  SELECT c.id_a, c.id_b, sum(wa.wi * wb.wi)::BIGINT AS dp
        |  FROM scand c
        |  JOIN sw wa ON wa.doc_id = c.id_a
        |  JOIN sw wb ON wb.doc_id = c.id_b AND wb.term = wa.term
        |  GROUP BY 1, 2)
        |SELECT s.id_a AS doc_a, s.id_b AS doc_b,
        |       floor(s.dp::DOUBLE / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE))
        |             * 1000000.0 + 0.5) / 1000000.0 AS cosine
        |FROM sdots s
        |JOIN snrm na ON na.doc_id = s.id_a
        |JOIN snrm nb ON nb.doc_id = s.id_b
        |WHERE floor(s.dp::DOUBLE / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE))
        |            * 1000000.0 + 0.5) / 1000000.0 >= """.stripMargin +
        s"$SparseSimThreshold\n        |ORDER BY doc_a, doc_b".stripMargin)
    },
    "q172_shuffle_manifest" -> {
      import graft.operators.Layout.{ShuffleSeed, ShuffleWidth}
      s"""WITH sh AS (
        |  SELECT doc_id, n_chars,
        |         ('0x'||substr(md5('$ShuffleSeed'||doc_id::VARCHAR),1,15))::BIGINT AS h
        |  FROM documents),
        |ss AS (SELECT doc_id, n_chars, h, h // $ShuffleWidth AS shard_id FROM sh),
        |sm AS (
        |  SELECT shard_id, count(*)::BIGINT AS n_docs,
        |         count(DISTINCT h)::BIGINT AS n_hashes,
        |         sum(n_chars)::BIGINT AS total_chars,
        |         min(h) AS min_h, max(h) AS max_h,
        |         min_by(doc_id, h) AS first_doc, max_by(doc_id, h) AS last_doc,
        |         sum(h % 1000000007)::BIGINT AS checksum
        |  FROM ss GROUP BY 1)
        |SELECT shard_id, n_docs, n_hashes = n_docs AS hash_unique,
        |       coalesce(sum(n_docs) OVER (ORDER BY shard_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |         AS global_offset,
        |       total_chars, min_h, max_h, first_doc, last_doc, checksum
        |FROM sm ORDER BY shard_id""".stripMargin
    },
    "q173_quantile_merge" -> {
      import graft.operators.Sketches.{QhBinW, QhBins}
      s"""WITH qd AS (
        |  SELECT source, n_chars, least(n_chars // $QhBinW, ${QhBins - 1})::BIGINT AS bin
        |  FROM documents),
        |per_source AS (SELECT source, bin, count(*)::BIGINT AS c FROM qd GROUP BY 1, 2),
        |merged AS (SELECT bin, sum(c)::BIGINT AS c FROM per_source GROUP BY 1),
        |direct AS (SELECT bin, count(*)::BIGINT AS c FROM qd GROUP BY 1),
        |bm AS (
        |  SELECT min(coalesce(m.c, -1) = coalesce(dd.c, -2)) AS bins_match
        |  FROM merged m FULL OUTER JOIN direct dd USING (bin)),
        |cum AS (
        |  SELECT bin, c, coalesce(sum(c) OVER (ORDER BY bin
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_below
        |  FROM merged),
        |nn AS (SELECT count(*)::BIGINT AS n FROM qd),
        |probes AS (
        |  SELECT p, n, ((n * num + den - 1) // den)::BIGINT AS target
        |  FROM (VALUES ('p50', 1::BIGINT, 2::BIGINT), ('p90', 9, 10), ('p99', 99, 100))
        |       pr(p, num, den)
        |  CROSS JOIN nn),
        |est AS (
        |  SELECT p, n, target,
        |         (bin * $QhBinW + ((target - cum_below) * $QhBinW) // c)::BIGINT AS est_value
        |  FROM probes JOIN cum ON cum_below < target AND cum_below + c >= target),
        |vc AS (SELECT n_chars, count(*)::BIGINT AS vc FROM qd GROUP BY 1),
        |vcum AS (
        |  SELECT n_chars, vc, coalesce(sum(vc) OVER (ORDER BY n_chars
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_below
        |  FROM vc)
        |SELECT p, n, target, est_value, n_chars::BIGINT AS exact_value,
        |       abs(est_value - n_chars)::BIGINT AS abs_err, bins_match
        |FROM est JOIN vcum ON vcum.cum_below < est.target AND vcum.cum_below + vc >= est.target
        |CROSS JOIN bm
        |ORDER BY p""".stripMargin
    },
    "q174_robust_outliers" -> {
      """WITH rx AS (
        |  SELECT lang, doc_id,
        |         len(regexp_extract_all(text, '[^ \t\n\r]+'))::BIGINT AS x
        |  FROM documents),
        |r1 AS (
        |  SELECT lang, doc_id, x,
        |         row_number() OVER (PARTITION BY lang ORDER BY x, doc_id) AS rn,
        |         count(*) OVER (PARTITION BY lang) AS n
        |  FROM rx),
        |med AS (
        |  SELECT lang, max(n)::BIGINT AS n,
        |         sum(x * ((rn = (n + 1) // 2)::BIGINT + (rn = (n + 2) // 2)::BIGINT))::BIGINT AS med2
        |  FROM r1 GROUP BY 1),
        |dev AS (
        |  SELECT r.lang, r.doc_id, abs(r.x * 2 - m.med2)::BIGINT AS dev2
        |  FROM rx r JOIN med m USING (lang)),
        |d1 AS (
        |  SELECT lang, doc_id, dev2,
        |         row_number() OVER (PARTITION BY lang ORDER BY dev2, doc_id) AS rn,
        |         count(*) OVER (PARTITION BY lang) AS n
        |  FROM dev),
        |mad AS (
        |  SELECT lang,
        |         sum(dev2 * ((rn = (n + 1) // 2)::BIGINT + (rn = (n + 2) // 2)::BIGINT))::BIGINT AS mad4
        |  FROM d1 GROUP BY 1)
        |SELECT d.lang, m.n,
        |       m.med2::DOUBLE / 2.0 AS median_tokens,
        |       a.mad4::DOUBLE / 4.0 AS mad_tokens,
        |       sum((d.dev2 * 2 > a.mad4 * 3)::BIGINT)::BIGINT AS n_outliers,
        |       max(d.dev2)::DOUBLE / 2.0 AS max_abs_dev
        |FROM dev d JOIN med m USING (lang) JOIN mad a USING (lang)
        |GROUP BY 1, 2, m.med2, a.mad4
        |ORDER BY lang""".stripMargin
    },
    "q175_length_n50" -> {
      """WITH bv AS (
        |  SELECT lang, n_chars, count(*)::BIGINT AS cnt, sum(n_chars)::BIGINT AS chars
        |  FROM documents GROUP BY 1, 2),
        |cw AS (
        |  SELECT lang, n_chars, cnt,
        |         sum(chars) OVER (PARTITION BY lang ORDER BY n_chars DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum,
        |         sum(cnt) OVER (PARTITION BY lang ORDER BY n_chars DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_docs,
        |         sum(chars) OVER (PARTITION BY lang)::BIGINT AS tot,
        |         sum(cnt) OVER (PARTITION BY lang)::BIGINT AS n_docs
        |  FROM bv)
        |SELECT lang, max(n_docs)::BIGINT AS n_docs, max(tot)::BIGINT AS total_chars,
        |       max(CASE WHEN cum * 2 >= tot THEN n_chars END)::BIGINT AS n50,
        |       min(CASE WHEN cum * 2 >= tot THEN cum_docs END)::BIGINT AS n_docs_ge_n50,
        |       max(CASE WHEN cum * 10 >= tot * 9 THEN n_chars END)::BIGINT AS n90,
        |       min(CASE WHEN cum * 10 >= tot * 9 THEN cum_docs END)::BIGINT AS n_docs_ge_n90
        |FROM cw GROUP BY 1 ORDER BY lang""".stripMargin
    },
    "q176_golden_record" -> {
      import graft.operators.Dedup.FuzzyMaxDistance
      s"""WITH RECURSIVE gnames AS (
        |  SELECT p_name, count(*)::BIGINT AS n_parts FROM part GROUP BY 1),
        |gids AS (
        |  SELECT p_name, n_parts, row_number() OVER (ORDER BY p_name) AS nid
        |  FROM gnames),
        |gpairs AS (
        |  SELECT a.nid AS u, b.nid AS v
        |  FROM gids a JOIN gids b ON a.p_name < b.p_name
        |  WHERE abs(len(a.p_name) - len(b.p_name)) <= $FuzzyMaxDistance
        |    AND levenshtein(a.p_name, b.p_name) <= $FuzzyMaxDistance),
        |gedges AS (
        |  SELECT u AS src, v AS dst FROM gpairs
        |  UNION ALL SELECT v AS src, u AS dst FROM gpairs),
        |greach AS (
        |  SELECT nid AS node, nid AS root FROM gids
        |  UNION SELECT e.src AS node, r.root
        |        FROM greach r JOIN gedges e ON e.dst = r.node),
        |gclus AS (SELECT node, min(root) AS cid FROM greach GROUP BY 1),
        |glab AS (
        |  SELECT i.p_name, i.n_parts, i.nid, c.cid
        |  FROM gids i JOIN gclus c ON c.node = i.nid)
        |SELECT min(p_name) AS cluster_key, count(*)::BIGINT AS n_names,
        |       sum(n_parts)::BIGINT AS total_parts,
        |       (max(struct_pack(np := n_parts, ng := -nid, nm := p_name))).nm
        |         AS golden_name,
        |       string_agg(p_name, '|' ORDER BY p_name) AS members
        |FROM glab GROUP BY cid HAVING count(*) >= 2
        |ORDER BY cluster_key""".stripMargin
    },
    "q177_pca_power" -> {
      import graft.operators.Similarity.{PcaQ, PcaTopDims}
      materializeCtes(pcaCte + s""",
        |pr1 AS (
        |  SELECT sum(a.vi * m.mv * b.vi) AS vmv
        |  FROM pm m JOIN pvf a ON a.j = m.j JOIN pvf b ON b.j = m.k),
        |pvv AS (SELECT sum(vi * vi) AS vv FROM pvf),
        |ptr AS (SELECT sum(mv) AS tr FROM pm WHERE j = k),
        |pl AS (
        |  SELECT (vmv * 1000000000) // (vv * n * n * $PcaQ * $PcaQ) AS lambda_nano,
        |         (vmv * 1000000) // (vv * tr) AS share_ppm
        |  FROM pr1 CROSS JOIN pvv CROSS JOIN ptr CROSS JOIN pn),
        |psel AS (
        |  SELECT j, vi, row_number() OVER (ORDER BY abs(vi) DESC, j ASC) AS rnk
        |  FROM pvf)
        |SELECT rnk::BIGINT AS loading_rank, j::BIGINT AS dim,
        |       vi::DOUBLE / $PcaQ.0 AS loading,
        |       lambda_nano::DOUBLE / 1000000000.0 AS lambda1,
        |       share_ppm::DOUBLE / 1000000.0 AS explained_share
        |FROM psel CROSS JOIN pl WHERE rnk <= $PcaTopDims ORDER BY rnk""".stripMargin)
    },
    "q178_stream_late_exec" -> {
      import graft.streaming.EventStream.LateEveryN
      s"""WITH lev AS (
        |  SELECT event_id, ts, event_type,
        |         CASE WHEN day(ts) <= 10 THEN 0
        |              WHEN day(ts) <= 20 THEN 1 ELSE 2 END AS base
        |  FROM events),
        |lb AS (
        |  SELECT event_id, ts, event_type,
        |         CASE WHEN base < 2 AND event_id % $LateEveryN = 0 THEN 2
        |              ELSE base END AS b
        |  FROM lev),
        |lwm AS (
        |  SELECT bb.b,
        |         (SELECT max(ts) FROM lb p WHERE p.b <= bb.b - 2)
        |           - INTERVAL 10 MINUTE AS wm
        |  FROM (SELECT DISTINCT b FROM lb) bb),
        |lkept AS (
        |  SELECT l.ts, l.event_type
        |  FROM lb l JOIN lwm w ON w.b = l.b
        |  WHERE w.wm IS NULL
        |     OR time_bucket(INTERVAL '1 hour', l.ts) + INTERVAL 1 HOUR > w.wm),
        |lfin AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wmf FROM lb)
        |SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
        |         AS win_start,
        |       event_type, count(*)::BIGINT AS n_events
        |FROM lkept CROSS JOIN lfin
        |WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR <= wmf
        |GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin
    },
    "q179_item_neighbors" -> {
      import graft.operators.Graph.ItemNeighborsK
      itemNeighborsCte + s"""
        |SELECT item, rnk::BIGINT AS neighbor_rank, neighbor, n_ab,
        |       cos_ppm::DOUBLE / 1000000.0 AS cosine
        |FROM nrk WHERE rnk <= $ItemNeighborsK
        |ORDER BY item, neighbor_rank""".stripMargin
    },
    "q180_image_dedup" -> {
      // the oracle computes the aHash bits from the pixel ARITHMETIC;
      // the Spark side computes them from PNG-encoded-then-decoded
      // pixels — equality proves the codec round-trip byte-exact
      """WITH ih AS (
        |  SELECT doc_id, ('0x'||substr(md5(text),1,15))::BIGINT AS h FROM documents),
        |ipx AS (
        |  SELECT doc_id, t.i,
        |         ((h % 1048576) * 31 + t.i * 97 + (t.i * t.i) % 251) % 256 AS g
        |  FROM ih, unnest(range(0, 64)) t(i)),
        |isum AS (SELECT doc_id, sum(g)::BIGINT AS s FROM ipx GROUP BY 1),
        |ibits AS (
        |  SELECT p.doc_id,
        |         string_agg(CASE WHEN 64 * p.g > s.s THEN '1' ELSE '0' END, ''
        |                    ORDER BY p.i) AS ahash,
        |         min(s.s // 64)::BIGINT AS mg
        |  FROM ipx p JOIN isum s USING (doc_id) GROUP BY 1)
        |SELECT ahash, count(*)::BIGINT AS n_docs, min(doc_id) AS rep_doc,
        |       min(mg)::BIGINT AS mean_gray
        |FROM ibits GROUP BY 1 HAVING count(*) >= 2 ORDER BY ahash""".stripMargin
    },
    "q181_containment_dedup" -> {
      import graft.operators.Dedup.ContainmentThreshold
      // exact ALL-PAIRS containment — the lossless prefix filter on the
      // Spark side must reproduce it exactly (a theorem, not a tuning)
      s"""WITH csh AS (
        |  SELECT DISTINCT doc_id, w[i] || '_' || w[i+1] || '_' || w[i+2] AS g
        |  FROM (SELECT doc_id, regexp_extract_all(text, '[^ \\t\\n\\r]+') AS w
        |        FROM documents),
        |       unnest(range(1, len(w) - 1)) t(i)),
        |csz AS (SELECT doc_id, count(*)::BIGINT AS na FROM csh GROUP BY 1),
        |cint AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_shared
        |  FROM csh a JOIN csh b ON a.g = b.g AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, s.na AS n_a, i.n_shared,
        |       floor(i.n_shared::DOUBLE / s.na::DOUBLE * 1000000.0 + 0.5)
        |         / 1000000.0 AS containment
        |FROM cint i JOIN csz s ON s.doc_id = i.doc_a
        |WHERE floor(i.n_shared::DOUBLE / s.na::DOUBLE * 1000000.0 + 0.5)
        |        / 1000000.0 >= $ContainmentThreshold
        |ORDER BY doc_a, doc_b""".stripMargin
    },
    "q182_sliding_window" -> {
      """WITH hw AS (
        |  SELECT time_bucket(INTERVAL '15 minutes', ts)
        |           - t.k * INTERVAL '15 minutes' AS ws,
        |         event_type, value
        |  FROM events, unnest(range(0, 4)) t(k))
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
        |       count(*)::BIGINT AS n_events, round(sum(value), 2) AS sum_value
        |FROM hw GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin
    },
    "q183_mutual_knn" -> {
      import graft.operators.Similarity.BucketK
      materializeCtes(ivfHierCellsCte + s""",
        |mkd AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb,
        |         list_dot_product(ea.v, eb.v) /
        |         (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS c
        |  FROM cells a JOIN cells b ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id
        |  JOIN e ea ON ea.vec_id = a.vec_id
        |  JOIN e eb ON eb.vec_id = b.vec_id),
        |mkr AS (
        |  SELECT va, vb, c,
        |         row_number() OVER (PARTITION BY va ORDER BY c DESC, vb ASC) AS rn
        |  FROM mkd)
        |SELECT f.va AS vec_a, f.vb AS vec_b, round(f.c, 6) AS cosine,
        |       f.rn::INT AS rank_ab, r.rn::INT AS rank_ba
        |FROM mkr f JOIN mkr r ON r.va = f.vb AND r.vb = f.va
        |WHERE f.va < f.vb AND f.rn <= $BucketK AND r.rn <= $BucketK
        |ORDER BY vec_a, vec_b""".stripMargin)
    },
    "q184_cross_source_dup" ->
      materializeCtes(jaccardCte + """,
        |vp AS (SELECT i AS doc_a, j AS doc_b FROM jac WHERE jaccard >= 0.8),
        |sp AS (
        |  SELECT p.doc_a, p.doc_b,
        |         least(da.source, db.source) AS src_x,
        |         greatest(da.source, db.source) AS src_y
        |  FROM vp p JOIN documents da ON da.doc_id = p.doc_a
        |            JOIN documents db ON db.doc_id = p.doc_b),
        |np AS (SELECT src_x, src_y, count(*)::BIGINT AS n_pairs FROM sp GROUP BY 1, 2),
        |nd AS (SELECT src_x, src_y, count(DISTINCT doc)::BIGINT AS n_docs
        |       FROM (SELECT src_x, src_y, unnest([doc_a, doc_b]) AS doc FROM sp)
        |       GROUP BY 1, 2)
        |SELECT np.src_x, np.src_y, np.n_pairs, nd.n_docs
        |FROM np JOIN nd USING (src_x, src_y) ORDER BY src_x, src_y""".stripMargin),
    "q185_dup_weights" ->
      (dupClustersCte + """,
        |dsz AS (SELECT cluster_id, count(*)::BIGINT AS csize FROM clus GROUP BY 1),
        |dw AS (
        |  SELECT d.source, d.n_chars, z.csize,
        |         (d.n_chars * 1000000) // z.csize AS w_chars_ppm
        |  FROM documents d JOIN clus c ON c.doc_id = d.doc_id
        |  JOIN dsz z ON z.cluster_id = c.cluster_id),
        |dagg AS (
        |  SELECT source, count(*)::BIGINT AS n_docs,
        |         sum(CASE WHEN csize > 1 THEN 1 ELSE 0 END)::BIGINT AS n_clustered_docs,
        |         sum(n_chars)::BIGINT AS raw_chars,
        |         sum(w_chars_ppm)::BIGINT AS eff_chars_ppm
        |  FROM dw GROUP BY source)
        |SELECT source, n_docs, n_clustered_docs, raw_chars, eff_chars_ppm,
        |       floor(eff_chars_ppm::DOUBLE / raw_chars::DOUBLE + 0.5) / 1000000.0 AS keep_ratio
        |FROM dagg ORDER BY source""".stripMargin),
    "q186_random_projection" ->
      materializeCtes(s"""WITH rp(i, j, s) AS (VALUES $rpSignsValues),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id, t.i, floor(v[t.i + 1] * 1000000.0 + 0.5)::BIGINT AS xq
        |      FROM e, unnest(range(0, 64)) t(i)),
        |yq AS (SELECT q.vec_id, rp.j, sum(q.xq * rp.s)::BIGINT AS yq
        |       FROM q JOIN rp USING (i) GROUP BY 1, 2),
        |ocd AS (
        |  SELECT pid, sum(xa * xb)::BIGINT AS dot, sum(xa * xa)::BIGINT AS na,
        |         sum(xb * xb)::BIGINT AS nb
        |  FROM (SELECT vec_id // 2 AS pid, i AS dim,
        |               sum(CASE WHEN vec_id % 2 = 0 THEN xq END) AS xa,
        |               sum(CASE WHEN vec_id % 2 = 1 THEN xq END) AS xb
        |        FROM q GROUP BY 1, 2)
        |  WHERE xa IS NOT NULL AND xb IS NOT NULL GROUP BY 1),
        |pcd AS (
        |  SELECT pid, sum(xa * xb)::BIGINT AS dot, sum(xa * xa)::BIGINT AS na,
        |         sum(xb * xb)::BIGINT AS nb
        |  FROM (SELECT vec_id // 2 AS pid, j AS dim,
        |               sum(CASE WHEN vec_id % 2 = 0 THEN yq END) AS xa,
        |               sum(CASE WHEN vec_id % 2 = 1 THEN yq END) AS xb
        |        FROM yq GROUP BY 1, 2)
        |  WHERE xa IS NOT NULL AND xb IS NOT NULL GROUP BY 1),
        |oc AS (SELECT pid, CASE WHEN na > 0 AND nb > 0
        |         THEN floor(dot::DOUBLE / (sqrt(na::DOUBLE) * sqrt(nb::DOUBLE))
        |                    * 1000000.0 + 0.5)::BIGINT ELSE 0 END AS o_ppm FROM ocd),
        |pc AS (SELECT pid, CASE WHEN na > 0 AND nb > 0
        |         THEN floor(dot::DOUBLE / (sqrt(na::DOUBLE) * sqrt(nb::DOUBLE))
        |                    * 1000000.0 + 0.5)::BIGINT ELSE 0 END AS p_ppm FROM pcd),
        |jj AS (SELECT least(floor((o_ppm + 1000000)::DOUBLE / 200000.0)::INT, 9) AS band,
        |              abs(p_ppm - o_ppm) AS err
        |       FROM oc JOIN pc USING (pid))
        |SELECT band, count(*)::BIGINT AS n_pairs,
        |       (sum(err) // count(*))::BIGINT AS mean_abs_err_ppm,
        |       max(err)::BIGINT AS max_abs_err_ppm
        |FROM jj GROUP BY band ORDER BY band""".stripMargin),
    "q187_bfs_hops" -> {
      import graft.operators.Graph.BfsMaxHops
      jaccardCte.replace("WITH sh AS", "WITH RECURSIVE sh AS") + s""",
        |vp AS MATERIALIZED (SELECT i AS doc_a, j AS doc_b FROM jac WHERE jaccard >= 0.8),
        |ed AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM vp
        |       UNION ALL SELECT doc_b, doc_a FROM vp),
        |bn AS (SELECT DISTINCT u AS doc_id FROM ed),
        |bs AS (SELECT DISTINCT doc_a AS doc_id FROM vp
        |       WHERE doc_a NOT IN (SELECT doc_b FROM vp)),
        |walk AS (
        |  SELECT doc_id, 0 AS hops FROM bs
        |  UNION
        |  SELECT e.v AS doc_id, w.hops + 1 AS hops
        |  FROM walk w JOIN ed e ON e.u = w.doc_id
        |  WHERE w.hops < $BfsMaxHops),
        |bd AS (SELECT doc_id, min(hops) AS hops FROM walk GROUP BY 1)
        |SELECT n.doc_id, coalesce(bd.hops, -1)::INT AS hops
        |FROM bn n LEFT JOIN bd USING (doc_id) ORDER BY doc_id""".stripMargin
    },
    "q188_date_spine" ->
      """WITH od AS (SELECT o_orderdate::DATE AS day,
        |                   floor(o_totalprice * 100 + 0.5)::BIGINT AS cents FROM orders),
        |daily AS (SELECT day, count(*)::BIGINT AS n_orders, sum(cents)::BIGINT AS cents
        |          FROM od GROUP BY 1),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
        |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day FROM b),
        |f AS (SELECT s.day, coalesce(d.n_orders, 0)::BIGINT AS n_orders,
        |             coalesce(d.cents, 0)::BIGINT AS cents
        |      FROM spine s LEFT JOIN daily d USING (day)),
        |wv AS (SELECT day, n_orders, cents,
        |              sum(cents) OVER w AS sw, count(*) OVER w AS cw
        |       FROM f WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT day, n_orders, cents::DOUBLE / 100.0 AS revenue,
        |       (sw // cw)::DOUBLE / 100.0 AS ma7
        |FROM wv ORDER BY day""".stripMargin,
    "q189_file_advisor" -> {
      import graft.operators.Layout.FileTargetBytes
      s"""WITH fa AS (SELECT lang, source, count(*)::BIGINT AS n_docs,
        |                   sum(n_chars)::BIGINT AS bytes
        |            FROM documents GROUP BY 1, 2)
        |SELECT lang, source, n_docs, bytes,
        |       (bytes + ${FileTargetBytes - 1}) // $FileTargetBytes AS n_files,
        |       bytes * 1000000
        |         // (((bytes + ${FileTargetBytes - 1}) // $FileTargetBytes) * $FileTargetBytes)
        |         AS fill_ppm,
        |       bytes < ${FileTargetBytes / 2} AS merge_candidate
        |FROM fa ORDER BY lang, source""".stripMargin
    },
    "q190_simhash_search" -> {
      import graft.operators.Dedup.SearchQueryMod
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '[^ \t\n\r]+')) AS tok FROM documents
        |),
        |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
        |bits AS (
        |  SELECT doc_id, b, sum(((h >> b) & 1) * 2 - 1) AS s
        |  FROM h, unnest(range(0, 48)) t(b)
        |  GROUP BY doc_id, b
        |),
        |sim AS (
        |  SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
        |  FROM bits GROUP BY doc_id
        |)
        |SELECT q.doc_id AS query_id, c.doc_id AS match_id,
        |       bit_count(xor(q.simhash, c.simhash))::INT AS hamming
        |FROM sim q JOIN sim c ON q.doc_id % $SearchQueryMod = 0 AND c.doc_id <> q.doc_id
        |WHERE bit_count(xor(q.simhash, c.simhash)) <= 3
        |ORDER BY query_id, match_id""".stripMargin
    },
    "q191_audience_overlap" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |pt AS (SELECT event_type, count(*)::BIGINT AS n FROM ut GROUP BY 1),
        |bo AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |              count(*)::BIGINT AS n_both
        |       FROM ut a JOIN ut b ON a.user_id = b.user_id
        |                          AND a.event_type < b.event_type
        |       GROUP BY 1, 2)
        |SELECT bo.type_a, bo.type_b, pa.n AS n_a, pb.n AS n_b, bo.n_both,
        |       bo.n_both * 1000000 // (pa.n + pb.n - bo.n_both) AS jaccard_ppm
        |FROM bo JOIN pt pa ON pa.event_type = bo.type_a
        |        JOIN pt pb ON pb.event_type = bo.type_b
        |ORDER BY type_a, type_b""".stripMargin,
    "q192_epoch_mix" -> {
      import graft.operators.Sampling.EpochBudgetDen
      s"""WITH em AS (
        |  SELECT lang, sum(len(regexp_extract_all(text, '[^ \t\n\r]+')))::BIGINT AS n_tokens
        |  FROM documents GROUP BY 1),
        |es AS (SELECT lang, n_tokens,
        |              floor(sqrt(n_tokens::DOUBLE) * 1000000.0 + 0.5)::BIGINT AS s_l
        |       FROM em),
        |et AS (SELECT sum(s_l)::BIGINT AS s_tot, sum(n_tokens)::BIGINT AS n_tot FROM es)
        |SELECT lang, n_tokens,
        |       s_l * 1000000 // s_tot AS share_ppm,
        |       (n_tot // $EpochBudgetDen) * s_l // s_tot AS alloc_tokens,
        |       ((n_tot // $EpochBudgetDen) * s_l // s_tot) * 1000000 // n_tokens AS epochs_ppm
        |FROM es CROSS JOIN et ORDER BY lang""".stripMargin
    },
    "q193_stream_update_exec" ->
      """SELECT user_id, count(*)::BIGINT AS n_events,
        |       sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT::DOUBLE / 100.0 AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q194_ks_drift" -> {
      import graft.operators.DataQuality.{KsSourceA, KsSourceB}
      s"""WITH kd AS (SELECT source, n_chars FROM documents
        |            WHERE source IN ('$KsSourceA', '$KsSourceB')),
        |kc AS (SELECT n_chars AS v,
        |              sum(CASE WHEN source = '$KsSourceA' THEN 1 ELSE 0 END)::BIGINT AS ca,
        |              sum(CASE WHEN source = '$KsSourceB' THEN 1 ELSE 0 END)::BIGINT AS cb
        |       FROM kd GROUP BY 1),
        |kcum AS (SELECT v, (sum(ca) OVER w)::BIGINT AS cuma, (sum(cb) OVER w)::BIGINT AS cumb
        |         FROM kc
        |         WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |kt AS (SELECT sum(CASE WHEN source = '$KsSourceA' THEN 1 ELSE 0 END)::BIGINT AS na,
        |              sum(CASE WHEN source = '$KsSourceB' THEN 1 ELSE 0 END)::BIGINT AS nb
        |       FROM kd),
        |ks AS (SELECT v, abs(cuma * nb - cumb * na) AS dnum, na, nb
        |       FROM kcum CROSS JOIN kt),
        |kbest AS (SELECT na, nb, dnum, v FROM ks ORDER BY dnum DESC, v ASC LIMIT 1)
        |SELECT '$KsSourceA' AS source_a, '$KsSourceB' AS source_b,
        |       na AS n_a, nb AS n_b, dnum AS ks_num,
        |       dnum * 1000000 // (na * nb) AS ks_ppm, v AS ks_at
        |FROM kbest""".stripMargin
    },
    "q195_asof_forward" ->
      """SELECT c.event_id AS click_id, c.user_id,
        |       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |       coalesce(strftime(p.ts, '%Y-%m-%d %H:%M:%S'), '-') AS purchase_ts,
        |       coalesce(p.value, -1.0) AS purchase_value
        |FROM (SELECT *, -epoch_us(ts) AS negts FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT *, -epoch_us(ts) AS negts
        |                FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND c.negts >= p.negts
        |ORDER BY click_id""".stripMargin,
    "q196_wasserstein_drift" -> {
      import graft.operators.DataQuality.{KsSourceA, KsSourceB}
      s"""WITH kd AS (SELECT source, n_chars FROM documents
        |            WHERE source IN ('$KsSourceA', '$KsSourceB')),
        |kc AS (SELECT n_chars AS v,
        |              sum(CASE WHEN source = '$KsSourceA' THEN 1 ELSE 0 END)::BIGINT AS ca,
        |              sum(CASE WHEN source = '$KsSourceB' THEN 1 ELSE 0 END)::BIGINT AS cb
        |       FROM kd GROUP BY 1),
        |kcum AS (SELECT v, (sum(ca) OVER w)::BIGINT AS cuma, (sum(cb) OVER w)::BIGINT AS cumb,
        |                lead(v, 1) OVER (ORDER BY v) AS vn
        |         FROM kc
        |         WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |kt AS (SELECT sum(CASE WHEN source = '$KsSourceA' THEN 1 ELSE 0 END)::BIGINT AS na,
        |              sum(CASE WHEN source = '$KsSourceB' THEN 1 ELSE 0 END)::BIGINT AS nb
        |       FROM kd),
        |kw AS (SELECT na, nb,
        |              sum(abs(cuma * nb - cumb * na) * (vn - v))::BIGINT AS w1_num
        |       FROM kcum CROSS JOIN kt WHERE vn IS NOT NULL GROUP BY 1, 2)
        |SELECT '$KsSourceA' AS source_a, '$KsSourceB' AS source_b,
        |       na AS n_a, nb AS n_b, w1_num,
        |       w1_num * 1000 // (na * nb) AS w1_milli
        |FROM kw""".stripMargin
    },
    "q197_vocab_churn" -> {
      import graft.operators.TextAnalysis.ChurnTopK
      s"""WITH ch AS (SELECT (count(*) // 2) AS s FROM documents),
        |ct AS (SELECT CASE WHEN doc_id < ch.s THEN 'a' ELSE 'b' END AS half,
        |              unnest(regexp_extract_all(text, '[^ \t\n\r]+')) AS tok
        |       FROM documents, ch),
        |cc AS (SELECT half, tok, count(*)::BIGINT AS n FROM ct GROUP BY 1, 2),
        |cr AS (SELECT half, tok, n,
        |              row_number() OVER (PARTITION BY half ORDER BY n DESC, tok ASC) AS rnk
        |       FROM cc),
        |cha AS (SELECT tok, rnk, n FROM cr WHERE half = 'a' AND rnk <= $ChurnTopK),
        |chb AS (SELECT tok, rnk, n FROM cr WHERE half = 'b' AND rnk <= $ChurnTopK)
        |SELECT coalesce(cha.tok, chb.tok) AS tok,
        |       coalesce(cha.rnk, -1)::INT AS rank_a, coalesce(cha.n, 0)::BIGINT AS n_a,
        |       coalesce(chb.rnk, -1)::INT AS rank_b, coalesce(chb.n, 0)::BIGINT AS n_b,
        |       CASE WHEN cha.tok IS NOT NULL AND chb.tok IS NOT NULL THEN 'stable'
        |            WHEN cha.tok IS NOT NULL THEN 'dropped' ELSE 'entered' END AS status
        |FROM cha FULL OUTER JOIN chb ON cha.tok = chb.tok
        |ORDER BY tok""".stripMargin
    },
    "q198_band_planner" -> {
      import graft.operators.Dedup.{JaccardThreshold, NumHashes, PlannerConfigs}
      val configCtes = PlannerConfigs.map { case (b, r) =>
        s"""bk$b AS (SELECT doc_id, i // $r AS band, string_agg(s, '_' ORDER BY i) AS bk
           |         FROM sg GROUP BY doc_id, i // $r),
           |cd$b AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |         FROM bk$b a JOIN bk$b b
           |           ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
           |mt$b AS (SELECT $b AS bands, $r AS rows_per_band,
           |                count(*)::BIGINT AS n_candidates,
           |                sum(CASE WHEN j.jaccard >= $JaccardThreshold
           |                         THEN 1 ELSE 0 END)::BIGINT AS n_true
           |         FROM cd$b c LEFT JOIN jac j ON j.i = c.doc_a AND j.j = c.doc_b)""".stripMargin
      }.mkString(",\n")
      materializeCtes(jaccardCte + s""",
        |hs2 AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 7))::BIGINT AS h FROM sh),
        |sg AS (SELECT doc_id, t.i,
        |              min(((2 * t.i + 1) * h + 101 * t.i + 7) % 2147483647) AS s
        |       FROM hs2, unnest(range(0, $NumHashes)) t(i) GROUP BY 1, 2),
        |$configCtes,
        |qual AS (SELECT count(*)::BIGINT AS n_qualifying FROM jac
        |         WHERE jaccard >= $JaccardThreshold)
        |SELECT m.bands, m.rows_per_band, m.n_candidates, m.n_true, qual.n_qualifying,
        |       m.n_true * 1000000 // m.n_candidates AS precision_ppm,
        |       m.n_true * 1000000 // qual.n_qualifying AS recall_ppm
        |FROM (SELECT * FROM mt64 UNION ALL SELECT * FROM mt32
        |      UNION ALL SELECT * FROM mt16) m
        |CROSS JOIN qual ORDER BY m.bands DESC""".stripMargin)
    },
    "q199_alert_dedup" -> {
      import graft.operators.Relational.AlertBucketUs
      s"""WITH ad AS (SELECT event_type, user_id,
        |                   epoch_us(ts) // $AlertBucketUs AS bucket, event_id, ts
        |            FROM events),
        |ar AS (SELECT event_type, user_id, bucket, event_id,
        |              row_number() OVER (PARTITION BY event_type, user_id, bucket
        |                                 ORDER BY ts, event_id) AS rn,
        |              count(*) OVER (PARTITION BY event_type, user_id, bucket) AS nb
        |       FROM ad)
        |SELECT event_type, user_id, bucket, event_id AS kept_event_id,
        |       (nb - 1)::BIGINT AS n_suppressed
        |FROM ar WHERE rn = 1 ORDER BY event_type, user_id, bucket""".stripMargin
    },
    "q200_hubness" -> {
      import graft.operators.Similarity.BucketK
      materializeCtes(ivfHierCellsCte + s""",
        |mkd AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb,
        |         list_dot_product(ea.v, eb.v) /
        |         (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS c
        |  FROM cells a JOIN cells b ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id
        |  JOIN e ea ON ea.vec_id = a.vec_id
        |  JOIN e eb ON eb.vec_id = b.vec_id),
        |mkr AS (
        |  SELECT va, vb, c,
        |         row_number() OVER (PARTITION BY va ORDER BY c DESC, vb ASC) AS rn
        |  FROM mkd),
        |hd AS (SELECT vb, count(*)::BIGINT AS in_degree FROM mkr
        |       WHERE rn <= $BucketK GROUP BY vb),
        |hh AS (SELECT in_degree, count(*)::BIGINT AS n_vecs FROM hd GROUP BY 1
        |       UNION ALL
        |       SELECT 0::BIGINT AS in_degree, count(*)::BIGINT AS n_vecs
        |       FROM cells WHERE vec_id NOT IN (SELECT vb FROM hd))
        |SELECT in_degree, n_vecs FROM hh WHERE n_vecs > 0
        |ORDER BY in_degree""".stripMargin)
    },
    "q201_dim_clip" -> {
      import graft.operators.Similarity.{ClipHi, ClipLo, Dims}
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id, t.d, floor(v[t.d + 1] * 1000000.0 + 0.5)::BIGINT AS xq
        |      FROM e, unnest(range(0, $Dims)) t(d)),
        |cb AS (SELECT d, count(*)::BIGINT AS n,
        |              round(quantile_cont(xq, $ClipLo), 6) AS p01_micro,
        |              round(quantile_cont(xq, 0.5), 6) AS p50_micro,
        |              round(quantile_cont(xq, $ClipHi), 6) AS p99_micro
        |       FROM q GROUP BY d),
        |cc AS (SELECT d,
        |              sum(CASE WHEN q.xq < cb.p01_micro THEN 1 ELSE 0 END)::BIGINT AS n_below,
        |              sum(CASE WHEN q.xq > cb.p99_micro THEN 1 ELSE 0 END)::BIGINT AS n_above
        |       FROM q JOIN cb USING (d) GROUP BY d)
        |SELECT cb.d, cb.n, cb.p01_micro, cb.p50_micro, cb.p99_micro,
        |       cc.n_below, cc.n_above,
        |       (cc.n_below + cc.n_above)::BIGINT AS n_clipped
        |FROM cb JOIN cc USING (d) ORDER BY d""".stripMargin
    },
    "q202_decay_score" -> {
      import graft.operators.Relational.DecayHalflifeDays
      s"""WITH de AS (SELECT user_id, ts::DATE AS day,
        |                   floor(value * 100 + 0.5)::BIGINT AS cents FROM events),
        |dref AS (SELECT max(day) AS ref FROM de),
        |dq AS (SELECT user_id, cents,
        |              floor(cents * pow(2.0,
        |                -(datediff('day', day, ref))::DOUBLE / $DecayHalflifeDays)
        |                * 10000.0 + 0.5)::BIGINT AS q
        |       FROM de, dref)
        |SELECT user_id, count(*)::BIGINT AS n_events,
        |       sum(cents)::BIGINT::DOUBLE / 100.0 AS raw_value,
        |       sum(q)::BIGINT::DOUBLE / 1000000.0 AS decayed_value
        |FROM dq GROUP BY user_id ORDER BY user_id""".stripMargin
    },
    "q203_cube" ->
      """SELECT coalesce(lang, 'ALL') AS lang,
        |       coalesce(source, 'ALL') AS source,
        |       count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_chars
        |FROM documents
        |GROUP BY CUBE (lang, source)
        |ORDER BY lang, source""".stripMargin,
    "q204_wow_change" -> {
      import graft.operators.Relational.{RetentionEpochMs, WeekMs}
      s"""WITH ww AS (
        |  SELECT floor((epoch_ms(o_orderdate) - $RetentionEpochMs)::DOUBLE
        |               / $WeekMs.0)::BIGINT AS wk,
        |         floor(o_totalprice * 100 + 0.5)::BIGINT AS cents
        |  FROM orders),
        |wa AS (SELECT wk, count(*)::BIGINT AS n_orders, sum(cents)::BIGINT AS cents
        |       FROM ww GROUP BY 1),
        |wl AS (SELECT wk, n_orders, cents, lag(cents, 1) OVER (ORDER BY wk) AS prev
        |       FROM wa)
        |SELECT wk, n_orders, cents::DOUBLE / 100.0 AS revenue,
        |       coalesce(prev, 0)::DOUBLE / 100.0 AS prev_revenue,
        |       CASE WHEN prev IS NOT NULL AND prev > 0
        |            THEN (cents - prev) * 1000000 // prev ELSE 0 END AS change_ppm
        |FROM wl ORDER BY wk""".stripMargin
    },
    "q205_stream_complete_exec" ->
      """SELECT event_type, count(*)::BIGINT AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q206_context_pack" -> {
      import graft.operators.Indexing.{Bm25B, Bm25K1, Bm25Query, Bm25TopK, PackBudgetTokens}
      s"""WITH terms AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
        |  FROM documents
        |),
        |dl AS (SELECT doc_id, count(*) AS dl FROM terms GROUP BY doc_id),
        |st AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM terms
        |  WHERE term IN (${Bm25Query.map(t => s"'$t'").mkString(", ")})
        |  GROUP BY 1, 2
        |),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |sc AS (
        |  SELECT tf.doc_id,
        |         ln(((st.n_docs - df.df + 0.5) / (df.df + 0.5)) + 1.0) *
        |           (tf.tf * ${Bm25K1 + 1.0}) /
        |           (tf.tf + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B * dl.dl / st.avgdl)) AS s
        |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term), st
        |),
        |hits AS (
        |  SELECT doc_id, round(sum(s), 6) AS bm25
        |  FROM sc GROUP BY doc_id
        |  ORDER BY round(sum(s), 6) DESC, doc_id LIMIT $Bm25TopK
        |),
        |nt AS (SELECT doc_id, len(regexp_extract_all(text, '[^ \t\n\r]+'))::BIGINT AS n_tokens
        |       FROM documents),
        |packed AS (
        |  SELECT h.doc_id, h.bm25, nt.n_tokens,
        |         row_number() OVER (ORDER BY h.bm25 DESC, h.doc_id ASC) AS rnk,
        |         (sum(nt.n_tokens) OVER (ORDER BY h.bm25 DESC, h.doc_id ASC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum_tokens
        |  FROM hits h JOIN nt USING (doc_id))
        |SELECT rnk::INT AS "rank", doc_id, bm25, n_tokens, cum_tokens
        |FROM packed WHERE cum_tokens <= $PackBudgetTokens
        |ORDER BY rnk""".stripMargin
    },
    "q207_autocomplete" -> {
      import graft.operators.Indexing.{AutoPrefixLen, AutoTopK}
      s"""WITH av AS (
        |  SELECT token, count(*)::BIGINT AS cnt FROM (
        |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
        |    FROM documents)
        |  GROUP BY token),
        |ap AS (SELECT substr(token, 1, $AutoPrefixLen) AS prefix, token, cnt
        |       FROM av WHERE length(token) >= $AutoPrefixLen),
        |ar2 AS (SELECT prefix, token, cnt,
        |               row_number() OVER (PARTITION BY prefix
        |                                  ORDER BY cnt DESC, token ASC) AS rnk
        |        FROM ap)
        |SELECT prefix, rnk::INT AS "rank", token, cnt
        |FROM ar2 WHERE rnk <= $AutoTopK ORDER BY prefix, rnk""".stripMargin
    },
    "q208_conversion_rate" -> {
      import graft.operators.Relational.{ConvHorizonUs, RetentionEpochMs, WeekMs}
      s"""WITH cj AS (
        |  SELECT c.ts AS c_ts, p.ts AS p_ts
        |  FROM (SELECT *, -epoch_us(ts) AS negts FROM events WHERE event_type = 'click') c
        |  ASOF LEFT JOIN (SELECT *, -epoch_us(ts) AS negts
        |                  FROM events WHERE event_type = 'purchase') p
        |    ON c.user_id = p.user_id AND c.negts >= p.negts),
        |cw AS (
        |  SELECT floor((epoch_ms(c_ts) - $RetentionEpochMs)::DOUBLE
        |               / $WeekMs.0)::BIGINT AS wk,
        |         CASE WHEN p_ts IS NOT NULL
        |                   AND epoch_us(p_ts) - epoch_us(c_ts) <= $ConvHorizonUs
        |              THEN 1 ELSE 0 END AS conv
        |  FROM cj),
        |ca AS (SELECT wk, count(*)::BIGINT AS n_clicks, sum(conv)::BIGINT AS n_converted
        |       FROM cw GROUP BY 1)
        |SELECT wk, n_clicks, n_converted,
        |       n_converted * 1000000 // n_clicks AS conv_ppm
        |FROM ca ORDER BY wk""".stripMargin
    },
    "q209_dup_quality_lift" ->
      ("WITH RECURSIVE " +
        qualityCte.stripPrefix("WITH ") + ",\n" +
        dupClustersCte.stripPrefix("WITH RECURSIVE ") + """,
        |lp AS (SELECT least(floor(q.quality_score * 10), 9)::INT AS band,
        |              CASE WHEN c.cluster_id <> q.doc_id THEN 1 ELSE 0 END AS is_dup
        |       FROM qual q JOIN clus c USING (doc_id)),
        |lb AS (SELECT band, count(*)::BIGINT AS n_docs, sum(is_dup)::BIGINT AS n_dup
        |       FROM lp GROUP BY 1),
        |lg AS (SELECT sum(is_dup)::BIGINT AS g_dup, count(*)::BIGINT AS g_docs FROM lp)
        |SELECT band, n_docs, n_dup,
        |       n_dup * 1000000 // n_docs AS dup_rate_ppm,
        |       (n_dup * 1000000 // n_docs) * 1000000
        |         // (lg.g_dup * 1000000 // lg.g_docs) AS lift_ppm
        |FROM lb, lg ORDER BY band""".stripMargin),
    "q210_hill_tail" -> {
      import graft.operators.TextAnalysis.HillK
      s"""WITH ht AS (SELECT n_chars AS x,
        |                   row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rn
        |            FROM documents),
        |href AS (SELECT x AS x_ref FROM ht WHERE rn = ${HillK + 1}),
        |hsum AS (SELECT count(*)::BIGINT AS k, href.x_ref,
        |                sum(floor(ln(ht.x::DOUBLE / href.x_ref::DOUBLE)
        |                          * 1000000000.0 + 0.5)::BIGINT)::BIGINT AS sum_ln_nano
        |         FROM ht, href WHERE ht.rn <= $HillK GROUP BY href.x_ref)
        |SELECT k, x_ref, sum_ln_nano,
        |       CASE WHEN sum_ln_nano > 0 THEN k * 1000000000000 // sum_ln_nano
        |            ELSE 0 END AS alpha_milli
        |FROM hsum""".stripMargin
    },
    "q211_bbit_minhash" -> {
      import graft.operators.Dedup.{JaccardThreshold, NumHashes}
      materializeCtes(jaccardCte + s""",
        |p2 AS (SELECT i AS doc_a, j AS doc_b, jaccard FROM jac
        |       WHERE jaccard >= $JaccardThreshold),
        |pd2 AS (SELECT DISTINCT doc_id
        |        FROM (SELECT doc_a AS doc_id FROM p2 UNION ALL SELECT doc_b FROM p2)),
        |hs3 AS (SELECT s.doc_id, ('0x' || substr(md5(s.g), 1, 7))::BIGINT AS h
        |        FROM sh s JOIN pd2 USING (doc_id)),
        |sg3 AS (SELECT doc_id, t.i,
        |               min(((2 * t.i + 1) * h + 101 * t.i + 7) % 2147483647) AS s
        |        FROM hs3, unnest(range(0, $NumHashes)) t(i) GROUP BY 1, 2),
        |bb AS (SELECT p2.doc_a, p2.doc_b, round(p2.jaccard, 6) AS jaccard,
        |              sum(CASE WHEN a.s % 2 = b.s % 2 THEN 1 ELSE 0 END)::BIGINT AS m_bits
        |       FROM p2 JOIN sg3 a ON a.doc_id = p2.doc_a
        |       JOIN sg3 b ON b.doc_id = p2.doc_b AND b.i = a.i
        |       GROUP BY 1, 2, 3)
        |SELECT doc_a, doc_b, jaccard, m_bits,
        |       greatest(2 * m_bits * 1000000 // $NumHashes - 1000000, 0)::DOUBLE
        |         / 1000000.0 AS est_b1,
        |       round(abs(jaccard
        |         - greatest(2 * m_bits * 1000000 // $NumHashes - 1000000, 0)::DOUBLE
        |           / 1000000.0), 6) AS abs_err
        |FROM bb ORDER BY doc_a, doc_b""".stripMargin)
    },
    "q212_embed_norms" -> {
      import graft.operators.Similarity.Dims
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id, floor(v[t.d + 1] * 1000000.0 + 0.5)::BIGINT AS xq
        |      FROM e, unnest(range(0, $Dims)) t(d)),
        |en AS (SELECT vec_id, sum(xq * xq)::BIGINT AS n2 FROM q GROUP BY 1),
        |em AS (SELECT floor(sqrt(n2::DOUBLE) + 0.5)::BIGINT AS nm FROM en)
        |SELECT count(*)::BIGINT AS n_vecs,
        |       sum(CASE WHEN nm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero,
        |       min(nm)::DOUBLE / 1000000.0 AS min_norm,
        |       max(nm)::DOUBLE / 1000000.0 AS max_norm,
        |       (sum(nm)::BIGINT // count(*))::DOUBLE / 1000000.0 AS mean_norm
        |FROM em""".stripMargin
    },
    "q213_psi_drift" -> {
      import graft.operators.DataQuality.PsiBins
      qualityCte + s""",
        |ps AS (SELECT (count(*) // 2) AS s FROM documents),
        |pb AS (SELECT least(floor(q.quality_score * ${PsiBins - 1}), ${PsiBins - 1})::INT AS bin,
        |              CASE WHEN q.doc_id < ps.s THEN 1 ELSE 0 END AS in_a
        |       FROM qual q, ps),
        |pc AS (SELECT bin, sum(in_a)::BIGINT AS ca, sum(1 - in_a)::BIGINT AS cb
        |       FROM pb GROUP BY 1),
        |pt AS (SELECT sum(in_a)::BIGINT AS na, sum(1 - in_a)::BIGINT AS nb FROM pb),
        |pd3 AS (SELECT t.b AS bin, coalesce(pc.ca, 0)::BIGINT AS ca,
        |               coalesce(pc.cb, 0)::BIGINT AS cb
        |        FROM unnest(range(0, $PsiBins)) t(b) LEFT JOIN pc ON pc.bin = t.b)
        |SELECT pd3.bin, pd3.ca AS n_a, pd3.cb AS n_b,
        |       floor(((pd3.ca + 1)::DOUBLE / (pt.na + $PsiBins)::DOUBLE
        |              - (pd3.cb + 1)::DOUBLE / (pt.nb + $PsiBins)::DOUBLE)
        |             * ln((pd3.ca + 1)::DOUBLE * (pt.nb + $PsiBins)::DOUBLE
        |                  / ((pd3.cb + 1)::DOUBLE * (pt.na + $PsiBins)::DOUBLE))
        |             * 1000000000.0 + 0.5)::BIGINT AS psi_nano
        |FROM pd3, pt ORDER BY bin""".stripMargin
    },
    "q214_ab_test" -> {
      import graft.operators.Relational.AbConvMin
      s"""WITH au AS (SELECT user_id,
        |                  CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |                            >= $AbConvMin THEN 1 ELSE 0 END::BIGINT AS converted
        |           FROM events GROUP BY 1),
        |aa AS (SELECT user_id % 2 AS arm, count(*)::BIGINT AS n,
        |              sum(converted)::BIGINT AS x
        |       FROM au GROUP BY 1),
        |a0 AS (SELECT n AS n_a, x AS x_a FROM aa WHERE arm = 0),
        |a1 AS (SELECT n AS n_b, x AS x_b FROM aa WHERE arm = 1)
        |SELECT n_a, x_a, n_b, x_b,
        |       x_a * 1000000 // n_a AS rate_a_ppm,
        |       x_b * 1000000 // n_b AS rate_b_ppm,
        |       round((x_a::DOUBLE / n_a::DOUBLE - x_b::DOUBLE / n_b::DOUBLE)
        |             / sqrt(((x_a + x_b)::DOUBLE / (n_a + n_b)::DOUBLE)
        |                    * (1.0 - (x_a + x_b)::DOUBLE / (n_a + n_b)::DOUBLE)
        |                    * (1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE)), 6) AS z
        |FROM a0, a1""".stripMargin
    },
    "q215_kwic_snippets" -> {
      import graft.operators.Indexing.{KwicRadius, KwicTerm}
      s"""WITH kt AS (SELECT doc_id, regexp_extract_all(text, '[^ \t\n\r]+') AS w
        |            FROM documents),
        |kh AS (SELECT doc_id, w, t.p AS token_pos
        |       FROM kt, unnest(range(1, len(w) + 1)) t(p)
        |       WHERE w[p] = '$KwicTerm')
        |SELECT doc_id, token_pos,
        |       array_to_string(
        |         w[greatest(1, token_pos - $KwicRadius):least(len(w), token_pos + $KwicRadius)],
        |         ' ') AS snippet
        |FROM kh ORDER BY doc_id, token_pos""".stripMargin
    },
    "q216_time_heatmap" ->
      """WITH th AS (SELECT ((epoch_us(ts) // 3600000000) % 24)::INT AS hour,
        |                  ((epoch_us(ts) // 86400000000) % 7)::INT AS dow
        |           FROM events),
        |tc AS (SELECT dow, hour, count(*)::BIGINT AS n_events FROM th GROUP BY 1, 2),
        |tt AS (SELECT sum(n_events)::BIGINT AS n_total FROM tc)
        |SELECT dow, hour, n_events, n_events * 1000000 // n_total AS share_ppm
        |FROM tc, tt ORDER BY dow, hour""".stripMargin,
    "q217_attribution_window" -> {
      import graft.operators.Relational.{AttribWindowUs, RetentionEpochMs, WeekMs}
      s"""WITH ap AS (SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us,
        |                   epoch_ms(ts) AS p_ms,
        |                   floor(value * 100 + 0.5)::BIGINT AS cents
        |            FROM events WHERE event_type = 'purchase'),
        |av AS (SELECT user_id, epoch_us(ts) AS v_us FROM events
        |       WHERE event_type = 'view'),
        |at2 AS (SELECT p.p_id, p.p_ms, p.cents, count(v.v_us)::BIGINT AS n_touches
        |        FROM ap p LEFT JOIN av v
        |          ON v.user_id = p.user_id AND v.v_us <= p.p_us
        |             AND v.v_us > p.p_us - $AttribWindowUs
        |        GROUP BY 1, 2, 3),
        |aw AS (SELECT floor((p_ms - $RetentionEpochMs)::DOUBLE / $WeekMs.0)::BIGINT AS wk,
        |              cents, n_touches FROM at2),
        |ag AS (SELECT wk, count(*)::BIGINT AS n_purchases,
        |              sum(CASE WHEN n_touches > 0 THEN 1 ELSE 0 END)::BIGINT AS n_attributed,
        |              sum(cents)::BIGINT AS cents,
        |              sum(CASE WHEN n_touches > 0 THEN cents ELSE 0 END)::BIGINT AS attr_cents,
        |              sum(n_touches)::BIGINT AS touches
        |       FROM aw GROUP BY 1)
        |SELECT wk, n_purchases, n_attributed,
        |       cents::DOUBLE / 100.0 AS revenue,
        |       attr_cents::DOUBLE / 100.0 AS attributed_revenue,
        |       attr_cents * 1000000 // cents AS attributed_ppm,
        |       touches * 1000000 // n_purchases AS mean_touches_ppm
        |FROM ag ORDER BY wk""".stripMargin
    },
    "q218_source_gini" ->
      """WITH gm AS (SELECT source, sum(n_chars)::BIGINT AS x FROM documents GROUP BY 1),
        |gr AS (SELECT x, row_number() OVER (ORDER BY x ASC, source ASC) AS i FROM gm),
        |ga AS (SELECT count(*)::BIGINT AS n_sources, sum(x)::BIGINT AS total_chars,
        |              sum(i * x)::BIGINT AS ix FROM gr)
        |SELECT n_sources, total_chars,
        |       2 * ix * 1000000 // (n_sources * total_chars)
        |         - (n_sources + 1) * 1000000 // n_sources AS gini_ppm
        |FROM ga""".stripMargin,
    "q219_pad_waste" -> {
      import graft.operators.Packing.{PadMaxPow, PadMinPow}
      val ladder = (PadMinPow until PadMaxPow)
        .map(p => s"WHEN n <= ${1L << p} THEN ${1L << p}")
        .mkString(" ")
      s"""WITH pw AS (SELECT len(regexp_extract_all(text, '[^ \t\n\r]+'))::BIGINT AS n
        |            FROM documents),
        |pb2 AS (SELECT n,
        |               (CASE $ladder ELSE ${1L << PadMaxPow} END)::BIGINT AS bucket,
        |               least(n, ${1L << PadMaxPow})::BIGINT AS kept
        |        FROM pw)
        |SELECT bucket, count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS raw_tokens,
        |       (count(*) * bucket)::BIGINT AS padded_tokens,
        |       (count(*)::BIGINT * bucket - sum(kept)::BIGINT) * 1000000
        |         // (count(*)::BIGINT * bucket) AS waste_ppm
        |FROM pb2 GROUP BY bucket ORDER BY bucket""".stripMargin
    },
    "q220_rfm" -> {
      import graft.operators.Relational.{RfmFreqHigh, RfmLapsedDays, RfmRecentDays}
      s"""WITH re AS (SELECT user_id, epoch_us(ts) AS us,
        |                  floor(value * 100 + 0.5)::BIGINT AS cents FROM events),
        |rr AS (SELECT max(us) AS ref_us FROM re),
        |ru AS (SELECT user_id, max(re.us) AS last_us, max(rr.ref_us) AS ref_us,
        |              sum(CASE WHEN re.us > rr.ref_us - ${RfmLapsedDays * 86400000000L}
        |                       THEN 1 ELSE 0 END)::BIGINT AS f30,
        |              sum(cents)::BIGINT AS cents
        |       FROM re, rr GROUP BY user_id)
        |SELECT user_id, (ref_us - last_us) // 86400000000 AS recency_days,
        |       f30 AS freq_30d, cents::DOUBLE / 100.0 AS monetary,
        |       (CASE WHEN (ref_us - last_us) // 86400000000 <= $RfmRecentDays THEN 'A'
        |             WHEN (ref_us - last_us) // 86400000000 <= $RfmLapsedDays THEN 'W'
        |             ELSE 'L' END)
        |       || (CASE WHEN f30 >= $RfmFreqHigh THEN 'H' ELSE 'L' END)
        |       || (CASE WHEN cents >= 50000 THEN 'H' ELSE 'L' END) AS segment
        |FROM ru ORDER BY user_id""".stripMargin
    },
    "q221_merge_delete" -> {
      import graft.operators.Relational.MergeDeleteMod
      s"""WITH ms AS (SELECT (count(*) * 4) // 5 AS s,
        |                  (count(*) * 4) // 5 + ((count(*) * 4) // 5) // 10 AS m
        |           FROM documents),
        |mb AS (SELECT doc_id AS key FROM documents, ms WHERE doc_id < ms.s),
        |ml AS (SELECT key, max(struct_pack(src := src, del := del)) AS last FROM (
        |         SELECT doc_id % ms.m AS key, doc_id AS src,
        |                doc_id % $MergeDeleteMod = 0 AS del
        |         FROM documents, ms WHERE doc_id >= ms.s)
        |       GROUP BY key),
        |mo AS (SELECT coalesce(mb.key, ml.key) AS key,
        |              mb.key IS NOT NULL AS in_base,
        |              ml.key IS NOT NULL AS in_log,
        |              ml.last.del AS is_del
        |       FROM mb FULL OUTER JOIN ml ON mb.key = ml.key)
        |SELECT CASE WHEN in_base AND NOT in_log THEN 'untouched'
        |            WHEN in_base AND NOT is_del THEN 'updated'
        |            WHEN in_base AND is_del THEN 'deleted'
        |            WHEN NOT in_base AND NOT is_del THEN 'inserted'
        |            ELSE 'ghost_delete' END AS status,
        |       count(*)::BIGINT AS n_keys, sum(key)::BIGINT AS key_checksum
        |FROM mo GROUP BY 1 ORDER BY status""".stripMargin
    },
    "q222_lag_features" -> {
      import graft.operators.Relational.{RetentionEpochMs, WeekMs}
      s"""WITH le AS (SELECT user_id,
        |                  floor((epoch_ms(ts) - $RetentionEpochMs)::DOUBLE
        |                        / $WeekMs.0)::BIGINT AS wk
        |           FROM events),
        |lw AS (SELECT user_id, wk, count(*)::BIGINT AS n FROM le GROUP BY 1, 2),
        |lb AS (SELECT min(wk) AS w0, max(wk) AS w1 FROM le),
        |lsp AS (SELECT u.user_id, t.wk
        |        FROM (SELECT DISTINCT user_id FROM le) u,
        |             lb, unnest(range(lb.w0, lb.w1 + 1)) t(wk)),
        |lf AS (SELECT s.user_id, s.wk, coalesce(lw.n, 0)::BIGINT AS n_events
        |       FROM lsp s LEFT JOIN lw ON lw.user_id = s.user_id AND lw.wk = s.wk),
        |lx AS (SELECT user_id, wk, n_events,
        |              coalesce(lag(n_events, 1) OVER w, 0)::BIGINT AS lag1,
        |              coalesce(lag(n_events, 2) OVER w, 0)::BIGINT AS lag2,
        |              (sum(n_events) OVER w4)::BIGINT AS sw,
        |              (count(*) OVER w4)::BIGINT AS cw
        |       FROM lf
        |       WINDOW w AS (PARTITION BY user_id ORDER BY wk),
        |              w4 AS (PARTITION BY user_id ORDER BY wk
        |                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW))
        |SELECT user_id, wk, n_events, lag1, lag2, sw // cw AS ma4_floor
        |FROM lx ORDER BY user_id, wk""".stripMargin
    },
    "q223_cold_start" -> {
      import graft.operators.Graph.ItemNeighborsK
      itemNeighborsCte + s""",
        |ncf AS (SELECT item, rnk AS rec_rank, neighbor AS rec_item,
        |               'cf' AS rec_source
        |        FROM nrk WHERE rnk <= $ItemNeighborsK),
        |npop AS (SELECT l_partkey AS rec_item, n FROM nsupp
        |         ORDER BY n DESC, l_partkey ASC LIMIT ${ItemNeighborsK + 1}),
        |ncold AS (SELECT p_partkey AS item FROM part
        |          WHERE p_partkey NOT IN (SELECT DISTINCT item FROM ncf)),
        |ncr AS (SELECT c.item, p.rec_item,
        |               row_number() OVER (PARTITION BY c.item
        |                 ORDER BY p.n DESC, p.rec_item ASC) AS rnk
        |        FROM ncold c JOIN npop p ON p.rec_item <> c.item)
        |SELECT item, rec_rank::BIGINT AS rec_rank, rec_item, rec_source FROM (
        |  SELECT item, rec_rank, rec_item, rec_source FROM ncf
        |  UNION ALL
        |  SELECT item, rnk AS rec_rank, rec_item, 'pop' AS rec_source
        |  FROM ncr WHERE rnk <= $ItemNeighborsK)
        |ORDER BY item, rec_rank""".stripMargin
    },
    "q224_modularity" ->
      (dupClustersCte + """,
        |mvp AS (SELECT i AS doc_a, j AS doc_b FROM jac WHERE jaccard >= 0.8),
        |mm AS (SELECT count(*)::BIGINT AS m FROM mvp),
        |mec AS (SELECT ca.cluster_id AS c, count(*)::BIGINT AS e_c
        |        FROM mvp p JOIN clus ca ON ca.doc_id = p.doc_a
        |        JOIN clus cb ON cb.doc_id = p.doc_b
        |                    AND cb.cluster_id = ca.cluster_id
        |        GROUP BY 1),
        |mdc AS (SELECT c2.cluster_id AS c, sum(d.deg)::BIGINT AS d_c FROM (
        |          SELECT doc_id, count(*)::BIGINT AS deg FROM (
        |            SELECT doc_a AS doc_id FROM mvp
        |            UNION ALL SELECT doc_b FROM mvp)
        |          GROUP BY 1) d JOIN clus c2 ON c2.doc_id = d.doc_id
        |        GROUP BY 1),
        |mq AS (SELECT count(*)::BIGINT AS n_components,
        |              sum(4 * mm.m * coalesce(mec.e_c, 0)
        |                  - mdc.d_c * mdc.d_c)::BIGINT AS q_num,
        |              max(mm.m) AS m
        |       FROM mdc LEFT JOIN mec ON mec.c = mdc.c, mm)
        |SELECT m AS m_edges, n_components,
        |       q_num * 1000000 // (4 * m * m) AS q_ppm
        |FROM mq""".stripMargin),
    "q225_assortativity" ->
      materializeCtes(jaccardCte + """,
        |avp AS (SELECT i AS doc_a, j AS doc_b FROM jac WHERE jaccard >= 0.8),
        |adeg AS (SELECT doc_id, count(*)::BIGINT AS deg FROM (
        |           SELECT doc_a AS doc_id FROM avp
        |           UNION ALL SELECT doc_b FROM avp) GROUP BY 1),
        |asym AS (SELECT doc_a AS u, doc_b AS v FROM avp
        |         UNION ALL SELECT doc_b, doc_a FROM avp),
        |amo AS (SELECT count(*)::BIGINT AS m2, sum(du.deg)::BIGINT AS sx,
        |               sum(du.deg * dv.deg)::BIGINT AS sxy,
        |               sum(du.deg * du.deg)::BIGINT AS sxx
        |        FROM asym e JOIN adeg du ON du.doc_id = e.u
        |        JOIN adeg dv ON dv.doc_id = e.v)
        |SELECT m2, sx, sxy,
        |       CASE WHEN m2 * sxx - sx * sx > 0
        |            THEN round((m2 * sxy - sx * sx)::DOUBLE
        |                       / (m2 * sxx - sx * sx)::DOUBLE, 6)
        |            ELSE 0.0 END AS assortativity
        |FROM amo""".stripMargin),
    "q226_pair_evidence" -> {
      import graft.operators.Dedup.{JaccardThreshold, NumHashes, RowsPerBand}
      materializeCtes(jaccardCte + s""",
        |evp AS (SELECT i AS doc_a, j AS doc_b, jaccard FROM jac
        |        WHERE jaccard >= $JaccardThreshold),
        |epd AS (SELECT DISTINCT doc_id
        |        FROM (SELECT doc_a AS doc_id FROM evp UNION ALL SELECT doc_b FROM evp)),
        |ehs AS (SELECT s.doc_id, ('0x' || substr(md5(s.g), 1, 7))::BIGINT AS h
        |        FROM sh s JOIN epd USING (doc_id)),
        |esg AS (SELECT doc_id, t.i,
        |               min(((2 * t.i + 1) * h + 101 * t.i + 7) % 2147483647) AS s
        |        FROM ehs, unnest(range(0, $NumHashes)) t(i) GROUP BY 1, 2),
        |ebk AS (SELECT doc_id, i // $RowsPerBand AS band,
        |               string_agg(s, '_' ORDER BY i) AS bk
        |        FROM esg GROUP BY doc_id, i // $RowsPerBand),
        |ebh AS (SELECT p.doc_a, p.doc_b, count(*)::BIGINT AS bands_hit
        |        FROM evp p JOIN ebk a ON a.doc_id = p.doc_a
        |        JOIN ebk b ON b.doc_id = p.doc_b AND b.band = a.band AND b.bk = a.bk
        |        GROUP BY 1, 2)
        |SELECT p.doc_a, p.doc_b, round(p.jaccard, 6) AS jaccard,
        |       sa.n::INT AS size_a, sb.n::INT AS size_b, it.c::INT AS n_shared,
        |       coalesce(ebh.bands_hit, 0)::BIGINT AS bands_hit
        |FROM evp p JOIN sizes sa ON sa.doc_id = p.doc_a
        |JOIN sizes sb ON sb.doc_id = p.doc_b
        |JOIN inter it ON it.i = p.doc_a AND it.j = p.doc_b
        |LEFT JOIN ebh ON ebh.doc_a = p.doc_a AND ebh.doc_b = p.doc_b
        |ORDER BY p.doc_a, p.doc_b""".stripMargin)
    },
    "q227_search_explain" -> {
      import graft.operators.Similarity.IvfNProbe
      materializeCtes(ivfHierCellsCte + s""",
        |socc AS (SELECT cent_id, count(*)::BIGINT AS n_cell FROM cells GROUP BY 1),
        |spr AS (SELECT vec_id AS query_id, rn::INT AS probe_rank, cent_id
        |        FROM asg WHERE rn <= $IvfNProbe AND vec_id < 10),
        |spq AS (SELECT query_id, (sum(o.n_cell) - 1)::BIGINT AS n_candidates
        |        FROM spr JOIN socc o USING (cent_id) GROUP BY 1),
        |sct AS (SELECT count(*)::BIGINT AS n_corpus FROM cells)
        |SELECT spr.query_id, spr.probe_rank, spr.cent_id, o.n_cell, q2.n_candidates,
        |       q2.n_candidates * 1000000 // sct.n_corpus AS scan_ppm
        |FROM spr JOIN socc o USING (cent_id) JOIN spq q2 USING (query_id), sct
        |ORDER BY query_id, probe_rank""".stripMargin)
    },
    "q228_next_token" -> {
      import graft.operators.TextAnalysis.NextTopW
      s"""WITH nw AS (SELECT doc_id, regexp_extract_all(text, '[^ \t\n\r]+') AS w
        |            FROM documents),
        |nb AS (SELECT w[i] AS w1, w[i + 1] AS w2, count(*)::BIGINT AS c
        |       FROM nw, unnest(range(1, len(w))) t(i) GROUP BY 1, 2),
        |nl AS (SELECT w1, sum(c)::BIGINT AS n_left FROM nb GROUP BY 1),
        |ntop AS (SELECT w1, n_left FROM nl
        |         ORDER BY n_left DESC, w1 ASC LIMIT $NextTopW),
        |narg AS (SELECT b.w1, t.n_left, b.w2, b.c,
        |                row_number() OVER (PARTITION BY b.w1
        |                  ORDER BY b.c DESC, b.w2 ASC) AS rn
        |         FROM nb b JOIN ntop t USING (w1))
        |SELECT w1, n_left, w2 AS next_tok, c AS n_next,
        |       c * 1000000 // n_left AS p_ppm
        |FROM narg WHERE rn = 1 ORDER BY w1""".stripMargin
    },
    "q229_window_distinct" ->
      """WITH wd AS (
        |  SELECT time_bucket(INTERVAL '15 minutes', ts)
        |           - t.k * INTERVAL '15 minutes' AS ws,
        |         user_id
        |  FROM events, unnest(range(0, 4)) t(k)),
        |wdd AS (SELECT ws, user_id, count(*)::BIGINT AS n_ev
        |        FROM wd GROUP BY 1, 2),
        |wda AS (SELECT ws, count(*)::BIGINT AS n_users, sum(n_ev)::BIGINT AS n_events
        |        FROM wdd GROUP BY 1)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start,
        |       n_users, n_events,
        |       n_events * 1000000 // n_users AS events_per_user_ppm
        |FROM wda ORDER BY win_start""".stripMargin,
    "q230_delay_histogram" -> {
      import graft.operators.Relational.DelayCapHours
      s"""WITH dj AS (
        |  SELECT c.ts AS c_ts, p.ts AS p_ts
        |  FROM (SELECT *, -epoch_us(ts) AS negts FROM events WHERE event_type = 'click') c
        |  ASOF LEFT JOIN (SELECT *, -epoch_us(ts) AS negts
        |                  FROM events WHERE event_type = 'purchase') p
        |    ON c.user_id = p.user_id AND c.negts >= p.negts),
        |db AS (SELECT least((epoch_us(p_ts) - epoch_us(c_ts)) // 3600000000,
        |                    $DelayCapHours) AS delay_hours,
        |              count(*)::BIGINT AS n_conversions
        |       FROM dj WHERE p_ts IS NOT NULL GROUP BY 1),
        |dt AS (SELECT sum(n_conversions)::BIGINT AS n_total FROM db)
        |SELECT delay_hours, n_conversions,
        |       n_conversions * 1000000 // dt.n_total AS share_ppm
        |FROM db, dt ORDER BY delay_hours""".stripMargin
    },
    "q231_kcore" -> {
      import graft.operators.Graph.KcorePeelRounds
      // unrolled peel: alive_r = nodes of alive_{r-1} whose degree in the
      // alive-induced subgraph is >= k (a node with no surviving edge has
      // no degree row — the inner join drops it, matching the engine's
      // coalesce(d, 0) < k filter)
      def peel(k: Int, start: String, pfx: String): String =
        (1 to KcorePeelRounds).map { r =>
          val prev = if (r == 1) start else s"$pfx${r - 1}"
          s"""${pfx}d$r AS MATERIALIZED (
             |  SELECT e.u AS doc_id, count(*) AS d FROM ed e
             |  JOIN $prev a ON e.u = a.doc_id
             |  JOIN $prev b ON e.v = b.doc_id GROUP BY 1),
             |$pfx$r AS MATERIALIZED (
             |  SELECT a.doc_id FROM $prev a
             |  JOIN ${pfx}d$r d ON a.doc_id = d.doc_id WHERE d.d >= $k)""".stripMargin
        }.mkString(",\n")
      jaccardCte + s""",
        |vp AS MATERIALIZED (SELECT i AS doc_a, j AS doc_b FROM jac WHERE jaccard >= 0.8),
        |ed AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM vp
        |       UNION ALL SELECT doc_b, doc_a FROM vp),
        |deg0 AS MATERIALIZED (SELECT u AS doc_id, count(*)::BIGINT AS degree
        |       FROM ed GROUP BY 1),
        |a0 AS (SELECT doc_id FROM deg0),
        |${peel(2, "a0", "c2_")},
        |${peel(3, s"c2_$KcorePeelRounds", "c3_")}
        |SELECT g.doc_id, g.degree,
        |       (c2.doc_id IS NOT NULL) AS in_2core,
        |       (c3.doc_id IS NOT NULL) AS in_3core
        |FROM deg0 g
        |LEFT JOIN c2_$KcorePeelRounds c2 ON g.doc_id = c2.doc_id
        |LEFT JOIN c3_$KcorePeelRounds c3 ON g.doc_id = c3.doc_id
        |ORDER BY g.doc_id""".stripMargin
    },
    "q232_audio_codec" -> {
      import graft.operators.Multimodal.WavSamples
      s"""WITH ah AS (SELECT doc_id, ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
        |            FROM documents),
        |asmp AS (SELECT doc_id, i,
        |                ((h % 1048576) * 17 + i * 89 + (i * i) % 241) % 256 AS v
        |         FROM ah, unnest(range(0, $WavSamples)) t(i)),
        |aw AS (SELECT doc_id, v,
        |              lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
        |       FROM asmp)
        |SELECT doc_id, $WavSamples::BIGINT AS n_samples,
        |       max(abs(v - 128))::BIGINT AS peak_dev,
        |       sum((v - 128) * (v - 128))::BIGINT AS energy,
        |       sum(CASE WHEN pv IS NOT NULL AND ((pv < 128) <> (v < 128))
        |                THEN 1 ELSE 0 END)::BIGINT AS zero_cross
        |FROM aw GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "q233_mrl_truncate" -> {
      val pds = graft.operators.Similarity.MrlPrefixes.mkString(", ")
      val full = graft.operators.Similarity.Dims
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |mq AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |pds AS (SELECT unnest([$pds]) AS pd),
        |tp AS MATERIALIZED (
        |  SELECT p.pd, q.query_id, e.vec_id AS nb,
        |         list_dot_product(q.qv[1:p.pd], e.v[1:p.pd]) /
        |           (sqrt(list_dot_product(q.qv[1:p.pd], q.qv[1:p.pd])) *
        |            sqrt(list_dot_product(e.v[1:p.pd], e.v[1:p.pd]))) AS c
        |  FROM pds p CROSS JOIN mq q JOIN e ON e.vec_id <> q.query_id),
        |r1 AS (SELECT pd, query_id, nb,
        |              row_number() OVER (PARTITION BY pd, query_id
        |                ORDER BY c DESC, nb ASC) AS rnk
        |       FROM tp),
        |t1 AS MATERIALIZED (SELECT pd, query_id, nb FROM r1 WHERE rnk = 1),
        |f1 AS (SELECT query_id, nb AS fnb FROM t1 WHERE pd = $full),
        |cos64 AS MATERIALIZED (
        |  SELECT query_id, nb, round(c, 6) AS c64 FROM tp WHERE pd = $full)
        |SELECT t.pd AS prefix_dim, t.query_id, t.nb AS trunc_top1,
        |       f.fnb AS full_top1, (t.nb = f.fnb) AS top1_match,
        |       CAST(floor((cf.c64 - ct.c64) * 1000000 + 0.5) AS BIGINT) AS regret_ppm
        |FROM t1 t
        |JOIN f1 f ON f.query_id = t.query_id
        |JOIN cos64 cf ON cf.query_id = t.query_id AND cf.nb = f.fnb
        |JOIN cos64 ct ON ct.query_id = t.query_id AND ct.nb = t.nb
        |ORDER BY prefix_dim, t.query_id""".stripMargin
    },
    "q234_backoff_lm" -> {
      import graft.operators.TextAnalysis.BackoffAlpha
      s"""WITH btk AS (
        |  SELECT doc_id, i - 1 AS pos, w[i] AS tok
        |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w
        |        FROM documents),
        |       unnest(range(1, len(w) + 1)) t(i)),
        |bsp AS (SELECT count(*) // 2 AS s FROM documents),
        |btr AS MATERIALIZED (SELECT * FROM btk WHERE doc_id < (SELECT s FROM bsp)),
        |buc AS MATERIALIZED (SELECT tok, count(*) AS c FROM btr GROUP BY 1),
        |bnn AS (SELECT sum(c)::BIGINT AS n FROM buc),
        |bbc AS MATERIALIZED (
        |  SELECT a.tok AS w1, b.tok AS w2, count(*) AS bcc
        |  FROM btr a JOIN btr b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  GROUP BY 1, 2),
        |bhb AS MATERIALIZED (
        |  SELECT a.doc_id, a.tok AS w1, b.tok AS w2, count(*) AS k
        |  FROM btk a JOIN btk b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  WHERE a.doc_id >= (SELECT s FROM bsp)
        |  GROUP BY 1, 2, 3),
        |bsc AS (
        |  SELECT h.doc_id, h.k,
        |         CASE WHEN bbc.bcc IS NOT NULL THEN bbc.bcc::DOUBLE / u1.c
        |              ELSE $BackoffAlpha * (coalesce(u2.c, 0) + 1)::DOUBLE
        |                   / ((SELECT n FROM bnn) + 1) END AS s,
        |         CASE WHEN bbc.bcc IS NULL THEN h.k ELSE 0 END AS nb
        |  FROM bhb h
        |  LEFT JOIN bbc ON bbc.w1 = h.w1 AND bbc.w2 = h.w2
        |  LEFT JOIN buc u1 ON u1.tok = h.w1
        |  LEFT JOIN buc u2 ON u2.tok = h.w2),
        |bp AS (SELECT doc_id, sum(k)::BIGINT AS n_scored,
        |              sum(nb)::BIGINT AS n_backoff,
        |              sum(k * -ln(s)) / sum(k) AS x
        |       FROM bsc GROUP BY 1)
        |SELECT d.doc_id, coalesce(bp.n_scored, 0)::BIGINT AS n_scored,
        |       coalesce(bp.n_backoff, 0)::BIGINT AS n_backoff,
        |       round(coalesce(bp.x, 0.0), 6) AS xent
        |FROM (SELECT doc_id FROM documents WHERE doc_id >= (SELECT s FROM bsp)) d
        |LEFT JOIN bp USING (doc_id) ORDER BY d.doc_id""".stripMargin
    },
    "q235_attribution_models" -> {
      import graft.operators.Relational.AttribLookbackUs
      s"""WITH ape AS (SELECT event_id AS p_id, user_id, epoch_us(ts) AS pus,
        |                    floor(value * 100 + 0.5)::BIGINT AS cents
        |             FROM events WHERE event_type = 'purchase'),
        |att AS (SELECT user_id, event_id AS t_id, epoch_us(ts) AS tus,
        |               event_type AS channel
        |        FROM events WHERE event_type IN ('view', 'click', 'signup')),
        |aj AS MATERIALIZED (
        |  SELECT p.p_id, p.cents, t.t_id, t.tus, t.channel
        |  FROM ape p LEFT JOIN att t ON t.user_id = p.user_id
        |    AND t.tus < p.pus AND t.tus >= p.pus - $AttribLookbackUs),
        |aag AS MATERIALIZED (
        |  SELECT p_id, max(cents) AS cents, count(t_id) AS n,
        |         min({'tus': tus, 'tid': t_id, 'ch': channel}) AS f,
        |         max({'tus': tus, 'tid': t_id, 'ch': channel}) AS l
        |  FROM aj GROUP BY 1),
        |cred AS (
        |  SELECT 'first' AS model, coalesce(f.ch, '(none)') AS channel,
        |         cents * 10000 AS credit FROM aag
        |  UNION ALL
        |  SELECT 'last', coalesce(l.ch, '(none)'), cents * 10000 FROM aag
        |  UNION ALL
        |  SELECT 'linear', coalesce(j.channel, '(none)'),
        |         CASE WHEN g.n > 0 THEN j.cents * 10000 // g.n
        |              ELSE j.cents * 10000 END
        |  FROM aj j JOIN aag g USING (p_id))
        |SELECT model, channel, count(*)::BIGINT AS n_credits,
        |       sum(credit)::BIGINT AS credit_microcents
        |FROM cred GROUP BY 1, 2 ORDER BY model, channel""".stripMargin
    },
    "q236_segment_migration" ->
      """WITH mmid AS (SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid
        |              FROM events),
        |mpu AS (SELECT user_id,
        |               sum(CASE WHEN epoch_us(ts) < (SELECT mid FROM mmid)
        |                        THEN 1 ELSE 0 END) AS na,
        |               sum(CASE WHEN epoch_us(ts) >= (SELECT mid FROM mmid)
        |                        THEN 1 ELSE 0 END) AS nb
        |        FROM events GROUP BY 1),
        |msg AS (SELECT CASE WHEN na = 0 THEN 0
        |                    ELSE length(bin(na::BIGINT)) END::INT AS seg_a,
        |               CASE WHEN nb = 0 THEN 0
        |                    ELSE length(bin(nb::BIGINT)) END::INT AS seg_b
        |        FROM mpu),
        |mc AS (SELECT seg_a, seg_b, count(*)::BIGINT AS n_users FROM msg GROUP BY 1, 2),
        |mt AS (SELECT sum(n_users)::BIGINT AS n_total FROM mc)
        |SELECT seg_a, seg_b, n_users, n_users * 1000000 // mt.n_total AS share_ppm
        |FROM mc, mt ORDER BY seg_a, seg_b""".stripMargin,
    "q237_stream_outer_join_exec" ->
      """WITH oc AS (SELECT event_id AS click_id, user_id, ts AS cts, epoch_us(ts) AS cus
        |            FROM events WHERE event_type = 'click'),
        |ov AS (SELECT event_id AS view_id, user_id, ts AS vts, epoch_us(ts) AS vus
        |       FROM events WHERE event_type = 'view'),
        |wmf AS (SELECT least((SELECT max(cus) FROM oc), (SELECT max(vus) FROM ov))
        |               - 600000000 AS wm),
        |oj AS (SELECT c.click_id, c.user_id, c.cts, c.cus, v.view_id, v.vts
        |       FROM oc c LEFT JOIN ov v ON v.user_id = c.user_id
        |         AND v.vus <= c.cus AND v.vus >= c.cus - 1800000000)
        |SELECT click_id, user_id, strftime(cts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |       coalesce(view_id, -1) AS view_id,
        |       coalesce(strftime(vts, '%Y-%m-%d %H:%M:%S'), '-') AS view_ts
        |FROM oj, wmf
        |WHERE view_id IS NOT NULL OR cus < wm
        |ORDER BY click_id, view_id""".stripMargin,
    "q238_detector_venn" -> {
      import graft.operators.Dedup.{ContainmentThreshold, JaccardThreshold}
      jaccardCte + s""",
        |toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '[^ \t\n\r]+')) AS tok
        |  FROM documents),
        |sh48 AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
        |sbits AS (
        |  SELECT doc_id, b, sum(((h >> b) & 1) * 2 - 1) AS s
        |  FROM sh48, unnest(range(0, 48)) t(b)
        |  GROUP BY doc_id, b),
        |sim AS MATERIALIZED (
        |  SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT
        |           AS simhash
        |  FROM sbits GROUP BY doc_id),
        |vm AS MATERIALIZED (SELECT i AS a, j AS b FROM jac
        |      WHERE jaccard >= $JaccardThreshold),
        |vs AS MATERIALIZED (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
        |vc AS MATERIALIZED (
        |  SELECT i AS a, j AS b FROM inter
        |  JOIN sizes si ON si.doc_id = i JOIN sizes sj ON sj.doc_id = j
        |  WHERE floor(c::DOUBLE / least(si.n, sj.n)::DOUBLE * 1000000.0 + 0.5)
        |          / 1000000.0 >= $ContainmentThreshold),
        |vall AS (SELECT a, b FROM vm UNION SELECT a, b FROM vs UNION SELECT a, b FROM vc),
        |vfl AS (
        |  SELECT (m.a IS NOT NULL) AS in_minhash, (s.a IS NOT NULL) AS in_simhash,
        |         (c.a IS NOT NULL) AS in_containment
        |  FROM vall al
        |  LEFT JOIN vm m ON m.a = al.a AND m.b = al.b
        |  LEFT JOIN vs s ON s.a = al.a AND s.b = al.b
        |  LEFT JOIN vc c ON c.a = al.a AND c.b = al.b)
        |SELECT in_minhash, in_simhash, in_containment, count(*)::BIGINT AS n_pairs
        |FROM vfl GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
    },
    "q239_csv_roundtrip_agg" ->
      """SELECT source, lang, count(*)::BIGINT AS n_docs,
        |       sum(n_chars)::BIGINT AS sum_chars,
        |       sum(length(text))::BIGINT AS sum_text_len,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM documents GROUP BY 1, 2 ORDER BY source, lang""".stripMargin,
    "q240_stickiness" -> {
      import graft.operators.Relational.{RetentionEpochMs, WeekMs}
      s"""WITH sb AS (SELECT DISTINCT
        |              floor((epoch_ms(ts) - $RetentionEpochMs) / $WeekMs.0)::BIGINT AS wk,
        |              floor((epoch_ms(ts) - $RetentionEpochMs) / 86400000.0)::BIGINT AS day,
        |              user_id
        |            FROM events),
        |sd AS (SELECT wk, day, count(*)::BIGINT AS dau FROM sb GROUP BY 1, 2),
        |sw AS (SELECT wk, count(*)::BIGINT AS n_days, sum(dau)::BIGINT AS sum_dau
        |       FROM sd GROUP BY 1),
        |su AS (SELECT wk, count(*)::BIGINT AS wau
        |       FROM (SELECT DISTINCT wk, user_id FROM sb) GROUP BY 1)
        |SELECT w.wk, w.n_days, w.sum_dau, u.wau,
        |       w.sum_dau * 1000000 // (w.n_days * u.wau) AS stickiness_ppm
        |FROM sw w JOIN su u USING (wk) ORDER BY wk""".stripMargin
    },
    "q241_cf_eval" -> {
      import graft.operators.Graph.{ItemNeighborsK, MaxBasketItems, MinCoocSupport}
      s"""WITH eitems AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |ecap AS MATERIALIZED (
        |  SELECT l_orderkey, l_partkey FROM (
        |    SELECT l_orderkey, l_partkey,
        |           row_number() OVER (PARTITION BY l_orderkey ORDER BY
        |             ('0x' || substr(md5('bk_' || l_orderkey || '_' || l_partkey), 1, 7))::BIGINT,
        |             l_partkey) AS rn
        |    FROM eitems) WHERE rn <= $MaxBasketItems),
        |etr AS MATERIALIZED (SELECT * FROM ecap WHERE l_orderkey % 2 = 0),
        |ete AS MATERIALIZED (SELECT * FROM ecap WHERE l_orderkey % 2 = 1),
        |epairs AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*)::BIGINT AS n_ab
        |  FROM etr a JOIN etr b USING (l_orderkey)
        |  WHERE a.l_partkey < b.l_partkey GROUP BY 1, 2
        |  HAVING count(*) >= $MinCoocSupport),
        |esupp AS (SELECT l_partkey, count(*)::BIGINT AS n FROM etr GROUP BY 1),
        |esym AS (SELECT pa AS item, pb AS neighbor, n_ab FROM epairs
        |         UNION ALL SELECT pb, pa, n_ab FROM epairs),
        |esc AS (
        |  SELECT s.item, s.neighbor,
        |         floor(s.n_ab::DOUBLE / sqrt((si.n * sn.n)::DOUBLE)
        |               * 1000000.0 + 0.5)::BIGINT AS cos_ppm
        |  FROM esym s
        |  JOIN esupp si ON si.l_partkey = s.item
        |  JOIN esupp sn ON sn.l_partkey = s.neighbor),
        |erec AS MATERIALIZED (
        |  SELECT item, neighbor FROM (
        |    SELECT item, neighbor,
        |           row_number() OVER (PARTITION BY item
        |             ORDER BY cos_ppm DESC, neighbor ASC) AS rnk
        |    FROM esc) WHERE rnk <= $ItemNeighborsK),
        |ebsz AS (SELECT l_orderkey, count(*)::BIGINT AS bsz FROM ete GROUP BY 1),
        |eeval AS (
        |  SELECT t.l_orderkey, t.l_partkey AS item
        |  FROM ete t JOIN ebsz z USING (l_orderkey)
        |  WHERE z.bsz >= 2
        |    AND t.l_partkey IN (SELECT DISTINCT item FROM erec)),
        |ehit AS (
        |  SELECT e.l_orderkey, e.item,
        |         max(CASE WHEN p.l_partkey IS NOT NULL THEN 1 ELSE 0 END) AS hit
        |  FROM eeval e JOIN erec r ON r.item = e.item
        |  LEFT JOIN ete p ON p.l_orderkey = e.l_orderkey AND p.l_partkey = r.neighbor
        |  GROUP BY 1, 2)
        |SELECT (SELECT count(*) FROM ebsz)::BIGINT AS n_test_baskets,
        |       count(*)::BIGINT AS n_evaluable,
        |       sum(hit)::BIGINT AS n_hits,
        |       CASE WHEN count(*) > 0 THEN sum(hit) * 1000000 // count(*)
        |            ELSE 0 END::BIGINT AS hitrate_ppm
        |FROM ehit""".stripMargin
    },
    "q242_corr_matrix" -> {
      val pairs = for {
        i <- graft.operators.Relational.CorrCols.indices
        j <- (i + 1) until graft.operators.Relational.CorrCols.size
      } yield (graft.operators.Relational.CorrCols(i),
        graft.operators.Relational.CorrCols(j))
      val sel = pairs.map { case (a, b) =>
        s"SELECT '$a' AS col_a, '$b' AS col_b, round(corr($a, $b), 6) AS pearson, count(*)::BIGINT AS n FROM lineitem"
      }.mkString("\n UNION ALL\n ")
      s"$sel\n ORDER BY col_a, col_b"
    },
    "q243_orc_roundtrip_agg" ->
      """SELECT lang, count(*)::BIGINT AS n_docs,
        |       count(DISTINCT source)::BIGINT AS n_sources,
        |       sum(n_chars)::BIGINT AS sum_chars,
        |       sum(length(text))::BIGINT AS sum_text_len,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin,
    "q244_bm25_eval" -> {
      import graft.operators.Indexing.{Bm25B, Bm25K1, KnownItemEvery, KnownItemTerms, KnownItemTopK}
      s"""WITH kdt AS MATERIALIZED (
        |  SELECT doc_id, tok AS term, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2),
        |kdl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM kdt GROUP BY 1),
        |kst AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM kdl),
        |kdf AS (SELECT term, count(*)::BIGINT AS df FROM kdt GROUP BY 1),
        |kq AS MATERIALIZED (
        |  SELECT doc_id AS query_id, term, df FROM (
        |    SELECT t.doc_id, t.term, f.df,
        |           row_number() OVER (PARTITION BY t.doc_id
        |             ORDER BY f.df ASC, t.term ASC) AS rn
        |    FROM kdt t JOIN kdf f USING (term)
        |    WHERE t.doc_id % $KnownItemEvery = 0) WHERE rn <= $KnownItemTerms),
        |ksc AS (
        |  SELECT q.query_id, t.doc_id,
        |         round(sum(ln((kst.n_docs - q.df + 0.5) / (q.df + 0.5) + 1.0)
        |               * (t.tf * ${Bm25K1 + 1.0})
        |               / (t.tf + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B * l.dl / kst.avgdl))), 6)
        |           AS bm25
        |  FROM kq q JOIN kdt t USING (term) JOIN kdl l ON l.doc_id = t.doc_id, kst
        |  GROUP BY 1, 2),
        |krk AS MATERIALIZED (
        |  SELECT query_id, doc_id,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY bm25 DESC, doc_id ASC) AS rnk
        |  FROM ksc),
        |kt AS (SELECT query_id, doc_id AS top1_doc FROM krk WHERE rnk = 1),
        |ks AS (SELECT query_id, rnk AS self_rank FROM krk
        |       WHERE query_id = doc_id AND rnk <= $KnownItemTopK)
        |SELECT q.query_id, t.top1_doc, coalesce(s.self_rank, -1)::INT AS self_rank,
        |       (CASE WHEN s.self_rank IS NOT NULL THEN 1000000 // s.self_rank
        |             ELSE 0 END)::BIGINT AS rr_ppm
        |FROM (SELECT DISTINCT query_id FROM kq) q
        |JOIN kt t USING (query_id) LEFT JOIN ks s USING (query_id)
        |ORDER BY q.query_id""".stripMargin
    },
    "q245_seasonal_baseline" -> {
      import graft.operators.Relational.{RetentionEpochMs, WeekMs}
      s"""WITH sbb AS (
        |  SELECT event_type,
        |         ((epoch_ms(ts) - $RetentionEpochMs) // $WeekMs)::INT AS wk,
        |         (((epoch_ms(ts) - $RetentionEpochMs) // 3600000) % 24)::INT AS hh,
        |         count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2, 3),
        |sbt AS (SELECT DISTINCT event_type FROM sbb),
        |sbw AS (SELECT DISTINCT wk FROM sbb),
        |sbnw AS (SELECT count(*)::BIGINT AS n_weeks FROM sbw),
        |sbsp AS (SELECT event_type, wk, h::INT AS hh
        |         FROM sbt, sbw, unnest(range(0, 24)) t(h)),
        |sbd AS (SELECT s.event_type, s.wk, s.hh, coalesce(b.n, 0)::BIGINT AS n
        |        FROM sbsp s LEFT JOIN sbb b USING (event_type, wk, hh)),
        |sbtot AS (SELECT event_type, hh, sum(n)::BIGINT AS tot FROM sbd GROUP BY 1, 2)
        |SELECT d.event_type, d.wk, d.hh, d.n, t.tot, nw.n_weeks,
        |       CASE WHEN t.tot > 0 THEN d.n * nw.n_weeks * 1000000 // t.tot
        |            ELSE 0 END AS ratio_ppm,
        |       (d.n * nw.n_weeks * 2 > t.tot * 3) AS flag_hi,
        |       (d.n * nw.n_weeks * 3 < t.tot * 2) AS flag_lo
        |FROM sbd d JOIN sbtot t USING (event_type, hh), sbnw nw
        |ORDER BY event_type, wk, hh""".stripMargin
    },
    "q246_dp_counts" -> {
      import graft.operators.Relational.DpEpsilon
      s"""WITH dpc AS (SELECT lang, count(*)::BIGINT AS n_docs FROM documents GROUP BY 1),
        |dpn AS (
        |  SELECT lang, n_docs,
        |         floor(${-1.0 / DpEpsilon} * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5))
        |               * 1000000.0)::BIGINT AS noise_micro
        |  FROM (SELECT lang, n_docs,
        |               (('0x' || substr(md5('dp_' || lang), 1, 7))::BIGINT + 0.5)
        |                 / 268435456.0 AS u
        |        FROM dpc))
        |SELECT lang, n_docs, noise_micro,
        |       n_docs + floor((noise_micro + 500000) / 1000000.0)::BIGINT AS noisy_count,
        |       $DpEpsilon::DOUBLE AS epsilon
        |FROM dpn ORDER BY lang""".stripMargin
    },
    "q247_session_entropy" ->
      """WITH seut AS (SELECT user_id, event_type, count(*)::BIGINT AS c
        |              FROM events GROUP BY 1, 2),
        |setot AS (SELECT user_id, sum(c)::BIGINT AS n, count(*)::BIGINT AS n_types
        |          FROM seut GROUP BY 1),
        |seterm AS (
        |  SELECT u.user_id, t.n, t.n_types,
        |         floor((u.c::DOUBLE / t.n) * ln(t.n::DOUBLE / u.c) * 1000000000.0)::BIGINT
        |           AS term_nano
        |  FROM seut u JOIN setot t USING (user_id))
        |SELECT user_id, max(n)::BIGINT AS n_events, max(n_types)::BIGINT AS n_types,
        |       sum(term_nano)::BIGINT AS entropy_nano
        |FROM seterm GROUP BY 1 ORDER BY user_id""".stripMargin,
    "q248_link_prediction" -> {
      import graft.operators.Graph.LinkPredTopK
      {
        import graft.operators.Graph.{MaxBasketItems, MinCoocSupport}
        s"""WITH lpi AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |lpc AS MATERIALIZED (
        |  SELECT l_orderkey, l_partkey FROM (
        |    SELECT l_orderkey, l_partkey,
        |           row_number() OVER (PARTITION BY l_orderkey ORDER BY
        |             ('0x' || substr(md5('bk_' || l_orderkey || '_' || l_partkey), 1, 7))::BIGINT,
        |             l_partkey) AS rn
        |    FROM lpi) WHERE rn <= $MaxBasketItems),
        |lpf AS MATERIALIZED (
        |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
        |  FROM lpc a JOIN lpc b USING (l_orderkey)
        |  WHERE a.l_partkey < b.l_partkey GROUP BY 1, 2
        |  HAVING count(*) >= $MinCoocSupport),
        |lobs AS MATERIALIZED (
        |  SELECT part_a, part_b FROM lpf
        |  WHERE ('0x' || substr(md5('lp_' || part_a || '_' || part_b), 1, 7))::BIGINT
        |          % 2 = 0),
        |ed AS MATERIALIZED (SELECT part_a AS u, part_b AS v FROM lobs
        |       UNION ALL SELECT part_b, part_a FROM lobs),
        |ldeg AS (SELECT u AS item, count(*)::BIGINT AS deg FROM ed GROUP BY 1),
        |lw AS (SELECT a.u AS a, b.v AS b, count(*)::BIGINT AS common
        |       FROM ed a JOIN ed b ON a.v = b.u WHERE a.u < b.v GROUP BY 1, 2),
        |lne AS (SELECT w.a, w.b, w.common FROM lw w
        |        LEFT JOIN lobs p ON p.part_a = w.a AND p.part_b = w.b
        |        WHERE p.part_a IS NULL)
        |SELECT n.a AS item_a, n.b AS item_b, n.common, da.deg AS da, db.deg AS db,
        |       n.common * 1000000 // (da.deg + db.deg - n.common) AS jaccard_ppm,
        |       (f.part_a IS NOT NULL) AS is_hidden_edge
        |FROM lne n
        |JOIN ldeg da ON da.item = n.a
        |JOIN ldeg db ON db.item = n.b
        |LEFT JOIN lpf f ON f.part_a = n.a AND f.part_b = n.b
        |ORDER BY jaccard_ppm DESC, item_a ASC, item_b ASC
        |LIMIT $LinkPredTopK""".stripMargin
      }
    },
    "q249_fk_discovery" -> {
      val branches = graft.operators.DataQuality.FkCandidates
        .map { case (ct, cc, pt, pc) =>
          s"""SELECT '$ct.$cc' AS child_col, '$pt.$pc' AS parent_col,
             |  (SELECT count(DISTINCT $cc) FROM $ct WHERE $cc IS NOT NULL)::BIGINT
             |    AS n_child_distinct,
             |  (SELECT count(*) FROM (SELECT DISTINCT $cc AS v FROM $ct
             |                         WHERE $cc IS NOT NULL) c
             |   WHERE c.v IN (SELECT $pc FROM $pt))::BIGINT AS n_matched""".stripMargin
        }.mkString("\nUNION ALL\n")
      s"""SELECT child_col, parent_col, n_child_distinct, n_matched,
         |       n_matched * 1000000 // n_child_distinct AS containment_ppm,
         |       n_matched = n_child_distinct AS discovered
         |FROM (
         |$branches
         |) ORDER BY child_col, parent_col""".stripMargin
    },
    "q250_neg_sampling" -> {
      import graft.operators.TextAnalysis.{NegSampleAlpha, NegSampleV}
      s"""WITH nsc AS (SELECT tok, count(*)::BIGINT AS cnt
        |             FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
        |                   FROM documents) GROUP BY 1),
        |nsh AS (SELECT tok, cnt,
        |               floor(pow(cnt::DOUBLE, $NegSampleAlpha) * 1000000.0)::BIGINT
        |                 AS w_micro
        |        FROM nsc ORDER BY cnt DESC, tok ASC LIMIT $NegSampleV),
        |nst AS (SELECT sum(w_micro)::BIGINT AS wt FROM nsh),
        |nsr AS (SELECT tok, cnt, w_micro,
        |               row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rnk,
        |               w_micro * 1000000 // nst.wt AS share_ppm
        |        FROM nsh, nst),
        |nscum AS (SELECT rnk::INT AS "rank", tok, cnt, w_micro, share_ppm,
        |                 sum(share_ppm) OVER (ORDER BY rnk
        |                   ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_hi
        |          FROM nsr)
        |SELECT "rank", tok, cnt, w_micro, share_ppm,
        |       (cum_hi - share_ppm)::BIGINT AS cum_lo, cum_hi
        |FROM nscum ORDER BY "rank"""".stripMargin
    },
    "q251_postings_compression" ->
      """WITH pcp AS (SELECT DISTINCT doc_id, tok AS term
        |             FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
        |                   FROM documents)),
        |pcd AS (SELECT term,
        |               doc_id - coalesce(lag(doc_id) OVER (PARTITION BY term
        |                 ORDER BY doc_id ASC), 0) AS delta
        |        FROM pcp),
        |pcv AS (SELECT term,
        |               (length(bin(delta::BIGINT)) + 6) // 7 AS vbytes
        |        FROM pcd),
        |pca AS (SELECT term, count(*)::BIGINT AS df, sum(vbytes)::BIGINT AS varint_bytes
        |        FROM pcv GROUP BY 1)
        |SELECT term, df, df * 8 AS raw_bytes, varint_bytes,
        |       (df * 8 - varint_bytes) * 1000000 // (df * 8) AS savings_ppm
        |FROM pca ORDER BY term""".stripMargin,
    "q252_association_rules" -> {
      import graft.operators.Graph.{MaxBasketItems, MinCoocSupport, RulesTopK}
      s"""WITH ari AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |arc AS MATERIALIZED (
        |  SELECT l_orderkey, l_partkey FROM (
        |    SELECT l_orderkey, l_partkey,
        |           row_number() OVER (PARTITION BY l_orderkey ORDER BY
        |             ('0x' || substr(md5('bk_' || l_orderkey || '_' || l_partkey), 1, 7))::BIGINT,
        |             l_partkey) AS rn
        |    FROM ari) WHERE rn <= $MaxBasketItems),
        |arn AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n_baskets FROM arc),
        |arp AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*)::BIGINT AS n_ab
        |        FROM arc a JOIN arc b USING (l_orderkey)
        |        WHERE a.l_partkey < b.l_partkey GROUP BY 1, 2
        |        HAVING count(*) >= $MinCoocSupport),
        |ars AS (SELECT l_partkey AS item, count(*)::BIGINT AS n FROM arc GROUP BY 1),
        |arr AS (SELECT pa AS antecedent, pb AS consequent, n_ab FROM arp
        |        UNION ALL SELECT pb, pa, n_ab FROM arp)
        |SELECT r.antecedent, r.consequent, r.n_ab, sa.n AS n_a, sb.n AS n_b,
        |       r.n_ab * 1000000 // sa.n AS confidence_ppm,
        |       r.n_ab * arn.n_baskets * 1000000 // (sa.n * sb.n) AS lift_ppm
        |FROM arr r
        |JOIN ars sa ON sa.item = r.antecedent
        |JOIN ars sb ON sb.item = r.consequent, arn
        |ORDER BY lift_ppm DESC, confidence_ppm DESC, antecedent ASC, consequent ASC
        |LIMIT $RulesTopK""".stripMargin
    },
    "q253_salt_evenness" -> {
      import graft.operators.Skew.EvennessSalts
      s"""WITH seh AS (SELECT user_id, count(*)::BIGINT AS n FROM events GROUP BY 1),
        |sehot AS (SELECT user_id AS hot_user, n AS hot_total FROM seh
        |          ORDER BY n DESC, user_id ASC LIMIT 1),
        |seb AS (SELECT ('0x' || substr(md5('salt_' || e.event_id), 1, 7))::BIGINT
        |                 % $EvennessSalts AS salt,
        |               count(*)::BIGINT AS n_rows
        |        FROM events e JOIN sehot h ON e.user_id = h.hot_user
        |        GROUP BY 1)
        |SELECT b.salt::INT AS salt, h.hot_user, b.n_rows,
        |       b.n_rows * 1000000 // h.hot_total AS share_ppm
        |FROM seb b, sehot h ORDER BY salt""".stripMargin
    },
    "q254_quality_length_ols" ->
      (qualityCte + """,
        |olsf AS (SELECT q.quality_score AS y, ln(d.n_chars::DOUBLE) AS x
        |         FROM qual q JOIN documents d USING (doc_id)
        |         WHERE d.n_chars > 0)
        |SELECT count(*)::BIGINT AS n, round(regr_slope(y, x), 6) AS slope,
        |       round(regr_intercept(y, x), 6) AS intercept,
        |       round(corr(y, x), 6) AS pearson
        |FROM olsf""".stripMargin),
    "q255_session_durations" -> {
      import graft.streaming.EventStream.SessionDurCapMin
      sessionCte + s""",
        |sd AS (SELECT user_id, session_no, count(*)::BIGINT AS n_events,
        |              min(epoch_ms(ts)) AS a, max(epoch_ms(ts)) AS b
        |       FROM s GROUP BY 1, 2),
        |sdb AS (SELECT least((b - a) // 60000, $SessionDurCapMin) AS duration_min,
        |               count(*)::BIGINT AS n_sessions, sum(n_events)::BIGINT AS n_events
        |        FROM sd GROUP BY 1),
        |sdt AS (SELECT sum(n_sessions)::BIGINT AS n_total FROM sdb)
        |SELECT duration_min, n_sessions, n_events,
        |       n_sessions * 1000000 // sdt.n_total AS share_ppm,
        |       n_events * 1000000 // n_sessions AS events_per_session_ppm
        |FROM sdb, sdt ORDER BY duration_min""".stripMargin
    },
    "q256_topic_coherence" -> {
      import graft.operators.Pipeline.KeywordsPerCluster
      materializeCtes(ivfHierCellsCte + s""",
        |toks AS (
        |  SELECT c.cent_id, u.token
        |  FROM cells c JOIN documents d ON d.doc_id = c.vec_id,
        |       unnest(regexp_extract_all(lower(d.text), '[a-z]+')) u(token)
        |),
        |tf AS (SELECT cent_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
        |idf AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |nc AS (SELECT count(DISTINCT cent_id) AS ncells FROM cells),
        |sc AS (
        |  SELECT f.cent_id, f.token,
        |         f.tf * ((SELECT ncells FROM nc) + 1.0) / (i.df + 1.0) AS score
        |  FROM tf f JOIN idf i USING (token)
        |),
        |rankedk AS (
        |  SELECT cent_id, token, score,
        |         row_number() OVER (PARTITION BY cent_id ORDER BY score DESC, token ASC) AS rnk
        |  FROM sc
        |),
        |ckw AS (SELECT cent_id, rnk, token FROM rankedk
        |        WHERE rnk <= $KeywordsPerCluster),
        |ckt AS (SELECT DISTINCT token FROM ckw),
        |cdt AS (
        |  SELECT DISTINCT d.doc_id, u.token
        |  FROM documents d,
        |       unnest(regexp_extract_all(lower(d.text), '[a-z]+')) u(token)
        |  WHERE u.token IN (SELECT token FROM ckt)),
        |cdw AS (SELECT token, count(*)::BIGINT AS d FROM cdt GROUP BY 1),
        |cd12 AS (
        |  SELECT a.token AS w1, b.token AS w2, count(*)::BIGINT AS d12
        |  FROM cdt a JOIN cdt b ON a.doc_id = b.doc_id AND a.token < b.token
        |  GROUP BY 1, 2),
        |cpp AS (
        |  SELECT a.cent_id, a.token AS wi, b.token AS wj
        |  FROM ckw a JOIN ckw b ON a.cent_id = b.cent_id AND a.rnk < b.rnk),
        |csum AS (
        |  SELECT p.cent_id,
        |         floor(ln((coalesce(x.d12, 0) + 1.0) / w.d)
        |               * 1000000000.0)::BIGINT AS t
        |  FROM cpp p
        |  JOIN cdw w ON w.token = p.wj
        |  LEFT JOIN cd12 x ON x.w1 = least(p.wi, p.wj)
        |                  AND x.w2 = greatest(p.wi, p.wj))
        |SELECT cent_id, count(*)::BIGINT AS n_pairs,
        |       sum(t)::BIGINT AS coherence_nano
        |FROM csum GROUP BY 1 ORDER BY cent_id""".stripMargin)
    },
    "q257_chi2_independence" ->
      """WITH x2o AS (SELECT lang, source, count(*)::BIGINT AS o
        |             FROM documents GROUP BY 1, 2),
        |x2r AS (SELECT lang, sum(o)::BIGINT AS r FROM x2o GROUP BY 1),
        |x2c AS (SELECT source, sum(o)::BIGINT AS c FROM x2o GROUP BY 1),
        |x2n AS (SELECT sum(o)::BIGINT AS nn FROM x2o),
        |x2d AS (SELECT r.lang, c.source, r.r, c.c,
        |               coalesce(o.o, 0)::BIGINT AS o
        |        FROM x2r r CROSS JOIN x2c c
        |        LEFT JOIN x2o o ON o.lang = r.lang AND o.source = c.source),
        |x2t AS (SELECT floor(((o * nn.nn - r * c) * (o * nn.nn - r * c))::DOUBLE
        |                     / (nn.nn * r * c)::DOUBLE * 1000000000.0)::BIGINT AS t
        |        FROM x2d, x2n nn)
        |SELECT count(*)::BIGINT AS n_cells,
        |       ((SELECT count(*) FROM x2r) - 1) * ((SELECT count(*) FROM x2c) - 1)
        |         AS dof,
        |       sum(t)::BIGINT AS chi2_nano
        |FROM x2t""".stripMargin,
    "q258_weekly_bands" -> {
      import graft.operators.Relational.{RetentionEpochMs, WeekMs}
      s"""SELECT event_type,
        |       ((epoch_ms(ts) - $RetentionEpochMs) // $WeekMs)::INT AS wk,
        |       count(*)::BIGINT AS n,
        |       round(quantile_cont(value, 0.5), 4) AS p50,
        |       round(quantile_cont(value, 0.9), 4) AS p90
        |FROM events GROUP BY 1, 2 ORDER BY event_type, wk""".stripMargin
    },
    "q259_benford" ->
      """WITH bfd AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100.0) AS BIGINT)
        |                          AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM orders),
        |bfc AS (SELECT digit, count(*)::BIGINT AS n FROM bfd
        |        WHERE digit >= 1 GROUP BY 1),
        |bft AS (SELECT sum(n)::BIGINT AS n_total FROM bfc)
        |SELECT digit, n,
        |       n * 1000000 // n_total AS share_ppm,
        |       floor(ln(1.0 + 1.0 / digit::DOUBLE) / ln(10.0) * 1000000.0)::BIGINT
        |         AS benford_ppm,
        |       n * 1000000 // n_total
        |         - floor(ln(1.0 + 1.0 / digit::DOUBLE) / ln(10.0) * 1000000.0)::BIGINT
        |         AS dev_ppm
        |FROM bfc CROSS JOIN bft ORDER BY digit""".stripMargin,
    "q260_changepoint" -> {
      import graft.operators.Relational.RetentionEpochMs
      s"""WITH cpd AS (
        |  SELECT (epoch_ms(ts) - $RetentionEpochMs) // 86400000 AS day,
        |         count(*)::BIGINT AS n
        |  FROM events GROUP BY 1),
        |cpt AS (SELECT count(*)::BIGINT AS dd, sum(n)::BIGINT AS nn FROM cpd),
        |cpc AS (SELECT day, n,
        |               sum(dd * n - nn) OVER (ORDER BY day
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |                 AS cusum_scaled
        |        FROM cpd CROSS JOIN cpt),
        |cpm AS (SELECT day AS cp_day FROM cpc
        |        ORDER BY abs(cusum_scaled) DESC, day ASC LIMIT 1)
        |SELECT day, n, cusum_scaled,
        |       CASE WHEN day = cp_day THEN 1 ELSE 0 END::BIGINT AS is_changepoint
        |FROM cpc CROSS JOIN cpm ORDER BY day""".stripMargin
    },
    "q261_readability" ->
      """WITH rdd AS (
        |  SELECT lang,
        |         len(regexp_extract_all(text, '[^ \t\n\r]+'))::BIGINT AS w,
        |         greatest(1, len(regexp_extract_all(text, '[.!?]+')))::BIGINT AS s,
        |         len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT AS y
        |  FROM documents),
        |rds AS (
        |  SELECT lang,
        |         greatest(0, floor((206.835
        |           - 1.015 * (w::DOUBLE / s::DOUBLE)
        |           - 84.6 * (y::DOUBLE / w::DOUBLE)) * 1000000.0)::BIGINT)
        |           AS flesch_micros
        |  FROM rdd WHERE w > 0)
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |       sum(flesch_micros)::BIGINT // count(*)::BIGINT AS mean_flesch_micros,
        |       sum(CASE WHEN flesch_micros >= 60000000 THEN 1 ELSE 0 END)::BIGINT
        |         AS n_easy
        |FROM rds GROUP BY 1 ORDER BY lang""".stripMargin,
    "q262_spearman" ->
      (qualityCte + """,
        |spj AS (SELECT q.quality_score AS qs, d.n_chars AS nc
        |        FROM qual q JOIN documents d USING (doc_id)
        |        WHERE d.n_chars > 0),
        |spxr AS (SELECT v, 2 * coalesce(sum(cnt) OVER (ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           + cnt + 1 AS r2
        |         FROM (SELECT nc AS v, count(*)::BIGINT AS cnt FROM spj
        |               GROUP BY 1)),
        |spyr AS (SELECT v, 2 * coalesce(sum(cnt) OVER (ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           + cnt + 1 AS r2
        |         FROM (SELECT qs AS v, count(*)::BIGINT AS cnt FROM spj
        |               GROUP BY 1)),
        |spr AS (SELECT x.r2 AS r2x, y.r2 AS r2y
        |        FROM spj j JOIN spxr x ON j.nc = x.v JOIN spyr y ON j.qs = y.v)
        |SELECT count(*)::BIGINT AS n,
        |       round(corr(r2x::DOUBLE, r2y::DOUBLE), 6) AS spearman
        |FROM spr""".stripMargin),
    "q263_calibration" -> {
      import graft.operators.DataQuality.CalibrationCapScore
      langIdCte + s""",
        |cal AS (SELECT least(score, $CalibrationCapScore)::BIGINT AS score_bin,
        |               CASE WHEN plang = lang THEN 1 ELSE 0 END::BIGINT AS correct
        |        FROM pred)
        |SELECT score_bin, count(*)::BIGINT AS n_docs,
        |       sum(correct)::BIGINT AS n_correct,
        |       sum(correct)::BIGINT * 1000000 // count(*)::BIGINT AS accuracy_ppm
        |FROM cal GROUP BY 1 ORDER BY score_bin""".stripMargin
    },
    "q264_decile_lift" ->
      """WITH dlo AS (SELECT o_custkey,
        |                    date_diff('day', TIMESTAMP '1995-01-01',
        |                              o_orderdate)::BIGINT AS dday,
        |                    CAST(floor(o_totalprice * 100.0) AS BIGINT) AS cents
        |             FROM orders),
        |dlm AS (SELECT (min(dday) + max(dday)) // 2 AS mid FROM dlo),
        |dlc AS (SELECT o_custkey,
        |               sum(CASE WHEN dday < mid THEN cents ELSE 0 END)::BIGINT AS cents_a,
        |               sum(CASE WHEN dday >= mid THEN cents ELSE 0 END)::BIGINT AS cents_b
        |        FROM dlo CROSS JOIN dlm GROUP BY 1),
        |dlt AS (SELECT quantile_cont(cents_a::DOUBLE,
        |                 [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS thr
        |        FROM dlc),
        |dlb AS (SELECT (CASE WHEN cents_a::DOUBLE > thr[1] THEN 1 ELSE 0 END
        |              + CASE WHEN cents_a::DOUBLE > thr[2] THEN 1 ELSE 0 END
        |              + CASE WHEN cents_a::DOUBLE > thr[3] THEN 1 ELSE 0 END
        |              + CASE WHEN cents_a::DOUBLE > thr[4] THEN 1 ELSE 0 END
        |              + CASE WHEN cents_a::DOUBLE > thr[5] THEN 1 ELSE 0 END
        |              + CASE WHEN cents_a::DOUBLE > thr[6] THEN 1 ELSE 0 END
        |              + CASE WHEN cents_a::DOUBLE > thr[7] THEN 1 ELSE 0 END
        |              + CASE WHEN cents_a::DOUBLE > thr[8] THEN 1 ELSE 0 END
        |              + CASE WHEN cents_a::DOUBLE > thr[9] THEN 1 ELSE 0 END)::BIGINT
        |                 AS decile,
        |               cents_a, cents_b
        |        FROM dlc CROSS JOIN dlt),
        |dlg AS (SELECT decile, count(*)::BIGINT AS n_cust,
        |               sum(cents_a)::BIGINT AS cents_a,
        |               sum(cents_b)::BIGINT AS cents_b
        |        FROM dlb GROUP BY 1),
        |dltt AS (SELECT sum(cents_b)::BIGINT AS tot_b FROM dlg)
        |SELECT decile, n_cust, cents_a, cents_b,
        |       cents_b * 1000000 // tot_b AS share_b_ppm
        |FROM dlg CROSS JOIN dltt ORDER BY decile""".stripMargin,
    "q265_waiting_suppliers" -> {
      import graft.operators.Relational.WaitingLateDays
      s"""WITH wsl AS (
        |  SELECT l.l_orderkey, l.l_suppkey,
        |         max(CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate)
        |                       > $WaitingLateDays THEN 1 ELSE 0 END)::BIGINT AS late
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        |wso AS (SELECT l_orderkey, count(*)::BIGINT AS ns,
        |               sum(late)::BIGINT AS nl
        |        FROM wsl GROUP BY 1),
        |wsq AS (SELECT p.l_suppkey, count(*)::BIGINT AS numwait
        |        FROM wsl p JOIN wso o USING (l_orderkey)
        |        WHERE p.late = 1 AND o.ns >= 2 AND o.nl = 1
        |        GROUP BY 1)
        |SELECT q.l_suppkey AS s_suppkey, s.s_name, q.numwait
        |FROM wsq q JOIN supplier s ON s.s_suppkey = q.l_suppkey
        |ORDER BY q.numwait DESC, s.s_name, s_suppkey LIMIT 20""".stripMargin
    },
    "q266_sequence_conformance" ->
      """WITH scu AS (
        |  SELECT user_id,
        |         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS fv,
        |         min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS fc,
        |         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS fp
        |  FROM events GROUP BY 1),
        |scf AS (
        |  SELECT CASE WHEN fc IS NOT NULL AND (fv IS NULL OR fc < fv)
        |              THEN 1 ELSE 0 END AS click_viol,
        |         CASE WHEN fp IS NOT NULL AND (fc IS NULL OR fp < fc)
        |              THEN 1 ELSE 0 END AS purchase_viol
        |  FROM scu),
        |scc AS (
        |  SELECT CASE WHEN click_viol = 0 AND purchase_viol = 0 THEN 'conforming'
        |              WHEN click_viol = 1 AND purchase_viol = 0 THEN 'click_before_view'
        |              WHEN click_viol = 0 AND purchase_viol = 1 THEN 'purchase_before_click'
        |              ELSE 'both_violations' END AS pattern,
        |         count(*)::BIGINT AS n_users
        |  FROM scf GROUP BY 1),
        |sct AS (SELECT sum(n_users)::BIGINT AS n_total FROM scc)
        |SELECT pattern, n_users, n_users * 1000000 // n_total AS share_ppm
        |FROM scc CROSS JOIN sct ORDER BY pattern""".stripMargin,
    "q267_max_concurrency" ->
      (sessionCte + """,
        |mcb AS (SELECT user_id, session_no,
        |               min(epoch_us(ts)) AS a, max(epoch_us(ts)) AS b
        |        FROM s GROUP BY 1, 2),
        |mcd AS (SELECT us, sum(d)::BIGINT AS d FROM (
        |          SELECT a AS us, 1 AS d FROM mcb
        |          UNION ALL SELECT b + 1 AS us, -1 AS d FROM mcb)
        |        GROUP BY 1),
        |mcr AS (SELECT us, sum(d) OVER (ORDER BY us
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |          AS conc
        |        FROM mcd),
        |mcm AS (SELECT conc AS max_concurrency, us AS at_us FROM mcr
        |        ORDER BY conc DESC, us ASC LIMIT 1)
        |SELECT m.max_concurrency, m.at_us,
        |       (SELECT count(*) FROM mcd)::BIGINT AS n_boundary_ts,
        |       (SELECT count(*) FROM mcb)::BIGINT AS n_sessions
        |FROM mcm m""".stripMargin),
    "q268_bootstrap_ci" -> {
      import graft.operators.DataQuality.{BootstrapReps, PoissonCdf28}
      val wExpr = PoissonCdf28
        .map(c => s"CASE WHEN u >= $c THEN 1 ELSE 0 END")
        .mkString("(", " + ", ")::BIGINT")
      s"""WITH bca AS (SELECT lang, count(*)::BIGINT AS n_docs,
        |                    sum(n_chars)::BIGINT * 1000000 // count(*)::BIGINT
        |                      AS mean_micros
        |             FROM documents GROUP BY 1),
        |bcu AS (SELECT lang, n_chars, t.b,
        |               ('0x' || substr(md5('boot_' || t.b || '_' || doc_id),
        |                               1, 7))::BIGINT AS u
        |        FROM documents, unnest(range(0, $BootstrapReps)) t(b)),
        |bcw AS (SELECT lang, b, $wExpr AS w, n_chars FROM bcu),
        |bcr AS (SELECT lang,
        |               sum(w * n_chars)::BIGINT * 1000000 // sum(w)::BIGINT
        |                 AS rep_mean_micros
        |        FROM bcw GROUP BY lang, b),
        |bcc AS (SELECT lang,
        |               round(quantile_cont(rep_mean_micros::DOUBLE, 0.025), 4)
        |                 AS ci_lo_micros,
        |               round(quantile_cont(rep_mean_micros::DOUBLE, 0.975), 4)
        |                 AS ci_hi_micros
        |        FROM bcr GROUP BY 1)
        |SELECT a.lang, a.n_docs, a.mean_micros, c.ci_lo_micros, c.ci_hi_micros,
        |       (c.ci_lo_micros <= a.mean_micros::DOUBLE
        |        AND a.mean_micros::DOUBLE <= c.ci_hi_micros) AS covered
        |FROM bca a JOIN bcc c USING (lang) ORDER BY a.lang""".stripMargin
    },
    "q269_hits" -> {
      import graft.operators.Graph.{HitsIterations, HitsTopK}
      // one normalization per FULL round (hub only), mirroring the
      // engine's fused round: auth stays unnormalized inside the round
      val rounds = (1 to HitsIterations).map { r =>
        s"""ha$r AS (SELECT p, sum(h)::BIGINT AS ar
           |        FROM he JOIN hh${r - 1} USING (c) GROUP BY 1),
           |hh${r}r AS (SELECT c, sum(ar)::BIGINT AS hr
           |        FROM he JOIN ha$r USING (p) GROUP BY 1),
           |hh$r AS (SELECT c, hr * 1000000 // (SELECT max(hr) FROM hh${r}r) AS h
           |        FROM hh${r}r)""".stripMargin
      }.mkString(",\n")
      materializeCtes(
        s"""WITH he AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |hh0 AS (SELECT DISTINCT c, 1000000::BIGINT AS h FROM he),
        |$rounds,
        |haf AS (SELECT p, sum(h)::BIGINT AS ar, count(*)::BIGINT AS n_buyers
        |        FROM he JOIN hh$HitsIterations USING (c) GROUP BY 1)
        |SELECT f.p AS p_partkey, f.n_buyers,
        |       f.ar * 1000000 // (SELECT max(ar) FROM haf) AS authority_ppm,
        |       pt.p_name
        |FROM haf f JOIN part pt ON pt.p_partkey = f.p
        |ORDER BY authority_ppm DESC, p_partkey LIMIT $HitsTopK""".stripMargin)
    },
    "q270_label_propagation" -> {
      import graft.operators.Graph.{LpaIterations, MaxBasketItems, MinCoocSupport}
      val rounds = (1 to LpaIterations).map { r =>
        s"""llr$r AS (SELECT e.dst, l.lbl, sum(e.w)::BIGINT AS wsum
           |         FROM lpe e JOIN ll${r - 1} l ON l.node = e.src
           |         GROUP BY 1, 2),
           |ll$r AS (SELECT dst AS node, lbl FROM (
           |          SELECT dst, lbl, row_number() OVER (PARTITION BY dst
           |            ORDER BY wsum DESC, lbl ASC) AS rn
           |          FROM llr$r) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      materializeCtes(
        s"""WITH lpc AS (
        |  SELECT l_orderkey, l_partkey FROM (
        |    SELECT l_orderkey, l_partkey,
        |           row_number() OVER (PARTITION BY l_orderkey ORDER BY
        |             ('0x' || substr(md5('bk_' || l_orderkey || '_' || l_partkey), 1, 7))::BIGINT,
        |             l_partkey) AS rn
        |    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem))
        |  WHERE rn <= $MaxBasketItems),
        |lpp AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
        |               count(*)::BIGINT AS w
        |        FROM lpc a JOIN lpc b USING (l_orderkey)
        |        WHERE a.l_partkey < b.l_partkey
        |        GROUP BY 1, 2 HAVING count(*) >= $MinCoocSupport),
        |lpe AS (SELECT pa AS src, pb AS dst, w FROM lpp
        |        UNION ALL SELECT pb, pa, w FROM lpp),
        |ll0 AS (SELECT DISTINCT src AS node, src AS lbl FROM lpe),
        |$rounds
        |SELECT lbl AS community, count(*)::BIGINT AS n_nodes,
        |       min(node)::BIGINT AS min_node
        |FROM ll$LpaIterations GROUP BY 1
        |ORDER BY n_nodes DESC, community LIMIT 30""".stripMargin)
    },
    "q271_substring_index" -> {
      import graft.operators.Indexing.{SubstrGramLen => G, SubstrNeedleLen,
        SubstrNeedleStart, SubstrQueryMod}
      materializeCtes(
        s"""WITH sspw(j, p) AS (VALUES ${rollingPowN(G)}),
        |ssq AS (SELECT doc_id AS query_id,
        |               substring(text, $SubstrNeedleStart, $SubstrNeedleLen)
        |                 AS needle
        |        FROM documents
        |        WHERE doc_id % $SubstrQueryMod = 0 AND n_chars >= 30),
        |ssh0 AS (SELECT d.doc_id, s.i::BIGINT AS pos,
        |                (sum(ord(substr(d.text, s.i + ${G - 1} - w.j, 1))::BIGINT
        |                     * w.p) % 2147483647)::BIGINT AS h
        |         FROM documents d,
        |              unnest(range(1, d.n_chars - ${G - 2})) s(i), sspw w
        |         GROUP BY d.doc_id, s.i),
        |ssg AS (SELECT q.query_id, h0.h, 0::BIGINT AS goff
        |        FROM ssq q JOIN ssh0 h0 ON h0.doc_id = q.query_id
        |                                AND h0.pos = $SubstrNeedleStart
        |        UNION ALL
        |        SELECT q.query_id, h0.h, $G::BIGINT
        |        FROM ssq q JOIN ssh0 h0 ON h0.doc_id = q.query_id
        |                                AND h0.pos = ${SubstrNeedleStart + G}),
        |ssc AS (SELECT query_id, doc_id, start FROM (
        |          SELECT g.query_id, p.doc_id, p.pos - g.goff AS start,
        |                 count(DISTINCT g.goff) AS ng
        |          FROM ssh0 p JOIN ssg g USING (h)
        |          GROUP BY 1, 2, 3)
        |        WHERE ng = 2 AND start >= 1),
        |ssv AS (SELECT c.query_id, c.doc_id
        |        FROM ssc c JOIN documents d ON d.doc_id = c.doc_id
        |        JOIN ssq q ON q.query_id = c.query_id
        |        WHERE substring(d.text, c.start::INT, $SubstrNeedleLen)
        |              = q.needle)
        |SELECT query_id, doc_id, count(*)::BIGINT AS n_occurrences,
        |       (query_id = doc_id) AS is_self
        |FROM ssv GROUP BY 1, 2 ORDER BY query_id, doc_id""".stripMargin)
    },
    "q272_char_entropy" ->
      """WITH ceu AS (SELECT lang, doc_id, n_chars,
        |                    unnest(string_split(text, '')) AS ch
        |             FROM documents),
        |cec AS (SELECT lang, doc_id, n_chars, ch, count(*)::BIGINT AS c
        |        FROM ceu GROUP BY 1, 2, 3, 4),
        |ced AS (SELECT lang, doc_id,
        |               sum(floor(c::DOUBLE / n_chars::DOUBLE
        |                   * ln(n_chars::DOUBLE / c::DOUBLE)
        |                   * 1000000000.0)::BIGINT)::BIGINT AS entropy_nano
        |        FROM cec GROUP BY 1, 2)
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |       sum(entropy_nano)::BIGINT // count(*)::BIGINT AS mean_entropy_nano,
        |       min(entropy_nano)::BIGINT AS min_entropy_nano,
        |       max(entropy_nano)::BIGINT AS max_entropy_nano
        |FROM ced GROUP BY 1 ORDER BY lang""".stripMargin,
    "q273_burrows_delta" -> {
      val words = graft.operators.TextAnalysis.DeltaMarkerWords
        .map(w => s"'$w'").mkString(", ")
      s"""WITH bdt AS (SELECT source,
        |                    unnest(regexp_extract_all(text, '[^ \\t\\n\\r]+'))
        |                      AS tok
        |             FROM documents),
        |bdn AS (SELECT source, count(*)::BIGINT AS n_toks FROM bdt GROUP BY 1),
        |bdm AS (SELECT unnest([$words]) AS tok),
        |bdf AS (SELECT source, tok, count(*)::BIGINT AS c FROM bdt
        |        WHERE tok IN ($words) GROUP BY 1, 2),
        |bdg AS (SELECT n.source, m.tok,
        |               coalesce(f.c, 0) * 1000000 // n.n_toks AS f_ppm
        |        FROM bdn n CROSS JOIN bdm m
        |        LEFT JOIN bdf f ON f.source = n.source AND f.tok = m.tok),
        |bdmo AS (SELECT tok, count(*)::BIGINT AS s, sum(f_ppm)::BIGINT AS sf,
        |                round(stddev_pop(f_ppm::DOUBLE), 6) AS sd
        |         FROM bdg GROUP BY 1),
        |bdz AS (SELECT g.source, g.tok,
        |               floor((g.f_ppm * m.s - m.sf)::DOUBLE
        |                     / (m.s::DOUBLE * m.sd)
        |                     * 1000000000.0)::BIGINT AS z_nano
        |        FROM bdg g JOIN bdmo m USING (tok) WHERE m.sd > 0),
        |bdp AS (SELECT a.source AS source_a, b.source AS source_b,
        |               abs(a.z_nano - b.z_nano) AS d
        |        FROM bdz a JOIN bdz b ON a.tok = b.tok AND a.source < b.source)
        |SELECT source_a, source_b, count(*)::BIGINT AS n_words,
        |       sum(d)::BIGINT // count(*)::BIGINT AS delta_nano
        |FROM bdp GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin
    },
    "q274_simpson" ->
      (qualityCte + """,
        |sps AS (SELECT d.lang, q.quality_score AS y, ln(d.n_chars::DOUBLE) AS x
        |        FROM qual q JOIN documents d USING (doc_id)
        |        WHERE d.n_chars > 0),
        |spp AS (SELECT round(regr_slope(y, x), 6) AS pooled_slope FROM sps),
        |spl AS (SELECT lang, count(*)::BIGINT AS n,
        |               round(regr_slope(y, x), 6) AS lang_slope
        |        FROM sps GROUP BY 1)
        |SELECT l.lang, l.n, l.lang_slope, p.pooled_slope,
        |       (l.lang_slope * p.pooled_slope < 0.0) AS sign_reversed
        |FROM spl l CROSS JOIN spp p ORDER BY l.lang""".stripMargin),
    "q275_stream_full_outer_join_exec" ->
      """WITH fc AS (SELECT event_id AS click_id, user_id, ts AS cts,
        |                  epoch_us(ts) AS cus
        |            FROM events WHERE event_type = 'click'),
        |fv AS (SELECT event_id AS view_id, user_id, ts AS vts,
        |              epoch_us(ts) AS vus
        |       FROM events WHERE event_type = 'view'),
        |fwm AS (SELECT least((SELECT max(cus) FROM fc), (SELECT max(vus) FROM fv))
        |               - 600000000 AS wm),
        |fj AS (SELECT c.click_id, c.user_id AS c_user, c.cts, c.cus,
        |              v.view_id, v.user_id AS v_user, v.vts, v.vus
        |       FROM fc c FULL JOIN fv v ON v.user_id = c.user_id
        |         AND v.vus <= c.cus AND v.vus >= c.cus - 1800000000)
        |SELECT coalesce(click_id, -1) AS click_id,
        |       coalesce(c_user, v_user) AS user_id,
        |       coalesce(strftime(cts, '%Y-%m-%d %H:%M:%S'), '-') AS click_ts,
        |       coalesce(view_id, -1) AS view_id,
        |       coalesce(strftime(vts, '%Y-%m-%d %H:%M:%S'), '-') AS view_ts
        |FROM fj, fwm
        |WHERE (click_id IS NOT NULL AND view_id IS NOT NULL)
        |   OR (view_id IS NULL AND cus < wm)
        |   OR (click_id IS NULL AND vus < wm - 1800000000)
        |ORDER BY click_id, view_id""".stripMargin,
    "q276_split_leakage" -> {
      import graft.operators.Dedup.JaccardThreshold
      import graft.operators.Sampling.{TrainPerMille, ValPerMille}
      jaccardCte + s""",
        |sls AS (SELECT doc_id,
        |          CASE WHEN ('0x' || substr(md5('spl_' || doc_id), 1, 7))::BIGINT
        |                    % 1000 < $TrainPerMille THEN 'train'
        |               WHEN ('0x' || substr(md5('spl_' || doc_id), 1, 7))::BIGINT
        |                    % 1000 < $ValPerMille THEN 'val'
        |               ELSE 'test' END AS s
        |        FROM documents),
        |sln AS (SELECT least(a.s, b.s) AS split_a, greatest(a.s, b.s) AS split_b,
        |               count(*)::BIGINT AS n_near_pairs
        |        FROM (SELECT i, j FROM jac WHERE jaccard >= $JaccardThreshold) p
        |        JOIN sls a ON a.doc_id = p.i JOIN sls b ON b.doc_id = p.j
        |        GROUP BY 1, 2),
        |slg AS (SELECT md5(d.text) AS h,
        |               sum(CASE WHEN s.s = 'train' THEN 1 ELSE 0 END)::BIGINT AS ctr,
        |               sum(CASE WHEN s.s = 'val' THEN 1 ELSE 0 END)::BIGINT AS cva,
        |               sum(CASE WHEN s.s = 'test' THEN 1 ELSE 0 END)::BIGINT AS cte
        |        FROM documents d JOIN sls s USING (doc_id) GROUP BY 1),
        |sle AS (SELECT coalesce(sum(cte * (cte - 1) // 2), 0)::BIGINT AS p_tt,
        |               coalesce(sum(cte * ctr), 0)::BIGINT AS p_ttr,
        |               coalesce(sum(cte * cva), 0)::BIGINT AS p_tv,
        |               coalesce(sum(ctr * (ctr - 1) // 2), 0)::BIGINT AS p_trtr,
        |               coalesce(sum(ctr * cva), 0)::BIGINT AS p_trv,
        |               coalesce(sum(cva * (cva - 1) // 2), 0)::BIGINT AS p_vv
        |        FROM slg),
        |slx AS (SELECT 'test' AS split_a, 'test' AS split_b, p_tt AS n_exact_pairs FROM sle
        |        UNION ALL SELECT 'test', 'train', p_ttr FROM sle
        |        UNION ALL SELECT 'test', 'val', p_tv FROM sle
        |        UNION ALL SELECT 'train', 'train', p_trtr FROM sle
        |        UNION ALL SELECT 'train', 'val', p_trv FROM sle
        |        UNION ALL SELECT 'val', 'val', p_vv FROM sle)
        |SELECT x.split_a, x.split_b, x.n_exact_pairs,
        |       coalesce(n.n_near_pairs, 0)::BIGINT AS n_near_pairs,
        |       (x.split_a <> x.split_b) AS crosses_split
        |FROM slx x LEFT JOIN sln n USING (split_a, split_b)
        |ORDER BY split_a, split_b""".stripMargin
    },
    "q277_cohen_kappa" -> {
      import graft.operators.TextAnalysis.ProfileSize
      materializeCtes(langIdCte + s""",
        |${charGramCte("ckd", "ckg")},
        |ckp AS (SELECT lang AS plang, g FROM (
        |          SELECT lang, g, row_number() OVER (PARTITION BY lang
        |            ORDER BY count(*) DESC, g ASC) AS rn
        |          FROM ckg GROUP BY lang, g) WHERE rn <= $ProfileSize),
        |cksc AS (SELECT ckg.doc_id, p.plang, count(*) AS score
        |         FROM ckg JOIN ckp p USING (g) GROUP BY 1, 2),
        |ckb AS (SELECT doc_id, plang FROM (
        |          SELECT doc_id, plang, row_number() OVER (PARTITION BY doc_id
        |            ORDER BY score DESC, plang ASC) AS rn
        |          FROM cksc) WHERE rn = 1),
        |ckj AS (SELECT d.doc_id, pr.plang AS pa,
        |               coalesce(b.plang, 'und') AS pb
        |        FROM ckd d JOIN pred pr USING (doc_id)
        |        LEFT JOIN ckb b USING (doc_id)),
        |ckt AS (SELECT count(*)::BIGINT AS n,
        |               sum(CASE WHEN pa = pb THEN 1 ELSE 0 END)::BIGINT AS n_agree
        |        FROM ckj),
        |ckma AS (SELECT pa AS l, count(*)::BIGINT AS ca FROM ckj GROUP BY 1),
        |ckmb AS (SELECT pb AS l, count(*)::BIGINT AS cb FROM ckj GROUP BY 1),
        |ckpe AS (SELECT coalesce(sum(ca * cb), 0)::BIGINT AS pe_num
        |         FROM ckma JOIN ckmb USING (l)),
        |ckq AS (SELECT n, n_agree,
        |               n_agree * 1000000000 // n AS po_nano,
        |               pe_num * 1000000000 // (n * n) AS pe_nano
        |        FROM ckt CROSS JOIN ckpe)
        |SELECT n, n_agree, po_nano, pe_nano,
        |       floor((po_nano - pe_nano)::DOUBLE
        |             / (1000000000 - pe_nano)::DOUBLE
        |             * 1000000000.0)::BIGINT AS kappa_nano
        |FROM ckq""".stripMargin)
    },
    "q278_join_estimate_audit" -> {
      val branches = graft.operators.DataQuality.EstimateJoins.map {
        case (tag, lt, lk, rt, rk) =>
          s"""SELECT '$tag' AS join_tag, ls.n_left, rs.n_right,
             |       ls.ndv_left, rs.ndv_right,
             |       ls.n_left * rs.n_right
             |         // greatest(ls.ndv_left, rs.ndv_right) AS est_rows,
             |       (SELECT count(*) FROM $lt l JOIN $rt r
             |        ON l.$lk = r.$rk)::BIGINT AS actual_rows
             |FROM (SELECT count(*)::BIGINT AS n_left,
             |             count(DISTINCT $lk)::BIGINT AS ndv_left FROM $lt) ls,
             |     (SELECT count(*)::BIGINT AS n_right,
             |             count(DISTINCT $rk)::BIGINT AS ndv_right FROM $rt) rs""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH jea AS (
        |$branches
        |)
        |SELECT join_tag, n_left, n_right, ndv_left, ndv_right, est_rows,
        |       actual_rows,
        |       abs(est_rows - actual_rows) * 1000000 // actual_rows AS err_ppm
        |FROM jea ORDER BY join_tag""".stripMargin
    },
    "q279_minhash_roc" -> {
      import graft.operators.Dedup.{JaccardThreshold, NumHashes, RocStrides,
        RocThresholds}
      materializeCtes(jaccardCte + s""",
        |roch AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 7))::BIGINT AS h
        |         FROM sh),
        |rocs AS (SELECT doc_id, t.i,
        |                min(((2 * t.i + 1) * h + 101 * t.i + 7) % 2147483647)
        |                  AS s
        |         FROM roch, unnest(range(0, $NumHashes)) t(i) GROUP BY 1, 2),
        |rocp AS (SELECT z.doc_a, b.doc_id AS doc_b
        |         FROM (SELECT a.doc_id AS doc_a, a.doc_id + t.s AS doc_b
        |               FROM documents a,
        |                    unnest([${RocStrides.mkString(", ")}]) t(s)) z
        |         JOIN documents b ON b.doc_id = z.doc_b),
        |rocm AS (SELECT p.doc_a, p.doc_b,
        |                sum(CASE WHEN x.s = y.s THEN 1 ELSE 0 END)::BIGINT AS m
        |         FROM rocp p JOIN rocs x ON x.doc_id = p.doc_a
        |         JOIN rocs y ON y.doc_id = p.doc_b AND y.i = x.i
        |         GROUP BY 1, 2),
        |roce AS (SELECT m.m,
        |                (coalesce(j.jaccard, 0.0) >= $JaccardThreshold) AS truth
        |         FROM rocm m LEFT JOIN jac j ON j.i = m.doc_a AND j.j = m.doc_b),
        |rocc AS (SELECT t.m_min,
        |                sum(CASE WHEN e.m >= t.m_min AND e.truth
        |                         THEN 1 ELSE 0 END)::BIGINT AS tp,
        |                sum(CASE WHEN e.m >= t.m_min AND NOT e.truth
        |                         THEN 1 ELSE 0 END)::BIGINT AS fp,
        |                sum(CASE WHEN e.m < t.m_min AND e.truth
        |                         THEN 1 ELSE 0 END)::BIGINT AS fn,
        |                sum(CASE WHEN e.m < t.m_min AND NOT e.truth
        |                         THEN 1 ELSE 0 END)::BIGINT AS tn
        |         FROM roce e CROSS JOIN
        |              (SELECT unnest([${RocThresholds.mkString(", ")}]) AS m_min) t
        |         GROUP BY 1)
        |SELECT m_min, tp, fp, fn, tn,
        |       CASE WHEN tp + fn > 0 THEN tp * 1000000 // (tp + fn) END AS tpr_ppm,
        |       CASE WHEN fp + tn > 0 THEN fp * 1000000 // (fp + tn) END AS fpr_ppm,
        |       CASE WHEN tp + fp > 0 THEN tp * 1000000 // (tp + fp) END
        |         AS precision_ppm
        |FROM rocc ORDER BY m_min""".stripMargin)
    },
    "q280_mutual_info" ->
      """WITH mio AS (SELECT lang, source, count(*)::BIGINT AS o
        |             FROM documents GROUP BY 1, 2),
        |mir AS (SELECT lang, sum(o)::BIGINT AS r FROM mio GROUP BY 1),
        |mic AS (SELECT source, sum(o)::BIGINT AS c FROM mio GROUP BY 1),
        |minn AS (SELECT sum(o)::BIGINT AS nn FROM mio),
        |mim AS (SELECT count(*)::BIGINT AS n_cells_nonzero,
        |               sum(floor(o.o::DOUBLE / nn.nn::DOUBLE
        |                   * ln((o.o * nn.nn)::DOUBLE / (r.r * c.c)::DOUBLE)
        |                   * 1000000000.0)::BIGINT)::BIGINT AS mi_nano
        |        FROM mio o JOIN mir r USING (lang) JOIN mic c USING (source)
        |        CROSS JOIN minn nn),
        |mihl AS (SELECT sum(floor(r::DOUBLE / nn.nn::DOUBLE
        |                  * ln(nn.nn::DOUBLE / r::DOUBLE)
        |                  * 1000000000.0)::BIGINT)::BIGINT AS h_lang_nano
        |         FROM mir CROSS JOIN minn nn),
        |mihs AS (SELECT sum(floor(c::DOUBLE / nn.nn::DOUBLE
        |                  * ln(nn.nn::DOUBLE / c::DOUBLE)
        |                  * 1000000000.0)::BIGINT)::BIGINT AS h_source_nano
        |         FROM mic CROSS JOIN minn nn)
        |SELECT m.n_cells_nonzero, m.mi_nano, l.h_lang_nano, s.h_source_nano,
        |       floor(m.mi_nano::DOUBLE
        |             / sqrt(l.h_lang_nano::DOUBLE * s.h_source_nano::DOUBLE)
        |             * 1000000000.0)::BIGINT AS nmi_nano
        |FROM mim m CROSS JOIN mihl l CROSS JOIN mihs s""".stripMargin,
    "q281_cluster_nmi" ->
      materializeCtes(ivfHierCellsCte + """,
        |nmo AS (SELECT c.cent_id, em.label, count(*)::BIGINT AS o
        |        FROM cells c JOIN embeddings em ON em.vec_id = c.vec_id
        |        GROUP BY 1, 2),
        |nmr AS (SELECT cent_id, sum(o)::BIGINT AS r FROM nmo GROUP BY 1),
        |nml AS (SELECT label, sum(o)::BIGINT AS c FROM nmo GROUP BY 1),
        |nmn AS (SELECT sum(o)::BIGINT AS nn FROM nmo),
        |nmm AS (SELECT count(*)::BIGINT AS n_cells_labels,
        |               sum(floor(o.o::DOUBLE / nn.nn::DOUBLE
        |                   * ln((o.o * nn.nn)::DOUBLE / (r.r * c.c)::DOUBLE)
        |                   * 1000000000.0)::BIGINT)::BIGINT AS mi_nano
        |        FROM nmo o JOIN nmr r USING (cent_id) JOIN nml c USING (label)
        |        CROSS JOIN nmn nn),
        |nmhc AS (SELECT sum(floor(r::DOUBLE / nn.nn::DOUBLE
        |                  * ln(nn.nn::DOUBLE / r::DOUBLE)
        |                  * 1000000000.0)::BIGINT)::BIGINT AS h_cells_nano
        |         FROM nmr CROSS JOIN nmn nn),
        |nmhl AS (SELECT sum(floor(c::DOUBLE / nn.nn::DOUBLE
        |                  * ln(nn.nn::DOUBLE / c::DOUBLE)
        |                  * 1000000000.0)::BIGINT)::BIGINT AS h_labels_nano
        |         FROM nml CROSS JOIN nmn nn)
        |SELECT m.n_cells_labels, m.mi_nano, hc.h_cells_nano, hl.h_labels_nano,
        |       floor(m.mi_nano::DOUBLE
        |             / sqrt(hc.h_cells_nano::DOUBLE * hl.h_labels_nano::DOUBLE)
        |             * 1000000000.0)::BIGINT AS nmi_nano
        |FROM nmm m CROSS JOIN nmhc hc CROSS JOIN nmhl hl""".stripMargin),
    "q282_median_ci" ->
      """WITH mcm AS (SELECT event_type, count(*)::BIGINT AS n,
        |                   round(quantile_cont(value, 0.5), 4) AS median
        |            FROM events GROUP BY 1),
        |mcr AS (SELECT event_type, n, median,
        |               greatest(1, floor((n::DOUBLE - 1.96 * sqrt(n::DOUBLE))
        |                 / 2.0)::BIGINT) AS lo_rank,
        |               least(n, ceil(1.0 + (n::DOUBLE + 1.96 * sqrt(n::DOUBLE))
        |                 / 2.0)::BIGINT) AS hi_rank
        |        FROM mcm),
        |mch AS (SELECT event_type, value,
        |               sum(count(*)) OVER (PARTITION BY event_type
        |                 ORDER BY value ROWS UNBOUNDED PRECEDING) AS cum
        |        FROM events GROUP BY 1, 2),
        |mclo AS (SELECT h.event_type, round(min(h.value), 4) AS ci_lo
        |         FROM mch h JOIN mcr r USING (event_type)
        |         WHERE h.cum >= r.lo_rank GROUP BY 1),
        |mchi AS (SELECT h.event_type, round(min(h.value), 4) AS ci_hi
        |         FROM mch h JOIN mcr r USING (event_type)
        |         WHERE h.cum >= r.hi_rank GROUP BY 1)
        |SELECT r.event_type, r.n, r.median, r.lo_rank, r.hi_rank,
        |       l.ci_lo, hh.ci_hi
        |FROM mcr r JOIN mclo l USING (event_type) JOIN mchi hh USING (event_type)
        |ORDER BY r.event_type""".stripMargin,
    "q283_sprt" -> {
      import graft.operators.Relational.{RetentionEpochMs, SprtBoundNano,
        SprtLift}
      s"""WITH spu AS (
        |  SELECT user_id,
        |         (epoch_ms(ts) - $RetentionEpochMs) // 86400000 AS day,
        |         max(CASE WHEN event_type = 'purchase' THEN 1
        |             ELSE 0 END)::BIGINT AS converted,
        |         user_id % 2 AS arm
        |  FROM events GROUP BY 1, 2),
        |spc AS (SELECT floor(ln(least(0.999, p0 * $SprtLift) / p0)
        |                     * 1000000000.0)::BIGINT AS l1,
        |               floor(ln((1.0 - least(0.999, p0 * $SprtLift))
        |                        / (1.0 - p0)) * 1000000000.0)::BIGINT AS l2
        |        FROM (SELECT sum(converted)::DOUBLE / count(*)::DOUBLE AS p0
        |              FROM spu WHERE arm = 0)),
        |spd AS (SELECT day, count(*)::BIGINT AS dn,
        |               sum(converted)::BIGINT AS dx
        |        FROM spu WHERE arm = 1 GROUP BY 1),
        |spq AS (SELECT day,
        |               sum(dn) OVER (ORDER BY day
        |                 ROWS UNBOUNDED PRECEDING)::BIGINT AS n_b,
        |               sum(dx) OVER (ORDER BY day
        |                 ROWS UNBOUNDED PRECEDING)::BIGINT AS x_b
        |        FROM spd)
        |SELECT q.day, q.n_b, q.x_b,
        |       q.x_b * c.l1 + (q.n_b - q.x_b) * c.l2 AS llr_nano,
        |       CASE WHEN q.x_b * c.l1 + (q.n_b - q.x_b) * c.l2
        |                 >= $SprtBoundNano THEN 'accept_h1'
        |            WHEN q.x_b * c.l1 + (q.n_b - q.x_b) * c.l2
        |                 <= -$SprtBoundNano THEN 'accept_h0'
        |            ELSE 'continue' END AS decision
        |FROM spq q CROSS JOIN spc c ORDER BY q.day""".stripMargin
    },
    "q284_autocorrelation" -> {
      import graft.operators.Relational.{AcfMaxLag, RetentionEpochMs}
      s"""WITH acd AS (SELECT (epoch_ms(ts) - $RetentionEpochMs) // 86400000
        |                      AS day,
        |                    count(*)::BIGINT AS n
        |             FROM events GROUP BY 1),
        |act AS (SELECT count(*)::BIGINT AS dd, sum(n)::BIGINT AS s FROM acd),
        |ace AS (SELECT day, (dd * n - s)::BIGINT AS e
        |        FROM acd CROSS JOIN act),
        |acden AS (SELECT sum(e * e)::BIGINT AS den FROM ace),
        |acn AS (SELECT t.k, count(*)::BIGINT AS n_pairs,
        |               sum(a.e * b.e)::BIGINT AS num
        |        FROM unnest(range(1, ${AcfMaxLag + 1})) t(k)
        |        JOIN ace b ON true
        |        JOIN ace a ON a.day = b.day + t.k
        |        GROUP BY 1)
        |SELECT k::BIGINT AS k, n_pairs,
        |       floor(num::DOUBLE / den::DOUBLE * 1000000.0)::BIGINT AS acf_ppm
        |FROM acn CROSS JOIN acden ORDER BY k""".stripMargin
    },
    "q285_abtt" ->
      materializeCtes(pcaCte + """,
        |abvn AS (SELECT sqrt((sum(vi * vi))::DOUBLE) AS vn FROM pvf),
        |abvh AS (SELECT list(vi::DOUBLE / vn ORDER BY j) AS vh
        |         FROM pvf CROSS JOIN abvn),
        |abmu AS (SELECT (t.d - 1) AS j,
        |                floor(avg(v[t.d]) * 1000000.0 + 0.5) / 1000000.0 AS m
        |         FROM pe, unnest(range(1, 65)) t(d) GROUP BY 1),
        |abml AS (SELECT list(m ORDER BY j) AS mu FROM abmu),
        |abur AS (SELECT pe.vec_id,
        |                list_transform(range(1, 65), d -> pe.v[d] - l.mu[d])
        |                  AS u
        |         FROM pe CROSS JOIN abml l),
        |abpj AS (SELECT vec_id, u, list_dot_product(u, h.vh) AS proj
        |         FROM abur CROSS JOIN abvh h),
        |abrs AS (SELECT vec_id, proj,
        |                list_transform(range(1, 65), d -> u[d] - proj * h.vh[d])
        |                  AS r
        |         FROM abpj CROSS JOIN abvh h),
        |abst AS (SELECT count(*)::BIGINT AS n_vecs,
        |                floor(avg(abs(proj)) * 1000000.0 + 0.5) / 1000000.0
        |                  AS mean_abs_proj
        |         FROM abrs),
        |abm2 AS (SELECT (t.d - 1) AS j,
        |                floor(avg(r[t.d]) * 1000000.0 + 0.5) / 1000000.0 AS m
        |         FROM abrs, unnest(range(1, 65)) t(d) GROUP BY 1),
        |abn2b AS (SELECT floor(list_sum(list_transform(list(m ORDER BY j),
        |                  x -> x * x)) * 1000000.0 + 0.5) / 1000000.0
        |                  AS norm2_before
        |          FROM abmu),
        |abn2a AS (SELECT floor(list_sum(list_transform(list(m ORDER BY j),
        |                  x -> x * x)) * 1000000.0 + 0.5) / 1000000.0
        |                  AS norm2_after
        |          FROM abm2)
        |SELECT s.n_vecs, s.mean_abs_proj, b.norm2_before, a.norm2_after,
        |       CASE WHEN b.norm2_before > 0.0
        |            THEN floor((b.norm2_before - a.norm2_after)
        |                       / b.norm2_before * 1000000.0)::BIGINT END
        |         AS reduction_ppm
        |FROM abst s CROSS JOIN abn2b b CROSS JOIN abn2a a""".stripMargin),
    "q286_boilerplate" -> {
      import graft.operators.TextAnalysis.{BoilerMinSupport, BoilerTopK}
      s"""WITH bps AS (
        |  SELECT DISTINCT source, doc_id,
        |         w[i] || '_' || w[i+1] || '_' || w[i+2] || '_' || w[i+3]
        |           || '_' || w[i+4] AS shingle
        |  FROM (SELECT source, doc_id,
        |               regexp_extract_all(text, '[^ \\t\\n\\r]+') AS w
        |        FROM documents),
        |       unnest(range(1, len(w) - 3)) t(i)),
        |bpc AS (SELECT source, h, count(*)::BIGINT AS n,
        |               min(shingle) AS shingle
        |        FROM (SELECT source, shingle,
        |                     ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
        |              FROM bps)
        |        GROUP BY 1, 2 HAVING count(*) >= $BoilerMinSupport),
        |bpt AS (SELECT source, h, n, shingle,
        |               row_number() OVER (PARTITION BY source
        |                 ORDER BY n DESC, h ASC) AS rnk
        |        FROM bpc)
        |SELECT source, rnk::BIGINT AS rank, n AS n_docs, shingle
        |FROM bpt WHERE rnk <= $BoilerTopK ORDER BY source, rank""".stripMargin
    },
    "q287_trimmed_mean" -> {
      import graft.operators.Relational.TrimPerMille
      s"""WITH tmh AS (SELECT event_type, value, count(*)::BIGINT AS cnt,
        |                   sum(count(*)) OVER (PARTITION BY event_type
        |                     ORDER BY value ROWS UNBOUNDED PRECEDING) AS cum
        |            FROM events GROUP BY 1, 2),
        |tmb AS (SELECT event_type, max(cum)::BIGINT AS n,
        |               max(cum) * $TrimPerMille // 1000 + 1 AS lo,
        |               max(cum) - max(cum) * $TrimPerMille // 1000 AS hi
        |        FROM tmh GROUP BY 1),
        |tmi AS (SELECT h.event_type, b.n,
        |               floor(h.value * 1000000.0)::BIGINT AS v_micros,
        |               greatest(0, least(h.cum, b.hi)
        |                 - greatest(h.cum - h.cnt + 1, b.lo) + 1)::BIGINT
        |                 AS included
        |        FROM tmh h JOIN tmb b USING (event_type))
        |SELECT event_type, n, sum(included)::BIGINT AS n_kept,
        |       sum(v_micros * included)::BIGINT // sum(included)::BIGINT
        |         AS trimmed_mean_micros
        |FROM tmi GROUP BY 1, 2 ORDER BY event_type""".stripMargin
    },
    "q288_absorption" -> {
      import graft.operators.Relational.AbsorptionSteps
      val steps = (2 to AbsorptionSteps).map { k =>
        s"""abc$k AS (SELECT t.src, t.r, sum(t.n_trans * p.p_ppm)::BIGINT AS acc
           |        FROM abt t JOIN abp${k - 1} p ON p.src = t.dst
           |        WHERE t.dst <> 'purchase'
           |        GROUP BY 1, 2),
           |abp$k AS (SELECT coalesce(a.src, c.src) AS src,
           |                coalesce(a.p_ppm, 0) + coalesce(c.acc // c.r, 0)
           |                  AS p_ppm
           |         FROM abp1 a FULL JOIN abc$k c ON c.src = a.src)""".stripMargin
      }.mkString(",\n")
      val out = (1 to AbsorptionSteps)
        .map(k => s"SELECT src, $k AS k, p_ppm FROM abp$k")
        .mkString("\nUNION ALL ")
      materializeCtes(sessionCte + s""",
        |abtr AS (
        |  SELECT event_type AS src, lead(event_type, 1) OVER w2 AS dst
        |  FROM s
        |  WINDOW w2 AS (PARTITION BY user_id, session_no ORDER BY ts, event_id)
        |),
        |abcnt AS (SELECT src, dst, count(*)::BIGINT AS n_trans
        |          FROM abtr WHERE dst IS NOT NULL GROUP BY 1, 2),
        |abrs AS (SELECT src, sum(n_trans)::BIGINT AS r FROM abcnt GROUP BY 1),
        |abt AS (SELECT c.src, c.dst, c.n_trans, t.r
        |        FROM abcnt c JOIN abrs t USING (src)),
        |abp1 AS (SELECT src, n_trans * 1000000 // r AS p_ppm
        |         FROM abt WHERE dst = 'purchase'),
        |$steps
        |SELECT src, k::BIGINT AS k, p_ppm FROM (
        |$out
        |) ORDER BY src, k""".stripMargin)
    },
    "q289_rbo" -> {
      import graft.operators.Indexing.{Bm25B, Bm25K1, Bm25Query, RboDepth,
        RboWeightsNano}
      val weights = RboWeightsNano.zipWithIndex
        .map { case (w, i) => s"(${i + 1}, $w)" }.mkString(", ")
      materializeCtes(s"""WITH rbterms AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+'))
        |    AS term
        |  FROM documents),
        |rbdl AS (SELECT doc_id, count(*) AS dl FROM rbterms GROUP BY doc_id),
        |rbst AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM rbdl),
        |rbtf AS (SELECT doc_id, term, count(*) AS tf FROM rbterms
        |         WHERE term IN (${Bm25Query.map(t => s"'$t'").mkString(", ")})
        |         GROUP BY 1, 2),
        |rbdf AS (SELECT term, count(*) AS df FROM rbtf GROUP BY term),
        |rbsc AS (
        |  SELECT t.term, t.doc_id,
        |         floor(ln(((s.n_docs - d.df + 0.5) / (d.df + 0.5)) + 1.0)
        |               * (t.tf * ${Bm25K1 + 1.0})
        |               / (t.tf + $Bm25K1 * (${1.0 - Bm25B}
        |                  + $Bm25B * l.dl / s.avgdl)) * 1000000.0)::BIGINT
        |           AS s_bm25,
        |         floor(t.tf * ln(s.n_docs / d.df) * 1000000.0)::BIGINT
        |           AS s_tfidf
        |  FROM rbtf t JOIN rbdl l USING (doc_id) JOIN rbdf d USING (term),
        |       rbst s),
        |rba AS (SELECT term, doc_id, row_number() OVER (PARTITION BY term
        |          ORDER BY s_bm25 DESC, doc_id ASC) AS ra
        |        FROM rbsc),
        |rbb AS (SELECT term, doc_id, row_number() OVER (PARTITION BY term
        |          ORDER BY s_tfidf DESC, doc_id ASC) AS rb
        |        FROM rbsc),
        |rbp AS (SELECT a.term, greatest(a.ra, b.rb) AS m
        |        FROM rba a JOIN rbb b ON b.term = a.term
        |                             AND b.doc_id = a.doc_id
        |        WHERE a.ra <= $RboDepth AND b.rb <= $RboDepth),
        |rbw(i, w) AS (VALUES $weights),
        |rbsp AS (SELECT d.term, t.i FROM rbdf d,
        |                unnest(range(1, ${RboDepth + 1})) t(i)),
        |rbov AS (SELECT sp.term, sp.i,
        |                (SELECT count(*) FROM rbp p
        |                 WHERE p.term = sp.term AND p.m <= sp.i)::BIGINT AS ov
        |         FROM rbsp sp)
        |SELECT o.term,
        |       max(CASE WHEN o.i = $RboDepth THEN o.ov ELSE 0 END)::BIGINT
        |         AS overlap_at_10,
        |       sum(floor(o.ov * w.w))::BIGINT AS rbo_nano
        |FROM rbov o JOIN rbw w ON w.i = o.i
        |GROUP BY o.term ORDER BY o.term""".stripMargin)
    },
    "q290_permutation_test" -> {
      import graft.operators.DataQuality.{PermReps, PermSrcA, PermSrcB}
      s"""WITH ptd AS (SELECT doc_id, source, n_chars FROM documents
        |            WHERE source IN ('$PermSrcA', '$PermSrcB')),
        |pto AS (SELECT sum(CASE WHEN source = '$PermSrcA' THEN 1 ELSE 0 END)::BIGINT
        |                 AS n_a,
        |               sum(CASE WHEN source = '$PermSrcB' THEN 1 ELSE 0 END)::BIGINT
        |                 AS n_b,
        |               sum(CASE WHEN source = '$PermSrcA' THEN n_chars END)::BIGINT
        |                 * 1000000
        |                 // sum(CASE WHEN source = '$PermSrcA' THEN 1 ELSE 0 END)::BIGINT
        |               - sum(CASE WHEN source = '$PermSrcB' THEN n_chars END)::BIGINT
        |                 * 1000000
        |                 // sum(CASE WHEN source = '$PermSrcB' THEN 1 ELSE 0 END)::BIGINT
        |                 AS t_obs_micros
        |        FROM ptd),
        |ptf AS (SELECT t.b, d.n_chars,
        |               ('0x' || substr(md5('perm_' || t.b || '_' || d.doc_id),
        |                               1, 7))::BIGINT % 2 AS side
        |        FROM ptd d, unnest(range(1, ${PermReps + 1})) t(b)),
        |ptb AS (SELECT sum(CASE WHEN side = 0 THEN n_chars END)::BIGINT * 1000000
        |                 // sum(CASE WHEN side = 0 THEN 1 ELSE 0 END)::BIGINT
        |               - sum(CASE WHEN side = 1 THEN n_chars END)::BIGINT * 1000000
        |                 // sum(CASE WHEN side = 1 THEN 1 ELSE 0 END)::BIGINT
        |                 AS t_b
        |        FROM ptf GROUP BY b)
        |SELECT o.n_a, o.n_b, o.t_obs_micros,
        |       sum(CASE WHEN abs(t.t_b) >= abs(o.t_obs_micros)
        |                THEN 1 ELSE 0 END)::BIGINT AS n_extreme,
        |       (sum(CASE WHEN abs(t.t_b) >= abs(o.t_obs_micros)
        |                 THEN 1 ELSE 0 END)::BIGINT + 1) * 1000000
        |         // ${PermReps + 1} AS p_ppm
        |FROM ptb t CROSS JOIN pto o
        |GROUP BY o.n_a, o.n_b, o.t_obs_micros""".stripMargin
    },
    "q291_parquet_footprint" -> {
      val branches = graft.operators.Layout.FootprintTables.map { t =>
        s"""SELECT '$t' AS table_name,
           |       (SELECT count(DISTINCT file_name)
           |        FROM parquet_metadata('__SFDIR__/$t.parquet'))::BIGINT
           |         AS n_files,
           |       (SELECT count(*) FROM (
           |          SELECT DISTINCT file_name, row_group_id
           |          FROM parquet_metadata('__SFDIR__/$t.parquet')))::BIGINT
           |         AS n_row_groups,
           |       (SELECT sum(row_group_num_rows) FROM (
           |          SELECT DISTINCT file_name, row_group_id, row_group_num_rows
           |          FROM parquet_metadata('__SFDIR__/$t.parquet')))::BIGINT
           |         AS n_rows,
           |       (SELECT sum(total_compressed_size)
           |        FROM parquet_metadata('__SFDIR__/$t.parquet'))::BIGINT
           |         AS compressed_bytes""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""SELECT * FROM (
        |$branches
        |) ORDER BY table_name""".stripMargin
    },
    "q292_tail_attribution" ->
      """WITH tat AS (SELECT quantile_cont(value, 0.99) AS p99 FROM events),
        |tag AS (SELECT e.event_type, t.p99,
        |               count(*)::BIGINT AS n_tail,
        |               sum(floor((e.value - t.p99) * 1000000.0)::BIGINT)::BIGINT
        |                 AS excess_micros
        |        FROM events e CROSS JOIN tat t
        |        WHERE e.value > t.p99
        |        GROUP BY 1, 2),
        |tt AS (SELECT sum(n_tail)::BIGINT AS nt,
        |              sum(excess_micros)::BIGINT AS et
        |       FROM tag)
        |SELECT g.event_type,
        |       floor(g.p99 * 10000.0 + 0.5) / 10000.0 AS p99,
        |       g.n_tail,
        |       g.n_tail * 1000000 // t.nt AS tail_share_ppm,
        |       g.excess_micros,
        |       g.excess_micros * 1000000 // t.et AS excess_share_ppm
        |FROM tag g CROSS JOIN tt t ORDER BY g.event_type""".stripMargin,
    "q293_kendall_tau" ->
      s"""WITH kdaily AS MATERIALIZED (
        |  SELECT (epoch_ms(ts) - ${Relational.RetentionEpochMs}) // 86400000 AS day,
        |         count(*)::BIGINT AS x,
        |         sum(floor(value * 1000000.0)::BIGINT)::BIGINT AS y
        |  FROM events GROUP BY 1),
        |kp AS (SELECT a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
        |       FROM kdaily a JOIN kdaily b ON b.day > a.day),
        |ka AS (SELECT count(*)::BIGINT AS n_pairs,
        |              sum(CASE WHEN (x2 > x1 AND y2 > y1)
        |                         OR (x2 < x1 AND y2 < y1)
        |                       THEN 1 ELSE 0 END)::BIGINT AS concordant,
        |              sum(CASE WHEN (x2 > x1 AND y2 < y1)
        |                         OR (x2 < x1 AND y2 > y1)
        |                       THEN 1 ELSE 0 END)::BIGINT AS discordant,
        |              sum(CASE WHEN x2 = x1 THEN 1 ELSE 0 END)::BIGINT AS ties_x,
        |              sum(CASE WHEN y2 = y1 THEN 1 ELSE 0 END)::BIGINT AS ties_y
        |       FROM kp)
        |SELECT (SELECT count(*)::BIGINT FROM kdaily) AS n_days,
        |       n_pairs, concordant, discordant, ties_x, ties_y,
        |       round((concordant - discordant)::DOUBLE
        |             / sqrt((n_pairs - ties_x)::DOUBLE
        |                    * (n_pairs - ties_y)::DOUBLE), 6) AS tau_b
        |FROM ka""".stripMargin,
    "q294_mann_whitney" -> {
      import graft.operators.DataQuality.{MwGroupA, MwGroupB}
      s"""WITH mwh AS (
        |  SELECT n_chars AS value, count(*)::BIGINT AS cnt,
        |         sum(CASE WHEN lang = '$MwGroupA' THEN 1 ELSE 0 END)::BIGINT AS ca
        |  FROM documents WHERE lang IN ('$MwGroupA', '$MwGroupB')
        |  GROUP BY 1),
        |mwr AS (
        |  SELECT cnt, ca,
        |         2 * coalesce(sum(cnt) OVER (ORDER BY value
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           + cnt + 1 AS r2
        |  FROM mwh),
        |mwa AS (
        |  SELECT sum(ca)::BIGINT AS n_a,
        |         sum(cnt - ca)::BIGINT AS n_b,
        |         sum(ca * r2)::BIGINT AS ra2,
        |         sum(cnt * cnt * cnt - cnt)::BIGINT AS tie_term
        |  FROM mwr)
        |SELECT n_a, n_b,
        |       (ra2 - n_a * (n_a + 1))::BIGINT AS u2_a,
        |       tie_term,
        |       (ra2 - n_a * (n_a + 1)) * 1000000 // (2 * n_a * n_b) AS auc_ppm,
        |       round((ra2 - n_a * (n_a + 1) - n_a * n_b)::DOUBLE
        |             / (2.0 * sqrt((n_a * n_b)::DOUBLE / 12.0
        |                 * ((n_a + n_b + 1)::DOUBLE
        |                    - tie_term::DOUBLE
        |                      / ((n_a + n_b)::DOUBLE * (n_a + n_b - 1)::DOUBLE)))),
        |             6) AS z
        |FROM mwa""".stripMargin
    },
    "q295_llr_bigrams" ->
      """WITH llt AS (SELECT regexp_extract_all(text, '[^ \t\n\r]+') AS w FROM documents),
        |llg AS (SELECT unnest([w[i] || '_' || w[i+1] FOR i IN range(1, len(w))]) AS bigram FROM llt),
        |llc AS MATERIALIZED (
        |  SELECT bigram, count(*)::BIGINT AS k11,
        |         split_part(bigram, '_', 1) AS a,
        |         split_part(bigram, '_', 2) AS b
        |  FROM llg GROUP BY 1),
        |lla AS (SELECT a, sum(k11)::BIGINT AS ra FROM llc GROUP BY 1),
        |llb AS (SELECT b, sum(k11)::BIGINT AS cb FROM llc GROUP BY 1),
        |lln AS (SELECT sum(k11)::BIGINT AS nn FROM llc),
        |llx AS (
        |  SELECT c.bigram, c.k11, a.ra, b.cb, n.nn,
        |         a.ra - c.k11 AS k12, b.cb - c.k11 AS k21,
        |         n.nn - a.ra - b.cb + c.k11 AS k22
        |  FROM llc c JOIN lla a USING (a) JOIN llb b USING (b) CROSS JOIN lln n)
        |SELECT bigram, k11,
        |       2 * (
        |         CASE WHEN k11 > 0 THEN floor(k11::DOUBLE
        |           * ln((k11::DOUBLE * nn::DOUBLE) / (ra::DOUBLE * cb::DOUBLE))
        |           * 1000000.0)::BIGINT ELSE 0 END
        |       + CASE WHEN k12 > 0 THEN floor(k12::DOUBLE
        |           * ln((k12::DOUBLE * nn::DOUBLE) / (ra::DOUBLE * (nn - cb)::DOUBLE))
        |           * 1000000.0)::BIGINT ELSE 0 END
        |       + CASE WHEN k21 > 0 THEN floor(k21::DOUBLE
        |           * ln((k21::DOUBLE * nn::DOUBLE) / ((nn - ra)::DOUBLE * cb::DOUBLE))
        |           * 1000000.0)::BIGINT ELSE 0 END
        |       + CASE WHEN k22 > 0 THEN floor(k22::DOUBLE
        |           * ln((k22::DOUBLE * nn::DOUBLE) / ((nn - ra)::DOUBLE * (nn - cb)::DOUBLE))
        |           * 1000000.0)::BIGINT ELSE 0 END
        |       ) AS llr_micros
        |FROM llx
        |ORDER BY llr_micros DESC, bigram ASC
        |LIMIT 20""".stripMargin,
    "q296_jsd_sources" ->
      """WITH jt AS (SELECT source, unnest(regexp_extract_all(text, '[^ \t\n\r]+')) AS term FROM documents),
        |jc AS MATERIALIZED (SELECT source, term, count(*)::BIGINT AS c FROM jt GROUP BY 1, 2),
        |jn AS (SELECT source, sum(c)::BIGINT AS n FROM jc GROUP BY 1),
        |jp AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |         na.n AS na, nb.n AS nb, a.c AS ca, b.c AS cb
        |  FROM jc a JOIN jc b USING (term)
        |  JOIN jn na ON na.source = a.source
        |  JOIN jn nb ON nb.source = b.source
        |  WHERE a.source < b.source),
        |jg AS (
        |  SELECT source_a, source_b, na, nb,
        |         count(*)::BIGINT AS n_common,
        |         sum(ca)::BIGINT AS ia, sum(cb)::BIGINT AS ib,
        |         sum(floor(ca::DOUBLE / na::DOUBLE
        |           * ln(2.0 * (ca::DOUBLE / na::DOUBLE)
        |               / (ca::DOUBLE / na::DOUBLE + cb::DOUBLE / nb::DOUBLE))
        |           * 1000000000.0)::BIGINT)::BIGINT AS sa_nano,
        |         sum(floor(cb::DOUBLE / nb::DOUBLE
        |           * ln(2.0 * (cb::DOUBLE / nb::DOUBLE)
        |               / (ca::DOUBLE / na::DOUBLE + cb::DOUBLE / nb::DOUBLE))
        |           * 1000000000.0)::BIGINT)::BIGINT AS sb_nano
        |  FROM jp GROUP BY 1, 2, 3, 4)
        |SELECT source_a, source_b, n_common,
        |       (sa_nano + sb_nano
        |        + floor(ln(2.0) * (na - ia)::DOUBLE / na::DOUBLE * 1000000000.0)::BIGINT
        |        + floor(ln(2.0) * (nb - ib)::DOUBLE / nb::DOUBLE * 1000000000.0)::BIGINT) // 2
        |         AS jsd_nano
        |FROM jg
        |ORDER BY source_a, source_b""".stripMargin,
    "q297_anova_f" ->
      """WITH ag AS (
        |  SELECT lang, count(*)::BIGINT AS ni, sum(n_chars)::BIGINT AS si,
        |         sum(n_chars * n_chars)::BIGINT AS qi
        |  FROM documents GROUP BY 1),
        |ag2 AS (
        |  SELECT ni, si, qi,
        |         floor(si::DOUBLE * si::DOUBLE / ni::DOUBLE * 1000.0)::BIGINT AS term_milli
        |  FROM ag),
        |ag3 AS (
        |  SELECT count(*)::BIGINT AS k_groups, sum(ni)::BIGINT AS n_total,
        |         sum(si)::BIGINT AS s_total, sum(qi)::BIGINT AS q_total,
        |         sum(term_milli)::BIGINT AS t_milli
        |  FROM ag2),
        |ag4 AS (
        |  SELECT k_groups, n_total,
        |         t_milli - floor(s_total::DOUBLE * s_total::DOUBLE
        |           / n_total::DOUBLE * 1000.0)::BIGINT AS ssb_milli,
        |         q_total * 1000 - t_milli AS ssw_milli
        |  FROM ag3)
        |SELECT k_groups, n_total, ssb_milli, ssw_milli,
        |       floor(ssb_milli::DOUBLE * (n_total - k_groups)::DOUBLE
        |             / (ssw_milli::DOUBLE * (k_groups - 1)::DOUBLE)
        |             * 1000000.0)::BIGINT AS f_micros
        |FROM ag4""".stripMargin,
    "q298_kruskal_wallis" ->
      """WITH kwl AS (
        |  SELECT lang, n_chars AS value, count(*)::BIGINT AS c
        |  FROM documents GROUP BY 1, 2),
        |kwv AS (
        |  SELECT value, sum(c)::BIGINT AS cnt FROM kwl GROUP BY 1),
        |kwr AS (
        |  SELECT value, cnt,
        |         2 * coalesce(sum(cnt) OVER (ORDER BY value
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           + cnt + 1 AS r2
        |  FROM kwv),
        |kwg AS (
        |  SELECT lang, sum(c)::BIGINT AS ni, sum(c * r2)::BIGINT AS ri2
        |  FROM kwl JOIN kwr USING (value) GROUP BY 1),
        |kwg2 AS (
        |  SELECT ni,
        |         floor(ri2::DOUBLE * ri2::DOUBLE / ni::DOUBLE * 1000.0)::BIGINT
        |           AS term_milli
        |  FROM kwg),
        |kwt AS (
        |  SELECT sum(cnt * cnt * cnt - cnt)::BIGINT AS tie_term FROM kwv),
        |kwa AS (
        |  SELECT count(*)::BIGINT AS k_groups, sum(ni)::BIGINT AS n_total,
        |         sum(term_milli)::BIGINT AS t_milli
        |  FROM kwg2),
        |kwh AS (
        |  SELECT k_groups, n_total, tie_term,
        |         3.0 * t_milli::DOUBLE
        |           / (1000.0 * (n_total * (n_total + 1))::DOUBLE)
        |           - 3.0 * (n_total + 1)::DOUBLE AS h_raw
        |  FROM kwa CROSS JOIN kwt)
        |SELECT k_groups, n_total, tie_term,
        |       floor(h_raw * 1000000.0)::BIGINT AS h_micros,
        |       floor(h_raw
        |         / (1.0 - tie_term::DOUBLE
        |             / (n_total::DOUBLE * n_total::DOUBLE * n_total::DOUBLE
        |                - n_total::DOUBLE))
        |         * 1000000.0)::BIGINT AS h_adj_micros
        |FROM kwh""".stripMargin,
    "q299_jarque_bera" ->
      """WITH jbu AS (
        |  SELECT user_id, count(*)::BIGINT AS x FROM events GROUP BY 1),
        |jbs AS (
        |  SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS s1,
        |         sum(x * x)::BIGINT AS s2, sum(x * x * x)::BIGINT AS s3,
        |         sum(x * x * x * x)::BIGINT AS s4
        |  FROM jbu),
        |jbp AS (
        |  SELECT n, s1::DOUBLE / n::DOUBLE AS mean,
        |         s2::DOUBLE / n::DOUBLE AS p2,
        |         s3::DOUBLE / n::DOUBLE AS p3,
        |         s4::DOUBLE / n::DOUBLE AS p4
        |  FROM jbs),
        |jbm AS (
        |  SELECT n,
        |         p2 - mean * mean AS m2,
        |         p3 - 3.0 * mean * p2 + 2.0 * mean * mean * mean AS m3,
        |         p4 - 4.0 * mean * p3 + 6.0 * mean * mean * p2
        |           - 3.0 * mean * mean * mean * mean AS m4
        |  FROM jbp),
        |jbk AS (
        |  SELECT n, m3 / (m2 * sqrt(m2)) AS skew, m4 / (m2 * m2) AS kurt
        |  FROM jbm)
        |SELECT n AS n_users,
        |       floor(skew * 1000000.0)::BIGINT AS skew_micros,
        |       floor(kurt * 1000000.0)::BIGINT AS kurt_micros,
        |       floor(n::DOUBLE / 6.0
        |         * (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0)
        |         * 1000000.0)::BIGINT AS jb_micros
        |FROM jbk""".stripMargin,
    "q300_brown_forsythe" ->
      """WITH bfx AS (SELECT lang, doc_id, n_chars AS x FROM documents),
        |bfr AS (
        |  SELECT lang, x,
        |         row_number() OVER (PARTITION BY lang ORDER BY x, doc_id) AS rn,
        |         count(*) OVER (PARTITION BY lang) AS n
        |  FROM bfx),
        |bfm AS (
        |  SELECT lang,
        |         sum(x * (CASE WHEN rn = (n + 1) // 2 THEN 1 ELSE 0 END
        |                + CASE WHEN rn = (n + 2) // 2 THEN 1 ELSE 0 END))::BIGINT
        |           AS med2
        |  FROM bfr GROUP BY 1),
        |bfd AS (
        |  SELECT lang, abs(x * 2 - med2)::BIGINT AS d2
        |  FROM bfx JOIN bfm USING (lang)),
        |bfg AS (
        |  SELECT lang, count(*)::BIGINT AS ni, sum(d2)::BIGINT AS si,
        |         sum(d2 * d2)::BIGINT AS qi
        |  FROM bfd GROUP BY 1),
        |bfg2 AS (
        |  SELECT ni, si, qi,
        |         floor(si::DOUBLE * si::DOUBLE / ni::DOUBLE * 1000.0)::BIGINT AS term_milli
        |  FROM bfg),
        |bfa AS (
        |  SELECT count(*)::BIGINT AS k_groups, sum(ni)::BIGINT AS n_total,
        |         sum(si)::BIGINT AS s_total, sum(qi)::BIGINT AS q_total,
        |         sum(term_milli)::BIGINT AS t_milli
        |  FROM bfg2),
        |bfb AS (
        |  SELECT k_groups, n_total,
        |         t_milli - floor(s_total::DOUBLE * s_total::DOUBLE
        |           / n_total::DOUBLE * 1000.0)::BIGINT AS ssb_milli,
        |         q_total * 1000 - t_milli AS ssw_milli
        |  FROM bfa)
        |SELECT k_groups, n_total, ssb_milli, ssw_milli,
        |       floor(ssb_milli::DOUBLE * (n_total - k_groups)::DOUBLE
        |             / (ssw_milli::DOUBLE * (k_groups - 1)::DOUBLE)
        |             * 1000000.0)::BIGINT AS f_micros
        |FROM bfb""".stripMargin,
    "q301_kaplan_meier" -> {
      import graft.operators.Relational.KmCapHours
      s"""WITH kmf AS (
        |  SELECT user_id, min(epoch_us(ts)) AS ft FROM events GROUP BY 1),
        |kmp AS (
        |  SELECT user_id, min(epoch_us(ts)) AS pt FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |kms AS (
        |  SELECT CASE WHEN pt IS NOT NULL AND (pt - ft) // 3600000000 < $KmCapHours
        |              THEN (pt - ft) // 3600000000 ELSE $KmCapHours END AS dur,
        |         CASE WHEN pt IS NOT NULL AND (pt - ft) // 3600000000 < $KmCapHours
        |              THEN 1 ELSE 0 END AS ev
        |  FROM kmf LEFT JOIN kmp USING (user_id)),
        |kmh AS (
        |  SELECT dur, count(*)::BIGINT AS cnt, sum(ev)::BIGINT AS d
        |  FROM kms GROUP BY 1),
        |kmr AS (
        |  SELECT dur, d,
        |         sum(cnt) OVER (ORDER BY dur
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)::BIGINT
        |           AS n_risk
        |  FROM kmh),
        |kmt AS (
        |  SELECT dur, n_risk, d,
        |         floor(ln((n_risk - d)::DOUBLE / n_risk::DOUBLE)
        |           * 1000000000.0)::BIGINT AS term_nano
        |  FROM kmr WHERE d > 0)
        |SELECT dur AS duration_hours, n_risk, d AS d_events,
        |       (sum(term_nano) OVER (ORDER BY dur
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |         AS ln_s_nano,
        |       floor(exp((sum(term_nano) OVER (ORDER BY dur
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE
        |           / 1000000000.0) * 1000000.0)::BIGINT AS s_ppm
        |FROM kmt
        |ORDER BY duration_hours""".stripMargin
    },
    "q302_naive_bayes" ->
      """WITH nbd AS (
        |  SELECT doc_id, lang, text,
        |         ('0x' || substr(md5('nb_' || doc_id), 1, 7))::BIGINT % 2 = 0 AS is_train
        |  FROM documents),
        |nbt AS MATERIALIZED (
        |  SELECT doc_id, lang, is_train,
        |         unnest(regexp_extract_all(text, '[^ \t\n\r]+')) AS term
        |  FROM nbd),
        |nbtr AS MATERIALIZED (
        |  SELECT term, lang, count(*)::BIGINT AS ctl
        |  FROM nbt WHERE is_train GROUP BY 1, 2),
        |nbcl AS (SELECT lang, sum(ctl)::BIGINT AS nl FROM nbtr GROUP BY 1),
        |nbv AS (SELECT count(DISTINCT term)::BIGINT AS v FROM nbtr),
        |nbpr AS (SELECT lang, count(*)::BIGINT AS dl FROM nbd WHERE is_train GROUP BY 1),
        |nbto AS (SELECT count(*)::BIGINT AS dt FROM nbd WHERE is_train),
        |nbcf AS (
        |  SELECT c.lang AS clang,
        |         floor(ln(dl::DOUBLE / dt::DOUBLE) * 1000000.0)::BIGINT AS prior_micros,
        |         floor(ln((nl + v)::DOUBLE) * 1000000.0)::BIGINT AS lnden_micros
        |  FROM nbcl c JOIN nbpr p ON c.lang = p.lang
        |  CROSS JOIN nbv CROSS JOIN nbto),
        |nbte AS MATERIALIZED (
        |  SELECT doc_id, lang, term, count(*)::BIGINT AS cdt
        |  FROM nbt WHERE NOT is_train GROUP BY 1, 2, 3),
        |nbdm AS (
        |  SELECT doc_id, lang AS true_lang, sum(cdt)::BIGINT AS m
        |  FROM nbte GROUP BY 1, 2),
        |nbma AS (
        |  SELECT t.doc_id, r.lang AS clang,
        |         sum(t.cdt
        |             * floor(ln((r.ctl + 1)::DOUBLE) * 1000000.0)::BIGINT)::BIGINT AS ms
        |  FROM nbte t JOIN nbtr r USING (term) GROUP BY 1, 2),
        |nbsc AS (
        |  SELECT d.doc_id, d.true_lang, c.clang,
        |         c.prior_micros - d.m * c.lnden_micros + coalesce(ma.ms, 0)
        |           AS score_micros
        |  FROM nbdm d CROSS JOIN nbcf c
        |  LEFT JOIN nbma ma ON ma.doc_id = d.doc_id AND ma.clang = c.clang),
        |nbpk AS (
        |  SELECT true_lang, clang AS pred_lang,
        |         row_number() OVER (PARTITION BY doc_id
        |           ORDER BY score_micros DESC, clang ASC) AS rk
        |  FROM nbsc)
        |SELECT true_lang, pred_lang, count(*)::BIGINT AS n_docs
        |FROM nbpk WHERE rk = 1
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "q303_cond_entropy" ->
      """WITH cet AS (SELECT regexp_extract_all(text, '[^ \t\n\r]+') AS w FROM documents),
        |cea AS (
        |  SELECT w[i] AS a, w[i+1] AS b
        |  FROM cet, unnest(range(1, len(w))) t(i)),
        |cec AS MATERIALIZED (
        |  SELECT a, b, count(*)::BIGINT AS c FROM cea GROUP BY 1, 2),
        |cet2 AS (
        |  SELECT sum(c)::BIGINT AS n_pairs, count(*)::BIGINT AS v_bigrams
        |  FROM cec),
        |ceb AS (
        |  SELECT sum(floor(c::DOUBLE / n_pairs::DOUBLE
        |    * ln(n_pairs::DOUBLE / c::DOUBLE)
        |    * 1000000000.0)::BIGINT)::BIGINT AS h_bigram_nano
        |  FROM cec, cet2),
        |cem AS (SELECT a, sum(c)::BIGINT AS ca FROM cec GROUP BY 1),
        |ce1 AS (
        |  SELECT count(*)::BIGINT AS v_first,
        |         sum(floor(ca::DOUBLE / n_pairs::DOUBLE
        |           * ln(n_pairs::DOUBLE / ca::DOUBLE)
        |           * 1000000000.0)::BIGINT)::BIGINT AS h_first_nano
        |  FROM cem, cet2)
        |SELECT n_pairs, v_bigrams, v_first, h_bigram_nano, h_first_nano,
        |       h_bigram_nano - h_first_nano AS h_cond_nano,
        |       floor(exp((h_bigram_nano - h_first_nano)::DOUBLE / 1000000000.0)
        |         * 1000000.0)::BIGINT AS ppl_micros
        |FROM cet2, ceb, ce1""".stripMargin,
    "q304_fd_discovery" -> {
      import graft.operators.DataQuality.FdCandidates
      FdCandidates.map { case (tbl, lhs, rhs) =>
        s"""SELECT '$tbl' AS tbl, '$lhs' AS lhs, '$rhs' AS rhs,
           |       count(*)::BIGINT AS n_lhs, sum(na)::BIGINT AS n_rows,
           |       sum(na - ma)::BIGINT AS g3_violations,
           |       (sum(na - ma) = 0)::BIGINT AS holds
           |FROM (
           |  SELECT a, sum(c)::BIGINT AS na, max(c)::BIGINT AS ma FROM (
           |    SELECT $lhs::VARCHAR AS a, $rhs::VARCHAR AS b,
           |           count(*)::BIGINT AS c
           |    FROM $tbl GROUP BY 1, 2) GROUP BY 1)""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY tbl, lhs, rhs")
    },
    "q305_textrank" -> textRankOracle,
    "q306_logreg" -> logRegOracle,
    "q307_haar_energy" -> {
      import graft.operators.Relational.HaarLevels
      val levels = (1 to HaarLevels).map { k =>
        val half = 1L << (k - 1)
        s"""SELECT $k AS level, ${2 * half} AS block_days,
           |       count(*)::BIGINT AS n_blocks,
           |       coalesce(sum(diff * diff), 0)::BIGINT AS energy
           |FROM (
           |  SELECT b // 2 AS pb,
           |         sum(CASE WHEN b % 2 = 0 THEN s ELSE -s END)::BIGINT AS diff
           |  FROM (SELECT day // $half AS b, sum(cnt)::BIGINT AS s
           |        FROM hdaily GROUP BY 1)
           |  GROUP BY 1)""".stripMargin
      }.mkString("", "\nUNION ALL\n", "")
      s"""WITH hev AS (SELECT epoch_us(ts) // 86400000000 AS dayabs FROM events),
        |hd0 AS (SELECT min(dayabs) AS d0 FROM hev),
        |hdaily AS MATERIALIZED (
        |  SELECT dayabs - d0 AS day, count(*)::BIGINT AS cnt
        |  FROM hev, hd0 GROUP BY 1)
        |$levels
        |ORDER BY level""".stripMargin
    },
    "q308_decision_stump" -> {
      import graft.operators.DataQuality.LrPosLang
      s"""WITH dsh AS (
        |  SELECT n_chars AS v, count(*)::BIGINT AS cnt,
        |         sum(CASE WHEN lang = '$LrPosLang' THEN 1 ELSE 0 END)::BIGINT AS pos
        |  FROM documents GROUP BY 1),
        |dst AS (SELECT sum(cnt)::BIGINT AS n, sum(pos)::BIGINT AS npos FROM dsh),
        |dsc AS (
        |  SELECT v,
        |         sum(cnt) OVER (ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS nle,
        |         sum(pos) OVER (ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS ple
        |  FROM dsh),
        |dsg AS (
        |  SELECT v, nle, ple, n, npos,
        |         floor((2.0 * ple::DOUBLE * (nle - ple)::DOUBLE / nle::DOUBLE
        |              + 2.0 * (npos - ple)::DOUBLE
        |                * ((n - nle) - (npos - ple))::DOUBLE
        |                / (n - nle)::DOUBLE)
        |               / n::DOUBLE * 1000000.0)::BIGINT AS gini_micros
        |  FROM dsc, dst WHERE nle < n)
        |SELECT v AS threshold, gini_micros, nle AS n_le, ple AS pos_le,
        |       n AS n_total, npos AS n_pos,
        |       (greatest(ple, nle - ple)
        |        + greatest(npos - ple, (n - nle) - (npos - ple))) * 1000000 // n
        |         AS acc_ppm
        |FROM dsg
        |ORDER BY gini_micros ASC, v ASC
        |LIMIT 1""".stripMargin
    },
    "q309_shapley_credit" -> {
      import graft.operators.Relational.AttribLookbackUs
      s"""WITH shp AS (
        |  SELECT event_id AS p_id, user_id, epoch_us(ts) AS pus,
        |         floor(value * 100 + 0.5)::BIGINT AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |sht AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_type AS channel
        |  FROM events WHERE event_type IN ('view', 'click', 'signup')),
        |shd AS MATERIALIZED (
        |  SELECT DISTINCT p.p_id, p.cents, t.channel
        |  FROM shp p LEFT JOIN sht t ON t.user_id = p.user_id
        |    AND t.tus < p.pus AND t.tus >= p.pus - $AttribLookbackUs),
        |shk AS (SELECT p_id, count(channel)::BIGINT AS k FROM shd GROUP BY 1)
        |SELECT coalesce(d.channel, '(none)') AS channel,
        |       count(*)::BIGINT AS n_conversions,
        |       sum(d.cents * 10000 // greatest(k.k, 1))::BIGINT AS credit_microcents
        |FROM shd d JOIN shk k USING (p_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q310_matched_uplift" ->
      """WITH mue AS (
        |  SELECT user_id, count(*)::BIGINT AS cnt,
        |         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS y,
        |         min({'us': epoch_us(ts), 'eid': event_id, 'et': event_type}) AS fe
        |  FROM events GROUP BY 1),
        |mus AS (
        |  SELECT length(printf('%b', cnt)) AS stratum_b,
        |         CASE WHEN fe.et = 'click' THEN 1 ELSE 0 END AS treated, y
        |  FROM mue),
        |muc AS (
        |  SELECT stratum_b,
        |         sum(CASE WHEN treated = 1 THEN 1 ELSE 0 END)::BIGINT AS nt,
        |         sum(CASE WHEN treated = 1 THEN y ELSE 0 END)::BIGINT AS yt,
        |         sum(CASE WHEN treated = 0 THEN 1 ELSE 0 END)::BIGINT AS nc,
        |         sum(CASE WHEN treated = 0 THEN y ELSE 0 END)::BIGINT AS yc
        |  FROM mus GROUP BY 1),
        |mur AS MATERIALIZED (
        |  SELECT stratum_b::VARCHAR AS stratum, nt, nc,
        |         yt * 1000000 // nt AS treated_mean_micros,
        |         yc * 1000000 // nc AS control_mean_micros,
        |         yt * 1000000 // nt - yc * 1000000 // nc AS uplift_micros
        |  FROM muc WHERE nt > 0 AND nc > 0)
        |SELECT stratum, nt, nc, treated_mean_micros, control_mean_micros,
        |       uplift_micros
        |FROM mur
        |UNION ALL
        |SELECT '(att)', sum(nt)::BIGINT, sum(nc)::BIGINT,
        |       NULL::BIGINT, NULL::BIGINT,
        |       floor(sum(nt * uplift_micros)::DOUBLE / sum(nt)::DOUBLE)::BIGINT
        |FROM mur
        |ORDER BY stratum""".stripMargin,
    "q311_late_orders" -> {
      import graft.operators.Relational.{LateShipDays, LateWindowEnd, LateWindowStart}
      s"""SELECT o_orderpriority, count(*)::BIGINT AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '$LateWindowStart'
        |  AND o.o_orderdate < TIMESTAMP '$LateWindowEnd'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL $LateShipDays DAY)
        |GROUP BY 1
        |ORDER BY 1""".stripMargin
    },
    "q312_wl_hash" -> materializeCtes(wlHashOracle),
    "q313_local_clustering" -> materializeCtes(localClusteringOracle),
    "q314_lof" -> {
      import graft.operators.Similarity.{LofK, LofTopK}
      materializeCtes(ivfHierCellsCte + s""",
        |lbig AS (
        |  SELECT cent_id FROM cells GROUP BY 1 HAVING count(*) >= ${LofK + 1}),
        |lmem AS (SELECT c.vec_id, c.cent_id FROM cells c JOIN lbig USING (cent_id)),
        |lofp AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb,
        |         floor((1.0 - list_dot_product(ea.v, eb.v) /
        |           (sqrt(list_dot_product(ea.v, ea.v))
        |            * sqrt(list_dot_product(eb.v, eb.v))))
        |           * 1000000000.0)::BIGINT AS dn
        |  FROM lmem a JOIN lmem b
        |    ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id
        |  JOIN e ea ON ea.vec_id = a.vec_id
        |  JOIN e eb ON eb.vec_id = b.vec_id),
        |lofr AS (
        |  SELECT va, vb, dn,
        |         row_number() OVER (PARTITION BY va ORDER BY dn, vb) AS rn
        |  FROM lofp),
        |lofn AS (SELECT va, vb, dn FROM lofr WHERE rn <= $LofK),
        |lofk AS (SELECT va, max(dn) AS kdist FROM lofn GROUP BY 1),
        |lofs AS (
        |  SELECT n.va, sum(greatest(kb.kdist, n.dn))::BIGINT AS s
        |  FROM lofn n JOIN lofk kb ON kb.va = n.vb GROUP BY 1),
        |lofl AS (
        |  SELECT va, $LofK * 1000000000000000 // greatest(s, 1) AS lrd FROM lofs),
        |loff AS (
        |  SELECT n.va, sum(lb.lrd)::BIGINT AS slrd
        |  FROM lofn n JOIN lofl lb ON lb.va = n.vb GROUP BY 1)
        |SELECT f.va AS vec_id, c.cent_id, k.kdist AS kdist_nano,
        |       CASE WHEN f.slrd <= 9223372036854
        |            THEN f.slrd * 1000000 // ($LofK * la.lrd)
        |            ELSE f.slrd // greatest($LofK * la.lrd // 1000000, 1)
        |       END AS lof_ppm
        |FROM loff f
        |JOIN lofl la ON la.va = f.va
        |JOIN lofk k ON k.va = f.va
        |JOIN cells c ON c.vec_id = f.va
        |ORDER BY lof_ppm DESC, vec_id ASC
        |LIMIT $LofTopK""".stripMargin)
    },
    "q315_probe_curve" -> {
      import graft.operators.Similarity.{BucketK, ProbeSweepMax}
      val points = (1 to ProbeSweepMax).map { p =>
        s"""SELECT $p AS nprobe,
           |       (SELECT count(*) FROM ptruth t
           |        JOIN (SELECT query_id, neighbor_id FROM (
           |                SELECT query_id, neighbor_id,
           |                       row_number() OVER (PARTITION BY query_id
           |                         ORDER BY c DESC, neighbor_id ASC) AS rnk
           |                FROM pcsc WHERE prn <= $p) WHERE rnk <= $BucketK) a
           |        USING (query_id, neighbor_id))::BIGINT AS n_match,
           |       (SELECT count(*) FROM ptruth t
           |        JOIN (SELECT query_id, neighbor_id FROM (
           |                SELECT query_id, neighbor_id,
           |                       row_number() OVER (PARTITION BY query_id
           |                         ORDER BY c DESC, neighbor_id ASC) AS rnk
           |                FROM pcsc WHERE prn <= $p) WHERE rnk <= $BucketK) a
           |        USING (query_id, neighbor_id)) * 1000000
           |         // (10 * $BucketK) AS recall_ppm""".stripMargin
      }.mkString("", "\nUNION ALL\n", "")
      materializeCtes(ivfHierCellsCte + s""",
        |pprobes AS (SELECT vec_id, cent_id, rn AS prn FROM asg
        |            WHERE rn <= $ProbeSweepMax AND vec_id < 10),
        |pcsc AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, a.prn,
        |         list_dot_product(ea.v, eb.v) /
        |         (sqrt(list_dot_product(ea.v, ea.v))
        |          * sqrt(list_dot_product(eb.v, eb.v))) AS c
        |  FROM pprobes a JOIN cells b
        |    ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id
        |  JOIN e ea ON ea.vec_id = a.vec_id
        |  JOIN e eb ON eb.vec_id = b.vec_id),
        |ptp AS (
        |  SELECT ea.vec_id AS query_id, eb.vec_id AS neighbor_id,
        |         list_dot_product(ea.v, eb.v) /
        |         (sqrt(list_dot_product(ea.v, ea.v))
        |          * sqrt(list_dot_product(eb.v, eb.v))) AS c
        |  FROM e ea, e eb
        |  WHERE ea.vec_id < 10 AND ea.vec_id <> eb.vec_id),
        |ptruth AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |           row_number() OVER (PARTITION BY query_id
        |             ORDER BY c DESC, neighbor_id ASC) AS rnk
        |    FROM ptp) WHERE rnk <= $BucketK)
        |$points
        |ORDER BY nprobe""".stripMargin)
    },
    "q316_yules_k" ->
      """WITH ykc AS (
        |  SELECT source, term, count(*)::BIGINT AS c FROM (
        |    SELECT source, unnest(regexp_extract_all(text, '[^ \t\n\r]+')) AS term
        |    FROM documents)
        |  GROUP BY 1, 2),
        |yka AS (
        |  SELECT source, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
        |         sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
        |         sum(c * c)::BIGINT AS s2
        |  FROM ykc GROUP BY 1)
        |SELECT source, n_tokens, n_types, n_hapax,
        |       floor((s2 - n_tokens)::DOUBLE * 10000000.0
        |             / (n_tokens::DOUBLE * n_tokens::DOUBLE))::BIGINT
        |         AS yule_k_milli,
        |       floor(ln(n_types::DOUBLE) / ln(n_tokens::DOUBLE)
        |             * 1000000.0)::BIGINT AS herdan_c_micro
        |FROM yka
        |ORDER BY source""".stripMargin,
    "q317_term_burstiness" -> {
      import graft.operators.TextAnalysis.{BurstMinDf, BurstTopK}
      s"""WITH tbc AS (
        |  SELECT doc_id, term, count(*)::BIGINT AS c FROM (
        |    SELECT doc_id, unnest(regexp_extract_all(text, '[^ \t\n\r]+')) AS term
        |    FROM documents)
        |  GROUP BY 1, 2),
        |tba AS (
        |  SELECT term, count(*)::BIGINT AS df, sum(c)::BIGINT AS total,
        |         sum(c * c)::BIGINT AS s2
        |  FROM tbc GROUP BY 1),
        |tbn AS (SELECT count(*)::BIGINT AS n_docs FROM documents)
        |SELECT term, df, total,
        |       floor((s2::DOUBLE / total::DOUBLE
        |              - total::DOUBLE / n_docs::DOUBLE)
        |             * 1000000.0)::BIGINT AS vmr_micro
        |FROM tba, tbn
        |WHERE df >= $BurstMinDf
        |ORDER BY vmr_micro DESC, term ASC
        |LIMIT $BurstTopK""".stripMargin
    },
    "q318_u_shape_attribution" -> {
      import graft.operators.Relational.AttribLookbackUs
      s"""WITH upe AS (
        |  SELECT event_id AS p_id, user_id, epoch_us(ts) AS pus,
        |         floor(value * 100 + 0.5)::BIGINT AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |utt AS (
        |  SELECT user_id, event_id AS t_id, epoch_us(ts) AS tus,
        |         event_type AS channel
        |  FROM events WHERE event_type IN ('view', 'click', 'signup')),
        |uj AS MATERIALIZED (
        |  SELECT p.p_id, p.cents, t.t_id, t.tus, t.channel
        |  FROM upe p LEFT JOIN utt t ON t.user_id = p.user_id
        |    AND t.tus < p.pus AND t.tus >= p.pus - $AttribLookbackUs),
        |uag AS (
        |  SELECT p_id, max(cents) AS cents, count(t_id) AS n,
        |         min({'tus': tus, 'tid': t_id}) AS f,
        |         max({'tus': tus, 'tid': t_id}) AS l
        |  FROM uj GROUP BY 1),
        |ucr AS (
        |  SELECT coalesce(j.channel, '(none)') AS channel,
        |         CASE WHEN g.n <= 1 THEN j.cents * 10000
        |              WHEN g.n = 2 THEN j.cents * 5000
        |              WHEN j.t_id = g.f.tid OR j.t_id = g.l.tid
        |                THEN j.cents * 4000
        |              ELSE j.cents * 2000 // (g.n - 2) END AS credit
        |  FROM uj j JOIN uag g USING (p_id))
        |SELECT channel, count(*)::BIGINT AS n_credits,
        |       sum(credit)::BIGINT AS credit_microcents
        |FROM ucr GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q319_feature_hashing" -> {
      import graft.operators.TextAnalysis.FhBuckets
      s"""WITH fhc AS (
        |  SELECT term, count(*)::BIGINT AS mass FROM (
        |    SELECT unnest(regexp_extract_all(text, '[^ \t\n\r]+')) AS term
        |    FROM documents)
        |  GROUP BY 1),
        |fhb AS (
        |  SELECT ('0x' || substr(md5('fh_' || term), 1, 7))::BIGINT % $FhBuckets
        |           AS bucket,
        |         count(*)::BIGINT AS load, sum(mass)::BIGINT AS bmass
        |  FROM fhc GROUP BY 1),
        |fha AS (
        |  SELECT sum(load)::BIGINT AS n_terms, count(*)::BIGINT AS occupied,
        |         max(load)::BIGINT AS max_load, sum(load * load)::BIGINT AS s2,
        |         sum(bmass)::BIGINT AS n_tokens,
        |         max(bmass)::BIGINT AS max_bucket_mass
        |  FROM fhb)
        |SELECT n_terms, $FhBuckets AS n_buckets, occupied, max_load,
        |       (n_terms - occupied) * 1000000 // n_terms AS collision_ppm,
        |       floor(($FhBuckets.0 * s2::DOUBLE / n_terms::DOUBLE
        |              - n_terms::DOUBLE) * 1000000.0)::BIGINT AS chi2_micro,
        |       max_bucket_mass * 1000000 // n_tokens AS max_mass_ppm
        |FROM fha""".stripMargin
    },
    "q320_good_turing" -> {
      import graft.operators.TextAnalysis.GtMaxR
      s"""WITH gtc AS (
        |  SELECT term, count(*)::BIGINT AS c FROM (
        |    SELECT unnest([w[i] || '_' || w[i+1] || '_' || w[i+2]
        |                   FOR i IN range(1, len(w) - 1)]) AS term
        |    FROM (SELECT regexp_extract_all(text, '[^ \t\n\r]+') AS w
        |          FROM documents))
        |  GROUP BY 1),
        |gth AS MATERIALIZED (
        |  SELECT c AS r, count(*)::BIGINT AS nr FROM gtc GROUP BY 1),
        |gtt AS (SELECT sum(r * nr)::BIGINT AS n_tokens FROM gth)
        |SELECT h.r, h.nr, coalesce(nx.nr, 0)::BIGINT AS nr_next,
        |       floor((h.r + 1)::DOUBLE * coalesce(nx.nr, 0)::DOUBLE
        |             / h.nr::DOUBLE * 1000000.0)::BIGINT AS r_star_micro,
        |       CASE WHEN h.r = 1 THEN h.nr * 1000000 // n_tokens
        |            ELSE NULL::BIGINT END AS missing_mass_ppm
        |FROM gth h
        |LEFT JOIN gth nx ON nx.r = h.r + 1, gtt
        |WHERE h.r <= $GtMaxR
        |ORDER BY h.r""".stripMargin
    },
    "q321_rank_turnover" -> {
      import graft.operators.Relational.TurnoverK
      s"""WITH rtd AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day, user_id,
        |         count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2),
        |rtt AS MATERIALIZED (
        |  SELECT day, user_id FROM (
        |    SELECT day, user_id,
        |           row_number() OVER (PARTITION BY day
        |             ORDER BY cnt DESC, user_id ASC) AS rn
        |    FROM rtd) WHERE rn <= $TurnoverK),
        |rtc AS (
        |  SELECT t.day, count(*)::BIGINT AS nc
        |  FROM rtt t JOIN rtt p ON p.day = t.day - 1 AND p.user_id = t.user_id
        |  GROUP BY 1),
        |rds AS (SELECT DISTINCT day FROM rtt),
        |rdd AS (SELECT d.day FROM rds d JOIN rds p ON p.day = d.day - 1)
        |SELECT d.day, coalesce(c.nc, 0)::BIGINT AS n_common,
        |       coalesce(c.nc, 0) * 1000000 // $TurnoverK AS retention_ppm
        |FROM rdd d LEFT JOIN rtc c USING (day)
        |ORDER BY day""".stripMargin
    },
    "q322_l_moments" ->
      """WITH lmh AS (
        |  SELECT n_chars AS v, count(*)::BIGINT AS cnt FROM documents GROUP BY 1),
        |lmr AS (
        |  SELECT v, cnt,
        |         coalesce(sum(cnt) OVER (ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS a
        |  FROM lmh),
        |lmr2 AS (SELECT v, cnt, a, a + cnt - 1 AS b FROM lmr),
        |lmb AS (
        |  SELECT sum(cnt)::BIGINT AS n,
        |         sum(v * cnt)::BIGINT AS b0,
        |         sum(v * (cnt * (a + b - 2) // 2))::BIGINT AS b1,
        |         sum(v * 2 * (b * (b - 1) * (b - 2) // 6
        |                      - (a - 1) * (a - 2) * (a - 3) // 6))::BIGINT AS b2,
        |         sum(v * 6 * (b * (b - 1) * (b - 2) * (b - 3) // 24
        |                      - (a - 1) * (a - 2) * (a - 3) * (a - 4) // 24))::BIGINT
        |           AS b3
        |  FROM lmr2),
        |lmd AS (
        |  SELECT n, b0::DOUBLE / n::DOUBLE AS d0,
        |         b1::DOUBLE / (n * (n - 1))::DOUBLE AS d1,
        |         b2::DOUBLE / (n * (n - 1) * (n - 2))::DOUBLE AS d2,
        |         b3::DOUBLE / (n * (n - 1) * (n - 2) * (n - 3))::DOUBLE AS d3
        |  FROM lmb),
        |lml AS (
        |  SELECT n, d0, 2.0 * d1 - d0 AS l2,
        |         6.0 * d2 - 6.0 * d1 + d0 AS l3,
        |         20.0 * d3 - 30.0 * d2 + 12.0 * d1 - d0 AS l4
        |  FROM lmd)
        |SELECT n, floor(d0 * 1000000.0)::BIGINT AS l1_micro,
        |       floor(l2 * 1000000.0)::BIGINT AS l2_micro,
        |       floor(l3 / l2 * 1000000.0)::BIGINT AS t3_micro,
        |       floor(l4 / l2 * 1000000.0)::BIGINT AS t4_micro
        |FROM lml""".stripMargin,
    "q323_theil_sen" ->
      """WITH tse AS (SELECT epoch_us(ts) // 86400000000 AS dayabs FROM events),
        |tsd0 AS (SELECT min(dayabs) AS d0 FROM tse),
        |tsdy AS MATERIALIZED (
        |  SELECT dayabs - d0 AS d, count(*)::BIGINT AS c
        |  FROM tse, tsd0 GROUP BY 1),
        |tsp AS MATERIALIZED (
        |  SELECT floor((b.c - a.c)::DOUBLE * 1000000000.0
        |               / (b.d - a.d)::DOUBLE)::BIGINT AS s
        |  FROM tsdy a JOIN tsdy b ON a.d < b.d),
        |tsn AS (SELECT count(*)::BIGINT AS np FROM tsp),
        |tsm AS (
        |  SELECT max(np)::BIGINT AS n_pairs,
        |         sum(s * (CASE WHEN rn = (np + 1) // 2 THEN 1 ELSE 0 END
        |                + CASE WHEN rn = (np + 2) // 2 THEN 1 ELSE 0 END))::BIGINT
        |           AS med2
        |  FROM (SELECT s, row_number() OVER (ORDER BY s) AS rn FROM tsp), tsn),
        |tss AS (
        |  SELECT n_pairs, floor(med2::DOUBLE / 2.0)::BIGINT AS slope_nano
        |  FROM tsm),
        |tsr AS (
        |  SELECT sum(r * (CASE WHEN rn = (nd + 1) // 2 THEN 1 ELSE 0 END
        |               + CASE WHEN rn = (nd + 2) // 2 THEN 1 ELSE 0 END))::BIGINT
        |           AS rmed2
        |  FROM (SELECT r, row_number() OVER (ORDER BY r) AS rn FROM (
        |          SELECT d.c * 1000000000 - s.slope_nano * d.d AS r
        |          FROM tsdy d, tss s)),
        |       (SELECT count(*)::BIGINT AS nd FROM tsdy))
        |SELECT (SELECT count(*)::BIGINT FROM tsdy) AS n_days,
        |       s.n_pairs, s.slope_nano,
        |       floor(r.rmed2::DOUBLE / 2.0)::BIGINT AS intercept_nano
        |FROM tss s, tsr r""".stripMargin,
    "q324_bm25_grid" -> {
      import graft.operators.Indexing.{Bm25Grid, KnownItemEvery, KnownItemTerms, KnownItemTopK}
      val nqSql = "(SELECT count(DISTINCT query_id) FROM gq)"
      val cteParts = Bm25Grid.zipWithIndex.map { case ((k1, b), i) =>
        s"""gs$i AS (
           |  SELECT query_id, doc_id,
           |         round(sum(idf * (tf * ${k1 + 1.0})
           |               / (tf + $k1 * (${1.0 - b} + $b * dl / avgdl))), 6)
           |           AS bm25
           |  FROM gjn GROUP BY 1, 2),
           |gr$i AS (
           |  SELECT query_id, rnk FROM (
           |    SELECT query_id, doc_id,
           |           row_number() OVER (PARTITION BY query_id
           |             ORDER BY bm25 DESC, doc_id ASC) AS rnk
           |    FROM gs$i) WHERE query_id = doc_id AND rnk <= $KnownItemTopK),
           |gm$i AS (
           |  SELECT count(*)::BIGINT AS n_hits,
           |         coalesce(sum(1000000 // rnk), 0)::BIGINT AS sum_rr
           |  FROM gr$i)""".stripMargin
      }
      val unionParts = Bm25Grid.zipWithIndex.map { case ((k1, b), i) =>
        s"""SELECT ${(k1 * 1000).round} AS k1_milli, ${(b * 1000).round} AS b_milli,
           |       $nqSql AS n_queries, n_hits, sum_rr AS sum_rr_ppm,
           |       sum_rr // $nqSql AS mrr_ppm
           |FROM gm$i""".stripMargin
      }
      materializeCtes(
        s"""WITH gdt AS (
          |  SELECT doc_id, tok AS term, count(*)::BIGINT AS tf
          |  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
          |        FROM documents)
          |  GROUP BY 1, 2),
          |gdl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM gdt GROUP BY 1),
          |gst AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM gdl),
          |gdf AS (SELECT term, count(*)::BIGINT AS df FROM gdt GROUP BY 1),
          |gq AS (
          |  SELECT doc_id AS query_id, term, df FROM (
          |    SELECT t.doc_id, t.term, f.df,
          |           row_number() OVER (PARTITION BY t.doc_id
          |             ORDER BY f.df ASC, t.term ASC) AS rn
          |    FROM gdt t JOIN gdf f USING (term)
          |    WHERE t.doc_id % $KnownItemEvery = 0) WHERE rn <= $KnownItemTerms),
          |gjn AS (
          |  SELECT q.query_id, t.doc_id, t.tf, l.dl, gst.avgdl,
          |         ln((gst.n_docs - q.df + 0.5) / (q.df + 0.5) + 1.0) AS idf
          |  FROM gq q JOIN gdt t USING (term)
          |  JOIN gdl l ON l.doc_id = t.doc_id, gst),
          |${cteParts.mkString(",\n")}
          |${unionParts.mkString("\nUNION ALL\n")}
          |ORDER BY k1_milli, b_milli""".stripMargin)
    },
    "q325_pr_curve" -> {
      import graft.operators.TextAnalysis.PrClass
      langIdCte + s""",
        |prp AS (
        |  SELECT sum(CASE WHEN lang = '$PrClass' THEN 1 ELSE 0 END)::BIGINT
        |           AS n_true
        |  FROM pred),
        |prh AS (
        |  SELECT score AS t,
        |         sum(CASE WHEN lang = '$PrClass' THEN 1 ELSE 0 END)::BIGINT AS tp1,
        |         sum(CASE WHEN lang <> '$PrClass' THEN 1 ELSE 0 END)::BIGINT AS fp1
        |  FROM pred WHERE plang = '$PrClass' GROUP BY 1),
        |prr AS (
        |  SELECT t,
        |         sum(tp1) OVER (ORDER BY t
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)::BIGINT AS tp,
        |         sum(fp1) OVER (ORDER BY t
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)::BIGINT AS fp
        |  FROM prh)
        |SELECT t AS threshold, tp, fp, (n_true - tp)::BIGINT AS fn,
        |       tp * 1000000 // (tp + fp) AS precision_ppm,
        |       tp * 1000000 // n_true AS recall_ppm,
        |       2 * tp * 1000000 // (2 * tp + fp + (n_true - tp)) AS f1_ppm
        |FROM prr, prp
        |ORDER BY threshold""".stripMargin
    },
    "q326_k_anonymity" -> {
      import graft.operators.DataQuality.{KAnonBucket, KAnonK}
      s"""WITH kac AS (
        |  SELECT lang, n_chars // $KAnonBucket AS bucket,
        |         count(*)::BIGINT AS csize,
        |         count(DISTINCT source)::BIGINT AS ldiv
        |  FROM documents GROUP BY 1, 2)
        |SELECT $KAnonK AS k, count(*)::BIGINT AS n_classes,
        |       sum(csize)::BIGINT AS n_rows,
        |       min(csize)::BIGINT AS min_class_size,
        |       max(csize)::BIGINT AS max_class_size,
        |       sum(CASE WHEN csize < $KAnonK THEN 1 ELSE 0 END)::BIGINT
        |         AS n_classes_below_k,
        |       sum(CASE WHEN csize < $KAnonK THEN csize ELSE 0 END)::BIGINT
        |         AS n_rows_at_risk,
        |       min(ldiv)::BIGINT AS min_l_diversity
        |FROM kac""".stripMargin
    },
    "q327_cuped" ->
      """WITH cue AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
        |cum AS (SELECT (min(us) + max(us)) // 2 AS mid FROM cue),
        |cup AS MATERIALIZED (
        |  SELECT user_id % 2 AS arm,
        |         sum(CASE WHEN us < mid THEN 1 ELSE 0 END)::BIGINT AS x,
        |         sum(CASE WHEN us >= mid AND event_type = 'purchase'
        |                  THEN 1 ELSE 0 END)::BIGINT AS y
        |  FROM cue, cum GROUP BY user_id),
        |cpo AS (
        |  SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
        |         sum(y)::BIGINT AS sy, sum(x * x)::BIGINT AS sxx,
        |         sum(x * y)::BIGINT AS sxy, sum(y * y)::BIGINT AS syy
        |  FROM cup),
        |car AS (
        |  SELECT arm, count(*)::BIGINT AS na, sum(x)::BIGINT AS ax,
        |         sum(y)::BIGINT AS ay
        |  FROM cup GROUP BY 1),
        |ca AS (SELECT na AS n_a, ax AS x_a, ay AS y_a FROM car WHERE arm = 0),
        |cb AS (SELECT na AS n_b, ax AS x_b, ay AS y_b FROM car WHERE arm = 1),
        |cth AS (
        |  SELECT n_a, n_b,
        |         (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |           / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) AS theta,
        |         (y_a::DOUBLE / n_a::DOUBLE - y_b::DOUBLE / n_b::DOUBLE)
        |           AS raw_diff,
        |         (x_a::DOUBLE / n_a::DOUBLE - x_b::DOUBLE / n_b::DOUBLE)
        |           AS x_diff,
        |         ((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |          * (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE))
        |           / ((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |              * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))
        |           AS rho2
        |  FROM ca, cb, cpo)
        |SELECT n_a, n_b,
        |       floor(theta * 1000000.0)::BIGINT AS theta_micro,
        |       floor(raw_diff * 1000000.0)::BIGINT AS raw_diff_micro,
        |       floor((raw_diff - theta * x_diff) * 1000000.0)::BIGINT
        |         AS adj_diff_micro,
        |       floor(rho2 * 1000000.0)::BIGINT AS rho2_ppm
        |FROM cth""".stripMargin,
    "q328_diff_in_diff" ->
      """WITH dde AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id, event_type FROM events),
        |ddm AS (SELECT (min(us) + max(us)) // 2 AS mid FROM dde),
        |ddu0 AS MATERIALIZED (
        |  SELECT user_id,
        |         min({'us': us, 'eid': event_id, 'et': event_type}) AS fe,
        |         sum(CASE WHEN us < mid AND event_type = 'purchase'
        |                  THEN 1 ELSE 0 END)::BIGINT AS y_pre,
        |         sum(CASE WHEN us >= mid AND event_type = 'purchase'
        |                  THEN 1 ELSE 0 END)::BIGINT AS y_post
        |  FROM dde, ddm GROUP BY user_id),
        |ddu AS (
        |  SELECT CASE WHEN fe.et = 'click' THEN 1 ELSE 0 END AS treated,
        |         y_pre, y_post
        |  FROM ddu0),
        |ddg AS (
        |  SELECT treated, count(*)::BIGINT AS n, sum(y_pre)::BIGINT AS sp,
        |         sum(y_post)::BIGINT AS so
        |  FROM ddu GROUP BY 1),
        |ddt AS (SELECT n AS n_t, sp AS pre_t, so AS post_t FROM ddg WHERE treated = 1),
        |ddc AS (SELECT n AS n_c, sp AS pre_c, so AS post_c FROM ddg WHERE treated = 0)
        |SELECT n_t, n_c,
        |       pre_t * 1000000 // n_t AS pre_t_mean_micro,
        |       post_t * 1000000 // n_t AS post_t_mean_micro,
        |       pre_c * 1000000 // n_c AS pre_c_mean_micro,
        |       post_c * 1000000 // n_c AS post_c_mean_micro,
        |       floor(((post_t::DOUBLE / n_t::DOUBLE - pre_t::DOUBLE / n_t::DOUBLE)
        |              - (post_c::DOUBLE / n_c::DOUBLE
        |                 - pre_c::DOUBLE / n_c::DOUBLE))
        |             * 1000000.0)::BIGINT AS did_micro
        |FROM ddt, ddc""".stripMargin,
    "q329_mde" -> {
      import graft.operators.Relational.AbConvMin
      s"""WITH mdu AS (
        |  SELECT user_id % 2 AS arm,
        |         (sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |          >= $AbConvMin)::BIGINT AS converted
        |  FROM events GROUP BY user_id),
        |mda AS (
        |  SELECT arm, count(*)::BIGINT AS n, sum(converted)::BIGINT AS x
        |  FROM mdu GROUP BY 1),
        |ma AS (SELECT n AS n_a, x AS x_a FROM mda WHERE arm = 0),
        |mb AS (SELECT n AS n_b, x AS x_b FROM mda WHERE arm = 1),
        |mp AS (
        |  SELECT n_a, n_b, x_a, x_b,
        |         (x_a + x_b)::DOUBLE / (n_a + n_b)::DOUBLE AS p,
        |         (x_a::DOUBLE / n_a::DOUBLE - x_b::DOUBLE / n_b::DOUBLE) AS d
        |  FROM ma, mb),
        |mq AS (
        |  SELECT n_a, n_b,
        |         (x_a + x_b) * 1000000 // (n_a + n_b) AS p_pool_ppm,
        |         floor((1.96 + 0.8416) * sqrt(p * (1.0 - p)
        |               * (1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE))
        |               * 1000000.0)::BIGINT AS mde_ppm,
        |         floor(abs(d) * 1000000.0)::BIGINT AS obs_diff_ppm
        |  FROM mp)
        |SELECT n_a, n_b, p_pool_ppm, mde_ppm, obs_diff_ppm,
        |       (obs_diff_ppm >= mde_ppm)::BIGINT AS powered
        |FROM mq""".stripMargin
    },
    "q330_weekday_anova" ->
      """WITH wae AS (SELECT epoch_us(ts) // 86400000000 AS dayabs FROM events),
        |wad0 AS (SELECT min(dayabs) AS d0 FROM wae),
        |wady AS (
        |  SELECT dayabs - d0 AS d, count(*)::BIGINT AS c
        |  FROM wae, wad0 GROUP BY 1),
        |wag AS (
        |  SELECT d % 7 AS wd, count(*)::BIGINT AS ni, sum(c)::BIGINT AS si,
        |         sum(c * c)::BIGINT AS qi
        |  FROM wady GROUP BY 1),
        |wag2 AS (
        |  SELECT ni, si, qi,
        |         floor(si::DOUBLE * si::DOUBLE / ni::DOUBLE * 1000.0)::BIGINT
        |           AS term_milli
        |  FROM wag),
        |wag3 AS (
        |  SELECT count(*)::BIGINT AS k_groups, sum(ni)::BIGINT AS n_total,
        |         sum(si)::BIGINT AS s_total, sum(qi)::BIGINT AS q_total,
        |         sum(term_milli)::BIGINT AS t_milli
        |  FROM wag2),
        |wag4 AS (
        |  SELECT k_groups, n_total,
        |         t_milli - floor(s_total::DOUBLE * s_total::DOUBLE
        |           / n_total::DOUBLE * 1000.0)::BIGINT AS ssb_milli,
        |         q_total * 1000 - t_milli AS ssw_milli
        |  FROM wag3)
        |SELECT k_groups, n_total, ssb_milli, ssw_milli,
        |       floor(ssb_milli::DOUBLE * (n_total - k_groups)::DOUBLE
        |             / (ssw_milli::DOUBLE * (k_groups - 1)::DOUBLE)
        |             * 1000000.0)::BIGINT AS f_micros
        |FROM wag4""".stripMargin,
    "q331_forecast_backtest" ->
      """WITH fbe AS (SELECT epoch_us(ts) // 86400000000 AS dayabs FROM events),
        |fbd0 AS (SELECT min(dayabs) AS d0 FROM fbe),
        |fbdy AS MATERIALIZED (
        |  SELECT dayabs - d0 AS d, count(*)::BIGINT AS c
        |  FROM fbe, fbd0 GROUP BY 1),
        |fba AS (
        |  SELECT count(*)::BIGINT AS n_eval,
        |         sum(abs(b.c - l.c))::BIGINT AS sae_last,
        |         sum(abs(b.c - s.c))::BIGINT AS sae_seasonal
        |  FROM fbdy b
        |  JOIN fbdy l ON l.d = b.d - 1
        |  JOIN fbdy s ON s.d = b.d - 7)
        |SELECT n_eval, sae_last, sae_seasonal,
        |       sae_last * 1000000 // n_eval AS mae_last_micro,
        |       sae_seasonal * 1000000 // n_eval AS mae_seasonal_micro,
        |       CASE WHEN sae_seasonal < sae_last THEN 'seasonal'
        |            WHEN sae_last < sae_seasonal THEN 'last'
        |            ELSE 'tie' END AS winner
        |FROM fba""".stripMargin,
    "q332_count_min" -> {
      import graft.operators.TextAnalysis.{CmDepth, CmTopK, CmWidth}
      s"""WITH cmt AS MATERIALIZED (
        |  SELECT term, count(*)::BIGINT AS mass FROM (
        |    SELECT unnest([w[i] || '_' || w[i+1] || '_' || w[i+2]
        |                   FOR i IN range(1, len(w) - 1)]) AS term
        |    FROM (SELECT regexp_extract_all(text, '[^ \t\n\r]+') AS w
        |          FROM documents))
        |  GROUP BY 1),
        |cmh AS MATERIALIZED (
        |  SELECT term, mass, i,
        |         ('0x' || substr(md5('cm' || i || '_' || term), 1, 7))::BIGINT
        |           % $CmWidth AS c
        |  FROM cmt, unnest(range(0, $CmDepth)) t(i)),
        |cmc AS (SELECT i, c, sum(mass)::BIGINT AS cnt FROM cmh GROUP BY 1, 2),
        |cmq AS (SELECT term, mass FROM cmt
        |        ORDER BY mass DESC, term ASC LIMIT $CmTopK),
        |cme AS (
        |  SELECT q.term, q.mass, min(cc.cnt)::BIGINT AS est
        |  FROM cmq q JOIN cmh h USING (term)
        |  JOIN cmc cc ON cc.i = h.i AND cc.c = h.c
        |  GROUP BY 1, 2)
        |SELECT term, mass AS true_mass, est AS est_mass,
        |       est - mass AS overestimate,
        |       (est - mass) * 1000000 // mass AS err_ppm
        |FROM cme
        |ORDER BY true_mass DESC, term ASC""".stripMargin
    },
    "q333_friedman" ->
      """WITH fre AS (SELECT epoch_us(ts) // 86400000000 AS dayabs FROM events),
        |frd0 AS (SELECT min(dayabs) AS d0 FROM fre),
        |frb AS MATERIALIZED (
        |  SELECT d // 7 AS wk, d % 7 AS wd, c FROM (
        |    SELECT dayabs - d0 AS d, count(*)::BIGINT AS c
        |    FROM fre, frd0 GROUP BY 1)),
        |frc AS (SELECT wk FROM frb GROUP BY wk HAVING count(*) = 7),
        |frk AS MATERIALIZED (SELECT b.wk, b.wd, b.c FROM frb b JOIN frc USING (wk)),
        |frr AS (
        |  SELECT x.wk, x.wd,
        |         (sum(CASE WHEN y.c < x.c THEN 2
        |                   WHEN y.c = x.c THEN 1 ELSE 0 END) + 1)::BIGINT AS r2
        |  FROM frk x JOIN frk y USING (wk)
        |  GROUP BY 1, 2),
        |frw AS (SELECT wd, sum(r2)::BIGINT AS rj2 FROM frr GROUP BY 1),
        |frn AS (SELECT count(*)::BIGINT AS n_blocks FROM frc),
        |fra AS (
        |  SELECT count(*)::BIGINT AS k, sum(rj2 * rj2)::BIGINT AS s2 FROM frw)
        |SELECT n_blocks, k, s2,
        |       floor((3.0 * s2::DOUBLE
        |              / (n_blocks * k * (k + 1))::DOUBLE
        |              - 3.0 * (n_blocks * (k + 1))::DOUBLE)
        |             * 1000000.0)::BIGINT AS f_micros
        |FROM fra, frn""".stripMargin,
    "q334_session_gap_curve" -> {
      import graft.operators.Relational.SessionGapsMin
      val brkCols = SessionGapsMin.zipWithIndex.map { case (g, i) =>
        s"sum(CASE WHEN delta > ${g * 60000000L} THEN 1 ELSE 0 END)::BIGINT AS brk$i"
      }.mkString(",\n        |         ")
      val points = SessionGapsMin.zipWithIndex.map { case (g, i) =>
        s"""SELECT $g AS gap_minutes,
           |       (n_users + brk$i)::BIGINT AS n_sessions,
           |       n_events * 1000000 // (n_users + brk$i)
           |         AS events_per_session_ppm,
           |       brk$i * 1000000 // greatest(n_events - n_users, 1) AS break_share_ppm
           |FROM sga""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH sgd AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |         us - lag(us, 1) OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id) AS delta
        |  FROM events),
        |sga AS MATERIALIZED (
        |  SELECT count(*)::BIGINT AS n_events,
        |         sum(CASE WHEN delta IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_users,
        |         $brkCols
        |  FROM sgd)
        |$points
        |ORDER BY gap_minutes""".stripMargin
    },
    "q335_snm_blocking" -> {
      import graft.operators.Dedup.{FuzzyMaxDistance, SnmWindow}
      s"""WITH snn AS (
        |  SELECT p_name, count(*)::BIGINT AS n_parts FROM part GROUP BY 1),
        |snr AS MATERIALIZED (
        |  SELECT p_name, row_number() OVER (ORDER BY p_name) AS rk1,
        |         row_number() OVER (ORDER BY reverse(p_name)) AS rk2
        |  FROM snn),
        |snc AS MATERIALIZED (
        |  SELECT least(a.p_name, b.p_name) AS name_a,
        |         greatest(a.p_name, b.p_name) AS name_b
        |  FROM snr a JOIN snr b
        |    ON b.rk1 > a.rk1 AND b.rk1 <= a.rk1 + $SnmWindow
        |  UNION
        |  SELECT least(a.p_name, b.p_name), greatest(a.p_name, b.p_name)
        |  FROM snr a JOIN snr b
        |    ON b.rk2 > a.rk2 AND b.rk2 <= a.rk2 + $SnmWindow),
        |snm AS (
        |  SELECT name_a, name_b FROM snc
        |  WHERE levenshtein(name_a, name_b) <= $FuzzyMaxDistance),
        |snt AS (
        |  SELECT a.p_name AS name_a, b.p_name AS name_b
        |  FROM snn a JOIN snn b ON a.p_name < b.p_name
        |  WHERE abs(length(a.p_name) - length(b.p_name)) <= $FuzzyMaxDistance
        |    AND levenshtein(a.p_name, b.p_name) <= $FuzzyMaxDistance),
        |sns AS (SELECT count(*)::BIGINT AS n_names FROM snn)
        |SELECT n_names, $SnmWindow AS window,
        |       (SELECT count(*) FROM snc)::BIGINT AS n_candidates,
        |       (SELECT count(*) FROM snm)::BIGINT AS n_matches,
        |       (SELECT count(*) FROM snt)::BIGINT AS n_truth_matches,
        |       (SELECT count(*) FROM snm) * 1000000
        |         // (SELECT count(*) FROM snt) AS recall_ppm,
        |       1000000 - (SELECT count(*) FROM snc) * 1000000
        |         // (n_names * (n_names - 1) // 2) AS candidate_savings_ppm
        |FROM sns""".stripMargin
    },
    "q336_source_cosine" ->
      """WITH sct AS MATERIALIZED (
        |  SELECT source, term, count(*)::BIGINT AS tf FROM (
        |    SELECT source, unnest([w[i] || '_' || w[i+1] || '_' || w[i+2]
        |                           FOR i IN range(1, len(w) - 1)]) AS term
        |    FROM (SELECT source, regexp_extract_all(text, '[^ \t\n\r]+') AS w
        |          FROM documents))
        |  GROUP BY 1, 2),
        |scn AS (SELECT count(DISTINCT source)::BIGINT AS ns FROM sct),
        |scd AS (SELECT term, count(*)::BIGINT AS df FROM sct GROUP BY 1),
        |scw AS MATERIALIZED (
        |  SELECT source, term,
        |         floor(tf::DOUBLE * ln(ns::DOUBLE / df::DOUBLE)
        |           * 1000.0)::BIGINT AS w
        |  FROM sct JOIN scd USING (term), scn
        |  WHERE floor(tf::DOUBLE * ln(ns::DOUBLE / df::DOUBLE) * 1000.0) > 0),
        |scm AS (SELECT source, sum(w * w)::BIGINT AS n2 FROM scw GROUP BY 1),
        |scp AS (
        |  SELECT a.source AS sa, b.source AS sb, sum(a.w * b.w)::BIGINT AS dot
        |  FROM scw a JOIN scw b USING (term)
        |  WHERE a.source < b.source GROUP BY 1, 2),
        |scs AS (SELECT DISTINCT source FROM sct)
        |SELECT a.source AS source_a, b.source AS source_b,
        |       floor(coalesce(p.dot, 0)::DOUBLE
        |             / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE))
        |             * 1000000.0)::BIGINT AS cos_ppm
        |FROM scs a JOIN scs b ON a.source < b.source
        |LEFT JOIN scp p ON p.sa = a.source AND p.sb = b.source
        |JOIN scm na ON na.source = a.source
        |JOIN scm nb ON nb.source = b.source
        |ORDER BY source_a, source_b""".stripMargin,
    "q337_hll_sweep" -> {
      import graft.operators.Sketches.HllSweepP
      val points = HllSweepP.map { p =>
        val m = 1 << p
        s"""SELECT $p AS p, $m AS m,
           |       (SELECT exact_distinct FROM hsx) AS exact_distinct,
           |       floor(e * 10000.0 + 0.5) / 10000.0 AS hll_estimate,
           |       floor((e - (SELECT exact_distinct FROM hsx)::DOUBLE)
           |             / (SELECT exact_distinct FROM hsx)::DOUBLE
           |             * 10000.0 + 0.5) / 10000.0 AS rel_error,
           |       floor(1.04 / sqrt($m.0) * 1000000.0)::BIGINT AS theory_err_ppm
           |FROM (
           |  SELECT CASE WHEN e_raw <= ${2.5 * m} AND z > 0
           |              THEN $m.0 * ln($m.0 / z) ELSE e_raw END AS e
           |  FROM (
           |    SELECT (0.7213 / (1.0 + 1.079 / $m.0)) * $m.0 * $m.0
           |             / (s + ($m - v)::DOUBLE) AS e_raw,
           |           ($m - v)::DOUBLE AS z
           |    FROM (
           |      SELECT count(*)::BIGINT AS v,
           |             sum(1.0 / (1::BIGINT << mj)::DOUBLE) AS s
           |      FROM (
           |        SELECT h % $m AS reg,
           |               max(${60 - p + 1} - length(ltrim(bin(h // $m), '0'))) AS mj
           |        FROM hsh GROUP BY 1))))""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH hsh AS MATERIALIZED (
        |  SELECT ('0x' || substr(md5('hs_' || user_id), 1, 15))::BIGINT AS h
        |  FROM events),
        |hsx AS (SELECT count(DISTINCT user_id)::BIGINT AS exact_distinct
        |        FROM events)
        |$points
        |ORDER BY p""".stripMargin
    },
    "q338_market_concentration" ->
      """WITH mcr AS MATERIALIZED (
        |  SELECT o_custkey, sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT
        |           AS rev
        |  FROM orders GROUP BY 1),
        |mct AS (
        |  SELECT count(*)::BIGINT AS n_customers, sum(rev)::BIGINT AS total,
        |         sum(rev // 1000)::BIGINT AS totk,
        |         sum((rev // 1000) * (rev // 1000))::BIGINT AS s2,
        |         max(rev)::BIGINT AS top1
        |  FROM mcr),
        |mc4 AS (
        |  SELECT sum(rev)::BIGINT AS t4 FROM (
        |    SELECT rev FROM mcr ORDER BY rev DESC, o_custkey ASC LIMIT 4))
        |SELECT n_customers, total AS total_cents,
        |       floor(s2::DOUBLE / (totk::DOUBLE * totk::DOUBLE)
        |             * 1000000.0)::BIGINT AS hhi_ppm,
        |       t4 * 1000000 // total AS cr4_ppm,
        |       top1 * 1000000 // total AS top1_share_ppm
        |FROM mct, mc4""".stripMargin,
    "q339_interarrival_cv" ->
      """WITH iag AS (
        |  SELECT (us - lag(us, 1) OVER (PARTITION BY user_id
        |            ORDER BY us, event_id)) // 1000000 AS d
        |  FROM (SELECT user_id, epoch_us(ts) AS us, event_id FROM events)),
        |iaa AS (
        |  SELECT count(*)::BIGINT AS n_gaps, sum(d)::BIGINT AS sd,
        |         sum(d * d)::BIGINT AS sd2
        |  FROM iag WHERE d IS NOT NULL)
        |SELECT n_gaps, sd // n_gaps AS mean_gap_s,
        |       floor((n_gaps::DOUBLE * sd2::DOUBLE / (sd::DOUBLE * sd::DOUBLE)
        |              - 1.0) * 1000000.0)::BIGINT AS cv2_micro,
        |       floor(sqrt(n_gaps::DOUBLE * sd2::DOUBLE / (sd::DOUBLE * sd::DOUBLE)
        |              - 1.0) * 1000000.0)::BIGINT AS cv_micro
        |FROM iaa""".stripMargin,
    "q340_neg_binomial" ->
      """WITH nbu AS (
        |  SELECT user_id, count(*)::BIGINT AS x FROM events GROUP BY 1),
        |nbs AS (
        |  SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS s1,
        |         sum(x * x)::BIGINT AS s2
        |  FROM nbu),
        |nbm AS (
        |  SELECT n, s1::DOUBLE / n::DOUBLE AS mu,
        |         s2::DOUBLE / n::DOUBLE
        |           - (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE) AS v
        |  FROM nbs)
        |SELECT n AS n_users,
        |       floor(mu * 1000000.0)::BIGINT AS mean_micro,
        |       floor(v * 1000000.0)::BIGINT AS var_micro,
        |       floor(v / mu * 1000000.0)::BIGINT AS dispersion_micro,
        |       floor(mu * mu / (v - mu) * 1000000.0)::BIGINT AS r_micro,
        |       floor(mu / v * 1000000.0)::BIGINT AS p_micro
        |FROM nbm""".stripMargin,
    "q341_chao1" ->
      """WITH chc AS (
        |  SELECT term, count(*)::BIGINT AS c FROM (
        |    SELECT unnest([w[i] || '_' || w[i+1] || '_' || w[i+2]
        |                   FOR i IN range(1, len(w) - 1)]) AS term
        |    FROM (SELECT regexp_extract_all(text, '[^ \t\n\r]+') AS w
        |          FROM documents))
        |  GROUP BY 1),
        |cha AS (
        |  SELECT count(*)::BIGINT AS v_obs, sum(c)::BIGINT AS n_tokens,
        |         sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |         sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)::BIGINT AS n2
        |  FROM chc)
        |SELECT v_obs, n_tokens, n1, n2,
        |       v_obs + floor(n1::DOUBLE * n1::DOUBLE
        |                     / (2.0 * n2::DOUBLE))::BIGINT AS chao1_est,
        |       1000000 - n1 * 1000000 // n_tokens AS coverage_ppm
        |FROM cha""".stripMargin,
    "q342_partial_corr" ->
      """WITH pce AS (
        |  SELECT epoch_us(ts) // 86400000000 AS dayabs,
        |         CASE WHEN event_type = 'purchase'
        |              THEN floor(value * 100 + 0.5)::BIGINT ELSE 0 END AS cents
        |  FROM events),
        |pcd0 AS (SELECT min(dayabs) AS d0 FROM pce),
        |pcd AS (
        |  SELECT dayabs - d0 AS t, count(*)::BIGINT AS x,
        |         sum(cents)::BIGINT AS y
        |  FROM pce, pcd0 GROUP BY 1),
        |pcm AS (
        |  SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
        |         sum(y)::BIGINT AS sy, sum(t)::BIGINT AS st,
        |         sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy,
        |         sum(t * t)::BIGINT AS stt, sum(x * y)::BIGINT AS sxy,
        |         sum(x * t)::BIGINT AS sxt, sum(y * t)::BIGINT AS syt
        |  FROM pcd),
        |pcr AS (
        |  SELECT n,
        |         (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |           / sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |                  * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))
        |           AS rxy,
        |         (n::DOUBLE * sxt::DOUBLE - sx::DOUBLE * st::DOUBLE)
        |           / sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |                  * (n::DOUBLE * stt::DOUBLE - st::DOUBLE * st::DOUBLE))
        |           AS rxt,
        |         (n::DOUBLE * syt::DOUBLE - sy::DOUBLE * st::DOUBLE)
        |           / sqrt((n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)
        |                  * (n::DOUBLE * stt::DOUBLE - st::DOUBLE * st::DOUBLE))
        |           AS ryt
        |  FROM pcm)
        |SELECT n AS n_days,
        |       floor(rxy * 1000000.0)::BIGINT AS r_raw_micro,
        |       floor(rxt * 1000000.0)::BIGINT AS r_xt_micro,
        |       floor(ryt * 1000000.0)::BIGINT AS r_yt_micro,
        |       floor((rxy - rxt * ryt)
        |             / sqrt((1.0 - rxt * rxt) * (1.0 - ryt * ryt))
        |             * 1000000.0)::BIGINT AS r_partial_micro
        |FROM pcr""".stripMargin,
    "q343_runs_test" ->
      """WITH rue AS (SELECT epoch_us(ts) // 86400000000 AS dayabs FROM events),
        |rud0 AS (SELECT min(dayabs) AS d0 FROM rue),
        |rudy AS MATERIALIZED (
        |  SELECT dayabs - d0 AS d, count(*)::BIGINT AS c
        |  FROM rue, rud0 GROUP BY 1),
        |rum AS (
        |  SELECT sum(c * (CASE WHEN rn = (nd + 1) // 2 THEN 1 ELSE 0 END
        |                + CASE WHEN rn = (nd + 2) // 2 THEN 1 ELSE 0 END))::BIGINT
        |           AS med2
        |  FROM (SELECT c, row_number() OVER (ORDER BY c, d) AS rn,
        |               count(*) OVER () AS nd
        |        FROM rudy)),
        |rus AS (SELECT d, (c * 2 > med2)::BIGINT AS s FROM rudy, rum),
        |rur AS (
        |  SELECT count(*)::BIGINT AS n, sum(s)::BIGINT AS n_above,
        |         sum(CASE WHEN prev IS NULL OR prev <> s THEN 1 ELSE 0 END)::BIGINT
        |           AS n_runs
        |  FROM (SELECT s, lag(s, 1) OVER (ORDER BY d) AS prev FROM rus))
        |SELECT n AS n_days, n_above, n - n_above AS n_below, n_runs,
        |       floor((2.0 * n_above::DOUBLE * (n - n_above)::DOUBLE / n::DOUBLE
        |              + 1.0) * 1000000.0)::BIGINT AS expected_runs_micro,
        |       round((n_runs::DOUBLE
        |              - (2.0 * n_above::DOUBLE * (n - n_above)::DOUBLE / n::DOUBLE
        |                 + 1.0))
        |             / sqrt(2.0 * n_above::DOUBLE * (n - n_above)::DOUBLE
        |                    * (2.0 * n_above::DOUBLE * (n - n_above)::DOUBLE
        |                       - n::DOUBLE)
        |                    / (n::DOUBLE * n::DOUBLE * (n::DOUBLE - 1.0))), 6)
        |         AS z
        |FROM rur""".stripMargin,
    "q344_mcc" ->
      (langIdCte + """,
        |mcg AS MATERIALIZED (
        |  SELECT lang AS t, plang AS p, count(*)::BIGINT AS n
        |  FROM pred GROUP BY 1, 2),
        |mcl AS (SELECT DISTINCT t AS lang FROM mcg),
        |mcx AS (
        |  SELECT l.lang,
        |         sum(CASE WHEN g.t = l.lang AND g.p = l.lang
        |                  THEN g.n ELSE 0 END)::BIGINT AS tp,
        |         sum(CASE WHEN g.t <> l.lang AND g.p = l.lang
        |                  THEN g.n ELSE 0 END)::BIGINT AS fp,
        |         sum(CASE WHEN g.t = l.lang AND g.p <> l.lang
        |                  THEN g.n ELSE 0 END)::BIGINT AS fn
        |  FROM mcl l CROSS JOIN mcg g GROUP BY 1),
        |mct2 AS (SELECT sum(n)::BIGINT AS total FROM mcg),
        |mcf AS (
        |  SELECT lang, tp, fp, fn, (total - tp - fp - fn)::BIGINT AS tn
        |  FROM mcx, mct2)
        |SELECT lang, tp, fp, fn, tn,
        |       CASE WHEN tp + fp = 0 OR tp + fn = 0
        |              OR tn + fp = 0 OR tn + fn = 0 THEN 0
        |            ELSE floor((tp::DOUBLE * tn::DOUBLE
        |                        - fp::DOUBLE * fn::DOUBLE)
        |                 / sqrt((tp + fp)::DOUBLE * (tp + fn)::DOUBLE
        |                        * (tn + fp)::DOUBLE * (tn + fn)::DOUBLE)
        |                 * 1000000.0)::BIGINT END AS mcc_micro
        |FROM mcf
        |ORDER BY lang""".stripMargin),
    "q345_neyman" ->
      """WITH nym AS (
        |  SELECT lang, count(*)::BIGINT AS nh, sum(n_chars)::BIGINT AS s1,
        |         sum(n_chars * n_chars)::BIGINT AS s2
        |  FROM documents GROUP BY 1),
        |nys AS (
        |  SELECT lang, nh,
        |         floor(sqrt(s2::DOUBLE / nh::DOUBLE
        |               - (s1::DOUBLE / nh::DOUBLE) * (s1::DOUBLE / nh::DOUBLE))
        |               * 1000000.0)::BIGINT AS sh_micro
        |  FROM nym),
        |nyw AS MATERIALIZED (
        |  SELECT lang, nh, sh_micro, nh * sh_micro AS w FROM nys),
        |nyt AS (SELECT sum(nh)::BIGINT AS nt, sum(w)::BIGINT AS wt FROM nyw)
        |SELECT lang, nh, sh_micro,
        |       nh * 1000000 // nt AS proportional_ppm,
        |       w * 1000000 // wt AS neyman_ppm
        |FROM nyw, nyt
        |ORDER BY lang""".stripMargin,
    "q346_semantic_decontam" -> {
      import graft.operators.Similarity.DecontamCosine
      s"""WITH sde AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |sdq AS (SELECT vec_id AS eval_id, v AS qv FROM sde WHERE vec_id % 50 = 0),
        |sdp AS (
        |  SELECT sde.vec_id, sdq.eval_id,
        |         list_dot_product(sde.v, sdq.qv) /
        |         (sqrt(list_dot_product(sde.v, sde.v))
        |          * sqrt(list_dot_product(sdq.qv, sdq.qv))) AS c
        |  FROM sde JOIN sdq ON sde.vec_id % 50 <> 0),
        |sdb AS (
        |  SELECT vec_id, eval_id, c,
        |         row_number() OVER (PARTITION BY vec_id
        |           ORDER BY c DESC, eval_id ASC) AS rnk
        |  FROM sdp)
        |SELECT vec_id, eval_id, round(c, 6) AS cosine
        |FROM sdb WHERE rnk = 1 AND c >= $DecontamCosine
        |ORDER BY vec_id""".stripMargin
    },
    "q347_boundary_splice" -> {
      val widths = graft.operators.Dedup.SpliceWidths.mkString(", ")
      s"""WITH bst AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \\t\\n\\r]+') AS toks
        |  FROM documents),
        |bsk AS (
        |  SELECT doc_id, k,
        |         array_to_string(list_slice(toks, 1, k), ' ') AS pre,
        |         array_to_string(list_slice(toks, -k, -1), ' ') AS suf
        |  FROM bst, unnest([$widths]) t(k)
        |  WHERE len(toks) >= k)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       max(a.k)::BIGINT AS overlap_tokens
        |FROM bsk a JOIN bsk b ON a.k = b.k AND a.suf = b.pre
        |  AND a.doc_id <> b.doc_id
        |GROUP BY 1, 2
        |ORDER BY doc_a, doc_b""".stripMargin
    },
    "q348_wilson_returns" ->
      """WITH wrb AS (
        |  SELECT p.p_brand, count(*)::BIGINT AS n_lines,
        |         sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT
        |           AS n_returned
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |  GROUP BY 1),
        |wrp AS (
        |  SELECT p_brand, n_lines, n_returned,
        |         n_returned::DOUBLE / n_lines::DOUBLE AS p,
        |         n_lines::DOUBLE AS nd
        |  FROM wrb)
        |SELECT p_brand, n_lines, n_returned,
        |       n_returned * 1000000 // n_lines AS return_rate_ppm,
        |       round((p + 3.8416 / (2.0 * nd) - 1.96 * sqrt(p * (1.0 - p) / nd
        |              + 3.8416 / (4.0 * nd * nd))) / (1.0 + 3.8416 / nd), 6)
        |         AS wilson_lb
        |FROM wrp ORDER BY p_brand""".stripMargin,
    "q349_stream_chained_exec" ->
      """WITH scd AS (
        |  SELECT DISTINCT user_id, time_bucket(INTERVAL '1 day', ts) AS dts
        |  FROM events),
        |scm AS (SELECT max(dts) AS m FROM scd)
        |SELECT strftime(dts, '%Y-%m-%d %H:%M:%S') AS day,
        |       count(*)::BIGINT AS n_users
        |FROM scd CROSS JOIN scm
        |WHERE dts < m
        |GROUP BY dts ORDER BY day""".stripMargin,
    "q350_conformal_interval" -> {
      import graft.operators.Sampling.{TrainPerMille, ValPerMille}
      import graft.operators.DataQuality.ConformalTargetPpm
      qualityCte + s""",
        |cfs AS (
        |  SELECT q.doc_id,
        |         floor(q.quality_score * 1000.0 + 0.5)::BIGINT AS yq,
        |         floor(ln(d.n_chars::DOUBLE) * 1000.0)::BIGINT AS xq,
        |         ('0x' || substr(md5('spl_' || q.doc_id), 1, 7))::BIGINT % 1000
        |           AS bucket
        |  FROM qual q JOIN documents d USING (doc_id) WHERE d.n_chars > 0),
        |cfa AS MATERIALIZED (
        |  SELECT doc_id, yq, xq,
        |         CASE WHEN bucket < $TrainPerMille THEN 'train'
        |              WHEN bucket < $ValPerMille THEN 'val'
        |              ELSE 'test' END AS split
        |  FROM cfs),
        |cff AS (
        |  SELECT count(*)::BIGINT AS n, sum(xq)::BIGINT AS sx,
        |         sum(yq)::BIGINT AS sy, sum(xq * yq)::BIGINT AS sxy,
        |         sum(xq * xq)::BIGINT AS sxx
        |  FROM cfa WHERE split = 'train'),
        |cfb AS (
        |  SELECT n AS n_train, slope,
        |         (sy::DOUBLE - slope * sx::DOUBLE) / n::DOUBLE AS icept
        |  FROM (SELECT n, sx, sy,
        |               (n * sxy - sx * sy)::DOUBLE
        |                 / (n * sxx - sx * sx)::DOUBLE AS slope
        |        FROM cff)),
        |cfr AS MATERIALIZED (
        |  SELECT a.split,
        |         abs(a.yq * 1000 - floor((b.icept + b.slope * a.xq::DOUBLE)
        |           * 1000.0 + 0.5)::BIGINT) AS rq
        |  FROM cfa a CROSS JOIN cfb b WHERE a.split <> 'train'),
        |cfk AS (SELECT count(*)::BIGINT AS n_cal,
        |               (9 * (count(*) + 1) + 9) // 10 AS k
        |        FROM cfr WHERE split = 'val'),
        |cfc AS (
        |  SELECT rq, sum(c) OVER (ORDER BY rq
        |    ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
        |  FROM (SELECT rq, count(*)::BIGINT AS c FROM cfr
        |        WHERE split = 'val' GROUP BY 1)),
        |cfq AS (SELECT min(rq)::BIGINT AS qhat_micro
        |        FROM cfc CROSS JOIN cfk WHERE cum >= k),
        |cft AS (
        |  SELECT count(*)::BIGINT AS n_test,
        |         sum(CASE WHEN rq <= (SELECT qhat_micro FROM cfq)
        |             THEN 1 ELSE 0 END)::BIGINT AS cov
        |  FROM cfr WHERE split = 'test')
        |SELECT b.n_train, k.n_cal, t.n_test,
        |       round(b.slope, 6) AS slope, round(b.icept, 6) AS intercept,
        |       q.qhat_micro, $ConformalTargetPpm::BIGINT AS target_ppm,
        |       t.cov * 1000000 // t.n_test AS coverage_ppm
        |FROM cfb b, cfk k, cft t, cfq q""".stripMargin
    },
    "q351_seasonal_decompose" -> {
      import graft.operators.Relational.RetentionEpochMs
      s"""WITH sdd AS (
        |  SELECT (epoch_ms(ts) - $RetentionEpochMs) // 86400000 AS day,
        |         count(*)::BIGINT AS n
        |  FROM events GROUP BY 1),
        |sdt AS (
        |  SELECT day, n,
        |         CASE WHEN count(*) OVER w7 = 7
        |              THEN (sum(n) OVER w7)::BIGINT * 1000000 // 7
        |              ELSE NULL END AS trend_micro
        |  FROM sdd
        |  WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |sde AS (
        |  SELECT day, n, trend_micro,
        |         CASE WHEN trend_micro IS NOT NULL
        |              THEN n * 1000000 - trend_micro END AS det_micro
        |  FROM sdt),
        |sds AS (
        |  SELECT day % 7 AS slot,
        |         sum(det_micro)::BIGINT // count(*) AS s_raw
        |  FROM sde WHERE det_micro IS NOT NULL GROUP BY 1),
        |sdm AS (SELECT sum(s_raw)::BIGINT // 7 AS s_mean FROM sds),
        |sdn AS (SELECT slot, s_raw - s_mean AS seasonal_micro
        |        FROM sds CROSS JOIN sdm)
        |SELECT e.day, e.n AS n_events, e.trend_micro, s.seasonal_micro,
        |       e.det_micro - s.seasonal_micro AS residual_micro
        |FROM sde e JOIN sdn s ON s.slot = e.day % 7
        |ORDER BY e.day""".stripMargin
    },
    "q352_lm_generalization_gap" -> {
      import graft.operators.Sampling.{TrainPerMille, ValPerMille}
      s"""WITH mmb AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
        |  FROM documents),
        |mmc AS MATERIALIZED (
        |  SELECT split, tok, count(*)::BIGINT AS n
        |  FROM (SELECT tok,
        |          CASE WHEN ('0x' || substr(md5('spl_' || doc_id), 1, 7))::BIGINT
        |                    % 1000 < $TrainPerMille THEN 'train'
        |               WHEN ('0x' || substr(md5('spl_' || doc_id), 1, 7))::BIGINT
        |                    % 1000 < $ValPerMille THEN 'val'
        |               ELSE 'test' END AS split
        |        FROM mmb)
        |  WHERE split <> 'val' GROUP BY 1, 2),
        |mmtr AS (SELECT tok, n AS cnt FROM mmc WHERE split = 'train'),
        |mmst AS (SELECT sum(cnt)::BIGINT AS t, count(*)::BIGINT AS v FROM mmtr),
        |mmterm AS (
        |  SELECT c.split, c.n, s.v,
        |         (tr.cnt IS NULL) AS oov,
        |         floor(-ln((coalesce(tr.cnt, 0) + 1)::DOUBLE
        |           / (s.t + s.v)::DOUBLE) * 1000000000.0)::BIGINT AS term_nano
        |  FROM mmc c LEFT JOIN mmtr tr USING (tok) CROSS JOIN mmst s),
        |mmp AS (
        |  SELECT split, sum(n)::BIGINT AS n_tokens,
        |         sum(n * term_nano)::BIGINT AS sum_nano,
        |         sum(CASE WHEN oov THEN n ELSE 0 END)::BIGINT AS n_oov,
        |         max(v)::BIGINT AS v
        |  FROM mmterm GROUP BY 1),
        |mmf AS (
        |  SELECT max(CASE WHEN split = 'train' THEN n_tokens END)::BIGINT
        |           AS n_train_tokens,
        |         max(CASE WHEN split = 'test' THEN n_tokens END)::BIGINT
        |           AS n_test_tokens,
        |         max(v)::BIGINT AS vocab,
        |         max(CASE WHEN split = 'train' THEN sum_nano // n_tokens END)::BIGINT
        |           AS train_nll_nano,
        |         max(CASE WHEN split = 'test' THEN sum_nano // n_tokens END)::BIGINT
        |           AS test_nll_nano,
        |         max(CASE WHEN split = 'test' THEN n_oov * 1000000 // n_tokens
        |             END)::BIGINT AS test_oov_ppm
        |  FROM mmp)
        |SELECT n_train_tokens, n_test_tokens, vocab, train_nll_nano,
        |       test_nll_nano, test_nll_nano - train_nll_nano AS gap_nano,
        |       test_oov_ppm
        |FROM mmf""".stripMargin
    },
    "q353_stream_join_agg_exec" ->
      """WITH jap AS (
        |  SELECT c.ts AS click_ts
        |  FROM events c JOIN events v
        |    ON v.user_id = c.user_id
        |   AND c.event_type = 'click' AND v.event_type = 'view'
        |   AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 30 MINUTE),
        |jam AS (
        |  SELECT least(max(CASE WHEN event_type = 'click' THEN ts END),
        |               max(CASE WHEN event_type = 'view' THEN ts END))
        |         - INTERVAL 10 MINUTE AS wm
        |  FROM events)
        |SELECT strftime(time_bucket(INTERVAL '1 hour', click_ts),
        |                '%Y-%m-%d %H:%M:%S') AS win_start,
        |       count(*)::BIGINT AS n_pairs
        |FROM jap CROSS JOIN jam
        |WHERE time_bucket(INTERVAL '1 hour', click_ts) + INTERVAL 1 HOUR <= wm
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q354_stream_window_rollup_exec" ->
      """WITH wrh AS (
        |  SELECT time_bucket(INTERVAL '1 hour', ts) AS h, count(*)::BIGINT AS n
        |  FROM events GROUP BY 1),
        |wrm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM events)
        |SELECT strftime(time_bucket(INTERVAL '1 day', h),
        |                '%Y-%m-%d %H:%M:%S') AS day,
        |       count(*)::BIGINT AS n_hours, sum(n)::BIGINT AS n_events,
        |       min(n)::BIGINT AS min_hourly, max(n)::BIGINT AS max_hourly
        |FROM wrh CROSS JOIN wrm
        |WHERE time_bucket(INTERVAL '1 day', h) + INTERVAL 1 DAY <= wm
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q355_hll_set_ops" -> {
      import graft.operators.Sketches.{HllM, HllRankBits}
      s"""WITH sohalf AS (SELECT count(*) // 2 AS half FROM documents),
        |sosh AS MATERIALIZED (
        |  SELECT DISTINCT
        |    CASE WHEN doc_id < (SELECT half FROM sohalf) THEN 'a' ELSE 'b' END AS s,
        |    doc_id, w[i] || '_' || w[i+1] || '_' || w[i+2] AS g
        |  FROM (SELECT doc_id, regexp_extract_all(text, '[^ \\t\\n\\r]+') AS w
        |        FROM documents),
        |       unnest(range(1, len(w) - 1)) t(i)),
        |soh AS (SELECT DISTINCT s, g, ('0x'||substr(md5(g),1,15))::BIGINT AS h
        |        FROM sosh),
        |soregs AS MATERIALIZED (
        |  SELECT s, h % $HllM AS reg,
        |         max(${HllRankBits + 1} - length(ltrim(bin(h // $HllM), '0'))) AS mj
        |  FROM soh GROUP BY 1, 2),
        |souregs AS (SELECT reg, max(mj) AS mj FROM soregs GROUP BY 1),
        |soest AS (
        |  SELECT k, CASE WHEN e_raw <= ${2.5 * HllM} AND z > 0
        |                 THEN $HllM.0 * ln($HllM.0 / z) ELSE e_raw END AS e
        |  FROM (
        |    SELECT k,
        |           (0.7213/(1.0+1.079/$HllM.0)) * $HllM.0 * $HllM.0
        |             / (s + ($HllM - v)::DOUBLE) AS e_raw,
        |           ($HllM - v)::DOUBLE AS z
        |    FROM (SELECT s AS k, count(*)::BIGINT AS v,
        |                 sum(1.0 / (1::BIGINT << mj)::DOUBLE) AS s
        |          FROM soregs GROUP BY 1
        |          UNION ALL
        |          SELECT 'u' AS k, count(*)::BIGINT AS v,
        |                 sum(1.0 / (1::BIGINT << mj)::DOUBLE) AS s
        |          FROM souregs))),
        |soex AS (
        |  SELECT sum(ia)::BIGINT AS n_a_exact, sum(ib)::BIGINT AS n_b_exact,
        |         sum(ia * ib)::BIGINT AS n_inter_exact
        |  FROM (SELECT g, max(CASE WHEN s = 'a' THEN 1 ELSE 0 END) AS ia,
        |               max(CASE WHEN s = 'b' THEN 1 ELSE 0 END) AS ib
        |        FROM sosh GROUP BY 1)),
        |sow AS (
        |  SELECT x.n_a_exact, x.n_b_exact, x.n_inter_exact,
        |         (SELECT e FROM soest WHERE k = 'a') AS ea,
        |         (SELECT e FROM soest WHERE k = 'b') AS eb,
        |         (SELECT e FROM soest WHERE k = 'u') AS eu
        |  FROM soex x)
        |SELECT n_a_exact, n_b_exact, n_inter_exact,
        |       floor(ea * 1e4 + 0.5)/1e4 AS hll_a,
        |       floor(eb * 1e4 + 0.5)/1e4 AS hll_b,
        |       floor(eu * 1e4 + 0.5)/1e4 AS hll_union,
        |       floor((ea + eb - eu) * 1e4 + 0.5)/1e4 AS hll_inter,
        |       floor((eu - (n_a_exact + n_b_exact - n_inter_exact)::DOUBLE)
        |             / (n_a_exact + n_b_exact - n_inter_exact)::DOUBLE
        |             * 1e4 + 0.5)/1e4 AS union_rel_error,
        |       floor((ea + eb - eu - n_inter_exact::DOUBLE)
        |             / n_inter_exact::DOUBLE * 1e4 + 0.5)/1e4 AS inter_rel_error
        |FROM sow""".stripMargin
    },
    "q356_video_frames" -> {
      // the oracle computes per-frame gray sums from the pixel
      // ARITHMETIC; the Spark side computes them from AVI-packed,
      // container-parsed, PNG-decoded frames — equality proves the
      // whole container + per-frame codec cycle byte-exact (q180's
      // method on the video axis)
      import graft.operators.Multimodal.{VideoEvery, VideoFrames, VideoSide}
      val n = VideoSide * VideoSide
      s"""WITH vfh AS (
        |  SELECT doc_id, ('0x'||substr(md5(text),1,15))::BIGINT AS h
        |  FROM documents WHERE doc_id % $VideoEvery = 0),
        |vfpx AS (
        |  SELECT doc_id, f.f AS fno,
        |         ((h % 1048576) * 31 + f.f * 131 + t.i * 97 + (t.i * t.i) % 251) % 256 AS g
        |  FROM vfh,
        |       unnest(range(0, $VideoFrames)) f(f),
        |       unnest(range(0, $n)) t(i))
        |SELECT doc_id, fno::BIGINT AS frame_no,
        |       $VideoSide::BIGINT AS width, $VideoSide::BIGINT AS height,
        |       sum(g)::BIGINT AS gray_sum, (sum(g) // $n)::BIGINT AS mean_gray
        |FROM vfpx GROUP BY doc_id, fno
        |ORDER BY doc_id, frame_no""".stripMargin
    },
    "q357_stream_tws_exec" -> {
      // the batch restatement of the transformWithState fold: final
      // per-user state = all-input count and integer-cent sum (q110's
      // determinism rule on the state-v2 API; cents via the q193
      // floor(value*100 + 0.5) convention)
      """SELECT user_id, count(*)::BIGINT AS n_events,
        |       sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS total_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
    },
    "q358_string_similarity" -> {
      import graft.operators.Dedup.FuzzyMaxDistance
      // DuckDB's jaro_winkler_similarity / damerau_levenshtein are the
      // reference implementations the native expressions are pinned to
      // (bit-compatible; see GraftExpressions fuzz note)
      s"""WITH names AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |       levenshtein(a.p_name, b.p_name)::INT AS lev,
        |       damerau_levenshtein(a.p_name, b.p_name)::INT AS dl,
        |       jaro_winkler_similarity(a.p_name, b.p_name)::DOUBLE AS jw
        |FROM names a JOIN names b ON a.p_name < b.p_name
        |WHERE abs(length(a.p_name) - length(b.p_name)) <= $FuzzyMaxDistance
        |  AND damerau_levenshtein(a.p_name, b.p_name) <= $FuzzyMaxDistance
        |ORDER BY name_a, name_b""".stripMargin
    },
    "q359_moving_ttr" -> {
      import graft.operators.TextAnalysis.TtrWindow
      // complete windows only: docs under one window carry no signal
      // and drop from both engines (empty comprehension range)
      s"""WITH mtt AS (SELECT doc_id, regexp_extract_all(text, '[^ \t\n\r]+') AS w
        |           FROM documents),
        |mte AS (SELECT doc_id,
        |               unnest([{'win': (i - 1) // $TtrWindow, 'term': w[i]}
        |                       FOR i IN range(1, ((len(w) // $TtrWindow) * $TtrWindow) + 1)]) AS p
        |        FROM mtt),
        |mtw AS (SELECT doc_id, p.win AS win,
        |               count(DISTINCT p.term)::BIGINT AS d
        |        FROM mte GROUP BY 1, 2)
        |SELECT doc_id, count(*)::BIGINT AS n_windows,
        |       (sum(d) * 1000000 // ($TtrWindow * count(*)))::BIGINT AS mean_ttr_ppm,
        |       (min(d) * 1000000 // $TtrWindow)::BIGINT AS min_ttr_ppm,
        |       (max(d) * 1000000 // $TtrWindow)::BIGINT AS max_ttr_ppm
        |FROM mtw GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "q360_lm_transfer" ->
      // per-term ln floors to nano-nats BEFORE the weighted sum (the
      // q70/q352 floor-before-sum convention), so the grid is integer
      """WITH ltt AS (SELECT source, unnest(regexp_extract_all(text, '[^ \t\n\r]+')) AS term
        |           FROM documents),
        |ltc AS (SELECT source, term, count(*)::BIGINT AS c FROM ltt GROUP BY 1, 2),
        |ltot AS (SELECT source, sum(c)::BIGINT AS t FROM ltc GROUP BY 1),
        |lv AS (SELECT count(DISTINCT term)::BIGINT AS v FROM ltc),
        |lm AS (SELECT s.source AS src_model, w.term,
        |              floor(ln((coalesce(c.c, 0) + 1)::DOUBLE
        |                       / (s.t + (SELECT v FROM lv))::DOUBLE)
        |                    * 1000000000.0)::BIGINT AS lnp
        |       FROM ltot s
        |       CROSS JOIN (SELECT DISTINCT term FROM ltc) w
        |       LEFT JOIN ltc c ON c.source = s.source AND c.term = w.term),
        |lce AS (SELECT e.source AS src_eval, m.src_model,
        |               ((-sum(e.c * m.lnp)) // et.t)::BIGINT AS h_nano
        |        FROM ltc e
        |        JOIN lm m ON m.term = e.term
        |        JOIN ltot et ON et.source = e.source
        |        GROUP BY 1, 2, et.t)
        |SELECT src_eval, src_model, h_nano,
        |       h_nano = min(h_nano) OVER (PARTITION BY src_eval) AS best
        |FROM lce ORDER BY src_eval, src_model""".stripMargin,
    "q361_bucket_sweep" -> {
      import graft.operators.Packing.BucketSweepKs
      val grid = BucketSweepKs.map(k => s"($k)").mkString(", ")
      s"""WITH bsh AS (SELECT len(regexp_extract_all(text, '[^ \t\n\r]+'))::BIGINT AS l,
        |                   count(*)::BIGINT AS cnt
        |            FROM documents GROUP BY 1),
        |bsc AS (SELECT l, cnt,
        |               sum(cnt) OVER (ORDER BY l ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
        |               sum(cnt) OVER ()::BIGINT AS n
        |        FROM bsh),
        |bse AS (SELECT kk.k::BIGINT AS k, (kk.k * cum + n - 1) // n AS j, l, cnt
        |        FROM bsc, (VALUES $grid) kk(k)),
        |bsb AS (SELECT k, j, sum(cnt)::BIGINT AS n_docs,
        |               sum(l * cnt)::BIGINT AS raw, max(l)::BIGINT AS maxlen
        |        FROM bse GROUP BY 1, 2)
        |SELECT k, count(*)::BIGINT AS n_buckets, sum(n_docs)::BIGINT AS n_docs,
        |       sum(raw)::BIGINT AS raw_tokens,
        |       sum(n_docs * maxlen)::BIGINT AS padded_tokens,
        |       ((sum(n_docs * maxlen) - sum(raw)) * 1000000
        |        // sum(n_docs * maxlen))::BIGINT AS waste_ppm
        |FROM bsb GROUP BY k ORDER BY k""".stripMargin
    },
    "q365_pack_mask_stats" -> {
      import graft.operators.Packing
      val grid = Packing.MaskWindows.map(w => s"($w)").mkString(", ")
      s"""WITH t AS (
        |  SELECT doc_id, len(regexp_extract_all(text, '[^ \t\n\r]+'))::BIGINT AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n,
        |         sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
        |                      AND CURRENT ROW) - n AS pre
        |  FROM t),
        |sdoc AS (
        |  SELECT n, pre, (pre // ${Packing.ShardBudget}) AS shard_id FROM c),
        |sstart AS (SELECT shard_id, min(pre) AS shard_start FROM sdoc GROUP BY 1)
        |SELECT ww.w::BIGINT AS w, sum(d.n)::BIGINT AS total_tokens,
        |       sum(CASE WHEN d.pre > s.shard_start
        |                THEN least(d.n, ww.w - 1) ELSE 0 END)::BIGINT AS contaminated_tokens,
        |       (sum(CASE WHEN d.pre > s.shard_start
        |                 THEN least(d.n, ww.w - 1) ELSE 0 END) * 1000000
        |        // sum(d.n))::BIGINT AS contaminated_ppm
        |FROM sdoc d JOIN sstart s USING (shard_id), (VALUES $grid) ww(w)
        |GROUP BY ww.w ORDER BY w""".stripMargin
    },
    "q362_kcenter_seeds" -> {
      import graft.operators.Similarity.KcenterK
      // unrolled maximin rounds: d_r = min micro-distance to the seed
      // set s_{r-1}; p_r = its (md DESC, vec_id ASC) argmax
      val rounds = (2 to KcenterK).map { r =>
        s""",
        |d$r AS (
        |  SELECT e.vec_id,
        |         min(floor(list_sum([ (e.v[i] - s.v[i]) * (e.v[i] - s.v[i])
        |                              FOR i IN range(1, 65) ]) * 1000000)::BIGINT) AS md
        |  FROM e, s${r - 1} s
        |  WHERE e.vec_id NOT IN (SELECT vec_id FROM s${r - 1})
        |  GROUP BY e.vec_id),
        |p$r AS (
        |  SELECT d.vec_id, e.v, d.md FROM d$r d JOIN e USING (vec_id)
        |  ORDER BY d.md DESC, d.vec_id ASC LIMIT 1),
        |s$r AS (SELECT vec_id, v FROM s${r - 1} UNION ALL SELECT vec_id, v FROM p$r)"""
      }.mkString
      val out = (2 to KcenterK)
        .map(r => s"UNION ALL SELECT $r, vec_id, md FROM p$r").mkString("\n        |")
      materializeCtes(
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s1 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1)$rounds
        |SELECT seed_rank::INT AS seed_rank, vec_id, radius_u FROM (
        |  SELECT 1 AS seed_rank, vec_id, 0::BIGINT AS radius_u FROM s1
        |  $out)
        |ORDER BY seed_rank""".stripMargin)
    },
    "q363_cluster_validity" ->
      materializeCtes(ivfHierCellsCte + """,
        |vd2 AS (
        |  SELECT cells.cent_id,
        |         floor(list_sum([ (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])
        |                          FOR i IN range(1, 65) ]) * 1000000)::BIGINT AS d2u
        |  FROM cells JOIN e USING (vec_id) JOIN c2 c USING (cent_id)),
        |per_cell AS (
        |  SELECT cent_id, count(*)::BIGINT AS n_i, sum(d2u)::BIGINT AS ssw_u
        |  FROM vd2 GROUP BY 1),
        |gcomp AS (SELECT t.d, v[t.d] AS x FROM e, unnest(range(1, 65)) t(d)),
        |gm AS (SELECT d, round(avg(x), 6) AS m FROM gcomp GROUP BY 1),
        |gvv AS (SELECT list(m ORDER BY d) AS gv FROM gm),
        |cellsx AS (
        |  SELECT p.cent_id, p.n_i, p.ssw_u, c.cv,
        |         floor(list_sum([ (c.cv[i] - g.gv[i]) * (c.cv[i] - g.gv[i])
        |                          FOR i IN range(1, 65) ]) * 1000000)::BIGINT AS g2u
        |  FROM per_cell p JOIN c2 c USING (cent_id), gvv g),
        |pm AS (
        |  SELECT i.cent_id,
        |         max(floor((sqrt(i.ssw_u::DOUBLE / i.n_i / 1000000.0)
        |                    + sqrt(j.ssw_u::DOUBLE / j.n_i / 1000000.0))
        |             / sqrt(greatest(list_sum([ (i.cv[q] - j.cv[q]) * (i.cv[q] - j.cv[q])
        |                                        FOR q IN range(1, 65) ]), 1e-12))
        |             * 1000000)::BIGINT) AS worst_u
        |  FROM cellsx i JOIN cellsx j ON i.cent_id <> j.cent_id GROUP BY 1),
        |dbx AS (SELECT count(*)::BIGINT AS k_cells, sum(worst_u)::BIGINT AS sum_worst_u FROM pm),
        |vsums AS (SELECT sum(n_i)::BIGINT AS n_vecs, sum(ssw_u)::BIGINT AS w_u,
        |                 sum(n_i * g2u)::BIGINT AS b_u FROM cellsx)
        |SELECT n_vecs, k_cells, w_u, b_u,
        |       round((b_u::DOUBLE / (k_cells - 1)) / (w_u::DOUBLE / (n_vecs - k_cells)), 6)
        |         AS calinski_harabasz,
        |       round(sum_worst_u::DOUBLE / k_cells / 1000000.0, 6) AS davies_bouldin
        |FROM vsums, dbx""".stripMargin),
    "q364_source_gram_leakage" -> {
      import graft.operators.TextAnalysis.LeakageGramK
      val k = LeakageGramK
      s"""WITH toks AS (
        |  SELECT source, regexp_extract_all(text, '[^ \t\n\r]+') AS w FROM documents),
        |g AS (
        |  SELECT DISTINCT source,
        |         ('0x' || substr(md5(gr), 1, 7))::BIGINT AS h
        |  FROM (SELECT source,
        |               unnest([array_to_string(w[i:i+${k - 1}], '_')
        |                       FOR i IN range(1, len(w) - ${k - 2})]) AS gr
        |        FROM toks WHERE len(w) >= $k)),
        |tot AS (SELECT source, count(*)::BIGINT AS n FROM g GROUP BY 1),
        |sh AS (
        |  SELECT a.source AS sa, b.source AS sb, count(*)::BIGINT AS ns
        |  FROM g a JOIN g b USING (h) WHERE a.source <> b.source
        |  GROUP BY 1, 2)
        |SELECT ta.source AS src_a, tb.source AS src_b,
        |       ta.n AS n_grams_a, coalesce(sh.ns, 0)::BIGINT AS n_shared,
        |       (coalesce(sh.ns, 0) * 1000000 // ta.n)::BIGINT AS containment_ppm
        |FROM tot ta JOIN tot tb ON ta.source <> tb.source
        |LEFT JOIN sh ON sh.sa = ta.source AND sh.sb = tb.source
        |ORDER BY src_a, src_b""".stripMargin
    }
  )

  /** Shared q28/q73 oracle prefix: sample-bounded Lloyd's training,
    * final corpus assignment (`asg`, ranked) and top-1 `cells`. */
  /** Shared IVF training prefix: the deterministic sample-bounded
    * 2-round Lloyd recurrence ending in the trained codebook `c2`. */
  /** Mark every CTE in a composed oracle as `AS MATERIALIZED` — a pure
    * DuckDB execution hint (results identical) that stops the planner
    * from INLINING a CTE at each reference. The unrolled index
    * recurrences (Lloyd's rounds, beam hops, PQ codebooks) reference
    * each stage several times, so inlining re-evaluates the whole
    * prefix per reference: measured at sf0.1, the q82/q83/q85/q86
    * oracles took 869/494/144/63 s un-hinted vs ~2/1/0.5/0.7 s
    * materialized — ~26 minutes of a 27-minute oracle suite. The
    * negative lookbehind keeps named `WINDOW w AS (...)` clauses
    * untouched. */
  /** Shared stopword-profile language-ID chain (q18/q114): per-doc
    * per-profile hit scores, argmax with the alphabetical tie-break,
    * ending in `pred(doc_id, lang, plang, score)`. */
  private def langIdCte: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, regexp_extract_all(text, '[^ \t\n\r]+') AS w FROM documents
      |),
      |scores AS (
      |  SELECT doc_id, lang, sl.plang,
      |         len(list_filter(w, x -> list_contains(sl.words, x))) AS score
      |  FROM toks, (VALUES
      |    ('de', ['der','die','das','und','ist','ein','zu']),
      |    ('en', ['the','a','of','and','to','in','is','it']),
      |    ('es', ['el','los','y','es','un','una','que']),
      |    ('fr', ['le','les','et','est','une','dans','que']),
      |    ('zh', ['de','shi','bu','wo','le','ren','you'])) sl(plang, words)
      |),
      |ranked AS (
      |  SELECT doc_id, lang, plang, score,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang ASC) AS rn
      |  FROM scores
      |),
      |pred AS (SELECT doc_id, lang, plang, score FROM ranked WHERE rn = 1)""".stripMargin

  /** Shared transitive-closure chain (q31/q112): the exact-Jaccard
    * pairs as symmetric edges, recursive reachability, and the
    * min-root cluster assignment `clus(doc_id, cluster_id)`. */
  private def dupClustersCte: String =
    jaccardCte.replace("WITH sh AS", "WITH RECURSIVE sh AS") +
      """,
        |edges AS (
        |  SELECT i AS src, j AS dst FROM jac WHERE jaccard >= 0.8
        |  UNION ALL
        |  SELECT j AS src, i AS dst FROM jac WHERE jaccard >= 0.8
        |),
        |reach AS (
        |  SELECT doc_id AS doc, doc_id AS root FROM documents
        |  UNION
        |  SELECT e.src AS doc, r.root
        |  FROM reach r JOIN edges e ON e.dst = r.doc
        |),
        |clus AS (
        |  SELECT doc AS doc_id, min(root) AS cluster_id
        |  FROM reach GROUP BY doc
        |)""".stripMargin

  /** Shared quality-scoring chain (q19/q111): tokenized docs `t`,
    * surface features `f`, composite 5dp score `qual`. */
  private def qualityCte: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\r]+') AS w FROM documents
      |),
      |f AS (
      |  SELECT doc_id,
      |         len(w)::INT AS n_tokens,
      |         round(list_sum(list_transform(w, x -> len(x))) * 1.0 / len(w), 4) AS mean_word_len,
      |         round(len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is','it'], x))) * 1.0 / len(w), 4) AS stopword_ratio,
      |         round(len(list_distinct(w)) * 1.0 / len(w), 4) AS uniq_ratio
      |  FROM t
      |),
      |qual AS (
      |  SELECT doc_id, n_tokens, mean_word_len, stopword_ratio, uniq_ratio,
      |         round(0.4 * stopword_ratio + 0.3 * uniq_ratio
      |               + 0.3 * least(n_tokens / 100.0, 1.0), 5) AS quality_score
      |  FROM f
      |)""".stripMargin

  /** Shared exact-integer top-PC recurrence (q177/q285): quantized
    * components, scatter matrix `pm`, unrolled power iteration,
    * ending in the canonical-sign loading vector `pvf(j, vi)` (plus
    * `pe`, `pn`, `pm` for consumers). */
  private def pcaCte: String = {
    import graft.operators.Similarity.{PcaIters, PcaQ}
    val iters = (1 to PcaIters).map { i =>
      s"""pw$i AS (
        |  SELECT m.j, sum(m.mv * v.vi) AS w
        |  FROM pm m JOIN pv${i - 1} v ON v.j = m.k GROUP BY 1),
        |pwm$i AS (SELECT max(abs(w)) AS wmax FROM pw$i),
        |pv$i AS (
        |  SELECT j, (CASE WHEN w < 0 THEN -1 ELSE 1 END)::HUGEINT
        |            * ((abs(w) * $PcaQ) // wmax) AS vi
        |  FROM pw$i CROSS JOIN pwm$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH pe AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |pq AS (
      |  SELECT vec_id, (t.d - 1)::BIGINT AS j,
      |         floor(v[t.d] * $PcaQ.0 + 0.5)::BIGINT AS xq
      |  FROM pe, unnest(range(1, 65)) t(d)),
      |pn AS (SELECT count(*)::BIGINT AS n FROM pe),
      |psj AS (SELECT j, sum(xq)::BIGINT AS s FROM pq GROUP BY 1),
      |pg AS (
      |  SELECT a.j AS j, b.j AS k, sum(a.xq * b.xq)::BIGINT AS sjk
      |  FROM pq a JOIN pq b ON a.vec_id = b.vec_id GROUP BY 1, 2),
      |pm AS (
      |  SELECT g.j, g.k,
      |         (pn.n::HUGEINT * g.sjk::HUGEINT - sa.s::HUGEINT * sb.s::HUGEINT) AS mv
      |  FROM pg g CROSS JOIN pn
      |  JOIN psj sa ON sa.j = g.j JOIN psj sb ON sb.j = g.k),
      |pv0 AS (
      |  SELECT (t.d - 1)::BIGINT AS j, $PcaQ::HUGEINT AS vi
      |  FROM unnest(range(1, 65)) t(d)),
      |$iters,
      |plead AS (SELECT vi FROM pv$PcaIters ORDER BY abs(vi) DESC, j ASC LIMIT 1),
      |pvf AS (
      |  SELECT j, CASE WHEN (SELECT vi FROM plead) < 0 THEN -vi ELSE vi END AS vi
      |  FROM pv$PcaIters)""".stripMargin
  }

  /** Shared BPE training chain (q102/q107): word-count vocab `wc`,
    * spaced form `v0`, then per round r: argmax pair `r$r` and the
    * re-segmented vocab `v$r` via the same left-fold merge the engine
    * runs (DuckDB list_reduce ≡ Spark aggregate). */
  private def bpeTrainCte: String = {
    import graft.operators.TextAnalysis.BpeRounds
    val rounds = (1 to BpeRounds).map { r =>
      val pick =
        s"""r$r AS MATERIALIZED (
           |  SELECT string_split(pair, ' ')[1] AS px, string_split(pair, ' ')[2] AS py, freq FROM (
           |    SELECT t[i] || ' ' || t[i + 1] AS pair, sum(n) AS freq
           |    FROM (SELECT string_split(s, ' ') AS t, n FROM v${r - 1}),
           |         unnest(range(1, len(t))) u(i)
           |    GROUP BY 1 ORDER BY freq DESC, pair ASC LIMIT 1))"""
      val apply =
        if (r == BpeRounds) ""
        else s""",
           |v$r AS MATERIALIZED (
           |  SELECT ltrim(list_reduce(list_prepend('', string_split(s, ' ')), (acc, t) ->
           |           CASE WHEN t = py AND ends_with(acc, ' ' || px)
           |                THEN left(acc, length(acc) - length(px)) || px || py
           |                ELSE acc || ' ' || t END)) AS s, n
           |  FROM v${r - 1}, r$r)"""
      pick + apply
    }.mkString(",\n")
    s"""WITH wc AS MATERIALIZED (
       |  SELECT w, count(*) AS n
       |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents)
       |  GROUP BY 1),
       |v0 AS MATERIALIZED (
       |  SELECT rtrim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS s, n
       |  FROM wc WHERE length(w) >= 2),
       |$rounds"""
  }

  /** Shared q179/q223 item-to-item CF chain: capped baskets, pair
    * supports, symmetric cosine scores, per-item ranking — ending in
    * `nrk(item, neighbor, n_ab, cos_ppm, rnk)` (+ `nsupp` supports). */
  private def itemNeighborsCte: String = {
    import graft.operators.Graph.{MaxBasketItems, MinCoocSupport}
    s"""WITH nitems AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |ncapped AS (
        |  SELECT l_orderkey, l_partkey FROM (
        |    SELECT l_orderkey, l_partkey,
        |           row_number() OVER (PARTITION BY l_orderkey ORDER BY
        |             ('0x' || substr(md5('bk_' || l_orderkey || '_' || l_partkey), 1, 7))::BIGINT,
        |             l_partkey) AS rn
        |    FROM nitems) WHERE rn <= $MaxBasketItems),
        |npairs AS (
        |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*)::BIGINT AS n_ab
        |  FROM ncapped a JOIN ncapped b USING (l_orderkey)
        |  WHERE a.l_partkey < b.l_partkey GROUP BY 1, 2
        |  HAVING count(*) >= $MinCoocSupport),
        |nsupp AS (SELECT l_partkey, count(*)::BIGINT AS n FROM ncapped GROUP BY 1),
        |nsym AS (
        |  SELECT part_a AS item, part_b AS neighbor, n_ab FROM npairs
        |  UNION ALL SELECT part_b AS item, part_a AS neighbor, n_ab FROM npairs),
        |nsc AS (
        |  SELECT s.item, s.neighbor, s.n_ab,
        |         floor(s.n_ab::DOUBLE / sqrt((si.n * sn.n)::DOUBLE)
        |               * 1000000.0 + 0.5)::BIGINT AS cos_ppm
        |  FROM nsym s
        |  JOIN nsupp si ON si.l_partkey = s.item
        |  JOIN nsupp sn ON sn.l_partkey = s.neighbor),
        |nrk AS (
        |  SELECT item, neighbor, n_ab, cos_ppm,
        |         row_number() OVER (PARTITION BY item
        |           ORDER BY cos_ppm DESC, neighbor ASC) AS rnk
        |  FROM nsc)""".stripMargin
  }

  /** q186's ±1 sign matrix as a VALUES list — generated from the SAME
    * pure-code [[graft.operators.Similarity.RpSigns]] the operator
    * inlines, so the two sides share signs structurally. */
  private def rpSignsValues: String = {
    import graft.operators.Similarity
    (for { i <- 0 until Similarity.Dims; j <- 0 until Similarity.RpOutDims }
      yield s"($i,$j,${Similarity.RpSigns(i)(j)})").mkString(", ")
  }

  private def materializeCtes(sql: String): String =
    sql.replaceAll("""(?<!WINDOW )\b(\w+) AS \(""", "$1 AS MATERIALIZED (")

  private def ivfTrainCte: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |params AS (SELECT greatest(${Similarity.IvfMinCentroids}, ceil(sqrt(count(*)))::INT) AS k,
        |                  (count(*) + ${Similarity.IvfSampleMult} * greatest(${Similarity.IvfMinCentroids}, ceil(sqrt(count(*)))::INT) - 1)
        |                    // (${Similarity.IvfSampleMult} * greatest(${Similarity.IvfMinCentroids}, ceil(sqrt(count(*)))::INT)) AS den
        |           FROM e),
        |s AS (SELECT * FROM e
        |      WHERE ('0x' || substr(md5('ivfs_' || vec_id), 1, 7))::BIGINT
        |              % (SELECT den FROM params) = 0),
        |c0 AS (SELECT vec_id AS cent_id, v AS cv FROM s
        |       ORDER BY vec_id LIMIT (SELECT k FROM params)),
        |a0 AS (
        |  SELECT vec_id, cent_id FROM (
        |    SELECT s.vec_id, c.cent_id,
        |           row_number() OVER (PARTITION BY s.vec_id ORDER BY
        |             list_dot_product(s.v, c.cv) /
        |             (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
        |             c.cent_id ASC) AS rn
        |    FROM s, c0 c) WHERE rn = 1
        |),
        |m0 AS (
        |  SELECT a.cent_id, t.d, round(avg(s.v[t.d]), 6) AS m
        |  FROM a0 a, s, unnest(range(1, 65)) t(d)
        |  WHERE a.vec_id = s.vec_id
        |  GROUP BY a.cent_id, t.d
        |),
        |c1 AS (
        |  SELECT c0.cent_id, coalesce(n.cv, c0.cv) AS cv
        |  FROM c0 LEFT JOIN (SELECT cent_id, list(m ORDER BY d) AS cv FROM m0 GROUP BY cent_id) n
        |    USING (cent_id)
        |),
        |a1 AS (
        |  SELECT vec_id, cent_id FROM (
        |    SELECT s.vec_id, c.cent_id,
        |           row_number() OVER (PARTITION BY s.vec_id ORDER BY
        |             list_dot_product(s.v, c.cv) /
        |             (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
        |             c.cent_id ASC) AS rn
        |    FROM s, c1 c) WHERE rn = 1
        |),
        |m1 AS (
        |  SELECT a.cent_id, t.d, round(avg(s.v[t.d]), 6) AS m
        |  FROM a1 a, s, unnest(range(1, 65)) t(d)
        |  WHERE a.vec_id = s.vec_id
        |  GROUP BY a.cent_id, t.d
        |),
        |c2 AS (
        |  SELECT c1.cent_id, coalesce(n.cv, c1.cv) AS cv
        |  FROM c1 LEFT JOIN (SELECT cent_id, list(m ORDER BY d) AS cv FROM m1 GROUP BY cent_id) n
        |    USING (cent_id)
        |)""".stripMargin

  /** FLAT corpus→cell assignment (q28's n·k build): rank every trained
    * centroid per vector. */
  private def ivfCellsCte: String =
    ivfTrainCte + s""",
        |asg AS (
        |  SELECT e.vec_id, c.cent_id,
        |         row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |           list_dot_product(e.v, c.cv) /
        |           (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
        |           c.cent_id ASC) AS rn
        |  FROM e, c2 c
        |),
        |cells AS (SELECT vec_id, cent_id FROM asg WHERE rn = 1)""".stripMargin

  /** HIERARCHICAL corpus→cell assignment (the n·3√k build path shared
    * by q57/q73/q82): coarse codebook = every stride-th fine centroid,
    * fine centroids join their nearest coarse group, each vector probes
    * its [[graft.operators.Similarity.IvfCoarseProbe]] coarse groups
    * and ranks only those groups' fine centroids. Ends in the same
    * `asg`/`cells` names as [[ivfCellsCte]], so the ANN/dedup/PQ
    * suffixes compose with either assignment unchanged. */
  private def ivfHierCellsCte: String =
    ivfTrainCte + s""",
        |params2 AS (
        |  SELECT greatest(${Similarity.IvfCoarseMin}, ceil(sqrt(k))::INT) AS k1,
        |         greatest(1, k // greatest(${Similarity.IvfCoarseMin}, ceil(sqrt(k))::INT)) AS stride
        |  FROM params
        |),
        |fines AS (
        |  SELECT cent_id, cv, row_number() OVER (ORDER BY cent_id) - 1 AS idx FROM c2
        |),
        |coarse AS (
        |  SELECT cent_id AS grp_id, cv AS gv FROM fines
        |  WHERE idx % (SELECT stride FROM params2) = 0
        |),
        |fgrp AS (
        |  SELECT cent_id, grp_id, cv FROM (
        |    SELECT f.cent_id, g.grp_id, f.cv,
        |           row_number() OVER (PARTITION BY f.cent_id ORDER BY
        |             list_dot_product(f.cv, g.gv) /
        |             (sqrt(list_dot_product(f.cv, f.cv)) * sqrt(list_dot_product(g.gv, g.gv))) DESC,
        |             g.grp_id ASC) AS rn
        |    FROM fines f, coarse g) WHERE rn = 1
        |),
        |vgrp AS (
        |  SELECT vec_id, v, grp_id FROM (
        |    SELECT e.vec_id, e.v, g.grp_id,
        |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |             list_dot_product(e.v, g.gv) /
        |             (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(g.gv, g.gv))) DESC,
        |             g.grp_id ASC) AS rn
        |    FROM e, coarse g) WHERE rn <= ${Similarity.IvfCoarseProbe}
        |),
        |asg AS (
        |  SELECT w.vec_id, f.cent_id,
        |         row_number() OVER (PARTITION BY w.vec_id ORDER BY
        |           list_dot_product(w.v, f.cv) /
        |           (sqrt(list_dot_product(w.v, w.v)) * sqrt(list_dot_product(f.cv, f.cv))) DESC,
        |           f.cent_id ASC) AS rn
        |  FROM vgrp w JOIN fgrp f ON f.grp_id = w.grp_id
        |),
        |cells AS (SELECT vec_id, cent_id FROM asg WHERE rn = 1)""".stripMargin

  /** Probe-and-rank ANN suffix shared by q28 (flat cells) and q57
    * (hierarchical cells): probe [[Similarity.IvfNProbe]] cells, exact
    * cosine on candidates, top-3 per query. */
  private def annProbeRankSuffix: String = annProbeRankSuffixWhere("")

  /** [[annProbeRankSuffix]] with an extra predicate on the probing
    * (query) side — q87 restricts queries to the ingestion batch while
    * the candidate `cells` side stays the full updated index. */
  private def annProbeRankSuffixWhere(extraProbeFilter: String): String =
    s""",
        |probes AS (SELECT vec_id, cent_id FROM asg WHERE rn <= ${Similarity.IvfNProbe}$extraProbeFilter),
        |pairs AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |         list_dot_product(ea.v, eb.v) /
        |         (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS cosine_raw
        |  FROM probes a JOIN cells b ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id
        |  JOIN e ea ON ea.vec_id = a.vec_id
        |  JOIN e eb ON eb.vec_id = b.vec_id
        |),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cosine_raw,
        |         row_number() OVER (PARTITION BY query_id ORDER BY cosine_raw DESC, neighbor_id ASC) AS rnk
        |  FROM pairs
        |)
        |SELECT query_id, neighbor_id, rnk::INT AS "rank", round(cosine_raw, 6) AS cosine
        |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin

  /** q83's oracle: the IVF training prefix, then the centroid NSW
    * graph (LSH codes over the codebook, Hamming-≤1 candidates,
    * top-CgM edges), the unrolled batch beam-search recurrence routing
    * EVERY corpus vector to its cells, and the shared probe/rank
    * suffix — the identical deterministic composition. */
  private def annIvfGraphOracle: String = {
    import graft.operators.Similarity.{CgBeam, CgEntry, CgHops, CgM}
    def cos(a: String, b: String) =
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
    val hops = (1 to CgHops).map { h =>
      val p = s"gf${h - 1}"
      s"""gn$h AS (
        |  SELECT DISTINCT vec_id, node FROM (
        |    SELECT vec_id, node FROM $p
        |    UNION ALL
        |    SELECT $p.vec_id, cadj.dst AS node FROM $p JOIN cadj ON cadj.src = $p.node)
        |),
        |gs$h AS (
        |  SELECT n.vec_id, n.node, ${cos("e.v", "c.cv")} AS sim
        |  FROM gn$h n JOIN e ON e.vec_id = n.vec_id JOIN c2 c ON c.cent_id = n.node
        |),
        |gf$h AS (
        |  SELECT vec_id, node FROM (
        |    SELECT vec_id, node,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, node ASC) AS rn
        |    FROM gs$h) WHERE rn <= $CgBeam
        |)""".stripMargin
    }.mkString(",\n")
    ivfTrainCte + s""",
      |params3 AS (SELECT greatest(1, ceil(log2(k / 64.0)))::INT AS cbits FROM params),
      |cgrid AS (
      |  SELECT i, d,
      |         ('0x' || substr(md5('cg_0_' || i || '_' || d), 1, 7))::BIGINT % 2001 - 1000 AS w
      |  FROM unnest(range(0, (SELECT cbits FROM params3))) t2(i), unnest(range(0, 64)) t3(d)
      |),
      |cdots AS (
      |  SELECT c.cent_id, g.i, sum(c.cv[g.d + 1] * g.w) AS dot
      |  FROM c2 c, cgrid g GROUP BY 1, 2
      |),
      |ccodes AS (
      |  SELECT cent_id, sum(CASE WHEN dot > 0 THEN (1 << i) ELSE 0 END) AS cc
      |  FROM cdots GROUP BY 1
      |),
      |ccand AS (
      |  SELECT a.cent_id AS src, b.cent_id AS dst, ${cos("ca.cv", "cb.cv")} AS cosine
      |  FROM ccodes a JOIN ccodes b
      |    ON bit_count(xor(a.cc::BIGINT, b.cc::BIGINT)) <= 1 AND a.cent_id <> b.cent_id
      |  JOIN c2 ca ON ca.cent_id = a.cent_id
      |  JOIN c2 cb ON cb.cent_id = b.cent_id
      |),
      |cadj AS (
      |  SELECT src, dst FROM (
      |    SELECT src, dst,
      |           row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst ASC) AS rn
      |    FROM ccand) WHERE rn <= $CgM
      |),
      |centry AS (SELECT cent_id AS node FROM c2 ORDER BY cent_id LIMIT $CgEntry),
      |gs0 AS (
      |  SELECT e.vec_id, centry.node, ${cos("e.v", "c.cv")} AS sim
      |  FROM e, centry JOIN c2 c ON c.cent_id = centry.node
      |),
      |gf0 AS (
      |  SELECT vec_id, node FROM (
      |    SELECT vec_id, node,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, node ASC) AS rn
      |    FROM gs0) WHERE rn <= $CgBeam
      |),
      |$hops,
      |gsfin AS (
      |  SELECT f.vec_id, f.node, ${cos("e.v", "c.cv")} AS sim
      |  FROM gf$CgHops f JOIN e ON e.vec_id = f.vec_id JOIN c2 c ON c.cent_id = f.node
      |),
      |asg AS (
      |  SELECT vec_id, node AS cent_id,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, node ASC) AS rn
      |  FROM gsfin
      |),
      |cells AS (SELECT vec_id, cent_id FROM asg WHERE rn = 1)""".stripMargin +
      annProbeRankSuffix
  }

  /** q76's oracle: the identical damped recurrence over the verified
    * pair graph, one CTE per unrolled iteration, 9dp state rounding. */
  /** q306's oracle: the integer feature frame + the full-batch
    * gradient recurrence unrolled ([[graft.operators.DataQuality
    * .logReg]]'s exact arithmetic — per-row gradient terms floor-
    * micro-quantized before each order-free integer sum, weight
    * updates via floor() on doubles, never `//`-vs-`div` on
    * negatives). */
  private def logRegOracle: String = {
    import graft.operators.DataQuality.{LrIterations, LrPosLang, LrRate}
    def score(w: String) =
      s"(($w.w0::DOUBLE + $w.w1::DOUBLE * (x1::DOUBLE / 1000.0)" +
        s" + $w.w2::DOUBLE * (x2::DOUBLE / 100.0)) / 1000000.0)"
    val iters = (1 to LrIterations).map { i =>
      s"""ls$i AS (
        |  SELECT y, x1, x2, lw${i - 1}.w0, lw${i - 1}.w1, lw${i - 1}.w2,
        |         1.0 / (1.0 + exp(-${score(s"lw${i - 1}")})) AS p
        |  FROM lft, lw${i - 1}),
        |lg$i AS (
        |  SELECT w0, w1, w2,
        |         sum(floor((p - y::DOUBLE) * 1000000.0)::BIGINT)::BIGINT AS g0,
        |         sum(floor((p - y::DOUBLE) * (x1::DOUBLE / 1000.0)
        |           * 1000000.0)::BIGINT)::BIGINT AS g1,
        |         sum(floor((p - y::DOUBLE) * (x2::DOUBLE / 100.0)
        |           * 1000000.0)::BIGINT)::BIGINT AS g2
        |  FROM ls$i GROUP BY 1, 2, 3),
        |lw$i AS (
        |  SELECT w0 - floor(g0::DOUBLE * $LrRate / n::DOUBLE)::BIGINT AS w0,
        |         w1 - floor(g1::DOUBLE * $LrRate / n::DOUBLE)::BIGINT AS w1,
        |         w2 - floor(g2::DOUBLE * $LrRate / n::DOUBLE)::BIGINT AS w2
        |  FROM lg$i, ln)""".stripMargin
    }.mkString(",\n")
    s"""WITH lraw AS (
      |  SELECT (lang = '$LrPosLang')::BIGINT AS y, n_chars AS x1,
      |         len(regexp_extract_all(text, '[^ \t\n\r]+'))::BIGINT AS x2
      |  FROM documents),
      |lm AS (
      |  SELECT sum(x1)::BIGINT // count(*) AS m1,
      |         sum(x2)::BIGINT // count(*) AS m2,
      |         count(*)::BIGINT AS n
      |  FROM lraw),
      |lft AS MATERIALIZED (
      |  SELECT y, x1 - m1 AS x1, x2 - m2 AS x2 FROM lraw, lm),
      |ln AS (SELECT n FROM lm),
      |lw0 AS (SELECT 0::BIGINT AS w0, 0::BIGINT AS w1, 0::BIGINT AS w2),
      |$iters,
      |ltot AS (SELECT count(*)::BIGINT AS nd, sum(y)::BIGINT AS npos FROM lft),
      |lpred AS (
      |  SELECT y, lw$LrIterations.w0, lw$LrIterations.w1, lw$LrIterations.w2,
      |         (${score(s"lw$LrIterations")}
      |          > ln(npos::DOUBLE / (nd - npos)::DOUBLE))::BIGINT AS pred
      |  FROM lft, lw$LrIterations, ltot),
      |lacc AS (
      |  SELECT w0, w1, w2, count(*)::BIGINT AS n_docs, sum(y)::BIGINT AS n_pos,
      |         sum(CASE WHEN pred = y THEN 1 ELSE 0 END)::BIGINT AS n_correct,
      |         sum(pred * y)::BIGINT AS n_true_pos
      |  FROM lpred GROUP BY 1, 2, 3)
      |SELECT w0 AS w0_micros, w1 AS w1_micros, w2 AS w2_micros,
      |       n_docs, n_pos, n_correct, n_true_pos,
      |       n_correct * 1000000 // n_docs AS acc_ppm
      |FROM lacc""".stripMargin
  }

  /** q312's oracle: the verified-pair graph + [[graft.operators.Graph
    * .WlRounds]] rounds of canonical-string WL refinement. */
  private def wlHashOracle: String = {
    import graft.operators.Dedup.JaccardThreshold
    import graft.operators.Graph.WlRounds
    val rounds = (1 to WlRounds).map { i =>
      s"""wc$i AS (
        |  SELECT j.v, substr(md5(p.c || '|' || j.ns), 1, 12) AS c
        |  FROM (
        |    SELECT e.src AS v, string_agg(n.c, ',' ORDER BY n.c) AS ns
        |    FROM wedges e JOIN wc${i - 1} n ON n.v = e.dst
        |    GROUP BY 1) j
        |  JOIN wc${i - 1} p ON p.v = j.v
        |)""".stripMargin
    }.mkString(",\n")
    jaccardCte + s""",
      |wpairs AS (SELECT i AS a, j AS b FROM jac WHERE jaccard >= $JaccardThreshold),
      |wedges AS (SELECT a AS src, b AS dst FROM wpairs
      |           UNION ALL SELECT b AS src, a AS dst FROM wpairs),
      |wc0 AS (SELECT src AS v, count(*)::VARCHAR AS c FROM wedges GROUP BY 1),
      |$rounds
      |SELECT c AS wl_color, count(*)::BIGINT AS n_nodes
      |FROM wc$WlRounds GROUP BY 1
      |ORDER BY n_nodes DESC, wl_color ASC""".stripMargin
  }

  /** q313's oracle: node-iterator triangles on the a<b pair set +
    * degree rollup of the integer-ppm coefficients. */
  private def localClusteringOracle: String = {
    import graft.operators.Dedup.JaccardThreshold
    jaccardCte + s""",
      |lcp AS (SELECT i AS a, j AS b FROM jac WHERE jaccard >= $JaccardThreshold),
      |lct AS (
      |  SELECT v, count(*)::BIGINT AS tri FROM (
      |    SELECT unnest([e1.a, e1.b, e2.b]) AS v
      |    FROM lcp e1
      |    JOIN lcp e2 ON e1.b = e2.a
      |    JOIN lcp e3 ON e3.a = e1.a AND e3.b = e2.b)
      |  GROUP BY 1),
      |lcd AS (
      |  SELECT v, count(*)::BIGINT AS d FROM (
      |    SELECT unnest([a, b]) AS v FROM lcp)
      |  GROUP BY 1),
      |lcc AS (
      |  SELECT d, coalesce(tri, 0)::BIGINT AS tri,
      |         coalesce(tri, 0) * 2000000 // (d * (d - 1)) AS cc_ppm
      |  FROM lcd LEFT JOIN lct USING (v)
      |  WHERE d >= 2)
      |SELECT d AS degree, count(*)::BIGINT AS n_nodes,
      |       sum(tri)::BIGINT AS n_triangles,
      |       sum(cc_ppm)::BIGINT // count(*) AS mean_cc_ppm
      |FROM lcc GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q305's oracle: the word-adjacency graph + the INTEGER-pico
    * PageRank recurrence unrolled ([[graft.operators.Graph.textRank]]'s
    * exact arithmetic — every division integer, every sum over
    * integers, so no float fold order can differ). */
  private def textRankOracle: String = {
    import graft.operators.Graph.{PrIterations, TextRankTopK}
    val iters = (1 to PrIterations).map { i =>
      s"""trp$i AS MATERIALIZED (
        |  SELECT n.term,
        |         150000000000 // nn.n_nodes
        |           + (coalesce(s.in_sum, 0) * 17) // 20 AS pr
        |  FROM trn n
        |  LEFT JOIN (
        |    SELECT e.dst AS term, sum(p.pr // d.out_deg)::BIGINT AS in_sum
        |    FROM trp${i - 1} p
        |    JOIN tre e ON e.src = p.term
        |    JOIN trd d ON d.src = e.src
        |    GROUP BY 1) s USING (term), trnn nn
        |)""".stripMargin
    }.mkString(",\n")
    s"""WITH trt AS (SELECT regexp_extract_all(text, '[^ \t\n\r]+') AS w FROM documents),
      |tra AS (
      |  SELECT w[i] AS a, w[i+1] AS b
      |  FROM trt, unnest(range(1, len(w))) t(i)
      |  WHERE w[i] <> w[i+1]),
      |trp AS MATERIALIZED (
      |  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM tra),
      |tre AS MATERIALIZED (
      |  SELECT a AS src, b AS dst FROM trp
      |  UNION ALL SELECT b AS src, a AS dst FROM trp),
      |trd AS MATERIALIZED (SELECT src, count(*)::BIGINT AS out_deg FROM tre GROUP BY 1),
      |trn AS MATERIALIZED (SELECT DISTINCT src AS term FROM tre),
      |trnn AS MATERIALIZED (SELECT count(*)::BIGINT AS n_nodes FROM trn),
      |trp0 AS MATERIALIZED (
      |  SELECT term, 1000000000000 // n_nodes AS pr FROM trn, trnn),
      |$iters
      |SELECT p.term, p.pr AS pr_pico, d.out_deg AS degree
      |FROM trp$PrIterations p JOIN trd d ON d.src = p.term
      |ORDER BY pr_pico DESC, term ASC
      |LIMIT $TextRankTopK""".stripMargin
  }

  private def pageRankOracle: String = {
    import graft.operators.Graph.{Damping, PrIterations, PrStateDp}
    import graft.operators.Dedup.JaccardThreshold
    val iters = (1 to PrIterations).map { i =>
      s"""p$i AS (
        |  SELECT n.doc_id,
        |         round(${1.0 - Damping} / nn.n +
        |               $Damping * coalesce(s.in_sum, 0.0), $PrStateDp) AS pr
        |  FROM nodes n
        |  LEFT JOIN (
        |    SELECT e.dst AS doc_id, sum(p.pr / d.out_deg) AS in_sum
        |    FROM p${i - 1} p
        |    JOIN edges e ON e.src = p.doc_id
        |    JOIN deg d ON d.src = e.src
        |    GROUP BY e.dst) s USING (doc_id), nn
        |)""".stripMargin
    }.mkString(",\n")
    jaccardCte + s""",
      |pairs AS (SELECT i AS a, j AS b FROM jac WHERE jaccard >= $JaccardThreshold),
      |edges AS (SELECT a AS src, b AS dst FROM pairs
      |          UNION ALL SELECT b AS src, a AS dst FROM pairs),
      |deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
      |nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
      |nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
      |p0 AS (SELECT doc_id, round(1.0 / nn.n, $PrStateDp) AS pr FROM nodes, nn),
      |$iters
      |SELECT p.doc_id, round(p.pr, 6) AS pagerank, d.out_deg
      |FROM p$PrIterations p JOIN deg d ON d.src = p.doc_id
      |ORDER BY p.doc_id""".stripMargin
  }

  /** q82's oracle: the IVF cells prefix + the PQ recurrence over
    * RESIDUALS (v − home-cell centroid), with per-(query, probed-cell)
    * residual lookup tables — the identical deterministic composition. */
  private def annIvfPqOracle: String = {
    import graft.operators.Similarity.{Dims, PqCodes, PqSampleMult, PqSubDim, PqSubspaces}
    def subDist(a: String, b: String) =
      s"round(list_sum([($a[sub * $PqSubDim + dd] - $b[sub * $PqSubDim + dd]) * " +
        s"($a[sub * $PqSubDim + dd] - $b[sub * $PqSubDim + dd]) " +
        s"FOR dd IN range(1, ${PqSubDim + 1})]), 6)"
    ivfHierCellsCte + s""",
      |probes AS (SELECT vec_id, cent_id FROM asg WHERE rn <= ${Similarity.IvfNProbe}),
      |res AS (
      |  SELECT e.vec_id, t.d, e.v[t.d] - c2.cv[t.d] AS rx
      |  FROM e JOIN cells ce ON ce.vec_id = e.vec_id
      |  JOIN c2 ON c2.cent_id = ce.cent_id, unnest(range(1, ${Dims + 1})) t(d)
      |),
      |resl AS (SELECT vec_id, list(rx ORDER BY d) AS rv FROM res GROUP BY vec_id),
      |pqp AS (SELECT (count(*) + ${PqSampleMult * PqCodes} - 1)
      |                 // ${PqSampleMult * PqCodes} AS den FROM e),
      |s2 AS (SELECT r.* FROM resl r, pqp
      |       WHERE ('0x' || substr(md5('pqs_' || vec_id), 1, 7))::BIGINT % pqp.den = 0),
      |pinit AS (
      |  SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS code, rv
      |  FROM (SELECT vec_id, rv,
      |               ('0x' || substr(md5('pqc_' || vec_id), 1, 7))::BIGINT AS h
      |        FROM s2 ORDER BY h, vec_id LIMIT $PqCodes)
      |),
      |subs AS (SELECT i AS sub FROM unnest(range(0, $PqSubspaces)) t(i)),
      |pa0 AS (
      |  SELECT vec_id, sub, code FROM (
      |    SELECT s2.vec_id, subs.sub, c.code,
      |           row_number() OVER (PARTITION BY s2.vec_id, subs.sub
      |                              ORDER BY ${subDist("s2.rv", "c.rv")} ASC, c.code ASC) AS rn
      |    FROM s2, subs, pinit c) WHERE rn = 1
      |),
      |pm0 AS (
      |  SELECT a.code, t.d, round(avg(s2.rv[t.d]), 6) AS m
      |  FROM pa0 a JOIN s2 USING (vec_id), unnest(range(1, ${Dims + 1})) t(d)
      |  WHERE (t.d - 1) // $PqSubDim = a.sub
      |  GROUP BY 1, 2
      |),
      |pcbg AS (
      |  SELECT g.code, g.d, coalesce(m.m, g.iv) AS cv
      |  FROM (SELECT c.code, t.d, c.rv[t.d] AS iv
      |        FROM pinit c, unnest(range(1, ${Dims + 1})) t(d)) g
      |  LEFT JOIN pm0 m ON m.code = g.code AND m.d = g.d
      |),
      |pcbl AS (SELECT code, list(cv ORDER BY d) AS cv FROM pcbg GROUP BY code),
      |penc AS (
      |  SELECT vec_id, sub, code FROM (
      |    SELECT r.vec_id, subs.sub, c.code,
      |           row_number() OVER (PARTITION BY r.vec_id, subs.sub
      |                              ORDER BY ${subDist("r.rv", "c.cv")} ASC, c.code ASC) AS rn
      |    FROM resl r, subs, pcbl c) WHERE rn = 1
      |),
      |qres AS (
      |  SELECT q.vec_id AS query_id, p.cent_id AS pcell,
      |         list(q.v[t.d] - c2.cv[t.d] ORDER BY t.d) AS rqv
      |  FROM e q JOIN probes p ON p.vec_id = q.vec_id
      |  JOIN c2 ON c2.cent_id = p.cent_id, unnest(range(1, ${Dims + 1})) t(d)
      |  WHERE q.vec_id < 10
      |  GROUP BY 1, 2
      |),
      |lut AS (
      |  SELECT qr.query_id, qr.pcell, subs.sub, c.code,
      |         ${subDist("qr.rqv", "c.cv")} AS qdist
      |  FROM qres qr, subs, pcbl c
      |),
      |adc AS (
      |  SELECT l.query_id, penc.vec_id, round(sum(l.qdist), 6) AS adist
      |  FROM penc
      |  JOIN cells ce ON ce.vec_id = penc.vec_id
      |  JOIN lut l ON l.pcell = ce.cent_id AND l.sub = penc.sub AND l.code = penc.code
      |  WHERE penc.vec_id <> l.query_id
      |  GROUP BY 1, 2
      |)
      |SELECT query_id, vec_id AS neighbor_id, rnk::INT AS "rank", adist AS approx_dist
      |FROM (SELECT query_id, vec_id, adist,
      |             row_number() OVER (PARTITION BY query_id
      |                                ORDER BY adist ASC, vec_id ASC) AS rnk
      |      FROM adc) WHERE rnk <= 3
      |ORDER BY query_id, rnk""".stripMargin
  }

  /** q68's oracle: the identical PQ recurrence — hash-least init
    * codebook, one Lloyd round (rounded argmin + rounded means),
    * encode, per-query ADC lookup sums, top-3 by (dist ASC, id ASC). */
  private def annPqOracle: String = {
    import graft.operators.Similarity.{PqCodes, PqSampleMult, PqSubDim}
    // squared L2 between subvectors of 64-d lists a and b for subspace
    // `sub` (0-based), as a DuckDB list comprehension (fixed dd order)
    def subDist(a: String, b: String) =
      s"round(list_sum([($a[sub * $PqSubDim + dd] - $b[sub * $PqSubDim + dd]) * " +
        s"($a[sub * $PqSubDim + dd] - $b[sub * $PqSubDim + dd]) " +
        s"FOR dd IN range(1, ${PqSubDim + 1})]), 6)"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |params AS (SELECT (count(*) + ${PqSampleMult * PqCodes} - 1)
      |                    // ${PqSampleMult * PqCodes} AS den FROM e),
      |s AS (SELECT e.* FROM e, params
      |      WHERE ('0x' || substr(md5('pqs_' || vec_id), 1, 7))::BIGINT % params.den = 0),
      |init AS (
      |  SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS code, v
      |  FROM (SELECT vec_id, v,
      |               ('0x' || substr(md5('pqc_' || vec_id), 1, 7))::BIGINT AS h
      |        FROM s ORDER BY h, vec_id LIMIT $PqCodes)
      |),
      |subs AS (SELECT i AS sub FROM unnest(range(0, ${graft.operators.Similarity.PqSubspaces})) t(i)),
      |a0 AS (
      |  SELECT vec_id, sub, code FROM (
      |    SELECT s.vec_id, subs.sub, c.code,
      |           row_number() OVER (PARTITION BY s.vec_id, subs.sub
      |                              ORDER BY ${subDist("s.v", "c.v")} ASC, c.code ASC) AS rn
      |    FROM s, subs, init c) WHERE rn = 1
      |),
      |m0 AS (
      |  SELECT a.code, t.d, round(avg(s.v[t.d]), 6) AS m
      |  FROM a0 a JOIN s USING (vec_id), unnest(range(1, ${graft.operators.Similarity.Dims + 1})) t(d)
      |  WHERE (t.d - 1) // $PqSubDim = a.sub
      |  GROUP BY 1, 2
      |),
      |cbg AS (
      |  SELECT g.code, g.d, coalesce(m.m, g.iv) AS cv
      |  FROM (SELECT c.code, t.d, c.v[t.d] AS iv
      |        FROM init c, unnest(range(1, ${graft.operators.Similarity.Dims + 1})) t(d)) g
      |  LEFT JOIN m0 m ON m.code = g.code AND m.d = g.d
      |),
      |cbl AS (SELECT code, list(cv ORDER BY d) AS cv FROM cbg GROUP BY code),
      |enc AS (
      |  SELECT vec_id, sub, code FROM (
      |    SELECT e.vec_id, subs.sub, c.code,
      |           row_number() OVER (PARTITION BY e.vec_id, subs.sub
      |                              ORDER BY ${subDist("e.v", "c.cv")} ASC, c.code ASC) AS rn
      |    FROM e, subs, cbl c) WHERE rn = 1
      |),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |lut AS (
      |  SELECT q.query_id, subs.sub, c.code, ${subDist("q.qv", "c.cv")} AS qdist
      |  FROM q, subs, cbl c
      |),
      |adc AS (
      |  SELECT l.query_id, enc.vec_id, round(sum(l.qdist), 6) AS adist
      |  FROM enc JOIN lut l ON l.sub = enc.sub AND l.code = enc.code
      |  WHERE enc.vec_id <> l.query_id
      |  GROUP BY 1, 2
      |)
      |SELECT query_id, vec_id AS neighbor_id, rnk::INT AS "rank", adist AS approx_dist
      |FROM (SELECT query_id, vec_id, adist,
      |             row_number() OVER (PARTITION BY query_id
      |                                ORDER BY adist ASC, vec_id ASC) AS rnk
      |      FROM adc) WHERE rnk <= 3
      |ORDER BY query_id, rnk""".stripMargin
  }

  /** q62's oracle: the identical graph-build + [[graft.operators
    * .Similarity.HnswHops]]-hop beam-search recurrence, with one
    * (nodes, scored, frontier) CTE triple emitted per hop. */
  private def annHnswOracle: String = {
    import graft.operators.Similarity.{HnswM, HnswBeam, HnswHops, HnswEntry}
    def cos(a: String, b: String) =
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
    val hops = (1 to HnswHops).map { h =>
      val p = s"f${h - 1}"
      s"""n$h AS (
        |  SELECT DISTINCT query_id, node FROM (
        |    SELECT query_id, node FROM $p
        |    UNION ALL
        |    SELECT $p.query_id, adj.dst AS node FROM $p JOIN adj ON adj.src = $p.node)
        |),
        |s$h AS (
        |  SELECT n.query_id, n.node, ${cos("q.qv", "e.v")} AS sim
        |  FROM n$h n JOIN e ON e.vec_id = n.node JOIN q ON q.query_id = n.query_id
        |  WHERE n.node <> n.query_id
        |),
        |f$h AS (
        |  SELECT query_id, node FROM (
        |    SELECT query_id, node,
        |           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, node ASC) AS rn
        |    FROM s$h) WHERE rn <= $HnswBeam
        |)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |params AS (SELECT greatest(1, ceil(log2(count(*) / 64.0)))::INT AS bits FROM e),
      |grid AS (
      |  SELECT i, d,
      |         ('0x' || substr(md5('ivf_0_' || i || '_' || d), 1, 7))::BIGINT % 2001 - 1000 AS w
      |  FROM unnest(range(0, (SELECT bits FROM params))) t2(i), unnest(range(0, 64)) t3(d)
      |),
      |dots AS (
      |  SELECT e.vec_id, g.i, sum(e.v[g.d + 1] * g.w) AS dot
      |  FROM e, grid g GROUP BY 1, 2
      |),
      |codes AS (
      |  SELECT vec_id, sum(CASE WHEN dot > 0 THEN (1 << i) ELSE 0 END) AS c
      |  FROM dots GROUP BY 1
      |),
      |cand AS (
      |  SELECT a.vec_id AS src, b.vec_id AS dst, ${cos("ea.v", "eb.v")} AS cosine
      |  FROM codes a JOIN codes b
      |    ON bit_count(xor(a.c::BIGINT, b.c::BIGINT)) <= 1 AND a.vec_id <> b.vec_id
      |  JOIN e ea ON ea.vec_id = a.vec_id
      |  JOIN e eb ON eb.vec_id = b.vec_id
      |),
      |adj AS (
      |  SELECT src, dst FROM (
      |    SELECT src, dst,
      |           row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst ASC) AS rn
      |    FROM cand) WHERE rn <= $HnswM
      |),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |entry AS (SELECT vec_id AS node FROM e ORDER BY vec_id LIMIT $HnswEntry),
      |s0 AS (
      |  SELECT q.query_id, entry.node, ${cos("q.qv", "e.v")} AS sim
      |  FROM q, entry JOIN e ON e.vec_id = entry.node
      |  WHERE entry.node <> q.query_id
      |),
      |f0 AS (
      |  SELECT query_id, node FROM (
      |    SELECT query_id, node,
      |           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, node ASC) AS rn
      |    FROM s0) WHERE rn <= $HnswBeam
      |),
      |$hops,
      |sfin AS (
      |  SELECT f.query_id, f.node, ${cos("q.qv", "e.v")} AS sim
      |  FROM f$HnswHops f JOIN e ON e.vec_id = f.node JOIN q ON q.query_id = f.query_id
      |)
      |SELECT query_id, node AS neighbor_id, rnk::INT AS "rank", round(sim, 6) AS cosine
      |FROM (
      |  SELECT query_id, node, sim,
      |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, node ASC) AS rnk
      |  FROM sfin) WHERE rnk <= 3
      |ORDER BY query_id, rnk""".stripMargin
  }
}
