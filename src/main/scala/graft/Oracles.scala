package graft

/** DuckDB oracle SQL for [[SparkEntry.queries]] — split from
  * SparkEntry.scala so the registry file stays reviewable. Every entry is
  * byte-identical to its pre-split form; keys must keep matching the
  * `queries` registry (VerifySpec's key-parity test enforces it).
  */
private[graft] object Oracles {

  /** Cross-corpus exact-Jaccard pairs over the 0–399 / ≥400 split —
    * shared by the batch R-S join, the persistent screen, its stream,
    * and its rebuild cycle.
    */
  private[graft] val duckCrossPairs =
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct([l[i] || ' ' || l[i+1] || ' ' || l[i+2]
      |                   for i in range(1, len(l)-1)]) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
      |), pj AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j,
      |    len(list_intersect(a.s, b.s)) * 1.0
      |      / len(list_distinct(a.s || b.s)) AS jac
      |  FROM sh a, sh b WHERE a.doc_id < 400 AND b.doc_id >= 400
      |)
      |SELECT i, j, ROUND(jac, 3) AS jac FROM pj WHERE jac >= 0.8
      |ORDER BY i, j""".stripMargin

  /** Shared DuckDB fragment: distinct 3-gram shingle sets per document. */
  private[graft] val duckShingles =
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct([l[i] || ' ' || l[i+1] || ' ' || l[i+2]
      |                   for i in range(1, len(l)-1)]) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
      |), pj AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j,
      |    len(list_intersect(a.s, b.s)) * 1.0
      |      / len(list_distinct(a.s || b.s)) AS jac
      |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
      |)
      |SELECT i, j, ROUND(jac, 3) AS jac FROM pj WHERE jac >= 0.8
      |ORDER BY i, j""".stripMargin

  /** Shared CTE chain computing per-doc BM25 scores for the fixed
    * 3-term query — ends at the `scored` relation; [[duckBm25]] and the
    * hybrid-search oracle append different tails, so the BM25 semantics
    * cannot drift between them.
    */
  private val duckBm25Scored =
    """WITH base AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
      |  FROM documents
      |), dl AS (SELECT doc_id, len(toks) AS dl FROM base),
      |stats AS (SELECT AVG(dl) AS avgdl, COUNT(*) AS n_docs FROM dl),
      |tok AS (SELECT doc_id, unnest(toks) AS term FROM base),
      |tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM tok
      |  WHERE term IN ('table', 'scan', 'join') GROUP BY 1, 2
      |), dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |scored AS (
      |  SELECT tf.doc_id,
      |    ROUND(SUM(
      |      ln(1.0 + (stats.n_docs - dfx.df + 0.5) / (dfx.df + 0.5)) *
      |      tf.tf * (1.2 + 1.0) /
      |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))
      |    ), 6) AS score
      |  FROM tf JOIN dfx USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
      |  GROUP BY 1
      |)""".stripMargin

  private[graft] val duckBm25 = duckBm25Scored +
    """
      |SELECT doc_id, score FROM scored
      |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin


  private[graft] val duckSeriesTopk =
    """WITH s AS (
        |  SELECT user_id, list(value ORDER BY ts, event_id) AS xs
        |  FROM events GROUP BY 1
        |), q0 AS (
        |  SELECT xs[1:8] AS qw FROM s WHERE user_id = 0
        |), qm AS (SELECT qw, list_avg(qw) AS mu FROM q0),
        |qs AS (
        |  SELECT qw, mu,
        |    sqrt(list_avg([(x - mu) * (x - mu) for x in qw])) AS sd
        |  FROM qm
        |), qz AS (SELECT [(x - mu) / sd for x in qw] AS zq FROM qs),
        |wraw AS (
        |  SELECT user_id,
        |    unnest([{'off': i - 1, 'w': xs[i : i + 7]}
        |            for i in range(1, len(xs) - 6)]) AS r
        |  FROM s
        |), wins AS (
        |  SELECT user_id, r.off AS off, r.w AS w FROM wraw
        |), wm AS (
        |  SELECT user_id, off, w, list_avg(w) AS mu FROM wins
        |), ws AS (
        |  SELECT user_id, off, w, mu,
        |    sqrt(list_avg([(x - mu) * (x - mu) for x in w])) AS sd
        |  FROM wm
        |), scored AS (
        |  SELECT user_id, CAST(off AS INT) AS off,
        |    ROUND(CASE WHEN sd < 1e-12
        |      THEN sqrt(list_sum([z * z for z in zq]))
        |      ELSE sqrt(list_sum([((w[i] - mu) / sd - zq[i]) *
        |                          ((w[i] - mu) / sd - zq[i])
        |                          for i in range(1, 9)]))
        |    END, 6) AS dist
        |  FROM ws, qz
        |)
        |SELECT user_id, off, dist FROM scored
        |ORDER BY dist, user_id, off LIMIT 15""".stripMargin

  private[graft] val duckAnnTopk =
    """WITH q AS (
      |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |  FROM embeddings WHERE vec_id < 5
      |), scored AS (
      |  SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
      |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS sim
      |  FROM embeddings e, q WHERE e.vec_id <> q.qid
      |), ranked AS (
      |  SELECT query_id, neighbor_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |                       ORDER BY sim DESC, neighbor_id) AS rnk
      |  FROM scored
      |)
      |SELECT query_id, rnk, neighbor_id, ROUND(sim, 3) AS sim
      |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin

  private val duckMarkers: Map[String, String] = Map(
    "en" -> "['the','a','of','and','to','is']",
    "es" -> "['el','la','de','los','que','y']",
    "fr" -> "['le','la','et','les','des','un']",
    "de" -> "['der','die','und','das','ist','ein']")

  /** Component labels over the ≥0.8-Jaccard pair closure — the
    * dedup_corpus reachability CTE emitted as (doc_id, comp) labels.
    */
  private[graft] val duckCompLabels =
    """WITH RECURSIVE sh AS (
      |  SELECT doc_id,
      |    list_distinct([l[i] || ' ' || l[i+1] || ' ' || l[i+2]
      |                   for i in range(1, len(l)-1)]) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
      |), pj AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j
      |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
      |    AND len(list_intersect(a.s, b.s)) * 1.0
      |        / len(list_distinct(a.s || b.s)) >= 0.8
      |), e(a, b) AS (
      |  SELECT i, j FROM pj UNION SELECT j, i FROM pj
      |), reach(a, b) AS (
      |  SELECT a, b FROM e
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
      |)
      |SELECT a AS doc_id, LEAST(a, MIN(b)) AS comp
      |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin

  private val duckIncrAgg =
    """SELECT lang, source, COUNT(*) AS n,
      |  CAST(SUM(n_chars) AS BIGINT) AS s,
      |  MIN(n_chars) AS mn, MAX(n_chars) AS mx
      |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Bit-exact Morton-key replica of [[graft.operators.Layout.zkey]]:
    * same bucket formula in the same IEEE-double operation order
    * (subtract, divide, multiply, floor, clamp), then the 16-bit
    * interleave spelled out as generated shift/mask terms — value bits
    * on even key positions, user_id bits on odd.
    */
  private val duckZorderKey: String = {
    val terms = (0 until 16).flatMap(j => Seq(
      s"(((bv >> $j) & 1) << ${2 * j})",
      s"(((bu >> $j) & 1) << ${2 * j + 1})")).mkString(" + ")
    s"""WITH b AS (
       |  SELECT CAST(MIN(value) AS DOUBLE) AS vlo, CAST(MAX(value) AS DOUBLE) AS vhi,
       |         CAST(MIN(user_id) AS DOUBLE) AS ulo, CAST(MAX(user_id) AS DOUBLE) AS uhi
       |  FROM events
       |), k AS (
       |  SELECT event_id,
       |    LEAST(GREATEST(CAST(FLOOR((CAST(value AS DOUBLE) - vlo) / (vhi - vlo) * 65536.0) AS BIGINT), 0), 65535) AS bv,
       |    LEAST(GREATEST(CAST(FLOOR((CAST(user_id AS DOUBLE) - ulo) / (uhi - ulo) * 65536.0) AS BIGINT), 0), 65535) AS bu
       |  FROM events, b
       |)
       |SELECT event_id, CAST($terms AS BIGINT) AS zkey
       |FROM k ORDER BY event_id""".stripMargin
  }

  private[graft] def duckScore(lang: String): String =
    s"len(list_filter(toks, t -> list_contains(${duckMarkers(lang)}, t)))"

  def sql: Map[String, String] = Map(
    "q01_sum_count" ->
      "SELECT ROUND(SUM(l_quantity), 1) AS s, COUNT(*) AS c FROM lineitem",
    "q02_group_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS rev,
        |  ROUND(SUM(l_quantity), 1) AS sum_qty, COUNT(*) AS c
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q03_join_agg" ->
      """SELECT n_name, ROUND(SUM(o_totalprice), 2) AS tot, COUNT(*) AS c
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q04_anti_join" ->
      """SELECT c_custkey FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY 1""".stripMargin,
    "q05_window_rank" ->
      """SELECT o_custkey, o_orderkey, rnk FROM (
        |  SELECT o_custkey, o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin,
    "q06_topk" ->
      """SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice, 2) AS p
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""".stripMargin,
    "q07_intersect" ->
      """SELECT c_custkey AS k FROM customer
        |INTERSECT SELECT o_custkey AS k FROM orders ORDER BY 1""".stripMargin,
    "q08_ts_filter" ->
      """SELECT event_type, COUNT(*) AS c, ROUND(SUM(value), 2) AS v
        |FROM events WHERE ts >= TIMESTAMP '2024-01-15'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q09_hour_bucket" ->
      """SELECT CAST(FLOOR(epoch(date_trunc('hour', ts))) AS BIGINT) AS h,
        |  COUNT(*) AS c
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q10_json_get" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS kb,
        |  COUNT(*) AS c
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q11_distinct_agg" ->
      """SELECT lang, COUNT(DISTINCT source) AS ds,
        |  CAST(SUM(n_chars) AS BIGINT) AS ch
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q12_dup_groups" ->
      """SELECT doc_id, text FROM (
        |  SELECT doc_id, text, COUNT(*) OVER (PARTITION BY text) AS cnt
        |  FROM documents)
        |WHERE cnt > 1 ORDER BY doc_id""".stripMargin,
    "q13_cosine_top1" ->
      """SELECT b.vec_id FROM embeddings a, embeddings b
        |WHERE a.vec_id = 0 AND b.vec_id <> 0
        |ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                CAST(b.embedding AS DOUBLE[])) DESC,
        |         b.vec_id
        |LIMIT 1""".stripMargin,
    "q14_token_topk" ->
      """SELECT token, COUNT(*) AS c FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |WHERE token <> '' GROUP BY 1 ORDER BY c DESC, token LIMIT 20""".stripMargin,
    "q15_crawl" ->
      ("SELECT CAST(SUM(data) AS BIGINT) AS s FROM " +
        s"read_json_auto('${EntryOlap.referenceTests}/**/*.json')"),
    "q16_monoid" ->
      "SELECT ROUND(SUM(l_quantity), 1) AS s FROM lineitem",
    "q17_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  ROUND(SUM(l_quantity), 1) AS qty, COUNT(*) AS c
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "q18_cube" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS st,
        |  COALESCE(o_orderpriority, 'ALL') AS pri,
        |  ROUND(SUM(o_totalprice), 2) AS tot, COUNT(*) AS c
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY st, pri""".stripMargin,
    "q19_except" ->
      """SELECT CAST(c_nationkey AS INTEGER) AS k FROM customer
        |EXCEPT SELECT CAST(s_nationkey AS INTEGER) AS k FROM supplier
        |ORDER BY 1""".stripMargin,
    "q20_scalar_funcs" ->
      """SELECT o_orderkey, UPPER(o_orderstatus) AS st,
        |  SUBSTRING(o_orderpriority, 1, 3) AS pri,
        |  CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
        |  CAST(FLOOR(ABS(o_totalprice) / 100.0) AS BIGINT) AS hundredths,
        |  o_orderstatus || '-' || o_orderpriority AS tag
        |FROM orders ORDER BY o_orderkey LIMIT 100""".stripMargin,
    "q21_sliding_window" ->
      """SELECT CAST(FLOOR(epoch(ts) / 300) * 300 - i.i * 300 AS BIGINT) AS ws,
        |  COUNT(*) AS c
        |FROM events, (SELECT 0 AS i UNION ALL SELECT 1) i
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q22_session_window" ->
      """WITH e AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events
        |), s AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e
        |)
        |SELECT user_id, CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS ss,
        |  COUNT(*) AS n
        |FROM s GROUP BY user_id, sid ORDER BY user_id, ss""".stripMargin,
    "q23_asof_join" ->
      """SELECT e.event_id,
        |  (SELECT MAX(o.o_orderkey) FROM orders o
        |   WHERE o.o_custkey = e.user_id
        |     AND o.o_orderdate = (SELECT MAX(o2.o_orderdate) FROM orders o2
        |                          WHERE o2.o_custkey = e.user_id
        |                            AND o2.o_orderdate <= e.ts)) AS o_orderkey
        |FROM events e ORDER BY e.event_id""".stripMargin,
    "q104_asof_forward" ->
      """SELECT e.event_id,
        |  (SELECT MAX(o.o_orderkey) FROM orders o
        |   WHERE o.o_custkey = e.user_id
        |     AND o.o_orderdate = (SELECT MIN(o2.o_orderdate) FROM orders o2
        |                          WHERE o2.o_custkey = e.user_id
        |                            AND o2.o_orderdate >= e.ts)) AS o_orderkey
        |FROM events e ORDER BY e.event_id""".stripMargin,
    "q105_asof_nearest" ->
      """SELECT e.event_id,
        |  (SELECT MAX(o.o_orderkey) FROM orders o
        |   WHERE o.o_custkey = e.user_id
        |     AND o.o_orderdate = (
        |       SELECT o2.o_orderdate FROM orders o2
        |       WHERE o2.o_custkey = e.user_id
        |       ORDER BY ABS(epoch(CAST(o2.o_orderdate AS TIMESTAMP))
        |                    - epoch(e.ts)),
        |                (o2.o_orderdate > e.ts)
        |       LIMIT 1)) AS o_orderkey
        |FROM events e ORDER BY e.event_id""".stripMargin,
    "q24_range_join" ->
      """SELECT band, COUNT(*) AS c, ROUND(SUM(value), 2) AS v
        |FROM events
        |JOIN (VALUES (0.0, 50.0, 'low'), (50.0, 150.0, 'mid'),
        |             (150.0, 1000000000.0, 'high')) b(lo, hi, band)
        |  ON value >= lo AND value < hi
        |GROUP BY band ORDER BY band""".stripMargin,
    "q25_semi_join" ->
      """SELECT c_custkey FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY 1""".stripMargin,
    "q28_pivot" ->
      """SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
        |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        |  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q29_percentile" ->
      """SELECT o_orderstatus,
        |  ROUND(quantile_cont(o_totalprice, 0.5), 2) AS p50,
        |  ROUND(quantile_cont(o_totalprice, 0.9), 2) AS p90
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q30_stats" ->
      """SELECT l_returnflag,
        |  ROUND(stddev_samp(l_extendedprice), 2) AS sd_price,
        |  ROUND(var_samp(l_quantity), 2) AS var_qty,
        |  ROUND(corr(l_quantity, l_extendedprice), 4) AS cr,
        |  ROUND(covar_samp(l_quantity, l_extendedprice), 2) AS cv
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q31_scalar_subquery" ->
      """SELECT c_custkey,
        |  (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey)
        |    AS n_orders
        |FROM customer c ORDER BY c_custkey""".stripMargin,
    "q32_string_agg" ->
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS names,
        |  COUNT(*) AS c
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q41_minmax_by" ->
      """SELECT o_orderstatus,
        |  arg_max(o_orderdate, o_orderkey) AS latest_key_date,
        |  arg_min(o_orderdate, o_orderkey) AS first_key_date,
        |  ROUND(MAX(o_totalprice), 2) AS max_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q42_cond_agg" ->
      """SELECT event_type,
        |  COUNT(*) FILTER (WHERE value > 100.0) AS n_big,
        |  ROUND(SUM(value) FILTER (WHERE value > 100.0), 2) AS v_big,
        |  ROUND(SUM(value) FILTER (WHERE value <= 100.0), 2) AS v_small
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q43_regex_null" ->
      """SELECT c_custkey,
        |  CAST(regexp_extract(c_name, 'Customer#(\d+)', 1) AS BIGINT) AS cnum,
        |  COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS seg,
        |  CASE WHEN c_acctbal < 0 THEN 'debt' ELSE 'credit' END AS standing
        |FROM customer ORDER BY c_custkey LIMIT 300""".stripMargin,
    "q44_like_scan" ->
      """SELECT p_brand, COUNT(*) AS c,
        |  ROUND(SUM(p_retailprice), 2) AS sum_price,
        |  CAST(MAX(p_size) AS BIGINT) AS max_size
        |FROM part
        |WHERE p_type LIKE '%ECO%' OR p_name LIKE 'red%'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q45_asof_bucketed" ->
      """SELECT e.event_id,
        |  (SELECT MAX(o.o_orderkey) FROM orders o
        |   WHERE o.o_custkey = e.user_id
        |     AND o.o_orderdate = (SELECT MAX(o2.o_orderdate) FROM orders o2
        |                          WHERE o2.o_custkey = e.user_id
        |                            AND o2.o_orderdate <= e.ts)) AS o_orderkey
        |FROM events e ORDER BY e.event_id""".stripMargin,
    "q52_group_split" ->
      """WITH per AS (
        |  SELECT source, COUNT(DISTINCT split) AS nsplits, COUNT(*) AS ndocs,
        |    MIN(split) AS split
        |  FROM (SELECT source,
        |          CASE WHEN md5(source) < '8' THEN 'train' ELSE 'val' END AS split
        |        FROM documents)
        |  GROUP BY source
        |)
        |SELECT split, COUNT(*) AS n_sources, CAST(SUM(ndocs) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN nsplits > 1 THEN 1 ELSE 0 END) AS BIGINT) AS crossing
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    "q53_domain_cap" ->
      """SELECT source, doc_id, n_chars FROM (
        |  SELECT source, doc_id, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |                       ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents
        |) WHERE rn <= 5 ORDER BY source, doc_id""".stripMargin,
    "q54_resample" ->
      """WITH span AS (
        |  SELECT CAST(MIN(o_orderdate) AS DATE) AS d0,
        |         CAST(MAX(o_orderdate) AS DATE) AS d1 FROM orders
        |), days AS (
        |  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM span
        |), ks AS (SELECT DISTINCT o_orderpriority FROM orders
        |), cnt AS (
        |  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n
        |  FROM orders GROUP BY 1, 2
        |)
        |SELECT k.o_orderpriority, strftime(d.day, '%Y-%m-%d') AS day,
        |  CAST(COALESCE(c.n, 0) AS BIGINT) AS n
        |FROM ks k CROSS JOIN days d
        |LEFT JOIN cnt c ON c.o_orderpriority = k.o_orderpriority AND c.day = d.day
        |ORDER BY 1, 2""".stripMargin,
    "q55_full_outer" ->
      """WITH c AS (
        |  SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer
        |  WHERE c_acctbal > 9900 GROUP BY 1
        |), s AS (
        |  SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier
        |  WHERE s_acctbal > 9000 GROUP BY 1
        |)
        |SELECT CAST(COALESCE(c.nk, s.nk) AS INTEGER) AS nk, c.n_cust, s.n_supp
        |FROM c FULL OUTER JOIN s ON c.nk = s.nk
        |ORDER BY nk""".stripMargin,
    "q56_range_frame" ->
      """SELECT event_id,
        |  COUNT(*) OVER w AS n_1h,
        |  CAST(SUM(CAST(FLOOR(value) AS BIGINT)) OVER w AS BIGINT) AS f_1h
        |FROM (SELECT event_id, user_id,
        |        CAST(FLOOR(epoch(ts)) AS BIGINT) AS uts, value
        |      FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY uts
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q57_stratified" ->
      """SELECT lang, COUNT(*) AS n, MIN(doc_id) AS mn, MAX(doc_id) AS mx
        |FROM documents
        |WHERE md5(CAST(doc_id AS VARCHAR)) <
        |  CASE WHEN lang = 'en' THEN '8' ELSE '4' END
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q58_centroids" ->
      """SELECT label, idx, ROUND(AVG(v), 6) AS mean, COUNT(*) AS n FROM (
        |  SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
        |         unnest(range(0, len(embedding))) AS idx
        |  FROM embeddings
        |) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q59_mode" ->
      """SELECT l_returnflag, q AS mode_qty, c AS n FROM (
        |  SELECT l_returnflag, q, c,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |                       ORDER BY c DESC, q) AS rn
        |  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
        |          COUNT(*) AS c
        |        FROM lineitem GROUP BY 1, 2)
        |) WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,
    "q60_histogram" ->
      """SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bucket,
        |  COUNT(*) AS n, ROUND(MIN(o_totalprice), 2) AS lo,
        |  ROUND(MAX(o_totalprice), 2) AS hi
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q61_quantize" ->
      """WITH tall AS (
        |  SELECT unnest(range(0, len(embedding))) AS idx,
        |         unnest(CAST(embedding AS DOUBLE[])) AS v
        |  FROM embeddings
        |), st AS (SELECT idx, MIN(v) AS lo, MAX(v) AS hi FROM tall GROUP BY 1),
        |coded AS (
        |  SELECT t.idx, t.v, st.lo, st.hi,
        |    CASE WHEN st.hi = st.lo THEN 0
        |         ELSE LEAST(CAST(FLOOR((t.v - st.lo) / (st.hi - st.lo) * 256) AS BIGINT),
        |                    255) END AS code
        |  FROM tall t JOIN st USING (idx)
        |), e AS (
        |  SELECT idx, lo, hi, code,
        |    v - (lo + (code + 0.5) * (hi - lo) / 256.0) AS err
        |  FROM coded
        |)
        |SELECT idx, ROUND(MIN(lo), 6) AS lo, ROUND(MAX(hi), 6) AS hi,
        |  ROUND(AVG(err * err), 8) AS mse,
        |  ROUND(MAX(ABS(err)), 6) AS max_abs_err,
        |  CAST(COUNT(DISTINCT code) AS BIGINT) AS n_codes
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
    "q62_pack" ->
      """WITH base AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    len(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        |  FROM documents
        |), nz AS (SELECT * FROM base WHERE tok > 0),
        |placed AS (
        |  SELECT shard, doc_id, tok,
        |    SUM(tok) OVER (PARTITION BY shard ORDER BY doc_id) AS e
        |  FROM nz
        |), seqs AS (
        |  SELECT shard, tok,
        |    (e - tok) // 512 AS first_seq, (e - 1) // 512 AS last_seq
        |  FROM placed
        |)
        |SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_docs,
        |  CAST(SUM(tok) AS BIGINT) AS total_tokens,
        |  CAST(MAX(last_seq) + 1 AS BIGINT) AS n_seqs,
        |  CAST(SUM(CASE WHEN last_seq > first_seq THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_split_docs,
        |  CAST(CAST(SUM(tok) AS BIGINT) * 1000000
        |       // ((MAX(last_seq) + 1) * 512) AS BIGINT) AS fill_ppm
        |FROM seqs GROUP BY shard ORDER BY shard""".stripMargin,
    "q63_binpack" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    len(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        |  FROM documents
        |), nz AS (
        |  SELECT shard, doc_id, tok,
        |    ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
        |  FROM base WHERE tok > 0
        |), walk AS (
        |  SELECT shard, rn, tok, tok AS fill, CAST(0 AS BIGINT) AS bin
        |  FROM nz WHERE rn = 1
        |  UNION ALL
        |  SELECT n.shard, n.rn, n.tok,
        |    CASE WHEN w.fill + n.tok > 512 THEN n.tok ELSE w.fill + n.tok END,
        |    CASE WHEN w.fill + n.tok > 512 THEN w.bin + 1 ELSE w.bin END
        |  FROM walk w JOIN nz n ON n.shard = w.shard AND n.rn = w.rn + 1
        |)
        |SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_docs,
        |  CAST(SUM(tok) AS BIGINT) AS total_tokens,
        |  CAST(MAX(bin) + 1 AS BIGINT) AS n_bins,
        |  CAST(SUM(CASE WHEN tok > 512 THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow,
        |  CAST(CAST(SUM(LEAST(tok, 512)) AS BIGINT) * 1000000
        |       // ((MAX(bin) + 1) * 512) AS BIGINT) AS fill_ppm
        |FROM walk GROUP BY shard ORDER BY shard""".stripMargin,
    "q64_upsert" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        |), base AS (
        |  SELECT * FROM o WHERE o_orderkey % 3 <> 0
        |), batch AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    o_totalprice + 100000.0 AS o_totalprice
        |  FROM o WHERE o_orderkey % 2 = 0
        |), merged AS (
        |  SELECT * FROM batch
        |  UNION ALL
        |  SELECT * FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
        |)
        |SELECT o_orderpriority, COUNT(*) AS n,
        |  ROUND(SUM(o_totalprice), 2) AS tot
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,
    "q65_pagerank" ->
      """WITH e AS (
        |  SELECT DISTINCT o_custkey % 40 AS src, o_orderkey % 40 AS dst
        |  FROM orders WHERE o_custkey % 40 <> o_orderkey % 40
        |), deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
        |n AS (SELECT src AS v FROM e UNION SELECT dst AS v FROM e),
        |nc AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM n),
        |r0 AS (SELECT v, 1.0 / nc.n AS pr FROM n, nc),
        |c1 AS (SELECT e.dst AS v, SUM(r.pr / deg.d) AS c
        |       FROM e JOIN deg USING (src) JOIN r0 r ON r.v = e.src GROUP BY 1),
        |r1 AS (SELECT n.v, 0.15 / nc.n + 0.85 * COALESCE(c1.c, 0) AS pr
        |       FROM n CROSS JOIN nc LEFT JOIN c1 ON c1.v = n.v),
        |c2 AS (SELECT e.dst AS v, SUM(r.pr / deg.d) AS c
        |       FROM e JOIN deg USING (src) JOIN r1 r ON r.v = e.src GROUP BY 1),
        |r2 AS (SELECT n.v, 0.15 / nc.n + 0.85 * COALESCE(c2.c, 0) AS pr
        |       FROM n CROSS JOIN nc LEFT JOIN c2 ON c2.v = n.v),
        |c3 AS (SELECT e.dst AS v, SUM(r.pr / deg.d) AS c
        |       FROM e JOIN deg USING (src) JOIN r2 r ON r.v = e.src GROUP BY 1),
        |r3 AS (SELECT n.v, 0.15 / nc.n + 0.85 * COALESCE(c3.c, 0) AS pr
        |       FROM n CROSS JOIN nc LEFT JOIN c3 ON c3.v = n.v)
        |SELECT v, ROUND(pr, 6) AS pr FROM r3 ORDER BY v""".stripMargin,
    "q66_triangles" ->
      """WITH r AS (
        |  SELECT o_custkey % 500 AS s, o_orderkey % 500 AS d FROM orders
        |), e AS (
        |  SELECT DISTINCT LEAST(s, d) AS a, GREATEST(s, d) AS b
        |  FROM r WHERE s <> d
        |), tr AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        |), v AS (
        |  SELECT x AS v FROM tr UNION ALL SELECT y FROM tr
        |  UNION ALL SELECT z FROM tr
        |)
        |SELECT v, COUNT(*) AS tri FROM v GROUP BY 1 ORDER BY 1""".stripMargin,
    "q67_scd2" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events WHERE user_id % 50 = 0
        |), m AS (
        |  SELECT user_id, event_id, event_type, us,
        |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |      AS prev
        |  FROM e
        |), c AS (
        |  SELECT user_id, event_id, event_type, us FROM m
        |  WHERE prev IS NULL OR prev <> event_type
        |)
        |SELECT user_id, event_id, event_type, us AS ef,
        |  LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS et
        |FROM c ORDER BY user_id, ef, event_id""".stripMargin,
    // q67's versions + an hourly probe grid: latest version opening at or
    // before each probe (ties by event_id, the Spark tieBreak), nulled
    // when the probe falls past the version's close (the gap check)
    "q_scd2_pit" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, ts::TIMESTAMP AS ts
        |  FROM events WHERE user_id % 50 = 0
        |), m AS (
        |  SELECT user_id, event_id, event_type, ts,
        |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev
        |  FROM e
        |), c AS (
        |  SELECT user_id, event_id, event_type, ts AS ef FROM m
        |  WHERE prev IS NULL OR prev <> event_type
        |), v AS (
        |  SELECT user_id, event_id, event_type, ef,
        |    LEAD(ef) OVER (PARTITION BY user_id ORDER BY ef, event_id) AS et
        |  FROM c
        |), g AS (
        |  SELECT user_id,
        |    unnest(generate_series(date_trunc('hour', MIN(ts)), MAX(ts),
        |      INTERVAL 1 HOUR)) AS at
        |  FROM e GROUP BY user_id
        |), pit AS (
        |  SELECT g.user_id, g.at, v.event_type, v.event_id, v.et,
        |    ROW_NUMBER() OVER (PARTITION BY g.user_id, g.at
        |      ORDER BY v.ef DESC, v.event_id DESC) AS rn
        |  FROM g LEFT JOIN v ON v.user_id = g.user_id AND v.ef <= g.at
        |)
        |SELECT user_id, CAST(epoch(at) AS BIGINT) AS at_s,
        |  CASE WHEN et IS NULL OR at < et THEN event_type END AS event_type,
        |  CASE WHEN et IS NULL OR at < et THEN event_id END AS ver
        |FROM pit WHERE rn = 1 ORDER BY user_id, at_s""".stripMargin,
    "q68_vocab_encode" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
        |  FROM documents
        |), vc AS (
        |  SELECT token, COUNT(*) AS c FROM tok GROUP BY 1
        |), vocab AS (
        |  SELECT token, ROW_NUMBER() OVER (ORDER BY c DESC, token) AS id
        |  FROM (SELECT * FROM vc ORDER BY c DESC, token LIMIT 20)
        |)
        |SELECT t.doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN v.id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  CAST(SUM(COALESCE(v.id, 0)) AS BIGINT) AS id_sum
        |FROM tok t LEFT JOIN vocab v USING (token)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q69_winsorize" ->
      """WITH r AS (
        |  SELECT source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents
        |), cap AS (
        |  SELECT source, n_chars AS cap FROM r
        |  WHERE rn = CAST(CEIL(0.9 * n) AS BIGINT)
        |)
        |SELECT d.source, MAX(cap.cap) AS cap,
        |  CAST(SUM(CASE WHEN d.n_chars > cap.cap THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_capped,
        |  CAST(SUM(LEAST(d.n_chars, cap.cap)) AS BIGINT) AS tot
        |FROM documents d JOIN cap USING (source)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q70_global_ids" ->
      """SELECT source, doc_id,
        |  ROW_NUMBER() OVER (ORDER BY source, doc_id) - 1 AS gid
        |FROM documents ORDER BY gid""".stripMargin,
    "q71_digest" ->
      """SELECT source, COUNT(*) AS n,
        |  CAST(SUM(CAST(('0x' || substr(md5(
        |    CAST(doc_id AS VARCHAR) || '|' || text), 1, 8)) AS BIGINT))
        |    AS BIGINT) AS digest
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q72_profile" ->
      """SELECT 'doc_id' AS col_name, COUNT(*) AS n,
        |  COUNT(*) - COUNT(doc_id) AS n_null,
        |  COUNT(DISTINCT doc_id) AS n_distinct,
        |  CAST(MIN(doc_id) AS VARCHAR) AS min_s,
        |  CAST(MAX(doc_id) AS VARCHAR) AS max_s
        |FROM documents
        |UNION ALL
        |SELECT 'lang', COUNT(*), COUNT(*) - COUNT(lang),
        |  COUNT(DISTINCT lang), CAST(MIN(lang) AS VARCHAR),
        |  CAST(MAX(lang) AS VARCHAR) FROM documents
        |UNION ALL
        |SELECT 'source', COUNT(*), COUNT(*) - COUNT(source),
        |  COUNT(DISTINCT source), CAST(MIN(source) AS VARCHAR),
        |  CAST(MAX(source) AS VARCHAR) FROM documents
        |UNION ALL
        |SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars),
        |  COUNT(DISTINCT n_chars), CAST(MIN(n_chars) AS VARCHAR),
        |  CAST(MAX(n_chars) AS VARCHAR) FROM documents
        |ORDER BY col_name""".stripMargin,
    "q74_importance" ->
      """SELECT source, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |        AS BIGINT) / 4294967296.0
        |      < GREATEST(LEAST(CAST(n_chars AS DOUBLE) / 600.0, 1.0), 0.0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q84_negatives" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM embeddings),
        |drawn AS (
        |  SELECT a.vec_id, CAST(j AS INT) AS neg_idx,
        |    CAST(floor(
        |      CAST(('0x' || substr(md5(CAST(a.vec_id AS VARCHAR) || ':'
        |            || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT)
        |      / 4294967296.0 * n.n) AS BIGINT) AS raw,
        |    n.n AS nn
        |  FROM (SELECT vec_id FROM embeddings WHERE vec_id < 20) a, n,
        |       generate_series(0, 3) AS t(j)
        |)
        |SELECT vec_id, neg_idx,
        |  CASE WHEN raw = vec_id THEN (raw + 1) % nn ELSE raw END AS neg_id
        |FROM drawn ORDER BY vec_id, neg_idx""".stripMargin,
    "q83_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events WHERE ts IS NOT NULL
        |), g AS (
        |  SELECT user_id, event_type, sec,
        |    sec - LAG(sec) OVER (PARTITION BY user_id
        |                         ORDER BY ts, event_id) AS gap,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM e
        |), s AS (
        |  SELECT user_id, event_type, sec,
        |    CAST(SUM(CASE WHEN gap IS NULL OR gap >= 1800 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY rn
        |            ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_idx
        |  FROM g
        |), per AS (
        |  SELECT user_id, session_idx,
        |    MIN(CASE WHEN event_type = 'click' THEN sec END) AS fc,
        |    MAX(CASE WHEN event_type = 'purchase' THEN sec END) AS lp
        |  FROM s GROUP BY 1, 2
        |)
        |SELECT user_id, COUNT(*) AS n_sessions,
        |  COUNT(*) FILTER (WHERE fc IS NOT NULL AND lp IS NOT NULL
        |                     AND lp >= fc) AS n_converted
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    "q81_star" ->
      """SELECT n_name,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS rev,
        |  COUNT(*) AS c
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q82_streaks" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events WHERE event_type = 'purchase'
        |), anchored AS (
        |  SELECT user_id,
        |    day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
        |                                  ORDER BY day) AS INTEGER) AS anchor
        |  FROM d
        |), islands AS (
        |  SELECT user_id, anchor, COUNT(*) AS len
        |  FROM anchored GROUP BY 1, 2
        |)
        |SELECT user_id, MAX(len) AS streak, COUNT(*) AS n_islands,
        |  CAST(SUM(len) AS BIGINT) AS n_days
        |FROM islands GROUP BY 1 ORDER BY 1""".stripMargin,
    "q78_cdc" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS v
        |  FROM orders
        |), chg AS (
        |  SELECT l_orderkey AS k, l_returnflag AS status,
        |    l_extendedprice AS v, l_shipdate AS ts, l_linenumber AS tie,
        |    CASE WHEN l_linenumber % 4 = 0 THEN 'delete'
        |         ELSE 'upsert' END AS op
        |  FROM lineitem
        |), net AS (
        |  SELECT k, status, v, op FROM (
        |    SELECT k, status, v, op,
        |      ROW_NUMBER() OVER (PARTITION BY k
        |                         ORDER BY ts DESC, tie DESC,
        |                                  v DESC, status DESC) AS rn
        |    FROM chg) WHERE rn = 1
        |), applied AS (
        |  SELECT b.k, b.status, b.v FROM base b
        |  WHERE NOT EXISTS (SELECT 1 FROM net n WHERE n.k = b.k)
        |  UNION ALL
        |  SELECT k, status, v FROM net WHERE op <> 'delete'
        |)
        |SELECT k % 10 AS bucket, COUNT(*) AS n, ROUND(SUM(v), 2) AS v
        |FROM applied GROUP BY 1 ORDER BY 1""".stripMargin,
    "q79_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events WHERE ts IS NOT NULL
        |), g AS (
        |  SELECT user_id, sec,
        |    sec - LAG(sec) OVER (PARTITION BY user_id
        |                         ORDER BY ts, event_id) AS gap,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM e
        |), s AS (
        |  SELECT user_id, sec,
        |    CAST(SUM(CASE WHEN gap IS NULL OR gap >= 1800 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY rn
        |            ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_idx
        |  FROM g
        |)
        |SELECT user_id, session_idx, COUNT(*) AS n,
        |  MAX(sec) - MIN(sec) AS dur_s
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q80_url" ->
      """WITH u AS (
        |  SELECT doc_id, source || '.example.com' AS host,
        |    '/docs/' || CAST(doc_id AS VARCHAR) AS path, lang
        |  FROM documents
        |)
        |SELECT host, lang, COUNT(*) AS n, MIN(path) AS p0
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q77_ewma" ->
      """WITH RECURSIVE seq AS (
        |  SELECT user_id, event_id, CAST(value AS DOUBLE) AS v,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events WHERE user_id < 5 AND ts IS NOT NULL
        |    AND value IS NOT NULL
        |), walk AS (
        |  SELECT user_id, event_id, rn, v AS s FROM seq WHERE rn = 1
        |  UNION ALL
        |  SELECT q.user_id, q.event_id, q.rn,
        |    0.3 * q.v + (1.0 - 0.3) * w.s AS s
        |  FROM seq q JOIN walk w
        |    ON q.user_id = w.user_id AND q.rn = w.rn + 1
        |)
        |SELECT user_id, event_id, ROUND(s, 6) AS ewma FROM walk
        |ORDER BY user_id, event_id""".stripMargin,
    "q76_weighted" ->
      """WITH pri AS (
        |  SELECT source, doc_id,
        |    ROUND(POWER(
        |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |        AS BIGINT) / 4294967296.0,
        |      1.0 / CAST(n_chars AS DOUBLE)), 12) AS p
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
        |), ranked AS (
        |  SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |                       ORDER BY p DESC, doc_id) AS rn
        |  FROM pri
        |)
        |SELECT source, doc_id FROM ranked WHERE rn <= 5
        |ORDER BY source, doc_id""".stripMargin,
    "q75_standardize" ->
      """WITH tall AS (
        |  SELECT vec_id, CAST(i - 1 AS INT) AS idx,
        |    CAST(embedding[i] AS DOUBLE) AS v
        |  FROM (SELECT vec_id, embedding,
        |          CAST(unnest(generate_series(1, len(embedding))) AS BIGINT)
        |            AS i
        |        FROM embeddings)
        |), stats AS (
        |  SELECT idx, AVG(v) AS mean, STDDEV_POP(v) AS std
        |  FROM tall GROUP BY idx
        |)
        |SELECT t.vec_id, t.idx,
        |  ROUND(CASE WHEN s.std = 0 THEN 0.0
        |             ELSE (t.v - s.mean) / s.std END, 4) AS z
        |FROM tall t JOIN stats s USING (idx)
        |WHERE t.vec_id < 5 ORDER BY vec_id, idx""".stripMargin,
    "q73_diff" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS p, o_totalprice AS v
        |  FROM orders
        |), b AS (
        |  SELECT * FROM o WHERE k % 7 <> 0
        |), a AS (
        |  SELECT k, p, CASE WHEN k % 2 = 0 THEN v + 1 ELSE v END AS v
        |  FROM o WHERE k % 3 <> 0
        |)
        |SELECT status, COUNT(*) AS n FROM (
        |  SELECT CASE WHEN b.k IS NULL THEN 'added'
        |              WHEN a.k IS NULL THEN 'removed'
        |              WHEN a.p IS DISTINCT FROM b.p
        |                OR a.v IS DISTINCT FROM b.v THEN 'changed'
        |              ELSE 'unchanged' END AS status
        |  FROM b FULL OUTER JOIN a ON a.k = b.k
        |) GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_linededup" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |  FROM documents
        |), lined AS (
        |  SELECT doc_id, array_to_string(
        |    list_transform(generate_series(1, GREATEST(len(toks), 1), 10),
        |      s -> array_to_string(toks[s:s+9], ' ')), chr(10)) AS text
        |  FROM base
        |), lines AS (
        |  SELECT doc_id, i, l[i] AS line
        |  FROM (SELECT doc_id, l,
        |          CAST(unnest(generate_series(1, len(l))) AS INT) AS i
        |        FROM (SELECT doc_id, string_split(text, chr(10)) AS l
        |              FROM lined))
        |), flagged AS (
        |  SELECT doc_id, i, line,
        |    CASE WHEN TRIM(line) = '' THEN TRUE
        |         ELSE ROW_NUMBER() OVER (PARTITION BY line
        |                                 ORDER BY doc_id, i) = 1
        |    END AS keep
        |  FROM lines
        |)
        |SELECT doc_id,
        |  COUNT(*) FILTER (WHERE keep) AS n_kept,
        |  COUNT(*) FILTER (WHERE NOT keep) AS n_removed,
        |  md5(COALESCE(array_to_string(
        |    list(line ORDER BY i) FILTER (WHERE keep), chr(10)), '')) AS digest
        |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_boilerplate" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |  FROM documents
        |), lined AS (
        |  SELECT doc_id, array_to_string(
        |    list_transform(generate_series(1, GREATEST(len(toks), 1), 10),
        |      s -> array_to_string(toks[s:s+9], ' ')), chr(10)) AS text
        |  FROM base
        |), lines AS (
        |  SELECT doc_id, i, l[i] AS line
        |  FROM (SELECT doc_id, l,
        |          CAST(unnest(generate_series(1, len(l))) AS INT) AS i
        |        FROM (SELECT doc_id, string_split(text, chr(10)) AS l
        |              FROM lined))
        |), boiler AS (
        |  SELECT line FROM lines WHERE TRIM(line) <> ''
        |  GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 3
        |), flagged AS (
        |  SELECT doc_id, i, line,
        |    (TRIM(line) = '' OR line NOT IN (SELECT line FROM boiler)) AS keep
        |  FROM lines
        |)
        |SELECT doc_id,
        |  COUNT(*) FILTER (WHERE keep) AS n_kept,
        |  COUNT(*) FILTER (WHERE NOT keep) AS n_removed,
        |  md5(COALESCE(array_to_string(
        |    list(line ORDER BY i) FILTER (WHERE keep), chr(10)), '')) AS digest
        |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q85_temperature" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
        |r AS (
        |  SELECT lang, ROUND(POWER(CAST(n AS DOUBLE)
        |    / (SELECT MIN(n) FROM c), -0.5), 6) AS rate
        |  FROM c
        |)
        |SELECT d.lang, COUNT(*) AS n_kept,
        |  CAST(SUM(d.doc_id) AS BIGINT) AS id_sum, MAX(r.rate) AS rate
        |FROM documents d JOIN r USING (lang)
        |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
        |        AS BIGINT) / 4294967296.0
        |      < r.rate
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q86_budget" ->
      """WITH c AS (
        |  SELECT source, doc_id, n_chars,
        |    SUM(n_chars) OVER (ORDER BY n_chars DESC, doc_id
        |                       ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM documents
        |)
        |SELECT source, COUNT(*) AS n_kept,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM c WHERE cum <= 75000 GROUP BY 1 ORDER BY 1""".stripMargin,
    "q87_outliers" ->
      """WITH v AS (
        |  SELECT event_type, event_id, value FROM events
        |  WHERE value IS NOT NULL
        |), r AS (
        |  SELECT event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM v
        |), med AS (
        |  SELECT event_type, value AS med FROM r
        |  WHERE rn = CAST(CEIL(n / 2.0) AS BIGINT)
        |), dev AS (
        |  SELECT v.event_type, v.event_id, ABS(v.value - m.med) AS dv, m.med
        |  FROM v JOIN med m USING (event_type)
        |), r2 AS (
        |  SELECT event_type, dv,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dv) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM dev
        |), mad AS (
        |  SELECT event_type, dv AS mad FROM r2
        |  WHERE rn = CAST(CEIL(n / 2.0) AS BIGINT)
        |)
        |SELECT d.event_type, ROUND(MAX(d.med), 6) AS med,
        |  ROUND(MAX(m.mad), 6) AS mad,
        |  COUNT(*) FILTER (WHERE d.dv > 3 * m.mad) AS n_out,
        |  CAST(SUM(d.event_id) FILTER (WHERE d.dv > 3 * m.mad) AS BIGINT)
        |    AS out_ids
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_rrf" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |  FROM documents
        |), dl AS (SELECT doc_id, len(toks) AS dl FROM base),
        |stats AS (SELECT AVG(dl) AS avgdl, COUNT(*) AS n_docs FROM dl),
        |tok AS (SELECT doc_id, unnest(toks) AS term FROM base),
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM tok
        |  WHERE term IN ('table', 'scan', 'join') GROUP BY 1, 2
        |), dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT tf.doc_id,
        |    ROUND(SUM(
        |      ln(1.0 + (stats.n_docs - dfx.df + 0.5) / (dfx.df + 0.5)) *
        |      tf.tf * (1.2 + 1.0) /
        |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))
        |    ), 6) AS score
        |  FROM tf JOIN dfx USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        |  GROUP BY 1
        |), bmr AS (
        |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r
        |  FROM scored QUALIFY r <= 50
        |), cosd AS (
        |  SELECT e.vec_id AS doc_id,
        |    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6)
        |      AS cos
        |  FROM embeddings e,
        |    (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
        |     WHERE vec_id = 0) q
        |  WHERE e.vec_id <> 0
        |), cr AS (
        |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS r
        |  FROM cosd QUALIFY r <= 50
        |), u AS (
        |  SELECT doc_id, r FROM bmr UNION ALL SELECT doc_id, r FROM cr
        |)
        |SELECT doc_id, ROUND(SUM(CAST(1.0 AS DOUBLE) / (60 + r)), 9) AS rrf,
        |  COUNT(*) AS n_lists
        |FROM u GROUP BY 1 ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,
    "hybrid_index_search" -> (duckBm25Scored +
      """, bmr AS (
        |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r
        |  FROM scored QUALIFY r <= 50
        |), cosd AS (
        |  SELECT e.vec_id AS doc_id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS cos
        |  FROM embeddings e,
        |    (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
        |     WHERE vec_id = 0) q
        |  WHERE e.vec_id <> 0
        |), cr AS (
        |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS r
        |  FROM cosd QUALIFY r <= 50
        |), u AS (
        |  SELECT doc_id, r FROM bmr UNION ALL SELECT doc_id, r FROM cr
        |)
        |SELECT doc_id, ROUND(SUM(CAST(1.0 AS DOUBLE) / (60 + r)), 9) AS rrf,
        |  COUNT(*) AS n_lists
        |FROM u GROUP BY 1 ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin),
    "q91_attrition" ->
      """SELECT COALESCE(CASE
        |    WHEN NOT COALESCE(strlen(text) > 0, FALSE) THEN 'nonempty'
        |    WHEN NOT COALESCE(lang = 'en', FALSE) THEN 'lang_en'
        |    WHEN NOT COALESCE(n_chars BETWEEN 150 AND 1500, FALSE)
        |      THEN 'len_band'
        |    WHEN NOT COALESCE(len(list_filter(string_split(text, ' '),
        |      t -> t <> '')) >= 30, FALSE) THEN 'min_tokens'
        |  END, 'survived') AS bucket,
        |  COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q92_project" ->
      """WITH tall AS (
        |  SELECT vec_id, CAST(i - 1 AS INT) AS i,
        |    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS qv
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
        |), pr AS (
        |  SELECT vec_id, jj.j,
        |    SUM(qv * CASE WHEN substr(md5(concat(CAST(i AS VARCHAR), ':',
        |                                         CAST(jj.j AS VARCHAR))), 1, 1)
        |                       < '8'
        |             THEN 1 ELSE -1 END) AS p
        |  FROM tall CROSS JOIN
        |    (SELECT CAST(unnest(generate_series(0, 7)) AS INT) AS j) jj
        |  GROUP BY 1, 2
        |)
        |SELECT vec_id, j, CAST(p AS BIGINT) AS p FROM pr
        |ORDER BY 1, 2""".stripMargin,
    "stream_timer" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |), b AS (
        |  SELECT user_id, tus,
        |    CASE WHEN LAG(tus) OVER w IS NULL
        |           OR tus - LAG(tus) OVER w >= 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)
        |), g AS (
        |  SELECT user_id, tus,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY tus
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM b
        |), sess AS (
        |  SELECT user_id, MIN(tus) AS stus, MAX(tus) AS etus,
        |    COUNT(*) AS n,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY MIN(tus) DESC) AS rdesc
        |  FROM g GROUP BY user_id, sid
        |)
        |SELECT user_id, stus // 1000000 AS ss, etus // 1000000 AS se,
        |  CAST(n AS BIGINT) AS n
        |FROM sess WHERE rdesc > 1 ORDER BY user_id, ss""".stripMargin,
    "q97_exists" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 400000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |                  WHERE o2.o_custkey = c.c_custkey
        |                    AND o2.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    "q98_setops_all" ->
      """WITH ia AS (
        |  SELECT l_quantity AS q FROM lineitem WHERE l_returnflag = 'A'
        |  INTERSECT ALL
        |  SELECT l_quantity FROM lineitem WHERE l_returnflag = 'R'
        |), ea AS (
        |  SELECT l_quantity AS q FROM lineitem WHERE l_returnflag = 'A'
        |  EXCEPT ALL
        |  SELECT l_quantity FROM lineitem WHERE l_returnflag = 'R'
        |)
        |SELECT 'intersect_all' AS op, COUNT(*) AS n,
        |  CAST(SUM(q) AS BIGINT) AS qsum FROM ia
        |UNION ALL
        |SELECT 'except_all' AS op, COUNT(*) AS n,
        |  CAST(SUM(q) AS BIGINT) AS qsum FROM ea
        |ORDER BY op""".stripMargin,
    "q100_nullsafe" ->
      """WITH ev AS (
        |  SELECT CASE WHEN value < 1.0 THEN NULL
        |              ELSE CAST(FLOOR(value / 100.0) AS BIGINT) END AS k,
        |    event_id
        |  FROM events
        |), dim(k, label) AS (
        |  VALUES (NULL, 'missing'), (0, 'low'), (2, 'mid'), (4, 'high')
        |)
        |SELECT d.label, COUNT(*) AS n,
        |  CAST(SUM(ev.event_id) AS BIGINT) AS id_sum
        |FROM ev JOIN dim d ON ev.k IS NOT DISTINCT FROM d.k
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q101_variant" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
        |    AS ksum,
        |  MIN(CAST(json_extract(props, '$.k') AS INT)) AS kmin,
        |  MAX(CAST(json_extract(props, '$.k') AS INT)) AS kmax
        |FROM events WHERE props IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q99_recursive" ->
      """WITH RECURSIVE reach(v, d) AS (
        |  SELECT CAST(0 AS BIGINT) AS v, 0 AS d
        |  UNION ALL
        |  SELECT e.dst, r.d + 1
        |  FROM reach r
        |  JOIN (SELECT DISTINCT o_custkey % 50 AS src,
        |               o_orderkey % 50 AS dst FROM orders) e
        |    ON e.src = r.v
        |  WHERE r.d < 3
        |)
        |SELECT v, CAST(MIN(d) AS INT) AS d, COUNT(*) AS paths
        |FROM reach GROUP BY v ORDER BY v""".stripMargin,
    "q_series_topk" -> duckSeriesTopk,
    // exactly-once incremental folding == one-shot GROUP BY (integral
    // monoids are exact at any batch split); the stream form shares the
    // oracle because arrival form cannot change exact aggregates
    "q102_sql_udf" ->
      """SELECT flag, l_linestatus, rev FROM (
        |  SELECT l_returnflag AS flag, l_linestatus,
        |    ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS rev
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1, 2
        |) ORDER BY flag, l_linestatus""".stripMargin,
    "q_incr_agg" -> duckIncrAgg,
    "stream_incr_agg" -> duckIncrAgg,
    // zone-map pruning is conservative and the exact predicate is
    // re-applied on read, so the pruned scan oracles as the plain filter
    "q_zonemap_scan" ->
      """SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS v
        |FROM events WHERE value BETWEEN 100 AND 200
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_zonemap_maintain" ->
      """SELECT user_id, COUNT(*) AS n, ROUND(SUM(value), 2) AS v
        |FROM events WHERE user_id BETWEEN 10 AND 40
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // compaction is a pure relayout and pruning conservative, so the
    // compact + re-sort + zone-pruned scan oracles as the plain filter
    "q_compact" ->
      """SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS v
        |FROM events WHERE user_id BETWEEN 50 AND 80
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the composed pipeline replays stage-by-stage as one CTE chain:
    // every stage is hash-reproducible (md5 weights, 6-dp rates,
    // unique sort keys), so per-shard integer sums pin the whole run
    "q_pipeline" ->
      """WITH clean AS (
        |  SELECT doc_id, text, lang FROM documents WHERE n_chars >= 150),
        |kept AS (SELECT MIN(doc_id) AS doc_id FROM clean GROUP BY text),
        |surv AS (SELECT c.doc_id, c.lang FROM clean c JOIN kept USING (doc_id)),
        |cnt AS (SELECT lang, COUNT(*) AS n FROM surv GROUP BY 1),
        |rt AS (SELECT lang, ROUND(POWER(CAST(n AS DOUBLE)
        |         / (SELECT MIN(n) FROM cnt), -0.5), 6) AS rate FROM cnt),
        |mixed AS (
        |  SELECT s.doc_id FROM surv s JOIN rt USING (lang)
        |  WHERE CAST(('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 8))
        |          AS BIGINT) / 4294967296.0 < rt.rate),
        |ids AS (SELECT doc_id,
        |          ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS gid FROM mixed),
        |w AS (SELECT doc_id, gid, s,
        |        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |          CAST(s AS VARCHAR)), 1, 8)) AS BIGINT) AS wt
        |      FROM ids CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s)),
        |pick AS (SELECT doc_id, gid, CAST(s AS INT) AS shard,
        |           ROW_NUMBER() OVER (PARTITION BY doc_id
        |                              ORDER BY wt DESC, s DESC) AS rn
        |         FROM w)
        |SELECT shard, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum,
        |  CAST(SUM(gid) AS BIGINT) AS gid_sum
        |FROM pick WHERE rn = 1 GROUP BY shard ORDER BY shard""".stripMargin,
    // blooms have no false negatives and the equality predicate
    // re-applies on read, so the bloom-pruned lookup oracles as the
    // plain point filter
    "q_bloommap" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events WHERE event_id = 123 ORDER BY event_id""".stripMargin,
    // the wave union is the whole table and the pruned scan re-applies
    // the exact predicate, so the streamed zone-map ingest oracles as
    // the plain filter over events
    "stream_zonemap" ->
      """SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS v
        |FROM events WHERE user_id BETWEEN 20 AND 60
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the relayout is row-preserving and pruning conservative, so the
    // z-ordered + zone-pruned scan oracles as the plain two-band filter
    "layout_zorder" ->
      """SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS v
        |FROM events
        |WHERE value BETWEEN 200 AND 600 AND user_id BETWEEN 5 AND 25
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_zorder_key" -> duckZorderKey) ++ OraclesExt.sql
}
