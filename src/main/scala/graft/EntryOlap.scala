package graft

import graft.functions.MonoidAggregator
import graft.operators.{AsOfJoin, Dedup, DedupIndex, Graph, Indexing, Ingest, Multimodal, Packing, Pq, RangeJoin, Resample, Sampling, Similarity, TextAnalysis}
import graft.sources.Crawl
import graft.streaming.EventStreams
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Core relational query bodies of the [[SparkEntry]] registry —
  * aggregates, joins, windows, set ops, reshaping — split from
  * SparkEntry.scala so the registry file stays reviewable. Every body is
  * byte-identical to its pre-split form; RegistrySpec's count and
  * key-parity pins certify the move.
  */
private[graft] object EntryOlap {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private[graft] def q01(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem").agg(
      round(sum("l_quantity"), 1).as("s"), count(lit(1)).as("c"))

  private[graft] def q02(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("rev"),
        round(sum("l_quantity"), 1).as("sum_qty"),
        count(lit(1)).as("c"))
      .orderBy("l_returnflag", "l_linestatus")

  private[graft] def q03(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders")
    val c = t(s, d, "customer")
    val n = t(s, d, "nation")
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(round(sum("o_totalprice"), 2).as("tot"), count(lit(1)).as("c"))
      .orderBy("n_name")
  }

  private[graft] def q04(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey")
      .orderBy("c_custkey")

  private[graft] def q05(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"), row_number().over(w).as("rnk"))
      .filter(col("rnk") <= 3)
      .orderBy("o_custkey", "rnk")
  }

  private[graft] def q06(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(10)
      .select(col("l_orderkey"), col("l_linenumber"), round(col("l_extendedprice"), 2).as("p"))

  private[graft] def q07(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer").select(col("c_custkey").as("k"))
      .intersect(t(s, d, "orders").select(col("o_custkey").as("k")))
      .orderBy("k")

  private[graft] def q08(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .filter(col("ts") >= lit("2024-01-15").cast("timestamp"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("c"), round(sum("value"), 2).as("v"))
      .orderBy("event_type")

  private[graft] def q09(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("h"))
      .agg(count(lit(1)).as("c"))
      .orderBy("h")

  private[graft] def q10(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      // from_json with a single-field schema, not get_json_object: the
      // JacksonParser skips non-matching fields and reuses the parser per
      // partition, where the JSON-path evaluator re-tokenizes per row.
      .groupBy((from_json(col("props"), lit("k string")).getField("k")
        .cast("long") % 10).as("kb"))
      .agg(count(lit(1)).as("c"))
      .orderBy("kb")

  private[graft] def q11(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .groupBy("lang")
      .agg(countDistinct("source").as("ds"), sum("n_chars").as("ch"))
      .orderBy("lang")

  private[graft] def q12(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("text")
    t(s, d, "documents")
      .select(col("doc_id"), col("text"), count(lit(1)).over(w).as("cnt"))
      .filter(col("cnt") > 1)
      .select("doc_id", "text")
      .orderBy("doc_id")
  }

  private[graft] def q13(s: SparkSession, d: String): DataFrame =
    Similarity.bruteForceTopK(t(s, d, "embeddings"), "vec_id", "embedding", Seq(0L), 1)
      .select(col("neighbor_id").as("vec_id"))

  private[graft] def q14(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token")
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token").asc)
      .limit(20)

  /** Reference-parity crawl (SURVEY §2.3 Q15): recursive JSON crawl of the
    * reference's own fixture tree; golden result 300 (`cmd/app/app.go:54`).
    */
  private[graft] def q15(s: SparkSession, d: String): DataFrame =
    Crawl.crawlRaw(s, referenceTests,
        StructType(Seq(StructField("data", LongType))))
      .agg(sum("data").as("s"))

  /** The reference's demo fixture tree as the repository commits it,
    * `src/test/resources/reference/tests`, in the nearest directory
    * above the engine's classes that holds it: the repository they were
    * built in, whether the mains run from `target/scala-2.13/classes` or
    * from a copy sbt made under `target`. Elsewhere, relative to the
    * working directory.
    */
  private[graft] lazy val referenceTests: String = {
    val tree = "src/test/resources/reference/tests"
    val classes = java.nio.file.Paths.get(
      getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    Iterator.iterate(classes)(_.getParent).takeWhile(_ != null)
      .map(_.resolve(tree)).find(java.nio.file.Files.isDirectory(_))
      .getOrElse(java.nio.file.Paths.get(tree).toAbsolutePath).toString
  }

  /** Typed monoid aggregation through the MonoidAggregator kernel (O3+O4). */
  private[graft] def q16(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val agg = MonoidAggregator.sumDouble[Double](identity)
    t(s, d, "lineitem").select(col("l_quantity")).as[Double]
      .select(agg.column.name("sq"))
      .select(round(col("sq"), 1).as("s"))
  }

  private[graft] def q17(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 1).as("qty"), count(lit(1)).as("c"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("qty"), col("c"))
      .orderBy("rf", "ls")

  private[graft] def q18(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(round(sum("o_totalprice"), 2).as("tot"), count(lit(1)).as("c"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
        col("tot"), col("c"))
      .orderBy("st", "pri")

  private[graft] def q19(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer").select(col("c_nationkey").cast("int").as("k"))
      .except(t(s, d, "supplier").select(col("s_nationkey").cast("int").as("k")))
      .orderBy("k")

  private[graft] def q20(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .select(
        col("o_orderkey"),
        upper(col("o_orderstatus")).as("st"),
        substring(col("o_orderpriority"), 1, 3).as("pri"),
        year(col("o_orderdate")).cast("long").as("yr"),
        // floor, not round: /100 of 2-decimal prices systematically lands on
        // .xx5 boundaries where Spark (decimal-string HALF_UP) and other
        // engines (binary) round differently; floor is binary-exact.
        floor(abs(col("o_totalprice")) / 100.0).cast("long").as("hundredths"),
        concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("tag"))
      .orderBy("o_orderkey")
      .limit(100)

  private[graft] def q21(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("c"))
      .select(unix_timestamp(col("window.start")).as("ws"), col("c"))
      .orderBy("ws")

  private[graft] def q22(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("ss"), col("n"))
      .orderBy("user_id", "ss")

  private[graft] def q23(s: SparkSession, d: String): DataFrame = {
    val events = t(s, d, "events").select("event_id", "user_id", "ts")
    val orders = t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
    AsOfJoin.asof(events, orders,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightVals = Seq("o_orderkey"), tieBreak = Some("o_orderkey"))
      .select("event_id", "o_orderkey")
      .orderBy("event_id")
  }

  /** Forward as-of join — the q23 fixture with direction flipped: each
    * event matched to the user's EARLIEST order at or after it (the
    * "next action after the event" query shape); ties at the matched
    * date resolve to the greatest orderkey, same convention as q23.
    */
  private[graft] def q104(s: SparkSession, d: String): DataFrame = {
    val events = t(s, d, "events").select("event_id", "user_id", "ts")
    val orders = t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
    AsOfJoin.asof(events, orders,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightVals = Seq("o_orderkey"), tieBreak = Some("o_orderkey"),
        direction = "forward")
      .select("event_id", "o_orderkey")
      .orderBy("event_id")
  }

  /** Nearest as-of join — closer of the backward/forward matches per
    * event, exact distance ties going backward (the pandas merge_asof
    * convention). Distances compare as exact epoch seconds, so both
    * engines resolve every tie identically.
    */
  private[graft] def q105(s: SparkSession, d: String): DataFrame = {
    val events = t(s, d, "events").select("event_id", "user_id", "ts")
    val orders = t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
    AsOfJoin.asof(events, orders,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightVals = Seq("o_orderkey"), tieBreak = Some("o_orderkey"),
        direction = "nearest")
      .select("event_id", "o_orderkey")
      .orderBy("event_id")
  }

  /** Skew-safe as-of join (segmented prefix scan over month buckets) —
    * same semantics and oracle as q23, exercising the hot-key escape
    * hatch end-to-end.
    */
  private[graft] def q45(s: SparkSession, d: String): DataFrame = {
    val events = t(s, d, "events").select("event_id", "user_id", "ts")
    val orders = t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
    AsOfJoin.asofBucketed(events, orders,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightVals = Seq("o_orderkey"),
        bucketOf = c => date_trunc("month", c),
        tieBreak = Some("o_orderkey"))
      .select("event_id", "o_orderkey")
      .orderBy("event_id")
  }

  private[graft] def q24(s: SparkSession, d: String): DataFrame = {
    val bands = s.createDataFrame(Seq(
      (0.0, 50.0, "low"), (50.0, 150.0, "mid"), (150.0, 1e9, "high")))
      .toDF("lo", "hi", "band")
    RangeJoin.banded(t(s, d, "events"), bands, "value", "lo", "hi")
      .groupBy("band")
      .agg(count(lit(1)).as("c"), round(sum("value"), 2).as("v"))
      .orderBy("band")
  }

  private[graft] def q26(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum("o_totalprice").over(w), 2).as("run"))
      .orderBy("o_custkey", "o_orderkey")
  }

  private[graft] def q27(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    t(s, d, "events")
      .select(col("event_id"),
        round(col("value") - lag("value", 1).over(w), 2).as("dv"))
      .orderBy("event_id")
  }

  private[graft] def q25(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey")
      .orderBy("c_custkey")

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  private[graft] def q28(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .groupBy(hour(col("ts")).cast("long").as("hr"))
      .pivot("event_type", eventTypes)
      .agg(count(lit(1)))
      .select(col("hr") +: eventTypes.map(e => coalesce(col(e), lit(0L)).as(e)): _*)
      .orderBy("hr")

  private[graft] def q29(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy("o_orderstatus")
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90"))
      .orderBy("o_orderstatus")

  /** Statistical aggregates: sample stddev/variance, correlation,
    * covariance — the moments a data-quality pass computes per slice.
    */
  private[graft] def q30(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(stddev_samp("l_extendedprice"), 2).as("sd_price"),
        round(var_samp("l_quantity"), 2).as("var_qty"),
        round(corr("l_quantity", "l_extendedprice"), 4).as("cr"),
        round(covar_samp("l_quantity", "l_extendedprice"), 2).as("cv"))
      .orderBy("l_returnflag")

  /** Correlated scalar subquery — Catalyst decorrelates it into an outer
    * join + aggregate rather than executing per-row.
    */
  private[graft] def q31(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT c_custkey,
        |  (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey)
        |    AS n_orders
        |FROM customer c ORDER BY c_custkey""".stripMargin)
  }

  /** Ordered string aggregation (listagg/string_agg shape): collect_list
    * sorted before concat so the result is deterministic under any
    * partitioning.
    */
  private[graft] def q32(s: SparkSession, d: String): DataFrame =
    t(s, d, "nation")
      .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(
        concat_ws(",", array_sort(collect_list(col("n_name")))).as("names"),
        count(lit(1)).as("c"))
      .orderBy("r_name")

  /** SQL front door: the same declared surface through spark.sql over
    * registered views.
    */
  private[graft] def q33(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT n_name, ROUND(SUM(o_totalprice), 2) AS tot, COUNT(*) AS c
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin)
  }

  private[graft] def q34(s: SparkSession, d: String): DataFrame = {
    val toks = split(col("text"), " ")
    t(s, d, "documents")
      .select(
        col("doc_id"),
        size(toks).as("n_tok"),
        array_contains(toks, "spark").cast("int").as("has_spark"),
        concat_ws("|", slice(toks, 1, 3)).as("head3"),
        element_at(toks, -1).as("last_tok"),
        size(array_distinct(toks)).as("n_distinct"))
      .orderBy("doc_id")
  }

  /** Same result as q05 (top-3 orders per customer) through the bounded
    * top-k aggregator instead of a window rank — at scale the exchange
    * carries ≤ k rows per (key, partition) instead of every row.
    */
  private[graft] def q40(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ord = Ordering.by[SparkEntry.Ord, (Double, Long)](o => (o.o_totalprice, -o.o_orderkey))
    val agg = graft.functions.TopKAggregator[SparkEntry.Ord](3, ord)
    t(s, d, "orders")
      .select("o_custkey", "o_totalprice", "o_orderkey").as[SparkEntry.Ord]
      .groupByKey(_.o_custkey)
      .agg(agg.toColumn.name("top"))
      .toDF("o_custkey", "top")
      .select(col("o_custkey"), posexplode(col("top")))
      .select(col("o_custkey"), col("col.o_orderkey").as("o_orderkey"),
        (col("pos") + 1).cast("int").as("rnk"))
      .orderBy("o_custkey", "rnk")
  }

  private[graft] def q35(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer").select(col("c_nationkey").cast("int").as("k"))
      .unionAll(t(s, d, "supplier").select(col("s_nationkey").cast("int").as("k")))
      .groupBy("k")
      .agg(count(lit(1)).as("c"))
      .orderBy("k")

  private[graft] def q36(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("lag_days"))
      .orderBy("l_orderkey", "l_linenumber")

  private[graft] def q37(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .select(col("event_id"),
        from_json(col("props"), lit("map<string,string>")).as("m"))
      .select(col("event_id"),
        // try_element_at, not element_at: under ANSI mode the latter throws
        // MAP_KEY_DOES_NOT_EXIST on a props blob without 'k', while the
        // DuckDB oracle's json_extract_string returns NULL.
        try_element_at(col("m"), lit("k")).cast("long").as("kv"),
        size(map_keys(col("m"))).as("nk"))
      .orderBy("event_id")

  private[graft] def q38(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy(unix_timestamp(date_trunc("month", col("o_orderdate"))).as("mo"))
      .agg(round(sum("o_totalprice"), 2).as("tot"), count(lit(1)).as("c"))
      .orderBy("mo")

  private[graft] def q39(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .select(
        col("c_custkey"),
        trim(lower(col("c_name"))).as("lname"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("padded"),
        regexp_replace(col("c_name"), "[0-9]", "#").as("masked"),
        length(col("c_name")).as("len"),
        reverse(col("c_mktsegment")).as("rseg"))
      .orderBy("c_custkey")
      .limit(200)

  /** Argmin/argmax aggregates anchored on the unique order key (the
    * fixture has duplicate totalprices within a status group, so anchoring
    * on a non-unique column would be nondeterministic).
    */
  private[graft] def q41(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy("o_orderstatus")
      .agg(
        max_by(col("o_orderdate"), col("o_orderkey")).as("latest_key_date"),
        min_by(col("o_orderdate"), col("o_orderkey")).as("first_key_date"),
        round(max("o_totalprice"), 2).as("max_price"))
      .orderBy("o_orderstatus")

  /** Conditional aggregation (FILTER clause shape): count_if + filtered
    * sum/avg in one pass over the fact table.
    */
  private[graft] def q42(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .groupBy("event_type")
      .agg(
        expr("count_if(value > 100.0)").as("n_big"),
        round(sum(when(col("value") > 100.0, col("value"))), 2).as("v_big"),
        // sum, not avg: events.value has 2 decimals, so an average lands
        // on .xx5 round() boundaries (Spark HALF_UP vs DuckDB binary)
        round(sum(when(col("value") <= 100.0, col("value"))), 2).as("v_small"))
      .orderBy("event_type")

  /** Regex group extraction + null handling scalars. */
  private[graft] def q43(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .select(
        col("c_custkey"),
        regexp_extract(col("c_name"), "Customer#(\\d+)", 1).cast("long").as("cnum"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("OTHER")).as("seg"),
        when(col("c_acctbal") < 0, lit("debt")).otherwise(lit("credit")).as("standing"))
      .orderBy("c_custkey")
      .limit(300)

  /** LIKE-pattern scan + aggregation over the parts dimension. */
  private[graft] def q44(s: SparkSession, d: String): DataFrame =
    t(s, d, "part")
      .filter(col("p_type").like("%ECO%") || col("p_name").like("red%"))
      .groupBy("p_brand")
      // sum, not avg: an average of 2-decimal prices lands exactly on
      // .xx5 round() boundaries where Spark (decimal-string HALF_UP) and
      // DuckDB (binary) disagree; a sum of 2-decimal values never does.
      .agg(count(lit(1)).as("c"),
        round(sum("p_retailprice"), 2).as("sum_price"),
        max("p_size").cast("long").as("max_size"))
      .orderBy("p_brand")

  // --------------------------------------------------------------- dedup --











  // ---------------------------------------------------------- similarity --






  // ----------------------------------------------------------------- text --






  /** Correlated LATERAL subquery — per-order top-2 lineitems through
    * Catalyst's lateral-join decorrelation (a different planner path than
    * the window-rank form of the same question).
    */
  private[graft] def q49(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT o.o_orderkey, l.l_linenumber, l.p
        |FROM orders o,
        |LATERAL (
        |  SELECT l_linenumber, ROUND(l_extendedprice, 2) AS p
        |  FROM lineitem
        |  WHERE l_orderkey = o.o_orderkey
        |  ORDER BY l_extendedprice DESC, l_linenumber
        |  LIMIT 2
        |) l
        |WHERE o.o_orderkey < 200
        |ORDER BY o.o_orderkey, l.p DESC, l.l_linenumber""".stripMargin)
  }

  /** Explicit GROUPING SETS (an irregular set neither rollup nor cube
    * generates) with grouping_id disambiguating which set each row came
    * from — the last member of the grouping-analytics family.
    */
  private[graft] def q51(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q, COUNT(*) AS c
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)
  }

  /** Group-aware split: the split key is the doc's SOURCE, so every doc of
    * a source lands in one split (no near-dup leakage across train/val).
    * `crossing` certifies the invariant inside the query itself — sources
    * appearing in more than one split, which must be 0.
    */
  private[graft] def q52(s: SparkSession, d: String): DataFrame = {
    val split = Sampling.hashSplit(t(s, d, "documents"), "source", 0.5)
    val perSource = split.groupBy("source")
      .agg(countDistinct(col("split")).as("nsplits"), count(lit(1)).as("ndocs"),
        min(col("split")).as("split"))
    perSource.groupBy("split")
      .agg(count(lit(1)).as("n_sources"),
        sum(col("ndocs")).as("n_docs"),
        sum(when(col("nsplits") > 1, 1L).otherwise(0L)).as("crossing"))
      .orderBy("split")
  }

  /** Per-domain cap: keep the 5 longest docs per source (doc_id breaks
    * ties), the anti-domination filter of a crawl pipeline.
    */
  private[graft] def q53(s: SparkSession, d: String): DataFrame =
    Sampling.capPerGroup(t(s, d, "documents"), "source", 5,
        Seq(col("n_chars").desc, col("doc_id").asc))
      .select(col("source"), col("doc_id"), col("n_chars"))
      .orderBy("source", "doc_id")

  /** Daily order counts per priority, resampled onto the dense day grid of
    * the table's full span — gap days appear as explicit zeros. The day
    * serializes as an ISO string: a DATE-typed result column round-trips
    * through parquet as a python date object while the oracle side yields
    * datetime64, and the comparator treats those as unequal dtypes.
    */
  private[graft] def q54(s: SparkSession, d: String): DataFrame =
    Resample.dailyCounts(t(s, d, "orders"), "o_orderpriority", "o_orderdate")
      .select(col("o_orderpriority"),
        date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"))
      .orderBy("o_orderpriority", "day")

  /** Per-user EWMA (α = 0.3) of event values in (ts, event_id) order for
    * the first 5 users. The recurrence applies identical IEEE ops in an
    * identical order in both engines, so even the unrounded doubles are
    * bit-equal; rounded to 6 for the usual display-stability reasons.
    */
  private[graft] def q77(s: SparkSession, d: String): DataFrame =
    Resample.ewma(t(s, d, "events").filter(col("user_id") < 5),
        "user_id", "ts", "value", alpha = 0.3, tieCols = Seq("event_id"))
      .select(col("user_id"), col("event_id"), round(col("ewma"), 6).as("ewma"))
      .orderBy("user_id", "event_id")

  /** Full outer join: nations' high-balance customer counts vs their
    * high-balance supplier counts; each filter leaves nations the other
    * side lacks, so both null wings are exercised. Nulls survive to the
    * output (coalesce would hide the join semantics being tested).
    */
  private[graft] def q55(s: SparkSession, d: String): DataFrame = {
    val cust = t(s, d, "customer").filter(col("c_acctbal") > 9900)
      .groupBy(col("c_nationkey").as("nk")).agg(count(lit(1)).as("n_cust"))
    val supp = t(s, d, "supplier").filter(col("s_acctbal") > 9000)
      .groupBy(col("s_nationkey").as("nk")).agg(count(lit(1)).as("n_supp"))
    cust.join(supp, Seq("nk"), "full_outer")
      .select(col("nk").cast("int").as("nk"), col("n_cust"), col("n_supp"))
      .orderBy("nk")
  }


  /** Time-RANGE window frame (not ROWS): per user, how many events and how
    * much floor(value) landed in the trailing hour of each event. The
    * trailing-window rate signal; integer-exact aggregates (count +
    * floored sum) so frame-internal summation order cannot matter. The
    * oracle must FLOOR(epoch(ts)) — a bare CAST to BIGINT rounds
    * half-up there, while `unix_timestamp` floors, and a 1-second uts
    * disagreement shifts frame membership at the 3600 s boundary.
    */
  private[graft] def q56(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("uts"))
      .rangeBetween(-3600L, 0L)
    t(s, d, "events")
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("uts"), col("value"))
      .select(col("event_id"),
        count(lit(1)).over(w).as("n_1h"),
        sum(floor(col("value")).cast("long")).over(w).as("f_1h"))
      .orderBy("event_id")
  }

  /** Stratified downsample: keep half the dominant language, a quarter of
    * everything else; per-lang survivor stats. The oracle re-derives the
    * per-stratum keep rule from md5 hex prefixes ('8' = 0.5, '4' = 0.25
    * of the keyspace).
    */
  private[graft] def q57(s: SparkSession, d: String): DataFrame =
    Sampling.stratifiedSample(t(s, d, "documents"), "doc_id", "lang",
        Map("en" -> 0.5), defaultFrac = 0.25)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .orderBy("lang")

  /** Per-label embedding centroids in tall (label, idx) form — the class-
    * centroid aggregation of a quantizer/cluster-summary pipeline.
    */
  private[graft] def q58(s: SparkSession, d: String): DataFrame =
    Similarity.labelCentroids(t(s, d, "embeddings"), "label", "embedding")
      .select(col("label"), col("idx"),
        round(col("mean"), 6).as("mean"), col("n"))
      .orderBy("label", "idx")

  /** Deterministic MODE: most frequent quantity per return flag. Native
    * `mode()` leaves ties engine-defined, so the query derives it from
    * counts with an explicit (count desc, value asc) tie-break — the only
    * form two engines can agree on.
    */
  private[graft] def q59(s: SparkSession, d: String): DataFrame = {
    val counts = t(s, d, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
      .groupBy("l_returnflag", "q").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("c").desc, col("q").asc)
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("q").as("mode_qty"), col("c").as("n"))
      .orderBy("l_returnflag")
  }

  /** Equal-width histogram of order totals (50k buckets): bucket id from
    * floor division — no bucket-boundary function needed, identical
    * arithmetic in any engine.
    */
  private[graft] def q60(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .select(floor(col("o_totalprice") / 50000.0).cast("long").as("bucket"),
        col("o_totalprice"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        round(min(col("o_totalprice")), 2).as("lo"),
        round(max(col("o_totalprice")), 2).as("hi"))
      .orderBy("bucket")

  /** Int8 scalar quantization of the embedding corpus: per-dimension code
    * range, reconstruction MSE and worst-case error — the compression
    * quality report of an ANN index build. floor-binning keeps every
    * arithmetic step engine-identical; MSE rounds at 1e-8 (summation-order
    * noise is ~1e-18).
    */
  /** Per-dimension z-score standardization: the first 5 vectors' full
    * standardized values (rounded) pin the corpus mean/std of every
    * dimension and the narrow rebuild-by-index projection.
    */
  private[graft] def q75(s: SparkSession, d: String): DataFrame =
    Similarity.standardize(t(s, d, "embeddings"), "vec_id", "embedding")
      .filter(col("vid") < 5)
      .select(col("vid").as("vec_id"),
        posexplode(col("zvec")).as(Seq("idx", "z")))
      .select(col("vec_id"), col("idx"), round(col("z"), 4).as("z"))
      .orderBy("vec_id", "idx")

  private[graft] def q61(s: SparkSession, d: String): DataFrame = {
    val levels = 256
    val codes = Similarity.scalarQuantize(t(s, d, "embeddings"), "vec_id", "embedding", levels)
    val deq = col("lo") + (col("code") + lit(0.5)) * (col("hi") - col("lo")) / lit(levels.toDouble)
    codes.select(col("idx"), col("lo"), col("hi"), col("code"),
        (col("v") - deq).as("err"))
      .groupBy("idx")
      .agg(round(min(col("lo")), 6).as("lo"), round(max(col("hi")), 6).as("hi"),
        round(avg(col("err") * col("err")), 8).as("mse"),
        round(max(abs(col("err"))), 6).as("max_abs_err"),
        countDistinct(col("code")).as("n_codes"))
      .orderBy("idx")
  }

  /** Concat-and-chunk sequence packing stats: documents sharded by
    * `doc_id % 8`, concatenated in doc_id order, cut every 512 tokens —
    * how full the training sequences are and how many docs straddle a
    * boundary. See [[graft.operators.Packing.chunkStats]].
    */
  private[graft] def q62(s: SparkSession, d: String): DataFrame =
    Packing.chunkStats(t(s, d, "documents"), "doc_id", "text",
        nShards = 8, seqLen = 512)
      .orderBy("shard")

  /** Next-fit bin packing stats: same shards, but documents are never
    * split — one that does not fit the current 512-token bin starts a new
    * bin. See [[graft.operators.Packing.nextFitStats]]; oracle replays the
    * same sequential walk as a recursive CTE.
    */
  private[graft] def q63(s: SparkSession, d: String): DataFrame =
    Packing.nextFitStats(t(s, d, "documents"), "doc_id", "text",
        nShards = 8, capacity = 512)
      .orderBy("shard")

  /** Latest-wins corpus upsert: a corrected re-crawl batch (even order
    * keys, totalprice bumped) merged into the base corpus (keys not
    * divisible by 3) — batch rows win on key collision, untouched base
    * rows survive. Aggregated per priority so the compare is compact while
    * still pinning every merged row's provenance through the sums.
    */
  private[graft] def q64(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val base = o.filter(col("o_orderkey") % 3 =!= 0)
    val batch = o.filter(col("o_orderkey") % 2 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 100000.0)
    Ingest.upsert(base, batch, Seq("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("tot"))
      .orderBy("o_orderpriority")
  }

  /** PageRank over a deterministic 40-node link graph derived from orders
    * (src = custkey % 40, dst = orderkey % 40): 3 damped rounds, dangling
    * mass dropped. The oracle replays the identical recurrence as chained
    * CTEs, so every join/aggregate round of [[graft.operators.Graph]] is
    * hash-checked.
    */
  private[graft] def q65(s: SparkSession, d: String): DataFrame = {
    val edges = t(s, d, "orders").select(
      (col("o_custkey") % 40).as("src"), (col("o_orderkey") % 40).as("dst"))
    Graph.pageRank(edges, "src", "dst", iterations = 3, damping = 0.85)
      .select(col("v"), round(col("pr"), 6).as("pr"))
      .orderBy("v")
  }

  /** Per-node triangle counts over a 500-node link graph from orders
    * (sparser than q65's 40-node one, so counts vary 85–289 instead of
    * collapsing to the complete-graph constant). The operator orients
    * edges by (degree, id) rank; the oracle does the textbook a<b<c
    * three-way self-join — identical triangle SET either way, so the hash
    * compare certifies the orientation trick is result-transparent.
    */
  private[graft] def q66(s: SparkSession, d: String): DataFrame = {
    val edges = t(s, d, "orders").select(
      (col("o_custkey") % 500).as("src"), (col("o_orderkey") % 500).as("dst"))
    Graph.triangleCounts(edges, "src", "dst").orderBy("v")
  }

  /** SCD2 change history of each sampled user's event_type: one validity
    * interval per consecutive-type run, closed by the next change
    * (epoch-micros endpoints; open interval = null). event_id rides along
    * as the in-timestamp tie-break and makes the row order unique.
    */
  private[graft] def q67(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").filter(col("user_id") % 50 === 0)
    Ingest.changeHistory(ev, Seq("user_id"), "ts",
        Seq("event_id"), Seq("event_type"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("effective_from")).as("ef"),
        unix_micros(col("effective_to")).as("et"))
      .orderBy("user_id", "ef", "event_id")
  }

  /** Point-in-time enrichment of an hourly probe grid against the q67
    * SCD2 dimension: for every sampled user and every hour of their
    * activity span, the event_type version live at that instant (null
    * before the first version) — [[Ingest.pointInTime]]: an as-of
    * backward join plus the gap check, never an interval join. `ver` is
    * the version-opening event_id, pinning WHICH version matched, not
    * just its attribute value.
    */
  private[graft] def qScd2Pit(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").filter(col("user_id") % 50 === 0)
    val dim = Ingest.changeHistory(ev, Seq("user_id"), "ts",
      Seq("event_id"), Seq("event_type"))
    val grid = ev.groupBy("user_id").agg(min("ts").as("lo"), max("ts").as("hi"))
      .select(col("user_id"), explode(sequence(
        date_trunc("hour", col("lo")), col("hi"),
        expr("interval 1 hour"))).as("at"))
    Ingest.pointInTime(grid, dim, "user_id", "at",
        Seq("event_type", "event_id"), tieBreak = Some("event_id"))
      .select(col("user_id"), unix_timestamp(col("at")).as("at_s"),
        col("event_type"), col("event_id").as("ver"))
      .orderBy("user_id", "at_s")
  }

  /** Vocabulary build (top-20 tokens by count, rank-assigned ids — the
    * fixture corpus has 31 distinct tokens, so ~1/3 of the stream is OOV
    * and the 0-mapping path is genuinely exercised) + document encoding to
    * id sequences, scalarized per doc as (length, oov count, id sum) so
    * the compare pins every token's id through the sums without shipping
    * arrays.
    */
  private[graft] def q68(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val vocab = TextAnalysis.buildVocab(docs, "text", 20)
    TextAnalysis.encode(docs, "doc_id", "text", vocab)
      .select(col("doc_id"),
        size(col("ids")).cast("long").as("n_tokens"),
        size(filter(col("ids"), x => x === 0)).cast("long").as("n_oov"),
        aggregate(col("ids"), lit(0L), (acc, x) => acc + x).as("id_sum"))
      .orderBy("doc_id")
  }

  /** Per-source winsorization of document length at the 0.9 order
    * statistic: the cap value, how many docs were clipped, and the clipped
    * total — all integer-exact because the cap is a rank-selected element,
    * never an interpolated quantile.
    */
  private[graft] def q69(s: SparkSession, d: String): DataFrame =
    Sampling.winsorize(t(s, d, "documents"), Seq("source"), "n_chars", 0.9)
      .groupBy("source")
      .agg(max(col("cap")).as("cap"),
        sum(when(col("n_chars") > col("cap"), 1L).otherwise(0L)).as("n_capped"),
        sum(col("winsorized")).as("tot"))
      .orderBy("source")

  /** Contiguous global ids over documents in (source, doc_id) order — the
    * range-shuffle + zipWithIndex two-pass, never a single-partition
    * window. The oracle is the definitionally-equivalent
    * row_number()−1 over the same total order.
    */
  private[graft] def q70(s: SparkSession, d: String): DataFrame =
    Indexing.globalIds(t(s, d, "documents"), Seq("source", "doc_id"))
      .select(col("source"), col("doc_id"), col("gid"))
      .orderBy("gid")

  /** Order-independent per-source content digest of the documents table —
    * the anti-entropy checksum two corpus replicas compare. Row order,
    * partitioning, and engine are all invisible to the sum-of-md5-prefix
    * digest, so Spark and DuckDB agree exactly.
    */
  private[graft] def q71(s: SparkSession, d: String): DataFrame =
    Ingest.tableDigest(t(s, d, "documents"), Seq("source"), Seq("doc_id", "text"))
      .orderBy("source")

  /** Column-level profile of the documents table: row/null/distinct counts
    * and min/max per column — the ingestion-validation report. Restricted
    * to int/string columns so the stringified min/max render identically
    * across engines.
    */
  private[graft] def q72(s: SparkSession, d: String): DataFrame =
    Ingest.profile(t(s, d, "documents"), Seq("doc_id", "lang", "source", "n_chars"))
      .orderBy("col_name")

  /** Quality-weighted importance sampling of documents: keep probability
    * proportional to length (n_chars/600, clamped) — per-source kept
    * counts plus the kept-id sum pin the exact kept SET, not just its
    * size, certifying the md5-threshold decision end to end.
    */
  private[graft] def q74(s: SparkSession, d: String): DataFrame =
    Sampling.importanceSample(
        t(s, d, "documents")
          .withColumn("p", col("n_chars").cast("double") / 600.0),
        "doc_id", "p")
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"))
      .orderBy("source")

  /** Deterministic negative sampling over the dense embedding id space:
    * 4 negatives per anchor for the first 20 vectors — every drawn id is
    * pinned, certifying the hash draw and the anchor-collision fix-up.
    */
  private[graft] def q84(s: SparkSession, d: String): DataFrame = {
    val n = t(s, d, "embeddings").count()
    Sampling.negativeSamples(
        t(s, d, "embeddings").filter(col("vec_id") < 20).select("vec_id"),
        "vec_id", n, k = 4)
      .orderBy("vec_id", "neg_idx")
  }

  /** Star-schema join (the TPC-H Q5 shape): fact lineitem through orders
    * → customer → nation → region with a selective region filter —
    * certifies Catalyst's join ordering and automatic broadcast of the
    * small dimensions on a 4-join chain.
    */
  private[graft] def q81(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
      .join(t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("rev"), count(lit(1)).as("c"))
      .orderBy("n_name")

  /** Gaps-and-islands: longest consecutive-day purchase streak per user
    * (rn-difference anchor grouping). Integer day arithmetic, so the
    * island boundaries are engine-exact.
    */
  private[graft] def q82(s: SparkSession, d: String): DataFrame = {
    val days = t(s, d, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    days
      .withColumn("anchor",
        date_sub(col("day"), row_number().over(w)))
      .groupBy("user_id", "anchor")
      .agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(max(col("len")).as("streak"), count(lit(1)).as("n_islands"),
        sum(col("len")).as("n_days"))
      .orderBy("user_id")
  }

  /** CDC apply: lineitem rows act as a change log over orders (latest
    * (l_shipdate, l_linenumber) per order wins; every 4th linenumber is a
    * delete), merged into the orders snapshot. Per-bucket counts and
    * value sums pin the net-effect pick, the delete filter, and the
    * pass-through of untouched keys. The synthetic lineitem duplicates a
    * few (orderkey, shipdate, linenumber) triples, so the payload columns
    * join the tie-break to make the latest-change pick engine-unique.
    */
  private[graft] def q78(s: SparkSession, d: String): DataFrame = {
    val base = t(s, d, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        col("o_totalprice").as("v"))
    val changes = t(s, d, "lineitem")
      .select(col("l_orderkey").as("k"), col("l_returnflag").as("status"),
        col("l_extendedprice").as("v"), col("l_shipdate").as("ts"),
        col("l_linenumber").as("tie"),
        when(col("l_linenumber") % 4 === 0, lit("delete"))
          .otherwise(lit("upsert")).as("op"))
    Ingest.applyChanges(base, changes, Seq("k"), "ts", "op",
        Seq("tie", "v", "status"))
      .groupBy((col("k") % 10).as("bucket"))
      .agg(count(lit(1)).as("n"), round(sum("v"), 2).as("v"))
      .orderBy("bucket")
  }

  /** Batch sessionization (30-minute gap) with the session id on every
    * row; per-session event counts and integer second spans pin both the
    * boundary rule and the running session index.
    */
  private[graft] def q79(s: SparkSession, d: String): DataFrame =
    Resample.sessionize(t(s, d, "events"), "user_id", "ts",
        gapSeconds = 1800, tieCols = Seq("event_id"))
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n"),
        (max(unix_timestamp(col("ts"))) - min(unix_timestamp(col("ts"))))
          .as("dur_s"))
      .orderBy("user_id", "session_idx")

  /** Session funnel: per user, how many 30-minute sessions exist and how
    * many convert (a purchase at-or-after the session's first click, at
    * second precision — engine-consistent on both sides). Composes
    * [[Resample.sessionize]] with a conditional-aggregation rollup:
    * certifies the session ids are usable as join/group keys, not just
    * labels.
    */
  private[graft] def q83(s: SparkSession, d: String): DataFrame =
    Resample.sessionize(t(s, d, "events"), "user_id", "ts",
        gapSeconds = 1800, tieCols = Seq("event_id"))
      .groupBy("user_id", "session_idx")
      .agg(
        min(when(col("event_type") === "click",
          unix_timestamp(col("ts")))).as("fc"),
        max(when(col("event_type") === "purchase",
          unix_timestamp(col("ts")))).as("lp"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        count(when(col("fc").isNotNull && col("lp").isNotNull &&
          col("lp") >= col("fc"), lit(1))).as("n_converted"))
      .orderBy("user_id")

  /** URL parsing (the crawl-normalization workhorse): synthesize a URL
    * per document from fixture columns, then recover host / path / one
    * query parameter with `parse_url` — certified against the oracle's
    * independent string construction.
    */
  private[graft] def q80(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"),
        concat(lit("https://"), col("source"), lit(".example.com/docs/"),
          col("doc_id").cast("string"), lit("?lang="), col("lang")).as("url"))
      .select(col("doc_id"),
        expr("parse_url(url, 'HOST')").as("host"),
        expr("parse_url(url, 'PATH')").as("path"),
        expr("parse_url(url, 'QUERY', 'lang')").as("lang"))
      .groupBy("host", "lang")
      .agg(count(lit(1)).as("n"), min(col("path")).as("p0"))
      .orderBy("host", "lang")

  /** Weighted sampling without replacement (A-ES): 5 docs per source with
    * inclusion probability ∝ n_chars. The exact kept id set per source
    * certifies the priority computation, the rounding guard, and the
    * group-limited rank cut.
    */
  private[graft] def q76(s: SparkSession, d: String): DataFrame =
    Sampling.weightedSample(t(s, d, "documents"), "doc_id", "n_chars",
        Seq("source"), k = 5)
      .select(col("source"), col("doc_id"))
      .orderBy("source", "doc_id")

  /** Snapshot diff between two derived versions of orders (drop-%3 with a
    * price bump on even keys, vs drop-%7): every status class — added /
    * removed / changed / unchanged — is populated, and the per-status
    * counts pin the full-outer classification.
    */
  private[graft] def q73(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderpriority").as("p"),
        col("o_totalprice").as("v"))
    val before = o.filter(col("k") % 7 =!= 0)
    val after = o.filter(col("k") % 3 =!= 0)
      .withColumn("v", when(col("k") % 2 === 0, col("v") + 1).otherwise(col("v")))
    Ingest.diff(before, after, Seq("k"))
      .groupBy("status").agg(count(lit(1)).as("n"))
      .orderBy("status")
  }








  /** Unpivot (melt) three measure columns into (metric, value) rows and
    * re-aggregate — the wide-to-long reshape. The oracle expresses the
    * same reshape as a UNION ALL of projections, which is what unpivot
    * desugars to in any engine.
    */
  private[graft] def q50(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .select(col("l_orderkey"),
        col("l_quantity").cast("double").as("l_quantity"),
        col("l_discount").cast("double").as("l_discount"),
        col("l_tax").cast("double").as("l_tax"))
      .unpivot(Array(col("l_orderkey")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "metric", "value")
      .groupBy("metric")
      .agg(round(sum(col("value")), 2).as("sv"), count(lit(1)).as("c"))
      .orderBy("metric")

  /** Distribution window functions in one pass — ntile, percent_rank,
    * cume_dist, nth_value over a per-segment price ordering. Ordering is
    * made total (acctbal desc, custkey) so every rank function is
    * deterministic; ratios round to 6 (see the small-int rounding rule).
    */
  private[graft] def q48(s: SparkSession, d: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    t(s, d, "customer")
      .select(col("c_mktsegment"), col("c_custkey"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"),
        nth_value(col("c_custkey"), 2).over(
          w.rowsBetween(W.unboundedPreceding, W.currentRow)).as("second_top"))
      .orderBy("c_mktsegment", "c_custkey")
  }

  /** Deterministic hash split at 0.75: counts and key ranges per split.
    * The oracle re-derives the split by comparing the md5 hex string
    * lexicographically ('c' = 0.75 of the keyspace) — hex-char order is
    * ASCII order, so the two predicates are exactly equivalent.
    */
  private[graft] def q46(s: SparkSession, d: String): DataFrame =
    Sampling.hashSplit(t(s, d, "documents"), "doc_id", 0.75)
      .groupBy("split")
      .agg(count(lit(1)).as("n"),
        min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .orderBy("split")






  /** The flagship training-corpus prep pipeline, composed from the
    * library's own operators: language-ID filter (native LangId kernel) →
    * integer-exact quality gate (n_tokens ≥ 10) → exact dedup (min-id
    * survivor per text) → deterministic hash split → per-split stats.
    * Every stage is an operator that is also oracle-certified in
    * isolation; this query certifies their composition. All filters are
    * engine-exact (string equality, integer compares, md5) so the oracle
    * keep-set is bit-identical.
    */
  private[graft] def q47(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val enriched = docs.select(
      Seq(col("doc_id"), col("text"),
        TextAnalysis.langId(col("text")).as("lang")) ++
        TextAnalysis.qualityColumns(col("text")): _*)
    val filtered = enriched.filter(col("lang") === "en" && col("n_tokens") >= 10)
    val survivors = Dedup.exact(filtered, "doc_id", Seq("text", "quality_score"))
    Sampling.hashSplit(survivors, "doc_id", 0.75)
      .groupBy("split")
      .agg(count(lit(1)).as("n"),
        min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"),
        round(avg(col("quality_score")), 3).as("avg_q"))
      .orderBy("split")
  }


  // ----------------------------------------------------------- multimodal --


}
