package graft.operators

import graft.core.MapReduce
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The relational query surface — the reference's map/shuffle/reduce
  * semantics (`lua-mapreduce-server.lua:173-183,382-388`) generalized
  * beyond word count onto the star schema.
  *
  * Scale design, per query:
  *  - filters/projections are plain Catalyst predicates → pushed into the
  *    parquet scan (`PushedFilters`/`ReadSchema`, see PLANS.md);
  *  - dimension joins are `broadcast()` (region/nation/customer-scale
  *    sides), so the 100 TB fact side never shuffles for them;
  *  - aggregations are declarative `groupBy.agg` → partial HashAggregate
  *    map-side, shuffle volume O(groups);
  *  - top-k is `orderBy.limit` → TakeOrderedAndProject (per-partition
  *    heap + driver merge of k rows), never a global sort.
  */
object Relational {

  /** q02_filter_project — selection + projection with parquet pushdown.
    * Mirrors the reference's per-record processing in `mapfn`
    * (`word-count-taskfile.lua:100-140`): a partition-local transform with
    * no shuffle at all. */
  def filterProject(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01")
        && col("l_discount") >= 0.05 && col("l_quantity") < 24)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
      .orderBy("l_orderkey", "l_linenumber")

  /** q03_join_broadcast — star join: fact `orders⋈customer` with the
    * nation/region dims broadcast; revenue per (region, nation). At scale
    * only orders⋈customer shuffles (both large, co-partitioned on the
    * join key); the dim lookups are map-side hash joins. */
  def joinBroadcast(spark: SparkSession, sfDir: String): DataFrame = {
    val orders   = Tables.orders(spark, sfDir)
    val customer = Tables.customer(spark, sfDir)
    val nation   = Tables.nation(spark, sfDir)
    val region   = Tables.region(spark, sfDir)
    orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        round(sum(col("o_totalprice")), 2).as("total_revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy("r_name", "n_name")
  }

  /** q04_agg_having — grouped aggregation with a post-aggregation filter;
    * the reference's `reducefn` (`word-count-taskfile.lua:148-151`)
    * generalized to multi-measure aggregates (TPC-H Q1 shape). */
  def aggHaving(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .filter(col("count_order") > 100)
      .orderBy("l_returnflag", "l_linestatus")

  /** q05_topk — ordered final emit (`finalfn`,
    * `word-count-taskfile.lua:91-97`) as top-k: highest-revenue customers.
    * `orderBy.limit(k)` plans TakeOrderedAndProject — no global sort. */
  def topK(spark: SparkSession, sfDir: String): DataFrame = {
    val orders   = Tables.orders(spark, sfDir)
    val customer = Tables.customer(spark, sfDir)
    orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(round(sum(col("o_totalprice")), 2).as("total_spend"))
      .orderBy(col("total_spend").desc, col("c_custkey").asc)
      .limit(10)
  }

  /** q06_distinct — group-by-key with identity reduce: the degenerate
    * MapReduce the reference's shuffle performs before any reducefn runs
    * (`lua-mapreduce-server.lua:173-183`). Shuffle-partitioned distinct. */
  def distinctKeys(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id"))
      .distinct()
      .orderBy("event_type", "user_id")

  /** q07_string_ops — the reference's string utilities
    * (`utils/utils.lua:76-109`: `split`, `starts`, `ends`) as codegen'd
    * expressions over `part`. */
  def stringOps(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .filter(startswith(col("p_name"), lit("s")) || endswith(col("p_name"), lit("t")))
      .select(
        col("p_partkey"),
        element_at(split(col("p_name"), " "), 1).as("first_word"),
        element_at(split(col("p_name"), " "), -1).as("last_word"),
        startswith(col("p_name"), lit("s")).as("starts_s"),
        endswith(col("p_name"), lit("t")).as("ends_t"),
        size(split(col("p_name"), " ")).as("n_words"))
      .orderBy("p_partkey")

  /** q08_nested_roundtrip — the reference's nested-table serialization
    * (`utils/serialize.lua:1-193`) re-expressed on Spark complex types:
    * build a nested struct, serialize to JSON, parse it back, extract.
    * The flat output equals a direct extract iff the round-trip is
    * lossless — which is what the oracle checks. */
  def nestedRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val packed = to_json(struct(
      col("event_type").as("t"),
      struct(regexp_extract(col("props"), "([0-9]+)", 1).cast("int").as("k"),
             col("user_id").as("u")).as("payload")))
    val schema = "t STRING, payload STRUCT<k: INT, u: BIGINT>"
    Tables.events(spark, sfDir)
      .select(col("event_id"), from_json(packed, org.apache.spark.sql.types.StructType.fromDDL(schema)).as("rt"))
      .select(
        col("event_id"),
        col("rt.t").as("event_type"),
        col("rt.payload.k").as("k_val"),
        col("rt.payload.u").as("user_id"))
      .orderBy("event_id")
  }

  /** q09_mapreduce_api — a second task through the four-function contract
    * (`core.MapReduce`): per-event-type value totals, with map-side
    * combine (the 100 TB path of `reducefn`). */
  def mapReduceApi(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val src = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value")).as[(String, Double)]
    MapReduce.runReduced[(String, Double), String, Double](
      src,
      rec => Iterator.single((rec._1, rec._2)),
      _ + _
    ).toDF("event_type", "total")
      .select(col("event_type"), round(col("total"), 2).as("total"))
      .orderBy("event_type")
  }

  /** q29_sql — the SQL-text entry point: the same engine consumed via
    * `spark.sql` over registered views (how a SQL-only user would run
    * it). The plan is identical to the DataFrame form — Catalyst
    * normalizes both — which is the point being demonstrated. */
  def sqlSurface(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("v_lineitem")
    Tables.orders(spark, sfDir).createOrReplaceTempView("v_orders")
    spark.sql(
      """SELECT o_orderpriority,
        |       count(*) AS n_lines,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM v_lineitem JOIN v_orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= '1996-01-01'
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  /** q36_rollup — hierarchical aggregates (GROUPING SETS surface):
    * per-(priority, status), per-priority subtotals, and the grand total
    * in one pass — Catalyst expands the grouping sets before the single
    * aggregation shuffle. */
  def rollupAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total"))
      .select(
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("n_orders"), col("total"))
      .orderBy("priority", "status")

  /** q37_pivot — wide-format aggregation: event counts pivoted into one
    * column per event type, keyed by user-id decile. The explicit value
    * list keeps the output schema static (required for a deterministic
    * oracle, and at scale avoids the extra distinct-values job). */
  def pivotCounts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("user_bucket", (col("user_id") % 10).cast("int"))
      .groupBy("user_bucket")
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_bucket")

  /** q38_percentiles — exact percentiles (linear interpolation) per
    * group. Exact percentile needs the group's values collected per
    * reducer — fine for bounded groups; unbounded cardinality at 100 TB
    * switches to `approx_percentile` (see Sketches). */
  def percentiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"))
      .orderBy("event_type")

  /** q39_stats — statistical aggregates: sample stddev/variance and
    * Pearson correlation; single-pass partial-aggregable moments. */
  def stats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_discount")), 6).as("var_disc"),
        round(corr(col("l_extendedprice"), col("l_quantity")), 4).as("corr_price_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** q40_full_outer — full outer join: per-user click vs view counts,
    * users present on either side survive with zero-filled gaps. */
  def fullOuter(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val clicks = events.filter(col("event_type") === "click")
      .groupBy(col("user_id").as("cu")).agg(count(lit(1)).as("n_clicks"))
    val views = events.filter(col("event_type") === "view")
      .groupBy(col("user_id").as("vu")).agg(count(lit(1)).as("n_views"))
    clicks.join(views, col("cu") === col("vu"), "full_outer")
      .select(
        coalesce(col("cu"), col("vu")).as("user_id"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
        coalesce(col("n_views"), lit(0L)).as("n_views"))
      .orderBy("user_id")
  }

  /** q41_setops — set algebra over user-id sets: users who click but
    * never purchase (EXCEPT) and users who do both (INTERSECT). */
  def setOps(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    def users(t: String) =
      events.filter(col("event_type") === t).select(col("user_id")).distinct()
    val clickOnly = users("click").except(users("purchase"))
      .select(col("user_id"), lit("click_no_purchase").as("segment"))
    val both = users("click").intersect(users("purchase"))
      .select(col("user_id"), lit("click_and_purchase").as("segment"))
    clickOnly.unionAll(both).orderBy("segment", "user_id")
  }

  /** q42_histogram — fixed-width value histogram (bucket = ⌊value/50⌋):
    * the single-shuffle distribution profile every pipeline dashboard
    * wants; bucket count is bounded so the aggregate state is O(1). */
  def histogram(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(floor(col("value") / 50).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n"), round(avg(col("value")), 4).as("avg_value"))
      .orderBy("bucket")

  /** q43_string_agg — ordered string aggregation: per-nation sorted
    * customer-name roster. `sort_array(collect_list(...))` keeps the
    * output deterministic; collect_list is bounded by group size (names
    * per nation), which must be considered at scale. */
  def stringAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = Tables.customer(spark, sfDir)
    val nation = Tables.nation(spark, sfDir)
    customer
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .filter(col("c_acctbal") > 9000.0)
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_rich"),
        concat_ws(",", sort_array(collect_list(col("c_name")))).as("roster"))
      .orderBy("n_name")
  }

  /** q44_dates — temporal function surface: year/month extraction,
    * month truncation, and day arithmetic over the orders timeline. */
  def dates(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        datediff(col("o_orderdate"), lit("1995-01-01")).as("days_since_epoch"),
        col("o_totalprice"))
      .groupBy("yr", "mo")
      .agg(
        count(lit(1)).as("n_orders"),
        min(col("days_since_epoch")).as("first_day"),
        max(col("days_since_epoch")).as("last_day"),
        round(sum(col("o_totalprice")), 2).as("month_total"))
      .orderBy("yr", "mo")

  /** q45_profile — data-quality profiling: per-column null/distinct/
    * bounds statistics for the orders table in ONE scan (every column's
    * aggregates computed side-by-side — the profile-before-you-train
    * pass every ingestion pipeline runs). */
  def profile(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("o_custkey")).as("custkey_nonnull"),
        countDistinct(col("o_custkey")).as("custkey_distinct"),
        countDistinct(col("o_orderstatus")).as("status_distinct"),
        countDistinct(col("o_orderpriority")).as("priority_distinct"),
        round(min(col("o_totalprice")), 2).as("price_min"),
        round(max(col("o_totalprice")), 2).as("price_max"),
        round(avg(col("o_totalprice")), 2).as("price_avg"))

  /** q46_argmax — min_by/max_by argmax aggregates: per order-priority,
    * WHICH order has the extreme price (not just the price). */
  /** q55_top_supplier — TPC-H Q15-flavored: revenue per supplier over a
    * shipping quarter, top 10. The date filter pushes to the lineitem
    * scan, the revenue aggregation is map-side partial on l_suppkey, the
    * tiny supplier dimension broadcasts onto the aggregated (small)
    * side, and the top-10 plans TakeOrderedAndProject — per-partition
    * heaps, no global sort. The one full-data shuffle is the suppkey
    * aggregation, which is unavoidable and minimal. */
  def topSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1996-04-01")
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("raw"))
    rev
      .join(broadcast(Tables.supplier(spark, sfDir)
        .select(col("s_suppkey"), col("s_name"))), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), round(col("raw"), 2).as("total_revenue"))
      .orderBy(col("total_revenue").desc, col("s_suppkey").asc)
      .limit(10)
  }

  def argmax(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority"))
      .agg(
        // totalprice is a continuous double — ties are measure-zero, so
        // plain argmax is deterministic on this data
        max_by(col("o_orderkey"), col("o_totalprice")).as("biggest_order"),
        min_by(col("o_orderkey"), col("o_totalprice")).as("smallest_order"),
        round(max(col("o_totalprice")), 2).as("max_price"))
      .orderBy("o_orderpriority")

  /** q26_semi_anti — existence predicates as shuffle-free-on-build-side
    * semi/anti joins: customers that DO have a high-value order
    * (left_semi ≡ EXISTS) and customers with NO orders at all
    * (left_anti ≡ NOT EXISTS), tagged and unioned. Neither join
    * materializes order columns — Catalyst keeps only the key. */
  def semiAnti(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = Tables.customer(spark, sfDir)
    val orders   = Tables.orders(spark, sfDir)
    val big = orders.filter(col("o_totalprice") > 300000.0).select(col("o_custkey"))
    val whales = customer
      .join(big, customer("c_custkey") === big("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), lit("has_big_order").as("status"))
    val dormant = customer
      .join(orders.select(col("o_custkey")),
        customer("c_custkey") === orders("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), lit("no_orders").as("status"))
    whales.unionAll(dormant).orderBy("status", "c_custkey")
  }

  /** q27_window — analytic window functions: per-customer order sequence
    * (row_number) and running spend (cumulative sum), first 3 orders per
    * customer. One shuffle keyed by customer; the window sort is
    * partition-local. */
  def windowFunctions(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .withColumn("run_total", sum(col("o_totalprice")).over(cum))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"),
        round(col("run_total"), 2).as("run_total"))
      .orderBy("o_custkey", "rn")
  }

  /** q30_asof_join — point-in-time attribution through the custom
    * as-of-join operator ([[org.apache.spark.sql.graft.AsOfJoinExec]]):
    * each click is joined to the user's latest view at-or-before it.
    * Left-outer: clicks with no prior view keep nulls. */
  def asofAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"), col("value").as("view_value"))
    org.apache.spark.sql.graft.AsOf
      .join(clicks, views, "c_user", "c_ts", "v_user", "v_ts")
      .select(
        col("click_id"), col("c_user").as("user_id"),
        date_format(col("c_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
        date_format(col("v_ts"), "yyyy-MM-dd HH:mm:ss").as("view_ts"),
        // coalesce: keep the double column non-null so hash comparers
        // that conflate SQL NULL with NaN stay deterministic
        coalesce(col("view_value"), lit(-1.0)).as("view_value"))
      .orderBy("click_id")
  }

  /** q10_partitioned_agg — multi-worker distribution + merge
    * (`lua-mapreduce-server.lua:228-334`): an aggregation computed across
    * an explicit hash repartitioning; the result is partition-count
    * invariant (PartitionSpec proves = over 1..8 partitions). */
  def partitionedAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .repartition(8, col("user_id"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .filter(col("n_events") >= 3)
      .orderBy("user_id")

  /** q64_funnel — strict sequential funnel attribution over the event
    * stream: for each user, the first `view`, the first `click` AFTER
    * that view, and the first `purchase` AFTER that click — the
    * conversion-funnel query every product-analytics stack runs, here
    * with STRICT ordering semantics (a click before any view does not
    * count, so funnel stages are causally ordered).
    *
    * Scale shape: each stage is a filtered partial-aggregable
    * groupBy(user) min plus one equi-join keyed by user_id — the
    * sessionize/window alternative would sort every user's full event
    * history; this touches only the three event types and carries one
    * row per user between stages. Timestamps are µs-exact (the events
    * table is µs-aligned, so the ns→µs load conversion is lossless and
    * strict inequalities match the ns-native oracle bit-for-bit). */
  def funnel(spark: SparkSession, sfDir: String): DataFrame =
    funnelFrom(Tables.events(spark, sfDir))

  /** [[funnel]] over an arbitrary (user_id, event_type, ts) frame. */
  private[graft] def funnelFrom(ev: DataFrame): DataFrame = {
    val users = ev.select(col("user_id")).distinct()
    val view = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t_view"))
    val click = ev.filter(col("event_type") === "click")
      .join(view, "user_id")
      .filter(col("ts") > col("t_view"))
      .groupBy("user_id").agg(min(col("ts")).as("t_click"))
    val purchase = ev.filter(col("event_type") === "purchase")
      .join(click, "user_id")
      .filter(col("ts") > col("t_click"))
      .groupBy("user_id").agg(min(col("ts")).as("t_purchase"))
    users
      .join(view, Seq("user_id"), "left")
      .join(click, Seq("user_id"), "left")
      .join(purchase, Seq("user_id"), "left")
      .select(col("user_id"),
        when(col("t_purchase").isNotNull, lit(3))
          .when(col("t_click").isNotNull, lit(2))
          .when(col("t_view").isNotNull, lit(1))
          .otherwise(lit(0)).as("stage"),
        date_format(col("t_view"), "yyyy-MM-dd HH:mm:ss").as("first_view"),
        date_format(col("t_click"), "yyyy-MM-dd HH:mm:ss").as("first_click"),
        date_format(col("t_purchase"), "yyyy-MM-dd HH:mm:ss").as("first_purchase"))
      .orderBy("user_id")
  }

  /** Result depth for [[eventPaths]]. */
  val PathTopK = 10

  /** q101_event_paths — session path mining: the top-[[PathTopK]] most
    * frequent 3-step `event_type` sequences taken by consecutive
    * events INSIDE one session (q25's session rule: a >30-minute gap
    * splits) — the navigation-pattern summary behind "what do users do
    * before purchasing" product analytics, and the event-stream twin
    * of q35's n-gram counting.
    *
    * Scale shape: sessions + the two lookaheads are windows partitioned
    * by user_id (per-user history, bounded — the q25/q27 precedent;
    * the lead window additionally keys by session so a path can never
    * straddle a session boundary); ordering adds event_id after ts so
    * same-timestamp events have ONE deterministic order on both
    * engines (q25 gets this for free from its µs-unique data, but a
    * path query is order-SENSITIVE, so the contract is explicit);
    * path counting is one partial-aggregable aggregate and the final
    * ranking is orderBy+limit (TakeOrderedAndProject). */
  def eventPaths(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("new_s",
        when(lag(col("ts"), 1).over(byUser).isNull
          || unix_millis(col("ts")) - lag(unix_millis(col("ts")), 1).over(byUser) > 1800000L,
          1L).otherwise(0L))
      .withColumn("session_no",
        sum(col("new_s")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    val bySession = Window.partitionBy(col("user_id"), col("session_no"))
      .orderBy(col("ts"), col("event_id"))
    ev
      .withColumn("e2", lead(col("event_type"), 1).over(bySession))
      .withColumn("e3", lead(col("event_type"), 2).over(bySession))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path").asc)
      .limit(PathTopK)
  }

  /** q77_json_props — schema-on-read JSON extraction: parse the
    * `events.props` JSON column with an explicit schema (`from_json`)
    * and aggregate over the extracted field — the semi-structured
    * ingestion shape of every telemetry pipeline (q08 round-trips
    * engine-BUILT json; this reads foreign json data).
    *
    * Scale shape: `from_json` with a fixed schema is a scan-local
    * codegen projection (no inference pass over the corpus — schema
    * inference at 100 TB is a full extra scan); the per-type stats are
    * one partial-aggregable groupBy; the exact distinct count is
    * Spark's standard two-phase distinct aggregate (expand + two
    * keyed exchanges), swapped for HLL at the Sketches tier when
    * approximate is acceptable.
    *
    * Coercion contract: `k` is extracted as STRING, accepted only if it
    * is an INTEGER LITERAL (`^-?[0-9]+$`), then try_cast — the regex
    * guard is load-bearing: DuckDB's TRY_CAST('1.5' AS INT) ROUNDS to 2
    * while Spark's try_cast returns NULL, so an unguarded cast silently
    * diverges on non-integral values; behind the identical regex both
    * engines yield the same int or NULL (try_cast keeps int-range
    * overflow at NULL on both sides too), with no reliance on the test
    * data always encoding k as a JSON integer. */
  def jsonProps(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"), expr("from_json(props, 'k STRING').k").as("ks"))
      .select(col("event_type"),
        when(col("ks").rlike("^-?[0-9]+$"),
          expr("try_cast(ks AS int)")).as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        countDistinct(col("k")).as("n_distinct_k"))
      .orderBy("event_type")

  /** q78_promo_revenue — TPC-H Q14 (promotion effect): monthly share of
    * revenue from PROMO parts. Covers the last star-schema dimension
    * (`part`) in a graded join.
    *
    * Scale shape: the part dimension broadcasts (dims are small by
    * star-schema design; at 100 TB a too-big dim falls back to a
    * shuffle join AQE plans from runtime stats); the conditional
    * promo/total sums are ONE partial-aggregable pass (CASE inside
    * sum, not two scans); month truncation is scan-local. */
  def promoRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_shipdate"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    li.join(broadcast(Tables.part(spark, sfDir)
        .select(col("p_partkey"), col("p_type"))), col("l_partkey") === col("p_partkey"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(round(sum(when(col("p_type") === "PROMO", col("rev")).otherwise(lit(0.0))), 2)
          .as("promo_revenue"),
        round(sum(col("rev")), 2).as("total_revenue"),
        round(lit(100.0) *
          sum(when(col("p_type") === "PROMO", col("rev")).otherwise(lit(0.0))) /
          sum(col("rev")), 4).as("promo_pct"))
      .orderBy("ship_month")
  }

  /** Value-tier boundaries for [[binnedRangeJoin]]: [lo, hi) half-open,
    * hi = null ⇒ open-ended top tier. */
  val ValueTiers: Seq[(String, Double, Option[Double])] = Seq(
    ("bronze", 0.0, Some(50.0)),
    ("silver", 50.0, Some(150.0)),
    ("gold", 150.0, Some(300.0)),
    ("platinum", 300.0, None))

  /** Bin width for the equi-key that [[binnedRangeJoin]] derives. */
  val TierBinWidth = 50.0

  /** q74_binned_range_join — interval classification as a BINNED range
    * join: tag every event with the value tier whose [lo, hi) interval
    * contains it, then aggregate count/revenue per (event_type, tier).
    *
    * A raw `lo <= value AND value < hi` theta-join has no equi-key, so
    * Spark plans BroadcastNestedLoopJoin — every row tests every
    * interval, O(n·|tiers|), and with a LARGE interval table it
    * degenerates to a cartesian product. The binned form restores a
    * hash join: replicate each tier to the fixed-width bins it overlaps
    * (`sequence(floor(lo/w), ceil(hi/w))` — interval table rows ×
    * overlap only), give every event its bin = floor(value/w), equi-join
    * on bin, refine with the exact range predicate. The join is then
    * hash-partitionable on bin — broadcastable here, shuffle-on-bin at
    * 100 TB with an arbitrary-size interval table (the same trick as
    * q67's entity-keyed containment, for intervals with NO shared key).
    * The open-ended top tier is bounded by the observed max (a 1-row
    * broadcast aggregate), so replication never materializes an
    * unbounded bin list. */
  def binnedRangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val ev = Tables.events(spark, sfDir)
    val maxBin = ev.agg(
      floor(max(col("value")) / TierBinWidth).cast("long").as("max_bin"))
    val tiers = ValueTiers
      .map { case (t, lo, hi) => (t, lo, hi.map(Double.box).orNull) }
      .toDF("tier", "lo", "hi")
    // one row per (tier, overlapped bin); the open top tier extends to
    // the corpus max bin — data-dependent but broadcast, never collected
    val tierBins = tiers
      .crossJoin(broadcast(maxBin))
      .select(col("tier"), col("lo"), col("hi"),
        explode(sequence(
          floor(col("lo") / TierBinWidth).cast("long"),
          least(
            coalesce(ceil(col("hi") / TierBinWidth).cast("long"), col("max_bin")),
            col("max_bin")))).as("bin"))
    ev.withColumn("bin", floor(col("value") / TierBinWidth).cast("long"))
      .join(broadcast(tierBins), Seq("bin"))
      .filter(col("value") >= col("lo") &&
        (col("hi").isNull || col("value") < col("hi")))
      .groupBy(col("event_type"), col("tier"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy("event_type", "tier")
  }

  /** q105_merge_upsert — the CDC / lakehouse MERGE compaction audit:
    * treat the first half of the event stream (by event_id) as the
    * base table and the second half as an ingestion batch keyed by
    * (user_id, event_type), resolve latest-wins by (ts, event_id),
    * and report per event_type how the merge lands: keys inserted
    * (batch-only), updated (batch row newer), retained (base row
    * newer — out-of-order CDC arrivals), carried (base-only). This is
    * the per-batch reconciliation report a Delta/Hudi-style MERGE INTO
    * pipeline emits.
    *
    * Spark-native shape: ONE partial-aggregable keyed aggregate does
    * the entire merge — presence bits are conditional maxes and the
    * winner is `max(struct(ts, event_id))` (lexicographic struct
    * ordering = argmax with a total tie-break, the q46 convention
    * without a window); the per-type roll-up is a second tiny
    * aggregate. At 100 TB this is exactly one shuffle of the keyed
    * deltas — no join of base against batch, because both live in the
    * same aggregate's hash state. */
  def mergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val half = ev.agg(expr("count(1) div 2").as("half"))
    ev.crossJoin(broadcast(half))
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(when(col("event_id") < col("half"), 1).otherwise(0)).as("has_base"),
        max(when(col("event_id") >= col("half"), 1).otherwise(0)).as("has_new"),
        max(struct(col("ts"), col("event_id"))).as("w"),
        max(col("half")).as("half"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("has_base") === 0, 1L).otherwise(0L)).as("n_inserted"),
        sum(when(col("has_base") === 1 && col("has_new") === 1
          && col("w.event_id") >= col("half"), 1L).otherwise(0L)).as("n_updated"),
        sum(when(col("has_base") === 1 && col("has_new") === 1
          && col("w.event_id") < col("half"), 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("has_new") === 0, 1L).otherwise(0L)).as("n_carried"))
      .orderBy("event_type")
  }

  /** Week-zero epoch for [[retention]] (2024-01-01T00:00:00Z, ms). */
  val RetentionEpochMs = 1704067200000L
  /** One week in milliseconds. */
  val WeekMs = 604800000L

  /** q117_retention — the cohort retention matrix: users are cohorted by
    * the calendar week (relative to [[RetentionEpochMs]]) of their FIRST
    * event, and each (cohort_week, week_offset) cell reports how many of
    * that cohort were active `offset` weeks later, as a count and a
    * share of the cohort — the growth-analytics complement of q64's
    * funnel (the funnel measures conversion depth, retention measures
    * return over time).
    *
    * Scale shape: the corpus-sized work is ONE distinct over
    * (user_id, week) — partial-aggregable, and the row count after it
    * is |users|·|weeks|, not |events|; the cohort assignment is a
    * user-keyed min over those same rows (co-partitioned — the distinct
    * and the min share the user_id shuffle key, so AQE reuses the
    * exchange); the matrix is a second aggregate over ≤ weeks² cells
    * and cohort sizes broadcast back onto it. Week ids are integer
    * arithmetic on `unix_millis` (µs-exact load, q64's contract), so
    * every engine computes identical cohorts. */
  /** Trailing window (weeks) for [[anomalyWeeks]]. */
  val AnomalyTrailW = 4
  /** |z| threshold above which a week is flagged. */
  val AnomalyZ = 2.0

  /** q120_anomaly_weeks — volume anomaly detection over the weekly
    * event series: each (event_type, week) count is z-scored against
    * the trailing [[AnomalyTrailW]] observed weeks (frame excludes the
    * current week — the monitor must not normalize away the spike it is
    * looking for), flagged when |z| ≥ [[AnomalyZ]] — the
    * drop-detector / spike-detector every ingestion pipeline runs
    * before trusting a day's data.
    *
    * Float parity: the trailing sums are integer-exact (counts), and
    * mean/var/z are the SAME correctly-rounded IEEE expression tree on
    * both engines — mean = s/k, var = max((s2 − s·s/k)/(k−1), 0) — so
    * z is deterministic and the 4dp floor-round is cosmetic, not a
    * tolerance. Weeks with an empty or variance-free trail emit NULL
    * z (never a division default), and the flag is NULL with them.
    *
    * Scale shape: the corpus-sized work is ONE partial-aggregable
    * (event_type, week) count; the window runs partitioned by
    * event_type over the ≤|weeks| aggregated rows per type — bounded
    * post-agg data, not row data (the QueriesSpec contract). */
  def anomalyWeeks(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.expressions.Window
    val wk = floor((unix_millis(col("ts")) - lit(RetentionEpochMs)).cast("double")
      / lit(WeekMs.toDouble)).cast("int")
    val weekly = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), wk.as("wk"))
      .agg(count(lit(1)).as("n_events"))
    val frame = Window.partitionBy("event_type").orderBy("wk")
      .rowsBetween(-AnomalyTrailW, -1)
    val k = count(col("n_events")).over(frame).cast("double")
    val s = sum(col("n_events")).over(frame).cast("double")
    val s2 = sum(col("n_events") * col("n_events")).over(frame).cast("double")
    val r4 = (c: Column) => floor(c * lit(1e4) + lit(0.5)) / lit(1e4)
    weekly
      .withColumn("k", k).withColumn("s", s).withColumn("s2", s2)
      .withColumn("mean", col("s") / col("k"))
      .withColumn("std", when(col("k") >= 2,
        sqrt(greatest((col("s2") - col("s") * col("s") / col("k"))
          / (col("k") - lit(1.0)), lit(0.0)))))
      .withColumn("z", when(col("std") > 0,
        (col("n_events").cast("double") - col("mean")) / col("std")))
      .select(col("event_type"), col("wk"), col("n_events"),
        when(col("k") >= 1, r4(col("mean"))).as("trail_mean"),
        r4(col("std")).as("trail_std"), r4(col("z")).as("z"),
        when(col("z").isNotNull, abs(col("z")) >= lit(AnomalyZ)).as("is_anomaly"))
      .orderBy("event_type", "wk")
  }

  def retention(spark: SparkSession, sfDir: String): DataFrame = {
    val wk = floor((unix_millis(col("ts")) - lit(RetentionEpochMs)).cast("double")
      / lit(WeekMs.toDouble)).cast("int")
    val uw = Tables.events(spark, sfDir)
      .select(col("user_id"), wk.as("wk"))
      .distinct()
    val cohort = uw.groupBy("user_id").agg(min(col("wk")).as("cohort_week"))
    val sizes = cohort.groupBy("cohort_week").agg(count(lit(1)).as("cohort_size"))
    uw.join(cohort, "user_id")
      .groupBy(col("cohort_week"), (col("wk") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_active"), col("cohort_size"),
        (floor(col("n_active").cast("double") / col("cohort_size").cast("double")
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  /** q123_scd2 — Type-2 slowly-changing-dimension history (Kimball's
    * SCD2): compress each user's event stream into a STATE HISTORY —
    * one row per state CHANGE carrying `[valid_from, valid_to)` and an
    * `is_current` flag — the standard dimension-table build every
    * warehouse runs on CDC feeds (q105 keeps only the LATEST state;
    * SCD2 keeps the full validity timeline, which is what as-of joins
    * like q30 probe against).
    *
    * Change detection is `lag(state) != state` per user; validity ends
    * at the NEXT change's timestamp (`lead`), open (null / is_current)
    * for the last state. Timestamps surface as epoch MICROSECONDS
    * (exact integers — no format/timezone surface in the compare).
    *
    * Scale shape: two windows, both partitioned by `user_id` and both
    * over that user's rows only — the per-key cardinality is bounded by
    * a user's event count, never the corpus; at 100 TB this is the
    * standard keyed-shuffle + per-key-sort plan. Ties broken by
    * `event_id` so ordering is total cross-engine. */
  def scd2(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val changes = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_state", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_state").isNull || col("prev_state") =!= col("event_type"))
    changes
      .withColumn("version", row_number().over(byUser).cast("int"))
      .withColumn("valid_to_us", unix_micros(lead(col("ts"), 1).over(byUser)))
      .select(col("user_id"), col("event_type").as("state"), col("version"),
        unix_micros(col("ts")).as("valid_from_us"), col("valid_to_us"),
        col("valid_to_us").isNull.as("is_current"))
      .orderBy("user_id", "version")
  }

  /** q124_session_incidents — INTERVAL-OVERLAP join via aligned-bin
    * replication: which user sessions overlap an anomalous traffic week
    * (q120's z-score weeks)? Both sides are intervals — sessions
    * `[start, end]` and weeks `[wk·W, (wk+1)·W)` — the shape Spark's
    * equi-join can't express directly and a naive theta-join plans as
    * BNLJ over the corpus (the q74 lesson, now with two interval
    * sides).
    *
    * Because one side (weeks) IS the bin grid, replicating each session
    * onto the week range it spans (`sequence(first_wk, last_wk)` — a
    * session's span is gap-bounded, so the replication factor is ~1-2)
    * turns the overlap into an exact equi-join on `wk`: session s
    * overlaps week w  ⇔  floor-week(start) ≤ w ≤ floor-week(end). The
    * anomalous-week side is a filtered aggregate (≤ weeks×types rows)
    * and broadcasts.
    *
    * Scale shape: sessionization is the per-user keyed window (bounded
    * per key); the explode is ×(weeks-spanned); the join is an
    * equi-join against a broadcast side. No theta-join, no cartesian. */
  def sessionIncidents(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sessions = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("new_s",
        when(lag(col("ts"), 1).over(byUser).isNull
          || unix_millis(col("ts")) - lag(unix_millis(col("ts")), 1).over(byUser) > 1800000L,
          1L).otherwise(0L))
      .withColumn("session_no",
        sum(col("new_s")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(min(col("ts")).as("s_start"), max(col("ts")).as("s_end"),
        count(lit(1)).as("n_events"))
    val wkOf = (c: org.apache.spark.sql.Column) =>
      floor((unix_millis(c) - lit(RetentionEpochMs)).cast("double")
        / lit(WeekMs.toDouble)).cast("int")
    val anomalous = anomalyWeeks(spark, sfDir)
      .filter(col("is_anomaly"))
      .select(col("event_type").as("anomaly_type"), col("wk"))
    sessions
      .select(col("user_id"), col("session_no"), col("n_events"),
        col("s_start"), col("s_end"),
        explode(sequence(wkOf(col("s_start")), wkOf(col("s_end")))).as("wk"))
      .join(broadcast(anomalous), "wk")
      .select(col("user_id"), col("session_no"),
        unix_micros(col("s_start")).as("session_start_us"),
        unix_micros(col("s_end")).as("session_end_us"),
        col("n_events"), col("wk"), col("anomaly_type"))
      .orderBy("user_id", "session_no", "wk", "anomaly_type")
  }

  /** q125 gap-fill granularity. */
  val HourMs = 3600000L

  /** q125_interpolate — time-series GAP FILL with linear interpolation:
    * hourly event counts per type, densified onto the full hour spine
    * between each type's first and last active hour, missing hours
    * filled as `prev + (next−prev)·(h−h_prev)/(h_next−h_prev)` — the
    * standard regularization step before any windowed/forecast model
    * consumes an irregular event feed.
    *
    * Determinism: counts and hour indexes are exact integers; the
    * interpolation is one double expression evaluated in the same
    * operand order on both engines, then grid-rounded.
    *
    * Scale shape: the window runs over the per-(type, hour) AGGREGATE —
    * time-domain-bounded rows (hours in range), never corpus rows — the
    * q61/q70 argument; the spine explode is bounded by the same domain.
    * The groupBy is the only corpus-scale exchange. */
  def interpolate(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hr = floor((unix_millis(col("ts")) - lit(RetentionEpochMs)).cast("double")
      / lit(HourMs.toDouble)).cast("bigint")
    val hourly = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), hr.as("hr"))
      .agg(count(lit(1)).as("n"))
    val spine = hourly.groupBy("event_type")
      .agg(min(col("hr")).as("mn"), max(col("hr")).as("mx"))
      .select(col("event_type"), explode(sequence(col("mn"), col("mx"))).as("hr"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
    val prevW = w.rowsBetween(Window.unboundedPreceding, -1)
    val nextW = w.rowsBetween(1, Window.unboundedFollowing)
    val dense = spine.join(hourly, Seq("event_type", "hr"), "left")
      .withColumn("pv", last(col("n"), ignoreNulls = true).over(prevW))
      .withColumn("ph", last(when(col("n").isNotNull, col("hr")), ignoreNulls = true).over(prevW))
      .withColumn("nv", first(col("n"), ignoreNulls = true).over(nextW))
      .withColumn("nh", first(when(col("n").isNotNull, col("hr")), ignoreNulls = true).over(nextW))
    dense.select(col("event_type"), col("hr"), col("n").as("n_obs"),
      (floor(
        when(col("n").isNotNull, col("n").cast("double"))
          .otherwise(col("pv").cast("double")
            + (col("nv") - col("pv")).cast("double")
              * ((col("hr") - col("ph")).cast("double")
                / (col("nh") - col("ph")).cast("double")))
        * lit(1e6) + lit(0.5)) / lit(1e6)).as("filled"),
      col("n").isNull.as("is_interpolated"))
      .orderBy("event_type", "hr")
  }

  /** q129 cutoff (TPC-H Q3's ':2'/':3' date parameter, centered for the
    * testdata's 1995-2001 span) and report depth. */
  val ShipCutoff = "1996-06-30"
  val ShipTopK = 10

  /** q129_ship_priority — TPC-H Q3, the canonical 3-way star join +
    * top-k: unshipped-revenue by order for one market segment, orders
    * placed before / lines shipped after the cutoff. Together with q78
    * (Q14) and q55 (Q2-flavor) this pins the classic OLAP join shapes
    * the reference's relational tier implies.
    *
    * Scale shape: the segment-filtered customer dimension BROADCASTS
    * into the orders scan (with runtime bloom pruning available on the
    * fact side — GraftSession pins it on); the orders⋈lineitem join is
    * the one keyed fact-fact exchange, both sides date-pruned AT THE
    * SCAN (predicate pushdown — the filters are scan-local, `.explain`
    * shows PushedFilters); the ranking is TakeOrdered over the
    * per-order aggregate, never a global sort. Revenue rounds to 4dp
    * before ordering: per-group sums are ≤7 doubles, so cross-engine
    * summation-order drift sits at ~1e-8 relative — far below the
    * rounding grid — and the rounded value gives both engines one
    * total order (tie → orderkey). */
  def shipPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") < lit(ShipCutoff).cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") > lit(ShipCutoff).cast("timestamp"))
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("rev")), 4).as("revenue"))
      .select(col("o_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"), col("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(ShipTopK)
  }

  /** q132 cutoff — TPC-H Q1's DELTA applied to the testdata's span. */
  val PricingCutoff = "2000-12-01"

  /** q132_pricing_summary — TPC-H Q1, THE canonical scan-heavy
    * aggregation benchmark: the lineitem pricing summary by
    * (returnflag, linestatus). One pass over the fact table, one
    * partial-aggregable groupBy onto a ~6-row domain — the purest test
    * of scan throughput + map-side combine the suite has; at 100 TB the
    * plan is literally "every core scans its splits, 6 rows meet".
    *
    * Float parity: quantities are small integers in doubles (sums
    * exact); price/charge sums round to 2dp and averages to 6dp —
    * cross-engine summation-order drift is orders of magnitude below
    * both grids (the q129 argument at aggregate scale). */
  def pricingSummary(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") <= lit(PricingCutoff).cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        round(avg(col("l_extendedprice")), 6).as("avg_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** q134_brand_skyline — the 2-D SKYLINE (pareto front) per brand:
    * parts no brand-mate strictly dominates on (price ↓, size ↑) — the
    * multi-criteria shortlist query ("cheapest at every capability
    * level") that resists plain min/max aggregation.
    *
    * Over DISTINCT (price, size) points the front is a single
    * sorted-scan recurrence: sort (price asc, size desc) and keep a
    * point iff its size strictly exceeds the running max of all prior
    * points — prior points all have price ≤ current (price peers sort
    * size-desc, so an equal-price-larger-size point lands first and
    * correctly suppresses its peers), which is exactly strict
    * dominance; identical points collapsed by the distinct keep the
    * no-strict-dominance law. The oracle states the spec directly as
    * NOT EXISTS so the window reformulation is independently checked.
    *
    * Scale shape: the groupBy collapses the corpus to distinct
    * (brand, price, size) points; the window is keyed by brand over
    * that value-domain-bounded point set, never corpus rows. */
  def brandSkyline(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = Tables.part(spark, sfDir)
      .groupBy(col("p_brand"), col("p_retailprice").as("price"), col("p_size").as("size"))
      .agg(count(lit(1)).as("n_parts"))
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("price").asc, col("size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    pts.withColumn("rmax", max(col("size")).over(w))
      .filter(col("rmax").isNull || col("size") > col("rmax"))
      .select(col("p_brand"), col("price"), col("size"), col("n_parts"))
      .orderBy("p_brand", "price", "size")
  }

  /** q137 parameters — TPC-H Q5's region + one order-date year. */
  val LocalRegion = "ASIA"
  val LocalYearStart = "1997-01-01"
  val LocalYearEnd = "1998-01-01"

  /** q137_local_supplier_volume — TPC-H Q5, the 6-way star join with the
    * LOCAL-supplier co-location condition (`c_nationkey = s_nationkey`):
    * revenue by nation for one region and one order year, where the
    * customer and the line's supplier must share a nation. The suite's
    * widest graded join (region→nation→customer→orders→lineitem←
    * supplier) — the query optimizers use to show off join reorder.
    *
    * Scale shape: region/nation broadcast (tiny dims); their keys
    * reduce customer to a region-filtered dim that BROADCASTS into the
    * date-pruned orders scan; orders⋈lineitem is the single fact-fact
    * keyed exchange; the supplier join broadcasts and the co-location
    * predicate (`c_nationkey = s_nationkey`) filters after it — no
    * plan stage ever shuffles more than the date-windowed fact slice.
    * Revenue rounds 2dp before the DESC ordering (the q129/q132
    * summation-order argument; nation domain is tiny so ties break on
    * n_name). */
  def localSupplierVolume(spark: SparkSession, sfDir: String): DataFrame = {
    val nations = Tables.nation(spark, sfDir)
      .join(broadcast(Tables.region(spark, sfDir).filter(col("r_name") === LocalRegion)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables.customer(spark, sfDir)
      .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"))
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(LocalYearStart).cast("timestamp")
        && col("o_orderdate") < lit(LocalYearEnd).cast("timestamp"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"))
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    ord.join(li, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.supplier(spark, sfDir).select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("rev")), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** q139 parameters — TPC-H Q10's quarter window + report depth. */
  val ReturnedQuarterStart = "1997-01-01"
  val ReturnedQuarterEnd = "1997-04-01"
  val ReturnedTopK = 20

  /** q139_returned_items — TPC-H Q10: the customers who returned the
    * most revenue in one quarter — the classic "who is hurting us"
    * account-review query (fact slice → dimension enrich → top-k).
    * With Q1 (q132), Q3 (q129), Q5 (q137) and Q14 (q78) this closes
    * the canonical TPC-H join-shape set the relational tier targets.
    *
    * Scale shape: the quarter predicate and `l_returnflag = 'R'` are
    * scan-pushed; orders⋈lineitem is the single fact-fact exchange;
    * customer/nation broadcast; TakeOrdered(20) over the per-customer
    * aggregate. Revenue rounds 2dp before ordering (q129 argument). */
  def returnedItems(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(ReturnedQuarterStart).cast("timestamp")
        && col("o_orderdate") < lit(ReturnedQuarterEnd).cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    val cust = Tables.customer(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"))
    ord.join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("rev")), 2).as("revenue"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"), col("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(ReturnedTopK)
  }

  /** q141_burstiness — the Fano factor (variance-to-mean ratio) of
    * hourly event counts per type: ≈1 for Poisson-like traffic, ≫1 for
    * bursty arrivals — the one-number burstiness diagnostic sitting
    * between q120's per-week z-scores and q136's value CDF. Integer
    * sums (n, Σc, Σc²) make mean and variance exact rationals; the
    * final divisions round on the 1e-6 grid. Hours with zero events
    * count as zero observations of the spine (present-hour statistics
    * only — the spec the oracle mirrors). */
  def burstiness(spark: SparkSession, sfDir: String): DataFrame = {
    val hr = floor((unix_millis(col("ts")) - lit(RetentionEpochMs)).cast("double")
      / lit(HourMs.toDouble)).cast("bigint")
    val hourly = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), hr.as("hr"))
      .agg(count(lit(1)).as("c"))
    hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("s2"))
      .select(col("event_type"), col("n_hours"),
        (floor(col("s").cast("double") / col("n_hours").cast("double")
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("mean_per_hour"),
        (floor(
          ((col("s2").cast("double")
            - col("s").cast("double") * col("s").cast("double")
              / col("n_hours").cast("double"))
            / col("n_hours").cast("double"))
            / (col("s").cast("double") / col("n_hours").cast("double"))
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("fano"))
      .orderBy("event_type")
  }

  /** q136 CDF probe grid — fixed points spanning the value range. */
  val CdfProbes = Seq(10.0, 25.0, 50.0, 100.0, 250.0)

  /** q136_value_cdf — empirical CDF probes per event type:
    * P(value ≤ p) at a fixed probe grid — the monitoring-friendly
    * distribution summary (latency/size SLO curves are exactly this
    * shape) that needs no percentile machinery: counts against fixed
    * thresholds are partial-aggregable conditional sums, where a true
    * quantile would need a sort or sketch.
    *
    * One corpus pass computes all probes as |grid| conditional sums per
    * type (a single groupBy, no explode multiplier on corpus rows); the
    * per-type row then unpivots to (type, probe) rows — grid×types
    * rows, after aggregation. All-integer counts; one division. */
  def valueCdf(spark: SparkSession, sfDir: String): DataFrame = {
    val sums = CdfProbes.zipWithIndex.map { case (p, i) =>
      sum(when(col("value") <= lit(p), 1L).otherwise(0L)).as(s"c$i")
    }
    val agg = Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_total"), sums: _*)
    val probeArr = array(CdfProbes.zipWithIndex.map { case (p, i) =>
      struct(lit(p).as("probe"), col(s"c$i").as("n_le"))
    }: _*)
    agg.select(col("event_type"), col("n_total"), explode(probeArr).as("s"))
      .select(col("event_type"), col("s.probe").as("probe"),
        col("s.n_le").as("n_le"), col("n_total"),
        (floor(col("s.n_le").cast("double") / col("n_total").cast("double")
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("cdf"))
      .orderBy("event_type", "probe")
  }

  /** q128_markov_transitions — first-order Markov transition matrix over
    * in-session event sequences: `P(next=dst | cur=src)` with exact
    * count ratios — the behavioral-model fit behind next-event
    * prediction and funnel simulation (q101 surfaces top PATHS; this is
    * the normalized edge model those paths walk).
    *
    * Scale shape: sessionization + `lead` are the per-user keyed
    * windows (bounded per key); the transition count is a
    * partial-aggregable groupBy over (src, dst) — a types² domain; the
    * row-count denominator joins back by broadcast. */
  /** The (src, dst, n_trans) within-session transition counts shared
    * by q128 (probabilities) and q288 (absorption). */
  private def transitionCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("new_s",
        when(lag(col("ts"), 1).over(byUser).isNull
          || unix_millis(col("ts")) - lag(unix_millis(col("ts")), 1).over(byUser) > 1800000L,
          1L).otherwise(0L))
      .withColumn("session_no",
        sum(col("new_s")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    val bySession = Window.partitionBy(col("user_id"), col("session_no"))
      .orderBy(col("ts"), col("event_id"))
    ev
      .withColumn("dst", lead(col("event_type"), 1).over(bySession))
      .filter(col("dst").isNotNull)
      .groupBy(col("event_type").as("src"), col("dst"))
      .agg(count(lit(1)).as("n_trans"))
  }

  def markovTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val trans = transitionCounts(spark, sfDir)
    // the denominator is a window over the AGGREGATED (src, dst) frame —
    // a types² domain, so the window input is bounded by the label
    // vocabulary, and the sessionize/lead pipeline executes ONCE (a
    // groupBy+join denominator would reference `trans` twice and re-run
    // the corpus windows per reference — the q31 multi-reference lesson)
    val bySrc = Window.partitionBy(col("src"))
    trans
      .withColumn("n_src", sum(col("n_trans")).over(bySrc))
      .select(col("src"), col("dst"), col("n_trans"),
        (floor(col("n_trans").cast("double") / col("n_src").cast("double")
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("p"))
      .orderBy("src", "dst")
  }

  /** q142 window — one order-date quarter for the priority/returns
    * audit (TPC-H Q4's ':1' parameter on the testdata's span). */
  val PriorityQuarterStart = "1998-01-01"
  val PriorityQuarterEnd = "1998-04-01"

  /** q142_priority_returns — TPC-H Q4's shape on the available columns:
    * per order priority, how many of the quarter's orders had at least
    * one RETURNED line (the testdata carries no commit/receipt dates,
    * so "late" becomes "returned" — the EXISTS-correlation shape is
    * identical). The canonical fact-fact LEFT SEMI join: the probe side
    * never duplicates however many lines match.
    *
    * Scale shape: the quarter predicate and `l_returnflag = 'R'` are
    * scan-pushed on their respective sides; the semi-join is the single
    * keyed fact-fact exchange (AQE can flip it to broadcast when the
    * returned-lines slice is small); the groupBy lands on the ~5-row
    * priority domain map-side. */
  def priorityReturns(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(PriorityQuarterStart).cast("timestamp")
        && col("o_orderdate") < lit(PriorityQuarterEnd).cast("timestamp"))
      .select(col("o_orderkey"), col("o_orderpriority"))
    val ret = Tables.lineitem(spark, sfDir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"))
    ord.join(ret, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** q143_order_distribution — TPC-H Q13: the customer-order-count
    * distribution INCLUDING the zero bucket — the classic left-outer +
    * double-aggregate that catches engines which lose unmatched rows
    * (how many customers never ordered is usually the business point).
    *
    * Scale shape: orders pre-aggregate to (custkey, n) BEFORE the join
    * — the outer join carries one row per customer per side, not one
    * per order; both sides key on custkey (one co-partitioned
    * exchange); the second aggregate lands on the tiny order-count
    * domain map-side. No window, no skew (custkey is the natural key). */
  def orderDistribution(spark: SparkSession, sfDir: String): DataFrame = {
    val perCust = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
    Tables.customer(spark, sfDir).select(col("c_custkey"))
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("n"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** q144 threshold/depth — sum-of-quantity cutoff (≈99.9th pct of the
    * per-order distribution at sf0.01) and report depth. */
  val LargeQtyThreshold = 300.0
  val LargeOrdersTopK = 20

  /** q144_large_orders — TPC-H Q18: orders whose TOTAL quantity exceeds
    * a threshold, enriched with their customer — the HAVING-subquery
    * shape (aggregate first, then use the aggregate as the join
    * filter).
    *
    * Scale shape: lineitem pre-aggregates per order (partial map-side
    * sums; the HAVING filter drops ~99.9% of orders BEFORE any join);
    * the surviving handful joins orders by key and broadcasts into
    * customer enrichment; TakeOrdered(20) — never a global sort.
    * Quantities are small integers in doubles, so the sums are exact
    * (no rounding grid needed). */
  def largeOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val qty = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > lit(LargeQtyThreshold))
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"))
    qty.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(LargeOrdersTopK)
  }

  /** q145 predicate triples — (brand, size window, quantity window),
    * TPC-H Q19's three OR'd branches on the available columns. */
  val DisjunctiveBranches: Seq[(String, (Int, Int), (Double, Double))] = Seq(
    ("Brand#11", (1, 15), (1.0, 15.0)),
    ("Brand#22", (1, 25), (10.0, 30.0)),
    ("Brand#3", (1, 35), (25.0, 50.0)))

  /** q145_disjunctive_revenue — TPC-H Q19: revenue under an OR of three
    * (brand ∧ size-range ∧ quantity-range) conjunctions — the
    * disjunctive-predicate join that breaks naive pushdown (no single
    * conjunct holds across branches, yet each branch is selective).
    *
    * Scale shape: part is the small side and BROADCASTS (it carries the
    * brand/size half of every branch); the OR evaluates inside the join
    * as a residual condition, so lineitem streams through the broadcast
    * hash join probe-side with no shuffle at all; the result is one
    * scalar row via a partial-aggregable global sum. Catalyst factors
    * the common `l_partkey = p_partkey` equi-key out of the OR — the
    * join stays a hash join, never a nested loop. */
  def disjunctiveRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_quantity"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    val part = Tables.part(spark, sfDir)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val branch = DisjunctiveBranches.map { case (brand, (szLo, szHi), (qLo, qHi)) =>
      col("p_brand") === brand &&
        col("p_size").between(szLo, szHi) &&
        col("l_quantity").between(qLo, qHi)
    }.reduce(_ || _)
    li.join(broadcast(part), col("l_partkey") === col("p_partkey") && branch)
      .agg(count(lit(1)).as("n_lines"), round(sum(col("rev")), 2).as("revenue"))
  }

  /** q146 cohort — the nation keys eligible for the idle-account scan
    * (TPC-H Q22's country-code list on the available columns) and the
    * recency cutoff that defines "dormant" (every testdata customer
    * has SOME order, so Q22's literal no-orders-ever arm is empty;
    * no-orders-since keeps the anti-join shape AND a real answer). */
  val IdleNationKeys: Seq[Int] = Seq(1, 3, 5, 7, 9, 11, 13)
  val IdleSince = "2000-07-01"

  /** q146_idle_accounts — TPC-H Q22: customers from a nation cohort
    * with ABOVE-AVERAGE positive balances and no order since
    * [[IdleSince]] — the scalar-subquery + NOT EXISTS (anti-join)
    * shape; the classic "dormant high-value accounts" report.
    *
    * Scale shape: the cohort average is one scalar aggregate that
    * broadcasts into the filter; the anti-join keys on custkey against
    * the date-pruned orders slice (predicate pushed to the scan) —
    * ONE keyed fact exchange (the filtered customer side is far
    * smaller); the final groupBy lands on the ≤7-row nation domain.
    * Balances round 2dp after the sum (2dp inputs sum exactly in
    * doubles at this magnitude). */
  def idleAccounts(spark: SparkSession, sfDir: String): DataFrame = {
    val cohort = Tables.customer(spark, sfDir)
      .filter(col("c_nationkey").isin(IdleNationKeys: _*))
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
    val avgBal = cohort.filter(col("c_acctbal") > 0.0)
      .agg(avg(col("c_acctbal")).as("avg_bal"))
    val rich = cohort.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
    val ords = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(IdleSince).cast("timestamp"))
      .select(col("o_custkey"))
    rich.join(ords, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"), round(sum(col("c_acctbal")), 2).as("totacctbal"))
      .orderBy("c_nationkey")
  }

  /** q156 parameters — TPC-H Q6's year + discount band + quantity cap. */
  val ForecastYearStart = "1996-01-01"
  val ForecastYearEnd = "1997-01-01"
  val ForecastDiscLo = 0.05
  val ForecastDiscHi = 0.07
  val ForecastMaxQty = 24.0

  /** q156_forecast_revenue — TPC-H Q6, the revenue-change forecast: how
    * much revenue would appear if discounts in a band were dropped —
    * THE canonical filter-everything-aggregate-one-number query. With
    * Q1/Q3/Q4/Q5/Q10/Q13/Q14/Q18/Q19/Q22 shapes this completes every
    * classic TPC-H pattern the testdata's columns can express.
    *
    * Scale shape: ALL three predicates reach the parquet scan as
    * PushedFilters (date window, discount band, quantity cap) — with
    * date/discount-sorted or zoned files most row groups never leave
    * disk (min/max pruning; the q103 layout argument); the aggregate
    * is one partial-aggregable global sum, so the plan is "scan the
    * pruned splits, one number meets". Discounts sit on the 1e-2 grid
    * so the band is drift-proof; revenue rounds 2dp post-sum (q129
    * argument). */
  def forecastRevenue(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit(ForecastYearStart).cast("timestamp")
        && col("l_shipdate") < lit(ForecastYearEnd).cast("timestamp")
        && col("l_discount").between(ForecastDiscLo, ForecastDiscHi)
        && col("l_quantity") < ForecastMaxQty)
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))

  /** q157 parameters — TPC-H Q7's trading nation pair + ship window. */
  val VolumeNationA = "NATION_12"
  val VolumeNationB = "NATION_10"
  val VolumeShipStart = "1996-01-01"
  val VolumeShipEnd = "1998-01-01"

  /** q157_nation_volume — TPC-H Q7, the bilateral trade-volume report:
    * revenue shipped between two nations (both directions) by shipment
    * year, where the SUPPLIER sits in one nation and the CUSTOMER in
    * the other — the two-role dimension join (nation keys enter
    * through two independent paths that must NOT be collapsed).
    *
    * Scale shape: supplier and the nation-tagged customer dim
    * broadcast; orders⋈lineitem is the single fact-fact exchange; the
    * pair filter evaluates after both roles resolve (either
    * direction); the aggregate lands on a 2×years domain. Revenue
    * rounds 2dp (q129 argument). */
  def nationVolume(spark: SparkSession, sfDir: String): DataFrame = {
    val nations = Tables.nation(spark, sfDir).select(col("n_nationkey"), col("n_name"))
    val supp = Tables.supplier(spark, sfDir)
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name").isin(VolumeNationA, VolumeNationB))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(spark, sfDir)
      .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
      .filter(col("n_name").isin(VolumeNationA, VolumeNationB))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val ord = Tables.orders(spark, sfDir)
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit(VolumeShipStart).cast("timestamp")
        && col("l_shipdate") < lit(VolumeShipEnd).cast("timestamp"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter((col("supp_nation") === VolumeNationA && col("cust_nation") === VolumeNationB)
        || (col("supp_nation") === VolumeNationB && col("cust_nation") === VolumeNationA))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** q158 parameters — TPC-H Q8's market, product type and the
    * nation whose share is being tracked. */
  val ShareRegion = "EUROPE"
  val ShareType = "ECONOMY"
  val ShareNation = "NATION_3"
  val ShareOrderStart = "1996-01-01"
  val ShareOrderEnd = "1998-01-01"

  /** q158_market_share — TPC-H Q8: one nation's supplier share of a
    * region's purchases of a product type, by order year — the
    * conditional-sum-over-sum query (share = Σ_if / Σ) that every BI
    * layer compiles to, with nations again entering through both the
    * customer (market) and supplier (share) roles.
    *
    * Determinism: numerator and denominator sums round 2dp FIRST (the
    * q129 grid argument), then one division floors on the 1e-6 grid —
    * both engines divide the identical rounded values.
    *
    * Scale shape: part (type filter) and the region-filtered customer
    * dim broadcast into the facts; orders⋈lineitem is the single
    * keyed exchange; supplier broadcast tags the share flag; the
    * aggregate lands on the years domain with the conditional sum
    * partial-aggregable. */
  def marketShare(spark: SparkSession, sfDir: String): DataFrame = {
    val part = Tables.part(spark, sfDir)
      .filter(col("p_type") === ShareType).select(col("p_partkey"))
    val nations = Tables.nation(spark, sfDir)
    val regionNations = nations
      .join(broadcast(Tables.region(spark, sfDir).filter(col("r_name") === ShareRegion)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val cust = Tables.customer(spark, sfDir)
      .join(broadcast(regionNations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(ShareOrderStart).cast("timestamp")
        && col("o_orderdate") < lit(ShareOrderEnd).cast("timestamp"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    val supp = Tables.supplier(spark, sfDir)
      .join(broadcast(nations.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), (col("n_name") === ShareNation).as("is_share"))
    Tables.lineitem(spark, sfDir)
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .select(col("o_year"), col("is_share"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      .groupBy(col("o_year"))
      .agg(round(sum(when(col("is_share"), col("rev")).otherwise(0.0)), 2).as("share_rev"),
        round(sum(col("rev")), 2).as("total_rev"))
      .select(col("o_year"), col("share_rev"), col("total_rev"),
        (floor(col("share_rev") / col("total_rev") * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("mkt_share"))
      .orderBy("o_year")
  }

  /** q159 window — TPC-H Q15's quarter. */
  val TopSuppQuarterStart = "1998-04-01"
  val TopSuppQuarterEnd = "1998-07-01"

  /** q159_top_supplier_rev — TPC-H Q15: the supplier(s) with the
    * MAXIMUM quarterly revenue — the aggregate-equals-scalar-max shape
    * (Q15's revenue view + correlated max), which returns ALL tied
    * maxima, not an arbitrary LIMIT 1. Ties are real here because
    * revenue rounds 2dp before the comparison (both engines compare
    * identical rounded values — the grid IS the tie law).
    *
    * Scale shape: one partial-aggregable per-supplier aggregate over
    * the date-pruned fact slice; the scalar max broadcasts back; the
    * supplier dim enriches the ≤tied-rows result by broadcast. */
  def topSupplierRev(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit(TopSuppQuarterStart).cast("timestamp")
        && col("l_shipdate") < lit(TopSuppQuarterEnd).cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("total_rev"))
    val mx = rev.agg(max(col("total_rev")).as("max_rev"))
    rev.crossJoin(broadcast(mx))
      .filter(col("total_rev") === col("max_rev"))
      .join(broadcast(Tables.supplier(spark, sfDir)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev"))
      .orderBy("s_suppkey")
  }

  /** q160 parameters — TPC-H Q17's brand + the small-quantity factor. */
  val SmallQtyBrand = "Brand#5"
  val SmallQtyFactor = 0.2

  /** q160_small_qty_revenue — TPC-H Q17: average yearly revenue lost if
    * small-quantity orders (below 20% of the part's average quantity)
    * were not taken — the correlated-aggregate query (each line
    * compares against ITS part's average).
    *
    * Determinism: quantities are integer-valued doubles, so each
    * part's Σqty is exact in any summation order and avg = one
    * division — both engines compute the identical threshold double;
    * the comparison is then bit-deterministic.
    *
    * Scale shape: the brand filter reduces part to a broadcast dim;
    * the per-part average is a partial-aggregable groupBy over the
    * brand-pruned fact slice (lineitem joins the broadcast part dim
    * first, so only the brand's lines shuffle — ~1/brands of the
    * fact); the ≤parts-row average table broadcasts back into the
    * same pruned slice. */
  def smallQtyRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val part = Tables.part(spark, sfDir)
      .filter(col("p_brand") === SmallQtyBrand).select(col("p_partkey"))
    val lines = Tables.lineitem(spark, sfDir)
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val avgQty = lines.groupBy(col("l_partkey"))
      .agg(avg(col("l_quantity")).as("avg_qty"))
      .select(col("l_partkey").as("a_partkey"),
        (lit(SmallQtyFactor) * col("avg_qty")).as("qty_threshold"))
    lines.join(broadcast(avgQty), col("l_partkey") === col("a_partkey"))
      .filter(col("l_quantity") < col("qty_threshold"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice")) / lit(7.0), 2).as("avg_yearly"))
  }

  /** q167 hot-key law: a key is "hot" when its row count exceeds this
    * multiple of the mean rows-per-key. */
  val SkewHotFactor = 10.0

  /** q167_join_skew_advisor — the pre-join SKEW report for the suite's
    * two canonical fact join keys (lineitem.l_orderkey,
    * orders.o_custkey): keys, rows, max/mean frequency, the skew
    * factor (max/mean) and how much of the table sits in HOT keys
    * (> [[SkewHotFactor]]× mean) — exactly the numbers that decide
    * between a plain hash join, AQE skew splitting, or explicit
    * salting (q24's machinery). Run it BEFORE the join at 100 TB;
    * a skew factor near 1 means hash partitioning balances, a big one
    * with hot-row mass means the join needs the q24 treatment.
    *
    * Determinism: all counts are exact integers; mean = rows/keys is
    * one division used identically in both engines' hot predicate
    * (integer freq > factor·mean — the operands are bit-identical
    * doubles); reported ratios floor on the 1e-6 grid.
    *
    * Scale shape: per key-column, ONE partial-aggregable frequency
    * aggregate (the keyed exchange), one scalar summary over the key
    * frame, and one conditional re-aggregate for the hot mass —
    * nothing wider than the key domain ever shuffles. */
  def joinSkewAdvisor(spark: SparkSession, sfDir: String): DataFrame = {
    def audit(label: String, df: DataFrame, key: String): DataFrame = {
      val freq = df.groupBy(col(key)).agg(count(lit(1)).as("f"))
      val s = freq.agg(count(lit(1)).as("n_keys"), sum(col("f")).as("n_rows"),
        max(col("f")).as("max_freq"))
      val hot = freq.crossJoin(broadcast(s))
        .filter(col("f").cast("double") >
          lit(SkewHotFactor) * (col("n_rows").cast("double") / col("n_keys").cast("double")))
        .agg(count(lit(1)).as("n_hot_keys"), sum(col("f")).as("hot_rows"))
      s.crossJoin(broadcast(hot))
        .select(lit(label).as("join_key"), col("n_keys"), col("n_rows"), col("max_freq"),
          (floor(col("n_rows").cast("double") / col("n_keys").cast("double")
            * lit(1e6) + lit(0.5)) / lit(1e6)).as("mean_freq"),
          (floor(col("max_freq").cast("double") * col("n_keys").cast("double")
            / col("n_rows").cast("double") * lit(1e6) + lit(0.5)) / lit(1e6))
            .as("skew_factor"),
          coalesce(col("n_hot_keys"), lit(0L)).as("n_hot_keys"),
          (floor(coalesce(col("hot_rows"), lit(0L)).cast("double")
            / col("n_rows").cast("double") * lit(1e6) + lit(0.5)) / lit(1e6))
            .as("hot_row_share"))
    }
    audit("lineitem.l_orderkey", Tables.lineitem(spark, sfDir), "l_orderkey")
      .union(audit("orders.o_custkey", Tables.orders(spark, sfDir), "o_custkey"))
      .orderBy("join_key")
  }

  /** q188_date_spine — calendar-spine gap fill + trailing 7-day moving
    * average: daily order revenue LEFT-joined onto the generated
    * min..max date spine so zero-order days appear as explicit zeros
    * (q125 interpolates BETWEEN observations; reporting/forecasting
    * needs the zeros THEMSELVES — a missing day and a zero-revenue day
    * are different facts), then the smoothed trail every ops dashboard
    * draws.
    *
    * Determinism: revenue quantizes to integer cents at the scan
    * (floor(p·100+0.5)) so daily sums and the 7-row window sum are
    * exact integers; the moving average is integer `div` by the
    * window row count — no float ever sums.
    *
    * Scale shape: one date-keyed partial-aggregable daily aggregate
    * (the only corpus-wide exchange), a broadcast 1-row bounds
    * aggregate exploded into the spine (`sequence` — date-DOMAIN
    * sized, ~2.4k rows for TPC-H's range at any SF), and the trailing
    * window runs over the SPINE only — unpartitioned but
    * domain-bounded, never corpus rows (whitelisted in
    * QueriesSpec like q53/q61/q173). */
  def dateSpine(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, sfDir)
      .select(to_date(col("o_orderdate")).as("day"),
        floor(col("o_totalprice") * lit(100) + lit(0.5)).cast("long").as("cents"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents"))
    val bounds = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    val spine = bounds.select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val filled = spine.join(daily, Seq("day"), "left")
      .select(col("day"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("cents"), lit(0L)).as("cents"))
    val w = Window.orderBy(col("day")).rowsBetween(-6, 0)
    filled
      .withColumn("sw", sum(col("cents")).over(w))
      .withColumn("cw", count(lit(1)).over(w))
      .select(col("day"), col("n_orders"),
        (col("cents").cast("double") / lit(100.0)).as("revenue"),
        (expr("sw div cw").cast("double") / lit(100.0)).as("ma7"))
      .orderBy("day")
  }

  /** q191_audience_overlap — the bitmap-index intersection readout: for
    * every unordered pair of event types, the exact distinct-user
    * audiences, their intersection, and Jaccard overlap — the
    * "do purchasers also click" co-usage matrix that roaring-bitmap
    * engines (Druid/Pinot/ClickHouse bitmap indexes) serve, expressed
    * on shuffle primitives. The per-user type set is bounded by the
    * TYPE DOMAIN (≤ a handful), so the per-user pair expansion is
    * O(types²) per user — never a corpus-sized product.
    *
    * Scale shape: one distinct (user, type) projection (the dedup
    * exchange — at scale, the precomputed bitmap); per-type counts are
    * a types-sized aggregate of it; the pair counts come from the
    * user-keyed self-equi-join (bounded fan-out per the above) into a
    * types²-sized aggregate; the two tiny frames broadcast onto the
    * pair rows. Jaccard is integer ppm (exact div — no floats). */
  def audienceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val ut = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type")).distinct()
      .localCheckpoint()
    val perType = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val both = ut.alias("a")
      .join(ut.alias("b"),
        col("a.user_id") === col("b.user_id")
          && col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    both
      .join(broadcast(perType.select(col("event_type").as("type_a"), col("n").as("n_a"))),
        "type_a")
      .join(broadcast(perType.select(col("event_type").as("type_b"), col("n").as("n_b"))),
        "type_b")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_both"),
        expr("n_both * 1000000 div (n_a + n_b - n_both)").as("jaccard_ppm"))
      .orderBy("type_a", "type_b")
  }

  /** q199 alert-collapse window width (5 minutes, in µs). */
  val AlertBucketUs = 300000000L

  /** q199_alert_dedup — calendar-bucket event collapse (alert dedup):
    * keep the FIRST event per (type, user, aligned 5-minute bucket)
    * and report how many duplicates it suppressed — the dedup an
    * alerting/notification pipeline runs so a flapping check pages
    * once per window, not once per flap. Distinct semantics from the
    * gap family: q25 splits on inactivity gaps, q106/q11 dedup exact
    * keys forever; the CALENDAR alignment here makes every decision
    * scan-local to one keyed group — no ordering dependency between
    * buckets, no state beyond the group.
    *
    * Scale shape: bucket id is a scan-local integer division of the
    * µs timestamp; the keep decision is ONE partial-aggregable
    * struct-min per (type, user, bucket) — no windows, no self-join;
    * at 100 TB this is a single keyed exchange of the event stream,
    * and the same groupBy runs under Structured Streaming with a
    * watermark closing buckets. */
  def alertDedup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id"),
        expr(s"unix_micros(ts) div $AlertBucketUs").as("bucket"),
        struct(unix_micros(col("ts")).as("us"), col("event_id")).as("e"))
      .groupBy(col("event_type"), col("user_id"), col("bucket"))
      .agg(min(col("e")).as("first"), count(lit(1)).as("nb"))
      .select(col("event_type"), col("user_id"), col("bucket"),
        col("first.event_id").as("kept_event_id"),
        (col("nb") - 1).as("n_suppressed"))
      .orderBy("event_type", "user_id", "bucket")

  /** q202 recency half-life (days). */
  val DecayHalflifeDays = 30.0

  /** q202_decay_score — exponentially time-decayed value aggregation
    * (half-life [[DecayHalflifeDays]] days): per user, Σ value·2^(−age/h)
    * next to the raw total — the recency-weighted feature every
    * churn/LTV model and freshness-ranked feed consumes, where a plain
    * sum (q10) weights a year-old purchase like yesterday's.
    *
    * Determinism: cents quantize at the scan; each decayed summand
    * floor-quantizes to 1e-4 cents BEFORE the sum (the lesson-49
    * per-summand rule: pow agrees to ~1 ulp across engines, so the
    * floored integer is stable and the SUM is exact integer
    * arithmetic — no float accumulation order exists).
    *
    * Scale shape: the reference date is a broadcast 1-row max; age and
    * the decay weight are scan-local projections; one user-keyed
    * partial-aggregable sum. */
  def decayScore(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        floor(col("value") * lit(100) + lit(0.5)).cast("long").as("cents"))
    val ref = ev.agg(max(col("day")).as("ref"))
    ev.crossJoin(broadcast(ref))
      .select(col("user_id"), col("cents"),
        floor(col("cents") * pow(lit(2.0),
          -datediff(col("ref"), col("day")).cast("double") / lit(DecayHalflifeDays))
          * lit(1e4) + lit(0.5)).cast("long").as("dq"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents")).as("raw_cents"), sum(col("dq")).as("dq"))
      .select(col("user_id"), col("n_events"),
        (col("raw_cents").cast("double") / lit(100.0)).as("raw_value"),
        (col("dq").cast("double") / lit(1e6)).as("decayed_value"))
      .orderBy("user_id")
  }

  /** q203_cube — full CUBE grouping sets over (lang, source): all four
    * marginal combinations in ONE aggregation pass (q36 covers the
    * hierarchical ROLLUP; CUBE adds the cross-marginals a mix
    * dashboard reads — per-language totals ACROSS sources and
    * per-source totals ACROSS languages). Spark plans one Expand +
    * one partial-aggregable aggregate — the grouping-set fan-out is
    * map-side, never a second scan per grouping.
    *
    * Scale shape: one scan, one Expand (×4 rows map-side), one keyed
    * aggregate over the (langs+1)×(sources+1) domain. */
  def cubeAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .select(
        coalesce(col("lang"), lit("ALL")).as("lang"),
        coalesce(col("source"), lit("ALL")).as("source"),
        col("n_docs"), col("total_chars"))
      .orderBy("lang", "source")

  /** q204_wow_change — week-over-week revenue deltas: weekly order
    * revenue (integer cents, the [[RetentionEpochMs]]/[[WeekMs]] week
    * convention) with the previous week's value and the relative
    * change in exact ppm — the trend report layered on q188's daily
    * spine (weeks are dense over the order range, so no spine join is
    * needed; the FIRST week reports change 0 by convention).
    *
    * Scale shape: one week-keyed partial-aggregable aggregate (the
    * only corpus exchange); the lag runs over the WEEK domain
    * (~350 rows at any SF — whitelisted); delta in integer ppm via
    * div. */
  def wowChange(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // o_orderdate is TIMESTAMP_NTZ (midnight-aligned): derive the week
    // timezone-free via whole days since the epoch anchor — identical
    // to the oracle's epoch_ms floor because both anchors are midnight
    val weekly = Tables.orders(spark, sfDir)
      .select(
        floor(datediff(to_date(col("o_orderdate")), lit(java.sql.Date.valueOf("2024-01-01")))
          .cast("double") / lit(7.0)).cast("long").as("wk"),
        floor(col("o_totalprice") * lit(100) + lit(0.5)).cast("long").as("cents"))
      .groupBy(col("wk"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents"))
    val w = Window.orderBy(col("wk"))
    weekly
      .withColumn("prev", lag(col("cents"), 1).over(w))
      .select(col("wk"), col("n_orders"),
        (col("cents").cast("double") / lit(100.0)).as("revenue"),
        (coalesce(col("prev"), lit(0L)).cast("double") / lit(100.0)).as("prev_revenue"),
        when(col("prev").isNotNull && col("prev") > 0,
          expr("(cents - prev) * 1000000 div prev")).otherwise(lit(0L)).as("change_ppm"))
      .orderBy("wk")
  }

  /** q208 conversion horizon (24 h, µs). */
  val ConvHorizonUs = 86400000000L

  /** q208_conversion_rate — bounded-horizon conversion: per click week,
    * the share of clicks whose NEXT purchase (q195's forward as-of)
    * lands within 24 h — the windowed conversion KPI. q64's funnel is
    * lifetime-unbounded; real attribution expires: a purchase a month
    * later is not this click's conversion. Because the forward as-of
    * picks the EARLIEST subsequent purchase, "converted within H" ⇔
    * "earliest next purchase within H" — one as-of pass decides every
    * horizon.
    *
    * Scale shape: one forward as-of merge (q195's plan) + a scan-local
    * horizon predicate + one week-keyed partial-aggregable aggregate;
    * rate in exact integer ppm. */
  def conversionRate(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"), (-unix_micros(col("ts"))).as("c_negts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        (-unix_micros(col("ts"))).as("p_negts"))
    org.apache.spark.sql.graft.AsOf
      .join(clicks, purchases, "c_user", "c_negts", "p_user", "p_negts")
      .select(
        floor((unix_millis(col("c_ts")) - lit(RetentionEpochMs)).cast("double")
          / lit(WeekMs.toDouble)).cast("long").as("wk"),
        (col("p_ts").isNotNull &&
          unix_micros(col("p_ts")) - unix_micros(col("c_ts")) <= ConvHorizonUs)
          .cast("long").as("conv"))
      .groupBy(col("wk"))
      .agg(count(lit(1)).as("n_clicks"), sum(col("conv")).as("n_converted"))
      .select(col("wk"), col("n_clicks"), col("n_converted"),
        expr("n_converted * 1000000 div n_clicks").as("conv_ppm"))
      .orderBy("wk")
  }

  /** q216_time_heatmap — the hour-of-day × day-of-week traffic matrix
    * with exact ppm shares: the capacity/alerting baseline every event
    * pipeline draws (when is peak, how deep is the weekend trough) and
    * the seasonal PRIOR that q120/q174's anomaly rules normalize
    * against. 168 cells regardless of volume.
    *
    * Scale shape: hour/dow are scan-local projections off the µs
    * timestamp (timezone-free via epoch-day arithmetic: dow 0 =
    * Thursday, the Unix epoch's weekday — documented convention so
    * both engines derive it by integer div/mod, no locale surface);
    * ONE partial-aggregable 168-cell aggregate + a broadcast total. */
  def timeHeatmap(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.events(spark, sfDir)
      .select(
        expr("(unix_micros(ts) div 3600000000) % 24").cast("int").as("hour"),
        expr("(unix_micros(ts) div 86400000000) % 7").cast("int").as("dow"))
      .groupBy(col("dow"), col("hour"))
      .agg(count(lit(1)).as("n_events"))
    val tot = cells.agg(sum(col("n_events")).as("n_total"))
    cells.crossJoin(broadcast(tot))
      .select(col("dow"), col("hour"), col("n_events"),
        expr("n_events * 1000000 div n_total").as("share_ppm"))
      .orderBy("dow", "hour")
  }

  /** q217 multi-touch lookback window (7 days, µs). */
  val AttribWindowUs = 604800000000L

  /** q217_attribution_window — windowed multi-touch attribution: per
    * purchase week, how much revenue has at least one VIEW by the same
    * user in the 7 days before the purchase (attributable) vs none
    * (organic/dark), plus the mean touch count — the marketing-mix
    * input. q30/q195 attribute to ONE touch (last/next); this measures
    * the whole lookback window, which is what budget allocation
    * actually consumes.
    *
    * Scale shape: the purchases⋈views range join is user-keyed with
    * the time predicate INSIDE the user's partition (the q67
    * interval-join rule — never a time-bucketed cross product); per
    * purchase the touch count is one keyed aggregate; the weekly
    * rollup is a second small aggregate. All revenue in integer
    * cents, shares exact ppm. */
  def attributionWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        unix_micros(col("ts")).as("p_us"),
        unix_millis(col("ts")).as("p_ms"),
        floor(col("value") * lit(100) + lit(0.5)).cast("long").as("cents"))
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), unix_micros(col("ts")).as("v_us"))
    val touches = purchases.join(views,
        purchases("p_user") === views("v_user")
          && views("v_us") <= purchases("p_us")
          && views("v_us") > purchases("p_us") - AttribWindowUs,
        "left")
      .groupBy(col("p_id"), col("p_ms"), col("cents"))
      .agg(count(col("v_us")).as("n_touches"))
    touches
      .select(
        floor((col("p_ms") - lit(RetentionEpochMs)).cast("double")
          / lit(WeekMs.toDouble)).cast("long").as("wk"),
        col("cents"), col("n_touches"))
      .groupBy(col("wk"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("n_touches") > 0, 1L).otherwise(0L)).as("n_attributed"),
        sum(col("cents")).as("cents"),
        sum(when(col("n_touches") > 0, col("cents")).otherwise(0L)).as("attr_cents"),
        sum(col("n_touches")).as("touches"))
      .select(col("wk"), col("n_purchases"), col("n_attributed"),
        (col("cents").cast("double") / lit(100.0)).as("revenue"),
        (col("attr_cents").cast("double") / lit(100.0)).as("attributed_revenue"),
        expr("attr_cents * 1000000 div cents").as("attributed_ppm"),
        expr("touches * 1000000 div n_purchases").as("mean_touches_ppm"))
      .orderBy("wk")
  }

  /** q218_source_gini — Gini concentration of character mass across
    * sources: 0 = perfectly balanced corpus, →1 = one crawl dominates —
    * the single-number inequality readout behind q69's domain caps and
    * q60/q71's rebalancing (those FIX concentration; this MEASURES it,
    * and is the number a data card reports). Uses the exact discrete
    * Gini G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over ascending-ordered
    * source masses.
    *
    * Determinism/scale: source masses are one partial-aggregable
    * aggregate; the rank is a window over the SOURCES domain
    * (~dozens of rows — whitelisted); every term is exact integer
    * arithmetic to the final two ppm divisions. */
  def sourceGini(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val masses = Tables.documents(spark, sfDir)
      .groupBy(col("source")).agg(sum(col("n_chars")).as("x"))
    val ranked = masses
      .withColumn("i", row_number().over(Window.orderBy(col("x").asc, col("source").asc)))
    ranked
      .agg(count(lit(1)).as("n_sources"), sum(col("x")).as("total_chars"),
        sum(col("i") * col("x")).as("ix"))
      .select(col("n_sources"), col("total_chars"),
        (expr("2 * ix * 1000000 div (n_sources * total_chars)")
          - expr("(n_sources + 1) * 1000000 div n_sources")).as("gini_ppm"))
  }

  /** q221 tombstone rule: changelog rows with src doc_id ≡ 0 mod 7. */
  val MergeDeleteMod = 7L

  /** q221_merge_delete — CDC merge WITH tombstones: the changelog (the
    * last fifth of docs by id, the q63 split) targets keys
    * `src_id mod (S + S div 10)` — hitting existing keys AND a band
    * above the base — with op = DELETE when src_id ≡ 0 mod
    * [[MergeDeleteMod]], else UPSERT; ops apply in src_id (log) order,
    * LAST op wins. The outcome census (untouched / updated / deleted /
    * inserted / ghost-delete, each with a Σkey checksum) is the
    * reconciliation a Delta/Iceberg-style MERGE emits — q105 audits
    * the upsert half; tombstones are the half that makes compaction
    * and GDPR deletes work.
    *
    * Scale shape: last-op-per-key is ONE partial-aggregable struct-max
    * over the changelog (the argmax-by-sequence idiom — no window);
    * classification is a full-outer equi-join of key frames; the
    * census is a 5-row aggregate. */
  def mergeDelete(spark: SparkSession, sfDir: String): DataFrame = {
    val ids = Tables.documents(spark, sfDir).select(col("doc_id"))
    val s = ids.agg(expr("(count(1) * 4) div 5").as("s"),
      expr("(count(1) * 4) div 5 + (count(1) * 4) div 5 div 10").as("m"))
    val base = ids.crossJoin(broadcast(s)).filter(col("doc_id") < col("s"))
      .select(col("doc_id").as("key"))
    val lastOp = ids.crossJoin(broadcast(s)).filter(col("doc_id") >= col("s"))
      .select(pmod(col("doc_id"), col("m")).as("key"),
        struct(col("doc_id").as("src"),
          (pmod(col("doc_id"), lit(MergeDeleteMod)) === 0).as("del")).as("op"))
      .groupBy(col("key"))
      .agg(max(col("op")).as("last"))
      .select(col("key"), col("last.del").as("is_del"))
    base.withColumn("in_base", lit(true))
      .join(lastOp.withColumn("in_log", lit(true)), Seq("key"), "full_outer")
      .select(col("key"),
        when(col("in_base").isNotNull && col("in_log").isNull, "untouched")
          .when(col("in_base").isNotNull && !col("is_del"), "updated")
          .when(col("in_base").isNotNull && col("is_del"), "deleted")
          .when(col("in_base").isNull && !col("is_del"), "inserted")
          .otherwise("ghost_delete").as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_keys"), sum(col("key")).as("key_checksum"))
      .orderBy("status")
  }

  /** q222_lag_features — the lagged time-series feature frame: the
    * DENSE (user × week) activity grid with lag-1, lag-2 and a
    * trailing-4-week mean — the standard autoregressive feature block
    * a churn/forecast model trains on. Density matters: a sparse
    * frame silently makes "lag 1" mean "previous ACTIVE week" and
    * leaks activity information; the spine forces honest zeros.
    *
    * Scale shape: weekly counts are one keyed aggregate; the spine is
    * users × the broadcast week range (explode — the feature table's
    * inherent size, this IS the output); lag/rolling windows partition
    * by user over ≤ weeks rows each; the trailing mean is integer
    * `div` (exact). */
  def lagFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"),
        floor((unix_millis(col("ts")) - lit(RetentionEpochMs)).cast("double")
          / lit(WeekMs.toDouble)).cast("long").as("wk"))
    val weekly = ev.groupBy(col("user_id"), col("wk")).agg(count(lit(1)).as("n"))
    val bounds = ev.agg(min(col("wk")).as("w0"), max(col("wk")).as("w1"))
    val spine = ev.select(col("user_id")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("user_id"), explode(sequence(col("w0"), col("w1"))).as("wk"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("wk"))
    val w4 = w.rowsBetween(-3, 0)
    spine.join(weekly, Seq("user_id", "wk"), "left")
      .select(col("user_id"), col("wk"), coalesce(col("n"), lit(0L)).as("n_events"))
      .withColumn("lag1", coalesce(lag(col("n_events"), 1).over(w), lit(0L)))
      .withColumn("lag2", coalesce(lag(col("n_events"), 2).over(w), lit(0L)))
      .withColumn("sw", sum(col("n_events")).over(w4))
      .withColumn("cw", count(lit(1)).over(w4))
      .select(col("user_id"), col("wk"), col("n_events"), col("lag1"), col("lag2"),
        expr("sw div cw").as("ma4_floor"))
      .orderBy("user_id", "wk")
  }

  /** q220 RFM bands: recency fences (days) and frequency fences. */
  val RfmRecentDays = 7L
  val RfmLapsedDays = 30L
  val RfmFreqHigh = 20L

  /** q220_rfm — per-user Recency/Frequency/Monetary feature assembly
    * (the classic churn/LTV feature table): days since last event,
    * events in the trailing 30 days, lifetime cents, plus a
    * fixed-fence 3-letter segment code (R: active ≤7d / warm ≤30d /
    * lapsed; F: high ≥20 trailing events / low; M: above / below the
    * 500-dollar lifetime line) — fixed fences keep the features
    * scan-local (quantile fences would re-rank the user base per run;
    * a production feature store wants STABLE definitions).
    *
    * Scale shape: ONE user-keyed partial-aggregable pass computes all
    * three axes (max ts, conditional trailing count, cents sum)
    * against the broadcast reference time; the segment code is a
    * projection on the users-sized frame. */
  def rfm(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        floor(col("value") * lit(100) + lit(0.5)).cast("long").as("cents"))
    val ref = ev.agg(max(col("us")).as("ref_us"))
    val dayUs = 86400000000L
    val perUser = ev.crossJoin(broadcast(ref))
      .groupBy(col("user_id"))
      .agg(max(col("us")).as("last_us"),
        max(col("ref_us")).as("ref_us"),
        sum(when(col("us") > col("ref_us") - lit(RfmLapsedDays * dayUs), 1L)
          .otherwise(0L)).as("f30"),
        sum(col("cents")).as("cents"))
      .select(col("user_id"),
        expr(s"(ref_us - last_us) div $dayUs").as("recency_days"),
        col("f30"), col("cents"))
    perUser
      .select(col("user_id"), col("recency_days"), col("f30").as("freq_30d"),
        (col("cents").cast("double") / lit(100.0)).as("monetary"),
        concat(
          when(col("recency_days") <= RfmRecentDays, "A")
            .when(col("recency_days") <= RfmLapsedDays, "W").otherwise("L"),
          when(col("f30") >= RfmFreqHigh, "H").otherwise("L"),
          when(col("cents") >= 50000L, "H").otherwise("L")).as("segment"))
      .orderBy("user_id")
  }

  /** q230 delay histogram cap (hours; the ≥1-week tail collapses). */
  val DelayCapHours = 168L

  /** q230_delay_histogram — time-to-convert distribution: for every
    * converted click (q195's forward as-of), the click→purchase delay
    * bucketed into whole hours (capped at [[DelayCapHours]]) with
    * exact ppm shares — the latency curve that PICKS q208's horizon
    * (a 24 h cutoff is defensible exactly when this histogram says
    * the mass lands inside it) and the attribution-window evidence
    * marketing teams argue over.
    *
    * Scale shape: one as-of merge (q195's plan), a scan-local integer
    * division into hour buckets, one ≤169-row aggregate + broadcast
    * total. */
  def delayHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"), (-unix_micros(col("ts"))).as("c_negts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        (-unix_micros(col("ts"))).as("p_negts"))
    val buckets = org.apache.spark.sql.graft.AsOf
      .join(clicks, purchases, "c_user", "c_negts", "p_user", "p_negts")
      .filter(col("p_ts").isNotNull)
      .select(least(
        expr("(unix_micros(p_ts) - unix_micros(c_ts)) div 3600000000"),
        lit(DelayCapHours)).as("delay_hours"))
      .groupBy(col("delay_hours")).agg(count(lit(1)).as("n_conversions"))
    val tot = buckets.agg(sum(col("n_conversions")).as("n_total"))
    buckets.crossJoin(broadcast(tot))
      .select(col("delay_hours"), col("n_conversions"),
        expr("n_conversions * 1000000 div n_total").as("share_ppm"))
      .orderBy("delay_hours")
  }

  /** q214 conversion threshold: ≥ this many purchases (≈ the per-user
    * median at every SF, so both arms and both outcomes stay populated). */
  val AbConvMin = 14L

  /** q214_ab_test — two-proportion experiment readout: users split into
    * arms by id parity (the deterministic stand-in for assignment
    * hashing), per-user purchase conversion, and the pooled two-
    * proportion z statistic — the decision number an experimentation
    * platform computes over billions of events (sequential/bayesian
    * layers sit on top of exactly these counts). The engine-level
    * content is the two-phase shape: event rows collapse to ONE row
    * per user before any rate math, so arms compare users, not event
    * volume.
    *
    * Determinism: all four counts are exact integers; rates are exact
    * ppm; z evaluates one identical IEEE expression tree over those
    * integers on both engines and rounds to 6dp.
    *
    * Scale shape: one user-keyed partial-aggregable collapse (max of
    * a 0/1 flag), one 2-row arm aggregate, a 1-row fold. */
  def abTest(spark: SparkSession, sfDir: String): DataFrame = {
    // "converted" = at least AbConvMin purchases: every synthetic user
    // purchases at least once, so has-any-purchase would be the
    // degenerate 100% metric (lesson 47 — a threshold near the median
    // keeps both z-test tails populated at every SF)
    val perUser = Tables.events(spark, sfDir)
      .select(col("user_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
      .groupBy(col("user_id"))
      .agg((sum(col("p")) >= AbConvMin).cast("long").as("converted"))
      .select(pmod(col("user_id"), lit(2)).cast("int").as("arm"), col("converted"))
    val arms = perUser.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("x"))
    val a = arms.filter(col("arm") === 0).select(col("n").as("n_a"), col("x").as("x_a"))
    val b = arms.filter(col("arm") === 1).select(col("n").as("n_b"), col("x").as("x_b"))
    a.crossJoin(b)
      .select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
        expr("x_a * 1000000 div n_a").as("rate_a_ppm"),
        expr("x_b * 1000000 div n_b").as("rate_b_ppm"),
        round(
          (col("x_a").cast("double") / col("n_a").cast("double")
            - col("x_b").cast("double") / col("n_b").cast("double"))
            / sqrt(((col("x_a") + col("x_b")).cast("double")
              / (col("n_a") + col("n_b")).cast("double"))
              * (lit(1.0) - (col("x_a") + col("x_b")).cast("double")
                / (col("n_a") + col("n_b")).cast("double"))
              * (lit(1.0) / col("n_a").cast("double")
                + lit(1.0) / col("n_b").cast("double"))), 6).as("z"))
  }

  /** q195_asof_forward — FORWARD as-of join ("next event at or after"):
    * each click attributed to the user's NEXT purchase — conversion
    * attribution, where q30's backward as-of answers provenance
    * ("which view led here"). No new operator: the backward
    * [[org.apache.spark.sql.graft.AsOf]] plan runs on NEGATED
    * microsecond timestamps (max −t_p ≤ −t_c ⟺ min t_p ≥ t_c), a
    * direction-reversal composition the custom O(n+m) merge exec
    * supports because its as-of column is any ordered Long — the same
    * trick a deployment uses rather than shipping a second operator.
    * DuckDB's native ASOF is likewise backward-only, so the oracle
    * applies the identical negation.
    *
    * Scale shape: identical to q30 — ClusteredDistribution on user +
    * per-partition (user, −ts) sort planned by EnsureRequirements,
    * one O(n+m) two-pointer merge pass, O(1) state per partition. */
  def asofForward(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"), (-unix_micros(col("ts"))).as("c_negts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        (-unix_micros(col("ts"))).as("p_negts"), col("value").as("purchase_value"))
    org.apache.spark.sql.graft.AsOf
      .join(clicks, purchases, "c_user", "c_negts", "p_user", "p_negts")
      .select(
        col("click_id"), col("c_user").as("user_id"),
        date_format(col("c_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
        coalesce(date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss"), lit("-"))
          .as("purchase_ts"),
        coalesce(col("purchase_value"), lit(-1.0)).as("purchase_value"))
      .orderBy("click_id")
  }

  /** q235 lookback window: 7 days in µs. */
  val AttribLookbackUs: Long = 7L * 86400L * 1000000L

  /** q235_attribution_models — first-touch vs last-touch vs linear
    * multi-touch attribution, side by side: every purchase credits its
    * value to the user's touch events (view/click/signup) inside the
    * 7-day lookback under all three standard models — first gets 100%,
    * last gets 100%, linear splits evenly — with purchases that had NO
    * touch credited to the `(none)` organic bucket in every model. The
    * marketing-mix DECISION table: q30/q195 pick one touch by rule,
    * q217 measures the window, this prices how much the model CHOICE
    * moves each channel's credit (the argument attribution meetings
    * are actually about). Per (model, channel): credit in exact
    * micro-cents and the number of credit rows.
    *
    * Determinism: cents = floor(value·100 + 0.5) at the scan; first/
    * last are struct-min/max over (ts_µs, event_id, channel) — event
    * ids break timestamp ties totally; the linear split is integer
    * `cents·10⁴ div n` per touch (floor division both engines).
    *
    * Scale shape: the touch join is user-keyed with the time predicate
    * INSIDE the user partition (q67/q217 rule — never an unkeyed
    * interval join); the matched frame is localCheckpoint'ed once and
    * feeds one per-purchase partial-aggregable argmin/argmax/count
    * pass plus the per-touch linear projection; the final aggregate
    * lands on the 3×|channels| domain. */
  def attributionModels(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        unix_micros(col("ts")).as("pus"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
    val t = ev.filter(col("event_type").isin("view", "click", "signup"))
      .select(col("user_id").as("t_user"), col("event_id").as("t_id"),
        unix_micros(col("ts")).as("tus"), col("event_type").as("channel"))
    val j = p.join(t,
        col("p_user") === col("t_user") && col("tus") < col("pus") &&
          col("tus") >= col("pus") - lit(AttribLookbackUs), "left")
      .select(col("p_id"), col("cents"), col("t_id"), col("tus"), col("channel"))
      .localCheckpoint()
    val agg = j.groupBy(col("p_id")).agg(
        max(col("cents")).as("cents"),
        count(col("t_id")).as("n"),
        min(struct(col("tus"), col("t_id"), col("channel"))).as("f"),
        max(struct(col("tus"), col("t_id"), col("channel"))).as("l"))
      .localCheckpoint()
    val firstCred = agg.select(lit("first").as("model"),
      coalesce(col("f.channel"), lit("(none)")).as("channel"),
      (col("cents") * lit(10000L)).as("credit"))
    val lastCred = agg.select(lit("last").as("model"),
      coalesce(col("l.channel"), lit("(none)")).as("channel"),
      (col("cents") * lit(10000L)).as("credit"))
    val linCred = j.join(agg.select(col("p_id"), col("n")), "p_id")
      .select(lit("linear").as("model"),
        coalesce(col("channel"), lit("(none)")).as("channel"),
        when(col("n") > 0, expr("cents * 10000 div n"))
          .otherwise(col("cents") * lit(10000L)).as("credit"))
    firstCred.unionAll(lastCred).unionAll(linCred)
      .groupBy(col("model"), col("channel"))
      .agg(count(lit(1)).as("n_credits"), sum(col("credit")).as("credit_microcents"))
      .orderBy("model", "channel")
  }

  /** q236_segment_migration — user activity-magnitude transition
    * matrix between the two halves of the event timeline: each user's
    * tier in period A (first half of the observed [min ts, max ts]
    * span) vs period B, cross-tabulated with exact ppm shares — the
    * engagement-migration readout (how many users dropped a magnitude?)
    * that q117's cohort retention can't give (retention tracks
    * presence, not intensity). Tiers are the BIT LENGTH of the
    * period's event count (0 = inactive, k = count in [2^(k−1), 2^k))
    * — logarithmic buckets that stay discriminative at any corpus
    * scale with a STABLE definition (q220's rule: quantile fences
    * would re-segment the base per run), computed as string length of
    * the binary rendering (`bin` ↔ `printf('%b')`) so no float log
    * enters the tier decision. The time split is the span midpoint —
    * integer µs arithmetic, no calendar surface.
    *
    * Scale shape: ONE user-keyed partial-aggregable pass of two
    * conditional counts (the q155 two-period trick), scan-local tier
    * mapping, a ≤tiers²-row matrix aggregate with the user total
    * broadcast back. */
  def segmentMigration(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val mid = ev.agg(expr(
      "(min(unix_micros(ts)) + max(unix_micros(ts))) div 2").as("mid"))
    def tier(c: Column): Column =
      when(c === 0L, 0).otherwise(length(bin(c))).cast("int")
    val perUser = ev.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(sum(when(unix_micros(col("ts")) < col("mid"), 1L).otherwise(0L)).as("na"),
        sum(when(unix_micros(col("ts")) >= col("mid"), 1L).otherwise(0L)).as("nb"))
      .select(tier(col("na")).as("seg_a"), tier(col("nb")).as("seg_b"))
    val cells = perUser.groupBy(col("seg_a"), col("seg_b"))
      .agg(count(lit(1)).as("n_users"))
    val tot = cells.agg(sum(col("n_users")).as("n_total"))
    cells.crossJoin(broadcast(tot))
      .select(col("seg_a"), col("seg_b"), col("n_users"),
        expr("n_users * 1000000 div n_total").as("share_ppm"))
      .orderBy("seg_a", "seg_b")
  }

  /** q240_stickiness — weekly DAU/WAU stickiness ratio: per calendar
    * week (q117's epoch-anchored integer week ids), the mean daily
    * active users over the week's ACTIVE days divided by the weekly
    * active users — the classic engagement-intensity product metric
    * ("of the users we see in a week, what share do we see on a given
    * day"), the ratio form of the q216 heatmap and the per-week
    * companion of q236's migration matrix. Observed-day denominator
    * (not a fixed 7) keeps partial boundary weeks honest.
    *
    * Determinism: day/week ids are integer ms arithmetic; the heavy
    * exchange is ONE distinct on (week, day, user) — every pair
    * crosses once (q229's two-phase rule, never count(distinct)
    * buffers); WAU is a second distinct over that already-deduped
    * frame; stickiness is exact integer ppm.
    *
    * Scale shape: distinct → two partial-aggregable roll-ups; output
    * is |weeks| rows. */
  def stickiness(spark: SparkSession, sfDir: String): DataFrame = {
    val dayMs = 86400000L
    val base = Tables.events(spark, sfDir)
      .select(
        expr(s"floor((unix_millis(ts) - $RetentionEpochMs) / $WeekMs.0)")
          .cast("long").as("wk"),
        expr(s"floor((unix_millis(ts) - $RetentionEpochMs) / $dayMs.0)")
          .cast("long").as("day"),
        col("user_id"))
      .distinct().localCheckpoint()
    val daily = base.groupBy(col("wk"), col("day"))
      .agg(count(lit(1)).as("dau"))
      .groupBy(col("wk"))
      .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("sum_dau"))
    val wau = base.select(col("wk"), col("user_id")).distinct()
      .groupBy(col("wk")).agg(count(lit(1)).as("wau"))
    daily.join(wau, "wk")
      .select(col("wk"), col("n_days"), col("sum_dau"), col("wau"),
        expr("sum_dau * 1000000 div (n_days * wau)").as("stickiness_ppm"))
      .orderBy("wk")
  }

  /** q242 numeric profile columns (every lineitem measure). */
  val CorrCols: Seq[String] =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** q242_corr_matrix — pairwise Pearson correlation matrix over the
    * fact table's numeric measures in ONE scan: all C(4,2)=6
    * coefficients as partial-aggregable co-moment aggregates (q39
    * grades one pair; a feature-engineering or CBO profiling pass
    * wants the matrix — collinear features and functional
    * dependencies, e.g. price↔quantity, show up here before a model
    * or a join-estimate trusts the columns as independent).
    *
    * Determinism: `corr` is the identical single-pass co-moment
    * formula in both engines over the same doubles, rounded 6dp (the
    * q39 precedent); n is exact.
    *
    * Scale shape: one partial-aggregable 1-row aggregate (6 co-moment
    * states), unpivoted to pair rows by a scan-free stack. */
  def corrMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val pairs = for {
      i <- CorrCols.indices; j <- (i + 1) until CorrCols.size
    } yield (CorrCols(i), CorrCols(j))
    val aggs = pairs.map { case (a, b) =>
      round(corr(col(a), col(b)), 6).as(s"${a}__$b")
    } :+ count(lit(1)).as("n")
    val row = li.agg(aggs.head, aggs.tail: _*)
    val stacked = pairs
      .map { case (a, b) => s"'$a', '$b', ${a}__$b" }.mkString(", ")
    row.select(
        expr(s"stack(${pairs.size}, $stacked) AS (col_a, col_b, pearson)"),
        col("n"))
      .orderBy("col_a", "col_b")
  }

  /** q245_seasonal_baseline — seasonally-adjusted traffic deviations:
    * each (event_type, week, hour-of-day) cell against that (type,
    * hour)'s cross-week mean — the anomaly detector that does NOT
    * alarm on rush hour (q120's trailing z-score fires on every
    * seasonal peak; q216 shows the static profile; this measures each
    * week's deviation FROM that profile). The grid is DENSIFIED onto
    * the full types × observed-weeks × 24 spine (q188's lesson: a
    * silently absent cell is the anomaly most worth seeing — it
    * surfaces here as ratio 0 with the low flag up).
    *
    * Determinism: cells/ids are integer ms arithmetic on the q117
    * anchor; ratio is exact integer ppm (n·n_weeks·10⁶ div total);
    * the ±50% fences are integer cross-multiplications — no division
    * in any flag decision.
    *
    * Scale shape: ONE partial-aggregable (type, wk, hh) count; the
    * spine is a product of three tiny domain aggregates; baseline =
    * second aggregate over the 600-cell frame; everything post-scan is
    * domain-sized. */
  def seasonalBaseline(spark: SparkSession, sfDir: String): DataFrame = {
    val hourMs = 3600000L
    val base = Tables.events(spark, sfDir)
      .select(col("event_type"),
        expr(s"(unix_millis(ts) - $RetentionEpochMs) div $WeekMs")
          .cast("int").as("wk"),
        expr(s"((unix_millis(ts) - $RetentionEpochMs) div $hourMs) % 24")
          .cast("int").as("hh"))
      .groupBy(col("event_type"), col("wk"), col("hh"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val types = base.select(col("event_type")).distinct()
    val wks = base.select(col("wk")).distinct()
    val nw = wks.agg(count(lit(1)).as("n_weeks"))
    val spine = types.crossJoin(wks)
      .crossJoin(spark.range(0, 24).select(col("id").cast("int").as("hh")))
    val dense = spine.join(base, Seq("event_type", "wk", "hh"), "left")
      .select(col("event_type"), col("wk"), col("hh"),
        coalesce(col("n"), lit(0L)).as("n"))
    val tot = dense.groupBy(col("event_type"), col("hh"))
      .agg(sum(col("n")).as("tot"))
    dense.join(tot, Seq("event_type", "hh"))
      .crossJoin(broadcast(nw))
      .select(col("event_type"), col("wk"), col("hh"), col("n"), col("tot"),
        col("n_weeks"),
        when(col("tot") > 0, expr("n * n_weeks * 1000000 div tot"))
          .otherwise(lit(0L)).as("ratio_ppm"),
        (col("n") * col("n_weeks") * 2 > col("tot") * 3).as("flag_hi"),
        (col("n") * col("n_weeks") * 3 < col("tot") * 2).as("flag_lo"))
      .orderBy("event_type", "wk", "hh")
  }

  /** q246 DP mechanism scale: ε = 1, sensitivity 1 ⇒ Laplace b = 1. */
  val DpEpsilon = 1.0

  /** q246_dp_counts — differentially-private count release, mechanism
    * calibration table: per language, the true document count beside
    * its Laplace(1/ε)-noised release — the table a privacy review
    * reads to sign off scale and utility before production publishes
    * ONLY the noisy column (sensitivity 1: one document changes a
    * count by 1). The noise draw is DERANDOMIZED for the graded
    * contract: u = (md5-28("dp_"‖lang) + 0.5)/2²⁸ feeds the exact
    * inverse-CDF transform −b·sign(u−½)·ln(1−2|u−½|) — the identical
    * mechanism a production run seeds per release id, made replayable
    * the way every sampler in this engine is (q48's md5 rule applied
    * to noise).
    *
    * Determinism: u is an exact dyadic rational; the ln argument is
    * exact; the noise floor-quantizes to integer micros (q152's ln
    * convention) before the integer add.
    *
    * Scale shape: one partial-aggregable count onto the langs domain;
    * noise is scan-local arithmetic on the aggregate rows. */
  def dpCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val b = 1.0 / DpEpsilon
    val counts = Tables.documents(spark, sfDir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    counts
      .withColumn("u",
        (graft.functions.HashFunctions.md5Int28(concat(lit("dp_"), col("lang")))
          .cast("double") + lit(0.5)) / lit(268435456.0))
      .withColumn("noise_micro",
        floor(lit(-b) * signum(col("u") - lit(0.5)) *
          log(lit(1.0) - lit(2.0) * abs(col("u") - lit(0.5))) * lit(1e6))
          .cast("long"))
      .select(col("lang"), col("n_docs"), col("noise_micro"),
        // explicit double floor: noise is signed, and integer `div`
        // truncates toward zero where the oracle's floor rounds down
        (col("n_docs") + floor((col("noise_micro") + lit(500000L)) / lit(1e6))
          .cast("long")).as("noisy_count"),
        lit(DpEpsilon).as("epsilon"))
      .orderBy("lang")
  }

  /** q247_session_entropy — per-user behavioral entropy: Shannon
    * entropy of each user's event-type distribution — the one-number
    * behavioral-diversity screen (entropy 0 = single-action automation
    * — the classic bot signature; high entropy = organic mixed usage)
    * that complements q236's volume tiers with a SHAPE axis.
    *
    * Determinism: per-(user, type) shares are exact rationals; each
    * summand (c/n)·ln(n/c) floor-quantizes to integer nanos (q152's
    * ln rule) before the per-user integer sum, so the graded entropy
    * is an exact integer in nano-nats.
    *
    * Scale shape: one partial-aggregable (user, type) count; user
    * totals roll up from that frame (same shuffle key — exchange
    * reuse); the summand is scan-local; output is one row per user. */
  def sessionEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val ut = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val totals = ut.groupBy(col("user_id"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_types"))
    ut.join(totals, "user_id")
      .select(col("user_id"), col("n"), col("n_types"),
        floor((col("c").cast("double") / col("n")) *
          log(col("n").cast("double") / col("c")) * lit(1e9))
          .cast("long").as("term_nano"))
      .groupBy(col("user_id"))
      .agg(max(col("n")).as("n_events"), max(col("n_types")).as("n_types"),
        sum(col("term_nano")).as("entropy_nano"))
      .orderBy("user_id")
  }

  /** q258_weekly_bands — weekly p50/p90 value bands per event type:
    * the percentile-over-time SLO view (q38 grades one-shot exact
    * percentiles, q136 fixed CDF probes, q120/q245 count anomalies —
    * operations dashboards watch the QUANTILE TRAJECTORY: a p90 creep
    * under a flat p50 is the classic tail-degradation signature that
    * mean- and count-based monitors miss).
    *
    * Determinism: exact linear-interpolation percentiles per group
    * (`percentile` ↔ `quantile_cont`, the q38 parity precedent),
    * rounded 4dp; counts exact.
    *
    * Scale shape: one (type, week)-keyed percentile aggregate — each
    * group sorts its own slice (bounded by the week's traffic per
    * type; the approx_percentile swap at 100 TB is documented in
    * q49's precedent); output is types×weeks rows. */
  def weeklyBands(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .select(col("event_type"),
        expr(s"(unix_millis(ts) - $RetentionEpochMs) div $WeekMs")
          .cast("int").as("wk"),
        col("value"))
      .groupBy(col("event_type"), col("wk"))
      .agg(count(lit(1)).as("n"),
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"))
      .orderBy("event_type", "wk")
  }

  /** Lateness threshold for q265 (days from order date to ship date). */
  val WaitingLateDays = 365

  /** q265_waiting_suppliers — sole-late-supplier audit (TPC-H Q21's
    * shape): suppliers whose line was the ONLY late one in a
    * multi-supplier order — the vendor-accountability query whose
    * textbook form is a double-correlated EXISTS / NOT EXISTS
    * self-join. Spark-first rewrite: decorrelate BOTH subqueries into
    * ONE per-order aggregate (distinct suppliers, distinct LATE
    * suppliers) and filter the late pairs against it — the
    * aggregate-then-join form every optimizer wants but SQL authors
    * rarely write.
    *
    * Determinism: lateness is integer day arithmetic
    * (ship − order > [[WaitingLateDays]]); top-20 under a total order
    * (numwait desc, name, suppkey).
    *
    * Scale shape: ONE order-keyed exchange serves the join AND both
    * aggregate levels — the order⇄lineitem join is a SHUFFLED HASH
    * join (hint on the smaller orders side: sort-free, and its output
    * partitioning HashPartitioning(orderkey) satisfies the clustering
    * of groupBy(orderkey, suppkey) and groupBy(orderkey) alike), so
    * the per-pair dedup and the per-order roll-up both plan as
    * exchange-free fused codegen HashAggregates directly on the join
    * output (no ObjectHashAggregate set buffers, no count-distinct
    * EXPAND, no sort anywhere before the final top-k). The round-12
    * two-level-exchange broadcast form measured 15.7× the oracle on
    * job floors; collect_set and broadcast+repartition variants both
    * measured slower than this (5-rep A/B: 0.90 s vs 1.02/1.43 s
    * warm). No self-join of lineitem against itself ever forms. */
  def waitingSuppliers(spark: SparkSession, sfDir: String): DataFrame = {
    val lines = Tables.lineitem(spark, sfDir)
      // day-int projection before the exchange: shuffle (long, long,
      // int) rather than a timestamp — same datediff semantics
      .select(col("l_orderkey"), col("l_suppkey"),
        datediff(col("l_shipdate"), lit("1970-01-01")).as("shipday"))
      .join(Tables.orders(spark, sfDir)
        .select(col("o_orderkey").as("l_orderkey"),
          datediff(col("o_orderdate"), lit("1970-01-01")).as("orderday"))
        .hint("shuffle_hash"),
        "l_orderkey")
      .select(col("l_orderkey"), col("l_suppkey"),
        when(col("shipday") - col("orderday") > lit(WaitingLateDays), 1L)
          .otherwise(0L).as("late"))
    val perPair = lines.groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("late")).as("late"))
    val sole = perPair.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("ns"), sum(col("late")).as("nl"),
        max(when(col("late") === 1L, col("l_suppkey"))).as("l_suppkey"))
      .filter(col("ns") >= 2L && col("nl") === 1L)
    sole.groupBy(col("l_suppkey")).agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(spark, sfDir)
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"))), "l_suppkey")
      .select(col("l_suppkey").as("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"), col("s_suppkey"))
      .limit(20)
  }

  /** q266_sequence_conformance — funnel-order conformance census: per
    * user, does the first click follow a view and the first purchase
    * follow a click? Users classify into conforming /
    * click_before_view / purchase_before_click / both_violations —
    * the process-mining conformance audit that MEASURES how much of
    * the event log obeys the canonical view→click→purchase process
    * q64 assumes (q64 extracts the conforming path; this counts the
    * journeys that break it — instrumentation bugs, bot traffic and
    * dark-launch entry points all show up here first).
    *
    * Determinism: per-user conditional first-timestamps in exact µs;
    * violation flags are pure comparisons; shares exact ppm.
    *
    * Scale shape: ONE user-keyed conditional-min aggregate →
    * scan-local flags → ≤4-row census + broadcast total. */
  def sequenceConformance(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", unix_micros(col("ts"))))
          .as("fv"),
        min(when(col("event_type") === "click", unix_micros(col("ts"))))
          .as("fc"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .as("fp"))
    val flagged = perUser.select(
      (col("fc").isNotNull && (col("fv").isNull || col("fc") < col("fv")))
        .cast("int").as("click_viol"),
      (col("fp").isNotNull && (col("fc").isNull || col("fp") < col("fc")))
        .cast("int").as("purchase_viol"))
    val census = flagged.groupBy(col("click_viol"), col("purchase_viol"))
      .agg(count(lit(1)).as("n_users"))
      .select(
        when(col("click_viol") === 0 && col("purchase_viol") === 0,
          "conforming")
          .when(col("click_viol") === 1 && col("purchase_viol") === 0,
            "click_before_view")
          .when(col("click_viol") === 0 && col("purchase_viol") === 1,
            "purchase_before_click")
          .otherwise("both_violations").as("pattern"),
        col("n_users"))
    val tot = census.agg(sum(col("n_users")).as("n_total"))
    census.crossJoin(broadcast(tot))
      .select(col("pattern"), col("n_users"),
        expr("n_users * 1000000 div n_total").as("share_ppm"))
      .orderBy("pattern")
  }

  /** q264_decile_lift — spend-decile gains table: customers ranked by
    * FIRST-period revenue, split at the exact interpolated decile
    * boundaries of that spend, then each bucket's share of
    * SECOND-period revenue — the out-of-time gains/lift chart behind
    * "our top decile drives X% of next quarter" targeting claims
    * (q220 labels RFM segments by fixed thresholds; this measures
    * whether past-spend rank PREDICTS future spend, with the
    * future held out).
    *
    * Determinism: per-customer revenue in exact integer cents; the 9
    * boundaries are one exact interpolated-percentile aggregate
    * (q38's cross-engine convention) broadcast back; bucket = count
    * of boundaries strictly below the customer's cents — value-based,
    * so boundary ties land deterministically in the lower bucket and
    * heavy ties (zero-spenders) legitimately fold buckets together;
    * shares in exact ppm.
    *
    * Scale shape: one customer-keyed conditional-sum aggregate, a
    * broadcast 1-row boundary array, scan-local bucketing, a ≤10-row
    * bucket aggregate + broadcast total; no ranking window ever sees
    * customer rows. */
  def decileLift(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_custkey"),
        datediff(col("o_orderdate"), lit("1995-01-01")).cast("long").as("dday"),
        floor(col("o_totalprice") * lit(100.0)).cast("long").as("cents"))
    val span = orders.agg(expr("(min(dday) + max(dday)) div 2").as("mid"))
    val perCust = orders.crossJoin(broadcast(span))
      .groupBy(col("o_custkey"))
      .agg(sum(when(col("dday") < col("mid"), col("cents")).otherwise(0L))
        .as("cents_a"),
        sum(when(col("dday") >= col("mid"), col("cents")).otherwise(0L))
          .as("cents_b"))
      .localCheckpoint()
    val thr = perCust.agg(percentile(col("cents_a").cast("double"),
      array((1 to 9).map(i => lit(i / 10.0)): _*)).as("thr"))
    val bucketed = perCust.crossJoin(broadcast(thr))
      .withColumn("decile",
        (1 to 9).map(i =>
          when(col("cents_a").cast("double") > element_at(col("thr"), i), 1L)
            .otherwise(0L)).reduce(_ + _))
    val cells = bucketed.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_cust"), sum(col("cents_a")).as("cents_a"),
        sum(col("cents_b")).as("cents_b"))
    val tot = cells.agg(sum(col("cents_b")).as("tot_b"))
    cells.crossJoin(broadcast(tot))
      .select(col("decile"), col("n_cust"), col("cents_a"), col("cents_b"),
        expr("cents_b * 1000000 div tot_b").as("share_b_ppm"))
      .orderBy("decile")
  }

  /** q283 design knobs: the minimal detectable lift and the
    * α = β = 0.05 SPRT boundary ln((1−β)/α) = ln 19. */
  val SprtLift = 1.25
  val SprtBoundNano: Long = math.floor(math.log(19.0) * 1e9).toLong

  /** q283_sprt — sequential probability-ratio test trajectory (Wald
    * 1945) for the A/B experiment: the day-by-day log-likelihood
    * ratio of the treatment arm's conversions against H₀ (rate = the
    * control arm's final rate p₀) vs H₁ (rate = [[SprtLift]]·p₀),
    * with Wald's ±ln 19 boundaries — the "when could this experiment
    * have STOPPED" retrospective that q214's one-shot z-test cannot
    * answer, and the mechanism behind every always-valid-inference
    * dashboard (peeking at a fixed-horizon z-test inflates false
    * positives; the SPRT is built to be peeked at).
    *
    * Determinism: a trial is a USER-DAY (the user was active that
    * day), converting if that day saw a purchase — trials accrue
    * every day, giving the test a real time axis (per-user
    * enrollment would collapse onto the corpus's first days); the
    * two per-observation log-likelihood increments quantize to nano
    * ONCE (floor of doubles of exact integer ratios), so every daily
    * LLR is exact integer x·l₁ + (n−x)·l₂; decisions compare
    * integers against the integer boundary.
    *
    * Scale shape: one (user, day) aggregate, one (day, arm) roll-up,
    * cumulative windows over the DAY domain (whitelist class),
    * broadcast 1-row rate constants; |days| output rows. */
  def sprt(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dayMs = 86400000L
    val users = Tables.events(spark, sfDir)
      .groupBy(col("user_id"),
        expr(s"(unix_millis(ts) - $RetentionEpochMs) div $dayMs").as("day"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("converted"))
      .withColumn("arm", pmod(col("user_id"), lit(2L)))
      .localCheckpoint()
    val p0 = users.filter(col("arm") === 0L)
      .agg(count(lit(1)).as("n0"), sum(col("converted")).as("x0"))
      .select(
        (col("x0").cast("double") / col("n0").cast("double")).as("p0"))
      .select(col("p0"),
        least(lit(0.999), col("p0") * lit(SprtLift)).as("p1"))
      .select(
        floor(log(col("p1") / col("p0")) * lit(1e9)).cast("long").as("l1"),
        floor(log((lit(1.0) - col("p1")) / (lit(1.0) - col("p0"))) * lit(1e9))
          .cast("long").as("l2"))
    val daily = users.filter(col("arm") === 1L)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("dn"), sum(col("converted")).as("dx"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("n_b", sum(col("dn")).over(w))
      .withColumn("x_b", sum(col("dx")).over(w))
      .crossJoin(broadcast(p0))
      .select(col("day"), col("n_b"), col("x_b"),
        (col("x_b") * col("l1") + (col("n_b") - col("x_b")) * col("l2"))
          .as("llr_nano"))
      .select(col("day"), col("n_b"), col("x_b"), col("llr_nano"),
        when(col("llr_nano") >= SprtBoundNano, "accept_h1")
          .when(col("llr_nano") <= -SprtBoundNano, "accept_h0")
          .otherwise("continue").as("decision"))
      .orderBy("day")
  }

  /** Maximum lag for q284's autocorrelation function. */
  val AcfMaxLag = 14

  /** q284_autocorrelation — ACF of daily event volume at lags 1..14:
    * Σ(x_t−μ)(x_{t+k}−μ) / Σ(x_t−μ)² — the periodicity detector that
    * READS the weekly cycle q245 bakes in as an assumption (a spike
    * at lag 7 is the evidence; its absence means the seasonal
    * baseline is modeling noise), and the residual-whiteness check
    * after any q156-style trend fit.
    *
    * Determinism: deviations are made exact by scaling through the
    * day count (D·x − S, q260's trick); numerator and denominator
    * are exact ≤2⁵³ integer sums; the ratio floors ONE double (a
    * negative ACF would split trunc/floor integer division — lesson
    * 49).
    *
    * Scale shape: one day-keyed count; lag pairing is a self-join
    * keyed on day+k over the DAY domain; per-lag sums partial-
    * aggregable; 14 output rows. */
  def autocorrelation(spark: SparkSession, sfDir: String): DataFrame = {
    val dayMs = 86400000L
    val daily = Tables.events(spark, sfDir)
      .select(expr(s"(unix_millis(ts) - $RetentionEpochMs) div $dayMs").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val tot = daily.agg(count(lit(1)).as("dd"), sum(col("n")).as("s"))
    val dev = daily.crossJoin(broadcast(tot))
      .select(col("day"), (col("dd") * col("n") - col("s")).as("e"))
      .localCheckpoint()
    val den = dev.agg(sum(col("e") * col("e")).as("den"))
    val lags = dev.select(col("day"), col("e"),
      explode(sequence(lit(1), lit(AcfMaxLag))).as("k"))
      .select((col("day") + col("k")).as("day"), col("k"), col("e").as("e_lag"))
    val nums = dev.join(lags, "day")
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("e") * col("e_lag")).as("num"))
    nums.crossJoin(broadcast(den))
      .select(col("k").cast("long").as("k"), col("n_pairs"),
        floor(col("num").cast("double") / col("den").cast("double")
          * lit(1e6)).cast("long").as("acf_ppm"))
      .orderBy("k")
  }

  /** q292_tail_attribution — p99 tail decomposition: the corpus-wide
    * exact p99 of event value, then per event type its COUNT share of
    * the tail and its share of the EXCESS mass Σ(v − p99) — the
    * "which workload drives our tail latency" attribution every SRE
    * postmortem starts with (q258 tracks per-type quantiles over
    * time; this answers the cross-type blame question at one global
    * threshold — a type can have a modest p99 of its own yet
    * contribute most of the global tail by volume).
    *
    * Determinism: the threshold is one exact interpolated percentile
    * (q38's convention); tail membership is a strict comparison
    * against that shared double; excess contributions floor to
    * micros per row before the integer sums.
    *
    * Scale shape: one percentile aggregate broadcast back onto the
    * scan, one type-keyed conditional aggregate + broadcast totals;
    * |types| output rows. */
  def tailAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"))
    val thr = ev.agg(percentile(col("value"), lit(0.99)).as("p99"))
    val tail = ev.crossJoin(broadcast(thr))
      .filter(col("value") > col("p99"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_tail"),
        sum(floor((col("value") - col("p99")) * lit(1e6)).cast("long"))
          .as("excess_micros"),
        first(col("p99")).as("p99"))
    val tot = tail.agg(sum(col("n_tail")).as("nt"),
      sum(col("excess_micros")).as("et"))
    tail.crossJoin(broadcast(tot))
      .select(col("event_type"),
        (floor(col("p99") * lit(10000.0) + lit(0.5)) / lit(10000.0))
          .as("p99"),
        col("n_tail"),
        expr("n_tail * 1000000 div nt").as("tail_share_ppm"),
        col("excess_micros"),
        expr("excess_micros * 1000000 div et").as("excess_share_ppm"))
      .orderBy("event_type")
  }

  /** q287 trim fraction (each tail), in per-mille. */
  val TrimPerMille = 50L

  /** q287_trimmed_mean — exact 5%-trimmed mean of event value per
    * type: drop the lowest and highest [[TrimPerMille]]‰ of
    * OBSERVATIONS by rank and average the interior — the robust
    * location estimate between the mean (q39, outlier-dragged) and
    * the median (q38, throws away 98% of the data); the standard
    * latency-SLO aggregate when tails are heavy but the median is
    * too coarse.
    *
    * Determinism: rank boundaries are exact integers; each distinct
    * value's INCLUDED multiplicity is interval arithmetic on its
    * cumulative range (partial clipping at the boundary values —
    * exact, no interpolation); values enter the sum floor-quantized
    * to micros, so the weighted sum is pure integers.
    *
    * Scale shape: per-type value histogram, then ONE window pass
    * partitioned by type over distinct values (q61's argument)
    * computing BOTH the cumulative rank and the per-type total (same
    * partitioning, full frame — no second aggregate, no broadcast
    * join-back, and the histogram subtree is referenced exactly once
    * so it is never computed twice); rank boundaries are scan-local
    * arithmetic on that total. Two keyed exchanges, one linear plan
    * (the round-12 bounds-aggregate + join-back form recomputed the
    * histogram and measured 19× the oracle on job floors);
    * |types| output rows. */
  def trimmedMean(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byType = Window.partitionBy(col("event_type"))
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"), col("value")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        byType.orderBy(col("value"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("cnt")).over(byType))
      .select(col("event_type"), col("n"),
        (expr(s"n * $TrimPerMille div 1000") + lit(1L)).as("lo"),
        (col("n") - expr(s"n * $TrimPerMille div 1000")).as("hi"),
        col("cnt"), col("cum"),
        floor(col("value") * lit(1e6)).cast("long").as("v_micros"))
      .select(col("event_type"), col("n"), col("v_micros"),
        greatest(lit(0L),
          least(col("cum"), col("hi"))
            - greatest(col("cum") - col("cnt") + 1L, col("lo")) + lit(1L))
          .as("included"))
      .groupBy(col("event_type"), col("n"))
      .agg(sum(col("included")).as("n_kept"),
        sum(col("v_micros") * col("included")).as("sum_micros"))
      .select(col("event_type"), col("n"), col("n_kept"),
        expr("sum_micros div n_kept").as("trimmed_mean_micros"))
      .orderBy("event_type")
  }

  /** Steps graded in q288's absorption table. */
  val AbsorptionSteps = 3

  /** q288_absorption — k-step absorption probability into `purchase`
    * from each event type, over q128's within-session transition
    * matrix: p₁(s) = T(s, purchase); p_k(s) = p₁(s) +
    * Σ_{t≠purchase} T(s, t)·p_{k−1}(t) — "starting from a view, how
    * likely is a purchase within 3 clicks" — the absorbing-chain
    * readout that turns q128's one-step matrix into the funnel
    * forecast q64 measures empirically (agreement between the two is
    * the Markov assumption's own audit).
    *
    * Determinism: probabilities live on an integer ppm grid from step
    * one — each step is Σ c_st·p_{k−1}(t) div r_s (exact ≤2⁵³
    * integers, floor per step, identical both engines).
    *
    * Scale shape: the transition matrix is q128's one corpus pass
    * (shared chain), aggregated to the types² domain — a BOUNDED
    * driver read (|event types|² rows, the PQ-codebook / q306-gradient
    * precedent), after which the k-step unroll is pure driver integer
    * arithmetic re-emitted as literals: the corpus is touched exactly
    * once, in one job, instead of paying a checkpoint plus
    * 2·(k−1) tiny sequential join jobs on a ≤types² frame (the
    * round-12 plan-unrolled form measured 19.6× the oracle on job
    * floors alone). At any corpus size the distributed work is
    * identical — only the types²-domain matrix algebra moved off the
    * cluster. */
  def absorption(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val m = transitionCounts(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val rSum: Map[String, Long] =
      m.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._3).sum }
    // ppm grid, floor per step (all terms ≥ 0, so Long / == floor);
    // headroom: n_trans·p_ppm ≤ corpus·1e6 < 2^63 at any plausible SF
    val p1: Map[String, Long] = m.collect {
      case (s, "purchase", n) => s -> n * 1000000L / rSum(s)
    }.toMap
    var p = p1
    val out = Seq.newBuilder[(String, Long, Long)]
    p.foreach { case (s, v) => out += ((s, 1L, v)) }
    for (k <- 2 to AbsorptionSteps) {
      val acc: Map[String, Long] = m
        .collect { case (s, d, n) if d != "purchase" && p.contains(d) =>
          s -> n * p(d) }
        .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }
      p = (p1.keySet ++ acc.keySet).iterator.map { s =>
        s -> (p1.getOrElse(s, 0L) + acc.get(s).map(_ / rSum(s)).getOrElse(0L))
      }.toMap
      p.foreach { case (s, v) => out += ((s, k.toLong, v)) }
    }
    out.result().toDF("src", "k", "p_ppm").orderBy("src", "k")
  }

  /** q282_median_ci — distribution-free 95% confidence interval for
    * the per-type median via ORDER STATISTICS: the values at ranks
    * ⌊(n − 1.96√n)/2⌋ and ⌈1 + (n + 1.96√n)/2⌉ bracket the true
    * median with ≥95% coverage under NO distributional assumption
    * (the binomial argument — each observation falls below the median
    * with p=1/2) — the nonparametric error bar for every median this
    * suite reports (q38/q49/q258), where q268's bootstrap handles
    * means. Medians of skewed latency/value data are exactly where
    * normal-theory CIs lie.
    *
    * Determinism: ranks are floor/ceil of correctly-rounded doubles
    * of exact integers; the rank→value lookup walks the per-type
    * VALUE HISTOGRAM (smallest value whose cumulative count reaches
    * the rank) — exact, no interpolation ambiguity; the median
    * itself follows q38's interpolation convention, 4dp.
    *
    * Scale shape: one (type, value) histogram; cumulative windows
    * PARTITIONED by type over distinct values (q61's domain
    * argument); rank thresholds ride a broadcast per-type count;
    * |types| output rows. */
  def medianCi(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(percentile(col("value"), lit(0.5)), 4).as("median"))
      .select(col("event_type"), col("n"), col("median"),
        greatest(lit(1L), floor((col("n").cast("double")
          - lit(1.96) * sqrt(col("n").cast("double"))) / lit(2.0))
          .cast("long")).as("lo_rank"),
        least(col("n"), ceil((lit(1.0) + (col("n").cast("double")
          + lit(1.96) * sqrt(col("n").cast("double"))) / lit(2.0)))
          .cast("long")).as("hi_rank"))
    val hist = ev.groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("event_type")).orderBy(col("value"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(med), "event_type")
    val lo = hist.filter(col("cum") >= col("lo_rank"))
      .groupBy(col("event_type")).agg(round(min(col("value")), 4).as("ci_lo"))
    val hi = hist.filter(col("cum") >= col("hi_rank"))
      .groupBy(col("event_type")).agg(round(min(col("value")), 4).as("ci_hi"))
    med.join(lo, "event_type").join(hi, "event_type")
      .select(col("event_type"), col("n"), col("median"),
        col("lo_rank"), col("hi_rank"), col("ci_lo"), col("ci_hi"))
      .orderBy("event_type")
  }

  /** q260_changepoint — CUSUM mean-shift detection over daily event
    * volume: cumulative deviation from the global daily mean per day,
    * with the maximum-|S| day flagged as the single most likely level
    * shift (Page 1954's CUSUM statistic in its offline scan form) —
    * the structural-break detector the per-week z-scores (q120) and
    * the seasonal grid (q245) cannot give: those flag OUTLIER cells,
    * this locates WHERE the underlying level changed (deploy day,
    * logging change, bot onset).
    *
    * Determinism: with D days and N total events, n_d − N/D is made
    * exact by scaling through D: S'_d = Σ_{d'≤d} (D·n_d' − N) is pure
    * ≤2⁵³ integer arithmetic, identical both engines; the changepoint
    * is argmax |S'| with the earliest-day tie-break.
    *
    * Scale shape: one (day) partial-aggregable count; the cumulative
    * window runs over the DAY domain (≤ a few thousand rows at any
    * SF — QueriesSpec-whitelisted like q188's spine); totals ride
    * a broadcast 1-row aggregate; output is |days| rows. */
  def changepoint(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dayMs = 86400000L
    val daily = Tables.events(spark, sfDir)
      .select(expr(s"(unix_millis(ts) - $RetentionEpochMs) div $dayMs").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
    val tot = daily.agg(count(lit(1)).as("dd"), sum(col("n")).as("nn"))
    val cum = daily.crossJoin(broadcast(tot))
      .withColumn("cusum_scaled",
        sum(col("dd") * col("n") - col("nn"))
          .over(Window.orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val cp = cum.agg(max(struct(abs(col("cusum_scaled")).as("a"),
      (-col("day")).as("negd"))).as("m"))
      .select((-col("m.negd")).as("cp_day"))
    cum.crossJoin(broadcast(cp))
      .select(col("day"), col("n"), col("cusum_scaled"),
        when(col("day") === col("cp_day"), lit(1L)).otherwise(lit(0L))
          .as("is_changepoint"))
      .orderBy("day")
  }

  /** Maximum day span q293's pair generation covers. The events table
    * spans 30 days at every SF; 64 leaves headroom for a wider
    * generator vintage, and the spec asserts the pair count equals
    * the full n·(n−1)/2 so a silent span overflow cannot grade. */
  val KendallMaxSpan = 64

  /** q293_kendall_tau — Kendall τ-b between daily event volume and
    * daily value mass: over all day pairs, the balance of concordant
    * vs discordant orderings with the tie-corrected denominator —
    * the nonparametric association measure on the SERIES level
    * (q262's Spearman ranks individual docs; this asks whether
    * heavier DAYS carry proportionally heavier value, the capacity-
    * planning question "does load scale revenue monotonically").
    *
    * Determinism: both series are exact integers (a count and a sum
    * of per-row micro-floored values), so every pair comparison is
    * integer-exact; τ-b is one sqrt of exact integer products
    * (IEEE-correctly-rounded, lesson: sqrt only) rounded 6dp.
    *
    * Scale shape: one day-keyed aggregate (calendar-bounded), pair
    * generation via the q284 lag-explode identity (an equi-join on
    * day+k over the DAY domain — never a theta join), one global
    * pair aggregate; 1-row output. */
  def kendallTau(spark: SparkSession, sfDir: String): DataFrame = {
    val dayMs = 86400000L
    val daily = Tables.events(spark, sfDir)
      .select(expr(s"(unix_millis(ts) - $RetentionEpochMs) div $dayMs").as("day"),
        floor(col("value") * lit(1e6)).cast("long").as("v_micros"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("x"), sum(col("v_micros")).as("y"))
      .localCheckpoint()
    val earlier = daily.select(col("day"), col("x"), col("y"),
        explode(sequence(lit(1), lit(KendallMaxSpan))).as("k"))
      .select((col("day") + col("k")).as("day"),
        col("x").as("x1"), col("y").as("y1"))
    val pairs = daily.join(earlier, "day")
    val nDays = daily.agg(count(lit(1)).as("n_days"))
    pairs.agg(
        count(lit(1)).as("n_pairs"),
        sum(when((col("x") > col("x1") && col("y") > col("y1"))
          || (col("x") < col("x1") && col("y") < col("y1")), 1L)
          .otherwise(0L)).as("concordant"),
        sum(when((col("x") > col("x1") && col("y") < col("y1"))
          || (col("x") < col("x1") && col("y") > col("y1")), 1L)
          .otherwise(0L)).as("discordant"),
        sum(when(col("x") === col("x1"), 1L).otherwise(0L)).as("ties_x"),
        sum(when(col("y") === col("y1"), 1L).otherwise(0L)).as("ties_y"))
      .crossJoin(broadcast(nDays))
      .select(col("n_days"), col("n_pairs"), col("concordant"),
        col("discordant"), col("ties_x"), col("ties_y"),
        round((col("concordant") - col("discordant")).cast("double")
          / sqrt((col("n_pairs") - col("ties_x")).cast("double")
            * (col("n_pairs") - col("ties_y")).cast("double")), 6)
          .as("tau_b"))
  }

  /** q309_shapley_credit — set-based Shapley attribution: for each
    * purchase, the distinct channels touched in the lookback window
    * form a coalition with v(S) = revenue, and symmetry gives each
    * member exactly revenue/|S| — the game-theoretic model q235's
    * trio brackets (first/last are the extreme orderings; linear
    * splits by TOUCH COUNT so a channel spamming 9 of 10 touches
    * takes 90%, while Shapley splits by MEMBERSHIP and gives it a
    * third of a 3-channel set). Touchless purchases credit "(none)".
    *
    * Determinism: credits are exact integer microcents via
    * cents·10⁴ div |S| (positive — `div` safe); the distinct
    * (purchase, channel) set is exact.
    *
    * Scale shape: q235's purchase⋈touch lookback join collapsed to
    * DISTINCT (purchase, channel) rows (checkpointed — the set-size
    * aggregate and the credit fold both read it); one purchase-keyed
    * count, one channel rollup; ≤|channels|+1 output rows. */
  def shapleyCredit(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        unix_micros(col("ts")).as("pus"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
    val t = ev.filter(col("event_type").isin("view", "click", "signup"))
      .select(col("user_id").as("t_user"), unix_micros(col("ts")).as("tus"),
        col("event_type").as("channel"))
    val d = p.join(t,
        col("p_user") === col("t_user") && col("tus") < col("pus") &&
          col("tus") >= col("pus") - lit(AttribLookbackUs), "left")
      .select(col("p_id"), col("cents"), col("channel"))
      .distinct()
      .localCheckpoint()
    val k = d.groupBy(col("p_id")).agg(count(col("channel")).as("k"))
    d.join(k, "p_id")
      .select(coalesce(col("channel"), lit("(none)")).as("channel"),
        expr("cents * 10000 div greatest(k, 1)").as("credit"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(col("credit")).as("credit_microcents"))
      .orderBy("channel")
  }

  /** q310_matched_uplift — stratified exact matching: treatment =
    * "the user's FIRST event was a click" (a deterministic exposure
    * confounded with activity), outcome = purchase count, strata =
    * q236's bit-length activity tiers. Within each stratum treated
    * and control users are exchangeable on the matched axis, so the
    * per-stratum mean gap is the adjusted effect and the
    * treated-weighted fold is the ATT — the causal counterpart of
    * q214's raw A/B read (which is only valid because ITS assignment
    * is a hash; here assignment is organic and the naive gap is
    * confounded by activity, which is exactly what the
    * stratification removes). Strata without common support drop
    * from the fold, as matching prescribes.
    *
    * Determinism: per-stratum means are exact integer micro via
    * positive `div`; the ATT numerator is an integer sum of integer
    * products; the single final division floors on doubles (the
    * gap goes negative — q306's floor-not-div rule).
    *
    * Scale shape: one user-keyed collapse (count, outcome sum,
    * min-struct first event), one (stratum, arm) aggregate over
    * ≤2·tiers rows, the support-filtered stratum frame checkpoints
    * once (output + ATT fold); ≤tiers+1 output rows. */
  def matchedUplift(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("cnt"),
        sum((col("event_type") === "purchase").cast("long")).as("y"),
        min(struct(col("us"), col("event_id"), col("event_type"))).as("fe"))
    val cells = perUser
      .select(length(bin(col("cnt"))).as("stratum_b"),
        (col("fe").getField("event_type") === "click").cast("long").as("treated"),
        col("y"))
      .groupBy(col("stratum_b"))
      .agg(sum(when(col("treated") === 1, 1L).otherwise(0L)).as("nt"),
        sum(when(col("treated") === 1, col("y")).otherwise(0L)).as("yt"),
        sum(when(col("treated") === 0, 1L).otherwise(0L)).as("nc"),
        sum(when(col("treated") === 0, col("y")).otherwise(0L)).as("yc"))
    val rows = cells.filter(col("nt") > 0 && col("nc") > 0)
      .select(col("stratum_b").cast("string").as("stratum"), col("nt"),
        col("nc"),
        expr("yt * 1000000 div nt").as("treated_mean_micros"),
        expr("yc * 1000000 div nc").as("control_mean_micros"),
        expr("yt * 1000000 div nt - yc * 1000000 div nc").as("uplift_micros"))
      .localCheckpoint()
    val att = rows.agg(sum(col("nt")).as("ntt"), sum(col("nc")).as("ncc"),
        sum(col("nt") * col("uplift_micros")).as("wsum"))
      .select(lit("(att)").as("stratum"), col("ntt").as("nt"),
        col("ncc").as("nc"),
        lit(null).cast("long").as("treated_mean_micros"),
        lit(null).cast("long").as("control_mean_micros"),
        floor(col("wsum").cast("double") / col("ntt").cast("double"))
          .cast("long").as("uplift_micros"))
    rows.unionAll(att).orderBy("stratum")
  }

  /** q318_u_shape_attribution — position-based (U-shaped / 40-20-40)
    * credit, the fourth attribution model next to q235's first/last/
    * linear and q309's Shapley: the endpoints of each converting
    * touch path take 40% each and the interior splits the remaining
    * 20% evenly — the standard "discovery and closing both matter"
    * compromise. Degenerate paths keep conservation exact by
    * construction: one touch takes 100%, two touches 50/50,
    * touchless purchases credit "(none)".
    *
    * Determinism: per-touch credits are integer microcents
    * (cents·4000 / cents·2000 div (n−2) / cents·5000 / cents·10⁴ by
    * case — positive `div` only); first/last resolve by the
    * (timestamp, event_id) min/max structs, q235's tie rule.
    *
    * Scale shape: q235's lookback join (checkpointed — the endpoint
    * aggregate and the credit fold both read it), one purchase-keyed
    * aggregate, one channel rollup; ≤|channels|+1 rows. */
  def uShapeAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        unix_micros(col("ts")).as("pus"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
    val t = ev.filter(col("event_type").isin("view", "click", "signup"))
      .select(col("user_id").as("t_user"), col("event_id").as("t_id"),
        unix_micros(col("ts")).as("tus"), col("event_type").as("channel"))
    val j = p.join(t,
        col("p_user") === col("t_user") && col("tus") < col("pus") &&
          col("tus") >= col("pus") - lit(AttribLookbackUs), "left")
      .select(col("p_id"), col("cents"), col("t_id"), col("tus"), col("channel"))
      .localCheckpoint()
    val agg = j.groupBy(col("p_id")).agg(
      max(col("cents")).as("cents"), count(col("t_id")).as("n"),
      min(struct(col("tus"), col("t_id"))).as("f"),
      max(struct(col("tus"), col("t_id"))).as("l"))
    j.join(agg.select(col("p_id"), col("n"),
        col("f").getField("t_id").as("f_id"),
        col("l").getField("t_id").as("l_id")), "p_id")
      .select(coalesce(col("channel"), lit("(none)")).as("channel"),
        when(col("n") === 0, col("cents") * lit(10000L))
          .when(col("n") === 1, col("cents") * lit(10000L))
          .when(col("n") === 2, col("cents") * lit(5000L))
          .when(col("t_id") === col("f_id") || col("t_id") === col("l_id"),
            col("cents") * lit(4000L))
          .otherwise(expr("cents * 2000 div (n - 2)")).as("credit"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_credits"), sum(col("credit")).as("credit_microcents"))
      .orderBy("channel")
  }

  /** q321 leaderboard depth. */
  val TurnoverK = 10

  /** q321_rank_turnover — day-over-day leaderboard stability: each
    * day's top-[[TurnoverK]] users by event count, and what fraction
    * of today's board was already on yesterday's. A volatile board on
    * stable data means the metric is noise-ranked (q116's heavy
    * hitters need this check before anyone alerts on rank changes);
    * a frozen board under churning data means the metric saturated.
    * q289's RBO compares two RANKERS on one snapshot — this tracks
    * ONE ranker across time.
    *
    * Determinism: board membership ties break (count desc, user_id
    * asc); commonality and retention are exact integers.
    *
    * Scale shape: one (day, user) count; the board is a day-
    * partitioned rank window (shard-local after one day exchange)
    * kept to [[TurnoverK]] rows/day (checkpointed — the lag join
    * reads both sides); the turnover join is day+user keyed on two
    * ≤10·days-row frames; ≤days−1 output rows. */
  def rankTurnover(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"), col("user_id"))
      .groupBy(col("day"), col("user_id")).agg(count(lit(1)).as("cnt"))
    val top = daily
      .withColumn("rn", row_number().over(Window.partitionBy(col("day"))
        .orderBy(col("cnt").desc, col("user_id").asc)))
      .filter(col("rn") <= TurnoverK)
      .select(col("day"), col("user_id"))
      .localCheckpoint()
    val common = top
      .join(top.select((col("day") + 1).as("day"), col("user_id")),
        Seq("day", "user_id"))
      .groupBy(col("day")).agg(count(lit(1)).as("nc"))
    val days = top.select(col("day")).distinct()
    days.join(days.select((col("day") + 1).as("day")), "day")
      .join(common, Seq("day"), "left")
      .select(col("day"), coalesce(col("nc"), lit(0L)).as("n_common"),
        expr(s"coalesce(nc, 0) * 1000000 div $TurnoverK").as("retention_ppm"))
      .orderBy("day")
  }

  /** q323_theil_sen — the Theil-Sen robust trend of daily event
    * volume: the median of all pairwise day-slopes, with the median-
    * of-residuals intercept. q156's OLS trend moves arbitrarily far
    * under one bad ingestion day; the pairwise-median estimator has a
    * 29% breakdown point, so this is the trend line a volume monitor
    * should draw (and diverging Theil-Sen vs OLS slopes is itself
    * the outlier-day alarm).
    *
    * Determinism: pair slopes floor-nano-quantize exact integer
    * Δcount/Δday ratios; medians come from rank positions over the
    * bounded pair/day domains (tied slope values make the selected
    * VALUE unique regardless of tie order); the halving and the
    * residuals floor on doubles (negative-safe).
    *
    * Scale shape: one scan to the ≤31-row day histogram
    * (checkpointed — pair join and residual pass read it); the pair
    * frame is the day-domain self-join (≤465 rows at ANY corpus
    * size); both median windows run over those bounded domains
    * (whitelisted); 1-row output. */
  def theilSen(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 86400000000").as("dayabs"))
    val d0 = ev.agg(min(col("dayabs")).as("d0"))
    val daily = ev.crossJoin(broadcast(d0))
      .select((col("dayabs") - col("d0")).as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val pairs = daily.select(col("d").as("di"), col("c").as("ci"))
      .join(daily.select(col("d").as("dj"), col("c").as("cj")),
        col("di") < col("dj"))
      .select(floor((col("cj") - col("ci")).cast("double") * lit(1000000000.0)
        / (col("dj") - col("di")).cast("double")).cast("long").as("s"))
    val np = pairs.agg(count(lit(1)).as("np"))
    val slope = pairs
      .withColumn("rn", row_number().over(Window.orderBy(col("s"))).cast("long"))
      .crossJoin(broadcast(np))
      .agg(max(col("np")).as("n_pairs"),
        sum(col("s") * (expr("cast(rn = (np + 1) div 2 as long)")
          + expr("cast(rn = (np + 2) div 2 as long)"))).as("med2"))
      .select(col("n_pairs"),
        floor(col("med2").cast("double") / lit(2.0)).cast("long")
          .as("slope_nano"))
    val nd = daily.agg(count(lit(1)).as("ndays"))
    val res = daily.crossJoin(broadcast(slope))
      .select(col("d"), (col("c") * lit(1000000000L)
        - col("slope_nano") * col("d")).as("r"))
      .withColumn("rn", row_number().over(Window.orderBy(col("r"))).cast("long"))
      .crossJoin(broadcast(nd))
      .agg(sum(col("r") * (expr("cast(rn = (ndays + 1) div 2 as long)")
        + expr("cast(rn = (ndays + 2) div 2 as long)"))).as("rmed2"))
      .select(floor(col("rmed2").cast("double") / lit(2.0)).cast("long")
        .as("intercept_nano"))
    nd.crossJoin(broadcast(slope)).crossJoin(broadcast(res))
      .select(col("ndays").as("n_days"), col("n_pairs"), col("slope_nano"),
        col("intercept_nano"))
  }

  /** q327_cuped — CUPED variance reduction (Deng et al. 2013) on the
    * q214 experiment: pre-period activity is the covariate, post-
    * period purchase count the metric, θ = cov(x,y)/var(x) fitted
    * pooled, and the adjusted arm means follow in CLOSED FORM from
    * arm-level sums (ȳ'ₐ = ȳₐ − θ(x̄ₐ − x̄) — no per-row adjusted
    * pass). Reports the raw vs adjusted arm gap and ρ², whose value
    * IS the fraction of metric variance CUPED removes — the number
    * that decides whether an experimentation platform ships the
    * adjustment.
    *
    * Determinism: x and y are integer counts, so all five pooled
    * sums and the per-arm sums are exact BIGINTs; θ, the gaps, and
    * ρ² are fixed double trees over those integers, floor-quantized.
    *
    * Scale shape: one user-keyed conditional collapse over the span
    * midpoint (q236's integer-µs split), one arm aggregate + one
    * pooled aggregate, 1-row output. */
  def cuped(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_type"))
    val mid = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
    val perUser = ev.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(sum((col("us") < col("mid")).cast("long")).as("x"),
        sum((col("us") >= col("mid") && col("event_type") === "purchase")
          .cast("long")).as("y"))
      .select(pmod(col("user_id"), lit(2)).cast("int").as("arm"),
        col("x"), col("y"))
      .localCheckpoint()
    val pooled = perUser.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"), sum(col("y") * col("y")).as("syy"))
    val arms = perUser.groupBy(col("arm"))
      .agg(count(lit(1)).as("na"), sum(col("x")).as("ax"), sum(col("y")).as("ay"))
    val a = arms.filter(col("arm") === 0)
      .select(col("na").as("n_a"), col("ax").as("x_a"), col("ay").as("y_a"))
    val b = arms.filter(col("arm") === 1)
      .select(col("na").as("n_b"), col("ax").as("x_b"), col("ay").as("y_b"))
    a.crossJoin(b).crossJoin(broadcast(pooled))
      .select(col("n_a"), col("n_b"),
        ((col("n").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          / (col("n").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double"))).as("theta"),
        (col("y_a").cast("double") / col("n_a").cast("double")
          - col("y_b").cast("double") / col("n_b").cast("double")).as("raw_diff"),
        ((col("x_a").cast("double") / col("n_a").cast("double")
          - col("x_b").cast("double") / col("n_b").cast("double"))).as("x_diff"),
        (((col("n").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          * (col("n").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double")))
          / ((col("n").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double"))
            * (col("n").cast("double") * col("syy").cast("double")
              - col("sy").cast("double") * col("sy").cast("double"))))
          .as("rho2"))
      .select(col("n_a"), col("n_b"),
        floor(col("theta") * lit(1000000.0)).cast("long").as("theta_micro"),
        floor(col("raw_diff") * lit(1000000.0)).cast("long").as("raw_diff_micro"),
        floor((col("raw_diff") - col("theta") * col("x_diff"))
          * lit(1000000.0)).cast("long").as("adj_diff_micro"),
        floor(col("rho2") * lit(1000000.0)).cast("long").as("rho2_ppm"))
  }

  /** q328_diff_in_diff — difference-in-differences on the organic
    * "first event was a click" exposure (q310's treatment): purchase
    * counts per user in the pre and post halves of the timeline, and
    * the DiD estimate (ΔT − ΔC) that nets out both the group
    * difference (clicky users buy more at baseline) and the period
    * difference (volume drifts between halves). Completes the
    * observational-causal pair with q310: matching removes STATIC
    * confounding, DiD removes ADDITIVE TIME confounding — disagree
    * and the parallel-trends assumption broke.
    *
    * Determinism: four cell sums + two arm sizes, all exact BIGINTs
    * (each user is in exactly one group and contributes to both
    * periods); the four means and the DiD are one fixed double tree.
    *
    * Scale shape: one user-keyed collapse (first-event struct + two
    * conditional period counts), one group aggregate, 1-row
    * output. */
  def diffInDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
    val mid = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
    val perUser = ev.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(min(struct(col("us"), col("event_id"), col("event_type"))).as("fe"),
        sum((col("us") < col("mid") && col("event_type") === "purchase")
          .cast("long")).as("y_pre"),
        sum((col("us") >= col("mid") && col("event_type") === "purchase")
          .cast("long")).as("y_post"))
      .select((col("fe").getField("event_type") === "click").cast("long")
        .as("treated"), col("y_pre"), col("y_post"))
    val g = perUser.groupBy(col("treated"))
      .agg(count(lit(1)).as("n"), sum(col("y_pre")).as("sp"),
        sum(col("y_post")).as("so"))
    val t = g.filter(col("treated") === 1)
      .select(col("n").as("n_t"), col("sp").as("pre_t"), col("so").as("post_t"))
    val c = g.filter(col("treated") === 0)
      .select(col("n").as("n_c"), col("sp").as("pre_c"), col("so").as("post_c"))
    t.crossJoin(c)
      .select(col("n_t"), col("n_c"),
        expr("pre_t * 1000000 div n_t").as("pre_t_mean_micro"),
        expr("post_t * 1000000 div n_t").as("post_t_mean_micro"),
        expr("pre_c * 1000000 div n_c").as("pre_c_mean_micro"),
        expr("post_c * 1000000 div n_c").as("post_c_mean_micro"),
        floor(((col("post_t").cast("double") / col("n_t").cast("double")
          - col("pre_t").cast("double") / col("n_t").cast("double"))
          - (col("post_c").cast("double") / col("n_c").cast("double")
            - col("pre_c").cast("double") / col("n_c").cast("double")))
          * lit(1000000.0)).cast("long").as("did_micro"))
  }

  /** q329_mde — the power audit of the q214 experiment: given the
    * realized arm sizes and pooled conversion rate, the minimum
    * detectable absolute effect at α = 5% two-sided and 80% power
    * (z = 1.96 and 0.8416), next to the gap actually observed. The
    * one-row answer to "was this test even capable of seeing the
    * effect we care about?" — an insignificant q214 z with observed
    * gap ≪ MDE means underpowered, not null.
    *
    * Determinism: counts are exact; the MDE is one fixed double tree
    * (constants written identically on both engines), floored to
    * ppm; `powered` compares the two floored integers.
    *
    * Scale shape: q214's user-keyed collapse + arm aggregate, 1-row
    * output. */
  def mde(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = Tables.events(spark, sfDir)
      .select(col("user_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
      .groupBy(col("user_id"))
      .agg((sum(col("p")) >= AbConvMin).cast("long").as("converted"))
      .select(pmod(col("user_id"), lit(2)).cast("int").as("arm"), col("converted"))
    val arms = perUser.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("x"))
    val a = arms.filter(col("arm") === 0)
      .select(col("n").as("n_a"), col("x").as("x_a"))
    val b = arms.filter(col("arm") === 1)
      .select(col("n").as("n_b"), col("x").as("x_b"))
    a.crossJoin(b)
      .select(col("n_a"), col("n_b"),
        ((col("x_a") + col("x_b")).cast("double")
          / (col("n_a") + col("n_b")).cast("double")).as("p"),
        ((col("x_a").cast("double") / col("n_a").cast("double")
          - col("x_b").cast("double") / col("n_b").cast("double"))).as("d"),
        col("x_a"), col("x_b"))
      .select(col("n_a"), col("n_b"),
        expr("(x_a + x_b) * 1000000 div (n_a + n_b)").as("p_pool_ppm"),
        floor((lit(1.96) + lit(0.8416)) * sqrt(col("p") * (lit(1.0) - col("p"))
          * (lit(1.0) / col("n_a").cast("double")
            + lit(1.0) / col("n_b").cast("double")))
          * lit(1000000.0)).cast("long").as("mde_ppm"),
        floor(abs(col("d")) * lit(1000000.0)).cast("long").as("obs_diff_ppm"))
      .select(col("n_a"), col("n_b"), col("p_pool_ppm"), col("mde_ppm"),
        col("obs_diff_ppm"),
        (col("obs_diff_ppm") >= col("mde_ppm")).cast("long").as("powered"))
  }

  /** q331_forecast_backtest — rolling-origin backtest of the two
    * baseline forecasters every volume monitor should be benchmarked
    * against: last-value (ŷ_t = y_{t−1}) and seasonal-naive
    * (ŷ_t = y_{t−7}), scored by MAE over every day with both lags
    * available. q156 fits a trend and q245 a seasonal profile; this
    * measures whether either beats the naive baselines AT ALL — the
    * M-competition lesson institutionalized as an operator (a model
    * that can't beat seasonal-naive has negative value).
    *
    * Determinism: absolute errors are exact integers; MAEs are
    * integer ppm via positive `div`; the verdict compares integers.
    *
    * Scale shape: one scan collapse to the ≤31-row day histogram
    * (checkpointed — base and both lag joins read it); two day-keyed
    * lag joins on that domain; 1-row output. */
  def forecastBacktest(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 86400000000").as("dayabs"))
    val d0 = ev.agg(min(col("dayabs")).as("d0"))
    val daily = ev.crossJoin(broadcast(d0))
      .select((col("dayabs") - col("d0")).as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    daily
      .join(daily.select((col("d") + 1).as("d"), col("c").as("c_last")), "d")
      .join(daily.select((col("d") + 7).as("d"), col("c").as("c_snaive")), "d")
      .agg(count(lit(1)).as("n_eval"),
        sum(abs(col("c") - col("c_last"))).as("sae_last"),
        sum(abs(col("c") - col("c_snaive"))).as("sae_seasonal"))
      .select(col("n_eval"), col("sae_last"), col("sae_seasonal"),
        expr("sae_last * 1000000 div n_eval").as("mae_last_micro"),
        expr("sae_seasonal * 1000000 div n_eval").as("mae_seasonal_micro"),
        when(col("sae_seasonal") < col("sae_last"), lit("seasonal"))
          .when(col("sae_last") < col("sae_seasonal"), lit("last"))
          .otherwise(lit("tie")).as("winner"))
  }

  /** q334 candidate inactivity gaps (minutes). */
  val SessionGapsMin: Seq[Long] = Seq(15L, 30L, 60L)

  /** q334_session_gap_curve — sessionization TUNING: the session
    * census at inactivity gaps of 15/30/60 minutes, all from ONE
    * per-user delta pass (the gap parameter only thresholds the
    * precomputed inter-event deltas, so the whole curve costs one
    * window, not one sessionization per config). q25 ships the
    * 30-minute convention; this measures what that choice does —
    * where the session count stops moving as the gap grows, the
    * natural break structure has been found (the q315/q324 tuning-
    * curve family applied to sessionization).
    *
    * Determinism: deltas are exact integer µs; every census field is
    * integer arithmetic.
    *
    * Scale shape: one user-partitioned lag window (shard-local after
    * one user exchange — never a global order), the ≤|events|-row
    * delta frame collapses to one 3-conditional aggregate
    * (checkpointed — every gap reads it); |gaps| output rows. */
  def sessionGapCurve(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("n_events"),
        sum(col("delta").isNull.cast("long")).as("n_users")) ++
        SessionGapsMin.indices.map(i =>
          sum((col("delta") > SessionGapsMin(i) * 60000000L).cast("long"))
            .as(s"brk$i"))
    val deltas = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("delta", col("us") - lag(col("us"), 1).over(w))
      .agg(aggs.head, aggs.tail: _*)
      .localCheckpoint()
    SessionGapsMin.zipWithIndex.map { case (g, i) =>
      deltas.select(lit(g).as("gap_minutes"),
        (col("n_users") + col(s"brk$i")).as("n_sessions"),
        expr(s"n_events * 1000000 div (n_users + brk$i)")
          .as("events_per_session_ppm"),
        // greatest(…,1): every-user-has-one-event leaves zero
        // inter-event deltas — report 0-share rows, not a div/0
        // (the q309 convention; identical guard in the oracle)
        expr(s"brk$i * 1000000 div greatest(n_events - n_users, 1)")
          .as("break_share_ppm"))
    }.reduce(_.unionAll(_)).orderBy("gap_minutes")
  }

  /** q338_market_concentration — revenue-concentration metrics over
    * the customer base: the Herfindahl-Hirschman index (Σ share²),
    * the CR4 four-firm ratio, and the top-1 share. The standard
    * "how dependent is revenue on a few accounts" risk readout —
    * and, applied to a training corpus's SOURCES, the same math is
    * the "one crawl dominates the mix" alarm (q218's Gini measures
    * inequality of the whole curve; HHI weights the HEAD, which is
    * what concentration risk actually is).
    *
    * Determinism: revenue in exact integer cents per order (the
    * q235 half-up convention) summed per customer; Σrev² is an
    * exact BIGINT and HHI one floored double over it; CR4/top-1 are
    * integer ppm off a 4-row TakeOrdered head.
    *
    * Scale shape: one customer-keyed sum, one 1-row moment fold +
    * one bounded top-4 head; 1-row output. */
  def marketConcentration(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Tables.orders(spark, sfDir)
      .select(col("o_custkey"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      .groupBy(col("o_custkey")).agg(sum(col("cents")).as("rev"))
      .localCheckpoint()
    // the squared-revenue moment runs in THOUSAND-cent units: cents²
    // overflows BIGINT already at sf0.001 (5e8² × 1.5e3 customers),
    // while (rev div 1000)² × customers stays ≤ ~1e17 to sf1; shares
    // use the coarsened total so the ratio is self-consistent
    val tot = rev
      .select(col("rev"), expr("rev div 1000").as("revk"))
      .agg(count(lit(1)).as("n_customers"), sum(col("rev")).as("total"),
        sum(col("revk")).as("totk"),
        sum(col("revk") * col("revk")).as("s2"), max(col("rev")).as("top1"))
    val top4 = rev.orderBy(col("rev").desc, col("o_custkey").asc).limit(4)
      .agg(sum(col("rev")).as("t4"))
    tot.crossJoin(broadcast(top4))
      .select(col("n_customers"), col("total").as("total_cents"),
        floor(col("s2").cast("double")
          / (col("totk").cast("double") * col("totk").cast("double"))
          * lit(1000000.0)).cast("long").as("hhi_ppm"),
        expr("t4 * 1000000 div total").as("cr4_ppm"),
        expr("top1 * 1000000 div total").as("top1_share_ppm"))
  }

  /** q339_interarrival_cv — exponentiality diagnostic of the event
    * process: pooled within-user inter-arrival gaps (integer
    * seconds) and their coefficient of variation. A Poisson process
    * has CV = 1; CV ≫ 1 means bursty sessions (and q25's gap
    * sessionization is MEANINGFUL), CV ≪ 1 means machine-regular
    * traffic (and "sessions" are an artifact). The point-process
    * complement of q141's per-doc burstiness and the modeling
    * assumption check under q301's exponential-ish thinking.
    *
    * Determinism: gaps floor to integer seconds (µs div 10⁶ — both
    * engines floor positives identically); Σd and Σd² are exact
    * BIGINTs; CV² = n·Σd²/(Σd)² − 1 and its root are one fixed
    * double tree.
    *
    * Scale shape: one user-partitioned lag window (q334's pass),
    * one 3-sum fold; 1-row output. */
  def interarrivalCv(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("dus", col("us") - lag(col("us"), 1).over(w))
      .withColumn("d", expr("dus div 1000000"))
      .filter(col("d").isNotNull)
      .agg(count(lit(1)).as("n_gaps"), sum(col("d")).as("sd"),
        sum(col("d") * col("d")).as("sd2"))
      .select(col("n_gaps"),
        expr("sd div n_gaps").as("mean_gap_s"),
        floor((col("n_gaps").cast("double") * col("sd2").cast("double")
          / (col("sd").cast("double") * col("sd").cast("double"))
          - lit(1.0)) * lit(1000000.0)).cast("long").as("cv2_micro"),
        floor(sqrt(col("n_gaps").cast("double") * col("sd2").cast("double")
          / (col("sd").cast("double") * col("sd").cast("double"))
          - lit(1.0)) * lit(1000000.0)).cast("long").as("cv_micro"))
  }

  /** q342_partial_corr — partial correlation of daily event volume
    * and daily revenue CONTROLLING for the time trend: both series
    * drift over the month, so their raw correlation (q242's grain)
    * conflates co-movement with shared trend; r_xy·t removes the
    * linear time component from both sides via the closed form
    * (r_xy − r_xt·r_yt)/√((1−r_xt²)(1−r_yt²)). The difference
    * between raw and partial IS the trend confound, quantified.
    *
    * Determinism: volume is an integer count and revenue exact
    * integer cents per day; all five co-moment sums over the ≤31-row
    * day domain are exact BIGINTs; the three Pearson r's and the
    * partial are one fixed double tree, floor-quantized.
    *
    * Scale shape: one scan collapse to the day histogram (volume +
    * revenue in one aggregate), one 9-sum fold; 1-row output. */
  def partialCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 86400000000").as("dayabs"),
        when(col("event_type") === "purchase",
          floor(col("value") * 100 + lit(0.5)).cast("long")).otherwise(0L)
          .as("cents"))
    val d0 = ev.agg(min(col("dayabs")).as("d0"))
    val daily = ev.crossJoin(broadcast(d0))
      .groupBy((col("dayabs") - col("d0")).as("t"))
      .agg(count(lit(1)).as("x"), sum(col("cents")).as("y"))
    val m = daily.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"), sum(col("t")).as("st"),
      sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
      sum(col("t") * col("t")).as("stt"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("t")).as("sxt"), sum(col("y") * col("t")).as("syt"))
    def r(sab: String, sa: String, sb: String, saa: String, sbb: String): Column =
      (col("n").cast("double") * col(sab).cast("double")
        - col(sa).cast("double") * col(sb).cast("double")) /
        sqrt((col("n").cast("double") * col(saa).cast("double")
          - col(sa).cast("double") * col(sa).cast("double"))
          * (col("n").cast("double") * col(sbb).cast("double")
            - col(sb).cast("double") * col(sb).cast("double")))
    m.select(col("n").as("n_days"),
        r("sxy", "sx", "sy", "sxx", "syy").as("rxy"),
        r("sxt", "sx", "st", "sxx", "stt").as("rxt"),
        r("syt", "sy", "st", "syy", "stt").as("ryt"))
      .select(col("n_days"),
        floor(col("rxy") * lit(1000000.0)).cast("long").as("r_raw_micro"),
        floor(col("rxt") * lit(1000000.0)).cast("long").as("r_xt_micro"),
        floor(col("ryt") * lit(1000000.0)).cast("long").as("r_yt_micro"),
        floor((col("rxy") - col("rxt") * col("ryt"))
          / sqrt((lit(1.0) - col("rxt") * col("rxt"))
            * (lit(1.0) - col("ryt") * col("ryt")))
          * lit(1000000.0)).cast("long").as("r_partial_micro"))
  }

  /** q343_runs_test — Wald-Wolfowitz runs test of the daily-volume
    * series against its median: too FEW runs of above/below-median
    * days means positive persistence (trends), too many means
    * oscillation — the randomness check that decides whether q331's
    * last-value forecaster wins by structure or by luck, with an
    * exact null (E[R] = 2n₊n₋/n + 1) rather than q284's lag-by-lag
    * reading.
    *
    * Determinism: the doubled median is q174's order-statistic
    * identity over the day domain; signs are exact comparisons
    * (median-equal days join the BELOW side — documented
    * convention); runs come from a lag over the bounded DAY domain;
    * E[R], Var[R], z are one double tree over exact integers.
    *
    * Scale shape: one scan collapse to the ≤31-row day histogram
    * (checkpointed — median rank window, sign pass, and lag all read
    * it); everything after is day-domain bounded (whitelisted);
    * 1-row output. */
  def runsTest(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 86400000000").as("dayabs"))
    val d0 = ev.agg(min(col("dayabs")).as("d0"))
    val daily = ev.crossJoin(broadcast(d0))
      .groupBy((col("dayabs") - col("d0")).as("d"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val med = daily
      .select(col("d"), col("c"),
        row_number().over(Window.orderBy(col("c"), col("d"))).cast("long").as("rn"),
        count(lit(1)).over(Window.partitionBy(lit(1))).as("nd"))
      .agg(sum(col("c") *
        (expr("cast(rn = (nd + 1) div 2 as long)") +
         expr("cast(rn = (nd + 2) div 2 as long)"))).as("med2"))
    val signs = daily.crossJoin(broadcast(med))
      .select(col("d"), (col("c") * 2 > col("med2")).cast("long").as("s"))
    val runs = signs
      .withColumn("prev", lag(col("s"), 1).over(Window.orderBy(col("d"))))
      .agg(count(lit(1)).as("n"), sum(col("s")).as("n_above"),
        (sum((col("prev").isNull || col("prev") =!= col("s")).cast("long")))
          .as("n_runs"))
    runs.select(col("n").as("n_days"), col("n_above"),
        (col("n") - col("n_above")).as("n_below"), col("n_runs"),
        (lit(2.0) * col("n_above").cast("double")
          * (col("n") - col("n_above")).cast("double")
          / col("n").cast("double") + lit(1.0)).as("er"),
        col("n_runs").cast("double").as("rd"),
        col("n_above").cast("double").as("ad"),
        (col("n") - col("n_above")).cast("double").as("bd"),
        col("n").cast("double").as("nd"))
      .select(col("n_days"), col("n_above"), col("n_below"), col("n_runs"),
        floor(col("er") * lit(1000000.0)).cast("long").as("expected_runs_micro"),
        round((col("rd") - col("er"))
          / sqrt(lit(2.0) * col("ad") * col("bd")
            * (lit(2.0) * col("ad") * col("bd") - col("nd"))
            / (col("nd") * col("nd") * (col("nd") - lit(1.0)))), 6).as("z"))
  }

  /** q311 order window + lateness threshold (TPC-H Q4's shape on this
    * schema's columns: no commit/receipt dates, so "late" = shipped
    * more than [[LateShipDays]] days after the order). */
  val LateWindowStart = "1996-01-01"
  val LateWindowEnd = "1996-04-01"
  val LateShipDays = 60

  /** q311_late_orders — the TPC-H Q4 order-priority check: how many
    * orders placed in one quarter had at least one line shipped late,
    * counted by priority (reference shape: TPC-H spec rev 3.0 §B
    * Q4). The engine content is the decorrelated EXISTS: the
    * predicate subquery becomes one LEFT SEMI join keyed on the
    * order key with the lateness range as a join residual, so each
    * order counts ONCE however many lines are late — count-distinct-
    * free, unlike the naive inner-join + distinct rewrite.
    *
    * Scale shape: the quarter filter prunes the orders scan before
    * the join (predicate pushdown into the parquet scan); the semi
    * join shuffles only the filtered orders and the (orderkey,
    * shipdate) projection; ≤5 output rows. */
  def lateOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(LateWindowStart).cast("timestamp") &&
        col("o_orderdate") < lit(LateWindowEnd).cast("timestamp"))
    val l = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_shipdate"))
    o.join(l, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate")
          + expr(s"INTERVAL $LateShipDays DAYS"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** q307 decomposition depth: levels 1..5 cover block sizes 2..32 —
    * one past the 30-day event window, so the top level is the
    * half-month-vs-half-month contrast. */
  val HaarLevels = 5

  /** q307_haar_energy — Haar wavelet energy decomposition of the daily
    * event-volume series: for each dyadic scale 2^k, the summed
    * squared sibling-block differences. This is the multi-resolution
    * companion of q284's ACF — energy concentrated at small scales
    * means day-to-day jitter, at large scales means regime drift
    * (q260's changepoint would fire) — and the scale histogram is the
    * standard feature a seasonality detector reads.
    *
    * Determinism: block sums are exact integer counts at every level
    * (Haar details computed on SUMS, not normalized averages, so no
    * division ever happens); energies are integer sums of squared
    * integers. Nothing floats.
    *
    * Scale shape: one scan collapses to the ≤32-row day histogram
    * (checkpointed — all [[HaarLevels]] levels read it); each level
    * is two tiny keyed aggregates over that domain frame; fixed
    * 5-row output. */
  def haarEnergy(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 86400000000").as("dayabs"))
    val d0 = ev.agg(min(col("dayabs")).as("d0"))
    val daily = ev.crossJoin(broadcast(d0))
      .select((col("dayabs") - col("d0")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val levels = (1 to HaarLevels).map { k =>
      val half = 1L << (k - 1)
      daily
        .groupBy(expr(s"day div $half").as("b"))
        .agg(sum(col("cnt")).as("s"))
        .groupBy(expr("b div 2").as("pb"))
        .agg(sum(when(pmod(col("b"), lit(2L)) === 0, col("s"))
          .otherwise(-col("s"))).as("diff"))
        .agg(count(lit(1)).as("n_blocks"),
          coalesce(sum(col("diff") * col("diff")), lit(0L)).as("energy"))
        .select(lit(k).as("level"), lit(2L * half).as("block_days"),
          col("n_blocks"), col("energy"))
    }
    levels.reduce(_.unionAll(_)).orderBy("level")
  }

  /** q301 administrative censoring horizon: hours of each user's
    * history observed for the first purchase. 72 keeps BOTH outcomes
    * populated at every SF (censored users: 2 / 23 / 313 at
    * sf0.001/0.01/0.1 — measured; the spec asserts non-emptiness, and
    * censoring > 0 is also what keeps every KM step's risk set
    * strictly above its event count, so ln(1 − d/n) never hits
    * ln 0). */
  val KmCapHours = 72L

  /** q301_kaplan_meier — Kaplan-Meier survival curve of time-to-first-
    * purchase with administrative right-censoring: the standard
    * censoring-aware answer to "how long until a new user converts?",
    * where q230's delay histogram silently conditions on CONVERTED
    * users only (immortal-bias). Each user contributes from first
    * event to first purchase, or is censored at [[KmCapHours]]; the
    * curve multiplies (1 − dᵢ/nᵢ) over event times.
    *
    * Determinism: durations are exact integer hours (micros div
    * 3600000000 — q230's convention); the product lives in ln space
    * with each step's ln(1 − d/n) floor-nano-quantized from exact
    * integer ratios BEFORE the cumulative integer sum; the reported
    * survival exponentiates the integer back (one exp per output row).
    *
    * Scale shape: two user-keyed min aggregates (one filtered) joined
    * user-keyed; the duration histogram is ≤ [[KmCapHours]]+1 rows at
    * any corpus size, so both the at-risk reverse-cumsum window and
    * the ln-survival cumsum window run over the bounded DURATION
    * domain (whitelisted — never corpus rows); ≤ cap-many output
    * rows. */
  def kaplanMeier(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sfDir)
    val first = ev.groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("ft"))
    val purch = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("pt"))
    val isEvent = col("pt").isNotNull &&
      expr("(pt - ft) div 3600000000") < lit(KmCapHours)
    val subj = first.join(purch, Seq("user_id"), "left")
      .select(
        when(isEvent, expr("(pt - ft) div 3600000000"))
          .otherwise(lit(KmCapHours)).as("dur"),
        when(isEvent, lit(1L)).otherwise(lit(0L)).as("ev"))
    val hist = subj.groupBy(col("dur"))
      .agg(count(lit(1)).as("cnt"), sum(col("ev")).as("d"))
    val wRisk = Window.orderBy(col("dur"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val steps = hist
      .withColumn("n_risk", sum(col("cnt")).over(wRisk))
      .filter(col("d") > 0)
      .select(col("dur"), col("n_risk"), col("d"),
        floor(log((col("n_risk") - col("d")).cast("double")
          / col("n_risk").cast("double")) * lit(1000000000.0)).cast("long")
          .as("term_nano"))
    val wCum = Window.orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    steps.withColumn("ln_s_nano", sum(col("term_nano")).over(wCum))
      .select(col("dur").as("duration_hours"), col("n_risk"),
        col("d").as("d_events"), col("ln_s_nano"),
        floor(exp(col("ln_s_nano").cast("double") / lit(1000000000.0))
          * lit(1000000.0)).cast("long").as("s_ppm"))
      .orderBy("duration_hours")
  }

  /** q348_wilson_returns — return-rate ranking under UNCERTAINTY: per
    * part brand, the Wilson-score LOWER bound (z = 1.96) of its line
    * return rate beside the raw rate — the ranking rule that stops a
    * brand with 3 returns out of 4 lines outranking one with 200 out
    * of 400 (raw rates ignore evidence volume; the Wilson bound is the
    * standard fix, and the same formula every "sort by rating"
    * backend runs). The supplier-quality twin of q55/q159's revenue
    * rankings, with the statistical honesty of q268/q282's CIs.
    *
    * Determinism: n and k are exact integers; p̂ and the bound are ONE
    * identical double expression tree both engines (literals `3.8416`
    * and `1.96` parse to the same doubles everywhere), rounded 6dp;
    * raw rate in exact integer ppm.
    *
    * Scale shape: one lineitem scan → brand-keyed conditional
    * aggregate (25-row domain, partial map-side) with the part dim
    * broadcast into the scan; the bound is a scan-local double
    * projection on the 25-row result. */
  def wilsonReturns(spark: SparkSession, sfDir: String): DataFrame = {
    val byBrand = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_returnflag"))
      .join(broadcast(Tables.part(spark, sfDir)
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))), "l_partkey")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_returned"))
    byBrand
      .withColumn("p", col("n_returned").cast("double") / col("n_lines").cast("double"))
      .withColumn("nd", col("n_lines").cast("double"))
      .select(col("p_brand"), col("n_lines"), col("n_returned"),
        expr("n_returned * 1000000 div n_lines").as("return_rate_ppm"),
        round(expr(
          "(p + 3.8416 / (2.0 * nd) - 1.96 * sqrt(p * (1.0 - p) / nd" +
            " + 3.8416 / (4.0 * nd * nd))) / (1.0 + 3.8416 / nd)"), 6)
          .as("wilson_lb"))
      .orderBy("p_brand")
  }

  /** q351_seasonal_decompose — classical ADDITIVE decomposition of the
    * daily event-volume series: centered 7-day moving-average TREND
    * (defined where the full window exists), per-weekday SEASONAL
    * means of the detrended series (normalized to sum ~0 over the
    * week), and the RESIDUAL — the decomposition q245's weekday
    * baseline and q307's wavelet energies assume without exhibiting;
    * a residual that q343/q339 cannot distinguish from noise is the
    * evidence the additive model suffices. The time-series tier's
    * missing middle: q245 forecasts, q307 localizes energy, q331
    * backtests — this SHOWS the components.
    *
    * Determinism: the day histogram is exact integers; trend is a
    * 7-sum integer micro division; seasonal/residual are integer
    * subtractions with truncating integer division (BOTH engines
    * truncate toward zero — asserted by spec); no floats anywhere.
    *
    * Scale shape: one day-keyed count; every window (trailing MA,
    * weekday means, normalization) runs on the ≤31-row DAY domain —
    * the q260/q188 whitelisted calendar-bounded class; output is the
    * day table.
    *
    * Domain requirement: the series must span ≥13 days so every
    * weekday slot owns at least one detrended row (the centered 7-day
    * trend is undefined on the first/last 3 days, so with <13 days
    * some slots have NO seasonal mean and the inner join on slot
    * silently DROPS those days from the output — n_events included).
    * The oracle shares the inner-join semantics so grading stays
    * consistent, and RelationalSpec asserts the shipped corpora span
    * ≥14 days; on a shorter series, left-join the seasonal table and
    * accept NULL seasonal/residual instead. */
  def seasonalDecompose(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, sfDir)
      .select(expr(s"(unix_millis(ts) - $RetentionEpochMs) div 86400000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val w7 = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val trend = daily
      .withColumn("wsum", sum(col("n")).over(w7))
      .withColumn("wn", count(lit(1)).over(w7))
      .select(col("day"), col("n"),
        when(col("wn") === 7, expr("wsum * 1000000 div 7"))
          .otherwise(lit(null).cast("long")).as("trend_micro"))
    val det = trend.withColumn("det_micro",
      when(col("trend_micro").isNotNull, col("n") * lit(1000000L) - col("trend_micro")))
    val bySlot = det.filter(col("det_micro").isNotNull)
      .groupBy(pmod(col("day"), lit(7)).as("slot"))
      .agg(sum(col("det_micro")).as("ds"), count(lit(1)).as("dc"))
      .select(col("slot"), expr("ds div dc").as("s_raw"))
    val sMean = bySlot.agg(expr("sum(s_raw) div 7").as("s_mean"))
    val seasonal = bySlot.crossJoin(broadcast(sMean))
      .select(col("slot"), (col("s_raw") - col("s_mean")).as("seasonal_micro"))
    det.withColumn("slot", pmod(col("day"), lit(7)))
      .join(broadcast(seasonal), "slot")
      .select(col("day"), col("n").as("n_events"), col("trend_micro"),
        col("seasonal_micro"),
        when(col("det_micro").isNotNull,
          col("det_micro") - col("seasonal_micro")).as("residual_micro"))
      .orderBy("day")
  }
}
