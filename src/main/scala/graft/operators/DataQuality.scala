package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table-level data-quality machinery: the constraint-suite report a
  * pipeline runs before trusting a new snapshot (the Deequ-style
  * check battery) and the mergeable-statistics proof behind
  * incremental ingestion.
  *
  * Scale design: every check is either a partial-aggregable scan
  * aggregate (null/range/uniqueness counts) or ONE keyed anti-join
  * (referential integrity) — no check ever materializes violating
  * rows beyond a count, so the report costs one pass per table at any
  * corpus size.
  */
object DataQuality {

  /** q151_data_quality — the constraint battery over the star schema:
    * key uniqueness, referential integrity, null counts and range
    * laws, emitted as one (check, metric, passed) report — metric is
    * the VIOLATION count, so passed ⇔ metric = 0 and the report stays
    * a handful of rows however large the tables.
    *
    * Scale shape: uniqueness = count − distinct-count (two-phase
    * distinct, partial-aggregable); RI = LEFT ANTI join count keyed on
    * the foreign key (the only exchanges); ranges/nulls are scan-local
    * conditional sums. The per-check results are 1-row aggregates
    * unioned into the report — a fixed ~8-row frame. */
  def dataQuality(spark: SparkSession, sfDir: String): DataFrame =
    dataQualityFrom(Tables.orders(spark, sfDir), Tables.customer(spark, sfDir),
      Tables.lineitem(spark, sfDir))

  /** The battery over arbitrary orders/customer/lineitem frames —
    * injectable so the spec can plant violations (dup keys, orphan FKs,
    * out-of-range values) and prove each check actually fires. */
  private[graft] def dataQualityFrom(orders: DataFrame, customer: DataFrame,
      lineitem: DataFrame): DataFrame = {
    def check(name: String, metric: DataFrame): DataFrame =
      metric.select(lit(name).as("check"), col("metric").cast("long").as("metric"),
        (col("metric") === 0L).as("passed"))
    val checks = Seq(
      check("orders_pk_unique",
        orders.agg((count(lit(1)) - countDistinct(col("o_orderkey"))).as("metric"))),
      check("customer_pk_unique",
        customer.agg((count(lit(1)) - countDistinct(col("c_custkey"))).as("metric"))),
      check("lineitem_orderkey_ri",
        lineitem.join(orders, lineitem("l_orderkey") === orders("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("metric"))),
      check("orders_custkey_ri",
        orders.join(customer, orders("o_custkey") === customer("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("metric"))),
      check("orders_totalprice_positive",
        orders.agg(sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L)).as("metric"))),
      check("lineitem_discount_range",
        lineitem.agg(sum(when(col("l_discount") < 0.0 || col("l_discount") > 1.0, 1L)
          .otherwise(0L)).as("metric"))),
      check("lineitem_quantity_positive",
        lineitem.agg(sum(when(col("l_quantity") <= 0.0, 1L).otherwise(0L)).as("metric"))),
      check("orders_orderdate_nonnull",
        orders.agg(sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("metric"))))
    checks.reduce(_.union(_)).orderBy("check")
  }

  /** q155 split — the ingestion-batch convention (the q63/q87 split:
    * the last fifth of the id space is "new"). */
  val StatsBatchDen = 5

  /** q155_incremental_stats — MERGEABLE partial statistics: per-language
    * (count, Σchars, min, max) computed SEPARATELY over the base corpus
    * and an ingestion batch, then combined with the algebraic merge
    * (+, +, min, max) — the operator contract behind every incremental
    * ingestion pipeline: stats(base ⊎ batch) must equal
    * merge(stats(base), stats(batch)) without rescanning base. The
    * oracle computes the union directly, so the hash-match IS the
    * proof that the merge is lossless.
    *
    * Scale shape: two scan-pruned partial aggregates (langs-sized
    * frames) union into a second langs-keyed merge aggregate — at
    * 100 TB the base aggregate is the stored stats table and only the
    * batch is scanned; every statistic here is from the mergeable
    * (commutative-monoid) family, which is exactly why they survive
    * this decomposition. */
  def incrementalStats(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    // the q63 split convention: doc_id ≥ ⌊4n/5⌋ is the ingestion batch
    val split = docs.agg(expr(s"(count(1) * ${StatsBatchDen - 1}) div $StatsBatchDen").as("s"))
    val tagged = docs.crossJoin(broadcast(split))
      .withColumn("is_batch", col("doc_id") >= col("s"))
    def partial(df: DataFrame): DataFrame =
      df.groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
    val base = partial(tagged.filter(!col("is_batch")))
    val batch = partial(tagged.filter(col("is_batch")))
    base.union(batch)
      .groupBy(col("lang")).agg(
        sum(col("n_docs")).as("n_docs"), sum(col("sum_chars")).as("sum_chars"),
        min(col("min_chars")).as("min_chars"), max(col("max_chars")).as("max_chars"))
      .withColumn("mean_chars",
        floor(col("sum_chars").cast("double") / col("n_docs").cast("double")
          * lit(1e6) + lit(0.5)) / lit(1e6))
      .orderBy("lang")
  }

  /** q174_robust_outliers — per-language MAD-based outlier counts over
    * doc token counts. Mean/std anomaly rules (q120) break exactly when
    * they matter most: a few monster documents inflate σ until nothing
    * is an outlier. The robust pair — median and median-absolute-
    * deviation — has a 50% breakdown point, so the fence
    * |x − median| > 3·MAD holds even on heavy-tailed crawl data; this is
    * the per-language screen a curation pipeline runs before trusting
    * length-based quality tiers.
    *
    * Determinism: exact medians are kept on the half grid as DOUBLED
    * integers (med2 = x(k) + x(k2), the two middle order statistics;
    * equal for odd n), the deviations dev2 = |2x − med2| are integers,
    * their median is the QUADRUPLED integer mad4, and the fence
    * 2·dev2 > 3·mad4 compares integers — no float touches the
    * decision; the reported median/MAD divide by 2/4 onto exact
    * dyadic grids.
    *
    * Scale shape: two lang-partitioned rank windows (shard-local sorts
    * over the lang domain — at 100 TB this is a per-partition sort
    * after one lang exchange, no global order) each feeding a
    * langs-sized aggregate; the fence pass is scan-local conditional
    * counting against the broadcast ≤|langs|-row stats frame. */
  def robustOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.{TextFunctions => T}
    import org.apache.spark.sql.expressions.Window
    val x = Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"), size(T.wsTokens(col("text"))).cast("long").as("x"))
    def doubledMedian(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val w = Window.partitionBy(col("lang")).orderBy(col(valueCol), col("doc_id"))
      df.select(col("lang"), col(valueCol),
          row_number().over(w).cast("long").as("rn"),
          count(lit(1)).over(Window.partitionBy(col("lang"))).as("n"))
        .groupBy(col("lang"))
        .agg(max(col("n")).as("n"),
          sum(col(valueCol) *
            (expr("cast(rn = (n + 1) div 2 as long)") +
             expr("cast(rn = (n + 2) div 2 as long)"))).as(out))
    }
    val med = doubledMedian(x, "x", "med2").select(col("lang"), col("n"), col("med2"))
    val dev = x.join(broadcast(med), Seq("lang"))
      .select(col("lang"), col("doc_id"), col("x"),
        abs(col("x") * 2 - col("med2")).as("dev2"))
    val mad = doubledMedian(dev, "dev2", "mad4").select(col("lang"), col("mad4"))
    dev.join(broadcast(med), Seq("lang")).join(broadcast(mad), Seq("lang"))
      .groupBy(col("lang"))
      .agg(max(col("n")).as("n"), max(col("med2")).as("med2"),
        max(col("mad4")).as("mad4"),
        sum((col("dev2") * 2 > col("mad4") * 3).cast("long")).as("n_outliers"),
        max(col("dev2")).as("max_dev2"))
      .select(col("lang"), col("n"),
        (col("med2").cast("double") / lit(2.0)).as("median_tokens"),
        (col("mad4").cast("double") / lit(4.0)).as("mad_tokens"),
        col("n_outliers"),
        (col("max_dev2").cast("double") / lit(2.0)).as("max_abs_dev"))
      .orderBy("lang")
  }

  /** q194 KS comparison sources. */
  val KsSourceA = "src0"
  val KsSourceB = "src1"

  /** q194_ks_drift — two-sample Kolmogorov–Smirnov distance between two
    * sources' document-length distributions: D = max_v |F_A(v) − F_B(v)|
    * plus the length where the gap peaks — the DISTRIBUTION-SHAPE drift
    * test completing the drift family (q152's KL sees bin-mass shifts
    * but is blind to WHERE mass moved along the axis; KS is the
    * classic two-sample location/shape test and needs no binning).
    *
    * Exactness: both empirical CDFs are rationals c/N, so the gap
    * compares via CROSS-MULTIPLICATION — dnum = |cum_A·N_B − cum_B·N_A|
    * is an exact integer and the max over values never touches a
    * float; only the final reported D divides (ppm via integer div).
    * (BIGINT bounds: cum·N ≤ N_A·N_B — fine to ~3e9 rows per source;
    * beyond that the same arithmetic runs in decimal.)
    *
    * Scale shape: one conditional-count aggregate over the two-source
    * slice keyed by length VALUE, one cumulative window over that
    * value DOMAIN (never corpus rows — the q61/q136 convention,
    * whitelisted), a broadcast 1-row total, and a 1-row max fold with
    * the deterministic argmax tie-break (max gap, then smallest
    * length). */
  def ksDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, sfDir)
      .filter(col("source").isin(KsSourceA, KsSourceB))
      .select(col("source"), col("n_chars"))
    val counts = d.groupBy(col("n_chars").as("v"))
      .agg(sum(when(col("source") === KsSourceA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("source") === KsSourceB, 1L).otherwise(0L)).as("cb"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts.select(col("v"),
      sum(col("ca")).over(w).as("cuma"), sum(col("cb")).over(w).as("cumb"))
    val tot = d.agg(
      sum(when(col("source") === KsSourceA, 1L).otherwise(0L)).as("na"),
      sum(when(col("source") === KsSourceB, 1L).otherwise(0L)).as("nb"))
    cum.crossJoin(broadcast(tot))
      .select(col("na"), col("nb"),
        abs(col("cuma") * col("nb") - col("cumb") * col("na")).as("dnum"),
        col("v"))
      .groupBy(col("na"), col("nb"))
      .agg(max(struct(col("dnum"), (-col("v")).as("nv"))).as("top"))
      .select(lit(KsSourceA).as("source_a"), lit(KsSourceB).as("source_b"),
        col("na").as("n_a"), col("nb").as("n_b"),
        col("top.dnum").as("ks_num"),
        expr("top.dnum * 1000000 div (na * nb)").as("ks_ppm"),
        (-col("top.nv")).as("ks_at"))
  }

  /** q196_wasserstein_drift — Wasserstein-1 (earth-mover) distance
    * between the same two sources' length distributions: W₁ =
    * ∫|F_A − F_B| dv — the INTEGRAL companion of q194's max. KS asks
    * "is there a shift"; W₁ says "how many characters of work does the
    * shift represent" (in length units), which is the right cost
    * number for deciding whether drift warrants re-curation. Computed
    * on the same cumulative frame: Σ over the value domain of
    * |cum_A·N_B − cum_B·N_A| · (v_next − v), exact integers end to end
    * (the q194 cross-multiplication, weighted by the gap to the next
    * observed value via `lead`); only the final report divides.
    *
    * Scale shape: identical to q194 — value-domain aggregate +
    * cumulative/lead windows over the DOMAIN (whitelisted), broadcast
    * totals, 1-row fold. */
  def wassersteinDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, sfDir)
      .filter(col("source").isin(KsSourceA, KsSourceB))
      .select(col("source"), col("n_chars"))
    val counts = d.groupBy(col("n_chars").as("v"))
      .agg(sum(when(col("source") === KsSourceA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("source") === KsSourceB, 1L).otherwise(0L)).as("cb"))
    val wcum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wlead = Window.orderBy(col("v"))
    val cum = counts.select(col("v"),
      sum(col("ca")).over(wcum).as("cuma"), sum(col("cb")).over(wcum).as("cumb"),
      lead(col("v"), 1).over(wlead).as("vn"))
    val tot = d.agg(
      sum(when(col("source") === KsSourceA, 1L).otherwise(0L)).as("na"),
      sum(when(col("source") === KsSourceB, 1L).otherwise(0L)).as("nb"))
    cum.filter(col("vn").isNotNull)
      .crossJoin(broadcast(tot))
      .select(col("na"), col("nb"),
        (abs(col("cuma") * col("nb") - col("cumb") * col("na"))
          * (col("vn") - col("v"))).as("seg"))
      .groupBy(col("na"), col("nb"))
      .agg(sum(col("seg")).as("w1_num"))
      .select(lit(KsSourceA).as("source_a"), lit(KsSourceB).as("source_b"),
        col("na").as("n_a"), col("nb").as("n_b"), col("w1_num"),
        expr("w1_num * 1000 div (na * nb)").as("w1_milli"))
  }

  /** q213 PSI bin count (score ∈ [0,1] at 0.05 width ⇒ bins 0..20). */
  val PsiBins = 21

  /** q213_psi_drift — Population Stability Index of the q19 quality
    * SCORE between corpus halves (doc_id order as crawl order): per
    * bin, the Laplace-smoothed shares of each half and the PSI summand
    * (p−q)·ln(p/q) — the standard model-monitoring drift statistic
    * (PSI > 0.2 = retrain/recalibrate). q152's KL watches a CONTENT
    * distribution across sources; PSI watches a MODEL SCORE across
    * time, which is what actually gates a deployed quality filter.
    *
    * Determinism: the full fixed bin domain 0..20 is generated (empty
    * bins smooth to equal shares ⇒ summand 0), shares are exact
    * rationals over (n+[[PsiBins]]), each summand ln evaluates on
    * identical integers and floor-quantizes to 1e-9 before any sum
    * (the q152/lesson-49 rule).
    *
    * Scale shape: one scan for scores + broadcast split constant, one
    * (bin, half) count aggregate over the ≤2·21 domain, the rest is
    * bins-sized integer arithmetic. */
  def psiDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = TextAnalysis.quality(spark, sfDir)
      .select(col("doc_id"), col("quality_score"))
    val split = docs.agg(expr("count(1) div 2").as("s"))
    val binned = docs.crossJoin(broadcast(split))
      .select(
        least(floor(col("quality_score") * (PsiBins - 1)).cast("int"), lit(PsiBins - 1))
          .as("bin"),
        when(col("doc_id") < col("s"), 1L).otherwise(0L).as("in_a"))
    val counts = binned.groupBy(col("bin"))
      .agg(sum(col("in_a")).as("ca"), sum(lit(1L) - col("in_a")).as("cb"))
    val tot = binned.agg(sum(col("in_a")).as("na"),
      sum(lit(1L) - col("in_a")).as("nb"))
    val domain = spark.range(0, PsiBins).select(col("id").cast("int").as("bin"))
    domain.join(counts, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("ca"), lit(0L)).as("ca"), coalesce(col("cb"), lit(0L)).as("cb"))
      .crossJoin(broadcast(tot))
      .select(col("bin"), col("ca").as("n_a"), col("cb").as("n_b"),
        floor(((col("ca") + 1).cast("double") / (col("na") + PsiBins).cast("double")
          - (col("cb") + 1).cast("double") / (col("nb") + PsiBins).cast("double"))
          * log((col("ca") + 1).cast("double") * (col("nb") + PsiBins).cast("double")
            / ((col("cb") + 1).cast("double") * (col("na") + PsiBins).cast("double")))
          * lit(1e9) + lit(0.5)).cast("long").as("psi_nano"))
      .orderBy("bin")
  }

  /** q249 candidate (child table.col → parent table.col) probes —
    * every star-schema key path plus one deliberate NON-key probe
    * (events.user_id → customer key): discovery must measure, not
    * assume, so the list contains pairs expected to fail. */
  val FkCandidates: Seq[(String, String, String, String)] = Seq(
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("events", "user_id", "customer", "c_custkey"))

  /** q249_fk_discovery — inclusion-dependency DISCOVERY across the
    * star schema: for each candidate (child.col → parent.col) pair,
    * the child's distinct-value count, how many of those values exist
    * in the parent column, containment in exact ppm, and the
    * discovered flag (full containment) — the data-catalog pass that
    * INFERS joinability where q151's constraint suite VALIDATES
    * declared keys (on an undocumented lake, this table IS the
    * schema). The candidate list deliberately includes a non-key
    * probe, so the operator demonstrably measures rather than
    * rubber-stamps.
    *
    * Determinism: distinct counts and semi-join matches are exact
    * integers; containment is one integer ppm division.
    *
    * Scale shape: ONE scan per distinct child table (lineitem's three
    * candidates ride a single pass — explode to (candidate, value)
    * rows, then one two-phase distinct over the union; the fold that
    * halved this query's bench cost in round 11) + ONE left join of
    * the tagged child values against the union of distinct parent-key
    * sets (keyed by candidate, so a value only matches its own
    * parent; each unique parent column scanned once even when two
    * candidates share it, and ≤1 parent row matches since parents are
    * distinct) whose match marker feeds BOTH counts in a single
    * per-candidate aggregate — the round-12 fold that removed the
    * separate distinct-count job, the semi-join job, the agg⋈agg join
    * AND the multi-reference localCheckpoint (the r11 shape ran 4-5
    * sequential jobs and measured 49.8× the oracle on job-count
    * alone; the child frame is now referenced exactly once). Keys are
    * widened to BIGINT so heterogeneous candidates union — equality
    * is preserved (all candidate columns are integral). */
  def fkDiscovery(spark: SparkSession, sfDir: String): DataFrame = {
    // one reader per distinct table (file-listing + footer reads are
    // per-call driver work; the integral gate below would otherwise
    // double them)
    val loaded = scala.collection.mutable.Map.empty[String, DataFrame]
    def load(t: String) = loaded.getOrElseUpdate(t, t match {
      case "events" => Tables.events(spark, sfDir)
      case other    => Tables.table(spark, sfDir, other)
    })
    // the BIGINT widening below preserves equality ONLY for integral
    // columns (a string key would cast to NULL and be silently dropped
    // by the isNotNull filter, deflating the counts): fail loudly at
    // build time if a future candidate breaks the invariant
    def requireIntegral(df: DataFrame, t: String, c: String): Unit = {
      import org.apache.spark.sql.types._
      val dt = df.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"fkDiscovery candidate $t.$c is $dt — only integral key " +
          "columns survive the BIGINT widening; extend the key type " +
          "handling before adding non-integral candidates")
    }
    FkCandidates.foreach { case (ct, cc, pt, pc) =>
      requireIntegral(load(ct), ct, cc); requireIntegral(load(pt), pt, pc)
    }
    val child = FkCandidates.groupBy(_._1).toSeq.map { case (ct, cands) =>
      val tagged = cands.map { case (_, cc, pt, pc) =>
        struct(lit(s"$ct.$cc").as("child_col"), lit(s"$pt.$pc").as("parent_col"),
          col(cc).cast("long").as("v"))
      }
      load(ct).select(explode(array(tagged: _*)).as("c"))
        .select(col("c.child_col"), col("c.parent_col"), col("c.v"))
        .filter(col("v").isNotNull)
    }.reduce(_ unionAll _).distinct()
    val parents = FkCandidates.map { case (_, _, pt, pc) => (pt, pc) }.distinct
      .map { case (pt, pc) =>
        load(pt).select(lit(s"$pt.$pc").as("parent_col"),
          col(pc).cast("long").as("v")).distinct()
      }.reduce(_ unionAll _)
    child.join(parents.withColumn("m", lit(1)), Seq("parent_col", "v"), "left")
      .groupBy(col("child_col"), col("parent_col"))
      .agg(count(lit(1)).as("n_child_distinct"), count(col("m")).as("n_matched"))
      .select(col("child_col"), col("parent_col"),
        col("n_child_distinct"), col("n_matched"),
        expr("n_matched * 1000000 div n_child_distinct").as("containment_ppm"),
        (col("n_matched") === col("n_child_distinct")).as("discovered"))
      .orderBy("child_col", "parent_col")
  }

  /** q254_quality_length_ols — score-confound regression: OLS of the
    * q19 quality score on ln(doc length) plus their Pearson r — the
    * "is our quality score secretly a length detector" calibration
    * audit run before a filter threshold ships (a slope explaining
    * most of the score's variance means length-capping would do the
    * same job cheaper, and that the score adds little signal). The
    * methodological companion of q209 (dedup×quality) and q213 (score
    * drift): every score that gates data needs its confounds priced.
    *
    * Determinism: x = ln(n_chars) and y = the 5dp-grid score feed the
    * co-moment aggregates `regr_slope`/`regr_intercept`/`corr` —
    * identical single-pass formulas in both engines over the same
    * doubles, rounded 6dp (the q39/q242 convention).
    *
    * Scale shape: one partial-aggregable co-moment pass over the
    * scored frame; 1-row output. */
  def qualityLengthOls(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = TextAnalysis.quality(spark, sfDir)
      .select(col("doc_id"), col("quality_score"))
      .join(Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("n_chars")), "doc_id")
      .filter(col("n_chars") > 0)
      .select(col("quality_score").as("y"),
        log(col("n_chars").cast("double")).as("x"))
    scored.agg(count(lit(1)).as("n"),
      round(expr("regr_slope(y, x)"), 6).as("slope"),
      round(expr("regr_intercept(y, x)"), 6).as("intercept"),
      round(corr(col("y"), col("x")), 6).as("pearson"))
  }

  /** q257_chi2_independence — χ² test of lang × source independence:
    * is the language mix the same across sources, or does each crawl
    * bring its own? The categorical-independence complement of q152's
    * per-source KL (KL measures one source against the corpus; χ² is
    * the joint test with a null distribution and dof) — the routine
    * contingency audit before treating lang and source as independent
    * stratification axes (q48/q60/q131 all implicitly do).
    *
    * Determinism: the grid is DENSIFIED (zero cells contribute —
    * omitting them understates χ²); each summand
    * (o·N − r·c)² / (N·r·c) is one division of exact ≤2⁵³ integers
    * (correctly rounded, identical both engines), floor-quantized to
    * nano before the integer sum (q152's rule).
    *
    * Scale shape: one (lang, source) count; marginals roll up from
    * the grid aggregate; the dense spine is a product of two tiny
    * domain aggregates; 1-row output. */
  def chi2Independence(spark: SparkSession, sfDir: String): DataFrame = {
    val obs = Tables.documents(spark, sfDir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
      .localCheckpoint()
    val rl = obs.groupBy(col("lang")).agg(sum(col("o")).as("r"))
    val cs = obs.groupBy(col("source")).agg(sum(col("o")).as("c"))
    val nn = obs.agg(sum(col("o")).as("nn"))
    val dense = rl.crossJoin(cs)
      .join(obs, Seq("lang", "source"), "left")
      .select(col("lang"), col("source"), col("r"), col("c"),
        coalesce(col("o"), lit(0L)).as("o"))
    val terms = dense.crossJoin(broadcast(nn))
      .select(floor(
        ((col("o") * col("nn") - col("r") * col("c")) *
          (col("o") * col("nn") - col("r") * col("c"))).cast("double")
          / (col("nn") * col("r") * col("c")).cast("double") * lit(1e9))
        .cast("long").as("t"))
    val dims = rl.agg(count(lit(1)).as("nl"))
      .crossJoin(cs.agg(count(lit(1)).as("ns")))
    terms.agg(count(lit(1)).as("n_cells"), sum(col("t")).as("chi2_nano"))
      .crossJoin(broadcast(dims))
      .select(col("n_cells"),
        ((col("nl") - 1) * (col("ns") - 1)).as("dof"), col("chi2_nano"))
  }

  /** q277_cohen_kappa — inter-system agreement between the two
    * language-ID classifiers (q18's fixed stopword profiles vs q65's
    * corpus-trained char trigrams) as Cohen's κ: observed agreement
    * discounted by the agreement two INDEPENDENT systems with these
    * marginals would reach by chance — the standard
    * annotator/classifier agreement statistic (Cohen 1960), and the
    * right way to read "the two lang-ids agree 60% of the time" (on a
    * corpus where one label dominates, raw agreement flatters; κ
    * doesn't). High κ justifies serving the cheap classifier; low κ
    * routes disagreements to the expensive one.
    *
    * Determinism: p_o and p_e are exact integer ratios quantized to
    * nano; κ = (p_o − p_e)/(1 − p_e) is one floor of a
    * correctly-rounded double ratio of exact integers (q152's
    * convention — integer `div` would split trunc/floor on a
    * negative κ, lesson 49).
    *
    * Scale shape: both prediction frames are existing scan-shaped
    * pipelines; the join is doc-keyed; marginals aggregate onto the
    * label domain and meet in one label-keyed join; 1-row output. */
  def cohenKappa(spark: SparkSession, sfDir: String): DataFrame = {
    // fused grid (round-15): the token-side prediction is a pure
    // projection, so it rides the trigram pipeline's scan instead of
    // running the whole langId pipeline a second time and joining on
    // doc_id (round-14 had already collapsed the per-doc checkpoint
    // into this ≤|labels|² grid; this removes the second corpus scan
    // + doc-keyed join feeding it). Expressions and row set identical
    // — see TextAnalysis.langAgreementGrid.
    val grid = TextAnalysis.langAgreementGrid(spark, sfDir)
      .localCheckpoint()
    val tot = grid.agg(sum(col("c")).as("n"),
      coalesce(sum(when(col("pa") === col("pb"), col("c"))), lit(0L))
        .as("n_agree"))
    val ma = grid.groupBy(col("pa").as("l")).agg(sum(col("c")).as("ca"))
    val mb = grid.groupBy(col("pb").as("l")).agg(sum(col("c")).as("cb"))
    val peNum = ma.join(mb, "l")
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("pe_num"))
    tot.crossJoin(broadcast(peNum))
      .select(col("n"), col("n_agree"),
        expr("n_agree * 1000000000 div n").as("po_nano"),
        expr("pe_num * 1000000000 div (n * n)").as("pe_nano"))
      .select(col("n"), col("n_agree"), col("po_nano"), col("pe_nano"),
        floor((col("po_nano") - col("pe_nano")).cast("double")
          / (lit(1000000000L) - col("pe_nano")).cast("double") * lit(1e9))
          .cast("long").as("kappa_nano"))
  }

  /** The FK joins q278 audits: (tag, left table, left key, right
    * table, right key). */
  private[graft] val EstimateJoins = Seq(
    ("orders-customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem-orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem-part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("customer-nation", "customer", "c_nationkey", "nation", "n_nationkey"))

  /** q278_join_estimate_audit — cost-based-optimizer cardinality
    * check: for each FK join, the textbook uniform-independence
    * estimate |L|·|R| / max(ndv_L, ndv_R) beside the ACTUAL join
    * cardinality, with the error in ppm — the audit behind every
    * join-order decision (q167 advises on skew, q189 on file sizes;
    * this measures whether the size ESTIMATE a planner would use is
    * even close — a 10× miss on a fact-fact join is how broadcast
    * thresholds and AQE fallbacks get mis-tuned).
    *
    * Determinism: counts and exact two-phase distinct counts; est
    * and err are exact integer arithmetic (≤2⁵³ at audited scales;
    * a 100 TB deployment computes the same ratio in doubles).
    *
    * Scale shape: per join two scan aggregates (count + distinct) and
    * ONE keyed join count; 4 independent 1-row branches unioned. */
  def joinEstimateAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val rows = EstimateJoins.map { case (tag, lt, lk, rt, rk) =>
      val l = Tables.table(spark, sfDir, lt).select(col(lk).as("k"))
      val r = Tables.table(spark, sfDir, rt).select(col(rk).as("k"))
      val ls = l.agg(count(lit(1)).as("n_left"),
        countDistinct(col("k")).as("ndv_left"))
      val rs = r.agg(count(lit(1)).as("n_right"),
        countDistinct(col("k")).as("ndv_right"))
      val actual = l.join(r, "k").agg(count(lit(1)).as("actual_rows"))
      ls.crossJoin(broadcast(rs)).crossJoin(broadcast(actual))
        .select(lit(tag).as("join_tag"), col("n_left"), col("n_right"),
          col("ndv_left"), col("ndv_right"),
          expr("n_left * n_right div greatest(ndv_left, ndv_right)")
            .as("est_rows"),
          col("actual_rows"))
    }
    rows.reduce(_ unionAll _)
      .withColumn("err_ppm",
        expr("abs(est_rows - actual_rows) * 1000000 div actual_rows"))
      .orderBy("join_tag")
  }

  /** q274_simpson — Simpson's-paradox screen on the quality~length
    * relationship: the POOLED OLS slope (q254's regression) beside
    * each language's WITHIN-GROUP slope, with a reversal flag where
    * the signs disagree — the aggregation-reversal audit that decides
    * whether a corpus-wide trend is real or an artifact of group
    * composition (the classic trap behind "longer docs score higher":
    * if it reverses within every language, the pooled slope is
    * mixture structure, not signal — filter thresholds must then be
    * set per-stratum, q48/q60's knobs, not globally).
    *
    * Determinism: both slopes are single-pass co-moment aggregates
    * rounded 6dp (q39/q254's convention); the flag compares the
    * ROUNDED values, so it is as deterministic as they are.
    *
    * Scale shape: ONE scan feeds a lang-keyed co-moment aggregate and
    * a 1-row pooled aggregate (broadcast back); |langs| output
    * rows. */
  def simpson(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = TextAnalysis.quality(spark, sfDir)
      .select(col("doc_id"), col("quality_score"))
      .join(Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("lang"), col("n_chars")), "doc_id")
      .filter(col("n_chars") > 0)
      .select(col("lang"), col("quality_score").as("y"),
        log(col("n_chars").cast("double")).as("x"))
      .localCheckpoint()
    val pooled = scored.agg(
      round(expr("regr_slope(y, x)"), 6).as("pooled_slope"))
    val perLang = scored.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        round(expr("regr_slope(y, x)"), 6).as("lang_slope"))
    perLang.crossJoin(broadcast(pooled))
      .select(col("lang"), col("n"), col("lang_slope"), col("pooled_slope"),
        (col("lang_slope") * col("pooled_slope") < 0.0).as("sign_reversed"))
      .orderBy("lang")
  }

  /** Bootstrap replicate count for q268. */
  val BootstrapReps = 32
  /** Poisson(1) CDF thresholds on the md5-28 dyadic grid:
    * c_k = floor(P(X ≤ k) · 2²⁸) for k = 0..4; a draw u ∈ [0, 2²⁸)
    * maps to weight w = |{k : u ≥ c_k}| ∈ 0..5 (mass beyond 5,
    * ~6·10⁻⁴, folds into w = 5 — documented truncation). Computed
    * once here and INJECTED as integer literals into both engines, so
    * parity is by construction, not by float luck. */
  val PoissonCdf28: Seq[Long] = {
    val pmf = (0 to 4).map(k => math.exp(-1.0) / (1 to k).product)
    pmf.scanLeft(0.0)(_ + _).tail.map(c => math.floor(c * 268435456.0).toLong)
  }

  /** q268_bootstrap_ci — Poisson-bootstrap confidence interval for the
    * per-language mean document length: [[BootstrapReps]] replicates
    * where each doc enters replicate b with weight ~ Poisson(1)
    * (Efron's bootstrap in the streaming-friendly Poissonized form —
    * the ONLY resampling scheme that needs no global sample size and
    * therefore distributes: each row draws its weights independently),
    * then the 2.5%/97.5% percentiles of the replicate means — the
    * error bar that turns every point estimate in this suite into a
    * defensible claim ("lang X docs are longer" means nothing without
    * it) and the q214 z-test's nonparametric sibling.
    *
    * Determinism: draws are derandomized md5-28 dyadics against the
    * integer [[PoissonCdf28]] thresholds (q48's replayable-sampling
    * rule applied to resampling weights, q246's noise precedent);
    * replicate means in exact integer micros; the CI percentiles
    * follow q38's interpolation convention, rounded 4dp.
    *
    * Scale shape: the 32× replicate fan-out rides the scan (explode
    * of a constant range — THE cost, priced honestly); everything
    * after is one (lang, b) partial-aggregable sum pair, a
    * langs×32-row percentile aggregate and a broadcast join of the
    * actual means; output |langs| rows. */
  def bootstrapCi(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val actual = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(n_chars) * 1000000 div count(*)").as("mean_micros"))
    val u = graft.functions.HashFunctions.md5Int28(
      concat(lit("boot_"), col("b").cast("string"), lit("_"),
        col("doc_id").cast("string")))
    val weighted = docs
      .select(col("doc_id"), col("lang"), col("n_chars"),
        explode(sequence(lit(0), lit(BootstrapReps - 1))).as("b"))
      .withColumn("w",
        PoissonCdf28.map(c => when(u >= lit(c), 1L).otherwise(0L))
          .reduce(_ + _))
    val reps = weighted.groupBy(col("lang"), col("b"))
      .agg(sum(col("w") * col("n_chars")).as("swn"), sum(col("w")).as("sw"))
      .select(col("lang"),
        expr("swn * 1000000 div sw").as("rep_mean_micros"))
    val ci = reps.groupBy(col("lang"))
      .agg(round(percentile(col("rep_mean_micros").cast("double"), lit(0.025)), 4)
        .as("ci_lo_micros"),
        round(percentile(col("rep_mean_micros").cast("double"), lit(0.975)), 4)
          .as("ci_hi_micros"))
    actual.join(ci, "lang")
      .select(col("lang"), col("n_docs"), col("mean_micros"),
        col("ci_lo_micros"), col("ci_hi_micros"),
        (col("ci_lo_micros") <= col("mean_micros").cast("double")
          && col("mean_micros").cast("double") <= col("ci_hi_micros"))
          .as("covered"))
      .orderBy("lang")
  }

  /** q262_spearman — Spearman rank correlation between doc length and
    * the q19 quality score: Pearson over AVERAGE ranks, the
    * tie-correct monotone-association measure — the nonparametric
    * companion of q254's OLS/Pearson (a score can track length
    * monotonically but nonlinearly; Pearson under-reads that, ranks
    * don't), and on a 5dp score grid the tie handling IS the
    * operator.
    *
    * Determinism: average ranks come from the value-histogram
    * decomposition (q61's rank identity): for value v,
    * 2·avgrank(v) = 2·prefix(v) + cnt(v) + 1 — pure integers (the
    * ×2 scaling cancels in the correlation); ρ = corr over those
    * integers, rounded 6dp (q39/q242's convention).
    *
    * Scale shape: two per-value histograms + cumsum windows over the
    * distinct-VALUE domains only (q61/q194's whitelisted shape, never
    * corpus rows), rank tables joined back value-keyed; one co-moment
    * pass; 1-row output. */
  def spearman(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = TextAnalysis.quality(spark, sfDir)
      .select(col("doc_id"), col("quality_score"))
      .join(Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("n_chars")), "doc_id")
      .filter(col("n_chars") > 0)
      .localCheckpoint()
    def rank2(df: DataFrame, c: String): DataFrame = {
      val hist = df.groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
      hist.withColumn("r2",
        lit(2) * (coalesce(sum(col("cnt")).over(
          Window.orderBy(col("v"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          + col("cnt") + lit(1L))
        .select(col("v"), col("r2"))
    }
    val rx = rank2(scored, "n_chars")
    val ry = rank2(scored, "quality_score")
    val ranked = scored
      .join(rx.withColumnRenamed("v", "n_chars")
        .withColumnRenamed("r2", "r2x"), "n_chars")
      .join(ry.withColumnRenamed("v", "quality_score")
        .withColumnRenamed("r2", "r2y"), "quality_score")
    ranked.agg(count(lit(1)).as("n"),
      round(corr(col("r2x").cast("double"), col("r2y").cast("double")), 6)
        .as("spearman"))
  }

  /** Confidence-bin cap for q263 (hit scores above the cap collapse). */
  val CalibrationCapScore = 10L

  /** q263_calibration — language-ID reliability curve: per stopword-hit
    * confidence bin (score capped at [[CalibrationCapScore]]), how
    * often the q18 prediction matches the labeled language — the
    * calibration audit behind any "trust the classifier above
    * score ≥ s" routing rule. q114 grades WHICH languages confuse
    * (confusion matrix); this grades whether the SCORE is an honest
    * confidence — the property a downstream threshold actually
    * consumes.
    *
    * Determinism: score and correctness are exact integers from the
    * deterministic q18 argmax; accuracy in exact ppm.
    *
    * Scale shape: the q18 scan-local scoring projection → one ≤11-row
    * score-bin aggregate; no joins, no windows. */
  def calibration(spark: SparkSession, sfDir: String): DataFrame = {
    val pred = TextAnalysis.langId(spark, sfDir)
    pred.select(
      least(col("score").cast("long"), lit(CalibrationCapScore)).as("score_bin"),
      when(col("predicted_lang") === col("labeled_lang"), 1L).otherwise(0L)
        .as("correct"))
      .groupBy(col("score_bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("correct")).as("n_correct"))
      .select(col("score_bin"), col("n_docs"), col("n_correct"),
        expr("n_correct * 1000000 div n_docs").as("accuracy_ppm"))
      .orderBy("score_bin")
  }

  /** q290 knobs: relabeling replicates and the two compared sources. */
  val PermReps = 64
  val PermSrcA = "src0"
  val PermSrcB = "src1"

  /** q290_permutation_test — randomization test for the difference in
    * mean doc length between two sources: the observed T = mean_A −
    * mean_B against [[PermReps]] derandomized RELABELINGS of the same
    * docs (each doc flips group by an md5 coin per replicate), p =
    * (#{|T_b| ≥ |T_obs|} + 1)/(B + 1) — the exact-by-construction
    * nonparametric test that needs no normality, no variance
    * pooling, and no asymptotics (q214's z-test assumes all three;
    * q268 builds CIs, this tests a hypothesis — together they're the
    * suite's resampling-inference pair).
    *
    * Determinism: q48's replayable-draw rule applied to relabeling
    * (md5 parity per (replicate, doc)); every statistic is integer
    * micros (sums are nonnegative, so trunc-div is floor-div); the
    * p-value is an exact integer ratio in ppm.
    *
    * Scale shape: the B× fan-out rides the scan (q268's shape); one
    * (b, side) partial-aggregable sum pair, a B-row statistic frame,
    * a broadcast observed row; 1-row output. */
  def permutationTest(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .filter(col("source").isin(PermSrcA, PermSrcB))
      .select(col("doc_id"), col("source"), col("n_chars"))
    val obs = docs.groupBy()
      .agg(sum(when(col("source") === PermSrcA, col("n_chars"))).as("sa"),
        sum(when(col("source") === PermSrcA, 1L).otherwise(0L)).as("na"),
        sum(when(col("source") === PermSrcB, col("n_chars"))).as("sb"),
        sum(when(col("source") === PermSrcB, 1L).otherwise(0L)).as("nb"))
      .select(col("na"), col("nb"),
        (expr("sa * 1000000 div na") - expr("sb * 1000000 div nb"))
          .as("t_obs_micros"))
    val flips = docs
      .select(col("doc_id"), col("n_chars"),
        explode(sequence(lit(1), lit(PermReps))).as("b"))
      .withColumn("side", pmod(graft.functions.HashFunctions.md5Int28(
        concat(lit("perm_"), col("b").cast("string"), lit("_"),
          col("doc_id").cast("string"))), lit(2)))
    val tb = flips.groupBy(col("b"))
      .agg(sum(when(col("side") === 0, col("n_chars"))).as("s0"),
        sum(when(col("side") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("side") === 1, col("n_chars"))).as("s1"),
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("n1"))
      .select((expr("s0 * 1000000 div n0") - expr("s1 * 1000000 div n1"))
        .as("t_b"))
    tb.crossJoin(broadcast(obs))
      .agg(first(col("na")).as("n_a"), first(col("nb")).as("n_b"),
        first(col("t_obs_micros")).as("t_obs_micros"),
        sum(when(abs(col("t_b")) >= abs(col("t_obs_micros")), 1L)
          .otherwise(0L)).as("n_extreme"))
      .select(col("n_a"), col("n_b"), col("t_obs_micros"), col("n_extreme"),
        expr(s"(n_extreme + 1) * 1000000 div (${PermReps} + 1)").as("p_ppm"))
  }

  /** q280_mutual_info — mutual information and NMI between lang and
    * source: I(L;S) = Σ (o/N)·ln(o·N/(r·c)) over the contingency
    * grid, normalized by √(H(L)·H(S)) — the EFFECT-SIZE companion of
    * q257's χ² (χ² answers "is there dependence"; MI answers "how
    * many nats does knowing the source tell you about the language",
    * and NMI puts it on the [0,1] scale cluster evaluation uses).
    *
    * Determinism: all summands are floor-nano-quantized doubles of
    * exact integer ratios before the integer sums (negative MI terms
    * floor identically both engines); NMI is one floor of a
    * correctly-rounded double ratio.
    *
    * Scale shape: one (lang, source) count; marginals roll up from
    * the grid; zero cells contribute nothing to MI by definition (no
    * densify needed, unlike χ²); 1-row output. */
  def mutualInfo(spark: SparkSession, sfDir: String): DataFrame = {
    val obs = Tables.documents(spark, sfDir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
      .localCheckpoint()
    val rl = obs.groupBy(col("lang")).agg(sum(col("o")).as("r"))
    val cs = obs.groupBy(col("source")).agg(sum(col("o")).as("c"))
    val nn = obs.agg(sum(col("o")).as("nn"))
    val mi = obs.join(broadcast(rl), "lang").join(broadcast(cs), "source")
      .crossJoin(broadcast(nn))
      .select(floor(col("o").cast("double") / col("nn").cast("double")
        * log((col("o") * col("nn")).cast("double")
          / (col("r") * col("c")).cast("double")) * lit(1e9))
        .cast("long").as("t"))
      .agg(count(lit(1)).as("n_cells_nonzero"), sum(col("t")).as("mi_nano"))
    def entropy(cnt: String): Column =
      floor(col(cnt).cast("double") / col("nn").cast("double")
        * log(col("nn").cast("double") / col(cnt).cast("double")) * lit(1e9))
        .cast("long")
    val hl = rl.crossJoin(broadcast(nn))
      .select(entropy("r").as("t")).agg(sum(col("t")).as("h_lang_nano"))
    val hs = cs.crossJoin(broadcast(nn))
      .select(entropy("c").as("t")).agg(sum(col("t")).as("h_source_nano"))
    mi.crossJoin(broadcast(hl)).crossJoin(broadcast(hs))
      .select(col("n_cells_nonzero"), col("mi_nano"),
        col("h_lang_nano"), col("h_source_nano"),
        // nano·nano products graze 2⁶³ at H ≈ ln(20) nats — multiply
        // as doubles on BOTH engines
        floor(col("mi_nano").cast("double")
          / sqrt(col("h_lang_nano").cast("double")
            * col("h_source_nano").cast("double"))
          * lit(1e9)).cast("long").as("nmi_nano"))
  }

  /** q259_benford — Benford first-digit audit over order totals: the
    * observed first-significant-digit distribution beside the Benford
    * expectation log10(1 + 1/d) — the classic fabricated-data /
    * unit-mixing screen for financial columns (a synthetic generator
    * that draws uniformly, a currency field double-converted, or a
    * capped price grid all bend this curve long before means move).
    * Complements q151's rule checks (those validate declared
    * constraints; this tests a DISTRIBUTIONAL law no one declared)
    * and q257's χ² (categorical independence vs a digit-law fit).
    *
    * Determinism: digits come from exact integer cents
    * (floor(price·100) — IEEE floor identical both engines), first
    * digit via integer-to-string substring (exact, no float log);
    * shares in exact integer ppm; the Benford expectation per digit is
    * floor(ln(1+1/d)/ln(10)·1e6) — correctly-rounded doubles on a
    * 9-value grid nowhere near quantization midpoints.
    *
    * Scale shape: scan-local digit extraction → 9-row aggregate +
    * broadcast 1-row total; output ≤9 rows at any SF. */
  def benford(spark: SparkSession, sfDir: String): DataFrame = {
    val digits = Tables.orders(spark, sfDir)
      .select(substring(floor(col("o_totalprice") * lit(100.0))
        .cast("long").cast("string"), 1, 1).cast("int").as("digit"))
      .filter(col("digit") >= 1)
    val counts = digits.groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("n_total"))
    counts.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        expr("n * 1000000 div n_total").as("share_ppm"),
        floor(log(lit(1.0) + lit(1.0) / col("digit").cast("double"))
          / log(lit(10.0)) * lit(1e6)).cast("long").as("benford_ppm"))
      .withColumn("dev_ppm", col("share_ppm") - col("benford_ppm"))
      .orderBy("digit")
  }

  /** q294's compared languages (the A/B sides of the rank-sum). The
    * corpus generator gives zh genuinely SHORTER docs than en (mean
    * 282 vs 299 chars at sf0.1), so the test exercises a real
    * rejection — every event-type value pair was measured null
    * (|z| < 1.8 at sf0.1), which would have graded only the
    * no-difference branch. */
  val MwGroupA = "zh"
  val MwGroupB = "en"

  /** q294_mann_whitney — Mann-Whitney U (Wilcoxon rank-sum) comparing
    * the doc-length distributions of two languages: the nonparametric
    * two-sample location test — q214's two-proportion z compares
    * RATES, this compares whole DISTRIBUTIONS without assuming
    * normality. Emits the exact doubled U statistic, the
    * common-language effect size (P(A > B), the AUC — the probability
    * a random zh doc outranks a random en doc), and the tie-corrected
    * normal-approximation z. Integer lengths tie heavily, so the tie
    * correction IS load-bearing here.
    *
    * Determinism: average ranks come from the combined length
    * histogram via the doubled-rank identity (q262's r2 = 2·prefix +
    * cnt + 1 — pure integers), so 2·U is an exact integer; the AUC is
    * exact integer ppm; z is one double expression over exact
    * integers (sqrt only at the end), rounded 6dp. No continuity
    * correction (both engines would apply it identically, but the
    * uncorrected form keeps the formula one expression).
    *
    * Scale shape: one combined histogram keyed by length with
    * conditional group counts, one cumulative window over the
    * distinct-VALUE domain (q194/q262's whitelisted shape), one
    * global aggregate; 1-row output. */
  def mannWhitney(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = Tables.documents(spark, sfDir)
      .filter(col("lang").isin(MwGroupA, MwGroupB))
      .select(col("lang"), col("n_chars").as("value"))
      .groupBy(col("value"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("lang") === MwGroupA, 1L).otherwise(0L))
          .as("ca"))
    val ranked = hist.withColumn("r2",
      lit(2) * coalesce(sum(col("cnt")).over(Window.orderBy(col("value"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
        + col("cnt") + lit(1L))
    ranked.agg(
        sum(col("ca")).as("n_a"),
        sum(col("cnt") - col("ca")).as("n_b"),
        sum(col("ca") * col("r2")).as("ra2"),
        sum(col("cnt") * col("cnt") * col("cnt") - col("cnt"))
          .as("tie_term"))
      .select(col("n_a"), col("n_b"),
        (col("ra2") - col("n_a") * (col("n_a") + lit(1L))).as("u2_a"),
        col("tie_term"))
      .select(col("n_a"), col("n_b"), col("u2_a"), col("tie_term"),
        expr("u2_a * 1000000 div (2 * n_a * n_b)").as("auc_ppm"),
        round((col("u2_a") - col("n_a") * col("n_b")).cast("double")
          / (lit(2.0) * sqrt(
            (col("n_a") * col("n_b")).cast("double") / lit(12.0)
              * ((col("n_a") + col("n_b") + lit(1L)).cast("double")
                - col("tie_term").cast("double")
                  / ((col("n_a") + col("n_b")).cast("double")
                    * (col("n_a") + col("n_b") - lit(1L)).cast("double"))))),
          6).as("z"))
  }

  /** q297_anova_f — one-way ANOVA F over document lengths by language:
    * the k-group parametric companion of q294's two-group rank test
    * ("do the language slices have the same MEAN length?" — the
    * pre-tokenizer budget question, since per-lang packing and
    * truncation waste both key off the length distribution).
    *
    * Determinism: n_chars is integral, so the per-group count / sum /
    * sum-of-squares moments are exact BIGINTs; the only rational term,
    * each group's sᵢ²/nᵢ, floor-milli-quantizes BEFORE the cross-group
    * sum (integer sums are order-independent — doubles across groups
    * would not be), and F is one final double over four integers.
    *
    * Scale shape: one partial-aggregable scan aggregate to |langs|
    * rows, one global aggregate; 1-row output. */
  def anovaF(spark: SparkSession, sfDir: String): DataFrame =
    anovaTail(Tables.documents(spark, sfDir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("ni"), sum(col("n_chars")).as("si"),
        sum(col("n_chars") * col("n_chars")).as("qi")))

  /** One-way F over a (group → ni, si, qi) integer-moment frame — the
    * shared tail of q297 (raw lengths) and q300 (absolute deviations
    * from the group median). Each group's sᵢ²/nᵢ floor-milli-quantizes
    * before the cross-group sum so the fold is order-independent. */
  private def anovaTail(g: DataFrame): DataFrame =
    g.select(col("ni"), col("si"), col("qi"),
        floor(col("si").cast("double") * col("si").cast("double")
          / col("ni").cast("double") * lit(1000.0)).cast("long")
          .as("term_milli"))
      .agg(count(lit(1)).as("k_groups"), sum(col("ni")).as("n_total"),
        sum(col("si")).as("s_total"), sum(col("qi")).as("q_total"),
        sum(col("term_milli")).as("t_milli"))
      .select(col("k_groups"), col("n_total"),
        (col("t_milli")
          - floor(col("s_total").cast("double") * col("s_total").cast("double")
            / col("n_total").cast("double") * lit(1000.0)).cast("long"))
          .as("ssb_milli"),
        (col("q_total") * lit(1000L) - col("t_milli")).as("ssw_milli"))
      .select(col("k_groups"), col("n_total"), col("ssb_milli"),
        col("ssw_milli"),
        floor(col("ssb_milli").cast("double")
          * (col("n_total") - col("k_groups")).cast("double")
          / (col("ssw_milli").cast("double")
            * (col("k_groups") - lit(1L)).cast("double"))
          * lit(1000000.0)).cast("long").as("f_micros"))

  /** q300_brown_forsythe — the Brown-Forsythe/Levene variance-
    * homogeneity test over document lengths by language: one-way F on
    * |x − median_g| instead of x. q297 asks whether the language means
    * differ; this asks whether their SPREADS do — the assumption
    * behind pooling variances (and behind reading q297's F at face
    * value), and in curation terms the "is one crawl's length profile
    * wider, not just shifted?" screen. Median centering (Brown-
    * Forsythe's robustification of Levene) keeps the test valid on
    * skewed length distributions.
    *
    * Determinism: group medians are the DOUBLED integer med2 = x(k) +
    * x(k2) (q174's order-statistic identity), deviations d2 =
    * |2x − med2| are exact integers, and the F tail is q297's
    * integer-moment fold over them.
    *
    * Scale shape: one lang-partitioned rank window (shard-local sort
    * after one lang exchange — never a global order), the ≤|langs|-row
    * median frame broadcasts back onto the scan, then the q297
    * aggregate chain; 1-row output. */
  def brownForsythe(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x = Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"), col("n_chars").as("x"))
    val w = Window.partitionBy(col("lang")).orderBy(col("x"), col("doc_id"))
    val med = x.select(col("lang"), col("x"),
        row_number().over(w).cast("long").as("rn"),
        count(lit(1)).over(Window.partitionBy(col("lang"))).as("n"))
      .groupBy(col("lang"))
      .agg(sum(col("x") *
        (expr("cast(rn = (n + 1) div 2 as long)") +
         expr("cast(rn = (n + 2) div 2 as long)"))).as("med2"))
    val dev = x.join(broadcast(med), Seq("lang"))
      .select(col("lang"), abs(col("x") * 2 - col("med2")).as("d2"))
    anovaTail(dev.groupBy(col("lang"))
      .agg(count(lit(1)).as("ni"), sum(col("d2")).as("si"),
        sum(col("d2") * col("d2")).as("qi")))
  }

  /** q306 training-loop knobs: full-batch gradient steps, learning
    * rate, and the positive-class label. 6 steps at rate 8 over
    * CENTERED features is where the balanced-threshold confusion
    * becomes informative at every SF (0 < true-positives < positives
    * — measured, and measured equal to 12 steps at rate 4; rates
    * past ~16 diverge to all-negative, and an under-trained w0 short
    * of the prior log-odds degenerates the readout to all-or-
    * nothing). Each step is one Spark job, so the step count is also
    * the query's fixed-latency bill at bench scale. */
  val LrIterations = 6
  val LrRate = 8.0
  val LrPosLang = "zh"

  /** q306_logreg — logistic regression TRAINED IN-ENGINE by
    * [[LrIterations]] full-batch gradient steps: P(lang = zh) from
    * (n_chars, token count), reporting the learned micro-weights and
    * the training confusion counts. With q302 (generative NB) this
    * completes the classifier pair a curation pipeline actually
    * ships — a discriminative model whose TRAINING is itself a Spark
    * plan: each step is ONE partial-aggregable scan aggregate (three
    * gradient sums), so a 100 TB fit is k passes with no driver-side
    * data, the textbook distributed-GD shape.
    *
    * Determinism: weights live on an integer MICRO grid. Each row's
    * (p − y)·x_j gradient term is one fixed IEEE tree over the
    * integer weights and integer features, floor-micro-quantized
    * BEFORE the cross-row sum (order-free); the update steps by
    * floor(g·[[LrRate]]/n) on doubles — floor, not
    * truncation, because gradients go negative and Spark's `div`
    * truncates toward zero while SQL's `//` floors.
    *
    * Scale shape: the integer feature frame checkpoints once ([[
    * LrIterations]]+1 consumers); per step ONE flat scan aggregate
    * collapses to a 3-integer gradient row collected to the driver
    * (a bounded O(1) read — the PQ-codebook precedent — NOT a data
    * collect), and the weights re-enter the next step as literals;
    * the readout is one more scan aggregate; 1-row output. */
  def logReg(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.{TextFunctions => T}
    val raw = Tables.documents(spark, sfDir)
      .select((col("lang") === LrPosLang).cast("long").as("y"),
        col("n_chars").as("x1"),
        size(T.wsTokens(col("text"))).cast("long").as("x2"))
    // center on the integer feature means — uncentered features couple
    // the intercept and slope gradients and full-batch GD crawls
    val m = raw.agg(sum(col("x1")).as("sx1"), sum(col("x2")).as("sx2"),
      count(lit(1)).as("nd"))
    val feats = raw.crossJoin(broadcast(m))
      .select(col("y"),
        (col("x1") - expr("sx1 div nd")).as("x1"),
        (col("x2") - expr("sx2 div nd")).as("x2"))
      .localCheckpoint()
    val n = feats.count()
    // score in natural units from micro-weights and integer features.
    // The weights are 3 longs held on the DRIVER between steps (the
    // bounded-read precedent of the PQ codebook: each step collects ONE
    // 3-integer row, never data) — inlining them as literals keeps every
    // step a flat scan aggregate instead of nesting 12 broadcast-join
    // stages into one deep plan (measured 4.3 s of pure planning/codegen
    // at sf0.1 for the nested form vs ~1 s flat; results identical).
    var (w0, w1, w2) = (0L, 0L, 0L)
    def score: Column =
      (lit(w0).cast("double")
        + lit(w1).cast("double") * (col("x1").cast("double") / lit(1000.0))
        + lit(w2).cast("double") * (col("x2").cast("double") / lit(100.0))) / lit(1000000.0)
    for (_ <- 1 to LrIterations) {
      val p: Column = lit(1.0) / (lit(1.0) + exp(-score))
      val g = feats.select(
          floor((p - col("y").cast("double")) * lit(1000000.0))
            .cast("long").as("t0"),
          floor((p - col("y").cast("double"))
            * (col("x1").cast("double") / lit(1000.0)) * lit(1000000.0))
            .cast("long").as("t1"),
          floor((p - col("y").cast("double"))
            * (col("x2").cast("double") / lit(100.0)) * lit(1000000.0))
            .cast("long").as("t2"))
        .agg(sum(col("t0")).as("g0"), sum(col("t1")).as("g1"),
          sum(col("t2")).as("g2"))
        .collect().head
      w0 -= math.floor(g.getAs[Long]("g0").toDouble * LrRate / n.toDouble).toLong
      w1 -= math.floor(g.getAs[Long]("g1").toDouble * LrRate / n.toDouble).toLong
      w2 -= math.floor(g.getAs[Long]("g2").toDouble * LrRate / n.toDouble).toLong
    }
    val w = feats.sparkSession.range(1)
      .select(lit(w0).as("w0"), lit(w1).as("w1"), lit(w2).as("w2"))
    // balanced-threshold readout: predict positive when the score
    // clears the PRIOR log-odds (a 15%-prior class never crosses the
    // 0.5 default, so thresholding there would report the majority
    // vote and hide what the slopes learned)
    val tot = feats.agg(count(lit(1)).as("nd"), sum(col("y")).as("npos"))
    feats.crossJoin(broadcast(w)).crossJoin(broadcast(tot))
      .select(col("w0"), col("w1"), col("w2"), col("y"),
        (score >
          log(col("npos").cast("double")
            / (col("nd") - col("npos")).cast("double"))).cast("long")
          .as("pred"))
      .groupBy(col("w0"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("y")).as("n_pos"),
        sum((col("pred") === col("y")).cast("long")).as("n_correct"),
        sum((col("pred") * col("y"))).as("n_true_pos"))
      .select(col("w0").as("w0_micros"), col("w1").as("w1_micros"),
        col("w2").as("w2_micros"), col("n_docs"), col("n_pos"),
        col("n_correct"), col("n_true_pos"),
        expr("n_correct * 1000000 div n_docs").as("acc_ppm"))
  }

  /** q308_decision_stump — the exact best depth-1 decision tree for
    * "is this document zh?" on the length axis: every distinct
    * n_chars value is a candidate split, scored by the exact weighted
    * Gini impurity of the two sides; the argmin (with the smallest-
    * threshold tie-break) plus its confusion counts. This is the
    * inner loop of every tree/GBDT trainer expressed as the engine
    * primitive it really is — one histogram + one cumulative sweep —
    * and the third member of the in-engine classifier family
    * (generative q302, linear q306, axis-aligned q308).
    *
    * Determinism: the cumulative (n≤, pos≤) pairs are exact integers
    * from the value histogram; each candidate's weighted Gini is one
    * fixed double tree over those integers, floor-micro-quantized;
    * the argmin is an integer TakeOrdered.
    *
    * Scale shape: one value histogram with conditional class counts,
    * one cumsum window over the distinct length-VALUE domain
    * (whitelisted — never corpus rows), broadcast 1-row totals, top-1
    * TakeOrdered; 1-row output. */
  def decisionStump(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = Tables.documents(spark, sfDir)
      .select(col("n_chars").as("v"),
        (col("lang") === LrPosLang).cast("long").as("y"))
      .groupBy(col("v")).agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = hist.agg(sum(col("cnt")).as("n"), sum(col("pos")).as("npos"))
    hist.select(col("v"), sum(col("cnt")).over(w).as("nle"),
        sum(col("pos")).over(w).as("ple"))
      .crossJoin(broadcast(tot))
      .filter(col("nle") < col("n"))
      .select(col("v"), col("nle"), col("ple"), col("n"), col("npos"),
        floor((lit(2.0) * col("ple").cast("double")
            * (col("nle") - col("ple")).cast("double")
            / col("nle").cast("double")
          + lit(2.0) * (col("npos") - col("ple")).cast("double")
            * ((col("n") - col("nle")) - (col("npos") - col("ple"))).cast("double")
            / (col("n") - col("nle")).cast("double"))
          / col("n").cast("double") * lit(1000000.0)).cast("long")
          .as("gini_micros"))
      .orderBy(col("gini_micros").asc, col("v").asc).limit(1)
      .select(col("v").as("threshold"), col("gini_micros"),
        col("nle").as("n_le"), col("ple").as("pos_le"),
        col("n").as("n_total"), col("npos").as("n_pos"),
        expr("(greatest(ple, nle - ple) + greatest(npos - ple, (n - nle) - (npos - ple))) * 1000000 div n")
          .as("acc_ppm"))
  }

  /** q322_l_moments — the first four L-moments of the document-length
    * distribution (Hosking 1990): ℓ1/ℓ2 as location/scale and the
    * ratios τ3 (L-skewness) and τ4 (L-kurtosis). Unlike q299's
    * conventional moments, L-moments are linear in the data — a
    * single monster document moves τ3 by O(1/n), not O(x³) — so this
    * is the heavy-tail-safe shape summary a length-distribution
    * monitor should alert on.
    *
    * Exactness: the probability-weighted-moment numerators
    * B_k = Σ (i−1)…(i−k)·x_(i) reduce over the VALUE HISTOGRAM in
    * closed form — a value occupying sorted positions a..b
    * contributes x·Σ_{i=a..b} of the weight polynomial, which
    * telescopes to binomial-coefficient differences
    * (Σ(i−1)(i−2) = 2(C(b,3) − C(a−1,3)), etc.) — all exact BIGINTs
    * (the parity/divisibility of each `div` is guaranteed by the
    * binomial identities). λ and τ are fixed doubles over those
    * integers. (BIGINT headroom: x·C(n,4) ≲ 10¹⁸ holds to n ≈ 10⁵
    * at this value range; a larger corpus runs the same identities
    * in decimal.)
    *
    * Scale shape: one value histogram, one cumsum window over the
    * distinct length-VALUE domain (whitelisted), one 1-row fold. */
  def lMoments(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = Tables.documents(spark, sfDir)
      .groupBy(col("n_chars").as("v")).agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = hist
      .withColumn("a", coalesce(sum(col("cnt")).over(w), lit(0L)) + 1)
      .withColumn("b", col("a") + col("cnt") - 1)
    val bs = ranked.agg(
      sum(col("cnt")).as("n"),
      sum(col("v") * col("cnt")).as("b0"),
      sum(col("v") * expr("cnt * (a + b - 2) div 2")).as("b1"),
      sum(col("v") * lit(2L) *
        (expr("b * (b - 1) * (b - 2) div 6")
          - expr("(a - 1) * (a - 2) * (a - 3) div 6"))).as("b2"),
      sum(col("v") * lit(6L) *
        (expr("b * (b - 1) * (b - 2) * (b - 3) div 24")
          - expr("(a - 1) * (a - 2) * (a - 3) * (a - 4) div 24"))).as("b3"))
    bs.select(col("n"),
        (col("b0").cast("double") / col("n").cast("double")).as("d0"),
        (col("b1").cast("double")
          / (col("n") * (col("n") - 1)).cast("double")).as("d1"),
        (col("b2").cast("double")
          / (col("n") * (col("n") - 1) * (col("n") - 2)).cast("double")).as("d2"),
        (col("b3").cast("double")
          / (col("n") * (col("n") - 1) * (col("n") - 2) * (col("n") - 3))
            .cast("double")).as("d3"))
      .select(col("n"), col("d0"),
        (lit(2.0) * col("d1") - col("d0")).as("l2"),
        (lit(6.0) * col("d2") - lit(6.0) * col("d1") + col("d0")).as("l3"),
        (lit(20.0) * col("d3") - lit(30.0) * col("d2") + lit(12.0) * col("d1")
          - col("d0")).as("l4"))
      .select(col("n"),
        floor(col("d0") * lit(1000000.0)).cast("long").as("l1_micro"),
        floor(col("l2") * lit(1000000.0)).cast("long").as("l2_micro"),
        floor(col("l3") / col("l2") * lit(1000000.0)).cast("long").as("t3_micro"),
        floor(col("l4") / col("l2") * lit(1000000.0)).cast("long").as("t4_micro"))
  }

  /** q326 anonymity threshold and the quasi-identifier length-bucket
    * width. */
  val KAnonK = 5L
  val KAnonBucket = 100L

  /** q326_k_anonymity — re-identification risk census: with
    * quasi-identifiers (lang, n_chars div [[KAnonBucket]]) and
    * `source` as the sensitive attribute, how many equivalence
    * classes fall below k = [[KAnonK]], how many rows sit in them,
    * and the worst-case l-diversity (minimum distinct sensitive
    * values in any class). This is the privacy-governance audit run
    * BEFORE releasing a per-segment breakdown (q246's DP release is
    * the remedy; this measures whether one is needed) — classes of
    * size < k make their members linkable, and l = 1 classes leak
    * the sensitive value outright.
    *
    * Scale shape: one QI-keyed aggregate (count + distinct-sensitive
    * count), one 1-row fold; all-integer output. */
  def kAnonymity(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("lang"), expr(s"n_chars div $KAnonBucket").as("bucket"))
      .agg(count(lit(1)).as("csize"),
        countDistinct(col("source")).as("ldiv"))
      .agg(count(lit(1)).as("n_classes"),
        sum(col("csize")).as("n_rows"),
        min(col("csize")).as("min_class_size"),
        max(col("csize")).as("max_class_size"),
        sum((col("csize") < KAnonK).cast("long")).as("n_classes_below_k"),
        sum(when(col("csize") < KAnonK, col("csize")).otherwise(0L))
          .as("n_rows_at_risk"),
        min(col("ldiv")).as("min_l_diversity"))
      .select(lit(KAnonK).as("k"), col("n_classes"), col("n_rows"),
        col("min_class_size"), col("max_class_size"),
        col("n_classes_below_k"), col("n_rows_at_risk"),
        col("min_l_diversity"))

  /** q330_weekday_anova — one-way F of daily event volume across the
    * seven weekday slots (day-index mod 7): the TEST behind the
    * weekly cycle q245's seasonal baseline and q307's scale-7 energy
    * assume. A small F here means the "weekly pattern" is noise and
    * the seasonal baseline is overfitting its denominator.
    *
    * Reuses q297's integer-moment tail verbatim over the ≤31-row day
    * histogram: daily counts are exact integers, the 7 group moments
    * are exact, F is one double. Scale shape: one scan collapse to
    * the day domain, two tiny aggregates; 1-row output. */
  def weekdayAnova(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 86400000000").as("dayabs"))
    val d0 = ev.agg(min(col("dayabs")).as("d0"))
    val daily = ev.crossJoin(broadcast(d0))
      .select((col("dayabs") - col("d0")).as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("c"))
    anovaTail(daily
      .groupBy(pmod(col("d"), lit(7L)).as("wd"))
      .agg(count(lit(1)).as("ni"), sum(col("c")).as("si"),
        sum(col("c") * col("c")).as("qi")))
  }

  /** q333_friedman — Friedman's rank test of weekday effect across
    * complete weeks: blocks = weeks with all 7 days observed,
    * treatments = weekday slots, within-block average ranks. The
    * nonparametric companion of q330 (which assumes equal-variance
    * normal residuals the volume series need not have) — agreement
    * between the two is the robust no-seasonality verdict.
    *
    * Determinism: within-block DOUBLED average ranks come from an
    * exact block-local comparison fold (r2 = 2·|{y<x}| + |{y=x}| + 1
    * over the 7-row block — ties exact, no float); ΣR²_j is an exact
    * BIGINT and the statistic one double (doubled-rank form
    * F = 3·ΣR2²_j/(n·k·(k+1)) − 3·n·(k+1)).
    *
    * Scale shape: one scan collapse to the day histogram, a block-
    * keyed 7×7 self-join over the ≤31-row domain, one weekday
    * rollup; 1-row output. */
  def friedman(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 86400000000").as("dayabs"))
    val d0 = ev.agg(min(col("dayabs")).as("d0"))
    val blocks = ev.crossJoin(broadcast(d0))
      .select((col("dayabs") - col("d0")).as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("c"))
      .select(expr("d div 7").as("wk"), pmod(col("d"), lit(7L)).as("wd"),
        col("c"))
      .localCheckpoint()
    val complete = blocks.groupBy(col("wk")).agg(count(lit(1)).as("nw"))
      .filter(col("nw") === 7).select(col("wk"))
    val kept = blocks.join(broadcast(complete), "wk")
    val ranks = kept.as("x")
      .join(kept.select(col("wk"), col("c").as("cy")).as("y"), "wk")
      .groupBy(col("wk"), col("wd"))
      .agg((sum(when(col("cy") < col("c"), 2L)
        .when(col("cy") === col("c"), 1L).otherwise(0L)) + 1L).as("r2"))
    val byWd = ranks.groupBy(col("wd")).agg(sum(col("r2")).as("rj2"))
    val nb = complete.agg(count(lit(1)).as("n_blocks"))
    byWd.agg(count(lit(1)).as("k"), sum(col("rj2") * col("rj2")).as("s2"))
      .crossJoin(broadcast(nb))
      .select(col("n_blocks"), col("k"), col("s2"),
        floor((lit(3.0) * col("s2").cast("double")
          / (col("n_blocks") * col("k") * (col("k") + 1)).cast("double")
          - lit(3.0) * (col("n_blocks") * (col("k") + 1)).cast("double"))
          * lit(1000000.0)).cast("long").as("f_micros"))
  }

  /** q340_neg_binomial — method-of-moments negative-binomial fit of
    * the per-user event-count distribution: r = μ²/(σ²−μ),
    * p = μ/σ², and the dispersion ratio σ²/μ that justifies the
    * model (Poisson has σ²/μ = 1; user activity is almost always
    * overdispersed). This is the MODEL q299 shows the counts need
    * (JB rejects normal) and q339 localizes (gaps are exponential
    * but RATES vary per user — exactly the Gamma-Poisson mixture NB
    * is) — the parametric hand-off from the diagnostic tier.
    *
    * Determinism: n, Σx, Σx² are exact BIGINTs; μ, σ² (computed as
    * the n-divisor moment), r, p, and the ratio are one fixed
    * double tree, floor-quantized.
    *
    * Scale shape: one user-keyed count collapse, one 3-sum fold;
    * 1-row output. */
  def negBinomial(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("x"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
        sum(col("x") * col("x")).as("s2"))
      .select(col("n"),
        (col("s1").cast("double") / col("n").cast("double")).as("mu"),
        (col("s2").cast("double") / col("n").cast("double")
          - (col("s1").cast("double") / col("n").cast("double"))
          * (col("s1").cast("double") / col("n").cast("double"))).as("v"))
      .select(col("n").as("n_users"),
        floor(col("mu") * lit(1000000.0)).cast("long").as("mean_micro"),
        floor(col("v") * lit(1000000.0)).cast("long").as("var_micro"),
        floor(col("v") / col("mu") * lit(1000000.0)).cast("long")
          .as("dispersion_micro"),
        floor(col("mu") * col("mu") / (col("v") - col("mu"))
          * lit(1000000.0)).cast("long").as("r_micro"),
        floor(col("mu") / col("v") * lit(1000000.0)).cast("long").as("p_micro"))

  /** q341_chao1 — Chao1 nonparametric richness estimation over word-
    * trigram types: V̂ = V_obs + N₁²/(2N₂), with the Good-Turing
    * sample coverage ĉ = 1 − N₁/N. The "how many types exist in the
    * crawl we HAVEN'T fetched yet" estimate that q320's spectrum
    * feeds — the number a corpus-expansion decision actually needs
    * (if coverage ≈ 1, more crawling buys no new vocabulary).
    *
    * Determinism: V, N₁, N₂, N are exact BIGINTs off one histogram;
    * the estimator and coverage are single floored doubles.
    *
    * Scale shape: one (trigram) count riding the token scan, one
    * spectrum fold; 1-row output. */
  def chao1(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.{TextFunctions => T}
    Tables.documents(spark, sfDir)
      .select(T.wsTokens(col("text")).as("w"))
      .select(explode_outer(T.shingles(col("w"), 3)).as("term"))
      .filter(col("term").isNotNull)
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("v_obs"), sum(col("c")).as("n_tokens"),
        sum((col("c") === 1).cast("long")).as("n1"),
        sum((col("c") === 2).cast("long")).as("n2"))
      .select(col("v_obs"), col("n_tokens"), col("n1"), col("n2"),
        (col("v_obs") + floor(col("n1").cast("double") * col("n1").cast("double")
          / (lit(2.0) * col("n2").cast("double"))).cast("long")).as("chao1_est"),
        expr("1000000 - n1 * 1000000 div n_tokens").as("coverage_ppm"))
  }

  /** q304 candidate (table, lhs → rhs) pairs — a governance config,
    * chosen so the census exercises both outcomes: key-determined
    * columns that HOLD and plausible-looking dependencies that FAIL
    * (the point of FD discovery is separating the two). */
  val FdCandidates: Seq[(String, String, String)] = Seq(
    ("customer", "c_nationkey", "c_mktsegment"),
    ("documents", "doc_id", "lang"),
    ("documents", "source", "lang"),
    ("events", "user_id", "event_type"),
    ("lineitem", "l_orderkey", "l_linestatus"),
    ("nation", "n_nationkey", "n_name"),
    ("nation", "n_regionkey", "n_name"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("orders", "o_orderkey", "o_orderstatus"))

  /** q304_fd_discovery — functional-dependency census over the
    * candidate pairs in [[FdCandidates]]: for each lhs → rhs claim,
    * the distinct-lhs count, row count, and the g3 error (minimum
    * rows to DELETE for the dependency to hold — Kivinen & Mannila
    * 1995's robust FD measure, Σ_a (n_a − majority_a)). q249 finds
    * cross-table inclusion dependencies; this is the within-table
    * half of schema discovery — together they recover the star
    * schema's keys and links from data alone, which is what a
    * catalog crawler does over an unlabeled 100 TB lake.
    *
    * Scale shape: per candidate ONE (lhs, rhs) count aggregate
    * collapsing to a (lhs) majority aggregate then a 1-row fold —
    * all partial-aggregable keyed shuffles of count frames, unioned
    * into a fixed |candidates|-row report. All-integer output. */
  def fdDiscovery(spark: SparkSession, sfDir: String): DataFrame = {
    def table(name: String): DataFrame = name match {
      case "customer" => Tables.customer(spark, sfDir)
      case "documents" => Tables.documents(spark, sfDir)
      case "events" => Tables.events(spark, sfDir)
      case "lineitem" => Tables.lineitem(spark, sfDir)
      case "nation" => Tables.nation(spark, sfDir)
      case "orders" => Tables.orders(spark, sfDir)
    }
    FdCandidates.map { case (tbl, lhs, rhs) =>
      table(tbl)
        .groupBy(col(lhs).cast("string").as("a"),
          col(rhs).cast("string").as("b"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("a"))
        .agg(sum(col("c")).as("na"), max(col("c")).as("ma"))
        .agg(count(lit(1)).as("n_lhs"), sum(col("na")).as("n_rows"),
          sum(col("na") - col("ma")).as("g3_violations"))
        .select(lit(tbl).as("tbl"), lit(lhs).as("lhs"), lit(rhs).as("rhs"),
          col("n_lhs"), col("n_rows"), col("g3_violations"),
          (col("g3_violations") === lit(0L)).cast("long").as("holds"))
    }.reduce(_.unionAll(_)).orderBy("tbl", "lhs", "rhs")
  }

  /** q298_kruskal_wallis — the k-group rank-based ANOVA (Kruskal-Wallis
    * H with the tie correction) over document lengths by language:
    * q294's machinery generalized from 2 groups to all of them, and
    * the robust cross-check of q297 (H is distribution-free where F
    * assumes normal residuals — when they disagree, the length
    * distributions are skewed, not shifted).
    *
    * Ranks come from the shared value-histogram identity (q194/q262/
    * q294): doubled average rank r2 = 2·cum + cnt + 1 keeps every rank
    * integral under ties, so the per-group rank sums Rᵢ2 are exact
    * BIGINTs; each Rᵢ2²/nᵢ floor-milli-quantizes before the
    * cross-group sum, and H / its tie-corrected form are two final
    * doubles over integers.
    *
    * Scale shape: one (lang, value) aggregate, the value histogram
    * rolls up FROM it, the cumsum window runs over the distinct
    * length-VALUE domain (whitelisted shape — never corpus rows);
    * 1-row output. */
  def kruskalWallis(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lv = Tables.documents(spark, sfDir)
      .groupBy(col("lang"), col("n_chars").as("value"))
      .agg(count(lit(1)).as("c"))
    val vh = lv.groupBy(col("value")).agg(sum(col("c")).as("cnt"))
      .withColumn("r2",
        lit(2) * coalesce(sum(col("cnt")).over(Window.orderBy(col("value"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          + col("cnt") + lit(1L))
    val grp = lv.join(vh.select(col("value"), col("r2")), "value")
      .groupBy(col("lang"))
      .agg(sum(col("c")).as("ni"), sum(col("c") * col("r2")).as("ri2"))
      .select(col("ni"),
        floor(col("ri2").cast("double") * col("ri2").cast("double")
          / col("ni").cast("double") * lit(1000.0)).cast("long")
          .as("term_milli"))
    val tie = vh.agg(
      sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("tie_term"))
    grp.agg(count(lit(1)).as("k_groups"), sum(col("ni")).as("n_total"),
        sum(col("term_milli")).as("t_milli"))
      .crossJoin(broadcast(tie))
      .select(col("k_groups"), col("n_total"), col("tie_term"),
        (lit(3.0) * col("t_milli").cast("double")
          / (lit(1000.0)
            * (col("n_total") * (col("n_total") + lit(1L))).cast("double"))
          - lit(3.0) * (col("n_total") + lit(1L)).cast("double")).as("h_raw"))
      .select(col("k_groups"), col("n_total"), col("tie_term"),
        floor(col("h_raw") * lit(1000000.0)).cast("long").as("h_micros"),
        floor(col("h_raw")
          / (lit(1.0) - col("tie_term").cast("double")
            / (col("n_total").cast("double") * col("n_total").cast("double")
              * col("n_total").cast("double") - col("n_total").cast("double")))
          * lit(1000000.0)).cast("long").as("h_adj_micros"))
  }

  /** q299_jarque_bera — Jarque-Bera normality test on the per-user
    * event-count distribution: the moment-based "is activity
    * log-normal-ish or actually normal?" gate that decides whether
    * q214-style z-tests on user activity are trustworthy. Skewness
    * and excess kurtosis come from the same raw power sums, so the
    * operator doubles as the moment census for the activity column.
    *
    * Determinism: per-user counts are integral, so the four raw power
    * sums S₁..S₄ are exact BIGINTs and every double after them is one
    * fixed expression tree over those integers (central moments via
    * the binomial identities, m₂^1.5 as m₂·√m₂ — no pow).
    *
    * Scale shape: one keyed count aggregate to |users| rows, one
    * 4-moment global aggregate; 1-row output. */
  def jarqueBera(spark: SparkSession, sfDir: String): DataFrame = {
    val x = col("x")
    val m = Tables.events(spark, sfDir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("x"))
      .agg(count(lit(1)).as("n"), sum(x).as("s1"), sum(x * x).as("s2"),
        sum(x * x * x).as("s3"), sum(x * x * x * x).as("s4"))
    val nD = col("n").cast("double")
    m.select(col("n"),
        (col("s1").cast("double") / nD).as("mean"),
        (col("s2").cast("double") / nD).as("p2"),
        (col("s3").cast("double") / nD).as("p3"),
        (col("s4").cast("double") / nD).as("p4"))
      .select(col("n"),
        (col("p2") - col("mean") * col("mean")).as("m2"),
        (col("p3") - lit(3.0) * col("mean") * col("p2")
          + lit(2.0) * col("mean") * col("mean") * col("mean")).as("m3"),
        (col("p4") - lit(4.0) * col("mean") * col("p3")
          + lit(6.0) * col("mean") * col("mean") * col("p2")
          - lit(3.0) * col("mean") * col("mean") * col("mean") * col("mean"))
          .as("m4"))
      .select(col("n"),
        (col("m3") / (col("m2") * sqrt(col("m2")))).as("skew"),
        (col("m4") / (col("m2") * col("m2"))).as("kurt"))
      .select(col("n").as("n_users"),
        floor(col("skew") * lit(1000000.0)).cast("long").as("skew_micros"),
        floor(col("kurt") * lit(1000000.0)).cast("long").as("kurt_micros"),
        floor(col("n").cast("double") / lit(6.0)
          * (col("skew") * col("skew")
            + (col("kurt") - lit(3.0)) * (col("kurt") - lit(3.0)) / lit(4.0))
          * lit(1000000.0)).cast("long").as("jb_micros"))
  }

  /** q350 miscoverage target: α = 0.1 → a 90%-coverage interval. */
  val ConformalTargetPpm = 900000L

  /** q350_conformal_interval — SPLIT-CONFORMAL prediction interval
    * (Vovk; Lei et al. 2018) for the q19 quality score from ln(doc
    * length): fit OLS on the train split, take the ⌈0.9·(n_cal+1)⌉-th
    * smallest absolute residual on the CALIBRATION split as the
    * interval half-width q̂, then MEASURE coverage on the test split —
    * finite-sample-valid uncertainty for any score a pipeline gates
    * on, with no normality assumption (q254 fits this regression and
    * q268/q282 bootstrap CIs for MEANS; conformal is the per-PREDICTION
    * guarantee, the thing an auto-labeling rollout actually needs).
    * Marginal coverage ≥ 90% holds by exchangeability alone — the
    * measured test coverage audits it.
    *
    * Determinism: y and x quantize to exact milli-grid BIGINTs BEFORE
    * the co-moment sums (exact integers ⇒ slope/intercept are one
    * identical double tree both engines — no float-fold drift, the
    * q342 rule; bounds hold to ~10⁷ docs, then the grid drops a
    * digit); predictions floor to the micro grid so residuals are
    * exact integers; q̂ is a grid-CDF order statistic; coverage is an
    * integer ppm.
    *
    * Scale shape: one scored scan (splits are q99's scan-local md5
    * rule) checkpointed once for its three split-consumers; the fit
    * is a 5-sum aggregate; q̂ comes from a residual-VALUE-domain
    * histogram + cumulative window (the q61/q136/q194 whitelisted
    * class — never a corpus-wide sort); coverage is one conditional
    * aggregate. */
  def conformalInterval(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.{HashFunctions => H}
    import org.apache.spark.sql.expressions.Window
    val scored = TextAnalysis.quality(spark, sfDir)
      .select(col("doc_id"), col("quality_score"))
      .join(Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("n_chars")), "doc_id")
      .filter(col("n_chars") > 0)
      .select(col("doc_id"),
        floor(col("quality_score") * lit(1000.0) + lit(0.5)).cast("long").as("yq"),
        floor(log(col("n_chars").cast("double")) * lit(1000.0)).cast("long").as("xq"),
        pmod(H.md5Int28(concat(lit("spl_"), col("doc_id").cast("string"))),
          lit(1000)).as("bucket"))
      .withColumn("split",
        when(col("bucket") < Sampling.TrainPerMille, lit("train"))
          .when(col("bucket") < Sampling.ValPerMille, lit("val"))
          .otherwise(lit("test")))
      .localCheckpoint()
    val fitSums = scored.filter(col("split") === "train")
      .agg(count(lit(1)).as("n"), sum(col("xq")).as("sx"), sum(col("yq")).as("sy"),
        sum(col("xq") * col("yq")).as("sxy"), sum(col("xq") * col("xq")).as("sxx"))
    val fit = fitSums
      .select(col("n").as("n_train"), col("sx"), col("sy"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")).as("slope"))
      .select(col("n_train"), col("slope"),
        ((col("sy").cast("double") - col("slope") * col("sx").cast("double"))
          / col("n_train").cast("double")).as("icept"))
    val resid = scored.filter(col("split") =!= "train")
      .crossJoin(broadcast(fit))
      .select(col("split"),
        abs(col("yq") * lit(1000L)
          - floor((col("icept") + col("slope") * col("xq").cast("double"))
            * lit(1000.0) + lit(0.5)).cast("long")).as("rq"),
        col("n_train"), col("slope"), col("icept"))
      .localCheckpoint()
    val calN = resid.filter(col("split") === "val")
      .agg(count(lit(1)).as("n_cal"))
    val cdf = resid.filter(col("split") === "val")
      .groupBy(col("rq")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(Window.orderBy(col("rq"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val qhat = cdf.crossJoin(broadcast(calN))
      .filter(col("cum") >= expr("(9 * (n_cal + 1) + 9) div 10"))
      .agg(min(col("rq")).as("qhat_micro"))
    val test = resid.filter(col("split") === "test")
      .crossJoin(broadcast(qhat))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("rq") <= col("qhat_micro"), 1L).otherwise(0L)).as("cov"),
        first(col("qhat_micro")).as("qhat_micro"),
        first(col("n_train")).as("n_train"),
        first(col("slope")).as("slope"), first(col("icept")).as("icept"))
    test.crossJoin(broadcast(calN))
      .select(col("n_train"), col("n_cal"), col("n_test"),
        round(col("slope"), 6).as("slope"),
        round(col("icept"), 6).as("intercept"),
        col("qhat_micro"),
        lit(ConformalTargetPpm).as("target_ppm"),
        expr("cov * 1000000 div n_test").as("coverage_ppm"))
  }

  /** This module's graded queries, name → build; `SparkEntry.queries`
    * collects them. */
  private[graft] val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q151_data_quality"   -> (dataQuality _),
    "q155_incremental_stats" -> (incrementalStats _),
    "q174_robust_outliers" -> (robustOutliers _),
    "q194_ks_drift"       -> (ksDrift _),
    "q196_wasserstein_drift" -> (wassersteinDrift _),
    "q213_psi_drift"      -> (psiDrift _),
    "q249_fk_discovery"   -> (fkDiscovery _),
    "q254_quality_length_ols" -> (qualityLengthOls _),
    "q257_chi2_independence" -> (chi2Independence _),
    "q259_benford"        -> (benford _),
    "q262_spearman"       -> (spearman _),
    "q263_calibration"    -> (calibration _),
    "q268_bootstrap_ci"   -> (bootstrapCi _),
    "q274_simpson"        -> (simpson _),
    "q277_cohen_kappa"    -> (cohenKappa _),
    "q278_join_estimate_audit" -> (joinEstimateAudit _),
    "q280_mutual_info"    -> (mutualInfo _),
    "q290_permutation_test" -> (permutationTest _),
    "q294_mann_whitney"   -> (mannWhitney _),
    "q297_anova_f"        -> (anovaF _),
    "q298_kruskal_wallis" -> (kruskalWallis _),
    "q299_jarque_bera"    -> (jarqueBera _),
    "q300_brown_forsythe" -> (brownForsythe _),
    "q304_fd_discovery"   -> (fdDiscovery _),
    "q306_logreg"         -> (logReg _),
    "q308_decision_stump" -> (decisionStump _),
    "q322_l_moments"      -> (lMoments _),
    "q326_k_anonymity"    -> (kAnonymity _),
    "q330_weekday_anova"  -> (weekdayAnova _),
    "q333_friedman"       -> (friedman _),
    "q340_neg_binomial"   -> (negBinomial _),
    "q341_chao1"          -> (chao1 _),
    "q350_conformal_interval" -> (conformalInterval _)
  )
}
