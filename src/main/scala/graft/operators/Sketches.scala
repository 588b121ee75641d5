package graft.operators

import graft.functions.{HashFunctions => H, TextFunctions => T}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate aggregation sketches — the constant-memory substitutes a
  * 100 TB pipeline uses where exact distinct/percentile would need an
  * unbounded shuffle: HLL++ (`approx_count_distinct`, ~1.5 KB of state
  * for any cardinality at rsd=0.05) and the percentile sketch
  * (`approx_percentile`). Both are mergeable partial aggregates, so they
  * partial-combine map-side like any sum.
  *
  * Spark's built-in sketches are engine-specific, so [[eventSketches]]
  * carries no DuckDB hash oracle (`SketchesSpec` bounds its error
  * instead). [[hllDistinct]] and [[heavyHitters]] close that gap the
  * graft way: the SAME sketches hand-built on the md5 parity hash
  * ([[graft.functions.HashFunctions]]), so register values, cell counts
  * and estimates are bit-reproducible by the DuckDB oracle and the
  * driver grades the sketch EXACTLY — including its error against the
  * exact answer, reported in the same row.
  */
object Sketches {

  /** HLL register-index bits (m = 2^[[HllP]] = 256 registers). */
  val HllP = 8
  /** Register count. */
  val HllM = 256
  /** Rank bits available after the register index: md5Int60 minus
    * [[HllP]] → 52, so ranks span 1..53. */
  val HllRankBits = 52

  /** q115_hll_distinct — per-language distinct-token cardinality via a
    * hand-rolled, CROSS-ENGINE-DETERMINISTIC HyperLogLog (Flajolet et
    * al. 2007), audited in the same row against the exact distinct
    * count. The register map (max leading-zero rank per md5 bucket) is
    * the ~256-cell mergeable state a 100 TB pipeline keeps per stratum
    * instead of the unbounded distinct set; grading the estimate AND
    * its relative error makes the sketch's accuracy a verified
    * contract, not a hope (q108/q109's audit pattern applied to
    * cardinality).
    *
    * Determinism: register = h mod 256 and rank = 53 − bitlength(h div
    * 256) are integer arithmetic on the md5 parity hash; the harmonic
    * sum Σ 2^−M_j is a sum of dyadic rationals spanning < 53 bits of
    * exponent, so IT IS EXACT in IEEE double in any summation order;
    * α·m²/Z is correctly-rounded IEEE division. Only the small-range
    * correction's ln() can differ in the last ulp cross-engine, which
    * the 4dp rounding absorbs.
    *
    * Scale shape: one scan-local explode+hash, ONE partial-aggregable
    * groupBy(lang, register) max — ≤ 256·|langs| rows out of the map
    * side regardless of corpus size — then a |langs|-row estimator
    * aggregate. The exact side (the audit) is the usual two-phase
    * distinct; at 100 TB you run it once to certify the sketch, then
    * ship the sketch. */
  def hllDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("lang"), explode(T.wsTokens(col("text"))).as("tok"))
    val h = toks.withColumn("h", H.md5Int60(col("tok")))
    val regs = h
      .groupBy(col("lang"), pmod(col("h"), lit(HllM.toLong)).as("reg"))
      .agg(max(lit(HllRankBits + 1) -
        length(ltrim(bin(shiftright(col("h"), HllP)), "0"))).as("mj"))
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(HllM.toDouble))
    val est = regs
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("v"),
        sum(lit(1.0) / expr("shiftleft(1L, mj)").cast("double")).as("s"))
      .select(col("lang"),
        (alpha * lit(HllM.toDouble) * lit(HllM.toDouble) /
          (col("s") + (lit(HllM) - col("v")).cast("double"))).as("e_raw"),
        (lit(HllM) - col("v")).cast("double").as("z"))
      .select(col("lang"),
        when(col("e_raw") <= lit(2.5 * HllM) && col("z") > 0,
          lit(HllM.toDouble) * log(lit(HllM.toDouble) / col("z")))
          .otherwise(col("e_raw")).as("e"))
    val exact = toks.groupBy(col("lang"))
      .agg(countDistinct(col("tok")).as("exact_distinct"))
    exact.join(broadcast(est), "lang")
      .select(col("lang"), col("exact_distinct"),
        round4(col("e")).as("hll_estimate"),
        round4((col("e") - col("exact_distinct").cast("double"))
          / col("exact_distinct").cast("double")).as("rel_error"))
      .orderBy("lang")
  }

  /** floor(x·10⁴ + 0.5)/10⁴ — the sign-stable HALF_UP the oracle
    * mirrors verbatim (Spark's round() rounds negatives AWAY from zero,
    * DuckDB's toward — floor+0.5 is identical in both). */
  private def round4(c: Column): Column =
    floor(c * lit(1e4) + lit(0.5)) / lit(1e4)

  /** The HLL estimator over a (reg, mj) register frame collapsed to one
    * row — shared by the merged and direct arms of [[hllMerge]]. */
  private def hllEstimate(regs: DataFrame): DataFrame = {
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(HllM.toDouble))
    regs.agg(count(lit(1)).as("v"),
      sum(lit(1.0) / expr("shiftleft(1L, mj)").cast("double")).as("s"))
      .select(
        (alpha * lit(HllM.toDouble) * lit(HllM.toDouble) /
          (col("s") + (lit(HllM) - col("v")).cast("double"))).as("e_raw"),
        (lit(HllM) - col("v")).cast("double").as("z"))
      .select(when(col("e_raw") <= lit(2.5 * HllM) && col("z") > 0,
        lit(HllM.toDouble) * log(lit(HllM.toDouble) / col("z")))
        .otherwise(col("e_raw")).as("e"))
  }

  /** q169_hll_merge — the MERGEABILITY proof for the cardinality
    * sketch (q155's commutative-monoid contract applied to HLL, which
    * is the whole reason sketches exist at 100 TB): per-language
    * register maps MERGE by per-register max, and the merged sketch's
    * corpus estimate must equal the estimate of a sketch built
    * directly over the whole corpus — exactly equal, not
    * approximately, because max is associative over the register
    * partition. One graded row carries both estimates, the equality
    * flag (the proof bit), the exact corpus distinct and the relative
    * error, so the oracle hash-match certifies merge = rebuild.
    *
    * Scale shape: the per-stratum register maps are ≤256·strata rows
    * (the shipped state); the merge is one 256-group max — the
    * pattern that lets every shard/day/stratum keep its own sketch
    * and still answer global questions without a corpus rescan. */
  def hllMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("lang"), explode(T.wsTokens(col("text"))).as("tok"))
    val h = toks.withColumn("h", H.md5Int60(col("tok")))
    val perLang = h
      .groupBy(col("lang"), pmod(col("h"), lit(HllM.toLong)).as("reg"))
      .agg(max(lit(HllRankBits + 1) -
        length(ltrim(bin(shiftright(col("h"), HllP)), "0"))).as("mj"))
    val merged = perLang.groupBy(col("reg")).agg(max(col("mj")).as("mj"))
    val direct = h
      .groupBy(pmod(col("h"), lit(HllM.toLong)).as("reg"))
      .agg(max(lit(HllRankBits + 1) -
        length(ltrim(bin(shiftright(col("h"), HllP)), "0"))).as("mj"))
    val exact = toks.agg(countDistinct(col("tok")).as("exact_distinct"))
    val me = hllEstimate(merged).select(round4(col("e")).as("merged_estimate"))
    val de = hllEstimate(direct).select(round4(col("e")).as("direct_estimate"))
    exact.crossJoin(broadcast(me)).crossJoin(broadcast(de))
      .select(col("exact_distinct"), col("merged_estimate"), col("direct_estimate"),
        (col("merged_estimate") === col("direct_estimate")).as("merge_equals_rebuild"),
        round4((col("merged_estimate") - col("exact_distinct").cast("double"))
          / col("exact_distinct").cast("double")).as("rel_error"))
  }

  /** Count-min depth (hash rows). */
  val CmsD = 4
  /** Count-min width (buckets per row). */
  val CmsW = 512
  /** Heavy hitters reported. */
  val CmsTopK = 20

  /** q116_heavy_hitters — token heavy hitters through a hand-rolled
    * count-min sketch (Cormode & Muthukrishnan 2005): d=4 affine hash
    * rows × w=512 buckets of occurrence counts, estimate = min over the
    * token's d cells, audited in the same row against the exact count
    * (CMS never underestimates, so `overestimate` is the materialized
    * collision error). The fixed 2048-cell grid is what a 100 TB
    * pipeline keeps when the token space itself (billions of keys)
    * can't be counted exactly per window — and like q115, building it
    * on the md5 parity hash makes every cell and estimate exactly
    * reproducible by the oracle.
    *
    * Scale shape: one md5 per occurrence + the affine family fan-out
    * (HashFunctions' O(tokens), not O(tokens·d)); the sketch is ONE
    * partial-aggregable groupBy over a hard 2048-cell key space — no
    * skew possible by construction; probing broadcasts the 2048-cell
    * frame onto the top-k rows. The exact top-k (the audit side) is the
    * standard count + TakeOrdered. */
  def heavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    val occ = Tables.documents(spark, sfDir)
      .select(explode(T.wsTokens(col("text"))).as("tok"))
      .withColumn("h", H.md5Int28(col("tok")))
    val cells = occ
      .select(explode(array((0 until CmsD).map(i =>
        struct(lit(i).as("r"), pmod(H.affine(col("h"), i), lit(CmsW.toLong)).as("b"))): _*))
        .as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("c"))
    val top = occ.groupBy(col("tok"), col("h"))
      .agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("tok").asc)
      .limit(CmsTopK)
    val probes = top
      .select(col("tok"), col("exact_cnt"),
        explode(array((0 until CmsD).map(i =>
          struct(lit(i).as("r"), pmod(H.affine(col("h"), i), lit(CmsW.toLong)).as("b"))): _*))
          .as("rb"))
      .select(col("tok"), col("exact_cnt"), col("rb.r").as("r"), col("rb.b").as("b"))
    probes.join(broadcast(cells), Seq("r", "b"))
      .groupBy(col("tok"), col("exact_cnt"))
      .agg(min(col("c")).as("cms_estimate"))
      .select(col("tok"), col("exact_cnt"), col("cms_estimate"),
        (col("cms_estimate") - col("exact_cnt")).as("overestimate"))
      .orderBy(col("exact_cnt").desc, col("tok").asc)
  }

  /** Histogram-quantile bin width (chars). */
  val QhBinW = 32L
  /** Histogram-quantile bin count — bin = min(n_chars div 32, 31). */
  val QhBins = 32L

  /** q173_quantile_merge — mergeable equi-width histogram quantiles with
    * the merge-equals-rebuild proof and an exact-answer audit. Exact
    * percentiles don't merge (you can't combine two medians), so a
    * 100 TB pipeline keeps a fixed-bin histogram per shard/source —
    * a commutative-monoid state like q155's moments and q169's HLL
    * registers — merges by bin-sum, and answers any quantile from the
    * merged cumulative. This query grades the whole contract in one
    * row per probe: per-SOURCE histograms merged bin-wise must equal
    * the histogram built directly over the corpus (`bins_match`), the
    * p50/p90/p99 estimates interpolate the merged cumulative, and each
    * estimate sits next to the EXACT rank-k value and its error — the
    * sketch's resolution guarantee (≤ one 32-char bin) verified, not
    * assumed.
    *
    * Determinism: bin ids, cumulative counts, rank targets
    * (ceil(p·n) as (n·num + den − 1) div den) and the within-bin
    * interpolation ((target − cum_below)·W div bin_count) are ALL
    * integer arithmetic — no float touches the result.
    *
    * Scale shape: both histograms are partial-aggregable aggregates
    * onto a HARD 32-bin key space (the per-source one ≤ 32·|sources|
    * rows); cumulative + probe matching run on the 32-row frame. The
    * exact audit aggregates onto the VALUE domain (≤ ~600 distinct
    * lengths) — domain-sized, not corpus-sized, then a domain window.
    * Nothing anywhere is wider than its key domain. */
  def quantileMerge(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
      .select(col("source"), col("n_chars"),
        expr(s"least(n_chars div $QhBinW, ${QhBins - 1})").cast("long").as("bin"))
    val perSource = docs.groupBy(col("source"), col("bin")).agg(count(lit(1)).as("c"))
    val merged = perSource.groupBy(col("bin")).agg(sum(col("c")).as("c"))
    val direct = docs.groupBy(col("bin")).agg(count(lit(1)).as("c"))
    val binsMatch = merged.as("m").join(direct.as("d"), Seq("bin"), "full_outer")
      .agg(min(coalesce(col("m.c"), lit(-1L)) === coalesce(col("d.c"), lit(-2L)))
        .as("bins_match"))
    val wBin = Window.orderBy(col("bin")).rowsBetween(Window.unboundedPreceding, -1)
    val cum = merged.select(col("bin"), col("c"),
      coalesce(sum(col("c")).over(wBin), lit(0L)).as("cum_below"))
    val nRow = docs.agg(count(lit(1)).as("n"))
    import spark.implicits._
    val probes = Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L))
      .toDF("p", "num", "den")
      .crossJoin(broadcast(nRow))
      .select(col("p"), col("n"),
        expr("(n * num + den - 1) div den").cast("long").as("target"))
    val est = probes.join(broadcast(cum),
        col("cum_below") < col("target") && col("cum_below") + col("c") >= col("target"))
      .select(col("p"), col("n"), col("target"),
        (col("bin") * lit(QhBinW) +
          expr(s"((target - cum_below) * $QhBinW) div c").cast("long")).as("est_value"))
    val valCum = docs.groupBy(col("n_chars")).agg(count(lit(1)).as("vc"))
    val wVal = Window.orderBy(col("n_chars")).rowsBetween(Window.unboundedPreceding, -1)
    val exact = valCum.select(col("n_chars"), col("vc"),
      coalesce(sum(col("vc")).over(wVal), lit(0L)).as("cum_below"))
    val exactAt = est.join(broadcast(exact),
        col("cum_below") < col("target") && col("cum_below") + col("vc") >= col("target"))
      .select(col("p"), col("n"), col("target"), col("est_value"),
        col("n_chars").as("exact_value"))
    exactAt.crossJoin(broadcast(binsMatch))
      .select(col("p"), col("n"), col("target"), col("est_value"), col("exact_value"),
        abs(col("est_value") - col("exact_value")).as("abs_err"), col("bins_match"))
      .orderBy("p")
  }

  /** Per-event-type approximate user cardinality + value percentiles,
    * alongside the exact count for the accuracy tests. */
  def eventSketches(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), 0.05).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        approx_percentile(col("value"), lit(0.5), lit(1000)).as("approx_p50"),
        approx_percentile(col("value"), lit(0.99), lit(1000)).as("approx_p99"))
      .orderBy("event_type")

  /** q337 precision sweep: register-count exponents p (m = 2^p). */
  val HllSweepP: Seq[Int] = Seq(4, 6, 8)

  /** q337_hll_sweep — HyperLogLog precision tuning: the distinct-user
    * estimate at m = 16/64/256 registers beside the exact count and
    * the theoretical 1.04/√m standard error. q115 grades ONE
    * operating point per language; this is the register-budget curve
    * an operator reads before sizing sketch state (the q315/q324/
    * q334 tuning-curve family applied to sketches) — where the
    * measured error meets the theoretical band, the budget is
    * justified.
    *
    * Determinism: register hashes are md5 (q115's convention); the
    * harmonic sum adds exact dyadic rationals (each 2^−M_j is
    * exactly representable and the partial sums stay exact, so the
    * float fold is order-independent — the q115 trick); estimates
    * round half-up at 4dp.
    *
    * Scale shape: one hashed scan checkpointed (all sweep points
    * read it); per point one ≤m-row register aggregate and a 1-row
    * estimate; broadcast exact count; |sweep| output rows. */
  def hllSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(H.md5Int60(concat(lit("hs_"), col("user_id").cast("string")))
        .as("h"))
      .localCheckpoint()
    val exact = Tables.events(spark, sfDir)
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    HllSweepP.map { p =>
      val m = 1 << p
      val regs = ev
        .groupBy(pmod(col("h"), lit(m.toLong)).as("reg"))
        .agg(max(lit(60 - p + 1) -
          length(ltrim(bin(expr(s"h div $m")), "0"))).as("mj"))
      val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
      regs
        .agg(count(lit(1)).as("v"),
          sum(lit(1.0) / expr("shiftleft(1L, mj)").cast("double")).as("s"))
        .select((alpha * lit(m.toDouble) * lit(m.toDouble) /
            (col("s") + (lit(m) - col("v")).cast("double"))).as("e_raw"),
          (lit(m) - col("v")).cast("double").as("z"))
        .select(when(col("e_raw") <= lit(2.5 * m) && col("z") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("z")))
          .otherwise(col("e_raw")).as("e"))
        .crossJoin(broadcast(exact))
        .select(lit(p).as("p"), lit(m.toLong).as("m"), col("exact_distinct"),
          (floor(col("e") * lit(1e4) + lit(0.5)) / lit(1e4)).as("hll_estimate"),
          (floor((col("e") - col("exact_distinct").cast("double"))
            / col("exact_distinct").cast("double") * lit(1e4) + lit(0.5))
            / lit(1e4)).as("rel_error"),
          floor(lit(1.04) / sqrt(lit(m.toDouble)) * lit(1000000.0))
            .cast("long").as("theory_err_ppm"))
    }.reduce(_.unionAll(_)).orderBy("p")
  }

  /** q355_hll_set_ops — sketched SET ALGEBRA and its honest error
    * bill: HLL register maps for the two corpus halves' trigram
    * vocabularies (q100's exact split), the UNION by per-register max
    * (q169's merge — exact over the sketch), and the INTERSECTION by
    * inclusion-exclusion |A|+|B|−|A∪B| — each audited against q100's
    * exact counts in one graded row. The union inherits HLL's
    * ~1.04/√m relative error; the intersection error is AMPLIFIED by
    * the cancellation (three ±6.5% estimates differenced against a
    * possibly-small true intersection) — the measured verdict for why
    * intersection-heavy workloads move to Theta/KMV sketches while
    * union-only pipelines keep HLL's 256-byte state.
    *
    * Determinism: register ranks are exact integers; the harmonic
    * sums add exact dyadic rationals (order-free — q115's trick);
    * estimates and errors are one identical double tree both engines,
    * floor-4dp.
    *
    * Scale shape: one trigram scan → (half, register) max aggregate
    * (≤2·256 rows of shipped state, checkpointed for its three
    * estimator reads); the exact audit is its own trigram-set
    * aggregate (the q115 two-scan pattern — at 100 TB the exact side
    * is the one you DON'T run, which is the operator's point);
    * everything downstream is ≤512-row algebra. */
  def hllSetOps(spark: SparkSession, sfDir: String): DataFrame = {
    // spread (guide §2.5): both the register build and the exact audit
    // re-run the shingle+md5 chain scan-side; A/B 1.5 -> 1.1 s
    val docs = Tables.documentsSpread(spark, sfDir).select(col("doc_id"), col("text"))
    val halfF = docs.agg(expr("count(1) div 2").as("half"))
    def grams = docs.crossJoin(broadcast(halfF))
      .select(col("doc_id"), col("half"), T.wsTokens(col("text")).as("w"))
      .select(when(col("doc_id") < col("half"), lit("a")).otherwise(lit("b")).as("s"),
        explode(T.shingleSet(col("w"), 3)).as("g"))
    val h = grams.withColumn("h", H.md5Int60(col("g")))
    val regs = h
      .groupBy(col("s"), pmod(col("h"), lit(HllM.toLong)).as("reg"))
      .agg(max(lit(HllRankBits + 1) -
        length(ltrim(bin(shiftright(col("h"), HllP)), "0"))).as("mj"))
      .localCheckpoint()
    val eA = hllEstimate(regs.filter(col("s") === "a").select(col("reg"), col("mj")))
      .select(col("e").as("ea"))
    val eB = hllEstimate(regs.filter(col("s") === "b").select(col("reg"), col("mj")))
      .select(col("e").as("eb"))
    val eU = hllEstimate(regs.groupBy(col("reg")).agg(max(col("mj")).as("mj")))
      .select(col("e").as("eu"))
    val exact = grams
      .groupBy(col("g"))
      .agg(max(when(col("s") === "a", 1L).otherwise(0L)).as("ia"),
        max(when(col("s") === "b", 1L).otherwise(0L)).as("ib"))
      .agg(sum(col("ia")).as("n_a_exact"), sum(col("ib")).as("n_b_exact"),
        sum(col("ia") * col("ib")).as("n_inter_exact"))
    exact.crossJoin(broadcast(eA)).crossJoin(broadcast(eB)).crossJoin(broadcast(eU))
      .select(col("n_a_exact"), col("n_b_exact"), col("n_inter_exact"),
        round4(col("ea")).as("hll_a"), round4(col("eb")).as("hll_b"),
        round4(col("eu")).as("hll_union"),
        round4(col("ea") + col("eb") - col("eu")).as("hll_inter"),
        round4((col("eu")
          - (col("n_a_exact") + col("n_b_exact") - col("n_inter_exact")).cast("double"))
          / (col("n_a_exact") + col("n_b_exact") - col("n_inter_exact")).cast("double"))
          .as("union_rel_error"),
        round4((col("ea") + col("eb") - col("eu") - col("n_inter_exact").cast("double"))
          / col("n_inter_exact").cast("double")).as("inter_rel_error"))
  }

  /** This module's graded queries, name → build; `SparkEntry.queries`
    * collects them. */
  private[graft] val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q115_hll_distinct"   -> (hllDistinct _),
    "q116_heavy_hitters"  -> (heavyHitters _),
    "q169_hll_merge"      -> (hllMerge _),
    "q173_quantile_merge" -> (quantileMerge _),
    "q337_hll_sweep"      -> (hllSweep _),
    "q355_hll_set_ops" -> (hllSetOps _)
  )
}
