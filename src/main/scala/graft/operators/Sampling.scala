package graft.operators

import graft.functions.{HashFunctions => H}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling — the rebalancing step of a
  * training-data mix (downsample the dominant language/source, keep the
  * tail), expressed so the SAME rows are selected on every engine, any
  * partitioning, any run:
  *
  * membership = md5("smp_" || doc_id) mod 1000 < per-stratum rate.
  *
  * That makes sampling a pure scan-local filter: no RNG state, no
  * `sample()` nondeterminism, no shuffle — at 100 TB it rides the
  * parquet scan and composes with pushdown. The hash family is the same
  * md5-prefix trick the LSH weights use (cross-engine reproducible, so
  * the DuckDB oracle checks the sample EXACTLY, not statistically).
  *
  * The reference has no sampling surface; this is part of the
  * LLM-pipeline tier the builder brief adds.
  */
object Sampling {

  /** q138 per-stratum sample size. */
  val StratumN = 20

  /** q138_stratified_n — EXACT-n stratified sampling: precisely
    * [[StratumN]] documents per language (all of them when a stratum is
    * smaller), selected as the stratum's smallest deterministic md5
    * draws — the eval-set construction move ("exactly 20 per language
    * for the annotation batch") that rate-based sampling (q48/q60)
    * cannot promise: a rate gives a BINOMIAL stratum size, annotation
    * budgets need an exact one.
    *
    * Scale shape: the per-stratum selection is the bounded map-side
    * `top_k_by_score` fold (score = −draw ⇒ the n smallest draws, tie →
    * smaller doc id) — one keyed exchange carrying ≤ n rows per
    * stratum, never a window sort over the corpus. */
  def stratifiedN(spark: SparkSession, sfDir: String): DataFrame = {
    val draw = graft.functions.HashFunctions.md5Int28(
      concat(lit("strat_"), col("doc_id").cast("string")))
    Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"),
        (lit(0L) - draw).cast("double").as("neg_draw"))
      .groupBy(col("lang"))
      .agg(org.apache.spark.sql.graft.native
        .topKByScore(col("neg_draw"), col("doc_id"), StratumN).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("smp_rank"),
        col("s.id").as("doc_id"))
      .orderBy("lang", "smp_rank")
  }

  /** Per-mille keep rates per language; the dominant language (en, ~44%
    * of the synthetic corpus) is downsampled 2× vs the tail. */
  val DefaultRate = 200
  val EnRate = 100

  /** q48_sample — deterministic stratified sample of the documents
    * table: (doc_id, lang, source, bucket) for every kept doc. */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("bucket",
        pmod(H.md5Int28(concat(lit("smp_"), col("doc_id").cast("string"))), lit(1000)))
      .withColumn("keep_rate",
        when(col("lang") === "en", lit(EnRate)).otherwise(lit(DefaultRate)))
      .filter(col("bucket") < col("keep_rate"))
      .select(col("doc_id"), col("lang"), col("source"), col("bucket"))
      .orderBy("doc_id")

  /** q60_lang_balance — DATA-DEPENDENT rebalancing: downsample every
    * language to (approximately) the size of the smallest one, the
    * "flatten the language mix" step of a multilingual training set.
    * Where q48's rates are fixed configuration, here the rate comes from
    * the corpus itself: membership is
    *
    *   md5("bal_" || doc_id) mod n_lang  <  n_target
    *
    * with n_lang = docs in this doc's language and n_target = min over
    * languages — keeping an ≈ n_target/n_lang fraction of each stratum,
    * exactly n_target in expectation, and exactly reproducible (the
    * DuckDB oracle recomputes the identical membership, so the check is
    * row-exact, not statistical).
    *
    * Scale shape: the per-language counts are one partial-aggregable
    * groupBy whose result (|languages| rows) broadcasts back onto the
    * scan, the global min is a 1-row broadcast, and membership is a
    * scan-local filter — no shuffle of the corpus, no RNG state, no
    * per-group windows (a rank-based exact-n variant would put n/|langs|
    * rows in one window task; the hash-threshold form is what keeps
    * this a pure scan at 100 TB). */
  def langBalance(spark: SparkSession, sfDir: String): DataFrame =
    langBalanceFrom(Tables.documents(spark, sfDir))

  /** Max documents kept per source in [[domainCap]]. */
  val DomainCapN = 15

  /** q69_domain_cap — per-domain document cap: keep at most
    * [[DomainCapN]] docs per source, chosen in deterministic hash order
    * (md5("cap_"‖doc_id), ties → doc_id) — the "one crawl domain floods
    * the corpus" guard of a web-scale pipeline (CommonCrawl-style
    * per-domain limits).
    *
    * Scale shape: per-source selection runs through the native
    * `top_k_by_score` aggregate, whose k-slot buffer pre-reduces
    * MAP-SIDE to ≤ N rows per source per partition — a hot domain with
    * 10⁹ docs costs its scan, not a window task (row_number over a
    * flooded domain drags the whole domain into one task; the aggregate
    * form never materializes more than |sources|·N rows after the
    * exchange). The hash order makes the kept set independent of
    * partitioning and engine. */
  def domainCap(spark: SparkSession, sfDir: String): DataFrame =
    domainCapFrom(Tables.documents(spark, sfDir), DomainCapN)

  /** [[domainCap]] over an arbitrary (doc_id, source) frame. */
  private[graft] def domainCapFrom(docs: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.graft.{native => gf}
    // smallest hash first ⇒ score = -hash; 28-bit hashes are exact in
    // double, and the aggregate's tie-break (score desc, id asc) gives
    // the (hash asc, doc_id asc) order the oracle's window replicates
    val h = H.md5Int28(concat(lit("cap_"), col("doc_id").cast("string")))
    docs
      .select(col("source"), col("doc_id"), h.as("h"))
      .groupBy(col("source"))
      .agg(gf.topKByScore(-col("h").cast("double"), col("doc_id"), n).as("kept"))
      .select(col("source"), posexplode(col("kept")).as(Seq("pos", "kv")))
      .select(col("source"), col("kv.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("cap_rank"))
      .orderBy("source", "cap_rank")
  }

  /** Temperature exponent α=0.5 ⇒ keep fraction √(n_min/n_lang). */
  val MixScale = 1000000L

  /** q71_temp_mix — temperature-scaled language rebalancing: keep a
    * √(n_min/n_lang) fraction of every language (α = 0.5 exponential
    * smoothing, the multilingual-LLM sampling scheme of mBERT/XLM) —
    * the midpoint between q48's fixed rates, q60's full flatten (α=0)
    * and no rebalancing (α=1): dominant languages are damped, the tail
    * is boosted relative to its natural share, the smallest language
    * survives intact.
    *
    * Determinism across engines: `sqrt` is IEEE-correctly-rounded (the
    * ONLY transcendental with that guarantee — `pow(x, 0.5)` is not),
    * so floor(√(n_min/n_lang)·10⁶) lands on the identical per-million
    * threshold in Spark and DuckDB, and membership
    * md5("mix_"‖doc_id) mod 10⁶ < threshold is the same scan-local,
    * shuffle-free hash filter as q48/q60 — row-exact oracle, no RNG. */
  def tempMix(spark: SparkSession, sfDir: String): DataFrame =
    tempMixFrom(Tables.documents(spark, sfDir))

  /** [[tempMix]] over an arbitrary (doc_id, lang, source) frame. */
  private[graft] def tempMixFrom(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val target = counts.agg(min(col("n_lang")).as("n_min"))
    docs.join(broadcast(counts), "lang")
      .crossJoin(broadcast(target))
      .withColumn("keep_ppm",
        floor(sqrt(col("n_min").cast("double") / col("n_lang")) * MixScale)
          .cast("long"))
      .filter(pmod(H.md5Int28(concat(lit("mix_"), col("doc_id").cast("string"))),
        lit(MixScale)) < col("keep_ppm"))
      .select(col("doc_id"), col("lang"), col("source"), col("keep_ppm"))
      .orderBy("doc_id")
  }

  /** q86_cluster_balance — TOPIC-balanced sampling: q71's temperature
    * rebalancing applied to EMBEDDING-SPACE clusters instead of
    * language labels — the semantic diversity pass (DCLM/SemDeDup-era
    * curation rebalances clusters, not just metadata strata, because a
    * crawl's topic skew does not announce itself in a `lang` column).
    * Clusters are the trained k-means cells the session already has
    * ([[Similarity.hierCells]] — the 4th consumer of the cell-index
    * artifact after q57/q73/q82): keep fraction √(n_min/n_cell) per
    * cell, md5-per-million membership, identical determinism story to
    * q71 (IEEE-exact `sqrt`, integer thresholds, no RNG, scan-local
    * filter). Per-cell counts broadcast; zero new shuffle beyond the
    * count aggregation. */
  def clusterBalance(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Similarity.hierCells(spark, sfDir)
      .select(col("vec_id"), col("tc")(0)("id").as("cent_id"))
    val counts = cells.groupBy("cent_id").agg(count(lit(1)).as("n_cell"))
    val target = counts.agg(min(col("n_cell")).as("n_min"))
    cells.join(broadcast(counts), "cent_id")
      .crossJoin(broadcast(target))
      .withColumn("keep_ppm",
        floor(sqrt(col("n_min").cast("double") / col("n_cell")) * MixScale)
          .cast("long"))
      .filter(pmod(H.md5Int28(concat(lit("cb_"), col("vec_id").cast("string"))),
        lit(MixScale)) < col("keep_ppm"))
      .select(col("vec_id"), col("cent_id"), col("keep_ppm"))
      .orderBy("vec_id")
  }

  /** Per-mille split boundaries: bucket < 800 → train,
    * < 900 → val, else test. */
  val TrainPerMille = 800
  val ValPerMille = 900

  /** q99_split_assign — leakage-free train/val/test assignment: every
    * doc lands in exactly ONE split via its md5 per-mille bucket
    * (80/10/10), and the graded output is the per-(lang, split) audit —
    * counts plus each split's observed share of its language stratum.
    * Hash-splitting is how production pipelines do it (a ranked exact
    * split would need per-stratum global order — q61's machinery — and
    * re-shuffles membership every time the corpus grows; hash buckets
    * are STABLE under ingestion, so yesterday's test doc can never
    * drift into tomorrow's train set).
    *
    * Scale shape: assignment is a scan-local projection (no RNG, no
    * shuffle — the q48 membership trick with disjoint ranges instead
    * of a keep predicate); the audit is one partial-aggregable
    * aggregate over (lang, split) plus a broadcast-back of the
    * |languages|-row stratum totals. The share uses the
    * floor(x·1e6+0.5) contract (small-integer ratios sit on decimal
    * midpoints — NOTES lesson 29). */
  def splitAssign(spark: SparkSession, sfDir: String): DataFrame = {
    val assigned = Tables.documents(spark, sfDir)
      .withColumn("bucket",
        pmod(H.md5Int28(concat(lit("spl_"), col("doc_id").cast("string"))), lit(1000)))
      .withColumn("split",
        when(col("bucket") < TrainPerMille, lit("train"))
          .when(col("bucket") < ValPerMille, lit("val"))
          .otherwise(lit("test")))
    val perSplit = assigned.groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
    val perLang = perSplit.groupBy("lang").agg(sum(col("n_docs")).as("n_lang"))
    perSplit.join(broadcast(perLang), "lang")
      .select(col("lang"), col("split"), col("n_docs"),
        (floor(col("n_docs").cast("double") / col("n_lang").cast("double") * lit(1e6)
          + lit(0.5)) / lit(1e6)).as("share"))
      .orderBy("lang", "split")
  }

  /** q345_neyman — Neyman-optimal stratified-sampling design over the
    * language strata: allocate a sampling budget ∝ N_h·S_h (stratum
    * size × within-stratum std of doc length) beside the
    * proportional ∝ N_h allocation the engine's samplers (q48/q138)
    * use, plus the design-effect ratio of the two variances. Strata
    * with high internal variance deserve MORE than their share — the
    * survey-sampling theorem that makes quality-estimation samples
    * cheaper, priced on this corpus.
    *
    * Determinism: per-stratum N, Σx, Σx² are exact BIGINTs; S_h, the
    * two allocations, and the variance ratio are fixed double trees;
    * shares floor to ppm AFTER the cross-stratum normalizer (itself
    * a sum of per-stratum floored-micro weights, so the fold is
    * integer and order-free).
    *
    * Scale shape: one lang-keyed moment aggregate, one broadcast
    * 1-row normalizer; |langs| rows. */
  def neymanAllocation(spark: SparkSession, sfDir: String): DataFrame = {
    val m = Tables.documents(spark, sfDir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("nh"), sum(col("n_chars")).as("s1"),
        sum(col("n_chars") * col("n_chars")).as("s2"))
      .select(col("lang"), col("nh"),
        floor(sqrt(col("s2").cast("double") / col("nh").cast("double")
          - (col("s1").cast("double") / col("nh").cast("double"))
          * (col("s1").cast("double") / col("nh").cast("double")))
          * lit(1000000.0)).cast("long").as("sh_micro"))
      .select(col("lang"), col("nh"), col("sh_micro"),
        (col("nh") * col("sh_micro")).as("w"))
      .localCheckpoint()
    val tot = m.agg(sum(col("nh")).as("nt"), sum(col("w")).as("wt"))
    m.crossJoin(broadcast(tot))
      .select(col("lang"), col("nh"), col("sh_micro"),
        expr("nh * 1000000 div nt").as("proportional_ppm"),
        expr("w * 1000000 div wt").as("neyman_ppm"))
      .orderBy("lang")
  }

  /** [[langBalance]] over an arbitrary (doc_id, lang, source) frame. */
  private[graft] def langBalanceFrom(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val target = counts.agg(min(col("n_lang")).as("n_target"))
    docs.join(broadcast(counts), "lang")
      .crossJoin(broadcast(target))
      .filter(pmod(H.md5Int28(concat(lit("bal_"), col("doc_id").cast("string"))),
        col("n_lang")) < col("n_target"))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  /** Sample size for [[prioritySample]]. */
  val PriorityN = 100
  /** 2^28 — the md5Int28 value grid, so u = (h+1)/2^28 ∈ (0, 1]. */
  val PriorityGrid = 268435456.0

  /** q119_priority_sample — weight-proportional sampling WITHOUT
    * replacement via priority sampling (Duffield, Lund & Thorup 2007):
    * priority q = w / u with u deterministic from md5, take the
    * [[PriorityN]] largest, and report the DLT estimator
    * ŵ = max(w, τ) (τ = the (n+1)-th priority) whose sample sum
    * unbiasedly estimates the TOTAL corpus weight — the "estimate a
    * corpus-wide statistic from n rows" primitive a 100 TB pipeline
    * uses when even one aggregation pass over the raw corpus is worth
    * avoiding (weight here = n_chars, so the sample estimates total
    * corpus bytes). SamplingSpec pins the estimator against the true
    * total.
    *
    * Cross-engine exactness: u = (h+1)/2^28 makes q = w·2^28/(h+1) a
    * SINGLE correctly-rounded IEEE division of two ≤2^53 integers —
    * bit-identical in Spark and DuckDB, so the graded output carries
    * the raw doubles, no rounding needed. Ties broken (q desc, id asc)
    * both sides.
    *
    * Scale shape: the priority is scan-local arithmetic on the
    * projected (doc_id, n_chars) columns; selection is the native
    * `top_k_by_score` aggregate — a (n+1)-slot buffer with map-side
    * combine, so the corpus never shuffles and the driver never sees
    * more than n+1 rows; the weight lookup joins the n-row sample
    * (broadcast) back to the scan. */
  def prioritySample(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.graft.{native => gf}
    val pr = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars").as("w"),
        (col("n_chars").cast("double") * lit(PriorityGrid) /
          (H.md5Int28(concat(lit("pri_"), col("doc_id").cast("string"))) + lit(1L))
            .cast("double")).as("q"))
    val top = pr.groupBy()
      .agg(gf.topKByScore(col("q"), col("doc_id"), PriorityN + 1).as("t"))
      .select(element_at(col("t"), PriorityN + 1).getField("score").as("tau"),
        posexplode(col("t")).as(Seq("pos", "s")))
      .filter(col("pos") < PriorityN)
      .select((col("pos") + 1).cast("long").as("smp_rank"),
        col("s.id").as("doc_id"), col("s.score").as("priority"), col("tau"))
    pr.select(col("doc_id"), col("w")).join(broadcast(top), "doc_id")
      .select(col("smp_rank"), col("doc_id"), col("w"), col("priority"), col("tau"),
        greatest(col("w").cast("double"), col("tau")).as("w_est"))
      .orderBy("smp_rank")
  }

  /** q192 training-budget fraction: budget = total tokens div 2. */
  val EpochBudgetDen = 2L

  /** q192_epoch_mix — the EPOCH/REPEAT plan a training run derives from
    * a temperature-weighted language mix: allocate a token budget
    * (half the corpus, [[EpochBudgetDen]]) across languages
    * proportionally to n_lang^0.5 (the α=0.5 mBERT/XLM-R temperature
    * q71 samples BY), and report per language the implied epoch count
    * alloc/n_lang — the number that tells you a tail language will be
    * REPEATED (epochs > 1, memorization risk) while the head is
    * subsampled (epochs < 1). q71 materializes the sampled rows; this
    * emits the PLAN (the mixture card the data loader consumes).
    *
    * Determinism: per-language weights are floor(√n·1e6) integers
    * (sqrt is IEEE-correctly-rounded on identical BIGINT inputs), so
    * the weight total, ppm shares, allocations and epoch ratios are
    * ALL exact integer arithmetic — no float sum ever forms.
    *
    * Scale shape: one partial-aggregable per-language token-count
    * aggregate over the scan; everything else is integer projections
    * over the langs-sized frame with the 1-row total broadcast. */
  def epochMix(spark: SparkSession, sfDir: String): DataFrame = {
    val perLang = Tables.documents(spark, sfDir)
      .select(col("lang"),
        size(graft.functions.TextFunctions.wsTokens(col("text"))).cast("long").as("nt"))
      .groupBy(col("lang")).agg(sum(col("nt")).as("n_tokens"))
      .select(col("lang"), col("n_tokens"),
        floor(sqrt(col("n_tokens").cast("double")) * lit(1e6) + lit(0.5))
          .cast("long").as("s_l"))
    val tot = perLang.agg(sum(col("s_l")).as("s_tot"), sum(col("n_tokens")).as("n_tot"))
    perLang.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_tokens"),
        expr("s_l * 1000000 div s_tot").as("share_ppm"),
        expr(s"(n_tot div $EpochBudgetDen) * s_l div s_tot").as("alloc_tokens"))
      .select(col("lang"), col("n_tokens"), col("share_ppm"), col("alloc_tokens"),
        expr("alloc_tokens * 1000000 div n_tokens").as("epochs_ppm"))
      .orderBy("lang")
  }

  /** This module's graded queries, name → build; `SparkEntry.queries`
    * collects them. */
  private[graft] val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q48_sample"          -> (stratifiedSample _),
    "q60_lang_balance"    -> (langBalance _),
    "q69_domain_cap"      -> (domainCap _),
    "q71_temp_mix"        -> (tempMix _),
    "q86_cluster_balance" -> (clusterBalance _),
    "q99_split_assign"    -> (splitAssign _),
    "q119_priority_sample" -> (prioritySample _),
    "q138_stratified_n"   -> (stratifiedN _),
    "q192_epoch_mix"      -> (epochMix _),
    "q345_neyman"         -> (neymanAllocation _)
  )
}
