package graft.operators

import graft.functions.{TextFunctions => T}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q33_pipeline — the capstone corpus-curation pipeline: the individual
  * operators composed the way a training-data run actually chains them.
  *
  *   1. normalize text, exact-dedup on the normalized-content hash
  *      (survivor = min doc_id per hash);
  *   2. drop transitive near-duplicates (higher-id member of every
  *      verified ≥0.8-Jaccard pair, from the MinHash-LSH pipeline);
  *   3. quality-filter (composite score ≥ 0.33);
  *   4. emit the surviving corpus with its per-doc stats.
  *
  * Everything stays one lazy plan end-to-end — Catalyst fuses the stages
  * (common scans, pushed filters), which is the point of composing
  * operators as DataFrames rather than materializing between steps. At
  * 100 TB each stage keeps its own scale properties (hash-groupBy dedup,
  * bucket-local LSH, scan-local scoring); nothing new is introduced by
  * composition.
  */
object Pipeline {

  /** q80_dedup_report — the summary a curation run ships: distribution
    * of near-dup cluster sizes over q31's transitive components
    * (including singletons), one row per size with the cluster count
    * and docs covered. The removable-duplicate total is
    * Σ (size-1)·n_clusters — the corpus-shrink the dedup pass buys —
    * and the report is what decides cap/threshold tuning before a
    * 100 TB pass is committed.
    *
    * Scale shape: two partial-aggregable aggregations over the cluster
    * labels (docs → clusters → size histogram); output is bounded by
    * the largest cluster size, never the corpus. */
  def dedupReport(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.clusterLabels(spark, sfDir)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        (col("cluster_size") * count(lit(1))).as("n_docs"),
        ((col("cluster_size") - 1) * count(lit(1))).as("n_removable"))
      .orderBy("cluster_size")

  val QualityThreshold = 0.33

  /** q47_cluster_reps — canonical-document selection: for every
    * transitive near-dup cluster (q31 components), keep the single
    * best-quality member (tie → lower doc_id) plus the member count —
    * the "which copy do we train on" step that follows clustering in a
    * real curation run. One join + one agg over the cluster labels;
    * the argmax is a struct-max (quality, -doc_id) so it stays a
    * partial-aggregable single pass, no window shuffle. */
  def clusterReps(spark: SparkSession, sfDir: String): DataFrame =
    clusterRepsFrom(
      Dedup.clusterLabels(spark, sfDir),
      TextAnalysis.quality(spark, sfDir).select(col("doc_id"), col("quality_score")))

  /** [[clusterReps]] from PRECOMPUTED cluster labels + quality scores —
    * the reuse surface for a curation run that already materialized
    * q31's labels (mirrors [[Dedup.ngramDedupFrom]]). */
  def clusterRepsFrom(labels: DataFrame, qual: DataFrame): DataFrame = {
    labels.join(qual, "doc_id")
      .groupBy("cluster_id")
      .agg(
        count(lit(1)).as("n_members"),
        max(struct(
          col("quality_score").as("qs"),
          (-col("doc_id")).as("nid"),
          col("doc_id").as("id"))).as("best"))
      .select(col("cluster_id"), col("best.id").as("rep_doc_id"),
        col("best.qs").as("rep_quality"), col("n_members"))
      .orderBy("cluster_id")
  }

  /** q52_curation_chain — the curation stages chained over the
    * session's two dedup artifacts, the verified pair set
    * ([[Dedup.verifiedPairs]]) and the cluster labels derived from it
    * ([[Dedup.clusterLabels]]):
    *
    *   - q14's survivor filter ([[Dedup.ngramDedupFrom]]) over the pairs,
    *   - q31's transitive clusters (the labels),
    *   - q47's canonical reps ([[clusterRepsFrom]]) over the labels.
    *
    * Output per cluster: the representative, its quality, the member
    * count, and how many members the pairwise survivor filter keeps
    * (n_kept). Neither the LSH pipeline nor the connected-components
    * loop runs here once the artifacts are built. n_kept ≥ 1 always —
    * each cluster's minimum doc_id has no smaller-id partner (a partner
    * would be in the same cluster), so the kept join is inner on both
    * engines.
    *
    * At 100 TB both artifacts are persisted tables
    * ([[Indexes.persistAll]]); same plan shape either way. */
  def curationChain(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Dedup.verifiedPairs(spark, sfDir)
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val survivors = Dedup.ngramDedupFrom(docs, pairs).select(col("doc_id"))
    val labels = Dedup.clusterLabels(spark, sfDir)
    val qual = TextAnalysis.quality(spark, sfDir)
      .select(col("doc_id"), col("quality_score"))
    val kept = labels.join(survivors, "doc_id")
      .groupBy("cluster_id").agg(count(lit(1)).as("n_kept"))
    clusterRepsFrom(labels, qual)
      .join(kept, "cluster_id")
      .select(col("cluster_id"), col("rep_doc_id"), col("rep_quality"),
        col("n_members"), col("n_kept"))
      .orderBy("cluster_id")
  }

  /** Keywords kept per cluster by [[clusterKeywords]]. */
  val KeywordsPerCluster = 5

  /** q91_cluster_keywords — c-TF-IDF cluster labeling (the BERTopic
    * move): after the corpus is clustered in embedding space (the
    * trained cell assignment — the session index artifact), name each
    * cluster by the terms most DISTINCTIVE for it: per-cell term
    * frequency × a rational idf over cells,
    * `score = tf · (ncells + 1) / (df_cells + 1)`, top-5 per cell
    * (score DESC, token ASC). The idf is deliberately a RATIO, not a
    * log: products/quotients of small integers are bit-identical
    * across engines, while `ln` is not correctly-rounded (NOTES
    * lesson: sqrt is the only transcendental you can trust
    * cross-engine) — and the ranking it induces is identical because
    * log is monotone.
    *
    * Scale shape: docs join their cell (equi-join on the id), tf is a
    * hash-aggregate on (cell, token), df a second on token; the
    * ranking window partitions by cent_id over the (cells × vocab)-
    * bounded tf frame — never a corpus-row window. Reads the memoized
    * [[Similarity.hierCells]] artifact (5th consumer). */
  def clusterKeywords(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.{TextFunctions => T}
    val cells = Similarity.hierCells(spark, sfDir)
      .select(col("vec_id").as("doc_id"), col("tc")(0)("id").as("cent_id"))
    val toks = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(T.alphaTokens(col("text"))).as("token"))
      .join(cells, "doc_id")
    val tf = toks.groupBy(col("cent_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nc = cells.agg(countDistinct(col("cent_id")).as("ncells"))
    val scored = tf.join(df, "token").crossJoin(broadcast(nc))
      .withColumn("score",
        col("tf") * (col("ncells") + lit(1.0)) / (col("df") + lit(1.0)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cent_id"))
      .orderBy(col("score").desc, col("token").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= KeywordsPerCluster)
      .select(col("cent_id"), col("rnk").cast("int").as("rank"),
        col("token"), round(col("score"), 6).as("score"))
      .orderBy("cent_id", "rank")
  }

  /** Drift flag bounds for [[cellDrift]]: a cell whose smoothed
    * new/old share ratio leaves [1/DriftBound, DriftBound] is flagged. */
  val DriftBound = 2.0

  /** q95_cell_drift — per-cluster corpus drift report: split the corpus
    * into an "old" and "new" half (vec_id below/above the midpoint —
    * the stand-in for two ingestion epochs), count each half per
    * trained embedding cell, and report the add-one-smoothed share
    * ratio `((n_new+1)·(tot_old+1)) / ((n_old+1)·(tot_new+1))` with a
    * drifted flag outside [0.5, 2]. This is the monitoring pass a
    * production pipeline runs per ingestion batch: topic drift in a
    * crawl shows up as cells gaining/losing share long before any
    * metadata column moves (the cells are semantic strata — q86's
    * balancing consumes the same artifact this report watches).
    *
    * The ratio is a product/quotient of exact small integers in
    * doubles — bit-identical cross-engine (the q91 rational-idf
    * lesson); no log-odds, same ranking. Scale shape: one hash
    * aggregate over the cell labels (conditional sums, partial
    * map-side), totals broadcast back over the k-row cell frame —
    * corpus rows are touched exactly once. Reads the memoized
    * [[Similarity.hierCells]] artifact (6th consumer). */
  def cellDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val half = Similarity.corpusSize(spark, sfDir) / 2
    val cells = Similarity.hierCells(spark, sfDir)
      .select(col("vec_id"), col("tc")(0)("id").as("cent_id"))
    val counts = cells.groupBy(col("cent_id")).agg(
      sum(when(col("vec_id") < half, 1L).otherwise(0L)).as("n_old"),
      sum(when(col("vec_id") >= half, 1L).otherwise(0L)).as("n_new"))
    val tot = counts.agg(sum(col("n_old")).as("tot_old"),
      sum(col("n_new")).as("tot_new"))
    counts.crossJoin(broadcast(tot))
      .withColumn("drift_ratio", round(
        ((col("n_new") + lit(1)).cast("double") * (col("tot_old") + lit(1)).cast("double")) /
          ((col("n_old") + lit(1)).cast("double") * (col("tot_new") + lit(1)).cast("double")),
        6))
      .select(col("cent_id"), col("n_old"), col("n_new"), col("drift_ratio"),
        (col("drift_ratio") < lit(1.0) / lit(DriftBound)
          || col("drift_ratio") > lit(DriftBound)).cast("int").as("drifted"))
      .orderBy("cent_id")
  }

  /** q100_corpus_overlap — cross-corpus n-gram overlap report: split
    * the corpus at the doc_id midpoint into an "old" and "new" half
    * (two ingestion epochs, the q95 convention) and measure their
    * DISTINCT word-3-shingle overlap — shingle counts per half, the
    * intersection, Jaccard, and new-half containment. This is the
    * corpus-pair diligence check run before merging an acquired/new
    * dataset into a training mix (high containment ⇒ the new corpus
    * adds little; the aggregate form of q51's per-doc contamination
    * and q98's per-doc novelty).
    *
    * Scale shape: ONE keyed aggregate over exploded distinct shingles
    * (per-shingle old/new presence bits via conditional max — partial
    * map-side), then a 1-row total roll-up; the midpoint is a 1-row
    * broadcast, so corpus rows stream through exactly once. Ratios use
    * the floor(x·1e6+0.5) contract (NOTES lesson 29). */
  def corpusOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val halfF = docs.agg(expr("count(1) div 2").as("half"))
    val bits = docs.crossJoin(broadcast(halfF))
      .select(col("doc_id"), col("half"), T.wsTokens(col("text")).as("w"))
      .select(col("doc_id"), col("half"),
        explode(T.shingleSet(col("w"), 3)).as("g"))
      .groupBy(col("g"))
      .agg(max(when(col("doc_id") < col("half"), 1L).otherwise(0L)).as("in_old"),
        max(when(col("doc_id") >= col("half"), 1L).otherwise(0L)).as("in_new"))
    def r6(c: org.apache.spark.sql.Column) =
      floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    bits.agg(sum(col("in_old")).as("n_old"), sum(col("in_new")).as("n_new"),
        sum(col("in_old") * col("in_new")).as("n_common"))
      .select(col("n_old"), col("n_new"), col("n_common"),
        r6(col("n_common").cast("double") /
          (col("n_old") + col("n_new") - col("n_common")).cast("double")).as("jaccard"),
        r6(col("n_common").cast("double") / col("n_new").cast("double"))
          .as("containment_new"))
  }

  /** Clusters reported by [[dupSavings]]. */
  val SavingsTopK = 20

  /** q112_dup_savings — the per-cluster cost report: for the
    * [[SavingsTopK]] duplicate clusters with the most redundant bytes,
    * the member count, total characters, surviving document (min id —
    * the q14/q31 survivor convention), and characters saved by keeping
    * only the survivor. q80 reports dedup totals; this names the
    * specific boilerplate families worth investigating — "which
    * template is costing us the most storage/compute" is the question
    * an operator actually asks a dedup dashboard.
    *
    * Scale shape: one doc-keyed join of the cluster assignment (shared
    * transitive-closure output, itself built from the capped pair
    * artifact) against per-doc char counts, a cluster-keyed aggregate,
    * a kept-doc lookup join, and orderBy+limit ranking
    * (TakeOrderedAndProject). 10th consumer of the pair artifact. */
  def dupSavings(spark: SparkSession, sfDir: String): DataFrame = {
    val chars = Tables.documents(spark, sfDir).select(col("doc_id"), col("n_chars"))
    val rep = Dedup.clusterLabels(spark, sfDir)
      .join(chars, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("kept_doc"))
      .filter(col("n_docs") >= 2)
    rep.join(chars.select(col("doc_id").as("kept_doc"), col("n_chars").as("kept_chars")),
        "kept_doc")
      .select(col("cluster_id"), col("n_docs"), col("total_chars"), col("kept_doc"),
        (col("total_chars") - col("kept_chars")).as("chars_saved"))
      .orderBy(col("chars_saved").desc, col("cluster_id").asc)
      .limit(SavingsTopK)
  }

  def curate(spark: SparkSession, sfDir: String): DataFrame = {
    val exactSurvivors = TextAnalysis.normalize(spark, sfDir)
      .groupBy(col("norm_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val nearDupHigher = Dedup.verifiedPairs(spark, sfDir)
      .select(col("doc_b").as("doc_id")).distinct()
    val qual = TextAnalysis.quality(spark, sfDir)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
    exactSurvivors
      .join(nearDupHigher, Seq("doc_id"), "left_anti")
      .join(qual, "doc_id")
      .filter(col("quality_score") >= QualityThreshold)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
      .orderBy("doc_id")
  }

  /** q131 quality split — on the 5dp score grid, near the corpus
    * median, so both tiers are populated at every SF. */
  val MixQualityThreshold = 0.33

  /** q131_mix_card — the TRAINING-MIX CARD, the round's composition
    * capstone: the one-page breakdown every data team publishes before
    * a training run — token counts and shares by (predicted language ×
    * quality tier × dup status). Joins three of the engine's own
    * signals per document: q18's language prediction, q19's composite
    * quality score (tiered at [[MixQualityThreshold]]), and q31's
    * transitive duplicate clusters (a doc is `keep` iff it is its
    * cluster's min-id representative — singletons keep themselves).
    * The "how many high-quality English tokens survive dedup" number
    * IS this table's (en, high, keep) row.
    *
    * Scale shape: three scan-parallel per-doc signal pipelines (the
    * cluster side reads the memoized verified-pair artifact), one
    * 3-way equi-join on doc_id, one partial-aggregable rollup to the
    * langs×2×2 domain; the ≤40-row aggregate is materialized once and
    * its total joins back by broadcast (no second pipeline execution,
    * no unpartitioned window over row data). */
  def mixCard(spark: SparkSession, sfDir: String): DataFrame = {
    // lang + quality from the fused single-scan feature frame (same
    // expressions as q18/q19, so the tier/lang assignment is identical)
    // instead of two full pipelines joined on doc_id: one corpus scan
    // and one join fewer per run.
    val feats = TextAnalysis.langQualityFeatures(spark, sfDir)
    val clus = Dedup.clusterLabels(spark, sfDir)
    val agg = feats.join(clus, "doc_id")
      .select(col("predicted_lang"),
        when(col("quality_score") >= MixQualityThreshold, "high")
          .otherwise("low").as("quality_tier"),
        when(col("cluster_id") === col("doc_id"), "keep")
          .otherwise("dup").as("dup_status"),
        col("n_tokens"))
      .groupBy("predicted_lang", "quality_tier", "dup_status")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .localCheckpoint()
    val tot = agg.agg(sum(col("n_tokens")).as("tot_tokens"))
    agg.crossJoin(broadcast(tot))
      .select(col("predicted_lang"), col("quality_tier"), col("dup_status"),
        col("n_docs"), col("n_tokens"),
        (floor(col("n_tokens").cast("double") / col("tot_tokens").cast("double")
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("token_share"))
      .orderBy("predicted_lang", "quality_tier", "dup_status")
  }

  /** q184_cross_source_dup — the source×source near-duplicate overlap
    * matrix: for every unordered source pair (including a source with
    * itself), the count of verified ≥0.8-Jaccard pairs crossing it and
    * the distinct documents involved. This is the provenance readout a
    * curation run uses to decide WHICH crawl to drop when two sources
    * mirror each other (a heavy off-diagonal cell means one source is
    * largely a re-crawl of the other — dedup one side wholesale instead
    * of pair-by-pair), and the diagonal measures intra-source
    * boilerplate.
    *
    * Scale shape: reads the memoized verified-pair artifact (built once
    * per session; at 100 TB the persisted pair table), joins the tiny
    * (doc_id, source) projection onto both endpoints — at scale that
    * projection join is doc_id-keyed and the pair set is orders of
    * magnitude smaller than the corpus — then two partial-aggregable
    * aggregates over the sources² domain (pair counts directly; doc
    * counts from one explode + distinct on the (src pair, doc) rows).
    * Nothing wider than |pairs| shuffles. */
  def crossSourceDup(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    val pairs = Dedup.verifiedPairs(spark, sfDir)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        least(col("sa"), col("sb")).as("src_x"),
        greatest(col("sa"), col("sb")).as("src_y"))
      .localCheckpoint()
    val nPairs = pairs.groupBy(col("src_x"), col("src_y"))
      .agg(count(lit(1)).as("n_pairs"))
    val nDocs = pairs
      .select(col("src_x"), col("src_y"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .groupBy(col("src_x"), col("src_y"))
      .agg(countDistinct(col("doc")).as("n_docs"))
    nPairs.join(nDocs, Seq("src_x", "src_y"))
      .orderBy("src_x", "src_y")
  }

  /** q185_dup_weights — SOFT dedup: instead of dropping duplicates, emit
    * per-source loss-weight mass where every member of a near-dup
    * cluster carries weight 1/|cluster| (singletons weight 1) — the
    * "count each unique text once in expectation" training objective
    * used when hard dedup is too aggressive (it preserves the natural
    * distribution while removing duplication bias). Output per source:
    * docs, docs in non-trivial clusters, raw char mass, and the
    * effective (weighted) char mass the sampler would draw.
    *
    * Determinism: the per-doc weighted summand is the INTEGER
    * `n_chars·1e6 div |cluster|` (exact integer division on both
    * engines), so the per-source sum is an integer — no float
    * summation-order surface; the final effective-chars value divides
    * by 1e6 once.
    *
    * Scale shape: cluster sizes are a |clusters|-keyed aggregate of the
    * memoized q31 component labels; the weight join is doc_id-keyed;
    * the report is a sources-sized aggregate. One corpus scan. */
  def dupWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val clus = Dedup.clusterLabels(spark, sfDir)
    val sizes = clus.groupBy(col("cluster_id")).agg(count(lit(1)).as("csize"))
    val weighted = docs
      .join(clus, "doc_id")
      .join(sizes, "cluster_id")
      .select(col("source"), col("n_chars"), col("csize"),
        expr("n_chars * 1000000 div csize").as("w_chars_ppm"))
    weighted.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("csize") > 1, 1L).otherwise(0L)).as("n_clustered_docs"),
        sum(col("n_chars")).as("raw_chars"),
        sum(col("w_chars_ppm")).as("eff_chars_ppm"))
      .select(col("source"), col("n_docs"), col("n_clustered_docs"),
        col("raw_chars"), col("eff_chars_ppm"),
        (floor(col("eff_chars_ppm").cast("double")
          / col("raw_chars").cast("double") + lit(0.5)) / lit(1e6)).as("keep_ratio"))
      .orderBy("source")
  }

  /** q209_dup_quality_lift — does dedup remove GOOD data? Per quality
    * decile band, the share of docs that are non-representative
    * members of a dup cluster, with the lift against the corpus-wide
    * dup rate — the calibration a curation run checks before wholesale
    * dedup: lift ≫ 1 in low bands means duplication concentrates in
    * junk (dedup is also a quality filter); flat lift means dedup and
    * quality filtering are independent axes and BOTH passes are
    * needed. Composes two of the engine's own signals (q19 score,
    * q31 clusters), the q131 pattern at the quality×dup margin.
    *
    * Scale shape: the band is a scan-local floor of the 5dp score;
    * the cluster side reads the memoized pair artifact; one
    * doc_id-keyed join, a ≤10-row band aggregate, a broadcast 1-row
    * global rate, all rates/lifts in exact integer ppm. */
  def dupQualityLift(spark: SparkSession, sfDir: String): DataFrame = {
    val qual = TextAnalysis.quality(spark, sfDir)
      .select(col("doc_id"), col("quality_score"))
    val clus = Dedup.clusterLabels(spark, sfDir)
    val per = qual.join(clus, "doc_id")
      .select(
        least(floor(col("quality_score") * 10).cast("int"), lit(9)).as("band"),
        (col("cluster_id") =!= col("doc_id")).cast("long").as("is_dup"))
      .localCheckpoint()
    val bands = per.groupBy(col("band"))
      .agg(count(lit(1)).as("n_docs"), sum(col("is_dup")).as("n_dup"))
    val glob = per.agg(sum(col("is_dup")).as("g_dup"), count(lit(1)).as("g_docs"))
    bands.crossJoin(broadcast(glob))
      .select(col("band"), col("n_docs"), col("n_dup"),
        expr("n_dup * 1000000 div n_docs").as("dup_rate_ppm"),
        expr("(n_dup * 1000000 div n_docs) * 1000000 div (g_dup * 1000000 div g_docs)")
          .as("lift_ppm"))
      .orderBy("band")
  }

  /** q256_topic_coherence — UMass coherence of each cluster's keyword
    * list (Mimno et al. 2011): per trained cell, Σ over rank-ordered
    * keyword pairs of ln((D(wᵢ,wⱼ)+1)/D(wⱼ)) with document
    * co-occurrence counts from the corpus — THE standard "are these
    * clusters meaningful topics" number (q91 names the clusters, q161
    * checks label purity, this scores whether the names COHERE: high
    * = the keywords genuinely co-occur, strongly negative = the
    * c-TF-IDF ranking picked co-incidental terms). Run after every
    * retrain next to q127/q147's geometry audits.
    *
    * Determinism: document frequencies and co-frequencies are exact
    * integers; each ln summand floor-quantizes to nano (q152's rule)
    * before the per-cell integer sum.
    *
    * Scale shape: keyword postings = one (doc, token) distinct SEMI-
    * JOINED to the ≤cells·K keyword vocabulary before anything
    * shuffles; co-occurrence pairs bound by keyword-terms² per doc;
    * the pair frame is cells·C(K,2) rows with counts joined by
    * keyword key. 7th consumer of the `hierCells` artifact. */
  def topicCoherence(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.{TextFunctions => T}
    val kw = clusterKeywords(spark, sfDir)
      .select(col("cent_id"), col("rank"), col("token"))
      .localCheckpoint()
    val kwTerms = kw.select(col("token")).distinct()
    val dt = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(T.alphaTokens(col("text"))).as("token"))
      .distinct()
      .join(broadcast(kwTerms), Seq("token"))
      .localCheckpoint()
    val dw = dt.groupBy(col("token")).agg(count(lit(1)).as("d"))
    val d12 = dt.select(col("doc_id"), col("token").as("w1"))
      .join(dt.select(col("doc_id"), col("token").as("w2")), "doc_id")
      .filter(col("w1") < col("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("d12"))
    val pairs = kw.select(col("cent_id"), col("rank").as("ri"), col("token").as("wi"))
      .join(kw.select(col("cent_id"), col("rank").as("rj"), col("token").as("wj")),
        "cent_id")
      .filter(col("ri") < col("rj"))
    pairs
      .join(broadcast(dw.select(col("token").as("wj"), col("d"))), "wj")
      .join(d12.select(least(col("w1"), col("w2")).as("lo"),
          greatest(col("w1"), col("w2")).as("hi"), col("d12")),
        least(col("wi"), col("wj")) === col("lo") &&
          greatest(col("wi"), col("wj")) === col("hi"), "left")
      .select(col("cent_id"),
        floor(log((coalesce(col("d12"), lit(0L)) + lit(1.0)) / col("d"))
          * lit(1e9)).cast("long").as("t"))
      .groupBy(col("cent_id"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("t")).as("coherence_nano"))
      .orderBy("cent_id")
  }

  /** This module's graded queries, name → build; `SparkEntry.queries`
    * collects them. */
  private[graft] val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q33_pipeline"        -> (curate _),
    "q47_cluster_reps"    -> (clusterReps _),
    "q52_curation_chain"  -> (curationChain _),
    "q80_dedup_report"    -> (dedupReport _),
    "q91_cluster_keywords" -> (clusterKeywords _),
    "q95_cell_drift"      -> (cellDrift _),
    "q100_corpus_overlap" -> (corpusOverlap _),
    "q112_dup_savings"    -> (dupSavings _),
    "q131_mix_card"       -> (mixCard _),
    "q184_cross_source_dup" -> (crossSourceDup _),
    "q185_dup_weights"    -> (dupWeights _),
    "q209_dup_quality_lift" -> (dupQualityLift _),
    "q256_topic_coherence" -> (topicCoherence _)
  )
}
