package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** q61_length_deciles — exact global order statistics without a global
  * sort: assign every document its corpus-wide rank by (n_chars, doc_id)
  * and from it a decile bucket, the "bucket the corpus by length before
  * packing/filtering" step of a curation run.
  *
  * The naive formulation is `ntile(10) OVER (ORDER BY n_chars, doc_id)`
  * — an unpartitioned window that drags the whole corpus into ONE task.
  * Here the rank decomposes into three bounded pieces:
  *
  *   rank(d) =   #{docs with value < d.value}               (histogram)
  *             + #{same value, earlier doc_id block}        (block prefix)
  *             + #{same value, same block, doc_id ≤ d}      (in-block rank)
  *
  *   1. the HISTOGRAM prefix is a groupBy(value) count (partial
  *      aggregable) plus one ordered window over the DISTINCT VALUES
  *      only — bounded by the value domain (≤ ~4k char lengths here),
  *      never the corpus, then broadcast;
  *   2. the BLOCK prefix partitions by value and orders by doc_id block
  *      (block = doc_id div [[RankBlockSize]]) — each window partition
  *      holds blocks-per-value rows, not docs;
  *   3. the IN-BLOCK row_number partitions by (value, block) — at most
  *      [[RankBlockSize]] rows per task even when one value dominates
  *      the corpus (the boilerplate-length skew case).
  *
  * Worst-case note: under TOTAL single-value skew the level-2 window
  * still sees corpus/[[RankBlockSize]] block rows in one partition —
  * the same knob as q53's block-totals window (widen the block, or
  * recurse the same decomposition one level on the block index). The
  * level the corpus actually flows through (level 3) is hard-bounded.
  *
  * Deterministic integer arithmetic end-to-end, so the DuckDB oracle's
  * single-window `row_number()` lands on identical ranks and deciles.
  * Same machinery as q53's block-wise cumsum (Packing.scala) generalized
  * with a partition value — together they cover the two global-order
  * primitives (prefix aggregation and ranking) that otherwise become
  * single-task bottlenecks at 100 TB.
  */
object Ranking {

  /** Docs per in-block ranking task — bounds the widest window partition
    * even when every doc shares one value. */
  val RankBlockSize = 1000L

  val NumBuckets = 10

  /** Intermediate column names injected by [[globalRank]]; inputs carrying
    * any of these (or an existing `rank`) are rejected up front. */
  private val RankWorkCols =
    Seq("blk", "vb_n", "blk_pre", "v_pre", "rn_in", "rank")

  /** Global 1-based rank of every row by (valueCol, idCol) ascending,
    * computed block-wise (no corpus-wide window; see object doc). The id
    * column must be a unique long. Adds `rank` to the input columns.
    *
    * Precondition: the VALUE domain must be small relative to the corpus
    * (distinct values ≪ rows — char lengths, deciles of a bounded score,
    * …). The histogram prefix broadcasts one row per distinct value and
    * ranks them in one unpartitioned window; with an all-distinct value
    * column (e.g. ranking by a unique id) both degenerate to O(n) and the
    * decomposition buys nothing — use a different key or pre-bucket the
    * values first. The opposite extreme (ONE value for the whole corpus)
    * is bounded by the block decomposition — see the object doc. */
  private[graft] def globalRank(df: DataFrame, valueCol: String,
                                idCol: String,
                                blockSize: Long = RankBlockSize): DataFrame = {
    // Spark resolves names case-insensitively by default, so an input
    // column named e.g. `BLK` would slip past a case-sensitive intersect
    // and then be clobbered by withColumn/drop below — compare folded.
    val clash = df.columns.toSeq.filter(c => RankWorkCols.contains(c.toLowerCase))
    require(clash.isEmpty,
      s"globalRank injects intermediate columns ${clash.mkString(", ")} " +
        "already present on the input; rename them before ranking")
    val bl = df.withColumn("blk", expr(s"$idCol div $blockSize"))
    val vb = bl.groupBy(col(valueCol), col("blk"))
      .agg(count(lit(1)).as("vb_n"))
    val wBlk = Window.partitionBy(col(valueCol)).orderBy(col("blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val blkPre = vb
      .withColumn("blk_pre", coalesce(sum(col("vb_n")).over(wBlk), lit(0L)))
      .select(col(valueCol), col("blk"), col("blk_pre"))
    val wVal = Window.orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val hist = vb.groupBy(col(valueCol)).agg(sum(col("vb_n")).as("v_n"))
      .withColumn("v_pre", coalesce(sum(col("v_n")).over(wVal), lit(0L)))
      .select(col(valueCol), col("v_pre"))
    val wIn = Window.partitionBy(col(valueCol), col("blk")).orderBy(col(idCol))
    bl.withColumn("rn_in", row_number().over(wIn).cast("long"))
      .join(blkPre, Seq(valueCol, "blk"))
      .join(broadcast(hist), Seq(valueCol))
      .withColumn("rank", col("v_pre") + col("blk_pre") + col("rn_in"))
      .drop("blk", "vb_n", "blk_pre", "v_pre", "rn_in")
  }

  /** q61_length_deciles — every document's exact global length rank and
    * decile (0..9) by (n_chars, doc_id). */
  def lengthDeciles(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"))
    val total = docs.agg(count(lit(1)).as("cnt"))
    globalRank(docs, "n_chars", "doc_id")
      .crossJoin(broadcast(total))
      .withColumn("decile", expr(s"((rank - 1) * $NumBuckets) div cnt"))
      .select(col("doc_id"), col("n_chars"), col("rank"), col("decile"))
      .orderBy("doc_id")
  }

  /** Percentile threshold for [[qualityPercentile]]'s keep flag —
    * "keep the top 30% per language". */
  val KeepPctAbove = 0.7

  /** q111_quality_percentile — per-LANGUAGE percentile normalization of
    * the q19 quality score, plus the "top 30% of its language" keep
    * flag. Absolute quality thresholds are incomparable across
    * languages (surface statistics shift with morphology), so real
    * curation mixes filter per-stratum percentiles, not raw scores —
    * this operator turns the raw score into that calibrated form.
    *
    * Scale shape: the score is 5dp-rounded, so its domain is a bounded
    * GRID (≤10⁵ cells), never corpus-sized — percentiles therefore
    * come from a histogram, not a row window: one partial-aggregable
    * (lang, score) count, a cumulative window over the per-language
    * BUCKET rows (bounded by the grid; the q61 histogram-prefix idea
    * with a stratum key), per-language totals broadcast back, and a
    * co-partitioned join onto the per-doc rows. cume_dist semantics
    * (P[X ≤ x], ties share a value) — the keep flag compares the
    * 6dp-ROUNDED percentile so both engines flag identically even on
    * a boundary tie. */
  def qualityPercentile(spark: SparkSession, sfDir: String): DataFrame = {
    val q = TextAnalysis.quality(spark, sfDir)
      .select(col("doc_id"), col("quality_score"))
      .join(Tables.documents(spark, sfDir).select(col("doc_id"), col("lang")), "doc_id")
    val counts = q.groupBy(col("lang"), col("quality_score"))
      .agg(count(lit(1)).as("cnt"))
    val wLang = Window.partitionBy(col("lang")).orderBy(col("quality_score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts.withColumn("cum", sum(col("cnt")).over(wLang))
      .select(col("lang"), col("quality_score"), col("cum"))
    val totals = q.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    q.join(cum, Seq("lang", "quality_score"))
      .join(broadcast(totals), Seq("lang"))
      .withColumn("pct",
        floor(col("cum").cast("double") / col("n_lang").cast("double")
          * lit(1e6) + lit(0.5)) / lit(1e6))
      .select(col("doc_id"), col("lang"), col("quality_score"), col("pct"),
        (col("pct") > KeepPctAbove).cast("int").as("keep_top"))
      .orderBy("doc_id")
  }

  /** This module's graded queries, name → build; `SparkEntry.queries`
    * collects them. */
  private[graft] val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q61_length_deciles"  -> (lengthDeciles _),
    "q111_quality_percentile" -> (qualityPercentile _)
  )
}
