package graft.operators
// (q219_pad_waste lives here with the shard-packing family)

import graft.functions.{TextFunctions => T}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** q53_shard_pack — token-budget shard packing: the step that turns a
  * curated corpus into training shards. Documents are packed in
  * deterministic doc_id order; a document's shard is
  * floor(exclusive-prefix-tokens / budget) — greedy sequential packing
  * (documents may straddle a boundary; the budget governs where the
  * NEXT shard starts, the standard pre-tokenization packing rule).
  *
  * The interesting part at 100 TB is the GLOBAL CUMULATIVE SUM: a bare
  * `Window.orderBy(doc_id)` with no partition key collapses the corpus
  * into ONE task. Instead the prefix sum is computed block-wise:
  *
  *   1. block = doc_id div [[BlockSize]] — per-block token totals are a
  *      partial-aggregable groupBy (tiny result: n/BlockSize rows);
  *   2. exclusive block prefixes via a window over the BLOCK TOTALS
  *      only (the one ordered window runs over n/BlockSize rows, not n
  *      — size the block so that frame stays driver-trivial; at 10^11
  *      docs and BlockSize 10^6 it is 10^5 rows);
  *   3. per-doc running sums inside each block (window PARTITIONED by
  *      block — parallel across blocks) + the broadcast block prefix.
  *
  * All heavy shuffles are keyed by block; the unpartitioned window
  * never sees more than corpus/BlockSize rows. Deterministic integer
  * arithmetic end-to-end, so the DuckDB oracle's single-window global
  * cumsum lands on identical shard ids.
  */
object Packing {

  /** Tokens per shard (the training-shard budget at this toy scale). */
  val ShardBudget = 5000L

  /** Docs per prefix block — the parallelism/window-size tradeoff knob:
    * the ordered block window handles corpus/BlockSize rows. */
  val BlockSize = 1000L

  def shardPack(spark: SparkSession, sfDir: String): DataFrame =
    packFrom(Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(T.wsTokens(col("text"))).cast("long").as("n")))

  /** Per-document shard assignment — the input frame's columns plus
    * `shard_id` (payload columns like `text` ride through, so the
    * write path is ONE corpus scan, not a scan + self-join); q53
    * grades its per-shard aggregate. Injectable so specs can drive it
    * with sparse/gapped id spaces (blocks are doc_id ranges, so gaps
    * simply yield lighter blocks). */
  private[graft] def assignFrom(docTokens: DataFrame): DataFrame =
    prefixedFrom(docTokens)
      .select(docTokens.columns.map(col) :+ col("shard_id"): _*)

  /** [[assignFrom]] keeping the global exclusive token prefix `pre` —
    * the packed-stream coordinate q365's boundary analysis reads. */
  private[graft] def prefixedFrom(docTokens: DataFrame): DataFrame = {
    val toks = docTokens
      .withColumn("blk", expr(s"doc_id div $BlockSize"))
    val wInBlk = Window.partitionBy(col("blk")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val blkPrefix = toks.groupBy("blk").agg(sum(col("n")).as("bt"))
      .withColumn("blk_pre",
        coalesce(sum(col("bt")).over(
          Window.orderBy(col("blk"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("blk"), col("blk_pre"))
    toks
      .withColumn("cum_in_blk", sum(col("n")).over(wInBlk))
      .join(broadcast(blkPrefix), "blk")
      .withColumn("pre", col("blk_pre") + col("cum_in_blk") - col("n"))
      .withColumn("shard_id", expr(s"pre div $ShardBudget"))
  }

  private[graft] def packFrom(docTokens: DataFrame): DataFrame =
    assignFrom(docTokens)
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("shard_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("shard_id")

  /** Materialize the packed corpus as shard_id-partitioned parquet —
    * the artifact a training loader reads shard-by-shard. Each shard is
    * one partition directory (`shard_id=K/`), so a loader's
    * `filter(shard_id = K)` is partition pruning: it lists and reads
    * exactly one directory, never scanning the corpus. Text rides along
    * with the assignment so the shard files are self-contained.
    * Shuffle-wise this adds ONE repartition by shard_id on top of
    * [[assignFrom]] (otherwise every task could open a file per shard:
    * with T tasks × S shards that is T·S small files; repartitioning
    * bounds it at one file per shard). */
  def writeShardedCorpus(spark: SparkSession, sfDir: String, path: String): Unit = {
    // ONE corpus scan: text rides through the assignment (the window
    // shuffles are blk-keyed either way; a join-back would be a second
    // scan plus a doc_id shuffle of the same text bytes)
    val packed = assignFrom(Tables.documents(spark, sfDir)
        .select(col("doc_id"), size(T.wsTokens(col("text"))).cast("long").as("n"),
          col("text")))
      .select(col("doc_id"), col("n"), col("text"), col("shard_id"))
      .repartition(col("shard_id"))
    graft.sources.Sinks.parquet(packed, path, partitionBy = Seq("shard_id"))
  }

  /** q219 bucket bounds: power-of-two sequence lengths 2^3..2^9. */
  val PadMinPow = 3
  val PadMaxPow = 9

  /** q219_pad_waste — sequence-length bucketing efficiency: assign each
    * document to the smallest power-of-two length bucket that holds
    * its token count (8..512, oversize clamps to the top) and report
    * per bucket the document count, real token mass, padded mass
    * (n·bucket) and padding waste — the batch-shape planning number
    * for fixed-length training: uniform 512-padding wastes the short
    * tail, per-batch bucketing recovers it, and THIS table is the
    * measured tradeoff (Σ waste = the FLOPs you pay for not packing;
    * q53 packs greedily instead — the two strategies bracket the
    * design space).
    *
    * Scale shape: the bucket is a scan-local integer log2 (comparison
    * ladder via greatest/ceil on longs — no floats); one
    * partial-aggregable ≤8-row aggregate; waste in exact ppm. */
  def padWaste(spark: SparkSession, sfDir: String): DataFrame = {
    val maxB = 1L << PadMaxPow
    val n = size(T.wsTokens(col("text"))).cast("long")
    // smallest 2^k >= n within [2^PadMinPow, 2^PadMaxPow]
    val bucket = (PadMinPow to PadMaxPow).reverse.foldLeft(lit(maxB)) {
      case (acc, p) => when(n <= (1L << p), lit(1L << p)).otherwise(acc)
    }
    Tables.documents(spark, sfDir)
      .select(n.as("n_tokens"), bucket.as("bucket"))
      .select(col("bucket"),
        least(col("n_tokens"), lit(maxB)).as("kept_tokens"), col("n_tokens"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("raw_tokens"),
        sum(col("kept_tokens")).as("kept_tokens"))
      .select(col("bucket"), col("n_docs"), col("raw_tokens"),
        (col("n_docs") * col("bucket")).as("padded_tokens"),
        expr("(n_docs * bucket - kept_tokens) * 1000000 div (n_docs * bucket)")
          .as("waste_ppm"))
      .orderBy("bucket")
  }

  /** q361 bucket-count grid. */
  val BucketSweepKs: Seq[Int] = Seq(1, 2, 4, 8)

  /** q361_bucket_sweep — HOW MANY length buckets does batching need:
    * for k ∈ [[BucketSweepKs]], split the corpus into k near-equal
    * QUANTILE buckets by token count (doc → bucket ⌈k·rank/N⌉ on its
    * length value's cumulative rank — value-atomic, so equal lengths
    * land together and the split is deterministic under ties), pad
    * each bucket to its own max length, and report the padded mass and
    * waste — the serving/training batch-shape tuning curve that sits
    * between q219 (FIXED power-of-two buckets) and q53 (packing,
    * zero waste, full complexity): waste falls monotonically in k, and
    * where it plateaus is the bucket count a bucketed-batching
    * deployment should run.
    *
    * Determinism: buckets are integer ceiling arithmetic on exact
    * cumulative counts; masses and ppm waste are exact integers.
    *
    * Scale shape: ONE (length) value-histogram aggregate; the
    * cumulative-rank and total windows run over the distinct
    * length-VALUE domain (the q61/q194 whitelist class — bounded by
    * the length cap, never corpus rows) in one window pass (q287's
    * same-partitioning move); the k-grid explodes on that domain;
    * ≤|ks| output rows. */
  def bucketSweep(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = Tables.documents(spark, sfDir)
      .select(size(T.wsTokens(col("text"))).cast("long").as("l"))
      .groupBy(col("l")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(Window.orderBy(col("l"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("cnt")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val ks = array(BucketSweepKs.map(k => lit(k.toLong)): _*)
    hist.select(col("l"), col("cnt"), col("cum"), col("n"),
        explode(ks).as("k"))
      .select(col("k"), expr("(k * cum + n - 1) div n").as("j"),
        col("l"), col("cnt"))
      .groupBy(col("k"), col("j"))
      .agg(sum(col("cnt")).as("n_docs"),
        sum(col("l") * col("cnt")).as("raw"),
        max(col("l")).as("maxlen"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("n_docs")).as("n_docs"),
        sum(col("raw")).as("raw_tokens"),
        sum(col("n_docs") * col("maxlen")).as("padded_tokens"))
      .select(col("k"), col("n_buckets"), col("n_docs"), col("raw_tokens"),
        col("padded_tokens"),
        expr("(padded_tokens - raw_tokens) * 1000000 div padded_tokens")
          .as("waste_ppm"))
      .orderBy("k")
  }

  /** q365 causal-attention window grid (tokens of lookback). */
  val MaskWindows: Seq[Long] = Seq(16L, 64L, 256L)

  /** q365_pack_mask_stats — cross-document attention contamination of
    * the q53 packing: for each causal window size W, how many token
    * positions of the packed stream would attend to a FOREIGN document
    * without boundary masking, and the contaminated fraction in exact
    * ppm — the planning number behind the "do we need per-document
    * attention masks at this packing" decision (a near-zero fraction
    * at the training window justifies skipping the mask machinery; a
    * large one prices it). Attention never crosses a SHARD (each shard
    * is one training sequence), so a token at in-document offset o is
    * contaminated iff o < W−1 AND earlier documents exist in its shard
    * (its own first tokens fill the rest of the window) — per document
    * that is min(n, W−1) positions unless the document starts its
    * shard.
    *
    * Determinism: pure integer arithmetic on q53's deterministic
    * prefix coordinates.
    *
    * Scale shape: q53's block-wise prefix machinery (no global window
    * over the corpus) + ONE shard-keyed min-aggregate to find each
    * shard's first document (partial-aggregable; shards are
    * budget-sized so the key domain is corpus/5000) + a scan-local
    * W-grid explode on the |docs|×|grid| domain folded by one
    * aggregate. */
  def packMaskStats(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = prefixedFrom(Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(T.wsTokens(col("text"))).cast("long").as("n")))
      .select(col("doc_id"), col("n"), col("pre"), col("shard_id"))
    val shardStart = docs.groupBy(col("shard_id"))
      .agg(min(col("pre")).as("shard_start"))
    val ws = array(MaskWindows.map(lit): _*)
    docs.join(shardStart, "shard_id")
      .select(col("n"),
        (col("pre") > col("shard_start")).as("has_prior"),
        explode(ws).as("w"))
      .groupBy(col("w"))
      .agg(sum(col("n")).as("total_tokens"),
        sum(when(col("has_prior"), least(col("n"), col("w") - 1))
          .otherwise(lit(0L))).as("contaminated_tokens"))
      .select(col("w"), col("total_tokens"), col("contaminated_tokens"),
        expr("contaminated_tokens * 1000000 div total_tokens")
          .as("contaminated_ppm"))
      .orderBy("w")
  }

  /** This module's graded queries, name → build; `SparkEntry.queries`
    * collects them. */
  private[graft] val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q53_shard_pack"      -> (shardPack _),
    "q219_pad_waste"      -> (padWaste _),
    "q361_bucket_sweep"   -> (bucketSweep _),
    "q365_pack_mask_stats" -> (packMaskStats _)
  )
}
