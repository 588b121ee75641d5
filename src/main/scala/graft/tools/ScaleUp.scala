package graft.tools

import graft.GraftSession
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesize a 10× scale-up of an existing testdata dir for the sf1
  * spot-bench (`runMain graft.tools.ScaleUp <srcSfDir> <outDir> [factor]`)
  * — the measured-scaling companion to the plan-shape arguments in
  * PLANS.md. Replication is KEY-SHIFTED per replica so entity counts
  * really grow (10× docs/vectors/orders/customers/parts), and content
  * is made cross-replica DISJOINT where identical copies would change
  * the workload class rather than its size:
  *
  *  - documents: every non-initial word gets a replica-specific pure
  *    a-z prefix (a bijective word mapping, so WITHIN-replica shingle
  *    structure — the dedup/near-dup workload — is preserved exactly,
  *    while CROSS-replica shingle sets are disjoint; naive copies
  *    would add ~45 artificial near-dup pairs per source doc and turn
  *    a 10× corpus bench into a 100× pair-mining bench).
  *  - embeddings: dimension 0 shifts by 1e-3·replica — vectors stay in
  *    the same clusters (ANN index geometry comparable) without being
  *    bit-identical copies.
  *  - lineitem/orders: order/cust/part/supp keys shift by the source
  *    table's key range per replica (graph workloads see 10× nodes).
  *
  * SKEW mode (`--skew` as the factor argument's suffix, e.g. `10skew`):
  * after replication the documents table is additionally STRESSED the
  * way a real crawl is — one dominant source absorbs ~50% of all docs
  * (renamed by a deterministic md5 coin) and a fixed ~40-word
  * boilerplate passage is prepended to ~10% of docs (a hot shingle
  * family that floods LSH band buckets) — so the cap+salt machinery
  * (`CandidatePairs`) and the per-source caps/weights (q69/q71) get
  * measured under a genuinely hot key rather than the uniform synthetic
  * distribution.
  *
  * Not a correctness corpus (no oracle runs here) — a load corpus. */
object ScaleUp {
  /** The hot passage: 40 words, long enough that every 3..8-gram
    * shingle window inside it is shared verbatim by all stressed docs. */
  private[tools] val Boilerplate: String =
    (1 to 40).map(i => s"boiler${i % 7}term$i").mkString(" ")

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factorArg = if (args.length > 2) args(2) else "10"
    val skew = factorArg.endsWith("skew")
    val factor = factorArg.stripSuffix("skew").toInt
    // the replica word-tag alphabet below is a-z: beyond 26 replicas
    // element_at would return null and null out every text column
    require(factor >= 1 && factor <= 26,
      s"factor must be in [1, 26] (a-z replica tags), got $factor")
    val spark = GraftSession.builder(shufflePartitions = GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def replicas(df: DataFrame): DataFrame =
      df.crossJoin(
        spark.range(0, factor).select(col("id").cast("int").as("rep")))

    // pure a-z replica tags keep `[a-z]+`/whitespace tokenizers seeing
    // one token per source word
    val tags = "abcdefghijklmnopqrstuvwxyz".take(factor).map(c => s"q$c")
    val tagCol = element_at(
      array(tags.map(lit): _*), col("rep") + 1)

    val docs = Tables.table(spark, src, "documents")
    val dMax = docs.agg(max("doc_id")).head.getLong(0) + 1L
    val docsUp = replicas(docs)
      .withColumn("doc_id", col("doc_id") + col("rep") * dMax)
      // replace on the SAME whitespace class the tokenizers split on
      // ([ \t\n\r]) — a literal-space replace would leave tab/newline-
      // separated words unprefixed and reintroduce the artificial
      // cross-replica near-dup pairs this rewrite exists to prevent
      .withColumn("text",
        when(col("rep") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("([ \\t\\n\\r])"),
            concat(lit("$1"), tagCol))))
      .withColumn("n_chars", length(col("text")).cast(docs.schema("n_chars").dataType))
      .drop("rep")
    val docsOut =
      if (!skew) docsUp
      else docsUp
        // ~50% of docs collapse into ONE dominant source (deterministic
        // md5 coin on doc_id — replayable, partitioning-independent)
        .withColumn("source",
          when(conv(substring(md5(concat(lit("skw_"), col("doc_id"))), 1, 7), 16, 10)
            .cast("long") % 2 === 0, lit("src_hot")).otherwise(col("source")))
        // ~10% of docs share a verbatim 40-word boilerplate prefix —
        // every shingle window inside it becomes a hot LSH bucket
        .withColumn("text",
          when(conv(substring(md5(concat(lit("boil_"), col("doc_id"))), 1, 7), 16, 10)
            .cast("long") % 10 === 0, concat(lit(Boilerplate), lit(" "), col("text")))
            .otherwise(col("text")))
        .withColumn("n_chars", length(col("text")).cast(docs.schema("n_chars").dataType))
    docsOut.select(docs.columns.map(col): _*)
      .repartition(8).write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = Tables.table(spark, src, "embeddings")
    val vMax = emb.agg(max("vec_id")).head.getLong(0) + 1L
    replicas(emb)
      .withColumn("vec_id", col("vec_id") + col("rep") * vMax)
      .withColumn("embedding",
        expr("transform(embedding, (x, i) -> IF(i = 0, cast(x + rep * 0.001d as float), x))"))
      .drop("rep")
      .select(emb.columns.map(col): _*)
      .repartition(8).write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val orders = Tables.table(spark, src, "orders")
    val oMax = orders.agg(max("o_orderkey")).head.getLong(0) + 1L
    val cMax = orders.agg(max("o_custkey")).head.getLong(0) + 1L
    replicas(orders)
      .withColumn("o_orderkey", col("o_orderkey") + col("rep") * oMax)
      .withColumn("o_custkey", col("o_custkey") + col("rep") * cMax)
      .drop("rep")
      .select(orders.columns.map(col): _*)
      .repartition(8).write.mode("overwrite").parquet(s"$out/orders.parquet")

    val li = Tables.table(spark, src, "lineitem")
    val pMax = li.agg(max("l_partkey")).head.getLong(0) + 1L
    val sMax = li.agg(max("l_suppkey")).head.getLong(0) + 1L
    replicas(li)
      .withColumn("l_orderkey", col("l_orderkey") + col("rep") * oMax)
      .withColumn("l_partkey", col("l_partkey") + col("rep") * pMax)
      .withColumn("l_suppkey", col("l_suppkey") + col("rep") * sMax)
      .drop("rep")
      .select(li.columns.map(col): _*)
      .repartition(16).write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    println(s"[scaleup] wrote ${factor}x of $src to $out")
    spark.stop()
  }
}
