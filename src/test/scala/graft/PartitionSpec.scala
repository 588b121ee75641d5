package graft

import graft.operators.{Relational, WordCount}
import org.apache.spark.sql.functions._

/** Distribution correctness: results must be invariant to how the input
  * is partitioned — the property the reference gets from its server-side
  * merge (`lua-mapreduce-server.lua:228-334`) and we get from Spark's
  * shuffle. */
class PartitionSpec extends SparkSuite {

  test("wordcount is partition-count invariant") {
    import graft.SparkSuite.implicits._
    val base = graft.sources.Tables.documents(spark, sf)
    val results = Seq(1, 3, 8).map { n =>
      base.repartition(n)
        .select(explode(graft.functions.TextFunctions.alphaTokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .as[(String, Long)].collect().toMap
    }
    assert(results.distinct.size == 1)
    // and the input really was split across >=2 partitions
    assert(base.repartition(8).rdd.getNumPartitions == 8)
  }

  test("partitioned agg equals unpartitioned agg") {
    import graft.SparkSuite.implicits._
    val viaQuery = Relational.partitionedAgg(spark, sf)
      .as[(Long, Long, Double)].collect().toSet
    val direct = graft.sources.Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .filter(col("n_events") >= 3)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaQuery == direct)
  }

  test("spread widens a single-file scan to min(parallelism, 16) and leaves wide frames alone") {
    val docs = graft.sources.Tables.documents(spark, sf)
    assert(docs.rdd.getNumPartitions == 1, "sf0.001 documents is one single-split file")
    val target = math.min(spark.sparkContext.defaultParallelism, 16)
    val spread = graft.sources.Tables.spread(spark, docs)
    assert(spread.rdd.getNumPartitions == target)
    val wide = docs.repartition(target)
    val same = graft.sources.Tables.spread(spark, wide)
    assert(same eq wide)
    assert(same.queryExecution.logical == wide.queryExecution.logical)
    assert(same.rdd.getNumPartitions == target)
  }

  test("MapReduce API result is stable under repartitioning") {
    import graft.SparkSuite.implicits._
    val src = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"), col("value")).as[(String, Double)]
    def run(n: Int): Map[String, Long] =
      graft.core.MapReduce.runReduced[(String, Double), String, Long](
        src.repartition(n), r => Iterator.single((r._1, 1L)), _ + _
      ).collect().toMap
    assert(run(1) == run(7))
  }
}
