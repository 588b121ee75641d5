package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed-table co-located joins — the ahead-of-time answer to the
  * shuffle that q03's fact⋈fact join pays at 100 TB.
  *
  * Writing both join sides bucketed (`bucketBy(n, key)` + sorted) lets a
  * sort-merge join read bucket i of each side into the same task with NO
  * exchange on either side — the join becomes embarrassingly parallel
  * over buckets. This is the batch analogue of the reference's per-key
  * routing (`lua-mapreduce-server.lua:173-183`) done once at write time
  * instead of per query.
  *
  * At 100 TB: pick bucket counts so one bucket of the larger table fits
  * an executor's memory (e.g. 100 TB / 8192 buckets ≈ 12 GB scan per
  * bucket task, streamed by the merge join), and keep bucket counts
  * equal (or integer multiples, with
  * `spark.sql.bucketing.coalesceBucketsInJoin.enabled`) across tables
  * joined together.
  */
object Bucketing {

  /** Write orders and customer bucketed by their join key (idempotent —
    * overwrites the managed tables), then join with a merge hint: the
    * plan must contain no Exchange. Returns the joined frame. */
  def bucketedJoin(spark: SparkSession, sfDir: String, buckets: Int = 8): DataFrame = {
    // drop stale state from previous JVMs: the in-memory catalog is fresh
    // per session but the warehouse directory persists, and saveAsTable
    // refuses to reuse an orphaned managed-table location
    Seq("graft_bucketed_orders", "graft_bucketed_customer").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, t)
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    Tables.orders(spark, sfDir)
      .write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, "o_custkey").sortBy("o_custkey")
      .saveAsTable("graft_bucketed_orders")
    Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, "c_custkey").sortBy("c_custkey")
      .saveAsTable("graft_bucketed_customer")
    spark.table("graft_bucketed_orders")
      .hint("merge")
      .join(spark.table("graft_bucketed_customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("c_name"), col("o_totalprice"))
  }

  /** This module's graded queries, name → build; `SparkEntry.queries`
    * collects them. */
  private[graft] val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q81_bucketed_join"   -> ((s, dir) => bucketedJoin(s, dir).orderBy("o_orderkey"))
  )
}
