package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities: explicit salting for the cases AQE's
  * runtime skew-join splitting does not cover (skewed AGGREGATION keys,
  * and joins over pre-bucketed inputs where AQE cannot re-split).
  *
  * The reference has no equivalent — its single-server shuffle
  * (`lua-mapreduce-server.lua:173-183`) concentrates every hot key in one
  * process; at 100 TB a hot key (empty string, null-ish sentinel, bot
  * user) concentrates a shuffle partition the same way, and salting
  * splits it across `n` reducers.
  */
object Skew {

  /** Two-phase salted aggregation: count/sum-style measures for a
    * possibly-skewed key. Phase 1 aggregates on (key, salt) — spreading a
    * hot key over `n` reducers — phase 2 merges the partials per key.
    *
    * `saltSource` must be deterministic per row AND high-cardinality
    * (e.g. a row id column): salting hashes it into [0, n), so a
    * low-cardinality source (a flag, a date) silently collapses the
    * salt space back onto few reducers and the hot key stays hot.
    * Callers picking a key-derived source (never the key itself!)
    * should sanity-check `approx_count_distinct(saltSource) >> n`. */
  def saltedAgg(df: DataFrame, key: Column, saltSource: Column, n: Int,
                countAs: String = "cnt", sumCol: Option[Column] = None,
                sumAs: String = "total"): DataFrame = {
    val phase1 = df
      .groupBy(key.as("__key"), pmod(hash(saltSource), lit(n)).as("__salt"))
      .agg(
        count(lit(1)).as("__c"),
        sum(sumCol.getOrElse(lit(0.0))).as("__s"))
    val merged = phase1.groupBy(col("__key"))
      .agg(sum(col("__c")).as(countAs), sum(col("__s")).as(sumAs))
    if (sumCol.isDefined) merged.withColumnRenamed("__key", "key")
    else merged.drop(sumAs).withColumnRenamed("__key", "key")
  }

  /** q24_salted_agg — the salted two-phase aggregation as a verified
    * query: per-event-type counts/sums computed through an 8-way salt. */
  def saltedAggQuery(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame =
    saltedAgg(graft.sources.Tables.events(spark, sfDir),
      col("event_type"), col("event_id"), 8,
      countAs = "cnt", sumCol = Some(col("value")), sumAs = "total")
      .select(col("key").as("event_type"), col("cnt"), round(col("total"), 2).as("total"))
      .orderBy("event_type")

  /** Salted broadcast-free join for a skewed fact side: the fact rows get
    * a deterministic salt in [0, n); the (small or mid-size) dim side is
    * replicated n× with every salt value, and the join key becomes
    * (key, salt) — splitting each hot key across n tasks. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                 saltSource: Column, n: Int): DataFrame = {
    val salted = fact.withColumn("__salt", pmod(hash(saltSource), lit(n)))
    val replicated = dim.withColumn("__salt", explode(sequence(lit(0), lit(n - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** q253 salt fan-out (matches the q24 operator family's scale). */
  val EvennessSalts = 8

  /** q253_salt_evenness — the salting tier's load-balance MEASUREMENT:
    * take the single hottest key in the event stream (the row q167's
    * advisor would flag), salt its rows the way q24's mitigation does
    * (md5 on the row id, mod [[EvennessSalts]]), and report each salt
    * bucket's row count and exact-ppm share — the evenness number that
    * says whether the hot key's work actually spread over n reducers
    * (a salted task at 1/n ± ε of the key's mass IS the mitigation
    * working; a lopsided spread means the salt source correlates with
    * the data). q24/saltedJoin implement the mechanism, q166 audits
    * LSH buckets — this audits the salt itself.
    *
    * Determinism: the hot key is an exact argmax (count desc, key
    * asc); salt = md5-28 of the unique event id mod n — replayable
    * everywhere (q48's rule); shares are integer ppm.
    *
    * Scale shape: one key-frequency aggregate + a 1-row broadcast
    * argmax; the hot key's rows filter scan-side; the bucket count is
    * an n-row aggregate with the total broadcast back. */
  def saltEvenness(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val hot = broadcast(ev.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .agg(max(struct(col("n"), -col("user_id"))).as("m"))
      .select((-col("m.col2")).as("hot_user"), col("m.n").as("hot_total")))
    val buckets = ev.crossJoin(hot)
      .filter(col("user_id") === col("hot_user"))
      .select(col("hot_user"), col("hot_total"),
        (graft.functions.HashFunctions.md5Int28(
          concat(lit("salt_"), col("event_id").cast("string")))
          % lit(EvennessSalts.toLong)).cast("int").as("salt"))
      .groupBy(col("hot_user"), col("hot_total"), col("salt"))
      .agg(count(lit(1)).as("n_rows"))
    buckets
      .select(col("salt"), col("hot_user"), col("n_rows"),
        expr("n_rows * 1000000 div hot_total").as("share_ppm"))
      .orderBy("salt")
  }

  /** This module's graded queries, name → build; `SparkEntry.queries`
    * collects them. */
  private[graft] val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q24_salted_agg"      -> (saltedAggQuery _),
    "q253_salt_evenness"  -> (saltEvenness _)
  )
}
