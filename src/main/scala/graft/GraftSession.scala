package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * Local runs use `local[N]`; on a real cluster the same config block
  * applies unchanged — AQE handles runtime partition coalescing and skew
  * splitting, so `shuffle.partitions` here is an upper bound for local
  * mode, not a cluster tuning knob.
  *
  * Every session-wide setting lives here, set once at build time: the
  * sources read with whatever the session holds and never change it,
  * so no result depends on which query ran first.
  */
object GraftSession {

  /** Local parallelism of the default master: `SPARK_GRAFT_CPUS`, else 4. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  def builder(master: String = s"local[$cpus]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // AQE's partition coalescing is load-bearing for the tiny
      // post-shuffle partitions of small inputs: adaptive.enabled=false
      // measured 2-3x slower over the query suite at sf0.1
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // the 128-column minhash aggregate must stay inside whole-stage
      // codegen; the default maxFields=100 silently falls back to
      // interpreted eval (~20x slower)
      .config("spark.sql.codegen.maxFields", "256")
      // split-size ceiling for the scan: 128 MB splits keep a 100 TB
      // scan at ~800k tasks (healthy granularity for 32k cores) and a
      // task's column batches comfortably inside executor memory; the
      // default is the same value — pinned here so a cluster-side
      // override is a deliberate choice, not an inherited default
      .config("spark.sql.files.maxPartitionBytes", s"${128L * 1024 * 1024}")
      // runtime bloom-filter join pruning: a selective dim side (<10 MB
      // post-filter) injects a bloom filter into the fact-side scan, so
      // a 100 TB fact table drops non-joining rows at the scan instead
      // of shuffling them. Spark-default-on — pinned explicitly because
      // the 100 TB plans in PLANS.md depend on it, and PlanSpec
      // demonstrates the injection under forced thresholds.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // `events.ts` ships as parquet TIMESTAMP(NANOS) in some testdata
      // vintages, which Spark reads only in this legacy mode (as BIGINT
      // ns; `Tables.normalizeTs` converts it back to a timestamp)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
