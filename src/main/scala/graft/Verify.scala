package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query subset (local iteration;
    // the driver always runs the full suite)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.builder(shufflePartitions = GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val failed = try run(spark, sfDir, outDir, only) finally spark.stop()
    if (failed.nonEmpty) {
      val total = SparkEntry.queries.keys.count(k => only.forall(_.contains(k)))
      System.err.println(
        s"[verify] ${failed.size} of $total queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Writes each selected query's result to `$outDir/<name>` and the full
    * oracle map to `$outDir/oracle_sql.json`; returns the names of the
    * queries that threw. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          only: Option[Set[String]]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // the oracle map is ALWAYS written in full (it costs no Spark work):
    // a subset run would otherwise overwrite a prior full dump's
    // oracle_sql.json with only the subset's entries and silently
    // shrink the compare
    val json = SparkEntry.oracleSql
      // metadata-tier oracles (q291) reference parquet FILES, not the
      // table views — the concrete scale-factor dir is only known here
      .map { case (k, v) => k -> v.replace("__SFDIR__", sfDir) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed
  }
}
