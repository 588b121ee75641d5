package graft
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // one shuffle partition per core, as in Verify: at bench SF most
    // post-shuffle partitions are tiny, so fewer/wider shuffle tasks cut
    // pure scheduler overhead while scans still use all threads
    val spark = GraftSession.builder(shufflePartitions = GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm up the session (codegen compiler, file listings) so the first
    // timed query doesn't absorb one-time init cost
    Seq(Tables.documents _, Tables.lineitem _, Tables.events _, Tables.embeddings _).foreach { t =>
      try t(spark, sfDir).count() catch { case _: Throwable => () }
    }
    // ≥3 replicates with a per-query MEDIAN: single-shot timings on a
    // shared host confound code with noise (r7's phantom q52/q17
    // "regressions" were exactly that); the median of 3+ is robust to
    // one bad draw while keeping the bench under a few minutes
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS")
      .flatMap(_.trim.toIntOption).getOrElse(3).max(1)
    // optional comma-separated subset for fast local iteration; the
    // driver's full run leaves this unset
    val subset = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = subset.fold(SparkEntry.queries)(s => SparkEntry.queries.filter(kv => s(kv._1)))
    val (results, failed) = time(spark, sfDir, queries.toSeq, reps)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","reps":$reps}"""
    // full-precision, full-name copy: target/bench.json is the canonical
    // machine-readable artifact (sbt's [success] trailer broke stdout
    // parses for rounds 1-6; round 9's tail was the right line but the
    // reader keeps only the LAST 2000 chars, so a 120-query line with
    // full names + ns precision could never fit)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/bench.json"), json + "\n")
    // stdout line must fit a 2000-char tail buffer: keys shortened to
    // their qNN prefix, values rounded to ms — ~1.7 KB for 120 queries.
    // If the suite ever grows past the buffer at 3 decimals, degrade
    // precision rather than lose parseability.
    def shortJson(scale: Int, maxQ: Int): String = {
      val kept = results.sortBy(-_._2).take(maxQ)
      val qsShort = kept.map { case (k, v) =>
        val short = k.takeWhile(_ != '_')
        s"\"" + short + "\":" + BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP)
      }.mkString("{", ",", "}")
      val omitted =
        if (kept.size < results.size) s""","queries_omitted":${results.size - kept.size}"""
        else ""
      val t = BigDecimal(total).setScale(scale, BigDecimal.RoundingMode.HALF_UP)
      s"""{"metric":"total","value":$t,"unit":"sec","queries":$qsShort$omitted,"sf":"$sfDir","reps":$reps}"""
    }
    // degrade 3dp → 0dp, then start dropping the FASTEST queries from
    // the stdout map (slowest-first keeps the signal; the full-precision
    // per-query record always lives in target/bench.json): at ~200
    // queries even the 0dp line overflows the reader's 2000-char tail
    val candidates = (3 to 0 by -1).map(shortJson(_, results.size)) ++
      Seq(160, 120, 80, 40).map(shortJson(0, _))
    val jsonShort = candidates.find(_.length <= 1900).getOrElse(shortJson(0, 40))
    // Quiesce BEFORE the final print (r11's BENCH json was unparseable:
    // an async "StateStore: Error running maintenance thread" warning
    // landed after the JSON line because the state-store maintenance
    // thread outlived spark.stop()):
    //  1. stop any streaming queries the *_exec benches left active
    //  2. stop the shared StateStore maintenance thread explicitly
    //  3. silence the loggers so no straggler thread can emit output
    //  4. spark.stop(), THEN print the JSON as the unambiguous last line
    spark.streams.active.foreach { q =>
      try { q.stop(); q.awaitTermination() } catch { case _: Throwable => () }
    }
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(jsonShort)
    System.out.flush()
    if (failed.nonEmpty) {
      System.err.println(
        s"[bench] ${failed.size} of ${queries.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Runs each query `reps` times (build + `count`) and returns the
    * per-query median seconds, in `queries` order, of the queries that
    * never threw, plus the names of the queries that threw in any rep:
    * a failed query has no time. */
  def time(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      reps: Int): (Seq[(String, Double)], Seq[String]) = {
    val threw = scala.collection.mutable.Set.empty[String]
    val times: Seq[Map[String, Double]] = (1 to reps).map { _ =>
      queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count() catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          threw += name
        }
        name -> (System.nanoTime() - t0) / 1e9
      }.toMap
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val (failed, ok) = queries.map(_._1).partition(threw)
    (ok.map(n => n -> median(times.map(_(n)))), failed)
  }
}
