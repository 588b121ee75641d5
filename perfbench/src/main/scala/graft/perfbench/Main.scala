package graft.perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import graft.GraftSession
import graft.functions.TextFunctions
import graft.operators.{Dedup, WordCount}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{col, size}
import org.apache.spark.sql.types.StructType

/** One benchmark process: set up a session, run one workload's passes in a
  * closed loop (one client: a job starts only after the previous job's
  * result is complete) for a fixed window, and write the raw samples to
  * `<out>/raw.json` for run.py, which checks outputs and computes metrics.
  *
  * Arguments, all as `--key value`:
  *   workload  wordcount | query_mix
  *   data      generated input directory
  *   out       directory for raw.json and job outputs
  *   seconds   length of the timed window
  *   trace     1 = alternate untraced and traced passes in the window,
  *             then run the single-layer probes
  *   traced-first  trace 1 only: 1 = the first pair of passes starts
  *             with the traced one
  *   jobs      query_mix only: comma-separated SparkEntry query names
  *   stream    query_mix only: the streaming SparkEntry query traced
  *             runs time as a probe
  */
object Main {

  /** One job of a pass: the operator call that returns the frame, and
    * whether its result is completed by a parquet write or a collect. */
  final case class Job(name: String, build: (SparkSession, String) => DataFrame,
      write: Boolean = false)

  def main(argv: Array[String]): Unit = {
    val processStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String = args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = arg("workload")
    val data = new File(arg("data")).getAbsolutePath
    val out = new File(arg("out")).getAbsoluteFile
    val seconds = arg("seconds").toDouble
    val cores = Runtime.getRuntime.availableProcessors
    out.mkdirs()
    val wl: Workload = workload match {
      case "wordcount" => new WordCountWorkload(data)
      case "query_mix" => new QueryMixWorkload(data, arg("jobs").split(",").toSeq, arg("stream"))
      case other       => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val trace = new Trace
    val json = new StringBuilder(s"""{"workload":${Json.str(workload)},"cores":$cores""")

    // set-up, from process start (JVM and class loading): build the
    // session and run one untimed warm-up pass over the run's input, so
    // caches the warm-up fills (codegen, file listings, IndexStore
    // artifacts) count as set-up
    // shuffle width = cores, as the engine's own Bench and Verify run
    val spark = GraftSession.builder(master = s"local[$cores]", shufflePartitions = cores)
      .config("spark.local.dir", new File(out, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val startS = (System.currentTimeMillis() - processStartMs) / 1e3
    val w0 = System.nanoTime()
    wl.jobs.foreach(j => complete(j, j.build(spark, data), new File(out, s"warmup/${j.name}")))
    json ++= s""","setup":{"start_s":$startS,"warmup_s":${(System.nanoTime() - w0) / 1e9}}"""

    val passes = ArrayBuffer.empty[String]
    val jobs = ArrayBuffer.empty[String]
    val results = scala.collection.mutable.LinkedHashMap.empty[(String, String), (Seq[Row], StructType)]
    var passId = 0

    /** One pass. A dropped pass is run and checked but not timed into
      * any metric. */
    def runPass(traced: Boolean, dropped: Boolean = false): Unit = {
      if (traced) trace.attach(spark)
      val p0 = System.nanoTime()
      val passSpan = if (traced) trace.open("pass", "pass", passId, -1) else -1
      for (job <- wl.jobs) {
        val before = IndexProbe.entries(spark)
        val outDir = new File(out, s"pass$passId/${job.name}")
        val j0 = System.nanoTime()
        val jobSpan = if (traced) trace.open(job.name, "job", passId, passSpan) else -1
        def span[T](name: String, layer: String)(body: => T): T =
          if (!traced) body
          else { val s = trace.open(name, layer, passId, jobSpan); try body finally trace.close(s) }
        var error: Option[String] = None
        var result: Option[(Seq[Row], StructType)] = None
        try {
          val df = span("plan.build", "catalyst")(job.build(spark, data))
          if (traced) span("plan.optimize", "catalyst")(df.queryExecution.executedPlan)
          result = span(if (job.write) "sink.write" else "exec.collect",
            if (job.write) "sink" else "exec")(complete(job, df, outDir))
        } catch {
          case e: Throwable => error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        }
        val jobS = (System.nanoTime() - j0) / 1e9
        if (traced) trace.close(jobSpan)
        // outside the job's time: digest a collected result and keep one
        // copy of each distinct result for the output check
        val digest = result.fold("")(r => Digest.of(r._1))
        result.foreach(r => results.getOrElseUpdate((job.name, digest), r))
        jobs += s"""{"pass":$passId,"name":${Json.str(job.name)},"seconds":$jobS,""" +
          s""""error":${error.fold("null")(Json.str)},"digest":${Json.str(digest)},""" +
          s""""output":${Json.str(if (job.write && error.isEmpty) outDir.getPath else "")},""" +
          s""""index_misses":${IndexProbe.entries(spark) - before}}"""
      }
      if (traced) trace.close(passSpan)
      val passS = (System.nanoTime() - p0) / 1e9
      val cached = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      passes += s"""{"id":$passId,"traced":$traced,"dropped":$dropped,"seconds":$passS,"cached_bytes":$cached}"""
      passId += 1
      if (traced) trace.detach()
    }

    def elapsedS(from: Long): Double = (System.nanoTime() - from) / 1e9
    val t0 = System.nanoTime()
    if (arg("trace") == "1") {
      // untraced and traced passes alternate in pairs whose order flips
      // from pair to pair, and the first pair's order with the seed, so a
      // speed-up over the window cancels out over pairs or over runs; the
      // first pass, still warming up, is dropped
      runPass(traced = false, dropped = true)
      var tracedFirst = arg("traced-first") == "1"
      val t1 = System.nanoTime()
      do {
        runPass(traced = tracedFirst)
        runPass(traced = !tracedFirst)
        tracedFirst = !tracedFirst
      } while (elapsedS(t1) < seconds)
      trace.attach(spark)
      wl.probes(spark, trace)
      trace.detach()
    } else {
      do runPass(traced = false) while (elapsedS(t0) < seconds)
    }

    // untimed: one parquet copy of each distinct collected result
    val resultDirs = results.toSeq.zipWithIndex.map { case (((name, digest), (rows, schema)), i) =>
      val dir = new File(out, s"results/$name-$i").getAbsolutePath
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(dir)
      s"""{"name":${Json.str(name)},"digest":${Json.str(digest)},"dir":${Json.str(dir)}}"""
    }
    json ++= s""","passes":${passes.mkString("[", ",", "]")},"jobs":${jobs.mkString("[", ",", "]")}"""
    json ++= s""","results":${resultDirs.mkString("[", ",", "]")}"""
    json ++= s""","oracle_sql":${wl.oracle.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")}"""
    json ++= s""","trace":${trace.json}}"""
    Files.writeString(new File(out, "raw.json").toPath, json.toString)
    stopSession(spark)
  }

  /** Completes a job's frame: a parquet write for writing jobs (nothing
    * is returned), a collect otherwise. */
  def complete(job: Job, df: DataFrame, outDir: File): Option[(Seq[Row], StructType)] =
    if (job.write) { df.write.mode("overwrite").parquet(outDir.getAbsolutePath); None }
    else Some((df.collect().toSeq, df.schema))

  /** Stops streams, the state-store maintenance thread and the context. */
  def stopSession(spark: SparkSession): Unit = {
    spark.streams.active.foreach { q => try { q.stop(); q.awaitTermination() } catch { case _: Throwable => () } }
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop() catch { case _: Throwable => () }
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** A workload: the jobs of one pass over `data`, the oracle SQL its output
  * checks use, and the single-layer probes a traced run adds. */
trait Workload {
  def jobs: Seq[Main.Job]
  def oracle: Map[String, String] = Map.empty
  def probes(spark: SparkSession, trace: Trace): Unit

  /** Times one job under a span of its own; the noop sink forces every
    * row through without a write. */
  protected def probe(trace: Trace, name: String, layer: String)(df: => DataFrame): Unit = {
    val s = trace.open(name, layer, -1, -1)
    try df.write.format("noop").mode("overwrite").save() finally trace.close(s)
  }
}

/** The reference's word count at data volume, three ways, each written
  * as parquet: the directory of .txt files, the same text as multi-file
  * parquet, and the four-function MapReduce API over that parquet. */
class WordCountWorkload(data: String) extends Workload {
  private val txt = s"$data/txt"
  private val pq = s"$data/pq"
  val jobs: Seq[Main.Job] = Seq(
    Main.Job("wc_text_dir", (s, _) => WordCount.fromTextDir(s, txt), write = true),
    Main.Job("wc_parquet", (s, _) => WordCount.query(s, pq), write = true),
    Main.Job("wc_mapreduce_api", (s, _) => {
      import s.implicits._
      WordCount.viaMapReduceApi(s, pq).toDF("word", "cnt")
    }, write = true),
  )
  def probes(spark: SparkSession, trace: Trace): Unit = {
    probe(trace, "sources.scan", "sources")(Tables.documents(spark, pq))
    probe(trace, "kernel.tokenize", "functions")(
      Tables.documents(spark, pq).select(size(TextFunctions.alphaTokens(col("text")))))
  }
}

/** The analyst session: a fixed list of SparkEntry queries over one
  * directory of single-file tables; IndexStore caches warm after set-up. */
class QueryMixWorkload(data: String, names: Seq[String], stream: String) extends Workload {
  val jobs: Seq[Main.Job] = names.map(n => Main.Job(n, graft.SparkEntry.queries(n)))
  override def oracle: Map[String, String] =
    names.map(n => n -> graft.SparkEntry.oracleSql(n).replace("__SFDIR__", data)).toMap

  /** Scans, one streaming query run to completion, the dedup hash
    * kernels, the candidate-pair join's telemetry, and one IndexStore
    * artifact built cold. Those last run on the generated probe corpus
    * (`<data>/probe`): a path the session has not seen, so its memo cache
    * misses, with a boilerplate passage shared by about a tenth of its
    * documents, so some LSH band buckets exceed [[Dedup.BucketCap]]. */
  def probes(spark: SparkSession, trace: Trace): Unit = {
    val st = trace.open("stream.run", "streaming", -1, -1)
    graft.SparkEntry.queries(stream)(spark, data).collect()
    trace.close(st)
    Seq("lineitem", "orders", "events", "documents", "embeddings").foreach { t =>
      probe(trace, "sources.scan", "sources")(Tables.table(spark, data, t))
    }
    val corpus = s"$data/probe"
    probe(trace, "kernel.minhash", "functions")(Dedup.minhashSignaturesArr(spark, corpus))
    probe(trace, "kernel.simhash", "functions")(Dedup.simhashes(spark, corpus))
    val before = IndexProbe.entries(spark)
    val s = trace.open("index.cold_build", "index", -1, -1)
    val pairs = Dedup.verifiedPairs(spark, corpus)
    trace.close(s)
    trace.counter("index.cold_misses", (IndexProbe.entries(spark) - before).toDouble)
    trace.counter("dedup.verified_pairs", pairs.count().toDouble)
    // the candidate join with the telemetry hook minhashPairs passes on
    val obs = Observation("candidates")
    trace.counter("dedup.candidate_pairs", Dedup.minhashCandidates(
      Dedup.minhashSignaturesArr(spark, corpus), Dedup.BucketCap, Some(obs)).count().toDouble)
    val m = obs.get
    Seq("hot_bucket_rows", "max_bucket_n").foreach { k =>
      if (m.contains(k)) trace.counter(s"dedup.$k", m(k).toString.toDouble)
    }
  }
}

/** Order-insensitive digest of a collected result. */
object Digest {
  def of(rows: Seq[Row]): String = {
    val h = scala.util.hashing.MurmurHash3.unorderedHash(rows.map(_.toString))
    f"${rows.size}%d-$h%08x"
  }
}

/** Counts the session's entries in the engine's IndexStore memo caches
  * (the `TrieMap[(SparkSession, String), DataFrame]` fields of the
  * operator modules): an entry added during a job is an artifact built. */
object IndexProbe {
  private lazy val caches: Seq[scala.collection.concurrent.TrieMap[Any, Any]] =
    Seq[AnyRef](graft.operators.Dedup, graft.operators.Similarity,
      graft.operators.TextAnalysis, graft.operators.Graph).flatMap { m =>
      m.getClass.getDeclaredFields.toSeq
        .filter(f => classOf[scala.collection.concurrent.TrieMap[_, _]].isAssignableFrom(f.getType))
        .map { f => f.setAccessible(true); f.get(m).asInstanceOf[scala.collection.concurrent.TrieMap[Any, Any]] }
    }

  def entries(spark: SparkSession): Int =
    caches.map(_.iterator.count {
      case ((s: SparkSession, _), _: org.apache.spark.sql.Dataset[_]) => s eq spark
      case _ => false
    }).sum
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
