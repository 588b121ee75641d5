package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory trace of one run: spans opened and closed by the benchmark
  * around its calls into each layer, named counters, and the raw Spark
  * scheduler and streaming events of the traced window. Nothing is
  * written until the run ends ([[json]]). Times are epoch microseconds,
  * from a monotonic clock anchored once at construction. */
final case class Span(id: Int, parent: Int, name: String, layer: String, pass: Int,
    start: Long, var end: Long)

class Trace {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L

  private val spans = ArrayBuffer.empty[Span]
  private val counters = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private var attached: Option[SparkSession] = None

  def open(name: String, layer: String, pass: Int, parent: Int): Int = synchronized {
    spans += Span(spans.size, parent, name, layer, pass, nowUs, -1L)
    spans.size - 1
  }
  def close(id: Int): Unit = synchronized { spans(id).end = nowUs }
  def counter(name: String, v: Double): Unit = synchronized { counters(name) = v }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      events.add(s"""{"ev":"job_start","job":${e.jobId},"t":${e.time}}""")
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      events.add(s"""{"ev":"job_end","job":${e.jobId},"t":${e.time}}""")
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val ti = e.taskInfo
      if (m != null) events.add(
        s"""{"ev":"task","stage":${e.stageId},"launch":${ti.launchTime},"finish":${ti.finishTime},""" +
        s""""run_ms":${m.executorRunTime},"cpu_ns":${m.executorCpuTime},"gc_ms":${m.jvmGCTime},""" +
        s""""in_bytes":${m.inputMetrics.bytesRead},"in_rows":${m.inputMetrics.recordsRead},""" +
        s""""out_bytes":${m.outputMetrics.bytesWritten},""" +
        s""""sh_read":${m.shuffleReadMetrics.totalBytesRead},"sh_read_rows":${m.shuffleReadMetrics.recordsRead},""" +
        s""""sh_write":${m.shuffleWriteMetrics.bytesWritten},""" +
        s""""spill":${m.memoryBytesSpilled + m.diskBytesSpilled}}""")
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val rows = p.stateOperators.map(_.numRowsTotal).sum
      val mem = p.stateOperators.map(_.memoryUsedBytes).sum
      events.add(s"""{"ev":"batch","t":${java.time.Instant.parse(p.timestamp).toEpochMilli},""" +
        s""""rows_in":${p.numInputRows},"ms":$ms,"state_rows":$rows,"state_bytes":$mem}""")
    }
  }

  def attach(spark: SparkSession): Unit = if (attached.isEmpty) {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    attached = Some(spark)
  }

  /** Waits for the listeners to see every event, then removes them. */
  def detach(): Unit = attached.foreach { s =>
    org.apache.spark.graftbench.Bus.drain(s.sparkContext)
    s.streams.removeListener(streamListener)
    s.sparkContext.removeSparkListener(listener)
    attached = None
  }

  def json: String = synchronized {
    val sp = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},"pass":${s.pass},"start_us":${s.start},"end_us":${s.end}}""")
    val cs = counters.map { case (k, v) => s"${Json.str(k)}:$v" }
    import scala.jdk.CollectionConverters._
    s"""{"spans":${sp.mkString("[", ",", "]")},"counters":${cs.mkString("{", ",", "}")},"events":${events.asScala.mkString("[", ",", "]")}}"""
  }
}
