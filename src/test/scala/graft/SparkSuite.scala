package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM, process-wide singleton).
  *
  * `spark` is a def over a guarded singleton, not a per-suite lazy val:
  * r15's only red signal was a streaming test failing with "the
  * currently active SparkContext was stopped" — a lazy val caches the
  * session once per suite instance, so if the shared context dies
  * mid-run (fatal executor error under host load stops the context in
  * local mode), every later test in the suite keeps the corpse and
  * fails with it. The accessor re-checks `isStopped` on every call and
  * rebuilds the session if the context is gone, so one fatal event
  * costs at most the test it happened in, not the rest of the run.
  *
  * Two limits: a suite-level `lazy val` DataFrame stays bound to the
  * session it was first built on, so after a rebuild it still points
  * at the dead context (build frames per test through `spark`); and
  * once the JVM is shutting down (Spark's shutdown hook has stopped
  * the context) there is no rebuild — `session()` fails fast instead
  * of starting a new context inside harness teardown. */
trait SparkSuite extends AnyFunSuite {
  def spark: SparkSession = SparkSuite.session()
  val sf = "/root/testdata/sf0.001"

  /** Loans `f` a fresh directory under the OS temp dir and deletes it,
    * with everything in it, when `f` returns or throws. */
  def withTempDir[T](prefix: String)(f: java.nio.file.Path => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try f(dir) finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}

object SparkSuite {
  @volatile private var cached: SparkSession = _

  def session(): SparkSession = {
    val c = cached
    if (c != null && !c.sparkContext.isStopped) c
    else if (org.apache.hadoop.util.ShutdownHookManager.get().isShutdownInProgress)
      throw new IllegalStateException(
        "SparkSuite.session() called during harness teardown (JVM shutdown in progress); " +
          "not rebuilding the stopped SparkContext")
    else synchronized {
      if (cached == null || cached.sparkContext.isStopped) {
        val s = GraftSession.builder("local[4]", 8).getOrCreate()
        s.sparkContext.setLogLevel("WARN")
        cached = s
      }
      cached
    }
  }

  /** Stable-path twin of `spark.implicits` (an `import` needs a stable
    * identifier, which the self-healing `def spark` is not): the same
    * classic SQLImplicits, but `session` re-resolves through the
    * guarded singleton on every use. */
  object implicits extends org.apache.spark.sql.classic.SQLImplicits {
    override def session: org.apache.spark.sql.classic.SparkSession =
      SparkSuite.session().asInstanceOf[org.apache.spark.sql.classic.SparkSession]
  }
}
