package graft.sources

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Cross-session persistence for index ARTIFACTS — the session-built
  * index frames the operators share (the full list is
  * [[graft.operators.Indexes.artifacts]]).
  *
  * In-session these are memoized localCheckpoints (built once per
  * (session, corpus)); a real deployment builds them once and reopens
  * them next session — "an IVF index is a precomputed artifact" taken
  * across the session boundary. The store is plain parquet keyed by a
  * digest of the corpus directory, laid out next to whatever warehouse
  * path the session configures:
  *
  *   <indexDir>/<artifact>_<corpusKey>/part-*.parquet
  *
  * Enable by setting `spark.graft.indexDir` (a runtime SQL conf — no
  * session restart needed). When set, an [[IndexStore.Artifact]] LOADS a
  * persisted table instead of rebuilding; when absent or the table is
  * missing, it builds in-session exactly as before. A store that is set
  * but cannot be reached fails the lookup. Writing is always explicit
  * ([[graft.operators.Indexes]].persistAll) — an engine that silently
  * wrote indexes during a read-only query would surprise its operator.
  *
  * At 100 TB the artifacts are ordinary partitioned parquet tables
  * (cells: n rows of (vec_id, tc); pairs: the verified edge list;
  * codebook: k×64 doubles) — they read with the same pruning and
  * parallelism as any other table. Staleness is the operator's contract,
  * as with any database index: rebuild or append (q87's path) after
  * ingesting new data.
  */
object IndexStore {

  /** Runtime SQL conf naming the index root; unset = no persistence. */
  val ConfKey = "spark.graft.indexDir"

  /** One artifact's in-session memo: (session, corpus dir) → frame. */
  type Memo = scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame]

  /** One session index artifact: its store name, its memo and its build.
    *
    * `apply` resolves the artifact for a corpus: the session's memoized
    * frame, else the persisted table, else `build`. Every job the load
    * or build starts carries the description `graft:artifact/<name>` (an
    * artifact built from another shows the inner name while the inner
    * one builds); the caller's description is restored after. The memo
    * is locked per artifact ([[GraftSession.memo]]), so one artifact's
    * build may resolve another.
    *
    * The memo is passed in, not created here: it stays a
    * `TrieMap[(SparkSession, String), DataFrame]` field of the declaring
    * operator module, where perfbench's `IndexProbe` finds the memos by
    * reflecting over those fields. */
  final class Artifact(val name: String, val memo: Memo)(
      build: (SparkSession, String) => DataFrame) {

    def apply(spark: SparkSession, sfDir: String): DataFrame =
      GraftSession.memo(memo, spark, sfDir) {
        val sc = spark.sparkContext
        val callerDescription = sc.getLocalProperty(JobDescriptionKey)
        sc.setJobDescription(s"graft:artifact/$name")
        try load(spark, name, sfDir).getOrElse(build(spark, sfDir))
        finally sc.setJobDescription(callerDescription)
      }

    /** Resolve (building if needed) and write to the store. */
    def persist(spark: SparkSession, sfDir: String): Unit =
      write(spark, apply(spark, sfDir), name, sfDir)

    /** Drop this session's entries so the next access re-resolves. */
    def evict(spark: SparkSession): Unit =
      memo.synchronized { memo.filterInPlace { case ((s, _), _) => s != spark } }
  }

  object Artifact {
    def apply(name: String, memo: Memo)(build: (SparkSession, String) => DataFrame): Artifact =
      new Artifact(name, memo)(build)
  }

  /** Stable corpus key: first 12 hex chars of md5 of the corpus dir
    * path (path-safe, collision-irrelevant at directory counts). */
  def corpusKey(sfDir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(sfDir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
  }

  def artifactPath(indexDir: String, name: String, sfDir: String): String =
    s"$indexDir/${name}_${corpusKey(sfDir)}"

  def indexDir(spark: SparkSession): Option[String] =
    Option(spark.conf.get(ConfKey, null)).map(_.trim).filter(_.nonEmpty)

  /** Persist one artifact frame (overwrite = rebuild semantics). */
  private def write(spark: SparkSession, df: DataFrame, name: String, sfDir: String): Unit = {
    val dir = indexDir(spark).getOrElse(
      throw new IllegalStateException(s"$ConfKey is not set — nowhere to persist '$name'"))
    df.write.mode(SaveMode.Overwrite).parquet(artifactPath(dir, name, sfDir))
  }

  /** The local property `SparkContext.setJobDescription` sets. */
  private val JobDescriptionKey = "spark.job.description"

  /** Load a persisted artifact if the store is configured AND the table
    * exists; None otherwise (caller builds in-session). A configured
    * store that cannot be reached throws: rebuilding every artifact
    * in-session would hide the fault. */
  private def load(spark: SparkSession, name: String, sfDir: String): Option[DataFrame] =
    indexDir(spark).flatMap { dir =>
      val p = artifactPath(dir, name, sfDir)
      val path = new org.apache.hadoop.fs.Path(p)
      // not Tables.table: `write` overwrites an artifact on rebuild, so
      // its schema must not be memoized for the rest of the session
      if (path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path))
        Some(spark.read.parquet(p))
      else None
    }
}
