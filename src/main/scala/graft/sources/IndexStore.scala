package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Cross-session persistence for index ARTIFACTS — the trained IVF
  * codebook, the hierarchical cell assignment, the SQ8 stats, the BPE
  * merge table, the capped basket table, the three verified near-dup
  * pair sets, and the near-dup cluster labels derived from the minhash
  * pairs (the full list is [[graft.operators.Indexes]]).
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
  * session restart needed). When set, the artifact caches in
  * [[graft.operators.Similarity]], [[graft.operators.Dedup]],
  * [[graft.operators.TextAnalysis]] and [[graft.operators.Graph]] LOAD a
  * persisted table instead of rebuilding; when absent or the table is
  * missing, they build in-session exactly as before. Writing is always
  * explicit ([[graft.operators.Indexes]].persistAll) — an engine that
  * silently wrote indexes during a read-only query would surprise its
  * operator.
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
  def write(spark: SparkSession, df: DataFrame, name: String, sfDir: String): Unit = {
    val dir = indexDir(spark).getOrElse(
      throw new IllegalStateException(s"$ConfKey is not set — nowhere to persist '$name'"))
    df.write.mode(SaveMode.Overwrite).parquet(artifactPath(dir, name, sfDir))
  }

  /** Memoize-with-fallback for a session index-artifact cache:
    * SYNCHRONIZED (TrieMap.getOrElseUpdate is not atomic for an
    * expensive builder — two concurrent first callers would both run
    * training and orphan one checkpoint), evicts entries of stopped
    * sessions (their checkpoint blocks died with the context; live
    * entries retain one checkpointed frame per corpus until session
    * stop — bounded by the handful of corpora a session touches), and
    * consults the persisted store before building: a persisted artifact
    * table replaces the in-session build entirely. Every job the load
    * or build starts carries the description `graft:artifact/<name>`
    * (an artifact built from another shows the inner name while the
    * inner one builds); the caller's description is restored after. */
  def memo(
      cache: scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame],
      spark: SparkSession, sfDir: String, name: String)(build: => DataFrame): DataFrame =
    cache.synchronized {
      cache.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
      cache.getOrElseUpdate((spark, sfDir), {
        val sc = spark.sparkContext
        val callerDescription = sc.getLocalProperty(JobDescriptionKey)
        sc.setJobDescription(s"graft:artifact/$name")
        try load(spark, name, sfDir).getOrElse(build)
        finally sc.setJobDescription(callerDescription)
      })
    }

  /** The local property `SparkContext.setJobDescription` sets. */
  private val JobDescriptionKey = "spark.job.description"

  /** Test/maintenance hook: drop this session's cached artifact entries
    * so the next access re-resolves (against the store, or rebuilds). */
  def evict(
      cache: scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame],
      spark: SparkSession): Unit =
    cache.synchronized { cache.filterInPlace { case ((s, _), _) => s != spark } }

  /** Load a persisted artifact if the store is configured AND the table
    * exists; None otherwise (caller builds in-session). */
  def load(spark: SparkSession, name: String, sfDir: String): Option[DataFrame] =
    indexDir(spark).flatMap { dir =>
      val p = artifactPath(dir, name, sfDir)
      try {
        val fs = new org.apache.hadoop.fs.Path(p)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        // not Tables.table: `write` overwrites an artifact on rebuild, so
        // its schema must not be memoized for the rest of the session
        if (fs.exists(new org.apache.hadoop.fs.Path(p))) Some(spark.read.parquet(p))
        else None
      } catch { case _: java.io.IOException => None }
    }
}
