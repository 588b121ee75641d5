package graft.operators

import graft.sources.IndexStore
import org.apache.spark.sql.SparkSession

/** Cross-session index lifecycle over the session artifacts: the one
  * registry [[artifacts]], each entry an [[IndexStore.Artifact]]
  * declared in its operator module next to its consumers.
  *
  * `persistAll` writes each artifact to the configured
  * `spark.graft.indexDir` store (building in-session first if needed);
  * a LATER session with the same conf then resolves every artifact
  * consumer from the persisted parquet instead of rebuilding — the
  * deployment shape where the index is built once per corpus ingest
  * and every subsequent job reopens it. Explicit write, implicit read:
  * queries never silently persist, but always prefer a persisted
  * artifact when one exists.
  */
object Indexes {

  /** Every session index artifact: the one list that `persistAll`,
    * `evictSession` and the tests iterate. */
  val artifacts: Seq[IndexStore.Artifact] = Seq(
    Similarity.trainedCodebook, Similarity.hierCells, Similarity.sqStats,
    Dedup.verifiedPairs, Dedup.clusterLabels, Dedup.verifiedSimhashPairs,
    Dedup.verifiedContainmentPairs, TextAnalysis.trainedBpeMerges, Graph.basketArtifact)

  /** Build (or reuse) and persist every artifact for a corpus. Requires
    * `spark.graft.indexDir` to be set. */
  def persistAll(spark: SparkSession, sfDir: String): Unit =
    artifacts.foreach(_.persist(spark, sfDir))

  /** Drop this session's in-memory artifact entries so the next access
    * re-resolves — against the persisted store when configured, else a
    * fresh build. (The cross-session path needs no eviction — a new
    * session starts with empty caches; this hook is for tests and for
    * post-`persistAll` switchover within one session.) */
  def evictSession(spark: SparkSession): Unit =
    artifacts.foreach(_.evict(spark))
}
