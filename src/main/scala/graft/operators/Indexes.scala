package graft.operators

import graft.sources.IndexStore
import org.apache.spark.sql.SparkSession

/** Cross-session index lifecycle over the session artifacts — the
  * trained IVF codebook, the hierarchical cell assignment, the SQ8
  * stats, the BPE merge table, the capped basket table, the three
  * near-dup detector pair sets (minhash-verified, simhash,
  * containment), and the near-dup cluster labels derived from the
  * minhash-verified pairs.
  *
  * `persistAll` writes each artifact to the configured
  * `spark.graft.indexDir` store (building in-session first if needed);
  * a LATER session with the same conf then resolves every artifact
  * consumer (q57/q73/q82/q83/q85/q86/q87 cells, the q12-pair
  * consumers, the cluster-label consumers q47/q52/q80/q112/q131/q185/
  * q209/q224, the basket-affinity queries) from the persisted parquet
  * instead of rebuilding — the deployment shape where the index is
  * built once per corpus ingest and every subsequent job reopens it.
  * Explicit write, implicit read: queries never silently persist, but
  * always prefer a persisted artifact when one exists.
  */
object Indexes {

  /** Build (or reuse) and persist all nine index artifacts for a
    * corpus. Requires `spark.graft.indexDir` to be set. */
  def persistAll(spark: SparkSession, sfDir: String): Unit = {
    IndexStore.write(spark, Similarity.trainedCodebook(spark, sfDir),
      Similarity.CodebookArtifact, sfDir)
    IndexStore.write(spark, Similarity.hierCells(spark, sfDir),
      Similarity.HierCellsArtifact, sfDir)
    IndexStore.write(spark, Dedup.verifiedPairs(spark, sfDir),
      Dedup.PairsArtifact, sfDir)
    IndexStore.write(spark, Dedup.clusterLabels(spark, sfDir),
      Dedup.ClustersArtifact, sfDir)
    IndexStore.write(spark, Dedup.verifiedSimhashPairs(spark, sfDir),
      Dedup.SimhashPairsArtifact, sfDir)
    IndexStore.write(spark, Dedup.verifiedContainmentPairs(spark, sfDir),
      Dedup.ContainmentPairsArtifact, sfDir)
    IndexStore.write(spark, Similarity.sqStats(spark, sfDir),
      Similarity.SqStatsArtifact, sfDir)
    IndexStore.write(spark, TextAnalysis.trainedBpeMerges(spark, sfDir),
      TextAnalysis.BpeMergesArtifact, sfDir)
    IndexStore.write(spark, Graph.basketArtifact(spark, sfDir),
      Graph.BasketsArtifact, sfDir)
  }

  /** Drop this session's in-memory artifact entries so the next access
    * re-resolves — against the persisted store when configured, else a
    * fresh build. (The cross-session path needs no eviction — a new
    * session starts with empty caches; this hook is for tests and for
    * post-`persistAll` switchover within one session.) */
  def evictSession(spark: SparkSession): Unit = {
    IndexStore.evict(Similarity.codebookCache, spark)
    IndexStore.evict(Similarity.hierCellsCache, spark)
    IndexStore.evict(Similarity.sqStatsCache, spark)
    IndexStore.evict(Dedup.pairCache, spark)
    IndexStore.evict(Dedup.clusterCache, spark)
    IndexStore.evict(Dedup.simhashPairsCache, spark)
    IndexStore.evict(Dedup.containmentPairsCache, spark)
    IndexStore.evict(TextAnalysis.bpeMergesCache, spark)
    IndexStore.evict(Graph.basketCache, spark)
  }
}
