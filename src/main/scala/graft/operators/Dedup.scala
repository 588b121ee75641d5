package graft.operators

import graft.functions.{HashFunctions => H, TextFunctions => T}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family for LLM-corpus pipelines.
  *
  * The exact/near-dup shapes the builder brief requires, each designed so
  * NO stage is O(n²) in the corpus:
  *
  *  - exact:   hash-groupBy on a content key; survivors are the per-key
  *             min surrogate id. Pure shuffle-partitioned aggregation.
  *  - minhash: shingle → 128 affine min-hashes (ONE md5 per shingle;
  *             explode → codegen'd min aggregates with map-side partial
  *             aggregation) → 32 bands × 4 rows →
  *             candidate pairs come from a groupBy-(band,signature)
  *             bucket self-join → exact-Jaccard verify on candidates only.
  *             At J=0.8 the banding's miss probability is (1-0.8^4)^32 ≈
  *             5e-8, so the verified output equals the true ≥0.8 pair set
  *             (which is exactly what the DuckDB oracle computes).
  *  - simhash: 48-bit token-multiset simhash; 4 × 12-bit bands. By
  *             pigeonhole, hamming ≤ 3 ⇒ at least one band equal, so the
  *             banded candidate generation has EXACT (not probabilistic)
  *             recall at the ≤3 threshold.
  *
  * 100 TB notes: candidate-pair volume is bucket-local; pathological
  * buckets (e.g. boilerplate shingles surviving into a band signature)
  * are rarer because a band signature is 4 independent min-hashes — but
  * they DO happen on real web corpora, so candidate generation enforces
  * a per-bucket membership cap ([[BucketCap]]): over-cap buckets are
  * salted into ceil(n/cap) sub-groups via [[CandidatePairs]], bounding
  * per-task work without dropping any pair, with hot-bucket telemetry
  * via an optional Observation.
  * All hashing bottoms out in md5 (cross-engine reproducible, see
  * HashFunctions); swap in xxhash64 for ~3× scan throughput when oracle
  * parity is not required.
  */
object Dedup {

  val ShingleK = 3
  val NumHashes = 128
  val Bands = 32
  val RowsPerBand = 4
  /** Per-bucket membership cap for LSH candidate generation: buckets
    * beyond this are salted into ceil(n/cap) sub-groups so no task does
    * O(n²) work (see [[CandidatePairs]]; output-preserving). */
  val BucketCap = 64
  val JaccardThreshold = 0.8
  val SimhashBits = 48
  val SimhashBands = 4
  val HammingMax = 3

  /** q11_dedup_exact — exact dedup of documents by content hash; the
    * survivor of each identical-content group is the min doc_id. The
    * hash key is accent-folded first (native expression, equal to
    * DuckDB `strip_accents(nfc_normalize(..))`: strip_accents
    * NFD-decomposes its input itself and NFD(NFC(x)) = NFD(x), so an
    * NFC pass in front of it would be dead work) so encoding variants
    * of identical text — composed vs decomposed "café" — land in the
    * same duplicate group. */
  def exactDedup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(md5(org.apache.spark.sql.graft.native.stripAccents(col("text")))
        .as("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("content_hash"), col("n_copies"))
      .orderBy("doc_id")

  /** doc_id + distinct word-3-shingle set. Tokens are bound in their own
    * projection so the tokenizer runs once per doc, not once per shingle
    * reference (see TextFunctions.shingles). */
  /** Deliberately NOT spread (Tables.spread): the shingle+minhash chain
    * is the engine's heaviest scan-side work (2.6 s warm on one task at
    * sf0.1), but interleaved A/B showed its consumers split — q12/q279
    * gain ~0.2-0.8 s while q226/q58 lose ~0.5-0.9 s from the inflated
    * partition count every downstream job then carries; net ≈ 0. q279
    * spreads its own local copy instead. */
  private[graft] def shingled(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), T.wsTokens(col("text")).as("w"))
      .select(col("doc_id"), T.shingleSet(col("w"), ShingleK).as("sh"))

  /** doc_id, m0..m127 minhash signature.
    *
    * Explode + groupBy rather than per-row array transforms: Spark's
    * higher-order functions (`transform`/`aggregate`) evaluate
    * interpreted — measured ~20× slower. The aggregation itself is the
    * native [[org.apache.spark.sql.graft.MinHashSignatureAgg]]
    * TypedImperativeAggregate: one Array[Long] buffer updated in a
    * tight JVM loop per input row, partials shipped as a single 1 KB
    * blob (measured ~40% faster than the equivalent 128 codegen'd
    * `min` aggregate columns, which ExpressionsSpec proves
    * bit-identical). At 100 TB the shuffle after map-side partial
    * aggregation is only O(docs × 128 longs). */
  /** (doc_id, sig: array<bigint>) — the native-aggregate signature kept
    * in ARRAY form: the banding step reads the 4 hashes per band via
    * element_at, so the plan never materializes a 128-column projection
    * (whose generated code dominated cold compile time for every
    * minhash-family query). */
  private[graft] def minhashSignaturesArr(spark: SparkSession, sfDir: String): DataFrame =
    minhashSignaturesOf(shingled(spark, sfDir))

  /** Signature aggregate over an arbitrary (doc_id, sh) frame — the
    * injectable form [[minhashError]] uses to hash only audited docs. */
  private[graft] def minhashSignaturesOf(sh: DataFrame): DataFrame = {
    // explode_outer + null filter, NOT plain explode: explode makes the
    // optimizer synthesize a `size(sh) > 0` pre-filter and push it below
    // the shingle projection, re-evaluating the (interpreted) shingle
    // expression 3x per doc
    val exploded = sh
      .select(col("doc_id"), explode_outer(col("sh")).as("g"))
      .filter(col("g").isNotNull)
      .withColumn("h", H.md5Int28(col("g")))
    exploded.groupBy("doc_id")
      .agg(org.apache.spark.sql.graft.native.minhashSignature(col("h"), NumHashes).as("sig"))
  }

  /** Candidate pairs from banded LSH bucketing (doc_a < doc_b).
    * Candidate generation goes through [[CandidatePairs.boundedSelfJoin]]:
    * buckets over `cap` members (boilerplate shingles surviving into a
    * band signature) are salted so no single task builds an O(n²) pair
    * list; the emitted pair set is identical for any cap. Pass an
    * [[Observation]] to surface hot-bucket counts.
    *
    * The bucket key is `xxhash64(band, m_b0..m_b3)` — ONE long instead
    * of a (band_id, 40-byte concat string) pair, so every candidate
    * shuffle moves 8-byte keys. Collision-safe by construction: equal
    * band signatures always hash equal (recall is untouched), and a
    * cross-band hash collision merely merges two buckets, adding
    * candidates that the exact-Jaccard verify then filters — the
    * verified pair set cannot change. */
  private[graft] def minhashCandidates(
      sigs: DataFrame,
      cap: Int = BucketCap,
      obs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val bandHashes: Seq[Column] = (0 until Bands).map { b =>
      xxhash64(lit(b) +: (0 until RowsPerBand)
        .map(r => element_at(col("sig"), b * RowsPerBand + r + 1)): _*)
    }
    val buckets = sigs
      .select(col("doc_id"), explode(array(bandHashes: _*)).as("sig"))
    CandidatePairs.boundedSelfJoin(buckets, Seq("sig"), "doc_id", cap, obs)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
  }

  /** q12_dedup_minhash — near-dup pairs: LSH candidates verified by exact
    * Jaccard ≥ 0.8 over the shingle sets. */
  def minhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    minhashPairs(spark, sfDir, BucketCap, None)

  /** Session-scoped MATERIALIZED verified-pair set — the in-session
    * analogue of the persisted pair table a 100 TB deployment keeps
    * next to the corpus (the dedup pipeline's index artifact): the
    * q12 pipeline is deterministic, so every consumer (clusters,
    * survivors, reps, PageRank, reports) reads the same rows — paying
    * the minhash/LSH/verify build once per (session, corpus) instead
    * of once per query. q52 proved the win for one chained query
    * (4.5 s vs ~15 s for its three stages run independently); this
    * extends the reuse across the whole session. The checkpoint is
    * corpus-keyed; result rows are identical to an uncached run
    * (memoization of a deterministic frame, not an approximation). */
  private[graft] val pairCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  /** Artifact-store name for the verified pair set; a persisted table
    * under this name replaces the in-session minhash/LSH/verify build
    * (see [[graft.sources.IndexStore]] / [[Indexes.persistAll]]). */
  val PairsArtifact = "dedup_pairs"
  def verifiedPairs(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.IndexStore.memo(pairCache, spark, sfDir, PairsArtifact) {
      minhashPairs(spark, sfDir).localCheckpoint()
    }

  /** Session-scoped materialized SIMHASH pair set (q13's output) — the
    * same artifact treatment as [[verifiedPairs]]: the banded
    * hamming-≤3 pipeline is deterministic, so consumers (q238's Venn
    * today; any rollout report tomorrow) read one checkpointed frame
    * per (session, corpus) instead of re-running the detector. At
    * 100 TB all three detector pair sets are persisted index tables
    * next to the corpus ([[Indexes.persistAll]] writes them). q13
    * itself stays the raw pipeline so its bench number still prices
    * the build. */
  private[graft] val simhashPairsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  val SimhashPairsArtifact = "simhash_pairs"
  def verifiedSimhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.IndexStore.memo(simhashPairsCache, spark, sfDir, SimhashPairsArtifact) {
      simhashPairs(spark, sfDir).localCheckpoint()
    }

  /** Session-scoped materialized CONTAINMENT pair set (q181's output) —
    * see [[verifiedSimhashPairs]]; q181 stays the raw pipeline. */
  private[graft] val containmentPairsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  val ContainmentPairsArtifact = "containment_pairs"
  def verifiedContainmentPairs(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.IndexStore.memo(containmentPairsCache, spark, sfDir, ContainmentPairsArtifact) {
      containmentDedup(spark, sfDir).localCheckpoint()
    }

  /** Session-scoped MATERIALIZED transitive cluster labels — the
    * artifact derived from [[verifiedPairs]]: (doc_id, cluster_id) for
    * every document, UNORDERED. The connected-components loop is a
    * chain of eager checkpoint, signature and probe jobs; consumers of
    * the labels (q47, q52, q80, q112, q131, q185, q209, q224) read this
    * one frame instead of re-running it per query. q31 itself stays the
    * raw [[dupClusters]] pipeline so its bench number still prices the
    * build. Lock order: [[clusterCache]] is taken before [[pairCache]]
    * (the build resolves the pair artifact), never the other way. */
  private[graft] val clusterCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  val ClustersArtifact = "dup_clusters"
  def clusterLabels(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.IndexStore.memo(clusterCache, spark, sfDir, ClustersArtifact) {
      dupClustersFrom(Tables.documents(spark, sfDir), verifiedPairs(spark, sfDir))
        .localCheckpoint()
    }

  /** [[minhashPairs]] with an explicit per-bucket cap + telemetry hook
    * (the cap is output-preserving — see [[CandidatePairs]]). */
  def minhashPairs(
      spark: SparkSession, sfDir: String,
      cap: Int, obs: Option[org.apache.spark.sql.Observation]): DataFrame = {
    val sigs = minhashSignaturesArr(spark, sfDir)
    val sets = shingled(spark, sfDir)
    minhashCandidates(sigs, cap, obs)
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("sha")) + size(col("shb")) - col("inter")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** doc_id → 48-bit simhash of the whitespace-token multiset.
    * Explode + groupBy keeps the bit-count sums partially aggregated
    * map-side; at 100 TB this is one shuffle of O(docs × 48) longs. */
  private[graft] def simhashes(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(T.wsTokens(col("text"))).as("tok"))
      .withColumn("h", H.md5Int60(col("tok")))
    val sumCols = (0 until SimhashBits).map(b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L)) * lit(2L) - lit(1L)).as(s"s$b"))
    val sums = toks.groupBy("doc_id").agg(sumCols.head, sumCols.tail: _*)
    val simhash = (0 until SimhashBits)
      .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    sums.select(col("doc_id"), simhash.as("simhash"))
  }

  /** q13_dedup_simhash — near-dup pairs with hamming distance ≤ 3,
    * found via 4 × 12-bit band bucketing (exact recall by pigeonhole). */
  def simhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val sims = simhashes(spark, sfDir)
    val bandStructs: Seq[Column] = (0 until SimhashBands).map { j =>
      struct(lit(j).as("band_id"),
        shiftright(col("simhash"), 12 * j).bitwiseAND(lit(0xFFFL)).as("bv"))
    }
    val buckets = sims
      .select(col("doc_id"), col("simhash"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("simhash"), col("bs.band_id").as("band_id"), col("bs.bv").as("bv"))
    buckets.alias("a")
      .join(buckets.alias("b"),
        col("a.band_id") === col("b.band_id") && col("a.bv") === col("b.bv")
          && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= HammingMax)
      .orderBy("doc_a", "doc_b")
  }

  /** Distributed connected components by the alternating
    * large-star/small-star algorithm (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", 2014): each round rewires
    * edges toward per-neighborhood minima —
    *
    *   large-star: for every node u, each neighbor v > u is re-linked
    *     to m = min(neighborhood(u) ∪ u);
    *   small-star: for every node u, its smaller neighbors (and u
    *     itself) are re-linked to the minimum smaller neighbor —
    *
    * until the edge set reaches its fixpoint {(v, root_v)}. Converges
    * in O(log n) rounds even on adversarial chain-shaped components,
    * where min-label propagation needs O(diameter) rounds. Both
    * operations are a groupBy-min + equi-join over the current edge
    * list — pure shuffle primitives, nothing driver-resident; the
    * driver only sequences rounds (one localCheckpoint to truncate
    * lineage + one anti-join emptiness probe per round).
    *
    * Input cols (u, v); returns (assignments (doc_id, cluster_id) for
    * every node that appears in an edge, rounds used). THROWS if
    * maxRounds is hit without reaching the fixpoint — an unconverged
    * result is never silently returned.
    */
  private[graft] def connectedComponents(
      edges0: DataFrame, maxRounds: Int = 25): (DataFrame, Int) = {
    def sym(e: DataFrame): DataFrame =
      e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
    def largeStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      val mins = s.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      // no distinct here: the following smallStar's groupBy-min absorbs
      // duplicates and its own distinct canonicalizes the round's output
      // — one less shuffle per round
      s.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val dir = sym(e).filter(col("v") < col("u"))
      val mins = dir.groupBy("u").agg(min(col("v")).as("m"))
      dir.join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(mins.select(col("u"), col("m").as("v")))
        .distinct()
    }
    // localCheckpoint, NOT cache(): the edge subtree may contain the
    // wide minhash plan, and registering it in the CacheManager taxes
    // the planning of every later query in the session (see PLANS.md);
    // RDD-level checkpointing sidesteps the CacheManager and truncates
    // the per-round lineage growth.
    // materialize the input FIRST: every star operation references its
    // input 4x (sym + groupBy + join), so an expensive upstream plan
    // (the minhash pipeline) must be cut off before the first pass
    // base stays EAGER: the upstream here is the expensive minhash
    // pipeline, and a lazy checkpoint lets the first round's parallel
    // map stages race to compute it concurrently before any blocks
    // land (measured +1 s cold); one dedicated materialization job
    // guarantees it runs exactly once
    val base = edges0.select(col("u"), col("v"))
      .filter(col("u") =!= col("v")).localCheckpoint()
    // seed with one small-star pass: near-dup components are close to
    // cliques with min-first canonical pairs, which a single small-star
    // collapses to their final star — the loop then converges (and is
    // detected) one full round earlier; chain-shaped components are
    // unaffected asymptotically
    // per-round convergence check, two tiers:
    //   1. a scan-local edge-set signature (count, Σu, Σv, Σxxhash(u,v))
    //      — one 1-row aggregate over the just-checkpointed blocks, NO
    //      shuffle. Signatures differ ⇒ definitely not converged, next
    //      round, probe skipped;
    //   2. only when signatures MATCH, an exact symmetric-difference
    //      anti-join probe confirms the fixpoint, so the exit criterion
    //      stays exact (a 192-bit multiset-hash collision merely costs
    //      one redundant probe, never a wrong answer).
    // The old per-round probe anti-joined both edge sets — two extra
    // shuffles of the FULL edge list every round; at 100 TB that probe
    // doubled per-round shuffle volume.
    // decimal(38,0) sums: a long sum of xxhash64 values overflows (ANSI
    // arithmetic) after a handful of edges; decimal is exact to 10^38
    def signature(d: DataFrame): Seq[Any] =
      d.agg(count(lit(1)),
        sum(col("u").cast("decimal(38,0)")),
        sum(col("v").cast("decimal(38,0)")),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).head.toSeq
    var e = smallStar(base).localCheckpoint(eager = false)
    var prevSig = signature(e)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val next = smallStar(largeStar(e)).localCheckpoint(eager = false)
      rounds += 1
      val nextSig = signature(next)
      if (nextSig == prevSig) {
        val changed = next.join(e, Seq("u", "v"), "left_anti")
          .unionAll(e.join(next, Seq("u", "v"), "left_anti"))
          .limit(1).count() // fixpoint iff the symmetric difference is empty
        converged = changed == 0
      }
      prevSig = nextSig
      e = next
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds — " +
          "component structure is pathological; raise maxRounds")
    // at the fixpoint every non-root node carries exactly one (v, root)
    // edge; the min is a no-op safety net
    (e.groupBy(col("u").as("doc_id")).agg(min(col("v")).as("cluster_id")), rounds)
  }

  /** q31_dup_clusters — transitive near-duplicate clusters: connected
    * components over the verified ≥0.8-Jaccard pair graph, each doc
    * labeled with the minimum doc_id of its component (singletons label
    * themselves). This is the operator a dedup pipeline actually keys
    * on — pairs alone miss transitive chains (a~b, b~c ⇒ {a,b,c}).
    * Components come from [[connectedComponents]] (large-star/
    * small-star, O(log n) rounds); docs with no near-dup partner fall
    * through the left join and label themselves. q31 reruns the loop
    * on every call, so its timing prices the build; the consumers of
    * the labels read the memoized [[clusterLabels]] artifact. */
  def dupClusters(spark: SparkSession, sfDir: String): DataFrame =
    dupClustersFrom(
      Tables.documents(spark, sfDir), verifiedPairs(spark, sfDir))
      .orderBy("doc_id")

  /** Transitive cluster labels from a PRECOMPUTED verified pair frame
    * (cols doc_a, doc_b), unordered — what [[dupClusters]]
    * and the [[clusterLabels]] artifact both compute. */
  def dupClustersFrom(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val (labels, _) = connectedComponents(
      pairs.select(col("doc_a").as("u"), col("doc_b").as("v")))
    docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Survivor set from a PRECOMPUTED verified pair frame (cols doc_a,
    * doc_b): drop every doc that has a near-dup partner with a smaller
    * doc_id. Callers that already materialized (or localCheckpoint'ed)
    * the q12 pair set — a curation run chaining q12 → q14 → q31 —
    * pass it here instead of re-running the whole minhash pipeline. */
  def ngramDedupFrom(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val dupHigher = pairs.select(col("doc_b").as("doc_id")).distinct()
    docs
      .join(dupHigher, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** Benchmark-overlap detection against an EXTERNAL eval corpus (the
    * GPT-3-style decontamination pass): flag every training document
    * (cols doc_id, text) that shares at least one word-5-gram with the
    * benchmark set (cols …, text), reporting the distinct
    * overlapping-5-gram count per flagged doc. Scale shape: the
    * benchmark n-gram set is tiny relative to the corpus → broadcast
    * hash join against the training side's exploded shingles, which
    * stay scan-local; one groupBy shuffle of only the FLAGGED
    * (doc, gram) hits. The benchmark side is a caller-supplied
    * DataFrame, so a real eval corpus plugs in without touching the
    * operator. */
  def decontaminateAgainst(docs: DataFrame, bench: DataFrame): DataFrame = {
    def grams(df: DataFrame): DataFrame = df
      .select(col("doc_id"), T.wsTokens(col("text")).as("w"))
      .select(col("doc_id"), explode_outer(T.shingleSet(col("w"), 5)).as("g"))
      .filter(col("g").isNotNull)
    val benchGrams = grams(bench).select(col("g")).distinct()
    grams(docs)
      .join(broadcast(benchGrams), "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits")) // grams per doc are already distinct
      .orderBy("doc_id")
  }

  /** q51_decontaminate — the graded spec: benchmark = the deterministic
    * doc_id % 50 == 0 slice of the documents table, training side = the
    * rest; delegates to [[decontaminateAgainst]]. */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    decontaminateAgainst(
      d.filter(col("doc_id") % 50 =!= 0),
      d.filter(col("doc_id") % 50 === 0))
  }

  /** Bloom hash count for [[bloomDecontam]]. */
  val BloomK = 3
  /** Bloom filter bits (2^16 → an 8 KB bitmap). */
  val BloomM = 65536

  /** q118_bloom_decontam — q51's decontamination pass run the way a
    * 100 TB deployment actually runs it: the benchmark 5-gram set is
    * compressed into a [[BloomM]]-bit / [[BloomK]]-hash Bloom filter
    * (Bloom 1970) and the corpus is probed against the BITMAP, never
    * joined against the gram strings. Per training doc the query
    * reports the bloom-flagged gram count next to q51's exact overlap
    * count, so the filter's false-positive cost is a GRADED number
    * (n_false_pos), and the no-false-negative guarantee is checked row
    * by row (n_bloom ≥ n_exact always; DedupSpec pins it).
    *
    * Scale shape: the bitmap is built from the benchmark side's ≤
    * min(k·|bench grams|, m) distinct bit positions — bounded by m =
    * 8 KB of driver state however large the benchmark, then embedded
    * as a plan literal (cheaper than a broadcast exchange); probing is
    * SCAN-LOCAL — one md5 + k affine mods + k bit tests per gram inside
    * whole-stage codegen, no shuffle and no join for the membership
    * test, which is exactly why a bloom filter (and not the q51
    * broadcast join) is what you ship against 100 TB when the
    * benchmark set itself is large. The only shuffled rows are the
    * flagged (doc, gram) hits, same as q51.
    *
    * Oracle form: membership in the bitmap ⟺ every one of the gram's k
    * positions is in the benchmark's position SET, so DuckDB verifies
    * the identical semantics via a positions anti-check — the bitmap is
    * an ENCODING of that set, not an approximation of the query. */
  def bloomDecontam(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val bench = d.filter(col("doc_id") % 50 === 0)
    val train = d.filter(col("doc_id") % 50 =!= 0)
    def grams(df: DataFrame): DataFrame = df
      .select(col("doc_id"), T.wsTokens(col("text")).as("w"))
      .select(col("doc_id"), explode_outer(T.shingleSet(col("w"), 5)).as("g"))
      .filter(col("g").isNotNull)
    def positions(gr: DataFrame): DataFrame = {
      val h = H.md5Int28(col("g"))
      gr.select(Seq(col("doc_id"), col("g")) ++
        (0 until BloomK).map(i =>
          pmod(H.affine(h, i), lit(BloomM.toLong)).as(s"p$i")): _*)
    }
    // the index artifact: ≤ m distinct bit positions → an m-bit bitmap
    val refPos = positions(grams(bench))
      .select(explode(array((0 until BloomK).map(i => col(s"p$i")): _*)).as("pos"))
      .distinct().collect().map(_.getLong(0))
    val bitmap = new Array[Long](BloomM / 64)
    refPos.foreach(p => bitmap(p.toInt >> 6) |= (1L << (p.toInt & 63)))
    val probed = positions(grams(train))
      .withColumn("bm", typedLit(bitmap.toSeq))
    val allBitsSet = (0 until BloomK).map(i => expr(
      s"(shiftright(element_at(bm, cast(p$i div 64 as int) + 1), " +
        s"cast(p$i % 64 as int)) & 1) = 1")).reduce(_ && _)
    // exact hits are a SUBSET of the bloom-passing rows (a bloom filter
    // has no false negatives), so one corpus pass serves BOTH counts:
    // the q51 exact join probes only the (small) bloom-hit frame
    // against the broadcast benchmark gram set, instead of re-shingling
    // the whole train corpus a second time (the round-13 fold:
    // 1.86 → ~1.1 s at sf0.1, identical output)
    val benchGrams = grams(bench).select(col("g")).distinct()
    probed.filter(allBitsSet)
      .join(broadcast(benchGrams.withColumn("ex", lit(1))), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bloom"), count(col("ex")).as("n_exact"))
      .select(col("doc_id"), col("n_exact"), col("n_bloom"),
        (col("n_bloom") - col("n_exact")).as("n_false_pos"))
      .orderBy("doc_id")
  }

  /** q14_ngram_dedup — survivor set: drop every doc that has a near-dup
    * partner (n-gram Jaccard ≥ 0.8) with a smaller doc_id. The removal
    * side comes from the LSH pipeline, so the anti-join input is the
    * verified pair set, never an all-pairs product. (The per-query
    * contract rebuilds the pair set; see [[ngramDedupFrom]] for the
    * reuse form.) */
  def ngramDedup(spark: SparkSession, sfDir: String): DataFrame =
    ngramDedupFrom(Tables.documents(spark, sfDir), verifiedPairs(spark, sfDir))

  /** Winnowing fingerprint window (minima over [[WinnowW]] consecutive
    * 16-byte rolling hashes): any shared byte run ≥ 16+[[WinnowW]]-1
    * bytes guarantees a shared fingerprint (Schleimer et al. 2003). */
  val WinnowW = 8
  /** Fingerprints present in more than this many docs are boilerplate
    * (whitespace runs, common phrases): they carry no pair signal AND
    * dropping them is the skew bound — every fingerprint bucket in the
    * pair join has ≤ [[WinnowMaxDf]] members, so no salting is needed. */
  val WinnowMaxDf = 10
  /** Minimum shared fingerprints before a pair is reported. */
  val WinnowMinShared = 2

  /** q58_winnow_pairs — shared-fingerprint detection (the MOSS /
    * plagiarism-attribution shape): winnowed byte-level fingerprints
    * per doc, boilerplate fingerprints dropped by document frequency,
    * then pairs of docs sharing ≥ [[WinnowMinShared]] fingerprints
    * with the shared count. Unlike the token-level MinHash pipeline
    * this catches byte-exact shared RUNS (quotes, copied passages)
    * regardless of surrounding text, with no banding probability.
    *
    * Scale shape: fingerprinting rides the scan (native O(n)
    * rolling-hash + winnow expressions); the only shuffles are the
    * (fp → df) aggregation and the fp-bucket pair join whose bucket
    * size the df filter caps at [[WinnowMaxDf]]. */
  def winnowPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val fps = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(org.apache.spark.sql.graft.native.winnowMin(
          org.apache.spark.sql.graft.native.rollingHash(col("text"), TextAnalysis.RollingWindow),
          WinnowW)).as("fp"))
      .distinct()
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= WinnowMaxDf)
      .select(col("fp"))
    val kept = fps.join(rare, "fp")
    kept.alias("a")
      .join(kept.alias("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
      .orderBy("doc_a", "doc_b")
  }

  /** q63_incremental_dedup — dedup a NEW INGESTION BATCH against the
    * existing corpus, the shape every continuously-fed training
    * pipeline actually runs (full-corpus re-dedup per batch is the
    * naive O(total²) alternative). The graded spec splits the documents
    * table at the 80th id percentile: ids < S are "the corpus", ids ≥ S
    * are "the incoming batch". Each batch doc is labeled
    *
    *   - `exact` — its content hash matches a corpus doc (match_id =
    *     lowest such corpus id);
    *   - `near`  — a verified ≥[[JaccardThreshold]]-Jaccard partner
    *     exists in the corpus (match_id = lowest partner);
    *   - `new`   — otherwise (match_id null).
    *
    * Batch-internal duplicates are deliberately NOT flagged — that is
    * q11/q12's job on the batch itself; this operator answers "is it
    * already in the corpus".
    *
    * Scale shape: the exact arm is a hash equi-join against the
    * pre-aggregated corpus hash table; the near arm REUSES the full
    * skew-bounded minhash pipeline — since verified pairs are ordered
    * (doc_a < doc_b), the corpus×batch cross pairs are exactly those
    * with doc_a < S ≤ doc_b, so incremental dedup is a FILTER over the
    * same bounded candidate machinery, inheriting its cap/salting
    * guarantees. The split point is a broadcast 1-row aggregate;
    * no windows, no driver state.
    *
    * Oracle-parity note: the `near` arm inherits q12's banding recall
    * (a ≥0.8 pair missed by all 32 bands would label `new` here while
    * the exact-Jaccard oracle says `near`) — the documented ~5e-8
    * per-pair false-negative rate, see the recall assumption at
    * the DuckDB oracle's jaccardCte. */
  def incrementalDedup(spark: SparkSession, sfDir: String): DataFrame =
    incrementalDedupFrom(
      Tables.documents(spark, sfDir), verifiedPairs(spark, sfDir))

  /** [[incrementalDedup]] over arbitrary (doc_id, text) docs + verified
    * (doc_a < doc_b) pair frames. */
  private[graft] def incrementalDedupFrom(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val split = docs.agg(expr("(count(1) * 4) div 5").as("s"))
    val d = docs.crossJoin(broadcast(split))
    val corpusHashes = d.filter(col("doc_id") < col("s"))
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("exact_id"))
    val exact = d.filter(col("doc_id") >= col("s"))
      .select(col("doc_id"), md5(col("text")).as("h"))
      .join(corpusHashes, "h")
      .select(col("doc_id"), col("exact_id"))
    val near = pairs.crossJoin(broadcast(split))
      .filter(col("doc_a") < col("s") && col("doc_b") >= col("s"))
      .groupBy(col("doc_b").as("doc_id"))
      .agg(min(col("doc_a")).as("near_id"))
    d.filter(col("doc_id") >= col("s")).select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_id").isNotNull, lit("exact"))
          .when(col("near_id").isNotNull, lit("near"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("exact_id"), col("near_id")).as("match_id"))
      .orderBy("doc_id")
  }

  /** Words per passage block for [[passageDedup]]. */
  val PassageWords = 10

  /** q59_passage_dedup — sub-document (passage-level) deduplication, the
    * RefinedWeb-style pass that document-level dedup cannot do: chunk
    * each doc's token stream into consecutive [[PassageWords]]-word
    * blocks, find blocks shared across documents, and strip every
    * repeated occurrence EXCEPT the canonical one (the lowest-doc_id
    * document keeps its copy), then reassemble the surviving text in
    * order. Output per doc: block counts and the rewritten text (empty
    * when everything was boilerplate).
    *
    * Scale shape: blocks ride the scan (one regexp tokenize, one
    * `sequence` explode, `slice`+`array_join` projections — all
    * codegen); the passage-frequency table is a hash-groupBy on the
    * 16-byte md5 block key (distinct (block, doc) first, so a doc
    * repeating its own passage — q54's territory — doesn't inflate df);
    * the keep/strip decision is an equi-join back on that key; and
    * reassembly is a per-doc aggregation (sort_array over ≤ n_tokens/10
    * in-doc structs — bounded by doc length, never corpus). No windows,
    * no driver state, every shuffle keyed by hash or doc_id. */
  def passageDedup(spark: SparkSession, sfDir: String): DataFrame =
    passageDedupFrom(Tables.documents(spark, sfDir))

  /** [[passageDedup]] over an arbitrary (doc_id, text) frame. */
  private[graft] def passageDedupFrom(docs: DataFrame): DataFrame = {
    val blocks = docs
      .select(col("doc_id"), T.wsTokens(col("text")).as("w"))
      .withColumn("nblk", expr(s"(size(w) + ${PassageWords - 1}) div $PassageWords"))
      // token-less docs drop here on BOTH engines (oracle: range(0,0) is
      // empty); without the guard sequence(0, -1) would count DOWN
      .filter(col("nblk") > 0)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), col("nblk") - 1)).as("idx"))
      .select(col("doc_id"), col("idx"),
        array_join(slice(col("w"), col("idx") * PassageWords + 1,
          lit(PassageWords)), " ").as("btext"))
      .withColumn("bkey", md5(col("btext")))
    val passageDf = blocks.select(col("bkey"), col("doc_id")).distinct()
      .groupBy("bkey")
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("first_doc"))
    blocks.join(passageDf, "bkey")
      .withColumn("keep", col("df") === 1 || col("doc_id") === col("first_doc"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          sort_array(collect_list(when(col("keep"),
            struct(col("idx"), col("btext"))))).getField("btext"),
          " ").as("new_text"))
      .orderBy("doc_id")
  }

  /** q108_minhash_error — sketch accuracy audit: for every verified
    * near-dup pair, the MinHash ESTIMATE of Jaccard (matching signature
    * components / [[NumHashes]]) against the exact shingle Jaccard, with
    * the absolute error. The per-index-family counterpart of q109's
    * recall audit: LSH banding DECIDES from the signatures, so the
    * estimation error on the accepted pairs is the sketch's measured
    * quality — drift here (e.g. after a shingle-size change) is caught
    * before it silently shifts the dedup threshold.
    *
    * Scale shape: the audited docs are SEMI-JOIN PRUNED before any
    * hashing — signatures are computed only for documents appearing in
    * the (capped, skew-bounded) verified pair set, not the corpus; the
    * estimate is one `zip_with` equality count over two 128-long
    * arrays per pair. 9th consumer of the shared pair artifact. */
  def minhashError(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = verifiedPairs(spark, sfDir)
    val pd = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val sigs = minhashSignaturesOf(shingled(spark, sfDir).join(pd, "doc_id"))
    val est = size(filter(
      zip_with(col("sa"), col("sb"), (a, b) => a === b), x => x))
      .cast("double") / lit(NumHashes.toDouble)
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sa")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard"), 6).as("jaccard"),
        est.as("est_jaccard"),
        round(abs(col("jaccard") - est), 6).as("abs_err"))
      .orderBy("doc_a", "doc_b")
  }

  /** q211_bbit_minhash — 1-bit minhash audit (Li & König, CACM 2011):
    * estimate Jaccard from only the PARITY of each of the 128 minhash
    * values — 16 bytes/doc instead of 1 KB — and price the accuracy
    * against the exact Jaccard on the verified pairs, next to q108's
    * full-width estimate. The b-bit estimator
    * Ĵ = 2·(m/128) − 1 (for b=1, dissimilar-pair collision rate 1/2)
    * is the memory path a 100 TB sketch store actually ships; this
    * audit is the evidence for choosing it.
    *
    * Scale shape: q108's bounded audit frame (signatures only for
    * paired docs); parity comparison is per-pair array work on the
    * ≤2·|pairs| signature rows; estimates in exact integer ppm. */
  def bbitMinhash(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = verifiedPairs(spark, sfDir)
    val pd = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val sigs = minhashSignaturesOf(shingled(spark, sfDir).join(pd, "doc_id"))
    val mBits = size(filter(
      zip_with(col("sa"), col("sb"), (a, b) => pmod(a, lit(2)) === pmod(b, lit(2))),
      x => x)).cast("long")
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sa")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
      .withColumn("m_bits", mBits)
      .withColumn("est_ppm",
        greatest(expr(s"2 * m_bits * 1000000 div $NumHashes") - lit(1000000L), lit(0L)))
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard"), 6).as("jaccard"),
        col("m_bits"),
        (col("est_ppm").cast("double") / lit(1e6)).as("est_b1"),
        round(abs(col("jaccard") - col("est_ppm").cast("double") / lit(1e6)), 6)
          .as("abs_err"))
      .orderBy("doc_a", "doc_b")
  }

  /** q226_pair_evidence — the dedup decision's AUDIT RECORD: for every
    * verified pair, the shingle-set sizes, shared-shingle count, exact
    * Jaccard, and how many of the 32 LSH bands caught the pair
    * (identical band signatures) — the evidence row a takedown/appeal
    * process shows for "why was this page removed as a duplicate",
    * and the per-pair telemetry that explains recall (a ≥0.8 pair
    * caught by 1 band of 32 was NEARLY missed — banding luck the
    * S-curve q198 prices in aggregate).
    *
    * Scale shape: q108's bounded audit frame (signatures + shingle
    * sets only for PAIRED docs); band agreement is 32 codegen'd
    * per-band conjunctions over the two signature arrays — per-pair
    * scan-local work, |pairs|-sized output. */
  def pairEvidence(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = verifiedPairs(spark, sfDir)
    val pd = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val audited = shingled(spark, sfDir).join(pd, "doc_id").localCheckpoint()
    val sigs = minhashSignaturesOf(audited)
    val bandsHit: Column = (0 until Bands).map { b =>
      val eq = (0 until RowsPerBand).map { r =>
        element_at(col("sa"), b * RowsPerBand + r + 1) ===
          element_at(col("sb"), b * RowsPerBand + r + 1)
      }.reduce(_ && _)
      when(eq, 1).otherwise(0)
    }.reduce(_ + _).cast("long")
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sa")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
      .join(audited.select(col("doc_id").as("doc_a"), col("sh").as("ha")), "doc_a")
      .join(audited.select(col("doc_id").as("doc_b"), col("sh").as("hb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard"), 6).as("jaccard"),
        size(col("ha")).as("size_a"), size(col("hb")).as("size_b"),
        size(array_intersect(col("ha"), col("hb"))).as("n_shared"),
        bandsHit.as("bands_hit"))
      .orderBy("doc_a", "doc_b")
  }

  /** q135 edit-distance bound for a fuzzy name match. */
  val FuzzyMaxDistance = 2

  /** Vocabulary-size ceiling for the broadcast BNLJ fuzzy pair search;
    * above it the banded equi-join plans instead. 64Ki names × ~40 B is
    * ~2.5 MB broadcast — comfortably inside the default 10 MB
    * threshold with headroom for longer names. */
  val FuzzyBroadcastMaxVocab = 65536L

  /** Session-memoized part-name vocabulary size (the corpusSize
    * pattern): ONE count job per (session, corpus) decides which fuzzy
    * pair-search plan q135/q176 build; bench reps and co-consumers
    * reuse it. */
  private val vocabSizeCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Long]
  private[graft] def partNameVocabSize(spark: SparkSession, sfDir: String): Long = {
    vocabSizeCache.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    vocabSizeCache.getOrElseUpdate((spark, sfDir),
      Tables.part(spark, sfDir).select(col("p_name")).distinct().count())
  }

  /** Fuzzy pair search over a name VOCABULARY — the one primitive
    * behind q135 (linkage pairs) and q176 (entity resolution): all
    * unordered pairs (name_a < name_b) within Levenshtein distance
    * [[FuzzyMaxDistance]], carrying one payload column per side.
    *
    * Two plans, ONE output (FuzzyBandingSpec proves pair-set
    * equality; the choice is pure physical strategy):
    *
    *  - `banded = false` (vocabulary fits broadcast): broadcast
    *    nested-loop join with the cheap |len(a)−len(b)| ≤ d metric
    *    pre-filter ahead of the DP `levenshtein` verify — O(V²)
    *    length compares but zero shuffles, the right call for catalog
    *    vocabularies.
    *
    *  - `banded = true` (vocabulary outgrew the broadcast threshold —
    *    the q74 binned-join move): names hash-join on a LENGTH BIN
    *    key of width w = d+1. Since a qualifying pair satisfies
    *    |len(a)−len(b)| ≤ d < w, its bins differ by at most 1, so the
    *    left side exploding to probes {bin−1, bin, bin+1} meets every
    *    qualifying right name on an EQUI key — a shuffled hash join
    *    whose per-bin work is (names in 3 adjacent bins)², not V²;
    *    each unordered pair joins on exactly one probe (the right's
    *    single bin), so no dedup stage is needed. Length skew (every
    *    name the same length) degrades to the BNLJ's compare count
    *    but never worse, and the bin key composes with any further
    *    blocking key (e.g. a q335 sort-key block) multiplicatively.
    *
    * Input: (name, pl); output: (name_a, name_b, distance, pl_a,
    * pl_b). Levenshtein is an integer metric — identical in both
    * engines, nothing to round. */
  private[graft] def fuzzyVocabPairs(names: DataFrame, banded: Boolean): DataFrame =
    fuzzyVocabCandidates(names, banded)
      .withColumn("distance", levenshtein(col("name_a"), col("name_b")))
      .filter(col("distance") <= FuzzyMaxDistance)
      .select(col("name_a"), col("name_b"),
        col("distance").cast("int").as("distance"), col("pl_a"), col("pl_b"))

  /** The blocking stage of [[fuzzyVocabPairs]] alone: all unordered
    * name pairs with |len(a)−len(b)| ≤ [[FuzzyMaxDistance]], BNLJ or
    * length-banded per the gate, BEFORE any metric verify — shared by
    * every edit-metric verifier whose qualifying pairs satisfy the
    * length bound (levenshtein ≤ d, and true Damerau-Levenshtein ≤ d:
    * insert/delete shift length by 1, substitute/transpose by 0, so
    * the pigeonhole argument is identical). */
  private[graft] def fuzzyVocabCandidates(names: DataFrame, banded: Boolean): DataFrame = {
    val a = names.select(col("name").as("name_a"), col("pl").as("pl_a"))
    val b = names.select(col("name").as("name_b"), col("pl").as("pl_b"))
    val cand =
      if (!banded) a.crossJoin(broadcast(b))
      else {
        val w = FuzzyMaxDistance + 1
        def bin(c: Column): Column = floor(length(c).cast("long") / lit(w))
        a.withColumn("bin", explode(array(
            bin(col("name_a")) - 1, bin(col("name_a")), bin(col("name_a")) + 1)))
          .join(b.withColumn("bin", bin(col("name_b"))), "bin")
          .drop("bin")
      }
    cand
      .filter(col("name_a") < col("name_b"))
      .filter(abs(length(col("name_a")) - length(col("name_b"))) <= FuzzyMaxDistance)
  }

  /** q135_fuzzy_names — RECORD LINKAGE over the catalog's name
    * vocabulary: pairs of distinct part names within Levenshtein
    * distance [[FuzzyMaxDistance]], each carrying its usage count —
    * the entity-resolution primitive ("are 'red widgit' and 'red
    * widget' the same product?") that string-EQUALITY dedup (q11)
    * cannot see. Operates on the DISTINCT-name domain with
    * multiplicities, the standard linkage move: catalogs have a name
    * VOCABULARY ≪ the corpus (64 names across 2,000 parts here), so
    * the pair search runs on the vocabulary like q70's vocab ranking —
    * never on corpus rows.
    *
    * Scale shape: the corpus collapses to (name, n_parts) via one
    * partial-aggregable groupBy; the pair search is
    * [[fuzzyVocabPairs]] — a broadcast BNLJ with the length
    * pre-filter while the vocabulary fits [[FuzzyBroadcastMaxVocab]]
    * (one memoized count job decides), switching to the length-banded
    * hash join (the q74 binned-join move) when it outgrows broadcast;
    * FuzzyBandingSpec proves the two plans emit the identical pair
    * set. Levenshtein is an integer metric — identical in both
    * engines, nothing to round. */
  def fuzzyNames(spark: SparkSession, sfDir: String): DataFrame = {
    val names = Tables.part(spark, sfDir)
      .groupBy(col("p_name")).agg(count(lit(1)).as("n_parts"))
      .select(col("p_name").as("name"), col("n_parts").as("pl"))
    val banded = partNameVocabSize(spark, sfDir) > FuzzyBroadcastMaxVocab
    fuzzyVocabPairs(names, banded)
      .select(col("name_a"), col("name_b"), col("distance"),
        col("pl_a").as("n_parts_a"), col("pl_b").as("n_parts_b"))
      .orderBy("name_a", "name_b")
  }

  /** q358_string_similarity — the MULTI-METRIC linkage verify over
    * q135's blocked candidate set: every vocabulary pair within TRUE
    * Damerau-Levenshtein distance [[FuzzyMaxDistance]], scored by all
    * three classic record-linkage metrics side by side — Levenshtein
    * (built-in), true Damerau-Levenshtein and Jaro-Winkler (both
    * native codegen expressions, `GraftExpressions`). The DL filter
    * widens q135's pair set to transposition typos ("form"/"from")
    * that plain edit distance prices at 2, and `lev − dl` exposes
    * exactly which pairs the transposition edit rescued; JW rides
    * along as the prefix-weighted score a linkage rule would threshold
    * (Winkler's census rule: same block, JW ≥ 0.94 ⇒ match).
    *
    * Grading: DL is an integer metric; JW is pinned BIT-compatible
    * with DuckDB's implementation (see [[JaroWinkler]]'s fuzz note),
    * so the doubles hash-match, not just round-match. The `lev`
    * column is Spark's built-in levenshtein, which counts CODE
    * POINTS; DuckDB's counts BYTES — they agree only because part
    * names are ASCII (an invariant of the TPC-H generator, asserted
    * here so a non-ASCII corpus fails loudly instead of silently
    * hash-mismatching; the native dl/jw expressions are byte-level by
    * construction and never diverge).
    *
    * Scale shape: corpus → name vocabulary via one partial-aggregable
    * groupBy; candidates via [[fuzzyVocabCandidates]] (broadcast BNLJ
    * at catalog scale, the length-banded hash join past
    * [[FuzzyBroadcastMaxVocab]] — LOSSLESS for a DL ≤ d filter since
    * every DL edit moves length by ≤ 1); both native metrics run
    * inside whole-stage codegen on the blocked pairs, never V². */
  def stringSimilarity(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.graft.native
    val names = Tables.part(spark, sfDir)
      .groupBy(col("p_name")).agg(count(lit(1)).as("n_parts"))
      .select(col("p_name").as("name"), col("n_parts").as("pl"))
    val banded = partNameVocabSize(spark, sfDir) > FuzzyBroadcastMaxVocab
    fuzzyVocabCandidates(names, banded)
      .withColumn("dl",
        native.damerauLevenshtein(col("name_a"), col("name_b")))
      .filter(col("dl") <= FuzzyMaxDistance)
      .select(col("name_a"), col("name_b"),
        // loud ASCII guard: built-in levenshtein is code-point-based,
        // the DuckDB oracle's is byte-based — equal only on ASCII
        when(octet_length(col("name_a")) === length(col("name_a"))
            && octet_length(col("name_b")) === length(col("name_b")),
          levenshtein(col("name_a"), col("name_b")))
          .otherwise(raise_error(concat(
            lit("q358: non-ASCII name breaks the lev oracle contract: "),
            col("name_a"), lit(" / "), col("name_b")))).as("lev"),
        col("dl"),
        native.jaroWinkler(col("name_a"), col("name_b")).as("jw"))
      .orderBy("name_a", "name_b")
  }

  /** q335 neighborhood width (ranks compared past each name). */
  val SnmWindow = 3

  /** q335_snm_blocking — sorted-neighborhood entity-resolution
    * blocking (Hernández & Stolfo 1995) evaluated against q135's
    * exhaustive truth: sort the name vocabulary, compare each name
    * only to its next [[SnmWindow]] neighbors, verify with the same
    * levenshtein threshold, and report what fraction of the true
    * fuzzy matches the cheap blocker recovers vs how many candidate
    * comparisons it saved. The third blocking family in the engine
    * (hash/length blocks in q135, LSH in q12) — and the measurement
    * that decides between them (SNM wins when typos preserve
    * prefixes; the recall number says whether they do here).
    *
    * Determinism: ranks are lexicographic; candidate generation is
    * rank arithmetic; counts exact.
    *
    * Scale shape: one vocabulary aggregate, one rank window over the
    * name-vocabulary domain (q176's whitelisted class), candidate
    * pairs via [[SnmWindow]] exploded-offset EQUI-joins on rank (no
    * range join); the truth side is q135's length-blocked vocabulary
    * pair set; 1-row output. */
  def snmBlocking(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // multi-pass SNM: one pass sorted by the name, one by its REVERSAL
    // (suffix sort) — single-key SNM misses variants that differ in
    // their first token (measured recall 0 here: these names vary the
    // FIRST word), which is exactly why Hernández-Stolfo prescribe
    // multiple passes with independent sort keys
    val names = Tables.part(spark, sfDir)
      .groupBy(col("p_name")).agg(count(lit(1)).as("n_parts"))
      .withColumn("rk1",
        row_number().over(Window.orderBy(col("p_name"))).cast("long"))
      .withColumn("rk2",
        row_number().over(Window.orderBy(reverse(col("p_name")))).cast("long"))
      .localCheckpoint()
    def passCand(rk: String): DataFrame =
      names.select(col("p_name").as("na"), col(rk).as("ra"))
        .withColumn("i", explode(array((1 to SnmWindow).map(lit(_)): _*)))
        .join(names.select(col("p_name").as("nb"), col(rk).as("rb")),
          col("rb") === col("ra") + col("i"))
        .select(least(col("na"), col("nb")).as("name_a"),
          greatest(col("na"), col("nb")).as("name_b"))
    val cand = passCand("rk1").unionAll(passCand("rk2")).distinct()
      .localCheckpoint()
    val matches = cand
      .filter(levenshtein(col("name_a"), col("name_b")) <= FuzzyMaxDistance)
    val truth = fuzzyNames(spark, sfDir).select(col("name_a"), col("name_b"))
    val nn = names.agg(count(lit(1)).as("n_names"))
    nn.crossJoin(broadcast(cand.agg(count(lit(1)).as("n_candidates"))))
      .crossJoin(broadcast(matches.agg(count(lit(1)).as("n_matches"))))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth_matches"))))
      .select(col("n_names"), lit(SnmWindow.toLong).as("window"),
        col("n_candidates"), col("n_matches"), col("n_truth_matches"),
        expr("n_matches * 1000000 div n_truth_matches").as("recall_ppm"),
        expr("1000000 - n_candidates * 1000000 div (n_names * (n_names - 1) div 2)")
          .as("candidate_savings_ppm"))
  }

  /** Connected-component labels (node, cluster_id = component-min id)
    * over a fuzzy-match edge list — the q176 CC primitive with BOTH
    * physical plans behind one label law:
    *
    *  - `distributed = false`: collect the (vocabulary-bounded) edges
    *    and run path-compressed union-find on the driver; union-by-min
    *    keeps every root the component min. O(E α(E)) with zero jobs
    *    beyond the collect — the right call while edges are
    *    codebook-scale.
    *  - `distributed = true`: the [[connectedComponents]] large-star/
    *    small-star loop — pure shuffle primitives, O(log n) rounds,
    *    nothing driver-resident — for edge lists past driver scale.
    *
    * Both emit (node, min-id of its component) covering every NON-ROOT
    * node incident to an edge (roots may be absent from either side —
    * consumers left-join and coalesce to the node's own id, under
    * which the two labelings are identical; GoldenCcSpec asserts the
    * coalesced assignments match), so the switch is invisible to
    * consumers. */
  private[graft] def fuzzyCcLabels(
      spark: SparkSession, pairs: DataFrame, distributed: Boolean): DataFrame = {
    import spark.implicits._
    if (distributed) {
      val (labels, _) = connectedComponents(pairs)
      labels.select(col("doc_id").as("nid"), col("cluster_id"))
    } else {
      val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      // iterative two-pass find (walk to root, then compress): union-by-min
      // has no rank balancing, so an adversarial edge order can build a
      // linear parent chain up to the vocabulary bound — recursion there
      // would be a driver StackOverflowError
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (c != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.foreach { case (u, v) =>
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
      }
      // snapshot the key set before the final find pass: compression
      // rewrites values, and iterating a map while mutating it is UB
      parent.keys.toSeq.map(n => (n, find(n))).toDF("nid", "cluster_id")
    }
  }

  /** q176_golden_record — entity-resolution COMPLETION over the q135
    * linkage pairs: connected components over the fuzzy-match graph
    * (levenshtein ≤ [[FuzzyMaxDistance]] on the name vocabulary), then
    * one GOLDEN RECORD per entity cluster — the survivorship step that
    * turns "these records match" into "this is the master record" (the
    * MDM merge/purge operation; "old rod"/"red rod"/"new rod"/"cold
    * rod" resolve to one entity whose canonical name is the most-used
    * variant). Reports per cluster: the canonical key (min name), the
    * golden name (max usage, ties to the earlier name), total usage
    * mass, and the sorted member list.
    *
    * Determinism: names get vocabulary-rank ids (lexicographic
    * row_number), so min-id CC roots ARE min-name roots; golden pick =
    * max(struct(n_parts, −nid, name)) — a total order (nid unique), no
    * arg-max tie ambiguity anywhere.
    *
    * Scale shape: the corpus collapses to the name VOCABULARY before
    * anything else (one partial-aggregable groupBy); the rank window
    * and pair search ([[fuzzyVocabPairs]] — BNLJ at catalog scale,
    * the length-banded hash join past [[FuzzyBroadcastMaxVocab]])
    * run on vocabulary-sized frames — corpus rows are
    * touched exactly once. CC is plan-switched on the SAME gate as the
    * pair search (one memoized vocabulary count): at catalog scale the
    * matched-pair set is vocabulary-bounded (the codebook-scale
    * driver-state precedent), so path-compressed union-find over the
    * collected pair list beats the distributed star-contraction loop's
    * per-round job latency by an order of magnitude; past
    * [[FuzzyBroadcastMaxVocab]] the edge list is no longer presumed
    * driver-sized and the SAME label law runs distributed on
    * [[connectedComponents]] (large-star/small-star, min-id roots) —
    * [[fuzzyCcLabels]] holds both plans, GoldenCcSpec proves they emit
    * the identical assignment on the test corpus. */
  def goldenRecords(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val names = Tables.part(spark, sfDir)
      .groupBy(col("p_name")).agg(count(lit(1)).as("n_parts"))
    val ids = names.select(col("p_name"), col("n_parts"),
      row_number().over(Window.orderBy(col("p_name"))).cast("long").as("nid"))
    val banded = partNameVocabSize(spark, sfDir) > FuzzyBroadcastMaxVocab
    val pairs = fuzzyVocabPairs(
        ids.select(col("p_name").as("name"), col("nid").as("pl")), banded)
      .select(col("pl_a").as("u"), col("pl_b").as("v"))
    val cc = fuzzyCcLabels(spark, pairs, distributed = banded)
    // labels are edge-node-bounded: broadcast while the vocabulary is
    // broadcast-scale, shuffled hash join once it isn't (same gate)
    val labeled = if (banded) ids.join(cc, Seq("nid"), "left")
                  else ids.join(broadcast(cc), Seq("nid"), "left")
    labeled
      .select(col("p_name"), col("n_parts"), col("nid"),
        coalesce(col("cluster_id"), col("nid")).as("cid"))
      .groupBy(col("cid"))
      .agg(min(col("p_name")).as("cluster_key"),
        count(lit(1)).as("n_names"),
        sum(col("n_parts")).as("total_parts"),
        max(struct(col("n_parts").as("np"), (-col("nid")).as("ng"),
          col("p_name").as("nm"))).as("g"),
        array_join(sort_array(collect_list(col("p_name"))), "|").as("members"))
      .filter(col("n_names") >= 2)
      .select(col("cluster_key"), col("n_names"), col("total_parts"),
        col("g.nm").as("golden_name"), col("members"))
      .orderBy("cluster_key")
  }

  /** q181 containment floor: ≥ 90% of the contained doc's shingles
    * must appear in the container. */
  val ContainmentThreshold = 0.9

  /** q181_containment_dedup — ASYMMETRIC near-duplication: doc A is
    * contained in doc B when ≥ [[ContainmentThreshold]] of A's
    * 3-shingles appear in B (Broder's containment coefficient
    * |A∩B|/|A|). This is the quote/excerpt/boilerplate-wrapper case
    * the whole Jaccard family (q12/q13/q14) STRUCTURALLY misses: a
    * page embedding a short document whole has tiny Jaccard (the union
    * is dominated by B) but containment 1.0 — and minhash banding,
    * tuned to resemblance, won't even surface the pair as a candidate.
    *
    * Blocking is the PREFIX FILTER, and unlike LSH it is LOSSLESS: if
    * at most ⌊(1−t)·|A|⌋ of A's shingles may miss B, then among any
    * ⌊(1−t)·|A|⌋+1 of them at least one is in B (pigeonhole) — so
    * probing the posting lists of A's ⌊|A|/10⌋+1 RAREST shingles
    * (global df ascending, the choice that minimizes candidate fan-out)
    * finds every qualifying pair by construction. The recall contract
    * is a theorem, not a tuned probability — which is why the exact
    * all-pairs oracle can hash-match it.
    *
    * Determinism: shingle sets, df ranks (tie → shingle asc), sizes and
    * intersections are exact integers; the single containment division
    * floors to 1e-6 on an identical IEEE tree (the q171 rule).
    *
    * Scale shape: df is one partial-aggregable shingle-domain
    * aggregate; the prefix rank is a doc-partitioned window over the
    * (doc, shingle) frame; the candidate probe is ONE keyed join from
    * the ~|A|/10-sized prefixes into the posting lists (rare shingles ⇒
    * short postings — the df-ascending prefix is also the skew guard);
    * verification joins the two shingle-set arrays per surviving
    * candidate. */
  def containmentDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the shingle frame feeds FOUR plan references (explode ×2, two
    // verify sides) — cut the regexp+shingle subtree off once (the q31
    // multi-reference rule) or the scan re-tokenizes per reference
    val sets = shingled(spark, sfDir).localCheckpoint()
    // doc sizes ride the exploded frame scan-locally — no sizes join
    val ex = sets.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("s"))
    val dfreq = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df").asc, col("s").asc)
    val prefix = ex.join(dfreq, "s")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= expr("n div 10 + 1"))
      .select(col("doc_id").as("cand_a"), col("n").as("na"), col("s"))
    // SIZE FILTER at candidate generation (lossless: containment ≥ 0.9
    // needs |A∩B| ≥ 0.9|A| − ε and |A∩B| ≤ |B|, so |B| ≥ 0.89|A| is a
    // safe necessary condition even after the 1e-6 rounding law) —
    // measured 133k → 82k pairs before the array-carrying verify, whose
    // shuffle of ~1.5 KB shingle arrays per pair is the operator's
    // dominant cost; both verify joins are sort-free shuffled-hash
    val cands = prefix
      .join(ex.select(col("doc_id").as("cand_b"), col("n").as("nb"), col("s")), "s")
      .filter(col("cand_a") =!= col("cand_b")
        && col("nb") * 100 >= col("na") * 89)
      .select(col("cand_a"), col("cand_b")).distinct()
    cands
      .join(sets.select(col("doc_id").as("cand_a"), col("sh").as("sha"))
        .hint("shuffle_hash"), "cand_a")
      .join(sets.select(col("doc_id").as("cand_b"), col("sh").as("shb"))
        .hint("shuffle_hash"), "cand_b")
      .select(col("cand_a").as("doc_a"), col("cand_b").as("doc_b"),
        size(col("sha")).cast("long").as("n_a"),
        size(array_intersect(col("sha"), col("shb"))).cast("long").as("n_shared"))
      .withColumn("containment",
        floor(col("n_shared").cast("double") / col("n_a").cast("double")
          * lit(1e6) + lit(0.5)) / lit(1e6))
      .filter(col("containment") >= ContainmentThreshold)
      .orderBy("doc_a", "doc_b")
  }

  /** q165 threshold grid (all ≥ [[JaccardThreshold]] — the artifact's
    * own floor, so the sweep reads the stored pairs, never re-mines). */
  val SensitivityThresholds: Seq[Double] = Seq(0.8, 0.85, 0.9, 0.95, 1.0)

  /** q165_dedup_sensitivity — the threshold-sensitivity sweep every
    * dedup rollout runs before picking its cut: at each candidate
    * threshold, how many near-dup pairs survive and how many documents
    * they touch — the "how aggressive can we deduplicate before we eat
    * real data" curve (pairs collapse fast above 0.9 → safe; a flat
    * curve means the corpus has a continuum of near-dups and the
    * threshold choice is load-bearing).
    *
    * Reads ONLY the memoized verified-pair artifact (thresholds ≥ the
    * artifact's mining floor by construction): the sweep costs one
    * pass over |pairs| rows per threshold — independent of corpus
    * size, which is how a 100 TB deployment tunes without re-mining.
    * Comparisons are on the stored 1e-6-rounded jaccard, so the grid
    * IS the tie law cross-engine. */
  def dedupSensitivity(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = verifiedPairs(spark, sfDir)
    val ths = SensitivityThresholds.map(t => struct(lit(t).as("th"))).toArray
    val swept = pairs.select(col("doc_a"), col("doc_b"), col("jaccard"),
      explode(array(ths: _*)).as("p"))
      .filter(col("jaccard") >= col("p.th"))
      .select(col("p.th").as("threshold"), col("doc_a"), col("doc_b"))
    val nPairs = swept.groupBy(col("threshold")).agg(count(lit(1)).as("n_pairs"))
    val nDocs = swept
      .select(col("threshold"), explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .groupBy(col("threshold")).agg(countDistinct(col("d")).as("n_docs_affected"))
    val tot = Tables.documents(spark, sfDir).agg(count(lit(1)).as("n_corpus"))
    import spark.implicits._
    val grid = SensitivityThresholds.toDF("threshold")
    grid.join(nPairs, Seq("threshold"), "left")
      .join(nDocs, Seq("threshold"), "left")
      .crossJoin(broadcast(tot))
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_affected"), lit(0L)).as("n_docs_affected"),
        (floor(coalesce(col("n_docs_affected"), lit(0L)).cast("double")
          / col("n_corpus").cast("double") * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("affected_share"))
      .orderBy("threshold")
  }

  /** q190 query slice: every 50th doc_id (the q51 convention). */
  val SearchQueryMod = 50

  /** q190_simhash_search — near-duplicate LOOKUP (query → corpus), the
    * search form of q13's pair mining: for each query document
    * (doc_id ≡ 0 mod [[SearchQueryMod]]), every corpus document within
    * hamming ≤ [[HammingMax]] of its simhash. This is the ONLINE
    * membership check an ingestion gate runs — "is this incoming page
    * a near-dup of anything we already hold?" — where q13 is the
    * offline batch sweep; the multi-table pigeonhole trick (Manku et
    * al., WWW 2007: hamming ≤3 over 4 12-bit bands ⇒ ≥1 identical
    * band) makes recall EXACT, so the all-pairs oracle hash-matches
    * the banded plan.
    *
    * Scale shape: the corpus band table is the persisted index (4 rows
    * per doc); a query batch probes it with a band-keyed equi-join —
    * per query, work ∝ its band-bucket occupancy, never corpus size;
    * the hamming verify is a scan-local xor/popcount on the joined
    * signatures. Same skew story as q13 (band values spread by
    * construction). */
  def simhashSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val sims = simhashes(spark, sfDir)
    val bandStructs: Seq[Column] = (0 until SimhashBands).map { j =>
      struct(lit(j).as("band_id"),
        shiftright(col("simhash"), 12 * j).bitwiseAND(lit(0xFFFL)).as("bv"))
    }
    val buckets = sims
      .select(col("doc_id"), col("simhash"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("simhash"),
        col("bs.band_id").as("band_id"), col("bs.bv").as("bv"))
    val queries = buckets.filter(pmod(col("doc_id"), lit(SearchQueryMod)) === 0)
    queries.alias("q")
      .join(buckets.alias("c"),
        col("q.band_id") === col("c.band_id") && col("q.bv") === col("c.bv")
          && col("q.doc_id") =!= col("c.doc_id"))
      .select(col("q.doc_id").as("query_id"), col("c.doc_id").as("match_id"),
        bit_count(col("q.simhash").bitwiseXOR(col("c.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= HammingMax)
      .orderBy("query_id", "match_id")
  }

  /** q198 band configurations to sweep: (bands, rowsPerBand) with
    * bands·rows = [[NumHashes]]. */
  val PlannerConfigs: Seq[(Int, Int)] = Seq((64, 2), (32, 4), (16, 8))

  /** q198_band_planner — the EMPIRICAL LSH S-curve sweep: candidate
    * volume, surviving true pairs, precision and recall for three
    * banding layouts of the SAME 128-hash signature (64×2, 32×4,
    * 16×8) — the measurement that picks b×r before a 100 TB dedup
    * rollout. The theory curve P(cand) = 1−(1−s^r)^b says more bands ⇒
    * higher recall and more junk candidates; this query prices both
    * sides on the actual corpus (recall vs the verified-pair truth,
    * precision vs the exact-Jaccard verify the candidates then pay),
    * where q165 sweeps the VERIFY threshold after candidates are fixed.
    *
    * Parity: candidates here bucket on the exact band-signature STRING
    * (concat of the band's hash values), not the production xxhash64
    * key — the planner counts true signature collisions, so a
    * cross-band hash collision may not perturb the measurement (in
    * q12's pipeline such a collision is harmless because the verify
    * filters it; here the COUNT is the product).
    *
    * Scale shape: one signature build (the q12 aggregate, paid once —
    * the sweep re-BANDS the signature table, it never re-hashes the
    * corpus), three skew-bounded bucket self-joins, three
    * candidate-verify joins against the shingle sets, and a 3-row
    * union; n_qualifying reads the memoized pair artifact. */
  def bandPlanner(spark: SparkSession, sfDir: String): DataFrame = {
    // ONE tokenize+shingle pass (previously two: sigs re-derived
    // shingled internally while sets checkpointed it separately), and
    // the 128-minhash aggregate reads the spread checkpoint instead of
    // a single-task scan (Tables.spread, guide §2.5); signatures over
    // the same rows are identical, so the sweep's counts are unchanged.
    val sets = Tables.spread(spark, shingled(spark, sfDir)).localCheckpoint()
    val sigs = minhashSignaturesOf(sets).localCheckpoint()
    val qual = verifiedPairs(spark, sfDir).agg(count(lit(1)).as("n_qualifying"))
    val perConfig = PlannerConfigs.map { case (b, r) =>
      val bandKeys: Seq[Column] = (0 until b).map { band =>
        concat_ws("_", lit(band) +: (0 until r)
          .map(j => element_at(col("sig"), band * r + j + 1)): _*)
      }
      val buckets = sigs.select(col("doc_id"), explode(array(bandKeys: _*)).as("bk"))
      CandidatePairs.boundedSelfJoin(buckets, Seq("bk"), "doc_id", BucketCap)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
        .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
        .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
        .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
        .withColumn("jaccard",
          col("inter").cast("double")
            / (size(col("sha")) + size(col("shb")) - col("inter")))
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("jaccard") >= JaccardThreshold, 1L).otherwise(0L)).as("n_true"))
        .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
          col("n_candidates"), col("n_true"))
    }
    perConfig.reduce(_.unionAll(_))
      .crossJoin(broadcast(qual))
      .select(col("bands"), col("rows_per_band"), col("n_candidates"),
        col("n_true"), col("n_qualifying"),
        expr("n_true * 1000000 div n_candidates").as("precision_ppm"),
        expr("n_true * 1000000 div n_qualifying").as("recall_ppm"))
      .orderBy(col("bands").desc)
  }

  /** q238_detector_venn — the near-dup detector OVERLAP census: every
    * unordered pair caught by at least one of the three graded
    * detector families — MinHash-verified Jaccard ≥ 0.8 (q12,
    * order-sensitive token resemblance), SimHash Hamming ≤ 3 (q13,
    * bit-level multiset similarity), shingle containment ≥ 0.9 in the
    * max direction (q181, the quote/excerpt case) — bucketed by WHICH
    * detectors caught it. The Venn answers the rollout question the
    * per-detector audits (q108/q211/q226/q198) cannot: are the
    * families redundant (drop one, save a pass) or complementary
    * (each unique region is recall the others would lose)? On the
    * graded corpus the containment-only region is non-empty by
    * construction — exactly the pairs the Jaccard family structurally
    * misses.
    *
    * Determinism: each member set is its detector's exact graded
    * output (integer hammings, 1e-6-floored ratios); the Venn is set
    * algebra over (a, b) keys.
    *
    * Scale shape: reads the three memoized detector pair ARTIFACTS
    * ([[verifiedPairs]], [[verifiedSimhashPairs]],
    * [[verifiedContainmentPairs]]) — the Venn itself never re-runs a
    * detector; the union/flag joins are keyed by the pair — nothing
    * wider than the detector outputs shuffles; the output is the
    * ≤7-region census. */
  def detectorVenn(spark: SparkSession, sfDir: String): DataFrame = {
    val m = verifiedPairs(spark, sfDir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    // each detector output feeds TWO plan references (the union and its
    // flag join) — all three are memoized checkpointed artifacts
    val s = verifiedSimhashPairs(spark, sfDir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    // m and s are shuffle-free projections over their checkpoints, but
    // c adds a distinct (containment pairs are directed) — checkpoint
    // it so the dedup exchange runs once, not once per plan reference
    // (the q31 multi-reference rule)
    val c = verifiedContainmentPairs(spark, sfDir)
      .select(least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"))
      .distinct().localCheckpoint()
    val all = m.unionAll(s).unionAll(c).distinct()
    all
      .join(m.withColumn("im", lit(true)), Seq("a", "b"), "left")
      .join(s.withColumn("is", lit(true)), Seq("a", "b"), "left")
      .join(c.withColumn("ic", lit(true)), Seq("a", "b"), "left")
      .select(coalesce(col("im"), lit(false)).as("in_minhash"),
        coalesce(col("is"), lit(false)).as("in_simhash"),
        coalesce(col("ic"), lit(false)).as("in_containment"))
      .groupBy(col("in_minhash"), col("in_simhash"), col("in_containment"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("in_minhash", "in_simhash", "in_containment")
  }

  /** q279 stride sample + integer match-count thresholds
    * (⌈t·128⌉ for t = 0.5, 0.6, 0.7, 0.8, 0.9). */
  val RocStrides = Seq(1L, 3L, 17L)
  val RocThresholds = Seq(64, 77, 90, 103, 116)

  /** q279_minhash_roc — MinHash classifier ROC over a deterministic
    * pair sample: for each signature-match threshold m ∈
    * [[RocThresholds]], the TP/FP/FN/TN census of "≥ m of 128 hashes
    * agree" against the EXACT Jaccard ≥ 0.8 ground truth, with
    * TPR/FPR/precision in ppm — the operating-curve evidence behind
    * the q12/q198 banding choices (q108 measures the ESTIMATOR's
    * error on known positives; an ROC needs negatives too, and an
    * all-pairs sweep is exactly the O(n²) this engine exists to
    * avoid). The sample is id-stride pairs (doc, doc+s for three
    * strides) — deterministic, id-uncorrelated with content, and
    * linear in the corpus.
    *
    * Determinism: match counts are exact integers; ground truth uses
    * the same double division both engines (the q12 jaccard
    * convention); censuses are integer ppm with NULL precision where
    * a threshold admits nothing.
    *
    * Scale shape: signatures via the native minhash aggregate (one
    * keyed pass); the pair sample is 3n rows built by keyed
    * self-joins on doc_id+stride (no candidate generation, no
    * windows); per-pair intersection/signature comparison is in-row
    * array work (lesson 53: pair-local verify stays inside the row);
    * the census aggregates 3n×5 flag rows onto 5 output rows
    * map-side. */
  def minhashRoc(spark: SparkSession, sfDir: String): DataFrame = {
    // spread the LOCAL shingle copy (guide §2.5): this query re-hashes
    // the corpus per run (non-memoized checkpoint) and the chain is
    // scan-side heavy; interleaved A/B 3.3 -> 2.4 s. The shared
    // [[shingled]] stays unspread (see its note).
    val sh = Tables.spread(spark, shingled(spark, sfDir)).localCheckpoint()
    val feats = sh.join(minhashSignaturesOf(sh), "doc_id").localCheckpoint()
    val left = RocStrides.map { s =>
      feats.select(col("doc_id").as("doc_a"),
        (col("doc_id") + lit(s)).as("doc_b"),
        col("sh").as("sha"), col("sig").as("siga"))
    }.reduce(_ unionAll _)
    val pairs = left.join(
      feats.select(col("doc_id").as("doc_b"), col("sh").as("shb"),
        col("sig").as("sigb")), "doc_b")
    val scored = pairs.select(
      size(filter(zip_with(col("siga"), col("sigb"), (a, b) => a === b),
        x => x)).cast("long").as("m"),
      size(array_intersect(col("sha"), col("shb"))).cast("long").as("ni"),
      (size(col("sha")) + size(col("shb"))).cast("long").as("nab"))
      .select(col("m"),
        (col("ni").cast("double")
          / (col("nab") - col("ni")).cast("double") >= lit(JaccardThreshold))
          .as("truth"))
    val flagged = scored.select(col("m"), col("truth"),
      explode(array(RocThresholds.map(lit(_)): _*)).as("m_min"))
    flagged.groupBy(col("m_min"))
      .agg(sum(when(col("m") >= col("m_min") && col("truth"), 1L)
        .otherwise(0L)).as("tp"),
        sum(when(col("m") >= col("m_min") && !col("truth"), 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("m") < col("m_min") && col("truth"), 1L)
          .otherwise(0L)).as("fn"),
        sum(when(col("m") < col("m_min") && !col("truth"), 1L)
          .otherwise(0L)).as("tn"))
      .select(col("m_min"), col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fn") > 0,
          expr("tp * 1000000 div (tp + fn)")).as("tpr_ppm"),
        when(col("fp") + col("tn") > 0,
          expr("fp * 1000000 div (fp + tn)")).as("fpr_ppm"),
        when(col("tp") + col("fp") > 0,
          expr("tp * 1000000 div (tp + fp)")).as("precision_ppm"))
      .orderBy("m_min")
  }

  /** q276_split_leakage — train/val/test contamination census: how
    * many EXACT-duplicate and NEAR-duplicate (Jaccard ≥ 0.8) pairs
    * cross each unordered split-pair boundary of q99's deterministic
    * split — the leakage audit a model evaluation stands on (a test
    * doc with a train near-twin inflates every metric; q51 screens
    * against an EXTERNAL benchmark, this audits the corpus's OWN
    * held-out split; q118's bloom arm is the probabilistic fast
    * path). Same-split rows ship as contrast — cross-split near-dup
    * mass comparable to within-split mass is exactly what "the split
    * ignores the dup structure" looks like (and why dedup-THEN-split,
    * q14/q31's output, is the fix).
    *
    * Determinism: splits are q99's scan-local md5 per-mille rule
    * recomputed from doc_id alone (no join with the sampling query);
    * near pairs are the verified artifact; exact pairs are COUNTED
    * from per-hash split tallies (c_train·c_val etc.), never
    * materialized.
    *
    * Scale shape: near arm = one scan-local split projection over the
    * pair artifact (10th consumer) + a ≤6-row aggregate; exact arm =
    * one content-hash aggregate with three conditional counts, pair
    * combinatorics per hash group scan-local, same ≤6-row roll-up. A
    * flooded dup group costs integer multiplication, not C(n,2)
    * rows. */
  def splitLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    def splitOf(id: Column): Column = {
      val bucket = pmod(H.md5Int28(concat(lit("spl_"), id.cast("string"))),
        lit(1000))
      when(bucket < Sampling.TrainPerMille, lit("train"))
        .when(bucket < Sampling.ValPerMille, lit("val"))
        .otherwise(lit("test"))
    }
    val near = verifiedPairs(spark, sfDir)
      .select(splitOf(col("doc_a")).as("sa0"), splitOf(col("doc_b")).as("sb0"))
      .select(least(col("sa0"), col("sb0")).as("split_a"),
        greatest(col("sa0"), col("sb0")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_near_pairs"))
    val exactGroups = Tables.documents(spark, sfDir)
      .select(md5(col("text")).as("h"), splitOf(col("doc_id")).as("s"))
      .groupBy(col("h"))
      .agg(sum(when(col("s") === "train", 1L).otherwise(0L)).as("ctr"),
        sum(when(col("s") === "val", 1L).otherwise(0L)).as("cva"),
        sum(when(col("s") === "test", 1L).otherwise(0L)).as("cte"))
    // ONE roll-up emits all six pair classes, unpivoted via stack —
    // the hash-group scan runs once, not per class
    val exact = exactGroups.agg(
      coalesce(sum(expr("cte * (cte - 1) div 2")), lit(0L)).as("p_tt"),
      coalesce(sum(expr("cte * ctr")), lit(0L)).as("p_ttr"),
      coalesce(sum(expr("cte * cva")), lit(0L)).as("p_tv"),
      coalesce(sum(expr("ctr * (ctr - 1) div 2")), lit(0L)).as("p_trtr"),
      coalesce(sum(expr("ctr * cva")), lit(0L)).as("p_trv"),
      coalesce(sum(expr("cva * (cva - 1) div 2")), lit(0L)).as("p_vv"))
      .select(expr(
        "stack(6, 'test', 'test', p_tt, 'test', 'train', p_ttr, " +
          "'test', 'val', p_tv, 'train', 'train', p_trtr, " +
          "'train', 'val', p_trv, 'val', 'val', p_vv) " +
          "AS (split_a, split_b, n_exact_pairs)"))
    exact.join(near, Seq("split_a", "split_b"), "full_outer")
      .select(col("split_a"), col("split_b"),
        coalesce(col("n_exact_pairs"), lit(0L)).as("n_exact_pairs"),
        coalesce(col("n_near_pairs"), lit(0L)).as("n_near_pairs"),
        (col("split_a") =!= col("split_b")).as("crosses_split"))
      .orderBy("split_a", "split_b")
  }

  /** q347 probe widths, ascending — a pair is reported at its MAXIMAL
    * matching width. 3 is the floor where the synthetic corpus still
    * has splices at every SF; a crawl deployment probes 8/16/32. */
  val SpliceWidths = Seq(3, 4, 6)

  /** q347_boundary_splice — the SHARD-BOUNDARY splice detector: doc A's
    * last k whitespace tokens exactly equal doc B's FIRST k tokens, the
    * concatenation/pagination/chunk-overlap failure mode every
    * resemblance detector (q12/q13/q14) AND the containment detector
    * (q181) structurally miss: a k-token seam is a vanishing share of
    * either document's shingle set, yet it is exactly what a re-crawled
    * paginated article or a chunked-then-reassembled corpus produces —
    * and training on spliced shards teaches the model the seam. Pairs
    * are DIRECTED (a's tail feeds b's head) and report the largest
    * width in [[SpliceWidths]] that matches.
    *
    * Determinism: keys are exact token-slice strings (whitespace
    * tokenization is the shared q56 regex contract; tokens contain no
    * spaces, so the joined key is collision-free by construction); the
    * census is max-k set algebra, no floats anywhere.
    *
    * Scale shape: ONE token-array projection per doc (lesson 63: the
    * array binds to an attribute before the 6 slice references), a
    * 3-row-per-doc (k, prefix, suffix) explode, one (k, key)-keyed
    * equi-join of suffix rows against prefix rows — work ∝ seam-key
    * bucket occupancy, never corpus², with the same boilerplate-key
    * skew profile as q13's bands (a viral k-token seam salts through
    * [[CandidatePairs]] if a deployment ever needs it) — then a
    * pair-keyed max. */
  def boundarySplice(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), T.wsTokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
    val keyStructs = SpliceWidths.map { k =>
      struct(lit(k).as("k"),
        when(col("n") >= k, concat_ws(" ", slice(col("toks"), 1, k))).as("pre"),
        when(col("n") >= k, concat_ws(" ", slice(col("toks"), -k, k))).as("suf"))
    }
    val keyed = toks
      .select(col("doc_id"), explode(array(keyStructs: _*)).as("s"))
      .select(col("doc_id"), col("s.k").as("k"),
        col("s.pre").as("pre"), col("s.suf").as("suf"))
      .filter(col("pre").isNotNull)
    keyed.select(col("doc_id").as("doc_a"), col("k"), col("suf").as("key"))
      .join(keyed.select(col("doc_id").as("doc_b"), col("k"), col("pre").as("key")),
        Seq("k", "key"))
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("k")).cast("long").as("overlap_tokens"))
      .orderBy("doc_a", "doc_b")
  }

  /** This module's graded queries, name → build; `SparkEntry.queries`
    * collects them. */
  private[graft] val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q11_dedup_exact"     -> (exactDedup _),
    "q12_dedup_minhash"   -> (minhashPairs _),
    "q13_dedup_simhash"   -> (simhashPairs _),
    "q14_ngram_dedup"     -> (ngramDedup _),
    "q31_dup_clusters"    -> (dupClusters _),
    "q51_decontaminate"   -> (decontaminate _),
    "q58_winnow_pairs"    -> (winnowPairs _),
    "q59_passage_dedup"   -> (passageDedup _),
    "q63_incremental_dedup" -> (incrementalDedup _),
    "q108_minhash_error"  -> (minhashError _),
    "q118_bloom_decontam" -> (bloomDecontam _),
    "q135_fuzzy_names"    -> (fuzzyNames _),
    "q165_dedup_sensitivity" -> (dedupSensitivity _),
    "q176_golden_record"  -> (goldenRecords _),
    "q181_containment_dedup" -> (containmentDedup _),
    "q190_simhash_search" -> (simhashSearch _),
    "q198_band_planner"   -> (bandPlanner _),
    "q211_bbit_minhash"   -> (bbitMinhash _),
    "q226_pair_evidence"  -> (pairEvidence _),
    "q238_detector_venn"  -> (detectorVenn _),
    "q276_split_leakage"  -> (splitLeakage _),
    "q279_minhash_roc"    -> (minhashRoc _),
    "q335_snm_blocking"   -> (snmBlocking _),
    "q347_boundary_splice" -> (boundarySplice _),
    "q358_string_similarity" -> (stringSimilarity _)
  )
}
