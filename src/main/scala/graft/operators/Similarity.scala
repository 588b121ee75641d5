package graft.operators

import graft.sources.{IndexStore, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap

/** Similarity search over the `embeddings` table (`array<float>` 64-d).
  *
  * Three shapes:
  *  - q16 brute-force top-k: the correctness baseline. The SMALL query
  *    side is broadcast; the per-query top-k is the partial-aggregable
  *    native top-k aggregate, so the ranking exchange carries only
  *    queries×k pre-reduced rows (the corpus side still plans one
  *    exchange for the pair⋈vector join). At 100 TB the corpus scan
  *    dominates and parallelizes linearly.
  *  - q15 near-dup pairs: random-hyperplane LSH (8 tables × 8 bits)
  *    generates candidate pairs bucket-locally, then exact cosine ≥
  *    threshold verifies. Recall follows the standard 1-(1-p^b)^L curve
  *    (≈0.94 at cos 0.9, the real near-dup regime; lower at the 0.42
  *    threshold this synthetic corpus needs). The DuckDB oracle
  *    implements the identical spec, so correctness is checked exactly,
  *    not statistically.
  *  - q17 bucketed ANN: one signed-projection table with
  *    corpus-adaptive bit count (expected bucket size ~[[TargetBucket]]
  *    at any scale) plus Hamming-1 MULTI-PROBE; per-query top-k within
  *    the probe set, joined co-partitioned on masked bucket codes — the
  *    scale path where the brute-force product is infeasible.
  *  - q28 IVF ANN: ~sqrt(n) centroids k-means-trained on a bounded
  *    hash-sample (deterministic broadcast Lloyd's), per-cell search
  *    skew-bounded by [[CandidatePairs]].
  *
  * Implementation note — everything is posexplode + codegen'd joins and
  * aggregates, NO higher-order array functions: `aggregate`/`zip_with`
  * evaluate interpreted (measured ~10× slower on the candidate volumes
  * here). Vectors are exploded once into (vec_id, d, x) rows; dot
  * products and norms are hash-aggregate sums; hyperplane projections
  * are the fused native [[org.apache.spark.sql.graft.SignedProjection]]
  * expression — all table codes computed where the vector is scanned,
  * zero exchanges for code assignment.
  *
  * Hyperplane weights are integers derived from md5 of "tag_table_bit_dim"
  * (see [[weight]]) — cross-engine reproducible, precomputed once on the
  * driver and inlined as literal arrays.
  */
object Similarity {

  val Dims = 64
  val NeardupTables = 8
  val NeardupBits = 8
  val CosineThreshold = 0.42
  val AnnK = 5
  val BucketK = 3
  /** Per-bucket membership cap for LSH/IVF candidate generation (see
    * [[CandidatePairs]]; output-preserving work redistribution). */
  val BucketCap = 64
  /** q17 target members per bucket: bucket bits grow with the corpus
    * (bits = ceil(log2(n / target))) so the within-bucket search stays
    * ~linear in n instead of O(n²/2^fixed_bits). */
  val TargetBucket = 64
  val MaxBucketBits = 24
  /** q28 IVF: k = max(16, ceil(sqrt(n))) trained centroids (cell size
    * ~sqrt(n), the standard IVF sizing), fixed deterministic Lloyd's;
    * each query probes its [[IvfNProbe]] nearest cells (the IVF recall
    * knob — boundary vectors are found in the neighbor cell). */
  val IvfMinCentroids = 16
  val IvfIterations = 2
  val IvfNProbe = 2
  /** q28 IVF training sample bound: Lloyd's trains on a deterministic
    * hash-sample of ~min(n, IvfSampleMult·k) vectors, NOT the full
    * corpus. With k = √n, full-corpus training is O(n^1.5) cosine
    * evaluations per round — days at 10^11 docs — while 256 samples
    * per centroid is the standard IVF training budget (FAISS trains on
    * 39·k–256·k points) and keeps each round O(k²·256). Membership is
    * md5-mod (same cross-engine trick as q48), so the oracle selects
    * the identical sample. */
  val IvfSampleMult = 256

  /** Smallest b ≥ 1 with target·2^b ≥ n — the integer-exact form of
    * ceil(log2(n/target)): no float log, so no off-by-one against the
    * oracle's `ceil(log2(...))` at exact powers of two. */
  private[graft] def adaptiveBits(n: Long, target: Long = TargetBucket): Int = {
    var b = 1
    while (b < MaxBucketBits && (target << b) < n) b += 1
    b
  }

  /** Deterministic pseudo-random weight in [-1000, 1000]:
    * first 28 bits of md5("tag_table_bit_dim") mod 2001 - 1000.
    * DuckDB: ('0x'||substr(md5(key),1,7))::BIGINT % 2001 - 1000. */
  private[operators] def weight(key: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 7), 16) % 2001 - 1000
  }

  private def weights(tag: String, table: Int, bit: Int): Seq[Double] =
    (0 until Dims).map(d => weight(s"${tag}_${table}_${bit}_${d}").toDouble)

  /** (vec_id, v) with the vector cast to array<double> once.
    * Deliberately NOT spread (Tables.spread): interleaved A/B at
    * local[32] sf0.1 measured the ANN family 0.3-1.3 s SLOWER with the
    * extra round-robin exchange — their pipelines are many short jobs
    * over this frame, and inflating every downstream stage's partition
    * count costs more than the scan-side vector math saves. */
  private def vecs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** (vec_id, d, x) component rows, double precision, d is 0-based. */
  private def components(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), posexplode(col("embedding").cast("array<double>")).as(Seq("d", "x")))

  /** vec_id → one bucket code per (table) for the given weight tag;
    * output (vec_id, t, c). The whole projection is ONE fused native
    * expression ([[org.apache.spark.sql.graft.SignedProjection]])
    * evaluated where the vector is scanned — zero exchanges for code
    * assignment at any corpus scale. (The previous formulation exploded
    * every vector to 64 component rows and ran a tables×bits-column
    * hash aggregate: a 64·n-row shuffle per consumer, and the reason
    * q15 sat at 2.1× its oracle in round 8.) Dot products accumulate
    * in ascending-d order over the same doubles, so codes are
    * bit-identical to the aggregate form and the oracle's SUM.
    *
    * Input is the (vec_id, v) frame; empty vectors are filtered (the
    * exploded form produced no rows for them). */
  private[graft] def codes(v: DataFrame, tag: String, tables: Int, bits: Int): DataFrame = {
    val flat: Seq[Double] =
      for (t <- 0 until tables; i <- 0 until bits; w <- weights(tag, t, i)) yield w
    v.filter(size(col("v")) > 0)
      .select(col("vec_id"),
        posexplode(org.apache.spark.sql.graft.native
          .signedProjection(col("v"), flat, tables, bits, Dims)).as(Seq("t", "c")))
  }

  /** Exact cosine for a candidate pair set (cols vec_a, vec_b): join the
    * vector arrays to the pairs, then one fused codegen pass per pair via
    * the native [[org.apache.spark.sql.graft.CosineSimilarity]]
    * expression (dot + both norms in a single loop, no join/aggregate
    * machinery, no interpreted higher-order functions). */
  private def pairCosine(cand: DataFrame, v: DataFrame): DataFrame =
    cand
      .join(v.select(col("vec_id").as("vec_a"), col("v").as("va")), "vec_a")
      .join(v.select(col("vec_id").as("vec_b"), col("v").as("vb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        org.apache.spark.sql.graft.native.cosineSim(col("va"), col("vb")).as("cosine"))

  /** q15_embed_neardup — near-duplicate vector pairs: LSH candidates
    * (8 tables × 8-bit codes) verified by exact cosine ≥ 0.42. */
  def embedNeardup(spark: SparkSession, sfDir: String): DataFrame =
    embedNeardup(spark, sfDir, BucketCap, None)

  /** [[embedNeardup]] with an explicit per-bucket cap + telemetry hook:
    * candidate generation goes through
    * [[CandidatePairs.boundedSelfJoin]], so a hot code bucket (many
    * near-identical embeddings hashing to one (table, code)) is salted
    * across ceil(n/cap) tasks instead of building an O(n²) pair list in
    * one; the pair set is identical for any cap. */
  def embedNeardup(
      spark: SparkSession, sfDir: String,
      cap: Int, obs: Option[org.apache.spark.sql.Observation]): DataFrame = {
    val v = vecs(spark, sfDir)
    val buckets = codes(v, "lsh", NeardupTables, NeardupBits)
    val cand = CandidatePairs.boundedSelfJoin(buckets, Seq("t", "c"), "vec_id", cap, obs)
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"))
    pairCosine(cand, v)
      .filter(col("cosine") >= CosineThreshold)
      .select(col("vec_a"), col("vec_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy("vec_a", "vec_b")
  }

  /** q16_ann_bruteforce — exact top-5 cosine neighbors for the first 10
    * vectors; the tiny query id set broadcasts and the per-query top-k
    * is the partial-aggregable [[topK]] fold, so the only exchange
    * carries ≤ 10·k pre-reduced rows (the corpus side still plans one
    * exchange inside [[pairCosine]]'s vec_b join — the scan itself is
    * what parallelizes linearly at 100 TB). */
  def annBruteForce(spark: SparkSession, sfDir: String): DataFrame = {
    val v = vecs(spark, sfDir)
    val ids = Tables.embeddings(spark, sfDir).select(col("vec_id"))
    val cand = ids.filter(col("vec_id") < 10).select(col("vec_id").as("vec_a"))
      .crossJoin(ids.select(col("vec_id").as("vec_b")))
      .filter(col("vec_a") =!= col("vec_b"))
    topK(cand, v, AnnK)
  }

  /** q89_hard_negatives — contrastive hard-negative mining: for each
    * query vector, the top-3 most-similar corpus vectors with a
    * DIFFERENT label — the "hardest" negatives a contrastive/embedding
    * trainer wants (high-similarity, wrong-class), per SimCLR/SBERT
    * practice. Same scale shape as [[annBruteForce]]: the tiny labeled
    * query side broadcasts (BroadcastNestedLoopJoin, never a cartesian
    * exchange), the label-mismatch filter rides the scan, and the
    * per-query ranking is the map-side top-k aggregate — the exchange
    * carries queries×k rows at any corpus size. An indexed variant
    * composes exactly like q17/q28 (candidates from buckets/cells
    * first); the graded form is the exact baseline. */
  def hardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val full = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("label"))
    val qs = broadcast(full.filter(col("vec_id") < 10)
      .select(col("vec_id").as("vec_a"), col("label").as("label_a")))
    val cand = qs
      .crossJoin(full.select(col("vec_id").as("vec_b"), col("label").as("label_b")))
      .filter(col("vec_a") =!= col("vec_b") && col("label_a") =!= col("label_b"))
      .select(col("vec_a"), col("vec_b"))
    topK(cand, vecs(spark, sfDir), BucketK)
  }

  /** q92 neighbors per held-out query for the majority vote. */
  val KnnLabelK = 3

  /** q92_knn_label — kNN label propagation: predict each held-out
    * vector's label as the majority vote of its [[KnnLabelK]] nearest
    * LABELED neighbors by cosine — the semi-supervised move behind
    * classifier-score propagation over a corpus (label a small seed set,
    * extend by embedding neighborhood; FineWeb-Edu-style quality labels
    * are exactly this shape at corpus scale). Held-out queries are
    * `vec_id % 10 == 0` (first 10 of them graded); the labeled pool is
    * the complement, so a query can never vote for itself.
    *
    * Scale shape = [[annBruteForce]]: the query side broadcasts, the
    * per-query ranking is the map-side top-k aggregate, and the vote
    * itself runs over queries×k rows — driver-free, corpus-size-free.
    * Ties are (votes DESC, label ASC), the same deterministic ordering
    * contract as every ranking here. */
  def knnLabel(spark: SparkSession, sfDir: String): DataFrame = {
    val full = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("label"))
    val qs = full.filter(col("vec_id") % 10 === 0 && col("vec_id") < 100)
    val cand = broadcast(qs.select(col("vec_id").as("vec_a")))
      .crossJoin(full.filter(col("vec_id") % 10 =!= 0)
        .select(col("vec_id").as("vec_b")))
    val nn = topK(cand, vecs(spark, sfDir), KnnLabelK)
    val votes = nn
      .join(full.select(col("vec_id").as("neighbor_id"), col("label").as("nl")),
        "neighbor_id")
      .groupBy(col("query_id"), col("nl"))
      .agg(count(lit(1)).as("n_votes"))
    val pred = votes.groupBy(col("query_id"))
      .agg(org.apache.spark.sql.graft.native
        .topKByScore(col("n_votes").cast("double"), col("nl").cast("long"), 1).as("top"))
      .select(col("query_id"),
        col("top")(0)("id").cast("int").as("pred_label"),
        col("top")(0)("score").cast("long").as("votes"))
    pred
      .join(broadcast(qs.select(col("vec_id"), col("label").as("true_label"))),
        pred("query_id") === col("vec_id"))
      .select(col("vec_id"), col("pred_label"), col("true_label"), col("votes"),
        (col("pred_label") === col("true_label")).cast("int").as("correct"))
      .orderBy("vec_id")
  }

  /** q93 MMR knobs: queries, candidate pool, selections, relevance
    * weight λ (penalty weight written literally as [[MmrPenalty]] —
    * `1 - 0.7` is 0.30000000000000004 in IEEE doubles, so BOTH engines
    * must use the same literal, not one derive it). */
  val MmrQueries = 5
  val MmrPool = 8
  val MmrK = 3
  val MmrLambda = 0.7
  val MmrPenalty = 0.3

  /** q93_mmr_rerank — Maximal Marginal Relevance (Carbonell & Goldstein
    * 1998): greedily pick [[MmrK]] results from each query's exact
    * top-[[MmrPool]] cosine pool, each step maximizing
    * `λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s)` — relevance minus
    * redundancy, the standard diversity re-rank a RAG retriever runs so
    * three near-identical passages don't fill the context window.
    *
    * The corpus-scale work is exactly one [[topK]] pool build (same
    * shape as q16); everything after operates on queries×pool rows —
    * the greedy recurrence replays entirely inside the native
    * [[org.apache.spark.sql.graft.MmrSelectAgg]] aggregate (one
    * ObjectHashAggregate pass over the pool⋈vectors frame; pairwise
    * sims computed in-buffer over ≤pool² pairs per group, never
    * materialized). Similarities are rounded to 6 before scoring on
    * both engines (NOTES: round-then-combine is the cross-engine float
    * contract); argmax ties break on neighbor_id. */
  def mmrRerank(spark: SparkSession, sfDir: String): DataFrame = {
    val v = vecs(spark, sfDir)
    val ids = Tables.embeddings(spark, sfDir).select(col("vec_id"))
    val cand = broadcast(ids.filter(col("vec_id") < MmrQueries)
        .select(col("vec_id").as("vec_a")))
      .crossJoin(ids.select(col("vec_id").as("vec_b")))
      .filter(col("vec_a") =!= col("vec_b"))
    // (query_id, neighbor_id, rank, cosine): cosine rounded 6 by topK —
    // the value MMR scores over (the oracle rounds identically)
    val pool = topK(cand, v, MmrPool)
    // the greedy recurrence runs INSIDE the native aggregate — one pass
    // over the (queries×pool)-row frame, each group replaying argmax
    // λ·rel − penalty·max round6(cos) with the same tie/NULL rules the
    // unrolled join formulation had (which cost k tiny Spark jobs + two
    // checkpointed frames per run; the pool build stays the only
    // corpus-scale stage)
    broadcast(pool.select(col("query_id"), col("neighbor_id"), col("cosine")))
      .join(v.select(col("vec_id").as("neighbor_id"), col("v")), "neighbor_id")
      .groupBy(col("query_id"))
      .agg(org.apache.spark.sql.graft.native
        .mmrSelect(col("cosine"), col("neighbor_id"), col("v"),
          MmrLambda, MmrPenalty, MmrK).as("sel"))
      .select(col("query_id"), posexplode(col("sel")).as(Seq("pos", "s")))
      // floor-based half-up rounding, NOT round(): the scores are
      // products of 6-decimal-rounded sims, which land exactly on decimal
      // midpoints (0.7·0.371485 = 0.2600395) — Spark's round goes through
      // the shortest decimal repr (→ .26004) while DuckDB rounds the true
      // binary value (→ .260039). floor(x·1e6 + 0.5)/1e6 evaluates the
      // identical IEEE expression on both engines (NOTES lesson 29).
      .select(col("query_id"), (col("pos") + 1).cast("int").as("mmr_rank"),
        col("s.neighbor_id").as("neighbor_id"),
        (floor(col("s.score_raw") * lit(1e6) + lit(0.5)) / lit(1e6)).as("score"))
      .orderBy("query_id", "mmr_rank")
  }

  /** Mirror unordered (id_a < id_b) pairs into both directions — the
    * equivalent of the `=!=` bucket self-join, but fed from the
    * skew-bounded [[CandidatePairs.boundedSelfJoin]]. An explode of a
    * 2-element array, NOT a union of two selects: a union embeds the
    * whole candidate subplan twice (every scan/shuffle runs twice —
    * measured 12 exchanges vs 6 at sf0.1), while the explode mirrors
    * rows in a streaming projection over the single subplan. */
  private def bothDirections(und: DataFrame): DataFrame =
    und.select(explode(array(
        struct(col("id_a").as("vec_a"), col("id_b").as("vec_b")),
        struct(col("id_b").as("vec_a"), col("id_a").as("vec_b")))).as("p"))
      .select(col("p.vec_a"), col("p.vec_b"))

  /** Per-query top-k ranking over a candidate pair set — the native
    * [[org.apache.spark.sql.graft.TopKByScore]] aggregate, NOT a
    * window: a `row_number` window shuffles and sorts every candidate
    * row, while the aggregate's map-side combine pre-reduces each
    * partition to ≤ k rows per query before the exchange, so the
    * shuffle carries O(queries·k) regardless of candidate volume.
    * Ordering (cosine DESC, vec_b ASC) is identical to the oracle's
    * row_number window. */
  private def topK(cand: DataFrame, v: DataFrame, k: Int): DataFrame =
    pairCosine(cand, v)
      .groupBy(col("vec_a"))
      .agg(org.apache.spark.sql.graft.native
        .topKByScore(col("cosine"), col("vec_b"), k).as("top"))
      .select(col("vec_a"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("vec_a").as("query_id"), col("s.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        round(col("s.score"), 6).as("cosine"))
      .orderBy("query_id", "rank")

  /** Corpus row count for LSH/IVF parameter planning. This is a
    * deliberate driver-side statistics read (parquet footer row counts,
    * metadata-only — the same thing Catalyst's own stats estimation
    * reads), NOT a data-path collect: bucket cardinality and centroid
    * count must be fixed before the plan is built, exactly like AQE
    * fixes shuffle partitioning from runtime statistics. Memoized per
    * (session, corpus), so chained queries over the same corpus pay the
    * footer read once per session lifetime, not once per query call,
    * and a corpus rewritten between sessions is counted afresh; entries
    * of stopped sessions are dropped (the vocabSizeCache rule). */
  private val sizeCache = TrieMap.empty[(SparkSession, String), Long]
  private[graft] def corpusSize(spark: SparkSession, sfDir: String): Long =
    graft.GraftSession.memo(sizeCache, spark, sfDir)(Tables.embeddings(spark, sfDir).count())

  private[graft] val codebookCache = TrieMap.empty[(SparkSession, String), DataFrame]
  /** Session-scoped IVF index artifacts — the trained codebook and the
    * hierarchical corpus→cell assignment are DETERMINISTIC functions of
    * the corpus (sampled Lloyd's + the two-level ranking recurrence),
    * and every IVF consumer (q57 search, q73 SemDeDup, q82 IVF-PQ)
    * reads the identical frames — so they are built once per (session,
    * corpus) and memoized, the in-session analogue of the PERSISTED
    * index a deployment keeps (an IVF index IS a precomputed artifact;
    * rebuilding it per query would be like re-sorting a B-tree per
    * lookup). Results are row-identical to uncached runs; q28 keeps
    * its raw flat build so the un-indexed cost stays priced. */
  private[graft] val trainedCodebook =
    IndexStore.Artifact("ivf_codebook", codebookCache) { (spark, sfDir) =>
      val v = vecs(spark, sfDir)
      val n = corpusSize(spark, sfDir)
      val k = math.max(IvfMinCentroids, math.ceil(math.sqrt(n.toDouble)).toInt)
      trainCentroids(spark, v, n, k)
    }

  private[graft] val hierCellsCache = TrieMap.empty[(SparkSession, String), DataFrame]
  /** Memoized [[hierCellAssignment]] over the [[trainedCodebook]] —
    * (vec_id, tc) with tc[0] the home cell, checkpointed (at 100 TB
    * this is the stored cell-id column of the index table; persisted
    * across sessions via [[graft.operators.Indexes.persistAll]]). */
  private[graft] val hierCells =
    IndexStore.Artifact("ivf_cells", hierCellsCache) { (spark, sfDir) =>
      val v = vecs(spark, sfDir)
      val n = corpusSize(spark, sfDir)
      val k = math.max(IvfMinCentroids, math.ceil(math.sqrt(n.toDouble)).toInt)
      hierCellAssignment(spark, v, trainedCodebook(spark, sfDir), k).localCheckpoint()
    }

  /** Sampling modulus for IVF training: every vec with
    * md5("ivfs_" || vec_id) ≡ 0 (mod den) is a training point, giving
    * an expected sample of n/den ≈ min(n, mult·k) vectors. den = 1
    * (keep everything) whenever mult·k ≥ n. */
  private[graft] def ivfSampleDen(n: Long, k: Int, mult: Int): Long =
    (n + mult.toLong * k - 1) / (mult.toLong * k)

  /** The deterministic training sample: a scan-local md5-mod filter
    * (q48's membership trick), no shuffle, reproducible on any engine
    * and any partitioning. Exposed for the spec that asserts the
    * training job touches ≤ the sample bound, never the full corpus. */
  private[graft] def ivfTrainingSample(v: DataFrame, n: Long, k: Int,
      mult: Int = IvfSampleMult): DataFrame = {
    val den = ivfSampleDen(n, k, mult)
    if (den == 1L) v
    else v.filter(pmod(graft.functions.HashFunctions.md5Int28(
      concat(lit("ivfs_"), col("vec_id").cast("string"))), lit(den)) === 0)
  }

  /** Deterministic spherical k-means (broadcast Lloyd's) over the
    * [[ivfTrainingSample]] — NOT the full corpus: init = the k
    * lowest-id sample vectors, fixed [[IvfIterations]] rounds;
    * assignment by max cosine with lowest-cent_id tie-break (a
    * partial-aggregable struct-max, no window shuffle); update =
    * per-dimension mean ROUNDED to 6 decimals — rounding pins the
    * floats so the oracle's identical recurrence lands on
    * bit-identical centroids regardless of either engine's summation
    * order; empty cells keep their previous centroid.
    *
    * The codebook stays a (cent_id, cv) DATAFRAME through every round,
    * localCheckpoint'd so each round's plan reads the previous round's
    * materialized k rows instead of replaying the whole recurrence —
    * the driver holds NO centroid state (O(1) in both n and k), and a
    * consumer chooses broadcast vs shuffle join per use: with k = √n
    * the codebook is ~160 MB at 10^11 docs — broadcastable, but
    * per-round collect would make the DRIVER a required party to every
    * training round, and a k beyond broadcast range (multi-billion-row
    * corpora, larger codebooks) would hard-fail instead of degrading
    * to a shuffle join. Per-round cost is O(sample·k) cosines ≈
    * O(mult·k²), independent of n. */
  private[graft] def trainCentroids(
      spark: SparkSession, v: DataFrame, n: Long, k: Int,
      mult: Int = IvfSampleMult): DataFrame = {
    // the sample is reread every round — materialize it once (bounded:
    // ~min(n, mult·k) rows, never the corpus)
    val sample = ivfTrainingSample(v, n, k, mult).localCheckpoint()
    var cents = sample
      .select(col("vec_id").cast("int").as("cent_id"), col("v").as("cv"))
      .orderBy("cent_id").limit(k)
      .localCheckpoint()
    for (_ <- 0 until IvfIterations) {
      val assigned = sample.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("v"), col("cent_id"),
          org.apache.spark.sql.graft.native.cosineSim(col("v"), col("cv")).as("sim"))
        // argmax via struct-max: (sim, -cent_id) max ⇔ highest sim,
        // lowest cent_id on ties — partial-aggregable, so map-side
        // combine shrinks the shuffle to one row per (partition, vec);
        // the vector rides along (first) so the mean update needs no
        // join back against the sample — one less shuffle per round
        .groupBy("vec_id")
        .agg(max(struct(col("sim"), (-col("cent_id")).as("nc"))).as("best"),
          first(col("v")).as("v"))
        .select(col("v"), (-col("best.nc")).cast("int").as("cent_id"))
      val means = assigned
        .select(col("cent_id"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy("cent_id", "d").agg(round(avg(col("x")), 6).as("m"))
        .groupBy("cent_id")
        .agg(array_sort(collect_list(struct(col("d"), col("m")))).as("dm"))
        .select(col("cent_id"), expr("transform(dm, s -> s.m)").as("ncv"))
      // empty cells keep their previous centroid (left join + coalesce)
      cents = cents.join(means, Seq("cent_id"), "left")
        .select(col("cent_id"), coalesce(col("ncv"), col("cv")).as("cv"))
        .localCheckpoint()
    }
    cents
  }

  /** q28_ann_ivf — IVF ANN with TRAINED centroids: k = max(16,
    * ceil(sqrt(n))) cluster centers from [[trainCentroids]] (which
    * trains on a hash-sample of ~min(n, [[IvfSampleMult]]·k) vectors)
    * Voronoi-partition the corpus (cell size ~sqrt(n), so the in-cell
    * search is O(n^1.5) pairs total, not O(n²/k_fixed)); each query
    * probes its [[IvfNProbe]] nearest cells. Assignment is a broadcast
    * nested-loop over the tiny centroid set + per-vector argmax.
    *
    * Measured on the synthetic corpus (sf0.01, recall@3 vs exact
    * top-3): nprobe 1 → 0.25, 2 → 0.37, 4 → 0.55, 8 → 0.75. The low
    * absolute recall is a property of STRUCTURELESS random vectors
    * (Voronoi cells carve near-uniform space, so true neighbors
    * straddle boundaries constantly); real embedding corpora cluster,
    * which is precisely what IVF exploits. nprobe=2 is the shipped
    * accuracy/cost point (~2·sqrt(n)/n of the corpus scanned per
    * query); the knob is the standard IVF recall dial at any scale. */
  def annIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val v = vecs(spark, sfDir)
    val n = corpusSize(spark, sfDir)
    val k = math.max(IvfMinCentroids, math.ceil(math.sqrt(n.toDouble)).toInt)
    val cents = broadcast(trainCentroids(spark, v, n, k))
    // per-vector nearest-IvfNProbe cells via the native top-k aggregate:
    // the n×k (sim, cent) candidate rows reduce MAP-SIDE to one top-2
    // buffer per vector, so the exchange carries n rows — a row_number
    // window here would shuffle and sort all n×k rows, which at k=√n is
    // the dominant cost of building the index at 100 TB.
    val top2 = v.crossJoin(cents)
      .select(col("vec_id"), col("cent_id"),
        org.apache.spark.sql.graft.native.cosineSim(col("v"), col("cv")).as("sim"))
      .groupBy(col("vec_id"))
      .agg(org.apache.spark.sql.graft.native
        .topKByScore(col("sim"), col("cent_id").cast("long"), IvfNProbe).as("tc"))
    // index side: every vector lives in exactly ONE cell (its top-1);
    // query side: each vector PROBES its IvfNProbe nearest cells, so a
    // true neighbor sitting just across a Voronoi boundary is still
    // found. The probe⋈cell equi-join emits each pair at most once
    // (the neighbor's cell is unique), and the two branches share the
    // top-2 aggregate subtree via ReuseExchange. Cell size is ~sqrt(n)
    // by the k-means sizing, which bounds per-cell join work; residual
    // cell skew (a degenerate centroid attracting a huge cell) is a
    // plain equi-join skew, the exact shape AQE's runtime skew-join
    // splitting handles (on in GraftSession).
    probeSearch(top2, v)
  }

  /** Coarse-codebook floor for the hierarchical IVF variant. */
  val IvfCoarseMin = 4
  /** Coarse groups probed during hierarchical ASSIGNMENT: a vector's
    * true nearest fine centroid can sit just across a coarse boundary;
    * probing 4 coarse groups closes most of the gap to the flat
    * assignment (recall@3 0.345 vs flat 0.371 at sf0.01 on the
    * structureless corpus; 2 groups gave 0.33) for a constant factor on the
    * (already √k-cheap) fine-ranking side — build cost stays
    * n·(k1 + [[IvfCoarseProbe]]·k/k1) ≈ n·5√k ≪ n·k. */
  val IvfCoarseProbe = 4

  /** q57_ann_ivf_hier — two-level IVF: the index-BUILD scale path.
    *
    * q28 assigns every corpus vector against all k fine centroids —
    * n·k cosines, and with k = √n that is n^1.5 once at build time
    * (~7×10¹⁶ at 10¹¹ docs — the same magnitude that made full-corpus
    * TRAINING infeasible). Here the fine codebook is coarse-quantized:
    *
    *   - coarse codebook = every ⌈k/k1⌉-th fine centroid (sampled
    *     codebook, k1 ≈ √k groups — deterministic, no second Lloyd's);
    *   - each fine centroid joins its nearest coarse group
    *     (k·k1 cosines — negligible);
    *   - each corpus vector finds its nearest COARSE group (n·k1) and
    *     ranks only that group's fine centroids (n·k/k1 expected);
    *
    * total build cost n·(k1 + [[IvfCoarseProbe]]·k/k1) ≈ n·5√k —
    * ~150× less than n·k at k = 4×10⁵ — at the price of approximate
    * cell assignment (a vector's true nearest fine centroid can live
    * outside its probed coarse groups; probing [[IvfCoarseProbe]]=4
    * groups recovers most of the loss — recall@3 0.345 vs flat 0.371
    * at sf0.01; 2 groups gave 0.33, own-group-only 0.30).
    * Search side (cells ⋈ probes) is identical to q28.
    * All argmaxes are partial-aggregable struct-max / top-k aggregates;
    * the oracle replicates the exact same deterministic recurrence. */
  /** Hierarchically-assigned top-[[IvfNProbe]] fine cells per corpus
    * vector: (vec_id, tc) where tc[0] is the home cell — the n·3√k
    * assignment shared by q57, and composed into q73's clustering and
    * q82's IVF-PQ so NO consumer pays the flat n·k assignment.
    *
    * The coarse codebook is every stride-th fine centroid in cent_id
    * order — a row_number over the k-row codebook, checkpointed so the
    * bounded window never appears in consumer plans. */
  private[graft] def hierCellAssignment(
      spark: SparkSession, v: DataFrame, fine: DataFrame, k: Int,
      nprobe: Int = IvfNProbe): DataFrame = {
    val k1 = math.max(IvfCoarseMin, math.ceil(math.sqrt(k.toDouble)).toInt)
    val stride = math.max(1, k / k1)
    val coarseDf = broadcast(fine
      .withColumn("idx",
        row_number().over(org.apache.spark.sql.expressions.Window.orderBy("cent_id")) - 1)
      .filter(pmod(col("idx"), lit(stride)) === 0)
      .select(col("cent_id").as("grp_id"), col("cv").as("gv"))
      .localCheckpoint())
    // fine centroid -> nearest coarse group (tiny: k x k1)
    val fineGrp = broadcast(
      broadcast(fine).crossJoin(coarseDf)
        .select(col("cent_id"), col("grp_id"), col("cv"),
          org.apache.spark.sql.graft.native.cosineSim(col("cv"), col("gv")).as("sim"))
        .groupBy("cent_id")
        .agg(max(struct(col("sim"), (-col("grp_id")).as("ng"))).as("best"),
          first(col("cv")).as("cv"))
        .select(col("cent_id"), (-col("best.ng")).cast("int").as("grp_id"), col("cv")))
    // corpus vector -> its IvfCoarseProbe nearest coarse groups
    // (n x k1 cosines, top-k aggregate; IvfCoarseProbe rows per vector)
    val vecGrp = v.crossJoin(coarseDf)
      .select(col("vec_id"), col("v"), col("grp_id"),
        org.apache.spark.sql.graft.native.cosineSim(col("v"), col("gv")).as("sim"))
      .groupBy("vec_id")
      .agg(org.apache.spark.sql.graft.native
        .topKByScore(col("sim"), col("grp_id").cast("long"), IvfCoarseProbe).as("tg"),
        first(col("v")).as("v"))
      .select(col("vec_id"), col("v"), explode(col("tg")).as("g"))
      .select(col("vec_id"), col("v"), col("g.id").cast("int").as("grp_id"))
    // rank the probed groups' fine centroids (n x IvfCoarseProbe·k/k1
    // expected; fine sets of distinct groups are disjoint, no dedup)
    vecGrp.join(fineGrp, "grp_id")
      .select(col("vec_id"), col("cent_id"),
        org.apache.spark.sql.graft.native.cosineSim(col("v"), col("cv")).as("sim"))
      .groupBy(col("vec_id"))
      .agg(org.apache.spark.sql.graft.native
        .topKByScore(col("sim"), col("cent_id").cast("long"), nprobe).as("tc"))
  }

  /** q315 sweep ceiling: recall measured at nprobe = 1..4. */
  val ProbeSweepMax = 4

  /** q315_probe_curve — the IVF TUNING curve: recall@[[BucketK]]
    * (averaged over the audited query set, vec_id < 10) at nprobe =
    * 1..[[ProbeSweepMax]]. q109 grades ONE operating point; this is
    * the measurement an operator actually reads before picking
    * nprobe — where the curve flattens, extra probes buy latency and
    * no recall. One widened hierarchical assignment (top-
    * [[ProbeSweepMax]] cells per vector) prices the whole sweep; each
    * sweep point is a FILTER on the probe rank, not a re-assignment.
    *
    * Scale shape: one hierarchical assignment pass (n·5√k cosines,
    * the q57 build shape) checkpointed; the scored candidate frame
    * (queries × probed-cell members, with the probe rank carried)
    * checkpoints once and every sweep point re-ranks it map-side via
    * the top-k aggregate; ground truth is the q16 brute-force shape
    * restricted to the query set; 4-row output, all-integer. */
  def probeCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val v = vecs(spark, sfDir)
    val n = corpusSize(spark, sfDir)
    val k = math.max(IvfMinCentroids, math.ceil(math.sqrt(n.toDouble)).toInt)
    val wide = hierCellAssignment(spark, v, trainedCodebook(spark, sfDir), k,
      ProbeSweepMax).localCheckpoint()
    val cells = wide.select(col("vec_id").as("vec_b"),
      col("tc")(0)("id").as("cent_id"))
    val probes = wide.filter(col("vec_id") < 10)
      .select(col("vec_id").as("vec_a"), posexplode(col("tc")).as(Seq("pos", "s")))
      .select(col("vec_a"), (col("pos") + 1).as("prn"), col("s.id").as("cent_id"))
    val scored = probes.join(cells, "cent_id")
      .filter(col("vec_a") =!= col("vec_b"))
      .join(v.select(col("vec_id").as("vec_a"), col("v").as("xa")), "vec_a")
      .join(v.select(col("vec_id").as("vec_b"), col("v").as("xb")), "vec_b")
      .select(col("vec_a"), col("vec_b"), col("prn"),
        org.apache.spark.sql.graft.native.cosineSim(col("xa"), col("xb")).as("c"))
      .localCheckpoint()
    val ids = Tables.embeddings(spark, sfDir).select(col("vec_id"))
    val tcand = ids.filter(col("vec_id") < 10).select(col("vec_id").as("vec_a"))
      .crossJoin(ids.select(col("vec_id").as("vec_b")))
      .filter(col("vec_a") =!= col("vec_b"))
    val truth = topK(tcand, v, BucketK)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint()
    val levels = (1 to ProbeSweepMax).map { p =>
      val approx = scored.filter(col("prn") <= p)
        .groupBy(col("vec_a"))
        .agg(org.apache.spark.sql.graft.native
          .topKByScore(col("c"), col("vec_b"), BucketK).as("top"))
        .select(col("vec_a").as("query_id"), explode(col("top")).as("s"))
        .select(col("query_id"), col("s.id").as("neighbor_id"))
      truth.join(approx, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_match"))
        .select(lit(p).as("nprobe"), col("n_match"),
          expr(s"n_match * 1000000 div (10 * $BucketK)").as("recall_ppm"))
    }
    levels.reduce(_.unionAll(_)).orderBy("nprobe")
  }

  def annIvfHier(spark: SparkSession, sfDir: String): DataFrame =
    probeSearch(hierCells(spark, sfDir), vecs(spark, sfDir))

  /** q170_ann_filtered — FILTERED vector search (the metadata-constrained
    * ANN every retrieval stack grew in the RAG era): top-[[BucketK]]
    * neighbors per query (vec_id < 10) restricted to candidates
    * sharing the query's label — "nearest neighbors WITHIN my
    * class/language/tenant". The constraint composes with the probed
    * IVF index as a post-probe predicate (single-stage filtering):
    * candidates come from the same memoized cell artifact as q57, the
    * label equality prunes BEFORE the exact-cosine verify, and the
    * map-side top-k fold ranks what survives — no second index, no
    * over-fetch-then-refilter loop.
    *
    * Scale shape: identical to the unfiltered probe search (bounded
    * cell-local candidates, O(queries·k) exchange) plus one keyed join
    * against the (vec_id, label) projection — at 100 TB the label
    * column lives IN the index table, so that join is free (here it
    * prices the general metadata-table case). Recall caveat (real and
    * documented): a selective filter thins probed cells, so filtered
    * recall ≤ unfiltered recall at equal nprobe — the operational fix
    * is raising nprobe with filter selectivity. */
  /** q314 knobs: neighborhood size and report length. */
  val LofK = 5
  val LofTopK = 20

  /** q314_lof — Local Outlier Factor (Breunig et al. 2000) over the
    * embedding corpus, computed CELL-LOCALLY on the memoized IVF
    * assignment: each vector's k-distance, local reachability
    * density, and LOF ratio against its [[LofK]]-NN inside its home
    * cell. q66's centroid-distance outliers miss points that are far
    * from their centroid but inside a sparse region's density; LOF is
    * the density-RATIO detector that finds "locally lonely" vectors —
    * the standard screen for mislabeled/garbage embeddings before
    * they poison ANN training.
    *
    * Cell-local, not all-pairs: candidates are home-cell members
    * (cells below [[LofK]]+1 members drop — every member of a kept
    * cell then has a defined k-distance, since candidate count is
    * uniform within a cell). At 100 TB the pair work is Σ|cell|² over
    * the persisted index cells — the same bound SemDeDup (q73) rides,
    * and a deployment caps cell width by raising k.
    *
    * Determinism: distances floor-nano-quantize 1 − cosine
    * immediately (cosines are bit-equal across engines — same
    * left-to-right fold); k-NN rank ties break by neighbor id;
    * reachability/lrd/LOF are pure integer arithmetic from there
    * (lrd = k·10¹⁵ div Σreach, LOF = Σlrd_b·10⁶ div (k·lrd_a)).
    *
    * Scale shape: one cell-keyed self-join of the (vec_id, cell)
    * frame bounded per-cell, a va-partitioned rank window (shard-
    * local), the checkpointed k-NN frame feeds kdist/reach/LOF joins
    * (all va- or vb-keyed); top-[[LofTopK]] TakeOrdered. */
  def lofOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = vecs(spark, sfDir)
    val cells = hierCells(spark, sfDir)
      .select(col("vec_id"), col("tc")(0)("id").as("cent_id"))
    val big = cells.groupBy(col("cent_id")).agg(count(lit(1)).as("csize"))
      .filter(col("csize") >= LofK + 1)
    val mem = cells.join(broadcast(big.select("cent_id")), "cent_id")
    val pairs = mem.select(col("cent_id"), col("vec_id").as("va"))
      .join(mem.select(col("cent_id"), col("vec_id").as("vb")), "cent_id")
      .filter(col("va") =!= col("vb"))
      .join(v.select(col("vec_id").as("va"), col("v").as("xa")), "va")
      .join(v.select(col("vec_id").as("vb"), col("v").as("xb")), "vb")
      .select(col("va"), col("vb"),
        floor((lit(1.0) - org.apache.spark.sql.graft.native
          .cosineSim(col("xa"), col("xb"))) * lit(1000000000.0))
          .cast("long").as("dn"))
    val w = Window.partitionBy(col("va")).orderBy(col("dn"), col("vb"))
    val knn = pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= LofK)
      .select(col("va"), col("vb"), col("dn"))
      .localCheckpoint()
    val kdist = knn.groupBy(col("va")).agg(max(col("dn")).as("kdist"))
    val s = knn
      .join(kdist.select(col("va").as("vb"), col("kdist").as("kdist_b")), "vb")
      .select(col("va"), greatest(col("kdist_b"), col("dn")).as("reach"))
      .groupBy(col("va")).agg(sum(col("reach")).as("s"))
    val lrd = s.select(col("va"),
      expr(s"$LofK * 1000000000000000 div greatest(s, 1)").as("lrd"))
    knn.join(lrd.select(col("va").as("vb"), col("lrd").as("lrd_b")), "vb")
      .groupBy(col("va")).agg(sum(col("lrd_b")).as("slrd"))
      .join(lrd, "va")
      .join(kdist, "va")
      .join(cells.select(col("vec_id").as("va"), col("cent_id")), "va")
      .select(col("va").as("vec_id"), col("cent_id"),
        col("kdist").as("kdist_nano"),
        // overflow guard (ADVICE r10): on a degenerate cell of k+1
        // near-identical vectors every lrd saturates at k·10¹⁵, so
        // slrd can reach k²·10¹⁵ ≈ 2.5e16 and slrd·10⁶ > 2⁶³. Above
        // ⌊2⁶³/10⁶⌋ switch to dividing by the 10⁶-rescaled denominator
        // (relative error ≤ 10⁶/(k·lrd) — negligible exactly when the
        // branch triggers); greatest(…,1) keeps a tiny denominator
        // from flooring to 0. Identical CASE in the oracle.
        expr(s"CASE WHEN slrd <= 9223372036854 THEN slrd * 1000000 div ($LofK * lrd)" +
          s" ELSE slrd div greatest($LofK * lrd div 1000000, 1) END").as("lof_ppm"))
      .orderBy(col("lof_ppm").desc, col("vec_id").asc)
      .limit(LofTopK)
  }

  def filteredSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val top2 = hierCells(spark, sfDir)
    val labels = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("label"))
    val cells = top2.select(col("vec_id"), col("tc")(0)("id").as("cent_id"))
    val probes = top2.filter(col("vec_id") < 10)
      .select(col("vec_id").as("vec_a"), explode(col("tc")).as("s"))
      .select(col("vec_a"), col("s.id").as("cent_id"))
    val cand = probes
      .join(cells.select(col("vec_id").as("vec_b"), col("cent_id")), "cent_id")
      .filter(col("vec_a") =!= col("vec_b"))
      .join(labels.select(col("vec_id").as("vec_a"), col("label").as("la")), "vec_a")
      .join(labels.select(col("vec_id").as("vec_b"), col("label").as("lb")), "vec_b")
      .filter(col("la") === col("lb"))
      .select(col("vec_a"), col("vec_b"))
    topK(cand, vecs(spark, sfDir), BucketK)
      .join(broadcast(labels.select(col("vec_id").as("query_id"), col("label"))), "query_id")
      .select(col("query_id"), col("label"), col("neighbor_id"), col("rank"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  /** q109_ivf_recall — the index-quality audit: per query (vec_id <
    * 10), recall@[[BucketK]] of the hierarchical IVF search (q57's
    * exact plan over the memoized cells) against the exact brute-force
    * top-[[BucketK]] — the acceptance measurement run after every
    * index build/parameter change (nprobe, coarse-probe, k) before the
    * index serves traffic. NOTES records suite-level recall numbers
    * per family; this operator makes the measurement itself a graded,
    * reproducible query.
    *
    * Scale shape: the ground-truth side is the q16 shape restricted to
    * the audited query set (a broadcast nested-loop over queries×n —
    * the exchange carries queries×k rows); the approx side reads the
    * session/persisted cell artifact and probes cells for 10 vectors;
    * the recall join is (queries×k)-sized. Both rankings share one
    * deterministic tie-break (score desc, id asc — the native
    * `top_k_by_score` convention), so recall SETS are cross-engine
    * identical, not just statistically close. */
  def ivfRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val v = vecs(spark, sfDir)
    val ids = Tables.embeddings(spark, sfDir).select(col("vec_id"))
    val cand = ids.filter(col("vec_id") < 10).select(col("vec_id").as("vec_a"))
      .crossJoin(ids.select(col("vec_id").as("vec_b")))
      .filter(col("vec_a") =!= col("vec_b"))
    val truth = topK(cand, v, BucketK).select(col("query_id"), col("neighbor_id"))
    val approx = annIvfHier(spark, sfDir)
      .filter(col("query_id") < 10)
      .select(col("query_id"), col("neighbor_id"))
    val matches = truth.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_match"))
    ids.filter(col("vec_id") < 10).select(col("vec_id").as("query_id"))
      .join(matches, Seq("query_id"), "left")
      .select(col("query_id"), lit(BucketK).as("k"),
        coalesce(col("n_match"), lit(0L)).as("n_match"),
        (floor(coalesce(col("n_match"), lit(0L)).cast("double")
          / lit(BucketK.toDouble) * lit(1e6) + lit(0.5)) / lit(1e6)).as("recall"))
      .orderBy("query_id")
  }

  /** q122_ann_ndcg — the RANKED index-quality audit, one step past
    * q109's set-based recall: NDCG@[[BucketK]] of the hierarchical IVF
    * ranking against the exact ranking, with graded relevance
    * `rel(d) = K+1 − exact_rank(d)` (K..1 for the exact top-K, 0
    * otherwise). Recall can't see that an index returns the right set
    * in the wrong ORDER; NDCG charges for it, which is what an ANN
    * serving team actually tracks per index build.
    *
    * Determinism: the discount is HARMONIC (1/(i+1), the DCG variant of
    * Järvelin & Kekäläinen 2002 with rank-reciprocal discounts) rather
    * than 1/log2(i+1) — with K=3 every per-rank gain is a rational with
    * denominator dividing 12, so `dcg12 = Σ rel·(12/(i+1))` is an exact
    * INTEGER aggregate (no float summation order to disagree on between
    * engines) and `ndcg = dcg12 / 29` (idcg12 = 3·6+2·4+1·3 = 29) is a
    * single division applied to identical integers on both sides.
    *
    * Scale shape: identical to [[ivfRecall]] — both rankings are
    * (queries×k)-row frames; everything downstream of the two top-k
    * aggregates is join/agg over O(queries·k) rows. */
  def annNdcg(spark: SparkSession, sfDir: String): DataFrame = {
    val v = vecs(spark, sfDir)
    val ids = Tables.embeddings(spark, sfDir).select(col("vec_id"))
    val cand = ids.filter(col("vec_id") < 10).select(col("vec_id").as("vec_a"))
      .crossJoin(ids.select(col("vec_id").as("vec_b")))
      .filter(col("vec_a") =!= col("vec_b"))
    val truth = topK(cand, v, BucketK)
      .select(col("query_id"), col("neighbor_id"),
        (lit(BucketK + 1) - col("rank")).as("rel"))
    val approx = annIvfHier(spark, sfDir)
      .filter(col("query_id") < 10)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
    // 12/(i+1) is integral for i = 1..3: 6, 4, 3
    val disc12 = element_at(array(lit(6), lit(4), lit(3)), col("rank"))
    val gains = approx.join(truth, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"),
        (coalesce(col("rel"), lit(0)) * disc12).as("g12"),
        when(col("rel").isNotNull, 1).otherwise(0).as("hit"))
    val idcg12 = (1 to BucketK).map(i => (BucketK + 1 - i) * (12 / (i + 1))).sum
    ids.filter(col("vec_id") < 10).select(col("vec_id").as("query_id"))
      .join(gains.groupBy("query_id")
        .agg(sum(col("g12")).as("dcg12"), sum(col("hit")).as("n_hits")),
        Seq("query_id"), "left")
      .select(col("query_id"), lit(BucketK).as("k"),
        coalesce(col("n_hits"), lit(0L)).cast("bigint").as("n_hits"),
        coalesce(col("dcg12"), lit(0L)).cast("bigint").as("dcg12"),
        (floor(coalesce(col("dcg12"), lit(0L)).cast("double")
          / lit(idcg12.toDouble) * lit(1e6) + lit(0.5)) / lit(1e6)).as("ndcg"))
      .orderBy("query_id")
  }

  /** q130_centroid_label — nearest-CENTROID classification (Rocchio):
    * one mean embedding per label over the labeled pool, each held-out
    * vector (the q92 `vec_id % 10 == 0` split) predicted as its
    * max-cosine centroid — the O(labels)-per-query classifier that
    * brackets q92's kNN from the cheap side (kNN scans neighbors;
    * Rocchio scans ≤|labels| centroids — the first thing a team ships
    * when label propagation must run over the full corpus).
    *
    * Determinism: per-dimension centroid means round to 6dp (the
    * k-means/lesson-10 pin — engine summation-order drift sits below
    * the grid), centroids rebuild as dimension-ORDERED arrays so the
    * query×centroid cosine is the same ascending-d accumulation both
    * engines, and the argmax is the `top_k_by_score` k=1 fold (tie →
    * smaller label id, matching the oracle's rank ORDER BY).
    *
    * Scale shape: means are one partial-aggregable groupBy over
    * exploded (label, dim) cells; the ≤labels×dims centroid table
    * broadcasts; prediction is a broadcast nested-loop over queries ×
    * centroids with the map-side k=1 fold — corpus rows stream once,
    * no window, no corpus-side shuffle beyond the mean aggregate. */
  def centroidLabel(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val cells = e.filter(col("vec_id") % 10 =!= 0)
      .select(col("label"), posexplode(col("v")).as(Seq("d", "x")))
    val means = cells.groupBy(col("label"), col("d"))
      .agg((floor(avg(col("x")) * lit(1e6) + lit(0.5)) / lit(1e6)).as("m"))
    val centroids = means.groupBy(col("label"))
      .agg(expr("transform(sort_array(collect_list(struct(d, m))), s -> s.m)").as("cv"))
      .select(col("label").as("clabel"), col("cv"))
    val queries = e.filter(col("vec_id") % 10 === 0)
    val scored = queries.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("label"),
        org.apache.spark.sql.graft.native
          .cosineSim(col("v"), col("cv")).as("c"), col("clabel"))
    scored.groupBy(col("vec_id"), col("label"))
      .agg(org.apache.spark.sql.graft.native
        .topKByScore(col("c"), col("clabel").cast("long"), 1).as("top"))
      .select(col("vec_id"), col("label"),
        col("top")(0)("id").cast("int").as("predicted"),
        (floor(col("top")(0)("score") * lit(1e6) + lit(0.5)) / lit(1e6)).as("cosine"),
        (col("top")(0)("id").cast("int") === col("label")).as("correct"))
      .orderBy("vec_id")
  }

  /** q127_cluster_inertia — the INDEX-GEOMETRY audit completing the
    * audit trio's coverage of the IVF family (q95 watches cell
    * population DRIFT, q109/q122 watch search QUALITY; this watches the
    * clustering itself): per trained cell, the member count, corpus
    * share, MEAN member→centroid cohesion and the WORST member — the
    * spherical-k-means analogue of k-means inertia, read after every
    * (re)train to spot under-split cells (low mean cohesion → raise k
    * or retrain) and assignment outliers (low min).
    *
    * Determinism: per-member cosines are bit-identical cross-engine
    * (same fused expression both sides), but their SUM is not — float
    * summation order differs — so each cosine is floor-quantized to
    * integer per-mille FIRST and the aggregate sums exact integers
    * (the q115/q116 integer-sketch-sum move); `min` needs no such
    * guard (order-independent). One division at the end per metric.
    *
    * Scale shape: one equi-join of the cell assignment artifact with
    * the corpus and the broadcast k-row codebook, then a
    * partial-aggregable groupBy(cell) — a single keyed exchange over
    * (cell, int) rows. */
  def clusterInertia(spark: SparkSession, sfDir: String): DataFrame = {
    val v = vecs(spark, sfDir)
    val cells = hierCells(spark, sfDir)
      .select(col("vec_id"), col("tc")(0)("id").as("cent_id"))
    val cb = trainedCodebook(spark, sfDir)
    val sims = cells.join(v, "vec_id")
      .join(broadcast(cb), "cent_id")
      .select(col("cent_id"),
        org.apache.spark.sql.graft.native.cosineSim(col("v"), col("cv")).as("c"))
    val per = sims.groupBy("cent_id").agg(
      count(lit(1)).as("n_vecs"),
      sum(floor(col("c") * lit(1000.0)).cast("long")).as("sum_permille"),
      min(col("c")).as("min_c"))
    val tot = per.agg(sum(col("n_vecs")).as("n_total"))
    per.crossJoin(broadcast(tot))
      .select(col("cent_id"), col("n_vecs"),
        (floor(col("sum_permille").cast("double") / col("n_vecs").cast("double")
          + lit(0.5)) / lit(1000.0)).as("mean_cohesion"),
        (floor(col("min_c") * lit(1e6) + lit(0.5)) / lit(1e6)).as("min_cohesion"),
        (floor(col("n_vecs").cast("double") / col("n_total").cast("double")
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("share"))
      .orderBy("cent_id")
  }

  /** q147_silhouette — the per-cell SILHOUETTE audit completing the
    * clustering-quality pair with q127 (inertia says how TIGHT each
    * cell is; silhouette says how SEPARATED it is from its nearest
    * rival): for each vector, a = cosine distance to its home
    * centroid, b = distance to the runner-up centroid from its own
    * probe ranking, s = (b − a) / max(a, b) ∈ [0, 1] — near 0 means
    * the vector sits on a cell boundary (assignment is arbitrary →
    * consider merging cells or raising nprobe), near 1 means clean
    * separation.
    *
    * This is the INDEX-NATIVE silhouette: both distances are read
    * straight from the memoized [[hierCells]] probe ranking (tc[0] /
    * tc[1]) — ZERO extra cosines at any corpus scale, which is exactly
    * how a 100 TB deployment audits its index (the classic simplified
    * silhouette recomputes n·k cosines; the probed variant is the
    * scalable estimator and identical for vectors whose true second
    * cell is probed). Vectors with a single probed cell (possible only
    * in degenerate tiny-k corners) are excluded by spec.
    *
    * Determinism: per-vector s floor-quantizes to integer per-mille
    * before the mean (the q127 sum-order rule); `min` is
    * order-independent and rounds at 1e-6. */
  def silhouette(spark: SparkSession, sfDir: String): DataFrame = {
    val t = hierCells(spark, sfDir)
      .filter(size(col("tc")) >= 2)
      .select(col("tc")(0)("id").as("cent_id"),
        (lit(1.0) - col("tc")(0)("score")).as("da"),
        (lit(1.0) - col("tc")(1)("score")).as("db"))
    val sil = t.select(col("cent_id"),
      when(greatest(col("da"), col("db")) < lit(1e-12), lit(0.0))
        .otherwise((col("db") - col("da")) / greatest(col("da"), col("db")))
        .as("s"))
    sil.groupBy(col("cent_id")).agg(
      count(lit(1)).as("n_vecs"),
      sum(floor(col("s") * lit(1000.0)).cast("long")).as("sum_permille"),
      min(col("s")).as("min_s"))
      .select(col("cent_id"), col("n_vecs"),
        (floor(col("sum_permille").cast("double") / col("n_vecs").cast("double")
          + lit(0.5)) / lit(1000.0)).as("mean_silhouette"),
        (floor(col("min_s") * lit(1e6) + lit(0.5)) / lit(1e6)).as("min_silhouette"))
      .orderBy("cent_id")
  }

  /** q363_cluster_validity — Davies-Bouldin (1979) and
    * Calinski-Harabasz (1974) validity indices over the memoized IVF
    * cell assignment: the two standard "is this clustering real"
    * summaries that complement q147's per-cell silhouette (silhouette
    * grades each CELL's separation from its runner-up; DB penalizes
    * the worst-confused PAIR per cluster, CH prices the global
    * between/within variance ratio — the one number a capacity plan
    * compares across k choices). Both computed in the index's own
    * Euclidean geometry from one corpus pass.
    *
    * Determinism (the q127/q147 floor-before-sum convention): the only
    * corpus-scale float is the per-vector squared distance to its home
    * centroid — computed by the SAME fused ascending-d fold on both
    * engines (native `l2_sq` ⟷ DuckDB list_sum comprehension,
    * bit-identical by fuzz) and floor-quantized to micro BEFORE the
    * integer sums; the global centroid uses q149's per-dim
    * round-to-1e-6 means; all cluster-level quantities (scatter,
    * centroid gaps, ratios) then derive from integers or 1e-6-grid
    * values and quantize to micro before their own folds.
    *
    * Scale shape: one assignment⋈vectors equi-join + broadcast
    * codebook → ONE partial-aggregable per-cell aggregate (scatter,
    * size); the global-centroid pass is q149's component aggregate;
    * everything after (pairwise centroid gaps, per-cluster worst
    * ratio, the two indices) lives on the k²-bounded centroid PAIR
    * domain — fine while k ≲ 10⁴ (10⁸ pair rows); at k = 10⁵ cells
    * (10¹⁰ vectors) the k² grid is itself corpus-scale, and the
    * standard mitigation is restricting each cluster's R_ij search to
    * nearby centroids (its own ANN problem over k points). Output:
    * 1 row. */
  def clusterValidity(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.graft.{native => gf}
    val asg = hierCells(spark, sfDir)
      .select(col("vec_id"), col("tc")(0)("id").as("cent_id"))
    val cb = trainedCodebook(spark, sfDir)
    // per-vector squared distance to the home centroid, micro-floored
    val d2 = asg
      .join(vecs(spark, sfDir), "vec_id")
      .join(broadcast(cb), "cent_id")
      .select(col("cent_id"),
        floor(gf.l2Sq(col("v"), col("cv")) * lit(1e6)).cast("long").as("d2u"))
    val perCell = d2.groupBy(col("cent_id"))
      .agg(count(lit(1)).as("n_i"), sum(col("d2u")).as("ssw_u"))
      .localCheckpoint() // k rows; feeds W, B, S_i and the DB pair grid
    // global data centroid on the 1e-6 grid (q149's convention)
    val gmean = components(spark, sfDir)
      .groupBy(col("d")).agg(round(avg(col("x")), 6).as("m"))
      .groupBy().agg(expr("transform(array_sort(collect_list(struct(d, m))), s -> s.m)").as("gv"))
    // per-cluster: scatter S_i = sqrt(mean d2) and centroid gap to the
    // global mean — both from integer/grid inputs
    val cells = perCell.join(broadcast(cb), "cent_id")
      .crossJoin(broadcast(gmean))
      .select(col("cent_id"), col("n_i"), col("ssw_u"),
        col("cv"),
        floor(gf.l2Sq(col("cv"), col("gv")) * lit(1e6)).cast("long").as("g2u"))
      .localCheckpoint() // k rows, read by both the sums and the pair grid
    val pairMax = cells.as("i")
      .join(broadcast(cells.as("j")), col("i.cent_id") =!= col("j.cent_id"))
      .select(col("i.cent_id").as("cent_id"),
        // R_ij = (S_i + S_j) / M_ij on the micro grid: S from integer
        // scatter means, M from the 1e-6-grid centroid coordinates
        floor(((sqrt(col("i.ssw_u").cast("double") / col("i.n_i") / lit(1e6)) +
          sqrt(col("j.ssw_u").cast("double") / col("j.n_i") / lit(1e6))) /
          sqrt(greatest(gf.l2Sq(col("i.cv"), col("j.cv")), lit(1e-12))))
          * lit(1e6)).cast("long").as("r_u"))
      .groupBy(col("cent_id")).agg(max(col("r_u")).as("worst_u"))
    val db = pairMax.agg(
      count(lit(1)).as("k_cells"), sum(col("worst_u")).as("sum_worst_u"))
    val sums = cells.agg(
      count(lit(1)).as("k2"), sum(col("n_i")).as("n_vecs"),
      sum(col("ssw_u")).as("w_u"), sum(col("n_i") * col("g2u")).as("b_u"))
    sums.crossJoin(broadcast(db))
      .select(col("n_vecs"), col("k_cells"), col("w_u"), col("b_u"),
        round((col("b_u").cast("double") / (col("k_cells") - 1)) /
          (col("w_u").cast("double") / (col("n_vecs") - col("k_cells"))), 6)
          .as("calinski_harabasz"),
        round(col("sum_worst_u").cast("double") / col("k_cells") / lit(1e6), 6)
          .as("davies_bouldin"))
  }

  /** q362 seed count — enough to exercise the maximin recurrence while
    * keeping the oracle's unrolled CTE chain readable. */
  val KcenterK = 5

  /** q362_kcenter_seeds — farthest-point (maximin / k-center, Gonzalez
    * 1985) diversity seed selection over the embedding table: start
    * from the lowest vec_id, then [[KcenterK]]−1 times pick the vector
    * FARTHEST (squared L2) from the already-chosen set. The selected
    * radius sequence is the classic 2-approximation of the k-center
    * cost — the "how many exemplars until the corpus is covered" curve
    * a labeling/curation budget reads, and the diverse-seed picker for
    * clustering inits and eval-set construction (q48/q73 pick
    * representative or NEAR-DUPLICATE-free subsets; this picks a
    * maximally SPREAD one).
    *
    * Determinism: per-vector squared distances floor-quantize to micro
    * integers (the q127 rule; the l2_sq fold is bit-identical on both
    * engines — q363's fuzz) BEFORE the min-over-seeds and the
    * argmax, so every selection is an integer comparison with the
    * (distance DESC, vec_id ASC) total order.
    *
    * Scale shape: k−1 rounds, each ONE partial-aggregable
    * argmax-aggregate corpus pass against ≤ k broadcast literal seed
    * vectors (the per-round winner is a 1-row collect — bounded driver
    * state, the PQ-codebook class); no joins, no windows, no shuffle
    * beyond the 1-row aggregates. At 10¹⁰ vectors each round is a
    * scan; k is a constant (a labeling budget), so the operator is
    * O(k·scan) with O(k·dims) driver state. */
  def kcenterSeeds(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.graft.{native => gf}
    val v = vecs(spark, sfDir)
    val first = v.orderBy(col("vec_id")).limit(1)
      .collect().head
    var seeds = List[(Long, Array[Double], Long)](
      (first.getLong(0), first.getSeq[Double](1).toArray, 0L))
    val k = math.min(KcenterK.toLong, corpusSize(spark, sfDir)).toInt
    for (_ <- 2 to k) {
      val seedCols = seeds.map { case (_, sv, _) =>
        floor(gf.l2Sq(col("v"), array(sv.map(lit): _*)) * lit(1e6)).cast("long")
      }
      val md = seedCols.reduce(least(_, _))
      val chosen = v
        .filter(!col("vec_id").isin(seeds.map(_._1): _*))
        .select(col("vec_id"), col("v"), md.as("md"))
        .agg(max(struct(col("md"), (-col("vec_id")).as("ni"), col("v"))).as("best"))
        .collect().head.getStruct(0)
      seeds = (-chosen.getLong(1), chosen.getSeq[Double](2).toArray,
        chosen.getLong(0)) :: seeds
    }
    import spark.implicits._
    seeds.reverse.zipWithIndex
      .map { case ((id, _, r), i) => (i + 1, id, r) }
      .toDF("seed_rank", "vec_id", "radius_u")
  }

  /** q149_embed_isotropy — corpus-level embedding-geometry diagnostics:
    * the mean vector's squared norm (an isotropic cloud has a mean
    * near the origin; a large norm = a dominant common direction —
    * the anisotropy problem that breaks cosine retrieval) and the
    * distribution of per-vector cosines to that mean (uniformly high
    * = all vectors share one cone → ANN recall and near-dup
    * thresholds degrade). Read before trusting any cosine-based
    * operator on a new embedding table.
    *
    * Determinism: per-dim means round to 1e-6 (the q130/codebook
    * convention — cross-engine sum drift is orders below that grid),
    * making the mean vector exactly representable; its squared norm is
    * then a 64-term sum of grid rationals (drift ~1e-16, rounded 1e-6);
    * per-vector cosines to the broadcast mean use the same fused
    * expression as every ANN oracle and floor-quantize to per-mille
    * before the integer mean (the q127 rule).
    *
    * Scale shape: one partial-aggregable (d → mean) aggregate over
    * exploded components; the 64-row mean vector broadcasts back into
    * a single scan computing cosines — two passes, no corpus shuffle
    * beyond the 64-group aggregate. */
  def embedIsotropy(spark: SparkSession, sfDir: String): DataFrame = {
    val comp = components(spark, sfDir)
    val means = comp.groupBy(col("d"))
      .agg((floor(avg(col("x")) * lit(1e6) + lit(0.5)) / lit(1e6)).as("m"))
    val meanVec = means
      .agg(expr("transform(sort_array(collect_list(struct(d, m))), s -> s.m)").as("mv"))
      .select(col("mv"),
        (floor(expr("aggregate(mv, 0.0d, (acc, e) -> acc + e * e)") * lit(1e6)
          + lit(0.5)) / lit(1e6)).as("mean_norm2"))
    val cos = vecs(spark, sfDir).crossJoin(broadcast(meanVec))
      .select(col("mean_norm2"),
        org.apache.spark.sql.graft.native.cosineSim(col("v"), col("mv")).as("c"))
    cos.groupBy(col("mean_norm2")).agg(
      count(lit(1)).as("n_vecs"),
      sum(floor(col("c") * lit(1000.0)).cast("long")).as("sum_permille"),
      min(col("c")).as("min_c"), max(col("c")).as("max_c"))
      .select(col("n_vecs"), col("mean_norm2"),
        (floor(col("sum_permille").cast("double") / col("n_vecs").cast("double")
          + lit(0.5)) / lit(1000.0)).as("mean_cos_to_mean"),
        (floor(col("min_c") * lit(1e6) + lit(0.5)) / lit(1e6)).as("min_cos"),
        (floor(col("max_c") * lit(1e6) + lit(0.5)) / lit(1e6)).as("max_cos"))
  }

  /** q154_embed_variance — the variance SPECTRUM diagnostic completing
    * q149's first-moment view with second moments: per-dimension
    * variances collapse into (total variance, max-variance dimension,
    * participation ratio PR = (Σσ²)²/Σσ⁴) — PR is the "effective
    * dimensionality" of the cloud (64 = perfectly isotropic, ≈1 =
    * rank-collapsed embeddings that will defeat both ANN recall and
    * near-dup thresholds). The diagonal-covariance estimate of the
    * spectral picture — no eigensolve, one aggregate.
    *
    * Determinism: components floor-quantize to integer micros at the
    * scan, so per-dim (n, Σx, Σx²) are EXACT integer sums (Σx² ≤
    * 64·n·(2²⁰)² ≪ 2⁶³) and every variance is the same rational on
    * both engines; the spectrum sums run over 64 such rationals in a
    * bounded frame. Variances quantize to 1e-9 before Σσ² / Σσ⁴ (the
    * summand grid), with the final ratios on the 1e-6 grid.
    *
    * Scale shape: ONE partial-aggregable 64-group aggregate over the
    * exploded scan; everything after is a 64-row frame. */
  def embedVariance(spark: SparkSession, sfDir: String): DataFrame = {
    val q = components(spark, sfDir)
      .select(col("d"), floor(col("x") * lit(1e6) + lit(0.5)).cast("long").as("xq"))
    val perDim = q.groupBy(col("d")).agg(
      count(lit(1)).as("n"), sum(col("xq")).as("sx"), sum(col("xq") * col("xq")).as("sxx"))
      // var = (Σx² − (Σx)²/n) / n in micro² units → back to unit scale,
      // quantized to 1e-9 so the spectrum sums are integer
      .select(col("d"), col("n"),
        floor((col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double") / col("n").cast("double"))
          / col("n").cast("double") / lit(1e12) * lit(1e9) + lit(0.5))
          .cast("long").as("var_nano"))
    val spectrum = perDim.agg(
      count(lit(1)).as("n_dims"),
      max(col("n")).as("n_vecs"),
      sum(col("var_nano")).as("tot_nano"),
      max(col("var_nano")).as("max_nano"),
      sum(col("var_nano") * col("var_nano")).as("sq_nano2"))
    spectrum.select(
      col("n_vecs"), col("n_dims"),
      (col("tot_nano").cast("double") / lit(1e9)).as("total_var"),
      (col("max_nano").cast("double") / lit(1e9)).as("max_var"),
      (floor(col("tot_nano").cast("double") * col("tot_nano").cast("double")
        / col("sq_nano2").cast("double") * lit(1e6) + lit(0.5)) / lit(1e6))
        .as("participation_ratio"))
  }

  /** q177 PCA quantization: components → integer tenth-millis. */
  val PcaQ = 10000L
  /** q177 power-iteration rounds (fixed — determinism over adaptivity). */
  val PcaIters = 8
  /** q177 reported loadings. */
  val PcaTopDims = 5

  /** q177_pca_power — top principal component of the embedding table by
    * power iteration over the distributed covariance Gram matrix: the
    * direction along which the corpus actually varies. q149 (isotropy)
    * and q154 (variance spectrum) DIAGNOSE anisotropy; this op is the
    * remediation input — the leading axis an embedding pipeline removes
    * (all-but-the-top ABTT / post-processing whitening) or monitors for
    * drift, with its eigenvalue and explained-variance share graded
    * beside the top loadings.
    *
    * EXACT-INTEGER power iteration, the cross-engine trick: components
    * quantize to [[PcaQ]] integers at the scan, so the 64×64 scatter
    * matrix M = n·Σxxᵀ − (Σx)(Σx)ᵀ (= n²·Cov, scaled) is an exact
    * integer matrix; the iterate v stays INTEGER (max-normalized:
    * v ← sign(w)·(|w|·Q div max|w|), w = M·v in big-integer space), so
    * EVERY iteration is arbitrary-precision integer arithmetic with NO
    * float anywhere — sum order, ulps, and sqrt parity problems never
    * arise (Scala BigInt ↔ DuckDB HUGEINT). Sign canonicalization:
    * flip so the largest-|loading| dim (ties → lowest dim) is
    * positive. λ and the explained share come from integer Rayleigh
    * quotients (truncating division at 1e-9/1e-6) — one float division
    * each, on identical integers.
    *
    * Scale shape: the Gram matrix is ONE partial-aggregable 4096-group
    * aggregate over a scan-local double-posexplode (n·d² rows, the
    * irreducible Gram cost, map-side combined to 4096 rows per
    * partition — never a corpus-keyed shuffle); the column sums are a
    * 64-group aggregate. The 8 iterations run on the COLLECTED 64×64
    * matrix — O(d²) driver state (the codebook precedent), zero Spark
    * jobs per iteration; at any corpus size the distributed cost is
    * the two aggregates. Magnitude budget: |xq| ≤ 0.6·Q, so
    * M ≤ n²·(0.6·Q)² ≈ 1.4e14 at n = 2000 — Spark's long sums hold to
    * n ≈ 5e8 vectors; past that the Gram aggregate moves to
    * decimal(38,0) (the CC-signature precedent). */
  /** The exact-integer top-PC recurrence shared by q177 (which grades
    * its loadings/λ) and q285 (which projects it out): returns the
    * canonical-sign integer loading vector v (scale [[PcaQ]]), the
    * integer scatter matrix M, and n. O(d²) driver state. */
  private[graft] def topPcState(spark: SparkSession, sfDir: String)
      : (Array[BigInt], Array[Array[BigInt]], Long) = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val withJ = e.select(posexplode(col("v")).as(Seq("j", "xj")), col("v"))
      .select(col("j").cast("long").as("j"),
        floor(col("xj") * PcaQ + lit(0.5)).cast("long").as("qj"), col("v"))
    val gram = withJ
      .select(col("j"), col("qj"), posexplode(col("v")).as(Seq("k", "xk")))
      .select(col("j"), col("qj"), col("k").cast("long").as("k"),
        floor(col("xk") * PcaQ + lit(0.5)).cast("long").as("qk"))
      .groupBy(col("j"), col("k")).agg(sum(col("qj") * col("qk")).as("sjk"))
    val sums = e.select(posexplode(col("v")).as(Seq("j", "x")))
      .select(col("j").cast("long").as("j"),
        floor(col("x") * PcaQ + lit(0.5)).cast("long").as("xq"))
      .groupBy(col("j")).agg(sum(col("xq")).as("s"), count(lit(1)).as("n"))
    // driver assembly: 64 column sums + 4096 scatter entries — O(d²)
    val sRows = sums.collect()
    val d = sRows.length
    val n = sRows.head.getAs[Long]("n")
    val sj = Array.ofDim[Long](d)
    sRows.foreach(r => sj(r.getAs[Long]("j").toInt) = r.getAs[Long]("s"))
    val m = Array.ofDim[BigInt](d, d)
    gram.collect().foreach { r =>
      val (j, k) = (r.getAs[Long]("j").toInt, r.getAs[Long]("k").toInt)
      m(j)(k) = BigInt(n) * r.getAs[Long]("sjk") - BigInt(sj(j)) * sj(k)
    }
    var v = Array.fill(d)(BigInt(PcaQ))
    for (_ <- 1 to PcaIters) {
      val w = Array.tabulate(d)(j => (0 until d).map(k => m(j)(k) * v(k)).sum)
      val wmax = w.map(_.abs).max
      v = w.map(wj => wj.signum * (wj.abs * PcaQ / wmax))
    }
    // canonical sign: the largest-|loading| dim (ties → lowest) positive
    val lead = (0 until d).maxBy(j => (v(j).abs, BigInt(-j)))
    if (v(lead).signum < 0) v = v.map(-_)
    (v, m, n)
  }

  def pcaPower(spark: SparkSession, sfDir: String): DataFrame = {
    val (v, m, n) = topPcState(spark, sfDir)
    val d = v.length
    val vMv = (for (j <- 0 until d; k <- 0 until d) yield v(j) * m(j)(k) * v(k)).sum
    val vv = v.map(x => x * x).sum
    val trace = (0 until d).map(j => m(j)(j)).sum
    val lambdaNano = vMv * BigInt(1000000000L) /
      (vv * BigInt(n) * BigInt(n) * BigInt(PcaQ) * BigInt(PcaQ))
    val sharePpm = vMv * BigInt(1000000L) / (vv * trace)
    val top = (0 until d).map(j => (v(j).abs, j)).sortBy(t => (-t._1, t._2))
      .take(PcaTopDims).zipWithIndex
      .map { case ((_, j), i) =>
        (i + 1L, j.toLong, v(j).toLong.toDouble / PcaQ,
          lambdaNano.toLong.toDouble / 1e9, sharePpm.toLong.toDouble / 1e6)
      }
    import spark.implicits._
    top.toSeq.toDF("loading_rank", "dim", "loading", "lambda1", "explained_share")
  }

  /** q285_abtt — "All-but-the-Top" embedding post-processing (Mu &
    * Viswanath 2018): subtract the mean vector, project out the top
    * principal component, and measure how much common-direction
    * energy the correction removed — the standard cheap fix for the
    * anisotropy q149 diagnoses (embeddings sharing a dominant
    * direction make every cosine optimistically similar, hurting both
    * ANN contrast and near-dup thresholds); the graded numbers are
    * the mean-vector energy before/after and the mean |projection|
    * onto the removed component.
    *
    * Determinism: the component is q177's EXACT-INTEGER power
    * iteration (shared recurrence, zero float drift); v̂ and all
    * per-row work are fixed-ascending-order array arithmetic (the
    * q16/q233 convention); the only cross-row float sums are per-dim
    * averages absorbed on the 6dp grid (q149's precedent).
    *
    * Scale shape: the PC costs q177's two aggregates; the correction
    * is scan-local array math against a BROADCAST (μ, v̂) pair; the
    * audit re-runs the 64-group mean aggregate on residuals; 1-row
    * output. At 100 TB this is exactly the shape of a production
    * embedding-normalization pass: one tiny trained artifact, one
    * map-only rewrite, one audit aggregate. */
  def abtt(spark: SparkSession, sfDir: String): DataFrame = {
    val (vInt, _, _) = topPcState(spark, sfDir)
    val vn = math.sqrt(vInt.map(x => x * x).sum.toDouble)
    val vhLit = array(vInt.map(x => lit(x.toDouble / vn)): _*)
    val v = vecs(spark, sfDir)
    def dimMeans(df: DataFrame, c: String): DataFrame = df
      .select(posexplode(col(c)).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg((floor(avg(col("x")) * lit(1e6) + lit(0.5)) / lit(1e6)).as("m"))
      .agg(expr("transform(sort_array(collect_list(struct(d, m))), s -> s.m)")
        .as("mv"))
    def norm2(mv: Column): Column =
      floor(aggregate(mv, lit(0.0), (acc, e) => acc + e * e) * lit(1e6)
        + lit(0.5)) / lit(1e6)
    val mu = dimMeans(v, "v").select(col("mv").as("mu"))
    val withU = v.crossJoin(broadcast(mu))
      .select(col("vec_id"),
        zip_with(col("v"), col("mu"), (x, m) => x - m).as("u"))
    val withProj = withU.select(col("vec_id"), col("u"),
      aggregate(zip_with(col("u"), vhLit, (a, b) => a * b), lit(0.0),
        (acc, e) => acc + e).as("proj"))
    val resid = withProj.select(col("vec_id"), col("proj"),
      zip_with(col("u"), vhLit, (uj, vj) => uj - col("proj") * vj).as("r"))
      .localCheckpoint()
    val stats = resid.agg(count(lit(1)).as("n_vecs"),
      (floor(avg(abs(col("proj"))) * lit(1e6) + lit(0.5)) / lit(1e6))
        .as("mean_abs_proj"))
    val before = mu.select(norm2(col("mu")).as("norm2_before"))
    val after = dimMeans(resid, "r")
      .select(norm2(col("mv")).as("norm2_after"))
    stats.crossJoin(broadcast(before)).crossJoin(broadcast(after))
      .select(col("n_vecs"), col("mean_abs_proj"),
        col("norm2_before"), col("norm2_after"),
        when(col("norm2_before") > 0.0,
          floor((col("norm2_before") - col("norm2_after"))
            / col("norm2_before") * lit(1e6)).cast("long"))
          .as("reduction_ppm"))
  }

  /** q161_cell_purity — the EXTERNAL-LABEL audit of the trained cells:
    * per cell, the majority label, its share, and the label-entropy —
    * the supervised complement of q127 (cohesion) and q147
    * (separation): those ask whether the geometry is tight; this asks
    * whether the cells MEAN anything (a pure cell = the index doubles
    * as a cheap classifier / topic shard; uniform entropy = cells cut
    * across semantics and cluster-balanced sampling (q86) won't
    * balance topics).
    *
    * Determinism: label counts are exact integers; the majority pick
    * is max(struct(count, −label)) — the deterministic
    * largest-count-smallest-label law with no window; entropy
    * summands −(c/n)·ln(c/n) compute from the same integers both
    * engines and floor-quantize to 1e-9 before the per-cell integer
    * sum (the q152 rule); shares floor on the 1e-6 grid.
    *
    * Scale shape: one equi-join of the memoized cell artifact with
    * the (vec_id, label) projection, a (cell, label) count aggregate
    * (≤ k·labels rows), and two bounded-frame folds — corpus rows
    * stream once, zero cosines. */
  def cellPurity(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = hierCells(spark, sfDir)
      .select(col("vec_id"), col("tc")(0)("id").as("cent_id"))
    val labels = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("label"))
    val cl = cells.join(labels, "vec_id")
      .groupBy(col("cent_id"), col("label")).agg(count(lit(1)).as("c"))
    val tot = cl.groupBy(col("cent_id")).agg(sum(col("c")).as("n_vecs"))
    val terms = cl.join(tot, "cent_id")
      .select(col("cent_id"), col("n_vecs"), col("c"), col("label"),
        floor((col("c").cast("double") / col("n_vecs").cast("double"))
          * (lit(0.0) - log(col("c").cast("double") / col("n_vecs").cast("double")))
          * lit(1e9) + lit(0.5)).cast("long").as("h_nano"))
    terms.groupBy(col("cent_id"), col("n_vecs"))
      .agg(max(struct(col("c"), (lit(0L) - col("label").cast("long")).as("nl"))).as("top"),
        sum(col("h_nano")).as("ent_nano"),
        count(lit(1)).as("n_labels"))
      .select(col("cent_id"), col("n_vecs"), col("n_labels"),
        (lit(0L) - col("top.nl")).cast("int").as("top_label"),
        (floor(col("top.c").cast("double") / col("n_vecs").cast("double")
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("top_share"),
        (col("ent_nano").cast("double") / lit(1e9)).as("entropy"))
      .orderBy("cent_id")
  }

  /** q281_cluster_nmi — normalized mutual information between the
    * trained k-means cells and the ground-truth labels: I(C;L) /
    * √(H(C)·H(L)) — THE standard external cluster-evaluation score
    * (what every clustering paper reports), completing the per-cell
    * views (q161 purity/entropy, q127 inertia, q147 silhouette) with
    * the single corpus-level number that is comparable across k (raw
    * purity inflates as k grows; NMI doesn't). 8th `hierCells`
    * consumer.
    *
    * Determinism: the contingency grid is exact integers; every
    * summand floor-nano-quantizes before its integer sum (negative
    * MI terms floor identically); NMI is one floor of a double ratio
    * with the nano·nano product formed in doubles (q280's overflow
    * note).
    *
    * Scale shape: one (cell, label) count over the memoized
    * assignment, marginals roll up from the grid, 1-row output. */
  def clusterNmi(spark: SparkSession, sfDir: String): DataFrame = {
    val cl = hierCells(spark, sfDir)
      .select(col("vec_id"), col("tc")(0)("id").as("cent_id"))
      .join(Tables.embeddings(spark, sfDir).select(col("vec_id"), col("label")),
        "vec_id")
      .groupBy(col("cent_id"), col("label")).agg(count(lit(1)).as("o"))
      .localCheckpoint()
    val rc = cl.groupBy(col("cent_id")).agg(sum(col("o")).as("r"))
    val ll = cl.groupBy(col("label")).agg(sum(col("o")).as("c"))
    val nn = cl.agg(sum(col("o")).as("nn"))
    val mi = cl.join(broadcast(rc), "cent_id").join(broadcast(ll), "label")
      .crossJoin(broadcast(nn))
      .select(floor(col("o").cast("double") / col("nn").cast("double")
        * log((col("o") * col("nn")).cast("double")
          / (col("r") * col("c")).cast("double")) * lit(1e9))
        .cast("long").as("t"))
      .agg(count(lit(1)).as("n_cells_labels"), sum(col("t")).as("mi_nano"))
    def ent(cnt: String): Column =
      floor(col(cnt).cast("double") / col("nn").cast("double")
        * log(col("nn").cast("double") / col(cnt).cast("double")) * lit(1e9))
        .cast("long")
    val hc = rc.crossJoin(broadcast(nn))
      .select(ent("r").as("t")).agg(sum(col("t")).as("h_cells_nano"))
    val hlb = ll.crossJoin(broadcast(nn))
      .select(ent("c").as("t")).agg(sum(col("t")).as("h_labels_nano"))
    mi.crossJoin(broadcast(hc)).crossJoin(broadcast(hlb))
      .select(col("n_cells_labels"), col("mi_nano"),
        col("h_cells_nano"), col("h_labels_nano"),
        floor(col("mi_nano").cast("double")
          / sqrt(col("h_cells_nano").cast("double")
            * col("h_labels_nano").cast("double"))
          * lit(1e9)).cast("long").as("nmi_nano"))
  }

  /** Shared IVF search tail over a (vec_id, tc) cell assignment:
    * index side = home cell tc[0], query side probes every tc cell;
    * the probe⋈cell equi-join emits each pair at most once (one home
    * cell per vector), exact cosine verifies, top-[[BucketK]] ranks. */
  private def probeSearch(top2: DataFrame, v: DataFrame): DataFrame = {
    val cells = top2.select(col("vec_id"), col("tc")(0)("id").as("cent_id"))
    val probes = top2
      .select(col("vec_id").as("vec_a"), explode(col("tc")).as("s"))
      .select(col("vec_a"), col("s.id").as("cent_id"))
    val cand = probes
      .join(cells.select(col("vec_id").as("vec_b"), col("cent_id")), "cent_id")
      .filter(col("vec_a") =!= col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
    topK(cand, v, BucketK)
  }

  /** q87_ann_incremental — INCREMENTAL index maintenance, the missing
    * operation between "build the IVF index" (q28/q57) and "rebuild it
    * per ingestion batch" (which nobody does at 100 TB): an ingestion
    * batch (the last fifth of the corpus by vec_id, the q63 split
    * convention) is assigned to the EXISTING trained cells — one
    * batch×coarse-probe [[hierCellAssignment]] pass over ONLY the new
    * vectors, no retraining, no touching the stored base assignment —
    * and the appended rows union with the base index. Graded output:
    * top-3 search for the first 10 BATCH vectors over the UPDATED
    * (corpus+batch) index, proving the appended rows are immediately
    * searchable.
    *
    * Scale shape: the per-batch cost is |batch|·5√k cosines + one
    * union — independent of the base corpus size, which is the entire
    * point of incremental maintenance (the base index is the memoized
    * [[hierCells]] artifact; at 100 TB, the persisted index table).
    * Because [[hierCellAssignment]] is per-vector deterministic given
    * the codebook, the appended rows are row-identical to what a full
    * rebuild would assign — so the oracle reuses the unchanged
    * training + hierarchical-assignment CTEs and just filters probes
    * to the batch ids. */
  def annIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val v = vecs(spark, sfDir)
    val n = corpusSize(spark, sfDir)
    val s = n * 4 / 5
    val k = math.max(IvfMinCentroids, math.ceil(math.sqrt(n.toDouble)).toInt)
    // existing index: the session artifact, restricted to the base ids
    val base = hierCells(spark, sfDir).filter(col("vec_id") < s)
    // batch maintenance pass: assign ONLY the new vectors to the
    // existing codebook (no retraining — trainedCodebook is memoized)
    val batchAsg = hierCellAssignment(
      spark, v.filter(col("vec_id") >= s), trainedCodebook(spark, sfDir), k)
    val updated = base.unionAll(batchAsg)
    val cells = updated.select(col("vec_id"), col("tc")(0)("id").as("cent_id"))
    // queries = the first 10 batch vectors, probing their assigned cells
    val probes = batchAsg.filter(col("vec_id") < s + 10)
      .select(col("vec_id").as("vec_a"), explode(col("tc")).as("p"))
      .select(col("vec_a"), col("p.id").as("cent_id"))
    val cand = probes
      .join(cells.select(col("vec_id").as("vec_b"), col("cent_id")), "cent_id")
      .filter(col("vec_a") =!= col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
    topK(cand, v, BucketK)
  }

  /** Out-degree / beam width / hops / entry points of the CENTROID
    * graph used by the q83 graph-quantized assignment (the q62 search
    * parameters applied to the codebook). */
  val CgM = 6
  val CgBeam = 8
  val CgHops = 3
  val CgEntry = 4

  /** q83_ann_ivf_graph — IVF with GRAPH-QUANTIZED assignment: the
    * codebook itself gets a q62-style NSW neighborhood graph (LSH
    * candidates among the k centroids → top-[[CgM]] cosine out-edges),
    * and every corpus vector routes to its cells by BATCH beam search
    * over that graph — [[CgEntry]] entry centroids, [[CgHops]] static
    * hops, beam [[CgBeam]], final top-[[IvfNProbe]] = its cells.
    *
    * Assignment cost per vector is entry + hops·beam·[[CgM]] ≈ 150
    * cosines, INDEPENDENT of k — vs n·k flat (q28) and n·5√k
    * hierarchical (q57): at k = 4×10⁵ that is ~2600× and ~20× fewer
    * build cosines respectively, the n·O(log k)-family endpoint NOTES
    * called the step beyond the two-level quantizer. Graph build cost
    * is k·bucket (LSH-bounded, never k²); the per-hop frontier
    * (n×beam rows) is the iterative state a deployment persists
    * between stages — each hop is a keyed equi-join + the partial-
    * aggregable top-k aggregate, no windows, no driver loops.
    * Search side is [[probeSearch]], identical to q28/q57; the oracle
    * replays training + graph + beam recurrence + probe/rank
    * end-to-end. */
  def annIvfGraph(spark: SparkSession, sfDir: String): DataFrame =
    probeSearch(graphCells(spark, sfDir), vecs(spark, sfDir))

  /** The graph-quantized (vec_id, tc) cell assignment feeding q83. */
  private[graft] def graphCells(spark: SparkSession, sfDir: String): DataFrame = {
    val v = vecs(spark, sfDir)
    val n = corpusSize(spark, sfDir)
    val k = math.max(IvfMinCentroids, math.ceil(math.sqrt(n.toDouble)).toInt)
    val fine = trainedCodebook(spark, sfDir)
    // NSW graph over the codebook: LSH codes on the CENTROID vectors
    // (tag "cg", bits sized from k), Hamming-<=1 masked-bucket
    // candidates, top-CgM cosine out-edges per centroid
    val cvAsV = fine.select(col("cent_id").cast("long").as("vec_id"), col("cv").as("v"))
    val bits = adaptiveBits(k)
    val coded = codes(cvAsV, "cg", 1, bits).select(col("vec_id"), col("c"))
    val masked = coded.select(col("vec_id"), posexplode(array(
      (0 until bits).map(i => col("c").bitwiseAND(lit(~(1 << i)))): _*)).as(Seq("t", "mc")))
    val cpairs = bothDirections(
      CandidatePairs.boundedSelfJoin(masked, Seq("t", "mc"), "vec_id", 2 * BucketCap))
    val adj = pairCosine(cpairs, cvAsV)
      .groupBy(col("vec_a"))
      .agg(org.apache.spark.sql.graft.native
        .topKByScore(col("cosine"), col("vec_b"), CgM).as("top"))
      .select(col("vec_a").as("src"), explode(col("top")).as("s"))
      .select(col("src"), col("s.id").as("dst"))
      .localCheckpoint()
    // batch beam search: EVERY corpus vector walks the centroid graph
    val cvNode = broadcast(fine
      .select(col("cent_id").cast("long").as("node"), col("cv").as("nv")))
    def scored(frontier: DataFrame): DataFrame = frontier
      .join(cvNode, "node")
      .join(v, "vec_id")
      .select(col("vec_id"), col("node"),
        org.apache.spark.sql.graft.native.cosineSim(col("v"), col("nv")).as("sim"))
    def beam(sc: DataFrame, kk: Int): DataFrame = sc
      .groupBy(col("vec_id"))
      .agg(org.apache.spark.sql.graft.native
        .topKByScore(col("sim"), col("node"), kk).as("top"))
    val entry = broadcast(fine.orderBy("cent_id").limit(CgEntry)
      .select(col("cent_id").cast("long").as("node")))
    val f0 = beam(scored(v.select(col("vec_id")).crossJoin(entry)), CgBeam)
      .select(col("vec_id"), explode(col("top")("id")).as("node"))
      .localCheckpoint()
    val frontier = (1 to CgHops).foldLeft(f0) { (f, _) =>
      val expand = f.join(broadcast(adj), col("node") === col("src"))
        .select(col("vec_id"), col("dst").as("node"))
      beam(scored(f.unionAll(expand).distinct()), CgBeam)
        .select(col("vec_id"), explode(col("top")("id")).as("node"))
        .localCheckpoint()
    }
    beam(scored(frontier), IvfNProbe).select(col("vec_id"), col("top").as("tc"))
  }

  /** q17_ann_lsh — bucketed ANN with MULTI-PROBE: ONE signed-projection
    * table whose bit count GROWS with the corpus (bits =
    * ceil(log2(n/[[TargetBucket]])), so expected bucket size stays
    * ~[[TargetBucket]] and candidate volume stays ~linear in n —
    * doubling the corpus adds a bit instead of squaring the per-bucket
    * join), and each query probes its own code PLUS every code at
    * Hamming distance 1 — the standard multi-probe recall knob: raising
    * recall at fixed bits costs a bits× candidate factor instead of the
    * full re-shuffle that re-bucketing to fewer bits would.
    *
    * Top-3 neighbors within the probe set; candidates come from
    * [[annLshCandidates]] (skew-bounded, single subplan). */
  def annLsh(spark: SparkSession, sfDir: String): DataFrame =
    topK(annLshCandidates(spark, sfDir), vecs(spark, sfDir), BucketK)

  /** q17's candidate stage: all ordered pairs with
    * hamming(code_a, code_b) ≤ 1 — exactly "probe own bucket + every
    * Hamming-1 bucket", which is a SYMMETRIC relation, so it reduces to
    * a bucket SELF-join over `bits` 1-bit-masked tables: vec v lands in
    * bucket (i, code & ~(1<<i)) for each bit i, and two codes share ≥1
    * masked bucket iff they differ in at most one bit (equal codes
    * share all of them; the final distinct dedups). This keeps the
    * whole probe expansion inside [[CandidatePairs.boundedSelfJoin]] —
    * same skew cap, salting and telemetry as the single-bucket form,
    * no directed probe⋈index join needed. Masked buckets merge two
    * true buckets (expected ~2·[[TargetBucket]] members), so the cap
    * doubles.
    *
    * Exposed so SimilaritySpec can assert the scaling contract:
    * candidate volume grows ~linearly×bits with corpus size, never
    * quadratically. */
  private[graft] def annLshCandidates(spark: SparkSession, sfDir: String): DataFrame = {
    val bits = adaptiveBits(corpusSize(spark, sfDir))
    val coded = codes(vecs(spark, sfDir), "ivf", 1, bits).select(col("vec_id"), col("c"))
    val masked = coded.select(col("vec_id"), posexplode(array(
      (0 until bits).map(i => col("c").bitwiseAND(lit(~(1 << i)))): _*)).as(Seq("t", "mc")))
    bothDirections(
      CandidatePairs.boundedSelfJoin(masked, Seq("t", "mc"), "vec_id", 2 * BucketCap))
  }

  /** q166_lsh_bucket_stats — the LSH load-balance audit: the bucket-size
    * HISTOGRAM of q17's code table (size → how many buckets, rows
    * carried, self-join pair cost s·(s−1)/2) — the number an operator
    * reads before trusting an LSH rollout: a fat head means the cap/
    * salting machinery (CandidatePairs) is doing real work and recall
    * rests on the Hamming-probe tier; a flat histogram means the bits
    * under-split nothing. Completes the index-ops audit family (q95
    * cell drift, q108 sketch error, q109/q122 search quality, q127/
    * q147/q161 cell geometry — this one watches the BUCKETS).
    *
    * All-integer (sizes, counts, exact pair arithmetic); one division
    * for the row share. Scale shape: the fused code projection at the
    * scan (zero exchanges), one (code) count aggregate, then a
    * histogram aggregate over the ≤2^bits bucket-size domain. */
  def lshBucketStats(spark: SparkSession, sfDir: String): DataFrame = {
    val bits = adaptiveBits(corpusSize(spark, sfDir))
    val sizes = codes(vecs(spark, sfDir), "ivf", 1, bits)
      .groupBy(col("c")).agg(count(lit(1)).as("s"))
    val tot = sizes.agg(sum(col("s")).as("n_vecs"))
    sizes.groupBy(col("s").as("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"))
      .crossJoin(broadcast(tot))
      .select(col("bucket_size"), col("n_buckets"),
        (col("bucket_size") * col("n_buckets")).as("n_rows"),
        expr("n_buckets * (bucket_size * (bucket_size - 1) div 2)").as("selfjoin_pairs"),
        (floor((col("bucket_size") * col("n_buckets")).cast("double")
          / col("n_vecs").cast("double") * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("row_share"))
      .orderBy("bucket_size")
  }

  /** Out-degree of the neighborhood graph (top-M cosine edges kept per
    * node). */
  val HnswM = 6
  /** Beam width of the per-hop frontier. */
  val HnswBeam = 8
  /** Fixed hop count — the search runs as [[HnswHops]] static joins in
    * one lazy plan, no data-dependent driver loop. */
  val HnswHops = 3
  /** Entry points: the [[HnswEntry]] lowest vec_ids seed every query's
    * frontier. */
  val HnswEntry = 4

  /** Own-centroid cosine below this flags the vector as a label
    * outlier (anti-aligned with its class center). */
  val OutlierCos = 0.0

  /** q66_embed_outliers — embedding-space outlier detection per label:
    * each labeled vector is scored by cosine against ITS OWN label's
    * centroid; vectors anti-aligned with their class center
    * (cos < [[OutlierCos]]) are flagged — the "find mislabeled /
    * corrupt samples before training" pass of an embedding-curation
    * pipeline.
    *
    * Scale shape: centroids are one partial-aggregable (label, dim)
    * mean (means rounded to 6dp — the q28 cross-engine float-parity
    * trick, so both engines score against bit-identical centroids);
    * the |labels|-row centroid table broadcasts onto the scan and
    * scoring + flagging are scan-local codegen (`cosine_sim`). No
    * corpus shuffle beyond the centroid aggregation. */
  def embedOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val cents = e.select(col("label"), posexplode(col("v")).as(Seq("d", "x")))
      .groupBy("label", "d").agg(round(avg(col("x")), 6).as("m"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("d"), col("m")))).as("dm"))
      .select(col("label"), expr("transform(dm, s -> s.m)").as("cv"))
    e.join(broadcast(cents), "label")
      .select(col("vec_id"), col("label"),
        org.apache.spark.sql.graft.native.cosineSim(col("v"), col("cv")).as("cos"))
      .select(col("vec_id"), col("label"),
        round(col("cos"), 6).as("centroid_cos"),
        (col("cos") < OutlierCos).as("is_outlier"))
      .orderBy("vec_id")
  }

  /** q62_ann_hnsw — graph-based ANN (the HNSW/NSW family shape): beam
    * search over a precomputed neighborhood graph, the third ANN scale
    * path next to bucketed LSH (q17) and IVF (q28/q57).
    *
    *   - GRAPH BUILD: each node keeps its [[HnswM]] highest-cosine
    *     out-edges among its Hamming-≤1 LSH candidates — exactly q17's
    *     skew-bounded candidate machinery ([[annLshCandidates]]:
    *     adaptive bits, bounded+salted bucket self-join) followed by the
    *     partial-aggregable top-k aggregate. Build cost = the q17
    *     candidate pass, ~linear in n; the graph is n·M edges (a 100 TB
    *     corpus yields a graph that is itself just a big keyed table).
    *   - SEARCH: every query starts from the [[HnswEntry]] lowest-id
    *     entry nodes and runs [[HnswHops]] rounds of batch beam search:
    *     frontier ∪ out-neighbors(frontier) → score vs the query →
    *     keep the top-[[HnswBeam]] (cosine DESC, id ASC). Each round is
    *     a frontier⋈graph equi-join keyed by node plus one top-k
    *     aggregate — for a 10⁶-query batch the frontier is a
    *     (queries×beam)-row TABLE and every hop is set-based shuffle
    *     work; no per-query driver walk, which is how a navigable-graph
    *     search has to look on Spark (hop latency amortizes over the
    *     whole query batch).
    *
    * Greedy graph search is heuristic (it can miss a true neighbor the
    * graph never reaches) but DETERMINISTIC: the oracle replicates the
    * identical recurrence, so grading is row-exact like q17/q57.
    * Recall floor vs exact top-3 is asserted in SimilaritySpec. */
  def annHnsw(spark: SparkSession, sfDir: String): DataFrame = {
    val v = vecs(spark, sfDir)
    // adjacency: top-M cosine out-edges per node among Hamming-<=1 pairs
    // materialized once (localCheckpoint): every hop joins the graph,
    // and without the cut each hop would embed the whole candidate
    // pipeline again. At 100 TB the n·M edge list is the index you
    // persist to a table; this is the single-session equivalent
    val adj = pairCosine(annLshCandidates(spark, sfDir), v)
      .groupBy(col("vec_a"))
      .agg(org.apache.spark.sql.graft.native
        .topKByScore(col("cosine"), col("vec_b"), HnswM).as("top"))
      .select(col("vec_a").as("src"), explode(col("top")).as("s"))
      .select(col("src"), col("s.id").as("dst"))
      .localCheckpoint()
    val q = broadcast(v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv")))
    val entry = broadcast(v.orderBy("vec_id").limit(HnswEntry)
      .select(col("vec_id").as("node")))
    // score a (query_id, node) frontier against the query vector; a
    // node is re-scored whenever re-reached — cheaper than carrying
    // scores through the distinct, and bit-identical either way
    def scored(frontier: DataFrame): DataFrame = frontier
      .join(v.select(col("vec_id").as("node"), col("v")), "node")
      .join(q, "query_id")
      .filter(col("node") =!= col("query_id"))
      .select(col("query_id"), col("node"),
        org.apache.spark.sql.graft.native.cosineSim(col("qv"), col("v")).as("sim"))
    def beam(sc: DataFrame, k: Int): DataFrame = sc
      .groupBy(col("query_id"))
      .agg(org.apache.spark.sql.graft.native
        .topKByScore(col("sim"), col("node"), k).as("top"))
    // each hop's frontier is localCheckpoint'ed: the next hop references
    // it TWICE (survive via union + expand via join), so an unmaterialized
    // fold doubles the subplan per hop — 2^hops embeddings scans (the
    // NOTES lesson-13 shape; caught by PlanSpec). The frontier is a
    // (queries × beam)-row table, so the cut is constant-cost at any
    // corpus scale — it is exactly the per-iteration state an iterative
    // engine persists
    val f0 = beam(scored(q.select(col("query_id")).crossJoin(entry)), HnswBeam)
      .select(col("query_id"), explode(col("top")("id")).as("node"))
      .localCheckpoint()
    val frontier = (1 to HnswHops).foldLeft(f0) { (f, _) =>
      val expand = f.join(adj, col("node") === col("src"))
        .select(col("query_id"), col("dst").as("node"))
      beam(scored(f.unionAll(expand).distinct()), HnswBeam)
        .select(col("query_id"), explode(col("top")("id")).as("node"))
        .localCheckpoint()
    }
    beam(scored(frontier), BucketK)
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("query_id"), col("s.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        round(col("s.score"), 6).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** q82_ann_ivfpq — IVF-PQ: the FAISS-standard composition of the two
    * index halves this engine already ships — q28's trained Voronoi
    * cells (the WHERE-to-look half) and q68's product quantization
    * (the HOW-to-score-cheaply half), quantizing RESIDUALS v − c(v)
    * rather than raw vectors (residuals concentrate near 0, so the
    * same code budget spends its precision where the data is — the
    * reason IVF-PQ beats flat PQ at equal bytes).
    *
    *   - index: every vector stores its cell id + m residual codes
    *     (~9 B/vector at full 8-bit codes); residual components come
    *     from one broadcast (cent_id, d) centroid-dimension join on
    *     the component scan — no per-vector array rebuild;
    *   - PQ training: q68's one-pass machinery over the residual
    *     components of the bounded "pqs_" hash sample (init = the
    *     [[PqCodes]] hash-least sample residuals, one Lloyd round,
    *     6dp-rounded means — centroids are 6dp-rounded so residual
    *     doubles are bit-identical cross-engine);
    *   - search: each query probes its [[IvfNProbe]] cells; ADC lookup
    *     tables are built per (query, probed cell) against the QUERY's
    *     residual wrt THAT cell's centroid (queries×nprobe×m×codes
    *     rows, broadcast); a corpus vector joins at most one probe row
    *     per query (it lives in exactly one cell), so no dedup stage;
    *   - per-query ranking via the native top-k aggregate.
    *
    * Everything corpus-sized is keyed by vec_id or (cell, sub, code);
    * no windows, no driver-side vectors beyond codes×[[Dims]] doubles. */
  def annIvfPq(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val v = vecs(spark, sfDir)
    val n = corpusSize(spark, sfDir)
    val cents = trainedCodebook(spark, sfDir)
    val centDims = broadcast(cents
      .select(col("cent_id"), posexplode(col("cv")).as(Seq("cd_d", "cd"))))
    // top-IvfNProbe cells per vector (top-1 = home cell) via the
    // memoized HIERARCHICAL assignment — n·5sqrt(k) build cosines once
    // per session, not q28's flat n·k per query; the search/PQ
    // machinery below is unchanged
    val top2 = hierCells(spark, sfDir)
    val cells = top2.select(col("vec_id"), col("tc")(0)("id").cast("int").as("cell"))
    // residual components: x − centroid[cell][d], one broadcast join on
    // the component scan (named "x" so the q68 distance machinery applies)
    val rcomp = components(spark, sfDir)
      .join(cells, "vec_id")
      .join(centDims, col("cell") === col("cent_id") && col("d") === col("cd_d"))
      .select(col("vec_id"), col("d"), (col("x") - col("cd")).as("x"),
        expr(s"d div $PqSubDim").as("sub"))
    val den = ivfSampleDen(n, PqCodes, PqSampleMult)
    def pqsMember(c: Column): Column =
      pmod(graft.functions.HashFunctions.md5Int28(
        concat(lit("pqs_"), c.cast("string"))), lit(den)) === 0
    val rcompS = if (den == 1L) rcomp else rcomp.filter(pqsMember(col("vec_id")))
    // init codebook: the PqCodes hash-least sample ids' residuals
    // (ids via a bounded TakeOrdered, their 16×Dims residuals collected)
    val initIds: Seq[Long] = {
      val ids = v.select(col("vec_id"))
      val sIds = if (den == 1L) ids else ids.filter(pqsMember(col("vec_id")))
      sIds.withColumn("h", graft.functions.HashFunctions.md5Int28(
          concat(lit("pqc_"), col("vec_id").cast("string"))))
        .orderBy(col("h"), col("vec_id")).limit(PqCodes)
        .collect().map(_.getLong(0)).toIndexedSeq
    }
    if (initIds.isEmpty)
      return Seq.empty[(Long, Long, Int, Double)]
        .toDF("query_id", "neighbor_id", "rank", "approx_dist")
    val byVec = rcomp.filter(col("vec_id").isin(initIds: _*))
      .select(col("vec_id"), col("d"), col("x"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).map { case (id, rs) =>
        id -> rs.sortBy(_._2).map(_._3).toIndexedSeq }
    // a sampled id with a null/short embedding has no (or partial)
    // residual rows — skip it rather than NPE on an unguarded lookup
    val init: Seq[Seq[Double]] =
      initIds.flatMap(byVec.get).filter(_.length == Dims)
    if (init.isEmpty)
      return Seq.empty[(Long, Long, Int, Double)]
        .toDF("query_id", "neighbor_id", "rank", "approx_dist")
    // one Lloyd round over the sample residuals (q68's machinery)
    val asg0 = pqAssign(rcompS, init)
    val updated: Map[(Int, Int), Double] = rcompS
      .join(asg0, Seq("vec_id", "sub"))
      .groupBy(col("code"), col("d"))
      .agg(round(avg(col("x")), 6).as("m"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val cb: Seq[Seq[Double]] = init.zipWithIndex.map { case (iv, c) =>
      iv.indices.map(d => updated.getOrElse((c, d), iv(d)))
    }
    val encoded = pqAssign(rcomp, cb) // (vec_id, sub, code): the index table
    // query side: residual wrt EACH probed cell's centroid, LUT per
    // (query, probed cell) — queries×nprobe×m×codes rows, broadcast
    val probes = top2.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), explode(col("tc")).as("s"))
      .select(col("query_id"), col("s.id").cast("int").as("pcell"))
    val qrcomp = components(spark, sfDir).filter(col("vec_id") < 10)
      .withColumnRenamed("vec_id", "query_id")
      .join(probes, "query_id")
      .join(centDims, col("pcell") === col("cent_id") && col("d") === col("cd_d"))
      .select(col("query_id"), col("pcell"), col("d"),
        (col("x") - col("cd")).as("x"), expr(s"d div $PqSubDim").as("sub"))
    val lut = pqDists(qrcomp, cb, Seq("query_id", "pcell", "sub"))
      .select(col("query_id"), col("pcell"), col("sub"),
        explode(array(pqEntries(cb.length): _*)).as("e"))
      .select(col("query_id"), col("pcell"), col("sub").as("lsub"),
        col("e.code").as("lcode"), col("e.dist").as("qdist"))
    // a corpus vector matches ≤1 probe row per query (one home cell)
    encoded.join(cells, "vec_id")
      .join(broadcast(lut), col("cell") === col("pcell") &&
        col("sub") === col("lsub") && col("code") === col("lcode"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(round(sum(col("qdist")), 6).as("adist"))
      .transform(rankApproxDist("vec_id"))
  }

  /** q73_semdedup — SEMANTIC deduplication (SemDeDup, Abbas et al.
    * 2023): cluster the embedding space with the q28-trained k-means
    * cells, then WITHIN each cell flag every vector that has a
    * lower-id neighbor above cosine [[CosineThreshold]] — the
    * "remove semantically redundant training examples" pass that
    * token-level dedup (q12-q14) cannot do, because paraphrases share
    * no shingles.
    *
    * Scale shape: clustering confines the O(cell²) pair search to
    * cells of ~√n (the SemDeDup trick — the full corpus pair product
    * is never formed); the in-cell pair generation reuses
    * [[CandidatePairs.boundedSelfJoin]], so even a degenerate cell
    * (one centroid attracting everything) is salted into bounded
    * tasks, output-preserving. Centroid training is the q28
    * sample-bounded Lloyd's; assignment is the same struct-max argmax
    * (no window). Verification is exact cosine on candidates only.
    * Output: every vector with its cell, dup flag and lowest-id
    * in-cell duplicate (-1 if none) — the keep/drop decision table. */
  def semDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val v = vecs(spark, sfDir)
    // top-1 cell per vector via the memoized HIERARCHICAL assignment
    // (n·5sqrt(k) once per session, not n·k per query — the q57 build
    // path; the oracle replays the same two-level recurrence), home
    // cell = tc[0]
    val cells = hierCells(spark, sfDir)
      .select(col("vec_id"), col("tc")(0)("id").cast("int").as("cent_id"))
    val cand = CandidatePairs
      .boundedSelfJoin(cells.withColumnRenamed("cent_id", "cell"),
        Seq("cell"), "vec_id", BucketCap)
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"))
    val dupOf = pairCosine(cand, v)
      .filter(col("cosine") >= CosineThreshold)
      .groupBy(col("vec_b").as("vec_id"))
      .agg(min(col("vec_a")).as("dup_of"))
    cells.join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cent_id"),
        col("dup_of").isNotNull.as("is_dup"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
      .orderBy("vec_id")
  }

  /** PQ: number of subspaces m (64 dims → 8 subvectors of 8). */
  val PqSubspaces = 8
  /** PQ: dims per subvector. */
  val PqSubDim = Dims / PqSubspaces
  /** PQ: codebook size per subspace (8-bit codes would be 256; 16 keeps
    * the oracle's window over n·m·codes rows tractable at sf0.01 while
    * exercising the identical machinery). */
  val PqCodes = 16
  /** PQ training sample budget per code (the q28 convention). */
  val PqSampleMult = 256

  /** Per-(vec, sub) squared L2 distance to every codebook entry, as
    * [[PqCodes]] codegen'd sum aggregates over the component rows —
    * the codebook is inlined as literal arrays exactly like the LSH
    * hyperplanes, so the hot loop is x±literal inside whole-stage
    * codegen, never an interpreted higher-order function. Distances
    * round to 6dp (pins cross-engine float drift before any argmin). */
  private def pqDists(compSub: DataFrame, cb: Seq[Seq[Double]],
      groupCols: Seq[String] = Seq("vec_id", "sub")): DataFrame = {
    val distCols = cb.zipWithIndex.map { case (cv, c) =>
      val diff = col("x") - element_at(typedlit(cv), col("d") + 1)
      round(sum(diff * diff), 6).as(s"dist_$c")
    }
    compSub.groupBy(groupCols.map(col): _*)
      .agg(distCols.head, distCols.tail: _*)
  }

  /** (dist, code) structs for every codebook entry, from a [[pqDists]]
    * row — struct order gives (dist ASC, code ASC). */
  private def pqEntries(nCodes: Int): Seq[Column] =
    (0 until nCodes).map(c =>
      struct(col(s"dist_$c").as("dist"), lit(c).as("code")))

  /** Argmin code per (vec, sub): min struct ⇔ the oracle's
    * row_number() ORDER BY dist ASC, code ASC = 1. */
  private def pqAssign(compSub: DataFrame, cb: Seq[Seq[Double]]): DataFrame =
    pqDists(compSub, cb)
      .select(col("vec_id"), col("sub"),
        sort_array(array(pqEntries(cb.length): _*)).getItem(0).as("best"))
      .select(col("vec_id"), col("sub"), col("best.code").as("code"))

  /** (vec_id, d, x, sub) component rows for a (vec_id, v) frame. */
  private def pqComp(v: DataFrame): DataFrame =
    v.select(col("vec_id"), posexplode(col("v")).as(Seq("d", "x")))
      .withColumn("sub", expr(s"d div $PqSubDim"))

  /** q68_ann_pq — product-quantization ANN (Jégou et al., PAMI 2011),
    * the memory-side scale path the IVF family lacks: compress every
    * vector to m=[[PqSubspaces]] byte-sized codes (here 4-bit:
    * [[PqCodes]] entries/subspace) and answer queries from the codes
    * alone via ADC (asymmetric distance computation) — at 100 TB the
    * 64-dim float corpus (26 TB) becomes an 8-byte-per-vector code
    * table (~3 TB at full 8-bit codes), and query scans never touch
    * the raw vectors.
    *
    *   1. TRAIN: per-subspace codebooks on the q28-style bounded hash
    *      sample ("pqs_", ~min(n, 256·codes)); init = the [[PqCodes]]
    *      lowest-(md5, id) sample vectors' subvectors, one Lloyd round
    *      (argmin by rounded squared-L2, mean update rounded 6dp — the
    *      q28 float-parity trick). ALL subspaces train in one pass:
    *      subspace is data (a column), not plan structure, so the
    *      distance aggregate computes m×codes sums per vector in one
    *      job, and the driver collects only codes×[[Dims]] doubles.
    *   2. ENCODE: one scan assigns every corpus vector its m argmin
    *      codes — the persisted index table at scale.
    *   3. SEARCH: per query, an m×codes lookup table of
    *      query-subvector→codebook-entry distances (tiny, broadcast);
    *      approx distance = Σ_sub lut[sub, code] — a broadcast
    *      equi-join on (sub, code) + partial-aggregable sum keyed by
    *      (query, vec), then the native top-k aggregate. No window
    *      ever sees the corpus; the only corpus-sized exchanges are
    *      keyed by vec_id.
    *
    * Output: top-3 neighbors per query (vec_id < 10) by approximate
    * distance (ASC, ties → lowest id), matching the oracle's identical
    * recurrence in SQL. */
  def annPq(spark: SparkSession, sfDir: String): DataFrame = {
    val v = vecs(spark, sfDir)
    val n = corpusSize(spark, sfDir)
    val sample = {
      val den = ivfSampleDen(n, PqCodes, PqSampleMult)
      if (den == 1L) v
      else v.filter(pmod(graft.functions.HashFunctions.md5Int28(
        concat(lit("pqs_"), col("vec_id").cast("string"))), lit(den)) === 0)
    }
    // deterministic init: the PqCodes hash-least sample vectors, code
    // order = (md5, vec_id) ascending — a bounded TakeOrdered collect
    val init: Seq[Seq[Double]] = sample
      .select(col("v"),
        graft.functions.HashFunctions.md5Int28(
          concat(lit("pqc_"), col("vec_id").cast("string"))).as("h"),
        col("vec_id"))
      .orderBy(col("h"), col("vec_id")).limit(PqCodes)
      .collect().map(_.getSeq[Double](0))
      // null/short embeddings carry no usable codebook entry — skip
      // them instead of assuming every sampled row is Dims-complete
      .filter(s => s != null && s.length == Dims)
      .map(_.toIndexedSeq).toIndexedSeq
    // empty corpus ⇒ no codebook ⇒ no neighbors (schema preserved)
    if (init.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Int, Double)]
        .toDF("query_id", "neighbor_id", "rank", "approx_dist")
    }
    // one Lloyd round: sample assignment under the init codebook, then
    // per-(code, dim) means (6dp) with empty cells keeping init entries
    val asg0 = pqAssign(pqComp(sample), init)
    val updated: Map[(Int, Int), Double] = pqComp(sample)
      .join(asg0, Seq("vec_id", "sub"))
      .groupBy(col("code"), col("d"))
      .agg(round(avg(col("x")), 6).as("m"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val cb: Seq[Seq[Double]] = init.zipWithIndex.map { case (iv, c) =>
      iv.indices.map(d => updated.getOrElse((c, d), iv(d)))
    }
    val encoded = pqAssign(pqComp(v), cb)
    // per-query ADC lookup table: m×codes rows per query, broadcast
    val queries = v.filter(col("vec_id") < 10)
    val lut = pqDists(pqComp(queries), cb)
      .select(col("vec_id").as("query_id"), col("sub"),
        explode(array(pqEntries(cb.length): _*)).as("e"))
      .select(col("query_id"), col("sub"), col("e.code").as("code"),
        col("e.dist").as("qdist"))
    encoded
      .join(broadcast(lut), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(round(sum(col("qdist")), 6).as("adist"))
      .transform(rankApproxDist("vec_id"))
  }

  /** Shared distance-ranking tail of every quantized index search
    * (q68/q82/q84/q85): (query_id, <id>, adist) rows → the ANN output
    * contract (neighbor_id, rank, approx_dist) via the native top-k
    * aggregate — lowest distance first, id-ascending tie-break,
    * identical to the oracles' row_number(ORDER BY adist, id). */
  private def rankApproxDist(idCol: String)(d: DataFrame): DataFrame = d
    .groupBy(col("query_id"))
    .agg(org.apache.spark.sql.graft.native
      .topKByScore(-col("adist"), col(idCol), BucketK).as("top"))
    .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "s")))
    .select(col("query_id"), col("s.id").as("neighbor_id"),
      (col("pos") + 1).cast("int").as("rank"),
      (-col("s.score")).as("approx_dist"))
    .orderBy("query_id", "rank")

  /** SQ quantization levels (8-bit: codes 0..[[SqLevels]]). */
  val SqLevels = 255

  /** q84_ann_sq8 — scalar-quantization (SQ8) ANN: the THIRD memory-side
    * index format after PQ (q68) and IVF-PQ (q82), and the simplest —
    * every dimension is independently affine-quantized to 8 bits
    * against its corpus [min, max] (64 B/vector vs 512 B raw; PQ is
    * ~8 B but lossier per byte — SQ8 is the FAISS `SQ8` middle point).
    *
    *   - train: per-dimension (lo, hi) — ONE partial-aggregable
    *     min/max pass, a 64-row broadcast (no sampling needed: min and
    *     max are exact streaming aggregates, unlike k-means);
    *   - encode: code = floor((x − lo)·[[SqLevels]]/(hi − lo)) clamped
    *     to [0, [[SqLevels]]] — scan-local, NO round(): floor over the
    *     identical IEEE-double expression is bit-reproducible
    *     cross-engine, where a round() would sit on float grid
    *     midpoints (the q71 lesson);
    *   - search: ASYMMETRIC distance — exact query components against
    *     the DEQUANTIZED reconstruction (6dp-rounded), fused into ONE
    *     native scan-local expression ([[org.apache.spark.sql.graft
    *     .Sq8AsymDist]]: encode + dequantize + squared-diff accumulate
    *     per candidate row), ranked by the native top-k. The grid rides
    *     along as a broadcast 1-row frame.
    *
    * Scale shape: the search is the brute-force memory-tier baseline
    * (n·[[Dims]]·queries multiply-adds over 8-bit codes) but carries
    * only n·queries SCORED rows into the ranking exchange — the
    * previous exploded formulation shuffled the full n·Dims·queries
    * component product (measured 4× q84 wall-clock at sf0.1); the
    * where-to-look composition is q82's cells⋈probes pattern with SQ8
    * replacing PQ as the scorer, unchanged plumbing. */
  /** One-row frame holding the packed SQ8 quantizer
    * `s = [lo_0, hi_0, …, lo_63, hi_63] ++ grid`, where
    * `grid[d·(SqLevels+1) + code]` is the 6dp-rounded reconstruction of
    * `code` in dimension d. The (lo, hi) pairs come from ONE exact
    * partial-aggregable min/max pass; the reconstruction GRID is
    * precomputed here over the dims×(SqLevels+1) code table — 16k
    * `round()`s once per train, instead of one decimal rounding per
    * scored component (measured: the in-loop rounding was most of q84's
    * scoring cost). The collect_list/transform tails run on 64- and
    * 16k-row frames — interpreted eval is irrelevant there (NOTES:
    * higher-order functions stay off CORPUS-sized paths, not off
    * knob-bounded frames). */
  private[graft] val sqStatsCache = TrieMap.empty[(SparkSession, String), DataFrame]
  private[graft] val sqStats = IndexStore.Artifact("sq8_quantizer", sqStatsCache) {
    (spark, sfDir) => buildSqStats(spark, sfDir).localCheckpoint()
  }

  private def buildSqStats(spark: SparkSession, sfDir: String): DataFrame = {
    val st = components(spark, sfDir)
      .groupBy(col("d")).agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    val lohi = st
      .agg(sort_array(collect_list(struct(col("d"), col("lo"), col("hi")))).as("sl"))
      .select(flatten(transform(col("sl"), e => array(e("lo"), e("hi")))).as("lh"))
    // dx via the same Column round() the exploded form used — Spark
    // round (shortest-decimal HALF_UP) semantics, evaluated 16k times
    // total rather than per scored component
    val grid = st
      .select(col("d"), explode(sequence(lit(0), lit(SqLevels))).as("code"),
        col("lo"), col("hi"))
      .select(col("d"), col("code"),
        round(col("lo") + col("code") * (col("hi") - col("lo")) / SqLevels, 6).as("dx"))
      .agg(sort_array(collect_list(struct(col("d"), col("code"), col("dx")))).as("gl"))
      .select(transform(col("gl"), e => e("dx")).as("g"))
    lohi.crossJoin(grid).select(concat(col("lh"), col("g")).as("s"))
  }

  def annSq(spark: SparkSession, sfDir: String): DataFrame = {
    val v = vecs(spark, sfDir)
    val qs = broadcast(v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv")))
    // encode+dequantize+distance fused into the native expression at the
    // corpus scan — the exploded 64×-row join/aggregate this replaces
    // paid a Dims·n·queries-row shuffle for the same doubles
    v.crossJoin(broadcast(sqStats(spark, sfDir)))
      .crossJoin(qs)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(org.apache.spark.sql.graft.native
          .sq8Adist(col("qv"), col("v"), col("s"), SqLevels), 6).as("adist"))
      .transform(rankApproxDist("vec_id"))
  }

  /** q85_ann_ivf_sq8 — IVF × SQ8: the where-to-look half (memoized
    * hierarchical cells, q57's artifact) composed with the SQ8 scorer
    * (q84's 64 B/vector code table) — each query scans only its
    * [[IvfNProbe]] probed cells' codes instead of the corpus, the SQ8
    * twin of q82's IVF-PQ (near-lossless 64 B codes where PQ spends
    * 8 B; the accuracy/memory middle point of the composition matrix).
    *
    * Scale shape: candidates = probes⋈cells equi-join (each corpus
    * vector appears once per probing query at most — one home cell);
    * scoring expands candidates ×[[Dims]] against the dequantized
    * code scan keyed by vec_id and reduces with one partial-aggregable
    * sum; the 10×[[Dims]] exact query components broadcast. No
    * windows, no corpus product. */
  def annIvfSq(spark: SparkSession, sfDir: String): DataFrame = {
    val top2 = hierCells(spark, sfDir)
    val cells = top2.select(col("vec_id"), col("tc")(0)("id").as("cent_id"))
    val probes = top2.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), explode(col("tc")).as("s"))
      .select(col("query_id"), col("s.id").as("cent_id"))
    val cand = probes
      .join(cells.select(col("vec_id").as("neighbor_id"), col("cent_id")), "cent_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    val v = vecs(spark, sfDir)
    val qs = broadcast(v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv")))
    cand
      .join(v.select(col("vec_id").as("neighbor_id"), col("v").as("nv")), "neighbor_id")
      .join(qs, "query_id")
      .crossJoin(broadcast(sqStats(spark, sfDir)))
      .select(col("query_id"), col("neighbor_id"),
        round(org.apache.spark.sql.graft.native
          .sq8Adist(col("qv"), col("nv"), col("s"), SqLevels), 6).as("adist"))
      .transform(rankApproxDist("neighbor_id"))
  }

  /** q183_mutual_knn — RECIPROCAL nearest-neighbor pairs: (a, b) with
    * a < b where each vector ranks in the OTHER's top-[[BucketK]]
    * among its home-cell candidates. One-directional kNN edges are
    * noisy (a hub vector appears in thousands of lists it doesn't
    * reciprocate); the mutual filter is the standard high-precision
    * cut for semantic-duplicate confirmation and density estimation
    * (the reciprocal-NN rule behind RNN-descent and clustering-by-RNN
    * literature). Complements q73: SemDeDup thresholds raw cosine,
    * this keeps only RELATIVE mutual agreement — a pair can be mutual
    * at modest cosine in a sparse region, or non-mutual at high cosine
    * next to a hub.
    *
    * Scale shape: candidates are home-cell pairs from the memoized
    * [[hierCells]] artifact via the skew-bounded
    * [[CandidatePairs.boundedSelfJoin]] (cap+salt, output-preserving);
    * both directions of each undirected pair come from ONE explode
    * ([[bothDirections]] — no doubled subplan); per-vector ranking is
    * the map-side [[org.apache.spark.sql.graft.TopKByScore]] fold, so
    * the ranking exchange carries ≤ n·k rows; the mutual check is one
    * (vec_a, vec_b)-keyed self-equi-join of the two ≤ n·k halves.
    * No windows, no corpus product — identical scaling to q73. */
  def mutualKnn(spark: SparkSession, sfDir: String): DataFrame = {
    val v = vecs(spark, sfDir)
    val cells = hierCells(spark, sfDir)
      .select(col("vec_id"), col("tc")(0)("id").cast("int").as("cell"))
    val und = CandidatePairs
      .boundedSelfJoin(cells, Seq("cell"), "vec_id", BucketCap)
    val ranked = topK(bothDirections(und), v, BucketK)
    val fwd = ranked.filter(col("query_id") < col("neighbor_id"))
      .select(col("query_id").as("vec_a"), col("neighbor_id").as("vec_b"),
        col("rank").as("rank_ab"), col("cosine"))
    val rev = ranked.filter(col("query_id") > col("neighbor_id"))
      .select(col("neighbor_id").as("vec_a"), col("query_id").as("vec_b"),
        col("rank").as("rank_ba"))
    fwd.join(rev, Seq("vec_a", "vec_b"))
      .select(col("vec_a"), col("vec_b"), col("cosine"),
        col("rank_ab"), col("rank_ba"))
      .orderBy("vec_a", "vec_b")
  }

  /** q186 random-projection output dimensionality (64 → 16). */
  val RpOutDims = 16
  /** The q186 ±1 Johnson–Lindenstrauss projection matrix, derived from
    * MD5("rp_<i>_<j>") parity in PURE CODE (no data dependency) — the
    * same values inline into the operator as literals and into the
    * oracle as a VALUES list, so sign parity is structural (the LSH
    * hyperplane precedent). Indexed [component i][output dim j]. */
  lazy val RpSigns: IndexedSeq[IndexedSeq[Int]] =
    (0 until Dims).map { i =>
      (0 until RpOutDims).map { j =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(s"rp_${i}_${j}".getBytes("UTF-8"))
        if ((md(0) & 1) == 0) 1 else -1
      }
    }

  /** q186_random_projection — Johnson–Lindenstrauss ±1 projection
    * (Achlioptas 2003) 64 → [[RpOutDims]] dims, graded WITH its own
    * distortion audit: project every vector through the deterministic
    * sign matrix, then compare original vs projected cosine on the
    * deterministic pair set (2k, 2k+1) and report per-similarity-band
    * error stats — the measurement that justifies running the cheap
    * 16-dim index path (4× less memory/bandwidth per cosine) in place
    * of full-width vectors.
    *
    * Determinism: components quantize to integer micros at the scan, so
    * each projected coordinate is an EXACT integer sum of ±micros and
    * both cosines divide exact integer dot products/norms — float
    * summation order never exists on either engine; cosines floor to
    * ppm before the banded aggregate (integer mean via div).
    *
    * Scale shape: the projection is one broadcast join of the 1024-row
    * sign matrix onto component rows + a map-side-combined
    * (vec, j) sum (the n·64·16 multiply is the operator's honest
    * cost — at 100 TB it runs once and persists, like every index
    * build); pairing is pid-keyed aggregates; the report is a ≤11-row
    * band aggregate. No windows, no products. */
  def randomProjection(spark: SparkSession, sfDir: String): DataFrame = {
    val comps = components(spark, sfDir)
      .select(col("vec_id"), col("d").as("i"),
        floor(col("x") * lit(1e6) + lit(0.5)).cast("long").as("xq"))
    import spark.implicits._
    val matrix = broadcast(
      (for { i <- 0 until Dims; j <- 0 until RpOutDims }
        yield (i, j, RpSigns(i)(j)))
        .toDF("i", "j", "s"))
    // projected integer coordinates: y_{vec,j} = Σ_i xq_i · s_ij
    val yq = comps.join(matrix, "i")
      .groupBy(col("vec_id"), col("j"))
      .agg(sum(col("xq") * col("s")).as("yq"))
    // deterministic pairs (2k, 2k+1): pid = vec_id div 2, side = parity
    def paired(df: DataFrame, dimCol: String, valCol: String): DataFrame = df
      .select(expr("vec_id div 2").as("pid"), pmod(col("vec_id"), lit(2)).as("side"),
        col(dimCol), col(valCol))
      .groupBy(col("pid"), col(dimCol))
      .agg(sum(when(col("side") === 0, col(valCol))).as("xa"),
        sum(when(col("side") === 1, col(valCol))).as("xb"))
      .filter(col("xa").isNotNull && col("xb").isNotNull)
      .groupBy(col("pid"))
      .agg(sum(col("xa") * col("xb")).as("dot"),
        sum(col("xa") * col("xa")).as("na"),
        sum(col("xb") * col("xb")).as("nb"))
      .select(col("pid"),
        when(col("na") > 0 && col("nb") > 0,
          floor(col("dot").cast("double")
            / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))
            * lit(1e6) + lit(0.5)).cast("long"))
          .otherwise(lit(0L)).as(s"cos_ppm"))
    val orig = paired(comps, "i", "xq").withColumnRenamed("cos_ppm", "o_ppm")
    val proj = paired(yq, "j", "yq").withColumnRenamed("cos_ppm", "p_ppm")
    orig.join(proj, "pid")
      .select(
        least(floor((col("o_ppm") + lit(1000000L)) / lit(200000.0)).cast("int"), lit(9))
          .as("band"),
        abs(col("p_ppm") - col("o_ppm")).as("err"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(err) div count(1)").as("mean_abs_err_ppm"),
        max(col("err")).as("max_abs_err_ppm"))
      .orderBy("band")
  }

  /** q200_hubness — k-occurrence (hubness) audit of the kNN graph
    * (Radovanović et al., JMLR 2010): the histogram of how many times
    * each vector appears in other vectors' in-cell top-[[BucketK]]
    * lists. High-dimensional spaces grow HUBS (vectors in thousands of
    * lists) and ANTIHUBS (in none, in_degree = 0) — skew here predicts
    * which queries get bad neighbors, inflates q183's mutual-pair
    * density around hubs, and is the standard "is cosine meaningful on
    * this embedding" health check run before shipping an index.
    *
    * Scale shape: the ranked edge list is the q183 candidate machinery
    * (bounded in-cell pairs + map-side top-k fold, ≤ n·k rows); the
    * in-degree is one neighbor-keyed count; the histogram aggregates
    * the ≤ n-row degree frame by degree VALUE (≤ bounded domain), with
    * the antihub zero row from one anti-join count. */
  def hubness(spark: SparkSession, sfDir: String): DataFrame = {
    val v = vecs(spark, sfDir)
    val cells = hierCells(spark, sfDir)
      .select(col("vec_id"), col("tc")(0)("id").cast("int").as("cell"))
    val und = CandidatePairs
      .boundedSelfJoin(cells, Seq("cell"), "vec_id", BucketCap)
    val ranked = topK(bothDirections(und), v, BucketK)
    val indeg = ranked.groupBy(col("neighbor_id")).agg(count(lit(1)).as("in_degree"))
    val nZero = cells.select(col("vec_id").as("neighbor_id"))
      .join(indeg, Seq("neighbor_id"), "left_anti")
      .agg(count(lit(1)).as("n_vecs"))
      .select(lit(0L).as("in_degree"), col("n_vecs"))
    indeg.groupBy(col("in_degree")).agg(count(lit(1)).as("n_vecs"))
      .unionAll(nZero)
      .filter(col("n_vecs") > 0)
      .orderBy("in_degree")
  }

  /** q212_embed_norms — embedding-norm data-quality audit: vector
    * count, zero-norm count (dead/corrupt vectors cosine can't score —
    * the rows an ingestion gate must quarantine before they NaN a
    * similarity join), and min/mean/max norm — the drift indicator
    * when an upstream model change rescales embeddings (cosine is
    * norm-invariant but dot-product indexes and quantizers are not:
    * q84's [lo, hi] and q68's codebooks silently degrade under a
    * norm shift).
    *
    * Determinism: norms² are exact integer micro² sums; each norm
    * floor-quantizes (sqrt of identical integers, the lesson-29/49
    * rule) so min/max/mean are integer folds.
    *
    * Scale shape: one vec-keyed partial-aggregable component sum +
    * one 1-row fold. */
  def embedNorms(spark: SparkSession, sfDir: String): DataFrame = {
    val n2 = components(spark, sfDir)
      .select(col("vec_id"),
        floor(col("x") * lit(1e6) + lit(0.5)).cast("long").as("xq"))
      .groupBy(col("vec_id"))
      .agg(sum(col("xq") * col("xq")).as("n2"))
    n2.select(floor(sqrt(col("n2").cast("double")) + lit(0.5)).cast("long").as("nm"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("nm") === 0L, 1L).otherwise(0L)).as("n_zero"),
        min(col("nm")).as("mn"), max(col("nm")).as("mx"), sum(col("nm")).as("sm"))
      .select(col("n_vecs"), col("n_zero"),
        (col("mn").cast("double") / lit(1e6)).as("min_norm"),
        (col("mx").cast("double") / lit(1e6)).as("max_norm"),
        (expr("sm div n_vecs").cast("double") / lit(1e6)).as("mean_norm"))
  }

  /** q227_search_explain — EXPLAIN for vector search: per audited
    * query (vec_id < 10) and probed cell, the cell id, its occupancy,
    * the query's total candidate count and the share of the corpus
    * its probe actually scans — the query-time telemetry an ANN
    * service logs per request (and the number that justifies the
    * index: scan_ppm ≪ 1e6 IS the speedup). Composes purely from the
    * memoized cell artifact — the explain costs no cosines.
    *
    * Scale shape: probes = 10×nprobe rows exploded from the artifact;
    * occupancy is one cells-keyed count; candidate totals are a
    * 10-row aggregate joined back; the corpus size is a broadcast
    * 1-row count. */
  def searchExplain(spark: SparkSession, sfDir: String): DataFrame = {
    val top2 = hierCells(spark, sfDir)
    val occ = top2.select(col("tc")(0)("id").as("cent_id"))
      .groupBy(col("cent_id")).agg(count(lit(1)).as("n_cell"))
    val probes = top2.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), posexplode(col("tc")).as(Seq("p", "s")))
      .select(col("query_id"), (col("p") + 1).cast("int").as("probe_rank"),
        col("s.id").as("cent_id"))
      .join(occ, "cent_id")
    // candidates = probed occupancy minus the query itself when its own
    // home cell is probed (probe_rank 1 is the home cell by construction)
    val perQuery = probes.groupBy(col("query_id"))
      .agg((sum(col("n_cell")) - 1).as("n_candidates"))
    val tot = top2.agg(count(lit(1)).as("n_corpus"))
    probes.join(perQuery, "query_id").crossJoin(broadcast(tot))
      .select(col("query_id"), col("probe_rank"), col("cent_id"),
        col("n_cell"), col("n_candidates"),
        expr("n_candidates * 1000000 div n_corpus").as("scan_ppm"))
      .orderBy("query_id", "probe_rank")
  }

  /** q201 clip quantiles. */
  val ClipLo = 0.01
  val ClipHi = 0.99

  /** q201_dim_clip — per-dimension clipping-bound report (the feature
    * preprocessing pass before embedding quantization/normalization):
    * for every dimension, exact p01/p50/p99 of the micro-quantized
    * components plus how many values each clip fence would touch —
    * the numbers that size SQ8's [lo, hi] range (q84 trains on
    * min/max, which one corrupt vector can blow out; percentile
    * fences are the robust alternative, and this report prices the
    * difference).
    *
    * Parity: quantiles interpolate over identical integer micros on
    * both engines (the q38 percentile ↔ quantile_cont precedent),
    * and the clip counts compare those identical doubles against
    * integers — no independent float paths.
    *
    * Scale shape: one 64-group percentile aggregate over the
    * component rows (sorted within each dimension group — bounded by
    * corpus/64 per group, the q174 per-stratum rank convention), one
    * broadcast of the 64-row bounds, one conditional-count rescan. */
  def dimClip(spark: SparkSession, sfDir: String): DataFrame = {
    val q = components(spark, sfDir)
      .select(col("d"), floor(col("x") * lit(1e6) + lit(0.5)).cast("long").as("xq"))
    val bounds = q.groupBy(col("d")).agg(
      count(lit(1)).as("n"),
      round(expr(s"percentile(xq, $ClipLo)"), 6).as("p01_micro"),
      round(expr("percentile(xq, 0.5)"), 6).as("p50_micro"),
      round(expr(s"percentile(xq, $ClipHi)"), 6).as("p99_micro"))
    q.join(broadcast(bounds), "d")
      .groupBy(col("d"))
      .agg(max(col("n")).as("n"),
        max(col("p01_micro")).as("p01_micro"),
        max(col("p50_micro")).as("p50_micro"),
        max(col("p99_micro")).as("p99_micro"),
        sum(when(col("xq") < col("p01_micro"), 1L).otherwise(0L)).as("n_below"),
        sum(when(col("xq") > col("p99_micro"), 1L).otherwise(0L)).as("n_above"))
      .select(col("d"), col("n"), col("p01_micro"), col("p50_micro"),
        col("p99_micro"), col("n_below"), col("n_above"),
        (col("n_below") + col("n_above")).as("n_clipped"))
      .orderBy("d")
  }

  /** Prefix dimensions for [[mrlTruncate]] — the Matryoshka serving
    * ladder (full width last, so the 64 row doubles as ground truth). */
  val MrlPrefixes: Seq[Int] = Seq(16, 32, 64)

  /** q233_mrl_truncate — Matryoshka prefix-truncation audit (Kusupati
    * et al. 2022): per query and prefix width p ∈ {16, 32, 64}, the
    * top-1 neighbor under cosine over only the FIRST p dimensions,
    * whether it agrees with the full-width top-1, and the full-width
    * cosine REGRET of the truncated choice — the measurement that
    * decides whether the 4×-cheaper prefix vectors (storage, shuffle
    * width, every q68/q84-style code budget) can serve retrieval. MRL
    * embeddings concentrate information in the leading dims, so real
    * models show near-zero regret at p=32; a flat random corpus (ours)
    * shows measurable regret — either way the number is the contract.
    *
    * Determinism: truncated rankings compare raw IEEE doubles whose
    * accumulation order (ascending d) is identical in the native
    * cosine expression and the oracle's list_dot_product (the q16
    * precedent, applied to slices); regret is a difference of two
    * 6dp-rounded cosines — exact on the 1e-6 grid — reported in ppm.
    *
    * Scale shape: the query side broadcasts (queries × prefixes rows);
    * per-(prefix, query) rankings use the map-side top-k aggregate, so
    * every post-scan exchange carries O(queries·|prefixes|) rows at
    * any corpus size. The ×|prefixes| fan-out rides the corpus scan
    * (one pass, three slice-cosines per pair — the audit's honest
    * cost; a production rollout audits a query SAMPLE, as here). */
  def mrlTruncate(spark: SparkSession, sfDir: String): DataFrame = {
    val v = vecs(spark, sfDir)
    val q = broadcast(v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv")))
    val prefixCol = explode(array(MrlPrefixes.map(lit): _*)).as("pd")
    val scored = q
      .crossJoin(v.select(col("vec_id").as("nb"), col("v").as("nv")))
      .filter(col("query_id") =!= col("nb"))
      .withColumn("pd", prefixCol)
      .select(col("pd"), col("query_id"), col("nb"),
        org.apache.spark.sql.graft.native.cosineSim(
          slice(col("qv"), lit(1), col("pd")),
          slice(col("nv"), lit(1), col("pd"))).as("c"))
    val top1 = scored
      .groupBy(col("pd"), col("query_id"))
      .agg(org.apache.spark.sql.graft.native
        .topKByScore(col("c"), col("nb"), 1).as("top"))
      .select(col("pd"), col("query_id"), col("top")(0)("id").as("nb"))
    val full1 = top1.filter(col("pd") === Dims)
      .select(col("query_id"), col("nb").as("fnb"))
    // full-width cosines of both choices, on the 6dp grid
    val cos64 = scored.filter(col("pd") === Dims)
      .select(col("query_id"), col("nb"), round(col("c"), 6).as("c64"))
    top1
      .join(broadcast(full1), "query_id")
      .join(cos64.select(col("query_id"), col("nb").as("fnb"), col("c64").as("cf")),
        Seq("query_id", "fnb"))
      .join(cos64.select(col("query_id"), col("nb"), col("c64").as("ct")),
        Seq("query_id", "nb"))
      .select(col("pd").as("prefix_dim"), col("query_id"),
        col("nb").as("trunc_top1"), col("fnb").as("full_top1"),
        (col("nb") === col("fnb")).as("top1_match"),
        floor((col("cf") - col("ct")) * lit(1e6) + lit(0.5)).cast("long")
          .as("regret_ppm"))
      .orderBy("prefix_dim", "query_id")
  }

  /** q346 contamination threshold — chosen to be non-degenerate on the
    * synthetic corpus (random embeddings top out at cosine ~0.45; a
    * production run against a real eval set uses ~0.9, the q15 pattern
    * of documenting the synthetic-corpus calibration). */
  val DecontamCosine = 0.40

  /** q346_semantic_decontam — EMBEDDING-space decontamination: every
    * corpus vector whose cosine to ANY held-out eval vector
    * (vec_id ≡ 0 mod 50, the q51/q190 held-out convention) reaches
    * [[DecontamCosine]], with its closest eval vector — the modern
    * semantic complement of the n-gram decontamination family (q51
    * exact 8-gram containment, q118's Bloom fast path, q276's split
    * audit): paraphrased or re-worded benchmark leakage has NO shared
    * n-grams but near-identical embeddings, and every serious training
    * pipeline now runs both screens before a data release.
    *
    * Determinism: cosines are the shared left-to-right dot-product
    * fold (bit-equal cross-engine, the q16 contract); the per-vector
    * argmax ties break eval_id asc inside the native top-k aggregate;
    * the threshold compares the RAW double on both engines; output
    * rounds 6dp.
    *
    * Scale shape = [[annBruteForce]] transposed: the EVAL side is the
    * tiny one (an eval benchmark is KBs at any corpus size) and
    * broadcasts; the corpus side streams through one scan with the
    * per-vector top-1 as the map-side top-k aggregate, so the only
    * exchange carries O(corpus) pre-reduced 3-column rows and the
    * threshold prunes to the contaminated sliver. An indexed variant
    * composes like q73 (probe the eval vectors' cells only); the
    * graded form is the exact-recall baseline a release gate wants. */
  def semanticDecontam(spark: SparkSession, sfDir: String): DataFrame = {
    val v = vecs(spark, sfDir)
    val cand = v.filter(col("vec_id") % 50 =!= 0).select(col("vec_id").as("vec_a"))
      .crossJoin(broadcast(v.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("vec_b"))))
    pairCosine(cand, v)
      .groupBy(col("vec_a"))
      .agg(org.apache.spark.sql.graft.native
        .topKByScore(col("cosine"), col("vec_b"), 1).as("top"))
      .select(col("vec_a").as("vec_id"),
        col("top")(0)("id").as("eval_id"),
        col("top")(0)("score").as("c"))
      .filter(col("c") >= DecontamCosine)
      .select(col("vec_id"), col("eval_id"), round(col("c"), 6).as("cosine"))
      .orderBy("vec_id")
  }

  /** This module's graded queries, name → build; `SparkEntry.queries`
    * collects them. */
  private[graft] val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q15_embed_neardup"   -> (embedNeardup _),
    "q16_ann_bruteforce"  -> (annBruteForce _),
    "q17_ann_lsh"         -> (annLsh _),
    "q28_ann_ivf"         -> (annIvf _),
    "q57_ann_ivf_hier"    -> (annIvfHier _),
    "q62_ann_hnsw"        -> (annHnsw _),
    "q66_embed_outliers"  -> (embedOutliers _),
    "q68_ann_pq"          -> (annPq _),
    "q73_semdedup"        -> (semDedup _),
    "q82_ann_ivfpq"       -> (annIvfPq _),
    "q83_ann_ivf_graph"   -> (annIvfGraph _),
    "q84_ann_sq8"         -> (annSq _),
    "q85_ann_ivf_sq8"     -> (annIvfSq _),
    "q87_ann_incremental" -> (annIncremental _),
    "q89_hard_negatives"  -> (hardNegatives _),
    "q92_knn_label"       -> (knnLabel _),
    "q93_mmr_rerank"      -> (mmrRerank _),
    "q109_ivf_recall"     -> (ivfRecall _),
    "q122_ann_ndcg"       -> (annNdcg _),
    "q127_cluster_inertia" -> (clusterInertia _),
    "q130_centroid_label" -> (centroidLabel _),
    "q147_silhouette"     -> (silhouette _),
    "q149_embed_isotropy" -> (embedIsotropy _),
    "q154_embed_variance" -> (embedVariance _),
    "q161_cell_purity"    -> (cellPurity _),
    "q166_lsh_bucket_stats" -> (lshBucketStats _),
    "q170_ann_filtered"   -> (filteredSearch _),
    "q177_pca_power"      -> (pcaPower _),
    "q183_mutual_knn"     -> (mutualKnn _),
    "q186_random_projection" -> (randomProjection _),
    "q200_hubness"        -> (hubness _),
    "q201_dim_clip"       -> (dimClip _),
    "q212_embed_norms"    -> (embedNorms _),
    "q227_search_explain" -> (searchExplain _),
    "q233_mrl_truncate"   -> (mrlTruncate _),
    "q281_cluster_nmi"    -> (clusterNmi _),
    "q285_abtt"           -> (abtt _),
    "q314_lof"            -> (lofOutliers _),
    "q315_probe_curve"    -> (probeCurve _),
    "q346_semantic_decontam" -> (semanticDecontam _),
    "q362_kcenter_seeds"  -> (kcenterSeeds _),
    "q363_cluster_validity" -> (clusterValidity _)
  )
}
