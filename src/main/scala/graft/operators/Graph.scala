package graft.operators

import graft.sources.{IndexStore, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap

/** q76_pagerank — PageRank over the verified near-duplicate graph: THE
  * canonical iterative MapReduce workload (alongside q01's word count —
  * the two demos every MapReduce framework ships), here over the graph
  * the engine itself produces: nodes = documents appearing in q12's
  * verified ≥0.8-Jaccard pairs, edges = those pairs in both directions.
  * High-rank documents sit at the center of boilerplate families — the
  * "which template dominates this crawl" question.
  *
  * Spark-native shape, per iteration (fixed [[Graph.PrIterations]]
  * rounds of the damped recurrence):
  *
  *   pr'(v) = (1-d)/n + d · Σ_{u→v} pr(u)/out_deg(u)
  *
  *   - contributions are one edges⋈ranks equi-join on src plus a
  *     partial-aggregable sum keyed by dst — the map/reduce pair of the
  *     textbook formulation, shuffling O(edges) per round;
  *   - the edge list is localCheckpoint'ed ONCE: it is referenced by
  *     every round (plus degree/node tables), and an unmaterialized cut
  *     would re-run the whole MinHash-LSH pipeline per reference (the
  *     q31/q62 iterative-input lesson);
  *   - both directions of each pair come from ONE explode of a 2-struct
  *     array — a union of two selects would execute the pair subplan
  *     twice (NOTES lesson 13);
  *   - symmetric edges ⇒ every node has out_deg ≥ 1, so no dangling-
  *     mass redistribution term is needed;
  *   - per-round ranks round to 9dp (the k-means float-parity trick at
  *     a finer grid — rank mass ~1/n needs more digits than centroid
  *     means), so both engines iterate bit-identical states; the output
  *     rounds to 6dp.
  *
  * The fixed iteration count (vs convergence detection) keeps the plan
  * static and the oracle expressible as unrolled CTEs; at 100 TB each
  * round is one shuffle of the edge list, and the rank state is one
  * (node, double) table — the classic Pregel/GraphX cost model. */
object Graph {

  val Damping = 0.85
  val PrIterations = 3
  /** Per-iteration state rounding (finer than output: mass ~1/n). */
  val PrStateDp = 9

  def pageRank(spark: SparkSession, sfDir: String): DataFrame =
    pageRankFrom(Dedup.verifiedPairs(spark, sfDir).select(col("doc_a"), col("doc_b")))

  /** [[pageRank]] over an arbitrary (doc_a, doc_b) undirected pair set. */
  private[graft] def pageRankFrom(pairs: DataFrame): DataFrame = {
    val edges = pairs
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint()
    val outDeg = edges.groupBy("src").agg(count(lit(1)).as("out_deg"))
    val nodes = edges.select(col("src").as("doc_id")).distinct()
    val nNodes = nodes.agg(count(lit(1)).cast("double").as("n_nodes"))
    var pr = nodes.crossJoin(broadcast(nNodes))
      .select(col("doc_id"), round(lit(1.0) / col("n_nodes"), PrStateDp).as("pr"))
    for (_ <- 1 to PrIterations) {
      val contrib = pr
        .join(edges, col("doc_id") === col("src"))
        .join(outDeg, "src")
        .select(col("dst"), (col("pr") / col("out_deg")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_sum"))
        .withColumnRenamed("dst", "doc_id")
      pr = nodes
        .join(contrib, Seq("doc_id"), "left")
        .crossJoin(broadcast(nNodes))
        .select(col("doc_id"),
          round(lit(1.0 - Damping) / col("n_nodes") +
            lit(Damping) * coalesce(col("in_sum"), lit(0.0)), PrStateDp).as("pr"))
    }
    pr.join(outDeg.withColumnRenamed("src", "doc_id"), "doc_id")
      .select(col("doc_id"), round(col("pr"), 6).as("pagerank"), col("out_deg"))
      .orderBy("doc_id")
  }

  /** q305 output size. */
  val TextRankTopK = 20

  /** q305_textrank — TextRank keyword extraction (Mihalcea & Tarau
    * 2004): PageRank over the word ADJACENCY graph (distinct
    * unordered pairs of consecutive tokens), top-[[TextRankTopK]]
    * terms. Where q34's TF-IDF scores terms by rarity, TextRank
    * scores them by graph centrality — the two disagree exactly on
    * hub words that co-occur with everything, which is why keyword
    * extractors run both.
    *
    * NOT q76's recurrence: a word graph has hub nodes with thousands
    * of in-edges, so q76's float contribution sums (safe on near-
    * clique dup graphs with tiny in-degrees) would be order-dependent
    * here. The rank mass lives on an INTEGER pico grid instead —
    * pr₀ = 10¹² div n, each edge contributes pr div out_deg (integer
    * division), and the damped update is (15·10¹⁰) div n +
    * (in_sum · 17) div 20 — every fold an order-independent integer
    * sum, bit-equal on any engine at any parallelism.
    *
    * Scale shape: pair generation rides the token scan (consecutive-
    * slice zip — no self-join); the distinct edge set checkpoints
    * once; out-degree is pre-joined ONTO the checkpointed edge table
    * (one more vocab-bounded materialization) and the node set
    * checkpoints too, so each iteration is exactly one term-keyed
    * equi-join + one keyed aggregate — the dangling-node left join is
    * GONE (symmetric edges ⇒ every node has in-degree ≥ 1, so the
    * contribution aggregate's key set already IS the node set) and
    * there is no per-round re-aggregation of degrees/nodes/counts
    * from the edge table (the pre-hoist shape re-derived outDeg,
    * nodes AND nNodes inside every round). Measured 1.51 → 1.14 s at
    * sf0.1, 5-rep medians; a per-round pr checkpoint A/B'd WORSE
    * (1.25 s — lesson 64: vocab-sized rounds are cheap linear passes,
    * the job barrier costs more than the recompute it saves). Top-k
    * is a TakeOrdered. */
  def textRank(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.{TextFunctions => T}
    val pairs = graft.sources.Tables.documents(spark, sfDir)
      .select(T.wsTokens(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(slice(col("w"), lit(1), size(col("w")) - 1).as("s1"),
        slice(col("w"), lit(2), size(col("w")) - 1).as("s2"))
      .select(explode(arrays_zip(col("s1"), col("s2"))).as("z"))
      .select(col("z.s1").as("a"), col("z.s2").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    val edges = pairs.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint()
    val outDeg = edges.groupBy("src").agg(count(lit(1)).as("out_deg"))
    // degree rides every contribution join: pre-join it onto the edge
    // table ONCE instead of re-aggregating + re-joining per round
    val edgesW = edges.join(outDeg, "src").localCheckpoint()
    val nodes = edges.select(col("src").as("term")).distinct().localCheckpoint()
    val nNodes = nodes.agg(count(lit(1)).as("n_nodes"))
    var pr = nodes.crossJoin(broadcast(nNodes))
      .select(col("term"), expr("1000000000000 div n_nodes").as("pr"))
    // no dangling-node left join inside the loop: edges are symmetric
    // (both directions emitted above), so every node has in-degree >= 1
    // and the contribution aggregate's key set IS the node set
    for (_ <- 1 to PrIterations) {
      pr = pr
        .join(edgesW, col("term") === col("src"))
        .select(col("dst"), expr("pr div out_deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_sum"))
        .withColumnRenamed("dst", "term")
        .crossJoin(broadcast(nNodes))
        .select(col("term"),
          expr("150000000000 div n_nodes + (in_sum * 17) div 20").as("pr"))
    }
    pr.join(edgesW.select(col("src").as("term"), col("out_deg")).distinct(), "term")
      .select(col("term"), col("pr").as("pr_pico"), col("out_deg").as("degree"))
      .orderBy(col("pr_pico").desc, col("term").asc)
      .limit(TextRankTopK)
  }

  /** q312 refinement depth: 2 rounds separate all structures up to
    * radius-2 neighborhoods — the standard WL-kernel budget. */
  val WlRounds = 2

  /** q312_wl_hash — Weisfeiler-Lehman color refinement over the
    * verified near-dup graph: nodes start as their degree, then twice
    * absorb the SORTED multiset of neighbor colors through a hash
    * (Weisfeiler & Leman 1968; Shervashidze et al. 2011's WL kernel).
    * The final color histogram is a structural fingerprint of the dup
    * topology — two crawls with the same histogram have locally
    * indistinguishable duplication patterns, so this is the one-line
    * "did the template structure change?" diff between corpus
    * snapshots (q104's global counts can agree while structures
    * differ; WL colors can't at radius ≤ 2).
    *
    * Determinism: colors are md5 prefixes of a canonical string (own
    * color + ',' -joined SORTED neighbor colors) — no float anywhere;
    * collect_list order is laundered through sort_array before any
    * hash, so shuffle order can't leak in.
    *
    * Scale shape: reads the memoized pair artifact (never the
    * corpus); per round one edge⋈color equi-join + one node-keyed
    * sorted-concat aggregate over the edge table — bounded by the
    * capped pair set, ≤|colors| output rows. */
  def wlHash(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Dedup.verifiedPairs(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
    val edges = e.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("x"))
      .select(col("x.src").as("src"), col("x.dst").as("dst"))
      .localCheckpoint()
    var colors = edges.groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("d"))
      .select(col("v"), col("d").cast("string").as("c"))
    for (_ <- 1 to WlRounds) {
      val nbr = edges
        .join(colors.select(col("v").as("dst"), col("c").as("nc")), "dst")
        .groupBy(col("src"))
        .agg(concat_ws(",", sort_array(collect_list(col("nc")))).as("ns"))
      colors = colors
        .join(nbr.select(col("src").as("v"), col("ns")), "v")
        .select(col("v"),
          substring(md5(concat(col("c"), lit("|"), col("ns"))), 1, 12).as("c"))
    }
    colors.groupBy(col("c").as("wl_color")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("n_nodes").desc, col("wl_color").asc)
  }

  /** q313_local_clustering — per-node clustering coefficient census of
    * the verified near-dup graph, rolled up by degree: for each node,
    * closed wedges / possible wedges, then (degree → node count,
    * triangle mass, mean coefficient). q104 reports ONE global
    * coefficient; the degree-resolved curve is what actually
    * separates template families (flat ≈ 1 at all degrees) from
    * chain-merged clusters (coefficient collapsing as degree grows —
    * the signature that transitive closure is about to over-merge,
    * measured per degree rather than once).
    *
    * Determinism: per-node triangle counts are exact (Schank & Wagner
    * node-iterator on a<b<c oriented edges — each triangle explodes to
    * its 3 vertices exactly once); per-node coefficients are integer
    * ppm via positive `div`; the degree rollup averages the already-
    * quantized integers.
    *
    * Scale shape: reads the memoized pair artifact; the triangle join
    * is two vertex-keyed equi-joins of the capped pair set (q104's
    * plan) + one explode; degrees are one explode aggregate; ≤
    * |distinct degrees| output rows. */
  def localClustering(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Dedup.verifiedPairs(spark, sfDir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .localCheckpoint()
    val tri = p.as("e1")
      .join(p.as("e2"), col("e1.b") === col("e2.a"))
      .join(p.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(explode(array(col("e1.a"), col("e1.b"), col("e2.b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("tri"))
    val deg = p.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    deg.filter(col("d") >= 2)
      .join(tri, Seq("v"), "left")
      .select(col("d"), coalesce(col("tri"), lit(0L)).as("tri"),
        expr("coalesce(tri, 0) * 2000000 div (d * (d - 1))").as("cc_ppm"))
      .groupBy(col("d").as("degree"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("tri")).as("n_triangles"),
        expr("sum(cc_ppm) div count(1)").as("mean_cc_ppm"))
      .orderBy("degree")
  }

  /** q104_dup_triangles — triangle census of the verified near-dup
    * graph: node/edge/wedge/triangle counts and the global clustering
    * coefficient 3·triangles/wedges. Near-dup graphs from boilerplate
    * families are near-cliques, so the coefficient separates "template
    * family" clusters (→1) from chain-like accidental matches (→0) —
    * the diagnostic read BEFORE trusting q31's transitive closure to
    * define dedup groups (transitivity is an assumption about this
    * graph, and this is the operator that measures it).
    *
    * Spark-native shape — the node-iterator triangle count (Schank &
    * Wagner 2005) on a<b ordered edges: triangles = e1(a,b)⋈e2(b,c)
    * ⋈e3(a,c), each equi-keyed on a vertex so every stage is a keyed
    * shuffle of the (capped, skew-bounded) pair set; each triangle is
    * counted exactly once because a<b<c fixes the orientation. Wedges
    * are one degree aggregate (Σ d(d-1)/2). The pair set is the shared
    * session artifact ([[Dedup.verifiedPairs]], 8th consumer) — at
    * 100 TB these joins run on the persisted pair table, orders of
    * magnitude smaller than the corpus. */
  def dupTriangles(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Dedup.verifiedPairs(spark, sfDir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val degStats = e
      .select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
      .agg(count(lit(1)).as("n_nodes"),
        coalesce(sum(expr("(d * (d - 1)) div 2")), lit(0L)).as("n_wedges"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    val nTri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .agg(count(lit(1)).as("n_triangles"))
    degStats.crossJoin(broadcast(nEdges)).crossJoin(broadcast(nTri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") === 0, lit(0.0))
          .otherwise(floor(lit(3.0) * col("n_triangles") / col("n_wedges")
            * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("clustering_coeff"))
  }

  /** q133_dup_degrees — DEGREE DISTRIBUTION of the verified near-dup
    * graph: how many documents have 0, 1, 2, … verified duplicate
    * partners — the one-histogram health check of a dedup run (a heavy
    * tail means a template family is exploding the pair budget; all-0
    * means the thresholds are too tight). Complements q80's cluster
    * sizes (components) and q104's triangles (transitivity) with the
    * per-NODE view.
    *
    * Scale shape: reads the memoized verified-pair artifact (never the
    * corpus text), one explode to both endpoints, one count per doc,
    * one count per degree — all partial-aggregable; the degree-0 row
    * comes from a corpus count minus the participant count (two scalar
    * aggregates), not an anti-join over rows. */
  def dupDegrees(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Dedup.verifiedPairs(spark, sfDir)
    val deg = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
    val hist = deg.groupBy("degree").agg(count(lit(1)).as("n_docs"))
    val nDocs = Tables.documents(spark, sfDir).agg(count(lit(1)).as("n_total"))
    val nPart = deg.agg(count(lit(1)).as("n_participants"))
    val zero = nDocs.crossJoin(nPart)
      .select(lit(0L).as("degree"),
        (col("n_total") - col("n_participants")).as("n_docs"))
      .filter(col("n_docs") > 0)
    hist.unionByName(zero).orderBy("degree")
  }

  /** q126 knobs: the per-basket item cap (the skew guard — pair count
    * per basket is ≤ cap², so one pathological 10⁵-item basket can
    * never emit 10¹⁰ pairs) and the report depth. */
  val MaxBasketItems = 8
  val CoocTopK = 50

  /** q126_cooccurrence — market-basket co-occurrence mining over
    * (order, part) baskets: pair support `n_ab`, per-item supports,
    * LIFT `n_ab·N / (n_a·n_b)` and basket-Jaccard — the
    * association-rule / item-affinity primitive behind co-view and
    * co-purchase recommenders (Agrawal & Srikant's support counting,
    * reported flat rather than rule-expanded).
    *
    * The scale hazard is the within-basket self-join: pairs per basket
    * grow quadratically, so one flooded basket (a crawler's cart, a
    * bot session) dominates the shuffle. The [[MaxBasketItems]] cap
    * bounds it: items are ranked inside each basket by a deterministic
    * md5 draw (tie → part id) and only the first cap survive — the
    * q69 domain-cap pattern applied to pair GENERATION (the q12
    * CandidatePairs cap+salt argument; the cap is part of the spec, so
    * the oracle mirrors it and correctness is exact, not approximate).
    *
    * Scale shape: the ranking window is per-basket (bounded per key);
    * the pair join is an equi-join on the basket key with ≤cap²
    * output per basket; supports and pair counts are partial-aggregable
    * groupBys; the final report is TakeOrdered over the aggregated
    * pair domain. */
  /** The capped (basket → ≤[[MaxBasketItems]] items) table shared by
    * q126 and q179 — see [[cooccurrence]] for the cap rationale. */
  private def cappedBaskets(spark: SparkSession, sfDir: String): DataFrame = {
    val draw = graft.functions.HashFunctions.md5Int28(
      concat(lit("bk_"), col("l_orderkey").cast("string"),
        lit("_"), col("l_partkey").cast("string")))
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"),
        (lit(0L) - draw).cast("double").as("neg_draw"))
      .groupBy(col("l_orderkey"))
      .agg(org.apache.spark.sql.graft.native.topKDistinctByScore(
        col("neg_draw"), col("l_partkey"), MaxBasketItems).as("top"))
      .select(col("l_orderkey"), expr("transform(top, x -> x.id)").as("items"))
      .localCheckpoint()
  }

  private[graft] val basketCache = TrieMap.empty[(SparkSession, String), DataFrame]
  /** Session-memoized capped-basket artifact (the verifiedPairs
    * pattern): q126 keeps building raw so the basket-construction cost
    * stays priced through the query that owns it; consumers (q179)
    * read the per-(session, corpus) checkpoint — the basket table a
    * deployment persists once and serves many affinity queries from. */
  private[graft] val basketArtifact =
    IndexStore.Artifact("basket_items", basketCache)(cappedBaskets)

  /** Unordered within-basket pair supports over the capped baskets. */
  private def basketPairs(capped: DataFrame): DataFrame =
    capped.select(explode(expr(
        "flatten(transform(items, (x, i) -> " +
          "transform(slice(items, i + 2, size(items)), y -> " +
          "struct(least(x, y) AS a, greatest(x, y) AS b))))")).as("p"))
      .select(col("p.a").as("part_a"), col("p.b").as("part_b"))
      .groupBy("part_a", "part_b").agg(count(lit(1)).as("n_ab"))

  def cooccurrence(spark: SparkSession, sfDir: String): DataFrame = {
    // dedup + cap in ONE bounded map-side aggregate (cappedBaskets): the
    // distinct-id top-k buffer (`top_k_distinct_by_score`) keeps ≤cap
    // slots per basket — duplicate (basket, item) rows collapse
    // in-buffer (their draw is a function of the pair, so set-top-k over
    // the multiset is exact), score = −draw ⇒ the cap smallest draws,
    // tie → smaller part id, exactly the oracle's distinct + ORDER BY
    // draw, part. One keyed exchange replaces distinct-then-rank's two,
    // and a flooded basket never materializes, let alone sorts. The draw
    // is computed in the codegen'd PROJECTION feeding the aggregate, not
    // inside it (a TypedImperativeAggregate evals its inputs interpreted
    // per row). The ≤cap item arrays are materialized once — they feed
    // three consumers (pairs, supports, basket count; the q31
    // multi-reference lesson) and are the basket table a 100 TB
    // deployment would persist anyway. Pair generation (basketPairs) is
    // in-array: ≤cap² interpreted element ops per basket, replacing a
    // basket-keyed self-JOIN whose both sides would re-exchange.
    val capped = cappedBaskets(spark, sfDir)
    val pairs = basketPairs(capped)
    val supp = capped.select(explode(col("items")).as("l_partkey"))
      .groupBy("l_partkey").agg(count(lit(1)).as("n"))
    val nBaskets = capped.agg(count(lit(1)).as("n_baskets"))
    pairs
      .join(broadcast(supp.select(col("l_partkey").as("part_a"), col("n").as("n_a"))), "part_a")
      .join(broadcast(supp.select(col("l_partkey").as("part_b"), col("n").as("n_b"))), "part_b")
      .crossJoin(broadcast(nBaskets))
      .select(col("part_a"), col("part_b"), col("n_ab"), col("n_a"), col("n_b"),
        (floor((col("n_ab") * col("n_baskets")).cast("double")
          / (col("n_a") * col("n_b")).cast("double") * lit(1e6) + lit(0.5)) / lit(1e6)).as("lift"),
        (floor(col("n_ab").cast("double")
          / (col("n_a") + col("n_b") - col("n_ab")).cast("double")
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("jaccard"))
      .orderBy(col("n_ab").desc, col("part_a"), col("part_b"))
      .limit(CoocTopK)
  }

  /** q179 knobs: neighbors served per item and the minimum pair
    * support (a 1-basket co-occurrence is noise, not affinity). */
  val ItemNeighborsK = 3
  val MinCoocSupport = 2L

  /** q179_item_neighbors — the ITEM-TO-ITEM COLLABORATIVE FILTERING
    * serving table over the q126 baskets: for every item, its top
    * [[ItemNeighborsK]] neighbors by co-occurrence COSINE
    * n_ab/√(n_a·n_b) (the Amazon item2item similarity), min support
    * [[MinCoocSupport]]. q126 reports the global strongest PAIRS (the
    * analyst view); this emits the per-item ranked neighbor lists a
    * recommender actually serves — the difference is the per-key
    * bounded ranking, which is also the difference in plan shape.
    *
    * Determinism: supports and pair counts are exact integers; the
    * cosine floors to ppm BEFORE ranking, so the rank order (cos_ppm
    * desc, neighbor asc) is a cross-engine total order.
    *
    * Scale shape: reuses the capped-basket artifact (pair output
    * ≤cap²/basket — the skew guard) and the aggregated pair/support
    * frames; the symmetric expansion doubles the PAIR domain (not the
    * corpus), supports broadcast twice, and the per-item top-k is one
    * window over the item-keyed pair domain. At serving scale the
    * window swaps for the bounded `top_k_by_score` aggregate — the
    * pair domain here is small enough that the window's sort is
    * per-item-partition and the plan stays one exchange either way. */
  def itemNeighbors(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val capped = basketArtifact(spark, sfDir)
    val pairs = basketPairs(capped).filter(col("n_ab") >= MinCoocSupport)
    val supp = capped.select(explode(col("items")).as("l_partkey"))
      .groupBy("l_partkey").agg(count(lit(1)).as("n"))
    val sym = pairs.select(col("part_a").as("item"), col("part_b").as("neighbor"), col("n_ab"))
      .unionAll(pairs.select(col("part_b").as("item"), col("part_a").as("neighbor"), col("n_ab")))
    val scored = sym
      .join(broadcast(supp.select(col("l_partkey").as("item"), col("n").as("n_i"))), "item")
      .join(broadcast(supp.select(col("l_partkey").as("neighbor"), col("n").as("n_j"))), "neighbor")
      .select(col("item"), col("neighbor"), col("n_ab"),
        floor(col("n_ab").cast("double")
          / sqrt((col("n_i") * col("n_j")).cast("double"))
          * lit(1e6) + lit(0.5)).cast("long").as("cos_ppm"))
    val w = Window.partitionBy(col("item"))
      .orderBy(col("cos_ppm").desc, col("neighbor").asc)
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= ItemNeighborsK)
      .select(col("item"), col("rnk").as("neighbor_rank"), col("neighbor"),
        col("n_ab"), (col("cos_ppm").cast("double") / lit(1e6)).as("cosine"))
      .orderBy("item", "neighbor_rank")
  }

  /** q187 BFS hop cap — provenance depth beyond this reports -1. */
  val BfsMaxHops = 4

  /** q187_bfs_hops — dedup PROVENANCE depth: for every document in the
    * verified near-dup graph, the minimum number of verify-hops to the
    * nearest LOCAL-MIN survivor (a paired doc with no smaller-id
    * partner — exactly the docs q14's survivor rule keeps from the
    * pair graph). Hop 1 = directly verified against a kept doc; hop ≥2
    * = dropped only through a transitive chain — the "how indirect was
    * this removal decision" audit a curation run consults before
    * trusting aggressive transitive dedup (long chains are where
    * semantic drift accumulates: a~b~...~z can connect unrelated
    * texts). Depth capped at [[BfsMaxHops]]; unreachable-within-cap
    * reports -1.
    *
    * Spark-native shape: multi-source BFS as [[BfsMaxHops]] rounds of
    * frontier⋈edges equi-join + anti-join against the visited set —
    * O(edges) shuffle per round, the Pregel cost model like q76/q31;
    * the edge list localCheckpoints once (iterative-input lesson) and
    * each frontier/visited state checkpoints per round so no round
    * re-executes the prior rounds' plan. Both edge directions from one
    * explode. Oracle = bounded-depth recursive CTE with min-hop fold. */
  def bfsHops(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Dedup.verifiedPairs(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("u"), col("doc_b").as("v")),
        struct(col("doc_b").as("u"), col("doc_a").as("v")))).as("e"))
      .select(col("e.u"), col("e.v"))
      .localCheckpoint()
    val nodes = edges.select(col("u").as("doc_id")).distinct()
    val seeds = pairs.select(col("doc_a").as("doc_id")).distinct()
      .join(pairs.select(col("doc_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
    var dist = seeds.withColumn("hops", lit(0)).localCheckpoint()
    var frontier = dist
    for (r <- 1 to BfsMaxHops) {
      val next = frontier
        .join(edges, frontier("doc_id") === edges("u"))
        .select(col("v").as("doc_id")).distinct()
        .join(dist, Seq("doc_id"), "left_anti")
        .withColumn("hops", lit(r))
        .localCheckpoint()
      dist = dist.unionAll(next).localCheckpoint()
      frontier = next
    }
    nodes.join(dist, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("hops"), lit(-1)).as("hops"))
      .orderBy("doc_id")
  }

  /** q223_cold_start — the full recommender SERVING table: every
    * catalog item gets [[ItemNeighborsK]] recommendations — CF
    * neighbors (q179) where co-occurrence support exists, and the
    * global-popularity fallback for COLD items (new/rare products with
    * no qualifying pair) — the item-coverage guarantee q179 alone
    * cannot make, and the reason production recsys tables always ship
    * a fallback tier (a cold item without recommendations is a dead
    * product page).
    *
    * Scale shape: the CF tier is q179's plan (reading the memoized
    * basket artifact); the popularity head is a 4-row
    * TakeOrderedAndProject broadcast onto the cold slice (catalog
    * anti-join CF items); the per-cold-item re-rank window is bounded
    * by the 4-row head. Output size = catalog×k — the serving table's
    * inherent size. */
  def coldStartRecs(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cf = itemNeighbors(spark, sfDir)
      .select(col("item"), col("neighbor_rank").as("rec_rank"),
        col("neighbor").as("rec_item"), lit("cf").as("rec_source"))
    val catalog = Tables.part(spark, sfDir).select(col("p_partkey").as("item"))
    val supp = basketArtifact(spark, sfDir)
      .select(explode(col("items")).as("rec_item"))
      .groupBy("rec_item").agg(count(lit(1)).as("pn"))
    val pop = supp.orderBy(col("pn").desc, col("rec_item").asc)
      .limit(ItemNeighborsK + 1)
    val cold = catalog.join(cf.select(col("item")).distinct(), Seq("item"), "left_anti")
    val coldRecs = cold.crossJoin(broadcast(pop))
      .filter(col("rec_item") =!= col("item"))
      .withColumn("rec_rank", row_number().over(
        Window.partitionBy(col("item")).orderBy(col("pn").desc, col("rec_item").asc))
        .cast("long"))
      .filter(col("rec_rank") <= ItemNeighborsK)
      .select(col("item"), col("rec_rank"), col("rec_item"),
        lit("pop").as("rec_source"))
    cf.unionAll(coldRecs).orderBy("item", "rec_rank")
  }

  /** q224_modularity — Newman modularity of the dup-cluster partition
    * over the verified-pair graph: Q = Σ_c (e_c/m − (d_c/2m)²). For
    * q31's connected components every edge is intra-cluster, so Q
    * reduces to 1 − Σ(d_c/2m)² — the DEGREE-BALANCE readout of the
    * clustering: Q near 1 means many small balanced dup families
    * (normal crawl), Q near 0 means one giant template component owns
    * the edge mass (the "one boilerplate ate my corpus" signature
    * that q80's size histogram shows in detail and this compresses to
    * one number). Exact: Q_num = Σ_c (4m·e_c − d_c²) over integers,
    * reported as Q_num·1e6 div 4m².
    *
    * Scale shape: reads the memoized pair artifact + cluster labels;
    * degrees and intra-edge counts are keyed aggregates over |pairs|
    * rows; the fold is clusters-sized. */
  def modularity(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Dedup.verifiedPairs(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
    val clus = Dedup.clusterLabels(spark, sfDir)
    val edgesC = pairs
      .join(clus.select(col("doc_id").as("doc_a"), col("cluster_id").as("ca")), "doc_a")
      .join(clus.select(col("doc_id").as("doc_b"), col("cluster_id").as("cb")), "doc_b")
    val m = edgesC.count() // artifact-sized; the modularity law needs the scalar
    val ec = edgesC.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("c")).agg(count(lit(1)).as("e_c"))
    val dc = pairs.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("deg"))
      .join(clus, "doc_id")
      .groupBy(col("cluster_id").as("c")).agg(sum(col("deg")).as("d_c"))
    dc.join(ec, Seq("c"), "left")
      .select(coalesce(col("e_c"), lit(0L)).as("e_c"), col("d_c"))
      .agg(count(lit(1)).as("n_components"),
        sum(lit(4L * m) * col("e_c") - col("d_c") * col("d_c")).as("q_num"))
      .select(lit(m).as("m_edges"), col("n_components"),
        expr(s"q_num * 1000000 div ${4L * m * m}").as("q_ppm"))
  }

  /** q225_assortativity — degree assortativity of the dup graph
    * (Newman 2002): the Pearson correlation of endpoint degrees over
    * directed edge instances. Positive = hubs attach to hubs
    * (boilerplate families chain into cores — transitive dedup will
    * snowball); negative = hub-and-spoke templates (one canonical
    * page, many orbiting near-copies — q47's rep selection is safe).
    * The third one-number graph health stat beside q224 and q133's
    * histogram.
    *
    * Determinism: all moments (M, Σx, Σxy, Σx²) are exact integer
    * sums over the symmetric edge list; r is ONE division of
    * identical integers, rounded 6dp (degenerate regular graphs
    * report 0 by convention).
    *
    * Scale shape: degrees = one keyed count over the pair artifact;
    * the edge-moment fold joins degrees onto both endpoints of the
    * symmetric list (the explode trick — no doubled subplan) and
    * reduces in one pass. */
  def assortativity(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Dedup.verifiedPairs(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
    val deg = pairs.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val sym = pairs.select(explode(array(
        struct(col("doc_a").as("u"), col("doc_b").as("v")),
        struct(col("doc_b").as("u"), col("doc_a").as("v")))).as("e"))
      .select(col("e.u"), col("e.v"))
    sym
      .join(deg.select(col("doc_id").as("u"), col("deg").as("x")), "u")
      .join(deg.select(col("doc_id").as("v"), col("deg").as("y")), "v")
      .agg(count(lit(1)).as("m2"), sum(col("x")).as("sx"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("m2"), col("sx"), col("sxy"),
        when(col("m2") * col("sxx") - col("sx") * col("sx") > 0,
          round((col("m2") * col("sxy") - col("sx") * col("sx")).cast("double")
            / (col("m2") * col("sxx") - col("sx") * col("sx")).cast("double"), 6))
          .otherwise(lit(0.0)).as("assortativity"))
  }

  /** q241_cf_eval — held-out evaluation of the recommender the engine
    * itself serves (q179/q223): orders split by key parity (the q214
    * assignment convention) into train/test; neighbor lists are built
    * from TRAIN baskets only (q179's exact pipeline at the same k and
    * support floor), then every test-basket item that has a
    * recommendation list scores a HIT if any of its ≤k recommended
    * items appears elsewhere in the same test basket — leave-one-
    * basket-out hit-rate@k, the offline acceptance number a recsys
    * table ships with (a CF table that cannot predict held-out
    * co-purchases is a random-neighbor table). Output: test baskets,
    * evaluable (item, basket) cases, hits, hit-rate in exact ppm.
    *
    * Determinism: the basket cap, supports, ppm cosines and rank
    * windows are the q179 integer machinery; the hit flag is set
    * membership; the rate is integer ppm.
    *
    * Scale shape: reads the memoized basket artifact (parity filters
    * are scan-local on it); train-side pair/support aggregates are
    * q179's bounded shapes; the eval join carries (test items × ≤k
    * recs) rows keyed by (basket, item); the report is one row. */
  def cfEval(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val baskets = basketArtifact(spark, sfDir)
    val train = baskets.filter(col("l_orderkey") % 2 === 0)
    val test = baskets.filter(col("l_orderkey") % 2 === 1)
    val pairs = basketPairs(train).filter(col("n_ab") >= MinCoocSupport)
    val supp = train.select(explode(col("items")).as("l_partkey"))
      .groupBy("l_partkey").agg(count(lit(1)).as("n"))
    val sym = pairs.select(col("part_a").as("item"), col("part_b").as("neighbor"), col("n_ab"))
      .unionAll(pairs.select(col("part_b").as("item"), col("part_a").as("neighbor"), col("n_ab")))
    val scored = sym
      .join(broadcast(supp.select(col("l_partkey").as("item"), col("n").as("n_i"))), "item")
      .join(broadcast(supp.select(col("l_partkey").as("neighbor"), col("n").as("n_j"))), "neighbor")
      .select(col("item"), col("neighbor"),
        floor(col("n_ab").cast("double")
          / sqrt((col("n_i") * col("n_j")).cast("double"))
          * lit(1e6) + lit(0.5)).cast("long").as("cos_ppm"))
    val w = Window.partitionBy(col("item"))
      .orderBy(col("cos_ppm").desc, col("neighbor").asc)
    val recs = scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= ItemNeighborsK)
      .select(col("item"), col("neighbor")).localCheckpoint()
    val testItems = test.select(col("l_orderkey"), explode(col("items")).as("item"))
      .localCheckpoint()
    val bsz = testItems.groupBy(col("l_orderkey")).agg(count(lit(1)).as("bsz"))
    val evaluable = testItems
      .join(bsz, "l_orderkey").filter(col("bsz") >= 2)
      .select(col("l_orderkey"), col("item"))
    // the inner rec join below IS the has-recommendations filter — no
    // separate semi-join needed; the groupBy collapses the ≤k rec rows
    val hits = evaluable
      .join(recs, Seq("item"))
      .join(testItems.select(col("l_orderkey"), col("item").as("neighbor"))
          .withColumn("present", lit(1)),
        Seq("l_orderkey", "neighbor"), "left")
      .groupBy(col("l_orderkey"), col("item"))
      .agg(max(coalesce(col("present"), lit(0))).as("hit"))
    val nb = test.agg(count(lit(1)).as("n_test_baskets"))
    hits.agg(count(lit(1)).as("n_evaluable"), sum(col("hit")).cast("long").as("n_hits"))
      .crossJoin(broadcast(nb))
      .select(col("n_test_baskets"), col("n_evaluable"), col("n_hits"),
        when(col("n_evaluable") > 0, expr("n_hits * 1000000 div n_evaluable"))
          .otherwise(lit(0L)).as("hitrate_ppm"))
  }

  /** q248 output depth. */
  val LinkPredTopK = 20

  /** q248_link_prediction — neighbor-Jaccard link prediction with a
    * held-out evaluation (Liben-Nowell & Kleinberg 2003) on the item
    * co-occurrence graph: HALF the support-qualified co-purchase
    * edges (q126's capped basket pairs) are deterministically hidden
    * (md5 parity on the pair — q48's replayable-split rule applied to
    * edges), the score |N(u)∩N(w)| / |N(u)∪N(w)| is computed over the
    * OBSERVED graph for every observed-2-hop non-edge, and each top
    * prediction carries whether it recovers a HIDDEN true edge — the
    * structural can-the-graph-predict-its-own-missing-links
    * measurement behind recommender candidate generation (q179 ranks
    * known neighbors; this proposes NEW ones and the flag is its
    * measured precision). With q241 (ranked CF hit-rate) and q244
    * (retrieval MRR) this completes the eval tier; the dup graph is
    * deliberately NOT the substrate — its clique components are too
    * small for 2-hop structure (q231's finding).
    *
    * Determinism: the edge split, common-neighbor counts and degrees
    * are exact integers; the score is one floored ppm division;
    * output is the top-[[LinkPredTopK]] under (score, u, w) order.
    *
    * Scale shape: reads the memoized basket artifact; wedges = one
    * edges⋈edges join keyed by the middle vertex (Σdeg² — the q104
    * triangle-census shape, degrees bounded by the basket cap);
    * existing-edge removal one anti-join, the held-out flag one
    * pair-keyed left join; ranking is TakeOrdered over the wedge
    * aggregate. */
  def linkPrediction(spark: SparkSession, sfDir: String): DataFrame = {
    val full = basketPairs(basketArtifact(spark, sfDir))
      .filter(col("n_ab") >= MinCoocSupport)
      .select(col("part_a"), col("part_b"))
      .localCheckpoint()
    val observed = full.filter(
      graft.functions.HashFunctions.md5Int28(concat(lit("lp_"),
        col("part_a").cast("string"), lit("_"), col("part_b").cast("string")))
        % 2 === 0)
    val sym = observed.select(explode(array(
        struct(col("part_a").as("u"), col("part_b").as("v")),
        struct(col("part_b").as("u"), col("part_a").as("v")))).as("e"))
      .select(col("e.u"), col("e.v"))
      .localCheckpoint()
    val deg = sym.groupBy(col("u").as("item")).agg(count(lit(1)).as("deg"))
    val wedges = sym.select(col("u").as("a"), col("v").as("m"))
      .join(sym.select(col("v").as("m"), col("u").as("b")), "m")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
    val nonEdges = wedges.join(observed
        .select(col("part_a").as("a"), col("part_b").as("b")),
      Seq("a", "b"), "left_anti")
    nonEdges
      .join(deg.select(col("item").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("item").as("b"), col("deg").as("db")), "b")
      .join(full.select(col("part_a").as("a"), col("part_b").as("b"),
        lit(true).as("hidden")), Seq("a", "b"), "left")
      .select(col("a").as("item_a"), col("b").as("item_b"), col("common"),
        col("da"), col("db"),
        expr("common * 1000000 div (da + db - common)").as("jaccard_ppm"),
        coalesce(col("hidden"), lit(false)).as("is_hidden_edge"))
      .orderBy(col("jaccard_ppm").desc, col("item_a").asc, col("item_b").asc)
      .limit(LinkPredTopK)
  }

  /** q252 rule depth. */
  val RulesTopK = 30

  /** q252_association_rules — directional association rules over the
    * capped baskets (Agrawal & Srikant 1994's output shape): for every
    * support-qualified pair, BOTH directions a→b with exact-ppm
    * confidence n_ab/n_a and lift n_ab·N/(n_a·n_b) — q126 reports the
    * strongest symmetric pairs, q179/q223 serve per-item rankings;
    * rules add the DIRECTION and the conditional-probability number a
    * merchandising/bundling decision actually consumes ("buyers of a
    * take b 40% of the time, 3× base rate"). Top-[[RulesTopK]] by
    * (lift, confidence, antecedent, consequent) total order.
    *
    * Determinism: supports are exact integers; confidence and lift
    * are floored integer ppm (lift's numerator n_ab·N·10⁶ stays well
    * under 2⁶³ at any basket-capped scale).
    *
    * Scale shape: reads the memoized basket artifact; pair supports =
    * q126's bounded explode; item supports one aggregate; the rule
    * frame is 2·|pairs| rows with supports joined by item key;
    * ranking is TakeOrdered. */
  def associationRules(spark: SparkSession, sfDir: String): DataFrame = {
    val baskets = basketArtifact(spark, sfDir)
    val n = baskets.agg(count(lit(1)).as("n_baskets"))
    val pairs = basketPairs(baskets).filter(col("n_ab") >= MinCoocSupport)
    val supp = baskets.select(explode(col("items")).as("item"))
      .groupBy("item").agg(count(lit(1)).as("n"))
    val sym = pairs.select(col("part_a").as("antecedent"),
        col("part_b").as("consequent"), col("n_ab"))
      .unionAll(pairs.select(col("part_b").as("antecedent"),
        col("part_a").as("consequent"), col("n_ab")))
    sym
      .join(broadcast(supp.select(col("item").as("antecedent"), col("n").as("n_a"))),
        "antecedent")
      .join(broadcast(supp.select(col("item").as("consequent"), col("n").as("n_b"))),
        "consequent")
      .crossJoin(broadcast(n))
      .select(col("antecedent"), col("consequent"), col("n_ab"), col("n_a"),
        col("n_b"),
        expr("n_ab * 1000000 div n_a").as("confidence_ppm"),
        expr("n_ab * n_baskets * 1000000 div (n_a * n_b)").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("confidence_ppm").desc,
        col("antecedent").asc, col("consequent").asc)
      .limit(RulesTopK)
  }

  /** Peel rounds for [[kcore]] — enough for the clique-structured dup
    * graph (pure pairs vanish in round 1, chains cascade one hop per
    * round); convergence is ASSERTED, not assumed (see below). */
  val KcorePeelRounds = 4

  /** q231_kcore — k-core decomposition of the verified near-dup graph
    * (Seidman 1983): iteratively peel nodes of degree < k until the
    * remainder is stable; survivors form the k-core. The DENSITY audit
    * completing the dup-graph family: q31's components call any
    * connected set one family, but a chain of borderline pairwise
    * matches and a genuine template clique are very different dedup
    * decisions — 2-core membership strips the tree-like periphery
    * (accidental chain links peel away; every cycle survives), and the
    * 3-core keeps only dense template hearts. A doc outside the 2-core
    * was merged into its cluster through a SINGLE pair — exactly the
    * rep-selection risk q187 measures by depth and this flags
    * structurally.
    *
    * Output: every pair-graph node with its original degree and
    * 2-core / 3-core membership flags.
    *
    * Determinism: pure integer degree arithmetic; the peel fixpoint is
    * partition-order-independent (the k-core is unique — peel order
    * never changes the result, only the round count).
    *
    * Scale shape: reads the memoized pair artifact only — never corpus
    * text; each round is one endpoint-keyed count over the surviving
    * edge list + a semi/anti join (O(edges) per round, the q76/q187
    * Pregel cost model), with per-round localCheckpoints cutting the
    * iterative lineage. The 3-core peel starts from the 2-core
    * survivors (3-core ⊆ 2-core — half the rounds touch a smaller
    * graph). Convergence after [[KcorePeelRounds]] is asserted with
    * one extra round that must remove nothing — the operator throws
    * rather than emitting a non-fixpoint (q31's convention). */
  def kcore(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Dedup.verifiedPairs(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
    val sym = pairs.select(explode(array(
        struct(col("doc_a").as("u"), col("doc_b").as("v")),
        struct(col("doc_b").as("u"), col("doc_a").as("v")))).as("e"))
      .select(col("e.u"), col("e.v"))
      .localCheckpoint()
    val deg0 = sym.groupBy(col("u").as("doc_id"))
      .agg(count(lit(1)).as("degree")).localCheckpoint()

    // peel alive down to the k-core; assert the last round was a no-op
    def peel(start: DataFrame, k: Int): DataFrame = {
      var alive = start
      for (_ <- 1 to KcorePeelRounds) {
        val deg = sym
          .join(alive.select(col("doc_id").as("u")), "u")
          .join(alive.select(col("doc_id").as("v")), "v")
          .groupBy(col("u").as("doc_id")).agg(count(lit(1)).as("d"))
        alive = alive.join(deg, Seq("doc_id"), "left")
          .filter(coalesce(col("d"), lit(0L)) >= k)
          .select(col("doc_id")).localCheckpoint()
      }
      val extra = sym
        .join(alive.select(col("doc_id").as("u")), "u")
        .join(alive.select(col("doc_id").as("v")), "v")
        .groupBy(col("u").as("doc_id")).agg(count(lit(1)).as("d"))
      val unstable = alive.join(extra, Seq("doc_id"), "left")
        .filter(coalesce(col("d"), lit(0L)) < k).count()
      require(unstable == 0L,
        s"$k-core peel did not converge in $KcorePeelRounds rounds " +
          s"($unstable nodes still under-degree) — raise KcorePeelRounds")
      alive
    }

    val core2 = peel(deg0.select(col("doc_id")), 2)
    val core3 = peel(core2, 3) // 3-core ⊆ 2-core: peel the smaller graph
    deg0
      .join(core2.withColumn("in_2core", lit(true)), Seq("doc_id"), "left")
      .join(core3.withColumn("in_3core", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("degree"),
        coalesce(col("in_2core"), lit(false)).as("in_2core"),
        coalesce(col("in_3core"), lit(false)).as("in_3core"))
      .orderBy("doc_id")
  }

  /** HITS power-iteration rounds (full hub→auth→hub sweeps). */
  val HitsIterations = 2
  val HitsTopK = 20

  /** q269_hits — HITS hubs & authorities (Kleinberg 1999) on the
    * bipartite customer→part purchase graph: authority(part) =
    * Σ hub(buyers), hub(customer) = Σ authority(bought parts),
    * iterated — the mutual-reinforcement ranking where a part matters
    * because WELL-ROUNDED buyers buy it, not merely because many do
    * (q76's PageRank propagates a single score along a homogeneous
    * graph; HITS is the two-role recurrence, and on a bipartite graph
    * the natural one). Top authorities = the catalog's anchor
    * products.
    *
    * Determinism: scores live on an integer ppm grid — each ROUND
    * renormalizes the hub vector by its MAX via integer floor-division
    * (broadcast 1-row max), so every round is exact ≤2⁵³ integer
    * arithmetic; ranking under (auth desc, partkey) total order.
    * Normalization is once per FULL round, not per half-step: in real
    * arithmetic a normalization is a scalar multiple, so where it sits
    * cannot change the (normalized) fixed-point iterates — fusing the
    * two half-steps into one round job halved the checkpoint/job count
    * (measured 4.6 → ~2.6 s at sf0.1) at the cost of one wider integer
    * headroom requirement: unnormalized hr ≤ max_degree · n_nodes ·
    * 10⁶ must stay under 2⁶³ (true through ~10⁹ nodes × 10³ degree; a
    * corpus beyond that re-inserts the mid-round normalize).
    *
    * Scale shape: the edge table is one distinct aggregate keyed
    * (cust, part); each round is two keyed join+partial-sum sweeps +
    * one broadcast max, checkpointed ONCE (q76's pattern — the
    * checkpoint truncates the recurrence; the earlier per-half-step
    * checkpoint elision via ReuseExchange measured SLOWER, 4.1 → 6.0 s,
    * round-16 note in PLANS.md), state O(1) on the driver; top-20 via
    * TakeOrderedAndProject. */
  def hits(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(Tables.orders(spark, sfDir)
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey")), "l_orderkey")
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
      .localCheckpoint()
    var hub = edges.select(col("c")).distinct()
      .withColumn("h", lit(1000000L))
    for (_ <- 1 to HitsIterations) {
      val authRaw = edges.join(hub, "c")
        .groupBy(col("p")).agg(sum(col("h")).as("ar"))
      // hubRaw is the round's ONE checkpoint: authRaw feeds exactly one
      // reference, so the whole two-sweep round evaluates once inside
      // this job; the normalization below is a lazy projection over the
      // checkpoint (its broadcast max re-scans the checkpoint, not the
      // round's join chain)
      val hubRaw = edges.join(authRaw, "p")
        .groupBy(col("c")).agg(sum(col("ar")).as("hr"))
        .localCheckpoint()
      val hubMax = hubRaw.agg(max(col("hr")).as("hm"))
      hub = hubRaw.crossJoin(broadcast(hubMax))
        .select(col("c"), expr("hr * 1000000 div hm").as("h"))
    }
    // final authority pass over the converged hub scores
    val authRaw = edges.join(hub, "c")
      .groupBy(col("p")).agg(sum(col("h")).as("ar"), count(lit(1)).as("n_buyers"))
    val authMax = authRaw.agg(max(col("ar")).as("am"))
    authRaw.crossJoin(broadcast(authMax))
      .select(col("p").as("p_partkey"), col("n_buyers"),
        expr("ar * 1000000 div am").as("authority_ppm"))
      .join(broadcast(Tables.part(spark, sfDir)
        .select(col("p_partkey"), col("p_name"))), "p_partkey")
      .orderBy(col("authority_ppm").desc, col("p_partkey"))
      .limit(HitsTopK)
  }

  /** Synchronous label-propagation rounds for q270. */
  val LpaIterations = 3

  /** q270_label_propagation — community detection by synchronous
    * weighted label propagation (Raghavan 2007) over the capped
    * co-occurrence graph: labels start as own part ids; each round
    * every node adopts the label carrying the most co-occurrence
    * WEIGHT among its neighbors (tie → smallest label) — the
    * near-linear community detector that needs no modularity
    * objective or cluster count up front (q31's connected components
    * merge everything reachable; LPA segments DENSE regions apart,
    * which is what "product families" means on a basket graph; q224
    * then scores such partitions).
    *
    * Determinism: synchronous rounds (all nodes update from the SAME
    * previous labeling — no update-order dependence), integer weights,
    * argmax via struct-max (weight, −label); fixed
    * [[LpaIterations]] rounds rather than data-dependent convergence.
    *
    * Scale shape: each round is one label⋈edge join keyed by the
    * neighbor + one (node, label) partial-aggregable weight sum + one
    * node-keyed struct-max — all on the pair domain (basket-cap
    * bounded, q126's argument), checkpointed per round; census is one
    * label-keyed count. */
  def labelPropagation(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = basketPairs(basketArtifact(spark, sfDir))
      .filter(col("n_ab") >= MinCoocSupport)
    val edges = pairs
      .select(explode(array(
        struct(col("part_a").as("src"), col("part_b").as("dst"), col("n_ab")),
        struct(col("part_b").as("src"), col("part_a").as("dst"), col("n_ab"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.n_ab").as("w"))
      .localCheckpoint()
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
    for (_ <- 1 to LpaIterations) {
      labels = edges
        .join(labels.select(col("node").as("src"), col("lbl")), "src")
        .groupBy(col("dst"), col("lbl")).agg(sum(col("w")).as("wsum"))
        .groupBy(col("dst"))
        .agg(max(struct(col("wsum"), (-col("lbl")).as("neg"))).as("m"))
        .select(col("dst").as("node"), (-col("m.neg")).as("lbl"))
    }
    labels.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"))
      .orderBy(col("n_nodes").desc, col("community"))
      .limit(30)
  }

  /** This module's graded queries, name → build; `SparkEntry.queries`
    * collects them. */
  private[graft] val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q76_pagerank"        -> (pageRank _),
    "q104_dup_triangles"  -> (dupTriangles _),
    "q126_cooccurrence"   -> (cooccurrence _),
    "q133_dup_degrees"    -> (dupDegrees _),
    "q179_item_neighbors" -> (itemNeighbors _),
    "q187_bfs_hops"       -> (bfsHops _),
    "q223_cold_start"     -> (coldStartRecs _),
    "q224_modularity"     -> (modularity _),
    "q225_assortativity"  -> (assortativity _),
    "q231_kcore"          -> (kcore _),
    "q241_cf_eval"        -> (cfEval _),
    "q248_link_prediction" -> (linkPrediction _),
    "q252_association_rules" -> (associationRules _),
    "q269_hits"           -> (hits _),
    "q270_label_propagation" -> (labelPropagation _),
    "q305_textrank"       -> (textRank _),
    "q312_wl_hash"        -> (wlHash _),
    "q313_local_clustering" -> (localClustering _)
  )
}
