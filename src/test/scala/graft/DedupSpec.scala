package graft

import graft.functions.TextFunctions
import graft.operators.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSuite {

  /** Independent ground truth: brute-force all-pairs exact Jaccard over
    * word-3-shingle sets (feasible at sf0.001's 500 docs). */
  private lazy val bruteForcePairs: Set[(Long, Long)] = {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), TextFunctions.wsTokens(col("text")).as("w"))
      .select(col("doc_id"), TextFunctions.shingleSet(col("w"), Dedup.ShingleK).as("sh"))
    val a = docs.select(col("doc_id").as("doc_a"), col("sh").as("sha"))
    val b = docs.select(col("doc_id").as("doc_b"), col("sh").as("shb"))
    a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jac", col("inter").cast("double") / (size(col("sha")) + size(col("shb")) - col("inter")))
      .filter(col("jac") >= Dedup.JaccardThreshold)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("minhash-LSH pairs equal brute-force exact-Jaccard pairs") {
    val lsh = Dedup.minhashPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == bruteForcePairs)
  }

  test("minhash pairs are ordered, above threshold, and distinct") {
    val rows = Dedup.minhashPairs(spark, sf).collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(r => r.getDouble(2) >= Dedup.JaccardThreshold))
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).distinct.length == rows.length)
  }

  test("exact dedup keeps one survivor per distinct content") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val distinctTexts = docs.select("text").distinct().count()
    val dedup = Dedup.exactDedup(spark, sf)
    assert(dedup.count() == distinctTexts)
    assert(dedup.select("doc_id").distinct().count() == distinctTexts)
  }

  test("simhash banding finds every hamming<=3 pair (pigeonhole recall)") {
    import graft.SparkSuite.implicits._
    val sims = Dedup.simhashes(spark, sf).as[(Long, Long)].collect()
    val brute = (for {
      (ida, sa) <- sims; (idb, sb) <- sims if ida < idb
      if java.lang.Long.bitCount(sa ^ sb) <= Dedup.HammingMax
    } yield (ida, idb)).toSet
    val banded = Dedup.simhashPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute)
  }

  test("dup clusters are the transitive closure of the pair graph") {
    val labels = Dedup.dupClusters(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every near-dup pair shares a cluster label
    bruteForcePairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
    }
    // labels are the min doc_id of each component
    labels.groupBy(_._2).foreach { case (root, members) =>
      assert(members.keys.min == root)
    }
    // docs in no pair are singletons
    val paired = bruteForcePairs.flatMap(p => Seq(p._1, p._2))
    labels.foreach { case (doc, root) =>
      if (!paired.contains(doc)) assert(root == doc)
    }
  }

  test("ngram dedup survivors exclude exactly the higher-id pair members") {
    val survivors = Dedup.ngramDedup(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val all = graft.sources.Tables.documents(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val removed = bruteForcePairs.map(_._2)
    assert(survivors == (all -- removed))
  }

  test("large-star/small-star converges in O(log n) rounds on a chain") {
    import graft.SparkSuite.implicits._
    // a 256-node chain is the adversarial case: min-label propagation
    // needs 255 rounds, the star algorithm a handful
    val n = 256
    val chain = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("u", "v")
    val (labels, rounds) = Dedup.connectedComponents(chain)
    assert(rounds <= 12, s"took $rounds rounds on a $n-chain")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L until n.toLong).foreach(i => assert(got(i) == 0L))
  }

  test("cluster-label consumers start no Spark job once the labels artifact is built") {
    import graft.operators.Pipeline
    Dedup.clusterLabels(spark, sf)
    assert(jobsStartedBy(Pipeline.clusterReps(spark, sf)) == 0, "q47")
    assert(jobsStartedBy(Pipeline.dedupReport(spark, sf)) == 0, "q80")
    assert(jobsStartedBy(Pipeline.dupSavings(spark, sf)) == 0, "q112")
  }

  test("large-star/small-star matches driver-side union-find on a random graph") {
    import graft.SparkSuite.implicits._
    val rnd = new scala.util.Random(42)
    val n = 300
    val edges = Seq.fill(260)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    // ground truth: plain union-find with min-root normalization
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    val (labels, _) = Dedup.connectedComponents(edges.toDF("u", "v"))
    labels.collect().foreach { r =>
      assert(r.getLong(1) == truth(r.getLong(0)),
        s"node ${r.getLong(0)}: got ${r.getLong(1)}, want ${truth(r.getLong(0))}")
    }
  }

  test("winnow pairs equal a driver-side winnowing recomputation") {
    import org.apache.spark.sql.graft.{RollingHash, WinnowMin}
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val fps: Map[Long, Set[Long]] = docs.map { case (id, text) =>
      id -> WinnowMin.compute(
        RollingHash.compute(text.getBytes("UTF-8"),
          graft.operators.TextAnalysis.RollingWindow),
        Dedup.WinnowW).toSet
    }.toMap
    val df = fps.toSeq.flatMap { case (id, s) => s.map(f => (f, id)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rare = df.filter(_._2.size <= Dedup.WinnowMaxDf).keySet
    val want = (for {
      (a, fa) <- fps.toSeq; (b, fb) <- fps.toSeq if a < b
      shared = (fa & fb & rare).size if shared >= Dedup.WinnowMinShared
    } yield (a, b) -> shared.toLong).toMap
    val got = Dedup.winnowPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want)
    assert(got.nonEmpty, "corpus near-dups must share winnowed fingerprints")
  }

  test("decontaminateAgainst accepts an external benchmark corpus") {
    import graft.SparkSuite.implicits._
    // docs 1 and 3 each share one 5-gram with the bench doc; doc 2 shares none
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "prefix beta gamma delta epsilon zeta")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "xx beta gamma delta epsilon zeta yy")
    ).toDF("doc_id", "text")
    val got = Dedup.decontaminateAgainst(docs, bench)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // doc 1: 5-grams {alpha..epsilon, beta..zeta}; bench has beta..zeta → 1 hit
    // doc 3: {prefix..epsilon, beta..zeta} → 1 hit
    assert(got == Map(1L -> 1L, 3L -> 1L))
  }

  test("graded q51 equals decontaminateAgainst with the % 50 slice") {
    val d = graft.sources.Tables.documents(spark, sf)
    val viaInjectable = Dedup.decontaminateAgainst(
      d.filter(col("doc_id") % 50 =!= 0), d.filter(col("doc_id") % 50 === 0))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val graded = Dedup.decontaminate(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(graded == viaInjectable && graded.nonEmpty)
  }

  test("incremental dedup labels exact/near/new and ignores batch-internal pairs") {
    import graft.SparkSuite.implicits._
    // 15 docs -> split = 12: corpus 0-11, batch 12-14
    val docs = (0L until 12L).map(i => (i, s"corpus doc number $i body"))
      .toSeq
      .updated(3, (3L, "identical content here")) ++ Seq(
      (12L, "identical content here"),   // exact dup of corpus doc 3
      (13L, "nearly the same as five"),  // near via the pairs frame
      (14L, "genuinely novel text"))
    val pairs = Seq(
      (5L, 13L),  // corpus -> batch: flags 13 as near
      (12L, 13L), // batch-internal: must be IGNORED
      (2L, 11L)   // corpus-internal: irrelevant to the batch
    ).toDF("doc_a", "doc_b")
    val got = Dedup.incrementalDedupFrom(docs.toDF("doc_id", "text"), pairs)
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(got == Seq(
      (12L, "exact", 3L),
      (13L, "near", 5L),
      (14L, "new", -1L)))
  }
}
