package graft

import graft.operators.{Indexing, Relational, Sampling, TextAnalysis}
import org.apache.spark.sql.functions._

/** q69-q74 round-7 tier: domain capping, vocab/OOV coverage, temperature
  * mixing, segmented inverted index, binned range join. */
class IndexingMixSpec extends SparkSuite {

  import graft.SparkSuite.implicits._

  test("domain cap keeps at most N docs per source, deterministically") {
    // one flooded source (40 docs), one tiny (5) — the cap must bind
    // only the flooded one and pick the same set on every run/partitioning
    val docs = ((0L until 40L).map((_, "big")) ++ (100L until 105L).map((_, "small")))
      .toDF("doc_id", "source")
    val kept = Sampling.domainCapFrom(docs, 15)
      .select($"source", $"doc_id", $"cap_rank")
      .as[(String, Long, Long)].collect()
    val bySrc = kept.groupBy(_._1)
    assert(bySrc("big").length == 15)
    assert(bySrc("small").length == 5)
    assert(bySrc("big").map(_._3).sorted.toSeq == (1L to 15L))
    val again = Sampling.domainCapFrom(docs.repartition(7), 15)
      .select($"source", $"doc_id", $"cap_rank")
      .as[(String, Long, Long)].collect()
    assert(kept.sortBy(r => (r._1, r._3)).toSeq == again.sortBy(r => (r._1, r._3)).toSeq)
  }

  test("temperature mix keeps the min language whole and damps by sqrt") {
    // en 400 docs, fr 100: keep_ppm(fr)=10^6 (all), keep_ppm(en)=500000
    val docs = ((0L until 400L).map((_, "en")) ++ (400L until 500L).map((_, "fr")))
      .map { case (id, l) => (id, l, s"s$id") }.toDF("doc_id", "lang", "source")
    val out = Sampling.tempMixFrom(docs)
      .select($"doc_id", $"lang", $"keep_ppm").as[(Long, String, Long)].collect()
    val byLang = out.groupBy(_._2)
    assert(byLang("fr").length == 100) // sqrt(100/100)=1 => min stratum intact
    assert(out.filter(_._2 == "en").head._3 == 500000L) // floor(sqrt(1/4)*1e6)
    // ~half of en kept (hash-uniform; generous bounds)
    assert(byLang("en").length > 140 && byLang("en").length < 260)
    // alpha=0.5 keeps MORE of the dominant language than full flattening
    val flat = Sampling.langBalanceFrom(docs)
      .filter($"lang" === "en").count()
    assert(byLang("en").length > flat)
  }

  test("vocab OOV counts are exact on a known corpus") {
    // 21 distinct letter-only tokens; the top-20 vocab cutoff is by
    // (count DESC, token ASC), so the excluded term is the
    // lexicographically-largest count-2 token: "wt"
    val common = ('a' to 't').map(c => s"w$c") // wa..wt, 20 words
    val text = (common ++ common ++ Seq("zzz")).mkString(" ")
    val docs = Seq(
      (1L, text, "en", "s", text.length.toLong),      // wa..wt x2, zzz x1
      (2L, "wa wb zzz zzz", "en", "s", 12L),          // counts: wa,wb,zzz=3
      (3L, "", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.vocabOov(spark, sf) // smoke the graded form
    assert(out.columns.toSeq ==
      Seq("doc_id", "n_tokens", "n_oov", "oov_permille"))
    val got = vocabOovFrom(docs)
    assert(got(1L) == ((41L, 2L, 48L)))  // wt x2 OOV; 2000 div 41 = 48
    assert(got(2L) == ((4L, 0L, 0L)))    // fully in-vocab
    assert(got(3L) == ((0L, 0L, 0L)))    // zero-token doc survives
  }

  /** Runs the q70 pipeline over an injected frame via a temp view swap. */
  private def vocabOovFrom(docs: org.apache.spark.sql.DataFrame)
      : Map[Long, (Long, Long, Long)] = withTempDir("vocaboov") { dir =>
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    TextAnalysis.vocabOov(spark, dir.toString)
      .select($"doc_id", $"n_tokens", $"n_oov", $"oov_permille")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
  }

  test("inverted index: exact postings, segment split, stopword bounded") {
    val docs = Seq(
      (99L, "alpha beta alpha"),        // segment 0
      (100L, "beta gamma"),             // segment 1 boundary
      (101L, "alpha beta beta")         // segment 1
    ).toDF("doc_id", "text")
    val rows = Indexing.invertedIndexFrom(docs)
      .select($"term", $"segment", $"seg_df", $"seg_tf", $"postings")
      .as[(String, Long, Long, Long, String)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(rows(("alpha", 0L)) == ((1L, 2L, "99:0|2")))
    assert(rows(("alpha", 1L)) == ((1L, 1L, "101:0")))
    assert(rows(("beta", 0L)) == ((1L, 1L, "99:1")))
    assert(rows(("beta", 1L)) == ((2L, 3L, "100:0 101:1|2"))) // doc order
    assert(rows(("gamma", 1L)) == ((1L, 1L, "100:1")))
    // a corpus-wide stopword never concentrates in one group: its
    // postings stay split per segment
    assert(rows.keys.count(_._1 == "beta") == 2)
  }

  test("bm25 matches a driver-side recompute of the formula") {
    import graft.operators.Indexing.{Bm25B, Bm25K1, Bm25Query}
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val toks = docs.map { case (id, t) =>
      id -> "[a-z]+".r.findAllIn(t.toLowerCase).toSeq
    }.toMap
    val dls = toks.collect { case (id, ts) if ts.nonEmpty => id -> ts.length }
    val nDocs = dls.size.toDouble
    val avgdl = dls.values.sum.toDouble / nDocs
    val dfm = Bm25Query.map(q => q -> toks.count(_._2.contains(q))).toMap
    val want = toks.flatMap { case (id, ts) =>
      val s = Bm25Query.map { q =>
        val tf = ts.count(_ == q)
        if (tf == 0) 0.0
        else math.log(((nDocs - dfm(q) + 0.5) / (dfm(q) + 0.5)) + 1.0) *
          (tf * (Bm25K1 + 1.0)) /
          (tf + Bm25K1 * ((1.0 - Bm25B) + Bm25B * ts.length / avgdl))
      }.sum
      if (s > 0.0) Some(id -> BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      else None
    }
    val got = graft.operators.Indexing.bm25(spark, sf)
      .select($"doc_id", $"bm25").as[(Long, Double)].collect()
    assert(got.length == math.min(20, want.size))
    // scores agree with the recompute and arrive in (score desc, id) order
    got.foreach { case (id, s) => assert(math.abs(want(id) - s) < 2e-6, s"doc $id") }
    assert(got.map(-_._2).toSeq == got.map(-_._2).sorted.toSeq)
    val cutoff = got.last._2
    assert(want.values.count(_ > cutoff + 2e-6) <= 20, "a higher-scoring doc was dropped")
  }

  test("pagerank matches the hand-simulated recurrence on a path graph") {
    import graft.operators.Graph
    // path 1-2-3: node 2 receives from both ends, ranks sum to ~1
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val got = Graph.pageRankFrom(pairs)
      .select($"doc_id", $"pagerank", $"out_deg").as[(Long, Double, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // simulate: deg(1)=deg(3)=1, deg(2)=2; 9dp state rounding per round
    def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var p = Map(1L -> r9(1.0 / 3), 2L -> r9(1.0 / 3), 3L -> r9(1.0 / 3))
    val d = Graph.Damping
    (1 to Graph.PrIterations).foreach { _ =>
      p = Map(
        1L -> r9((1 - d) / 3 + d * (p(2L) / 2)),
        2L -> r9((1 - d) / 3 + d * (p(1L) / 1 + p(3L) / 1)),
        3L -> r9((1 - d) / 3 + d * (p(2L) / 2)))
    }
    assert(got(1L) == ((r6(p(1L)), 1L)))
    assert(got(2L) == ((r6(p(2L)), 2L)))
    assert(got(3L) == ((r6(p(3L)), 1L)))
    // symmetric graph, no dangling mass: total rank stays ~1
    assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-5)
  }

  test("pagerank over the corpus pair graph conserves mass and tops the hub") {
    import graft.operators.Graph
    val rows = Graph.pageRank(spark, sf)
      .select($"doc_id", $"pagerank", $"out_deg").as[(Long, Double, Long)].collect()
    if (rows.nonEmpty) {
      assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-4)
      // the max-degree node never ranks below the median
      val byDeg = rows.maxBy(_._3)
      val med = rows.map(_._2).sorted.apply(rows.length / 2)
      assert(byDeg._2 >= med)
    }
  }

  test("lm score matches a driver-side recompute and orders rarity") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val toks = docs.map { case (id, t) =>
      id -> "[a-z]+".r.findAllIn(t.toLowerCase).toSeq }.toMap
    val cnt = toks.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val total = cnt.values.sum.toDouble
    val got = TextAnalysis.lmScore(spark, sf)
      .select($"doc_id", $"n_tokens", $"xent").as[(Long, Long, Double)].collect()
    assert(got.length == docs.length)
    got.foreach { case (id, n, x) =>
      assert(n == toks(id).length)
      if (n > 0) {
        val want = toks(id).map(w => -math.log(cnt(w) / total)).sum / n
        assert(math.abs(want - x) < 2e-6, s"doc $id")
      } else assert(x == 0.0)
    }
    // the LM must rank an all-common-token doc below a rare-token doc:
    // the min-xent doc's mean token frequency exceeds the max-xent doc's
    val scored = got.filter(_._2 > 0)
    val lo = scored.minBy(_._3)._1
    val hi = scored.maxBy(_._3)._1
    def meanFreq(id: Long) = toks(id).map(cnt(_).toDouble).sum / toks(id).length
    assert(meanFreq(lo) > meanFreq(hi))
  }

  test("json props extraction agrees with a regexp re-parse") {
    val ev = graft.sources.Tables.events(spark, sf)
    val viaRegex = ev.select(
        regexp_extract($"props", "([0-9]+)", 1).cast("int").as("k"))
      .agg(sum($"k"), count($"k")).as[(Long, Long)].head()
    val out = Relational.jsonProps(spark, sf)
    val viaJson = out.agg(sum($"sum_k"), sum($"n_events")).as[(Long, Long)].head()
    assert(viaJson == viaRegex)
    // per-type mins/maxs bound each other
    out.select($"min_k", $"max_k").as[(Int, Int)].collect()
      .foreach { case (mn, mx) => assert(mn <= mx) }
  }

  test("promo revenue shares are internally consistent per month") {
    val rows = Relational.promoRevenue(spark, sf)
      .select($"ship_month", $"promo_revenue", $"total_revenue", $"promo_pct")
      .as[(String, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.map(_._1).sorted.toSeq == rows.map(_._1).toSeq) // month order
    rows.foreach { case (m, promo, total, pct) =>
      assert(promo >= 0 && promo <= total + 1e-6, m)
      assert(math.abs(pct - 100.0 * promo / total) < 0.02, m) // rounded inputs
    }
  }

  test("dedup report partitions the corpus and counts removables") {
    val rows = graft.operators.Pipeline.dedupReport(spark, sf)
      .select($"cluster_size", $"n_clusters", $"n_docs", $"n_removable")
      .as[(Long, Long, Long, Long)].collect()
    val corpus = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.map(_._3).sum == corpus) // every doc in exactly one cluster
    rows.foreach { case (size, nc, nd, nr) =>
      assert(nd == size * nc && nr == nd - nc)
    }
    // removable total agrees with the q14 survivor count: survivors =
    // docs - removables (both define survivor = lowest-id per component
    // ... per pair, but totals must bound each other)
    val survivors = graft.operators.Dedup.ngramDedup(spark, sf).count()
    assert(survivors >= corpus - rows.map(_._4).sum)
  }

  test("binned range join classifies every event exactly once") {
    val out = Relational.binnedRangeJoin(spark, sf)
    val classified = out.agg(sum($"n_events")).as[Long].head()
    val total = graft.sources.Tables.events(spark, sf).count()
    assert(classified == total)
    // boundary semantics: [lo, hi) half-open — value 50.0 is silver
    val tiers = out.select($"tier").distinct().as[String].collect().toSet
    assert(tiers.subsetOf(Set("bronze", "silver", "gold", "platinum")))
  }

  test("binned range join plans a hash join, not a nested-loop product") {
    val p = Relational.binnedRangeJoin(spark, sf)
      .queryExecution.executedPlan.toString
    // the bin equi-key must carry the join; BNLJ only for the 1-row
    // max-bin broadcast (no row-vs-tier nested loop)
    assert(p.contains("BroadcastHashJoin"),
      s"expected a BroadcastHashJoin on the bin key:\n$p")
  }
}
