package graft

import org.apache.spark.sql.functions._

/** Invariant tests for the round-13 additions (q231+): k-core peel,
  * audio codec round-trip. */
class Round13OpsSpec extends SparkSuite {

  test("q231 k-core matches a driver-side brute-force peel") {
    val rows = graft.operators.Graph.kcore(spark, sf).collect()
    assert(rows.nonEmpty, "the sf0.001 dup graph has nodes")

    // independent reference: peel the collected pair graph to fixpoint
    val pairs = graft.operators.Dedup.verifiedPairs(spark, sf)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def core(k: Int): Set[Long] = {
      var alive = pairs.flatMap(p => Seq(p._1, p._2)).toSet
      var changed = true
      while (changed) {
        val deg = pairs.filter(p => alive(p._1) && alive(p._2))
          .flatMap(p => Seq(p._1, p._2))
          .groupBy(identity).map { case (n, xs) => n -> xs.length }
        val next = alive.filter(n => deg.getOrElse(n, 0) >= k)
        changed = next.size != alive.size
        alive = next
      }
      alive
    }
    val (c2, c3) = (core(2), core(3))
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Boolean]("in_2core") == c2(id), s"2-core mismatch at $id")
      assert(r.getAs[Boolean]("in_3core") == c3(id), s"3-core mismatch at $id")
    }
    // structural invariants: 3-core ⊆ 2-core; degree-1 nodes never in a core
    rows.foreach { r =>
      if (r.getAs[Boolean]("in_3core")) assert(r.getAs[Boolean]("in_2core"))
      if (r.getAs[Long]("degree") < 2) assert(!r.getAs[Boolean]("in_2core"))
      assert(r.getAs[Long]("degree") >= 1, "pair-graph nodes have an edge")
    }
  }

  test("q232 decoded audio features match an independent md5 recompute") {
    val rows = graft.operators.Multimodal.audioCodec(spark, sf).collect()
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == docs.size, "one feature row per document")

    // independent h: JDK MessageDigest, not Spark's md5 expression
    def md5h(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
    }
    val n = graft.operators.Multimodal.WavSamples
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val h = md5h(docs(id))
      val s = Array.tabulate(n)(i =>
        (((h % 1048576L) * 17L + i * 89L + (i.toLong * i) % 241L) % 256L).toInt)
      val peak = s.map(v => math.abs(v - 128)).max.toLong
      val energy = s.map(v => (v - 128).toLong * (v - 128)).sum
      val zc = (1 until n).count(i => (s(i - 1) < 128) != (s(i) < 128)).toLong
      assert(r.getAs[Long]("n_samples") == n.toLong)
      assert(r.getAs[Long]("peak_dev") == peak, s"peak mismatch at $id")
      assert(r.getAs[Long]("energy") == energy, s"energy mismatch at $id")
      assert(r.getAs[Long]("zero_cross") == zc, s"zero-cross mismatch at $id")
    }
  }

  test("q233 full-width row is its own ground truth and regret is non-negative") {
    val rows = graft.operators.Similarity.mrlTruncate(spark, sf).collect()
    val nq = rows.map(_.getAs[Long]("query_id")).distinct.length
    assert(rows.length == graft.operators.Similarity.MrlPrefixes.length * nq,
      "one row per (prefix, query)")
    rows.foreach { r =>
      val pd = r.getAs[Int]("prefix_dim")
      val regret = r.getAs[Long]("regret_ppm")
      assert(regret >= 0L, "the full-width top-1 maximizes full-width cosine")
      if (pd == graft.operators.Similarity.Dims) {
        assert(r.getAs[Boolean]("top1_match"), "p=64 IS the ground truth")
        assert(regret == 0L)
      }
      if (r.getAs[Boolean]("top1_match")) assert(regret == 0L)
    }
  }

  test("q234 held-out scoring covers every bigram position and backoff fires") {
    val rows = graft.operators.TextAnalysis.backoffLm(spark, sf).collect()
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), size(graft.functions.TextFunctions
        .alphaTokens(col("text"))).as("nt")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val split = docs.size / 2
    assert(rows.length == docs.count(_._1 >= split), "one row per held-out doc")
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(id >= split, "only held-out docs are scored")
      val expected = math.max(0, docs(id) - 1).toLong
      assert(r.getAs[Long]("n_scored") == expected,
        s"every adjacent position scores exactly once at $id")
      assert(r.getAs[Long]("n_backoff") <= r.getAs[Long]("n_scored"))
      if (r.getAs[Long]("n_scored") > 0)
        assert(r.getAs[Double]("xent") > 0.0, "S < 1 ⇒ −ln S > 0")
    }
    assert(rows.map(_.getAs[Long]("n_backoff")).sum > 0,
      "a held-out half must contain unseen bigrams")
  }

  test("q235 first/last conserve revenue exactly, linear loses only floor dust") {
    val rows = graft.operators.Relational.attributionModels(spark, sf).collect()
    val totalMicro = graft.sources.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .agg(sum(floor(col("value") * 100 + lit(0.5)).cast("long") * 10000L))
      .collect()(0).getLong(0)
    def credit(m: String) = rows.filter(_.getAs[String]("model") == m)
      .map(_.getAs[Long]("credit_microcents")).sum
    assert(credit("first") == totalMicro, "first-touch conserves revenue")
    assert(credit("last") == totalMicro, "last-touch conserves revenue")
    val lin = credit("linear")
    val nLin = rows.filter(_.getAs[String]("model") == "linear")
      .map(_.getAs[Long]("n_credits")).sum
    assert(lin <= totalMicro && lin > totalMicro - nLin,
      "linear floors each split — loses under 1 microcent per credit row")
    val nP = rows.filter(_.getAs[String]("model") == "first")
      .map(_.getAs[Long]("n_credits")).sum
    assert(nP == rows.filter(_.getAs[String]("model") == "last")
      .map(_.getAs[Long]("n_credits")).sum, "one credit per purchase in both")
  }

  test("q236 matrix partitions the user base with ppm shares") {
    val rows = graft.operators.Relational.segmentMigration(spark, sf).collect()
    val nUsers = graft.sources.Tables.events(spark, sf)
      .select(col("user_id")).distinct().count()
    assert(rows.map(_.getAs[Long]("n_users")).sum == nUsers,
      "matrix cells partition the user base")
    rows.foreach { r =>
      assert(r.getAs[Int]("seg_a") >= 0 && r.getAs[Int]("seg_a") <= 40,
        "tier is a bit length")
      assert(r.getAs[Int]("seg_b") >= 0 && r.getAs[Int]("seg_b") <= 40)
      assert(r.getAs[Long]("share_ppm") >= 0L)
    }
    assert(rows.map(_.getAs[Long]("share_ppm")).sum <= 1000000L)
    assert(rows.length >= 2, "magnitude tiers discriminate the user base")
  }

  test("q237 outer join emits matched pairs plus watermark-decided organics") {
    val rows = graft.streaming.EventStream
      .clickAttributionOuterStreamed(spark, sf).collect()
    val ev = graft.sources.Tables.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("cid"), col("user_id").as("cu"),
        unix_micros(col("ts")).as("cus"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("vu"), unix_micros(col("ts")).as("vus"))
    val matchedBatch = clicks.join(views,
      col("cu") === col("vu") && col("vus") <= col("cus") &&
        col("vus") >= col("cus") - lit(30L * 60 * 1000000)).count()
    val matched = rows.filter(_.getAs[Long]("view_id") != -1L)
    assert(matched.length == matchedBatch.toInt,
      "inner matches emit exactly once each")
    val bounds = clicks.agg(max(col("cus"))).collect()(0).getLong(0)
      .min(views.agg(max(col("vus"))).collect()(0).getLong(0)) - 600000000L
    val cts = clicks.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    rows.filter(_.getAs[Long]("view_id") == -1L).foreach { r =>
      assert(r.getAs[String]("view_ts") == "-")
      assert(cts(r.getAs[Long]("click_id")) < bounds,
        "an organic click emits only once the watermark decided it")
    }
    assert(rows.exists(_.getAs[Long]("view_id") == -1L),
      "the watermark must have decided some organic clicks")
  }

  test("q238 venn regions partition the detector union") {
    val rows = graft.operators.Dedup.detectorVenn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("in_minhash") || r.getAs[Boolean]("in_simhash") ||
        r.getAs[Boolean]("in_containment"), "a caught pair has a catcher")
      assert(r.getAs[Long]("n_pairs") > 0L)
    }
    val mh = graft.operators.Dedup.verifiedPairs(spark, sf).count()
    val mhRegions = rows.filter(_.getAs[Boolean]("in_minhash"))
      .map(_.getAs[Long]("n_pairs")).sum
    assert(mhRegions == mh, "minhash regions partition the minhash pair set")
  }

  test("q239 CSV round-trip equals the direct aggregate, quoting survives torture") {
    val rt = graft.operators.Interchange.csvRoundtripAgg(spark, sf)
    val direct = graft.sources.Tables.documents(spark, sf)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text")).cast("long")).as("sum_text_len"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
    assert(rt.exceptAll(direct).isEmpty && direct.exceptAll(rt).isEmpty,
      "round-trip aggregate equals the parquet aggregate")
    // escaping contract: commas and quotes survive the writer/reader pair
    import graft.SparkSuite.implicits._
    val torture = Seq((1L, """a,b "quoted" c"""), (2L, "plain")).toDF("id", "s")
    val back = withTempDir("graft_csvt_") { tmp =>
      graft.sources.Sinks.csv(torture, tmp.toString)
      graft.sources.Tables.csv(spark, tmp.toString, Some(torture.schema))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    assert(back(1L) == """a,b "quoted" c""" && back(2L) == "plain",
      "hostile content round-trips byte-exact")
  }

  test("q240 stickiness is a well-formed ratio") {
    val rows = graft.operators.Relational.stickiness(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_days") >= 1L && r.getAs[Long]("n_days") <= 7L)
      assert(r.getAs[Long]("sum_dau") >= r.getAs[Long]("wau"),
        "each weekly user is active on at least one day")
      assert(r.getAs[Long]("stickiness_ppm") <= 1000000L,
        "daily actives never exceed weekly actives")
      assert(r.getAs[Long]("stickiness_ppm") > 0L)
    }
  }

  test("q241 hit-rate is a well-formed held-out measurement") {
    val r = graft.operators.Graph.cfEval(spark, sf).collect()(0)
    val nTest = graft.operators.Graph.basketArtifact(spark, sf)
      .filter(col("l_orderkey") % 2 === 1).count()
    assert(r.getAs[Long]("n_test_baskets") == nTest)
    assert(r.getAs[Long]("n_hits") <= r.getAs[Long]("n_evaluable"))
    assert(r.getAs[Long]("hitrate_ppm") <= 1000000L)
    if (r.getAs[Long]("n_evaluable") > 0)
      assert(r.getAs[Long]("hitrate_ppm") ==
        r.getAs[Long]("n_hits") * 1000000L / r.getAs[Long]("n_evaluable"))
  }

  test("q242 correlation matrix is bounded and matches stat.corr") {
    val rows = graft.operators.Relational.corrMatrix(spark, sf).collect()
    assert(rows.length == 6, "C(4,2) pairs")
    val li = graft.sources.Tables.lineitem(spark, sf)
    rows.foreach { r =>
      val p = r.getAs[Double]("pearson")
      assert(p >= -1.000001 && p <= 1.000001)
      val ref = li.stat.corr(r.getAs[String]("col_a"), r.getAs[String]("col_b"))
      assert(math.abs(p - ref) < 1e-5, s"${r.getAs[String]("col_a")}-${r.getAs[String]("col_b")}")
      assert(r.getAs[Long]("n") == li.count())
    }
  }

  test("q243 ORC round-trip equals the direct aggregate") {
    val rt = graft.operators.Interchange.orcRoundtripAgg(spark, sf)
    val direct = graft.sources.Tables.documents(spark, sf)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text")).cast("long")).as("sum_text_len"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
    assert(rt.exceptAll(direct).isEmpty && direct.exceptAll(rt).isEmpty)
  }

  test("q244 known-item eval is well-formed and finds items") {
    val rows = graft.operators.Indexing.bm25Eval(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val sr = r.getAs[Int]("self_rank")
      assert(sr == -1 || (sr >= 1 && sr <= graft.operators.Indexing.KnownItemTopK))
      if (sr == 1) assert(r.getAs[Long]("top1_doc") == r.getAs[Long]("query_id"))
      if (sr >= 1) assert(r.getAs[Long]("rr_ppm") == 1000000L / sr)
      else assert(r.getAs[Long]("rr_ppm") == 0L)
    }
    assert(rows.exists(_.getAs[Int]("self_rank") >= 1),
      "a doc's own rarest terms should retrieve it")
  }

  test("q245 dense seasonal grid with consistent flags") {
    val rows = graft.operators.Relational.seasonalBaseline(spark, sf).collect()
    val types = rows.map(_.getAs[String]("event_type")).distinct.length
    val weeks = rows.map(_.getAs[Int]("wk")).distinct.length
    assert(rows.length == types * weeks * 24, "grid is densified")
    rows.foreach { r =>
      val (n, tot, nw) = (r.getAs[Long]("n"), r.getAs[Long]("tot"),
        r.getAs[Long]("n_weeks"))
      assert(r.getAs[Boolean]("flag_hi") == (n * nw * 2 > tot * 3))
      assert(r.getAs[Boolean]("flag_lo") == (n * nw * 3 < tot * 2))
      if (tot > 0) assert(r.getAs[Long]("ratio_ppm") == n * nw * 1000000L / tot)
    }
    // per (type, hh): weekly cells sum to the baseline total
    rows.groupBy(r => (r.getAs[String]("event_type"), r.getAs[Int]("hh")))
      .foreach { case (_, cell) =>
        assert(cell.map(_.getAs[Long]("n")).sum == cell.head.getAs[Long]("tot"))
      }
  }

  test("q246 deterministic Laplace release is replayable and bounded") {
    val rows = graft.operators.Relational.dpCounts(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nm = r.getAs[Long]("noise_micro")
      assert(math.abs(nm) < 20000000L, "Laplace(1) tail at 28-bit u resolution")
      val expected = r.getAs[Long]("n_docs") +
        math.floor((nm + 500000L) / 1e6).toLong
      assert(r.getAs[Long]("noisy_count") == expected)
      assert(r.getAs[Double]("epsilon") == 1.0)
    }
  }

  test("q247 entropy is bounded by ln(n_types) and zero for single-type users") {
    val rows = graft.operators.Relational.sessionEntropy(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val h = r.getAs[Long]("entropy_nano")
      val k = r.getAs[Long]("n_types")
      assert(h >= 0L)
      if (k == 1L) assert(h == 0L, "single-action users have zero entropy")
      else assert(h <= (math.log(k.toDouble) * 1e9).toLong + 1,
        "entropy is at most ln(k)")
    }
  }

  test("q248 predictions score observed non-edges and recover hidden ones") {
    val rows = graft.operators.Graph.linkPrediction(spark, sf).collect()
    assert(rows.nonEmpty,
      "hiding half the co-occurrence edges must create predictable non-edges")
    val baskets = graft.operators.Graph.basketArtifact(spark, sf)
      .select(col("items")).collect().map(_.getSeq[Long](0))
    val full = baskets.flatMap(items =>
        for { x <- items; y <- items if x < y } yield (x, y))
      .groupBy(identity).filter(_._2.length >= 2).keySet
    def obsHash(a: Long, b: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"lp_${a}_$b".getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(x => f"$x%02x").mkString.take(7), 16)
    }
    val observed = full.filter(p => obsHash(p._1, p._2) % 2 == 0)
    val nbrs = observed.toSeq.flatMap(p => Seq(p._1 -> p._2, p._2 -> p._1))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("item_a"), r.getAs[Long]("item_b"))
      assert(!observed((a, b)), "predictions are non-edges of the OBSERVED graph")
      assert(r.getAs[Boolean]("is_hidden_edge") == full((a, b)))
      val inter = (nbrs(a) & nbrs(b)).size.toLong
      val union = (nbrs(a) | nbrs(b)).size.toLong
      assert(r.getAs[Long]("common") == inter, s"common mismatch at ($a,$b)")
      assert(r.getAs[Long]("jaccard_ppm") == inter * 1000000L / union)
    }
    assert(rows.exists(_.getAs[Boolean]("is_hidden_edge")),
      "clique structure must let the score recover hidden edges")
  }

  test("q249 discovers the real star-schema keys and measures the probe") {
    val rows = graft.operators.DataQuality.fkDiscovery(spark, sf).collect()
    assert(rows.length == graft.operators.DataQuality.FkCandidates.length)
    val real = Set("lineitem.l_orderkey", "lineitem.l_partkey",
      "lineitem.l_suppkey", "orders.o_custkey", "customer.c_nationkey",
      "supplier.s_nationkey", "nation.n_regionkey")
    rows.foreach { r =>
      val cc = r.getAs[String]("child_col")
      assert(r.getAs[Long]("n_matched") <= r.getAs[Long]("n_child_distinct"))
      assert(r.getAs[Boolean]("discovered") ==
        (r.getAs[Long]("n_matched") == r.getAs[Long]("n_child_distinct")))
      if (real(cc))
        assert(r.getAs[Boolean]("discovered"), s"$cc is a real FK path")
    }
  }

  test("q250 sampling table owns a contiguous ppm range per token") {
    val rows = graft.operators.TextAnalysis.negSampling(spark, sf).collect()
      .sortBy(_.getAs[Int]("rank"))
    val vocab = graft.sources.Tables.documents(spark, sf)
      .select(explode(graft.functions.TextFunctions.alphaTokens(col("text"))).as("t"))
      .select(col("t")).distinct().count()
    assert(rows.length ==
      math.min(graft.operators.TextAnalysis.NegSampleV.toLong, vocab).toInt)
    assert(rows.head.getAs[Long]("cum_lo") == 0L)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("cum_hi") == b.getAs[Long]("cum_lo"),
          "ranges are contiguous")
        assert(a.getAs[Long]("cnt") >= b.getAs[Long]("cnt"), "count-ordered")
      case _ =>
    }
    assert(rows.last.getAs[Long]("cum_hi") <= 1000000L)
    rows.foreach(r => assert(r.getAs[Long]("share_ppm") > 0L))
  }

  test("q251 varint audit matches a driver-side re-encode") {
    val rows = graft.operators.Indexing.postingsCompression(spark, sf).collect()
    assert(rows.nonEmpty)
    val postings = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), explode(graft.functions.TextFunctions
        .alphaTokens(col("text"))).as("t"))
      .distinct().collect()
      .map(r => (r.getString(1), r.getLong(0)))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sorted }
    def varint(x: Long): Long = math.max(1, (64 - java.lang.Long.numberOfLeadingZeros(
      math.max(x, 1L)) + 6) / 7).toLong
    rows.foreach { r =>
      val t = r.getAs[String]("term")
      val ids = postings(t)
      assert(r.getAs[Long]("df") == ids.length.toLong)
      val vb = ids.zip(0L +: ids.init).map { case (cur, prev) => varint(cur - prev) }.sum
      assert(r.getAs[Long]("varint_bytes") == vb, s"varint mismatch at $t")
      assert(r.getAs[Long]("varint_bytes") <= r.getAs[Long]("raw_bytes"))
      val sp = r.getAs[Long]("savings_ppm")
      assert(sp >= 0L && sp < 1000000L)
    }
  }

  test("q252 rules are consistent conditional probabilities") {
    val rows = graft.operators.Graph.associationRules(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nab, na, nb) = (r.getAs[Long]("n_ab"), r.getAs[Long]("n_a"),
        r.getAs[Long]("n_b"))
      assert(nab <= na && nab <= nb, "pair support bounded by item supports")
      assert(r.getAs[Long]("confidence_ppm") == nab * 1000000L / na)
      assert(r.getAs[Long]("confidence_ppm") <= 1000000L)
      assert(r.getAs[Long]("lift_ppm") > 0L)
    }
    val lifts = rows.map(_.getAs[Long]("lift_ppm"))
    assert(lifts.sliding(2).forall(s => s.length < 2 || s(0) >= s(1)),
      "ranked by lift")
  }

  test("q253 salt buckets partition the hot key's rows") {
    val rows = graft.operators.Skew.saltEvenness(spark, sf).collect()
    assert(rows.nonEmpty)
    val ev = graft.sources.Tables.events(spark, sf)
    val hot = rows.head.getAs[Long]("hot_user")
    val hotTotal = ev.filter(col("user_id") === hot).count()
    assert(rows.map(_.getAs[Long]("n_rows")).sum == hotTotal,
      "salt buckets partition the hot key's rows")
    assert(rows.map(_.getAs[Int]("salt")).distinct.length == rows.length)
    rows.foreach(r => assert(r.getAs[Int]("salt") >= 0 &&
      r.getAs[Int]("salt") < graft.operators.Skew.EvennessSalts))
    // the spread is the point: no bucket should hold most of the key
    assert(rows.map(_.getAs[Long]("share_ppm")).max < 600000L,
      "salting spreads the hot key (no bucket holds > 60%)")
  }

  test("q254 regression reproduces the line from raw points") {
    val r = graft.operators.DataQuality.qualityLengthOls(spark, sf).collect()(0)
    val pts = graft.operators.TextAnalysis.quality(spark, sf)
      .select(col("doc_id"), col("quality_score"))
      .join(graft.sources.Tables.documents(spark, sf)
        .select(col("doc_id"), col("n_chars")), "doc_id")
      .filter(col("n_chars") > 0)
      .collect().map(x => (x.getAs[Double]("quality_score"),
        math.log(x.getAs[Long]("n_chars").toDouble)))
    assert(r.getAs[Long]("n") == pts.length.toLong)
    val n = pts.length.toDouble
    val (sy, sx) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._2 * p._2).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(math.abs(r.getAs[Double]("slope") - slope) < 1e-4,
      "OLS slope matches the closed form")
    assert(math.abs(r.getAs[Double]("pearson")) <= 1.000001)
  }

  test("q255 duration histogram partitions the session set") {
    val rows = graft.streaming.EventStream.sessionDurations(spark, sf).collect()
    assert(rows.nonEmpty)
    val nSessions = graft.streaming.EventStream
      .sessionizeBatchQuery(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_sessions")).sum == nSessions,
      "buckets partition the session set")
    rows.foreach { r =>
      assert(r.getAs[Long]("duration_min") >= 0L &&
        r.getAs[Long]("duration_min") <= graft.streaming.EventStream.SessionDurCapMin)
      assert(r.getAs[Long]("events_per_session_ppm") >= 1000000L,
        "every session has at least one event")
    }
  }

  test("q256 every cell scores all its keyword pairs") {
    val rows = graft.operators.Pipeline.topicCoherence(spark, sf).collect()
    assert(rows.nonEmpty)
    val k = graft.operators.Pipeline.KeywordsPerCluster
    rows.foreach { r =>
      assert(r.getAs[Long]("n_pairs") == (k * (k - 1) / 2).toLong,
        "C(K,2) pairs per cell")
      // UMass terms are ln ratios of counts in [1/N, ~2] — loose sanity
      assert(math.abs(r.getAs[Long]("coherence_nano")) < 100L * 1000000000L)
    }
  }

  test("q257 chi-squared matches a driver-side recompute") {
    val r = graft.operators.DataQuality.chi2Independence(spark, sf).collect()(0)
    val obs = graft.sources.Tables.documents(spark, sf)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getAs[Long]("o")).toMap
    val langs = obs.keySet.map(_._1).toSeq.sorted
    val srcs = obs.keySet.map(_._2).toSeq.sorted
    val n = obs.values.sum
    val rl = langs.map(l => l -> obs.filter(_._1._1 == l).values.sum).toMap
    val cs = srcs.map(s => s -> obs.filter(_._1._2 == s).values.sum).toMap
    var chi2 = 0.0
    for (l <- langs; s <- srcs) {
      val o = obs.getOrElse((l, s), 0L)
      val e = rl(l).toDouble * cs(s) / n
      chi2 += (o - e) * (o - e) / e
    }
    assert(r.getAs[Long]("n_cells") == (langs.size * srcs.size).toLong)
    assert(r.getAs[Long]("dof") == ((langs.size - 1) * (srcs.size - 1)).toLong)
    assert(math.abs(r.getAs[Long]("chi2_nano") / 1e9 - chi2) < 1e-3,
      "chi2 matches the classic (o-e)^2/e form")
  }

  test("q258 weekly bands are ordered quantiles") {
    val rows = graft.operators.Relational.weeklyBands(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("p50") <= r.getAs[Double]("p90") + 1e-9)
      assert(r.getAs[Long]("n") >= 1L)
    }
  }

  test("q232 WAV container round-trips frames byte-exact") {
    val samples = Array.tabulate(64)(i => (i * 37 + 5) % 256)
    val bytes = graft.operators.Multimodal.wavBytes(samples)
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    assert(ais.getFormat.getSampleSizeInBits == 8)
    val back = ais.readAllBytes().map(_ & 0xff)
    assert(back.toSeq == samples.toSeq, "decoded frames equal the encoded PCM")
  }
}
