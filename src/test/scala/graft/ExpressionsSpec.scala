package graft

import graft.functions.{HashFunctions => H}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{native, CosineSimilarity}

class ExpressionsSpec extends SparkSuite {

  test("native cosine_sim matches driver-side math and HOF formulation") {
    import graft.SparkSuite.implicits._
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pairs = vecs.limit(20).select(col("vec_id").as("a"), col("v").as("va"))
      .crossJoin(vecs.limit(20).select(col("vec_id").as("b"), col("v").as("vb")))
      .filter(col("a") < col("b"))
    val gotNative = pairs
      .select(col("a"), col("b"), native.cosineSim(col("va"), col("vb")).as("c"))
      .as[(Long, Long, Double)].collect().map { case (a, b, c) => ((a, b), c) }.toMap
    val gotHof = pairs
      .select(col("a"), col("b"),
        graft.functions.VectorFunctions.cosine(col("va"), col("vb")).as("c"))
      .as[(Long, Long, Double)].collect().map { case (a, b, c) => ((a, b), c) }.toMap
    assert(gotNative.keySet == gotHof.keySet)
    gotNative.foreach { case (k, c) => assert(math.abs(c - gotHof(k)) < 1e-12) }
  }

  test("native cosine_sim returns NULL (not NaN) for zero-norm input") {
    import graft.SparkSuite.implicits._
    val df = Seq(
      (1L, Seq(0.0, 0.0), Seq(1.0, 2.0)),  // zero left norm
      (2L, Seq(1.0, 2.0), Seq(0.0, 0.0)),  // zero right norm
      (3L, Seq.empty[Double], Seq(1.0)),   // empty array
      (4L, Seq(3.0, 4.0), Seq(3.0, 4.0))). // sane pair
      toDF("id", "a", "b")
    val got = df.select(col("id"), native.cosineSim(col("a"), col("b")).as("c"))
      .as[(Long, Option[Double])].collect().toMap
    assert(got(1L).isEmpty && got(2L).isEmpty && got(3L).isEmpty)
    assert(math.abs(got(4L).get - 1.0) < 1e-12)
  }

  test("native cosine_sim is callable from SQL") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim", exprs => CosineSimilarity(exprs(0), exprs(1)), "built-in")
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c").head.getDouble(0)
    assert(math.abs(r - 1.0) < 1e-15)
    val orth = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(0.0d, 2.0d)) AS c").head.getDouble(0)
    assert(math.abs(orth) < 1e-15)
  }

  test("native l2_sq: known vectors, truncation, zero vectors, nulls") {
    import graft.SparkSuite.implicits._
    val df = Seq(
      (1L, Some(Seq(1.0, 2.0, 3.0)), Some(Seq(4.0, 6.0, 3.0))), // 9+16+0 = 25
      (2L, Some(Seq(0.0, 0.0)), Some(Seq(0.0, 0.0))),           // zero vecs -> 0
      (3L, Some(Seq(1.0, 2.0, 9.0)), Some(Seq(1.0, 2.0))),      // truncates to 2 dims
      (4L, None, Some(Seq(1.0))),                                // null left
      (5L, Some(Seq(1.0)), None)).                               // null right
      toDF("id", "a", "b")
    val got = df.select(col("id"), native.l2Sq(col("a"), col("b")).as("d"))
      .as[(Long, Option[Double])].collect().toMap
    assert(got(1L).contains(25.0))
    assert(got(2L).contains(0.0))
    assert(got(3L).contains(0.0)) // shorter side wins: dims 0,1 agree
    assert(got(4L).isEmpty && got(5L).isEmpty)
    // interpreted path agrees with codegen (eval vs doGenCode)
    val interp = org.apache.spark.sql.graft.L2Squared(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(1.0, 2.0, 3.0),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(4.0, 6.0, 3.0),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)))
      .eval(null).asInstanceOf[Double]
    assert(interp == 25.0)
  }

  test("native l2_sq is callable from SQL and wrong arity is a clear error") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "l2_sq", exprs => {
        require(exprs.length == 2,
          s"Function `l2_sq` requires exactly 2 argument(s), got ${exprs.length}")
        org.apache.spark.sql.graft.L2Squared(exprs(0), exprs(1))
      }, "built-in")
    val r = spark.sql(
      "SELECT l2_sq(array(0.0d, 3.0d), array(4.0d, 0.0d)) AS d").head.getDouble(0)
    assert(r == 25.0)
    val e = intercept[Exception] {
      spark.sql("SELECT l2_sq(array(1.0d)) AS d").collect()
    }
    assert(e.getMessage.contains("requires exactly 2"))
  }

  test("MinHashSignatureAgg equals the k-column min formulation") {
    val exploded = operators.Dedup.shingled(spark, sf)
      .select(col("doc_id"), explode_outer(col("sh")).as("g"))
      .filter(col("g").isNotNull)
      .withColumn("h", H.md5Int28(col("g")))
    val viaAgg = exploded.groupBy("doc_id")
      .agg(native.minhashSignature(col("h"), operators.Dedup.NumHashes).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    val mins = (0 until operators.Dedup.NumHashes).map(i => min(H.affine(col("h"), i)))
    val viaCols = exploded.groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .collect().map { r =>
        r.getLong(0) -> (0 until operators.Dedup.NumHashes).map(i => r.getLong(i + 1)).toVector
      }.toMap
    assert(viaAgg == viaCols)
  }

  test("rolling_hash matches a direct per-window recomputation") {
    import graft.SparkSuite.implicits._
    val w = 8
    val docs = graft.sources.Tables.documents(spark, sf).limit(50)
    val got = docs
      .select(col("doc_id"), col("text"), native.rollingHash(col("text"), w).as("rh"))
      .as[(Long, String, Seq[Long])].collect()
    assert(got.nonEmpty)
    got.foreach { case (_, text, hashes) =>
      val bytes = text.getBytes("UTF-8")
      assert(hashes.length == math.max(0, bytes.length - w + 1))
      // spot-check every 17th window against a direct O(w) hash
      (hashes.indices by 17).foreach { i =>
        var h = 0L
        bytes.slice(i, i + w).foreach(b => h = (h * 131 + (b & 0xff)) % 2147483647L)
        assert(hashes(i) == h, s"window $i")
      }
    }
  }

  test("rolling_hash min-sketch is shift-invariant for shared substrings") {
    import graft.SparkSuite.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "PREFIX the quick brown fox jumps over the lazy dog")).toDF("id", "t")
    val hs = df.select(col("id"), native.rollingHash(col("t"), 10).as("rh"))
      .as[(Long, Seq[Long])].collect().toMap
    // every window of doc 1 appears among doc 2's windows (shifted)
    assert(hs(1L).toSet.subsetOf(hs(2L).toSet))
  }

  test("winnow_min equals per-window minima with consecutive dedup") {
    import graft.SparkSuite.implicits._
    import org.apache.spark.sql.graft.WinnowMin
    // driver-side property over random arrays
    val rnd = new scala.util.Random(11)
    (1 to 50).foreach { _ =>
      val n = rnd.nextInt(40)
      val w = 1 + rnd.nextInt(6)
      val hs = Array.fill(n)(rnd.nextInt(20).toLong)
      val got = WinnowMin.compute(hs, w).toSeq
      val want =
        if (n < w) Seq.empty
        else {
          val mins = (0 to n - w).map(i => hs.slice(i, i + w).min)
          mins.foldLeft(Vector.empty[Long]) {
            case (acc, v) if acc.lastOption.contains(v) => acc
            case (acc, v) => acc :+ v
          }
        }
      assert(got == want, s"n=$n w=$w hs=${hs.toSeq}")
      // the fingerprint SET equals the set of all full-window minima
      assert(got.toSet == want.toSet)
    }
    // expression path (codegen) agrees with the driver computation
    val df = Seq((1L, Seq(5L, 3L, 3L, 7L, 1L, 9L))).toDF("id", "hs")
    val viaExpr = df.select(native.winnowMin(col("hs"), 3).as("w"))
      .as[Seq[Long]].head
    assert(viaExpr == Seq(3L, 1L))
  }

  test("GraftExtensions registers without error") {
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("new expressions are callable from SQL via temp registration") {
    import org.apache.spark.sql.graft.{CountInSet, TopKByScore, WinnowMin}
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("winnow_min",
      exprs => WinnowMin(exprs.head,
        exprs(1).eval(null).asInstanceOf[Number].intValue()), "built-in")
    reg.createOrReplaceTempFunction("count_in_set",
      exprs => CountInSet(exprs.head,
        exprs(1).eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toObjectArray(org.apache.spark.sql.types.StringType).map(_.toString).toSeq),
      "built-in")
    reg.createOrReplaceTempFunction("top_k_by_score",
      exprs => TopKByScore(exprs(0), exprs(1),
        exprs(2).eval(null).asInstanceOf[Number].intValue()).toAggregateExpression(),
      "built-in")
    val w = spark.sql(
      "SELECT winnow_min(array(5L, 3L, 3L, 7L, 1L), 3) AS w").head.getSeq[Long](0)
    assert(w == Seq(3L, 1L))
    val c = spark.sql(
      "SELECT count_in_set(array('a', 'b', 'a', 'z'), array('a', 'b')) AS c").head.getInt(0)
    assert(c == 3)
    val t = spark.sql(
      """SELECT top_k_by_score(s, i, 2) AS t FROM VALUES
        |  (0.5d, 1L), (0.9d, 2L), (0.1d, 3L) AS v(s, i)""".stripMargin)
      .head.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getDouble(0), r.getLong(1)))
    assert(t == Seq((0.9, 2L), (0.5, 1L)))
  }

  test("CountInSet equals the filter-lambda formulation and a driver-side count") {
    import graft.SparkSuite.implicits._
    val words = Seq("the", "a", "of")
    val docs = graft.sources.Tables.documents(spark, sf).limit(100)
      .select(col("doc_id"), graft.functions.TextFunctions.wsTokens(col("text")).as("w"))
    val gotNative = docs.select(col("doc_id"), native.countInSet(col("w"), words).as("c"))
      .as[(Long, Int)].collect().toMap
    val gotHof = docs.select(col("doc_id"),
        size(filter(col("w"), t => t.isin(words.map(lit(_)): _*))).as("c"))
      .as[(Long, Int)].collect().toMap
    assert(gotNative == gotHof && gotNative.nonEmpty)
    // driver-side spot check + null/empty handling
    val wset = words.toSet
    val direct = docs.as[(Long, Seq[String])].collect()
      .map { case (id, w) => id -> w.count(wset) }.toMap
    assert(gotNative == direct)
    val edge = Seq((1L, Seq.empty[String]), (2L, Seq("the", "the", "xx")))
      .toDF("id", "w")
      .select(col("id"), native.countInSet(col("w"), words).as("c"))
      .as[(Long, Int)].collect().toMap
    assert(edge == Map(1L -> 0, 2L -> 2))
  }

  test("TopKByScore equals the row_number window formulation") {
    import graft.SparkSuite.implicits._
    val rnd = new scala.util.Random(7)
    // duplicate scores force the id ASC tie-break; multiple partitions
    // force real partial/merge paths through the shuffle
    val rows = Seq.tabulate(5000) { i =>
      (i % 37L, math.floor(rnd.nextDouble() * 20) / 20.0, rnd.nextInt(500).toLong)
    }
    val df = rows.toDF("g", "score", "id").repartition(16).cache()
    val k = 4
    val got = df.groupBy(col("g"))
      .agg(native.topKByScore(col("score"), col("id"), k).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("g"), (col("pos") + 1).cast("long").as("rank"), col("s.score"), col("s.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("score").desc, col("id").asc)
    val want = df
      // the window ranks EVERY row; dedupe (g, score, id) first so ties
      // on the full triple don't make row_number arbitrary between them
      .distinct()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .collect().map(r => (r.getLong(0), r.getInt(3).toLong, r.getDouble(1), r.getLong(2))).toSet
    val gotDedup = df.distinct().groupBy(col("g"))
      .agg(native.topKByScore(col("score"), col("id"), k).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("g"), (col("pos") + 1).cast("long").as("rank"), col("s.score"), col("s.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(gotDedup == want)
    assert(got.nonEmpty)
  }

  test("TopKDistinctByScore equals distinct-then-topK when score is a function of id") {
    import graft.SparkSuite.implicits._
    val rnd = new scala.util.Random(7)
    // duplicated (g, id) rows with an id-determined score — the dedup-cap
    // contract (q126): set-top-k over the multiset must be exact
    val rows = (1 to 4000).map { _ =>
      val g = rnd.nextInt(40).toLong
      val id = rnd.nextInt(30).toLong
      (g, (id * 2654435761L % 97).toDouble, id)
    }
    val df = rows.toDF("g", "score", "id").repartition(16).cache()
    val k = 5
    def collect(frame: org.apache.spark.sql.DataFrame, aggCol: org.apache.spark.sql.Column) =
      frame.groupBy(col("g")).agg(aggCol.as("top"))
        .select(col("g"), posexplode(col("top")).as(Seq("pos", "s")))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getStruct(2).getDouble(0),
          r.getStruct(2).getLong(1))).toSet
    val got = collect(df, native.topKDistinctByScore(col("score"), col("id"), k))
    val want = collect(df.distinct(), native.topKByScore(col("score"), col("id"), k))
    assert(got == want)
    // improved-score path: a later better score for a seen id replaces its slot
    val df2 = Seq((1L, 1.0, 7L), (1L, 3.0, 7L), (1L, 2.0, 8L)).toDF("g", "score", "id")
    val got2 = collect(df2.coalesce(1), native.topKDistinctByScore(col("score"), col("id"), 2))
    assert(got2 == Set((1L, 0, 3.0, 7L), (1L, 1, 2.0, 8L)))
  }

  test("TopKStringByScore equals the row_number window formulation (string ids)") {
    import graft.SparkSuite.implicits._
    val rnd = new scala.util.Random(11)
    // duplicate scores force the (score desc, id asc-binary) tie-break;
    // multiple partitions exercise the serialize/merge path
    val words = Vector("alpha", "beta", "Beta", "gamma", "delta", "z", "aa", "ab")
    val rows = Seq.tabulate(4000) { i =>
      (i % 29L, math.floor(rnd.nextDouble() * 10) / 10.0, words(rnd.nextInt(words.size)))
    }
    val df = rows.toDF("g", "score", "id").distinct().repartition(16).cache()
    val k = 3
    val got = df.groupBy(col("g"))
      .agg(native.topKStrByScore(col("score"), col("id"), k).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("g"), (col("pos") + 1).cast("long").as("rank"), col("s.score"), col("s.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("score").desc, col("id").asc)
    val want = df
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .collect().map(r => (r.getLong(0), r.getInt(3).toLong, r.getDouble(1), r.getString(2))).toSet
    assert(got == want)
    // null score and null id rows are skipped; under-full groups emit what they have
    val df2 = Seq[(Long, Option[Double], String)](
      (1L, Some(0.5), "x"), (1L, None, "y"), (1L, Some(0.7), null)
    ).toDF("g", "score", "id")
    val got2 = df2.groupBy(col("g"))
      .agg(native.topKStrByScore(col("score"), col("id"), 3).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "s")))
      .collect().map(r => (r.getStruct(1).getDouble(0), r.getStruct(1).getString(1))).toSeq
    assert(got2 == Seq((0.5, "x")))
  }

  test("TopKByScore handles under-full groups and null scores") {
    import graft.SparkSuite.implicits._
    val df = Seq[(Long, Option[Double], Long)](
      (1L, Some(0.5), 10L), (1L, Some(0.9), 11L),
      (2L, None, 20L), (2L, Some(0.1), 21L)
    ).toDF("g", "score", "id")
    val got = df.groupBy(col("g"))
      .agg(native.topKByScore(col("score"), col("id"), 3).as("top"))
      .select(col("g"), col("top"))
      .collect().map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(s => (s.getDouble(0), s.getLong(1)))).toMap
    assert(got(1L) == Seq((0.9, 11L), (0.5, 10L)))
    assert(got(2L) == Seq((0.1, 21L))) // null score skipped, group under-full
  }

  test("compression_ratio separates boilerplate from prose from noise") {
    import graft.SparkSuite.implicits._
    val boiler = ("lorem ipsum " * 200).trim            // highly repetitive
    val prose = "the quick brown fox jumps over the lazy dog and then " +
      "wanders slowly home across nine distinct muddy riverbanks today"
    val rng = new scala.util.Random(42)                 // seeded: deterministic
    val noise = Seq.fill(600)(rng.nextPrintableChar()).mkString
    val df = Seq((1L, boiler), (2L, prose), (3L, noise), (4L, "")).toDF("id", "t")
    val got = df.select(col("id"),
        org.apache.spark.sql.graft.native.compressionRatio(col("t")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) < 0.1, s"boilerplate ratio ${got(1L)}")   // collapses
    assert(got(2L) > got(1L) && got(2L) < 1.0)               // prose compresses some
    assert(got(3L) > got(2L), s"noise ${got(3L)} vs prose ${got(2L)}")
    assert(got(4L) == 1.0)                                   // empty → neutral
    // deterministic across evaluation modes: SQL registration agrees
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "compression_ratio",
      exprs => org.apache.spark.sql.graft.CompressionRatio(exprs.head), "built-in")
    df.createOrReplaceTempView("cr_in")
    val viaSql = spark.sql("SELECT id, compression_ratio(t) AS r FROM cr_in")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaSql == got)
  }

  test("nfc + strip_accents collapse encoding variants to one dedup key") {
    import graft.SparkSuite.implicits._
    val composed = "caf\u00e9 menu"            // é as U+00E9
    val decomposed = "cafe\u0301 menu"         // e + combining acute
    val folded = "cafe menu"                   // accent-stripped ASCII
    val df = Seq((1L, composed), (2L, decomposed), (3L, folded), (4L, "na\u00efve \uff21"))
      .toDF("id", "t")
    val N = org.apache.spark.sql.graft.native
    // NFC alone: composed == decomposed-after-NFC, but accent remains
    val nfc = df.select(col("id"), N.nfc(col("t")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(nfc(1L) == nfc(2L), "NFC must unify composed/decomposed é")
    assert(nfc(1L) != folded)
    // NFC + accent folding: all three produce ONE md5 key
    val keys = df.select(col("id"),
        md5(N.stripAccents(N.nfc(col("t")))).as("k"),
        N.stripAccents(N.nfc(col("t"))).as("s"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val byId = keys.map(k => k._1 -> k._2).toMap
    assert(byId(1L) == byId(2L) && byId(2L) == byId(3L),
      "encoding variants must share a dedup key")
    assert(keys.find(_._1 == 3L).get._3 == folded)
    assert(keys.find(_._1 == 4L).get._3 == "naive \uff21") // accents fold; width untouched (NFC keeps compat chars)
    // ALL mark categories fold, matching DuckDB's utf8proc STRIPMARK:
    // Mc (Bengali vowel sign O) and Me (combining enclosing circle),
    // not just Mn \u2014 verified against strip_accents(nfc_normalize(..))
    val marksDf = Seq((10L, "\u0995\u09cb"), (11L, "a\u20dd")).toDF("id", "t")
    val marks = marksDf
      .select(col("id"), N.stripAccents(N.nfc(col("t"))).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(marks(10L) == "\u0995", s"Mc not stripped: ${marks(10L)}")
    assert(marks(11L) == "a", s"Me not stripped: ${marks(11L)}")
    // Supplementary-plane marks (surrogate pairs in UTF-16) fold too:
    // U+1D167 MUSICAL SYMBOL COMBINING TREMOLO-1 is Mn but lives outside
    // the BMP \u2014 DuckDB strip_accents('a'||chr(119143)) = 'a'. A per-char
    // (code-unit) loop sees two SURROGATE halves and keeps both.
    val astralDf = Seq((12L, "a" + new String(Character.toChars(0x1D167))),
        (13L, "b" + new String(Character.toChars(0x1D165)))) // Mc U+1D165
      .toDF("id", "t")
    val astral = astralDf
      .select(col("id"), N.stripAccents(N.nfc(col("t"))).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(astral(12L) == "a", s"astral Mn not stripped: ${astral(12L)}")
    assert(astral(13L) == "b", s"astral Mc not stripped: ${astral(13L)}")
    // interpreted == codegen'd (the VectorFunctions-style parity check)
    val viaEval = Seq(composed, decomposed).map { s =>
      org.apache.spark.sql.graft.StripAccents.compute(
        org.apache.spark.sql.graft.NfcNormalize.compute(
          org.apache.spark.unsafe.types.UTF8String.fromString(s))).toString
    }
    assert(viaEval.toSet == Set(folded))
    // the graded queries see the same collapse: q11's key function over
    // a composed/decomposed pair yields one group
    val groups = df.filter(col("id") <= 3)
      .groupBy(md5(N.stripAccents(col("t"))).as("k"))
      .agg(count(lit(1)).as("n")).collect()
    assert(groups.length == 1 && groups.head.getLong(1) == 3L)
    // q11 drops the nfc the oracle's strip_accents(nfc_normalize(...))
    // applies: strip_accents NFD-decomposes its input itself, so the key
    // is the same on every fixture row (composed, decomposed, marks,
    // astral-plane marks)
    val keyPairs = df.unionByName(marksDf).unionByName(astralDf)
      .select(col("id"), md5(N.stripAccents(col("t"))).as("k"),
        md5(N.stripAccents(N.nfc(col("t")))).as("k_nfc"))
      .collect()
    assert(keyPairs.length == 8)
    keyPairs.foreach { r =>
      assert(r.getString(1) == r.getString(2), s"row ${r.getLong(0)}: nfc changes the q11 key")
    }
  }

  test("jaro_winkler matches the published reference values and conventions") {
    import graft.SparkSuite.implicits._
    val cases = Seq(
      // (a, b, expected) — Winkler's census examples + convention edges,
      // values = DuckDB jaro_winkler_similarity (the pinned reference)
      ("martha", "marhta", 0.9611111111111111),
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("TRATE", "TRACE", 0.9066666666666667),
      ("aaaaaabc", "aaaaaabd", 0.95),     // prefix boost capped at l=4
      ("ab", "ba", 0.0),                  // window 0: no matches at len 2
      ("abc", "abc", 1.0),
      ("", "abc", 0.0), ("", "", 0.0),    // either side empty -> 0 (DuckDB rule)
      ("abcdefgh", "abxxxxxx", 0.5),      // jaro <= 0.7: boost NOT applied
      ("café", "cafe", 0.8483333333333334)) // byte-level like the oracle engine
    val got = cases.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .select(col("a"), col("b"), native.jaroWinkler(col("a"), col("b")).as("jw"))
      .as[(String, String, Double)].collect().map { case (a, b, j) => ((a, b), j) }.toMap
    cases.foreach { case (a, b, want) =>
      assert(got((a, b)) == want, s"jw($a,$b) = ${got((a, b))}, want $want (bitwise)")
    }
  }

  test("damerau_levenshtein is the TRUE (unrestricted) variant and bounds levenshtein") {
    import graft.SparkSuite.implicits._
    val cases = Seq(
      ("ca", "abc", 2),   // the OSA-vs-true discriminator (OSA says 3)
      ("form", "from", 1), // adjacent transposition
      ("abc", "abc", 0), ("", "abc", 3), ("abc", "", 3),
      ("kitten", "sitting", 3), ("café", "cafe", 2)) // byte-level
    val got = cases.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .select(col("a"), col("b"), native.damerauLevenshtein(col("a"), col("b")).as("d"))
      .as[(String, String, Int)].collect().map { case (a, b, d) => ((a, b), d) }.toMap
    cases.foreach { case (a, b, want) =>
      assert(got((a, b)) == want, s"dl($a,$b) = ${got((a, b))}, want $want")
    }
    // dl <= lev on the real vocabulary pair set, and lev <= dl + transposes
    val sim = graft.operators.Dedup.stringSimilarity(spark, sf).collect()
    assert(sim.nonEmpty)
    sim.foreach { r =>
      val (lev, dl, jw) = (r.getAs[Int]("lev"), r.getAs[Int]("dl"), r.getAs[Double]("jw"))
      assert(dl <= lev, s"dl must never exceed lev: $r")
      assert(jw >= 0.0 && jw <= 1.0, s"jw out of range: $r")
    }
  }
}
