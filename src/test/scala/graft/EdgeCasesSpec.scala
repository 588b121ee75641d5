package graft

import graft.operators._
import java.nio.file.Files

/** Degenerate-corpus robustness: every operator family must return an
  * empty (or singleton) result on empty / single-document inputs, not
  * throw — at 100 TB a partition-pruned read or an over-aggressive
  * filter hands operators exactly these shapes. */
class EdgeCasesSpec extends SparkSuite {

  /** Loans `f` the path of a corpus written to a temp directory. */
  private def withCorpus(docs: Seq[(Long, String, String, String, Long)],
                         vecs: Seq[(Long, Array[Float])])(f: String => Unit): Unit =
    withTempDir("graft_edge") { tmp =>
      import graft.SparkSuite.implicits._
      val dir = tmp.toString
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      vecs.toDF("vec_id", "embedding")
        .withColumn("label", org.apache.spark.sql.functions.lit(0))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      f(dir)
    }

  private def withEmptyCorpus(f: String => Unit): Unit = withCorpus(Seq.empty, Seq.empty)(f)
  private def withOneDocCorpus(f: String => Unit): Unit = withCorpus(
    Seq((0L, "the quick brown fox jumps over the lazy dog", "en", "src0", 43L)),
    Seq((0L, Array.fill(64)(0.5f))))(f)

  test("dedup family is empty-safe") {
    withEmptyCorpus { emptyDir =>
      assert(Dedup.exactDedup(spark, emptyDir).count() == 0)
      assert(Dedup.minhashPairs(spark, emptyDir).count() == 0)
      assert(Dedup.simhashPairs(spark, emptyDir).count() == 0)
      assert(Dedup.ngramDedup(spark, emptyDir).count() == 0)
      assert(Dedup.dupClusters(spark, emptyDir).count() == 0)
      assert(Dedup.winnowPairs(spark, emptyDir).count() == 0)
    }
  }

  test("similarity family is empty-safe") {
    withEmptyCorpus { emptyDir =>
      assert(Similarity.embedNeardup(spark, emptyDir).count() == 0)
      assert(Similarity.annBruteForce(spark, emptyDir).count() == 0)
      assert(Similarity.annLsh(spark, emptyDir).count() == 0)
      assert(Similarity.annIvf(spark, emptyDir).count() == 0)
      assert(Similarity.annIvfHier(spark, emptyDir).count() == 0)
    }
  }

  test("text/curation ops are empty-safe") {
    withEmptyCorpus { emptyDir =>
      assert(TextAnalysis.langId(spark, emptyDir).count() == 0)
      assert(TextAnalysis.quality(spark, emptyDir).count() == 0)
      assert(TextAnalysis.tfidf(spark, emptyDir).count() == 0)
      assert(TextAnalysis.fingerprint(spark, emptyDir).count() == 0)
      assert(TextAnalysis.langStats(spark, emptyDir).count() == 0)
      assert(TextAnalysis.pmi(spark, emptyDir).count() == 0)
      assert(Sampling.stratifiedSample(spark, emptyDir).count() == 0)
      assert(Pipeline.curate(spark, emptyDir).count() == 0)
      assert(Pipeline.clusterReps(spark, emptyDir).count() == 0)
      assert(Pipeline.curationChain(spark, emptyDir).count() == 0)
      assert(Dedup.decontaminate(spark, emptyDir).count() == 0)
      assert(Packing.shardPack(spark, emptyDir).count() == 0)
      assert(TextAnalysis.repetition(spark, emptyDir).count() == 0)
    }
  }

  test("round-5 operators are empty-safe") {
    import graft.SparkSuite.implicits._
    withEmptyCorpus { emptyDir =>
      assert(Dedup.passageDedup(spark, emptyDir).count() == 0)
      assert(Sampling.langBalance(spark, emptyDir).count() == 0)
      assert(Ranking.lengthDeciles(spark, emptyDir).count() == 0)
      assert(Similarity.annHnsw(spark, emptyDir).count() == 0)
      assert(Dedup.incrementalDedup(spark, emptyDir).count() == 0)
      assert(TextAnalysis.charLangId(spark, emptyDir).count() == 0)
      assert(Similarity.embedOutliers(spark, emptyDir).count() == 0)
      assert(Relational.funnelFrom(
        Seq.empty[(Long, String, java.sql.Timestamp)]
          .toDF("user_id", "event_type", "ts")).count() == 0)
    }
  }

  test("round-5 operators on a single-document corpus") {
    withOneDocCorpus { oneDir =>
      val pd = Dedup.passageDedup(spark, oneDir).collect()
      assert(pd.length == 1 && pd.head.getLong(2) == 1L) // its one block survives
      val lb = Sampling.langBalance(spark, oneDir).collect()
      assert(lb.length == 1) // the only language is the smallest: fully kept
      val ld = Ranking.lengthDeciles(spark, oneDir).collect()
      assert(ld.length == 1 && ld.head.getLong(2) == 1L && ld.head.getLong(3) == 0L)
      assert(Similarity.annHnsw(spark, oneDir).count() == 0) // no non-self node
      val inc = Dedup.incrementalDedup(spark, oneDir).collect()
      assert(inc.length == 1 && inc.head.getString(1) == "new") // empty corpus side
      val cl = TextAnalysis.charLangId(spark, oneDir).collect()
      assert(cl.length == 1 && cl.head.getString(2) == "en") // own profile wins
      val eo = Similarity.embedOutliers(spark, oneDir).collect()
      assert(eo.length == 1 && !eo.head.getBoolean(3)) // cos(v, v) = 1
    }
  }

  test("round-7 operators are empty-safe") {
    withEmptyCorpus { emptyDir =>
      assert(Sampling.domainCap(spark, emptyDir).count() == 0)
      assert(Sampling.tempMix(spark, emptyDir).count() == 0)
      assert(TextAnalysis.vocabOov(spark, emptyDir).count() == 0)
      assert(Indexing.invertedIndex(spark, emptyDir).count() == 0)
      assert(Similarity.annPq(spark, emptyDir).count() == 0)
      assert(Similarity.semDedup(spark, emptyDir).count() == 0)
      assert(Indexing.bm25(spark, emptyDir).count() == 0)
      assert(Graph.pageRank(spark, emptyDir).count() == 0)
      assert(TextAnalysis.lmScore(spark, emptyDir).count() == 0)
      assert(Pipeline.dedupReport(spark, emptyDir).count() == 0)
      assert(Similarity.annIvfPq(spark, emptyDir).count() == 0)
    }
  }

  test("round-7 operators on a single-document corpus") {
    withOneDocCorpus { oneDir =>
      val dc = Sampling.domainCap(spark, oneDir).collect()
      assert(dc.length == 1 && dc.head.getLong(2) == 1L) // rank 1 of its source
      val tm = Sampling.tempMix(spark, oneDir).collect()
      assert(tm.length == 1 && tm.head.getLong(3) == Sampling.MixScale) // min lang: keep all
      val vo = TextAnalysis.vocabOov(spark, oneDir).collect()
      assert(vo.length == 1 && vo.head.getLong(2) == 0L) // 8 distinct words, all in vocab
      val ii = Indexing.invertedIndex(spark, oneDir).collect()
      assert(ii.length == 8 && ii.forall(_.getLong(2) == 1L)) // 8 terms ("the" tf=2), seg_df 1
      assert(Similarity.annPq(spark, oneDir).count() == 0)   // no non-self neighbor
      val sd = Similarity.semDedup(spark, oneDir).collect()
      assert(sd.length == 1 && !sd.head.getBoolean(2))       // alone in its cell
    }
  }

  test("single-document corpus: no pairs, self cluster, own fingerprints") {
    withOneDocCorpus { oneDir =>
      assert(Dedup.minhashPairs(spark, oneDir).count() == 0)
      val clusters = Dedup.dupClusters(spark, oneDir).collect()
      assert(clusters.length == 1 && clusters.head.getLong(1) == 0L)
      val reps = Pipeline.clusterReps(spark, oneDir).collect()
      assert(reps.length == 1 && reps.head.getLong(1) == 0L && reps.head.getLong(3) == 1L)
      assert(Similarity.annLsh(spark, oneDir).count() == 0) // no partner in bucket
      assert(TextAnalysis.fingerprint(spark, oneDir).count() == 1)
    }
  }

  test("cluster labels artifact equals q31's rows as a set") {
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    def same(dir: String): Unit =
      assert(rows(Dedup.clusterLabels(spark, dir)) == rows(Dedup.dupClusters(spark, dir)), dir)
    same(sf)
    withEmptyCorpus(same)
    withOneDocCorpus(same)
  }

  test("a cold artifact build labels its jobs and restores the caller's job description") {
    val text = "the quick brown fox jumps over the lazy dog near the river bank"
    withCorpus(
      Seq((0L, text, "en", "src0", text.length.toLong), (1L, text, "en", "src0", text.length.toLong),
        (2L, "an entirely different document about something else", "en", "src1", 51L)),
      Seq.empty) { dir =>
      val sc = spark.sparkContext
      sc.setJobDescription("graft_test_caller")
      try {
        val labels = jobDescriptionsOf {
          Dedup.clusterLabels(spark, dir)
          assert(sc.getLocalProperty("spark.job.description") == "graft_test_caller")
        }
        assert(labels.toSet == Set("graft:artifact/dup_clusters", "graft:artifact/dedup_pairs"),
          labels.distinct.mkString(", "))
      } finally sc.setJobDescription(null)
      assert(Dedup.clusterLabels(spark, dir).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        Map(0L -> 0L, 1L -> 0L, 2L -> 2L))
    }
  }

  test("reading events changes no session conf; nanosAsLong is a session default") {
    val s = spark.newSession()
    val before = s.conf.getAll
    graft.sources.Tables.events(s, sf)
    graft.sources.Tables.eventsStream(s, sf)
    assert(s.conf.getAll == before)
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("Verify.run returns the queries that threw and still writes oracle_sql.json") {
    withTempDir("graft_verify") { out =>
      val missing = out.resolve("no_such_sf").toString
      val failed = Verify.run(spark, missing, out.toString, Some(Set("q02_filter_project")))
      assert(failed == Seq("q02_filter_project"))
      assert(Files.exists(out.resolve("oracle_sql.json")))
    }
  }

  test("Bench.time drops and names the queries that threw") {
    import org.apache.spark.sql.{DataFrame, SparkSession}
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q_ok" -> ((s, d) => graft.sources.Tables.events(s, d)),
      "q_boom" -> ((_, _) => throw new IllegalStateException("bench test: boom")))
    val (results, failed) = Bench.time(spark, sf, queries, reps = 2)
    assert(failed == Seq("q_boom"))
    assert(results.map(_._1) == Seq("q_ok") && results.head._2 > 0.0)
  }

  test("a rewritten events file streams with its new schema in a new session") {
    import graft.SparkSuite.implicits._
    import org.apache.spark.sql.functions.lit
    withTempDir("graft_stream_schema") { tmp =>
      val dir = tmp.toString
      val events = Seq((new java.sql.Timestamp(0L), 1L, "click", 1.0))
        .toDF("ts", "user_id", "event_type", "value")
      events.write.mode("overwrite").parquet(s"$dir/events.parquet")
      assert(!graft.sources.Tables.eventsStream(spark, dir).columns.contains("tag"))
      events.withColumn("tag", lit("x"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      assert(graft.sources.Tables.eventsStream(spark.newSession(), dir).columns.contains("tag"))
    }
  }

  test("a rewritten documents table is read with its new schema in a new session") {
    import graft.SparkSuite.implicits._
    import org.apache.spark.sql.functions.lit
    withTempDir("graft_table_schema") { tmp =>
      val dir = tmp.toString
      val docs = Seq((0L, "a b")).toDF("doc_id", "text")
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val first = spark.newSession()
      assert(!graft.sources.Tables.documents(first, dir).columns.contains("tag"))
      docs.withColumn("tag", lit("x"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      assert(graft.sources.Tables.documents(spark.newSession(), dir).columns.contains("tag"))
      // within one session a path keeps the schema it was first read with
      val again = graft.sources.Tables.documents(first, dir)
      assert(!again.columns.contains("tag") && again.count() == 1L)
    }
  }

  test("a rewritten embeddings corpus is counted afresh in a new session") {
    import graft.SparkSuite.implicits._
    withTempDir("graft_corpus_size") { tmp =>
      val dir = tmp.toString
      def writeVecs(n: Long): Unit = (0L until n).map(i => (i, Array.fill(4)(0.5f)))
        .toDF("vec_id", "embedding").write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      writeVecs(1L)
      assert(Similarity.corpusSize(spark, dir) == 1L)
      writeVecs(3L)
      assert(Similarity.corpusSize(spark.newSession(), dir) == 3L)
    }
  }
}
