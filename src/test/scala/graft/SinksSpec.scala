package graft

import graft.sources.{Sinks, Tables}
import org.apache.spark.sql.functions._

class SinksSpec extends SparkSuite {

  test("partitioned parquet sink round-trips and prunes partitions") {
    withTempDir("graft_sink") { root =>
      val dir = s"$root/events"
      val events = Tables.events(spark, sf)
      Sinks.parquet(events, dir, partitionBy = Seq("event_type"))
      // partition directories exist
      val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).toSet
      assert(dirs.exists(_.startsWith("event_type=")))
      val back = spark.read.parquet(dir)
      assert(back.count() == events.count())
      // reading one partition only touches that directory's files
      val one = back.filter(col("event_type") === "click")
      val scanned = one.queryExecution.executedPlan.toString
      assert(one.count() == events.filter(col("event_type") === "click").count())
      assert(scanned.contains("PartitionFilters") || scanned.contains("event_type=click"))
    }
  }

  test("index store: persisted artifacts are read back instead of rebuilt") {
    withTempDir("graft_sink") { root =>
      import graft.operators.{Indexes, Similarity}
      import graft.sources.IndexStore
      val dir = s"$root/indexes"
      // the cell assignment is compared by its home cells, (vec_id, tc[0])
      def rows(a: IndexStore.Artifact): Seq[String] = {
        val df = a(spark, sf)
        val compared = if (a eq Similarity.hierCells) df.select(col("vec_id"), col("tc")(0)("id")) else df
        compared.collect().map(_.toString).sorted.toSeq
      }
      try {
        spark.conf.set(IndexStore.ConfKey, dir)
        // build + persist the artifacts
        val built = Indexes.artifacts.map(rows)
        Indexes.persistAll(spark, sf)
        Indexes.artifacts.foreach { a =>
          assert(new java.io.File(IndexStore.artifactPath(dir, a.name, sf)).exists(),
            s"persistAll skipped the ${a.name} artifact")
        }
        // a fresh resolution (empty caches = what a new session sees)
        // must return the persisted rows
        Indexes.evictSession(spark)
        Indexes.artifacts.zip(built).foreach { case (a, before) =>
          assert(rows(a) == before, s"${a.name} read back other rows than were persisted")
        }
        // prove the store (not a rebuild) is the source: tamper the
        // persisted codebook and assert the tampered row comes back
        val p = IndexStore.artifactPath(dir, Similarity.trainedCodebook.name, sf)
        val tampered = spark.read.parquet(p)
          .withColumn("cent_id", col("cent_id") + lit(1000000))
        tampered.write.mode("overwrite").parquet(p + "_t")
        spark.read.parquet(p + "_t").write.mode("overwrite").parquet(p)
        Indexes.evictSession(spark)
        val seen = Similarity.trainedCodebook(spark, sf).collect()
        assert(seen.forall(_.getAs[Number]("cent_id").longValue >= 1000000),
          "cache resolved a rebuild instead of the persisted table")
      } finally {
        // restore: unset the store and rebuild in-session so later tests
        // see the untampered artifacts
        spark.conf.unset(IndexStore.ConfKey)
        Indexes.evictSession(spark)
      }
    }
  }

  test("evictSession empties every artifact memo of the session") {
    import graft.operators.{Dedup, Graph, Indexes, Similarity, TextAnalysis}
    import java.lang.reflect.ParameterizedType
    // perfbench's IndexProbe filter (every TrieMap field of the four
    // artifact modules), narrowed to the DataFrame-valued ones: the
    // others memoize scalars that no artifact lifecycle owns
    def dataFrameValued(f: java.lang.reflect.Field): Boolean = f.getGenericType match {
      case t: ParameterizedType => t.getActualTypeArguments()(1) match {
        case v: ParameterizedType => v.getRawType == classOf[org.apache.spark.sql.Dataset[_]]
        case _ => false
      }
      case _ => false
    }
    val fields = Seq[AnyRef](Dedup, Similarity, TextAnalysis, Graph).flatMap { m =>
      m.getClass.getDeclaredFields.toSeq
        .filter(f => classOf[scala.collection.concurrent.TrieMap[_, _]].isAssignableFrom(f.getType))
        .filter(dataFrameValued)
        .map { f => f.setAccessible(true); f.getName -> f.get(m) }
    }
    val memos = Indexes.artifacts.map(_.memo)
    val outside = fields.collect { case (name, f) if memos.count(_ eq f) != 1 => name }
    assert(outside.isEmpty, s"memos not owned by exactly one registry artifact: ${outside.mkString(", ")}")
    val unseen = Indexes.artifacts.collect { case a if fields.count(_._2 eq a.memo) != 1 => a.name }
    assert(unseen.isEmpty, s"registry memos not a distinct module field: ${unseen.mkString(", ")}")
    val key = (spark, "graft_evict_guard")
    try {
      memos.foreach(_.put(key, spark.emptyDataFrame))
      Indexes.evictSession(spark)
      val kept = Indexes.artifacts.collect { case a if a.memo.keys.exists(_._1 eq spark) => a.name }
      assert(kept.isEmpty, s"evictSession leaves these memos filled: ${kept.mkString(", ")}")
    } finally memos.foreach(_.remove(key))
  }

  test("csv and json sinks round-trip the wordcount result") {
    withTempDir("graft_sink") { root =>
      import graft.SparkSuite.implicits._
      val wc = operators.WordCount.query(spark, sf)
      val expected = wc.as[(String, Long)].collect().toMap
      val cdir = s"$root/wc_csv"
      Sinks.csv(wc, cdir)
      val backCsv = spark.read.option("header", "true").option("inferSchema", "true").csv(cdir)
        .as[(String, Long)].collect().toMap
      assert(backCsv == expected)
      val jdir = s"$root/wc_json"
      Sinks.json(wc, jdir)
      val backJson = spark.read.json(jdir)
        .select(col("word"), col("cnt")).as[(String, Long)].collect().toMap
      assert(backJson == expected)
    }
  }

  test("orc sink round-trips through the orc reader, schema intact") {
    withTempDir("graft_sink") { root =>
      import graft.SparkSuite.implicits._
      val wc = operators.WordCount.query(spark, sf)
      val expected = wc.as[(String, Long)].collect().toMap
      val dir = s"$root/wc_orc"
      Sinks.orc(wc, dir)
      val back = Tables.orc(spark, dir)
      // names+types survive; nullability widens on read (file formats
      // don't persist Spark's non-null aggregate inference)
      assert(back.schema.map(f => (f.name, f.dataType)) ==
        wc.schema.map(f => (f.name, f.dataType)))
      assert(back.as[(String, Long)].collect().toMap == expected)
    }
  }

  test("Tables.csv/json readers round-trip sinks with and without explicit schema") {
    withTempDir("graft_sink") { root =>
      import graft.SparkSuite.implicits._
      val wc = operators.WordCount.query(spark, sf)
      val expected = wc.as[(String, Long)].collect().toMap
      val cdir = s"$root/rt_csv"
      Sinks.csv(wc, cdir)
      val inferred = Tables.csv(spark, cdir)
        .as[(String, Long)].collect().toMap
      assert(inferred == expected)
      val explicit = Tables.csv(spark, cdir, Some(wc.schema))
        .as[(String, Long)].collect().toMap
      assert(explicit == expected)
      val jdir = s"$root/rt_json"
      Sinks.json(wc, jdir)
      val js = Tables.json(spark, jdir, Some(wc.schema))
        .as[(String, Long)].collect().toMap
      assert(js == expected)
    }
  }

  test("sharded corpus write round-trips assignments and prunes by shard") {
    withTempDir("graft_sink") { root =>
      import graft.operators.Packing
      val dir = s"$root/shards"
      Packing.writeShardedCorpus(spark, sf, dir)
      // one partition directory per shard produced by the q53 aggregate
      val shardIds = Packing.shardPack(spark, sf)
        .select(col("shard_id")).collect().map(_.getLong(0)).toSet
      val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
        .map(_.getName).filter(_.startsWith("shard_id=")).toSet
      assert(dirs == shardIds.map(s => s"shard_id=$s"))
      // read-back equality: the written (doc_id, shard_id) assignment is
      // exactly the computed one, every doc packed once, text intact
      val back = spark.read.parquet(dir)
      // partition-dir values are type-inferred on read (int here) — cast
      val gotAsg = back.select(col("doc_id"), col("shard_id").cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val docs = Tables.documents(spark, sf)
      val wantAsg = Packing.assignFrom(docs
          .select(col("doc_id"),
            size(graft.functions.TextFunctions.wsTokens(col("text"))).cast("long").as("n")))
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(gotAsg == wantAsg)
      assert(back.count() == docs.count())
      val doc0Text = back.filter(col("doc_id") === gotAsg.keys.min).select("text").head.getString(0)
      assert(doc0Text == docs.filter(col("doc_id") === gotAsg.keys.min).select("text").head.getString(0))
      // a loader's per-shard read is partition pruning, not a corpus scan
      val one = back.filter(col("shard_id") === shardIds.min)
      val plan = one.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [isnotnull(shard_id"), s"no partition filter:\n$plan")
      assert(one.count() == wantAsg.values.count(_ == shardIds.min))
    }
  }
}
