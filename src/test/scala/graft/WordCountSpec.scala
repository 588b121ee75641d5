package graft

import graft.operators.WordCount
import org.apache.spark.sql.functions._

class WordCountSpec extends SparkSuite {

  test("flagship DataFrame form equals the MapReduce-API form") {
    import graft.SparkSuite.implicits._
    val df = WordCount.query(spark, sf)
      .as[(String, Long)].collect().toMap
    val mr = WordCount.viaMapReduceApi(spark, sf).collect().toMap
    assert(df == mr)
  }

  test("counts match an independent RDD-side tally") {
    import graft.SparkSuite.implicits._
    val expected = graft.sources.Tables.documents(spark, sf)
      .select("text").as[String].rdd
      .flatMap(t => "[a-z]+".r.findAllIn(t.toLowerCase))
      .map((_, 1L)).reduceByKey(_ + _).collectAsMap()
    val got = WordCount.query(spark, sf).as[(String, Long)].collect().toMap
    assert(got == expected)
  }

  test("directory-of-txt-files source reproduces the reference flagship") {
    import graft.SparkSuite.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_txt")
    java.nio.file.Files.writeString(dir.resolve("a.txt"), "Hello world hello\nSpark counts Words")
    java.nio.file.Files.writeString(dir.resolve("b.txt"), "world of spark 42 spark!")
    java.nio.file.Files.writeString(dir.resolve("ignored.dat"), "should not be read")
    // the reference enumerates the top level only
    // (word-count-taskfile.lua:40-63): a nested file is not a task
    java.nio.file.Files.createDirectory(dir.resolve("sub"))
    java.nio.file.Files.writeString(dir.resolve("sub").resolve("c.txt"), "nested subdirectory spark")
    val got = WordCount.fromTextDir(spark, dir.toString)
      .as[(String, Long)].collect().toMap
    assert(got == Map(
      "hello" -> 2L, "world" -> 2L, "spark" -> 3L,
      "counts" -> 1L, "words" -> 1L, "of" -> 1L))
  }

  /** Jobs started while `body` runs. Listener events arrive in order,
    * so once the start of a marker job run after `body` is seen, every
    * job `body` started has been counted. */
  private def jobsStartedBy(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val marker = "graft_job_count_marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty("spark.job.description") == marker)
          markerSeen.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job not seen")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("building the word count over a directory of 40 .txt files starts no Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_txt40")
    (0 until 40).foreach(i => java.nio.file.Files.writeString(dir.resolve(s"f$i.txt"), s"spark w$i"))
    // a per-file glob of 40 root paths is past Spark's parallel-listing
    // threshold (32), which lists them with a Spark job
    assert(jobsStartedBy(WordCount.fromTextDir(spark, dir.toString)) == 0)
  }

  test("a second read of a parquet table in one session starts no Spark job") {
    import graft.SparkSuite.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_table_reread").toString
    Seq((0L, "a b")).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    graft.sources.Tables.documents(spark, dir)
    assert(jobsStartedBy(graft.sources.Tables.documents(spark, dir)) == 0)
  }

  test("total word count equals sum of per-word counts") {
    val total = WordCount.query(spark, sf).agg(sum("cnt")).head.getLong(0)
    val direct = graft.sources.Tables.documents(spark, sf)
      .select(size(graft.functions.TextFunctions.alphaTokens(col("text"))).as("n"))
      .agg(sum("n")).head.getLong(0)
    assert(total == direct)
  }
}
