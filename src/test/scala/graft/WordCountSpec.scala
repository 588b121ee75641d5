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
    withTempDir("graft_txt") { dir =>
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
  }

  test("building the word count over a directory of 40 .txt files starts no Spark job") {
    withTempDir("graft_txt40") { dir =>
      (0 until 40).foreach(i => java.nio.file.Files.writeString(dir.resolve(s"f$i.txt"), s"spark w$i"))
      // a per-file glob of 40 root paths is past Spark's parallel-listing
      // threshold (32), which lists them with a Spark job
      assert(jobsStartedBy(WordCount.fromTextDir(spark, dir.toString)) == 0)
    }
  }

  test("a second read of a parquet table in one session starts no Spark job") {
    import graft.SparkSuite.implicits._
    withTempDir("graft_table_reread") { tmp =>
      val dir = tmp.toString
      Seq((0L, "a b")).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      graft.sources.Tables.documents(spark, dir)
      assert(jobsStartedBy(graft.sources.Tables.documents(spark, dir)) == 0)
    }
  }

  test("total word count equals sum of per-word counts") {
    val total = WordCount.query(spark, sf).agg(sum("cnt")).head.getLong(0)
    val direct = graft.sources.Tables.documents(spark, sf)
      .select(size(graft.functions.TextFunctions.alphaTokens(col("text"))).as("n"))
      .agg(sum("n")).head.getLong(0)
    assert(total == direct)
  }
}
