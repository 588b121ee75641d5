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

  test("total word count equals sum of per-word counts") {
    val total = WordCount.query(spark, sf).agg(sum("cnt")).head.getLong(0)
    val direct = graft.sources.Tables.documents(spark, sf)
      .select(size(graft.functions.TextFunctions.alphaTokens(col("text"))).as("n"))
      .agg(sum("n")).head.getLong(0)
    assert(total == direct)
  }
}
