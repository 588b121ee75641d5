package graft

import graft.core.MapReduce

case class Inner(tags: Seq[String], score: Double)
case class Outer(id: Long, name: String, inner: Inner, attrs: Map[String, Long])

class MapReduceSpec extends SparkSuite {

  test("faithful run() equals scale-path runReduced() for wordcount") {
    import graft.SparkSuite.implicits._
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("text").as[String]
    def mapfn(t: String): Iterator[(String, Long)] =
      "[a-z]+".r.findAllIn(t.toLowerCase).map((_, 1L))
    val faithful = MapReduce.run[String, String, Long](
      docs, mapfn, (_, vs) => vs.sum).collect().toMap
    val reduced = MapReduce.runReduced[String, String, Long](
      docs, mapfn, _ + _).collect().toMap
    assert(faithful == reduced)
  }

  test("nested case-class serialization round-trips through parquet") {
    import graft.SparkSuite.implicits._
    withTempDir("graft_ser") { root =>
      val dir = s"$root/t"
      val in = Seq(
        Outer(1, "a", Inner(Seq("x", "y"), 1.5), Map("k" -> 2L)),
        Outer(2, "b", Inner(Nil, -0.5), Map.empty))
      in.toDS().write.mode("overwrite").parquet(dir)
      val out = spark.read.parquet(dir).as[Outer].collect().toSeq.sortBy(_.id)
      assert(out == in)
    }
  }
}
