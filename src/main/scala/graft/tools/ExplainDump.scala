package graft.tools

import graft.GraftSession

/** Dump the formatted physical plan of one named query (PLANS.md input). */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df =
      if (name == "_minhash_sigs") graft.operators.Dedup.minhashSignatures(spark, sfDir)
      else graft.SparkEntry.queries(name)(spark, sfDir)
    println(s"==== $name ====")
    println(df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
    spark.stop()
  }
}
