package graft.tools

import graft.GraftSession
import graft.operators._

/** Dump executed plans of the hot ANN/dedup paths so exchange-reuse and
  * pushdown claims are checked against the real plan, not the doc. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val which = if (args.length > 1) args(1) else "q17cand"
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = which match {
      case "q17cand" => Similarity.annLshCandidates(spark, sfDir)
      case "q17"     => Similarity.annLsh(spark, sfDir)
      case "q15"     => Similarity.embedNeardup(spark, sfDir)
      case "q16"     => Similarity.annBruteForce(spark, sfDir)
      case "q28"     => Similarity.annIvf(spark, sfDir)
      case "q12"     => Dedup.minhashPairs(spark, sfDir)
    }
    // run THIS queryExecution (not a write's copy) so AQE finalizes the
    // plan, then print the final adaptive form incl. runtime stage reuse
    df.queryExecution.toRdd.foreach(_ => ())
    val plan = df.queryExecution.executedPlan.toString
    println("==== PLAN " + which + " ====")
    println(plan)
    println("==== reused=" + "ReusedExchange".r.findAllIn(plan).size +
      " exchanges=" + "Exchange".r.findAllIn(plan).size +
      " windows=" + "Window".r.findAllIn(plan).size)
    spark.stop()
  }
}
