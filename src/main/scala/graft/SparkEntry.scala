package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see SURVEY.md §2. Each graded query is declared
  * by its operator module (`<Module>.queries`); its DuckDB oracle lives
  * in `graft.oracle`, which engine code never imports. */
object SparkEntry {

  type Query = (SparkSession, String) => DataFrame

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    WordCount.query(spark, "/root/testdata/sf0.001")

  /** Every operator module's query list. */
  private[graft] def modules: Seq[Seq[(String, Query)]] = Seq(
    WordCount.queries, Relational.queries, Dedup.queries, Similarity.queries,
    TextAnalysis.queries, Multimodal.queries, graft.streaming.EventStream.queries,
    Skew.queries, Pipeline.queries, Sampling.queries, Packing.queries,
    Ranking.queries, Indexing.queries, Graph.queries, Bucketing.queries,
    Layout.queries, Sketches.queries, DataQuality.queries, Interchange.queries)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, Query] = registry(modules)

  /** Concatenates module query lists; throws, naming the key, if two
    * entries share a name. */
  private[graft] def registry(lists: Seq[Seq[(String, Query)]]): Map[String, Query] =
    lists.flatten.foldLeft(Map.empty[String, Query]) { case (m, (name, q)) =>
      require(!m.contains(name), s"query $name is declared twice")
      m.updated(name, q)
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] = graft.oracle.DuckDbOracle.oracleSql
}
