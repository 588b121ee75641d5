package graft.operators

import graft.sources.{Sinks, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Interchange-format operators: the GRADED read-write-read path over
  * the text sinks (SinksSpec covers the writers unit-wise; this runs
  * one end-to-end through the verification oracle).
  */
object Interchange {

  /** q164_json_roundtrip_agg — the JSON export path graded end-to-end:
    * write the documents table as JSON lines, read it back through the
    * schema-driven reader, aggregate per source — the oracle computes
    * the identical aggregate from the ORIGINAL parquet, so the
    * hash-match proves the JSON round-trip is lossless for every value
    * that reaches the aggregate (ids, counts, language strings, text
    * lengths). The export-to-labeling-vendor / reimport cycle every
    * curation pipeline runs eventually.
    *
    * Scale shape: the write is one scan partitioned like the input
    * (JSON lines split cleanly, so the read-back parallelizes the same
    * way); the aggregate is partial-aggregable onto the sources
    * domain. The round-trip doubles I/O by design — that cost IS the
    * operator. */
  def jsonRoundtripAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val dir = s"target/graft-roundtrip/${math.abs(sfDir.hashCode)}/documents_json"
    Sinks.json(docs, dir)
    val back = Tables.json(spark, dir, Some(docs.schema))
    back.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text")).cast("long")).as("sum_text_len"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy("source")
  }

  /** q239_csv_roundtrip_agg — the CSV leg of the interchange matrix
    * (q164 grades JSON lines; SinksSpec unit-tests the writers): write
    * the documents table as headered CSV, read it back through the
    * SCHEMA-DRIVEN reader (inference on a re-import is a silent type
    * drift — ids re-inferred as strings break every downstream join),
    * aggregate per (source, lang). The oracle aggregates the original
    * parquet, so the hash-match proves the text round-trip lossless
    * for everything reaching the aggregate. CSV quoting on hostile
    * content (embedded commas/quotes) is proven separately in
    * Round13OpsSpec on a torture frame — the graded corpus is
    * comma-free, so the graded run is the happy path and the spec
    * carries the escaping contract (the q56 split).
    *
    * Scale shape: identical to q164 — one partitioned write, one
    * parallel read-back, a partial-aggregable aggregate onto the
    * sources×langs domain. The doubled I/O is the operator. */
  def csvRoundtripAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val dir = s"target/graft-roundtrip/${math.abs(sfDir.hashCode)}/documents_csv"
    Sinks.csv(docs, dir)
    val back = Tables.csv(spark, dir, Some(docs.schema))
    back.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text")).cast("long")).as("sum_text_len"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy("source", "lang")
  }

  /** q243_orc_roundtrip_agg — the ORC leg completing the interchange
    * matrix (parquet is the native store; q164 JSON, q239 CSV, this
    * ORC — the other COLUMNAR format, for stacks standardized on it):
    * write the documents table as ORC, read it back through the
    * self-describing reader (columnar formats carry their schema —
    * no inference drift, the property that makes them interchange-
    * safe where text formats need the q239 schema pin), aggregate per
    * lang against the original-parquet oracle.
    *
    * Scale shape: one partitioned columnar write + parallel read-back
    * (predicate/column pushdown properties identical to parquet), a
    * partial-aggregable aggregate onto the langs domain. */
  def orcRoundtripAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val dir = s"target/graft-roundtrip/${math.abs(sfDir.hashCode)}/documents_orc"
    Sinks.orc(docs, dir)
    val back = Tables.orc(spark, dir)
    back.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text")).cast("long")).as("sum_text_len"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy("lang")
  }

  /** This module's graded queries, name → build; `SparkEntry.queries`
    * collects them. */
  private[graft] val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q164_json_roundtrip_agg" -> (jsonRoundtripAgg _),
    "q239_csv_roundtrip_agg" -> (csvRoundtripAgg _),
    "q243_orc_roundtrip_agg" -> (orcRoundtripAgg _)
  )
}
