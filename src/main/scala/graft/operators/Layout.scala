package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Space-filling-curve data layout — the multi-dimensional clustering
  * pass behind lakehouse `OPTIMIZE ZORDER BY` (Morton 1966; the Delta
  * Lake / Databricks layout optimization). Sorting 100 TB by ONE
  * column makes file-level min/max statistics prune that column only;
  * interleaving the bits of TWO dimensions onto one curve gives every
  * file a small bounding box in BOTH, so a predicate on either
  * dimension skips most files. The operator is the layout DECISION
  * plus its diligence report: assign each row a curve cell and a
  * target file, then report per-file bounding boxes and whether two
  * probe predicates (one per dimension) would have to read the file —
  * the exact skip/read decision parquet row-group pruning makes.
  *
  * Scale shape: dimension extents are a 1-row broadcast; cell, curve
  * value, and file id are scan-local integer projections (the curve is
  * 16 shift/mod terms, pure codegen); the report is ONE
  * partial-aggregable (layout, file) aggregate over a 2-way inline
  * explode (both layouts priced in one corpus pass). At production
  * scale the same `z` column feeds `repartitionByRange(z)` + sorted
  * write — the report here is the part a planner grades.
  */
object Layout {

  /** Per-dimension curve resolution (8 bits → 256 cells). */
  val ZCells = 256

  /** Target file count for the layout. */
  val ZFiles = 64

  /** Probe box: cells [lo, hi] on one dimension (a 1/16 slice). */
  val ProbeLo = 64
  val ProbeHi = 79

  /** Interleave the low 8 bits of two cell coordinates into a Morton
    * curve value — x gets the odd bit positions, y the even ones. */
  private def morton(cx: Column, cy: Column): Column =
    (0 until 8).map { i =>
      (shiftright(cx, i) % 2) * lit(1L << (2 * i + 1)) +
        (shiftright(cy, i) % 2) * lit(1L << (2 * i))
    }.reduce(_ + _)

  /** q103_zorder_layout — Z-order vs linear layout pruning report over
    * `orders` on (o_custkey, order date): per (layout, file): row
    * count, per-dimension cell bounding box, and whether a custkey
    * probe and a date probe would read the file. The linear layout
    * (range-partition by custkey alone) prunes the custkey probe
    * exactly as well but must read EVERY file for the date probe —
    * that contrast is the reason the curve exists. */
  def zorderLayout(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir).select(col("o_custkey"), col("o_orderdate"))
    val mm = o.agg(min(col("o_custkey")).as("ck_lo"), max(col("o_custkey")).as("ck_hi"),
      min(col("o_orderdate")).as("d_lo"), max(col("o_orderdate")).as("d_hi"))
    val cells = o.crossJoin(broadcast(mm))
      .select(
        expr(s"((o_custkey - ck_lo) * $ZCells) div (ck_hi - ck_lo + 1)")
          .cast("long").as("cx"),
        expr(s"(datediff(o_orderdate, d_lo) * $ZCells) div (datediff(d_hi, d_lo) + 1)")
          .cast("long").as("cy"))
      .select(col("cx"), col("cy"), morton(col("cx"), col("cy")).as("z"))
    cells
      .select(col("cx"), col("cy"), explode(array(
        struct(lit("zorder").as("layout"),
          expr(s"(z * $ZFiles) div ${ZCells.toLong * ZCells}").cast("long").as("file_id")),
        struct(lit("linear").as("layout"),
          expr(s"(cx * $ZFiles) div $ZCells").cast("long").as("file_id")))).as("a"))
      .select(col("a.layout").as("layout"), col("a.file_id").as("file_id"),
        col("cx"), col("cy"))
      .groupBy(col("layout"), col("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("cx")).as("min_cx"), max(col("cx")).as("max_cx"),
        min(col("cy")).as("min_cy"), max(col("cy")).as("max_cy"))
      .select(col("layout"), col("file_id"), col("n_rows"),
        col("min_cx"), col("max_cx"), col("min_cy"), col("max_cy"),
        (col("max_cx") >= ProbeLo && col("min_cx") <= ProbeHi).cast("int").as("hit_ck"),
        (col("max_cy") >= ProbeLo && col("min_cy") <= ProbeHi).cast("int").as("hit_date"))
      .orderBy("layout", "file_id")
  }

  /** Shard count for the deterministic training shuffle. */
  val ShuffleShards = 8
  /** Seed string baked into the shuffle hash — changing it produces an
    * independent permutation (a new training epoch order). */
  val ShuffleSeed = "graft-shuffle-42:"
  /** Hash-range width per shard: md5Int60 spans [0, 2^60); 2^60 / 8. */
  val ShuffleWidth = 1L << 57

  /** q172_shuffle_manifest — deterministic corpus shuffle for training
    * order. Before a training run, the corpus must be globally shuffled
    * (adjacent docs from one crawl source would otherwise share a batch)
    * and the ORDER must be reproducible for restarts and data-ablation
    * reruns. Order = ascending md5(seed ‖ doc_id): seeded, stable under
    * re-execution, independent of input layout. Sharding is HASH-RANGE
    * (shard = h div 2^57), NOT row_number — assignment is scan-local with
    * zero global sort, shards are balanced in expectation (md5 uniform),
    * and within-shard order needs only a shard-local sort at write time.
    * The manifest row per shard is what the training loader consumes:
    * global offset, doc count, hash range, boundary docs, checksum.
    *
    * Determinism: first/last via min_by/max_by keyed on h alone — sound
    * ONLY if h is collision-free, so `hash_unique` (count distinct h =
    * count) is itself a graded column: the tie-freeness ASSUMPTION is
    * verified in the same row, not hoped for (probability of a 60-bit
    * collision at n docs ≈ n²/2^61; if it ever fires the column flips
    * and the hash-mismatch has a one-look diagnosis).
    *
    * Scale shape: hash + shard id are scan-local projections; ONE
    * partial-aggregable 8-group aggregate; the offset window runs over
    * the 8-row manifest. Nothing wider than the shard domain shuffles.
    * At 100 TB the same `h` feeds `repartitionByRange(h)` + sorted
    * parquet writes and this manifest is the write's audit record. */
  def shuffleManifest(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.{HashFunctions => H}
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"),
        H.md5Int60(concat(lit(ShuffleSeed), col("doc_id").cast("string"))).as("h"))
      .select(col("doc_id"), col("n_chars"), col("h"),
        expr(s"h div $ShuffleWidth").cast("long").as("shard_id"))
    val manifest = docs.groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_hashes"),
        sum(col("n_chars")).as("total_chars"),
        min(col("h")).as("min_h"), max(col("h")).as("max_h"),
        min_by(col("doc_id"), col("h")).as("first_doc"),
        max_by(col("doc_id"), col("h")).as("last_doc"),
        sum(col("h") % lit(1000000007L)).as("checksum"))
    val w = Window.orderBy(col("shard_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    manifest.select(col("shard_id"), col("n_docs"),
      (col("n_hashes") === col("n_docs")).as("hash_unique"),
      coalesce(sum(col("n_docs")).over(w), lit(0L)).as("global_offset"),
      col("total_chars"), col("min_h"), col("max_h"),
      col("first_doc"), col("last_doc"), col("checksum"))
      .orderBy("shard_id")
  }

  /** q189 target bytes per output file (64 KiB at test scale; the
    * production analogue is the 128 MiB-1 GiB parquet sweet spot). */
  val FileTargetBytes = 65536L

  /** q189_file_advisor — the small-file compaction/layout planner: for
    * each (lang, source) partition of the corpus, the char mass, the
    * file count a [[FileTargetBytes]]-sized writer should emit
    * (ceil(bytes/target)), the fill ratio of that layout, and the
    * merge-candidate flag for partitions under half a file — the
    * planning report behind `OPTIMIZE`/compaction jobs and
    * `repartition(n)` before partitioned writes. The small-file
    * problem is a partition-SPEC problem: a spec that shreds the
    * corpus into thousands of half-empty files costs a namenode
    * listing + a task per file every downstream scan; this query is
    * the number that catches it before the write.
    *
    * Scale shape: ONE partial-aggregable (lang, source) aggregate over
    * the scan; everything downstream is integer projections on the
    * partitions-sized frame (ceil and fill via exact integer div —
    * no floats anywhere). */
  def fileAdvisor(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"))
      .select(col("lang"), col("source"), col("n_docs"), col("bytes"),
        expr(s"(bytes + $FileTargetBytes - 1) div $FileTargetBytes").as("n_files"),
        expr(s"bytes * 1000000 div (((bytes + $FileTargetBytes - 1) div $FileTargetBytes) * $FileTargetBytes)")
          .as("fill_ppm"),
        (col("bytes") < lit(FileTargetBytes / 2)).as("merge_candidate"))
      .orderBy("lang", "source")

  /** The tables q291 inventories (the full graded star + corpus set). */
  val FootprintTables: Seq[String] = Seq("customer", "documents",
    "embeddings", "events", "lineitem", "nation", "orders", "part",
    "region", "supplier")

  /** q291_parquet_footprint — physical-layout inventory straight from
    * the parquet FOOTERS: per table the file count, row-group count,
    * exact row count and compressed byte total — the ground-truth
    * numbers the layout advisors (q189's file sizing, q219's padding
    * waste, q103's clustering) ESTIMATE from row data; reading them
    * from metadata is how a real lakehouse audits itself (row-group
    * skew and tiny-file creep show up here before any query slows
    * down). Both engines read THE SAME footers, so every value is
    * byte-exact by construction.
    *
    * Scale shape: pure METADATA work — cost is O(files), zero row
    * data touched (the point of the operator); footer reads happen
    * driver-side exactly like a catalog/statistics pass (bounded by
    * file count; a 100 TB table's footers are a few MB). The output
    * is built with createDataFrame on the ≤|tables| summary rows. */
  def parquetFootprint(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.hadoop.fs.Path
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = FootprintTables.map { t =>
      val dir = new Path(s"$sfDir/$t.parquet")
      val fs = dir.getFileSystem(conf)
      val root = fs.getFileStatus(dir)
      // the testdata ships single-file tables; partitioned dirs list
      val files = (if (root.isFile) Seq(root)
        else fs.listStatus(dir).toSeq
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet")))
        .sortBy(_.getPath.getName)
      var groups = 0L; var nRows = 0L; var bytes = 0L
      files.foreach { f =>
        val reader = ParquetFileReader
          .open(HadoopInputFile.fromPath(f.getPath, conf))
        try {
          val blocks = reader.getFooter.getBlocks.asScala
          groups += blocks.size
          blocks.foreach { b =>
            nRows += b.getRowCount
            bytes += b.getColumns.asScala.map(_.getTotalSize).sum
          }
        } finally reader.close()
      }
      (t, files.size.toLong, groups, nRows, bytes)
    }
    spark.createDataFrame(rows)
      .toDF("table_name", "n_files", "n_row_groups", "n_rows",
        "compressed_bytes")
      .orderBy("table_name")
  }

  /** This module's graded queries, name → build; `SparkEntry.queries`
    * collects them. */
  private[graft] val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q103_zorder_layout"  -> (zorderLayout _),
    "q172_shuffle_manifest" -> (shuffleManifest _),
    "q189_file_advisor"   -> (fileAdvisor _),
    "q291_parquet_footprint" -> (parquetFootprint _)
  )
}
