package graft.core

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}

/** The reference's four-function task contract, re-expressed on Datasets.
  *
  * lua-mapreduce drives a user task file through `taskfn` (source
  * enumeration) → `mapfn` (per-record (k,v) emission) → an implicit
  * group-by-key shuffle (`lua-mapreduce-server.lua:173-183`
  * `receive_map_result`) → `reducefn` (per-key fold over the grouped
  * values, `word-count-taskfile.lua:148-151`) → `finalfn` (final emit,
  * `word-count-taskfile.lua:91-97`); the wiring lives at
  * `lua-mapreduce-server.lua:382-388`.
  *
  * Here the same contract is a thin façade over Dataset operators, so a
  * task written against it inherits Spark's scheduler, shuffle service and
  * fault tolerance instead of the reference's single-server TCP loop:
  *
  *  - `taskfn`  → any `Dataset[IN]` source (parquet scan, stream, …);
  *    input-split generation is the file source's partitioning.
  *  - `mapfn`   → `flatMap`, executed partition-local.
  *  - `reducefn`→ two flavors (below).
  *  - `finalfn` → an arbitrary Dataset → Dataset transform before the sink.
  *
  * Scale note: `run` reproduces the reference's exact semantics — the
  * reducer sees ALL values of a key — which on a cluster means a full
  * shuffle of the mapped data with no map-side combine (exactly what the
  * reference's single-threaded server does, minus the scale ceiling).
  * `runReduced` is the 100 TB path for the (overwhelmingly common)
  * associative-commutative case: it uses `reduceGroups`, whose
  * `ReduceAggregator` performs partial aggregation before the shuffle, so
  * shuffle volume is O(distinct keys), not O(records).
  */
object MapReduce {

  /** Faithful semantics: reducefn folds the full value iterator per key.
    * Use when the reduction is not associative (rare). */
  def run[IN, K: Encoder, V](
      source: Dataset[IN],
      mapfn: IN => IterableOnce[(K, V)],
      reducefn: (K, Iterator[V]) => V)(
      implicit kvEnc: Encoder[(K, V)]): Dataset[(K, V)] =
    source
      .flatMap(mapfn)(kvEnc)
      .groupByKey(_._1)
      .mapGroups((k, rows) => (k, reducefn(k, rows.map(_._2))))(kvEnc)

  /** Scale path: associative-commutative reduce with map-side combine. */
  def runReduced[IN, K: Encoder, V](
      source: Dataset[IN],
      mapfn: IN => IterableOnce[(K, V)],
      combine: (V, V) => V)(
      implicit kvEnc: Encoder[(K, V)]): Dataset[(K, V)] =
    source
      .flatMap(mapfn)(kvEnc)
      .groupByKey(_._1)
      .reduceGroups((a: (K, V), b: (K, V)) => (a._1, combine(a._2, b._2)))
      .map { case (_, kv) => kv }(kvEnc)

  /** Full pipeline including the reference's finalfn slot. */
  def pipeline[IN, K: Encoder, V, OUT](
      source: Dataset[IN],
      mapfn: IN => IterableOnce[(K, V)],
      combine: (V, V) => V,
      finalfn: Dataset[(K, V)] => Dataset[OUT])(
      implicit kvEnc: Encoder[(K, V)]): Dataset[OUT] =
    finalfn(runReduced(source, mapfn, combine))
}
