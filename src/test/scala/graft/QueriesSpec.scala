package graft

import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}

/** The registry-wide sweep: every graded query in `SparkEntry.queries`
  * is built once at sf0.001 and once at sf0.01, and each build is
  * checked against every invariant that must hold engine-wide, not
  * just for the queries PlanSpec examines individually. A query runs,
  * returns rows, plans no cartesian product and no unpartitioned
  * corpus-wide window, and keeps its output schema across scale
  * factors; a regression in any operator fails here by query name.
  * Building a query runs its eager checkpoint jobs, so each query is
  * built exactly once per scale factor, and one test per query checks
  * all of these invariants on that one build.
  */
class QueriesSpec extends SparkSuite {

  private val mid = sf.replace("sf0.001", "sf0.01")

  /** q53's block-totals window is deliberately unpartitioned — it runs
    * over corpus/BlockSize rows, never the corpus (PLANS.md §q53).
    * q61's histogram window likewise runs over the DISTINCT length
    * values only (value-domain-bounded, PLANS.md §q61). */
  // q70's vocab ranking window runs over the distinct-TOKEN aggregate
  // (vocabulary-domain-bounded, never the corpus).
  // q172's offset window runs over the 8-row shard manifest; q173's
  // cumulative windows run over the 32-bin histogram and the distinct
  // length-VALUE domain; q176's rank window runs over the part-name
  // vocabulary aggregate — all domain-bounded, never corpus rows
  // (PLANS.md §round-11).
  // q188's trailing window runs over the generated date SPINE —
  // date-domain-bounded (~2.4k rows at any SF), never corpus rows.
  // q194's cumulative window runs over the distinct length-VALUE
  // domain of a two-source slice (the q61/q136 convention).
  // q204's lag runs over the WEEK domain (~350 rows at any SF); q206's
  // rank/cumsum windows run over the fixed Bm25TopK retrieval head.
  private val allowUnpartitionedWindow =
    Set("q53_shard_pack", "q61_length_deciles", "q70_vocab_oov",
      "q172_shuffle_manifest", "q173_quantile_merge", "q176_golden_record",
      "q188_date_spine", "q194_ks_drift", "q196_wasserstein_drift",
      "q204_wow_change", "q206_context_pack",
      // q218's rank window runs over the ~dozens-row SOURCES domain
      "q218_source_gini",
      // q250's rank/cumulative windows run over the fixed top-V
      // sampling-table head (50 rows at any SF)
      "q250_neg_sampling",
      // q260's CUSUM window runs over the DAY domain aggregate
      // (calendar-bounded like q188's spine, never corpus rows)
      "q260_changepoint",
      // q262's rank-histogram cumsum windows run over the distinct
      // length-VALUE and score-VALUE domains (q61/q194's shape)
      "q262_spearman",
      // q267's hour-prefix window runs over the HOUR domain totals
      // (calendar-bounded); the per-ts cumsum window is partitioned
      // by hour (q53's block identity)
      "q267_max_concurrency",
      // q283's enrollment/conversion cumsums run over the DAY domain
      // (q260's class)
      "q283_sprt",
      // q294's rank-histogram cumsum runs over the distinct
      // value-domain of a two-type slice (q194/q262's shape)
      "q294_mann_whitney",
      // q298's rank-histogram cumsum runs over the distinct
      // length-VALUE domain across all languages (q294's shape)
      "q298_kruskal_wallis",
      // q301's at-risk reverse cumsum and ln-survival cumsum run over
      // the ≤ KmCapHours+1-row DURATION domain (q260's class)
      "q301_kaplan_meier",
      // q308's split-candidate cumsum runs over the distinct
      // length-VALUE domain (q194/q262's shape)
      "q308_decision_stump",
      // q322's position cumsum runs over the distinct length-VALUE
      // domain (q194/q262's shape)
      "q322_l_moments",
      // q323's median rank windows run over the bounded day-pair
      // (≤465-row) and day (≤31-row) domains
      "q323_theil_sen",
      // q325's reverse cumsum runs over the bounded profile-score
      // domain (≤ max hits per doc, a few dozen values)
      "q325_pr_curve",
      // q343's median rank and run-boundary lag windows run over the
      // ≤31-row DAY domain (q260's class)
      "q343_runs_test",
      // q350's calibration-CDF cumsum runs over the distinct
      // residual-VALUE domain (q194/q262's shape)
      "q350_conformal_interval",
      // q351's centered-MA window runs over the ≤31-row DAY domain
      // (q260's class)
      "q351_seasonal_decompose",
      // q361's cumulative-rank/total windows run over the distinct
      // length-VALUE domain (q61/q194's shape)
      "q361_bucket_sweep",
      // q365 reads q53's packing prefixes: the one unpartitioned
      // window is q53's block-totals window over corpus/BlockSize rows
      "q365_pack_mask_stats")
      // (q335's vocabulary-domain rank windows execute inside its
      // eager localCheckpoint, so they never appear in the graded
      // plan this sweep inspects)

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql covers exactly the declared queries") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("the registry rejects a query name declared by two modules, naming it") {
    val q: SparkEntry.Query = (s, d) => graft.sources.Tables.events(s, d)
    val e = intercept[IllegalArgumentException] {
      SparkEntry.registry(Seq(Seq("q_a" -> q, "q_shared" -> q), Seq("q_shared" -> q)))
    }
    assert(e.getMessage.contains("q_shared"))
    assert(SparkEntry.registry(Seq(Seq("q_a" -> q), Seq("q_b" -> q))).keySet == Set("q_a", "q_b"))
  }

  test("every allowUnpartitionedWindow entry names a registered query") {
    // a misspelled or renamed entry would exempt nothing and skip its
    // staleness check
    val unknown = allowUnpartitionedWindow -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"allow-list names unregistered queries: $unknown")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs at sf0.001 and returns rows") {
      val df = fn(spark, sf)

      val unpartitioned = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      if (allowUnpartitionedWindow(name))
        assert(unpartitioned.nonEmpty, s"$name: whitelist entry is stale")
      else
        assert(unpartitioned.isEmpty,
          s"$name plans an unpartitioned window: ${unpartitioned.map(_.simpleString(80))}")

      // bounded products (q16's 10-row query side, q28's centroid set,
      // the 1-row corpus-total cross joins in tfidf/pmi) plan as
      // BroadcastNestedLoopJoin — CartesianProduct only appears when BOTH
      // sides are unbounded, which no operator may ever do
      assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")

      assert(df.count() > 0, s"$name returned no rows")

      // a query whose column names/types drift with data volume would
      // break the oracle compare between the smoke (sf0.001) and
      // graded (sf0.01) scales — catch it locally
      val a = df.schema.map(f => (f.name, f.dataType))
      val b = fn(spark, mid).schema.map(f => (f.name, f.dataType))
      assert(a == b, s"$name schema drifts between SFs:\n  $a\n  $b")

      // a streamed query's drain leaves neither its memory-sink view
      // nor a running query behind
      val views = spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_stream_"))
      assert(views.isEmpty, s"$name left streaming sink views: ${views.mkString(", ")}")
      assert(spark.streams.active.isEmpty,
        s"$name left active streaming queries: ${spark.streams.active.map(_.name).mkString(", ")}")
    }
  }
}
