package graft

import graft.streaming.{Event, EventStream}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

class StreamingSpec extends SparkSuite {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  test("windowed aggregation over a memory stream") {
    import graft.SparkSuite.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val query = EventStream.withWatermarkedWindow(stream.toDF())
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("win_out").start()
    try {
      stream.addData(
        Event(ts(0), 1, "click", 1.0),
        Event(ts(2), 2, "click", 2.0),
        Event(ts(6), 1, "view", 3.0))
      query.processAllAvailable()
      val rows = spark.table("win_out")
        .as[(String, String, Long, Double)].collect().toSet
      assert(rows == Set(
        ("2026-01-01 10:00:00", "click", 2L, 3.0),
        ("2026-01-01 10:05:00", "view", 1L, 3.0)))
    } finally query.stop()
  }

  test("stateful running user stats accumulate across micro-batches") {
    import graft.SparkSuite.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val query = EventStream.runningUserStats(spark, stream.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("stats_out").start()
    try {
      stream.addData(Event(ts(0), 1, "click", 1.0), Event(ts(1), 1, "click", 2.0))
      query.processAllAvailable()
      stream.addData(Event(ts(2), 1, "view", 4.0))
      query.processAllAvailable()
      val last = spark.table("stats_out")
        .as[(Long, Long, Double)].collect()
        .filter(_._1 == 1L).maxBy(_._2)
      assert(last == ((1L, 3L, 7.0)))
    } finally query.stop()
  }

  test("file-source streaming matches batch over a parquet directory") {
    withTempDir("graft_stream") { tmp =>
      val dir = tmp.toString
      val events = graft.sources.Tables.events(spark, sf)
      events.write.mode("overwrite").parquet(dir)
      val stream = spark.readStream.schema(events.schema).parquet(dir)
      val query = EventStream.windowedAgg(stream)
        .writeStream.outputMode(OutputMode.Complete())
        .format("memory").queryName("file_stream_out").start()
      try {
        query.processAllAvailable()
        val streamed = spark.table("file_stream_out").collect().toSet
        val batch = EventStream.windowedAgg(events).collect().toSet
        assert(streamed == batch)
        assert(streamed.nonEmpty)
      } finally query.stop()
    }
  }

  test("event-time sessionization closes sessions after the gap") {
    import graft.SparkSuite.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val query = EventStream.sessionize(spark, stream.toDS(), gapMinutes = 30)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sessions_out").start()
    try {
      // user 1: events 10:00-10:05; user 2 far in the future pushes the
      // watermark beyond 10:05 + 30min gap, closing user 1's session
      stream.addData(Event(ts(0), 1, "click", 1.0), Event(ts(5), 1, "view", 2.0))
      query.processAllAvailable()
      stream.addData(Event(Timestamp.valueOf("2026-01-01 12:00:00"), 2, "click", 1.0))
      query.processAllAvailable()
      // one more batch so the timeout fires after the watermark advanced
      stream.addData(Event(Timestamp.valueOf("2026-01-01 12:01:00"), 2, "view", 1.0))
      query.processAllAvailable()
      val sessions = spark.table("sessions_out")
        .as[(Long, Long, Long, Int)].collect().filter(_._1 == 1L)
      assert(sessions.length == 1)
      val s = sessions.head
      assert(s._2 == ts(0).getTime && s._3 == ts(5).getTime && s._4 == 2)
    } finally query.stop()
  }

  test("sessionize splits intra-batch gaps: two sessions from one micro-batch") {
    import graft.SparkSuite.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val query = EventStream.sessionize(spark, stream.toDS(), gapMinutes = 30)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("gap_split_out").start()
    try {
      // ONE batch carries two >30-min-apart bursts for user 1: the
      // first session must be emitted from the gap split immediately,
      // not merged into a single 10:00-11:00 session
      stream.addData(
        Event(ts(0), 1, "click", 1.0),
        Event(ts(5), 1, "view", 2.0),
        Event(Timestamp.valueOf("2026-01-01 11:00:00"), 1, "click", 3.0))
      query.processAllAvailable()
      val afterBatch1 = spark.table("gap_split_out")
        .as[(Long, Long, Long, Int)].collect().filter(_._1 == 1L)
      assert(afterBatch1.toSeq ==
        Seq((1L, ts(0).getTime, ts(5).getTime, 2)))
      // advance the watermark to flush the second (open) session
      stream.addData(Event(Timestamp.valueOf("2026-01-01 13:00:00"), 2, "click", 1.0))
      query.processAllAvailable()
      stream.addData(Event(Timestamp.valueOf("2026-01-01 13:01:00"), 2, "view", 1.0))
      query.processAllAvailable()
      val all = spark.table("gap_split_out")
        .as[(Long, Long, Long, Int)].collect().filter(_._1 == 1L).sortBy(_._2)
      val t1100 = Timestamp.valueOf("2026-01-01 11:00:00").getTime
      assert(all.toSeq == Seq(
        (1L, ts(0).getTime, ts(5).getTime, 2),
        (1L, t1100, t1100, 1)))
    } finally query.stop()
  }

  test("streaming dedup drops in-watermark duplicate keys exactly once") {
    import graft.SparkSuite.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val query = EventStream.streamingDedup(stream.toDF(), Seq("user_id", "event_type"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_out").start()
    try {
      stream.addData(
        Event(ts(0), 1, "click", 1.0),
        Event(ts(1), 1, "click", 2.0), // dup key in same batch
        Event(ts(2), 2, "click", 3.0))
      query.processAllAvailable()
      stream.addData(Event(ts(3), 1, "click", 4.0)) // dup key across batches
      query.processAllAvailable()
      val rows = spark.table("dedup_out")
        .as[Event].collect().map(e => (e.user_id, e.event_type, e.value))
      assert(rows.sortBy(_._1).toSeq == Seq((1L, "click", 1.0), (2L, "click", 3.0)))
    } finally query.stop()
  }

  test("token-bucket rate limit admits per refill schedule across micro-batches") {
    import graft.SparkSuite.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    // capacity 2, refill 1 token / 100 s
    val query = EventStream.rateLimit(spark, stream.toDS(), capacity = 2.0, refillPerSec = 0.01)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("rate_out").start()
    try {
      // burst of 4 at t=0..3min for user 1: 2 admitted (capacity),
      // 3rd arrives 60s later with 0.6 tokens -> dropped,
      // 4th at 180s: 0.6+1.2=1.8 tokens -> admitted
      stream.addData(
        Event(ts(0), 1, "a", 1.0), Event(ts(0), 1, "b", 1.0),
        Event(ts(1), 1, "c", 1.0), Event(ts(3), 1, "d", 1.0),
        Event(ts(0), 2, "x", 1.0))
      query.processAllAvailable()
      val first = spark.table("rate_out").as[Event].collect().map(_.event_type).toSet
      assert(first == Set("a", "b", "d", "x"))
      // next batch at t=240 s: tokens 0.8 + (240-180)*0.01 = 1.4 ->
      // "e" admits (0.4 left), "f" is throttled
      stream.addData(Event(ts(4), 1, "e", 1.0), Event(ts(4), 1, "f", 1.0))
      query.processAllAvailable()
      val all = spark.table("rate_out").as[Event].collect().map(_.event_type).toSet
      assert((all -- first) == Set("e"))
    } finally query.stop()
  }

  test("q23 parity end-to-end at sf0.01: file-source stream equals the graded windowQuery") {
    val sfDir = "/root/testdata/sf0.01"
    val stream = graft.sources.Tables.eventsStream(spark, sfDir)
    val query = EventStream.windowedAgg(stream)
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("q23_parity_out").start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("q23_parity_out").collect()
      val batch = EventStream.windowQuery(spark, sfDir).collect()
      // row-for-row: grouped output has no duplicates, so set equality
      // + equal sizes is exact
      assert(streamed.length == batch.length)
      assert(streamed.map(_.toSeq).toSet == batch.map(_.toSeq).toSet)
      assert(streamed.nonEmpty)
    } finally query.stop()
  }

  test("batch and streaming window paths agree on the events table") {
    import graft.SparkSuite.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = EventStream.windowQuery(spark, sf)
      .as[(String, String, Long, Double)].collect().toSet
    val events = graft.sources.Tables.events(spark, sf)
      .as[Event].collect()
    val stream = MemoryStream[Event]
    val query = EventStream.windowedAgg(stream.toDF())
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("batch_stream_parity").start()
    try {
      stream.addData(events.toIndexedSeq)
      query.processAllAvailable()
      val streamed = spark.table("batch_stream_parity")
        .as[(String, String, Long, Double)].collect().toSet
      assert(streamed == batch)
    } finally query.stop()
  }

  test("session attribution lands every error in exactly one session") {
    val rows = EventStream.sessionAttribution(spark, sf).collect()
    val sessions = EventStream.sessionizeBatchQuery(spark, sf).collect()
    assert(rows.length == sessions.length) // one output row per session
    val attributedErrors = rows.map(_.getLong(3)).sum
    val totalErrors = graft.sources.Tables.events(spark, sf)
      .filter(org.apache.spark.sql.functions.col("event_type") === "error").count()
    // sessions partition each user's timeline, so attribution is exact
    assert(attributedErrors == totalErrors)
    assert(rows.exists(_.getLong(3) == 0L), "no clean sessions at all?")
    // n_errors <= n_events always (errors are a subset of session events)
    rows.foreach(r => assert(r.getLong(3) <= r.getLong(2)))
  }

  test("streaming incremental dedup labels a doc stream against a static corpus") {
    import graft.SparkSuite.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((1L, "seen before"), (2L, "also known"), (3L, "seen before"))
      .toDF("doc_id", "text")
    val stream = MemoryStream[(Long, String)]
    val query = EventStream.streamingIncrementalDedup(
        stream.toDF().toDF("doc_id", "text"), corpus)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("inc_dedup_out").start()
    try {
      stream.addData((10L, "seen before"), (11L, "fresh content"))
      query.processAllAvailable()
      stream.addData((12L, "also known"))
      query.processAllAvailable()
      val rows = spark.table("inc_dedup_out")
        .collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      // match_id is the LOWEST corpus id holding the content (1, not 3)
      assert(rows == Set((10L, "exact", 1L), (11L, "new", -1L), (12L, "exact", 2L)))
      // parity: the same function over a batch frame gives the same labels
      val batchRows = EventStream.streamingIncrementalDedup(
          Seq((10L, "seen before"), (11L, "fresh content"), (12L, "also known"))
            .toDF("doc_id", "text"), corpus)
        .collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      assert(batchRows == rows)
    } finally query.stop()
  }

  test("stream-stream interval join attributes clicks to in-window views") {
    import graft.SparkSuite.implicits._
    implicit val sqlCtx = spark.sqlContext
    // (event_id, ts, user_id) on both sides
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val views = MemoryStream[(Long, Timestamp, Long)]
    val joined = EventStream.streamingClickAttribution(
      clicks.toDF().toDF("event_id", "ts", "user_id"),
      views.toDF().toDF("event_id", "ts", "user_id"))
    val query = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("attr_out").start()
    try {
      // user 1: view at :00 then click at :10 (in window), click at :50 (out);
      // user 2: click with NO prior view; view arrives LATE in a later batch
      views.addData((100L, ts(0), 1L))
      clicks.addData((200L, ts(10), 1L), (201L, ts(50), 1L), (202L, ts(5), 2L))
      query.processAllAvailable()
      views.addData((101L, ts(3), 2L)) // late view for user 2, still in window
      query.processAllAvailable()
      val rows = spark.table("attr_out")
        .select($"click_id", $"view_id").as[(Long, Long)].collect().toSet
      // click 200 <- view 100 (10 min gap); click 201 matches nothing
      // (50 min > 30 min window); click 202 <- late view 101 (both sides
      // buffer until the watermark passes, so the late arrival still joins)
      assert(rows == Set((200L, 100L), (202L, 101L)))
      // parity: identical plan over batch frames, same pairs
      val batchRows = EventStream.streamingClickAttribution(
          Seq((200L, ts(10), 1L), (201L, ts(50), 1L), (202L, ts(5), 2L))
            .toDF("event_id", "ts", "user_id"),
          Seq((100L, ts(0), 1L), (101L, ts(3), 2L)).toDF("event_id", "ts", "user_id"))
        .select($"click_id", $"view_id").as[(Long, Long)].collect().toSet
      assert(batchRows == rows)
    } finally query.stop()
  }

  /** Latest micro-batch progress that actually carries state-operator
    * rows (processAllAvailable can end on a no-data batch). */
  private def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.reverse
      .find(_.stateOperators.nonEmpty)
      .map(_.stateOperators.map(_.numRowsTotal).sum)
      .getOrElse(0L)

  private def tsm(minutes: Int): Timestamp =
    Timestamp.valueOf(java.time.LocalDateTime.of(2026, 1, 1, 10, 0, 0).plusMinutes(minutes))

  test("state boundedness: windowed agg state stops growing once the watermark passes (q23 shape)") {
    import graft.SparkSuite.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    // Append mode: watermark-evicted windows are FINALIZED and removed
    // from the store — Complete mode would retain everything by design
    val query = EventStream.withWatermarkedWindow(stream.toDF())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("state_win_out").start()
    try {
      val totals = (0 until 12).map { i =>
        stream.addData(
          Event(tsm(i * 30), 1, "click", 1.0),
          Event(tsm(i * 30 + 5), 2, "view", 2.0))
        query.processAllAvailable()
        stateRows(query)
      }
      // 24 distinct (window, event_type) keys were fed; with a 10-minute
      // watermark over 5-minute windows the store must hold only the
      // un-finalized tail, not every window ever seen
      assert(totals.last <= 8, s"state grew unbounded: $totals")
      assert(totals.max <= 10, s"state peaked unbounded: $totals")
      // and eviction actually happened (rows were removed, not merely
      // never added): the second half never exceeds the first-half peak
      assert(totals.drop(6).max <= totals.take(6).max,
        s"state still growing after watermark passed: $totals")
    } finally query.stop()
  }

  test("state boundedness: sessionization state is O(open sessions), watermark-timed-out (q25 shape)") {
    import graft.SparkSuite.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val query = EventStream.sessionize(spark, stream.toDS())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("state_sess_out").start()
    try {
      // every round opens a NEW session per user (60-min spacing > the
      // 30-min gap); timed-out sessions must leave the store
      val totals = (0 until 12).map { i =>
        stream.addData(
          Event(tsm(i * 60), 1, "click", 1.0),
          Event(tsm(i * 60), 2, "view", 1.0))
        query.processAllAvailable()
        stateRows(query)
      }
      // 24 sessions were opened across the run; state must stay at the
      // open-session count (2 users x <= 2 in-flight sessions + the
      // one-batch watermark lag), not accumulate all 24
      assert(totals.last <= 6, s"session state grew unbounded: $totals")
      assert(totals.drop(6).max <= totals.take(6).max.max(6L),
        s"session state still growing after timeouts: $totals")
    } finally query.stop()
  }

  test("state boundedness: stream-stream join buffers only the watermark horizon (q113 shape)") {
    import graft.SparkSuite.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val views = MemoryStream[(Long, Timestamp, Long)]
    val joined = EventStream.streamingClickAttribution(
      clicks.toDF().toDF("event_id", "ts", "user_id"),
      views.toDF().toDF("event_id", "ts", "user_id"))
    val query = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("state_join_out").start()
    try {
      val totals = (0 until 12).map { i =>
        views.addData((i * 10L, tsm(i * 30), 1L))
        clicks.addData((i * 10L + 1, tsm(i * 30 + 10), 1L))
        query.processAllAvailable()
        stateRows(query)
      }
      // 24 rows entered the two join buffers; only the interval+watermark
      // horizon (~40 min = at most 2 rounds per side) may remain resident
      assert(totals.last <= 10, s"join state grew unbounded: $totals")
      assert(totals.drop(6).max <= totals.take(6).max.max(10L),
        s"join state still growing past the horizon: $totals")
    } finally query.stop()
  }

  test("q94 streamed session_window equals a batch >=-gap sessionization row-for-row") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val sfDir = "/root/testdata/sf0.001"
    val got = EventStream.sessionizeStreamed(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))
    // batch twin with session_window's split rule: a gap of EXACTLY the
    // 30-minute threshold starts a new session (half-open windows)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = graft.sources.Tables.events(spark, sfDir)
      .withColumn("prev_ms", lag(unix_millis(col("ts")), 1).over(w))
      .withColumn("new_s",
        when(col("prev_ms").isNull
          || unix_millis(col("ts")) - col("prev_ms") >= 1800000L, 1L).otherwise(0L))
      .withColumn("session_no", sum(col("new_s")).over(cum))
      .groupBy(col("user_id"), col("session_no"))
      .agg(count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_end"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))
    assert(got.sorted.toSeq == expected.sorted.toSeq,
      "streaming session_window diverged from the batch >=-gap rule")
    assert(got.nonEmpty)
  }

  test("q357 transformWithState fold equals the batch per-user cent totals") {
    import org.apache.spark.sql.functions._
    val sfDir = "/root/testdata/sf0.001"
    val got = EventStream.userStatsTwsStreamed(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = graft.sources.Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * lit(100) + lit(0.5)).cast("long")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.sorted.toSeq == expected.sorted.toSeq,
      "state-v2 running fold diverged from the batch aggregate")
    assert(got.nonEmpty)
    // the RocksDB provider conf must not leak into the session
    assert(spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass").isEmpty ||
      !spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        .contains("RocksDB"))
  }

  test("a failed drain rethrows and leaves no sink view, no active query, the shuffle width restored") {
    import org.apache.spark.sql.functions.{col, udf}
    val key = "spark.sql.shuffle.partitions"
    val width = spark.conf.get(key)
    val boom = udf { (u: Long) =>
      if (u >= 0L) throw new IllegalStateException("drain test: boom")
      u
    }
    val e = intercept[Exception] {
      EventStream.drain(spark, "fail", OutputMode.Append())(
        graft.sources.Tables.eventsStream(spark, sf).select(boom(col("user_id")).as("u")))(
        identity)
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(messages.exists(_.contains("drain test: boom")), s"unexpected failure: $e")
    val views = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_stream_"))
    assert(views.isEmpty, s"failed drain left its sink view: ${views.mkString(", ")}")
    assert(spark.streams.active.isEmpty)
    assert(spark.conf.get(key) == width)
  }
}
