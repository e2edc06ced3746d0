package graft.streaming

import graft.{SparkSuite, Tables}
import graft.functions.Num
import org.apache.spark.sql.functions._

/** Streaming plans replayed over the bounded events table must agree
  * with their batch twins (stream/batch unification is the point of
  * Structured Streaming). */
class StreamingSpec extends SparkSuite {

  /** Append one micro-batch of (event_id, user_id, event_type, ts_us)
    * rows to a drop folder, in the events schema (ts in nanos, like the
    * testdata). */
  private def appendEvents(dir: java.nio.file.Path,
      rows: Seq[(Long, Long, String, Long)]): Unit = {
    import spark.implicits._
    rows.toDF("event_id", "user_id", "event_type", "ts_us")
      .select(col("event_id"), col("user_id"), col("event_type"),
        lit(1.0).as("value"), lit("{}").as("props"),
        (col("ts_us") * 1000).as("ts"))
      .coalesce(1).write.mode("append").parquet(dir.toString)
  }

  /** File streams need a directory: stage the single events.parquet
    * into a temp drop-folder, as a real ingest pipeline would. */
  lazy val eventsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$Sf0001/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("windowedAgg stream result equals batch groupBy at completion") {
    val stream = EventStream.readEvents(spark, eventsDir)
    val got = EventStream.runToCompletion(spark,
        EventStream.windowedAgg(stream), "win_test")
      .select(col("hour_start"), col("event_type"), col("n_events"),
        Num.qround(col("sum_value"), 6).as("sum_value"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet

    val batch = Tables.events(spark, Sf0001)
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        Num.qround(sum("value"), 6).as("sum_value"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet

    assert(got === batch)
  }

  test("stateful sessionizeStream equals the batch sessionization") {
    val stream = EventStream.readEvents(spark, eventsDir)
    val got = EventStream.runToCompletion(spark,
        EventStream.sessionizeStream(stream), "sess_test",
        outputMode = "append")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.queries.EventQueries.sessionize.fn(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === batch)
    assert(got.nonEmpty)
  }

  test("stream-stream interval join equals the batch bucketized range join") {
    val signups = EventStream.readEvents(spark, eventsDir)
      .filter(col("event_type") === "signup")
    val follows = EventStream.readEvents(spark, eventsDir)
      .filter(col("event_type") =!= "signup")
    val got = EventStream.runToCompletion(spark,
        EventStream.intervalJoinStream(signups, follows,
          windowMinutes = 60), "ssjoin_test", outputMode = "append")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet

    val ev = Tables.events(spark, Sf0001)
    val batchPairs = graft.ops.RangeJoin.timeRangeJoin(
        ev.filter(col("event_type") === "signup")
          .select("event_id", "user_id", "ts"),
        ev.filter(col("event_type") =!= "signup")
          .withColumnRenamed("event_id", "r_event_id"),
        Seq("user_id"), "ts", "ts", 1L, 3600L * 1000 * 1000,
        Seq("r_event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet

    assert(got === batchPairs)
    assert(got.nonEmpty)
  }

  test("streamingDedup drops within-watermark repeats across micro-batches") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-stream")
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 12:00:00").getTime * 1000L
    def batch(rows: Seq[(Long, Long)]): Unit = // (event_id, ts_us)
      rows.toDF("event_id", "ts_us")
        .select(col("event_id"), lit(1L).as("user_id"),
          lit("click").as("event_type"), lit(1.0).as("value"),
          lit("{}").as("props"), (col("ts_us") * 1000).as("ts"))
        .coalesce(1).write.mode("append").parquet(dir.toString)

    batch(Seq((1L, t0), (2L, t0 + 1000000L), (1L, t0))) // dup inside batch
    val stream = EventStream.readEvents(spark, dir.toString)
    val q = EventStream.streamingDedup(stream, Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      batch(Seq((2L, t0 + 1000000L), (3L, t0 + 2000000L))) // cross-batch dup
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_test").select("event_id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L)) // each key exactly once
  }

  test("watermark drops events later than the allowed lateness") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // two drop-folder batches: batch 2 contains one on-time event and
    // one event 10 hours older than batch 1's max ts (beyond the
    // 2-hour watermark -> must be excluded from its window's count)
    val dir = java.nio.file.Files.createTempDirectory("graft-late")
    def writeBatch(name: String, rows: Seq[(Long, String, Long)]): Unit =
      appendEvents(dir, rows.map { case (id, t, ts) => (id, 1L, t, ts) })
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 12:00:00").getTime * 1000L
    val hour = 3600L * 1000000L

    writeBatch("b1", Seq((1L, "click", t0), (2L, "click", t0 + hour)))
    val stream = EventStream.readEvents(spark, dir.toString)
    val agg = EventStream.windowedAgg(stream)
    val q = agg.writeStream.format("memory").queryName("late_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable() // batch 1: watermark advances to t0+1h-2h
      writeBatch("b2", Seq(
        (3L, "click", t0 + hour + 1), // on time
        (4L, "click", t0 - 10 * hour))) // 10h late -> dropped
      q.processAllAvailable()
      writeBatch("b3", Seq((5L, "click", t0 + 9 * hour))) // push watermark
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("late_test")
      .select(col("hour_start"), col("n_events")).collect()
      .map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap
    val lateWindowMs = (t0 - 10 * hour) / 1000
    assert(!out.contains(lateWindowMs), s"late event produced a window: $out")
    // both on-time windows finalized with their counts
    assert(out(t0 / 1000) === 1L)
    assert(out((t0 + hour) / 1000) === 2L)
  }

  test("watermark EVICTS window state: state rows stay bounded as " +
      "event time advances") {
    // The 100-TB-of-stream contract: windowed state must be bounded by
    // the lateness horizon, not the stream's lifetime. Feed 12 hourly
    // batches through the 1h-window/2h-watermark agg and read the
    // state-store row count from each progress report: if eviction
    // works, live state is ~(lateness + 1 window) ≈ 3-4 windows at any
    // instant; if it leaks, it grows to all 12.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-evict")
    def writeBatch(rows: Seq[(Long, Long)]): Unit =
      appendEvents(dir, rows.map { case (id, ts) => (id, 1L, "click", ts) })
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00").getTime * 1000L
    val hour = 3600L * 1000000L
    writeBatch(Seq((0L, t0)))
    val q = EventStream.windowedAgg(EventStream.readEvents(spark, dir.toString))
      .writeStream.format("memory").queryName("evict_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      (1 until 12).foreach { i =>
        writeBatch(Seq((i.toLong, t0 + i * hour)))
        q.processAllAvailable()
      }
      val stateRows = q.recentProgress.toSeq
        .flatMap(_.stateOperators.map(_.numRowsTotal))
      assert(stateRows.nonEmpty)
      // bounded: never anywhere near the 12 windows the stream carried
      assert(stateRows.max <= 6,
        s"state not evicted: per-batch state rows = $stateRows")
      // and the evicted windows actually FINALIZED into the sink
      // (watermark ends at t0+10h: windows 0..9h closed)
      assert(spark.table("evict_test").count() >= 9L)
    } finally q.stop()
  }

  test("funnelStream carries stage state ACROSS micro-batches and " +
      "never counts out-of-order stages") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-funnel")
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00").getTime * 1000L
    // user 1: view in batch 1, click+purchase in batch 2 (state must
    // survive the batch boundary); user 2: click BEFORE any view —
    // the click must not advance the funnel
    appendEvents(dir, Seq((1L, 1L, "view", t0), (2L, 2L, "click", t0)))
    val q = EventStream.funnelStream(
        EventStream.readEvents(spark, dir.toString),
        Seq("view", "click", "purchase"))
      .writeStream.format("memory").queryName("funnel_state_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      appendEvents(dir, Seq((3L, 1L, "click", t0 + 1000L),
        (4L, 1L, "purchase", t0 + 2000L),
        (5L, 2L, "view", t0 + 1000L)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("funnel_state_test")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got === Set((1L, 1), (1L, 2), (1L, 3), (2L, 1)))
  }

  test("runningUserTotals matches batch per-user aggregation") {
    val stream = EventStream.readEvents(spark, eventsDir)
    val got = EventStream.runToCompletion(spark,
        EventStream.runningUserTotals(stream), "user_test")
      .select(col("user_id"), col("n_events"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Tables.events(spark, Sf0001)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === batch)
  }

  test("driver stream queries are rerunnable within one session " +
      "(fresh staging dir, sink name reusable after termination)") {
    for (name <- Seq("q_stream_window", "q_stream_session")) {
      val fn = graft.SparkEntry.queries(name)
      val first = fn(spark, Sf0001).count()
      val second = fn(spark, Sf0001).count()
      assert(first === second && first > 0, name)
    }
  }

  test("streaming curation chain equals the batch kernel chain") {
    // X62: StripHtml + SpanDedupStats (custom codegen kernels) inside
    // a streaming plan produce exactly the batch chain's output
    import org.apache.spark.sql.functions._
    val stream = graft.queries.TextQueries.streamCurate
      .fn(spark, Sf0001).collect()
    val batch = graft.Tables.documents(spark, Sf0001)
      .select(col("doc_id"),
        graft.functions.SpanFunctions.spanDedupStats(
          graft.functions.HtmlFunctions.stripHtml(
            when(col("doc_id") % 4 === 0,
              concat(lit("<html><head><style>p { color: red; }</style></head><body><p>"),
                col("text"),
                lit("</p><script>var x = 1 < 2;</script></body></html>")))
            .when(col("doc_id") % 4 === 1,
              concat(lit("Tom &amp; Jerry &lt;3 "), col("text"), lit(" <br/>")))
            .when(col("doc_id") % 4 === 2,
              concat(lit("<a href=\"http://x.y\">"), col("text"),
                lit("</a> &nbsp;&quot;quoted&quot;")))
            .otherwise(col("text"))), 3).as("s"))
      .select(col("doc_id"), col("s.n_tokens"), col("s.n_dup_windows"),
        col("s.cleaned_text"))
      .orderBy("doc_id").collect()
    assert(stream.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }

  test("session_window append mode: a session closes exactly when " +
      "the watermark reaches its end (boundary equality included)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-swin")
    def writeBatch(rows: Seq[(Long, Long)]): Unit =
      appendEvents(dir, rows.map { case (id, ts) => (id, 1L, "click", ts) })
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
      .getTime * 1000L
    val min30 = 1800L * 1000000L
    val h2 = 7200L * 1000000L
    writeBatch(Seq((1L, t0), (2L, t0 + min30 - 1L))) // merge: one session
    val agg = EventStream.sessionWindowAgg(
      EventStream.readEvents(spark, dir.toString))
    val q = agg.writeStream.format("memory").queryName("swin_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("swin_test").count() === 0L) // still open
      // advance the watermark to EXACTLY the session's end
      // (end = last event + 30min = t0 + 30m + 30m - 1us)
      val end = t0 + min30 - 1L + min30
      writeBatch(Seq((3L, end + h2)))
      writeBatch(Seq((4L, end + h2 + 1000L))) // batch runs WITH new wm
      q.processAllAvailable()
      val rows = spark.table("swin_test")
        .select(col("user_id"), unix_micros(col("session_start")),
          unix_micros(col("session_end")), col("n_events"))
        .collect().map(_.toSeq)
      // the merged 2-event session emitted at end == wm; the
      // watermark-carrier session (events 3/4) still open, absent
      assert(rows.toSeq === Seq(Seq(1L, t0, end, 2L)))
    } finally q.stop()
  }

  test("full-outer interval join: the RIGHT side null-pads at its own " +
      "eviction point (X165)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-fjoin")
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00").getTime * 1000L
    val min = 60L * 1000000L
    // click 1 matches purchase 100; purchase 101 (user 3) never
    // matches — its null verdict waits for wm > its OWN event time
    appendEvents(dir, Seq((1L, 1L, "click", t0), (100L, 1L, "purchase",
      t0 + 10 * min), (101L, 3L, "purchase", t0 + 5 * min)))
    val ev = EventStream.readEvents(spark, dir.toString)
    val joined = EventStream.intervalJoinFullStream(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "purchase"),
      windowMinutes = 60)
    val q = joined.writeStream.format("memory").queryName("fjoin_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      def rightNulls() = spark.table("fjoin_test")
        .filter(col("l_event_id").isNull)
        .select("r_event_id").collect().map(_.getLong(0)).toSet
      assert(spark.table("fjoin_test")
        .filter(col("r_event_id") === 100L).count() === 1L)
      assert(rightNulls() === Set.empty[Long])
      // advance both sides to t0+6h, then one more batch so eviction
      // runs WITH the advanced watermark (t0+4h > purchase 101's time)
      appendEvents(dir, Seq((3L, 7L, "click", t0 + 360 * min),
        (102L, 6L, "purchase", t0 + 360 * min)))
      appendEvents(dir, Seq((4L, 7L, "click", t0 + 361 * min),
        (103L, 6L, "purchase", t0 + 361 * min)))
      q.processAllAvailable()
      // purchase 101 null-emitted exactly once; matched purchase 100
      // never; purchases 102/103 (newer than the watermark) still in
      // state; the unmatched click 1's... (click 1 MATCHED, no null)
      assert(rightNulls() === Set(101L))
      assert(spark.table("fjoin_test")
        .filter(col("r_event_id") === 101L).count() === 1L)
      // user_id carried on right-null rows (coalesced across sides)
      assert(spark.table("fjoin_test")
        .filter(col("r_event_id") === 101L)
        .head().getAs[Long]("user_id") === 3L)
    } finally q.stop()
  }

  test("outer interval join: null-padded rows appear ONLY after the " +
      "watermark passes the join horizon (r11 #4)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ojoin")
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00").getTime * 1000L
    val min = 60L * 1000000L
    // batch 1: click 1 matches purchase 100 (+10 min); click 2 never
    // matches — its null verdict must NOT appear until the watermark
    // proves it final
    appendEvents(dir, Seq((1L, 1L, "click", t0), (2L, 2L, "click", t0),
      (100L, 1L, "purchase", t0 + 10 * min)))
    val ev = EventStream.readEvents(spark, dir.toString)
    val joined = EventStream.intervalJoinOuterStream(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "purchase"),
      windowMinutes = 60)
    val q = joined.writeStream.format("memory").queryName("ojoin_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      def nulls() = spark.table("ojoin_test")
        .filter(col("r_event_id").isNull)
        .select("l_event_id").collect().map(_.getLong(0)).toSet
      // inner match emitted on arrival; watermark still below t0 →
      // click 2's fate is undecided, NO null rows yet
      assert(spark.table("ojoin_test").filter(col("r_event_id") === 100L)
        .count() === 1L)
      assert(nulls() === Set.empty[Long])
      // batch 2 advances BOTH sides' event time to t0+6h (the global
      // watermark is the min of the two sides) → watermark t0+4h at
      // the next batch; click 2's horizon t0+60min is now provably
      // matchless
      appendEvents(dir, Seq((3L, 7L, "click", t0 + 360 * min),
        (101L, 6L, "purchase", t0 + 360 * min)))
      q.processAllAvailable()
      // batch 3 (same event times — no further watermark motion)
      // guarantees a batch runs WITH the advanced watermark, which is
      // when eviction emits
      appendEvents(dir, Seq((4L, 7L, "click", t0 + 361 * min),
        (102L, 6L, "purchase", t0 + 361 * min)))
      q.processAllAvailable()
      // click 2 null-emitted exactly once; clicks 3/4 (newer than
      // watermark − window) are still in state, NOT emitted; click 1
      // matched, never null-padded
      assert(nulls() === Set(2L))
      assert(spark.table("ojoin_test")
        .filter(col("l_event_id") === 2L).count() === 1L)
    } finally q.stop()
  }
}
