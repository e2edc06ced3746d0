package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY §2k: the reference is purely
  * batch — this is the extension path for the same aggregations over
  * unbounded event streams).
  *
  * The batch forms live in queries.EventQueries; StreamingSpec asserts
  * stream/batch equivalence by replaying the events table through
  * these plans with a memory sink. At scale the source becomes
  * Kafka/files-on-arrival; the plans are source-agnostic.
  */
object EventStream {

  /** events schema as the streaming reader needs it declared up front.
    * The `ts` field here is a placeholder — [[readEvents]] probes the
    * actual parquet encoding (raw INT64 nanos vs timestamp[us] NTZ;
    * see Tables.events) and substitutes the real type before the
    * stream starts, since a declared type that disagrees with the file
    * makes the vectorized reader silently reinterpret the raw values. */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // replaced per-file by readEvents
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** documents schema for the streaming curation chain (X62) — the
    * corpus arrives as a stream of crawled documents. */
  val documentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-based document stream (same drop-folder contract as
    * [[readEvents]]). */
  def readDocuments(spark: SparkSession, docsDir: String): DataFrame =
    spark.readStream.schema(documentSchema).parquet(docsDir)

  /** File-based stream over a DIRECTORY of events parquet files
    * (Spark's file stream source requires a directory — point it at a
    * drop-folder; new files are picked up per micro-batch). */
  def readEvents(spark: SparkSession, eventsDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // One bounded driver-side footer read: file streams require a
    // user-declared schema, so probe the directory's actual ts
    // encoding with a static load (schema only — no data scan) and
    // declare what the files really contain. Then normalize to
    // session-zoned TimestampType exactly as Tables.events does.
    val tsType = spark.read.parquet(eventsDir).schema("ts").dataType
    val schema = StructType(eventSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
    val raw = spark.readStream.schema(schema).parquet(eventsDir)
    tsType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Tumbling-window count/sum with a watermark: the streaming twin of
    * q_event_window (1-hour windows; late data beyond 2h dropped). */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming exact dedup: drop repeats of `keyCols` arriving within
    * the watermark horizon (the streaming twin of Dedup.exact — state
    * for keys older than the watermark is expired, so memory is
    * bounded by the dedup horizon, not the stream's lifetime). */
  def streamingDedup(events: DataFrame, keyCols: Seq[String],
      lateness: String = "2 hours"): DataFrame =
    events.withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** NATIVE session-window aggregation (the built-in merging-window
    * operator, complementing the custom-state [[sessionizeStream]]:
    * same 30-minute-gap semantics, but state, merging and eviction
    * are Spark's session_window implementation, not hand-rolled).
    * Each user's events within `gapMinutes` of each other merge into
    * one session; the window END is last event time + gap. In append
    * mode a session is emitted exactly when the watermark passes its
    * end — pinned by probe: `session_end <= watermark` closes
    * (boundary equality INCLUDED); sessions newer than that are still
    * in state when a bounded replay ends and are NOT emitted (the
    * X145 eviction-contract discipline). */
  def sessionWindowAgg(events: DataFrame, gapMinutes: Int = 30,
      lateness: String = "2 hours"): DataFrame =
    events.withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), s"$gapMinutes minutes"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** Per-user running value total — stateful agg (update mode). */
  def runningUserTotals(events: DataFrame): DataFrame =
    events.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))

  /** Stateful streaming EWMA anomaly (X179 — the streaming member of
    * the X110 control-chart family, in the RECURSIVE form streaming
    * state makes natural: e₁ = x₁, e = (1−λ)·e + λ·x over per-type
    * daily counts; each day's count is graded against the ewma BEFORE
    * it, so the alarm never includes the spike it is judging).
    * State is one (lastDay, ewma) pair per event type — constant
    * memory per key at any stream length. Days inside a micro-batch
    * are counted and folded in day order; day boundaries must align
    * with batch boundaries (trivially true under the bounded
    * AvailableNow replay — the sessionizeStream in-order caveat
    * verbatim). The fold's IEEE op order is fixed ((1−λ)·e + λ·x,
    * both factors interpolated from the same Scala doubles the oracle
    * SQL embeds), so the batch twin's list_reduce replay is
    * bit-identical and rows hash RAW. */
  def ewmaStream(events: DataFrame, lambda: Double): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val oneML = 1.0 - lambda
    events.select(col("event_type"), unix_micros(col("ts")).as("us"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (typ: String, it: Iterator[(String, Long)],
         state: GroupState[(Long, Double)]) =>
          val counts = it.map(_._2 / 86400000000L).toSeq
            .groupBy(identity).view.mapValues(_.size.toLong)
            .toSeq.sortBy(_._1)
          var st = state.getOption
          val out = counts.map { case (day, x) =>
            val prev = st.map(_._2)
            val e = prev match {
              case None    => x.toDouble
              case Some(p) => oneML * p + lambda * x.toDouble
            }
            val ratio = prev.map(p => x.toDouble / p)
            st = Some((day, e))
            (typ, day, x, e, ratio, ratio.map(_ > 1.5))
          }
          st.foreach(state.update)
          out.iterator
      }
      .toDF("event_type", "epoch_day", "x", "ewma", "ratio", "spike")
      // epoch day → date (session is pinned UTC, so the floor matches
      // CAST(ts AS DATE) on both engines)
      .select(col("event_type"),
        to_date(timestamp_seconds(col("epoch_day") * 86400L)).as("day"),
        col("x"), col("ewma"), col("ratio"), col("spike"))
  }

  /** Stateful sessionization: per-user session ids with an inactivity
    * gap, carried as explicit per-group state (`flatMapGroupsWithState`
    * — the custom-state path for logic windows/watermarks can't
    * express). Batch twin: queries.EventQueries.sessionize; equality on
    * bounded replay asserted in StreamingSpec.
    *
    * State is one (lastTs, sessionId) pair per user — constant memory
    * per key at any scale. Events inside a micro-batch are ordered
    * (ts, event_id) before the gap scan, matching the batch window
    * ordering.
    *
    * Cross-batch late data: an event older than the state's lastTs
    * joins the OPEN session and lastTs stays monotone (no retroactive
    * re-segmentation — the standard streaming trade-off; emitted
    * assignments are append-only and can't be revised). Equivalence
    * with the batch twin therefore holds for in-order delivery;
    * reprocessing historical data belongs to the batch form. */
  def sessionizeStream(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val gapMicros = gapMinutes * 60L * 1000000L
    events.select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Long, Long)],
         state: GroupState[(Long, Long)]) =>
          val evs = it.toSeq.sortBy(e => (e._3, e._1))
          var (lastTs, sid) = state.getOption.getOrElse((Long.MinValue, 0L))
          val out = evs.map { case (eventId, _, ts) =>
            val newSession = sid == 0L || ts - lastTs > gapMicros
            if (newSession) sid += 1
            lastTs = math.max(lastTs, ts) // monotone under late data
            (eventId, uid, sid)
          }
          state.update((lastTs, sid))
          out.iterator
      }
      .toDF("event_id", "user_id", "session_id")
  }

  /** Stateful funnel progression: per-user ordered-stage state machine
    * (`flatMapGroupsWithState` — the custom-state path, like
    * [[sessionizeStream]]). A user advances from stage k to k+1 on the
    * first stage-(k+1) event at-or-after their stage-k entry time;
    * each advance emits one (user_id, stage) transition row
    * (append-only — a stage is reached at most once per user, so
    * downstream per-stage counts need no dedup).
    *
    * State is one (stage, entryTs) pair per user — constant memory
    * per key at any scale. Events inside a micro-batch are ordered
    * (ts, event_id) before the scan, matching the batch twin's
    * min-timestamp semantics; equivalence with queries.EventQueries
    * .eventFunnel holds for in-order delivery (the sessionizeStream
    * late-data caveat applies verbatim). */
  /** The STATEFUL streaming twin of the X115 transition matrix:
    * `flatMapGroupsWithState` carries one (tsUs, eventId, eventType)
    * triple — the user's LAST event — and emits one (from, to) pair
    * per arriving event after the first. Constant state per key at
    * any stream scale; pairs are append-only so the downstream matrix
    * is a plain streaming-friendly keyed count. Events inside a
    * micro-batch are ordered (ts, event_id) before the scan, so under
    * in-order delivery (Trigger.AvailableNow over a bounded table)
    * the pair multiset equals the batch lag() form exactly; a
    * late-arriving event appends its pair in ARRIVAL order — the
    * standard stream-side divergence, recorded not hidden (the
    * sessionizeStream caveat verbatim). */
  def transitionStream(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[(Long, Long, String, Long)],
         state: GroupState[(Long, Long, String)]) =>
          val evs = it.toSeq.sortBy(e => (e._4, e._1))
          var prev: Option[(Long, Long, String)] = state.getOption
          val out = Seq.newBuilder[(String, String)]
          evs.foreach { case (eid, _, typ, ts) =>
            prev.foreach { case (_, _, ptyp) => out += ((ptyp, typ)) }
            prev = Some((ts, eid, typ))
          }
          prev.foreach(state.update)
          out.result().iterator
      }
      .toDF("from_type", "to_type")
  }

  def funnelStream(events: DataFrame,
      stages: Seq[String]): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Long, String, Long)],
         state: GroupState[(Int, Long)]) =>
          val evs = it.toSeq.sortBy(e => (e._4, e._1))
          var (stage, entryTs) =
            state.getOption.getOrElse((0, Long.MinValue))
          val out = Seq.newBuilder[(Long, Int)]
          evs.foreach { case (_, _, typ, ts) =>
            if (stage < stages.length && typ == stages(stage) &&
                ts >= entryTs) {
              stage += 1
              entryTs = ts
              out += ((uid, stage))
            }
          }
          state.update((stage, entryTs))
          out.result().iterator
      }
      .toDF("user_id", "stage")
  }

  /** Stream-stream interval join — the streaming twin of
    * ops.RangeJoin.timeRangeJoin: right events matched to left events
    * on user_id within (left.ts, left.ts + windowMinutes]. Both sides
    * carry event-time watermarks and the join condition bounds their
    * time distance, so Spark expires join state once the watermark
    * clears the window — state is O(window of data), not O(stream
    * lifetime). Inner join: matches emit as soon as both sides arrive;
    * the watermark only governs state cleanup. `user_id` coalesces
    * across sides, so a join type that null-pads the left side still
    * emits each row's key. */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
      windowMinutes: Int = 60, lateness: String = "2 hours",
      joinType: String = "inner"): DataFrame = {
    val l = left.select(col("event_id").as("l_event_id"),
        col("user_id"), col("ts").as("l_ts"))
      .withWatermark("l_ts", lateness)
    val r = right.select(col("event_id").as("r_event_id"),
        col("user_id").as("r_user_id"), col("ts").as("r_ts"),
        col("value").as("r_value"))
      .withWatermark("r_ts", lateness)
    l.join(r,
        col("user_id") === col("r_user_id") &&
          col("r_ts") > col("l_ts") &&
          col("r_ts") <= col("l_ts") +
            expr(s"INTERVAL $windowMinutes MINUTES"),
        joinType)
      .select(col("l_event_id"),
        coalesce(col("user_id"), col("r_user_id")).as("user_id"),
        col("r_event_id"), col("r_value"))
  }

  /** Stream-stream LEFT OUTER interval join (VERDICT r11 #4 — the
    * watermark-driven null-emission semantics class): same join as
    * [[intervalJoinStream]], but a left event with NO match is
    * null-padded and emitted ONCE — at state eviction, i.e. when the
    * global watermark proves no future right row can still match it.
    *
    * The emission contract (pinned by probe and oracle): the global
    * watermark is the MIN over both sides' watermark nodes
    * (`min(max(l_ts), max(r_ts)) − lateness` after bounded replay,
    * the default multipleWatermarkPolicy); an unmatched left row is
    * evicted and emitted exactly when `l_ts + window < watermark` —
    * any matching right row would have `r_ts ≤ l_ts + window <
    * watermark` and be dropped as late, so the null verdict is final.
    * Left rows NEWER than `watermark − window` remain in state,
    * un-emitted, when a bounded replay ends — the honest streaming
    * trade-off (an unbounded run emits them as the watermark passes);
    * the batch-twin oracle reproduces exactly the emitted set. Inner
    * matches emit immediately, as before — the watermark only governs
    * the null side. */
  def intervalJoinOuterStream(left: DataFrame, right: DataFrame,
      windowMinutes: Int = 60, lateness: String = "2 hours"): DataFrame =
    intervalJoinStream(left, right, windowMinutes, lateness,
      joinType = "left_outer")

  /** Stream-stream FULL OUTER interval join — BOTH sides' unmatched
    * rows null-pad at their own eviction points (completing the
    * [[intervalJoinOuterStream]] family): an unmatched LEFT row emits
    * when `l_ts + window < watermark` (its match horizon closed); an
    * unmatched RIGHT row emits when `r_ts < watermark` (any matching
    * left row would have `l_ts < r_ts < watermark` and be
    * late-dropped — probed and pinned). Rows newer than
    * their eviction bound stay in state at bounded-replay end,
    * un-emitted — the X145 contract, applied to both sides. */
  def intervalJoinFullStream(left: DataFrame, right: DataFrame,
      windowMinutes: Int = 60, lateness: String = "2 hours"): DataFrame =
    intervalJoinStream(left, right, windowMinutes, lateness,
      joinType = "full_outer")

  /** Stream-STATIC enrichment join (the third streaming join class
    * next to stream-stream X43/X145: the streaming fact side joined
    * to a bounded dimension — the classic per-event enrichment). No
    * join state at all: the static side is (re)planned per
    * micro-batch — at production scale it broadcasts when small or
    * shuffles batch-side when not, exactly as in batch. LEFT join
    * keeps unmatched events (the dimension-miss rows an enrichment
    * must surface, not drop). */
  /** CEP-style A→B-within-window pattern detection (X221 streaming
    * twin): per user, match each `thenType` event to the MOST RECENT
    * `firstType` event strictly before it and within `windowMinutes`.
    * State is ONE long per user (the last A timestamp) — constant
    * memory per key; emissions are append-only match rows. Both
    * inequalities are STRICT so a same-timestamp A/B pair resolves
    * identically to the batch twin's `a.us < b.us` predicate
    * regardless of intra-timestamp arrival order. Events inside a
    * micro-batch are ordered (ts, event_id) before the scan (the
    * sessionizeStream in-order discipline; cross-batch late A's
    * can't retro-match already-emitted B's — the standard streaming
    * trade-off, recorded). */
  def patternStream(events: DataFrame, firstType: String,
      thenType: String, windowMinutes: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val win = windowMinutes * 60L * 1000000L
    events.select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .where(col("event_type").isin(firstType, thenType))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Long, String, Long)],
         state: GroupState[Long]) =>
          val evs = it.toSeq.sortBy(e => (e._4, e._1))
          var lastA = state.getOption.getOrElse(Long.MinValue)
          val out = Seq.newBuilder[(Long, Long, Long, Long)]
          evs.foreach { case (eid, _, typ, ts) =>
            if (typ == firstType) lastA = math.max(lastA, ts)
            else if (lastA < ts && lastA > ts - win)
              out += ((eid, uid, lastA, ts))
          }
          state.update(lastA)
          out.result().iterator
      }
      .toDF("event_id", "user_id", "click_us", "purchase_us")
  }

  /** STREAMING SCD2 build (X259 — the X210 dimension-history build as
    * a live per-key state machine, the shape a warehouse CDC pipeline
    * actually ships): `flatMapGroupsWithState` carries ONE
    * (currentType, validFromUs, version) triple per user and emits an
    * interval row the moment a type change CLOSES it — append-only,
    * so downstream sinks are insert-only. The still-OPEN (is_current)
    * interval lives in the state store, never in the output: exactly
    * the closed/open split of an incremental SCD2 merge, and why the
    * batch twin's oracle is filtered to `valid_to IS NOT NULL`.
    * Events inside a micro-batch are ordered (ts, event_id) before
    * the scan (the sessionizeStream in-order discipline; a cross-batch
    * late event cannot retro-split an already-emitted interval — the
    * standard streaming trade-off, recorded). State is constant per
    * user regardless of stream length. */
  def scd2Stream(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Long, String, Long)],
         state: GroupState[(String, Long, Long)]) =>
          val evs = it.toSeq.sortBy(e => (e._4, e._1))
          var cur = state.getOption
          val out = Seq.newBuilder[(Long, Long, String, Long, Long)]
          evs.foreach { case (_, _, typ, ts) =>
            cur match {
              case None => cur = Some((typ, ts, 1L))
              case Some((t, from, v)) if t != typ =>
                out += ((uid, v, t, from, ts))
                cur = Some((typ, ts, v + 1L))
              case _ => () // same type: the open interval continues
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
      .toDF("user_id", "version", "event_type", "valid_from_us",
        "valid_to_us")
  }

  def enrichStream(events: DataFrame, dim: DataFrame,
      eventKey: String, dimKey: String,
      payload: Seq[String]): DataFrame =
    events.join(
      dim.select((col(dimKey).as(eventKey) +: payload.map(col)): _*),
      Seq(eventKey), "left")

  /** Run a streaming plan to completion against a bounded source and
    * return the final result table (memory sink; used by tests and by
    * batch/stream parity checks). */
  def runToCompletion(spark: SparkSession, plan: DataFrame,
      queryName: String, outputMode: String = "complete"): DataFrame = {
    val q = plan.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(queryName)
  }

  /** Run a streaming plan with `Trigger.AvailableNow` — process every
    * file currently in the source, then terminate on its own (the
    * scheduled catch-up pattern over a drop-folder) — into a memory
    * sink and return the result table. */
  /** `statePartitions` > 0 pins the stateful operators' partition
    * count for this stream (state-store instances = shuffle
    * partitions, fixed at the query's first run): a stream whose state
    * volume is small should not pay 32 store initializations per
    * stateful op. At production volume the same knob goes UP — it is
    * sizing state stores to state volume, in either direction. Output
    * is partitioning-independent either way. */
  def runAvailableNow(spark: SparkSession, plan: DataFrame,
      queryName: String, outputMode: String = "complete",
      statePartitions: Int = 0): DataFrame = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    if (statePartitions > 0) spark.conf.set(key, statePartitions.toString)
    try {
      val q = plan.writeStream
        .format("memory")
        .queryName(queryName)
        .outputMode(outputMode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally {
      if (statePartitions > 0) spark.conf.set(key, prev)
    }
    spark.table(queryName)
  }

  /** Stage a single parquet file behind a fresh directory (Spark's
    * file stream source lists a directory, the drop-folder model;
    * a symlink stands in for the "file arrived" copy). */
  def stageDir(file: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-src")
    val src = java.nio.file.Paths.get(file).toAbsolutePath
    if (java.nio.file.Files.isDirectory(src)) {
      // multi-file parquet dataset (the sf1 synthesized tables): stage
      // each part file flat — the file stream source lists one level
      // and would otherwise see only an opaque subdirectory
      val it = java.nio.file.Files.list(src).iterator()
      var i = 0
      while (it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.endsWith(".parquet")) {
          java.nio.file.Files.createSymbolicLink(
            dir.resolve(f"part-$i%05d.parquet"), p)
          i += 1
        }
      }
      require(i > 0, s"stageDir: no parquet parts under $src")
    } else {
      java.nio.file.Files.createSymbolicLink(
        dir.resolve(src.getFileName), src)
    }
    dir.toString
  }
}
