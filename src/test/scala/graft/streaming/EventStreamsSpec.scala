package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class EventStreamsSpec extends SparkSpec {
  import spark.implicits._
  import EventStreams._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("hourlyStats streams incrementally and matches its own batch run") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = hourlyStats(input.toDF(), "2 hours")
      .writeStream.format("memory").queryName("hourly_out")
      .outputMode("update").start()
    try {
      val batch1 = Seq(
        Event(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
        Event(2, ts("2024-01-01 10:45:00"), 2, "click", 2.0),
        Event(3, ts("2024-01-01 11:10:00"), 1, "view", 5.0))
      input.addData(batch1: _*)
      q.processAllAvailable()
      // late-but-within-watermark event lands in the 10:00 window
      input.addData(Event(4, ts("2024-01-01 10:59:00"), 3, "click", 4.0))
      q.processAllAvailable()

      val streamed = spark.table("hourly_out")
        .groupBy("hour_start", "event_type")
        .agg(max("n").as("n"), max("sum_value").as("sum_value")) // latest update wins
      val clickRow = streamed
        .filter($"hour_start" === ts("2024-01-01 10:00:00") && $"event_type" === "click")
        .select("n", "sum_value").as[(Long, Double)].collect()(0)
      assert(clickRow == ((3L, 7.0)))

      // batch/stream parity: same expression over the same rows as a static DF
      val batchOut = hourlyStats(
        (batch1 :+ Event(4, ts("2024-01-01 10:59:00"), 3, "click", 4.0)).toDF())
        .filter($"hour_start" === ts("2024-01-01 10:00:00") && $"event_type" === "click")
        .select("n", "sum_value").as[(Long, Double)].collect()(0)
      assert(batchOut == clickRow)
    } finally q.stop()
  }

  test("slidingStats: overlapping windows accumulate across micro-batches, match batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = slidingStats(input.toDF())
      .writeStream.format("memory").queryName("sliding_out")
      .outputMode("update").start()
    val fixture = Seq(
      Event(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 11:10:00"), 2, "click", 2.0),
      Event(3, ts("2024-01-01 12:20:00"), 1, "view", 4.0))
    try {
      input.addData(fixture.take(2): _*); q.processAllAvailable()
      input.addData(fixture.drop(2): _*); q.processAllAvailable()
      val streamed = spark.table("sliding_out")
        .groupBy("win_start")
        .agg(max("n").as("n"), max("sum_value").as("sum_value")) // latest update wins
        .as[(java.sql.Timestamp, Long, Double)].collect().toSet
      // every event lands in 3 windows: [10:00,13:00) sees all three,
      // [11:00,14:00) sees events 2+3, [12:00,15:00) only event 3
      assert(streamed.contains((ts("2024-01-01 10:00:00"), 3L, 7.0)))
      assert(streamed.contains((ts("2024-01-01 11:00:00"), 2L, 6.0)))
      assert(streamed.contains((ts("2024-01-01 12:00:00"), 1L, 4.0)))
      // batch/stream parity: the same expression over the same rows, batch mode
      val batch = slidingStats(fixture.toDF())
        .as[(java.sql.Timestamp, Long, Double)].collect().toSet
      assert(streamed == batch,
        s"stream/batch sliding stats diverged:\n stream=$streamed\n batch=$batch")
    } finally q.stop()
  }

  test("stream-static enrichment joins each micro-batch against the dimension") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("uid", "tier")
    val input = MemoryStream[Event]
    val q = enrich(input.toDF(), dim, "user_id", "uid")
      .select("event_id", "tier")
      .writeStream.format("memory").queryName("enriched_out")
      .outputMode("append").start()
    try {
      input.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Event(2, ts("2024-01-01 10:01:00"), 9, "click", 1.0)) // unknown user
      q.processAllAvailable()
      val out = spark.table("enriched_out").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(out(1L) == Some("gold"))
      assert(out(2L) == None) // left join keeps unmatched stream rows
    } finally q.stop()
  }

  test("file-source streaming: hourlyStats over a parquet directory, AvailableNow") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_src").toString
    val batch = Seq(
      Event(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 10:45:00"), 2, "click", 2.0),
      Event(3, ts("2024-01-01 11:10:00"), 1, "view", 5.0))
    batch.toDF().write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(batch.toDF().schema).parquet(dir)
    val q = hourlyStats(stream, "2 hours")
      .writeStream.format("memory").queryName("file_hourly_out")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(60000)
      val out = spark.table("file_hourly_out")
        .filter($"hour_start" === ts("2024-01-01 10:00:00") && $"event_type" === "click")
        .select("n", "sum_value").as[(Long, Double)].collect()
      assert(out.toSeq == Seq((2L, 3.0)))
    } finally q.stop()
  }

  test("sessionize closes a session after the gap and keeps the open one in state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = sessionize(spark, input.toDS(), gapMs = 30 * 60 * 1000)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    try {
      input.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Event(2, ts("2024-01-01 10:10:00"), 1, "view", 1.0))
      q.processAllAvailable()
      // 2 hours later: first session must close with 2 events
      input.addData(Event(3, ts("2024-01-01 12:30:00"), 1, "click", 1.0))
      q.processAllAvailable()
      val closed = spark.table("sessions_out").as[SessionUpdate].collect()
      assert(closed.length == 1)
      assert(closed(0).n_events == 2)
      assert(closed(0).session_end == ts("2024-01-01 10:10:00"))
    } finally q.stop()
  }

  test("sessionize over replayed micro-batches equals the w4 batch sessionization") {
    implicit val sqlCtx = spark.sqlContext
    val gapMs = 30 * 60 * 1000L
    // 3 users, 5 sessions: multi-event, gap-split, singleton
    val fixture = Seq(
      Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 10:10:00"), 1, "view", 1.0),
      Event(3, ts("2024-01-01 11:00:00"), 1, "click", 1.0), // >30 min gap -> new session
      Event(4, ts("2024-01-01 10:05:00"), 2, "click", 1.0),
      Event(5, ts("2024-01-01 10:50:00"), 2, "view", 1.0), // >30 min gap -> new session
      Event(6, ts("2024-01-01 11:05:00"), 2, "click", 1.0), // same session as 5
      Event(7, ts("2024-01-01 10:20:00"), 3, "click", 1.0))
    // one far-future flush event per user forces every REAL session closed
    // (flatMapGroupsWithState NoTimeout only emits a session when a later
    // event arrives past the gap; the flush sessions themselves stay open in
    // state and are excluded from the comparison)
    val flush = Seq(1L, 2L, 3L).map(u =>
      Event(100 + u, ts("2024-01-02 00:00:00"), u, "flush", 0.0))

    val input = MemoryStream[Event]
    val q = sessionize(spark, input.toDS(), gapMs)
      .writeStream.format("memory").queryName("sessions_parity_out")
      .outputMode("append").start()
    try {
      // replay in event-time-ordered micro-batches (the gap-session contract)
      val ordered = fixture.sortBy(_.ts.getTime)
      input.addData(ordered.take(3): _*); q.processAllAvailable()
      input.addData(ordered.drop(3): _*); q.processAllAvailable()
      input.addData(flush: _*); q.processAllAvailable()

      val streamed = spark.table("sessions_parity_out").as[SessionUpdate].collect()
        .map(s => (s.user_id, s.session_start, s.session_end, s.n_events)).toSet

      // the w4 batch formulation (EtlQueries w4_sessionize) over the same rows
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
      val run = w.rowsBetween(Long.MinValue, 0)
      val batch = fixture.toDF()
        .withColumn("new_s",
          when(lag($"ts", 1).over(w).isNull ||
            unix_micros($"ts") - unix_micros(lag($"ts", 1).over(w)) > gapMs * 1000,
            1L).otherwise(0L))
        .withColumn("session_id", sum($"new_s").over(run))
        .groupBy($"user_id", $"session_id")
        .agg(count(lit(1)).as("n_events"),
          min($"ts").as("session_start"), max($"ts").as("session_end"))
        .select($"user_id", $"session_start", $"session_end", $"n_events")
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet

      assert(streamed == batch,
        s"stream/batch sessionize diverged:\n stream=$streamed\n batch=$batch")
    } finally q.stop()
  }

  test("ohlcStats: min_by/max_by fold across micro-batches, equal the ts3 batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = ohlcStats(input.toDF(), "2 hours")
      .writeStream.format("memory").queryName("ohlc_out")
      .outputMode("update").start()
    try {
      // batch 1 sets an open/high; batch 2 delivers an EARLIER event in
      // the same bar (late data within the watermark) that must retake
      // `open`, plus a later close and a new low
      val b1 = Seq(
        Event(10, ts("2024-01-01 10:20:00"), 1, "click", 5.0),
        Event(11, ts("2024-01-01 10:30:00"), 2, "click", 9.0))
      val b2 = Seq(
        Event(12, ts("2024-01-01 10:05:00"), 3, "click", 2.0), // late open
        Event(13, ts("2024-01-01 10:50:00"), 4, "click", 1.0)) // close + low
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("ohlc_out")
        .filter($"hour_start" === ts("2024-01-01 10:00:00"))
        .orderBy($"n".desc).limit(1) // latest update has the full count
        .select("open", "close", "low", "high", "n")
        .as[(Double, Double, Double, Double, Long)].collect()(0)
      assert(streamed == ((2.0, 1.0, 1.0, 9.0, 4L)))
      // parity with the shared batch operator over the same rows
      val batch = graft.operators.EventOps.ohlcBars(
          (b1 ++ b2).toDF(), "event_type", "ts", "event_id", "value")
        .select("open", "close", "low", "high", "n")
        .as[(Double, Double, Double, Double, Long)].collect()(0)
      assert(batch == streamed)
    } finally q.stop()
  }

  test("funnelIngestBatch: prior resume across batches; retry rewrites identical state") {
    val path = java.nio.file.Files.createTempDirectory("graft_funnel")
      .toString + "/state"
    val steps = Seq("view", "click", "purchase")
    val b0 = Seq(
      Event(1, ts("2024-01-01 10:00:00"), 1, "view", 1.0),
      Event(2, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Event(10, ts("2024-01-01 10:00:00"), 2, "view", 1.0)).toDF()
    val b1 = Seq(
      Event(3, ts("2024-01-01 10:30:00"), 1, "purchase", 1.0),
      Event(11, ts("2024-01-01 10:31:00"), 2, "click", 1.0)).toDF()
    funnelIngestBatch(b0, 0L, path, steps)
    funnelIngestBatch(b1, 1L, path, steps)
    val before = committedFunnelState(spark, path, Long.MaxValue, steps)
      .collect().map(_.toString).sorted.toSeq
    funnelIngestBatch(b1, 1L, path, steps) // injected retry
    val after = committedFunnelState(spark, path, Long.MaxValue, steps)
      .collect().map(_.toString).sorted.toSeq
    assert(before == after, "retry must rewrite identical state")
    // u1 completes across batches (purchase resumes from the committed
    // chain); u2 reaches click in batch 1
    val served = committedFunnelState(spark, path, Long.MaxValue, steps)
      .select("user_id", "steps_reached").as[(Long, Long)].collect().toMap
    assert(served == Map(1L -> 3L, 2L -> 2L))
  }

  test("funnelUpdates: chained state advances across micro-batches, equals the w11 batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click", "purchase")
    // u1 completes across two batches; u2 purchases BEFORE viewing (stuck
    // at click); u3 views only; u4's click precedes its view (stuck at
    // view); u5 has a click at the SAME ts as its view (strict >, no
    // advance)
    val batch1 = Seq(
      Event(1, ts("2024-01-01 10:00:00"), 1, "view", 1.0),
      Event(2, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Event(10, ts("2024-01-01 10:00:00"), 2, "purchase", 1.0),
      Event(11, ts("2024-01-01 10:03:00"), 2, "view", 1.0),
      Event(20, ts("2024-01-01 10:01:00"), 3, "view", 1.0),
      Event(30, ts("2024-01-01 10:02:00"), 4, "click", 1.0),
      Event(40, ts("2024-01-01 10:04:00"), 5, "view", 1.0),
      Event(41, ts("2024-01-01 10:04:00"), 5, "click", 1.0))
    val batch2 = Seq(
      Event(3, ts("2024-01-01 10:30:00"), 1, "purchase", 1.0),
      Event(12, ts("2024-01-01 10:31:00"), 2, "click", 1.0),
      Event(31, ts("2024-01-01 10:32:00"), 4, "view", 1.0))
    val input = MemoryStream[Event]
    val q = funnelUpdates(spark, input.toDS(), steps)
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      val updates = spark.table("funnel_out").as[FunnelUpdate].collect()
      val finalSteps = updates.groupBy(_.user_id)
        .map { case (u, us) => u -> us.map(_.steps_reached).max }
      // batch twin over ALL events (Funnel.userSteps = w11's engine path)
      val all = (batch1 ++ batch2).toDF()
      val per = graft.operators.Funnel
        .userSteps(all, "user_id", "ts", "event_type", steps)
        .collect().map { r =>
          r.getAs[Long]("user_id") ->
            (0 until steps.length).count(i => !r.isNullAt(
              r.fieldIndex(s"t$i")))
        }.filter(_._2 > 0).toMap
      assert(finalSteps == per,
        s"stream/batch funnel diverged:\n stream=$finalSteps\n batch=$per")
      // and the hand-checkable expectation itself
      assert(per == Map(1L -> 3, 2L -> 2, 3L -> 1, 4L -> 1, 5L -> 1))
    } finally q.stop()
  }

  test("funnelUpdates compares full microseconds, not getTime millis (sub-ms steps)") {
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click", "purchase")
    def tsMicro(base: String, micros: Int): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(ts(base).getTime)
      t.setNanos(micros * 1000)
      t
    }
    // u1: view and click land in the SAME millisecond but distinct
    // microseconds — strict-after must advance (getTime would see a tie
    // and under-advance vs the batch twin's full TimestampType compare);
    // purchase ties click exactly at the microsecond — must NOT advance
    val events = Seq(
      Event(1, tsMicro("2024-01-01 10:00:00", 100), 1, "view", 1.0),
      Event(2, tsMicro("2024-01-01 10:00:00", 400), 1, "click", 1.0),
      Event(3, tsMicro("2024-01-01 10:00:00", 400), 1, "purchase", 1.0))
    val input = MemoryStream[Event]
    val q = funnelUpdates(spark, input.toDS(), steps)
      .writeStream.format("memory").queryName("funnel_us_out")
      .outputMode("append").start()
    try {
      input.addData(events: _*); q.processAllAvailable()
      val updates = spark.table("funnel_us_out").as[FunnelUpdate].collect()
      assert(updates.map(_.steps_reached).max == 2,
        s"sub-ms click must advance, equal-us purchase must not: ${updates.toSeq}")
      // reached_ts round-trips the microsecond component
      assert(updates.maxBy(_.steps_reached).reached_ts ==
        tsMicro("2024-01-01 10:00:00", 400))
      // and the batch twin agrees (the exactness contract the docstring claims)
      val per = graft.operators.Funnel
        .userSteps(events.toDF(), "user_id", "ts", "event_type", steps)
        .collect().map { r =>
          r.getAs[Long]("user_id") ->
            (0 until steps.length).count(i => !r.isNullAt(r.fieldIndex(s"t$i")))
        }.toMap
      assert(per == Map(1L -> 2))
    } finally q.stop()
  }

  test("legacy milli-unit funnel state upscales on read (ADVICE r17 #2)") {
    // a checkpoint written by the pre-r17 code stored ts.getTime MILLIS;
    // mixed with today's micros those always lose strict-after and render
    // as ~1970 reached_ts — the magnitude guard upscales them on read
    val millis2024 = ts("2024-01-01 10:00:00").getTime          // ~1.7e12
    val micros2024 = EventStreams.epochMicros(ts("2024-01-01 10:00:00"))
    assert(EventStreams.microsOfStateTime(millis2024) == millis2024 * 1000L)
    assert(EventStreams.microsOfStateTime(micros2024) == micros2024)
    // boundary: exact for any event between 1970-04-26 and 2286-11-20
    assert(EventStreams.microsOfStateTime(10000000000000L) == 10000000000000L)
    assert(EventStreams.microsOfStateTime(9999999999999L) == 9999999999999000L)
  }

  test("committedFunnelState: missing path is an empty prior, a corrupt table rethrows") {
    val base = java.nio.file.Files.createTempDirectory("graft-funnel-corrupt")
    val missing = base.resolve("never-written").toString
    // missing -> empty prior (batch 0 contract)
    assert(committedFunnelState(spark, missing, Long.MaxValue,
      Seq("view")).count() == 0L)
    // corrupt footer at the path -> MUST rethrow, not silently empty
    // (silently-empty would recompute touched users from one batch and
    // COMMIT the regressed chains)
    val corrupt = base.resolve("state")
    java.nio.file.Files.createDirectories(corrupt)
    java.nio.file.Files.writeString(corrupt.resolve("part-00000.parquet"),
      "not a parquet file")
    intercept[Exception] {
      committedFunnelState(spark, corrupt.toString, Long.MaxValue,
        Seq("view")).count()
    }
  }

  test("windowedHeavyHitters maintains one sketch per window across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = windowedHeavyHitters(input.toDF(), "event_type", k = 4)
      .writeStream.format("memory").queryName("hh_out")
      .outputMode("update").start()
    try {
      input.addData((1 to 6).map(i =>
        Event(i, ts("2024-01-01 10:05:00"), i, "click", 1.0)) ++
        Seq(Event(7, ts("2024-01-01 10:06:00"), 7, "view", 1.0)): _*)
      q.processAllAvailable()
      // second micro-batch, same window: sketch must merge, not restart
      input.addData((8 to 12).map(i =>
        Event(i, ts("2024-01-01 10:07:00"), i, "click", 1.0)): _*)
      q.processAllAvailable()
      val cands = spark.table("hh_out")
        .filter($"window_start" === ts("2024-01-01 10:00:00"))
        .select("candidates").as[Map[String, Long]].collect()
      val merged = cands.maxBy(_.getOrElse("click", 0L))
      // MG guarantee: true count 11 over-survives any k=4 sketch of 12 items
      assert(merged.contains("click") && merged("click") >= 12 - 12 / 4)
      // batch parity: same call on a static frame
      val batch = windowedHeavyHitters(
        ((1 to 6).map(i => Event(i, ts("2024-01-01 10:05:00"), i, "click", 1.0)) ++
          Seq(Event(7, ts("2024-01-01 10:06:00"), 7, "view", 1.0)) ++
          (8 to 12).map(i => Event(i, ts("2024-01-01 10:07:00"), i, "click", 1.0))).toDF(),
        "event_type", k = 4)
        .select("candidates").as[Map[String, Long]].collect()(0)
      assert(batch("click") == 11L)
    } finally q.stop()
  }

  test("sessionStats: native session windows merge across micro-batches and close at the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = sessionStats(input.toDF(), gap = "30 minutes", watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("native_sessions_out")
      .outputMode("append").start()
    try {
      // two events 20 min apart: ONE session (gap < 30 min), split across batches
      input.addData(Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      input.addData(Event(2, ts("2024-01-01 10:20:00"), 1, "view", 1.0))
      q.processAllAvailable()
      // far-future event pushes the watermark past the session close
      input.addData(Event(3, ts("2024-01-02 00:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("native_sessions_out")
        .select("user_id", "session_start", "session_end", "n_events").collect()
      assert(rows.length == 1, s"expected one closed session, got ${rows.toSeq}")
      assert(rows(0).getTimestamp(1) == ts("2024-01-01 10:00:00"))
      assert(rows(0).getTimestamp(2) == ts("2024-01-01 10:50:00")) // last event + gap
      assert(rows(0).getLong(3) == 2, "cross-micro-batch events must merge into one session")
    } finally q.stop()
  }

  test("checkpoint recovery: dedup state survives a query restart (exactly-once across stop/start)") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt")
    val (outDir, ckptDir) = (base.resolve("out").toString, base.resolve("ckpt").toString)
    val input = MemoryStream[Event]
    def startQuery() = dedupWithinWatermark(input.toDF(), Seq("event_id"), "ts", "2 hours")
      .select("event_id")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckptDir)
      .outputMode("append").start()

    val q1 = startQuery()
    input.addData(
      Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 10:01:00"), 2, "view", 1.0))
    q1.processAllAvailable()
    q1.stop()

    // while stopped: a RETRY of event 1 plus a new event — only the state
    // store restored from the checkpoint can know 1 was already emitted
    input.addData(
      Event(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Event(3, ts("2024-01-01 10:06:00"), 3, "click", 1.0))
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      val ids = spark.read.parquet(outDir).as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L), s"got $ids")
    } finally q2.stop()
  }

  test("dedupIngestIdempotent: batch N+1 dedups against what batch N ingested, via the persisted index") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_ingest")
    def p(s: String) = base.resolve(s).toString
    // seed corpus + its band index under the ingest_batch = -1 partition
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    graft.sources.Sinks.overwriteRunPartition(
      corpus.withColumn("ingest_batch", lit(-1L)), p("corpus"), "ingest_batch")
    graft.sources.Sinks.overwriteRunPartition(
      graft.operators.Dedup.bandIndex(corpus, "doc_id", "text", 3)
        .withColumn("ingest_batch", lit(-1L)), p("bands"), "ingest_batch")

    val input = MemoryStream[(Long, String)]
    val q = dedupIngestIdempotent(input.toDF().toDF("doc_id", "text"),
      p("corpus"), p("bands"), p("pairs"),
      "doc_id", "text", n = 3, threshold = 0.5).start()
    def drain(): Unit = { q.processAllAvailable() }

    try {
      // batch 1: one dup of the seed corpus, one novel doc
      input.addData(
        (10L, "alpha beta gamma delta epsilon zeta eta theta"), // dup of 1
        (11L, "one two three four five six seven eight"))       // novel
      drain()
      // batch 2: a dup of the doc batch 1 ingested — only catchable if
      // batch 1's bands were appended to the index
      input.addData((20L, "one two three four five six seven eight"))
      drain()

      val kept = spark.read.parquet(p("corpus")).filter($"ingest_batch" >= 0)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(11L), s"kept $kept") // 10 dups seed, 20 dups 11
      val pairs = spark.read.parquet(p("pairs"))
        .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 10L)), s"pairs $pairs")
      assert(pairs.contains((11L, 20L)), s"pairs $pairs")
      // the corpus grew by exactly the kept docs
      val corpusIds = spark.read.parquet(p("corpus"))
        .collect().map(_.getLong(0)).toSet
      assert(corpusIds == Set(1L, 11L))
    } finally q.stop()
  }

  test("windowedHeavyHitters parity: streaming per-window candidates equal the hh3 batch twin's") {
    implicit val sqlCtx = spark.sqlContext
    // real fixture events through a two-batch stream; k = 16 >= event_type
    // cardinality, so the MG sketch is lossless and batch/stream candidate
    // sets must be IDENTICAL per window (not merely supersets)
    val evs = graft.core.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect()
    assert(evs.length > 100)
    val (h1, h2) = evs.splitAt(evs.length / 2)
    val input = MemoryStream[Event]
    val q = windowedHeavyHitters(input.toDF(), "event_type", k = 16)
      .writeStream.format("memory").queryName("hh3_stream_parity")
      .outputMode("complete").start()
    try {
      input.addData(h1.toSeq: _*); q.processAllAvailable()
      input.addData(h2.toSeq: _*); q.processAllAvailable()
      val streamed = spark.table("hh3_stream_parity")
        .select($"window_start", map_keys($"candidates").as("ks"))
        .as[(java.sql.Timestamp, Seq[String])].collect()
        .map { case (ws, ks) => ws -> ks.toSet }.toMap
      val batch = windowedHeavyHitters(
          graft.core.Tables.events(spark, sf), "event_type", k = 16)
        .select($"window_start", map_keys($"candidates").as("ks"))
        .as[(java.sql.Timestamp, Seq[String])].collect()
        .map { case (ws, ks) => ws -> ks.toSet }.toMap
      assert(streamed.keySet == batch.keySet,
        s"windows differ: ${streamed.keySet.size} vs ${batch.keySet.size}")
      streamed.foreach { case (ws, ks) =>
        assert(ks == batch(ws), s"window $ws: stream=$ks batch=${batch(ws)}")
      }
    } finally q.stop()
  }

  test("dedupIngestIdempotentBucketed parity: live two-batch stream equals the ds1 oracle twin") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_ingest_bkt")
    def p(s: String) = base.resolve(s).toString
    val docs = graft.core.Tables.documents(spark, sf)
    val corpus = docs.filter($"doc_id" % 4 =!= 0).select("doc_id", "text")
    val batchA = docs.filter($"doc_id" % 8 === 0)
      .select("doc_id", "text").as[(Long, String)].collect()
    val batchB = docs.filter($"doc_id" % 8 === 4)
      .select("doc_id", "text").as[(Long, String)].collect()
    assert(batchA.nonEmpty && batchB.nonEmpty)

    // the batch twin the DuckDB oracle hash-checks (ds1 green in
    // correctness) — per-round pair sets
    val twin = graft.SparkEntry.queries("ds1_streaming_dedup_twin")(spark, sf)
      .select("round", "ida", "idb")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (r, xs) => r -> xs.map(x => (x._2, x._3)).toSet }

    // live foreachBatch replay against a fresh partitioned bucketed index,
    // corpus and index seeded under ingest_batch = -1
    val table = "graft_band_index_ds1_stream_test"
    graft.sources.Bucketing.ensureCleanTable(spark, table)
    graft.sources.Sinks.overwriteRunPartition(
      corpus.withColumn("ingest_batch", lit(-1L)), p("corpus"), "ingest_batch")
    graft.operators.Dedup.writeBandIndexPartitioned(
      corpus, "doc_id", "text", 3, table, nBuckets = 8)
    val input = MemoryStream[(Long, String)]
    val q = dedupIngestIdempotentBucketed(input.toDF().toDF("doc_id", "text"),
      p("corpus"), table, 8, p("pairs"),
      "doc_id", "text", n = 3, threshold = 0.5).start()
    try {
      input.addData(batchA.toSeq: _*); q.processAllAvailable()
      input.addData(batchB.toSeq: _*); q.processAllAvailable()
      // micro-batch ids 0 and 1 are rounds 1 and 2
      val rounds = spark.read.parquet(p("pairs"))
        .select($"ingest_batch" + 1L, $"ida", $"idb")
        .as[(Long, Long, Long)].collect()
        .groupBy(_._1).map { case (r, xs) => r -> xs.map(x => (x._2, x._3)).toSet }
      assert(rounds.getOrElse(1L, Set.empty) == twin.getOrElse(1L, Set.empty),
        s"round-1 stream=${rounds.get(1L)} twin=${twin.get(1L)}")
      assert(rounds.getOrElse(2L, Set.empty) == twin.getOrElse(2L, Set.empty),
        s"round-2 stream=${rounds.get(2L)} twin=${twin.get(2L)}")
      // the parity is only meaningful if the flow actually flags something
      assert(rounds.values.exists(_.nonEmpty))
    } finally {
      q.stop()
      graft.sources.Bucketing.ensureCleanTable(spark, table)
    }
  }

  test("noveltyIngest parity: live two-batch stream equals the ds4 batch twin, retry absorbed") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_novelty_stream")
    val out = base.resolve("scores").toString
    val docs = graft.core.Tables.documents(spark, sf)
    val seed = docs.filter($"doc_id" % 5 =!= 0 && $"doc_id" % 5 =!= 1)
    val b0 = docs.filter($"doc_id" % 5 === 0)
      .select("doc_id", "text").as[(Long, String)].collect()
    val b1 = docs.filter($"doc_id" % 5 === 1)
      .select("doc_id", "text").as[(Long, String)].collect()
    assert(b0.nonEmpty && b1.nonEmpty)

    val twin = graft.SparkEntry.queries("ds4_novelty_ingest")(spark, sf)
      .select("sid", "n_grams", "n_novel", "ingest_batch")
      .as[(Long, Long, Long, Long)].collect().toSet

    val table = "graft_novelty_stream_test"
    graft.sources.Bucketing.ensureCleanTable(spark, table)
    graft.operators.Dedup.writeNoveltyIndex(seed, "doc_id", "text", 3, table, 8)
    val input = MemoryStream[(Long, String)]
    val q = noveltyIngest(input.toDF().toDF("doc_id", "text"),
      table, 8, out, "doc_id", "text", n = 3).start()
    try {
      input.addData(b0.toSeq: _*); q.processAllAvailable()
      input.addData(b1.toSeq: _*); q.processAllAvailable()
      val live = spark.read.parquet(out)
        .select($"sid", $"n_grams", $"n_novel", $"ingest_batch".cast("long"))
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(live == twin, "live stream diverged from the replayed batch twin")
      // retry absorption OUTSIDE a running query too: replay batch 1 by hand
      noveltyIngestBatch(docs.filter($"doc_id" % 5 === 1), 1L, table, 8,
        out, "doc_id", "text", 3)
      val replayed = spark.read.parquet(out)
        .select($"sid", $"n_grams", $"n_novel", $"ingest_batch".cast("long"))
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(replayed == live, "a replayed batch changed visible state")
    } finally {
      q.stop()
      graft.sources.Bucketing.ensureCleanTable(spark, table)
    }
  }

  test("qualityGateIngest: frozen-model stream equals the ds5 batch twin, replay absorbed") {
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_quality_stream")
      .resolve("scores").toString
    val docs = graft.core.Tables.documents(spark, sf)
    val isPos = $"source".isin("src0", "src1", "src2", "src3")
    val seed = docs.filter($"doc_id" % 5 =!= 0 && $"doc_id" % 5 =!= 1)
    val model = graft.operators.TextOps
      .trainQualityModel(seed, "doc_id", "text", isPos, 256)
      .localCheckpoint(false)
    // dense-model contract: every bucket present exactly once + the prior
    val bs = model.select($"b").as[Long].collect().sorted
    assert(bs.toSeq == (-1L until 256L).toSeq, "model must be dense over buckets")
    val b0 = docs.filter($"doc_id" % 5 === 0)
      .select("doc_id", "text").as[(Long, String)].collect()
    val b1 = docs.filter($"doc_id" % 5 === 1)
      .select("doc_id", "text").as[(Long, String)].collect()
    assert(b0.nonEmpty && b1.nonEmpty)
    val twin = graft.SparkEntry.queries("ds5_quality_gate")(spark, sf)
      .select($"doc_id", $"score_fp", $"pred", $"ingest_batch")
      .as[(Long, Long, Boolean, Long)].collect().toSet
    val input = MemoryStream[(Long, String)]
    val q = qualityGateIngest(input.toDF().toDF("doc_id", "text"),
      model, out, "doc_id", "text", 256).start()
    try {
      input.addData(b0.toSeq: _*); q.processAllAvailable()
      input.addData(b1.toSeq: _*); q.processAllAvailable()
      def state() = spark.read.parquet(out)
        .select($"did", $"score_fp", $"pred", $"ingest_batch".cast("long"))
        .as[(Long, Long, Boolean, Long)].collect().toSet
      val live = state()
      assert(live == twin, "live stream diverged from the ds5 batch twin")
      // injected retry outside the query: replay batch 1 by hand
      qualityGateBatch(docs.filter($"doc_id" % 5 === 1), 1L, model, out,
        "doc_id", "text", 256)
      assert(state() == live, "a replayed batch changed visible state")
    } finally q.stop()
  }

  test("qualityRetrain/ServeVersioned: refresh keeps old versions, replays are bit-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft_quality_refresh")
    val (models, out) = (dir.resolve("models").toString, dir.resolve("scores").toString)
    val docs = graft.core.Tables.documents(spark, sf)
    val isPos = $"source".isin("src0", "src1", "src2", "src3")
    val seed = docs.filter($"doc_id" % 5 =!= 0 && $"doc_id" % 5 =!= 1)
    val b0 = docs.filter($"doc_id" % 5 === 0)
    val b1 = docs.filter($"doc_id" % 5 === 1)
    qualityRetrainBatch(seed, 0L, isPos, models, "doc_id", "text", 256)
    qualityServeVersioned(b0, 0L, models, 0L, out, "doc_id", "text", 256)
    def modelRows(v: Long) = spark.read.parquet(models)
      .filter($"model_version" === v).select($"b", $"w_fp")
      .as[(Long, Long)].collect().toSet
    val v0 = modelRows(0L)
    assert(v0.size == 257, "dense model: 256 buckets + prior")
    // REFRESH to v1 on seed + committed batch 0
    qualityRetrainBatch(seed.unionByName(b0), 1L, isPos, models, "doc_id", "text", 256)
    val v1 = modelRows(1L)
    assert(modelRows(0L) == v0, "a refresh must not disturb committed versions")
    assert(v1 != v0, "the refreshed model saw new data and must differ")
    // injected retry: the replayed retrain rewrites identical integers
    qualityRetrainBatch(seed.unionByName(b0), 1L, isPos, models, "doc_id", "text", 256)
    assert(modelRows(1L) == v1, "a replayed retrain changed the model")
    // serve batch 1 with v1; the score log must record the version, and
    // the scores must equal a direct scoreQuality against the v1 rows
    qualityServeVersioned(b1, 1L, models, 1L, out, "doc_id", "text", 256)
    def scores() = spark.read.parquet(out)
      .select($"did", $"score_fp", $"pred", $"model_version",
        $"ingest_batch".cast("long"))
      .as[(Long, Long, Boolean, Long, Long)].collect().toSet
    val s1 = scores()
    assert(s1.filter(_._5 == 1L).forall(_._4 == 1L), "batch 1 served by v1")
    assert(s1.filter(_._5 == 0L).forall(_._4 == 0L), "batch 0 served by v0")
    val direct = graft.operators.TextOps.scoreQuality(
        b1, "doc_id", "text",
        spark.read.parquet(models).filter($"model_version" === 1L)
          .select($"b", $"w_fp"), 256)
      .select($"did", $"score_fp", $"pred").as[(Long, Long, Boolean)]
      .collect().toSet
    assert(s1.filter(_._5 == 1L).map(t => (t._1, t._2, t._3)) == direct)
    // replayed serve: identical partition rewrite
    qualityServeVersioned(b1, 1L, models, 1L, out, "doc_id", "text", 256)
    assert(scores() == s1, "a replayed serve changed visible state")
  }

  test("qualityServeIngest: latest-version mode picks up a mid-stream refresh, pinned mode doesn't") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("graft_quality_serve_stream")
    val (models, out) = (dir.resolve("models").toString, dir.resolve("scores").toString)
    val docs = graft.core.Tables.documents(spark, sf)
    val isPos = $"source".isin("src0", "src1", "src2", "src3")
    val seed = docs.filter($"doc_id" % 5 =!= 0 && $"doc_id" % 5 =!= 1)
    qualityRetrainBatch(seed, 0L, isPos, models, "doc_id", "text", 256)
    assert(latestModelVersion(spark, models) == 0L)
    val b0 = docs.filter($"doc_id" % 5 === 0)
      .select("doc_id", "text").as[(Long, String)].collect()
    val b1 = docs.filter($"doc_id" % 5 === 1)
      .select("doc_id", "text").as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val q = qualityServeIngest(input.toDF().toDF("doc_id", "text"),
      models, out, "doc_id", "text", 256).start()
    try {
      input.addData(b0.toSeq: _*); q.processAllAvailable()
      // REFRESH lands between micro-batches
      qualityRetrainBatch(seed.unionByName(docs.filter($"doc_id" % 5 === 0)),
        1L, isPos, models, "doc_id", "text", 256)
      assert(latestModelVersion(spark, models) == 1L)
      input.addData(b1.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val rows: Array[(Long, Long)] = spark.read.parquet(out)
      .select($"ingest_batch".cast("long"), $"model_version")
      .as[(Long, Long)].collect()
    assert(rows.filter(_._1 == 0L).map(_._2).toSet == Set(0L),
      "batch 0 served by v0")
    assert(rows.filter(_._1 == 1L).map(_._2).toSet == Set(1L),
      "batch 1 must pick up the mid-stream refresh")
  }

  test("noveltyIngest survives a checkpointed restart: batch ids resume, state identical") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_novelty_ckpt")
    val (out, ckpt) = (base.resolve("scores").toString, base.resolve("ckpt").toString)
    val docs = graft.core.Tables.documents(spark, sf)
    val seed = docs.filter($"doc_id" % 5 =!= 0 && $"doc_id" % 5 =!= 1)
    val b0 = docs.filter($"doc_id" % 5 === 0)
      .select("doc_id", "text").as[(Long, String)].collect()
    val b1 = docs.filter($"doc_id" % 5 === 1)
      .select("doc_id", "text").as[(Long, String)].collect()
    val table = "graft_novelty_ckpt_test"
    graft.sources.Bucketing.ensureCleanTable(spark, table)
    graft.operators.Dedup.writeNoveltyIndex(seed, "doc_id", "text", 3, table, 8)
    val input = MemoryStream[(Long, String)]
    def startQuery() = noveltyIngest(input.toDF().toDF("doc_id", "text"),
        table, 8, out, "doc_id", "text", n = 3)
      .option("checkpointLocation", ckpt).start()

    val q1 = startQuery()
    input.addData(b0.toSeq: _*); q1.processAllAvailable(); q1.stop()
    // enqueue while stopped; the restarted query must resume batch
    // numbering from the checkpoint, not re-run batch 0
    input.addData(b1.toSeq: _*)
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      val live = spark.read.parquet(out)
        .select($"sid", $"n_grams", $"n_novel", $"ingest_batch".cast("long"))
        .as[(Long, Long, Long, Long)].collect().toSet
      val twin = graft.SparkEntry.queries("ds4_novelty_ingest")(spark, sf)
        .select("sid", "n_grams", "n_novel", "ingest_batch")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(live == twin, "restarted stream diverged from the batch twin")
    } finally {
      q2.stop()
      graft.sources.Bucketing.ensureCleanTable(spark, table)
    }
  }

  test("windowedDistinct parity: streamed KMV estimates equal the batch twin exactly") {
    implicit val sqlCtx = spark.sqlContext
    val evs = graft.core.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect()
    val (h1, h2) = evs.splitAt(evs.length / 2)
    val input = MemoryStream[Event]
    val q = windowedDistinct(input.toDF(), "user_id", k = 16)
      .writeStream.format("memory").queryName("wd_parity")
      .outputMode("complete").start()
    try {
      input.addData(h1.toSeq: _*); q.processAllAvailable()
      input.addData(h2.toSeq: _*); q.processAllAvailable()
      val streamed = spark.table("wd_parity")
        .select($"window_start", $"sketch_size", $"kmv_est")
        .as[(java.sql.Timestamp, Long, Double)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      val batch = windowedDistinct(
          graft.core.Tables.events(spark, sf), "user_id", k = 16)
        .select($"window_start", $"sketch_size", $"kmv_est")
        .as[(java.sql.Timestamp, Long, Double)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      // bottom-k is merge-order-independent: streamed DOUBLES are
      // bit-identical to the batch run, not merely close
      assert(streamed == batch,
        s"windows=${streamed.size} vs ${batch.size}")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("windowedCms parity: streamed counter matrices equal the batch twin bit-for-bit") {
    implicit val sqlCtx = spark.sqlContext
    val evs = graft.core.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect()
    val (h1, h2) = evs.splitAt(evs.length / 2)
    val input = MemoryStream[Event]
    val q = windowedCms(input.toDF(), "event_type", w = 32, d = 3)
      .writeStream.format("memory").queryName("cms_parity")
      .outputMode("complete").start()
    try {
      input.addData(h1.toSeq: _*); q.processAllAvailable()
      input.addData(h2.toSeq: _*); q.processAllAvailable()
      def matrices(df: org.apache.spark.sql.DataFrame) = df
        .select($"window_start", $"sk").collect()
        .map(r => r.getTimestamp(0) ->
          r.getSeq[scala.collection.Seq[Long]](1).map(_.toList).toList).toMap
      val streamed = matrices(spark.table("cms_parity"))
      val batch = matrices(windowedCms(
        graft.core.Tables.events(spark, sf), "event_type", w = 32, d = 3))
      // CMS cells are sums: the streamed MATRIX (not just estimates) is
      // bit-identical to the batch run under any micro-batch split
      assert(streamed == batch, s"windows=${streamed.size} vs ${batch.size}")
      assert(streamed.nonEmpty)
      // each matrix row sums to its window's event count (cells are sums)
      val rowCounts = graft.core.Tables.events(spark, sf)
        .groupBy(window($"ts", "1 hour")).count()
        .select($"window.start", $"count").collect()
        .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
      streamed.foreach { case (ws, m) =>
        m.foreach(row => assert(row.sum == rowCounts(ws), s"window $ws"))
      }
    } finally q.stop()
  }

  test("ingestBatchIdempotent: a retried batch leaves byte-identical state, no duplicates") {
    val base = java.nio.file.Files.createTempDirectory("graft_ingest_idem")
    def p(s: String) = base.resolve(s).toString
    // seed corpus + index under the ingest_batch = -1 partition
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    graft.sources.Sinks.overwriteRunPartition(
      corpus.withColumn("ingest_batch", lit(-1L)), p("corpus"), "ingest_batch")
    graft.sources.Sinks.overwriteRunPartition(
      graft.operators.Dedup.bandIndex(corpus, "doc_id", "text", 3)
        .withColumn("ingest_batch", lit(-1L)), p("bands"), "ingest_batch")

    def run(batch: Seq[(Long, String)], id: Long): Unit =
      ingestBatchIdempotent(batch.toDF("doc_id", "text"), id,
        p("corpus"), p("bands"), p("pairs"), "doc_id", "text", 3, 0.5)
    def state(): (Set[(Long, Long, Long)], Set[(Long, Long)], Long) = (
      spark.read.parquet(p("pairs"))
        .select($"ida", $"idb", $"ingest_batch")
        .as[(Long, Long, Long)].collect().toSet,
      spark.read.parquet(p("corpus"))
        .select($"doc_id", $"ingest_batch").as[(Long, Long)].collect().toSet,
      spark.read.parquet(p("bands")).count())

    val b0 = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // dup of seed 1
      (11L, "one two three four five six seven eight"))       // novel
    run(b0, 0)
    val afterFirst = state()
    // RETRY batch 0 (foreachBatch re-delivers the same id + data after a
    // failure): state must be byte-identical, not doubled
    run(b0, 0)
    assert(state() == afterFirst, "retry must be a no-op")
    // and the retry did not corrupt incremental semantics: batch 1 still
    // dedups against what batch 0 ingested, exactly once
    run(Seq((20L, "one two three four five six seven eight")), 1)
    val (pairs, corpusIds, _) = state()
    assert(pairs.map(x => (x._1, x._2)) == Set((1L, 10L), (11L, 20L)), pairs.toString)
    assert(corpusIds.map(_._1) == Set(1L, 11L), corpusIds.toString)
    // re-retry of an OLD batch after later batches committed is also safe:
    // it rewrites partition 0 from the same pre-batch state
    run(b0, 0)
    val (pairs2, corpusIds2, _) = state()
    assert(pairs2 == pairs && corpusIds2 == corpusIds)
  }

  test("ingestBatchIdempotentBucketed: retries replace their partition, bucketed index stays correct") {
    val base = java.nio.file.Files.createTempDirectory("graft_ingest_idem_bkt")
    def p(s: String) = base.resolve(s).toString
    val table = "graft_band_index_idem_bkt_test"
    graft.sources.Bucketing.ensureCleanTable(spark, table)
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    graft.sources.Sinks.overwriteRunPartition(
      corpus.withColumn("ingest_batch", lit(-1L)), p("corpus"), "ingest_batch")
    graft.operators.Dedup.writeBandIndexPartitioned(
      corpus, "doc_id", "text", 3, table, nBuckets = 4)

    def run(batch: Seq[(Long, String)], id: Long): Unit =
      ingestBatchIdempotentBucketed(batch.toDF("doc_id", "text"), id,
        p("corpus"), table, 4, p("pairs"), "doc_id", "text", 3, 0.5)
    def state(): (Set[(Long, Long, Long)], Set[(Long, Long)], Long) = (
      spark.read.parquet(p("pairs"))
        .select($"ida", $"idb", $"ingest_batch")
        .as[(Long, Long, Long)].collect().toSet,
      spark.read.parquet(p("corpus"))
        .select($"doc_id", $"ingest_batch").as[(Long, Long)].collect().toSet,
      spark.table(table).count())

    try {
      val b0 = Seq(
        (10L, "alpha beta gamma delta epsilon zeta eta theta"), // dup of seed 1
        (11L, "one two three four five six seven eight"))       // novel
      run(b0, 0)
      val afterFirst = state()
      // RETRY batch 0: identical visible state — pairs, corpus AND the
      // bucketed index row count (partition replaced, not appended)
      run(b0, 0)
      assert(state() == afterFirst, "retry must be a no-op")
      // incremental semantics intact: batch 1 catches a dup of what batch 0
      // ingested, through the bucketed index's batch-0 partition
      run(Seq((20L, "one two three four five six seven eight")), 1)
      val (pairs, corpusIds, _) = state()
      assert(pairs.map(x => (x._1, x._2)) == Set((1L, 10L), (11L, 20L)), pairs.toString)
      assert(corpusIds.map(_._1) == Set(1L, 11L), corpusIds.toString)
      // late re-retry of an old batch after later commits is also safe
      run(b0, 0)
      val (pairs2, corpusIds2, _) = state()
      assert(pairs2 == pairs && corpusIds2 == corpusIds)
    } finally graft.sources.Bucketing.ensureCleanTable(spark, table)
  }

  test("exactly-once end to end: a faulted writeStream restarts from checkpoint and converges") {
    // closes the last daylight between the tested path and the production
    // path (VERDICT r9 ask #7): the retry proofs above call
    // ingestBatchIdempotentBucketed directly; here the SAME failure mode —
    // batch work done, offset never committed — is driven through a real
    // writeStream.foreachBatch: attempt 1 of batch 0 runs the full ingest
    // then dies before Spark can commit the offset, the query is restarted
    // on the same checkpoint, Spark re-delivers batch 0, and the retry must
    // replace its own partition so the converged state equals a run that
    // never crashed.
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_ingest_e2e")
    def p(s: String) = base.resolve(s).toString
    val table = "graft_band_index_e2e_test"
    graft.sources.Bucketing.ensureCleanTable(spark, table)
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    graft.sources.Sinks.overwriteRunPartition(
      corpus.withColumn("ingest_batch", lit(-1L)), p("corpus"), "ingest_batch")
    graft.operators.Dedup.writeBandIndexPartitioned(
      corpus, "doc_id", "text", 3, table, nBuckets = 4)

    val b0 = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // dup of seed 1
      (11L, "one two three four five six seven eight"))       // novel
    val b1 = Seq((20L, "one two three four five six seven eight")) // dup of 11

    val input = MemoryStream[(Long, String)]
    def ingest(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
      ingestBatchIdempotentBucketed(batch, id, p("corpus"), table, 4,
        p("pairs"), "doc_id", "text", 3, 0.5)
    // attempt 1 of batch 0: full ingest, then die before the offset commits
    @volatile var injected = false
    val faulty = input.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", p("ckpt"))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        ingest(batch, id)
        if (id == 0 && !injected) { injected = true; sys.error("injected crash") }
      }.start()
    input.addData(b0: _*)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      faulty.processAllAvailable()
    }
    faulty.stop()
    assert(injected, "the fault must actually have fired")
    // the crash left batch 0's outputs on disk but its offset uncommitted

    // restart the PRODUCTION writer on the same checkpoint: Spark
    // re-delivers batch 0 (the retry), then batch 1 proceeds normally
    val q = dedupIngestIdempotentBucketed(
      input.toDF().toDF("doc_id", "text"), p("corpus"), table, 4,
      p("pairs"), "doc_id", "text", 3, 0.5)
      .option("checkpointLocation", p("ckpt")).start()
    try {
      q.processAllAvailable()
      input.addData(b1: _*)
      q.processAllAvailable()
    } finally q.stop()

    val pairs = spark.read.parquet(p("pairs"))
      .select($"ida", $"idb").as[(Long, Long)].collect().toSet
    val corpusIds = spark.read.parquet(p("corpus"))
      .select($"doc_id").as[Long].collect().toSet
    try {
      // exactly the no-crash outcome: batch 0 flagged its seed dup, batch 1
      // caught its dup against batch 0's survivor; nothing doubled
      assert(pairs == Set((1L, 10L), (11L, 20L)), pairs.toString)
      assert(corpusIds == Set(1L, 11L), corpusIds.toString)
      assert(spark.read.parquet(p("pairs")).count() == 2)
      assert(spark.table(table).filter($"ingest_batch" === 0L).count() ==
        spark.table(table).filter($"ingest_batch" === -1L).count(),
        "batch 0's index partition must hold exactly its one surviving doc's bands")
    } finally graft.sources.Bucketing.ensureCleanTable(spark, table)
  }

  test("dedupWithinWatermark drops retried keys across micro-batches, keeps distinct ones") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = dedupWithinWatermark(input.toDF(), Seq("event_id"), "ts", "2 hours")
      .select("event_id")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0)) // same-batch dup
      q.processAllAvailable()
      input.addData( // retried event_id 1 in a LATER micro-batch, within the watermark
        Event(1, ts("2024-01-01 10:30:00"), 1, "click", 1.0),
        Event(2, ts("2024-01-01 10:31:00"), 2, "view", 1.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L), s"got ${ids.toSeq}")

      // batch parity: the same call on a static frame is plain dropDuplicates
      val batch = dedupWithinWatermark(
        Seq(Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
          Event(1, ts("2024-01-01 10:30:00"), 1, "click", 1.0)).toDF(),
        Seq("event_id"), "ts")
      assert(batch.count() == 1)
    } finally q.stop()
  }

  test("attributeJoin: stream-stream interval join matches the batch twin across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val q = attributeJoin(views.toDF(), clicks.toDF(), "user_id", "ts", "30 minutes")
      .select($"l_event_id".as("view_id"), $"r_event_id".as("click_id"))
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    try {
      val vRows = Seq(
        Event(10, ts("2024-01-01 10:00:00"), 1, "view", 0.0),
        Event(11, ts("2024-01-01 10:00:00"), 2, "view", 0.0))
      val cRows1 = Seq(
        Event(20, ts("2024-01-01 10:10:00"), 1, "click", 1.0), // in horizon
        Event(21, ts("2024-01-01 11:10:00"), 1, "click", 1.0)) // past horizon
      views.addData(vRows: _*)
      clicks.addData(cRows1: _*)
      q.processAllAvailable()
      // a later micro-batch still matches user 2's earlier view (buffered)
      val cRows2 = Seq(
        Event(22, ts("2024-01-01 10:29:00"), 2, "click", 1.0), // in horizon
        Event(23, ts("2024-01-01 10:31:00"), 3, "click", 1.0)) // no view for key
      clicks.addData(cRows2: _*)
      q.processAllAvailable()

      val streamed = spark.table("attr_out")
        .as[(Long, Long)].collect().toSet
      assert(streamed == Set((10L, 20L), (11L, 22L)))

      // batch/stream parity: the same definition over static frames
      val batch = attributeJoin(vRows.toDF(), (cRows1 ++ cRows2).toDF(),
          "user_id", "ts", "30 minutes")
        .select($"l_event_id", $"r_event_id").as[(Long, Long)].collect().toSet
      assert(batch == streamed)
    } finally q.stop()
  }

  test("attributeJoinOuter: an unconverted view emits with NULLs once the watermark closes it") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val q = attributeJoinOuter(views.toDF(), clicks.toDF(), "user_id", "ts",
        "30 minutes", "1 hour")
      .select($"l_event_id".as("view_id"),
        $"r_event_id".as("click_id")) // null when unattributed
      .writeStream.format("memory").queryName("attr_outer_out")
      .outputMode("append").start()
    try {
      views.addData(
        Event(10, ts("2024-01-01 10:00:00"), 1, "view", 0.0), // converts
        Event(11, ts("2024-01-01 10:00:00"), 2, "view", 0.0)) // never converts
      clicks.addData(Event(20, ts("2024-01-01 10:10:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // nothing can emit as unmatched yet: the watermark hasn't passed
      // view.ts + horizon for user 2
      val early = spark.table("attr_outer_out").as[(Long, Option[Long])].collect().toSet
      assert(!early.contains((11L, None)), s"emitted before the watermark closed: $early")

      // advance BOTH watermarks far past 10:30 + delay: user 2's view can
      // no longer match and must emit with a NULL click
      views.addData(Event(90, ts("2024-01-01 14:00:00"), 9, "view", 0.0))
      clicks.addData(Event(91, ts("2024-01-01 14:00:00"), 9, "click", 1.0))
      q.processAllAvailable()
      views.addData(Event(92, ts("2024-01-01 18:00:00"), 9, "view", 0.0))
      clicks.addData(Event(93, ts("2024-01-01 18:00:00"), 9, "click", 1.0))
      q.processAllAvailable()

      val out = spark.table("attr_outer_out").as[(Long, Option[Long])].collect().toSet
      assert(out.contains((10L, Some(20L))), out.toString) // attributed
      assert(out.contains((11L, None)), out.toString)      // funnel drop

      // batch twin: same definition over the static union (no delay)
      val batch = attributeJoinOuter(
        Seq(Event(10, ts("2024-01-01 10:00:00"), 1, "view", 0.0),
          Event(11, ts("2024-01-01 10:00:00"), 2, "view", 0.0)).toDF(),
        Seq(Event(20, ts("2024-01-01 10:10:00"), 1, "click", 1.0)).toDF(),
        "user_id", "ts", "30 minutes")
        .select($"l_event_id", $"r_event_id".cast("long"))
        .as[(Long, Option[Long])].collect().toSet
      assert(batch == Set((10L, Some(20L)), (11L, None)))
    } finally q.stop()
  }
}
