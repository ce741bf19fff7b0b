package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec

/** Proves the batch transforms run unchanged under Structured Streaming:
  * the same `hourlyAgg` drives a file stream into a memory sink and
  * matches its own batch result.
  */
class EventOpsSpec extends SparkSpec {
  import spark.implicits._

  // Same multi-generation schema guard as SparkEntry.t: events.ts has
  // been TIMESTAMP(NANOS) (readable only as long via the legacy conf)
  // and plain timestamp[us] without isAdjustedToUTC (read as
  // TIMESTAMP_NTZ, which watermarks reject). Session tz is UTC, so the
  // NTZ->LTZ cast reinterprets identical micros.
  private def tsFix(df: org.apache.spark.sql.DataFrame) =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  // the legacy conf goes on a session of this suite's own: the shared
  // test session stays unmutated
  private lazy val nanos = {
    val s = spark.newSession()
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s
  }

  private def eventsBatch =
    tsFix(nanos.read.parquet("/root/testdata/sf0.001/events.parquet"))

  test("hourlyAgg streaming == batch on the same files") {
    val batch = EventOps.hourlyAgg(eventsBatch)
      .orderBy("window_start", "event_type")
      .collect().toSeq

    val schema = nanos.read.parquet("/root/testdata/sf0.001/events.parquet").schema
    val stream = tsFix(nanos.readStream.schema(schema)
      .parquet("/root/testdata/sf0.001/"))
    // complete mode: aggregation over a bounded file stream
    val q = EventOps.hourlyAgg(stream).writeStream
      .outputMode("complete").format("memory").queryName("hourly_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = nanos.table("hourly_out")
      .orderBy("window_start", "event_type").collect().toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("sessionizeBatch splits on the inactivity gap") {
    val d = Seq(
      (1L, "2026-01-01 10:00:00", 5.0), (1L, "2026-01-01 10:10:00", 5.0),
      (1L, "2026-01-01 12:00:00", 2.0), // > 30 min gap -> new session
      (2L, "2026-01-01 09:00:00", 1.0)
    ).toDF("user_id", "ts_s", "value")
      .select($"user_id", to_timestamp($"ts_s").as("ts"), $"value")
    val sessions = EventOps.sessionizeBatch(d, gapMinutes = 30)
    assert(sessions.count() == 3)
    val u1 = sessions.filter($"user_id" === 1L)
      .select("n_events", "total_value").as[(Long, Double)].collect().toSet
    assert(u1 == Set((2L, 10.0), (1L, 2.0)))
  }

  test("stateful sessionize emits after timeout (streaming shape compiles and runs)") {
    // flatMapGroupsWithState needs a streaming Dataset to exercise
    // timeouts end-to-end; here we pin the batch-mode semantics: with no
    // timeout firing, a single batch emits nothing (all sessions open).
    val events = Seq(
      EventOps.Event(1L, java.sql.Timestamp.valueOf("2026-01-01 10:00:00"), 1L, "click", 1.0),
      EventOps.Event(2L, java.sql.Timestamp.valueOf("2026-01-01 10:05:00"), 1L, "click", 2.0)
    ).toDS()
    // batch mode: state never times out within the single invocation, so
    // each group processes its rows and emits nothing
    val out = EventOps.sessionize(events, gapMinutes = 30)
    assert(out.count() == 0)
  }

  test("sessionize end-to-end: timeout-closed sessions match the batch twin") {
    import EventOps.Event
    def ev(id: Long, t: String, user: Long, v: Double) =
      Event(id, java.sql.Timestamp.valueOf(t), user, "click", v)

    val dir = java.nio.file.Files.createTempDirectory("graft-sessions").toString
    val burstA = Seq(
      ev(1, "2026-01-01 10:00:00", 1L, 1.0),
      ev(2, "2026-01-01 10:05:00", 1L, 2.5),
      ev(3, "2026-01-01 09:00:00", 2L, 4.0))
    burstA.toDF().coalesce(1).write.mode("append").parquet(dir)

    val stream = spark.readStream.schema(burstA.toDF().schema).parquet(dir).as[Event]
    val q = EventOps.sessionize(stream, gapDuration = "2 seconds").writeStream
      .outputMode("append").format("memory").queryName("sessions_out")
      .trigger(Trigger.ProcessingTime("250 milliseconds")).start()
    try {
      def emitted = spark.table("sessions_out")
      def awaitRows(n: Long): Unit = {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (emitted.count() < n && System.nanoTime() < deadline) Thread.sleep(250)
        assert(emitted.count() == n, s"expected $n emitted sessions")
      }
      // burst A drains, then 2s of silence -> both users' sessions close
      awaitRows(2)
      // a later burst for user 1 must open (and close) a SECOND session
      val burstB = Seq(ev(4, "2026-01-01 12:00:00", 1L, 7.0))
      burstB.toDF().coalesce(1).write.mode("append").parquet(dir)
      awaitRows(3)

      val cols = Seq("user_id", "n_events", "first_ts", "last_ts", "total_value")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
      // each burst lands within the event-time gap, so the batch twin
      // yields exactly the sessions the stream's timeout closed
      val expected =
        rows(EventOps.sessionizeBatch(burstA.toDF())) ++
        rows(EventOps.sessionizeBatch(burstB.toDF()))
      assert(rows(emitted) == expected)
    } finally q.stop()
  }

  test("sessionizeEventTime merges a late-but-within-gap burst; matches batch twin") {
    import EventOps.Event
    def ev(id: Long, t: String, user: Long, v: Double) =
      Event(id, java.sql.Timestamp.valueOf(t), user, "click", v)

    val dir = java.nio.file.Files.createTempDirectory("graft-et-sessions").toString
    // burst A: user 1's session opens at 10:00
    val burstA = Seq(
      ev(1, "2026-01-01 10:00:00", 1L, 1.0),
      ev(2, "2026-01-01 10:05:00", 1L, 2.5))
    burstA.toDF().coalesce(1).write.mode("append").parquet(dir)

    val stream = spark.readStream.schema(burstA.toDF().schema).parquet(dir).as[Event]
    val q = EventOps.sessionizeEventTime(stream,
        gapDuration = "30 minutes", watermarkDelay = "0 seconds").writeStream
      .outputMode("append").format("memory").queryName("et_sessions_out")
      .trigger(Trigger.ProcessingTime("250 milliseconds")).start()
    try {
      def inputRows = q.recentProgress.map(_.numInputRows).sum
      def awaitInput(n: Long): Unit = {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (inputRows < n && System.nanoTime() < deadline) Thread.sleep(250)
        assert(inputRows >= n, s"expected $n input rows processed")
      }
      awaitInput(2)
      Thread.sleep(1000) // real processing-time silence between bursts
      // burst B arrives SECONDS later in processing time but only 15 event-
      // time minutes after the last event — within the gap. A processing-
      // time timer would long since have fired had the gap been measured
      // in arrival time; event-time semantics must MERGE it instead.
      val burstB = Seq(ev(3, "2026-01-01 10:20:00", 1L, 7.0))
      burstB.toDF().coalesce(1).write.mode("append").parquet(dir)
      awaitInput(3)
      // burst C: another user far in the future pushes the watermark past
      // user 1's last+gap, closing (emitting) the merged session
      val burstC = Seq(ev(4, "2026-01-01 23:00:00", 2L, 0.0))
      burstC.toDF().coalesce(1).write.mode("append").parquet(dir)
      def emitted = spark.table("et_sessions_out")
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (emitted.count() < 1 && System.nanoTime() < deadline) Thread.sleep(250)
      assert(emitted.count() == 1, "expected user 1's merged session to close")

      val cols = Seq("user_id", "n_events", "first_ts", "last_ts", "total_value")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
      // ONE session spanning both bursts — exactly what the batch twin
      // computes from the union of the event-time data
      val expected = rows(EventOps.sessionizeBatch(
        (burstA ++ burstB).toDF(), gapMinutes = 30))
      assert(rows(emitted) == expected)
      assert(emitted.select("n_events").as[Long].head() == 3L)
    } finally q.stop()
  }

  test("sessionizeEventTime splits an in-batch event-time gap; matches batch twin") {
    import EventOps.Event
    def ev(id: Long, t: String, user: Long, v: Double) =
      Event(id, java.sql.Timestamp.valueOf(t), user, "click", v)

    val dir = java.nio.file.Files.createTempDirectory("graft-et-gap").toString
    // ONE microbatch carries two sessions' worth of events for user 1 —
    // a replay/backfill shape. The gap is only visible in event time;
    // no timeout can fire between rows of the same batch, so the data
    // branch itself must split.
    val burst = Seq(
      ev(1, "2026-01-01 10:00:00", 1L, 1.0),
      ev(2, "2026-01-01 10:10:00", 1L, 2.0),
      ev(3, "2026-01-01 12:00:00", 1L, 4.0), // > 30 min after 10:10
      ev(4, "2026-01-01 12:05:00", 1L, 8.0))
    burst.toDF().coalesce(1).write.mode("append").parquet(dir)

    val stream = spark.readStream.schema(burst.toDF().schema).parquet(dir).as[Event]
    val q = EventOps.sessionizeEventTime(stream,
        gapDuration = "30 minutes", watermarkDelay = "0 seconds").writeStream
      .outputMode("append").format("memory").queryName("et_gap_out")
      .trigger(Trigger.ProcessingTime("250 milliseconds")).start()
    try {
      def emitted = spark.table("et_gap_out")
      // the first session closes from the DATA branch (in-batch split);
      // the second closes once the watermark passes last+gap
      val closer = Seq(ev(5, "2026-01-02 12:00:00", 2L, 0.0))
      closer.toDF().coalesce(1).write.mode("append").parquet(dir)
      val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
      while (emitted.count() < 2 && System.nanoTime() < deadline) Thread.sleep(250)
      val cols = Seq("user_id", "n_events", "first_ts", "last_ts", "total_value")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
      val expected = rows(EventOps.sessionizeBatch(burst.toDF(), gapMinutes = 30))
      assert(rows(emitted) == expected) // two sessions: (2 ev, 3.0) and (2 ev, 12.0)
    } finally q.stop()
  }

  test("sessionizeEventTime: a late within-watermark event bridges an in-batch gap split") {
    import EventOps.Event
    def ev(id: Long, t: String, user: Long, v: Double) =
      Event(id, java.sql.Timestamp.valueOf(t), user, "click", v)

    val dir = java.nio.file.Files.createTempDirectory("graft-et-bridge").toString
    // ONE batch with a 60-minute in-batch gap: splits into two held
    // segments. They must NOT emit yet — the next batch delivers a LATE
    // event (10:20, within the 2 h watermark) that lands inside the gap
    // and bridges both segments into a single session. Early Append-mode
    // emission of the first segment would make that merge impossible.
    val burst = Seq(
      ev(1, "2026-01-01 10:00:00", 1L, 1.0),
      ev(2, "2026-01-01 10:50:00", 1L, 2.0)) // 50 min after 10:00: splits
    burst.toDF().coalesce(1).write.mode("append").parquet(dir)

    val stream = spark.readStream.schema(burst.toDF().schema).parquet(dir).as[Event]
    val q = EventOps.sessionizeEventTime(stream,
        gapDuration = "30 minutes", watermarkDelay = "2 hours").writeStream
      .outputMode("append").format("memory").queryName("et_bridge_out")
      .trigger(Trigger.ProcessingTime("250 milliseconds")).start()
    try {
      def inputRows = q.recentProgress.map(_.numInputRows).sum
      def awaitInput(n: Long): Unit = {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (inputRows < n && System.nanoTime() < deadline) Thread.sleep(250)
        assert(inputRows >= n, s"expected $n input rows processed")
      }
      awaitInput(2)
      // 25 min from BOTH segments: only a merge of held segments can
      // produce the single 10:00-10:50 session the batch twin computes
      val bridge = Seq(ev(3, "2026-01-01 10:25:00", 1L, 4.0))
      bridge.toDF().coalesce(1).write.mode("append").parquet(dir)
      awaitInput(3)
      // closer advances the watermark (13:00 - 2h = 11:00 ... beyond
      // 11:00+30m only with a later ts) well past user 1's last+gap
      val closer = Seq(ev(4, "2026-01-02 20:00:00", 2L, 0.0))
      closer.toDF().coalesce(1).write.mode("append").parquet(dir)
      def emitted = spark.table("et_bridge_out")
      val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
      while (emitted.count() < 1 && System.nanoTime() < deadline) Thread.sleep(250)

      val cols = Seq("user_id", "n_events", "first_ts", "last_ts", "total_value")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
      val expected = rows(EventOps.sessionizeBatch(
        (burst ++ bridge).toDF(), gapMinutes = 30))
      assert(rows(emitted) == expected) // ONE bridged session, 3 events
      assert(emitted.count() == 1)
      assert(emitted.select("n_events").as[Long].head() == 3L)
    } finally q.stop()
  }

  test("dedupStream drops within-watermark duplicates: stream == batch distinct") {
    // Two files with the SAME rows: every event arrives twice across
    // microbatch boundaries; the survivor set must equal batch distinct.
    val dir = java.nio.file.Files.createTempDirectory("dedup_stream").toString
    val rows = eventsBatch.limit(200).select("event_id", "ts", "user_id", "event_type", "value")
    rows.write.parquet(s"$dir/f1.parquet")
    rows.write.parquet(s"$dir/f2.parquet")

    val batchDistinct = rows.dropDuplicates("event_id")
      .orderBy("event_id").collect().toSeq

    val schema = rows.schema
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*/")
    val q = EventOps.dedupStream(stream, Seq("event_id"), watermarkDelay = "2 hours")
      .writeStream.outputMode("append").format("memory").queryName("dedup_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      q.awaitTermination(120000)
      val streamed = spark.table("dedup_out").orderBy("event_id").collect().toSeq
      assert(streamed == batchDistinct)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }
}
