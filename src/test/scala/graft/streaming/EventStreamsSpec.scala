package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

class EventStreamsSpec extends SparkSpec {
  import EventStreams._

  // offset from epoch 0: a row timestamped exactly at the initial
  // watermark (0) is dropped as late data
  private def ts(minutes: Long): Timestamp = new Timestamp(86400000L + minutes * 60000L)

  test("windowed counts aggregate incrementally with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = windowedCounts(input.toDF(), windowLength = "10 minutes", watermark = "30 minutes")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Event(1, ts(1), 1, "click", 1.0),
        Event(2, ts(2), 1, "click", 2.0),
        Event(3, ts(5), 2, "view", 3.0))
      q.processAllAvailable()
      // advance watermark far enough to close the first window
      input.addData(Event(4, ts(120), 1, "click", 1.0))
      q.processAllAvailable()
      val out = spark.table("win_counts").collect()
        .map(r => (r.getAs[Timestamp]("window_start").getTime / 60000, r.getAs[String]("event_type")) ->
          ((r.getAs[Long]("n"), r.getAs[Double]("total_value")))).toMap
      assert(out((1440L, "click")) == ((2L, 3.0)))
      assert(out((1440L, "view")) == ((1L, 3.0)))
    } finally q.stop()
  }

  test("streaming dedup drops repeated keys within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = dedupEvents(input.toDF(), Seq("event_id"), watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup_events")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(1, ts(2), 1, "click", 1.0), // duplicate id
        Event(2, ts(3), 1, "view", 2.0))
      q.processAllAvailable()
      input.addData(Event(1, ts(5), 1, "click", 9.0)) // still within watermark
      q.processAllAvailable()
      val ids = spark.table("dedup_events").collect().map(_.getAs[Long]("event_id")).sorted
      assert(ids.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("sessionization closes sessions on gap and on timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = sessionize(input.toDS(), gapSeconds = 600, watermark = "10 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: two events 5 min apart (one session), then a 30-min gap event
      input.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(5), 1, "click", 2.0),
        Event(3, ts(35), 1, "click", 4.0))
      q.processAllAvailable()
      // push watermark forward to flush the open session via timeout
      input.addData(Event(9, ts(300), 2, "view", 0.0))
      q.processAllAvailable()
      input.addData(Event(10, ts(600), 2, "view", 0.0))
      q.processAllAvailable()
      val sessions = spark.table("sessions").as[Session].collect()
        .filter(_.user_id == 1).sortBy(_.session_start.getTime)
      assert(sessions.length == 2)
      assert(sessions(0).n_events == 2 && sessions(0).total_value == 3.0)
      assert(sessions(1).n_events == 1 && sessions(1).total_value == 4.0)
    } finally q.stop()
  }

  test("sessionization: a late event beyond the open session's reach is its own session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = sessionize(input.toDS(), gapSeconds = 600, watermark = "120 minutes")
      .writeStream.format("memory").queryName("late_sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1 opens a session at minute 60
      input.addData(Event(1, ts(60), 1, "click", 1.0), Event(2, ts(65), 1, "click", 2.0))
      q.processAllAvailable()
      // batch 2 delivers a LATE event at minute 10 — inside the 2 h
      // watermark but more than the 10-min gap BEFORE the open
      // session's start: it must become its own closed session, never
      // fold into (and corrupt) the open one
      input.addData(Event(3, ts(10), 1, "late", 7.0))
      q.processAllAvailable()
      // flush the open session via timeout
      input.addData(Event(9, ts(400), 2, "view", 0.0))
      q.processAllAvailable()
      input.addData(Event(10, ts(700), 2, "view", 0.0))
      q.processAllAvailable()
      val sessions = spark.table("late_sessions").as[Session].collect()
        .filter(_.user_id == 1).sortBy(_.session_start.getTime)
      assert(sessions.length == 2, s"got ${sessions.toSeq}")
      assert(sessions(0).n_events == 1 && sessions(0).total_value == 7.0 &&
        sessions(0).session_start == ts(10))
      assert(sessions(1).n_events == 2 && sessions(1).total_value == 3.0 &&
        sessions(1).session_start == ts(60))
    } finally q.stop()
  }

  test("sessionization: same-batch late events within one gap form ONE session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = sessionize(input.toDS(), gapSeconds = 600, watermark = "240 minutes")
      .writeStream.format("memory").queryName("late_merge_sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1 opens a session at minute 120
      input.addData(Event(1, ts(120), 1, "click", 1.0))
      q.processAllAvailable()
      // batch 2 delivers THREE late events, all > 10-min gap before the
      // open session's start: minutes 10 and 15 are within one gap of
      // each other (one session), minute 40 is not (second session).
      // Emitting three singletons would be wrong.
      input.addData(
        Event(3, ts(10), 1, "late", 1.0),
        Event(4, ts(15), 1, "late", 2.0),
        Event(5, ts(40), 1, "late", 4.0))
      q.processAllAvailable()
      // flush the open session via timeout
      input.addData(Event(9, ts(700), 2, "view", 0.0))
      q.processAllAvailable()
      input.addData(Event(10, ts(1100), 2, "view", 0.0))
      q.processAllAvailable()
      val sessions = spark.table("late_merge_sessions").as[Session].collect()
        .filter(_.user_id == 1).sortBy(_.session_start.getTime)
      assert(sessions.length == 3, s"got ${sessions.toSeq}")
      assert(sessions(0).n_events == 2 && sessions(0).total_value == 3.0 &&
        sessions(0).session_start == ts(10) && sessions(0).session_end == ts(15))
      assert(sessions(1).n_events == 1 && sessions(1).total_value == 4.0 &&
        sessions(1).session_start == ts(40))
      assert(sessions(2).n_events == 1 && sessions(2).session_start == ts(120))
    } finally q.stop()
  }

  test("sessionization: late run merges into a session closed FORWARD in the same batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = sessionize(input.toDS(), gapSeconds = 600, watermark = "240 minutes")
      .writeStream.format("memory").queryName("late_fwd_close_sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1 opens a session spanning minutes 100-105
      input.addData(Event(1, ts(100), 1, "click", 1.0), Event(2, ts(105), 1, "click", 2.0))
      q.processAllAvailable()
      // batch 2 delivers BOTH a chaining late run {85, 92} AND a
      // forward event at 200 that closes the session — the closed
      // session must still absorb the late run: ONE {85..105, n=4}
      input.addData(Event(3, ts(85), 1, "late", 4.0), Event(4, ts(92), 1, "late", 8.0),
        Event(5, ts(200), 1, "click", 16.0))
      q.processAllAvailable()
      val closed = spark.table("late_fwd_close_sessions").as[Session].collect()
        .filter(_.user_id == 1)
      assert(closed.length == 1, s"got ${closed.toSeq}")
      assert(closed(0).session_start == ts(85) && closed(0).session_end == ts(105))
      assert(closed(0).n_events == 4 && closed(0).total_value == 15.0)
    } finally q.stop()
  }

  test("sessionization: a late run chaining up to the open session merges into it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = sessionize(input.toDS(), gapSeconds = 600, watermark = "240 minutes")
      .writeStream.format("memory").queryName("late_chain_sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1 opens a session spanning minutes 100-105
      input.addData(Event(1, ts(100), 1, "click", 1.0), Event(2, ts(105), 1, "click", 2.0))
      q.processAllAvailable()
      // batch 2: minute 85 is late (> gap before start 100); minute 92
      // is within one gap of the start AND of 85 — true batch semantics
      // for {85, 92, 100, 105} is ONE session, not a split
      input.addData(Event(3, ts(85), 1, "late", 4.0), Event(4, ts(92), 1, "late", 8.0))
      q.processAllAvailable()
      // flush via timeout
      input.addData(Event(9, ts(700), 2, "view", 0.0))
      q.processAllAvailable()
      input.addData(Event(10, ts(1100), 2, "view", 0.0))
      q.processAllAvailable()
      val sessions = spark.table("late_chain_sessions").as[Session].collect()
        .filter(_.user_id == 1)
      assert(sessions.length == 1, s"got ${sessions.toSeq}")
      assert(sessions(0).session_start == ts(85) && sessions(0).session_end == ts(105))
      assert(sessions(0).n_events == 4 && sessions(0).total_value == 15.0)
    } finally q.stop()
  }

  test("stream-stream interval join: horizon bounds, key isolation, inclusive edge") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    def slim(df: org.apache.spark.sql.DataFrame, id: String, t: String) =
      df.select(col("event_id").as(id), col("user_id"), col("ts").as(t), col("value"))
        .withWatermark(t, "1 hour")
    val joined = EventStreams.intervalJoin(
      slim(views.toDF(), "view_id", "view_time").drop("value"),
      slim(purchases.toDF(), "purchase_id", "purchase_time"),
      Seq("user_id"), "view_time", "purchase_time", horizonSeconds = 600)
    val q = joined
      .select(col("view_id"), col("purchase_id"))
      .writeStream.format("memory").queryName("ss_join")
      .outputMode(OutputMode.Append).start()
    try {
      views.addData(
        Event(1, ts(0), 1, "view", 0.0),
        Event(2, ts(0), 2, "view", 0.0))
      purchases.addData(
        Event(10, ts(5), 1, "purchase", 5.0),  // within 10 min of view 1
        Event(11, ts(10), 1, "purchase", 6.0), // exactly at the horizon: inclusive
        Event(12, ts(11), 1, "purchase", 7.0), // past the horizon
        Event(13, ts(5), 3, "purchase", 8.0))  // no matching view user
      q.processAllAvailable()
      val got = spark.table("ss_join").collect()
        .map(r => (r.getAs[Long]("view_id"), r.getAs[Long]("purchase_id"))).toSet
      assert(got == Set((1L, 10L), (1L, 11L)), s"got $got")
    } finally q.stop()
  }

  test("checkpoint resume is exactly-once: a restarted query processes only new " +
    "files and restored state suppresses duplicates from before the restart") {
    import spark.implicits._
    val srcDir = tempDir("graft_ckpt_src")
    val outDir = tempDir("graft_ckpt_out").toString + "/out"
    val ckpt = tempDir("graft_ckpt_state").toString

    def stage(name: String, events: Seq[Event]): Unit = {
      val tmp = tempDir("graft_ckpt_stage")
      events.toDF().coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, srcDir.resolve(name))
    }
    val schema = Seq(Event(0, ts(0), 0, "x", 0.0)).toDF().schema

    def runOnce(): Unit = {
      val q = EventStreams.dedupEvents(
        spark.readStream.schema(schema).parquet(srcDir.toString), Seq("event_id"))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    stage("a.parquet", (1L to 5L).map(i => Event(i, ts(i), i % 2, "view", i.toDouble)))
    runOnce()
    assert(spark.read.parquet(outDir).count() == 5)

    // the restart file carries DUPLICATES of already-emitted keys (3..5)
    // plus new keys (6..8): only the restored state can know 3..5 were
    // already seen — re-emission means state was lost, re-reading
    // a.parquet means source progress was lost
    stage("b.parquet", (3L to 8L).map(i => Event(i, ts(i), i % 2, "view", i.toDouble)))
    runOnce()
    val ids = spark.read.parquet(outDir).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (1L to 8L), s"exactly-once violated: $ids")
  }
}
