package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

/** MemoryStream unit tests for the streaming twins (SURVEY §5.2 #4):
  * windows aggregate correctly, watermark advancement closes sessions,
  * dedup-within-watermark drops replays.
  */
/** Top-level (not spec-private): a private inner case class is invisible to
  * Janino, so the Encoder's codegen'd projection fails to compile and every
  * MemoryStream.addData falls back to the interpreted path with a WARN. */
case class StreamsSpecEv(event_id: Long, user_id: Long, event_type: String,
    ts: Timestamp, value: Double, props: String)

class StreamsSpec extends SparkSpec {
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private type Ev = StreamsSpecEv
  private val Ev = StreamsSpecEv

  private def ev(id: Long, user: Long, tpe: String, t: String, v: Double) =
    Ev(id, user, tpe, Timestamp.valueOf(t), v, "{}")

  /** Run a streaming query over the input batches, return the sink rows. */
  private def runStream(
      mode: OutputMode, name: String,
      build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      batches: Seq[Seq[Ev]]): Seq[Seq[Any]] = {
    val input = MemoryStream[Ev]
    val q = build(input.toDF())
      .writeStream.format("memory").queryName(name).outputMode(mode).start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      spark.table(name).collect().toSeq.map(_.toSeq)
    } finally q.stop()
  }

  test("tumbling windows aggregate per hour and event_type") {
    val out = runStream(OutputMode.Complete(), "t_tumble",
      df => Streams.tumbling(df),
      Seq(Seq(
        ev(1, 1, "click", "2024-01-01 10:05:00", 1.0),
        ev(2, 1, "click", "2024-01-01 10:55:00", 2.0),
        ev(3, 2, "view", "2024-01-01 11:05:00", 5.0))))
    val byKey = out.map(r => (r(0).toString, r(2)) -> (r(3), r(4))).toMap
    byKey(("2024-01-01 10:00:00.0", "click")) shouldBe ((2L, 3.0))
    byKey(("2024-01-01 11:00:00.0", "view")) shouldBe ((1L, 5.0))
  }

  test("sliding windows place one event into 4 overlapping windows") {
    val out = runStream(OutputMode.Complete(), "t_slide",
      df => Streams.sliding(df),
      Seq(Seq(ev(1, 1, "click", "2024-01-01 10:05:00", 1.0))))
    out.size shouldBe 4
    out.map(_(2)) shouldBe Seq(1L, 1L, 1L, 1L)
  }

  test("sessions close when the watermark passes; gap merges events") {
    val out = runStream(OutputMode.Append(), "t_sess",
      df => Streams.session(df),
      Seq(
        // two events 10 min apart -> one session for user 1
        Seq(ev(1, 1, "c", "2024-01-01 10:00:00", 1.0),
          ev(2, 1, "c", "2024-01-01 10:10:00", 2.0)),
        // late-hour event advances the watermark far past the session end,
        // forcing the closed session to emit in append mode
        Seq(ev(3, 2, "c", "2024-01-01 13:00:00", 9.0))))
    out.size shouldBe 1
    val r = out.head
    r(0) shouldBe 1L                                  // user_id
    r(1).toString shouldBe "2024-01-01 10:00:00.0"    // session start
    r(2).toString shouldBe "2024-01-01 10:40:00.0"    // last ts + 30min gap
    r(3) shouldBe 2L
    r(4) shouldBe 3.0
  }

  test("upsert step merges each micro-batch with last-writer-wins per key") {
    val input = MemoryStream[Ev]
    // in-memory "table" stand-in for the destination storage: any store
    // can keep fold state
    var table = Seq((1L, "keep", 0.0)).toDF("user_id", "event_type", "value")
    val state = new Streams.FoldState {
      def read(epoch: Long): org.apache.spark.sql.DataFrame = table
      def write(epoch: Long, merged: org.apache.spark.sql.DataFrame): Unit = table = merged.localCheckpoint()
    }
    val q = Streams.foldSink(input.toDF().select($"user_id", $"event_type", $"value"),
        Streams.upsert(keys = Seq("user_id"), orderCol = "value"))(state).start()
    try {
      input.addData(Seq(ev(1, 2, "a", "2024-01-01 10:00:00", 1.0)))
      q.processAllAvailable()
      input.addData(Seq(
        ev(2, 2, "b", "2024-01-01 10:01:00", 2.0),   // overwrites user 2
        ev(3, 3, "c", "2024-01-01 10:02:00", 3.0)))  // new key
      q.processAllAvailable()
      table.collect().map(_.toSeq).toSet shouldBe Set(
        Seq(1L, "keep", 0.0), Seq(2L, "b", 2.0), Seq(3L, "c", 3.0))
    } finally q.stop()
  }

  test("jdbcUpsertSink: micro-batches MERGE into live Derby; redelivery is idempotent") {
    import graft.engine.Sources
    System.setProperty("derby.system.home",
      java.nio.file.Files.createTempDirectory("graft_derby_stream").toString)
    val cfg = Sources.JdbcConfig(
      "jdbc:derby:memory:streamdb;create=true", "app", "app")
    val input = MemoryStream[Ev]
    val q = Streams.jdbcUpsertSink(input.toDF(), cfg, "stream_ups",
      keys = Seq("event_id"), orderCol = "ts").start()
    val replay = Seq(
      ev(2, 11, "purchase", "2024-01-01 10:05:00", 9.0), // overwrites event 2
      ev(3, 12, "click", "2024-01-01 10:06:00", 3.0))    // new key
    try {
      input.addData(Seq(
        ev(1, 10, "click", "2024-01-01 10:00:00", 1.0),
        ev(2, 11, "click", "2024-01-01 10:01:00", 2.0)))
      q.processAllAvailable() // batch 1 creates the table (first-load path)
      input.addData(replay)
      q.processAllAvailable() // batch 2 MERGEs through the stage table
      val got = Sources.jdbcTable(spark, cfg, "stream_ups")
        .select("event_id", "event_type", "value")
        .collect().map(_.toSeq).toSet
      got shouldBe Set(
        Seq(1L, "click", 1.0), Seq(2L, "purchase", 9.0), Seq(3L, "click", 3.0))
      // foreachBatch is at-least-once: a REDELIVERED batch must not change
      // the destination — the keyed MERGE is what makes the sink safe
      Sources.jdbcUpsert(replay.toDF(), cfg, "stream_ups",
        Seq("event_id"), orderCol = "ts")
      Sources.jdbcTable(spark, cfg, "stream_ups")
        .select("event_id", "event_type", "value")
        .collect().map(_.toSeq).toSet shouldBe got
    } finally q.stop()
  }

  test("interval join matches purchases to preceding clicks, two live streams") {
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val q = Streams.intervalJoin(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("t_ij")
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData(Seq(
        ev(10, 1, "click", "2024-01-01 10:00:00", 1.0),
        ev(11, 1, "click", "2024-01-01 10:08:00", 1.0),
        ev(12, 2, "click", "2024-01-01 10:00:00", 1.0)))
      purchases.addData(Seq(
        // user 1 purchase at 10:09 → joins clicks at 10:00 (9min) and 10:08 (1min)
        ev(20, 1, "purchase", "2024-01-01 10:09:00", 5.0),
        // user 2 purchase at 10:30 → its only click is 30min stale, no match
        ev(21, 2, "purchase", "2024-01-01 10:30:00", 5.0)))
      q.processAllAvailable()
      val out = spark.table("t_ij").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      out.toSet shouldBe Set((20L, 10L, 540000L), (20L, 11L, 60000L))
    } finally q.stop()
  }

  test("left-outer interval join withholds unmatched purchases until the watermark proves no click can arrive") {
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val q = Streams.intervalJoin(clicks.toDF(), purchases.toDF(),
        joinType = "left_outer")
      .writeStream.format("memory").queryName("t_ij_left")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 5 purchases at 10:00 and NO click for user 5 ever arrives;
      // a user-9 click initializes the click-side watermark
      clicks.addData(Seq(ev(90, 9, "click", "2024-01-01 10:00:00", 1.0)))
      purchases.addData(Seq(ev(30, 5, "purchase", "2024-01-01 10:00:00", 5.0)))
      q.processAllAvailable()
      // the NULL-click row must NOT be emitted yet: the watermark (09:50)
      // hasn't proven that no qualifying click can still arrive
      spark.table("t_ij_left").collect()
        .filter(_.getLong(0) == 30L) shouldBe empty
      // advance BOTH sides far past purchase-ts + window (the join watermark
      // is the min over inputs); the new watermark takes effect in the batch
      // AFTER the one that observed the late events — hence two rounds
      clicks.addData(Seq(ev(91, 9, "click", "2024-01-01 13:00:00", 1.0)))
      purchases.addData(Seq(ev(31, 9, "purchase", "2024-01-01 13:00:00", 1.0)))
      q.processAllAvailable()
      clicks.addData(Seq(ev(92, 9, "click", "2024-01-01 13:01:00", 1.0)))
      purchases.addData(Seq(ev(32, 9, "purchase", "2024-01-01 13:01:00", 1.0)))
      q.processAllAvailable()
      // now the unmatched purchase emits exactly once, with NULL click
      val unmatched = spark.table("t_ij_left").collect()
        .filter(_.getLong(0) == 30L)
      unmatched.length shouldBe 1
      unmatched.head.isNullAt(1) shouldBe true // click_id
      unmatched.head.isNullAt(3) shouldBe true // delay_ms
    } finally q.stop()
  }

  test("interval-join state expires at watermark + window (bounded state on unbounded streams)") {
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val q = Streams.intervalJoin(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("t_ij_state")
      .outputMode(OutputMode.Append()).start()
    def stateRows: Long =
      Option(q.lastProgress).toSeq.flatMap(_.stateOperators.toSeq)
        .map(_.numRowsTotal).sum
    try {
      // 6 clicks + 1 purchase buffered at ~10:00
      clicks.addData((1L to 6L).map(i =>
        ev(100 + i, i, "click", "2024-01-01 10:00:00", 1.0)))
      purchases.addData(Seq(ev(40, 1, "purchase", "2024-01-01 10:05:00", 5.0)))
      q.processAllAvailable()
      val before = stateRows
      before should be >= 7L
      // advance both watermarks past 10:0x + window; eviction happens in the
      // batch AFTER the watermark-advancing one (watermark is computed from
      // the previous batch's max event time)
      clicks.addData(Seq(ev(190, 9, "click", "2024-01-01 13:00:00", 1.0)))
      purchases.addData(Seq(ev(41, 9, "purchase", "2024-01-01 13:00:00", 1.0)))
      q.processAllAvailable()
      clicks.addData(Seq(ev(191, 9, "click", "2024-01-01 13:01:00", 1.0)))
      purchases.addData(Seq(ev(42, 9, "purchase", "2024-01-01 13:01:00", 1.0)))
      q.processAllAvailable()
      // every ~10:00 row must be gone; only the 4 recent advancing events
      // may remain buffered. If the watermark bounds were dropped from the
      // join, state would only ever GROW and this assertion fails.
      val after = stateRows
      after should be < before
      after should be <= 4L
    } finally q.stop()
  }

  test("dedup within watermark drops replayed event_ids") {
    val out = runStream(OutputMode.Append(), "t_dedup",
      df => Streams.dedup(df),
      Seq(
        Seq(ev(1, 1, "c", "2024-01-01 10:00:00", 1.0)),
        Seq(ev(1, 1, "c", "2024-01-01 10:00:30", 1.0), // replay of id=1 -> dropped
          ev(2, 1, "c", "2024-01-01 10:01:00", 2.0))))
    out.map(_(0)).toSet shouldBe Set(1L, 2L)
  }
}
