package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.ops.{Audit, Dedup, Events, Llm, Pipeline, Stats, Text}

/** Structured Streaming over the REAL parquet fixtures (file source, not
  * MemoryStream): every streaming twin must equal its oracle-checked batch
  * op — stream/batch parity is the property that lets the same op
  * definitions serve both modes. The fold twins are one table
  * ([[FileStreamParitySpec.folds]]), one named test per row.
  */
class FileStreamParitySpec extends SparkSpec {
  import FileStreamParitySpec._

  private def batchOp(op: String): DataFrame = graft.SparkEntry.queries(op)(spark, Dir01)

  /** Three time-ordered thirds of `ev` (cut at the ts percentiles): with
    * maxFilesPerTrigger=1 each is its own micro-batch, so the watermark
    * genuinely advances mid-stream and no event arrives behind it. */
  private def thirds(ev: DataFrame): Seq[DataFrame] = {
    val us = unix_micros(col("ts").cast("timestamp"))
    val cuts = ev.agg(percentile(us, array(lit(1.0 / 3), lit(2.0 / 3))))
      .collect()(0).getSeq[Double](0).map(_.toLong)
    Seq(ev.filter(us < cuts(0)), ev.filter(us >= cuts(0) && us < cuts(1)),
      ev.filter(us >= cuts(1)))
  }

  /** The latest event moved `days` into the future: its arrival pushes the
    * watermark past every real window, and append mode only emits a
    * window once the watermark PROVES it is complete. */
  private def sentinel(ev: DataFrame, days: Int): DataFrame =
    ev.orderBy(col("ts").desc).limit(1)
      .withColumn("ts", col("ts") + expr(s"INTERVAL $days DAYS"))

  /** Stream `out` into the memory table `name` and drain it: at least
    * `batches` data micro-batches, and (when `watermark`) a watermark that
    * moved at least once between them. Returns the table. */
  private def drained(out: org.apache.spark.sql.Dataset[_], name: String, mode: String,
      batches: Int, watermark: Boolean): DataFrame = {
    val q = out.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try {
      q.processAllAvailable()
      q.recentProgress.count(_.numInputRows > 0) should be >= batches
      if (watermark) q.recentProgress.toSeq
        .flatMap(p => Option(p.eventTime.get("watermark"))).distinct.size should be >= 2
    } finally q.stop()
    spark.table(name)
  }

  test("file-source interval join: micro-batch watermark advance, equals the batch join") {
    val ev = graft.Tables(spark, Dir01, "events")
      .filter(col("event_type").isin("click", "purchase")).cache()
    val staged = stageChunks("events_ij_stream", thirds(ev))
    def branch(stream: DataFrame, tpe: String): DataFrame =
      stream.filter(col("event_type") === tpe)
    val stream = fileStream(ev, staged)
    val streamed = drained(Streams.intervalJoin(branch(stream, "click"), branch(stream, "purchase")),
      "t_file_ij", "append", 3, watermark = true).collect().map(_.toSeq).toSet
    streamed shouldBe batchOp("stream_interval_join").collect().map(_.toSeq).toSet
    streamed should not be empty

    // left-outer flavor: NULL-click purchases may only emit once the
    // watermark PROVES no qualifying click can still arrive — their
    // appearance is itself evidence of mid-stream watermark finalization
    val stream2 = fileStream(ev, staged)
    val (unmatched, matched) = drained(Streams.intervalJoin(branch(stream2, "click"),
        branch(stream2, "purchase"), joinType = "left_outer"), "t_file_ij_left", "append", 0, watermark = false)
      .collect().partition(_.isNullAt(1))
    matched.map(_.toSeq).toSet shouldBe streamed
    unmatched should not be empty // finalized by watermark advance
    // every emitted NULL row is a genuine batch-side unmatched purchase
    val batchNull = batchOp("stream_interval_join_left")
      .filter(col("click_id").isNull).collect().map(_.getLong(0)).toSet
    unmatched.map(_.getLong(0)).foreach(pid => batchNull should contain(pid))
  }

  test("file-source Streams.tumbling equals the oracle-checked batch twin") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // raw on-disk schema; mirror Tables' conversion, which is conditional —
    // older fixture generations stored ts as nanos-as-long, current ones as
    // a real µs timestamp (read back TIMESTAMP_NTZ, no conversion needed)
    val rawSchema = spark.read.parquet(s"$Dir001/events.parquet").schema
    def convert(df: DataFrame): DataFrame =
      if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else df
    // the file source wants a directory: stage the fixture file into one
    val staged = Files.createTempDirectory("events_stream")
    Files.copy(Paths.get(s"$Dir001/events.parquet"), staged.resolve("events.parquet"))
    val stream = convert(spark.readStream.schema(rawSchema).parquet(staged.toString))
    // drive the REAL streaming op (decimal-exact sums in-op, so parity is
    // exact, not float-combine-order dependent)
    val streamed = canon(drained(Streams.tumbling(stream), "t_file_parity", "complete", 0,
      watermark = false).collect())
    streamed shouldBe canon(graft.SparkEntry.queries("stream_tumbling")(spark, Dir001).collect())
    streamed should not be empty
  }

  test("file-source Streams.session: append-mode watermark finalization equals the batch twin") {
    val ev = graft.Tables(spark, Dir01, "events").cache()
    // the sentinel (user_id = -1) closes every real session
    val staged = stageChunks("events_sess_stream",
      thirds(ev) :+ sentinel(ev, 2).withColumn("user_id", lit(-1L)))
    val streamed = canon(drained(Streams.session(fileStream(ev, staged)), "t_file_sess", "append",
      4, watermark = true).filter(col("user_id") =!= -1L).collect()) // drop the sentinel's own session
    streamed shouldBe canon(batchOp("stream_session").collect()) // ALL sessions
    streamed should not be empty
  }

  test("file-source Streams.sliding: append-mode watermark finalization equals the batch twin") {
    val ev = graft.Tables(spark, Dir01, "events").cache()
    val maxTs = ev.agg(max(unix_micros(col("ts").cast("timestamp")))).collect()(0).getLong(0)
    val staged = stageChunks("events_slide_stream", thirds(ev) :+ sentinel(ev, 2))
    // sentinel-only windows start after every real event (sentinel ts is
    // maxTs + 2 days; a 1h window containing a real event starts ≤ its ts)
    val streamed = canon(drained(Streams.sliding(fileStream(ev, staged)), "t_file_slide", "append",
      4, watermark = true).filter(unix_micros(col("ws")) <= maxTs).collect())
    streamed shouldBe canon(batchOp("stream_sliding").collect()) // ALL windows
    streamed should not be empty
  }

  test("file-source CustomState.patternConverted: CEP state fold equals the batch event_pattern") {
    import spark.implicits._
    val ev = graft.Tables(spark, Dir01, "events")
      .withColumn("ts", col("ts").cast("timestamp")) // Event encoder wants an instant
      .cache()
    // three time-ordered chunks, one micro-batch each, so per-user CEP
    // state genuinely carries ACROSS micro-batches and the watermark
    // advances mid-stream. No sentinel needed: flatMapGroupsWithState
    // emits matches the moment the purchase is processed.
    //
    // The first cut is chosen ON PURPOSE between a converting pair's click
    // and its purchase (a percentile cut almost never straddles a 10 min
    // window), so at least one conversion provably rides on state carried
    // from an earlier micro-batch — recomputed below as `carried`.
    val log = ev.select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tus"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(r => (r._3, r._1))
    val maxTus = log.map(_._3).max
    // local replay of the op's rule: converting purchases with a STRICTLY
    // earlier click (a cut can only separate distinct timestamps)
    val lc = mutable.Map.empty[Long, (Long, Boolean)] // user -> (clickTus, blocked)
    val pairs = Seq.newBuilder[(Long, Long)] // (clickTus, purchaseTus)
    log.foreach {
      case (_, u, tus, "click") => lc(u) = (tus, false)
      case (_, u, tus, "error") =>
        lc.get(u).foreach { case (c, b) => lc(u) = (c, b || tus > c) }
      case (_, u, tus, "purchase") =>
        lc.get(u).foreach { case (c, blocked) =>
          if (!blocked && c >= tus - 600000000L && c < tus) pairs += ((c, tus)) }
      case _ => ()
    }
    val mid = pairs.result().minBy(p => math.abs(p._2 - (log.head._3 + maxTus) / 2))
    val cutB = (mid._2 + (maxTus - mid._2) / 2) max (mid._2 + 1)
    val cuts = Seq(mid._2, cutB) // click < cut(0) <= purchase; third chunk non-empty
    cutB should be < maxTus
    val us = unix_micros(col("ts"))
    val staged = stageChunks("events_cep_stream", Seq(ev.filter(us < cuts(0)),
      ev.filter(us >= cuts(0) && us < cuts(1)), ev.filter(us >= cuts(1))))
    val stream = fileStream(ev, staged).as[CustomState.Event]
    val streamed = drained(CustomState.patternConverted(stream)(spark), "t_file_cep", "append",
      3, watermark = true).collect().map(_.toSeq).toSet
    streamed shouldBe batchOp("event_pattern").collect().map(_.toSeq).toSet
    // non-vacuity: the fixture must exercise BOTH branches...
    streamed.map(_(2)) shouldBe Set(true, false)
    // ...and the cross-batch state carry must actually occur: at least
    // one converted purchase whose LATEST preceding click sits in an
    // EARLIER chunk (guaranteed by the cut construction above)
    def chunkOf(tus: Long) = if (tus < cuts(0)) 0 else if (tus < cuts(1)) 1 else 2
    val converted = streamed.collect { case s if s(2) == true => s(0).asInstanceOf[Long] }
    val lastClick = mutable.Map.empty[Long, (Long, Long)] // user -> (tus, id)
    var carried = 0
    log.foreach {
      case (id, u, tus, "click") => lastClick(u) = (tus, id)
      case (id, u, tus, "purchase")
        if converted(id) && lastClick.get(u).exists(c => chunkOf(c._1) < chunkOf(tus)) =>
        carried += 1
      case _ => ()
    }
    carried should be > 0
  }

  test("file-source Streams.dedup: duplicates collapse across micro-batches; output equals the distinct log") {
    val ev = graft.Tables(spark, Dir01, "events").cache()
    val third = thirds(ev)
    // duplicate discipline: every chunk redelivers a deterministic sample
    // of ITSELF (intra-batch duplicates — always collapsed), and chunk1
    // redelivers chunk0's LATEST row — a cross-micro-batch duplicate whose
    // dedup state is provably still live when it arrives (its ts equals the
    // previous batch's max, which is AHEAD of the 10-min-lagged watermark)
    val lastOf0 = third(0).orderBy(col("ts").desc, col("event_id").desc).limit(1)
    def withDups(c: DataFrame) = c.union(c.filter(col("event_id") % 7 === 0))
    val staged = stageChunks("events_dedup_stream",
      Seq(withDups(third(0)), withDups(third(1)).union(lastOf0), withDups(third(2))))
    // the staged log genuinely carries duplicates
    spark.read.parquet(staged.toString).count() should be > ev.count()
    val streamed = canon(drained(Streams.dedup(fileStream(ev, staged)), "t_file_dedup", "append",
      3, watermark = true).collect())
    // event_id is unique in the fixture, so exactly-once delivery of the
    // staged log's distinct set IS the original event set
    streamed shouldBe canon(ev.withColumn("ts", col("ts").cast("timestamp")).collect())
    streamed should not be empty
  }

  test("file-source Streams.throttle: one survivor per (user, bucket) across micro-batches") {
    val ev = graft.Tables(spark, Dir01, "events").cache()
    // time-ordered thirds: a 5-min bucket spans at most one chunk boundary
    // and its state is always younger than the 10-min watermark lag when
    // its tail arrives — so the at-most-one guarantee is exact here
    val staged = stageChunks("events_throttle_stream", thirds(ev))
    val out = drained(Streams.throttle(fileStream(ev, staged)), "t_file_throttle", "append",
      3, watermark = true).cache()
    // WHICH event survives is arrival-order-dependent in streaming (the
    // batch twin pins the (ts, event_id) minimum) — the shared invariant
    // is the throttled KEY SET: exactly one survivor per active bucket
    val streamedKeys = canon(out.select("user_id", "ws").collect())
    streamedKeys shouldBe canon(batchOp("stream_throttle").select("user_id", "ws").collect())
    out.count() shouldBe streamedKeys.size.toLong // one row per key
    out.count() should be < ev.count() // the throttle actually dropped rows
  }

  test("file-source Streams.ohlc: daily bars emitted on watermark close equal the batch bars") {
    val ev = graft.Tables(spark, Dir01, "events").cache()
    // sentinel in its own far-future day AND a marker type, so its bar is
    // identifiable; its arrival closes every real day's bars
    val staged = stageChunks("events_ohlc_stream",
      thirds(ev) :+ sentinel(ev, 3).withColumn("event_type", lit("zzz_sentinel")))
    val streamed = canon(drained(Streams.ohlc(fileStream(ev, staged)), "t_file_ohlc", "append",
      4, watermark = true).filter(col("event_type") =!= "zzz_sentinel").collect())
    // batch twin's DateType day → midnight instant, matching window.start
    streamed shouldBe canon(batchOp("time_ohlc")
      .select(col("day").cast("timestamp").as("ws"), col("event_type"), col("open"),
        col("high"), col("low"), col("close"), col("n"), col("volume")).collect())
    streamed should not be empty
  }

  test("file-source Streams.intervalMerge: dynamic-gap sessions equal the batch islands") {
    val ev = graft.Tables(spark, Dir01, "events").cache()
    // guard for the one boundary where Spark's session merge (strict
    // overlap) and the batch op (touch merges too) could differ: assert
    // the fixture has NO exact-touch interval boundary — with that, the
    // two definitions provably coincide
    val prior = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("sus").asc, col("event_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val k = get_json_object(col("props"), "$.k").cast("int")
    val touches = ev.filter(k >= 1) // op contract
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("sus"),
        (unix_micros(col("ts").cast("timestamp")) + k * lit(60000000L)).as("eus"))
      .withColumn("mprev", max("eus").over(prior))
      .filter(col("sus") === col("mprev")).count()
    touches shouldBe 0L
    val staged = stageChunks("events_ivm_stream",
      thirds(ev) :+ sentinel(ev, 4).withColumn("user_id", lit(-1L)))
    val streamed = canon(drained(Streams.intervalMerge(fileStream(ev, staged)), "t_file_ivm", "append",
      4, watermark = true).filter(col("user_id") =!= -1L).select("user_id", "start", "end", "n_events")
      .collect())
    streamed shouldBe batchOp("interval_merge")
      .select("user_id", "start_us", "end_us", "n_events").collect().map(_.toSeq).toSet
    streamed should not be empty
  }

  test("file-source stream-static enrichment: broadcast dim join over streamed facts equals the batch join_broadcast") {
    val cust = graft.Tables(spark, Dir01, "customer").cache()
    val staged = stageChunks("cust_enrich_stream",
      (0 until 3).map(i => cust.filter(pmod(col("c_custkey"), lit(3)) === i)))
    // static sides are plain batch DataFrames — the stream-static shape
    val streamed = drained(Streams.enrich(fileStream(cust, staged), graft.Tables(spark, Dir01, "nation"),
      graft.Tables(spark, Dir01, "region")), "enrich_sink", "append", 3, watermark = false)
      .collect().map(_.toSeq).toSet
    streamed shouldBe batchOp("join_broadcast").collect().map(_.toSeq).toSet
    streamed should not be empty
  }

  folds.foreach { f =>
    test(f.name) {
      val r = drive(f, Dir01, restart = false)(foldSink(f))
      checkViews(r)
      f.extra(r)
    }
  }
}

object FileStreamParitySpec extends Matchers {
  private def spark = SparkSpec.spark
  val Dir001 = "/root/testdata/sf0.001"
  val Dir01 = "/root/testdata/sf0.01"

  /** Row set with timestamps canonicalized to epoch-µs: the streaming
    * twins watermark on an instant column (their window bounds collect as
    * java.sql.Timestamp), while the batch twins are type-preserving over
    * the fixture's TIMESTAMP_NTZ (java.time.LocalDateTime). Session tz is
    * pinned UTC, so both readings denote the same instant — parity is
    * about VALUES. */
  def canon(rows: Array[Row]): Set[Seq[Any]] = {
    def us(i: java.time.Instant) = i.getEpochSecond * 1000000L + i.getNano / 1000
    rows.map(_.toSeq.map {
      case t: java.sql.Timestamp => us(t.toInstant)
      case t: java.time.LocalDateTime => us(t.toInstant(java.time.ZoneOffset.UTC))
      case x => x
    }).toSet
  }

  /** Stage time-ordered chunk files for a maxFilesPerTrigger=1 file
    * source: one parquet file per chunk, mtimes spaced a minute apart so
    * the source's modification-time ordering matches chunk order. One
    * write job stages every chunk: chunk i lands alone in partition
    * directory `__chunk=i`. */
  def stageChunks(prefix: String, chunks: Seq[DataFrame]): Path = {
    val staged = Files.createTempDirectory(prefix)
    val parts = Files.createTempDirectory(s"${prefix}_parts")
    chunks.zipWithIndex.map { case (c, i) => c.withColumn("__chunk", lit(i)) }
      .reduce(_ unionByName _).repartition(col("__chunk"))
      .write.mode("overwrite").partitionBy("__chunk").parquet(parts.toString)
    chunks.indices.foreach { i =>
      val dir = parts.resolve(s"__chunk=$i")
      require(Files.isDirectory(dir), s"$prefix: chunk $i is empty")
      val part = Files.list(dir).toArray.map(_.toString).filter(_.endsWith(".parquet")).head
      val dest = staged.resolve(s"chunk$i.parquet")
      Files.copy(Paths.get(part), dest)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1755000000000L + i * 60000))
    }
    staged
  }

  /** A maxFilesPerTrigger=1 file stream over staged chunks of `src`. */
  def fileStream(src: DataFrame, staged: Path): DataFrame =
    spark.readStream.schema(src.schema).option("maxFilesPerTrigger", 1).parquet(staged.toString)

  /** A streamed table: where its rows come from (per data dir), the id its
    * hash split keys on, and the stream-side prep its twin's input needs. */
  final case class Input(name: String, id: String, load: String => DataFrame,
      prep: String => DataFrame => DataFrame)
  private def table(name: String, id: String) =
    Input(name, id, dir => graft.Tables(spark, dir, name), _ => identity)
  val EventLog = table("events", "event_id")
  val Documents = table("documents", "doc_id")
  /** dedup_incremental's history leg (the ~80% salted-hash split). */
  val History = Input("history", "doc_id", dir => Dedup.histLeg(Documents.load(dir)), _ => identity)
  /** The live encoder output joined to the static documents dim. */
  val Embeddings = table("embeddings", "vec_id")
    .copy(prep = dir => Llm.driftHalves(_, Documents.load(dir).select("doc_id", "lang")))

  final case class Split(name: String, cut: (DataFrame, String) => Seq[DataFrame])
  /** Every chunk spans the full time range: algebraic partials must wash
    * out of any batch composition and order. */
  val Hash = Split("hash", (df, id) => (0 until 3).map(i => df.filter(pmod(col(id), lit(3)) === i)))
  /** Time-ordered chunks (NULL-ts rows ride the first batch — they sort
    * first in every asc-nulls-first batch window, so arrival order matches
    * the batch ops' global order). */
  val Time = Split("time", (ev, _) => {
    val (a, b) = (lit("2024-01-12").cast("timestamp"), lit("2024-01-24").cast("timestamp"))
    Seq(ev.filter(col("ts") < a || col("ts").isNull),
      ev.filter(col("ts") >= a && col("ts") < b), ev.filter(col("ts") >= b))
  })
  /** Arrival-ordered chunks on the SAME jittered arrival time watermark_audit
    * models (the shared wmProjected projection). */
  val Arrival = Split("arrival", (ev, _) => {
    val proj = Events.wmProjected(ev).select(col("event_id").as("p_eid"), col("aus"))
    val evA = ev.join(proj, col("event_id") <=> col("p_eid")).cache()
    val (a, b) = (unix_micros(lit("2024-01-12").cast("timestamp")),
      unix_micros(lit("2024-01-24").cast("timestamp")))
    Seq(col("aus") < a || col("aus").isNull, col("aus") >= a && col("aus") < b, col("aus") >= b)
      .map(p => evA.filter(p).drop("p_eid", "aus"))
  })

  /** One fold drive's outcome: the data dir, the stores, their final
    * states, and the chunks that were streamed. */
  final case class Run(fold: Fold, dir: String, stores: Seq[Streams.FoldState.Parquet],
      states: Seq[DataFrame], chunks: Seq[DataFrame])
  /** A view over the final states and the batch op it must equal: as a
    * set of canonical rows, or `ordered` when the order is the contract. */
  final case class Check(op: String, view: Run => DataFrame, cols: Seq[String], ordered: Boolean)
  /** One fold twin: stream `input` cut by `split` through `step` into
    * states declared by `ddls` (the state a view reads comes first). */
  final case class Fold(name: String, input: Input, split: Split, ddls: Seq[String],
      step: Streams.Step, checks: Seq[Check], extra: Run => Unit) {
    def also(e: Run => Unit): Fold = copy(extra = e)
  }
  def fold(name: String, input: Input, split: Split, ddls: String*)(
      step: Streams.Step, checks: Check*): Fold = Fold(name, input, split, ddls, step, checks, _ => ())
  def on(op: String, view: DataFrame => DataFrame) =
    Check(op, r => view(r.states.head), Nil, ordered = false)
  private def on2(op: String, view: (DataFrame, DataFrame) => DataFrame) =
    Check(op, r => view(r.states(0), r.states(1)), Nil, ordered = false)

  def result(c: Check, df: DataFrame): Iterable[Seq[Any]] = {
    val d = if (c.cols.isEmpty) df else df.select(c.cols.map(col): _*)
    if (c.ordered) d.collect().map(_.toSeq).toSeq else canon(d.collect())
  }

  /** Every view of `r` equals its batch op over the same data dir. */
  def checkViews(r: Run): Unit = r.fold.checks.foreach { c =>
    val streamed = result(c, c.view(r))
    withClue(s"${c.op}: ") { streamed shouldBe result(c, graft.SparkEntry.queries(c.op)(spark, r.dir)) }
    streamed should not be empty
  }

  /** Redelivery honesty for idempotent folds (presence, MIN, MAX, CDC
    * versions): refolding an already-applied chunk moves no state and no
    * view. */
  private val redelivered: Run => Unit = r => {
    val again = r.copy(states = r.fold.step(r.states, r.chunks.head))
    again.states.map(s => canon(s.collect())) shouldBe r.states.map(s => canon(s.collect()))
    r.fold.checks.foreach(c => result(c, c.view(again)) shouldBe result(c, c.view(r)))
  }
  private def positive(n: Long): Unit = n should be > 0L
  private def docs01() = graft.Tables(spark, Dir01, "documents")

  val folds: Seq[Fold] = Seq(
    // chunks split by event_id HASH, not time: every chunk spans the full
    // time range, so later micro-batches genuinely deliver OLDER events
    // for keys already in state — the version comparison, not arrival
    // order, must decide every merge; the view is over the SAME full log
    fold("file-source CDC apply: out-of-order micro-batches converge to the batch twin; redelivery is a no-op",
      EventLog, Hash, "k BIGINT, deleted BOOLEAN, v DECIMAL(18,2), wts TIMESTAMP, wid BIGINT")(Streams.cdc,
      Check("cdc_apply", r => Streams.cdcView(graft.Tables(spark, r.dir, "customer"), r.states.head),
        Nil, ordered = false)).also(redelivered),
    fold("file-source top-k sink: count-state fold over hash-split micro-batches equals the batch twin",
      EventLog, Hash, "ws TIMESTAMP, event_type STRING, n BIGINT")(Streams.topk,
      on("stream_topk", Streams.topkView).copy(cols = Seq("ws", "event_type", "n", "rn"))),
    fold("file-source rate-alert sink: hourly-count fold over hash-split batches equals the batch op",
      EventLog, Hash, "user_id BIGINT, hidx BIGINT, n BIGINT")(Streams.rateAlert,
      on("rate_alert", graft.ops.rateAlertOver)),
    fold("file-source drift sink: grid fold over hash-split batches equals the batch drift_report",
      EventLog, Hash, "event_type STRING, bin BIGINT, c_ref BIGINT, c_cur BIGINT")(Streams.drift,
      on("drift_report", Streams.driftView)),
    // the per-day moments are EXACT decimal sums, so batch composition
    // washes out bit-for-bit; one state serves both monitors
    fold("file-source t-test sink: decimal moment fold over hash-split batches equals the batch ab_ttest",
      EventLog, Hash, "day TIMESTAMP, n_a BIGINT, sx_a DECIMAL(38,2), sxx_a DECIMAL(38,4), " +
        "n_b BIGINT, sx_b DECIMAL(38,2), sxx_b DECIMAL(38,4)")(Streams.ttest,
      on("ab_ttest", Streams.ttestView), on("ab_sequential", Stats.seqView)),
    fold("file-source seasonal-anomaly sink: hour-count fold over hash-split batches equals the batch op",
      EventLog, Hash, "hts TIMESTAMP, n BIGINT")(Streams.seasonal,
      on("anomaly_seasonal", Events.seasonalView)),
    // TIME split on purpose: the train batches arrive first, then the
    // holdout batches — a user FLIPS from clean to leaked mid-stream, so
    // the flags must be a view over the fold, never folded state
    fold("file-source leakage sink: (type,user) grid fold over TIME-split batches equals the batch split_temporal",
      EventLog, Time, "event_type STRING, user_id BIGINT, n_tr BIGINT, n_ho BIGINT")(Streams.leak,
      on("split_temporal", Audit.splitTemporalView)).also { r =>
      def leaked(s: DataFrame) =
        Audit.splitTemporalView(s).agg(sum("u_leaked")).collect().head.getLong(0)
      leaked(r.stores.head.at(1)) shouldBe 0L // after the train batches alone...
      leaked(r.stores.head.at(2)) shouldBe 0L
      positive(leaked(r.states.head)) // ...and leaked once the holdout lands
    },
    fold("file-source changepoint sink: integer-cents grid fold over hash-split batches equals the batch changepoint_cusum",
      EventLog, Hash, "event_type STRING, day TIMESTAMP, cents BIGINT")(Streams.cusum,
      on("changepoint_cusum", Stats.cusumView)),
    fold("file-source classifier-monitor sink: confusion-grid fold over hash-split batches equals the batch lang_id_eval",
      Documents, Hash, "lang STRING, pred_lang STRING, n BIGINT")(Streams.lang,
      on("lang_id_eval", Text.langConfusionView).copy(ordered = true)),
    fold("file-source routing sink: (source, pred_lang) cell fold over hash-split document batches equals the batch lang_routing",
      Documents, Hash, "source STRING, pred_lang STRING, n BIGINT, n_tok BIGINT, n_mixed BIGINT")(
      Streams.route, on("lang_routing", Text.routeView)),
    // both states are algebraic counts: the MERGEABILITY that makes a
    // count-min sketch a sketch, asserted end-to-end (ranking included)
    fold("file-source heavy-hitters sink: CMS cell + candidate folds over hash-split batches equal the batch heavy_hitters",
      Documents, Hash, "d INT, bucket BIGINT, cn BIGINT", "tok STRING, exact_n BIGINT")(Streams.hh,
      on2("heavy_hitters", Text.hhView).copy(ordered = true)),
    fold("file-source activity sink: hour-of-week count fold over hash-split batches equals the batch activity_profile",
      EventLog, Hash, "dow BIGINT, hod BIGINT, n BIGINT")(Streams.activity,
      on("activity_profile", Events.activityView)),
    fold("file-source incremental sink: rollup fold over hash-split batches equals the batch agg_incremental",
      EventLog, Hash, "event_type STRING, n BIGINT, dsum DECIMAL(38,2)")(Streams.incr,
      on("agg_incremental", Events.incrView)),
    // a user's earliest week can arrive in ANY batch: cohorting is a view
    fold("file-source retention sink: presence-grid fold over hash-split batches equals the batch retention_cohort",
      EventLog, Hash, "user_id BIGINT, w TIMESTAMP")(Streams.retention,
      on("retention_cohort", Events.retentionView)).also(redelivered),
    fold("file-source DAU/WAU sink: user-day presence fold over hash-split batches equals the batch rolling_active_users",
      EventLog, Hash, "user_id BIGINT, day DATE")(Streams.rau,
      on("rolling_active_users", Events.rauView)).also(redelivered),
    fold("file-source LTV sink: decimal revenue-grid fold over hash-split batches equals the batch cohort_ltv",
      EventLog, Hash, "user_id BIGINT, wk TIMESTAMP, rev DECIMAL(38,2)")(Streams.ltv,
      on("cohort_ltv", Events.ltvView)),
    // stage chaining crosses batch cuts (signup in batch 1, click in 2)
    fold("file-source funnel sink: 3-timestamp stage fold over time-split batches equals the batch event_funnel",
      EventLog, Time, "user_id BIGINT, t_signup TIMESTAMP, t_click TIMESTAMP, t_purchase TIMESTAMP")(
      Streams.funnel, on("event_funnel", Events.funnelView)).also(r =>
      positive(Events.funnelView(r.states.head).filter(col("stage") === 3).count())),
    // the interval CROSSING each cut is accounted by the carried reading
    fold("file-source TWA sink: last-reading + integral fold over time-split batches equals the batch time_weighted_avg",
      EventLog, Time, "user_id BIGINT, n_intervals BIGINT, total_dur_us BIGINT, wsum DECIMAL(38,0)",
      "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, cents BIGINT")(Streams.twa,
      on("time_weighted_avg", Events.twaView)),
    // a batch-2 event's 8-lag frame reaches back into batch 1
    fold("file-source EMA sink: 7-row lag-ring fold over time-split batches equals the batch win_ema",
      EventLog, Time, "event_id BIGINT, user_id BIGINT, value DOUBLE, ema DOUBLE",
      "event_id BIGINT, user_id BIGINT, ts TIMESTAMP, cents BIGINT")(Streams.ema,
      on("win_ema", identity)),
    // a type first seen in batch 1 must NOT re-count in batch 3
    fold("file-source running-distinct sink: presence-bit fold over time-split batches equals the batch win_running_distinct",
      EventLog, Time, "event_id BIGINT, user_id BIGINT, n_types_seen BIGINT",
      "user_id BIGINT, event_type STRING")(Streams.rd, on("win_running_distinct", identity)),
    // the carried per-user hwm seeds batch 2/3's lateness exactly where
    // batch 1's window stopped
    fold("file-source watermark-audit sink: hwm + band-grid fold over ARRIVAL-split batches equals the batch watermark_audit",
      EventLog, Arrival, "bucket STRING, user_id BIGINT, n BIGINT", "user_id BIGINT, hwm BIGINT")(
      Streams.wm, on("watermark_audit", Events.wmView)).also(r => // the jitter reorders arrivals
      positive(Events.wmView(r.states.head).filter(col("bucket") =!= "0_on_time").count())),
    fold("file-source fertility sink: per-language sum fold over hash-split document batches equals the batch tokenizer_fertility",
      Documents, Hash, "lang STRING, n_docs BIGINT, n_bpe BIGINT, n_ws BIGINT, n_chars BIGINT, n_bytes BIGINT")(
      Streams.fertility, on("tokenizer_fertility", Text.fertilityView)),
    fold("file-source temperature sink: per-source sum fold over hash-split document batches equals the batch sample_temperature",
      Documents, Hash, "source STRING, n_docs BIGINT, n_tokens BIGINT")(Streams.temperature,
      on("sample_temperature", Pipeline.temperatureView)),
    // one stored grid, three screens
    fold("file-source benford sink: digit-count grid fold over time-split event batches equals the batch benford_audit",
      EventLog, Time, "event_type STRING, digit INT, digit2 INT, n_obs BIGINT")(Streams.benford,
      on("benford_audit", Audit.benfordView), on("benford_second", Audit.benfordSecondView),
      on("benford_mad", Audit.benfordMadView)),
    fold("file-source contamination sink: shingle presence-grid fold over hash-split document batches equals the batch contamination_matrix",
      Documents, Hash, "source STRING, h BIGINT")(Streams.contamination,
      on("contamination_matrix", Audit.contaminationView)).also(redelivered),
    // the recency ANCHOR advances with every batch, re-scoring every user
    fold("file-source RFM sink: (max, sum, sum) user-grid fold over time-split event batches equals the batch event_rfm",
      EventLog, Time, "user_id BIGINT, last_day DATE, f BIGINT, m_cents BIGINT")(Streams.rfm,
      on("event_rfm", Events.rfmView)),
    fold("file-source assoc sink: basket presence-grid fold over hash-split event batches equals the batch assoc_rules",
      EventLog, Hash, "user_id BIGINT, event_type STRING")(Streams.assoc,
      on("assoc_rules", Events.assocView)).also(redelivered),
    // ONE fold, all three rank monitors: the tie structure only exists in
    // the completed fold
    fold("file-source rank sink: tie-group grid fold over hash-split event batches equals the batch rank family",
      EventLog, Hash, "day TIMESTAMP, cents BIGINT, c_a BIGINT, c_b BIGINT")(Streams.rank,
      on("eval_auc", s => Stats.aucView(Stats.rankStats(s))),
      on("ab_ranksum", s => Stats.ranksumView(Stats.rankStats(s))),
      on("ab_ks_test", s => Stats.ksView(Stats.rankStats(s)))),
    fold("file-source survival sink: (min, min, max) user-grid fold over time-split event batches equals the batch survival_hazard",
      EventLog, Time, "user_id BIGINT, first_day DATE, conv_day DATE, last_day DATE")(Streams.survival,
      on("survival_hazard", Stats.survivalView)).also(r => // right-censoring carried
      positive(r.states.head.filter(col("conv_day").isNull).count())),
    // a gap SPANNING a cut only exists through the carried last event
    fold("file-source interarrival sink: last-event + gap-grid ordered fold over time-split event batches equals the batch event_interarrival",
      EventLog, Time, "event_type STRING, bucket STRING, n_gaps BIGINT, min_us BIGINT, max_us BIGINT, sum_us BIGINT",
      "user_id BIGINT, event_type STRING, ts TIMESTAMP")(Streams.interarrival,
      on("event_interarrival", Events.interarrivalView)).also(r => // one row per live key
      r.states(1).groupBy("user_id", "event_type").count().filter(col("count") > 1).count() shouldBe 0L),
    fold("file-source SRM sink: day-grid fold over hash-split event batches equals the batch ab_srm",
      EventLog, Hash, "day TIMESTAMP, n_a BIGINT, n_b BIGINT")(Streams.srm,
      on("ab_srm", Stats.srmView), on("rolling_corr", Stats.corrView)),
    fold("file-source bollinger sink: 7-row band-ring fold over time-split batches equals the batch win_bollinger",
      EventLog, Time, "event_id BIGINT, user_id BIGINT, cents BIGINT, mean_cents DOUBLE, std_cents DOUBLE, outlier BOOLEAN",
      "event_id BIGINT, user_id BIGINT, ts TIMESTAMP, cents BIGINT")(Streams.boll,
      on("win_bollinger", identity)),
    fold("file-source CUPED sink: user-grid fold over time-split event batches equals the batch ab_cuped",
      EventLog, Time, "user_id BIGINT, x BIGINT, y BIGINT")(Streams.cuped, on("ab_cuped", Stats.cupedView)),
    // the global decile EDGES shift with every batch
    fold("file-source score sink: tie-grid fold over hash-split event batches equals the batch calibration_table AND gains_table",
      EventLog, Hash, "cents BIGINT, c_neg BIGINT, c_pos BIGINT")(Streams.score,
      on("calibration_table", Stats.calibView), on("gains_table", Stats.gainsView)),
    fold("file-source bootstrap sink: replicate-grid fold over hash-split event batches equals the batch bootstrap_ci",
      EventLog, Hash, "event_type STRING, b INT, sw BIGINT, swx BIGINT")(Streams.boot,
      on("bootstrap_ci", Stats.bootView)),
    // a batch-2 purchase's 7-day lookback reaches into batch 1
    fold("file-source attribution sink: 64-click recency-ring fold over time-split batches equals the batch attribution_time_decay",
      EventLog, Time, "purchase_id BIGINT, user_id BIGINT, click_id BIGINT, age_days BIGINT, w BIGINT, credit_bp BIGINT",
      "click_id BIGINT, c_uid BIGINT, cts TIMESTAMP")(Streams.attr,
      on("attribution_time_decay", identity)).also(r => // ≤64 carried clicks per user
      r.states(1).groupBy("c_uid").count().filter(col("count") > 64).count() shouldBe 0L),
    fold("file-source power sink: moment-grid fold over hash-split event batches equals the batch ab_power",
      EventLog, Hash, "event_type STRING, n BIGINT, sx BIGINT, sxx DECIMAL(38,0)")(Streams.power,
      on("ab_power", Stats.powerView)),
    fold("file-source churn sink: presence-grid fold over time-split event batches equals the batch churn_rate",
      EventLog, Time, "user_id BIGINT, week TIMESTAMP")(Streams.churn,
      on("churn_rate", Events.churnView)).also(redelivered),
    // a shingle's first-entry doc can arrive in a LATER batch than a
    // higher-id occurrence — only the min-fold tracks it
    fold("file-source vocab sink: entry/doc-grid fold over hash-split document batches equals the batch vocab_growth",
      Documents, Hash, "h BIGINT, first_doc BIGINT", "doc_id BIGINT, n_tri BIGINT")(Streams.vocab,
      on2("vocab_growth", Audit.vocabView)).also(redelivered),
    // df stays exact because each doc lives in exactly one batch
    fold("file-source vocab-topk sink: (w, n, df) grid fold over hash-split document batches equals the batch vocab_topk",
      Documents, Hash, "w STRING, n BIGINT, df BIGINT")(Streams.vtopk, on("vocab_topk", Text.vocabTopView)),
    fold("file-source dedup-index sink: digest presence fold over hash-split HISTORY batches; the new drop dedups against it like the batch dedup_incremental",
      History, Hash, "__h STRING")(Streams.index,
      on("dedup_incremental", Dedup.dedupIncrView(Dedup.batchLeg(docs01()), _))).also(redelivered),
    fold("file-source boilerplate sink: df/doc-count dual fold over hash-split document batches equals the batch boilerplate_detect",
      Documents, Hash, "source STRING, h BIGINT, df BIGINT", "source STRING, n_docs BIGINT")(Streams.boiler,
      on2("boilerplate_detect", Audit.boilerView(docs01(), _, _))),
    fold("file-source PII sink: per-source incidence fold over hash-split document batches equals the batch pii_report",
      Documents, Hash, "source STRING, n_docs BIGINT, d_email BIGINT, m_email BIGINT, " +
        "d_ip BIGINT, m_ip BIGINT, d_num BIGINT, m_num BIGINT")(Streams.pii,
      on("pii_report", Pipeline.piiView)),
    fold("file-source embedding-drift sink: decimal sum-grid fold over hash-split EMBEDDING batches equals the batch embed_drift",
      Embeddings, Hash, "lang STRING, half BIGINT, pos INT, sv DECIMAL(18,7)",
      "lang STRING, half BIGINT, n BIGINT")(Streams.driftVec, on2("embed_drift", Llm.driftView)))

  type Sink = (DataFrame, Seq[Streams.FoldState.Parquet]) => DataStreamWriter[Row]
  /** `f.step` run by [[Streams.foldSink]]. */
  def foldSink(f: Fold): Sink = Streams.foldSink(_, f.step)(_: _*)

  private val staged = mutable.Map[(String, String, String), (Seq[DataFrame], DataFrame, Path)]()

  /** Drive `sink` over the chunks of (input, split) in `dir` — staged once
    * per triple — one micro-batch per chunk, into fresh parquet states;
    * asserts the batch ids that ran and one state version per chunk. With
    * `restart`, the query stops once every chunk but the last is
    * committed, loses its last commit, and restarts from its checkpoint
    * with the last chunk added: Spark re-runs the uncommitted batch id on
    * the same offsets, then folds the last chunk. */
  def drive(f: Fold, dir: String, restart: Boolean)(sink: Sink): Run = {
    val (chunks, src, chunkDir) = staged.synchronized(staged.getOrElseUpdate(
      (f.input.name, f.split.name, dir), {
        // not cached: a cached fixture table would replace the scan (and
        // its pushed filters) in every later plan over it in the session
        val t = f.input.load(dir)
        val cs = f.split.cut(t, f.input.id)
        (cs, t, stageChunks(s"${f.input.name}_${f.split.name}_stream", cs))
      }))
    val stores = f.ddls.map(ddl => Streams.FoldState.Parquet(spark,
      Files.createTempDirectory("fold_state").toString, StructType.fromDDL(ddl)))
    val live = if (restart) Files.createTempDirectory("fold_live") else chunkDir
    val ckpt = Files.createTempDirectory("fold_checkpoint")
    def add(i: Int) = Files.copy(chunkDir.resolve(s"chunk$i.parquet"), live.resolve(s"chunk$i.parquet"),
      StandardCopyOption.COPY_ATTRIBUTES)
    def run(): Seq[Long] = {
      val q = sink(f.input.prep(dir)(fileStream(src, live)), stores)
        .option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
      q.recentProgress.toSeq.filter(_.numInputRows > 0).map(_.batchId)
    }
    val n = chunks.length.toLong
    if (restart) {
      chunks.indices.init.foreach(add)
      run() shouldBe (0L until n - 1)
      Seq(s"${n - 2}", s".${n - 2}.crc").foreach(c => Files.deleteIfExists(ckpt.resolve(s"commits/$c")))
      add(chunks.length - 1)
      run() shouldBe Seq(n - 2, n - 1)
    } else run() shouldBe (0L until n)
    all(stores.map(_.lastVersion)) shouldBe n
    Run(f, dir, stores, stores.map(_.latest), chunks)
  }
}
