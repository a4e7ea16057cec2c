package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{DataType, DateType, DecimalType, LongType, StructType, TimestampType}

import graft.ops.{Audit, Dedup, Events, Llm, Pipeline, Stats, Text}

/** Structured Streaming twins of graft's batch ops.
  *
  * Native twins (`tumbling`, `sliding`, `session`, `dedup`, `throttle`,
  * `ohlc`, `intervalJoin`, `intervalMerge`, `enrich`) take an unbounded
  * streaming DataFrame and return one; callers attach `writeStream` with
  * their own sink and trigger. Event-time correctness comes from
  * watermarks: window, session and dedup state older than the watermark
  * is dropped, which is what bounds state on an unbounded stream. They
  * share the batch twins' window semantics, so the oracle-checked batch
  * results pin the streaming ones too.
  *
  * Grid twins fold each micro-batch into stored state through
  * [[foldSink]]: the batch op's grid pass turns the batch into a grid of
  * partials, a [[KeyedFold]] merges that grid into the stored state, and
  * the batch op's own view reads the state. One rule covers every fold:
  *  - the merge is a full outer join of state and grid on NULL-SAFE key
  *    equality (`<=>`), so a NULL key is one cell, exactly as GROUP BY
  *    treats it in the batch op;
  *  - sums combine as `coalesce(s + d, s, d)`: SUM's NULL algebra, so an
  *    all-NULL cell stays NULL instead of turning into 0; MIN/MAX combine
  *    as `least`/`greatest`; each result is cast to its state type;
  *  - presence grids (no measures) merge by `union` + `distinct`.
  * Because every grid is algebraic, folding any cut of the input in any
  * order gives the grid of the whole input. Ordered folds (see below)
  * carry per-key state instead and need per-key event-time order.
  *
  * State contract: a [[FoldState]] keys state versions by the batch id.
  * Epoch `b` reads version `b` and writes version `b + 1`, overwriting
  * any earlier attempt at it, so an epoch that Spark re-runs after a
  * failure rewrites the same version and every fold, sums included, is
  * exactly-once. Two preconditions: the source is replayable (a re-run
  * epoch sees the same rows), and each checkpoint has its own state root
  * (a fresh checkpoint over an old root is refused, see
  * [[FoldState.Parquet]]).
  */
object Streams {

  /** Decimal-exact value sum — the shared [[graft.ops.dsum]] the batch
    * twins aggregate with: double partials combine in micro-batch arrival
    * order, so a raw double sum would make stream-vs-batch parity
    * float-order-dependent. */
  private def dsumV = graft.ops.dsum(col("value")).as("sum_value")

  /** Event-time normalization: watermarks REQUIRE an instant-typed column
    * (Spark rejects TIMESTAMP_NTZ event time outright), but the fixture
    * parquet surfaces `ts` as NTZ. The cast interprets NTZ wall time in the
    * session timezone (pinned UTC engine-wide) — a no-op when the input is
    * already instant-typed, and value-faithful when it isn't. Applied at
    * every watermark site so callers can hand either type to any twin. */
  private def instantTs(events: DataFrame): DataFrame =
    events.withColumn("ts", col("ts").cast("timestamp"))

  /** Tumbling 1h windows per event_type (twin of stream_tumbling). */
  def tumbling(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    instantTs(events).withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsumV)
      .select(col("window.start").as("ws"), col("window.end").as("we"),
        col("event_type"), col("n"), col("sum_value"))

  /** Sliding 1h windows every 15 minutes (twin of stream_sliding). */
  def sliding(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    instantTs(events).withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"), dsumV)
      .select(col("window.start").as("ws"), col("window.end").as("we"),
        col("n"), col("sum_value"))

  /** Gap-based session windows per user, 30 min gap (twin of stream_session).
    * Sessions close once the watermark passes their end — append-mode output.
    */
  def session(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    instantTs(events).withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), dsumV)
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n"), col("sum_value"))

  /** Drop duplicate events by event_id within the watermark horizon (twin of
    * stream_dedup). `dropDuplicatesWithinWatermark` keeps state only for the
    * watermark window — bounded state for an unbounded stream. */
  def dedup(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    instantTs(events).withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Rate limiting (twin of the batch stream_throttle op): at most one
    * event per (user, 5-minute bucket) within the watermark horizon.
    * State = one row per active (user, bucket) key, expired once the
    * watermark passes the bucket — bounded on an unbounded stream.
    * WHICH representative survives is arrival-order-dependent here
    * (dropDuplicates keeps the first-arrived); the batch twin pins the
    * (ts, event_id)-minimum. The invariant both share — and what the
    * parity test asserts — is the KEY SET: exactly one survivor per
    * (user, bucket) that has any event. */
  def throttle(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    instantTs(events).withWatermark("ts", watermark)
      .withColumn("ws", window(col("ts"), "5 minutes").getField("start"))
      .dropDuplicatesWithinWatermark("user_id", "ws")
      .select("event_id", "user_id", "ws")

  /** Stream-stream interval join (twin of the batch stream_interval_join):
    * purchases matched to the same user's clicks in the preceding
    * `window`. BOTH sides carry watermarks and the join condition bounds
    * event time in both directions — that pair of constraints is what lets
    * Structured Streaming expire buffered rows (click state older than
    * watermark + window drops), keeping state bounded on unbounded inputs.
    */
  def intervalJoin(clicks: DataFrame, purchases: DataFrame,
      window: String = "10 minutes", watermark: String = "10 minutes",
      joinType: String = "inner"): DataFrame = {
    val c = instantTs(clicks).withWatermark("ts", watermark)
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("cts"))
    val p = instantTs(purchases).withWatermark("ts", watermark)
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("pts"))
    // joinType=left_outer emits unmatched purchases (NULL click) once the
    // watermark proves no qualifying click can still arrive
    p.join(c, col("p_user") === col("c_user")
        && col("cts") <= col("pts")
        && col("cts") > col("pts") - expr(s"INTERVAL $window"), joinType)
      .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"),
        // µs-difference-then-div: bit-identical to the batch twin
        expr("(unix_micros(cast(pts as timestamp)) "
          + "- unix_micros(cast(cts as timestamp))) div 1000").as("delay_ms"))
  }

  /** Per-key winners of one CDC micro-batch in (ts, event_id) order —
    * the same last-writer-wins collapse the batch twin (`ops.Events`
    * `cdc_apply`) runs over the whole log. 'error' events are DELETES,
    * kept as tombstones (not dropped): the version they carry is what
    * stops an out-of-order older upsert from resurrecting the key. */
  private[streaming] def cdcWinners(batch: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    batch.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id").as("k"),
        (col("event_type") === "error").as("deleted"),
        col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("v"),
        col("ts").as("wts"), col("event_id").as("wid"))
  }

  /** Streaming CDC apply (twin of the batch `cdc_apply` op): maintain a
    * versioned key→value state table under an unbounded change stream.
    * Each micro-batch collapses to per-key winners, then merges into the
    * state by VERSION comparison — a state row only changes if the batch
    * winner's (ts, event_id) is strictly newer. That comparison is what
    * makes the fold correct beyond the happy path: micro-batches need not
    * arrive in event-time order (a late batch carrying an older change is
    * a no-op), and re-merging an already-applied batch changes nothing.
    * Deletes live in-state as tombstones so they also win/lose by
    * version, never by arrival order. State schema: (k, deleted, v, wts,
    * wid); bounded by the ACTIVE KEY SET, not stream volume — the same
    * growth bound as the batch op's collapsed join side, which is what a
    * 100 TB/day change stream requires of its materialized view.
    */
  val cdc: Step = { case (Seq(s), b) => Seq(cdcMerge(s, cdcWinners(b))) }

  /** One version-aware merge step: newer (wts, wid) wins per key. Exposed
    * for direct unit-level reuse; [[cdc]] runs it per batch. */
  def cdcMerge(state: DataFrame, winners: DataFrame): DataFrame = {
    val s = state.as("s")
    val b = winners.as("b")
    val bNewer = col("s.k").isNull || (col("b.k").isNotNull &&
      struct(col("b.wts"), col("b.wid")) > struct(col("s.wts"), col("s.wid")))
    def pick(c: String) =
      when(bNewer, col(s"b.$c")).otherwise(col(s"s.$c")).as(c)
    s.join(b, col("s.k") === col("b.k"), "full_outer")
      .select(coalesce(col("b.k"), col("s.k")).as("k"),
        pick("deleted"), pick("v"), pick("wts"), pick("wid"))
  }

  /** Materialize the merged view the batch `cdc_apply` op computes: the
    * base snapshot with live state applied — upserts override, tombstones
    * drop the key, untouched base rows pass through. [[cdc]] keeps
    * `state` current; this is the read side. */
  def cdcView(base: DataFrame, state: DataFrame): DataFrame =
    base.select(col("c_custkey"),
        col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("cv"))
      .join(state, col("c_custkey") === col("k"), "full_outer")
      .filter(coalesce(col("deleted"), lit(false)) === false)
      .select(coalesce(col("k"), col("c_custkey")).as("k"),
        when(col("k").isNull, col("cv")).otherwise(col("v"))
          .cast("double").as("val"), // match the batch twin's double output
        when(col("k").isNull, "base").otherwise("cdc").as("src"))

  /** Stream → live JDBC destination with keyed upsert: every micro-batch
    * goes through the engine's stage-and-merge
    * ([[graft.engine.Sources.jdbcUpsert]]) — the streaming form of the
    * reference's batched upsert loop (ETLProcess.java:388-427) against a
    * real database endpoint. foreachBatch delivery is at-least-once; the
    * keyed MERGE makes redelivered batches idempotent, which is exactly
    * why the upsert (not append) path is the safe streaming JDBC sink. */
  def jdbcUpsertSink(incoming: DataFrame, cfg: graft.engine.Sources.JdbcConfig,
      table: String, keys: Seq[String], orderCol: String)
      : DataStreamWriter[Row] =
    incoming.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      graft.engine.Sources.jdbcUpsert(batch, cfg, table, keys, orderCol)
    }

  /** Streaming twin of the batch time_ohlc op: daily OHLC bars per event
    * type as ONE streaming aggregate — the struct-extreme open/close
    * trick carries over verbatim (min/max state over (ts, event_id,
    * value) structs is per-group constant size), so the bar state is
    * |days × types| rows and append mode emits each bar exactly once,
    * when the watermark closes its day. */
  def ohlc(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    instantTs(events).withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(
        min(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("close"),
        count(lit(1)).as("n"),
        graft.ops.dsum(col("value")).as("volume"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"), col("n"), col("volume"))

  /** Streaming twin of the batch interval_merge op: DYNAMIC-GAP session
    * windows — each event extends its session by its OWN duration
    * (props.k minutes), so overlapping per-user intervals coalesce
    * exactly like the batch islands. This is the session_window feature
    * the fixed-gap twin ([[session]]) can't show: the gap is a per-row
    * expression, not a constant. Boundary semantics: Spark merges
    * sessions only on strict overlap (next start < current end), while
    * the batch op also merges exact touches (start == end) — the parity
    * drive asserts the fixture has no touch cases, making the outputs
    * identical (and documenting the one boundary where they could
    * differ). Watermark-expired session state is dropped as usual —
    * bounded state on an unbounded stream. */
  def intervalMerge(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    instantTs(events).withWatermark("ts", watermark)
      // session_window silently filters non-positive gaps; the explicit
      // predicate makes the zero-duration-drops-out contract visible and
      // IS the batch op's (graft.ops.intervalK — one shared definition)
      .filter(graft.ops.intervalK >= 1)
      .withColumn("gap", concat(graft.ops.intervalK, lit(" minutes")))
      .groupBy(session_window(col("ts"), col("gap")), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("start"),
        col("session_window.end").as("end"), col("n_events"))

  /** Streaming twin of the batch join_broadcast op: STREAM-STATIC
    * enrichment — the most common production streaming pattern (decorate
    * facts with dimension attributes as they arrive). LITERALLY the batch
    * op's join ([[graft.ops.Relational.enrichView]]): Spark plans the
    * static side as the same BroadcastHashJoin for a streaming fact side,
    * and an INNER stream-static join is stateless by construction — no
    * watermark, no state store, each micro-batch enriches independently,
    * which is why the twin needs no fold at all. */
  def enrich(customers: DataFrame, nation: DataFrame, region: DataFrame): DataFrame =
    graft.ops.Relational.enrichView(customers, nation, region)

  // ------------------------------------------------------------------
  // Grid folds. A twin declares, per state table, the batch op's grid
  // pass and the KeyedFold its partials merge by; `foldSink` runs every
  // twin, and callers read state through the batch ops' own views.
  // ------------------------------------------------------------------

  /** One micro-batch's transition: current states and the batch in, next
    * states out, in the same order. */
  type Step = (Seq[DataFrame], DataFrame) => Seq[DataFrame]

  /** How one measure column of a grid combines with its state cell. The
    * result is cast to `stateType`, the column's type in the stored
    * state. */
  sealed abstract class Measure(combine: (Column, Column) => Column) {
    def column: String
    def stateType: DataType
    private[streaming] def merged: Column =
      combine(col(s"s.$column"), col(s"d.$column")).cast(stateType).as(column)
  }
  /** SUM's NULL algebra: NULL partials are skipped; a cell stays NULL
    * only while every partial is NULL. */
  final case class Sum(column: String, stateType: DataType)
      extends Measure((s, d) => coalesce(s + d, s, d))
  /** `least`/`greatest` skip NULLs, as MIN/MAX do. */
  final case class Min(column: String, stateType: DataType) extends Measure(least(_, _))
  final case class Max(column: String, stateType: DataType) extends Measure(greatest(_, _))

  /** A grid's merge into its state: the grid is keyed by `keys` and each
    * measure combines per key. With no measures the grid is a presence
    * set and the merge is `union` + `distinct`. */
  final case class KeyedFold(keys: Seq[String], measures: Measure*) {
    def merge(state: DataFrame, delta: DataFrame): DataFrame =
      if (measures.isEmpty) state.unionByName(delta).distinct()
      else state.as("s").join(delta.as("d"),
          keys.map(k => col(s"s.$k") <=> col(s"d.$k")).reduce(_ && _), "full_outer")
        .select(keys.map(k => coalesce(col(s"d.$k"), col(s"s.$k")).as(k))
          ++ measures.map(_.merged): _*)
  }
  object KeyedFold {
    val presence: KeyedFold = KeyedFold(Nil)
  }

  /** A grid twin: per state table, a grid pass over the micro-batch and
    * the KeyedFold that merges it into that state. */
  final case class GridTwin(folds: (DataFrame => DataFrame, KeyedFold)*) extends Step {
    def apply(states: Seq[DataFrame], batch: DataFrame): Seq[DataFrame] = {
      require(states.size == folds.size, s"${folds.size} states expected")
      states.zip(folds).map { case (s, (grid, fold)) => fold.merge(s, grid(batch)) }
    }
  }

  /** Where one fold state lives between micro-batches. Epoch `b` reads
    * version `b` and writes version `b + 1`; see the contract above. */
  trait FoldState {
    def read(epoch: Long): DataFrame
    def write(epoch: Long, next: DataFrame): Unit
  }
  object FoldState {
    /** Versioned parquet: version `v` is the directory `root/v<v>`, and
      * version 0 is the empty frame of `schema`. A write for epoch `b`
      * overwrites `v<b+1>`; it fails, writing nothing, when `v<b+2>`
      * already exists, since then this checkpoint is behind the state it
      * would overwrite. */
    final case class Parquet(spark: SparkSession, root: String, schema: StructType)
        extends FoldState {
      private def path(version: Long) = new Path(root, s"v$version")
      private def fs = path(0).getFileSystem(spark.sparkContext.hadoopConfiguration)
      def at(version: Long): DataFrame =
        if (version == 0) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
        else spark.read.schema(schema).parquet(path(version).toString)
      /** The highest version written, 0 when there is none. */
      def lastVersion: Long = Option(fs.globStatus(new Path(root, "v*"))).toSeq.flatten
        .map(_.getPath.getName.drop(1)).filter(v => v.nonEmpty && v.forall(_.isDigit))
        .map(_.toLong).maxOption.getOrElse(0L)
      def latest: DataFrame = at(lastVersion)
      def read(epoch: Long): DataFrame = at(epoch)
      def write(epoch: Long, next: DataFrame): Unit = {
        if (fs.exists(path(epoch + 2))) throw new IllegalStateException(
          s"fold state $root already holds version ${epoch + 2}, past epoch $epoch: " +
            "a new checkpoint needs a new state root")
        next.write.mode("overwrite").parquet(path(epoch + 1).toString)
      }
    }
  }

  /** The fold sink, the only sink here that reads and writes state: each
    * micro-batch reads every state at its epoch, runs `step`, and writes
    * the next states in order. */
  def foldSink(input: DataFrame, step: Step)(states: FoldState*): DataStreamWriter[Row] =
    input.writeStream.foreachBatch { (batch: DataFrame, epoch: Long) =>
      step(states.map(_.read(epoch)), batch).zip(states).foreach { case (s, st) => st.write(epoch, s) }
    }

  /** Keyed last-writer-wins upsert of each micro-batch into a table state
    * ([[graft.engine.Sinks.upsert]], reference R13 semantics): the
    * streaming form of the reference's batched upsert loop. */
  def upsert(keys: Seq[String], orderCol: String): Step = { case (Seq(table), b) =>
    Seq(graft.engine.Sinks.upsert(table, b, keys, orderCol)) }

  /** A grid over the batch with its event time made an instant. */
  private def timed(grid: DataFrame => DataFrame): DataFrame => DataFrame =
    b => grid(instantTs(b))
  private def sums(t: DataType, cs: String*): Seq[Measure] = cs.map(Sum(_, t))
  private def counts(keys: String*)(cs: String*): KeyedFold =
    KeyedFold(keys, sums(LongType, cs: _*): _*)

  // event twins
  val topk = GridTwin(timed(Events.topkGrid) -> counts("ws", "event_type")("n"))
  val rateAlert = GridTwin(timed(graft.ops.hourCounts) -> counts("user_id", "hidx")("n"))
  val drift = GridTwin(timed(Stats.driftCounts) -> counts("event_type", "bin")("c_ref", "c_cur"))
  val ttest = GridTwin(timed(Stats.ttestMoments) -> KeyedFold(Seq("day"),
    Seq("a", "b").flatMap(arm => Seq(Sum(s"n_$arm", LongType),
      Sum(s"sx_$arm", DecimalType(38, 2)), Sum(s"sxx_$arm", DecimalType(38, 4)))): _*))
  val seasonal = GridTwin(timed(Events.seasonalCounts) -> counts("hts")("n"))
  val cusum = GridTwin(timed(Stats.cusumDaily) -> counts("event_type", "day")("cents"))
  val leak = GridTwin(timed(Audit.splitTemporalGrid) -> counts("event_type", "user_id")("n_tr", "n_ho"))
  val activity = GridTwin(timed(Events.activityGrid) -> counts("dow", "hod")("n"))
  val retention = GridTwin(timed(Events.retentionGrid) -> KeyedFold.presence)
  val rau = GridTwin(timed(Events.rauGrid) -> KeyedFold.presence)
  val ltv = GridTwin(timed(Events.ltvGrid) ->
    KeyedFold(Seq("user_id", "wk"), Sum("rev", DecimalType(38, 2))))
  val benford = GridTwin(Audit.benfordGrid _ -> counts("event_type", "digit", "digit2")("n_obs"))
  val rfm = GridTwin(Events.rfmGrid _ -> KeyedFold(Seq("user_id"),
    Max("last_day", DateType) +: sums(LongType, "f", "m_cents"): _*))
  val assoc = GridTwin(Events.assocGrid _ -> KeyedFold.presence)
  val rank = GridTwin(Stats.rankGrid _ -> counts("day", "cents")("c_a", "c_b"))
  val survival = GridTwin(Stats.survivalGrid _ -> KeyedFold(Seq("user_id"),
    Min("first_day", DateType), Min("conv_day", DateType), Max("last_day", DateType)))
  val srm = GridTwin(Stats.srmGrid _ -> counts("day")("n_a", "n_b"))
  val cuped = GridTwin(Stats.cupedUserGrid _ -> counts("user_id")("x", "y"))
  val score = GridTwin(Stats.scoreGrid _ -> counts("cents")("c_neg", "c_pos"))
  val boot = GridTwin(Stats.bootGrid _ -> counts("event_type", "b")("sw", "swx"))
  val power = GridTwin(Stats.powerGrid _ -> KeyedFold(Seq("event_type"),
    Sum("n", LongType), Sum("sx", LongType), Sum("sxx", DecimalType(38, 0))))
  val churn = GridTwin(Events.churnGrid _ -> KeyedFold.presence)

  // corpus twins (documents have no event time)
  val lang = GridTwin(Text.langConfusionGrid _ -> counts("lang", "pred_lang")("n"))
  val route = GridTwin(Text.routeGrid _ -> counts("source", "pred_lang")("n", "n_tok", "n_mixed"))
  /** Count-min cells (4×1024, whatever the stream volume) plus exact
    * candidate counts. The candidate side is vocabulary-bounded, the
    * price of carrying the overcount audit next to the sketch; a
    * deployment that cannot hold the vocabulary keeps only the cells. */
  val hh = GridTwin(Text.hhCells _ -> counts("d", "bucket")("cn"),
    Text.hhCand _ -> counts("tok")("exact_n"))
  val vtopk = GridTwin(Text.vocabTfGrid _ -> counts("w")("n", "df"))
  val index = GridTwin(Dedup.dedupIndex _ -> KeyedFold.presence)
  val contamination = GridTwin(Audit.contaminationGrid _ -> KeyedFold.presence)
  val boiler = GridTwin(Audit.boilerDfGrid _ -> counts("source", "h")("df"),
    Audit.boilerDocsGrid _ -> counts("source")("n_docs"))
  val pii = GridTwin(Pipeline.piiGrid _ ->
    counts("source")("n_docs", "d_email", "m_email", "d_ip", "m_ip", "d_num", "m_num"))
  val fertility = GridTwin(Text.fertilityGrid _ ->
    counts("lang")("n_docs", "n_bpe", "n_ws", "n_chars", "n_bytes"))
  val temperature = GridTwin(Pipeline.temperatureGrid _ -> counts("source")("n_docs", "n_tokens"))
  /** Input: the embeddings stream joined to the static documents dim by
    * `Llm.driftHalves` (a stream-static join). */
  val driftVec = GridTwin(
    Llm.driftSumGrid _ -> KeyedFold(Seq("lang", "half", "pos"), Sum("sv", DecimalType(18, 7))),
    Llm.driftCountGrid _ -> counts("lang", "half")("n"))
  val vocab = GridTwin(
    Audit.vocabEntryGrid _ -> KeyedFold(Seq("h"), Min("first_doc", LongType)),
    Audit.vocabDocGrid _ -> KeyedFold(Seq("doc_id"), Max("n_tri", LongType)))

  /** agg_incremental's contract is its own merge, so the twin folds with
    * [[graft.ops.Events.incrMergeGrids]]. */
  val incr: Step = { case (Seq(s), b) =>
    Seq(Events.incrMergeGrids(s, Events.incrPartial(instantTs(b)))) }

  // ------------------------------------------------------------------
  // Ordered folds: bounded per-key state (a 3-timestamp funnel, one last
  // reading, a ≤7-row lag ring, a presence bit, an arrival high-water
  // mark), EXACT under per-user event-time-ordered arrival — the
  // Kafka-per-key / watermark-sorted-replay shape; an out-of-order source
  // would buffer each batch to its watermark boundary first. Each step is
  // the batch op's own fold (the batch op is that fold applied once).
  // The state its view reads comes first, the carried state second.
  // ------------------------------------------------------------------

  val funnel: Step = { case (Seq(s), b) => Seq(Events.funnelFold(s, instantTs(b))) }
  val twa: Step = { case (Seq(acc, last), b) =>
    val (l, a) = Events.twaFold(last, acc, instantTs(b)); Seq(a, l) }
  private val iaGridFold = KeyedFold(Seq("event_type", "bucket"), Sum("n_gaps", LongType),
    Min("min_us", LongType), Max("max_us", LongType), Sum("sum_us", LongType))
  private val iaLastFold = KeyedFold(Seq("user_id", "event_type"), Max("ts", TimestampType))
  /** event_interarrival: the carried per-(user, type) last events re-enter
    * the batch's gap pass as sentinel-id rows, so the gap SPANNING a cut is
    * produced by [[graft.ops.Events.interarrivalGrid]] itself. The sentinel
    * id (MinValue) is exact even at an equal-ts boundary: within a tie
    * block every ordering yields the same gap multiset, and the grid only
    * consumes the multiset. States: (grid, last). */
  val interarrival: Step = { case (Seq(grid, last), batch) =>
    val e = instantTs(batch).filter(col("ts").isNotNull && col("user_id").isNotNull
      && col("event_type").isNotNull).select("user_id", "event_type", "ts", "event_id")
    val carried = last.select(col("user_id"), col("event_type"), col("ts"),
      lit(Long.MinValue).as("event_id"))
    Seq(iaGridFold.merge(grid, Events.interarrivalGrid(e.unionByName(carried))),
      iaLastFold.merge(last, e.groupBy("user_id", "event_type").agg(max("ts").as("ts"))))
  }
  /** Per-event output: the emitted rows append to an output log. */
  private def logged(fold: (DataFrame, DataFrame) => (DataFrame, DataFrame)): Step = {
    case (Seq(out, carried), b) =>
      val (o, c) = fold(carried, instantTs(b)); Seq(out.unionByName(o), c)
  }
  val ema: Step = logged(Events.emaFold)
  val rd: Step = logged(Events.rdFold)
  val boll: Step = logged(Events.bollFold)
  /** The ≤64-click recency ring per user; the batch's purchases are
    * credited by the batch op's own pair stage over ring + batch clicks. */
  val attr: Step = logged(Events.attrFold)

  private val wmGridFold = counts("bucket", "user_id")("n")
  private val wmHwmFold = KeyedFold(Seq("user_id"), Max("hwm", LongType))
  /** watermark_audit: arrival order is the stream's own order, so this
    * fold has no ordering precondition. The carried per-user high-water
    * mark plus the intra-batch running max reproduce the batch op's
    * arrival window at any cut. States: (grid, hwm). */
  val wm: Step = { case (Seq(grid, hwm), batch) =>
    val e = Events.wmProjected(instantTs(batch))
    val intra = Window.partitionBy("user_id").orderBy("aus", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val st = hwm.select(col("user_id").as("h_uid"), col("hwm").as("s_hwm"))
    val bucketed = e.withColumn("ihwm", max("tus").over(intra))
      // null-safe: a NULL user is its own arrival-ordered partition
      .join(st, col("user_id") <=> col("h_uid"), "left")
      .withColumn("bucket", Events.wmBucket(
        Events.wmLateness(greatest(col("ihwm"), col("s_hwm")), col("tus"))))
    Seq(wmGridFold.merge(grid, Events.wmGrid(bucketed)),
      wmHwmFold.merge(hwm, e.groupBy("user_id").agg(max("tus").as("hwm"))))
  }

  /** State kept by two closures, for the benchmark's sinks below: the
    * store versions itself, so the epoch is ignored. */
  private def closureState(r: () => DataFrame, w: DataFrame => Unit): FoldState =
    new FoldState {
      def read(epoch: Long): DataFrame = r()
      def write(epoch: Long, next: DataFrame): Unit = w(next)
    }

  // The benchmark's three folds keep their sink and view entry points.
  def topkSink(events: DataFrame)(readState: () => DataFrame)(writeState: DataFrame => Unit)
      : DataStreamWriter[Row] = foldSink(events, topk)(closureState(readState, writeState))
  def topkView(state: DataFrame): DataFrame = Events.topkView(state)
  def driftSink(events: DataFrame)(readState: () => DataFrame)(writeState: DataFrame => Unit)
      : DataStreamWriter[Row] = foldSink(events, drift)(closureState(readState, writeState))
  def driftView(state: DataFrame): DataFrame = Stats.driftView(state)
  def ttestSink(events: DataFrame)(readState: () => DataFrame)(writeState: DataFrame => Unit)
      : DataStreamWriter[Row] = foldSink(events, ttest)(closureState(readState, writeState))
  def ttestView(state: DataFrame): DataFrame = Stats.ttestView(state)
}
