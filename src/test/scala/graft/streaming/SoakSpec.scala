package graft.streaming

import java.nio.file.Files

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType

import graft.SparkSpec

/** Long-run soak for the streaming-twin discipline (r12 verdict item 4):
  * the per-twin state-size arguments are proven by SHORT parity drives
  * (3–5 micro-batches) everywhere else; this spec runs production-shaped
  * twins — the per-source PII incidence monitor, the t-test moments and
  * the Benford digit grid — over 100 REAL sequential micro-batches (readStream, one file per trigger,
  * versioned parquet state) and turns two per-twin CLAIMS into
  * measurements:
  *
  *  1. State stays bounded by the declared grid (e.g. ≤ |sources| rows) at
  *     EVERY batch cut, not just the final one — a fold that leaked rows
  *     per batch (e.g. a bad merge key) would grow linearly and a 3-batch
  *     drive could miss it.
  *  2. Per-batch wall cost is FLAT: the fold reads bounded state + one
  *     batch, so batch 90 must cost what batch 20 cost. A cost that
  *     climbs with batch index means the fold is secretly re-reading
  *     history (the accumulate-then-reaggregate anti-pattern).
  *
  * Plus the usual contract: the completed 100-cut fold equals the batch
  * op bit-for-bit.
  */
class SoakSpec extends SparkSpec {
  import FileStreamParitySpec.{Dir01, fileStream, stageChunks}

  private def canon(rows: Array[Row]): Set[Seq[Any]] = rows.map(_.toSeq).toSet
  private def batchOp(op: String) = canon(graft.SparkEntry.queries(op)(spark, Dir01).collect())

  /** Fold 100 hash-split micro-batches of `table` through `step` (one
    * staged file per trigger, versioned parquet state), assert the state
    * stayed within `bound` rows at EVERY cut and the per-batch cost stayed
    * flat, and return the final state. Each batch's cost is its `addBatch`
    * time, taken from the query's progress events (`recentProgress` keeps
    * only the latest 100 by default). */
  private def soak(table: String, id: String, stateDdl: String, bound: DataFrame => Long,
      step: Streams.Step): DataFrame = {
    val src = graft.Tables(spark, Dir01, table).cache()
    val nBatches = 100
    val staged = stageChunks(s"${table}_soak",
      (0 until nBatches).map(i => src.filter(pmod(col(id), lit(nBatches)) === i)))
    val state = Streams.FoldState.Parquet(spark,
      Files.createTempDirectory(s"${table}_soak_state").toString, StructType.fromDDL(stateDdl))
    val batchMs = TrieMap[Long, Double]()
    val clock = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == s"${table}_soak" && e.progress.numInputRows > 0)
          batchMs(e.progress.batchId) = e.progress.durationMs.get("addBatch").doubleValue
    }
    spark.streams.addListener(clock)
    try {
      val q = Streams.foldSink(fileStream(src, staged), step)(state).queryName(s"${table}_soak").start()
      try q.processAllAvailable() finally q.stop()
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.streams.removeListener(clock)

    state.lastVersion shouldBe nBatches
    // 1. bounded at EVERY cut — never more rows than the declared grid
    val stateRows = (1 to nBatches).map(v => state.at(v).select(lit(v).as("v")))
      .reduce(_ union _).groupBy("v").count().collect().map(_.getLong(1))
    stateRows.max should be <= bound(src)
    // 2. flat per-batch cost: median of the last 20 folds vs the median
    //    of folds 11–30 (post-warmup). 2x + absolute slack absorbs
    //    scheduler noise on ~100 ms batches; linear state growth over
    //    70 batches would blow far past it.
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    val early = median((10L until 30L).map(batchMs))
    val late = median((nBatches - 20L until nBatches).map(batchMs))
    withClue(s"early median ${early}ms, late median ${late}ms: ") {
      late should be <= (2 * early + 250)
    }
    state.latest
  }

  test("soak: piiSink over 100 real micro-batches — state bounded every cut, per-batch cost flat, final fold equals batch op") {
    // the state never exceeds one row per source lane
    val state = soak("documents", "doc_id", "source STRING, n_docs BIGINT, d_email BIGINT, " +
        "m_email BIGINT, d_ip BIGINT, m_ip BIGINT, d_num BIGINT, m_num BIGINT",
      _.select("source").distinct().count(), Streams.pii)
    // 3. the completed fold IS the batch op
    val streamed = canon(graft.ops.Pipeline.piiView(state).collect())
    streamed shouldBe batchOp("pii_report")
    streamed should not be empty
  }

  test("soak: ttestSink over 100 real micro-batches — day-grid state bounded every cut, flat cost, BOTH monitors equal their batch ops") {
    // the moment grid is keyed by day: the table's distinct days bound it
    val state = soak("events", "event_id", "day TIMESTAMP, n_a BIGINT, sx_a DECIMAL(38,2), " +
        "sxx_a DECIMAL(38,4), n_b BIGINT, sx_b DECIMAL(38,2), sxx_b DECIMAL(38,4)",
      _.select(to_date(col("ts"))).distinct().count(), Streams.ttest)
    // one soaked state, BOTH monitors: the Welch table and the
    // peeking-safe sequential boundary both equal their batch ops
    canon(Streams.ttestView(state).collect()) shouldBe batchOp("ab_ttest")
    val seq = canon(graft.ops.Stats.seqView(state).collect())
    seq shouldBe batchOp("ab_sequential")
    seq should not be empty
  }

  test("soak: benfordSink over 100 real micro-batches — digit-grid state bounded every cut, flat cost, ALL THREE monitors equal their batch ops") {
    // the two-digit grid is keyed (type, d1 ∈ 1..9, d2 ∈ 0..9 ∪ NULL):
    // ≤ 99 cells per event type regardless of stream length
    val state = soak("events", "event_id", "event_type STRING, digit INT, digit2 INT, n_obs BIGINT",
      _.select("event_type").distinct().count() * 99, Streams.benford)
    // one soaked grid, THREE monitors: first-digit chi2, second-digit
    // chi2, and the size-invariant Nigrini MAD — all from state the
    // stream already carries, all bit-equal to their batch ops
    canon(graft.ops.Audit.benfordView(state).collect()) shouldBe batchOp("benford_audit")
    canon(graft.ops.Audit.benfordSecondView(state).collect()) shouldBe batchOp("benford_second")
    val mad = canon(graft.ops.Audit.benfordMadView(state).collect())
    mad shouldBe batchOp("benford_mad")
    mad should not be empty
  }
}
