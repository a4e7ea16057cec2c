package graft.streaming

import org.scalacheck.{Gen, rng}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSpec

/** Property-style proof of the CDC merge's core contract (same sampled-
  * generator discipline as SinkPropertiesSpec): folding `cdcMerge` over ANY
  * chunking and ANY delivery order of a change log converges to the same
  * state as merging the whole log at once. This is the algebraic fact that
  * makes the `Streams.cdc` fold correct under out-of-order micro-batches and
  * at-least-once redelivery — the per-key winner is decided by the
  * (ts, event_id) version, which is delivery-order-free.
  */
class CdcMergePropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val stateSchema = StructType.fromDDL(
    "k BIGINT, deleted BOOLEAN, v DECIMAL(18,2), wts TIMESTAMP, wid BIGINT")

  private def emptyState: DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), stateSchema)

  /** (event_id, user_id, tsSeconds, event_type, value) — few keys and few
    * distinct timestamps so same-key same-ts ties (decided by event_id) are
    * actually generated. */
  private val eventGen = for {
    uid <- Gen.choose(0L, 3L)
    tsSec <- Gen.choose(0L, 4L)
    tpe <- Gen.oneOf("click", "error", "purchase")
    v <- Gen.choose(0, 99)
  } yield (uid, tsSec, tpe, v.toDouble)

  private def logDf(rows: Seq[(Long, Long, Long, String, Double)]): DataFrame =
    rows.toDF("event_id", "user_id", "tsSec", "event_type", "value")
      .withColumn("ts", timestamp_seconds(col("tsSec"))).drop("tsSec")

  private def stateSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("cdcMerge: any chunking in any delivery order converges to the one-shot merge") {
    val seed0 = rng.Seed(1234L)
    (0 until 4).foreach { i =>
      val seed = (0 until i).foldLeft(seed0)((s, _) => s.next)
      val raw = Gen.listOfN(12, eventGen).pureApply(Gen.Parameters.default, seed)
      // unique event_ids assigned AFTER generation (the version tiebreaker)
      val events = raw.zipWithIndex.map { case ((uid, ts, tpe, v), id) =>
        (id.toLong, uid, ts, tpe, v)
      }
      val oneShot = stateSet(
        Streams.cdcMerge(emptyState, Streams.cdcWinners(logDf(events))))
      // three chunkings × delivery orders, including a redelivered chunk
      val chunkings: Seq[Seq[Seq[(Long, Long, Long, String, Double)]]] = Seq(
        events.grouped(4).toSeq,                     // in-order chunks
        events.grouped(4).toSeq.reverse,             // fully reversed delivery
        { val c = events.grouped(6).toSeq; c ++ c.take(1) }) // chunk 0 redelivered
      chunkings.zipWithIndex.foreach { case (chunks, ci) =>
        val folded = chunks.foldLeft(emptyState) { (state, chunk) =>
          // localCheckpoint keeps the fold from stacking 4 lazy merge plans
          Streams.cdcMerge(state, Streams.cdcWinners(logDf(chunk))).localCheckpoint()
        }
        withClue(s"sample $i chunking $ci: ") {
          stateSet(folded) shouldBe oneShot
        }
      }
      oneShot should not be empty
    }
  }
}
