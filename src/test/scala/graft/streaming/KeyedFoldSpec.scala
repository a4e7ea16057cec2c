package graft.streaming

import java.nio.file.Files

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Batch-only checks of the declared grid folds (no stream): the merge
  * algebra every grid twin's stream/batch parity rests on, checked over
  * many cuts at a fraction of a streaming drive's cost. */
class KeyedFoldSpec extends SparkSpec {
  import FileStreamParitySpec._

  /** `c` replaced by NULL on a hash-chosen third of the rows. */
  private def nulled(df: DataFrame, id: String, c: String, salt: Int): Column =
    when(pmod(xxhash64(col(id), lit(salt)), lit(3)) === 0,
      lit(null).cast(df.schema(c).dataType)).otherwise(col(c))

  /** The sf0.001 streamed tables with NULLs injected into every column but
    * the split id, independently per column — NULL grid keys and NULL
    * measure partials in every cut. */
  private lazy val nullDir: String = {
    val dir = Files.createTempDirectory("keyed_fold_nulls").toString
    Seq(EventLog, Documents, Embeddings).foreach { in =>
      val t = in.load(Dir001)
      t.columns.filter(_ != in.id).zipWithIndex
        .foldLeft(t) { case (df, (c, i)) => df.withColumn(c, nulled(t, in.id, c, i)) }
        .write.parquet(s"$dir/${in.name}.parquet")
    }
    dir
  }

  private def multiset(rows: Seq[Seq[Any]]): Map[Seq[Any], Int] =
    rows.groupBy(identity).view.mapValues(_.size).toMap

  /** Fold the grids of every 1-, 2-, 3- and 5-way hash cut of `f`'s input
    * in `dir`, forward and reverse, and compare each result with the
    * whole input's grid as a row multiset. One job per case: the cuts are
    * tagged and unioned. */
  private def cutInvariant(f: Fold, grid: DataFrame => DataFrame, kf: Streams.KeyedFold,
      dir: String): Unit = {
    val t = f.input.load(dir).cache()
    // each cut's grid is computed once, then folded forward and reverse
    def g(df: DataFrame) = grid(f.input.prep(dir)(df)).localCheckpoint()
    // the whole input's grid, measures in their state types
    val whole = if (kf.measures.isEmpty) g(t) else g(t).select(kf.keys.map(col) ++
      kf.measures.map(m => col(m.column).cast(m.stateType).as(m.column)): _*)
    val folded = for {
      n <- Seq(1, 2, 3, 5)
      parts = (0 until n).map(p => g(t.filter(pmod(col(f.input.id), lit(n)) === p)))
      (order, way) <- Seq(parts, parts.reverse).distinct.zip(Seq("forward", "reverse"))
    } yield s"$n-way $way" -> order.foldLeft(whole.limit(0))(kf.merge)
    val rows = (("whole" -> whole) +: folded)
      .map { case (cut, df) => df.select(lit(cut) +: df.columns.toSeq.map(col): _*) }
      .reduce(_ union _).collect().toSeq.groupBy(_.getString(0))
      .map { case (cut, rs) => cut -> multiset(rs.map(_.toSeq.tail)) }
    val want = rows.getOrElse("whole", Map.empty)
    want should not be empty
    folded.foreach { case (cut, _) => withClue(s"$cut: ") { rows.getOrElse(cut, Map.empty) shouldBe want } }
    t.unpersist()
  }

  test("every declared KeyedFold is cut-invariant: any hash cut, either order, folds to the whole grid") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val cases = for {
      f <- folds
      twin <- Seq(f.step).collect { case t: Streams.GridTwin => t }
      ((grid, kf), i) <- twin.folds.zipWithIndex
      dir <- Seq(Dir001, nullDir)
    } yield Future(withClue(s"${f.name} — state $i on $dir: ")(cutInvariant(f, grid, kf, dir)))
    try Await.result(Future.sequence(cases), Duration.Inf)
    finally pool.shutdown()
  }

  test("top-k and rate-alert folds merge NULL keys null-safely across micro-batches") {
    // event_type (a top-k key) and user_id (a rate-alert key) NULL on a
    // hash-chosen third of the rows: every micro-batch of the hash split
    // carries NULL-key rows for the same cells, which a `===` merge would
    // fork into one state row per batch
    val dir = Files.createTempDirectory("null_key_events").toString
    val ev = graft.Tables(spark, Dir01, "events")
    ev.withColumn("event_type", nulled(ev, "event_id", "event_type", 7))
      .withColumn("user_id", nulled(ev, "event_id", "user_id", 11))
      .write.parquet(s"$dir/events.parquet")
    val topk = fold("topk", EventLog, Hash, "ws TIMESTAMP, event_type STRING, n BIGINT")(
      Streams.topk, on("stream_topk", Streams.topkView))
    val rate = fold("rate_alert", EventLog, Hash, "user_id BIGINT, hidx BIGINT, n BIGINT")(
      Streams.rateAlert, on("rate_alert", graft.ops.rateAlertOver))
    // top-k through the benchmark's closure-shaped sink: the store versions itself
    val closures: Sink = (s, st) =>
      Streams.topkSink(s)(() => st.head.latest)(st.head.write(st.head.lastVersion, _))
    Seq((topk, Seq("ws", "event_type"), drive(topk, dir, restart = false)(closures)),
        (rate, Seq("user_id", "hidx"), drive(rate, dir, restart = false)(foldSink(rate))))
      .foreach { case (f, key, r) =>
      checkViews(r)
      // the NULL-key cells exist, once each
      val nullCells = r.states.head.filter(key.map(col(_).isNull).reduce(_ || _))
      nullCells.count() should be > 0L
      nullCells.groupBy(key.map(col): _*).count().filter(col("count") > 1).count() shouldBe 0L
    }
  }
}
