package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types.StructType

import graft.SparkSpec

/** The fold-state contract of [[Streams.foldSink]]: versions follow the
  * batch id, so a re-run epoch rewrites its own version (exactly-once on
  * a replayable source), and a checkpoint behind its state root is
  * refused. */
class FoldStateSpec extends SparkSpec {
  import FileStreamParitySpec._

  // a Sum grid, two ordered folds (one with an output log) and the CDC merge
  Seq(Streams.topk, Streams.funnel, Streams.ema, Streams.cdc).map(s => folds.find(_.step == s).get)
    .foreach { f =>
      test(s"restart: ${f.name.takeWhile(_ != ':')} re-runs its uncommitted batch exactly once") {
        checkViews(drive(f, Dir001, restart = true)(foldSink(f)))
      }
    }

  test("a fresh checkpoint over a state root that is ahead of it is refused and writes nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val state = Streams.FoldState.Parquet(spark,
      Files.createTempDirectory("fold_guard").toString, StructType.fromDDL("k BIGINT"))
    val presence = Streams.GridTwin(((b: org.apache.spark.sql.DataFrame) => b) -> Streams.KeyedFold.presence)
    def run(keys: Seq[Long]*): Unit = {
      val in = MemoryStream[Long]
      val q = Streams.foldSink(in.toDF().toDF("k"), presence)(state).start()
      try keys.foreach { k => in.addData(k); q.processAllAvailable() } finally q.stop()
    }
    run(Seq(1L), Seq(2L)) // epochs 0 and 1: versions 1 and 2
    state.lastVersion shouldBe 2L
    // a new checkpoint starts at epoch 0, which would overwrite version 1
    val err = intercept[StreamingQueryException](run(Seq(3L)))
    Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .collectFirst { case e: IllegalStateException => e.getMessage }.get should (
        include(state.root) and include("version 2"))
    state.lastVersion shouldBe 2L
    state.at(1).as[Long].collect() shouldBe Array(1L)
    state.latest.as[Long].collect().toSet shouldBe Set(1L, 2L)
  }
}
