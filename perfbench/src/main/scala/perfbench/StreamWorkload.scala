package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.streaming.Streams

/** One `Streams` fold: its state schema, sink, view over the state, and
  * the batch operator the view must equal. */
final case class Fold(name: String, state: String,
    sink: DataFrame => (() => DataFrame) => (DataFrame => Unit) => DataStreamWriter[Row],
    view: DataFrame => DataFrame, batchOp: String)

/** stream_fold: staged event chunks drained by a file-source stream, one
  * file per trigger, through several `Streams` grid folds. State is
  * versioned parquet (read version v, write v + 1), as in SoakSpec. Each
  * fold is its own query, run one after another; every pass starts from
  * empty state and a fresh checkpoint. */
final class StreamWorkload(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val chunks = ctx.args("chunks")

  private val folds = Seq(
    Fold("drift", "event_type STRING, bin BIGINT, c_ref BIGINT, c_cur BIGINT",
      s => r => w => Streams.driftSink(s)(r)(w), Streams.driftView, "drift_report"),
    Fold("ttest", "day TIMESTAMP, n_a BIGINT, sx_a DECIMAL(38,2), sxx_a DECIMAL(38,4), " +
      "n_b BIGINT, sx_b DECIMAL(38,2), sxx_b DECIMAL(38,4)",
      s => r => w => Streams.ttestSink(s)(r)(w), Streams.ttestView(_), "ab_ttest"),
    Fold("topk", "ws TIMESTAMP, event_type STRING, n BIGINT",
      s => r => w => Streams.topkSink(s)(r)(w), Streams.topkView(_), "stream_topk"))

  private var passNo = 0
  private val finalState = mutable.Map[String, String]()
  private val progress = mutable.Map[String, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]]()
  private lazy val eventSchema = Tables(spark, ctx.data, "events").schema

  def pass(label: String, tracer: Option[Tracer]): Pass = {
    passNo += 1
    // empty state version 0 of every fold, written before the clock starts
    val roots = folds.map { f =>
      val root = ctx.path("stream", s"pass$passNo", f.name)
      spark.createDataFrame(new java.util.ArrayList[Row](), StructType.fromDDL(f.state))
        .write.mode("overwrite").parquet(s"$root/v0")
      f -> root
    }
    var wall = 0.0
    var rows = 0L
    val units = roots.flatMap { case (f, root) =>
      val schema = StructType.fromDDL(f.state)
      var v = 0
      val read: () => DataFrame = () => spark.read.schema(schema).parquet(s"$root/v$v")
      val write: DataFrame => Unit = df => {
        df.write.mode("overwrite").parquet(s"$root/v${v + 1}"); v += 1
      }
      val s = System.nanoTime()
      def build() = f.sink(spark.readStream.schema(eventSchema)
          .option("maxFilesPerTrigger", 1).parquet(chunks))(read)(write)
        .queryName(s"${f.name}_$label")
        .option("checkpointLocation", s"$root/checkpoint")
      val q = tracer.fold(build())(_.span(s"$label/${f.name}", "build")(_ => build())).start()
      try q.processAllAvailable() finally q.stop()
      val t = (System.nanoTime() - s) / 1e9
      wall += t
      Harness.progress(label, f.name, t)
      finalState(f.name) = s"$root/v$v"
      val ps = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      progress(s"$label/${f.name}") = ps
      rows += ps.map(_.numInputRows).sum
      if (ps.isEmpty) failures(f.name) = "no micro-batch read any rows"
      ps.map(p => UnitTime(s"${f.name}/${p.batchId}", ms(p, "triggerExecution") / 1e3))
    }
    Pass(label, wall, units, rows)
  }

  private def ms(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Trigger spans (with their addBatch child), rebuilt from the query
    * progress Spark reports. */
  private def triggers(label: String, tr: Tracer): Seq[(String, Span)] =
    folds.flatMap { f =>
      progress.getOrElse(s"$label/${f.name}", Nil).map { p =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val unit = s"$label/${f.name}/${p.batchId}"
        val trigger = tr.addSpan(unit, "trigger", 0, start, start + ms(p, "triggerExecution"))
        tr.addSpan(unit, "addBatch", trigger.id, start, start + ms(p, "addBatch"))
        (unit, trigger)
      }
    }

  private val ledgers = mutable.Map[String, Seq[collection.Map[String, Any]]]()

  def ledger(label: String, tr: Tracer): Seq[collection.Map[String, Any]] = ledgers.getOrElseUpdate(label,
    triggers(label, tr).map { case (unit, trig) =>
      (mutable.LinkedHashMap[String, Any]("unit" -> unit.stripPrefix(label + "/"), "pass" -> label) ++
        tr.unitLedger(Seq(trig), Nil))
    })

  def layers(label: String, tr: Tracer, pass: Pass): Map[String, Double] = {
    val rows = ledger(label, tr)
    def sum(k: String) = rows.map(r => r(k).asInstanceOf[Number].doubleValue).sum
    val ps = folds.flatMap(f => progress.getOrElse(s"$label/${f.name}", Nil))
    def dur(k: String) = ps.map(p => ms(p, k)).sum / 1e3
    val trigSpans = tr.spans.filter(s => s.name == "trigger" && s.unit.startsWith(label + "/")).toSeq
    val stateDirs = folds.map(f => finalState(f.name))
    val stateBytes = stateDirs.map { d =>
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
      try files.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally files.close()
    }.sum
    val builds = tr.spans.filter(s => s.name == "build" && s.unit.startsWith(label + "/"))
    Common.layers(sum, pass.wallS, ctx.cores, tr.skew(trigSpans)) ++ Map(
      "ops.build_s" -> builds.map(_.dur).sum / 1e3,
      "streams.trigger_s" -> dur("triggerExecution"),
      "streams.add_batch_s" -> dur("addBatch"),
      "streams.planning_s" -> dur("queryPlanning"),
      "streams.wal_commit_s" -> dur("walCommit"),
      "streams.state_rows" -> stateDirs.map(d => spark.read.parquet(d).count()).sum.toDouble,
      "streams.state_mb" -> stateBytes / 1e6)
  }

  /** Each fold's view over its final state must equal its batch operator
    * over the whole event table, as FileStreamParitySpec checks. The
    * caller compares this set digest of the view with the same digest of
    * the operator's DuckDB oracle result, restricted to the view's columns. */
  def verify(): Map[String, Any] = folds.map { f =>
    val view = f.view(spark.read.schema(StructType.fromDDL(f.state)).parquet(finalState(f.name)))
    val (n, d) = Digest.ofSet(view.columns.toSeq, view.collect().toSeq)
    f.name -> Map("op" -> f.batchOp, "names" -> view.columns.toSeq, "rows" -> n, "digest" -> d)
  }.toMap
}
