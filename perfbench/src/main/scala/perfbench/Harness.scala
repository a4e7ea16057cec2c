package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Graft, SparkEntry, Tables}

/** One unit of work a pass ran: an operator, an upsert batch or a
  * micro-batch trigger, with its latency in seconds (NaN if it failed). */
final case class UnitTime(name: String, seconds: Double)
final case class Pass(label: String, wallS: Double, units: Seq[UnitTime], inputRows: Long)

/** Settings shared by every workload. */
final case class Ctx(spark: SparkSession, data: String, work: String, cores: Int,
    args: Map[String, String]) {
  def path(parts: String*): String = Paths.get(work, parts: _*).toString
}

/** A workload runs passes over its units; every pass does the same work, so
  * the first (cold) pass and the warm passes are comparable. */
trait Workload {
  /** One pass. With a tracer, also records spans under `label`. */
  def pass(label: String, tracer: Option[Tracer]): Pass
  /** Layer figures of one traced pass, from the tracer's records. */
  def layers(label: String, tracer: Tracer, pass: Pass): Map[String, Double]
  /** Per-unit ledger rows of one traced pass. */
  def ledger(label: String, tracer: Tracer): Seq[collection.Map[String, Any]]
  /** Untimed result checks; the result is copied into the output file. */
  def verify(): Map[String, Any]
  val failures: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap()
}

object Common {
  /** Layers only one workload exercises; the others report them as 0. */
  val layerSpecific = Seq("sinks.upsert_s", "sinks.rows_written", "sinks.mb_written",
    "sinks.write_amp", "jdbc.upsert_s", "jdbc.spark_s", "jdbc.outside_jobs_s", "jdbc.rows",
    "streams.trigger_s", "streams.add_batch_s", "streams.planning_s", "streams.wal_commit_s",
    "streams.state_rows", "streams.state_mb")

  /** The layer figures every workload reports, from per-unit ledger sums. */
  def layers(sum: String => Double, wallS: Double, cores: Int, skew: Double): Map[String, Double] = {
    val jobs = sum("jobs")
    layerSpecific.map(_ -> 0.0).toMap ++ Map(
      "ops.build_s" -> sum("build_s"),
      "ops.eager_jobs" -> sum("eager_jobs"),
      "ops.eager_s" -> sum("eager_s"),
      "catalyst.analysis_s" -> sum("analysis_s"),
      "catalyst.optimization_s" -> sum("optimization_s"),
      "catalyst.planning_s" -> sum("planning_s"),
      "scheduler.jobs" -> jobs,
      "scheduler.stages" -> sum("stages"),
      "scheduler.tasks" -> sum("tasks"),
      "scheduler.tasks_per_job" -> (if (jobs > 0) sum("tasks") / jobs else 0.0),
      "scheduler.driver_gap_s" -> sum("driver_gap_s"),
      "tasks.run_s" -> sum("task_run_s"),
      "tasks.cpu_s" -> sum("task_cpu_s"),
      "tasks.gc_s" -> sum("task_gc_s"),
      "tasks.cpu_util" -> sum("task_cpu_s") / (wallS * cores),
      "tasks.skew" -> skew,
      "shuffle.write_mb" -> sum("shuffle_write_mb"),
      "shuffle.read_mb" -> sum("shuffle_read_mb"),
      "shuffle.fetch_wait_s" -> sum("fetch_wait_s"),
      "shuffle.spill_mb" -> sum("spill_mb"))
  }
}

object Harness {
  private def arg(args: Map[String, String], k: String): String =
    args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    arg(args, "mode") match {
      case "oracle-sql" => dumpOracle(args)
      case "run"        => run(args)
    }
  }

  /** Writes {op: oracle SQL} for every op, so the Python side can compute
    * the DuckDB digests without a Spark session. */
  private def dumpOracle(args: Map[String, String]): Unit =
    Files.writeString(Paths.get(arg(args, "out")), Json(Map("oracle" -> SparkEntry.oracleSql)))

  def session(cores: Int, work: String): SparkSession = {
    val spark = Graft.configure(SparkSession.builder())
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toString)
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Graft.attach(spark)
    spark
  }

  private def codegenCounters(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  private def run(args: Map[String, String]): Unit = {
    val data = arg(args, "data")
    val work = arg(args, "work")
    val cores = arg(args, "cores").toInt
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    Files.createDirectories(Paths.get(work))

    // set-up: session + attach + every table's footer, three times (the
    // reported figure is the median); the last session runs the workload
    val setupS = mutable.ArrayBuffer[Double]()
    val resolveMs = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    (0 until 3).foreach { _ =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(cores, work)
      Tables.names.foreach { t =>
        val r0 = System.nanoTime()
        Tables(spark, data, t)
        resolveMs += (System.nanoTime() - r0) / 1e6
      }
      setupS += (System.nanoTime() - t0) / 1e9
      progress("run", "setup", setupS.last)
    }

    val ctx = Ctx(spark, data, work, cores, args)
    val workload: Workload = arg(args, "workload") match {
      case "catalog_small" | "corpus_heavy" => new OpsWorkload(ctx, arg(args, "ops").split(",").toSeq)
      case "etl_upsert"                     => new EtlWorkload(ctx)
      case "stream_fold"                    => new StreamWorkload(ctx)
    }

    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    val cg0 = codegenCounters()
    val passes = mutable.ArrayBuffer[Pass]()
    passes += workload.pass("cold", tracer)
    tracer.foreach(_.drain())
    val cg1 = codegenCounters()
    // one untimed pass more: the first pass after the cold one was still
    // 10-15 % slower than the later ones, which are flat
    tracer.foreach { tr => tr.uninstall(); tr.clear() }
    passes += workload.pass("warmup", None)

    val layerSamples = mutable.ArrayBuffer[Map[String, Double]]()
    val ledger = mutable.ArrayBuffer[collection.Map[String, Any]]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    do {
      i += 1
      tracer match {
        case None => passes += workload.pass(s"warm$i", None)
        case Some(tr) =>
          // untraced and traced passes alternate, in the order ABBA, so the
          // JVM still warming up does not bias their difference: the
          // tracing overhead
          def untraced(): Unit = {
            tr.uninstall(); tr.clear()
            passes += workload.pass(s"warm$i", None)
          }
          def traced(): Unit = {
            tr.install()
            val p = workload.pass(s"traced$i", tracer)
            tr.drain()
            passes += p
            layerSamples += workload.layers(p.label, tr, p)
            ledger ++= workload.ledger(p.label, tr)
          }
          if (i % 2 == 1) { untraced(); traced() } else { traced(); untraced() }
      }
    } while (elapsed < seconds || (traced && i < 2)) // a traced run completes one ABBA
    tracer.foreach(_.uninstall())

    val layers: Map[String, Double] = if (layerSamples.isEmpty) Map.empty else {
      val keys = layerSamples.head.keys
      val avg = keys.map(k => k -> layerSamples.map(_.getOrElse(k, 0.0)).sum / layerSamples.size).toMap
      val warm = passes.filter(_.label.matches("warm\\d+")).map(_.wallS).toSeq
      val tr = passes.filter(_.label.startsWith("traced")).map(_.wallS).toSeq
      avg ++ Map(
        "tables.resolve_ms" -> Stats.median(resolveMs.toSeq),
        "codegen.compiles" -> (cg1._1 - cg0._1).toDouble,
        "codegen.compile_s" -> (cg1._2 - cg0._2) / 1e9,
        "trace.overhead_s" -> (Stats.median(tr) - Stats.median(warm)))
    }

    val tv = System.nanoTime()
    val verify =
      try workload.verify()
      catch { case e: Exception => Map("error" -> String.valueOf(e.getMessage)) }
    progress("run", "verify", (System.nanoTime() - tv) / 1e9)

    tracer.foreach { tr =>
      def lines(xs: Iterable[Any]) = xs.map(Json(_)).mkString("", "\n", "\n")
      Files.writeString(Paths.get(work, "ledger.jsonl"), lines(ledger))
      Files.writeString(Paths.get(work, "spans.jsonl"), lines(tr.spans.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "unit" -> s.unit, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end))))
    }

    val out = Map(
      "setup_s" -> setupS,
      "resolve_ms" -> resolveMs,
      "passes" -> passes.map(p => Map("label" -> p.label, "wall_s" -> p.wallS,
        "input_rows" -> p.inputRows,
        "units" -> p.units.map(u => Map("name" -> u.name, "s" -> u.seconds)))),
      "failures" -> workload.failures,
      "verify" -> verify,
      "layers" -> layers,
      "jvm" -> System.getProperty("java.runtime.version"),
      "peak_rss_mb" -> peakRssMb())
    Files.writeString(Paths.get(arg(args, "out")), Json(out))
    spark.stop()
  }

  /** One line per finished unit in the JVM log, to follow a run. */
  def progress(label: String, unit: String, seconds: Double): Unit =
    System.err.println(f"[harness] $label%-8s $unit%-28s $seconds%.3f s")

  /** The process's peak resident set (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  /** Rows of `df`, sorted by the named key column, for table digests. */
  def sortedRows(df: DataFrame, key: String): Seq[Row] = {
    val i = df.columns.indexOf(key)
    df.collect().toSeq.sortBy(_.getLong(i))
  }
}
