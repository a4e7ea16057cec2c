package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.SparkEntry

/** catalog_small and corpus_heavy: a fixed list of operators from
  * `SparkEntry.queries`, in the seed's order. One op = build the DataFrame,
  * plan it and run it into the `noop` sink, as `graft.Bench` does; the cold
  * pass collects the result instead, for the correctness check. */
final class OpsWorkload(ctx: Ctx, ops: Seq[String]) extends Workload {
  private val spark = ctx.spark
  private val analysisS = mutable.Map[String, Double]()

  private def build(name: String): DataFrame = SparkEntry.queries(name)(spark, ctx.data)

  private val tableRows = ctx.args("table-rows").split(",").map { kv =>
    val Array(t, n) = kv.split("="); t -> n.toLong
  }.toMap
  private val inputRows = mutable.Map[String, Long]()
  private val results = mutable.LinkedHashMap[String, Map[String, Any]]()

  /** Rows in the input tables the op's analyzed plan scans: its share of
    * the rows_per_s numerator. */
  private def rowsOf(df: DataFrame): Long = df.queryExecution.analyzed.collect {
    case l: LogicalRelation => l.relation match {
      case r: HadoopFsRelation =>
        r.location.rootPaths.map(p => tableRows.getOrElse(p.getName.stripSuffix(".parquet"), 0L)).sum
      case _ => 0L
    }
  }.sum

  /** Runs one op. The cold pass collects the result and keeps its digest
    * for the correctness check; the other passes run into the noop sink. */
  private def runOp(name: String, df: DataFrame, cold: Boolean): Unit =
    if (cold) {
      val (n, d) = Digest(df.columns.toSeq, df.collect().toSeq)
      results(name) = Map("rows" -> n, "digest" -> d)
    } else df.write.format("noop").mode("overwrite").save()

  def pass(label: String, tracer: Option[Tracer]): Pass = {
    val cold = label == "cold"
    val t0 = System.nanoTime()
    val units = ops.map { name =>
      val s = System.nanoTime()
      try {
        val df = tracer match {
          case None =>
            val df = build(name)
            runOp(name, df, cold)
            df
          case Some(tr) =>
            val unit = s"$label/$name"
            tr.span(unit, "op") { id =>
              val df = tr.span(unit, "build", id)(_ => build(name))
              analysisS(unit) = df.queryExecution.tracker.phases.get("analysis")
                .map(_.durationMs / 1e3).getOrElse(0.0)
              tr.span(unit, "write", id)(_ => runOp(name, df, cold))
              df
            }
        }
        val t = (System.nanoTime() - s) / 1e9
        if (cold) inputRows(name) = rowsOf(df)
        Harness.progress(label, name, t)
        UnitTime(name, t)
      } catch {
        case e: Exception =>
          failures(name) = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
          results(name) = Map("error" -> String.valueOf(e.getMessage).take(500))
          UnitTime(name, Double.NaN)
      }
    }
    Pass(label, (System.nanoTime() - t0) / 1e9, units, inputRows.values.sum)
  }

  def ledger(label: String, tr: Tracer): Seq[collection.Map[String, Any]] = ops.map { name =>
    val unit = s"$label/$name"
    val spans = tr.spans.filter(_.unit == unit).toSeq
    val row = tr.unitLedger(spans.filter(_.name == "op"), spans.filter(_.name == "build"))
    row("analysis_s") = row("analysis_s").asInstanceOf[Double] + analysisS.getOrElse(unit, 0.0)
    mutable.LinkedHashMap[String, Any]("unit" -> name, "pass" -> label) ++ row
  }

  def layers(label: String, tr: Tracer, pass: Pass): Map[String, Double] = {
    val rows = ledger(label, tr)
    def sum(k: String) = rows.map(r => r(k).asInstanceOf[Number].doubleValue).sum
    val opSpans = tr.spans.filter(s => s.name == "op" && s.unit.startsWith(label + "/")).toSeq
    Common.layers(sum, pass.wallS, ctx.cores, tr.skew(opSpans))
  }

  /** The digest of every op's cold-pass result, which the caller compares
    * with DuckDB's digest of the op's oracle SQL. */
  def verify(): Map[String, Any] = results.toMap
}
