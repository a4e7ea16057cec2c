package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.Tables
import graft.engine.{Etl, Sources, Transforms}

/** etl_upsert: the reference's extract → map → transform → load job, one
  * incoming batch at a time. Each batch is upserted twice: into a versioned
  * parquet destination (read version v, write v + 1) and into an embedded
  * Derby table with a declared primary key through `Sources.jdbcUpsert`.
  * Every pass starts from the same initial destination, so passes repeat
  * the same work. */
final class EtlWorkload(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val batchDir = ctx.args("batches")
  private val nBatches = ctx.args("nbatches").toInt
  private val incomingRows = ctx.args("incoming-rows").toLong
  /** The destination's first version: the orders table after the same map
    * and transform step, written by the input generator. */
  private val initial = ctx.args("initial")
  private val table = "perfbench_dest"
  private val keys = Seq("order_id")
  private var passNo = 0
  private var lastDest = ""
  System.setProperty("derby.system.home", ctx.path("derby"))

  private val mapping = Seq("o_orderkey" -> "order_id", "o_custkey" -> "cust_id",
    "o_orderstatus" -> "status", "o_totalprice" -> "total", "o_orderdate" -> "order_year",
    "o_orderpriority" -> "priority", "version" -> "version")
  private val transforms: Map[String, Transforms.Transform] = Map(
    "status" -> Transforms.Lower, "priority" -> Transforms.Upper,
    "order_year" -> Transforms.DatePart("año"), "cust_id" -> Transforms.ConcatLit("-c"))

  private def pipeline(df: DataFrame): Etl = Etl(df).mapColumns(mapping, keys).transform(transforms)
  private def batchName(b: Int) = f"batch_$b%03d"

  private val columns = """"order_id" BIGINT NOT NULL, "cust_id" VARCHAR(64), "status" VARCHAR(8),
    |"total" DOUBLE, "order_year" INT, "priority" VARCHAR(32), "version" BIGINT""".stripMargin
  private def execute(cfg: Sources.JdbcConfig, sql: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(cfg.url, cfg.user, cfg.password)
    try conn.createStatement().executeUpdate(sql) finally conn.close()
  }

  /** The embedded Derby database, with the initial rows in a template table
    * (loaded once, in the cold pass). */
  private lazy val derby: Sources.JdbcConfig = {
    val cfg = Sources.JdbcConfig("jdbc:derby:memory:perfbench;create=true", "app", "app")
    execute(cfg, s"CREATE TABLE ${table}_initial ($columns)")
    Sources.jdbcAppend(spark.read.parquet(initial), cfg, s"${table}_initial")
    cfg
  }

  /** Resets the Derby destination to the initial rows, copied inside Derby
    * from the template, with its primary key declared: the reference's
    * upsert path is driven by the PK. */
  private def freshDerby(): Sources.JdbcConfig = {
    if (passNo > 1) execute(derby, s"DROP TABLE $table")
    execute(derby, s"""CREATE TABLE $table ($columns, PRIMARY KEY ("order_id"))""")
    execute(derby, s"INSERT INTO $table SELECT * FROM ${table}_initial")
    derby
  }

  def pass(label: String, tracer: Option[Tracer]): Pass = {
    passNo += 1
    val tp = System.nanoTime()
    val cfg = freshDerby()
    Harness.progress(label, "fresh destination", (System.nanoTime() - tp) / 1e9)
    val dest = ctx.path("etl", s"pass$passNo")
    def version(v: Int) = if (v == 0) initial else s"$dest/v$v"
    val t0 = System.nanoTime()
    val units = (0 until nBatches).map { b =>
      val name = batchName(b)
      val unit = s"$label/$name"
      val s = System.nanoTime()
      def span[A](kind: String, parent: Int)(body: Int => A): A =
        tracer.fold(body(0))(_.span(unit, kind, parent)(body))
      try {
        span("batch", 0) { id =>
          span("upsert", id) { up =>
            val existing = spark.read.parquet(version(b))
            span("build", up)(_ => pipeline(Tables(spark, batchDir, name))
              .loadUpsert(existing, keys, "version"))
              .write.mode("overwrite").parquet(version(b + 1))
          }
          span("jdbc", id)(_ => Sources.jdbcUpsert(
            pipeline(Tables(spark, batchDir, name)).result, cfg, table, keys, "version"))
        }
        val t = (System.nanoTime() - s) / 1e9
        Harness.progress(label, name, t)
        UnitTime(name, t)
      } catch {
        case e: Exception =>
          failures(name) = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
          UnitTime(name, Double.NaN)
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    lastDest = version(nBatches)
    Pass(label, wall, units, incomingRows)
  }

  private def spansOf(label: String, tr: Tracer, name: String) =
    tr.spans.filter(s => s.name == name && s.unit.startsWith(label + "/")).toSeq

  def ledger(label: String, tr: Tracer): Seq[collection.Map[String, Any]] = (0 until nBatches).flatMap { b =>
    val unit = s"$label/${batchName(b)}"
    val spans = tr.spans.filter(_.unit == unit).toSeq
    Seq("batch", "upsert", "jdbc").map { leg =>
      val legSpans = spans.filter(_.name == leg)
      val builds = spans.filter(s => s.name == "build" && legSpans.exists(_.contains(s.start)))
      (mutable.LinkedHashMap[String, Any]("unit" -> s"${batchName(b)}/$leg", "pass" -> label) ++
        tr.unitLedger(legSpans, builds))
    }
  }

  def layers(label: String, tr: Tracer, pass: Pass): Map[String, Double] = {
    val rows = ledger(label, tr)
    def sumOf(leg: String)(k: String) = rows.filter(_("unit").toString.endsWith("/" + leg))
      .map(r => r(k).asInstanceOf[Number].doubleValue).sum
    val sink = sumOf("upsert") _
    val jdbc = sumOf("jdbc") _
    Common.layers(sumOf("batch"), pass.wallS, ctx.cores, tr.skew(spansOf(label, tr, "batch"))) ++ Map(
      "sinks.upsert_s" -> sink("wall_s"),
      "sinks.rows_written" -> sink("output_rows"),
      "sinks.mb_written" -> sink("output_mb"),
      "sinks.write_amp" -> sink("output_rows") / incomingRows,
      "jdbc.upsert_s" -> jdbc("wall_s"),
      "jdbc.spark_s" -> jdbc("job_union_s"),
      "jdbc.outside_jobs_s" -> jdbc("driver_gap_s"),
      "jdbc.rows" -> incomingRows.toDouble)
  }

  /** Digests of the last pass's final parquet version and Derby table, in
    * key order, for comparison with the expected last-writer-wins state. */
  def verify(): Map[String, Any] = {
    def digest(df: DataFrame) = {
      val (n, d) = Digest(df.columns.toSeq, Harness.sortedRows(df, "order_id"))
      Map("rows" -> n, "digest" -> d)
    }
    Map("parquet" -> digest(spark.read.parquet(lastDest)),
      "jdbc" -> digest(Sources.jdbcTable(spark, derby, table)))
  }
}
