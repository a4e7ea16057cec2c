package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}

import graft.engine.Catalog

/** `Tables`' per-session schema cache: a repeat resolution runs no Spark
  * job, and any change to the files, the session or the parquet settings
  * infers again — with results identical to the uncached read. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val fixture = "/root/testdata/sf0.01"

  /** Runs `body` and counts the Spark jobs it started. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val a = body
      ListenerBusDrain(sc)
      (a, n.get)
    } finally sc.removeSparkListener(l)
  }

  /** Writes `df` as the single-file table `dir/name.parquet`, the fixture
    * layout, replacing the file in place if it exists. */
  private def writeTable(dir: Path, name: String, df: DataFrame): Unit = {
    val stage = Files.createTempDirectory("tables_stage").resolve("out")
    df.coalesce(1).write.parquet(stage.toString)
    val part = Files.list(stage).iterator.asScala
      .find(p => p.getFileName.toString.matches("part-.*\\.parquet")).get
    Files.copy(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  private def freshTable(): Path = {
    val dir = Files.createTempDirectory("tables_cache")
    writeTable(dir, "t", Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    dir
  }

  private def resolveJobs(s: SparkSession, dir: Path): Int =
    jobsDuring(Tables(s, dir.toString, "t"))._2

  test("a repeat resolution of a table runs no Spark job") {
    val dir = freshTable()
    resolveJobs(spark, dir) should be > 0
    resolveJobs(spark, dir) shouldBe 0
    Tables(spark, dir.toString, "t").orderBy("id").as[(Long, String)].collect() shouldBe
      Array((1L, "a"), (2L, "b"))
  }

  test("rewriting the file in place infers again and sees the new column") {
    val dir = freshTable()
    Tables(spark, dir.toString, "t").columns.toSeq shouldBe Seq("id", "s")
    writeTable(dir, "t", Seq((3L, "c", 1.5)).toDF("id", "s", "x"))
    val (df, jobs) = jobsDuring(Tables(spark, dir.toString, "t"))
    jobs should be > 0
    df.columns.toSeq shouldBe Seq("id", "s", "x")
    df.as[(Long, String, Double)].collect() shouldBe Array((3L, "c", 1.5))
    resolveJobs(spark, dir) shouldBe 0
  }

  test("a newSession child infers for itself") {
    val dir = freshTable()
    Tables(spark, dir.toString, "t")
    resolveJobs(spark, dir) shouldBe 0
    val child = spark.newSession()
    resolveJobs(child, dir) should be > 0
    resolveJobs(child, dir) shouldBe 0
  }

  test("flipping a parquet setting infers again") {
    val dir = freshTable()
    val s = spark.newSession()
    val flag = "spark.sql.legacy.parquet.nanosAsLong"
    s.conf.set(flag, "true")
    Tables(s, dir.toString, "t")
    resolveJobs(s, dir) shouldBe 0
    s.conf.set(flag, "false")
    resolveJobs(s, dir) should be > 0
    resolveJobs(s, dir) shouldBe 0
  }

  test("a missing table raises the uncached read's AnalysisException") {
    val dir = Files.createTempDirectory("tables_missing").toString
    val uncached = intercept[AnalysisException](spark.read.parquet(s"$dir/nope.parquet"))
    val cached = intercept[AnalysisException](Tables(spark, dir, "nope"))
    cached.getCondition shouldBe uncached.getCondition
    cached.getMessage shouldBe uncached.getMessage
  }

  test("every fixture table: the cached read equals the uncached read") {
    Tables.names.foreach { t =>
      withClue(t) {
        Tables(spark, fixture, t)
        val (cached, jobs) = jobsDuring(Tables(spark, fixture, t))
        jobs shouldBe 0
        val uncached = Tables.nanosToMicros(spark.read.parquet(s"$fixture/$t.parquet"))
        cached.schema shouldBe uncached.schema
        cached.collect().toSeq shouldBe uncached.collect().toSeq
      }
    }
  }

  test("a repeat Catalog.sql call runs no Spark job before the query's own") {
    val q = "SELECT count(*) FROM orders"
    Catalog.sql(spark, fixture, q)
    val (df, jobs) = jobsDuring(Catalog.sql(spark, fixture, q))
    jobs shouldBe 0
    df.collect()(0).getLong(0) shouldBe spark.read.parquet(s"$fixture/orders.parquet").count()
  }
}
