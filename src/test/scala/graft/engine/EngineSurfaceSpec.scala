package graft.engine

import graft.SparkSpec

/** Catalog discovery, raw-SQL entry, and UDF/UDAF registry — the remaining
  * reference-parity surface (R2/R4/R5/R6 + the transform dispatch table).
  */
class EngineSurfaceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("listTables discovers the fixture tables (R4)") {
    Catalog.listTables(dir) should contain allOf ("lineitem", "orders", "customer")
  }

  test("listColumns matches the parquet schema (R5)") {
    Endpoint.Parquet(spark, dir).table("nation").columns.toSeq shouldBe
      Seq("n_nationkey", "n_name", "n_regionkey")
  }

  test("mergeKeys covers every fixture table (R6)") {
    graft.Tables.names.foreach { t =>
      withClue(t) { Catalog.mergeKeys.keySet should contain(t) }
    }
  }

  test("raw SQL runs over registered views (R2)") {
    val df = Catalog.sql(spark, dir,
      "SELECT n_name FROM nation JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' ORDER BY n_name")
    df.count() shouldBe 5
  }

  test("SQL-registered transforms match the reference dispatch semantics") {
    Udfs.register(spark)
    val r = spark.sql(
      "SELECT graft_lower('MiXeD'), graft_upper('MiXeD'), " +
        "graft_concat_lit('a', '_x'), graft_lower(NULL)").collect()(0)
    r.getString(0) shouldBe "mixed"
    r.getString(1) shouldBe "MIXED"
    r.getString(2) shouldBe "a_x"
    assert(r.get(3) == null)
  }

  test("minhash_agg UDAF computes partial+final per-group minima") {
    Udfs.register(spark)
    import spark.implicits._
    Seq(("a", 5L), ("a", 3L), ("b", 9L)).toDF("g", "h")
      .createOrReplaceTempView("t_mh")
    val out = spark.sql("SELECT g, minhash_agg(h) AS mh FROM t_mh GROUP BY g ORDER BY g")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    out shouldBe Seq(("a", 3L), ("b", 9L))
  }

  test("jdbc option maps wire url/credentials/partitioning/batching (R1/R16)") {
    // no SQL Server in the harness (SURVEY §2.B design note) — the option
    // construction is pure and tested; only .load()/.save() would connect
    val cfg = Sources.JdbcConfig("jdbc:postgresql://localhost/none", "u", "p")
    val plain = Sources.jdbcReadOptions(cfg, "t", None, 0, 0, 1)
    plain("url") shouldBe cfg.url
    plain("dbtable") shouldBe "t"
    plain should not contain key("partitionColumn")
    val ranged = Sources.jdbcReadOptions(cfg, "t", Some("id"), 10, 500, 8)
    ranged("partitionColumn") shouldBe "id"
    ranged("lowerBound") shouldBe "10"
    ranged("upperBound") shouldBe "500"
    ranged("numPartitions") shouldBe "8"
    val write = Sources.jdbcWriteOptions(cfg, "t", Sources.DefaultBatchSize)
    write("batchsize") shouldBe "1000" // reference MAX_BATCH_SIZE parity
    write("user") shouldBe "u"
  }
}
