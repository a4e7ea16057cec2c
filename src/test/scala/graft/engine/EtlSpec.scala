package graft.engine

import org.apache.spark.sql.types.IntegerType

import graft.{SparkSpec, Tables}
import graft.engine.Transforms.{DatePart, Upper}

/** Column-mapping + pipeline semantics (reference R7/R17 —
  * ETLProcess.java:313-345): unmapped columns silently dropped, missing PK
  * mapping is a hard error.
  */
class EtlSpec extends SparkSpec {
  import spark.implicits._

  private def src = Seq((1, "alice", "extra")).toDF("id", "name", "junk")

  test("mapColumns renames and drops unmapped columns (reference :183-190)") {
    val out = Etl(src).mapColumns(Seq("id" -> "pk", "name" -> "full_name")).result
    out.columns.toSeq shouldBe Seq("pk", "full_name")
    rows(out).head.toSeq shouldBe Seq(1, "alice")
  }

  test("unmapped destination PK is a hard error (reference :336-342)") {
    val e = intercept[IllegalArgumentException] {
      Etl(src).mapColumns(Seq("name" -> "full_name"), destPks = Seq("pk"))
    }
    e.getMessage should include("pk")
  }

  test("transform applies per-column specs, others pass through") {
    val out = Etl(src)
      .mapColumns(Seq("id" -> "id", "name" -> "name"))
      .transform(Map("name" -> Upper))
      .result
    rows(out).head.toSeq shouldBe Seq(1, "ALICE")
  }

  test("full E/M/T/L chain composes lazily into one plan") {
    val existing = Seq((1, "ALICE")).toDF("id", "name")
    val out = Etl(src)
      .mapColumns(Seq("id" -> "id", "name" -> "name"), destPks = Seq("id"))
      .transform(Map("name" -> Upper))
      .loadInsertIfAbsent(existing)
    // (1, ALICE) already present -> skipped
    rowSet(out) shouldBe Set(Seq(1, "ALICE"))
  }

  test("transform extracts the year from the fixture's zone-less o_orderdate") {
    val orders = Tables(spark, "/root/testdata/sf0.01", "orders")
      .select("o_orderkey", "o_orderdate")
    val out = Etl(orders).transform(Map("o_orderdate" -> DatePart("año"))).result
    out.schema("o_orderdate").dataType shouldBe IntegerType
    val utcYear = (us: Long) => java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS)
      .atZone(java.time.ZoneOffset.UTC).getYear
    val want = orders.collect().map(r => nLong(r, 0) -> utcYear(epochUs(r.get(1)))).toMap
    want.values.toSet.size should be > 1
    out.collect().map(r => nLong(r, 0) -> r.getInt(1)).toMap shouldBe want
  }
}
