package graft.engine

import java.sql.Timestamp

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, TimestampNTZType, TimestampType}

import graft.SparkSpec
import graft.engine.Transforms._

/** §2.C parity semantics of the scalar transforms — the exact behaviors of
  * the reference's `aplicarTransformacion`/`extraerParteFecha`
  * (reference: src/etl/ETLProcess.java:528-567).
  */
class TransformsSpec extends SparkSpec {
  import spark.implicits._

  private def one[A](c: org.apache.spark.sql.Column, df: org.apache.spark.sql.DataFrame): Any =
    df.select(c).collect()(0).get(0)

  test("lower/upper coerce any input to string (reference :535,537)") {
    val df = Seq((42L, "MiXeD")).toDF("n", "s")
    one(Transforms(Lower, col("s"), StringType), df) shouldBe "mixed"
    one(Transforms(Upper, col("s"), StringType), df) shouldBe "MIXED"
    // non-string input: valor.toString() then case-map
    one(Transforms(Lower, col("n"), LongType), df) shouldBe "42"
    one(Transforms(Upper, col("n"), LongType), df) shouldBe "42"
  }

  test("concat appends literal suffix after toString coercion (reference :541)") {
    val df = Seq((7L, "ab")).toDF("n", "s")
    one(Transforms(ConcatLit("_x"), col("s"), StringType), df) shouldBe "ab_x"
    one(Transforms(ConcatLit("_x"), col("n"), LongType), df) shouldBe "7_x"
  }

  test("null in -> null out for every transform (reference :529-531)") {
    val df = Seq((Option.empty[String], Option.empty[Long])).toDF("s", "n")
    assert(one(Transforms(Lower, col("s"), StringType), df) == null)
    assert(one(Transforms(Upper, col("s"), StringType), df) == null)
    assert(one(Transforms(ConcatLit("_x"), col("s"), StringType), df) == null)
    assert(one(Transforms(DatePart("año"), col("s"), StringType), df) == null)
  }

  test("date parts: año/mes/día/hora with 1-based month (reference :555-563)") {
    val ts = Timestamp.valueOf("2024-03-09 17:45:00")
    val df = Seq(Tuple1(ts)).toDF("ts")
    one(Transforms(DatePart("año"), col("ts"), TimestampType), df) shouldBe 2024
    one(Transforms(DatePart("mes"), col("ts"), TimestampType), df) shouldBe 3 // 1-based
    one(Transforms(DatePart("día"), col("ts"), TimestampType), df) shouldBe 9
    one(Transforms(DatePart("hora"), col("ts"), TimestampType), df) shouldBe 17
  }

  test("date parts on TIMESTAMP_NTZ, the type of parquet timestamps without a zone") {
    val df = Seq(Tuple1(java.time.LocalDateTime.of(2024, 3, 9, 17, 45))).toDF("ts")
    df.schema("ts").dataType shouldBe TimestampNTZType
    one(Transforms(DatePart("año"), col("ts"), TimestampNTZType), df) shouldBe 2024
    one(Transforms(DatePart("mes"), col("ts"), TimestampNTZType), df) shouldBe 3
    one(Transforms(DatePart("día"), col("ts"), TimestampNTZType), df) shouldBe 9
    one(Transforms(DatePart("hora"), col("ts"), TimestampNTZType), df) shouldBe 17
  }

  test("date-part name matching is case-insensitive (reference :555)") {
    val ts = Timestamp.valueOf("2024-03-09 17:45:00")
    val df = Seq(Tuple1(ts)).toDF("ts")
    one(Transforms(DatePart("Año"), col("ts"), TimestampType), df) shouldBe 2024
    one(Transforms(DatePart("MES"), col("ts"), TimestampType), df) shouldBe 3
  }

  test("unknown date-part is a no-op passthrough (reference :564-565)") {
    val ts = Timestamp.valueOf("2024-03-09 17:45:00")
    val df = Seq(Tuple1(ts)).toDF("ts")
    one(Transforms(DatePart("semana"), col("ts"), TimestampType), df) shouldBe ts
  }

  test("date-part on a non-date column is a no-op (reference :548-550)") {
    val df = Seq(Tuple1("hello")).toDF("s")
    one(Transforms(DatePart("año"), col("s"), StringType), df) shouldBe "hello"
  }

  test("Identity passes through unchanged (reference :542-543)") {
    val df = Seq(Tuple1("AbC")).toDF("s")
    one(Transforms(Identity, col("s"), StringType), df) shouldBe "AbC"
  }
}
