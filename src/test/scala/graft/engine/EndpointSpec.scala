package graft.engine

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The two endpoints load by one rule: the same batch, loaded into a
  * parquet destination and into a live Derby table with the same rows,
  * leaves the same rows behind — for the keyed upsert (Derby table with a
  * declared primary key) and for insert-if-absent (no primary key). The
  * batch carries every case the rules decide: duplicate keys, a tie on the
  * ordering column, an ordering column the destination lacks, and a
  * duplicated whole row that contains a NULL.
  */
class EndpointSpec extends SparkSpec {
  import spark.implicits._

  System.setProperty("derby.system.home",
    java.nio.file.Files.createTempDirectory("graft_derby_endpoint").toString)

  private val cfg = Sources.JdbcConfig("jdbc:derby:memory:endpointdb;create=true", "app", "app")
  private val lake = Endpoint.Parquet(spark,
    java.nio.file.Files.createTempDirectory("graft_endpoint").toString)
  private val db = Endpoint.Jdbc(spark, cfg)

  private val seed = Seq((1L, Some("a"), 1.0), (2L, Some("b"), 2.0), (3L, None, 3.0))

  /** `seed` as parquet table `name` and as Derby table `name` (raw DDL;
    * text is CLOB, the type Spark's Derby dialect binds a NULL string as). */
  private def destination(name: String, pk: Boolean): Unit = {
    seed.toDF("id", "name", "v").write.parquet(s"${lake.dir}/$name.parquet")
    Sources.withConnection(cfg) { conn =>
      val st = conn.createStatement()
      try {
        st.executeUpdate(s"""CREATE TABLE $name ("id" BIGINT NOT NULL""" +
          (if (pk) " PRIMARY KEY" else "") + """, "name" CLOB, "v" DOUBLE)""")
        seed.foreach { case (id, n, v) =>
          st.executeUpdate(s"INSERT INTO $name VALUES ($id, ${n.fold("NULL")(x => s"'$x'")}, $v)")
        }
      } finally st.close()
    }
  }

  /** Row multiset (duplicates count), order-free. */
  private def bag(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("upsert: a parquet and a primary-keyed JDBC destination end with the same rows") {
    destination("ups_dst", pk = true)
    val batch = Seq(
      (1L, Some("a1"), 10.0, 1L), (1L, Some("a2"), 11.0, 2L), // duplicate key: seq 2 wins
      (2L, Some("b1"), 5.0, 7L), (2L, Some("b2"), 5.0, 7L),   // tie on seq: column tiebreak
      (4L, None, 4.0, 1L), (4L, None, 4.0, 1L),               // duplicated row with a NULL
      (6L, None, 1.0, 1L), (6L, Some("f"), 1.0, 1L),          // tie broken past a NULL
      (5L, Some("e"), 6.0, 3L))
      .toDF("id", "name", "v", "seq")                          // seq: not a destination column
    db.keys("UPS_DST") shouldBe Seq("id")
    val parquet = bag(lake.upsert(batch, "ups_dst", Seq("id"), "seq"))
    val jdbc = bag(db.upsert(batch, "UPS_DST", Seq("id"), "seq"))
    jdbc shouldBe parquet
    parquet shouldBe Seq[Seq[Any]](
      Seq(1L, "a2", 11.0), Seq(2L, "b2", 5.0), Seq(3L, null, 3.0),
      Seq(4L, null, 4.0), Seq(5L, "e", 6.0), Seq(6L, "f", 1.0)).sortBy(_.mkString("|"))
  }

  test("insert-if-absent: a parquet and a key-less JDBC destination end with the same rows") {
    destination("iia_dst", pk = false)
    val batch = Seq(
      (1L, Some("a"), 1.0),                      // already present: skipped
      (3L, None, 3.0),                           // present, but NULL never matches: lands
      (4L, None, 4.0), (4L, None, 4.0),          // duplicated row with a NULL: lands once
      (1L, Some("a1"), 10.0), (5L, Some("e"), 6.0)) // duplicate key, new rows: land
      .toDF("id", "name", "v")
    db.keys("IIA_DST") shouldBe Nil
    val parquet = bag(lake.insertIfAbsent(batch, "iia_dst"))
    val jdbc = bag(db.insertIfAbsent(batch, "IIA_DST"))
    jdbc shouldBe parquet
    parquet shouldBe Seq[Seq[Any]](
      Seq(1L, "a", 1.0), Seq(2L, "b", 2.0), Seq(3L, null, 3.0), Seq(3L, null, 3.0),
      Seq(4L, null, 4.0), Seq(1L, "a1", 10.0), Seq(5L, "e", 6.0)).sortBy(_.mkString("|"))
  }
}
