package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import Sources.UpsertDialect

/** Statement-shape tests for the JDBC upsert's vendor seam. The ANSI
  * instance runs live against embedded Derby in JdbcSpec; no SQL Server
  * exists in this harness, so the T-SQL instance is pinned here at the
  * exact-string level — the three deltas the reference target needs
  * (reference: src/etl/ETLProcess.java:388-427 construirUpsertSQL is
  * T-SQL; config.properties ships a jdbc:sqlserver URL). */
class DialectSpec extends AnyFunSuite with Matchers {

  test("forUrl keys off the JDBC subprotocol, case-insensitively") {
    UpsertDialect.forUrl("jdbc:sqlserver://host:1433;databaseName=dw") shouldBe
      UpsertDialect.SqlServer
    UpsertDialect.forUrl("JDBC:SQLSERVER://host") shouldBe UpsertDialect.SqlServer
    UpsertDialect.forUrl("jdbc:derby:memory:db;create=true") shouldBe UpsertDialect.Ansi
    UpsertDialect.forUrl("jdbc:postgresql://host/db") shouldBe UpsertDialect.Ansi
  }

  test("ANSI stage DDL: CREATE TABLE ... AS SELECT ... WITH NO DATA") {
    UpsertDialect.Ansi.stageDdl("tgt_graft_stage_ab12", "tgt",
      Seq("\"id\"", "\"name\""), Seq("\"id\"")) shouldBe
      """CREATE TABLE tgt_graft_stage_ab12 AS SELECT "id", "name" FROM tgt WITH NO DATA"""
  }

  test("T-SQL stage DDL: SELECT ... INTO ... WHERE 1 = 0, identity-proofed keys") {
    // key columns are wrapped in ISNULL(c, c): SELECT ... INTO copies an
    // IDENTITY property from a bare column reference, and the stage load
    // inserts explicit key values — an inherited identity would reject them
    UpsertDialect.SqlServer.stageDdl("tgt_graft_stage_ab12", "tgt",
      Seq("\"id\"", "\"name\""), Seq("\"id\"")) shouldBe
      """SELECT ISNULL("id", "id") AS "id", "name" INTO tgt_graft_stage_ab12 FROM tgt WHERE 1 = 0"""
  }

  test("T-SQL terminates MERGE with ';'; ANSI must not (Derby rejects it)") {
    val merge = Sources.mergeSql("tgt", "tgt_s", Seq("id", "v"), Seq("id"))
    UpsertDialect.Ansi.terminate(merge) shouldBe merge
    UpsertDialect.SqlServer.terminate(merge) shouldBe (merge + ";")
    (UpsertDialect.SqlServer.terminate(merge) should endWith).regex("INSERT .*;")
  }

  test("the full T-SQL merge statement is valid statement shape end-to-end") {
    // the exact statement a SQL Server deployment would execute — pinned
    // so a change to mergeSql or the dialect shows up as a string diff
    val sql = UpsertDialect.SqlServer.terminate(
      Sources.mergeSql("dw_dim", "dw_dim_graft_stage_cafe0123",
        Seq("id", "name", "v"), Seq("id")))
    sql shouldBe
      """MERGE INTO dw_dim t USING dw_dim_graft_stage_cafe0123 s ON t."id" = s."id"""" +
      """ WHEN MATCHED THEN UPDATE SET "name" = s."name", "v" = s."v"""" +
      """ WHEN NOT MATCHED THEN INSERT ("id", "name", "v")""" +
      """ VALUES (s."id", s."name", s."v");"""
  }

  test("MERGE clause roles mirror the reference's generated statements: PKs match, non-PKs update, all columns insert") {
    // the reference's construirMergeSQLCompleto (ETLProcess.java:469-527)
    // and its row-at-a-time ancestor construirUpsertSQL (:388-427) agree
    // on three structural rules the engine's mergeSql must keep:
    //   1. the match condition is EXACTLY the primary keys (:485-494 /
    //      the UPDATE's WHERE :406-412),
    //   2. UPDATE SET touches exactly the non-PK columns (:503-512 /
    //      :397-403 — updating a PK would re-key the row),
    //   3. INSERT lists EVERY mapped column (:516-524 / :415-421).
    val cols = Seq("id", "region", "name", "v")
    val keys = Seq("id", "region")
    val sql = Sources.mergeSql("t", "s", cols, keys)
    val on = sql.split(" WHEN ")(0).split(" ON ")(1)
    keys.foreach(k => on should include(s"""t."$k" = s."$k""""))
    cols.filterNot(keys.contains).foreach(c => (on should not).include("\"" + c + "\""))
    val update = sql.split("UPDATE SET ")(1).split(" WHEN NOT MATCHED")(0)
    cols.filterNot(keys.contains).foreach(c => update should include(s""""$c" = s."$c""""))
    keys.foreach(k => (update should not).include(s""""$k" = s."$k""""))
    val insert = sql.split("THEN INSERT ")(1)
    insert should startWith(s"(${cols.map("\"" + _ + "\"").mkString(", ")})")
    insert should endWith(s"VALUES (${cols.map(c => s"""s."$c"""").mkString(", ")})")
  }

  test("no-PK path: jdbcUpsert refuses (the reference throws when no PK maps, :497-500); the no-PK load is jdbcInsertIfAbsent (:444-466)") {
    // the reference's MERGE builder throws IllegalArgumentException when
    // no primary key could be mapped; its no-PK dialog path goes through
    // construirInsertConVerificacion (whole-row existence probe) instead —
    // the engine mirrors that split as jdbcUpsert.require vs
    // jdbcInsertIfAbsent (whole-row anti-join), so pin the refusal here
    val err = intercept[IllegalArgumentException] {
      Sources.jdbcUpsert(null, null, "t", Seq.empty, "ts")
    }
    err.getMessage should include("keys must be non-empty")
  }

  test("SQL Server write-type mapping: unicode text, µs timestamps, and the T-SQL type spellings") {
    import org.apache.spark.sql.types._
    val d = Sources.SqlServerTypes
    d.canHandle("jdbc:sqlserver://host:1433;databaseName=dw") shouldBe true
    d.canHandle("jdbc:derby:memory:db") shouldBe false
    def ddl(dt: DataType) = d.getJDBCType(dt).map(_.databaseTypeDefinition)
    ddl(StringType) shouldBe Some("NVARCHAR(MAX)") // unicode-safe (setObject parity, :232-256)
    ddl(TimestampType) shouldBe Some("DATETIME2(6)") // µs-exact; DATETIME is 1/300 s
    ddl(TimestampNTZType) shouldBe Some("DATETIME2(6)")
    ddl(BooleanType) shouldBe Some("BIT")
    ddl(BinaryType) shouldBe Some("VARBINARY(MAX)")
    ddl(DoubleType) shouldBe Some("FLOAT") // T-SQL FLOAT(53) = IEEE double
    ddl(LongType) shouldBe None // Spark's common mapping (BIGINT) is already right
  }
}
