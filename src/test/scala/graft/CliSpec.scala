package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import org.apache.spark.sql.functions._

import graft.engine.Endpoint

/** Scripted-stdin walk of the interactive console front-end — the
  * reference's actual UX (prompt loops, pickers, transform dialogs,
  * reference: src/etl/ETLProcess.java:29-53,77-140,313-386) driven
  * end-to-end, including the re-prompt validation (R17, :98-102,133-137)
  * and the PK-mapping hard error (:336-342).
  */
class CliSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def runCli(lines: String*): (org.apache.spark.sql.DataFrame, String) = {
    val buf = new ByteArrayOutputStream()
    val out = new PrintStream(buf, true, "UTF-8")
    val lake = Endpoint.Parquet(spark, dir)
    val df = Cli.run(lake, lake, lines.iterator, out)
    (df, buf.toString("UTF-8"))
  }

  test("full dialog: pick table with re-prompt, map, uppercase, keyed upsert") {
    val (df, console) = runCli(
      "2",                      // source: pick a table
      "nope",                   // invalid → re-prompt (R17)
      "customer",               // valid source table
      "c_custkey, c_name, bogus", // bogus filtered, two valid survive
      "no_such_table",          // invalid destination → re-prompt (R17)
      "customer",               // valid destination
      "c_custkey",              // map c_custkey → c_custkey (PK)
      "c_name",                 // map c_name → c_name
      "5",                      // c_custkey: no transform
      "2",                      // c_name: uppercase
      "c_name",                 // ordering column for last-writer-wins
    )
    // re-prompt messages surfaced for both pickers
    console should include("Table 'nope' does not exist.")
    console should include("Table 'no_such_table' does not exist.")
    console should include("Primary keys: c_custkey")
    // every key collides, so the upsert replaces all 150 rows with the
    // transformed incoming rows — count unchanged, names uppercased
    val rows = df.orderBy("c_custkey").collect()
    rows.length shouldBe 150
    all(rows.map(_.getString(1))) should startWith("CUSTOMER#")
  }

  test("unmapped primary key is a hard error, not a silent skip") {
    val e = intercept[IllegalArgumentException] {
      runCli(
        "2", "customer", "c_custkey, c_name",
        "customer",
        "",       // skip c_custkey — the PK!
        "c_name", // map only c_name
        // dialog dies at mapColumns before transforms are requested
      )
    }
    e.getMessage should include("c_custkey")
  }

  test("raw-SQL source path feeds the same mapping/load pipeline (R2)") {
    val (df, _) = runCli(
      "1",                                             // source: raw SQL
      "SELECT r_regionkey, r_name FROM region",        // executed by Spark SQL
      "region",                                        // destination
      "r_regionkey", "r_name",                         // identity mapping
      "5", "1",                                        // none, lowercase
      "r_regionkey",                                   // ordering column
    )
    val names = df.select("r_name").collect().map(_.getString(0)).toSet
    names should contain("africa") // lowercased by the transform
    df.count() shouldBe 5
  }

  test("a doubly-mapped destination column warns and skips (no ambiguous select)") {
    val (df, console) = runCli(
      "2", "nation", "n_nationkey, n_name, n_regionkey",
      "nation",
      "n_nationkey", // PK mapped
      "n_name",      // n_name → n_name
      "n_name",      // n_regionkey → n_name AGAIN → warn + skip
      "5", "5",      // transforms for the two mapped columns
      "n_nationkey",
    )
    console should include("Destination column 'n_name' is already mapped. Skipping.")
    df.columns.toSeq shouldBe Seq("n_nationkey", "n_name")
    df.count() shouldBe 25
  }

  test("JDBC mode: properties file drives the full dialog against live Derby") {
    import graft.engine.Sources
    import spark.implicits._
    System.setProperty("derby.system.home",
      java.nio.file.Files.createTempDirectory("graft_derby_cli").toString)
    // the reference's config.properties shape, verbatim key names
    // (ETLProcess.java:13-26): one side per connection
    val url = "jdbc:derby:memory:clidb;create=true"
    val propFile = java.nio.file.Files.createTempFile("graft_cli", ".properties")
    java.nio.file.Files.write(propFile,
      s"""db.origen.url=$url
         |db.origen.user=app
         |db.origen.password=app
         |db.destino.url=$url
         |db.destino.user=app
         |db.destino.password=app
         |""".stripMargin.getBytes("UTF-8"))
    val props = Sources.loadProperties(propFile.toString)
    val src = Sources.jdbcConfig(props, "origen")
    val dst = Sources.jdbcConfig(props, "destino")
    // source table via the engine's own writer; destination via raw DDL so
    // it carries a REAL primary key for metadata-driven upsert selection
    Sources.jdbcAppend(Seq(
      (1L, "alice", 10.5), (2L, "bob", 20.25), (3L, "carol", 30.0), (4L, "dave", 0.75))
      .toDF("id", "name", "v"), src, "src_people")
    val conn = java.sql.DriverManager.getConnection(dst.url, dst.user, dst.password)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        """CREATE TABLE dst_people ("id" BIGINT NOT NULL PRIMARY KEY,
          |"name" VARCHAR(64), "v" DOUBLE)""".stripMargin.replace("\n", " "))
      st.executeUpdate("""INSERT INTO dst_people VALUES (1, 'seed', 1.0)""")
      st.close()
    } finally conn.close()

    val buf = new ByteArrayOutputStream()
    val out = new PrintStream(buf, true, "UTF-8")
    val df = Cli.run(Endpoint.Jdbc(spark, src), Endpoint.Jdbc(spark, dst), Iterator(
      "2",            // source: pick a table
      "SRC_PEOPLE",   // canonical (uppercased) name from metadata
      "id, name, v",  // export all three
      "DST_PEOPLE",   // destination
      "id", "name", "v", // identity mapping
      "5", "2", "5",  // transforms: none, uppercase, none
      "v",            // ordering column for last-writer-wins
    ), out)
    val console = buf.toString("UTF-8")
    console should include("Primary keys: id") // found via getPrimaryKeys
    // id=1 updated (seed replaced), 2-4 inserted, names uppercased
    df.count() shouldBe 4
    df.orderBy("id").collect().map(_.getString(1)).toSeq shouldBe
      Seq("ALICE", "BOB", "CAROL", "DAVE")
    // rerunning the identical dialog is idempotent (MERGE semantics)
    val df2 = Cli.run(Endpoint.Jdbc(spark, src), Endpoint.Jdbc(spark, dst), Iterator(
      "2", "SRC_PEOPLE", "id, name, v", "DST_PEOPLE",
      "id", "name", "v", "5", "2", "5", "v",
    ), new PrintStream(new ByteArrayOutputStream(), true, "UTF-8"))
    rowSet(df2) shouldBe rowSet(df)
  }

  test("JDBC mode: raw SQL source + no-PK destination takes the insert-if-absent path") {
    import graft.engine.Sources
    import spark.implicits._
    val cfg = Sources.JdbcConfig("jdbc:derby:memory:clidb2;create=true", "app", "app")
    Sources.jdbcAppend(Seq((1L, "Ann"), (2L, "Ben"), (3L, "Cal"))
      .toDF("id", "name"), cfg, "src_raw")
    // writer-created destination: NO primary key → metadata yields none →
    // the dialog must skip the ordering prompt and load with the full-row
    // existence check (reference construirInsertConVerificacion, :444-466)
    Sources.jdbcAppend(Seq((99L, "seed")).toDF("id", "name"), cfg, "dst_raw")
    val buf = new ByteArrayOutputStream()
    def dialog() = Iterator(
      "1",                                              // source: raw SQL
      """SELECT "id", "name" FROM src_raw WHERE "id" > 1""", // pushed to Derby
      "DST_RAW",                                        // destination
      "id", "name",                                     // identity mapping
      "5", "1",                                         // none, lowercase
    )
    val db = Endpoint.Jdbc(spark, cfg)
    val df = Cli.run(db, db, dialog(), new PrintStream(buf, true, "UTF-8"))
    buf.toString("UTF-8") should not include "Primary keys:"
    df.count() shouldBe 3 // 1 seed + 2 inserted (id > 1)
    df.filter(col("id") === 2).collect()(0).getString(1) shouldBe "ben" // lowercased
    // materialize NOW: df is a lazy read of the destination, so comparing
    // it after the rerun would re-read post-rerun state and always match
    val firstRun = rowSet(df)
    // reference parity: rerunning the IDENTICAL dialog inserts nothing —
    // every incoming row already exists whole-row, like the reference's
    // per-row existence probe
    val df2 = Cli.run(db, db, dialog(),
      new PrintStream(new ByteArrayOutputStream(), true, "UTF-8"))
    df2.count() shouldBe 3
    rowSet(df2) shouldBe firstRun
  }

  test("jdbcConfig: a missing property is a hard error naming the key") {
    import graft.engine.Sources
    val props = new java.util.Properties()
    props.setProperty("db.origen.url", "jdbc:derby:memory:x")
    props.setProperty("db.origen.user", "app")
    val e = intercept[IllegalArgumentException](Sources.jdbcConfig(props, "origen"))
    e.getMessage should include("db.origen.password")
  }

  test("unknown destination column warns and skips; junk menu input re-prompts") {
    val (df, console) = runCli(
      "x",      // junk menu input → re-prompt
      "2", "region", "r_regionkey, r_name",
      "region",
      "r_regionkey",
      "r_wrong", // unknown destination col → warn + skip... but then PK ok
      "5",       // r_regionkey: no transform
      "r_regionkey",
    )
    console should include("Not a number.")
    console should include("Destination column 'r_wrong' does not exist. Skipping.")
    df.columns.toSeq shouldBe Seq("r_regionkey")
    df.count() shouldBe 5
  }
}
