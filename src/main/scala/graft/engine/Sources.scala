package graft.engine

import org.apache.spark.sql.{DataFrame, DataFrameReader, SaveMode, SparkSession}

/** Source/sink construction — the engine's equivalents of the reference's
  * JDBC-to-JDBC endpoints plus the file-format reads and layout writes.
  *
  * The reference opens two SQL Server connections from config and streams a
  * query result row-by-row (reference: src/etl/ETLProcess.java:13-26,66-75,
  * 163-164), loading in 1000-row batches (:210,263-267). Here both ends are
  * DataFrames: a JDBC read becomes a partitioned parallel scan (predicate
  * pushdown included), and the 1000-row write batching maps onto the JDBC
  * writer's `batchsize` — per-executor round trips instead of a single
  * serial connection. The JDBC loads take their rows from [[Sinks]]' rules
  * and own only the commit (batched append; stage table + MERGE). Parquet
  * tables are read through [[graft.Tables]].
  */
object Sources {

  /** Connection config — mirrors config.properties:1-9 (url/user/password
    * per side) without any vendor specifics. */
  final case class JdbcConfig(url: String, user: String, password: String)

  /** Load a `.properties` connection file — the reference's actual entry
    * point (ETLProcess.java loadProperties + :13-26 reads `db.origen.*` /
    * `db.destino.*`). File-path based rather than classpath so one build
    * can point at any environment's config. */
  def loadProperties(path: String): java.util.Properties = {
    val props = new java.util.Properties()
    val in = new java.io.FileInputStream(path)
    try props.load(in) finally in.close()
    props
  }

  /** One side's connection from the loaded properties: `db.<side>.url`,
    * `db.<side>.user`, `db.<side>.password` (reference key names verbatim;
    * sides are `origen` and `destino`). Missing keys are a hard error
    * naming the key — the reference NPEs later at connect time. */
  def jdbcConfig(props: java.util.Properties, side: String): JdbcConfig = {
    def get(k: String): String = {
      val v = props.getProperty(s"db.$side.$k")
      if (v == null) throw new IllegalArgumentException(
        s"config property 'db.$side.$k' is missing")
      v
    }
    JdbcConfig(get("url"), get("user"), get("password"))
  }

  /** Match the reference's MAX_BATCH_SIZE (ETLProcess.java:210). */
  val DefaultBatchSize = 1000

  /** CSV/JSON endpoints — the interchange formats a complete engine needs
    * beside the columnar lake format. Explicit schema avoids the inference
    * scan (a full extra pass over the data at scale). */
  def csv(spark: SparkSession, path: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      header: Boolean = true): DataFrame = {
    val r = spark.read.option("header", header)
    schema.fold(r.option("inferSchema", true))(r.schema).csv(path)
  }

  def json(spark: SparkSession, path: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(r.schema).json(path)
  }

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", true).csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Hive-style partitioned write: readers with a predicate on the
    * partition columns scan only matching directories (PartitionFilters in
    * the plan — whole partitions pruned before any I/O). The 100 TB layout
    * decision: partition by the dominant filter dimension, NOT high-
    * cardinality keys (small-files explosion). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed table write: rows are hash-bucketed by `bucketCols` at write
    * time, so an equi-join (or aggregate) on those columns between tables
    * with the same bucketing needs NO shuffle at read time — the
    * co-located-join layout for repeated large-fact joins. Requires the
    * session catalog (`saveAsTable`); `sortCols` additionally pre-sorts
    * within buckets for merge-join without a sort. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
      bucketCols: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "writeBucketed: bucketCols must be non-empty")
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet").saveAsTable(table)
  }

  private def baseOptions(cfg: JdbcConfig): Map[String, String] =
    Map("url" -> cfg.url, "user" -> cfg.user, "password" -> cfg.password)

  /** Option map for a (possibly range-partitioned) table read — pure, so
    * the wiring is unit-testable without a database. */
  private[engine] def jdbcReadOptions(cfg: JdbcConfig, table: String,
      partitionColumn: Option[String], lowerBound: Long, upperBound: Long,
      numPartitions: Int): Map[String, String] =
    baseOptions(cfg) ++ Map("dbtable" -> table) ++
      partitionColumn.map { c =>
        Map("partitionColumn" -> c,
          "lowerBound" -> lowerBound.toString,
          "upperBound" -> upperBound.toString,
          "numPartitions" -> numPartitions.toString)
      }.getOrElse(Map.empty)

  private[engine] def jdbcWriteOptions(cfg: JdbcConfig, table: String,
      batchSize: Int): Map[String, String] =
    baseOptions(cfg) ++ Map("dbtable" -> table, "batchsize" -> batchSize.toString)

  /** Whole-table JDBC scan (R1). `partitionColumn`+bounds turn the serial
    * cursor of the reference into N parallel range scans — the difference
    * between one connection streaming 100 TB and a cluster reading it. */
  def jdbcTable(spark: SparkSession, cfg: JdbcConfig, table: String,
      partitionColumn: Option[String] = None,
      lowerBound: Long = 0, upperBound: Long = 0,
      numPartitions: Int = 1): DataFrame =
    spark.read.format("jdbc")
      .options(jdbcReadOptions(cfg, table, partitionColumn,
        lowerBound, upperBound, numPartitions))
      .load()

  /** Raw-SQL extraction (R2): the query is pushed to the source database
    * verbatim, exactly like the reference's pass-through
    * (ETLProcess.java:84-86,163-164). */
  def jdbcQuery(spark: SparkSession, cfg: JdbcConfig, query: String): DataFrame =
    spark.read.format("jdbc")
      .options(baseOptions(cfg) + ("query" -> query))
      .load()

  /** Append rows over JDBC in `batchsize` batches (R16 parity). Transaction
    * semantics differ by design: the reference commits every 1000 rows and
    * can leave partial loads (ETLProcess.java:263-278); Spark's task commit
    * is all-or-nothing per task. */
  def jdbcAppend(df: DataFrame, cfg: JdbcConfig, table: String,
      batchSize: Int = DefaultBatchSize): Unit =
    df.write.format("jdbc")
      .options(jdbcWriteOptions(cfg, table, batchSize))
      .mode(SaveMode.Append)
      .save()

  /** No-PK load with a full-row existence check THROUGH JDBC (R14): the
    * reference's no-PK path `construirInsertConVerificacion`
    * (ETLProcess.java:444-466). The rows are [[Sinks.absentRows]] against a
    * read of the destination's mapped columns — the rule of
    * [[Sinks.insertIfAbsent]], null caveat included — appended in batches.
    *
    * Scale: the anti-join probe is a destination READ through the parallel
    * JDBC scan, so the existence check runs in the cluster, not row-at-a-
    * time against the database like the reference (:449 one SELECT per row). */
  def jdbcInsertIfAbsent(spark: SparkSession, df: DataFrame, cfg: JdbcConfig,
      table: String, batchSize: Int = DefaultBatchSize): Unit = {
    val existing = withConnection(cfg)(resolveJdbcTable(_, table)).map(canonical =>
      jdbcTable(spark, cfg, canonical).select(df.columns.map(org.apache.spark.sql.functions.col): _*))
    jdbcAppend(Sinks.absentRows(df, existing), cfg, table, batchSize)
  }

  /** One driver-side orchestration connection per call (metadata, DDL,
    * MERGE — the data itself always moves through the parallel batched
    * writer). */
  private[engine] def withConnection[A](cfg: JdbcConfig)(f: java.sql.Connection => A): A = {
    val conn = java.sql.DriverManager.getConnection(cfg.url, cfg.user, cfg.password)
    try f(conn) finally conn.close()
  }

  /** Every value of `col` in a metadata result set, which is then closed. */
  private def strings(rs: java.sql.ResultSet, col: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    try { while (rs.next()) out += rs.getString(col) } finally rs.close()
    out.toSeq
  }

  private def tableNames(conn: java.sql.Connection): Seq[String] =
    strings(conn.getMetaData.getTables(null, null, "%", Array("TABLE")), "TABLE_NAME")

  /** Table list via `DatabaseMetaData.getTables` — the reference's source/
    * destination pickers (ETLProcess.java:142-159). Names come back in the
    * database's canonical case (Derby/SQL Server uppercase unquoted DDL). */
  def listJdbcTables(cfg: JdbcConfig): Seq[String] =
    withConnection(cfg)(tableNames(_).sorted)

  /** Escape JDBC metadata PATTERN wildcards in a literal name:
    * `getTables`/`getColumns` treat `_` as a single-char wildcard and `%`
    * as multi-char, and every table name in this engine contains `_` — an
    * unescaped probe for ORDERS_2024 would also match ORDERSA2024. */
  private def escapePattern(md: java.sql.DatabaseMetaData, name: String): String = {
    val esc = md.getSearchStringEscape
    name.replace(esc, esc + esc).replace("_", esc + "_").replace("%", esc + "%")
  }

  /** Resolve a table name to the database's CANONICAL name via `getTables`
    * (wildcards escaped): probe as-given, then uppercase, then lowercase —
    * covering uppercase-canonical vendors (Derby), lowercase-canonical
    * ones, and case-preserving ones whose metadata matches
    * case-insensitively. If every exact probe misses (a case-SENSITIVE
    * metadata vendor storing a mixed-case name), fall back to a
    * case-insensitive scan of the table list; an ambiguous match there is
    * a hard error, never a guess. Table existence is decided here, not
    * inferred from an empty column listing, so a metadata-case mismatch
    * can't silently demote an upsert to an append. */
  private[engine] def resolveJdbcTable(conn: java.sql.Connection, table: String): Option[String] = {
    val md = conn.getMetaData
    def probe(cand: String): Option[String] =
      strings(md.getTables(null, null, escapePattern(md, cand), Array("TABLE")), "TABLE_NAME")
        .headOption
    Seq(table, table.toUpperCase, table.toLowerCase).distinct
      .iterator.map(probe).collectFirst { case Some(name) => name }
      .orElse {
        tableNames(conn).filter(_.equalsIgnoreCase(table)) match {
          case Seq(one) => Some(one)
          case Seq()    => None
          case many => throw new IllegalStateException(
            s"table name '$table' matches multiple tables case-insensitively: " +
              many.mkString(", "))
        }
      }
  }

  /** Destination primary keys via `DatabaseMetaData.getPrimaryKeys` — the
    * metadata call that decides upsert-vs-append in the reference
    * (ETLProcess.java:198-206,290-300), in key-sequence order. The name is
    * canonicalized through [[resolveJdbcTable]] first, so the caller's case
    * never decides whether a PK is visible. */
  def jdbcPrimaryKeys(cfg: JdbcConfig, table: String): Seq[String] =
    withConnection(cfg) { conn =>
      val canonical = resolveJdbcTable(conn, table).getOrElse(table)
      val rs = conn.getMetaData.getPrimaryKeys(null, null, canonical)
      val out = scala.collection.mutable.ArrayBuffer[(Short, String)]()
      try { while (rs.next()) out += rs.getShort("KEY_SEQ") -> rs.getString("COLUMN_NAME") }
      finally rs.close()
      out.sortBy(_._1).map(_._2).toSeq
    }

  /** Vendor seam for the statements `jdbcUpsert` runs over a raw driver
    * connection (everything Spark's own JDBC reader/writer executes is
    * already dialected by Spark itself). Exactly the three points where
    * Derby/ANSI and the reference's actual target, SQL Server
    * (config.properties uses `jdbc:sqlserver`; `construirUpsertSQL`,
    * ETLProcess.java:388-427, is T-SQL), disagree:
    *
    *  - empty-stage DDL: ANSI `CREATE TABLE … AS SELECT … WITH NO DATA`
    *    vs T-SQL `SELECT … INTO … WHERE 1 = 0`;
    *  - the MERGE statement terminator: T-SQL REQUIRES a trailing `;`,
    *    Derby rejects one;
    *  - both speak double-quoted identifiers (T-SQL under the driver's
    *    default `QUOTED_IDENTIFIER ON`), so quoting stays shared.
    *
    * Selected from the JDBC URL ([[UpsertDialect.forUrl]]). No SQL Server
    * exists in this harness, so the T-SQL instance is statement-shape
    * tested (DialectSpec) while the ANSI instance runs live against
    * embedded Derby (JdbcSpec). */
  sealed trait UpsertDialect {
    def name: String
    /** DDL creating `stage` empty with the DESTINATION's types for the
      * mapped columns (already quoted; `quotedKeys` ⊆ `quotedCols`) — the
      * staging discipline that keeps the merge from crossing a vendor type
      * boundary. */
    def stageDdl(stage: String, table: String,
        quotedCols: Seq[String], quotedKeys: Seq[String]): String
    /** Apply the vendor's required statement terminator, if any. */
    def terminate(sql: String): String
  }
  object UpsertDialect {
    case object Ansi extends UpsertDialect {
      val name = "ansi"
      def stageDdl(stage: String, table: String,
          quotedCols: Seq[String], quotedKeys: Seq[String]): String =
        s"CREATE TABLE $stage AS SELECT ${quotedCols.mkString(", ")} " +
          s"FROM $table WITH NO DATA"
      def terminate(sql: String): String = sql
    }
    case object SqlServer extends UpsertDialect {
      val name = "sqlserver"
      // SELECT ... INTO copies an IDENTITY property from a bare column
      // reference onto the stage, which would then reject the explicit
      // values the stage load inserts. Key columns (where identity lives —
      // it is the PK pattern) are wrapped in ISNULL(c, c): an expression,
      // so no identity is inherited, and the NOT NULL result type ISNULL
      // produces is exactly right for a primary key. Non-key columns stay
      // bare so their nullability is preserved.
      def stageDdl(stage: String, table: String,
          quotedCols: Seq[String], quotedKeys: Seq[String]): String = {
        val sel = quotedCols.map { c =>
          if (quotedKeys.contains(c)) s"ISNULL($c, $c) AS $c" else c
        }
        s"SELECT ${sel.mkString(", ")} INTO $stage FROM $table WHERE 1 = 0"
      }
      def terminate(sql: String): String = sql + ";"
    }
    def forUrl(url: String): UpsertDialect =
      if (url.toLowerCase.startsWith("jdbc:sqlserver")) SqlServer else Ansi
  }

  /** Write-side dialect for a live SQL Server destination (the
    * reference's actual target — config.properties is `jdbc:sqlserver`),
    * registered on [[graft.Graft.attach]] so first-load CREATEs through
    * the JDBC writer emit the right T-SQL column types. It is Spark's own
    * `MsSqlServerDialect` (NVARCHAR(MAX) strings, BIT, VARBINARY(MAX),
    * `TOP (n)`, `1`/`0` booleans) with two overrides, the types that would
    * otherwise lose precision:
    *
    *  - TIMESTAMP / TIMESTAMP_NTZ → DATETIME2(6): plain T-SQL DATETIME
    *    has 1/300 s granularity, so µs event times (every fixture
    *    timestamp) would round — DATETIME2(6) is exactly the engine's µs
    *    precision;
    *  - DOUBLE → FLOAT: T-SQL's name for the IEEE double.
    *
    * It replaces the built-in instance instead of registering beside it:
    * two dialects for one URL are wrapped in an `AggregatedDialect`, which
    * forwards only a few methods and falls back to `JdbcDialect`'s ANSI
    * defaults for the rest (`LIMIT n`, `true`), invalid T-SQL. The mapping
    * is pinned statement-shape-level in DialectSpec and DdlGoldenSpec. */
  val SqlServerTypes: org.apache.spark.sql.jdbc.JdbcDialect =
    org.apache.spark.sql.jdbc.GraftSqlServerDialect.dialect

  /** The set-based merge statement (ANSI `MERGE`, which Derby and SQL
    * Server both speak) — the reference's intent code `construirMergeSQL`
    * (ETLProcess.java:429-526) and the semantic twin of its live per-row
    * UPDATE-then-INSERT upsert (:388-427). Column identifiers are quoted
    * because Spark's JDBC writer creates case-preserved quoted columns;
    * table names stay as passed (unquoted DDL canonicalizes them). Pure,
    * so the statement shape is unit-testable without a database; the
    * vendor terminator is applied by [[UpsertDialect.terminate]] at the
    * execute site. */
  private[engine] def mergeSql(table: String, stage: String,
      cols: Seq[String], keys: Seq[String]): String = {
    def q(c: String) = "\"" + c + "\""
    val on = keys.map(k => s"t.${q(k)} = s.${q(k)}").mkString(" AND ")
    val nonKeys = cols.filterNot(keys.contains)
    val update =
      if (nonKeys.isEmpty) ""
      else nonKeys.map(c => s"${q(c)} = s.${q(c)}")
        .mkString(" WHEN MATCHED THEN UPDATE SET ", ", ", "")
    val insert = s" WHEN NOT MATCHED THEN INSERT (${cols.map(q).mkString(", ")})" +
      s" VALUES (${cols.map(c => s"s.${q(c)}").mkString(", ")})"
    s"MERGE INTO $table t USING $stage s ON $on$update$insert"
  }

  /** Keyed upsert THROUGH JDBC (R13 end-to-end): the reference's per-row
    * `construirUpsertSQL` loop (ETLProcess.java:388-427) becomes
    * stage-then-merge — the batch lands in a stage table via the parallel
    * batched writer, then ONE set-based `MERGE` applies it, so the
    * destination round-trips once per batch instead of once per row.
    *
    * The rows are [[Sinks.lastWriter]]'s, the rule of [[Sinks.upsert]] —
    * MERGE requires unique source keys anyway (duplicates are an ANSI
    * cardinality error). `orderCol` is loaded only when the destination
    * carries it. Creates the destination on first load (append path), like
    * the writer itself would. */
  def jdbcUpsert(df: DataFrame, cfg: JdbcConfig, table: String,
      keys: Seq[String], orderCol: String,
      batchSize: Int = DefaultBatchSize): Unit = {
    require(keys.nonEmpty, "jdbcUpsert: keys must be non-empty")
    val lastWriter = Sinks.lastWriter(df, keys, orderCol)
    withConnection(cfg) { conn =>
      def execute(sql: String): Unit = {
        val st = conn.createStatement()
        try st.executeUpdate(sql) finally st.close()
      }
      // existence comes from getTables (canonical-case probe), NOT from an
      // empty getColumns result — on a vendor whose canonical case differs
      // from the caller's, that inference would silently take the append
      // path and bypass upsert semantics entirely
      resolveJdbcTable(conn, table) match {
        case None =>
          // first load: the writer creates the destination, like the
          // reference's initial batch
          jdbcAppend(lastWriter, cfg, table, batchSize)
        case Some(canonical) =>
          val md = conn.getMetaData
          val targetCols = strings(
            md.getColumns(null, null, escapePattern(md, canonical), "%"), "COLUMN_NAME")
          if (targetCols.isEmpty) throw new IllegalStateException(
            s"jdbcUpsert: table '$canonical' exists but its columns could not be " +
              "read from DatabaseMetaData — refusing to guess between first-load " +
              "append and keyed merge")
          val cols = df.columns.toSeq.filter(c => c != orderCol || targetCols.contains(c))
          // unique per invocation: concurrent upserts into the same table (e.g.
          // two streaming sinks) must not DROP each other's staged batch; a
          // crashed run's leftover is identifiable by the _graft_stage_ prefix
          val stage = table + "_graft_stage_" +
            java.util.UUID.randomUUID.toString.replace("-", "").take(8)
          def q(c: String) = "\"" + c + "\""
          val dialect = UpsertDialect.forUrl(cfg.url)
          // the stage mirrors the DESTINATION's column types (not the
          // writer's default mappings), so the merge never crosses a
          // vendor type boundary — the standard staging discipline
          execute(dialect.stageDdl(stage, table, cols.map(q), keys.map(q)))
          try {
            jdbcAppend(
              lastWriter.select(cols.map(org.apache.spark.sql.functions.col): _*),
              cfg, stage, batchSize)
            execute(dialect.terminate(mergeSql(table, stage, cols, keys)))
          } finally {
            // best-effort: a failed stage load or MERGE must not leak the
            // stage to a caller who catches and retries — only a process
            // crash should ever leave a _graft_stage_ table behind
            try execute(s"DROP TABLE $stage")
            catch { case _: java.sql.SQLException => () }
          }
      }
    }
  }
}
