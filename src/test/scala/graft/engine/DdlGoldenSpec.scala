package graft.engine

import graft.SparkSpec

/** Golden write-side DDL types (r12 verdict item 7): the exact T-SQL
  * column type every fixture schema would get on a first-load CREATE
  * through Spark's JDBC writer with [[Sources.SqlServerTypes]] registered
  * (which Graft.attach does). The resolution below is LITERALLY the
  * writer's: dialect.getJDBCType orElse JdbcUtils.getCommonJDBCType — so
  * a Spark upgrade that changes a common mapping, a dialect edit, or a
  * fixture-generation type drift all show up as a string diff against
  * this snapshot instead of silently changing the DDL a live SQL Server
  * deployment would receive. (No SQL Server exists in the harness; this
  * is the declared statement/type-level contract, DialectSpec's stance.)
  */
class DdlGoldenSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def emitted(name: String): Seq[String] = {
    import org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
    graft.Tables(spark, dir, name).schema.fields.toSeq.map { f =>
      val t = Sources.SqlServerTypes.getJDBCType(f.dataType)
        .orElse(JdbcUtils.getCommonJDBCType(f.dataType))
        .map(_.databaseTypeDefinition).getOrElse("<unmappable>")
      s"${f.name} $t"
    }
  }

  private val golden: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey INTEGER", "r_name NVARCHAR(MAX)"),
    "nation" -> Seq("n_nationkey INTEGER", "n_name NVARCHAR(MAX)",
      "n_regionkey INTEGER"),
    "customer" -> Seq("c_custkey BIGINT", "c_name NVARCHAR(MAX)",
      "c_nationkey INTEGER", "c_acctbal FLOAT", "c_mktsegment NVARCHAR(MAX)"),
    "supplier" -> Seq("s_suppkey BIGINT", "s_name NVARCHAR(MAX)",
      "s_nationkey INTEGER", "s_acctbal FLOAT"),
    "part" -> Seq("p_partkey BIGINT", "p_name NVARCHAR(MAX)",
      "p_brand NVARCHAR(MAX)", "p_type NVARCHAR(MAX)", "p_size INTEGER",
      "p_retailprice FLOAT"),
    "orders" -> Seq("o_orderkey BIGINT", "o_custkey BIGINT",
      "o_orderstatus NVARCHAR(MAX)", "o_totalprice FLOAT",
      "o_orderdate DATETIME2(6)", "o_orderpriority NVARCHAR(MAX)"),
    "lineitem" -> Seq("l_orderkey BIGINT", "l_partkey BIGINT",
      "l_suppkey BIGINT", "l_linenumber INTEGER", "l_quantity FLOAT",
      "l_extendedprice FLOAT", "l_discount FLOAT", "l_tax FLOAT",
      "l_returnflag NVARCHAR(MAX)", "l_linestatus NVARCHAR(MAX)",
      "l_shipdate DATETIME2(6)"),
    "events" -> Seq("event_id BIGINT", "ts DATETIME2(6)", "user_id BIGINT",
      "event_type NVARCHAR(MAX)", "value FLOAT", "props NVARCHAR(MAX)"),
    "documents" -> Seq("doc_id BIGINT", "text NVARCHAR(MAX)",
      "lang NVARCHAR(MAX)", "source NVARCHAR(MAX)", "n_chars BIGINT"),
    // vectors do NOT ride JDBC: ArrayType has no T-SQL column type in the
    // dialect OR Spark's common mapping — pinned as unmappable so a future
    // silent stringification can't sneak in
    "embeddings" -> Seq("vec_id BIGINT", "embedding <unmappable>",
      "label INTEGER"),
  )

  test("golden T-SQL DDL: every fixture schema emits exactly the pinned column types") {
    graft.Tables.names.foreach { name =>
      withClue(s"table $name: ") { emitted(name) shouldBe golden(name) }
    }
  }

  test("the dialect is registered by Graft.attach (the writer actually finds it)") {
    graft.Graft.attach(spark)
    // registration replaces Spark's builtin MsSqlServerDialect: the URL
    // resolves to OUR type mapping and keeps the builtin's T-SQL spellings
    // (an aggregate of two dialects would fall back to ANSI defaults)
    val resolved = org.apache.spark.sql.jdbc.JdbcDialects
      .get("jdbc:sqlserver://host;databaseName=dw")
    resolved.getJDBCType(org.apache.spark.sql.types.StringType)
      .map(_.databaseTypeDefinition) shouldBe Some("NVARCHAR(MAX)")
    resolved.getJDBCType(org.apache.spark.sql.types.TimestampNTZType)
      .map(_.databaseTypeDefinition) shouldBe Some("DATETIME2(6)")
    resolved.compileValue(true) shouldBe 1
    resolved.getLimitClause(10) shouldBe "TOP (10)"
  }
}
