package graft.engine

import java.io.File

import org.apache.spark.sql.SparkSession

/** Catalog discovery + registration — parity with the reference's metadata
  * RPCs: table list via `DatabaseMetaData.getTables`
  * (reference: src/etl/ETLProcess.java:142-159), column list via
  * `getColumns` (:105-111,302-311; here `Endpoint.table(name).columns`),
  * and primary keys via `getPrimaryKeys`
  * (:290-300). Spark's catalog has no PK notion, so merge keys live in
  * engine metadata exactly like the reference carries them in code.
  */
object Catalog {

  /** List the tables available in a parquet directory (R4). */
  def listTables(dir: String): Seq[String] = {
    val found = Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet"))
      .map(_.getName.stripSuffix(".parquet"))
      .toSeq.sorted
    if (found.nonEmpty) found else graft.Tables.names.sorted
  }

  /** Engine-carried merge keys per fixture table (R6's getPrimaryKeys
    * analog): drives upsert-vs-append choice exactly like the reference's
    * PK check (ETLProcess.java:198-206). */
  val mergeKeys: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"),
    "nation" -> Seq("n_nationkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"),
    "events" -> Seq("event_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
  )

  /** Register every fixture table as a temp view so raw SQL (R2) runs over
    * the same names the oracle uses — Spark SQL replaces SQL Server as the
    * executor of user-typed SQL. */
  def registerViews(spark: SparkSession, dir: String): Unit =
    graft.Tables.names.foreach { n =>
      graft.Tables(spark, dir, n).createOrReplaceTempView(n)
    }

  /** Raw-SQL extraction entry (R2 parity, ETLProcess.java:84-86): arbitrary
    * SQL, executed by Spark SQL over the registered views. */
  def sql(spark: SparkSession, dir: String, query: String) = {
    registerViews(spark, dir)
    spark.sql(query)
  }
}
