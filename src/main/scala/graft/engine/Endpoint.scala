package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One end of the reference's ETL dialog (ETLProcess.java:77-159 pickers,
  * :198-206 load choice): what the console can list, read, ask for keys and
  * load into, without knowing which storage it talks to. Each member is one
  * call into [[Catalog]]/[[graft.Tables]]/[[Sinks]] (a parquet directory) or
  * [[Sources]] (a live database).
  *
  * The loads differ in one way, by the nature of the storage: a parquet
  * load writes nothing and returns the merged table as a lazy plan (the
  * caller decides where it lands); a JDBC load commits to the database and
  * returns a read of the table.
  */
sealed trait Endpoint {
  def tables: Seq[String]
  def table(name: String): DataFrame
  /** Raw SQL, run by the endpoint's own engine (R2, reference :84-86). */
  def query(sql: String): DataFrame
  /** The primary key that selects upsert over insert-if-absent. */
  def keys(table: String): Seq[String]
  def upsert(rows: DataFrame, table: String, keys: Seq[String], orderCol: String): DataFrame
  def insertIfAbsent(rows: DataFrame, table: String): DataFrame
}

object Endpoint {

  final case class Parquet(spark: SparkSession, dir: String) extends Endpoint {
    def tables: Seq[String] = Catalog.listTables(dir)
    def table(name: String): DataFrame = graft.Tables(spark, dir, name)
    def query(sql: String): DataFrame = Catalog.sql(spark, dir, sql)
    def keys(table: String): Seq[String] = Catalog.mergeKeys.getOrElse(table, Nil)
    def upsert(rows: DataFrame, table: String, keys: Seq[String], orderCol: String): DataFrame =
      Sinks.upsert(loaded(rows, table), rows, keys, orderCol)
    def insertIfAbsent(rows: DataFrame, table: String): DataFrame =
      Sinks.insertIfAbsent(loaded(rows, table), rows)
    // the destination's slice that `rows` loads (the reference's INSERT/
    // UPDATE also touches only mapped columns, :388-427,444-466)
    private def loaded(rows: DataFrame, name: String): DataFrame = {
      val dest = table(name)
      dest.select(rows.columns.filter(dest.columns.contains).map(col).toSeq: _*)
    }
  }

  final case class Jdbc(spark: SparkSession, cfg: Sources.JdbcConfig) extends Endpoint {
    def tables: Seq[String] = Sources.listJdbcTables(cfg)
    def table(name: String): DataFrame = Sources.jdbcTable(spark, cfg, name)
    def query(sql: String): DataFrame = Sources.jdbcQuery(spark, cfg, sql)
    def keys(table: String): Seq[String] = Sources.jdbcPrimaryKeys(cfg, table)
    def upsert(rows: DataFrame, table: String, keys: Seq[String], orderCol: String): DataFrame = {
      Sources.jdbcUpsert(rows, cfg, table, keys, orderCol)
      this.table(table)
    }
    def insertIfAbsent(rows: DataFrame, table: String): DataFrame = {
      Sources.jdbcInsertIfAbsent(spark, rows, cfg, table)
      this.table(table)
    }
  }
}
