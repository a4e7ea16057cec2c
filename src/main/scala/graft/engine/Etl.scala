package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** The reference's E/S/M/T/L pipeline as a composable DataFrame API
  * (reference: src/etl/ETLProcess.java:161-287 `extractTransformLoad`).
  *
  * Extract = any DataFrame (parquet/JDBC scan or a full Spark SQL query —
  * Spark SQL owns the surface SQL Server provided via raw-SQL delegation,
  * reference :84-86,163-164). Map/Transform are narrow (no shuffle); Load
  * delegates to [[Sinks]]. The whole chain is one lazy logical plan, so
  * Catalyst pushes the projection and any predicates into the source scan —
  * the reference achieved projection pushdown only by constructing
  * `SELECT col1, col2` by hand (:113-124).
  */
final case class Etl(df: DataFrame) {

  /** Column mapping / rename — parity with `obtenerMapeoColumnas`
    * (reference: src/etl/ETLProcess.java:313-345): source→destination
    * renames; unmapped source columns are silently dropped (:183-190);
    * a destination PK missing from the mapping is a hard error (:336-342).
    *
    * @param mapping ordered (sourceCol, destCol) pairs
    * @param destPks destination primary-key columns that MUST be mapped
    */
  def mapColumns(mapping: Seq[(String, String)], destPks: Seq[String] = Nil): Etl = {
    val mapped = mapping.map(_._2).toSet
    val missing = destPks.filterNot(mapped)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"Primary-key columns not mapped: ${missing.mkString(", ")}")
    Etl(df.select(mapping.map { case (s, d) => col(s).as(d) }: _*))
  }

  /** Per-column scalar transforms — parity with `solicitarTransformaciones`
    * + the per-row apply loop (reference: src/etl/ETLProcess.java:193,220-223),
    * but applied as Catalyst expressions over whole columns. Columns not in
    * `specs` pass through ("none", :542-543). */
  def transform(specs: Map[String, Transforms.Transform]): Etl = {
    val out: Seq[Column] = df.schema.fields.toSeq.map { f =>
      specs.get(f.name)
        .map(t => Transforms(t, col(f.name), f.dataType).as(f.name))
        .getOrElse(col(f.name))
    }
    Etl(df.select(out: _*))
  }

  /** Load with insert-if-not-exists semantics (no-PK path, reference R14). */
  def loadInsertIfAbsent(existing: DataFrame): DataFrame =
    Sinks.insertIfAbsent(existing, df)

  /** Load with keyed upsert semantics (PK path, reference R13). */
  def loadUpsert(existing: DataFrame, keys: Seq[String], orderCol: String): DataFrame =
    Sinks.upsert(existing, df, keys, orderCol)

  def result: DataFrame = df
}
