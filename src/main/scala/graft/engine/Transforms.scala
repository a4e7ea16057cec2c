package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, StringType, TimestampNTZType, TimestampType}

/** Per-column scalar transformations — parity with the reference's
  * `aplicarTransformacion` dispatch table
  * (reference: src/etl/ETLProcess.java:528-545) and `extraerParteFecha`
  * (reference: src/etl/ETLProcess.java:547-567).
  *
  * Parity semantics preserved exactly (SURVEY §2.C):
  *  - lower/upper/concat coerce ANY input to string first
  *    (`valor.toString()`, reference :535,537,541) → explicit cast to string;
  *  - date-part on a non-date column is a no-op, not an error (:548-550);
  *  - unknown date-part name is a no-op (:564-565);
  *  - month is 1-based (`Calendar.MONTH + 1`, :559) — Spark's month() too;
  *  - `hora` is 24h hour-of-day (HOUR_OF_DAY, :563) — Spark's hour() too;
  *  - null in → null out for every transform (:529-531) — Spark functions
  *    are null-propagating, so this holds without guards.
  *
  * Everything is a `Column -> Column` rewrite: it stays inside Catalyst and
  * whole-stage codegen, so at 100 TB these run as generated per-row code in
  * the scan stage with zero extra shuffles.
  */
object Transforms {

  sealed trait Transform
  /** reference :353,364-366 */ case object Lower extends Transform
  /** reference :354,367-369 */ case object Upper extends Transform
  /** reference :355,370-374; part ∈ {año, mes, día, hora} */
  case class DatePart(part: String) extends Transform
  /** reference :356,375-379 */ case class ConcatLit(suffix: String) extends Transform
  /** reference :380-382,542-543 ("none") */ case object Identity extends Transform

  /** Spanish part names, as the reference prompts for them (:370-374). */
  private val dateParts: Map[String, Column => Column] = Map(
    "año"  -> (c => year(c)),
    "mes"  -> (c => month(c)),   // 1-based, like Calendar.MONTH + 1 (:559)
    "día"  -> (c => dayofmonth(c)),
    "hora" -> (c => hour(c)),
  )

  /** Apply a transform to a column of the given source data type. */
  def apply(t: Transform, c: Column, dt: DataType): Column = t match {
    case Lower            => lower(coerce(c, dt))
    case Upper            => upper(coerce(c, dt))
    case ConcatLit(s)     => concat(coerce(c, dt), lit(s))
    case DatePart(part)   => dt match {
      // non-Date input passes through unchanged (:548-550);
      // unknown part passes through unchanged (:564-565)
      // the reference lowercases the part name before matching (:555);
      // parquet timestamps without a zone read as TIMESTAMP_NTZ
      case TimestampType | TimestampNTZType | DateType =>
        dateParts.get(part.toLowerCase).fold(c)(f => f(c))
      case _ => c
    }
    case Identity         => c
  }

  /** `valor.toString()` coercion (:535,537,541): non-strings become strings. */
  private def coerce(c: Column, dt: DataType): Column =
    if (dt == StringType) c else c.cast(StringType)
}
