package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: one call that wires everything a graft session
  * needs — the config a user would otherwise have to discover one flag at
  * a time (ns-timestamp parquet handling, UTC determinism, shuffle width)
  * plus the engine's SQL surface (custom expressions, UDF registry).
  *
  * Two usage modes:
  *  - own the builder: `Graft.session()` (local dev) or
  *    `Graft.configure(SparkSession.builder()...).getOrCreate()` then
  *    `Graft.attach(spark)` — cluster deployments keep their own master/
  *    resource config;
  *  - join an existing session (e.g. a notebook): `Graft.attach(spark)`
  *    registers the SQL functions imperatively; config that must precede
  *    session construction (extensions) is then the caller's job.
  */
object Graft {

  /** Session-construction config every graft deployment wants. Safe to call
    * on any builder; all settings are overridable by later `.config` calls. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    // determinism: timestamps render/compare identically everywhere
    .config("spark.sql.session.timeZone", "UTC")
    // the driver fixture's events table is parquet TIMESTAMP(NANOS)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // codegen'd expressions (vec_dot) available from SQL text
    .config("spark.sql.extensions", classOf[expressions.GraftExtensions].getName)

  /** Local session with the engine defaults (used by tools and tests). */
  def session(master: String = "local[*]", shufflePartitions: Int =
      Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = configure(SparkSession.builder())
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    attach(spark)
    spark
  }

  /** Register the engine's SQL surface on an ALREADY-built session (the
    * imperative twin of the GraftExtensions injection — idempotent). */
  def attach(spark: SparkSession): SparkSession = {
    expressions.VecDot.register(spark)
    engine.Udfs.register(spark)
    // write-side T-SQL types (engine.Sources.SqlServerTypes; idempotent)
    org.apache.spark.sql.jdbc.GraftSqlServerDialect.register()
    spark
  }
}
