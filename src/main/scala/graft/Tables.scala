package graft

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, StructType}

/** Parquet table loader for the driver's star schema (see FIXTURES.md).
  *
  * Stands in for the reference's JDBC source scan
  * (reference: src/etl/ETLProcess.java:66-75,163-164). At cluster scale the
  * same call reads a partitioned directory; Spark's DataSource v2 handles
  * split planning, predicate pushdown and column pruning, so every operator
  * built on top of this inherits scan-level pruning for free.
  *
  * Schema cache. `spark.read.parquet` infers the schema from a file footer
  * with a one-task Spark job, on every call. Every operator, the catalog,
  * the CLI dialog and the ETL source resolve through here, so each session
  * remembers the schema it inferred per table and hands it to the reader
  * (`spark.read.schema(s).parquet`, which lists files but runs no job).
  *  - Scope: one cache per `SparkSession`, held weakly; a fresh session or
  *    a `newSession()` child infers for itself.
  *  - Key: the qualified table path. An entry is used only while the path's
  *    listing fingerprint (every leaf file's path, length and mtime, from
  *    the session's Hadoop `FileSystem`) and the session's explicit
  *    `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*` settings equal
  *    the ones it was inferred under; otherwise the read infers again and
  *    replaces it. Only metadata is kept, never rows.
  *  - A miss returns the inferring read itself, so it costs what an
  *    uncached read costs plus one listing. A listing that fails (e.g. a
  *    missing path) falls through to the plain read, which raises Spark's
  *    own error.
  *  - No knob: a hit plans exactly what the inferring read plans, and the
  *    fingerprint invalidates on any change to the files or settings that
  *    inference reads, so there is nothing a caller would want to turn off.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Spark 4 rejects parquet TIMESTAMP(NANOS) outright; `nanosAsLong` reads
    * nanos as long, which we truncate to a microsecond TimestampType column
    * (SURVEY §7.4 — the driver data has zero sub-microsecond components, so
    * this is lossless).
    *
    * The flag is an all-or-nothing SESSION config (no per-read option
    * exists), so library entry points (Verify/Bench/Explain, tests) set it
    * at session construction via [[Graft.configure]]. As a fallback for
    * driver-owned sessions we set it here too — but only when loading
    * `events` (the sole ns-timestamp table) and only if the caller hasn't
    * EXPLICITLY set the flag either way (sessionState.conf.contains sees
    * only explicit entries, not the registered default), keeping the
    * loader side-effect-free on every other path and never overriding a
    * deliberate `false`. */
  private val NanosFlag = "spark.sql.legacy.parquet.nanosAsLong"
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events" && !spark.sessionState.conf.contains(NanosFlag))
      spark.conf.set(NanosFlag, "true")
    nanosToMicros(read(spark, s"$dir/$name.parquet"))
  }

  /** Legacy ns-as-long `ts` column → µs timestamp (truncating). */
  private[graft] def nanosToMicros(df: DataFrame): DataFrame =
    if (df.schema.fields.exists(f => f.name == "ts" && f.dataType == LongType))
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else df

  /** What a cached schema was inferred under: leaf files (path, length,
    * mtime) and the explicit parquet settings. */
  private final case class Fingerprint(files: Seq[(String, Long, Long)], conf: Seq[(String, String)])
  private final case class Entry(fingerprint: Fingerprint, schema: StructType)

  private val sessions =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Entry]]()

  private def read(spark: SparkSession, path: String): DataFrame =
    Try(fingerprint(spark, path)).toOption match {
      case None => spark.read.parquet(path)
      case Some((qualified, fp)) =>
        val cache = sessions.synchronized(
          sessions.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, Entry]()))
        Option(cache.get(qualified)).filter(_.fingerprint == fp) match {
          case Some(hit) => spark.read.schema(hit.schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            cache.put(qualified, Entry(fp, df.schema))
            df
        }
    }

  private def fingerprint(spark: SparkSession, path: String): (String, Fingerprint) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val qualified = fs.makeQualified(p)
    // listStatus, not listFiles: the LocatedFileStatus that listFiles builds
    // reads each file's permissions, which the local FileSystem does by
    // forking a process per file (~3 ms a call)
    def leaves(dir: Path): Seq[FileStatus] = fs.listStatus(dir).toSeq
      .flatMap(f => if (f.isDirectory) leaves(f.getPath) else Seq(f))
    val files = leaves(qualified).map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
    val conf = spark.sessionState.conf.getAllConfs.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.sorted
    (qualified.toString, Fingerprint(files.sorted, conf))
  }
}
