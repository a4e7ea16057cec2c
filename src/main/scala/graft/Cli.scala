package graft

import java.io.PrintStream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.engine.{Endpoint, Etl, Sources, Transforms}

/** Interactive console front-end — user-facing parity with the reference's
  * prompt-driven ETL flow (reference: src/etl/ETLProcess.java:29-53 main
  * flow, :77-140 source/destination pickers, :313-386 mapping + transform
  * dialogs). One dialog talks to two [[graft.engine.Endpoint]]s — parquet
  * directories or live JDBC databases — for discovery and load, and uses
  * [[Etl]] for mapping/transforms. The console collects a DESCRIPTION of
  * the pipeline; the execution is still Spark plans — nothing is
  * row-at-a-time.
  *
  * Testability: [[Cli.run]] takes the input lines and output stream as
  * parameters, so a scripted-stdin test can walk the whole dialog; `main`
  * wires real stdin/stdout.
  */
object Cli {

  /** Thrown when stdin ends mid-dialog. */
  final class InputExhausted extends RuntimeException("input ended mid-dialog")

  private final class Io(in: Iterator[String], val out: PrintStream) {
    def readLine(prompt: String): String = {
      out.print(prompt)
      if (!in.hasNext) throw new InputExhausted
      in.next().trim
    }
    /** Menu-int read with re-prompt on junk (the reference's nextInt would
      * crash; table-name re-prompt validation is :98-102,133-137). */
    @annotation.tailrec
    def readInt(prompt: String): Int =
      readLine(prompt).toIntOption match {
        case Some(n) => n
        case None    => out.println("Not a number."); readInt(prompt)
      }
    def list(title: String, items: Seq[String]): Unit = {
      out.println(title)
      items.foreach(i => out.println(s"- $i"))
    }
  }

  /** Re-prompt until the name is a known table (R17 validation parity,
    * reference :98-102 source, :133-137 destination). */
  @annotation.tailrec
  private def pickTable(io: Io, tables: Seq[String], role: String): String = {
    val name = io.readLine(s"Enter the $role table name: ")
    if (tables.contains(name)) name
    else {
      io.out.println(s"Table '$name' does not exist.")
      pickTable(io, tables, role)
    }
  }

  private def chooseTable(io: Io, end: Endpoint, role: String): String = {
    val tables = end.tables
    io.list("Available tables:", tables)
    pickTable(io, tables, role)
  }

  /** Source configuration (reference :77-89): raw SQL or table+columns. */
  private def configureSource(io: Io, src: Endpoint): DataFrame = {
    io.out.println("=== SOURCE CONFIGURATION ===")
    io.out.println("1. Enter a SQL query")
    io.out.println("2. Pick a source table")
    // any value other than 1 falls through to the table picker — reference
    // parity (ETLProcess.java:82-89 does `if (opcion == 1) ... else ...`)
    if (io.readInt("Option: ") == 1) {
      // raw SQL pass-through (R2, reference :84-86), run by the source
      src.query(io.readLine("SQL> "))
    } else {
      val table = chooseTable(io, src, "source")
      val full = src.table(table)
      val cols = full.columns.toSeq
      io.list(s"Columns in '$table':", cols)
      val picked = io.readLine("Columns to export (comma-separated): ")
        .split(",").map(_.trim).filter(cols.contains).toSeq
      // no valid column is a hard error, not a re-prompt (reference :122-124)
      if (picked.isEmpty) throw new IllegalArgumentException("No valid columns selected.")
      full.select(picked.map(col): _*)
    }
  }

  /** Per-source-column mapping prompt (reference :313-345): empty skips,
    * unknown destination warns and skips; PK completeness is enforced by
    * Etl.mapColumns (hard error, :336-342). */
  private def mapColumns(io: Io, source: DataFrame, destCols: Seq[String],
      pks: Seq[String]): Seq[(String, String)] = {
    io.out.println("=== COLUMN MAPPING ===")
    io.out.println(s"Source columns: ${source.columns.mkString(", ")}")
    io.out.println(s"Destination columns: ${destCols.mkString(", ")}")
    if (pks.nonEmpty) io.out.println(s"Primary keys: ${pks.mkString(", ")}")
    val used = scala.collection.mutable.Set[String]()
    source.columns.toSeq.flatMap { c =>
      val d = io.readLine(s"Destination column for '$c' (empty to skip): ")
      if (destCols.contains(d) && !used(d)) { used += d; Some(c -> d) }
      else {
        // a doubly-mapped destination would produce two same-named columns
        // and die later in an ambiguous-reference analysis error — warn and
        // skip here, like every other invalid input in the dialog
        if (used(d)) io.out.println(s"Destination column '$d' is already mapped. Skipping.")
        else if (d.nonEmpty) io.out.println(s"Destination column '$d' does not exist. Skipping.")
        None
      }
    }
  }

  /** Transform menu per mapped column (reference :348-386). */
  private def askTransforms(io: Io, cols: Seq[String]): Map[String, Transforms.Transform] = {
    io.out.println("=== TRANSFORMS ===")
    cols.map { c =>
      io.out.println(s"Column: $c")
      io.out.println("1. Lowercase")
      io.out.println("2. Uppercase")
      io.out.println("3. Extract date part")
      io.out.println("4. Concatenate a value")
      io.out.println("5. No transform")
      val t: Transforms.Transform = io.readInt("Option: ") match {
        case 1 => Transforms.Lower
        case 2 => Transforms.Upper
        case 3 => Transforms.DatePart(io.readLine("Part (año/mes/día/hora): "))
        case 4 => Transforms.ConcatLit(io.readLine("Value to concatenate: "))
        case _ => Transforms.Identity
      }
      c -> t
    }.toMap
  }

  /** A distributed last-writer-wins merge needs an explicit ordering column
    * (SURVEY §7.4) where the reference relied on arrival order. */
  @annotation.tailrec
  private def askOrder(io: Io, cols: Seq[String]): String = {
    val c = io.readLine(s"Ordering column for last-writer-wins (${cols.mkString(", ")}): ")
    if (cols.contains(c)) c
    else { io.out.println(s"'$c' is not a mapped column."); askOrder(io, cols) }
  }

  /** Walk the full dialog from `src` to `dst` and return the loaded result:
    * keyed upsert when the destination has a primary key (:198-201),
    * whole-row insert-if-absent otherwise (:202-206,444-466). See
    * [[graft.engine.Endpoint]] for what a load does to each storage. */
  def run(src: Endpoint, dst: Endpoint, input: Iterator[String],
      out: PrintStream): DataFrame = {
    val io = new Io(input, out)
    val source = configureSource(io, src)

    out.println("=== DESTINATION CONFIGURATION ===")
    val dest = chooseTable(io, dst, "destination")
    val pks = dst.keys(dest)
    val mapping = mapColumns(io, source, dst.table(dest).columns.toSeq, pks)
    val mapped = mapping.map(_._2)
    val rows = Etl(source).mapColumns(mapping, pks) // PK hard error lives here
      .transform(askTransforms(io, mapped)).result
    val result =
      if (pks.nonEmpty) dst.upsert(rows, dest, pks, askOrder(io, mapped))
      else dst.insertIfAbsent(rows, dest)
    out.println(s"ETL complete. Loaded into '$dest'.")
    result
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Cli <dataDir | config.properties>")
    val spark = Graft.session(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]"))
    spark.sparkContext.setLogLevel("WARN")
    // a .properties argument selects JDBC mode (the reference's entry
    // point); anything else is a parquet data dir
    val (src, dst) = args.head match {
      case p if p.endsWith(".properties") =>
        val props = Sources.loadProperties(p)
        (Endpoint.Jdbc(spark, Sources.jdbcConfig(props, "origen")),
          Endpoint.Jdbc(spark, Sources.jdbcConfig(props, "destino")))
      case dir =>
        val lake = Endpoint.Parquet(spark, dir)
        (lake, lake)
    }
    val result = run(src, dst, scala.io.Source.stdin.getLines(), System.out)
    // materialize + show a sample, like the reference's completion report
    System.out.println(s"Rows: ${result.count()}")
    result.show(10, truncate = false)
    spark.stop()
  }
}
