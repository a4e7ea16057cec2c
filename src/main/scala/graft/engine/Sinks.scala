package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Load-side semantics — parity with the reference's three load paths,
  * re-expressed as distributed set operations instead of per-row T-SQL.
  *
  * The reference loads row-at-a-time over JDBC in 1000-row transactions
  * (reference: src/etl/ETLProcess.java:208-282). At 100 TB that model is a
  * non-starter; each sink below is a single distributed plan whose only
  * shuffle is the join/window on the merge key, and whose write goes through
  * Spark's task-commit protocol (all-or-nothing per job vs. the reference's
  * partially-committed batches).
  *
  * The two load rules — [[lastWriter]] and [[absentRows]] — live here only;
  * the JDBC loads ([[Sources.jdbcUpsert]], [[Sources.jdbcInsertIfAbsent]])
  * select their rows with the same two functions and add only the commit.
  */
object Sinks {

  /** Plain append — the INSERT path with no existence check. */
  def append(existing: DataFrame, incoming: DataFrame): DataFrame =
    existing.unionByName(incoming)

  /** The upsert rule: each key's last incoming row, ordered by `orderCol`.
    * The reference's per-row loop re-updates, so later rows win; a
    * distributed batch has no arrival order, so it needs an explicit
    * ordering column (SURVEY §7.4). Ties on `orderCol` are broken by every
    * remaining column, so the winner does not depend on partition/task
    * order. */
  def lastWriter(incoming: DataFrame, keys: Seq[String], orderCol: String): DataFrame = {
    val tiebreak = incoming.columns.toSeq
      .filterNot(c => c == orderCol || keys.contains(c)).map(col(_).desc)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol).desc +: tiebreak: _*)
    incoming
      .withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }

  /** The insert-if-absent rule — `construirInsertConVerificacion`
    * (reference: src/etl/ETLProcess.java:202-206,444-466): an incoming row
    * lands only if no destination row matches it on ALL columns (whole-row,
    * not key-based — SURVEY §2.C #6). `existing = None` is a first load.
    *
    * The reference's sequential check also makes a duplicate row *within*
    * the batch land only once (the second occurrence sees the first);
    * `dropDuplicates` reproduces that.
    *
    * Null caveat (documented divergence): T-SQL `col = ?` never matches NULL,
    * so the reference re-inserts null-bearing duplicates; the equi-anti-join
    * matches that (null join keys never match), but `dropDuplicates` is
    * null-safe and collapses two identical null-bearing incoming rows.
    *
    * Scale: the anti-join shuffles both sides by all columns' hash; with a
    * bounded destination it is broadcastable — Catalyst/AQE decides.
    */
  def absentRows(incoming: DataFrame, existing: Option[DataFrame]): DataFrame = {
    val cols = existing.fold(incoming.columns)(_.columns).toSeq
    val once = incoming.dropDuplicates(cols)
    existing.fold(once)(once.join(_, cols, "left_anti"))
  }

  /** Insert-if-not-exists: the destination plus its [[absentRows]]. */
  def insertIfAbsent(existing: DataFrame, incoming: DataFrame): DataFrame =
    existing.unionByName(absentRows(incoming, Some(existing)))

  /** Keyed upsert — parity with the PK path `construirUpsertSQL`
    * (reference: src/etl/ETLProcess.java:198-201,388-427): UPDATE non-key
    * columns on key match, INSERT otherwise, with each key's incoming row
    * chosen by [[lastWriter]]. `orderCol` may be batch-only metadata: the
    * final `select` keeps only the destination's columns.
    *
    * Scale: one window shuffle on the key to pick each key's last incoming
    * row, one anti-join shuffle to drop overwritten existing rows. Both hash
    * on the same key, so AQE can reuse the exchange.
    */
  def upsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
             orderCol: String): DataFrame = {
    val last = lastWriter(incoming, keys, orderCol)
    existing.join(last, keys, "left_anti")
      .unionByName(last.select(existing.columns.map(col).toSeq: _*))
  }
}
