package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared helpers for the operator modules.
  *
  * `dsum`/`davg`: exact-decimal aggregation of double columns — both engines
  * round the same IEEE double to 2 decimals and sum exactly, so results are
  * independent of aggregation order (and of partition count at 100 TB).
  *
  * `localCheckpoint` barriers: a local checkpoint's blocks stay on the
  * executors until the driver garbage-collects the checkpointed frame (the
  * `ContextCleaner` then removes them). `Dataset.unpersist` does not
  * release them — it only drops `CacheManager` entries, and a checkpoint
  * is not one.
  */
package object ops {
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")
  def davg(c: Column): Column = dsum(c) / count(lit(1))

  /** The events-interval contract shared by interval_merge,
    * join_interval_overlap, the streaming twin (Streams.intervalMerge),
    * and the parity drive's touch-guard: an event opens
    * [ts, ts + props.k minutes), and zero-duration intervals (k < 1)
    * cover nothing — dropped on every engine (also exactly Spark's
    * session_window non-positive-gap rule, which is what makes the
    * streaming twin equal the batch islands). ONE definition so the
    * four sites provably cannot drift. */
  val IntervalMinuteUs = 60000000L
  /** Contract upper bound on props.k (minutes). join_interval_overlap's
    * bucket width equals this so every interval spans ≤ 2 buckets (its
    * ≤2-bucket candidate-bound guarantee degrades silently if an interval
    * ever exceeds it) — IntervalContractSpec asserts the fixtures obey it. */
  val MaxIntervalMinutes = 100L
  def intervalK: Column = get_json_object(col("props"), "$.k").cast("int")
  def intervalStartUs: Column = unix_micros(col("ts").cast("timestamp"))
  def intervalEndUs: Column = intervalStartUs + intervalK * lit(IntervalMinuteUs)

  /** The rate-alert hour index, (user, hour) count grid and baseline view
    * shared by the batch op (ops.Events.rateAlert) and the streaming state
    * fold ([[graft.streaming.Streams.rateAlert]]): one definition of the
    * hour bucket and of the trailing-24-calendar-hour RANGE-frame alert,
    * so the stream-vs-batch parity the drive asserts cannot drift. */
  def hourIdx: Column =
    // integer division (`div`, not `/`): Column./ promotes to double
    expr("unix_micros(cast(date_trunc('hour', ts) as timestamp)) div 3600000000")
  def hourCounts(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"), hourIdx.as("hidx")).agg(count(lit(1)).as("n"))
  def rateAlertOver(counts: DataFrame): DataFrame = {
    val base = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("hidx")).rangeBetween(-24, -1)
    counts.withColumn("prev_sum", sum("n").over(base))
      .select(col("user_id"), col("hidx"), col("n"),
        coalesce(col("prev_sum"), lit(0L)).as("baseline_sum"),
        (col("prev_sum").isNotNull && lit(24) * col("n") > lit(3) * col("prev_sum"))
          .as("alert"))
  }

  def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  /** Round-robin exchange used in the sketch-heavy document ops, for two
    * reasons that both matter at any scale:
    *  1. Parallelism — a small single-file parquet scan is ONE task, so
    *     CPU-heavy per-row sketching (minhash/simhash HOFs) would run on one
    *     core of 32. At 100 TB a scan has thousands of splits and this is a
    *     no-op cost-wise, but the operator shouldn't degrade at small scale.
    *  2. Materialization barrier — Catalyst collapses adjacent projections,
    *     re-inlining an expensive sketch expression into EVERY downstream
    *     reference (e.g. once per LSH band). An exchange materializes the
    *     computed columns so each sketch is evaluated exactly once per row.
    *
    * Partition count: the session's `spark.sql.shuffle.partitions` — the
    * same width every other shuffle in the plan uses, so a harness (or a
    * 1000-executor deployment) that pins shuffle width governs this
    * exchange too, rather than the repartition fighting it with the local
    * core count.
    */
  def exchange(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val n = s.conf.getOption("spark.sql.shuffle.partitions")
      .flatMap(_.toIntOption) // non-numeric (e.g. "auto") → core-count fallback
      .getOrElse(s.sparkContext.defaultParallelism)
    df.repartition(n)
  }

  /** Coalesce-exempt keyed exchange for CPU-DENSE, BYTE-SMALL stages.
    *
    * AQE's partition coalescing is byte-based: a post-shuffle stage whose
    * input is kilobytes is collapsed to ONE task even when each row costs
    * real CPU (the exact-decimal rescores: two 64-element decimal folds
    * per row). `repartition(n, keys)` carries the REPARTITION_BY_NUM
    * shuffle origin, which AQE's CoalesceShufflePartitions does not touch
    * — the stage READING this exchange keeps the full shuffle width, so
    * the expensive projection above it runs partition-parallel.
    *
    * vs round-robin [[exchange]]: a hash repartition pays no
    * sortBeforeRepartition pass and is row-deterministic. Pick `keys`
    * with enough distinct values to spread (e.g. the row id); a
    * downstream window keyed differently just adds its own (cheap,
    * coalescible) exchange above the expensive projection.
    *
    * Ceiling: every row of one key lands in one partition, so the stage
    * above runs at most as many non-empty tasks as `keys` has distinct
    * values, whatever the width. The three window callers (`win_ntile`,
    * `win_cume`, `rank_normalize`) key on 3-5 values, so they run at most
    * 3-5 tasks wide; the exchange buys them that much over AQE's one.
    *
    * Scale note: the stages this guards are shortlist-sized (probes ×
    * RefineK rows) at any data scale, so the extra exchange stays
    * kilobytes at 100 TB while the width it pins is the cluster's. */
  def exchangeWide(df: DataFrame, keys: Column*): DataFrame = {
    val s = df.sparkSession
    val n = s.conf.getOption("spark.sql.shuffle.partitions")
      .flatMap(_.toIntOption)
      .getOrElse(s.sparkContext.defaultParallelism)
    df.repartition(n, keys: _*)
  }

  /** Presentation sort for BOUNDED outputs (aggregates over a small
    * fixed key domain, e.g. 3 return flags). A plain ORDER BY plans a
    * range sort whose boundary-sampling pass RE-EXECUTES the child plan;
    * when the child is an expensive final aggregate merge, the declared
    * sort doubles the op's cost (measured r14: agg_percentile's two
    * final-merge jobs both re-read the full partial-buffer shuffle —
    * 1.1 s for a 3-row output). Shuffling the ≤ dozens of result rows to
    * ONE partition and sorting there produces the identical total order
    * with a single execution, and is the right plan at ANY data scale
    * because the output stays key-domain-bounded. Do NOT use on
    * row-scale outputs. */
  def sortBounded(df: DataFrame, order: Column*): DataFrame =
    df.repartition(1).sortWithinPartitions(order: _*)

  /** Distributed exact global rank: `row_number() OVER (ORDER BY order*)`
    * without a single-partition pass over the input. `order` must be a
    * TOTAL order (unique tiebreak key) — the same determinism contract
    * every rank in this repo already carries.
    *
    * Shape (the classic two-pass offset rank): range-partition on the sort
    * keys, tag each row with its partition id, rank LOCALLY within each
    * partition, and add the broadcast cumulative row-count of all earlier
    * partitions. Every stage is partition-parallel; the only global object
    * is the ≤`shuffle.partitions`-row offset table (bounded by
    * construction, broadcast).
    *
    * The pid-tagged frame is localCheckpointed before it is read twice
    * (local ranks + offsets): `spark_partition_id()` is only meaningful
    * under ONE fixed partitioning, and without the barrier AQE may plan the
    * two consumers with different coalesced readers of the range shuffle —
    * offsets keyed by one pid assignment joined to ranks keyed by another
    * would be silently wrong. The checkpoint freezes a single assignment;
    * its cost is one materialization of the narrow (keys + pid) rows, paid
    * at the scale the caller feeds it (rank inputs here are projections of
    * a few columns, never payloads).
    */
  def globalRank(df: DataFrame, rankCol: String, order: Column*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = df.sparkSession
    val n = s.conf.getOption("spark.sql.shuffle.partitions")
      .flatMap(_.toIntOption)
      .getOrElse(s.sparkContext.defaultParallelism)
    val tagged = df.repartitionByRange(n, order: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val local = tagged.withColumn("__lr",
      row_number().over(Window.partitionBy("__pid").orderBy(order: _*)))
    // offsets: ≤n rows, so the partition-less cumulative window is bounded
    val offs = tagged.groupBy("__pid").agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(
        sum("__n").over(Window.orderBy("__pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__off"))
    local.join(broadcast(offs), Seq("__pid"))
      .withColumn(rankCol, (col("__off") + col("__lr")).cast("int"))
      .drop("__pid", "__lr", "__off")
  }
}
