package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Streaming-shaped event-time operators on `events` (SURVEY §2.B
  * "Streaming-shaped ops"), batch-testable against gap-island / time-bucket
  * oracle SQL. `graft.streaming.Streams` exposes the `readStream` twins of
  * the same shapes with watermarks (unit-tested, not oracle-checkable).
  *
  * Scale: tumbling/sliding windows are plain hash aggregates on (window,
  * key) — partial combine applies, so the shuffle carries one row per
  * (window × key × partition). Session windows shuffle once on user_id.
  */
object Events {

  private def dsumV = sum(col("value").cast(DecimalType(18, 2)))
    .cast("double").as("sum_value")
  private val dsumVSql = "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value"

  private val tumbling = Op("stream_tumbling",
    s"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws,
       |  CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS we,
       |  event_type, COUNT(*) AS n, $dsumVSql
       |FROM events WHERE ts IS NOT NULL GROUP BY 1, 2, 3 ORDER BY ws, event_type""".stripMargin) { (s, d) =>
    t(s, d, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsumV)
      .select(col("window.start").as("ws"), col("window.end").as("we"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("ws", "event_type")
  }

  // Sliding windows: each event lands in 4 overlapping 1h windows on a 15min
  // slide. Oracle expands the same 4 windows per event via time_bucket.
  private val sliding = Op("stream_sliding",
    s"""SELECT CAST(tb - k.k * INTERVAL 15 MINUTE AS TIMESTAMP) AS ws,
       |  CAST(tb - k.k * INTERVAL 15 MINUTE + INTERVAL 1 HOUR AS TIMESTAMP) AS we,
       |  COUNT(*) AS n, $dsumVSql
       |FROM (SELECT time_bucket(INTERVAL '15 minutes', ts) AS tb, value FROM events WHERE ts IS NOT NULL) e
       |CROSS JOIN (VALUES (0), (1), (2), (3)) k(k)
       |GROUP BY 1, 2 ORDER BY ws""".stripMargin) { (s, d) =>
    t(s, d, "events")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"), dsumV)
      .select(col("window.start").as("ws"), col("window.end").as("we"),
        col("n"), col("sum_value"))
      .orderBy("ws")
  }

  // stream_topk — per-window top-k: the 2 busiest event types of every
  // tumbling hour (count-desc, type tiebreak). Plan: hash aggregate on
  // (window, type) with partial combine, then a rank filter Spark 4
  // rewrites into WindowGroupLimit — each shuffle partition keeps only
  // its local top-2 per window before the exchange, so at 100 TB the
  // window stage never materializes the full per-type count set. The
  // streaming twin (Streams.topk) folds topkGrid per micro-batch and
  // ranks the folded grid with topkView.
  private val streamTopk = Op("stream_topk",
    """WITH agg AS (
      |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws,
      |    event_type, COUNT(*) AS n
      |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2)
      |SELECT ws, event_type, n, rn FROM (
      |  SELECT ws, event_type, n,
      |    row_number() OVER (PARTITION BY ws
      |                       ORDER BY n DESC, event_type) AS rn
      |  FROM agg)
      |WHERE rn <= 2 ORDER BY ws, rn""".stripMargin) { (s, d) =>
    topkView(topkGrid(t(s, d, "events"))).orderBy("ws", "rn")
  }

  /** (hour window, type) counts: the grid the streaming twin folds
    * ([[graft.streaming.Streams.topk]]). */
  private[graft] def topkGrid(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))

  /** The 2 busiest types per window over a completed count grid. */
  private[graft] def topkView(grid: DataFrame): DataFrame =
    grid.withColumn("rn", row_number().over(
        Window.partitionBy("ws").orderBy(col("n").desc, col("event_type").asc)))
      .filter(col("rn") <= 2)

  // Session windows per user (30min gap). Spark semantics: events merge into
  // a session iff gap-to-previous < 30min; session end = last ts + gap. The
  // oracle is the classic gap-island rewrite with the SAME boundary rule
  // (new session iff diff >= gap — SURVEY §7.4).
  private val session = Op("stream_session",
    s"""WITH e AS (
       |  SELECT user_id, ts, value,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |      OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS is_new
       |  FROM events WHERE ts IS NOT NULL WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       |s AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM e)
       |SELECT user_id, CAST(MIN(ts) AS TIMESTAMP) AS session_start,
       |  CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
       |  COUNT(*) AS n, $dsumVSql
       |FROM s GROUP BY user_id, sid
       |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
    t(s, d, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), dsumV)
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n"), col("sum_value"))
      .orderBy("user_id", "session_start")
  }

  // Dedup: deterministic "first event wins" per (user_id, event_type) —
  // dropDuplicates keeps an ARBITRARY row, so the verifiable form is the
  // window rewrite with a total ordering (streaming twin:
  // dropDuplicatesWithinWatermark in graft.streaming.Streams).
  private val dedup = Op("stream_dedup",
    """SELECT event_id, user_id, event_type, ts, value FROM events
      |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
      |                           ORDER BY ts, event_id) = 1
      |ORDER BY event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").asc, col("event_id").asc)
    t(s, d, "events")
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select("event_id", "user_id", "event_type", "ts", "value")
      .orderBy("event_id")
  }

  // Incremental aggregation — the delta-processing pattern: partial
  // aggregates computed on disjoint slices (yesterday's materialized
  // rollup + today's delta) MERGE into exactly the full-recompute result,
  // because count/decimal-sum are algebraic. At 100 TB this is the
  // difference between touching one day of data and touching all of it;
  // the oracle is the full recompute, so the gate proves merge == full.
  private val incremental = Op("agg_incremental",
    s"""SELECT event_type, COUNT(*) AS n, $dsumVSql
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    val e = t(s, d, "events")
    val cutoff = lit("2024-01-15").cast("timestamp")
    // the slices must PARTITION the table — a bare ts >= cutoff complement
    // would silently drop NULL-ts rows that the full recompute counts
    val history = incrPartial(e.filter(col("ts") < cutoff)) // materialized rollup
    val delta = incrPartial(e.filter(col("ts") >= cutoff || col("ts").isNull))
    incrView(incrMergeGrids(history, delta))
  }

  /** Per-slice (event_type, n, dsum) partials — agg_incremental's only
    * fact-scale pass, shared with the streaming twin
    * ([[graft.streaming.Streams.incr]]): count + exact decimal sum are
    * algebraic, so any batch cut folds bit-identically. dsum is carried at
    * DECIMAL(38,2) so repeated fold/merge rounds keep ONE fixed state
    * schema (Spark widens sum(DECIMAL) per aggregate; pinning the carrier
    * at the cap makes the fold idempotent in type as well as value). */
  private[graft] def incrPartial(events: DataFrame): DataFrame =
    events.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2)))
          .cast(DecimalType(38, 2)).as("dsum"))

  /** Merge two partial grids — the delta-processing contract itself. */
  private[graft] def incrMergeGrids(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy("event_type")
      .agg(sum(col("n")).as("n"),
        sum(col("dsum")).cast(DecimalType(38, 2)).as("dsum"))

  /** Final contract projection over the merged grid. */
  private[graft] def incrView(grid: DataFrame): DataFrame =
    grid.select(col("event_type"), col("n"),
        col("dsum").cast("double").as("sum_value"))
      .orderBy("event_type")

  // --------------------------------------------------------------------
  // event_funnel — ordered-sequence analysis: how far does each user get
  // through signup → click → purchase, where each step must occur STRICTLY
  // AFTER the previous one? Three keyed min-aggregates chained by joins —
  // every join and aggregate hashes on user_id, so the whole funnel is one
  // shuffle key end-to-end (AQE reuses the exchange) and scales linearly.
  // --------------------------------------------------------------------
  private val funnel = Op("event_funnel",
    """WITH su AS (SELECT user_id, MIN(ts) AS t_signup FROM events
      |            WHERE event_type = 'signup' GROUP BY user_id),
      |c AS (SELECT e.user_id, MIN(e.ts) AS t_click FROM events e
      |      JOIN su ON e.user_id = su.user_id
      |      WHERE e.event_type = 'click' AND e.ts > su.t_signup GROUP BY e.user_id),
      |p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase FROM events e
      |      JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id),
      |u AS (SELECT DISTINCT user_id FROM events)
      |SELECT u.user_id,
      |  CASE WHEN p.t_purchase IS NOT NULL THEN 3
      |       WHEN c.t_click IS NOT NULL THEN 2
      |       WHEN su.t_signup IS NOT NULL THEN 1 ELSE 0 END AS stage,
      |  CAST(su.t_signup AS TIMESTAMP) AS t_signup,
      |  CAST(c.t_click AS TIMESTAMP) AS t_click,
      |  CAST(p.t_purchase AS TIMESTAMP) AS t_purchase
      |FROM u LEFT JOIN su ON u.user_id = su.user_id
      |       LEFT JOIN c ON u.user_id = c.user_id
      |       LEFT JOIN p ON u.user_id = p.user_id
      |ORDER BY u.user_id""".stripMargin) { (s, d) =>
    funnelView(funnelFold(emptyFunnelState(s, "timestamp_ntz"), t(s, d, "events")))
  }

  /** A genuinely EMPTY relation with the given schema: a zero-row
    * LocalRelation, which PropagateEmptyRelation folds away — the fold
    * identities below must vanish from the batch ops' plans entirely
    * (a `range(0)` would survive optimization and break the ops' pinned
    * exchange-reuse). */
  private def emptyDf(s: SparkSession, ddl: String): DataFrame =
    s.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  /** Empty per-user funnel state (the fold identity). The ts type is a
    * parameter because the fold is type-generic: the batch op folds the
    * fixture's TIMESTAMP_NTZ (keeping the contract output type), while
    * the streaming twin folds instant-typed rows (its state parquet
    * round-trips as TIMESTAMP) — mixing the two in one union would be a
    * type error, not a value bug, so each path stays homogeneous. */
  private[graft] def emptyFunnelState(s: SparkSession,
      tsType: String = "timestamp"): DataFrame =
    emptyDf(s, s"user_id BIGINT, t_signup $tsType, " +
      s"t_click $tsType, t_purchase $tsType")

  /** One funnel fold step — the batch op IS this fold applied once to the
    * whole log over the empty state, and the streaming twin
    * ([[graft.streaming.Streams.funnel]]) applies it per micro-batch,
    * so they provably share the semantics. The per-user state is three
    * timestamps; each step fills the next unfilled stage from the batch's
    * strictly-later candidates (batch-internal chaining included: a
    * signup and its click may land in the same batch). EXACT under
    * per-user event-time-ordered arrival: stage k's first qualifying
    * event can then never precede an already-folded batch, which is
    * also trivially true for the whole-log single step. */
  private[graft] def funnelFold(state: DataFrame, events: DataFrame): DataFrame = {
    val b = events.select(col("user_id"), col("event_type"), col("ts"))
    val users = state.select("user_id")
      .unionByName(b.select("user_id")).distinct()
    val st = users.join(state, Seq("user_id"), "left")
    val bsu = b.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("b_su"))
    val s1 = st.join(bsu, Seq("user_id"), "left")
      .select(col("user_id"),
        coalesce(col("t_signup"), col("b_su")).as("t_signup"),
        col("t_click"), col("t_purchase"))
    val bcl = b.filter(col("event_type") === "click")
      .join(s1.select("user_id", "t_signup"), "user_id")
      .filter(col("ts") > col("t_signup"))
      .groupBy("user_id").agg(min("ts").as("b_cl"))
    val s2 = s1.join(bcl, Seq("user_id"), "left")
      .select(col("user_id"), col("t_signup"),
        coalesce(col("t_click"), col("b_cl")).as("t_click"),
        col("t_purchase"))
    val bpu = b.filter(col("event_type") === "purchase")
      .join(s2.select("user_id", "t_click"), "user_id")
      .filter(col("ts") > col("t_click"))
      .groupBy("user_id").agg(min("ts").as("b_pu"))
    s2.join(bpu, Seq("user_id"), "left")
      .select(col("user_id"), col("t_signup"), col("t_click"),
        coalesce(col("t_purchase"), col("b_pu")).as("t_purchase"))
  }

  /** Stage classification over the completed funnel state — shared final
    * projection of the batch op and the streaming twin. */
  private[graft] def funnelView(state: DataFrame): DataFrame =
    state.select(col("user_id"),
        when(col("t_purchase").isNotNull, 3)
          .when(col("t_click").isNotNull, 2)
          .when(col("t_signup").isNotNull, 1)
          .otherwise(0).as("stage"),
        col("t_signup"), col("t_click"), col("t_purchase"))
      .orderBy("user_id")

  // --------------------------------------------------------------------
  // event_pattern — CEP / MATCH_RECOGNIZE shape: a purchase "converts"
  // iff a click of the same user happened within the preceding 10
  // minutes AND no error intervened after that click. Sequence, time
  // bound, and NEGATION in ONE user-keyed window pass: carry the max
  // preceding click/error timestamps (max over a ts-ordered frame IS
  // the latest — and being order-insensitive, ties can't diverge
  // between engines), then the match is a row-local predicate. No
  // per-row NFA, no self-joins: the 100 TB cost is one shuffle on
  // user_id, and both carries share the same sort. The streaming twin
  // of this shape is flatMapGroupsWithState (streaming/CustomState).
  // --------------------------------------------------------------------
  private val eventPattern = Op("event_pattern",
    """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |                  event_type FROM events),
      |w AS (SELECT *,
      |  max(CASE WHEN event_type = 'click' THEN ts END) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click,
      |  max(CASE WHEN event_type = 'error' THEN ts END) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_error
      |  FROM e)
      |SELECT event_id, user_id,
      |  (last_click IS NOT NULL AND last_click >= ts - INTERVAL 10 MINUTE
      |   AND (last_error IS NULL OR last_error <= last_click)) AS converted
      |FROM w WHERE event_type = 'purchase'
      |ORDER BY event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    t(s, d, "events")
      .select("event_id", "user_id", "ts", "event_type")
      .withColumn("last_click",
        max(when(col("event_type") === "click", col("ts"))).over(w))
      .withColumn("last_error",
        max(when(col("event_type") === "error", col("ts"))).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        (col("last_click").isNotNull
          && col("last_click") >= col("ts") - expr("INTERVAL 10 MINUTES")
          && (col("last_error").isNull || col("last_error") <= col("last_click")))
          .as("converted"))
      .orderBy("event_id")
  }

  // --------------------------------------------------------------------
  // retention_cohort — cohort analysis: users grouped by first-active week,
  // counted in each subsequent week they return. Two keyed aggregates (user
  // distinct-weeks, then per-user min) + one count-distinct per cell; weeks
  // via date_trunc so both engines bucket on Monday boundaries.
  // --------------------------------------------------------------------
  private val retention = Op("retention_cohort",
    """WITH uw AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w
      |            FROM events WHERE ts IS NOT NULL),
      |co AS (SELECT user_id, MIN(w) AS cw FROM uw GROUP BY user_id)
      |SELECT CAST(cw AS TIMESTAMP) AS cohort_week,
      |  CAST(datediff('day', cw, w) // 7 AS INT) AS week_offset,
      |  COUNT(DISTINCT uw.user_id) AS n_users
      |FROM uw JOIN co ON uw.user_id = co.user_id
      |GROUP BY cw, datediff('day', cw, w) // 7
      |ORDER BY cohort_week, week_offset""".stripMargin) { (s, d) =>
    retentionView(retentionGrid(t(s, d, "events")))
  }

  /** The distinct (user_id, week) presence grid — the fact-scale
    * reduction shared by retention_cohort and its streaming twin
    * ([[graft.streaming.Streams.retention]]): presence is idempotent
    * (merge = union ∪ distinct), so any batch cut folds to the same grid;
    * state is |users × weeks| bounded, never stream volume. */
  private[graft] def retentionGrid(events: DataFrame): DataFrame =
    events.filter(col("ts").isNotNull)
      .select(col("user_id"), date_trunc("week", col("ts")).as("w")).distinct()

  /** Cohort assignment + per-cell distinct counts over the completed
    * presence grid (grid-scale work only). */
  private[graft] def retentionView(uw: DataFrame): DataFrame = {
    val co = uw.groupBy("user_id").agg(min("w").as("cw"))
    uw.join(co, "user_id")
      .select(col("user_id"), col("cw"),
        (datediff(col("w"), col("cw")) / 7).cast("int").as("week_offset"))
      .groupBy(col("cw").as("cohort_week"), col("week_offset"))
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  // --------------------------------------------------------------------
  // stream_interval_join — the stream-stream join shape: each purchase
  // matched to the same user's clicks in the preceding 10 minutes. Batch
  // twin of Streams.intervalJoin (where watermarks bound both sides'
  // buffered state). Plan: equi-join on user_id with the time-range
  // residual — one keyed shuffle, no quadratic blowup, because the range
  // rides on the equi key.
  // --------------------------------------------------------------------
  private val intervalJoin = Op("stream_interval_join",
    """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
      |  (epoch_us(p.ts) - epoch_us(c.ts)) // 1000 AS delay_ms
      |FROM events p JOIN events c ON p.user_id = c.user_id
      |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
      |  AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 10 MINUTE
      |ORDER BY purchase_id, click_id""".stripMargin) { (s, d) =>
    val e = t(s, d, "events")
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("pts"))
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("cts"))
    p.join(c, Seq("user_id"))
      .filter(col("cts") <= col("pts")
        && col("cts") > col("pts") - expr("INTERVAL 10 MINUTES"))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        // µs difference first, ONE division after: the delay is
        // non-negative so floor == truncate — per-timestamp ms
        // conversion diverges pre-epoch (Spark floors µs→ms, DuckDB
        // truncates; the extreme-timestamp fixture's find)
        expr("(unix_micros(cast(pts as timestamp)) "
          + "- unix_micros(cast(cts as timestamp))) div 1000").as("delay_ms"))
      .orderBy("purchase_id", "click_id")
  }

  // Left-outer flavor: every purchase appears, matched or not — the
  // attribution-report shape (unattributed purchases carry NULL click).
  // In the streaming twin (Streams.intervalJoin with joinType=left_outer)
  // the unmatched row is emitted once the watermark proves no click can
  // still arrive.
  private val intervalJoinLeft = Op("stream_interval_join_left",
    """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
      |  (epoch_us(p.ts) - epoch_us(c.ts)) // 1000 AS delay_ms
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      |  AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 10 MINUTE
      |ORDER BY purchase_id, click_id NULLS FIRST""".stripMargin) { (s, d) =>
    val e = t(s, d, "events")
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("pts"))
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cuid"), col("ts").as("cts"))
    p.join(c, col("user_id") === col("cuid")
        && col("cts") <= col("pts")
        && col("cts") > col("pts") - expr("INTERVAL 10 MINUTES"), "left")
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        // µs-difference-then-div, as in stream_interval_join above
        expr("(unix_micros(cast(pts as timestamp)) "
          + "- unix_micros(cast(cts as timestamp))) div 1000").as("delay_ms"))
      .orderBy(col("purchase_id").asc, col("click_id").asc_nulls_first)
  }

  // --------------------------------------------------------------------
  // event_sequences — journey mining, the discovery twin of event_funnel:
  // instead of checking a KNOWN signup→click→purchase path, surface the
  // most common observed paths (each user's first 5 events in time order,
  // joined into a path string, counted across users). One user-keyed
  // window shuffle + one path aggregate; the top-k is
  // TakeOrderedAndProject, so only k×partitions rows reach the driver at
  // any scale. Ties in ts break on event_id; null-ts events are excluded
  // on BOTH engines (Spark sorts NULLS FIRST, DuckDB NULLS LAST — the
  // filter keeps the engines symmetric).
  // --------------------------------------------------------------------
  private val SeqLen = 5

  private val eventSequences = Op("event_sequences",
    s"""WITH r AS (
       |  SELECT user_id, event_type,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM events WHERE ts IS NOT NULL),
       |p AS (
       |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
       |  FROM r WHERE rn <= $SeqLen GROUP BY user_id)
       |SELECT path, COUNT(*) AS n_users FROM p
       |GROUP BY path ORDER BY n_users DESC, path LIMIT 20""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    t(s, d, "events")
      .filter(col("ts").isNotNull)
      .select(col("user_id"), col("event_type"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= SeqLen)
      .groupBy("user_id")
      // collect_list has no intra-task order guarantee — sort the (rn,
      // type) structs, then project the types back out
      .agg(concat_ws(">", transform(
        array_sort(collect_list(struct(col("rn"), col("event_type")))),
        x => x.getField("event_type"))).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path").asc)
      .limit(20)
  }

  // --------------------------------------------------------------------
  // event_attribution — last-touch attribution: every purchase credited to
  // the same user's most recent PRECEDING click (the marketing-analytics
  // kernel behind conversion reporting). Not a join: an IGNORE-NULLS
  // carry-forward window over the user's unified event stream propagates
  // the last click id/ts to each following row — ONE shuffle on user_id,
  // each event read once, versus the interval-join formulation that
  // re-scans every click per purchase. Unattributed purchases (no prior
  // click) stay in the result with NULL credit — the audit needs them.
  // Total order inside a user: (ts, event_id) — event_id breaks ts ties
  // identically on both engines.
  // --------------------------------------------------------------------
  // --------------------------------------------------------------------
  // attribution_first_touch — event_attribution's other half of THE
  // marketing-attribution debate: credit each purchase to the user's
  // FIRST click (discovery touch) instead of the most recent one, with
  // a 7-day lookback bound — a first touch older than the window is
  // treated as a new journey (NULL credit), the staleness discipline
  // join_asof_tolerance established. Same single user-keyed window pass
  // (first_value IGNORE NULLS carries the atomic click struct), same
  // one-shuffle scale shape as event_attribution. The values-desync
  // lesson from join_asof_nearest applies here too: id + ts are carried
  // in ONE struct, never as separate ignoreNulls frames.
  // --------------------------------------------------------------------
  private val attributionFirstTouch = Op("attribution_first_touch",
    """WITH u AS (
      |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
      |    first_value(CASE WHEN event_type = 'click' AND ts IS NOT NULL THEN event_id END IGNORE NULLS)
      |      OVER w AS click_id,
      |    first_value(CASE WHEN event_type = 'click' AND ts IS NOT NULL THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS)
      |      OVER w AS click_ts
      |  FROM events
      |  WHERE event_type IN ('click', 'purchase')
      |  WINDOW w AS (PARTITION BY user_id
      |               ORDER BY CAST(ts AS TIMESTAMP), event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
      |  CASE WHEN click_ts >= ts - INTERVAL 7 DAY THEN click_id END AS first_click_id,
      |  CASE WHEN click_ts >= ts - INTERVAL 7 DAY
      |       THEN epoch_us(ts) - epoch_us(click_ts) END AS journey_us
      |FROM u WHERE event_type = 'purchase'
      |ORDER BY purchase_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // a NULL-ts click is no touch candidate: the struct pick would carry
    // its NULL cts and void the user's WHOLE later attribution, and the
    // oracle's two IGNORE NULLS frames would desync id from ts (NULL-
    // fixture find) — both unrepresentable once it never enters the carry
    val clickRow = when(col("event_type") === "click" && col("ts").isNotNull,
      struct(col("event_id").as("cid"), col("ts").as("cts")))
    val fresh = col("c.cts") >= col("ts") - expr("INTERVAL 7 DAYS")
    t(s, d, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("c", first(clickRow, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"),
        when(fresh, col("c.cid")).as("first_click_id"),
        when(fresh,
          unix_micros(col("ts").cast("timestamp"))
            - unix_micros(col("c.cts").cast("timestamp"))).as("journey_us"))
      .orderBy("purchase_id")
  }

  private val attribution = Op("event_attribution",
    """WITH u AS (
      |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
      |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
      |      OVER w AS click_id,
      |    last_value(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS)
      |      OVER w AS click_ts
      |  FROM events
      |  WHERE event_type IN ('click', 'purchase')
      |  WINDOW w AS (PARTITION BY user_id
      |               ORDER BY CAST(ts AS TIMESTAMP), event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
      |  click_id, click_ts,
      |  epoch_us(ts) - epoch_us(click_ts) AS delay_us
      |FROM u WHERE event_type = 'purchase'
      |ORDER BY purchase_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, d, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"),
        last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true)
          .over(w).as("click_id"),
        last(when(col("event_type") === "click", col("ts")), ignoreNulls = true)
          .over(w).as("click_ts"))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("click_id"), col("click_ts"),
        (unix_micros(col("ts").cast("timestamp"))
          - unix_micros(col("click_ts").cast("timestamp"))).as("delay_us"))
      .orderBy("purchase_id")
  }

  // --------------------------------------------------------------------
  // attribution_time_decay — the THIRD standard attribution model, next
  // to event_attribution (last-touch) and attribution_first_touch:
  // multi-touch with time decay. Every purchase's credit is split across
  // ALL of the user's clicks in the 7-day lookback, weighted by a 1-day
  // half-life — w = 2^(7 − age_days), an exact INTEGER power of two
  // (the win_ema dyadic-decay discipline: 2^x is the one exponential
  // both engines compute exactly; a e^(−λt) weight would be a libm
  // fork). Credit share = w·10⁴ div Σw in integer bp — fully exact, no
  // floats anywhere. Purchases with no click in the window are absent
  // (the per-touch table; event_attribution already reports the
  // unattributed ones — declared).
  //
  // Per purchase, only the MostRecentTouches most recent clicks are
  // credited (rank by recency, exact (cts, click_id) total order): the
  // standard industry touch cap, and the SCALE guard — without it the
  // pair table grows quadratically in per-user density (measured: 100×
  // density → ~10⁴× pairs → 142 s at the 100× probe; with the cap the
  // output is ≤ 64 rows per purchase). A touch older than the 64 most
  // recent would carry ~2⁻⁶⁴-scale credit anyway — the cap changes
  // nothing the bp quantization could see.
  //
  // Scale shape: an equi-join on user_id with a range predicate — ONE
  // shuffle per side; the recency cap plans as a WindowGroupLimit
  // (per-key top-64 heap) on the same (user, purchase) key as the Σw
  // window, so both ride one exchange. NULL ts/user rows never enter
  // (no position in time / no identity — the interarrival contract).
  // --------------------------------------------------------------------
  private val MostRecentTouches = 64

  private val attributionTimeDecay = Op("attribution_time_decay",
    s"""WITH p AS (
      |  SELECT event_id AS purchase_id, user_id,
      |    CAST(ts AS TIMESTAMP) AS pts
      |  FROM events
      |  WHERE event_type = 'purchase' AND ts IS NOT NULL AND user_id IS NOT NULL),
      |c AS (
      |  SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS cts
      |  FROM events
      |  WHERE event_type = 'click' AND ts IS NOT NULL AND user_id IS NOT NULL),
      |pair AS (
      |  SELECT p.purchase_id, p.user_id, c.click_id,
      |    CAST((epoch_us(p.pts) - epoch_us(c.cts)) // 86400000000 AS BIGINT)
      |      AS age_days,
      |    row_number() OVER (PARTITION BY p.purchase_id
      |                       ORDER BY c.cts DESC, c.click_id DESC) AS rc
      |  FROM p JOIN c ON p.user_id = c.user_id
      |    AND c.cts <= p.pts AND c.cts >= p.pts - INTERVAL 7 DAY),
      |wt AS (
      |  SELECT purchase_id, user_id, click_id, age_days,
      |    CAST(1 << (7 - age_days) AS BIGINT) AS w
      |  FROM pair WHERE rc <= $MostRecentTouches)
      |SELECT purchase_id, user_id, click_id, age_days, w,
      |  w * 10000 // CAST(SUM(w) OVER (PARTITION BY purchase_id) AS BIGINT)
      |    AS credit_bp
      |FROM wt ORDER BY purchase_id, click_id""".stripMargin) { (s, d) =>
    val ev = t(s, d, "events")
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("pts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_uid"),
        col("ts").as("cts"))
    creditPairs(p, c).orderBy("purchase_id", "click_id")
  }

  /** purchases × click-candidates → the credited pair table: the join,
    * recency cap, dyadic weights, and bp shares — factored so the batch
    * op and the streaming fold share it verbatim. Windows are keyed
    * (user_id, purchase_id) rather than purchase_id alone: purchase_id
    * implies user_id, and HashPartitioning(user) SATISFIES clustering on
    * (user, purchase) — so at scale, where the range join plans as a
    * sort-merge on user_id, both windows ride the join's exchange
    * instead of re-shuffling the pair table. */
  private[graft] def creditPairs(p: DataFrame, c: DataFrame): DataFrame = {
    val byPurchase = Window.partitionBy("user_id", "purchase_id")
    p.join(c, col("user_id") === col("c_uid")
        && col("cts") <= col("pts")
        && col("cts") >= col("pts") - expr("INTERVAL 7 DAYS"))
      .withColumn("rc", row_number().over(
        byPurchase.orderBy(col("cts").desc, col("click_id").desc)))
      .filter(col("rc") <= MostRecentTouches)
      .withColumn("age_days", expr(
        "(unix_micros(cast(pts as timestamp)) " +
          "- unix_micros(cast(cts as timestamp))) div 86400000000"))
      .withColumn("w", expr("shiftleft(1L, cast(7 - age_days as int))"))
      .withColumn("sum_w", sum("w").over(byPurchase))
      .withColumn("credit_bp", expr("w * 10000 div sum_w"))
      .select(col("purchase_id"), col("user_id"), col("click_id"),
        col("age_days"), col("w"), col("credit_bp"))
  }

  /** One time-decay-attribution fold step for the streaming twin
    * ([[graft.streaming.Streams.attr]]): union the carried ≤64-click
    * recency ring per user with the batch's clicks, credit the batch's
    * purchases through [[creditPairs]] (shared verbatim), and carry the
    * new ring — the 64 most recent clicks per user, exactly the
    * candidate state the touch cap admits.
    *
    * Exact under per-user event-time-ordered arrival: the ring can only
    * evict a click once ≥64 LATER clicks precede any future purchase, in
    * which case the evicted click is outside that purchase's top-64 by
    * construction. THIS is the dense-path production shape — per-batch
    * cost is purchases × (ring + batch clicks) per user, where the batch
    * op's one-shot join must generate the full pair table (quadratic in
    * per-user density; measured in the §2 row). */
  private[graft] def attrFold(ring: DataFrame, batch: DataFrame)
      : (DataFrame, DataFrame) = {
    val ev = batch.filter(col("ts").isNotNull && col("user_id").isNotNull)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("pts"))
    val cAll = ring.select(col("click_id"), col("c_uid"), col("cts"))
      .unionByName(ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"),
          col("user_id").as("c_uid"), col("ts").as("cts")))
    val out = creditPairs(p, cAll)
    val wLast = Window.partitionBy("c_uid")
      .orderBy(col("cts").desc, col("click_id").desc)
    val newRing = cAll.withColumn("__rn", row_number().over(wLast))
      .filter(col("__rn") <= MostRecentTouches)
      .select(col("click_id"), col("c_uid"), col("cts"))
    (out, newRing)
  }

  // --------------------------------------------------------------------
  // win_bollinger — the rolling mean ± 2σ band per user over the cents
  // stream (win_ema is the decay-weighted level; this is the VOLATILITY
  // band — the standard "is this reading abnormal for THIS user lately"
  // telemetry gate, anomaly_mad's rolling per-entity sibling). Frame =
  // the 8 trailing readings under the pinned (ts, event_id) total order;
  // mean/σ from EXACT frame sums (Σcents BIGINT, Σcents² DECIMAL(38,0) —
  // cents square past int64 at the numeric-edge magnitudes), the band
  // test a fixed IEEE tree; partial frames (<8 rows) emit NULL stats and
  // flag (declared — a band needs its window full); σ's variance operand
  // is clamped at 0 (an all-equal frame's exact-zero variance can round
  // to −ulp in IEEE, and sqrt(−ulp) is a NaN fork both engines would
  // share but no contract should carry).
  //
  // Scale shape: ONE user-keyed window (partial sort per key, the
  // win_ema shape) — frame state is 8 rows regardless of history; NULL
  // ts/user/value rows excluded (declared).
  // --------------------------------------------------------------------
  private val winBollinger = Op("win_bollinger", {
    def d(e: String) = s"CAST(CAST($e AS VARCHAR) AS DOUBLE)"
    s"""WITH e AS (
       |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM events
       |  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL),
       |f AS (
       |  SELECT event_id, user_id, cents,
       |    CAST(count(*) OVER w AS BIGINT) AS n,
       |    CAST(SUM(cents) OVER w AS BIGINT) AS sx,
       |    CAST(SUM(CAST(cents AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0)))
       |      OVER w AS DECIMAL(38,0)) AS sxx
       |  FROM e
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
       |               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
       |SELECT event_id, user_id, cents,
       |  CASE WHEN n = 8 THEN CAST(sx AS DOUBLE) / 8 END AS mean_cents,
       |  CASE WHEN n = 8 THEN sqrt(greatest(
       |    (${d("sxx")} - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / 8) / 7,
       |    CAST(0 AS DOUBLE))) END AS std_cents,
       |  CASE WHEN n = 8 THEN
       |    abs(CAST(cents AS DOUBLE) - CAST(sx AS DOUBLE) / 8)
       |      > CAST(2 AS DOUBLE) * sqrt(greatest(
       |        (${d("sxx")} - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / 8) / 7,
       |        CAST(0 AS DOUBLE)))
       |  END AS outlier
       |FROM f ORDER BY event_id""".stripMargin
  }) { (s, d) =>
    val (out, _) = bollFold(emptyBollRing(s, "timestamp_ntz"), t(s, d, "events"))
    out.orderBy("event_id")
  }

  /** Empty per-user 7-row band ring (the bollinger fold identity); a
    * zero-row LocalRelation so PropagateEmptyRelation prunes it from the
    * batch plan (the fold-identity lesson, §7.3.13). */
  private[graft] def emptyBollRing(s: SparkSession,
      tsType: String = "timestamp"): DataFrame =
    emptyDf(s, s"event_id BIGINT, user_id BIGINT, ts $tsType, cents BIGINT")

  /** One Bollinger fold step: union the carried ≤7-row per-user ring
    * with the batch, run the SAME exact-sum frame over the pinned
    * (ts, event_id) order, emit band rows for the batch's events only,
    * and carry the 7 latest rows per user (exactly the state an 8-row
    * trailing frame needs — the emaFold ring, with band arithmetic).
    * The batch op IS this fold applied once over the empty ring; the
    * streaming twin ([[graft.streaming.Streams.boll]]) applies it
    * per micro-batch — EXACT under per-user event-time-ordered arrival. */
  private[graft] def bollFold(ring: DataFrame, events: DataFrame)
      : (DataFrame, DataFrame) = {
    val dec = DecimalType(19, 0)
    val b = events
      .filter(col("ts").isNotNull && col("user_id").isNotNull
        && col("value").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"),
        lit(true).as("__new"))
    val r = ring.select(col("event_id"), col("user_id"), col("ts"),
      col("cents"), lit(false).as("__new"))
    val all = r.unionByName(b)
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(-7, Window.currentRow)
    val full = col("n") === 8
    val mean = col("sx").cast("double") / lit(8)
    val variance = greatest(
      (col("sxx").cast("double") - col("sx").cast("double")
        * col("sx").cast("double") / lit(8)) / lit(7), lit(0.0))
    val out = all
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum("cents").over(w))
      .withColumn("sxx", sum(col("cents").cast(dec) * col("cents").cast(dec))
        .over(w).cast(DecimalType(38, 0)))
      .filter(col("__new"))
      .select(col("event_id"), col("user_id"), col("cents"),
        when(full, mean).as("mean_cents"),
        when(full, sqrt(variance)).as("std_cents"),
        when(full, abs(col("cents").cast("double") - mean)
          > lit(2.0) * sqrt(variance)).as("outlier"))
    val wLast = Window.partitionBy("user_id")
      .orderBy(col("ts").desc_nulls_last, col("event_id").desc)
    val newRing = all.withColumn("__rn", row_number().over(wLast))
      .filter(col("__rn") <= 7)
      .select("event_id", "user_id", "ts", "cents")
    (out, newRing)
  }

  // --------------------------------------------------------------------
  // churn_rate — the week-over-week churn KPI next to
  // rolling_active_users' DAU/WAU and retention_cohort's triangle: per
  // week, how many of the week's actives do NOT return the following
  // week (a user who skips a week and returns later still counts as
  // churned for that week — the standard period-over-period definition;
  // the cohort view of the same question is retention_cohort). The final
  // in-data week is right-censored (no following week exists to retain
  // into) and excluded — declared, via the anchor broadcast. All exact
  // int64: presence is a distinct (user, week) grid, retention is an
  // exact 7-day lead comparison, churn share is integer bp.
  //
  // Scale shape: ONE fact pass to the distinct (user, week) presence
  // grid (map-side combine); the lead window is keyed per user over the
  // GRID (≤ weeks rows per key); the weekly rollup is grid-scale; the
  // anchor is a 1-row broadcast (anomaly_mad pattern, declared BNLJ).
  // --------------------------------------------------------------------
  private val churnRate = Op("churn_rate",
    """WITH uw AS (
      |  SELECT DISTINCT user_id,
      |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS week
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      |a AS (SELECT max(week) AS last_week FROM uw),
      |r AS (
      |  SELECT user_id, week,
      |    lead(week) OVER (PARTITION BY user_id ORDER BY week)
      |      = week + INTERVAL 7 DAY AS retained
      |  FROM uw),
      |g AS (
      |  SELECT week, count(*) AS n_active,
      |    count(*) FILTER (WHERE retained) AS n_retained
      |  FROM r GROUP BY 1)
      |SELECT week, n_active, n_retained,
      |  n_active - n_retained AS n_churned,
      |  (n_active - n_retained) * 10000 // n_active AS churn_bp
      |FROM g, a WHERE week < last_week
      |ORDER BY week""".stripMargin) { (s, d) =>
    churnView(churnGrid(t(s, d, "events")))
  }

  /** The distinct (user, week) presence grid — churn_rate's only
    * fact-scale pass, shared with the streaming twin
    * ([[graft.streaming.Streams.churn]]): a presence set, so the
    * fold is union+distinct and absorbs replays outright (the
    * rolling_active_users argument). */
  private[graft] def churnGrid(events: DataFrame): DataFrame =
    events.filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"),
        date_trunc("week", col("ts").cast("timestamp")).cast("timestamp")
          .as("week"))
      .distinct()

  /** Retention lead + weekly rollup over a completed presence grid. */
  private[graft] def churnView(uw: DataFrame): DataFrame = {
    val anchor = uw.agg(max("week").as("last_week"))
    val byUser = Window.partitionBy("user_id").orderBy("week")
    uw.withColumn("retained",
        lead("week", 1).over(byUser) === col("week") + expr("INTERVAL 7 DAYS"))
      .groupBy("week")
      .agg(count(lit(1)).as("n_active"),
        count(when(col("retained"), 1)).as("n_retained"))
      .crossJoin(broadcast(anchor))
      .filter(col("week") < col("last_week"))
      .withColumn("n_churned", col("n_active") - col("n_retained"))
      .withColumn("churn_bp", expr("(n_active - n_retained) * 10000 div n_active"))
      .select(col("week"), col("n_active"), col("n_retained"),
        col("n_churned"), col("churn_bp"))
      .orderBy("week")
  }

  // --------------------------------------------------------------------
  // trend_detect — period-over-period movers: per-user weekly activity,
  // delta vs the user's previous week, top 20 by absolute change (the
  // "biggest movers" report behind engagement/anomaly dashboards). One
  // keyed aggregate on (user, week), a lag window on the user key (the
  // same shuffle key — AQE reuses the exchange), TakeOrderedAndProject
  // top-k. abs(delta) ties broken by (user_id, wk) — total order.
  // --------------------------------------------------------------------
  private val trendDetect = Op("trend_detect",
    """WITH wk AS (
      |  SELECT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |d AS (SELECT user_id, wk, n,
      |        n - lag(n) OVER (PARTITION BY user_id ORDER BY wk) AS delta
      |      FROM wk)
      |SELECT user_id, CAST(wk AS TIMESTAMP) AS wk, n, delta
      |FROM d WHERE delta IS NOT NULL
      |ORDER BY abs(delta) DESC, user_id, wk LIMIT 20""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("wk")
    t(s, d, "events")
      .groupBy(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .agg(count(lit(1)).as("n"))
      .withColumn("delta", col("n") - lag("n", 1).over(w))
      .filter(col("delta").isNotNull)
      .orderBy(abs(col("delta")).desc, col("user_id").asc, col("wk").asc)
      .limit(20)
  }

  // --------------------------------------------------------------------
  // sessionize — per-EVENT session-id assignment (stream_session's
  // aggregate twin, kept because feature pipelines need the id ON each
  // event, not the rolled-up session): a new session starts when the gap
  // to the user's previous event reaches 30 min (the same gap rule as
  // Spark's session_window), and the id is the running count of session
  // starts. Two windows over the SAME (user_id, ts, event_id) order —
  // one shuffle, the second window reuses the sort. Timestamps compare at
  // µs on both engines (the ns-truncation discipline).
  // --------------------------------------------------------------------
  private val SessionGapUs = 30L * 60 * 1000000

  private val sessionize = Op("sessionize",
    """WITH e AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
      |      OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w
      |         >= INTERVAL 30 MINUTE
      |      THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id))
      |SELECT event_id, user_id, ts,
      |  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |FROM e ORDER BY event_id""".stripMargin) { (s, d) =>
    sessionStage(t(s, d, "events")).orderBy("event_id")
  }

  /** The 30-minute-gap session assignment — one row per event with its
    * (user, session_id). Shared verbatim by sessionize (the per-event
    * table) and session_stats (the per-session rollup), so the rollup
    * aggregates exactly the sessions the assignment op reports. */
  private[graft] def sessionStage(events: DataFrame): DataFrame = {
    val ord = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("prev", lag("ts", 1).over(ord))
      .withColumn("is_new",
        when(col("prev").isNull ||
          unix_micros(col("ts").cast("timestamp"))
            - unix_micros(col("prev").cast("timestamp")) >= SessionGapUs, 1)
          .otherwise(0))
      .select(col("event_id"), col("user_id"), col("ts"),
        sum("is_new").over(cum).as("session_id"))
  }

  // --------------------------------------------------------------------
  // session_stats — the per-session rollup over sessionize's assignment
  // (bounce rate, depth, dwell time: the session-quality table behind
  // every engagement dashboard). Stage shared verbatim with sessionize
  // (sessionStage), so the rollup aggregates exactly the sessions the
  // assignment op reports; duration is exact BIGINT microseconds
  // (epoch-µs difference of the agreed timestamps — no interval-type
  // cross-engine fork); sessions holding only NULL-ts events surface
  // with NULL start/end/duration (each NULL-ts event opens its own
  // session under the NULLS FIRST pinned order — inherited, not
  // re-decided here).
  //
  // Scale shape: sessionize's one keyed window (partial sort per user,
  // no global order) + ONE map-side-combinable rollup to the session
  // grid.
  // --------------------------------------------------------------------
  private val sessionStats = Op("session_stats",
    """WITH e AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
      |      OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w
      |         >= INTERVAL 30 MINUTE
      |      THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)),
      |sess AS (
      |  SELECT event_id, user_id, ts,
      |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS session_id
      |  FROM e)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  min(ts) AS start_ts, max(ts) AS end_ts,
      |  epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us,
      |  count(*) = 1 AS bounce
      |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    sessionStage(t(s, d, "events"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("ts").as("start_ts"), max("ts").as("end_ts"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("start_ts"), col("end_ts"),
        (unix_micros(col("end_ts").cast("timestamp"))
          - unix_micros(col("start_ts").cast("timestamp"))).as("dur_us"),
        (col("n_events") === 1).as("bounce"))
      .orderBy("user_id", "session_id")
  }

  // --------------------------------------------------------------------
  // cdc_apply — apply a change-data-capture log onto a base snapshot,
  // last-writer-wins: the event stream is read as a CDC log over the
  // customer state table ('error' → DELETE the key, every other type →
  // UPSERT the key's value), each key's winning change is the LAST event
  // in the total (ts, event_id) order, and the merged state is
  // base ⟗ winners with deletes dropped and untouched base rows passing
  // through. This is the merge kernel a lakehouse table format runs on
  // ingest (snapshot_diff is its inverse — diffing two states back into
  // a change set). Plan shape: ONE keyed window over the log (row_number
  // desc — partial sort per key, no global order) collapses it to
  // |keys| winner rows, then ONE full-outer hash join against the
  // snapshot; the log side post-collapse is bounded by key cardinality,
  // so at 100 TB the join cost tracks the ACTIVE key set, not the log
  // volume. Values go through DECIMAL(18,2) so the merged state is
  // bit-identical on both engines, then cast back to double for the
  // final schema (house rule: raw DECIMAL output hash-mismatches in the
  // driver even when values are identical — see ops/package.scala dsum).
  // --------------------------------------------------------------------
  private val cdcApply = Op("cdc_apply",
    """WITH winners AS (
      |  SELECT user_id AS k,
      |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |    CAST(value AS DECIMAL(18,2)) AS v
      |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
      |          ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      |        FROM events) WHERE rn = 1)
      |SELECT coalesce(w.k, c.c_custkey) AS k,
      |  CAST(CASE WHEN w.k IS NULL THEN CAST(c.c_acctbal AS DECIMAL(18,2))
      |       ELSE w.v END AS DOUBLE) AS val,
      |  CASE WHEN w.k IS NULL THEN 'base' ELSE 'cdc' END AS src
      |FROM (SELECT c_custkey, c_acctbal FROM customer) c
      |FULL OUTER JOIN winners w ON c.c_custkey = w.k
      |WHERE coalesce(w.op, 'U') = 'U'
      |ORDER BY k""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val winners = t(s, d, "events")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id").as("k"),
        when(col("event_type") === "error", "D").otherwise("U").as("op"),
        col("value").cast(DecimalType(18, 2)).as("v"))
    t(s, d, "customer")
      .select(col("c_custkey"), col("c_acctbal").cast(DecimalType(18, 2)).as("cv"))
      .join(winners, col("c_custkey") === col("k"), "full_outer")
      .filter(coalesce(col("op"), lit("U")) === "U")
      .select(coalesce(col("k"), col("c_custkey")).as("k"),
        when(col("k").isNull, col("cv")).otherwise(col("v"))
          .cast("double").as("val"),
        when(col("k").isNull, "base").otherwise("cdc").as("src"))
      .orderBy("k")
  }

  // --------------------------------------------------------------------
  // win_running_distinct — cumulative distinct count per user over time
  // (the "new behavior" detector: how many DIFFERENT event types has
  // this user shown by each event?). The scalable formulation: flag
  // each (user, type)'s FIRST occurrence with one keyed row_number,
  // then running-sum the flags along the user's stream — state per row
  // is one bit, not a growing set (size(collect_set() OVER ...) would
  // buffer the set per frame and is exactly what this shape avoids at
  // 100 TB). Two window passes, both hashed on user_id subsets.
  // --------------------------------------------------------------------
  private val winRunningDistinct = Op("win_running_distinct",
    """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |                  event_type FROM events),
      |f AS (SELECT *, (row_number() OVER (PARTITION BY user_id, event_type
      |                                    ORDER BY ts, event_id) = 1) AS fst
      |      FROM e)
      |SELECT event_id, user_id,
      |  CAST(sum(CASE WHEN fst THEN 1 ELSE 0 END) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS n_types_seen
      |FROM f ORDER BY event_id""".stripMargin) { (s, d) =>
    rdFold(emptyRdSeen(s), t(s, d, "events"))._1.orderBy("event_id")
  }

  /** Empty (user_id, event_type) seen-grid (the fold identity). */
  private[graft] def emptyRdSeen(s: SparkSession): DataFrame =
    emptyDf(s, "user_id BIGINT, event_type STRING")

  /** One running-distinct fold step: a batch row is a FIRST occurrence
    * iff its (user, type) is absent from the carried seen-grid AND it is
    * the first such row within the batch; its running count = the
    * carried grid's per-user size + the intra-batch running flag sum.
    * Returns (emitted rows, new seen-grid). The batch op IS this fold
    * over the empty grid (the seen-join degenerates, the flag reduces to
    * the one-window form); the streaming twin
    * ([[graft.streaming.Streams.rd]]) applies it per micro-batch —
    * EXACT under per-user event-time-ordered arrival. State is one bit
    * per (user, type), the same formulation that keeps the batch window
    * from buffering per-frame sets at 100 TB. */
  private[graft] def rdFold(seen: DataFrame, events: DataFrame)
      : (DataFrame, DataFrame) = {
    val b = events.select("event_id", "user_id", "ts", "event_type")
    val prior = seen.groupBy("user_id").agg(count(lit(1)).as("n_prior"))
    val firstW = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").asc, col("event_id").asc)
    val runW = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // null-safe seen-join: a NULL event_type is its own tracked "type"
    // on both engines, so it must match its own grid row across batches
    val sn = seen.select(col("user_id").as("s_uid"),
      col("event_type").as("s_type"), lit(true).as("__seen"))
    val out = b.join(sn, col("user_id") <=> col("s_uid")
          && col("event_type") <=> col("s_type"), "left")
      .drop("s_uid", "s_type")
      .withColumn("fst", col("__seen").isNull && row_number().over(firstW) === 1)
      // null-safe for the same reason: a NULL user is its own partition
      .join(prior.select(col("user_id").as("p_uid"), col("n_prior")),
        col("user_id") <=> col("p_uid"), "left")
      .drop("p_uid")
      .withColumn("n_types_seen",
        coalesce(col("n_prior"), lit(0L))
          + sum(when(col("fst"), 1L).otherwise(0L)).over(runW))
      .select("event_id", "user_id", "n_types_seen")
    val newSeen = seen
      .unionByName(b.select("user_id", "event_type")).distinct()
    (out, newSeen)
  }

  // --------------------------------------------------------------------
  // stream_throttle — rate limiting / telemetry sampling: keep only the
  // FIRST event per (user, 5-minute bucket), dropping the rest. The
  // keyed-window twin of stream_dedup with a time-bucketed key — at
  // 100 TB one shuffle on (user, bucket) and per-group state of one
  // row; the streaming twin is dropDuplicatesWithinWatermark on the
  // composite key. Bucket = the same epoch-aligned window() /
  // time_bucket both engines already share (stream_sliding).
  // --------------------------------------------------------------------
  private val streamThrottle = Op("stream_throttle",
    """SELECT event_id, user_id,
      |  CAST(time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
      |       AS TIMESTAMP) AS ws
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY user_id, time_bucket(INTERVAL '5 minutes',
      |                                          CAST(ts AS TIMESTAMP))
      |        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      |      FROM events WHERE ts IS NOT NULL)
      |WHERE rn = 1 ORDER BY event_id""".stripMargin) { (s, d) =>
    val bucketed = t(s, d, "events")
      .select(col("event_id"), col("user_id"), col("ts"),
        window(col("ts"), "5 minutes").getField("start").as("ws"))
    val w = Window.partitionBy("user_id", "ws")
      .orderBy(col("ts").asc, col("event_id").asc)
    bucketed
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("event_id", "user_id", "ws")
      .orderBy("event_id")
  }

  // --------------------------------------------------------------------
  // event_markov — first-order behavior model: the event-type transition
  // matrix (from → to counts over each user's time-ordered stream) with
  // per-source-state transition probability in integer basis points —
  // the statistic behind next-action prediction, funnel-drop diagnosis,
  // and bot detection. Integer arithmetic end to end (count + `div`), so
  // both engines agree exactly.
  //
  // Scale shape: ONE user-keyed window sort (lead), then a hash agg down
  // to |types|² rows — the row-total window runs over that tiny matrix,
  // never the stream. The output is fixed-size at any stream volume.
  // --------------------------------------------------------------------
  private val eventMarkov = Op("event_markov",
    """WITH s AS (
      |  SELECT user_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |                           ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |m AS (SELECT event_type AS from_type, next_type AS to_type,
      |        count(*) AS n
      |      FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  n * 10000 // CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS p_bp
      |FROM m ORDER BY from_type, to_type""".stripMargin) { (s, d) =>
    val ord = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    t(s, d, "events")
      .select(col("user_id"), col("event_type"),
        lead("event_type", 1).over(ord).as("next_type"))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p_bp",
        expr("n * 10000 div sum(n) OVER (PARTITION BY from_type)"))
      .orderBy("from_type", "to_type")
  }

  // --------------------------------------------------------------------
  // event_streak — longest consecutive-active-days run per user (the
  // engagement-streak metric), by the gaps-and-islands rewrite: distinct
  // active days, island id = day-number − per-user day rank (constant
  // within a consecutive run), longest island per user with the earliest
  // start as the deterministic tiebreak.
  //
  // Scale shape: the distinct collapses the stream to (user, day) —
  // bounded by users × calendar, NOT event volume; both windows and the
  // island aggregate ride the SAME user-keyed shuffle (one exchange).
  // --------------------------------------------------------------------
  private val eventStreak = Op("event_streak",
    """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |g AS (SELECT user_id, day,
      |        datediff('day', DATE '1970-01-01', day)
      |          - row_number() OVER (PARTITION BY user_id ORDER BY day) AS isl
      |      FROM d),
      |r AS (SELECT user_id, CAST(count(*) AS BIGINT) AS streak_days,
      |        min(day) AS streak_start
      |      FROM g GROUP BY user_id, isl)
      |SELECT user_id, streak_days, streak_start FROM r
      |QUALIFY row_number() OVER (PARTITION BY user_id
      |                           ORDER BY streak_days DESC, streak_start) = 1
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    val byDay = Window.partitionBy("user_id").orderBy("day")
    val best = Window.partitionBy("user_id")
      .orderBy(col("streak_days").desc, col("streak_start").asc)
    t(s, d, "events")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .withColumn("isl",
        datediff(col("day"), lit("1970-01-01").cast("date"))
          - row_number().over(byDay))
      .groupBy("user_id", "isl")
      .agg(count(lit(1)).as("streak_days"), min("day").as("streak_start"))
      .withColumn("__rn", row_number().over(best)).filter(col("__rn") === 1)
      .select("user_id", "streak_days", "streak_start")
      .orderBy("user_id")
  }

  // --------------------------------------------------------------------
  // time_ohlc — resample the value series into daily OHLC bars per event
  // type (financial bars / telemetry downsampling). Open and close come
  // from min/max over the struct (ts, event_id, value): (ts, event_id)
  // is a unique total order, so the lexicographic struct extreme IS the
  // first/last observation of the bar — which makes the whole op ONE
  // partial+final aggregate (struct extremes aren't hash-bufferable, so
  // Spark plans SortAggregate: a per-partition sort on the group key,
  // but still map-side partial combine). At 100 TB the one exchange
  // carries |days × types| partials per upstream partition; the
  // window-function formulation would instead shuffle and sort EVERY
  // event, twice (asc + desc row_number).
  // --------------------------------------------------------------------
  private val timeOhlc = Op("time_ohlc",
    """SELECT CAST(ts AS DATE) AS day, event_type,
      |  (MIN(struct_pack(ts := ts, event_id := event_id, value := value))).value AS open,
      |  MAX(value) AS high, MIN(value) AS low,
      |  (MAX(struct_pack(ts := ts, event_id := event_id, value := value))).value AS close,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
      |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin) { (s, d) =>
    t(s, d, "events")
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(
        min(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("close"),
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("volume"))
      .orderBy("day", "event_type")
  }

  // --------------------------------------------------------------------
  // watermark_audit — watermark-sizing replay: for each event, lateness
  // = (running max event-time over EARLIER-ARRIVING events of the same
  // user) − its own event-time, bucketed into the watermark-delay bands
  // a streaming deployment picks from (on-time, <1m, <5m, <1h, ≥1h).
  // The histogram says exactly what fraction of events a given
  // withWatermark delay in streaming/Streams.scala would drop as
  // too-late. The fixture log is stored in perfect event-time order
  // (zero inversions — verified), so the replay models transport: each
  // event ARRIVES at ts + a deterministic salted-hash jitter of up to
  // 10 min (the standard at-least-once-delivery skew), which is how you
  // size a watermark from a historical log when the ingest timestamps
  // weren't recorded. All arithmetic is int64 epoch-µs — no float, no
  // interval-type divergence between engines. The running max is keyed
  // on user_id (arrival order is only meaningful per key), so the
  // window state partitions across executors like any keyed stream.
  // --------------------------------------------------------------------
  private val watermarkAudit = Op("watermark_audit",
    s"""WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
      |    epoch_us(CAST(ts AS TIMESTAMP))
      |      + (${graft.ops.Text.h60Sql("concat('jit:', CAST(event_id AS VARCHAR))")}
      |         % 600) * 1000000 AS aus
      |  FROM events),
      |a AS (
      |  SELECT user_id, tus,
      |    MAX(tus) OVER (PARTITION BY user_id ORDER BY aus, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
      |  FROM e),
      |l AS (SELECT user_id,
      |        CASE WHEN hwm IS NULL OR hwm <= tus THEN 0 ELSE hwm - tus END AS late_us
      |      FROM a)
      |SELECT CASE WHEN late_us = 0 THEN '0_on_time'
      |  WHEN late_us < 60000000 THEN '1_lt_1m'
      |  WHEN late_us < 300000000 THEN '2_lt_5m'
      |  WHEN late_us < 3600000000 THEN '3_lt_1h'
      |  ELSE '4_ge_1h' END AS bucket,
      |  COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
      |FROM l GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
    val arrival = Window.partitionBy("user_id").orderBy("aus", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketed = wmProjected(t(s, d, "events"))
      .withColumn("hwm", max("tus").over(arrival))
      .withColumn("bucket", wmBucket(wmLateness(col("hwm"), col("tus"))))
    wmView(wmGrid(bucketed))
  }

  /** The (user, event, event-time-µs, arrival-µs) projection — the
    * watermark audit's shared first stage (arrival = event time + a
    * deterministic salted-hash jitter ≤10 min), used by the batch op and
    * the streaming twin ([[graft.streaming.Streams.wm]]). */
  private[graft] def wmProjected(events: DataFrame): DataFrame = {
    import graft.ops.Text.h60
    val tus = unix_micros(col("ts").cast("timestamp"))
    val jitterS = h60(concat(lit("jit:"), col("event_id").cast("string"))) % 600
    events.select(col("user_id"), col("event_id"), tus.as("tus"),
      (tus + jitterS * 1000000L).as("aus"))
  }

  /** Lateness of an event given its per-user arrival high-water mark —
    * shared contract expression (NULL tus propagates to the ≥1h band on
    * both engines, pinned by the NULL-fixture sweep). */
  private[graft] def wmLateness(hwm: Column, tus: Column): Column =
    when(hwm.isNull || hwm <= tus, 0L).otherwise(hwm - tus)

  /** The watermark-delay band of a µs lateness — shared contract. */
  private[graft] def wmBucket(lateUs: Column): Column =
    when(lateUs === 0, "0_on_time")
      .when(lateUs < 60000000L, "1_lt_1m")
      .when(lateUs < 300000000L, "2_lt_5m")
      .when(lateUs < 3600000000L, "3_lt_1h")
      .otherwise("4_ge_1h")

  /** (bucket, user_id, n) partials from per-event bands — the fact-scale
    * pass; counts are algebraic, so the stream folds them with a keyed
    * SUM merge. ≤5×|users| rows. */
  private[graft] def wmGrid(bucketed: DataFrame): DataFrame =
    bucketed.groupBy("bucket", "user_id").agg(count(lit(1)).as("n"))

  /** Histogram over the completed grid: n = event count, n_users =
    * distinct non-NULL users (count(col) skips the NULL-user cell —
    * COUNT(DISTINCT user_id)'s exact semantics on the grid). */
  private[graft] def wmView(grid: DataFrame): DataFrame =
    grid.groupBy("bucket")
      .agg(sum(col("n")).as("n"), count(col("user_id")).as("n_users"))
      .orderBy("bucket")

  // --------------------------------------------------------------------
  // interval_merge — merge overlapping per-user intervals: each event
  // opens an interval [ts, ts + props.k minutes] (props.k is the
  // payload's duration field); touching/overlapping intervals of one
  // user coalesce into islands (the booking/availability/coverage
  // kernel, and the generalization of gap-based sessionization to
  // events WITH duration). Same two-windows-one-shuffle shape as
  // sessionize: island flag = start beyond the running max end over
  // earlier intervals, island id = running sum of flags — both windows
  // share the (user, start, event_id) sort. All arithmetic is int64
  // epoch-µs. Zero-duration intervals (k = 0) cover nothing and are
  // dropped BY CONTRACT on both engines — also exactly Spark's
  // session_window rule (non-positive gaps are filtered), which is what
  // lets the streaming twin (Streams.intervalMerge, dynamic-gap session
  // windows) equal this op island-for-island. At 100 TB: one user-keyed
  // exchange; per-user state is the running max end (one value), never
  // a buffered interval set.
  // --------------------------------------------------------------------
  private val intervalMerge = Op("interval_merge",
    """WITH iv AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS sus,
      |    epoch_us(CAST(ts AS TIMESTAMP))
      |      + CAST(json_extract(props, '$.k') AS INT) * CAST(60000000 AS BIGINT) AS eus
      |  FROM events
      |  WHERE CAST(json_extract(props, '$.k') AS INT) >= 1),
      |m AS (
      |  SELECT user_id, event_id, sus, eus,
      |    MAX(eus) OVER (PARTITION BY user_id ORDER BY sus, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mprev
      |  FROM iv),
      |f AS (
      |  SELECT user_id, event_id, sus, eus,
      |    CASE WHEN mprev IS NULL OR sus > mprev THEN 1 ELSE 0 END AS flag
      |  FROM m),
      |g AS (
      |  SELECT user_id, sus, eus,
      |    SUM(flag) OVER (PARTITION BY user_id ORDER BY sus, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM f)
      |SELECT user_id, CAST(island AS BIGINT) AS island,
      |  MIN(sus) AS start_us, MAX(eus) AS end_us, COUNT(*) AS n_events
      |FROM g GROUP BY 1, 2 ORDER BY user_id, island""".stripMargin) { (s, d) =>
    val ord = Window.partitionBy("user_id").orderBy(col("sus").asc, col("event_id").asc)
    val prior = ord.rowsBetween(Window.unboundedPreceding, -1)
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, d, "events")
      .filter(intervalK >= 1) // zero-duration intervals cover nothing (see above)
      .select(col("user_id"), col("event_id"), intervalStartUs.as("sus"),
        intervalEndUs.as("eus"))
      .withColumn("mprev", max("eus").over(prior))
      .withColumn("flag",
        when(col("mprev").isNull || col("sus") > col("mprev"), 1).otherwise(0))
      .withColumn("island", sum("flag").over(cum).cast("long"))
      .groupBy("user_id", "island")
      .agg(min("sus").as("start_us"), max("eus").as("end_us"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id", "island")
  }

  // --------------------------------------------------------------------
  // rate_alert — activity-spike detection: per (user, hour) event count
  // vs the user's trailing 24-CALENDAR-hour baseline, alert when the
  // hour runs over 3× the baseline average. The baseline is a RANGE
  // frame over the hour index, so missing (zero-activity) hours weigh
  // in as zero instead of the frame silently stretching to the last 24
  // OBSERVED hours — the sparse-series trap win_rolling_median's doc
  // warns about. Alert arithmetic is all-integer (24·n > 3·prev_sum ⟺
  // n > 3·prev_sum/24): no float threshold to diverge between engines.
  // Cold start (no prior activity in range) is by definition not an
  // alert. Scale: one (user, hour) map-side-combined aggregate, one
  // user-keyed window over the AGGREGATED rows.
  // --------------------------------------------------------------------
  private val rateAlert = Op("rate_alert",
    """WITH h AS (
      |  SELECT user_id,
      |    epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) // 3600000000 AS hidx,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |b AS (
      |  SELECT user_id, hidx, n,
      |    SUM(n) OVER (PARTITION BY user_id ORDER BY hidx
      |      RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING) AS prev_sum
      |  FROM h)
      |SELECT user_id, CAST(hidx AS BIGINT) AS hidx, n,
      |  CAST(COALESCE(prev_sum, 0) AS BIGINT) AS baseline_sum,
      |  prev_sum IS NOT NULL AND 24 * n > 3 * prev_sum AS alert
      |FROM b ORDER BY user_id, hidx""".stripMargin) { (s, d) =>
    rateAlertOver(hourCounts(t(s, d, "events"))).orderBy("user_id", "hidx")
  }

  // --------------------------------------------------------------------
  // win_ema — trailing exponentially-weighted moving average of the
  // value series per user, with DYADIC weights (2^-lag over the last 8
  // observations). The weight choice is the determinism trick: value is
  // 2dp → integer cents, cents × powers of two and their sums are exact
  // int64 arithmetic, and the single final divide is one correctly-
  // rounded IEEE op on exactly-agreed integers — so the EMA is
  // bit-identical on both engines and at ANY partitioning (a float
  // alpha^k recurrence would accumulate engine/order-specific rounding,
  // the same libm hazard tf_idf/lm_score avoid). Partial windows (first
  // 7 rows of a user) renormalize over the weights present. One
  // user-keyed window, 8 lag frames over one shared sort.
  // --------------------------------------------------------------------
  private val winEma = {
    // weight for lag j is 2^(7-j); den counts 100× the present weights
    // (cents → currency units)
    val numSql = (0 to 7).map { j =>
      val w = 1 << (7 - j)
      if (j == 0) s"cents * $w"
      else s"CASE WHEN lag(cents, $j) OVER w IS NULL THEN 0 ELSE lag(cents, $j) OVER w * $w END"
    }.mkString(" + ")
    val denSql = (0 to 7).map { j =>
      val w = 1 << (7 - j)
      if (j == 0) s"${w * 100}"
      else s"CASE WHEN lag(cents, $j) OVER w IS NULL THEN 0 ELSE ${w * 100} END"
    }.mkString(" + ")
    Op("win_ema",
      s"""WITH c AS (
         |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
         |    CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events),
         |e AS (
         |  SELECT event_id, user_id, value,
         |    $numSql AS num,
         |    $denSql AS den
         |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT event_id, user_id, value,
         |  CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS ema
         |FROM e ORDER BY event_id""".stripMargin) { (s, d) =>
      emaFold(emptyEmaRing(s, "timestamp_ntz"), t(s, d, "events"))._1
        .orderBy("event_id")
    }
  }

  /** Empty per-user lag ring (the ema fold identity); ts type as in
    * [[emptyFunnelState]]. */
  private[graft] def emptyEmaRing(s: SparkSession,
      tsType: String = "timestamp"): DataFrame =
    emptyDf(s, s"event_id BIGINT, user_id BIGINT, ts $tsType, cents BIGINT")

  /** The dyadic num/den EMA expressions over window w — the exact-int64
    * weight arithmetic, shared by every fold path. */
  private def emaNumDen(w: org.apache.spark.sql.expressions.WindowSpec)
      : (Column, Column) = {
    val lagged = (0 to 7).map { j =>
      if (j == 0) col("cents") else lag("cents", j).over(w)
    }
    val num = (0 to 7).map { j =>
      val wt = 1 << (7 - j)
      if (j == 0) col("cents") * wt
      else when(lagged(j).isNull, 0L).otherwise(lagged(j) * wt)
    }.reduce(_ + _)
    val den = (0 to 7).map { j =>
      val wt = (1 << (7 - j)) * 100
      if (j == 0) lit(wt.toLong)
      else when(lagged(j).isNull, 0L).otherwise(lit(wt.toLong))
    }.reduce(_ + _)
    (num, den)
  }

  /** One EMA fold step: union the carried ≤7-row per-user lag ring with
    * the batch, run the SAME dyadic window expressions, emit EMA rows for
    * the batch's events only, and carry the new ring (the 7 latest rows
    * per user — exactly the state a lag-8 window needs). Returns
    * (emitted rows, new ring). The batch op IS this fold applied once
    * over the empty ring; the streaming twin
    * ([[graft.streaming.Streams.ema]]) applies it per micro-batch —
    * EXACT under per-user event-time-ordered arrival. */
  private[graft] def emaFold(ring: DataFrame, events: DataFrame)
      : (DataFrame, DataFrame) = {
    val b = events.select(col("event_id"), col("user_id"), col("ts"),
      col("value"), round(col("value") * 100).cast("long").as("cents"),
      lit(true).as("__new"))
    val r = ring.select(col("event_id"), col("user_id"), col("ts"),
      lit(null).cast("double").as("value"), col("cents"),
      lit(false).as("__new"))
    val all = r.unionByName(b)
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val (num, den) = emaNumDen(w)
    val out = all.withColumn("num", num).withColumn("den", den)
      .filter(col("__new"))
      .select(col("event_id"), col("user_id"), col("value"),
        (col("num").cast("double") / col("den").cast("double")).as("ema"))
    // new ring = the 7 latest rows per user in the REVERSED stream order
    // (ts desc NULLS LAST, id desc — the mirror of the asc-nulls-first
    // window order, so the carried rows are exactly the global tail)
    val wLast = Window.partitionBy("user_id")
      .orderBy(col("ts").desc_nulls_last, col("event_id").desc)
    val newRing = all.withColumn("__rn", row_number().over(wLast))
      .filter(col("__rn") <= 7)
      .select("event_id", "user_id", "ts", "cents")
    (out, newRing)
  }

  // --------------------------------------------------------------------
  // rolling_active_users — DAU + trailing-7-day active users per day
  // (the DAU/WAU engagement pair): WAU(d) = distinct users active in
  // [d-6, d]. Distinct-over-overlapping-windows doesn't decompose into
  // partials, so the scalable exact shape is cover-explosion: dedup to
  // (user, day) first (THE fact-scale reduction, map-side combinable),
  // then explode each user-day into the ≤7 window days it covers,
  // dedup (user, window-day), count. Bounded ×7 expansion of the
  // ALREADY-DEDUPED rows — never a range self-join (quadratic in days)
  // and never a distinct inside a sliding window frame (unbounded
  // per-row state). Emitted only for days with activity.
  // --------------------------------------------------------------------
  private val rollingActiveUsers = Op("rolling_active_users",
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |cover AS (
      |  SELECT DISTINCT user_id, day + k.k AS d
      |  FROM ud CROSS JOIN (VALUES (0), (1), (2), (3), (4), (5), (6)) k(k)),
      |act AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day)
      |SELECT act.day, act.dau, COUNT(*) AS wau
      |FROM cover JOIN act ON cover.d = act.day
      |GROUP BY act.day, act.dau ORDER BY act.day""".stripMargin) { (s, d) =>
    rauView(rauGrid(t(s, d, "events")))
  }

  /** The distinct (user_id, day) presence grid — THE fact-scale reduction
    * of rolling_active_users, shared with the streaming twin
    * ([[graft.streaming.Streams.rau]]): presence merges by union ∪
    * distinct at any batch cut; state is |users × days| bounded. */
  private[graft] def rauGrid(events: DataFrame): DataFrame =
    events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()

  /** DAU/WAU over the completed presence grid: bounded ×7
    * cover-explosion of already-deduped rows, never a range self-join. */
  private[graft] def rauView(ud: DataFrame): DataFrame = {
    val cover = ud
      .select(col("user_id"), explode(expr("sequence(0, 6)")).as("k"), col("day"))
      .select(col("user_id"), date_add(col("day"), col("k")).as("d"))
      .distinct()
    val act = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    // act is |calendar days| rows — ALWAYS the broadcast side. Unhinted,
    // the size estimator picked the cover side at small scale (7× the
    // user-day count — the side that explodes with data volume).
    cover.join(broadcast(act), cover("d") === act("day"))
      .groupBy(col("day"), col("dau"))
      .agg(count(lit(1)).as("wau"))
      .orderBy("day")
  }

  // --------------------------------------------------------------------
  // time_weighted_avg — the telemetry TWA: each reading holds until the
  // next one, so its weight is its holding DURATION, not 1 (the gauge
  // statistic a plain avg gets wrong on irregular sampling; win_ema is
  // the decay-weighted cousin). All-exact arithmetic: durations are
  // int64 µs from lead(), value is integer cents, the weighted sum
  // accumulates in DECIMAL(38,0) (cents × month-µs × many events passes
  // int64), and the TWA is a fixed dag of IEEE ops on exactly-agreed
  // aggregates. A user whose intervals all have zero duration (all
  // events at one instant) has no defined TWA → NULL, guarded on both
  // engines (the ANSI divide-by-zero lesson from win_pareto). One
  // user-keyed window + one map-side-combinable aggregate.
  // --------------------------------------------------------------------
  private val timeWeightedAvg = Op("time_weighted_avg",
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |d AS (
      |  SELECT user_id, cents,
      |    epoch_us(lead(ts) OVER w) - epoch_us(ts) AS dur
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |g AS (
      |  SELECT user_id, COUNT(*) AS n_intervals,
      |    CAST(SUM(dur) AS BIGINT) AS total_dur_us,
      |    SUM(CAST(cents AS DECIMAL(38,0)) * dur) AS wsum
      |  FROM d WHERE dur IS NOT NULL GROUP BY user_id)
      |SELECT user_id, n_intervals, total_dur_us,
      |  CASE WHEN total_dur_us = 0 THEN NULL
      |       -- decimal→double via VARCHAR: wsum passes 2^53 once durations
      |       -- span decades (the extreme-timestamp fixture), and DuckDB's
      |       -- direct decimal cast double-rounds there (the numeric-edge
      |       -- fixture's house conversion rule)
      |       ELSE CAST(CAST(wsum AS VARCHAR) AS DOUBLE)
      |            / CAST(total_dur_us AS DOUBLE) / 100 END AS twa
      |FROM g ORDER BY user_id""".stripMargin) { (s, d) =>
    val (_, acc) = twaFold(emptyTwaLast(s, "timestamp_ntz"), emptyTwaAcc(s),
      t(s, d, "events"))
    twaView(acc)
  }

  /** Empty per-user last-reading state (the twa fold identity); ts type
    * as in [[emptyFunnelState]]. */
  private[graft] def emptyTwaLast(s: SparkSession,
      tsType: String = "timestamp"): DataFrame =
    emptyDf(s, s"user_id BIGINT, ts $tsType, event_id BIGINT, cents BIGINT")

  /** Empty per-user (n_intervals, total_dur_us, wsum) accumulator. */
  private[graft] def emptyTwaAcc(s: SparkSession): DataFrame =
    emptyDf(s, "user_id BIGINT, n_intervals BIGINT, total_dur_us BIGINT, " +
      "wsum DECIMAL(38,0)")

  /** One TWA fold step: union the carried last reading per user with the
    * batch, compute inter-reading durations over the SAME (ts, id)
    * window, accumulate the algebraic (count, Σdur, Σcents·dur)
    * partials, and carry each user's latest reading forward (the only
    * state an interval integral needs). Returns (new last, new acc).
    * The batch op IS this fold applied once over empty states; the
    * streaming twin ([[graft.streaming.Streams.twa]]) applies it per
    * micro-batch — EXACT under per-user event-time-ordered arrival. */
  private[graft] def twaFold(last: DataFrame, acc: DataFrame,
      events: DataFrame): (DataFrame, DataFrame) = {
    val b = events.select(col("user_id"), col("ts"), col("event_id"),
      round(col("value") * 100).cast("long").as("cents"))
    val all = last.select("user_id", "ts", "event_id", "cents").unionByName(b)
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val delta = all
      .withColumn("dur",
        unix_micros(lead("ts", 1).over(w).cast("timestamp"))
          - unix_micros(col("ts").cast("timestamp")))
      .filter(col("dur").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum("dur").cast("long").as("total_dur_us"),
        sum(col("cents").cast(DecimalType(38, 0)) * col("dur"))
          .cast(DecimalType(38, 0)).as("wsum"))
    val newAcc = acc.unionByName(delta).groupBy("user_id")
      .agg(sum("n_intervals").as("n_intervals"),
        sum("total_dur_us").cast("long").as("total_dur_us"),
        sum("wsum").cast(DecimalType(38, 0)).as("wsum"))
    val wLast = Window.partitionBy("user_id")
      .orderBy(col("ts").desc_nulls_last, col("event_id").desc)
    val newLast = all.withColumn("__rn", row_number().over(wLast))
      .filter(col("__rn") === 1).drop("__rn")
    (newLast, newAcc)
  }

  /** The TWA contract projection over the completed accumulator (the
    * zero-total-duration NULL guard included) — shared view. */
  private[graft] def twaView(acc: DataFrame): DataFrame =
    acc.select(col("user_id"), col("n_intervals"), col("total_dur_us"),
        when(col("total_dur_us") === 0, lit(null).cast("double"))
          .otherwise(col("wsum").cast("double")
            / col("total_dur_us").cast("double") / 100)
          .as("twa"))
      .orderBy("user_id")

  // --------------------------------------------------------------------
  // cohort_ltv — retention_cohort's revenue twin: users grouped by
  // first-active week, value summed per (cohort, week offset), plus the
  // CUMULATIVE revenue curve per cohort (the LTV chart every growth
  // dashboard draws). Offsets are exact integer week arithmetic on
  // epoch-µs (date_diff('week') counts boundary crossings differently
  // per engine — avoided). Scale: first-week min + (cohort, offset)
  // sum both map-side-combine; the cumulative window runs over the
  // |cohorts × offsets| table (calendar-bounded, tiny at any volume).
  // --------------------------------------------------------------------
  private val cohortLtv = Op("cohort_ltv",
    """WITH fw AS (
      |  SELECT user_id,
      |    MIN(date_trunc('week', CAST(ts AS TIMESTAMP))) AS cw
      |  FROM events GROUP BY user_id),
      |j AS (
      |  SELECT fw.cw,
      |    (epoch_us(date_trunc('week', CAST(e.ts AS TIMESTAMP))) - epoch_us(fw.cw))
      |      // 604800000000 AS off,
      |    CAST(e.value AS DECIMAL(18,2)) AS v
      |  FROM events e JOIN fw ON e.user_id = fw.user_id),
      |g AS (SELECT cw, off, SUM(v) AS rev FROM j GROUP BY cw, off)
      |SELECT CAST(cw AS TIMESTAMP) AS cohort_week, off,
      |  CAST(rev AS DOUBLE) AS revenue,
      |  CAST(SUM(rev) OVER (PARTITION BY cw ORDER BY off
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_revenue
      |FROM g ORDER BY cohort_week, off""".stripMargin) { (s, d) =>
    ltvView(ltvGrid(t(s, d, "events")))
  }

  /** The (user_id, week, revenue) decimal grid — cohort_ltv's only
    * fact-scale pass, shared with the streaming twin
    * ([[graft.streaming.Streams.ltv]]). The grid is keyed by the
    * EVENT's week, not the cohort: a user's first-active week can still
    * FLIP when an earlier event arrives in a later batch, so cohort
    * assignment must live in the view (recomputed over the completed
    * fold), never in the folded state — the split_temporal discipline.
    * Decimal sums are algebraic; state is |users × weeks| bounded. */
  private[graft] def ltvGrid(events: DataFrame): DataFrame =
    events.select(col("user_id"),
        date_trunc("week", col("ts")).as("wk"),
        col("value").cast(DecimalType(18, 2)))
      .groupBy("user_id", "wk")
      .agg(sum("value").cast(DecimalType(38, 2)).as("rev"))

  /** Cohort assignment, offsets, and the cumulative LTV curve over the
    * completed grid (grid-scale work only). */
  private[graft] def ltvView(grid: DataFrame): DataFrame = {
    val fw = grid.groupBy("user_id").agg(min(col("wk")).as("cw"))
    val cum = Window.partitionBy("cw").orderBy("off")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(fw, "user_id")
      .select(col("cw"),
        ((unix_micros(col("wk").cast("timestamp"))
          - unix_micros(col("cw").cast("timestamp"))) / lit(604800000000L))
          .cast("long").as("off"),
        col("rev"))
      .groupBy("cw", "off").agg(sum("rev").as("rev"))
      .select(col("cw").as("cohort_week"), col("off"),
        col("rev").cast("double").as("revenue"),
        sum("rev").over(cum).cast("double").as("cum_revenue"))
      .orderBy("cohort_week", "off")
  }

  // --------------------------------------------------------------------
  // activity_profile — the hour-of-week load matrix: event share per
  // (ISO day-of-week × hour-of-day) in integer basis points — the
  // capacity-planning / anomaly-baseline profile behind every traffic
  // dashboard. Day-of-week numbering is the cross-engine trap: Spark's
  // dayofweek() is Sunday=1 while DuckDB's dayofweek() is Sunday=0 —
  // both sides use the ISO convention instead (Spark weekday()+1 ==
  // DuckDB isodow(), Monday=1). Shares are integer division (n·10⁴ div
  // total) — no float. One map-side-combining aggregate to ≤168 rows;
  // the share window runs over that bounded matrix only.
  // --------------------------------------------------------------------
  private val activityProfile = Op("activity_profile",
    """WITH a AS (
      |  SELECT isodow(CAST(ts AS TIMESTAMP)) AS dow,
      |    hour(CAST(ts AS TIMESTAMP)) AS hod, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT dow, hod, n, CAST(n * 10000 // SUM(n) OVER () AS BIGINT) AS share_bp
      |FROM a ORDER BY dow, hod""".stripMargin) { (s, d) =>
    activityView(activityGrid(t(s, d, "events")))
  }

  /** The (dow, hod) count grid — activity_profile's only fact-scale pass,
    * shared with the streaming twin ([[graft.streaming.Streams.activity]]):
    * counts are algebraic, so the stream folds per-batch partials with a
    * keyed SUM merge and [[activityView]] reproduces the batch op at any
    * batch cut. ≤169 rows (168 hour-of-week cells + a possible NULL-ts
    * cell), never stream volume. */
  private[graft] def activityGrid(events: DataFrame): DataFrame =
    events
      .groupBy((expr("weekday(ts)") + 1).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hod"))
      .agg(count(lit(1)).as("n"))

  /** The share computation over the completed grid — a window over the
    * bounded matrix only. */
  private[graft] def activityView(grid: DataFrame): DataFrame =
    grid
      .withColumn("total", sum("n").over(Window.partitionBy()))
      .withColumn("share_bp", expr("n * 10000 div total"))
      .select("dow", "hod", "n", "share_bp")
      .orderBy("dow", "hod")

  // --------------------------------------------------------------------
  // anomaly_seasonal — seasonal-baseline anomaly gate: each calendar
  // HOUR's event count is compared to the mean count of its hour-of-week
  // cell (same weekday × hour across the observed weeks) and flagged when
  // it exceeds 3× that baseline. rate_alert's baseline is the user's own
  // trailing 24 h (burst detection); this one is the CALENDAR's seasonal
  // norm (load anomalies a trailing window normalizes away — a busy
  // Monday 9am is only anomalous vs other Monday 9ams).
  //
  // Parity: the 3×-mean comparison is cross-multiplied to pure integers
  // (n · cell_n > 3 · cell_total) — no mean is ever materialized as a
  // float, the rate_alert discipline.
  //
  // Scale shape: ONE map-side-combining fact aggregate to ≤ |hours| rows
  // (24·365 per year — calendar-bounded at any fact scale); the cell
  // window runs over that bounded table partitioned by (dow, hod).
  // --------------------------------------------------------------------
  private val anomalySeasonal = Op("anomaly_seasonal",
    """WITH h AS (
      |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hts, count(*) AS n
      |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
      |c AS (
      |  SELECT hts, n, isodow(hts) AS dow, hour(hts) AS hod,
      |    CAST(SUM(n) OVER cell AS BIGINT) AS cell_total,
      |    count(*) OVER cell AS cell_n
      |  FROM h
      |  WINDOW cell AS (PARTITION BY isodow(hts), hour(hts)))
      |SELECT hts, dow, hod, n, cell_total, cell_n,
      |  n * cell_n > 3 * cell_total AS flagged
      |FROM c ORDER BY hts""".stripMargin) { (s, d) =>
    seasonalView(seasonalCounts(t(s, d, "events")))
  }

  /** The calendar-hour count table — anomaly_seasonal's only fact-scale
    * pass, shared with the streaming twin
    * ([[graft.streaming.Streams.seasonal]]): counts are algebraic, so
    * a stream SUM-merges per-batch partials into the calendar-bounded
    * state and [[seasonalView]] reproduces the batch op at any cut. */
  private[graft] def seasonalCounts(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    events.filter(col("ts").isNotNull)
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp").as("hts"))
      .agg(count(lit(1)).as("n"))

  /** The hour-of-week cell compare over a completed hour table
    * (calendar-bounded input: 24·365 rows/yr). */
  private[graft] def seasonalView(hours: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cell = Window.partitionBy("dow", "hod")
    hours.withColumn("dow", (expr("weekday(hts)") + 1).cast("long"))
      .withColumn("hod", hour(col("hts")).cast("long"))
      .withColumn("cell_total", sum("n").over(cell))
      .withColumn("cell_n", count(lit(1)).over(cell))
      .withColumn("flagged", col("n") * col("cell_n") > lit(3) * col("cell_total"))
      .select("hts", "dow", "hod", "n", "cell_total", "cell_n", "flagged")
      .orderBy("hts")
  }

  // --------------------------------------------------------------------
  // conversion_latency — the funnel-latency distribution: for every
  // purchase with a preceding click (event_attribution's carry), the
  // click→purchase delay, summarized per purchase-day as DISCRETE
  // percentiles (p50/p90/p99 = the k-th smallest with k = ⌈q·n⌉). The
  // k-index is pure integer arithmetic ((q·100·n + 99) div 100 style), so
  // both engines select the SAME element — interpolating percentiles
  // (Spark percentile vs DuckDB quantile_cont) round engine-specifically.
  //
  // Scale shape: the carry is the proven per-user keyed window; the
  // per-day rank window partitions by day — bounded here (30 × ~60 rows),
  // but at 100 TB one day's purchases are fact-scale, so the honest
  // cluster swap is approx_percentile sketches per day (the
  // outlier_filter/anomaly_mad precedent) with this exact form as the
  // small-scale oracle.
  // --------------------------------------------------------------------
  private val conversionLatency = Op("conversion_latency",
    """WITH u AS (
      |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
      |    last_value(CASE WHEN event_type = 'click' AND ts IS NOT NULL
      |                    THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS)
      |      OVER w AS click_ts
      |  FROM events
      |  WHERE event_type IN ('click', 'purchase')
      |  WINDOW w AS (PARTITION BY user_id
      |               ORDER BY CAST(ts AS TIMESTAMP), event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |pairs AS (
      |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |    event_id AS pid, epoch_us(ts) - epoch_us(click_ts) AS lat_us
      |  FROM u
      |  WHERE event_type = 'purchase' AND ts IS NOT NULL
      |    AND click_ts IS NOT NULL),
      |r AS (
      |  SELECT day, lat_us,
      |    row_number() OVER (PARTITION BY day ORDER BY lat_us, pid) AS rn,
      |    count(*) OVER (PARTITION BY day) AS n
      |  FROM pairs)
      |SELECT day, max(n) AS n_pairs,
      |  max(CASE WHEN rn = (n + 1) // 2 THEN lat_us END) AS p50_us,
      |  max(CASE WHEN rn = (9 * n + 9) // 10 THEN lat_us END) AS p90_us,
      |  max(CASE WHEN rn = (99 * n + 99) // 100 THEN lat_us END) AS p99_us
      |FROM r GROUP BY day
      |ORDER BY day""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // NULL-ts clicks are no carry candidates; NULL-ts purchases have no
    // event time to pair at (the attribution_first_touch contract)
    val clickTs = when(col("event_type") === "click" && col("ts").isNotNull,
      col("ts"))
    val pairs = t(s, d, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("cts", last(clickTs, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase"
        && col("ts").isNotNull && col("cts").isNotNull)
      .select(date_trunc("day", col("ts")).cast("timestamp").as("day"),
        col("event_id").as("pid"),
        (unix_micros(col("ts").cast("timestamp"))
          - unix_micros(col("cts").cast("timestamp"))).as("lat_us"))
    val wd = Window.partitionBy("day").orderBy(col("lat_us").asc, col("pid").asc)
    val r = pairs
      .withColumn("rn", row_number().over(wd))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("day")))
    def kth(k: org.apache.spark.sql.Column) =
      max(when(col("rn") === k, col("lat_us")))
    r.groupBy("day")
      .agg(max("n").as("n_pairs"),
        kth(expr("(n + 1) div 2")).as("p50_us"),
        kth(expr("(9 * n + 9) div 10")).as("p90_us"),
        kth(expr("(99 * n + 99) div 100")).as("p99_us"))
      .orderBy("day")
  }

  // --------------------------------------------------------------------
  // assoc_rules — market-basket association rules over per-user event-
  // type sets: for every directed type pair A→B, the users holding both,
  // support and confidence in integer basis points, and lift as a fixed
  // IEEE tree over the four exact counts — the co-occurrence table behind
  // "users who did A also did B". NULL users aren't a basket and NULL
  // types aren't an item (excluded, declared). Only co-occurring pairs
  // appear (inner join; a zero-support rule is no rule).
  //
  // Scale shape: ONE fact pass into the distinct (user, type) presence
  // grid (map-side-combined distinct); the pair self-join expands each
  // user's basket by at most |types|² — the item vocabulary is a CATALOG,
  // not data (the contamination_matrix argument) — then ONE
  // map-side-combinable count to the ≤|types|² rule grid; per-item totals
  // and the basket count are grid-sized broadcasts. At a 100 TB event log
  // nothing but the presence-grid distinct ever shuffles fact-scale.
  // --------------------------------------------------------------------
  private val assocRules = Op("assoc_rules",
    """WITH u AS (
      |  SELECT DISTINCT user_id, event_type FROM events
      |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
      |nu AS (SELECT count(DISTINCT user_id) AS n_users FROM u),
      |it AS (SELECT event_type, count(*) AS n FROM u GROUP BY event_type),
      |p AS (
      |  SELECT a.event_type AS antecedent, b.event_type AS consequent,
      |    count(*) AS n_both
      |  FROM u a JOIN u b
      |    ON a.user_id = b.user_id AND a.event_type <> b.event_type
      |  GROUP BY 1, 2)
      |SELECT p.antecedent, p.consequent, p.n_both,
      |  ia.n AS n_ante, ic.n AS n_cons, nu.n_users,
      |  p.n_both * 10000 // nu.n_users AS support_bp,
      |  p.n_both * 10000 // ia.n AS confidence_bp,
      |  (CAST(p.n_both AS DOUBLE) * CAST(nu.n_users AS DOUBLE))
      |    / (CAST(ia.n AS DOUBLE) * CAST(ic.n AS DOUBLE)) AS lift
      |FROM p
      |JOIN it ia ON ia.event_type = p.antecedent
      |JOIN it ic ON ic.event_type = p.consequent
      |CROSS JOIN nu
      |ORDER BY antecedent, consequent""".stripMargin) { (s, d) =>
    assocView(assocGrid(t(s, d, "events")))
  }

  /** The distinct (user, type) basket presence grid — assoc_rules' only
    * fact-scale pass, shared with the streaming twin
    * ([[graft.streaming.Streams.assoc]]): a presence set is
    * IDEMPOTENT under union+distinct, so the fold absorbs redelivery
    * outright (the rolling_active_users argument) and [[assocView]]
    * reproduces the batch rule table at any batch cut. */
  private[graft] def assocGrid(events: DataFrame): DataFrame =
    events
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select("user_id", "event_type").distinct()

  /** Rule counts + support/confidence/lift over a completed basket
    * grid. */
  private[graft] def assocView(u: DataFrame): DataFrame = {
    val nUsers = u.agg(countDistinct("user_id").as("n_users"))
    val items = u.groupBy("event_type").agg(count(lit(1)).as("n"))
    val pairs = u.select(col("user_id"), col("event_type").as("antecedent"))
      .join(u.select(col("user_id"), col("event_type").as("consequent")),
        Seq("user_id"))
      .filter(col("antecedent") =!= col("consequent"))
      .groupBy("antecedent", "consequent")
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(items.select(col("event_type").as("antecedent"),
        col("n").as("n_ante"))), Seq("antecedent"))
      .join(broadcast(items.select(col("event_type").as("consequent"),
        col("n").as("n_cons"))), Seq("consequent"))
      .crossJoin(broadcast(nUsers))
      .select(col("antecedent"), col("consequent"), col("n_both"),
        col("n_ante"), col("n_cons"), col("n_users"),
        expr("n_both * 10000 div n_users").as("support_bp"),
        expr("n_both * 10000 div n_ante").as("confidence_bp"),
        ((col("n_both").cast("double") * col("n_users").cast("double"))
          / (col("n_ante").cast("double") * col("n_cons").cast("double")))
          .as("lift"))
      .orderBy("antecedent", "consequent")
  }

  // --------------------------------------------------------------------
  // event_rfm — recency / frequency / monetary segmentation, the
  // standard customer-value table behind every lifecycle campaign: per
  // user, days since last event (vs the corpus max-day anchor — an
  // IN-DATA anchor, so the op is deterministic and retry-stable), event
  // count, and exact cents total; each metric then scores 1–5 against its
  // own GLOBAL quintile thresholds (recency inverted: fresher = higher),
  // and the concatenated segment code ('555' = best) is what downstream
  // joins on. Timeless events can't be "recent" and NULL users aren't a
  // segment — both excluded (declared); NULL values count as 0 cents.
  //
  // Scale shape: ONE fact pass into the user grid (map-side combine);
  // the anchor and the 12 quintile thresholds are 1-row scalar
  // broadcasts back over the GRID (anomaly_mad / curriculum_order
  // pattern — the exact percentile is the verification shape, the
  // production swap is the mergeable sketch per agg_percentile_approx);
  // scoring is scan-stage comparisons. No windows anywhere.
  // --------------------------------------------------------------------
  private val eventRfm = Op("event_rfm", {
    def qs(e: String, pfx: String) =
      Seq(0.2, 0.4, 0.6, 0.8).zipWithIndex.map { case (p, i) =>
        s"quantile_cont(CAST($e AS DOUBLE), $p) AS $pfx${i + 1}"
      }.mkString(",\n       |        ")
    s"""WITH e AS (
       |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
       |    CASE WHEN value IS NULL THEN 0
       |         ELSE CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
       |    END AS cents
       |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
       |u AS (
       |  SELECT user_id,
       |    CAST(datediff('day', max(CAST(ts AS DATE)),
       |      (SELECT max(CAST(ts AS DATE)) FROM e)) AS BIGINT) AS r_days,
       |    count(*) AS f,
       |    CAST(sum(cents) AS BIGINT) AS m_cents
       |  FROM e GROUP BY user_id),
       |th AS (SELECT ${qs("r_days", "r")},
       |        ${qs("f", "f")},
       |        ${qs("m_cents", "m")}
       |      FROM u),
       |sc AS (
       |  SELECT u.*,
       |    1 + (CASE WHEN r_days < r1 THEN 1 ELSE 0 END)
       |      + (CASE WHEN r_days < r2 THEN 1 ELSE 0 END)
       |      + (CASE WHEN r_days < r3 THEN 1 ELSE 0 END)
       |      + (CASE WHEN r_days < r4 THEN 1 ELSE 0 END) AS r_score,
       |    1 + (CASE WHEN f > f1 THEN 1 ELSE 0 END)
       |      + (CASE WHEN f > f2 THEN 1 ELSE 0 END)
       |      + (CASE WHEN f > f3 THEN 1 ELSE 0 END)
       |      + (CASE WHEN f > f4 THEN 1 ELSE 0 END) AS f_score,
       |    1 + (CASE WHEN m_cents > m1 THEN 1 ELSE 0 END)
       |      + (CASE WHEN m_cents > m2 THEN 1 ELSE 0 END)
       |      + (CASE WHEN m_cents > m3 THEN 1 ELSE 0 END)
       |      + (CASE WHEN m_cents > m4 THEN 1 ELSE 0 END) AS m_score
       |  FROM u, th)
       |SELECT user_id, r_days, f, m_cents, r_score, f_score, m_score,
       |  CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
       |    || CAST(m_score AS VARCHAR) AS segment
       |FROM sc ORDER BY user_id""".stripMargin
  }) { (s, d) =>
    rfmView(rfmGrid(t(s, d, "events")))
  }

  /** The per-user (last_day, count, cents-sum) grid — event_rfm's only
    * fact-scale pass, shared with the streaming twin
    * ([[graft.streaming.Streams.rfm]]): all three cells are ALGEBRAIC
    * (max / count / exact sum), so a stream folds per-batch partials in
    * with a keyed (max, sum, sum) merge and [[rfmView]] — anchor,
    * quintiles and scores — reproduces the batch segmentation at any
    * batch cut: live RFM, which is exactly how campaign audiences are
    * refreshed. */
  private[graft] def rfmGrid(events: DataFrame): DataFrame =
    events
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("ts"),
        when(col("value").isNull, 0L)
          .otherwise((col("value").cast(DecimalType(18, 2)) * 100).cast("long"))
          .as("cents"))
      .groupBy("user_id")
      .agg(max(col("ts").cast("date")).as("last_day"),
        count(lit(1)).as("f"), sum("cents").as("m_cents"))

  /** Anchor + quintile scoring over a completed user grid. */
  private[graft] def rfmView(u: DataFrame): DataFrame = {
    val anchor = u.agg(max("last_day").as("asof"))
    val uu = u.crossJoin(broadcast(anchor))
      .withColumn("r_days", datediff(col("asof"), col("last_day")).cast("long"))
    def quints(c: Column, pfx: String) =
      percentile(c.cast("double"),
        array(lit(0.2), lit(0.4), lit(0.6), lit(0.8))).as(s"${pfx}q")
    val th = uu.agg(quints(col("r_days"), "r"), quints(col("f"), "f"),
        quints(col("m_cents"), "m"))
      .select((for (p <- Seq("r", "f", "m"); i <- 1 to 4)
        yield col(s"${p}q")(i - 1).as(s"$p$i")): _*)
    def up(v: Column, pfx: String) =
      (1 to 4).map(i => when(v > col(s"$pfx$i"), 1).otherwise(0))
        .foldLeft(lit(1))(_ + _)
    def down(v: Column, pfx: String) =
      (1 to 4).map(i => when(v < col(s"$pfx$i"), 1).otherwise(0))
        .foldLeft(lit(1))(_ + _)
    uu.crossJoin(broadcast(th))
      .withColumn("r_score", down(col("r_days"), "r"))
      .withColumn("f_score", up(col("f"), "f"))
      .withColumn("m_score", up(col("m_cents"), "m"))
      .select(col("user_id"), col("r_days"), col("f"), col("m_cents"),
        col("r_score"), col("f_score"), col("m_score"),
        concat(col("r_score").cast("string"), col("f_score").cast("string"),
          col("m_score").cast("string")).as("segment"))
      .orderBy("user_id")
  }

  // --------------------------------------------------------------------
  // event_interarrival — the inter-event gap distribution per type (the
  // cadence table behind rate limiting, bot detection, and capacity
  // planning: "how often does a user click vs purchase?"). A gap is the
  // µs between a user's CONSECUTIVE events of the same type (cross-user
  // or cross-type deltas are meaningless), bucketed on the operational
  // decades (<1s, <1m, <1h, <1d, ≥1d). Everything is exact int64: gaps
  // are epoch-µs differences under the pinned (ts, event_id) total
  // order, bucket edges are integer constants, avg is floor division,
  // and the share is integer bp against the per-type total. NULL ts
  // (no position in time) and NULL user/type (no identity) rows are
  // excluded — declared, matching the rank/assoc family contract.
  //
  // Scale shape: ONE keyed window partitioned by (user, type) — partial
  // sort per key, parallelism scales with users — then a map-side-
  // combined aggregate to the ≤|types|×5 bucket grid; the per-type
  // total is a grid-sized window. Nothing downstream of the window
  // scales with data.
  // --------------------------------------------------------------------
  private val interarrival = Op("event_interarrival",
    """WITH g AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP))
      |      - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w) AS gap_us
      |  FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL
      |  WINDOW w AS (PARTITION BY user_id, event_type
      |               ORDER BY CAST(ts AS TIMESTAMP), event_id)),
      |b AS (
      |  SELECT event_type,
      |    CASE WHEN gap_us < 1000000 THEN '0_lt_1s'
      |         WHEN gap_us < 60000000 THEN '1_lt_1m'
      |         WHEN gap_us < 3600000000 THEN '2_lt_1h'
      |         WHEN gap_us < 86400000000 THEN '3_lt_1d'
      |         ELSE '4_ge_1d' END AS bucket,
      |    gap_us
      |  FROM g WHERE gap_us IS NOT NULL),
      |agg AS (
      |  SELECT event_type, bucket, count(*) AS n_gaps,
      |    min(gap_us) AS min_us, max(gap_us) AS max_us,
      |    SUM(gap_us) AS sum_us
      |  FROM b GROUP BY 1, 2)
      |SELECT event_type, bucket, n_gaps, min_us, max_us,
      |  CAST(sum_us AS BIGINT) // n_gaps AS avg_us,
      |  CAST(n_gaps * 10000
      |    // SUM(n_gaps) OVER (PARTITION BY event_type) AS BIGINT) AS share_bp
      |FROM agg ORDER BY event_type, bucket""".stripMargin) { (s, d) =>
    interarrivalView(interarrivalGrid(t(s, d, "events")))
  }

  /** Averages and bp shares over a completed gap grid (grid-sized input:
    * ≤|types|×5 rows) — shared with the streaming twin's read side. */
  private[graft] def interarrivalView(grid: DataFrame): DataFrame = {
    val byType = Window.partitionBy("event_type")
    grid
      .withColumn("avg_us", expr("sum_us div n_gaps"))
      .withColumn("tot", sum("n_gaps").over(byType))
      .withColumn("share_bp", expr("n_gaps * 10000 div tot"))
      .select(col("event_type"), col("bucket"), col("n_gaps"),
        col("min_us"), col("max_us"), col("avg_us"), col("share_bp"))
      .orderBy("event_type", "bucket")
  }

  /** The (event_type, bucket) gap-count grid — event_interarrival's only
    * fact-scale pass (one keyed window + one map-combined aggregate),
    * shared with the streaming twin ([[graft.streaming.Streams.interarrival]]:
    * gaps are order-dependent, so the twin is an ordered fold over
    * time-split batches with per-key last-ts carryover). */
  private[graft] def interarrivalGrid(events: DataFrame): DataFrame = {
    val ord = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").asc, col("event_id").asc)
    events
      .filter(col("ts").isNotNull && col("user_id").isNotNull
        && col("event_type").isNotNull)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("gap_us", unix_micros(col("ts").cast("timestamp"))
        - unix_micros(lag("ts", 1).over(ord).cast("timestamp")))
      .filter(col("gap_us").isNotNull)
      .withColumn("bucket",
        when(col("gap_us") < 1000000L, "0_lt_1s")
          .when(col("gap_us") < 60000000L, "1_lt_1m")
          .when(col("gap_us") < 3600000000L, "2_lt_1h")
          .when(col("gap_us") < 86400000000L, "3_lt_1d")
          .otherwise("4_ge_1d"))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n_gaps"), min("gap_us").as("min_us"),
        max("gap_us").as("max_us"), sum("gap_us").as("sum_us"))
  }

  // --------------------------------------------------------------------
  // win_drawdown — per-user maximum drawdown of the running value
  // balance (the classic risk statistic, applied to any signed event
  // series: spend vs refund, credit vs debit, score gains vs losses):
  // order each user's events by (ts, event_id) — the unique total order —
  // fold the cents-quantized values into a running balance, track the
  // running peak, and report the deepest peak-to-balance fall, plus the
  // final balance, the peak, and the drawdown as integer bp of the peak
  // (guarded: a user whose peak never goes positive has no meaningful
  // bp — NULL on both engines, the curation_cost_curve divide-guard
  // rule). All arithmetic is exact BIGINT cents (DECIMAL(18,2)·100), so
  // the running fold is bit-identical regardless of partitioning —
  // an IEEE running sum would drift with the cut points. NULL value or
  // NULL ts rows carry no balance contribution and no position in the
  // order — excluded (declared, the benford cents-gate stance).
  //
  // Scale shape: ONE window pass keyed by user_id computes the running
  // balance AND the running peak under the same window spec (one
  // exchange + one sort, state O(1) per row), then ONE map-side-combined
  // aggregate collapses to the |users| grid. Headroom: |balance| stays
  // in BIGINT cents to ~9·10¹⁶ cents per user.
  // --------------------------------------------------------------------
  private val winDrawdown = Op("win_drawdown",
    """WITH e AS (
      |  SELECT user_id, ts, event_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
      |r1 AS (
      |  SELECT user_id, ts, event_id, cents,
      |    CAST(SUM(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS bal
      |  FROM e),
      |r AS (
      |  SELECT user_id, cents, bal,
      |    CAST(MAX(bal) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS peak
      |  FROM r1),
      |g AS (
      |  SELECT user_id, count(*) AS n_events,
      |    CAST(SUM(cents) AS BIGINT) AS final_cents,
      |    CAST(max(peak) AS BIGINT) AS peak_cents,
      |    CAST(max(peak - bal) AS BIGINT) AS max_dd_cents
      |  FROM r GROUP BY 1)
      |SELECT user_id, n_events, final_cents, peak_cents, max_dd_cents,
      |  CASE WHEN peak_cents > 0 THEN max_dd_cents * 10000 // peak_cents END
      |    AS dd_bp
      |FROM g ORDER BY user_id""".stripMargin) { (s, d) =>
    val e = t(s, d, "events")
      .filter(col("value").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // running balance + running peak under the SAME window spec: one
    // exchange, one sort, O(1) state per row (Spark allows stacking the
    // second window on the first's output column without a re-shuffle)
    val r = e.withColumn("bal", sum("cents").over(w))
      .withColumn("peak", max(col("bal")).over(w))
    r.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents")).as("final_cents"), // the fold's last value IS the total
        max(col("peak")).as("peak_cents"),
        max(col("peak") - col("bal")).as("max_dd_cents"))
      .select(col("user_id"), col("n_events"),
        col("final_cents"), col("peak_cents"), col("max_dd_cents"),
        when(col("peak_cents") > 0,
          expr("max_dd_cents * 10000 div peak_cents")).as("dd_bp"))
      .orderBy("user_id")
  }

  val ops: Seq[Op] = Seq(tumbling, sliding, streamTopk, session, dedup, incremental,
    funnel, eventPattern, retention, intervalJoin, intervalJoinLeft, eventSequences,
    attribution, attributionFirstTouch, trendDetect, sessionize, cdcApply, eventMarkov, eventStreak,
    winRunningDistinct, streamThrottle, timeOhlc, watermarkAudit,
    intervalMerge, rateAlert, winEma, rollingActiveUsers, timeWeightedAvg, cohortLtv,
    activityProfile, conversionLatency, anomalySeasonal, eventRfm,
    sessionStats, assocRules, interarrival, attributionTimeDecay, churnRate,
    winBollinger, winDrawdown)
}
