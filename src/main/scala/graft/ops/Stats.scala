package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ops.Text.{h60, h60Sql}

/** Statistical monitoring operators — the two checks every production
  * training-data pipeline runs between ingestion and training: feature
  * DRIFT detection (has the incoming distribution shifted vs the reference
  * window?) and A/B-style MEAN comparison (is the metric difference between
  * two cohorts significant?).
  *
  * Parity discipline (the tf_idf/lm_score lesson): NO transcendental
  * functions whose libm rounding differs across engines — drift uses total
  * variation distance + a chi-square statistic (rational arithmetic only;
  * PSI's ln() is NOT correctly-rounded-guaranteed across libms, so a
  * log-based divergence could differ in the last ulp), and the t-test's
  * only non-rational step is sqrt (IEEE-correctly-rounded everywhere).
  * Every SUM of doubles goes through CAST(DECIMAL(28,9)) so the result is
  * independent of aggregation order — and therefore of partition count.
  */
object Stats {

  /** Exact order-independent sum of a double term (the dsum discipline at
    * statistic precision). Scale 9, NOT higher: the graph_pagerank lesson
    * is that DuckDB converts double→decimal by FLOAT-scaling (x·10^s
    * rounded), which at s=14 misrounds the last digit vs Spark's exact
    * decimal expansion often enough to flip hashes; at s=9 the float
    * product's rounding error (~1.2e-7 of a unit) is five orders of
    * magnitude below the .5 boundary, so both engines quantize every
    * generic double identically. Nine decimals on O(1)-magnitude terms is
    * far beyond statistical meaning. */
  private def tsum(c: Column): Column =
    sum(c.cast(DecimalType(28, 9))).cast("double")

  // --------------------------------------------------------------------
  // drift_report — per-event-type distribution drift between a reference
  // window (first half of the time range) and the current window: the
  // `value` column is histogrammed into fixed-width bins and compared via
  //   TVD  = ½ Σ_b |p_cur(b) - p_ref(b)|   (total variation distance)
  //   chi² = Σ_b (p_cur-p_ref)² / ((p_ref+p_cur)/2)  (symmetrized)
  // — the standard drift gates (TVD > 0.1 flags) in rational arithmetic.
  //
  // Scale shape: ONE pass over the fact table into a (type, bin) grid
  // (conditional counts combine map-side; the grid is |types|×|bins| rows
  // — ~100 — no matter how many events), then window + aggregate on the
  // grid. Nothing downstream of the first aggregate scales with data.
  // --------------------------------------------------------------------
  private val DriftSplit = "2024-01-16"
  private val DriftBinWidth = 25

  /** The (type, bin) count grid — the drift op's only fact-scale pass,
    * shared with the streaming twin ([[graft.streaming.Streams.drift]]):
    * the grid is ALGEBRAIC (two conditional counts per key), so a stream
    * can fold per-batch partials into it with a keyed SUM merge and the
    * view below reproduces the batch op exactly at any batch cut. */
  private[graft] def driftCounts(events: DataFrame): DataFrame = {
    val split = lit(DriftSplit).cast("timestamp")
    events.filter(col("ts").isNotNull && col("value").isNotNull)
      .groupBy(col("event_type"),
        floor(col("value") / lit(DriftBinWidth).cast("double"))
          .cast("long").as("bin"))
      .agg(count(when(col("ts") < split, 1)).as("c_ref"),
        count(when(col("ts") >= split, 1)).as("c_cur"))
  }

  /** TVD + χ² over a completed count grid (grid-sized input: ~100 rows). */
  private[graft] def driftView(grid: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type")
    val q = grid
      .withColumn("t_ref", sum("c_ref").over(w))
      .withColumn("t_cur", sum("c_cur").over(w))
      .filter(col("t_ref") > 0 && col("t_cur") > 0)
      .withColumn("pr", col("c_ref").cast("double") / col("t_ref"))
      .withColumn("pc", col("c_cur").cast("double") / col("t_cur"))
    val tvd = lit(0.5) * tsum(abs(col("pc") - col("pr")))
    q.groupBy("event_type")
      .agg(max("t_ref").as("n_ref"), max("t_cur").as("n_cur"),
        tvd.as("tvd"),
        tsum((col("pc") - col("pr")) * (col("pc") - col("pr"))
          / ((col("pr") + col("pc")) / lit(2))).as("chi2"),
        (tvd > lit(0.1)).as("drifted"))
      .orderBy("event_type")
  }

  private val driftReport = Op("drift_report",
    s"""WITH b AS (
       |  SELECT event_type,
       |    CAST(floor(value / CAST($DriftBinWidth AS DOUBLE)) AS BIGINT) AS bin,
       |    count(*) FILTER (WHERE ts <  TIMESTAMP '$DriftSplit') AS c_ref,
       |    count(*) FILTER (WHERE ts >= TIMESTAMP '$DriftSplit') AS c_cur
       |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
       |  GROUP BY 1, 2),
       |p AS (
       |  SELECT event_type, c_ref, c_cur,
       |    CAST(SUM(c_ref) OVER (PARTITION BY event_type) AS BIGINT) AS t_ref,
       |    CAST(SUM(c_cur) OVER (PARTITION BY event_type) AS BIGINT) AS t_cur
       |  FROM b),
       |q AS (
       |  SELECT event_type, t_ref, t_cur,
       |    CAST(c_ref AS DOUBLE) / t_ref AS pr,
       |    CAST(c_cur AS DOUBLE) / t_cur AS pc
       |  FROM p WHERE t_ref > 0 AND t_cur > 0),
       |terms AS (
       |  SELECT event_type, t_ref, t_cur,
       |    CAST(abs(pc - pr) AS DECIMAL(28,9)) AS tvd_t,
       |    CAST((pc - pr) * (pc - pr) / ((pr + pc) / 2) AS DECIMAL(28,9)) AS chi_t
       |  FROM q)
       |SELECT event_type, max(t_ref) AS n_ref, max(t_cur) AS n_cur,
       |  CAST(0.5 AS DOUBLE) * CAST(SUM(tvd_t) AS DOUBLE) AS tvd,
       |  CAST(SUM(chi_t) AS DOUBLE) AS chi2,
       |  CAST(0.5 AS DOUBLE) * CAST(SUM(tvd_t) AS DOUBLE)
       |    > CAST(0.1 AS DOUBLE) AS drifted
       |FROM terms GROUP BY event_type
       |ORDER BY event_type""".stripMargin) { (s, d) =>
    driftView(driftCounts(t(s, d, "events")))
  }

  // --------------------------------------------------------------------
  // ab_ttest — per-day Welch two-sample t-test of `value` between the
  // click (A) and purchase (B) cohorts: the significance gate behind every
  // experiment dashboard. t = (m̄_a - m̄_b) / √(v_a/n_a + v_b/n_b), with
  // Welch–Satterthwaite degrees of freedom; |t| > 1.96 flags (two-sided
  // 5% against the normal approximation — exact CDF needs the incomplete
  // beta, a library-specific special function, so the contract is the
  // STATISTIC, not a p-value).
  //
  // Engine-identical: the five sufficient moments per (day, arm) —
  // n, Σx, Σx² — are exact BIGINT / DECIMAL aggregates (Σx at the house
  // DECIMAL(18,2) cents quantization, Σx² as the exact product of those
  // decimals), so they are partition-order-independent; mean/variance/t
  // are then a fixed scalar IEEE tree over exactly-agreed values (+, -,
  // ×, ÷, √ are all correctly rounded). One fact pass, map-side combine,
  // 30 result rows.
  // --------------------------------------------------------------------
  private val ArmA = "click"
  private val ArmB = "purchase"

  /** Per-day sufficient moments (n, Σx, Σx² per arm) — the t-test's only
    * fact-scale pass, shared with the streaming twin
    * ([[graft.streaming.Streams.ttest]]): the moments are ALGEBRAIC
    * (counts and exact decimal sums), so a stream folds per-batch partials
    * into them with a keyed SUM merge and [[ttestView]] reproduces the
    * batch op exactly at any batch cut. Sums stay DECIMAL here (exact
    * merge); the view casts to double. */
  private[graft] def ttestMoments(events: DataFrame): DataFrame = {
    val x = col("value").cast(DecimalType(18, 2))
    def m(arm: String, suf: String) = Seq(
      count(when(col("event_type") === arm, 1)).as(s"n_$suf"),
      sum(when(col("event_type") === arm, x))
        .cast(DecimalType(38, 2)).as(s"sx_$suf"),
      sum(when(col("event_type") === arm, x * x))
        .cast(DecimalType(38, 4)).as(s"sxx_$suf"))
    val aggs = m(ArmA, "a") ++ m(ArmB, "b")
    events
      .filter(col("ts").isNotNull && col("value").isNotNull
        && col("event_type").isInCollection(Seq(ArmA, ArmB)))
      .groupBy(date_trunc("day", col("ts")).cast("timestamp").as("day"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Welch t statistic over completed moments (grid-sized input: one row
    * per day) — a fixed scalar IEEE tree over exactly-agreed values. */
  private[graft] def ttestView(moments: DataFrame): DataFrame = {
    def vr(suf: String) = {
      val sx = col(s"sx_$suf").cast("double")
      val sxx = col(s"sxx_$suf").cast("double")
      (sxx - sx * sx / col(s"n_$suf")) / (col(s"n_$suf") - 1)
    }
    val st = moments.filter(col("n_a") > 1 && col("n_b") > 1)
      .select(col("day"), col("n_a"), col("n_b"),
        (col("sx_a").cast("double") / col("n_a")).as("mean_a"),
        (col("sx_b").cast("double") / col("n_b")).as("mean_b"),
        (vr("a") / col("n_a")).as("se2_a"),
        (vr("b") / col("n_b")).as("se2_b"))
    st.filter(col("se2_a") + col("se2_b") > 0)
      .select(col("day"), col("n_a"), col("n_b"), col("mean_a"), col("mean_b"),
        ((col("mean_a") - col("mean_b")) / sqrt(col("se2_a") + col("se2_b")))
          .as("t_stat"),
        ((col("se2_a") + col("se2_b")) * (col("se2_a") + col("se2_b"))
          / (col("se2_a") * col("se2_a") / (col("n_a") - 1)
            + col("se2_b") * col("se2_b") / (col("n_b") - 1))).as("df"))
      .withColumn("significant", abs(col("t_stat")) > lit(1.96))
      .orderBy("day")
  }

  /** The per-day Welch table as a DuckDB subquery (no final ORDER BY) —
    * shared by ab_ttest's oracle and experiment_dashboard's. */
  private val ttestTableSql: String = {
    // per-arm exact moments; x is the cents-quantized decimal value
    def m(arm: String, suf: String) =
      // decimal → double goes through VARCHAR: DuckDB's direct decimal
      // cast converts the scaled integer to double FIRST and divides by
      // 10^scale after (two roundings — 1 ulp off beyond 2^53), while the
      // string parse is correctly rounded, matching Spark's
      // BigDecimal.doubleValue. Only fires at 1e9-scale values (the
      // numeric-edge fixture); exact below 2^53 either way.
      s"""count(*) FILTER (WHERE event_type = '$arm') AS n_$suf,
         |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,2)))
         |         FILTER (WHERE event_type = '$arm') AS VARCHAR) AS DOUBLE) AS sx_$suf,
         |    CAST(CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) AS DECIMAL(19,2))
         |             * CAST(CAST(value AS DECIMAL(18,2)) AS DECIMAL(19,2)))
         |         FILTER (WHERE event_type = '$arm') AS VARCHAR) AS DOUBLE) AS sxx_$suf""".stripMargin
    def vr(suf: String) =
      s"(sxx_$suf - sx_$suf * sx_$suf / n_$suf) / (n_$suf - 1)"
    s"""(WITH mo AS (
       |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       |    ${m(ArmA, "a")},
       |    ${m(ArmB, "b")}
       |  FROM events
       |  WHERE ts IS NOT NULL AND value IS NOT NULL
       |    AND event_type IN ('$ArmA', '$ArmB')
       |  GROUP BY 1),
       |st AS (
       |  SELECT day, n_a, n_b, sx_a / n_a AS mean_a, sx_b / n_b AS mean_b,
       |    ${vr("a")} / n_a AS se2_a, ${vr("b")} / n_b AS se2_b
       |  FROM mo WHERE n_a > 1 AND n_b > 1),
       |tt AS (
       |  SELECT day, n_a, n_b, mean_a, mean_b,
       |    (mean_a - mean_b) / sqrt(se2_a + se2_b) AS t_stat,
       |    (se2_a + se2_b) * (se2_a + se2_b)
       |      / (se2_a * se2_a / (n_a - 1) + se2_b * se2_b / (n_b - 1)) AS df
       |  FROM st WHERE se2_a + se2_b > 0)
       |SELECT day, n_a, n_b, mean_a, mean_b, t_stat, df,
       |  abs(t_stat) > CAST(1.96 AS DOUBLE) AS significant
       |FROM tt)""".stripMargin
  }

  private val abTtest = Op("ab_ttest",
    s"""SELECT day, n_a, n_b, mean_a, mean_b, t_stat, df, significant
       |FROM $ttestTableSql ORDER BY day""".stripMargin) { (s, d) =>
    ttestView(ttestMoments(t(s, d, "events")))
  }

  // --------------------------------------------------------------------
  // changepoint_cusum — per-event-type CUSUM changepoint over the daily
  // revenue series: the day i maximizing D_i = |n·S_i − i·S_n| (the
  // classic CUSUM statistic max|S_i − (i/n)·S_n|, cross-multiplied by n
  // so it stays in exact BIGINT cents — no per-engine float drift in the
  // ARGMAX, which is the contract). Ties break to the earliest day.
  // Output adds the before/after daily means (doubles derived from the
  // exactly-agreed integer sums) so the magnitude of the level shift is
  // readable next to the split.
  //
  // Scale shape: ONE fact pass into a (type, day) grid (map-side-combined
  // decimal sum; the grid is |types|×|days| rows no matter how many
  // events), then windows + argmax on the grid. Overflow headroom:
  // D = n·S in cents — a 10^14-cent (trillion-dollar) series over 10^4
  // days stays within BIGINT.
  // --------------------------------------------------------------------
  /** The (type, day) cents grid — the changepoint op's only fact-scale
    * pass, shared with the streaming twin
    * ([[graft.streaming.Streams.cusum]]): the grid is ALGEBRAIC (one
    * exact decimal-cents sum per key), so a stream folds per-batch
    * partials into it with a keyed SUM merge and [[cusumView]] reproduces
    * the batch op exactly at any batch cut. */
  private[graft] def cusumDaily(events: DataFrame): DataFrame =
    events
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("timestamp").as("day"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100)
        .cast("long").as("cents"))

  /** CUSUM argmax over a completed daily grid (grid-sized input:
    * |types|×|days| rows). */
  private[graft] def cusumView(daily: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy("event_type")
    val scored = daily
      .withColumn("i", row_number().over(
        Window.partitionBy("event_type").orderBy("day")).cast("long"))
      .withColumn("s_i", sum("cents").over(w))
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("s_n", sum("cents").over(all))
      .filter(col("i") < col("n"))
      .withColumn("d", abs(col("n") * col("s_i") - col("i") * col("s_n")))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("event_type").orderBy(col("d").desc, col("day"))))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("day").as("change_day"),
        col("n").as("n_days"), col("d").as("d_max"),
        (col("s_i").cast("double") / (lit(100) * col("i"))).as("mean_before"),
        ((col("s_n") - col("s_i")).cast("double")
          / (lit(100) * (col("n") - col("i")))).as("mean_after"))
      .orderBy("event_type")
  }

  private val changepointCusum = Op("changepoint_cusum",
    s"""WITH daily AS (
       |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
       |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
       |  GROUP BY 1, 2),
       |cum AS (
       |  SELECT event_type, day, cents,
       |    CAST(row_number() OVER w AS BIGINT) AS i,
       |    SUM(cents) OVER w AS s_i,
       |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
       |    SUM(cents) OVER (PARTITION BY event_type) AS s_n
       |  FROM daily
       |  WINDOW w AS (PARTITION BY event_type ORDER BY day
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |scored AS (
       |  SELECT event_type, day, i, n,
       |    abs(n * CAST(s_i AS BIGINT) - i * CAST(s_n AS BIGINT)) AS d,
       |    CAST(s_i AS BIGINT) AS s_i, CAST(s_n AS BIGINT) AS s_n
       |  FROM cum WHERE i < n),
       |best AS (
       |  SELECT *, row_number() OVER (PARTITION BY event_type
       |                               ORDER BY d DESC, day) AS rk
       |  FROM scored)
       |SELECT event_type, day AS change_day, n AS n_days, d AS d_max,
       |  CAST(s_i AS DOUBLE) / (100 * i) AS mean_before,
       |  CAST(s_n - s_i AS DOUBLE) / (100 * (n - i)) AS mean_after
       |FROM best WHERE rk = 1 ORDER BY event_type""".stripMargin) { (s, d) =>
    cusumView(cusumDaily(t(s, d, "events")))
  }

  // --------------------------------------------------------------------
  // The rank-statistics family — eval_auc / ab_ranksum / ab_ks_test.
  //
  // ab_ttest compares MEANS; these are its distribution-free siblings, the
  // three standard nonparametric reads of the same two-cohort question:
  //   eval_auc    — how well does `value` SEPARATE the purchase arm from
  //                 the click arm? (exact tie-corrected ROC AUC — the
  //                 Mann-Whitney U rescaled; the metric behind every
  //                 ranking/quality-score gate in a curation pipeline)
  //   ab_ranksum  — is the location shift significant? (Wilcoxon rank-sum
  //                 z with the EXACT tie-corrected variance)
  //   ab_ks_test  — do the full DISTRIBUTIONS differ anywhere? (two-sample
  //                 Kolmogorov-Smirnov D, exact via integer cross-products)
  //
  // All three share ONE fact-scale pass: the per-(day, cents) tie-group
  // grid below. Ranks, U, the tie-corrected variance, and the KS supremum
  // are all recoverable from tie-group counts alone — so the fact table is
  // read once per op and everything downstream is grid-sized (distinct
  // values per day, not events per day). The grid is ALGEBRAIC (two
  // conditional counts per key), so the streaming twin folds per-batch
  // partials into it with a keyed SUM merge and the views below reproduce
  // the batch ops exactly at any batch cut.
  //
  // Exactness: `value` is quantized to integer CENTS (the house
  // DECIMAL(18,2) quantization — identical on both engines), so tie
  // structure is engine-identical; every rank/count statistic is then
  // exact BIGINT arithmetic (2×avg-rank = 2·startpos + tiesize − 1 keeps
  // half-ranks integral), and only the FINAL statistic is a fixed scalar
  // IEEE tree (÷, √ — correctly rounded everywhere) over exactly-agreed
  // integers. int64 headroom: rank sums stay ≤ 2n² and KS cross-products
  // ≤ n² per day (safe through ~2e9 events/day); the rank-sum variance
  // term n1·n0·(n³-scale) is the one that overflows first, so it is
  // computed in DECIMAL(38,0) (exact on both engines through n/day ~ 2e6;
  // at true 100 TB per-day volumes the cube factors would widen the same
  // way — documented, not silently wrong: DuckDB hard-errors and Spark
  // nulls on decimal overflow rather than wrapping).
  // --------------------------------------------------------------------

  /** The per-(day, cents) tie-group count grid — the rank family's only
    * fact-scale pass, shared with the streaming twin
    * ([[graft.streaming.Streams.rank]]). */
  private[graft] def rankGrid(events: DataFrame): DataFrame =
    events.filter(col("ts").isNotNull && col("value").isNotNull
        && col("event_type").isInCollection(Seq(ArmA, ArmB)))
      .groupBy(date_trunc("day", col("ts")).cast("timestamp").as("day"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
      .agg(count(when(col("event_type") === ArmA, 1)).as("c_a"),
        count(when(col("event_type") === ArmB, 1)).as("c_b"))

  /** Per-day rank sufficient statistics over a completed grid: n per arm,
    * Σ(2×avg-rank) over the positive (purchase) arm, the tie-correction
    * sum Σ(t³−t), and the KS supremum numerator. Grid-sized windows: one
    * sort per day partition, three frames over it. */
  private[graft] def rankStats(grid: DataFrame): DataFrame = {
    val byDay = Window.partitionBy("day")
    val ord = byDay.orderBy("cents")
    val excl = ord.rowsBetween(Window.unboundedPreceding, -1)
    val incl = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val g = grid
      .withColumn("t", col("c_a") + col("c_b"))
      // 1-based start position of this tie group in the day's sort
      .withColumn("p", coalesce(sum("t").over(excl), lit(0L)) + lit(1L))
      .withColumn("r2", lit(2L) * col("p") + col("t") - lit(1L))
      .withColumn("cum_a", sum("c_a").over(incl))
      .withColumn("cum_b", sum("c_b").over(incl))
      .withColumn("tot_a", sum("c_a").over(byDay))
      .withColumn("tot_b", sum("c_b").over(byDay))
    g.groupBy("day").agg(
      max("tot_a").as("n_neg"), max("tot_b").as("n_pos"),
      sum(col("c_b") * col("r2")).as("sr2_pos"),
      sum(col("t") * col("t") * col("t") - col("t")).as("sum_t3"),
      max(abs(col("cum_a") * col("tot_b") - col("cum_b") * col("tot_a")))
        .as("d_num"))
  }

  /** The same grid + per-day rank statistics in DuckDB SQL (no final
    * ORDER BY; DuckDB SUMs of BIGINT come back HUGEINT, so every carried
    * column is cast back to BIGINT at the stats stage). */
  private val rankStatsSql: String =
    s"""(WITH g AS (
       |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
       |    count(*) FILTER (WHERE event_type = '$ArmA') AS c_a,
       |    count(*) FILTER (WHERE event_type = '$ArmB') AS c_b
       |  FROM events
       |  WHERE ts IS NOT NULL AND value IS NOT NULL
       |    AND event_type IN ('$ArmA', '$ArmB')
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT day, c_a, c_b, c_a + c_b AS t,
       |    COALESCE(SUM(c_a + c_b) OVER (PARTITION BY day ORDER BY cents
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS p,
       |    SUM(c_a) OVER (PARTITION BY day ORDER BY cents
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
       |    SUM(c_b) OVER (PARTITION BY day ORDER BY cents
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b,
       |    SUM(c_a) OVER (PARTITION BY day) AS tot_a,
       |    SUM(c_b) OVER (PARTITION BY day) AS tot_b
       |  FROM g)
       |SELECT day,
       |  CAST(max(tot_a) AS BIGINT) AS n_neg,
       |  CAST(max(tot_b) AS BIGINT) AS n_pos,
       |  CAST(SUM(c_b * (2 * p + t - 1)) AS BIGINT) AS sr2_pos,
       |  CAST(SUM(t * t * t - t) AS BIGINT) AS sum_t3,
       |  CAST(MAX(abs(cum_a * tot_b - cum_b * tot_a)) AS BIGINT) AS d_num
       |FROM r GROUP BY day)""".stripMargin

  /** eval_auc view: exact tie-corrected ROC AUC from the rank stats.
    * 2U = Σ(2×avg-rank over positives) − n1(n1+1); AUC = U/(n1·n0). */
  private[graft] def aucView(stats: DataFrame): DataFrame =
    stats.filter(col("n_pos") > 0 && col("n_neg") > 0)
      .select(col("day"), col("n_neg"), col("n_pos"),
        (col("sr2_pos") - col("n_pos") * (col("n_pos") + 1)).as("u2"))
      .withColumn("auc", col("u2").cast("double")
        / (lit(2L) * col("n_pos") * col("n_neg")).cast("double"))
      .orderBy("day")

  private val evalAuc = Op("eval_auc",
    s"""SELECT day, n_neg, n_pos,
       |  sr2_pos - n_pos * (n_pos + 1) AS u2,
       |  CAST(sr2_pos - n_pos * (n_pos + 1) AS DOUBLE)
       |    / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
       |FROM $rankStatsSql
       |WHERE n_pos > 0 AND n_neg > 0
       |ORDER BY day""".stripMargin) { (s, d) =>
    aucView(rankStats(rankGrid(t(s, d, "events"))))
  }

  /** ab_ranksum view: Wilcoxon/Mann-Whitney z with the exact
    * tie-corrected variance σ² = n1·n0·((n+1)n(n−1) − Σ(t³−t)) / (12n(n−1));
    * z = (2U − n1·n0) / (2√σ²). The variance numerator is the one term
    * that exceeds int64 (n³ scale), so it is exact DECIMAL(38,0). */
  private[graft] def ranksumView(stats: DataFrame): DataFrame = {
    val n = col("n_neg") + col("n_pos")
    val u2 = col("sr2_pos") - col("n_pos") * (col("n_pos") + 1)
    val bNum = (col("n_neg") * col("n_pos")).cast(DecimalType(19, 0)) *
      ((n + 1) * n * (n - 1) - col("sum_t3")).cast(DecimalType(19, 0))
    stats.filter(col("n_pos") > 0 && col("n_neg") > 0)
      .select(col("day"), col("n_neg"), col("n_pos"), u2.as("u2"),
        bNum.as("b_num"), (lit(12L) * n * (n - 1)).as("b_den"))
      .filter(col("b_num") > 0)
      .withColumn("z", (col("u2") - col("n_pos") * col("n_neg")).cast("double")
        / (lit(2.0) * sqrt(col("b_num").cast("double")
          / col("b_den").cast("double"))))
      .select(col("day"), col("n_neg"), col("n_pos"), col("u2"),
        col("z"), (abs(col("z")) > lit(1.96)).as("significant"))
      .orderBy("day")
  }

  /** The per-day Wilcoxon/Mann-Whitney table as a DuckDB subquery (no
    * final ORDER BY) — shared by ab_ranksum's oracle and
    * experiment_dashboard's. */
  private val ranksumTableSql: String =
    s"""(WITH st AS (
       |  SELECT day, n_neg, n_pos,
       |    sr2_pos - n_pos * (n_pos + 1) AS u2,
       |    CAST(n_neg * n_pos AS DECIMAL(19,0))
       |      * CAST((n_neg + n_pos + 1) * (n_neg + n_pos)
       |             * (n_neg + n_pos - 1) - sum_t3 AS DECIMAL(19,0)) AS b_num,
       |    12 * (n_neg + n_pos) * (n_neg + n_pos - 1) AS b_den
       |  FROM $rankStatsSql
       |  WHERE n_pos > 0 AND n_neg > 0)
       |SELECT day, n_neg, n_pos, u2,
       |  CAST(u2 - n_pos * n_neg AS DOUBLE)
       |    / (CAST(2 AS DOUBLE) * sqrt(CAST(CAST(b_num AS VARCHAR) AS DOUBLE)
       |        / CAST(b_den AS DOUBLE))) AS z,
       |  abs(CAST(u2 - n_pos * n_neg AS DOUBLE)
       |    / (CAST(2 AS DOUBLE) * sqrt(CAST(CAST(b_num AS VARCHAR) AS DOUBLE)
       |        / CAST(b_den AS DOUBLE)))) > CAST(1.96 AS DOUBLE) AS significant
       |FROM st WHERE b_num > 0)""".stripMargin

  private val abRanksum = Op("ab_ranksum",
    s"""SELECT day, n_neg, n_pos, u2, z, significant
       |FROM $ranksumTableSql ORDER BY day""".stripMargin) { (s, d) =>
    ranksumView(rankStats(rankGrid(t(s, d, "events"))))
  }

  /** ab_ks_test view: two-sample KS. D = max_v |F_a(v) − F_b(v)| computed
    * as the exact integer supremum max|cum_a·n1 − cum_b·n0| over n0·n1;
    * significance vs the asymptotic 5% threshold 1.358·√((n0+n1)/(n0·n1)). */
  private[graft] def ksView(stats: DataFrame): DataFrame =
    stats.filter(col("n_pos") > 0 && col("n_neg") > 0)
      .withColumn("d_stat", col("d_num").cast("double")
        / (col("n_neg") * col("n_pos")).cast("double"))
      .withColumn("crit", lit(1.358) *
        sqrt((col("n_neg") + col("n_pos")).cast("double")
          / (col("n_neg") * col("n_pos")).cast("double")))
      .select(col("day"), col("n_neg"), col("n_pos"), col("d_num"),
        col("d_stat"), col("crit"), (col("d_stat") > col("crit")).as("significant"))
      .orderBy("day")

  private val abKsTest = Op("ab_ks_test",
    s"""SELECT day, n_neg, n_pos, d_num,
       |  CAST(d_num AS DOUBLE) / CAST(n_neg * n_pos AS DOUBLE) AS d_stat,
       |  CAST(1.358 AS DOUBLE) * sqrt(CAST(n_neg + n_pos AS DOUBLE)
       |    / CAST(n_neg * n_pos AS DOUBLE)) AS crit,
       |  CAST(d_num AS DOUBLE) / CAST(n_neg * n_pos AS DOUBLE)
       |    > CAST(1.358 AS DOUBLE) * sqrt(CAST(n_neg + n_pos AS DOUBLE)
       |      / CAST(n_neg * n_pos AS DOUBLE)) AS significant
       |FROM $rankStatsSql
       |WHERE n_pos > 0 AND n_neg > 0
       |ORDER BY day""".stripMargin) { (s, d) =>
    ksView(rankStats(rankGrid(t(s, d, "events"))))
  }

  // --------------------------------------------------------------------
  // survival_hazard — the Kaplan-Meier hazard table for time-to-event
  // analysis with RIGHT CENSORING (the read behind every conversion /
  // activation / churn model): event = a user's first HIGH-VALUE
  // purchase (cents ≥ ConvCents — the big-ticket conversion), time = days
  // from the user's first-ever event; users who never convert are
  // censored at the in-data anchor day (their time-to-convert is only
  // known to be AT LEAST that long — counting them as "never converts"
  // is the classic bias a survival analysis exists to avoid). Per
  // day-offset t: n_risk (users still unconverted and under observation
  // at t), n_event (conversions at exactly t), n_censored (observation
  // windows ending at t), the discrete hazard n_event/n_risk in integer
  // bp, AND the Kaplan-Meier survival curve S_t = Π_{i≤t}(1 − h_i) in
  // exact 1e-9 fixed point (surv_e9) — a float product would be the one
  // engine-divergence hazard in the table, so the curve runs as an
  // integer multiply/floor-div recurrence instead (see survivalView).
  // Everything exact int64 (day arithmetic, counts, floor-div bp,
  // fixed-point curve).
  //
  // Scale shape: ONE fact pass to the per-user (first_day, conv_day,
  // last_day) grid — all three cells ALGEBRAIC (min / conditional min /
  // max; min skips NULLs on both engines and in the fold merge), so the
  // streaming twin folds per-batch partials with a keyed (min, min, max)
  // merge; the anchor is a 1-row broadcast back over the grid (the
  // event_rfm pattern); the offset grid is calendar-bounded, so its
  // reverse-cumulative n_risk window is a bounded unpartitioned window
  // (the tokenize-vocab / win_rolling_median argument).
  // --------------------------------------------------------------------
  private val ConvCents = 20000L // $200+: the big-ticket conversion

  /** The per-user (first_day, conv_day, last_day) grid — survival_hazard's
    * only fact-scale pass, shared with the streaming twin
    * ([[graft.streaming.Streams.survival]]). */
  private[graft] def survivalGrid(events: DataFrame): DataFrame =
    events.filter(col("ts").isNotNull && col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(min(col("ts").cast("date")).as("first_day"),
        min(when(col("event_type") === ArmB
            && (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
               >= ConvCents,
          col("ts").cast("date"))).as("conv_day"),
        max(col("ts").cast("date")).as("last_day"))

  /** Anchor, censoring, the hazard table, and the Kaplan-Meier survival
    * curve over a completed grid. The curve S_t = Π_{i≤t}(1 − e_i/r_i)
    * is the one sequential quantity in the table: a float product would
    * be the engine-divergence hazard the op used to declare out, so it
    * is computed instead as the FIXED-POINT INTEGER recurrence
    * s_i = (s_{i−1} · (r_i − e_i)) div r_i in 1e-9 units (the
    * graph_pagerank discipline: integer multiply + floor-div are
    * bit-identical on any engine at any partitioning; operands are
    * non-negative, where DuckDB's truncating `//` equals floor). Int64
    * headroom: s ≤ 1e9 and the product is s · n_risk — safe to ~9.2e9
    * users at risk, the same humanity-scale bound as the grid itself.
    *
    * Mechanism: the fold is inherently sequential (floor at every step —
    * non-associative), and the hazard table is ALREADY one grid-sized
    * partition (its n_risk window is unpartitioned by the calendar-bound
    * argument), so the recurrence runs as ONE mapPartitions task of
    * plain integer arithmetic over that partition — the documented
    * last-resort case where mapPartitions is right: a recursive-CTE
    * formulation was measured at 6–26 s at sf0.1 (one Spark job per
    * recursion level over a ~35-row table) vs ~2 s for the single task.
    * The DuckDB oracle keeps the recursive-CTE spelling (in-process
    * recursion is free there); both compute identical integers. */
  private[graft] def survivalView(u: DataFrame): DataFrame = {
    val anchor = u.agg(max("last_day").as("anchor_day"))
    val obs = u.crossJoin(broadcast(anchor))
      .withColumn("censored", col("conv_day").isNull)
      .withColumn("t_days",
        when(col("censored"), datediff(col("anchor_day"), col("first_day")))
          .otherwise(datediff(col("conv_day"), col("first_day"))).cast("long"))
    val ord = Window.orderBy(col("t_days").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val hz = obs.groupBy("t_days")
      .agg(count(when(!col("censored"), 1)).as("n_event"),
        count(when(col("censored"), 1)).as("n_censored"))
      .withColumn("n_risk", sum(col("n_event") + col("n_censored")).over(ord))
      .withColumn("hazard_bp", expr("n_event * 10000 div n_risk"))
      .select(col("t_days"), col("n_risk"), col("n_event"),
        col("n_censored"), col("hazard_bp"))
    val outSchema = org.apache.spark.sql.types.StructType(hz.schema.fields :+
      org.apache.spark.sql.types.StructField("surv_e9",
        org.apache.spark.sql.types.LongType, nullable = false))
    hz.coalesce(1).sortWithinPartitions("t_days")
      .mapPartitions { it =>
        var surv = 1000000000L
        it.map { r =>
          val risk = r.getAs[Long]("n_risk")
          val ev = r.getAs[Long]("n_event")
          surv = surv * (risk - ev) / risk // non-negative: floor == truncate
          org.apache.spark.sql.Row(r.getAs[Long]("t_days"), risk, ev,
            r.getAs[Long]("n_censored"), r.getAs[Long]("hazard_bp"), surv)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
      .orderBy("t_days")
  }

  private val survivalHazard = Op("survival_hazard",
    s"""WITH RECURSIVE e AS (
       |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
       |    event_type = '$ArmB'
       |      AND CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
       |          >= $ConvCents AS conv
       |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
       |u AS (
       |  SELECT user_id, min(d) AS first_day,
       |    min(CASE WHEN conv THEN d END) AS conv_day,
       |    max(d) AS last_day
       |  FROM e GROUP BY 1),
       |a AS (SELECT max(last_day) AS anchor_day FROM u),
       |o AS (
       |  SELECT conv_day IS NULL AS censored,
       |    CASE WHEN conv_day IS NULL
       |         THEN datediff('day', first_day, anchor_day)
       |         ELSE datediff('day', first_day, conv_day) END AS t_days
       |  FROM u, a),
       |g AS (
       |  SELECT t_days,
       |    count(*) FILTER (WHERE NOT censored) AS n_event,
       |    count(*) FILTER (WHERE censored) AS n_censored
       |  FROM o GROUP BY 1),
       |r AS (
       |  SELECT t_days, n_event, n_censored,
       |    CAST(SUM(n_event + n_censored) OVER (ORDER BY t_days
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
       |      AS n_risk
       |  FROM g),
       |hz AS (
       |  SELECT CAST(t_days AS BIGINT) AS t_days, n_risk, n_event, n_censored,
       |    n_event * 10000 // n_risk AS hazard_bp,
       |    row_number() OVER (ORDER BY t_days) AS rn
       |  FROM r),
       |surv AS (
       |  SELECT rn, t_days, n_risk, n_event, n_censored, hazard_bp,
       |    (CAST(1000000000 AS BIGINT) * (n_risk - n_event)) // n_risk AS surv_e9
       |  FROM hz WHERE rn = 1
       |  UNION ALL
       |  SELECT h.rn, h.t_days, h.n_risk, h.n_event, h.n_censored, h.hazard_bp,
       |    (s.surv_e9 * (h.n_risk - h.n_event)) // h.n_risk
       |  FROM surv s JOIN hz h ON h.rn = s.rn + 1)
       |SELECT t_days, n_risk, n_event, n_censored, hazard_bp, surv_e9
       |FROM surv ORDER BY t_days""".stripMargin) { (s, d) =>
    survivalView(survivalGrid(t(s, d, "events")))
  }

  // --------------------------------------------------------------------
  // ab_srm — the sample-ratio-mismatch / daily-mix screen: is each DAY's
  // click-vs-purchase mix consistent with the GLOBAL mix? SRM is the
  // first thing an experimentation platform checks — a significant mix
  // shift means the assignment (or the logging) broke, and every other
  // statistic on that day is suspect. Per day: observed arm counts, the
  // exact integer imbalance d = o_a·g_b − o_b·g_a (zero iff the day's
  // mix equals the global mix), the χ²₁ homogeneity statistic
  // d²/(n·g_a·g_b), and the 5% flag (3.84).
  //
  // Engine-identical: counts are exact BIGINT; d is exact BIGINT
  // (headroom: |d| ≤ events/day × global events — widen to DECIMAL at
  // ~1e15·1e3, same documented path as the ranksum variance); χ² is a
  // fixed scalar IEEE tree (two multiplies, one divide — correctly
  // rounded everywhere) over exactly-agreed integers, the ab_ttest rule.
  //
  // Scale shape: ONE fact pass to the per-day count grid (map-side
  // combine, |days| rows); the global counts are a grid aggregate
  // broadcast back as a 1-row BNLJ (the anomaly_mad pattern); χ² is
  // scan-stage arithmetic on the grid.
  // --------------------------------------------------------------------

  /** The per-day arm-count grid — ab_srm's only fact-scale pass, shared
    * with the streaming twin ([[graft.streaming.Streams.srm]]):
    * two conditional counts per key, keyed SUM fold. */
  private[graft] def srmGrid(events: DataFrame): DataFrame =
    events.filter(col("ts").isNotNull
        && col("event_type").isInCollection(Seq(ArmA, ArmB)))
      .groupBy(date_trunc("day", col("ts")).cast("timestamp").as("day"))
      .agg(count(when(col("event_type") === ArmA, 1)).as("n_a"),
        count(when(col("event_type") === ArmB, 1)).as("n_b"))

  /** χ² homogeneity over a completed day grid (grid-sized input). An arm
    * with ZERO global presence makes χ² undefined (0 denominator — ANSI
    * double division throws), so the contract requires both arms to
    * exist globally — the drift_report t_ref/t_cur>0 discipline. */
  private[graft] def srmView(grid: DataFrame): DataFrame = {
    val g = grid.agg(sum("n_a").as("g_a"), sum("n_b").as("g_b"))
    val q = grid.crossJoin(broadcast(g))
      .filter(col("g_a") > 0 && col("g_b") > 0)
      .withColumn("d_stat", col("n_a") * col("g_b") - col("n_b") * col("g_a"))
      .withColumn("chi2",
        col("d_stat").cast("double") * col("d_stat").cast("double")
          / ((col("n_a") + col("n_b")).cast("double")
            * col("g_a").cast("double") * col("g_b").cast("double")))
    q.select(col("day"), col("n_a"), col("n_b"), col("d_stat"), col("chi2"),
        (col("chi2") > lit(3.84)).as("srm"))
      .orderBy("day")
  }

  /** The per-day SRM table as a DuckDB subquery (no final ORDER BY) —
    * shared by ab_srm's oracle and experiment_dashboard's. */
  private val srmTableSql: String =
    s"""(WITH grid AS (
       |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       |    count(*) FILTER (WHERE event_type = '$ArmA') AS n_a,
       |    count(*) FILTER (WHERE event_type = '$ArmB') AS n_b
       |  FROM events
       |  WHERE ts IS NOT NULL AND event_type IN ('$ArmA', '$ArmB')
       |  GROUP BY 1),
       |g AS (SELECT CAST(SUM(n_a) AS BIGINT) AS g_a,
       |             CAST(SUM(n_b) AS BIGINT) AS g_b FROM grid),
       |q AS (
       |  SELECT day, n_a, n_b, n_a * g_b - n_b * g_a AS d_stat,
       |    CAST(n_a * g_b - n_b * g_a AS DOUBLE)
       |      * CAST(n_a * g_b - n_b * g_a AS DOUBLE)
       |      / (CAST(n_a + n_b AS DOUBLE)
       |         * CAST(g_a AS DOUBLE) * CAST(g_b AS DOUBLE)) AS chi2
       |  FROM grid, g WHERE g_a > 0 AND g_b > 0)
       |SELECT day, n_a, n_b, d_stat, chi2,
       |  chi2 > CAST(3.84 AS DOUBLE) AS srm
       |FROM q)""".stripMargin

  private val abSrm = Op("ab_srm",
    s"""SELECT day, n_a, n_b, d_stat, chi2, srm
       |FROM $srmTableSql ORDER BY day""".stripMargin) { (s, d) =>
    srmView(srmGrid(t(s, d, "events")))
  }

  // --------------------------------------------------------------------
  // ab_sequential — the peeking-safe experiment monitor: a fixed-horizon
  // t-test is only valid when read ONCE, but every real dashboard is
  // watched daily, and 30 looks at |z| > 1.96 have ~15-25% false-positive
  // rate. The standard guard is a group-sequential boundary: per day t,
  // the RUNNING Welch z over all data so far is compared against the
  // O'Brien-Fleming-shaped boundary c/√f (f = t/T the information
  // fraction, c = 2.7965 — the two-sided-5% OF constant, hardcoded like
  // 1.96/3.84/1.358: the contract is the boundary SHAPE, not a p-value)
  // — enormous early thresholds that decay to ~c by the horizon, so the
  // overall false-positive rate stays controlled no matter how often
  // anyone peeks. Output per day: cumulative per-arm n, running z, the
  // boundary, and the crossed flag.
  //
  // One fold, many views (the rank-family discipline): the input is
  // ttestMoments VERBATIM — the same per-day algebraic moment grid
  // ab_ttest reads and Streams.ttest folds — so a streaming deployment gets
  // the always-valid monitor from the state it already carries. The
  // cumulative sums are exact DECIMAL windows over the grid (order-
  // independent), converted once; z is ttestView's fixed IEEE tree over
  // the cumulative moments; oracle decimals ride the house VARCHAR
  // route. Degenerate prefixes (an arm with ≤1 cumulative obs, zero
  // pooled variance) are excluded — the ttestView discipline.
  //
  // Scale shape: the fact pass is ttestMoments' (map-side combine to
  // |days| rows); every window here is grid-sized (the survival n_risk
  // argument).
  // --------------------------------------------------------------------
  private val SeqC = 2.7965

  /** Running-z + OF boundary view over a completed moments grid. */
  private[graft] def seqView(moments: DataFrame): DataFrame = {
    val byDay = Window.orderBy("day")
    val cumW = byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val allW = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = moments
      .withColumn("ca", sum("n_a").over(cumW))
      .withColumn("cb", sum("n_b").over(cumW))
      .withColumn("csx_a", sum("sx_a").over(cumW).cast(DecimalType(38, 2)))
      .withColumn("csxx_a", sum("sxx_a").over(cumW).cast(DecimalType(38, 4)))
      .withColumn("csx_b", sum("sx_b").over(cumW).cast(DecimalType(38, 2)))
      .withColumn("csxx_b", sum("sxx_b").over(cumW).cast(DecimalType(38, 4)))
      .withColumn("t_idx", row_number().over(byDay))
      .withColumn("t_total", count(lit(1)).over(allW))
    def vr(suf: String) = {
      val sx = col(s"csx_$suf").cast("double")
      val sxx = col(s"csxx_$suf").cast("double")
      (sxx - sx * sx / col(s"c$suf")) / (col(s"c$suf") - 1)
    }
    val st = cum.filter(col("ca") > 1 && col("cb") > 1)
      .select(col("day"), col("ca").as("n_a"), col("cb").as("n_b"),
        col("t_idx"), col("t_total"),
        (col("csx_a").cast("double") / col("ca")).as("mean_a"),
        (col("csx_b").cast("double") / col("cb")).as("mean_b"),
        (vr("a") / col("ca")).as("se2_a"),
        (vr("b") / col("cb")).as("se2_b"))
    st.filter(col("se2_a") + col("se2_b") > 0)
      .select(col("day"), col("n_a"), col("n_b"),
        ((col("mean_a") - col("mean_b")) / sqrt(col("se2_a") + col("se2_b")))
          .as("z"),
        (lit(SeqC) / sqrt(col("t_idx").cast("double")
          / col("t_total").cast("double"))).as("bound"))
      .withColumn("crossed", abs(col("z")) > col("bound"))
      .orderBy("day")
  }

  private val abSequential = Op("ab_sequential", {
    def m(arm: String, suf: String) =
      s"""count(*) FILTER (WHERE event_type = '$arm') AS n_$suf,
         |    SUM(CAST(value AS DECIMAL(18,2)))
         |      FILTER (WHERE event_type = '$arm') AS sx_$suf,
         |    SUM(CAST(CAST(value AS DECIMAL(18,2)) AS DECIMAL(19,2))
         |        * CAST(CAST(value AS DECIMAL(18,2)) AS DECIMAL(19,2)))
         |      FILTER (WHERE event_type = '$arm') AS sxx_$suf""".stripMargin
    def cd(e: String) = s"CAST(CAST($e AS VARCHAR) AS DOUBLE)"
    def vr(suf: String) =
      s"(csxx_$suf - csx_$suf * csx_$suf / c$suf) / (c$suf - 1)"
    s"""WITH mo AS (
       |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       |    ${m(ArmA, "a")},
       |    ${m(ArmB, "b")}
       |  FROM events
       |  WHERE ts IS NOT NULL AND value IS NOT NULL
       |    AND event_type IN ('$ArmA', '$ArmB')
       |  GROUP BY 1),
       |cum AS (
       |  SELECT day,
       |    CAST(SUM(n_a) OVER w AS BIGINT) AS ca,
       |    CAST(SUM(n_b) OVER w AS BIGINT) AS cb,
       |    ${cd("CAST(SUM(sx_a) OVER w AS DECIMAL(38,2))")} AS csx_a,
       |    ${cd("CAST(SUM(sxx_a) OVER w AS DECIMAL(38,4))")} AS csxx_a,
       |    ${cd("CAST(SUM(sx_b) OVER w AS DECIMAL(38,2))")} AS csx_b,
       |    ${cd("CAST(SUM(sxx_b) OVER w AS DECIMAL(38,4))")} AS csxx_b,
       |    row_number() OVER (ORDER BY day) AS t_idx,
       |    count(*) OVER () AS t_total
       |  FROM mo
       |  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |st AS (
       |  SELECT day, ca AS n_a, cb AS n_b, t_idx, t_total,
       |    csx_a / ca AS mean_a, csx_b / cb AS mean_b,
       |    ${vr("a")} / ca AS se2_a, ${vr("b")} / cb AS se2_b
       |  FROM cum WHERE ca > 1 AND cb > 1)
       |SELECT day, n_a, n_b,
       |  (mean_a - mean_b) / sqrt(se2_a + se2_b) AS z,
       |  CAST($SeqC AS DOUBLE)
       |    / sqrt(CAST(t_idx AS DOUBLE) / CAST(t_total AS DOUBLE)) AS bound,
       |  abs((mean_a - mean_b) / sqrt(se2_a + se2_b))
       |    > CAST($SeqC AS DOUBLE)
       |      / sqrt(CAST(t_idx AS DOUBLE) / CAST(t_total AS DOUBLE)) AS crossed
       |FROM st WHERE se2_a + se2_b > 0
       |ORDER BY day""".stripMargin
  }) { (s, d) =>
    seqView(ttestMoments(t(s, d, "events")))
  }

  // --------------------------------------------------------------------
  // experiment_dashboard — the composite per-day experiment read-out a
  // platform actually renders: the assignment-health screen (SRM χ²)
  // joined with the parametric (Welch t) and distribution-free
  // (Wilcoxon z) significance tests, plus a categorical DECISION the
  // three columns imply — 'invalid' when the day's assignment mix is
  // broken (every other statistic on that day is suspect — SRM is
  // checked FIRST for a reason), 'effect' when both tests agree the
  // metric moved, 'review' when they disagree (shape-sensitive — the t
  // reacts to outliers the rank test ignores), 'no_effect' otherwise.
  // The SRM day table is the spine (it exists for any day with either
  // arm); the test tables LEFT-join onto it — a day that lacks the
  // moments for a test (n<=1, zero variance) shows NULL statistics and
  // counts as not-significant in the decision (COALESCE false).
  //
  // One fold, many views: the three legs are the EXACT grid+view
  // pipelines of ab_srm / ab_ttest / ab_ranksum (srmGrid, ttestMoments,
  // rankGrid shared verbatim — the dashboard provably displays what the
  // individual ops compute, and a streaming deployment serves it from
  // the same three sinks). Cost: the three fact-scale grid passes the
  // component ops already pay, then grid-sized joins (≤|days| rows per
  // leg — broadcast-sized at any event scale).
  // --------------------------------------------------------------------
  /** Dashboard view over the three completed per-day tables. */
  private[graft] def dashboardView(
      srm: DataFrame, tt: DataFrame, rs: DataFrame): DataFrame = {
    val sv = srm.select(col("day"), col("n_a"), col("n_b"),
      col("chi2").as("srm_chi2"), col("srm"))
    val tv = tt.select(col("day"), col("mean_a"), col("mean_b"),
      col("t_stat"), col("significant").as("t_sig"))
    val rv = rs.select(col("day"), col("z"), col("significant").as("z_sig"))
    val tSig = coalesce(col("t_sig"), lit(false))
    val zSig = coalesce(col("z_sig"), lit(false))
    sv.join(tv, Seq("day"), "left").join(rv, Seq("day"), "left")
      .select(col("day"), col("n_a"), col("n_b"), col("srm_chi2"), col("srm"),
        col("mean_a"), col("mean_b"), col("t_stat"), col("t_sig"),
        col("z"), col("z_sig"),
        when(col("srm"), "invalid")
          .when(tSig && zSig, "effect")
          .when(tSig || zSig, "review")
          .otherwise("no_effect").as("decision"))
      .orderBy("day")
  }

  private val experimentDashboard = Op("experiment_dashboard",
    s"""WITH s AS (SELECT day, n_a, n_b, chi2 AS srm_chi2, srm FROM $srmTableSql),
       |tt AS (SELECT day, mean_a, mean_b, t_stat,
       |         significant AS t_sig FROM $ttestTableSql),
       |rs AS (SELECT day, z, significant AS z_sig FROM $ranksumTableSql)
       |SELECT s.day, s.n_a, s.n_b, s.srm_chi2, s.srm,
       |  tt.mean_a, tt.mean_b, tt.t_stat, tt.t_sig, rs.z, rs.z_sig,
       |  CASE WHEN s.srm THEN 'invalid'
       |       WHEN COALESCE(tt.t_sig, false) AND COALESCE(rs.z_sig, false)
       |         THEN 'effect'
       |       WHEN COALESCE(tt.t_sig, false) OR COALESCE(rs.z_sig, false)
       |         THEN 'review'
       |       ELSE 'no_effect' END AS decision
       |FROM s LEFT JOIN tt ON s.day = tt.day LEFT JOIN rs ON rs.day = s.day
       |ORDER BY s.day""".stripMargin) { (s, d) =>
    val ev = t(s, d, "events")
    dashboardView(
      srmView(srmGrid(ev)),
      ttestView(ttestMoments(ev)),
      ranksumView(rankStats(rankGrid(ev))))
  }

  // --------------------------------------------------------------------
  // ab_cuped — CUPED variance reduction (Deng et al., WSDM 2013), the
  // standard trick every experimentation platform applies before the
  // t-test: regress the experiment-period metric Y on a PRE-period
  // covariate X (same user, before the split date), and compare the
  // adjusted means Ŷ_arm = Ȳ_arm − θ·(X̄_arm − X̄_pooled) instead of the
  // raw means — the pre-period signal explains away between-user
  // variance that has nothing to do with the treatment. Unit = user;
  // assignment = deterministic salted-hash coin (h60 parity — the
  // dataset_split convention: reproducible across engines, reruns, and
  // partition counts); X/Y = the user's exact cents totals before/after
  // the split date. θ = cov(X,Y)/var(X) pooled over both arms.
  //
  // Engine-identical: per-arm sufficient stats are exact (counts BIGINT;
  // Σx, Σy BIGINT cents; Σx², Σxy exact DECIMAL(38,0) — the ranksum
  // widening rule: overflow errors, never wraps); θ, the means, and the
  // adjusted means are a fixed scalar IEEE tree over exactly-agreed
  // values, with every decimal→double on the oracle side routed through
  // VARCHAR (the house conversion convention past 2^53).
  //
  // Scale shape: ONE fact pass to the per-user (x, y) grid (map-side
  // combine, |users| rows), a 2-row arm aggregate over it, the pooled
  // row broadcast back as a 1-row BNLJ. Nothing downstream of the first
  // aggregate scales with events.
  // --------------------------------------------------------------------

  /** The per-user pre/post cents grid — ab_cuped's only fact-scale pass,
    * shared with the streaming twin
    * ([[graft.streaming.Streams.cuped]]): two conditional sums per
    * user, keyed SUM fold. Users with no pre (or post) events carry 0,
    * not NULL — a missing covariate is a zero covariate by contract. */
  private[graft] def cupedUserGrid(events: DataFrame): DataFrame = {
    val split = lit(DriftSplit).cast("timestamp")
    val cents = (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
    events.filter(col("ts").isNotNull && col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(coalesce(sum(when(col("ts") < split, cents)), lit(0L)).as("x"),
        coalesce(sum(when(col("ts") >= split, cents)), lit(0L)).as("y"))
  }

  /** Arm assignment + pooled θ + adjusted means over a completed user
    * grid (grid-sized input: |users| rows → 2 output rows). */
  private[graft] def cupedView(users: DataFrame): DataFrame = {
    val dec = DecimalType(19, 0)
    val armed = users.withColumn("arm",
      pmod(h60(concat(lit("cuped:"), col("user_id").cast("string"))), lit(2L)))
    val st = armed.groupBy("arm").agg(
      count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x").cast(dec) * col("x").cast(dec))
        .cast(DecimalType(38, 0)).as("sxx"),
      sum(col("x").cast(dec) * col("y").cast(dec))
        .cast(DecimalType(38, 0)).as("sxy"))
    val pooled = st.agg(sum("n").as("pn"), sum("sx").as("psx"),
      sum("sy").as("psy"),
      sum("sxx").cast(DecimalType(38, 0)).as("psxx"),
      sum("sxy").cast(DecimalType(38, 0)).as("psxy"))
    // the exact double the division sees: filtering on it (≠ 0) guards
    // the ANSI divide-by-zero throw when the covariate has no variance
    // (all-equal X — θ is undefined and adjustment meaningless there)
    val varXden = col("pn").cast("double") * col("psxx").cast("double") -
      col("psx").cast("double") * col("psx").cast("double")
    val theta = (col("pn").cast("double") * col("psxy").cast("double")
      - col("psx").cast("double") * col("psy").cast("double")) / varXden
    st.crossJoin(broadcast(pooled))
      .filter(varXden =!= 0.0)
      .withColumn("theta", theta)
      .withColumn("mean_x", col("sx").cast("double") / col("n") / lit(100.0))
      .withColumn("mean_y", col("sy").cast("double") / col("n") / lit(100.0))
      .withColumn("mean_x_pooled",
        col("psx").cast("double") / col("pn") / lit(100.0))
      .withColumn("mean_y_adj", col("mean_y")
        - col("theta") * (col("mean_x") - col("mean_x_pooled")))
      .select(col("arm"), col("n"), col("mean_x"), col("mean_y"),
        col("theta"), col("mean_y_adj"))
      .orderBy("arm")
  }

  private val abCuped = Op("ab_cuped", {
    def d(e: String) = s"CAST(CAST($e AS VARCHAR) AS DOUBLE)"
    s"""WITH u AS (
       |  SELECT user_id,
       |    COALESCE(SUM(CASE WHEN ts < TIMESTAMP '$DriftSplit'
       |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END), 0) AS x,
       |    COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '$DriftSplit'
       |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END), 0) AS y
       |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
       |  GROUP BY 1),
       |armed AS (
       |  SELECT ${h60Sql("concat('cuped:', CAST(user_id AS VARCHAR))")} % 2 AS arm,
       |    x, y FROM u),
       |st AS (
       |  SELECT arm, CAST(count(*) AS BIGINT) AS n,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
       |      AS DECIMAL(38,0)) AS sxx,
       |    CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
       |      AS DECIMAL(38,0)) AS sxy
       |  FROM armed GROUP BY 1),
       |pooled AS (
       |  SELECT CAST(SUM(n) AS BIGINT) AS pn, CAST(SUM(sx) AS BIGINT) AS psx,
       |    CAST(SUM(sy) AS BIGINT) AS psy,
       |    CAST(SUM(sxx) AS DECIMAL(38,0)) AS psxx,
       |    CAST(SUM(sxy) AS DECIMAL(38,0)) AS psxy
       |  FROM st),
       |q AS (
       |  SELECT arm, n,
       |    (CAST(pn AS DOUBLE) * ${d("psxy")} - CAST(psx AS DOUBLE) * CAST(psy AS DOUBLE))
       |      / (CAST(pn AS DOUBLE) * ${d("psxx")} - CAST(psx AS DOUBLE) * CAST(psx AS DOUBLE))
       |      AS theta,
       |    CAST(sx AS DOUBLE) / n / CAST(100 AS DOUBLE) AS mean_x,
       |    CAST(sy AS DOUBLE) / n / CAST(100 AS DOUBLE) AS mean_y,
       |    CAST(psx AS DOUBLE) / pn / CAST(100 AS DOUBLE) AS mean_x_pooled
       |  FROM st, pooled
       |  WHERE CAST(pn AS DOUBLE) * ${d("psxx")}
       |      - CAST(psx AS DOUBLE) * CAST(psx AS DOUBLE) <> CAST(0 AS DOUBLE))
       |SELECT arm, n, mean_x, mean_y, theta,
       |  mean_y - theta * (mean_x - mean_x_pooled) AS mean_y_adj
       |FROM q ORDER BY arm""".stripMargin
  }) { (s, d) =>
    cupedView(cupedUserGrid(t(s, d, "events")))
  }

  // --------------------------------------------------------------------
  // calibration_table / gains_table — the two standard table reads of
  // "how good is this score as a predictor", next to eval_auc's single
  // number (AUC says the score RANKS well; these say WHERE it's reliable
  // and how much targeting it buys):
  //   calibration_table — reliability: bucket the score into global
  //     deciles and compare each bucket's observed positive rate to the
  //     base rate (a calibrated score's rate rises monotonically).
  //   gains_table       — targeting yield: order by score DESCENDING,
  //     and per decile report the cumulative share of all positives
  //     captured (the gains curve) and the decile's lift over random.
  // Score = the cents-quantized `value`; positive = the purchase arm
  // (the eval_auc convention, so AUC / calibration / gains are three
  // reads of ONE definition).
  //
  // Both share ONE fact-scale pass: the global (cents, c_neg, c_pos)
  // tie-group grid (the rank-family discipline — every statistic here is
  // a function of tie-group counts alone). Decile assignment is exact
  // integer arithmetic on 1-based tie-group start positions
  // ((p−1)·10 div N), so a tie block is INDIVISIBLE — it lands wholly in
  // one decile and bucket sizes flex around ties (declared; the
  // alternative, splitting a tie by row order, is partition-order-
  // dependent and therefore not reproducible). All outputs are exact
  // int64 (counts, bp floor-div, floor-div average cents) except
  // gains_table's lift, a fixed scalar IEEE tree over exactly-agreed
  // integers (the ab_ttest rule). int64 headroom: p·10 ≤ 10N and
  // cum_pos·10⁴ hold to ~9e14 scored events (documented widening path:
  // the ranksum DECIMAL rule).
  //
  // Scale shape: ONE fact pass to the tie grid (map-side combine, grid
  // sized by DISTINCT cents values — value-domain-bounded, not
  // fact-bounded); the position/decile windows run over the GRID
  // (unpartitioned but grid-sized — the survival n_risk argument); the
  // decile tables are ≤10 rows.
  // --------------------------------------------------------------------

  /** The global (cents, c_neg, c_pos) tie-group grid — the only
    * fact-scale pass of calibration_table and gains_table, shared with
    * the streaming twin ([[graft.streaming.Streams.score]]): two
    * conditional counts per key, keyed SUM fold. */
  private[graft] def scoreGrid(events: DataFrame): DataFrame =
    events.filter(col("ts").isNotNull && col("value").isNotNull
        && col("event_type").isInCollection(Seq(ArmA, ArmB)))
      .groupBy((col("value").cast(DecimalType(18, 2)) * 100)
        .cast("long").as("cents"))
      .agg(count(when(col("event_type") === ArmA, 1)).as("c_neg"),
        count(when(col("event_type") === ArmB, 1)).as("c_pos"))

  /** Tie-group start positions + global totals over a completed grid —
    * the stage both decile tables bucket from. `asc` picks the decile
    * direction: ascending for calibration, descending for gains. */
  private def scorePositions(grid: DataFrame, asc: Boolean): DataFrame = {
    val ord = Window.orderBy(if (asc) col("cents").asc else col("cents").desc)
    val excl = ord.rowsBetween(Window.unboundedPreceding, -1)
    grid
      .withColumn("t", col("c_neg") + col("c_pos"))
      .withColumn("p", coalesce(sum("t").over(excl), lit(0L)) + lit(1L))
      .withColumn("n_tot", sum("t").over(Window.partitionBy()))
      .withColumn("p_tot", sum("c_pos").over(Window.partitionBy()))
      .withColumn("bucket", expr("(p - 1) * 10 div n_tot"))
  }

  /** Reliability table over a completed grid (≤10 output rows). */
  private[graft] def calibView(grid: DataFrame): DataFrame =
    scorePositions(grid, asc = true)
      .groupBy("bucket")
      .agg(sum("t").as("n"), sum("c_pos").as("n_pos"),
        sum(col("cents") * col("t")).as("sum_cents"),
        max("n_tot").as("n_tot"), max("p_tot").as("p_tot"))
      .select(col("bucket"), col("n"), col("n_pos"),
        expr("n_pos * 10000 div n").as("rate_bp"),
        expr("sum_cents div n").as("avg_cents"),
        expr("p_tot * 10000 div n_tot").as("base_bp"))
      .orderBy("bucket")

  /** Gains/lift table over a completed grid (≤10 output rows, decile 1 =
    * top scores). */
  private[graft] def gainsView(grid: DataFrame): DataFrame = {
    val cum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scorePositions(grid, asc = false)
      .withColumn("decile", col("bucket") + 1)
      .groupBy("decile")
      .agg(sum("t").as("n"), sum("c_pos").as("n_pos"),
        max("n_tot").as("n_tot"), max("p_tot").as("p_tot"))
      .withColumn("cum_pos", sum("n_pos").over(cum))
      .filter(col("p_tot") > 0)
      .select(col("decile"), col("n"), col("n_pos"), col("cum_pos"),
        expr("cum_pos * 10000 div p_tot").as("gain_bp"),
        ((col("n_pos").cast("double") * col("n_tot").cast("double"))
          / (col("n").cast("double") * col("p_tot").cast("double")))
          .as("lift"))
      .orderBy("decile")
  }

  /** The shared tie grid + positions in DuckDB SQL (`asc` as in
    * [[scorePositions]]); window SUMs come back HUGEINT, so every carried
    * column is cast to BIGINT here. */
  private def scorePositionsSql(asc: Boolean): String = {
    val dir = if (asc) "ASC" else "DESC"
    s"""(WITH g AS (
       |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
       |    count(*) FILTER (WHERE event_type = '$ArmA') AS c_neg,
       |    count(*) FILTER (WHERE event_type = '$ArmB') AS c_pos
       |  FROM events
       |  WHERE ts IS NOT NULL AND value IS NOT NULL
       |    AND event_type IN ('$ArmA', '$ArmB')
       |  GROUP BY 1)
       |SELECT cents, c_pos, c_neg + c_pos AS t,
       |  CAST(COALESCE(SUM(c_neg + c_pos) OVER (ORDER BY cents $dir
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
       |    AS BIGINT) AS p,
       |  CAST(SUM(c_neg + c_pos) OVER () AS BIGINT) AS n_tot,
       |  CAST(SUM(c_pos) OVER () AS BIGINT) AS p_tot
       |FROM g)""".stripMargin
  }

  private val calibrationTable = Op("calibration_table",
    s"""WITH pos AS ${scorePositionsSql(asc = true)},
       |b AS (
       |  SELECT (p - 1) * 10 // n_tot AS bucket,
       |    CAST(SUM(t) AS BIGINT) AS n, CAST(SUM(c_pos) AS BIGINT) AS n_pos,
       |    CAST(SUM(cents * t) AS BIGINT) AS sum_cents,
       |    max(n_tot) AS n_tot, max(p_tot) AS p_tot
       |  FROM pos GROUP BY 1)
       |SELECT bucket, n, n_pos,
       |  n_pos * 10000 // n AS rate_bp,
       |  sum_cents // n AS avg_cents,
       |  p_tot * 10000 // n_tot AS base_bp
       |FROM b ORDER BY bucket""".stripMargin) { (s, d) =>
    calibView(scoreGrid(t(s, d, "events")))
  }

  private val gainsTable = Op("gains_table",
    s"""WITH pos AS ${scorePositionsSql(asc = false)},
       |b AS (
       |  SELECT (p - 1) * 10 // n_tot + 1 AS decile,
       |    CAST(SUM(t) AS BIGINT) AS n, CAST(SUM(c_pos) AS BIGINT) AS n_pos,
       |    max(n_tot) AS n_tot, max(p_tot) AS p_tot
       |  FROM pos GROUP BY 1),
       |c AS (
       |  SELECT decile, n, n_pos, n_tot, p_tot,
       |    CAST(SUM(n_pos) OVER (ORDER BY decile
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_pos
       |  FROM b)
       |SELECT decile, n, n_pos, cum_pos,
       |  cum_pos * 10000 // p_tot AS gain_bp,
       |  (CAST(n_pos AS DOUBLE) * CAST(n_tot AS DOUBLE))
       |    / (CAST(n AS DOUBLE) * CAST(p_tot AS DOUBLE)) AS lift
       |FROM c WHERE p_tot > 0 ORDER BY decile""".stripMargin) { (s, d) =>
    gainsView(scoreGrid(t(s, d, "events")))
  }

  // --------------------------------------------------------------------
  // bootstrap_ci — a deterministic Poisson-style bootstrap confidence
  // interval for the per-type mean value: the uncertainty band a metric
  // dashboard needs next to every point estimate. Classic multinomial
  // bootstrap resampling needs RNG state shared across engines; at scale
  // the standard substitute (Chamandy et al., "Estimating Uncertainty
  // for Massive Data Streams") draws each row's per-replicate weight
  // independently — here from a SALTED HASH of the row key, so the
  // resample is a pure function of the data: reproducible across
  // engines, reruns, retries, and partition counts (the sample_hash
  // argument). ONE md5 per event supplies ALL replicates: md5's 32 hex
  // nibbles are the 32 per-replicate draws (replicate b reads nibble b),
  // so the hash cost does not scale with B. Weights take {0, 1, 2, 3}
  // with probabilities {6/16, 6/16, 2/16, 2/16} — mean 1, variance 1,
  // matching Poisson(1)'s first two moments, in exact sixteenths off a
  // 4-bit nibble. B = 32 replicates; the CI is the 2nd-smallest /
  // 2nd-largest replicate mean (the ~3–97% band 32 replicates can
  // support); replicate b = B is the IDENTITY replicate (w = 1), whose
  // mean is the point estimate — one pass computes both. All arithmetic
  // exact int64 (floor-div cent means); NULL event_id rows are excluded
  // (no identity → no reproducible resample; declared).
  //
  // Scale shape: ONE fact pass with a B+1-fold generator expansion
  // absorbed by map-side combine into the |types|×(B+1) grid — the
  // documented large-scale bootstrap design (weights are generated,
  // never materialized); order statistics run on the grid.
  // --------------------------------------------------------------------
  private val BootReps = 32

  /** The (type, replicate) weighted-sum grid — bootstrap_ci's only
    * fact-scale pass, shared with the streaming twin
    * ([[graft.streaming.Streams.boot]]): two algebraic sums per key,
    * keyed SUM fold. */
  private[graft] def bootGrid(events: DataFrame): DataFrame = {
    val cents = (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
    // replicate b's 4-bit draw = hex nibble b of the event's one md5
    val nib = conv(substring(col("hex"), col("b") + 1, lit(1)), 16, 10)
      .cast("long")
    events.filter(col("ts").isNotNull && col("value").isNotNull
        && col("event_type").isNotNull && col("event_id").isNotNull)
      .select(col("event_type"), cents.as("cents"),
        md5(concat(lit("boot:"), col("event_id").cast("string"))).as("hex"),
        explode(sequence(lit(0), lit(BootReps))).as("b"))
      .withColumn("w",
        when(col("b") === BootReps, lit(1L))
          .when(nib < 6, lit(0L)).when(nib < 12, lit(1L))
          .when(nib < 14, lit(2L)).otherwise(lit(3L)))
      .groupBy("event_type", "b")
      .agg(sum("w").as("sw"), sum(col("w") * col("cents")).as("swx"))
  }

  /** Point estimate + order-statistic CI over a completed grid
    * (grid-sized input: |types|×(B+1) rows). One window + one aggregate —
    * NOT a point-leg/CI-leg join: a join would plan TWO subtrees over the
    * grid's lineage and re-run the B+1-fold generator pass per leg (the
    * measured cost was 2×). The identity row rides the rank windows
    * UNRANKED (sorted last via the isRep key), so a single aggregate
    * reads both legs. */
  private[graft] def bootView(grid: DataFrame): DataFrame = {
    val means = grid.filter(col("sw") > 0)
      .withColumn("mean_cents", expr("swx div sw"))
    val byType = Window.partitionBy("event_type")
    val isRep = col("b") < BootReps
    val ranked = means
      .withColumn("ra", row_number().over(byType.orderBy(
        isRep.desc, col("mean_cents").asc, col("b").asc)))
      .withColumn("rd", row_number().over(byType.orderBy(
        isRep.desc, col("mean_cents").desc, col("b").desc)))
    ranked.groupBy("event_type")
      .agg(max(when(col("b") === BootReps, col("sw"))).as("n"),
        max(when(col("b") === BootReps, col("mean_cents"))).as("mean_cents"),
        count(when(isRep, 1)).as("n_reps"),
        max(when(isRep && col("ra") === 2, col("mean_cents"))).as("ci_lo_cents"),
        max(when(isRep && col("rd") === 2, col("mean_cents"))).as("ci_hi_cents"))
      // n_reps >= 2: with a single surviving replicate the rank legs
      // never reach 2 and the band would be silently NULL next to a
      // point estimate — a degenerate type has no CI, so it emits no row
      // (the se2>0 discipline of ab_ttest, applied to the order
      // statistics).
      .filter(col("n").isNotNull && col("n_reps") >= 2)
      .select(col("event_type"), col("n"), col("mean_cents"),
        col("n_reps"), col("ci_lo_cents"), col("ci_hi_cents"))
      .orderBy("event_type")
  }

  private val bootstrapCi = Op("bootstrap_ci", {
    val nib = "CAST('0x' || substr(hex, CAST(b AS INT) + 1, 1) AS BIGINT)"
    s"""WITH e AS (
       |  SELECT event_type,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
       |    md5(concat('boot:', CAST(event_id AS VARCHAR))) AS hex
       |  FROM events
       |  WHERE ts IS NOT NULL AND value IS NOT NULL
       |    AND event_type IS NOT NULL AND event_id IS NOT NULL),
       |wb AS (
       |  SELECT event_type, cents, b,
       |    CASE WHEN b = $BootReps THEN 1
       |         WHEN $nib < 6 THEN 0
       |         WHEN $nib < 12 THEN 1
       |         WHEN $nib < 14 THEN 2 ELSE 3 END AS w
       |  FROM e CROSS JOIN generate_series(0, $BootReps) AS s(b)),
       |grid AS (
       |  SELECT event_type, b, CAST(SUM(w) AS BIGINT) AS sw,
       |    CAST(SUM(w * cents) AS BIGINT) AS swx
       |  FROM wb GROUP BY 1, 2),
       |means AS (
       |  SELECT event_type, b, sw, swx // sw AS mean_cents
       |  FROM grid WHERE sw > 0),
       |ranked AS (
       |  SELECT event_type, b, sw, mean_cents,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY (b < $BootReps) DESC, mean_cents ASC, b ASC) AS ra,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY (b < $BootReps) DESC, mean_cents DESC, b DESC) AS rd
       |  FROM means)
       |SELECT event_type,
       |  max(CASE WHEN b = $BootReps THEN sw END) AS n,
       |  max(CASE WHEN b = $BootReps THEN mean_cents END) AS mean_cents,
       |  count(*) FILTER (WHERE b < $BootReps) AS n_reps,
       |  max(CASE WHEN b < $BootReps AND ra = 2 THEN mean_cents END) AS ci_lo_cents,
       |  max(CASE WHEN b < $BootReps AND rd = 2 THEN mean_cents END) AS ci_hi_cents
       |FROM ranked GROUP BY 1
       |HAVING max(CASE WHEN b = $BootReps THEN sw END) IS NOT NULL
       |   AND count(*) FILTER (WHERE b < $BootReps) >= 2
       |ORDER BY event_type""".stripMargin
  }) { (s, d) =>
    // exchange BEFORE the B+1-fold generator: the bench fixture's events
    // parquet is one small file → one scan task, so the whole 33× Generate
    // + partial aggregate ran on a single core (measured r13: 2.9 s of the
    // op's 3.5 s in that one task). The round-robin shuffles the NARROW
    // pre-expansion rows (guide §2.5 input-parallelism / §2.3 shuffle the
    // proxy, not the expansion); width follows spark.sql.shuffle.partitions
    // so a real deployment's scan splits govern instead. The streaming twin
    // (Streams.boot) keeps calling bootGrid directly — micro-batches arrive
    // already partitioned.
    bootView(bootGrid(exchange(t(s, d, "events"))))
  }

  // --------------------------------------------------------------------
  // ab_power — experiment sizing, the question asked BEFORE ab_ttest is
  // ever run: how many observations per arm does a two-sided 5% test
  // need for 80% power to detect a 5% relative lift of this metric?
  // n = 2σ²(z_α/2 + z_β)²/δ² with δ = 5% of the mean — the standard
  // two-sample normal-approximation formula; z constants (1.96, 0.8416)
  // are hardcoded literals on both engines (quantiles of N(0,1) — baking
  // them in avoids the incomplete-gamma special function, the ab_ttest
  // p-value argument). Per event type: n, mean, variance, the MDE in
  // cents, and the required per-arm n (ceil). Variance from exact
  // sufficient moments (n BIGINT, Σx cents BIGINT, Σx² DECIMAL(38,0) —
  // the ranksum widening rule); the statistic is a fixed scalar IEEE
  // tree, oracle decimals through the house VARCHAR route.
  //
  // Scale shape: ONE fact pass, map-side-combined to |types| rows;
  // everything downstream is scalar arithmetic on the grid.
  // --------------------------------------------------------------------

  /** Per-type sufficient moments — ab_power's only fact-scale pass,
    * shared with the streaming twin
    * ([[graft.streaming.Streams.power]]): keyed SUM fold. */
  private[graft] def powerGrid(events: DataFrame): DataFrame = {
    val dec = DecimalType(19, 0)
    val cents = (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
    events.filter(col("ts").isNotNull && col("value").isNotNull
        && col("event_type").isNotNull)
      .select(col("event_type"), cents.as("cents"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("sx"),
        sum(col("cents").cast(dec) * col("cents").cast(dec))
          .cast(DecimalType(38, 0)).as("sxx"))
  }

  /** Sizing formula over completed moments (grid-sized input). */
  private[graft] def powerView(grid: DataFrame): DataFrame = {
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double")
    val mean = sxD / nD
    val variance = (col("sxx").cast("double") - sxD * sxD / nD) / (nD - 1)
    val z2 = (lit(1.96) + lit(0.8416)) * (lit(1.96) + lit(0.8416))
    grid.filter(col("n") > 1)
      .withColumn("mean_cents", mean)
      .withColumn("var_cents2", variance)
      .filter(col("var_cents2") > 0 && col("mean_cents") =!= 0.0)
      .withColumn("mde_cents", lit(0.05) * col("mean_cents"))
      .withColumn("n_required",
        ceil(lit(2.0) * col("var_cents2") * z2
          / (col("mde_cents") * col("mde_cents"))).cast("long"))
      .select(col("event_type"), col("n"), col("mean_cents"),
        col("var_cents2"), col("mde_cents"), col("n_required"))
      .orderBy("event_type")
  }

  private val abPower = Op("ab_power", {
    def d(e: String) = s"CAST(CAST($e AS VARCHAR) AS DOUBLE)"
    s"""WITH g AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
       |      AS BIGINT) AS sx,
       |    CAST(SUM(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
       |               AS DECIMAL(19,0))
       |             * CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
       |               AS DECIMAL(19,0)))
       |      AS DECIMAL(38,0)) AS sxx
       |  FROM events
       |  WHERE ts IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL
       |  GROUP BY 1),
       |q AS (
       |  SELECT event_type, n,
       |    CAST(sx AS DOUBLE) / n AS mean_cents,
       |    (${d("sxx")} - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
       |      / (n - 1) AS var_cents2
       |  FROM g WHERE n > 1),
       |p AS (
       |  SELECT event_type, n, mean_cents, var_cents2,
       |    CAST(0.05 AS DOUBLE) * mean_cents AS mde_cents
       |  FROM q
       |  WHERE var_cents2 > CAST(0 AS DOUBLE)
       |    AND mean_cents <> CAST(0 AS DOUBLE))
       |SELECT event_type, n, mean_cents, var_cents2, mde_cents,
       |  CAST(ceil(CAST(2 AS DOUBLE) * var_cents2
       |      * ((CAST(1.96 AS DOUBLE) + CAST(0.8416 AS DOUBLE))
       |         * (CAST(1.96 AS DOUBLE) + CAST(0.8416 AS DOUBLE)))
       |      / (mde_cents * mde_cents)) AS BIGINT) AS n_required
       |FROM p ORDER BY event_type""".stripMargin
  }) { (s, d) =>
    powerView(powerGrid(t(s, d, "events")))
  }

  // --------------------------------------------------------------------
  // rolling_corr — Pearson correlation between the two arms' daily
  // volumes over the LAST 7 OBSERVED DAYS (a ROWS window over the day
  // grid, not a 7-calendar-day RANGE: with calendar gaps the window
  // spans the trailing 7 days that have data — declared contract; do
  // clicks and purchases move together? — the metric-coupling read
  // behind "is this dip demand or logging"). Shares
  // ab_srm's per-day count grid VERBATIM (srmGrid) — one fold serves the
  // SRM alarm and the correlation monitor (the rank-family
  // one-fold-many-views pattern; the streaming twin reads the same
  // Streams.srm state). r over the window's exact integer sums (squares /
  // cross-products in DECIMAL(38,0) — daily counts square past int64 at
  // scale), final statistic a fixed IEEE tree; windows shorter than 7
  // days and zero-variance windows emit NULL r (declared — and the
  // guard is a lazily-evaluated CASE, the ANSI divide-by-zero lesson).
  //
  // Scale shape: the fact pass is srmGrid's; every window here runs on
  // the DAY grid (|days| rows — unpartitioned but grid-sized, the
  // survival n_risk argument).
  // --------------------------------------------------------------------
  /** Correlation view over a completed day grid (grid-sized input). */
  private[graft] def corrView(grid: DataFrame): DataFrame = {
    val dec = DecimalType(19, 0)
    val w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    val d38 = DecimalType(38, 0)
    val g = grid
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum("n_a").over(w))
      .withColumn("sy", sum("n_b").over(w))
      .withColumn("sxx", sum(col("n_a").cast(dec) * col("n_a").cast(dec))
        .over(w).cast(d38))
      .withColumn("syy", sum(col("n_b").cast(dec) * col("n_b").cast(dec))
        .over(w).cast(d38))
      .withColumn("sxy", sum(col("n_a").cast(dec) * col("n_b").cast(dec))
        .over(w).cast(d38))
    val nD = col("n").cast("double")
    val num = nD * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val denx = nD * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val deny = nD * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    g.withColumn("r",
        when(col("n") === 7 && denx > 0 && deny > 0,
          num / sqrt(denx * deny)))
      .select(col("day"), col("n_a"), col("n_b"), col("r"))
      .orderBy("day")
  }

  private val rollingCorr = Op("rolling_corr", {
    def d(e: String) = s"CAST(CAST($e AS VARCHAR) AS DOUBLE)"
    s"""WITH grid AS (
       |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       |    count(*) FILTER (WHERE event_type = '$ArmA') AS n_a,
       |    count(*) FILTER (WHERE event_type = '$ArmB') AS n_b
       |  FROM events
       |  WHERE ts IS NOT NULL AND event_type IN ('$ArmA', '$ArmB')
       |  GROUP BY 1),
       |win AS (
       |  SELECT day, n_a, n_b,
       |    CAST(count(*) OVER w AS BIGINT) AS n,
       |    CAST(SUM(n_a) OVER w AS BIGINT) AS sx,
       |    CAST(SUM(n_b) OVER w AS BIGINT) AS sy,
       |    CAST(SUM(CAST(n_a AS DECIMAL(19,0)) * CAST(n_a AS DECIMAL(19,0)))
       |      OVER w AS DECIMAL(38,0)) AS sxx,
       |    CAST(SUM(CAST(n_b AS DECIMAL(19,0)) * CAST(n_b AS DECIMAL(19,0)))
       |      OVER w AS DECIMAL(38,0)) AS syy,
       |    CAST(SUM(CAST(n_a AS DECIMAL(19,0)) * CAST(n_b AS DECIMAL(19,0)))
       |      OVER w AS DECIMAL(38,0)) AS sxy
       |  FROM grid
       |  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
       |SELECT day, n_a, n_b,
       |  CASE WHEN n = 7
       |        AND CAST(n AS DOUBLE) * ${d("sxx")}
       |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
       |        AND CAST(n AS DOUBLE) * ${d("syy")}
       |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
       |       THEN (CAST(n AS DOUBLE) * ${d("sxy")}
       |             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |            / sqrt((CAST(n AS DOUBLE) * ${d("sxx")}
       |                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |                   * (CAST(n AS DOUBLE) * ${d("syy")}
       |                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       |  END AS r
       |FROM win ORDER BY day""".stripMargin
  }) { (s, d) =>
    corrView(srmGrid(t(s, d, "events")))
  }

  val ops: Seq[Op] = Seq(driftReport, abTtest, changepointCusum,
    evalAuc, abRanksum, abKsTest, survivalHazard, abSrm, abCuped,
    calibrationTable, gainsTable, bootstrapCi, abPower, rollingCorr,
    experimentDashboard, abSequential)
}
