package graft

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}

/** Plan-quality regression tests: the properties that make these operators
  * scale are visible in the physical plan, so pin them — a refactor that
  * silently breaks pushdown or broadcasts would pass value-equality tests
  * while regressing 100× at scale.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Plan traversal that descends into AQE's adaptive plan wrapper. */
  private object Aqe extends AdaptiveSparkPlanHelper

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("scan_projected prunes the parquet read schema to selected columns") {
    val plan = planOf("scan_projected")
    plan should include("ReadSchema")
    // the 12 unselected lineitem columns must not reach the scan
    plan should not include "l_comment"
    plan should not include "l_extendedprice"
  }

  test("filter_pred pushes every predicate into the scan") {
    val plan = planOf("filter_pred")
    // (the PushedFilters list is elided in toString — check the head)
    plan should include("PushedFilters: [IsNotNull(o_totalprice)")
    plan should include("In(o_orderstatus, [F,O])")
  }

  test("join_broadcast plans broadcast hash joins for bounded dims") {
    planOf("join_broadcast") should include("BroadcastHashJoin")
  }

  test("limit_topk plans TakeOrderedAndProject (per-partition heaps, no full sort)") {
    planOf("limit_topk") should include("TakeOrderedAndProject")
  }

  test("tpch_q6: every predicate reaches the scan; one partial+final aggregate") {
    val plan = planOf("tpch_q6")
    "lineitem.parquet".r.findAllIn(plan).size shouldBe 1
    plan should include("PushedFilters: [IsNotNull(l_shipdate)")
    "HashAggregate".r.findAllIn(plan).size shouldBe 2
    plan should not include "Join"
  }

  test("tpch_q14: the part dim broadcasts into the month-filtered lineitem scan") {
    val plan = planOf("tpch_q14")
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    plan should include("PushedFilters: [IsNotNull(l_shipdate)")
  }

  test("tpch_q13: orders aggregate BEFORE the outer join — the shuffle carries per-customer counts, not orders") {
    val plan = planOf("tpch_q13")
    plan should not include "CartesianProduct"
    // the count table joins customer; the second aggregate reads the
    // joined |customers| rows — 4 HashAggregates (2 partial+final pairs)
    "HashAggregate".r.findAllIn(plan).size shouldBe 4
    plan should not include "SinglePartition"
  }

  test("tpch_q18: one lineitem pass (never the spec's IN-subquery double scan), broadcast customer, top-100 heaps") {
    val plan = planOf("tpch_q18")
    "lineitem.parquet".r.findAllIn(plan).size shouldBe 1
    plan should include("BroadcastHashJoin")
    plan should include("TakeOrderedAndProject")
    plan should not include "CartesianProduct"
  }

  test("tpch_q4: the EXISTS runs as a LEFT SEMI join; both scans pruned and date-filtered") {
    val plan = planOf("tpch_q4")
    plan should include("LeftSemi")
    plan should not include "CartesianProduct"
    // the quarter filter reaches the orders scan; lineitem reads 2 columns
    plan should include("GreaterThanOrEqual(o_orderdate,1996-01-01")
    plan should include("ReadSchema: struct<l_orderkey:bigint,l_shipdate:timestamp_ntz>")
  }

  test("tpch_q7: both nation copies broadcast with the pair-set pushed into their scans") {
    val plan = planOf("tpch_q7")
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
    // the 2-nation filter reaches BOTH nation scans (arm pruning before the fact joins)
    "In\\(n_name, \\[NATION_3,NATION_7\\]\\)".r.findAllIn(plan).size shouldBe 2
    plan should include("GreaterThanOrEqual(l_shipdate,1996-01-01")
  }

  test("tpch_q8: part-type and region filters reach their scans; lineitem pruned to the 5 join/measure columns") {
    val plan = planOf("tpch_q8")
    plan should not include "CartesianProduct"
    plan should include("EqualTo(p_type,PROMO)")
    plan should include("EqualTo(r_name,ASIA)")
    plan should include(
      "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint,l_extendedprice:double,l_discount:double>")
  }

  test("tpch_q12: the ship-year band reaches the lineitem scan; one partial+final aggregate pair") {
    val plan = planOf("tpch_q12")
    plan should not include "CartesianProduct"
    plan should include("GreaterThanOrEqual(l_shipdate,1997-01-01")
    "HashAggregate".r.findAllIn(plan).size shouldBe 2
  }

  test("tpch_q15: equals-max over the revenue grid — two IDENTICAL quarter-filtered subplans (AQE stage reuse), no sort-merge join") {
    val plan = planOf("tpch_q15")
    // static text prints the grid lineage under both consumers (grid +
    // its 1-row max); the subplans are identical — AQE runs the scan once
    "lineitem.parquet".r.findAllIn(plan).size shouldBe 2
    "GreaterThanOrEqual\\(l_shipdate,1996-01-01".r.findAllIn(plan).size shouldBe 2
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
  }

  test("tpch_q17: the correlated-avg rewrite — per-part grid joined back, brand filter pushed, NO broadcast hint on the fact-derived grid") {
    val plan = planOf("tpch_q17")
    // two lineitem scans stay (inner grid + outer leg), but BOTH are now
    // brand-screened: the grid prefilters via a semi join because the
    // outer leg only ever probes brand partkeys and l_partkey is the
    // group key — every probed group bit-identical, grid shuffle shrinks
    // from the whole ledger to one brand's lines
    "lineitem.parquet".r.findAllIn(plan).size shouldBe 2
    plan should include("EqualTo(p_brand,Brand#3)")
    plan should include("LeftSemi")
    plan should not include "CartesianProduct"
  }

  test("tpch_q19: the disjunction's per-table implications reach BOTH scans") {
    val plan = planOf("tpch_q19")
    // Catalyst derives In/Or envelopes from the OR-of-conjuncts and
    // pushes them below the join — the whole point of the shape
    plan should include("Or(Or(And(EqualTo(p_brand,Brand#1)")
    plan should include("Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)")
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
  }

  test("tpch_q22: NOT EXISTS runs as LEFT ANTI; the segment set is pushed into the customer scan") {
    val plan = planOf("tpch_q22")
    plan should include("LeftAnti")
    plan should include("In(c_mktsegment, [AUTOMOBILE,BUILDING,MACHINERY])")
    plan should include("EqualTo(o_orderpriority,1-URGENT)")
    // the only nested-loop is the 1-row average broadcast
    "BroadcastNestedLoopJoin".r.findAllIn(plan).size should be <= 1
  }

  test("tpch_q2: correlated-min rewrite — per-part min joined back as an equi-join; dim filters pushed; top-100 heaps") {
    val plan = planOf("tpch_q2")
    // the eligible grid feeds both consumers (grid + its per-part min):
    // static text prints the lineage twice; AQE reuses the stage
    "lineitem.parquet".r.findAllIn(plan).size shouldBe 2
    plan should include("EqualTo(p_type,LARGE)")
    plan should include("LessThanOrEqual(p_size,15)")
    plan should include("EqualTo(r_name,EUROPE)")
    plan should include("TakeOrderedAndProject")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin" // the min joins back KEYED, not scalar
    // the dim screens are pushed BELOW the pair aggregate as semi joins
    // (group key ⊇ join keys ⇒ bit-identical min; shuffle shrinks by
    // the screens' selectivity) — losing this re-aggregates every pair
    plan should include("LeftSemi")
  }

  test("tpch_q9: the partsupp-surrogate join is the only fact-fact shuffle; the part LIKE screen reaches its scan") {
    val plan = planOf("tpch_q9")
    // outer leg + the ps grid = 2 lineitem scans (the spec's own partsupp cost)
    "lineitem.parquet".r.findAllIn(plan).size shouldBe 2
    plan should include("StringContains(p_name,widget)")
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
    // the part screen is pushed below the pair aggregate as a semi join
    // (group key contains l_partkey ⇒ surviving pairs' min unchanged)
    plan should include("LeftSemi")
  }

  test("tpch_q11: ONE declared 1-row threshold nested-loop; region filter pushed into both printed grid lineages") {
    val plan = planOf("tpch_q11")
    "BroadcastNestedLoopJoin".r.findAllIn(plan).size shouldBe 1
    "lineitem.parquet".r.findAllIn(plan).size shouldBe 2
    "EqualTo\\(r_name,EUROPE\\)".r.findAllIn(plan).size shouldBe 2
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
  }

  test("tpch_q16: NOT IN runs as LEFT ANTI; brand/type/size screens pushed into the part scan") {
    val plan = planOf("tpch_q16")
    plan should include("LeftAnti")
    // (the scan's PushedFilters list is elided in toString — the size set
    // shows in the Filter node; the brand screen survives the elision)
    plan should include("IN (1,4,9,16,25,36,49)")
    plan should include("Not(EqualTo(p_brand,Brand#5))")
    plan should not include "CartesianProduct"
    // both screens pushed BELOW the pair distinct (§7.4 discipline):
    // the part semi + supplier anti run before the distinct's exchange
    plan should include("LeftSemi")
  }

  test("tpch_q20: the nested-IN tower runs as a LEFT SEMI from the supplier dim; prefix LIKE and year band pushed") {
    val plan = planOf("tpch_q20")
    plan should include("LeftSemi")
    plan should include("StringStartsWith(p_name,red)")
    plan should include("GreaterThanOrEqual(l_shipdate,1997-01-01")
    plan should not include "CartesianProduct"
  }

  test("tpch_q21: EXISTS→semi AND NOT-EXISTS→anti self-joins; status filter pushed; top-100 heaps") {
    val plan = planOf("tpch_q21")
    plan should include("LeftSemi")
    plan should include("LeftAnti")
    plan should include("EqualTo(o_orderstatus,F)")
    plan should include("TakeOrderedAndProject")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("agg_group plans partial+final hash aggregation") {
    val plan = planOf("agg_group")
    "HashAggregate".r.findAllIn(plan).size should be >= 2
  }

  // (the former per-family dedup cartesian check is subsumed by the
  // inventory-wide exact-match sweep below, which covers every op)

  test("quantile_bin discretizes with broadcast thresholds, never a per-group sort window") {
    val plan = planOf("quantile_bin")
    plan should include("BroadcastHashJoin")
    plan should not include "Window" // the win_ntile formulation this op exists to avoid
  }

  test("knn_join_bucketed broadcasts the probe set (map-side candidate join)") {
    planOf("knn_join_bucketed") should include("BroadcastHashJoin")
  }

  test("exact-percentile ops buffer each group ONCE (array-percentile consolidation)") {
    // r6 judge finding: quantile_bin's three separate exact percentiles
    // tripled the ObjectHashAggregate buffering and made it the slowest
    // inventory op. All points now come from one percentile(x, array(...))
    // call — exactly one percentile function per aggregate phase (partial +
    // final = 2 mentions; the pre-fix plans carried 6).
    Seq("quantile_bin", "agg_percentile").foreach { name =>
      withClue(name) {
        "percentile\\(".r.findAllIn(planOf(name)).size should be <= 2
      }
    }
  }

  test("per-key window ops reuse one coalesce-exempt exchange (r14)") {
    // win_ntile / win_cume / rank_normalize partition their windows by a
    // 3-5-value key; the explicit-width hash exchange keeps the per-key
    // sorts parallel (AQE coalesced the ENSURE_REQUIREMENTS form to one
    // task) and the window must REUSE it — a second hash exchange means
    // the repartition stopped satisfying the window's clustering.
    Seq("win_ntile", "win_cume", "rank_normalize").foreach { name =>
      withClue(name) {
        val plan = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan
        val hashed = Aqe.collect(plan) {
          case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
        }
        hashed.map(_.shuffleOrigin) shouldBe Seq(REPARTITION_BY_NUM)
      }
    }
  }

  test("bounded-output presentation sorts are single-partition, not range (r14)") {
    // the range sort's boundary sampling re-executes the child — for
    // these ops that child is the expensive final aggregate merge, and
    // the output is key-domain-bounded (3 rows), so a single-partition
    // sort is the right plan at any scale
    Seq("agg_percentile", "agg_percentile_approx", "agg_stats").foreach { name =>
      withClue(name) {
        val plan = planOf(name)
        plan should include("Exchange SinglePartition")
        plan should not include "rangepartitioning"
      }
    }
  }

  test("subquery_exists decorrelates to semi+anti hash joins (no per-row subquery, no nested loop)") {
    val plan = planOf("subquery_exists")
    plan should include("LeftSemi")
    plan should include("LeftAnti")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("subquery_in_null plans a null-aware anti join against the broadcast dim") {
    val plan = planOf("subquery_in_null")
    plan should include("LeftAnti")
    plan should not include "CartesianProduct"
  }

  test("join_lateral decorrelates the per-row LIMIT into a group-limit window + one equi-join") {
    val plan = planOf("join_lateral")
    // the per-outer-row subquery must become a rank window with pushed
    // group limits and a hash join on the correlation key — never a
    // nested-loop re-execution per outer row
    plan should include("WindowGroupLimit")
    plan should include("HashJoin")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("agg_bitmap_distinct combines bitmap partials map-side before the exchange") {
    val plan = planOf("agg_bitmap_distinct")
    // partial bitmap_construct_agg must appear below its exchange (the
    // fixed-size-partial property the op exists for) and no Expand-based
    // distinct rewrite may sneak back in
    plan should include("partial_bitmap_construct_agg")
    plan should not include "Expand"
  }

  test("event_attribution is one window pass — no join anywhere in the plan") {
    val plan = planOf("event_attribution")
    plan should include("Window")
    plan should not include "Join"
  }

  test("trend_detect tops out in TakeOrderedAndProject (no global sort for top-20)") {
    planOf("trend_detect") should include("TakeOrderedAndProject")
  }

  test("sessionize: both windows share one user-keyed sort (no second exchange before the final order)") {
    val plan = planOf("sessionize")
    // one hash exchange for the user windows + the final presentation sort's
    // range exchange — a third would mean the windows stopped sharing
    "Exchange".r.findAllIn(plan).size should be <= 2
    plan should not include "Join"
  }

  test("join_scd2_lookup broadcasts the bounded versioned dim") {
    val plan = planOf("join_scd2_lookup")
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
  }

  test("limit_keyset pushes the range predicate and avoids the global sort+skip") {
    val plan = planOf("limit_keyset")
    plan should include("TakeOrderedAndProject")
    // the keyset predicate must reach the parquet scan as an Or filter —
    // the whole point vs limit_offset's sort-then-skip
    plan should include("PushedFilters: [Or(")
  }

  test("operators keep UDFs off the hot path (vec_dot excepted by design)") {
    // the only ScalaUDF-bearing plan allowed is none: dedup_embed's
    // prefilter uses the codegen'd VecDot expression, not a UDF
    Seq("dedup_embed", "sim_search", "agg_group", "join_asof",
        "embed_normalize", "vec_quantize", "chunk_split").foreach { name =>
      withClue(name) { planOf(name) should not include "ScalaUDF" }
    }
  }

  test("tpch_q5 broadcasts the bounded dims and aggregates partial+final") {
    val plan = planOf("tpch_q5")
    plan should include("BroadcastHashJoin")
    "HashAggregate".r.findAllIn(plan).size should be >= 2
  }

  test("tpch_q3 tops out in TakeOrderedAndProject (no global sort for top-10)") {
    planOf("tpch_q3") should include("TakeOrderedAndProject")
  }

  test("sample_stratified is a pure scan-stage filter (only the final sort exchanges)") {
    val plan = planOf("sample_stratified")
    "Exchange".r.findAllIn(plan).size shouldBe 1
  }

  test("join_skew_salted actually joins on the salt key") {
    planOf("join_skew_salted") should include("__salt")
  }

  test("sink_stream_upsert: per-batch winners are group-limited and key-joined (state ∝ active keys)") {
    val plan = planOf("sink_stream_upsert")
    // each micro-batch collapses to per-key winners via rn=1, which must
    // plan as WindowGroupLimit (per-partition top-1 pruning BEFORE the
    // full window sort) — the collapse is what keeps each merge's join
    // side bounded by the batch's key set, not its row count
    plan should include("WindowGroupLimit")
    // the merge itself is anti-join + union on the key — hash joins only,
    // never a nested loop (which would make the fold quadratic)
    plan should include("LeftAnti")
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("cdc_apply collapses the log to per-key winners BEFORE the merge join") {
    val plan = planOf("cdc_apply")
    // the row_number window (log collapse) must sit under the join: a plan
    // that joins the raw log first would scale with log volume, not the
    // active key set
    val winIdx = plan.indexOf("RunningWindowFunction") max plan.indexOf("Window")
    val joinIdx = plan.indexOf("SortMergeJoin") max plan.indexOf("ShuffledHashJoin") max
      plan.indexOf("BroadcastHashJoin")
    winIdx should be > 0
    joinIdx should be > 0
    // plan strings print parents above children: the window must print
    // BELOW the join (greater index) = it is the join's input, not a
    // post-join pass
    winIdx should be > joinIdx
    plan should include("FullOuter")
  }

  test("interleave_sources and corpus_shuffle are scan-stage explodes — only the final sort exchanges") {
    // the mixture/permutation must stay narrow: weight lookup + explode in
    // the scan, ONE range-partition exchange for the deterministic output
    // order, nothing keyed
    Seq("interleave_sources", "corpus_shuffle").foreach { op =>
      withClue(s"$op: ") {
        val plan = planOf(op)
        "Exchange".r.findAllIn(plan).size shouldBe 1
        plan should include("rangepartitioning")
        plan should include("Generate explode")
      }
    }
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // the non-partitioned sibling of DPP at 100 TB: when a shuffle join's
    // dim side carries a selective filter, Spark builds a bloom filter
    // from the dim keys at runtime and probes it inside the fact scan
    // stage, dropping non-joining rows BEFORE they shuffle. Thresholds
    // are sized for real clusters (app side ≥ 10 GB), so the test only
    // lowers the size gates — the rewrite itself is stock.
    import org.apache.spark.sql.functions.col
    val alt = spark.newSession()
    alt.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a shuffle join
    alt.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    alt.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    val fact = graft.Tables(alt, dir, "lineitem").select("l_orderkey", "l_quantity")
    val dim = graft.Tables(alt, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    val joined = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    plan should include("might_contain") // bloom probe reached the fact side
  }

  test("dynamic partition pruning fires on a partitioned fact × filtered dim join") {
    // the 100 TB pattern: fact partitioned on the join dimension, dim
    // carries the selective filter — DPP turns the dim filter into a
    // runtime partition filter on the fact scan, skipping whole
    // directories before any I/O
    val scratch = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    try {
      val fact = SparkEntry.queries("scan_parquet")(spark, dir)
        .select("l_orderkey", "l_quantity", "l_returnflag")
      fact.write.partitionBy("l_returnflag").mode("overwrite").parquet(scratch)
      // the dim must be a FILE-backed relation: a local collection folds
      // its filter at plan time, leaving DPP no selective predicate
      spark.createDataFrame(Seq(("A", "returned"), ("N", "kept"),
          ("R", "refused"))).toDF("flag", "label")
        .write.mode("overwrite").parquet(s"$scratch-dim")
      import org.apache.spark.sql.functions.{broadcast, col => c}
      val dim = spark.read.parquet(s"$scratch-dim")
      val joined = spark.read.parquet(scratch)
        .join(broadcast(dim.filter(c("label") === "kept")),
          c("l_returnflag") === c("flag"))
      val plan = joined.queryExecution.executedPlan.toString
      plan.toLowerCase should include("dynamicpruning")
    } finally {
      import scala.jdk.CollectionConverters._
      Seq(scratch, s"$scratch-dim")
        .map(java.nio.file.Paths.get(_)).filter(java.nio.file.Files.exists(_))
        .foreach { p =>
          java.nio.file.Files.walk(p).iterator().asScala
            .toSeq.sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
        }
    }
  }

  test("decontaminate broadcasts the benchmark shingle set (map-side probe, no cartesian)") {
    val plan = planOf("decontaminate")
    // the eval set is small by construction — the 100 TB training scan
    // must probe it map-side, not shuffle itself against it
    "BroadcastHashJoin .*LeftSemi".r.findFirstIn(plan) should not be empty
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "SortMergeJoin"
  }

  test("profile_stats computes all columns' distincts in one scan (Expand, not one pass per column)") {
    val plan = planOf("profile_stats")
    plan should include("Expand")
    "Scan parquet".r.findAllIn(plan).size shouldBe 1
  }

  test("repetition_filter is scan-stage narrow work (no shuffle before the final sort)") {
    val plan = planOf("repetition_filter")
    // one exchange only: the deterministic ORDER BY's range partitioning
    "Exchange".r.findAllIn(plan).size shouldBe 1
  }

  test("outlier_filter broadcasts the per-group thresholds back over the scan") {
    val plan = planOf("outlier_filter")
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("inventory sweep: no undeclared cartesian or nested-loop join in ANY op's plan") {
    // Every op so far pinned its plan individually; this sweeps all 140 so a
    // FUTURE op (or a regression in an existing one) can't ship a quadratic
    // join that still passes value-correctness at sf0.01. EXACT set match,
    // both directions: a new undeclared cartesian fails, and a declared op
    // whose plan improves must be removed from this list. Every entry is a
    // bounded-by-construction cross:
    val declared = Map(
      "join_cross" -> "declared cross: region × nation (25 × 5 rows, both bounded dims)",
      "join_theta" -> "declared non-equi theta join — the op exists to prove the shape",
      "sim_search" -> "1-row query-vector broadcast against the corpus scan",
      "sim_search_bucketed" -> "1-row query-vector broadcast (bucket multiprobe)",
      "sim_search_ivf" -> "1-row query + 8-row centroid-table broadcasts",
      "search_rrf" -> "1-row query-vector broadcast (vector-shortlist leg)",
      "anomaly_mad" -> "1-row median/MAD scalar broadcast back over the scan",
      "curriculum_order" -> "1-row quartile-threshold scalar broadcast back over the scored scan (the anomaly_mad pattern)",
      "event_rfm" -> "1-row anchor + 1-row quintile-threshold scalar broadcasts back over the user grid (the anomaly_mad pattern)",
      "survival_hazard" -> "1-row anchor-day scalar broadcast back over the user lifetime grid (the event_rfm anchor pattern)",
      "assoc_rules" -> "1-row basket-count scalar broadcast over the <=|types|^2 rule grid (the anomaly_mad pattern)",
      "knn_classify" -> "5-row probe-seed broadcast against the corpus scan (classifier seeds are bounded by construction)",
      "tf_idf" -> "1-row corpus-size scalar broadcast over the tf/df join",
      "skew_report" -> "1-row corpus-total scalar broadcast over the 25-row top-k",
      "sample_balance" -> "1-row min-class-count cap broadcast over the ranked classes",
      "rare_collapse" -> "1-row corpus-total scalar broadcast over the category grid",
      "ann_recall" -> "20-row probe-set + 8-row centroid broadcasts against the corpus scan (the audit's probe sample is bounded by construction)",
      "ann_recall_bucketed" -> "20-row probe-set broadcast against the corpus scan (the sketch-gated audit's probe sample is bounded by construction)",
      "rrf_eval" -> "1-row query-vector broadcast (the search_rrf legs it audits, plus the full-rank exact leg)",
      "fuzzy_eval" -> "200x200 sample-pair grid, both sides LIMIT-bounded by construction (the blocking-recall audit's exact leg)",
      "ab_srm" -> "1-row global-mix scalar broadcast back over the day grid (the anomaly_mad pattern)",
      "experiment_dashboard" -> "ab_srm's 1-row global-mix scalar broadcast, carried verbatim by the dashboard's SRM leg",
      "ab_cuped" -> "1-row pooled-moments scalar broadcast over the 2-row arm grid (the anomaly_mad pattern)",
      "vocab_growth" -> "2-cell doc-id-anchor scalar broadcast back over the doc scan and shingle stage (the anomaly_mad pattern)",
      "churn_rate" -> "1-row last-week anchor broadcast over the weekly grid (right-censoring exclusion; the anomaly_mad pattern)",
      "curation_cost_curve" -> "1-row corpus-totals broadcast over the 5-row stage scaffold (the anomaly_mad pattern)",
      "dedup_profile" -> "1-row corpus-total broadcast over the cluster-size histogram (the anomaly_mad pattern)",
      "tpch_q22" -> "1-row positive-balance-average scalar broadcast back over the segment-filtered customers (the spec's scalar subquery; the anomaly_mad pattern)",
      "tpch_q11" -> "1-row (total, count) threshold broadcast back over the per-part value grid (the spec's fraction-of-aggregate scalar subquery; the anomaly_mad pattern — inequality filter, so Catalyst cannot rewrite it to an equi-join the way it does tpch_q15's equals-max)")
    val quadratic = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val plan = planOf(name)
      val hit = Seq("CartesianProduct", "BroadcastNestedLoopJoin").filter(plan.contains)
      if (hit.nonEmpty) Some(name -> hit) else None
    }
    withClue(s"quadratic-join ops: $quadratic") {
      quadratic.map(_._1).toSet shouldBe declared.keySet
    }
  }

  test("fn_try: flat projected scan + total sort only (no join, no window, no aggregate)") {
    // fn_try's bench time is contract cost (a per-row caught exception on
    // the always-failing try_cast + a 150 k-row total ORDER BY); this pin
    // ensures a future regression can't hide behind that explanation —
    // the plan must stay scan → project → sort, nothing else
    val plan = planOf("fn_try")
    plan should include("Sort")
    Seq("Join", "Window", "HashAggregate", "Expand").foreach { bad =>
      withClue(s"unexpected $bad: ") { plan should not include bad }
    }
    // only the projected columns reach the scan
    plan should not include "o_comment"
    plan should not include "o_custkey"
  }

  test("graph_triangles: triangle joins read the checkpointed edge list, not the fact pipeline") {
    // the three renamed-projection join legs defeat ReuseExchange, so
    // without the localCheckpoint the fact-scale pair aggregate would
    // appear (and run) three times — the final plan must contain NO file
    // scan at all: every leg reads the materialized edge RDD
    val plan = planOf("graph_triangles")
    plan should include("ExistingRDD")
    plan should not include "FileScan"
    plan should not include "parquet"
  }

  test("skew_report: top-25 is a per-partition heap, not a global sort of all keys") {
    val plan = planOf("skew_report")
    plan should include("TakeOrderedAndProject")
  }

  test("feature_scale: per-group bounds broadcast back over the scan (no wide shuffle, no window)") {
    val plan = planOf("feature_scale")
    plan should include("BroadcastHashJoin")
    // the fact side must not be range/hash-exchanged into group partitions
    // for the scaling itself (the only sort is the final ORDER BY)
    plan should not include "SortMergeJoin"
  }

  test("agg_linear_fit: dims broadcast; only the three needed orders columns reach the scan") {
    val plan = planOf("agg_linear_fit")
    plan should include("BroadcastHashJoin")
    plan should not include "o_orderstatus" // unused columns pruned
    plan should not include "o_orderpriority"
  }

  test("scan_federated: all three format legs appear and union is plan-level (no shuffle before the final sort)") {
    val plan = planOf("scan_federated")
    plan should include("Union")
    // one exchange only: the final ORDER BY's range partitioning — anchor
    // on the specific node, not the bare "Exchange" substring (which also
    // matches BroadcastExchange/ReusedExchange and breaks on renames)
    "Exchange rangepartitioning".r.findAllIn(plan).size shouldBe 1
    plan should not include "Exchange hashpartitioning" // no shuffle before the sort
  }

  test("sink_bucketed: bucket layout replaces the aggregation shuffle") {
    val plan = SparkEntry.queries("sink_bucketed")(spark, dir)
      .queryExecution.executedPlan.toString
    plan should include("Bucketed: true")
    // the only exchange is the final ORDER BY's range partitioning — the
    // aggregate's hash distribution comes from the bucket layout
    "Exchange".r.findAllIn(plan).size shouldBe 1
  }

  test("join_bucket_colocated: both sides bucketed; join AND aggregate run shuffle-free") {
    // broadcast disabled so the shuffle-free path is the bucketed
    // SortMergeJoin itself, not a small-dim broadcast accident
    val alt = spark.newSession()
    alt.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan = SparkEntry.queries("join_bucket_colocated")(alt, dir)
      .queryExecution.executedPlan.toString
    "Bucketed: true".r.findAllIn(plan).size shouldBe 2
    plan should include("SortMergeJoin")
    // the only exchange in the whole plan is the presentation sort
    "Exchange rangepartitioning".r.findAllIn(plan).size shouldBe 1
    plan should not include "Exchange hashpartitioning"
  }

  test("decontaminate_fuzzy broadcasts the benchmark bands and shingle sets") {
    val plan = planOf("decontaminate_fuzzy")
    // band probe + verification join-back both probe broadcast eval-side
    // state — the training corpus itself never shuffles against it
    "BroadcastHashJoin".r.findAllIn(plan).size should be >= 2
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("stream_topk pushes the rank filter into the window (WindowGroupLimit)") {
    // each shuffle partition keeps only its local top-k per window before
    // the exchange — without this the window materializes every
    // (window × type) count on one partition chain
    planOf("stream_topk") should include("WindowGroupLimit")
  }

  test("sample_hash plans TakeOrderedAndProject (per-partition heaps, no global sort)") {
    planOf("sample_hash") should include("TakeOrderedAndProject")
  }

  test("join_dpp: runtime partition pruning reaches the fact scan") {
    val plan = planOf("join_dpp")
    // the dim-side predicate prunes fact PARTITION DIRECTORIES at runtime
    plan should include("dynamicpruningexpression")
    // and the pruning is on the partition column, not a post-scan filter
    plan should include("PartitionFilters")
    plan should include("BroadcastHashJoin")
  }

  test("time_ohlc is one partial+final aggregate — no window function, no per-event shuffle") {
    val plan = planOf("time_ohlc")
    // struct extremes plan SortAggregate (not hash-bufferable) but still
    // combine map-side: the one hash exchange carries group partials
    plan should include("partial_min(struct(ts")
    plan should not include "Window"
    "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 1
  }

  test("win_pareto: running share and partition total reuse ONE exchange on the nation key") {
    val plan = planOf("win_pareto")
    // both window frames (running share + partition total) sit back to
    // back over ONE hashpartitioning(n_name) exchange; the only other
    // hash exchange is the aggregate's partial→final on (n_name,
    // c_custkey) — and no single-partition (global) window anywhere
    "Window".r.findAllIn(plan).size shouldBe 2
    "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 2
    plan should not include "SinglePartition"
  }

  test("watermark_audit: the replay window is keyed on user_id, never a global arrival order") {
    val plan = planOf("watermark_audit")
    plan should include("Window")
    plan should include("Exchange hashpartitioning(user_id")
    plan should not include "SinglePartition"
  }

  test("sample_balance: the data-driven cap arrives as a 1-row broadcast, not a shuffle") {
    val plan = planOf("sample_balance")
    // the 1-row min-class-count cap joins as a broadcast nested loop (a
    // declared entry in the inventory sweep); the only hash exchange is
    // the per-class window rank
    plan should include("BroadcastNestedLoopJoin")
    "Exchange hashpartitioning".r.findAllIn(plan).size should be <= 2
  }

  test("interval_merge: both windows and the island aggregate ride ONE user-keyed exchange") {
    val plan = planOf("interval_merge")
    "Window".r.findAllIn(plan).size shouldBe 2
    // running-max-end + island-sum windows share the (user, start) sort,
    // and the per-island aggregate keeps the user partitioning — the
    // only other exchange is the presentation sort's range partitioning
    "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 1
    plan should not include "SinglePartition"
  }

  test("win_ema: all 8 lag frames collapse into ONE window over one sort") {
    val plan = planOf("win_ema")
    "Window".r.findAllIn(plan).size shouldBe 1
    "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 1
    plan should not include "SinglePartition"
  }

  test("agg_weighted_median: fact-scale work is hash-aggregated; ordered windows see only bucket rows") {
    val plan = planOf("agg_weighted_median")
    // the fact table meets ONLY the (flag, bucket) partial+final hash
    // aggregate and the broadcast median-bucket filter — the three
    // windows (bucket cum, bucket total, in-bucket selection) run over
    // the bucket table / one bucket's rows, never the whole fact
    "HashAggregate".r.findAllIn(plan).size should be >= 4
    "Window".r.findAllIn(plan).size shouldBe 3
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("rate_alert: baseline window runs over the AGGREGATED hourly rows, keyed on user") {
    val plan = planOf("rate_alert")
    "Window".r.findAllIn(plan).size shouldBe 1
    // (user, hour) partial+final agg exchange + the user re-key for the
    // 24h range frame — never a window over raw events
    "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 2
    plan should not include "SinglePartition"
  }

  test("join_asof_nearest: both direction frames share the union-tag exchange and sort") {
    val plan = planOf("join_asof_nearest")
    plan should include("Union")
    // orders-dedup window + the three candidate-carry windows; only TWO
    // hash exchanges in the whole plan (dedup key + union-tag key) — the
    // backward and forward frames never pay a second shuffle or sort
    "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 2
    "Sort \\[".r.findAllIn(plan).size should be <= 4
    plan should not include "SortMergeJoin"
  }

  test("rolling_active_users: the per-day table broadcasts; cover explosion is scan-stage") {
    val plan = planOf("rolling_active_users")
    plan should include("Generate") // explode(sequence(0,6)) — no range self-join
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("oov_rate: the top-K vocab is a per-partition heap broadcast over the token stream") {
    val plan = planOf("oov_rate")
    plan should include("TakeOrderedAndProject") // vocab top-K, no global sort
    plan should include("BroadcastHashJoin") // vocab probes map-side
    plan should not include "SortMergeJoin" // the token stream never shuffles for the join
  }

  test("skyline_pareto: fact-scale work is aggregates + a broadcast of the front") {
    val plan = planOf("skyline_pareto")
    // two fact-scale hash aggs (customer profile partial+final, per-f max)
    "HashAggregate".r.findAllIn(plan).size should be >= 4
    plan should include("BroadcastHashJoin") // front points broadcast back
    plan should not include "SortMergeJoin"
    // the single-partition running-max window exists but ONLY over the
    // value-bounded per-f table — asserted bounded by CurateSpec's
    // brute-force equality; here we pin there is exactly one Window
    "Window".r.findAllIn(plan).size shouldBe 1
  }

  test("join_interval_overlap: candidates form via an equi-join on (user, bucket), never a theta join") {
    val plan = planOf("join_interval_overlap")
    // the overlap predicate rides as a RESIDUAL on a hash-able equi-join;
    // a naive formulation would plan BroadcastNestedLoopJoin here
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
    plan should include("Generate") // the <=2-bucket cover explode
    (plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin")) shouldBe true
  }

  test("time_weighted_avg: lead window and per-user aggregate share ONE user-keyed exchange") {
    val plan = planOf("time_weighted_avg")
    "Window".r.findAllIn(plan).size shouldBe 1
    // the groupBy(user) after the window reuses the window's partitioning
    "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 1
    plan should not include "SinglePartition"
  }

  test("cohort_ltv: one cumulative window over the bounded cohort matrix; all joins hash") {
    val plan = planOf("cohort_ltv")
    "Window".r.findAllIn(plan).size shouldBe 1
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("activity_profile: fact-scale work is the partial+final agg; the window sees <=168 rows") {
    val plan = planOf("activity_profile")
    "HashAggregate".r.findAllIn(plan).size shouldBe 2
    "Window".r.findAllIn(plan).size shouldBe 1
  }

  test("sql_passthrough: user SQL plans partial+final aggregation like the DataFrame path") {
    val plan = planOf("sql_passthrough")
    // the SQL front door must lose nothing: map-side combine on both
    // aggregate levels, equi-join (no nested loop)
    "HashAggregate".r.findAllIn(plan).size should be >= 4
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("join_bloom_prefilter: might_contain prunes the fact side BELOW its exchange of a sort-merge join") {
    val plan = planOf("join_bloom_prefilter")
    plan should include("might_contain")
    plan should include("SortMergeJoin")
    // the filter must run scan-side (before the shuffle), not post-join:
    // in the plan string the might_contain condition appears above the
    // fact scan and below the first Exchange — assert the ordering by
    // checking might_contain precedes the join operator mention
    plan.indexOf("might_contain") should be > plan.indexOf("SortMergeJoin")
    // (executed plans print top-down: the join line comes first, the
    // scan-side filter later/deeper — might_contain deeper than the join)
  }

  test("graph_pagerank: the final frame reads the checkpointed last iteration, never the fact lineage") {
    val plan = planOf("graph_pagerank")
    // all 8 iterations and the fact-scale graph build ran eagerly behind
    // localCheckpoint barriers; the result plan is sort+project over the
    // checkpoint RDD — a re-execution of lineitem here would mean the
    // iteration lineage leaked into the consumer plan
    plan should include("ExistingRDD")
    plan should not include "lineitem"
  }

  test("drift_report: ONE fact pass into the bounded (type,bin) grid; everything downstream is grid-sized") {
    val plan = planOf("drift_report")
    "events.parquet".r.findAllIn(plan).size shouldBe 1
    // partial+final on the fact aggregate, partial+final on the grid
    // aggregate; the window runs between them on ~100 rows
    "HashAggregate".r.findAllIn(plan).size should be >= 4
    "Window".r.findAllIn(plan).size shouldBe 1
    plan should include("PushedFilters: [IsNotNull(ts), IsNotNull(value)]")
  }

  test("heavy_hitters: the 4096-cell sketch broadcasts into the probe join") {
    val plan = planOf("heavy_hitters")
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
    // the cell build must combine map-side (partial+final)
    "HashAggregate".r.findAllIn(plan).size should be >= 4
  }

  test("conversion_latency: keyed carry window + keyed day windows, no single-partition sort") {
    val plan = planOf("conversion_latency")
    plan should not include "SinglePartition"
    plan should not include "CartesianProduct"
    // one per-user carry window, one per-day rank/count window pass
    "Window".r.findAllIn(plan).size should be >= 2
  }

  test("dataset_card: the median leg plans TakeOrderedAndProject, never a global sort") {
    val plan = planOf("dataset_card")
    plan should include("TakeOrderedAndProject")
    plan should not include "Sort [n_chars" // the global-sort form this pin exists to forbid
  }

  test("anomaly_seasonal: one map-combined fact agg; the cell window runs on the calendar-bounded hour table") {
    val plan = planOf("anomaly_seasonal")
    "events.parquet".r.findAllIn(plan).size shouldBe 1
    "HashAggregate".r.findAllIn(plan).size shouldBe 2 // partial+final fact agg
    "Window".r.findAllIn(plan).size shouldBe 1
    plan should not include "SinglePartition"
  }

  test("ab_ttest: one fact pass, arm predicate pushed to the scan, moments combine map-side") {
    val plan = planOf("ab_ttest")
    "events.parquet".r.findAllIn(plan).size shouldBe 1
    plan should include("In(event_type, [click,purchase])")
    "HashAggregate".r.findAllIn(plan).size should be >= 2
    plan should not include "Window" // sufficient-moments form needs no window
  }

  test("bpe_pair_counts: exchange moves doc text (not the pair stream); top-100 is a heap") {
    val plan = planOf("bpe_pair_counts")
    plan should include("TakeOrderedAndProject")
    // the round-robin exchange must sit BELOW the Generate: shuffling the
    // exploded pairs would move ~token-count rows instead of scan-sized docs
    val gen = plan.indexOf("Generate")
    val rr = plan.indexOf("RoundRobinPartitioning")
    gen should be >= 0
    rr should be >= 0
    rr should be > gen // toString prints top-down: the exchange is deeper
    "HashAggregate".r.findAllIn(plan).size should be >= 2 // partial+final
  }

  test("changepoint_cusum: one fact pass to the daily grid; the argmax plans WindowGroupLimit") {
    val plan = planOf("changepoint_cusum")
    "events.parquet".r.findAllIn(plan).size shouldBe 1
    "HashAggregate".r.findAllIn(plan).size shouldBe 2 // partial+final fact agg
    // rk=1 must plan as a per-group top-1 heap, not a full sort + filter
    plan should include("WindowGroupLimit")
    plan should include("PushedFilters: [IsNotNull(ts), IsNotNull(value)]")
    plan should not include "SinglePartition"
  }

  test("rank_normalize: value filter pushed to the scan; no cartesian, no driver funnel") {
    val plan = planOf("rank_normalize")
    plan should include("PushedFilters: [IsNotNull(value)]")
    plan should not include "CartesianProduct"
    "Window".r.findAllIn(plan).size should be >= 1
  }

  test("dataset_kfold: one scan, map-side-combined two-level distinct aggregate") {
    val plan = planOf("dataset_kfold")
    "documents.parquet".r.findAllIn(plan).size shouldBe 1
    "HashAggregate".r.findAllIn(plan).size should be >= 4
    plan should not include "Window"
  }

  test("rare_collapse: the 1-row total broadcasts; the recode runs on the category grid") {
    val plan = planOf("rare_collapse")
    plan should include("BroadcastNestedLoopJoin") // bounded 1-row side
    plan should not include "CartesianProduct"
  }

  test("ann_recall: probe/centroid sides broadcast; per-qid top-k plans WindowGroupLimit heaps") {
    val plan = planOf("ann_recall")
    plan should not include "CartesianProduct"
    // (SinglePartition exchanges DO appear — they are the ≤20-row global
    // hash-top-k probe/centroid selections, bounded by construction like
    // sim_search_ivf's; the fact-scale windows below are all qid/vec_id
    // partitioned)
    // rank()<=k on the qid/vec_id windows must plan per-partition heaps,
    // not full sorts of the 20×n prefilter grid
    plan should include("WindowGroupLimit")
    "BroadcastNestedLoopJoin".r.findAllIn(plan).size should be >= 2 // qs + cen
    // the audit tail references the IVF leg ONCE (full-outer fan-in): a
    // second reference would re-run the whole leg — count the probe-list
    // window, which exists once per IVF-leg evaluation
    "pcos".r.findAllIn(plan).size should be <= 6
  }

  test("ann_recall_bucketed: probe side broadcasts; sketch gate precedes scoring; per-qid top-k plans WindowGroupLimit heaps") {
    val plan = planOf("ann_recall_bucketed")
    plan should not include "CartesianProduct"
    plan should include("WindowGroupLimit")
    "BroadcastNestedLoopJoin".r.findAllIn(plan).size should be >= 2 // qs on both legs
    // the LSH leg's sketch gate is a join-condition/filter on bit_count —
    // it must appear in the plan (the candidate cut happens BEFORE the
    // prefilter dots, not after)
    plan.toLowerCase should include("bit_count")
  }

  test("tokenize_ids: the 256-word vocab broadcasts into the token stream; top-K is a heap") {
    val plan = planOf("tokenize_ids")
    plan should include("TakeOrderedAndProject") // vocab top-K
    plan should include("BroadcastHashJoin") // vocab → token stream
    plan should not include "CartesianProduct"
    // the vocab rank window runs on 256 bounded rows (justified); the
    // token stream itself must never pass through a single partition —
    // its exchanges are the round-robin + the doc-keyed aggregate
    "SortMergeJoin".r.findAllIn(plan).size shouldBe 0
  }

  test("minhash_eval: the audit rides the shared banded candidates — no all-pairs, no cartesian") {
    val plan = planOf("minhash_eval")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "SinglePartition"
  }

  test("simhash_eval: the audit rides the shared banded candidates — no all-pairs, no cartesian") {
    val plan = planOf("simhash_eval")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "SinglePartition"
  }

  test("chunk_merge: one doc-keyed window + aggregate; the original joins back by key") {
    val plan = planOf("chunk_merge")
    plan should not include "CartesianProduct"
    plan should not include "SinglePartition"
    "Window".r.findAllIn(plan).size shouldBe 1 // last-chunk flag
  }

  test("lang_id_eval: confusion matrix is one map-combined aggregate over the scan-stage predictions") {
    val plan = planOf("lang_id_eval")
    "documents.parquet".r.findAllIn(plan).size shouldBe 1
    "HashAggregate".r.findAllIn(plan).size shouldBe 2 // partial+final
    plan should not include "Window"
    plan should not include "Join"
  }

  test("ngram_novelty: first-occurrence is a window on h — no self-join, no cartesian") {
    val plan = planOf("ngram_novelty")
    "documents.parquet".r.findAllIn(plan).size shouldBe 1
    "Window".r.findAllIn(plan).size shouldBe 2 // shingle lead + first_doc min
    plan should not include "Join" // the groupBy+self-join form this pin forbids
    plan should not include "SinglePartition"
  }

  test("feature_winsorize: one window pass recovers the band edges; no join, no second scan") {
    val plan = planOf("feature_winsorize")
    "customer.parquet".r.findAllIn(plan).size shouldBe 1
    plan should not include "Join"
    plan should include("PushedFilters: [IsNotNull(c_acctbal)]")
    plan should not include "SinglePartition"
  }

  test("split_temporal: one fact pass; the leak audit re-aggregates the (type,user) grid") {
    val plan = planOf("split_temporal")
    "events.parquet".r.findAllIn(plan).size shouldBe 1
    plan should include("PushedFilters: [IsNotNull(ts)]")
    "HashAggregate".r.findAllIn(plan).size should be >= 3
    plan should not include "Window"
    plan should not include "Expand" // flags, not count-distinct
  }

  test("survival_hazard: one fact pass to the user grid; the anchor broadcasts back") {
    val plan = planOf("survival_hazard")
    // the static plan prints the fact scan once per branch (anchor + obs,
    // both over the IDENTICAL canonical user-grid exchange); AQE's runtime
    // stage cache dedups them to one physical scan — so pin the branch
    // count, not 1 (the event_rfm/anomaly_mad anchor shape)
    "events.parquet".r.findAllIn(plan).size shouldBe 2
    plan should include("PushedFilters: [IsNotNull(ts), IsNotNull(user_id)]")
    // three static hash exchanges: the fact→user-grid one printed in each
    // branch (same canonical plan, deduped at runtime) + the grid-sized
    // t_days one; the n_risk window runs on the calendar-bounded offset
    // grid (declared SinglePartition)
    "Exchange hashpartitioning".r.findAllIn(plan).size should be <= 3
    plan should include("BroadcastNestedLoopJoin") // the 1-row anchor
    plan should not include "CartesianProduct"
  }

  test("event_interarrival: one keyed window pass; everything downstream is grid-sized") {
    val plan = planOf("event_interarrival")
    "events.parquet".r.findAllIn(plan).size shouldBe 1
    plan should include(
      "PushedFilters: [IsNotNull(ts), IsNotNull(user_id), IsNotNull(event_type)]")
    // (user,type) window + fact→bucket-grid agg + grid share window
    "Exchange hashpartitioning".r.findAllIn(plan).size should be <= 3
    plan should not include "SinglePartition"
    plan should not include "CartesianProduct"
  }

  // The rank family (eval_auc / ab_ranksum / ab_ks_test) shares ONE
  // pipeline: fact → (day, cents) tie-group grid → per-day windows over
  // the grid → day-keyed stats. The scale property: the window's sort is
  // over DISTINCT CENTS per day (grid-sized), never over raw events, and
  // the final day aggregate reuses the window's day partitioning — so the
  // whole family costs one fact-scale shuffle plus one grid-scale one.
  for (op <- Seq("eval_auc", "ab_ranksum", "ab_ks_test"))
    test(s"$op: one fact pass to the tie-group grid; day windows reuse one grid shuffle") {
      val plan = planOf(op)
      "events.parquet".r.findAllIn(plan).size shouldBe 1
      plan should include("PushedFilters: [IsNotNull(ts), IsNotNull(value)")
      // fact→grid (day, cents) + grid→day window; the day agg reuses the
      // window's partitioning, so exactly two hash exchanges
      "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 2
      plan should not include "SinglePartition"
      plan should not include "CartesianProduct"
    }

  test("ab_srm: map-combined day grids on both legs; the global mix is a broadcast, never a shuffle of the grid") {
    val plan = planOf("ab_srm")
    plan should include("PushedFilters: [IsNotNull(ts)")
    // grid leg + global leg each aggregate partial+final off the scan
    "HashAggregate".r.findAllIn(plan).size should be >= 4
    "BroadcastNestedLoopJoin".r.findAllIn(plan).size shouldBe 1
    plan should not include "Window" // chi2 is scan-stage arithmetic
    plan should not include "SortMergeJoin"
  }

  test("ab_cuped: user grids combine map-side; arm stats and the pooled row are grid-scale aggregates") {
    val plan = planOf("ab_cuped")
    plan should include("PushedFilters: [IsNotNull(ts), IsNotNull(user_id)")
    "BroadcastNestedLoopJoin".r.findAllIn(plan).size shouldBe 1
    plan should not include "Window"
    plan should not include "SortMergeJoin"
  }

  // calibration_table / gains_table share the rank family's shape one
  // level up: fact → global (cents) tie-group grid → grid-sized position
  // windows → a <=10-row decile table.
  for (op <- Seq("calibration_table", "gains_table"))
    test(s"$op: one fact pass to the global tie grid; position windows are grid-sized") {
      val plan = planOf(op)
      "events.parquet".r.findAllIn(plan).size shouldBe 1
      plan should include("PushedFilters: [IsNotNull(ts), IsNotNull(value)")
      // fact→cents grid is the only fact-scale exchange; the unpartitioned
      // position windows run on the grid (the survival n_risk argument)
      "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 1
      plan should not include "CartesianProduct"
      plan should not include "BroadcastNestedLoopJoin"
    }

  test("bootstrap_ci: ONE generator pass — point and CI legs read one aggregate, no self-join of the grid lineage") {
    val plan = planOf("bootstrap_ci")
    // the B+1-fold expansion must run once: one scan, one Generate
    "events.parquet".r.findAllIn(plan).size shouldBe 1
    "Generate".r.findAllIn(plan).size shouldBe 1
    plan should not include "SortMergeJoin"
    plan should not include "BroadcastHashJoin" // single-aggregate form needs no join
  }

  test("attribution_time_decay: pair formation is an equi-join on user; the weight window can ride the join's user key") {
    val plan = planOf("attribution_time_decay")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // the window is keyed (user_id, purchase_id) so HashPartitioning(user)
    // satisfies it at SMJ scale
    plan should include("windowspecdefinition(user_id")
  }

  test("tpch_q1: the SQL-text form plans like agg_group — one pushed-filter scan, partial+final hash aggregate") {
    val plan = planOf("tpch_q1")
    "HashAggregate".r.findAllIn(plan).size should be >= 2
    plan should include("PushedFilters: [IsNotNull(l_shipdate)")
    "lineitem.parquet".r.findAllIn(plan).size shouldBe 1
  }

  test("code_switch: the mixing screen is scan-stage — no windows, aggregates, or joins at any corpus size") {
    val plan = planOf("code_switch")
    plan should not include "Window"
    plan should not include "HashAggregate"
    plan should not include "Join"
    "documents.parquet".r.findAllIn(plan).size shouldBe 1
  }

  test("experiment_dashboard: exactly the component ops' grid passes — ttest 1 + ranksum 1 + srm 2 events scans") {
    val plan = planOf("experiment_dashboard")
    // the SRM leg plans its grid twice (the 1-row global-mix anchor leg +
    // the grid it broadcasts back over — ab_srm's own declared shape); the
    // test legs scan once each. More scans than 4 would mean a leg's
    // grid+view pipeline got duplicated by the dashboard joins.
    "events.parquet".r.findAllIn(plan).size shouldBe 4
    plan should not include "CartesianProduct"
  }

  test("ab_sequential: the fact pass is ttestMoments' — one events scan, cumulative windows on the grid") {
    val plan = planOf("ab_sequential")
    "events.parquet".r.findAllIn(plan).size shouldBe 1
    plan should not include "Join"
  }

  test("curation_report: ONE pass — no self-join of the HOF scan, dedup attribution rides a digest-keyed window") {
    val plan = planOf("curation_report")
    "documents.parquet".r.findAllIn(plan).size shouldBe 2 // gate scan + |sources| totals leg
    plan should not include "SortMergeJoin"
    plan should include("BroadcastHashJoin") // grid-sized totals join only
  }

  test("benford_second: zero new fact-scale work — one events scan into the shared two-digit grid, map scaffold, no join") {
    val plan = planOf("benford_second")
    "events.parquet".r.findAllIn(plan).size shouldBe 1
    plan should not include "Join" // the digit scaffold is a map lookup now
    plan should not include "CartesianProduct"
    plan should not include "SinglePartition" // windows key on event_type
  }

  test("benford_audit: still one events scan after the grid went two-digit") {
    val plan = planOf("benford_audit")
    "events.parquet".r.findAllIn(plan).size shouldBe 1
    plan should not include "Join"
    plan should not include "SinglePartition"
  }

  test("benford_mad: both test legs fold the SAME two-digit grid exchange — no join, no SinglePartition") {
    val plan = planOf("benford_mad")
    // static text prints the grid lineage once per leg; the subplans
    // below the (type, d1, d2) grid exchange are IDENTICAL (grouping
    // keys pin the pruning), so AQE stage reuse runs the fact work once
    "events.parquet".r.findAllIn(plan).size shouldBe 2
    "Exchange hashpartitioning\\(event_type#\\d+, digit#\\d+, digit2"
      .r.findAllIn(plan).size shouldBe 2
    plan should not include "Join"
    plan should not include "SinglePartition"
  }

  test("win_drawdown: one user-keyed window pass (balance + peak share the spec), one grid aggregate") {
    val plan = planOf("win_drawdown")
    "events.parquet".r.findAllIn(plan).size shouldBe 1
    // ONE exchange brings each user's rows together; both running folds
    // and the per-user aggregate ride it
    "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size shouldBe 1
    plan should not include "Join"
    plan should not include "SinglePartition"
    plan should include("PushedFilters: [IsNotNull(value), IsNotNull(ts)]")
  }

  test("curation_cost_curve: totals fold from the per-gate grid — both legs share one grid exchange") {
    val plan = planOf("curation_cost_curve")
    // the static text prints the gated lineage under both consumers of
    // the per-gate grid (dr + totals), but the two exchange subplans are
    // IDENTICAL (unlike a raw-count totals leg, which would prune
    // differently) — AQE stage reuse runs the fact work once
    "documents.parquet".r.findAllIn(plan).size shouldBe 2
    "Exchange hashpartitioning\\(gate".r.findAllIn(plan).size shouldBe 2
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
    // the only nested-loop is the 1-row totals broadcast
    "BroadcastNestedLoopJoin".r.findAllIn(plan).size should be <= 1
  }

  test("lang_routing: scan-stage scores, one map-combined matrix aggregate, per-source share window on the grid") {
    val plan = planOf("lang_routing")
    "documents.parquet".r.findAllIn(plan).size shouldBe 1
    plan should not include "Join"
    "Window".r.findAllIn(plan).size shouldBe 1
    plan should not include "SinglePartition" // share window keys on source
  }

  test("route_quality: langScores + qualitySignals stack in ONE scan-stage pass — the per-doc join the oracle spells never exists") {
    val plan = planOf("route_quality")
    "documents.parquet".r.findAllIn(plan).size shouldBe 1
    plan should not include "Join"
    plan should not include "Window"
    "HashAggregate".r.findAllIn(plan).size shouldBe 2 // partial+final
    plan should not include "SinglePartition"
  }

  test("dedup_profile: digest-keyed count then grid histogram — fixed-width shuffle keys, totals fold from the histogram") {
    val plan = planOf("dedup_profile")
    // static text prints the histogram lineage under both consumers
    // (rows + the 1-row totals leg); the subplans below the csize
    // exchange are identical — stage-reused at runtime
    "documents.parquet".r.findAllIn(plan).size shouldBe 2
    plan should not include "SortMergeJoin"
    plan should not include "Window"
    // the digest, not the text, is the shuffle key
    plan should include("sha2")
    "BroadcastNestedLoopJoin".r.findAllIn(plan).size should be <= 1
  }

  test("pii_report: ONE scan, map-combined wide grid, unpivot on the grid — no join, no window") {
    val plan = planOf("pii_report")
    "documents.parquet".r.findAllIn(plan).size shouldBe 1
    plan should not include "Join"
    plan should not include "Window"
  }

  test("boilerplate_detect: the boilerplate set broadcasts into the token-scale probe — no sort-merge join anywhere") {
    val plan = planOf("boilerplate_detect")
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
    // no count(DISTINCT) Expand: the df grid is per-doc-distinct → count
    plan should not include "Expand"
  }

  test("rrf_eval: both fused lists come from rank windows, no quadratic join") {
    val plan = planOf("rrf_eval")
    plan should not include "CartesianProduct"
    // the only nested-loop is the declared 1-row query-vector broadcast
    "BroadcastNestedLoopJoin".r.findAllIn(plan).size should be <= 2
  }

  test("rrf_eval: the full-rank audit legs are DISTRIBUTED — no single-partition pass over the corpus") {
    val plan = planOf("rrf_eval")
    // the two globalRank legs (r_kw, r_vec): a checkpointed pid-tagged
    // rank input feeds a __pid-PARTITIONED local-rank window plus a
    // per-pid count — two hashpartitioning(__pid) exchanges per leg
    plan should include("Scan ExistingRDD")
    "Exchange hashpartitioning\\(__pid".r.findAllIn(plan).size shouldBe 4
    // the ONLY SinglePartition exchanges left are the two
    // ≤shuffle-partitions-row offset tables (bounded by construction) —
    // the corpus-wide partition-less rank windows of the r12 form are gone
    "Exchange SinglePartition".r.findAllIn(plan).size shouldBe 2
    // every fused/shortlist top-k is a distributed TakeOrdered
    // (per-partition heaps), never a global sort
    "TakeOrderedAndProject".r.findAllIn(plan).size should be >= 4
  }

  test("vocab_growth: the shingle pass runs once into the checkpointed (decile, h) grid") {
    val plan = planOf("vocab_growth")
    // downstream aggregates read the checkpoint, not the hashing lineage:
    // the only parquet scans left are the doc-grid leg and the anchor legs
    // (narrow doc_id projections — no re-shingling anywhere)
    plan should not include "md5" // hashing happened before the checkpoint
    plan should include("Scan ExistingRDD") // the checkpointed grid
    plan should not include "CartesianProduct"
  }
}
