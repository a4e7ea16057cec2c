package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Composite analytics queries — multi-join + aggregate + top-k shapes in
  * the style of TPC-H Q3/Q5/Q10, restricted to the fixture's columns
  * (FIXTURES.md). These are the workloads the reference's users run through
  * its raw-SQL delegation (reference: src/etl/ETLProcess.java:84-86), and
  * they are where Catalyst's multi-join planning actually matters:
  *
  *  - join ORDER: filters reduce each input before the join tree
  *    (PushDownPredicates), and Catalyst/AQE picks broadcast vs shuffle per
  *    edge at runtime — nation/region dims always broadcast;
  *  - partial aggregation: revenue sums combine map-side, so the final
  *    shuffle carries |groups| rows, not |lineitem|;
  *  - top-k: ORDER BY + LIMIT plans TakeOrderedAndProject (per-partition
  *    heaps, no global sort) — at 100 TB the Q3/Q10 result never exceeds
  *    k × partitions rows in flight.
  *
  * Revenue uses the exact-decimal discipline (Op.scala): both engines sum
  * DECIMAL(18,2)×DECIMAL(18,2) products exactly, so results are independent
  * of aggregation order and partition count.
  */
object Composite {

  /** sum(l_extendedprice * (1 - l_discount)) in exact decimal, as double. */
  private def revenue: Column =
    sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
      .cast("double")
  private val revenueSql =
    """CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |         * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)""".stripMargin

  // --------------------------------------------------------------------
  // tpch_q3 — shipping-priority shape: segment-filtered customers joined
  // through orders to lineitem, revenue per (order, date), top 10.
  // --------------------------------------------------------------------
  private val tpchQ3 = Op("tpch_q3",
    s"""SELECT l_orderkey, $revenueSql AS revenue, o_orderdate
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1998-03-15'
       |  AND l_shipdate > TIMESTAMP '1998-03-15'
       |GROUP BY l_orderkey, o_orderdate
       |ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin) { (s, d) =>
    val c = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(s, d, "orders")
      .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
    val l = t(s, d, "lineitem")
      .filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, l("l_orderkey") === o("o_orderkey"))
      .groupBy(l("l_orderkey"), o("o_orderdate"))
      .agg(revenue.as("revenue"))
      .select("l_orderkey", "revenue", "o_orderdate")
      .orderBy(col("revenue").desc, col("o_orderdate").asc, col("l_orderkey").asc)
      .limit(10)
  }

  // --------------------------------------------------------------------
  // tpch_q5 — local-supplier-volume shape: the 6-table join through both
  // the customer and supplier arms, restricted to one region and year,
  // with the co-nationality predicate (c_nationkey = s_nationkey) that
  // makes the join graph cyclic — the classic join-reorder stress test.
  // --------------------------------------------------------------------
  private val tpchQ5 = Op("tpch_q5",
    s"""SELECT n_name, $revenueSql AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o_orderdate < TIMESTAMP '1997-01-01'
       |GROUP BY n_name
       |ORDER BY revenue DESC, n_name""".stripMargin) { (s, d) =>
    val c = t(s, d, "customer")
    val o = t(s, d, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val l = t(s, d, "lineitem")
    val su = t(s, d, "supplier")
    val n = broadcast(t(s, d, "nation"))
    val r = broadcast(t(s, d, "region").filter(col("r_name") === "ASIA"))
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, l("l_orderkey") === o("o_orderkey"))
      .join(su, l("l_suppkey") === su("s_suppkey")
        && c("c_nationkey") === su("s_nationkey"))
      .join(n, su("s_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(n("n_name"))
      .agg(revenue.as("revenue"))
      .orderBy(col("revenue").desc, col("n_name").asc)
  }

  // --------------------------------------------------------------------
  // tpch_q10 — returned-item reporting shape: revenue lost to returns per
  // customer over a quarter, top 20 customers.
  // --------------------------------------------------------------------
  private val tpchQ10 = Op("tpch_q10",
    s"""SELECT c_custkey, c_name, n_name, $revenueSql AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE l_returnflag = 'R'
       |  AND o_orderdate >= TIMESTAMP '1997-01-01'
       |  AND o_orderdate < TIMESTAMP '1997-07-01'
       |GROUP BY c_custkey, c_name, n_name
       |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin) { (s, d) =>
    val c = t(s, d, "customer")
    val o = t(s, d, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
    val l = t(s, d, "lineitem").filter(col("l_returnflag") === "R")
    val n = broadcast(t(s, d, "nation"))
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, l("l_orderkey") === o("o_orderkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .groupBy(c("c_custkey"), c("c_name"), n("n_name"))
      .agg(revenue.as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  // --------------------------------------------------------------------
  // join_skew_salted — the hand-rolled hot-key mitigation (engine.Skew)
  // exposed as a verified operator: orders⋈customer through an 8-way
  // salted join, oracle = the PLAIN join. Salting spreads each hot key
  // over `salts` partitions (small side exploded salts×, big side salted
  // deterministically by row hash); the oracle equality proves the
  // rewrite is semantics-preserving. Use when one key dominates and the
  // small side is too big to broadcast — the case AQE's skew handling
  // (join-partition splitting) can't always reach.
  // --------------------------------------------------------------------
  private val joinSkewSalted = Op("join_skew_salted",
    """SELECT o_orderkey, c_name, o_totalprice
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val big = t(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey").as("ck"), col("o_totalprice"))
    val small = t(s, d, "customer")
      .select(col("c_custkey").as("ck"), col("c_name"))
    graft.engine.Skew.saltedJoin(big, small, Seq("ck"), salts = 8)
      .select("o_orderkey", "c_name", "o_totalprice")
      .orderBy("o_orderkey")
  }

  // --------------------------------------------------------------------
  // join_scd2_lookup — the point-in-time dimension lookup (the read side
  // of sink_scd2's history table): every fact row joins the dimension
  // VERSION that was valid at the fact's timestamp. The versioned dim is
  // derived deterministically from `customer` (a hash-selected third of
  // customers have a +50 balance revision effective 1997-01-01) so both
  // engines build identical inputs; at deployment it IS the SCD2 table.
  //
  // Plan shape: equi-join on the business key with the validity-range
  // residual riding on it — per-key version counts are small by
  // construction (a dim row changes a bounded number of times), so the
  // residual never goes quadratic; the dim broadcasts while bounded and
  // falls back to a custkey sort-merge join when it outgrows that. This
  // is join_asof's semantics expressed against interval-closed history
  // rows instead of event streams.
  // --------------------------------------------------------------------
  private val Scd2Cut = "1997-01-01"

  private val joinScd2Lookup = Op("join_scd2_lookup", {
    val h3 = graft.ops.Text.h60Sql("concat('scd:', CAST(c_custkey AS VARCHAR))") + " % 3"
    s"""WITH dim AS (
       |  SELECT c_custkey, c_acctbal AS bal,
       |    TIMESTAMP '1900-01-01' AS valid_from,
       |    CASE WHEN $h3 = 0 THEN TIMESTAMP '$Scd2Cut' END AS valid_to
       |  FROM customer
       |  UNION ALL
       |  SELECT c_custkey, c_acctbal + 50.0, TIMESTAMP '$Scd2Cut', NULL
       |  FROM customer WHERE $h3 = 0)
       |SELECT o.o_orderkey, o.o_custkey, d.bal, d.valid_from
       |FROM orders o JOIN dim d ON o.o_custkey = d.c_custkey
       |WHERE o.o_orderdate >= d.valid_from
       |  AND (d.valid_to IS NULL OR o.o_orderdate < d.valid_to)
       |ORDER BY o.o_orderkey""".stripMargin
  }) { (s, d) =>
    import graft.ops.Text.h60
    val cust = t(s, d, "customer")
    val h3 = h60(concat(lit("scd:"), col("c_custkey").cast("string"))) % 3
    val v1 = cust.select(col("c_custkey"), col("c_acctbal").as("bal"),
      lit("1900-01-01").cast("timestamp").as("valid_from"),
      when(h3 === 0, lit(Scd2Cut).cast("timestamp")).as("valid_to"))
    val v2 = cust.filter(h3 === 0).select(col("c_custkey"),
      (col("c_acctbal") + 50.0).as("bal"),
      lit(Scd2Cut).cast("timestamp").as("valid_from"),
      lit(null).cast("timestamp").as("valid_to"))
    t(s, d, "orders")
      .join(v1.unionByName(v2),
        col("o_custkey") === col("c_custkey") &&
          col("o_orderdate") >= col("valid_from") &&
          (col("valid_to").isNull || col("o_orderdate") < col("valid_to")))
      .select("o_orderkey", "o_custkey", "bal", "valid_from")
      .orderBy("o_orderkey")
  }

  // --------------------------------------------------------------------
  // graph_triangles — per-node triangle counting on the MUTUAL-top-10
  // co-supplier graph: suppliers are co-occurrence-weighted by shared
  // orders, each node keeps its 10 strongest neighbors, and an edge
  // survives only if BOTH endpoints keep it. This is the standard
  // similarity-graph pipeline (mutual-kNN sparsification → triangle /
  // clustering-coefficient kernel): raw co-occurrence graphs go DENSE as
  // data grows (at sf0.1 this fixture's raw graph is already ~half of
  // all C(1000,2) pairs — a naive triangle count over it did 26 s of
  // wedge work for a meaningless clique soup), while mutual-top-k keeps
  // exactly the relationships that are strong from both sides.
  //
  // Scale design:
  //  - pair generation is PER-ORDER bounded (≤ C(k,2) per order, k =
  //    lines per order) and the weight aggregate map-combines — the only
  //    pass over fact-scale data;
  //  - per-node top-10 is one keyed window over the directed edge list
  //    ((w DESC, dst) total order — deterministic at any partitioning);
  //  - mutuality is a self-equi-join on the reversed key, and the
  //    surviving graph has degree ≤ 10 BY CONSTRUCTION — so the wedge
  //    join fans out ≤ C(10,2) per node and the triangle kernel's cost
  //    is linear in nodes no matter how dense the raw co-occurrence is.
  // The oracle replays the same pipeline with the orientation-free
  // a<b<c wedge labeling — same triangles, same per-node counts.
  // --------------------------------------------------------------------
  /** The mutual-top-10 co-supplier graph's oracle CTE chain (li → pw →
    * dir → tk → e), shared verbatim by graph_triangles and graph_pagerank
    * so the two ops provably run the same sparsified graph. */
  private val mutualGraphCtes =
    """li AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem),
      |pw AS (SELECT a.sk AS u, b.sk AS v, count(*) AS w
      |       FROM li a JOIN li b ON a.ok = b.ok AND a.sk < b.sk GROUP BY 1, 2),
      |dir AS (SELECT u AS src, v AS dst, w FROM pw
      |        UNION ALL SELECT v, u, w FROM pw),
      |tk AS (SELECT src, dst FROM (
      |         SELECT src, dst,
      |           row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
      |         FROM dir) WHERE rn <= 10),
      |e AS (SELECT least(src, dst) AS u, greatest(src, dst) AS v
      |      FROM tk GROUP BY 1, 2 HAVING count(*) = 2)""".stripMargin

  private val graphTriangles = Op("graph_triangles",
    s"""WITH $mutualGraphCtes,
      |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |        FROM e e1 JOIN e e2 ON e1.v = e2.u
      |        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |n AS (SELECT a AS node FROM tri
      |      UNION ALL SELECT b FROM tri
      |      UNION ALL SELECT c FROM tri)
      |SELECT node, count(*) AS n_tri FROM n GROUP BY node
      |ORDER BY n_tri DESC, node""".stripMargin) { (s, d) =>
    val e = mutualEdges(s, d)
    // wedge at the lowest-id vertex (degree ≤ 10, so no orientation is
    // needed to bound fan-out), closed against the id-keyed edge list.
    // Each self-join leg gets a RENAMED projection, not a plan alias:
    // three `e.as(...)` legs of the same subplan misresolve under
    // DeduplicateRelations (measured here: the aliased form silently
    // joined the wrong attributes and tripled the triangle count) —
    // distinct column names make every join condition unambiguous.
    val eAB = e.select(col("u").as("a"), col("v").as("b"))
    val eBC = e.select(col("u").as("b2"), col("v").as("c2"))
    val eAC = e.select(col("u").as("a3"), col("v").as("c3"))
    val tri = eAB.join(eBC, col("b") === col("b2"))
      .select(col("a"), col("b"), col("c2").as("c"))
      .join(eAC, col("a") === col("a3") && col("c") === col("c3"))
      .select("a", "b", "c")
    // one generator pass (a union of three self-references would run the
    // triangle join three times); each triangle credits its 3 vertices
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
      .orderBy(col("n_tri").desc, col("node").asc)
  }

  /** Spark-side build of the mutual-top-10 co-supplier edge list (u < v),
    * shared by graph_triangles and graph_pagerank.
    *
    * Pair generation WITHOUT the textbook self-join: one keyed aggregate
    * to the per-order supplier set (collect_set combines map-side), then
    * the ≤ C(k,2) pairs explode in the SCAN stage via an indexed HOF.
    * Local timing is a wash vs the li⋈li form (both CPU-bound here, ~3 s
    * at sf0.1), but this shape pays ONE exchange where the self-join
    * pays two plus a join — the difference that matters on a cluster,
    * where exchanges dominate. The oracle keeps the self-join form
    * (mutualGraphCtes), so the two formulations cross-check.
    */
  private def mutualEdges(s: SparkSession, d: String): DataFrame = {
    // round-robin exchange between the per-order aggregate and the
    // C(k,2) pair explode: the explode + pair-weight partials ran in the
    // aggregate exchange's AQE-coalesced reader (4 tasks, ~2.2 s of task
    // time — Profile job 186); the repo's exchange() lifts that stage to
    // shuffle width. (A BY_NUM exchange BELOW the aggregate was A/B'd
    // red: losing the partial/final collect_set split cost ~10x the
    // stage's CPU; a same-partitioned keyed exchange above it is pruned
    // as redundant — the r13 finding.)
    val perOrder = graft.ops.exchange(t(s, d, "lineitem")
      .groupBy("l_orderkey")
      .agg(array_sort(collect_set(col("l_suppkey"))).as("sks")))
    val pw = perOrder
      .select(explode(flatten(transform(col("sks"), (x, i) =>
        transform(
          slice(col("sks"), i + lit(2), size(col("sks")) - i - lit(1)),
          y => struct(x.as("u"), y.as("v")))))).as("p"))
      .groupBy(col("p.u").as("u"), col("p.v").as("v"))
      .agg(count(lit(1)).as("w"))
    // ONE pass over pw for both edge directions (explode of a 2-array),
    // instead of a union whose two branches each re-ran the final
    // pair-weight aggregate from the partial shuffle (Profile job 187
    // read that exchange twice)
    val dir = pw.select(explode(array(
        struct(col("u").as("src"), col("v").as("dst"), col("w")),
        struct(col("v").as("src"), col("u").as("dst"), col("w")))).as("e"))
      .select("e.src", "e.dst", "e.w")
      .toDF("src", "dst", "w")
    val perNode = Window.partitionBy("src").orderBy(col("w").desc, col("dst").asc)
    val tk = dir.withColumn("rn", row_number().over(perNode))
      .filter(col("rn") <= 10).select("src", "dst")
    // mutuality WITHOUT a self-join (a tk⋈tk join on the reversed key is
    // both an extra shuffle and Spark self-join-resolution bait): each
    // direction contributes its unordered pair once, so a pair kept by
    // BOTH endpoints appears exactly twice.
    // localCheckpoint: the sparsified edge list is NODE-bounded (≤ 5·|V|
    // rows) while its lineage contains the fact-scale pair aggregate; the
    // consumers re-reference it repeatedly (three renamed triangle-join
    // legs in graph_triangles, one per PageRank iteration in
    // graph_pagerank — renaming defeats ReuseExchange) — without the
    // checkpoint the whole fact pipeline runs once per reference
    // (measured at sf0.1: 3.1 s → 2.3 s; the remaining cost is the one
    // mandatory pair-aggregate pass). Two caveats localCheckpoint carries:
    // it is EAGER (the pair aggregate runs at DataFrame-construction time,
    // so even explain/plan-audit paths pay it) and its blocks are
    // NON-REPLICATED — on a multi-executor cluster an executor loss makes
    // the query unrecoverable. The durable cluster-scale equivalent is a
    // reliable checkpoint() (or persist(MEMORY_AND_DISK_2)); local[n] has
    // no executor loss, so the cheap form is right here.
    tk.groupBy(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .agg(count(lit(1)).as("both"))
      .filter(col("both") === 2).select("u", "v")
      .localCheckpoint()
  }

  // --------------------------------------------------------------------
  // graph_pagerank — fixed-iteration PageRank on the same mutual-top-10
  // co-supplier graph graph_triangles sparsifies (the node-importance
  // kernel behind seed selection, crawl prioritization and influence
  // ranking). 8 synchronous iterations, damping 0.85, uniform start.
  //
  // Engine parity for an ITERATIVE algorithm: FIXED-POINT INTEGER
  // arithmetic. Rank is a BIGINT count of 1e-15 units; every step is
  // integer division / multiplication / exact integer summation, so each
  // iteration is bit-identical on both engines at any partitioning or
  // aggregation order. (A decimal-quantized double formulation was tried
  // first and diverged ~1e-13 after 8 iterations: CAST(double AS
  // DECIMAL(28,14)) is NOT engine-identical — DuckDB scales by 1e14 in
  // floating point while Spark expands the double's exact decimal form,
  // so the 14th digit disagrees on arbitrary quotients and the error
  // compounds per round. Integer fixed-point kills the class; the ~1e-15
  // truncation bias per step is irrelevant to a ranking.)
  //
  // Scale shape: the fact-scale work (pair aggregate → mutual top-10) runs
  // ONCE and is checkpointed; each iteration is then one equi-join + one
  // keyed aggregate on a degree-≤10 edge list — O(|V|) rows per round, 8
  // rounds. The mutual graph has no dangling nodes by construction
  // (undirected ⇒ in-degree = out-degree ≥ 1), so no rank-leak term is
  // needed. The oracle unrolls the same 8 iterations as chained CTEs.
  // --------------------------------------------------------------------
  private val PrIters = 8
  private val PrScale = 1000000000000000L // 1e15 rank units per unit mass

  private val graphPagerank = Op("graph_pagerank", {
    val iterCtes = (0 until PrIters).map { i =>
      s"""pr${i + 1} AS (
         |  SELECT ed.dst AS node,
         |    (15 * $PrScale // 100) // (SELECT n FROM nn)
         |      + (CAST(SUM(p.r // dg.deg) AS BIGINT) * 85) // 100 AS r
         |  FROM ed JOIN pr$i p ON p.node = ed.src
         |          JOIN deg dg ON dg.node = ed.src
         |  GROUP BY ed.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $mutualGraphCtes,
       |ed AS (SELECT u AS src, v AS dst FROM e
       |       UNION ALL SELECT v, u FROM e),
       |deg AS (SELECT src AS node, count(*) AS deg FROM ed GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM deg),
       |pr0 AS (SELECT node, $PrScale // (SELECT n FROM nn) AS r FROM deg),
       |$iterCtes
       |SELECT node, CAST(r AS DOUBLE) / $PrScale AS pagerank FROM pr$PrIters
       |ORDER BY pagerank DESC, node""".stripMargin
  }) { (s, d) =>
    val e = mutualEdges(s, d)
    val ed = e.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
    val deg = ed.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    // |V| is a 1-row scalar (like the oracle's `nn` subquery): at any scale
    // the node count of the sparsified graph is one tiny aggregate — the
    // driver round-trip is the same one Spark's own scalar subqueries pay.
    // max(·,1): on an EMPTY graph every frame below is already empty, so
    // the divisor's value is irrelevant — it just must not be 0 (the
    // oracle never evaluates its division on zero rows either).
    val nNodes = math.max(deg.count(), 1L)
    // the damping-reset term, computed once in the same all-integer order
    // the oracle spells: (15·S ÷ 100) ÷ N
    val resetUnits = 15L * PrScale / 100L / nNodes
    // src-keyed (src, dst, deg) resolved ONCE before the loop: each
    // iteration then needs exactly one shuffle (the dst aggregate) — the
    // rank join reuses the edge list's src hash-partitioning.
    val edges = ed
      .join(deg.withColumnRenamed("node", "srcn"), col("src") === col("srcn"))
      .select(col("src"), col("dst"), col("deg"))
      .localCheckpoint()
    var ranks = deg.select(col("node"), lit(PrScale / nNodes).as("r"))
    for (_ <- 1 to PrIters) {
      // LAZY unrolling — no per-iteration localCheckpoint. Each round
      // references its predecessor exactly ONCE (unlike the CC kernel's
      // pointer-jump self-join), so the chained plan grows linearly to a
      // fixed depth of 8 join+aggregate pairs and is optimized/executed
      // as ONE job at the final action, instead of 8 checkpoint
      // materializations + 8 driver round-trips + 8 superseded block
      // sets (r13 measured the checkpointed form's block churn: a
      // back-to-back 10x-probe rerun went 9.2 -> 13.8 s). `edges` stays
      // a checkpointed leaf, so the 8 references to it reuse its blocks.
      // A/B at sf0.1 (warm Profile): 3.57 s / 40 jobs -> 2.22 s / 17
      // jobs with identical output (integer fixed-point is
      // schedule-independent).
      ranks = edges.join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy(col("dst"))
        .agg((lit(resetUnits) + expr("(sum(c) * 85) div 100")).as("r"))
        .withColumnRenamed("dst", "node")
    }
    // ONE eager materialization at loop end (node-count-sized rows)
    val fin = ranks.localCheckpoint()
    fin.select(col("node"),
        (col("r").cast("double") / lit(PrScale)).as("pagerank"))
      .orderBy(col("pagerank").desc, col("node").asc)
  }

  // --------------------------------------------------------------------
  // join_bloom_prefilter — EXPLICIT runtime-filter join: the selective
  // small side (urgent orders) is aggregated into ONE bloom-filter blob
  // (Spark's own BloomFilterAggregate, registered via expressions.Bloom),
  // the blob probes the fact side as a foldable literal filter BEFORE the
  // join's exchange, and the exact join then removes the bloom's false
  // positives — so the RESULT is exactly the plain inner join (the
  // oracle), while the PLAN drops most non-joining fact rows at the scan.
  //
  // This is precisely what Catalyst's InjectRuntimeFilter plants for
  // shuffle joins with a selective build side — but its thresholds
  // (application side > 10 GB) are sized for clusters and never fire at
  // test scale, and a library operator shouldn't depend on an optimizer
  // heuristic firing. The join is hinted sort-merge to model the big-big
  // case where the prefilter matters: with a broadcastable build side a
  // BHJ already avoids the fact shuffle, and the bloom would be redundant.
  //
  // At 100 TB: the blob is ~100 KB (800k bits) — the aggregate's partials
  // are fixed-size and OR-merge commutatively (order-independent build),
  // the literal ships once per task like any broadcast, and the fact scan
  // emits only might_contain survivors into the exchange — the shuffle
  // shrinks by the build side's selectivity (~5× here: 1-URGENT is ~20%
  // of orders), which is the entire cost of a big-big join.
  // --------------------------------------------------------------------
  private val BloomItems = 100000L
  private val BloomBits = 800000L

  private val joinBloomPrefilter = Op("join_bloom_prefilter",
    """SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, o.o_totalprice
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_orderpriority = '1-URGENT'
      |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin) { (s, d) =>
    graft.expressions.Bloom.register(s)
    val urgent = t(s, d, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey", "o_totalprice")
    // one-row driver materialization of the blob — the same thing Spark's
    // injected runtime filter does with its scalar subquery result
    val blob = urgent.agg(
        call_function(graft.expressions.Bloom.aggName,
          xxhash64(col("o_orderkey")), lit(BloomItems), lit(BloomBits)).as("bf"))
      .head().getAs[Array[Byte]](0)
    val pre = t(s, d, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .filter(call_function(graft.expressions.Bloom.mightName,
        lit(blob), xxhash64(col("l_orderkey"))))
    pre.join(urgent.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_linenumber", "l_quantity", "o_totalprice")
      .orderBy("l_orderkey", "l_linenumber")
  }

  // --------------------------------------------------------------------
  // agg_linear_fit — per-group OLS trend line (slope + intercept of daily
  // revenue over the day index, per nation): the regression-in-SQL
  // classic behind dashboard trend arrows and simple forecasting.
  //
  // Engine-identical by construction: every moment (n, Σx, Σy, Σxy, Σx²)
  // is an EXACT integer/decimal aggregate — order- and partition-
  // independent — and the float work is a fixed SCALAR expression tree
  // over those exactly-agreed values (each IEEE op correctly rounded, so
  // both engines produce the same bits; a decimal(38)·decimal(38) product
  // would overflow precision and round engine-specifically — measured as
  // a 1-ulp slope divergence). Computing slope directly in float
  // (covar_pop/var_pop) would be combine-order-dependent at 100 TB.
  //
  // Scale shape: join dims broadcast, ONE map-side-combinable aggregate
  // to (nation, day), ONE more to the 25-row moment table; the fit
  // arithmetic is driver-free scalar math on that tiny result.
  // --------------------------------------------------------------------
  private val aggLinearFit = Op("agg_linear_fit",
    """WITH daily AS (
      |  SELECT n_name,
      |    datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS x,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2),
      |m AS (
      |  SELECT n_name, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx,
      |    CAST(sum(y) AS DECIMAL(38,2)) AS sy,
      |    CAST(sum(CAST(x AS BIGINT) * x) AS BIGINT) AS sxx,
      |    CAST(sum(CAST(x AS DECIMAL(18,2)) * y) AS DECIMAL(38,2)) AS sxy
      |  FROM daily GROUP BY n_name),
      |f AS (
      |  SELECT n_name, n,
      |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
      |    CAST(n * sxx - sx * sx AS DOUBLE) AS den,
      |    CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd
      |  FROM m)
      |SELECT n_name, n,
      |  CASE WHEN den = 0 THEN NULL ELSE num / den END AS slope,
      |  CASE WHEN den = 0 THEN NULL
      |       ELSE (syd - (num / den) * sxd) / n END AS intercept
      |FROM f ORDER BY n_name""".stripMargin) { (s, d) =>
    val daily = t(s, d, "orders")
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date")).as("x"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("y"))
    val m = daily.groupBy("n_name").agg(
      count(lit(1)).as("n"),
      sum("x").cast("long").as("sx"),
      sum("y").cast(DecimalType(38, 2)).as("sy"),
      sum(col("x").cast("long") * col("x")).cast("long").as("sxx"),
      sum(col("x").cast(DecimalType(18, 2)) * col("y")).cast(DecimalType(38, 2)).as("sxy"))
    m.select(col("n_name"), col("n"),
        (col("n").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double")).as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).cast("double").as("den"),
        col("sy").cast("double").as("syd"), col("sx").cast("double").as("sxd"))
      .select(col("n_name"), col("n"),
        when(col("den") === 0, lit(null)).otherwise(col("num") / col("den")).as("slope"),
        when(col("den") === 0, lit(null))
          .otherwise((col("syd") - (col("num") / col("den")) * col("sxd")) / col("n"))
          .as("intercept"))
      .orderBy("n_name")
  }

  // --------------------------------------------------------------------
  // win_pareto — ABC (Pareto) revenue classification per nation: rank
  // customers by revenue within their nation, take the running revenue
  // share, class A = the customers that make up the first 80% of
  // national revenue, B to 95%, C the tail. The inventory-management /
  // account-tiering report every BI stack ships.
  //
  // Determinism: revenue and both window sums are exact DECIMAL (order-
  // independent), and the share is a division of two exactly-agreed
  // decimals CAST TO DOUBLE FIRST — one correctly-rounded IEEE divide on
  // identical operands gives identical bits on both engines (dividing in
  // decimal would hit engine-specific scale rules instead).
  //
  // Scale shape: one map-side-combinable aggregate to (nation, customer)
  // rows, then both windows share ONE hash-partition exchange on n_name
  // (running sum + partition total reuse the same sort). Partitioned by
  // nation — no global single-partition window; a hot nation is bounded
  // by its customer count, not its order count, because the window runs
  // over the AGGREGATED rows.
  // --------------------------------------------------------------------
  private val winPareto = Op("win_pareto",
    """WITH rev AS (
      |  SELECT n_name, c_custkey,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revd
      |  FROM customer
      |  JOIN orders ON c_custkey = o_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2),
      |cum AS (
      |  SELECT n_name, c_custkey, revd,
      |    SUM(revd) OVER (PARTITION BY n_name ORDER BY revd DESC, c_custkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumd,
      |    SUM(revd) OVER (PARTITION BY n_name) AS totd
      |  FROM rev)
      |SELECT n_name, c_custkey, CAST(revd AS DOUBLE) AS revenue,
      |  CASE WHEN totd = 0 THEN NULL
      |       ELSE CAST(cumd AS DOUBLE) / CAST(totd AS DOUBLE) END AS cum_share,
      |  CASE WHEN totd = 0 THEN 'C'
      |       WHEN CAST(cumd AS DOUBLE) / CAST(totd AS DOUBLE) <= 0.80 THEN 'A'
      |       WHEN CAST(cumd AS DOUBLE) / CAST(totd AS DOUBLE) <= 0.95 THEN 'B'
      |       ELSE 'C' END AS abc
      |FROM cum ORDER BY n_name, c_custkey""".stripMargin) { (s, d) =>
    val rev = t(s, d, "customer")
      .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
      .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("c_custkey"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("revd"))
    val running = Window.partitionBy("n_name")
      .orderBy(col("revd").desc, col("c_custkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = Window.partitionBy("n_name")
    // guard the zero-total partition (ANSI divide throws, and a share of
    // a zero pie is undefined): share NULL, class falls to the tail 'C'
    // on both engines — the NullInputSpec sweep caught the unguarded form
    val share = when(col("totd") === 0, lit(null).cast("double"))
      .otherwise(col("cumd").cast("double") / col("totd").cast("double"))
    rev
      .withColumn("cumd", sum("revd").over(running))
      .withColumn("totd", sum("revd").over(total))
      .select(col("n_name"), col("c_custkey"),
        col("revd").cast("double").as("revenue"),
        share.as("cum_share"),
        when(col("totd") === 0, "C")
          .when(share <= 0.80, "A").when(share <= 0.95, "B").otherwise("C").as("abc"))
      .orderBy("n_name", "c_custkey")
  }

  // --------------------------------------------------------------------
  // skyline_pareto — the skyline (Pareto-front) query: customer profile
  // points (f = order count, m = total spend) not dominated by any other
  // point (f' ≥ f, m' ≥ m, strictly better in one) — the multi-criteria
  // "best tradeoffs" query (best frequency-for-spend customers) that no
  // single ORDER BY can express.
  //
  // Scale shape: dominance collapses per f-value first — only the max-m
  // point of each f can survive — so the fact-scale work is two hash
  // aggregates (customer profile, then per-f max). The skyline test is a
  // running max over f DESCENDING on the per-f table, which is bounded
  // by |distinct order counts| (dozens, a value-bounded domain like
  // skew_report's top-25) — the ONE place a single-partition window is
  // justified, and why this op scales even though skyline is famously
  // quadratic in its naive form. Survivor points broadcast back to count
  // the customers sitting exactly on the front. Oracle: NOT EXISTS
  // dominance over the per-f maxima — the textbook quadratic definition,
  // structurally unrelated to the running-max formulation.
  // --------------------------------------------------------------------
  private val skylinePareto = Op("skyline_pareto",
    """WITH rev AS (
      |  SELECT o_custkey, COUNT(*) AS f,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS m
      |  FROM orders GROUP BY o_custkey),
      |fm AS (SELECT f, MAX(m) AS mx FROM rev GROUP BY f),
      |sky AS (
      |  SELECT f, mx FROM fm a
      |  WHERE NOT EXISTS (SELECT 1 FROM fm b
      |                    WHERE b.f > a.f AND b.mx >= a.mx))
      |SELECT s.f, CAST(s.mx AS DOUBLE) AS m, COUNT(*) AS n_customers
      |FROM sky s JOIN rev r ON r.f = s.f AND r.m = s.mx
      |GROUP BY s.f, s.mx ORDER BY s.f""".stripMargin) { (s, d) =>
    val rev = t(s, d, "orders")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("f"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("m"))
    val fm = rev.groupBy("f").agg(max("m").as("mx"))
    // single-partition window: justified — fm is bounded by the distinct
    // order-count domain (dozens of rows at ANY corpus size)
    val higher = Window.orderBy(col("f").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val sky = fm.withColumn("hmx", max("mx").over(higher))
      .filter(col("hmx").isNull || col("hmx") < col("mx"))
      .select(col("f").as("sf"), col("mx"))
    rev.join(broadcast(sky), col("f") === col("sf") && col("m") === col("mx"))
      .groupBy(col("f"), col("mx"))
      .agg(count(lit(1)).as("n_customers"))
      .select(col("f"), col("mx").cast("double").as("m"), col("n_customers"))
      .orderBy("f")
  }

  // --------------------------------------------------------------------
  // tpch_q14 — promotion-effect: the revenue share of PROMO-typed parts
  // in one shipping month. The month is adapted to the fixture's
  // shipdate range (spec shape is the contract, the month is data).
  // Plan shape: the month-filtered lineitem scan joins `part` — a
  // BOUNDED dim — as a broadcast hash join (pinned), then ONE global
  // aggregate; promo and total revenue come from the same exact-decimal
  // pass (conditional + unconditional sums), and the percentage is one
  // IEEE tree over the two exact doubles.
  // --------------------------------------------------------------------
  private val tpchQ14 = Op("tpch_q14",
    s"""SELECT
       |  CAST(100 AS DOUBLE)
       |    * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
       |        THEN CAST(l_extendedprice AS DECIMAL(18,2))
       |             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
       |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
       |    / $revenueSql AS promo_revenue,
       |  CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
       |      THEN CAST(l_extendedprice AS DECIMAL(18,2))
       |           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
       |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_rev,
       |  $revenueSql AS total_rev,
       |  COUNT(*) AS n
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |  AND l_shipdate < TIMESTAMP '1996-02-01'""".stripMargin) { (s, d) =>
    val li = t(s, d, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1996-02-01").cast("timestamp"))
    val discd = col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2)))
    li.join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
      .agg(
        (lit(100d) * sum(when(col("p_type").like("PROMO%"), discd)
          .otherwise(lit(0).cast(DecimalType(18, 2)))).cast("double")
          / revenue).as("promo_revenue"),
        sum(when(col("p_type").like("PROMO%"), discd)
          .otherwise(lit(0).cast(DecimalType(18, 2)))).cast("double")
          .as("promo_rev"),
        revenue.as("total_rev"),
        count(lit(1)).as("n"))
  }

  // --------------------------------------------------------------------
  // tpch_q13 — customer order-count distribution (custdist): how many
  // customers placed k orders, INCLUDING the zero-order customers the
  // LEFT JOIN keeps — the distribution-of-engagement read (and the
  // classic outer-join-then-double-aggregate plan shape). The oracle
  // keeps the spec's LEFT JOIN + count(o_orderkey) spelling; the Spark
  // plan AGGREGATES ORDERS FIRST (per-custkey counts, map-side combined)
  // and left-joins the |customers|-sized count table — the
  // aggregate-before-join rewrite that shrinks the shuffle from |orders|
  // rows to |customers| rows; the hash compare proves the rewrite exact.
  // (The spec's o_comment NOT LIKE filter is dropped — the fixture
  // carries no comment column; shape is the contract.)
  // --------------------------------------------------------------------
  private val tpchQ13 = Op("tpch_q13",
    """SELECT c_count, count(*) AS custdist
      |FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey)
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin) { (s, d) =>
    val perCust = t(s, d, "orders").groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"))
    t(s, d, "customer")
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("n"), lit(0L)).as("c_count"))
      .groupBy("c_count").agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  // --------------------------------------------------------------------
  // tpch_q18 — large-volume customers: orders whose total line quantity
  // exceeds the spec threshold (300), with their customer and order
  // detail, top 100 by price. The oracle keeps the spec's IN-subquery
  // spelling (lineitem scanned twice); the Spark plan computes the
  // per-order quantity sum ONCE (exact decimal, map-side combined),
  // filters to qualifying orders, joins orders on the orderkey it is
  // already keyed by, broadcasts the bounded customer dim, and takes the
  // top 100 with per-partition heaps — the one-pass rewrite the hash
  // compare proves exact. o_orderkey joins the final sort key so the
  // top-100 cut is total-ordered.
  // --------------------------------------------------------------------
  private val tpchQ18 = Op("tpch_q18",
    """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM customer, orders, lineitem
      |WHERE o_orderkey IN (
      |    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      |    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300)
      |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
      |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
      |LIMIT 100""".stripMargin) { (s, d) =>
    val big = t(s, d, "lineitem").groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("qty"))
      .filter(col("qty") > 300)
      .select(col("l_orderkey"), col("qty").cast("double").as("sum_qty"))
    t(s, d, "orders")
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(t(s, d, "customer")), col("c_custkey") === col("o_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderdate").asc,
        col("o_orderkey").asc)
      .limit(100)
  }

  val ops: Seq[Op] = Seq(tpchQ3, tpchQ5, tpchQ10, tpchQ13, tpchQ14, tpchQ18,
    joinSkewSalted, joinScd2Lookup,
    graphTriangles, graphPagerank, joinBloomPrefilter, aggLinearFit, winPareto,
    skylinePareto)
}
