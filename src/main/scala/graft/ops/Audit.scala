package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ops.Text.{h60, h60Sql, words}

/** Corpus audit & assembly operators — the curation stages AROUND the
  * filter/dedup core (BASELINE mandate, training-data pipeline):
  * train/eval decontamination, token-budget sequence packing, intra-doc
  * repetition scoring, per-column data profiling, group-relative outlier
  * gating, and missing-id gap detection.
  *
  * Same portability discipline as Text/Pipeline: every hash is md5-derived
  * (engine-identical), every ratio is an IEEE-double division of exact
  * ints, every query ends in a total ORDER BY — so Spark and the DuckDB
  * oracle agree bit-for-bit at any partitioning.
  */
object Audit {

  // --------------------------------------------------------------------
  // decontaminate — train/eval contamination check (the n-gram-overlap
  // decontamination every LLM training run needs): treat one source as
  // the held-out benchmark, hash its 5-word shingles into a reference
  // set, and flag every training doc that shares ANY shingle with it.
  //
  // Scale shape: the benchmark set is small by construction (eval suites
  // are MBs, the corpus is TBs) — its distinct shingle hashes are
  // BROADCAST, so the 100 TB training side is ONE scan with a map-side
  // semi-join probe; the only shuffle is the distinct on contaminated
  // doc ids (already narrowed to 8-byte ids). The same plan at n=13
  // (the published decontamination shingle width) is a constant swap.
  // --------------------------------------------------------------------
  private val BenchSource = "src0"
  private val DecontN = 5

  /** The decontamination shingle currency — one row per (doc_id, source,
    * [[DecontN]]-word shingle hash). Shared by decontaminate (the
    * benchmark-vs-rest probe) and contamination_matrix (the full
    * source×source overlap table), so the matrix measures exactly the
    * currency the decontamination gate operates on. NULL-text docs
    * produce no shingles on either engine (Spark would hash concat_ws's
    * "" where DuckDB yields NULL — excluding them keeps the engines
    * symmetric). */
  private def shingleStage(docs: DataFrame): DataFrame =
    // r13 note: an outer materialization exchange over the exploded hash
    // stream (so consumers stop re-running the split+hash) was tried and
    // REVERTED — round-robin re-shuffling the token-scale stream cost more
    // than the re-computation it saved (A/B: contamination_matrix
    // 1.6 → 3.4 s, decontaminate 1.0 → 2.3 s). The per-consumer recompute
    // runs shuffle-wide off the inner exchange and is the cheaper side of
    // the trade at every scale (recompute-from-narrow-shuffle vs re-shuffle
    // a 30× wider stream).
    exchange(docs.filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"), words(col("text")).as("w")))
      .select(col("doc_id"), col("source"),
        explode(transform(
          sequence(lit(0), greatest(size(col("w")) - (DecontN - 1), lit(1)) - 1),
          i => h60(concat_ws(" ", slice(col("w"), i + 1, lit(DecontN)))))).as("h"))

  private val decontaminate = Op("decontaminate", {
    val shingle = s"array_to_string(list_slice(w, i+1, i+$DecontN), ' ')"
    s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w
       |           FROM documents WHERE text IS NOT NULL),
       |sh AS (SELECT doc_id, source,
       |         unnest(list_transform(range(0, greatest(len(w) - ${DecontN - 1}, 1)),
       |                i -> ${h60Sql(shingle)})) AS h
       |       FROM t),
       |bad AS (SELECT DISTINCT doc_id FROM sh
       |        WHERE source <> '$BenchSource'
       |          AND h IN (SELECT h FROM sh WHERE source = '$BenchSource'))
       |SELECT d.doc_id, d.source,
       |  d.doc_id IN (SELECT doc_id FROM bad) AS contaminated
       |FROM documents d WHERE d.source <> '$BenchSource'
       |ORDER BY d.doc_id""".stripMargin
  }) { (s, d) =>
    val docs = t(s, d, "documents")
    val sh = shingleStage(docs)
    val bench = sh.filter(col("source") === BenchSource).select("h").distinct()
    val bad = sh.filter(col("source") =!= BenchSource)
      .join(broadcast(bench), Seq("h"), "left_semi")
      .select("doc_id").distinct()
    docs.filter(col("source") =!= BenchSource)
      .select("doc_id", "source")
      .join(bad.withColumn("contaminated", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // contamination_matrix — decontaminate generalized from one benchmark
  // source to the full source×source overlap table: for every source
  // pair, the count of distinct 5-word shingle hashes they share, their
  // per-source distinct-shingle totals, and the overlap coefficient in
  // basis points (shared / min(n_a, n_b)). This is the "which sources
  // leak into which" table a corpus curator reads BEFORE choosing which
  // source to treat as held-out — decontaminate then enforces the choice.
  // Shingle stage shared verbatim with decontaminate (shingleStage), so
  // the matrix measures exactly the gate's currency. Pairs with zero
  // shared shingles are absent by construction (inner join).
  //
  // Scale shape: ONE fact pass into the distinct (source, h) grid
  // (map-side-combined distinct on a fixed-width hash), then a
  // self-equi-join on h whose per-key expansion is bounded by the source
  // enum (≤ |sources|² rows per shingle, |sources| is a catalog, not
  // data); per-source totals are a grid-sized agg broadcast back over
  // the ≤ |sources|² result. No all-pairs document comparison anywhere.
  // --------------------------------------------------------------------
  private val contaminationMatrix = Op("contamination_matrix", {
    val shingle = s"array_to_string(list_slice(w, i+1, i+$DecontN), ' ')"
    s"""WITH t AS (SELECT source, string_split(text, ' ') AS w
       |           FROM documents WHERE text IS NOT NULL),
       |sh0 AS (SELECT source,
       |          unnest(list_transform(range(0, greatest(len(w) - ${DecontN - 1}, 1)),
       |                 i -> ${h60Sql(shingle)})) AS h
       |        FROM t),
       |sh AS (SELECT DISTINCT source, h FROM sh0),
       |n AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
       |p AS (SELECT a.source AS source_a, b.source AS source_b,
       |        count(*) AS shared_shingles
       |      FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
       |      GROUP BY 1, 2)
       |SELECT p.source_a, p.source_b, p.shared_shingles,
       |  na.n AS n_a, nb.n AS n_b,
       |  p.shared_shingles * 10000 // least(na.n, nb.n) AS overlap_bp
       |FROM p
       |JOIN n na ON na.source = p.source_a
       |JOIN n nb ON nb.source = p.source_b
       |ORDER BY source_a, source_b""".stripMargin
  }) { (s, d) =>
    contaminationView(contaminationGrid(t(s, d, "documents")))
  }

  /** The distinct (source, shingle-hash) presence grid —
    * contamination_matrix's only fact-scale pass, shared with the
    * streaming twin ([[graft.streaming.Streams.contamination]]): a
    * presence set is IDEMPOTENT under union+distinct, so the fold absorbs
    * replays/redelivery outright (the rolling_active_users argument) and
    * [[contaminationView]] reproduces the batch matrix at any batch
    * cut — cross-source leakage surfaces as the crawl streams in. */
  private[graft] def contaminationGrid(docs: DataFrame): DataFrame =
    shingleStage(docs).select("source", "h").distinct()

  /** Pair overlap + totals over a completed presence grid. */
  private[graft] def contaminationView(sh: DataFrame): DataFrame = {
    val n = sh.groupBy("source").agg(count(lit(1)).as("n"))
    val pairs = sh.select(col("h"), col("source").as("source_a"))
      .join(sh.select(col("h"), col("source").as("source_b")), Seq("h"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("shared_shingles"))
    pairs
      .join(broadcast(n.select(col("source").as("source_a"), col("n").as("n_a"))),
        Seq("source_a"))
      .join(broadcast(n.select(col("source").as("source_b"), col("n").as("n_b"))),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("shared_shingles"),
        col("n_a"), col("n_b"),
        expr("shared_shingles * 10000 div least(n_a, n_b)").as("overlap_bp"))
      .orderBy("source_a", "source_b")
  }

  // --------------------------------------------------------------------
  // pack_sequences — token-budget packing: assemble docs into training
  // batches of ≤ Budget tokens by running greedy accumulation along a
  // deterministic order. The packing stream is PER SOURCE (the shard
  // key), so at 100 TB each shard packs independently — one window
  // shuffle on the shard key, no global sort, and adding shards scales
  // the parallelism. batch_id = tokens-before-this-doc ÷ budget, the
  // streaming formulation that needs only a running sum (no recursion).
  // --------------------------------------------------------------------
  private val PackBudget = 512

  private val packSequences = Op("pack_sequences",
    s"""SELECT doc_id, source, n_tok,
       |  CAST((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |                         ROWS UNBOUNDED PRECEDING) - n_tok)
       |       // $PackBudget AS BIGINT) AS batch_id
       |FROM (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok
       |      FROM documents WHERE text IS NOT NULL)
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, d, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        size(words(col("text"))).cast("long").as("n_tok"))
      .withColumn("batch_id",
        floor((sum(col("n_tok")).over(w) - col("n_tok")) / PackBudget))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // repetition_filter — intra-doc repetition scoring (the Gopher-style
  // "fraction of duplicate n-grams" quality rule): a doc whose bigrams
  // repeat heavily is boilerplate/spam. dup_ratio = 1 − distinct/total
  // bigrams, computed with array HOFs per row — pure scan-stage work, no
  // shuffle except the final ORDER BY; rides to 100 TB as a map pass.
  // --------------------------------------------------------------------
  // 0.1 splits the fixture corpus (both verdict branches are exercised by
  // the oracle compare); production Gopher rules run 0.2–0.6 by n-gram width
  private val RepThreshold = 0.1

  private val repetitionFilter = Op("repetition_filter", {
    val grams = """list_transform(range(0, greatest(len(w) - 1, 1)),
                  |                i -> array_to_string(list_slice(w, i+1, i+2), ' '))"""
      .stripMargin
    s"""SELECT doc_id, n_gram, n_uniq,
       |  CAST(n_gram - n_uniq AS DOUBLE) / n_gram AS dup_ratio,
       |  CAST(n_gram - n_uniq AS DOUBLE) / n_gram <= $RepThreshold AS keep
       |FROM (
       |  SELECT doc_id, len(g) AS n_gram, len(list_distinct(g)) AS n_uniq
       |  FROM (SELECT doc_id, $grams AS g
       |        FROM (SELECT doc_id, string_split(text, ' ') AS w
       |              FROM documents WHERE text IS NOT NULL)))
       |ORDER BY doc_id""".stripMargin
  }) { (s, d) =>
    val g = transform(
      sequence(lit(0), greatest(size(col("w")) - 1, lit(1)) - 1),
      i => concat_ws(" ", slice(col("w"), i + 1, lit(2))))
    val dupRatio = (col("n_gram") - col("n_uniq")).cast("double") / col("n_gram")
    // r13: an exchange before the split+bigram stage (the fn_map_json
    // pattern) was tried and REVERTED — the win was inside subset noise
    // (1.01 vs 0.76/1.17/0.80 s) and PlanAuditSpec pins this op's designed
    // property: scan-stage narrow work with NO shuffle before the final
    // sort, which is the right 100 TB shape for a pure per-doc ratio.
    t(s, d, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), g.as("g"))
      .select(col("doc_id"), size(col("g")).as("n_gram"),
        size(array_distinct(col("g"))).as("n_uniq"))
      .select(col("doc_id"), col("n_gram"), col("n_uniq"),
        dupRatio.as("dup_ratio"), (dupRatio <= RepThreshold).as("keep"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // profile_stats — per-column data profiling (the audit a pipeline runs
  // before trusting a new corpus drop): null count, distinct count,
  // min/max per column, one row per column. Spark computes ALL columns'
  // metrics in ONE aggregate pass (Catalyst plans the multi-distinct via
  // Expand — still a single scan) and unpivots with stack(); the oracle
  // is the equivalent UNION-ALL-of-aggregates. At 100 TB swap the exact
  // count(DISTINCT) for approx_count_distinct — the shape is otherwise
  // already the one-pass profile you want; exact here because the oracle
  // must reproduce it.
  // --------------------------------------------------------------------
  private val ProfileCols = Seq("doc_id", "lang", "n_chars", "source")

  private val profileStats = Op("profile_stats",
    ProfileCols.map { c =>
      s"""SELECT '$c' AS col,
         |  count(*) - count($c) AS n_nulls,
         |  count(DISTINCT $c) AS n_distinct,
         |  CAST(min($c) AS VARCHAR) AS mn,
         |  CAST(max($c) AS VARCHAR) AS mx
         |FROM documents""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col")) { (s, d) =>
    val aggs = count(lit(1)).as("n_rows") +: ProfileCols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}_n"),
        countDistinct(col(c)).as(s"${c}_d"),
        min(col(c)).cast("string").as(s"${c}_mn"),
        max(col(c)).cast("string").as(s"${c}_mx"))
    }
    val stackExpr = ProfileCols.map { c =>
      s"'$c', n_rows - ${c}_n, ${c}_d, ${c}_mn, ${c}_mx"
    }.mkString(s"stack(${ProfileCols.size}, ", ", ", ")")
    t(s, d, "documents")
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"$stackExpr AS (col, n_nulls, n_distinct, mn, mx)")
      .orderBy("col")
  }

  // --------------------------------------------------------------------
  // outlier_filter — group-relative tail gate over a numeric column (the
  // sanity pass a pipeline runs on numeric features/prices before
  // training): flag rows above their group's 99.5th percentile. The
  // robust (quantile) form rather than mean±kσ — the fixture columns are
  // uniform, where a 3σ z-gate provably never fires (max |z| = √3), and
  // at deployment quantile gates don't let the outliers themselves drag
  // the threshold the way moments do. Percentile parity with DuckDB via
  // the decimal→double cast proven by agg_percentile.
  // Scale shape: per-group exact percentile (3 groups → tiny aggregate)
  // BROADCAST back over the scan — two passes, no wide shuffle; at
  // 100 TB swap exact percentile for the mergeable approx_percentile
  // sketch (the agg_percentile/_approx pairing).
  // --------------------------------------------------------------------
  private val outlierFilter = Op("outlier_filter",
    """WITH thr AS (
      |  SELECT l_returnflag,
      |    quantile_cont(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE), 0.995) AS p995
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
      |  l.l_extendedprice, thr.p995
      |FROM lineitem l JOIN thr ON l.l_returnflag = thr.l_returnflag
      |WHERE l.l_extendedprice > thr.p995
      |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin) { (s, d) =>
    val price = col("l_extendedprice").cast(DecimalType(18, 2)).cast("double")
    val li = t(s, d, "lineitem")
    // exchange: single-task partial percentile buffer (the Aggregates-module
    // r13 pattern — single-row-group scans starve partial aggregation)
    val thr = exchange(li.select("l_returnflag", "l_extendedprice"))
      .groupBy("l_returnflag")
      .agg(percentile(price, lit(0.995)).as("p995"))
    li.select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
      .join(broadcast(thr), "l_returnflag")
      .filter(col("l_extendedprice") > col("p995"))
      .select("l_orderkey", "l_linenumber", "l_returnflag",
        "l_extendedprice", "p995")
      .orderBy("l_orderkey", "l_linenumber")
  }

  // --------------------------------------------------------------------
  // gap_detect — integrity audit over an expected-dense key: report every
  // run of missing ids (gap start / end / width). NOT one global window —
  // ids are range-bucketed, gaps inside a bucket come from a
  // bucket-partitioned lag window (embarrassingly parallel), and gaps
  // that SPAN buckets come from a second lag over the per-bucket min/max
  // aggregate (one row per bucket — driver-scale tiny). The union is
  // exactly the global gap list, with no single-partition window at any
  // data size. Audited column: DISTINCT l_orderkey — the fixture's
  // lineitem covers only ~98% of the orderkey range, so the audit
  // surfaces the real "orders with no lineitems" runs.
  // --------------------------------------------------------------------
  private val GapBucket = 1000

  private val gapDetect = Op("gap_detect",
    s"""WITH ids AS (SELECT DISTINCT l_orderkey AS id, l_orderkey // $GapBucket AS bkt
       |             FROM lineitem),
       |inner_gaps AS (
       |  SELECT prev_id + 1 AS gap_start, id - 1 AS gap_end
       |  FROM (SELECT id, lag(id) OVER (PARTITION BY bkt ORDER BY id) AS prev_id
       |        FROM ids)
       |  WHERE prev_id IS NOT NULL AND id - prev_id > 1),
       |bounds AS (SELECT bkt, min(id) AS mn, max(id) AS mx FROM ids GROUP BY bkt),
       |cross_gaps AS (
       |  SELECT prev_mx + 1 AS gap_start, mn - 1 AS gap_end
       |  FROM (SELECT mn, lag(mx) OVER (ORDER BY bkt) AS prev_mx FROM bounds)
       |  WHERE prev_mx IS NOT NULL AND mn - prev_mx > 1)
       |SELECT gap_start, gap_end, gap_end - gap_start + 1 AS n_missing
       |FROM (SELECT * FROM inner_gaps UNION ALL SELECT * FROM cross_gaps)
       |ORDER BY gap_start""".stripMargin) { (s, d) =>
    val ids = t(s, d, "lineitem")
      .select(col("l_orderkey").as("id"),
        floor(col("l_orderkey") / GapBucket).as("bkt"))
      .distinct()
    val wIn = Window.partitionBy("bkt").orderBy("id")
    val innerGaps = ids
      .withColumn("prev_id", lag("id", 1).over(wIn))
      .filter(col("prev_id").isNotNull && col("id") - col("prev_id") > 1)
      .select((col("prev_id") + 1).as("gap_start"), (col("id") - 1).as("gap_end"))
    val bounds = ids.groupBy("bkt").agg(min("id").as("mn"), max("id").as("mx"))
    val crossGaps = bounds
      .withColumn("prev_mx", lag("mx", 1).over(Window.orderBy("bkt")))
      .filter(col("prev_mx").isNotNull && col("mn") - col("prev_mx") > 1)
      .select((col("prev_mx") + 1).as("gap_start"), (col("mn") - 1).as("gap_end"))
    innerGaps.unionByName(crossGaps)
      .select(col("gap_start"), col("gap_end"),
        (col("gap_end") - col("gap_start") + 1).as("n_missing"))
      .orderBy("gap_start")
  }

  // --------------------------------------------------------------------
  // anomaly_mad — robust z-score anomaly detection over a DERIVED metric
  // (orders per customer — the fixture's raw columns are uniform, where
  // moment/quantile tail gates are degenerate; count-per-entity is the
  // Poisson-shaped signal a bot/fraud/ingest-skew audit actually watches).
  // Median + MAD instead of mean + σ: the robust pair, so the anomalies
  // themselves cannot drag the threshold. rz = (n − median)/(1.4826·MAD),
  // flag |rz| > 3 (1.4826 scales MAD to σ under normality).
  // Scale shape: the metric is one keyed aggregate; median and MAD are two
  // GLOBAL one-row aggregates broadcast back over it — no wide shuffle
  // beyond the count itself. At 100 TB swap exact percentile for the
  // mergeable approx_percentile sketch (the agg_percentile/_approx
  // pairing); the two-pass median-then-MAD structure is unchanged.
  // --------------------------------------------------------------------
  private val MadK = 3.0
  private val MadScale = 1.4826

  private val anomalyMad = Op("anomaly_mad",
    s"""WITH cnt AS (SELECT o_custkey, CAST(count(*) AS DOUBLE) AS n_orders
       |             FROM orders GROUP BY o_custkey),
       |med AS (SELECT quantile_cont(n_orders, 0.5) AS med FROM cnt),
       |dev AS (SELECT o_custkey, n_orders, med, abs(n_orders - med) AS ad
       |        FROM cnt, med),
       |mad AS (SELECT quantile_cont(ad, 0.5) AS mad FROM dev)
       |SELECT o_custkey, n_orders, med, mad,
       |  (n_orders - med) / ($MadScale * mad) AS rz
       |FROM dev, mad
       |WHERE mad > 0 AND ad > ($MadK * $MadScale) * mad
       |ORDER BY o_custkey""".stripMargin) { (s, d) =>
    val cnt = t(s, d, "orders").groupBy("o_custkey")
      .agg(count(lit(1)).cast("double").as("n_orders"))
    val med = cnt.agg(percentile(col("n_orders"), lit(0.5)).as("med"))
    val dev = cnt.crossJoin(broadcast(med))
      .withColumn("ad", abs(col("n_orders") - col("med")))
    // mad > 0 guard: integer count metrics routinely have MAD = 0 (half
    // the entities exactly at the median), where every nonzero deviation
    // would flag and rz would divide by zero — the detector emits nothing
    // rather than everything in that degenerate regime.
    val mad = dev.agg(percentile(col("ad"), lit(0.5)).as("mad"))
    dev.crossJoin(broadcast(mad))
      .filter(col("mad") > 0 && col("ad") > lit(MadK * MadScale) * col("mad"))
      .select(col("o_custkey"), col("n_orders"), col("med"), col("mad"),
        ((col("n_orders") - col("med")) / (lit(MadScale) * col("mad"))).as("rz"))
      .orderBy("o_custkey")
  }

  // --------------------------------------------------------------------
  // snapshot_diff — CDC-style table diff: classify every key across two
  // snapshots of a dimension as added / removed / changed (identical rows
  // are not emitted — at 100 TB the diff output is proportional to the
  // CHANGE volume, not the table). The snapshots here are derived from
  // `customer` by deterministic salted-hash predicates (old is missing
  // the to-be-added keys; new drops the removed keys and bumps acctbal on
  // the changed ones) so both engines reconstruct identical inputs; at
  // deployment they are yesterday's and today's loads of the same table.
  // Plan shape: ONE full-outer sort-merge join on the PK — both snapshots
  // hash-partition on the key, no broadcast (snapshots are same-sized by
  // definition), null-side tests classify. This is the merge/diff kernel
  // behind upsert auditing and SCD2 change capture (sink_scd2).
  // --------------------------------------------------------------------
  private val snapshotDiff = Op("snapshot_diff", {
    def h(salt: String) =
      h60Sql(s"concat('$salt', CAST(c_custkey AS VARCHAR))")
    s"""WITH old AS (
       |  SELECT c_custkey, c_acctbal FROM customer WHERE ${h("add:")} % 13 <> 0),
       |new AS (
       |  SELECT c_custkey,
       |    CASE WHEN ${h("upd:")} % 11 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
       |  FROM customer WHERE ${h("del:")} % 17 <> 0)
       |SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
       |  CASE WHEN o.c_custkey IS NULL THEN 'added'
       |       WHEN n.c_custkey IS NULL THEN 'removed'
       |       ELSE 'changed' END AS status,
       |  o.c_acctbal AS old_bal, n.c_acctbal AS new_bal
       |FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
       |WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
       |   OR o.c_acctbal IS DISTINCT FROM n.c_acctbal
       |ORDER BY c_custkey""".stripMargin
  }) { (s, d) =>
    def h(salt: String) = h60(concat(lit(salt), col("c_custkey").cast("string")))
    val cust = t(s, d, "customer")
    val old = cust.filter(h("add:") % 13 =!= 0).select("c_custkey", "c_acctbal")
    val nw = cust.filter(h("del:") % 17 =!= 0)
      .select(col("c_custkey"),
        when(h("upd:") % 11 === 0, col("c_acctbal") + 100.0)
          .otherwise(col("c_acctbal")).as("c_acctbal"))
    // Null-safe change test (<=> / IS DISTINCT FROM): a key whose compared
    // column went NULL→value or value→NULL must classify as 'changed', and
    // NULL→NULL as unchanged — plain <> drops both under 3VL.
    old.as("o").join(nw.as("n"), col("o.c_custkey") === col("n.c_custkey"), "full_outer")
      .filter(col("o.c_custkey").isNull || col("n.c_custkey").isNull ||
        !(col("o.c_acctbal") <=> col("n.c_acctbal")))
      .select(
        coalesce(col("o.c_custkey"), col("n.c_custkey")).as("c_custkey"),
        when(col("o.c_custkey").isNull, "added")
          .when(col("n.c_custkey").isNull, "removed")
          .otherwise("changed").as("status"),
        col("o.c_acctbal").as("old_bal"), col("n.c_acctbal").as("new_bal"))
      .orderBy("c_custkey")
  }

  // --------------------------------------------------------------------
  // skew_report — pre-join key-skew diagnostic: per-key cardinality of a
  // join/aggregation key (here lineitem.l_suppkey), top 25 heavy hitters
  // with their share and cumulative share of all rows in integer basis
  // points. This is the profile you run BEFORE choosing a join strategy
  // at 100 TB — it tells you whether the key needs salting
  // (join_skew_salted) or AQE skew splitting, and which keys carry the
  // head of the distribution.
  //
  // Scale shape: ONE map-side-combinable hash aggregate (|keys| rows out
  // of the scan), TakeOrderedAndProject for the top 25 (per-partition
  // heaps, no global sort), a 1-row total broadcast, and the running-sum
  // window runs over the 25 surviving rows only. Integer arithmetic
  // (`div` / `//` truncation on non-negative counts) keeps both engines
  // bit-identical.
  // --------------------------------------------------------------------
  private val skewReport = Op("skew_report",
    """WITH k AS (
      |  SELECT l_suppkey AS key, count(*) AS cnt FROM lineitem GROUP BY l_suppkey),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM k),
      |top AS (SELECT key, cnt FROM k ORDER BY cnt DESC, key LIMIT 25)
      |SELECT key, cnt,
      |  cnt * 10000 // total AS share_bp,
      |  CAST(sum(cnt) OVER (ORDER BY cnt DESC, key
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) * 10000 // total AS cum_bp,
      |  CAST(row_number() OVER (ORDER BY cnt DESC, key) AS BIGINT) AS rnk
      |FROM top, tot ORDER BY rnk""".stripMargin) { (s, d) =>
    val k = t(s, d, "lineitem").groupBy(col("l_suppkey").as("key"))
      .agg(count(lit(1)).as("cnt"))
    val tot = k.agg(sum("cnt").as("total"))
    val top = k.orderBy(col("cnt").desc, col("key").asc).limit(25)
    val ord = Window.orderBy(col("cnt").desc, col("key").asc)
    top.crossJoin(broadcast(tot))
      .withColumn("cum",
        sum("cnt").over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("key"), col("cnt"),
        expr("cnt * 10000 div total").as("share_bp"),
        expr("cum * 10000 div total").as("cum_bp"),
        row_number().over(ord).cast("long").as("rnk"))
      .orderBy("rnk")
  }

  // --------------------------------------------------------------------
  // dq_check — declarative data-quality gate: a fixed rule set (range,
  // non-null, PK uniqueness, referential integrity) evaluated in bulk,
  // one (rule, n_violations) row each — the report a load pipeline
  // asserts on before publishing a batch (the reference hard-errors on
  // its PK precondition the same way, ETLProcess.java:214-233).
  //
  // Scale shape: all per-row rules over one table fuse into a SINGLE
  // conditional-count scan (no rule-per-pass rescans); PK uniqueness is
  // one keyed aggregate; referential integrity is one LEFT ANTI join
  // (dim side broadcast-eligible). Each branch reduces to a 1-row count
  // before the final tiny union — at 100 TB the report costs two fact
  // scans + one agg + one join, independent of the rule count.
  // --------------------------------------------------------------------
  private val dqCheck = Op("dq_check",
    """WITH li AS (
      |  SELECT
      |    count(CASE WHEN l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50
      |          THEN 1 END) AS qty_range,
      |    count(CASE WHEN l_extendedprice IS NULL OR l_extendedprice <= 0
      |          THEN 1 END) AS nonpos_price,
      |    count(CASE WHEN l_shipdate IS NULL THEN 1 END) AS null_ship
      |  FROM lineitem),
      |pk AS (
      |  SELECT count(*) AS pk_dup FROM (
      |    SELECT l_orderkey, l_linenumber FROM lineitem
      |    GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)),
      |orph AS (
      |  SELECT count(*) AS orphan FROM orders o
      |  WHERE o_custkey IS NOT NULL
      |    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
      |od AS (
      |  SELECT
      |    count(CASE WHEN o_orderdate IS NULL THEN 1 END) AS null_odate,
      |    count(CASE WHEN o_custkey IS NULL THEN 1 END) AS null_ck
      |  FROM orders)
      |SELECT rule, n_violations FROM (
      |  SELECT 'lineitem_qty_out_of_range' AS rule, qty_range AS n_violations FROM li
      |  UNION ALL SELECT 'lineitem_nonpositive_price', nonpos_price FROM li
      |  UNION ALL SELECT 'lineitem_null_shipdate', null_ship FROM li
      |  UNION ALL SELECT 'lineitem_pk_duplicate', pk_dup FROM pk
      |  UNION ALL SELECT 'orders_orphan_custkey', orphan FROM orph
      |  UNION ALL SELECT 'orders_null_orderdate', null_odate FROM od
      |  UNION ALL SELECT 'orders_null_custkey', null_ck FROM od)
      |ORDER BY rule""".stripMargin) { (s, d) =>
    val li = t(s, d, "lineitem")
    val liAgg = li.agg(
      count(when(col("l_quantity").isNull || col("l_quantity") < 1
        || col("l_quantity") > 50, 1)).as("qty_range"),
      count(when(col("l_extendedprice").isNull
        || col("l_extendedprice") <= 0, 1)).as("nonpos_price"),
      count(when(col("l_shipdate").isNull, 1)).as("null_ship"))
    val pkDup = li.groupBy("l_orderkey", "l_linenumber").count()
      .filter(col("count") > 1).agg(count(lit(1)).as("pk_dup"))
    val orders = t(s, d, "orders")
    // NULL FKs are their own rule below — the anti join counts genuine
    // orphans only (NOT IN's 3VL would silently drop the whole count on
    // a single NULL key; the IS NOT NULL guard keeps engines aligned)
    val orphan = orders.filter(col("o_custkey").isNotNull)
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("orphan"))
    val odAgg = orders.agg(
      count(when(col("o_orderdate").isNull, 1)).as("null_odate"),
      count(when(col("o_custkey").isNull, 1)).as("null_ck"))
    liAgg.selectExpr(
        """stack(3,
          |  'lineitem_qty_out_of_range', qty_range,
          |  'lineitem_nonpositive_price', nonpos_price,
          |  'lineitem_null_shipdate', null_ship) AS (rule, n_violations)""".stripMargin)
      .unionAll(pkDup.select(lit("lineitem_pk_duplicate").as("rule"),
        col("pk_dup").as("n_violations")))
      .unionAll(orphan.select(lit("orders_orphan_custkey").as("rule"),
        col("orphan").as("n_violations")))
      .unionAll(odAgg.selectExpr(
        """stack(2,
          |  'orders_null_orderdate', null_odate,
          |  'orders_null_custkey', null_ck) AS (rule, n_violations)""".stripMargin))
      .orderBy("rule")
  }

  // --------------------------------------------------------------------
  // gap_fill — gap_detect's constructive twin: densify a sparse daily
  // series onto a complete calendar spine and forward-fill the metric
  // (the standard time-series prep before rolling windows / model
  // features, where a missing day must mean "carry the last observation"
  // rather than silently vanish). Emits the fill provenance (was_missing)
  // so downstream can weight or exclude imputed points.
  //
  // Scale shape: the series is the day-grained aggregate of the filtered
  // fact scan — calendar-bounded at ANY fact volume (same argument as
  // win_rolling_median); the spine generates from a 1-row bounds
  // broadcast (declared), and the forward-fill is one IGNORE-NULLS
  // last() window over the bounded series. A per-key fill partitions
  // the same windows by that key.
  // --------------------------------------------------------------------
  private val gapFill = Op("gap_fill",
    """WITH d AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE c_nationkey = 7 AND o_orderpriority = '1-URGENT'
      |  GROUP BY 1),
      |b AS (SELECT min(day) AS mn, max(day) AS mx FROM d),
      |spine AS (SELECT CAST(unnest(generate_series(
      |    CAST(mn AS TIMESTAMP), CAST(mx AS TIMESTAMP), INTERVAL 1 DAY))
      |    AS DATE) AS day FROM b),
      |j AS (SELECT s.day, d.rev FROM spine s LEFT JOIN d ON s.day = d.day)
      |SELECT day,
      |  CAST(last_value(rev IGNORE NULLS) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev_ff,
      |  (rev IS NULL) AS was_missing
      |FROM j ORDER BY day""".stripMargin) { (s, d) =>
    val daily = t(s, d, "orders")
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .filter(col("c_nationkey") === 7 && col("o_orderpriority") === "1-URGENT")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
    val spine = daily.agg(min("day").as("mn"), max("day").as("mx"))
      .select(explode(sequence(col("mn"), col("mx"), expr("interval 1 day"))).as("day"))
    spine.join(daily, Seq("day"), "left")
      .select(col("day"),
        last("rev", ignoreNulls = true)
          .over(Window.orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("rev_ff"),
        col("rev").isNull.as("was_missing"))
      .orderBy("day")
  }

  // --------------------------------------------------------------------
  // dataset_card — the publishable corpus datasheet: one (metric, value)
  // row per headline statistic a dataset release documents (doc counts,
  // null coverage, char/token volume, language/source cardinality,
  // median length, exact-duplicate mass). Every metric is an EXACT
  // INTEGER — no ratio or float ever leaves the op, so the card is
  // bit-reproducible on any engine at any partitioning (downstream
  // renderers divide for display).
  //
  // Scale shape: 3 passes — (1) ONE fused aggregate for the seven
  // single-pass metrics (the two COUNT DISTINCTs ride the same Expand;
  // at 100 TB swap them for approx_count_distinct), (2) the discrete
  // median via TakeOrderedAndProject over the (n_chars, doc_id) order —
  // per-partition heaps of k, honest only while k fits the driver, so
  // the 100 TB swap is the approx_percentile sketch (outlier_filter
  // precedent), (3) the md5-group dup mass (dedup_exact's aggregate).
  // --------------------------------------------------------------------
  private val datasetCard = Op("dataset_card",
    """WITH base AS (
      |  SELECT count(*) AS n_docs,
      |    count(*) FILTER (WHERE text IS NULL) AS n_null_text,
      |    CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS total_chars,
      |    CAST(COALESCE(SUM(len(string_split(text, ' '))), 0) AS BIGINT)
      |      AS total_ws_tokens,
      |    count(DISTINCT lang) AS n_langs,
      |    count(DISTINCT source) AS n_sources,
      |    COALESCE(max(n_chars), 0) AS max_chars
      |  FROM documents),
      |med AS (
      |  SELECT COALESCE(max(CASE WHEN rn = (n + 1) // 2 THEN n_chars END), 0)
      |      AS p50_chars
      |  FROM (SELECT n_chars,
      |          row_number() OVER (ORDER BY n_chars, doc_id) AS rn,
      |          count(*) OVER () AS n
      |        FROM documents WHERE n_chars IS NOT NULL)),
      |dup AS (
      |  SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS exact_dup_docs
      |  FROM (SELECT count(*) AS c FROM documents WHERE text IS NOT NULL
      |        GROUP BY md5(text) HAVING count(*) > 1))
      |SELECT metric, value FROM (
      |  SELECT 'n_docs' AS metric, n_docs AS value FROM base
      |  UNION ALL SELECT 'n_null_text', n_null_text FROM base
      |  UNION ALL SELECT 'total_chars', total_chars FROM base
      |  UNION ALL SELECT 'total_ws_tokens', total_ws_tokens FROM base
      |  UNION ALL SELECT 'n_langs', n_langs FROM base
      |  UNION ALL SELECT 'n_sources', n_sources FROM base
      |  UNION ALL SELECT 'max_chars', max_chars FROM base
      |  UNION ALL SELECT 'p50_chars', p50_chars FROM med
      |  UNION ALL SELECT 'exact_dup_docs', exact_dup_docs FROM dup)
      |ORDER BY metric""".stripMargin) { (s, d) =>
    val docs = t(s, d, "documents")
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      count(when(col("text").isNull, 1)).as("n_null_text"),
      coalesce(sum("n_chars"), lit(0L)).as("total_chars"),
      coalesce(sum(size(words(col("text"))).cast("long")), lit(0L))
        .as("total_ws_tokens"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      coalesce(max("n_chars"), lit(0L)).as("max_chars"))
    // discrete median: k-th smallest by the TOTAL (n_chars, doc_id) order,
    // k = ⌈n/2⌉ — fetched as max over the k-prefix so the plan is
    // TakeOrderedAndProject (per-partition heaps), never a global sort
    val nn = docs.filter(col("n_chars").isNotNull)
    val k = ((nn.count() + 1) / 2).toInt
    val med =
      if (k == 0) base.select(lit(0L).as("p50_chars"))
      else nn.orderBy(col("n_chars").asc, col("doc_id").asc).limit(k)
        .agg(max("n_chars").as("p50_chars"))
    val dup = docs.filter(col("text").isNotNull)
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .agg(coalesce(sum("c"), lit(0L)).as("exact_dup_docs"))
    val baseRows = base.select(expr(
      """stack(7,
        |  'n_docs', n_docs, 'n_null_text', n_null_text,
        |  'total_chars', total_chars, 'total_ws_tokens', total_ws_tokens,
        |  'n_langs', n_langs, 'n_sources', n_sources,
        |  'max_chars', max_chars) AS (metric, value)""".stripMargin))
    baseRows
      .unionByName(med.select(lit("p50_chars").as("metric"),
        col("p50_chars").cast("long").as("value")))
      .unionByName(dup.select(lit("exact_dup_docs").as("metric"),
        col("exact_dup_docs").cast("long").as("value")))
      .select(col("metric"), col("value").cast("long").as("value"))
      .orderBy("metric")
  }

  // --------------------------------------------------------------------
  // split_temporal — time-cutoff train/holdout split with an entity-
  // leakage audit: events before the cutoff train, events at/after it
  // evaluate, and the audit counts users present on BOTH sides (the
  // classic time-series leak — a per-user model memorizes its holdout
  // users' training behavior; honest temporal eval needs the overlap
  // quantified, and entity-disjoint splits need it to be ZERO). leak_bp =
  // shared·10000 div holdout-users in pure integer basis points.
  //
  // Scale shape: one fact pass to a (type, user) grid with two
  // conditional counts (map-side combine; grid ≤ |types|×|users|), then
  // a grid-level re-aggregate to |types| rows. No count-distinct Expand:
  // the per-user grid IS the distinct, and both aggregates share the
  // event_type key so the second one is grid-sized.
  // --------------------------------------------------------------------
  private val splitTemporal = Op("split_temporal", {
    val cut = "TIMESTAMP '2024-01-24'"
    s"""WITH g AS (
       |  SELECT event_type, user_id,
       |    count(*) FILTER (WHERE ts <  $cut) AS n_tr,
       |    count(*) FILTER (WHERE ts >= $cut) AS n_ho
       |  FROM events WHERE ts IS NOT NULL
       |  GROUP BY 1, 2)
       |SELECT event_type,
       |  CAST(SUM(n_tr) AS BIGINT) AS n_train,
       |  CAST(SUM(n_ho) AS BIGINT) AS n_holdout,
       |  count(*) FILTER (WHERE n_tr > 0) AS u_train,
       |  count(*) FILTER (WHERE n_ho > 0) AS u_holdout,
       |  count(*) FILTER (WHERE n_tr > 0 AND n_ho > 0) AS u_leaked,
       |  CASE WHEN count(*) FILTER (WHERE n_ho > 0) = 0 THEN 0
       |       ELSE count(*) FILTER (WHERE n_tr > 0 AND n_ho > 0) * 10000
       |            // count(*) FILTER (WHERE n_ho > 0) END AS leak_bp
       |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin
  }) { (s, d) =>
    splitTemporalView(splitTemporalGrid(t(s, d, "events")))
  }

  /** The (type, user) conditional-count grid — split_temporal's only
    * fact-scale pass, shared with the streaming twin
    * ([[graft.streaming.Streams.leak]]): the grid is ALGEBRAIC (two
    * counts per key), so a stream folds per-batch partials into it with
    * a keyed SUM merge and [[splitTemporalView]] reproduces the batch op
    * exactly at any batch cut. */
  private[graft] def splitTemporalGrid(events: DataFrame): DataFrame = {
    val cut = lit("2024-01-24").cast("timestamp")
    events.filter(col("ts").isNotNull)
      .groupBy("event_type", "user_id")
      .agg(count(when(col("ts") < cut, 1)).as("n_tr"),
        count(when(col("ts") >= cut, 1)).as("n_ho"))
  }

  /** Leakage audit over a completed (type, user) grid — the flags
    * (n_tr>0, n_ho>0) must be evaluated AFTER the fold completes, which
    * is why the grid, not the audit row, is the streaming state: a user
    * whose first holdout event arrives in a later batch flips from
    * clean to leaked, and only the grid form can express that. */
  private[graft] def splitTemporalView(grid: DataFrame): DataFrame =
    grid.groupBy("event_type")
      .agg(sum("n_tr").as("n_train"), sum("n_ho").as("n_holdout"),
        count(when(col("n_tr") > 0, 1)).as("u_train"),
        count(when(col("n_ho") > 0, 1)).as("u_holdout"),
        count(when(col("n_tr") > 0 && col("n_ho") > 0, 1)).as("u_leaked"))
      .select(col("event_type"), col("n_train"), col("n_holdout"),
        col("u_train"), col("u_holdout"), col("u_leaked"),
        when(col("u_holdout") === 0, lit(0L))
          .otherwise(expr("u_leaked * 10000 div u_holdout")).as("leak_bp"))
      .orderBy("event_type")

  // --------------------------------------------------------------------
  // benford_audit — first-significant-digit distribution of the ledger
  // values vs Benford's law, per event type: the classic fabricated-data /
  // unit-mix-up screen on any financial column. Runs on the house
  // cents-quantized value (DECIMAL(18,2)·100 → BIGINT), so digit
  // extraction is INTEGER-to-string — no float-formatting fork between
  // engines; zero-cent values carry no leading significant digit and are
  // excluded (declared). Expected shares are the 9 Benford constants
  // round(10⁴·log₁₀(1+1/d)) hardcoded identically on both sides (they sum
  // to exactly 10000). χ²₈ per type via the drift_report discipline: each
  // of the 9 terms is a fixed scalar IEEE tree over exactly-agreed
  // integers, quantized to DECIMAL(28,9), then summed EXACTLY (the 9-term
  // float sum would be partial-order-dependent); skewed flags the 95%
  // χ²₈ critical value. Digits with zero observations still contribute
  // ((0−e)²/e) via the type×digit scaffold.
  //
  // Scale shape: ONE fact pass into the (type, digit) grid (≤ 9·|types|
  // rows, map-side combine); scaffold, totals, and χ² are all grid-sized
  // windows. Overflow bound: |10⁴·o − n·e| stays in BIGINT to n ≈ 9·10¹⁴
  // events per type (a quadrillion rows); beyond that, widen to the
  // decimal term first.
  // --------------------------------------------------------------------
  private val BenfordBp = Seq(3010, 1761, 1249, 969, 792, 669, 580, 512, 458)
  private val Chi2Crit8 = "15.507" // 95% critical value, chi-square df=8

  private val benfordAudit = Op("benford_audit", {
    val lst = BenfordBp.mkString("[", ",", "]")
    s"""WITH b AS (
       |  SELECT event_type,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
       |d AS (
       |  SELECT event_type,
       |    CAST(substr(CAST(abs(cents) AS VARCHAR), 1, 1) AS INT) AS digit
       |  FROM b WHERE cents <> 0),
       |c AS (SELECT event_type, digit, count(*) AS n_obs FROM d GROUP BY 1, 2),
       |sc AS (SELECT t.event_type, g.digit
       |       FROM (SELECT DISTINCT event_type FROM c) t,
       |            (SELECT CAST(unnest(range(1, 10)) AS INT) AS digit) g),
       |g AS (SELECT sc.event_type, sc.digit, COALESCE(c.n_obs, 0) AS n_obs
       |      FROM sc LEFT JOIN c
       |        ON c.event_type = sc.event_type AND c.digit = sc.digit),
       |e AS (SELECT *,
       |        CAST(sum(n_obs) OVER (PARTITION BY event_type) AS BIGINT) AS n,
       |        $lst[digit] AS exp_bp
       |      FROM g),
       |t AS (SELECT *,
       |        n_obs * 10000 // n AS obs_bp,
       |        CAST((CAST(10000 * n_obs - n * exp_bp AS DOUBLE)
       |              * CAST(10000 * n_obs - n * exp_bp AS DOUBLE))
       |             / (CAST(10000 AS DOUBLE) * CAST(n AS DOUBLE)
       |                * CAST(exp_bp AS DOUBLE))
       |          AS DECIMAL(28,9)) AS term
       |      FROM e)
       |SELECT event_type, digit, n_obs, n, obs_bp,
       |  CAST(exp_bp AS BIGINT) AS exp_bp, obs_bp - exp_bp AS dev_bp,
       |  CAST(sum(term) OVER (PARTITION BY event_type) AS DOUBLE) AS chi2,
       |  CAST(sum(term) OVER (PARTITION BY event_type) AS DOUBLE)
       |    > CAST($Chi2Crit8 AS DOUBLE) AS skewed
       |FROM t ORDER BY event_type, digit""".stripMargin
  }) { (s, d) =>
    benfordView(benfordGrid(t(s, d, "events")))
  }

  /** The (event_type, digit, digit2) observation grid — the ONE
    * fact-scale pass behind BOTH Benford screens (benford_audit's
    * first-digit χ² and benford_second's second-digit χ²), shared with
    * the streaming twin ([[graft.streaming.Streams.benford]]): cells
    * are ALGEBRAIC counts keyed by the first TWO significant digits
    * (digit2 NULL when |cents| < 10 — a one-digit amount has no second
    * digit), so a stream folds per-batch partials in with a keyed SUM
    * merge and each view reproduces its batch audit at any batch cut —
    * the fabricated-data screens recomputed as ledger rows arrive. The
    * finer key costs ≤90·|types| cells instead of ≤9·|types| — still
    * grid-sized at any corpus scale. NULL event_type rows have no
    * per-type cell (a NULL scaffold key would never equi-join back) —
    * excluded, like the type-keyed stats ops. */
  private[graft] def benfordGrid(events: DataFrame): DataFrame =
    events
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
      .filter(col("cents") =!= 0)
      .select(col("event_type"), abs(col("cents")).cast("string").as("ds"))
      .select(col("event_type"),
        substring(col("ds"), 1, 1).cast("int").as("digit"),
        // one-digit amounts have no second digit → NULL (the guard, not a
        // bare cast: ANSI mode throws on CAST('' AS INT))
        when(length(col("ds")) >= 2, substring(col("ds"), 2, 1))
          .cast("int").as("digit2"))
      .groupBy("event_type", "digit", "digit2").agg(count(lit(1)).as("n_obs"))

  /** Zero-count scaffold without a join OR a second pass: one grid-sized
    * aggregate folds each type's observed cells into a digit→count map,
    * then every scaffold digit reads the map (missing → 0). The previous
    * distinct-types × digits LEFT JOIN formulation planned the type list
    * as a SECOND column-pruned fact scan (Catalyst pushes the projection
    * through the grid aggregate, and the legs prune differently so no
    * exchange reuse saves it) — this shape keeps ONE lineage, so "one
    * fact pass" is a plan fact, not a comment. */
  private def digitScaffold(counts: DataFrame, digitCol: String,
      lo: Int, hi: Int): DataFrame =
    counts.groupBy("event_type")
      .agg(map_from_entries(
        collect_list(struct(col(digitCol), col("n_obs")))).as("m"))
      .select(col("event_type"),
        explode(sequence(lit(lo), lit(hi))).as(digitCol), col("m"))
      .select(col("event_type"), col(digitCol),
        // try_element_at, not element_at: ANSI mode throws on a missing
        // map key, and "missing" is exactly the zero-count cell
        coalesce(try_element_at(col("m"), col(digitCol)), lit(0L)).as("n_obs"))

  /** Scaffold + χ² over a completed grid (grid-sized input: ≤90·|types|
    * rows). Folds the two-digit grid down to first-digit cells first —
    * the digit2 refinement exists for [[benfordSecondView]] and costs
    * this view one grid-sized re-aggregate. */
  /** Scaffolded per-(type, digit) cells with totals and expected bp —
    * the stage shared by the χ² views AND benford_mad, so every Benford
    * statistic provably reads the same cells. `expAt1` is the 1-based
    * index of the digit in `expBp` minus the digit value (0 for the
    * first-digit 1..9 grid, 1 for the second-digit 0..9 grid). */
  private def benfordCells(counts: DataFrame, digitCol: String,
      lo: Int, hi: Int, expBp: Seq[Int]): DataFrame = {
    val wT = Window.partitionBy("event_type")
    digitScaffold(counts, digitCol, lo, hi)
      .withColumn("n", sum("n_obs").over(wT))
      .withColumn("exp_bp",
        element_at(array(expBp.map(lit): _*), col(digitCol) + lit(1 - lo)))
  }

  private[graft] def benfordView(counts2: DataFrame): DataFrame = {
    val counts = counts2.groupBy("event_type", "digit")
      .agg(sum(col("n_obs")).as("n_obs"))
    val wT = Window.partitionBy("event_type")
    val grid = benfordCells(counts, "digit", 1, 9, BenfordBp)
    val num = (lit(10000L) * col("n_obs") - col("n") * col("exp_bp")).cast("double")
    val scored = grid
      .withColumn("term",
        (num * num / (lit(10000d) * col("n").cast("double")
          * col("exp_bp").cast("double"))).cast(DecimalType(28, 9)))
      .withColumn("chi2", sum("term").over(wT).cast("double"))
    scored.select(col("event_type"), col("digit"), col("n_obs"), col("n"),
        expr("n_obs * 10000 div n").as("obs_bp"),
        col("exp_bp").cast("long").as("exp_bp"),
        (expr("n_obs * 10000 div n") - col("exp_bp")).as("dev_bp"),
        col("chi2"),
        (col("chi2") > lit(Chi2Crit8).cast("double")).as("skewed"))
      .orderBy("event_type", "digit")
  }

  // --------------------------------------------------------------------
  // benford_second — the SECOND-digit Benford screen over the same grid:
  // second digits are far harder to fake than first digits (a fraudster
  // padding invoices keeps plausible leading digits but rounds the rest),
  // so forensic accounting runs both tests as a pair (Nigrini's
  // first/second-digit battery). Expected shares are the exact
  // second-digit law p(d₂) = Σ_{d₁=1..9} log₁₀(1 + 1/(10·d₁+d₂)),
  // quantized to basis points by LARGEST-REMAINDER apportionment so the
  // 10 constants sum to exactly 10000 (plain rounding gives 10001 — the
  // d₂=7 cell carries the adjustment), hardcoded identically on both
  // engines like the first-digit constants. χ²₉ per type, 95% critical
  // value 16.919. One-digit amounts (|cents| < 10) carry no second digit
  // and are excluded (declared — the digit2-NULL grid cells); a type
  // whose every amount is one-digit has no row (the observed-types
  // scaffold rule benford_audit already uses, which also keeps every
  // obs_bp division nonzero on both engines).
  //
  // Scale shape: ZERO new fact-scale work — the screen is a grid-sized
  // view over the (type, digit, digit2) cells the first-digit audit
  // already produces, so a deployment running both screens (or the
  // streaming twin's stored state) pays ONE events pass total.
  // --------------------------------------------------------------------
  private val BenfordBp2 = Seq(1197, 1139, 1088, 1043, 1003, 967, 934, 903, 876, 850)
  private val Chi2Crit9 = "16.919" // 95% critical value, chi-square df=9

  private val benfordSecond = Op("benford_second", {
    val lst = BenfordBp2.mkString("[", ",", "]")
    s"""WITH b AS (
       |  SELECT event_type,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
       |d AS (
       |  SELECT event_type,
       |    CAST(substr(CAST(abs(cents) AS VARCHAR), 2, 1) AS INT) AS digit2
       |  FROM b WHERE cents <> 0 AND length(CAST(abs(cents) AS VARCHAR)) >= 2),
       |c AS (SELECT event_type, digit2, count(*) AS n_obs FROM d GROUP BY 1, 2),
       |sc AS (SELECT t.event_type, g.digit2
       |       FROM (SELECT DISTINCT event_type FROM c) t,
       |            (SELECT CAST(unnest(range(0, 10)) AS INT) AS digit2) g),
       |g AS (SELECT sc.event_type, sc.digit2, COALESCE(c.n_obs, 0) AS n_obs
       |      FROM sc LEFT JOIN c
       |        ON c.event_type = sc.event_type AND c.digit2 = sc.digit2),
       |e AS (SELECT *,
       |        CAST(sum(n_obs) OVER (PARTITION BY event_type) AS BIGINT) AS n,
       |        $lst[digit2 + 1] AS exp_bp
       |      FROM g),
       |t AS (SELECT *,
       |        n_obs * 10000 // n AS obs_bp,
       |        CAST((CAST(10000 * n_obs - n * exp_bp AS DOUBLE)
       |              * CAST(10000 * n_obs - n * exp_bp AS DOUBLE))
       |             / (CAST(10000 AS DOUBLE) * CAST(n AS DOUBLE)
       |                * CAST(exp_bp AS DOUBLE))
       |          AS DECIMAL(28,9)) AS term
       |      FROM e)
       |SELECT event_type, digit2, n_obs, n, obs_bp,
       |  CAST(exp_bp AS BIGINT) AS exp_bp, obs_bp - exp_bp AS dev_bp,
       |  CAST(sum(term) OVER (PARTITION BY event_type) AS DOUBLE) AS chi2,
       |  CAST(sum(term) OVER (PARTITION BY event_type) AS DOUBLE)
       |    > CAST($Chi2Crit9 AS DOUBLE) AS skewed
       |FROM t ORDER BY event_type, digit2""".stripMargin
  }) { (s, d) =>
    benfordSecondView(benfordGrid(t(s, d, "events")))
  }

  /** Second-digit scaffold + χ² over a completed two-digit grid (the
    * [[benfordGrid]] cells / the streaming twin's state) — grid-sized. */
  private[graft] def benfordSecondView(counts2: DataFrame): DataFrame = {
    val counts = counts2.filter(col("digit2").isNotNull)
      .groupBy("event_type", "digit2").agg(sum(col("n_obs")).as("n_obs"))
    val wT = Window.partitionBy("event_type")
    val grid = benfordCells(counts, "digit2", 0, 9, BenfordBp2)
    val num = (lit(10000L) * col("n_obs") - col("n") * col("exp_bp")).cast("double")
    val scored = grid
      .withColumn("term",
        (num * num / (lit(10000d) * col("n").cast("double")
          * col("exp_bp").cast("double"))).cast(DecimalType(28, 9)))
      .withColumn("chi2", sum("term").over(wT).cast("double"))
    scored.select(col("event_type"), col("digit2"), col("n_obs"), col("n"),
        expr("n_obs * 10000 div n").as("obs_bp"),
        col("exp_bp").cast("long").as("exp_bp"),
        (expr("n_obs * 10000 div n") - col("exp_bp")).as("dev_bp"),
        col("chi2"),
        (col("chi2") > lit(Chi2Crit9).cast("double")).as("skewed"))
      .orderBy("event_type", "digit2")
  }

  // --------------------------------------------------------------------
  // benford_mad — Nigrini's Mean Absolute Deviation as the SECOND test
  // statistic over the same two-digit grid: χ² rejects everything at
  // scale (its critical value is fixed while deviations shrink as 1/√n,
  // so at millions of ledger rows even textbook-clean data "fails"), so
  // forensic practice reads MAD = Σ_d |observed_d − expected_d| / D,
  // which is SIZE-INVARIANT, against Nigrini's published conformity
  // bands — first digits 0.006/0.012/0.015, second digits
  // 0.008/0.010/0.012 (close / acceptable / marginally-acceptable /
  // nonconformity). Exactly the statistic a 100 TB ledger audit needs
  // next to the χ² flag. The BAND decision is EXACT integer arithmetic:
  // mad < τ  ⟺  Σ_d |10⁴·o_d − n·e_d| < (τ·10⁴)·n·D, so both engines
  // compare BIGINTs — the reported double mad is presentation only.
  // Missing digits contribute |0 − n·e_d| via the shared scaffold; the
  // per-type row for the second-digit test exists only for types with
  // ≥1 two-digit amount (the observed-types rule).
  //
  // Scale shape: two grid-sized folds over the ONE (type, d₁, d₂) grid
  // benford_audit already pays for (both consumers sit above the same
  // grid exchange — stage-reused at runtime); output ≤2·|types| rows.
  // --------------------------------------------------------------------
  private val MadBands1 = Seq(60, 120, 150) // τ·10⁴, first-digit test
  private val MadBands2 = Seq(80, 100, 120) // τ·10⁴, second-digit test

  private val benfordMad = Op("benford_mad", {
    def legSql(test: String, digitExpr: String, where: String,
        digits: String, expLst: String, d: Int, bands: Seq[Int]) =
      s"""SELECT event_type, '$test' AS test, n,
         |  CAST(sum_adev AS BIGINT) AS sum_adev,
         |  CAST(sum_adev AS DOUBLE) / (10000.0 * n * $d) AS mad,
         |  CASE WHEN sum_adev < ${bands(0)} * n * $d THEN 'close'
         |       WHEN sum_adev < ${bands(1)} * n * $d THEN 'acceptable'
         |       WHEN sum_adev < ${bands(2)} * n * $d THEN 'marginal'
         |       ELSE 'nonconformity' END AS band
         |FROM (
         |  SELECT event_type, CAST(max(n) AS BIGINT) AS n,
         |    CAST(sum(abs(10000 * n_obs - n * exp_bp)) AS BIGINT) AS sum_adev
         |  FROM (
         |    SELECT sc.event_type, sc.dg,
         |      COALESCE(c.n_obs, 0) AS n_obs,
         |      CAST(sum(COALESCE(c.n_obs, 0))
         |        OVER (PARTITION BY sc.event_type) AS BIGINT) AS n,
         |      $expLst[sc.dg + 1] AS exp_bp
         |    FROM (SELECT t.event_type, g.dg
         |          FROM (SELECT DISTINCT event_type FROM (
         |                  SELECT event_type, $digitExpr AS dg FROM b
         |                  WHERE $where) cd) t,
         |               (SELECT CAST(unnest($digits) AS INT) AS dg) g) sc
         |    LEFT JOIN (SELECT event_type, $digitExpr AS dg, count(*) AS n_obs
         |               FROM b WHERE $where GROUP BY 1, 2) c
         |      ON c.event_type = sc.event_type AND c.dg = sc.dg)
         |  GROUP BY 1)""".stripMargin
    val exp1 = BenfordBp.mkString("[0,", ",", "]") // pad: dg 1..9 → idx 2..10
    val exp2 = BenfordBp2.mkString("[", ",", "]")
    s"""WITH b AS (
       |  SELECT event_type,
       |    CAST(abs(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
       |      AS VARCHAR) AS ds
       |  FROM events
       |  WHERE value IS NOT NULL AND event_type IS NOT NULL
       |    AND CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) <> 0)
       |${legSql("first", "CAST(substr(ds, 1, 1) AS INT)", "TRUE",
           "range(1, 10)", exp1, 9, MadBands1)}
       |UNION ALL
       |${legSql("second", "CAST(substr(ds, 2, 1) AS INT)", "length(ds) >= 2",
           "range(0, 10)", exp2, 10, MadBands2)}
       |ORDER BY event_type, test""".stripMargin
  }) { (s, d) =>
    benfordMadView(benfordGrid(t(s, d, "events")))
  }

  /** Both MAD tests over a completed two-digit grid (the [[benfordGrid]]
    * cells / the streaming twin's state) — grid-sized, the third read
    * over the same stored state. */
  private[graft] def benfordMadView(counts2: DataFrame): DataFrame = {
    def leg(test: String, cells: DataFrame, digits: Int,
        bands: Seq[Int]): DataFrame = {
      val adev = abs(lit(10000L) * col("n_obs") - col("n") * col("exp_bp"))
      cells.groupBy("event_type")
        .agg(max(col("n")).as("n"), sum(adev).as("sum_adev"))
        .select(col("event_type"), lit(test).as("test"), col("n"),
          col("sum_adev"),
          (col("sum_adev").cast("double")
            / (lit(10000d) * col("n") * lit(digits))).as("mad"),
          when(col("sum_adev") < lit(bands(0).toLong) * col("n") * digits,
            "close")
            .when(col("sum_adev") < lit(bands(1).toLong) * col("n") * digits,
              "acceptable")
            .when(col("sum_adev") < lit(bands(2).toLong) * col("n") * digits,
              "marginal")
            .otherwise("nonconformity").as("band"))
    }
    val c1 = counts2.groupBy("event_type", "digit")
      .agg(sum(col("n_obs")).as("n_obs"))
    val c2 = counts2.filter(col("digit2").isNotNull)
      .groupBy("event_type", "digit2").agg(sum(col("n_obs")).as("n_obs"))
    leg("first", benfordCells(c1, "digit", 1, 9, BenfordBp), 9, MadBands1)
      .unionByName(
        leg("second", benfordCells(c2, "digit2", 0, 9, BenfordBp2), 10,
          MadBands2))
      .orderBy("event_type", "test")
  }

  // --------------------------------------------------------------------
  // numeric_sanitize — the non-finite ingestion gate: classify every
  // measure as ok / null / nan / inf and emit the sanitized value
  // (non-finite → NULL). This is the CONTRACT BOUNDARY for the whole
  // engine's numeric discipline: every decimal-exact aggregate downstream
  // (dsum, the moment ops, the cents quantizations) assumes finite
  // doubles — DuckDB hard-errors on CAST('nan' AS DECIMAL) while Spark
  // yields NULL, so an unsanitized NaN doesn't just skew results, it
  // makes the two engines DIVERGE STRUCTURALLY. A 100 TB pipeline runs
  // this gate (or its filter form) at ingestion and the rest of the
  // engine owes correctness only on its output. The invariant spec
  // proves the gate on a hand-built NaN/Inf fixture the driver data
  // cannot contain.
  //
  // NaN ordering trap, documented: Spark SQL treats NaN = NaN as TRUE
  // and sorts NaN above +Inf, DuckDB agrees — but only the isnan()
  // classification is portable arithmetic; the gate never compares NaN.
  // --------------------------------------------------------------------
  // Magnitude bound for the 'ok' verdict: |v| ≤ 10^12. This is where the
  // headroom math downstream starts from — DECIMAL(18,2) cents hold
  // |v| < 10^16, so a 10^12 gate leaves 4 orders of safety for sums
  // before any per-key aggregate can overflow the house quantizations
  // (and ANSI-mode Spark would ERROR on overflow where DuckDB widens to
  // HUGEINT — a structural divergence, the NaN argument again).
  private val SanitizeMaxAbs = 1e12

  private val numericSanitize = Op("numeric_sanitize",
    s"""SELECT event_id, value,
       |  CASE WHEN value IS NULL THEN 'null'
       |       WHEN isnan(value) THEN 'nan'
       |       WHEN isinf(value) THEN 'inf'
       |       WHEN abs(value) > CAST(${SanitizeMaxAbs.toLong} AS DOUBLE)
       |         THEN 'big'
       |       ELSE 'ok' END AS verdict,
       |  CASE WHEN isnan(value) OR isinf(value)
       |         OR abs(value) > CAST(${SanitizeMaxAbs.toLong} AS DOUBLE)
       |       THEN NULL ELSE value END AS clean_value
       |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
    val v = col("value")
    val isInf = v === lit(Double.PositiveInfinity) ||
      v === lit(Double.NegativeInfinity)
    val isBig = abs(v) > lit(SanitizeMaxAbs)
    t(s, d, "events")
      .select(col("event_id"), v,
        when(v.isNull, "null").when(isnan(v), "nan")
          .when(isInf, "inf").when(isBig, "big").otherwise("ok").as("verdict"),
        when(isnan(v) || isInf || isBig, lit(null).cast("double"))
          .otherwise(v).as("clean_value"))
      .orderBy("event_id")
  }

  // --------------------------------------------------------------------
  // vocab_growth — the Heaps-law saturation curve over the corpus in
  // ingestion order: per doc-id decile, how many NEW shingle types enter
  // the vocabulary vs shingle tokens seen — the "is the crawl still
  // finding new text or re-crawling what we have" read a corpus-assembly
  // job checks before paying for the next billion pages (new_types/decile
  // collapsing toward 0 = saturated; ngram_novelty is the per-DOC view of
  // the same question, this is the corpus trajectory). Vocabulary unit =
  // the house 5-word shingle, stage shared VERBATIM with decontaminate /
  // contamination_matrix (shingleStage), so the curve measures exactly
  // the currency the leakage gates run on. Deciles are doc-id RANGE
  // bands ((doc_id − lo)·10 div (hi − lo + 1) — deterministic and
  // scan-stage, unlike an ntile over the corpus which would funnel every
  // doc through one partition); a shingle's entry decile = min over its
  // occurrences. All exact int64; NULL-text docs excluded (declared,
  // matching the shingle stage).
  //
  // Scale shape: anchors are a 2-cell aggregate broadcast back as a
  // 1-row BNLJ (anomaly_mad pattern); ONE shingle pass feeds (a) a
  // map-side-combined per-decile token count and (b) a min-decile-per-
  // hash grid (fixed-width keys, token-scale — the tf_idf family) that
  // collapses to ≤10 rows; the cumulative window runs over ≤10 rows.
  // --------------------------------------------------------------------
  private val vocabGrowth = Op("vocab_growth", {
    val shingle = s"array_to_string(list_slice(w, i+1, i+$DecontN), ' ')"
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
       |           FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
       |a AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM t),
       |sh AS (SELECT (doc_id - lo) * 10 // (hi - lo + 1) AS decile,
       |         unnest(list_transform(range(0, greatest(len(w) - ${DecontN - 1}, 1)),
       |                i -> ${h60Sql(shingle)})) AS h
       |       FROM t, a),
       |g AS (SELECT decile, h, count(*) AS cnt FROM sh GROUP BY 1, 2),
       |tok AS (SELECT decile, CAST(SUM(cnt) AS BIGINT) AS n_tri FROM g GROUP BY 1),
       |fd AS (SELECT h, min(decile) AS entry FROM g GROUP BY 1),
       |nt AS (SELECT entry AS decile, count(*) AS new_types FROM fd GROUP BY 1),
       |docs AS (SELECT (doc_id - lo) * 10 // (hi - lo + 1) AS decile,
       |           count(*) AS n_docs
       |         FROM t, a GROUP BY 1)
       |SELECT d.decile, d.n_docs, tok.n_tri,
       |  COALESCE(nt.new_types, 0) AS new_types,
       |  CAST(SUM(COALESCE(nt.new_types, 0)) OVER (ORDER BY d.decile
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_types
       |FROM docs d
       |JOIN tok ON tok.decile = d.decile
       |LEFT JOIN nt ON nt.decile = d.decile
       |ORDER BY d.decile""".stripMargin
  }) { (s, d) =>
    val docs = t(s, d, "documents")
      .filter(col("text").isNotNull && col("doc_id").isNotNull)
    val bounds = docs.agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
    val dec = expr("(doc_id - lo) * 10 div (hi - lo + 1)")
    // ONE shingle pass collapses to the (decile, h, cnt) grid, then a
    // localCheckpoint cuts the token-scale lineage: the two downstream
    // aggregates would otherwise each re-run the whole hashing pass (the
    // bootstrap_ci double-generator lesson). The grid is bounded by
    // 10×|vocab| fixed-width rows — the tf_idf-family token grid.
    val g = shingleStage(docs).crossJoin(broadcast(bounds))
      .select(dec.as("decile"), col("h"))
      .groupBy("decile", "h").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val tok = g.groupBy("decile").agg(sum("cnt").as("n_tri"))
    val nt = g.groupBy("h").agg(min("decile").as("entry"))
      .groupBy(col("entry").as("decile")).agg(count(lit(1)).as("new_types"))
    val dGrid = docs.crossJoin(broadcast(bounds))
      .groupBy(dec.as("decile")).agg(count(lit(1)).as("n_docs"))
    val cum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dGrid.join(tok, Seq("decile"))
      .join(nt, Seq("decile"), "left")
      .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
      .withColumn("cum_types", sum("new_types").over(cum))
      .select(col("decile"), col("n_docs"), col("n_tri"),
        col("new_types"), col("cum_types"))
      .orderBy("decile")
  }

  // ------------------------------------------------------------------
  // vocab_growth streaming-twin stages. The batch op's (decile, h, cnt)
  // grid can't be folded (deciles re-band whenever the doc-id anchors
  // move), so the twin folds two ANCHOR-FREE grids instead:
  //   entry grid — (h, first_doc): keyed MIN fold, vocab-scale (the
  //     contamination presence-grid argument);
  //   doc grid — (doc_id, n_tri): keyed MAX fold (a doc's shingle count
  //     is deterministic, so max-merge is IDEMPOTENT — replays absorb).
  // The view re-bands from the completed fold. Equality with the batch
  // op is PROVABLE, not just tested: decile is monotone in doc_id, so
  // min(decile over occurrences) == decile(min doc_id) per shingle, and
  // per-decile token counts are sums of per-doc counts either way — the
  // parity drive pins it bit-for-bit anyway.
  // ------------------------------------------------------------------
  // ------------------------------------------------------------------
  // boilerplate_detect — the within-source boilerplate screen every web
  // curation pipeline runs BEFORE quality scoring: shingles that appear
  // in ≥20% of a SOURCE's documents are site furniture (headers,
  // footers, nav, cookie banners — content that repeats across pages,
  // not within one), and a doc dominated by them carries little signal.
  // Completes the repetition triad: repetition_filter is WITHIN-doc,
  // contamination_matrix is CROSS-source, this is cross-doc
  // WITHIN-source. Per doc: total shingle instances, boilerplate
  // instances, the ratio in integer bp, and the ≥30% flag — all exact
  // int64 (the flag is the cross-multiplied form n_bp·10 ≥ n_sh·3, no
  // division in the predicate). Currency = the SHARED DecontN-word
  // shingle hash (shingleStage, verbatim), so the screen measures the
  // same units the decontamination gate operates on.
  //
  // Scale shape: the doc-frequency grid is per-doc-DISTINCT → keyed
  // count (shingle-type-bounded, the contamination discipline — no
  // count(DISTINCT) Expand); source sizes are a |sources|-row aggregate;
  // the thresholded boilerplate SET (df·5 ≥ n_docs) is the small
  // broadcast side of the per-doc probe join, so the token-scale pass
  // never shuffles to find its matches. Both grids are ALGEBRAIC under
  // doc-at-most-once delivery (each doc's presence contribution is
  // batch-local), so the streaming twin folds them with keyed SUMs
  // ([[graft.streaming.Streams.boiler]]) and THIS view re-screens
  // any drop against the completed corpus statistics.
  // ------------------------------------------------------------------
  /** Per-source shingle doc-frequency grid (distinct per doc, then
    * keyed count — fold partials SUM because each doc arrives once). */
  private[graft] def boilerDfGrid(docs: DataFrame): DataFrame =
    shingleStage(docs).select("source", "h", "doc_id").distinct()
      .groupBy("source", "h").agg(count(lit(1)).as("df"))

  /** Per-source doc counts over the same input contract (text present). */
  private[graft] def boilerDocsGrid(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))

  /** The per-doc screen over completed grids: threshold to the
    * boilerplate set, broadcast it into the shingle-instance probe. */
  private[graft] def boilerView(docs: DataFrame, dfGrid: DataFrame,
      docsGrid: DataFrame): DataFrame = {
    // df >= 2 in addition to the 20% share: furniture must REPEAT — on a
    // source with ≤5 docs the share test alone degenerates to df ≥ 1 and
    // would flag every unique shingle
    val bpSet = dfGrid.join(broadcast(docsGrid), Seq("source"))
      .filter(col("df") >= 2 && col("df") * 5 >= col("n_docs"))
      .select(col("source"), col("h"), lit(1).as("is_bp"))
    shingleStage(docs).join(broadcast(bpSet), Seq("source", "h"), "left")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_sh"), count(col("is_bp")).as("n_bp"))
      .select(col("doc_id"), col("source"), col("n_sh"), col("n_bp"),
        expr("n_bp * 10000 div n_sh").as("bp_ratio_bp"),
        (col("n_bp") * 10 >= col("n_sh") * 3).as("flagged"))
      .orderBy("doc_id")
  }

  private val boilerplateDetect = Op("boilerplate_detect", {
    val shingle = s"array_to_string(list_slice(w, i+1, i+$DecontN), ' ')"
    s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w
       |           FROM documents WHERE text IS NOT NULL),
       |sh AS (SELECT doc_id, source,
       |         unnest(list_transform(range(0, greatest(len(w) - ${DecontN - 1}, 1)),
       |                i -> ${h60Sql(shingle)})) AS h
       |       FROM t),
       |dfg AS (SELECT source, h, count(*) AS df
       |        FROM (SELECT DISTINCT source, h, doc_id FROM sh) GROUP BY 1, 2),
       |nd AS (SELECT source, count(*) AS n_docs FROM t GROUP BY 1),
       |bp AS (SELECT dfg.source, dfg.h, 1 AS is_bp FROM dfg
       |       JOIN nd ON dfg.source = nd.source
       |       WHERE dfg.df >= 2 AND dfg.df * 5 >= nd.n_docs)
       |SELECT s.doc_id, s.source, count(*) AS n_sh,
       |  count(bp.is_bp) AS n_bp,
       |  count(bp.is_bp) * 10000 // count(*) AS bp_ratio_bp,
       |  count(bp.is_bp) * 10 >= count(*) * 3 AS flagged
       |FROM sh s LEFT JOIN bp ON s.source = bp.source AND s.h = bp.h
       |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin
  }) { (s, d) =>
    val docs = t(s, d, "documents")
    boilerView(docs, boilerDfGrid(docs), boilerDocsGrid(docs))
  }

  // doc_id IS NOT NULL mirrors the batch op's input contract (its WITH t
  // filters BOTH text and doc_id); shingleStage alone only drops NULL
  // text, and a NULL-doc_id doc would yield a NULL-decile row in
  // vocabView — breaking the provable batch/twin equality.
  private[graft] def vocabEntryGrid(docs: DataFrame): DataFrame =
    shingleStage(docs.filter(col("doc_id").isNotNull))
      .groupBy("h").agg(min("doc_id").as("first_doc"))

  private[graft] def vocabDocGrid(docs: DataFrame): DataFrame =
    shingleStage(docs.filter(col("doc_id").isNotNull))
      .groupBy("doc_id").agg(count(lit(1)).as("n_tri"))

  private[graft] def vocabView(entry: DataFrame, docGrid: DataFrame): DataFrame = {
    val bounds = docGrid.agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
    val dec = expr("(doc_id - lo) * 10 div (hi - lo + 1)")
    val dG = docGrid.crossJoin(broadcast(bounds))
      .groupBy(dec.as("decile"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tri").as("n_tri"))
    val nt = entry.select(col("first_doc").as("doc_id"))
      .crossJoin(broadcast(bounds))
      .groupBy(dec.as("decile")).agg(count(lit(1)).as("new_types"))
    val cum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dG.join(nt, Seq("decile"), "left")
      .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
      .withColumn("cum_types", sum("new_types").over(cum))
      .select(col("decile"), col("n_docs"), col("n_tri"),
        col("new_types"), col("cum_types"))
      .orderBy("decile")
  }

  val ops: Seq[Op] = Seq(decontaminate, contaminationMatrix, packSequences,
    repetitionFilter, profileStats, outlierFilter, gapDetect, anomalyMad,
    snapshotDiff, skewReport, dqCheck, gapFill, datasetCard, splitTemporal,
    numericSanitize, benfordAudit, benfordSecond, benfordMad, vocabGrowth,
    boilerplateDetect)
}
