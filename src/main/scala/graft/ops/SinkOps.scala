package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Etl, Sinks, Transforms}

/** The reference's load paths (R13/R14/R16 — upsert, insert-if-not-exists,
  * append; reference ETLProcess.java:161-287,388-466) wired as verifiable
  * queries: each builds the post-load destination table as a DataFrame and is
  * checked by row-set equality against the equivalent DuckDB SQL.
  *
  * Scale: each sink is one distributed plan — the only shuffles are the
  * anti-join / window on the merge key (both hash on the same key, so AQE
  * reuses the exchange). No per-row round trips, no driver-side state.
  */
object SinkOps {

  private val custCols = "c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment"

  private def existing(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer").filter(col("c_custkey") <= 500)

  // Incoming batch for insert-if-absent: keys 400–800; even keys arrive with
  // a changed balance (→ whole-row mismatch → inserted), odd keys are exact
  // duplicates of destination rows (→ skipped). Exercises the reference's
  // all-mapped-columns match semantics (SURVEY §2.C #6).
  private def incomingIfAbsent(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer").filter(col("c_custkey").between(400, 800))
      .withColumn("c_acctbal",
        when(col("c_custkey") % 2 === 0, col("c_acctbal") + 100)
          .otherwise(col("c_acctbal")))
  private val incomingIfAbsentSql =
    """SELECT c_custkey, c_name, c_nationkey,
      |    CASE WHEN c_custkey % 2 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal,
      |    c_mktsegment
      |  FROM customer WHERE c_custkey BETWEEN 400 AND 800""".stripMargin

  private val sinkAppend = Op("sink_append",
    s"""SELECT * FROM (
       |  SELECT $custCols FROM customer WHERE c_custkey <= 500
       |  UNION ALL
       |  SELECT $custCols FROM customer WHERE c_custkey BETWEEN 400 AND 800
       |) ORDER BY c_custkey, c_name""".stripMargin) { (s, d) =>
    Sinks.append(existing(s, d),
        t(s, d, "customer").filter(col("c_custkey").between(400, 800)))
      .orderBy("c_custkey", "c_name")
  }

  private val sinkInsertIfAbsent = Op("sink_insert_if_absent",
    s"""WITH inc AS ($incomingIfAbsentSql),
       |ex AS (SELECT * FROM customer WHERE c_custkey <= 500)
       |SELECT * FROM (
       |  SELECT * FROM ex
       |  UNION ALL
       |  SELECT DISTINCT * FROM inc i
       |  WHERE NOT EXISTS (SELECT 1 FROM ex e
       |    WHERE e.c_custkey = i.c_custkey AND e.c_name = i.c_name
       |      AND e.c_nationkey = i.c_nationkey AND e.c_acctbal = i.c_acctbal
       |      AND e.c_mktsegment = i.c_mktsegment)
       |) ORDER BY c_custkey, c_acctbal""".stripMargin) { (s, d) =>
    Sinks.insertIfAbsent(existing(s, d), incomingIfAbsent(s, d))
      .orderBy("c_custkey", "c_acctbal")
  }

  // Upsert: two overlapping incoming versions; version 2 must win on the
  // overlap (last-writer-wins per key, reference ETLProcess.java:388-427).
  private val sinkUpsert = Op("sink_upsert",
    s"""WITH inc AS (
       |  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 1000 AS c_acctbal,
       |         c_mktsegment, 1 AS version
       |  FROM customer WHERE c_custkey BETWEEN 500 AND 1200
       |  UNION ALL
       |  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 2000, c_mktsegment, 2
       |  FROM customer WHERE c_custkey BETWEEN 800 AND 1100),
       |lastw AS (
       |  SELECT $custCols FROM inc
       |  QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY version DESC) = 1),
       |ex AS (SELECT * FROM customer WHERE c_custkey <= 1000)
       |SELECT * FROM (
       |  SELECT * FROM ex e
       |  WHERE NOT EXISTS (SELECT 1 FROM lastw l WHERE l.c_custkey = e.c_custkey)
       |  UNION ALL SELECT * FROM lastw
       |) ORDER BY c_custkey""".stripMargin) { (s, d) =>
    val c = t(s, d, "customer")
    val ex = c.filter(col("c_custkey") <= 1000)
    val v1 = c.filter(col("c_custkey").between(500, 1200))
      .withColumn("c_acctbal", col("c_acctbal") + 1000)
      .withColumn("version", lit(1))
    val v2 = c.filter(col("c_custkey").between(800, 1100))
      .withColumn("c_acctbal", col("c_acctbal") + 2000)
      .withColumn("version", lit(2))
    Sinks.upsert(ex, v1.unionByName(v2), keys = Seq("c_custkey"),
        orderCol = "version")
      .orderBy("c_custkey")
  }

  // Full E/S/M/T/L chain — extract → rename (R7) → scalar transform (R9,
  // uppercase with toString coercion) → load insert-if-absent (R14): the
  // reference's whole pipeline (ETLProcess.java:161-287) as one lazy plan.
  private val etlPipeline = Op("etl_pipeline",
    """WITH inc AS (
      |  SELECT c_custkey AS id, upper(c_name) AS name, c_mktsegment AS segment
      |  FROM customer WHERE c_custkey BETWEEN 900 AND 1100),
      |ex AS (
      |  SELECT c_custkey AS id, upper(c_name) AS name, c_mktsegment AS segment
      |  FROM customer WHERE c_custkey <= 1000)
      |SELECT * FROM (
      |  SELECT * FROM ex
      |  UNION ALL
      |  SELECT DISTINCT * FROM inc i
      |  WHERE NOT EXISTS (SELECT 1 FROM ex e
      |    WHERE e.id = i.id AND e.name = i.name AND e.segment = i.segment)
      |) ORDER BY id""".stripMargin) { (s, d) =>
    val c = t(s, d, "customer")
    def shape(df: DataFrame): DataFrame =
      Etl(df)
        .mapColumns(
          Seq("c_custkey" -> "id", "c_name" -> "name", "c_mktsegment" -> "segment"),
          destPks = Seq("id"))
        .transform(Map("name" -> Transforms.Upper))
        .result
    val ex = shape(c.filter(col("c_custkey") <= 1000))
    Etl(shape(c.filter(col("c_custkey").between(900, 1100))))
      .loadInsertIfAbsent(ex)
      .orderBy("id")
  }

  // Round-trip through a hive-partitioned layout: write orders partitioned
  // by status, read back through a partition predicate — the read scans
  // ONLY the matching directory (PartitionFilters; whole partitions pruned
  // before any I/O — the dominant-filter-dimension layout at 100 TB).
  //
  // NOTE: building this op performs I/O (the partitioned write is the thing
  // under test). Scratch is one fixed PER-PROCESS temp path, deleted before
  // each write — repeated builds within a JVM (Verify/Bench/Explain) reuse
  // the same directory instead of leaking one copy per invocation, while
  // the PID component keeps concurrent JVMs (a Bench racing a Verify) from
  // deleting each other's in-flight data. Disk cost is bounded at one copy
  // per process lifetime. INTRA-JVM assumption: op builds are sequential
  // (Verify/Bench/Explain all iterate serially; ScalaTest runs suites in one
  // thread here) — two concurrent builds of the SAME op inside one JVM would
  // delete each other's in-flight writes; add an invocation counter suffix
  // if parallel op builds ever become a thing.
  private def freshScratch(sub: String): String = {
    val pid = java.lang.ProcessHandle.current().pid()
    val root = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"), s"graft_scratch_$pid", sub)
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq
          .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
      } finally walk.close()
    }
    root.toString
  }

  private val sinkPartitioned = Op("sink_partitioned",
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      |FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val path = freshScratch("sink_partitioned") + "/orders"
    val slice = t(s, d, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    graft.engine.Sources.writePartitioned(slice, path, Seq("o_orderstatus"))
    // explicit schema on the read-back: a partitioned write of ZERO rows
    // creates no partition directories, and schema inference over an empty
    // layout fails — an empty source partition is a normal input, and the
    // schema is known here anyway (inference is also a needless listing
    // pass at scale)
    s.read.schema(slice.schema).parquet(path)
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      .orderBy("o_orderkey")
  }

  // --------------------------------------------------------------------
  // CSV / JSON source round-trips — the non-parquet text formats a real
  // ingestion surface needs (the reference's analog: whatever JDBC hands
  // it). Write a slice out in the format, read it back with an EXPLICIT
  // schema (schema inference is a second pass over the data — never at
  // 100 TB), verify against the plain parquet slice. Spark writes doubles
  // as shortest-round-trip decimal strings, so numeric columns survive
  // text round-trips bit-exactly.
  // --------------------------------------------------------------------
  private val sliceSql =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      |FROM orders WHERE o_orderkey <= 5000
      |ORDER BY o_orderkey""".stripMargin
  private def slice(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      .filter(col("o_orderkey") <= 5000)

  private val scanCsv = Op("scan_csv_roundtrip", sliceSql) { (s, d) =>
    val path = freshScratch("scan_csv")
    val df = slice(s, d)
    df.write.option("header", "true").csv(path)
    s.read.option("header", "true").schema(df.schema).csv(path)
      .orderBy("o_orderkey")
  }

  private val scanJson = Op("scan_json_roundtrip", sliceSql) { (s, d) =>
    val path = freshScratch("scan_json")
    val df = slice(s, d)
    df.write.json(path)
    s.read.schema(df.schema).json(path)
      .orderBy("o_orderkey")
  }

  // Raw text lines — THE interchange format for LLM text corpora (a .txt
  // dump per shard): one document per line out, one `value` row per line
  // back. Line framing is only a faithful round trip for newline-free
  // documents; this corpus is (upstream normalization strips hard breaks),
  // and a corpus that isn't must use a framed format (parquet/ORC/JSON).
  // Deterministic: texts are distinct, so ORDER BY text is a total order.
  private val scanText = Op("scan_text_roundtrip",
    """SELECT text FROM documents WHERE text IS NOT NULL ORDER BY text""") { (s, d) =>
    val path = freshScratch("scan_text")
    t(s, d, "documents").select(col("text")).filter(col("text").isNotNull)
      .write.text(path)
    s.read.text(path).select(col("value").as("text")).orderBy("text")
  }

  // ORC is the other columnar lake format Spark ships natively (vs the
  // text formats above, types and stats survive without a declared
  // schema); the round trip proves the full write→scan path including
  // ORC's own predicate-pushdown machinery on the way back in.
  private val scanOrc = Op("scan_orc_roundtrip", sliceSql) { (s, d) =>
    val path = freshScratch("scan_orc")
    val df = slice(s, d)
    df.write.orc(path)
    // explicit schema: a zero-row write leaves no ORC footer to infer from
    s.read.schema(df.schema).orc(path)
      .filter(col("o_orderkey") <= 5000) // pushed into the ORC scan
      .orderBy("o_orderkey")
  }

  // XML — the remaining Spark-native interchange format (the XML source
  // moved into core in Spark 4): element-per-row framing with the schema
  // re-imposed on the way back in (XML carries no types; the declared
  // schema casts every field, and doubles survive exactly because the
  // writer emits the shortest round-trippable decimal form). Same slice +
  // oracle as the CSV/JSON/ORC trips, so all four formats cross-check.
  private val scanXml = Op("scan_xml_roundtrip", sliceSql) { (s, d) =>
    val path = freshScratch("scan_xml")
    val df = slice(s, d)
    df.write.option("rowTag", "order").format("xml").save(path)
    s.read.option("rowTag", "order").schema(df.schema).format("xml").load(path)
      .orderBy("o_orderkey")
  }

  // Mixed-format federation — the real shape of a lake mid-migration
  // (historical ORC, newer parquet, vendor CSV drops): each format holds
  // a DISJOINT hash-assigned third of the slice, and the op reads all
  // three and unions BY NAME into one logical table. The oracle is the
  // whole slice, so the equality proves partition-exactness (no row
  // lost or doubled across formats) — not just that each reader works.
  // At 100 TB each leg is its own pushdown-capable scan (columnar legs
  // prune columns; all legs prune partitions/splits) and the union is
  // plan-level only — no shuffle, no materialization.
  private val scanFederated = Op("scan_federated", sliceSql) { (s, d) =>
    val path = freshScratch("scan_federated")
    val df = slice(s, d)
    def third(i: Int) = df.filter(pmod(col("o_orderkey"), lit(3)) === i)
    third(0).write.parquet(s"$path/pq")
    third(1).write.orc(s"$path/orc")
    third(2).write.option("header", "true").csv(s"$path/csv")
    s.read.schema(df.schema).parquet(s"$path/pq")
      .unionByName(s.read.schema(df.schema).orc(s"$path/orc"))
      .unionByName(
        s.read.option("header", "true").schema(df.schema).csv(s"$path/csv"))
      .orderBy("o_orderkey")
  }

  // --------------------------------------------------------------------
  // sink_bucketed — hash-bucketed table layout + shuffle-free aggregation:
  // orders written bucketed by o_custkey (8 buckets, bucket-sorted), then
  // aggregated on the bucket key. The on-disk layout IS the hash
  // partitioning, so the aggregate's required distribution is already
  // satisfied — NO exchange before the HashAggregate (PlanAuditSpec pins
  // this). At 100 TB a fact table bucketed on its hot key pays the
  // shuffle once at write time and never again across every downstream
  // aggregate/join on that key (a join partner either broadcasts,
  // shuffles to match the buckets, or is bucketed the same way).
  // --------------------------------------------------------------------
  // --------------------------------------------------------------------
  // sink_compact — small-file compaction: write a deliberately fragmented
  // layout (64 files), then rewrite it into target-size files with
  // coalesce — the shuffle-FREE rewrite (task merging, no exchange) that
  // fixes the small-file problem every streaming/incremental sink
  // accumulates. The output file count derives from the MEASURED input
  // bytes at a 128 MB target, so the identical code compacts a 100 TB
  // table into proportionally many files; when the layout must also stay
  // sorted/clustered, compaction becomes repartitionByRange (paying one
  // exchange — sink_zorder's concern, deliberately not this op's).
  // --------------------------------------------------------------------
  private val CompactTargetBytes = 128L * 1024 * 1024

  private val sinkCompact = Op("sink_compact",
    """SELECT doc_id, lang, source, n_chars FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val root = freshScratch("sink_compact")
    val small = root + "/small"
    val compact = root + "/compact"
    val docs = t(s, d, "documents").select("doc_id", "lang", "source", "n_chars")
    docs.repartition(64).write.parquet(small)
    val p = new org.apache.hadoop.fs.Path(small)
    val bytes = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
    val nFiles = math.max(1L, (bytes + CompactTargetBytes - 1) / CompactTargetBytes).toInt
    s.read.schema(docs.schema).parquet(small)
      .coalesce(nFiles).write.parquet(compact)
    s.read.schema(docs.schema).parquet(compact).orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // sink_delete_where — targeted deletion from a stored partitioned table
  // (the GDPR/right-to-be-forgotten kernel): delete a key set that lives
  // entirely inside ONE partition by rewriting ONLY that partition's
  // files and leaving every other partition byte-untouched (CurateSpec
  // pins the untouched file listing). Copy-on-write, made explicit:
  // read the affected partition (PartitionFilters prune the rest), write
  // the surviving rows to a scratch dir, then atomically swap it in via
  // filesystem rename — the same rewrite-then-commit shape table formats
  // (Delta/Iceberg) perform, without relying on Spark's unsafe
  // read-from-overwritten-path. At 100 TB the rewrite cost is the
  // affected partition's size, not the table's; a delete spread over all
  // partitions degrades to a full rewrite, which is why deletion keys
  // should align with the partition layout.
  // --------------------------------------------------------------------
  private val sinkDeleteWhere = Op("sink_delete_where",
    // DELETE three-valued logic pinned: rows are removed where the predicate
    // IS TRUE — a NULL-status row is NOT deleted (SQL-standard DELETE, and
    // what the partition-dir rewrite below naturally does: NULL statuses
    // live in the default partition, untouched). `WHERE NOT (pred)` would
    // silently drop NULL-pred rows on the oracle side (NULL-fixture find).
    s"""SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders
       |WHERE (o_orderstatus = 'F'
       |  AND ${graft.ops.Text.h60Sql("concat('del:', CAST(o_orderkey AS VARCHAR))")} % 10 = 0) IS NOT TRUE
       |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    import graft.ops.Text.h60
    val root = freshScratch("sink_delete_where") + "/orders"
    val slice = t(s, d, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    graft.engine.Sources.writePartitioned(slice, root, Seq("o_orderstatus"))
    val conf = s.sparkContext.hadoopConfiguration
    val target = new org.apache.hadoop.fs.Path(s"$root/o_orderstatus=F")
    val fs = target.getFileSystem(conf)
    // an EMPTY source writes no partition dirs at all — an absent affected
    // partition means nothing to delete, and the rewrite must not assume
    // the directory exists (one driver-side metadata probe, not a scan)
    if (fs.exists(target)) {
      // rewrite ONLY the affected partition: scan just its directory (the
      // partition predicate never touches the others' files)
      val keep = !(h60(concat(lit("del:"), col("o_orderkey").cast("string"))) % 10 === 0)
      val survivors = s.read.option("basePath", root).schema(slice.schema)
        .parquet(target.toString)
        .filter(keep)
        .drop("o_orderstatus") // partition dirs don't carry the partition col
      val staged = freshScratch("sink_delete_where_staged")
      survivors.write.parquet(staged)
      // commit: atomic directory swap — Hadoop FS signals most failures by
      // RETURNING false, not throwing; an unchecked rename after a
      // successful delete would silently drop the whole partition
      require(fs.delete(target, true), s"delete-where commit: could not remove $target")
      require(fs.rename(new org.apache.hadoop.fs.Path(staged), target),
        s"delete-where commit: rename $staged -> $target failed; partition left deleted")
    }
    s.read.schema(slice.schema).parquet(root)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      .orderBy("o_orderkey")
  }

  private val sinkBucketed = Op("sink_bucketed",
    """SELECT o_custkey, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin) { (s, d) =>
    val table = "graft_bucketed_orders"
    val path = freshScratch("sink_bucketed") + "/orders"
    s.sql(s"DROP TABLE IF EXISTS $table")
    t(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .option("path", path).format("parquet").mode("overwrite")
      .saveAsTable(table)
    s.table(table)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("o_custkey")
  }

  // --------------------------------------------------------------------
  // join_bucket_colocated — the payoff of sink_bucketed's layout: BOTH
  // sides of a fact⋈dim join written bucketed (same bucket count, same
  // key), so the join AND the downstream aggregate on that key run with
  // ZERO shuffle — bucket i of orders joins bucket i of customer
  // in-place, and HashAggregate's required distribution is already
  // satisfied by the bucketing. The only exchange in the whole plan is
  // the final presentation sort's range partitioning (pinned in
  // PlanAuditSpec with broadcast disabled, so the shuffle-free path is
  // the SortMergeJoin itself, not a broadcast accident).
  //
  // At 100 TB this is THE co-located join strategy: pay the shuffle once
  // at ingest, then every (join ∘ aggregate) on the bucket key is
  // scan-local forever — the batch analog of co-partitioned state.
  // --------------------------------------------------------------------
  private val joinBucketColocated = Op("join_bucket_colocated",
    """SELECT c.c_custkey, c.c_name, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY 1, 2 ORDER BY c_custkey""".stripMargin) { (s, d) =>
    val root = freshScratch("join_bucket_colocated")
    val (ot, ct) = ("graft_colo_orders", "graft_colo_customer")
    s.sql(s"DROP TABLE IF EXISTS $ot"); s.sql(s"DROP TABLE IF EXISTS $ct")
    t(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .option("path", s"$root/orders").format("parquet").mode("overwrite")
      .saveAsTable(ot)
    t(s, d, "customer").select("c_custkey", "c_name")
      .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .option("path", s"$root/customer").format("parquet").mode("overwrite")
      .saveAsTable(ct)
    val o = s.table(ot); val c = s.table(ct)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(c("c_custkey"), c("c_name"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("c_custkey")
  }

  // --------------------------------------------------------------------
  // scan_schema_evolution — schema drift: two batches of the same table
  // land with DIFFERENT column sets (a new column appeared mid-stream, the
  // normal state of a long-lived 100 TB dataset). mergeSchema=true unions
  // the file schemas at read time; rows from the old batch surface NULL
  // for the new column. Merge is a footer-only operation — no data pass.
  // --------------------------------------------------------------------
  private val scanSchemaEvolution = Op("scan_schema_evolution",
    """SELECT * FROM (
      |  SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderstatus, 1 AS batch
      |  FROM orders WHERE o_orderkey <= 1000
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice, o_orderstatus, 2
      |  FROM orders WHERE o_orderkey > 1000 AND o_orderkey <= 2000
      |) ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val path = freshScratch("scan_schema_evolution") + "/orders"
    val o = t(s, d, "orders")
    // batch 1: the narrow historical schema
    o.filter(col("o_orderkey") <= 1000).select("o_orderkey", "o_totalprice")
      .write.parquet(s"$path/batch=1")
    // batch 2: a column appeared
    o.filter(col("o_orderkey") > 1000 && col("o_orderkey") <= 2000)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .write.parquet(s"$path/batch=2")
    s.read.option("mergeSchema", "true").parquet(path)
      .select("o_orderkey", "o_totalprice", "o_orderstatus", "batch")
      .orderBy("o_orderkey")
  }

  // --------------------------------------------------------------------
  // sink_zorder — multi-dimensional data clustering: interleave the low
  // bits of two filter dimensions into a Morton (Z-order) key, range-
  // partition + sort the write on it, so rows close in EITHER dimension
  // land in the same files. At 100 TB this is what makes parquet
  // row-group min/max stats prune scans for BOTH `part` and `supp`
  // predicates from ONE layout — a plain sort clusters only its leading
  // column. The z-value is a fixed shift/mask expression tree (whole-
  // stage codegen, engine-portable), verified in the output; the
  // read-back + two-sided filter verifies the layout round-trips.
  // --------------------------------------------------------------------
  private val ZBits = 8

  private val sinkZorder = Op("sink_zorder", {
    val zTerms = (0 until ZBits).flatMap { i =>
      Seq(s"(((l_partkey >> $i) & 1) << ${2 * i})",
        s"(((l_suppkey >> $i) & 1) << ${2 * i + 1})")
    }.mkString(" | ")
    s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |  $zTerms AS z
       |FROM lineitem
       |WHERE l_partkey % 256 < 8 AND l_suppkey % 256 < 8
       |ORDER BY l_orderkey, l_linenumber""".stripMargin
  }) { (s, d) =>
    val z = (0 until ZBits).flatMap { i =>
      Seq(shiftleft(shiftright(col("l_partkey"), i).bitwiseAND(1), 2 * i),
        shiftleft(shiftright(col("l_suppkey"), i).bitwiseAND(1), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
    val path = freshScratch("sink_zorder") + "/lineitem"
    val df = t(s, d, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      .withColumn("z", z)
    // range-partition + in-partition sort on z = the clustered layout;
    // every file then holds a compact z-range, i.e. a compact rectangle
    // in (partkey, suppkey) space → row-group stats prune on both
    df.repartitionByRange(col("z")).sortWithinPartitions("z")
      .write.mode("overwrite").parquet(path)
    // the probe query a z-layout exists for: a small rectangle in BOTH
    // dimensions (low-byte windows of each key)
    s.read.schema(df.schema).parquet(path)
      .filter(col("l_partkey") % 256 < 8 && col("l_suppkey") % 256 < 8)
      .orderBy("l_orderkey", "l_linenumber")
  }

  // --------------------------------------------------------------------
  // sink_scd2 — slowly-changing-dimension type-2 merge: the history-
  // keeping extension of the reference's last-writer upsert (R14). A
  // matched key whose tracked attribute CHANGED closes the open row
  // (valid_to = batch date) and inserts a new current version; an
  // identical incoming row is a no-op (no spurious versions); a brand-new
  // key inserts as current. One distributed plan: a single keyed join
  // decides changed/unchanged/new, unions assemble the three row classes
  // — no per-row lookups, no driver state, and every shuffle hashes on
  // the merge key (AQE reuses the exchange across the branches).
  // --------------------------------------------------------------------
  private val Scd2From = "2020-01-01"
  private val Scd2Batch = "2024-06-01"

  private val sinkScd2 = Op("sink_scd2",
    s"""WITH ex AS (
       |  SELECT c_custkey, c_acctbal, DATE '$Scd2From' AS valid_from,
       |         CAST(NULL AS DATE) AS valid_to
       |  FROM customer WHERE c_custkey <= 500),
       |inc AS (
       |  SELECT c_custkey,
       |    CASE WHEN c_custkey % 2 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal
       |  FROM customer WHERE c_custkey BETWEEN 400 AND 600),
       |chg AS (
       |  SELECT i.c_custkey FROM inc i JOIN ex e ON i.c_custkey = e.c_custkey
       |  WHERE i.c_acctbal <> e.c_acctbal),
       |new_keys AS (
       |  SELECT i.c_custkey FROM inc i
       |  WHERE NOT EXISTS (SELECT 1 FROM ex e WHERE e.c_custkey = i.c_custkey))
       |SELECT * FROM (
       |  SELECT c_custkey, c_acctbal, valid_from,
       |    CASE WHEN c_custkey IN (SELECT c_custkey FROM chg)
       |         THEN DATE '$Scd2Batch' ELSE valid_to END AS valid_to
       |  FROM ex
       |  UNION ALL
       |  SELECT c_custkey, c_acctbal, DATE '$Scd2Batch', CAST(NULL AS DATE)
       |  FROM inc
       |  WHERE c_custkey IN (SELECT c_custkey FROM chg)
       |     OR c_custkey IN (SELECT c_custkey FROM new_keys)
       |) ORDER BY c_custkey, valid_from""".stripMargin) { (s, d) =>
    val c = t(s, d, "customer")
    val ex = c.filter(col("c_custkey") <= 500)
      .select(col("c_custkey"), col("c_acctbal"),
        to_date(lit(Scd2From)).as("valid_from"),
        lit(null).cast("date").as("valid_to"))
    val inc = c.filter(col("c_custkey").between(400, 600))
      .select(col("c_custkey"),
        when(col("c_custkey") % 2 === 0, col("c_acctbal") + 100)
          .otherwise(col("c_acctbal")).as("c_acctbal"))
    // one keyed join classifies every incoming row: changed / identical /
    // brand-new; the existing side reuses the same classification to
    // close rows
    val chg = inc.as("i")
      .join(ex.as("e"), Seq("c_custkey"))
      .filter(col("i.c_acctbal") =!= col("e.c_acctbal"))
      .select("c_custkey")
    val newKeys = inc.join(ex, Seq("c_custkey"), "left_anti")
      .select("c_custkey")
    val closedOrOpen = ex
      .join(chg.withColumn("chg", lit(true)), Seq("c_custkey"), "left")
      .select(col("c_custkey"), col("c_acctbal"), col("valid_from"),
        when(col("chg"), to_date(lit(Scd2Batch)))
          .otherwise(col("valid_to")).as("valid_to"))
    val inserted = inc
      .join(chg.unionByName(newKeys).distinct(), Seq("c_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_acctbal"),
        to_date(lit(Scd2Batch)).as("valid_from"),
        lit(null).cast("date").as("valid_to"))
    closedOrOpen.unionByName(inserted)
      .orderBy("c_custkey", "valid_from")
  }

  // --------------------------------------------------------------------
  // sink_stream_upsert — the STREAMING upsert sink's state evolution as a
  // verifiable batch op: graft.streaming.Streams.upsert, run by foldSink,
  // applies engine.Sinks.upsert (keyed last-writer-wins, reference R13,
  // ETLProcess.java:388-427) to every micro-batch;
  // correctness means the state after N sequential per-batch merges
  // equals ONE whole-log merge. This op folds the same Sinks.upsert
  // kernel over 3 time-ordered micro-batches of the events log into the
  // customer snapshot (user_id upserts c_custkey), and the oracle is the
  // one-shot whole-log merge — the convergence property
  // CdcMergePropertiesSpec proves for arbitrary chunkings, here
  // oracle-checked end-to-end. The ntile over (ts, event_id) only STAGES
  // the fixture into arrival-ordered chunks (a real stream arrives
  // pre-chunked; the single-partition window is harness, not operator).
  // Scale: each micro-batch merge is one key-hashed window + one
  // key-hashed anti-join, so state cost tracks the ACTIVE KEY SET, not
  // log volume; the versioned-parquet delivery of the same fold is
  // driven end-to-end in FileStreamParitySpec.
  // --------------------------------------------------------------------
  private val sinkStreamUpsert = Op("sink_stream_upsert",
    """WITH winners AS (
      |  SELECT user_id AS k, CAST(value AS DECIMAL(18,2)) AS v
      |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
      |          ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      |        FROM events WHERE user_id IS NOT NULL) WHERE rn = 1)
      |SELECT coalesce(w.k, c.c_custkey) AS k,
      |  CAST(CASE WHEN w.k IS NULL THEN CAST(c.c_acctbal AS DECIMAL(18,2))
      |       ELSE w.v END AS DOUBLE) AS val,
      |  CASE WHEN w.k IS NULL THEN 'base' ELSE 'cdc' END AS src
      |FROM (SELECT c_custkey, c_acctbal FROM customer) c
      |FULL OUTER JOIN winners w ON c.c_custkey = w.k
      |ORDER BY k""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    // a NULL-key CDC row has no identity to upsert: the keyed anti-join in
    // Sinks.upsert can never match it, so each micro-batch would append its
    // own NULL-key row and N-batch folding would diverge from the one-shot
    // merge (NULL-fixture find) — keyless rows are dropped at ingest, the
    // same rule a real CDC pipeline applies before MERGE
    val mb = t(s, d, "events")
      .filter(col("user_id").isNotNull)
      .withColumn("__mb", ntile(3).over(
        Window.orderBy(col("ts").asc, col("event_id").asc)))
    val base = t(s, d, "customer")
      .select(col("c_custkey").as("k"),
        col("c_acctbal").cast(DecimalType(18, 2)).as("v"),
        lit("base").as("src"))
    val finalState = (1 to 3).foldLeft(base) { (state, i) =>
      val batch = mb.filter(col("__mb") === i)
        .select(col("user_id").as("k"),
          col("value").cast(DecimalType(18, 2)).as("v"),
          lit("cdc").as("src"),
          struct(col("ts"), col("event_id")).as("__ord"))
      Sinks.upsert(state, batch, keys = Seq("k"), orderCol = "__ord")
    }
    finalState
      .select(col("k"), col("v").cast("double").as("val"), col("src"))
      .orderBy("k")
  }

  // --------------------------------------------------------------------
  // join_dpp — dynamic partition pruning: the fact table is laid out
  // partitioned by order year (the standard date-partitioned lake
  // layout); the dim side arrives with a predicate the fact scan cannot
  // see statically (parity of the year, known only on the dim). Spark
  // injects a DynamicPruningExpression subquery into the fact scan: the
  // dim's broadcast result prunes fact PARTITION DIRECTORIES at runtime,
  // so pruned years are never listed, opened, or read. At 100 TB with
  // date-partitioned facts this is the difference between scanning the
  // lake and scanning the selected slice — static pushdown can't do it
  // because the year set lives in another table. PlanAuditSpec pins
  // `dynamicpruningexpression` on the fact scan (and the broadcast
  // reuse that makes it free).
  // --------------------------------------------------------------------
  private val joinDpp = Op("join_dpp",
    """WITH dim AS (SELECT DISTINCT year(o_orderdate) AS y FROM orders)
      |SELECT dim.y, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders JOIN dim ON year(o_orderdate) = dim.y
      |WHERE dim.y % 2 = 0
      |GROUP BY dim.y ORDER BY dim.y""".stripMargin) { (s, d) =>
    val root = freshScratch("join_dpp")
    val o = t(s, d, "orders").withColumn("y", year(col("o_orderdate")))
    o.write.partitionBy("y").parquet(root + "/fact")
    o.select("y").distinct().write.parquet(root + "/dim")
    // explicit schemas on both read-backs: a zero-row partitioned write
    // creates no partition directories and inference over the empty
    // layout fails (sink_partitioned's lesson; EmptyInputSpec caught the
    // inferring form here) — and inference is a needless listing pass
    val fact = s.read.schema(o.schema).parquet(root + "/fact")
    val dim = s.read.schema(org.apache.spark.sql.types.StructType.fromDDL("y INT"))
      .parquet(root + "/dim")
      .filter(col("y") % 2 === 0).withColumnRenamed("y", "dy")
    fact.join(dim, fact("y") === dim("dy"))
      .groupBy(col("dy"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_price"))
      .select(col("dy").cast("long").as("y"), col("n"), col("sum_price"))
      .orderBy("y")
  }

  val ops: Seq[Op] = Seq(sinkAppend, sinkInsertIfAbsent, sinkUpsert,
    sinkPartitioned, sinkBucketed, etlPipeline, scanCsv, scanJson, scanOrc,
    scanText, scanXml, scanFederated, scanSchemaEvolution, sinkZorder,
    sinkScd2, sinkCompact, sinkDeleteWhere, sinkStreamUpsert,
    joinBucketColocated, joinDpp)
}
