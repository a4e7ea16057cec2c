package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only scale probe (SURVEY §7.3.5): amplifies the sf0.1 fixture ~10×
  * into an adversarial dedup-heavy layout and times selected operators on
  * it. This is how the "sub-linear in pair volume / flat in corpus size"
  * claims in SURVEY.md are produced — kept as a main so any round can
  * re-run them reproducibly.
  *
  * Amplification (deterministic):
  *  - documents ×10 with shifted doc_ids and IDENTICAL text → every doc has
  *    9 exact replicas (worst case for dedup banding: every band collides);
  *  - embeddings ×10 with shifted vec_ids (≈100× candidate pairs);
  *  - events ×10 with shifted event_ids, same users (10× per-user density);
  *  - small dims copied as-is;
  *  - with `--facts`, ALSO lineitem/orders ×10 with CONSISTENTLY shifted
  *    order keys (joins still resolve) — an sf1-equivalent fact volume
  *    (6 M lineitem rows from sf0.1) that stresses the memory-shape
  *    hazards replica docs can't: exact-percentile value buffers and
  *    window partitions keyed by the 3-value o_orderstatus.
  *
  * Usage: runMain graft.ScaleProbe <baseSfDir> <outDir> [--facts] [--all]
  *   [--copies N] [op ...]
  * `--copies N` overrides the 10x amplification (e.g. --copies 100 probes
  * the per-user-window family at 100x per-key density — the keyed-window
  * memory-cliff check VERDICT r9 asked for).
  * (ops default to the dedup/similarity/event families, or the
  * percentile/window/join families under --facts; `--all` probes the
  * ENTIRE 140-op inventory best-of-2 — the full sf1-equivalent sweep, so
  * every op has a ≥6 M-row warm measurement, not just the families with
  * known scale hazards).
  */
object ScaleProbe {
  private val Shift = 10000000L

  private def amplify(spark: SparkSession, base: String, out: String,
      facts: Boolean, Copies: Int): Unit = {
    // the marker records WHAT produced the data: rerunning against a
    // different base (or Copies factor) must re-amplify, not silently time
    // ops on stale data labeled with the new base
    val stamp = s"base=$base copies=$Copies shift=$Shift facts=$facts"
    val done = java.nio.file.Paths.get(out, "_AMPLIFIED")
    if (java.nio.file.Files.exists(done)
        && java.nio.file.Files.readString(done).trim == stamp) return
    new java.io.File(out).mkdirs()
    def write(name: String, idCols: Seq[String]): Unit = {
      val src = Tables(spark, base, name)
      val df =
        if (idCols.isEmpty) src
        else (0 until Copies).map { i =>
          idCols.foldLeft(src)((d, id) => d.withColumn(id, col(id) + lit(i * Shift)))
        }.reduce(_ unionByName _)
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet")
    }
    write("documents", Seq("doc_id"))
    write("embeddings", Seq("vec_id"))
    write("events", Seq("event_id"))
    // facts: the order-key shift is the SAME on both tables, so every
    // replica's lineitem joins its replica's order; o_custkey stays, so
    // each customer simply has 10x the orders (the scale-up direction)
    write("orders", if (facts) Seq("o_orderkey") else Nil)
    write("lineitem", if (facts) Seq("l_orderkey") else Nil)
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(write(_, Nil))
    java.nio.file.Files.writeString(done, stamp)
  }

  def main(args: Array[String]): Unit = {
    val facts = args.contains("--facts")
    val all = args.contains("--all")
    val copiesIdx = args.indexOf("--copies")
    val copies = if (copiesIdx >= 0) args(copiesIdx + 1).toInt else 10
    val rest = args.toSeq.zipWithIndex.filterNot { case (a, i) =>
      a == "--facts" || a == "--all" || a == "--copies" ||
        (copiesIdx >= 0 && i == copiesIdx + 1)
    }.map(_._1)
    val base = rest.headOption.getOrElse("/root/testdata/sf0.1")
    val out = rest.lift(1).getOrElse(
      if (facts) "/tmp/graft_probe_sf1" else "/tmp/graft_probe10x")
    val defaultOps =
      if (facts) Seq("agg_group", "agg_percentile", "agg_percentile_approx",
        "quantile_bin", "outlier_filter", "anomaly_mad", "gap_detect",
        "win_rank", "win_analytic", "win_cume", "win_ntile", "sort_multi",
        "topk_per_group", "limit_offset", "limit_keyset", "join_skew_salted",
        "tpch_q3", "tpch_q5", "tpch_q10", "sessionize")
      else Seq("dedup_exact", "dedup_minhash", "dedup_simhash",
        "dedup_ngram", "dedup_cluster", "dedup_embed_banded", "sim_search",
        "sim_search_bucketed", "sim_search_ivf", "curation_pipeline",
        "event_funnel", "retention_cohort", "stream_interval_join")
    val ops =
      if (rest.length > 2) rest.drop(2)
      else if (all) SparkEntry.queries.keys.toSeq.sorted
      else defaultOps
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Graft.session(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    amplify(spark, base, out, facts, copies)
    // probe-only variants: parameter shapes the contract op can't carry
    // (the contract pins one vocab size; production runs ~32 k)
    val probeOnly: Map[String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      "tokenize_ids_vocab32k" ->
        ((s, dir) => graft.ops.Text.tokenizeIdsPlan(s, dir, 32768,
          expandTokens = true)))
    val timings = ops.map { name =>
      def once(): Double = {
        val t0 = System.nanoTime()
        try probeOnly.getOrElse(name, SparkEntry.queries(name))(spark, out)
          .write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[probe] $name FAILED: ${e.getMessage}")
          return -1.0
        }
        (System.nanoTime() - t0) / 1e9
      }
      // the full sweep reports WARM numbers (best-of-2): first runs pay
      // FS-cache/JIT costs that can double a timing. The rerun exists ONLY
      // to shed cold-start cost, so a transient second-run failure falls
      // back to the valid cold measurement instead of failing the sweep.
      val first = once()
      val sec =
        if (!all || first < 0) first
        else { val second = once(); if (second < 0) first else math.min(first, second) }
      println(f"[probe] $name%-24s $sec%8.2f s")
      name -> sec
    }
    val qs = timings.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val metric = (if (facts) "probe_sf1" else s"probe${copies}x") + (if (all) "_all" else "")
    println(s"""{"metric":"$metric","queries":$qs,"base":"$base"}""")
    spark.stop()
    if (timings.exists(_._2 < 0)) sys.exit(1)
  }
}
