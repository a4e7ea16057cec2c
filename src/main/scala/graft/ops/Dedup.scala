package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ops.Text.{h60, h60Sql, words}

/** Near-duplicate detection over `documents` (BASELINE mandate): MinHash+LSH
  * banding, SimHash hamming buckets, and banded n-gram Jaccard — the three
  * standard web-scale text-dedup families.
  *
  * The scale shape is identical in all three: per-doc sketches are narrow
  * scan-stage work; candidate pairs come from an equi-join on (band,
  * band-hash) buckets — NEVER an all-pairs cross join — and the expensive
  * exact verification (Jaccard / hamming) runs only on bucket collisions.
  * At 100 TB the bucket join is the only shuffle and its key cardinality
  * (band × hash) keeps buckets tiny unless texts really collide.
  *
  * ORDERING DISCIPLINE AT SCALE: run exact dedup (dedup_exact / the
  * curation_pipeline nhash window) BEFORE any banded near-dup op. A
  * boilerplate mega-group of k identical texts defeats every banding
  * scheme by construction — not as a plan defect but because the declared
  * OUTPUT (all verified pairs) contains the k²/2 clique; collapsing
  * identical texts first (one keyed window on a fixed-width hash) is what
  * keeps the near-dup pair volume proportional to genuine near-misses.
  *
  * Hashing is md5-derived (see [[Text.h60]]) so Spark and the DuckDB oracle
  * agree bit-for-bit, and results don't depend on JVM seeds or partitioning.
  */
object Dedup {

  /** Distinct 3-word shingles of `text` (Spark). */
  private def shingles3(c: Column): Column = {
    val w = words(c)
    array_distinct(transform(
      sequence(lit(0), greatest(size(w) - 2, lit(1)) - 1),
      i => concat_ws(" ", slice(w, i + 1, lit(3)))))
  }
  private val shingles3Sql =
    """list_distinct(list_transform(
      |      range(0, greatest(len(string_split(text, ' ')) - 2, 1)),
      |      i -> array_to_string(list_slice(string_split(text, ' '), i+1, i+3), ' ')))""".stripMargin

  // --------------------------------------------------------------------
  // dedup_minhash — 8 minhashes over 3-word shingles, banded 4×2: candidate
  // pairs share a band (both minhashes equal); verified by Jaccard >= 0.5
  // over the hashed shingle sets.
  //
  // Hash family: Kirsch–Mitzenmacher double hashing — g_i(s) = (h1(s) +
  // i·h2(s)) mod 2^60, where h1/h2 are the two 60-bit halves of ONE md5
  // digest per shingle. One digest feeds all 8 hash functions AND the
  // verification hash-set (h1 is exactly h60), vs 8 md5 calls per shingle
  // for independent salted hashes — the sketch stage is md5-bound, so this
  // is a direct ~4× cut of its dominant cost, with the published guarantee
  // that double hashing preserves LSH-family behavior. No i·h2 overflow:
  // h1 + 7·h2 < 2^60 + 2^63·0.9 < 2^63.
  // --------------------------------------------------------------------
  private val NumHashes = 8
  private val BandSize = 2 // 4 bands of 2 hashes
  private val H60Mask = (1L << 60) - 1

  /** Per shingle: both 60-bit halves of its single md5 digest. */
  private def hhalves(sh: Column): Column = transform(sh, s => {
    val d = md5(s)
    struct(
      conv(substring(d, 1, 15), 16, 10).cast("long").as("h1"),
      conv(substring(d, 16, 15), 16, 10).cast("long").as("h2"))
  })
  private val hhalvesSql =
    """list_transform(sh, s -> {
      |        'h1': CAST('0x' || substr(md5(s), 1, 15) AS BIGINT),
      |        'h2': CAST('0x' || substr(md5(s), 16, 15) AS BIGINT)})""".stripMargin

  private def minhashes(hh: Column): Column =
    transform(sequence(lit(0), lit(NumHashes - 1)), i =>
      array_min(transform(hh, p =>
        (p.getField("h1") + i * p.getField("h2")).bitwiseAND(H60Mask))))

  private val minhashesSql =
    s"""list_transform(range(0, $NumHashes),
       |      i -> list_min(list_transform(hh, p -> (p.h1 + i * p.h2) & $H60Mask)))""".stripMargin

  /** Verified minhash near-dup pairs (id_a < id_b, jaccard ≥ 0.5), no
    * ordering — shared by dedup_minhash and the clustering op. Verification
    * Jaccard runs on the 60-bit HASHED shingle sets (same value modulo md5
    * collisions, and both engines hash identically — see dedup_ngram). */
  /** The shared CTE prefix (shingles → sketches → banded candidates) —
    * reused verbatim by dedup_minhash, dedup_cluster, and minhash_eval so
    * the candidate definition cannot drift between the dedup path and its
    * accuracy audit. */
  private[ops] val minhashBaseSql: String =
    s"""WITH sh AS (SELECT doc_id, $shingles3Sql AS sh
       |  FROM documents WHERE text IS NOT NULL),
       |hhv AS (SELECT doc_id, $hhalvesSql AS hh FROM sh),
       |hsv AS (SELECT doc_id, list_sort(list_transform(hh, p -> p.h1)) AS hs
       |        FROM hhv),
       |mh AS (SELECT doc_id, $minhashesSql AS mh FROM hhv),
       |bands AS (
       |  SELECT doc_id, b, mh[2*b+1] AS h1, mh[2*b+2] AS h2
       |  FROM mh, (SELECT unnest(range(0, ${NumHashes / BandSize})) AS b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.b = b.b AND a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id)"""
      .stripMargin

  private[ops] val minhashPairsSql: String =
    s"""$minhashBaseSql
       |SELECT id_a, id_b,
       |  CAST(CAST(len(list_intersect(ha.hs, hb.hs)) AS DECIMAL(18,9))
       |       / (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs))) AS DOUBLE) AS jaccard
       |FROM cand JOIN hsv ha ON ha.doc_id = id_a JOIN hsv hb ON hb.doc_id = id_b
       |WHERE CAST(CAST(len(list_intersect(ha.hs, hb.hs)) AS DECIMAL(18,9))
       |       / (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs))) AS DOUBLE) >= 0.5""".stripMargin

  /** Banded candidates WITH both sketches ((id_a, id_b, mh_a, mh_b)) plus
    * the hashed-shingle view for verification joins — the shared core of
    * dedup_minhash, dedup_cluster (via minhashPairs), and minhash_eval. */
  private[ops] def minhashCand(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    // a NULL-text doc is no near-dup candidate: Spark's concat_ws would
    // collapse its shingle set to [""] (pairing every such doc at jaccard
    // 1.0) while DuckDB's yields no shingles — contract: text required
    // (NULL-fixture find; same filter in the oracle SQL twins)
    val docs = exchange(t(s, d, "documents")
      .filter(col("text").isNotNull).select("doc_id", "text"))
    // hh is consumed by BOTH the sketch build and the verification
    // join-back sides — exchange so the md5 digests compute once per doc
    val hh = exchange(docs.select(col("doc_id"),
      hhalves(shingles3(col("text"))).as("hh")))
    val mh = exchange(hh.select(col("doc_id"), minhashes(col("hh")).as("mh")))
    // Candidate generation shuffles NARROW rows: the 8-long sketch rides the
    // band join (64 B/row), never the shingle arrays — those join back in
    // only for the pairs that survive (A/B measured: the wide DISTINCT over
    // shingle payloads dominated the op's probe cost).
    val bands = mh.select(col("doc_id"), col("mh"),
        explode(transform(sequence(lit(0), lit(NumHashes / BandSize - 1)),
          b => struct(b.as("b"),
            element_at(col("mh"), b * BandSize + 1).as("h1"),
            element_at(col("mh"), b * BandSize + 2).as("h2")))).as("band"))
      .select(col("doc_id"), col("mh"),
        col("band.b").as("b"), col("band.h1").as("h1"), col("band.h2").as("h2"))
    val a = bands.select(col("b"), col("h1"), col("h2"),
      col("doc_id").as("id_a"), col("mh").as("mh_a"))
    val b = bands.select(col("b"), col("h1"), col("h2"),
      col("doc_id").as("id_b"), col("mh").as("mh_b"))
    // multi-band collisions emit the pair only from the FIRST colliding
    // band (a pure sketch comparison) — no DISTINCT shuffle needed
    val earlierBand = (0 until NumHashes / BandSize).map { j =>
      (lit(j) < col("b")) &&
        (element_at(col("mh_a"), j * BandSize + 1) ===
         element_at(col("mh_b"), j * BandSize + 1)) &&
        (element_at(col("mh_a"), j * BandSize + 2) ===
         element_at(col("mh_b"), j * BandSize + 2))
    }.reduce(_ || _)
    val cand = a.join(b, Seq("b", "h1", "h2"))
      .filter(col("id_a") < col("id_b"))
      .filter(!earlierBand) // first-band emission = exactly-once, no DISTINCT
      .select("id_a", "id_b", "mh_a", "mh_b")
    // hashed shingle sets for the verification join-back (longs, not
    // shingle strings — same Jaccard modulo md5 collisions, cheaper to
    // shuffle and intersect; both engines hash identically). h1 IS h60.
    val hsv = hh.select(col("doc_id"),
      array_sort(transform(col("hh"), p => p.getField("h1"))).as("hs"))
    (cand, hsv)
  }

  private[ops] def minhashPairs(s: SparkSession, d: String): DataFrame = {
    val (cand, hsv) = minhashCand(s, d)
    minhashVerify(cand, hsv)
  }

  /** The exact-Jaccard verification stage over banded candidates —
    * factored from [[minhashPairs]] so dedup_agreement can run it on a
    * SHARED hashed-shingle frame (see the op below). */
  private def minhashVerify(cand: DataFrame, hsv: DataFrame): DataFrame = {
    val av = hsv.select(col("doc_id").as("id_a"), col("hs").as("hs_a"))
    val bv = hsv.select(col("doc_id").as("id_b"), col("hs").as("hs_b"))
    val inter = size(array_intersect(col("hs_a"), col("hs_b")))
    val jac = (inter.cast(DecimalType(18, 9))
      / (size(col("hs_a")) + size(col("hs_b")) - inter)).cast("double")
    cand.select("id_a", "id_b").join(av, "id_a").join(bv, "id_b")
      .withColumn("jaccard", jac)
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b", "jaccard")
  }

  private val dedupMinhash = Op("dedup_minhash",
    s"""$minhashPairsSql
       |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
    minhashPairs(s, d).orderBy("id_a", "id_b")
  }

  // --------------------------------------------------------------------
  // minhash_eval — the sketch's accuracy audit (the ann_recall pattern
  // applied to dedup): for EVERY banded candidate pair, the minhash
  // Jaccard estimate (matching sketch positions / 8, in basis points)
  // next to the exact hashed-shingle Jaccard and the signed error — the
  // measurement that justifies the 8-hash/4×2-band configuration before
  // anyone trusts its dedup decisions. Pure integers: est_bp = matches ×
  // 1250, jac_bp = ⌊inter·10⁴ / union⌋, err_bp = est_bp − jac_bp.
  // Structural invariant worth pinning: every candidate collided on a
  // full band, so matches ≥ BandSize and est_bp ≥ 2500 — always.
  //
  // Scale shape: IDENTICAL to dedup_minhash (the candidate stage is
  // shared code) plus one 8-position sketch compare per candidate — the
  // audit costs nothing beyond the pairs it audits.
  // --------------------------------------------------------------------
  private val minhashEval = Op("minhash_eval",
    s"""$minhashBaseSql
       |SELECT c.id_a, c.id_b,
       |  len(list_filter(range(1, ${NumHashes + 1}),
       |                  i -> ma.mh[i] = mb.mh[i])) AS matches,
       |  len(list_filter(range(1, ${NumHashes + 1}),
       |                  i -> ma.mh[i] = mb.mh[i])) * ${10000 / NumHashes}
       |    AS est_bp,
       |  len(list_intersect(ha.hs, hb.hs)) * 10000
       |    // (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs)))
       |    AS jac_bp,
       |  len(list_filter(range(1, ${NumHashes + 1}),
       |                  i -> ma.mh[i] = mb.mh[i])) * ${10000 / NumHashes}
       |    - len(list_intersect(ha.hs, hb.hs)) * 10000
       |      // (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs)))
       |    AS err_bp
       |FROM cand c
       |JOIN mh ma ON ma.doc_id = c.id_a JOIN mh mb ON mb.doc_id = c.id_b
       |JOIN hsv ha ON ha.doc_id = c.id_a JOIN hsv hb ON hb.doc_id = c.id_b
       |ORDER BY c.id_a, c.id_b""".stripMargin) { (s, d) =>
    val (cand, hsv) = minhashCand(s, d)
    val av = hsv.select(col("doc_id").as("id_a"), col("hs").as("hs_a"))
    val bv = hsv.select(col("doc_id").as("id_b"), col("hs").as("hs_b"))
    val matches = size(filter(
      zip_with(col("mh_a"), col("mh_b"), (x, y) => x === y), b => b))
    cand.join(av, "id_a").join(bv, "id_b")
      .withColumn("matches", matches.cast("long"))
      .withColumn("inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .withColumn("uni",
        size(col("hs_a")).cast("long") + size(col("hs_b")) - col("inter"))
      .select(col("id_a"), col("id_b"), col("matches"),
        (col("matches") * (10000 / NumHashes)).as("est_bp"),
        expr("inter * 10000 div uni").as("jac_bp"),
        (col("matches") * (10000 / NumHashes)
          - expr("inter * 10000 div uni")).as("err_bp"))
      .orderBy("id_a", "id_b")
  }

  // --------------------------------------------------------------------
  // dedup_cluster — connected components over the verified near-dup pair
  // graph: every doc in a dup cluster mapped to the cluster's minimum
  // doc_id (the canonical survivor). The graph kernel lives in
  // engine/Graph.scala (min-label propagation + pointer jumping, O(log d)
  // rounds, label-sum convergence — directly unit-tested there on a deep
  // chain graph); this op feeds it the verified minhash pair list.
  // Oracle: DuckDB recursive CTE transitive closure (cluster sizes are
  // small, so closure blowup is bounded).
  // --------------------------------------------------------------------
  private val dedupCluster = Op("dedup_cluster",
    s"""WITH RECURSIVE pairs AS ($minhashPairsSql),
       |sym AS (SELECT id_a AS v, id_b AS n FROM pairs
       |        UNION SELECT id_b, id_a FROM pairs),
       |reach(v, n) AS (
       |  SELECT v, n FROM sym
       |  UNION
       |  SELECT r.v, s.n FROM reach r JOIN sym s ON r.n = s.v),
       |comp AS (
       |  SELECT v AS doc_id, least(v, MIN(n)) AS canonical_id
       |  FROM reach GROUP BY v)
       |SELECT doc_id, canonical_id FROM comp
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    graft.engine.Graph.connectedComponents(minhashPairs(s, d))
      .select(col("v").as("doc_id"), col("lbl").as("canonical_id"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // decontaminate_fuzzy — NEAR-duplicate train/eval contamination: the
  // minhash-banded complement of Audit.decontaminate's exact-shingle
  // check. A benchmark answer that was lightly paraphrased or
  // whitespace-mangled shares no exact 5-gram but still minhash-collides;
  // this op flags every training doc whose verified Jaccard (≥ 0.5, same
  // gate as dedup_minhash) against ANY benchmark doc survives.
  //
  // Scale shape mirrors decontaminate: the benchmark side is small by
  // construction (eval suites are MBs), so its band keys AND its hashed
  // shingle sets are BROADCAST — the 100 TB training corpus is sketched
  // in one scan pass and probed map-side; the only shuffles are the
  // sketch materialization exchange and the final distinct over 8-byte
  // contaminated ids.
  // --------------------------------------------------------------------
  private val BenchSource = "src0" // same held-out source as decontaminate

  private val decontaminateFuzzy = Op("decontaminate_fuzzy",
    s"""WITH d AS (SELECT doc_id, source, text FROM documents
       |           WHERE text IS NOT NULL),
       |sh AS (SELECT doc_id, source, $shingles3Sql AS sh FROM d),
       |hhv AS (SELECT doc_id, source, $hhalvesSql AS hh FROM sh),
       |hsv AS (SELECT doc_id, list_sort(list_transform(hh, p -> p.h1)) AS hs
       |        FROM hhv),
       |mh AS (SELECT doc_id, source, $minhashesSql AS mh FROM hhv),
       |bands AS (
       |  SELECT doc_id, source, b, mh[2*b+1] AS h1, mh[2*b+2] AS h2
       |  FROM mh, (SELECT unnest(range(0, ${NumHashes / BandSize})) AS b)),
       |cand AS (
       |  SELECT DISTINCT tr.doc_id AS tid, be.doc_id AS bid
       |  FROM bands tr JOIN bands be
       |    ON tr.b = be.b AND tr.h1 = be.h1 AND tr.h2 = be.h2
       |  WHERE tr.source <> '$BenchSource' AND be.source = '$BenchSource'),
       |bad AS (
       |  SELECT DISTINCT tid AS doc_id
       |  FROM cand JOIN hsv ha ON ha.doc_id = tid JOIN hsv hb ON hb.doc_id = bid
       |  WHERE CAST(CAST(len(list_intersect(ha.hs, hb.hs)) AS DECIMAL(18,9))
       |        / (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs)))
       |        AS DOUBLE) >= 0.5)
       |SELECT doc_id, source, doc_id IN (SELECT doc_id FROM bad) AS contaminated
       |FROM documents WHERE source <> '$BenchSource'
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = t(s, d, "documents")
    val base = exchange(docs.filter(col("text").isNotNull)
      .select("doc_id", "source", "text"))
    val hh = exchange(base.select(col("doc_id"), col("source"),
      hhalves(shingles3(col("text"))).as("hh")))
    val bands = hh
      .select(col("doc_id"), col("source"), minhashes(col("hh")).as("mh"))
      .select(col("doc_id"), col("source"),
        explode(transform(sequence(lit(0), lit(NumHashes / BandSize - 1)),
          b => struct(b.as("b"),
            element_at(col("mh"), b * BandSize + 1).as("h1"),
            element_at(col("mh"), b * BandSize + 2).as("h2")))).as("band"))
      .select(col("doc_id"), col("source"), col("band.b").as("b"),
        col("band.h1").as("h1"), col("band.h2").as("h2"))
    val hsv = hh.select(col("doc_id"),
      array_sort(transform(col("hh"), p => p.getField("h1"))).as("hs"))
    val benchBands = broadcast(bands.filter(col("source") === BenchSource)
      .select(col("b"), col("h1"), col("h2"), col("doc_id").as("bid")))
    val cand = bands.filter(col("source") =!= BenchSource)
      .join(benchBands, Seq("b", "h1", "h2"))
      .select(col("doc_id").as("tid"), col("bid")).distinct()
    val benchHs = broadcast(
      hsv.select(col("doc_id").as("bid"), col("hs").as("hs_b")))
    val inter = size(array_intersect(col("hs_a"), col("hs_b")))
    val jac = (inter.cast(DecimalType(18, 9))
      / (size(col("hs_a")) + size(col("hs_b")) - inter)).cast("double")
    val bad = cand
      .join(hsv.select(col("doc_id").as("tid"), col("hs").as("hs_a")), "tid")
      .join(benchHs, "bid")
      .filter(jac >= 0.5)
      .select(col("tid").as("doc_id")).distinct()
    docs.filter(col("source") =!= BenchSource)
      .select("doc_id", "source")
      .join(bad.withColumn("contaminated", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // dedup_simhash — 60-bit simhash over 3-word shingles; 4 bands of 15 bits
  // bucket candidates; verified by hamming distance <= 6. Shingles, not
  // tokens: the fixture vocabulary is tiny, so token SETS are near-identical
  // across all docs and token-simhash would put the whole corpus in one
  // bucket (an accidental all-pairs); shingle sets are near-disjoint for
  // unrelated docs, so buckets stay small — the same reasoning applies to
  // real web corpora, where function-word token sets also collapse.
  // --------------------------------------------------------------------
  private val SimBits = 60
  private val SimBands = 4
  private val BandBits = SimBits / SimBands // 15

  /** Column-valued shift amount (functions.shiftright only takes Int). */
  private def shr(c: Column, n: Column): Column = call_function("shiftright", c, n)

  /** 60-bit simhash with relational vote counting: hash the shingles in a
    * per-row transform, explode the (narrow, long-typed) hashes, aggregate
    * 60 per-bit vote sums (`sum(CASE bit)`), then assemble the bits. One
    * doc-keyed shuffle with map-side partial aggregation. Measured A/B:
    * hashing before the explode beats exploding strings and hashing on the
    * flat column (~5s vs ~7s at sf0.1) — the generator then streams longs
    * instead of shingle strings. */
  private def simhashed(docsWithShingles: DataFrame): DataFrame = {
    val voteCols = (0 until SimBits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
        .as(s"v$b")
    }
    val simExpr = (0 until SimBits).map { b =>
      when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    docsWithShingles
      .select(col("doc_id"), explode(transform(col("sh"), tk => h60(tk))).as("h"))
      .groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"), simExpr.as("sim"))
  }

  private val simhashSql =
    s"""list_sum(list_transform(range(0, $SimBits), b ->
       |      CASE WHEN list_sum(list_transform(hs, h ->
       |        CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
       |      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END))""".stripMargin

  /** The shared CTE prefix (hashed shingles → simhash → banded
    * candidates WITH both sketches) — reused by dedup_simhash and its
    * calibration audit simhash_eval. */
  private[ops] val simhashBaseSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, list_transform($shingles3Sql, tk -> ${h60Sql("tk")}) AS hs
       |  FROM documents WHERE text IS NOT NULL),
       |sh AS (SELECT doc_id, CAST($simhashSql AS BIGINT) AS sim FROM tok),
       |bands AS (
       |  SELECT doc_id, sim, b, (sim >> (b * $BandBits)) & ${(1 << BandBits) - 1} AS bh
       |  FROM sh, (SELECT unnest(range(0, $SimBands)) AS b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.sim AS sim_a, b.sim AS sim_b
       |  FROM bands a JOIN bands b
       |    ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id)""".stripMargin

  private val dedupSimhash = Op("dedup_simhash",
    s"""$simhashBaseSql
       |SELECT id_a, id_b, bit_count(xor(sim_a, sim_b)) AS hamming
       |FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 6
       |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
    simhashCand(s, d)
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= 6)
      .select("id_a", "id_b", "hamming")
      .orderBy("id_a", "id_b")
  }

  /** Banded simhash candidates with both sketches ((id_a, id_b, sim_a,
    * sim_b)) — dedup_simhash's candidate stage, shared with its
    * calibration audit. */
  private[ops] def simhashCand(s: SparkSession, d: String): DataFrame = {
    // text required — the §7.3.9 NULL rule the minhash family already
    // enforces: Spark's concat_ws collapses a NULL doc's shingles to
    // [""] (pairing every NULL doc at hamming 0) while DuckDB's NULL
    // shingle votes every bit to 0; the two engines previously agreed on
    // the null-null pairs BY LUCK (both gave all NULL docs one shared
    // sketch) and diverged on null-vs-real pairs the ≤6 gate happened to
    // hide — simhash_eval's unfiltered candidate report exposed it.
    val docs = exchange(t(s, d, "documents")
      .filter(col("text").isNotNull).select("doc_id", "text"))
    val sh = simhashed(docs.select(col("doc_id"), shingles3(col("text")).as("sh")))
    val bands = sh.select(col("doc_id"), col("sim"),
        explode(transform(sequence(lit(0), lit(SimBands - 1)),
          b => struct(b.as("b"),
            shr(col("sim"), b * BandBits)
              .bitwiseAND((1 << BandBits) - 1).as("bh")))).as("band"))
      .select(col("doc_id"), col("sim"), col("band.b").as("b"), col("band.bh").as("bh"))
    val a = bands.select(col("b"), col("bh"), col("doc_id").as("id_a"), col("sim").as("sim_a"))
    val b = bands.select(col("b"), col("bh"), col("doc_id").as("id_b"), col("sim").as("sim_b"))
    // multi-band collisions emit the pair only from the FIRST band in which
    // the two simhashes collide — a bit-test on values already in the row
    // replaces the candidate DISTINCT shuffle
    val earlierBand = (0 until SimBands).map { j =>
      (lit(j) < col("b")) &&
        (shiftright(col("sim_a"), j * BandBits).bitwiseAND((1 << BandBits) - 1) ===
         shiftright(col("sim_b"), j * BandBits).bitwiseAND((1 << BandBits) - 1))
    }.reduce(_ || _)
    a.join(b, Seq("b", "bh")).filter(col("id_a") < col("id_b"))
      .filter(!earlierBand) // first-band emission = exactly-once
      .select("id_a", "id_b", "sim_a", "sim_b")
  }

  // --------------------------------------------------------------------
  // simhash_eval — the simhash gate's CALIBRATION audit (minhash_eval's
  // sibling, completing the pattern: both sketches now ship with their
  // accuracy measurement): for every banded candidate pair, the hamming
  // distance the gate thresholds on NEXT TO the exact hashed-shingle
  // Jaccard it is a proxy for. The dedup gate keeps hamming ≤ 6; this op
  // shows what Jaccard that actually buys on THIS corpus — the evidence
  // behind choosing 6. Structural invariant pinned: a shared 15-bit band
  // forces hamming ≤ 45, always; and the dedup_simhash survivor set is
  // EXACTLY this op's rows with hamming ≤ 6 (cross-op consistency).
  //
  // Scale shape: identical to dedup_simhash (shared candidate stage)
  // plus the hashed-shingle join-back — the same two narrow keyed
  // shuffles dedup_minhash's verify pays.
  // --------------------------------------------------------------------
  private val simhashEval = Op("simhash_eval",
    s"""$simhashBaseSql
       |SELECT c.id_a, c.id_b,
       |  bit_count(xor(c.sim_a, c.sim_b)) AS hamming,
       |  len(list_intersect(ta.hs, tb.hs)) * 10000
       |    // (len(ta.hs) + len(tb.hs) - len(list_intersect(ta.hs, tb.hs)))
       |    AS jac_bp
       |FROM cand c
       |JOIN tok ta ON ta.doc_id = c.id_a JOIN tok tb ON tb.doc_id = c.id_b
       |ORDER BY c.id_a, c.id_b""".stripMargin) { (s, d) =>
    // chained exchange (the dedup_minhash pattern): the inner one lifts the
    // one-file scan to shuffle-width so the shingle+h60+sort vector builds
    // in parallel (measured r13: 1.86 s on ONE task when it sat below the
    // single materialization exchange); the outer one is the established
    // evaluate-once barrier for the two join sides.
    val hsv = exchange(
      exchange(t(s, d, "documents").filter(col("text").isNotNull)
        .select("doc_id", "text"))
      .select(col("doc_id"),
        array_sort(transform(shingles3(col("text")), tk => h60(tk))).as("hs")))
    val av = hsv.select(col("doc_id").as("id_a"), col("hs").as("hs_a"))
    val bv = hsv.select(col("doc_id").as("id_b"), col("hs").as("hs_b"))
    simhashCand(s, d)
      .join(av, "id_a").join(bv, "id_b")
      .withColumn("hamming",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
      .withColumn("inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .withColumn("uni",
        size(col("hs_a")).cast("long") + size(col("hs_b")) - col("inter"))
      .select(col("id_a"), col("id_b"), col("hamming"),
        expr("inter * 10000 div uni").as("jac_bp"))
      .orderBy("id_a", "id_b")
  }

  // --------------------------------------------------------------------
  // dedup_ngram — banded exact n-gram Jaccard: each doc's 5 smallest shingle
  // hashes are its candidate keys (a deterministic "cheapest shingles"
  // blocking scheme); docs sharing a key get exact Jaccard >= 0.3.
  // --------------------------------------------------------------------
  private val NgramKeys = 5
  // Verification runs on the 60-bit HASHED shingle sets (the same sorted
  // hash array the blocking keys already slice), not the shingle strings:
  // the Jaccard value is identical modulo md5 collisions, both engines
  // hash identically (so they agree bit-for-bit even on a collision), and
  // the candidate join carries ~8-byte longs instead of shingle strings —
  // the standard shingle-fingerprint formulation.
  /** The ngram-blocking verified pairs (jaccard ≥ 0.3, unordered) —
    * shared by dedup_ngram and the cross-method agreement audit. */
  private[ops] val ngramPairsSql: String =
    s"""WITH hs AS (
       |  SELECT doc_id,
       |    list_sort(list_transform($shingles3Sql, s -> ${h60Sql("s")})) AS hs
       |  FROM documents WHERE text IS NOT NULL),
       |keyed AS (
       |  SELECT doc_id, hs, unnest(list_slice(hs, 1, $NgramKeys)) AS k
       |  FROM hs),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.hs AS hs_a, b.hs AS hs_b
       |  FROM keyed a JOIN keyed b ON a.k = b.k AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b,
       |  CAST(CAST(len(list_intersect(hs_a, hs_b)) AS DECIMAL(18,9))
       |       / (len(hs_a) + len(hs_b) - len(list_intersect(hs_a, hs_b))) AS DOUBLE) AS jaccard
       |FROM cand
       |WHERE CAST(CAST(len(list_intersect(hs_a, hs_b)) AS DECIMAL(18,9))
       |       / (len(hs_a) + len(hs_b) - len(list_intersect(hs_a, hs_b))) AS DOUBLE) >= 0.3"""
      .stripMargin

  private val dedupNgram = Op("dedup_ngram",
    s"""$ngramPairsSql
       |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
    ngramPairs(s, d).orderBy("id_a", "id_b")
  }

  /** Spark twin of [[ngramPairsSql]] (unordered). */
  private[ops] def ngramPairs(s: SparkSession, d: String): DataFrame = {
    // NOTE (A/B measured on the 10× probe, twice): two alternative shapes
    // LOST here and the plain wide DISTINCT stays. (a) narrow id-pairs +
    // join-back: 14 → 21 s warm at probe, 0.8 → 2.9 s at sf0.1 —
    // candidates too rare to amortize two extra joins; (b) hybrid
    // smallest-shared-key filter instead of the DISTINCT (payload kept in
    // the band join): 14 → 37 s warm — the jaccard/filter work runs on the
    // pre-dedup multi-key rows, where the DISTINCT collapsed them first.
    // text required — same NULL-text contract and rationale as minhashPairs
    val docs = exchange(t(s, d, "documents")
      .filter(col("text").isNotNull).select("doc_id", "text"))
    val hs = exchange(docs.select(col("doc_id"),
      array_sort(transform(shingles3(col("text")), s => h60(s))).as("hs")))
    ngramPairsFrom(hs)
  }

  /** [[ngramPairs]] from an already-built (doc_id, sorted hashed-shingle
    * array) frame — factored so dedup_agreement can feed the minhash
    * pipeline's hsv (h1 IS h60, so the two frames are value-identical)
    * and pay the md5-per-shingle pass once for both methods. */
  private def ngramPairsFrom(hs: DataFrame): DataFrame = {
    val keyed = hs.select(col("doc_id"), col("hs"),
      explode(slice(col("hs"), 1, NgramKeys)).as("k"))
    val a = keyed.select(col("k"), col("doc_id").as("id_a"), col("hs").as("hs_a"))
    val b = keyed.select(col("k"), col("doc_id").as("id_b"), col("hs").as("hs_b"))
    val cand = a.join(b, Seq("k")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "hs_a", "hs_b").distinct()
    val inter = size(array_intersect(col("hs_a"), col("hs_b")))
    val jac = (inter.cast(DecimalType(18, 9))
      / (size(col("hs_a")) + size(col("hs_b")) - inter)).cast("double")
    cand.withColumn("jaccard", jac)
      .filter(col("jaccard") >= 0.3)
      .select("id_a", "id_b", "jaccard")
  }

  // --------------------------------------------------------------------
  // dedup_agreement — CROSS-METHOD candidate-recall audit: the verified
  // near-dup pairs (exact Jaccard ≥ 0.5) found by minhash banding vs by
  // ngram smallest-hash blocking, full-outer joined. Both methods share
  // the IDENTICAL exact-Jaccard verification (same hashed-shingle
  // formulation), so every disagreement isolates CANDIDATE-GENERATION
  // recall — the quantity LSH theory only bounds probabilistically
  // (4 bands × 2 hashes give ~68% band-collision probability at
  // j = 0.5, rising to ~99.9% at j = 0.9, so minhash-missed pairs are
  // EXPECTED near the threshold and this audit shows where). Running
  // two candidate generators and diffing them is the standard
  // production recall check when ground truth doesn't exist.
  //
  // Scale shape: the two (already scale-shaped) pair pipelines + one
  // full-outer join on pair keys — pair-volume-sized, not corpus-sized.
  // --------------------------------------------------------------------
  private val dedupAgreement = Op("dedup_agreement",
    s"""SELECT COALESCE(m.id_a, g.id_a) AS id_a,
       |  COALESCE(m.id_b, g.id_b) AS id_b,
       |  m.id_a IS NOT NULL AS in_minhash,
       |  g.id_a IS NOT NULL AS in_ngram
       |FROM ($minhashPairsSql) m
       |FULL JOIN (SELECT id_a, id_b FROM ($ngramPairsSql)
       |           WHERE jaccard >= 0.5) g
       |  ON m.id_a = g.id_a AND m.id_b = g.id_b
       |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
    // ONE md5-per-shingle pass for BOTH candidate generators: the ngram
    // leg runs on the minhash pipeline's hashed-shingle frame (hsv's h1
    // IS h60 — value-identical to ngramPairs' own hs), so the md5 digest
    // stage — the dominant CPU of both pipelines — is one shared
    // exchange subtree (ReuseExchange) instead of two full passes.
    val (cand, hsv) = minhashCand(s, d)
    val m = minhashVerify(cand, hsv).select("id_a", "id_b")
      .withColumn("in_m", lit(true))
    val g = ngramPairsFrom(hsv).filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b").withColumn("in_g", lit(true))
    m.join(g, Seq("id_a", "id_b"), "full_outer")
      .select(col("id_a"), col("id_b"),
        coalesce(col("in_m"), lit(false)).as("in_minhash"),
        coalesce(col("in_g"), lit(false)).as("in_ngram"))
      .orderBy("id_a", "id_b")
  }

  // --------------------------------------------------------------------
  // dedup_fuzzy — blocked fuzzy matching (classic entity resolution, the
  // record-linkage flavor of dedup): candidate pairs come from an
  // equi-join on a cheap BLOCKING key (here a name prefix), and only
  // collisions pay the exact edit-distance verification — the same
  // bucket-then-verify shape as the text dedups, applied to short
  // identity-ish strings. Levenshtein is a standard definition, so Spark
  // and DuckDB agree exactly.
  //
  // At 100 TB the blocking key bounds the candidate volume (pairs grow
  // with Σ block² — pick keys from domain knowledge: name prefix,
  // phonetic code, zip). A hot block is the salting case: split it on a
  // second key (suffix hash) before the self-join.
  //
  // DISTANCE UNIT = UTF-8 BYTES (declared contract, found by the r11
  // unicode fixture): Spark's levenshtein counts code points but
  // DuckDB's counts bytes, so the family computes distance over a
  // byte-faithful latin-1 projection of the name — identical to char
  // distance on ASCII, and strictly conservative on multibyte text (an
  // accented edit costs ≥2, so the ≤1 gate can only under-merge, never
  // false-merge). A deployment wanting code-point distance drops the
  // projection and loses only the DuckDB oracle.
  // --------------------------------------------------------------------
  private val FuzzyBlockLen = 16
  private val FuzzyMaxDist = 1

  /** Byte-faithful projection: each UTF-8 byte becomes one latin-1 char,
    * so a code-point levenshtein over it IS byte-level distance. */
  private def asBytes1(c: Column): Column =
    decode(encode(c, "UTF-8"), "ISO-8859-1")

  private val dedupFuzzy = Op("dedup_fuzzy",
    s"""WITH c AS (SELECT c_custkey, lower(c_name) AS n FROM customer),
       |b AS (SELECT c_custkey, n, substr(n, 1, $FuzzyBlockLen) AS blk FROM c)
       |SELECT a.c_custkey AS id_a, b2.c_custkey AS id_b,
       |  CAST(levenshtein(a.n, b2.n) AS INTEGER) AS dist
       |FROM b a JOIN b b2 ON a.blk = b2.blk AND a.c_custkey < b2.c_custkey
       |WHERE levenshtein(a.n, b2.n) <= $FuzzyMaxDist
       |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
    val c = t(s, d, "customer")
      .select(col("c_custkey"), lower(col("c_name")).as("n"))
      .withColumn("blk", substring(col("n"), 1, FuzzyBlockLen))
    // exchange the probe side: the broadcast-join condition carries the
    // levenshtein verification, and a single-file scan would run ALL of it
    // in one task (A/B at 10× probe, warm: 6.1 s → 1.0 s)
    val a = exchange(c)
      .select(col("c_custkey").as("id_a"), col("n").as("n_a"), col("blk"))
    val b = c.select(col("c_custkey").as("id_b"), col("n").as("n_b"), col("blk"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(asBytes1(col("n_a")), asBytes1(col("n_b"))))
      .filter(col("dist") <= FuzzyMaxDist)
      .select("id_a", "id_b", "dist")
      .orderBy("id_a", "id_b")
  }

  // --------------------------------------------------------------------
  // dedup_substring — char-level repeated-run audit (the substring-dedup
  // family: exact character runs duplicated ACROSS documents, which
  // word-shingle sketches miss when the run crosses word boundaries or
  // sits inside otherwise-distinct docs). Strided 30-char windows are
  // hashed (8-byte shuffle keys, never the text), one hash aggregate
  // finds runs appearing in ≥2 distinct docs, and a join-back counts each
  // doc's duplicated windows. Every doc appears in the verdict. At 100 TB
  // this is two keyed shuffles on fixed-width hashes; stride trades
  // recall for volume (stride=1 is the exact published form).
  // --------------------------------------------------------------------
  private val RunLen = 30
  private val RunStride = 10

  /** The strided 30-char hashed window stream (doc_id, h) — the shipped
    * candidate stage, SHARED by dedup_substring and its calibration audit
    * substring_eval (the minhashCand discipline: the audit measures the
    * index actually deployed, not a reimplementation). */
  private[ops] def stridedRuns(s: SparkSession, d: String): DataFrame = {
    val len = length(col("text"))
    val nWin = floor((len - RunLen) / RunStride).cast("long") + 1
    exchange(t(s, d, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(
        when(len >= RunLen, transform(sequence(lit(0L), nWin - 1),
          i => h60(col("text").substr((i * RunStride + 1).cast("int"), lit(RunLen)))))
          .otherwise(array())).as("h"))
  }

  /** The `g` CTE (strided hashed windows) — substring family shared SQL. */
  private[ops] val stridedRunsSql: String = {
    val h = h60Sql(s"substr(text, CAST(i AS INTEGER)*$RunStride+1, $RunLen)")
    s"""g AS (
       |  SELECT doc_id,
       |    unnest(list_transform(
       |      range(0, greatest((length(text) - $RunLen) // $RunStride + 1, 0)),
       |      i -> $h)) AS h
       |  FROM documents WHERE text IS NOT NULL)""".stripMargin
  }

  /** Per-doc duplicated-window counts over the strided run stream —
    * dedup_substring's verdict stage, shared with substring_eval. */
  private[ops] def substringPerDoc(runs: DataFrame): DataFrame = {
    val dup = runs.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("h")
    runs.join(dup, "h")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_runs"))
  }

  private val dedupSubstring = Op("dedup_substring",
    s"""WITH $stridedRunsSql,
       |dup AS (
       |  SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
       |per_doc AS (
       |  SELECT doc_id, count(*) AS n_dup_runs
       |  FROM g JOIN dup USING (h) GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(p.n_dup_runs, 0) AS n_dup_runs,
       |  COALESCE(p.n_dup_runs, 0) > 0 AS flagged
       |FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    t(s, d, "documents").select("doc_id")
      .join(substringPerDoc(stridedRuns(s, d)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dup_runs"), lit(0L)).as("n_dup_runs"))
      .withColumn("flagged", col("n_dup_runs") > 0)
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // fuzzy_eval — dedup_fuzzy's RECALL audit (the audit-per-approximation
  // pattern: minhash_eval/simhash_eval for the sketches, this for the
  // BLOCKING scheme): prefix-blocking can only miss a true match when the
  // single edit falls inside the first $FuzzyBlockLen chars, and this op
  // measures how often that actually happens on THIS corpus. Exact leg =
  // ALL pairs of a deterministic 200-customer sample (bounded by
  // construction — the ann_recall sampled-audit discipline) scored with
  // the same levenshtein; each pair ≤ dist 2 is emitted with whether the
  // SHIPPED blocking key would have caught it (`blocked`) and whether the
  // shipped gate keeps it (`kept` = blocked ∧ dist ≤ $FuzzyMaxDist).
  // dist-2 near-band rows are included so the gate's margin is visible.
  //
  // Scale shape: the 200-row sample is a broadcast; the pair grid is a
  // 200×200 bounded broadcast nested loop (the one justified crossJoin
  // class, pinned in PlanAuditSpec) — never all-pairs on the corpus.
  // --------------------------------------------------------------------
  private val FuzzySampleK = 200

  private val fuzzyEval = Op("fuzzy_eval", {
    val h = h60Sql("concat('fz:', CAST(c_custkey AS VARCHAR))")
    s"""WITH c AS (SELECT c_custkey, lower(c_name) AS n,
       |             substr(lower(c_name), 1, $FuzzyBlockLen) AS blk
       |           FROM customer),
       |s AS (SELECT c_custkey, n, blk FROM (SELECT c.*, $h AS h FROM c)
       |      ORDER BY h, c_custkey LIMIT $FuzzySampleK),
       |p AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       |        CAST(levenshtein(a.n, b.n) AS INTEGER) AS dist,
       |        a.blk = b.blk AS blocked
       |      FROM s a JOIN s b ON a.c_custkey < b.c_custkey)
       |SELECT id_a, id_b, dist, blocked,
       |  blocked AND dist <= $FuzzyMaxDist AS kept
       |FROM p WHERE dist <= ${FuzzyMaxDist + 1}
       |ORDER BY id_a, id_b""".stripMargin
  }) { (s, d) =>
    val c = t(s, d, "customer")
      .select(col("c_custkey"), lower(col("c_name")).as("n"))
      .withColumn("blk", substring(col("n"), 1, FuzzyBlockLen))
    val samp = c
      .withColumn("h", h60(concat(lit("fz:"), col("c_custkey").cast("string"))))
      .orderBy(col("h").asc, col("c_custkey").asc).limit(FuzzySampleK)
      .drop("h")
    val a = samp.select(col("c_custkey").as("id_a"), col("n").as("n_a"),
      col("blk").as("blk_a"))
    val b = samp.select(col("c_custkey").as("id_b"), col("n").as("n_b"),
      col("blk").as("blk_b"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(asBytes1(col("n_a")), asBytes1(col("n_b"))))
      .filter(col("dist") <= FuzzyMaxDist + 1)
      .select(col("id_a"), col("id_b"), col("dist"),
        (col("blk_a") === col("blk_b")).as("blocked"))
      .withColumn("kept", col("blocked") && col("dist") <= FuzzyMaxDist)
      .orderBy("id_a", "id_b")
  }

  // --------------------------------------------------------------------
  // substring_eval — dedup_substring's ALIGNMENT audit: the strided
  // scheme detects a shared 30-char run only when BOTH docs sample it at
  // stride-$RunStride-aligned offsets; this op measures the alignment
  // loss directly. Probe leg = stride-1 windows (the exact published
  // form) of a deterministic 100-doc sample, joined against the SHIPPED
  // strided index of the rest of the corpus — a probe hit needs only the
  // OTHER side aligned, so n_probe ≥ the strided detector's reach on the
  // sampled docs; the per-doc gap (and any flagged_probe ∧ ¬flagged row)
  // is exactly what stride trades away.
  //
  // Scale shape: the probe side is sample-bounded (100 docs × ~len
  // windows); the index side is the shipped stage shared verbatim
  // (stridedRuns); the only new shuffle keys on the fixed-width hash.
  // --------------------------------------------------------------------
  private val SubSampleK = 100

  private val substringEval = Op("substring_eval", {
    val hSel = h60Sql("concat('sub:', CAST(doc_id AS VARCHAR))")
    val hWin = h60Sql(s"substr(text, CAST(i AS INTEGER)+1, $RunLen)")
    s"""WITH $stridedRunsSql,
       |dup AS (
       |  SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
       |per_doc AS (
       |  SELECT doc_id, count(*) AS n_dup_runs
       |  FROM g JOIN dup USING (h) GROUP BY doc_id),
       |s AS (SELECT doc_id, text FROM
       |        (SELECT doc_id, text, $hSel AS h
       |         FROM documents WHERE text IS NOT NULL)
       |      ORDER BY h, doc_id LIMIT $SubSampleK),
       |p AS (SELECT doc_id,
       |        unnest(list_transform(
       |          range(0, greatest(length(text) - $RunLen + 1, 0)),
       |          i -> $hWin)) AS h
       |      FROM s),
       |hits AS (
       |  SELECT p.doc_id, count(*) AS n_probe FROM p
       |  WHERE EXISTS (SELECT 1 FROM g WHERE g.h = p.h AND g.doc_id <> p.doc_id)
       |  GROUP BY p.doc_id)
       |SELECT s.doc_id,
       |  COALESCE(pd.n_dup_runs, 0) AS n_strided,
       |  COALESCE(hits.n_probe, 0) AS n_probe,
       |  COALESCE(pd.n_dup_runs, 0) > 0 AS flagged_strided,
       |  COALESCE(hits.n_probe, 0) > 0 AS flagged_probe
       |FROM s LEFT JOIN per_doc pd ON pd.doc_id = s.doc_id
       |       LEFT JOIN hits ON hits.doc_id = s.doc_id
       |ORDER BY s.doc_id""".stripMargin
  }) { (s, d) =>
    val runs = stridedRuns(s, d)
    val samp = exchange(t(s, d, "documents").filter(col("text").isNotNull)
      .withColumn("h", h60(concat(lit("sub:"), col("doc_id").cast("string"))))
      .orderBy(col("h").asc, col("doc_id").asc).limit(SubSampleK)
      .select("doc_id", "text"))
    val len = length(col("text"))
    val probe = samp.select(col("doc_id"), explode(
        when(len >= RunLen, transform(sequence(lit(0L), (len - RunLen).cast("long")),
          i => h60(col("text").substr((i + 1).cast("int"), lit(RunLen)))))
          .otherwise(array())).as("h"))
    val hits = probe.as("p")
      .join(runs.as("g"),
        col("p.h") === col("g.h") && col("g.doc_id") =!= col("p.doc_id"),
        "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_probe"))
    samp.select("doc_id")
      .join(substringPerDoc(runs), Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dup_runs"), lit(0L)).as("n_strided"),
        coalesce(col("n_probe"), lit(0L)).as("n_probe"))
      .withColumn("flagged_strided", col("n_strided") > 0)
      .withColumn("flagged_probe", col("n_probe") > 0)
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // dedup_incremental — dedup a NEW BATCH against a historical hash index
  // without rescanning the corpus (the production dedup shape: a 100 TB
  // corpus is deduped once, then every nightly drop checks in against the
  // persisted content-hash index — hash-only, tiny next to the text).
  // Here the history/batch split is a deterministic salted-hash predicate
  // over `documents` (~80/20) so both engines reconstruct identical
  // inputs; at deployment the index is a stored table of digests.
  //
  // Plan shape: batch docs dedup within themselves (keyed window on the
  // digest), then ONE left-anti join against the index — both shuffles
  // key on the fixed-width digest, never the text. History contributes
  // only its digest column; the oracle joins on raw text (equivalent
  // modulo hash collisions — the dedup_exact convention).
  // --------------------------------------------------------------------
  private val dedupIncremental = Op("dedup_incremental", {
    val hb = h60Sql("concat('hist:', CAST(doc_id AS VARCHAR))") + " % 5"
    s"""WITH sel AS (SELECT *, $hb AS hb FROM documents),
       |hist AS (SELECT * FROM sel WHERE hb <> 0),
       |bat AS (SELECT * FROM sel WHERE hb = 0),
       |ded AS (SELECT * FROM bat
       |        QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1)
       |SELECT doc_id, lang, source, n_chars FROM ded d
       |WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.text = d.text)
       |ORDER BY doc_id""".stripMargin
  }) { (s, d) =>
    val docs = t(s, d, "documents")
    dedupIncrView(batchLeg(docs), dedupIndex(histLeg(docs)))
  }

  /** The deterministic history/new-batch split the op reconstructs on
    * both engines (~80/20 salted hash over doc_id) — factored so the
    * streaming drive can stream exactly the history leg. */
  private def histSel = h60(concat(lit("hist:"), col("doc_id").cast("string"))) % 5
  private[graft] def histLeg(docs: DataFrame): DataFrame = docs.filter(histSel =!= 0)
  private[graft] def batchLeg(docs: DataFrame): DataFrame = docs.filter(histSel === 0)

  /** The persisted content-hash index over (a drop of) history —
    * dedup_incremental's stored artifact, shared with the streaming twin
    * ([[graft.streaming.Streams.index]]): a distinct digest SET, so
    * the fold is union + distinct — IDEMPOTENT (replays absorb outright;
    * the contamination presence-grid argument). At scale this is the
    * hash-only table a nightly drop checks in against, tiny next to the
    * text. */
  private[graft] def dedupIndex(hist: DataFrame): DataFrame =
    hist.select(sha2(col("text"), 256).as("__h")).distinct()

  /** Dedup a new batch within itself, then against a completed index —
    * the op's read side, shared verbatim with the twin: both shuffles
    * key on the fixed-width digest, never the text. */
  private[graft] def dedupIncrView(batchDocs: DataFrame, idx: DataFrame): DataFrame = {
    val w = Window.partitionBy("__h").orderBy(col("doc_id").asc)
    batchDocs
      .withColumn("__h", sha2(col("text"), 256))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .join(idx, Seq("__h"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  val ops: Seq[Op] = Seq(dedupMinhash, minhashEval, dedupSimhash, simhashEval,
    dedupNgram, dedupAgreement, dedupCluster, dedupFuzzy, fuzzyEval,
    dedupSubstring, substringEval, dedupIncremental, decontaminateFuzzy)
}
