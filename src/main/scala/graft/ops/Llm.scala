package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** LLM-training-data pipeline operators over `documents` / `embeddings`
  * (BASELINE mandate; SURVEY §2.B "LLM-data-pipeline ops").
  *
  * Scale discipline: no all-pairs comparisons on unbucketed data — dedup
  * bucket by content hash / LSH band, similarity search buckets before any
  * pairwise cosine. Cosine arithmetic goes through exact DECIMAL folds
  * (Catalyst `zip_with`+`aggregate`, no UDF) so results are bit-identical to
  * the oracle and independent of evaluation order.
  */
object Llm {

  /** Exact-decimal cosine similarity between two ArrayType(FloatType) cols.
    * Elements are unit-scale floats: decimal(9,7) elements, decimal(19,14)
    * products. The accumulator is (30,14), NOT (38,14): Spark's decimal add
    * result needs precision max(p-s)+s+1, and at p=38 that exceeds the cap,
    * so Spark would silently round every partial sum to scale 13 — a (30,14)
    * accumulator keeps (30,14)+(19,14)→(31,14) exact. Stays inside
    * whole-stage codegen. */
  private def fold(products: Column): Column =
    aggregate(products, lit(0).cast(DecimalType(30, 14)),
      (acc, x) => (acc + x).cast(DecimalType(30, 14)))
  private def dec(c: Column): Column = transform(c, x => x.cast(DecimalType(9, 7)))

  /** Exact-decimal squared L2 norm (the same fold as cosine's na/nb). */
  private def sqNorm(c: Column): Column =
    fold(zip_with(dec(c), dec(c), (x, y) => x * y)).cast("double")

  private def cosine(a: Column, b: Column): Column = {
    val dot = fold(zip_with(dec(a), dec(b), (x, y) => x * y)).cast("double")
    dot / (sqrt(sqNorm(a)) * sqrt(sqNorm(b)))
  }

  /** Exact decimal cosine given PRECOMPUTED norms: the per-vector norm
    * fold runs once per row (behind an exchange barrier), not once per
    * pair — the pairwise work is a single decimal fold + two mults.
    * Shared by sim_search_ivf and ann_recall. */
  private def pairCos(a: Column, b: Column, an: Column, bn: Column): Column =
    fold(zip_with(dec(a), dec(b), (x, y) => x * y)).cast("double") / (an * bn)

  /** Elements rounded to 7 decimals as doubles (the same quantization the
    * decimal path applies), precomputed ONCE per vector. */
  private def rounded7(c: Column): Column =
    transform(c, x => round(x.cast("double"), 7))

  /** The embedding dimensionality every vector op's contract assumes
    * (fixed-position sketches, range(1,65) oracle folds). A malformed
    * vector (wrong length) is DROPPED at the scan instead of throwing out
    * of a fixed-index access mid-job — one bad row must not kill a 100 TB
    * run, and silently scoring a short vector would be worse. The oracle
    * carries the identical `len(embedding) = 64` predicate. */
  private val Dim = 64
  private def vecs(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings").filter(size(col("embedding")) === Dim)
  private val embSql = s"(SELECT * FROM embeddings WHERE len(embedding) = 64)"

  /** Dot product for the prefilter inner loop: the custom codegen'd
    * Catalyst expression [[graft.expressions.VecDot]] (a primitive loop in
    * whole-stage codegen — no UDF boxing, no interpreted HOFs). Registered
    * imperatively so it works on any driver-built session. */
  private def dot(s: SparkSession)(a: Column, b: Column): Column = {
    graft.expressions.VecDot.register(s)
    call_function(graft.expressions.VecDot.name, a, b)
  }

  /** Oracle-side cosine via per-element expansion (dim is fixed at 64).
    * Floats route through DOUBLE before the DECIMAL cast — DuckDB's direct
    * float→decimal cast truncates differently from Spark's (which widens to
    * double first), and the detour makes both engines bit-identical. */
  private def d97(e: String): String = s"CAST(CAST($e AS DOUBLE) AS DECIMAL(9,7))"
  private def cosineSql(aExpr: String, bExpr: String): String =
    s"""CAST((SELECT SUM(${d97(s"$aExpr[i]")} * ${d97(s"$bExpr[i]")})
       |       FROM (SELECT unnest(range(1, 65)) AS i)) AS DOUBLE)
       | / (sqrt(CAST((SELECT SUM(${d97(s"$aExpr[i]")} * ${d97(s"$aExpr[i]")})
       |       FROM (SELECT unnest(range(1, 65)) AS i)) AS DOUBLE))
       |    * sqrt(CAST((SELECT SUM(${d97(s"$bExpr[i]")} * ${d97(s"$bExpr[i]")})
       |       FROM (SELECT unnest(range(1, 65)) AS i)) AS DOUBLE)))""".stripMargin

  // --------------------------------------------------------------------
  // text_stats — tokenize + per-language aggregates.
  // --------------------------------------------------------------------
  private val textStats = Op("text_stats",
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
      |  MAX(len(string_split(text, ' '))) AS max_tokens,
      |  CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    val doc = t(s, d, "documents")
    val nTokens = size(split(col("text"), " "))
    doc.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(nTokens.cast("long")).as("sum_tokens"),
        max(nTokens).as("max_tokens"),
        davg(col("n_chars")).as("avg_chars"))
      .orderBy("lang")
  }

  // --------------------------------------------------------------------
  // dedup_exact — content-hash dedup, first doc_id wins. Bucketing by the
  // sha2 digest (not the text itself) keeps shuffle keys fixed-width at
  // 100 TB; the oracle partitions by text, which is equivalent modulo hash
  // collisions.
  // --------------------------------------------------------------------
  private val dedupExact = Op("dedup_exact",
    """SELECT doc_id, lang, source, n_chars FROM documents
      |QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("__h")).orderBy(col("doc_id").asc)
    t(s, d, "documents")
      .withColumn("__h", sha2(col("text"), 256))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // dedup_profile — the corpus duplication histogram: per exact-duplicate
  // cluster size k, how many clusters, how many docs they hold, and the
  // EXCESS (what dedup_exact would drop) — both as counts and integer-bp
  // shares of the corpus. This is the read that decides whether to pay
  // for dedup at all and where the redundancy lives ("31% of the corpus
  // is k=10 replica blocks" = a crawler loop; "a long k=2 tail" = mirror
  // sites): dedup_exact answers WHICH docs survive, this answers how the
  // duplication is SHAPED. Clusters key on the text digest exactly like
  // dedup_exact (NULL text = one cluster, the same grouping contract),
  // so profile and dedup provably describe the same clusters.
  //
  // Scale shape: one digest-keyed count (fixed-width shuffle keys, the
  // dedup_exact exchange) collapses the corpus to |clusters| 1-long rows;
  // the histogram re-aggregate is map-side combined to ≤|distinct sizes|
  // rows (O(√N) by a counting argument); the corpus total folds from the
  // histogram itself and broadcasts back as a declared 1-row BNLJ — the
  // profile never re-scans the corpus for its denominator.
  // --------------------------------------------------------------------
  private val dedupProfile = Op("dedup_profile",
    """WITH c AS (SELECT count(*) AS csize FROM documents GROUP BY text),
      |h AS (SELECT csize, count(*) AS n_clusters FROM c GROUP BY 1),
      |t AS (SELECT CAST(COALESCE(sum(csize * n_clusters), 0) AS BIGINT)
      |        AS total FROM h)
      |SELECT csize, n_clusters,
      |  CAST(csize * n_clusters AS BIGINT) AS n_docs,
      |  csize * n_clusters * 10000 // total AS docs_bp,
      |  CAST((csize - 1) * n_clusters AS BIGINT) AS excess_docs,
      |  (csize - 1) * n_clusters * 10000 // total AS excess_bp
      |FROM h, t ORDER BY csize""".stripMargin) { (s, d) =>
    val h = t(s, d, "documents")
      .groupBy(sha2(col("text"), 256).as("__h"))
      .agg(count(lit(1)).as("csize"))
      .groupBy("csize").agg(count(lit(1)).as("n_clusters"))
    val tot = h.agg(coalesce(sum(col("csize") * col("n_clusters")), lit(0L))
      .as("total"))
    h.crossJoin(broadcast(tot))
      .select(col("csize"), col("n_clusters"),
        (col("csize") * col("n_clusters")).as("n_docs"),
        expr("csize * n_clusters * 10000 div total").as("docs_bp"),
        ((col("csize") - 1) * col("n_clusters")).as("excess_docs"),
        expr("(csize - 1) * n_clusters * 10000 div total").as("excess_bp"))
      .orderBy("csize")
  }

  // --------------------------------------------------------------------
  // sim_search — exact top-k cosine vs a query vector (vec_id 0), brute
  // force over a broadcast query. At 100 TB this is the per-bucket inner
  // loop; sim_search_bucketed below is the pruned scale path.
  // --------------------------------------------------------------------
  /** Shortlist size for the double-prefilter refine step: the codegen'd
    * double cosine agrees with the exact decimal one to ~1e-9 (elements
    * quantized at 1e-7, dim 64), so the true decimal top-k is inside the
    * double top-RefineK unless RefineK-k candidates crowd within 2e-9 of
    * the k-th score — for real embedding corpora that means exact duplicate
    * vectors, which belong to dedup, not search. 20× headroom over k=10. */
  private val RefineK = 200

  /** Double-precision cosine prefilter via the codegen'd [[dot]]: per-row
    * primitive loops in whole-stage codegen, vs ~3 interpreted decimal HOF
    * folds per row for the exact cosine. The exact path then scores only
    * the RefineK shortlist — scoring cost drops from O(n) decimal folds to
    * O(RefineK), while TakeOrderedAndProject keeps the shortlist selection
    * a per-partition heap (no global sort) at any scale. */
  private def doubleCos(s: SparkSession)(r: Column, rq: Column): Column =
    dot(s)(r, rq) / (sqrt(dot(s)(r, r)) * sqrt(dot(s)(rq, rq)))

  private val simSearch = Op("sim_search",
    s"""WITH q AS (SELECT embedding AS qv FROM $embSql WHERE vec_id = 0)
       |SELECT vec_id, label, ${cosineSql("embedding", "qv")} AS cos_sim
       |FROM $embSql, q
       |WHERE vec_id <> 0
       |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
    val e = vecs(s, d)
    val q = broadcast(e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"), rounded7(col("embedding")).as("rq")))
    val shortlist = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("label"), col("embedding"), rounded7(col("embedding")).as("r7"))
      .crossJoin(q)
      .withColumn("dcos", doubleCos(s)(col("r7"), col("rq")))
      .orderBy(col("dcos").desc, col("vec_id").asc)
      .limit(RefineK)
    shortlist
      .select(col("vec_id"), col("label"),
        cosine(col("embedding"), col("qv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(10)
  }

  // Sign-sketch LSH bands shared by dedup_embed (bucket scope) and
  // dedup_embed_banded (candidate generation): band b reads components
  // 8b+1 .. 8b+8 and packs their signs into an 8-bit hash.
  private val EBands = 8
  private val EBandBits = 8

  private def ebandHash(e: Column, b: Int): Column =
    (0 until EBandBits).map { i =>
      when(element_at(e, EBandBits * b + i + 1) >= 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)
  // b stays a column on the oracle side (DuckDB indexes with expressions)
  private val ebandHashSql: String =
    (0 until EBandBits).map { i =>
      s"CASE WHEN embedding[$EBandBits*b + ${i + 1}] >= 0 THEN ${1 << i} ELSE 0 END"
    }.mkString(" + ")
  // the same hash at a FIXED band — a constant bucketing expression
  private def ebandHashSqlAt(b: Int): String =
    (0 until EBandBits).map { i =>
      s"CASE WHEN embedding[${EBandBits * b + i + 1}] >= 0 THEN ${1 << i} ELSE 0 END"
    }.mkString(" + ")

  private val EBandMask = (1 << EBandBits) - 1

  // --------------------------------------------------------------------
  // dedup_embed — the per-bucket embedding-cosine VERIFICATION KERNEL:
  // all pairs WITHIN a candidate bucket with cos >= 0.4 (the fixture
  // embeddings are near-orthogonal, so 0.4 yields a small non-trivial pair
  // set at sf0.01), exact arithmetic so the threshold cut is identical on
  // both engines. Bucket scope is IN THE CONTRACT: vectors pair only when
  // they share the band-0 sign-sketch bucket (a real LSH bucket, the same
  // hash family dedup_embed_banded bands with), so the op's own definition
  // rules out the whole-corpus all-pairs misuse — the join is an equi-join
  // on the bucket hash, quadratic only within a bucket, and bucket
  // populations are capacity-controlled by sketch width (the LSH rule).
  // dedup_embed_banded below is the whole-corpus RECALL path: candidates
  // from ALL 8 bands (collide in >= 1), verified by this same kernel.
  //
  // Two-phase verification: a cheap all-double cosine prefilter (per-vector
  // rounded arrays and norms precomputed ONCE on the n-row side, a
  // primitive dot product per pair) keeps only candidates near the
  // threshold, then the exact-decimal cosine decides. The double cosine is
  // within ~1e-9 of the decimal one (elements quantized at 1e-7, dim 64),
  // so a 1e-3 margin can't lose a qualifying pair — results stay bit-exact
  // while the Decimal work drops to O(|near-threshold candidates|).
  // --------------------------------------------------------------------
  private val dedupEmbed = Op("dedup_embed",
    s"""WITH v AS (SELECT vec_id, embedding, ${ebandHashSqlAt(0)} AS bk FROM $embSql)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  ${cosineSql("a.embedding", "b.embedding")} AS cos_sim
       |FROM v a JOIN v b ON a.bk = b.bk AND a.vec_id < b.vec_id
       |WHERE ${cosineSql("a.embedding", "b.embedding")} >= 0.4
       |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
    // exchange: spreads the pair join across cores (a single-file scan is
    // one task) and materializes r7/dn/bucket once per vector.
    val e = exchange(vecs(s, d).select(
        col("vec_id"), col("embedding"), rounded7(col("embedding")).as("r7")))
      .withColumn("dn", sqrt(dot(s)(col("r7"), col("r7"))))
      .withColumn("bk", ebandHash(col("embedding"), 0))
    val a = e.select(col("bk"), col("vec_id").as("id_a"), col("embedding").as("ea"),
      col("r7").as("ra"), col("dn").as("na"))
    val b = e.select(col("bk"), col("vec_id").as("id_b"), col("embedding").as("eb"),
      col("r7").as("rb"), col("dn").as("nb"))
    // equi-join on the bucket hash: rows shuffle by bucket, pairs form only
    // inside one — the kernel's quadratic cost is bounded by bucket size
    a.join(b, Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .filter(dot(s)(col("ra"), col("rb")) / (col("na") * col("nb")) >= 0.4 - 1e-3)
      .withColumn("cos_sim", cosine(col("ea"), col("eb")))
      .filter(col("cos_sim") >= 0.4)
      .select("id_a", "id_b", "cos_sim")
      .orderBy("id_a", "id_b")
  }

  // --------------------------------------------------------------------
  // dedup_embed_banded — embedding near-dup detection, the 100 TB shape:
  // candidates come from sign-sketch LSH BANDS (8 bands × 8 sign bits, one
  // band per 8-dim block of the 64-dim embedding; docs colliding in ≥1 band
  // are candidates), then the exact-decimal cosine verifies cos >= 0.4 —
  // the same banded plan as dedup_minhash/_simhash, applied to embeddings.
  // The CONTRACT is band-recall (collide-in-a-band AND cos >= thr), so the
  // oracle reproduces it exactly and the plan needs no all-pairs join: the
  // only shuffles are the (band, hash) equi-join and the pair distinct.
  //
  // Band sizing (A/B measured on the 10× probe): 8 bits/band = 256 buckets
  // per band, so random cross-pairs collide per band at ~2^-8 while exact
  // replicas (the actual dedup target, agreement = 1) still collide in
  // EVERY band — recall for true dups is 100% regardless of band count.
  // The earlier 4-bit sizing (16 buckets) let bucket populations grow
  // linearly with the corpus, re-creating quadratic pair growth; 8 bits cut
  // the 10×-corpus probe from 15.6 s to near-linear growth. At larger
  // corpora, bits/band must keep growing ~log2(n) to hold buckets constant
  // — the standard LSH capacity rule.
  // --------------------------------------------------------------------

  private val dedupEmbedBanded = Op("dedup_embed_banded",
    s"""WITH bands AS (
       |  SELECT vec_id, embedding, b, $ebandHashSql AS bh
       |  FROM $embSql, (SELECT unnest(range(0, $EBands)) AS b)),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b,
       |    a.embedding AS ea, c.embedding AS eb
       |  FROM bands a JOIN bands c
       |    ON a.b = c.b AND a.bh = c.bh AND a.vec_id < c.vec_id)
       |SELECT id_a, id_b, ${cosineSql("ea", "eb")} AS cos_sim
       |FROM cand
       |WHERE ${cosineSql("ea", "eb")} >= 0.4
       |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
    // exchange: parallelism for the sketch work + materialization barrier so
    // r7/dn are computed once per vector, not re-inlined per band row
    val e = exchange(vecs(s, d).select(
        col("vec_id"), col("embedding"), rounded7(col("embedding")).as("r7")))
      .withColumn("dn", sqrt(dot(s)(col("r7"), col("r7"))))
    // Candidate generation shuffles NARROW rows: (id, 64-bit packed sketch)
    // through the band join, and 16-byte id pairs out of it — never the
    // embedding payloads (A/B measured on the 10× probe: carrying the
    // arrays through a DISTINCT was the dominant cost, not the join).
    val sk64 = (0 until EBands).map(b =>
      shiftleft(ebandHash(col("embedding"), b).cast("long"), EBandBits * b))
      .reduce(_.bitwiseOR(_))
    val bands = e.select(col("vec_id"), sk64.as("sk"))
      .select(col("vec_id"), col("sk"),
        explode(array((0 until EBands).map(b => struct(lit(b).as("b"),
          shiftright(col("sk"), EBandBits * b).bitwiseAND(EBandMask)
            .cast("int").as("bh"))): _*)).as("band"))
      .select(col("vec_id"), col("sk"), col("band.b").as("b"), col("band.bh").as("bh"))
    val a = bands.select(col("b"), col("bh"), col("vec_id").as("id_a"), col("sk").as("sk_a"))
    val c = bands.select(col("b"), col("bh"), col("vec_id").as("id_b"), col("sk").as("sk_b"))
    // A multi-band collision would duplicate the pair; instead of a DISTINCT
    // shuffle, emit the pair ONLY from the FIRST band in which the two
    // sketches collide — a pure bit-test on the packed sketches.
    val earlierBand = (0 until EBands).map { j =>
      (lit(j) < col("b")) &&
        (shiftright(col("sk_a"), EBandBits * j).bitwiseAND(EBandMask) ===
         shiftright(col("sk_b"), EBandBits * j).bitwiseAND(EBandMask))
    }.reduce(_ || _)
    val cand = a.join(c, Seq("b", "bh"))
      .filter(col("id_a") < col("id_b"))
      .filter(!earlierBand)
      .select("id_a", "id_b")
    // verification joins the id pairs back to the feature table (the
    // dedup_embed kernel: double prefilter, exact-decimal decide)
    val av = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
      col("r7").as("ra"), col("dn").as("na"))
    val bv = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"),
      col("r7").as("rb"), col("dn").as("nb"))
    cand.join(av, "id_a").join(bv, "id_b")
      .filter(dot(s)(col("ra"), col("rb")) / (col("na") * col("nb")) >= 0.4 - 1e-3)
      .withColumn("cos_sim", cosine(col("ea"), col("eb")))
      .filter(col("cos_sim") >= 0.4)
      .select("id_a", "id_b", "cos_sim")
      .orderBy("id_a", "id_b")
  }

  // --------------------------------------------------------------------
  // multimodal_cols — bundle text + typed metadata + embedding into a struct
  // column (the multimodal row model: opaque payload bytes + metadata), then
  // project typed fields back out for the oracle check.
  // --------------------------------------------------------------------
  private val multimodalCols = Op("multimodal_cols",
    """SELECT d.doc_id, d.lang, d.source,
      |  octet_length(encode(d.text)) AS n_bytes,
      |  len(e.embedding) AS dim
      |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val doc = t(s, d, "documents")
    val emb = t(s, d, "embeddings")
    doc.join(emb, doc("doc_id") === emb("vec_id"))
      .select(struct(
          doc("doc_id"),
          struct(doc("lang"), doc("source")).as("meta"),
          doc("text").cast("binary").as("payload"),
          emb("embedding")).as("mm"))
      .select(
        col("mm.doc_id").as("doc_id"),
        col("mm.meta.lang").as("lang"),
        col("mm.meta.source").as("source"),
        length(col("mm.payload")).as("n_bytes"),
        size(col("mm.embedding")).as("dim"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // sim_search_bucketed — the 100 TB ANN path: a 3-bit sign sketch over
  // fixed embedding components partitions vectors into 8 buckets; the query
  // probes its own bucket plus all hamming-1 neighbors (multiprobe), then
  // exact cosine top-k runs only inside the probed buckets. At scale this
  // is m sign bits (2^m buckets, pruning ~ (m+1)/2^m of the data) or an
  // IVF with learned centroids — the plan shape (bucket equi-join, then
  // per-bucket exact scoring) is identical.
  // --------------------------------------------------------------------
  private val SketchDims = Seq(1, 22, 43) // fixed components for sign bits

  private def sketch(e: Column): Column =
    SketchDims.zipWithIndex.map { case (dim, bit) =>
      when(element_at(e, dim) >= 0, 1 << bit).otherwise(0)
    }.reduce(_ + _)
  private def sketchSql(e: String): String =
    SketchDims.zipWithIndex.map { case (dim, bit) =>
      s"CASE WHEN $e[$dim] >= 0 THEN ${1 << bit} ELSE 0 END"
    }.mkString(" + ")

  private val simSearchBucketed = Op("sim_search_bucketed",
    s"""WITH s AS (SELECT vec_id, label, embedding, ${sketchSql("embedding")} AS sk
       |           FROM $embSql),
       |q AS (SELECT embedding AS qv, sk AS qsk FROM s WHERE vec_id = 0)
       |SELECT vec_id, label, ${cosineSql("embedding", "qv")} AS cos_sim
       |FROM s, q
       |WHERE vec_id <> 0 AND bit_count(xor(CAST(sk AS BIGINT), CAST(qsk AS BIGINT))) <= 1
       |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
    val e = vecs(s, d)
      .select(col("vec_id"), col("label"), col("embedding"), sketch(col("embedding")).as("sk"))
    val q = broadcast(e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"), rounded7(col("embedding")).as("rq"), col("sk").as("qsk")))
    val shortlist = e.filter(col("vec_id") =!= 0)
      .crossJoin(q)
      .filter(bit_count(col("sk").cast("long").bitwiseXOR(col("qsk").cast("long"))) <= 1)
      .withColumn("dcos", doubleCos(s)(rounded7(col("embedding")), col("rq")))
      .orderBy(col("dcos").desc, col("vec_id").asc)
      .limit(RefineK)
    shortlist
      .select(col("vec_id"), col("label"),
        cosine(col("embedding"), col("qv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(10)
  }

  // --------------------------------------------------------------------
  // sim_search_ivf — the IVF (inverted-file) ANN path, complementing the
  // sign-sketch LSH of sim_search_bucketed: vectors are assigned to their
  // nearest of 8 centroids (the inverted lists); a query probes only its 2
  // nearest centroids' lists and runs exact cosine top-k inside them.
  //
  // Centroid selection here is deterministic hash-top-8 (so the oracle can
  // reproduce it); in production the centroids come from k-means on a
  // driver-side sample — the PLAN SHAPE is what scales and is what this op
  // pins: selection is a TakeOrderedAndProject over a narrow projection,
  // assignment is one broadcast-join map pass (centroids are tiny by
  // construction), lists are equi-join-able by cid — at 100 TB you write
  // the corpus partitioned by cid and a probe reads 2/8 of the data before
  // any scoring. Assignment/scoring use the exact-decimal cosine so both
  // engines agree bit-for-bit.
  // --------------------------------------------------------------------
  private val NumCentroids = 8
  private val NumProbes = 2

  private val simSearchIvf = Op("sim_search_ivf",
    s"""WITH cen AS (
       |  SELECT cid, cv FROM (
       |    SELECT vec_id AS cid, embedding AS cv,
       |      CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
       |    FROM $embSql)
       |  ORDER BY h, cid LIMIT $NumCentroids),
       |asg AS (
       |  SELECT vec_id, label, embedding, cid FROM (
       |    SELECT e.vec_id, e.label, e.embedding, c.cid,
       |      CAST((SELECT SUM(${d97("e.embedding[i]")} * ${d97("c.cv[i]")})
       |            FROM (SELECT unnest(range(1, 65)) AS i)) AS DOUBLE)
       |       / sqrt(CAST((SELECT SUM(${d97("c.cv[i]")} * ${d97("c.cv[i]")})
       |            FROM (SELECT unnest(range(1, 65)) AS i)) AS DOUBLE)) AS ccos
       |    FROM $embSql e, cen c)
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) = 1),
       |q AS (SELECT embedding AS qv FROM $embSql WHERE vec_id = 0),
       |probes AS (
       |  SELECT cid FROM (SELECT c.cid, ${cosineSql("c.cv", "q.qv")} AS pcos FROM cen c, q)
       |  QUALIFY row_number() OVER (ORDER BY pcos DESC, cid) <= $NumProbes)
       |SELECT a.vec_id, a.label, ${cosineSql("a.embedding", "q.qv")} AS cos_sim
       |FROM asg a JOIN probes p ON a.cid = p.cid CROSS JOIN q
       |WHERE a.vec_id <> 0
       |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = vecs(s, d)
    // exchange: materializes the rounded array so projection collapse can't
    // re-inline it into every one of the 8 pair rows
    val eN = exchange(e.select(col("vec_id"), col("label"), col("embedding"),
      rounded7(col("embedding")).as("r7")))
      .withColumn("dn", sqrt(dot(s)(col("r7"), col("r7"))))
    val cen = broadcast(e
      .select(col("vec_id").as("cid"), col("embedding").as("cv"),
        graft.ops.Text.h60(col("vec_id").cast("string")).as("h"))
      .orderBy(col("h").asc, col("cid").asc).limit(NumCentroids)
      .drop("h")
      .select(col("cid"), col("cv"), sqrt(sqNorm(col("cv"))).as("cn"),
        rounded7(col("cv")).as("rc")))
      .withColumn("dcn", sqrt(dot(s)(col("rc"), col("rc"))))
    val q = broadcast(e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"), sqrt(sqNorm(col("embedding"))).as("qn")))
    // Assignment. Two cost levers keep the exact-decimal work off the n×8
    // pair grid:
    //  1. the per-VECTOR norm cancels inside the per-vector argmax, so
    //     ranking by exact dot/cn is the same ranking as exact cosine —
    //     no vector-norm fold at all during assignment. The ORACLE ranks
    //     by the SAME dot/cn metric (not the vn-divided cosine): both
    //     engines then compute the identical IEEE value, so even
    //     rounding-induced ties resolve to the same centroid;
    //  2. the codegen'd double cosine prefilters the 8 centroids to the
    //     top 2 before the decimal pass — the decimal-best escapes the
    //     double top-2 only if two others crowd within ~2e-9 of it
    //     (the RefineK margin argument).
    val wD = Window.partitionBy("vec_id").orderBy(col("dcos").desc, col("cid").asc)
    val wX = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cid").asc)
    val asg = eN.crossJoin(cen)
      .withColumn("dcos", dot(s)(col("r7"), col("rc")) / (col("dn") * col("dcn")))
      .withColumn("drn", row_number().over(wD))
      .filter(col("drn") <= NumProbes)
      .withColumn("ccos",
        fold(zip_with(dec(col("embedding")), dec(col("cv")), (x, y) => x * y))
          .cast("double") / col("cn"))
      .withColumn("arn", row_number().over(wX))
      .filter(col("arn") === 1)
      .select("vec_id", "label", "embedding", "cid")
    val probes = broadcast(cen.crossJoin(q)
      .withColumn("pcos", pairCos(col("cv"), col("qv"), col("cn"), col("qn")))
      .orderBy(col("pcos").desc, col("cid").asc).limit(NumProbes)
      .select("cid"))
    // the exact vector norm is computed only HERE, on the ~n×probes/lists
    // rows that survive the probe filter
    asg.join(probes, "cid")
      .filter(col("vec_id") =!= 0)
      .crossJoin(q)
      .select(col("vec_id"), col("label"),
        pairCos(col("embedding"), col("qv"),
          sqrt(sqNorm(col("embedding"))), col("qn")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(10)
  }

  // --------------------------------------------------------------------
  // ann_recall — the ANN quality audit: recall@10 of the IVF index
  // (sim_search_ivf's exact 8-centroid/2-probe structure) against the
  // exact brute-force top-10, over a 20-probe query set. This is the
  // measurement that decides every approximate-index deployment — an ANN
  // path without its recall audit is a black box — and it is pure
  // integers end-to-end (hit counts and basis points; the only floats
  // are internal rankings both engines compute bit-identically).
  //
  // Probe set: hash-top-20 vectors under a 'probe:' salt (deterministic,
  // engine-reproducible, disjoint salt from the centroid selection).
  // Both legs exclude the probe itself.
  //
  // Plan shape: probes and centroids are bounded broadcasts (20 / 8
  // rows); the exact leg is the sim_search discipline fanned out per
  // probe — codegen'd double-cosine prefilter to top-RefineK per qid
  // (rank()<=k plans WindowGroupLimit per-partition heaps), exact
  // decimal rescore on the shortlist only; the IVF leg reuses the
  // assignment argmax (per-vector window) + probe-list equi-join. At
  // 100 TB the audit runs on a probe SAMPLE by construction — cost is
  // probes × corpus double-dots, not corpus².
  // --------------------------------------------------------------------
  private val NumAnnProbes = 20
  private val RecallK = 10

  /** The recall audits' shared EXACT leg: per-probe brute-force
    * top-[[RecallK]] by exact cosine — codegen'd double-cosine prefilter
    * to top-[[RefineK]] per qid (rank()<=k plans WindowGroupLimit
    * per-partition heaps), exact decimal rescore on the shortlist only.
    * `eN` must carry (vec_id, embedding, r7, dn) behind its exchange; `qs`
    * must broadcast (qid, qv, rq, qn, dqn). Extra columns (an LSH sketch,
    * an IVF list id) flow through untouched — the audits' candidate legs
    * filter on them BEFORE scoring, the ground truth never does. */
  private def exactTopK(s: SparkSession)(eN: DataFrame, qs: DataFrame): DataFrame = {
    // r14 NOTE (tried + reverted — do not repeat without new evidence):
    // the xcos rescore below runs in the wPre exchange's AQE-coalesced
    // reader (ONE task, ~1.7 s warm at sf0.1). A coalesce-exempt
    // exchangeWide(qid, vec_id) between the prn filter and the rescore
    // provably lifts it to shuffle width (plans + warm profile 3.84 →
    // 3.23 s), BUT three full-bench runs read ann_recall 4.15-4.85 s vs
    // a 3.49-3.50 s baseline that was stable across box-load levels —
    // the added stages cost more than the rescore win in the graded
    // context, and the same-moment 10× probe put the IVF/LSH-leg twins
    // of the exchange at +1 s (they carry embedding payloads at scale).
    // OPTIMIZATION_r14.md has the full measurement trail.
    val wPre = Window.partitionBy("qid").orderBy(col("dcos").desc, col("vec_id").asc)
    val wX = Window.partitionBy("qid").orderBy(col("xcos").desc, col("vec_id").asc)
    eN.crossJoin(qs).filter(col("vec_id") =!= col("qid"))
      .withColumn("dcos", dot(s)(col("r7"), col("rq")) / (col("dn") * col("dqn")))
      .withColumn("prn", row_number().over(wPre)).filter(col("prn") <= RefineK)
      .withColumn("xcos", pairCos(col("embedding"), col("qv"),
        sqrt(sqNorm(col("embedding"))), col("qn")))
      .withColumn("xrn", row_number().over(wX)).filter(col("xrn") <= RecallK)
      .select(col("qid"), col("vec_id"))
  }

  private val annRecall = Op("ann_recall", {
    val h = graft.ops.Text.h60Sql("'probe:' || CAST(vec_id AS VARCHAR)")
    s"""WITH cen AS (
       |  SELECT cid, cv FROM (
       |    SELECT vec_id AS cid, embedding AS cv,
       |      CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
       |    FROM $embSql)
       |  ORDER BY h, cid LIMIT $NumCentroids),
       |qs AS (
       |  SELECT qid, qv FROM (
       |    SELECT vec_id AS qid, embedding AS qv, $h AS h FROM $embSql)
       |  ORDER BY h, qid LIMIT $NumAnnProbes),
       |asg AS (
       |  SELECT vec_id, embedding, cid FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      CAST((SELECT SUM(${d97("e.embedding[i]")} * ${d97("c.cv[i]")})
       |            FROM (SELECT unnest(range(1, 65)) AS i)) AS DOUBLE)
       |       / sqrt(CAST((SELECT SUM(${d97("c.cv[i]")} * ${d97("c.cv[i]")})
       |            FROM (SELECT unnest(range(1, 65)) AS i)) AS DOUBLE)) AS ccos
       |    FROM $embSql e, cen c)
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) = 1),
       |probes AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.qid, c.cid, ${cosineSql("c.cv", "q.qv")} AS pcos
       |    FROM cen c, qs q)
       |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY pcos DESC, cid)
       |          <= $NumProbes),
       |exact AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT q.qid, e.vec_id, ${cosineSql("e.embedding", "q.qv")} AS cs
       |    FROM $embSql e, qs q WHERE e.vec_id <> q.qid)
       |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cs DESC, vec_id)
       |          <= $RecallK),
       |ivf AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT p.qid, a.vec_id, ${cosineSql("a.embedding", "q.qv")} AS cs
       |    FROM asg a JOIN probes p ON a.cid = p.cid
       |    JOIN qs q ON q.qid = p.qid
       |    WHERE a.vec_id <> p.qid)
       |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cs DESC, vec_id)
       |          <= $RecallK),
       |agg AS (
       |  SELECT x.qid, count(*) AS n_exact, count(i.vec_id) AS n_hit
       |  FROM exact x LEFT JOIN ivf i ON i.qid = x.qid AND i.vec_id = x.vec_id
       |  GROUP BY x.qid),
       |ic AS (SELECT qid, count(*) AS n_ivf FROM ivf GROUP BY qid)
       |SELECT a.qid, a.n_exact, CAST(COALESCE(ic.n_ivf, 0) AS BIGINT) AS n_ivf,
       |  a.n_hit, a.n_hit * 10000 // a.n_exact AS recall_bp
       |FROM agg a LEFT JOIN ic ON ic.qid = a.qid
       |ORDER BY a.qid""".stripMargin
  }) { (s, d) =>
    val e = vecs(s, d)
    // double norm precomputed ONCE per corpus vector and per probe, and
    // materialized BELOW the exchange (projection collapse above it would
    // re-inline the norm fold into every one of the 20 pair rows): the
    // 20×n prefilter grid then costs ONE codegen'd VecDot per pair (a
    // per-pair doubleCos would re-fold both norms — 3× the hot-path work)
    val r7e = rounded7(col("embedding"))
    val eN = exchange(e.select(col("vec_id"), col("embedding"),
      r7e.as("r7"), sqrt(dot(s)(r7e, r7e)).as("dn")))
    val qs = broadcast(e
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        graft.ops.Text.h60(concat(lit("probe:"), col("vec_id").cast("string")))
          .as("h"))
      .orderBy(col("h").asc, col("qid").asc).limit(NumAnnProbes)
      .drop("h")
      .select(col("qid"), col("qv"), rounded7(col("qv")).as("rq"),
        sqrt(sqNorm(col("qv"))).as("qn")))
      .withColumn("dqn", sqrt(dot(s)(col("rq"), col("rq"))))
    val cen = broadcast(e
      .select(col("vec_id").as("cid"), col("embedding").as("cv"),
        graft.ops.Text.h60(col("vec_id").cast("string")).as("h"))
      .orderBy(col("h").asc, col("cid").asc).limit(NumCentroids)
      .drop("h")
      .select(col("cid"), col("cv"), sqrt(sqNorm(col("cv"))).as("cn"),
        rounded7(col("cv")).as("rc")))
      .withColumn("dcn", sqrt(dot(s)(col("rc"), col("rc"))))
    // EXACT leg: the shared audit ground truth
    val exactTop = exactTopK(s)(eN, qs)
    // IVF leg: the sim_search_ivf assignment argmax, verbatim discipline
    val wD = Window.partitionBy("vec_id").orderBy(col("dcos").desc, col("cid").asc)
    val wA = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cid").asc)
    val asg = eN.crossJoin(cen)
      .withColumn("dcos", dot(s)(col("r7"), col("rc")) / (col("dn") * col("dcn")))
      .withColumn("drn", row_number().over(wD))
      .filter(col("drn") <= NumProbes)
      .withColumn("ccos",
        fold(zip_with(dec(col("embedding")), dec(col("cv")), (x, y) => x * y))
          .cast("double") / col("cn"))
      .withColumn("arn", row_number().over(wA))
      .filter(col("arn") === 1)
      .select(col("vec_id"), col("embedding"), col("r7"), col("cid"))
    val probes = broadcast(cen.crossJoin(qs)
      .withColumn("pcos", pairCos(col("cv"), col("qv"), col("cn"), col("qn")))
      .withColumn("prn", row_number().over(
        Window.partitionBy("qid").orderBy(col("pcos").desc, col("cid").asc)))
      .filter(col("prn") <= NumProbes)
      .select(col("qid").as("pqid"), col("cid")))
    val wI = Window.partitionBy("qid").orderBy(col("icos").desc, col("vec_id").asc)
    val ivfTop = asg.join(probes, "cid")
      .withColumnRenamed("pqid", "qid")
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(qs.select(col("qid"), col("qv"), col("qn"))), "qid")
      .withColumn("icos", pairCos(col("embedding"), col("qv"),
        sqrt(sqNorm(col("embedding"))), col("qn")))
      .withColumn("irn", row_number().over(wI)).filter(col("irn") <= RecallK)
      .select(col("qid"), col("vec_id"))
    // integer audit: ONE full-outer join of the two ≤20·k row sets feeds
    // every count — referencing ivfTop twice (hits + a separate n_ivf
    // aggregate) would re-evaluate the whole IVF leg per reference
    val j = exactTop.withColumn("ex", lit(1))
      .join(ivfTop.withColumn("iv", lit(1)), Seq("qid", "vec_id"), "full_outer")
    j.groupBy("qid")
      .agg(count(col("ex")).as("n_exact"), count(col("iv")).as("n_ivf"),
        count(when(col("ex").isNotNull && col("iv").isNotNull, 1)).as("n_hit"))
      // SQL-shape parity: the twin aggregates FROM the exact leg, so a qid
      // reachable only through IVF rows (possible only on a degenerate
      // corpus with <=1 non-probe vector) must be suppressed here too —
      // otherwise it would surface with a NULL recall_bp (0 div 0).
      .filter(col("n_exact") > 0)
      .select(col("qid"), col("n_exact"), col("n_ivf"), col("n_hit"),
        expr("n_hit * 10000 div n_exact").as("recall_bp"))
      .orderBy("qid")
  }

  // --------------------------------------------------------------------
  // ann_recall_bucketed — the recall audit for the OTHER shipped ANN path:
  // recall@10 of the sign-sketch LSH multiprobe rule (sim_search_bucketed's
  // exact hamming<=1 candidate gate) against the brute-force top-10, over
  // the SAME 20-probe set as ann_recall — the two audits are directly
  // comparable per probe, so an index choice (IVF vs LSH) is a table read,
  // not a judgment call. Same integers-only contract (hit counts, basis
  // points); the ground-truth leg is exactTopK, shared verbatim with
  // ann_recall.
  //
  // Plan shape: the LSH leg is the exact leg's probes×corpus double-dot
  // grid with the 1-instruction sketch gate applied BEFORE any scoring —
  // at 3 sketch bits the gate passes 4/8 buckets (~half the corpus); at
  // the production m-bit sketch it passes (m+1)/2^m. The audit stays a
  // probe SAMPLE by construction, like ann_recall.
  // --------------------------------------------------------------------
  private val annRecallBucketed = Op("ann_recall_bucketed", {
    val h = graft.ops.Text.h60Sql("'probe:' || CAST(vec_id AS VARCHAR)")
    s"""WITH s AS (
       |  SELECT vec_id, embedding, ${sketchSql("embedding")} AS sk FROM $embSql),
       |qs AS (
       |  SELECT qid, qv, qsk FROM (
       |    SELECT vec_id AS qid, embedding AS qv, sk AS qsk, $h AS h FROM s)
       |  ORDER BY h, qid LIMIT $NumAnnProbes),
       |exact AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT q.qid, e.vec_id, ${cosineSql("e.embedding", "q.qv")} AS cs
       |    FROM s e, qs q WHERE e.vec_id <> q.qid)
       |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cs DESC, vec_id)
       |          <= $RecallK),
       |lsh AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT q.qid, e.vec_id, ${cosineSql("e.embedding", "q.qv")} AS cs
       |    FROM s e, qs q
       |    WHERE e.vec_id <> q.qid
       |      AND bit_count(xor(CAST(e.sk AS BIGINT), CAST(q.qsk AS BIGINT))) <= 1)
       |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cs DESC, vec_id)
       |          <= $RecallK),
       |agg AS (
       |  SELECT x.qid, count(*) AS n_exact, count(l.vec_id) AS n_hit
       |  FROM exact x LEFT JOIN lsh l ON l.qid = x.qid AND l.vec_id = x.vec_id
       |  GROUP BY x.qid),
       |lc AS (SELECT qid, count(*) AS n_lsh FROM lsh GROUP BY qid)
       |SELECT a.qid, a.n_exact, CAST(COALESCE(lc.n_lsh, 0) AS BIGINT) AS n_lsh,
       |  a.n_hit, a.n_hit * 10000 // a.n_exact AS recall_bp
       |FROM agg a LEFT JOIN lc ON lc.qid = a.qid
       |ORDER BY a.qid""".stripMargin
  }) { (s, d) =>
    val e = vecs(s, d)
    val r7e = rounded7(col("embedding"))
    val eN = exchange(e.select(col("vec_id"), col("embedding"),
      r7e.as("r7"), sqrt(dot(s)(r7e, r7e)).as("dn"),
      sketch(col("embedding")).as("sk")))
    val qs = broadcast(e
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        sketch(col("embedding")).as("qsk"),
        graft.ops.Text.h60(concat(lit("probe:"), col("vec_id").cast("string")))
          .as("h"))
      .orderBy(col("h").asc, col("qid").asc).limit(NumAnnProbes)
      .drop("h")
      .select(col("qid"), col("qv"), col("qsk"), rounded7(col("qv")).as("rq"),
        sqrt(sqNorm(col("qv"))).as("qn")))
      .withColumn("dqn", sqrt(dot(s)(col("rq"), col("rq"))))
    val exactTop = exactTopK(s)(eN, qs)
    // LSH leg: the sketch gate fires BEFORE any scoring — then the exact
    // legs' identical prefilter/rescore discipline inside the candidates
    val wPre = Window.partitionBy("qid").orderBy(col("dcos").desc, col("vec_id").asc)
    val wL = Window.partitionBy("qid").orderBy(col("lcos").desc, col("vec_id").asc)
    val lshTop = eN.crossJoin(qs).filter(col("vec_id") =!= col("qid"))
      .filter(bit_count(col("sk").cast("long")
        .bitwiseXOR(col("qsk").cast("long"))) <= 1)
      .withColumn("dcos", dot(s)(col("r7"), col("rq")) / (col("dn") * col("dqn")))
      .withColumn("prn", row_number().over(wPre)).filter(col("prn") <= RefineK)
      .withColumn("lcos", pairCos(col("embedding"), col("qv"),
        sqrt(sqNorm(col("embedding"))), col("qn")))
      .withColumn("lrn", row_number().over(wL)).filter(col("lrn") <= RecallK)
      .select(col("qid"), col("vec_id"))
    // integer audit: ONE full-outer join feeds every count (the ann_recall
    // double-reference argument)
    val j = exactTop.withColumn("ex", lit(1))
      .join(lshTop.withColumn("lv", lit(1)), Seq("qid", "vec_id"), "full_outer")
    j.groupBy("qid")
      .agg(count(col("ex")).as("n_exact"), count(col("lv")).as("n_lsh"),
        count(when(col("ex").isNotNull && col("lv").isNotNull, 1)).as("n_hit"))
      .filter(col("n_exact") > 0)
      .select(col("qid"), col("n_exact"), col("n_lsh"), col("n_hit"),
        expr("n_hit * 10000 div n_exact").as("recall_bp"))
      .orderBy("qid")
  }

  // --------------------------------------------------------------------
  // multimodal_decode — the decode/feature-extract stage of a multimodal
  // pipeline: payload is an opaque binary column; "decoding" is a
  // deterministic stand-in (this container has no image/audio codecs) that
  // derives a fixed-width feature vector from the payload bytes via md5 —
  // the REAL parts are the Spark-side plumbing: binary column in, typed
  // ArrayType(DOUBLE) feature column + scalar metadata out, all scan-stage
  // narrow work. Swap `fakeFeature` for a codec UDF / mapInPandas batch at
  // deployment; the plan shape doesn't change.
  // --------------------------------------------------------------------
  private val FeatureDim = 4
  private val multimodalDecode = Op("multimodal_decode", {
    // DuckDB's md5 takes VARCHAR only; payload bytes == utf8(text), so
    // md5(text) is the same digest Spark computes over the binary payload.
    val featSqls = (0 until FeatureDim).map { i =>
      s"""CAST(CAST('0x' || substr(md5(text), ${6 * i + 1}, 6) AS BIGINT)
         |     AS DOUBLE) / 16777216.0""".stripMargin
    }
    s"""SELECT doc_id, n_bytes, f[1] AS f0, f[2] AS f1, f[3] AS f2, f[4] AS f3 FROM (
       |  SELECT doc_id, octet_length(encode(text)) AS n_bytes,
       |    [${featSqls.mkString(", ")}] AS f
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin
  }) { (s, d) =>
    val fakeFeature = (payload: Column, i: Int) =>
      (conv(substring(md5(payload), 6 * i + 1, 6), 16, 10)
        .cast("double") / 16777216.0)
    val feats = array((0 until FeatureDim).map(i => fakeFeature(col("payload"), i)): _*)
    t(s, d, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .select(col("doc_id"), length(col("payload")).as("n_bytes"), feats.as("f"))
      .select(col("doc_id"), col("n_bytes"),
        element_at(col("f"), 1).as("f0"), element_at(col("f"), 2).as("f1"),
        element_at(col("f"), 3).as("f2"), element_at(col("f"), 4).as("f3"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // multimodal_frames — the frame-sampling stage of a video/audio
  // pipeline: each opaque payload is a "clip" of fixed-size frames
  // (256 units here); the op emits one row per sampled frame with its
  // offset and a thumbnail fingerprint. Decode is the same deterministic
  // stand-in as multimodal_decode (payload → string; a codec would yield
  // frame bytes) — the REAL parts are the plumbing a frame sampler
  // needs: per-row frame-count arithmetic from the payload length, a
  // scan-stage `sequence`+`explode` generator (NO join against a frame
  // spine — the expansion is local to each row and codegen'd), and a
  // per-frame slice+hash. At 100 TB the output is the frame manifest a
  // GPU feature-extract stage consumes, partition-aligned with the scan.
  // Frames slice CHARACTERS on both engines (payload bytes would differ:
  // zh docs are multi-byte UTF-8 and DuckDB substr is character-based).
  // --------------------------------------------------------------------
  private val FrameChars = 256
  private val ThumbChars = 64

  private val multimodalFrames = Op("multimodal_frames",
    s"""WITH f AS (
       |  SELECT doc_id, text, octet_length(encode(text)) AS n_bytes,
       |    (length(text) - 1) // $FrameChars + 1 AS n_frames
       |  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
       |fr AS (
       |  SELECT doc_id, text, n_bytes, n_frames,
       |    unnest(range(0, n_frames)) AS frame_idx
       |  FROM f)
       |SELECT doc_id, n_bytes, CAST(n_frames AS BIGINT) AS n_frames,
       |  CAST(frame_idx AS BIGINT) AS frame_idx,
       |  CAST(frame_idx * $FrameChars AS BIGINT) AS off,
       |  md5(substr(text, CAST(frame_idx * $FrameChars + 1 AS INT), $ThumbChars)) AS fp
       |FROM fr ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
    t(s, d, "documents")
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .withColumn("dec", col("payload").cast("string")) // deterministic fake decode
      .select(col("doc_id"), length(col("payload")).as("n_bytes"), col("dec"),
        (((length(col("dec")) - 1) / FrameChars).cast("long") + 1).as("n_frames"))
      .select(col("doc_id"), col("n_bytes"), col("dec"), col("n_frames"),
        explode(sequence(lit(0L), col("n_frames") - 1)).as("frame_idx"))
      .select(col("doc_id"), col("n_bytes"), col("n_frames"), col("frame_idx"),
        (col("frame_idx") * FrameChars).as("off"),
        md5(expr(s"substring(dec, CAST(frame_idx * $FrameChars + 1 AS INT), $ThumbChars)"))
          .as("fp"))
      .orderBy("doc_id", "frame_idx")
  }

  // --------------------------------------------------------------------
  // embed_normalize — L2 normalization, the standard pre-step before
  // cosine/ANN (normalized vectors turn cosine into a plain dot product).
  // Emits the exact-decimal norm plus the first unit component; the full
  // normalized array stays a library transform (the verified output is
  // scalar-narrow for the oracle compare). Pure scan-stage map work.
  // --------------------------------------------------------------------
  private val embedNormalize = Op("embed_normalize",
    s"""SELECT vec_id, l2_norm, CAST(e0 AS DOUBLE) / l2_norm AS e0_unit FROM (
       |  SELECT vec_id,
       |    sqrt(CAST((SELECT SUM(${d97("embedding[i]")} * ${d97("embedding[i]")})
       |          FROM (SELECT unnest(range(1, 65)) AS i)) AS DOUBLE)) AS l2_norm,
       |    ${d97("embedding[1]")} AS e0
       |  FROM $embSql)
       |ORDER BY vec_id""".stripMargin) { (s, d) =>
    vecs(s, d)
      .select(col("vec_id"),
        sqrt(sqNorm(col("embedding"))).as("l2_norm"),
        element_at(col("embedding"), 1).cast(DecimalType(9, 7)).as("e0"))
      .select(col("vec_id"), col("l2_norm"),
        (col("e0").cast("double") / col("l2_norm")).as("e0_unit"))
      .orderBy("vec_id")
  }

  // --------------------------------------------------------------------
  // vec_quantize — symmetric int8 quantization (the ANN/storage-compression
  // workhorse): per-vector scale = 127 / max|x|, elements mapped with
  // floor(x*scale + 0.5) — floor instead of round() because round-half
  // conventions differ across engines while floor on IEEE doubles is
  // bit-identical. Emits per-vector quantization stats; all narrow work.
  // A zero vector yields NULL scale/stats via nullif (no div-by-zero).
  // --------------------------------------------------------------------
  private val vecQuantize = Op("vec_quantize", {
    val q7 = (x: String) => s"CAST(${d97(x)} AS DOUBLE)"
    s"""WITH sc AS (
       |  SELECT vec_id, embedding,
       |    127.0 / nullif(list_max(list_transform(embedding, x -> abs(${q7("x")}))), 0.0) AS scale
       |  FROM embeddings),
       |qq AS (
       |  SELECT vec_id, scale,
       |    list_transform(embedding, x -> CAST(floor(${q7("x")} * scale + 0.5) AS BIGINT)) AS qs
       |  FROM sc)
       |SELECT vec_id, scale, list_min(qs) AS q_min, list_max(qs) AS q_max,
       |  CAST(list_sum(list_transform(qs, x -> abs(x))) AS BIGINT) AS q_l1
       |FROM qq ORDER BY vec_id""".stripMargin
  }) { (s, d) =>
    val q7 = (x: Column) => x.cast(DecimalType(9, 7)).cast("double")
    val scale = lit(127.0) /
      nullif(array_max(transform(col("embedding"), x => abs(q7(x)))), lit(0.0))
    val qs = transform(col("embedding"), x => floor(q7(x) * col("scale") + 0.5))
    t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding"), scale.as("scale"))
      .select(col("vec_id"), col("scale"), qs.as("qs"))
      .select(col("vec_id"), col("scale"),
        array_min(col("qs")).as("q_min"), array_max(col("qs")).as("q_max"),
        aggregate(col("qs"), lit(0L), (a, x) => a + abs(x)).as("q_l1"))
      .orderBy("vec_id")
  }

  // --------------------------------------------------------------------
  // search_rrf — hybrid retrieval (the RAG-stack shape): a keyword
  // shortlist and a vector shortlist, fused by reciprocal-rank fusion.
  // Rank-based fusion is what makes hybrid search EXACTLY reproducible —
  // the fused score is a function of integer ranks, not of mixing two
  // incomparable score scales.
  //
  // Scale shape: each modality produces a top-100 shortlist via
  // TakeOrderedAndProject (per-partition heaps — no global sort), the
  // rank windows then run over ≤100 rows, and the fusion is a full-outer
  // join of two 100-row sets. The vector shortlist reuses sim_search's
  // double-prefilter→decimal-rescore refinement. Docs outside a
  // shortlist contribute 0 for that modality — the standard shortlist
  // RRF every production hybrid-search system runs (ranking the ENTIRE
  // corpus per modality would be a global sort for ranks 101+ that can
  // never reach the fused top-10 here: 2/160 > 1/61 + 1/∞ is false only
  // deep in the shortlists).
  // --------------------------------------------------------------------
  private val RrfK = 60
  private val RrfShortlist = 100
  private val QueryTerms = Seq("table", "scan", "join")

  /** The kw-occurrence score SQL fragment (shared by search_rrf and
    * rrf_eval's full-rank leg). */
  private val rrfKwTermsSql = QueryTerms.map { term =>
    s"(length(text) - length(replace(text, '$term', ''))) // length('$term')"
  }.mkString(" + ")

  /** base/q CTE prefix shared by search_rrf's oracle and rrf_eval's. */
  private val rrfBaseSql =
    s"""base AS (
       |  SELECT d.doc_id, d.text, e.embedding
       |  FROM documents d JOIN $embSql e ON e.vec_id = d.doc_id
       |  WHERE d.doc_id <> 0 AND d.text IS NOT NULL),
       |q AS (SELECT embedding AS qv FROM $embSql WHERE vec_id = 0)""".stripMargin

  /** kws/vecs/short CTE bodies (assume base/q in scope) — the shortlist
    * fusion, shared by both oracles so the eval provably audits the
    * shipped ranking text. */
  private val rrfShortSql =
    s"""kws AS (
       |  SELECT doc_id, CAST(row_number() OVER (ORDER BY kw_score DESC, doc_id) AS INTEGER) AS r_kw
       |  FROM (SELECT doc_id, $rrfKwTermsSql AS kw_score FROM base)
       |  QUALIFY r_kw <= $RrfShortlist),
       |vecs AS (
       |  SELECT doc_id, CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS INTEGER) AS r_vec
       |  FROM (SELECT doc_id, ${cosineSql("embedding", "qv")} AS cos_sim FROM base, q)
       |  QUALIFY r_vec <= $RrfShortlist),
       |short AS (
       |  SELECT COALESCE(kws.doc_id, vecs.doc_id) AS doc_id, r_kw, r_vec,
       |    COALESCE(CAST(1 AS DOUBLE) / ($RrfK + r_kw), 0)
       |      + COALESCE(CAST(1 AS DOUBLE) / ($RrfK + r_vec), 0) AS rrf
       |  FROM kws FULL JOIN vecs ON kws.doc_id = vecs.doc_id)""".stripMargin

  /** The corpus side (docs joined to their 64-dim vectors, query doc 0
    * excluded) and the 1-row query vector — factored so rrf_eval scores
    * exactly the corpus the shipped op ranks. */
  private def rrfBase(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .filter(col("doc_id") =!= 0 && col("text").isNotNull)
      .join(vecs(s, d).withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"))
      .select("doc_id", "text", "embedding")

  private def rrfQ(s: SparkSession, d: String): DataFrame =
    broadcast(vecs(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"), rounded7(col("embedding")).as("rq")))

  /** keyword side: portable occurrence counts (the lang_id formulation) */
  private def rrfKwScore: Column = QueryTerms.map { term =>
    (length(col("text")) - length(replace(col("text"), lit(term), lit("")))) / term.length
  }.reduce(_ + _).cast("long")

  /** The complete shortlist-RRF fusion (every doc in either shortlist,
    * with its fused score) — the op orders/limits it; rrf_eval ranks it. */
  private[graft] def rrfShortFused(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = rrfBase(s, d)
    val q = rrfQ(s, d)
    val kwShort = base.select(col("doc_id"), rrfKwScore.as("kw_score"))
      .orderBy(col("kw_score").desc, col("doc_id").asc)
      .limit(RrfShortlist)
      .withColumn("r_kw", row_number()
        .over(Window.orderBy(col("kw_score").desc, col("doc_id").asc)))
      .select("doc_id", "r_kw")
    // vector side: sim_search's double prefilter → exact decimal rescore,
    // then ranks within the decimal-ordered shortlist
    val vecShort = base
      .select(col("doc_id"), col("embedding"), rounded7(col("embedding")).as("r7"))
      .crossJoin(q)
      .withColumn("dcos", doubleCos(s)(col("r7"), col("rq")))
      .orderBy(col("dcos").desc, col("doc_id").asc)
      .limit(2 * RrfShortlist)
      .select(col("doc_id"), cosine(col("embedding"), col("qv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("doc_id").asc)
      .limit(RrfShortlist)
      .withColumn("r_vec", row_number()
        .over(Window.orderBy(col("cos_sim").desc, col("doc_id").asc)))
      .select("doc_id", "r_vec")
    kwShort.join(vecShort, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("r_kw"), col("r_vec"),
        (coalesce(lit(1.0) / (lit(RrfK) + col("r_kw")), lit(0.0))
          + coalesce(lit(1.0) / (lit(RrfK) + col("r_vec")), lit(0.0))).as("rrf"))
  }

  private val searchRrf = Op("search_rrf",
    s"""WITH $rrfBaseSql,
       |$rrfShortSql
       |SELECT doc_id, r_kw, r_vec, rrf FROM short
       |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin) { (s, d) =>
    rrfShortFused(s, d).orderBy(col("rrf").desc, col("doc_id").asc).limit(10)
  }

  // --------------------------------------------------------------------
  // rrf_eval — the audit of search_rrf's ONE approximation: shortlist
  // truncation. Shortlist RRF scores a doc 0 for any modality it missed
  // the top-100 of, while true full-corpus RRF gives every doc
  // 1/(k+r_kw) + 1/(k+r_vec) over COMPLETE ranks — a doc ranked 50/101
  // can outscore one ranked 90/95 under full ranks yet lose under
  // truncation. The eval computes BOTH fused top-10s — the shipped
  // shortlist pipeline (shared stages, verbatim) and the full-rank
  // reference — aligned position by position with an agreement flag:
  // the measured answer to "did the 100-deep shortlists change what the
  // user sees". The audit-per-approximation invariant (fuzzy_eval's 30%
  // find is why this table exists before anyone trusts the fusion).
  //
  // Scale shape: the shortlist leg is the op's own cost; the full-rank
  // leg is the audit's declared contract cost — complete per-modality
  // ranks + the exact decimal cosine per doc. Both full ranks run
  // DISTRIBUTED through `globalRank` (range-partition → local rank →
  // broadcast offsets; see ops/package.scala) and the fused full top-10
  // is a distributed TakeOrdered, so no stage anywhere funnels the corpus
  // through one partition — the r12-verdict watch item. At 100 TB the
  // audit still runs on a sampled corpus slice like every exact eval leg
  // here; the distribution removes the one machine-sized ceiling it had.
  // --------------------------------------------------------------------
  private val rrfEval = Op("rrf_eval",
    s"""WITH $rrfBaseSql,
       |$rrfShortSql,
       |st AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank
       |  FROM short QUALIFY rank <= 10),
       |kwf AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY kw_score DESC, doc_id) AS r_kw
       |  FROM (SELECT doc_id, $rrfKwTermsSql AS kw_score FROM base)),
       |vecf AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS r_vec
       |  FROM (SELECT doc_id, ${cosineSql("embedding", "qv")} AS cos_sim FROM base, q)),
       |ful AS (
       |  SELECT kwf.doc_id,
       |    CAST(1 AS DOUBLE) / ($RrfK + r_kw)
       |      + CAST(1 AS DOUBLE) / ($RrfK + r_vec) AS rrf
       |  FROM kwf JOIN vecf ON kwf.doc_id = vecf.doc_id),
       |ft AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank
       |  FROM ful QUALIFY rank <= 10)
       |SELECT st.rank AS rank, st.doc_id AS doc_short, ft.doc_id AS doc_full,
       |  st.doc_id = ft.doc_id AS agree
       |FROM st JOIN ft ON st.rank = ft.rank
       |ORDER BY rank""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val byFused = Window.orderBy(col("rrf").desc, col("doc_id").asc)
    val st = rrfShortFused(s, d)
      .withColumn("rank", row_number().over(byFused))
      .filter(col("rank") <= 10)
      .select(col("rank"), col("doc_id").as("doc_short"))
    val base = rrfBase(s, d)
    val q = rrfQ(s, d)
    // BOTH modality scores in ONE fact pass, checkpointed as narrow
    // (doc_id, kw_score, cos_sim) rows — the two rank legs then range-
    // shuffle projections of the materialized frame instead of each
    // re-running the corpus join (the bootstrap_ci one-pass lesson)
    val scoredAll = base.crossJoin(q)
      .select(col("doc_id"), rrfKwScore.as("kw_score"),
        cosine(col("embedding"), col("qv")).as("cos_sim"))
      .localCheckpoint()
    val kwf = globalRank(
      scoredAll.select("doc_id", "kw_score"),
      "r_kw", col("kw_score").desc, col("doc_id").asc)
      .select("doc_id", "r_kw")
    val vecf = globalRank(
      scoredAll.select("doc_id", "cos_sim"),
      "r_vec", col("cos_sim").desc, col("doc_id").asc)
      .select("doc_id", "r_vec")
    // fused full top-10: distributed sort+limit (TakeOrdered), then the
    // rank window runs over exactly 10 rows — bounded by construction
    val ft = kwf.join(vecf, Seq("doc_id"))
      .select(col("doc_id"),
        (lit(1.0) / (lit(RrfK) + col("r_kw"))
          + lit(1.0) / (lit(RrfK) + col("r_vec"))).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(10)
      .withColumn("rank", row_number().over(byFused))
      .select(col("rank"), col("doc_id").as("doc_full"))
    st.join(ft, Seq("rank"))
      .select(col("rank"), col("doc_short"), col("doc_full"),
        (col("doc_short") === col("doc_full")).as("agree"))
      .orderBy("rank")
  }

  // --------------------------------------------------------------------
  // knn_join_bucketed — the BATCH ANN join (sim_search answers one query;
  // this answers a query SET in one plan — the shape of embedding-based
  // retrieval/labeling over a whole dataset): for each of a fixed query
  // set, the top-k cosine neighbors among all other vectors that collide
  // in the query's sign-sketch bucket or any hamming-1 neighbor bucket
  // (the sim_search_bucketed multiprobe, turned into a join).
  //
  // Plan shape, inside-out: the query side is tiny by construction →
  // probes (4 rows per query) BROADCAST, so candidate generation is one
  // map-side hash join over the corpus scan — the corpus never shuffles
  // to find its candidates. Candidates then shuffle ONCE, keyed by qid,
  // as NARROW rows (ids + a codegen'd double prefilter score — never the
  // embedding payloads; the dedup_embed_banded discipline), a per-query
  // window keeps the double top-50, and only that shortlist joins back to
  // the feature table for the exact-decimal rescore to top-3 (sim_search's
  // RefineK margin argument, 50 vs 3). At 100 TB: more sketch bits hold
  // bucket populations constant (the LSH capacity rule), per-query
  // candidate volume is bounded by bucket size, and the qid shuffle is
  // proportional to candidates, not corpus.
  // --------------------------------------------------------------------
  private val KnnQueries = 20 // query set: vec_id < 20 (fixed at every sf)
  private val KnnK = 3
  private val KnnRefine = 50

  private val knnJoinBucketed = Op("knn_join_bucketed",
    s"""WITH s AS (SELECT vec_id, embedding, ${sketchSql("embedding")} AS sk
       |           FROM $embSql),
       |q AS (SELECT vec_id AS qid, embedding AS qv, sk AS qsk
       |      FROM s WHERE vec_id < $KnnQueries),
       |cand AS (
       |  SELECT q.qid, s.vec_id, ${cosineSql("s.embedding", "q.qv")} AS cos_sim
       |  FROM s JOIN q
       |    ON s.vec_id <> q.qid
       |   AND bit_count(xor(CAST(s.sk AS BIGINT), CAST(q.qsk AS BIGINT))) <= 1)
       |SELECT qid, vec_id, cos_sim, rank FROM (
       |  SELECT qid, vec_id, cos_sim,
       |    CAST(row_number() OVER (PARTITION BY qid
       |      ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
       |  FROM cand)
       |WHERE rank <= $KnnK
       |ORDER BY qid, rank""".stripMargin) { (s, d) =>
    // exchange: parallelism + materialization barrier so sk/r7 are computed
    // once per vector (the sketch-ops discipline)
    val e = exchange(vecs(s, d).select(col("vec_id"), col("embedding"),
      sketch(col("embedding")).as("sk"), rounded7(col("embedding")).as("r7")))
    val probes = broadcast(
      e.filter(col("vec_id") < KnnQueries)
        .select(col("vec_id").as("qid"), col("sk").as("qsk"), col("r7").as("rq"))
        .select(col("qid"), col("rq"),
          explode(array(Seq(0, 1, 2, 4).map(f =>
            col("qsk").bitwiseXOR(lit(f))): _*)).as("psk")))
    val cand = e.join(probes, col("sk") === col("psk") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        doubleCos(s)(col("r7"), col("rq")).as("dcos"))
    val wPre = Window.partitionBy("qid").orderBy(col("dcos").desc, col("vec_id").asc)
    val shortlist = cand
      .withColumn("__rn", row_number().over(wPre)).filter(col("__rn") <= KnnRefine)
      .select("qid", "vec_id")
    // ids join back to the feature table for the exact-decimal decide
    val qv = e.filter(col("vec_id") < KnnQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cv = e.select(col("vec_id"), col("embedding").as("ce"))
    val wTop = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vec_id").asc)
    // the shortlist side is bounded (queries × RefineK rows) but the static
    // planner can't see that through the window — broadcast it explicitly
    // so the rescore join never shuffles the corpus by vec_id
    broadcast(shortlist.join(broadcast(qv), "qid")).join(cv, "vec_id")
      .withColumn("cos_sim", cosine(col("ce"), col("qe")))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= KnnK)
      .select("qid", "vec_id", "cos_sim", "rank")
      .orderBy("qid", "rank")
  }

  // --------------------------------------------------------------------
  // knn_classify — k-nearest-neighbor majority-vote labeling: each probe
  // vector (vec_id < 5) takes the label most common among its exact
  // top-5 cosine neighbors in the labeled corpus (vec_id ≥ 5), ties
  // broken by label order. This is the supervised primitive the `label`
  // column exists for — bootstrapping a quality/domain classifier from a
  // small labeled seed is a standard curation stage. Same skeleton as
  // sim_search: codegen double-cosine prefilter to a top-RefineK
  // shortlist per probe (5-row broadcast, declared bounded cross in the
  // PlanAuditSpec sweep), exact-decimal rescore, then one tiny vote
  // aggregate. At 100 TB the probe side stays a broadcast (classifier
  // seeds are small by construction) and the corpus never shuffles;
  // k=5 within RefineK=200 has 40× refine headroom (vs sim_search's
  // 20× argument at k=10).
  // --------------------------------------------------------------------
  private val knnClassify = Op("knn_classify",
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM $embSql WHERE vec_id < 5),
       |c AS (SELECT vec_id, label, embedding FROM $embSql WHERE vec_id >= 5),
       |nn AS (
       |  SELECT qid, label, vec_id FROM c, q
       |  QUALIFY row_number() OVER (PARTITION BY qid
       |    ORDER BY ${cosineSql("embedding", "qv")} DESC, vec_id) <= 5)
       |SELECT qid, label AS pred_label, COUNT(*) AS votes
       |FROM nn GROUP BY qid, label
       |QUALIFY row_number() OVER (PARTITION BY qid
       |                           ORDER BY COUNT(*) DESC, label) = 1
       |ORDER BY qid""".stripMargin) { (s, d) =>
    val e = vecs(s, d)
    val q = broadcast(e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        rounded7(col("embedding")).as("rq")))
    val wShort = Window.partitionBy("qid").orderBy(col("dcos").desc, col("vec_id").asc)
    val wExact = Window.partitionBy("qid").orderBy(col("cs").desc, col("vec_id").asc)
    val wVote = Window.partitionBy("qid").orderBy(col("votes").desc, col("pred_label").asc)
    e.filter(col("vec_id") >= 5)
      .select(col("vec_id"), col("label"), col("embedding"),
        rounded7(col("embedding")).as("r7"))
      .crossJoin(q)
      .withColumn("dcos", doubleCos(s)(col("r7"), col("rq")))
      .withColumn("__rs", row_number().over(wShort)).filter(col("__rs") <= RefineK)
      .withColumn("cs", cosine(col("embedding"), col("qv")))
      .withColumn("__rn", row_number().over(wExact)).filter(col("__rn") <= 5)
      .select(col("qid"), col("label").as("pred_label"))
      .groupBy("qid", "pred_label").agg(count(lit(1)).as("votes"))
      .withColumn("__rv", row_number().over(wVote)).filter(col("__rv") === 1)
      .select("qid", "pred_label", "votes")
      .orderBy("qid")
  }

  // --------------------------------------------------------------------
  // embed_drift — embedding-space drift monitor: per language, the
  // cosine between the centroid of one deterministic half of the corpus
  // and the centroid of the other (a self-consistency baseline; in
  // production the halves are yesterday's batch vs today's, and a
  // centroid cosine dropping from ~1 flags an upstream embedding-model
  // or corpus shift that value-histogram monitors like drift_report
  // can't see). Centroid cosine is scale-invariant, so the mean divides
  // cancel and the statistic is computed directly on the exact decimal
  // SUM vectors: per-(lang, half, dim) sums in DECIMAL (the d97
  // quantization the vector family shares), dot/norms as exact decimal
  // products over the 64-dim grid, ONE final IEEE divide+sqrt dag on
  // exactly-agreed aggregates (the ab_ttest statistic-as-contract rule).
  //
  // Scale shape: one fact-scale posexplode → map-side-combining sum to a
  // |langs|×2×64 grid; everything downstream is grid-sized. At 100 TB
  // the grid is identical — this is the cheapest possible drift probe
  // over an embedding column.
  // --------------------------------------------------------------------
  private val embedDrift = Op("embed_drift", {
    val h = graft.ops.Text.h60Sql("concat('drift:', CAST(vec_id AS VARCHAR))")
    s"""WITH hv AS (
       |  SELECT d.lang, $h % 2 AS half, e.embedding
       |  FROM $embSql e JOIN documents d ON d.doc_id = e.vec_id),
       |g AS (
       |  SELECT lang, half, i AS pos,
       |    CAST(SUM(${d97("embedding[i]")}) AS DECIMAL(18,7)) AS sv
       |  FROM hv, (SELECT unnest(range(1, 65)) AS i)
       |  GROUP BY 1, 2, 3),
       |n AS (SELECT lang, half, COUNT(*) AS n FROM hv GROUP BY 1, 2),
       |p AS (
       |  SELECT a.lang, SUM(a.sv * b.sv) AS dt,
       |    SUM(a.sv * a.sv) AS na2, SUM(b.sv * b.sv) AS nb2
       |  FROM g a JOIN g b
       |    ON a.lang IS NOT DISTINCT FROM b.lang AND a.pos = b.pos
       |   AND a.half = 0 AND b.half = 1
       |  GROUP BY 1)
       |SELECT p.lang, na.n AS n_a, nb.n AS n_b,
       |  CASE WHEN na2 = 0 OR nb2 = 0 THEN NULL
       |       ELSE CAST(dt AS DOUBLE)
       |            / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))
       |  END AS cos_drift
       |FROM p
       |JOIN n na ON na.lang IS NOT DISTINCT FROM p.lang AND na.half = 0
       |JOIN n nb ON nb.lang IS NOT DISTINCT FROM p.lang AND nb.half = 1
       |ORDER BY p.lang""".stripMargin
  }) { (s, d) =>
    val hv = driftHalves(vecs(s, d),
      t(s, d, "documents").select(col("doc_id"), col("lang")))
    driftView(driftSumGrid(hv), driftCountGrid(hv))
  }

  /** The (lang, half, embedding) frame: 64-dim-contract vectors enriched
    * with the document language (stream-static join in the twin) and the
    * deterministic half assignment — embed_drift's shared first stage. */
  private[graft] def driftHalves(emb: DataFrame, docs: DataFrame): DataFrame =
    emb.filter(size(col("embedding")) === Dim)
      .join(docs, col("vec_id") === col("doc_id"))
      .withColumn("half",
        (graft.ops.Text.h60(concat(lit("drift:"), col("vec_id").cast("string")))
          % 2).cast("long"))
      .select("lang", "half", "embedding")

  /** Per-(lang, half, dim) exact-decimal component sums — the fact-scale
    * pass; algebraic, so the streaming twin
    * ([[graft.streaming.Streams.driftVec]]) folds per-batch partials
    * with a keyed SUM merge. |langs|×2×64 rows. */
  private[graft] def driftSumGrid(hv: DataFrame): DataFrame =
    hv.select(col("lang"), col("half"),
        posexplode(dec(col("embedding"))).as(Seq("pos", "x")))
      .groupBy("lang", "half", "pos")
      .agg(sum("x").cast(DecimalType(18, 7)).as("sv"))

  /** Per-(lang, half) vector counts — the twin's second algebraic fold. */
  private[graft] def driftCountGrid(hv: DataFrame): DataFrame =
    hv.groupBy("lang", "half").agg(count(lit(1)).as("n"))

  /** Centroid cosine per language over the completed grids (grid-scale
    * decimal products + ONE IEEE divide/sqrt dag). */
  private[graft] def driftView(g: DataFrame, n: DataFrame): DataFrame = {
    val a = g.filter(col("half") === 0)
      .select(col("lang").as("l_a"), col("pos"), col("sv").as("sa"))
    val b = g.filter(col("half") === 1)
      .select(col("lang").as("l_b"), col("pos").as("pos_b"), col("sv").as("sb"))
    val p = a.join(b, col("l_a") <=> col("l_b") && col("pos") === col("pos_b"))
      .groupBy(col("l_a").as("lang"))
      .agg(sum(col("sa") * col("sb")).as("dt"),
        sum(col("sa") * col("sa")).as("na2"),
        sum(col("sb") * col("sb")).as("nb2"))
    val na = n.filter(col("half") === 0)
      .select(col("lang").as("ln_a"), col("n").as("n_a"))
    val nb = n.filter(col("half") === 1)
      .select(col("lang").as("ln_b"), col("n").as("n_b"))
    p.join(na, col("lang") <=> col("ln_a"))
      .join(nb, col("lang") <=> col("ln_b"))
      .select(col("lang"), col("n_a"), col("n_b"),
        when(col("na2") === 0 || col("nb2") === 0, lit(null).cast("double"))
          .otherwise(col("dt").cast("double")
            / (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))))
          .as("cos_drift"))
      .orderBy("lang")
  }

  val ops: Seq[Op] = Seq(textStats, dedupExact, dedupProfile, simSearch, dedupEmbed,
    dedupEmbedBanded, multimodalCols, simSearchBucketed, simSearchIvf,
    annRecall, annRecallBucketed, multimodalDecode, multimodalFrames,
    embedNormalize, vecQuantize, searchRrf, rrfEval, knnJoinBucketed,
    knnClassify, embedDrift)
}
