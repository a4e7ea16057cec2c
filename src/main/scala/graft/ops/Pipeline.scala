package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ops.Text.{h60, h60Sql, words}

/** Training-data curation operators over `documents` (BASELINE mandate —
  * the corpus-preparation stages between raw crawl and tokenizer):
  * stratified sampling, context-window chunking, rule-based quality
  * filtering, and PII redaction.
  *
  * All four are scan-stage narrow work — no shuffle except the final
  * deterministic ORDER BY (which exists only for the oracle compare; a
  * production pipeline writes the filter/map output straight back out).
  * Sampling/filter predicates are md5-derived and engine-portable, so the
  * SAME sample falls out on any engine, any partitioning, any retry — the
  * reproducibility property a 100 TB curation run needs for auditability.
  */
object Pipeline {

  // --------------------------------------------------------------------
  // sample_stratified — deterministic per-stratum Bernoulli sampling:
  // keep a doc iff h(lang:doc_id) mod 100 < rate(lang). Per-language
  // rates rebalance the corpus (downsample over-represented languages) —
  // the standard data-mixing knob. Hash-based (not rand()) so the sample
  // is stable across retries/partitioning and auditable after the fact.
  // --------------------------------------------------------------------
  private val sampleStratified = Op("sample_stratified",
    """SELECT doc_id, lang, source FROM documents
      |WHERE CAST('0x' || substr(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100
      |      < CASE lang WHEN 'en' THEN 20 WHEN 'zh' THEN 5 ELSE 10 END
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val rate = when(col("lang") === "en", 20)
      .when(col("lang") === "zh", 5).otherwise(10)
    t(s, d, "documents")
      .filter(h60(concat(col("lang"), lit(":"), col("doc_id").cast("string"))) % 100 < rate)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // chunk_split — context-window packing: split each doc's token stream
  // into fixed-size chunks with overlap (stride < size), the standard
  // pre-tokenization windowing for LLM training. One generator per doc
  // (posexplode over chunk starts) — rows out ≈ tokens/stride, all narrow.
  // --------------------------------------------------------------------
  private val ChunkTokens = 50
  private val Stride = 40 // 10-token overlap between consecutive chunks

  /** The chunk stream (one row per overlapping window) — shared by
    * chunk_split and its round-trip audit chunk_merge, so the two ops'
    * window convention provably cannot drift. */
  private[graft] def chunkView(docs: org.apache.spark.sql.DataFrame) =
    docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), col("w"),
        posexplode(sequence(lit(0), size(col("w")) - 1, lit(Stride)))
          .as(Seq("chunk_id", "st")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        size(slice(col("w"), col("st") + 1, lit(ChunkTokens))).as("n_tokens"),
        concat_ws(" ", slice(col("w"), col("st") + 1, lit(ChunkTokens))).as("chunk_text"))

  /** The same chunk stream in DuckDB SQL (no final ORDER BY — callers
    * add their own). */
  private val chunkSql =
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |st AS (SELECT doc_id, w, unnest(range(0, len(w), $Stride)) AS st FROM w),
       |chunks AS (
       |  SELECT doc_id, st // $Stride AS chunk_id,
       |    len(list_slice(w, st+1, st+$ChunkTokens)) AS n_tokens,
       |    array_to_string(list_slice(w, st+1, st+$ChunkTokens), ' ') AS chunk_text
       |  FROM st)""".stripMargin

  private val chunkSplit = Op("chunk_split",
    s"""WITH $chunkSql
       |SELECT doc_id, chunk_id, n_tokens, chunk_text
       |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
    chunkView(t(s, d, "documents")).orderBy("doc_id", "chunk_id")
  }

  // --------------------------------------------------------------------
  // chunk_merge — chunk_split's ROUND-TRIP audit: reassemble each doc
  // from its overlapping chunks (every chunk contributes its first
  // Stride tokens; the last contributes everything) and verify the
  // reassembly equals the original text. This is the integrity check a
  // chunk→process→reassemble pipeline runs before trusting the window
  // convention — and it exercises ORDER-SENSITIVE string aggregation
  // parity (Spark has no ordered collect: sort_array over
  // (chunk_id, part) structs vs DuckDB's string_agg ... ORDER BY).
  //
  // Scale shape: the chunk stream is scan-stage, the reassembly is one
  // doc-keyed window (last-chunk flag) + one doc-keyed aggregate; the
  // original text joins back by doc key. NULL-text docs produce no
  // chunks and are absent by contract (same rule as chunk_split).
  // --------------------------------------------------------------------
  private val chunkMerge = Op("chunk_merge",
    s"""WITH $chunkSql,
       |mx AS (SELECT doc_id, max(chunk_id) AS mx FROM chunks GROUP BY doc_id),
       |parts AS (
       |  SELECT c.doc_id, c.chunk_id,
       |    CASE WHEN c.chunk_id = m.mx THEN c.chunk_text
       |         ELSE array_to_string(
       |                list_slice(string_split(c.chunk_text, ' '), 1, $Stride), ' ')
       |    END AS part
       |  FROM chunks c JOIN mx m ON c.doc_id = m.doc_id),
       |re AS (
       |  SELECT doc_id, count(*) AS n_chunks,
       |    string_agg(part, ' ' ORDER BY chunk_id) AS re
       |  FROM parts GROUP BY doc_id)
       |SELECT d.doc_id, r.n_chunks, r.re = d.text AS ok
       |FROM documents d JOIN re r ON d.doc_id = r.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val chunks = chunkView(t(s, d, "documents"))
    val mx = Window.partitionBy("doc_id")
    val parts = chunks
      .withColumn("mxc", max("chunk_id").over(mx))
      .withColumn("part", when(col("chunk_id") === col("mxc"), col("chunk_text"))
        .otherwise(concat_ws(" ",
          slice(split(col("chunk_text"), " "), 1, Stride.toInt))))
    val re = parts.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        array_join(transform(
          array_sort(collect_list(struct(col("chunk_id"), col("part")))),
          x => x("part")), " ").as("re"))
    t(s, d, "documents").select(col("doc_id"), col("text"))
      .join(re, "doc_id")
      .select(col("doc_id"), col("n_chunks"), (col("re") === col("text")).as("ok"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // text_filter — rule-based quality gate (C4/Gopher-style): length
  // bounds, punctuation ratio, mean word length. Emits every doc with its
  // verdict + FIRST failing rule, so downstream can both take the kept
  // set and audit per-rule rejection rates. Ratios are IEEE-double
  // divisions of exact ints (the engine-portable formulation proven by
  // quality_score).
  // --------------------------------------------------------------------
  private val textFilter = Op("text_filter",
    """SELECT doc_id, n_tok, reason, reason = 'ok' AS keep FROM (
      |  SELECT doc_id, n_tok,
      |    CASE WHEN n_tok < 10 THEN 'too_short'
      |         WHEN n_tok > 2000 THEN 'too_long'
      |         WHEN punct_ratio > 0.3 THEN 'high_punct'
      |         WHEN mean_wlen < 2 OR mean_wlen > 15 THEN 'word_len'
      |         ELSE 'ok' END AS reason
      |  FROM (
      |    SELECT doc_id,
      |      len(string_split(text, ' ')) AS n_tok,
      |      CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS mean_wlen,
      |      CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
      |           / len(string_split(text, ' ')) AS punct_ratio
      |    FROM documents))
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val nTok = size(words(col("text")))
    val base = t(s, d, "documents").select(
      col("doc_id"),
      nTok.as("n_tok"),
      (col("n_chars").cast("double") / nTok).as("mean_wlen"),
      (size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9\\s]"), lit(0)))
        .cast("double") / nTok).as("punct_ratio"))
    base.select(col("doc_id"), col("n_tok"),
        when(col("n_tok") < 10, "too_short")
          .when(col("n_tok") > 2000, "too_long")
          .when(col("punct_ratio") > 0.3, "high_punct")
          .when(col("mean_wlen") < 2 || col("mean_wlen") > 15, "word_len")
          .otherwise("ok").as("reason"))
      .withColumn("keep", col("reason") === "ok")
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // pii_redact — regex scrubbing of emails / IPv4s / long digit runs,
  // with per-category match counts for audit. Patterns are restricted to
  // the Java-regex ∩ RE2 common subset so Spark and the oracle agree.
  // (The fixture word-soup contains no PII, so counts are zero here —
  // the verified contract is that both engines compute the SAME redacted
  // text and counts; swap patterns freely at deployment.) Scan-stage
  // string work; the verified output carries md5(redacted), not the text.
  // --------------------------------------------------------------------
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private[graft] val LongNumRe = "\\d{6,}"

  private val piiRedact = Op("pii_redact", {
    // single-quoted SQL strings: DuckDB keeps backslashes literal, so the
    // runtime regexes interpolate verbatim
    val (e, i, n) = (EmailRe, Ipv4Re, LongNumRe)
    s"""SELECT doc_id,
       |  len(regexp_extract_all(text, '$e')) AS n_email,
       |  len(regexp_extract_all(text, '$i')) AS n_ip,
       |  len(regexp_extract_all(text, '$n')) AS n_num,
       |  md5(regexp_replace(regexp_replace(regexp_replace(text,
       |        '$e', '<EMAIL>', 'g'),
       |        '$i', '<IP>', 'g'),
       |        '$n', '<NUM>', 'g')) AS red_hash
       |FROM documents ORDER BY doc_id""".stripMargin
  }) { (s, d) =>
    val redacted = regexp_replace(regexp_replace(regexp_replace(col("text"),
      EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"), LongNumRe, "<NUM>")
    // exchange (r13): the three-regex redact + three extract_alls ran in
    // the one-file scan's single task, twice (sampling job + main) —
    // measured 2 × ~0.5 s at sf0.1. Post-exchange the regex work is
    // shuffle-wide (the fn_map_json pattern).
    exchange(t(s, d, "documents").select("doc_id", "text")).select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).as("n_email"),
        size(regexp_extract_all(col("text"), lit(Ipv4Re), lit(0))).as("n_ip"),
        size(regexp_extract_all(col("text"), lit(LongNumRe), lit(0))).as("n_num"),
        md5(redacted).as("red_hash"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // pii_report — the per-source PII incidence table read BEFORE choosing
  // redaction strictness (pii_redact transforms every doc; THIS says
  // which sources actually carry PII, how much, and of what kind — the
  // prioritization read: "source C is 40% email-bearing, source A is
  // clean"): per (source, pii_type ∈ email/ip/number): docs affected,
  // total matches, and the affected share of the source's screenable
  // docs in integer bp. Rule set = pii_redact's OWN regexes (EmailRe /
  // Ipv4Re / LongNumRe, shared constants — the report provably measures
  // what the redactor redacts); NULL-text docs are excluded from both
  // numerator and denominator (nothing to screen — the shingleStage
  // contract).
  //
  // Scale shape: ONE scan computes all three per-doc match counts
  // (regexp_extract_all, scan-stage) and map-side-combines into the
  // per-source WIDE grid (|sources| rows: n_docs + per-type doc/match
  // sums — every cell an ALGEBRAIC count, so the streaming twin
  // ([[graft.streaming.Streams.pii]]) folds per-batch partials with
  // ONE keyed SUM merge); the long (source, pii_type) view unpivots the
  // completed grid.
  // --------------------------------------------------------------------
  /** The per-source wide PII grid — pii_report's only fact-scale pass,
    * shared with the streaming twin. */
  private[graft] def piiGrid(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    def cnt(re: String) = size(regexp_extract_all(col("text"), lit(re), lit(0)))
    docs.filter(col("text").isNotNull)
      .select(col("source"), cnt(EmailRe).as("c_email"),
        cnt(Ipv4Re).as("c_ip"), cnt(LongNumRe).as("c_num"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("c_email") > 0, 1)).as("d_email"),
        sum(col("c_email").cast("long")).as("m_email"),
        count(when(col("c_ip") > 0, 1)).as("d_ip"),
        sum(col("c_ip").cast("long")).as("m_ip"),
        count(when(col("c_num") > 0, 1)).as("d_num"),
        sum(col("c_num").cast("long")).as("m_num"))
  }

  /** Long-form incidence view over a completed grid (|sources|×3 rows). */
  private[graft] def piiView(grid: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val long = grid.select(col("source"), col("n_docs"),
      explode(array(
        struct(lit("email").as("pii_type"), col("d_email").as("n_docs_hit"),
          col("m_email").as("n_matches")),
        struct(lit("ip").as("pii_type"), col("d_ip").as("n_docs_hit"),
          col("m_ip").as("n_matches")),
        struct(lit("number").as("pii_type"), col("d_num").as("n_docs_hit"),
          col("m_num").as("n_matches")))).as("e"))
    long.select(col("source"), col("e.pii_type"), col("e.n_docs_hit"),
        col("e.n_matches"),
        expr("e.n_docs_hit * 10000 div n_docs").as("hit_bp"))
      .orderBy("source", "pii_type")
  }

  private val piiReport = Op("pii_report", {
    val (e, i, n) = (EmailRe, Ipv4Re, LongNumRe)
    s"""WITH m AS (
       |  SELECT source,
       |    len(regexp_extract_all(text, '$e')) AS c_email,
       |    len(regexp_extract_all(text, '$i')) AS c_ip,
       |    len(regexp_extract_all(text, '$n')) AS c_num
       |  FROM documents WHERE text IS NOT NULL),
       |g AS (
       |  SELECT source, count(*) AS n_docs,
       |    count(*) FILTER (c_email > 0) AS d_email,
       |    CAST(SUM(c_email) AS BIGINT) AS m_email,
       |    count(*) FILTER (c_ip > 0) AS d_ip,
       |    CAST(SUM(c_ip) AS BIGINT) AS m_ip,
       |    count(*) FILTER (c_num > 0) AS d_num,
       |    CAST(SUM(c_num) AS BIGINT) AS m_num
       |  FROM m GROUP BY 1),
       |long AS (
       |  SELECT source, 'email' AS pii_type, d_email AS n_docs_hit,
       |    m_email AS n_matches, n_docs FROM g
       |  UNION ALL
       |  SELECT source, 'ip', d_ip, m_ip, n_docs FROM g
       |  UNION ALL
       |  SELECT source, 'number', d_num, m_num, n_docs FROM g)
       |SELECT source, pii_type, n_docs_hit, n_matches,
       |  n_docs_hit * 10000 // n_docs AS hit_bp
       |FROM long ORDER BY source, pii_type""".stripMargin
  }) { (s, d) =>
    piiView(piiGrid(t(s, d, "documents")))
  }

  // --------------------------------------------------------------------
  // sample_per_group — exactly-k-per-stratum sampling: rank docs inside
  // each language by a deterministic hash of their id and keep the first
  // 20. Hash order is uniform-random in distribution but reproducible —
  // the distributed equivalent of seeded reservoir sampling, without the
  // sequential reservoir. One shuffle on the stratum key; if a stratum is
  // ever hot, pre-filter with a hash-threshold Bernoulli pass (the
  // sample_stratified predicate) before the exact window rank.
  // --------------------------------------------------------------------
  private val SamplePerGroupK = 20
  private val samplePerGroup = Op("sample_per_group",
    s"""SELECT doc_id, lang FROM (
       |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
       |    ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
       |             doc_id) AS rn
       |  FROM documents) WHERE rn <= $SamplePerGroupK
       |ORDER BY lang, doc_id""".stripMargin) { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      .orderBy(h60(col("doc_id").cast("string")).asc, col("doc_id").asc)
    t(s, d, "documents").select("doc_id", "lang")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= SamplePerGroupK)
      .select("doc_id", "lang")
      .orderBy("lang", "doc_id")
  }

  // --------------------------------------------------------------------
  // dataset_split — leak-proof train/val/test assignment (80/10/10): the
  // split is a pure function of the document KEY (salted md5, engine-
  // portable), never of row order, sampling, or randomness — so re-runs,
  // engine swaps, and incremental corpus drops can NEVER move a doc
  // across the split boundary (the train/eval leak a pipeline must
  // structurally prevent; pair with `decontaminate` for content-level
  // leaks). Pure scan-stage map work — the assignment costs nothing at
  // 100 TB and composes with any downstream filter as a free predicate.
  // --------------------------------------------------------------------
  private val datasetSplit = Op("dataset_split",
    s"""SELECT doc_id,
       |  CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
       |FROM (SELECT doc_id,
       |        ${h60Sql("concat('split:', CAST(doc_id AS VARCHAR))")} % 10 AS b
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val b = h60(concat(lit("split:"), col("doc_id").cast("string"))) % 10
    t(s, d, "documents")
      .select(col("doc_id"), b.as("b"))
      .select(col("doc_id"),
        when(col("b") < 8, "train").when(col("b") === 8, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // curation_pipeline — the whole corpus-preparation flow composed as ONE
  // lazy plan: normalize → length-filter → exact-dedup on the normalized
  // hash → deterministic 50% sample → chunk accounting. This is the
  // end-to-end shape a 100 TB curation run has: every stage before the
  // dedup window is scan-stage narrow work, the dedup is the single keyed
  // shuffle (on the fixed-width hash), and the sample predicate after it
  // is free. Catalyst pipelines the narrow stages into one pass over the
  // data — composing the operators costs nothing over running the last
  // one.
  // --------------------------------------------------------------------
  private val curationPipeline = Op("curation_pipeline",
    s"""WITH norm AS (
       |  SELECT doc_id, lang,
       |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
       |                        ' +', ' ', 'g')) AS ntext
       |  FROM documents),
       |tok AS (SELECT doc_id, lang, ntext,
       |        len(string_split(ntext, ' ')) AS n_tok FROM norm),
       |filt AS (SELECT * FROM tok WHERE n_tok BETWEEN 10 AND 2000),
       |ded AS (SELECT * FROM filt
       |        QUALIFY row_number() OVER (PARTITION BY md5(ntext) ORDER BY doc_id) = 1),
       |samp AS (SELECT * FROM ded
       |  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 50)
       |SELECT doc_id, lang, n_tok, (n_tok + 39) // 40 AS n_chunks
       |FROM samp ORDER BY doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ntext = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    val w = Window.partitionBy("nhash").orderBy(col("doc_id").asc)
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"), ntext.as("ntext"))
      .withColumn("n_tok", size(words(col("ntext"))))
      .filter(col("n_tok").between(10, 2000))
      .withColumn("nhash", md5(col("ntext")))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .filter(h60(col("doc_id").cast("string")) % 100 < 50)
      .select(col("doc_id"), col("lang"), col("n_tok"),
        ((col("n_tok") + 39) / 40).cast("long").as("n_chunks"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // shard_manifest — deterministic shard routing plus the audit manifest
  // a training job consumes: each document routes to one of N shards by a
  // salted key hash (pure function of doc_id — stable across engines,
  // partitionings, and incremental re-runs, like dataset_split), and the
  // manifest carries per-shard row count, byte volume, id range, and an
  // order-independent content checksum (exact-decimal SUM of each doc's
  // 60-bit text digest — commutative, so any execution order produces the
  // same fingerprint; the sum exceeds 2^63 so it accumulates in
  // DECIMAL(38,0) and is folded mod 2^60 into a BIGINT for the output —
  // raw DECIMAL output, like a raw >2^53 double, is not hash-stable
  // across the driver's two read paths). Downstream, a trainer verifies a
  // delivered shard
  // against its manifest row without re-reading the corpus. One hash
  // aggregate, N rows out — at 100 TB this is a single map-side-combining
  // pass; the routing column itself is free scan-stage work for the
  // writer (`sink_partitioned` on `shard` is the companion write).
  // --------------------------------------------------------------------
  private val ShardN = 16
  private val shardManifest = Op("shard_manifest",
    s"""SELECT
       |  ${h60Sql("concat('shard:', CAST(doc_id AS VARCHAR))")} % $ShardN AS shard,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
       |  CAST(SUM(CAST(${h60Sql("text")} AS DECIMAL(38,0)))
       |       % CAST(1152921504606846976 AS DECIMAL(38,0)) AS BIGINT) AS checksum
       |FROM documents GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
    t(s, d, "documents")
      .select(
        (h60(concat(lit("shard:"), col("doc_id").cast("string"))) % ShardN).as("shard"),
        col("doc_id"), col("n_chars"), h60(col("text")).as("th"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"),
        (sum(col("th").cast(DecimalType(38, 0)))
          % lit(1152921504606846976L).cast(DecimalType(38, 0)))
          .cast("long").as("checksum"))
      .orderBy("shard")
  }

  // --------------------------------------------------------------------
  // interleave_sources — weighted deterministic corpus mixture: each
  // source gets a target weight w (the Pile/Llama-style mixing ratio);
  // a doc materializes floor(w) full copies plus one more iff its salted
  // hash falls under frac(w) — so src0/src1 (w=2.25) upsample to ~2.25
  // epochs, src2..src5 (w=1.0) pass through, and the long tail (w=0.4)
  // downsamples, all as a PURE FUNCTION of (source, doc_id). No rand(),
  // no shuffle: the weight lookup is a literal CASE, the copy expansion
  // is a scan-stage explode bounded by ceil(max w), and re-runs / engine
  // swaps / partition changes reproduce the identical mixture — the
  // auditability contract a 100 TB training-mix job needs. The final
  // ORDER BY exists only for the oracle; a production run feeds the
  // exploded stream straight to `shard_manifest` routing.
  // --------------------------------------------------------------------
  private val interleaveSources = Op("interleave_sources",
    s"""SELECT doc_id, source,
       |  unnest(generate_series(1, n_copies)) AS epoch
       |FROM (
       |  SELECT doc_id, source,
       |    (CASE WHEN source IN ('src0','src1') THEN 2
       |          WHEN source IN ('src2','src3','src4','src5') THEN 1
       |          ELSE 0 END)
       |    + (CASE WHEN ${h60Sql("concat('mix:', CAST(doc_id AS VARCHAR))")} % 1000
       |            < (CASE WHEN source IN ('src0','src1') THEN 250
       |                    WHEN source IN ('src2','src3','src4','src5') THEN 0
       |                    ELSE 400 END)
       |       THEN 1 ELSE 0 END) AS n_copies
       |  FROM documents)
       |WHERE n_copies >= 1
       |ORDER BY doc_id, epoch""".stripMargin) { (s, d) =>
    val upsampled = col("source").isin("src0", "src1")
    val passthrough = col("source").isin("src2", "src3", "src4", "src5")
    val whole = when(upsampled, 2).when(passthrough, 1).otherwise(0)
    val fracPermille = when(upsampled, 250).when(passthrough, 0).otherwise(400)
    val extra = when(
      h60(concat(lit("mix:"), col("doc_id").cast("string"))) % 1000 < fracPermille,
      1).otherwise(0)
    t(s, d, "documents")
      .select(col("doc_id"), col("source"), (whole + extra).as("n_copies"))
      // guard BEFORE sequence(): Spark's sequence(1, 0) is a DESCENDING
      // [1, 0], not empty like DuckDB's generate_series — never build it
      .filter(col("n_copies") >= 1)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1), col("n_copies"))).as("epoch"))
      .select(col("doc_id"), col("source"), col("epoch").cast("long"))
      .orderBy("doc_id", "epoch")
  }

  // --------------------------------------------------------------------
  // corpus_shuffle — seed-deterministic training-order permutation, one
  // per epoch: a trainer must visit the corpus in a "random" order that
  // is (a) different every epoch and (b) exactly reproducible on resume/
  // re-run — so the order key is the epoch-salted hash of the doc key,
  // never rand(). Emitting the key makes the permutation auditable and
  // lets a resumed job seek to its offset. Scale shape: the ORDER BY is
  // Spark's range-partition + per-partition sort (a PARALLEL total sort —
  // no global window, no row_number over one partition); the epoch
  // expansion is a scan-stage 2-element explode. At 100 TB this is
  // exactly the shuffle-and-shard pass a data loader runs per epoch.
  // --------------------------------------------------------------------
  // --------------------------------------------------------------------
  // curriculum_order — curriculum scheduling for a training run: band
  // every doc by GLOBAL quality quartile (band 1 = cleanest quarter,
  // trained first), then order deterministically WITHIN each
  // (source, band) shard by salted hash — clean-to-noisy across bands,
  // decorrelated within. Scoring stage is quality_score's composite,
  // shared verbatim (Text.qualityView), so the curriculum bands on
  // exactly the signal the quality table reports. NULL-text docs carry no
  // score and are excluded (declared). Hash-ordered (not rand()) so the
  // schedule is stable across retries/partitioning — the reproducibility
  // property resumable training needs.
  //
  // Scale shape: scan-stage scoring; quartile thresholds are ONE exact-
  // percentile aggregate broadcast back as a 1-row scalar (the anomaly_mad
  // pattern; production swaps in the mergeable sketch like
  // agg_percentile_approx documents); position numbering windows on
  // (source, band) — the shard key times 4, so parallelism scales with
  // shards and no global sort exists anywhere except the contract ORDER BY.
  // --------------------------------------------------------------------
  private val curriculumOrder = Op("curriculum_order",
    s"""WITH q AS (${Text.qualitySql("WHERE text IS NOT NULL")}),
       |th AS (SELECT quantile_cont(quality, 0.25) AS t25,
       |              quantile_cont(quality, 0.5) AS t50,
       |              quantile_cont(quality, 0.75) AS t75 FROM q),
       |b AS (SELECT q.doc_id, q.source, q.quality,
       |        CASE WHEN quality >= t75 THEN 1
       |             WHEN quality >= t50 THEN 2
       |             WHEN quality >= t25 THEN 3
       |             ELSE 4 END AS band
       |      FROM q, th)
       |SELECT doc_id, source, quality, band,
       |  CAST(row_number() OVER (PARTITION BY source, band
       |    ORDER BY ${h60Sql("'curriculum:' || CAST(doc_id AS VARCHAR)")}, doc_id)
       |    AS BIGINT) AS pos
       |FROM b ORDER BY source, band, pos""".stripMargin) { (s, d) =>
    val q = Text.qualityView(
      t(s, d, "documents").filter(col("text").isNotNull))
    val th = q.agg(percentile(col("quality"),
        array(lit(0.25), lit(0.5), lit(0.75))).as("ps"))
      .select(col("ps")(0).as("t25"), col("ps")(1).as("t50"),
        col("ps")(2).as("t75"))
    val w = Window.partitionBy("source", "band")
      .orderBy(col("__h").asc, col("doc_id").asc)
    q.crossJoin(broadcast(th))
      .withColumn("band",
        when(col("quality") >= col("t75"), 1)
          .when(col("quality") >= col("t50"), 2)
          .when(col("quality") >= col("t25"), 3)
          .otherwise(4))
      .withColumn("__h",
        h60(concat(lit("curriculum:"), col("doc_id").cast("string"))))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("source"), col("quality"), col("band"),
        col("pos"))
      .orderBy("source", "band", "pos")
  }

  private val corpusShuffle = Op("corpus_shuffle",
    s"""SELECT CAST(epoch AS BIGINT) AS epoch, doc_id,
       |  ${h60Sql("concat('shuf', CAST(epoch AS VARCHAR), ':', CAST(doc_id AS VARCHAR))")} AS skey
       |FROM documents, (SELECT unnest([1, 2]) AS epoch)
       |ORDER BY epoch, skey, doc_id""".stripMargin) { (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"), explode(array(lit(1), lit(2))).as("epoch"))
      .select(col("epoch").cast("long"), col("doc_id"),
        h60(concat(lit("shuf"), col("epoch").cast("string"), lit(":"),
          col("doc_id").cast("string"))).as("skey"))
      .orderBy("epoch", "skey", "doc_id")
  }

  // --------------------------------------------------------------------
  // sample_hash — exact-size deterministic uniform sample: rank every doc
  // by the salted hash of its key and keep the k smallest. Unlike
  // fraction sampling (sample_stratified's scan-only Bernoulli gate) the
  // sample size is EXACT, and unlike rand()-based sampling the selection
  // is a pure function of the key — reproducible across engines, reruns,
  // retries, and partition counts, and auditable (the hash rides along).
  // Scale shape: TakeOrderedAndProject — each scan task keeps a k-item
  // heap over a narrow projection and the driver merges k×partitions
  // candidates; no global sort, no shuffle of the corpus. At 100 TB with
  // large k, swap the limit for `WHERE skey < 2^60·k/N` (same scan-only
  // cost, approximately-exact size) — the hash key serves both forms.
  // --------------------------------------------------------------------
  private val SampleK = 64

  private val sampleHash = Op("sample_hash",
    s"""SELECT doc_id, source, ${h60Sql("concat('samp:', CAST(doc_id AS VARCHAR))")} AS skey
       |FROM documents
       |ORDER BY skey, doc_id LIMIT $SampleK""".stripMargin) { (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"), col("source"),
        h60(concat(lit("samp:"), col("doc_id").cast("string"))).as("skey"))
      .orderBy("skey", "doc_id")
      .limit(SampleK)
  }

  // --------------------------------------------------------------------
  // feature_scale — per-group min-max normalization of a numeric feature
  // (customer balance within its nation), emitted on a 0..10000 integer
  // scale: the feature-engineering primitive before quantile/embedding
  // work, done ENTIRELY in integer arithmetic so every engine, partition
  // count, and retry produces the identical scaled value (float
  // (x-min)/(max-min) would differ in the last ulp across engines).
  //
  // Scale shape: one map-side-combinable min/max aggregate (|groups|
  // rows), broadcast back over the scan — the fact table is read once and
  // never shuffled. Degenerate groups (max = min) scale to 0 by contract.
  // groupBy+broadcast-join rather than a window partitioned by the group
  // key on purpose: group cardinality is LOW (25 nations), and a window
  // would funnel the whole table through 25 partitions (the documented
  // win_ntile hazard) while the join keeps full scan parallelism.
  // --------------------------------------------------------------------
  private val featureScale = Op("feature_scale",
    """WITH c AS (
      |  SELECT c_custkey, c_nationkey,
      |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM customer),
      |g AS (SELECT c_nationkey, min(cents) AS mn, max(cents) AS mx
      |      FROM c GROUP BY c_nationkey)
      |SELECT c.c_custkey, c.c_nationkey, c.cents,
      |  CASE WHEN g.mx = g.mn THEN 0
      |       ELSE (c.cents - g.mn) * 10000 // (g.mx - g.mn) END AS scaled_bp
      |FROM c JOIN g ON c.c_nationkey = g.c_nationkey
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    val c = t(s, d, "customer").select(col("c_custkey"), col("c_nationkey"),
      (col("c_acctbal").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
    val g = c.groupBy("c_nationkey").agg(min("cents").as("mn"), max("cents").as("mx"))
    c.join(broadcast(g), "c_nationkey")
      .select(col("c_custkey"), col("c_nationkey"), col("cents"),
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(expr("(cents - mn) * 10000 div (mx - mn)")).as("scaled_bp"))
      .orderBy("c_custkey")
  }

  // --------------------------------------------------------------------
  // sample_balance — class-balanced downsampling: every language keeps
  // exactly min-class-count docs, chosen by deterministic hash order
  // (the label-balancing step before classifier training / eval-set
  // construction). The cap k is DATA-DRIVEN — min over the per-class
  // counts — not a constant like sample_per_group's: computed as a
  // 1-row aggregate and broadcast, never collected to the driver.
  // Scale shape: one count aggregate (map-side combine), one window
  // rank per class (shuffle on lang), one broadcast of the 1-row cap.
  // If a stratum is ever pathologically hot, pre-thin it with the
  // sample_stratified hash-Bernoulli gate before the exact rank.
  // --------------------------------------------------------------------
  private val sampleBalance = Op("sample_balance",
    s"""WITH d AS (SELECT doc_id, lang,
       |    ${h60Sql("concat('bal:', CAST(doc_id AS VARCHAR))")} AS skey
       |  FROM documents),
       |k AS (SELECT MIN(cnt) AS k
       |      FROM (SELECT COUNT(*) AS cnt FROM d GROUP BY lang)),
       |r AS (SELECT doc_id, lang,
       |        row_number() OVER (PARTITION BY lang ORDER BY skey, doc_id) AS rn
       |      FROM d)
       |SELECT doc_id, lang FROM r, k WHERE rn <= k.k
       |ORDER BY lang, doc_id""".stripMargin) { (s, d) =>
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        h60(concat(lit("bal:"), col("doc_id").cast("string"))).as("skey"))
    val cap = broadcast(
      docs.groupBy("lang").agg(count(lit(1)).as("cnt")).agg(min("cnt").as("k")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      .orderBy(col("skey").asc, col("doc_id").asc)
    docs.withColumn("rn", row_number().over(w))
      .crossJoin(cap) // 1-row balanced-size cap, broadcast by construction
      .filter(col("rn") <= col("k"))
      .select("doc_id", "lang")
      .orderBy("lang", "doc_id")
  }

  // --------------------------------------------------------------------
  // sample_weighted — Bernoulli sampling with per-doc inclusion
  // probability ∝ document length (longer docs carry more training
  // signal; the importance-sampling knob next to sample_stratified's
  // per-class rates). p = min(n_chars·10, 8000) basis points of 10000
  // (fixture docs run 48-553 chars → 5-80% keep rates),
  // decided by the salted 60-bit hash — deterministic across engines /
  // partitionings / retries, auditable after the fact (p rides along).
  // The exact-size weighted variant (A-ES keys h^(1/w)) is deliberately
  // NOT used: pow() is libm, not correctly rounded, so its keys differ
  // across engines — the Bernoulli form needs only integer compares.
  // Pure scan-stage predicate: free at any scale.
  // --------------------------------------------------------------------
  private val sampleWeighted = Op("sample_weighted",
    s"""SELECT doc_id, n_chars,
       |  LEAST(n_chars * 10, 8000) AS p_bp
       |FROM documents
       |WHERE ${h60Sql("concat('wsamp:', CAST(doc_id AS VARCHAR))")} % 10000
       |      < LEAST(n_chars * 10, 8000)
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val pBp = least(col("n_chars") * 10, lit(8000))
    t(s, d, "documents")
      .filter(h60(concat(lit("wsamp:"), col("doc_id").cast("string"))) % 10000 < pBp)
      .select(col("doc_id"), col("n_chars"), pBp.as("p_bp"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // rank_normalize — percent-rank (quantile) normalization of a feature,
  // feature_scale's robust sibling: min-max scaling is destroyed by one
  // outlier, rank normalization is invariant to any monotone transform of
  // the input. pr_bp = (rank-1)·10000 div (n-1) in pure integer
  // arithmetic (percent_rank() itself divides doubles — engines could
  // round the last ulp differently); rank() (not row_number) so ties get
  // equal normalized values, which is what makes the result a function of
  // the VALUE rather than of scan order.
  //
  // Scale shape: one window per event_type partition — 5 coarse
  // partitions here, so at 100 TB this is the op to pre-bucket (the
  // win_ntile hazard documented at feature_scale); the contract keeps the
  // window form because rank ties must be GLOBAL per type, and AQE skew
  // split cannot help a logical window — the deployment note in SURVEY
  // recommends quantile-sketch binning (agg_percentile_approx) when the
  // per-type row count exceeds one executor's spill budget.
  // --------------------------------------------------------------------
  private val rankNormalize = Op("rank_normalize",
    """WITH r AS (
      |  SELECT event_id, event_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |    CAST(rank() OVER (PARTITION BY event_type
      |                      ORDER BY CAST(value AS DECIMAL(18,2))) AS BIGINT) AS rk,
      |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM events WHERE value IS NOT NULL)
      |SELECT event_id, event_type, cents,
      |  CASE WHEN n = 1 THEN 0 ELSE (rk - 1) * 10000 // (n - 1) END AS pr_bp
      |FROM r ORDER BY event_id""".stripMargin) { (s, d) =>
    val v = col("value").cast(DecimalType(18, 2))
    // coalesce-exempt keyed exchange (REPARTITION_BY_NUM): the window's
    // own exchange is ~1.5 MB, so AQE coalesced its reader to ONE task and
    // all five per-type window sorts ran serial on one core (Profile jobs
    // 114/115). Hash-by-type at explicit width satisfies the windows'
    // clustering (no second exchange) and keeps the types parallel —
    // bounded by the 5 coarse types, which is this op's documented
    // contract ceiling (see SCALE note above).
    exchangeWide(t(s, d, "events").filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type"), col("value")),
        col("event_type"))
      .select(col("event_id"), col("event_type"), (v * 100).cast("long").as("cents"),
        rank().over(Window.partitionBy("event_type").orderBy(v)).cast("long").as("rk"),
        count(lit(1)).over(Window.partitionBy("event_type")).as("n"))
      .select(col("event_id"), col("event_type"), col("cents"),
        when(col("n") === 1, lit(0L))
          .otherwise(expr("(rk - 1) * 10000 div (n - 1)")).as("pr_bp"))
      .orderBy("event_id")
  }

  // --------------------------------------------------------------------
  // dataset_kfold — deterministic k-fold cross-validation assignment:
  // fold(doc) = h(kfold:doc_id) mod 5, reported as a per-fold datasheet
  // (doc count, char mass, distinct sources) so fold balance is auditable
  // before any training job runs. Hash-of-key (not rand()) for the same
  // reason as every sampler here: folds are reproducible across engines,
  // retries, and partitionings, and a doc's fold never changes when the
  // corpus grows — the property that keeps eval folds uncontaminated
  // across incremental re-runs.
  //
  // Scale shape: scan-stage fold tag, one aggregate to 5 rows. The
  // distinct-source spread uses EXACT count-distinct (one Expand over the
  // scan — parity with the oracle requires exactness; at 100 TB swap to
  // approx_count_distinct if the datasheet tolerates ±2%, the documented
  // dataset_card trade).
  // --------------------------------------------------------------------
  private val datasetKfold = Op("dataset_kfold",
    s"""SELECT ${h60Sql("concat('kfold:', CAST(doc_id AS VARCHAR))")} % 5 AS fold,
       |  count(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars,
       |  count(DISTINCT source) AS n_sources,
       |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |FROM documents GROUP BY 1 ORDER BY fold""".stripMargin) { (s, d) =>
    t(s, d, "documents")
      .groupBy((h60(concat(lit("kfold:"), col("doc_id").cast("string"))) % 5)
        .as("fold"))
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"),
        countDistinct("source").as("n_sources"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("fold")
  }

  // --------------------------------------------------------------------
  // rare_collapse — collapse long-tail categories below a support
  // threshold into one '__other__' bucket (the standard cardinality cap
  // before one-hot/embedding feature encoding, and the k-anonymity move
  // in data releases). Threshold is DATA-DRIVEN — total/25, i.e. below
  // 40% of the uniform share — so the op is scale-free.
  //
  // Scale shape: one map-side-combined count to |categories| rows, then
  // the recode + re-aggregate runs on that GRID (not the fact table) —
  // nothing downstream of the first aggregate scales with data. A
  // pipeline applying the recode back to rows broadcast-joins the ≤|cats|
  // mapping; the contract op reports the recoded distribution itself.
  // --------------------------------------------------------------------
  private val rareCollapse = Op("rare_collapse",
    """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM c)
      |SELECT CASE WHEN c.n < tot.t // 25 THEN '__other__' ELSE c.source END
      |         AS category,
      |  CAST(SUM(c.n) AS BIGINT) AS n_docs, count(*) AS n_merged
      |FROM c, tot GROUP BY 1 ORDER BY category""".stripMargin) { (s, d) =>
    val c = t(s, d, "documents").groupBy("source").agg(count(lit(1)).as("n"))
    val tot = c.agg(sum("n").as("t"))
    c.crossJoin(broadcast(tot)) // 1-row total: bounded broadcast, no shuffle
      .select(when(col("n") < expr("t div 25"), lit("__other__"))
        .otherwise(col("source")).as("category"), col("n"))
      .groupBy("category")
      .agg(sum("n").as("n_docs"), count(lit(1)).as("n_merged"))
      .orderBy("category")
  }

  // --------------------------------------------------------------------
  // feature_winsorize — outlier_filter's CONSTRUCTIVE twin: instead of
  // dropping tail rows, clamp the feature into its group's discrete
  // [p05, p95] band (winsorizing — the standard robustification before
  // mean-based normalization, which one extreme value otherwise drags).
  // Percentiles are DISCRETE k-th smallest with k = ⌈q·n⌉ in pure integer
  // arithmetic (the conversion_latency rule: interpolating percentiles
  // round engine-specifically), ties broken by key so the selected
  // element is unique.
  //
  // Scale shape: ONE per-group window pass — row_number + count, then the
  // band edges recovered as conditional MAX over the partition (no second
  // scan, no join); the clamp is scan-stage arithmetic. Low-cardinality
  // window partitions (25 nations) are the documented feature_scale
  // hazard — at 100 TB per-group volume, swap the exact selection for
  // approx_percentile with this form as the small-scale oracle.
  // --------------------------------------------------------------------
  private val featureWinsorize = Op("feature_winsorize",
    """WITH c AS (
      |  SELECT c_custkey, c_nationkey,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM customer WHERE c_acctbal IS NOT NULL),
      |r AS (
      |  SELECT c_custkey, c_nationkey, cents,
      |    CAST(row_number() OVER w AS BIGINT) AS rn,
      |    CAST(count(*) OVER p AS BIGINT) AS n
      |  FROM c
      |  WINDOW w AS (PARTITION BY c_nationkey ORDER BY cents, c_custkey),
      |         p AS (PARTITION BY c_nationkey)),
      |b AS (
      |  SELECT *,
      |    max(CASE WHEN rn = (n + 19) // 20 THEN cents END) OVER p AS lo,
      |    max(CASE WHEN rn = (19 * n + 19) // 20 THEN cents END) OVER p AS hi
      |  FROM r WINDOW p AS (PARTITION BY c_nationkey))
      |SELECT c_custkey, c_nationkey, cents,
      |  least(greatest(cents, lo), hi) AS win_cents,
      |  cents < lo OR cents > hi AS clipped
      |FROM b ORDER BY c_custkey""".stripMargin) { (s, d) =>
    val c = t(s, d, "customer").filter(col("c_acctbal").isNotNull)
      .select(col("c_custkey"), col("c_nationkey"),
        (col("c_acctbal").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
    val p = Window.partitionBy("c_nationkey")
    val r = c
      .withColumn("rn", row_number().over(
        p.orderBy("cents", "c_custkey")).cast("long"))
      .withColumn("n", count(lit(1)).over(p))
    r.withColumn("lo", max(when(col("rn") === expr("(n + 19) div 20"),
        col("cents"))).over(p))
      .withColumn("hi", max(when(col("rn") === expr("(19 * n + 19) div 20"),
        col("cents"))).over(p))
      .select(col("c_custkey"), col("c_nationkey"), col("cents"),
        least(greatest(col("cents"), col("lo")), col("hi")).as("win_cents"),
        (col("cents") < col("lo") || col("cents") > col("hi")).as("clipped"))
      .orderBy("c_custkey")
  }

  // --------------------------------------------------------------------
  // sample_temperature — temperature-scaled source mixing (the mC4/XLM-R
  // multilingual-mixing computation): resampling weights w_i ∝ n_i^α with
  // α = 1/2, which UPWEIGHTS small sources relative to proportional
  // sampling so head sources don't drown the tail; the output is the
  // mixing table a corpus-assembly job executes — per source its weight
  // and its repeat factor (>10000 bp = upsampled / multiple epochs).
  //
  // Determinism: n^α is sqrt — the ONE transcendental that IEEE-754
  // requires correctly rounded, so sqrt(BIGINT→double) is bit-identical
  // on both engines; it is immediately quantized (floor(·×10⁶) → BIGINT)
  // and everything downstream is pure integer arithmetic (the rate_alert
  // cross-multiplication discipline). ln/exp-based general-α is exactly
  // what this formulation avoids (the drift_report libm lesson).
  //
  // Scale shape: ONE map-side-combining fact aggregate to ≤|sources|
  // rows; the share window runs over that bounded grid only.
  // --------------------------------------------------------------------
  private val sampleTemperature = Op("sample_temperature",
    """WITH g AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents WHERE text IS NOT NULL
      |  GROUP BY source),
      |s AS (SELECT *,
      |        CAST(floor(sqrt(n_tokens) * 1000000) AS BIGINT) AS sq FROM g),
      |w AS (SELECT *, CAST(sq * 10000 // SUM(sq) OVER () AS BIGINT) AS w_bp,
      |        SUM(n_tokens) OVER () AS total_tok FROM s)
      |SELECT source, n_docs, n_tokens, w_bp,
      |  CAST((total_tok * w_bp // 10000) * 10000 // n_tokens AS BIGINT) AS repeat_bp
      |FROM w ORDER BY source""".stripMargin) { (s, d) =>
    temperatureView(temperatureGrid(t(s, d, "documents")))
  }

  /** The per-source (docs, tokens) sum grid — sample_temperature's only
    * fact-scale pass, shared with the streaming twin
    * ([[graft.streaming.Streams.temperature]]): both are algebraic
    * sums; ≤|sources| rows. */
  private[graft] def temperatureGrid(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.filter(col("text").isNotNull)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(words(col("text")))).as("n_tokens"))

  /** The α=1/2 mixing table over the completed grid (sqrt-then-quantize,
    * then pure integer — see op comment). */
  private[graft] def temperatureView(grid: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    grid
      // ≤|sources| rows: the justified tiny unpartitioned window
      .withColumn("sq", floor(sqrt(col("n_tokens")) * 1e6).cast("long"))
      .withColumn("w_bp", expr("sq * 10000 div sum(sq) OVER ()"))
      .withColumn("total_tok", sum("n_tokens").over(Window.partitionBy()))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("w_bp"),
        expr("(total_tok * w_bp div 10000) * 10000 div n_tokens").as("repeat_bp"))
      .orderBy("source")

  // --------------------------------------------------------------------
  // curation_report — the per-source gate-attrition table a pipeline
  // owner reads before trusting any corpus: documents flow through the
  // curation gates IN ORDER (null text → too short → too long →
  // repetitive → exact duplicate) and each doc is attributed to the
  // FIRST gate that drops it — sequential attribution, exactly how a
  // staged pipeline actually loses data (a doc both short and duplicated
  // is a "too_short" loss: the dedup stage never saw it). Gates are the
  // house rules already shipped as ops: curation_pipeline's 10–2000
  // token band, repetition_filter's dup_ratio > 0.1 (the exact
  // cross-multiplied integer form — no float in the predicate), and
  // dedup_exact's first-by-doc_id survivor rule applied ONLY among docs
  // that passed the earlier gates. Output per (source, gate): doc count
  // and integer-bp share of the source — the funnel read "source B loses
  // 40% to boilerplate, source C to dedup".
  //
  // Scale shape: one scan computes every per-doc gate predicate with
  // array HOFs (scan-stage narrow); the dedup attribution is ONE keyed
  // window on the content hash over pre-gate survivors (fixed-width
  // keys — the dedup_exact shuffle the pipeline pays anyway); the report
  // aggregate is map-side-combined to ≤|sources|×6 rows with the source
  // totals joined back grid-sized.
  // --------------------------------------------------------------------
  private val curationReport = Op("curation_report", {
    val grams = """list_transform(range(0, greatest(len(w) - 1, 1)),
                  |                i -> array_to_string(list_slice(w, i+1, i+2), ' '))"""
      .stripMargin
    s"""WITH m AS (
       |  SELECT doc_id, source, text, len(string_split(text, ' ')) AS n_tok,
       |    len($grams) AS n_gram, len(list_distinct($grams)) AS n_uniq
       |  FROM (SELECT doc_id, source, text, string_split(text, ' ') AS w
       |        FROM documents)),
       |g1 AS (
       |  SELECT doc_id, source, text,
       |    CASE WHEN text IS NULL THEN 'null_text'
       |         WHEN n_tok < 10 THEN 'too_short'
       |         WHEN n_tok > 2000 THEN 'too_long'
       |         WHEN (n_gram - n_uniq) * 10 > n_gram THEN 'repetitive'
       |    END AS pregate
       |  FROM m),
       |sp AS (
       |  SELECT source, pregate,
       |    SUM(CASE WHEN pregate IS NULL THEN 1 END)
       |      OVER (PARTITION BY md5(text) ORDER BY doc_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS spos
       |  FROM g1),
       |fin AS (
       |  SELECT source,
       |    COALESCE(pregate,
       |      CASE WHEN spos = 1 THEN 'kept' ELSE 'duplicate' END) AS gate
       |  FROM sp),
       |cnt AS (SELECT source, gate, count(*) AS n FROM fin GROUP BY 1, 2),
       |tot AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
       |SELECT c.source AS source, c.gate, c.n, c.n * 10000 // t.n_docs AS share_bp
       |FROM cnt c JOIN tot t ON c.source IS NOT DISTINCT FROM t.source
       |ORDER BY c.source, c.gate""".stripMargin
  }) { (s, d) =>
    val fin = curationGatePerDoc(s, d).select("source", "gate")
    val cnt = fin.groupBy("source", "gate").agg(count(lit(1)).as("n"))
    // totals come straight off the raw table (every doc lands in exactly
    // one gate, so the per-source total is just the row count) — the
    // totals leg must not re-run the HOF gate pipeline
    val tot = t(s, d, "documents").groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
    cnt.join(broadcast(tot), cnt("source") <=> tot("source"))
      .select(cnt("source"), col("gate"), col("n"),
        expr("n * 10000 div n_docs").as("share_bp"))
      .orderBy("source", "gate")
  }

  /** Per-doc FIRST-gate attribution — the stage shared by curation_report
    * (per-source funnel) and curation_cost_curve (corpus cost curve), so
    * both reports provably describe the same gate semantics: scalar gates
    * (null text → too short → too long → repetitive) computed scan-stage
    * with array HOFs, then dedup survivorship attributed by ONE
    * conditional-cumulative window on the content digest — a survivor's
    * rank among survivors of its hash group = the running count of
    * pregate-NULL rows. A filter+self-join formulation planned the HOF
    * scan TWICE (the bootstrap_ci double-generator lesson) and measured
    * ~4.9 s vs ~2 s for this form at sf0.1. The window keys on the
    * fixed-width digest, never the text payload. Returns
    * (doc_id, source, gate, n_tok) with n_tok NULL for NULL text. */
  private def curationGatePerDoc(s: SparkSession, d: String): DataFrame = {
    val w = words(col("text"))
    val g = transform(
      sequence(lit(0), greatest(size(col("w")) - 1, lit(1)) - 1),
      i => concat_ws(" ", slice(col("w"), i + 1, lit(2))))
    val m = t(s, d, "documents")
      .select(col("doc_id"), col("source"), col("text"), w.as("w"))
      .withColumn("n_tok", size(col("w")))
      .withColumn("g", g)
      .select(col("doc_id"), col("source"), col("text"), col("n_tok"),
        size(col("g")).as("n_gram"), size(array_distinct(col("g"))).as("n_uniq"))
    val pregate = when(col("text").isNull, "null_text")
      .when(col("n_tok") < 10, "too_short")
      .when(col("n_tok") > 2000, "too_long")
      .when((col("n_gram") - col("n_uniq")) * 10 > col("n_gram"), "repetitive")
    val g1 = m.select(col("doc_id"), col("source"),
      when(col("text").isNull, lit(null).cast("int"))
        .otherwise(col("n_tok")).as("n_tok"),
      md5(col("text")).as("h"), pregate.as("pregate"))
    val byHash = Window.partitionBy("h").orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g1.withColumn("spos", sum(when(col("pregate").isNull, 1L)).over(byHash))
      .select(col("doc_id"), col("source"), col("n_tok"),
        coalesce(col("pregate"),
          when(col("spos") === 1, "kept").otherwise("duplicate")).as("gate"))
  }

  // --------------------------------------------------------------------
  // curation_cost_curve — the gains_table shape turned on the curation
  // funnel itself: as the gates tighten IN ORDER (null text → too short
  // → too long → repetitive → exact duplicate), what does a kept doc
  // cost? Per stage: docs/tokens dropped AT that gate, docs/tokens still
  // alive AFTER it, the surviving share (left_bp), and the headline a
  // budget owner reads — cost_bp, scanned input docs per 10000 kept docs
  // (10000 = a free corpus; 20000 = you scan two docs for every one you
  // keep). The stage semantics are curationGatePerDoc, shared VERBATIM
  // with curation_report, so the curve and the per-source funnel cannot
  // drift. The 5-row stage scaffold is literal (every stage reports even
  // when it drops nothing — a curve with holes misreads as cheap), and
  // all shares guard their denominators with CASE so an empty / fully-
  // dropped corpus yields NULL on both engines instead of a DuckDB
  // divide error (the numeric_sanitize structural-divergence rule).
  //
  // Scale shape: the per-doc stage is the op's only fact-scale work
  // (scan + ONE digest-keyed window — what curation_report pays);
  // totals are a 1-row broadcast aggregate, the drop table is map-side
  // combined to ≤5 rows, and the cumulative window runs over the 5-row
  // literal scaffold.
  // --------------------------------------------------------------------
  private val curationCostCurve = Op("curation_cost_curve", {
    val grams = """list_transform(range(0, greatest(len(w) - 1, 1)),
                  |                i -> array_to_string(list_slice(w, i+1, i+2), ' '))"""
      .stripMargin
    s"""WITH m AS (
       |  SELECT doc_id, text, len(string_split(text, ' ')) AS n_tok,
       |    len($grams) AS n_gram, len(list_distinct($grams)) AS n_uniq
       |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w
       |        FROM documents)),
       |g1 AS (
       |  SELECT doc_id, text,
       |    CASE WHEN text IS NULL THEN NULL ELSE n_tok END AS n_tok,
       |    CASE WHEN text IS NULL THEN 'null_text'
       |         WHEN n_tok < 10 THEN 'too_short'
       |         WHEN n_tok > 2000 THEN 'too_long'
       |         WHEN (n_gram - n_uniq) * 10 > n_gram THEN 'repetitive'
       |    END AS pregate
       |  FROM m),
       |sp AS (
       |  SELECT pregate, n_tok,
       |    SUM(CASE WHEN pregate IS NULL THEN 1 END)
       |      OVER (PARTITION BY md5(text) ORDER BY doc_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS spos
       |  FROM g1),
       |fin AS (
       |  SELECT COALESCE(pregate,
       |      CASE WHEN spos = 1 THEN 'kept' ELSE 'duplicate' END) AS gate,
       |    CAST(COALESCE(n_tok, 0) AS BIGINT) AS tok
       |  FROM sp),
       |cnt AS (SELECT gate, count(*) AS n, CAST(sum(tok) AS BIGINT) AS tokd
       |        FROM fin GROUP BY 1),
       |tot AS (SELECT CAST(COALESCE(sum(n), 0) AS BIGINT) AS total,
       |               CAST(COALESCE(sum(tokd), 0) AS BIGINT) AS total_tok
       |        FROM cnt),
       |dr AS (SELECT gate, n, tokd FROM cnt WHERE gate <> 'kept'),
       |st AS (SELECT * FROM (VALUES ('null_text', 1), ('too_short', 2),
       |         ('too_long', 3), ('repetitive', 4), ('duplicate', 5))
       |       AS v(gate, stage)),
       |cur AS (
       |  SELECT st.stage, st.gate,
       |    COALESCE(dr.n, 0) AS n_drop, COALESCE(dr.tokd, 0) AS tok_drop,
       |    CAST(SUM(COALESCE(dr.n, 0)) OVER (ORDER BY st.stage
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_n,
       |    CAST(SUM(COALESCE(dr.tokd, 0)) OVER (ORDER BY st.stage
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tok
       |  FROM st LEFT JOIN dr ON dr.gate = st.gate)
       |SELECT stage, gate, n_drop, tok_drop,
       |  total - cum_n AS n_left, total_tok - cum_tok AS tok_left,
       |  CASE WHEN total > 0 THEN (total - cum_n) * 10000 // total END
       |    AS left_bp,
       |  CASE WHEN total - cum_n > 0 THEN total * 10000 // (total - cum_n) END
       |    AS cost_bp
       |FROM cur, tot ORDER BY stage""".stripMargin
  }) { (s, d) =>
    val fin = curationGatePerDoc(s, d)
      .select(col("gate"), coalesce(col("n_tok").cast("long"), lit(0L)).as("tok"))
    // ONE fact-scale aggregate: the ≤6-row per-gate grid; totals fold
    // from the grid, never from a second pass over the gated frame
    val cnt = fin.groupBy("gate").agg(count(lit(1)).as("n"), sum("tok").as("tokd"))
    val tot = cnt.agg(coalesce(sum("n"), lit(0L)).as("total"),
      coalesce(sum("tokd"), lit(0L)).as("total_tok"))
    val dr = cnt.filter(col("gate") =!= "kept")
    val stageDefs = Seq("null_text", "too_short", "too_long", "repetitive",
      "duplicate")
    val stages = s.range(1).select(explode(array(
      stageDefs.zipWithIndex.map { case (g, i) =>
        struct(lit(i + 1).as("stage"), lit(g).as("gate")) }: _*)).as("x"))
      .select(col("x.stage"), col("x.gate"))
    // cumulative window over the 5-row literal scaffold — bounded by
    // construction
    val byStage = Window.orderBy("stage")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cur = stages.join(broadcast(dr), Seq("gate"), "left")
      .na.fill(0L, Seq("n", "tokd"))
      .withColumn("cum_n", sum("n").over(byStage))
      .withColumn("cum_tok", sum("tokd").over(byStage))
    cur.crossJoin(broadcast(tot))
      .select(col("stage"), col("gate"), col("n").as("n_drop"),
        col("tokd").as("tok_drop"),
        (col("total") - col("cum_n")).as("n_left"),
        (col("total_tok") - col("cum_tok")).as("tok_left"),
        when(col("total") > 0,
          expr("(total - cum_n) * 10000 div total")).as("left_bp"),
        when(col("total") - col("cum_n") > 0,
          expr("total * 10000 div (total - cum_n)")).as("cost_bp"))
      .orderBy("stage")
  }

  val ops: Seq[Op] = Seq(sampleStratified, chunkSplit, textFilter, piiRedact,
    samplePerGroup, datasetSplit, curationPipeline, shardManifest,
    interleaveSources, corpusShuffle, sampleHash, featureScale, sampleBalance,
    sampleWeighted, rankNormalize, datasetKfold, rareCollapse, featureWinsorize,
    chunkMerge, sampleTemperature, curriculumOrder, curationReport, piiReport,
    curationCostCurve)
}
