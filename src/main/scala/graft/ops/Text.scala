package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text-analysis operators for the LLM-training-data pipeline (BASELINE
  * mandate): token counting, language-ID heuristic, quality scoring, and
  * winnowing document fingerprints — all over `documents`.
  *
  * Shared hash primitive: md5 → first 15 hex digits → BIGINT (60 bits).
  * md5 is identical everywhere, so Spark (`conv(substr(md5(x),1,15),16,10)`)
  * and DuckDB (`CAST('0x'||substr(md5(x),1,15) AS BIGINT)`) compute the SAME
  * integer hash — the whole pipeline is engine-portable and deterministic,
  * which is also what makes distributed runs reproducible at 100 TB (no
  * JVM-seeded hashing anywhere).
  *
  * Everything is Catalyst expressions (HOFs over split arrays) — no UDFs, no
  * shuffles except the final aggregates/sorts.
  */
object Text {

  /** 60-bit md5-derived hash of a string column (Spark side). */
  private[ops] def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")
  /** Same hash in DuckDB SQL. NULL-in → NULL-out like the Spark twin:
    * `||` propagates NULL, while DuckDB's concat() SKIPS NULL arguments —
    * concat('0x', md5(NULL)) would yield the string '0x' and blow up the
    * BIGINT cast (found by the NULL-fixture sweep, round 10). */
  private[ops] def h60Sql(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  private[ops] def words(c: Column): Column = split(c, " ")

  // --------------------------------------------------------------------
  // token_count — whitespace tokens + a BPE-ish regex token count
  // (letter-runs / single digits / single punctuation, the GPT-2-style
  // pre-tokenizer shape). Pure scan-stage map work at any scale.
  // --------------------------------------------------------------------
  private val bpeRe = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
  private val tokenCount = Op("token_count",
    s"""SELECT doc_id,
       |  len(string_split(text, ' ')) AS n_ws,
       |  len(regexp_extract_all(text, '$bpeRe')) AS n_bpe,
       |  n_chars
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    t(s, d, "documents").select(
        col("doc_id"),
        size(words(col("text"))).as("n_ws"),
        size(regexp_extract_all(col("text"), lit(bpeRe), lit(0))).as("n_bpe"),
        col("n_chars"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // lang_id — character-n-gram language heuristic (textcat-style): each
  // language has a profile of distinctive character trigrams (function-word
  // cores with their flanking spaces); a doc's score per language is the
  // total occurrence count of that profile's trigrams in the text, and the
  // highest score wins with a fixed preference order on ties.
  //
  // Occurrences are counted portably as (len(text) - len(replace(text, g,
  // ''))) / len(g) — plain string expressions, whole-stage codegen, no
  // HOFs — so Spark and DuckDB agree exactly. (The fixture text is
  // synthetic word soup, so the *prediction* is what it is — the contract
  // is that the heuristic is deterministic and identical on both engines.)
  // --------------------------------------------------------------------
  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" th", "he ", " an", "nd ", " of"),
    "de" -> Seq("der", "und", "ie ", "ch ", "ein"),
    "fr" -> Seq(" le", "es ", " de", "ait", "que"),
    "es" -> Seq(" el", " la", "os ", "ión", "ent"),
    "zh" -> Seq("的", "是", "在", "了", "我"),
  )

  /** The per-doc (doc_id, lang, pred_lang) prediction frame — shared by
    * lang_id and its evaluation op lang_id_eval, so the classifier the
    * eval measures is provably the classifier the pipeline runs. */
  /** The per-doc language-score stage — one s_<lang> occurrence-count
    * column per profile, all exact int64 string arithmetic. Shared by
    * lang_id / lang_id_eval (via [[langPredView]]) and code_switch, so
    * the mixing screen provably scores with the classifier's own
    * profiles. */
  private[graft] def langScores(
      docs: org.apache.spark.sql.DataFrame,
      extraCols: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    def occurrences(g: String): Column =
      (length(col("text")) - length(replace(col("text"), lit(g), lit("")))) / g.length
    langProfiles.foldLeft(
        exchange(docs.select("doc_id", ("lang" +: "text" +: extraCols): _*))) {
      case (df, (lang, gs)) =>
        df.withColumn(s"s_$lang",
          gs.map(occurrences).reduce(_ + _).cast("long"))
    }
  }

  /** First language (in profile order) whose score is >= every later
    * lang's score — the same fixed-preference CASE chain as the oracle. */
  private def langBestPred: Column =
    langProfiles.init.zipWithIndex.foldRight(
        lit(langProfiles.last._1): Column) { case (((lang, _), i), els) =>
      val cond = langProfiles.drop(i + 1)
        .map { case (l2, _) => col(s"s_$lang") >= col(s"s_$l2") }
        .reduce(_ && _)
      when(cond, lang).otherwise(els)
    }

  private[graft] def langPredView(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    langScores(docs).select(col("doc_id"), col("lang"), langBestPred.as("pred_lang"))

  /** The same prediction frame in DuckDB SQL (no final ORDER BY). */
  private val langPredSql: String = {
    val scoreSqls = langProfiles.map { case (lang, gs) =>
      val terms = gs.map { g =>
        val lit = g.replace("'", "''")
        s"(length(text) - length(replace(text, '$lit', ''))) // length('$lit')"
      }
      s"${terms.mkString(" + ")} AS s_$lang"
    }
    val caseSql = langProfiles.init.zipWithIndex.map { case ((lang, _), i) =>
      val later = langProfiles.drop(i + 1).map { case (l2, _) => s"s_$lang >= s_$l2" }
      s"WHEN ${later.mkString(" AND ")} THEN '$lang'"
    }.mkString(" ")
    s"""(SELECT doc_id, lang,
       |    CASE $caseSql ELSE '${langProfiles.last._1}' END AS pred_lang
       |  FROM (SELECT doc_id, lang, ${scoreSqls.mkString(", ")} FROM documents))"""
      .stripMargin
  }

  private val langId = Op("lang_id",
    s"""SELECT doc_id, lang, pred_lang FROM $langPredSql
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    langPredView(t(s, d, "documents")).orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // lang_id_eval — the classifier's own confusion matrix: (actual,
  // predicted) cells with counts and a correct flag, straight off the
  // SHARED prediction frame. Every heuristic gate in a curation pipeline
  // needs its measured error surface next to it (which languages bleed
  // into which) before anyone trusts its routing decisions; publishing
  // the eval as a first-class op keeps it recomputed on every corpus,
  // not a one-off notebook. NULL actual-lang docs form their own audited
  // cells (null-safe equality: a NULL actual is counted as incorrect,
  // not as NULL).
  //
  // Scale shape: the prediction frame is scan-stage; the confusion
  // matrix is ONE map-side-combined aggregate to ≤|langs|² rows.
  // --------------------------------------------------------------------
  private val langIdEval = Op("lang_id_eval",
    s"""SELECT lang, pred_lang, count(*) AS n,
       |  lang IS NOT DISTINCT FROM pred_lang AS correct
       |FROM $langPredSql
       |GROUP BY lang, pred_lang
       |ORDER BY lang, pred_lang""".stripMargin) { (s, d) =>
    langConfusionView(langConfusionGrid(t(s, d, "documents")))
  }

  // --------------------------------------------------------------------
  // code_switch — the code-switching / mixed-language screen over the
  // SHARED lang_id profile stage (langScores): a doc whose second-best
  // language profile scores close to its best is likely mixed-language
  // text (code-switching, boilerplate in a second language, embedded
  // quotes) — the docs a monolingual quality model mis-scores and a
  // per-language router mis-routes. Per doc: the predicted (best)
  // language, the runner-up language, both scores, the mix ratio in
  // integer bp (s_alt/(s_best+s_alt) — 0 for pure, →5000 for an even
  // mix), and the mixed flag (runner-up within 2× of the best, i.e.
  // mix_bp >= 3333, and nonzero). All exact int64 arithmetic over the
  // shared scores, so both engines agree bit-for-bit; runner-up selection
  // is scalar CASE logic (greatest over the non-predicted scores, ties
  // to profile order) — NOT a per-doc rank window, so the whole screen
  // stays scan-stage with zero shuffles at any corpus size. NULL-text
  // docs are excluded (nothing to screen — declared, the shingleStage
  // contract).
  // --------------------------------------------------------------------
  private val codeSwitch = Op("code_switch", {
    val langs = langProfiles.map(_._1)
    val scoreSqls = langProfiles.map { case (lang, gs) =>
      val terms = gs.map { g =>
        val lit = g.replace("'", "''")
        s"(length(text) - length(replace(text, '$lit', ''))) // length('$lit')"
      }
      s"${terms.mkString(" + ")} AS s_$lang"
    }
    val caseSql = langProfiles.init.zipWithIndex.map { case ((lang, _), i) =>
      val later = langProfiles.drop(i + 1).map { case (l2, _) => s"s_$lang >= s_$l2" }
      s"WHEN ${later.mkString(" AND ")} THEN '$lang'"
    }.mkString(" ")
    val maskedScores = langs.map(l =>
      s"CASE WHEN pred_lang = '$l' THEN -1 ELSE s_$l END")
    val altCase = langs.map(l =>
      s"WHEN pred_lang <> '$l' AND s_$l = s_alt THEN '$l'").mkString(" ")
    s"""WITH sc AS (
       |  SELECT doc_id, lang, ${langs.map(l => s"s_$l").mkString(", ")},
       |    CASE $caseSql ELSE '${langs.last}' END AS pred_lang
       |  FROM (SELECT doc_id, lang, ${scoreSqls.mkString(", ")}
       |        FROM documents WHERE text IS NOT NULL)),
       |b AS (
       |  SELECT doc_id, lang, pred_lang,
       |    greatest(${langs.map(l => s"s_$l").mkString(", ")}) AS s_best,
       |    greatest(${maskedScores.mkString(", ")}) AS s_alt,
       |    ${langs.map(l => s"s_$l").mkString(", ")}
       |  FROM sc)
       |SELECT doc_id, lang, pred_lang,
       |  CASE $altCase END AS alt_lang, s_best, s_alt,
       |  CASE WHEN s_best + s_alt > 0
       |       THEN s_alt * 10000 // (s_best + s_alt)
       |       ELSE CAST(0 AS BIGINT) END AS mix_bp,
       |  s_alt * 2 >= s_best AND s_alt > 0 AS mixed
       |FROM b ORDER BY doc_id""".stripMargin
  }) { (s, d) =>
    val langs = langProfiles.map(_._1)
    val scored = langScores(
        t(s, d, "documents").filter(col("text").isNotNull))
      .withColumn("pred_lang", langBestPred)
    val b = scored
      .withColumn("s_best", greatest(langs.map(l => col(s"s_$l")): _*))
      .withColumn("s_alt", greatest(langs.map(l =>
        when(col("pred_lang") === l, lit(-1L)).otherwise(col(s"s_$l"))): _*))
    val altLang = langs.foldRight(lit(null).cast("string")) { (l, els) =>
      when(col("pred_lang") =!= l && col(s"s_$l") === col("s_alt"), l)
        .otherwise(els)
    }
    b.select(col("doc_id"), col("lang"), col("pred_lang"),
        altLang.as("alt_lang"), col("s_best"), col("s_alt"),
        when(col("s_best") + col("s_alt") > 0,
          expr("s_alt * 10000 div (s_best + s_alt)"))
          .otherwise(lit(0L)).as("mix_bp"),
        (col("s_alt") * 2 >= col("s_best") && col("s_alt") > 0).as("mixed"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // lang_routing — the per-(source, pred_lang) routing matrix over the
  // SHARED langScores stage: when a curation pipeline routes each doc to
  // a per-language branch (tokenizer, quality model, dedup pool), this is
  // the table that says what each source actually feeds each branch —
  // docs routed, token volume, the share of the source going to that
  // lane, and how much of the lane is code_switch-flagged MIXED text (the
  // docs the monolingual branch will mis-handle; mixed uses code_switch's
  // own s_alt·2 ≥ s_best rule over the same masked runner-up, so the
  // router's risk column provably agrees with the mixing screen). All
  // exact int64; NULL-text docs are excluded (nothing to route — the
  // shared-stage contract code_switch declares); a NULL source is its own
  // audited lane (grouping value, never a join key).
  //
  // Scale shape: the score stage is scan-stage (the langScores exchange
  // barrier); the matrix is ONE map-side-combined aggregate to
  // ≤|sources|·|langs| cells; shares are grid-sized windows per source.
  // --------------------------------------------------------------------
  private val langRouting = Op("lang_routing", {
    val langs = langProfiles.map(_._1)
    val scoreSqls = langProfiles.map { case (lang, gs) =>
      val terms = gs.map { g =>
        val lit = g.replace("'", "''")
        s"(length(text) - length(replace(text, '$lit', ''))) // length('$lit')"
      }
      s"${terms.mkString(" + ")} AS s_$lang"
    }
    val caseSql = langProfiles.init.zipWithIndex.map { case ((lang, _), i) =>
      val later = langProfiles.drop(i + 1).map { case (l2, _) => s"s_$lang >= s_$l2" }
      s"WHEN ${later.mkString(" AND ")} THEN '$lang'"
    }.mkString(" ")
    val maskedScores = langs.map(l =>
      s"CASE WHEN pred_lang = '$l' THEN -1 ELSE s_$l END")
    s"""WITH sc AS (
       |  SELECT doc_id, source, n_tok, ${langs.map(l => s"s_$l").mkString(", ")},
       |    CASE $caseSql ELSE '${langs.last}' END AS pred_lang
       |  FROM (SELECT doc_id, source,
       |          len(string_split(text, ' ')) AS n_tok,
       |          ${scoreSqls.mkString(", ")}
       |        FROM documents WHERE text IS NOT NULL)),
       |b AS (
       |  SELECT source, pred_lang, n_tok,
       |    greatest(${maskedScores.mkString(", ")}) * 2
       |      >= greatest(${langs.map(l => s"s_$l").mkString(", ")})
       |      AND greatest(${maskedScores.mkString(", ")}) > 0 AS mixed
       |  FROM sc),
       |c AS (
       |  SELECT source, pred_lang, count(*) AS n,
       |    CAST(sum(n_tok) AS BIGINT) AS n_tok,
       |    CAST(COALESCE(sum(CASE WHEN mixed THEN 1 END), 0) AS BIGINT)
       |      AS n_mixed
       |  FROM b GROUP BY 1, 2)
       |SELECT source, pred_lang, n, n_tok, n_mixed,
       |  n * 10000 // CAST(sum(n) OVER (PARTITION BY source) AS BIGINT)
       |    AS share_bp,
       |  n_mixed * 10000 // n AS mixed_bp
       |FROM c ORDER BY source, pred_lang""".stripMargin
  }) { (s, d) =>
    routeView(routeGrid(t(s, d, "documents")))
  }

  /** The (source, pred_lang) routing-cell grid — lang_routing's only
    * doc-scale pass, shared with the streaming twin
    * ([[graft.streaming.Streams.route]]): cells are ALGEBRAIC counts
    * (docs, tokens, mixed-flagged docs), so a stream folds per-batch
    * partials in with a keyed SUM merge and [[routeView]] reproduces the
    * batch matrix at any batch cut — the per-language routing monitor
    * recomputed as the crawl streams in. Same doc-at-most-once caveat as
    * the other count folds. */
  private[graft] def routeGrid(docs: DataFrame): DataFrame = {
    val langs = langProfiles.map(_._1)
    val scored = langScores(docs.filter(col("text").isNotNull), Seq("source"))
      .withColumn("n_tok", size(words(col("text"))).cast("long"))
      .withColumn("pred_lang", langBestPred)
    val sAlt = greatest(langs.map(l =>
      when(col("pred_lang") === l, lit(-1L)).otherwise(col(s"s_$l"))): _*)
    val sBest = greatest(langs.map(l => col(s"s_$l")): _*)
    scored.select(col("source"), col("pred_lang"), col("n_tok"),
        (sAlt * 2 >= sBest && sAlt > 0).as("mixed"))
      .groupBy("source", "pred_lang")
      .agg(count(lit(1)).as("n"), sum("n_tok").as("n_tok"),
        coalesce(sum(when(col("mixed"), 1L)), lit(0L)).as("n_mixed"))
  }

  /** Shares + contract ordering over a completed routing grid
    * (≤|sources|·|langs| rows). */
  private[graft] def routeView(grid: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // per-source share over the grid — bounded window
    val bySrc = Window.partitionBy("source")
    grid.withColumn("src_n", sum("n").over(bySrc))
      .select(col("source"), col("pred_lang"), col("n"), col("n_tok"),
        col("n_mixed"),
        expr("n * 10000 div src_n").as("share_bp"),
        expr("n_mixed * 10000 div n").as("mixed_bp"))
      .orderBy("source", "pred_lang")
  }

  // --------------------------------------------------------------------
  // route_quality — the routing matrix crossed with the quality signal:
  // per (source, pred_lang) lane, how many docs, their MEAN composite
  // quality, and the low-quality share (< 0.5) in bp. lang_routing says
  // WHAT each source feeds each per-language branch; this says how GOOD
  // that lane is — the read that decides "route source X's German lane
  // to the cleanup pipeline, not the tokenizer". Both stages are the
  // shared house stages (langScores for the route, qualitySignals for
  // the signal), stacked in ONE scan-stage pass — the per-doc join a
  // naive composition would pay (doc-scale shuffle of both sides on
  // doc_id) never exists on the Spark side; the ORACLE spells it as the
  // join of the two factored subqueries, so the zero-join plan is
  // hash-verified against the join semantics it replaces. Mean quality
  // is exact: the composite carries ≤4 decimals by construction, so the
  // per-lane sum goes through DECIMAL(18,4) (order-free) and pays ONE
  // IEEE division at the end. NULL-text docs excluded (the shared-stage
  // contract).
  //
  // Scale shape: scan-stage scores+signals → ONE map-side-combined
  // aggregate to ≤|sources|·|langs| cells; no window, no join.
  // --------------------------------------------------------------------
  // lazy: the oracle string calls qualitySql, whose stopword list
  // initializes later in this object — eager init would read null
  private lazy val routeQuality = Op("route_quality",
    s"""WITH q AS (
       |  SELECT doc_id, source, quality
       |  FROM (${qualitySql("WHERE text IS NOT NULL")})),
       |p AS (SELECT doc_id, pred_lang FROM $langPredSql),
       |c AS (
       |  SELECT source, pred_lang, count(*) AS n,
       |    CAST(sum(CAST(quality AS DECIMAL(18,4))) AS DOUBLE) AS qsum,
       |    CAST(COALESCE(sum(CASE WHEN quality < 0.5 THEN 1 END), 0)
       |      AS BIGINT) AS n_low
       |  FROM q JOIN p USING (doc_id) GROUP BY 1, 2)
       |SELECT source, pred_lang, n, qsum / n AS avg_quality, n_low,
       |  n_low * 10000 // n AS low_bp
       |FROM c ORDER BY source, pred_lang""".stripMargin) { (s, d) =>
    val base = qualitySignals(
      langScores(t(s, d, "documents").filter(col("text").isNotNull),
        Seq("source", "n_chars"))
        .withColumn("pred_lang", langBestPred))
    base.groupBy("source", "pred_lang")
      .agg(count(lit(1)).as("n"),
        sum(col("quality").cast(DecimalType(18, 4))).as("qsum"),
        coalesce(sum(when(col("quality") < 0.5, 1L)), lit(0L)).as("n_low"))
      .select(col("source"), col("pred_lang"), col("n"),
        (col("qsum").cast("double") / col("n")).as("avg_quality"),
        col("n_low"), expr("n_low * 10000 div n").as("low_bp"))
      .orderBy("source", "pred_lang")
  }

  /** The (lang, pred_lang) count grid — lang_id_eval's only doc-scale
    * pass, shared with the streaming twin
    * ([[graft.streaming.Streams.lang]]): cells are ALGEBRAIC counts,
    * so a stream folds per-batch partials in with a keyed SUM merge and
    * [[langConfusionView]] reproduces the batch eval at any batch cut —
    * the classifier-quality monitor recomputed as documents arrive. */
  private[graft] def langConfusionGrid(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    langPredView(docs).groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))

  /** Flags + contract ordering over a completed grid (≤|langs|² rows). */
  private[graft] def langConfusionView(
      grid: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    grid.select(col("lang"), col("pred_lang"), col("n"),
        (col("lang") <=> col("pred_lang")).as("correct"))
      .orderBy("lang", "pred_lang")

  // --------------------------------------------------------------------
  // quality_score — classic pre-training quality signals: token count,
  // mean word length, punctuation ratio, stopword ratio, plus a composite
  // score in exact decimal arithmetic (bit-identical across engines).
  // --------------------------------------------------------------------
  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** The quality composite shared by quality_score (the per-doc signal
    * table) and curriculum_order (banding on the same signal): doc_id,
    * source + the four signals + the exact-decimal composite. Ratios are
    * IEEE double division of small exact ints — bit-identical across
    * engines (decimal division scales differ between Spark/DuckDB);
    * unused columns prune out of the scan per caller. */
  /** Adds the four quality signals + composite to ANY frame carrying
    * (text, n_chars) — the additive form lets route_quality stack the
    * signals onto the langScores stage in the same scan-stage pass
    * (zero joins) while qualityView keeps its original projection. */
  private[ops] def qualitySignals(df: DataFrame): DataFrame = {
    val ws = words(col("text"))
    df.withColumn("n_tok", size(ws))
      .withColumn("mean_wlen", col("n_chars").cast("double") / col("n_tok"))
      .withColumn("punct_ratio",
        size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9\\s]"), lit(0)))
          .cast("double") / col("n_tok"))
      .withColumn("stop_ratio",
        size(filter(ws, w => w.isin(stopwords: _*)))
          .cast("double") / col("n_tok"))
      .withColumn("quality",
        (lit(0.4).cast(DecimalType(8, 4)) * col("stop_ratio").cast(DecimalType(8, 4))
          + lit(0.3).cast(DecimalType(8, 4)) * when(col("n_tok").between(20, 1000), 1).otherwise(0)
          + lit(0.3).cast(DecimalType(8, 4)) * when(col("punct_ratio") <= 0.2, 1).otherwise(0))
          .cast("double"))
  }

  private[ops] def qualityView(docs: DataFrame): DataFrame =
    qualitySignals(docs.select("doc_id", "source", "text", "n_chars"))
      .select("doc_id", "source", "n_tok", "mean_wlen", "punct_ratio",
        "stop_ratio", "quality")

  /** Oracle twin of [[qualityView]] — a subquery string over `documents`
    * rows satisfying `where`. */
  private[ops] def qualitySql(where: String): String = {
    val inList = stopwords.map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id, source, n_tok, mean_wlen, punct_ratio, stop_ratio,
       |  CAST(CAST(0.4 AS DECIMAL(8,4)) * CAST(stop_ratio AS DECIMAL(8,4))
       |     + CAST(0.3 AS DECIMAL(8,4)) * (CASE WHEN n_tok BETWEEN 20 AND 1000 THEN 1 ELSE 0 END)
       |     + CAST(0.3 AS DECIMAL(8,4)) * (CASE WHEN punct_ratio <= 0.2 THEN 1 ELSE 0 END)
       |    AS DOUBLE) AS quality
       |FROM (
       |  SELECT doc_id, source,
       |    len(string_split(text, ' ')) AS n_tok,
       |    CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS mean_wlen,
       |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
       |         / len(string_split(text, ' ')) AS punct_ratio,
       |    CAST(len(list_filter(string_split(text, ' '), w -> w IN ($inList))) AS DOUBLE)
       |         / len(string_split(text, ' ')) AS stop_ratio
       |  FROM documents $where)""".stripMargin
  }

  private val qualityScore = Op("quality_score",
    s"""SELECT doc_id, n_tok, mean_wlen, punct_ratio, stop_ratio, quality
       |FROM (${qualitySql("")})
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    // r13: exchange-before-qualityView A/B'd worse (0.72 -> ~1.0 s) — the
    // ratio regexes are cheaper than the extra exchange. Left alone.
    qualityView(t(s, d, "documents"))
      .select("doc_id", "n_tok", "mean_wlen", "punct_ratio", "stop_ratio",
        "quality")
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // text_readability — Flesch reading ease + Flesch–Kincaid grade per
  // doc, the classic curation signal for audience-level bucketing (and
  // the standard "is this machine-generated sludge" heuristic next to
  // quality_score's ratios). Counts are exact integers (words = split
  // tokens, sentences = [.!?]+ runs clamped to ≥1, syllables ≈ vowel-group
  // runs — the standard regex proxy); the two formulas are then fixed
  // scalar IEEE trees over those exact ints with double literal
  // constants, so both engines agree bit-for-bit. NULL-text docs carry no
  // counts and are excluded (declared, as in curriculum_order).
  //
  // Scale shape: pure scan-stage regexp counting + arithmetic — zero
  // shuffles beyond the contract ORDER BY.
  // --------------------------------------------------------------------
  private val textReadability = Op("text_readability",
    """SELECT doc_id, n_words, n_sents, n_syll,
      |  CAST(206.835 AS DOUBLE)
      |    - CAST(1.015 AS DOUBLE) * (CAST(n_words AS DOUBLE) / n_sents)
      |    - CAST(84.6 AS DOUBLE) * (CAST(n_syll AS DOUBLE) / n_words) AS ease,
      |  CAST(0.39 AS DOUBLE) * (CAST(n_words AS DOUBLE) / n_sents)
      |    + CAST(11.8 AS DOUBLE) * (CAST(n_syll AS DOUBLE) / n_words)
      |    - CAST(15.59 AS DOUBLE) AS fk_grade,
      |  CASE WHEN CAST(206.835 AS DOUBLE)
      |    - CAST(1.015 AS DOUBLE) * (CAST(n_words AS DOUBLE) / n_sents)
      |    - CAST(84.6 AS DOUBLE) * (CAST(n_syll AS DOUBLE) / n_words)
      |      >= CAST(60 AS DOUBLE) THEN 'easy'
      |       WHEN CAST(206.835 AS DOUBLE)
      |    - CAST(1.015 AS DOUBLE) * (CAST(n_words AS DOUBLE) / n_sents)
      |    - CAST(84.6 AS DOUBLE) * (CAST(n_syll AS DOUBLE) / n_words)
      |      >= CAST(30 AS DOUBLE) THEN 'standard'
      |       ELSE 'hard' END AS band
      |FROM (
      |  SELECT doc_id,
      |    len(string_split(text, ' ')) AS n_words,
      |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sents,
      |    len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS n_syll
      |  FROM documents WHERE text IS NOT NULL)
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val counted = t(s, d, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(words(col("text"))).as("n_words"),
        greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))),
          lit(1)).as("n_sents"),
        size(regexp_extract_all(col("text"), lit("[aeiouyAEIOUY]+"), lit(0)))
          .as("n_syll"))
    val wps = col("n_words").cast("double") / col("n_sents")
    val spw = col("n_syll").cast("double") / col("n_words")
    val ease = lit(206.835) - lit(1.015) * wps - lit(84.6) * spw
    counted.select(col("doc_id"), col("n_words"), col("n_sents"), col("n_syll"),
        ease.as("ease"),
        (lit(0.39) * wps + lit(11.8) * spw - lit(15.59)).as("fk_grade"),
        when(ease >= 60d, "easy").when(ease >= 30d, "standard")
          .otherwise("hard").as("band"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // doc_fingerprint — winnowing (Schleimer/Wilkerson/Aiken): hash every
  // 3-word shingle, slide a window of 4 hashes, keep each window's min,
  // emit the distinct fingerprint set.
  //
  // The sliding min is RELATIONAL — posexplode the hash array once, then
  // `min(h) OVER (PARTITION BY doc ORDER BY pos ROWS 3 FOLLOWING)` — not an
  // array-HOF per window: a `transform(seq, i -> min(slice(hs, i, 4)))`
  // formulation gets the hs expression re-inlined per WINDOW by projection
  // collapse (O(len²) hashing per doc, measured 40× slower), while the
  // window form hashes once per shingle and scales as one doc-keyed
  // shuffle.
  // --------------------------------------------------------------------
  private val docFingerprint = Op("doc_fingerprint", {
    val shingle = "array_to_string(list_slice(w, i+1, i+3), ' ')"
    s"""WITH hashed AS (
       |  SELECT doc_id,
       |    list_transform(range(0, greatest(len(w) - 2, 1)),
       |                   i -> ${h60Sql(shingle)}) AS hs
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
       |fp AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(0, greatest(len(hs) - 3, 1)),
       |                  i -> list_min(list_slice(hs, i+1, i+4)))) AS fps
       |  FROM hashed)
       |SELECT doc_id, unnest(fps) AS fp FROM fp
       |ORDER BY doc_id, fp""".stripMargin
  }) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // exchange the raw text, split above it (r13): the split used to run in
    // the one-file scan's single task AND the exchange carried the split
    // arrays instead of the smaller raw text
    val docs = exchange(t(s, d, "documents")
      .select(col("doc_id"), col("text")))
      .select(col("doc_id"), words(col("text")).as("w"))
    // fully relational: explode words, build each 3-word shingle with lead()
    // (concat_ws skips the nulls past the tail, matching the oracle's
    // clamped list_slice on degenerate short docs), hash on the flat column
    // — md5 stays in whole-stage codegen instead of an interpreted HOF.
    val wOrd = Window.partitionBy("doc_id").orderBy("pos")
    val exploded = docs.select(
        col("doc_id"), size(col("w")).as("nw"),
        posexplode(col("w")).as(Seq("pos", "word")))
      .withColumn("shingle",
        concat_ws(" ", col("word"), lead("word", 1).over(wOrd),
          lead("word", 2).over(wOrd)))
      .filter(col("pos") < greatest(col("nw") - 2, lit(1)))
      .select(col("doc_id"), col("pos"),
        greatest(col("nw") - 2, lit(1)).as("m"), h60(col("shingle")).as("h"))
    val winMin = wOrd.rowsBetween(Window.currentRow, 3)
    exploded
      .withColumn("fp", min(col("h")).over(winMin))
      .filter(col("pos") < greatest(col("m") - 3, lit(1)))
      .select("doc_id", "fp").distinct()
      .orderBy("doc_id", "fp")
  }

  // --------------------------------------------------------------------
  // text_normalize — the canonicalization step before hashing/dedup:
  // lowercase, strip non-alphanumerics to spaces, collapse whitespace,
  // trim. Pure scan-stage string expressions; emitting the normalized
  // text's hash keeps the verified output narrow.
  // --------------------------------------------------------------------
  private val textNormalize = Op("text_normalize",
    """SELECT doc_id,
      |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
      |                          ' +', ' ', 'g'))) AS norm_hash,
      |  length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
      |                             ' +', ' ', 'g'))) AS norm_len
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    t(s, d, "documents")
      .select(col("doc_id"), md5(norm).as("norm_hash"), length(norm).as("norm_len"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // text_diversity — lexical-diversity quality signals per doc: type-token
  // ratio and the repeat probability (the Simpson-index complement — the
  // chance two token draws without replacement are the SAME type), both
  // in exact integer/decimal arithmetic so every engine and partition
  // count agrees bit-for-bit (entropy's ln() would not). High rep_p or
  // low TTR flags template/boilerplate docs that repetition_filter's
  // run-length view misses (scattered repeats, not runs).
  //
  // Scale shape: explode → two hash aggregates with map-side combine,
  // keyed (doc_id, token) then doc_id — linear, no HOF quadratic in doc
  // length (counting each distinct token via filter() would be O(u·n)
  // per doc in the scan stage).
  // --------------------------------------------------------------------
  private val textDiversity = Op("text_diversity",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |  FROM documents WHERE text IS NOT NULL),
      |cnt AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
      |st AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
      |    CAST(COUNT(*) AS BIGINT) AS n_types,
      |    CAST(SUM(c * (c - 1)) AS BIGINT) AS rep2
      |  FROM cnt GROUP BY 1)
      |SELECT doc_id, n_tok, n_types,
      |  CAST(CAST(n_types AS DECIMAL(18,9)) / n_tok AS DOUBLE) AS ttr,
      |  CAST(CAST(rep2 AS DECIMAL(18,9)) / nullif(n_tok * (n_tok - 1), 0) AS DOUBLE)
      |    AS rep_p
      |FROM st ORDER BY doc_id""".stripMargin) { (s, d) =>
    t(s, d, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum(col("c")).as("n_tok"),
        count(lit(1)).as("n_types"),
        sum(col("c") * (col("c") - 1)).as("rep2"))
      .select(col("doc_id"), col("n_tok"), col("n_types"),
        (col("n_types").cast(DecimalType(18, 9)) / col("n_tok"))
          .cast("double").as("ttr"),
        (col("rep2").cast(DecimalType(18, 9))
          / nullif(col("n_tok") * (col("n_tok") - 1), lit(0)))
          .cast("double").as("rep_p"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // text_ngram_freq — corpus-wide bigram frequencies, top 50: vocabulary /
  // collocation analysis over the whole corpus (the frequency table behind
  // tokenizer training and contamination checks). One generator per doc +
  // one hash aggregate with map-side combine; the top-k is
  // TakeOrderedAndProject, so at 100 TB only |distinct grams| rows shuffle
  // and only k×partitions rows reach the driver.
  // --------------------------------------------------------------------
  private val ngramFreq = Op("text_ngram_freq",
    """WITH grams AS (
      |  SELECT unnest(list_transform(
      |    range(0, greatest(len(string_split(text, ' ')) - 1, 1)),
      |    i -> array_to_string(list_slice(string_split(text, ' '), i+1, i+2), ' '))) AS gram
      |  FROM documents WHERE text IS NOT NULL)
      |SELECT gram, COUNT(*) AS n FROM grams
      |GROUP BY gram ORDER BY n DESC, gram LIMIT 50""".stripMargin) { (s, d) =>
    val w = words(col("text"))
    // exchange: the one-file documents scan is ONE task, so the per-doc
    // tokenize+gram generator ran single-core (measured r13: 1.3 s of the
    // op's 1.5 s in that task). Shuffle the raw text rows (narrow), expand
    // post-shuffle — the Dedup-module pattern (guide §2.5).
    exchange(t(s, d, "documents")
      // NULL text filtered on BOTH sides: Spark's concat_ws would count a
      // null doc's gram as "" while DuckDB's array_to_string yields NULL —
      // excluding null docs keeps the engines symmetric
      .filter(col("text").isNotNull)
      .select("text"))
      .select(explode(transform(
        sequence(lit(0), greatest(size(w) - 1, lit(1)) - 1),
        i => concat_ws(" ", slice(w, i + 1, lit(2))))).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram").asc)
      .limit(50)
  }

  // --------------------------------------------------------------------
  // vocab_topk — corpus vocabulary with term AND document frequency, top
  // 100: the table behind tokenizer vocab selection and idf weighting
  // (text_ngram_freq is the collocation twin; this one adds df, the
  // distinct-doc count a BM25/idf computation needs). One generator per
  // doc, then ONE hash aggregate keyed on the word computing both counts
  // — df needs no count(DISTINCT) shuffle because each word is emitted
  // once per doc via the per-row array_distinct (scan-stage, narrow).
  // Map-side combine + TakeOrderedAndProject: at 100 TB only |vocab| rows
  // shuffle and only k×partitions rows reach the driver.
  // --------------------------------------------------------------------
  /** The (w, n, df) vocabulary grid — vocab_topk's only corpus-scale
    * pass, shared with the streaming twin
    * ([[graft.streaming.Streams.vtopk]]): term frequency is an
    * ALGEBRAIC count, and df is too BECAUSE each document arrives exactly
    * once — its 0/1 per-word df contribution is batch-local (the per-row
    * array_distinct), so a keyed SUM merge folds per-batch partials with
    * no count(DISTINCT) over history. Vocab-bounded state, not
    * stream-bounded — the trade documented at
    * [[graft.streaming.Streams.hh]]. */
  private[graft] def vocabTfGrid(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val d = docs.filter(col("text").isNotNull)
    val tf = d.select(explode(words(col("text"))).as("w"), lit(0).as("in_df"))
    val df = d.select(explode(array_distinct(words(col("text")))).as("w"),
      lit(1).as("in_df"))
    tf.unionByName(df)
      .groupBy("w")
      .agg(count(when(col("in_df") === 0, 1)).as("n"),
        count(when(col("in_df") === 1, 1)).as("df"))
  }

  /** Top-100 ranking over a completed vocabulary grid (vocab-sized
    * input; TakeOrderedAndProject — only k×partitions rows move). */
  private[graft] def vocabTopView(
      grid: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    grid.orderBy(col("n").desc, col("w").asc).limit(100)

  private val vocabTopk = Op("vocab_topk",
    """WITH tf AS (
      |  SELECT unnest(string_split(text, ' ')) AS w, 0 AS in_df
      |  FROM documents WHERE text IS NOT NULL
      |  UNION ALL
      |  SELECT unnest(list_distinct(string_split(text, ' '))) AS w, 1 AS in_df
      |  FROM documents WHERE text IS NOT NULL)
      |SELECT w, count(*) FILTER (in_df = 0) AS n, count(*) FILTER (in_df = 1) AS df
      |FROM tf GROUP BY w
      |ORDER BY n DESC, w LIMIT 100""".stripMargin) { (s, d) =>
    vocabTopView(vocabTfGrid(t(s, d, "documents")))
  }

  // --------------------------------------------------------------------
  // lm_score — corpus-self-trained bigram language-model scoring, the
  // CCNet-style "perplexity filter" stage of a curation pipeline: train a
  // bigram model ON the corpus (C(w1,w2) and the bigram-start marginal
  // C1(w1) — self-consistent: Σ_w2 C(w1,w2) = C1(w1)), then grade each
  // document by how well the model predicts it. Scores stay INTEGER-exact
  // so both engines agree bit-for-bit: instead of summing float log-probs
  // (libm `log` is not guaranteed identical across engines, and float
  // summation is order-dependent), each bigram is bucketed by the exact
  // rational test P(w2|w1) = c2/c1 ≥ 1/8 ⇔ 8·c2 ≥ c1, and a doc's score
  // is the well-predicted fraction (one int division at the end —
  // identical IEEE doubles everywhere). n_unique (corpus-hapax bigrams)
  // is the rare-n-gram signal quality heuristics threshold on.
  //
  // Scale: model building is two map-side-combining hash aggregates whose
  // outputs are VOCABULARY-bounded, not corpus-bounded; scoring is two
  // equi-joins on token/bigram keys (broadcastable when the vocab is
  // small, plain shuffled hash joins when it is not) and one per-doc
  // aggregate. Nothing quadratic, nothing driver-side. Docs with fewer
  // than two tokens have no bigrams and are excluded by contract.
  // --------------------------------------------------------------------
  private val lmScore = Op("lm_score",
    """WITH bgs AS (
      |  SELECT doc_id, unnest(list_transform(
      |    range(0, len(string_split(text, ' ')) - 1),
      |    i -> array_to_string(list_slice(string_split(text, ' '), i+1, i+2), ' '))) AS bg
      |  FROM documents
      |  WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2),
      |model AS (SELECT bg, COUNT(*) AS c2 FROM bgs GROUP BY bg),
      |uni AS (SELECT split_part(bg, ' ', 1) AS w1, COUNT(*) AS c1
      |        FROM bgs GROUP BY 1)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  COUNT(*) FILTER (c2 = 1) AS n_unique,
      |  COUNT(*) FILTER (8 * c2 >= c1) AS n_predicted,
      |  CAST(COUNT(*) FILTER (8 * c2 >= c1) AS DOUBLE) / COUNT(*) AS score
      |FROM bgs JOIN model USING (bg)
      |JOIN uni ON split_part(bgs.bg, ' ', 1) = uni.w1
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    // r13 note: both share-barriers over the bigram stream (outer
    // round-robin exchange: 1.16 → 2.22 s; localCheckpoint: → 1.6-1.8 s)
    // A/B'd WORSE than letting the three consumers (model, uni, scoring
    // join) recompute the tokenize+explode — materializing a token-scale
    // stream costs more than three recomputes. Left as-is.
    val bgs = t(s, d, "documents")
      .filter(col("text").isNotNull && size(words(col("text"))) >= 2)
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("w")) - 2),
          i => concat_ws(" ", slice(col("w"), i + 1, lit(2))))).as("bg"))
    val model = bgs.groupBy("bg").agg(count(lit(1)).as("c2"))
    val uni = bgs.select(substring_index(col("bg"), " ", 1).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    bgs.join(model, "bg")
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(uni, "w1")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        count_if(col("c2") === 1).as("n_unique"),
        count_if(col("c2") * 8 >= col("c1")).as("n_predicted"))
      .select(col("doc_id"), col("n_bigrams"), col("n_unique"), col("n_predicted"),
        (col("n_predicted").cast("double") / col("n_bigrams")).as("score"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // tf_idf — per-document distinctive terms: top-3 terms ranked by
  // tf · (N/df), the tf-idf family's RAW-ratio member. The usual
  // log-idf is deliberately avoided: libm `log` is not bit-identical
  // across engines, while here every score is one IEEE division of two
  // exact integers (tf·N and df, both far below 2^53) — division is
  // correctly rounded by the standard, so both engines produce the same
  // bits and the same ranking. (For the single-term question "how rare
  // is w", N/df and log(N/df) rank identically; only cross-term products
  // differ, and the raw ratio is the documented contract.)
  //
  // Scale: tf is one (doc_id, term)-keyed hash agg with map-side combine;
  // df is a vocabulary-bounded agg reusing vocab_topk's one-pass shape;
  // the tf⋈df join keys on the term (broadcastable for bounded vocabs);
  // N joins as a 1-row scalar broadcast (declared in PlanAuditSpec).
  // The final top-3 window partitions by doc_id — fully parallel.
  // --------------------------------------------------------------------
  private val tfIdf = Op("tf_idf",
    """WITH docs AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
      |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM docs),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
      |df AS (SELECT term, COUNT(*) AS df
      |       FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY term),
      |n AS (SELECT COUNT(*) AS n_docs FROM docs)
      |SELECT doc_id, term, tf, df, score, rank FROM (
      |  SELECT doc_id, term, tf, df,
      |    CAST(tf * n_docs AS DOUBLE) / df AS score,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY CAST(tf * n_docs AS DOUBLE) / df DESC, term) AS rank
      |  FROM tf JOIN df USING (term) CROSS JOIN n)
      |WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, d, "documents").filter(col("text").isNotNull)
    val tok = docs.select(col("doc_id"), explode(words(col("text"))).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = docs
      .select(explode(array_distinct(words(col("text")))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term").asc)
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("doc_id", "term", "tf", "df", "score", "rank")
      .orderBy("doc_id", "rank")
  }

  // --------------------------------------------------------------------
  // text_cooccur — skip-gram co-occurrence counts (window +1..+2, the
  // word2vec/PMI statistic): top 50 directed word pairs by corpus count.
  //
  // Scale shape: pair generation is PURE scan-stage HOF work — two
  // slice+zip_with passes emit each position's (w, w+1) and (w, w+2)
  // pairs with NO positional self-join (the SQL-textbook formulation
  // joins the corpus to itself on doc_id and position delta, which at
  // 100 TB shuffles every token twice; this shuffles nothing until the
  // pair counts aggregate, map-side-combined). Top-50 is
  // TakeOrderedAndProject with (cnt, w1, w2) total order.
  // --------------------------------------------------------------------
  private val textCooccur = Op("text_cooccur",
    """WITH w AS (
      |  SELECT string_split(text, ' ') AS ws FROM documents WHERE text IS NOT NULL),
      |p1 AS (SELECT unnest(list_zip(list_slice(ws, 1, len(ws) - 1),
      |                              list_slice(ws, 2, len(ws)))) AS z FROM w),
      |p2 AS (SELECT unnest(list_zip(list_slice(ws, 1, greatest(len(ws) - 2, 0)),
      |                              list_slice(ws, 3, len(ws)))) AS z FROM w),
      |p AS (SELECT z FROM p1 UNION ALL SELECT z FROM p2)
      |SELECT z[1] AS w1, z[2] AS w2, count(*) AS cnt
      |FROM p GROUP BY 1, 2
      |ORDER BY cnt DESC, w1, w2 LIMIT 50""".stripMargin) { (s, d) =>
    val ws = words(col("text"))
    // positions i and i+off, zipped: both slices have max(len-off, 0)
    // elements, so no null padding ever enters the pair stream
    def pairs(off: Int): Column =
      zip_with(
        slice(ws, lit(1), greatest(size(ws) - off, lit(0))),
        slice(ws, lit(1 + off), greatest(size(ws) - off, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))
    t(s, d, "documents").filter(col("text").isNotNull)
      .select(explode(concat(pairs(1), pairs(2))).as("z"))
      .groupBy(col("z.w1").as("w1"), col("z.w2").as("w2"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w1").asc, col("w2").asc)
      .limit(50)
  }

  // --------------------------------------------------------------------
  // oov_rate — out-of-vocabulary rate per document against the corpus's
  // own top-K term-frequency vocabulary: the coverage statistic that
  // decides tokenizer vocab size and flags domain-mismatched docs. K is
  // a config knob; 16 here because the fixture's whole vocabulary is 31
  // words (a production corpus would use 32k-class sizes) — what matters
  // is the SHAPE, and that the OOV mass is real (CurateSpec asserts it).
  // OOV counting is int-exact; the rate is one IEEE divide of exact ints.
  // Scale: the vocab is a TakeOrderedAndProject top-k (per-partition
  // heaps — |vocab| rows shuffle, never the token stream) broadcast
  // back over the per-doc token explode; one (doc, in-vocab) aggregate
  // with map-side combine. Never a window, never a token-keyed shuffle.
  // --------------------------------------------------------------------
  private val oovRate = Op("oov_rate",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |  FROM documents WHERE text IS NOT NULL),
      |vocab AS (
      |  SELECT w FROM tok GROUP BY w
      |  ORDER BY COUNT(*) DESC, w LIMIT 16)
      |SELECT t.doc_id, COUNT(*) AS n_tokens,
      |  COUNT(*) FILTER (v.w IS NULL) AS n_oov,
      |  CAST(COUNT(*) FILTER (v.w IS NULL) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS oov_rate
      |FROM tok t LEFT JOIN vocab v ON t.w = v.w
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin) { (s, d) =>
    val tok = t(s, d, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
    val vocab = tok.groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w").asc).limit(16)
      .select(col("w").as("vw"))
    tok.join(broadcast(vocab), col("w") === col("vw"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("vw").isNull, 1)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens").cast("double")).as("oov_rate"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // corpus_gini — source-diversity per language: Gini impurity and the
  // effective source count (1/Σ share²) of the per-language source
  // distribution — the mixture-health metric behind "is this slice all
  // one crawl?" curation checks. Entropy's ln() is a cross-engine libm
  // hazard (the tf_idf/lm_score lesson); Gini needs only Σc² — kept
  // EXACT in DECIMAL(38,0) (int64 c² overflows once a source holds >3B
  // docs) — and one final IEEE divide of exactly-agreed decimals.
  // Scale: two map-side-combinable hash aggregates, |langs × sources|
  // then |langs| rows; nothing else moves.
  // --------------------------------------------------------------------
  private val corpusGini = Op("corpus_gini",
    """WITH cs AS (
      |  SELECT lang, source, COUNT(*) AS c FROM documents GROUP BY 1, 2),
      |g AS (
      |  SELECT lang, CAST(SUM(c) AS BIGINT) AS t,
      |    COUNT(*) AS n_sources,
      |    SUM(CAST(c AS DECIMAL(38,0)) * c) AS sq
      |  FROM cs GROUP BY lang)
      |SELECT lang, t AS n_docs, n_sources,
      |  (CAST(t AS DOUBLE) * CAST(t AS DOUBLE) - CAST(sq AS DOUBLE))
      |    / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)) AS gini,
      |  CAST(t AS DOUBLE) * CAST(t AS DOUBLE) / CAST(sq AS DOUBLE) AS effective_sources
      |FROM g ORDER BY lang""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types.DecimalType
    // t and sq are EXACT aggregates (int64 / decimal); the ratio is then a
    // fixed dag of IEEE ops on exactly-agreed operands — identical bits on
    // both engines regardless of magnitude (t² in double rounds, but
    // IDENTICALLY). Multiplying the decimals instead would trip DECIMAL(38)
    // precision rules that differ by engine.
    val cs = t(s, d, "documents")
      .groupBy("lang", "source").agg(count(lit(1)).as("c"))
    val td = col("t").cast("double")
    cs.groupBy("lang")
      .agg(sum("c").cast("long").as("t"),
        count(lit(1)).as("n_sources"),
        sum(col("c").cast(DecimalType(38, 0)) * col("c")).as("sq"))
      .select(col("lang"), col("t").as("n_docs"), col("n_sources"),
        ((td * td - col("sq").cast("double")) / (td * td)).as("gini"),
        (td * td / col("sq").cast("double")).as("effective_sources"))
      .orderBy("lang")
  }

  // --------------------------------------------------------------------
  // feature_hash — the hashing trick: fixed-width token-count features
  // per document (bucket = salted 60-bit hash of the token mod 16) with
  // NO vocabulary pass — the classic Vowpal-Wabbit / scikit
  // HashingVectorizer feature stage, and the only vectorizer that works
  // single-pass on an unbounded vocabulary at 100 TB (tf_idf/vocab_topk
  // are its two-pass vocabulary-holding cousins). 16 buckets here to
  // match the fixture's 31-word vocabulary; production uses 2^18+. The
  // bucket counters are plain conditional counts inside ONE map-side-
  // combining hash aggregate — no explode-shuffle, no pivot, and the
  // engine-portable md5 bucket assignment makes features reproducible
  // across engines/partitionings/retries.
  // --------------------------------------------------------------------
  private val featureHash = {
    val fCols = (0 until 16).map(b => s"COUNT(*) FILTER (b = $b) AS f$b").mkString(",\n      |  ")
    Op("feature_hash",
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |  FROM documents WHERE text IS NOT NULL),
         |b AS (SELECT doc_id, ${h60Sql("concat('fh:', w)")} % 16 AS b FROM tok)
         |SELECT doc_id,
         |  $fCols
         |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val aggs = (0 until 16).map(b => count(when(col("b") === b, 1)).as(s"f$b"))
      t(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), explode(words(col("text"))).as("w"))
        .select(col("doc_id"), (h60(concat(lit("fh:"), col("w"))) % 16).as("b"))
        .groupBy("doc_id")
        .agg(aggs.head, aggs.tail: _*)
        .orderBy("doc_id")
    }
  }

  // --------------------------------------------------------------------
  // heavy_hitters — count-min-sketch heavy hitters over the token stream:
  // D=4 hash rows × W=1024 buckets (md5-derived bucket hashes, engine-
  // identical), estimate(token) = min over rows of its bucket's count,
  // top-20 tokens by ESTIMATE with the exact count alongside so the
  // sketch's one-sided error (est ≥ exact, overcount bounded by colliding
  // mass) is auditable in the output.
  //
  // Why a sketch when vocab_topk already counts exactly: the SKETCH is
  // the scale path — its state is 4×1024 cells regardless of corpus size,
  // the cells are mergeable partials (counts sum across shards/streams),
  // and at 100 TB the candidate set comes from a sample while the cell
  // build stays one map-combined pass. Here candidates are the exact
  // vocabulary, which doubles as the overcount audit.
  //
  // Plan shape: cells aggregate to ≤4096 rows and BROADCAST into the
  // probe join; the only token-scale shuffles are the cell build and the
  // candidate count — both map-side combined. (The probe rows are a pure
  // function of the candidate tokens, so no separate keys-distinct pass
  // exists — see hhView.)
  // --------------------------------------------------------------------
  private val CmsD = 4
  private val CmsW = 1024

  /** The corpus token stream (round-robin exchanged — see ops.exchange). */
  private def hhTokens(docs: org.apache.spark.sql.DataFrame) =
    graft.ops.exchange(docs.filter(col("text").isNotNull)
      .select(explode(words(col("text"))).as("tok")))

  private def hhBucket(dc: Column, tc: Column): Column =
    h60(concat(dc.cast("string"), lit(":"), tc)) % CmsW

  /** The 4×1024 count-min cell grid — the op's bounded sketch state,
    * shared with the streaming twin ([[graft.streaming.Streams.hh]]):
    * cells are ALGEBRAIC counts, so a stream folds per-batch partials in
    * with a keyed SUM merge; the grid never exceeds CmsD·CmsW rows no
    * matter the corpus. */
  private[graft] def hhCells(docs: org.apache.spark.sql.DataFrame) =
    hhTokens(docs)
      .select(col("tok"), explode(sequence(lit(0), lit(CmsD - 1))).as("d"))
      .groupBy(col("d"), hhBucket(col("d"), col("tok")).as("bucket"))
      .agg(count(lit(1)).as("cn"))

  /** Exact per-token counts (the overcount-audit side) — also algebraic,
    * also shared with the twin; vocab-bounded (not stream-bounded), which
    * is the documented trade of carrying the audit next to the sketch. */
  private[graft] def hhCand(docs: org.apache.spark.sql.DataFrame) =
    hhTokens(docs).groupBy("tok").agg(count(lit(1)).as("exact_n"))

  /** Estimate + rank over completed cells/cand state: each candidate's
    * bucket row is a PURE FUNCTION of the token (recomputed here, not
    * stored), so no (tok,d,bucket) keys table — and no third token-scale
    * shuffle — is ever materialized. */
  private[graft] def hhView(cells: org.apache.spark.sql.DataFrame,
      cand: org.apache.spark.sql.DataFrame) = {
    val probes = cand
      .select(col("tok"), col("exact_n"),
        explode(sequence(lit(0), lit(CmsD - 1))).as("d"))
      .withColumn("bucket", hhBucket(col("d"), col("tok")))
    probes.join(broadcast(cells), Seq("d", "bucket"))
      .groupBy("tok", "exact_n").agg(min("cn").as("est_n"))
      .select(col("tok"), col("est_n"), col("exact_n"),
        (col("est_n") - col("exact_n")).as("overcount"))
      .orderBy(col("est_n").desc, col("tok").asc)
      .limit(20)
  }

  private val heavyHitters = Op("heavy_hitters", {
    def bucketSql(d: String, tok: String) =
      s"${h60Sql(s"CAST($d AS VARCHAR) || ':' || $tok")} % $CmsW"
    s"""WITH tok AS (
       |  SELECT unnest(string_split(text, ' ')) AS tok
       |  FROM documents WHERE text IS NOT NULL),
       |hashed AS (
       |  SELECT tok, d, ${bucketSql("d", "tok")} AS bucket
       |  FROM tok, (SELECT unnest(range(0, $CmsD)) AS d)),
       |cells AS (SELECT d, bucket, count(*) AS cn FROM hashed GROUP BY 1, 2),
       |keys AS (SELECT DISTINCT tok, d, bucket FROM hashed),
       |est AS (
       |  SELECT k.tok, min(ce.cn) AS est_n
       |  FROM keys k JOIN cells ce ON ce.d = k.d AND ce.bucket = k.bucket
       |  GROUP BY 1),
       |cand AS (SELECT tok, count(*) AS exact_n FROM tok GROUP BY 1)
       |SELECT e.tok, e.est_n, c.exact_n, e.est_n - c.exact_n AS overcount
       |FROM est e JOIN cand c ON e.tok = c.tok
       |ORDER BY est_n DESC, e.tok LIMIT 20""".stripMargin
  }) { (s, d) =>
    val docs = t(s, d, "documents")
    hhView(hhCells(docs), hhCand(docs))
  }

  // --------------------------------------------------------------------
  // bpe_pair_counts — adjacent-token-pair frequencies, the inner loop of
  // BPE/WordPiece tokenizer training: each merge round picks the corpus's
  // most frequent adjacent pair. One round over word-level units, top-100
  // merge candidates with deterministic (count DESC, pair ASC) ranking.
  //
  // Plan shape: pair generation is SCAN-STAGE (zip_with over two slices of
  // the split array — no positional self-join, the same discipline as
  // text_cooccur), the count is one map-side-combined aggregate keyed by
  // pair, and the top-100 is TakeOrderedAndProject (no global sort). At
  // 100 TB this is exactly the shape real BPE trainers shard: per-split
  // partial pair counts merged once.
  //
  // zip_with over slice(l,1,n-1) × slice(l,2,n-1), NOT transform over
  // sequence(0, n-2): Spark's sequence(0, -1) yields [0,-1] (descending
  // step inference) for 1-token docs, fabricating a phantom pair; the
  // two-slice form degrades to empty arrays for n ≤ 1 on both engines.
  // --------------------------------------------------------------------
  private val bpePairCounts = Op("bpe_pair_counts",
    s"""WITH toks AS (
       |  SELECT string_split(text, ' ') AS l
       |  FROM documents WHERE text IS NOT NULL),
       |pairs AS (
       |  SELECT unnest(list_transform(generate_series(1, len(l) - 1),
       |                               i -> l[i] || ' ' || l[i + 1])) AS pair
       |  FROM toks WHERE len(l) >= 2)
       |SELECT pair, count(*) AS n FROM pairs
       |GROUP BY pair ORDER BY n DESC, pair LIMIT 100""".stripMargin) { (s, d) =>
    val l = words(col("text"))
    val pairs = zip_with(
      slice(l, lit(1), size(l) - 1), slice(l, lit(2), size(l) - 1),
      (a, b) => concat(a, lit(" "), b))
    // exchange BEFORE the explode: the round-robin shuffle moves doc text
    // (scan-sized), not the ~token-count pair stream the explode emits
    exchange(t(s, d, "documents").filter(col("text").isNotNull)
      .select(col("text")))
      .select(explode(pairs).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(100)
  }

  // --------------------------------------------------------------------
  // ngram_novelty — per-doc novelty share: the fraction of a document's
  // DISTINCT word-trigrams whose global FIRST occurrence (min doc_id) is
  // this document. The memorization/curation metric behind "how much of
  // this shard is new text vs restatement of earlier shards" — near-dup
  // docs score ~0, genuinely new text ~10000 bp. Docs with <3 words have
  // no trigrams and are absent by contract.
  //
  // Plan shape: trigram shingles are RELATIONAL (posexplode + lead over
  // the doc-keyed window — the doc_fingerprint lesson: a transform() HOF
  // re-inlines the hash per reference, measured 40× slower), one distinct
  // per (doc, h), then first_doc = min(doc_id) OVER (PARTITION BY h) — a
  // WINDOW, not a groupBy+self-join, which both saves a join and dodges
  // the DataFrame self-join misresolution hazard (SURVEY §7.4) — and one
  // final doc-keyed aggregate. Three keyed shuffles, all token-scale,
  // same family as tf_idf; h is the shared 60-bit md5, so the whole
  // pipeline is engine-portable.
  // --------------------------------------------------------------------
  private val ngramNovelty = Op("ngram_novelty", {
    val shingle = "w[i] || ' ' || w[i+1] || ' ' || w[i+2]"
    s"""WITH tri AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |      generate_series(1, len(w) - 2), i -> ${h60Sql(shingle)}))) AS h
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w
       |        FROM documents WHERE text IS NOT NULL)),
       |f AS (
       |  SELECT doc_id, min(doc_id) OVER (PARTITION BY h) AS first_doc
       |  FROM tri)
       |SELECT doc_id, count(*) AS n_tri,
       |  count(*) FILTER (WHERE first_doc = doc_id) AS n_novel,
       |  count(*) FILTER (WHERE first_doc = doc_id) * 10000 // count(*)
       |    AS novelty_bp
       |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // exchange raw, split above (r13) — scan-task parallelism, smaller
    // shuffle rows (text, not the split arrays)
    val docs = exchange(t(s, d, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")))
      .select(col("doc_id"), words(col("text")).as("w"))
    val wOrd = Window.partitionBy("doc_id").orderBy("pos")
    val tri = docs
      .select(col("doc_id"), size(col("w")).as("nw"),
        posexplode(col("w")).as(Seq("pos", "word")))
      .withColumn("w2", lead("word", 1).over(wOrd))
      .withColumn("w3", lead("word", 2).over(wOrd))
      .filter(col("pos") <= col("nw") - 3) // strict trigrams only
      .select(col("doc_id"),
        h60(concat_ws(" ", col("word"), col("w2"), col("w3"))).as("h"))
      .distinct()
    tri
      .withColumn("first_doc", min("doc_id").over(Window.partitionBy("h")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tri"),
        count(when(col("first_doc") === col("doc_id"), 1)).as("n_novel"))
      .select(col("doc_id"), col("n_tri"), col("n_novel"),
        expr("n_novel * 10000 div n_tri").as("novelty_bp"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // tokenize_ids — the final pre-training transform: encode every doc as
  // vocabulary-id sequences (top-256 corpus words by frequency, id =
  // rank, OOV → 0) with token/OOV counts alongside. This closes the
  // pipeline chain the other ops prepare: quality → dedup → chunk →
  // TOKENIZE → pack; what pack_sequences budgets and shard_manifest
  // ships is exactly this op's output at production vocab size.
  //
  // Plan shape: one token-scale count (map-combined) → bounded top-K
  // vocab (TakeOrderedAndProject; the 256-row rank window is the one
  // justified tiny global window) broadcast into the token stream → one
  // doc-keyed aggregate. The id sequence is ORDER-SENSITIVE: Spark has
  // no ordered collect, so sort_array over (pos, id) structs — the
  // chunk_merge parity case again, now against DuckDB's ordered
  // string_agg. The sequence is emitted as a space-delimited VARCHAR
  // (not ARRAY<BIGINT>): the contract hasher canonicalizes scalar
  // columns only, so nested types must be serialized at the contract
  // boundary (the r8 DECIMAL / r9 HUGEINT / r10 ARRAY family).
  // --------------------------------------------------------------------
  private val VocabK = 256

  private val tokenizeIds = Op("tokenize_ids",
    s"""WITH tok AS (
       |  SELECT doc_id, i AS pos, w[i] AS word
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w
       |        FROM documents WHERE text IS NOT NULL),
       |       unnest(generate_series(1, len(w))) AS t(i)),
       |vocab AS (
       |  SELECT word, CAST(row_number() OVER (ORDER BY n DESC, word) AS BIGINT) AS id
       |  FROM (SELECT word, count(*) AS n FROM tok
       |        GROUP BY word ORDER BY n DESC, word LIMIT $VocabK))
       |SELECT doc_id, count(*) AS n_tokens,
       |  count(*) FILTER (WHERE v.id IS NULL) AS n_oov,
       |  string_agg(CAST(COALESCE(v.id, 0) AS VARCHAR), ' ' ORDER BY pos) AS ids
       |FROM tok LEFT JOIN vocab v USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    tokenizeIdsPlan(s, d, VocabK)
  }

  /** The tokenize plan with the vocab size as a parameter — the contract
    * op runs it at $VocabK; ScaleProbe runs it at 32 k (the documented
    * production vocab shape). The synthetic corpus has only ~31 distinct
    * words, so a large-vocab probe would be vacuous on the fixture's own
    * tokens — the probe passes `expandTokens = true`, which salts each
    * word with a deterministic per-occurrence hash bucket (~63 k distinct
    * tokens), making the 32 k-row vocab build, broadcast join, and OOV
    * path all bind for real. */
  private[graft] def tokenizeIdsPlan(s: SparkSession, d: String,
      vocabK: Int, expandTokens: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = words(col("text"))
    val tokens =
      if (!expandTokens) ws
      else zip_with(ws, sequence(lit(1), size(ws)),
        (w, i) => concat(w, lit("#"),
          pmod(xxhash64(concat(w, lit(":"), i)), lit(2048))))
    // r13: the tokenize+posexplode ran in the ONE scan task below the
    // materialization exchange (measured 1.0 s single-task with
    // expandTokens). Inner exchange lifts the scan to shuffle width;
    // localCheckpoint is the evaluate-once barrier for the vocab + join
    // consumers (an outer round-robin exchange of the token-scale stream
    // A/B'd worse: 1.75 → 2.43 s).
    // RELIABILITY TRADE (r13 advice): localCheckpoint pins
    // MEMORY_AND_DISK blocks and TRUNCATES lineage, so a lost
    // executor/block makes the op fail-stop instead of recomputing —
    // free in local[n] (no executor loss), but at the 100 TB deployment
    // shape a token-scale checkpoint is a real storage/failure-domain
    // cost: swap to reliable checkpoint() (or accept the 2 consumers'
    // recompute) when running multi-executor.
    val tok = exchange(t(s, d, "documents").filter(col("text").isNotNull)
        .select("doc_id", "text"))
      .select(col("doc_id"), posexplode(tokens).as(Seq("pos", "word")))
      .localCheckpoint()
    val vocab = tok.groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc).limit(vocabK)
      // vocabK bounded rows: the one justified unpartitioned window
      .withColumn("id", row_number().over(
        Window.orderBy(col("n").desc, col("word").asc)).cast("long"))
      .select("word", "id")
    tok.join(broadcast(vocab), Seq("word"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("id").isNull, 1)).as("n_oov"),
        array_join(transform(array_sort(collect_list(
          struct(col("pos"), coalesce(col("id"), lit(0L)).as("id")))),
          x => x("id").cast("string")), " ").as("ids"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // tokenizer_fertility — the tokenizer-efficiency table every
  // multilingual training run budgets from: per language, how many
  // BPE-ish tokens a whitespace word costs (fertility), how many chars a
  // word carries, and how many UTF-8 bytes a char costs (the multibyte
  // premium — zh pays ~3×). High fertility = the tokenizer fragments
  // that language = fewer effective words per context window; this table
  // is what vocab-size / per-language-budget decisions read. All ratios
  // in integer basis points over exact per-language sums (no float).
  //
  // Scale shape: ONE map-side-combining fact aggregate to ≤|langs| rows;
  // the ratio arithmetic runs on the bounded grid.
  // --------------------------------------------------------------------
  private val tokenizerFertility = Op("tokenizer_fertility",
    s"""SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(len(regexp_extract_all(text, '$bpeRe'))) AS BIGINT) AS n_bpe,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_ws,
       |  CAST(SUM(len(regexp_extract_all(text, '$bpeRe'))) * 10000
       |    // SUM(len(string_split(text, ' '))) AS BIGINT) AS fertility_bp,
       |  CAST(SUM(length(text)) * 10000
       |    // SUM(len(string_split(text, ' '))) AS BIGINT) AS chars_per_word_bp,
       |  CAST(SUM(octet_length(encode(text))) * 10000
       |    // SUM(length(text)) AS BIGINT) AS bytes_per_char_bp
       |FROM documents WHERE text IS NOT NULL AND length(text) > 0
       |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    fertilityView(fertilityGrid(t(s, d, "documents")))
  }

  /** The per-language (docs, bpe, words, chars, bytes) sum grid —
    * tokenizer_fertility's only fact-scale pass, shared with the
    * streaming twin ([[graft.streaming.Streams.fertility]]): all five
    * are algebraic sums, so per-batch partials fold with a keyed SUM
    * merge; ≤|langs| rows. */
  private[graft] def fertilityGrid(docs: DataFrame): DataFrame =
    docs
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(regexp_extract_all(col("text"), lit(bpeRe), lit(0))))
          .as("n_bpe"),
        sum(size(words(col("text")))).as("n_ws"),
        sum(length(col("text"))).as("n_chars"),
        sum(expr("octet_length(text)")).as("n_bytes"))

  /** The fertility ratio table over the completed grid. */
  private[graft] def fertilityView(grid: DataFrame): DataFrame =
    grid.select(col("lang"), col("n_docs"), col("n_bpe"), col("n_ws"),
        expr("n_bpe * 10000 div n_ws").as("fertility_bp"),
        expr("n_chars * 10000 div n_ws").as("chars_per_word_bp"),
        expr("n_bytes * 10000 div n_chars").as("bytes_per_char_bp"))
      .orderBy("lang")

  val ops: Seq[Op] = Seq(tokenCount, langId, langIdEval, codeSwitch, qualityScore, docFingerprint,
    textNormalize, textDiversity, ngramFreq, vocabTopk, lmScore, tfIdf, textCooccur,
    oovRate, corpusGini, featureHash, heavyHitters, bpePairCounts, ngramNovelty,
    tokenizeIds, tokenizerFertility, textReadability, langRouting,
    routeQuality)
}
