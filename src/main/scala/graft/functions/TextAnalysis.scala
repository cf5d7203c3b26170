package graft.functions

import graft.{QueryModule, QuerySpec, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline (builder
  * brief: language-ID, quality scoring, token counting, document
  * fingerprinting) over the `documents` table.
  *
  * Everything except the fingerprint is pure built-in column algebra —
  * codegen'd, no UDFs, no shuffle (narrow projections over the scan), so
  * at 100 TB these run at parquet-scan speed. Ratios are produced by a
  * single double division of exact integers, which is IEEE-deterministic
  * and therefore oracle-comparable (same idiom as QueryUtil.cents).
  */
object TextAnalysis extends QueryModule {

  // ── token counting ──────────────────────────────────────────────────
  /** Whitespace tokens. */
  def wsTokens(text: Column): Column = split(text, "\\s+")

  /** BPE-ish sub-word tokens: letter runs | digit runs | single
    * punctuation. */
  val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpePattern), lit(0))

  def taTokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(wsTokens(col("text"))).as("n_ws_tokens"),
      size(bpeTokens(col("text"))).as("n_bpe_tokens"),
      length(col("text")).as("n_chars_computed"))
      .orderBy("doc_id")

  val taTokenCountSql: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_split_to_array(text, '\\s+')) AS INT) AS n_ws_tokens,
       |  CAST(len(regexp_extract_all(text, '$BpePattern')) AS INT) AS n_bpe_tokens,
       |  CAST(length(text) AS INT) AS n_chars_computed
       |FROM documents ORDER BY doc_id""".stripMargin

  // ── quality scoring ─────────────────────────────────────────────────
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Length / stopword / punctuation signals combined into one score.
    * All ratios are (exact int) / (exact int) double divisions; the
    * blend uses the same literal arithmetic on both engines. */
  /** The composite quality score of a `text` column (weighted stopword
    * ratio + inverse punctuation density + capped token span) — shared
    * by [[taQualityScore]] and the percentile gate in TrainPrep so both
    * rank documents identically. */
  def qualityScoreCol(text: Column): Column = {
    val toks = wsTokens(text)
    val nTok = size(toks).cast("double")
    val nStop = size(filter(toks,
      t => t.isInCollection(Stopwords))).cast("double")
    val nPunct = length(regexp_replace(text, "[a-z0-9\\s]", ""))
      .cast("double")
    val nChars = length(text).cast("double")
    (nStop / nTok) * lit(0.5d) + (lit(1.0d) - nPunct / nChars) * lit(0.3d) +
      least(nChars / nTok / lit(10.0d), lit(1.0d)) * lit(0.2d)
  }

  /** The DuckDB mirror of [[qualityScoreCol]], parameterized on the text
    * expression. */
  def qualitySqlExpr(text: String): String = {
    val stop = Stopwords.map(s => s"'$s'").mkString(", ")
    s"(CAST(len(list_filter(regexp_split_to_array($text, '\\s+'), x -> x IN ($stop))) AS DOUBLE) / CAST(len(regexp_split_to_array($text, '\\s+')) AS DOUBLE)) * 0.5 " +
      s"+ (1.0 - CAST(length(regexp_replace($text, '[a-z0-9\\s]', '', 'g')) AS DOUBLE) / CAST(length($text) AS DOUBLE)) * 0.3 " +
      s"+ least(CAST(length($text) AS DOUBLE) / CAST(len(regexp_split_to_array($text, '\\s+')) AS DOUBLE) / 10.0, 1.0) * 0.2"
  }

  def taQualityScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = wsTokens(col("text"))
    val nTok = size(toks).cast("double")
    val nStop = size(filter(toks,
      t => t.isInCollection(Stopwords))).cast("double")
    val nPunct = length(regexp_replace(col("text"), "[a-z0-9\\s]", ""))
      .cast("double")
    val nChars = length(col("text")).cast("double")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      nTok.as("n_tokens"),
      (nStop / nTok).as("stopword_ratio"),
      (nPunct / nChars).as("punct_ratio"),
      (nChars / nTok).as("avg_token_span"),
      qualityScoreCol(col("text")).as("quality_score"))
      .orderBy("doc_id")
  }

  val taQualitySql: String = {
    val stop = Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_split_to_array(text, '\\s+')) AS DOUBLE) AS n_tokens,
       |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
       |      x -> x IN ($stop))) AS DOUBLE) AS n_stop,
       |    CAST(length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS DOUBLE) AS n_punct,
       |    CAST(length(text) AS DOUBLE) AS n_chars
       |  FROM documents)
       |SELECT doc_id, n_tokens,
       |  n_stop / n_tokens AS stopword_ratio,
       |  n_punct / n_chars AS punct_ratio,
       |  n_chars / n_tokens AS avg_token_span,
       |  (n_stop / n_tokens) * 0.5 + (1.0 - n_punct / n_chars) * 0.3
       |    + least(n_chars / n_tokens / 10.0, 1.0) * 0.2 AS quality_score
       |FROM t ORDER BY doc_id""".stripMargin
  }

  // ── language identification ─────────────────────────────────────────
  /** Marker-word profiles (tiny stopword n-gram model). Scores are
    * exact integer marker counts; prediction is a deterministic argmax
    * chain (ties break in en>fr>es>de order). CJK presence short-
    * circuits to zh. */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and"),
    "fr" -> Seq("le", "la", "et", "les"),
    "es" -> Seq("el", "los", "y", "de"),
    "de" -> Seq("der", "und", "die", "das"))

  private def markerCount(toks: Column, lang: String): Column =
    size(filter(toks, t => t.isInCollection(LangMarkers(lang))))

  def taLangId(spark: SparkSession, dir: String): DataFrame = {
    val toks = wsTokens(col("text"))
    val en = markerCount(toks, "en"); val fr = markerCount(toks, "fr")
    val es = markerCount(toks, "es"); val de = markerCount(toks, "de")
    val cjk = length(regexp_replace(col("text"), "[\\x00-\\x7F]", ""))
    Tables.documents(spark, dir).select(
      col("doc_id"), col("lang").as("labeled_lang"),
      en.as("score_en"), fr.as("score_fr"), es.as("score_es"),
      de.as("score_de"), cjk.as("n_non_ascii"),
      when(cjk > 0, "zh")
        .when(en >= fr && en >= es && en >= de, "en")
        .when(fr >= es && fr >= de, "fr")
        .when(es >= de, "es")
        .otherwise("de").as("predicted_lang"))
      .orderBy("doc_id")
  }

  val taLangIdSql: String = {
    def cnt(lang: String) = {
      val m = LangMarkers(lang).map(s => s"'$s'").mkString(", ")
      s"CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x IN ($m))) AS INT)"
    }
    s"""WITH t AS (
       |  SELECT doc_id, lang AS labeled_lang,
       |    ${cnt("en")} AS score_en, ${cnt("fr")} AS score_fr,
       |    ${cnt("es")} AS score_es, ${cnt("de")} AS score_de,
       |    CAST(length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) AS INT)
       |      AS n_non_ascii
       |  FROM documents)
       |SELECT doc_id, labeled_lang, score_en, score_fr, score_es, score_de,
       |  n_non_ascii,
       |  CASE WHEN n_non_ascii > 0 THEN 'zh'
       |       WHEN score_en >= score_fr AND score_en >= score_es
       |         AND score_en >= score_de THEN 'en'
       |       WHEN score_fr >= score_es AND score_fr >= score_de THEN 'fr'
       |       WHEN score_es >= score_de THEN 'es'
       |       ELSE 'de' END AS predicted_lang
       |FROM t ORDER BY doc_id""".stripMargin
  }

  // ── PII / URL redaction ─────────────────────────────────────────────
  /** Training-data scrubbing: redact email-like and URL-like spans
    * before a corpus ships (patterns restricted to syntax Java regex
    * and RE2 interpret identically — no backrefs, no lookaround).
    * Narrow projection: runs at scan speed, oracle-checkable. */
  val EmailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val UrlPattern = "https?://[^\\s]+"

  /** The redaction transform itself (URLs first — an email inside a
    * URL query string is already covered by the URL span). */
  def redacted(text: Column): Column =
    regexp_replace(regexp_replace(text, UrlPattern, "<URL>"),
      EmailPattern, "<EMAIL>")

  def taRedact(spark: SparkSession, dir: String): DataFrame = {
    val redacted = this.redacted(col("text"))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailPattern), lit(0)))
        .as("n_emails"),
      size(regexp_extract_all(col("text"), lit(UrlPattern), lit(0)))
        .as("n_urls"),
      length(col("text")).as("len_before"),
      length(redacted).as("len_after"))
      .orderBy("doc_id")
  }

  // both patterns use only syntax Java regex and RE2 read identically,
  // so the same literal works in Spark and DuckDB
  val taRedactSql: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$EmailPattern')) AS INT)
       |    AS n_emails,
       |  CAST(len(regexp_extract_all(text, '$UrlPattern')) AS INT)
       |    AS n_urls,
       |  CAST(length(text) AS INT) AS len_before,
       |  CAST(length(regexp_replace(
       |    regexp_replace(text, '$UrlPattern', '<URL>', 'g'),
       |    '$EmailPattern', '<EMAIL>', 'g')) AS INT) AS len_after
       |FROM documents ORDER BY doc_id""".stripMargin

  // ── vocabulary builder ──────────────────────────────────────────────
  /** Corpus vocabulary: top-k whitespace tokens by document frequency
    * (the explode shuffles one row per distinct (doc, token) — the
    * same map-side-combined shape as word count; at 100 TB add a
    * frequency-threshold pre-filter per partition). Ties break
    * lexicographically for a total order. */
  def taVocab(spark: SparkSession, dir: String, k: Int = 50): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("token"))
      .distinct()
      .groupBy("token")
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("token"))
      .limit(k)

  def taVocabSql(k: Int = 50): String =
    s"""SELECT token, COUNT(*) AS doc_freq FROM (
       |  SELECT DISTINCT doc_id, unnest(regexp_split_to_array(text, '\\s+'))
       |    AS token
       |  FROM documents)
       |GROUP BY token
       |ORDER BY doc_freq DESC, token
       |LIMIT $k""".stripMargin

  // ── vocabulary coverage / OOV rate ──────────────────────────────────
  /** Out-of-vocabulary rate per source for a top-k frequency
    * vocabulary — the coverage check run before fixing a tokenizer's
    * vocab size (a source with high OOV will fragment into bytes).
    * The vocab cut is `orderBy(freq desc, token).limit(k)` — planned
    * as TakeOrdered (distributed partial top-k), never a global sort —
    * and rides into the token stream as a broadcast; the rate is one
    * exact-integer division. */
  def tcOovRate(spark: SparkSession, dir: String, k: Int = 500)
      : DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("source"), explode(wsTokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("tok")).limit(k)
      .select(col("tok"), lit(1).as("in_v"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("in_v").isNull, 1)).as("n_oov"))
      .withColumn("oov_rate", col("n_oov").cast("double") /
        col("n_tokens").cast("double"))
      .orderBy("source")
  }

  def tcOovRateSql(k: Int = 500): String =
    s"""WITH tt AS (
       |  SELECT source, tok FROM (
       |    SELECT source, unnest(regexp_split_to_array(text, '\\s+')) AS tok
       |    FROM documents)
       |  WHERE tok <> ''),
       |vocab AS (
       |  SELECT tok FROM (
       |    SELECT tok, COUNT(*) AS f FROM tt GROUP BY tok)
       |  ORDER BY f DESC, tok LIMIT $k)
       |SELECT t.source, COUNT(*) AS n_tokens,
       |  COUNT(CASE WHEN v.tok IS NULL THEN 1 END) AS n_oov,
       |  CAST(COUNT(CASE WHEN v.tok IS NULL THEN 1 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS oov_rate
       |FROM tt t LEFT JOIN vocab v ON v.tok = t.tok
       |GROUP BY t.source ORDER BY t.source""".stripMargin

  // ── BM25-style relevance scoring ─────────────────────────────────────
  /** BM25-shaped query relevance over the corpus (the retrieval score a
    * curation pipeline uses to mine query-relevant training documents),
    * with a RATIONAL idf — `(N - df + 0.5) / (df + 0.5)` instead of its
    * log — so every arithmetic step is IEEE-exact and the DuckDB oracle
    * hash-matches bit for bit (libm `ln` is only 1-ulp-accurate and may
    * differ across engines; the rational form preserves the ranking
    * monotonically). Fixed query terms → per-term tf as array counts
    * (no explode, zero shuffle for the tf side); corpus stats (N,
    * total tokens, per-term df) are ONE tiny aggregate row broadcast
    * back, so the whole query is one corpus scan + one 1-row cross
    * join at any scale. */
  val Bm25Terms: Seq[String] = Seq("spark", "hash", "join")
  val Bm25K1 = 1.2d
  val Bm25B = 0.75d

  def taBm25(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = wsTokens(col("text"))
    val withTf = docs.select(
      (col("doc_id") +: size(toks).cast("double").as("dl") +:
        Bm25Terms.map(t =>
          size(filter(toks, x => x === t)).cast("double").as(s"tf_$t"))): _*)
    val statCols = sum(col("dl")).as("sum_dl") +:
      Bm25Terms.map(t =>
        sum(when(col(s"tf_$t") > 0d, 1d).otherwise(0d)).as(s"df_$t"))
    val stats = withTf.agg(
      count(lit(1)).cast("double").as("n_docs"), statCols: _*)
    val avgdl = col("sum_dl") / col("n_docs")
    val score = Bm25Terms.map { t =>
      val idf = (col("n_docs") - col(s"df_$t") + lit(0.5d)) /
        (col(s"df_$t") + lit(0.5d))
      idf * (col(s"tf_$t") * lit(Bm25K1 + 1.0d)) /
        (col(s"tf_$t") + lit(Bm25K1) *
          (lit(1.0d - Bm25B) + lit(Bm25B) * (col("dl") / avgdl)))
    }.reduce(_ + _)
    withTf.crossJoin(broadcast(stats))
      .select((col("doc_id") +:
        Bm25Terms.map(t => col(s"tf_$t")) :+ score.as("bm25")): _*)
      .orderBy("doc_id")
  }

  val taBm25Sql: String = {
    val k1 = Bm25K1; val b = Bm25B
    val tfDefs = Bm25Terms.map(t =>
      s"CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x = '$t')) AS DOUBLE) AS tf_$t").mkString(",\n       |    ")
    val dfDefs = Bm25Terms.map(t =>
      s"SUM(CASE WHEN tf_$t > 0 THEN 1.0 ELSE 0.0 END) AS df_$t").mkString(",\n       |    ")
    val scoreTerms = Bm25Terms.map(t =>
      s"((n_docs - df_$t + 0.5) / (df_$t + 0.5)) * (tf_$t * ${k1 + 1.0d}) / " +
        s"(tf_$t + $k1 * (${1.0d - b} + $b * (dl / (sum_dl / n_docs))))")
      .mkString("\n       |    + ")
    s"""WITH tf AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_split_to_array(text, '\\s+')) AS DOUBLE) AS dl,
       |    $tfDefs
       |  FROM documents),
       |stats AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, SUM(dl) AS sum_dl,
       |    $dfDefs
       |  FROM tf)
       |SELECT doc_id, ${Bm25Terms.map(t => s"tf_$t").mkString(", ")},
       |    $scoreTerms AS bm25
       |FROM tf, stats ORDER BY doc_id""".stripMargin
  }

  // ── repetition scoring (Gopher-style quality rule) ──────────────────
  /** Within-document repetition: duplicate-token fraction and the share
    * of the most frequent token/bigram — the Gopher/MassiveText "rep"
    * filters that catch boilerplate and degenerate generations. Computed
    * as explode → two-level aggregate (per-(doc,gram) counts partial-
    * aggregate map-side, then one small per-doc rollup), so the corpus
    * text never shuffles — only (doc_id, 8-byte-ish gram, count) rows.
    * Ratios are single divisions of exact counts. */
  def taRepetition(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(col("doc_id"),
      explode(wsTokens(col("text"))).as("tok"))
    val tokStats = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n_tok"), count(lit(1)).as("n_uniq"),
        max("c").as("top_tok_cnt"))
    val bigrams = docs.select(col("doc_id"),
        wsTokens(col("text")).as("a"))
      .select(col("doc_id"), explode(expr(
        "transform(slice(a, 1, size(a) - 1), (t, i) -> concat(t, ' ', a[i + 1]))"))
        .as("g"))
    val biStats = bigrams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n_bigram"), max("c").as("top_bigram_cnt"))
    tokStats.join(biStats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"), col("n_uniq"),
        (lit(1.0d) - col("n_uniq").cast("double") / col("n_tok").cast("double"))
          .as("dup_tok_frac"),
        (col("top_tok_cnt").cast("double") / col("n_tok").cast("double"))
          .as("top_tok_frac"),
        (coalesce(col("top_bigram_cnt"), lit(0L)).cast("double") /
          coalesce(col("n_bigram"), lit(1L)).cast("double"))
          .as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  val taRepetitionSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS tok
      |  FROM documents),
      |tok_stats AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok, COUNT(*) AS n_uniq,
      |         CAST(MAX(c) AS BIGINT) AS top_tok_cnt
      |  FROM (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2)
      |  GROUP BY doc_id),
      |grams AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(a)),
      |    i -> a[i] || ' ' || a[i + 1])) AS g
      |  FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS a
      |        FROM documents)
      |  WHERE len(a) >= 2),
      |bi_stats AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigram,
      |         CAST(MAX(c) AS BIGINT) AS top_bigram_cnt
      |  FROM (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY 1, 2)
      |  GROUP BY doc_id)
      |SELECT t.doc_id, t.n_tok, t.n_uniq,
      |  1.0 - CAST(t.n_uniq AS DOUBLE) / CAST(t.n_tok AS DOUBLE) AS dup_tok_frac,
      |  CAST(t.top_tok_cnt AS DOUBLE) / CAST(t.n_tok AS DOUBLE) AS top_tok_frac,
      |  CAST(COALESCE(b.top_bigram_cnt, 0) AS DOUBLE)
      |    / CAST(COALESCE(b.n_bigram, 1) AS DOUBLE) AS top_bigram_frac
      |FROM tok_stats t LEFT JOIN bi_stats b ON t.doc_id = b.doc_id
      |ORDER BY t.doc_id""".stripMargin

  // ── Gopher repetition-removal battery ──────────────────────────────
  /** The full Gopher repetition-removal rules (Rae et al. 2021,
    * appendix A1.1): duplicate-line fraction and char fraction, top
    * 2/3/4-gram char mass, duplicated 5..10-gram char coverage — all
    * integer statistics from the single-pass native kernel
    * ([[RepetitionRuntime.repetitionStats]]), so the whole battery is
    * a zero-shuffle map-only projection (the alternative — explode
    * grams + groupBy(doc_id, gram) — shuffles ~n x corpus tokens).
    * Fractions are single IEEE divisions of exact integers; pass
    * flags are integer cross-multiplications. Thresholds are the
    * published Gopher cut-offs: dup_line <= 0.30, dup_line_char <=
    * 0.20, top{2,3,4}-gram <= {0.20, 0.18, 0.16}, dup{5..10}-gram <=
    * {0.15, 0.14, 0.13, 0.12, 0.11, 0.10}. */
  def taGopherRepetition(spark: SparkSession, dir: String): DataFrame =
    repetitionBattery(Tables.documents(spark, dir))

  /** The battery over any (doc_id, text) frame — fixture-testable. */
  def repetitionBattery(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"),
        RepetitionFunctions.repetition_stats(col("text")).as("s"))
      .select(col("doc_id"), col("s.*"))
    def frac(num: Column, den: Column): Column =
      when(den === 0L, lit(0.0d))
        .otherwise(num.cast("double") / den.cast("double"))
    val wc = col("word_chars")
    // (numerator multiplier, denominator multiplier) per threshold —
    // flag = mul*stat <= den*denominator, all in exact Long arithmetic
    val rDupLine = lit(10L) * col("dup_lines") <= lit(3L) * col("n_lines")
    val rDupLineChar =
      lit(5L) * col("dup_line_chars") <= col("line_chars")
    val rTop2 = lit(5L) * col("top2_chars") <= wc
    val rTop3 = lit(50L) * col("top3_chars") <= lit(9L) * wc
    val rTop4 = lit(25L) * col("top4_chars") <= lit(4L) * wc
    val rDup5 = lit(20L) * col("dup5_chars") <= lit(3L) * wc
    val rDup6 = lit(50L) * col("dup6_chars") <= lit(7L) * wc
    val rDup7 = lit(100L) * col("dup7_chars") <= lit(13L) * wc
    val rDup8 = lit(25L) * col("dup8_chars") <= lit(3L) * wc
    val rDup9 = lit(100L) * col("dup9_chars") <= lit(11L) * wc
    val rDup10 = lit(10L) * col("dup10_chars") <= wc
    base.select(col("*"),
      frac(col("dup_lines"), col("n_lines")).as("dup_line_frac"),
      frac(col("dup_line_chars"), col("line_chars"))
        .as("dup_line_char_frac"),
      frac(col("top2_chars"), wc).as("top2_frac"),
      frac(col("top3_chars"), wc).as("top3_frac"),
      frac(col("top4_chars"), wc).as("top4_frac"),
      frac(col("dup5_chars"), wc).as("dup5_frac"),
      frac(col("dup10_chars"), wc).as("dup10_frac"),
      rDupLine.as("r_dup_line"), rDupLineChar.as("r_dup_line_char"),
      rTop2.as("r_top2"), rTop3.as("r_top3"), rTop4.as("r_top4"),
      rDup5.as("r_dup5"), rDup6.as("r_dup6"), rDup7.as("r_dup7"),
      rDup8.as("r_dup8"), rDup9.as("r_dup9"), rDup10.as("r_dup10"),
      (rDupLine && rDupLineChar && rTop2 && rTop3 && rTop4 && rDup5 &&
        rDup6 && rDup7 && rDup8 && rDup9 && rDup10)
        .as("pass_repetition"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[taGopherRepetition]]: reproduces the kernel's
    * integer statistics with UNNEST + GROUP BY (grams keyed on the
    * exact space-joined string; top gram via ORDER BY cnt DESC, gram
    * ASC — the kernel's binary-smallest tie-break; dup coverage as a
    * DISTINCT position union), then the same divisions and integer
    * flag comparisons. */
  val taGopherRepetitionSql: String = {
    def topCte(n: Int): String =
      s"""g$n AS (
         |  SELECT doc_id, array_to_string(a[i:i+${n - 1}], ' ') AS g
         |  FROM toks, UNNEST(range(1, len(a) - ${n - 2})) AS t(i)
         |  WHERE len(a) >= $n),
         |top$n AS (
         |  SELECT doc_id, c * (length(g) - ${n - 1}) AS top${n}_chars
         |  FROM (SELECT doc_id, g, c, ROW_NUMBER() OVER (
         |          PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn
         |        FROM (SELECT doc_id, g, COUNT(*) AS c FROM g$n
         |              GROUP BY doc_id, g))
         |  WHERE rn = 1)""".stripMargin
    def dupCte(n: Int): String =
      s"""o$n AS (
         |  SELECT doc_id, i, array_to_string(a[i:i+${n - 1}], ' ') AS g
         |  FROM toks, UNNEST(range(1, len(a) - ${n - 2})) AS t(i)
         |  WHERE len(a) >= $n),
         |d$n AS (SELECT doc_id, g FROM o$n GROUP BY doc_id, g
         |        HAVING COUNT(*) >= 2),
         |cov$n AS (
         |  SELECT cp.doc_id, SUM(length(tk.a[cp.p])) AS dup${n}_chars
         |  FROM (SELECT DISTINCT o$n.doc_id, p
         |        FROM o$n JOIN d$n USING (doc_id, g),
         |          UNNEST(range(i, i + $n)) AS r(p)) cp
         |  JOIN toks tk ON cp.doc_id = tk.doc_id
         |  GROUP BY cp.doc_id)""".stripMargin
    val ctes = (RepetitionRuntime.TopNs.map(topCte) ++
      RepetitionRuntime.DupNs.map(dupCte)).mkString(",\n")
    val topCols = RepetitionRuntime.TopNs.map(n =>
      s"  CAST(COALESCE(top$n.top${n}_chars, 0) AS BIGINT) AS top${n}_chars")
    val dupCols = RepetitionRuntime.DupNs.map(n =>
      s"  CAST(COALESCE(cov$n.dup${n}_chars, 0) AS BIGINT) AS dup${n}_chars")
    val joins = (RepetitionRuntime.TopNs.map(n =>
      s"LEFT JOIN top$n USING (doc_id)") ++
      RepetitionRuntime.DupNs.map(n =>
        s"LEFT JOIN cov$n USING (doc_id)")).mkString("\n")
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS a,
       |    string_split(text, chr(10)) AS ls
       |  FROM documents),
       |lc AS (
       |  SELECT doc_id, line, COUNT(*) AS c
       |  FROM (SELECT doc_id, UNNEST(ls) AS line FROM toks)
       |  GROUP BY doc_id, line),
       |lstats AS (
       |  SELECT doc_id,
       |    CAST(SUM(c) AS BIGINT) AS n_lines,
       |    CAST(COALESCE(SUM(c) FILTER (WHERE c >= 2), 0) AS BIGINT)
       |      AS dup_lines,
       |    CAST(SUM(c * length(line)) AS BIGINT) AS line_chars,
       |    CAST(COALESCE(SUM(c * length(line)) FILTER (WHERE c >= 2), 0)
       |      AS BIGINT) AS dup_line_chars
       |  FROM lc GROUP BY doc_id),
       |wc AS (
       |  SELECT doc_id,
       |    CAST(COALESCE(list_sum(list_transform(a, x -> length(x))), 0)
       |      AS BIGINT) AS word_chars
       |  FROM toks),
       |$ctes,
       |ints AS (
       |  SELECT lstats.doc_id, n_lines, dup_lines, line_chars,
       |    dup_line_chars, word_chars,
       |${(topCols ++ dupCols).mkString(",\n")}
       |  FROM lstats JOIN wc USING (doc_id)
       |$joins)
       |SELECT doc_id, n_lines, dup_lines, line_chars, dup_line_chars,
       |  word_chars, top2_chars, top3_chars, top4_chars, dup5_chars,
       |  dup6_chars, dup7_chars, dup8_chars, dup9_chars, dup10_chars,
       |  CASE WHEN n_lines = 0 THEN 0.0 ELSE
       |    CAST(dup_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) END
       |    AS dup_line_frac,
       |  CASE WHEN line_chars = 0 THEN 0.0 ELSE
       |    CAST(dup_line_chars AS DOUBLE) / CAST(line_chars AS DOUBLE) END
       |    AS dup_line_char_frac,
       |  CASE WHEN word_chars = 0 THEN 0.0 ELSE
       |    CAST(top2_chars AS DOUBLE) / CAST(word_chars AS DOUBLE) END
       |    AS top2_frac,
       |  CASE WHEN word_chars = 0 THEN 0.0 ELSE
       |    CAST(top3_chars AS DOUBLE) / CAST(word_chars AS DOUBLE) END
       |    AS top3_frac,
       |  CASE WHEN word_chars = 0 THEN 0.0 ELSE
       |    CAST(top4_chars AS DOUBLE) / CAST(word_chars AS DOUBLE) END
       |    AS top4_frac,
       |  CASE WHEN word_chars = 0 THEN 0.0 ELSE
       |    CAST(dup5_chars AS DOUBLE) / CAST(word_chars AS DOUBLE) END
       |    AS dup5_frac,
       |  CASE WHEN word_chars = 0 THEN 0.0 ELSE
       |    CAST(dup10_chars AS DOUBLE) / CAST(word_chars AS DOUBLE) END
       |    AS dup10_frac,
       |  (10 * dup_lines <= 3 * n_lines) AS r_dup_line,
       |  (5 * dup_line_chars <= line_chars) AS r_dup_line_char,
       |  (5 * top2_chars <= word_chars) AS r_top2,
       |  (50 * top3_chars <= 9 * word_chars) AS r_top3,
       |  (25 * top4_chars <= 4 * word_chars) AS r_top4,
       |  (20 * dup5_chars <= 3 * word_chars) AS r_dup5,
       |  (50 * dup6_chars <= 7 * word_chars) AS r_dup6,
       |  (100 * dup7_chars <= 13 * word_chars) AS r_dup7,
       |  (25 * dup8_chars <= 3 * word_chars) AS r_dup8,
       |  (100 * dup9_chars <= 11 * word_chars) AS r_dup9,
       |  (10 * dup10_chars <= word_chars) AS r_dup10,
       |  ((10 * dup_lines <= 3 * n_lines)
       |    AND (5 * dup_line_chars <= line_chars)
       |    AND (5 * top2_chars <= word_chars)
       |    AND (50 * top3_chars <= 9 * word_chars)
       |    AND (25 * top4_chars <= 4 * word_chars)
       |    AND (20 * dup5_chars <= 3 * word_chars)
       |    AND (50 * dup6_chars <= 7 * word_chars)
       |    AND (100 * dup7_chars <= 13 * word_chars)
       |    AND (25 * dup8_chars <= 3 * word_chars)
       |    AND (100 * dup9_chars <= 11 * word_chars)
       |    AND (10 * dup10_chars <= word_chars)) AS pass_repetition
       |FROM ints ORDER BY doc_id""".stripMargin
  }

  // ── document fingerprinting ─────────────────────────────────────────
  /** Rolling-hash fingerprint of the full text plus a coarse 64-bucket
    * shard id — the custom codegen expression ([[RollingHash]]). The
    * hash IS SQL-expressible: `h = h·base + byte` with 64-bit
    * wraparound folds in DuckDB as a HUGEINT `list_reduce` mod 2^64
    * over the (ASCII) character codes — see [[taFingerprintSql]] — so
    * this is hash-exact against the oracle, not rows-only. */
  def taFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      HashFunctions.rolling_hash(col("text")).as("fingerprint"),
      pmod(HashFunctions.rolling_hash(col("text")), lit(64)).as("shard"))
      .orderBy("doc_id")

  /** DuckDB emulation of [[RollingHash]]: HUGEINT (128-bit) fold of
    * `acc·1000003 + ascii(c) mod 2^64` (the product stays < 2^84, so
    * it never overflows HUGEINT), then two's-complement to signed for
    * the fingerprint and unsigned `% 64` for the shard (≡ Spark `pmod`
    * since 64 divides 2^64). Valid while the corpus is ASCII — byte
    * sequence == codepoint sequence (the testdata generator emits
    * ASCII; a multi-byte corpus would need a bytes-level fold). */
  val taFingerprintSql: String =
    """WITH h AS (
      |  SELECT doc_id,
      |    list_reduce(
      |      list_prepend(CAST(0 AS HUGEINT),
      |        list_transform(string_split(text, ''),
      |          c -> CAST(ascii(c) AS HUGEINT))),
      |      (acc, c) -> (acc * 1000003 + c) % 18446744073709551616) AS uh
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(CASE WHEN uh >= 9223372036854775808
      |    THEN uh - 18446744073709551616 ELSE uh END AS BIGINT)
      |    AS fingerprint,
      |  CAST(uh % 64 AS BIGINT) AS shard
      |FROM h ORDER BY doc_id""".stripMargin

  // ── rare-bigram novelty ─────────────────────────────────────────────
  /** Corpus-relative novelty: the fraction of a document's word-bigram
    * positions whose bigram occurs exactly once in the whole corpus —
    * a language-model-free proxy for "unusual text" (high = novel or
    * noisy, low = boilerplate), the cheap stand-in for a perplexity
    * gate. Join-free at the gram level: a corpus-frequency-1 bigram
    * has exactly one position, so `min(doc_id)` of its group IS its
    * document — per-doc rare counts come from re-grouping the
    * singleton grams, never joining the gram table against itself.
    * Grams travel as 64-bit [[NgramHashes]] (same collision caveat as
    * [[TrainPrep.dcDecontamination]]: a cross-doc hash collision would
    * mask a rare gram; birthday-bound safe at any real corpus). */
  def taRareBigrams(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val rare = docs
      .select(col("doc_id"),
        explode(ShingleFunctions.ngram_hashes(col("text"), 2)).as("g"))
      .groupBy("g")
      .agg(count(lit(1)).as("c"), min("doc_id").as("d"))
      .filter(col("c") === 1)
      .groupBy(col("d").as("doc_id"))
      .agg(count(lit(1)).as("n_rare"))
    docs
      .select(col("doc_id"),
        size(ShingleFunctions.ngram_hashes(col("text"), 2)).as("n_grams"))
      .filter(col("n_grams") > 0)
      .join(rare, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"),
        (coalesce(col("n_rare"), lit(0L)).cast("double") /
          col("n_grams").cast("double")).as("rare_frac"))
      .orderBy("doc_id")
  }

  val taRareBigramsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS a
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(a)),
      |    i -> a[i] || ' ' || a[i + 1])) AS g
      |  FROM toks WHERE len(a) >= 2),
      |rare AS (
      |  SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_pos
      |  FROM grams GROUP BY g HAVING COUNT(*) = 1),
      |per_doc AS (
      |  SELECT doc_id, COUNT(*) AS n_rare FROM rare GROUP BY doc_id),
      |sized AS (
      |  SELECT doc_id, CAST(len(a) - 1 AS INT) AS n_grams
      |  FROM toks WHERE len(a) >= 2)
      |SELECT s.doc_id, s.n_grams,
      |  COALESCE(p.n_rare, 0) AS n_rare,
      |  CAST(COALESCE(p.n_rare, 0) AS DOUBLE) / CAST(s.n_grams AS DOUBLE)
      |    AS rare_frac
      |FROM sized s LEFT JOIN per_doc p USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ── character-diversity quality signal ──────────────────────────────
  /** Per-document character-distribution diversity as GINI IMPURITY
    * `1 − Σ p_c²` — the "is this doc one character repeated 4000
    * times?" quality gate. Deliberately NOT Shannon entropy: entropy
    * needs libm `log`, which is only 1-ulp-accurate and not
    * cross-engine bit-stable, while Gini is pure rational arithmetic —
    * `(n² − Σc²) / n²` from exact integer counts, ONE correctly-rounded
    * division — so it hash-matches and ranks low-diversity docs the
    * same way. Characters come from an explicit position explode
    * (`substring(text, i, 1)`), the one 1-char-extraction both engines
    * define identically; the (doc, char) counts reduce with map-side
    * partials in the same stage, so the char-level rows never shuffle —
    * the exchange carries at most |alphabet| rows per doc. */
  def taCharGini(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")))).as("i"))
      .select(col("doc_id"), expr("substring(text, i, 1)").as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n"), count(lit(1)).as("n_distinct"),
        sum(col("c") * col("c")).as("ss"))
      .select(col("doc_id"), col("n"), col("n_distinct"),
        ((col("n") * col("n") - col("ss")).cast("double") /
          (col("n") * col("n")).cast("double")).as("gini"))
      .orderBy("doc_id")

  val taCharGiniSql: String =
    """WITH chars AS (
      |  SELECT doc_id, substr(text, CAST(i AS INT), 1) AS ch
      |  FROM documents, unnest(range(1, len(text) + 1)) AS t(i)),
      |counts AS (
      |  SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch),
      |agged AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS n_distinct,
      |    CAST(SUM(c * c) AS BIGINT) AS ss
      |  FROM counts GROUP BY doc_id)
      |SELECT doc_id, n, n_distinct,
      |  CAST(n * n - ss AS DOUBLE) / CAST(n * n AS DOUBLE) AS gini
      |FROM agged ORDER BY doc_id""".stripMargin

  // ── TF-IDF keyword extraction ───────────────────────────────────────
  /** Top-k characteristic terms per document by tf-idf — the keyword
    * extractor behind corpus browsing and topic labeling. The idf is
    * RATIONAL — `(N+1)/(df+1)` instead of its log (same per-document
    * ranking for a fixed tf ordering concern; libm `log` is only
    * 1-ulp-accurate and not cross-engine bit-stable, the same reasoning
    * as [[taBm25]]) — so the score `tf·(N+1) / (df+1)` is one exact
    * int64 product and ONE correctly-rounded IEEE division: hash-exact
    * across engines. Overflow: tf ≤ doc tokens (~10^5) and N+1 ≤ 10^10
    * docs would overflow; in practice tf·(N+1) < 2^63 up to ~10^13
    * token-docs — documented bound, ANSI would raise beyond it.
    *
    * Shape: tf reduces (doc, term) with map-side partials; df re-reduces
    * the tf table (the corpus text is scanned once); the top-k window
    * runs on the scored (doc, term) table partitioned by doc — never a
    * global sort. */
  def taTfidf(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    // chunk-widened (r17, full widen in r16): matched-noise A/B put
    // the 32-task fan-out at 1.21x here — the tokenize is cheaper than
    // 32 tasks' overhead at bench scale; chunked no-ops at bench bytes
    val docs = graft.util.Par.widenChunked(Tables.documents(spark, dir))
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val tf = docs
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    tf.join(df, "term").crossJoin(broadcast(nDocs))
      .withColumn("score",
        (col("tf") * (col("n_docs") + lit(1L))).cast("double") /
          (col("df") + lit(1L)).cast("double"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score"), col("rnk"))
      .orderBy("doc_id", "rnk")
  }

  def taTfidfSql(k: Int = 3): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS term
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf FROM toks
       |  WHERE term <> '' GROUP BY doc_id, term),
       |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT t.doc_id, t.term, t.tf, d.df,
       |    CAST(t.tf * ((SELECT n_docs FROM n) + 1) AS DOUBLE)
       |      / CAST(d.df + 1 AS DOUBLE) AS score
       |  FROM tf t JOIN df d USING (term)),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, term) AS rnk
       |  FROM scored)
       |SELECT doc_id, term, tf, df, score, rnk FROM ranked
       |WHERE rnk <= $k ORDER BY doc_id, rnk""".stripMargin

  // ── Gopher-style quality-rule battery ───────────────────────────────
  /** The MassiveWeb heuristic filter battery (Rae et al. 2021, "Scaling
    * Language Models: Methods, Analysis & Insights from Training
    * Gopher", App. A): word-count bounds, mean-word-length band,
    * symbol-to-word ratio, bullet-line / ellipsis-line shares,
    * alpha-word share, and a required-stopword floor. Every ratio
    * threshold is cross-multiplied into an exact integer comparison, so
    * all nine counts and eight flags are hash-stable. One narrow
    * projection over the scan — no shuffle, codegen'd end to end; at
    * 100 TB `pass_gopher` is the first drop mask a curation pipeline
    * applies (cheapest filter, biggest volume cut, runs at
    * parquet-scan speed before any dedup shuffle).
    */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** `stopFloor`: Gopher's published floor is 2 required stopwords;
    * the synthetic corpus' vocabulary carries only one list member
    * ('the'), so the instantiated query uses floor 1 to keep every
    * flag discriminative (118/382 split) — the rule shape is
    * unchanged. */
  def taGopherFilters(spark: SparkSession, dir: String,
      stopFloor: Int = 2): DataFrame =
    gopherBattery(Tables.documents(spark, dir), stopFloor)

  /** The battery over any (doc_id, text) frame — fixture-testable. */
  def gopherBattery(docs: DataFrame, stopFloor: Int = 2): DataFrame = {
    val toks = wsTokens(col("text"))
    val lines = split(col("text"), "\n")
    val nWords = size(toks)
    val wordChars = length(regexp_replace(col("text"), "\\s", ""))
    // '#' occurrences + non-overlapping '...' occurrences (Gopher's
    // "symbol" set); replace() scans left-to-right in both engines.
    val nSym = (length(col("text")) - length(translate(col("text"), "#", ""))) +
      expr("(length(text) - length(replace(text, '...'))) div 3")
    val nLines = size(lines)
    val nBullet = size(filter(lines,
      l => l.startsWith("- ") || l.startsWith("* ")))
    val nEllEnd = size(filter(lines, l => l.endsWith("...")))
    val nAlpha = size(filter(toks, t => t.rlike("[a-z]")))
    // distinct required-stopword hits: iterate the fixed 8-word list,
    // not the document tokens (identical semantics in both engines,
    // no dedup-behavior dependence)
    val nStop = size(filter(array(GopherStops.map(lit): _*),
      s => array_contains(toks, s)))
    val base = docs.select(
      col("doc_id"), nWords.as("n_words"), wordChars.as("word_chars"),
      nSym.as("n_sym"), nLines.as("n_lines"), nBullet.as("n_bullet"),
      nEllEnd.as("n_ell_end"), nAlpha.as("n_alpha_words"),
      nStop.as("n_stop_hits"))
    val rWc = col("n_words") >= 50 && col("n_words") <= 100000
    val rWl = lit(3) * col("n_words") <= col("word_chars") &&
      col("word_chars") <= lit(10) * col("n_words")
    val rSym = lit(10) * col("n_sym") < col("n_words")
    val rBul = lit(10) * col("n_bullet") <= lit(9) * col("n_lines")
    val rEll = lit(10) * col("n_ell_end") <= lit(3) * col("n_lines")
    val rAl = lit(5) * col("n_alpha_words") >= lit(4) * col("n_words")
    val rSt = col("n_stop_hits") >= stopFloor
    base.select(col("*"),
      rWc.as("r_word_count"), rWl.as("r_word_len"), rSym.as("r_symbol"),
      rBul.as("r_bullet"), rEll.as("r_ellipsis"), rAl.as("r_alpha"),
      rSt.as("r_stop"),
      (rWc && rWl && rSym && rBul && rEll && rAl && rSt).as("pass_gopher"))
      .orderBy("doc_id")
  }

  /** The Gopher battery VERDICT as one column expression over `text` —
    * lets composite pipelines (tp_filter_funnel) evaluate the gate
    * inside the same projection as their other flags: no extra corpus
    * scan, no doc_id join back. Kept in lockstep with
    * [[gopherBattery]] by a spec asserting row-for-row equality of
    * the verdict (TextAnalysisSpec). */
  def gopherPassCol(text: Column, stopFloor: Int = 2): Column =
    gopherPassFrom(text, wsTokens(text), split(text, "\n"), stopFloor)

  /** [[gopherPassCol]] over PRE-PROJECTED token/line arrays: the
    * verdict's higher-order filters are CodegenFallback nodes that
    * re-evaluate their child per call, so a caller folding several
    * batteries into one projection should alias the split arrays in
    * an inner select (multi-referenced non-cheap aliases survive
    * CollapseProject) and pass the attributes here — each regex split
    * then runs once per row instead of once per consuming flag. */
  def gopherPassFrom(text: Column, toks: Column, lines: Column,
      stopFloor: Int): Column = {
    val nWords = size(toks)
    val wordChars = length(regexp_replace(text, "\\s", ""))
    // positive-int `div 3` as truncating cast — identical to the
    // battery's integer div for non-negative lengths
    val nSym = (length(text) - length(translate(text, "#", ""))) +
      ((length(text) - length(replace(text, lit("..."), lit("")))) /
        lit(3)).cast("int")
    val nLines = size(lines)
    val nBullet = size(filter(lines,
      l => l.startsWith("- ") || l.startsWith("* ")))
    val nEllEnd = size(filter(lines, l => l.endsWith("...")))
    val nAlpha = size(filter(toks, t => t.rlike("[a-z]")))
    val nStop = size(filter(array(GopherStops.map(lit): _*),
      s => array_contains(toks, s)))
    (nWords >= 50 && nWords <= 100000) &&
      (lit(3) * nWords <= wordChars && wordChars <= lit(10) * nWords) &&
      (lit(10) * nSym < nWords) &&
      (lit(10) * nBullet <= lit(9) * nLines) &&
      (lit(10) * nEllEnd <= lit(3) * nLines) &&
      (lit(5) * nAlpha >= lit(4) * nWords) &&
      (nStop >= stopFloor)
  }

  /** The repetition-battery verdict from an already-computed
    * [[RepetitionFunctions.repetition_stats]] struct column — same
    * single-projection composition contract as [[gopherPassCol]]
    * (callers project the struct once, then derive the verdict; the
    * battery's thresholds, verbatim). */
  def repetitionPassFromStats(s: Column): Column = {
    val wc = s.getField("word_chars")
    (lit(10L) * s.getField("dup_lines") <= lit(3L) * s.getField("n_lines")) &&
      (lit(5L) * s.getField("dup_line_chars") <= s.getField("line_chars")) &&
      (lit(5L) * s.getField("top2_chars") <= wc) &&
      (lit(50L) * s.getField("top3_chars") <= lit(9L) * wc) &&
      (lit(25L) * s.getField("top4_chars") <= lit(4L) * wc) &&
      (lit(20L) * s.getField("dup5_chars") <= lit(3L) * wc) &&
      (lit(50L) * s.getField("dup6_chars") <= lit(7L) * wc) &&
      (lit(100L) * s.getField("dup7_chars") <= lit(13L) * wc) &&
      (lit(25L) * s.getField("dup8_chars") <= lit(3L) * wc) &&
      (lit(100L) * s.getField("dup9_chars") <= lit(11L) * wc) &&
      (lit(10L) * s.getField("dup10_chars") <= wc)
  }

  def taGopherSql(stopFloor: Int = 2): String = {
    val stops = GopherStops.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    regexp_split_to_array(text, '\\s+') AS w,
       |    regexp_split_to_array(text, '\\n') AS lines,
       |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS INT)
       |      AS word_chars,
       |    CAST(length(text) - length(replace(text, '#', '')) AS INT)
       |      + CAST((length(text) - length(replace(text, '...', ''))) // 3
       |        AS INT) AS n_sym
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, word_chars, n_sym,
       |    CAST(len(w) AS INT) AS n_words,
       |    CAST(len(lines) AS INT) AS n_lines,
       |    CAST(len(list_filter(lines,
       |      x -> x LIKE '- %' OR x LIKE '* %')) AS INT) AS n_bullet,
       |    CAST(len(list_filter(lines, x -> x LIKE '%...')) AS INT)
       |      AS n_ell_end,
       |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
       |      AS INT) AS n_alpha_words,
       |    CAST(len(list_filter($stops, s -> list_contains(w, s)))
       |      AS INT) AS n_stop_hits
       |  FROM t)
       |SELECT doc_id, n_words, word_chars, n_sym, n_lines, n_bullet,
       |  n_ell_end, n_alpha_words, n_stop_hits,
       |  (n_words >= 50 AND n_words <= 100000) AS r_word_count,
       |  (3 * n_words <= word_chars AND word_chars <= 10 * n_words)
       |    AS r_word_len,
       |  (10 * n_sym < n_words) AS r_symbol,
       |  (10 * n_bullet <= 9 * n_lines) AS r_bullet,
       |  (10 * n_ell_end <= 3 * n_lines) AS r_ellipsis,
       |  (5 * n_alpha_words >= 4 * n_words) AS r_alpha,
       |  (n_stop_hits >= $stopFloor) AS r_stop,
       |  ((n_words >= 50 AND n_words <= 100000)
       |    AND (3 * n_words <= word_chars AND word_chars <= 10 * n_words)
       |    AND (10 * n_sym < n_words)
       |    AND (10 * n_bullet <= 9 * n_lines)
       |    AND (10 * n_ell_end <= 3 * n_lines)
       |    AND (5 * n_alpha_words >= 4 * n_words)
       |    AND (n_stop_hits >= $stopFloor)) AS pass_gopher
       |FROM c ORDER BY doc_id""".stripMargin
  }

  // ── tokenizer fertility ─────────────────────────────────────────────
  /** Per-language tokenizer fertility: subword-tokens-per-word and
    * bytes-per-subword-token — the stats that decide whether a
    * tokenizer is economical for a language before training on it
    * (high fertility = more sequence positions per word = higher cost
    * per document). Counts are exact integer sums; each ratio is one
    * double division of two exact integers. One scan, one tiny
    * per-lang aggregate — map-side combinable at any scale. */
  def tcFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"),
        size(wsTokens(col("text"))).cast("long").as("ws"),
        size(bpeTokens(col("text"))).cast("long").as("bpe"),
        length(col("text")).cast("long").as("chars"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("ws").as("ws_tokens"),
        sum("bpe").as("bpe_tokens"),
        sum("chars").as("n_chars"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"),
        col("bpe_tokens"), col("n_chars"),
        (col("bpe_tokens").cast("double") / col("ws_tokens").cast("double"))
          .as("fertility"),
        (col("n_chars").cast("double") / col("bpe_tokens").cast("double"))
          .as("bytes_per_token"))
      .orderBy("lang")

  val tcFertilitySql: String =
    s"""WITH t AS (
       |  SELECT lang,
       |    CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS ws,
       |    CAST(len(regexp_extract_all(text, '$BpePattern')) AS BIGINT)
       |      AS bpe,
       |    CAST(length(text) AS BIGINT) AS chars
       |  FROM documents),
       |g AS (
       |  SELECT lang, COUNT(*) AS n_docs,
       |    CAST(SUM(ws) AS BIGINT) AS ws_tokens,
       |    CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
       |    CAST(SUM(chars) AS BIGINT) AS n_chars
       |  FROM t GROUP BY lang)
       |SELECT lang, n_docs, ws_tokens, bpe_tokens, n_chars,
       |  CAST(bpe_tokens AS DOUBLE) / CAST(ws_tokens AS DOUBLE)
       |    AS fertility,
       |  CAST(n_chars AS DOUBLE) / CAST(bpe_tokens AS DOUBLE)
       |    AS bytes_per_token
       |FROM g ORDER BY lang""".stripMargin

  // ── Unicode normalization (NFC + invisible-codepoint strip) ────────
  /** Canonical text cleanup — the step every curation pipeline runs
    * BEFORE hashing/dedup/tokenization: NFC-compose canonically-
    * equivalent sequences (via the codegen'd [[NfcNormalize]]
    * expression, ASCII fast path) and strip the invisible codepoints
    * that survive NFC (zero-width space U+200B, soft hyphen U+00AD) so
    * `e`+combining-acute == U+00E9 and `foo<ZWSP>bar` == `foobar` for every
    * downstream fingerprint.
    *
    * The synthetic corpus is pure ASCII, so the query deterministically
    * injects the dirt it then cleans — identically on both sides
    * (Spark and DuckDB apply the same two replaces): docs with
    * `doc_id % 3 = 0` get a combining acute after every 'a' (NFC must
    * compose it to U+00E1), docs with `doc_id % 5 = 0` get a zero-width
    * space after every blank (the strip must remove it). The oracle's
    * `nfc_normalize` is utf8proc; the engine's is the JDK — a green
    * hash row proves the two agree codepoint-for-codepoint, and the
    * char counts pin the composition arithmetic. Narrow projection over
    * the scan: no shuffle, runs at parquet speed at 100 TB.
    */
  def taNormalize(spark: SparkSession, dir: String): DataFrame = {
    import NormalizeFunctions.nfc_normalize
    val dirty0 = when(col("doc_id") % 3 === 0,
      regexp_replace(col("text"), "a", "a\u0301")).otherwise(col("text"))
    val dirty = when(col("doc_id") % 5 === 0,
      regexp_replace(dirty0, " ", " \u200b")).otherwise(dirty0)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), dirty.as("dirty"))
      .withColumn("clean",
        regexp_replace(nfc_normalize(col("dirty")), "[\u200b\u00ad]", ""))
      .select(col("doc_id"), col("clean").as("text_norm"),
        length(col("dirty")).as("n_chars_dirty"),
        length(col("clean")).as("n_chars_norm"),
        (col("clean") =!= col("text")).as("changed"))
      .orderBy("doc_id")
  }

  /** chr(769)=U+0301 combining acute, chr(8203)=U+200B ZWSP,
    * chr(173)=U+00AD soft hyphen — spelled as chr() so the SQL file
    * stays ASCII. */
  val taNormalizeSql: String =
    """WITH d1 AS (
      |  SELECT doc_id, text,
      |    CASE WHEN doc_id % 3 = 0
      |      THEN replace(text, 'a', 'a' || chr(769)) ELSE text END AS d
      |  FROM documents),
      |d2 AS (
      |  SELECT doc_id, text,
      |    CASE WHEN doc_id % 5 = 0
      |      THEN replace(d, ' ', ' ' || chr(8203)) ELSE d END AS dirty
      |  FROM d1),
      |n AS (
      |  SELECT doc_id, text, dirty,
      |    regexp_replace(nfc_normalize(dirty),
      |      '[' || chr(8203) || chr(173) || ']', '', 'g') AS clean
      |  FROM d2)
      |SELECT doc_id, clean AS text_norm,
      |  CAST(length(dirty) AS INT) AS n_chars_dirty,
      |  CAST(length(clean) AS INT) AS n_chars_norm,
      |  (clean <> text) AS changed
      |FROM n ORDER BY doc_id""".stripMargin

  /** Accent folding over deterministically-injected diacritics — the
    * dedup-key normalizer one step past [[taNormalize]] (NFC collapses
    * equivalent BYTES; folding collapses accented and plain FORMS).
    * Injection, mirrored identically in the oracle: docs `%3` compose
    * every 'e' to é (U+00E9), docs `%5` attach a combining acute to
    * every 'a' (decomposed input — proves form-invariance), docs `%7`
    * turn every 'o' into ø, which has NO decomposition and must
    * SURVIVE the fold (accent folding is not transliteration; those
    * docs' `restored` flag is false). The engine folds via JDK
    * NFD → strip-Mn → NFC ([[NormalizeRuntime.foldAccents]]); the
    * oracle is utf8proc's `strip_accents` — a green hash row proves
    * the two pipelines agree codepoint-for-codepoint, and the char
    * counts pin the mark-drop arithmetic. Narrow projection over the
    * scan: no shuffle, parquet speed at 100 TB.
    */
  def taAccentFold(spark: SparkSession, dir: String): DataFrame = {
    import NormalizeFunctions.accent_fold
    val d1 = when(col("doc_id") % 3 === 0,
      regexp_replace(col("text"), "e", "\u00e9")).otherwise(col("text"))
    val d2 = when(col("doc_id") % 5 === 0,
      regexp_replace(d1, "a", "a\u0301")).otherwise(d1)
    val dirty = when(col("doc_id") % 7 === 0,
      regexp_replace(d2, "o", "\u00f8")).otherwise(d2)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), dirty.as("dirty"))
      .withColumn("folded", accent_fold(col("dirty")))
      .select(col("doc_id"), col("folded").as("text_fold"),
        length(col("dirty")).as("n_chars_dirty"),
        length(col("folded")).as("n_chars_fold"),
        (col("folded") === col("text")).as("restored"))
      .orderBy("doc_id")
  }

  /** chr(233)=é, chr(769)=U+0301 combining acute, chr(248)=ø. */
  val taAccentFoldSql: String =
    """WITH d1 AS (
      |  SELECT doc_id, text,
      |    CASE WHEN doc_id % 3 = 0
      |      THEN replace(text, 'e', chr(233)) ELSE text END AS d
      |  FROM documents),
      |d2 AS (
      |  SELECT doc_id, text,
      |    CASE WHEN doc_id % 5 = 0
      |      THEN replace(d, 'a', 'a' || chr(769)) ELSE d END AS d
      |  FROM d1),
      |d3 AS (
      |  SELECT doc_id, text,
      |    CASE WHEN doc_id % 7 = 0
      |      THEN replace(d, 'o', chr(248)) ELSE d END AS dirty
      |  FROM d2),
      |f AS (
      |  SELECT doc_id, text, dirty, strip_accents(dirty) AS folded
      |  FROM d3)
      |SELECT doc_id, folded AS text_fold,
      |  CAST(length(dirty) AS INT) AS n_chars_dirty,
      |  CAST(length(folded) AS INT) AS n_chars_fold,
      |  (folded = text) AS restored
      |FROM f ORDER BY doc_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("ta_normalize", taNormalize, taNormalizeSql),
    QuerySpec("ta_accent_fold", taAccentFold, taAccentFoldSql),
    QuerySpec("tc_fertility", tcFertility, tcFertilitySql),
    QuerySpec("ta_gopher_filters",
      (s, d) => taGopherFilters(s, d, stopFloor = 1),
      taGopherSql(stopFloor = 1)),
    QuerySpec("ta_tfidf", (s, d) => taTfidf(s, d), taTfidfSql()),
    QuerySpec("ta_char_gini", taCharGini, taCharGiniSql),
    QuerySpec("tc_oov_rate", (s, d) => tcOovRate(s, d), tcOovRateSql()),
    QuerySpec("ta_token_count", taTokenCount, taTokenCountSql),
    QuerySpec("ta_quality_score", taQualityScore, taQualitySql),
    QuerySpec("ta_lang_id", taLangId, taLangIdSql),
    QuerySpec("ta_redact", taRedact, taRedactSql),
    QuerySpec("ta_vocab", (s, d) => taVocab(s, d), taVocabSql()),
    QuerySpec("ta_repetition", taRepetition, taRepetitionSql),
    QuerySpec("ta_gopher_repetition", taGopherRepetition,
      taGopherRepetitionSql),
    QuerySpec("ta_bm25", taBm25, taBm25Sql),
    QuerySpec("ta_rare_bigrams", taRareBigrams, taRareBigramsSql),
    QuerySpec("ta_fingerprint", taFingerprint, taFingerprintSql))
}
