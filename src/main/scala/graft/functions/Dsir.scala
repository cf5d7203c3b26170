package graft.functions

import graft.{QueryModule, QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data Selection via Importance Resampling (DSIR-style): score every
  * raw document by how much its token distribution looks like a target
  * domain, then keep the highest-scoring slice of the corpus. The
  * public recipe (Xie et al. 2023, "Data Selection for Language Models
  * via Importance Resampling") fits two bag-of-n-grams language models
  * — one on the target set, one on the raw pool — and weights each raw
  * document by its likelihood ratio.
  *
  * Exactness twist for the oracle: the textbook weight is
  * Σ n_w·(log p_t(w) − log p_r(w)), a float sum whose value depends on
  * accumulation order — not reproducible bit-for-bit across engines or
  * cluster layouts. We instead score with the RATIO OF SMOOTHED
  * EXPECTED COUNTS, which is exact integer arithmetic end-to-end:
  *
  *   num(d) = Σ_w n_w(d)·(c_t(w)+1)      den(d) = Σ_w n_w(d)·(c_r(w)+1)
  *   weight(d) = (num·(R+V)) / (den·(T+V))
  *
  * with c_t/c_r the add-one-smoothed target/raw unigram counts, T/R the
  * target/raw token totals and V the corpus vocabulary size. Both
  * factors of the final division are exact i64 products, so the single
  * double divide is correctly rounded and identical in Spark and
  * DuckDB — the driver hash-matches. The ranking this induces is the
  * textbook ranking under a first-order (expected-count) expansion of
  * the log ratio; the monotonicity spec in DsirSpec pins the property
  * that matters (target-y docs outrank raw-y docs).
  *
  * Scale shape (100 TB): tokenize → one map-side-combined shuffle on
  * (doc_id, word) for per-doc counts; two vocabulary-sized count
  * tables (shuffle on word — corpus-vocabulary-sized, never doc-sized);
  * the scoring join shuffles doc terms against the count table on word
  * and re-aggregates on doc_id. The three scalars (T, R, V) are a
  * 1-row aggregate broadcast into the scorer. At web scale the
  * vocabulary itself is bounded by hashing words into 2^20 buckets
  * (`pmod(xxhash64(w), B)`) exactly as the DSIR paper does — a
  * one-line swap on `tok` kept un-bucketed here so the DuckDB oracle
  * can reproduce the feature space verbatim.
  *
  * Reference scope: the reference (mypipe) has no selection/curation
  * surface; this extends the training-data-pipeline tier the brief
  * asks for, alongside [[TrainPrep]]'s mixture/temperature samplers.
  */
object Dsir extends QueryModule {

  /** Per-word token stream: (doc_id, source, lang, w). */
  private def tok(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"), col("lang"),
      explode(split(col("text"), "\\s+")).as("w"))

  /** Per-document DSIR importance weights against a target slice of
    * the corpus (default: the English documents, a stand-in for "the
    * domain the eval set lives in"). Emits the exact integer numerator
    * and denominator next to the double ratio so downstream consumers
    * can re-derive the weight at any precision. */
  def dsirWeights(docs: DataFrame, targetLang: String = "en"): DataFrame = {
    val t = tok(docs)
    // per-doc term frequencies: one map-side-combined shuffle
    val docTf = t.groupBy("doc_id", "w").agg(count(lit(1)).as("n_w"))
    // BOTH language models from one token pass: the raw count and the
    // target count are two aggregates of the same word-keyed shuffle
    // (a conditional count is free next to the unconditional one),
    // not two scans and a left join
    val counts = t.groupBy("w").agg(count(lit(1)).as("c_r"),
      count(when(col("lang") === targetLang, 1)).as("c_t"))
    // T, R, V in one row, broadcast into the scorer
    val scalars = counts.agg(sum("c_t").as("big_t"), sum("c_r").as("big_r"),
      count(lit(1)).as("v"))
    docTf.join(counts, "w")
      .groupBy("doc_id")
      .agg(sum("n_w").as("n_tokens"),
        sum(col("n_w") * (col("c_t") + lit(1L))).as("dsir_num"),
        sum(col("n_w") * (col("c_r") + lit(1L))).as("dsir_den"))
      .crossJoin(broadcast(scalars))
      .select(col("doc_id"), col("n_tokens"), col("dsir_num"),
        col("dsir_den"),
        ((col("dsir_num").cast("double") * (col("big_r") + col("v")).cast("double"))
          / (col("dsir_den").cast("double") * (col("big_t") + col("v")).cast("double")))
          .as("weight"))
      .orderBy("doc_id")
  }

  private def weightsCte(targetLang: String): String =
    s"""tokens AS (
       |  SELECT doc_id, lang, source,
       |    unnest(regexp_split_to_array(text, '\\s+')) AS w
       |  FROM documents),
       |doc_tf AS (
       |  SELECT doc_id, w, COUNT(*) AS n_w FROM tokens GROUP BY 1, 2),
       |counts AS (
       |  SELECT w, COUNT(*) AS c_r,
       |    COUNT(CASE WHEN lang = '$targetLang' THEN 1 END) AS c_t
       |  FROM tokens GROUP BY w),
       |scalars AS (
       |  SELECT SUM(c_t) AS big_t, SUM(c_r) AS big_r, COUNT(*) AS v
       |  FROM counts),
       |weights AS (
       |  SELECT doc_id,
       |    CAST(SUM(n_w) AS BIGINT) AS n_tokens,
       |    CAST(SUM(n_w * (c_t + 1)) AS BIGINT) AS dsir_num,
       |    CAST(SUM(n_w * (c_r + 1)) AS BIGINT) AS dsir_den,
       |    (CAST(SUM(n_w * (c_t + 1)) AS DOUBLE)
       |       * CAST(big_r + v AS DOUBLE))
       |      / (CAST(SUM(n_w * (c_r + 1)) AS DOUBLE)
       |       * CAST(big_t + v AS DOUBLE)) AS weight
       |  FROM doc_tf JOIN counts USING (w) CROSS JOIN scalars
       |  GROUP BY doc_id, big_t, big_r, v)""".stripMargin

  val dsirWeightsSql: String =
    s"""WITH ${weightsCte("en")}
       |SELECT doc_id, n_tokens, dsir_num, dsir_den, weight
       |FROM weights ORDER BY doc_id""".stripMargin

  /** Importance resampling, realized as the deterministic top-`n`
    * slice by weight (ties broken by doc_id — a total order, so every
    * engine and layout selects the same set), summarized per source.
    * The windowed rank is a single global top-n: at scale that is
    * Spark's TakeOrdered shape (per-partition top-n, then a tiny
    * merge), never a full sort of the corpus. */
  def dsirResample(docs: DataFrame, targetLang: String = "en",
      n: Int = 120): DataFrame = {
    val sel = dsirWeights(docs, targetLang)
      .orderBy(col("weight").desc, col("doc_id"))
      .limit(n)
    docs.select(col("doc_id"), col("source"), col("n_chars"))
      .join(sel, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_sel"),
        sum("n_tokens").as("tok_sel"),
        sum("n_chars").as("chars_sel"))
      .orderBy("source")
  }

  val dsirResampleSql: String =
    s"""WITH ${weightsCte("en")},
       |sel AS (
       |  SELECT doc_id, n_tokens FROM weights
       |  ORDER BY weight DESC, doc_id LIMIT 120)
       |SELECT source, COUNT(*) AS n_sel,
       |  CAST(SUM(n_tokens) AS BIGINT) AS tok_sel,
       |  CAST(SUM(n_chars) AS BIGINT) AS chars_sel
       |FROM documents JOIN sel USING (doc_id)
       |GROUP BY source ORDER BY source""".stripMargin

  def tsDsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirWeights(Tables.documents(spark, dir))

  def tsDsirResample(spark: SparkSession, dir: String): DataFrame =
    dsirResample(Tables.documents(spark, dir))

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("ts_dsir_weights", tsDsirWeights, dsirWeightsSql),
    QuerySpec("ts_dsir_resample", tsDsirResample, dsirResampleSql))
}
