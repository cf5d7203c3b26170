package graft.functions

import graft.{QueryModule, QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Statistical language-model scoring over the documents table — the
  * KenLM-shaped quality gate of a pretraining pipeline: train n-gram
  * statistics on the corpus, then score every document by how probable
  * its token transitions are under the trained model (CCNet-style
  * filtering keeps the low-perplexity tail).
  *
  * Scoring uses the MEAN SMOOTHED TRANSITION PROBABILITY rather than
  * mean log-probability: each per-bigram probability
  * `(c(w1,w2) + 1) / (c(w1) + V)` (add-one smoothing) is a single
  * correctly-rounded IEEE division of exact integers, and the per-doc
  * sum folds in token-position order on both engines — so the score is
  * bit-identical to the oracle. `log()` would not be: libm and JVM
  * `Math.log` disagree in the last ulp, so a log-based perplexity can
  * never be hash-compared across engines. The probability mean induces
  * the same quality ORDERING use cases (gate by percentile) while
  * staying exactly verifiable.
  *
  * 100 TB shape: the trained model is the (w1, w2) count table — a
  * corpus-wide aggregate orders of magnitude smaller than the corpus —
  * and scoring is two hash joins (bigram → bigram count, bigram →
  * prefix count) plus one per-doc fold whose state is bounded by
  * document length. No driver-side model, no UDFs: the fold is a
  * codegen'd `aggregate` over a position-sorted array.
  */
object LangModel extends QueryModule {

  /** Bigram expansion over an already-tokenized (doc_id, a) frame —
    * split out so [[scoredDocs]] can feed its consumers from ONE
    * materialized tokenize pass. */
  private def bigramsFromToks(toks: DataFrame): DataFrame =
    toks
      .filter(size(col("a")) >= 2)
      .select(col("doc_id"),
        posexplode(expr(
          "zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1)," +
            " (x, y) -> struct(x AS w1, y AS w2))")))
      .select(col("doc_id"), col("pos"), col("col.w1").as("w1"),
        col("col.w2").as("w2"))

  /** (doc_id, n_bigrams, mean_p) for every doc with >= 2 tokens —
    * the shared train-and-score frame behind [[tcBigramLm]] and
    * [[qlLmBuckets]]. */
  private def scoredDocs(docs0: DataFrame): DataFrame = {
    // stageCheckpoint (r17, guide §6 reuse / VERDICT r16 item 8): the
    // four consumer subtrees (big join probe, c12, c1, vocab) used to
    // RE-RUN tokenize+zip+explode each — the regex battery, the
    // expensive part, now executes exactly once and the consumers read
    // the materialized (doc_id, tokens) leaf; the cheap array
    // expansion below stays lazy per consumer
    // (the r16 full widen on this entry became chunked in r17: with
    // the tokenize materialized once, A/B showed the 32-task fan-out
    // at 1.06-1.13x at bench scale; chunked no-ops there and widens
    // the single tokenize pass with the corpus)
    import graft.util.Checkpoints.StageOps
    val toks = graft.util.Par.widenChunked(docs0)
      .select(col("doc_id"), TextAnalysis.wsTokens(col("text")).as("a"))
      .stageCheckpoint()
    val big = bigramsFromToks(toks)
    val c12 = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = big.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = toks
      .select(explode(col("a")).as("t"))
      .agg(countDistinct("t").as("v"))
    big
      .join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("p",
        (col("c12") + lit(1L)).cast("double") /
          (col("c1") + col("v")).cast("double"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        aggregate(array_sort(collect_list(struct(col("pos"), col("p")))),
          lit(0.0d), (acc, x) => acc + x.getField("p")).as("sum_p"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("sum_p") / col("n_bigrams").cast("double")).as("mean_p"))
  }

  /** Train on the corpus, score every document: mean add-one-smoothed
    * transition probability over the doc's bigrams in position order. */
  def tcBigramLm(spark: SparkSession, dir: String): DataFrame =
    scoredDocs(Tables.documents(spark, dir)).orderBy("doc_id")

  /** CCNet-style per-language perplexity bucketing (Wenzek et al.
    * 2020): score every doc under the corpus-trained bigram LM, then
    * NTILE(3) WITHIN each language ordered best-score-first — bucket 1
    * = "head" (most fluent third), 2 = "middle", 3 = "tail"; the
    * standard CCNet gate keeps head+middle. Ordering is (mean_p DESC,
    * doc_id) — mean_p is bit-identical across engines (single
    * correctly-rounded divisions of exact integers, position-ordered
    * fold), so the tiles are hash-comparable.
    *
    * 100 TB shape: the window runs over the doc-level SCORE table
    * (one narrow row per document — orders of magnitude smaller than
    * the corpus), partitioned by language, so the sort is per-language
    * over scalars. At extreme per-language cardinality the same gate
    * can be taken from two approx-percentile thresholds instead of
    * exact tiles; exact tiles are used here because the driver oracle
    * compares row-level assignments. */
  def qlLmBuckets(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang")
      .orderBy(col("mean_p").desc, col("doc_id").asc)
    scoredDocs(docs)
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .withColumn("bucket", ntile(3).over(w).cast("long"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("mean_p"),
        col("bucket"),
        when(col("bucket") === 1L, "head")
          .when(col("bucket") === 2L, "middle")
          .otherwise("tail").as("bucket_label"),
        (col("bucket") <= 2L).as("keep"))
      .orderBy("doc_id")
  }

  val tcBigramLmSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS a
      |  FROM documents),
      |big AS (
      |  SELECT doc_id, i AS pos, a[i] AS w1, a[i + 1] AS w2
      |  FROM toks, UNNEST(range(1, len(a))) AS t(i)
      |  WHERE len(a) >= 2),
      |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
      |c1 AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1),
      |v AS (SELECT COUNT(DISTINCT t) AS v
      |      FROM (SELECT UNNEST(a) AS t FROM toks)),
      |scored AS (
      |  SELECT b.doc_id, b.pos,
      |    CAST(c12.c12 + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE) AS p
      |  FROM big b
      |  JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
      |  JOIN c1 ON b.w1 = c1.w1
      |  CROSS JOIN v)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    list(p ORDER BY pos)), (x, y) -> x + y)
      |    / CAST(COUNT(*) AS DOUBLE) AS mean_p
      |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** DuckDB oracle for [[qlLmBuckets]]: the same scored CTE chain as
    * [[tcBigramLmSql]], joined with the doc language and tiled with
    * the identical (mean_p DESC, doc_id) NTILE ordering. */
  val qlLmBucketsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS a
      |  FROM documents),
      |big AS (
      |  SELECT doc_id, i AS pos, a[i] AS w1, a[i + 1] AS w2
      |  FROM toks, UNNEST(range(1, len(a))) AS t(i)
      |  WHERE len(a) >= 2),
      |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
      |c1 AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1),
      |v AS (SELECT COUNT(DISTINCT t) AS v
      |      FROM (SELECT UNNEST(a) AS t FROM toks)),
      |scored AS (
      |  SELECT b.doc_id, b.pos,
      |    CAST(c12.c12 + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE) AS p
      |  FROM big b
      |  JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
      |  JOIN c1 ON b.w1 = c1.w1
      |  CROSS JOIN v),
      |m AS (
      |  SELECT doc_id, COUNT(*) AS n_bigrams,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list(p ORDER BY pos)), (x, y) -> x + y)
      |      / CAST(COUNT(*) AS DOUBLE) AS mean_p
      |  FROM scored GROUP BY doc_id),
      |tiled AS (
      |  SELECT m.doc_id, d.lang, m.n_bigrams, m.mean_p,
      |    CAST(NTILE(3) OVER (PARTITION BY d.lang
      |      ORDER BY m.mean_p DESC, m.doc_id) AS BIGINT) AS bucket
      |  FROM m JOIN documents d ON m.doc_id = d.doc_id)
      |SELECT doc_id, lang, n_bigrams, mean_p, bucket,
      |  CASE WHEN bucket = 1 THEN 'head'
      |       WHEN bucket = 2 THEN 'middle' ELSE 'tail' END AS bucket_label,
      |  (bucket <= 2) AS keep
      |FROM tiled ORDER BY doc_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("tc_bigram_lm", tcBigramLm, tcBigramLmSql),
    QuerySpec("ql_lm_buckets", qlLmBuckets, qlLmBucketsSql))
}
