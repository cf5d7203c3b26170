package graft.functions

import graft.{QueryModule, QuerySpec, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Checkpoints.StageOps

/** Inverted-index construction and conjunctive phrase search — the IR
  * side of a corpus pipeline (dedup answers "is this text repeated?";
  * the index answers "which docs contain these terms?", the primitive
  * behind contamination lookups, targeted corpus audits, and
  * retrieval-based filtering):
  *
  *  - [[postings]]: the classic posting-list build — per-term document
  *    frequency, collection frequency, and doc_id-sorted posting +
  *    term-frequency arrays, with the stopword band diverted to a
  *    stats-only row (the same hot-key quarantine rule as the LSH
  *    bucket cap in [[Dedup]]).
  *  - [[conjunctiveSearch]]: multi-term AND search over the occurrence
  *    table — resolve the query terms, intersect their postings by
  *    doc-grouped counting (never by list materialization), rank by
  *    total term frequency.
  *
  * The indexed unit is the word BIGRAM (a phrase index), and on this
  * corpus that is load-bearing: the unigram vocabulary is ~31 tokens,
  * every one a corpus-wide stopword, so a token index would have no
  * indexable band at all — the bigram space (~1k terms) has the
  * rare-to-common spread an index exists to exploit. Both ops stay in
  * (doc, term) occurrence space: the wide ops are word-count-shaped
  * aggregations and a broadcast of the resolved query.
  */
object SearchIndex extends QueryModule {

  /** Per-(doc, bigram) occurrence counts — the map phase every index
    * build shares. Bigrams are built per-row with the same
    * slice/transform device as [[Dedup.bigramSets]] (no token-row
    * explosion before the count) and stay as strings here so the
    * DuckDB oracle can compare them; at 100 TB the term would ride as
    * xxhash64 with a dictionary side-table, exactly as
    * [[CorpusOps.surprisalScores]] does. */
  private def occurrences(docs: DataFrame): DataFrame =
    GramIndex.occurrenceCounts(docs)

  /** The occurrence CTE shared by both oracles (DuckDB side). */
  private val occSql: String =
    """occ AS (
      |  SELECT doc_id, g AS t, COUNT(*) AS tf FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(a)),
      |      i -> array_to_string(a[i:i+1], ' '))) AS g
      |    FROM (SELECT doc_id, string_split(text, ' ') AS a
      |          FROM documents)
      |    WHERE len(a) >= 2)
      |  GROUP BY doc_id, g)""".stripMargin

  // ── posting-list build ──────────────────────────────────────────────

  /** Inverted phrase index over the corpus: one row per bigram term
    * with df (number of docs), cf (total occurrences), and — for
    * terms inside the indexable band — the doc_id-sorted posting list
    * plus the aligned tf list. Hapax-ish terms (df < `dfMin`) are
    * noise and are dropped; stopword-band terms (df > `dfMax`) keep
    * their stats but carry NULL lists: a 100 TB stopword posting list
    * is a multi-GB single row, the exact pathology the LSH hot-bucket
    * cap quarantines, and real engines store that band doc-partitioned
    * instead of term-partitioned. The aligned lists are emitted as
    * comma-joined strings: the driver's oracle compare (like most
    * row-hash contracts) is defined over scalar cells, and the
    * serialized form is engine-neutral by construction.
    *
    * Scale shape: stats (df, cf) come from one word-count-shaped agg
    * over ALL terms; the collect_list pass runs on the occurrence rows
    * of BAND TERMS ONLY (a semi-join against the banded stats before
    * any list is buffered), so no aggregation buffer ever holds a
    * stop-band list — the bound is by construction, not by luck. The
    * occurrence table is computed twice (two passes over source
    * beats persisting a corpus-sized intermediate at 100 TB). */
  def postings(docs: DataFrame, dfMin: Int = 3, dfMax: Int = 20)
      : DataFrame = {
    val occ = occurrences(docs)
    val stats = occ.groupBy("t")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"))
      .filter(col("df") >= dfMin)
    val lists = occurrences(docs)
      .join(stats.filter(col("df") <= dfMax).select("t"), Seq("t"),
        "left_semi")
      .groupBy("t")
      .agg(array_sort(collect_list(struct(col("doc_id"), col("tf"))))
        .as("__p"))
      .select(col("t"),
        concat_ws(",", transform(col("__p"),
          s => s.getField("doc_id").cast("string"))).as("posting_docs"),
        concat_ws(",", transform(col("__p"),
          s => s.getField("tf").cast("string"))).as("posting_tfs"))
    stats.join(lists, Seq("t"), "left")
      .select("t", "df", "cf", "posting_docs", "posting_tfs")
      .orderBy("t")
  }

  def ixPostings(spark: SparkSession, dir: String): DataFrame =
    postings(Tables.documents(spark, dir))

  def ixPostingsSql(dfMin: Int = 3, dfMax: Int = 20): String =
    s"""WITH $occSql
       |SELECT t, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS cf,
       |  CASE WHEN COUNT(*) <= $dfMax
       |    THEN array_to_string(list(doc_id ORDER BY doc_id), ',')
       |  END AS posting_docs,
       |  CASE WHEN COUNT(*) <= $dfMax
       |    THEN array_to_string(list(tf ORDER BY doc_id), ',')
       |  END AS posting_tfs
       |FROM occ GROUP BY t HAVING COUNT(*) >= $dfMin
       |ORDER BY t""".stripMargin

  // ── conjunctive (AND) phrase search ─────────────────────────────────

  /** Top-k docs containing ALL of the query terms, ranked by summed
    * term frequency. The query is self-derived so it is non-vacuous at
    * every scale factor: the `nTerms` most frequent corpus bigrams
    * (ties broken by term text) — two everywhere-common phrases whose
    * CONJUNCTION is still selective (measured: 4 / 2 / 22 hits at
    * sf0.001 / 0.01 / 0.1). Resolution is the standard distributed
    * intersection: the tiny term list broadcasts onto the occurrence
    * table, a per-doc count(= nTerms) implements the AND — posting
    * lists are never materialized, so a stopword query term costs a
    * scan, not a hot row. The final top-k is a TakeOrderedAndProject
    * (per-partition heaps, no global sort).
    *
    * The doc metadata join runs AFTER the intersection, so it joins
    * k-ish winners — AQE sizes it as a broadcast of the small side. */
  def conjunctiveSearch(docs: DataFrame, nTerms: Int = 2, k: Int = 20)
      : DataFrame = {
    val occ = occurrences(docs)
    val queryTerms = occ.groupBy("t")
      .agg(sum("tf").as("cf"))
      .orderBy(desc("cf"), col("t"))
      .limit(nTerms)
      .select("t")
    val hits = occ.join(broadcast(queryTerms), Seq("t"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("tf").as("sum_tf"))
      .filter(col("n_terms") === nTerms)
    hits.join(docs.select("doc_id", "lang", "n_chars"), Seq("doc_id"))
      .select("doc_id", "lang", "n_chars", "sum_tf")
      .orderBy(desc("sum_tf"), col("doc_id"))
      .limit(k)
  }

  def ixConjSearch(spark: SparkSession, dir: String): DataFrame =
    conjunctiveSearch(Tables.documents(spark, dir))

  def ixConjSearchSql(nTerms: Int = 2, k: Int = 20): String =
    s"""WITH $occSql,
       |q AS (
       |  SELECT t FROM occ GROUP BY t
       |  ORDER BY SUM(tf) DESC, t LIMIT $nTerms),
       |hits AS (
       |  SELECT doc_id, COUNT(*) AS n_terms,
       |    CAST(SUM(tf) AS BIGINT) AS sum_tf
       |  FROM occ JOIN q USING (t)
       |  GROUP BY doc_id HAVING COUNT(*) = $nTerms)
       |SELECT doc_id, lang, n_chars, sum_tf
       |FROM hits JOIN documents USING (doc_id)
       |ORDER BY sum_tf DESC, doc_id LIMIT $k""".stripMargin

  // ── ranked disjunctive (OR) search, BM25-scored ─────────────────────

  private val RankK1 = 1.2d
  private val RankB = 0.75d

  /** Top-k docs matching ANY query term, BM25-ranked — the ranked-
    * retrieval complement of [[conjunctiveSearch]]'s boolean AND. The
    * query is the `nTerms` RAREST indexable phrases (df ≥ dfMin,
    * lowest df first, ties by term) — the high-idf shape ranked
    * retrieval exists for.
    *
    * Cross-engine exactness, two devices: (1) the [[TextAnalysis]]
    * BM25 idf is LOG-FREE — (N−df+0.5)/(df+0.5) — so every factor is
    * +,−,×,÷ on integer-valued doubles (exact sums; correctly-rounded
    * IEEE ops: identical on any engine, which `ln` is not); (2) each
    * per-term score rounds once to a 2^20-scaled long and the per-doc
    * disjunction SUMS LONGS — float addition across a doc's matched
    * terms would be association-order-dependent, longs commute, so the
    * ranking is bit-deterministic under any grouping order (the same
    * integer-fold rule as [[CorpusOps.surprisalScores]]).
    *
    * Scale shape: the resolved query (nTerms rows + one stats row)
    * broadcasts onto the occurrence table; doc lengths join the
    * candidate hits (AQE broadcasts the small side); final top-k is a
    * TakeOrderedAndProject. Posting lists never materialize. */
  def rankedSearch(docs: DataFrame, nTerms: Int = 3, k: Int = 10,
      dfMin: Int = 3): DataFrame = {
    val occ = occurrences(docs)
    val q = occ.groupBy("t").agg(count(lit(1)).as("df"))
      .filter(col("df") >= dfMin)
      .orderBy(col("df"), col("t"))
      .limit(nTerms)
    val lens = docs.select(col("doc_id"),
      (size(split(col("text"), " ")) - 1).cast("double").as("dl"))
    val stats = lens.agg(
      count(lit(1)).cast("double").as("n_docs"), sum("dl").as("sum_dl"))
    val idf = (col("n_docs") - col("df") + lit(0.5d)) /
      (col("df") + lit(0.5d))
    val tfd = col("tf").cast("double")
    val scoreT = idf * (tfd * lit(RankK1 + 1.0d)) /
      (tfd + lit(RankK1) * (lit(1.0d - RankB) +
        lit(RankB) * (col("dl") / (col("sum_dl") / col("n_docs")))))
    val hits = occ.join(broadcast(q), Seq("t"))
      .join(lens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("s20",
        floor(scoreT * lit(1048576.0d) + lit(0.5d)).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matched"), sum("s20").as("score20"))
    hits.join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_matched"),
        (col("score20").cast("double") / lit(1048576.0d)).as("bm25"))
      .orderBy(desc("bm25"), col("doc_id"))
      .limit(k)
  }

  def ixRankSearch(spark: SparkSession, dir: String): DataFrame =
    rankedSearch(Tables.documents(spark, dir))

  def ixRankSearchSql(nTerms: Int = 3, k: Int = 10, dfMin: Int = 3)
      : String = {
    val k1 = RankK1; val b = RankB
    s"""WITH $occSql,
       |q AS (
       |  SELECT t, COUNT(*) AS df FROM occ GROUP BY t
       |  HAVING COUNT(*) >= $dfMin ORDER BY df, t LIMIT $nTerms),
       |lens AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) - 1 AS DOUBLE) AS dl
       |  FROM documents),
       |stats AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, SUM(dl) AS sum_dl
       |  FROM lens),
       |hits AS (
       |  SELECT doc_id, COUNT(*) AS n_matched,
       |    CAST(SUM(CAST(FLOOR(
       |      ((n_docs - df + 0.5) / (df + 0.5))
       |        * (CAST(tf AS DOUBLE) * ${k1 + 1.0d})
       |        / (CAST(tf AS DOUBLE) + $k1 * (${1.0d - b}
       |          + $b * (dl / (sum_dl / n_docs))))
       |      * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT) AS score20
       |  FROM occ JOIN q USING (t) JOIN lens USING (doc_id)
       |    CROSS JOIN stats
       |  GROUP BY doc_id)
       |SELECT doc_id, lang, n_matched,
       |  CAST(score20 AS DOUBLE) / 1048576.0 AS bm25
       |FROM hits JOIN documents USING (doc_id)
       |ORDER BY bm25 DESC, doc_id LIMIT $k""".stripMargin
  }

  // ── positional phrase search ────────────────────────────────────────

  /** POSITIONAL occurrence table: one row per bigram INSTANCE with its
    * 1-based token position — the positional index layer that phrase
    * queries need and the tf-aggregated [[occurrences]] deliberately
    * discards. Never aggregated; at scale it is the term-partitioned
    * positional posting store. */
  private def positionalOccurrences(docs: DataFrame): DataFrame =
    docs
      .withColumn("__toks", split(col("text"), " "))
      .select(col("doc_id"),
        posexplode(expr("transform(slice(__toks, 1, size(__toks) - 1), " +
          "(t, i) -> concat(t, ' ', element_at(__toks, i + 2)))")))
      .select(col("doc_id"), col("col").as("t"),
        (col("pos") + 1).as("pos"))

  /** Top-k docs for an exact 3-word PHRASE, matched by positional
    * intersection over the bigram index: the phrase "w1 w2 w3" holds
    * at position p iff bigram "w1 w2" occurs at p and "w2 w3" at p+1
    * — the standard positional-postings AND, which boolean
    * conjunction ([[conjunctiveSearch]]) cannot express (it finds
    * docs with both bigrams ANYWHERE). The query is self-derived so
    * it is non-vacuous at every scale: the corpus' most frequent word
    * trigram (ties by text), split into its two overlapping bigrams.
    *
    * Scale shape: the 1-row query broadcasts onto the positional
    * table twice (each side filters to ONE term before any shuffle);
    * the adjacency join keys on (doc_id, pos) over those two already
    * candidate-sized streams; metadata joins after the winners are
    * known; top-k is a TakeOrderedAndProject. The trigram derivation
    * scan is the stand-in for a query log — it never joins the
    * positional table, it only produces the 1-row query. */
  def phraseSearch(docs: DataFrame, k: Int = 20): DataFrame = {
    val pocc = positionalOccurrences(docs)
    val top = docs
      .withColumn("__toks", split(col("text"), " "))
      .select(explode(expr(
        "transform(slice(__toks, 1, size(__toks) - 2), (t, i) -> " +
          "concat(t, ' ', element_at(__toks, i + 2), ' ', " +
          "element_at(__toks, i + 3)))")).as("tri"))
      .groupBy("tri").agg(count(lit(1)).as("cf"))
      .orderBy(desc("cf"), col("tri"))
      .limit(1)
    val q = top.select(
      expr("concat(split(tri, ' ')[0], ' ', split(tri, ' ')[1])")
        .as("t1"),
      expr("concat(split(tri, ' ')[1], ' ', split(tri, ' ')[2])")
        .as("t2"))
    // ONE pass over the positional stream for both query bigrams: the
    // 2-row (term, slot) query broadcasts onto the stream, and the
    // slot-tagged matches (candidate-sized) are checkpointed so the
    // adjacency self-join reads them twice without re-exploding the
    // corpus — the former two-join form paid the full posexplode scan
    // per bigram.
    val qTagged = q.select(posexplode(array(col("t1"), col("t2"))))
      .select(col("col").as("qt"), col("pos").as("slot"))
    val m = pocc.join(broadcast(qTagged), col("t") === col("qt"))
      .select(col("doc_id"), col("pos"), col("slot"))
      .stageCheckpoint()
    val m1 = m.filter(col("slot") === 0).select(col("doc_id"), col("pos"))
    val m2 = m.filter(col("slot") === 1)
      .select(col("doc_id"), (col("pos") - 1).as("pos"))
    val hits = m1.join(m2, Seq("doc_id", "pos"))
      .groupBy("doc_id").agg(count(lit(1)).as("phrase_tf"))
    hits.join(docs.select("doc_id", "lang", "n_chars"), Seq("doc_id"))
      .select("doc_id", "lang", "n_chars", "phrase_tf")
      .orderBy(desc("phrase_tf"), col("doc_id"))
      .limit(k)
  }

  def ixPhraseSearch(spark: SparkSession, dir: String): DataFrame =
    phraseSearch(Tables.documents(spark, dir))

  def ixPhraseSearchSql(k: Int = 20): String =
    s"""WITH poc AS (
       |  SELECT doc_id, a[i] || ' ' || a[i + 1] AS t, i AS pos
       |  FROM (SELECT doc_id, string_split(text, ' ') AS a
       |        FROM documents),
       |    UNNEST(range(1, len(a))) AS u(i)),
       |tri AS (
       |  SELECT a[i] || ' ' || a[i + 1] || ' ' || a[i + 2] AS tri
       |  FROM (SELECT doc_id, string_split(text, ' ') AS a
       |        FROM documents),
       |    UNNEST(range(1, len(a) - 1)) AS u(i)),
       |top AS (
       |  SELECT tri FROM tri GROUP BY tri
       |  ORDER BY COUNT(*) DESC, tri LIMIT 1),
       |q AS (
       |  SELECT array_to_string((string_split(tri, ' '))[1:2], ' ')
       |      AS t1,
       |    array_to_string((string_split(tri, ' '))[2:3], ' ') AS t2
       |  FROM top),
       |hits AS (
       |  SELECT p1.doc_id, COUNT(*) AS phrase_tf
       |  FROM poc p1 JOIN q ON p1.t = q.t1
       |    JOIN poc p2 ON p2.doc_id = p1.doc_id
       |      AND p2.pos = p1.pos + 1 AND p2.t = q.t2
       |  GROUP BY p1.doc_id)
       |SELECT doc_id, lang, n_chars, CAST(phrase_tf AS BIGINT)
       |    AS phrase_tf
       |FROM hits JOIN documents USING (doc_id)
       |ORDER BY phrase_tf DESC, doc_id LIMIT $k""".stripMargin

  // ── hybrid retrieval: BM25 ⊕ embedding cosine via RRF ───────────────

  private val HyTerms = 5 // rarest query-doc phrases carried to BM25
  private val HyTopC = 20 // per-channel candidate depth
  private val HyK = 10 // fused results per query

  // ── scale-adaptive vector channel (VERDICT r15 item 2) ──────────────
  /** Exact-channel budget in cosine evaluations (corpus × panel). The
    * exact panel-broadcast scan is O(n·|panel|), and in THIS benchmark
    * the panel grows with the corpus (every 100th doc), so the exact
    * channel is the one quadratic term in the suite — the r15 sweep
    * measured hy's sf10 slope at 14.7, the only one past 10. Below the
    * budget the exact scan stays (it is the oracle-identical shape and
    * cheaper than training); above it the channel probes IVF cells:
    * cells ≈ n/[[HyCellOccupancy]] (power of two), nprobe 2, so
    * evaluations fall to ~2·occupancy per query — linear per decade.
    * sf0.01/0.1/1 sit under the budget (oracle identity preserved at
    * every certification scale); sf10 (200k × 2001 = 4.0e8) trips it. */
  private[graft] val HyExactBudget = 100000000L // 1e8 cosine evals
  private val HyCellOccupancy = 2048L
  private val HyNprobe = 3 // 3 of >=8 cells; at sf10's 128 cells ~2.3%

  /** Smallest power-of-two cell count in [8, 1024] holding mean cell
    * occupancy ≤ [[HyCellOccupancy]] — the [[Similarity.deriveBits]]
    * integer rule applied to the coarse quantizer. */
  private[graft] def hyCells(n: Long): Int =
    (3 to 10).map(1 << _).find(_ * HyCellOccupancy >= n).getOrElse(1024)

  /** The vector channel: per-panel-query top-[[HyTopC]] by exact cosine
    * — served by the exact broadcast scan under the budget, IVF-probed
    * cells above it (or as forced). Returns (q_id, c_id, rank_v). */
  private[graft] def hyVecChannel(emb: DataFrame,
      forceIvf: Option[Boolean] = None): DataFrame = {
    val panel = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // the corpus count the auto-sized LSH bits read too (one memo)
    lazy val n = Similarity.corpusCount(emb)
    val useIvf = forceIvf.getOrElse {
      // panel is every 100th id → |panel| ≈ n/100 + 1 (integer math,
      // overflow-safe for any real corpus: n ≤ 3e9 keeps the product
      // in range; past that the branch is trivially true)
      n > 3000000000L || n * (n / 100L + 1L) > HyExactBudget
    }
    if (!useIvf)
      graft.plans.TopKPerKey.topKPerKey(
          emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
            .join(broadcast(panel), col("c_id") =!= col("q_id"))
            .withColumn("cos", Similarity.cosine(col("q_vec"), col("c_vec")))
            .select("q_id", "c_id", "cos"),
          Seq("q_id"), Seq(("cos", true), ("c_id", false)), HyTopC,
          rankName = "rank_v")
        .select("q_id", "c_id", "rank_v")
    else {
      // train-once (centroid memo) coarse quantizer; assignment is the
      // zero-shuffle literal argmin, probing reads nprobe cells/query
      val centroids = Ivf.trainCentroids(emb, hyCells(n), iters = 2)
      Ivf.topKIvf(emb.filter(col("vec_id") % 100 === 0), emb, centroids,
          HyTopC, HyNprobe, excludeSelf = true)
        .select(col("q_id"), col("c_id"), col("rank").as("rank_v"))
    }
  }

  /** Hybrid more-like-this retrieval — THE canonical RAG/dedup-triage
    * shape: for each query document, retrieve lexically (BM25 over its
    * [[HyTerms]] rarest indexable phrases — the high-idf "what makes
    * this doc distinctive" query) AND semantically (embedding cosine,
    * `documents.doc_id` ↔ `embeddings.vec_id` are aligned), then fuse
    * the two top-[[HyTopC]] lists by reciprocal-rank fusion. Channels
    * catch what the other misses: paraphrases share no phrase but sit
    * close in embedding space; rare-term matches can be cosine-distant.
    *
    * Hash-exactness: the BM25 channel reuses [[rankedSearch]]'s
    * log-free idf + per-term 2²⁰-scaled integer fold; cosine is the
    * oracled [[Similarity.cosine]]; each RRF contribution is one
    * correctly-rounded division 1/(60+rank) and the fusion is one
    * addition — the [[Similarity.rrfFusion]] device, so ranks compare
    * bit-exactly cross-engine.
    *
    * Scale shape: the query panel is bounded (broadcasts); the text
    * channel joins the panel's ≤ 5·|panel| terms against the
    * occurrence table BY TERM (postings discipline — no doc×doc); the
    * vector channel is scale-adaptive ([[hyVecChannel]]): the oracled
    * exact panel-broadcast scan under [[HyExactBudget]], IVF-probed
    * cells above it — the fused SHAPE is unchanged either way, and the
    * IVF shape's recall is gated by the oracled `hy_vec_recall` row;
    * the fusion union-aggregate touches only 2·[[HyTopC]] rows per
    * query.
    */
  def hyHybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val occ = occurrences(docs)
    val dfc = occ.groupBy("t").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
    val wT = Window.partitionBy("q_id").orderBy(col("df"), col("t"))
    val qt = occ.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("q_id"), col("t"))
      .join(dfc, "t")
      .withColumn("rn", row_number().over(wT))
      .filter(col("rn") <= HyTerms)
      .select("q_id", "t", "df")
    val lens = docs.select(col("doc_id").as("c_id"),
      (size(split(col("text"), " ")) - 1).cast("double").as("dl"))
    val stats = lens.agg(count(lit(1)).cast("double").as("n_docs"),
      sum("dl").as("sum_dl"))
    val idf = (col("n_docs") - col("df") + lit(0.5d)) /
      (col("df") + lit(0.5d))
    val tfd = col("tf").cast("double")
    val scoreT = idf * (tfd * lit(RankK1 + 1.0d)) /
      (tfd + lit(RankK1) * (lit(1.0d - RankB) +
        lit(RankB) * (col("dl") / (col("sum_dl") / col("n_docs")))))
    // per-query BM25 ranking on the native heap (partial phase bounds
    // the rank exchange to ≤ |Q|·HyTopC per partition), replacing the
    // WindowGroupLimit + sort form
    val textTop = graft.plans.TopKPerKey.topKPerKey(
        broadcast(qt)
          .join(occ.select(col("doc_id").as("c_id"), col("t"), col("tf")),
            "t")
          .filter(col("c_id") =!= col("q_id"))
          .join(lens, "c_id")
          .crossJoin(broadcast(stats))
          .withColumn("s20",
            floor(scoreT * lit(1048576.0d) + lit(0.5d)).cast("long"))
          .groupBy("q_id", "c_id")
          .agg(count(lit(1)).as("n_matched"), sum("s20").as("score20")),
        Seq("q_id"), Seq(("score20", true), ("c_id", false)), HyTopC,
        rankName = "rank_t")
      .select("q_id", "c_id", "n_matched", "rank_t")
    val emb = Tables.embeddings(spark, dir)
    // scale-adaptive vector channel: the exact panel-broadcast heap
    // scan under [[HyExactBudget]], IVF-probed cells above it (the one
    // superlinear term this suite had at sf10 — see [[hyVecChannel]])
    val vecTop = hyVecChannel(emb)
    // RRF fusion as union + hash aggregate, NOT a full-outer join of
    // the two ranked lists: each channel contributes (q_id, c_id,
    // 1/(60+rank)) rows and the fused score is their per-(q,c) SUM —
    // semantically identical (IEEE addition of ≤2 positive terms is
    // order-independent; a single term + 0.0 is the term), but the
    // full-outer form planned as a SortMergeJoin (exchange + two sorts
    // over the candidate lists) where the union aggregates with one
    // exchange and zero sorts. Scales as O(channels · |Q| · k) rows
    // regardless of corpus size.
    val tRows = textTop.select(col("q_id"), col("c_id"),
      col("n_matched"), col("rank_t").cast("double").as("r"),
      lit(1).as("ch"))
    val vRows = vecTop.select(col("q_id"), col("c_id"),
      lit(0L).as("n_matched"), col("rank_v").cast("double").as("r"),
      lit(2).as("ch"))
    val wF = Window.partitionBy("q_id").orderBy(col("rrf").desc, col("c_id"))
    tRows.unionAll(vRows)
      .groupBy("q_id", "c_id")
      .agg(sum(lit(1.0d) / (lit(60.0d) + col("r"))).as("rrf"),
        max(when(col("ch") === 1, col("n_matched"))).as("__nm"),
        max(col("ch") === 1).as("in_text"),
        max(col("ch") === 2).as("in_vec"))
      .withColumn("rank", row_number().over(wF))
      .filter(col("rank") <= HyK)
      .select(col("q_id"), col("c_id"),
        coalesce(col("__nm"), lit(0L)).as("n_matched"),
        col("in_text"), col("in_vec"), col("rrf"), col("rank"))
      .orderBy("q_id", "rank")
  }

  def hyHybridRrfSql: String = {
    val k1 = RankK1; val b = RankB
    s"""WITH $occSql,
       |dfc AS (
       |  SELECT t, COUNT(*) AS df FROM occ GROUP BY t
       |  HAVING COUNT(*) >= 2),
       |qt AS (
       |  SELECT q_id, t, df FROM (
       |    SELECT occ.doc_id AS q_id, occ.t, dfc.df,
       |      ROW_NUMBER() OVER (PARTITION BY occ.doc_id
       |        ORDER BY dfc.df, occ.t) AS rn
       |    FROM occ JOIN dfc USING (t)
       |    WHERE occ.doc_id % 100 = 0)
       |  WHERE rn <= $HyTerms),
       |lens AS (
       |  SELECT doc_id AS c_id,
       |    CAST(len(string_split(text, ' ')) - 1 AS DOUBLE) AS dl
       |  FROM documents),
       |stats AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, SUM(dl) AS sum_dl
       |  FROM lens),
       |th AS (
       |  SELECT q_id, o.doc_id AS c_id, COUNT(*) AS n_matched,
       |    CAST(SUM(CAST(FLOOR(
       |      ((n_docs - df + 0.5) / (df + 0.5))
       |        * (CAST(tf AS DOUBLE) * ${k1 + 1.0d})
       |        / (CAST(tf AS DOUBLE) + $k1 * (${1.0d - b}
       |          + $b * (dl / (sum_dl / n_docs))))
       |      * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT) AS score20
       |  FROM qt JOIN occ o USING (t)
       |    JOIN lens ON lens.c_id = o.doc_id
       |    CROSS JOIN stats
       |  WHERE o.doc_id <> q_id
       |  GROUP BY q_id, o.doc_id),
       |tr AS (
       |  SELECT q_id, c_id, n_matched, rank_t FROM (
       |    SELECT q_id, c_id, n_matched,
       |      ROW_NUMBER() OVER (PARTITION BY q_id
       |        ORDER BY score20 DESC, c_id) AS rank_t
       |    FROM th)
       |  WHERE rank_t <= $HyTopC),
       |vp AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |    ${Similarity.cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id % 100 = 0),
       |vr AS (
       |  SELECT q_id, c_id, rank_v FROM (
       |    SELECT q_id, c_id,
       |      ROW_NUMBER() OVER (PARTITION BY q_id
       |        ORDER BY cos DESC, c_id) AS rank_v
       |    FROM vp)
       |  WHERE rank_v <= $HyTopC),
       |fused AS (
       |  SELECT COALESCE(tr.q_id, vr.q_id) AS q_id,
       |    COALESCE(tr.c_id, vr.c_id) AS c_id,
       |    tr.n_matched, tr.rank_t, vr.rank_v,
       |    (CASE WHEN tr.rank_t IS NULL THEN 0.0
       |          ELSE 1.0 / (60.0 + CAST(tr.rank_t AS DOUBLE)) END) +
       |    (CASE WHEN vr.rank_v IS NULL THEN 0.0
       |          ELSE 1.0 / (60.0 + CAST(vr.rank_v AS DOUBLE)) END)
       |      AS rrf
       |  FROM tr FULL OUTER JOIN vr
       |    ON tr.q_id = vr.q_id AND tr.c_id = vr.c_id)
       |SELECT q_id, c_id, COALESCE(n_matched, 0) AS n_matched,
       |  (rank_t IS NOT NULL) AS in_text,
       |  (rank_v IS NOT NULL) AS in_vec, rrf,
       |  CAST(rank AS INT) AS rank
       |FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY rrf DESC, c_id) AS rank
       |  FROM fused)
       |WHERE rank <= $HyK
       |ORDER BY q_id, rank""".stripMargin
  }

  /** Recall gate for the ADAPTIVE (IVF-probed) vector-channel shape,
    * run with the IVF path FORCED ON at gate scale so the shape the
    * big-corpus branch serves is certified by the sf0.01 oracle run
    * (the [[Similarity.recallGate]] pattern, with a per-query minimum
    * in place of the hit fraction): [[Similarity.recallAtK]] of the IVF
    * top-C against the exact top-C per panel query. Observed sf0.01:
    * mean ≈ 0.75+, every query ≥ 25%; HybridSpec pins tighter values. */
  def hyVecRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.recallAtK(hyVecChannel(emb, forceIvf = Some(false)),
        hyVecChannel(emb, forceIvf = Some(true)))
      .agg(count(lit(1)).as("n_queries"),
        (avg(col("recall_at_k")) >= 0.5).as("mean_recall_ok"),
        (min(col("recall_at_k")) >= 0.2).as("min_recall_ok"))
  }

  def hyVecRecallSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
      |  TRUE AS mean_recall_ok, TRUE AS min_recall_ok
      |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("ix_postings", ixPostings, ixPostingsSql()),
    QuerySpec("ix_conj_search", ixConjSearch, ixConjSearchSql()),
    QuerySpec("ix_rank_search", ixRankSearch, ixRankSearchSql()),
    QuerySpec("ix_phrase_search", ixPhraseSearch, ixPhraseSearchSql()),
    QuerySpec("hy_hybrid_rrf", hyHybridRrf, hyHybridRrfSql),
    QuerySpec("hy_vec_recall", hyVecRecall, hyVecRecallSql))
}
