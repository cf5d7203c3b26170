package graft.functions

import graft.{QueryModule, QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Checkpoints.StageOps

/** Training-data preparation operators: overlapping token-window
  * chunking and deterministic train/test splitting. Both are pure
  * per-row column algebra (chunking) or integer hashing (splits) — no
  * RNG state, no shuffle, reproducible across runs and engines, which
  * is what makes dataset builds auditable at 100 TB.
  */
object TrainPrep extends QueryModule {

  /** Overlapping token-window chunks: windows of `size` tokens every
    * `stride` tokens (last window truncated). The number of chunks for
    * n tokens is 1 if n ≤ size else ⌈(n-size)/stride⌉ + 1. */
  def tcChunking(spark: SparkSession, dir: String,
      size: Int = 32, stride: Int = 24): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("__toks", split(col("text"), "\\s+"))
      .withColumn("__n", org.apache.spark.sql.functions.size(col("__toks")))
      .withColumn("__nchunks",
        when(col("__n") <= size, 1).otherwise(
          expr(s"CAST((__n - $size + $stride - 1) div $stride AS INT) + 1")))
      .select(col("doc_id"),
        explode(expr(
          s"transform(sequence(0, __nchunks - 1), " +
            s"i -> array_join(slice(__toks, i * $stride + 1, $size), ' '))"))
          .as("chunk"))
      .orderBy("doc_id", "chunk")

  def tcChunkingSql(size: Int = 32, stride: Int = 24): String =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS arr,
       |    len(regexp_split_to_array(text, '\\s+')) AS n
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, arr,
       |    CASE WHEN n <= $size THEN 1
       |         ELSE CAST((n - $size + $stride - 1) // $stride AS INT) + 1
       |    END AS nchunks
       |  FROM t)
       |SELECT doc_id,
       |  unnest(list_transform(range(0, nchunks),
       |    i -> array_to_string(
       |      arr[(i * $stride + 1):(i * $stride + $size)], ' '))) AS chunk
       |FROM c ORDER BY doc_id, chunk""".stripMargin

  /** Deterministic train/val/test assignment by integer hashing of the
    * stable id — the same row lands in the same split on every engine
    * and every run (Knuth multiplicative hash, pure i64 arithmetic).
    *
    * Overflow-safe at any id: the id is first reduced into [0, 1000003)
    * (pmod a prime), so the product is < 2^52 — no i64 wrap under ANSI
    * mode, no engine divergence, and negative ids hash like any other
    * value instead of all landing in 'train'. */
  private val SplitPrime = 1000003L
  private def splitHash(idCol: String): String =
    s"pmod(pmod($idCol, $SplitPrime) * 2654435761, 100)"

  def splitCol(idCol: String): org.apache.spark.sql.Column =
    when(expr(splitHash(idCol)) < 80, "train")
      .when(expr(splitHash(idCol)) < 90, "val")
      .otherwise("test")

  def tsHashSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("split", splitCol("doc_id"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"))
      .orderBy("split", "lang")

  val tsHashSplitSql: String =
    """SELECT split, lang, COUNT(*) AS n, MIN(doc_id) AS min_id FROM (
      |  SELECT doc_id, lang,
      |    CASE WHEN ((((doc_id % 1000003) + 1000003) % 1000003)
      |                * 2654435761) % 100 < 80 THEN 'train'
      |         WHEN ((((doc_id % 1000003) + 1000003) % 1000003)
      |                * 2654435761) % 100 < 90 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents)
      |GROUP BY split, lang ORDER BY split, lang""".stripMargin

  /** Deterministic stratified sampling: keep a fixed per-stratum
    * percentage by thresholding the same overflow-safe id hash the
    * splits use — reproducible on any engine/run (no RNG state), and
    * the SAMPLE decision for a row never changes as the corpus grows,
    * which is what makes incremental dataset rebuilds stable. Rates
    * are whole percents per stratum; unlisted strata are dropped. */
  def tsStratifiedSample(spark: SparkSession, dir: String,
      rates: Map[String, Int] = Map("en" -> 50, "de" -> 20, "zh" -> 100))
      : DataFrame = {
    val rateCol = rates.foldLeft(lit(-1)) { case (acc, (lang, pct)) =>
      when(col("lang") === lang, lit(pct)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .withColumn("__rate", rateCol)
      .filter(expr(splitHash("doc_id")) < col("__rate"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"), min("doc_id").as("min_id"),
        max("doc_id").as("max_id"))
      .orderBy("lang")
  }

  val tsStratifiedSampleSql: String =
    """SELECT lang, COUNT(*) AS n_sampled, MIN(doc_id) AS min_id,
      |  MAX(doc_id) AS max_id
      |FROM (
      |  SELECT doc_id, lang,
      |    ((((doc_id % 1000003) + 1000003) % 1000003) * 2654435761) % 100
      |      AS h,
      |    CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 20 WHEN 'zh' THEN 100
      |      ELSE -1 END AS rate
      |  FROM documents)
      |WHERE h < rate
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** Deterministic source-mixture downsampling — the weighting step
    * that rebalances a multi-source corpus to target proportions
    * (the Pile / Dolma-style mixture table). Keep-rate is a whole
    * percent per source (here a linear schedule over the source index,
    * a stand-in for a real mixture table); the keep decision hashes the
    * doc id with a salt DIFFERENT from the split hash, so mixture and
    * split stay independent coin flips. No shuffle at all until the
    * per-source summary — the gate itself is a narrow filter. */
  def tsMixture(spark: SparkSession, dir: String): DataFrame = {
    val h = s"pmod(pmod(doc_id + 37, $SplitPrime) * 2654435761, 100)"
    Tables.documents(spark, dir)
      .withColumn("__n_tok",
        size(TextAnalysis.wsTokens(col("text"))).cast("long"))
      .withColumn("__rate",
        lit(100) - lit(4) *
          regexp_extract(col("source"), "src(\\d+)", 1).cast("int"))
      .withColumn("__keep", expr(h) < col("__rate"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"),
        count(when(col("__keep"), 1)).as("n_kept"),
        sum(when(col("__keep"), col("__n_tok")).otherwise(0L))
          .as("kept_tok"))
      .orderBy("source")
  }

  val tsMixtureSql: String =
    """WITH rated AS (
      |  SELECT doc_id, source,
      |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tok,
      |    100 - 4 * CAST(regexp_extract(source, 'src(\d+)', 1) AS INT)
      |      AS rate,
      |    ((((doc_id + 37) % 1000003) + 1000003) % 1000003
      |      * 2654435761) % 100 AS h
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_total,
      |  COUNT(CASE WHEN h < rate THEN 1 END) AS n_kept,
      |  CAST(SUM(CASE WHEN h < rate THEN n_tok ELSE 0 END) AS BIGINT)
      |    AS kept_tok
      |FROM rated GROUP BY source ORDER BY source""".stripMargin

  /** Temperature-reweighted source mixture — the multilingual/
    * multi-source rebalancing rule (sample source s proportionally to
    * n_s^α): α = 0.5 here so the weight is `sqrt`, which IEEE-754
    * guarantees correctly rounded — unlike `pow`, whose last-ulp
    * behavior differs across libm implementations, sqrt can be
    * hash-compared across engines. The normalizer folds the (few)
    * per-source weights in source order, so even the double sum is
    * engine-exact. One aggregate + a broadcast of one row. */
  def tsTemperature(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("weight", sqrt(col("n_docs").cast("double")))
    val z = counts.agg(
      aggregate(
        array_sort(collect_list(struct(col("source"), col("weight")))),
        lit(0.0d), (a, x) => a + x.getField("weight")).as("z"),
      sum("n_docs").as("n_total"))
    counts.crossJoin(broadcast(z))
      .withColumn("share", col("weight") / col("z"))
      .withColumn("target_docs",
        floor(col("share") * col("n_total").cast("double") + lit(0.5d))
          .cast("long"))
      .select("source", "n_docs", "weight", "share", "target_docs")
      .orderBy("source")
  }

  val tsTemperatureSql: String =
    """WITH c AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    sqrt(CAST(COUNT(*) AS DOUBLE)) AS weight
      |  FROM documents GROUP BY source),
      |z AS (
      |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list(weight ORDER BY source)), (x, y) -> x + y) AS z,
      |    CAST(SUM(n_docs) AS BIGINT) AS n_total
      |  FROM c)
      |SELECT source, n_docs, weight, weight / z.z AS share,
      |  CAST(FLOOR(weight / z.z * CAST(n_total AS DOUBLE) + 0.5)
      |    AS BIGINT) AS target_docs
      |FROM c, z ORDER BY source""".stripMargin

  /** Exact token-budget apportionment across sources by the largest-
    * remainder (Hamilton) method — the step AFTER a mixture table is
    * chosen: a training run has a hard token budget B and the
    * per-source allocations must sum to EXACTLY B, which
    * [[tsTemperature]]'s independent rounding cannot guarantee. Every
    * step is 64-bit integer arithmetic (floor_i = ⌊B·w_i/W⌋; the
    * R = B − Σfloor_i leftovers go to the R largest remainders
    * (B·w_i) mod W, ties broken by source), so the allocation is
    * bit-identical on any engine and Σalloc = B by construction.
    *
    * The budget self-scales (B = W div 3) so the query is non-vacuous
    * at every scale factor. Scale shape: one corpus agg to per-source
    * token counts, then ALL remaining work — the 1-row total, the
    * remainder rank window, the leftover assignment — runs on the
    * #sources-row table (tens of rows at any corpus size; the
    * single-partition window is over that tiny table, never the
    * corpus). Overflow-safe: B·w_i < W² ≤ 2^63 for corpora under ~3
    * trillion tokens per agg scope; shard the apportionment by corpus
    * slice beyond that. */
  def budgetAllocation(docs: DataFrame, budgetDen: Int = 3): DataFrame = {
    val w = docs
      .withColumn("__n_tok",
        size(TextAnalysis.wsTokens(col("text"))).cast("long"))
      .groupBy("source")
      .agg(sum("__n_tok").as("w_tok"))
    val tot = w.agg(sum("w_tok").as("W"))
      .withColumn("B", expr(s"W div $budgetDen"))
    val ranked = w.crossJoin(broadcast(tot))
      .withColumn("floor_alloc", expr("(B * w_tok) div W"))
      .withColumn("remainder", expr("(B * w_tok) % W"))
      // constant-but-non-foldable partition key (the
      // [[Ivf.seedCentroids]] device): the window ranks the
      // #sources-row aggregate, so one partition is correct and
      // bounded — but a bare Window.orderBy trips the planner's
      // "No Partition Defined" warning on every run
      .withColumn("rk", row_number().over(
        Window.partitionBy(pmod(col("w_tok"), lit(1L)))
          .orderBy(col("remainder").desc, col("source"))))
    val leftovers = ranked
      .agg((max("B") - sum("floor_alloc")).as("R"))
    ranked.crossJoin(broadcast(leftovers))
      .withColumn("extra", when(col("rk") <= col("R"), 1L).otherwise(0L))
      .select(col("source"), col("w_tok"), col("floor_alloc"),
        col("remainder"), col("extra"),
        (col("floor_alloc") + col("extra")).as("alloc"))
      .orderBy("source")
  }

  def tsBudgetAlloc(spark: SparkSession, dir: String): DataFrame =
    budgetAllocation(Tables.documents(spark, dir))

  def tsBudgetAllocSql(budgetDen: Int = 3): String =
    s"""WITH w AS (
       |  SELECT source,
       |    CAST(SUM(len(regexp_split_to_array(text, '\\s+'))) AS BIGINT)
       |      AS w_tok
       |  FROM documents GROUP BY source),
       |tot AS (
       |  SELECT CAST(SUM(w_tok) AS BIGINT) AS W,
       |    CAST(SUM(w_tok) AS BIGINT) // $budgetDen AS B FROM w),
       |ranked AS (
       |  SELECT source, w_tok, (B * w_tok) // W AS floor_alloc,
       |    (B * w_tok) % W AS remainder, B,
       |    ROW_NUMBER() OVER (ORDER BY (B * w_tok) % W DESC, source)
       |      AS rk
       |  FROM w, tot),
       |lo AS (SELECT MAX(B) - SUM(floor_alloc) AS R FROM ranked)
       |SELECT source, w_tok, floor_alloc, remainder,
       |  CAST(CASE WHEN rk <= R THEN 1 ELSE 0 END AS BIGINT) AS extra,
       |  CAST(floor_alloc + CASE WHEN rk <= R THEN 1 ELSE 0 END
       |    AS BIGINT) AS alloc
       |FROM ranked, lo ORDER BY source""".stripMargin

  /** Data-constrained epoch planning (the Muennighoff et al. 2023
    * regime: when the token budget exceeds the corpus, repeat data up
    * to a max-epoch cap beyond which repetition stops helping). Given
    * per-source available tokens A_s and a demand proportional to doc
    * share of a budget B = 2W (self-scaled to force repetition), each
    * source gets: desired = (B·n_docs_s) div N, effective =
    * min(desired, cap·A_s), a deficit (unmet demand the run must
    * reallocate or accept), and integer-scaled epochs
    * (100·effective) div A_s. Every step is 64-bit integer
    * arithmetic — bit-identical on any engine. Scale shape: one
    * corpus agg to the #sources-row table; everything after runs on
    * tens of rows with two 1-row scalar broadcasts. */
  def epochPlan(docs: DataFrame, budgetNum: Int = 2, maxEpochs: Int = 4)
      : DataFrame = {
    val perSource = docs
      .withColumn("__n_tok",
        size(TextAnalysis.wsTokens(col("text"))).cast("long"))
      .groupBy("source")
      .agg(sum("__n_tok").as("avail_tokens"),
        count(lit(1)).as("n_docs"))
    val tot = perSource.agg(sum("avail_tokens").as("W"),
      sum("n_docs").as("N"))
      .withColumn("B", expr(s"W * $budgetNum"))
    perSource.crossJoin(broadcast(tot))
      .withColumn("desired_tokens", expr("(B * n_docs) div N"))
      .withColumn("eff_tokens",
        expr(s"least(desired_tokens, ${maxEpochs}L * avail_tokens)"))
      .withColumn("deficit", col("desired_tokens") - col("eff_tokens"))
      .withColumn("epochs_x100",
        expr("(100 * eff_tokens) div avail_tokens"))
      .select(col("source"), col("avail_tokens"), col("n_docs"),
        col("desired_tokens"), col("eff_tokens"), col("deficit"),
        col("epochs_x100"),
        (col("eff_tokens") > col("avail_tokens")).as("repeated"))
      .orderBy("source")
  }

  /** Instantiated with cap 2 (B = 2W demands ~2 epochs of an evenly
    * demanded corpus, so a 2-epoch cap binds exactly for the
    * below-average-size sources — deficit and cap both exercised;
    * cap 4 on this corpus never binds and every deficit is zero). */
  def tpEpochPlan(spark: SparkSession, dir: String): DataFrame =
    epochPlan(Tables.documents(spark, dir), maxEpochs = 2)

  def tpEpochPlanSql(budgetNum: Int = 2, maxEpochs: Int = 4): String =
    s"""WITH w AS (
       |  SELECT source,
       |    CAST(SUM(len(regexp_split_to_array(text, '\\s+'))) AS BIGINT)
       |      AS avail_tokens,
       |    COUNT(*) AS n_docs
       |  FROM documents GROUP BY source),
       |tot AS (
       |  SELECT CAST(SUM(avail_tokens) AS BIGINT) AS W,
       |    CAST(SUM(n_docs) AS BIGINT) AS N,
       |    CAST(SUM(avail_tokens) AS BIGINT) * $budgetNum AS B FROM w),
       |p AS (
       |  SELECT source, avail_tokens, n_docs,
       |    (B * n_docs) // N AS desired_tokens,
       |    LEAST((B * n_docs) // N, $maxEpochs * avail_tokens)
       |      AS eff_tokens
       |  FROM w, tot)
       |SELECT source, avail_tokens, n_docs, desired_tokens, eff_tokens,
       |  desired_tokens - eff_tokens AS deficit,
       |  (100 * eff_tokens) // avail_tokens AS epochs_x100,
       |  eff_tokens > avail_tokens AS repeated
       |FROM p ORDER BY source""".stripMargin

  /** Deterministic corpus shuffle for training order: every doc gets a
    * hash-derived (shard, ordkey) — readers consume shard files in
    * ordkey order and see a reproducible global permutation. This is
    * the scale-correct shuffle: NO global sort, NO row_number over one
    * partition — shard assignment is a narrow hash, within-shard order
    * is a per-shard sort at write time, and shard count is a parameter
    * set to O(cluster) in a real run. Salted differently from both the
    * split and mixture hashes. */
  def tsShuffleShards(spark: SparkSession, dir: String, nShards: Int = 32)
      : DataFrame = {
    val ord =
      s"pmod(pmod(doc_id + 53, $SplitPrime) * 2654435761, $SplitPrime)"
    Tables.documents(spark, dir)
      .select(col("doc_id"), expr(ord).as("ordkey"))
      .select(col("doc_id"), pmod(col("ordkey"), lit(nShards.toLong))
        .as("shard"), col("ordkey"))
      .orderBy("shard", "ordkey", "doc_id")
  }

  def tsShuffleSql(nShards: Int = 32): String =
    s"""WITH h AS (
       |  SELECT doc_id,
       |    (((doc_id + 53) % 1000003 + 1000003) % 1000003
       |      * 2654435761) % 1000003 AS ordkey
       |  FROM documents)
       |SELECT doc_id, CAST(ordkey % $nShards AS BIGINT) AS shard,
       |  CAST(ordkey AS BIGINT) AS ordkey
       |FROM h ORDER BY shard, ordkey, doc_id""".stripMargin

  /** Corpus reporting — the per-(source, language) statistics block of
    * a dataset card: document and token counts, vocabulary size, and
    * the document-length extremes. One explode + one grouped pass;
    * the distinct-token count shuffles tokens once (countDistinct
    * partial-aggregates map-side, so the shuffle carries distinct
    * (group, token) pairs, not raw occurrences). */
  def tpCorpusStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), col("lang"), col("doc_id"), col("n_chars"),
        explode(TextAnalysis.wsTokens(col("text"))).as("tok"))
      .groupBy("source", "lang")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tok"),
        countDistinct(col("tok")).as("vocab"),
        min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
      .orderBy("source", "lang")

  val tpCorpusStatsSql: String =
    """SELECT source, lang, COUNT(DISTINCT doc_id) AS n_docs,
      |  COUNT(*) AS n_tok, COUNT(DISTINCT tok) AS vocab,
      |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      |FROM (
      |  SELECT source, lang, doc_id, n_chars,
      |    unnest(regexp_split_to_array(text, '\s+')) AS tok
      |  FROM documents)
      |GROUP BY source, lang ORDER BY source, lang""".stripMargin

  /** 64-bit hashes of all word n-grams of a text column (empty array
    * when the doc is shorter than n) — the single-pass [[NgramHashes]]
    * expression: one scan over the bytes, no token/n-gram strings
    * materialized, downstream joins carry 8-byte hashes. */
  def ngramHashes(text: org.apache.spark.sql.Column, n: Int)
      : org.apache.spark.sql.Column =
    ShingleFunctions.ngram_hashes(text, n)

  /** Benchmark decontamination — the n-gram collision check a training
    * pipeline runs before shipping a corpus (the GPT-3 / Pile-style
    * 13-gram overlap rule): flag every training document sharing at
    * least one word n-gram with the held-out eval set. Both sides
    * reduce to 64-bit n-gram hashes, the eval side is a distinct
    * (small) hash set, and the check is a hash join — never a doc×doc
    * scan. The declared query uses n=3 so the check is non-vacuous on
    * the synthetic corpus (real deployments use n≈13; it's a
    * parameter). Eval set here: doc_id % 97 = 0 stand-ins.
    *
    * Collision caveat: `n_shared` counts distinct 64-bit n-gram HASHES
    * while the oracle counts distinct n-gram STRINGS. A 64-bit
    * collision between two grams of one doc would make the counts
    * diverge — birthday bound needs ~2^32 grams in a single document,
    * orders of magnitude past any real doc, so the hashed count is the
    * deliberate scale choice (8-byte join keys, no gram strings ever
    * shuffled). */
  def dcDecontamination(spark: SparkSession, dir: String, n: Int = 3)
      : DataFrame = {
    // chunk-widened (r17): matched-noise A/B showed the r16 full
    // fan-out at 1.7-1.8x on this query class (gram scans cost well
    // under the 32-task overhead at bench scale) — chunked width is a
    // no-op at bench bytes and restores the fan-out at the decades
    val docs = graft.util.Par.widenChunked(Tables.documents(spark, dir))

    val grams = docs
      .select(col("doc_id"), explode(ngramHashes(col("text"), n)).as("g"))
    val evalGrams = grams.filter(col("doc_id") % 97 === 0)
      .select("g").distinct()
    grams.filter(col("doc_id") % 97 =!= 0)
      .join(evalGrams, "g")
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_shared"))
      .orderBy("doc_id")
  }

  def dcDecontaminationSql(n: Int = 3): String =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS a
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(a) - $n + 2),
       |    i -> array_to_string(a[i:i+$n-1], ' '))) AS g
       |  FROM toks WHERE len(a) >= $n),
       |eval_g AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0)
       |SELECT gr.doc_id, COUNT(DISTINCT gr.g) AS n_shared
       |FROM grams gr JOIN eval_g USING (g)
       |WHERE gr.doc_id % 97 <> 0
       |GROUP BY gr.doc_id ORDER BY doc_id""".stripMargin

  /** [[dcDecontamination]] behind a Bloom-filter runtime prune — the
    * shape the exact check takes at 100 TB. The plain version shuffles
    * EVERY train gram into the hash join against the eval set; here a
    * bitset over the eval grams (16 KB–16 MB of model state, built once
    * via [[graft.operators.RuntimeFilter]]) rides into the train-side
    * scan as a literal, so non-colliding grams — the overwhelming
    * majority of the corpus — die in the codegen'd scan stage and
    * never reach the exchange. Bloom filters have NO false negatives
    * and the exact join removes the false positives, so the result is
    * bit-identical to the plain join: the oracle is deliberately THE
    * SAME SQL as `dc_decontamination`, and the green hash row is the
    * proof that the pruning is result-transparent (the `j3_bloom_semi`
    * pattern, applied to the decontamination pipeline). */
  def dc4BloomDecontamination(spark: SparkSession, dir: String,
      n: Int = 3): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val grams = docs
      .select(col("doc_id"), explode(ngramHashes(col("text"), n)).as("g"))
    val evalGrams = grams.filter(col("doc_id") % 97 === 0)
      .select("g").distinct()
    val bloom = graft.operators.RuntimeFilter
      .buildBloomCached(evalGrams, "g")
    val train = grams.filter(col("doc_id") % 97 =!= 0)
    graft.operators.RuntimeFilter.bloomFiltered(train, col("g"), bloom)
      .join(evalGrams, "g")
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_shared"))
      .orderBy("doc_id")
  }

  /** Doc-level contamination FRACTION with decision bands — the report
    * behind the GPT-3-appendix-style "clean / partially contaminated /
    * contaminated" triage. [[dcDecontamination]] answers "does this doc
    * share ANY eval n-gram"; real curation wants the SHARE of a doc's
    * distinct n-grams that collide, because a single common phrase is
    * noise while 50 % overlap is a leaked eval document. Same
    * hash-join-shaped plan (per-doc distinct gram totals are a map-side
    * combinable aggregate; the eval set joins once), plus a LEFT join
    * so zero-overlap docs surface as `clean` rather than vanishing.
    * Bands compare by integer cross-multiplication (5·shared < total
    * etc.), never by a float division, so the rows hash exactly.
    */
  def dc5OverlapFraction(spark: SparkSession, dir: String, n: Int = 3)
      : DataFrame = {
    // chunk-widened (r17): matched-noise A/B showed the r16 full
    // fan-out at 1.7-1.8x on this query class (gram scans cost well
    // under the 32-task overhead at bench scale) — chunked width is a
    // no-op at bench bytes and restores the fan-out at the decades
    val docs = graft.util.Par.widenChunked(Tables.documents(spark, dir))
    val grams = docs
      .select(col("doc_id"), explode(ngramHashes(col("text"), n)).as("g"))
    val evalGrams = grams.filter(col("doc_id") % 97 === 0)
      .select("g").distinct()
    val train = grams.filter(col("doc_id") % 97 =!= 0)
    val totals = train.groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_total"))
    val shared = train.join(evalGrams, "g")
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_shared"))
    val ns = coalesce(col("n_shared"), lit(0L))
    totals.join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_total"), ns.as("n_shared"),
        when(ns === 0, "clean")
          .when(ns * 5 < col("n_total"), "light")
          .when(ns * 2 < col("n_total"), "medium")
          .otherwise("heavy").as("band"))
      .orderBy("doc_id")
  }

  def dc5OverlapFractionSql(n: Int = 3): String =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS a
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(a) - $n + 2),
       |    i -> array_to_string(a[i:i+$n-1], ' '))) AS g
       |  FROM toks WHERE len(a) >= $n),
       |eval_g AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
       |tot AS (
       |  SELECT doc_id, COUNT(DISTINCT g) AS n_total FROM grams
       |  WHERE doc_id % 97 <> 0 GROUP BY doc_id),
       |sh AS (
       |  SELECT gr.doc_id, COUNT(DISTINCT gr.g) AS n_shared
       |  FROM grams gr JOIN eval_g USING (g)
       |  WHERE gr.doc_id % 97 <> 0 GROUP BY gr.doc_id)
       |SELECT t.doc_id, t.n_total,
       |  COALESCE(s.n_shared, 0) AS n_shared,
       |  CASE WHEN COALESCE(s.n_shared, 0) = 0 THEN 'clean'
       |       WHEN s.n_shared * 5 < t.n_total THEN 'light'
       |       WHEN s.n_shared * 2 < t.n_total THEN 'medium'
       |       ELSE 'heavy' END AS band
       |FROM tot t LEFT JOIN sh s USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Contamination SEVERITY by longest shared span — the ladder
    * complement to [[dc5OverlapFraction]]'s fraction bands: a train
    * doc sharing one 3-gram holds a common phrase; one sharing a
    * 24-gram verbatim holds a leaked eval passage, whatever its
    * overlap FRACTION. Each train doc reports the largest rung
    * n ∈ {3,6,12,24} at which it still shares an n-token-gram with
    * the eval slice, banded clean/phrase/passage/section/document —
    * the Lee-et-al-style span-length triage.
    *
    * Scale shape: sharing an n-gram implies sharing all its
    * constituent subgrams with the SAME eval doc, so rung membership
    * is monotone — each rung semi-joins ONLY the docs flagged at the
    * previous rung (checkpointed id sets, candidate-sized), and the
    * full-corpus gram explode happens once at the base rung. Eval
    * gram sets are per-rung distinct hash sets (1/97 of the corpus);
    * every join is a hash semi-join on an 8-byte gram hash. */
  def dc6SpanLadder(spark: SparkSession, dir: String): DataFrame = {
    val rungs = Seq(3, 6, 12, 24)
    val upper = rungs.tail
    // chunk-widened (r17): matched-noise A/B showed the r16 full
    // fan-out at 1.7-1.8x on this query class (gram scans cost well
    // under the 32-task overhead at bench scale) — chunked width is a
    // no-op at bench bytes and restores the fan-out at the decades
    val docs = graft.util.Par.widenChunked(Tables.documents(spark, dir))
    val isEval = col("doc_id") % 97 === 0
    // all rungs' grams from one pass, tagged (rung, hash)
    def tagged(rs: Seq[Int]) = explode(concat(rs.map(n =>
      transform(ngramHashes(col("text"), n),
        g => struct(lit(n).as("n"), g.as("g")))): _*)).as("t")
    // every rung's eval gram set in ONE scan of the 1/97 eval slice
    val evalG = docs.filter(isEval).select(tagged(rungs))
      .select(col("t.n").as("n"), col("t.g").as("g")).distinct()
      .stageCheckpoint()
    // base rung: the only full-train-corpus gram join
    val flagged3 = docs.filter(!isEval)
      .select(col("doc_id"), explode(ngramHashes(col("text"), 3)).as("g"))
      .join(evalG.filter(col("n") === 3).select("g"), "g")
      .select("doc_id").distinct()
      .stageCheckpoint()
    // upper rungs in one pass over the base-flagged (contamination-
    // sized) docs: monotonicity says nothing outside flagged3 can hold
    // a longer shared span, so 6/12/24 never rescan the corpus
    val upperMax = docs.filter(!isEval).join(flagged3, "doc_id")
      .select(col("doc_id"), tagged(upper))
      .select(col("doc_id"), col("t.n").as("n"), col("t.g").as("g"))
      .join(evalG.filter(col("n").isin(upper: _*)), Seq("n", "g"))
      .groupBy("doc_id").agg(max("n").as("upper_rung"))
    docs.filter(!isEval).select(col("doc_id"))
      .join(flagged3.withColumn("r3", lit(3)), Seq("doc_id"), "left")
      .join(upperMax, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("upper_rung"), col("r3"), lit(0)).as("max_rung"))
      .withColumn("band",
        when(col("max_rung") === 0, "clean")
          .when(col("max_rung") === 3, "phrase")
          .when(col("max_rung") === 6, "passage")
          .when(col("max_rung") === 12, "section")
          .otherwise("document"))
      .orderBy("doc_id")
  }

  val dc6SpanLadderSql: String = {
    def gramCte(n: Int) =
      s"""g$n AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(a) - $n + 2),
         |    i -> array_to_string(a[i:i+$n-1], ' '))) AS g
         |  FROM toks WHERE len(a) >= $n),
         |e$n AS (SELECT DISTINCT g FROM g$n WHERE doc_id % 97 = 0),
         |f$n AS (
         |  SELECT DISTINCT doc_id FROM g$n JOIN e$n USING (g)
         |  WHERE doc_id % 97 <> 0)""".stripMargin
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS a
       |  FROM documents),
       |${Seq(3, 6, 12, 24).map(gramCte).mkString(",\n")}
       |SELECT d.doc_id,
       |  CASE WHEN f24.doc_id IS NOT NULL THEN 24
       |       WHEN f12.doc_id IS NOT NULL THEN 12
       |       WHEN f6.doc_id IS NOT NULL THEN 6
       |       WHEN f3.doc_id IS NOT NULL THEN 3
       |       ELSE 0 END AS max_rung,
       |  CASE WHEN f24.doc_id IS NOT NULL THEN 'document'
       |       WHEN f12.doc_id IS NOT NULL THEN 'section'
       |       WHEN f6.doc_id IS NOT NULL THEN 'passage'
       |       WHEN f3.doc_id IS NOT NULL THEN 'phrase'
       |       ELSE 'clean' END AS band
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
       |LEFT JOIN f3 ON d.doc_id = f3.doc_id
       |LEFT JOIN f6 ON d.doc_id = f6.doc_id
       |LEFT JOIN f12 ON d.doc_id = f12.doc_id
       |LEFT JOIN f24 ON d.doc_id = f24.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** FUZZY decontamination — [[dcDecontamination]] catches verbatim
    * n-gram overlap; this catches near-duplicate paraphrases: every
    * train document whose 4-gram Jaccard against ANY eval document
    * reaches 0.5, with its best-matching eval doc. Exact (not
    * MinHash-approximate), made affordable by the same AllPairs prefix
    * filter as [[Dedup.prefixJaccardPairs]], here in its CROSS-SET
    * form: gram document frequencies (the global rarest-first order)
    * come from the union of both sides, candidates arise only where a
    * train prefix gram meets an eval prefix gram, and the eval side of
    * every join is small by nature (eval suites are thousands of
    * docs, not billions) — so at 100 TB the corpus is scanned once
    * and shuffles only prefix grams. Ties on jaccard break to the
    * lowest eval id for a total order. */
  def dc2FuzzyDecontamination(spark: SparkSession, dir: String)
      : DataFrame = {
    // session-shared 4-gram index (same table dd_prefix_jaccard and
    // dd_survivorship read); is_eval is a cheap column on top
    val sets = GramIndex.ngramSets(Tables.documents(spark, dir), 4)
      .withColumn("is_eval", col("doc_id") % 5 === 0)
    val grams = sets.select(col("doc_id"), col("s"), col("is_eval"),
      explode(col("hs")).as("g"))
    val dfreq = grams.groupBy("g").agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy("doc_id").orderBy(col("df"), col("g"))
    val prefixes = grams.join(dfreq, "g")
      .withColumn("rn", row_number().over(wDoc))
      .filter(col("rn") <= col("s") - expr("int((s + 1) div 2)") + lit(1))
      .select(col("doc_id"), col("is_eval"), col("g"))
    val cands = prefixes.filter(!col("is_eval")).alias("t")
      .join(prefixes.filter(col("is_eval")).alias("e"),
        col("t.g") === col("e.g"))
      .select(col("t.doc_id").as("train_id"), col("e.doc_id").as("eval_id"))
      .distinct()
    val wBest = Window.partitionBy("train_id")
      .orderBy(col("jaccard").desc, col("eval_id"))
    cands
      .join(sets.select(col("doc_id").as("train_id"), col("hs").as("h1"),
        col("s").as("s1")), "train_id")
      .join(sets.select(col("doc_id").as("eval_id"), col("hs").as("h2"),
        col("s").as("s2")), "eval_id")
      .withColumn("n_common", size(array_intersect(col("h1"), col("h2")))
        .cast("long"))
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("s1") + col("s2") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= 0.5d)
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("train_id"), col("eval_id"), col("n_common"),
        col("jaccard"))
      .orderBy("train_id")
  }

  val dc2Sql: String =
    """WITH sh AS (
      |  SELECT DISTINCT doc_id, g FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(range(1, len(arr) - 2),
      |        i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2]
      |          || ' ' || arr[i + 3])) AS g
      |    FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS arr
      |          FROM documents))),
      |sizes AS (SELECT doc_id, COUNT(*) AS s FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
      |    COUNT(*) AS n_common
      |  FROM sh t JOIN sh e
      |    ON t.g = e.g AND t.doc_id % 5 <> 0 AND e.doc_id % 5 = 0
      |  GROUP BY t.doc_id, e.doc_id),
      |scored AS (
      |  SELECT train_id, eval_id, n_common,
      |    CAST(n_common AS DOUBLE)
      |      / CAST(s1.s + s2.s - n_common AS DOUBLE) AS jaccard
      |  FROM inter
      |    JOIN sizes s1 ON inter.train_id = s1.doc_id
      |    JOIN sizes s2 ON inter.eval_id = s2.doc_id),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY train_id
      |    ORDER BY jaccard DESC, eval_id) AS rn
      |  FROM scored WHERE jaccard >= 0.5)
      |SELECT train_id, eval_id, n_common, jaccard FROM ranked
      |WHERE rn = 1 ORDER BY train_id""".stripMargin

  /** End-to-end corpus curation — the training-data pipeline's pieces
    * composed into one declarative plan: exact-dedup keeper selection
    * → language gate (en) → quality gate → deterministic split
    * assignment. Everything is narrow except the tiny keeper aggregate
    * (8-byte hash shuffle) joined back as a semi-join; at 100 TB this
    * is one corpus scan + one dedup shuffle. Oracle reproduces every
    * stage in SQL, so the full composition is hash-verified. */
  def tpCuration(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextAnalysis._
    val docs = Tables.documents(spark, dir)
    val keepers = docs.groupBy(col("text")).agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val toks = wsTokens(col("text"))
    val nTok = size(toks).cast("double")
    val nStop = size(filter(toks,
      t => t.isInCollection(Stopwords))).cast("double")
    val nPunct = length(regexp_replace(col("text"), "[a-z0-9\\s]", ""))
      .cast("double")
    val nChars = length(col("text")).cast("double")
    val quality = (nStop / nTok) * lit(0.5d) +
      (lit(1.0d) - nPunct / nChars) * lit(0.3d) +
      least(nChars / nTok / lit(10.0d), lit(1.0d)) * lit(0.2d)
    docs
      .join(keepers, Seq("doc_id"), "left_semi") // dedup: keepers only
      .withColumn("quality_score", quality)
      .filter(col("lang") === "en" && col("quality_score") >= lit(0.44d))
      .select(col("doc_id"), size(wsTokens(col("text"))).as("n_tokens"),
        col("quality_score"), splitCol("doc_id").as("split"))
      .orderBy("doc_id")
  }

  val tpCurationSql: String =
    """WITH keepers AS (
      |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
      |scored AS (
      |  SELECT doc_id, lang, text,
      |    CAST(len(regexp_split_to_array(text, '\s+')) AS INT) AS n_tokens,
      |    (CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
      |       x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS DOUBLE)
      |      / CAST(len(regexp_split_to_array(text, '\s+')) AS DOUBLE)) * 0.5
      |    + (1.0 - CAST(length(regexp_replace(text, '[a-z0-9\s]', '', 'g')) AS DOUBLE)
      |        / CAST(length(text) AS DOUBLE)) * 0.3
      |    + least(CAST(length(text) AS DOUBLE)
      |        / CAST(len(regexp_split_to_array(text, '\s+')) AS DOUBLE)
      |        / 10.0, 1.0) * 0.2 AS quality_score
      |  FROM documents WHERE doc_id IN (SELECT doc_id FROM keepers))
      |SELECT doc_id, n_tokens, quality_score,
      |  CASE WHEN ((((doc_id % 1000003) + 1000003) % 1000003)
      |             * 2654435761) % 100 < 80 THEN 'train'
      |       WHEN ((((doc_id % 1000003) + 1000003) % 1000003)
      |             * 2654435761) % 100 < 90 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM scored
      |WHERE lang = 'en' AND quality_score >= 0.44
      |ORDER BY doc_id""".stripMargin

  // ── sequence packing ─────────────────────────────────────────────────
  /** Concat-and-chunk sequence packing (the GPT-style pretraining batch
    * layout): documents are concatenated in doc_id order and cut into
    * fixed `seqLen`-token training sequences; each doc lands at a global
    * token offset and spans sequences [first_seq, last_seq]. Packing is
    * per-shard (`pmod(doc_id, nShards)`) — a running total over ONE
    * global order would serialize the whole corpus through a single
    * partition, while per-shard prefix sums shuffle once on the shard
    * key and scale with the cluster (shard count is a parameter; a real
    * run sets it to O(executors)). */
  def tpPacking(spark: SparkSession, dir: String, seqLen: Int = 2048,
      nShards: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(nShards.toLong)).as("shard"),
        size(TextAnalysis.wsTokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("start_tok", coalesce(sum("n_tok").over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tok"), col("start_tok"),
        expr(s"start_tok div $seqLen").as("first_seq"),
        expr(s"(start_tok + n_tok - 1) div $seqLen").as("last_seq"))
      .orderBy("doc_id")
  }

  def tpPackingSql(seqLen: Int = 2048, nShards: Int = 16): String =
    s"""WITH sized AS (
       |  SELECT doc_id, doc_id % $nShards AS shard,
       |    CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tok
       |  FROM documents),
       |packed AS (
       |  SELECT doc_id, shard, n_tok,
       |    COALESCE(CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
       |      0) AS start_tok
       |  FROM sized)
       |SELECT doc_id, shard, n_tok, start_tok,
       |  start_tok // $seqLen AS first_seq,
       |  (start_tok + n_tok - 1) // $seqLen AS last_seq
       |FROM packed ORDER BY doc_id""".stripMargin

  // ── greedy no-split sequence packing ────────────────────────────────
  /** Greedy NO-SPLIT packing: each document lands whole in exactly one
    * fixed-capacity bin (the SFT-shape packer — [[tpPacking]] is the
    * complementary concatenate-and-split pretraining shape where docs
    * cross sequence boundaries). Greedy first-fit-in-order is
    * prefix-dependent — bin boundaries depend on every earlier
    * remainder, so no window expression computes it. The Spark shape
    * is the scale-correct sequential fold: repartition by shard,
    * sortWithinPartitions (secondary sort — the group is never
    * materialized in memory, unlike groupByKey+flatMapGroups), then a
    * single streaming pass per partition carrying (shard, bin, fill).
    * Parallelism = shards; at 100 TB you raise `nShards`, never the
    * per-task memory. A doc longer than `capacity` takes a bin alone
    * (`fits_ok` stays true via the n_docs=1 escape; a multi-doc bin
    * over capacity would be a packer bug and a driver hash fail).
    * Oracle: the same fold as a DuckDB recursive CTE over (shard, rn)
    * — iterations = max shard length, rows per step = shards. */
  def tpPackGreedy(spark: SparkSession, dir: String, capacity: Int = DatasetBuild.PackCapacity,
      nShards: Int = 16): DataFrame = {
    import spark.implicits._
    // the fold emits BINS, not per-doc assignments: a bin never spans
    // partitions (the fold is what defines it), so aggregating inside
    // the pass deletes the groupBy exchange a per-doc emission would
    // need — object ops erase the known partitioning, so Catalyst
    // could not elide it — and shrinks the fold's output from docs to
    // bins. Still O(1) task memory: one open-bin accumulator.
    val packed = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long"),
        pmod(col("doc_id"), lit(nShards.toLong)).as("shard"),
        size(TextAnalysis.wsTokens(col("text"))).cast("long").as("tok"))
      .as[(Long, Long, Long)]
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "doc_id")
      .mapPartitions(it => packFold(it, capacity))
      .toDF("shard", "bin", "n_docs", "n_tokens")
    packed
      .select(col("shard"), col("bin"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / lit(capacity.toDouble))
          .as("fill_frac"),
        (col("n_tokens") <= capacity || col("n_docs") === 1)
          .as("fits_ok"))
      .orderBy("shard", "bin")
  }

  /** The packer's sequential core, factored pure for property fuzzing:
    * consumes (doc_id, shard, tok) rows sorted by (shard, doc_id) and
    * emits one (shard, bin, n_docs, n_tokens) row per closed bin,
    * lazily — O(1) state regardless of partition size. */
  private[graft] def packFold(it: Iterator[(Long, Long, Long)],
      capacity: Int): Iterator[(Long, Long, Long, Long)] =
    new Iterator[(Long, Long, Long, Long)] {
      private var out: Option[(Long, Long, Long, Long)] = None
      private var shard = 0L; private var bin = 0L
      private var fill = 0L; private var nDocs = 0L
      private var open = false
      private def advance(): Unit = {
        while (out.isEmpty && it.hasNext) {
          val (_, sh, tok) = it.next()
          if (!open) {
            shard = sh; bin = 0L; fill = tok; nDocs = 1L; open = true
          } else if (sh != shard) {
            out = Some((shard, bin, nDocs, fill))
            shard = sh; bin = 0L; fill = tok; nDocs = 1L
          } else if (fill + tok <= capacity) {
            fill += tok; nDocs += 1L
          } else {
            out = Some((shard, bin, nDocs, fill))
            bin += 1L; fill = tok; nDocs = 1L
          }
        }
        if (out.isEmpty && open) {
          out = Some((shard, bin, nDocs, fill)); open = false
        }
      }
      def hasNext: Boolean = { advance(); out.nonEmpty }
      def next(): (Long, Long, Long, Long) = {
        advance(); val r = out.get; out = None; r
      }
    }

  /** sf1 iterative-oracle prep for [[tpPackGreedy]]: the sized rows in
    * fold order (constant '' split so the shared pack-fold runner in
    * check_oracle.py applies unchanged); [[graft.IterOracles]] folds
    * the bin assignment outside SQL and aggregates bins back in
    * DuckDB — the recursive `fold` CTE sits at the 180 s cap at sf1. */
  def tpPackGreedySizedSql(nShards: Int = 16): String =
    s"""SELECT '' AS split, doc_id % $nShards AS shard, doc_id,
       |  CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT)
       |    AS n_tok
       |FROM documents ORDER BY shard, doc_id""".stripMargin

  def tpPackGreedySql(capacity: Int = DatasetBuild.PackCapacity, nShards: Int = 16): String =
    s"""WITH RECURSIVE sized AS (
       |  SELECT doc_id, doc_id % $nShards AS shard,
       |    CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS tok,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id % $nShards
       |      ORDER BY doc_id) AS rn
       |  FROM documents),
       |fold AS (
       |  SELECT shard, rn, doc_id, tok, CAST(0 AS BIGINT) AS bin,
       |    tok AS fill
       |  FROM sized WHERE rn = 1
       |  UNION ALL
       |  SELECT s.shard, s.rn, s.doc_id, s.tok,
       |    CASE WHEN f.fill + s.tok <= $capacity THEN f.bin
       |         ELSE f.bin + 1 END,
       |    CASE WHEN f.fill + s.tok <= $capacity THEN f.fill + s.tok
       |         ELSE s.tok END
       |  FROM fold f JOIN sized s
       |    ON s.shard = f.shard AND s.rn = f.rn + 1)
       |SELECT shard, bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(tok) AS BIGINT) AS n_tokens,
       |  CAST(SUM(tok) AS DOUBLE) / $capacity AS fill_frac,
       |  (SUM(tok) <= $capacity OR COUNT(*) = 1) AS fits_ok
       |FROM fold GROUP BY shard, bin ORDER BY shard, bin""".stripMargin

  // ── length-curriculum schedule ──────────────────────────────────────
  /** Shortest-first curriculum with equal-stride source interleave —
    * the classic length-curriculum ordering, kept shuffle-cheap at
    * scale: rank docs WITHIN each source (partitioned window — scales
    * with sources × docs), index the handful of distinct sources
    * (bounded single-digit window, same constant-key device as
    * [[tsBudgetAlloc]]), and compute the schedule slot as
    * `(rank-1)·n_sources + source_index` — a pure expression, NO
    * global sort or single-partition window over the corpus. Sources
    * exhaust at different ranks, so late slots are sparse; slot order,
    * not density, is the schedule. */
  def tsCurriculum(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.wsTokens(col("text"))).cast("long").as("n_tok"))
    val srcPart = Window.partitionBy(pmod(length(col("source")), lit(1)))
    val srcW = srcPart.orderBy("source")
    // sidx and n_src share one bounded window pass (single-digit rows),
    // so the schedule needs ONE broadcast hash join — no scalar BNLJ
    val sources = docs.select("source").distinct()
      .withColumn("sidx", row_number().over(srcW).cast("long") - 1L)
      .withColumn("n_src", count(lit(1)).over(srcPart).cast("long"))
    val rankW = Window.partitionBy("source").orderBy("n_tok", "doc_id")
    docs
      .withColumn("rank_in_source", row_number().over(rankW).cast("long"))
      .join(broadcast(sources), "source")
      .select(col("doc_id"), col("source"), col("n_tok"),
        col("rank_in_source"),
        ((col("rank_in_source") - 1L) * col("n_src") + col("sidx"))
          .as("schedule_slot"))
      .orderBy("schedule_slot")
  }

  val tsCurriculumSql: String =
    """WITH docs AS (
      |  SELECT doc_id, source,
      |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |srcs AS (
      |  SELECT source,
      |    CAST(ROW_NUMBER() OVER (ORDER BY source) AS BIGINT) - 1 AS sidx
      |  FROM (SELECT DISTINCT source FROM documents)),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_src FROM srcs),
      |ranked AS (
      |  SELECT doc_id, source, n_tok,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY n_tok, doc_id) AS BIGINT) AS rank_in_source
      |  FROM docs)
      |SELECT doc_id, r.source, n_tok, rank_in_source,
      |  (rank_in_source - 1) * n_src + sidx AS schedule_slot
      |FROM ranked r JOIN srcs USING (source) CROSS JOIN n
      |ORDER BY schedule_slot""".stripMargin

  // ── per-source quality percentile gate ───────────────────────────────
  /** Keep each source's top quality quartile — the relative (percentile)
    * quality cut real curation uses when absolute thresholds would
    * starve low-scoring-but-wanted sources. PERCENT_RANK over
    * (source, quality asc, doc_id) is `(rank-1)/(n-1)`: exact integer
    * arithmetic divided once, and the doc_id tie-break makes the rank —
    * and therefore the cut — fully deterministic in both engines. One
    * shuffle on source; the window streams each partition sorted. */
  def tpQualityPercentile(spark: SparkSession, dir: String,
      cut: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val score = TextAnalysis.qualityScoreCol(col("text"))
    val w = Window.partitionBy("source")
      .orderBy(col("quality_score"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        score.as("quality_score"))
      .withColumn("pr", percent_rank().over(w))
      .filter(col("pr") >= cut)
      .select("doc_id", "source", "quality_score", "pr")
      .orderBy("doc_id")
  }

  def tpQualityPercentileSql(cut: Double = 0.75): String =
    s"""WITH scored AS (
       |  SELECT doc_id, source,
       |    ${TextAnalysis.qualitySqlExpr("text")} AS quality_score
       |  FROM documents),
       |ranked AS (
       |  SELECT doc_id, source, quality_score,
       |    PERCENT_RANK() OVER (PARTITION BY source
       |      ORDER BY quality_score, doc_id) AS pr
       |  FROM scored)
       |SELECT doc_id, source, quality_score, pr
       |FROM ranked WHERE pr >= $cut ORDER BY doc_id""".stripMargin

  // ── quality-signal calibration ──────────────────────────────────────
  /** Does the quality score actually separate junk? Per source and
    * quality decile: doc counts, exact-duplicate fraction, and mean
    * token length — the calibration cross-tab a data-centric pipeline
    * checks before trusting a filter threshold (a good score shows
    * dup_frac falling as the decile rises). Deciles are PER SOURCE
    * (percent_rank over the source partition — the same scale-safe
    * window as [[tpQualityPercentile]], never a global sort);
    * `decile = least(floor(pr·10), 9)` is two single IEEE ops, and the
    * duplicate flag joins the text-group counts back by content. */
  def tpQualityCalibration(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val dupc = docs.groupBy("text").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("source")
      .orderBy(col("quality_score"), col("doc_id"))
    docs
      .select(col("doc_id"), col("source"), col("text"),
        TextAnalysis.qualityScoreCol(col("text")).as("quality_score"))
      .join(dupc, "text")
      .withColumn("decile",
        least(floor(percent_rank().over(w) * lit(10.0d)), lit(9.0d))
          .cast("int"))
      .withColumn("is_dup", when(col("c") > 1, 1L).otherwise(0L))
      .withColumn("n_tok",
        size(TextAnalysis.wsTokens(col("text"))).cast("long"))
      .groupBy("source", "decile")
      .agg(count(lit(1)).as("n_docs"), sum("is_dup").as("n_dups"),
        (sum("is_dup").cast("double") / count(lit(1)).cast("double"))
          .as("dup_frac"),
        (sum("n_tok").cast("double") / count(lit(1)).cast("double"))
          .as("mean_tokens"))
      .orderBy("source", "decile")
  }

  val tpQualityCalibrationSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, source, text,
       |    ${TextAnalysis.qualitySqlExpr("text")} AS q
       |  FROM documents),
       |dupc AS (SELECT text, COUNT(*) AS c FROM documents GROUP BY text),
       |ranked AS (
       |  SELECT s.source,
       |    LEAST(FLOOR(PERCENT_RANK() OVER (PARTITION BY s.source
       |      ORDER BY s.q, s.doc_id) * 10.0), 9.0) AS decile,
       |    CASE WHEN d.c > 1 THEN 1 ELSE 0 END AS is_dup,
       |    CAST(len(regexp_split_to_array(s.text, '\\s+')) AS BIGINT)
       |      AS n_tok
       |  FROM scored s JOIN dupc d ON d.text = s.text)
       |SELECT source, CAST(decile AS INT) AS decile, COUNT(*) AS n_docs,
       |  CAST(SUM(is_dup) AS BIGINT) AS n_dups,
       |  CAST(SUM(is_dup) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |    AS dup_frac,
       |  CAST(SUM(n_tok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |    AS mean_tokens
       |FROM ranked GROUP BY source, decile
       |ORDER BY source, decile""".stripMargin

  // ── fixed-size deterministic per-stratum sample ──────────────────────
  /** Reservoir-equivalent fixed-k sampling: each stratum keeps the k
    * docs with the smallest salted id-hash — a uniform without-
    * replacement sample of exactly min(k, |stratum|) rows, fully
    * deterministic (no RNG state, engine-independent). Smallest-k is
    * mergeable (the top-k of a union is the top-k of the per-part
    * top-ks), and the native [[graft.plans.TopKPerKey]] operator
    * exploits that in its PARTIAL phase: each input partition's heap
    * emits ≤ k rows per stratum into the exchange, so the shuffle
    * carries ≤ strata·k·partitions rows, never the corpus — the
    * two-level window form this replaces achieved the same bound with
    * an extra explicit shard column, one more exchange and two
    * partition sorts. Salt 71 keeps the sample independent of the
    * split/mixture/shuffle hashes. */
  def tsReservoirTopk(spark: SparkSession, dir: String, k: Int = 20)
      : DataFrame = {
    val h = s"pmod(pmod(doc_id + 71, $SplitPrime) * 2654435761, $SplitPrime)"
    graft.plans.TopKPerKey.topKPerKey(
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang"), expr(h).as("h")),
        Seq("lang"), Seq(("h", false), ("doc_id", false)), k,
        rankName = "rk")
      .select("lang", "rk", "doc_id", "h")
      .orderBy("lang", "rk")
  }

  def tsReservoirTopkSql(k: Int = 20): String =
    s"""WITH hashed AS (
       |  SELECT doc_id, lang,
       |    (((doc_id + 71) % 1000003 + 1000003) % 1000003
       |      * 2654435761) % 1000003 AS h
       |  FROM documents),
       |ranked AS (
       |  SELECT lang, doc_id, h, ROW_NUMBER() OVER (PARTITION BY lang
       |    ORDER BY h, doc_id) AS rk
       |  FROM hashed)
       |SELECT lang, CAST(rk AS INT) AS rk, doc_id, CAST(h AS BIGINT) AS h
       |FROM ranked WHERE rk <= $k ORDER BY lang, rk""".stripMargin

  // ── length-bucketed batching ─────────────────────────────────────────
  /** Dynamic-batching prep: docs bucketed by token count into
    * fixed-width bins so a batch pads to its bin cap instead of the
    * global max — the report quantifies the padding saved. All integer
    * arithmetic (bin = (n_tok−1) div W, cap = (bin+1)·W), the waste
    * fraction is one exact double division; narrow scan → tiny grouped
    * aggregate. */
  def tcLengthBuckets(spark: SparkSession, dir: String, width: Int = 32)
      : DataFrame =
    Tables.documents(spark, dir)
      .select(size(TextAnalysis.wsTokens(col("text"))).cast("long")
        .as("n_tok"))
      .filter(col("n_tok") > 0)
      .withColumn("bucket", expr(s"(n_tok - 1) div $width"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("total_tok"),
        sum(expr(s"(bucket + 1) * $width") - col("n_tok"))
          .as("padded_tok"))
      .withColumn("waste_frac",
        col("padded_tok").cast("double") /
          (col("padded_tok") + col("total_tok")).cast("double"))
      .orderBy("bucket")

  def tcLengthBucketsSql(width: Int = 32): String =
    s"""WITH sized AS (
       |  SELECT CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT)
       |    AS n_tok
       |  FROM documents),
       |bucketed AS (
       |  SELECT n_tok, (n_tok - 1) // $width AS bucket
       |  FROM sized WHERE n_tok > 0)
       |SELECT bucket, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS total_tok,
       |  CAST(SUM((bucket + 1) * $width - n_tok) AS BIGINT) AS padded_tok,
       |  CAST(CAST(SUM((bucket + 1) * $width - n_tok) AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(SUM((bucket + 1) * $width - n_tok) AS BIGINT)
       |           + CAST(SUM(n_tok) AS BIGINT) AS DOUBLE) AS waste_frac
       |FROM bucketed GROUP BY bucket ORDER BY bucket""".stripMargin

  // ── batching-width tuning sweep ─────────────────────────────────────
  /** Padding waste across a LADDER of batching widths in one corpus
    * pass — the tuning query that picks [[tcLengthBuckets]]'s width:
    * small bins waste little padding but fragment batches, wide bins
    * the reverse. Each doc fans out once per candidate width (a
    * narrow 4× Expand, partial-aggregated in the same stage), all
    * arithmetic exact integers, waste as one division. */
  def tcPaddingSweep(spark: SparkSession, dir: String,
      widths: Seq[Int] = Seq(16, 32, 64, 128)): DataFrame =
    Tables.documents(spark, dir)
      .select(size(TextAnalysis.wsTokens(col("text"))).cast("long")
        .as("n_tok"))
      .filter(col("n_tok") > 0)
      .select(col("n_tok"), explode(lit(widths.toArray)).as("w"))
      .withColumn("pad", expr("((n_tok - 1) div w + 1) * w - n_tok"))
      .groupBy("w")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("total_tok"),
        sum("pad").as("padded_tok"))
      .withColumn("waste_frac", col("padded_tok").cast("double") /
        (col("padded_tok") + col("total_tok")).cast("double"))
      .orderBy("w")

  def tcPaddingSweepSql(widths: Seq[Int] = Seq(16, 32, 64, 128)): String =
    s"""WITH sized AS (
       |  SELECT CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT)
       |    AS n_tok
       |  FROM documents),
       |fanned AS (
       |  SELECT n_tok, w,
       |    ((n_tok - 1) // w + 1) * w - n_tok AS pad
       |  FROM sized, unnest([${widths.mkString(", ")}]) AS t(w)
       |  WHERE n_tok > 0)
       |SELECT w, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS total_tok,
       |  CAST(SUM(pad) AS BIGINT) AS padded_tok,
       |  CAST(CAST(SUM(pad) AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(SUM(pad) AS BIGINT)
       |           + CAST(SUM(n_tok) AS BIGINT) AS DOUBLE) AS waste_frac
       |FROM fanned GROUP BY w ORDER BY w""".stripMargin

  // ── BPE merge induction ──────────────────────────────────────────────
  /** Byte-pair-encoding tokenizer training, the iterative corpus op:
    * each round counts adjacent symbol pairs corpus-wide, learns the
    * most frequent pair (ties to the lexicographically first — fully
    * deterministic), and rewrites every occurrence left-greedily.
    *
    * Spark shape — the textbook (word-frequency) formulation: ONE
    * corpus pass folds occurrences into the distinct-token frequency
    * table, and every subsequent round runs on that vocabulary-sized
    * relation — pair counts are occurrence-weighted by token
    * frequency, the learned pair is ONE collected row per round
    * (model state, like IVF centroids), and the rewrite is a
    * codegen'd `aggregate` fold over each symbol array (no UDF).
    * Training cost is corpus-scan + merges × vocab-sized rounds, the
    * exact shape tokenizer training has at 100 TB. Fully SQL-oracled
    * via [[tcBpeMergesSql]]: the rounds unroll into chained CTEs and
    * the left-greedy rewrite is one string `replace()` per round.
    *
    * `sampleFraction` is the 100 TB contract: a production tokenizer
    * trains on a bounded sample, not the full corpus (GPT-2/SentencePiece
    * practice — merge ranks stabilize long before corpus-scale counts),
    * so the knob feeds the SAME frequency fold from a deterministic
    * doc_id hash sample (pmod(xxhash64(doc_id), 1e6) < fraction·1e6 —
    * million-bucket granularity, so fractions finer than 1e-6 quantize
    * to an empty sample; reproducible
    * across runs and cluster layouts, no `rand()`). At 1.0 the plan is
    * unchanged (and SQL-oracle-exact); below 1.0 the learned table is
    * a sample-dependent but fully valid merge table — every downstream
    * encode invariant (decode roundtrip, count bounds, compression)
    * holds, which the spec pins. The per-round cost after the one
    * sampled scan is vocab-sized either way. */
  def bpeLearn(docs: DataFrame, merges: Int,
      sampleFraction: Double = 1.0)
      : (Seq[(String, String, Long)], DataFrame) = {
    import org.apache.spark.sql.Column
    require(sampleFraction > 0 && sampleFraction <= 1.0,
      s"sampleFraction in (0, 1], got $sampleFraction")
    val corpus =
      if (sampleFraction >= 1.0) docs
      else docs.filter(
        pmod(xxhash64(col("doc_id")), lit(1000000L)) <
          lit((sampleFraction * 1000000L).toLong))
    // distinct-token frequency table: chars as symbols, corpus count.
    // chunk-widened (r17): the FULL fan-out (VERDICT r16 item 7)
    // ballooned taskSec 0.33 → 9-14 s for a +0.6 s WORSE wall at
    // bench scale (the fold is ~0.3 s of CPU total); chunked width is
    // a no-op at bench bytes and widens the fold with the corpus
    var seqs = graft.util.Par.widenChunked(corpus, gauge = docs)
      .select(explode(TextAnalysis.wsTokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .select(split(col("tok"), "").as("syms"), col("freq"))
      .stageCheckpoint()
    val learned = Seq.newBuilder[(String, String, Long)]
    // loop scope (r16): each merge round is one vocab-sized argmax +
    // one rewrite over the checkpointed frequency table — fixed shape,
    // so AQE costs ~3 scheduled jobs per round for nothing; round
    // parallelism derives from the materialized table's partitions
    graft.util.Par.loopScope(docs.sparkSession,
      seqs.rdd.getNumPartitions) { scoped =>
    seqs = graft.util.Par.rebind(scoped, seqs)
    for (_ <- 0 until merges) {
      val pairs = seqs
        .select(col("freq"), explode(expr(
          """transform(slice(syms, 1, size(syms) - 1),
            |  (s, i) -> struct(s AS a, syms[i + 1] AS b))""".stripMargin))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (pairs.nonEmpty) {
        val (a, b, cnt) = (pairs.head.getAs[String]("a"),
          pairs.head.getAs[String]("b"), pairs.head.getAs[Long]("cnt"))
        learned += ((a, b, cnt))
        // left-greedy rewrite: fold symbols, merging (a, b) adjacencies
        // (Column-built, so symbol text never rides a SQL string)
        val merged: Column = aggregate(
          col("syms"), array().cast("array<string>"),
          (acc, x) => when(
            size(acc) > 0 &&
              element_at(acc, -1) === lit(a) && x === lit(b),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
            .otherwise(concat(acc, array(x))))
        seqs = seqs.select(merged.as("syms"), col("freq"))
          .stageCheckpoint()
      }
    }
    } // loopScope
    // seqs is a checkpoint leaf here — rebind back to the caller's
    // session so downstream consumers plan under the parent conf
    (learned.result(),
      graft.util.Par.rebind(docs.sparkSession, seqs))
  }

  /** Declared query: the merge table itself (rank, pair, count at
    * learn time) plus the corpus compression it bought. */
  def tcBpeMerges(spark: SparkSession, dir: String, merges: Int = 4)
      : DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val (table, seqs) = bpeLearn(docs, merges)
    // occurrence-weighted symbol totals from the frequency table
    val Array(before, after) = seqs
      .agg(sum(length(concat_ws("", col("syms"))) * col("freq")),
        sum(size(col("syms")).cast("long") * col("freq")))
      .head() match { case r => Array(r.getLong(0), r.getLong(1)) }
    table.zipWithIndex.map { case ((a, b, cnt), i) =>
      (i + 1, a, b, cnt, before, after)
    }.toDF("rank", "left", "right", "pair_count",
      "symbols_before", "symbols_after")
      .orderBy("rank")
  }

  /** Tokenizer APPLICATION: encode the corpus with the learned merges
    * and account the compression per document. The encode is
    * vocab-sized, not corpus-sized: distinct tokens are encoded ONCE
    * (each merge is the same codegen'd left-greedy fold used during
    * learning) and the per-doc totals come from joining the token
    * stream back to that encoded vocabulary — at 100 TB the corpus is
    * scanned for token occurrences only; the iterative rewriting
    * touches a vocab-cardinality table. SQL-oracled via
    * [[tcBpeEncodeSql]] (the unrolled-replace device). */
  def tcBpeEncode(spark: SparkSession, dir: String, merges: Int = 4)
      : DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (table, _) = bpeLearn(docs, merges)
    bpeEncodeWith(docs, table).orderBy("doc_id")
  }

  /** The encoded distinct-token vocabulary (tok, syms): each merge is
    * the same codegen'd left-greedy fold used during learning, applied
    * to the vocab-cardinality table, checkpointed per merge so the
    * iterative plan never deepens. */
  def bpeEncodeVocab(docs: DataFrame,
      table: Seq[(String, String, Long)]): DataFrame = {
    import org.apache.spark.sql.Column
    // unlike learning (which must COUNT pairs between rewrites), encode
    // needs no intermediate state: the ordered merge folds compose into
    // ONE nested projection, so the vocab is rewritten in a single pass
    // with no per-merge checkpoint round-trips
    val merged: Column = table.foldLeft(split(col("tok"), "")) {
      case (syms, (a, b, _)) =>
        aggregate(
          syms, array().cast("array<string>"),
          (acc, x) => when(
            size(acc) > 0 &&
              element_at(acc, -1) === lit(a) && x === lit(b),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
            .otherwise(concat(acc, array(x))))
    }
    docs
      .select(explode(TextAnalysis.wsTokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0).distinct()
      .select(col("tok"), merged.as("syms"))
      .stageCheckpoint()
  }

  /** Encode `docs` with an already-learned merge table — the reusable
    * half of [[tcBpeEncode]] (the gate below audits the same encode
    * without paying a second learn pass). */
  def bpeEncodeWith(docs: DataFrame,
      table: Seq[(String, String, Long)]): DataFrame =
    bpeEncodeFrom(docs, bpeEncodeVocab(docs, table))

  private def bpeEncodeFrom(docs: DataFrame, vocab: DataFrame)
      : DataFrame = {
    val enc = vocab.select(col("tok"), size(col("syms")).as("n_sym"),
      length(col("tok")).as("n_chr"))
    // chunk-widened (r17): the full fan-out added ~0.1-0.5 s of
    // per-task overhead for a FLAT action wall at bench scale (the
    // tokenize+probe pass costs ~0.6 s of CPU total); chunked width
    // no-ops at bench bytes, widens with the corpus
    graft.util.Par.widenChunked(docs)
      .select(col("doc_id"),
        explode(TextAnalysis.wsTokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .join(enc, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum("n_chr").cast("long").as("n_chars"),
        sum("n_sym").cast("long").as("n_bpe_tokens"))
      .withColumn("compression", col("n_chars").cast("double") /
        col("n_bpe_tokens").cast("double"))
  }

  /** Driver-visible gate for the BPE family — kept alongside the now
    * fully-SQL-oracled `tc_bpe_merges`/`tc_bpe_encode` because its
    * flags check INTERNAL state the output tables don't expose: its
    * FIRST merge is SQL-exact (the argmax adjacent character pair over
    * the token frequency table — no rewritten sequences involved yet),
    * and the encode obeys hash-verifiable invariants: every document's
    * BPE token count sits between its whitespace token count and its
    * character count (each token encodes to 1..len symbols), four
    * applied merges must strictly compress the corpus (merge #1 alone
    * has positive count), and DECODE round-trips — concatenating every
    * vocab entry's symbols reproduces the token byte-for-byte, the
    * content-level check the count bounds alone cannot see (a rewrite
    * that drops one symbol and duplicates another passes the counts).
    * A broken pair count, a drifted tie-break, a rewrite that loses or
    * duplicates symbols — each flips an exact column or a flag and
    * fails the driver hash. */
  def tcBpeGate(spark: SparkSession, dir: String, merges: Int = 4)
      : DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (table, _) = bpeLearn(docs, merges)
    val (fa, fb, fcnt) = table.head
    val vocab = bpeEncodeVocab(docs, table)
    val roundtrip = vocab.agg(
      (sum(when(concat_ws("", col("syms")) === col("tok"), 0L)
        .otherwise(1L)) === 0L).as("decode_roundtrip_ok"))
    bpeEncodeFrom(docs, vocab).agg(
      count(lit(1)).as("n_docs"),
      (sum(when(col("n_tokens") <= col("n_bpe_tokens") &&
        col("n_bpe_tokens") <= col("n_chars"), 0L).otherwise(1L))
        === 0L).as("encode_bounds_ok"),
      (sum("n_bpe_tokens") < sum("n_chars")).as("compressed_ok"))
      .crossJoin(roundtrip)
      .withColumn("first_left", lit(fa))
      .withColumn("first_right", lit(fb))
      .withColumn("first_count", lit(fcnt))
      .withColumn("merges_ok", lit(table.size == merges))
  }

  // ── full BPE oracle: unrolled merge rounds in plain SQL ─────────────
  /** DuckDB CTE chain reproducing [[bpeLearn]] exactly — the device
    * that moved `tc_bpe_merges`/`tc_bpe_encode` out of rows-only.
    * `merges` is a compile-time constant, so the "iterative" learn
    * UNROLLS into `merges` chained (pairs → argmax → rewrite) CTE
    * rounds, and the left-greedy rewrite — the part that looks like it
    * needs a sequential fold — is ONE `replace()` call per round: each
    * token's symbol sequence rides as a string with a ``
    * boundary between symbols (and as sentinels), so the merge of
    * (a, b) is `replace(s, SEP·a·SEP·SEP·b·SEP, SEP·a·b·SEP)`. SQL
    * replace scans left-to-right and continues AFTER the replacement —
    * exactly left-greedy: each match consumes one boundary char on
    * each side and the replacement restores it, so the double-boundary
    * invariant holds and adjacent occurrences still match; for a = b,
    * a run of n merges ⌊n/2⌋ times from the left, same as the fold.
    * Tie-breaks (count desc, then pair lexicographic) are binary
    * string comparison in both engines; counts are exact integers.
    * Verified value-exact against the Spark output at sf0.01.
    * Testdata contains no  (probed); a corpus that used it would
    * need a different boundary byte. */
  private def bpeRoundCtes(r: Int, carryTok: Boolean): String = {
    val tok = if (carryTok) "tok, " else ""
    s"""p$r AS (
       |  SELECT l[i] AS a, l[i+1] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM (SELECT list_filter(string_split(s, chr(1)), x -> x <> '')
       |          AS l, freq FROM v${r - 1}) t,
       |       unnest(generate_series(1, len(l) - 1)) AS u(i)
       |  GROUP BY a, b),
       |b$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
       |v$r AS (
       |  SELECT ${tok}replace(s, chr(1)||a||chr(1)||chr(1)||b||chr(1),
       |    chr(1)||a||b||chr(1)) AS s, freq FROM v${r - 1}, b$r)""".stripMargin
  }

  private def bpeCommonCtes(merges: Int, carryTok: Boolean): String = {
    val tok = if (carryTok) "tok, " else ""
    s"""WITH toks AS (
       |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(regexp_split_to_array(text, '\\s+')) AS tok
       |    FROM documents) t
       |  WHERE len(tok) > 0 GROUP BY tok),
       |v0 AS (
       |  SELECT ${tok}chr(1)||chr(1) ||
       |    array_to_string(string_split(tok, ''), chr(1)||chr(1)) ||
       |    chr(1)||chr(1) AS s, freq FROM toks),
       |""".stripMargin +
      (1 to merges).map(bpeRoundCtes(_, carryTok)).mkString(",\n")
  }

  def tcBpeMergesSql(merges: Int = 4): String =
    bpeCommonCtes(merges, carryTok = false) + s""",
       |totals AS (
       |  SELECT (SELECT CAST(SUM(len(tok) * freq) AS BIGINT) FROM toks)
       |      AS symbols_before,
       |    CAST(SUM(((len(s) - len(replace(s, chr(1), ''))) // 2 - 1)
       |      * freq) AS BIGINT) AS symbols_after
       |  FROM v$merges)
       |SELECT CAST(r AS INT) AS rank, a AS "left", b AS "right",
       |  cnt AS pair_count, symbols_before, symbols_after
       |FROM (${(1 to merges)
        .map(r => s"SELECT $r AS r, * FROM b$r")
        .mkString(" UNION ALL ")}) m
       |CROSS JOIN totals ORDER BY rank""".stripMargin

  def tcBpeEncodeSql(merges: Int = 4): String =
    bpeCommonCtes(merges, carryTok = true) + s""",
       |enc AS (
       |  SELECT tok, len(tok) AS n_chr,
       |    (len(s) - len(replace(s, chr(1), ''))) // 2 - 1 AS n_sym
       |  FROM v$merges),
       |doc_toks AS (
       |  SELECT doc_id, tok FROM (
       |    SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+'))
       |      AS tok FROM documents) t WHERE len(tok) > 0)
       |SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(e.n_chr) AS BIGINT) AS n_chars,
       |  CAST(SUM(e.n_sym) AS BIGINT) AS n_bpe_tokens,
       |  CAST(CAST(SUM(e.n_chr) AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(SUM(e.n_sym) AS BIGINT) AS DOUBLE) AS compression
       |FROM doc_toks d JOIN enc e USING (tok)
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  val tcBpeGateSql: String =
    """WITH toks AS (
      |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq FROM (
      |    SELECT unnest(regexp_split_to_array(text, '\s+')) AS tok
      |    FROM documents)
      |  WHERE len(tok) > 0 GROUP BY tok),
      |pairs AS (
      |  SELECT substr(tok, i, 1) AS a, substr(tok, i + 1, 1) AS b,
      |    SUM(freq) AS cnt
      |  FROM toks, UNNEST(range(1, len(tok))) AS t(i)
      |  GROUP BY 1, 2),
      |first AS (
      |  SELECT a, b, CAST(cnt AS BIGINT) AS cnt
      |  FROM pairs ORDER BY cnt DESC, a, b LIMIT 1),
      |docs_n AS (
      |  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM (
      |    SELECT doc_id,
      |      unnest(regexp_split_to_array(text, '\s+')) AS tok
      |    FROM documents) WHERE len(tok) > 0)
      |SELECT n_docs, TRUE AS encode_bounds_ok, TRUE AS compressed_ok,
      |  TRUE AS decode_roundtrip_ok,
      |  a AS first_left, b AS first_right, cnt AS first_count,
      |  TRUE AS merges_ok
      |FROM first CROSS JOIN docs_n""".stripMargin

  // ── per-source quota enforcement ────────────────────────────────────
  /** Per-source document caps — the RefinedWeb/CCNet-style curation
    * step that stops any one domain from dominating the mixture: each
    * source keeps its `cap` best documents by the corpus' shared
    * quality score ([[TextAnalysis.qualityScoreCol]], ties to the
    * lower doc_id) and the report accounts what the cap admitted and
    * dropped, plus the admission threshold (the lowest kept score —
    * what a NEW document must beat to displace into the quota).
    *
    * Scale shape: selection runs on the native [[graft.plans.TopKPerKey]]
    * heap — partial per-partition heaps bound the exchange at
    * cap rows per (source, partition) and memory at O(cap), where the
    * row_number window twin sorts every source's full document list.
    * The twin stays the oracle: DuckDB recomputes the kept set with
    * the window form. */
  def tpSourceQuota(spark: SparkSession, dir: String, cap: Int = 10)
      : DataFrame = {
    val scored = Tables.documents(spark, dir).select(
      col("doc_id"), col("source"), col("n_chars"),
      TextAnalysis.qualityScoreCol(col("text")).as("score"))
    val kept = graft.plans.TopKPerKey.topKPerKey(scored, Seq("source"),
      Seq(("score", true), ("doc_id", false)), cap)
    val totals = scored.groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
    val keptAgg = kept.groupBy("source")
      .agg(count(lit(1)).as("n_kept"),
        sum("n_chars").as("chars_kept"),
        min("score").as("admit_score"))
    totals.join(keptAgg, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        (col("n_docs") - col("n_kept")).as("n_dropped"),
        col("chars_kept"), col("admit_score"))
      .orderBy("source")
  }

  def tpSourceQuotaSql(cap: Int = 10): String =
    s"""WITH scored AS (
       |  SELECT doc_id, source, n_chars,
       |    ${TextAnalysis.qualitySqlExpr("text")} AS score
       |  FROM documents),
       |r AS (
       |  SELECT *, row_number()
       |    OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rk
       |  FROM scored),
       |tot AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM scored GROUP BY source),
       |ka AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
       |    CAST(SUM(n_chars) AS BIGINT) AS chars_kept,
       |    MIN(score) AS admit_score
       |  FROM r WHERE rk <= $cap GROUP BY source)
       |SELECT source, n_docs, n_kept, n_docs - n_kept AS n_dropped,
       |  chars_kept, admit_score
       |FROM tot JOIN ka USING (source) ORDER BY source""".stripMargin

  // ── staged curation funnel ──────────────────────────────────────────
  /** Filter-funnel accounting — the ablation report a curation run
    * ships with its dataset: each gate applied IN SEQUENCE (Gopher
    * battery → repetition battery → eval-decontamination → stopword
    * quality floor), with per-stage in/dropped/out counts and a
    * survivor-set checksum (sum/min/max of surviving ids) so two
    * pipeline builds can be diffed stage-by-stage without comparing
    * row sets. ALL flag batteries evaluate in ONE projection over one
    * corpus scan (the batteries exposed as column expressions — no
    * per-battery scan, no doc_id joins back); the decontamination
    * side necessarily adds a second corpus pass (the n-gram explode
    * feeding the eval-gram semi-join — grams, not documents, are what
    * that scan shuffles), the funnel is a cumulative AND, and the
    * report aggregates a ×4
    * explode of (id, 4 booleans) — map-side combinable, nothing
    * corpus-sized shuffles beyond the decontamination hash semi-join
    * (the dc4 Bloom prune applies unchanged at 100 TB). The quality
    * floor compares by integer cross-multiplication (20·stops ≥
    * tokens), never a float ratio, so rows hash exactly. */
  def tpFilterFunnel(spark: SparkSession, dir: String, n: Int = 3)
      : DataFrame =
    tpFilterFunnelFrom(Tables.documents(spark, dir), n)

  /** The funnel's per-doc cumulative verdicts — (doc_id, text, c1..c4)
    * where cK = "survives gates 1..K" — shared between the funnel
    * report and [[DatasetBuild]]'s end-to-end corpus build. ALL flag
    * batteries evaluate in ONE projection over one corpus scan (the
    * battery verdicts as column expressions — gopherPassFrom /
    * repetitionPassFromStats; the repetition kernel struct projects
    * once in the inner select); the decontamination side adds the
    * gram scan feeding the eval-gram semi-join, whose (small)
    * contaminated-id set broadcasts back. The only doc_id join is
    * that broadcast; the alternative — one scan + one corpus-wide
    * doc_id shuffle PER battery — is 3 extra scans and 3 extra
    * exchanges for the same booleans. `text` rides along so callers
    * (the dataset build) can continue on survivors without a second
    * corpus join. */
  def funnelFlags(docs0: DataFrame, n: Int = 3): DataFrame = {
    // full widen moved to the DatasetBuild call sites (r17): the
    // dataset-build pipeline wins from the 32-task fan-out (A/B 0.94x)
    // but the lighter funnel/curation consumers lose
    // (tp_filter_funnel 1.82x); chunked width keeps them single-task
    // at bench bytes and widens with the corpus
    val docs = graft.util.Par.widenChunked(docs0)
    val grams = docs.select(col("doc_id"),
      explode(ngramHashes(col("text"), n)).as("g"))
    val evalG = grams.filter(col("doc_id") % 97 === 0)
      .select("g").distinct()
    val cont = grams.filter(col("doc_id") % 97 =!= 0)
      .join(evalG, "g").select("doc_id").distinct()
      .withColumn("__hit", lit(true))
    val perDoc = docs.select(col("doc_id"), col("text"),
      TextAnalysis.wsTokens(col("text")).as("__toks"),
      split(col("text"), "\n").as("__lines"),
      RepetitionFunctions.repetition_stats(col("text")).as("__rs"))
      .select(col("doc_id"), col("text"),
        TextAnalysis.gopherPassFrom(col("text"), col("__toks"),
          col("__lines"), stopFloor = 1).as("pass_gopher"),
        TextAnalysis.repetitionPassFromStats(col("__rs"))
          .as("pass_repetition"),
        (org.apache.spark.sql.functions.size(filter(col("__toks"),
          t => t.isInCollection(TextAnalysis.Stopwords))) * 20 >=
          org.apache.spark.sql.functions.size(col("__toks"))).as("pass_q"))
    perDoc
      .join(cont, Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"),
        col("pass_gopher").as("c1"),
        (col("pass_gopher") && col("pass_repetition")).as("c2"),
        (col("pass_gopher") && col("pass_repetition") &&
          col("doc_id") % 97 =!= 0 && col("__hit").isNull).as("c3"),
        (col("pass_gopher") && col("pass_repetition") &&
          col("doc_id") % 97 =!= 0 && col("__hit").isNull &&
          col("pass_q")).as("c4"))
  }

  /** Corpus-parameterized body of [[tpFilterFunnel]] — lets specs feed
    * degenerate corpora (e.g. one where a gate kills every doc) and
    * assert the report still materializes all 4 stage rows. */
  def tpFilterFunnelFrom(docs: DataFrame, n: Int = 3): DataFrame = {
    val flags = funnelFlags(docs, n)
    val staged = flags.select(col("doc_id"), posexplode(array(
      struct(lit("gopher").as("stage"), lit(true).as("entering"),
        col("c1").as("kept")),
      struct(lit("repetition").as("stage"), col("c1").as("entering"),
        col("c2").as("kept")),
      struct(lit("decontaminate").as("stage"), col("c2").as("entering"),
        col("c3").as("kept")),
      struct(lit("quality").as("stage"), col("c3").as("entering"),
        col("c4").as("kept")))))
    // No filter on `entering`: aggregate gated sums instead, so every
    // stage row materializes even when a gate kills the whole corpus
    // (the oracle's UNION ALL shape is a fixed 4 rows; a filter-first
    // plan returns <4 rows the moment an entering set is empty).
    // `kept` is the cumulative AND, so kept ⇒ entering and the
    // survivor aggregates need no extra gate.
    staged
      .groupBy((col("pos") + 1).cast("int").as("stage_idx"),
        col("col.stage").as("stage"))
      .agg(sum(when(col("col.entering"), 1L).otherwise(0L)).as("n_in"),
        sum(when(col("col.kept"), 1L).otherwise(0L)).as("n_out"),
        sum(when(col("col.kept"), col("doc_id"))).as("surv_id_sum"),
        min(when(col("col.kept"), col("doc_id"))).as("surv_id_min"),
        max(when(col("col.kept"), col("doc_id"))).as("surv_id_max"))
      .select(col("stage_idx"), col("stage"), col("n_in"),
        (col("n_in") - col("n_out")).as("n_dropped"), col("n_out"),
        col("surv_id_sum"), col("surv_id_min"), col("surv_id_max"))
      .orderBy("stage_idx")
  }

  /** Oracle CTE block computing the funnel's per-doc flags — `flags`
    * (doc_id, c1..c4) plus its feeder CTEs; the SQL twin of
    * [[funnelFlags]], shared with [[DatasetBuild]]'s oracles. Emitted
    * WITHOUT a leading `WITH` so callers can splice it into larger
    * (possibly RECURSIVE) CTE chains. */
  def funnelFlagsCtes(n: Int = 3): String = {
    val stops = TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
    s"""g AS (
       |  SELECT doc_id, pass_gopher FROM (${TextAnalysis.taGopherSql(1)})),
       |r AS (
       |  SELECT doc_id, pass_repetition
       |  FROM (${TextAnalysis.taGopherRepetitionSql})),
       |toksf AS (
       |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS a
       |  FROM documents),
       |gramsf AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(a) - $n + 2),
       |    i -> array_to_string(a[i:i+$n-1], ' '))) AS gg
       |  FROM toksf WHERE len(a) >= $n),
       |eval_gf AS (SELECT DISTINCT gg FROM gramsf WHERE doc_id % 97 = 0),
       |contf AS (
       |  SELECT DISTINCT gr.doc_id FROM gramsf gr JOIN eval_gf USING (gg)
       |  WHERE gr.doc_id % 97 <> 0),
       |q AS (
       |  SELECT doc_id,
       |    20 * len(list_filter(regexp_split_to_array(text, '\\s+'),
       |      x -> x IN ($stops)))
       |      >= len(regexp_split_to_array(text, '\\s+')) AS pass_q
       |  FROM documents),
       |flags AS (
       |  SELECT d.doc_id,
       |    g.pass_gopher AS c1,
       |    g.pass_gopher AND r.pass_repetition AS c2,
       |    g.pass_gopher AND r.pass_repetition
       |      AND d.doc_id % 97 <> 0 AND contf.doc_id IS NULL AS c3,
       |    g.pass_gopher AND r.pass_repetition
       |      AND d.doc_id % 97 <> 0 AND contf.doc_id IS NULL
       |      AND q.pass_q AS c4
       |  FROM documents d
       |  JOIN g USING (doc_id) JOIN r USING (doc_id)
       |  LEFT JOIN contf ON contf.doc_id = d.doc_id
       |  JOIN q ON q.doc_id = d.doc_id)""".stripMargin
  }

  def tpFilterFunnelSql(n: Int = 3): String = {
    s"""WITH ${funnelFlagsCtes(n)}
       |SELECT * FROM (
       |  SELECT CAST(1 AS INT) AS stage_idx, 'gopher' AS stage,
       |    CAST(COUNT(*) AS BIGINT) AS n_in,
       |    CAST(COUNT(*) - COUNT(*) FILTER (c1) AS BIGINT) AS n_dropped,
       |    CAST(COUNT(*) FILTER (c1) AS BIGINT) AS n_out,
       |    CAST(SUM(doc_id) FILTER (c1) AS BIGINT) AS surv_id_sum,
       |    MIN(doc_id) FILTER (c1) AS surv_id_min,
       |    MAX(doc_id) FILTER (c1) AS surv_id_max FROM flags
       |  UNION ALL
       |  SELECT CAST(2 AS INT), 'repetition',
       |    CAST(COUNT(*) FILTER (c1) AS BIGINT),
       |    CAST(COUNT(*) FILTER (c1) - COUNT(*) FILTER (c2) AS BIGINT),
       |    CAST(COUNT(*) FILTER (c2) AS BIGINT),
       |    CAST(SUM(doc_id) FILTER (c2) AS BIGINT),
       |    MIN(doc_id) FILTER (c2), MAX(doc_id) FILTER (c2) FROM flags
       |  UNION ALL
       |  SELECT CAST(3 AS INT), 'decontaminate',
       |    CAST(COUNT(*) FILTER (c2) AS BIGINT),
       |    CAST(COUNT(*) FILTER (c2) - COUNT(*) FILTER (c3) AS BIGINT),
       |    CAST(COUNT(*) FILTER (c3) AS BIGINT),
       |    CAST(SUM(doc_id) FILTER (c3) AS BIGINT),
       |    MIN(doc_id) FILTER (c3), MAX(doc_id) FILTER (c3) FROM flags
       |  UNION ALL
       |  SELECT CAST(4 AS INT), 'quality',
       |    CAST(COUNT(*) FILTER (c3) AS BIGINT),
       |    CAST(COUNT(*) FILTER (c3) - COUNT(*) FILTER (c4) AS BIGINT),
       |    CAST(COUNT(*) FILTER (c4) AS BIGINT),
       |    CAST(SUM(doc_id) FILTER (c4) AS BIGINT),
       |    MIN(doc_id) FILTER (c4), MAX(doc_id) FILTER (c4) FROM flags)
       |ORDER BY stage_idx""".stripMargin
  }

  // ── leakage-free split ──────────────────────────────────────────────
  /** Hash split + decontamination composed: assign train/val/test by
    * the deterministic id hash, then drop from TRAIN every doc sharing
    * a word n-gram with ANY test doc — the leakage guard a benchmark-
    * grade split runs (a train near-copy of a test doc inflates eval).
    * Both sides reduce to 64-bit n-gram hashes ([[ngramHashes]], one
    * scan, no gram strings shuffled); the test side is the small
    * distinct set (≈10 % of docs), so the check is a broadcastable
    * hash semi-join, never doc×doc, and the dc4 Bloom prune applies
    * unchanged at 100 TB. Same hash-vs-string collision caveat as
    * [[dcDecontamination]] (needs ~2³² grams per doc to matter).
    * n = 5 on the synthetic corpus: long enough that only genuine
    * shared passages leak (5/400 train docs at sf0.01), short enough
    * to be non-vacuous. */
  def tsSplitDecontaminated(spark: SparkSession, dir: String, n: Int = 5)
      : DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("split", splitCol("doc_id"))
    val grams = docs.select(col("doc_id"), col("split"),
      explode(ngramHashes(col("text"), n)).as("g"))
    val testG = grams.filter(col("split") === "test")
      .select("g").distinct()
    val leaked = grams.filter(col("split") === "train")
      .join(testG, "g").groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_shared"))
    docs.join(leaked, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (col("split") =!= "train" || col("n_shared").isNull).as("kept"))
      .orderBy("doc_id")
  }

  def tsSplitDecontaminatedSql(n: Int = 5): String =
    s"""WITH s AS (
       |  SELECT doc_id, text,
       |    CASE WHEN ((((doc_id % 1000003) + 1000003) % 1000003)
       |                * 2654435761) % 100 < 80 THEN 'train'
       |         WHEN ((((doc_id % 1000003) + 1000003) % 1000003)
       |                * 2654435761) % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents),
       |toks AS (
       |  SELECT doc_id, split, regexp_split_to_array(text, '\\s+') AS a
       |  FROM s),
       |grams AS (
       |  SELECT doc_id, split,
       |    unnest(list_transform(range(1, len(a) - $n + 2),
       |      i -> array_to_string(a[i:i+$n-1], ' '))) AS g
       |  FROM toks WHERE len(a) >= $n),
       |test_g AS (SELECT DISTINCT g FROM grams WHERE split = 'test'),
       |leak AS (
       |  SELECT doc_id, COUNT(DISTINCT g) AS n_shared
       |  FROM grams JOIN test_g USING (g)
       |  WHERE split = 'train' GROUP BY doc_id)
       |SELECT s.doc_id, s.split,
       |  CAST(COALESCE(leak.n_shared, 0) AS BIGINT) AS n_shared,
       |  (s.split <> 'train' OR leak.doc_id IS NULL) AS kept
       |FROM s LEFT JOIN leak USING (doc_id) ORDER BY doc_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("tp_source_quota", (s, d) => tpSourceQuota(s, d),
      tpSourceQuotaSql()),
    QuerySpec("tc_bpe_merges", (s, d) => tcBpeMerges(s, d), tcBpeMergesSql()),
    QuerySpec("tc_bpe_encode", (s, d) => tcBpeEncode(s, d), tcBpeEncodeSql()),
    QuerySpec("tc_bpe_gate", (s, d) => tcBpeGate(s, d), tcBpeGateSql),
    QuerySpec("tc_length_buckets", (s, d) => tcLengthBuckets(s, d),
      tcLengthBucketsSql()),
    QuerySpec("tc_padding_sweep", (s, d) => tcPaddingSweep(s, d),
      tcPaddingSweepSql()),
    QuerySpec("ts_reservoir_topk", (s, d) => tsReservoirTopk(s, d),
      tsReservoirTopkSql()),
    QuerySpec("tp_packing", (s, d) => tpPacking(s, d), tpPackingSql()),
    QuerySpec("tp_pack_greedy", (s, d) => tpPackGreedy(s, d),
      tpPackGreedySql()),
    QuerySpec("ts_curriculum", tsCurriculum, tsCurriculumSql),
    QuerySpec("tp_quality_percentile", (s, d) => tpQualityPercentile(s, d),
      tpQualityPercentileSql()),
    QuerySpec("tc_chunking", (s, d) => tcChunking(s, d), tcChunkingSql()),
    QuerySpec("ts_hash_split", tsHashSplit, tsHashSplitSql),
    QuerySpec("ts_stratified_sample", (s, d) => tsStratifiedSample(s, d),
      tsStratifiedSampleSql),
    QuerySpec("ts_mixture", tsMixture, tsMixtureSql),
    QuerySpec("ts_temperature", tsTemperature, tsTemperatureSql),
    QuerySpec("ts_budget_alloc", tsBudgetAlloc, tsBudgetAllocSql()),
    QuerySpec("tp_epoch_plan", tpEpochPlan, tpEpochPlanSql(maxEpochs = 2)),
    QuerySpec("ts_shuffle_shards", (s, d) => tsShuffleShards(s, d),
      tsShuffleSql()),
    QuerySpec("tp_corpus_stats", tpCorpusStats, tpCorpusStatsSql),
    QuerySpec("tp_curation", tpCuration, tpCurationSql),
    QuerySpec("tp_quality_calibration", tpQualityCalibration,
      tpQualityCalibrationSql),
    QuerySpec("dc_decontamination", (s, d) => dcDecontamination(s, d),
      dcDecontaminationSql()),
    QuerySpec("dc4_bloom_decontamination",
      (s, d) => dc4BloomDecontamination(s, d), dcDecontaminationSql()),
    QuerySpec("dc2_fuzzy_decontamination", dc2FuzzyDecontamination, dc2Sql),
    QuerySpec("dc5_overlap_fraction", (s, d) => dc5OverlapFraction(s, d),
      dc5OverlapFractionSql()),
    QuerySpec("dc6_span_ladder", (s, d) => dc6SpanLadder(s, d),
      dc6SpanLadderSql),
    QuerySpec("tp_filter_funnel", (s, d) => tpFilterFunnel(s, d),
      tpFilterFunnelSql()),
    QuerySpec("ts_split_decontaminated", (s, d) => tsSplitDecontaminated(s, d),
      tsSplitDecontaminatedSql()))
}
