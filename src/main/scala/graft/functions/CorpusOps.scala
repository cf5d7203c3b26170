package graft.functions

import graft.{QueryModule, QuerySpec, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-rewrite and corpus-comparison operators — the remaining
  * C4/CCNet-shaped steps of a training-data build that transform or
  * compare whole corpora rather than score single documents:
  *
  *  - [[boilerplatePrune]]: tile-level boilerplate REMOVAL (the C4
  *    "deduplicate repeated lines across the corpus" rule) that
  *    rewrites every document, unlike [[Dedup.spanDuplication]] which
  *    only measures the duplicated fraction.
  *  - [[prioritySample]]: weighted sampling without replacement
  *    (Ohlsson's sequential Poisson order sampling) with deterministic
  *    hash uniforms — the probability-proportional-to-size subsample a
  *    mixture builder draws from an oversized source.
  *  - [[corpusOverlap]]: pairwise corpus-level Jaccard/containment on
  *    the distinct-shingle space — the "how much does source A repeat
  *    source B" audit that runs BEFORE any doc-level dedup.
  *  - [[surprisalScores]]: CCNet's perplexity-filter shape in exact
  *    integer arithmetic — per-token corpus surprisal ⌊log2(N/c)⌋ via
  *    bit length, summed per document. No floating-point logs, so the
  *    scores are bit-identical on any engine or cluster layout.
  *
  * All four stay in aggregate/join space the size of the corpus or its
  * shingle vocabulary — none forms a doc×doc pair set.
  */
object CorpusOps extends QueryModule {

  // ── C4-style boilerplate tile pruning ───────────────────────────────

  /** Corpus-wide boilerplate removal over non-overlapping `k`-word
    * tiles (the C4 rule, with tiles standing in for lines — the
    * synthetic corpus has no newlines): a full tile whose exact text
    * occurs at tile positions in more than `tau` distinct documents is
    * boilerplate; every document drops its copies EXCEPT the lowest
    * doc_id containing the tile (keep-first, so the corpus never loses
    * the text entirely). The trailing partial tile (< k words) is never
    * counted and never dropped. Documents are reassembled in original
    * tile order.
    *
    * Scale shape: tile doc-frequency is one groupBy on 64-bit tile
    * hashes (gram-space, not doc-space); the verdict returns to the
    * corpus as a hash join on the same 8-byte key; reassembly is one
    * per-doc aggregation of data the rewrite must carry anyway. No
    * doc×doc join anywhere. Same hash-vs-string collision caveat as
    * [[TrainPrep.dcDecontamination]]: two distinct tiles colliding in
    * 64 bits would merge their doc-frequency counts — birthday bound
    * ~2^32 distinct tiles.
    */
  def boilerplatePrune(docs: DataFrame, k: Int = 4, tau: Int = 2)
      : DataFrame = {
    val tiles = docs
      .select(col("doc_id"), split(col("text"), " ").as("a"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(1, (size(a) + ${k - 1}) div $k),
           |  i -> struct(
           |    array_join(slice(a, (i - 1) * $k + 1, $k), ' ') AS tile,
           |    size(a) >= i * $k AS full_tile))""".stripMargin)))
      .select(col("doc_id"), (col("pos") + 1).as("i"),
        col("col.tile").as("tile"), col("col.full_tile").as("full_tile"))
    // boilerplate verdict per tile hash: doc frequency + keeper. The
    // DISTINCT collapses within-doc repeats first so `nd` counts docs.
    val hot = tiles.filter(col("full_tile"))
      .select(col("doc_id"), xxhash64(col("tile")).as("h"))
      .distinct()
      .groupBy("h")
      .agg(count(lit(1)).as("nd"), min("doc_id").as("keeper"))
      .filter(col("nd") > tau)
      .select("h", "keeper")
    // partial tiles get a NULL hash → they can never match `hot`
    val kept = tiles
      .withColumn("h", when(col("full_tile"), xxhash64(col("tile"))))
      .join(hot, Seq("h"), "left")
      .filter(col("keeper").isNull || col("keeper") === col("doc_id"))
    val keptAgg = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("i"), col("tile")))),
          s => s.getField("tile"))).as("text_kept"))
    val totals = tiles.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tiles"))
    docs.select("doc_id")
      .join(totals, Seq("doc_id"), "left")
      .join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tiles"), lit(0L)).as("n_tiles"),
        (coalesce(col("n_tiles"), lit(0L)) -
          coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
      .orderBy("doc_id")
  }

  def tpBoilerplatePrune(spark: SparkSession, dir: String): DataFrame =
    boilerplatePrune(Tables.documents(spark, dir))

  def tpBoilerplatePruneSql(k: Int = 4, tau: Int = 2): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS a FROM documents),
       |tiles AS (
       |  SELECT doc_id, i,
       |    array_to_string(a[(i-1)*$k+1:least(i*$k, len(a))], ' ') AS tile,
       |    len(a) >= i*$k AS full_tile
       |  FROM toks,
       |    unnest(range(1, ((len(a) + ${k - 1}) // $k)::int + 1)) AS u(i)),
       |hot AS (
       |  SELECT tile, MIN(doc_id) AS keeper
       |  FROM (SELECT DISTINCT doc_id, tile FROM tiles WHERE full_tile)
       |  GROUP BY tile HAVING COUNT(*) > $tau),
       |kept AS (
       |  SELECT t.doc_id, t.i, t.tile
       |  FROM tiles t LEFT JOIN hot h ON t.tile = h.tile AND t.full_tile
       |  WHERE h.tile IS NULL OR h.keeper = t.doc_id),
       |agg_kept AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |    string_agg(tile, ' ' ORDER BY i) AS text_kept
       |  FROM kept GROUP BY doc_id),
       |agg_all AS (SELECT doc_id, COUNT(*) AS n_tiles FROM tiles GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(n_tiles, 0) AS n_tiles,
       |  COALESCE(n_tiles, 0) - COALESCE(n_kept, 0) AS n_dropped,
       |  COALESCE(text_kept, '') AS text_kept
       |FROM documents d
       |LEFT JOIN agg_all USING (doc_id)
       |LEFT JOIN agg_kept USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ── sequential Poisson weighted sampling ────────────────────────────

  /** Deterministic uniform in [1, 2^20] from the doc id — the same
    * overflow-safe reduce-then-multiply scheme as
    * [[TrainPrep.splitCol]], salted so sampling and splits stay
    * independent. */
  private def uniformExpr(salt: Long): String =
    s"pmod(pmod(doc_id + $salt, 1000003) * 2654435761, 1048576) + 1"

  /** Weighted sampling WITHOUT replacement, probability roughly
    * proportional to size (here: n_chars) — Ohlsson's sequential
    * Poisson order sampling: each item draws priority w/u for a
    * uniform u and the top k priorities win. The uniform is a
    * deterministic hash of the doc id, so the sample is reproducible
    * on any engine and stable under corpus growth (an item's priority
    * never changes; only the cut line moves).
    *
    * The priority is the ONE floating-point step — a single IEEE-754
    * division, which is correctly rounded and therefore bit-identical
    * on every engine (unlike ln/pow, which is why this beats
    * Efraimidis–Spirakis u^(1/w) keys for auditable builds). Ties are
    * broken by doc_id.
    *
    * Scale shape: Spark plans the top-k as TakeOrderedAndProject —
    * per-partition bounded heaps, one k-row merge, no global sort, no
    * shuffle of the corpus. */
  def prioritySample(docs: DataFrame, k: Int = 25, salt: Long = 11L)
      : DataFrame =
    docs.select(col("doc_id"), col("lang"), col("n_chars").as("w"))
      .withColumn("u", expr(uniformExpr(salt)))
      .withColumn("priority", col("w").cast("double") / col("u"))
      .orderBy(desc("priority"), col("doc_id"))
      .limit(k)

  def tsPrioritySample(spark: SparkSession, dir: String): DataFrame =
    prioritySample(Tables.documents(spark, dir))

  def tsPrioritySampleSql(k: Int = 25, salt: Long = 11L): String =
    s"""SELECT doc_id, lang, w, u, CAST(w AS DOUBLE) / u AS priority
       |FROM (
       |  SELECT doc_id, lang, n_chars AS w,
       |    ((((doc_id + $salt) % 1000003) + 1000003) % 1000003)
       |      * 2654435761 % 1048576 + 1 AS u
       |  FROM documents)
       |ORDER BY priority DESC, doc_id LIMIT $k""".stripMargin

  // ── pairwise corpus overlap ─────────────────────────────────────────

  /** Pairwise source-corpus overlap on the distinct word-bigram space:
    * for every source pair, the distinct-shingle intersection, Jaccard
    * and containment. This is the corpus-level audit ("does src7
    * wholesale repeat src3?") a pipeline runs before doc-level dedup —
    * and it never touches doc pairs: documents reduce to distinct
    * (source, shingle-hash) rows, so the join fans out per shingle by
    * the number of sources containing it (≤ #corpora, tens), not by
    * document frequency. Per-source vocabulary sizes are a tiny
    * aggregate broadcast onto the pair counts. Hash-vs-string caveat
    * as [[TrainPrep.dcDecontamination]]. */
  def corpusOverlap(docs: DataFrame): DataFrame = {
    val grams = docs
      .select(col("source"),
        explode(ShingleFunctions.ngram_hashes(col("text"), 2)).as("g"))
      .distinct()
    val sizes = grams.groupBy("source").agg(count(lit(1)).as("n"))
    val pairs = grams.alias("x")
      .join(grams.alias("y"),
        col("x.g") === col("y.g") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("s1"), col("y.source").as("s2"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(broadcast(sizes.select(col("source").as("s1"),
        col("n").as("n1"))), Seq("s1"))
      .join(broadcast(sizes.select(col("source").as("s2"),
        col("n").as("n2"))), Seq("s2"))
      .select(col("s1"), col("s2"), col("n1"), col("n2"), col("n_common"),
        (col("n_common").cast("double") /
          (col("n1") + col("n2") - col("n_common"))).as("jaccard"),
        (col("n_common").cast("double") /
          least(col("n1"), col("n2"))).as("containment"))
      .orderBy("s1", "s2")
  }

  def ddCorpusOverlap(spark: SparkSession, dir: String): DataFrame =
    corpusOverlap(Tables.documents(spark, dir))

  val ddCorpusOverlapSql: String =
    """WITH toks AS (
      |  SELECT source, regexp_split_to_array(text, '\s+') AS a
      |  FROM documents),
      |grams AS (
      |  SELECT DISTINCT source,
      |    unnest(list_transform(range(1, len(a)),
      |      i -> array_to_string(a[i:i+1], ' '))) AS g
      |  FROM toks WHERE len(a) >= 2),
      |sizes AS (SELECT source, COUNT(*) AS n FROM grams GROUP BY source),
      |pairs AS (
      |  SELECT x.source AS s1, y.source AS s2, COUNT(*) AS n_common
      |  FROM grams x JOIN grams y ON x.g = y.g AND x.source < y.source
      |  GROUP BY 1, 2)
      |SELECT s1, s2, n1.n AS n1, n2.n AS n2, n_common,
      |  CAST(n_common AS DOUBLE) / (n1.n + n2.n - n_common) AS jaccard,
      |  CAST(n_common AS DOUBLE) / least(n1.n, n2.n) AS containment
      |FROM pairs
      |JOIN sizes n1 ON n1.source = pairs.s1
      |JOIN sizes n2 ON n2.source = pairs.s2
      |ORDER BY s1, s2""".stripMargin

  // ── integer-exact token surprisal (perplexity-filter shape) ─────────

  /** Per-document corpus surprisal — the CCNet perplexity-filter shape
    * without a float log anywhere: each token occurrence scores
    * ⌊log2(N / c)⌋ (N = corpus token occurrences, c = this token's
    * occurrences), computed EXACTLY as bitlength(N div c) − 1.
    * Documents of rare tokens score high, boilerplate scores low; the
    * mean is the one (bit-exact) double division at the end.
    *
    * Scale shape: the vocabulary count is the classic word-count agg
    * on 8-byte token hashes; scoring is a hash join of occurrences
    * against that vocabulary (at 100 TB the vocab side is millions of
    * rows — a plain shuffle hash join, deliberately NOT a broadcast);
    * N is a 1-row aggregate broadcast as a scalar. All integer ops
    * stay inside whole-stage codegen. Hash-vs-string caveat as
    * [[TrainPrep.dcDecontamination]]. */
  def surprisalScores(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
    val counts = toks.groupBy("h").agg(count(lit(1)).as("c"))
    val total = counts.agg(sum("c").as("n_total"))
    toks.join(counts, Seq("h"))
      .crossJoin(broadcast(total))
      .withColumn("s", length(expr("bin(n_total div c)")) - 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum("s").cast("long").as("total_surprisal"),
        max("s").as("max_surprisal"))
      .withColumn("mean_surprisal",
        col("total_surprisal").cast("double") / col("n_tokens"))
      .orderBy("doc_id")
  }

  def tcSurprisal(spark: SparkSession, dir: String): DataFrame =
    surprisalScores(Tables.documents(spark, dir))

  val tcSurprisalSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
      |  FROM documents),
      |counts AS (SELECT t, COUNT(*) AS c FROM toks GROUP BY t),
      |total AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM counts),
      |scored AS (
      |  SELECT doc_id, length(printf('%b', n_total // c)) - 1 AS s
      |  FROM toks JOIN counts USING (t) CROSS JOIN total)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      |  CAST(SUM(s) AS BIGINT) AS total_surprisal,
      |  MAX(s) AS max_surprisal,
      |  CAST(SUM(s) AS DOUBLE) / COUNT(*) AS mean_surprisal
      |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ── corpus version diff ─────────────────────────────────────────────

  /** Snapshot-to-snapshot corpus diff — the dataset-versioning audit
    * (the Delta-/lakeFS-shaped "what changed between corpus v1 and
    * v2" report a training-data release publishes): per (source,
    * status ∈ added/removed/changed/same), document counts and char
    * totals on both sides. Content comparison rides the 8-byte
    * xxhash64 of the body, never the body itself, so the full-outer
    * join shuffles (id, source, hash, chars) regardless of document
    * size — the only corpus-wide state is one join keyed by doc_id.
    * Collision caveat as [[TrainPrep.dcDecontamination]]. */
  def versionDiff(v1: DataFrame, v2: DataFrame): DataFrame = {
    val a = v1.select(col("doc_id"), col("source").as("src1"),
      xxhash64(col("text")).as("h1"), col("n_chars").as("c1"))
    val b = v2.select(col("doc_id"), col("source").as("src2"),
      xxhash64(col("text")).as("h2"), col("n_chars").as("c2"))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("h1").isNull, lit("added"))
          .when(col("h2").isNull, lit("removed"))
          .when(col("h1") === col("h2"), lit("same"))
          .otherwise(lit("changed")))
      .groupBy(coalesce(col("src1"), col("src2")).as("source"),
        col("status"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("c1"), lit(0L))).as("chars_v1"),
        sum(coalesce(col("c2"), lit(0L))).as("chars_v2"))
      .orderBy("source", "status")
  }

  /** Declared query: v1 and v2 are deterministic slices of the one
    * corpus (the [[Dedup.ddIncrementalMinhash]] device) — v1 drops the
    * id%10==9 docs (so they read as added), v2 drops id%10==0 (so
    * those read as removed) and rewrites id%10==5 bodies (changed);
    * everything else is byte-identical (same). Every status is
    * non-vacuous at every scale factor by construction. */
  def tpVersionDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val v1 = docs.filter(col("doc_id") % 10 =!= 9)
    val v2 = docs.filter(col("doc_id") % 10 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 10 === 5, concat(col("text"), lit(" edited")))
          .otherwise(col("text")))
      .withColumn("n_chars",
        when(col("doc_id") % 10 === 5, col("n_chars") + 7)
          .otherwise(col("n_chars")))
    versionDiff(v1, v2)
  }

  val tpVersionDiffSql: String =
    """WITH v1 AS (
      |  SELECT doc_id, source, text, n_chars FROM documents
      |  WHERE doc_id % 10 <> 9),
      |v2 AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 10 = 5 THEN text || ' edited' ELSE text END
      |      AS text,
      |    CASE WHEN doc_id % 10 = 5 THEN n_chars + 7 ELSE n_chars END
      |      AS n_chars
      |  FROM documents WHERE doc_id % 10 <> 0)
      |SELECT COALESCE(v1.source, v2.source) AS source,
      |  CASE WHEN v1.doc_id IS NULL THEN 'added'
      |       WHEN v2.doc_id IS NULL THEN 'removed'
      |       WHEN v1.text = v2.text THEN 'same'
      |       ELSE 'changed' END AS status,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(COALESCE(v1.n_chars, 0)) AS BIGINT) AS chars_v1,
      |  CAST(SUM(COALESCE(v2.n_chars, 0)) AS BIGINT) AS chars_v2
      |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("tp_boilerplate_prune", tpBoilerplatePrune,
      tpBoilerplatePruneSql()),
    QuerySpec("ts_priority_sample", tsPrioritySample, tsPrioritySampleSql()),
    QuerySpec("dd_corpus_overlap", ddCorpusOverlap, ddCorpusOverlapSql),
    QuerySpec("tc_surprisal", tcSurprisal, tcSurprisalSql),
    QuerySpec("tp_version_diff", tpVersionDiff, tpVersionDiffSql))
}
