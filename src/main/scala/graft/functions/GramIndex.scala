package graft.functions

import graft.util.Caches
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Session-shared shingle/signature index tables for the dedup and
  * decontamination family — the `ix_postings` pattern applied to the
  * similarity-join inputs.
  *
  * Every exact-similarity and LSH operator starts from the same
  * derived table: the per-doc set of gram hashes (4-gram, bigram) or
  * the MinHash signature over it. Round 5 measured each of
  * `dd_prefix_jaccard`, `dd_survivorship`, `dc2_fuzzy_decontamination`
  * rebuilding the 4-gram set table from the raw text per query. At
  * 100 TB the gram index is materialized ONCE per (corpus, shape) and
  * amortized across every dedup/decontamination/audit run over that
  * corpus — this registry is the in-session form of that contract:
  * the first caller builds and persists; later callers (same session,
  * same source plan) reuse the cached blocks. A COLD session repays
  * the build unless `spark.graft.index.dir` (env
  * `SPARK_GRAFT_INDEX_DIR`) points at a [[saveIndex]] artifact — the
  * gram family of the one persisted-index device, [[IndexMeta]]: then
  * the first use fingerprint-validates and LOADS — measured at sf0.1,
  * first access across the four shapes drops 8.2 s → 2.8 s, the
  * remainder being the one-time fingerprint probe + parquet footers.
  * (Per-QUERY cold-vs-warm gaps are dominated by whole-stage-codegen
  * compilation, which no artifact can remove — the honest unit for
  * the artifact's win is index-table first access.)
  *
  * Keying and bounds live in [[Caches.PlanMemo]] (shared with the
  * Bloom model-state cache): (session, canonicalized source plan,
  * shape), wholesale clear at the bound with unpersist-on-evict so a
  * dropped entry's blocks free immediately. The registry stores PLANS
  * (persisted DataFrames), not data: entries re-persist lazily after
  * a [[Caches.releaseAll]] sweep (persist keeps lineage, so a swept
  * entry silently rebuilds — which is why these use persist and NOT
  * localCheckpoint, whose truncated lineage cannot recompute).
  */
object GramIndex {

  private val registry = new Caches.PlanMemo[String, DataFrame](
    maxEntries = 64, onEvict = _.unpersist(blocking = false))

  /** Memo of artifact-load decisions (Option per (corpus plan, shape)):
    * the fingerprint probe — a column-pruned corpus aggregate — runs
    * once per shape per session, not per query. Stores PLANS over the
    * artifact parquet, deliberately NOT persisted (see [[saveIndex]]:
    * a pinned InMemoryRelation re-routes consumer joins; a fresh
    * columnar read of the small set table plans better and re-reads
    * are near-free). */
  private val artifactMemo =
    new Caches.PlanMemo[String, Option[DataFrame]](maxEntries = 64)

  /** One fingerprint scan per corpus per session — the probe is shared
    * by every shape lookup against the same artifact root. */
  private val fingerprintMemo =
    new Caches.PlanMemo[String, (Long, Long, Long)](maxEntries = 16)

  def invalidate(): Unit = {
    registry.invalidate(); artifactMemo.invalidate()
    fingerprintMemo.invalidate()
  }

  /** Build-once lookup: `build` runs on first use per (session, source
    * plan, shape); every access routes through
    * [[Caches.persistOnce]] so swept entries re-persist. When
    * `spark.graft.index.dir` points at a persisted artifact whose
    * fingerprint matches the corpus, the first use LOADS instead of
    * building — a cold session skips the tokenize+hash corpus scan. */
  private def cached(source: DataFrame, shape: String)
      (build: => DataFrame): DataFrame =
    source.sparkSession.conf.getOption(IndexDirConf)
      .flatMap(root => artifactMemo.get(source, s"$shape@$root") {
        loadIfFresh(source, shape, root)
      })
      .getOrElse(Caches.persistOnce(registry.get(source, shape)(build)))

  /** Per-(doc, word-bigram) term-frequency table — the shared map
    * phase of the whole search-index family (postings build, boolean
    * AND, BM25, positional phrase, hybrid retrieval): five queries
    * each rebuilt this word-count-shaped aggregate from raw text per
    * run. Terms stay STRINGS here because the DuckDB oracles compare
    * them (at 100 TB the term rides as a 64-bit hash + dictionary
    * side-table, as [[CorpusOps.surprisalScores]] does). */
  def occurrenceCounts(docs: DataFrame): DataFrame =
    cached(docs, "occ_bigram_tf") {
      graft.util.Par.widen(docs) // CPU-per-row tokenize (r16)
        .withColumn("__toks", split(col("text"), " "))
        .select(col("doc_id"),
          explode(expr("transform(slice(__toks, 1, size(__toks) - 1), " +
            "(t, i) -> concat(t, ' ', element_at(__toks, i + 2)))"))
            .as("t"))
        .groupBy("doc_id", "t")
        .agg(count(lit(1)).as("tf"))
    }

  /** Sorted-distinct word n-gram hash sets: (doc_id, hs, s), empty
    * sets dropped. The shared input of [[Dedup.prefixJaccardPairs]],
    * [[Dedup.survivorshipBySource]] and
    * [[TrainPrep.dc2FuzzyDecontamination]] (all 4-gram, t=1/2).
    * Hashes come from the single-pass [[NgramHashes]] scan — no gram
    * strings materialized; `hs` is sorted for the merge-count verify
    * kernel ([[SortedIntersectCount]]). */
  def ngramSets(docs: DataFrame, n: Int): DataFrame =
    cached(docs, s"ngram_sets_$n") {
      graft.util.Par.widen(docs) // CPU-per-row gram hashing (r16)
        .select(col("doc_id"), array_sort(array_distinct(
          ShingleFunctions.ngram_hashes(col("text"), n))).as("hs"))
        .withColumn("s", size(col("hs")))
        .filter(col("s") > 0)
    }

  /** Sorted-distinct word-bigram hash sets with the `source` blocking
    * column: (doc_id, source, hs, s) — [[Dedup.ngramJaccardPairs]]'s
    * input shape. */
  def bigramSourceSets(docs: DataFrame): DataFrame =
    cached(docs, "bigram_source_sets") {
      // widen here, not in withShingleHashes (r17): the gram-set
      // consumers (corpus overlap 0.77x, recall truth 0.92x) win from
      // the fan-out; the signature consumers lose — see the A/B table
      Dedup.withShingleHashes(graft.util.Par.widen(docs))
        .select(col("doc_id"), col("source"),
          array_sort(col("shingle_hashes")).as("hs"))
        .withColumn("s", size(col("hs")))
        .filter(col("s") > 0)
    }

  /** MinHash signature table: (doc_id, shingle_hashes, signature) —
    * the stored index of the LSH dedup family
    * ([[Dedup.minhashDuplicatePairs]], the incremental ingest gate). */
  def minhashSignatures(docs: DataFrame): DataFrame =
    cached(docs, "minhash_signatures") {
      Dedup.withSignature(Dedup.withShingleHashes(docs))
        .select("doc_id", "shingle_hashes", "signature")
    }

  // ── persisted index artifacts ───────────────────────────────────────
  /** Session conf key: when set to a [[saveIndex]] directory, the
    * session-memo paths above transparently LOAD matching artifacts on
    * first use instead of rebuilding. */
  val IndexDirConf = "spark.graft.index.dir"

  /** The gram member hash: xxhash64(doc_id, byte length). Deliberately
    * COLUMN-PRUNED (never tokenization): the whole point of the
    * artifact is skipping the tokenize+hash pass, so the freshness
    * probe must be an order of magnitude cheaper than the build. Any
    * membership or byte-length change flips the fingerprint; a
    * same-length in-place byte edit does not — the trade every
    * mtime/size build cache makes, and the ingest feeding this engine
    * is append-shaped (CDC streams). */
  private def lengthHash(docs: DataFrame): Column =
    xxhash64(col("doc_id").cast("long"),
      if (docs.columns.contains("n_chars")) col("n_chars").cast("long")
      else length(col("text")).cast("long"))

  /** The gram family for the [[IndexMeta]] device. Every shape is keyed
    * per doc — (doc, term) tf rows, per-doc gram sets, per-doc
    * signatures — with no cross-doc state, so an append-only delta's
    * exact merge IS the append (tokenize+hash over delta docs only)
    * and a deletion is an anti-join rewrite of the INDEX tables, never
    * a corpus re-tokenize. The manifest lists the shapes, so an
    * `--update` with a gram size the artifact never built rebuilds
    * instead of appending into a fresh, delta-only `ngram_sets_<n>`. */
  def family(n: Int): IndexMeta.Family = {
    val shapes = Seq[(String, DataFrame => DataFrame)](
      ("occ_bigram_tf", occurrenceCounts _),
      (s"ngram_sets_$n", ngramSets(_, n)),
      ("bigram_source_sets", bigramSourceSets _),
      ("minhash_signatures", minhashSignatures _))
    def write(mode: String)(docs: DataFrame, dir: String): Unit =
      shapes.foreach { case (name, build) =>
        build(docs).write.mode(mode).parquet(s"$dir/$name")
      }
    IndexMeta.Family("doc_id", lengthHash, shapes.map(_._1),
      build = write("overwrite"), append = write("append"),
      delete = (removed, dir) => shapes.foreach { case (name, _) =>
        IndexMeta.rewriteExcluding(removed.sparkSession, s"$dir/$name",
          removed, "doc_id")
      })
  }

  /** Persist the family's index tables as a deployment artifact. At
    * 100 TB "materialize once per (corpus, shape), amortize across
    * runs" means a TABLE, not session cache: the tokenize+hash scan of
    * the whole corpus — the expensive part every dedup /
    * decontamination / audit run shares — happens once at ingest, and
    * each later run is a parquet read of (doc_id, hs, s) with the text
    * column pruned away entirely. (Session cache can't play this role
    * even single-node: a reused InMemoryRelation carries its
    * materialized stats and partitioning into every consumer's plan,
    * which re-routes joins that a fresh columnar read of the same
    * table plans well — measured 3-6× on the jaccard family when these
    * entries were pinned across the bench's independent jobs.) */
  def saveIndex(docs: DataFrame, n: Int, dir: String): String =
    IndexMeta.rebuild(docs, dir, family(n))

  /** [[IndexMeta.updateWithDelete]] on a [[saveIndex]] artifact:
    * returns "noop" | "append" | "delete" | "rebuild", so callers (and
    * GramIndexSpec) can assert the cost class, not just the result. */
  def updateIndex(docs: DataFrame, n: Int, dir: String): String = {
    val action = IndexMeta.updateWithDelete(docs, dir, family(n))
    // any pre-update load decision or fingerprint memo is now stale;
    // drop them so the next use re-probes the updated artifact
    if (action != "noop") { artifactMemo.invalidate()
      fingerprintMemo.invalidate() }
    action
  }

  /** Load `shape` from a [[saveIndex]] artifact iff the artifact is
    * valid, lists `shape` in its manifest, and its fingerprint matches
    * the CURRENT corpus; None (→ rebuild) otherwise. */
  private[graft] def loadIfFresh(docs: DataFrame, shape: String,
      root: String): Option[DataFrame] = {
    val spark = docs.sparkSession
    IndexMeta.stored(spark, root).collect {
      case (saved, shapes) if shapes.contains(shape) &&
          saved == fingerprintMemo.get(docs, "fp")(
            IndexMeta.fingerprint(docs, "doc_id", lengthHash)) =>
        spark.read.parquet(s"$root/$shape")
    }
  }

  /** Read a persisted gram index: same (doc_id, hs, s) shape
    * [[ngramSets]] builds, so every consumer
    * ([[Dedup.prefixJaccardPairs]], [[TrainPrep]]'s dc2 gate) accepts
    * it in place of the in-session build. */
  def loadNgramSets(spark: org.apache.spark.sql.SparkSession, n: Int,
      dir: String): DataFrame =
    spark.read.parquet(s"$dir/ngram_sets_$n")
}
