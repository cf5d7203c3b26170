package graft

import graft.functions.{Dedup, GramIndex}
import org.apache.spark.sql.functions._

/** The artifact contract: a persisted gram index transparently serves
  * a COLD session (fingerprint match → load, skip the tokenize+hash
  * corpus scan) and invalidates itself when the corpus drifts. */
class GramIndexSpec extends SparkSpec {

  private def withIndexDir[T](dir: String)(body: => T): T = {
    spark.conf.set(GramIndex.IndexDirConf, dir)
    GramIndex.invalidate() // simulate a cold session: empty memo
    try body
    finally {
      spark.conf.unset(GramIndex.IndexDirConf)
      GramIndex.invalidate()
    }
  }

  test("cold session with a fresh artifact: loads, hash-matches the " +
    "in-session build, and never rescans text") {
    val docs = Tables.documents(spark, sf)
    val inSession = Dedup.ddPrefixJaccard(spark, sf).collect().toSeq
    val dir = tempDir("gram_auto").toString
    GramIndex.saveIndex(docs, n = 4, dir)
    withIndexDir(dir) {
      val df = Dedup.ddPrefixJaccard(spark, sf)
      assert(df.collect().toSeq === inSession,
        "artifact-served result diverged from the in-session build")
      // the gram-set input must come from the artifact (its parquet
      // path in the scan), not a rebuild over documents.text
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("gram_auto"),
        "scan does not read the artifact:\n" + plan.take(2000))
    }
  }

  test("fingerprint drift: a corpus edit invalidates the artifact and " +
    "the query silently rebuilds (no stale index served)") {
    val docs = Tables.documents(spark, sf)
    val dir = tempDir("gram_stale").toString
    GramIndex.saveIndex(docs, n = 4, dir)
    // the 'current' corpus drops one doc -> membership fingerprint flips
    val edited = docs.filter(col("doc_id") =!= docs
      .agg(min("doc_id")).collect()(0).getLong(0))
    assert(GramIndex.loadIfFresh(edited, "ngram_sets_4", dir).isEmpty,
      "stale artifact must not load")
    // unchanged corpus still validates
    assert(GramIndex.loadIfFresh(docs, "ngram_sets_4", dir).nonEmpty,
      "fresh artifact must load")
    // missing artifact directory -> rebuild path, no crash
    assert(GramIndex.loadIfFresh(docs, "ngram_sets_4",
      dir + "/nonexistent").isEmpty)
    withIndexDir(dir) {
      // served via the edited corpus: memo-keyed build runs on the
      // edited plan and must reflect the edit, not the artifact
      val got = GramIndex.ngramSets(edited, 4)
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      val want = spark.read.parquet(s"$dir/ngram_sets_4")
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet -
        docs.agg(min("doc_id")).collect()(0).getLong(0)
      assert(got === want, "rebuild must cover exactly the edited corpus")
    }
  }

  private val shapes = Seq("occ_bigram_tf", "ngram_sets_4",
    "bigram_source_sets", "minhash_signatures", "members", "fingerprint")

  private def artifactRows(dir: String): Map[String, Seq[String]] =
    shapes.map(s => s -> spark.read.parquet(s"$dir/$s")
      .collect().map(_.toString).sorted.toSeq).toMap

  private def parquetFiles(dir: String): Set[String] =
    shapes.flatMap { s =>
      val d = new java.io.File(s"$dir/$s")
      if (d.exists()) d.listFiles().map(f => s"$s/${f.getName}")
        .filter(_.endsWith(".parquet")).toSeq
      else Seq.empty
    }.toSet

  test("incremental maintenance: appending 10% of docs patches the " +
    "artifact in place (delta-sized work), hash-matches a fresh " +
    "build, and the updated fingerprint validates") {
    val docs = Tables.documents(spark, sf)
    val base = docs.filter(col("doc_id") % 10 =!= 0)
    val dir = tempDir("gram_incr").toString
    GramIndex.saveIndex(base, n = 4, dir)
    val baseFiles = parquetFiles(dir)
    // same corpus again: nothing to do
    assert(GramIndex.updateIndex(base, 4, dir) === "noop")
    // append-only delta (the 10% bucket): patch, don't rebuild
    assert(GramIndex.updateIndex(docs, 4, dir) === "append")
    // cost class: the base build's shape files are untouched — update
    // only ADDED files (members/fingerprint excepted: fingerprint is a
    // 1-row overwrite by design)
    val afterFiles = parquetFiles(dir)
    val baseShapeFiles = baseFiles.filterNot(_.startsWith("fingerprint"))
    assert(baseShapeFiles.subsetOf(afterFiles),
      "append rewrote pre-existing shape files")
    // the patched artifact is value-identical to a fresh full build
    val freshDir = tempDir("gram_incr_fresh").toString
    GramIndex.saveIndex(docs, n = 4, freshDir)
    val patched = artifactRows(dir)
    val fresh = artifactRows(freshDir)
    shapes.foreach(s => assert(patched(s) === fresh(s), s"shape $s"))
    // and it fingerprint-validates against the current corpus
    GramIndex.invalidate()
    assert(GramIndex.loadIfFresh(docs, "ngram_sets_4", dir).nonEmpty,
      "patched artifact must load fresh")
  }

  test("crash-window fail-safe: a sentinel fingerprint (crash between " +
    "shape writes) never validates and repairs via full rebuild") {
    val docs = Tables.documents(spark, sf)
    val dir = tempDir("gram_crash").toString
    GramIndex.saveIndex(docs, n = 4, dir)
    // simulate a crash mid-update: updateIndex/saveIndex write this
    // sentinel BEFORE the first shape write and the real fingerprint
    // only after the last — die anywhere between and this is what an
    // artifact looks like
    import spark.implicits._
    Seq((-1L, 0L, 0L, ""))
      .toDF("n_docs", "id_sum", "hash_sum", "shapes")
      .write.mode("overwrite").parquet(s"$dir/fingerprint")
    GramIndex.invalidate()
    assert(GramIndex.loadIfFresh(docs, "ngram_sets_4", dir).isEmpty,
      "a sentinel-fingerprinted artifact must never be served")
    // maintenance touch repairs it with a full rebuild, not a patch
    // (the pre-fix failure mode: re-running the delta append DUPLICATED
    // already-appended shape rows and then validated)
    assert(GramIndex.updateIndex(docs, 4, dir) === "rebuild")
    val freshDir = tempDir("gram_crash_fresh").toString
    GramIndex.saveIndex(docs, n = 4, freshDir)
    val repaired = artifactRows(dir)
    val fresh = artifactRows(freshDir)
    shapes.foreach(s => assert(repaired(s) === fresh(s), s"shape $s"))
  }

  test("shape manifest: updating with a gram size the artifact never " +
    "built rebuilds (no delta-only shape table), and a shape absent " +
    "from the manifest is never served") {
    val docs = Tables.documents(spark, sf)
    val base = docs.filter(col("doc_id") % 10 =!= 0)
    val dir = tempDir("gram_shape").toString
    GramIndex.saveIndex(base, n = 4, dir)
    // append-shaped delta but with n=5: ngram_sets_5 was never built,
    // so an append would create a FRESH delta-only table that then
    // fingerprint-validates — the manifest forces a rebuild instead
    assert(GramIndex.updateIndex(docs, 5, dir) === "rebuild")
    GramIndex.invalidate()
    assert(GramIndex.loadIfFresh(docs, "ngram_sets_5", dir).nonEmpty,
      "rebuilt n=5 artifact must serve")
    // ngram_sets_4 still exists ON DISK (stale leftover of the n=4
    // build over the smaller corpus) but is not in the n=5 manifest
    assert(new java.io.File(s"$dir/ngram_sets_4").exists())
    assert(GramIndex.loadIfFresh(docs, "ngram_sets_4", dir).isEmpty,
      "a shape outside the manifest must not be served")
    // value identity of the rebuilt table vs a fresh n=5 build
    val freshDir = tempDir("gram_shape_fresh").toString
    GramIndex.saveIndex(docs, n = 5, freshDir)
    def rows(d: String) = spark.read.parquet(s"$d/ngram_sets_5")
      .collect().map(_.toString).sorted.toSeq
    assert(rows(dir) === rows(freshDir))
  }

  test("incremental maintenance: a MUTATED corpus (edited doc) runs " +
    "the delete+append patch and stays value-identical") {
    val docs = Tables.documents(spark, sf)
    val dir = tempDir("gram_mut").toString
    GramIndex.saveIndex(docs, n = 4, dir)
    // in-place edit that changes one doc's length: its old index rows
    // are anti-joined away, its new rows re-enter through the delta
    // append — index-sized I/O, never a corpus-scale re-tokenize
    val minId = docs.agg(min("doc_id")).collect()(0).getLong(0)
    val mutatedDocs = docs
      .withColumn("text", when(col("doc_id") === minId,
        concat(col("text"), lit(" edited"))).otherwise(col("text")))
      .withColumn("n_chars", length(col("text")).cast("long"))
    assert(GramIndex.updateIndex(mutatedDocs, 4, dir) === "delete")
    val freshDir = tempDir("gram_mut_fresh").toString
    GramIndex.saveIndex(mutatedDocs, n = 4, freshDir)
    val patched = artifactRows(dir)
    val fresh = artifactRows(freshDir)
    shapes.foreach(s => assert(patched(s) === fresh(s), s"shape $s"))
    // the patched fingerprint validates (noop on a second touch) and
    // the artifact serves
    assert(GramIndex.updateIndex(mutatedDocs, 4, dir) === "noop")
    GramIndex.invalidate()
    assert(GramIndex.loadIfFresh(mutatedDocs, "ngram_sets_4", dir)
      .nonEmpty, "patched artifact must load fresh")
  }

  test("delete cost class: dropped docs are anti-joined out of every " +
    "shape; mass deletion falls back to rebuild") {
    val docs = Tables.documents(spark, sf)
    val dir = tempDir("gram_del").toString
    GramIndex.saveIndex(docs, n = 4, dir)
    // right-to-be-forgotten pass: drop ~14% of docs
    val shrunk = docs.filter(col("doc_id") % 7 =!= 3)
    assert(GramIndex.updateIndex(shrunk, 4, dir) === "delete")
    val freshDir = tempDir("gram_del_fresh").toString
    GramIndex.saveIndex(shrunk, n = 4, freshDir)
    val patched = artifactRows(dir)
    val fresh = artifactRows(freshDir)
    shapes.foreach(s => assert(patched(s) === fresh(s), s"shape $s"))
    assert(GramIndex.updateIndex(shrunk, 4, dir) === "noop")
    // past half the membership gone, the patch loses to the rebuild
    val few = docs.filter(col("doc_id") % 10 === 0)
    assert(GramIndex.updateIndex(few, 4, dir) === "rebuild")
  }
}
