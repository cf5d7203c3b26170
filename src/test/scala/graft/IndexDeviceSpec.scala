package graft

import graft.functions.{GramIndex, IndexMeta, Ivf, Similarity}
import org.apache.spark.sql.DataFrame

/** The one persisted-index device across formats and its CLI: an ANN
  * artifact written before the fingerprint carried a shape manifest
  * stays valid, a gram artifact in the older gram-only fingerprint
  * format is never served and repairs through a rebuild, and
  * [[BuildIndex]] drives all four families through one call shape. */
class IndexDeviceSpec extends SparkSpec {

  private def overwriteFingerprint(dir: String, row: DataFrame): Unit =
    row.write.mode("overwrite").parquet(s"$dir/fingerprint")

  test("an ANN fingerprint in the 3-column format (no manifest) still " +
    "validates: update reads noop") {
    val emb = Tables.embeddings(spark, sf)
    val ham = tempDir("ham_fmt").toString
    assert(Similarity.updateSignatureIndex(emb, ham) === "rebuild")
    val ivf = tempDir("ivf_fmt").toString
    assert(Ivf.updateIndex(emb, ivf) === "rebuild")
    val fp = IndexMeta.fingerprint(emb)
    import spark.implicits._
    Seq(ham, ivf).foreach(overwriteFingerprint(_,
      Seq(fp).toDF("n_vecs", "id_xor", "h_xor")))
    assert(IndexMeta.stored(spark, ham) === Some((fp, Nil)))
    assert(Similarity.updateSignatureIndex(emb, ham) === "noop")
    assert(Ivf.updateIndex(emb, ivf) === "noop")
  }

  test("a gram fingerprint in the gram-only format (n_docs, id_sum, " +
    "hash_sum, shapes) with real values never loads and rebuilds") {
    val docs = Tables.documents(spark, sf)
    val dir = tempDir("gram_fmt").toString
    GramIndex.saveIndex(docs, n = 4, dir)
    val Some(((n, ids, hashes), _)) = IndexMeta.stored(spark, dir)
    import spark.implicits._
    overwriteFingerprint(dir, Seq((n, ids, hashes,
      "occ_bigram_tf,ngram_sets_4,bigram_source_sets," +
        "minhash_signatures,members"))
      .toDF("n_docs", "id_sum", "hash_sum", "shapes"))
    GramIndex.invalidate()
    assert(GramIndex.loadIfFresh(docs, "ngram_sets_4", dir).isEmpty,
      "an artifact in another fingerprint format must never be served")
    assert(GramIndex.updateIndex(docs, 4, dir) === "rebuild")
    assert(GramIndex.loadIfFresh(docs, "ngram_sets_4", dir).nonEmpty,
      "the rebuilt artifact must serve")
  }

  test("BuildIndex --family all builds four artifacts; --update then " +
    "reads four noops") {
    val out = tempDir("build_index").toString
    assert(BuildIndex.run(spark, Seq(sf, out, "--family", "all")) ===
      Seq.fill(4)("rebuild"))
    assert(BuildIndex.run(spark,
      Seq(sf, out, "--update", "--family", "all")) === Seq.fill(4)("noop"))
  }
}
