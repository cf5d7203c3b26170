package graft

import graft.functions.{IndexMeta, Ivf, Pq, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The nightly-maintenance contract ([[graft.BuildIndex]] `--update`)
  * on the three persisted ANN artifacts: noop on an unchanged corpus,
  * delta-cost append (against the STORED model — never a retrain) on
  * an append-only delta, full rebuild on mutation or a crashed prior
  * write. Value identity is asserted against the right reference per
  * family: IVF/PQ appends must equal a fresh build WITH THE STORED
  * MODEL (append never retrains, so "fresh build of the full corpus"
  * — which retrains — is the wrong oracle); the model-free Hamming
  * store must equal a fresh build outright. */
class AnnIndexMaintenanceSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sf)
  private def base = emb.filter(col("vec_id") % 10 =!= 9)

  private def tmp(p: String): String =
    tempDir(p).toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** All data files under dir (recursive — IVF cells are partitioned
    * into cid=* subdirectories). */
  private def dataFiles(dir: String): Set[String] = {
    def walk(f: java.io.File, prefix: String): Seq[String] =
      if (f.isDirectory)
        f.listFiles().toSeq.flatMap(c => walk(c, s"$prefix/${c.getName}"))
      else if (f.getName.endsWith(".parquet")) Seq(prefix)
      else Seq.empty
    val d = new java.io.File(dir)
    if (d.exists()) walk(d, "").toSet else Set.empty
  }

  test("ivf: noop/append/rebuild cost classes; append equals a fresh " +
    "build with the STORED centroids and leaves stats at train time") {
    val dir = tmp("ivf_maint")
    assert(Ivf.updateIndex(base, dir) === "rebuild")
    assert(Ivf.updateIndex(base, dir) === "noop")
    val baseCells = dataFiles(s"$dir/cells")
    val baseStats = rows(spark.read.parquet(s"$dir/stats"))
    assert(Ivf.updateIndex(emb, dir) === "append")
    // cost class: pre-existing cell files untouched, stats unchanged
    // (the staleness baseline is train-time by design)
    assert(baseCells.subsetOf(dataFiles(s"$dir/cells")),
      "append rewrote pre-existing cell files")
    assert(rows(spark.read.parquet(s"$dir/stats")) === baseStats)
    // value identity vs a fresh save with the SAME (stored) model
    val fresh = tmp("ivf_maint_fresh")
    Ivf.saveIndex(emb, Ivf.loadCentroids(spark, dir), fresh)
    assert(rows(spark.read.parquet(s"$dir/cells")) ===
      rows(spark.read.parquet(s"$fresh/cells")))
    // fingerprint now validates the full corpus
    assert(Ivf.updateIndex(emb, dir) === "noop")
  }

  test("pq: noop/append/rebuild; append encodes against the stored " +
    "codebooks and equals a fresh encode with them") {
    val dir = tmp("pq_maint")
    assert(Pq.updateIndex(base, dir) === "rebuild")
    assert(Pq.updateIndex(base, dir) === "noop")
    val baseCodes = dataFiles(s"$dir/codes")
    val books = rows(spark.read.parquet(s"$dir/codebooks"))
    assert(Pq.updateIndex(emb, dir) === "append")
    assert(baseCodes.subsetOf(dataFiles(s"$dir/codes")),
      "append rewrote pre-existing code files")
    assert(rows(spark.read.parquet(s"$dir/codebooks")) === books,
      "append must never touch the codebook tensor")
    val fresh = tmp("pq_maint_fresh")
    Pq.saveIndex(emb, Pq.loadCodebooks(spark, dir), fresh)
    assert(rows(spark.read.parquet(s"$dir/codes")) ===
      rows(spark.read.parquet(s"$fresh/codes")))
  }

  test("hamming: noop/append/rebuild; the model-free store is " +
    "value-identical to a fresh build") {
    val dir = tmp("ham_maint")
    assert(Similarity.updateSignatureIndex(base, dir) === "rebuild")
    assert(Similarity.updateSignatureIndex(base, dir) === "noop")
    val baseSigs = dataFiles(s"$dir/hamming_sigs")
    assert(Similarity.updateSignatureIndex(emb, dir) === "append")
    assert(baseSigs.subsetOf(dataFiles(s"$dir/hamming_sigs")))
    val fresh = tmp("ham_maint_fresh")
    Similarity.saveSignatureIndex(emb, fresh)
    assert(rows(spark.read.parquet(s"$dir/hamming_sigs")) ===
      rows(spark.read.parquet(s"$fresh/hamming_sigs")))
  }

  test("mutation (an in-place vector edit) runs the delete+append " +
    "patch; a crash sentinel forces the rebuild path") {
    val dir = tmp("ham_mut")
    assert(Similarity.updateSignatureIndex(emb, dir) === "rebuild")
    // flip one vector's first component: membership unchanged, content
    // hash flips -> its old row deletes, its new row re-appends
    val mutated = emb.withColumn("embedding",
      when(col("vec_id") === 0L,
        expr("transform(embedding, x -> -x)"))
        .otherwise(col("embedding")))
    assert(Similarity.updateSignatureIndex(mutated, dir) === "delete")
    // patched store is value-identical to a fresh build (model-free)
    val fresh = tmp("ham_mut_fresh")
    Similarity.saveSignatureIndex(mutated, fresh)
    assert(rows(spark.read.parquet(s"$dir/hamming_sigs")) ===
      rows(spark.read.parquet(s"$fresh/hamming_sigs")))
    assert(Similarity.updateSignatureIndex(mutated, dir) === "noop")
    // crash window: sentinel fingerprint (written before any data
    // write) must never validate and must repair via rebuild
    val sparkS = spark
    import sparkS.implicits._
    Seq((-1L, 0L, 0L)).toDF("n_vecs", "id_xor", "h_xor")
      .write.mode("overwrite").parquet(s"$dir/fingerprint")
    assert(Similarity.updateSignatureIndex(mutated, dir) === "rebuild")
    assert(Similarity.updateSignatureIndex(mutated, dir) === "noop")
  }

  test("delete cost class: anti-join patch, value identity with the " +
    "stored model, mass deletion falls back to rebuild") {
    // IVF: delete a slice of vectors -> cells patched, model + stats
    // baseline untouched, result equals a fresh save with the STORED
    // centroids over the shrunken corpus
    val dir = tmp("ivf_del")
    assert(Ivf.updateIndex(emb, dir) === "rebuild")
    val cents = rows(spark.read.parquet(s"$dir/centroids"))
    val baseStats = rows(spark.read.parquet(s"$dir/stats"))
    val shrunk = emb.filter(col("vec_id") % 7 =!= 3)
    assert(Ivf.updateIndex(shrunk, dir) === "delete")
    assert(rows(spark.read.parquet(s"$dir/centroids")) === cents,
      "delete must never touch the centroid model")
    assert(rows(spark.read.parquet(s"$dir/stats")) === baseStats,
      "the staleness baseline stays at train time")
    val fresh = tmp("ivf_del_fresh")
    Ivf.saveIndex(shrunk, Ivf.loadCentroids(spark, dir), fresh)
    assert(rows(spark.read.parquet(s"$dir/cells")) ===
      rows(spark.read.parquet(s"$fresh/cells")))
    assert(Ivf.updateIndex(shrunk, dir) === "noop")
    // delete + append in one pass (a doc replaced): still "delete",
    // still value-identical
    val churned = shrunk.withColumn("embedding",
      when(col("vec_id") === 1L,
        expr("transform(embedding, x -> -x)"))
        .otherwise(col("embedding")))
    assert(Ivf.updateIndex(churned, dir) === "delete")
    val fresh2 = tmp("ivf_del_fresh2")
    Ivf.saveIndex(churned, Ivf.loadCentroids(spark, dir), fresh2)
    assert(rows(spark.read.parquet(s"$dir/cells")) ===
      rows(spark.read.parquet(s"$fresh2/cells")))
    // PQ: same contract on the codes table
    val pdir = tmp("pq_del")
    assert(Pq.updateIndex(emb, pdir) === "rebuild")
    assert(Pq.updateIndex(shrunk, pdir) === "delete")
    val pfresh = tmp("pq_del_fresh")
    Pq.saveIndex(shrunk, Pq.loadCodebooks(spark, pdir), pfresh)
    assert(rows(spark.read.parquet(s"$pdir/codes")) ===
      rows(spark.read.parquet(s"$pfresh/codes")))
    // mass deletion (> half the membership): patching loses to the
    // rebuild, which also compacts
    val few = emb.filter(col("vec_id") < 20)
    assert(Ivf.updateIndex(few, dir) === "rebuild")
  }

  test("IndexMeta fingerprint: order-independent, flips on membership " +
    "and on any single in-place edit") {
    val a = IndexMeta.fingerprint(emb)
    assert(a === IndexMeta.fingerprint(emb.orderBy(rand(7))))
    assert(a !== IndexMeta.fingerprint(base))
    val edited = emb.withColumn("embedding",
      when(col("vec_id") === 1L,
        expr("transform(embedding, x -> 2.0d * x)"))
        .otherwise(col("embedding")))
    assert(a !== IndexMeta.fingerprint(edited))
  }
}
