package graft

import functions.{GramIndex, IndexMeta, Ivf, Pq, Similarity}
import org.apache.spark.sql.SparkSession

/** Deployment tool: materialize or maintain the persisted index
  * artifacts — `sbt "runMain graft.BuildIndex <sfDir> <outDir> [n]
  * [--update] [--family gram|ivf|pq|hamming|all]"`.
  *
  * Every family is one [[IndexMeta.Family]] run by the one device,
  * [[IndexMeta]] (default `gram`, which keeps `<outDir>` itself as the
  * gram-artifact root for back-compat; ANN families land in
  * `<outDir>/<family>`):
  *  - `gram`    — [[functions.GramIndex]] shingle/signature tables
  *                over `documents` (n = gram size, default 4). A later
  *                session with `SPARK_GRAFT_INDEX_DIR=<outDir>` serves
  *                the dedup/decontamination family from it.
  *  - `ivf`     — [[functions.Ivf]] centroids + cell-partitioned
  *                corpus over `embeddings`.
  *  - `pq`      — [[functions.Pq]] codebooks + codes.
  *  - `hamming` — [[functions.Similarity]] signature store.
  *
  * Without `--update` the artifact is (re)built from scratch through
  * [[IndexMeta.rebuild]], so every build leaves the members and
  * fingerprint tables `--update` diffs against. With `--update`,
  * [[IndexMeta.updateWithDelete]] runs: an unchanged corpus is a
  * no-op, an append-only delta PATCHES the artifact at delta cost
  * (against the STORED model for ANN: no retrain), removed members are
  * anti-joined out, and past half the membership removed it rebuilds.
  * The action taken is printed per family. */
object BuildIndex {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get()
    run(spark, args.toSeq)
    spark.stop()
  }

  /** Build or update the families `args` names; returns the action
    * taken per family, in order. */
  def run(spark: SparkSession, args: Seq[String]): Seq[String] = {
    val update = args.contains("--update")
    val buf = args.filterNot(_ == "--update").toBuffer
    val fi = buf.indexOf("--family")
    val family = if (fi >= 0) {
      val f = buf(fi + 1); buf.remove(fi, 2); f
    } else "gram"
    val (sfDir, outDir) = (buf(0), buf(1))
    val n = if (buf.length > 2) buf(2).toInt else 4
    val families =
      if (family == "all") Seq("gram", "ivf", "pq", "hamming")
      else Seq(family)
    families.map { f =>
      val t0 = System.nanoTime()
      def emb = Tables.embeddings(spark, sfDir)
      val (corpus, dir, fam) = f match {
        case "gram" =>
          (Tables.documents(spark, sfDir), outDir, GramIndex.family(n))
        case "ivf" => (emb, s"$outDir/ivf", Ivf.family())
        case "pq" => (emb, s"$outDir/pq", Pq.family())
        case "hamming" => (emb, s"$outDir/hamming", Similarity.signatureFamily)
        case other =>
          sys.error(s"unknown --family $other " +
            "(gram|ivf|pq|hamming|all)")
      }
      val action =
        if (update) IndexMeta.updateWithDelete(corpus, dir, fam)
        else IndexMeta.rebuild(corpus, dir, fam)
      println(f"[build-index] $f: $action $dir in " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")
      action
    }
  }
}
