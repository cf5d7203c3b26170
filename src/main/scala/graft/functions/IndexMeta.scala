package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one maintenance device for every persisted index artifact: the
  * gram shingle/signature tables ([[GramIndex]]), the IVF cell store,
  * PQ codes and the Hamming signature store. Each family hands in a
  * [[Family]] (its id column, its per-row member hash, its shape
  * manifest and its build/append/delete bodies); this object owns the
  * rest, so every family exposes the same noop/append/delete/rebuild
  * contract under one nightly CLI ([[graft.BuildIndex]]).
  *
  * Membership rows are (id, h = the family's member hash): any
  * membership change or member edit flips the XOR-folded corpus
  * fingerprint, so delta detection is an id-sized anti-join and
  * freshness is a three-scalar compare. Appends run the family's cheap
  * path (the gram tables' per-doc append; assign/encode/sign against
  * the STORED model for ANN); removed members are anti-joined out of
  * the family's tables; past [[DeleteRebuildFraction]] of membership
  * removed the family's full build runs instead.
  *
  * Writes are crash-fail-safe: a sentinel fingerprint (n_vecs = -1,
  * which can never validate) lands BEFORE the first data write and the
  * real fingerprint LAST, so a crash anywhere between leaves an
  * artifact that never validates and rebuilds on the next touch —
  * never one that silently serves or double-appends. */
object IndexMeta {

  /** One persisted index family, as the device runs it. `id` names the
    * corpus id column and `hash` its per-row member hash (given the
    * corpus, since a family may pick among its columns); a change the
    * hash does not see is a change the artifact does not see.
    * `shapes` is the manifest a valid artifact must list. `build`,
    * `append` and `delete` write only the family's own tables under
    * the artifact dir: `build` from the whole corpus, `append` from
    * the delta rows, `delete` dropping the removed ids (one `id`
    * column) via [[rewriteExcluding]]. `members` and `fingerprint`
    * are the device's. */
  final case class Family(id: String, hash: DataFrame => Column,
      shapes: Seq[String],
      build: (DataFrame, String) => Unit,
      append: (DataFrame, String) => Unit,
      delete: (DataFrame, String) => Unit)

  /** The ANN families' member hash: the full embedding, so an in-place
    * vector edit is detected, not just membership churn. */
  val EmbeddingHash: DataFrame => Column =
    _ => xxhash64(col("vec_id").cast("long"), col("embedding"))

  /** (id, h) membership rows of `corpus`. */
  private def memberDf(corpus: DataFrame, id: String,
      hash: DataFrame => Column): DataFrame =
    corpus.select(col(id).cast("long").as(id), hash(corpus).as("h"))

  /** Order-independent corpus digest: (count, XOR ids, XOR hashes).
    * XOR folds are overflow-free under ANSI mode and any single
    * membership or member-hash change flips them. */
  def fingerprint(corpus: DataFrame, id: String = "vec_id",
      hash: DataFrame => Column = EmbeddingHash): (Long, Long, Long) =
    fold(memberDf(corpus, id, hash), id)

  private def fold(members: DataFrame, id: String): (Long, Long, Long) = {
    val r = members
      .agg(count(lit(1)), bit_xor(col(id)), bit_xor(col("h")))
      .collect()(0)
    (r.getLong(0),
      if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  private def writeFp(spark: SparkSession, dir: String,
      fp: (Long, Long, Long), shapes: Seq[String]): Unit = {
    import spark.implicits._
    Seq((fp._1, fp._2, fp._3, shapes.mkString(",")))
      .toDF("n_vecs", "id_xor", "h_xor", "shapes")
      .write.mode("overwrite").parquet(s"$dir/fingerprint")
  }

  private def writeSentinel(spark: SparkSession, dir: String): Unit =
    writeFp(spark, dir, (-1L, 0L, 0L), Nil)

  /** (fingerprint, shape manifest) of a valid artifact; None on a
    * missing fingerprint, the sentinel, or a row in any other format.
    * A row without `shapes` (written before the manifest existed)
    * reads as an empty manifest, which only a family with no shapes
    * accepts. */
  private[graft] def stored(spark: SparkSession, dir: String)
      : Option[((Long, Long, Long), Seq[String])] =
    try {
      spark.read.parquet(s"$dir/fingerprint").collect().headOption
        .filter(r => r.schema.fieldNames.contains("n_vecs") &&
          r.getAs[Long]("n_vecs") >= 0L)
        .map { r =>
          val shapes =
            if (!r.schema.fieldNames.contains("shapes")) Nil
            else r.getAs[String]("shapes").split(",").filter(_.nonEmpty)
              .toSeq
          ((r.getAs[Long]("n_vecs"), r.getAs[Long]("id_xor"),
            r.getAs[Long]("h_xor")), shapes)
        }
    } catch {
      case _: org.apache.spark.sql.AnalysisException => None
    }

  /** Full build with fail-safe ordering: sentinel → family build →
    * members → real fingerprint. [[graft.BuildIndex]]'s plain build
    * and [[updateWithDelete]]'s fallback both route here, so metadata
    * always exists. */
  def rebuild(corpus: DataFrame, dir: String, f: Family): String = {
    val spark = corpus.sparkSession
    writeSentinel(spark, dir)
    f.build(corpus, dir)
    memberDf(corpus, f.id, f.hash).write.mode("overwrite")
      .parquet(s"$dir/members")
    writeFp(spark, dir, fingerprint(corpus, f.id, f.hash), f.shapes)
    "rebuild"
  }

  /** Past this fraction of saved membership removed/mutated, a
    * delete-patch (index-sized read+rewrite) loses to the full rebuild
    * (corpus-sized retrain, but it also compacts the data files). */
  val DeleteRebuildFraction = 0.5

  /** Drop `removedIds` (keyed `keyCol`) from the parquet table at
    * `path` by anti-join rewrite: write the survivors to a sibling
    * temp dir, then swap directories. Under the sentinel-fingerprint
    * discipline a crash mid-swap leaves an artifact that never
    * validates and rebuilds on next touch. At 100 TB the swap is an
    * object-store rename and the rewrite touches INDEX rows (ids,
    * gram sets, codes, signatures — never corpus text), which is the
    * point of the delete cost class: a right-to-be-forgotten pass
    * costs index I/O, not a corpus-scale rebuild. */
  def rewriteExcluding(spark: SparkSession, path: String,
      removedIds: DataFrame, keyCol: String,
      partitionCols: Seq[String] = Nil): Unit = {
    val tmp = path + "__patched"
    val kept = spark.read.parquet(path)
      .join(removedIds.select(col(removedIds.columns.head).as(keyCol))
        .distinct(), Seq(keyCol), "left_anti")
    val w = kept.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(tmp)
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(hPath, true)
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), hPath))
      sys.error(s"rename $tmp -> $path failed")
  }

  /** Maintain the artifact at `dir` against the corpus's CURRENT state:
    * "noop" when the stored fingerprint matches; "append" when members
    * were only added (`f.append` gets the delta rows); "delete" when
    * some were removed or edited (`f.delete` gets the removed ids, an
    * edited member's new row then re-enters with the appends); and
    * "rebuild" — `f.build` over the whole corpus — when the artifact
    * is missing, crashed, from another format, lacks a shape of
    * `f.shapes`, or lost more than [[DeleteRebuildFraction]] of its
    * members. Every shape is keyed per member, so no tombstones and no
    * corpus-scale work on the patch paths; membership and the XOR
    * fingerprint fold incrementally, so a patched artifact validates
    * exactly like a fresh build. */
  def updateWithDelete(corpus: DataFrame, dir: String, f: Family): String = {
    val spark = corpus.sparkSession
    val id = f.id
    def members = spark.read.parquet(s"$dir/members")
    def hasMembers = try { members; true } catch {
      case _: org.apache.spark.sql.AnalysisException => false
    }
    stored(spark, dir).filter { case (_, shapes) =>
      f.shapes.forall(shapes.contains) && hasMembers
    } match {
      case None => rebuild(corpus, dir, f)
      case Some((fp, _)) if fingerprint(corpus, id, f.hash) == fp => "noop"
      case Some((fp, _)) =>
        // saved rows whose (id, h) vanished: removed members plus the
        // OLD image of edited ones. Must materialize EAGERLY
        // (localCheckpoint, truncated lineage): the rewrites below swap
        // the very parquet dirs this plan reads, so a lazy
        // re-evaluation would see patched state
        val removed = members
          .join(memberDf(corpus, id, f.hash), Seq(id, "h"), "left_anti")
          .localCheckpoint(true)
        val (rn, ri, rh) = fold(removed, id)
        val action =
          if (rn > (DeleteRebuildFraction * fp._1).toLong)
            rebuild(corpus, dir, f)
          else {
            writeSentinel(spark, dir)
            if (rn > 0) {
              val removedIds = removed.select(id)
              f.delete(removedIds, dir)
              rewriteExcluding(spark, s"$dir/members", removedIds, id)
            }
            // LAZY anti-join against the (patched) members parquet: an
            // edited member's id is no longer a member, so it re-enters
            // here like a new one; every delta-dependent read (the
            // fold, the family append) must run before the members
            // append below, or the re-evaluated anti-join collapses
            val delta = corpus.join(members.select(id), Seq(id),
              "left_anti")
            val (dn, di, dh) = fingerprint(delta, id, f.hash)
            if (dn > 0) {
              f.append(delta, dir)
              memberDf(delta, id, f.hash).write.mode("append")
                .parquet(s"$dir/members")
            }
            writeFp(spark, dir, (fp._1 - rn + dn, fp._2 ^ ri ^ di,
              fp._3 ^ rh ^ dh), f.shapes)
            if (rn > 0) "delete" else "append"
          }
        removed.unpersist(false)
        action
    }
  }

  /** Write the train-time staleness baseline of index `table`: row
    * count `n` and summed per-row quantization error `sum_d`, grouped
    * by `by` (IVF: per cell; PQ: one row). */
  def writeBaseline(spark: SparkSession, dir: String, table: String,
      by: String*): Unit =
    spark.read.parquet(s"$dir/$table").groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col("q_err")).as("sum_d"))
      .write.mode("overwrite").parquet(s"$dir/stats")

  /** Staleness of a (possibly appended-to) persisted index: the mean
    * per-row quantization error `q_err` now in `table` against the
    * [[writeBaseline]] rows, read as sum(n) and sum(sum_d)/sum(n). A
    * same-distribution append keeps the ratio ≈ 1; a shift (new domain,
    * new embedding model) inflates it past `threshold`. One column
    * aggregate plus a stats read: cheap after every append. */
  def staleness(spark: SparkSession, dir: String, table: String,
      threshold: Double = 1.5): DataFrame = {
    val cur = spark.read.parquet(s"$dir/$table")
      .agg(count(lit(1)).as("n_indexed"),
        (sum(col("q_err")) / count(lit(1))).as("cur_mean_d"))
    val base = spark.read.parquet(s"$dir/stats")
      .agg(sum(col("n")).as("n_trained"),
        (sum(col("sum_d")) / sum(col("n"))).as("train_mean_d"))
    cur.crossJoin(broadcast(base))
      .select(col("n_indexed"), col("n_trained"),
        col("train_mean_d"), col("cur_mean_d"),
        (col("cur_mean_d") / col("train_mean_d")).as("drift_ratio"),
        (col("cur_mean_d") / col("train_mean_d") > threshold)
          .as("retrain_suggested"))
  }

  /** Drift-gate index directories per (corpus plan, family): build and
    * append once per session, probe per call. Each holds a full copy
    * of the corpus's embeddings, so eviction deletes the directory and
    * JVM exit evicts them all. */
  private val driftDirs = new graft.util.Caches.PlanMemo[String, String](
    maxEntries = 8, onEvict = dir =>
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dir)))
  sys.addShutdownHook(driftDirs.invalidate())

  /** Incremental-maintenance gate (`sim_ivf_drift`, `sim_pq_drift`):
    * `build` indexes the 90% base split into a fresh directory and
    * appends the held-out 10% through the family's no-retrain path;
    * the row is the [[staleness]] of index `table`. Counts are
    * oracle-exact ([[DriftGateSql]]); `drift_ok` (ratio in [0.5, 2]) and
    * `no_retrain_ok` flip only if assignment, the baseline or the
    * append path breaks. */
  def driftGate(emb: DataFrame, family: String, table: String)(
      build: (DataFrame, DataFrame, String) => Unit): DataFrame = {
    val dir = driftDirs.get(emb, family) {
      val held = pmod(col("vec_id"), lit(10L))
      val t = java.nio.file.Files.createTempDirectory(s"${family}_inc")
        .toString
      build(emb.filter(held =!= 9L), emb.filter(held === 9L), t)
      t
    }
    staleness(emb.sparkSession, dir, table)
      .select(col("n_indexed"), col("n_trained"),
        (col("drift_ratio") >= 0.5 && col("drift_ratio") <= 2.0)
          .as("drift_ok"),
        (!col("retrain_suggested")).as("no_retrain_ok"))
  }

  val DriftGateSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_indexed,
      |  CAST(SUM(CASE WHEN vec_id % 10 <> 9 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_trained,
      |  TRUE AS drift_ok, TRUE AS no_retrain_ok
      |FROM embeddings""".stripMargin
}
