package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared membership/fingerprint bookkeeping for the persisted ANN
  * artifacts (IVF cell store, PQ codes, Hamming signature store) —
  * the [[GramIndex]] maintenance device factored out for vector
  * corpora, so every persisted index family exposes the same
  * noop/append/rebuild contract under one nightly CLI
  * ([[graft.BuildIndex]]).
  *
  * Membership rows are (vec_id, h = xxhash64(vec_id, embedding)):
  * any membership change or in-place vector edit flips the XOR-folded
  * corpus fingerprint, so delta detection is an id-sized anti-join
  * and freshness is a three-scalar compare. Appends run the
  * family's cheap no-retrain path (assign/encode/sign against the
  * STORED model); anything mutated falls back to the family's full
  * rebuild — tombstone bookkeeping the read path would pay for
  * forever is the alternative, and ingest here is append-shaped
  * (CDC streams).
  *
  * Writes are crash-fail-safe in the [[GramIndex]] way: a sentinel
  * fingerprint (n_vecs = -1, which can never validate) lands BEFORE
  * the first data write and the real fingerprint LAST, so a crash
  * anywhere between leaves an artifact that never validates and
  * rebuilds on the next touch — never one that silently serves or
  * double-appends. */
object IndexMeta {

  /** (vec_id, h) membership row; h covers the full embedding so an
    * in-place vector edit is detected, not just membership churn. */
  def memberDf(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id").cast("long").as("vec_id"),
      xxhash64(col("vec_id").cast("long"), col("embedding")).as("h"))

  /** Order-independent corpus digest: (count, XOR ids, XOR hashes). */
  def fingerprint(vecs: DataFrame): (Long, Long, Long) = {
    val r = memberDf(vecs)
      .agg(count(lit(1)), expr("bit_xor(vec_id)"), expr("bit_xor(h)"))
      .collect()(0)
    (r.getLong(0),
      if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  private def writeFp(spark: SparkSession, dir: String, nVecs: Long,
      idXor: Long, hXor: Long): Unit = {
    import spark.implicits._
    Seq((nVecs, idXor, hXor)).toDF("n_vecs", "id_xor", "h_xor")
      .write.mode("overwrite").parquet(s"$dir/fingerprint")
  }

  private def writeSentinel(spark: SparkSession, dir: String): Unit =
    writeFp(spark, dir, -1L, 0L, 0L)

  private def readFp(spark: SparkSession, dir: String)
      : Option[(Long, Long, Long)] =
    try {
      spark.read.parquet(s"$dir/fingerprint").collect().headOption
        .filter(_.getAs[Long]("n_vecs") >= 0L)
        .map(r => (r.getAs[Long]("n_vecs"), r.getAs[Long]("id_xor"),
          r.getAs[Long]("h_xor")))
    } catch {
      case _: org.apache.spark.sql.AnalysisException => None
    }

  /** Full rebuild with fail-safe ordering: sentinel → family body →
    * members → real fingerprint. The CLI's plain-build path and
    * [[update]]'s fallback both route here so metadata always exists. */
  def rebuild(vecs: DataFrame, dir: String)(body: () => Unit): String = {
    val spark = vecs.sparkSession
    writeSentinel(spark, dir)
    body()
    memberDf(vecs).write.mode("overwrite").parquet(s"$dir/members")
    val (n, i, h) = fingerprint(vecs)
    writeFp(spark, dir, n, i, h)
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
    * codes, signatures — never corpus text), which is the point of the
    * delete cost class: a right-to-be-forgotten pass costs index I/O,
    * not a corpus-scale retrain. */
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

  /** Classify the current corpus against the stored membership and run
    * the family callbacks: `append` receives the DELTA vectors (the
    * family assigns/encodes/signs them against its stored model —
    * never retraining); `rebuildBody` re-trains and rewrites the whole
    * artifact. Returns "noop" | "append" | "rebuild". */
  def update(vecs: DataFrame, dir: String)(append: DataFrame => Unit)(
      rebuildBody: () => Unit): String =
    updateWithDelete(vecs, dir)(append)(None)(rebuildBody)

  /** [[update]] plus the `delete` cost class (VERDICT r15 item 5):
    * every artifact shape is keyed per vector, so a deletion is an
    * anti-join removal and a doc MUTATION is its old row's delete plus
    * its new row's append — no tombstones, no corpus-scale retrain.
    * `deleteFn` (when given) receives the removed vec_ids and must
    * drop them from the family's data tables (via
    * [[rewriteExcluding]]); membership and the XOR fingerprint fold
    * incrementally, so the patched artifact validates exactly like a
    * fresh build. Falls back to the full rebuild when no `deleteFn`
    * exists, or past [[DeleteRebuildFraction]] of membership removed.
    * Returns "noop" | "append" | "delete" | "rebuild" ("delete" covers
    * delete-only and mutation = delete + append). */
  def updateWithDelete(vecs: DataFrame, dir: String)(
      append: DataFrame => Unit)(deleteFn: Option[DataFrame => Unit])(
      rebuildBody: () => Unit): String = {
    val spark = vecs.sparkSession
    def full(): String = rebuild(vecs, dir)(rebuildBody)
    readFp(spark, dir) match {
      case None => full() // missing, sentinel, or crashed prior write
      case Some(fp) =>
        if (fingerprint(vecs) == fp) "noop"
        else {
          val members =
            try spark.read.parquet(s"$dir/members")
            catch {
              case _: org.apache.spark.sql.AnalysisException => null
            }
          if (members == null) full()
          else {
            // saved rows whose (vec_id, h) vanished: deleted vectors
            // plus the OLD image of in-place-mutated ones. Must
            // materialize EAGERLY (localCheckpoint, truncated lineage):
            // the rewrites below swap the very parquet dirs this plan
            // reads, so a lazy re-evaluation would see patched state
            val removed = members
              .join(memberDf(vecs), Seq("vec_id", "h"), "left_anti")
              .localCheckpoint(true)
            val rAgg = removed
              .agg(count(lit(1)), expr("bit_xor(vec_id)"),
                expr("bit_xor(h)")).collect()(0)
            val rn = rAgg.getLong(0)
            val (ri, rh) = (
              if (rAgg.isNullAt(1)) 0L else rAgg.getLong(1),
              if (rAgg.isNullAt(2)) 0L else rAgg.getLong(2))
            val patchable = deleteFn.isDefined && rn > 0 &&
              rn <= (DeleteRebuildFraction * fp._1).toLong
            if (rn > 0 && !patchable) full()
            else if (rn > 0) {
              val removedIds = removed.select("vec_id")
              writeSentinel(spark, dir)
              deleteFn.get(removedIds)
              rewriteExcluding(spark, s"$dir/members", removedIds,
                "vec_id")
              // delta vs the PATCHED members: a mutated vector's id is
              // no longer a member, so it re-enters through the same
              // append path as a genuinely new vector
              val delta = vecs.join(
                spark.read.parquet(s"$dir/members").select("vec_id"),
                Seq("vec_id"), "left_anti")
              val (dn, di, dh) = fingerprint(delta)
              if (dn > 0) {
                append(delta)
                memberDf(delta).write.mode("append")
                  .parquet(s"$dir/members")
              }
              writeFp(spark, dir, fp._1 - rn + dn,
                fp._2 ^ ri ^ di, fp._3 ^ rh ^ dh)
              removed.unpersist(false)
              "delete"
            } else {
              // LAZY anti-join against the members parquet: all
              // delta-dependent work (fingerprint fold, the family
              // append) must run before the members append below
              val delta = vecs.join(members.select("vec_id"),
                Seq("vec_id"), "left_anti")
              val (dn, di, dh) = fingerprint(delta)
              writeSentinel(spark, dir)
              append(delta)
              memberDf(delta).write.mode("append")
                .parquet(s"$dir/members")
              writeFp(spark, dir, fp._1 + dn, fp._2 ^ di, fp._3 ^ dh)
              removed.unpersist(false)
              "append"
            }
          }
        }
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
