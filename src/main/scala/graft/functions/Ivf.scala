package graft.functions

import graft.{QueryModule, QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor: partition the
  * corpus into k-means cells, probe only the `nprobe` cells nearest to
  * each query. The coarse quantizer is Lloyd's algorithm — each
  * iteration is ONE corpus pass folding k·d scaled-long mean cells up
  * a treeAggregate (layout-stable, see [[lloydStep]]), so it scales to
  * any corpus the cluster can scan; assignment at query/layout time
  * stays the zero-shuffle literal-centroid argmin below.
  *
  * At 100 TB the cell assignment becomes the partition key of the
  * vector table (write bucketed by `cid`), and a query touches
  * nprobe/k of the data — this sandbox build computes assignments on
  * the fly but keeps exactly that join shape.
  */
object Ivf extends QueryModule {

  /** Squared L2 distance between two float/double array columns —
    * native codegen ([[SqL2Distance]]). */
  private def sqDist(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) = VectorFunctions.sq_l2(a, b)

  /** Deterministic seeds: the k lowest vec_ids. The single-partition
    * window is bounded by construction — it ranks the `limit(k)` seed
    * set (k rows, a parameter), never the corpus. The constant-valued
    * partition key must be NON-foldable (`vec_id % 1`, not `lit(0)`):
    * the optimizer eliminates foldable partition expressions, which
    * would resurrect the "no partition defined" planner warning this
    * key exists to document away. */
  def seedCentroids(corpus: DataFrame, k: Int): DataFrame =
    corpus.orderBy("vec_id").limit(k)
      .withColumn("cid", row_number().over(
        Window.partitionBy(pmod(col("vec_id"), lit(1L)))
          .orderBy("vec_id")) - 1)
      .select(col("cid"),
        transform(col("embedding"), _.cast("double")).as("centroid"))

  /** One Lloyd iteration: assign → per-dimension mean, folded up a
    * treeAggregate of k·d 2^32-scaled long cells (the [[Pca.foldRdd]]
    * / [[Pq.trainCodebooks]] device, for the same two reasons): the
    * earlier assign-explode-average formulation re-planned a
    * k-literal-centroid expression tree and shuffled n·d exploded
    * rows EVERY pass, and its `avg` accumulated doubles in partition
    * order — so the centroids were not layout-stable. Long sums
    * commute; IvfSpec pins identical centroids across partitionings.
    * The in-task argmin mirrors [[assign]]'s codegen exactly
    * (ascending-index distance loop, strict-less scan = lowest-cid
    * tie-break). Cells that go empty keep their previous centroid
    * (standard Lloyd; the old groupBy silently DROPPED them).
    *
    * OVERFLOW BOUND: each cell accumulates floor(x·2^32 + 0.5) longs,
    * so a single cell overflows int64 only past ~2^31/max|x| rows —
    * with unit-normalized embeddings (|x| ≤ 1) that is ~2·10^9 rows IN
    * ONE CELL. The guard below fails loudly rather than wrap silently;
    * at 100 TB, train the quantizer on a bounded sample (as every IVF
    * deployment does) — assignment, the full-corpus pass, never
    * accumulates. Same contract as [[Pq.trainCodebooks]]; [[Pca]]'s
    * 2^20 scale documents its n ≤ 10^9 bound the same way. */
  def lloydStep(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = collectCentroids(centroids)
    require(cents.nonEmpty, "lloydStep: empty centroid set")
    val k = cents.length
    val d = cents.head._2.length
    val cws = cents.map(_._2)
    val data = corpus.select(col("embedding")).rdd.map { r =>
      val s = r.getSeq[Float](0)
      val a = new Array[Double](d)
      var i = 0
      while (i < d) { a(i) = s(i).toDouble; i += 1 }
      a
    }
    val scale = 4294967296.0d // 2^32
    val (sums, counts, maxAbs) = data.treeAggregate(
      (new Array[Long](k * d), new Array[Long](k), new Array[Double](1)))(
      seqOp = { case ((ss, ns, mx), x) =>
        var best = 0
        var bestD = Double.PositiveInfinity
        var c = 0
        while (c < k) {
          val cw = cws(c)
          var s = 0.0
          var i = 0
          while (i < d) {
            val diff = x(i) - cw(i); s += diff * diff; i += 1
          }
          if (s < bestD) { bestD = s; best = c }
          c += 1
        }
        var i = 0
        while (i < d) {
          ss(best * d + i) += math.floor(x(i) * scale + 0.5d).toLong
          val a = math.abs(x(i)); if (a > mx(0)) mx(0) = a
          i += 1
        }
        ns(best) += 1
        (ss, ns, mx)
      },
      combOp = { case ((s1, n1, m1), (s2, n2, m2)) =>
        var i = 0
        while (i < s1.length) { s1(i) += s2(i); i += 1 }
        i = 0
        while (i < n1.length) { n1(i) += n2(i); i += 1 }
        if (m2(0) > m1(0)) m1(0) = m2(0)
        (s1, n1, m1)
      })
    // counts-based overflow tripwire (see scaladoc), sized from the
    // OBSERVED magnitude bound rather than assuming unit-normalized
    // input: each row contributes at most perRow = floor(max|x|·2^32
    // + 0.5) per cell coordinate, so any cell with count <
    // Long.MaxValue / perRow cannot have wrapped. Strict `<` — at
    // exactly the bound the sum can land ON 2^63 and wrap.
    val perRow = math.max(1L, math.floor(maxAbs(0) * scale + 0.5d).toLong)
    val cellCap = Long.MaxValue / perRow
    require(counts.forall(_ < cellCap),
      s"lloydStep: a cell holds >= $cellCap rows at observed max|x| = " +
        s"${maxAbs(0)} — the 2^32-scaled long mean could overflow; " +
        "train the quantizer on a bounded sample")
    val next = cents.indices.map { c =>
      val cw =
        if (counts(c) == 0) cws(c)
        else Array.tabulate(d)(i =>
          sums(c * d + i).toDouble / counts(c).toDouble / scale)
      (cents(c)._1, cw.toSeq)
    }
    val sp = corpus.sparkSession
    import sp.implicits._
    next.toDF("cid", "centroid")
  }

  /** Centroids materialized driver-side — k rows of k-means state, the
    * legitimate "broadcast table" of a coarse quantizer (k ≪ corpus;
    * this is model state, not data). Sorted by cid. */
  private def collectCentroids(centroids: DataFrame)
      : Array[(Int, Array[Double])] =
    centroids.select(col("cid").cast("int"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  /** Nearest-centroid assignment — ZERO shuffle: the k centroids enter
    * the plan as literal arrays and the argmin is per-row column
    * algebra (k distance projections + a least() + a when-chain, all
    * codegen'd). The earlier crossJoin+row_number formulation shuffled
    * k× the corpus per pass; this one never leaves the input
    * partitioning, which is what lets Lloyd iterations and cell
    * assignment run at 100 TB. Ties break to the lowest cid (the
    * when-chain tests cids in ascending order). For k beyond a few
    * hundred, switch the unrolled chain to an aggregate() fold over one
    * literal array of struct(cid, centroid). */
  def assign(corpus: DataFrame, centroids: DataFrame): DataFrame =
    assignWithDist(corpus, centroids).drop("__d")

  /** [[assign]] keeping the winning squared distance as `__d` — the
    * per-row quantization error, which is the staleness signal
    * incremental maintenance regresses on ([[indexStaleness]]). */
  def assignWithDist(corpus: DataFrame, centroids: DataFrame)
      : DataFrame = {
    val cents = collectCentroids(centroids)
    require(cents.nonEmpty, "assign: empty centroid set")
    val distCols = cents.map { case (cid, c) =>
      cid -> sqDist(col("embedding"), array(c.map(lit).toSeq: _*))
    }
    val withDists = distCols.foldLeft(corpus) { case (df, (cid, d)) =>
      df.withColumn(s"__d$cid", d)
    }
    val minD =
      if (cents.length == 1) col(s"__d${cents.head._1}")
      else least(cents.map { case (cid, _) => col(s"__d$cid") }.toSeq: _*)
    val cidCol = cents.init.foldRight(lit(cents.last._1)) {
      case ((cid, _), acc) =>
        when(col(s"__d$cid") === minD, lit(cid)).otherwise(acc)
    }
    withDists.withColumn("cid", cidCol).withColumn("__d", minD)
      .drop(cents.map { case (cid, _) => s"__d$cid" }.toSeq: _*)
  }

  /** Trained-model memo — the "train once, query many" deployment
    * shape applied in-session: the IVF family's queries (`sim_ivf_ann`
    * / `_recall` / `_top1`, semantic dedup, dc3's cell probe) quantize
    * the SAME corpus, so the Lloyd result is keyed by (corpus plan, k,
    * iters) and trained once. The value is a DRIVER-side array (k·d
    * doubles of model state, no Spark blocks), so it stays valid
    * across `Caches.releaseAll` sweeps — the same contract as the
    * persisted centroid-model artifact, minus the filesystem. */
  private val centroidMemo =
    new graft.util.Caches.PlanMemo[(Int, Int), Seq[(Int, Seq[Double])]](
      maxEntries = 8)

  def trainCentroids(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    val sp = corpus.sparkSession
    import sp.implicits._
    centroidMemo.get(corpus, (k, iters)) {
      (1 to iters).foldLeft(seedCentroids(corpus, k)) {
        (c, _) => lloydStep(corpus, c)
      }.select(col("cid").cast("int"), col("centroid")).collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
    }.toDF("cid", "centroid")
  }

  /** ANN top-k: probe the `nprobe` nearest cells per query, exact
    * cosine rank within the probed cells. Probe selection is narrow:
    * per-query distances to the literal centroids → array_sort (struct
    * sort orders by (d, cid), the deterministic tie-break) → slice
    * nprobe → explode. No crossJoin, no window on the query side. */
  def topKIvf(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      k: Int, nprobe: Int, excludeSelf: Boolean = false): DataFrame =
    topKInCells(queries,
      assign(corpus, centroids)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"),
          col("cid")),
      centroids, k, nprobe, excludeSelf)

  /** Probe + rank against an already-assigned cell table (in-memory or
    * loaded from a persisted index). `excludeSelf` drops c_id = q_id
    * BEFORE the heap — the more-like-this retrieval contract (the
    * query document must not occupy a result slot). */
  private def topKInCells(queries: DataFrame, cells: DataFrame,
      centroids: DataFrame, k: Int, nprobe: Int,
      excludeSelf: Boolean = false): DataFrame = {
    val cents = collectCentroids(centroids)
    val probeArr = array(cents.map { case (cid, c) =>
      struct(sqDist(col("embedding"), array(c.map(lit).toSeq: _*)).as("d"),
        lit(cid).as("cid"))
    }.toSeq: _*)
    val probes = queries
      .withColumn("__probe",
        slice(array_sort(probeArr), 1, math.min(nprobe, cents.length)))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        explode(col("__probe")).as("p"))
      .select(col("q_id"), col("q_vec"), col("p.cid").as("cid"))
    val joined = probes.join(cells, Seq("cid"))
    val scored = (if (excludeSelf) joined.filter(col("c_id") =!= col("q_id"))
                  else joined)
      .withColumn("cos", Similarity.cosine(col("q_vec"), col("c_vec")))
      .select("q_id", "c_id", "cos")
    graft.plans.TopKPerKey
      .topKPerKey(scored, Seq("q_id"), Seq(("cos", true), ("c_id", false)),
        k, rankName = "rank")
      .withColumn("rank", col("rank").cast("int"))
  }

  // ── persisted index: the inverted file as partition pruning ─────────
  /** Persist a trained index as the deployment artifact: the centroid
    * model (k rows) plus the corpus PARTITIONED BY CELL. The "inverted
    * file" is then Spark's own partition layout — a probe of nprobe
    * cells reads nprobe directories and skips the rest, so serving cost
    * is nprobe/k of the corpus in I/O, not just in compute. Train once
    * (the expensive treeAggregate Lloyd loop), serve forever; at 100 TB
    * re-deriving assignments per query session would be the bug. */
  def saveIndex(corpus: DataFrame, centroids: DataFrame, dir: String)
      : Unit = {
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    // ONE assignment pass: cells carry the per-row quantization error
    // (`q_err`, 8 bytes/row — the standard store-the-residual trade),
    // so the staleness probe is a column aggregate over the index
    // instead of a full re-assignment, and the training-time baseline
    // below is a READ of the just-written cells, not a second corpus
    // pass.
    // repartition by the partition column before the partitioned write:
    // without it every shuffle partition writes a sliver into every
    // cell directory (partitions × k small files — the classic
    // partitionBy small-file explosion); with it each cell is written
    // by the tasks that own it. At larger scale add a secondary spread
    // key (cid, salt) to keep per-cell parallelism.
    assignWithDist(corpus, centroids)
      .withColumnRenamed("__d", "q_err")
      .repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/cells")
    // training-distribution baseline, per cell: the reference
    // [[indexStaleness]] measures appended data against
    IndexMeta.writeBaseline(corpus.sparkSession, dir, "cells", "cid")
  }

  // ── incremental maintenance: append without retrain ─────────────────
  /** Append a micro-batch into a persisted index WITHOUT retraining:
    * new vectors are assigned to the EXISTING centroids (the
    * zero-shuffle literal argmin) and appended into the cell layout —
    * partitioned-parquet append touches only the cid directories the
    * batch lands in; existing files are never rewritten, and the
    * centroid model is untouched, so open readers keep serving. This
    * is the standard IVF deployment shape (FAISS `add` vs `train`):
    * assignment is cheap and incremental, training is the expensive
    * rare event — [[indexStaleness]] tells you when it is due. */
  def appendToIndex(newVecs: DataFrame, spark: SparkSession, dir: String)
      : Unit =
    assignWithDist(newVecs, loadCentroids(spark, dir))
      .withColumnRenamed("__d", "q_err")
      .repartition(col("cid"))
      .write.mode("append").partitionBy("cid").parquet(s"$dir/cells")

  /** [[IndexMeta.staleness]] of a persisted IVF index's `cells`. */
  def indexStaleness(spark: SparkSession, dir: String,
      threshold: Double = 1.5): DataFrame =
    IndexMeta.staleness(spark, dir, "cells", threshold)

  /** [[IndexMeta.driftGate]] of an 8-cell IVF index. */
  def simIvfDrift(spark: SparkSession, dir: String): DataFrame =
    IndexMeta.driftGate(Tables.embeddings(spark, dir), "ivf", "cells") {
      (base, batch, t) =>
        saveIndex(base, trainCentroids(base, k = 8, iters = 2), t)
        appendToIndex(batch, spark, t)
    }

  /** The IVF family for the [[IndexMeta]] device: a build trains
    * centroids (`k`, `iters`) and runs [[saveIndex]]; an append runs
    * [[appendToIndex]] (assignment against the STORED centroids —
    * never retrains, the FAISS add/train split); a delete is an
    * anti-join rewrite of the cell store, cid partitioning kept for
    * the pruning contract. The centroid model and the `stats`
    * baseline stay at train time on both patch paths by design, so
    * [[indexStaleness]] keeps measuring drift against the model's own
    * training distribution. */
  def family(k: Int = 8, iters: Int = 2): IndexMeta.Family =
    IndexMeta.Family("vec_id", IndexMeta.EmbeddingHash, Nil,
      build = (corpus, dir) =>
        saveIndex(corpus, trainCentroids(corpus, k, iters), dir),
      append = (delta, dir) => appendToIndex(delta, delta.sparkSession, dir),
      delete = (removed, dir) => IndexMeta.rewriteExcluding(
        removed.sparkSession, s"$dir/cells", removed, "vec_id",
        partitionCols = Seq("cid")))

  /** Nightly maintenance against the corpus's CURRENT state:
    * [[IndexMeta.updateWithDelete]] of [[family]]. `k`/`iters` apply
    * only on rebuild. */
  def updateIndex(corpus: DataFrame, dir: String, k: Int = 8,
      iters: Int = 2): String =
    IndexMeta.updateWithDelete(corpus, dir, family(k, iters))

  def loadCentroids(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/centroids")

  /** Query a persisted index. The probe side (queries × nprobe cell
    * ids) joins the cell store on its PARTITION column, so dynamic
    * partition pruning turns the probe list into a directory filter —
    * the scan reads only the probed cells (IvfSpec asserts the
    * dynamicpruning subquery reaches the FileScan). Results are
    * identical to [[topKIvf]] over the in-memory assignment: the
    * persisted index changes WHERE cells live, never what they hold. */
  def topKPersisted(queries: DataFrame, spark: SparkSession, dir: String,
      k: Int, nprobe: Int): DataFrame = {
    val centroids = loadCentroids(spark, dir)
    val cells = spark.read.parquet(s"$dir/cells")
      .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"),
        col("cid"))
    topKInCells(queries, cells, centroids, k, nprobe)
  }

  def simIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val centroids = trainCentroids(emb, k = 8, iters = 2)
    topKIvf(emb.filter(col("vec_id") < 10), emb, centroids, k = 5,
      nprobe = 2)
      .orderBy("q_id", "rank")
  }

  // ── full SQL oracle: Lloyd's algorithm unrolled in DuckDB ───────────
  /** DuckDB oracle reproducing [[simIvf]] END TO END — k-means training
    * included — which moves `sim_ivf_ann` from rows-only to a
    * hash-exact row. The key realization: the trained model is
    * bit-DETERMINISTIC by design ([[lloydStep]]'s layout-stable
    * scaled-long folds), so training is just arithmetic a second engine
    * can repeat. Per Lloyd round (a fixed `iters` unrolls like the BPE
    * oracle): assignment = row_number over (vec, centroid) distances
    * with the ascending-dimension float fold (`(0 + d₀²) + d₁²…` —
    * list_reduce's first-element init equals Spark's `s = 0.0; s += d²`
    * because 0 + x = x in IEEE), ties to the lowest cid exactly like
    * the strict-less scan; the mean = integer SUM of the same
    * `floor(x·2³² + 0.5)` longs (order-free, exact) re-divided in the
    * same `sum/count/scale` order; empty cells COALESCE to the previous
    * centroid. Probe selection and the cosine re-rank reuse the proven
    * bit-stable fold devices ([[Similarity.cosSql]] shape). */
  private def sqdSql(x: String, c: String): String =
    s"""list_reduce(list_transform(range(1, len($x) + 1),
       |      i -> (CAST($x[i] AS DOUBLE) - $c[i])
       |         * (CAST($x[i] AS DOUBLE) - $c[i])), (a, b) -> a + b)"""
      .stripMargin
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a) + 1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), " +
      "(a, b) -> a + b)"
  private[functions] def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  /** The shared WITH-body that repeats [[trainCentroids]] +
    * [[assign]] in DuckDB: seeds `c0`, `iters` unrolled Lloyd rounds
    * (assignment → exact scaled-long integer means → COALESCE for
    * empty cells), ending in two reusable CTEs — `centroids` (the
    * trained model, cid → centroid) and `cells` (the corpus
    * assignment, vec_id/embedding/cid). Every oracle over the trained
    * cell structure ([[simIvfSql]], [[clusterBalanceSql]]) composes on
    * top of this prefix, so the training arithmetic is written (and
    * audited for bit-stability) exactly once. */
  private def trainedCellsCtes(k: Int, iters: Int): String = {
    val scale = "4294967296.0"
    def lloyd(r: Int): String =
      s"""asg$r AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT e.vec_id, e.embedding, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${sqdSql("e.embedding", "c.centroid")} ASC,
         |          c.cid ASC) AS rn
         |    FROM embeddings e, c${r - 1} c) t WHERE rn = 1),
         |sums$r AS (
         |  SELECT cid, dim,
         |    CAST(SUM(CAST(floor(CAST(embedding[dim] AS DOUBLE) * $scale
         |      + 0.5) AS BIGINT)) AS BIGINT) AS s,
         |    COUNT(*) AS cnt
         |  FROM asg$r, unnest(generate_series(1, len(embedding))) AS u(dim)
         |  GROUP BY cid, dim),
         |c$r AS (
         |  SELECT p.cid, COALESCE(n.centroid, p.centroid) AS centroid
         |  FROM c${r - 1} p LEFT JOIN (
         |    SELECT cid, list(CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE)
         |      / $scale ORDER BY dim) AS centroid
         |    FROM sums$r GROUP BY cid) n USING (cid))""".stripMargin
    s"""c0 AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
       |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT $k) s),
       |${(1 to iters).map(lloyd).mkString(",\n")},
       |centroids AS (SELECT cid, centroid FROM c$iters),
       |cells AS (
       |  SELECT vec_id, embedding, cid FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqdSql("e.embedding", "c.centroid")} ASC,
       |          c.cid ASC) AS rn
       |    FROM embeddings e, centroids c) t WHERE rn = 1)""".stripMargin
  }

  def simIvfSql(k: Int = 8, iters: Int = 2, topK: Int = 5,
      nprobe: Int = 2): String =
    s"""WITH ${trainedCellsCtes(k, iters)},
       |probes AS (
       |  SELECT q_id, q_vec, cid FROM (
       |    SELECT q.vec_id AS q_id, q.embedding AS q_vec, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${sqdSql("q.embedding", "c.centroid")} ASC,
       |          c.cid ASC) AS rn
       |    FROM embeddings q, centroids c WHERE q.vec_id < 10) t
       |  WHERE rn <= $nprobe),
       |scored AS (
       |  SELECT p.q_id, s.vec_id AS c_id,
       |    ${cosSql("p.q_vec", "s.embedding")} AS cos
       |  FROM probes p JOIN cells s USING (cid))
       |SELECT q_id, c_id, cos, CAST(rk AS INT) AS rank FROM (
       |  SELECT q_id, c_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, c_id ASC) AS rk
       |  FROM scored) t WHERE rk <= $topK ORDER BY q_id, rank""".stripMargin

  /** Recall@k of the IVF index vs the exact ranking
    * ([[Similarity.recallAtK]]): how much does nprobe=2 of 8 cells give
    * up? Kept as a bounds gate (the full set is oracled by
    * [[simIvfSql]]); IvfSpec pins the recall to the exact/approx set
    * intersection. */
  def simIvfRecall(spark: SparkSession, dir: String): DataFrame =
    Similarity.recallAtK(Similarity.simTopK(spark, dir), simIvf(spark, dir))
      .orderBy("q_id")

  /** [[Similarity.recallGate]] for IVF: observed mean 0.74 at sf0.01,
    * every query hitting ≥2 of its exact top-5. */
  def simIvfRecallGate(spark: SparkSession, dir: String): DataFrame =
    Similarity.recallGate(simIvfRecall(spark, dir), meanFloor = 0.5,
      hitFracFloor = 0.9)

  /** [[Similarity.top1Gate]] for the IVF ANN set. */
  def simIvfTop1Gate(spark: SparkSession, dir: String): DataFrame =
    Similarity.top1Gate(Similarity.simTopK(spark, dir), simIvf(spark, dir))

  // ── SemDeDup: semantic dedup inside k-means cells ───────────────────
  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): cluster the
    * embedding space with k-means, then drop all but one member of
    * every near-identical group — but only comparing WITHIN a cluster,
    * so the pair enumeration is O(Σ n_c²) over cell sizes instead of
    * O(n²) over the corpus. That is the published recipe's exact scale
    * argument (k is chosen so cells stay small: 50k cells for 5B
    * embeddings in the paper; 8 cells for this corpus keeps the same
    * cell-occupancy ratio observable in tests).
    *
    * Spark shape: centroids are trained by the bit-stable
    * [[trainCentroids]] treeAggregate loop and assignment is the
    * zero-shuffle literal-centroid argmin ([[assign]]). The
    * within-cell self-join runs through
    * [[Dedup.cappedBucketSelfJoin]], so one degenerate cell (the
    * k-means failure mode: a boilerplate/zero-vector basin) triangle-
    * splits across tasks instead of melting one reducer. The kill rule
    * mirrors the suite's other dedups: the higher vec_id of any
    * over-threshold pair drops, so "kept" is the cluster's canonical
    * (lowest-id) representative of each semantic group — deterministic
    * across engines and layouts, no RNG.
    *
    * Gate surface: `sim_semdedup` is the oracled bounds-row
    * [[simSemDedupGate]] — corpus-count charge-back, kept+dropped
    * reconciliation per cell, and the density-derived drop band
    * (n_covered = 0 ⇒ dropped = 0, else 1 ≤ dropped ≤ n_covered − 1)
    * checked against DuckDB's row count. IvfSpec additionally proves
    * the result equals a driver-side brute-force within-cell pass,
    * that per-cell counts reconcile with [[assign]]'s occupancy, and
    * pins `n_covered`. */
  def semDedup(emb: DataFrame, k: Int = 8, iters: Int = 2,
      tau: Double = 0.3, cap: Int = Dedup.LshBucketCap): DataFrame = {
    val centroids = trainCentroids(emb, k, iters)
    // persisted: feeds the hot-cell probe, both join sides, and the
    // final charge-back, and its lineage contains the trained model
    val cells = graft.util.Caches.persistOnce(assign(emb, centroids)
      .select(col("vec_id"), col("embedding"), col("cid")))
    // fold the over-tau pair frame to per-cid counts BEFORE fusing: the
    // report join becomes k-row vs k-row (k = cluster count) on
    // broadcast, instead of a corpus-sized row-level left join against
    // the kill set (which planned as an exchange+sort SMJ). Every
    // vec_id lives in exactly one cid, so counting per cid is
    // equivalent to tagging rows. One aggregation yields BOTH counts:
    // n_dropped (distinct higher-id members of over-tau pairs — the
    // kill rule) and n_covered (distinct members of ANY over-tau pair
    // — the measured neighbor density [[simSemDedupGate]] derives its
    // drop band from).
    val roles = Dedup.cappedBucketSelfJoin(cells, "vec_id", Seq("cid"), cap)
      .withColumn("cos",
        Similarity.cosine(col("a.embedding"), col("b.embedding")))
      .filter(col("cos") >= tau)
      .select(explode(array(
        struct(col("a.vec_id").as("id"), col("a.cid").as("cid"),
          lit(false).as("isb")),
        struct(col("b.vec_id").as("id"), col("b.cid").as("cid"),
          lit(true).as("isb")))).as("e"))
      .select(col("e.cid").as("cid"), col("e.id").as("id"),
        col("e.isb").as("isb"))
    val drops = roles.groupBy("cid").agg(
      countDistinct(when(col("isb"), col("id"))).as("__nd"),
      countDistinct(col("id")).as("__cov"))
    cells.groupBy("cid").agg(count(lit(1)).as("n_vecs"))
      .join(broadcast(drops), Seq("cid"), "left")
      .select(col("cid"), col("n_vecs"),
        (col("n_vecs") - coalesce(col("__nd"), lit(0L))).as("n_kept"),
        coalesce(col("__nd"), lit(0L)).as("n_dropped"),
        coalesce(col("__cov"), lit(0L)).as("n_covered"))
      .orderBy("cid")
  }

  def simSemDedup(spark: SparkSession, dir: String): DataFrame =
    semDedup(Tables.embeddings(spark, dir))

  /** Bounds-checked driver row for SemDeDup — the
    * [[Similarity.recallGate]] pattern. The cell assignment is
    * k-means-internal, but the operator's invariants are
    * hash-verifiable: the per-cell
    * occupancies must charge back to the exact corpus count (oracled
    * side), every cell must keep at least one canonical representative
    * (the kill rule spares each group's lowest id, so an empty cell
    * means the charge-back or the join broke), kept+dropped must
    * reconcile per cell, and the drop count must sit inside the band
    * the MEASURED neighbor density implies — no fixed drop-fraction
    * ceiling. Derivation: `n_covered` is the cell's count of vectors
    * in at least one over-tau pair. A vector drops iff it has a
    * lower-id over-tau neighbor, so per cell with n_covered > 0:
    * every connected component of the covered subgraph keeps its
    * minimum (dropped ≤ n_covered − #components ≤ n_covered − 1) and
    * loses its maximum (dropped ≥ #components ≥ 1); with
    * n_covered = 0 nothing may drop. The band holds at ANY corpus
    * density — a fixed 0.9 ceiling tripped (correctly-behaving) on
    * the 10×-denser sf1 corpus, where SemDeDup legitimately drops
    * harder; density-derived bounds make the gate scale-invariant
    * while still catching real breakage (a drop without a neighbor,
    * or a fully-emptied covered set). */
  def simSemDedupGate(spark: SparkSession, dir: String): DataFrame = {
    val bandOk = (col("n_covered") === 0L && col("n_dropped") === 0L) ||
      (col("n_covered") > 0L && col("n_dropped") >= 1L &&
        col("n_dropped") <= col("n_covered") - 1L)
    simSemDedup(spark, dir).agg(
      sum("n_vecs").as("n_vectors"),
      (count(lit(1)) between(1, 8)).as("cells_ok"),
      (min(col("n_kept")) >= 1).as("all_cells_keep_ok"),
      (sum(col("n_kept") + col("n_dropped")) === sum(col("n_vecs")))
        .as("counts_reconcile"),
      (sum(when(!bandOk, 1L).otherwise(0L)) === 0L).as("drop_frac_ok"))
  }

  val simSemDedupGateSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors, TRUE AS cells_ok,
      |  TRUE AS all_cells_keep_ok, TRUE AS counts_reconcile,
      |  TRUE AS drop_frac_ok
      |FROM embeddings""".stripMargin

  // ── cluster-balanced curation: temperature quotas over LEARNED cells ─
  /** Cluster-balanced corpus curation — the semantic analogue of
    * [[TrainPrep.tsTemperature]]: rebalance the corpus by LEARNED
    * embedding-space domain (k-means cell) instead of a metadata
    * `source` column. This is the cluster-quota step of
    * SSL-prototype / DoReMi-shaped pipelines: web-scale corpora are
    * dominated by a few dense semantic basins (boilerplate, templated
    * pages), and flattening by √cell-mass keeps tail domains from
    * being drowned without any hand-written source taxonomy.
    *
    * Recipe: train the bit-stable coarse quantizer
    * ([[trainCentroids]], memoized per corpus), assign every vector
    * ([[assign]], zero-shuffle literal-centroid argmin), weight each
    * cell by √n (sqrt is correctly-rounded IEEE — hash-comparable
    * across engines, unlike `pow`), apportion a budget of
    * `n_total div 2` by the tsTemperature rounding rule, then keep
    * each vector by a salted deterministic id-hash threshold (the
    * [[TrainPrep.splitCol]] device, salt 53 so the keep decision is
    * independent of the split/mixture coins). Selection is a NARROW
    * broadcast-joined filter — no shuffle touches the corpus until
    * the k-row summary — and a row's keep decision never changes as
    * the corpus grows, so incremental rebuilds stay stable.
    *
    * Output: one row per cell — occupancy, weight, integer target,
    * integer keep-rate (percent), realized kept count and the kept-id
    * checksum (Σ vec_id, an order-free integer that pins the SELECTED
    * SET, not just its size, across engines). */
  def clusterBalance(emb: DataFrame, k: Int = 8, iters: Int = 2)
      : DataFrame = {
    val centroids = trainCentroids(emb, k, iters)
    val cells = assign(emb, centroids).select("vec_id", "cid")
    val counts = cells.groupBy("cid").agg(count(lit(1)).as("n_vecs"))
      .withColumn("weight", sqrt(col("n_vecs").cast("double")))
    // normalizer folds the k per-cell weights in cid order — engine-
    // exact for the same reason as tsTemperature's source-ordered fold
    val z = counts.agg(
      aggregate(
        array_sort(collect_list(struct(col("cid"), col("weight")))),
        lit(0.0d), (a, x) => a + x.getField("weight")).as("z"),
      sum("n_vecs").as("n_total"))
    val quotas = counts.crossJoin(broadcast(z))
      .withColumn("target_docs",
        floor(col("weight") / col("z") *
          expr("n_total div 2").cast("double") + lit(0.5d)).cast("long"))
      .withColumn("rate",
        least(lit(100L), expr("(100 * target_docs) div n_vecs")))
      .select("cid", "n_vecs", "weight", "target_docs", "rate")
    cells.join(broadcast(quotas), "cid")
      .withColumn("__h",
        expr("pmod(pmod(vec_id + 53, 1000003) * 2654435761, 100)"))
      .groupBy("cid", "n_vecs", "weight", "target_docs", "rate")
      .agg(
        count(when(col("__h") < col("rate"), 1)).as("n_kept"),
        coalesce(sum(when(col("__h") < col("rate"), col("vec_id"))),
          lit(0L)).as("kept_id_sum"))
      .orderBy("cid")
  }

  def tsClusterBalance(spark: SparkSession, dir: String): DataFrame =
    clusterBalance(Tables.embeddings(spark, dir))

  /** Full oracle: the [[trainedCellsCtes]] prefix replays training +
    * assignment, then the quota arithmetic is the same ordered-fold /
    * integer-division / salted-hash devices as the engine side. */
  def clusterBalanceSql(k: Int = 8, iters: Int = 2): String =
    s"""WITH ${trainedCellsCtes(k, iters)},
       |counts AS (
       |  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |    sqrt(CAST(COUNT(*) AS DOUBLE)) AS weight
       |  FROM cells GROUP BY cid),
       |z AS (
       |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(weight ORDER BY cid)), (x, y) -> x + y) AS z,
       |    CAST(SUM(n_vecs) AS BIGINT) AS n_total
       |  FROM counts),
       |quotas AS (
       |  SELECT cid, n_vecs, weight,
       |    CAST(FLOOR(weight / z.z
       |      * CAST(n_total // 2 AS DOUBLE) + 0.5) AS BIGINT)
       |      AS target_docs
       |  FROM counts, z),
       |rated AS (
       |  SELECT cid, n_vecs, weight, target_docs,
       |    LEAST(CAST(100 AS BIGINT), (100 * target_docs) // n_vecs)
       |      AS rate
       |  FROM quotas),
       |hashed AS (
       |  SELECT cid, vec_id,
       |    ((((vec_id + 53) % 1000003) + 1000003) % 1000003
       |      * 2654435761) % 100 AS h
       |  FROM cells)
       |SELECT r.cid, r.n_vecs, r.weight, r.target_docs, r.rate,
       |  CAST(COUNT(CASE WHEN h.h < r.rate THEN 1 END) AS BIGINT)
       |    AS n_kept,
       |  COALESCE(CAST(SUM(CASE WHEN h.h < r.rate THEN h.vec_id END)
       |    AS BIGINT), 0) AS kept_id_sum
       |FROM rated r JOIN hashed h USING (cid)
       |GROUP BY r.cid, r.n_vecs, r.weight, r.target_docs, r.rate
       |ORDER BY cid""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("sim_ivf_ann", simIvf, simIvfSql()),
    QuerySpec("sim_ivf_recall", simIvfRecallGate,
      Similarity.RecallGateSql),
    QuerySpec("sim_ivf_top1", simIvfTop1Gate, Similarity.Top1GateSql),
    QuerySpec("sim_ivf_drift", simIvfDrift, IndexMeta.DriftGateSql),
    QuerySpec("sim_semdedup", simSemDedupGate, simSemDedupGateSql),
    QuerySpec("ts_cluster_balance", tsClusterBalance, clusterBalanceSql()))
}
