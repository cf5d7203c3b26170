package graft.functions

import graft.{QueryModule, QuerySpec, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Top principal component of the embedding corpus by distributed
  * power iteration — the dimensionality-reduction primitive an
  * embedding pipeline wants before ANN indexing (decorrelation,
  * whitening, OPQ-style rotations all start here).
  *
  * Spark shape, 100 TB notes:
  *  - the iterate v (d doubles) and the mean μ are MODEL STATE: they
  *    ride into each pass as task-closure captures, so an iteration is
  *    ONE corpus scan — per row the scalar c = (x−μ)ᵀv, then the
  *    d-vector contribution (x−μ)·c, in a tight per-partition loop
  *    (see [[foldRdd]] for why this is the engine's one deliberate
  *    RDD drop-down);
  *  - the vector sum folds like [[Pq.trainCodebooks]]' means: each
  *    contribution rounds to a 2^20-scaled long and per-dimension LONG
  *    sums combine up a treeAggregate (d cells total back to the
  *    driver) — long addition commutes, so the component is BIT-STABLE
  *    across partitionings and shuffle widths (PcaSpec asserts);
  *  - Gram/covariance matrices are never materialized: power iteration
  *    needs only C·v products, which is why it scales where an O(d²)
  *    covariance build per pass would not (and at d where d² IS
  *    affordable, the same foldVector builds the matrix directly).
  *
  * Sign convention: the first coordinate with |v_k| > 1e-12 is made
  * positive, so the eigenvector (unique up to sign) is deterministic.
  *
  * Convergence honesty: power iteration closes on the top eigenvector
  * at rate (λ2/λ1)^t. On a flat spectrum the t-step iterate is a mix
  * of near-top directions — still deterministic and still capturing
  * ~λ1 of variance (what whitening needs) — so PcaSpec pins STEP
  * EQUIVALENCE with a driver-side reference at equal t, not agreement
  * with an (equally unconverged) long run.
  */
object Pca extends QueryModule {

  private val Scale = 1048576.0d // 2^20: |x|≤O(10), n≤10^9 stays in int64

  private def litVec(v: Array[Double]): Column =
    array(v.map(lit).toIndexedSeq: _*)

  /** Exact layout-independent fold: each row contributes a d-vector of
    * 2^20-scaled longs via `f`, per-dimension long sums ride a
    * treeAggregate (d cells per partition, map-side combined up the
    * tree), and long addition commutes — so the fold is bit-stable
    * under any partitioning. This is the one place the engine drops to
    * the RDD API, and deliberately so: a power-iteration pass is
    * model-state-out imperative math over tiny per-row work, and the
    * DataFrame formulations measured 0.4 s of pure planner/codegen
    * overhead PER PASS (64 aggregate expressions re-optimized every
    * iteration) against ~milliseconds of actual compute — the classic
    * case SURVEY §2's "RDD only for genuine per-partition imperative
    * logic" clause exists for. */
  private def foldRdd(data: org.apache.spark.rdd.RDD[Array[Double]],
      d: Int)(f: (Array[Double], Array[Long]) => Unit): Array[Double] =
    data.treeAggregate(new Array[Long](d))(
      seqOp = (acc, x) => { f(x, acc); acc },
      combOp = (a, b) => {
        var k = 0; while (k < d) { a(k) += b(k); k += 1 }; a
      }).map(_.toDouble / Scale)

  /** (mean, component, eigenvalue): the corpus mean, the unit top
    * eigenvector of the covariance, and its eigenvalue (variance along
    * the component). */
  def topComponent(emb: DataFrame, iters: Int = 8)
      : (Array[Double], Array[Double], Double) = {
    val d = emb.select(size(col("embedding"))).head().getInt(0)
    val data = emb.select(col("embedding")).rdd.map { r =>
      val s = r.getSeq[Float](0)
      val a = new Array[Double](d)
      var k = 0
      while (k < d) { a(k) = s(k).toDouble; k += 1 }
      a
    }.persist()
    try {
      // ONE fused pass for count + mean (r17, guide §1.2 "don't run
      // two passes where one suffices"): cell d of the fold carries
      // the row count, cells 0..d-1 the scaled coordinate sums — at
      // 100 TB this deletes a whole corpus scan, at bench scale one
      // of the ~10 sequential job dispatches
      val sums = data.treeAggregate(new Array[Long](d + 1))(
        seqOp = (acc, x) => {
          var k = 0
          while (k < d) {
            acc(k) += math.floor(x(k) * Scale + 0.5d).toLong; k += 1
          }
          acc(d) += 1L
          acc
        },
        combOp = (a, b) => {
          var k = 0; while (k <= d) { a(k) += b(k); k += 1 }; a
        })
      val n = sums(d).toDouble
      val mean = Array.tabulate(d)(k => sums(k).toDouble / Scale / n)
      // deterministic seed: the uniform unit vector (no data order, no RNG)
      var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
      var lambda = 0.0
      for (_ <- 0 until iters) {
        val (mu, vv) = (mean, v) // stable captures for the closure
        val w = foldRdd(data, d) { (x, acc) =>
          var c = 0.0
          var k = 0
          while (k < d) { c += (x(k) - mu(k)) * vv(k); k += 1 }
          k = 0
          while (k < d) {
            acc(k) += math.floor((x(k) - mu(k)) * c * Scale + 0.5d).toLong
            k += 1
          }
        }.map(_ / n)
        val norm = math.sqrt(w.map(x => x * x).sum)
        require(norm > 0, "degenerate covariance: zero C*v product")
        lambda = v.zip(w).map { case (a, b) => a * b }.sum // Rayleigh vᵀCv
        var vn = w.map(_ / norm)
        val lead = vn.find(math.abs(_) > 1e-12)
        if (lead.exists(_ < 0)) vn = vn.map(x => -x)
        v = vn
      }
      (mean, v, lambda)
    } finally { data.unpersist(); () }
  }

  /** Declared query: project every embedding onto the corpus' top
    * component and profile the projection per label — the "is the
    * leading direction of variance aligned with my labels?" check run
    * before trusting embedding clusters. Rows-only (power iteration
    * isn't SQL); PcaSpec verifies the component against a driver-side
    * eigensolve and pins bit-stability across layouts. */
  def embPcaPower(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val (mean, v, lambda) = topComponent(emb)
    perLabelProjection(emb, mean, v, lambda)
  }

  /** Per-label projection profile for an already-trained component —
    * split out so the gate can reuse one `topComponent` run instead of
    * re-training (8 corpus passes) a bit-identical component. */
  private def perLabelProjection(emb: DataFrame, mean: Array[Double],
      v: Array[Double], lambda: Double): DataFrame = {
    val c = VectorFunctions.dot_product(
      transform(col("embedding"), _.cast("double")), litVec(v)) -
      lit(mean.zip(v).map { case (a, b) => a * b }.sum)
    emb
      .withColumn("proj", c)
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("proj") * lit(Scale) + lit(0.5d)).cast("long"))
          .as("sproj"),
        sum(floor(col("proj") * col("proj") * lit(Scale) + lit(0.5d))
          .cast("long")).as("sproj2"))
      .select(col("label"), col("n"),
        (col("sproj").cast("double") / lit(Scale) / col("n").cast("double"))
          .as("mean_proj"),
        (col("sproj2").cast("double") / lit(Scale) / col("n").cast("double"))
          .as("mean_sq_proj"),
        lit(lambda).as("eigenvalue"))
      .orderBy("label")
  }

  // ── Johnson–Lindenstrauss random projection ─────────────────────────
  private val JlOutDim = 32

  /** Deterministic ±1 sign matrix (JlOutDim × Dim) — the Achlioptas
    * database-friendly JL family (signs, not Gaussians: the projection
    * is adds/subtracts). Fixed-LCG device as [[Similarity.hyperplanes]]
    * — same matrix on every run/executor, carried as plan literals. */
  private val jlSigns: Array[Array[Double]] = {
    var s = 0xd1b54a32d192ed03L
    def next(): Double = {
      s = s * 6364136223846793005L + 1442695040888963407L
      if (s < 0L) -1.0 else 1.0
    }
    Array.fill(JlOutDim, Similarity.Dim)(next())
  }

  /** 64→32-dim JL projection with a cosine-distortion audit — the
    * cost-reduction step an embedding pipeline takes BEFORE ANN/dedup
    * at 100 TB (2× fewer bytes per vector shrinks every downstream
    * pair computation by the same factor; JL says pairwise geometry
    * survives to O(√(log n / d')) distortion — and d' is a measured
    * choice: at d'=16 the downstream recall gate failed, see
    * [[embJlRecall]]). The projection is a narrow per-row map:
    * JlOutDim sign-dots, each a codegen'd
    * [[DotProduct]] against a literal ±1 row — no shuffle, no state.
    * The audit computes full-space and projected-space cosine for
    * every pair in a small id-block sample and reports both plus the
    * absolute gap. Cosine is scale-free, so the 1/√d' JL factor
    * cancels and is omitted. Both engines fold the same ±1 literals
    * in index order → hash-exact. */
  def jlDistortion(spark: SparkSession, dir: String, idLimit: Long = 30L)
      : DataFrame = {
    val proj = array(jlSigns.map(row =>
      Similarity.dot(col("embedding"),
        array(row.map(lit).toIndexedSeq: _*))).toIndexedSeq: _*)
    val s = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < idLimit)
      .select(col("vec_id"), col("embedding"), proj.as("p"))
    val a = s.select(col("vec_id").as("v1"), col("embedding").as("e1"),
      col("p").as("p1"))
    val b = s.select(col("vec_id").as("v2"), col("embedding").as("e2"),
      col("p").as("p2"))
    a.join(b, col("v1") < col("v2"))
      .select(col("v1"), col("v2"),
        Similarity.cosine(col("e1"), col("e2")).as("cos_full"),
        Similarity.cosine(col("p1"), col("p2")).as("cos_jl"))
      .withColumn("abs_err", abs(col("cos_full") - col("cos_jl")))
      .orderBy("v1", "v2")
  }

  def embJlDistortion(spark: SparkSession, dir: String): DataFrame =
    jlDistortion(spark, dir)

  val embJlDistortionSql: String = {
    val projList = jlSigns.map(row =>
      Similarity.planeDotSql("embedding", row)).mkString("[", ", ", "]")
    s"""WITH s AS (
       |  SELECT vec_id, embedding, $projList AS p
       |  FROM embeddings WHERE vec_id < 30)
       |SELECT a.vec_id AS v1, b.vec_id AS v2,
       |  ${Similarity.cosSql("a.embedding", "b.embedding")} AS cos_full,
       |  ${Similarity.cosSql("a.p", "b.p")} AS cos_jl,
       |  abs(${Similarity.cosSql("a.embedding", "b.embedding")} -
       |    ${Similarity.cosSql("a.p", "b.p")}) AS abs_err
       |FROM s a JOIN s b ON a.vec_id < b.vec_id
       |ORDER BY v1, v2""".stripMargin
  }

  /** Recall@k of the two-stage JL pipeline — projected-space SHORTLIST
    * (top-`short` by 16-dim cosine), exact re-rank of the shortlist,
    * final top-k — against the full-space exact top-k. This is how a
    * coarse projection is actually deployed (nobody ranks FINAL results
    * in the compressed space: measured at d'=16, pure-projected ranking
    * recalled only ~0.12 of the exact top-10 and even shortlist+rerank
    * only 0.36 — which is why d'=32 ships; there the pipeline clears
    * the PcaSpec majority-recall gate at `short`/N of full-rank cost).
    * The intersection is [[Similarity.recallAtK]]'s, written inline on
    * purpose: all three rankings read one persisted scored table, the
    * pipeline's top-k joins as a broadcast (never an SMJ), and the
    * division is by k, as in the oracle. */
  def embJlRecall(spark: SparkSession, dir: String, k: Int = 10,
      short: Int = 50): DataFrame = {
    val proj = array(jlSigns.map(row =>
      Similarity.dot(col("embedding"),
        array(row.map(lit).toIndexedSeq: _*))).toIndexedSeq: _*)
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), proj.as("p"))
    val q = broadcast(emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("p").as("q_p")))
    val c = emb.select(col("vec_id").as("c_id"),
      col("embedding").as("c_vec"), col("p").as("c_p"))
    // score once (full + projected cosine), persist the slim pair
    // table, then run all three rankings as TopKPerKey heap passes —
    // the same cached-scored shape as sim_rank_metrics/sim_rrf_fusion:
    // nothing corpus-sized is ever exchanged or sorted
    val scored = graft.util.Caches.persistOnce(
      c.join(q, col("q_id") =!= col("c_id"))
        .withColumn("cos", Similarity.cosine(col("q_vec"), col("c_vec")))
        .withColumn("jcos", Similarity.cosine(col("q_p"), col("c_p")))
        .select("q_id", "c_id", "cos", "jcos"))
    // projected-space shortlist (cos rides through as payload), then
    // exact re-rank of the shortlist → the pipeline's top-k
    val shortlist = graft.plans.TopKPerKey.topKPerKey(
        scored.select("q_id", "c_id", "cos", "jcos"),
        Seq("q_id"), Seq(("jcos", true), ("c_id", false)), short,
        rankName = "rank_j")
    val finalTopK = graft.plans.TopKPerKey.topKPerKey(
        shortlist.select("q_id", "c_id", "cos"),
        Seq("q_id"), Seq(("cos", true), ("c_id", false)), k,
        rankName = "rank_f")
      .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
    // both fused lists are |Q| x k rows — broadcast the pipeline's
    // top-k so the recall intersection never plans as an SMJ
    graft.plans.TopKPerKey.topKPerKey(
        scored.select("q_id", "c_id", "cos"),
        Seq("q_id"), Seq(("cos", true), ("c_id", false)), k,
        rankName = "rank_d")
      .select(col("q_id"), col("c_id"))
      .join(broadcast(finalTopK), Seq("q_id", "c_id"), "left")
      .groupBy("q_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("q_id"), col("n_hit"),
        (col("n_hit").cast("double") / lit(k.toDouble)).as("recall_at_k"))
      .orderBy("q_id")
  }

  def embJlRecallSql(k: Int = 10, short: Int = 50): String = {
    val projList = jlSigns.map(row =>
      Similarity.planeDotSql("embedding", row)).mkString("[", ", ", "]")
    s"""WITH s AS (
       |  SELECT vec_id, embedding, $projList AS p FROM embeddings),
       |ranked AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |    ${Similarity.cosSql("q.embedding", "c.embedding")} AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |      ${Similarity.cosSql("q.embedding", "c.embedding")} DESC,
       |      c.vec_id) AS rank_d,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |      ${Similarity.cosSql("q.p", "c.p")} DESC, c.vec_id) AS rank_j
       |  FROM s q JOIN s c
       |    ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
       |finals AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, c_id) AS rank_f
       |    FROM ranked WHERE rank_j <= $short)
       |  WHERE rank_f <= $k)
       |SELECT r.q_id,
       |  CAST(COUNT(f.c_id) AS BIGINT) AS n_hit,
       |  CAST(COUNT(f.c_id) AS DOUBLE) / $k.0 AS recall_at_k
       |FROM ranked r LEFT JOIN finals f
       |  ON f.q_id = r.q_id AND f.c_id = r.c_id
       |WHERE r.rank_d <= $k
       |GROUP BY r.q_id ORDER BY r.q_id""".stripMargin
  }

  /** Bounds-checked driver row for the power-iteration PCA — the
    * [[Similarity.recallGate]] pattern. The
    * eigenvector is iterative (non-SQL), but convergence is
    * hash-verifiable: the component must be unit-norm, each label's
    * projection moments must satisfy Jensen (E[p²] ≥ E[p]², modulo the
    * fixed-point rounding the moments are accumulated under — the
    * Scale⁻¹ slack below), and the corpus-weighted mean of E[p²] must
    * equal the Rayleigh eigenvalue (THE power-iteration identity:
    * var(proj) = vᵀCv = λ; a diverged or mis-centered iteration breaks
    * it immediately; 5% tolerance covers the integer-cent
    * accumulation). Label counts come from the exact side. */
  def embPcaPowerGate(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val (mean, v, lambda) = topComponent(emb)
    val unitNorm = math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-9
    val per = graft.util.Caches.persistOnce(
      perLabelProjection(emb, mean, v, lambda))
    val ray = per.agg(
      ((abs(sum(col("mean_sq_proj") * col("n")) / sum(col("n"))
        - lit(lambda)) / lit(lambda)) < 0.05).as("rayleigh_ok"))
    per.crossJoin(broadcast(ray))
      .select(col("label"), col("n"),
        (col("mean_sq_proj") >=
          col("mean_proj") * col("mean_proj") - lit(2.0 / Scale))
          .as("jensen_ok"),
        col("rayleigh_ok"),
        lit(unitNorm).as("unit_norm_ok"))
      .orderBy("label")
  }

  val embPcaPowerGateSql: String =
    """SELECT label, CAST(COUNT(*) AS BIGINT) AS n, TRUE AS jensen_ok,
      |  TRUE AS rayleigh_ok, TRUE AS unit_norm_ok
      |FROM embeddings GROUP BY label ORDER BY label""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("emb_pca_power", embPcaPowerGate, embPcaPowerGateSql),
    QuerySpec("emb_jl_distortion", embJlDistortion, embJlDistortionSql),
    QuerySpec("emb_jl_recall", (s, d) => embJlRecall(s, d), embJlRecallSql()))
}
