package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryModule, QuerySpec, Tables}
import graft.util.Checkpoints.StageOps

/** Product quantization — the second classic ANN index next to IVF
  * ([[Ivf]]): embeddings are split into `m` subvectors, each subspace
  * gets its own tiny k-means codebook, and a vector is stored as `m`
  * byte codes (64 floats → 4 bytes at m=4: a 64× compression of the
  * similarity index). Search is asymmetric distance computation (ADC):
  * the query precomputes an m×k distance table and scanning the corpus
  * costs `m` array lookups per row instead of a d-dim float loop.
  *
  * Spark shapes, 100 TB notes:
  *  - codebooks are model state (m·k·(d/m) doubles ≈ KBs) — trained by
  *    per-subspace Lloyd passes (sample the corpus for training at
  *    scale), then folded into the plan as literals;
  *  - [[encode]] is zero-shuffle column algebra (the [[Ivf.assign]]
  *    when-chain argmin per subspace, all codegen'd) — encoding is a
  *    map over the corpus, storable as a 4-byte column next to the
  *    vector;
  *  - [[adcTopK]] broadcasts the query side with its distance tables;
  *    the corpus side reads only `codes` (column pruning: the scan
  *    never touches the raw embedding until exact re-rank of the tiny
  *    shortlist).
  */
object Pq extends QueryModule {

  /** m × k × (d/m) codebooks, trained per subspace — JOINTLY: every
    * Lloyd iteration is ONE corpus pass that assigns all m subspace
    * codes and folds the per-(subspace, code, dim) means up a
    * treeAggregate (m·k·(d/m) = d·k cells, a few KB back to the
    * driver). Training m
    * subspaces separately would scan the corpus m× per iteration; at
    * 100 TB the corpus pass IS the cost, so passes scale with `iters`
    * only. Seeds: the k lowest vec_ids' subvectors (deterministic).
    * Subspace assignments are independent, so joint training visits
    * the same (subspace, code) cells per-subspace training would;
    * empty cells retain their previous codeword. The mean fold is
    * BIT-STABLE across cluster layouts: per-cell contributions are
    * summed as integers scaled by 2^32 (long addition commutes — an
    * earlier `avg` accumulated doubles in partition order), and the
    * mean is one fixed-order double formula from (Σscaled, n). The
    * 2^-32 quantization of each contribution is ~10^-10 relative — far
    * below k-means' own convergence tolerance — and the scaled sum
    * stays in int64 up to ~10^8 training rows per cell (train on a
    * bounded sample at 100 TB, as any PQ deployment does). PqSpec
    * asserts identical codebooks and identical ANN output across
    * different data layouts and shuffle parallelisms. */
  /** Trained-model memo, as [[Ivf.trainCentroids]]': the PQ family's
    * queries encode the same corpus, so the codebooks are keyed by
    * (corpus plan, m, k, iters) and trained once per session. The
    * value is a driver-side array of model state — valid across
    * `Caches.releaseAll` sweeps, like the persisted artifact form. */
  private val codebookMemo = new graft.util.Caches.PlanMemo[
    (Int, Int, Int), Array[Array[Array[Double]]]](maxEntries = 8)

  def trainCodebooks(corpus: DataFrame, m: Int, k: Int, iters: Int)
      : Array[Array[Array[Double]]] =
    codebookMemo.get(corpus, (m, k, iters)) {
      trainCodebooksUncached(corpus, m, k, iters)
    }

  private def trainCodebooksUncached(corpus: DataFrame, m: Int, k: Int,
      iters: Int): Array[Array[Array[Double]]] = {
    val d = corpus.select(size(col("embedding"))).head().getInt(0)
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val sub = d / m
    // training folds ride treeAggregate, like [[Pca.foldRdd]] and for
    // the same reason: a Lloyd pass is model-state-out imperative math
    // (m·k literal codewords baked into a plan meant re-optimizing and
    // re-compiling a 64-codeword expression tree EVERY iteration,
    // ~seconds of planner against milliseconds of compute). The
    // per-row kernel mirrors the codegen'd [[SqL2Distance]] loop
    // exactly — ascending index, s += diff², strict-less argmin =
    // lowest-code tie-break, floor(x·2^32 + 0.5) contributions — so
    // the trained books are bit-identical to the expression form.
    val data = corpus.select(col("vec_id"), col("embedding")).rdd.map {
      r =>
        val s = r.getSeq[Float](1)
        val a = new Array[Double](d)
        var i = 0
        while (i < d) { a(i) = s(i).toDouble; i += 1 }
        (r.getLong(0), a)
    }.persist()
    try {
      val seeds = data.takeOrdered(k)(Ordering.by(_._1)).map(_._2)
      require(seeds.length == k, s"corpus smaller than k=$k")
      var books: Array[Array[Array[Double]]] = (0 until m).toArray
        .map(j => seeds.map(v => v.slice(j * sub, (j + 1) * sub)))
      val scale = 4294967296.0d // 2^32
      for (_ <- 0 until iters) {
        val bks = books // stable capture for the task closure
        val (sums, counts, maxAbs) = data.treeAggregate(
          (new Array[Long](m * k * sub), new Array[Long](m * k),
            new Array[Double](1)))(
          seqOp = { case ((ss, ns, mx), (_, x)) =>
            var j = 0
            while (j < m) {
              var best = 0
              var bestD = Double.PositiveInfinity
              var c = 0
              while (c < k) {
                val cw = bks(j)(c)
                var s = 0.0
                var i = 0
                while (i < sub) {
                  val diff = x(j * sub + i) - cw(i)
                  s += diff * diff
                  i += 1
                }
                if (s < bestD) { bestD = s; best = c }
                c += 1
              }
              val cell = (j * k + best) * sub
              var i = 0
              while (i < sub) {
                ss(cell + i) +=
                  math.floor(x(j * sub + i) * scale + 0.5d).toLong
                val a = math.abs(x(j * sub + i))
                if (a > mx(0)) mx(0) = a
                i += 1
              }
              ns(j * k + best) += 1
              j += 1
            }
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
        // counts-based overflow tripwire (same contract as
        // [[Ivf.lloydStep]]): sized from the OBSERVED max|x| instead of
        // assuming unit-normalized input, and strict `<` — at exactly
        // the bound the scaled sum can land ON 2^63 and wrap
        val perRow =
          math.max(1L, math.floor(maxAbs(0) * scale + 0.5d).toLong)
        val cellCap = Long.MaxValue / perRow
        require(counts.forall(_ < cellCap),
          s"trainCodebooks: a cell holds >= $cellCap rows at observed " +
            s"max|x| = ${maxAbs(0)} — the 2^32-scaled long mean could " +
            "overflow; train on a bounded sample")
        // empty cells keep their previous codeword (standard Lloyd)
        val next = books.map(_.map(_.clone()))
        for (j <- 0 until m; c <- 0 until k if counts(j * k + c) > 0;
             dim <- 0 until sub) {
          next(j)(c)(dim) = sums((j * k + c) * sub + dim).toDouble /
            counts(j * k + c).toDouble / scale
        }
        books = next
      }
      books
    } finally { data.unpersist(); () }
  }

  private def subCol(j: Int, sub: Int): Column =
    slice(col("embedding"), j * sub + 1, sub)

  private def litVec(v: Array[Double]): Column = array(v.map(lit).toSeq: _*)

  /** Subspace `j`'s nearest codeword as a (d, c) struct: the argmin
    * over the k literal codewords as `array_min` of (distance, code)
    * structs — each distance is evaluated exactly once and struct
    * ordering breaks ties to the lowest code. (A when-chain argmin à la
    * [[Ivf.assign]] re-inlines every distance per branch; at m×k = 64
    * codewords that blew generated code past janino's method limit and
    * fell back to interpreted.) */
  private def nearest(books: Array[Array[Array[Double]]], j: Int): Column = {
    val sub = books(0)(0).length
    array_min(array(books(j).zipWithIndex.map { case (cw, c) =>
      struct(VectorFunctions.sq_l2(subCol(j, sub), litVec(cw)).as("d"),
        lit(c).as("c"))
    }.toSeq: _*))
  }

  /** Attach `codes` (array of m codebook indices, [[nearest]] per
    * subspace). */
  def encode(corpus: DataFrame, books: Array[Array[Array[Double]]])
      : DataFrame =
    corpus.withColumn("codes",
      array(books.indices.map(nearest(books, _).getField("c")): _*))

  /** ADC top-k with exact re-rank: queries carry literal-codebook
    * distance tables, the broadcast-joined corpus pays `m` lookups per
    * row for the approximate distance, the per-query shortlist
    * (`shortlist` candidates by ADC) is re-ranked by exact cosine.
    * Deterministic: ADC ties break on c_id, final ties on c_id. */
  def adcTopK(queries: DataFrame, encoded: DataFrame,
      books: Array[Array[Array[Double]]], k: Int, shortlist: Int)
      : DataFrame = {
    val m = books.length
    val sub = books(0)(0).length
    // per-query m×k distance table, computed once per query row
    val tables = (0 until m).map { j =>
      array(books(j).map(cw =>
        VectorFunctions.sq_l2(subCol(j, sub), litVec(cw))).toSeq: _*)
        .as(s"__t$j")
    }
    val q = queries.select(
      (Seq(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        ++ tables): _*)
    // ADC: m table lookups per (query, corpus-code) pair
    val adc = (0 until m).map(j =>
      element_at(col(s"__t$j"), col("codes")(j) + 1))
      .reduce(_ + _)
    // ADC shortlist + exact rerank both on the native heap: the ADC
    // pass formerly window-sorted the full corpus per query
    val adcScored = encoded
      .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"),
        col("codes"))
      .crossJoin(broadcast(q))
      .withColumn("adc_d", adc)
    val short = graft.plans.TopKPerKey.topKPerKey(adcScored, Seq("q_id"),
        Seq(("adc_d", false), ("c_id", false)), shortlist,
        rankName = "sr")
      .withColumn("cos", Similarity.cosine(col("q_vec"), col("c_vec")))
      .select("q_id", "c_id", "cos")
    graft.plans.TopKPerKey.topKPerKey(short, Seq("q_id"),
        Seq(("cos", true), ("c_id", false)), k, rankName = "rank")
      .withColumn("rank", col("rank").cast("int"))
  }

  // ── persisted index: codebooks + codes as the stored artifact ───────
  /** Persist a trained PQ index: the m×k×sub codebook tensor (model
    * state, flattened to rows) and the encoded corpus — vec_id, the
    * m-byte code array, and the raw embedding for the exact re-rank
    * stage. Training (treeAggregate Lloyd per subspace) and encoding
    * (m×k argmin per vector) are the expensive passes; a serving
    * session reloads both tables and pays only the ADC scan. At 100 TB
    * the codes table is ~32× smaller than the corpus — THE artifact a
    * PQ deployment ships. */
  /** [[encode]] keeping the total quantization error as `__d` — the
    * sum of each subspace's winning squared distance, the PQ analog of
    * [[Ivf.assignWithDist]]'s staleness signal. */
  def encodeWithDist(corpus: DataFrame,
      books: Array[Array[Array[Double]]]): DataFrame =
    encode(corpus, books).withColumn("__d",
      books.indices.map(nearest(books, _).getField("d")).reduce(_ + _))

  def saveIndex(corpus: DataFrame, books: Array[Array[Array[Double]]],
      dir: String): Unit = {
    val sp = corpus.sparkSession
    import sp.implicits._
    books.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (cw, c) => (j, c, cw.toSeq) }
    }.toSeq.toDF("subspace", "code", "codeword")
      .write.mode("overwrite").parquet(s"$dir/codebooks")
    // ONE encode pass: the codes table stores the per-row
    // reconstruction error (`q_err`), so staleness probes are a column
    // aggregate and the train-time baseline (one row) is a read-back
    // of the just-written table, not a second encode.
    encodeWithDist(corpus, books)
      .select(col("vec_id"), col("codes"), col("embedding"),
        col("__d").as("q_err"))
      .write.mode("overwrite").parquet(s"$dir/codes")
    IndexMeta.writeBaseline(sp, dir, "codes")
  }

  // ── incremental maintenance: append without retrain ─────────────────
  /** Append a micro-batch into a persisted PQ index WITHOUT
    * retraining: new vectors are ENCODED against the existing
    * codebooks (the plan-literal argmin — cheap, zero-shuffle) and
    * appended to the codes table; the codebook tensor is untouched.
    * The FAISS `add`-vs-`train` split, same deployment shape as
    * [[Ivf.appendToIndex]]. */
  def appendToIndex(newVecs: DataFrame, spark: SparkSession,
      dir: String): Unit =
    encodeWithDist(newVecs, loadCodebooks(spark, dir))
      .select(col("vec_id"), col("codes"), col("embedding"),
        col("__d").as("q_err"))
      .write.mode("append").parquet(s"$dir/codes")

  /** The PQ family for the [[IndexMeta]] device, as [[Ivf.family]]:
    * a build trains codebooks (`m`, `k`, `iters`) and runs
    * [[saveIndex]]; an append runs [[appendToIndex]] (encode against
    * the STORED codebooks, never retrains); a delete is an anti-join
    * rewrite of the codes table. Codebooks and the train-time stats
    * baseline stay on both patch paths. */
  def family(m: Int = 4, k: Int = 16, iters: Int = 2): IndexMeta.Family =
    IndexMeta.Family("vec_id", IndexMeta.EmbeddingHash, Nil,
      build = (corpus, dir) =>
        saveIndex(corpus, trainCodebooks(corpus, m, k, iters), dir),
      append = (delta, dir) => appendToIndex(delta, delta.sparkSession, dir),
      delete = (removed, dir) => IndexMeta.rewriteExcluding(
        removed.sparkSession, s"$dir/codes", removed, "vec_id"))

  /** Nightly maintenance: [[IndexMeta.updateWithDelete]] of [[family]].
    * `m`/`k`/`iters` apply only on rebuild. */
  def updateIndex(corpus: DataFrame, dir: String, m: Int = 4,
      k: Int = 16, iters: Int = 2): String =
    IndexMeta.updateWithDelete(corpus, dir, family(m, k, iters))

  /** [[IndexMeta.staleness]] of a persisted PQ index's `codes`: the
    * signal that the codebooks no longer quantize the corpus well. */
  def indexStaleness(spark: SparkSession, dir: String,
      threshold: Double = 1.5): DataFrame =
    IndexMeta.staleness(spark, dir, "codes", threshold)

  /** [[IndexMeta.driftGate]] of a PQ(m=4, k=16) index. */
  def simPqDrift(spark: SparkSession, dir: String): DataFrame =
    IndexMeta.driftGate(Tables.embeddings(spark, dir), "pq", "codes") {
      (base, batch, t) =>
        saveIndex(base, trainCodebooks(base, m = 4, k = 16, iters = 2), t)
        appendToIndex(batch, spark, t)
    }

  /** Reload the codebook tensor exactly as trained (ordered by
    * (subspace, code) — the layout [[encode]]/[[adcTopK]] index by). */
  def loadCodebooks(spark: SparkSession, dir: String)
      : Array[Array[Array[Double]]] = {
    val rows = spark.read.parquet(s"$dir/codebooks")
      .select(col("subspace").cast("int"), col("code").cast("int"),
        col("codeword"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, sub) =>
      sub.sortBy(_._2).map(_._3)
    }.toArray
  }

  /** Query a persisted PQ index: loaded codebooks + stored codes, same
    * ADC + exact-re-rank plan as [[adcTopK]] — results identical to an
    * in-session train+encode (PqSpec asserts). */
  def topKPersisted(queries: DataFrame, spark: SparkSession, dir: String,
      k: Int, shortlist: Int): DataFrame =
    adcTopK(queries, spark.read.parquet(s"$dir/codes"),
      loadCodebooks(spark, dir), k, shortlist)

  /** Declared query: PQ(m=4, k=16) over the embeddings table, ADC
    * shortlist 32 → exact top-5 for the first 10 vectors as queries.
    * Fully SQL-oracled ([[simPqSql]] — training included); PqSpec
    * additionally verifies encode-argmin exactness, ADC = sum of
    * subspace distances, and recall against the brute-force ranking. */
  def simPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val books = trainCodebooks(emb, m = 4, k = 16, iters = 2)
    // materialize the codes once (localCheckpoint = the stored codes
    // column of a real deployment): the ADC scan + both top-k windows
    // must read 4-byte codes, not re-run the 64-distance encode argmin
    // per window pass
    val encoded = encode(emb, books).stageCheckpoint()
    adcTopK(emb.filter(col("vec_id") < 10), encoded, books,
      k = 5, shortlist = 32)
      .orderBy("q_id", "rank")
  }

  /** Recall@k of the PQ/ADC path vs the exact ranking
    * ([[Similarity.recallAtK]]): how much does 32×-compressed ADC
    * scanning with a 32-deep exact re-rank give up? A bounds gate (the
    * full set is oracled by [[simPqSql]]); PqSpec pins the intersection
    * arithmetic. */
  def simPqRecall(spark: SparkSession, dir: String): DataFrame =
    Similarity.recallAtK(Similarity.simTopK(spark, dir), simPq(spark, dir))
      .orderBy("q_id")

  /** [[Similarity.recallGate]] for PQ, with looser floors than IVF's
    * (32× compression costs recall): observed mean 0.54 at sf0.01,
    * every query hitting ≥1 of its exact top-5. */
  def simPqRecallGate(spark: SparkSession, dir: String): DataFrame =
    Similarity.recallGate(simPqRecall(spark, dir), meanFloor = 0.3,
      hitFracFloor = 0.7)

  /** [[Similarity.top1Gate]] for the PQ/ADC ANN set. */
  def simPqTop1Gate(spark: SparkSession, dir: String): DataFrame =
    Similarity.top1Gate(Similarity.simTopK(spark, dir), simPq(spark, dir))

  // ── full SQL oracle: per-subspace Lloyd + ADC unrolled in DuckDB ────
  /** DuckDB oracle reproducing [[simPq]] END TO END — subspace k-means
    * training, encoding, ADC scoring, and the exact re-rank — moving
    * `sim_pq_ann` from rows-only to a hash-exact row. Same devices as
    * [[Ivf.simIvfSql]] (bit-deterministic scaled-long Lloyd, unrolled
    * rounds, ascending-dim IEEE folds) with two PQ-specific points:
    * codebook state is (subspace, code) ROWS carrying codeword lists,
    * and the ADC sum folds the m per-subspace table lookups in
    * ascending-subspace order (`list_reduce` over `list(d ORDER BY j)`
    * = Scala's left-assoc `reduce(_ + _)`), because float addition
    * order is part of the contract. */
  def simPqSql(m: Int = 4, k: Int = 16, iters: Int = 2, topK: Int = 5,
      shortlist: Int = 32): String = {
    // the sub-dimension count is derived at oracle runtime as
    // len(embedding) // m — the same d/m derivation the Spark side
    // makes — so the oracle needs no literal embedding width
    def sqdSub(tbl: String, cw: String): String =
      s"""list_reduce(list_transform(generate_series(1, len($tbl.embedding) // $m),
         |      i -> (CAST($tbl.embedding[b.j * (len($tbl.embedding) // $m) + i] AS DOUBLE) - $cw[i])
         |         * (CAST($tbl.embedding[b.j * (len($tbl.embedding) // $m) + i] AS DOUBLE) - $cw[i])),
         |      (x, y) -> x + y)""".stripMargin
    val scale = "4294967296.0"
    def lloyd(r: Int): String =
      s"""asg$r AS (
         |  SELECT vec_id, embedding, j, c FROM (
         |    SELECT e.vec_id, e.embedding, b.j AS j, b.c,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id, b.j
         |        ORDER BY ${sqdSub("e", "b.codeword")} ASC, b.c ASC) AS rn
         |    FROM embeddings e, bk${r - 1} b) t WHERE rn = 1),
         |sums$r AS (
         |  SELECT j, c, dim,
         |    CAST(SUM(CAST(floor(CAST(embedding[j * (len(embedding) // $m)
         |      + dim] AS DOUBLE) * $scale + 0.5) AS BIGINT)) AS BIGINT) AS s,
         |    COUNT(*) AS cnt
         |  FROM asg$r,
         |    unnest(generate_series(1, len(embedding) // $m)) AS u(dim)
         |  GROUP BY j, c, dim),
         |bk$r AS (
         |  SELECT p.j, p.c, COALESCE(n.codeword, p.codeword) AS codeword
         |  FROM bk${r - 1} p LEFT JOIN (
         |    SELECT j, c, list(CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE)
         |      / $scale ORDER BY dim) AS codeword
         |    FROM sums$r GROUP BY j, c) n ON n.j = p.j AND n.c = p.c)"""
        .stripMargin
    s"""WITH bk0 AS (
       |  SELECT j.j, s.c,
       |    list_transform(generate_series(1, len(s.embedding) // $m),
       |      i -> CAST(s.embedding[j.j * (len(s.embedding) // $m) + i]
       |        AS DOUBLE)) AS codeword
       |  FROM (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c,
       |          embedding
       |        FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT $k) t) s,
       |       (SELECT unnest(generate_series(0, ${m - 1})) AS j) j),
       |${(1 to iters).map(lloyd).mkString(",\n")},
       |codes AS (
       |  SELECT vec_id, embedding, j, c FROM (
       |    SELECT e.vec_id, e.embedding, b.j AS j, b.c,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id, b.j
       |        ORDER BY ${sqdSub("e", "b.codeword")} ASC, b.c ASC) AS rn
       |    FROM embeddings e, bk$iters b) t WHERE rn = 1),
       |adc AS (
       |  SELECT q.vec_id AS q_id, q.embedding AS q_vec,
       |    cd.vec_id AS c_id, cd.embedding AS c_vec,
       |    list_reduce(
       |      list(list_reduce(list_transform(
       |          generate_series(1, len(q.embedding) // $m),
       |          i -> (CAST(q.embedding[cd.j * (len(q.embedding) // $m)
       |                 + i] AS DOUBLE) - b.codeword[i])
       |             * (CAST(q.embedding[cd.j * (len(q.embedding) // $m)
       |                 + i] AS DOUBLE) - b.codeword[i])),
       |          (x, y) -> x + y) ORDER BY cd.j),
       |      (x, y) -> x + y) AS adc_d
       |  FROM embeddings q
       |  JOIN codes cd ON q.vec_id < 10
       |  JOIN bk$iters b ON b.j = cd.j AND b.c = cd.c
       |  GROUP BY q.vec_id, q.embedding, cd.vec_id, cd.embedding),
       |short AS (
       |  SELECT q_id, c_id, ${Ivf.cosSql("q_vec", "c_vec")} AS cos FROM (
       |    SELECT q_id, q_vec, c_id, c_vec,
       |      ROW_NUMBER() OVER (PARTITION BY q_id
       |        ORDER BY adc_d ASC, c_id ASC) AS sr
       |    FROM adc) t WHERE sr <= $shortlist)
       |SELECT q_id, c_id, cos, CAST(rk AS INT) AS rank FROM (
       |  SELECT q_id, c_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, c_id ASC) AS rk
       |  FROM short) t WHERE rk <= $topK ORDER BY q_id, rank""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("sim_pq_ann", simPq, simPqSql()),
    QuerySpec("sim_pq_recall", simPqRecallGate, Similarity.RecallGateSql),
    QuerySpec("sim_pq_top1", simPqTop1Gate, Similarity.Top1GateSql),
    QuerySpec("sim_pq_drift", simPqDrift, IndexMeta.DriftGateSql))
}
