package graft

import graft.functions.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf)

  test("dot/norm/cosine: self-cosine is 1, cosine bounded") {
    val selfCos = emb.limit(20)
      .select(Similarity.cosine(col("embedding"), col("embedding")).as("c"))
      .collect().map(_.getDouble(0))
    assert(selfCos.forall(c => math.abs(c - 1.0) < 1e-9))
  }

  test("brute-force top-k: k rows per query, ranked by descending cosine") {
    val topk = Similarity.simTopK(spark, sf)
    val byQuery = topk.groupBy("q_id").count().collect()
    assert(byQuery.length === 10)
    assert(byQuery.forall(_.getLong(1) === 5))
    val ranks = topk.filter(col("q_id") === 0)
      .orderBy("rank").collect().map(_.getDouble(2))
    assert(ranks.toSeq === ranks.sorted(Ordering[Double].reverse).toSeq)
  }

  test("brute-force matches a driver-side exact computation") {
    val vecs = emb.filter(col("vec_id") <= 60).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val q0 = vecs(0L)
    val expected = vecs.filter(_._1 != 0L)
      .map { case (id, v) => id -> cos(q0, v) }
    val got = Similarity.topKBruteForce(
      emb.filter(col("vec_id") === 0), emb.filter(col("vec_id") <= 60), 3)
      .collect().map(r => r.getLong(1) -> r.getDouble(2))
    val expTop = expected.toSeq.sortBy { case (id, c) => (-c, id) }.take(3)
    assert(got.map(_._1).toSeq === expTop.map(_._1))
    got.zip(expTop).foreach { case ((_, g), (_, e)) =>
      assert(math.abs(g - e) < 1e-9) }
  }

  test("auto bits: integer derivation and the mask/prefix identity") {
    import graft.functions.Similarity._
    // the rule: smallest b in [4,16] with 2^b * 128 >= n
    assert(deriveBits(0) === MinAutoBits)
    assert(deriveBits(500) === 4)     // sf0.01 corpus
    assert(deriveBits(2000) === 4)    // sf0.1: 2^4*128 = 2048 >= 2000
    assert(deriveBits(2049) === 5)
    assert(deriveBits(20000) === 8)   // sf1 lands on the r15 pinned value
    assert(deriveBits(200000) === 11) // sf10 lands on the audit-derived 11
    assert(deriveBits(Long.MaxValue) === MaxAutoBits)
    assert(autoBits(emb) === deriveBits(emb.count()))
    // prefix property the SQL oracle's mask relies on: the b-bit key is
    // the MaxAutoBits-bit key masked to the low b bits
    val b = autoBits(emb)
    val some = emb.limit(100)
    val kb = Similarity.withLshKey(some, "embedding", b)
      .select("vec_id", "lsh_key").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val masked = Similarity.withLshKey(some, "embedding", MaxAutoBits)
      .select("vec_id", "lsh_key").collect()
      .map(r => r.getLong(0) -> (r.getLong(1) & ((1L << b) - 1))).toMap
    assert(kb === masked)
  }

  test("LSH: bucket keys are deterministic and candidates rank exactly") {
    val k1 = Similarity.withLshKey(emb.limit(50), "embedding")
      .select("vec_id", "lsh_key").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val k2 = Similarity.withLshKey(emb.limit(50), "embedding")
      .select("vec_id", "lsh_key").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(k1 === k2, "same planes every evaluation")
    val ann = Similarity.simLsh(spark, sf)
    // every ANN result is a same-bucket candidate with correct rank order
    assert(ann.filter(col("rank") > 5).count() === 0)
  }

  test("LSH recall: identical vectors always share a bucket") {
    val sparkS = spark
    import sparkS.implicits._
    val dup = emb.filter(col("vec_id") === 3)
      .withColumn("vec_id", lit(99999L))
    val u = emb.unionByName(dup)
    val keys = Similarity.withLshKey(u.filter(col("vec_id").isin(3, 99999)),
      "embedding").select("lsh_key").distinct().count()
    assert(keys === 1)
  }

  test("quantized near-dup query is label-partitioned and complete") {
    val q = Similarity.simQuantized(spark, sf)
    val total = q.agg(sum("n_vecs")).collect().head.getLong(0)
    assert(total === emb.count())
  }

  test("rrf fusion: valid ranks, bounded scores, exact-rank agreement") {
    val fused = Similarity.simRrfFusion(spark, sf).collect()
    val byQ = fused.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size === 10)
    byQ.foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq === (1 to 5))
      val scores = sorted.map(_.getAs[Double]("rrf")).toSeq
      assert(scores === scores.sorted(Ordering[Double].reverse))
      // max possible score: rank 1 in both rankers
      assert(scores.head <= 2.0 / 61.0 + 1e-12)
      assert(scores.forall(_ > 0.0))
      // a candidate ranked 1 by exact cosine must appear in the fusion
      val top1 = Similarity.topKBruteForce(
        emb.filter(col("vec_id") === qid), emb, 1)
        .collect().head.getAs[Long]("c_id")
      assert(rows.exists(_.getAs[Long]("c_id") == top1),
        s"query $qid: exact top-1 $top1 missing from fused top-5")
    }
  }

  test("hard negatives: cross-label, and truly the hardest (exact recheck)") {
    val negs = Similarity.simHardNegatives(spark, sf).collect()
    assert(negs.length === 25)
    negs.foreach { r =>
      assert(r.getAs[Int]("a_label") !== r.getAs[Int]("neg_label"))
    }
    // driver-side exact recheck for three anchors
    val all = emb.select("vec_id", "embedding", "label").collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray,
        r.getAs[Int]("label")))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    negs.take(3).foreach { r =>
      val aId = r.getAs[Long]("a_id")
      val (_, aVec, aLab) = all.find(_._1 == aId).get
      val best = all.filter(v => v._3 != aLab)
        .map(v => (v._1, cos(aVec, v._2)))
        .maxBy { case (id, c) => (c, -id) }
      assert(r.getAs[Long]("neg_id") === best._1,
        s"anchor $aId hardest negative mismatch")
    }
  }

  test("LSH recall: equals the exact/approx top-k intersection size") {
    val exact = Similarity.simTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
    val approx = Similarity.simLsh(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
    val got = Similarity.simLshRecall(spark, sf).collect()
    assert(got.map(_.getAs[Long]("q_id")).toSet ===
      exact.map(_._1))
    got.foreach { r =>
      val q = r.getAs[Long]("q_id")
      val hits = exact.filter(_._1 == q).count(approx.contains)
      assert(r.getAs[Long]("n_hit") === hits.toLong)
      assert(r.getAs[Double]("recall_at_k") === hits.toDouble / 5.0)
    }
  }

  test("recallAtK: one row per exact query, zero-hit queries kept, " +
    "values equal the hand-computed intersection") {
    val sparkS = spark
    import sparkS.implicits._
    val exact = Seq(1L -> 10L, 1L -> 11L, 1L -> 12L, 1L -> 13L,
      2L -> 20L, 2L -> 21L, 3L -> 30L)
    // q2 misses everything; q4 exists only on the approximate side
    val approx = Seq(1L -> 10L, 1L -> 12L, 1L -> 99L, 2L -> 98L,
      3L -> 30L, 4L -> 40L)
    val got = Similarity.recallAtK(exact.toDF("q_id", "c_id"),
        approx.toDF("q_id", "c_id")).collect()
      .map(r => r.getAs[Long]("q_id") ->
        (r.getAs[Long]("n_hit"), r.getAs[Double]("recall_at_k"))).toMap
    val hand = exact.groupBy(_._1).map { case (q, rows) =>
      val hits = rows.count(approx.contains).toLong
      q -> (hits, hits.toDouble / rows.size)
    }
    assert(got === hand)
    assert(got(2L) === ((0L, 0.0)))
    assert(got === Map(1L -> ((2L, 0.5)), 2L -> ((0L, 0.0)),
      3L -> ((1L, 1.0))))
  }

  test("threshold sweep: counts are monotone and bounded by candidates") {
    val r = Similarity.simThresholdSweep(spark, sf).collect().head
    val ladder = Seq("ge_2", "ge_3", "ge_4", "ge_5", "ge_6", "ge_7",
      "ge_8").map(r.getAs[Long])
    assert(ladder.zip(ladder.tail).forall { case (a, b) => a >= b },
      s"threshold counts must fall as the cutoff rises: $ladder")
    assert(ladder.head <= r.getAs[Long]("n_candidates"))
    assert(r.getAs[Long]("n_candidates") > 0)
  }

  test("triangles: per-node counts match a naive all-triples enumeration") {
    val edges = Similarity.knnGraph(emb, 3)
      .select(least(col("src_id"), col("nbr_id")).as("u"),
        greatest(col("src_id"), col("nbr_id")).as("v"))
      .distinct().collect()
      .map(r => (r.getAs[Long]("u"), r.getAs[Long]("v"))).toSet
    val nodes = edges.toSeq.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    def has(a: Long, b: Long): Boolean =
      edges.contains((math.min(a, b), math.max(a, b)))
    val expected = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    for (tri <- nodes.combinations(3)
         if has(tri(0), tri(1)) && has(tri(0), tri(2)) && has(tri(1), tri(2));
         n <- tri)
      expected(n) += 1
    val got = Similarity.grTriangles(spark, sf).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("n_triangles")).toMap
    assert(got === expected.toMap)
    assert(got.nonEmpty, "triangle query must not be vacuous")
  }

  test("rank metrics: match an independent driver-side eval exactly") {
    val all = emb.collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray))
      .sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def int8(v: Array[Double]): Array[Long] = {
      val m = v.map(math.abs).max
      if (m == 0.0) v.map(_ => 0L)
      else v.map(x => math.floor(x * 127.0 / m + 0.5).toLong)
    }
    def qcos(a: Array[Long], b: Array[Long]): Double = {
      val qq = a.map(x => x * x).sum; val cc = b.map(x => x * x).sum
      if (qq == 0L || cc == 0L) -2.0
      else a.zip(b).map { case (x, y) => x * y }.sum.toDouble /
        (math.sqrt(qq.toDouble) * math.sqrt(cc.toDouble))
    }
    val k = 10
    val disc = (1 to k).map(i =>
      math.round(1048576.0 * math.log(2.0) / math.log(i + 1.0)))
    val idcg = (1 to k).map(i => (k + 1 - i).toLong * disc(i - 1)).sum
    val got = functions.Similarity.simRankMetrics(spark, sf).collect()
      .map(r => r.getAs[Long]("q_id") -> r).toMap
    assert(got.keySet === (0L until 10L).toSet)
    for ((qId, qVec) <- all.filter(_._1 < 10)) {
      val cands = all.filter(_._1 != qId)
      val exactTop = cands.map { case (id, v) => (id, cos(qVec, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(k)
        .zipWithIndex.map { case ((id, _), i) => id -> (k - i).toLong }
        .toMap // grade k..1 by exact rank
      val qQv = int8(qVec)
      val runTop = cands.map { case (id, v) => (id, qcos(qQv, int8(v))) }
        .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)
      val grades = runTop.map(id => exactTop.getOrElse(id, 0L))
      val nHits = grades.count(_ > 0L).toLong
      val firstRel = grades.indexWhere(_ > 0L)
      val mrr = if (firstRel < 0) 0.0 else 1.0 / (firstRel + 1).toDouble
      val dcg = grades.zipWithIndex
        .map { case (g, i) => g * disc(i) }.sum
      val r = got(qId)
      assert(r.getAs[Long]("n_hits") === nHits, s"q$qId n_hits")
      assert(r.getAs[Double]("p_at_k") === nHits.toDouble / k.toDouble)
      assert(r.getAs[Double]("mrr") === mrr, s"q$qId mrr")
      assert(r.getAs[Double]("ndcg") === dcg.toDouble / idcg.toDouble,
        s"q$qId ndcg")
      // sanity: the quantized ranker is good but not perfect everywhere
      assert(r.getAs[Double]("ndcg") > 0.0)
    }
  }

  test("MMR: selection equals an independent greedy reference") {
    val all = emb.collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    val got = Similarity.simMmr(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("round")) ->
        r.getAs[Long]("c_id")).toMap
    val (k, short, lambda) = (5, 20, 0.7)
    for ((qId, qVec) <- all.filter(_._1 < 5)) {
      val pool = all.filter(_._1 != qId)
        .map { case (id, v) => (id, v, cos(qVec, v)) }
        .sortBy { case (id, _, c) => (-c, id) }
        .take(short)
      var selected = List(pool.head)
      for (r <- 2 to k) {
        val remaining = pool.filterNot(p => selected.exists(_._1 == p._1))
        val next = remaining.map { case (id, v, c) =>
          val maxSim = selected.map(s => cos(v, s._2)).max
          (id, v, c, lambda * c - (1 - lambda) * maxSim)
        }.minBy { case (id, _, _, score) => (-score, id) }
        selected = selected :+ ((next._1, next._2, next._3))
      }
      selected.zipWithIndex.foreach { case ((id, _, _), i) =>
        assert(got((qId, i + 1)) === id,
          s"query $qId round ${i + 1} pick mismatch")
      }
    }
  }

  test("MMR: a pool smaller than k stops at pool exhaustion with no " +
    "null picks (and a 1-candidate pool keeps its query)") {
    // 3 vectors → every query's pool is 2 candidates < k=5; the round
    // sequence must clamp to the pool (rounds past exhaustion used to
    // reduce over an empty array and emit null c_id rows), and with 2
    // vectors a query's pool is a single candidate — no candidate-pair
    // sims row exists, which an inner join would drop
    val sparkS = spark
    import sparkS.implicits._
    for (n <- Seq(3, 2)) {
      val dir = tempDir(s"mmr_short_$n").toString
      (0 until n).map(i =>
          (i.toLong, Array.tabulate(8)(j => (i + j + 1).toFloat), "a"))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val got = functions.Similarity.simMmr(spark, dir).collect()
      val perQ = got.groupBy(_.getAs[Long]("q_id"))
      assert(perQ.keySet === (0L until n.toLong).toSet)
      perQ.foreach { case (q, rows) =>
        assert(rows.length === n - 1,
          s"n=$n q=$q: expected pool-sized pick list")
        assert(rows.forall(r => !r.isNullAt(r.fieldIndex("c_id"))),
          s"n=$n q=$q: null pick leaked past pool exhaustion")
        assert(rows.map(_.getAs[Int]("round")).sorted
          === (1 to (n - 1)).toArray, s"n=$n q=$q: round numbering")
      }
    }
  }

  test("MMR gate: first pick is the cosine argmax and flags are green") {
    val all = emb.collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    val rows = Similarity.simMmrGate(spark, sf).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      val qId = r.getAs[Long]("q_id")
      val qVec = all.find(_._1 === qId).get._2
      val (expId, expCos) = all.filter(_._1 != qId)
        .map { case (id, v) => (id, cos(qVec, v)) }
        .minBy { case (id, c) => (-c, id) }
      assert(r.getAs[Long]("first_pick") === expId, s"query $qId")
      assert(math.abs(r.getAs[Double]("first_cos") - expCos) < 1e-9)
      assert(r.getAs[Boolean]("n_picks_ok"), s"query $qId picks")
      assert(r.getAs[Boolean]("distinct_ok"), s"query $qId repeats")
      assert(r.getAs[Boolean]("monotone_ok"), s"query $qId relevance")
    }
  }

  test("semantic decontamination flags planted near-copies of eval vectors") {
    val sparkS = spark
    import sparkS.implicits._
    // eval set: two orthogonal-ish unit vectors; train: a near-copy of
    // eval#1 (contaminated), an exact copy of eval#2 (contaminated),
    // and an orthogonal vector (clean)
    val e1 = Array(1f, 0f, 0f, 0f)
    val e2 = Array(0f, 1f, 0f, 0f)
    val nearE1 = Array(0.98f, 0.02f, 0.01f, 0f)
    val ortho = Array(0f, 0f, 0f, 1f)
    val eval_ = Seq((100L, e1.toSeq), (200L, e2.toSeq))
      .toDF("e_id", "e_vec")
    val train = Seq((1L, nearE1.toSeq), (2L, e2.toSeq), (3L, ortho.toSeq))
      .toDF("t_id", "t_vec")
    val got = Similarity.semanticDecontamination(train, eval_, tau = 0.9)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    assert(got.toSeq === Seq(
      (1L, 100L, true), // near-copy → nearest eval#1, flagged
      (2L, 200L, true), // exact copy → cos 1.0, flagged
      (3L, 100L, false))) // orthogonal: cos 0 to both, tie → lowest id
    // empty eval set: every train vector comes back CLEAN, not dropped
    val noEval = Similarity.semanticDecontamination(train,
      eval_.filter(org.apache.spark.sql.functions.col("e_id") < 0),
      tau = 0.9)
      .orderBy("vec_id").collect()
    assert(noEval.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(noEval.forall(r => !r.getBoolean(3) && r.isNullAt(2)))
    // the declared query flags a nonzero but partial fraction on the
    // corpus at the declared tau (measured ~31/475; zero would mean
    // the gate regressed to never-fire, n would mean it fires always)
    val corpus = Similarity.dc3SemanticDecontamination(spark, sf)
    val n = corpus.count()
    assert(n > 0)
    val flagged = corpus.filter(org.apache.spark.sql.functions
      .col("contaminated")).count()
    assert(flagged > 0, "gate regressed to never-fire at declared tau")
    assert(flagged < n, "threshold must not flag the whole corpus")
    // routing: an eval side past the broadcast bound takes the IVF
    // path (2 cells here, default nprobe ≥ 2 → full probe → exact)
    val routed = Similarity.semanticDecontamination(train, eval_,
      tau = 0.9, maxBroadcastEval = 1L)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    assert(routed.toSeq === Seq(
      (1L, 100L, true), (2L, 200L, true), (3L, 100L, false)))
  }

  test("ivf decontamination agrees with the exact gate under full probe") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf)
    val train = emb.filter(col("vec_id") % 20 =!= 0 || col("vec_id") >= 2000)
      .select(col("vec_id").as("t_id"), col("embedding").as("t_vec"))
    val eval_ = emb.filter(col("vec_id") % 20 === 0 && col("vec_id") < 2000)
      .select(col("vec_id").as("e_id"), col("embedding").as("e_vec"))
    val exact = Similarity.semanticDecontamination(train, eval_,
      Similarity.Dc3Tau).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    // nprobe = k probes every cell: the bucketed path must reproduce
    // the exact gate bit-for-bit (same cosine fold, same tie-break)
    val ivf = Similarity.ivfDecontamination(train, eval_,
      Similarity.Dc3Tau, k = 8, iters = 2, nprobe = 8)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(ivf.toSeq === exact.toSeq)
  }
  test("sign-bit packing matches a plain-Scala reference") {
    import org.apache.spark.sql.functions.col
    val sparkS = spark
    import sparkS.implicits._
    val vecs = Seq(
      Array.tabulate(64)(i => if (i % 3 == 0) -1.0f else 0.5f),
      Array.fill(64)(0.0f),               // 0 >= 0: all bits set
      Array.tabulate(64)(i => (i - 32).toFloat),
      Array.fill(64)(-0.0f))              // -0.0 >= 0 in IEEE: all set
    def ref(v: Array[Float]): Long =
      v.zipWithIndex.foldLeft(0L) { case (acc, (x, j)) =>
        if (x >= 0f) acc + (1L << j) else acc }
    val got = vecs.toDF("embedding")
      .select(Similarity.signWord("embedding", 0).as("sig"))
      .collect().map(_.getLong(0)).toSeq
    assert(got === vecs.map(ref))
  }

  test("packed XOR+popcount hamming equals sign-disagreement count") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf).limit(40)
      .withColumn("sig", Similarity.signWord("embedding", 0))
    val a = emb.select(col("vec_id").as("a_id"), col("embedding").as("a_v"),
      col("sig").as("a_s"))
    val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("b_v"),
      col("sig").as("b_s"))
    val pairs = a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .withColumn("packed", expr("CAST(bit_count(a_s ^ b_s) AS INT)"))
      .withColumn("naive", expr(
        "CAST(aggregate(sequence(0, 63), 0, (acc, j) -> acc + " +
          "IF((a_v[j] >= 0.0D) != (b_v[j] >= 0.0D), 1, 0)) AS INT)"))
    assert(pairs.filter(col("packed") =!= col("naive")).count() === 0)
    assert(pairs.agg(max(col("packed"))).head.getInt(0) > 0)
  }

  test("hamming ANN: 10 ranked rows per query, recall floor holds") {
    import org.apache.spark.sql.functions._
    val ann = Similarity.simHammingAnn(spark, sf)
    val perQ = ann.groupBy("q_id").agg(
      count(lit(1)).as("n"), max(col("rank")).as("maxr"))
    assert(perQ.filter(col("n") =!= 10 || col("maxr") =!= 10).count() === 0)
    val rec = Similarity.simHammingRecall(spark, sf)
    assert(rec.count() === 10)
    assert(rec.filter(!col("ok_floor")).count() === 0)
    // the reranked list is drawn from the hamming candidate set: every
    // reported cosine must match the exact cosine for that pair
    val emb = Tables.embeddings(spark, sf)
    val exact = Similarity.topKBruteForce(
      emb.filter(col("vec_id") < 10), emb, k = 1000)
      .select(col("q_id"), col("c_id"), col("cos").as("cos_exact"))
    val joined = ann.join(exact, Seq("q_id", "c_id"))
    assert(joined.count() === ann.count())
    assert(joined.filter(col("cos") =!= col("cos_exact")).count() === 0)
  }

  test("matryoshka sweep: full-dim band reproduces the exact set") {
    import org.apache.spark.sql.functions._
    val m = Similarity.simMatryoshkaRecall(spark, sf)
    val rows = m.collect()
    assert(rows.length === Similarity.MatryoshkaDims.length * 10)
    assert(rows.forall(_.getAs[Boolean]("ok_full_dim")))
    val full = rows.filter(_.getAs[Int]("dim") === Similarity.Dim)
    assert(full.forall(_.getAs[Int]("n_overlap") === Similarity.HammingK))
    assert(rows.forall { r =>
      val n = r.getAs[Int]("n_overlap"); n >= 0 && n <= 10 })
  }

  test("norm hoisting: dot(x,x) moves below the join, results unchanged") {
    import org.apache.spark.sql.functions.col
    val df = Similarity.simTopK(spark, sf)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("__graft_normsq"),
      s"expected hoisted squared norms under the join:\n$opt")
    // above the join only the pair dot survives; the per-side norms
    // are referenced, not recomputed (pattern removed => idempotent)
    val withRule = df.collect().map(_.toSeq).toSeq
    val session = spark
    val saved = session.experimental.extraOptimizations
    try {
      session.experimental.extraOptimizations =
        saved.filterNot(_ eq graft.operators.HoistInvariantNorms)
      val bare = Similarity.simTopK(spark, sf)
      assert(!bare.queryExecution.optimizedPlan.toString
        .contains("__graft_normsq"))
      assert(bare.collect().map(_.toSeq).toSeq === withRule,
        "rule must not change any value (identical IEEE arithmetic)")
    } finally session.experimental.extraOptimizations = saved
  }

  test("norm hoisting leaves outer joins and derived vectors alone") {
    val sparkS = spark
    import sparkS.implicits._
    import org.apache.spark.sql.functions._
    val a = Seq((1L, Array(1.0f, 2.0f))).toDF("id", "v")
    val b = Seq((1L, Array(3.0f, 4.0f))).toDF("id", "w")
    // outer join: null-extended rows make hoisting a semantics change
    // in general; the rule must not fire
    val outer = a.join(b, Seq("id"), "left_outer")
      .select(col("id"), Similarity.dot(col("v"), col("v")).as("n"))
    assert(!outer.queryExecution.optimizedPlan.toString
      .contains("__graft_normsq"))
    assert(outer.head.getDouble(1) === 5.0)
    // derived (non-attribute) operand: no hoist, still correct
    val derived = a.crossJoin(b)
      .select(Similarity.dot(slice(col("v"), 1, 1),
        slice(col("v"), 1, 1)).as("n"))
    assert(!derived.queryExecution.optimizedPlan.toString
      .contains("__graft_normsq"))
    assert(derived.head.getDouble(0) === 1.0)
  }

  test("persisted hamming index reproduces the in-memory ANN exactly") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf)
    val idxDir = tempDir("hamming_idx").toString
    try {
      Similarity.saveSignatureIndex(emb, idxDir)
      val sigs = spark.read.parquet(s"$idxDir/hamming_sigs")
      // 16-byte rows: the artifact carries ONLY (vec_id, sig)
      assert(sigs.columns.sorted.toSeq === Seq("sig", "vec_id"))
      val persisted = Similarity.topKHammingPersisted(
        emb.filter(col("vec_id") < 10), emb, spark, idxDir)
      val inMemory = Similarity.simHammingAnn(spark, sf)
      assert(persisted.collect().map(_.toSeq).toSeq ===
        inMemory.collect().map(_.toSeq).toSeq,
        "artifact changes where signatures live, never what they hold")
      // the prefilter scan reads just the two small columns
      val plan = persisted.queryExecution.executedPlan.toString
      val sigScan = plan.linesIterator
        .find(l => l.contains("hamming_sigs") && l.contains("ReadSchema"))
      assert(sigScan.exists(l =>
        l.contains("ReadSchema: struct<vec_id:bigint,sig:bigint>")),
        s"sig scan must be 2-column:\n$plan")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(idxDir))
    }
  }

}
