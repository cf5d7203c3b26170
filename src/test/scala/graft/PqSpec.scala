package graft

import graft.functions.{Pq, Similarity}
import org.apache.spark.sql.functions._

class PqSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf).cache()
  private lazy val books = Pq.trainCodebooks(emb, m = 4, k = 16, iters = 2)

  test("pq top-1 gate: full sets, self at rank 1, non-self dominated") {
    val rows = Pq.simPqTop1Gate(spark, sf).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_returned") >= 2L)
      assert(r.getAs[Boolean]("self_top1_ok"), s"self not rank-1: $r")
      assert(r.getAs[Boolean]("dominance_ok"), s"cosine drift: $r")
    }
  }

  test("codebooks have the right shape and finite codewords") {
    assert(books.length === 4)
    assert(books.forall(_.length === 16))
    assert(books.forall(_.forall(_.length === 16))) // 64 / 4 dims
    assert(books.flatten.flatten.forall(v => !v.isNaN && !v.isInfinite))
  }

  test("encode picks the argmin codeword per subspace (exact recompute)") {
    val rows = Pq.encode(emb, books)
      .select("vec_id", "embedding", "codes")
      .limit(20).collect()
    for (r <- rows) {
      val vec = r.getSeq[Float](1).toArray
      val codes = r.getSeq[Int](2)
      for (j <- 0 until 4) {
        val subv = vec.slice(j * 16, (j + 1) * 16).map(_.toDouble)
        def d(cw: Array[Double]): Double =
          subv.zip(cw).map { case (a, b) => (a - b) * (a - b) }.sum
        val want = books(j).zipWithIndex.minBy { case (cw, c) => (d(cw), c) }._2
        assert(codes(j) === want,
          s"vec ${r.getLong(0)} subspace $j: got ${codes(j)}, want $want")
      }
    }
  }

  test("ADC distance equals the sum of per-subspace codeword distances") {
    val encoded = Pq.encode(emb, books)
    val got = Pq.adcTopK(emb.filter(col("vec_id") === 0), encoded, books,
      k = 500, shortlist = 500)
    // with shortlist = corpus the ADC stage keeps everything; re-rank is
    // exact cosine, so rank 1 must be the query itself (cos = 1)
    val top = got.filter(col("rank") === 1).collect().head
    assert(top.getAs[Long]("c_id") === 0L)
    assert(math.abs(top.getAs[Double]("cos") - 1.0) < 1e-6)
  }

  test("PQ + re-rank recall@5 against brute force is reasonable") {
    // exact reference computed in-process (corpus is tiny at spec sf);
    // PQ keeps self-matches, so the reference must too
    val all = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val exact = (for {
      (qid, q) <- all.filter(_._1 < 10)
      (cid, _) <- all.map(c => c._1 -> cos(q, c._2))
        .sortBy { case (cid, s) => (-s, cid) }.take(5)
    } yield (qid, cid)).toSet
    val pq = Pq.simPq(spark, sf)
      .select(col("q_id"), col("c_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall@5 = $recall")
    assert(pq.size === 50, "10 queries × top-5")
  }

  test("corpus ADC scan reads codes, not embeddings (column pruning)") {
    val encoded = Pq.encode(emb, books)
      .select("vec_id", "embedding", "codes")
    // write/read through parquet so the scan's ReadSchema is observable
    val dir = tempDir("graft_pq").toString
    encoded.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    val shortlistOnly = back.select(col("vec_id").as("c_id"), col("codes"))
    val plan = shortlistOnly.queryExecution.executedPlan.toString
    assert(!plan.contains("embedding"),
      "ADC shortlist stage must not scan the raw vectors")
  }

  test("codebooks and ANN output are bit-identical across layouts") {
    val emb = Tables.embeddings(spark, sf)
    // different partition layouts feed the training fold in different
    // orders; the integer-scaled sums must erase that
    val b1 = Pq.trainCodebooks(emb.repartition(3), m = 4, k = 16, iters = 2)
    val b2 = Pq.trainCodebooks(emb.repartition(11), m = 4, k = 16, iters = 2)
    assert(b1.map(_.map(_.toSeq).toSeq).toSeq ===
      b2.map(_.map(_.toSeq).toSeq).toSeq,
      "codebooks must be bit-stable across partitionings")
    // and the declared query is row-identical across shuffle widths
    val conf = spark.conf
    val before = conf.get("spark.sql.shuffle.partitions")
    def run(): Seq[(Long, Long, Double, Int)] = {
      val sparkS = spark
      import sparkS.implicits._
      Pq.simPq(spark, sf)
        .select("q_id", "c_id", "cos", "rank")
        .as[(Long, Long, Double, Int)].collect().toSeq
    }
    try {
      conf.set("spark.sql.shuffle.partitions", "5")
      val r5 = run()
      conf.set("spark.sql.shuffle.partitions", "16")
      val r16 = run()
      assert(r5 === r16, "PQ ANN output must not depend on parallelism")
    } finally conf.set("spark.sql.shuffle.partitions", before)
  }

  test("pq recall query: equals the exact/approx top-k intersection") {
    val sparkS = spark
    import sparkS.implicits._
    val exact = graft.functions.Similarity.simTopK(spark, sf)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val approx = Pq.simPq(spark, sf)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val got = Pq.simPqRecall(spark, sf).collect()
    assert(got.map(_.getAs[Long]("q_id")).toSet === exact.map(_._1))
    got.foreach { r =>
      val q = r.getAs[Long]("q_id")
      val hits = exact.filter(_._1 == q).count(approx.contains)
      assert(r.getAs[Long]("n_hit") === hits.toLong)
      assert(r.getAs[Double]("recall_at_k") === hits.toDouble / 5.0)
    }
  }

  test("pq recall gate: one all-TRUE bounds row over the query set") {
    val r = Pq.simPqRecallGate(spark, sf).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("n_queries") === 10L)
    assert(r.head.getAs[Boolean]("mean_recall_ok"))
    assert(r.head.getAs[Boolean]("hit_frac_ok"))
  }

  test("persisted index roundtrips codebooks and serves identical results") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
    val books = Pq.trainCodebooks(emb, m = 4, k = 16, iters = 2)
    val dir = tempDir("pq_index").toString
    Pq.saveIndex(emb, books, dir)
    // codebook tensor survives storage bit-for-bit, in trained order
    val loaded = Pq.loadCodebooks(spark, dir)
    assert(loaded.length === books.length)
    loaded.zip(books).foreach { case (lb, b) =>
      assert(lb.length === b.length)
      lb.zip(b).foreach { case (lcw, cw) => assert(lcw.toSeq === cw.toSeq) }
    }
    val queries = emb.filter(col("vec_id") < 10)
    val fromDisk = Pq.topKPersisted(queries, spark, dir,
      k = 5, shortlist = 32)
    val inMemory = Pq.adcTopK(queries,
      Pq.encode(emb, books).localCheckpoint(), books,
      k = 5, shortlist = 32)
    assert(fromDisk.orderBy("q_id", "rank").collect().toSeq ===
      inMemory.orderBy("q_id", "rank").collect().toSeq,
      "persistence changed retrieval results")
  }

  test("incremental append: grown index equals the full-corpus index; " +
    "flat drift on same-distribution appends; shifted batch trips " +
    "the retrain trigger") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter(pmod(col("vec_id"), lit(10L)) =!= 9L)
    val batch = emb.filter(pmod(col("vec_id"), lit(10L)) === 9L)
    val books = Pq.trainCodebooks(base, m = 4, k = 16, iters = 2)
    val dir = tempDir("pq_append").toString
    Pq.saveIndex(base, books, dir)
    Pq.appendToIndex(batch, spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
    val grown = Pq.topKPersisted(queries, spark, dir,
      k = 5, shortlist = 32)
    val mem = Pq.adcTopK(queries,
      Pq.encode(emb, books).localCheckpoint(), books,
      k = 5, shortlist = 32)
    assert(grown.orderBy("q_id", "rank").collect().toSeq ===
      mem.orderBy("q_id", "rank").collect().toSeq,
      "append must make the persisted index equal the full-corpus index")
    val flat = Pq.indexStaleness(spark, dir).collect().head
    assert(flat.getAs[Long]("n_indexed") ===
      flat.getAs[Long]("n_trained") + batch.count())
    val ratio = flat.getAs[Double]("drift_ratio")
    assert(ratio > 0.5 && ratio < 2.0, s"flat-append drift ratio $ratio")
    assert(!flat.getAs[Boolean]("retrain_suggested"))
    // a scaled+shifted batch inflates reconstruction error → trigger
    val dir2 = tempDir("pq_append2").toString
    Pq.saveIndex(base, books, dir2)
    val shifted = batch.select(col("vec_id") + 1000000L as "vec_id",
      transform(col("embedding"), x => x * lit(5.0f) + lit(7.0f))
        .as("embedding"))
    Pq.appendToIndex(shifted, spark, dir2)
    val drift = Pq.indexStaleness(spark, dir2).collect().head
    assert(drift.getAs[Double]("drift_ratio") > 1.5,
      s"shifted batch should inflate drift, got $drift")
    assert(drift.getAs[Boolean]("retrain_suggested"))
  }
}
