package graft

import graft.functions.Ivf
import org.apache.spark.sql.functions._

class IvfSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf)
  private lazy val centroids = Ivf.trainCentroids(emb, k = 8, iters = 2)

  test("k-means: k centroids of full dimension, assignments total") {
    assert(centroids.count() === 8)
    assert(centroids.select(size(col("centroid"))).distinct()
      .collect().map(_.getInt(0)).toSeq === Seq(64))
    val assigned = Ivf.assign(emb, centroids)
    assert(assigned.count() === emb.count(), "every vector lands in a cell")
    assert(assigned.select("cid").distinct().count() > 1,
      "cells are non-degenerate")
  }

  test("lloyd step reduces (or holds) total within-cell distortion") {
    def distortion(c: org.apache.spark.sql.DataFrame): Double = {
      val assigned = emb.crossJoin(broadcast(c))
        .withColumn("d", aggregate(zip_with(col("embedding"), col("centroid"),
          (x, y) => (x.cast("double") - y.cast("double")) *
            (x.cast("double") - y.cast("double"))),
          lit(0.0d), (a, v) => a + v))
        .groupBy("vec_id").agg(min("d").as("dmin"))
      assigned.agg(sum("dmin")).collect().head.getDouble(0)
    }
    val c0 = Ivf.seedCentroids(emb, 8)
    val c1 = Ivf.lloydStep(emb, c0)
    assert(distortion(c1) <= distortion(c0) * 1.0001)
  }

  test("centroids are bit-identical across partition layouts") {
    def books(df: org.apache.spark.sql.DataFrame) =
      Ivf.trainCentroids(df, k = 8, iters = 2)
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq
    assert(books(emb.repartition(3)) === books(emb.repartition(11)),
      "scaled-long mean folds must erase layout order")
  }

  test("IVF self-retrieval: a corpus vector always finds itself at rank 1") {
    val res = Ivf.simIvf(spark, sf)
    val selfHits = res.filter(col("q_id") === col("c_id") &&
      col("rank") === 1)
    assert(selfHits.count() === 10,
      "query's own cell is always probed (nearest centroid = assigned)")
  }

  test("ivf top-1 gate: full sets, self at rank 1, non-self dominated") {
    val rows = Ivf.simIvfTop1Gate(spark, sf).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_returned") >= 2L)
      assert(r.getAs[Boolean]("self_top1_ok"), s"self not rank-1: $r")
      assert(r.getAs[Boolean]("dominance_ok"), s"cosine drift: $r")
    }
  }

  test("IVF recall vs brute force is substantial at nprobe=2/8") {
    val sparkS = spark
    import sparkS.implicits._
    val exact = graft.functions.Similarity.simTopK(spark, sf)
      .filter(col("rank") <= 3)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val approx = Ivf.simIvf(spark, sf)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.3, s"recall@probe2 was $recall")
  }

  test("ivf recall query: equals the exact/approx top-k intersection") {
    val sparkS = spark
    import sparkS.implicits._
    val exact = graft.functions.Similarity.simTopK(spark, sf)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val approx = Ivf.simIvf(spark, sf)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val got = Ivf.simIvfRecall(spark, sf).collect()
    assert(got.map(_.getAs[Long]("q_id")).toSet === exact.map(_._1))
    got.foreach { r =>
      val q = r.getAs[Long]("q_id")
      val hits = exact.filter(_._1 == q).count(approx.contains)
      assert(r.getAs[Long]("n_hit") === hits.toLong)
      assert(r.getAs[Double]("recall_at_k") === hits.toDouble / 5.0)
    }
  }

  test("ivf recall gate: one all-TRUE bounds row over the query set") {
    val r = Ivf.simIvfRecallGate(spark, sf).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("n_queries") === 10L)
    assert(r.head.getAs[Boolean]("mean_recall_ok"))
    assert(r.head.getAs[Boolean]("hit_frac_ok"))
  }

  test("semdedup gate: invariants hold and charge back to the corpus") {
    val r = Ivf.simSemDedupGate(spark, sf).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("n_vectors") ===
      Tables.embeddings(spark, sf).count())
    Seq("cells_ok", "all_cells_keep_ok", "counts_reconcile",
      "drop_frac_ok").foreach(f =>
      assert(r.head.getAs[Boolean](f), f))
  }

  test("semdedup equals brute-force within-cell pruning") {
    val sparkS = spark
    import sparkS.implicits._
    // driver-side reference: same cells, all pairs, same kill rule
    val cells = Ivf.assign(emb, centroids)
      .select("vec_id", "embedding", "cid")
      .as[(Long, Seq[Float], Int)].collect()
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = cells.groupBy(_._3).map { case (cid, vs) =>
      val sorted = vs.sortBy(_._1)
      val overTau = (for {
        i <- sorted.indices; j <- (i + 1) until sorted.length
        if cos(sorted(i)._2, sorted(j)._2) >= 0.3
      } yield (sorted(i)._1, sorted(j)._1))
      val killed = overTau.map(_._2).toSet
      val covered = overTau.flatMap(p => Seq(p._1, p._2)).toSet
      cid -> ((vs.length.toLong, (vs.length - killed.size).toLong,
        killed.size.toLong, covered.size.toLong))
    }
    val got = Ivf.semDedup(emb).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(got === expected)
    // something actually deduplicates at this threshold (non-vacuous)
    assert(got.values.map(_._3).sum > 0)
  }

  test("persisted index serves identical results and prunes to the probed cells") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
    val centroids = Ivf.trainCentroids(emb, k = 8, iters = 2)
    val dir = tempDir("ivf_index").toString
    Ivf.saveIndex(emb, centroids, dir)
    // the store is partitioned by cell — one directory per cid
    val cellDirs = new java.io.File(s"$dir/cells")
      .listFiles().filter(_.getName.startsWith("cid=")).map(_.getName)
    assert(cellDirs.length === 8, cellDirs.mkString(","))
    val queries = emb.filter(col("vec_id") < 10)
    val fromDisk = Ivf.topKPersisted(queries, spark, dir, k = 5,
      nprobe = 2)
    val inMemory = Ivf.topKIvf(queries, emb, centroids, k = 5, nprobe = 2)
    assert(fromDisk.orderBy("q_id", "rank").collect().toSeq ===
      inMemory.orderBy("q_id", "rank").collect().toSeq,
      "persistence changed retrieval results")
    // the inverted-file property: the probe join reaches the cell scan
    // as a dynamic partition-pruning filter, so only probed cid
    // directories are read
    val plan = fromDisk.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      "cell scan is not dynamically pruned:\n" + plan)
  }

  test("model memo: distinct corpora never share a trained model") {
    // the session memo keys on the canonicalized source plan — a key
    // collision would silently serve one corpus's centroids for
    // another's queries, so pin that two different corpora (and the
    // same corpus re-read, which MUST hit) behave correctly
    val sparkS = spark
    import sparkS.implicits._
    def corpus(shift: Double) = (0L until 32L)
      .map(i => (i, Array.tabulate(64)(j =>
        (math.sin(i * 64 + j + shift) * 10).toFloat)))
      .toDF("vec_id", "embedding")
    val a = corpus(0.0)
    val b = corpus(100.0)
    def cents(df: org.apache.spark.sql.DataFrame): Seq[Seq[Double]] =
      Ivf.trainCentroids(df, k = 4, iters = 1)
        .orderBy("cid").collect().map(_.getSeq[Double](1)).toSeq
    val ca = cents(a)
    val cb = cents(b)
    assert(ca !== cb, "different corpora must train different models")
    // same logical source again → memo hit must reproduce exactly
    assert(cents(corpus(0.0)) === ca, "re-read of the same corpus " +
      "must return the identical trained model")
  }

  test("incremental append: grown index serves exactly the full-corpus " +
    "ranking; same-distribution drift stays flat; a shifted batch " +
    "trips the retrain trigger") {
    val sparkS = spark
    import sparkS.implicits._
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter(pmod(col("vec_id"), lit(10L)) =!= 9L)
    val batch = emb.filter(pmod(col("vec_id"), lit(10L)) === 9L)
    val centroids = Ivf.trainCentroids(base, k = 8, iters = 2)
    val dir = tempDir("ivf_append").toString
    Ivf.saveIndex(base, centroids, dir)
    Ivf.appendToIndex(batch, spark, dir)
    // the grown persisted index must answer EXACTLY like an in-memory
    // index over the full corpus with the same (unretrained) centroids
    val queries = emb.filter(col("vec_id") < 10)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("c_id")).toMap
    val grown = key(Ivf.topKPersisted(queries, spark, dir, 5, 2))
    val mem = key(Ivf.topKIvf(queries, emb, centroids, 5, 2))
    assert(grown === mem,
      "append must make the persisted index equal the full-corpus index")
    // same-distribution append: drift ≈ 1, no retrain
    val flat = Ivf.indexStaleness(spark, dir).collect().head
    assert(flat.getAs[Long]("n_indexed") ===
      flat.getAs[Long]("n_trained") + batch.count())
    val ratio = flat.getAs[Double]("drift_ratio")
    assert(ratio > 0.5 && ratio < 2.0, s"flat-append drift ratio $ratio")
    assert(!flat.getAs[Boolean]("retrain_suggested"))
    // distribution shift: scale+shift the held-out vectors far outside
    // the trained cells — quantization error inflates, trigger trips
    val dir2 = tempDir("ivf_append2").toString
    Ivf.saveIndex(base, centroids, dir2)
    val shifted = batch.select(col("vec_id") + 1000000L as "vec_id",
      transform(col("embedding"), x => x * lit(5.0f) + lit(7.0f))
        .as("embedding"))
    Ivf.appendToIndex(shifted, spark, dir2)
    val drift = Ivf.indexStaleness(spark, dir2).collect().head
    assert(drift.getAs[Double]("drift_ratio") > 1.5,
      s"shifted batch should inflate drift, got $drift")
    assert(drift.getAs[Boolean]("retrain_suggested"))
  }

  test("model memo: rewriting a file-backed corpus in place invalidates " +
    "the memoized model on the next read") {
    // the canonicalized plan of a file scan is just the path — without
    // the data fingerprint in the memo key, a parquet dir rewritten
    // mid-session silently serves the PREVIOUS corpus's centroids
    val sparkS = spark
    import sparkS.implicits._
    val dir = tempDir("ivf_rewrite").toString + "/emb.parquet"
    def write(shift: Double): Unit = (0L until 32L)
      .map(i => (i, Array.tabulate(64)(j =>
        (math.sin(i * 64 + j + shift) * 10).toFloat)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(dir)
    def cents(): Seq[Seq[Double]] =
      Ivf.trainCentroids(spark.read.parquet(dir), k = 4, iters = 1)
        .orderBy("cid").collect().map(_.getSeq[Double](1)).toSeq
    write(0.0)
    val before = cents()
    // same path, same data, fresh read → must still HIT (part-file
    // names unchanged since nothing was rewritten)
    assert(cents() === before, "unchanged files must stay a memo hit")
    write(100.0) // same path, different data, new part-file names
    assert(cents() !== before,
      "a rewritten corpus must retrain, not serve the stale model")
  }

  test("cluster balance: charge-back, budget apportionment, flattening, " +
    "layout-stable selection") {
    val out = Ivf.clusterBalance(emb).collect()
    val n = emb.count()
    assert(out.map(_.getAs[Long]("n_vecs")).sum === n,
      "cell occupancies charge back to the corpus")
    // targets apportion the B = n div 2 budget to within one rounding
    // step per cell (tsTemperature-style independent floor(x + 0.5))
    val tgt = out.map(_.getAs[Long]("target_docs")).sum
    assert(math.abs(tgt - n / 2) <= out.length.toLong,
      s"sum(target)=$tgt vs budget=${n / 2}")
    out.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_vecs"))
      assert(r.getAs[Long]("rate") >= 0L && r.getAs[Long]("rate") <= 100L)
      assert(r.getAs[Long]("kept_id_sum") >= 0L)
    }
    // the point of the operator: √-mass quotas FLATTEN the cell
    // distribution — the densest basin keeps a smaller fraction than
    // the thinnest (rate ∝ 1/√n is weakly monotone through the floors)
    val byN = out.sortBy(_.getAs[Long]("n_vecs"))
    assert(byN.last.getAs[Long]("rate") <= byN.head.getAs[Long]("rate"),
      "largest cell must not out-keep the smallest")
    // selection is a pure function of (vec_id, trained cells): a
    // different partition layout must produce byte-identical rows
    val re = Ivf.clusterBalance(emb.repartition(7)).collect()
    assert(out.map(_.toSeq.toList).toList === re.map(_.toSeq.toList).toList,
      "cluster balance must be layout-stable")
  }

  test("drift gate: evicting the memo deletes its index directory") {
    // each drift-gate build writes a full copy of the embeddings
    // under java.io.tmpdir; memo eviction must remove it
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def incDirs(): Int = tmp.listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("ivf_inc"))
    util.Caches.invalidateAllMemos()
    val before = incDirs()
    val row = SparkEntry.queries("sim_ivf_drift")(spark, sf).collect()
    assert(row.length === 1 && row.head.getAs[Boolean]("drift_ok"))
    assert(incDirs() === before + 1, "the gate builds its index once")
    util.Caches.invalidateAllMemos()
    assert(incDirs() === before, "eviction deletes the index directory")
  }
}
