package graft

import graft.functions.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf)

  /** Fixture with known duplicates: real docs plus planted copies. */
  private lazy val planted = {
    val copies = docs.filter(col("doc_id") < 5)
      .withColumn("doc_id", col("doc_id") + 10000)
    val nearCopy = docs.filter(col("doc_id") === 7)
      .withColumn("doc_id", lit(20007L))
      .withColumn("text", concat(col("text"), lit(" extra tail words here")))
    docs.unionByName(copies).unionByName(nearCopy)
  }

  test("exact dedup finds planted exact copies and nothing else") {
    val groups = Dedup.exactDuplicates(planted)
    assert(groups.filter(col("group_size") === 2).count() === 5)
    assert(groups.filter(col("group_size") > 2).count() === 0)
    // keeper is the original (smaller) id
    assert(groups.filter(col("group_size") === 2)
      .filter(col("keeper") >= 10000).count() === 0)
  }

  test("bigram shingle sets are distinct per doc and non-empty") {
    val sh = Dedup.bigramSets(docs.limit(50))
    assert(sh.groupBy("doc_id", "bigram").count()
      .filter(col("count") > 1).count() === 0)
    assert(sh.select("doc_id").distinct().count() === 50)
  }

  test("minhash signature: identical docs agree, planted near-dup mostly agrees") {
    val signed = Dedup.withSignature(Dedup.withShingleHashes(planted))
      .select(col("doc_id"), col("signature"))
    val sig = signed.filter(col("doc_id").isin(7, 20007, 0, 10000))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Long](1)).toMap
    assert(sig(0L) === sig(10000L), "exact copy → identical signature")
    val agree7 = sig(7L).zip(sig(20007L)).count { case (a, b) => a == b }
    assert(agree7 >= Dedup.MinHashK / 2,
      s"near-dup should agree on most minhashes, got $agree7/${Dedup.MinHashK}")
  }

  test("minhash LSH recalls exact and near duplicates, verified by jaccard") {
    val pairs = Dedup.minhashDuplicatePairs(planted, 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 5).foreach { i =>
      assert(pairs.contains((i.toLong, i + 10000L)),
        s"exact copy pair $i missing")
    }
    assert(pairs.contains((7L, 20007L)), "near-dup pair missing")
  }

  test("minhash recall gate: truth matches a driver brute force, flags green") {
    val row = Dedup.ddMinhashRecall(spark, sf).collect() match {
      case Array(r) => r
      case other => fail(s"gate must emit one row, got ${other.length}")
    }
    // independent truth: brute-force bigram Jaccard over the panel
    val sets = Tables.documents(spark, sf)
      .filter(col("doc_id") < Dedup.RecallPanelCap)
      .select("doc_id", "text").collect()
      .map { r =>
        val toks = r.getString(1).split("\\s+").filter(_.nonEmpty)
        r.getLong(0) -> toks.sliding(2).filter(_.length == 2)
          .map(p => p(0) + " " + p(1)).toSet
      }.filter(_._2.nonEmpty)
    val truth = for {
      (i, si) <- sets; (j, sj) <- sets if i < j
      inter = (si & sj).size
      if inter.toDouble / (si.size + sj.size - inter) >= 0.2
    } yield (i, j)
    assert(row.getAs[Long]("n_true_pairs") === truth.length.toLong)
    assert(row.getAs[Boolean]("recall_ok"), "LSH recall collapsed")
    assert(row.getAs[Boolean]("subset_ok"), "LSH emitted a non-truth pair")
  }

  test("minhash groups: planted multi-doc cluster collapses to one keeper") {
    val sparkS = spark
    import sparkS.implicits._
    // extend the fixture with TWO more copies of doc 3 → a 4-member
    // cluster {3, 10003, 30003, 40003}; pairwise LSH pairs chain them
    val more = docs.filter(col("doc_id") === 3)
      .withColumn("doc_id", lit(30003L))
      .unionByName(docs.filter(col("doc_id") === 3)
        .withColumn("doc_id", lit(40003L)))
    val corpus = planted.unionByName(more)
    val labels = Dedup.connectedComponents(
      Dedup.minhashDuplicatePairs(corpus, 0.2).select("d1", "d2"))
      .as[(Long, Long)].collect().toMap
    // copies MUST co-cluster (the corpus may contribute extra members —
    // real near-dups exist in the documents table — so assert
    // membership, not exact cluster size)
    (0 until 5).foreach { i =>
      assert(labels(i.toLong) === labels(i + 10000L),
        s"copy pair $i clusters together")
    }
    assert(labels(7L) === labels(20007L), "near-dup pair clusters")
    assert(labels(3L) === labels(30003L) &&
      labels(3L) === labels(40003L), "multi-copy cluster is connected")
    // keeper selection: every group key is the minimum of its members
    val groups = Dedup.minhashDuplicateGroups(corpus, 0.2)
      .as[(Long, Long, String)].collect()
    groups.foreach { case (keeper, n, members) =>
      val ids = members.split(",").map(_.toLong)
      assert(ids.length === n.toInt && ids.min === keeper &&
        ids.toSeq === ids.sorted.toSeq,
        s"keeper $keeper is min of sorted members $members")
    }
    val clusterOf3 = groups.find(_._3.split(",").contains("3")).get
    assert(Seq("3", "10003", "30003", "40003")
      .forall(clusterOf3._3.split(",").contains),
      "all four copies of doc 3 share one cluster")
  }

  test("simhash: exact copies collide, near-dups land within hamming 16") {
    val s = Dedup.withSimhash(planted)
      .filter(col("doc_id").isin(7, 20007, 0, 10000))
      .select("doc_id", "simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s(0L) === s(10000L))
    val ham = java.lang.Long.bitCount(s(7L) ^ s(20007L))
    assert(ham <= 16, s"near-dup hamming was $ham")
  }

  test("simhash pairs on real corpus: hamming bounded, pairs deduped") {
    val p = Dedup.ddSimhash(spark, sf)
    assert(p.filter(col("hamming") > 3).count() === 0)
    assert(p.groupBy("d1", "d2").count().filter(col("count") > 1)
      .count() === 0)
    assert(p.count() > 0, "declared simhash query must not be vacuous")
  }

  test("banded simhash pairs EQUAL the all-pairs baseline (pigeonhole)") {
    val sparkS = spark
    import sparkS.implicits._
    for (radius <- Seq(1, 3, 7)) {
      val banded = Dedup.simhashPairsBanded(planted, radius)
        .select("d1", "d2", "hamming")
        .as[(Long, Long, Int)].collect().toSet
      val allPairs = Dedup.simhashPairsAllPairs(planted, radius)
        .select("d1", "d2", "hamming")
        .as[(Long, Long, Int)].collect().toSet
      assert(banded === allPairs,
        s"radius $radius: banded candidate generation must be lossless")
    }
  }

  test("ngram jaccard pairs are symmetric-free and within [0,1]") {
    val p = Dedup.ddNgramJaccard(spark, sf)
    assert(p.filter(col("d1") >= col("d2")).count() === 0)
    assert(p.filter(col("jaccard") < 0 || col("jaccard") > 1).count() === 0)
  }

  test("span dedup: planted shared span is flagged in both docs, only there") {
    val sparkS = spark
    import sparkS.implicits._
    val shared = "one two three four five" // 5-token span
    val docs = Seq(
      (10L, s"aaa bbb $shared ccc ddd"),
      (20L, s"xxx $shared yyy zzz www"),
      (30L, "completely different words with no overlap at all here"),
      (40L, "tiny")) // shorter than n → zero spans, zero dup_frac
      .toDF("doc_id", "text")
    val out = Dedup.spanDuplication(docs, 5).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq === Seq(10L, 20L, 30L, 40L))
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 10: tokens=9 → 5 spans; exactly one (the planted span,
    // starting at 'one') also occurs in doc 20
    assert(byId(10L).getAs[Long]("n_spans") === 5L)
    assert(byId(10L).getAs[Long]("n_dup_spans") === 1L)
    assert(byId(10L).getAs[Double]("dup_frac") === 0.2d)
    assert(byId(20L).getAs[Long]("n_dup_spans") === 1L)
    assert(byId(30L).getAs[Long]("n_dup_spans") === 0L)
    assert(byId(40L).getAs[Long]("n_spans") === 0L)
    assert(byId(40L).getAs[Double]("dup_frac") === 0.0d)
    // span-hash shuffles carry the 8-byte gram key, never gram strings,
    // and the plan contains no unblocked join shapes
    val p = Dedup.spanDuplication(docs, 5)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("span excision: planted passages are excised at exact token and " +
    "char offsets, maximal merge, residual reproduced") {
    val sparkS = spark
    import sparkS.implicits._
    // P: exactly n=8 shared tokens; Q: 12 shared tokens (5 consecutive
    // dup windows must MERGE into one maximal span); all filler tokens
    // globally unique so nothing else matches
    val P = (0 until 8).map(i => s"p$i").mkString(" ")
    val Q = (0 until 12).map(i => s"q$i").mkString(" ")
    def uniq(prefix: String, k: Int) =
      (0 until k).map(i => s"$prefix$i").mkString(" ")
    val docs = Seq(
      (0L, s"${uniq("u", 5)} $P ${uniq("v", 5)}"), // P at tokens [5,12]
      (1L, s"${uniq("w", 3)} $P ${uniq("x", 7)}"), // P at tokens [3,10]
      // TWO separate spans: P at [3,10], Q at [21,32] (gap 11 > n=8)
      (2L, s"${uniq("y", 3)} $P ${uniq("z", 10)} $Q ${uniq("t", 2)}"),
      (3L, s"m0 $Q ${uniq("r", 6)}"), // Q at tokens [1,12]
      (4L, uniq("only", 20))) // clean doc → zero spans, full residual
      .toDF("doc_id", "text")
    // independent reference on plain strings (same definitions, no
    // Spark HOFs): char start/end of an inclusive token range
    def toks(t: String) = t.split(" ")
    def startChar(t: String, s: Int) =
      if (s == 0) 0 else toks(t).take(s).mkString(" ").length + 1
    def endChar(t: String, e: Int) =
      toks(t).take(e + 1).mkString(" ").length
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val base = Dedup.spanExcision(docs, 8)
    val spans = base.select(col("doc_id"), expr("spans")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(s => (s.getInt(0), s.getInt(1)))).toMap
    assert(spans(0L) === Seq((5, 12)))
    assert(spans(1L) === Seq((3, 10)))
    assert(spans(2L) === Seq((3, 10), (21, 32)),
      "merge must be maximal and the far passage a separate span")
    assert(spans(3L) === Seq((1, 12)))
    assert(spans(4L) === Seq())
    // char offsets through the query surface
    val offs = Dedup.ddSpanExciseSpansFrom(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    for ((d, ss) <- spans; ((s, e), i) <- ss.zipWithIndex) {
      val (sTok, eTok, sCh, eCh) = offs((d, i + 1L))
      assert((sTok, eTok) === (s.toLong, e.toLong))
      assert(sCh === startChar(texts(d), s).toLong, s"doc $d span $i")
      assert(eCh === endChar(texts(d), e).toLong, s"doc $d span $i")
      // the char slice really is the planted passage
      val cut = texts(d).substring(sCh.toInt, eCh.toInt)
      assert(cut === toks(texts(d)).slice(s, e + 1).mkString(" "))
    }
    // per-doc summary: residual equals manual excision, hash included
    val sums = Dedup.ddSpanExciseFrom(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    for (d <- 0L to 4L) {
      val kept = toks(texts(d)).zipWithIndex
        .filterNot { case (_, i) =>
          spans(d).exists { case (s, e) => i >= s && i <= e } }
        .map(_._1).mkString(" ")
      val r = sums(d)
      assert(r.getAs[Long]("n_spans") === spans(d).length.toLong)
      assert(r.getAs[Long]("removed_tokens") ===
        spans(d).map { case (s, e) => e - s + 1 }.sum.toLong)
      assert(r.getAs[Long]("residual_len") === kept.length.toLong)
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(kept.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(r.getAs[String]("residual_hash") === md, s"doc $d residual")
    }
  }

  test("hot bucket: capped LSH join equals the uncapped pair set, blocks bounded") {
    val sparkS = spark
    import sparkS.implicits._
    // 60 identical docs share every LSH bucket in every band — the
    // degenerate boilerplate bucket; plus normal docs and a near-dup
    // pair that must still surface
    val boiler = (0 until 60).map(i =>
      (1000L + i, "the same boilerplate footer text repeated verbatim"))
    val normal = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "completely unrelated content about other things entirely"))
    val docs = (boiler ++ normal).toDF("doc_id", "text")
      .withColumn("source", lit("web"))
    val capped = functions.Dedup.minhashDuplicatePairs(docs, 0.2, bucketCap = 8)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val uncapped = functions.Dedup
      .minhashDuplicatePairs(docs, 0.2, bucketCap = Int.MaxValue)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(capped === uncapped, "triangle split must not lose or invent pairs")
    assert(capped.size >= 60 * 59 / 2, "the boilerplate clique must survive")
    // per-task bound: no (band, bucket, bi, bj) block may hold more than
    // ~2·cap rows (two hash-groups of expected size ≤ cap, with slack
    // for hash imbalance at this tiny n)
    val signed = functions.Dedup.withSignature(
      functions.Dedup.withShingleHashes(docs))
      .select("doc_id", "shingle_hashes", "signature")
    val buckets = functions.Dedup.lshBuckets(signed)
    val cap = 8
    val blockSizes = functions.Dedup
      .cappedBucketSelfJoin(buckets, "doc_id", Seq("band", "bucket"), cap)
      .select(col("a.band"), col("a.bucket"), col("a.__bi"), col("a.__bj"),
        col("a.doc_id"))
      .distinct() // distinct left-side rows per block
      .groupBy("band", "bucket", "__bi", "__bj").count()
      .agg(max("count")).as[Long].head()
    assert(blockSizes <= 4L * cap,
      s"a block holds $blockSizes rows — the cap is not bounding tasks")
  }

  test("incremental minhash: corpus hits drop, in-batch keeps the min id") {
    val sparkS = spark
    import sparkS.implicits._
    // corpus: ids 1-3; batch: 10 (dup of corpus 1), 20+21 (in-batch dup
    // pair), 30 (novel)
    val corpusDoc = "the quick brown fox jumps over the lazy dog again and again"
    val batchDup = "the quick brown fox jumps over the lazy dog again and again"
    val inBatch = "completely fresh content about distributed query engines at scale"
    val corpus = Seq(
      (1L, corpusDoc),
      (2L, "some unrelated corpus document with its own words"),
      (3L, "another corpus document that matches nothing in the batch"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, batchDup),
      (20L, inBatch),
      (21L, inBatch),
      (30L, "a genuinely novel document no other text resembles anywhere"))
      .toDF("doc_id", "text")
    val out = functions.Dedup.ddIncrementalVerdicts(corpus, batch, 0.2)
      .collect().map(r => r.getAs[Long]("batch_id") -> r).toMap
    assert(out.keySet === Set(10L, 20L, 21L, 30L))
    assert(!out(10L).getAs[Boolean]("keep"), "corpus dup drops")
    assert(out(10L).getAs[String]("best_side") === "corpus")
    assert(out(10L).getAs[Long]("best_match") === 1L)
    assert(out(10L).getAs[Double]("best_jaccard") === 1.0)
    assert(out(20L).getAs[Boolean]("keep"),
      "the min id of an in-batch dup group is the keeper")
    assert(!out(21L).getAs[Boolean]("keep"), "the larger in-batch id drops")
    assert(out(21L).getAs[String]("best_side") === "batch")
    assert(out(21L).getAs[Long]("best_match") === 20L)
    assert(out(30L).getAs[Boolean]("keep"), "novel docs survive")
    assert(out(30L).getAs[Long]("n_matches") === 0L)
  }

  test("prefix jaccard EQUALS the brute-force all-pairs join (lossless)") {
    val docs = Tables.documents(spark, sf)
    val got = Dedup.prefixJaccardPairs(docs).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2")) ->
        r.getAs[Long]("n_common")).toMap
    // brute force: every doc pair, full 4-gram set intersection, same
    // threshold (string grams — the hashes are collision-free stand-ins)
    val sets = docs.select("doc_id", "text").collect()
      .map { r =>
        val toks = r.getAs[String]("text").split("\\s+", -1)
        r.getAs[Long]("doc_id") ->
          toks.sliding(4).filter(_.length == 4).map(_.mkString(" ")).toSet
      }.filter(_._2.nonEmpty).toMap
    val expected = (for {
      (d1, s1) <- sets.toSeq; (d2, s2) <- sets.toSeq if d1 < d2
      i = (s1 & s2).size
      if i > 0 && i.toDouble / (s1.size + s2.size - i) >= 0.5
    } yield (d1, d2) -> i.toLong).toMap
    assert(got === expected,
      "prefix filtering must not lose (or invent) any qualifying pair")
    assert(got.nonEmpty, "threshold join must not be vacuous")
  }

  test("persisted gram index serves the jaccard join without the text column") {
    import graft.functions.GramIndex
    val docs = Tables.documents(spark, sf)
    val dir = tempDir("gram_index").toString
    GramIndex.saveIndex(docs, n = 4, dir)
    val fromDisk =
      Dedup.prefixJaccardPairsFromSets(GramIndex.loadNgramSets(spark, 4, dir))
        .orderBy("d1", "d2").collect().toSeq
    val inSession = Dedup.prefixJaccardPairs(docs)
      .orderBy("d1", "d2").collect().toSeq
    assert(fromDisk === inSession,
      "persistence changed the qualifying pair set")
    // the artifact's whole point: a run over the persisted index never
    // reads documents.text (ReadSchema carries only the set columns)
    val scans = Dedup
      .prefixJaccardPairsFromSets(GramIndex.loadNgramSets(spark, 4, dir))
      .queryExecution.executedPlan.toString
    assert(!scans.contains("text"), "text column leaked into the scan")
  }
}
