package graft

import graft.functions.{Dedup, HashFunctions, SignatureUnion}
import graft.sources.Snapshot
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Property-based tests (SURVEY §5 test plan: envelope round-trip and
  * partitioning-equivalence properties). The scalatest/scalacheck
  * bridge artifact isn't in the offline cache, so generators are
  * sampled directly. */
class PropertySpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  private def forAll[A, B, C](ga: Gen[A], gb: Gen[B], gc: Gen[C])(
      f: (A, B, C) => Unit): Unit =
    samples(Gen.zip(ga, gb, gc), 60).foreach { case (a, b, c) => f(a, b, c) }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    samples(Gen.zip(ga, gb), 20).foreach { case (a, b) => f(a, b) }

  private def forAll[A](ga: Gen[A])(f: A => Unit): Unit =
    samples(ga, 20).foreach(f)

  private def whenever(cond: Boolean)(body: => Unit): Unit =
    if (cond) body

  test("splitter: full coverage, no overlap, ordered, for arbitrary domains") {
    forAll(Gen.chooseNum(-100000L, 100000L), Gen.chooseNum(0L, 100000L),
      Gen.chooseNum(1, 64)) { (min: Long, span: Long, n: Int) =>
      val max = min + span
      val r = Snapshot.splitRanges(min, max, n)
      assert(r.nonEmpty)
      assert(r.head._1 === min && r.last._2 === max)
      assert(r.forall { case (lo, hi) => lo <= hi })
      assert(r.sliding(2).forall {
        case Seq(a, b) => a._2 + 1 == b._1
        case _ => true
      })
      assert(r.length === math.min(n.toLong, span + 1))
    }
  }

  test("splitter: splitLimit bounds every split's key-space width") {
    forAll(Gen.chooseNum(0L, 10000L), Gen.chooseNum(1L, 500L),
      Gen.chooseNum(1, 8)) { (span: Long, limit: Long, n: Int) =>
      val r = Snapshot.splitRanges(0, span, n, splitLimit = limit)
      // the limit only triggers when needed; when it does, widths comply
      if (span + 1 > limit * n)
        assert(r.forall { case (lo, hi) => hi - lo + 1 <= limit })
    }
  }

  test("rolling hash: expression agrees with reference on arbitrary strings") {
    val sparkS = spark
    import sparkS.implicits._
    forAll(Gen.listOfN(20, Gen.asciiPrintableStr)) { (ss: List[String]) =>
      whenever(ss.nonEmpty) {
        val got = ss.toDF("s")
          .select(HashFunctions.rolling_hash(col("s")))
          .collect().map(_.getLong(0)).toSeq
        assert(got === ss.map(HashFunctions.rollingHashRef(_)))
      }
    }
  }

  test("minhash union property: sig(A∪B) = elementwiseMin(sig(A), sig(B))") {
    val sparkS = spark
    import sparkS.implicits._
    val words = Gen.listOfN(12,
      Gen.oneOf("spark", "row", "scan", "join", "agg", "sort", "key",
        "col", "map", "part"))
    forAll(words, words) { (wa: List[String], wb: List[String]) =>
      whenever(wa.size > 1 && wb.size > 1) {
        val docs = Seq((1L, wa.mkString(" "), "s"),
          (2L, wb.mkString(" "), "s"),
          (3L, (wa ++ wb).mkString(" "), "s"))
          .toDF("doc_id", "text", "source")
        val signed = Dedup.withSignature(Dedup.withShingleHashes(docs))
          .select("doc_id", "signature").collect()
          .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
        // A∪B's bigram set isn't exactly bigrams(A)∪bigrams(B) (the seam
        // bigram differs), so check the union property on the aggregator
        val unioned = SignatureUnion.merge(signed(1L).toArray.clone(),
          signed(2L).toArray)
        val expected = signed(1L).zip(signed(2L)).map {
          case (a, b) => math.min(a, b)
        }
        assert(unioned.toSeq === expected)
      }
    }
  }

  test("avro codec: arbitrary maps and strings survive the roundtrip") {
    val sparkS = spark
    import sparkS.implicits._
    import graft.functions.{AvroCodec, Envelope}
    import org.apache.spark.sql.functions.{col, struct}
    val genStr = Gen.oneOf(Gen.alphaNumStr,
      Gen.const(""), Gen.const("日本語 🎉 \t\n"))
    val genRow = for {
      db <- genStr; tbl <- genStr
      tid <- Gen.chooseNum(Int.MinValue, Int.MaxValue)
      strs <- Gen.mapOfN(3, Gen.zip(Gen.identifier, genStr))
      longs <- Gen.mapOfN(3, Gen.zip(Gen.identifier,
        Gen.chooseNum(Long.MinValue, Long.MaxValue)))
    } yield (db, tbl, tid, strs, longs)
    val rows = samples(genRow, 40)
    val df = rows.toDF("database", "tbl", "table_id", "strings", "longs")
      .withColumn("integers",
        org.apache.spark.sql.functions.expr("map()").cast("map<string,int>"))
      .withColumn("pk", org.apache.spark.sql.functions.lit(null)
        .cast("string"))
      .withColumn("record", struct(col("database"), col("tbl"),
        col("table_id"), col("pk"), col("integers"), col("strings"),
        col("longs")))
    val back = df.withColumn("bin",
        AvroCodec.encode(col("record"), Envelope.genericSchemaV1))
      .select(AvroCodec.decode(col("bin"), Envelope.genericSchemaV1,
        Envelope.genericStructV1).as("d"))
      .select("d.database", "d.tbl", "d.table_id", "d.strings", "d.longs")
      .collect()
    rows.zip(back).foreach { case ((db, tbl, tid, strs, longs), r) =>
      assert(r.getString(0) === db)
      assert(r.getString(1) === tbl)
      assert(r.getInt(2) === tid)
      assert(r.getAs[Map[String, String]](3) === strs)
      assert(r.getAs[Map[String, Long]](4) === longs)
    }
  }

  test("TSV wire format: arbitrary fields (incl null/\\N/tabs) roundtrip") {
    import graft.sources.ChangeLogSource
    // strings with the full hazard set: tabs, newlines, CRs,
    // backslashes, the \N sentinel itself, empty, unicode
    val hazard = Gen.oneOf(
      Gen.asciiPrintableStr,
      Gen.oneOf("", "\\N", "\\\\N", "a\tb", "x\ny", "r\rs", "tail\\",
        "héllo\t wörld", "\\t not a tab"),
      Gen.option(Gen.asciiPrintableStr).map(_.orNull))
    def parse(line: String): (String, String, String) = {
      val f = line.split("\t", -1)
      assert(f.length === 7, s"field count stable for: $line")
      def str(s: String) =
        if (s == ChangeLogSource.NullField) null
        else ChangeLogSource.unescape(s)
      (str(f(3)), str(f(4)), str(f(6)))
    }
    forAll(hazard, hazard, hazard) { (op, pk, value) =>
      val line =
        ChangeLogSource.renderLine(1L, 2L, "mutation", op, pk, 3L, value)
      assert(!line.contains('\n') && !line.contains('\r'),
        "rendered line never breaks the newline framing")
      val (o, p, v) = parse(line)
      assert(o === op && p === pk && v === value,
        s"roundtrip for (${Option(op)}, ${Option(pk)}, ${Option(value)})")
    }
  }

  test("tx pipeline invariants over random event sequences") {
    import graft.streaming.TxPipeline
    import graft.streaming.TxPipeline.{ChangeEvent, emptyState}
    val genKind = Gen.frequency((5, "mutation"), (2, "begin"),
      (2, "commit"), (1, "rollback"))
    val genSeqs = Gen.listOfN(30, genKind)
    samples(genSeqs, 40).foreach { kinds =>
      val events = kinds.zipWithIndex.map { case (k, i) =>
        ChangeEvent(1, i + 1L, k, "update", s"pk$i", i * 10L, Map())
      }
      val (st, out) = TxPipeline.advance(1, events, emptyState)
      val mutationSeqs = events.filter(_.kind == "mutation").map(_.seq).toSet
      // emitted mutations are a subset of input mutations, no dupes
      assert(out.map(_.seq).distinct.length === out.length)
      assert(out.forall(m => mutationSeqs.contains(m.seq)))
      // every tx-grouped output shares its tx's single commit ts
      out.groupBy(_.txid).foreach { case (_, ms) =>
        assert(ms.map(_.commitTsUs).distinct.length === 1)
      }
      // buffer only survives for an open tx
      assert(st.open || st.buffer.isEmpty)
      // replay determinism
      val (st2, out2) = TxPipeline.advance(1, events, emptyState)
      assert(out2 === out && st2 === st)
    }
  }

  test("signature union aggregator distributes over a grouped corpus") {
    val sparkS = spark
    import sparkS.implicits._
    val docs = Tables.documents(spark, sf).limit(40)
    val signed = Dedup.withSignature(Dedup.withShingleHashes(docs))
      .select(col("source"), col("signature"))
    val grouped = signed.as[(String, Seq[Long])]
      .groupByKey(_._1).mapValues(_._2)
      .agg(SignatureUnion.column.name("corpus_sig"))
      .collect().toMap
    // driver-side reference union per group
    val ref = signed.as[(String, Seq[Long])].collect()
      .groupBy(_._1).map { case (s, rows) =>
        s -> rows.map(_._2).reduce((a, b) =>
          a.zip(b).map(t => math.min(t._1, t._2)))
      }
    ref.foreach { case (s, sig) =>
      assert(grouped(s).toSeq === sig.toSeq, s"group $s")
    }
  }

  test("latest-image stream = batch fold for random histories and batchings") {
    val sparkS = spark
    import sparkS.implicits._
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.{ImageChange, ImageUpdate}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val genEvent = for {
      pk <- Gen.chooseNum(1, 5)
      ts <- Gen.chooseNum(1L, 40L)
      seq <- Gen.chooseNum(1L, 1000L)
      op <- Gen.oneOf("insert", "update", "delete")
      v <- Gen.chooseNum(0, 99)
    } yield ImageChange(pk.toString, ts, seq, op, v.toDouble)
    // few iterations — each spins up a streaming query
    samples(Gen.zip(Gen.listOfN(30, genEvent), Gen.chooseNum(1, 5)), 4)
      .zipWithIndex.foreach { case ((events, nBatches), i) =>
        val input = MemoryStream[ImageChange](spark)
        val q = StreamOps.latestImageStream(input.toDS())
          .writeStream.format("memory").queryName(s"plimg$i")
          .outputMode("append").start()
        try {
          events.grouped(math.max(1, events.length / nBatches))
            .foreach { b => input.addData(b); q.processAllAvailable() }
          val updates = spark.table(s"plimg$i").as[ImageUpdate].collect()
          val streamed = updates.groupBy(_.pk).map { case (pk, us) =>
            pk -> { val u = us.maxBy(u => (u.tsUs, u.seq))
              (u.tsUs, u.seq, u.op, u.value) }
          }
          // batch fold: max (ts, seq) per pk wins — ties on (ts, seq)
          // are duplicate positions, i.e. redelivery of the same record
          val expected = events.groupBy(_.pk).map { case (pk, es) =>
            pk -> { val e = es.maxBy(e => (e.tsUs, e.seq))
              (e.tsUs, e.seq, e.op, e.value) }
          }
          expected.foreach { case (pk, (ts, seq, op, _)) =>
            val s = streamed.get(pk)
            assert(s.isDefined, s"pk $pk never surfaced")
            assert(s.get._1 === ts && s.get._2 === seq && s.get._3 === op,
              s"pk $pk final image diverged: $s vs ($ts,$seq,$op)")
          }
          // emission monotonicity: per pk, updates advance strictly
          updates.groupBy(_.pk).foreach { case (_, us) =>
            val ordered = us.sortBy(u => (u.tsUs, u.seq)).toSeq
            assert(ordered.map(u => (u.tsUs, u.seq)).distinct.length ===
              ordered.length, "no duplicate emission per position")
          }
        } finally q.stop()
      }
  }

  test("prefix jaccard: lossless vs brute force on random corpora") {
    val sparkS = spark
    import sparkS.implicits._
    // tiny vocabulary → gram collisions across unrelated docs are
    // common, stressing the frequency-ordered prefix math; appended
    // exact duplicates guarantee qualifying pairs exist
    val vocab = Vector("alpha", "beta", "gamma", "delta")
    val genDoc = Gen.chooseNum(0, 25)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab))).map(_.mkString(" "))
    val genCorpus = Gen.chooseNum(3, 18).flatMap(n => Gen.listOfN(n, genDoc))
    samples(genCorpus, 5).foreach { base =>
      val texts = base ++ base.take(2) // planted exact duplicates
      val df = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = Dedup.prefixJaccardPairs(df).collect()
        .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
      val sets = texts.zipWithIndex.map { case (t, i) =>
        i.toLong -> t.split("\\s+", -1)
          .sliding(4).filter(_.length == 4).map(_.mkString(" ")).toSet
      }.filter(_._2.nonEmpty)
      val expected = (for {
        (d1, s1) <- sets; (d2, s2) <- sets if d1 < d2
        i = (s1 & s2).size
        if i > 0 && i.toDouble / (s1.size + s2.size - i) >= 0.5
      } yield (d1, d2)).toSet
      assert(got === expected,
        s"prefix filter lost or invented pairs on: ${texts.take(3)}…")
    }
  }

  test("bigram jaccard via prefix filter: lossless vs brute force, " +
      "blocked by source") {
    val sparkS = spark
    import sparkS.implicits._
    // bigram vocabulary saturates by construction (4 words → ≤16
    // bigrams), the regime where the raw gram join went all-pairs —
    // the prefix+length+positional prunes must stay lossless there
    val vocab = Vector("alpha", "beta", "gamma", "delta")
    val genDoc = Gen.chooseNum(0, 25)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab))).map(_.mkString(" "))
    val genRow = for {
      t <- genDoc; s <- Gen.oneOf("web", "book")
    } yield (t, s)
    val genCorpus = Gen.chooseNum(3, 18).flatMap(n => Gen.listOfN(n, genRow))
    samples(genCorpus, 5).foreach { base =>
      val rows = base ++ base.take(2) // planted exact duplicates
      val df = rows.zipWithIndex
        .map { case ((t, s), i) => (i.toLong, t, s) }
        .toDF("doc_id", "text", "source")
      val got = Dedup.ngramJaccardPairs(df, 1, 5).collect()
        .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2")) ->
          r.getAs[Long]("n_common")).toMap
      val sets = rows.zipWithIndex.map { case ((t, s), i) =>
        (i.toLong, s, t.split("\\s+", -1)
          .sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet)
      }.filter(_._3.nonEmpty)
      val expected = (for {
        (d1, src1, s1) <- sets; (d2, src2, s2) <- sets
        if d1 < d2 && src1 == src2
        i = (s1 & s2).size
        if i > 0 && i.toDouble / (s1.size + s2.size - i) >= 0.2
      } yield (d1, d2) -> i.toLong).toMap
      assert(got === expected,
        s"bigram prefix filter lost or invented pairs on: ${rows.take(3)}…")
    }
  }

  test("budget allocation: Σalloc = B exactly, fair to the floor, " +
    "for arbitrary corpora") {
    val sparkS = spark
    import sparkS.implicits._
    val genDoc = for {
      n <- Gen.chooseNum(1, 30)
      toks <- Gen.listOfN(n, Gen.oneOf("a", "bb", "ccc"))
      src <- Gen.chooseNum(1, 5).map(i => s"s$i")
    } yield (toks.mkString(" "), src)
    val genCorpus = Gen.chooseNum(2, 40).flatMap(n => Gen.listOfN(n, genDoc))
    samples(genCorpus, 8).foreach { rows =>
      val df = rows.zipWithIndex.map { case ((t, s), i) =>
        (i.toLong, t, "en", s, t.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
      val out = graft.functions.TrainPrep.budgetAllocation(df).collect()
      val w = rows.groupBy(_._2).view
        .mapValues(_.map(_._1.split(" ").length.toLong).sum).toMap
      val totalW = w.values.sum
      val b = totalW / 3
      assert(out.map(_.getAs[Long]("alloc")).sum === b,
        s"Σalloc must be exactly B=$b")
      out.foreach { r =>
        val src = r.getString(0)
        assert(r.getAs[Long]("w_tok") === w(src))
        val floor = b * w(src) / totalW
        val alloc = r.getAs[Long]("alloc")
        assert(alloc === floor || alloc === floor + 1,
          s"$src: alloc $alloc outside [floor, floor+1]")
      }
    }
  }

  test("version diff: statuses partition both versions, for random edits") {
    val sparkS = spark
    import sparkS.implicits._
    val genRow = for {
      id <- Gen.chooseNum(0L, 30L)
      txt <- Gen.oneOf("t1", "t2", "t3")
    } yield (id, txt)
    val genVer = Gen.chooseNum(0, 25)
      .flatMap(n => Gen.listOfN(n, genRow))
      .map(_.distinctBy(_._1)) // doc_id is a key within a version
    samples(Gen.zip(genVer, genVer), 8).foreach { case (r1, r2) =>
      def df(rs: Seq[(Long, String)]) = rs.map { case (id, t) =>
        (id, t, "s" + (id % 3), t.length.toLong)
      }.toDF("doc_id", "text", "source", "n_chars")
      val out = graft.functions.CorpusOps.versionDiff(df(r1), df(r2))
        .collect()
      val by = out.groupBy(_.getString(1)).view
        .mapValues(_.map(_.getAs[Long]("n_docs")).sum)
        .toMap.withDefaultValue(0L)
      val m1 = r1.toMap; val m2 = r2.toMap
      assert(by("removed") === m1.keySet.diff(m2.keySet).size.toLong)
      assert(by("added") === m2.keySet.diff(m1.keySet).size.toLong)
      val common = m1.keySet & m2.keySet
      assert(by("same") === common.count(k => m1(k) == m2(k)).toLong)
      assert(by("changed") === common.count(k => m1(k) != m2(k)).toLong)
    }
  }

  test("typed avro wire: arbitrary decimal/date/timestamp/binary cells roundtrip") {
    import graft.functions.{AvroCodec, SpecificEnvelope}
    import org.apache.spark.sql.types._
    val sparkS = spark
    import sparkS.implicits._
    val fields = Seq(
      StructField("id", LongType),
      StructField("dec", DecimalType(20, 4)),
      StructField("day", DateType),
      StructField("ts", TimestampType),
      StructField("blob", BinaryType))
    val schemaJson =
      SpecificEnvelope.schemaFor("testdb", "fuzz", "insert", fields)
    val rowGen = Gen.zip(
      // unscaled values across sign/magnitude, incl. > 2^63 / 10^4
      Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2),
      Gen.chooseNum(-719162, 2932896), // date range 0001..9999
      Gen.chooseNum(-62135596800000000L, 253402300799000000L),
      Gen.listOfN(12, Gen.chooseNum(Byte.MinValue, Byte.MaxValue)))
    val rows = samples(rowGen, 200).zipWithIndex.map {
      case ((unscaled, days, micros, bytes), i) =>
        (i.toLong, BigDecimal(BigInt(unscaled), 4), // ≤19 digits < p=20
          java.time.LocalDate.ofEpochDay(days.toLong),
          java.time.Instant.EPOCH.plusNanos(micros * 1000L),
          bytes.map(_.toByte).toArray)
    }
    val df = rows.toDF("id", "dec", "day", "ts", "blob")
      .select(col("id"), col("dec").cast(DecimalType(20, 4)).as("dec"),
        col("day"), col("ts"), col("blob"))
    val rt = df
      .withColumn("rec", struct(fields.map(f => col(f.name)): _*))
      .withColumn("bin", AvroCodec.encode(col("rec"), schemaJson))
      .withColumn("dec2",
        AvroCodec.decode(col("bin"), schemaJson, StructType(fields)))
      .select(col("dec2.id").as("id"), col("dec2.dec").as("dec"),
        col("dec2.day").as("day"), col("dec2.ts").as("ts"),
        col("dec2.blob").as("blob"))
    val a = df.orderBy("id").collect()
    val b = rt.orderBy("id").collect()
    assert(a.length === b.length)
    a.zip(b).foreach { case (x, y) =>
      assert(x.getLong(0) === y.getLong(0))
      assert(x.getDecimal(1) === y.getDecimal(1), s"decimal ${x.getLong(0)}")
      assert(x.getDate(2) === y.getDate(2), s"date ${x.getLong(0)}")
      assert(x.getTimestamp(3) === y.getTimestamp(3), s"ts ${x.getLong(0)}")
      assert(x.getAs[Array[Byte]](4).toSeq === y.getAs[Array[Byte]](4).toSeq)
    }
  }

  test("greedy packing fold: invariants hold for arbitrary corpora") {
    import graft.functions.TrainPrep
    val docsGen = Gen.listOf(Gen.zip(
      Gen.chooseNum(0L, 7L), Gen.chooseNum(1L, 40L)))
    forAll(docsGen, Gen.chooseNum(8, 64)) { (docs, cap) =>
      whenever(docs.nonEmpty) {
        val sorted = docs.zipWithIndex
          .map { case ((sh, tok), i) => (i.toLong, sh, tok) }
          .sortBy { case (id, sh, _) => (sh, id) }
        val bins = TrainPrep.packFold(sorted.iterator, cap).toList
        // every doc in exactly one bin; all tokens charged
        assert(bins.map(_._3).sum === sorted.length.toLong)
        assert(bins.map(_._4).sum === sorted.map(_._3).sum)
        // capacity respected except singleton-oversize bins
        bins.foreach { case (_, _, n, tok) =>
          assert(tok <= cap || n === 1L)
        }
        bins.groupBy(_._1).foreach { case (sh, bs) =>
          // bins contiguous from 0 within each shard
          assert(bs.map(_._2) === (0L until bs.length.toLong).toList)
          // greedy-maximality: a closed bin could not have absorbed
          // the NEXT bin's first doc (recompute first docs from input)
          val toks = sorted.filter(_._2 == sh).map(_._3)
          val firstTok = bs.map(_._3).scanLeft(0L)(_ + _).dropRight(1)
            .map(off => toks(off.toInt))
          bs.map(_._4).zip(firstTok.drop(1)).foreach {
            case (fill, nextFirst) => assert(fill + nextFirst > cap)
          }
        }
      }
    }
  }

  // ── connected components vs a union-find reference ──────────────────
  // Shapes over k node slots (edges as slot pairs): long chains need
  // many propagation hops, stars one, cycles close on themselves.
  private def chain(k: Int) = (1 until k).map(i => (i - 1, i))
  private def star(k: Int) = (1 until k).map(i => (0, i))
  private def cycle(k: Int) = (0 until k).map(i => (i, (i + 1) % k))

  /** Disjoint pieces relabeled to shuffled, spaced ids, with each
    * edge's orientation and the edge order shuffled too — so the
    * component minimum sits anywhere in its piece. */
  private def scatter(pieces: Seq[Seq[(Int, Int)]], seed: Long)
      : Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    var next = 0
    val slots = pieces.flatMap { p =>
      val base = next
      next += p.flatMap(e => Seq(e._1, e._2)).max + 1
      p.map { case (a, b) => (base + a, base + b) }
    }
    val ids = rnd.shuffle((0 until next).map(_ * 7L + 3L))
    rnd.shuffle(slots.map { case (a, b) =>
      if (rnd.nextBoolean()) (ids(a), ids(b)) else (ids(b), ids(a))
    })
  }

  /** node → minimum id of its component, by a plain union-find. */
  private def componentMins(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    parent.keys.toSeq.groupBy(find).values
      .flatMap(ns => ns.map(_ -> ns.min)).toMap
  }

  /** Labels and recorded round count of one connectedComponents call
    * over `edges` laid out in `parts` pair partitions. */
  private def ccRun(edges: Seq[(Long, Long)], parts: Int)
      : (Map[Long, Long], Int) = {
    val sparkS = spark
    import sparkS.implicits._
    graft.util.Counters.drain()
    val labels = Dedup.connectedComponents(
      edges.toDF("d1", "d2").repartition(parts))
      .as[(Long, Long)].collect().toMap
    (labels, graft.util.Counters.drain()("rounds.cc").toInt)
  }

  test("connected components: label = component minimum on random " +
    "chains, stars, cycles and disjoint pieces, in 1 and 4 partitions") {
    val piece = for {
      shape <- Gen.chooseNum(0, 2)
      k <- Gen.chooseNum(3, 40)
    } yield shape match {
      case 0 => chain(k)
      case 1 => star(k)
      case _ => cycle(k)
    }
    val graph = for {
      n <- Gen.chooseNum(1, 6)
      pieces <- Gen.listOfN(n, piece)
      seed <- Gen.long
    } yield scatter(pieces, seed)
    samples(graph, 6).foreach { edges =>
      val truth = componentMins(edges)
      val (one, oneRounds) = ccRun(edges, 1)
      assert(one === truth, "one pair partition")
      // one partition: the seed's union-find is already exact, so the
      // first round changes nothing and the loop stops there
      assert(oneRounds === 1, "one pair partition converges in one round")
      val (four, _) = ccRun(edges, 4)
      assert(four === truth, "four pair partitions")
    }
  }

  test("connected components: a one-partition chain takes one round; " +
    "split over partitions the loop closes the cross links") {
    val edges = scatter(Seq(chain(64)), seed = 11L)
    val truth = componentMins(edges)
    assert(truth.values.toSet.size === 1)
    val (one, oneRounds) = ccRun(edges, 1)
    assert(one === truth)
    assert(oneRounds === 1, "cc rounds for a one-partition chain")
    val (split, splitRounds) = ccRun(edges, 4)
    assert(split === truth)
    assert(splitRounds > 1, "the loop does real cross-partition work")
  }
}
