package graft

import java.sql.Timestamp

import graft.streaming.{StreamOps, WindowedAgg}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamOpsSpec extends SparkSpec {

  private def t(s: String) = Timestamp.valueOf(s)

  test("streaming dedupe heals at-least-once redelivery across batches") {
    val sparkS = spark
    import sparkS.implicits._
    val input = MemoryStream[(Long, Timestamp, String)](spark)
    val q = StreamOps.dedupeByPosition(
      input.toDS().toDF("seq", "ts", "pk"), "ts", "1 hour", Seq("seq"))
      .writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    try {
      input.addData((1L, t("2024-01-01 10:00:00"), "a"),
        (2L, t("2024-01-01 10:01:00"), "b"))
      q.processAllAvailable()
      // replay batch: same positions re-delivered + one new
      input.addData((1L, t("2024-01-01 10:00:00"), "a"),
        (2L, t("2024-01-01 10:01:00"), "b"),
        (3L, t("2024-01-01 10:02:00"), "c"))
      q.processAllAvailable()
      val seqs = spark.table("sdedup").select("seq").collect()
        .map(_.getLong(0)).sorted
      assert(seqs.toSeq === Seq(1L, 2L, 3L),
        "each position delivered exactly once")
    } finally q.stop()
  }

  test("stream-static enrichment broadcasts the dimension") {
    val sparkS = spark
    import sparkS.implicits._
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val input = MemoryStream[(Long, Double)](spark)
    val enriched = StreamOps.enrich(
      input.toDS().toDF("user_id", "value"), dim, "user_id")
    val q = enriched.writeStream.format("memory").queryName("senrich")
      .outputMode("append").start()
    try {
      input.addData((1L, 10.0), (2L, 20.0), (9L, 30.0))
      q.processAllAvailable()
      val rows = spark.table("senrich").collect()
        .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
      assert(rows === Map(1L -> Some("gold"), 2L -> Some("basic"),
        9L -> None), "left join keeps unmatched stream rows")
    } finally q.stop()
  }

  test("stream-stream interval join pairs events within the bound") {
    val sparkS = spark
    import sparkS.implicits._
    val clicks = MemoryStream[(Long, Timestamp)](spark)
    val buys = MemoryStream[(Long, Timestamp)](spark)
    val q = StreamOps.intervalJoin(
        clicks.toDS().toDF("user_id", "click_ts"),
        buys.toDS().toDF("user_id", "buy_ts"),
        "user_id", "click_ts", "buy_ts", "1 hour", 600)
      .select(col("l.user_id"), col("click_ts"), col("buy_ts"))
      .writeStream.format("memory").queryName("sjoin")
      .outputMode("append").start()
    try {
      clicks.addData((7L, t("2024-01-01 10:00:00")),
        (8L, t("2024-01-01 10:00:00")))
      buys.addData(
        (7L, t("2024-01-01 10:05:00")), // within 10 min → joins
        (8L, t("2024-01-01 11:30:00"))) // outside bound → dropped
      q.processAllAvailable()
      val rows = spark.table("sjoin").collect()
      assert(rows.length === 1)
      assert(rows.head.getLong(0) === 7L)
    } finally q.stop()
  }

  test("latest-image stream: upserts, tombstones, out-of-order, redelivery") {
    val sparkS = spark
    import sparkS.implicits._
    import StreamOps.{ImageChange, ImageUpdate}
    val input = MemoryStream[ImageChange](spark)
    val q = StreamOps.latestImageStream(input.toDS())
      .writeStream.format("memory").queryName("slatest")
      .outputMode("append").start()
    try {
      // batch 1: two inserts, one update
      input.addData(
        ImageChange("1", 100L, 1L, "insert", 10.0),
        ImageChange("2", 100L, 2L, "insert", 20.0),
        ImageChange("1", 200L, 3L, "update", 11.0))
      q.processAllAvailable()
      // batch 2: delete pk 2; OUT-OF-ORDER stale update for pk 1 (must
      // not regress the image); redelivery of (1, 200, 3) (must not
      // re-emit); new pk 3
      input.addData(
        ImageChange("2", 300L, 4L, "delete", 0.0),
        ImageChange("1", 150L, 9L, "update", 99.0), // stale: ts < 200
        ImageChange("1", 200L, 3L, "update", 11.0), // redelivered
        ImageChange("3", 300L, 5L, "insert", 30.0))
      q.processAllAvailable()
      // batch 3: post-delete update resurrects pk 2 (newer than tombstone)
      input.addData(ImageChange("2", 400L, 6L, "update", 21.0))
      q.processAllAvailable()
      val updates = spark.table("slatest").as[ImageUpdate].collect()
      // one update per key per batch, only on advance: batch 1
      // coalesces pk 1's insert+update into a single update@200 and
      // emits pk 2's insert; batch 2 emits pk 2's tombstone and pk 3's
      // insert (the stale + redelivered events emit NOTHING); batch 3
      // emits pk 2's resurrection
      assert(updates.length === 5, updates.mkString(", "))
      val finalByPk = updates.groupBy(_.pk).map { case (pk, us) =>
        pk -> us.maxBy(u => (u.tsUs, u.seq))
      }
      assert(finalByPk("1").value === 11.0 && !finalByPk("1").isDeleted)
      assert(finalByPk("2").value === 21.0 && !finalByPk("2").isDeleted)
      assert(finalByPk("3").value === 30.0 && !finalByPk("3").isDeleted)
      // independent batch fold over everything delivered
      val all = Seq(
        ("1", 100L, 1L, "insert", 10.0), ("2", 100L, 2L, "insert", 20.0),
        ("1", 200L, 3L, "update", 11.0), ("2", 300L, 4L, "delete", 0.0),
        ("1", 150L, 9L, "update", 99.0), ("3", 300L, 5L, "insert", 30.0),
        ("2", 400L, 6L, "update", 21.0))
      val expect = all.groupBy(_._1).map { case (pk, es) =>
        pk -> es.maxBy(e => (e._2, e._3))
      }
      expect.foreach { case (pk, e) =>
        assert(finalByPk(pk).value === e._5, s"pk $pk final image")
      }
    } finally q.stop()
  }

  test("latest-image stream: state survives a checkpointed restart") {
    val sparkS = spark
    import sparkS.implicits._
    import StreamOps.ImageChange
    val dir = tempDir("slimg").toString
    val input = MemoryStream[ImageChange](spark)
    def start() = StreamOps.latestImageStream(input.toDS())
      .writeStream.format("parquet")
      .option("path", s"$dir/data")
      .option("checkpointLocation", s"$dir/chk")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    input.addData(ImageChange("1", 100L, 1L, "insert", 10.0))
    val q1 = start(); q1.awaitTermination(60000); q1.stop()
    // after restart the stored state must still know image (100, 1):
    // the stale update below must emit nothing, the newer one must
    input.addData(
      ImageChange("1", 50L, 2L, "update", 5.0), // stale vs checkpointed
      ImageChange("1", 200L, 3L, "update", 11.0))
    val q2 = start(); q2.awaitTermination(60000); q2.stop()
    val rows = spark.read.parquet(s"$dir/data").collect()
      .map(r => (r.getAs[Long]("tsUs"), r.getAs[Double]("value")))
      .sortBy(_._1)
    assert(rows.toSeq === Seq((100L, 10.0), (200L, 11.0)),
      "one emission per true advance across the restart; stale dropped")
  }

  test("streaming CUSUM replays to the exact batch ev7 output") {
    val sparkS = spark
    import sparkS.implicits._
    val batch = graft.operators.RelationalFourth.ev7Cusum(spark, sf)
      .collect()
      .map(r => (StreamOps.DailyVolume(r.getAs[String]("event_type"),
        r.getAs[Long]("day"), r.getAs[Long]("n")),
        (r.getAs[Double]("cusum"), r.getAs[Boolean]("is_shift"))))
    val daily = batch.map(_._1)
    val days = daily.map(_.day).distinct.sorted
    val (cut1, cut2) = (days(days.length / 3), days(2 * days.length / 3))
    val input = MemoryStream[StreamOps.DailyVolume](spark)
    val q = StreamOps.cusumStream(input.toDS())
      .writeStream.format("memory").queryName("scusum")
      .outputMode("append").start()
    try {
      input.addData(daily.filter(_.day <= cut1).toSeq)
      q.processAllAvailable()
      // redeliver slice one alongside slice two (at-least-once source)
      input.addData(daily.filter(_.day <= cut2).toSeq)
      q.processAllAvailable()
      input.addData(daily.filter(_.day > cut2).toSeq)
      q.processAllAvailable()
      val got = spark.table("scusum").collect()
        .map(r => (r.getAs[String]("key"), r.getAs[Long]("day")) ->
          (r.getAs[Double]("cusum"), r.getAs[Boolean]("isShift")))
      assert(got.length === batch.length,
        "every batch point emitted exactly once, warm-up included")
      val expected = batch
        .map { case (d, v) => (d.key, d.day) -> v }.toMap
      got.foreach { case (k, v) =>
        assert(v === expected(k), s"streaming CUSUM diverges at $k")
      }
    } finally q.stop()
  }

  test("streaming EWMA replays to the exact batch ev6 output") {
    val sparkS = spark
    import sparkS.implicits._
    // the batch result doubles as input (key, day, n) and expectation
    val batch = graft.operators.RelationalFourth.ev6Ewma(spark, sf)
      .collect()
      .map(r => (StreamOps.DailyVolume(r.getAs[String]("event_type"),
        r.getAs[Long]("day"), r.getAs[Long]("n")),
        r.getAs[Double]("ewma")))
    val daily = batch.map(_._1)
    val days = daily.map(_.day).distinct.sorted
    val (cut1, cut2) = (days(days.length / 3), days(2 * days.length / 3))
    val input = MemoryStream[StreamOps.DailyVolume](spark)
    val q = StreamOps.ewmaStream(input.toDS(), 0.25)
      .writeStream.format("memory").queryName("sewma")
      .outputMode("append").start()
    try {
      input.addData(daily.filter(_.day <= cut1).toSeq)
      q.processAllAvailable()
      // second batch RE-DELIVERS the first slice (at-least-once source)
      input.addData(daily.filter(_.day <= cut2).toSeq)
      q.processAllAvailable()
      input.addData(daily.filter(_.day > cut2).toSeq)
      q.processAllAvailable()
      val got = spark.table("sewma").collect()
        .map(r => (r.getAs[String]("key"), r.getAs[Long]("day")) ->
          r.getAs[Double]("ewma"))
      assert(got.length === batch.length,
        "exactly one point per (key, day) despite redelivery")
      val expected = batch
        .map { case (d, e) => (d.key, d.day) -> e }.toMap
      got.foreach { case (k, e) =>
        assert(e === expected(k), s"streaming EWMA diverges at $k")
      }
    } finally q.stop()
  }

  test("streaming ingest gate equals the batch corpus-match path") {
    val sparkS = spark
    import sparkS.implicits._
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (101L, "totally different content words appearing nowhere else"))
      .toDF("doc_id", "text")
    val batchDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "unrelated ingest content sharing no shingles at all"))
    val input = MemoryStream[(Long, String)](spark)
    val q = StreamOps.streamingNearDupMatches(
      input.toDF().toDF("doc_id", "text"), corpus, 0.2)
      .writeStream.format("memory").queryName("ingate")
      .outputMode("append").start()
    try {
      input.addData(batchDocs: _*)
      q.processAllAvailable()
      val first = spark.table("ingate").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // the batch path's corpus-side matches on the same slice
      val ref = graft.functions.Dedup.incrementalMinhashMatches(
        corpus, batchDocs.toDF("doc_id", "text"), 0.2)
        .filter(col("matched_in") === "corpus")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
      assert(first.toSet === ref,
        "streaming gate must equal the batch corpus-match set")
      assert(ref.exists(_._1 == 1L), "the planted dup must match")
      // redelivery: the gate is stateless, so the same doc re-emits the
      // same matches (at-least-once) and nothing else
      input.addData(batchDocs.head)
      q.processAllAvailable()
      val all = spark.table("ingate").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(all.toSet === ref, "redelivery adds no new match identities")
      assert(all.length > first.length, "redelivered doc re-emits")
    } finally q.stop()
  }
  test("t14 gate: event-ordered stream replay emits the batch pair set") {
    val sparkS = spark
    import sparkS.implicits._
    val ev = Tables.events(spark, sf)
    val clickRows = ev.filter(col("event_type") === "click")
      .select("user_id", "ts").orderBy("ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)))
    val buyRows = ev.filter(col("event_type") === "purchase")
      .select("user_id", "ts").orderBy("ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)))
    val clicks = MemoryStream[(Long, Timestamp)](spark)
    val buys = MemoryStream[(Long, Timestamp)](spark)
    val q = StreamOps.intervalJoin(
        clicks.toDS().toDF("user_id", "c_ts"),
        buys.toDS().toDF("user_id", "p_ts"),
        "user_id", "c_ts", "p_ts", "1 hour", 1800L)
      .select(col("l.user_id").as("user_id"), col("c_ts"), col("p_ts"))
      .writeStream.format("memory").queryName("t14replay")
      .outputMode("append").start()
    try {
      // replay both sides in event-time order, three chunks each, so
      // watermarks advance and earlier join state is eligible for
      // cleanup while later pairs still form
      val cChunks = clickRows.grouped(1 + clickRows.length / 3).toSeq
      val bChunks = buyRows.grouped(1 + buyRows.length / 3).toSeq
      cChunks.zipAll(bChunks, Array.empty[(Long, Timestamp)],
        Array.empty[(Long, Timestamp)]).foreach { case (c, b) =>
        if (c.nonEmpty) clicks.addData(c.toSeq)
        if (b.nonEmpty) buys.addData(b.toSeq)
        q.processAllAvailable()
      }
      val got = spark.table("t14replay").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)))
        .toSet
      val want = StreamOps.intervalJoin(
          ev.filter(col("event_type") === "click")
            .select(col("user_id"), col("ts").as("c_ts")),
          ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts").as("p_ts")),
          "user_id", "c_ts", "p_ts", "1 hour", 1800L)
        .select(col("l.user_id").as("user_id"), col("c_ts"), col("p_ts"))
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)))
        .toSet
      assert(want.nonEmpty, "fixture should produce at least one pair")
      assert(got === want,
        "streamed pairs must equal the batch gate's pairs")
    } finally q.stop()
  }

  test("t16 gate: batch dedupe equals DISTINCT on a redelivered feed") {
    import org.apache.spark.sql.functions._
    val out = WindowedAgg.t16StreamDedup(spark, sf).collect()
    val ev = Tables.events(spark, sf)
    val want = ev.select("event_id", "event_type", "value").distinct()
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"))
      .orderBy("event_type").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      want.map(r => (r.getString(0), r.getLong(1))).toSeq,
      "healed feed must collapse to the original distinct events")
  }

  test("leaderboard stream: snapshots only on change, converges to " +
    "the batch board under chunked + redelivered arrival") {
    val sparkS = spark
    import sparkS.implicits._
    val input = MemoryStream[StreamOps.Scored](spark)
    val q = StreamOps.topKStream(input.toDS(), k = 2)
      .writeStream.format("memory").queryName("sboard")
      .outputMode("append").start()
    def boardAfter(): Map[String, Seq[(Long, Long, Int)]] = {
      // last emitted snapshot per key = rows of the max emission batch;
      // emissions are full snapshots, so group rows by (key) taking
      // the snapshot with the highest top score set → reconstruct from
      // ALL rows by replaying: simpler — read all rows in insertion
      // order and keep the last contiguous snapshot per key
      val rows = spark.table("sboard").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      rows.groupBy(_._1).map { case (k, rs) =>
        // the final snapshot is the last emitted rank-1..n run; since
        // ranks restart at 1 on each snapshot, take rows after the
        // LAST rank==1 occurrence
        val idx = rs.lastIndexWhere(_._4 == 1)
        k -> rs.drop(idx).map(r => (r._2, r._3, r._4)).toSeq
      }
    }
    try {
      input.addData(StreamOps.Scored("a", 1, 10),
        StreamOps.Scored("a", 2, 30), StreamOps.Scored("b", 9, 5))
      q.processAllAvailable()
      val n1 = spark.table("sboard").count()
      // dominated event + exact redelivery → board unchanged, NO rows
      input.addData(StreamOps.Scored("a", 3, 1),
        StreamOps.Scored("a", 2, 30))
      q.processAllAvailable()
      assert(spark.table("sboard").count() === n1,
        "no-op batch must emit nothing")
      // a new leader arrives late → one fresh snapshot for 'a'
      input.addData(StreamOps.Scored("a", 4, 99))
      q.processAllAvailable()
      val boards = boardAfter()
      assert(boards("a") === Seq((4L, 99L, 1), (2L, 30L, 2)))
      assert(boards("b") === Seq((9L, 5L, 1)))
      // score UPDATE for an id already on the board: upsert, never two
      // slots for one id; a worse score for a held id is a no-op
      input.addData(StreamOps.Scored("b", 9, 3))
      q.processAllAvailable()
      assert(boardAfter()("b") === Seq((9L, 5L, 1)),
        "worse score for a held id must not change the board")
      input.addData(StreamOps.Scored("b", 9, 50))
      q.processAllAvailable()
      assert(boardAfter()("b") === Seq((9L, 50L, 1)),
        "better score must upsert the id's single slot")
    } finally q.stop()
  }
}
