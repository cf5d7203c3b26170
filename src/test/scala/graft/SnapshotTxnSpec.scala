package graft

import graft.streaming.{CdcStream, FilePositionRepository}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** With-transaction snapshot handoff (reference
  * MySQLSnapshotter.scala:249-258): the captured position and the
  * snapshot data must be ATOMICALLY consistent even when mutations land
  * between the position capture and the snapshot read — replaying from
  * the captured position is then lossless and duplicate-free. */
class SnapshotTxnSpec extends SparkSpec {

  private def writeBatch(dir: String, rows: Seq[(Long, String, String, Double)])
      : Unit = {
    import spark.implicits._
    rows.toDF("seq", "op", "pk", "value")
      .write.mode("append").parquet(dir)
  }

  test("position capture under concurrent mutations replays without loss") {
    val work = tempDir("snap_txn").toString
    val logDir = s"$work/log"
    val sinkDir = s"$work/snapshot"
    // batch 1: pks a,b,c with updates; c deleted at the end
    writeBatch(logDir, Seq(
      (1L, "insert", "a", 1.0), (2L, "insert", "b", 2.0),
      (3L, "update", "a", 1.5), (4L, "insert", "c", 3.0),
      (5L, "update", "b", 2.5), (6L, "delete", "c", 0.0)))

    // the "live table": read fresh on every call; the SECOND call (the
    // snapshot's select phase) first appends batch 2 — simulating
    // writes landing after the position was captured, exactly the race
    // FLUSH TABLES WITH READ LOCK exists to close
    var calls = 0
    def table(): DataFrame = {
      calls += 1
      if (calls == 2) writeBatch(logDir, Seq(
        (7L, "update", "a", 9.0), (8L, "insert", "c", 9.9),
        (9L, "delete", "b", 0.0)))
      spark.read.parquet(logDir)
    }

    val repo = new FilePositionRepository(s"$work/pos")
    val boundary = CdcStream.snapshotHandoffWithTxn(
      table _, sinkDir, "seq", Seq("pk"), repo, "consumer-1")

    // boundary is batch 1's end, even though batch 2 was on disk before
    // the snapshot executed
    assert(boundary === 6L)
    assert(repo.load("consumer-1").map(_.position) === Some(6L))
    assert(calls === 2)

    // the snapshot is the consistent view AT seq 6: a=1.5, b=2.5, c gone
    val snap = spark.read.parquet(sinkDir)
      .select("pk", "seq", "value").orderBy("pk")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(snap.toSeq === Seq(("a", 3L, 1.5), ("b", 5L, 2.5)),
      "batch-2 rows leaked into the snapshot view")

    // replay: apply ONLY changes past the boundary over the snapshot →
    // must equal the latest image of the FULL log (lossless), and the
    // replayed set must not contain any snapshotted change (no dup)
    val replay = spark.read.parquet(logDir)
      .filter(col("seq") > boundary)
    assert(replay.count() === 3, "replay set is exactly batch 2")
    val applied = CdcStream.consistentViewAt(
      spark.read.parquet(sinkDir)
        .select("seq", "op", "pk", "value")
        .unionByName(replay),
      "seq", Seq("pk"), Long.MaxValue)
      .select("pk", "value").orderBy("pk")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val fullImage = CdcStream.consistentViewAt(
      spark.read.parquet(logDir), "seq", Seq("pk"), Long.MaxValue)
      .select("pk", "value").orderBy("pk")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(applied.toSeq === fullImage.toSeq,
      "snapshot + replay-from-boundary diverges from the full log")
    assert(applied.toSeq === Seq(("a", 9.0), ("c", 9.9)))
  }

  test("a NULL op on the latest image is a non-delete, not a drop") {
    // the wire format round-trips NULL op (ChangeLogSource's \N
    // sentinel); a null-unsafe delete filter silently LOST such pks
    // from the snapshot — regression for the null-safe <=> fix
    val work = tempDir("snap_txn_null").toString
    import spark.implicits._
    Seq(
      (1L, Option("insert"), "a", 1.0),
      (2L, Option.empty[String], "a", 2.0), // latest change: op NULL
      (3L, Option("insert"), "b", 3.0),
      (4L, Option("delete"), "b", 0.0))
      .toDF("seq", "op", "pk", "value")
      .write.parquet(s"$work/log")
    val view = CdcStream.consistentViewAt(
      spark.read.parquet(s"$work/log"), "seq", Seq("pk"), Long.MaxValue)
      .select("pk", "value").orderBy("pk")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    // a survives with the NULL-op image; b is deleted
    assert(view.toSeq === Seq(("a", 2.0)))
  }

  test("empty table yields the replay-from-start sentinel") {
    val work = tempDir("snap_txn_empty").toString
    import spark.implicits._
    // schema-only empty log
    Seq.empty[(Long, String, String, Double)]
      .toDF("seq", "op", "pk", "value")
      .write.parquet(s"$work/log")
    val repo = new FilePositionRepository(s"$work/pos")
    val boundary = CdcStream.snapshotHandoffWithTxn(
      () => spark.read.parquet(s"$work/log"), s"$work/snap",
      "seq", Seq("pk"), repo, "c2")
    assert(boundary === Long.MinValue)
    assert(repo.load("c2").map(_.position) === Some(0L))
    assert(spark.read.parquet(s"$work/snap").count() === 0)
  }
}
