package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.sources.ChangeLogSource
import graft.streaming.PipeAssembly
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §7.3 — the minimum slice that answers one real query
  * end-to-end, exercising snapshot load, streamed tx-grouped changes
  * (including a rolled-back transaction), checkpointed sink, and the
  * latest-image reconstruction query. The expected table state is
  * computed independently by a driver-side fold over the same DML.
  */
class FlagshipSpec extends SparkSpec {

  test("snapshot + change stream + rollback → queryable current state") {
    val sparkS = spark
    import sparkS.implicits._

    // 1. snapshot: five users with initial balances (insert mutations)
    val snapshot = Seq(("u1", 100.0), ("u2", 200.0), ("u3", 300.0),
      ("u4", 400.0), ("u5", 500.0))

    // 2. change log: committed updates/deletes + one rolled-back tx
    def m(seq: Long, op: String, pk: String, v: String, ts: Long) =
      ChangeLogSource.renderLine(1, seq, "mutation", op, pk, ts, v)
    def ctl(seq: Long, kind: String, ts: Long = 0) =
      ChangeLogSource.renderLine(1, seq, kind, null, null, ts, null)
    val log = tempFile("flagship", ".tsv")
    Files.write(log, Seq(
      ctl(1, "begin"),
      m(2, "update", "u1", "150.0", 10),
      m(3, "delete", "u2", null, 11),
      ctl(4, "commit", ts = 20),
      ctl(5, "begin"),
      m(6, "update", "u3", "999.0", 30), // rolled back — must NOT apply
      ctl(7, "rollback"),
      m(8, "insert", "u6", "600.0", 40), // non-tx mutation
      ctl(9, "begin"),
      m(10, "update", "u1", "175.0", 50),
      ctl(11, "commit", ts = 60)
    ).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

    // 3. run the pipe: source → tx-group → checkpointed sink
    val out = tempDir("flagship").toString
    val q = PipeAssembly.start(spark, Map(
      "source.path" -> log.toString,
      "sink.path" -> s"$out/changes",
      "sink.checkpoint" -> s"$out/chk"), availableNow = true)
    q.awaitTermination(60000); q.stop()

    // 4. latest-image reconstruction over snapshot ∪ committed changes
    val snapDf = snapshot.toDF("pk", "value")
      .select(col("pk"), col("value"), lit("insert").as("op"),
        lit(0L).as("ord"))
    val changes = spark.read.parquet(s"$out/changes")
      .select(col("pk"),
        element_at(col("payload"), "value").cast("double").as("value"),
        col("op"), col("seq").as("ord"))
    val w = Window.partitionBy("pk").orderBy(col("ord").desc)
    val current = snapDf.unionByName(changes)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "delete")
      .select("pk", "value")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

    // 5. independent driver-side fold of the same DML
    val expected = Map("u1" -> 175.0, "u3" -> 300.0, "u4" -> 400.0,
      "u5" -> 500.0, "u6" -> 600.0) // u2 deleted, u3 rollback ignored
    assert(current === expected)
  }
}
