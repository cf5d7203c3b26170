package graft

import graft.util.Checkpoints

/** The reliable-checkpoint switch (VERDICT r13 item 4): with
  * `spark.graft.checkpoint.reliable=true` every iterative-kernel stage
  * boundary routes through `Dataset.checkpoint()` into a configured
  * directory instead of `localCheckpoint()` — the executor-loss
  * durability a preemptible 100 TB cluster needs. These specs pin (a)
  * result identity across modes on the kernels that actually iterate
  * (CC label propagation, the dataset build), and (b) that reliable
  * mode really writes lineage-free state into the checkpoint dir.
  */
class CheckpointModeSpec extends SparkSpec {

  private def withReliable[T](body: => T): T = {
    val dir = tempDir("graft-ckpt-spec").toString
    spark.conf.set(Checkpoints.ReliableConf, "true")
    spark.conf.set(Checkpoints.DirConf, dir)
    spark.sparkContext.setCheckpointDir(dir)
    try body
    finally {
      spark.conf.set(Checkpoints.ReliableConf, "false")
      graft.util.Caches.releaseAll(spark)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("connected components: reliable mode is result-identical") {
    val local = rows(functions.Dedup.ddMinhashGroups(spark, sf))
    val reliable = withReliable {
      rows(functions.Dedup.ddMinhashGroups(spark, sf))
    }
    assert(reliable == local)
  }

  test("dataset build: reliable mode is result-identical") {
    val local = rows(functions.DatasetBuild.tpDatasetBuild(spark, sf))
    val reliable = withReliable {
      rows(functions.DatasetBuild.tpDatasetBuild(spark, sf))
    }
    assert(reliable == local)
  }

  test("reliable mode writes checkpoint state into the configured dir") {
    withReliable {
      rows(operators.Stats.grCc(spark, sf))
      val dir = new java.io.File(
        spark.conf.get(Checkpoints.DirConf))
      def files(f: java.io.File): Int =
        if (f.isFile) 1
        else Option(f.listFiles()).map(_.map(files).sum).getOrElse(0)
      assert(files(dir) > 0,
        s"no checkpoint files under $dir — stage boundaries still local")
    }
  }

  test("default mode stays localCheckpoint (no checkpoint-dir writes)") {
    // guard against silently flipping the sandbox default: stage()
    // must not require (or touch) a checkpoint dir when the conf is
    // unset/false
    import spark.implicits._
    val ds = Checkpoints.stage(Seq(1, 2, 3).toDF("x"))
    assert(ds.collect().map(_.getInt(0)).sorted.sameElements(Array(1, 2, 3)))
  }
}
