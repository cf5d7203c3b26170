package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared test base: one local SparkSession per suite, and temp paths
  * that the suite deletes when it ends. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  // lazy val (not def): `import spark.implicits._` needs a stable
  // identifier. Each suite instance re-reads SparkTestSession.spark,
  // so a context death poisons at most the suite it happened in.
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf: String = "/root/testdata/sf0.001"

  private val temps = new java.util.concurrent.ConcurrentLinkedQueue[Path]

  /** A fresh directory under the JVM temp dir, deleted with everything
    * in it when this suite ends (or, if the suite never ends, when the
    * test JVM exits). */
  def tempDir(prefix: String): Path =
    TestTemp.track(temps, Files.createTempDirectory(prefix))

  /** A fresh empty file under the JVM temp dir, deleted as [[tempDir]]. */
  def tempFile(prefix: String, suffix: String): Path =
    TestTemp.track(temps, Files.createTempFile(prefix, suffix))

  override protected def afterAll(): Unit =
    try super.afterAll() finally TestTemp.delete(temps)
}

/** Every temp path a suite was handed and has not deleted yet: a
  * shutdown hook deletes what is left when the test JVM exits. */
object TestTemp {
  private val live = new java.util.concurrent.ConcurrentLinkedQueue[Path]
  sys.addShutdownHook(delete(live))

  def track(suite: java.util.Collection[Path], p: Path): Path = {
    suite.add(p); live.add(p); p
  }

  /** Delete each path in `ps`, directories recursively. */
  def delete(ps: java.util.Collection[Path]): Unit = {
    ps.forEach { p =>
      org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
      live.remove(p)
    }
    ps.clear()
  }
}

/** One session for the whole test JVM (suites run in it serially).
  * Self-healing: if the shared context dies mid-suite (fatal error on
  * a task thread, host-noise casualty), later tests get a fresh
  * session instead of cascading "SparkContext has been shutdown". */
object SparkTestSession {
  @volatile private var current: SparkSession = _

  def spark: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped) {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val s = GraftSession.builder("8")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      GraftCatalog.installOptimizations(s)
      current = s
    }
    current
  }
}
