package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the session factory's one core-count parse: every entry point
  * sizes its session through it, so `SPARK_GRAFT_CPUS` means the same
  * thing everywhere and never fails a run. */
class GraftSessionSpec extends AnyFunSuite {

  private val all = Runtime.getRuntime.availableProcessors

  test("parseCpus: a positive integer, else every available processor") {
    assert(GraftSession.parseCpus(Some("8")) === 8)
    assert(GraftSession.parseCpus(Some(" 12 ")) === 12)
    for (v <- Seq(None, Some("*"), Some(""), Some("0"), Some("-2"),
        Some("four")))
      assert(GraftSession.parseCpus(v) === all, v)
  }

  test("builder accepts a non-numeric core count") {
    GraftSession.builder("*")
    GraftSession.builder("")
  }
}
