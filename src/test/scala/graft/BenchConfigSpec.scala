package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the reference guard's choice of output file: a run on another
  * (cpus, sf) never overwrites the committed reference. */
class BenchConfigSpec extends AnyFunSuite {

  private val sf1 = "/data/sf0.1"
  private def ref(fields: String) =
    s"""{"metric":"total","value":87.3,$fields,"queries":{"q1":0.4}}"""

  test("resultFile: the reference is kept only for the same cpus and sf") {
    assert(Bench.resultFile(None, 4, sf1) === "BENCH_LAST.json")
    assert(Bench.resultFile(Some(ref(s""""cpus":4,"sf":"$sf1"""")), 4,
      sf1) === "BENCH_LAST.json")
    assert(Bench.resultFile(Some(ref(s""""cpus":32,"sf":"$sf1"""")), 4,
      sf1) === "BENCH_LAST_c4_sf0.1.json")
    assert(Bench.resultFile(Some(ref(s""""cpus":4,"sf":"$sf1"""")), 4,
      "/data/sf10/") === "BENCH_LAST_c4_sf10.json",
      "same cpus, other sf: keyed by both, so the two never collide")
  }

  test("resultFile: a reference without a cpus field is a mismatch") {
    assert(Bench.resultFile(Some(ref(s""""sf":"$sf1"""")), 4, sf1) ===
      "BENCH_LAST_c4_sf0.1.json")
    assert(Bench.resultFile(Some(ref(""""cpus":4""")), 4, sf1) ===
      "BENCH_LAST_c4_sf0.1.json")
  }
}
