package graft

import org.scalatest.funsuite.AnyFunSuite

/** Soak's drain digest: an empty quarter is no sample (not a 0 ms
  * one), and the flat-p50 check does not judge a short drain. */
class SoakSpec extends AnyFunSuite {

  test("two batches: empty quarters are None and flat p50 is not " +
    "judged") {
    val d = Soak.digest(Seq(3396L, 987L))
    assert(d.quarters === Seq(None, Some(3396.0), None, Some(987.0)))
    assert(d.firstHalf === Some(3396.0))
    assert(d.secondHalf === Some(987.0))
    assert(d.flatOk === None)
    assert(Soak.digest(Nil) === Soak.Digest(Seq.fill(4)(None), None, None, None))
  }

  test("eight batches: two per quarter and a flat-p50 verdict") {
    val flatMs = Seq(100L, 110L, 90L, 100L, 120L, 100L, 105L, 95L)
    val flat = Soak.digest(flatMs)
    assert(flat.quarters ===
      Seq(Some(100.0), Some(90.0), Some(100.0), Some(95.0)))
    assert(flat.firstHalf === Some(100.0))
    assert(flat.secondHalf === Some(100.0))
    assert(flat.flatOk === Some(true))
    val climbing = Soak.digest(Seq.fill(4)(100L) ++ Seq.fill(4)(200L))
    assert(climbing.flatOk === Some(false))
  }
}
