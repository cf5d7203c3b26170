package graft

import org.scalatest.funsuite.AnyFunSuite

/** Soak's drain digest: an empty quarter is no sample (not a 0 ms
  * one), and neither the flat-p50 nor the bounded-SST check judges a
  * short drain. */
class SoakSpec extends AnyFunSuite {

  test("two batches: empty quarters are None and flat p50 is not " +
    "judged") {
    // SST growth that would fail the bound over a long drain: two
    // batches cannot tell growth from one large first commit
    val d = Soak.digest(Seq(3396L, 987L), Seq(1000000L, 90000000L))
    assert(d.quarters === Seq(None, Some(3396.0), None, Some(987.0)))
    assert(d.firstHalf === Some(3396.0))
    assert(d.secondHalf === Some(987.0))
    assert(d.flatOk === None)
    assert(d.sstOk === None)
    assert((d.sstFirstHalfMedian, d.sstMax, d.sstLast) ===
      ((1000000.0, 90000000L, 90000000L)))
    assert(Soak.digest(Nil, Nil) ===
      Soak.Digest(Seq.fill(4)(None), None, None, None, 0.0, 0L, 0L, None))
  }

  test("eight batches: two per quarter and a flat-p50 verdict") {
    val flatMs = Seq(100L, 110L, 90L, 100L, 120L, 100L, 105L, 95L)
    val flat = Soak.digest(flatMs, Seq.fill(8)(20000000L))
    assert(flat.quarters ===
      Seq(Some(100.0), Some(90.0), Some(100.0), Some(95.0)))
    assert(flat.firstHalf === Some(100.0))
    assert(flat.secondHalf === Some(100.0))
    assert(flat.flatOk === Some(true))
    assert(flat.sstOk === Some(true))
    val climbing = Soak.digest(Seq.fill(4)(100L) ++ Seq.fill(4)(200L),
      Seq.fill(8)(0L))
    assert(climbing.flatOk === Some(false))
    assert(climbing.sstOk === Some(true), "under the 8 MB floor")
    // past the 8 MB floor the bound is 4× the first-half median: a
    // last batch at 4× passes, one past it (a state store tracking the
    // processed volume) fails
    val growing = Soak.digest(flatMs, (1L to 8L).map(_ * 5000000L))
    assert(growing.sstFirstHalfMedian === 10000000.0)
    assert(growing.sstLast === 40000000L)
    assert(growing.sstOk === Some(true), "40 MB is within 4× 10 MB")
    val leaking = Soak.digest(flatMs, Seq.fill(7)(10000000L) :+ 41000000L)
    assert(leaking.sstOk === Some(false))
  }
}
