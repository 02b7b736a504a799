package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`'s pollution gate as a pure function of a run's totals
  * and its hypervisor steal. */
class BenchGateSpec extends AnyFunSuite {
  test("heavy run-level steal marks a run polluted whatever its ratio") {
    // the r15 8-core shape: 110,000 cs of steal at a 1.05× ratio
    assert(Bench.loadPolluted(105.0, Some(100.0), 110000L, 0))
    assert(Bench.loadPolluted(105.0, None, 110000L, 0),
      "heavy steal pollutes a run even with no reference to compare")
    assert(Bench.loadPolluted(90.0, Some(100.0), Bench.HeavyStealCs, 0))
  }

  test("under the steal cliff the interpolated ratio trigger decides") {
    // quiet: 1.25× trigger
    assert(!Bench.loadPolluted(124.0, Some(100.0), 0L, 0))
    assert(Bench.loadPolluted(126.0, Some(100.0), 0L, 0))
    // the r13 shape: 1.248× with 7,091 cs of steal (trigger ≈ 1.144×)
    assert(Bench.loadPolluted(124.8, Some(100.0), 7091L, 0))
    // a majority-steal requeue set counts as full contention (1.10×)
    assert(Bench.loadPolluted(111.0, Some(100.0), 0L, 8))
    assert(!Bench.loadPolluted(109.0, Some(100.0), 0L, 8))
    // no comparable reference and a quiet run: not polluted
    assert(!Bench.loadPolluted(500.0, None, 9999L, 0))
  }
}
