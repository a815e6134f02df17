package graft

import org.scalatest.funsuite.AnyFunSuite

/** Scaling-pair leg sizing: the grid snap must stay inside the
  * [100000, baseEvents / 2] budget range.
  */
class BenchSpec extends AnyFunSuite {

  test("pairEvents snaps below the budget ceiling, never above it") {
    // cap 800k: the nearest grid point to the clamped 800k is 1M, over the cap
    assert(Bench.pairEvents(5e6, baseEvents = 1600000L) === 500000L)
    assert(Bench.pairEvents(9e5, baseEvents = 8000000L) === 1000000L)
    assert(Bench.pairEvents(1e9, baseEvents = 8000000L) === 4000000L)
  }

  test("pairEvents keeps the clamped size when no grid point fits the range") {
    // range [100k, 200k] holds no grid point (the smallest is 250k)
    assert(Bench.pairEvents(10.0, baseEvents = 400000L) === 100000L)
    assert(Bench.pairEvents(150000.0, baseEvents = 400000L) === 150000L)
    assert(Bench.pairEvents(10.0, baseEvents = 8000000L) === 250000L)
  }

  test("a pinned leg size bypasses the clamp and is only snapped") {
    assert(Bench.pairEvents(10.0, baseEvents = 400000L, pinned = Some(1200000L)) === 1000000L)
  }
}
