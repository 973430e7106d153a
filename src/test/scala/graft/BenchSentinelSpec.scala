package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the Bench failure semantics (verdict #8, ADVICE #4): a query
  * whose passes ALL throw has no time — it lands in the per-query map
  * as null, is named in the "failed" list and is excluded from the
  * total — so it can never read as a speedup, neither as its
  * time-to-throw nor as a small sentinel number. One successful pass
  * still wins the min-of-2 over a failed one.
  */
class BenchSentinelSpec extends AnyFunSuite {

  test("both passes failed -> None") {
    assert(Bench.combinePasses(
      Double.PositiveInfinity, Double.PositiveInfinity) == None)
  }

  test("one failed pass keeps the successful pass's time") {
    assert(Bench.combinePasses(Double.PositiveInfinity, 1.25) == Some(1.25))
    assert(Bench.combinePasses(0.75, Double.PositiveInfinity) == Some(0.75))
  }

  test("two successful passes keep the min") {
    assert(Bench.combinePasses(2.0, 1.5) == Some(1.5))
  }

  test("failures are excluded from the total") {
    assert(Bench.totalOf(Seq(Some(1.0), None, Some(2.5))) == 3.5)
    assert(Bench.totalOf(Nil) == 0.0)
  }
}
