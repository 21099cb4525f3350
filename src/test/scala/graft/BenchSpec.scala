package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("r6 prints finite values at 6 dp and non-finite ones as the " +
      "-1 probe-failed sentinel instead of throwing") {
    assert(Bench.r6(1.23456789) === "1.234568")
    assert(Bench.r6(2.0) === "2")
    assert(Bench.r6(-0.5) === "-0.5")
    assert(Bench.r6(Double.NaN) === "-1")
    assert(Bench.r6(Double.PositiveInfinity) === "-1")
    assert(Bench.r6(Double.NegativeInfinity) === "-1")
    assert(Bench.r6(Double.NaN) === Bench.r6(-1.0))
  }
}
