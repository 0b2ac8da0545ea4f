package graft

import org.scalatest.funsuite.AnyFunSuite

/** The rule that keeps a busy host's run from replacing the bench records. */
class BenchSpec extends AnyFunSuite {
  test("records are written only when load1 at the start is at most the core count") {
    assert(Bench.calm(0.0, 4))
    assert(Bench.calm(3.99, 4))
    assert(Bench.calm(4.0, 4))
    assert(!Bench.calm(4.01, 4))
    assert(!Bench.calm(3.4, 2))
    assert(Bench.calm(3.4, 32))
    // an unreadable load (-1) does not refuse
    assert(Bench.calm(-1.0, 4))
  }
}
