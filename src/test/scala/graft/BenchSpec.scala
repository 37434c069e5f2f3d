package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's floor ledger: only successful runs fold into the recorded
  * floors. */
class BenchSpec extends AnyFunSuite {
  test("a planted failure leaves its recorded floor untouched") {
    val best = Map("q_ok" -> 2.0, "q_fail" -> 1.5, "q_dropped" -> 0.7)
    val folded = Bench.foldFloors(best, Seq(
      "q_ok" -> Some(1.0),      // faster: the floor drops
      "q_fail" -> None,         // threw: no time, the floor stays
      "q_fail_new" -> None,     // threw on its first run: never recorded
      "q_new" -> Some(3.0)))    // first successful run: recorded
    assert(folded === Map("q_ok" -> 1.0, "q_fail" -> 1.5, "q_dropped" -> 0.7, "q_new" -> 3.0))
  }

  test("a slower run never raises a recorded floor") {
    assert(Bench.foldFloors(Map("q" -> 1.0), Seq("q" -> Some(4.0))) === Map("q" -> 1.0))
  }
}
