package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  test("a query that throws is reported failed, not timed as a success") {
    val (times, failed) = Bench.timePass(Seq(
      "q_ok" -> (() => Thread.sleep(5)),
      "q_throws" -> (() => throw new IllegalStateException("boom")),
      "q_after" -> (() => ())))
    assert(failed == Seq("q_throws"))
    assert(times.keySet == Set("q_ok", "q_after"))
    assert(times("q_ok") >= 0.005)
  }
}
