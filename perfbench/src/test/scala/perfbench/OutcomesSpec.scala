package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OutcomesSpec extends AnyFunSuite {

  test("a failed operation counts in failed_ratio and adds no latency sample") {
    val o = new Outcomes
    assert(o.op("query")(42)(_ => None).map(_._1).contains(42))
    assert(o.op("query")(7)(v => Some(s"wrong answer $v")).isEmpty)
    assert(o.op[Int]("query")(throw new IllegalStateException("boom"))(_ => None).isEmpty)
    assert(o.attempted == 3)
    assert(o.failed == 2)
    assert(o.failedRatio == 2.0 / 3)
    assert(o.ms("query").length == 1)
    assert(o.failureMessages.exists(_.contains("wrong answer 7")))
    assert(o.failureMessages.exists(_.contains("boom")))
  }

  test("aggregate checks count as operations") {
    val o = new Outcomes
    o.record("save", 12.5, None)
    o.check("recall")(Some("recall 0.5 below 0.85"))
    assert(o.attempted == 2 && o.failed == 1)
    assert(o.ms("save") == Seq(12.5))
  }
}
