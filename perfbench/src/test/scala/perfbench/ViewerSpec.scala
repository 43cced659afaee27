package perfbench

import graft.operators.SortOps.SortBy
import org.scalatest.funsuite.AnyFunSuite

class ViewerSpec extends AnyFunSuite {

  test("the header-click cycle has five states and moves the column last") {
    var c = Seq.empty[SortBy]
    val seen = (1 to 5).map { _ => c = Viewer.click(c, "qty"); c }
    assert(seen.map(_.map(s => (s.ascending, s.nullsLast))) == Seq(
      Seq((false, false)), Seq((true, false)), Seq((false, true)), Seq((true, true)), Seq()))
    val two = Viewer.click(Viewer.click(Seq.empty, "qty"), "city")
    assert(Viewer.click(two, "qty").map(_.column) == Seq("city", "qty"))
  }

  test("expected first page equals a full stable sort") {
    val t = Gen.table(3L, 2000)
    val criteria = Seq(SortBy("qty", ascending = true, nullsLast = false),
      SortBy("cat", ascending = false, nullsLast = true))
    val full = (0 until t.n).sortWith((i, j) => Viewer.compare(t, criteria, i, j) < 0)
    assert(Viewer.topSeqs(t, criteria, 20) == full.take(20).map(_ + 1L))
    // nulls first: the page starts with null quantities in file order
    val nulls = (0 until t.n).filter(t.qty(_) < 0).take(20).map(_ + 1L)
    assert(Viewer.topSeqs(t, criteria.take(1), 20) == nulls)
  }
}
