package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class AbSpec extends AnyFunSuite {
  import Ab._

  test("quartiles match Python's statistics.quantiles(n=4)") {
    // expected values computed with CPython's statistics.quantiles
    assert(quartiles((1 to 10).map(_.toDouble)) == Quartiles(2.75, 5.5, 8.25))
    assert(quartiles(Seq(3.0, 1.0, 2.0)) == Quartiles(1.0, 2.0, 3.0))
    assert(quartiles(Seq(4.0, 3.0, 2.0, 1.0)) == Quartiles(1.25, 2.5, 3.75))
    assert(quartiles(Seq(5.0, 1.0, 4.0, 2.0, 3.0)) == Quartiles(1.5, 3.0, 4.5))
    // two samples: the exclusive method extrapolates past the data
    assert(quartiles(Seq(1.5, 2.5)) == Quartiles(1.25, 2.0, 2.75))
    assert(quartiles(Seq.fill(4)(2.0)) == Quartiles(2.0, 2.0, 2.0))
  }

  test("wins are per pair; ties count for neither side") {
    val r = compare(Seq(1.0, 2.0, 3.0, 4.0), Seq(2.0, 2.0, 1.0, 4.0))
    assert((r.winsA, r.winsB, r.ties) == ((1, 1, 2)))
  }

  test("B faster: 9/10 wins and a median gap wider than A's q3 - q1") {
    val a = Seq(10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 10.0, 10.1)
    val b = a.map(_ - 1.0).updated(0, 10.5) // B loses pair 0 only
    val r = compare(a, b)
    assert(r.winsB == 9 && r.winsA == 1)
    assert(r.a.median - r.b.median > r.a.spread)
    assert(r.verdict == "B faster")
    // sides swapped: the baseline is now the faster side
    assert(compare(b, a).verdict == "no gain shown")
  }

  test("no claim below 9/10 wins, however large the gap") {
    val a = Seq.fill(10)(10.0)
    val b = Seq.fill(8)(5.0) ++ Seq(11.0, 11.0) // 8/10 wins
    assert(compare(a, b).verdict == "no gain shown")
  }

  test("no claim when the gap is inside A's quartile spread") {
    val a = Seq(10.0, 12.0, 14.0, 16.0, 18.0, 10.0, 12.0, 14.0, 16.0, 18.0)
    val b = a.map(_ - 0.5) // wins every pair, gap 0.5 < A's q3 - q1
    val r = compare(a, b)
    assert(r.winsB == 10 && r.a.spread > 0.5)
    assert(r.verdict == "no gain shown")
  }
}
