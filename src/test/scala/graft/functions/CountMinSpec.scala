package graft.functions

import graft.SparkSpec

class CountMinSpec extends SparkSpec {
  import spark.implicits._

  private val df = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c"))
    .toDF("k")

  test("estimates are one-sided: est >= exact for every key") {
    val got = CountMin.estimates(df, "k", depth = 4, width = 2)
      .as[(String, Long, Long)].collect()
    assert(got.length === 3)
    got.foreach { case (k, exact, est) =>
      assert(est >= exact, s"$k: est $est < exact $exact")
    }
    assert(got.map(_._2).sorted.toSeq === Seq(1L, 3L, 5L))
  }

  test("wide sketch with few keys is exact") {
    val got = CountMin.estimates(df, "k", depth = 4, width = 4096)
      .as[(String, Long, Long)].collect()
    got.foreach { case (k, exact, est) =>
      assert(est === exact, s"$k overshot with no possible collision")
    }
  }

  test("width=1 collapses every estimate to the stream length") {
    val got = CountMin.estimates(df, "k", depth = 2, width = 1)
      .as[(String, Long, Long)].collect()
    assert(got.forall(_._3 === 9L))
  }

  test("sketch size never exceeds depth x width regardless of cardinality") {
    val many = (1 to 1000).map(i => s"k$i").toDF("k")
    assert(CountMin.sketch(many, "k", depth = 4, width = 16).count() <= 64L)
  }
}
