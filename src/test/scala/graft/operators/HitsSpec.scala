package graft.operators

import graft.SparkSpec

/** HITS: hub/authority separation, symmetry, normalization. */
class HitsSpec extends SparkSpec {
  import spark.implicits._

  private def run(iters: Int, edges: (Long, Long)*) =
    Hits.run(edges.toDF("s", "d"), "s", "d", iters)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("pure hub vs pure authorities: star out-edges") {
    // 1 -> {2, 3, 4}: node 1 is all hub, 2..4 all authority
    val m = run(3, (1L, 2L), (1L, 3L), (1L, 4L))
    assert(m(1L)._1 > 0L && m(1L)._2 == 0L)
    Seq(2L, 3L, 4L).foreach { n =>
      assert(m(n)._1 == 0L && m(n)._2 > 0L)
    }
    assert(m(2L)._2 == m(3L)._2 && m(3L)._2 == m(4L)._2)
  }

  test("a node pointed to by MORE hubs gets higher authority") {
    // 5 gets three in-edges, 6 gets one
    val m = run(3, (1L, 5L), (2L, 5L), (4L, 5L), (3L, 6L))
    assert(m(5L)._2 > 0L && m(6L)._2 > 0L)
    assert(m(5L)._2 > m(6L)._2)
  }

  test("scores are sum-normalized to ~m * 1e6 per vector") {
    val m = run(3, (1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
    val n = m.size.toLong
    val hubTot = m.values.map(_._1).sum
    val authTot = m.values.map(_._2).sum
    assert(hubTot <= n * 1000000L && hubTot > n * 1000000L - 2 * n)
    assert(authTot <= n * 1000000L && authTot > n * 1000000L - 2 * n)
  }

  test("exact fixed-point trajectory matches a driver-side replay") {
    // pins the observe-folded normalization total (one job per
    // half-step) to the algorithm's defined arithmetic: sum-normalize
    // to m·10⁶ by floor division, every value a long
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L))
    val iters = 3
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val m = nodes.size.toLong
    var h = nodes.map(_ -> 1000000L).toMap
    var a = nodes.map(_ -> 1000000L).toMap
    def norm(v: Map[Long, Long]): Map[Long, Long] = {
      val tot = v.values.sum
      v.map { case (k, x) => k -> java.lang.Math.floorDiv(x * (m * 1000000L), tot) }
    }
    for (_ <- 1 to iters) {
      a = norm(nodes.map(n =>
        n -> edges.filter(_._2 == n).map(e => h(e._1)).sum).toMap)
      h = norm(nodes.map(n =>
        n -> edges.filter(_._1 == n).map(e => a(e._2)).sum).toMap)
    }
    val got = run(iters, edges: _*)
    assert(got === nodes.map(n => n -> ((h(n), a(n)))).toMap)
  }

  test("duplicate directed edges collapse; direction matters") {
    val a = run(2, (1L, 2L), (1L, 2L), (3L, 2L))
    val b = run(2, (1L, 2L), (3L, 2L))
    assert(a == b)
    val rev = run(2, (2L, 1L), (2L, 3L))
    assert(rev(2L)._1 > 0L && rev(2L)._2 == 0L) // reversed: 2 becomes the hub
  }
}
