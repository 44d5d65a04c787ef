package graft.operators

import graft.SparkSpec

class SnapshotDiffSpec extends SparkSpec {
  import spark.implicits._

  test("classifies added / removed / changed and drops unchanged") {
    val a = Seq((1L, "x", 10), (2L, "y", 20), (3L, "z", 30)).toDF("k", "s", "v")
    val b = Seq((1L, "x", 10), (2L, "y", 99), (4L, "w", 40)).toDF("k", "s", "v")
    val got = SnapshotDiff.diff(a, b, Seq("k"))
      .as[(Long, String)].collect().toMap
    assert(got === Map(2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("NULL is distinguished from empty string and from a changed value") {
    val a = Seq((1L, Option("x")), (2L, Option("")), (3L, Option("q"))).toDF("k", "s")
    val b = Seq((1L, Option.empty[String]), (2L, Option.empty[String]),
      (3L, Option("q"))).toDF("k", "s")
    val got = SnapshotDiff.diff(a, b, Seq("k"))
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "changed", 2L -> "changed"))
  }

  test("adjacent-column concatenation cannot alias (separator beats shift)") {
    val a = Seq((1L, "ab", "c")).toDF("k", "x", "y")
    val b = Seq((1L, "a", "bc")).toDF("k", "x", "y")
    val got = SnapshotDiff.diff(a, b, Seq("k")).as[(Long, String)].collect()
    assert(got.toSeq === Seq((1L, "changed")))
  }

  test("multi-column keys and identical snapshots yield an empty diff") {
    val a = Seq((1L, 1L, "p"), (1L, 2L, "q")).toDF("k1", "k2", "v")
    assert(SnapshotDiff.diff(a, a, Seq("k1", "k2")).count() === 0L)
  }

  test("schema mismatch and no-value-column shapes fail loudly") {
    val a = Seq((1L, "x")).toDF("k", "v")
    val b = Seq((1L, "x")).toDF("k", "w")
    intercept[IllegalArgumentException](SnapshotDiff.diff(a, b, Seq("k")))
    intercept[IllegalArgumentException](
      SnapshotDiff.diff(a.select("k"), a.select("k"), Seq("k")))
  }

  test("plan shape: one shuffle pair into the full-outer join, no window") {
    val a = Seq((1L, "x", 10), (2L, "y", 20)).toDF("k", "s", "v")
    val b = Seq((1L, "x", 10)).toDF("k", "s", "v")
    val plan = SnapshotDiff.diff(a, b, Seq("k"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
    assert(!plan.contains("Window"))
  }
}
