package graft.operators

import graft.SparkSpec

class ProfileSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq(
    (Some(1L), Some("aa"), Some(10)),
    (Some(2L), None, Some(10)),
    (Some(3L), Some("bb"), None),
    (None, Some("aa"), Some(20))
  ).toDF("id", "s", "v")

  test("profile: exact metrics per column from a hand-built table") {
    val got = Profile.profile(df, Seq("id", "s", "v"), exact = true)
      .select($"column", $"n_rows", $"n_nonnull", $"n_null", $"n_distinct",
        $"min_val", $"max_val")
      .as[(String, Long, Long, Long, Long, String, String)]
      .collect().map(r => r._1 -> r).toMap
    assert(got("id") == (("id", 4L, 3L, 1L, 3L, "1", "3")))
    assert(got("s") == (("s", 4L, 3L, 1L, 2L, "aa", "bb")))
    assert(got("v") == (("v", 4L, 3L, 1L, 2L, "10", "20")))
  }

  test("profile: approx mode stays a single pass (no Expand), exact mode may expand") {
    val approx = Profile.profile(df, Seq("id", "s", "v"))
    assert(!approx.queryExecution.executedPlan.toString.contains("Expand"),
      "approx profile must not multiply the input via Expand")
    // HLL at this cardinality is exact; bounds/null counts are shared code
    val nd = approx.select($"column", $"n_distinct")
      .as[(String, Long)].collect().toMap
    assert(nd == Map("id" -> 3L, "s" -> 2L, "v" -> 2L))
  }

  test("profile rejects unknown columns and empty column lists") {
    intercept[IllegalArgumentException] { Profile.profile(df, Seq("nope")) }
    intercept[IllegalArgumentException] { Profile.profile(df, Seq.empty) }
  }
}
