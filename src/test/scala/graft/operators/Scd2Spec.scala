package graft.operators

import java.sql.Timestamp

import graft.SparkSpec

class Scd2Spec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("intervals: consecutive equal values merge, bounds chain, current row open") {
    val log = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "new"),
      (1L, ts("2024-01-02 00:00:00"), 2L, "new"),     // unchanged → same island
      (1L, ts("2024-01-05 00:00:00"), 3L, "shipped"),
      (1L, ts("2024-01-09 00:00:00"), 4L, "new"),     // value returns → NEW island
      (2L, ts("2024-02-01 00:00:00"), 5L, "new"))
      .toDF("k", "ts", "id", "v")
    val out = Scd2.intervals(log, $"k", $"ts", $"id", $"v")
      .select($"k", $"value", $"valid_from", $"valid_to", $"n_rows")
      .as[(Long, String, Timestamp, Option[Timestamp], Long)].collect().toSet
    assert(out == Set(
      (1L, "new", ts("2024-01-01 00:00:00"), Some(ts("2024-01-05 00:00:00")), 2L),
      (1L, "shipped", ts("2024-01-05 00:00:00"), Some(ts("2024-01-09 00:00:00")), 1L),
      (1L, "new", ts("2024-01-09 00:00:00"), None, 1L),
      (2L, "new", ts("2024-02-01 00:00:00"), None, 1L)))
  }

  test("null values form one island, not one per row") {
    val log = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, Option.empty[String]),
      (1L, ts("2024-01-02 00:00:00"), 2L, Option.empty[String]),
      (1L, ts("2024-01-03 00:00:00"), 3L, Some("x")))
      .toDF("k", "ts", "id", "v")
    val out = Scd2.intervals(log, $"k", $"ts", $"id", $"v")
    assert(out.count() == 2)
    assert(out.filter($"value".isNull).select($"n_rows").as[Long].head() == 2L)
  }

  test("equal timestamps break ties on the tie column deterministically") {
    val t0 = ts("2024-01-01 00:00:00")
    val log = Seq((1L, t0, 2L, "b"), (1L, t0, 1L, "a")).toDF("k", "ts", "id", "v")
    val cur = Scd2.intervals(log, $"k", $"ts", $"id", $"v")
      .filter($"valid_to".isNull).select($"value").as[String].head()
    assert(cur == "b", "higher tie value is the later version")
  }

  test("one shuffle: islands, intervals and the aggregate share the key exchange") {
    val log = Seq((1L, ts("2024-01-01 00:00:00"), 1L, "a")).toDF("k", "ts", "id", "v")
    val plan = Scd2.intervals(log, $"k", $"ts", $"id", $"v")
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected a single key exchange, plan had $exchanges:\n$plan")
  }
}
