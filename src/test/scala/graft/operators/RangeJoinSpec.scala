package graft.operators

import java.sql.Timestamp

import graft.SparkSpec

class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Long) = new Timestamp(min * 60000L)

  private val events = Seq(
    (1L, ts(10)), (2L, ts(70)), (3L, ts(130)), (4L, ts(200)), (5L, ts(1000)))
    .toDF("event_id", "ts")
  // intervals deliberately MISALIGNED with any bucket width
  private val intervals = Seq(
    ("a", ts(5), ts(75)),     // catches 1, 2 — spans two 1h buckets
    ("b", ts(60), ts(61)),    // sub-bucket sliver: catches nothing (70 > 61)
    ("c", ts(125), ts(205)),  // catches 3, 4
    ("d", ts(500), ts(400)))  // negative interval: must match nothing
    .toDF("name", "start", "end")

  private def naive = events.crossJoin(intervals)
    .filter($"ts" >= $"start" && $"ts" < $"end")
    .select($"event_id", $"name")

  test("bucketized interval join equals the naive theta-join, across bucket widths") {
    for (bucketMs <- Seq(60000L, 3600000L, 7200000L, 86400000L)) {
      val got = RangeJoin.intervalJoin(events, $"ts", intervals, $"start", $"end", bucketMs)
        .select($"event_id", $"name")
      assert(got.except(naive).isEmpty && naive.except(got).isEmpty,
        s"mismatch at bucketMs=$bucketMs")
      assert(got.count() == naive.count(), s"dup rows at bucketMs=$bucketMs")
    }
  }

  test("randomized equivalence with the theta-join (seeded, 3 rounds x 3 widths)") {
    val rng = new scala.util.Random(42)
    for (round <- 1 to 3) {
      val ev = (1 to 200).map(i => (i.toLong, ts(rng.nextInt(5000)))).toDF("event_id", "ts")
      val iv = (1 to 40).map { i =>
        val s = rng.nextInt(5000); val len = rng.nextInt(600) - 50 // some negative/empty
        (s"iv$i", ts(s), ts(s + len))
      }.toDF("name", "start", "end")
      val want = ev.crossJoin(iv).filter($"ts" >= $"start" && $"ts" < $"end")
        .select($"event_id", $"name")
      for (bucketMs <- Seq(60000L, 1800000L, 86400000L)) {
        val got = RangeJoin.intervalJoin(ev, $"ts", iv, $"start", $"end", bucketMs)
          .select($"event_id", $"name")
        // both directions + count: except() dedups, so a join that
        // duplicates one row and drops another would pass a one-sided check
        assert(got.count() == want.count() && got.except(want).isEmpty &&
          want.except(got).isEmpty, s"round $round bucketMs=$bucketMs")
      }
    }
  }

  test("end is exclusive, start inclusive") {
    val ev = Seq((1L, ts(100))).toDF("event_id", "ts")
    val atStart = Seq(("s", ts(100), ts(101))).toDF("name", "start", "end")
    val atEnd = Seq(("e", ts(99), ts(100))).toDF("name", "start", "end")
    assert(RangeJoin.intervalJoin(ev, $"ts", atStart, $"start", $"end").count() == 1)
    assert(RangeJoin.intervalJoin(ev, $"ts", atEnd, $"start", $"end").count() == 0)
  }

  test("a pathological interval fails loudly at the cap instead of blowing the array limit") {
    val ev = Seq((1L, ts(100))).toDF("event_id", "ts")
    // year-9999 style open interval: ~70M hour buckets without the guard
    val iv = Seq(("bad", ts(0), new Timestamp(253402300800000L))).toDF("name", "start", "end")
    val e = intercept[Exception] {
      RangeJoin.intervalJoin(ev, $"ts", iv, $"start", $"end",
        bucketMs = 3600000L, maxBucketsPerInterval = 100000L).count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("intervalJoin")), s"unexpected error: $e")
    // the same data proceeds when the cap accommodates the span
    val ok = RangeJoin.intervalJoin(ev, $"ts", iv, $"start", $"end",
      bucketMs = 253402300800000L)
    assert(ok.count() == 1)
  }

  test("plan is an equi-join, not a nested loop") {
    val got = RangeJoin.intervalJoin(events, $"ts", intervals, $"start", $"end")
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$plan")
    assert(plan.contains("Join") || plan.contains("join"), plan)
  }

  test("keyed join: same timestamp matches only the SAME key's interval") {
    val facts = Seq((1L, ts(10)), (2L, ts(10)), (1L, ts(100)))
      .toDF("k", "fts")
    // key 1 valid [0, 60); key 2 valid [0, 5) then [5, 60)
    val ivs = Seq((1L, ts(0), ts(60), "a"),
      (2L, ts(0), ts(5), "b1"), (2L, ts(5), ts(60), "b2"))
      .toDF("ik", "start", "end", "tag")
    val got = RangeJoin.intervalJoinKeyed(facts, $"k", $"fts",
        ivs, $"ik", $"start", $"end", bucketMs = 60000L)
      .select($"k", $"tag").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "b2"))) // ts(100) past every interval
  }

  test("keyed join: boundary semantics are [start, end) per key") {
    val facts = Seq((5L, ts(5)), (5L, ts(10))).toDF("k", "fts")
    val ivs = Seq((5L, ts(0), ts(5), "lo"), (5L, ts(5), ts(10), "hi"))
      .toDF("ik", "start", "end", "tag")
    val got = RangeJoin.intervalJoinKeyed(facts, $"k", $"fts",
        ivs, $"ik", $"start", $"end", bucketMs = 60000L)
      .select($"tag").as[String].collect().toSeq
    assert(got == Seq("hi")) // ts(5) starts "hi"; ts(10) is past it
  }

  test("keyed join plans as an equi-join on (key, bucket)") {
    val facts = Seq((1L, ts(10))).toDF("k", "fts")
    val ivs = Seq((1L, ts(0), ts(60), "a")).toDF("ik", "start", "end", "tag")
    val plan = RangeJoin.intervalJoinKeyed(facts, $"k", $"fts",
      ivs, $"ik", $"start", $"end").queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$plan")
  }
}
