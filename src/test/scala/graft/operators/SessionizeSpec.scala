package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  // (key, us, tie): gap threshold 100 — an exact-100 gap SPLITS (the
  // DuckDB oracle's `>=` rule; Spark 4.1's session_window would merge it)
  private val events = Seq(
    (1L, 0L, 1L), (1L, 50L, 2L), (1L, 149L, 3L),   // gap 99 → same session
    (1L, 249L, 4L),                                  // gap exactly 100 → new
    (1L, 250L, 5L), (1L, 1000L, 6L),                 // another split
    (2L, 10L, 7L)
  ).toDF("k", "us", "tie")

  test("assignment: gap >= threshold opens a session, below stays") {
    val got = Sessionize.assign(events, col("k"), col("us"), col("tie"), gapUs = 100)
      .select(col("k"), col("us"), col("session_idx"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      (1L, 0L, 0L), (1L, 50L, 0L), (1L, 149L, 0L),
      (1L, 249L, 1L), (1L, 250L, 1L), (1L, 1000L, 2L),
      (2L, 10L, 0L)))
  }

  test("session rollup: bounds, counts, caller aggregates") {
    val got = Sessionize.sessions(events, col("k"), col("us"), col("tie"),
        gapUs = 100, valueAggs = Seq(sum(col("tie")).as("tie_sum")))
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got == Map(
      (1L, 0L) -> ((0L, 149L, 3L, 6L)),
      (1L, 1L) -> ((249L, 250L, 2L, 9L)),
      (1L, 2L) -> ((1000L, 1000L, 1L, 6L)),
      (2L, 0L) -> ((10L, 10L, 1L, 7L))))
  }

  test("equal timestamps order by tie; empty input") {
    val tied = Seq((1L, 5L, 2L), (1L, 5L, 1L)).toDF("k", "us", "tie")
    val got = Sessionize.assign(tied, col("k"), col("us"), col("tie"), gapUs = 1)
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSet
    assert(got == Set((1L, 0L), (2L, 0L))) // zero gap stays in-session
    assert(Sessionize.assign(events.limit(0), col("k"), col("us"), col("tie"), 10)
      .count() == 0)
  }

  test("agrees with the streaming session_window batch path on real events") {
    val e = graft.sources.Tables.load(spark, SfDir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
    val batch = Sessionize.sessions(e, col("user_id"), col("us"), col("event_id"),
        gapUs = 3600L * 1000000L)
      .select(col("key"), col("session_start"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val stream = graft.streaming.EventsStream.sessionWindowsBatch(
        graft.sources.Tables.load(spark, SfDir, "events"), gapMinutes = 60)
      .select(col("user_id"), unix_micros(col("session_start")).as("s"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch == stream && batch.nonEmpty)
  }
}
