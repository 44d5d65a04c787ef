package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Pins the ts-normalization contract of Tables.load across every format
  * the events table has historically shipped in: TIMESTAMP(NANOS) (read
  * back as raw nano longs under the legacy conf), µs TIMESTAMP_NTZ
  * (isAdjustedToUTC=false — the round-5 silent breaker), and a plain µs
  * instant TIMESTAMP. All three must come back as an instant TIMESTAMP
  * with identical values so event-time operators (withWatermark,
  * unix_micros, window) never see a type they can't take. Each load
  * also plans with no Spark job, from the footer, to the schema that
  * inference gives.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** `Tables.load`, checked to plan from the footer: it runs no Spark
    * job, and the relation it reads has the schema parquet inference
    * gives the same file under the same `nanosAsLong` flag.
    */
  private def load(dir: String) = {
    val (got, jobs) = jobsRan(Tables.load(spark, dir, "events"))
    assert(jobs == 0, "load planned with a Spark job")
    val read = got.queryExecution.analyzed.collectLeaves().map(_.schema)
    assert(read == Seq(spark.read.parquet(s"$dir/events.parquet").schema),
      "footer schema differs from inference")
    got
  }

  test("raw nano-long ts is truncated to a µs instant timestamp") {
    val dir = Files.createTempDirectory("graft-tables-ns").toString
    // 2024-01-02 03:04:05.123456789 UTC in nanos
    Seq((1L, 1704164645123456789L), (2L, 1704164646000000000L))
      .toDF("event_id", "ts")
      .write.parquet(s"$dir/events.parquet")
    val got = load(dir)
    assert(got.schema("ts").dataType == TimestampType)
    val micros = got.orderBy("event_id")
      .select(unix_micros(col("ts"))).as[Long].collect().toSeq
    assert(micros == Seq(1704164645123456L, 1704164646000000L),
      "ns div 1000, not float division")
  }

  test("TIMESTAMP_NTZ ts (the round-5 testdata shift) is cast to an instant timestamp") {
    val dir = Files.createTempDirectory("graft-tables-ntz").toString
    Seq((1L, "2024-01-02 03:04:05.123456"), (2L, "2024-01-30 23:59:59.000001"))
      .toDF("event_id", "s")
      .select(col("event_id"), to_timestamp_ntz(col("s")).as("ts"))
      .write.parquet(s"$dir/events.parquet")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    assert(raw.schema("ts").dataType == TimestampNTZType, "fixture must round-trip NTZ")
    val got = load(dir)
    assert(got.schema("ts").dataType == TimestampType)
    // UTC session zone: values identical under the cast
    val micros = got.orderBy("event_id")
      .select(unix_micros(col("ts"))).as[Long].collect().toSeq
    assert(micros == Seq(1704164645123456L, 1706659199000001L))
    // the operators that died in round 5 must work on the loaded frame
    assert(got.groupBy(window(col("ts"), "1 hour")).count().count() > 0)
  }

  test("an already-instant µs timestamp passes through untouched") {
    val dir = Files.createTempDirectory("graft-tables-us").toString
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123456")))
      .toDF("event_id", "ts")
      .write.parquet(s"$dir/events.parquet")
    val got = load(dir)
    assert(got.schema("ts").dataType == TimestampType)
    assert(got.select(unix_micros(col("ts"))).as[Long].head() == 1704164645123456L)
  }

  test("EventsStream.readEvents normalizes NTZ the same way (streaming reader)") {
    val dir = Files.createTempDirectory("graft-stream-ntz").toString + "/staged"
    Seq((1L, "2024-01-02 03:04:05.123456", 7L, "click", 1.0))
      .toDF("event_id", "s", "user_id", "event_type", "value")
      .select(col("event_id"), to_timestamp_ntz(col("s")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .write.parquet(dir)
    val stream = graft.streaming.EventsStream.readEvents(spark, dir)
    assert(stream.schema("ts").dataType == TimestampType)
    // withWatermark — the call that threw in round 5 — must resolve
    stream.withWatermark("ts", "10 minutes")
  }
}
