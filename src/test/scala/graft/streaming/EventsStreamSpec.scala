package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

class EventsStreamSpec extends SparkSpec {
  import spark.implicits._

  test("streaming hourly counts equal the batch equivalent over the same files") {
    // the file-stream source wants a directory; stage the single file
    val dir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$SfDir/events.parquet"),
      dir.resolve("events.parquet"))
    // update mode: append would hold back windows the watermark hasn't
    // passed (i.e. the tail of the data) — with a single batch, update
    // emits each window exactly once with its final counts
    EventsStream.runToMemory(spark, dir.toString, "hourly",
      df => EventsStream.hourlyTypeCounts(df), outputMode = "update")
    val streamed = spark.table("hourly")
      .select($"hour_start", $"event_type", $"n", $"value_cents")
    val batch = Tables.load(spark, SfDir, "events")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum(round($"value" * 100).cast("long")).as("value_cents"))
      .select($"window.start".as("hour_start"), $"event_type", $"n", $"value_cents")
    assert(streamed.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("streaming dropDuplicates emits exactly the batch-distinct key set") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sdedup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$SfDir/events.parquet"),
      dir.resolve("events.parquet"))
    EventsStream.runToMemory(spark, dir.toString, "dedup_pairs",
      df => df.select($"user_id", $"event_type").dropDuplicates("user_id", "event_type"))
    val streamed = spark.table("dedup_pairs")
    val batch = Tables.load(spark, SfDir, "events")
      .select($"user_id", $"event_type").distinct()
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).isEmpty)
  }

  test("dropDuplicatesWithinWatermark emits the batch-distinct key set (bounded state)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wdedup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$SfDir/events.parquet"),
      dir.resolve("events.parquet"))
    EventsStream.runToMemory(spark, dir.toString, "wdedup_pairs",
      df => df.select($"user_id", $"event_type", $"ts")
        .withWatermark("ts", "24 hours")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select($"user_id", $"event_type"))
    val streamed = spark.table("wdedup_pairs")
    val batch = Tables.load(spark, SfDir, "events")
      .select($"user_id", $"event_type").distinct()
    // single-batch drain: no state eviction mid-batch, so the bounded-
    // state variant equals exact distinct (the equality the q155 gate
    // oracle checks at sf0.01)
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).isEmpty)
  }

  test("stream-stream interval self-join emits exactly the batch theta-join pairs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ssjoin")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$SfDir/events.parquet"),
      dir.resolve("events.parquet"))
    EventsStream.runToMemory(spark, dir.toString, "attrib",
      df => EventsStream.purchaseAttribution(df, windowHours = 24))
    val streamed = spark.table("attrib").select($"purchase_id", $"click_id")
    val ev = Tables.load(spark, SfDir, "events")
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id".as("pu"), $"ts".as("pts"))
    val c = ev.filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id".as("cu"), $"ts".as("cts"))
    val batch = p.join(c, $"pu" === $"cu" &&
        $"cts" >= $"pts" - expr("INTERVAL 24 HOURS") && $"cts" <= $"pts")
      .select($"purchase_id", $"click_id")
    assert(streamed.count() > 0, "fixture must produce at least one pair")
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("stream-stream LEFT OUTER join: matched pairs exact, nulls watermark-complete") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ssloj")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$SfDir/events.parquet"),
      dir.resolve("events.parquet"))
    EventsStream.runToMemory(spark, dir.toString, "attrib_lo",
      df => EventsStream.purchaseAttributionLeftOuter(df, windowHours = 24))
    val streamed = spark.table("attrib_lo")
    val ev = Tables.load(spark, SfDir, "events")
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id".as("pu"), $"ts".as("pts"))
    val c = ev.filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id".as("cu"), $"ts".as("cts"))
    val inner = p.join(c, $"pu" === $"cu" &&
        $"cts" >= $"pts" - expr("INTERVAL 24 HOURS") && $"cts" <= $"pts")
      .select($"purchase_id", $"click_id")
    // matched rows are exactly the batch inner join
    val matched = streamed.filter($"click_id".isNotNull)
    assert(matched.except(inner).isEmpty && inner.except(matched).isEmpty)
    // null rows: a subset of the batch-unmatched purchases (no false
    // nulls), and COMPLETE for purchases safely older than the final
    // watermark (max_ts − lateness), where eviction has provably fired
    val unmatchedBatch = p.join(inner, Seq("purchase_id"), "left_anti")
    val nulls = streamed.filter($"click_id".isNull).select($"purchase_id")
    assert(nulls.except(unmatchedBatch.select($"purchase_id")).isEmpty,
      "a matched purchase must never null-emit")
    val maxTs = ev.agg(max($"ts")).collect()(0).getTimestamp(0).getTime
    val safe = unmatchedBatch
      .filter($"pts" < new java.sql.Timestamp(maxTs - 45L * 60L * 1000L))
      .select($"purchase_id")
    assert(safe.except(nulls).isEmpty,
      "every unmatched purchase past the watermark horizon must null-emit")
    assert(nulls.count() > 0, "fixture must exercise the null-emit path")
  }

  test("foreachBatch upsert leaves exactly the latest row per key") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fbu")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$SfDir/events.parquet"),
      dir.resolve("events.parquet"))
    val target = dir.resolve("target").toString
    EventsStream.runForeachBatchUpsert(spark, dir.toString, target,
      keys = Seq("user_id"), orderCols = Seq("ts", "event_id"))
    val got = spark.read.parquet(target).select($"user_id", $"event_id")
    val want = graft.operators.LatestRowView.latestPerKey(
        Tables.load(spark, SfDir, "events"), Seq("user_id"), Seq($"ts", $"event_id"))
      .select($"user_id", $"event_id")
    assert(got.count() == want.count())
    assert(got.except(want).isEmpty)
    // a second drain over the same files is idempotent (same keys, same rows)
    val dir2 = java.nio.file.Files.createTempDirectory("graft-fbu2")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$SfDir/events.parquet"),
      dir2.resolve("events.parquet"))
    EventsStream.runForeachBatchUpsert(spark, dir2.toString, target,
      keys = Seq("user_id"), orderCols = Seq("ts", "event_id"))
    assert(spark.read.parquet(target).count() == want.count())
  }

  test("TxTable-backed upsert matches latestPerKey with one commit per batch, no rename artifacts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fbutx")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$SfDir/events.parquet"),
      dir.resolve("events.parquet"))
    val table = dir.resolve("txtarget").toString
    EventsStream.runForeachBatchUpsertTx(spark, dir.toString, table,
      keys = Seq("user_id"), orderCols = Seq("ts", "event_id"))
    val got = graft.sink.TxTable.read(spark, table).select($"user_id", $"event_id")
    val want = graft.operators.LatestRowView.latestPerKey(
        Tables.load(spark, SfDir, "events"), Seq("user_id"), Seq($"ts", $"event_id"))
      .select($"user_id", $"event_id")
    assert(got.count() == want.count())
    assert(got.except(want).isEmpty)
    // versioned commits, and none of the rename-swap artifacts on disk
    assert(graft.sink.TxTable.commits(spark, table).nonEmpty)
    assert(!new java.io.File(table + ".graft-old").exists())
    assert(!new java.io.File(table + ".graft-tmp").exists())
  }

  test("streaming incremental near-dedup == one-shot batch dedup, one commit per micro-batch") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sneardup")
    val staging = tmp.resolve("staging").toString
    val sig = tmp.resolve("sig").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(staging))
    // planted dups across the batch boundary: 5/6 duplicate 1/2 from the
    // earlier batch; 4 duplicates 3 within its own batch
    val texts = Seq(
      1L -> "alpha beta gamma delta epsilon", 2L -> "one two three four five",
      3L -> "red green blue yellow purple", 4L -> "red green blue yellow purple",
      5L -> "alpha beta gamma delta epsilon", 6L -> "one two three four five six",
      7L -> "completely different content here now")
    val docs = texts.toDF("doc_id", "text")
    Seq(docs.filter($"doc_id" <= 4), docs.filter($"doc_id" > 4))
      .zipWithIndex.foreach { case (half, i) =>
        val part = tmp.resolve(s"part$i").toString
        half.coalesce(1).write.parquet(part)
        val src = new java.io.File(part).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(src.toPath,
          java.nio.file.Paths.get(s"$staging/batch-$i.parquet"))
      }
    EventsStream.runStreamingNearDupTx(spark, staging, docs.schema, sig)
    assert(graft.sink.TxTable.headVersion(spark, sig) == 2L,
      "one atomic commit per micro-batch")
    val kept = graft.sink.TxTable.read(spark, sig)
      .filter($"kept").select($"id").as[Long].collect().toSet
    val batchKept = graft.functions.Dedup.simhashDedupPortable(docs, "text", "doc_id")
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == batchKept,
      s"incremental $kept must equal batch $batchKept")
    // every seen doc's signature is in the table, losers included
    assert(graft.sink.TxTable.read(spark, sig).count() == texts.size)
  }

  test("streaming IVM: exactly-once base ingest + incrementally maintained aggregate") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sivm")
    val staging = tmp.resolve("staging").toString
    val base = tmp.resolve("base").toString
    val derived = tmp.resolve("derived").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(staging))
    val rows = Seq((1L, 10L), (2L, 20L), (1L, 5L), (3L, 30L), (2L, 2L), (1L, 1L))
    val df = rows.toDF("k", "v")
    Seq(df.filter($"v" >= 10L), df.filter($"v" < 10L))
      .zipWithIndex.foreach { case (half, i) =>
        val part = tmp.resolve(s"part$i").toString
        half.coalesce(1).write.parquet(part)
        val src = new java.io.File(part).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(src.toPath,
          java.nio.file.Paths.get(s"$staging/batch-$i.parquet"))
      }
    EventsStream.runStreamingIvmTx(spark, staging, df.schema,
      base, derived, Seq("k"), Seq("v"))
    // derived == full recompute over everything ingested
    def snap() = graft.sink.TxTable.read(spark, derived)
      .select($"k", $"n_rows", $"v").as[(Long, Long, Long)].collect().toSet
    val want = Set((1L, 3L, 16L), (2L, 2L, 22L), (3L, 1L, 30L))
    assert(snap() == want)
    assert(graft.sink.TxTable.read(spark, base).count() == rows.size)
    val baseHead = graft.sink.TxTable.headVersion(spark, base)
    val derivedHead = graft.sink.TxTable.headVersion(spark, derived)
    // RE-RUN the whole stream from a fresh checkpoint (the crash-replay
    // case: same files, same batch ids): every append must skip, every
    // refresh must skip, both tables unchanged
    EventsStream.runStreamingIvmTx(spark, staging, df.schema,
      base, derived, Seq("k"), Seq("v"))
    assert(graft.sink.TxTable.headVersion(spark, base) == baseHead,
      "replayed batches must not re-append")
    assert(graft.sink.TxTable.headVersion(spark, derived) == derivedHead,
      "replayed refreshes must not re-fold")
    assert(snap() == want)
    assert(graft.sink.TxTable.read(spark, base).count() == rows.size)
  }

  test("sessionize: gap splits sessions, state carries across batches") {
    def ev(id: Long, user: Long, minute: Long) =
      EventsStream.Event(id, new Timestamp(minute * 60000L), user, "click", 1.0)
    // user 1: events at t0,t5 then a 90-minute gap then t95,t96 → 2 sessions
    val events = Seq(ev(1, 1, 0), ev(2, 1, 5), ev(3, 1, 95), ev(4, 1, 96),
      ev(5, 2, 10)).toDS()
    val out = EventsStream.sessionize(events, gapMinutes = 30).collect()
      .map(s => s.user_id -> s).toMap
    // mapGroupsWithState in batch mode sees one batch per key; final state
    // reflects the LAST session after the gap reset
    assert(out(1L).n_events == 2L)
    assert(out(1L).session_start.getTime == 95 * 60000L)
    assert(out(2L).n_events == 1L)
  }

  test("sessionWindowsBatch merges events within the gap") {
    val df = Seq(
      (1L, "2024-01-01 10:00:00"), (1L, "2024-01-01 10:10:00"),
      (1L, "2024-01-01 12:00:00"),
      (2L, "2024-01-01 09:00:00"),
      // exactly the gap apart: two sessions (gap >= 30 min splits)
      (3L, "2024-01-01 08:00:00"), (3L, "2024-01-01 08:30:00"),
    ).toDF("user_id", "s").select($"user_id", to_timestamp($"s").as("ts"))
    val got = EventsStream.sessionWindowsBatch(df, gapMinutes = 30)
      .select($"user_id", $"n_events").as[(Long, Long)].collect().toSeq.sorted
    assert(got == Seq((1L, 1L), (1L, 2L), (2L, 1L), (3L, 1L), (3L, 1L)))
  }
}
