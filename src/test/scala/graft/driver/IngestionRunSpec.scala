package graft.driver

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model._
import graft.state.LogStore

/** End-to-end incremental lifecycle over a parquet stand-in source —
  * exercises the spine of SURVEY.md §7.2 step 2: first run from empty
  * state, partitioned write, validation, watermark recovery, second run
  * extracting only new rows, no-data short-circuit, latest-row view.
  */
class IngestionRunSpec extends SparkSpec {
  import spark.implicits._

  private def mkSpec(parts: Seq[PartitionSpec], viewNeeded: Int = 0) = IngestionSpec(
    lakeIngestionId = 7L, ingestionType = "table", servername = "local",
    databasename = "testdb", tablename = "events_src",
    deltaField = "mtime", deltaFieldExpr = "", dateNotAvailable = 0,
    activeIndicator = 1, targetType = "fs", targetLocation = "",
    primaryKey = "id", viewDb = "lv", viewName = "events_src_lv",
    viewNeeded = viewNeeded, partitions = parts, dagGroup = "g1")

  private def srcRows(rows: Seq[(Long, String, String)]) =
    rows.toDF("id", "v", "s").select($"id", $"v", to_timestamp($"s").as("mtime"))

  test("full lifecycle: first run, incremental second run, empty third run") {
    val dir = java.nio.file.Files.createTempDirectory("graft-e2e").toString
    val store = new LogStore(spark, s"$dir/logs")
    val run = new IngestionRun(spark, s"$dir/lake", store)
    val spec = mkSpec(Seq(PartitionSpec(1, PartitionSpec.TimeBased, "mtime", "YYYYMM")),
      viewNeeded = 1)

    // first run: everything past the 2020-01-01 default lands
    val batch1 = srcRows(Seq(
      (1L, "a", "2023-01-10 10:00:00"), (2L, "b", "2023-02-10 10:00:00")))
    val logs1 = run.run(spec, batch1)
    assert(logs1.map(_.executionStatus) == Seq(RunStatus.DataLoaded, RunStatus.Success))
    assert(logs1.last.sourceCount == 2L && logs1.last.targetCount == 2L)
    assert(logs1.last.startValue == "2020-01-01 00:00:00")
    assert(logs1.last.endValue == "2023-02-10 10:00:00")

    // lake is partitioned by the derived column
    val lake = spark.read.parquet(s"$dir/lake/testdb/events_src")
    assert(lake.columns.contains("mtime_YYYYMM"))
    assert(lake.count() == 2)

    // latest-row view was registered on the first successful run
    assert(spark.catalog.tableExists("events_src_lv"))

    // second run: only rows past the recovered watermark (+1s bump) load
    val batch2 = srcRows(Seq(
      (1L, "a", "2023-01-10 10:00:00"),  // old row — filtered by watermark
      (2L, "b2", "2023-03-01 00:00:00"), // update
      (3L, "c", "2023-03-02 00:00:00"))) // new row
    val logs2 = run.run(spec, batch2)
    assert(logs2.last.executionStatus == RunStatus.Success)
    assert(logs2.last.sourceCount == 2L)
    assert(logs2.last.startValue == "2023-02-10 10:00:01")
    assert(spark.read.parquet(s"$dir/lake/testdb/events_src").count() == 4)

    // latest-row semantics over the append-only lake: one row per id
    val latest = graft.operators.LatestRowView.latestPerKey(
      spark.read.parquet(s"$dir/lake/testdb/events_src"), Seq("id"), Seq(col("mtime")))
    assert(latest.count() == 3)
    assert(latest.filter($"id" === 2L).select($"v").as[String].head() == "b2")

    // third run with no new rows: no-data short-circuit, nothing written
    val logs3 = run.run(spec, batch2)
    assert(logs3.map(_.executionStatus) == Seq(RunStatus.NoData))
    assert(spark.read.parquet(s"$dir/lake/testdb/events_src").count() == 4)
  }

  test("partition pruning: a partition-column filter prunes lake files at planning time") {
    val dir = java.nio.file.Files.createTempDirectory("graft-prune").toString
    val store = new LogStore(spark, s"$dir/logs")
    val run = new IngestionRun(spark, s"$dir/lake", store)
    val spec = mkSpec(Seq(PartitionSpec(1, PartitionSpec.TimeBased, "mtime", "YYYYMM")))
    run.run(spec, srcRows(Seq(
      (1L, "a", "2023-01-10 10:00:00"), (2L, "b", "2023-02-10 10:00:00"),
      (3L, "c", "2023-03-10 10:00:00"))))
    val pruned = spark.read.parquet(s"$dir/lake/testdb/events_src")
      .filter(col("mtime_YYYYMM") === "202302")
    assert(pruned.count() == 1)
    // the filter must land in PartitionFilters (directory pruning — the
    // whole point of the derived partition layout, matching the
    // reference's Athena partition design), not in the data filters
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("mtime_YYYYMM"), s"partition filter not pruned:\n$plan")
  }

  test("integer watermark mode (date_not_available = 1)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-e2e-int").toString
    val store = new LogStore(spark, s"$dir/logs")
    val run = new IngestionRun(spark, s"$dir/lake", store)
    val spec = mkSpec(Seq(PartitionSpec(1, PartitionSpec.NonTimeBased, "id", "1K")))
      .copy(deltaField = "id", dateNotAvailable = 1)

    val batch1 = srcRows(Seq((10L, "a", "2023-01-01 00:00:00"), (2500L, "b", "2023-01-02 00:00:00")))
    val logs1 = run.run(spec, batch1)
    assert(logs1.last.executionStatus == RunStatus.Success)
    assert(logs1.last.startValue == "1" && logs1.last.endValue == "2500")

    val lake = spark.read.parquet(s"$dir/lake/testdb/events_src")
    assert(lake.select($"id_range").distinct().as[Long].collect().toSet == Set(0L, 2L))

    val logs2 = run.run(spec, srcRows(Seq((2500L, "dup", "x"), (2600L, "c", "2023-01-03 00:00:00"))
      .map(r => (r._1, r._2, "2023-01-03 00:00:00"))))
    assert(logs2.last.startValue == "2501" && logs2.last.sourceCount == 1L)
  }

  test("invalid partition config fails the run without writing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-e2e-bad").toString
    val store = new LogStore(spark, s"$dir/logs")
    val run = new IngestionRun(spark, s"$dir/lake", store)
    val spec = mkSpec(Seq(PartitionSpec(1, PartitionSpec.TimeBased, "mtime", "YYYYMMDD HH")))
    val logs = run.run(spec, srcRows(Seq((1L, "a", "2023-01-01 00:00:00"))))
    assert(logs.map(_.executionStatus) == Seq(RunStatus.Failed))
    assert(!new java.io.File(s"$dir/lake/testdb/events_src").exists())
  }

  test("boundary-second rows: +1s bump skips them (parity), > semantics catches them") {
    // FIXTURES.md §4 scenario: rows landing in the watermark's boundary
    // second AFTER a run. Reference semantics (+1s bump) silently skip
    // them; inclusiveBump=false re-extracts the boundary second.
    def lifecycle(inclusive: Boolean): Long = {
      val dir = java.nio.file.Files.createTempDirectory("graft-bound").toString
      val store = new graft.state.LogStore(spark, s"$dir/logs")
      val run = new IngestionRun(spark, s"$dir/lake", store, inclusiveBump = inclusive)
      val spec = mkSpec(Nil)
      run.run(spec, srcRows(Seq((1L, "a", "2023-01-01 10:00:00"))))
      // a second row arrives with the SAME boundary second
      val batch2 = srcRows(Seq(
        (1L, "a", "2023-01-01 10:00:00"), (2L, "late", "2023-01-01 10:00:00")))
      run.run(spec, batch2)
      spark.read.parquet(s"$dir/lake/testdb/events_src")
        .select($"id").distinct().count()
    }
    assert(lifecycle(inclusive = true) == 1)  // row 2 skipped forever (reference quirk)
    assert(lifecycle(inclusive = false) == 2) // principled mode re-extracts the second
  }

  test("non-inclusive mode loads an UPDATED version of a boundary row (same pk, newer delta)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bound-upd").toString
    val store = new graft.state.LogStore(spark, s"$dir/logs")
    val run = new IngestionRun(spark, s"$dir/lake", store, inclusiveBump = false)
    val spec = mkSpec(Nil)
    run.run(spec, srcRows(Seq((1L, "v1", "2023-01-01 10:00:00"))))
    // the same pk is UPDATED at a newer delta; dedup must not drop it
    val logs2 = run.run(spec, srcRows(Seq((1L, "v2", "2023-01-01 10:00:05"))))
    assert(logs2.last.executionStatus == RunStatus.Success)
    val latest = graft.operators.LatestRowView.latestPerKey(
      spark.read.parquet(s"$dir/lake/testdb/events_src"), Seq("id"), Seq(col("mtime")))
    assert(latest.select($"v").as[String].head() == "v2")
  }

  test("coalesce delta: recently-modified old row beyond the conservative end validates and is re-extracted") {
    val dir = java.nio.file.Files.createTempDirectory("graft-coal-loop").toString
    val store = new graft.state.LogStore(spark, s"$dir/logs")
    val run = new IngestionRun(spark, s"$dir/lake", store)
    val spec = mkSpec(Nil).copy(deltaFieldExpr = "coalesce(mtime, ctime)")
    def src(rows: Seq[(Long, Option[String], String)]) = rows
      .toDF("id", "m", "c")
      .select($"id", to_timestamp($"m").as("mtime"), to_timestamp($"c").as("ctime"))

    // run 1: baseline watermark at 2024-05-01
    assert(run.run(spec, src(Seq((1L, None, "2024-05-01 00:00:00"))))
      .last.executionStatus == RunStatus.Success)
    // run 2: rowX was created long ago but modified AFTER the conservative
    // end (least(max(m), max(c)) = rowY's created) — previously a
    // permanent validation-failure/rollback loop
    val batch = src(Seq(
      (2L, Some("2024-06-10 00:00:00"), "2022-01-01 00:00:00"), // rowX
      (3L, None, "2024-06-01 00:00:00")))                       // rowY
    val logs2 = run.run(spec, batch)
    assert(logs2.last.executionStatus == RunStatus.Success)
    assert(logs2.last.endValue == "2024-06-01 00:00:00") // conservative bound
    assert(spark.read.parquet(s"$dir/lake/testdb/events_src").count() == 3)
    // run 3 re-extracts rowX past the bound — still green (at-least-once;
    // the latest-row view dedups)
    val logs3 = run.run(spec, batch)
    assert(logs3.last.executionStatus != RunStatus.ValidationFailure)
    val latest = graft.operators.LatestRowView.latestPerKey(
      spark.read.parquet(s"$dir/lake/testdb/events_src"),
      Seq("id"), Seq(expr("coalesce(mtime, ctime)")))
    assert(latest.count() == 3)
  }

  test("coalesce delta expression drives watermark and slice") {
    val dir = java.nio.file.Files.createTempDirectory("graft-e2e-coal").toString
    val store = new LogStore(spark, s"$dir/logs")
    val run = new IngestionRun(spark, s"$dir/lake", store)
    val spec = mkSpec(Nil).copy(
      deltaField = "mtime", deltaFieldExpr = "coalesce(mtime, ctime)")

    val src = Seq(
      (1L, Some("2023-01-10 10:00:00"), "2023-01-01 00:00:00"),
      (2L, None, "2023-01-05 00:00:00"),
    ).toDF("id", "m", "c")
      .select($"id", to_timestamp($"m").as("mtime"), to_timestamp($"c").as("ctime"))
    val logs = run.run(spec, src)
    assert(logs.last.executionStatus == RunStatus.Success)
    assert(logs.last.sourceCount == 2L)
    // conservative upper bound: least(max(mtime), max(ctime)) = 2023-01-05
    assert(logs.last.endValue == "2023-01-05 00:00:00")
  }
}
