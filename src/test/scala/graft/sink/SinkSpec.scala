package graft.sink

import graft.SparkSpec

class SinkSpec extends SparkSpec {
  import spark.implicits._

  test("Rollback on a missing dir is a no-op") {
    assert(Rollback.listFiles(spark, "/tmp/graft-definitely-missing").isEmpty)
  }

  test("upsertSql golden text") {
    assert(JdbcSink.upsertSql("db.t", Seq("id", "v")) ==
      "INSERT INTO db.t (id, v) VALUES (?, ?) ON DUPLICATE KEY UPDATE id = VALUES(id), v = VALUES(v)")
  }

  test("mergeUpsertSql golden text + bind order") {
    assert(JdbcSink.mergeUpsertSql("APP.T", Seq("id", "v", "w"), Seq("id")) ==
      "MERGE INTO APP.T USING SYSIBM.SYSDUMMY1 ON APP.T.id = ? " +
        "WHEN MATCHED THEN UPDATE SET v = ?, w = ? " +
        "WHEN NOT MATCHED THEN INSERT (id, v, w) VALUES (?, ?, ?)")
    assert(JdbcSink.mergeBindOrder(Seq("id", "v", "w"), Seq("id")) ==
      Seq(0, 1, 2, 0, 1, 2))
    intercept[IllegalArgumentException] {
      JdbcSink.mergeUpsertSql("t", Seq("id"), Seq("missing"))
    }
  }

  test("live merge upsert on Derby: insert, update, idempotent replay") {
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    val url = "jdbc:derby:memory:graftsink;create=true"
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE APP.UP_T") catch { case _: Throwable => () }
      st.execute("CREATE TABLE APP.UP_T (ID BIGINT PRIMARY KEY, V BIGINT)")
    } finally conn.close()
    val b1 = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("ID", "V")
    JdbcSink.upsert(b1.repartition(2), url, "APP.UP_T", mergeKeys = Seq("ID"))
    // overlap: 2,3 update; 4 inserts
    val b2 = Seq((2L, 200L), (3L, 300L), (4L, 400L)).toDF("ID", "V")
    JdbcSink.upsert(b2.repartition(2), url, "APP.UP_T", mergeKeys = Seq("ID"))
    // replaying an identical batch must be a no-op on the final state
    JdbcSink.upsert(b2, url, "APP.UP_T", mergeKeys = Seq("ID"))
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val got = spark.read.jdbc(url, "APP.UP_T", p)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(got == Seq((1L, 10L), (2L, 200L), (3L, 300L), (4L, 400L)))
  }

  test("pre-existing window rows are absorbed by append accounting (no rollback loop)") {
    import org.apache.spark.sql.functions._
    import graft.model._
    val dir = java.nio.file.Files.createTempDirectory("graft-absorb").toString
    val store = new graft.state.LogStore(spark, s"$dir/logs")
    val run = new graft.driver.IngestionRun(spark, s"$dir/lake", store)
    val spec = IngestionSpec(9L, "table", "local", "db", "t", "mtime", "", 0, 1,
      "fs", "", "id", "lv", "t_lv", 0, Nil, "g")
    val src = Seq((1L, "2023-01-01 10:00:00")).toDF("id", "s")
      .select($"id", to_timestamp($"s").as("mtime"))
    assert(run.run(spec, src).last.executionStatus == RunStatus.Success)
    // a row lands in the lake between runs INSIDE the next window (e.g. a
    // backfill job): validation verifies THIS run's load, pre rows count
    // toward the expectation instead of looping a rollback forever
    Seq((99L, "2023-01-15 00:00:00")).toDF("id", "s")
      .select($"id", to_timestamp($"s").as("mtime"))
      .write.mode("append").parquet(s"$dir/lake/db/t")
    val src2 = Seq((1L, "2023-01-01 10:00:00"), (2L, "2023-02-01 10:00:00")).toDF("id", "s")
      .select($"id", to_timestamp($"s").as("mtime"))
    val logs2 = run.run(spec, src2)
    assert(logs2.last.executionStatus == RunStatus.Success)
    assert(spark.read.parquet(s"$dir/lake/db/t").count() == 3)
  }

  test("a source that changes mid-run (non-repeatable read) fails validation and rolls back") {
    import graft.model._
    val dir = java.nio.file.Files.createTempDirectory("graft-rbrun").toString
    val store = new graft.state.LogStore(spark, s"$dir/logs")
    // cacheSlice=false: every branch re-scans the live source (the
    // streaming-a-huge-backfill configuration), so the mid-run mutation
    // must be caught by count validation, not prevented by the cache
    val run = new graft.driver.IngestionRun(spark, s"$dir/lake", store, cacheSlice = false)
    val spec = IngestionSpec(9L, "table", "local", "db", "t", "mtime", "", 0, 1,
      "fs", "", "id", "lv", "t_lv", 0, Nil, "g")
    // a source mutating underneath the run: the phantom row materializes
    // ONLY while a file-write task evaluates the source, so the counting
    // actions see 1 row and the write lands 2 — both inside the window
    // the counts derived
    val src = phantomSource((1L, "2023-01-10 00:00:00"), (2L, "2023-01-05 00:00:00"))
    val logs = run.run(spec, src)
    assert(logs.last.executionStatus == RunStatus.ValidationFailure)
    assert(logs.last.reasonCode.contains("staged batch discarded, nothing published"))
    // the phantom write was staged, never published, and is gone
    assert(Rollback.listFiles(spark, s"$dir/lake/db/t")
      .count(_.endsWith(".parquet")) == 0)
  }

  test("with the default cached slice, a mid-run source mutation is snapshot-isolated away") {
    import graft.model._
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val store = new graft.state.LogStore(spark, s"$dir/logs")
    val run = new graft.driver.IngestionRun(spark, s"$dir/lake", store)
    val spec = IngestionSpec(9L, "table", "local", "db", "t", "mtime", "", 0, 1,
      "fs", "", "id", "lv", "t_lv", 0, Nil, "g")
    // same phantom-while-written source as above: with the slice persisted
    // on first materialization, the write consumes the CACHED snapshot, so
    // the phantom never lands and the run validates clean
    val src = phantomSource((1L, "2023-01-10 00:00:00"), (2L, "2023-01-05 00:00:00"))
    // outside a write, the iterator emits exactly one row per partition —
    // this is the stable row count the snapshot should pin
    val stableCount = src.count()
    val logs = run.run(spec, src)
    assert(logs.last.executionStatus == RunStatus.Success)
    // no phantom rows landed: the write consumed the cached snapshot (an
    // uncached write would have doubled every partition)
    assert(spark.read.parquet(s"$dir/lake/db/t").count() == stableCount)
  }

  private def plainSpec =
    graft.model.IngestionSpec(9L, "table", "local", "db", "t", "mtime", "", 0, 1,
      "fs", "", "id", "lv", "t_lv", 0, Nil, "g")

  private def stableSource(rows: (Long, String)*) = {
    import org.apache.spark.sql.functions.to_timestamp
    rows.toDF("id", "s").select($"id", to_timestamp($"s").as("mtime"))
  }

  /** Every file under `dir`, relative to it, as java.io sees it. */
  private def filesUnder(dir: String): Set[String] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => root.relativize(p).toString).toSet
    } finally walk.close()
  }

  test("a plain spec whose first run was rolled back loads its window on the next run") {
    import graft.model._
    val dir = java.nio.file.Files.createTempDirectory("graft-rbfirst").toString
    val store = new graft.state.LogStore(spark, s"$dir/logs")
    val run = new graft.driver.IngestionRun(spark, s"$dir/lake", store, cacheSlice = false)
    val bad = run.run(plainSpec,
      phantomSource((1L, "2023-01-10 00:00:00"), (2L, "2023-01-05 00:00:00")))
    assert(bad.last.executionStatus == RunStatus.ValidationFailure)
    // the discarded batch leaves the lake dir behind with no data file in it
    assert(new java.io.File(s"$dir/lake/db/t").isDirectory)
    val good = run.run(plainSpec, stableSource((1L, "2023-01-10 00:00:00")))
    assert(good.last.executionStatus == RunStatus.Success)
    assert(good.last.targetCount == 1L)
    assert(spark.read.parquet(s"$dir/lake/db/t").count() == 1L)
  }

  test("a plain lake dir holding only _SUCCESS or _temporary reads as absent") {
    import graft.model._
    for (leftover <- Seq("_SUCCESS", "_temporary/0/_temporary/part-00000.snappy.parquet",
        "_graft_stage/batch-x/part-0.parquet")) {
      val dir = java.nio.file.Files.createTempDirectory("graft-leftover").toString
      val lake = s"$dir/lake/db/t"
      // a real parquet file under `_temporary` or `_graft_stage`: hidden
      // from Spark's reads
      Seq((5L, "x")).toDF("id", "v").write.parquet(s"$dir/scratch")
      val part = new java.io.File(s"$dir/scratch").listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      val target = java.nio.file.Paths.get(s"$lake/$leftover")
      java.nio.file.Files.createDirectories(target.getParent)
      java.nio.file.Files.copy(part, target)
      val store = new graft.state.LogStore(spark, s"$dir/logs")
      val run = new graft.driver.IngestionRun(spark, s"$dir/lake", store)
      val logs = run.run(plainSpec, stableSource(
        (1L, "2023-01-10 00:00:00"), (2L, "2023-01-11 00:00:00")))
      assert(logs.last.executionStatus == RunStatus.Success, leftover)
      assert(logs.last.targetCount == 2L, leftover)
      assert(spark.read.parquet(lake).count() == 2L, leftover)
    }
  }

  test("a plain lake's crashed staged batch is neither counted nor published by the next run") {
    import graft.model._
    val dir = java.nio.file.Files.createTempDirectory("graft-stale").toString
    val lake = s"$dir/lake/db/t"
    val store = new graft.state.LogStore(spark, s"$dir/logs")
    val run = new graft.driver.IngestionRun(spark, s"$dir/lake", store)
    assert(run.run(plainSpec, stableSource((1L, "2023-01-10 00:00:00")))
      .last.executionStatus == RunStatus.Success)
    // a run that crashed after staging: its batch holds rows inside the
    // next run's window
    stableSource((7L, "2023-01-11 06:00:00"), (8L, "2023-01-11 12:00:00"))
      .write.parquet(s"$lake/_graft_stage/batch-crashed")
    val logs = run.run(plainSpec, stableSource((1L, "2023-01-10 00:00:00"),
      (2L, "2023-01-11 00:00:00"), (3L, "2023-01-12 00:00:00")))
    assert(logs.last.executionStatus == RunStatus.Success, logs.last.reasonCode)
    // the stale rows sit inside this run's window: had the lake read
    // seen them, the pre-window count would make the target 4
    assert(logs.last.targetCount == 2L)
    assert(!new java.io.File(s"$lake/_graft_stage/batch-crashed").exists,
      "the run clears _graft_stage before it stages")
    assert(spark.read.parquet(lake).as[(Long, java.sql.Timestamp)].collect()
      .map(_._1).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("a failed plain run under a path with a space deletes exactly its own data files") {
    import graft.model._
    val dir = java.nio.file.Files.createTempDirectory("graft rb space").toString
    val lakeRoot = s"$dir/lake root"
    val lake = s"$lakeRoot/db/t"
    val store = new graft.state.LogStore(spark, s"$dir/logs")
    val first = new graft.driver.IngestionRun(spark, lakeRoot, store)
    assert(first.run(plainSpec, stableSource(
      (1L, "2023-01-10 00:00:00"), (2L, "2023-01-11 00:00:00")))
      .last.executionStatus == RunStatus.Success)
    val kept = filesUnder(lake)
    def data(fs: Set[String]) = fs.filter(_.endsWith(".parquet"))
      .filterNot(f => f.split("/").exists(c => c.startsWith(".") || c.startsWith("_")))
    assert(data(kept).nonEmpty &&
      data(kept).forall(f => kept.exists(_.endsWith(s".${f.split("/").last}.crc"))),
      s"the first run's data files and their .crc files: $kept")

    val failing = new graft.driver.IngestionRun(spark, lakeRoot, store, cacheSlice = false)
    val logs = failing.run(plainSpec,
      phantomSource((3L, "2023-02-10 00:00:00"), (4L, "2023-02-05 00:00:00")))
    assert(logs.last.executionStatus == RunStatus.ValidationFailure)
    val after = filesUnder(lake)
    assert(after == kept, s"gone: ${kept -- after}, added: ${after -- kept}")
    assert(spark.read.parquet(lake).as[(Long, java.sql.Timestamp)].collect()
      .map(_._1).sorted.toSeq == Seq(1L, 2L))
    assert(logs.last.reasonCode.endsWith("staged batch discarded, nothing published"),
      logs.last.reasonCode)
  }
}
