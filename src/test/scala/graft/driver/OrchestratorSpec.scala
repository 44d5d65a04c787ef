package graft.driver

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model._
import graft.state.LogStore

class OrchestratorSpec extends SparkSpec {
  import spark.implicits._

  test("concurrent multi-spec run: independent lakes, contained failures, inactive skipped") {
    val dir = java.nio.file.Files.createTempDirectory("graft-orch").toString
    val store = new LogStore(spark, s"$dir/logs")
    val orch = new Orchestrator(spark, s"$dir/lake", store, parallelism = 4)

    def spec(id: Long, table: String, active: Int = 1) = IngestionSpec(
      id, "table", "l", "db", table, "mtime", "", 0, active, "fs", "",
      "id", "lv", s"${table}_lv", 0, Nil, "g")
    def src(n: Int) = (1 to n).map(i => (i.toLong, f"2023-01-$i%02d 00:00:00"))
      .toDF("id", "s").select($"id", to_timestamp($"s").as("mtime"))

    val specs = Seq(spec(1, "t1"), spec(2, "t2"), spec(3, "t_broken"),
      spec(4, "t_inactive", active = 0))
    val statuses = orch.runAll(specs, {
      case s if s.tablename == "t_broken" => sys.error("source unavailable")
      case s if s.tablename == "t1"       => src(5)
      case _                              => src(3)
    })

    assert(statuses == Map(1L -> RunStatus.Success, 2L -> RunStatus.Success,
      3L -> RunStatus.ExtractionFailure))
    assert(spark.read.parquet(s"$dir/lake/db/t1").count() == 5)
    assert(spark.read.parquet(s"$dir/lake/db/t2").count() == 3)
    assert(!new java.io.File(s"$dir/lake/db/t_inactive").exists())
    // the failure was logged with the reference's reason code shape
    val failLog = store.forIngestion(3L).collect()
    assert(failLog.length == 1 && failLog.head.reasonCode.startsWith("exception-occured"))
  }

  test("semanticTick: multi-tick lifecycle, replay skip, and crash-between-sinks repair") {
    val dir = java.nio.file.Files.createTempDirectory("graft-semtick").toString
    val emb = graft.sources.Tables.load(spark, SfDir, "embeddings")
      .select($"vec_id", $"embedding")
    val corpus = emb.filter($"vec_id" < 300)
    val (vec, margin, verd) = (s"$dir/vec", s"$dir/margin", s"$dir/verd")
    graft.functions.VecIndex.build(spark, corpus, vec, kPerHalf = 4, iters = 0)
    graft.functions.MarginIndex.build(spark, corpus, margin, kPerHalf = 4)
    val store = new LogStore(spark, s"$dir/logs")
    val orch = new Orchestrator(spark, dir, store)
    // tick 1: fresh rows + planted corpus twins (the twins must drop)
    val b1 = emb.filter($"vec_id" >= 300 && $"vec_id" < 380)
      .unionByName(corpus.filter($"vec_id" < 10)
        .select(($"vec_id" + 5000L).as("vec_id"), $"embedding"))
    val r1 = orch.semanticTick(b1, vec, verd, tick = 1L,
      marginTable = Some(margin), logId = 7L)
    assert(r1.landed && r1.verdictLanded && r1.validated &&
      r1.marginVersion.isDefined)
    assert(r1.batchRows == 90 && r1.dropped >= 10,
      s"planted twins must be dropped: $r1")
    // tick 2 with monotone ids; then a REPLAY of tick 2 skips every sink
    val b2 = emb.filter($"vec_id" >= 430)
    val r2 = orch.semanticTick(b2, vec, verd, tick = 2L,
      marginTable = Some(margin), logId = 7L)
    assert(r2.landed && r2.validated)
    val r2r = orch.semanticTick(b2, vec, verd, tick = 2L,
      marginTable = Some(margin), logId = 7L)
    assert(!r2r.landed && !r2r.verdictLanded && r2r.marginVersion.isEmpty &&
      r2r.validated, s"a replayed tick must skip all sinks and validate: $r2r")
    // verdicts exactly-once across the three runs
    val vAll = graft.sink.TxTable.read(spark, verd)
    assert(vAll.count() == b1.count() + b2.count())
    // the margin index holds exactly the survivors (data rows only)
    val marginRows = graft.sink.TxTable.read(spark, margin)
      .filter($"cn".isNotNull).count()
    assert(marginRows == corpus.count() + r1.kept + r2.kept)
    // the run log recorded the lifecycle (started + success per run)
    val logs = store.forIngestion(7L).collect()
    assert(logs.count(_.executionStatus == RunStatus.Success) == 3)

    // CRASH BETWEEN SINKS: tick 3's verdicts land, then the "crash" —
    // the next run must repair (vec + margin land) while the verdict
    // sink skips, and validation still holds
    val b3 = emb.filter($"vec_id" >= 380 && $"vec_id" < 430)
    val survivors3 = graft.functions.VecIndex.dedupBatch(spark, vec, b3)
      .select($"vec_id".cast("long").as("vec_id"))
    val verdicts3 = b3.select($"vec_id".cast("long").as("vec_id"))
      .join(survivors3.withColumn("kept", lit(true)), Seq("vec_id"), "left")
      .select($"vec_id", coalesce($"kept", lit(false)).as("kept"))
    graft.sink.TxTable.appendOnce(spark, verdicts3, verd, "semantic-tick", 3L)
    val r3 = orch.semanticTick(b3, vec, verd, tick = 3L,
      marginTable = Some(margin), logId = 7L)
    assert(r3.landed && !r3.verdictLanded && r3.marginVersion.isDefined &&
      r3.validated, s"crash-between-sinks repair must land the missing halves: $r3")
    assert(graft.sink.TxTable.read(spark, verd).count() ==
      b1.count() + b2.count() + b3.count(), "no verdict may land twice")
  }

  test("statRowCount: stat sum degrades to a counted read when a file lacks stats") {
    import graft.sink.TxTable
    val t = java.nio.file.Files.createTempDirectory("graft-src").toString + "/tbl"
    // statted commit (fileStats always rides RowCountStat along)
    TxTable.append(spark, (1L to 5L).toDF("id"), t, statsCols = Seq("id"))
    assert(TxTable.rowCount(spark, t) == 5L)
    // stat-LESS commit — fileStats' keep-safe fallback shape; the count
    // must fall back to a read instead of silently deflating (the
    // deflation turned into spurious ValidationFailures in the tick's
    // count validation, r12 ADVICE)
    TxTable.append(spark, (6L to 8L).toDF("id"), t)
    assert(TxTable.rowCount(spark, t) == 8L)
  }
}
