package graft.driver

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model._
import graft.sink.TxTable
import graft.state.LogStore

/** IngestionRun's scale claims as a build check: the lake snapshot is
  * taken once per run, the lake tail reads only the partitions the
  * watermark can reach, and validation is O(run), so a steady-state run
  * schedules the same number of Spark jobs whether the lake holds 2 or 6
  * earlier loads — and none of them lists files or infers a schema,
  * even over a lake wider than Spark's 32-path driver-side listing
  * threshold (40 daily partition dirs, a 40-file backfill batch).
  */
class RunJobCountSpec extends SparkSpec {
  import spark.implicits._

  private def spec(id: Long) = IngestionSpec(
    lakeIngestionId = id, ingestionType = "table", servername = "local",
    databasename = "jobsdb", tablename = s"t$id",
    deltaField = "mtime", deltaFieldExpr = "", dateNotAvailable = 0,
    activeIndicator = 1, targetType = "fs", targetLocation = "",
    primaryKey = "id", viewDb = "lv", viewName = s"t${id}_lv",
    viewNeeded = 0,
    partitions = Seq(PartitionSpec(1, PartitionSpec.TimeBased, "mtime", "YYYYMMDD")),
    dagGroup = "g1")

  /** Source rows for days 1..`day` from 2023-01-01: each run loads the
    * days the lake does not hold yet.
    */
  private def upTo(day: Int) =
    (1 to day).flatMap { d =>
      val date = java.time.LocalDate.of(2023, 1, 1).plusDays(d - 1L)
      Seq((d * 10L, "a", s"$date 08:00:00"), (d * 10L + 1, "b", s"$date 09:00:00"))
    }.toDF("id", "v", "s").select($"id", $"v", to_timestamp($"s").as("mtime"))

  /** The jobs of one run per entry of `days` (a run loads up to that
    * day) on a fresh lake, and the lake's table path for `spec(id)`.
    */
  private def jobsPerRun(txLake: Boolean, id: Long, days: Seq[Int])
      : (Seq[Seq[SparkSpec.Job]], String) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    val run = new IngestionRun(spark, s"$dir/lake", new LogStore(spark, s"$dir/logs"),
      txLake = txLake)
    val jobs = days.map { day =>
      val (logs, jobs) = jobsSeen(run.run(spec(id), upTo(day)))
      assert(logs.last.executionStatus == RunStatus.Success, s"day $day")
      jobs
    }
    (jobs, run.lakePath(spec(id)))
  }

  test("a steady-state tx run schedules as many jobs after 6 prior runs as after 2") {
    val counts = jobsPerRun(txLake = true, 31L, 1 to 7)._1.map(_.size)
    assert(counts(6) == counts(2), s"jobs grew with the lake: ${counts(2)} → ${counts(6)}")
  }

  test("a steady-state plain run schedules as many jobs after 6 prior runs as after 2") {
    val counts = jobsPerRun(txLake = false, 32L, 1 to 7)._1.map(_.size)
    assert(counts(6) == counts(2), s"jobs grew with the lake: ${counts(2)} → ${counts(6)}")
  }

  test("a tx run whose commit lands on a checkpoint version schedules as many jobs as the run before it") {
    val (jobs, lake) = jobsPerRun(txLake = true, 33L, 1 to 10)
    // one commit per run: run 10 publishes v10, a checkpoint version
    assert(TxTable.headVersion(spark, lake) == 10L)
    assert(jobs(9).size == jobs(8).size,
      s"the checkpointing run: ${jobs(8).size} → ${jobs(9).size} jobs")
  }

  test("a steady-state run over a 40-day backfill lists no files and infers no schema, tx and plain") {
    Seq(true -> 34L, false -> 35L).foreach { case (tx, id) =>
      val (jobs, lake) = jobsPerRun(tx, id, Seq(40, 41, 42))
      // the backfill is wider than the 32-path threshold: a full read
      // of it would list with a Spark job
      val wide =
        if (tx) TxTable.filesAt(spark, lake, 1L).size
        else new java.io.File(lake).list().count(_.startsWith("mtime_YYYYMMDD="))
      assert(wide >= 40, s"tx=$tx: the backfill wrote $wide files/dirs")
      jobs.drop(1).foreach { run =>
        val meta = run.filter(j => j.isListing || j.isParquetSchema)
        assert(meta.isEmpty, s"tx=$tx: plan-time jobs ${meta.mkString(", ")}")
      }
    }
  }

  test("every job of a run carries the run's spec label") {
    val (jobs, _) = jobsPerRun(txLake = false, 36L, Seq(2, 3))
    jobs.foreach { run =>
      assert(run.nonEmpty)
      assert(run.forall(_.description == "ingest jobsdb.t36"), run.mkString(", "))
    }
  }
}
