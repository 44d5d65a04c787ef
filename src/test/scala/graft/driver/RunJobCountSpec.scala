package graft.driver

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model._
import graft.state.LogStore

/** IngestionRun's scale claims as a build check: the lake snapshot is
  * taken once per run and validation is O(run), so a steady-state run
  * schedules the same number of Spark jobs whether the lake holds 2 or 6
  * earlier loads. (The plain lake read's own listing turns into a Spark
  * job above 32 partition dirs — a step, not growth; the lakes here stay
  * below it.)
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

  /** Source rows for days 1..`day`: each run loads one new day. */
  private def upTo(day: Int) =
    (1 to day).flatMap(d => Seq((d * 10L, "a", f"2023-01-$d%02d 08:00:00"),
        (d * 10L + 1, "b", f"2023-01-$d%02d 09:00:00")))
      .toDF("id", "v", "s").select($"id", $"v", to_timestamp($"s").as("mtime"))

  /** Jobs of each of `runs` daily runs on a fresh lake, and the lake's
    * table path for `spec(id)`.
    */
  private def jobsPerRun(txLake: Boolean, id: Long, runs: Int): (Seq[Int], String) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    val run = new IngestionRun(spark, s"$dir/lake", new LogStore(spark, s"$dir/logs"),
      txLake = txLake)
    val counts = (1 to runs).map { day =>
      val (logs, jobs) = jobsRan(run.run(spec(id), upTo(day)))
      assert(logs.last.executionStatus == RunStatus.Success, s"day $day")
      jobs
    }
    (counts, run.lakePath(spec(id)))
  }

  test("a steady-state tx run schedules as many jobs after 6 prior runs as after 2") {
    val counts = jobsPerRun(txLake = true, 31L, 7)._1
    assert(counts(6) == counts(2), s"jobs grew with the lake: ${counts(2)} → ${counts(6)}")
  }

  test("a steady-state plain run schedules as many jobs after 6 prior runs as after 2") {
    val counts = jobsPerRun(txLake = false, 32L, 7)._1
    assert(counts(6) == counts(2), s"jobs grew with the lake: ${counts(2)} → ${counts(6)}")
  }

  test("a tx run whose commit lands on a checkpoint version schedules as many jobs as the run before it") {
    val (counts, lake) = jobsPerRun(txLake = true, 33L, 10)
    // one commit per run: run 10 publishes v10, a checkpoint version
    assert(graft.sink.TxTable.headVersion(spark, lake) == 10L)
    assert(counts(9) == counts(8), s"the checkpointing run: ${counts(8)} → ${counts(9)} jobs")
  }
}
