package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.model.RunStatus

/** The benchmark's own checks must catch planted faults, count a failing
  * source as a failed operation, and keep unknown call sites out of the
  * layers.
  */
class BenchChecksSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("perfbench-spec").toString

  test("a dropped lake row fails the lake check") {
    assert(Checks.lake("t", 100L, 5000L, 100L, 5000L).ok)
    assert(!Checks.lake("t", 99L, 4950L, 100L, 5000L).ok)
    assert(!Checks.lake("t", 100L, 4950L, 100L, 5000L).ok, "same count, lost cents")
  }

  test("a row belongs to the round whose slice holds its delta") {
    val cuts = Array(10L, 20L, 30L)
    assert(Seq(5L, 9L, 10L, 19L, 20L, 29L).map(Ingest.roundOf(cuts, _)) == Seq(0, 0, 1, 1, 2, 2))
  }

  test("statuses: success where data is expected, no-data only where it is not") {
    assert(Checks.status("s", RunStatus.Success, expectData = true).ok)
    assert(Checks.status("s", RunStatus.NoData, expectData = false).ok)
    assert(!Checks.status("s", RunStatus.NoData, expectData = true).ok)
    assert(!Checks.status("s", RunStatus.ExtractionFailure, expectData = true).ok)
  }

  test("a spec whose source throws is a failed operation, not a fast one") {
    val root = tmpDir()
    val derby = new Ingest.Derby("perfbench_spec", Array.empty)
    try {
      val st = new Ingest.State(root, derby, spark, parallelism = 2)
      val specs = Seq(Ingest.Sources.head, Ingest.Sources.last) // one tx, one plain
      val res = Ingest.runRound(spark, st, 2,
        _ => throw new IllegalStateException("source down"), specs)
      assert(res.values.toSet == Set(RunStatus.ExtractionFailure))
      val out = new Outcome
      res.values.foreach(s => out.attempt(Checks.status("s", s, expectData = true).ok))
      assert(out.attempted == 2 && out.failed == 2)
    } finally { derby.close(); Files.rm(root) }
  }

  test("layer of a call site: innermost graft layer frame, helpers skipped") {
    val site = Seq(
      "graft.util.JobLabel$.apply(JobLabel.scala:15)",
      "graft.functions.Dedup$.simhash60Agg(Dedup.scala:10)",
      "graft.driver.Orchestrator.semanticTick(Orchestrator.scala:90)").mkString("\n")
    assert(Layers.of(site).contains("functions"))
    assert(Layers.of("graft.SparkEntry$.$anonfun$queries$1(SparkEntry.scala:1)\n" +
      "perfbench.Query$.run(Query.scala:1)").isEmpty)
    assert(Layers.of("graft.tools.OptProf$.main(OptProf.scala:1)").isEmpty)
    assert(Layers.of(null).isEmpty)
  }

  test("an unknown call site lands in unattributed; a layer's action in its layer") {
    val trace = new LayerTrace(spark.sparkContext)
    try {
      trace.step("unknown", traced = true) { spark.range(100).count() }
      trace.step("sources", traced = true) {
        graft.sources.Incremental.deltaBounds(spark.range(100).toDF("id"), "id")
      }
      trace.step("idle", traced = false) { spark.range(10).count() }
      val byStep = trace.stepSpans.map(s => s.name -> trace.jobSpans.filter(j =>
        j.startMs >= s.startMs && j.startMs <= s.endMs).map(_.layer).toSet).toMap
      assert(byStep("unknown") == Set(Layers.Unattributed))
      assert(byStep("sources") == Set("sources"))
      assert(byStep("idle").isEmpty, "untraced steps record nothing")
      val summary = TraceSummary(trace)
      assert(summary("unattributed_jobs") > 0 && summary("sources.jobs") > 0)
    } finally spark.sparkContext.removeSparkListener(trace)
  }

  test("the declared layer covers only the final action, not the entry's own jobs") {
    val trace = new LayerTrace(spark.sparkContext)
    try {
      val t = trace.step("entry", traced = true) {
        Query.timeEntry(spark, "e", "operators", {
          spark.range(50).count() // eager work inside the entry's closure
          spark.range(10).toDF("id")
        })(_.write.mode("overwrite").format("noop").save())
      }
      assert(t.isDefined)
      val jobs = trace.jobSpans
      assert(jobs.head.layer == Layers.Unattributed, "the closure's own job")
      assert(jobs.last.layer == "operators", "the benchmark's final action")
      assert(spark.sparkContext.getLocalProperty(Layers.DeclaredKey) == null)
      assert(Query.timeEntry(spark, "e", "operators", throw new IllegalStateException("boom"))(
        _ => ()).isEmpty, "a throwing entry is a failed operation")
    } finally spark.sparkContext.removeSparkListener(trace)
  }

  test("traced steps follow T U U T from step 1; the first step is never traced") {
    val ctx = new Ctx(spark, "", "", 0L, 0.0, 1, 1, Some(null))
    assert((0 to 8).filter(ctx.traceStep) == Seq(1, 4, 5, 8))
    val untraced = new Ctx(spark, "", "", 0L, 0.0, 1, 1, None)
    assert((0 to 8).forall(i => !untraced.traceStep(i)))
  }

  test("percentiles only with 10 samples beyond them") {
    assert(Stats.samplesFor(0.9) == 100)
    assert(Stats.percentile((1 to 99).map(_.toDouble), 0.9).isEmpty)
    assert(Stats.percentile((1 to 100).map(_.toDouble), 0.9).contains(90.0))
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("single-task time counts only spans with exactly one task running") {
    val a = TaskSpan("sink", 0L, 100L, 100L, 0L, 0L)
    val b = TaskSpan("functions", 50L, 300L, 250L, 0L, 0L)
    val m = TraceSummary.singleTaskMs(Seq(a, b))
    assert(m == Map("sink" -> 50L, "functions" -> 200L))
  }
}
