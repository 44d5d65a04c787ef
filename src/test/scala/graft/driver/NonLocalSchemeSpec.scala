package graft.driver

import java.net.URI

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model._
import graft.state.LogStore

/** A local-disk FileSystem registered under a NON-`file:` scheme — stands in
  * for s3a://hdfs:// in tests. Any code that probes the lake with
  * `java.io.File` instead of Hadoop FS sees "missing" paths under this
  * scheme and mis-executes (the exact class of bug VERDICT r2 flagged in
  * IngestionRun's lake-existence probe).
  */
class GraftTestFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftfs:///")
  override def getScheme: String = "graftfs"

  // RawLocalFileSystem's DeprecatedRawLocalFileStatus lazy-loads permissions
  // via `new java.io.File(uri)`, which rejects non-`file:` URIs. Rebuild
  // statuses with concrete permissions so nothing revisits that path.
  private def sanitize(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, 1, s.getBlockSize,
      s.getModificationTime, s.getModificationTime, FsPermission.getDefault,
      null, null, s.getPath)

  override def getFileStatus(f: Path): FileStatus = sanitize(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(sanitize)
}

/** [[GraftTestFs]] under the `faultfs:` scheme, whose rename of the k-th
  * staged file into the lake returns false once armed — a store that
  * refuses one publish rename. Spark's own commit renames (`_temporary`)
  * and renames out of the lake are never refused.
  */
class FaultyRenameFs extends GraftTestFs {
  override def getUri: URI = URI.create("faultfs:///")
  override def getScheme: String = "faultfs"

  override def rename(src: Path, dst: Path): Boolean = {
    val s = src.toString
    val publishing = s.contains("/_graft_stage/") && !s.contains("/_temporary")
    if (publishing && FaultyRenameFs.renames.incrementAndGet() == FaultyRenameFs.failAt.get) false
    else super.rename(src, dst)
  }
}

object FaultyRenameFs {
  /** The publish rename that fails, counting from 1; 0 fails none. */
  val failAt = new java.util.concurrent.atomic.AtomicInteger(0)
  val renames = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Pins the whole ingestion lifecycle against a non-local FileSystem scheme.
  *
  * The run that matters: non-inclusive watermarks + a boundary-second row.
  * That path needs `lakeExists == true` on run 2 to (a) anti-join away the
  * already-loaded boundary row and (b) count pre-window lake rows. A
  * `java.io.File` probe returns false for `graftfs:` paths → no dedup, wrong
  * expected count → ValidationFailure on every run. Hadoop
  * `FileSystem.exists` keeps it green on every scheme.
  */
class NonLocalSchemeSpec extends SparkSpec {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration
    .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
  spark.sparkContext.hadoopConfiguration
    .set("fs.faultfs.impl", classOf[FaultyRenameFs].getName)

  private def srcRows(rows: Seq[(Long, String, String)]) =
    rows.toDF("id", "v", "s").select($"id", $"v", to_timestamp($"s").as("mtime"))

  private val spec = IngestionSpec(
    lakeIngestionId = 9L, ingestionType = "table", servername = "local",
    databasename = "testdb", tablename = "remote_tbl",
    deltaField = "mtime", deltaFieldExpr = "", dateNotAvailable = 0,
    activeIndicator = 1, targetType = "fs", targetLocation = "",
    primaryKey = "id", viewDb = "lv", viewName = "remote_tbl_lv",
    viewNeeded = 0, partitions = Seq(PartitionSpec(1, PartitionSpec.TimeBased, "mtime", "YYYYMM")),
    dagGroup = "g1")

  test("lifecycle on a graftfs:// lake: boundary dedup + validation still hold") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-scheme").toString
    val lakeRoot = s"graftfs:$tmp/lake"
    val store = new LogStore(spark, s"$tmp/logs")
    val run = new IngestionRun(spark, lakeRoot, store, inclusiveBump = false)

    val logs1 = run.run(spec, srcRows(Seq((1L, "a", "2023-01-01 10:00:00"))))
    assert(logs1.last.executionStatus == RunStatus.Success)

    // run 2 re-extracts the boundary second (>= semantics): row 1 must be
    // deduped against the graftfs lake, row 2 loaded, validation green
    val logs2 = run.run(spec, srcRows(Seq(
      (1L, "a", "2023-01-01 10:00:00"), (2L, "late", "2023-01-01 10:00:00"))))
    assert(logs2.last.executionStatus == RunStatus.Success,
      s"validation failed on non-file scheme: ${logs2.last.reasonCode}")

    val lake = spark.read.parquet(s"$lakeRoot/testdb/remote_tbl")
    assert(lake.select($"id").distinct().count() == 2)
    assert(lake.count() == 2, "boundary row double-loaded — lakeExists probe broken")
  }

  /** Every file under the local dir `dir`, relative to it. */
  private def filesUnder(dir: String): Set[String] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => root.relativize(p).toString).toSet
    } finally walk.close()
  }

  test("a partition config error on a graftfs:// lake fails before creating the lake") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-scheme-rb").toString
    val lakeRoot = s"graftfs:$tmp/lake"
    // invalid partition spec fails before writing; the Hadoop-FS existence
    // check must see the (absent) path without throwing on the scheme
    val store = new LogStore(spark, s"$tmp/logs")
    val run = new IngestionRun(spark, lakeRoot, store)
    val bad = spec.copy(partitions = Seq(PartitionSpec(1, PartitionSpec.TimeBased, "mtime", "YYYYMMDD HH")))
    val logs = run.run(bad, srcRows(Seq((1L, "a", "2023-01-01 00:00:00"))))
    assert(logs.map(_.executionStatus) == Seq(RunStatus.Failed))
    val p = new org.apache.hadoop.fs.Path(s"$lakeRoot/testdb/remote_tbl")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(p))
  }

  // the rollback is the discard of the staged batch: its graftfs:// files
  // are deleted, and nothing reaches the lake
  test("rollback on validation failure deletes graftfs:// files too") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-scheme-vf").toString
    val lakeRoot = s"graftfs:$tmp/lake"
    val store = new LogStore(spark, s"$tmp/logs")
    val first = new IngestionRun(spark, lakeRoot, store)
    assert(first.run(spec, srcRows(Seq((1L, "a", "2023-01-01 10:00:00"))).drop("v"))
      .last.executionStatus == RunStatus.Success)
    val lakeDir = s"$tmp/lake/testdb/remote_tbl"
    val before = filesUnder(lakeDir)
    // uncached: the write lands a phantom row the counts never saw
    val failing = new IngestionRun(spark, lakeRoot, store, cacheSlice = false)
    val logs = failing.run(spec,
      phantomSource((3L, "2023-02-10 00:00:00"), (4L, "2023-02-05 00:00:00")))
    assert(logs.last.executionStatus == RunStatus.ValidationFailure)
    assert(logs.last.reasonCode.endsWith("staged batch discarded, nothing published"))
    assert(filesUnder(lakeDir) == before)
    assert(Option(new java.io.File(s"$lakeDir/_graft_stage").list()).forall(_.isEmpty),
      "a staged batch was left behind")
  }

  test("a refused publish rename moves published files back and logs extraction-failure") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-scheme-pub").toString
    val lakeRoot = s"faultfs:$tmp/lake"
    val store = new LogStore(spark, s"$tmp/logs")
    val orch = new Orchestrator(spark, lakeRoot, store, parallelism = 1)
    assert(orch.runAll(Seq(spec), _ => srcRows(Seq((1L, "a", "2023-01-01 10:00:00")))) ==
      Map(spec.lakeIngestionId -> RunStatus.Success))
    val lakeDir = s"$tmp/lake/testdb/remote_tbl"
    val before = filesUnder(lakeDir)
    // three months → three staged files; the second rename is refused
    // after the first has landed in the lake
    val next = srcRows(Seq((2L, "b", "2023-02-01 10:00:00"),
      (3L, "c", "2023-03-01 10:00:00"), (4L, "d", "2023-04-01 10:00:00")))
    FaultyRenameFs.renames.set(0)
    FaultyRenameFs.failAt.set(2)
    val status =
      try orch.runAll(Seq(spec), _ => next)
      finally FaultyRenameFs.failAt.set(0)
    assert(FaultyRenameFs.renames.get == 2, "the fault must hit after one file was published")
    assert(status == Map(spec.lakeIngestionId -> RunStatus.ExtractionFailure))
    assert(store.forIngestionRows(spec.lakeIngestionId).exists(r =>
      r.executionStatus == RunStatus.ExtractionFailure && r.reasonCode.contains("publish into")))
    assert(filesUnder(lakeDir) == before)
    // the window is still unloaded: the next run publishes it whole
    assert(orch.runAll(Seq(spec), _ => next) == Map(spec.lakeIngestionId -> RunStatus.Success))
    assert(spark.read.parquet(s"$lakeRoot/testdb/remote_tbl").count() == 4)
  }
}
