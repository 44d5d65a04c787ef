package graft.state

import java.sql.Timestamp

import org.apache.hadoop.fs.Path

import graft.SparkSpec
import graft.model.{RunLog, RunStatus}

/** Pins the run log's one codec — the driver-side parquet Group
  * writer/reader behind every append, every compaction and every
  * watermark-recovery read — against the Spark read path: the same rows
  * must come back through BOTH readers, micros-exact timestamps and null
  * fields included; a compacted log must stay in the codec's format (no
  * fallback); and the codec must hand a legacy Spark-written
  * (INT96-timestamp) part to the Spark read, which one compaction then
  * folds back into the codec's format. The "no Spark job" claims are
  * job counts here, not comments.
  */
class LogStoreDriverIoSpec extends SparkSpec {
  import spark.implicits._

  private def row(id: Long, status: String, end: String, at: Long): RunLog =
    RunLog(id, status, "start", end, 10L, 11L, "reason; with, punct%",
      { val t = new Timestamp(at); t.setNanos(123456000); t })

  private def mkStore(tag: String): (LogStore, String) = {
    val path = java.nio.file.Files.createTempDirectory(tag).toString + "/logs"
    (new LogStore(spark, path), path)
  }

  /** The driver codec's read of the visible files (None = it refuses). */
  private def viaCodec(path: String): Option[Seq[RunLog]] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    LogStore.readRowsParquet(spark, LogStore.visibleFiles(fs, p))
  }

  test("driver-side append reads back identically via Spark AND via readRows") {
    val (store, _) = mkStore("graft-dlog")
    val rows = Seq(
      row(1L, RunStatus.Success, "2023-06-01 10:00:00.123456", 1700000000000L),
      row(2L, RunStatus.Failed, "41", 1700000001000L))
    store.append(rows.take(1))
    store.append(rows.drop(1))
    val viaSpark = store.read().collect().toSeq.sortBy(_.lakeIngestionId)
    val viaDriver = store.readRows().sortBy(_.lakeIngestionId)
    assert(viaSpark == rows)
    assert(viaDriver == rows)
    assert(store.forIngestionRows(1L) == rows.take(1))
  }

  test("readRows falls back to the Spark read over compacted (INT96) files") {
    val (store, path) = mkStore("graft-dlog2")
    val legacy = Seq(
      row(1L, RunStatus.Success, "1", 1700000000000L),
      row(1L, RunStatus.Success, "2", 1700000002000L))
    val fresh = row(1L, RunStatus.Success, "3", 1700000004000L)
    // a legacy log: a Spark-written part file (INT96 timestamps, as the
    // Spark writer of earlier versions left behind) beside a codec append
    val stage = s"$path-legacy"
    spark.createDataset(legacy).coalesce(1).write.parquet(stage)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new Path(stage)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    fs.mkdirs(new Path(path))
    require(fs.rename(part, new Path(s"$path/part-legacy.snappy.parquet")))
    store.append(Seq(fresh))
    val want = legacy :+ fresh
    assert(viaCodec(path).isEmpty, "the codec must refuse the INT96 part")
    val viaDriver = store.readRows().sortBy(_.endValue)
    val viaSpark = store.read().collect().toSeq.sortBy(_.endValue)
    assert(viaDriver == viaSpark)
    assert(viaDriver == want)
    // one compaction rewrites the log in the codec's format
    assert(store.compact() == 2)
    assert(viaCodec(path).map(_.sortBy(_.endValue)) == Some(want))
    assert(store.readRows().sortBy(_.endValue) == want)
  }

  test("null fields route through the Spark writer and still read back") {
    val (store, path) = mkStore("graft-dlog3")
    val r = RunLog(7L, null, null, null, 0L, 0L, null, null)
    val other = RunLog(8L, RunStatus.Failed, "s", "e", 1L, 2L, "x",
      new Timestamp(1700000000000L))
    store.append(Seq(r))
    store.append(Seq(other))
    val want = Seq(r, other)
    assert(store.readRows().sortBy(_.lakeIngestionId) == want)
    assert(store.read().collect().toSeq.sortBy(_.lakeIngestionId) == want)
    assert(store.compact() == 2)
    assert(viaCodec(path).map(_.sortBy(_.lakeIngestionId)) == Some(want))
    assert(store.readRows().sortBy(_.lakeIngestionId) == want)
    assert(store.read().collect().toSeq.sortBy(_.lakeIngestionId) == want)
  }

  test("after compact(), readRows is served by the driver codec without falling back") {
    val (store, path) = mkStore("graft-dlog4")
    val rows = (1 to 3).map(i => row(1L, RunStatus.Success, i.toString, 1700000000000L + i))
    rows.foreach(r => store.append(Seq(r)))
    assert(store.compact() == 3)
    val served = viaCodec(path)
    assert(served.isDefined, "a compacted log must stay in the codec's format")
    assert(served.get.sortBy(_.endValue) == rows)
    assert(store.readRows().sortBy(_.endValue) == rows)
  }

  test("append, readRows and compact run no Spark job, before and after compaction") {
    val (store, _) = mkStore("graft-dlog5")
    val rows = (1 to 3).map(i => row(1L, RunStatus.Success, i.toString, 1700000000000L + i))
    assert(jobsRan(rows.foreach(r => store.append(Seq(r))))._2 == 0, "append")
    val (before, recoverJobs) = jobsRan(store.readRows())
    assert(recoverJobs == 0, "readRows before compact")
    assert(before.sortBy(_.endValue) == rows)
    val (folded, compactJobs) = jobsRan(store.compact())
    assert(compactJobs == 0, "compact")
    assert(folded == 3)
    val (after, recoverAfterJobs) = jobsRan(store.readRows())
    assert(recoverAfterJobs == 0, "readRows after compact")
    assert(after.sortBy(_.endValue) == rows)
  }
}
