package graft.sink

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec

/** Local FS under a custom scheme that COUNTS open() calls — proves the
  * checkpointed log bounds read planning by opens, not by vibes.
  */
class CountingFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftcnt:///")
  override def getScheme: String = "graftcnt"

  private def sanitize(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, 1, s.getBlockSize,
      s.getModificationTime, s.getModificationTime, FsPermission.getDefault,
      null, null, s.getPath)
  override def getFileStatus(f: Path): FileStatus = sanitize(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(sanitize)

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}
object CountingFs {
  val opens = new AtomicLong(0L)
}

/** The commit log must not make read planning O(commit count): a
  * commit-per-micro-batch stream runs for months — planning has to stay
  * bounded by the checkpoint interval, and vacuum has to reclaim the
  * replay-redundant prefix.
  */
class TxCheckpointSpec extends SparkSpec {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration
    .set("fs.graftcnt.impl", classOf[CountingFs].getName)

  private def mk(prefix: String = "") =
    prefix + java.nio.file.Files.createTempDirectory("graft-ckpt").toString + "/tbl"

  test("read planning opens O(checkpoint interval) files after 1000 commits") {
    val t = mk("graftcnt:")
    TxTable.append(spark, Seq(1L, 2L).toDF("id"), t)
    // 999 metadata-only commits — the shape of a long-running tx stream
    (1 to 999).foreach(_ => TxTable.commit(spark, t, added = Nil, removed = Nil))
    CountingFs.opens.set(0L)
    val files = TxTable.currentFiles(spark, t)
    val opens = CountingFs.opens.get()
    assert(files.nonEmpty)
    // 1 checkpoint + the ≤10-commit suffix (+ slack for FS internals);
    // without checkpoints this is ≥ 1000
    assert(opens <= 15L, s"read planning opened $opens log files")
    // conflict-checked commit paths stay bounded too
    CountingFs.opens.set(0L)
    TxTable.overwrite(spark, Seq(9L).toDF("id"), t)
    assert(CountingFs.opens.get() <= 15L, "overwrite planning not bounded")
  }

  test("vacuum reclaims the replay-redundant log prefix; state survives") {
    val t = mk()
    (1 to 25).foreach(i => TxTable.append(spark, Seq(i.toLong).toDF("id"), t))
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def logNames = fs.listStatus(new Path(s"$t/_graft_txn")).map(_.getPath.getName)
      .filterNot(_.startsWith(".tmp")).sorted.toSeq
    assert(logNames.count(_.endsWith(".ckpt")) == 2, s"ckpts at v10, v20: $logNames")
    // a parquet files dir as older TxTable versions left one beside each
    // checkpoint: metadata no reader opens, reaped like the dead log
    val legacy = new Path(s"$t/_graft_txn/00000010.files")
    Seq((1L, "x")).toDF("f", "scol").write.parquet(legacy.toString)
    assert(TxTable.read(spark, t).count() == 25, "readers ignore the legacy dir")
    Thread.sleep(5)

    val gone = TxTable.vacuum(spark, t, minAgeMs = 0L)
    assert(gone.exists(_.contains("00000001.json")), "pre-checkpoint commits reclaimed")
    assert(gone.contains("_graft_txn/00000010.files") && !fs.exists(legacy),
      s"legacy files dir reaped: $gone")
    // retained: commits 21..25 + the latest checkpoint, nothing else
    assert(logNames == "00000020.ckpt" +: (21 to 25).map(v => f"$v%08d.json"),
      s"retained: $logNames")

    // state is intact from snapshot + suffix, and the log keeps working
    assert(TxTable.read(spark, t).as[Long].collect().sorted.toSeq == (1L to 25L))
    TxTable.append(spark, Seq(99L).toDF("id"), t)
    assert(TxTable.read(spark, t).count() == 26)
    // stale conflict checks still detected after cleaning
    intercept[java.util.ConcurrentModificationException] {
      TxTable.commit(spark, t, added = Nil, removed = Nil, expectedHead = Some(3L))
    }
  }

  test("a commit that lands on a checkpoint version runs no Spark job") {
    val t = mk()
    (1 to 9).foreach(i => TxTable.append(spark, Seq(i.toLong).toDF("id"), t,
      statsCols = Seq("id")))
    val staged = TxTable.stageBatch(spark, Seq(10L).toDF("id"), t)
    val stats = TxTable.fileStats(spark, t, staged, Seq("id"))
    val (v, jobs) = jobsRan(TxTable.commit(spark, t, added = staged, removed = Nil,
      stats = stats))
    assert(v == 10L)
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(s"$t/_graft_txn/00000010.ckpt")), "v10 is a checkpoint")
    assert(jobs == 0, s"the checkpointing commit ran $jobs Spark jobs")
  }

  test("checkpoints are acceleration only: replay survives without them") {
    val t = mk()
    (1 to 12).foreach(i => TxTable.append(spark, Seq(i.toLong).toDF("id"), t))
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(s"$t/_graft_txn")).map(_.getPath)
      .filter(_.getName.endsWith(".ckpt")).foreach(p => fs.delete(p, false))
    assert(TxTable.read(spark, t).as[Long].collect().sorted.toSeq == (1L to 12L))
  }

  test("checkpoint equals full replay at every multiple of the interval") {
    val t = mk()
    // adds AND removes across the boundary: v10's snapshot must net them
    (1 to 9).foreach(i => TxTable.append(spark, Seq(i.toLong).toDF("id"), t))
    TxTable.overwrite(spark, Seq(100L, 101L).toDF("id"), t) // v10 = checkpoint
    TxTable.append(spark, Seq(102L).toDF("id"), t)
    assert(TxTable.read(spark, t).as[Long].collect().sorted.toSeq ==
      Seq(100L, 101L, 102L))
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ckpt = TxTable.parseCkpt(
      scala.io.Source.fromInputStream(
        fs.open(new Path(s"$t/_graft_txn/00000010.ckpt")), "UTF-8").mkString)
    assert(ckpt.version == 10L)
    // the snapshot's live set must match a from-scratch replay at v10:
    // overwrite at v10 removed every earlier file
    assert(ckpt.live.toSet ==
      TxTable.commits(spark, t).filter(_.version == 10L).head.added.toSet)
  }
}
