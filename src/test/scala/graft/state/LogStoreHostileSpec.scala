package graft.state

import java.sql.Timestamp
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.hadoop.fs.Path

import graft.SparkSpec
import graft.model.{RunLog, RunStatus}
import graft.sink.HostileFileSystem

/** The reference keeps its run state (execution log + watermark) as CSV
  * on S3 (common_utils.py:93-126); every LogStoreSpec test runs on local
  * FS where rename happens to be atomic-enough. This suite re-proves the
  * log-store semantics on [[HostileFileSystem]] — rename replaces,
  * exclusive create is check-then-act — because the WATERMARK decides
  * whether a re-run double-ingests: a log store that lost or doubled a
  * success row under store races would silently re-read (or skip) a
  * window.
  *
  * What holds, and why, on a lying store:
  *  - appends never contend on a destination name OR a staging area
  *    (round 9: each append stages under its own hidden `.stage-<uuid>`
  *    dir and publishes by renaming to a unique final name), so
  *    clobber-on-rename has no same-name victim and the
  *    FileOutputCommitter's shared-`_temporary/0` hazard — which made
  *    cross-process writers a doc-only single-writer contract through
  *    r8 — is gone by construction: the unlocked-writers race below is
  *    the cross-process shape, proven on the hostile store;
  *  - the per-path JVM lock remains as a cheap same-process serializer
  *    (and keeps burst appends from queueing Spark jobs);
  *  - a TORN part file (killed writer made partially-visible bytes on a
  *    copy+delete store) fails the read LOUDLY — watermark recovery
  *    never silently proceeds on partial state, so the re-run aborts
  *    instead of double-ingesting.
  */
class LogStoreHostileSpec extends SparkSpec {

  private def log(status: String, end: String, at: Long): RunLog =
    RunLog(1L, status, "x", end, 10L, 10L, "r", new Timestamp(at))

  private def fsFor(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("append + read + watermark recovery round-trip on the hostile store") {
    val dir = HostileFileSystem.root(spark)
    val store = new LogStore(spark, s"$dir/logs")
    assert(store.read().isEmpty)
    store.append(Seq(log(RunStatus.Success, "2023-05-01 10:00:00", 1L)))
    store.append(Seq(log(RunStatus.Failed, "2024-01-01 00:00:00", 2L)))
    store.append(Seq(log(RunStatus.Success, "2023-06-01 10:00:59", 3L)))
    val prior = store.forIngestion(1L).collect().toSeq
    assert(prior.length == 3, s"all three appended rows must survive, got $prior")
    // recovery ignores the failed run and bumps the max success end
    val (start, _) = LogStore.nextStartValue(prior, dateNotAvailable = false)
    assert(start == "2023-06-01 10:01:00",
      s"watermark must recover from success rows only, got $start")
  }

  test("8 same-process concurrent appends all survive (per-path lock serializes)") {
    val dir = HostileFileSystem.root(spark)
    val path = s"$dir/logs"
    val n = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    try {
      val futs = (1 to n).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            start.await()
            new LogStore(spark, path).append(Seq(log(RunStatus.Success, i.toString, i.toLong)))
          }
        })
      }
      start.countDown()
      futs.foreach(_.get(120, TimeUnit.SECONDS))
    } finally pool.shutdown()
    val rows = new LogStore(spark, path).read().collect()
    assert(rows.length == n,
      s"every concurrent append must be durable, got ${rows.length} of $n")
    assert(rows.map(_.endValue).toSet == (1 to n).map(_.toString).toSet)
  }

  test("8 UNLOCKED concurrent appends all survive (the cross-process shape)") {
    // r8 left cross-process writers as a doc-only single-writer
    // contract; round 9 made appends structurally safe (per-append
    // hidden staging dir + unique-name publish rename). Two real
    // processes can't run inside a spec — instead each writer gets a
    // DIFFERENT path string for the SAME directory (trailing slashes),
    // so LogStore's per-path JVM lock does NOT serialize them: the
    // writers race exactly as independent coordinators would, on the
    // hostile store. Under the old shared-`_temporary/0` append this
    // loses files; under unique staging it cannot.
    val dir = HostileFileSystem.root(spark)
    val base = s"$dir/logs"
    val n = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    try {
      val futs = (1 to n).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            start.await()
            // i trailing slashes -> i distinct lock keys, one directory
            new LogStore(spark, base + ("/" * i))
              .append(Seq(log(RunStatus.Success, i.toString, i.toLong)))
          }
        })
      }
      start.countDown()
      futs.foreach(_.get(120, TimeUnit.SECONDS))
    } finally pool.shutdown()
    val rows = new LogStore(spark, base).read().collect()
    assert(rows.length == n,
      s"every unlocked concurrent append must be durable, got ${rows.length} of $n")
    assert(rows.map(_.endValue).toSet == (1 to n).map(_.toString).toSet)
  }

  test("a torn part file fails the read loudly — recovery never sees partial state") {
    val dir = HostileFileSystem.root(spark)
    val path = s"$dir/logs"
    val store = new LogStore(spark, path)
    store.append(Seq(log(RunStatus.Success, "41", 1L)))
    // a killed writer on a copy+delete store can leave partially-copied
    // bytes under the final name: forge one next to the good file
    val fs = fsFor(path)
    val torn = new Path(s"$path/part-00000-torn-c000.snappy.parquet")
    val o = fs.create(torn, true)
    o.write("PAR1garbage-without-a-footer".getBytes("UTF-8")); o.close()
    val thrown = intercept[Throwable] {
      new LogStore(spark, path).read().collect()
    }
    assert(thrown != null, "a torn log file must abort the run, not pass silently")
    // cleanup restores readability — the abort is recoverable
    fs.delete(torn, false)
    val rows = new LogStore(spark, path).read().collect()
    assert(rows.length == 1 && rows.head.endValue == "41")
  }

  test("compaction bounds the file count; a reader never observes a torn compaction") {
    val dir = HostileFileSystem.root(spark)
    val path = s"$dir/logs"
    val store = new LogStore(spark, path)
    (1 to 20).foreach(i => store.append(Seq(log(RunStatus.Success, i.toString, i.toLong))))
    val fs = fsFor(path)
    def dataFiles() = fs.listStatus(new Path(path))
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).sorted
    def rows() = new LogStore(spark, path).read().collect()
      .map(_.endValue).sorted.toSeq
    val want = (1 to 20).map(_.toString).sorted
    assert(dataFiles().count(_.startsWith("part-")) == 20)
    assert(rows() == want)

    // stage every intermediate compaction state by hand and prove each
    // is a complete, duplicate-free read — the manifest rename is the
    // ONLY visibility switch. (1) an orphan cpart with no manifest (a
    // compactor killed before publish) is invisible:
    val orphan = new Path(s"$path/cpart-orphan.snappy.parquet")
    val src = fs.listStatus(new Path(path))
      .map(_.getPath).find(_.getName.startsWith("part-")).get
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, orphan, false,
      spark.sparkContext.hadoopConfiguration)
    assert(rows() == want, "an unreferenced cpart must not double rows")
    fs.delete(orphan, false)

    // (2) the real compaction: one visible file, same rows, and the
    // replaced files are STILL ON DISK (deferred delete) — a reader
    // that listed before the manifest finishes on intact old files
    assert(store.compact() == 20)
    assert(rows() == want, "compaction must not change what a reader sees")
    val after = dataFiles()
    assert(after.count(_.startsWith("cpart-")) == 1)
    assert(after.count(_.startsWith("part-")) == 20,
      "replaced files must survive until vacuum (in-flight-reader grace)")
    val (start, _) = LogStore.nextStartValue(
      new LogStore(spark, path).forIngestion(1L).collect().toSeq,
      dateNotAvailable = true)
    assert(start == "21", "watermark recovery must be unchanged by compaction")

    // (3) removing the manifest rolls visibility back to the old files
    // — both sides of the atomic switch are complete row sets
    val manifest = fs.listStatus(new Path(path))
      .map(_.getPath).find(_.getName.startsWith("_compact-")).get
    val saved = new Path(s"$path/.saved-manifest")
    require(fs.rename(manifest, saved))
    assert(rows() == want, "pre-manifest state must read the old files")
    require(fs.rename(saved, manifest))

    // (4) vacuum honors the grace age, then reaps replaced files only
    assert(new LogStore(spark, path).vacuumCompacted(minAgeMs = Long.MaxValue).isEmpty)
    assert(rows() == want)
    val reaped = new LogStore(spark, path).vacuumCompacted(minAgeMs = 0L)
    assert(reaped.length == 20, s"vacuum must reap the 20 replaced files, got $reaped")
    assert(dataFiles().toSeq == dataFiles().filter(_.startsWith("cpart-")).toSeq)
    assert(rows() == want)

    // (5) appends after compaction stay visible; a second compaction
    // folds cpart + parts and the superseded manifest is GC-able
    store.append(Seq(log(RunStatus.Success, "21", 21L)))
    assert(rows() == (want :+ "21").sorted)
    assert(store.compact() == 2)
    val reaped2 = new LogStore(spark, path).vacuumCompacted(minAgeMs = 0L)
    assert(reaped2.nonEmpty)
    assert(dataFiles().length == 1, s"steady state is ONE visible file, got ${dataFiles().toSeq}")
    assert(fs.listStatus(new Path(path)).map(_.getPath.getName)
      .count(_.startsWith("_compact-")) == 1,
      "superseded manifests must be GC'd once their cpart is reaped")
    assert(rows() == (want :+ "21").sorted)
  }

  test("vacuum grace runs from the MANIFEST's mtime; aged crash garbage is reaped") {
    val dir = HostileFileSystem.root(spark)
    val path = s"$dir/logs2"
    val store = new LogStore(spark, path)
    (1 to 3).foreach(i => store.append(Seq(log(RunStatus.Success, i.toString, i.toLong))))
    val fs = fsFor(path)
    def names() = fs.listStatus(new Path(path)).map(_.getPath.getName).toSeq
    def rows() = new LogStore(spark, path).read().collect()
      .map(_.endValue).sorted.toSeq
    val want = (1 to 3).map(_.toString).sorted
    val old = System.currentTimeMillis() - 86400000L // a day ago
    // the appends are ANCIENT — but compaction replaces them just now,
    // so a 1-hour grace must still protect an in-flight reader that
    // listed a moment before the manifest landed (measuring age from
    // the victims' own mtime would reap them instantly)
    names().filter(_.startsWith("part-")).foreach(n =>
      fs.setTimes(new Path(s"$path/$n"), old, -1))
    assert(store.compact() == 3)
    assert(new LogStore(spark, path).vacuumCompacted(minAgeMs = 3600000L).isEmpty,
      "old victims under a FRESH manifest are inside the grace window")
    assert(rows() == want)
    // age the manifest too → the replacement is now old, victims reap
    names().filter(_.startsWith("_compact-")).foreach(n =>
      fs.setTimes(new Path(s"$path/$n"), old, -1))
    val reaped = new LogStore(spark, path).vacuumCompacted(minAgeMs = 3600000L)
    assert(reaped.count(_.contains("part-")) == 3, s"expected 3 victims reaped, got $reaped")
    assert(rows() == want)
    // crash garbage: an unreferenced cpart (compactor died before its
    // manifest) and a hidden staging dir (killed writer) — invisible,
    // protected while fresh, reaped once aged
    val orphan = new Path(s"$path/cpart-zombie.snappy.parquet")
    val out = fs.create(orphan, true); out.write(Array[Byte](1, 2, 3)); out.close()
    fs.mkdirs(new Path(s"$path/.stage-zombie"))
    assert(rows() == want, "crash garbage must stay invisible")
    assert(new LogStore(spark, path).vacuumCompacted(minAgeMs = 3600000L).isEmpty,
      "fresh crash garbage is protected (it may be an in-flight compaction)")
    fs.setTimes(orphan, old, -1)
    fs.setTimes(new Path(s"$path/.stage-zombie"), old, -1)
    val reaped2 = new LogStore(spark, path).vacuumCompacted(minAgeMs = 3600000L)
    assert(reaped2.exists(_.contains("cpart-zombie")) &&
      reaped2.exists(_.contains(".stage-zombie")),
      s"aged crash garbage must be reaped, got $reaped2")
    assert(rows() == want)
  }

  test("re-run after a failure resumes from the last success watermark (no re-read)") {
    val dir = HostileFileSystem.root(spark)
    val store = new LogStore(spark, s"$dir/logs")
    // run 1 succeeded through id 100; run 2 failed mid-flight
    store.append(Seq(log(RunStatus.Success, "100", 1L)))
    store.append(Seq(log(RunStatus.Failed, "", 2L)))
    val prior = store.forIngestion(1L).collect().toSeq
    val (start, reason) = LogStore.nextStartValue(prior, dateNotAvailable = true)
    // 101, not 1 (no first-time reset => no double-ingest of 1..100) and
    // not a value from the failed row
    assert(start == "101" && reason == graft.model.ReasonCode.Subsequent)
  }
}
