package graft.sink

import graft.SparkSpec

/** Time travel from the commit log: every historical version must read
  * back exactly, through checkpoints, overwrites and compaction — and
  * reconstruction must FAIL LOUDLY (not silently mis-read) once log
  * cleaning has removed the commits it needs.
  */
class TxTimeTravelSpec extends SparkSpec {
  import spark.implicits._

  private def mk() =
    java.nio.file.Files.createTempDirectory("graft-tt").toString + "/tbl"

  private def ids(t: String, v: Long): Set[Long] =
    TxTable.readAt(spark, t, v).select($"id").as[Long].collect().toSet

  test("each append version reads back exactly; version 0 is empty") {
    val t = mk()
    TxTable.append(spark, Seq(1L, 2L).toDF("id"), t)
    TxTable.append(spark, Seq(3L).toDF("id"), t)
    TxTable.append(spark, Seq(4L, 5L).toDF("id"), t)
    assert(TxTable.headVersion(spark, t) == 3L)
    assert(TxTable.filesAt(spark, t, 0).isEmpty)
    assert(ids(t, 1) == Set(1L, 2L))
    assert(ids(t, 2) == Set(1L, 2L, 3L))
    assert(ids(t, 3) == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("overwrite and compact are versions too: pre-overwrite state stays readable") {
    val t = mk()
    TxTable.append(spark, Seq(1L, 2L).toDF("id"), t)        // v1
    TxTable.overwrite(spark, Seq(7L, 8L).toDF("id"), t)     // v2
    TxTable.compact(spark, t, targetRowsPerFile = 1000000L) // v3
    assert(ids(t, 1) == Set(1L, 2L))
    assert(ids(t, 2) == Set(7L, 8L))
    assert(ids(t, 3) == Set(7L, 8L))
  }

  test("travel past head or below zero is rejected") {
    val t = mk()
    TxTable.append(spark, Seq(1L).toDF("id"), t)
    intercept[IllegalArgumentException](TxTable.readAt(spark, t, 2))
    intercept[IllegalArgumentException](TxTable.readAt(spark, t, -1))
  }

  test("a version at a checkpoint reads the snapshot; versions after it replay the suffix") {
    val t = mk()
    // every 10th commit is a checkpoint: v10 writes one
    (1 to 12).foreach(i => TxTable.append(spark, Seq(i.toLong).toDF("id"), t))
    assert(ids(t, 10) == (1L to 10L).toSet)
    assert(ids(t, 11) == (1L to 11L).toSet)
    assert(ids(t, 12) == (1L to 12L).toSet)
  }

  test("log cleaning makes pre-checkpoint versions unreconstructable — loudly") {
    val t = mk()
    (1 to 12).foreach(i => TxTable.append(spark, Seq(i.toLong).toDF("id"), t))
    TxTable.vacuum(spark, t, minAgeMs = 0L) // drops commits <= the v10 checkpoint
    val e = intercept[IllegalArgumentException](TxTable.filesAt(spark, t, 5))
    assert(e.getMessage.contains("cannot reconstruct"))
    // versions at/after the checkpoint still travel
    assert(ids(t, 10) == (1L to 10L).toSet)
    assert(ids(t, 12) == (1L to 12L).toSet)
    assert(ids(t, 11) == (1L to 11L).toSet)
  }

  test("filesAt(v) is the live set right after commit v, order included, across restores and checkpoints") {
    val t = mk()
    val snaps = scala.collection.mutable.ArrayBuffer[Seq[String]](Nil) // v0
    def step(commitV: => Long): Unit = {
      val v = commitV
      assert(v == snaps.size.toLong)
      snaps += TxTable.currentFiles(spark, t)
    }
    var next = 0L
    def add(): Unit = step {
      next += 1; TxTable.append(spark, Seq(next).toDF("id"), t, statsCols = Seq("id"))
    }
    (1 to 5).foreach(_ => add())                                // v1-v5
    step(TxTable.restore(spark, t, 2L))                         // v6: drops 3-5
    (1 to 3).foreach(_ => add())                                // v7-v9
    step(TxTable.restore(spark, t, 4L))                         // v10: re-adds 3, 4; checkpoint
    (1 to 4).foreach(_ => add())                                // v11-v14
    step(TxTable.compact(spark, t, targetRowsPerFile = 1000000L)) // v15
    (1 to 4).foreach(_ => add())                                // v16-v19
    step(TxTable.restore(spark, t, 12L))                        // v20: re-adds; checkpoint
    (1 to 4).foreach(_ => add())                                // v21-v24
    step(TxTable.overwrite(spark, Seq(99L).toDF("id"), t))      // v25
    assert(TxTable.headVersion(spark, t) == 25L)
    (0 to 25).foreach { v =>
      assert(TxTable.filesAt(spark, t, v.toLong) == snaps(v), s"version $v")
    }
    // the restores really re-added files a prior commit had removed
    assert(snaps(10).toSet.diff(snaps(9).toSet).nonEmpty)
    assert(snaps(20).toSet.diff(snaps(19).toSet).nonEmpty)
  }
}
