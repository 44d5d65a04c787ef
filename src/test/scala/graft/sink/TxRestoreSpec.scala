package graft.sink

import graft.SparkSpec

/** Metadata-only restore: file re-pointing, history, vacuum safety. */
class TxRestoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft-restore").toString + "/t"

  private def content(tbl: String, v: Long): Set[(Long, Long)] =
    TxTable.readAt(spark, tbl, v).select("k", "x").as[(Long, Long)]
      .collect().toSet

  test("restore re-points at the target's files and restores content") {
    val tbl = freshTable()
    TxTable.append(spark, (1L to 50L).map(i => (i, i * 10L)).toDF("k", "x"), tbl)
    TxTable.overwrite(spark, (1L to 50L).map(i => (i, 0L)).toDF("k", "x"), tbl)
    val v3 = TxTable.restore(spark, tbl, 1L)
    assert(TxTable.filesAt(spark, tbl, v3).toSet ==
      TxTable.filesAt(spark, tbl, 1L).toSet)
    assert(content(tbl, v3) == content(tbl, 1L))
    // history intact: v2 still reads the zeroed rows
    assert(content(tbl, 2L).forall(_._2 == 0L))
  }

  test("restore to the current head is a no-op commit (identical files)") {
    val tbl = freshTable()
    TxTable.append(spark, Seq((1L, 1L)).toDF("k", "x"), tbl)
    val head = TxTable.headVersion(spark, tbl)
    val v2 = TxTable.restore(spark, tbl, head)
    assert(TxTable.filesAt(spark, tbl, v2).toSet ==
      TxTable.filesAt(spark, tbl, head).toSet)
    assert(content(tbl, v2) == content(tbl, head))
  }

  test("vacuum after restore keeps the re-referenced files readable") {
    val tbl = freshTable()
    TxTable.append(spark, (1L to 30L).map(i => (i, i)).toDF("k", "x"), tbl)
    TxTable.overwrite(spark, (1L to 30L).map(i => (i, -i)).toDF("k", "x"), tbl)
    val v3 = TxTable.restore(spark, tbl, 1L)
    TxTable.vacuum(spark, tbl, minAgeMs = 0L)
    assert(content(tbl, v3) == (1L to 30L).map(i => (i, i)).toSet)
  }

  test("restore target bounds fail loudly") {
    val tbl = freshTable()
    TxTable.append(spark, Seq((1L, 1L)).toDF("k", "x"), tbl)
    intercept[IllegalArgumentException] { TxTable.restore(spark, tbl, 0L) }
    intercept[IllegalArgumentException] { TxTable.restore(spark, tbl, 9L) }
  }
}
