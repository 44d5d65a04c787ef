package graft.sink

import graft.SparkSpec

/** Snapshot clone (cloneAt): zero-copy on local FS via hardlinks, full
  * independence of the two tables afterward.
  */
class TxCloneSpec extends SparkSpec {
  import spark.implicits._

  private def mk(): String =
    java.nio.file.Files.createTempDirectory("graft-clone").toString + "/tbl"

  private def ids(table: String): Set[Long] =
    TxTable.read(spark, table).select($"id").as[Long].collect().toSet

  test("clone at head equals the source state; both sides stay independent") {
    val src = mk(); val dst = mk()
    TxTable.append(spark, Seq(1L, 2L).toDF("id"), src)
    TxTable.append(spark, Seq(3L).toDF("id"), src)
    assert(TxTable.cloneAt(spark, src, dst) == 1L)
    assert(ids(dst) === Set(1L, 2L, 3L))
    // divergence: writes on either side are invisible to the other
    TxTable.append(spark, Seq(4L).toDF("id"), src)
    TxTable.append(spark, Seq(9L).toDF("id"), dst)
    assert(ids(src) === Set(1L, 2L, 3L, 4L))
    assert(ids(dst) === Set(1L, 2L, 3L, 9L))
  }

  test("clone at an old version is that version, not head") {
    val src = mk(); val dst = mk()
    TxTable.append(spark, Seq(1L).toDF("id"), src)
    TxTable.append(spark, Seq(2L).toDF("id"), src)
    assert(TxTable.cloneAt(spark, src, dst, version = 1L) == 1L)
    assert(ids(dst) === Set(1L))
  }

  test("hardlinked clone survives source compact + vacuum (inode-level independence)") {
    val src = mk(); val dst = mk()
    TxTable.append(spark, (1L to 50L).toDF("id"), src)
    TxTable.append(spark, (51L to 100L).toDF("id"), src)
    TxTable.cloneAt(spark, src, dst)
    // rewrite the source into one file and drop the originals NOW
    TxTable.compact(spark, src, targetRowsPerFile = 1000000L)
    TxTable.vacuum(spark, src, minAgeMs = 0L)
    assert(ids(src) === (1L to 100L).toSet)
    assert(ids(dst) === (1L to 100L).toSet,
      "clone must stay readable after the source vacuumed the shared files")
  }

  test("column stats ride the clone: pruned reads keep pruning") {
    val src = mk(); val dst = mk()
    TxTable.append(spark, (1L to 100L).toDF("id"), src, statsCols = Seq("id"))
    TxTable.append(spark, (101L to 200L).toDF("id"), src, statsCols = Seq("id"))
    TxTable.cloneAt(spark, src, dst)
    val prunedSrc = TxTable.prunedFiles(spark, src, "id", Some("150"), Some("150"))
    val prunedDst = TxTable.prunedFiles(spark, dst, "id", Some("150"), Some("150"))
    assert(prunedSrc.length === 1 && prunedDst.length === 1,
      s"stats-based pruning must work on both sides (src=${prunedSrc.length}, dst=${prunedDst.length})")
  }

  test("cloning into a non-empty table or from an empty source fails loudly") {
    val src = mk(); val dst = mk()
    intercept[IllegalArgumentException](TxTable.cloneAt(spark, src, dst))
    TxTable.append(spark, Seq(1L).toDF("id"), src)
    TxTable.append(spark, Seq(7L).toDF("id"), dst)
    intercept[IllegalArgumentException](TxTable.cloneAt(spark, src, dst))
  }
}
