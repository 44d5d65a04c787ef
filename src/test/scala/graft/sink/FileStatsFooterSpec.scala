package graft.sink

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the r14 footer-derived [[TxTable.fileStats]] fast path against
  * the read-back aggregate it replaced: for every column class the fast
  * path claims (signed longs, UTF8 strings, Hive partition values, row
  * counts, all-null columns, zero-row files) the two plans must emit
  * BIT-IDENTICAL ColStats; for every class it does not claim
  * (double/float, timestamps) the public entry point must still produce
  * the aggregate's stats via the fallback.
  */
class FileStatsFooterSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-fstat").toString + "/t"

  test("footer stats == job stats: longs, strings, row counts") {
    val tbl = tmp()
    val df = Seq(
      (5L, -17L, "qz-abc", "2024-01-15 00:00:00.123456"),
      (1L, 400L, "qz-abc", "2023-12-31 23:59:59"),
      (9L, 0L, "qz-abc", "2024-06-01 10:00:00")
    ).toDF("id", "bal", "__qz", "svalue")
    val files = TxTable.stageBatch(spark, df.repartition(2), tbl)
    val cols = Seq("id", "bal", "__qz", "svalue")
    val viaFooter = TxTable.footerFileStats(spark, tbl, files, cols)
    assert(viaFooter.isDefined, "footer path must fire for long/string columns")
    val viaJob = TxTable.jobFileStats(spark, tbl, files, cols)
    val viaPublic = TxTable.fileStats(spark, tbl, files, cols)
    assert(viaFooter.get == viaJob)
    assert(viaPublic == viaJob)
    // row-count stat present and exact on every file
    assert(viaPublic.forall(_.exists(st =>
      st.col == TxTable.RowCountStat && st.lo == st.hi)))
    assert(viaPublic.flatMap(_.find(_.col == TxTable.RowCountStat))
      .map(_.lo.toLong).sum == 3L)
  }

  test("footer stats == job stats: Hive partition column (cid)") {
    val tbl = tmp()
    val df = Seq((1L, 300L), (2L, 300L), (3L, 17L)).toDF("id", "cid")
    val files = TxTable.stageBatch(spark, df.repartition(col("cid")), tbl,
      partitionBy = Seq("cid"))
    val cols = Seq("cid", "id")
    val viaFooter = TxTable.footerFileStats(spark, tbl, files, cols)
    assert(viaFooter.isDefined, "footer path must fire for Hive partition values")
    assert(viaFooter.get == TxTable.jobFileStats(spark, tbl, files, cols))
  }

  test("all-null column gets no stat, others kept — both paths") {
    val tbl = tmp()
    val df = Seq((1L, Option.empty[String]), (2L, Option.empty[String]))
      .toDF("id", "s")
    val files = TxTable.stageBatch(spark, df.coalesce(1), tbl)
    val cols = Seq("id", "s")
    val viaJob = TxTable.jobFileStats(spark, tbl, files, cols)
    val viaPublic = TxTable.fileStats(spark, tbl, files, cols)
    assert(viaPublic == viaJob)
    assert(!viaPublic.head.exists(_.col == "s"))
    assert(viaPublic.head.exists(_.col == "id"))
  }

  test("zero-row file emits no stats at all — both paths") {
    val tbl = tmp()
    val df = Seq((1L, "a")).toDF("id", "s").filter(col("id") < 0)
    val files = TxTable.stageBatch(spark, df.coalesce(1), tbl)
    assert(files.nonEmpty)
    val cols = Seq("id", "s")
    assert(TxTable.fileStats(spark, tbl, files, cols) ==
      TxTable.jobFileStats(spark, tbl, files, cols))
    assert(TxTable.fileStats(spark, tbl, files, cols) == Seq(Seq.empty))
  }

  test("unclaimed classes (double, timestamp) fall back to the aggregate") {
    val tbl = tmp()
    val df = Seq(
      (1L, 1.5, java.sql.Timestamp.valueOf("2024-01-15 00:00:00.65048")),
      (2L, Double.NaN, java.sql.Timestamp.valueOf("2023-06-01 12:00:00"))
    ).toDF("id", "d", "ts")
    val files = TxTable.stageBatch(spark, df.coalesce(1), tbl)
    val cols = Seq("id", "d", "ts")
    assert(TxTable.footerFileStats(spark, tbl, files, cols).isEmpty,
      "double/timestamp columns must bail to the job path")
    val viaJob = TxTable.jobFileStats(spark, tbl, files, cols)
    val viaPublic = TxTable.fileStats(spark, tbl, files, cols)
    assert(viaPublic == viaJob)
    // and the aggregate's NaN-as-greatest semantics survived the dispatch
    assert(viaPublic.head.find(_.col == "d").get.hi == "NaN")
  }

  test("columns the aggregate skips (boolean, array) are skipped identically") {
    val tbl = tmp()
    val df = Seq((1L, true, Seq(1, 2)), (2L, false, Seq(3)))
      .toDF("id", "b", "arr")
    val files = TxTable.stageBatch(spark, df.coalesce(1), tbl)
    val cols = Seq("id", "b", "arr")
    assert(TxTable.fileStats(spark, tbl, files, cols) ==
      TxTable.jobFileStats(spark, tbl, files, cols))
  }

  test("fileStats on long and string columns runs no Spark job (the footer path)") {
    val tbl = tmp()
    val df = Seq((5L, "b"), (1L, "a"), (9L, "c")).toDF("id", "name")
    val files = TxTable.stageBatch(spark, df.repartition(2), tbl)
    val (stats, jobs) = jobsRan(TxTable.fileStats(spark, tbl, files, Seq("id", "name")))
    assert(jobs == 0)
    assert(stats == TxTable.jobFileStats(spark, tbl, files, Seq("id", "name")))
  }
}
