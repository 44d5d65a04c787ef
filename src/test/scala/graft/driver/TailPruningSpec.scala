package graft.driver

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model._
import graft.operators.{Transforms, Validation}
import graft.sink.TxTable
import graft.sources.Incremental
import graft.state.LogStore

/** A run's lake tail reads only the partitions its watermark can reach;
  * this pins that the pruned run is the run a FULL lake read would give.
  * Each case loads a backfill, seeds the lake with rows a run did not
  * log (null deltas, and rows past the watermark as a lost log append
  * leaves them), then runs once more. The expected RunLog rows and lake
  * contents are computed here from a full-lake read: the same slice,
  * boundary dedup against every lake row `>= start`, and pre-window
  * count over the whole lake.
  *
  * The source straddles a non-inclusive boundary at midnight (its last
  * backfill row IS the next `start`), holds an updated version of that
  * row, and a "zone witness" 19 h before it: with the lake written under
  * UTC−12 and the run under UTC+14, the witness is `>= start` but sits
  * in the partition before `start`'s own, so only the 26 h margin keeps
  * it in the tail.
  */
class TailPruningSpec extends SparkSpec {
  import spark.implicits._

  private val Mid = java.time.Instant.parse("2023-01-05T00:00:00Z").getEpochSecond
  private val H = 3600L

  /** id → delta epoch second (None: a null delta). `ctime` is a day
    * earlier (the coalesce fallback of a null `mtime`: a fixed time);
    * `seq` is the delta second as an integer watermark.
    */
  private val base: Seq[(Long, Option[Long])] =
    (1 to 120).map(i => i.toLong -> Some(
      java.time.Instant.parse("2021-01-01T00:00:00Z").getEpochSecond + i * 233L * H))
  private val witness = Seq(999L -> Some(Mid - 19 * H))
  private val boundary = Seq(1000L -> Some(Mid))
  private val nulls = Seq(3000L -> None, 3001L -> None)
  private val update = Seq(1000L -> Some(Mid + H))
  private val late = Seq(4000L -> Some(Mid + 2 * H), 4001L -> Some(Mid + 24 * H),
    4002L -> Some(Mid + 48 * H), 4003L -> Some(Mid + 72 * H))

  private def rows(rs: Seq[(Long, Option[Long])]): DataFrame =
    rs.map { case (id, e) => (id, s"v$id-${e.getOrElse(0L)}", e) }
      .toDF("id", "v", "e")
      .select($"id", $"v", timestamp_seconds($"e").as("mtime"),
        timestamp_seconds(coalesce($"e" - 86400L, lit(Mid - 400L * 86400L))).as("ctime"),
        $"e".as("seq"))

  private val DataCols = Seq("id", "v", "mtime", "ctime", "seq")

  private def spec(id: Long, parts: Seq[PartitionSpec], delta: String = "mtime",
                   deltaExpr: String = "", intWatermark: Boolean = false) = IngestionSpec(
    lakeIngestionId = id, ingestionType = "table", servername = "local",
    databasename = "taildb", tablename = s"t$id",
    deltaField = delta, deltaFieldExpr = deltaExpr,
    dateNotAvailable = if (intWatermark) 1 else 0,
    activeIndicator = 1, targetType = "fs", targetLocation = "",
    primaryKey = "id", viewDb = "lv", viewName = s"t${id}_lv",
    viewNeeded = 0, partitions = parts, dagGroup = "g1")

  private def timeOn(c: String, fmt: String) = Seq(PartitionSpec(1, PartitionSpec.TimeBased, c, fmt))

  private def inZone[T](zone: String)(body: => T): T = {
    spark.conf.set("spark.sql.session.timeZone", zone)
    try body finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  private def fullLake(tx: Boolean, lake: String): DataFrame =
    if (tx) TxTable.read(spark, lake) else spark.read.parquet(lake)

  private def sorted(df: DataFrame): Seq[String] =
    df.select(DataCols.map(col): _*).collect().toSeq.map((r: Row) => r.mkString("|")).sorted

  private var nextId = 500L

  /** Backfill under `writeZone`, seed, then check the last run under
    * `runZone` against the full-lake expectation.
    */
  private def check(tx: Boolean, inclusive: Boolean, mk: Long => IngestionSpec,
                    writeZone: String = "UTC", runZone: String = "UTC"): Unit = {
    nextId += 1
    val sp = mk(nextId)
    val what = s"${sp.partitions} delta=${sp.deltaExpr} int=${sp.dateNotAvailable} " +
      s"tx=$tx inclusive=$inclusive zones=$writeZone→$runZone"
    val dir = java.nio.file.Files.createTempDirectory("graft-tail").toString
    val store = new LogStore(spark, s"$dir/logs")
    val run = new IngestionRun(spark, s"$dir/lake", store, inclusiveBump = inclusive, txLake = tx)
    val lake = run.lakePath(sp)
    inZone(writeZone) {
      val first = run.run(sp, rows(base.filter(_._2.forall(_ <= Mid)) ++ witness ++ boundary ++ nulls))
      assert(first.last.executionStatus == RunStatus.Success, what)
      val (seed, partCols) = Transforms.derivePartitions(rows(late ++ nulls), sp.partitions)
      if (tx) TxTable.commit(spark, lake, TxTable.stageBatch(spark, seed, lake, partCols), Nil)
      else seed.write.mode("append").partitionBy(partCols: _*).parquet(lake)
    }
    inZone(runZone) {
      val source = rows(base ++ witness ++ boundary ++ nulls ++ update ++ late)
      val full = fullLake(tx, lake)
      val before = sorted(full)
      val start = LogStore.nextStartValue(store.forIngestionRows(sp.lakeIngestionId),
        sp.dateNotAvailable == 1, inclusive)._1
      val atOrAfter = Incremental.parseCoalesceExpr(sp.deltaExpr) match {
        case Some((a, b)) => col(a) >= lit(start) || col(b) >= lit(start)
        case None => expr(sp.deltaExpr) >= lit(start)
      }
      val raw = Incremental.incrementalSlice(source, sp.deltaExpr, start)
      val slice =
        if (inclusive) raw
        else raw.withColumn("__d", expr(sp.deltaExpr)).join(
          full.filter(atOrAfter).filter(expr(sp.deltaExpr) >= lit(start))
            .select(col("id"), expr(sp.deltaExpr).as("__d")),
          Seq("id", "__d"), "left_anti").drop("__d")
      val (_, endOpt, n) = Incremental.deltaBounds(slice, sp.deltaExpr)
      assert(n > 0, what)
      val end = endOpt.get
      val target = Validation.windowCount(full, sp.deltaExpr, start, end) +
        Validation.windowCount(slice, sp.deltaExpr, start, end)
      val expectedLake = (before ++ sorted(slice)).sorted

      val got = run.run(sp, source)
      assert(got.map(r => (r.executionStatus, r.startValue, r.endValue, r.sourceCount,
          r.targetCount)) ==
        Seq((RunStatus.DataLoaded, start, end, n, 0L), (RunStatus.Success, start, end, n, target)),
        what)
      assert(sorted(fullLake(tx, lake)) == expectedLake, what)
    }
  }

  for (tx <- Seq(false, true); inclusive <- Seq(true, false); fmt <- Seq("YYYY", "YYYYMM", "YYYYMMDD"))
    test(s"a pruned tail equals a full read: ${if (tx) "tx" else "plain"}, " +
        s"${if (inclusive) "inclusive" else "non-inclusive"}, $fmt") {
      check(tx, inclusive, spec(_, timeOn("mtime", fmt)))
    }

  for (tx <- Seq(false, true))
    test(s"a lake written under another zone keeps every row >= start: ${if (tx) "tx" else "plain"}") {
      // UTC−12 writer, UTC+14 run: the direction only the margin covers
      check(tx, inclusive = false, spec(_, timeOn("mtime", "YYYYMMDD")),
        writeZone = "Etc/GMT+12", runZone = "Pacific/Kiritimati")
      check(tx, inclusive = false, spec(_, timeOn("mtime", "YYYYMMDD")),
        writeZone = "Pacific/Kiritimati", runZone = "Etc/GMT+12")
    }

  for (tx <- Seq(false, true))
    test(s"shapes the rule does not prune equal a full read: ${if (tx) "tx" else "plain"}") {
      Seq[Long => IngestionSpec](
        spec(_, timeOn("mtime", "YYYYMMDD"), deltaExpr = "coalesce(mtime, ctime)"),
        spec(_, timeOn("ctime", "YYYYMMDD")),
        spec(_, Seq(PartitionSpec(1, PartitionSpec.NonTimeBased, "seq", "10M"))),
        spec(_, Nil),
        spec(_, timeOn("mtime", "YYYYMMDD"), delta = "seq", intWatermark = true)
      ).foreach(mk => Seq(true, false).foreach(inclusive => check(tx, inclusive, mk)))
    }
}
