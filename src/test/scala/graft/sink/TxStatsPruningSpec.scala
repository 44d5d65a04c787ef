package graft.sink

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Per-file column stats in the commit log: selective reads must skip
  * files at PLAN time (fewer opens) without ever changing which rows
  * qualify — and the stats must survive checkpointing and log cleaning.
  */
class TxStatsPruningSpec extends SparkSpec {
  import spark.implicits._

  private def mk() =
    java.nio.file.Files.createTempDirectory("graft-stats").toString + "/tbl"

  private def mkRangeTable(t: String): Unit =
    Seq((1L, 100L), (101L, 200L), (201L, 300L), (301L, 400L)).foreach { case (a, b) =>
      TxTable.append(spark, (a to b).map(i => (i, s"v$i")).toDF("id", "v"), t,
        statsCols = Seq("id", "v"))
    }

  /** Append `df` to `t`, returning the files that commit added. */
  private def appended(t: String, df: DataFrame, statsCols: Seq[String]): Set[String] = {
    val before = TxTable.currentFiles(spark, t).toSet
    TxTable.append(spark, df, t, statsCols = statsCols)
    TxTable.currentFiles(spark, t).toSet -- before
  }

  test("selective read opens fewer files; result identical to the full scan") {
    val t = mk()
    mkRangeTable(t)
    val all = TxTable.currentFiles(spark, t)
    val pruned = TxTable.prunedFiles(spark, t, "id", Some("120"), Some("180"))
    assert(pruned.nonEmpty && pruned.size < all.size,
      s"expected pruning: ${pruned.size} of ${all.size}")
    // only batch 2's files survive the [120, 180] range
    val got = TxTable.readPruned(spark, t, "id", Some("120"), Some("180"))
      .filter($"id".between(120L, 180L)).select($"id").as[Long].collect().sorted
    assert(got.toSeq == (120L to 180L))
    // unbounded range prunes nothing
    assert(TxTable.prunedFiles(spark, t, "id", None, None).size == all.size)
    // a column with no stats never prunes
    assert(TxTable.prunedFiles(spark, t, "nope", Some("1"), Some("2")).size == all.size)
  }

  test("string stats prune lexicographically, never changing the result") {
    val t = mk()
    mkRangeTable(t)
    // v values are "v1".."v400" — LEXICOGRAPHIC ranges, so e.g. batch 1
    // ("v1".."v99") overlaps ["v150","v160"] but batch 4 ("v301".."v400")
    // does not: pruning must follow string order, and the pruned read
    // must agree exactly with the full scan under the same filter
    val pruned = TxTable.prunedFiles(spark, t, "v", Some("v150"), Some("v160"))
    val all = TxTable.currentFiles(spark, t)
    assert(pruned.size < all.size, s"expected pruning: ${pruned.size} of ${all.size}")
    val got = TxTable.readPruned(spark, t, "v", Some("v150"), Some("v160"))
      .filter($"v" >= "v150" && $"v" <= "v160").select($"v").as[String].collect().sorted
    val want = TxTable.read(spark, t)
      .filter($"v" >= "v150" && $"v" <= "v160").select($"v").as[String].collect().sorted
    assert(got.toSeq == want.toSeq && got.nonEmpty)
  }

  test("stats survive checkpointing and log cleaning") {
    val t = mk()
    // 12 single-range commits → checkpoint at v10 carries stats forward
    (1 to 12).foreach(i => TxTable.append(spark,
      Seq(((i * 100).toLong, i.toLong)).toDF("id", "k"), t, statsCols = Seq("id")))
    TxTable.vacuum(spark, t, minAgeMs = 0L) // clean pre-checkpoint commits
    val entries = TxTable.currentFilesWithStats(spark, t)
    assert(entries.size == 12)
    assert(entries.forall(_._2.exists(_.col == "id")),
      "every live file must keep its stats through checkpoint + cleaning")
    val pruned = TxTable.prunedFiles(spark, t, "id", Some("250"), Some("350"))
    assert(pruned.size == 1, s"expected 1 file for [250,350], got ${pruned.size}")
    assert(TxTable.readPruned(spark, t, "id", Some("250"), Some("350"))
      .select($"id").as[Long].collect().toSeq == Seq(300L))
  }

  test("compaction recomputes stats: pruning keeps working on the rewritten files") {
    val t = mk()
    mkRangeTable(t)
    // cluster by id → compacted files get near-disjoint ranges again
    TxTable.compact(spark, t, targetRowsPerFile = 100L, clusterBy = Some("id"))
    val entries = TxTable.currentFilesWithStats(spark, t)
    assert(entries.forall(e => e._2.exists(_.col == "id") && e._2.exists(_.col == "v")),
      "every compacted file must carry recomputed stats for the pre-compact stat columns")
    val pruned = TxTable.prunedFiles(spark, t, "id", Some("120"), Some("180"))
    assert(pruned.size < entries.size, s"expected pruning: ${pruned.size} of ${entries.size}")
    assert(TxTable.readPruned(spark, t, "id", Some("120"), Some("180"))
      .filter($"id".between(120L, 180L)).count() == 61L)
  }

  test("compacting a stat-less table stays stat-less and never mis-prunes") {
    val t = mk()
    Seq((1L, 100L), (101L, 200L)).foreach { case (a, b) =>
      TxTable.append(spark, (a to b).map(i => (i, s"v$i")).toDF("id", "v"), t)
    }
    TxTable.compact(spark, t, targetRowsPerFile = 1000000L)
    val entries = TxTable.currentFilesWithStats(spark, t)
    assert(entries.forall(_._2.isEmpty))
    assert(TxTable.readPruned(spark, t, "id", Some("120"), Some("180"))
      .filter($"id".between(120L, 180L)).count() == 61L)
  }

  test("every stats-bearing file carries the synthetic #rows count") {
    val t = mk()
    mkRangeTable(t)
    val entries = TxTable.currentFilesWithStats(spark, t)
    assert(entries.nonEmpty)
    entries.foreach { case (f, st) =>
      val rc = st.find(_.col == TxTable.RowCountStat)
      assert(rc.isDefined, s"$f missing ${TxTable.RowCountStat}")
      assert(rc.get.typ == "L" && rc.get.lo == rc.get.hi)
    }
    // counts sum to the table's true row count — the commit-log-only
    // occupancy consumers (drift stats) depend on exactly this
    val total = entries.flatMap(_._2.find(_.col == TxTable.RowCountStat))
      .map(_.lo.toLong).sum
    assert(total == TxTable.read(spark, t).count())
    // the synthetic stat never prunes (lookups are by real column name)
    assert(TxTable.prunedFiles(spark, t, "id", None, None).size == entries.size)
  }

  test("all-null stat column: no stat emitted, file always kept") {
    val t = mk()
    TxTable.append(spark,
      Seq((1L, null: java.lang.Long), (2L, null: java.lang.Long)).toDF("id", "k"),
      t, statsCols = Seq("k"))
    val entries = TxTable.currentFilesWithStats(spark, t)
    assert(entries.forall(_._2.forall(_.col != "k")))
    assert(TxTable.prunedFiles(spark, t, "k", Some("5"), Some("6")).size == entries.size)
  }

  test("stats round-trip through the commit JSON with hostile values") {
    val nasty = TxTable.Commit(7L,
      added = Seq("batch-a/part-1.parquet", "batch-a/part-2.parquet"),
      removed = Seq("batch-old/part-9.parquet"),
      stats = Seq(
        Seq(TxTable.ColStat("ts", "S", "2024-01-01 00:00:00.5", "2024-02-01 08:00:00"),
          TxTable.ColStat("k", "L", "-42", "9001")),
        Seq(TxTable.ColStat("wei\"rd,col\\", "S", "a,b", "z[}]"))))
    assert(TxTable.parse(TxTable.render(nasty)) == nasty)
    val ck = TxTable.Checkpoint(10L, Seq("batch-a/part-1.parquet"),
      Seq(Seq(TxTable.ColStat("d", "D", "-1.5E-7", "3.25"))))
    assert(TxTable.parseCkpt(TxTable.renderCkpt(ck)) == ck)
    // stat-less forms render the legacy JSON and parse back empty
    val plain = TxTable.Commit(1L, Seq("batch-b/p.parquet"), Nil)
    assert(!TxTable.render(plain).contains("stats"))
    assert(TxTable.parse(TxTable.render(plain)) == plain)
  }

  test("set-membership pruning through a checkpoint, its suffix, compaction, stat-less and range stats") {
    val t = mk()
    def pruned(cells: Long*): Set[String] =
      TxTable.prunedFilesIn(spark, t, "cid", cells.toSet).toSet
    // 12 single-cell commits (lo == hi stats): the checkpoint lands at
    // v10, so v11-v12 are the commit suffix replayed onto it
    val hive = (1 to 12).map(i => i.toLong ->
      appended(t, Seq((i.toLong, s"x$i")).toDF("cid", "s"), Seq("cid"))).toMap
    // a range-statted batch (cid 40..45) and a stat-less file
    val range = appended(t, (40L to 45L).map(c => (c, "r")).toDF("cid", "s"), Seq("cid"))
    val statless = appended(t, Seq((99L, "z")).toDF("cid", "s"), Nil)
    assert(statless.size == 1)
    assert(pruned(12345L) == statless, "no cid matches: only the stat-less file")
    assert(pruned() == statless, "empty probe set keeps only the stat-less file")
    val rangeHit = pruned(42L) -- statless
    assert(rangeHit.nonEmpty && rangeHit.subsetOf(range), s"42 ∈ [40, 45]: $rangeHit")
    // Hive hits 1 and 5 from the checkpoint, 11 from the suffix
    assert(pruned(1L, 5L, 11L, 42L) == hive(1L) ++ hive(5L) ++ hive(11L) ++ rangeHit ++ statless)
    assert(pruned((1L to 45L) :+ 99L: _*) == TxTable.currentFiles(spark, t).toSet)

    // compaction removes every file and rewrites range-clustered files
    TxTable.compact(spark, t, targetRowsPerFile = 4L, clusterBy = Some("cid"))
    val afterAll = TxTable.currentFiles(spark, t).toSet
    assert(afterAll.intersect(hive.values.flatten.toSet ++ range ++ statless).isEmpty)
    assert(pruned((1L to 99L): _*) == afterAll)
    val some = pruned(2L)
    assert(some.nonEmpty && some.subsetOf(afterAll) && some != afterAll,
      s"post-compaction range stats must prune: $some of $afterAll")

    // ten more commits roll a checkpoint that holds the compaction's removals
    val late = (101 to 110).map(i => i.toLong ->
      appended(t, Seq((i.toLong, s"y$i")).toDF("cid", "s"), Seq("cid"))).toMap
    assert(TxTable.headVersion(spark, t) == 25L)
    assert(pruned(105L) == late(105L))
    assert(pruned((1L to 110L): _*) == TxTable.currentFiles(spark, t).toSet)
  }

  test("watermark range pruning keeps every overlapping batch and the stat-less file") {
    val t = mk()
    // batch i holds wm = 10i and 10i + 5
    val batches = (1 to 11).map { i =>
      appended(t, Seq((i * 10L, s"r$i"), (i * 10L + 5L, s"s$i")).toDF("wm", "s"), Seq("wm"))
    }
    val statless = appended(t, Seq((999L, "nostat")).toDF("wm", "s"), Nil)
    def pruned(lo: Option[String], hi: Option[String]): Set[String] =
      TxTable.prunedFiles(spark, t, "wm", lo, hi).toSet
    // batches 3, 4, 5 overlap [30, 55]
    assert(pruned(Some("30"), Some("55")) == batches(2) ++ batches(3) ++ batches(4) ++ statless)
    assert(pruned(None, None) == TxTable.currentFiles(spark, t).toSet)
    assert(pruned(Some("2000"), None) == statless, "past the max: stat-less only")
    // half-open from a watermark, the incremental-scan shape: batches 10, 11
    assert(pruned(Some("100"), None) == batches(9) ++ batches(10) ++ statless)
  }
}
