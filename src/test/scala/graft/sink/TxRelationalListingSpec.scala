package graft.sink

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The fourth-decade commit-log listing seam: past a size threshold,
  * set-membership file pruning ([[TxTable.prunedFilesIn]]) must plan
  * RELATIONALLY from the parquet files-checkpoint — driver memory
  * ∝ |matched files| — and return EXACTLY the driver path's file set on
  * the same commits, through checkpoints, suffix commits, removals
  * (compaction), stat-less files, and range-statted files.
  */
class TxRelationalListingSpec extends SparkSpec {
  import spark.implicits._

  private def mk(): String =
    java.nio.file.Files.createTempDirectory("graft-rel").toString + "/tbl"

  /** prunedFilesIn with the dispatch FORCED each way; asserts equality
    * and returns the (shared) set.
    */
  private def bothWays(t: String, probed: Set[Long]): Set[String] = {
    val key = TxTable.RelationalListingBytesKey
    spark.conf.set(key, "1") // any checkpoint is "big" → relational
    val rel =
      try TxTable.prunedFilesIn(spark, t, "cid", probed)
      finally spark.conf.set(key, Long.MaxValue.toString) // → driver
    val drv = TxTable.prunedFilesIn(spark, t, "cid", probed)
    spark.conf.unset(key)
    assert(rel.toSet == drv.toSet,
      s"relational ≠ driver for probed=$probed:\n rel=${rel.sorted}\n drv=${drv.sorted}")
    rel.toSet
  }

  test("relational ≡ driver through checkpoint, suffix, removals, stat-less and range stats") {
    val t = mk()
    // 12 Hive-like commits (single-value cid per file → lo == hi stats);
    // the JSON + parquet checkpoints land at v10, leaving v11-12 as the
    // commit suffix the relational plan must fold in
    (1 to 12).foreach { i =>
      TxTable.append(spark, Seq((i.toLong, s"x$i")).toDF("cid", "s"), t,
        statsCols = Seq("cid"))
    }
    assert(TxTable.liveEntriesDF(spark, t).isDefined,
      "the parquet files-checkpoint must exist after 10 commits")
    // a RANGE-statted file (multi-cell: cid 40..45 in one file)
    TxTable.append(spark, (40L to 45L).map(c => (c, "r")).toDF("cid", "s"), t,
      statsCols = Seq("cid"))
    // a stat-less file (keep-safe: must be returned for ANY probe set)
    TxTable.append(spark, Seq((99L, "z")).toDF("cid", "s"), t)

    val all = TxTable.currentFiles(spark, t).toSet
    val statless = bothWays(t, Set(12345L)) // no cid matches → stat-less only
    assert(statless.size == 1, s"exactly the stat-less file: $statless")
    val hit = bothWays(t, Set(1L, 5L, 11L, 42L))
    // three Hive hits (1, 5, 11 — incl. 11 from the SUFFIX), the range
    // file (42 ∈ [40,45]), and the stat-less file
    assert(hit.size == 5, s"expected 5 files, got ${hit.size}: $hit")
    assert(bothWays(t, Set.empty[Long]) == statless,
      "empty probe set keeps only stat-less files")
    assert(bothWays(t, (1L to 45L).toSet ++ Set(99L)) == all,
      "probing every cell returns every file")

    // REMOVALS since the checkpoint: compaction rewrites the table into
    // range-clustered files; the relational fold must drop the removed
    // files and pick up the rewrites with their recomputed stats
    TxTable.compact(spark, t, targetRowsPerFile = 4L, clusterBy = Some("cid"))
    val afterAll = TxTable.currentFiles(spark, t).toSet
    assert(bothWays(t, (1L to 99L).toSet) == afterAll)
    val some = bothWays(t, Set(2L))
    assert(some.nonEmpty && some.subsetOf(afterAll) && some != afterAll,
      s"post-compaction range stats must prune: $some of $afterAll")

    // another 10 commits roll a FRESH parquet checkpoint that now
    // includes the compaction's removals in its base
    (101 to 110).foreach { i =>
      TxTable.append(spark, Seq((i.toLong, s"y$i")).toDF("cid", "s"), t,
        statsCols = Seq("cid"))
    }
    assert(bothWays(t, Set(105L)).size == 1)
    assert(bothWays(t, (1L to 110L).toSet) == TxTable.currentFiles(spark, t).toSet)

    // vacuum keeps the newest parquet checkpoint and reaps superseded
    // ones once past the grace window
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Thread.sleep(5)
    val gone = TxTable.vacuum(spark, t, minAgeMs = 0L)
    assert(gone.exists(_.endsWith("00000010.files")),
      s"superseded files-checkpoint must be reaped: $gone")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$t/_graft_txn/00000020.files")),
      "the newest files-checkpoint survives vacuum")
    assert(bothWays(t, Set(105L)).size == 1, "pruning still exact after vacuum")
  }

  test("RANGE pruning (prunedFiles) dispatches relationally with the same file set") {
    // the watermark-read twin: incremental ingestion tables pay the
    // same listing wall, through typed [min, max] overlap instead of
    // set membership
    val t = mk()
    (1 to 11).foreach { i =>
      TxTable.append(spark,
        Seq((i * 10L, s"r$i"), (i * 10L + 5L, s"s$i")).toDF("wm", "s"), t,
        statsCols = Seq("wm"))
    }
    TxTable.append(spark, Seq((999L, "nostat")).toDF("wm", "s"), t) // stat-less
    assert(TxTable.liveEntriesDF(spark, t).isDefined)
    def both(lo: Option[String], hi: Option[String]): Set[String] = {
      val key = TxTable.RelationalListingBytesKey
      spark.conf.set(key, "1")
      val rel =
        try TxTable.prunedFiles(spark, t, "wm", lo, hi)
        finally spark.conf.set(key, Long.MaxValue.toString)
      val drv = TxTable.prunedFiles(spark, t, "wm", lo, hi)
      spark.conf.unset(key)
      assert(rel.toSet == drv.toSet, s"range [$lo, $hi]:\n $rel\n $drv")
      rel.toSet
    }
    val mid = both(Some("30"), Some("55"))
    // each append stages 2 part files; i = 3, 4, 5 overlap [30, 55] —
    // 6 statted hits plus the stat-less file
    assert(mid.size == 7, s"expected 6 hits + stat-less, got $mid")
    assert(both(None, None) == TxTable.currentFiles(spark, t).toSet)
    assert(both(Some("2000"), None).size == 1, "past the max: stat-less only")
    // half-open from a watermark — the incremental-scan shape
    assert(both(Some("100"), None).size == 5, "i = 10, 11 part files + stat-less")
  }

  test("the relational plan PUSHES the stat predicates into the parquet scan") {
    // the sargability claim behind the flat ~20 MB driver profile
    // (SCALE.md round 13, "The listing wall"): the (scol, lo) predicates must reach the
    // files-checkpoint scan as PushedFilters, so parquet row-group
    // stats — the checkpoint is written sorted by (scol, lo) — prune
    // before any row is materialized
    val t = mk()
    (1 to 10).foreach { i => // exactly the cadence: ckpt at head, no suffix
      TxTable.append(spark, Seq((i.toLong, s"x$i")).toDF("cid", "s"), t,
        statsCols = Seq("cid"))
    }
    val live = TxTable.liveEntriesDF(spark, t)
      .getOrElse(fail("files-checkpoint must exist at the cadence head"))
    val plan = live
      .filter(col("scol") === "cid" && col("lo") === col("hi") &&
        col("lo").isin("1", "2"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") &&
      plan.contains("EqualTo(scol,cid)") && plan.contains("In(lo, ["),
      s"stat predicates must push into the checkpoint scan:\n$plan")
  }

  test("no parquet checkpoint yet → relational dispatch falls back to the driver path") {
    val t = mk()
    // 3 commits: a JSON log but no checkpoint at any cadence
    (1 to 3).foreach { i =>
      TxTable.append(spark, Seq((i.toLong, "a")).toDF("cid", "s"), t,
        statsCols = Seq("cid"))
    }
    assert(TxTable.liveEntriesDF(spark, t).isEmpty)
    val key = TxTable.RelationalListingBytesKey
    spark.conf.set(key, "1")
    try assert(TxTable.prunedFilesIn(spark, t, "cid", Set(2L)).size == 1)
    finally spark.conf.unset(key)
  }

  test("index dedup parity with the relational listing forced on") {
    // the real consumer: a VecIndex's probed-cell pruning must return
    // identical semantic-dedup verdicts whichever listing plan runs.
    // Ten appends roll the table past the checkpoint cadence so the
    // parquet files-checkpoint actually exists.
    val emb = graft.sources.Tables.load(spark, SfDir, "embeddings")
      .select($"vec_id", $"embedding")
    val corpus = emb.filter($"vec_id" < 300)
    val dir = java.nio.file.Files.createTempDirectory("graft-relidx").toString
    val t = s"$dir/v"
    graft.functions.VecIndex.build(spark, corpus, t, kPerHalf = 4, iters = 0)
    (0 until 10).foreach { i =>
      val b = emb.filter($"vec_id" >= 300 + 10 * i && $"vec_id" < 310 + 10 * i)
      graft.functions.VecIndex.appendOnce(spark, b, t, "rel-spec", i.toLong)
    }
    assert(TxTable.liveEntriesDF(spark, t).isDefined,
      "ten appends must have rolled a parquet files-checkpoint")
    // a batch with planted corpus twins: twins must DROP, fresh must keep
    val batch = emb.filter($"vec_id" >= 400 && $"vec_id" < 430)
      .unionByName(corpus.filter($"vec_id" < 10)
        .select(($"vec_id" + 9000L).as("vec_id"), $"embedding"))
    def verdicts(): Seq[String] =
      graft.functions.VecIndex.dedupBatch(spark, t, batch)
        .collect().map(_.toString).sorted.toSeq
    val drv = verdicts()
    val key = TxTable.RelationalListingBytesKey
    spark.conf.set(key, "1")
    val rel = try verdicts() finally spark.conf.unset(key)
    assert(rel == drv, "dedup verdicts must not depend on the listing plan")
    assert(drv.nonEmpty && drv.size <= 30, s"twins must drop: ${drv.size}")
    TxTable.deleteDir(spark, dir)
  }
}
