package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sink.TxTable

/** The at-rest IVFADC index: bit-parity with the in-session paths at
  * the same geometry (train/encode/probe/score are the SAME code —
  * [[Similarity.ivfPqBuildIndex]]/[[Similarity.adcProbeScore]] — so any
  * divergence is a storage bug), listing-time pruning that actually
  * skips unprobed lists' files, and frozen-quantizer incremental
  * append.
  */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = graft.sources.Tables.load(spark, SfDir, "embeddings")
  private lazy val queries = emb.filter($"vec_id" <= 20)
    .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))

  private def tmp(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_ann_$tag").toFile
    d.deleteOnExit()
    d.getAbsolutePath + "/idx"
  }

  private def resultSet(df: DataFrame): Set[(Long, Long, Long)] =
    df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        df.columns.filter(c => c == "adc_q" || c == "l2_q")
          .headOption.map(col(_).cast("long")).getOrElse(lit(0L)))
      .as[(Long, Long, Long)].collect().toSet

  test("meta sidecar round-trips both quantizers exactly") {
    val meta = AnnIndex.Meta(8, 2, 3,
      Array(Array(1L, -2L), Array(3L, 4L)),
      Array(Array(Array(5L), Array(-6L)), Array(Array(7L), Array(8L))))
    val back = AnnIndex.parseMeta(AnnIndex.renderMeta(meta))
    assert(back.dim == 8 && back.m == 2 && back.kCentroids == 3)
    assert(back.coarse.map(_.toSeq).toSeq == meta.coarse.map(_.toSeq).toSeq)
    assert(back.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      meta.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("at-rest ADC search is bit-identical to the in-session path") {
    val dir = tmp("adc")
    AnnIndex.build(spark, emb, dir, dim = 64, nCentroids = 16)
    val atRest = resultSet(AnnIndex.search(spark, dir, queries, k = 10))
    val inMem = resultSet(Similarity.ivfPqTopKPortable(queries, emb, k = 10,
      dim = 64, nCentroids = 16))
    assert(atRest == inMem)
  }

  test("at-rest re-ranked search is bit-identical to ivfPqRerankTopK") {
    val dir = tmp("rr")
    AnnIndex.build(spark, emb, dir, dim = 64, nCentroids = 16)
    val atRest = resultSet(AnnIndex.searchRerank(spark, dir, queries,
      k = 10, rerank = 50))
    val inMem = resultSet(Similarity.ivfPqRerankTopK(queries, emb, k = 10,
      rerank = 50, dim = 64, nCentroids = 16))
    assert(atRest == inMem)
  }

  test("probed-list pruning opens only the probed lists' files") {
    val dir = tmp("prune")
    AnnIndex.build(spark, emb, dir, dim = 64, nCentroids = 16)
    val meta = AnnIndex.readMeta(spark, dir)
    // two queries × two probes ≤ 4 of 16 lists
    val q2 = emb.filter($"vec_id" <= 1)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val probed = AnnIndex.probedCids(spark, q2, meta, nProbe = 2)
    assert(probed.size <= 4)
    val opened = AnnIndex.probedFiles(spark, dir, probed)
    val all = TxTable.currentFiles(spark, dir)
    assert(all.size >= 16, s"expected one file per list, got ${all.size}")
    assert(opened.size < all.size,
      s"pruning opened ${opened.size}/${all.size} files")
    // every opened file is a probed cid= dir; every probed list is covered
    assert(opened.forall(f => probed.exists(c => f.contains(s"cid=$c/"))))
    assert(probed.forall(c => opened.exists(_.contains(s"cid=$c/"))))
    // and the pruned search STILL matches the in-session answer
    val atRest = resultSet(AnnIndex.search(spark, dir, q2, k = 5, nProbe = 2))
    val inMem = resultSet(Similarity.ivfPqTopKPortable(q2, emb, k = 5,
      dim = 64, nCentroids = 16, nProbe = 2))
    assert(atRest == inMem)
  }

  test("compaction preserves the partition layout, the stats, and the pruned search") {
    val dir = tmp("compact")
    AnnIndex.build(spark, emb, dir, dim = 64, nCentroids = 16,
      maxRecordsPerFile = 20L) // oversized lists split into several files
    val before = TxTable.currentFiles(spark, dir).size
    assert(before > 16, s"expected split files, got $before")
    val expected = resultSet(AnnIndex.search(spark, dir, queries, k = 10))
    // TxTable.compact with partitionBy keeps the cid= dirs (directory
    // pruning survives) and recomputes the per-file cid stats — the
    // index maintenance path after many appends
    TxTable.compact(spark, dir, targetRowsPerFile = 1000000L,
      partitionBy = Seq("cid"))
    val after = TxTable.currentFiles(spark, dir)
    assert(after.size < before, s"compaction must shrink files: $before -> ${after.size}")
    val meta = AnnIndex.readMeta(spark, dir)
    val q2 = emb.filter($"vec_id" <= 1)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val probed = AnnIndex.probedCids(spark, q2, meta, nProbe = 2)
    val opened = AnnIndex.probedFiles(spark, dir, probed)
    assert(opened.size < after.size,
      s"post-compaction pruning opened ${opened.size}/${after.size}")
    assert(resultSet(AnnIndex.search(spark, dir, queries, k = 10)) == expected)
  }

  test("build + search survive the hostile object store (lying rename, check-then-act create)") {
    // the index is a TxTable + one sidecar: both must hold on a store
    // whose rename REPLACES and whose exclusive-create races — the
    // same stand-in the commit protocol and log store are proven on
    val dir = graft.sink.HostileFileSystem.root(spark) + "/ann_idx"
    AnnIndex.build(spark, emb, dir, dim = 64, nCentroids = 16)
    val atRest = resultSet(AnnIndex.search(spark, dir, queries, k = 10))
    val inMem = resultSet(Similarity.ivfPqTopKPortable(queries, emb, k = 10,
      dim = 64, nCentroids = 16))
    assert(atRest == inMem)
  }

  test("append encodes with the frozen quantizers and is immediately searchable") {
    val dir = tmp("append")
    AnnIndex.build(spark, emb, dir, dim = 64, nCentroids = 16)
    val before = TxTable.read(spark, dir).count()
    // exact copies under new ids: same vi -> same cid, same codes, and
    // ADC distance to the original's query equals the original's own
    // reconstruction distance, so the twin MUST surface in top-k
    val twins = emb.filter($"vec_id" <= 5)
      .select(($"vec_id" + 100000L).as("vec_id"), $"embedding")
    AnnIndex.append(spark, twins, dir)
    assert(TxTable.read(spark, dir).count() == before + twins.count())
    val q = emb.filter($"vec_id" <= 5)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val hits = AnnIndex.search(spark, dir, q, k = 3)
      .filter(col("neighbor_id") === col("query_id") + 100000L)
    assert(hits.count() == q.count(),
      "every appended exact twin must rank in its original's top-3")
    // meta is untouched by append (frozen quantizers)
    val meta = AnnIndex.readMeta(spark, dir)
    assert(meta.coarse.length == 16)
  }

  test("rebuild over a live index REPLACES it: one commit, no stale rows, paired sidecar") {
    val dir = tmp("rebuild")
    AnnIndex.build(spark, emb, dir, dim = 64, nCentroids = 16)
    // drift the index: append twins so the live state differs from any
    // fresh build of `emb` alone
    val twins = emb.filter($"vec_id" <= 5)
      .select(($"vec_id" + 300000L).as("vec_id"), $"embedding")
    AnnIndex.append(spark, twins, dir)
    val hashBefore = AnnIndex.currentMetaHash(spark, dir)
    // rebuild at a DIFFERENT geometry: the new sidecar cannot decode the
    // old rows, so any survivor of the swap would poison the search
    AnnIndex.build(spark, emb, dir, dim = 64, nCentroids = 8, m = 2)
    assert(TxTable.read(spark, dir).count() == emb.count(),
      "rebuild must remove every pre-rebuild row in the same commit")
    assert(AnnIndex.currentMetaHash(spark, dir) != hashBefore)
    val meta = AnnIndex.readMeta(spark, dir)
    assert(meta.coarse.length == 8 && meta.m == 2)
    // the rebuilt index answers bit-identically to a fresh in-session
    // run at the rebuilt geometry — no old-generation contamination
    val atRest = resultSet(AnnIndex.search(spark, dir, queries, k = 10))
    val inMem = resultSet(Similarity.ivfPqTopKPortable(queries, emb, k = 10,
      dim = 64, m = 2, nCentroids = 8))
    assert(atRest == inMem)
  }

  test("IMI grid at rest: parity with the in-session chain, frozen append, auto-handoff") {
    val dir = tmp("imi")
    AnnIndex.buildImi(spark, emb, dir, dim = 64, m = 4, kCentroids = 8,
      kPerHalf = 4)
    assert(AnnIndex.readMeta(spark, dir).isImi)
    // at-rest == in-session at the same geometry (integer Lloyd is
    // fully deterministic, so two independent trainings agree)
    val atRest = resultSet(AnnIndex.search(spark, dir, queries, k = 10))
    val inMem = resultSet(Similarity.ivfPqTopKImi(queries, emb, k = 10,
      dim = 64, m = 4, kCentroids = 8, kPerHalf = 4))
    assert(atRest == inMem)
    // re-ranked search reconstructs against the CONCATENATED cell
    // centroid: every exact twin of a query must surface at the top
    val twins = emb.filter($"vec_id" <= 5)
      .select(($"vec_id" + 600000L).as("vec_id"), $"embedding")
    AnnIndex.append(spark, twins, dir) // frozen product-quantizer encode
    val q5 = emb.filter($"vec_id" <= 5)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val hits = AnnIndex.searchRerank(spark, dir, q5, k = 3, rerank = 20)
      .filter(col("neighbor_id") === col("query_id") + 600000L)
    assert(hits.count() == q5.count(),
      "every appended twin must rank in its original's re-ranked top-3")
    // derived sizing hands off to the grid past the cutover
    val dir2 = tmp("imihandoff")
    AnnIndex.build(spark, emb, dir2, dim = 64, imiCutoverRows = 10L)
    assert(AnnIndex.readMeta(spark, dir2).isImi,
      "build must hand off to the IMI grid past imiCutoverRows")
    assert(AnnIndex.search(spark, dir2, queries, k = 5).count() == queries.count() * 5)
  }

  test("an empty query set returns an empty result, not a scan error") {
    val dir = tmp("empty")
    AnnIndex.build(spark, emb, dir, dim = 64, nCentroids = 16)
    val none = emb.filter($"vec_id" < 0)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    assert(AnnIndex.search(spark, dir, none, k = 5).count() == 0)
    assert(AnnIndex.searchRerank(spark, dir, none, k = 5, rerank = 10).count() == 0)
  }

  test("appends record an occupancy-drift stat; a shifted batch trips the threshold") {
    val dir = tmp("drift")
    AnnIndex.build(spark, emb, dir, dim = 64, nCentroids = 16)
    // in-distribution batch: the corpus itself under new ids — same
    // vectors, same lists, TV distance exactly 0
    val same = emb.select(($"vec_id" + 400000L).as("vec_id"), $"embedding")
    AnnIndex.append(spark, same, dir)
    val h1 = AnnIndex.driftHistory(spark, dir)
    assert(h1.size == 1, s"one drift record expected, got $h1")
    assert(h1.head._2 == 0.0, s"identical distribution must score TV 0, got ${h1.head._2}")
    // shifted batch: fifty copies of ONE vector — all mass in one list,
    // the silent-degradation shape the stat exists to surface
    val one = emb.filter($"vec_id" === 0L).select($"embedding").first()
      .getAs[scala.collection.Seq[Float]](0)
    val skew = spark.createDataFrame(
      (1 to 50).map(i => (500000L + i, one.toArray))
    ).toDF("vec_id", "embedding")
    AnnIndex.append(spark, skew, dir)
    val h2 = AnnIndex.driftHistory(spark, dir)
    assert(h2.size == 2)
    assert(h2.last._2 >= AnnIndex.DriftThreshold,
      s"a one-list batch must trip the documented threshold, got ${h2.last._2}")
    // the stat is observability only: the rows landed and search works
    assert(graft.sink.TxTable.read(spark, dir).count() ==
      emb.count() * 2 + 50)
  }

  test("rebuildWarranted codes the DriftShiftAb curve: fires on the measured " +
       "mixture shift, silent at the in-distribution floor") {
    // the r11 probe's measured curve IS the fixture (SCALE.md): a
    // gradual mixture rotation α = 0.0 → 1.0 recorded these TV stats.
    val mixtureCurve = Seq(0.000, 0.156, 0.261, 0.355, 0.453, 0.501, 0.548)
    // the trailing-3 mean crosses 0.3 at the 0.453 append (α = 0.8) —
    // one append BEFORE the one-batch 0.5 alarm, while a rebuild still
    // recovers everything (the probe's operational finding)
    assert(!AnnIndex.rebuildWarrantedFrom(mixtureCurve.take(4)),
      "α <= 0.6: trailing mean 0.257 is inside the noise floor")
    assert(AnnIndex.rebuildWarrantedFrom(mixtureCurve.take(5)),
      "α = 0.8: trailing mean 0.356 must fire the sustained trigger")
    // the 0.23-0.26 in-distribution noise floor NEVER fires, at any length
    val floor = Seq.fill(20)(Seq(0.23, 0.24, 0.26, 0.25)).flatten
    assert(!AnnIndex.rebuildWarrantedFrom(floor),
      "sustained in-distribution jitter must stay silent")
    // a single mostly-shifted batch is the one-batch alarm — fires even
    // with too little history for the trailing mean
    assert(AnnIndex.rebuildWarrantedFrom(Seq(0.51)))
    assert(AnnIndex.rebuildWarrantedFrom(Seq(0.1, 0.1, 0.55, 0.1, 0.1)))
    // no history, no alarm
    assert(!AnnIndex.rebuildWarrantedFrom(Nil))
    assert(!AnnIndex.rebuildWarrantedFrom(Seq(0.29, 0.29)))
  }

  test("rebuildWarranted reads the index's own drift history (zero data IO)") {
    val dir = tmp("warranted")
    AnnIndex.build(spark, emb, dir, dim = 64, nCentroids = 16)
    val same = emb.select(($"vec_id" + 400000L).as("vec_id"), $"embedding")
    AnnIndex.append(spark, same, dir)
    assert(!AnnIndex.rebuildWarranted(spark, dir),
      "an in-distribution append (TV 0) must not warrant a rebuild")
    val one = emb.filter($"vec_id" === 0L).select($"embedding").first()
      .getAs[scala.collection.Seq[Float]](0)
    val skew = spark.createDataFrame(
      (1 to 50).map(i => (500000L + i, one.toArray))
    ).toDF("vec_id", "embedding")
    AnnIndex.append(spark, skew, dir)
    assert(AnnIndex.rebuildWarranted(spark, dir),
      "a one-list batch trips the one-batch alarm through the history fold")
  }

  test("tiny batches are not drift evidence: rebuildWarranted ignores them") {
    // SCALE.md round 12, index GC: a 5-row twin batch on a 16-cell grid reads
    // TV ≈ 0.5 from small-sample concentration alone — maintenance
    // appends must not ring the alarm forever
    val dir = tmp("tinydrift")
    AnnIndex.build(spark, emb, dir, dim = 64, nCentroids = 16)
    (0 until 4).foreach { i =>
      AnnIndex.append(spark, emb.filter($"vec_id" <= 4)
        .select(($"vec_id" + 600000L + i * 100L).as("vec_id"), $"embedding"), dir)
    }
    val stats = AnnIndex.driftStats(spark, dir)
    assert(stats.forall(_._3 == 5L), s"batch rows must be recorded: $stats")
    assert(stats.exists(_._2 >= 0.4),
      s"the premise: tiny batches DO read high TV ($stats)")
    assert(!AnnIndex.rebuildWarranted(spark, dir),
      "5-row batches are sampling noise, not a rebuild signal")
  }

  test("a rebuild CLEARS the drift history: the alarm resets after the rebuild it demanded") {
    // r12 review finding: the one-batch alarm scans the whole retained
    // history and builds left pre-rebuild sidecars in place — the
    // signal kept demanding the rebuild the operator just performed
    val dir = tmp("driftreset")
    AnnIndex.build(spark, emb, dir, dim = 64, nCentroids = 16)
    val one = emb.filter($"vec_id" === 0L).select($"embedding").first()
      .getAs[scala.collection.Seq[Float]](0)
    AnnIndex.append(spark, spark.createDataFrame(
      (1 to 50).map(i => (500000L + i, one.toArray))).toDF("vec_id", "embedding"), dir)
    assert(AnnIndex.rebuildWarranted(spark, dir), "the skew batch rings the alarm")
    AnnIndex.build(spark, emb, dir, dim = 64, nCentroids = 16) // the rebuild
    assert(AnnIndex.driftStats(spark, dir).isEmpty,
      "stats against the retired geometry must be gone")
    assert(!AnnIndex.rebuildWarranted(spark, dir),
      "the alarm must reset after the rebuild")
    // the cleared table keeps recording from scratch
    AnnIndex.append(spark, emb.filter($"vec_id" <= 40)
      .select(($"vec_id" + 600000L).as("vec_id"), $"embedding"), dir)
    assert(AnnIndex.driftStats(spark, dir).size == 1)
    assert(!AnnIndex.rebuildWarranted(spark, dir))
  }

  test("a superseded meta keeps the grace window from its SUPERSESSION, not its mtime") {
    // r12 review finding: a month-old sidecar was reaped the instant a
    // rebuild retired it — but a cross-process reader that resolved
    // the old hash just before the swap still needs it for the grace
    val dir = tmp("supersede")
    AnnIndex.build(spark, emb, dir, dim = 64, nCentroids = 16)
    val gen0 = AnnIndex.currentMetaHash(spark, dir)
    // age the first sidecar far past any grace
    val old = new java.io.File(dir).listFiles()
      .find(_.getName.contains(gen0)).get
    old.setLastModified(System.currentTimeMillis() - 86400000L)
    AnnIndex.build(spark, emb, dir, dim = 64, nCentroids = 8) // supersedes NOW
    def names() = new java.io.File(dir).listFiles().map(_.getName).toSet
    // production grace: the supersession is seconds old — the stale
    // meta must survive even though its own mtime is a day old
    AnnIndex.vacuumSidecars(spark, dir, minAgeMs = 3600000L)
    assert(names().exists(_.contains(gen0)),
      "grace must run from supersession, not the stale file's mtime")
    // zero grace: reapable
    AnnIndex.vacuumSidecars(spark, dir, minAgeMs = 0L)
    assert(!names().exists(_.contains(gen0)))
  }

  test("vacuum never touches sidecars; vacuumSidecars reaps exactly the dead ones") {
    val dir = tmp("sidecargc")
    AnnIndex.build(spark, emb, dir, dim = 64, nCentroids = 16)
    val gen0 = AnnIndex.currentMetaHash(spark, dir)
    // a rebuild leaves the old generation's sidecar + retired data files
    AnnIndex.build(spark, emb, dir, dim = 64, nCentroids = 8)
    val gen1 = AnnIndex.currentMetaHash(spark, dir)
    assert(gen0 != gen1)
    // drift tail + a crashed tmp
    (0 until 6).foreach { i =>
      AnnIndex.append(spark, emb.filter($"vec_id" <= 40)
        .select(($"vec_id" + 700000L + i * 100L).as("vec_id"), $"embedding"), dir)
    }
    val tmpFile = new java.io.File(dir, "._graft_ann_meta.deadbeef.json.tmp")
    java.nio.file.Files.write(tmpFile.toPath, "crash".getBytes)
    def names() = new java.io.File(dir).listFiles().map(_.getName).toSet
    // TxTable.vacuum (grace 0) reclaims retired DATA but leaves every
    // `_graft_*` sidecar alone — the SCALE.md round-12 index-GC finding
    graft.sink.TxTable.vacuum(spark, dir, minAgeMs = 0L)
    assert(names().exists(_.contains(gen0)), "vacuum must not eat old metas")
    assert(names().exists(_.contains(gen1)), "vacuum must NEVER eat the live meta")
    assert(names().contains(tmpFile.getName))
    // the sidecar reaper: stale meta + drift tail + tmp go, live meta stays
    val reaped = AnnIndex.vacuumSidecars(spark, dir, keepDrift = 2, minAgeMs = 0L)
    assert(reaped.exists(_.contains(gen0)), s"stale meta must be reaped: $reaped")
    assert(!names().exists(_.contains(gen0)))
    assert(names().exists(_.contains(gen1)), "the live meta survives the reaper")
    assert(!names().contains(tmpFile.getName), "aged tmp staging is crash garbage")
    assert(AnnIndex.driftStats(spark, dir).size <= 2,
      "the drift tail folds to keepDrift")
    // the index still answers after both reapers
    val q = emb.filter($"vec_id" <= 4)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    assert(AnnIndex.search(spark, dir, q, k = 5).count() == 25)
  }

  test("vacuum reaps aged EMPTY dirs (abandoned batch/partition dirs), keeps live ones") {
    val dir = tmp("emptydirs")
    AnnIndex.build(spark, emb, dir, dim = 64, nCentroids = 16)
    // appends + compaction retire whole batch dirs
    (0 until 4).foreach { i =>
      AnnIndex.append(spark, emb.filter($"vec_id" <= 40)
        .select(($"vec_id" + 800000L + i * 100L).as("vec_id"), $"embedding"), dir)
    }
    graft.sink.TxTable.compact(spark, dir, targetRowsPerFile = 1000000L,
      clusterBy = Some("id"), partitionBy = Seq("cid"))
    def dirCount() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) :+ f else Nil
      walk(new java.io.File(dir)).size
    }
    // convergence is one nesting LEVEL per pass: deleting a dir's
    // children refreshes its mtime past this pass's cutoff (the
    // stager-safety grace), so the newly-empty parent falls to the
    // NEXT cadence run — loop to the fixpoint and assert it's clean
    var guard = 0
    while (graft.sink.TxTable.vacuum(spark, dir, minAgeMs = 0L).nonEmpty) {
      guard += 1; assert(guard < 8, "vacuum must reach a fixpoint")
    }
    val after = dirCount()
    assert(graft.sink.TxTable.vacuum(spark, dir, minAgeMs = 0L).isEmpty &&
      dirCount() == after, "the fixpoint is stable")
    // every remaining dir is non-empty (or the log dir)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) :+ f else Nil
    val emptyDirs = walk(new java.io.File(dir))
      .filter(d => d.isDirectory && d.listFiles().isEmpty)
      .filterNot(_.getName == "_graft_txn")
    assert(emptyDirs.isEmpty, s"abandoned empty dirs left: $emptyDirs")
    val q = emb.filter($"vec_id" <= 4)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    assert(AnnIndex.search(spark, dir, q, k = 5).count() == 25)
  }

  test("compactIfNeeded fires at the measured cadence and restores the open count") {
    val dir = tmp("cadence")
    AnnIndex.build(spark, emb, dir, dim = 64, nCentroids = 16)
    assert(AnnIndex.compactIfNeeded(spark, dir).isEmpty,
      "a fresh build (~1 file/list) must not trigger compaction")
    // four appends -> ~5 files per touched list, past the 3.0 default
    (1 to 4).foreach { i =>
      AnnIndex.append(spark, emb.filter($"vec_id" <= 40)
        .select(($"vec_id" + i * 10000L).as("vec_id"), $"embedding"), dir)
    }
    val before = TxTable.currentFiles(spark, dir).size
    val meta = AnnIndex.readMeta(spark, dir)
    val v = AnnIndex.compactIfNeeded(spark, dir)
    assert(v.isDefined, s"$before files over ${meta.coarse.length} lists must compact")
    val after = TxTable.currentFiles(spark, dir).size
    assert(after < before && after <= meta.coarse.length,
      s"compaction must restore ~one file per list, got $after (was $before)")
    assert(AnnIndex.compactIfNeeded(spark, dir).isEmpty, "idempotent once healthy")
    // searches still answer over the compacted layout
    assert(AnnIndex.search(spark, dir, queries, k = 5).count() == queries.count() * 5)
  }

  test("concurrent appends + duplicate replays: exactly-once, no lost-race failures") {
    // the round-10 ADVICE pair: a lost head race to a HARMLESS
    // concurrent append re-commits the already-staged files (same
    // quantizer generation — no restage, and no hard IOException after
    // 5 losses), and a duplicate (appId, writerVersion) replay that
    // loses its race re-checks the writer watermark and skips as a
    // no-op. Eight racing writers — four plain appends, two duplicate
    // pairs — force the CME path through both rules.
    val dir = tmp("race")
    AnnIndex.build(spark, emb, dir, dim = 64, nCentroids = 16)
    val n0 = TxTable.read(spark, dir).count()
    def batch(tag: Long) = emb.filter($"vec_id" <= 9)
      .select(($"vec_id" + tag).as("vec_id"), $"embedding")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val plain = (1 to 4).map { i => Future {
      AnnIndex.append(spark, batch(700000L + i * 1000L), dir)
    }}
    // two writers replaying the SAME txn each: at most one commit per
    // (appId, writerVersion) may land
    val dup = (1 to 2).flatMap { w => (1 to 2).map { _ => Future {
      AnnIndex.appendOnce(spark, batch(800000L + w * 1000L), dir, s"racer-$w", 1L)
    }}}
    val landedPlain = plain.map(Await.result(_, 120.seconds))
    val landedDup = dup.map(Await.result(_, 120.seconds))
    assert(landedPlain.size == 4)
    val dupLanded = landedDup.count(_.isDefined)
    assert(dupLanded == 2, s"each duplicate pair lands exactly once, got $dupLanded")
    // 4 plain batches + 1 per duplicate pair, 10 rows each
    assert(TxTable.read(spark, dir).count() == n0 + 6 * 10)
    // and no torn generations: the index still reads + searches
    assert(AnnIndex.search(spark, dir, queries, k = 5).count() == queries.count() * 5)
  }

  test("appendOnce is exactly-once under replay (the streaming-maintainer contract)") {
    val dir = tmp("once")
    AnnIndex.build(spark, emb, dir, dim = 64, nCentroids = 16)
    val batch = emb.filter($"vec_id" <= 3)
      .select(($"vec_id" + 200000L).as("vec_id"), $"embedding")
    val n0 = TxTable.read(spark, dir).count()
    assert(AnnIndex.appendOnce(spark, batch, dir, "maintainer", 1L).isDefined)
    val n1 = TxTable.read(spark, dir).count()
    assert(n1 == n0 + batch.count())
    // a crash-replay of the SAME writer version must stage nothing
    // durable and change nothing
    assert(AnnIndex.appendOnce(spark, batch, dir, "maintainer", 1L).isEmpty)
    assert(TxTable.read(spark, dir).count() == n1)
    // the next version lands, and its vectors are immediately probed
    val batch2 = emb.filter($"vec_id" === 4)
      .select(($"vec_id" + 200000L).as("vec_id"), $"embedding")
    assert(AnnIndex.appendOnce(spark, batch2, dir, "maintainer", 2L).isDefined)
    val q = emb.filter($"vec_id" === 4)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val hits = AnnIndex.search(spark, dir, q, k = 3)
      .filter(col("neighbor_id") === 200004L)
    assert(hits.count() == 1L)
  }
}
