package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sink.TxTable

/** The at-rest margin index: bit-parity with the in-session IMI path at
  * the same frozen codebooks (probe/score/margin/top-k are shared
  * code, so any divergence is a storage bug), listing-time pruning to
  * the probed cells, atomic rebuild, and the sidecar round trip.
  */
class MarginIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = graft.sources.Tables.load(spark, SfDir, "embeddings")
  private lazy val queries = emb.filter($"vec_id" <= 9)
    .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))

  private def tmp(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_margin_$tag").toFile
    d.deleteOnExit()
    d.getAbsolutePath + "/idx"
  }

  private def resultSet(df: org.apache.spark.sql.DataFrame) =
    df.select($"query_id".cast("long"), $"match_id".cast("long"), $"margin_r")
      .as[(Long, Long, Double)].collect().toSet

  test("meta sidecar round-trips the frozen codebooks bit-exactly") {
    val meta = MarginIndex.Meta(4, 8,
      Array(Array(1.5, -2.25e-3), Array(0.1, 4.0)),
      Array(Array(-5.75, 6.125), Array(7.0, -8.5)))
    val back = MarginIndex.parseMeta(MarginIndex.renderMeta(meta))
    assert(back.knn == 4 && back.nProbe == 8)
    assert(back.cb1.map(_.toSeq).toSeq == meta.cb1.map(_.toSeq).toSeq)
    assert(back.cb2.map(_.toSeq).toSeq == meta.cb2.map(_.toSeq).toSeq)
  }

  test("at-rest search is bit-identical to marginTopKImi with the frozen codebooks") {
    val dir = tmp("parity")
    MarginIndex.build(spark, emb, dir, kPerHalf = 4, nProbe = 8)
    val meta = MarginIndex.readMeta(spark, dir)
    val atRest = resultSet(MarginIndex.search(spark, dir, queries, k = 5))
    val inSession = resultSet(Similarity.marginTopKImi(queries, emb, k = 5,
      kPerHalf = 4, nProbe = 8, codebooksOpt = Some((meta.cb1, meta.cb2))))
    assert(atRest == inSession)
    // and the recall class holds vs the brute gold
    val gold = Similarity.marginTopKBrute(queries, emb, k = 5)
      .select($"query_id", $"match_id").as[(Long, Long)].collect().toSet
    val got = atRest.map(t => (t._1, t._2))
    val recall = got.count(gold.contains).toDouble / gold.size
    assert(recall >= 0.8, s"at-rest margin recall@5 $recall below floor 0.8")
  }

  test("search opens only the probed cells' files") {
    val dir = tmp("prune")
    MarginIndex.build(spark, emb, dir, kPerHalf = 4, nProbe = 4)
    val all = TxTable.currentFiles(spark, dir)
    val one = queries.filter($"query_id" === 0L)
    // one query probes <= nProbe cells of the 16-cell grid: the pruned
    // file list must be a strict subset of the committed files
    assert(MarginIndex.search(spark, dir, one, k = 3).count() == 3)
    val probed = (0 until 16).map(_.toLong).toSet // upper bound: all cells
    // all REAL cells cover every data file; the probe inverted
    // partitions (cid >= 16) stay out of any search's read set
    val cidOf = "cid=(\\d+)/".r
    val dataFiles = all.filter(f =>
      cidOf.findFirstMatchIn(f).exists(_.group(1).toLong < 16L)).toSet
    assert(dataFiles.nonEmpty && dataFiles.size < all.size)
    assert(MarginIndex.probedFiles(spark, dir, probed).toSet == dataFiles)
    // a single cell prunes to that cell's files only
    val cell0 = MarginIndex.probedFiles(spark, dir, Set(0L))
    assert(cell0.nonEmpty && cell0.size < all.size,
      s"expected a strict subset for one cell, got ${cell0.size}/${all.size}")
  }

  test("rebuild replaces the index atomically (one commit, new codebook generation)") {
    val dir = tmp("rebuild")
    MarginIndex.build(spark, emb, dir, kPerHalf = 4)
    // data rows (probe inverted rows carry a null payload)
    def dataRows() = TxTable.read(spark, dir).filter($"cn".isNotNull).count()
    val n0 = dataRows()
    assert(n0 == emb.count())
    val gen0 = AnnIndex.currentMetaHash(spark, dir)
    MarginIndex.build(spark, emb, dir, kPerHalf = 2)
    assert(dataRows() == n0, "rebuild must swap, not append")
    assert(AnnIndex.currentMetaHash(spark, dir) != gen0)
    assert(MarginIndex.readMeta(spark, dir).cb1.length == 2)
    // still answers, at the new geometry
    assert(MarginIndex.search(spark, dir, queries, k = 5).count() == 50)
  }

  test("append repairs exactly the invalidated a-means: search ≡ the grown in-session run") {
    val ev = emb.select($"vec_id", $"embedding")
    val corpus = ev.filter($"vec_id" < 300)
    val b1 = ev.filter($"vec_id" >= 300 && $"vec_id" < 400)
    val b2 = ev.filter($"vec_id" >= 400)
    val dir = tmp("incr")
    MarginIndex.build(spark, corpus, dir, kPerHalf = 4, nProbe = 8)
    val meta = MarginIndex.readMeta(spark, dir)
    MarginIndex.append(spark, b1, dir)
    MarginIndex.append(spark, b2, dir)
    // queries span original corpus AND appended rows
    val q = ev.filter($"vec_id" <= 4 || ($"vec_id" >= 300 && $"vec_id" <= 304))
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val atRest = resultSet(MarginIndex.search(spark, dir, q, k = 5))
    val inSession = resultSet(Similarity.marginTopKImi(q, ev, k = 5,
      kPerHalf = 4, nProbe = 8, codebooksOpt = Some((meta.cb1, meta.cb2))))
    assert(atRest == inSession,
      "post-append state must be bit-identical to the full in-session run")
  }

  test("append rewrites only the touched partitions (cost ∝ neighborhood, not corpus)") {
    val ev = emb.select($"vec_id", $"embedding")
    val corpus = ev.filter($"vec_id" < 450)
    val dir = tmp("touch")
    MarginIndex.build(spark, corpus, dir, kPerHalf = 4, nProbe = 2)
    val before = TxTable.currentFiles(spark, dir).toSet
    // a single appended vector touches its own cell's neighborhood only
    MarginIndex.append(spark, ev.filter($"vec_id" === 450), dir)
    val after = TxTable.currentFiles(spark, dir).toSet
    val kept = before & after
    assert(kept.nonEmpty,
      s"an append of one vector must keep untouched partitions' files " +
        s"(kept ${kept.size} of ${before.size})")
    // and the removed set is confined to real-cell partitions (probe
    // partitions, cid >= 16 at this 4x4 grid, are append-only)
    val removed = before -- after
    val cidOf = "cid=(\\d+)/".r
    assert(removed.forall(f =>
        cidOf.findFirstMatchIn(f).exists(_.group(1).toLong < 16L)),
      s"unexpectedly rewrote probe partitions: $removed")
  }

  test("four deterministic-random appends stay bit-identical to the grown in-session run") {
    // the displacement screen's adversarial surface is SEQUENCES: a
    // row displaced by append 2 must carry its refreshed ck into
    // append 3's screen, and rows skipped as exact ties must still be
    // right later. Four hash-split random batches (the id mix
    // interleaves: twins, fresh rows, near-dups) then ONE parity check
    val ev = emb.select($"vec_id", $"embedding")
    val corpus = ev.filter(pmod(hash($"vec_id"), lit(5)) === 0)
    val parts = (1 to 4).map(i => ev.filter(pmod(hash($"vec_id"), lit(5)) === i))
    val dir = tmp("seq")
    MarginIndex.build(spark, corpus, dir, kPerHalf = 4, nProbe = 8)
    val meta = MarginIndex.readMeta(spark, dir)
    parts.foreach(b => MarginIndex.append(spark, b, dir))
    val q = ev.filter($"vec_id" % 50 === 0) // queries across all five splits
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val atRest = resultSet(MarginIndex.search(spark, dir, q, k = 5))
    val inSession = resultSet(Similarity.marginTopKImi(q, ev, k = 5,
      kPerHalf = 4, nProbe = 8, codebooksOpt = Some((meta.cb1, meta.cb2))))
    assert(atRest == inSession,
      "state after a 4-append sequence must equal the one-shot run bit for bit")
  }

  test("compaction after append churn preserves the layout, the bounds, and the search") {
    // appends add files per batch (data cells + probe partitions);
    // TxTable.compact(partitionBy = cid) folds them back while keeping
    // the Hive layout, the displacement-bound columns, and bit-exact
    // search — the append-churn cadence (SCALE.md round 10) applied to the margin index
    val ev = emb.select($"vec_id", $"embedding")
    val corpus = ev.filter($"vec_id" < 400)
    val dir = tmp("compact")
    MarginIndex.build(spark, corpus, dir, kPerHalf = 4, nProbe = 8)
    val meta = MarginIndex.readMeta(spark, dir)
    (0 until 4).foreach { i =>
      MarginIndex.append(spark,
        ev.filter($"vec_id" >= 400 + i * 25 && $"vec_id" < 425 + i * 25), dir)
    }
    val q = ev.filter($"vec_id" <= 4 || $"vec_id" === 410)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val expected = resultSet(MarginIndex.search(spark, dir, q, k = 5))
    val before = TxTable.currentFiles(spark, dir).size
    TxTable.compact(spark, dir, targetRowsPerFile = 1000000L,
      partitionBy = Seq("cid"))
    val after = TxTable.currentFiles(spark, dir).size
    assert(after < before, s"compaction must shrink files: $before -> $after")
    assert(resultSet(MarginIndex.search(spark, dir, q, k = 5)) == expected)
    // and the grown index still matches the in-session run exactly
    val grown = corpus.unionByName(ev.filter($"vec_id" >= 400))
    val inSession = resultSet(Similarity.marginTopKImi(q, grown, k = 5,
      kPerHalf = 4, nProbe = 8, codebooksOpt = Some((meta.cb1, meta.cb2))))
    assert(expected == inSession)
  }

  test("appendOnce is exactly-once under replay") {
    val ev = emb.select($"vec_id", $"embedding")
    val corpus = ev.filter($"vec_id" < 450)
    val batch = ev.filter($"vec_id" >= 450)
    val dir = tmp("once")
    MarginIndex.build(spark, corpus, dir, kPerHalf = 4)
    assert(MarginIndex.appendOnce(spark, batch, dir, "m", 1L).isDefined)
    val v = graft.sink.TxTable.headVersion(spark, dir)
    assert(MarginIndex.appendOnce(spark, batch, dir, "m", 1L).isEmpty)
    assert(graft.sink.TxTable.headVersion(spark, dir) == v,
      "a replayed batch must publish nothing")
    assert(MarginIndex.search(spark, dir, queries, k = 5).count() == 50)
  }

  test("a query with no a-mean in the probed cells fails LOUDLY, never silently drops") {
    // the query-side a-mean rides the pruned read on the own-cell-is-
    // top-1-probe invariant; a contract violation (non-member query —
    // or, pathologically, an exact probe tie at tiny nProbe) must
    // surface as an error, not a missing query in the output
    val dir = tmp("loud")
    MarginIndex.build(spark, emb, dir, kPerHalf = 4)
    val alien = spark.createDataFrame(Seq(
      (999999L, Array.fill(64)(0.123))
    )).toDF("query_id", "query_vec")
    val ex = intercept[IllegalArgumentException] {
      MarginIndex.search(spark, dir, alien, k = 5).collect()
    }
    assert(ex.getMessage.contains("999999"),
      s"the error must name the dropped query id: ${ex.getMessage}")
  }

  // Two half-clusters at (0,0,0,0) and (10,10,10,10): with kPerHalf = 2
  // the trained half centroids sit on the clusters, so the PRODUCT cells
  // (A-half1, B-half2) and (B-half1, A-half2) exist but are EMPTY — a
  // "Frankenstein" vector (0,0,10,10) lands alone there, and at
  // nProbe = 1 it probes only that empty cell: zero kNN candidates.
  private def twoClusterCorpus = spark.createDataFrame(
    (0 until 6).map(i => (i.toLong, Array(1.0 + i * 0.01, 1.0, 1.0, 1.0 + 0.01 * i))) ++
    (6 until 12).map(i => (i.toLong, Array(10.0 + i * 0.01, 10.0, 10.0, 10.0 + 0.01 * i)))
  ).toDF("vec_id", "embedding")

  test("a candidate-less batch row is STORED as an nk=0 sentinel and repaired " +
       "by the next append into its cells — never silently dropped") {
    val dir = tmp("sentinel")
    MarginIndex.build(spark, twoClusterCorpus, dir, kPerHalf = 2, nProbe = 1)
    val meta = MarginIndex.readMeta(spark, dir)
    val franken = spark.createDataFrame(Seq(
      (100L, Array(1.0, 1.0, 10.0, 10.0)))).toDF("vec_id", "embedding")
    MarginIndex.append(spark, franken, dir)
    // the data row LANDED (the pre-r12 inner join lost it) with the sentinel
    val stored = TxTable.read(spark, dir)
      .filter($"cn".isNotNull && $"id" === 100L)
      .select($"a", $"ck", $"nk").collect()
    assert(stored.length == 1, "the candidate-less row's data row must land")
    assert(stored.head.isNullAt(0) && stored.head.isNullAt(1) &&
      stored.head.getLong(2) == 0L, s"expected (a null, ck null, nk 0) sentinel")
    // unrepaired, a query FOR it fails loudly (no a-mean yet)
    val exQ = intercept[IllegalArgumentException] {
      MarginIndex.search(spark, dir,
        franken.select($"vec_id".as("query_id"), $"embedding".as("query_vec")),
        k = 2).collect()
    }
    assert(exQ.getMessage.contains("100"), exQ.getMessage)
    // a second vector into the same empty cell: the screen sees nk=0 < knn
    // through the probe inverted partition and REPAIRS the sentinel
    val mate = spark.createDataFrame(Seq(
      (101L, Array(1.05, 1.0, 10.0, 10.05)))).toDF("vec_id", "embedding")
    MarginIndex.append(spark, mate, dir)
    val repaired = TxTable.read(spark, dir)
      .filter($"cn".isNotNull && $"id" === 100L)
      .select($"a", $"nk").collect()
    assert(repaired.length == 1 && !repaired.head.isNullAt(0) &&
      repaired.head.getLong(1) == 1L,
      s"the sentinel must gain its real a-mean once a neighbor arrives")
    // and the repaired state is bit-identical to the full in-session run
    // over the grown corpus at the frozen codebooks
    val grown = twoClusterCorpus.unionByName(franken).unionByName(mate)
    val q = grown.filter($"vec_id" === 0L || $"vec_id" >= 100L)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val atRest = resultSet(MarginIndex.search(spark, dir, q, k = 2))
    val inSession = resultSet(Similarity.marginTopKImi(q, grown, k = 2,
      kPerHalf = 2, nProbe = 1, codebooksOpt = Some((meta.cb1, meta.cb2))))
    assert(atRest == inSession)
  }

  test("an empty batch records the appendOnce watermark so replays take the fast path") {
    val dir = tmp("emptybatch")
    MarginIndex.build(spark, twoClusterCorpus, dir, kPerHalf = 2, nProbe = 1)
    val ev = twoClusterCorpus.filter($"vec_id" < 0) // empty
    val head0 = TxTable.headVersion(spark, dir)
    // plain append: documented no-op, head unchanged
    assert(MarginIndex.append(spark, ev, dir) == head0)
    assert(TxTable.headVersion(spark, dir) == head0)
    // appendOnce: an EMPTY commit lands so the (appId, writerVersion)
    // watermark is recorded — the replay skips before any read work
    assert(MarginIndex.appendOnce(spark, ev, dir, "w", 3L).isDefined)
    assert(TxTable.txnVersion(spark, dir, "w").contains(3L))
    assert(MarginIndex.appendOnce(spark, ev, dir, "w", 3L).isEmpty)
    // and the data content is untouched
    assert(TxTable.read(spark, dir).filter($"cn".isNotNull).count() == 12L)
  }

  test("a lost head race throws AND reclaims its staged files (no orphans)") {
    val dir = tmp("race")
    val ev = emb.select($"vec_id", $"embedding")
    MarginIndex.build(spark, ev.filter($"vec_id" < 400), dir, kPerHalf = 4, nProbe = 2)
    val b1 = ev.filter($"vec_id" >= 400 && $"vec_id" < 450)
    val b2 = ev.filter($"vec_id" >= 450)
    // both appends read the same head, stage concurrently, and race the
    // conflict-checked commit: exactly one wins, the loser throws
    // ConcurrentModificationException — and must leave NO staged orphans
    // behind (r11 ADVICE: a lost race used to strand a full rewrite of
    // every displaced partition until the stage-dir vacuum window)
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    def racer(b: org.apache.spark.sql.DataFrame) = pool.submit(
      new java.util.concurrent.Callable[Either[Throwable, Long]] {
        def call() = {
          start.await()
          try Right(MarginIndex.append(spark, b, dir))
          catch { case t: Throwable => Left(t) }
        }
      })
    val (f1, f2) = (racer(b1), racer(b2))
    start.countDown()
    val results = Seq(f1.get(300, TimeUnit.SECONDS), f2.get(300, TimeUnit.SECONDS))
    pool.shutdown()
    val (losers, winners) = (results.collect { case Left(t) => t },
      results.collect { case Right(v) => v })
    assert(winners.size == 1 && losers.size == 1,
      s"expected exactly one winner and one CME loser, got $results")
    assert(losers.head.isInstanceOf[java.util.ConcurrentModificationException],
      s"loser must throw CME, got ${losers.head}")
    // no orphans: every parquet file on disk was COMMITTED at some
    // version (files the winner's commit REMOVED legitimately linger
    // until vacuum — only never-committed stage leftovers are orphans)
    val head = TxTable.headVersion(spark, dir)
    val everCommitted = (1L to head).flatMap(v =>
      TxTable.filesAt(spark, dir, v)).map(f =>
      new java.io.File(dir, f).getCanonicalPath).toSet
    val onDisk = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
        .map(_.getCanonicalPath).toSet
    }
    assert((onDisk -- everCommitted).isEmpty,
      s"staged orphans left behind: ${(onDisk -- everCommitted).take(5)}")
    // the surviving state still answers
    assert(MarginIndex.search(spark, dir, queries, k = 5).count() == 50)
  }

  test("an empty query set returns an empty result, not a scan error") {
    val dir = tmp("empty")
    MarginIndex.build(spark, emb, dir, kPerHalf = 4)
    val none = queries.filter($"query_id" < 0L)
    val out = MarginIndex.search(spark, dir, none, k = 5)
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("query_id", "match_id", "margin_r"))
  }
}
