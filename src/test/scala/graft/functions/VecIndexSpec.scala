package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sink.TxTable

/** The float at-rest vector index: bit-parity with the in-session IMI
  * paths at the same frozen codebooks (probe/score/assign are shared
  * definitions, so any divergence is a storage bug), incremental
  * semantic dedup whose survivors equal the batch-inclusive full-corpus
  * run, listing-time pruning, and the append loop's exactly-once.
  */
class VecIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = graft.sources.Tables.load(spark, SfDir, "embeddings")
  private lazy val queries = emb.filter($"vec_id" <= 20)
    .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))

  private def tmp(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_vec_$tag").toFile
    d.deleteOnExit()
    d.getAbsolutePath + "/idx"
  }

  private def searchSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.select($"query_id".cast("long"), $"neighbor_id".cast("long"), $"cos")
      .as[(Long, Long, Double)].collect().toSet

  private def keepSet(df: DataFrame): Set[(Long, Long)] =
    df.select($"vec_id".cast("long"), $"cluster_id".cast("long"))
      .as[(Long, Long)].collect().toSet

  test("meta sidecar round-trips the frozen codebooks bit-exactly") {
    val meta = VecIndex.Meta(
      Array(Array(1.5, -2.25e-3), Array(0.1, 4.0)),
      Array(Array(-5.75, 6.125), Array(7.0, -8.5)))
    val back = VecIndex.parseMeta(VecIndex.renderMeta(meta))
    assert(back.cb1.map(_.toSeq).toSeq == meta.cb1.map(_.toSeq).toSeq)
    assert(back.cb2.map(_.toSeq).toSeq == meta.cb2.map(_.toSeq).toSeq)
    assert(back.dim == 4)
  }

  test("at-rest search is bit-identical to ivfTopKImi with the frozen codebooks") {
    val dir = tmp("search")
    VecIndex.build(spark, emb, dir, kPerHalf = 4, iters = 3)
    val meta = VecIndex.readMeta(spark, dir)
    val atRest = searchSet(VecIndex.search(spark, dir, queries, k = 10))
    val inSession = searchSet(Similarity.ivfTopKImi(queries, emb, k = 10,
      kPerHalf = 4, codebooksOpt = Some((meta.cb1, meta.cb2))))
    assert(atRest == inSession)
  }

  test("search opens only the probed cells' files") {
    val dir = tmp("prune")
    VecIndex.build(spark, emb, dir, kPerHalf = 4, iters = 0)
    val all = TxTable.currentFiles(spark, dir)
    assert(all.size > 4, s"expected several cell files, got ${all.size}")
    // a single cell prunes to that cell's files only
    val cell = AnnIndex.probedFiles(spark, dir,
      Set(TxTable.read(spark, dir).select(max($"cid".cast("long")))
        .first().getLong(0)))
    assert(cell.nonEmpty && cell.size < all.size,
      s"expected a strict subset for one cell, got ${cell.size}/${all.size}")
    val one = queries.filter($"query_id" === 0L)
    assert(VecIndex.search(spark, dir, one, k = 3, nProbe = 2).count() == 3)
  }

  test("dedupBatch survivors equal the batch-inclusive full-corpus run (fixed codebooks)") {
    // the batch plants EXACT twins of corpus vectors (ids +10000) among
    // fresh rows, so cross-set drops genuinely happen — a vacuous
    // parity over an all-survivor batch would prove nothing
    val ev = emb.select($"vec_id", $"embedding")
    val corpus = ev.filter($"vec_id" < 400)
    val batch = ev.filter($"vec_id" >= 400)
      .unionByName(ev.filter($"vec_id" < 30)
        .select(($"vec_id" + 10000L).as("vec_id"), $"embedding"))
    val union = corpus.unionByName(batch)
    val dir = tmp("dedup")
    VecIndex.build(spark, corpus, dir, kPerHalf = 4, iters = 0)
    val meta = VecIndex.readMeta(spark, dir)
    val incr = keepSet(VecIndex.dedupBatch(spark, dir, batch))
    val fullRun = Similarity.semDedupImi(union, "vec_id", "embedding",
      codebooksOpt = Some((meta.cb1, meta.cb2)))
    val batchIds = batch.select($"vec_id".cast("long"))
      .as[Long].collect().toSet
    val expected = keepSet(fullRun).filter(t => batchIds.contains(t._1))
    assert(incr == expected,
      s"incremental=${incr.size} vs full-restricted=${expected.size}")
    // every planted twin lost to its corpus original
    assert(incr.forall(_._1 < 10000L),
      "planted exact twins must drop against the standing corpus")
    assert(incr.size <= batchIds.size - 30)
  }

  test("dedupBatch parity holds after ten appends roll a commit-log checkpoint") {
    // the probed-cell pruning then reads a checkpoint plus a commit
    // suffix; the batch plants exact twins of corpus rows (ids +9000)
    val ev = emb.select($"vec_id", $"embedding")
    val dir = tmp("ckpt")
    VecIndex.build(spark, ev.filter($"vec_id" < 300), dir, kPerHalf = 4, iters = 0)
    (0 until 10).foreach { i =>
      VecIndex.appendOnce(spark,
        ev.filter($"vec_id" >= 300 + 10 * i && $"vec_id" < 310 + 10 * i), dir, "ckpt-spec", i.toLong)
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_graft_txn/00000010.ckpt")))
    val batch = ev.filter($"vec_id" >= 400 && $"vec_id" < 430)
      .unionByName(ev.filter($"vec_id" < 10)
        .select(($"vec_id" + 9000L).as("vec_id"), $"embedding"))
    val meta = VecIndex.readMeta(spark, dir)
    val incr = keepSet(VecIndex.dedupBatch(spark, dir, batch))
    val fullRun = Similarity.semDedupImi(ev.filter($"vec_id" < 400).unionByName(batch),
      "vec_id", "embedding", codebooksOpt = Some((meta.cb1, meta.cb2)))
    val batchIds = batch.select($"vec_id".cast("long")).as[Long].collect().toSet
    assert(incr == keepSet(fullRun).filter(t => batchIds.contains(t._1)))
    assert(incr.nonEmpty && incr.forall(_._1 < 9000L), "planted twins must drop")
  }

  test("dedupBatch parity holds with TRAINED codebooks and interleaved ids") {
    // batch ids interleave BELOW corpus ids: the loser rule compares
    // ids explicitly, so parity must not depend on monotone arrival —
    // a twin with an id LOWER than its corpus original SURVIVES (the
    // corpus row is the full run's loser), a higher-id twin drops
    val ev = emb.select($"vec_id", $"embedding")
    val corpus = ev.filter($"vec_id" >= 100 && $"vec_id" < 600)
    val batch = ev.filter($"vec_id" >= 600)
      .unionByName(ev.filter($"vec_id" >= 100 && $"vec_id" < 120)
        .select(($"vec_id" - 100L).as("vec_id"), $"embedding"))   // low twins
      .unionByName(ev.filter($"vec_id" >= 200 && $"vec_id" < 220)
        .select(($"vec_id" + 20000L).as("vec_id"), $"embedding")) // high twins
    val union = corpus.unionByName(batch)
    val dir = tmp("trained")
    VecIndex.build(spark, corpus, dir, kPerHalf = 4, iters = 2)
    val meta = VecIndex.readMeta(spark, dir)
    val incr = keepSet(VecIndex.dedupBatch(spark, dir, batch))
    val fullRun = Similarity.semDedupImi(union, "vec_id", "embedding",
      codebooksOpt = Some((meta.cb1, meta.cb2)))
    val batchIds = batch.select($"vec_id".cast("long")).as[Long].collect().toSet
    assert(incr == keepSet(fullRun).filter(t => batchIds.contains(t._1)))
    val kept = incr.map(_._1)
    assert((0L until 20L).forall(kept.contains),
      "low-id twins must SURVIVE (their corpus originals are the losers)")
    assert(kept.forall(_ < 20000L), "high-id twins must drop")
  }

  test("the daily loop (dedupBatch; append FULL batch) replays the one-shot run batch by batch") {
    // monotone ids across batches (the q93 contract): corpus, then b1,
    // then b2. The index admits WHOLE batches — losers keep killing —
    // so the concatenated survivor stream equals the one-shot full run.
    val corpus = emb.filter($"vec_id" < 300)
    val b1 = emb.filter($"vec_id" >= 300 && $"vec_id" < 400)
    val b2 = emb.filter($"vec_id" >= 400)
    val dir = tmp("loop")
    VecIndex.build(spark, corpus, dir, kPerHalf = 4, iters = 0)
    val meta = VecIndex.readMeta(spark, dir)
    val s1 = keepSet(VecIndex.dedupBatch(spark, dir, b1))
    assert(VecIndex.appendOnce(spark, b1, dir, "daily", 1L).isDefined)
    // a replay of the same batch id stages nothing (exactly-once)
    assert(VecIndex.appendOnce(spark, b1, dir, "daily", 1L).isEmpty)
    val s2 = keepSet(VecIndex.dedupBatch(spark, dir, b2))
    assert(VecIndex.appendOnce(spark, b2, dir, "daily", 2L).isDefined)
    val fullRun = Similarity.semDedupImi(emb, "vec_id", "embedding",
      codebooksOpt = Some((meta.cb1, meta.cb2)))
    val newIds = emb.filter($"vec_id" >= 300)
      .select($"vec_id".cast("long")).as[Long].collect().toSet
    assert((s1 ++ s2) == keepSet(fullRun).filter(t => newIds.contains(t._1)))
    // after both appends the index holds every row and still searches
    assert(TxTable.read(spark, dir).count() == emb.count())
    assert(VecIndex.search(spark, dir, queries, k = 5).count() == queries.count() * 5)
  }

  test("the shared maintenance loop holds on this layout: drift recorded, cadence compacts") {
    // VecIndex rides AnnIndex.appendLoop/compactIfNeeded — pin that the
    // drift sidecars and the files-per-list cadence actually work on
    // the float layout, not just the ADC one
    val dir = tmp("maint")
    VecIndex.build(spark, emb, dir, kPerHalf = 4, iters = 0)
    val same = emb.select(($"vec_id" + 700000L).as("vec_id"), $"embedding")
    VecIndex.append(spark, same, dir)
    val drift = AnnIndex.driftHistory(spark, dir)
    assert(drift.size == 1 && drift.head._2 == 0.0,
      s"an identical-distribution append must record TV 0, got $drift")
    (1 to 4).foreach { i =>
      VecIndex.append(spark, emb.filter($"vec_id" <= 40)
        .select(($"vec_id" + 800000L + i * 1000L).as("vec_id"), $"embedding"), dir)
    }
    assert(AnnIndex.compactIfNeeded(spark, dir).isDefined,
      "append churn past the ratio must compact")
    assert(AnnIndex.compactIfNeeded(spark, dir).isEmpty, "idempotent once healthy")
    // dedup and search still answer over the compacted layout
    val q = emb.filter($"vec_id" <= 5)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    assert(VecIndex.search(spark, dir, q, k = 3).count() == 18)
    assert(VecIndex.dedupBatch(spark, dir,
      emb.filter($"vec_id" <= 5)
        .select(($"vec_id" + 900000L).as("vec_id"), $"embedding")).count() == 0,
      "twins of indexed rows must all drop after compaction")
  }

  test("an empty batch and an empty query set return empty results, not scan errors") {
    val dir = tmp("empty")
    VecIndex.build(spark, emb, dir, kPerHalf = 4, iters = 0)
    val none = emb.filter($"vec_id" < 0)
    assert(VecIndex.dedupBatch(spark, dir, none).count() == 0)
    val noq = none.select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val out = VecIndex.search(spark, dir, noq, k = 5)
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("query_id", "neighbor_id", "cos"))
  }
}
