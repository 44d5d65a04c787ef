package graft.streaming

import graft.SparkSpec
import graft.functions.{Similarity, VecIndex}
import graft.sink.TxTable

/** The streaming SEMANTIC dedup maintainer: each micro-batch dedups
  * against the standing at-rest corpus, records verdicts, and admits
  * the whole batch — exactly-once on BOTH sinks under kill/restart and
  * fresh-checkpoint crash replay, with the verdict stream equal to the
  * one-shot full-corpus run (the q93 contract lifted to embeddings).
  */
class SemDedupStreamSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = graft.sources.Tables.load(spark, SfDir, "embeddings")
    .select($"vec_id", $"embedding")

  test("kill + restart + crash replay: verdicts exactly-once and equal to the one-shot run") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-semstream")
    val staging = tmp.resolve("staging").toString
    val ckpt = tmp.resolve("ckpt").toString
    val index = tmp.resolve("idx").toString
    val verdicts = tmp.resolve("verdicts").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(staging))
    val corpus = emb.filter($"vec_id" < 300)
    VecIndex.build(spark, corpus, index, kPerHalf = 4, iters = 0)
    val meta = VecIndex.readMeta(spark, index)

    // batch 0 plants twins of corpus vectors (must drop); batch 1 is
    // fresh rows (mostly kept). Monotone ids across batches.
    val batches = Seq(
      emb.filter($"vec_id" >= 300 && $"vec_id" < 380)
        .unionByName(corpus.filter($"vec_id" < 20)
          .select(($"vec_id" + 400L).as("vec_id"), $"embedding")),
      emb.filter($"vec_id" >= 430))
    val schema = batches.head.schema
    def stage(i: Int): Unit = {
      val part = tmp.resolve(s"part$i").toString
      batches(i).coalesce(1).write.parquet(part)
      val src = new java.io.File(part).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(src.toPath,
        java.nio.file.Paths.get(s"$staging/batch-$i.parquet"))
    }

    // run 1 processes batch 0, then the query stops (the kill)
    stage(0)
    EventsStream.runSemDedupMaintainer(spark, staging, schema, index,
      verdicts, ckpt)
    val v0 = TxTable.read(spark, verdicts).count()
    assert(v0 == batches(0).count(), s"one verdict per batch-0 row, got $v0")
    // every planted twin judged a loser, fresh rows judged keepers
    val dropped = TxTable.read(spark, verdicts)
      .filter(!$"kept").select($"vec_id").as[Long].collect().toSet
    assert((400L until 420L).forall(dropped.contains),
      "planted corpus twins must be judged losers")

    // restart from the SAME checkpoint with batch 1 staged: batch 0
    // must not re-judge or re-land
    stage(1)
    EventsStream.runSemDedupMaintainer(spark, staging, schema, index,
      verdicts, ckpt)
    val all = TxTable.read(spark, verdicts)
    assert(all.count() == batches.map(_.count()).sum,
      "each row judged exactly once across the restart")
    assert(TxTable.read(spark, index).count() ==
      corpus.count() + batches.map(_.count()).sum,
      "the index admits every batch row exactly once")

    // crash-replay shape: a fresh checkpoint re-presents both batch
    // ids — both sinks must skip everything
    val headI = TxTable.headVersion(spark, index)
    val headV = TxTable.headVersion(spark, verdicts)
    EventsStream.runSemDedupMaintainer(spark, staging, schema, index,
      verdicts, tmp.resolve("ckpt2").toString)
    assert(TxTable.headVersion(spark, index) == headI &&
      TxTable.headVersion(spark, verdicts) == headV,
      "replayed batches must publish nothing on either sink")

    // the verdict stream equals the one-shot batch-inclusive run at
    // the frozen geometry, batch by batch (monotone ids)
    val union = corpus.unionByName(batches(0)).unionByName(batches(1))
    val oneShotKept = Similarity.semDedupImi(union, "vec_id", "embedding",
        codebooksOpt = Some((meta.cb1, meta.cb2)))
      .select($"vec_id").as[Long].collect().toSet
    val newIds = batches.map(_.select($"vec_id".cast("long")).as[Long]
      .collect().toSet).reduce(_ ++ _)
    val streamKept = all.filter($"kept").select($"vec_id").as[Long]
      .collect().toSet
    assert(streamKept == (oneShotKept & newIds),
      "streamed verdicts must equal the one-shot full-corpus run")
  }

  test("the maintainer compacts at cadence: files per cell AND verdict files stay bounded") {
    // VERDICT r11 watch #1: the ANN maintainer compacts in-loop (r10
    // item 4) but the semantic twin never did — dedupBatch's pruned
    // reads degrade linearly in files-per-cell (the SCALE.md round-10
    // append-churn curve).
    // Twelve single-file micro-batches of corpus twins land in the SAME
    // few cells; the post-append ratio check must fold both the index
    // (cid layout) and the flat verdict table — and every verdict must
    // still land exactly once through the compactions.
    val tmp = java.nio.file.Files.createTempDirectory("graft-semcadence")
    val staging = tmp.resolve("staging").toString
    val ckpt = tmp.resolve("ckpt").toString
    val index = tmp.resolve("idx").toString
    val verdicts = tmp.resolve("verdicts").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(staging))
    val corpus = emb.filter($"vec_id" < 300)
    VecIndex.build(spark, corpus, index, kPerHalf = 4, iters = 0)
    val n0 = TxTable.read(spark, index).count()
    val v0 = TxTable.headVersion(spark, index)
    val proto = corpus.filter($"vec_id" <= 2)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    (0 until 12).foreach { i =>
      val part = tmp.resolve(s"cpart$i").toString
      corpus.filter($"vec_id" <= 2)
        .select(($"vec_id" + 1000000L + i * 1000L).as("vec_id"), $"embedding")
        .coalesce(1).write.parquet(part)
      val src = new java.io.File(part).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(src.toPath,
        java.nio.file.Paths.get(s"$staging/batch-$i.parquet"))
    }
    EventsStream.runSemDedupMaintainer(spark, staging, proto.schema, index,
      verdicts, ckpt, maxFilesPerList = 1.5, maxVerdictFiles = 4)
    val entries = TxTable.currentFilesWithStats(spark, index)
    val cells = entries.flatMap(_._2.find(_.col == "cid").map(_.lo)).distinct.size
    assert(entries.size <= cells * 1.5,
      s"cadence must bound files/cell: ${entries.size} files over $cells cells")
    assert(TxTable.headVersion(spark, index) > v0 + 12,
      "at least one index compaction commit beyond the 12 appends")
    assert(TxTable.currentFiles(spark, verdicts).size <= 5,
      "the flat verdict table must fold at its own cadence")
    // exactly-once THROUGH the compactions, on both sinks
    assert(TxTable.read(spark, index).count() == n0 + 36)
    val vAll = TxTable.read(spark, verdicts)
    assert(vAll.count() == 36, "one verdict per streamed row")
    assert(vAll.filter($"kept").count() === 0,
      "every twin of a standing corpus vector must be judged a loser")
    // and the folded index still dedups correctly against fresh twins
    val probe = corpus.filter($"vec_id" === 5)
      .select(($"vec_id" + 2000000L).as("vec_id"), $"embedding")
    assert(VecIndex.dedupBatch(spark, index, probe).count() == 0,
      "a corpus twin must still lose against the compacted index")
  }
}
