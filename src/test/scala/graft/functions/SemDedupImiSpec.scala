package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The IMI (product coarse quantizer) SemDeDup family — the list-count
  * rule PAST the single-level 4096-list ceiling. Pinned here:
  *
  *  - the composite cell id IS the pair of per-half argmins (driver
  *    recompute on the fixture, exact expanded-form arithmetic);
  *  - [[Similarity.semDedup]] routes to the IMI form past
  *    `imiCutoverRows` and the routed result equals the explicit call
  *    (both fixed lowest-id codebooks — fully deterministic);
  *  - the derived per-half k targets constant cell size: effective
  *    cells track n/target where the single-level rule saturates;
  *  - trained IMI cells recover planted near-dup twins at least as
  *    well as the fixed-codebook IMI form (the SemDedupTrainedSpec
  *    discipline, one level up).
  */
class SemDedupImiSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = graft.sources.Tables.load(spark, SfDir, "embeddings")

  test("composite cell id = (half-1 argmin) * k2 + (half-2 argmin), exact arithmetic") {
    val got = Similarity.semDedupImi(emb, "vec_id", "embedding",
        kPerHalf = 4, threshold = 0.95)
      .select($"vec_id", $"cluster_id").as[(Long, Long)].collect().toMap
    // driver recompute: padded-codebook distance |c|² − 2⟨v,c_pad⟩,
    // the exact expanded form the matrix argmin evaluates
    val rows = emb.select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val dim = rows.head._2.length
    val h = (dim + 1) / 2
    val cb1 = rows.take(4).map(_._2.take(h) ++ Array.fill(dim - h)(0.0))
    val cb2 = rows.take(4).map(r => Array.fill(h)(0.0) ++ r._2.drop(h))
    def dot(a: Array[Double], b: Array[Double]) = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def argmin(v: Array[Double], cb: Array[Array[Double]]) =
      cb.zipWithIndex.minBy { case (c, i) => (dot(c, c) - 2 * dot(v, c), i) }._2
    rows.foreach { case (id, v) =>
      val want = argmin(v, cb1).toLong * 4 + argmin(v, cb2)
      assert(got(id) == want, s"cell of $id: got ${got(id)}, want $want")
    }
  }

  test("semDedup routes to the IMI grid past imiCutoverRows, identically") {
    val n = emb.count()
    val routed = Similarity.semDedup(emb, "vec_id", "embedding",
        imiCutoverRows = n - 1)
      .as[(Long, Long)].collect().toSet
    val k = Similarity.imiHalfCentroids(n, Similarity.ImiTargetClusterSize)
    val direct = Similarity.semDedupImi(emb, "vec_id", "embedding",
        kPerHalf = k)
      .as[(Long, Long)].collect().toSet
    assert(routed == direct)
    // and below the cutover the single-level gate form is untouched
    val single = Similarity.semDedup(emb, "vec_id", "embedding")
    assert(single.columns.toSeq == Seq("vec_id", "cluster_id"))
  }

  test("derived k targets constant cell size; grid exceeds any single driver array") {
    // at n = target·cells, k per half = ceil(sqrt cells): cluster size
    // stays ~target as n grows — the linear-pair-volume property
    val t = Similarity.ImiTargetClusterSize
    assert(Similarity.imiHalfCentroids(t, t) == 1)
    assert(Similarity.imiHalfCentroids(100 * t, t) == 10)
    assert(Similarity.imiHalfCentroids(1000000 * t, t) == 1000)
    // 10^10 vectors at the default target: cells ≈ 9.8M — k per half
    // 3125, driver arrays 2·3125 half-vectors, effective lists ~9.8M,
    // where the single-level rule saturates at 4096
    assert(Similarity.imiHalfCentroids(10000000000L, t) == 3125)
    // the per-half cap binds only past MaxTableCentroids² cells
    assert(Similarity.imiHalfCentroids(Long.MaxValue / 4, t) == 4096)
  }

  /** Planted-twin corpus, the SemDedupTrainedSpec fixture shape. */
  private lazy val planted: DataFrame = {
    val base = emb.select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    val shifted = base.select(($"vec_id" + 100000L).as("vec_id"),
      expr("transform(embedding, (x, i) -> x * (1.0d + 0.08d * (double(i % 7) - 3.0d) / 3.0d))")
        .as("embedding"))
    base.unionByName(shifted)
  }

  private def droppedTwins(survivors: DataFrame): Long =
    planted.count() / 2 - survivors.filter($"vec_id" >= 100000L).count()

  test("trained IMI cells recover planted twins at least as well as fixed cells") {
    val fixed = droppedTwins(
      Similarity.semDedupImi(planted, "vec_id", "embedding", kPerHalf = 4))
    val trained = droppedTwins(
      Similarity.semDedupTrainedImi(planted, "vec_id", "embedding", kPerHalf = 4))
    info(s"planted twins dropped: fixed IMI $fixed, trained IMI $trained (of 500)")
    assert(trained >= fixed,
      s"trained IMI recovered fewer planted dups ($trained < $fixed)")
    assert(trained >= 400, s"trained IMI planted-drop recovery fell to $trained/500")
  }

  test("portable trained IMI (fixed-point half-Lloyds) recovers planted twins too") {
    // the q240 gate form: integer half-Lloyd geometry, exact-cosine
    // prune — recall must hold in the same band as the float twin, and
    // the run must be bit-deterministic (it is hash-gated in DuckDB)
    val dropped = droppedTwins(Similarity.semDedupTrainedImiPortable(
      planted, "vec_id", "embedding", kPerHalf = 4))
    info(s"planted twins dropped by portable trained IMI: $dropped (of 500)")
    assert(dropped >= 400, s"portable trained IMI recovery fell to $dropped/500")
    val a = Similarity.semDedupTrainedImiPortable(planted, "vec_id", "embedding",
      kPerHalf = 4).select($"vec_id").as[Long].collect().toSet
    val b = Similarity.semDedupTrainedImiPortable(planted, "vec_id", "embedding",
      kPerHalf = 4).select($"vec_id").as[Long].collect().toSet
    assert(a == b, "portable trained IMI must be bit-deterministic")
  }

  test("semDedupTrained hands off to the trained IMI grid past the cutover") {
    val out = Similarity.semDedupTrained(planted, "vec_id", "embedding",
      imiCutoverRows = 10L)
    // deterministic output contract survives the handoff
    assert(out.columns.toSeq == Seq("vec_id", "cluster_id"))
    val survivors = out.select($"vec_id").as[Long].collect().toSet
    assert(survivors.nonEmpty && survivors.size < planted.count())
    val again = Similarity.semDedupTrained(planted, "vec_id", "embedding",
      imiCutoverRows = 10L).select($"vec_id").as[Long].collect().toSet
    assert(survivors == again, "handed-off trained IMI must be deterministic")
  }

  test("an empty corpus gives empty IMI SemDeDup and margin results; IMI index builds refuse it") {
    val empty = emb.filter(lit(false))
    val queries = emb.filter($"vec_id" <= 9)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    assert(Similarity.semDedupImi(empty, "vec_id", "embedding").count() === 0)
    assert(Similarity.semDedupTrainedImi(empty, "vec_id", "embedding").count() === 0)
    assert(Similarity.semDedupTrainedImiPortable(empty, "vec_id", "embedding").count() === 0)
    assert(Similarity.marginTopKImi(queries, empty, k = 5).count() === 0)
    assert(Similarity.marginTopKImiPortable(queries, empty, k = 5).count() === 0)
    // an index with no rows carries no codebook tag, so it could never
    // be read back: the at-rest builds fail fast instead
    val dir = java.nio.file.Files.createTempDirectory("graft-empty-imi").toString
    val eVec = intercept[IllegalArgumentException] {
      VecIndex.build(spark, empty, s"$dir/vec")
    }
    assert(eVec.getMessage.contains("empty corpus"))
    val eMargin = intercept[IllegalArgumentException] {
      MarginIndex.build(spark, empty, s"$dir/margin")
    }
    assert(eMargin.getMessage.contains("empty corpus"))
  }
}
