package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** IVFADC quality + shape pins (the AnnRecallSpec discipline for the
  * combined-quantizer path, q232): PQ codes are 12-bit sketches of
  * 64-float vectors, so ADC ranking is lossier than exact-vector IVF —
  * the floor pins that the compression stays useful, and the
  * containment test pins that IVFADC candidates come from the SAME
  * coarse probe geometry as ivfTopKPortable (both replay the identical
  * integer Lloyd), so a divergence means the residual/code leg broke.
  */
class IvfPqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = graft.sources.Tables.load(spark, SfDir, "embeddings")
  private lazy val queries = emb.filter($"vec_id" <= 20)
    .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))

  private def topSets(df: DataFrame): Map[Long, Set[Long]] =
    df.select($"query_id".cast("long"), $"neighbor_id".cast("long"))
      .as[(Long, Long)].collect().toSeq
      .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }

  private lazy val ivfpq = topSets(
    Similarity.ivfPqTopKPortable(queries, emb, k = 10, dim = 64))

  test("IVFADC recall@10 vs exact cosine stays above its pinned floor") {
    val exact = topSets(Similarity.bruteForceTopK(queries, emb, 10))
    val r = exact.map { case (q, ex) =>
      ivfpq.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size
    }.sum / exact.size
    info(f"IVFADC recall@10 = $r%.4f")
    // measured 0.4333 at sf0.001 (500 vectors, 12-bit codes): the codes
    // keep ~43% of the exact neighbours while storing 0.6% of the bytes;
    // the floor catches a silent collapse (e.g. codes all-zero → ~0.06)
    assert(r >= 0.30, f"IVFADC recall@10 degraded to $r%.4f")
  }

  test("IVFADC candidates come from the coarse probe lists (same Lloyd as IVF)") {
    // nCentroids PINNED on BOTH sides (r8 ADVICE): the auto-derived
    // counts go through different caps (128 literal vs 4096 table), so
    // a fixture past 128² vectors would silently train two different
    // coarse geometries and void the containment premise — the explicit
    // pin enforces shared geometry instead of assuming it
    val ivfpq16 = topSets(
      Similarity.ivfPqTopKPortable(queries, emb, k = 10, dim = 64,
        nCentroids = 16))
    val ivf = topSets(Similarity.ivfTopKPortable(queries, emb, k = 500,
      nCentroids = 16, nProbe = 8))
    // identical integer Lloyd → identical lists; k = corpus size → ivf
    // returns EVERY candidate in the probed lists, so missing
    // containment means the residual/code leg diverged from the coarse
    // probe geometry
    ivfpq16.foreach { case (q, ns) =>
      val reach = ivf.getOrElse(q, Set.empty)
      assert(ns.subsetOf(reach),
        s"query $q: ADC results ${ns -- reach} not in probed lists")
    }
  }

  test("the MaxTrainRows default is a no-op below the bound — training is bit-identical") {
    // the gate corpora all sit under MaxTrainRows, so the sampled-
    // training default must not move a single oracle-replayed value
    def run(mtr: Long) =
      Similarity.ivfPqTopKPortable(queries, emb, k = 10, dim = 64,
          nCentroids = 16, maxTrainRows = mtr)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(Similarity.MaxTrainRows) === run(0L)) // 0 = force full corpus
  }

  test("sample-trained quantizers (forced, 10x corpus) stay in the full-trained recall band") {
    // force the hash sample at the 5000-vector sf0.01 corpus with a
    // 500-row bound (10% — production-shaped: the default bound only
    // triggers past 65k vectors, where the sampled fraction is smaller
    // still and k-means quality depends on the sample's DISTRIBUTION,
    // not its count). Pinned RELATIVE to the same-geometry full-trained
    // run: sampling may move individual neighbours but must not cost a
    // recall step. (At the 500-vector fixture a forced 128-row sample
    // DOES cost one — 0.26 vs 0.43 — which is the tiny-corpus regime
    // the n <= maxTrainRows guard exists for, not the production path.)
    val emb10 = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val q10 = emb10.filter($"vec_id" <= 20)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val exact10 = topSets(Similarity.bruteForceTopK(q10, emb10, 10))
    def recallOf(mtr: Long): Double = {
      val sys = topSets(Similarity.ivfPqTopKPortable(q10, emb10, k = 10,
        dim = 64, maxTrainRows = mtr))
      exact10.map { case (q, ex) =>
        sys.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size
      }.sum / exact10.size
    }
    val full = recallOf(0L) // force full-corpus training
    val sampled = recallOf(500L)
    info(f"IVFADC recall@10 at 10x: full-trained $full%.4f, sample-trained $sampled%.4f")
    assert(sampled >= full - 0.10,
      f"sample-trained recall $sampled%.4f fell out of the full-trained band $full%.4f")
  }

  private lazy val goldIntL2 = topSets(
    Similarity.bruteForceTopKIntL2(queries, emb, 10))

  private def recallVsGold(sys: Map[Long, Set[Long]]): Double =
    goldIntL2.map { case (q, g) =>
      sys.getOrElse(q, Set.empty).intersect(g).size.toDouble / g.size
    }.sum / goldIntL2.size

  test("IVFADC+R re-rank recall beats plain ADC (Jégou §V's point)") {
    val rerank = topSets(Similarity.ivfPqRerankTopK(queries, emb, k = 10,
      rerank = 50, dim = 64))
    val rAdc = recallVsGold(ivfpq)
    val rRr = recallVsGold(rerank)
    info(f"recall@10 vs int-L2 gold: ADC $rAdc%.4f, +rerank $rRr%.4f")
    // the 50-candidate shortlist re-scored exactly can only improve the
    // top-10 relative to ranking by lossy 12-bit codes; strict > would
    // be corpus-dependent, >= guards the wiring, the floor the quality
    assert(rRr >= rAdc, f"re-rank recall $rRr%.4f below plain ADC $rAdc%.4f")
    assert(rRr >= 0.50, f"re-rank recall degraded to $rRr%.4f")
  }

  test("brute-force int-L2 gold is exact on a hand-checked corpus") {
    val c = Seq(
      (0L, Array(0f, 0f)), (1L, Array(1f, 0f)), (2L, Array(2f, 0f)),
      (3L, Array(0f, 3f))).toDF("vec_id", "embedding")
    val q = Seq((0L, Array(0f, 0f))).toDF("query_id", "query_vec")
    val got = Similarity.bruteForceTopKIntL2(q, c, k = 3)
      .orderBy($"l2_q", $"neighbor_id")
      .as[(Long, Long, Long)].collect().toSeq
    val s = 1L << 20 // the fixed-point scale: l2 = (d·2^20)²
    assert(got === Seq((0L, 1L, s * s), (0L, 2L, 4L * s * s),
      (0L, 3L, 9L * s * s)))
  }

  /** The `k` lowest-id vectors of the fixture in the 2^20 fixed-point form. */
  private def intSeeds(k: Int): Array[Array[Long]] =
    emb.orderBy($"vec_id").limit(k).select(Similarity.toIntVec($"embedding"))
      .collect().map(_.getSeq[Long](0).toArray)

  test("centroid-TABLE coarse leg is bit-identical to the literal tree (ADC)") {
    // the integer coarse argmin/probe shapes — chained literal tree vs
    // one-Literal matrix — over 16 centroids plus a copy of centroid 3:
    // same exact integer distances, same lowest-cid ties, so every
    // argmin and every 8-deep probe list must match row for row
    val seeds = intSeeds(16)
    val cents = seeds :+ seeds(3)
    val vi = Similarity.toIntVec($"embedding")
    val chained = Similarity.IntKernel.chained(cents, $"vi")
    val matrix = Similarity.IntKernel.matrix(cents, $"vi")
    val rows = emb.select($"vec_id".cast("long").as("id"), vi.as("vi"))
      .select($"id",
        (-greatest(chained: _*).getField("negcid")).as("a_chained"),
        array_min(matrix).getField("cid").as("a_matrix"),
        transform(slice(reverse(array_sort(array(chained: _*))), 1, 8),
          s => -s.getField("negcid")).as("p_chained"),
        transform(slice(array_sort(matrix), 1, 8), s => s.getField("cid")).as("p_matrix"))
      .collect()
    rows.foreach { r =>
      assert(r.getInt(1) === r.getInt(2), s"argmin differs for row ${r.getLong(0)}")
      assert(r.getSeq[Int](3) === r.getSeq[Int](4), s"probe list differs for row ${r.getLong(0)}")
    }
    // vector 3 IS centroid 3 and its copy 16: distance 0 to both, and
    // the tie goes to the lower cid in both shapes
    val seedRow = rows.find(_.getLong(0) == 3L).get
    assert(seedRow.getInt(2) === 3)
    assert(seedRow.getSeq[Int](4).take(2) === Seq(3, 16))
  }

  test("centroid-TABLE coarse leg is bit-identical to the literal tree (re-rank)") {
    // Flat.centroidOf — the re-rank's cid → centroid lookup — as the
    // one-Literal matrix (130 centroids, past MaxLiteralCentroids) and
    // as the chained tree (the first 128 of them): both must return the
    // same arrays, including the duplicated centroid at cid 100
    val base = intSeeds(129)
    val cents = base.take(100) ++ Array(base(3)) ++ base.drop(100)
    val chainedCents = cents.take(Similarity.MaxLiteralCentroids)
    val rows = spark.range(cents.length).select($"id".cast("int").as("cid"))
      .select($"cid",
        Similarity.Flat(Similarity.IntKernel, cents).centroidOf($"cid").as("m"),
        Similarity.Flat(Similarity.IntKernel, chainedCents).centroidOf($"cid").as("c"))
      .collect()
    rows.foreach { r =>
      val cid = r.getInt(0)
      assert(r.getSeq[Long](1) === cents(cid).toSeq, s"matrix lookup of $cid")
      if (cid < chainedCents.length)
        assert(r.getSeq[Long](2) === r.getSeq[Long](1), s"chained lookup of $cid")
    }
    assert(rows(100).getSeq[Long](2) === rows(3).getSeq[Long](2))
  }

  test("an empty corpus gives empty IVF, IVFADC and PQ results") {
    val empty = emb.filter(lit(false))
    assert(Similarity.ivfTopK(queries, empty, k = 10).count() === 0)
    assert(Similarity.ivfTopKPortable(queries, empty, k = 10).count() === 0)
    assert(Similarity.ivfPqTopKPortable(queries, empty, k = 10, dim = 64).count() === 0)
    assert(Similarity.ivfPqRerankTopK(queries, empty, k = 10, rerank = 50,
      dim = 64).count() === 0)
    assert(Similarity.pqAdcTopK(queries, empty, k = 10, dim = 64).count() === 0)
    assert(Similarity.pqEncodePortable(empty, "vec_id", "embedding", dim = 64)
      .count() === 0)
    // the IMI grid forms: no half codebooks means typed-null cells
    assert(Similarity.ivfTopKImi(queries, empty, k = 10).count() === 0)
    assert(Similarity.ivfPqTopKImi(queries, empty, k = 10, dim = 64).count() === 0)
    // an index with no rows could never be read back: both builds refuse it
    val table = java.nio.file.Files.createTempDirectory("graft-empty-ann").toString + "/idx"
    val e = intercept[IllegalArgumentException] {
      AnnIndex.build(spark, empty, table, dim = 64)
    }
    assert(e.getMessage.contains("empty corpus"))
    val eImi = intercept[IllegalArgumentException] {
      AnnIndex.buildImi(spark, empty, table, dim = 64)
    }
    assert(eImi.getMessage.contains("empty corpus"))
  }

  test("ADC distances are deterministic across runs") {
    val a = Similarity.ivfPqTopKPortable(queries, emb, k = 10, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = Similarity.ivfPqTopKPortable(queries, emb, k = 10, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a === b)
  }
}
