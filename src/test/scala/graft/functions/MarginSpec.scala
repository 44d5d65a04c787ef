package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Margin scoring vs an in-test reference implementation. */
class MarginSpec extends SparkSpec {
  import spark.implicits._

  // deterministic pseudo-random corpus (no RNG: content-derived)
  private val dim = 8
  private def vec(id: Long): Array[Float] =
    Array.tabulate(dim)(j => (((id * 31 + j * 17) % 13) - 6).toFloat / 7f)
  private val n = 20
  private val corpus = (0L until n.toLong).map(i => (i, vec(i))).toDF("vec_id", "embedding")

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
    val d = ad.zip(bd).map { case (x, y) => x * y }.sum
    d / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
  }

  private def referenceTop(qid: Long, k: Int): Seq[(Long, Double)] = {
    def s4(id: Long): Double = {
      val tops = (0L until n.toLong).filter(_ != id)
        .map(o => (cos(vec(id), vec(o)), o)).sortBy(t => (-t._1, t._2)).take(4)
      tops.map(_._1).sorted.sum
    }
    (0L until n.toLong).filter(_ != qid)
      .map { o =>
        (o, cos(vec(qid), vec(o)) * 8.0 / (s4(qid) + s4(o)))
      }
      .sortBy(t => (-t._2, t._1)).take(k)
      .map { case (o, m) => (o, math.rint(m * 10000) / 10000) }
  }

  test("marginTopK matches the brute-force reference on every query") {
    val queries = corpus.filter(col("vec_id") <= 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val got = Similarity.marginTopK(queries, corpus, k = 5)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(r => (r.getLong(1), r.getDouble(2))).toSeq }
    (0L to 3L).foreach { q =>
      assert(got(q).map(_._1) == referenceTop(q, 5).map(_._1),
        s"match order differs for query $q")
      got(q).zip(referenceTop(q, 5)).foreach { case ((_, m1), (_, m2)) =>
        assert(math.abs(m1 - m2) <= 1e-4, s"margin mismatch for query $q")
      }
    }
  }

  test("an exact duplicate is its twin's top match") {
    val dup = corpus.unionByName(Seq((99L, vec(7L))).toDF("vec_id", "embedding"))
    val queries = dup.filter(col("vec_id") === 99L)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val top = Similarity.marginTopK(queries, dup, k = 1).collect()
    assert(top.head.getLong(1) == 7L)
  }

  test("corpus not larger than knn fails loudly") {
    val tiny = corpus.filter(col("vec_id") <= 3) // 4 vectors, knn = 4
    val queries = tiny.select(col("vec_id").as("query_id"),
      col("embedding").as("query_vec"))
    intercept[Exception] {
      Similarity.marginTopK(queries, tiny, k = 2).collect()
    }
  }

  private def realQueries = {
    val emb = graft.sources.Tables.load(spark, SfDir, "embeddings")
    (emb, emb.filter(col("vec_id") <= 9)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec")))
  }

  private def recallVsBrute(sys: org.apache.spark.sql.DataFrame,
                            emb: org.apache.spark.sql.DataFrame,
                            queries: org.apache.spark.sql.DataFrame): Double = {
    val gold = Similarity.marginTopKBrute(queries, emb, k = 5)
      .select(col("query_id"), col("match_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = sys.select(col("query_id"), col("match_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == gold.size, "ANN margin must return k rows per query")
    got.count(gold.contains).toDouble / gold.size
  }

  test("ANN margin (float, derived centroids) recalls >= 0.8 of the brute top-5") {
    val (emb, queries) = realQueries
    val r = recallVsBrute(Similarity.marginTopKAnn(queries, emb, k = 5),
      emb, queries)
    assert(r >= 0.8, s"float ANN margin recall@5 $r below floor 0.8")
  }

  test("ANN margin (portable, q225's pinned lists) recalls >= 0.8 of the brute top-5") {
    val (emb, queries) = realQueries
    val r = recallVsBrute(
      Similarity.marginTopKAnnPortable(queries, emb, k = 5,
        nCentroids = 16, nProbe = 8),
      emb, queries)
    assert(r >= 0.8, s"portable ANN margin recall@5 $r below floor 0.8")
  }

  test("ANN margin centroid-TABLE path (forced) recalls >= 0.8") {
    // the past-cap geometry: 150 centroids on the 500-vector fixture
    // exceeds MaxLiteralCentroids=128, so training, assignment and both
    // probe legs run in the one-Literal MATRIX form. vec_id -1 is an
    // exact copy of vec_id 0, so the two lowest-id seeds are one
    // duplicated centroid: the first assignment must break every tie
    // between them to the lower cid
    val (emb, queries) = realQueries
    val dup = emb.unionByName(
      emb.filter(col("vec_id") === 0).withColumn("vec_id", lit(-1L)))
    val r = recallVsBrute(
      Similarity.marginTopKAnn(queries, dup, k = 5, nCentroids = 150,
        nProbe = 24),
      dup, queries)
    assert(r >= 0.8, s"matrix-form ANN margin recall@5 $r below floor 0.8")
  }

  test("ANN margin matrix (past-cap default) is bit-identical to the forced-table path") {
    // the two float argmin/probe shapes over the SAME trained 150
    // centroids: d = |c|^2 - 2<v,c> is the exact IEEE negation of the
    // chained score with the identical driver-side norm constant, and
    // both tie to the lowest cid — so every argmin and every probe list
    // must match row for row. One centroid is appended twice (the one
    // row 0 lands in), so the tie rule decides real rows.
    val (emb, _) = realQueries
    val c0 = emb.select(col("vec_id").cast("long").as("id"),
      col("embedding").cast("array<double>").as("v"))
    val seeds = c0.orderBy(col("id")).limit(150).select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray)
    val trained = Similarity.lloyd(Similarity.FloatKernel, c0, seeds, 3)
    val v = col("v")
    val j = c0.filter(col("id") === 0)
      .select(array_min(Similarity.FloatKernel.matrix(trained, v)).getField("cid"))
      .head().getInt(0)
    val cents = trained :+ trained(j)
    val chained = Similarity.FloatKernel.chained(cents, v)
    val matrix = Similarity.FloatKernel.matrix(cents, v)
    val rows = c0.select(col("id"),
        (-greatest(chained: _*).getField("negcid")).as("a_chained"),
        array_min(matrix).getField("cid").as("a_matrix"),
        transform(slice(reverse(array_sort(array(chained: _*))), 1, 24),
          s => -s.getField("negcid")).as("p_chained"),
        transform(slice(array_sort(matrix), 1, 24), s => s.getField("cid")).as("p_matrix"))
      .collect()
    rows.foreach { r =>
      assert(r.getInt(1) === r.getInt(2), s"argmin differs for row ${r.getLong(0)}")
      assert(r.getSeq[Int](3) === r.getSeq[Int](4), s"probe list differs for row ${r.getLong(0)}")
    }
    val row0 = rows.find(_.getLong(0) == 0L).get
    assert(row0.getInt(2) === j, "the duplicated centroid's tie goes to the lower cid")
    assert(row0.getSeq[Int](4).take(2) === Seq(j, cents.length - 1))
  }

  test("IMI margin (product cells) recalls >= 0.8 of the brute top-5") {
    // kPerHalf = 4 -> a 16-cell grid probed 8-deep: the same coverage
    // class as the single-level 16-list gate geometry, but the lists
    // come from TWO 4-entry half codebooks — the past-the-cap shape
    val (emb, queries) = realQueries
    val r = recallVsBrute(
      Similarity.marginTopKImi(queries, emb, k = 5, kPerHalf = 4, nProbe = 8),
      emb, queries)
    assert(r >= 0.8, s"IMI margin recall@5 $r below floor 0.8")
  }

  test("marginTopK hands off to the IMI grid past imiCutoverRows") {
    val (emb, queries) = realQueries
    val imi = Similarity.marginTopK(queries, emb, k = 5, maxBrute = 10L,
      imiCutoverRows = 100L)
    assert(imi.columns.toSeq == Seq("query_id", "match_id", "margin_r"))
    val counts = imi.groupBy(col("query_id")).count().collect()
    assert(counts.length == 10 && counts.forall(_.getLong(1) == 5L))
    val r = recallVsBrute(imi, emb, queries)
    assert(r >= 0.6, s"handed-off IMI margin recall@5 $r below floor 0.6")
  }

  test("marginTopK auto-switches to the ANN legs past the corpus threshold") {
    val (emb, queries) = realQueries
    // force the switch with a tiny threshold: the result must be the ANN
    // form's (same schema, k rows per query), not an error or brute rerun
    val ann = Similarity.marginTopK(queries, emb, k = 5, maxBrute = 10L)
    assert(ann.columns.toSeq == Seq("query_id", "match_id", "margin_r"))
    val counts = ann.groupBy(col("query_id")).count().collect()
    assert(counts.length == 10 && counts.forall(_.getLong(1) == 5L))
    // and the default threshold keeps the 500-vector fixture on the
    // exact brute path (bitwise-identical to marginTopKBrute)
    val viaDefault = Similarity.marginTopK(queries, emb, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = Similarity.marginTopKBrute(queries, emb, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaDefault == brute)
  }
}
