package graft.functions

import graft.SparkSpec

/** RRF fusion arithmetic and the hybrid pipeline's rank plumbing. */
class FusionSpec extends SparkSpec {
  import spark.implicits._

  test("RrfScale is exactly divisible by every 60+r, r in 1..10") {
    (1 to 10).foreach { r =>
      assert(Fusion.RrfScale % (60 + r) == 0,
        s"lcm must clear 1/(60+$r) to an exact integer")
    }
  }

  test("rrfFuse: doc ranked by both lists beats single-list rank-1 docs") {
    // query 7: lexical list ranks (A=1, B=2), dense list ranks (B=1, C=2).
    // B appears in both → rrf(B) = D/62 + D/61 > rrf(A) = D/61 > rrf(C).
    val lex = Seq((7L, 100L, 50.0), (7L, 200L, 40.0)).toDF("query_id", "cand_id", "score")
    val den = Seq((7L, 200L, 0.9), (7L, 300L, 0.8)).toDF("query_id", "cand_id", "score")
    val out = Fusion.rrfFuse(lex, den).collect()
      .map(r => (r.getLong(1), r.get(2), r.get(3), r.getLong(4)))
    val d = Fusion.RrfScale
    assert(out.toSeq == Seq(
      (200L, 2L, 1L, d / 62 + d / 61),
      (100L, 1L, null, d / 61),
      (300L, null, 2L, d / 62)))
  }

  test("rrfFuse: rrf ties break to the lowest candidate id") {
    // two cands each rank-1 in exactly one list → equal rrf scores
    val lex = Seq((1L, 9L, 5.0)).toDF("query_id", "cand_id", "score")
    val den = Seq((1L, 3L, 0.5)).toDF("query_id", "cand_id", "score")
    val out = Fusion.rrfFuse(lex, den).collect().map(_.getLong(1))
    assert(out.toSeq == Seq(3L, 9L))
  }

  test("lexicalTopK: idf-weighted shared-term scoring, query not a candidate") {
    val docs = Seq(
      (0L, "spark merge table"),    // query
      (1L, "spark spark zebra"),    // tf(spark)=2
      (2L, "merge table"),          // two shared terms
      (3L, "zebra only")            // no overlap -> absent
    ).toDF("doc_id", "text")
    val out = Fusion.lexicalTopK(docs, "doc_id", "text", Seq(0L), k = 10)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    // N=4; df(spark)=2, df(merge)=2, df(table)=2 -> idf = 40000 div 2 = 20000
    assert(out == Map(1L -> 40000L, 2L -> 40000L))
    assert(!out.contains(0L) && !out.contains(3L))
  }

  test("hybridTopK on real tables: bounded depth, exact integer scores") {
    val docs = spark.read.parquet(s"$SfDir/documents.parquet")
    val emb = spark.read.parquet(s"$SfDir/embeddings.parquet")
    val out = Fusion.hybridTopK(docs, emb, Seq(0L, 1L), k = 10).cache()
    val perQuery = out.groupBy("query_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perQuery.keySet == Set(0L, 1L))
    assert(perQuery.values.forall(_ <= 10))
    // every rrf score decomposes into a sum of the exact reciprocals
    val parts = 0L +: (1 to 10).map(r => Fusion.RrfScale / (60 + r))
    val legal = (for (a <- parts; b <- parts) yield a + b).toSet - 0L
    val scores = out.select("rrf_sc").collect().map(_.getLong(0)).toSet
    assert(scores.subsetOf(legal))
    out.unpersist()
  }
}
