package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Merge-table BPE: training correctness/determinism on a hand-computed
  * fixture, rank-order application ≡ classic priority-queue BPE, and the
  * distributed per-doc paths agreeing with the driver-side algorithm.
  */
class BpeSpec extends SparkSpec {

  // ------------------------------------------------------------- training

  test("train: hand-computed fixture — merges follow max-freq with lexicographic ties") {
    // freq: "aab"×3, "ab"×2 → pairs: (a,a)=3, (a,b)=5 → merge 1 = (a,b)
    // then words are [a,ab]×3, [ab]×2 → pairs: (a,ab)=3 → merge 2 = (a,ab)
    val merges = Bpe.train(Seq("aab" -> 3L, "ab" -> 2L), nMerges = 4)
    assert(merges == Vector(("a", "b"), ("a", "ab")))
  }

  test("train: ties break to the lexicographically smallest pair") {
    // "ab"×1, "cd"×1 → (a,b)=1, (c,d)=1 → tie → (a,b) first
    val merges = Bpe.train(Seq("ab" -> 1L, "cd" -> 1L), nMerges = 2)
    assert(merges == Vector(("a", "b"), ("c", "d")))
  }

  test("train: stops early when nothing is left to merge") {
    assert(Bpe.train(Seq("ab" -> 5L), nMerges = 100) == Vector(("a", "b")))
    assert(Bpe.train(Seq("a" -> 5L), nMerges = 100).isEmpty)
  }

  test("trainFromCorpus is deterministic and reproduces DefaultMerges on its corpus") {
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val m1 = Bpe.trainFromCorpus(docs, col("text"), nMerges = 64)
    val m2 = Bpe.trainFromCorpus(docs.repartition(7), col("text"), nMerges = 64)
    assert(m1 == m2, "training must not depend on partitioning")
    assert(m1 == Bpe.DefaultMerges,
      "frozen DefaultMerges out of date — rerun graft.tools.BpeTrain")
  }

  // ---------------------------------------------------------- application

  /** Classic priority-queue BPE application (lowest-rank adjacent pair
    * first, all left-to-right occurrences per step) — the independent
    * reference implementation for the rank-order equivalence claim.
    */
  private def priorityApply(word: String, merges: IndexedSeq[(String, String)]): Vector[String] = {
    val rank = merges.zipWithIndex.toMap
    var syms = word.map(_.toString).toVector
    var cont = true
    while (cont && syms.length > 1) {
      val best = syms.zip(syms.tail).flatMap(rank.get).sorted.headOption
      best match {
        case None => cont = false
        case Some(r) =>
          val (a, b) = merges(r)
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              out += a + b; i += 2
            } else { out += syms(i); i += 1 }
          }
          syms = out.result()
      }
    }
    syms
  }

  test("applyMerges ≡ priority-queue BPE on every corpus pre-token") {
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val pretoks = docs
      .select(explode(TextFunctions.bpeTokens(col("text"))).as("tok"))
      .distinct().collect().map(_.getString(0))
    assert(pretoks.nonEmpty)
    pretoks.foreach { w =>
      assert(Bpe.applyMerges(w, Bpe.DefaultMerges) == priorityApply(w, Bpe.DefaultMerges),
        s"rank-order and priority application disagree on '$w'")
    }
  }

  test("applyMerges ≡ priority-queue BPE on adversarial repeats (fixpoint-per-rank cases)") {
    // self-overlapping pairs are exactly where one replace pass is not
    // exhaustive: (a,a) over "aaaa" must yield [aa, aa], then [aaaa]
    val m = Vector(("a", "a"), ("aa", "aa"))
    assert(Bpe.applyMerges("aaaa", m) == Vector("aaaa"))
    assert(Bpe.applyMerges("aaa", m) == Vector("aa", "a"))
    assert(Bpe.applyMerges("aaaaa", m) == Vector("aaaa", "a"))
    for (w <- Seq("abab", "aabb", "bab", "aabaa", "ababa"))
      assert(Bpe.applyMerges(w, m) == priorityApply(w, m), s"disagree on '$w'")
  }

  test("applyMerges ≡ priority-queue BPE when two rules produce the same symbol") {
    // (aaa,b) at rank 3 can only fire on an "aaa" made by (a,aa) at rank
    // 1; the lowest-rank pair then builds "aaab" and never reaches the
    // rank-5 (aa,a) — rank order, each rule to fixpoint, gives [aaa, b]
    val m = Vector(("a", "a"), ("a", "aa"), ("aa", "b"), ("aaa", "b"), ("aaab", "a"),
      ("aa", "a"))
    assert(Bpe.applyMerges("aaab", m) == Vector("aaab"))
    for (w <- Seq("aaab", "aaaba", "aaaab", "aaaaab", "abaaab"))
      assert(Bpe.applyMerges(w, m) == priorityApply(w, m), s"disagree on '$w'")
  }

  test("DefaultMerges' products are distinct (the oracle's rank-order replay needs it)") {
    val products = Bpe.DefaultMerges.map { case (a, b) => a + b }
    assert(products.distinct.length == products.length)
  }

  test("applyMerges: untrained characters pass through as singletons") {
    assert(Bpe.applyMerges("zq!", Bpe.DefaultMerges) == Vector("z", "q", "!"))
  }

  // ------------------------------------------------------ distributed paths

  test("mergedTokensPerDoc matches the driver-side algorithm exactly") {
    val docs = graft.sources.Tables.load(spark, SfDir, "documents").limit(50)
    val got = Bpe.mergedTokensPerDoc(docs, col("doc_id"), col("text"), Bpe.DefaultMerges)
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    val pat = java.util.regex.Pattern.compile(TextFunctions.BpePattern)
    docs.select(col("doc_id"), col("text")).collect().foreach { r =>
      val m = pat.matcher(r.getString(1))
      val pres = Iterator.continually(m).takeWhile(_.find()).map(_.group()).toVector
      val toks = pres.flatMap(Bpe.applyMerges(_, Bpe.DefaultMerges))
      assert(got(r.getLong(0)) == ((pres.length, toks.length, toks.mkString("|"))))
    }
  }

  test("withMergedCount preserves schema and agrees with mergedTokensPerDoc") {
    val docs = graft.sources.Tables.load(spark, SfDir, "documents").limit(50)
    val a = Bpe.withMergedCount(docs.select(col("doc_id"), col("lang"), col("text")),
      "text", "n_tok", Bpe.DefaultMerges)
    assert(a.columns.toSeq == Seq("doc_id", "lang", "text", "n_tok"))
    val byId = Bpe.mergedTokensPerDoc(docs, col("doc_id"), col("text"), Bpe.DefaultMerges)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    a.collect().foreach(r => assert(r.getInt(3) == byId(r.getLong(0))))
  }

  test("vocab: base chars sorted first, merge products rank-ordered, first-wins dedup") {
    val v = Bpe.vocab(Seq("b", "a", "c"), Vector(("a", "b"), ("ab", "c"), ("a", "bc")))
    assert(v("a") == 0 && v("b") == 1 && v("c") == 2, "sorted base chars first")
    assert(v("ab") == 3 && v("abc") == 4, "products in rank order")
    // (a,bc) also yields "abc" — the earlier rule keeps the id
    assert(v.size == 5)
  }

  test("every token applyMerges emits over the corpus alphabet has a vocab id") {
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val v = Bpe.vocab(Bpe.baseCharsOf(docs, col("text")), Bpe.DefaultMerges)
    val pretoks = docs.select(explode(TextFunctions.bpeTokens(col("text"))).as("tok"))
      .distinct().collect().map(_.getString(0))
    pretoks.foreach { w =>
      Bpe.applyMerges(w, Bpe.DefaultMerges).foreach(tk =>
        assert(v.contains(tk), s"token '$tk' of '$w' missing from vocab"))
    }
  }

  test("encodedIdsPerDoc round-trips: ids decode back to the exact segmentation") {
    val docs = graft.sources.Tables.load(spark, SfDir, "documents").limit(50)
    val v = Bpe.vocab(Bpe.baseCharsOf(docs, col("text")), Bpe.DefaultMerges)
    val inv = v.map(_.swap)
    val toks = Bpe.mergedTokensPerDoc(docs, col("doc_id"), col("text"), Bpe.DefaultMerges)
      .collect().map(r => r.getLong(0) -> (r.getInt(2), r.getString(3))).toMap
    Bpe.encodedIdsPerDoc(docs, col("doc_id"), col("text"), Bpe.DefaultMerges, v)
      .collect().foreach { r =>
        val (nTok, toksStr) = toks(r.getLong(0))
        assert(r.getInt(1) == nTok)
        val decoded = r.getString(2).split(',').filter(_.nonEmpty)
          .map(s => inv(s.toInt)).mkString("|")
        assert(decoded == toksStr, s"doc ${r.getLong(0)} id round trip")
      }
  }

  test("characters outside the frozen base set encode as UnkId, not a silent new id") {
    import spark.implicits._
    val v = Bpe.vocab(Seq("a", "b"), Vector(("a", "b")))
    val got = Bpe.encodedIdsPerDoc(Seq((1L, "abz")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), Vector(("a", "b")), v).head()
    assert(got.getString(2) == s"2,${Bpe.UnkId}", s"got ${got.getString(2)}")
  }

  test("null and empty text yield zero counts, not nulls") {
    import spark.implicits._
    val df = Seq((1L, null: String), (2L, ""), (3L, "a b")).toDF("doc_id", "text")
    val got = Bpe.mergedTokensPerDoc(df, col("doc_id"), col("text"), Bpe.DefaultMerges)
      .orderBy(col("id")).collect()
    assert(got.map(r => (r.getInt(1), r.getInt(2))).toSeq == Seq((0, 0), (0, 0), (2, 2)))
    val wc = Bpe.withMergedCount(df, "text", "n", Bpe.DefaultMerges)
      .orderBy(col("doc_id")).collect().map(_.getInt(2)).toSeq
    assert(wc == Seq(0, 0, 2))
  }
}
