package graft.functions

import graft.SparkSpec

class ItemsetsSpec extends SparkSpec {
  import spark.implicits._

  test("frequentPairs matches a brute-force reference on a hand corpus") {
    val docs = Seq(
      (1L, "red blue red green"), // distinct {red, blue, green}
      (2L, "red blue"),
      (3L, "red blue yellow"),
      (4L, "green yellow"),
      (5L, "red green")
    ).toDF("doc_id", "text")
    val got = Itemsets.frequentPairs(docs, $"doc_id", $"text", minSupport = 2)
      .as[(String, String, Long)].collect().toSet
    // brute force: red+blue in docs 1,2,3; red+green in 1,5; green+yellow in 4 (1x)
    assert(got == Set(("blue", "red", 3L), ("green", "red", 2L)))
  }

  test("frequentPairs: A-priori monotonicity and set semantics on random docs") {
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val docs = (1L to 60L).map(i =>
      (i, Array.fill(5 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val minSup = 12L
    val got = Itemsets.frequentPairs(docs.toDF("doc_id", "text"),
        $"doc_id", $"text", minSup)
      .as[(String, String, Long)].collect()
    // brute-force reference over distinct-token sets
    val sets = docs.map { case (_, t) => t.split(" ").toSet }
    val ref = (for {
      a <- vocab; b <- vocab if a < b
      sup = sets.count(s => s.contains(a) && s.contains(b))
      if sup >= minSup
    } yield (a, b, sup.toLong)).toSet
    assert(got.toSet == ref)
    assert(got.forall { case (a, b, sup) => a < b && sup >= minSup })
  }

  test("frequentPairs rejects minSupport < 1") {
    intercept[IllegalArgumentException] {
      Itemsets.frequentPairs(Seq((1L, "x")).toDF("doc_id", "text"),
        $"doc_id", $"text", 0)
    }
  }
}
