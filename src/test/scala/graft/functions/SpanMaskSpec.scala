package graft.functions

import graft.SparkSpec

class SpanMaskSpec extends SparkSpec {
  import spark.implicits._

  private def md5fp(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
  }

  /** Independent imperative reference: candidate starts → greedy merge. */
  private def refMask(docId: Long, n: Int, rateDiv: Int, spanLen: Int): Seq[(Long, Long, Long)] = {
    val starts = (0 until n).filter(p => md5fp(s"$docId:$p") % rateDiv == 0)
    val merged = starts.foldLeft(List.empty[(Int, Int)]) { case (acc, p) =>
      val e = math.min(p + spanLen, n)
      acc match {
        case (s0, e0) :: rest if p <= e0 => (s0, math.max(e0, e)) :: rest
        case _ => (p, e) :: acc
      }
    }.reverse
    merged.zipWithIndex.map { case ((s, e), i) => (i.toLong, s.toLong, e.toLong) }
  }

  test("maskSpans matches the imperative reference on random docs") {
    val rnd = new scala.util.Random(5)
    val docs = (1L to 30L).map(i => (i, Array.fill(30 + rnd.nextInt(170))("w").mkString(" ")))
    val got = SpanMask.maskSpans(docs.toDF("doc_id", "text"), $"doc_id", $"text")
      .select($"doc_id", $"mask_id", $"span_start", $"span_end")
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(t => (t._2, t._3, t._4)).toSeq).toMap
    docs.foreach { case (id, t) =>
      val n = t.split(" ").length
      val ref = refMask(id, n, 20, 3)
      assert(got.getOrElse(id, Seq.empty) == ref, s"doc $id diverges")
    }
  }

  test("maskSpans: spans disjoint with gaps, in bounds, ~15% masked on a long doc") {
    val doc = Seq((7L, Array.fill(20000)("x").mkString(" "))).toDF("doc_id", "text")
    val spans = SpanMask.maskSpans(doc, $"doc_id", $"text")
      .select($"span_start", $"span_end", $"n_masked")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(spans.nonEmpty)
    assert(spans.head._1 >= 0 && spans.last._2 <= 20000)
    spans.sliding(2).foreach {
      case Array((_, e0, _), (s1, _, _)) => assert(s1 > e0, "merged spans must not touch")
      case _ => ()
    }
    val frac = spans.map(_._3).sum.toDouble / 20000
    assert(frac > 0.10 && frac < 0.20, s"masked fraction $frac far from 15%")
  }

  test("maskSpans is partition-invariant and skips empty docs") {
    val docs = Seq((1L, "a b c d e f g h i j k l m n o p"), (2L, "  "), (3L, ""))
      .toDF("doc_id", "text")
    val a = SpanMask.maskSpans(docs, $"doc_id", $"text")
      .collect().map(_.toSeq).toSet
    val b = SpanMask.maskSpans(docs.repartition(7), $"doc_id", $"text")
      .collect().map(_.toSeq).toSet
    assert(a == b)
    assert(!a.exists(r => r.head == 2L || r.head == 3L))
  }
}
