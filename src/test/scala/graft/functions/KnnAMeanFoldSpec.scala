package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[KnnAMeanFold]] must be BIT-identical to the shape it replaced
  * (typed TopKByScore pass + `sort_array(collect_list)` ascending
  * 0.0-seeded fold) — the a-mean values are hashed by the DuckDB
  * oracle through q241/q244, so "close" is not enough.
  */
class KnnAMeanFoldSpec extends SparkSpec {
  import spark.implicits._

  /** The replaced shape, verbatim (the pre-r12 imiKnnAMeansOver tail). */
  private def oldShape(scored: org.apache.spark.sql.DataFrame, knn: Int) =
    Similarity.topkOf(scored, knn, "__mq")
      .groupBy(col("__mq").as("id"))
      .agg(sort_array(collect_list(col("cos"))).as("cs"))
      .select(col("id"),
        (aggregate(col("cs"), lit(0.0d), (acc, x) => acc + x)
          / size(col("cs"))).as("a"),
        element_at(col("cs"), 1).as("ck"),
        size(col("cs")).cast("long").as("nk"))

  private def newShape(scored: org.apache.spark.sql.DataFrame, knn: Int) =
    scored.groupBy(col("__mq").as("id"))
      .agg(KnnAMeanFold(col("cos"), knn).as("__f"))
      .select(col("id"), col("__f").getField("a").as("a"),
        col("__f").getField("ck").as("ck"), col("__f").getField("nk").as("nk"))

  private def bits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
    df.select(col("id"), col("a"), col("ck"), col("nk"))
      .collect()
      .map(r => (r.getLong(0),
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        r.getLong(3))).toSet

  test("bit-identical to the TopKByScore + sorted-collect fold it replaced") {
    // deterministic mixed stream: dense groups (> knn pairs), sparse
    // groups (< knn), exact value TIES at the k boundary, negative and
    // tiny values, many partitions so partial/merge paths both run
    val rows = (0 until 5000).map { i =>
      val g = (i % 37).toLong
      val c = math.sin(i * 0.7) * (if (i % 5 == 0) 1e-7 else 1.0)
      (g, i.toLong, if (i % 11 == 0) math.sin((i - 11) * 0.7) else c)
    } ++ (100 until 110).map(i => (1000L + i, i.toLong, 0.5)) // nk < knn
    val scored = rows.toDF("__mq", "neighbor_id", "cos").repartition(32)
    // 16 exercises the selection-formula merge at a width the chained-
    // insert shape could not plan (its shared-carry DAG walks as
    // ~C(2k,k) tree paths — the r12 review finding)
    for (knn <- Seq(1, 2, 4, 7, 16)) {
      val (o, n) = (bits(oldShape(scored, knn)), bits(newShape(scored, knn)))
      assert(o == n, s"knn=$knn: fold diverged from the replaced shape")
    }
  }

  test("merge path: pre-aggregated partials equal the single-pass fold") {
    val rows = (0 until 2000).map(i => ((i % 7).toLong, i.toLong,
      math.cos(i * 1.3)))
    val scored = rows.toDF("__mq", "neighbor_id", "cos")
    // 64 partitions on 7 groups forces every group through many merges
    for (knn <- Seq(4, 16)) {
      val many = bits(newShape(scored.repartition(64), knn))
      val one = bits(newShape(scored.coalesce(1), knn))
      assert(many == one, s"knn=$knn")
    }
  }

  test("the plan aggregates on HashAggregate, never ObjectHashAggregate/SortAggregate") {
    val scored = (0 until 100).map(i => ((i % 5).toLong, i.toLong, i * 0.1))
      .toDF("__mq", "neighbor_id", "cos")
    val plan = newShape(scored, 4).queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("ObjectHashAggregate") && !plan.contains("SortAggregate"),
      s"the fold must stay on HashAggregate (the whole point):\n$plan")
  }

  test("knn = 4 margin tail: cos·2/(a_q+a_c) from the fold equals cos·8/(s_q+s_c)") {
    // the oracle-gated margin forms used to fold an unrolled ascending
    // k = 4 SUM s and normalize cos·8/(s_q+s_c); they now share the
    // fold's MEAN a. a = s/4 is exact (a power-of-two scale), so the
    // two tails must agree to the bit — ties and negatives included
    val rnd = new scala.util.Random(7)
    val pool = Array(0.5, -0.5, 0.25, 1.0, -1.0, 0.1, -0.3, 0.7071067811865476)
    def cos(): Double =
      if (rnd.nextInt(4) == 0) pool(rnd.nextInt(pool.length)) // ties
      else rnd.nextDouble() * 2 - 1
    val groups = (0 until 400).map(g => (g.toLong, Seq.fill(4)(cos())))
    val scored = groups.flatMap { case (g, cs) =>
      cs.zipWithIndex.map { case (c, i) => (g, i.toLong, c) }
    }.toDF("__mq", "neighbor_id", "cos").repartition(8)
    val a = newShape(scored, 4).select($"id", $"a").as[(Long, Double)]
      .collect().toMap
    // the replaced unrolled sum: ((c1 + c2) + c3) + c4, ascending
    val s = groups.map { case (g, cs) =>
      val x = cs.sorted
      g -> (((x(0) + x(1)) + x(2)) + x(3))
    }.toMap
    assert(a.size === groups.size)
    for (_ <- 0 until 2000) {
      val (q, c) = (rnd.nextInt(groups.size).toLong, rnd.nextInt(groups.size).toLong)
      val cs = cos()
      val viaMean = cs * 2.0 / (a(q) + a(c))
      val viaSum = cs * 8.0 / (s(q) + s(c))
      assert(java.lang.Double.doubleToRawLongBits(viaMean) ===
        java.lang.Double.doubleToRawLongBits(viaSum), s"q=$q c=$c cos=$cs")
    }
  }
}
