package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact grouped percentile selection must be bit-identical to the
  * window-derived ANSI PERCENTILE_DISC reference — the smallest value
  * whose ascending rank reaches ceil(p·n) — on ties, dominant groups,
  * null values, null groups, all-null groups, and boundary percentiles;
  * and its plan must contain no single-partition exchange.
  */
class GroupedPercentilesSpec extends SparkSpec {
  import spark.implicits._

  /** Reference: one global sort per group via a window — the plan this
    * operator exists to avoid, used here only as the semantic oracle.
    */
  private def reference(df: DataFrame, pBp: Seq[Int]): DataFrame = {
    val w = Window.partitionBy($"g").orderBy($"v".asc)
    val ranked = df.filter($"v".isNotNull)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__tot", count(lit(1)).over(Window.partitionBy($"g")))
    val pDf = pBp.toDF("p_bp")
    val hit = ranked.join(pDf,
        $"__rn" === greatest(lit(1L),
          expr("(CAST(p_bp AS BIGINT) * __tot + 9999L) div 10000L")))
      .select($"g", $"p_bp", $"v")
    val allNull = df.select($"g").distinct()
      .join(df.filter($"v".isNotNull).select($"g").distinct(), Seq("g"), "left_anti")
      .crossJoin(pDf)
      .withColumn("v", lit(null).cast(df.schema("v").dataType))
      .select($"g", $"p_bp", $"v")
    hit.unionByName(allNull)
  }

  private def check(df: DataFrame, pBp: Seq[Int], coarse: Int): Unit = {
    val got = GroupedPercentiles.percentilesByRange(df, $"v", $"g", pBp, coarse)
    val want = reference(df, pBp)
    assert(got.columns.toSeq == Seq("g", "p_bp", "v"))
    val gs = got.collect().map(_.toSeq).sortBy(_.toString).toSeq
    val ws = want.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(gs == ws, s"got $gs\nwant $ws")
  }

  test("parity with the window reference, ties and a dominant group") {
    // group a dominates; heavy ties inside it
    val rows = (1L to 900L).map(i => ("a", (i % 7).toDouble)) ++
      (1L to 60L).map(i => ("b", i.toDouble)) ++
      Seq(("c", 42.0))
    check(rows.toDF("g", "v"), Seq(0, 1, 2500, 5000, 7500, 9999, 10000),
      coarse = 8)
  }

  test("null values ignored; null and all-null groups surface correctly") {
    val rows: Seq[(Option[String], Option[Double])] = Seq(
      (Some("a"), Some(3.0)), (Some("a"), None), (Some("a"), Some(1.0)),
      (None, Some(5.0)), (None, Some(2.0)),      // null GROUP with values
      (Some("dead"), None), (Some("dead"), None) // all-null group
    )
    check(rows.toDF("g", "v"), Seq(2500, 5000, 10000), coarse = 4)
  }

  test("single-row groups and integer-typed values keep their type") {
    val df = Seq(("a", 7L), ("b", 1L), ("b", 2L), ("b", 3L)).toDF("g", "v")
    val got = GroupedPercentiles.percentilesByRange(df, $"v", $"g", Seq(5000))
    assert(got.schema("v").dataType.typeName == "long")
    val m = got.collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(m == Map("a" -> 7L, "b" -> 2L))
  }

  test("rank selection agrees with percentile_disc boundaries exactly") {
    // n=4: p25→rank 1, p25+ε→rank 2 — the ceil boundary the integer
    // arithmetic must hit exactly
    val df = Seq(("g", 10.0), ("g", 20.0), ("g", 30.0), ("g", 40.0)).toDF("g", "v")
    val got = GroupedPercentiles.percentilesByRange(df, $"v", $"g",
      Seq(2500, 2501, 5000, 5001, 7500, 7501))
      .collect().map(r => r.getInt(1) -> r.getDouble(2)).toMap
    assert(got == Map(2500 -> 10.0, 2501 -> 20.0, 5000 -> 20.0,
      5001 -> 30.0, 7500 -> 30.0, 7501 -> 40.0))
  }

  test("plan has no single-partition exchange") {
    val df = (1L to 1000L).map(i => (s"g${i % 3}", (i * 37 % 101).toDouble))
      .toDF("g", "v")
    val got = GroupedPercentiles.percentilesByRange(df, $"v", $"g", Seq(5000, 9900))
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), s"single-partition stage:\n$plan")
  }

  test("winsorize clamps into the per-group percentile band") {
    val rows = ("a", 1000.0) +: ("a", -5.0) +:
      (1 to 98).map(i => ("a", i.toDouble)) :+ ("b", 7.0)
    val df = rows.toDF("g", "v")
    val got = GroupedPercentiles.winsorize(df, $"v", $"g", 100, 9900, "vw")
    assert(got.columns.toSeq == Seq("g", "v", "vw"))
    val a = got.filter($"g" === "a").select($"v", $"vw").collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    // n=100: p1 → rank 1 (value -5), p99 → rank 99 (value 98): the
    // megadoc clamps to 98, everything else is inside the band
    assert(a(1000.0) == 98.0 && a(-5.0) == -5.0 && a(50.0) == 50.0)
    // single-row group: both cuts are the value itself
    assert(got.filter($"g" === "b").head().getDouble(2) == 7.0)
    // null values stay null
    val dfn = Seq(("a", Some(1.0)), ("a", None)).toDF("g", "v")
    val gn = GroupedPercentiles.winsorize(dfn, $"v", $"g", 100, 9900, "vw")
    assert(gn.filter($"v".isNull).head().isNullAt(2))
    intercept[IllegalArgumentException] {
      GroupedPercentiles.winsorize(df, $"v", $"g", 9900, 100, "vw")
    }
  }

  test("invalid percentiles fail loudly") {
    val df = Seq(("a", 1.0)).toDF("g", "v")
    intercept[IllegalArgumentException] {
      GroupedPercentiles.percentilesByRange(df, $"v", $"g", Seq(10001))
    }
    intercept[IllegalArgumentException] {
      GroupedPercentiles.percentilesByRange(df, $"v", $"g", Nil)
    }
    intercept[IllegalArgumentException] {
      GroupedPercentiles.percentilesByRange(df, $"v", $"g", Seq(5000, 5000))
    }
  }

  test("MAD outliers match the exact window reference") {
    // group a: 1..99 plus two megavalues; group b: tight cluster; a
    // dominant tie block inside a exercises the coarse histogram
    val rows = (1L to 99L).map(i => ("a", i)) ++
      Seq(("a", 100000L), ("a", -50000L)) ++
      (1L to 40L).map(_ => ("b", 10L)) ++ Seq(("b", 11L), ("b", 9999L))
    val df = rows.toDF("g", "v")
    val got = GroupedPercentiles.madOutliers(df, $"v", $"g", k = 3,
      "med", "mad", "out", coarse = 8)
    // reference: exact medians via window rank selection on longs
    val w = Window.partitionBy($"g").orderBy($"v".asc)
    def disc(in: DataFrame): DataFrame = in
      .withColumn("__rn", row_number().over(w))
      .withColumn("__tot", count(lit(1)).over(Window.partitionBy($"g")))
      .filter($"__rn" === greatest(lit(1L),
        expr("(5000L * __tot + 9999L) div 10000L")))
      .select($"g", $"v")
    val medRef = disc(df).withColumnRenamed("v", "m")
    val devRef = df.join(medRef, Seq("g")).withColumn("v", abs($"v" - $"m"))
    val madRef = disc(devRef.select($"g", $"v")).withColumnRenamed("v", "s")
    val want = df.join(medRef, Seq("g")).join(madRef, Seq("g"))
      .select($"g", $"v", $"m".as("med"), $"s".as("mad"),
        (abs($"v" - $"m") > lit(3) * $"s").as("out"))
    val gs = got.select("g", "v", "med", "mad", "out").collect()
      .map(_.toSeq).sortBy(_.toString).toSeq
    val ws = want.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(gs == ws, s"got $gs\nwant $ws")
    // both planted megavalues flagged, the bulk not
    val flagged = got.filter($"g" === "a" && $"out").select($"v")
      .collect().map(_.getLong(0)).toSet
    assert(flagged == Set(100000L, -50000L), s"flagged $flagged")
  }

  test("MAD degeneracy, single-row groups, and nulls") {
    // >50% of group d shares one value → MAD 0 → every deviant flagged
    val rows = (1L to 10L).map(_ => ("d", Some(5L))) ++
      Seq(("d", Some(6L)), ("e", Some(42L)), ("d", None), ("z", None))
    val got = GroupedPercentiles.madOutliers(rows.toDF("g", "v"), $"v", $"g",
      k = 3, "med", "mad", "out", coarse = 4)
    assert(got.filter($"g" === "d" && $"v" === 6L).head().getBoolean(4),
      "deviation from a zero-MAD group must flag")
    assert(got.filter($"g" === "d" && $"v" === 5L && $"out").isEmpty)
    val e = got.filter($"g" === "e").head() // single row: med=v, mad=0
    assert(e.getLong(2) == 42L && e.getLong(3) == 0L && !e.getBoolean(4))
    assert(got.filter($"v".isNull).collect()
      .forall(r => r.isNullAt(4)), "null values keep a null flag")
    val z = got.filter($"g" === "z").head() // all-null group
    assert(z.isNullAt(2) && z.isNullAt(3) && z.isNullAt(4))
  }
}
