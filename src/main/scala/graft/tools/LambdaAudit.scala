package graft.tools

/** Print [[graft.plans.PlanAudit.repeatedLambdas]] findings for registry
  * entries matching a name regex — the fast triage loop while fixing a
  * flagged query (PlanShapeSpec runs the same audit over all of them).
  * Usage: `runMain graft.tools.LambdaAudit <regex> [sfDir]`.
  */
object LambdaAudit {
  def main(args: Array[String]): Unit = {
    val pat = args.headOption.getOrElse(".").r
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = graft.util.LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    var n = 0
    graft.SparkEntry.entries.sortBy(_.name)
      .filter(e => pat.findFirstIn(e.name).isDefined)
      .foreach { case graft.SparkEntry.Entry(name, build, _, _) =>
        val findings =
          try {
            val df = build(spark, dir)
            graft.plans.PlanAudit.repeatedLambdas(df) ++
              graft.plans.PlanAudit.codegenFallbacks(df)
                .map("[fallback] " + _) ++
              graft.plans.PlanAudit.recomputedLambdaSubplans(df)
                .map("[advisory] " + _)
          } catch { case e: Throwable =>
            Seq(s"construction failed: ${e.getMessage}".take(160)) }
        spark.catalog.clearCache()
        findings.foreach { f => n += 1; println(s"[audit] $name: ${f.take(260)}") }
        if (findings.isEmpty) println(s"[audit] $name: clean")
      }
    println(s"[audit] total findings: $n")
    spark.stop()
  }
}
