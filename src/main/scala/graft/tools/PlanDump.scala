package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` output of selected gate queries to one
  * file per query — the before/after evidence trail for optimization
  * rounds (plans/rNN/<query>_<tag>.txt). Usage:
  * `runMain graft.tools.PlanDump <sfDir> <outDir> <tag> [q1,q2,...]`.
  *
  * Formatted mode (vs `executedPlan.toString`) numbers the operators
  * and prints per-scan PushedFilters/ReadSchema — the details a
  * plan-shape claim is checked against.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("plans/r13")
    val tag = args.lift(2).getOrElse("before")
    val byName = graft.SparkEntry.entries.map(e => e.name -> e.build).toMap
    val names = args.lift(3).map(_.split(",").toSeq).getOrElse(byName.keys.toSeq.sorted)
    val spark = graft.util.LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      byName.get(name).foreach { fn =>
        val txt = try fn(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
          catch { case e: Throwable => s"<failed: ${e.getMessage}>" }
        Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), txt)
        println(s"[plandump] $outDir/${name}_$tag.txt")
      }
    }
    spark.stop()
  }
}
