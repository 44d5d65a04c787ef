package graft.tools

import org.apache.spark.sql.functions._

/** Regenerates [[graft.functions.Bpe.DefaultMerges]]: trains the merge
  * table on a corpus (default the sf0.01 documents) and prints it as
  * Scala source to paste into Bpe.scala. Deterministic — same corpus,
  * same output.
  *
  * Usage: runMain graft.tools.BpeTrain [sfDir] [nMerges]
  */
object BpeTrain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nMerges = if (args.length > 1) args(1).toInt else 64
    val spark = graft.util.LocalSession()
    spark.sparkContext.setLogLevel("WARN")
    val docs = graft.sources.Tables.load(spark, dir, "documents")
    val merges = graft.functions.Bpe.trainFromCorpus(docs, col("text"), nMerges)
    def esc(s: String) = s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString }
    println("  val DefaultMerges: Vector[Merge] = Vector(")
    merges.grouped(4).foreach { g =>
      println("    " + g.map { case (a, b) => s"""("${esc(a)}", "${esc(b)}")""" }.mkString(", ") + ",")
    }
    println("  )")
    spark.stop()
  }
}
