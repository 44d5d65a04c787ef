package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each gate entry's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: regex over query names — local targeted runs
    // (the driver always passes exactly two)
    val Array(sfDir, outDir) = args.take(2)
    val nameFilter = args.lift(2).map(_.r)
    val spark = graft.util.LocalSession()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // tamper-evident gate: a query that throws must surface as an explicit
    // red entry in failed.json, not as a silent absence from CORRECTNESS
    // (round 5 lost 8 event-time queries exactly this way)
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    val gates = SparkEntry.entries.filter(e =>
      e.oracle.isDefined && nameFilter.forall(_.findFirstIn(e.name).isDefined))
    gates.foreach { case SparkEntry.Entry(name, build, _, _) =>
      try build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
        failed(name) = msg
        System.err.println(s"[verify] $name failed: $msg")
      }
      // drop any intermediate a query persisted for its own multi-pass
      // internals so cached plans don't accumulate across the suite
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = gates.map(e => s"${q(e.name)}: ${q(e.oracle.get)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failedJson = failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failed.json"), failedJson)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries FAILED: ${failed.keys.mkString(", ")}")
    spark.stop()
  }
}
