package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Load rollback (SURVEY.md §2.2 K4): the reference deletes the
  * just-written S3 objects when validation fails
  * (common_utils.py:128-180; start_ingestion.py:143-145). The
  * Hadoop-FS equivalent diffs the lake's data files around the write and
  * deletes the additions — works on any FileSystem (local, S3A, HDFS).
  *
  * One rule for both sides of the diff: only DATA files count — Spark's
  * hidden-file rule, so a path with any component below the lake root
  * that starts with `_` (bar `col=value` partition dirs) or `.` is not
  * data (`_SUCCESS`, `.crc` sidecars, `_temporary`). Files are compared
  * as qualified Hadoop [[Path]]s, never raw strings: a file index's URI
  * strings encode a space as `%20`, `Path.toString` does not.
  *
  * The "before" set comes from the lake read the run already makes
  * ([[filesOf]]); [[listFiles]] — a recursive listing — is only for the
  * failure path ([[deleteAdded]]) and for tools that count files.
  *
  * The better-at-scale alternative stays available: run-scoped output
  * paths or `partitionOverwriteMode=dynamic` make re-runs idempotent and
  * rollback unnecessary (SURVEY.md §4) — this exists for behavioral
  * parity with the reference's append-only layout.
  */
object Rollback {

  /** Every file under `dir`, data or not, as `Path` strings (empty when
    * `dir` is missing).
    */
  def listFiles(spark: SparkSession, dir: String): Set[String] =
    listed(fsOf(spark, dir), dir).map(_.toString).toSet

  /** The data files a read of the lake at `dir` holds, from its file
    * index (`inputFiles`) — no listing. `Path` strings, as [[listFiles]].
    */
  def filesOf(spark: SparkSession, dir: String, lake: DataFrame): Set[String] = {
    val fs = fsOf(spark, dir)
    dataOnly(fs, dir, lake.inputFiles.toSeq.map(u => new Path(new java.net.URI(u))))
      .map(_.toString).toSet
  }

  /** Delete the data files present now but not in `before` (the run's
    * additions; `before` holds `Path` strings, as [[filesOf]] and
    * [[listFiles]] give them). A file that is not data is never deleted,
    * so nothing that existed before the run goes. Returns the deleted
    * paths.
    */
  def deleteAdded(spark: SparkSession, dir: String, before: Set[String]): Seq[String] = {
    val fs = fsOf(spark, dir)
    val had = before.map(p => fs.makeQualified(new Path(p)))
    val added = dataOnly(fs, dir, listed(fs, dir)).filterNot(had).sortBy(_.toString)
    added.foreach(fs.delete(_, false))
    added.map(_.toString)
  }

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def listed(fs: FileSystem, dir: String): Seq[Path] = {
    val path = new Path(dir)
    if (!fs.exists(path)) Nil
    else {
      val it = fs.listFiles(path, true)
      val out = Seq.newBuilder[Path]
      while (it.hasNext) out += it.next().getPath
      out.result()
    }
  }

  /** The qualified data files among `files` under `dir` (see the object
    * scaladoc for the rule).
    */
  private def dataOnly(fs: FileSystem, dir: String, files: Seq[Path]): Seq[Path] = {
    val root = fs.makeQualified(new Path(dir)).toUri.getPath.stripSuffix("/") + "/"
    def hidden(name: String) =
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")
    files.map(fs.makeQualified).filter { p =>
      val abs = p.toUri.getPath
      abs.startsWith(root) && !abs.substring(root.length).split("/").exists(hidden)
    }
  }
}
