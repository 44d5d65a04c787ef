package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Load rollback (SURVEY.md §2.2 K4): the reference deletes the
  * just-written S3 objects when validation fails
  * (common_utils.py:128-180; start_ingestion.py:143-145). The
  * Hadoop-FS equivalent diffs the lake file listing around the write and
  * deletes the additions — works on any FileSystem (local, S3A, HDFS).
  *
  * The better-at-scale alternative stays available: run-scoped output
  * paths or `partitionOverwriteMode=dynamic` make re-runs idempotent and
  * rollback unnecessary (SURVEY.md §4) — this exists for behavioral
  * parity with the reference's append-only layout.
  */
object Rollback {

  def listFiles(spark: SparkSession, dir: String): Set[String] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Set.empty
    else {
      val it = fs.listFiles(path, true)
      val out = scala.collection.mutable.Set[String]()
      while (it.hasNext) out += it.next().getPath.toString
      out.toSet
    }
  }

  /** Delete files present now but not in `before` (the run's additions).
    * Returns the deleted paths.
    */
  def deleteAdded(spark: SparkSession, dir: String, before: Set[String]): Seq[String] = {
    val added = (listFiles(spark, dir) -- before).toSeq.sorted
    if (added.nonEmpty) {
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      added.foreach(p => fs.delete(new Path(p), false))
    }
    added
  }
}
