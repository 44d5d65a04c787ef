package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** S6 object listing (SURVEY.md §2.2): the reference lists the S3
  * objects under a prefix (common_utils.py:182-205). The Hadoop-FS
  * equivalent is a recursive listing that works on any FileSystem
  * (local, S3A, HDFS).
  */
object Rollback {

  /** Every file under `dir`, data or not, as `Path` strings (empty when
    * `dir` is missing).
    */
  def listFiles(spark: SparkSession, dir: String): Set[String] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Set.empty
    else {
      val it = fs.listFiles(path, true)
      val out = Set.newBuilder[String]
      while (it.hasNext) out += it.next().getPath.toString
      out.result()
    }
  }
}
