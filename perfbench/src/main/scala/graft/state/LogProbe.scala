package graft.state

import org.apache.spark.sql.SparkSession

/** Read-only probe of a run log's listing for the benchmark: the number
  * of part files a watermark recovery opens (the `private[state]`
  * visibility rule, applied without reading any rows).
  */
object LogProbe {
  def visibleFileCount(spark: SparkSession, path: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0 else LogStore.visibleFiles(fs, p).size
  }
}
