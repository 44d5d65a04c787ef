package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sink.TxTable

/** Parquet table loader for the lake.
  *
  * Handles nanosecond-precision parquet timestamps, which Spark 4 rejects
  * by default (PARQUET_TYPE_ILLEGAL for TIMESTAMP(NANOS)): read them as
  * raw nano longs via the legacy conf and truncate to microseconds with
  * integer division — the same truncation DuckDB applies when it loads
  * ns-precision parquet into its µs TIMESTAMP, so both engines see
  * identical values. Plain doubles/longs would lose precision (ns epochs
  * exceed 2^53), hence `div`, not `/`.
  */
object Tables {

  /** Columns that need the ns→µs treatment, per table. */
  private val NanoTsCols: Map[String, Seq[String]] = Map("events" -> Seq("ts"))

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val nanoCols = NanoTsCols.getOrElse(name, Nil)
    if (nanoCols.nonEmpty) spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = read(spark, s"$dir/$name.parquet")
    if (nanoCols.isEmpty) df
    else {
      // re-written copies of the table (lake output, ScaleGen) carry a
      // normal µs TIMESTAMP — only convert columns that actually read
      // back as raw nano longs
      nanoCols.foldLeft(df) { (acc, c) =>
        acc.schema(c).dataType match {
          case org.apache.spark.sql.types.LongType =>
            acc.withColumn(c, expr(s"timestamp_micros($c div 1000)"))
          // µs parquet written with isAdjustedToUTC=false reads back as
          // TIMESTAMP_NTZ; under the session's UTC zone the cast is
          // value-identical and restores the instant type event-time
          // operators (watermarks, unix_micros) require
          case org.apache.spark.sql.types.TimestampNTZType =>
            acc.withColumn(c, col(c).cast("timestamp"))
          case _ => acc
        }
      }
    }
  }

  /** Read `path` (one parquet file, or a dir of them) with the data
    * schema of its first data file's footer
    * ([[TxTable.footerSchema]], under the session's
    * `nanosAsLong`), so planning runs no schema-inference job; inference
    * only when no footer is readable, so a missing or torn table fails as
    * it always did.
    */
  private def read(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val schema = scala.util.Try {
      val fs = new Path(path).getFileSystem(conf)
      val root = fs.makeQualified(new Path(path))
      val parent = root.getParent
      TxTable.firstDataFile(fs, fs.getFileStatus(root)).flatMap(f =>
        TxTable.footerSchema(spark, conf, parent.toString,
          Seq(parent.toUri.relativize(f.toUri).getPath)))
    }.toOption.flatten
    schema.fold(spark.read)(spark.read.schema).parquet(path)
  }
}
