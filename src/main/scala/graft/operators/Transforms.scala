package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.PartitionSpec

/** Row-level transforms of the ingestion pipeline: the temporal clamp
  * projection, the tracking-expression column, and derived partition
  * columns. All are pure `Column` expressions — whole-stage-codegen'd,
  * no UDFs (SURVEY.md §2.3, §2.9).
  */
object Transforms {

  /** Clamp a temporal column into [lo, hi] — the reference wraps every
    * date/datetime column in a CASE WHEN to protect pandas' ns range
    * (reference: ingest_mysql_data.py:183-189). Spark's range is wider, so
    * this is exposed as an *optional* normalization with configurable
    * bounds; out-of-range sentinel dates (MySQL zero-dates) become the
    * boundary value rather than crashing downstream consumers.
    */
  def clampTimestamp(c: Column, lo: String, hi: String): Column = {
    val loTs = to_timestamp(lit(lo))
    val hiTs = to_timestamp(lit(hi))
    when(c < loTs, loTs).when(c > hiTs, hiTs).otherwise(c)
  }

  /** Append the delta tracking column (reference adds `expr_column` =
    * `delta_field_expr`, e.g. coalesce(modified, created), then drops it
    * before the sink — ingest_mysql_data.py:192-194, 286-288).
    */
  val ExprColumn = "expr_column"
  def withExprColumn(df: DataFrame, deltaExpr: String): DataFrame =
    df.withColumn(ExprColumn, expr(deltaExpr))
  def dropExprColumn(df: DataFrame): DataFrame = df.drop(ExprColumn)

  /** Derived-partition column name, mirroring the reference's
    * `<col>_<fmt>` / `<col>_range` naming (ingest_mysql_data.py:457-477).
    */
  def partitionColName(spec: PartitionSpec): String =
    if (spec.columnType == PartitionSpec.TimeBased) s"${spec.column}_${spec.format}"
    else s"${spec.column}_range"

  /** The derivation expression for one partition spec:
    * time-based `YYYYMMDD|YYYYMM|YYYY` → `date_format` (reference
    * strftime, ingest_mysql_data.py:457-469); non-time `1M|100K|…` →
    * integer range bucket `floor(col / width)` (reference row-wise apply,
    * ingest_mysql_data.py:471-477 — here a codegen'd expression, not a UDF).
    */
  def partitionColExpr(spec: PartitionSpec): Column = spec.columnType match {
    case PartitionSpec.TimeBased => date_format(col(spec.column), timePattern(spec.format))
    case PartitionSpec.NonTimeBased =>
      floor(col(spec.column) / lit(bucketWidth(spec.format)))
    case other =>
      throw new IllegalArgumentException(s"unsupported partition type: $other")
  }

  /** The datetime pattern of a time-based partition format — the same
    * letters in Spark's `date_format` and `java.time.DateTimeFormatter`.
    */
  def timePattern(format: String): String = format match {
    case "YYYYMMDD" => "yyyyMMdd"
    case "YYYYMM"   => "yyyyMM"
    case "YYYY"     => "yyyy"
    case other => throw new IllegalArgumentException(
      s"unsupported time partition format: $other")
  }

  /** `1M` → 1,000,000; `100K` → 100,000; plain integers pass through. */
  def bucketWidth(format: String): Long = {
    val f = format.trim.toUpperCase
    if (f.endsWith("M")) f.dropRight(1).toLong * 1000000L
    else if (f.endsWith("K")) f.dropRight(1).toLong * 1000L
    else f.toLong
  }

  /** Apply every partition spec in seq order; returns the augmented frame
    * and the derived column names to pass to `partitionBy`.
    */
  def derivePartitions(df: DataFrame, specs: Seq[PartitionSpec]): (DataFrame, Seq[String]) = {
    val ordered = specs.sortBy(_.seqNo)
    val out = ordered.foldLeft(df) { (d, s) =>
      d.withColumn(partitionColName(s), partitionColExpr(s))
    }
    (out, ordered.map(partitionColName))
  }
}
