package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for each left row, attach the payload of the latest right
  * row with the same key and a strictly earlier timestamp.
  *
  * Composed from built-ins (preference (a) of the custom-operator
  * ladder): tag both sides, union, and take `last_value(payload) IGNORE
  * NULLS` over (key, time, tag) ordering — ONE shuffle + sort per key,
  * identical cost shape to a sort-merge join, no custom SparkPlan
  * needed. Right rows at exactly the left timestamp sort after the left
  * row (tag ordering), which encodes the strict `<` match; right-side
  * timestamp ties resolve to the largest `tieBreak`.
  *
  * Scale: the union shuffles each side once on the key; state per
  * partition is one running payload — no per-key buffering. Skewed keys
  * behave like any windowed aggregate under AQE.
  */
object AsofJoin {

  def asofPrior(left: DataFrame, right: DataFrame, keys: Seq[String],
                leftTime: String, rightTime: String,
                payload: Seq[String], tieBreak: Option[String] = None): DataFrame = {
    val leftCols = left.columns.toSeq
    val pay = struct(payload.map(col): _*)

    val taggedRight = right.select(
      keys.map(col) ++ Seq(
        col(rightTime).as("__t"),
        lit(1).as("__tag"),
        (tieBreak.map(col).getOrElse(lit(0L))).cast("long").as("__tie"),
        pay.as("__pay")) ++
        leftCols.filterNot(keys.contains).map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)

    val taggedLeft = left.select(
      keys.map(col) ++ Seq(
        col(leftTime).as("__t"),
        lit(0).as("__tag"),
        lit(0L).as("__tie"),
        lit(null).cast(taggedRight.schema("__pay").dataType).as("__pay")) ++
        leftCols.filterNot(keys.contains).map(col): _*)

    // tag asc: at equal timestamps the left row sorts BEFORE right rows,
    // so its running-last frame excludes them — that's the strict `<`
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t").asc, col("__tag").asc, col("__tie").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    taggedLeft.unionByName(taggedRight)
      .withColumn("__asof", last(col("__pay"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 0)
      .select(leftCols.map(col) :+ col("__asof"): _*)
  }
}
