package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch sessionization: split each key's event stream into sessions at
  * inactivity gaps ≥ `gapUs` — the one batch sessionization rule
  * (EventsStream.sessionWindowsBatch is built on it), and the
  * other classic gaps-and-islands after Scd2's value-change islands:
  * here the island boundary is TIME (a gap), not a value change.
  * Batch sessionization is how clickstream/agent-trajectory corpora get
  * their training episodes cut.
  *
  * Mechanics: lag(ts) over (key ORDER BY ts, tie) → boundary flag
  * (a gap ≥ `gapUs` opens a new session, so an exact-gap successor
  * starts a new one; Spark 4.1's `session_window` would keep it in the
  * session) → running sum of flags = 0-based session index. `tie` must
  * be unique per (key, ts) to pin the order when timestamps collide.
  *
  * 100 TB shape: ONE shuffle on key; both windows and the per-session
  * aggregate ride the same (key) partitioning, so Catalyst plans a
  * single Exchange. Session state never materializes driver-side —
  * unlike the streaming path there is no state store at all; the
  * watermark/latency trade simply doesn't exist in batch.
  */
object Sessionize {

  /** Event-level assignment: input rows + `session_idx` (0-based per
    * key, in (ts, tie) order).
    */
  def assign(events: DataFrame, key: Column, ts: Column, tie: Column,
             gapUs: Long): DataFrame = {
    require(gapUs > 0, s"gapUs must be positive, got $gapUs")
    val order = Window.partitionBy(key).orderBy(ts, tie)
    val run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("__new", when(lag(ts, 1).over(order).isNull, 1L)
        .otherwise(when(ts - lag(ts, 1).over(order) >= gapUs, 1L).otherwise(0L)))
      .withColumn("session_idx", sum(col("__new")).over(run) - 1L)
      .drop("__new")
  }

  /** Per-session rollup: (key, session_idx, session_start, session_end,
    * n_events, plus any caller aggregates in `valueAggs`). `ts` must be
    * an epoch-µs long column (like GapFill) so gap arithmetic is exact.
    */
  def sessions(events: DataFrame, key: Column, ts: Column, tie: Column,
               gapUs: Long, valueAggs: Seq[Column] = Nil): DataFrame = {
    val aggs = Seq(min(ts).as("session_start"), max(ts).as("session_end"),
      count(lit(1)).as("n_events")) ++ valueAggs
    assign(events, key, ts, tie, gapUs)
      .groupBy(key.as("key"), col("session_idx"))
      .agg(aggs.head, aggs.tail: _*)
  }
}
