package graft.util

import org.apache.spark.sql.SparkSession

/** The session every graft main runs in: `local[n]` with n shuffle
  * partitions, n = `SPARK_GRAFT_CPUS` or every core on the host, UTC
  * session time, no UI. One sizing rule, so a tool sees the plans, job
  * counts and task counts that Verify and Bench see on the same host.
  */
object LocalSession {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def apply(): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toLong)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
