package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite (spark_guide.md: one lazy session, local mode). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val SfDir = "/root/testdata/sf0.001"

  /** `body`'s result and the number of Spark jobs it ran: it runs under
    * a unique job group, and the listener bus is drained before the
    * count is read, so a job-count claim ("no Spark job per append") is
    * a check.
    */
  def jobsRan[T](body: => T): (T, Int) = {
    val (out, jobs) = jobsSeen(body)
    (out, jobs.size)
  }

  /** [[jobsRan]] with each job's names, in job-id order, so a claim
    * about WHICH jobs a body runs ("no listing job") is a check too.
    */
  def jobsSeen[T](body: => T): (T, Seq[SparkSpec.Job]) = {
    val sc = spark.sparkContext
    val group = s"jobs-ran-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Int, SparkSpec.Job)]()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
        if (prop("spark.jobGroup.id").contains(group))
          seen.add(e.jobId -> SparkSpec.Job(prop("spark.job.description").getOrElse(""),
            e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""),
            prop("spark.sql.execution.id").isDefined))
      }
    }
    sc.addSparkListener(counter)
    sc.setJobGroup(group, "jobsRan")
    val out =
      try body
      finally {
        sc.clearJobGroup()
        org.apache.spark.testbus.Bus.drain(sc)
        sc.removeSparkListener(counter)
      }
    (out, seen.toArray(Array.empty[(Int, SparkSpec.Job)]).toSeq.sortBy(_._1).map(_._2))
  }

  /** The mutating-source fixture of the validation-failure tests: `first`
    * is the one row every counting action sees; `phantom` materializes
    * only while a file-write task consumes the iterator, so an uncached
    * run writes a row its counts never saw and fails validation.
    */
  def phantomSource(first: (Long, String), phantom: (Long, String)) = {
    val unstable = spark.range(1).rdd.mapPartitions { _ =>
      new Iterator[(Long, java.sql.Timestamp)] {
        private var emitted = 0
        // write frames only exist while the sink CONSUMES the iterator —
        // check at hasNext time, not iterator-creation time
        private def consumedByWriter = Thread.currentThread().getStackTrace.exists(f =>
          f.getClassName.contains("FileFormat") || f.getClassName.contains("WriteFiles"))
        override def hasNext: Boolean =
          emitted == 0 || (emitted == 1 && consumedByWriter)
        override def next(): (Long, java.sql.Timestamp) = {
          emitted += 1
          val (id, ts) = if (emitted == 1) first else phantom
          (id, java.sql.Timestamp.valueOf(ts))
        }
      }
    }
    spark.createDataFrame(unstable).toDF("id", "mtime")
  }
}

object SparkSpec {
  /** One job [[SparkSpec.jobsSeen]] saw: the description it ran under
    * (a `JobLabel`, Spark's own "Listing leaf files and directories for
    * N paths: …", or "jobsRan"), the call site of its result stage
    * ("parquet at IngestionRun.scala:83"), and whether it ran inside a
    * SQL execution — the plan-time jobs of a read (listing, schema
    * inference) run outside one.
    */
  final case class Job(description: String, site: String, inSql: Boolean) {
    def isListing: Boolean = description.startsWith("Listing leaf files")
    def isParquetSchema: Boolean = !isListing && !inSql && site.startsWith("parquet at")
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
