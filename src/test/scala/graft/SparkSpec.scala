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
    val sc = spark.sparkContext
    val group = s"jobs-ran-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
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
    (out, n.get)
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
