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
