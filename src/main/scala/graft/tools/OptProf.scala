package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Job/stage-level profile of selected gate queries — answers "is this
  * entry slow because of one big stage or death by a hundred tiny
  * jobs?" before any rewrite (guide §1: measure first). For each named
  * query: runs constructor + noop write twice (first = warm-up), then
  * prints per-job wall clock, task counts, and the constructor/execute
  * split of the SECOND pass.
  * Usage: `runMain graft.tools.OptProf <sfDir> q1,q2,...`
  */
object OptProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").toSeq).getOrElse(Seq("q201_dedup_pr_sweep"))
    val spark = graft.util.LocalSession()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.CopyOnWriteArrayList[(Int, Long, String)]()
    val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long, String)]()
    // atomic: flipped on the driver thread, read on the listener bus
    // (r13 ADVICE — a plain var could drop boundary events)
    val collecting = new java.util.concurrent.atomic.AtomicBoolean(false)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (collecting.get) jobs.put(js.jobId,
          (System.nanoTime(), "stages=" + js.stageIds.mkString(",") + " " +
            Option(js.properties.getProperty("spark.job.description")).getOrElse("")))
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (collecting.get) Option(jobs.get(je.jobId)).foreach { case (t0, d) =>
          done.add((je.jobId, System.nanoTime() - t0, d))
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (collecting.get) stageTasks.put(sc.stageInfo.stageId,
          (sc.stageInfo.numTasks,
            sc.stageInfo.completionTime.getOrElse(0L) - sc.stageInfo.submissionTime.getOrElse(0L),
            (sc.stageInfo.name.take(40) + " | " +
              sc.stageInfo.details.split("\n").drop(1).filter(l =>
                l.contains("graft.") || l.contains("Exchange") ||
                  l.contains("Checkpoint") || l.contains("broadcast") ||
                  l.contains("Subquery"))
                .take(2).map(_.trim).mkString(" <- ")).take(200)))
    })

    names.foreach { name =>
      graft.SparkEntry.entries.find(_.name == name).map(_.build).foreach { fn =>
        // warm pass
        try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        catch { case e: Throwable => println(s"[optprof] $name warm failed: ${e.getMessage}") }
        spark.catalog.clearCache()
        jobs.clear(); done.clear(); stageTasks.clear()
        collecting.set(true)
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        val t2 = System.nanoTime()
        collecting.set(false)
        Thread.sleep(300) // let listener drain
        val jn = done.size()
        val totalJobMs = {
          val it = done.iterator(); var s = 0L
          while (it.hasNext) s += it.next()._2
          s / 1000000L
        }
        println(f"[optprof] $name constructor=${(t1 - t0) / 1e9}%.2f s execute=${(t2 - t1) / 1e9}%.2f s jobs=$jn sum(job wall)=${totalJobMs / 1000.0}%.2f s")
        val arr = new Array[(Int, Long, String)](done.size())
        done.toArray(arr)
        arr.sortBy(-_._2).take(12).foreach { case (id, ns, d) =>
          println(f"[optprof]   job $id%4d ${ns / 1e9}%7.3f s  ${d.take(90)}")
        }
        val tiny = arr.count(_._2 < 100000000L)
        println(s"[optprof]   jobs <100ms: $tiny of $jn")
        if (sys.env.contains("OPTPROF_PLAN"))
          println(df.queryExecution.executedPlan.toString.split("\n")
            .map(_.take(160)).mkString("\n"))
        val st = stageTasks.entrySet().iterator()
        val sarr = scala.collection.mutable.ArrayBuffer[(Int, Int, Long, String)]()
        while (st.hasNext) { val e = st.next(); sarr += ((e.getKey, e.getValue._1, e.getValue._2, e.getValue._3)) }
        sarr.sortBy(-_._3).take(10).foreach { case (sid, nt, ms, d) =>
          println(f"[optprof]   stage $sid%4d ${ms / 1000.0}%7.3f s  tasks=$nt  $d")
        }
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
