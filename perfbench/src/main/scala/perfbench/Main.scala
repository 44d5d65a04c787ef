package perfbench

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, its inputs and the run's knobs. */
final class Ctx(val spark: SparkSession, val dataDir: String, val workDir: String,
                val seed: Long, val seconds: Double, val parallelism: Int,
                val jdbcPartitions: Int, val trace: Option[LayerTrace]) {
  def tracing: Boolean = trace.isDefined

  /** Measured steps are numbered from 1; a workload's unmeasured steps
    * (the backfill, the oracle pass, the warm-up steps) run outside any
    * step and are never traced. In a traced run steps 1, 2, 3, 4, … alternate
    * traced/idle in the order T U U T, T U U T, …, so a warming trend
    * does not bias the overhead estimate (idle steps run with the
    * listener registered but recording nothing).
    */
  def traceStep(i: Int): Boolean = tracing && i >= 1 && (i % 4 == 0 || i % 4 == 1)

  def step[T](name: String, traced: Boolean)(body: => T): T = trace match {
    case Some(t) => t.step(name, traced)(body)
    case None => body
  }
}

/** One workload in one JVM: `--workload ingest|query --seed N
  * --seconds S --trace 0|1 --data DIR --work DIR --out FILE` (plus
  * `--cores`, `--parallelism`, `--jdbc-partitions`). Each workload runs
  * its first step, then measured steps until `--seconds` have passed and
  * at least its own minimum ran. Writes a JSON result file; `run.py`
  * prints the verdict.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val nproc = Runtime.getRuntime.availableProcessors()
    val cores = args.get("cores").map(_.toInt).getOrElse(nproc)
    val parallelism = args.get("parallelism").map(_.toInt).getOrElse(cores)
    val jdbcParts = args.get("jdbc-partitions").map(_.toInt).getOrElse(cores)
    // the load bound: one process, local[<= nproc], every fan-out <= nproc
    require(cores >= 1 && cores <= nproc, s"cores=$cores must be in 1..$nproc")
    require(parallelism >= 1 && parallelism <= cores,
      s"parallelism=$parallelism must be in 1..$cores")
    require(jdbcParts >= 1 && jdbcParts <= cores,
      s"jdbc-partitions=$jdbcParts must be in 1..$cores")
    val workload = args("workload")
    val work = args("work")
    val spark = Files.phase("session")(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (args.getOrElse("trace", "0") == "1")
      Some(new LayerTrace(spark.sparkContext)) else None
    val ctx = new Ctx(spark, args("data"), work, args("seed").toLong,
      args("seconds").toDouble, parallelism, jdbcParts, trace)
    val out = new Outcome
    val error =
      try {
        workload match {
          case "ingest" => Ingest.run(ctx, out)
          case "query" => Query.run(ctx, out, args("out-dir"))
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        None
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          Some(Option(e.getMessage).getOrElse(e.toString))
      }
    val layer: Map[String, Double] = trace.map { t =>
      val (on, off) = t.stepSpans.partition(_.traced)
      val overhead =
        if (on.isEmpty || off.isEmpty) Double.NaN
        else Stats.median(on.map(s => (s.endMs - s.startMs).toDouble)) /
          Stats.median(off.map(s => (s.endMs - s.startMs).toDouble)) - 1.0
      writeSpans(t, s"$work/trace-spans.json")
      TraceSummary(t) ++ out.layer + ("trace_overhead" -> overhead)
    }.getOrElse(Map.empty)
    val metrics = (m: scala.collection.Map[String, Metric]) => Json.obj(m.toSeq.map {
      case (k, v) => k -> Json.obj(Seq("value" -> Json.num(v.value),
        "unit" -> Json.str(v.unit), "n" -> v.n.toString))
    })
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "error" -> error.map(Json.str).getOrElse("null"),
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "checks" -> out.checks.map(c => Json.obj(Seq("name" -> Json.str(c.name),
        "ok" -> c.ok.toString, "detail" -> Json.str(c.detail)))).mkString("[", ", ", "]"),
      "metrics" -> metrics(out.metrics),
      "named" -> metrics(out.named),
      "samples" -> Json.obj(out.samples.toSeq.map { case (k, xs) =>
        k -> xs.map(Json.num).mkString("[", ", ", "]") }),
      "layer" -> Json.obj(layer.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args("out")), result)
    spark.stop()
  }

  /** The trace's spans, written once at the end of the run. */
  private def writeSpans(t: LayerTrace, path: String): Unit = {
    val steps = t.stepSpans.map(s => Json.obj(Seq("name" -> Json.str(s.name),
      "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
      "traced" -> s.traced.toString)))
    val jobs = t.jobSpans.map(j => Json.obj(Seq("id" -> j.id.toString,
      "layer" -> Json.str(j.layer), "label" -> Json.str(j.label), "site" -> Json.str(j.site),
      "start_ms" -> j.startMs.toString, "end_ms" -> j.endMs.toString)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      Json.obj(Seq("steps" -> steps.mkString("[", ",\n", "]"),
        "jobs" -> jobs.mkString("[", ",\n", "]"))))
  }
}
