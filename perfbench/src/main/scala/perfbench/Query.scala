package perfbench

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** `query`: oracle-gated analytics over the generated tables, closed
  * loop, read-only apart from the entries' own scratch tables.
  *
  * One untimed pass writes every listed entry's result for the DuckDB
  * oracle compare (done by `run.py`); timed passes then run each entry
  * like `graft.Bench` (noop write, cache cleared between entries) in a
  * seed-shuffled order until the time is up, after `WarmPasses` untimed
  * ones (the entries' times still fall for several passes after the
  * first, as the JIT compiles their paths). A pass's typical time is
  * the sum over its entries of each entry's median over the passes, so
  * one slow entry in one pass does not move it; a family's time is the
  * same sum over the family's entries.
  */
object Query {
  /** family → (entry, the layer whose public function the entry calls). */
  val Families: Seq[(String, Seq[String], String)] = Seq(
    ("relational", Seq("q142_profile"), "operators"),
    ("text", Seq("q24_simhash_dedup"), "functions"),
    ("ann", Seq("q156_semdedup"), "functions"),
    ("lake", Seq("q78_time_travel"), "sink"),
    ("stream", Seq("q173_rate_spikes"), "streaming"))
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 5
  /** Untimed passes between the oracle pass and the timed ones. */
  val WarmPasses = 1
  /** Timed passes run even when `--seconds` has passed. */
  val MinPasses = 4

  /** Storage bytes read by tasks while `on` is set. */
  final class BytesRead extends SparkListener {
    val bytes = new AtomicLong(0L)
    val on = new AtomicBoolean(false)
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      if (on.get && te.taskMetrics != null) bytes.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
  }

  /** Runs one entry as `graft.Bench` times it: `build` (with whatever the
    * entry's closure computes eagerly), then `action` on its result, the
    * cache cleared after. `layer` is declared only around `action`, so
    * the jobs the closure issues itself are attributed by their own call
    * sites. Seconds taken, or None when the entry threw.
    */
  def timeEntry(spark: SparkSession, name: String, layer: String, build: => DataFrame)
               (action: DataFrame => Unit): Option[Double] = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    try {
      val df = build
      sc.setLocalProperty(Layers.DeclaredKey, layer)
      try action(df) finally sc.setLocalProperty(Layers.DeclaredKey, null)
      Some(Files.secs(t0))
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: ${Option(e.getMessage).getOrElse(e.toString).take(300)}")
        None
    } finally spark.catalog.clearCache()
  }

  def run(ctx: Ctx, out: Outcome, outDir: String): Unit = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val registry = SparkEntry.queries
    val all = Families.flatMap { case (f, qs, l) => qs.map(q => (f, q, l)) }
    def timeOne(q: String, layer: String)(action: DataFrame => Unit) =
      timeEntry(spark, q, layer, registry(q)(spark, ctx.dataDir))(action)

    // set-up, repeated: open and scan every table the entries read
    val tables = Seq("documents", "embeddings", "orders", "events")
    val setups = Files.phase("setup")((0 until SetupReps).map { _ =>
      val t0 = System.nanoTime()
      tables.foreach(t => graft.sources.Tables.load(spark, ctx.dataDir, t)
        .write.mode("overwrite").format("noop").save())
      Files.secs(t0)
    })
    out.metrics("setup_s") = Metric(Stats.median(setups), "s", setups.size)

    // untimed correctness pass: results for the oracle
    val t0 = System.nanoTime()
    val firstFailed = Files.phase("oracle pass")(all.filter { case (_, q, l) =>
      val ok = timeOne(q, l)(_.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q"))
      !out.attempt(ok.isDefined)
    }.map(_._2))
    val first = Files.secs(t0)
    out.check("oracle pass ran every entry", firstFailed.isEmpty,
      s"${all.size} entries, failed: ${firstFailed.mkString(",")}")
    val oracle = SparkEntry.oracleSql
    val json = all.map(_._2).map(q => s"${Json.str(q)}: ${Json.str(oracle(q))}")
      .mkString("{", ",\n", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), json)

    Files.phase("warm-up")((1 to WarmPasses).foreach(_ => all.foreach { case (_, q, l) =>
      out.attempt(timeOne(q, l)(_.write.mode("overwrite").format("noop").save()).isDefined)
    }))

    // timed passes
    val bytes = new BytesRead
    sc.addSparkListener(bytes)
    val rng = new scala.util.Random(ctx.seed)
    val entryTimes = all.map(_._2 -> mutable.ArrayBuffer[Double]()).toMap
    val passBytes = mutable.ArrayBuffer[Double]()
    val passRates = mutable.ArrayBuffer[Double]()
    var passes = 0
    val m0 = System.nanoTime()
    while (passes < MinPasses || Files.secs(m0) < ctx.seconds) {
      passes += 1
      val order = rng.shuffle(all)
      org.apache.spark.perfbench.Bus.drain(sc)
      bytes.bytes.set(0L); bytes.on.set(true)
      val p0 = System.nanoTime()
      val res = ctx.step(s"pass-$passes", traced = ctx.traceStep(passes)) {
        order.map { case (_, q, l) =>
          q -> timeOne(q, l)(_.write.mode("overwrite").format("noop").save())
        }
      }
      passRates += res.count(_._2.isDefined) / Files.secs(p0)
      org.apache.spark.perfbench.Bus.drain(sc)
      bytes.on.set(false)
      res.foreach { case (q, r) => out.attempt(r.isDefined); r.foreach(entryTimes(q) += _) }
      if (res.forall(_._2.isDefined)) passBytes += bytes.bytes.get.toDouble
    }
    sc.removeSparkListener(bytes)

    val userBytes = tables.map(t => Files.sizeOf(s"${ctx.dataDir}/$t.parquet")).sum
    out.named("query.oracle_pass_s") = Metric(first, "s", 1)
    all.foreach { case (_, q, _) => out.samples(s"query.$q") = entryTimes(q).toSeq }
    if (entryTimes.values.forall(_.nonEmpty)) {
      def typical(qs: Seq[String]) = qs.map(q => Stats.median(entryTimes(q).toSeq)).sum
      out.metrics("step_s.p50") = Metric(typical(all.map(_._2)), "s", passes)
      // entries a pass ran over its time, median over the passes
      out.metrics("units_per_s") = Metric(Stats.median(passRates.toSeq), "1/s", passes)
      out.metrics("bytes_per_user_byte") =
        Metric(Stats.median(passBytes.toSeq) / userBytes, "ratio", passBytes.size)
      Families.foreach { case (f, qs, _) =>
        out.named(s"query.${f}_s") = Metric(typical(qs), "s", passes)
      }
    }
  }
}
