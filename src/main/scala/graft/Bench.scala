package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: every SparkEntry query, n repeated passes (default 3),
  * per-query MEDIANS — single-run times at this scale carry ±2 s of
  * suite-order/GC noise (BENCH_r02's "regressions" were exactly that), so
  * one pass is not evidence. Prints ONE JSON line for the driver:
  * `"queries"` = total median per query, `"setup"` = the slice of that
  * spent eagerly inside the query-constructor lambda (fixture builds for
  * the TxTable lifecycle family; the micro-batch run for streaming) so
  * fixture drift is separable from query drift.
  *
  * Failures are NOT silently swallowed into a fast time: a throwing query
  * records no sample for that pass and is listed in `"errors"` — a query
  * that "speeds up" by dying must be visible (round-2 lesson: a staging
  * bug made streaming queries fail fast and look 10× faster).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // every core on the box unless SPARK_GRAFT_CPUS says otherwise: the
    // driver runs this without it and expects local[32]-class parallelism
    val spark = graft.util.LocalSession()
    spark.sparkContext.setLogLevel("WARN")
    // warm-up: run every query once at the smallest SF so the timed passes
    // measure steady-state execution (plans/codegen JIT'd, classes
    // loaded), not one-off JVM warmup — the state a long-lived cluster
    // session actually runs in
    // gate queries + bench-only fast-path twins (timed, never verified);
    // SPARK_GRAFT_BENCH_FILTER narrows to a regex for targeted probes
    // (the 100× scale probe times the top-cost subset, not all 93)
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER").map(_.r)
    val timed = SparkEntry.entries
      .filter(e => filter.forall(_.findFirstIn(e.name).isDefined))
      .map(e => e.name -> e).toMap
    val warmDir = "/root/testdata/sf0.001"
    // the timing action: a noop-sink write forces FULL evaluation of
    // every output column. `count()` let Catalyst prune computed
    // columns wholesale — a projection query's entire payload (e.g. a
    // per-doc quality score) could be optimized away and bench as a
    // bare row count (q112 "ran" in 0.19 s while its z column really
    // cost 45 s at sf0.1 — found when q204, which aggregates z, timed
    // the truth)
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
            dir: String): Unit =
      fn(spark, dir).write.mode("overwrite").format("noop").save()
    if (new java.io.File(warmDir).exists() && warmDir != sfDir)
      timed.values.foreach { e =>
        try run(e.build, warmDir) catch { case _: Throwable => () }
        spark.catalog.clearCache()
      }
    // the multimodal codec family (Kind.Media) JIT-compiles slowly
    // (round 11: sample 1 carried 14 s of compilation on q34, 5.7 s on
    // q134, zero GC — the mapPartitions codec bodies are large and the
    // 500-doc sf0.001 warm pass leaves them interpreted), and under a
    // busy suite the compiler backlog bled into the timed medians
    // (the r10 2.6-6.4 s elevation, code untouched). One extra warm
    // pass at the TARGET sf reaches the compile thresholds before
    // timing; the family synthesizes its bytes from doc ids, so this
    // warms CODE only — no SPARK-cache advantage over other entries.
    // (Honest residual: the pass also touches the documents parquet, so
    // the OS page cache for those files is warm on sample 1 —
    // spark.catalog.clearCache() cannot drop that. The medians over
    // n >= 3 samples dominate the reported numbers, and every other
    // entry's sample 1 warms the same page cache for samples 2+, so
    // the asymmetry is one first-sample read of a table the whole
    // bench re-reads anyway; accepted, r11 ADVICE.)
    timed.values.filter(_.kind == SparkEntry.Kind.Media).foreach { e =>
      try run(e.build, sfDir) catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }
    val names = timed.keys.toSeq.sorted
    val samples = scala.collection.mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    // setup seconds = eager work inside the query-constructor LAMBDA,
    // before the returned plan executes. READER RULE — setup is
    // subtractable ONLY for two families:
    //  - TxTable/lifecycle fixtures (q40/q73/q119/q120/q121/q125/q126/
    //    q154/q161/q193…): multi-commit churn whose round-over-round
    //    drift is NOT query drift (VERDICT r5 #7/r6 #2);
    //  - streaming micro-batch runs (q41/q63/q84/q93/q135/q173/q203/
    //    q224…): the returned plan is a trivial memory-table read, so
    //    query-only cost ≈ setup itself.
    // For ANALYTICS queries, setup IS query work: eager localCheckpoints
    // inside constructors (q111's score table, q103/q137's dedup, q204,
    // q223's KMV sketches, MixPlanner.waterfill, and — round 8 — the
    // whole persist-contract sweep: prefix-join sorted relations,
    // minhash/simhash signatures, bigram-LM streams, the ANN-margin
    // assignment/kNN legs) execute the dominant pipeline during fn();
    // subtracting it there UNDERSTATES the query. "queries" stays the
    // TOTAL median, comparable across rounds.
    val setups = scala.collection.mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    val errors = scala.collection.mutable.Map[String, String]()
    def samplePass(pass: Seq[String]): Unit = for (name <- pass) {
      val t0 = System.nanoTime()
      try {
        val df = timed(name).build(spark, sfDir)
        val t1 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        samples(name) = ((System.nanoTime() - t0) / 1e9) :: samples(name)
        setups(name) = ((t1 - t0) / 1e9) :: setups(name)
      } catch { case e: Throwable =>
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(120)
      }
      // queries may persist intermediates for their own multi-pass
      // internals (q204's labeling feeds ntile's three passes); drop
      // leftovers so the NEXT sample is cold — medians must measure
      // recompute, not a warm cache from sample 1 — and so cached
      // plans don't accumulate across the 200+-query suite
      spark.catalog.clearCache()
    }
    for (_ <- 1 to nRuns) samplePass(names)
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) -1.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // the top-cost entries drift more than real rewrites at n=3 (same
    // build measured 227.7 vs 239.6 s hours apart — VERDICT r7 #7): give
    // every entry whose median exceeds 1 s two extra passes (n=5) and
    // report min/max spread so a reader can tell delta from noise
    val extraRuns = math.max(0, 5 - nRuns)
    val heavy = names.filter(n => samples(n).nonEmpty && median(samples(n)) > 1.0)
    for (_ <- 1 to extraRuns) samplePass(heavy)
    // accounting invariant: every timed query ends the run with either a
    // recorded sample or an explicit error — a query can NEVER vanish from
    // the output (round 5's broken family surfaced only as -1.0 medians;
    // this makes any future accounting hole a loud crash instead)
    val unaccounted = names.filterNot(n => samples(n).nonEmpty || errors.contains(n))
    require(unaccounted.isEmpty,
      s"bench accounting hole: ${unaccounted.mkString(", ")}")
    val med = names.map(n => n -> median(samples(n)))
    val qs = med.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    // setup medians only for queries where setup is non-trivial (>1% of
    // total and >10 ms) — a flat map of ~0 values would be noise
    val setupMed = names.map(n => n -> median(setups(n)))
      .filter { case (n, v) =>
        v > 0.01 && median(samples(n)) > 0 && v / median(samples(n)) > 0.01 }
    val setupJson = setupMed.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // per-entry setup SEMANTICS, machine-readable (the reader rule above
    // as data, VERDICT r8 item 5): each entry's SparkEntry.Kind says
    // whether `queries − setup` is meaningful
    def setupKind(n: String): String = timed(n).kind.setupKind
    val setupKindJson = setupMed.map { case (k, _) =>
      s"\"" + k + "\":\"" + setupKind(k) + "\"" }.mkString("{", ",", "}")
    // [min, max, n] for the n=5 entries — the noise band around each
    // median; a round-over-round delta inside the band is not a result
    val spreadJson = heavy
      .map { n =>
        val s = samples(n).sorted
        "\"" + n + "\":[" + s.head + "," + s.last + "," + s.size + "]"
      }
      .mkString("{", ",", "}")
    val total = med.collect { case (_, v) if v >= 0 => v }.sum
    // full JSON string escape: exception text routinely carries
    // backslashes (regexes, paths) and control chars — one bad escape
    // invalidates the whole result line exactly when errors matter
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""
    val errJson = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => jstr(k) + ":" + jstr(v) }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"setup":$setupJson,"setup_kind":$setupKindJson,"spread":$spreadJson,"sf":"$sfDir","runs":$nRuns,"errors":$errJson}"""
    println(line)
    // also persist the line whole: the driver's log-tail capture truncates
    // (BENCH_r03 lost q01–q15's medians to it) — a file survives intact
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // round-over-round history, APPEND-only (VERDICT r8 item 4: the
    // BENCH_rN artifacts keep only a 2000-char tail, so per-query deltas
    // were not machine-computable across rounds). One compact line per
    // entry per run, keyed by a run id; graft.tools.BenchCompare reads
    // the last two runs and flags deltas that exceed the recorded
    // spread. Skipped for filtered/targeted runs — partial runs would
    // pollute the series with differently-loaded JVMs.
    if (filter.isEmpty) {
      val runId = java.time.Instant.now().toString
      val hist = new StringBuilder
      for (n <- names) {
        val s = samples(n).sorted
        val (lo, hi, cnt) =
          if (s.isEmpty) (-1.0, -1.0, 0) else (s.head, s.last, s.size)
        hist.append(s"""{"run":"$runId","sf":"$sfDir","name":"$n",""" +
          s""""median":${median(samples(n))},"min":$lo,"max":$hi,"n":$cnt,""" +
          s""""setup":${median(setups(n))},"kind":"${setupKind(n)}"}""" + "\n")
      }
      val histPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_HISTORY",
        "bench_history.jsonl")
      try java.nio.file.Files.write(java.nio.file.Paths.get(histPath),
        hist.toString.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not append $histPath: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
