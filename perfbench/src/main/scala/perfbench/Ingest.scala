package perfbench

import java.sql.{DriverManager, Timestamp}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.driver.{IngestionRun, Orchestrator}
import graft.model.{IngestionSpec, PartitionSpec, RunLog, RunStatus}
import graft.sink.TxTable
import graft.sources.{Incremental, Tables}
import graft.state.{LogProbe, LogStore}

/** `ingest`: a daily multi-table incremental load, closed loop.
  *
  * Four specs per round: `events_tx` (file source → TxTable lake,
  * YYYYMMDD, +1 s watermark), `lineitem_tx` (file source → TxTable lake,
  * YYYYMM, non-inclusive watermark with primary-key dedup), `orders_jdbc`
  * (partitioned JDBC read of in-memory Derby → plain lake) and
  * `events_ref` (plain append+rollback lake, the reference layout). The
  * plain specs run through `Orchestrator.runAll`; the Orchestrator always
  * builds the default (plain) `IngestionRun`, so the two TxTable specs run
  * beside it on the benchmark's own pool with the same per-spec failure
  * containment. Round 0 backfills the first half of every source's delta
  * range (with the latest-row views); each later round advances every
  * source by one of `Slices` equal slices of the second half; the first
  * `WarmRounds` of them are not measured. The run
  * log is compacted inside every incremental round, so traced and idle
  * rounds of a traced run (see [[Ctx.traceStep]]) do the same work.
  */
object Ingest {
  val Slices = 400
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3
  /** Incremental rounds run after the backfill and before the measured
    * ones, neither timed nor traced: a JVM's first incremental rounds
    * run 10–25% slower while the JIT compiles the incremental path.
    */
  val WarmRounds = 1
  /** Measured rounds run even when `--seconds` has passed; 4 is one
    * whole T U U T group of a traced run (see [[Ctx.traceStep]]).
    */
  val MinRounds = 4
  private val TimeBased = PartitionSpec.TimeBased

  final case class Src(spec: IngestionSpec, tx: Boolean, inclusive: Boolean,
                       table: String, delta: String, cents: String)

  private def spec(id: Long, name: String, delta: String, pk: String, fmt: String,
                   view: Int) =
    IngestionSpec(id, "table", "bench", "bench", name, delta, "", 0, 1, "fs", "",
      pk, "bench", s"${name}_lv", view, Seq(PartitionSpec(1, TimeBased, delta, fmt)), "bench")

  val Sources: Seq[Src] = Seq(
    Src(spec(1L, "events_tx", "ts", "event_id", "YYYYMMDD", 1), tx = true,
      inclusive = true, "events", "ts", "value"),
    Src(spec(2L, "lineitem_tx", "l_shipdate", "l_orderkey,l_linenumber", "YYYYMM", 1),
      tx = true, inclusive = false, "lineitem", "l_shipdate", "l_extendedprice"),
    Src(spec(3L, "orders_jdbc", "O_ORDERDATE", "O_ORDERKEY", "YYYYMM", 0), tx = false,
      inclusive = true, "orders", "o_orderdate", "o_totalprice"),
    Src(spec(4L, "events_ref", "ts", "event_id", "YYYYMMDD", 0), tx = false,
      inclusive = true, "events", "ts", "value"))

  private val TsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private def fmt(sec: Long): String =
    java.time.LocalDateTime.ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC).format(TsFormat)

  private def epoch(c: String) = unix_seconds(col(c).cast("timestamp"))

  /** A source table's ground truth, computed straight from the generated
    * parquet, not through the lake: the per-round cut-offs — cut(0) ends
    * the backfill at the middle of the delta range, cut(r) ends round r —
    * and the rows and integer cents first visible in each round (delta in
    * [cut(r-1), cut(r)); round 0: delta < cut(0)).
    */
  final class Truth(val cuts: IndexedSeq[Long], val newRows: IndexedSeq[Long],
                    newCents: IndexedSeq[Long]) {
    def rowsUpTo(r: Int): Long = newRows.take(r + 1).sum
    def centsUpTo(r: Int): Long = newCents.take(r + 1).sum
  }

  /** The round whose slice holds a row with delta at epoch second `e`. */
  def roundOf(cuts: Array[Long], e: Long): Int = {
    val i = java.util.Arrays.binarySearch(cuts, e + 1)
    if (i >= 0) i else -i - 1
  }

  def truth(spark: SparkSession, data: String, s: Src): Truth = {
    val src = Tables.load(spark, data, s.table)
      .select(epoch(s.delta).as("e"), round(col(s.cents) * 100).cast("long").as("c"))
    val b = src.agg(min(col("e")), max(col("e"))).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val half = lo + (hi - lo) / 2
    val cuts = (0 to Slices).map(i => half + ((hi + 1 - half) * i) / Slices).toArray
    val bucket = udf((e: Long) => roundOf(cuts, e))
    val per = src.groupBy(bucket(col("e"))).agg(count(lit(1)), sum(col("c"))).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    def at(i: Int) = per.getOrElse(i, (0L, 0L))
    new Truth(cuts.toIndexedSeq, (0 to Slices).map(at(_)._1), (0 to Slices).map(at(_)._2))
  }

  /** Distinct primary keys among a source's rows before `cut`, counted
    * straight from the generated parquet.
    */
  def keysBefore(spark: SparkSession, data: String, s: Src, cut: Column): Long =
    Tables.load(spark, data, s.table).filter(col(s.delta) < cut)
      .select(s.spec.primaryKeyCols.map(k => col(k.toLowerCase)): _*).distinct().count()

  /** Derby holding the `orders` source; rows are inserted up to a cut. */
  final class Derby(name: String, orders: Array[(Long, Long, String, Double, Long, String)]) {
    val url = s"jdbc:derby:memory:$name;create=true"
    private val conn = DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE APP.ORDERS (O_ORDERKEY BIGINT NOT NULL PRIMARY KEY, O_CUSTKEY BIGINT, " +
        "O_ORDERSTATUS VARCHAR(1), O_TOTALPRICE DOUBLE, O_ORDERDATE TIMESTAMP, " +
        "O_ORDERPRIORITY VARCHAR(20))")
    private var loadedTo = Long.MinValue
    var maxKey = 0L

    /** Insert every row with loadedTo <= date < cut. */
    def loadUntil(cut: Long): Unit = {
      val ps = conn.prepareStatement("INSERT INTO APP.ORDERS VALUES (?, ?, ?, ?, ?, ?)")
      orders.iterator.filter(o => o._5 >= loadedTo && o._5 < cut).foreach { o =>
        ps.setLong(1, o._1); ps.setLong(2, o._2); ps.setString(3, o._3)
        ps.setDouble(4, o._4); ps.setTimestamp(5, new Timestamp(o._5 * 1000L))
        ps.setString(6, o._6); ps.addBatch()
        maxKey = math.max(maxKey, o._1)
      }
      ps.executeBatch(); ps.close()
      loadedTo = cut
    }

    def close(): Unit = {
      conn.close()
      Try(DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true"))
    }
  }

  /** Everything one set-up produces. */
  final class State(val root: String, val derby: Derby, spark: SparkSession,
                    parallelism: Int) {
    val logs = new LogStore(spark, s"$root/logs")
    val orch = new Orchestrator(spark, s"$root/lake", logs,
      parallelism = math.max(1, parallelism - parallelism / 2))
    val txRun = new IngestionRun(spark, s"$root/lake", logs, txLake = true)
    val txRunNonIncl = new IngestionRun(spark, s"$root/lake", logs,
      inclusiveBump = false, txLake = true)
    def lake(s: Src) = s"$root/lake/${s.spec.databasename}/${s.spec.tablename}"
  }

  /** `f` over `xs` on up to `n` threads, results in the order of `xs`:
    * for the unmeasured phases (ground truth, checks), whose jobs are
    * independent and each too small to fill the cores.
    */
  def parMap[A, B](n: Int, xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(n, xs.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(xs.map(x => Future(f(x)))), Duration.Inf)
    finally pool.shutdown()
  }

  /** One incremental round: every spec runs once against its source
    * frame; a spec whose run throws logs `extraction-failure` (the
    * Orchestrator's containment rule) instead of failing the round.
    */
  def runRound(spark: SparkSession, st: State, parallelism: Int,
            sourceFor: Src => DataFrame, specs: Seq[Src] = Sources): Map[Long, String] = {
    val (tx, plain) = specs.partition(_.tx)
    def runTx(s: Src): (Long, String) = {
      val run = if (s.inclusive) st.txRun else st.txRunNonIncl
      Try(run.run(s.spec, sourceFor(s))) match {
        case Success(logs) => s.spec.lakeIngestionId -> logs.last.executionStatus
        case Failure(e) =>
          st.logs.append(Seq(RunLog(s.spec.lakeIngestionId, RunStatus.ExtractionFailure,
            "", "", 0L, 0L, s"exception-occured: ${e.getMessage}", LogStore.now())))
          s.spec.lakeIngestionId -> RunStatus.ExtractionFailure
      }
    }
    val bySpec = specs.map(s => s.spec -> s).toMap
    def plainRun(): Map[Long, String] =
      if (plain.isEmpty) Map.empty
      else st.orch.runAll(plain.map(_.spec), sp => sourceFor(bySpec(sp)))
    if (parallelism < 2) tx.map(runTx).toMap ++ plainRun()
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, parallelism / 2))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val txF = Future.sequence(tx.map(s => Future(runTx(s))))
        val p = plainRun()
        Await.result(txF, Duration.Inf).toMap ++ p
      } finally pool.shutdown()
    }
  }

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val data = ctx.dataDir
    val truths = Files.phase("truth") {
      parMap(ctx.parallelism, Sources.map(s => s.table -> s).toMap.toSeq) { case (t, s) =>
        t -> truth(spark, data, s)
      }.toMap
    }
    def cut(t: String, r: Int) = lit(fmt(truths(t).cuts(r))).cast("timestamp")
    val orders = Files.phase("orders") {
      Tables.load(spark, data, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), epoch("o_orderdate"), col("o_orderpriority"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
          r.getLong(4), r.getString(5)))
    }
    val ordersCuts = truths("orders").cuts

    // set-up, repeated: Derby schema + backfill rows, source warm reads,
    // fresh lake / log stores
    var st: State = null
    val setups = Files.phase("setup")((0 until SetupReps).map { i =>
      val t0 = System.nanoTime()
      if (st != null) st.derby.close()
      val derby = new Derby(s"bench_ingest_$i", orders)
      derby.loadUntil(ordersCuts(0))
      Seq("events", "lineitem").foreach(t => Tables.load(spark, data, t).count())
      st = new State(s"${ctx.workDir}/ingest-$i", derby, spark, ctx.parallelism)
      Files.secs(t0)
    })
    out.metrics("setup_s") = Metric(Stats.median(setups), "s", setups.size)

    val state = st
    val jdbcDriver = "org.apache.derby.jdbc.EmbeddedDriver"
    def sourceFor(round: Int)(s: Src): DataFrame = s.table match {
      case "orders" =>
        val where = Incremental.pushdownWhere("O_ORDERDATE", "1900-01-01 00:00:00", None,
          (v: String) => s"TIMESTAMP('$v')")
        val opts = Incremental.jdbcOptions(state.derby.url, "APP", "ORDERS",
          Seq("O_ORDERKEY", "O_CUSTKEY", "O_ORDERSTATUS", "O_TOTALPRICE", "O_ORDERDATE",
            "O_ORDERPRIORITY"), where, "O_ORDERKEY", "0", (state.derby.maxKey + 1).toString,
          numPartitions = ctx.jdbcPartitions) + ("driver" -> jdbcDriver)
        Incremental.readJdbc(spark, opts)
      case t => Tables.load(spark, data, t).filter(col(s.delta) < cut(t, round))
    }

    val statuses = scala.collection.mutable.ArrayBuffer[(Int, Src, String)]()
    /** Runs round `r`; `step` is its number among the measured rounds
      * (from 1), or 0 for the backfill and the warm-up rounds, which are
      * never traced.
      */
    def doRound(r: Int, step: Int): Double = {
      state.derby.loadUntil(ordersCuts(r))
      def body() = {
        val res = runRound(spark, state, ctx.parallelism, sourceFor(r))
        if (r > 0) state.logs.compact()
        res
      }
      val t0 = System.nanoTime()
      // the backfill is the bytes-bound contrast: never traced, so the
      // per-layer figures describe measured incremental rounds only
      val res = if (step == 0) body() else ctx.step(s"round-$r", ctx.traceStep(step))(body())
      val secs = Files.secs(t0)
      Sources.foreach(s => statuses += ((r, s, res.getOrElse(s.spec.lakeIngestionId, "missing"))))
      secs
    }

    val backfill = Files.phase("backfill")(doRound(0, 0))
    // the latest-row views exist only after round 0 (first-time runs)
    val viewChecks = Files.phase("views")(parMap(ctx.parallelism,
      Sources.filter(_.spec.viewNeeded == 1)) { s =>
      val got = Try(spark.table(s.spec.viewName).count()).getOrElse(-1L)
      Checks.viewCount(s.spec.tablename, got, keysBefore(spark, data, s, cut(s.table, 0)))
    })
    Files.phase("warm-up")((1 to WarmRounds).foreach(doRound(_, 0)))
    val firstMeasured = WarmRounds + 1
    val rounds = scala.collection.mutable.ArrayBuffer[Double]()
    val probes = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    val t0 = System.nanoTime()
    var r = firstMeasured
    Files.phase("rounds") {
      while (r <= Slices && (rounds.size < MinRounds || Files.secs(t0) < ctx.seconds)) {
        rounds += doRound(r, rounds.size + 1)
        if (ctx.tracing) probes += probe(spark, state)
        r += 1
      }
    }
    val lastRound = r - 1

    // correctness, against the sources' own rows, not the lake
    statuses.foreach { case (rd, s, status) =>
      val c = Checks.status(s"round $rd ${s.spec.tablename}", status,
        truths(s.table).newRows(rd) > 0)
      if (!out.attempt(c.ok)) out.check(c)
    }
    out.check("statuses", statuses.forall { case (rd, s, st) =>
      Checks.status("", st, truths(s.table).newRows(rd) > 0).ok }, s"${statuses.size} spec-runs")
    viewChecks.foreach(out.check)
    Files.phase("lake checks")(parMap(ctx.parallelism, Sources) { s =>
      val lakeDf =
        if (s.tx) TxTable.read(spark, state.lake(s))
        else spark.read.parquet(state.lake(s))
      val cents = lakeDf.columns.find(_.equalsIgnoreCase(s.cents)).get
      val lake = lakeDf.agg(count(lit(1)), coalesce(sum(round(col(cents) * 100).cast("long")),
        lit(0L))).head()
      val tr = truths(s.table)
      Checks.lake(s.spec.tablename, lake.getLong(0), lake.getLong(1),
        tr.rowsUpTo(lastRound), tr.centsUpTo(lastRound))
    }).foreach(out.check)

    // bytes: lake + commit logs + run log vs the ingested rows written
    // once as one snappy parquet file per spec
    val userDir = s"${ctx.workDir}/ingest-user"
    Files.phase("user bytes")(parMap(ctx.parallelism, Sources) { s =>
      Tables.load(spark, data, s.table).filter(col(s.delta) < cut(s.table, lastRound))
        .coalesce(1).write.option("compression", "snappy")
        .parquet(s"$userDir/${s.spec.tablename}")
    })
    val lakeBytes = Files.sizeOf(s"${state.root}/lake") + Files.sizeOf(s"${state.root}/logs")
    val userBytes = Files.sizeOf(userDir)
    val measured = firstMeasured to lastRound
    val roundRows = measured.map(rd => Sources.map(s => truths(s.table).newRows(rd)).sum)
    val rowsCommitted = roundRows.sum
    val runTotal = rounds.sum

    out.metrics("step_s.p50") = Metric(Stats.median(rounds.toSeq), "s", rounds.size)
    // a round's rows over its time, median over the measured rounds
    out.metrics("units_per_s") = Metric(
      Stats.median(roundRows.zip(rounds).map { case (n, t) => n / t }), "1/s", rounds.size)
    out.metrics("bytes_per_user_byte") = Metric(lakeBytes.toDouble / userBytes, "ratio", 1)
    out.named("ingest.backfill_s") = Metric(backfill, "s", 1)
    out.named("ingest.run_s.p50") = out.metrics("step_s.p50")
    Stats.percentile(rounds.toSeq, 0.9).foreach(v =>
      out.named("ingest.run_s.p90") = Metric(v, "s", rounds.size))
    out.named("ingest.rows_per_s") = Metric(rowsCommitted / runTotal, "rows/s", rounds.size)
    out.named("ingest.bytes_per_user_byte") = out.metrics("bytes_per_user_byte")
    out.samples("ingest.run_s") = rounds.toSeq
    probes.lastOption.foreach(p => p.foreach { case (k, v) => out.layer(k) = v })
    state.derby.close()
  }

  /** Between-round probes (outside the round timer). */
  private def probe(spark: SparkSession, st: State): Map[String, Double] = {
    val t0 = System.nanoTime()
    st.logs.readRows()
    val recover = Files.secs(t0)
    val files = LogProbe.visibleFileCount(spark, s"${st.root}/logs")
    val txLakes = Sources.filter(_.tx).map(st.lake)
    val t1 = System.nanoTime()
    txLakes.foreach(l => TxTable.currentFilesWithStats(spark, l))
    val plan = Files.secs(t1)
    val opens = txLakes.map(logOpens).sum
    Map("state.recover_s" -> recover, "state.log_files" -> files.toDouble,
      "sink.plan_s" -> plan, "sink.log_opens" -> opens.toDouble)
  }

  /** 1 + commits since the last checkpoint of a TxTable's log. */
  def logOpens(table: String): Int = {
    val names = Option(new java.io.File(s"$table/_graft_txn").list()).toSeq.flatten
    def versions(suffix: String) = names.filter(_.endsWith(suffix))
      .flatMap(n => Try(n.stripSuffix(suffix).toLong).toOption)
    val ckpt = (0L +: versions(".ckpt")).max
    1 + versions(".json").count(_ > ckpt)
  }
}
