package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming re-expression of the reference's micro-batch
  * incremental semantics (SURVEY.md §2.10): the persisted-watermark +
  * `delta >= start` protocol becomes `readStream` + `withWatermark` +
  * checkpointed offsets, and the day-window BETWEEN loop becomes real
  * event-time tumbling windows.
  *
  * Everything here works identically under `spark.read` (batch) and
  * `spark.readStream` — the transforms take a plain DataFrame, so tests
  * drive them with the file-stream source and `processAllAvailable()`.
  */
object EventsStream {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)

  final case class UserSession(user_id: Long, session_start: Timestamp,
                               session_end: Timestamp, n_events: Long)

  private final case class SessionState(start: Long, last: Long, n: Long)

  /** File-stream source over an events parquet directory. Handles the
    * ns-precision timestamp the same way Tables.load does (nanos → long
    * → µs truncation), because the streaming reader rejects
    * TIMESTAMP(NANOS) identically.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    // raw testdata carries either TIMESTAMP(NANOS) (read back as nano
    // longs) or µs TIMESTAMP_NTZ (isAdjustedToUTC=false); normalize both
    // to an instant TIMESTAMP so watermarks/unix_micros work. The NTZ
    // cast is value-identical under the session's UTC zone.
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        stream.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        stream.withColumn("ts", col("ts").cast("timestamp"))
      case _ => stream
    }
  }

  /** Tumbling event-time window aggregation with a late-data watermark —
    * the principled version of the reference's strictly-`>= watermark`
    * scan that silently drops regressed rows (SURVEY.md §2.10 "late
    * data"). Counts and integer-cents sums only: deterministic under
    * any partition/arrival order.
    */
  def hourlyTypeCounts(events: DataFrame, lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("value_cents"))

  /** Stream-STREAM interval self-join: each purchase event joins the
    * same user's click events from the preceding `windowHours` hours —
    * the classic attribution query. Both sides carry watermarks, so the
    * join state evicts clicks older than `windowHours + lateness` and
    * purchases older than `lateness`: state is bounded by event RATE ×
    * window, never by stream length. Inner joins emit eagerly (the
    * watermark bounds state, not emission).
    *
    * Completeness contract (what makes a finite drain equal the batch
    * oracle, q84): rows arriving in a LATER micro-batch with event time
    * more than `lateness` behind the watermark are evicted-before-joined
    * — exactly the late-data drop streaming semantics prescribe. The
    * drain is therefore exhaustive iff cross-micro-batch event-time
    * disorder stays within `lateness`. The gate fixture satisfies this
    * trivially (staged files fit one AvailableNow micro-batch, well
    * under the file source's default maxFilesPerTrigger=1000); for
    * multi-batch replays of unsorted history, raise `lateness` to cover
    * the staging disorder or pin maxFilesPerTrigger above the file
    * count.
    */
  def purchaseAttribution(events: DataFrame, windowHours: Int = 24,
                          lateness: String = "30 minutes",
                          joinType: String = "inner"): DataFrame =
    attributionJoin(events, windowHours, lateness, joinType)
      .select(col("purchase_id"), col("click_id"))

  private def attributionJoin(events: DataFrame, windowHours: Int,
                              lateness: String, joinType: String): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", lateness)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", lateness)
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowHours HOURS") &&
        col("c_ts") <= col("p_ts"), joinType)
  }

  /** [[purchaseAttributionLeftOuter]] keeping the purchase's event time
    * in the output: a consumer that needs the null rows to be COMPLETE
    * (not just correct) filters the drain to purchases safely older
    * than the final watermark — `p_ts < max_ts − lateness − margin` —
    * where eviction has provably fired; p_ts is what makes that filter
    * expressible downstream (q203's gate applies it at 45 min).
    */
  def purchaseAttributionLeftOuterTs(events: DataFrame, windowHours: Int = 24,
                                     lateness: String = "30 minutes"): DataFrame =
    attributionJoin(events, windowHours, lateness, joinType = "left_outer")
      .select(col("purchase_id"), col("click_id"), col("p_ts"))

  /** LEFT OUTER form of [[purchaseAttribution]]: unattributed purchases
    * emit (purchase_id, NULL) — but only once the watermark passes the
    * purchase's own eviction point (clicks up to `p_ts` could still
    * match, so state holds until watermark > p_ts + lateness). The tail
    * of the stream younger than the final watermark therefore never
    * null-emits in a finite drain — the outer join's completeness is
    * watermark-bounded BY DESIGN, which is exactly what bounds its
    * state at 100 TB (an unconditional outer emit would require holding
    * every unmatched row forever).
    */
  def purchaseAttributionLeftOuter(events: DataFrame, windowHours: Int = 24,
                                   lateness: String = "30 minutes"): DataFrame =
    purchaseAttribution(events, windowHours, lateness, joinType = "left_outer")

  /** Per-user event-time sessionization via mapGroupsWithState: a session
    * closes after MORE than `gapMinutes` of event-time silence — Spark's
    * `session_window` rule, under which an exact-gap successor stays in
    * the session (the batch [[sessionWindowsBatch]] splits it). State is
    * one small struct per user — the scale limit is live keys, not events.
    * Emits the *current* session per user each batch (Update mode).
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, UserSession](GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(
            SessionState(sorted.head.ts.getTime, sorted.head.ts.getTime, 0L))
          sorted.foreach { e =>
            val t = e.ts.getTime
            st = if (t - st.last > gapMs) SessionState(t, t, 1L)
                 else st.copy(last = math.max(st.last, t), n = st.n + 1)
          }
          state.update(st)
          UserSession(userId, new Timestamp(st.start), new Timestamp(st.last), st.n)
      }
  }

  final case class RateSpike(user_id: Long, hour_start: Timestamp,
                             n: Long, prev_n: Long)

  private final case class RateState(bucket: Long, n: Long, prevN: Long)

  /** Stateful per-user rate-spike detection via flatMapGroupsWithState:
    * events fold into hourly event-time buckets in (ts, event_id) order;
    * when a bucket CLOSES (the user's next event lands in a later hour)
    * its count compares against the previously closed bucket, and
    * `n > factor · prev_n` emits an anomaly row. State per user is one
    * 3-long struct — the scale limit is live users, not events. A
    * user's final bucket never closes inside the stream, so it never
    * emits (the watermark-style completeness bound); the batch replay
    * oracle drops each user's last bucket for exactly that reason.
    */
  def rateSpikes(events: Dataset[Event], factor: Long = 3L): Dataset[RateSpike] = {
    import events.sparkSession.implicits._
    val hourMs = 3600000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RateState, RateSpike](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[RateState]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer[RateSpike]()
          var st = state.getOption.orNull
          sorted.foreach { e =>
            val b = Math.floorDiv(e.ts.getTime, hourMs)
            st = st match {
              case null => RateState(b, 1L, 0L)
              case RateState(bb, n, _) if bb == b => RateState(b, n + 1, st.prevN)
              case RateState(bb, n, _) =>
                // bucket bb closed with count n: spike-check it, then it
                // becomes the new "previously closed" reference
                if (st.prevN > 0L && n > factor * st.prevN)
                  out += RateSpike(userId, new Timestamp(bb * hourMs), n, st.prevN)
                RateState(b, 1L, n)
            }
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  /** Batch-mode session windows over data at rest, built on
    * [[graft.operators.Sessionize]] (one shuffle on user): a gap of
    * `gapMinutes` or more between consecutive events opens a new
    * session. Output columns follow `session_window`'s shape —
    * `session_end` = last event + gap — but NOT its boundary rule: on
    * Spark 4.1 `session_window` keeps two events exactly `gap` apart in
    * one session. Null timestamps are dropped, as `session_window` does.
    */
  def sessionWindowsBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val us = events.filter(col("ts").isNotNull)
      .withColumn("__us", unix_micros(col("ts")))
    // equal timestamps are 0 apart, so their order cannot move a
    // boundary: ts itself is a sufficient tie-breaker
    graft.operators.Sessionize.sessions(us, col("user_id"), col("__us"), col("__us"), gapUs)
      .select(col("key").as("user_id"),
        timestamp_micros(col("session_start")).as("session_start"),
        timestamp_micros(col("session_end") + gapUs).as("session_end"),
        col("n_events"))
  }

  /** Stream → foreachBatch → latest-row upsert into a parquet target:
    * the micro-batch MERGE pattern (each batch folds into the target,
    * keeping the newest row per key) — the streaming form of the
    * reference's append-then-latest-view lifecycle
    * (start_ingestion.py:333-384), with the view materialized instead of
    * recomputed per query. Batches are tiny relative to the target, so
    * the rewrite cost is the target scan; on a real lake use a
    * transactional MERGE (Delta/Iceberg) instead of the tmp+swap.
    */
  def runForeachBatchUpsert(spark: SparkSession, dir: String, targetPath: String,
                            keys: Seq[String], orderCols: Seq[String]): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val q = readEvents(spark, dir).writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val target = new org.apache.hadoop.fs.Path(targetPath)
        val oldP = new org.apache.hadoop.fs.Path(targetPath + ".graft-old")
        // crash recovery: a crash between the demote rename (target →
        // .graft-old) and the promote leaves the data orphaned at
        // .graft-old with no target. Restore it before merging so the
        // "never a window with NO usable target" guarantee holds across
        // process deaths, not just within a batch.
        if (!fs.exists(target) && fs.exists(oldP) && !fs.rename(oldP, target))
          throw new java.io.IOException(s"upsert: cannot restore $oldP to $target")
        val existing =
          if (fs.exists(target)) spark.read.parquet(targetPath)
          else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], batch.schema)
        val merged = graft.operators.LatestRowView.latestPerKey(
          existing.unionByName(batch.toDF()), keys,
          orderCols.map(org.apache.spark.sql.functions.col))
        val tmp = new org.apache.hadoop.fs.Path(targetPath + ".graft-tmp")
        val old = oldP
        merged.write.mode("overwrite").parquet(tmp.toString)
        // never a window with NO target on disk: demote current, promote
        // tmp, then drop the demoted copy — and verify every rename (a
        // false return, e.g. cross-filesystem, must fail the batch loudly,
        // not silently lose the target)
        fs.delete(old, true)
        if (fs.exists(target) && !fs.rename(target, old))
          throw new java.io.IOException(s"upsert: cannot demote $target")
        if (!fs.rename(tmp, target)) {
          if (fs.exists(old)) fs.rename(old, target) // restore
          throw new java.io.IOException(s"upsert: cannot promote $tmp to $target")
        }
        fs.delete(old, true)
        ()
      }
      .start()
    try { q.processAllAvailable() } finally q.stop()
  }

  /** TxTable-backed streaming upsert: each micro-batch folds into the
    * target through ONE atomic commit (stage merged files, rename the
    * commit JSON). The demote/promote rename windows of
    * [[runForeachBatchUpsert]] do not exist here — a crash at any point
    * leaves the previous committed version readable, and the next run's
    * batch re-merge converges (same at-least-once + latest-row contract).
    * This is the at-scale shape the rename variant's scaladoc promises
    * ("use a transactional MERGE on a real lake") — provided in-engine.
    */
  def runForeachBatchUpsertTx(spark: SparkSession, dir: String, tablePath: String,
                              keys: Seq[String], orderCols: Seq[String]): Unit = {
    val q = readEvents(spark, dir).writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val existing = graft.sink.TxTable.read(spark, tablePath)
        val base =
          if (existing.columns.isEmpty) batch.toDF()
          else existing.unionByName(batch.toDF())
        val merged = graft.operators.LatestRowView.latestPerKey(
          base, keys, orderCols.map(org.apache.spark.sql.functions.col))
        graft.sink.TxTable.overwrite(spark, merged, tablePath)
        ()
      }
      .start()
    try { q.processAllAvailable() } finally q.stop()
  }

  /** Streaming-native near-dedup against the committed lake: each
    * micro-batch of documents computes portable 60-bit simhashes
    * (Dedup.simhash60Agg — the q24 pipeline), generates candidates
    * against BOTH the committed signature table and its own batch-mates
    * through the same 4-block banded join (Dedup.simhashLosersAgainst),
    * and tx-appends (doc_id, sim, kept) in ONE atomic TxTable commit per
    * micro-batch — closing the loop between the streaming spine and the
    * batch dedup family.
    *
    * Equivalence contract (what makes the incremental result equal
    * one-shot batch dedup, q93): "B loses iff some A < B is within
    * maxHamming" — the batch rule — holds incrementally when ids arrive
    * monotonically across micro-batches (ids assigned at ingest time do
    * this naturally): at B's batch, every A < B is either already in the
    * signature table or a batch-mate. The table keeps ALL seen
    * signatures, kept flag included, precisely because the batch rule
    * drops B on a pair with A even when A itself lost earlier.
    *
    * 100 TB shape: per batch the corpus contributes only its signature
    * table (8 B/doc + id) through the banded equi-join probe-side
    * restricted to the batch; the text corpus is never rescanned and
    * nothing is O(corpus²). At scale, partition the signature table by
    * block bucket so the probe prunes files at rest.
    */
  /** Structured Streaming maintainer for the at-rest IVFADC index —
    * the wiring [[graft.functions.AnnIndex.appendOnce]]'s scaladoc
    * documents, driven end to end: each micro-batch of new vectors is
    * encoded with the index's FROZEN quantizers and appended as one
    * writer-txn commit keyed by the micro-batch id. foreachBatch is
    * at-least-once; the idempotent sink makes the index EXACTLY-ONCE
    * under both failure shapes:
    *  - restart with the same durable `checkpointDir` resumes at the
    *    next unprocessed file (at most the in-flight batch replays, and
    *    its (appId, batchId) skips);
    *  - crash-replay from a fresh checkpoint re-presents every batch id
    *    — every one skips (AnnIndexStreamSpec kills and restarts the
    *    query around both shapes).
    */
  def runAnnIndexMaintainer(spark: SparkSession, stagingDir: String,
                            schema: org.apache.spark.sql.types.StructType,
                            indexTable: String, checkpointDir: String,
                            appId: String = "ann-maintainer",
                            maxFilesPerList: Double = 3.0): Unit = {
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stagingDir)
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        graft.functions.AnnIndex.appendOnce(spark, batch.toDF(), indexTable,
          appId, batchId)
        // the append-churn cadence (SCALE.md round 10) as part of the
        // maintainer loop, not an operator chore: each append adds up to
        // one file per touched list, and the churn probe showed search
        // cost growing linearly in appends-since-compaction — so the
        // maintainer compacts whenever the commit-log-only ratio check
        // trips (idempotent; a replayed batch skips the append but the
        // ratio check re-runs harmlessly). Compaction is its own
        // conflict-checked commit AFTER the append's, so a crash
        // between them just leaves the ratio to the next batch.
        graft.functions.AnnIndex.compactIfNeeded(spark, indexTable,
          maxFilesPerList = maxFilesPerList)
        logDriftSignal(spark, indexTable, appId, batchId)
        ()
      }
      .start()
    try { q.processAllAvailable() } finally q.stop()
  }

  /** Surface the sustained-drift rebuild signal from the maintainer
    * loop (r11 verdict item 3: the rule was a doc comment; now each
    * batch folds [[graft.functions.AnnIndex.driftHistory]] driver-side
    * — zero data IO — and LOGS when a rebuild is warranted). A signal,
    * never an action: rebuilds retrain geometry and replace the live
    * index, which is the operator's call, not an append loop's.
    */
  private def logDriftSignal(spark: SparkSession, indexTable: String,
                             appId: String, batchId: Long): Unit =
    if (graft.functions.AnnIndex.rebuildWarranted(spark, indexTable))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"[$appId] batch $batchId: index $indexTable drift history says a " +
          s"REBUILD IS WARRANTED (one-batch tv >= " +
          s"${graft.functions.AnnIndex.DriftThreshold} or trailing mean >= " +
          s"${graft.functions.AnnIndex.SustainedDriftThreshold}) — appends " +
          "continue; schedule a retraining build")

  /** Structured Streaming SEMANTIC dedup maintainer — the
    * [[runStreamingNearDupTx]] minhash loop's embedding twin (round
    * 11, closing the r9 verdict's "semantic twin" note): each
    * micro-batch of (vec_id, embedding) rows dedups against the
    * STANDING at-rest corpus ([[graft.functions.VecIndex.dedupBatch]]
    * — frozen codebooks, pruned-cell read, cost ∝ batch), records a
    * per-row verdict (vec_id, kept) into `verdictTable`, and admits
    * the WHOLE batch into the index (losers keep killing — the q93
    * batch-rule contract). Both sinks are exactly-once under replay:
    * the verdict append is a TxTable writer txn keyed by the batch id
    * and the admission is [[graft.functions.VecIndex.appendOnce]]
    * keyed by the same id. A crash BETWEEN the two replays the batch
    * safely: dedupBatch is replay-stable even when the batch already
    * landed in the index (a batch row meeting its own corpus copy is
    * excluded by the strict idA < idB comparison, and the duplicated
    * cross pairs collapse in the losers' distinct — verdicts
    * recompute bit-identically), so the missing half lands and the
    * done half skips. With monotone ids across batches the verdict
    * stream equals the one-shot full-corpus run batch by batch (the
    * VecIndexSpec daily-loop parity, streamed).
    */
  def runSemDedupMaintainer(spark: SparkSession, stagingDir: String,
                            schema: org.apache.spark.sql.types.StructType,
                            indexTable: String, verdictTable: String,
                            checkpointDir: String,
                            appId: String = "semdedup-maintainer",
                            threshold: Double = 0.95,
                            maxFilesPerList: Double = 3.0,
                            maxVerdictFiles: Int = 8): Unit = {
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stagingDir)
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val b = batch.toDF().localCheckpoint(true) // verdicts + admission
        val verdicts = graft.functions.VecIndex
          .verdictsOf(spark, indexTable, b, threshold = threshold)
        graft.sink.TxTable.appendOnce(spark, verdicts, verdictTable,
          appId, batchId)
        graft.functions.VecIndex.appendOnce(spark, b, indexTable,
          s"$appId-idx", batchId)
        // the same append-churn cadence the ANN maintainer runs (r11
        // verdict watch #1: dedupBatch's pruned reads degrade linearly
        // in files-per-cell exactly like the measured ANN churn curve,
        // and this loop appended every micro-batch without ever folding
        // them back). The VecIndex shares the cid layout, so the same
        // commit-log-only ratio check applies; compaction is its own
        // conflict-checked commit AFTER the appends', so a crash in
        // between just leaves the ratio to the next batch.
        graft.functions.AnnIndex.compactIfNeeded(spark, indexTable,
          maxFilesPerList = maxFilesPerList)
        // the verdict table is flat (one small file per micro-batch —
        // the SCALE.md round-11 LogStore fleet-cadence shape): fold it
        // when the file count passes the threshold so watermark/verdict
        // reads stay O(1) listings
        // size-tiered (foldSmallFiles, never compact): the verdict
        // audit log grows ∝ corpus forever by design — only the
        // small-file tail may fold, or the maintainer re-shuffles the
        // whole history every maxVerdictFiles batches (r13 item 7).
        // The fold fires when the small tail reaches maxVerdictFiles,
        // so per-fold cost is bounded by targetRowsPerFile (constant
        // in corpus) and paid once per maxVerdictFiles batches.
        graft.sink.TxTable.foldSmallFiles(spark, verdictTable,
          targetRowsPerFile = 5000000L, minFilesToFold = maxVerdictFiles)
        logDriftSignal(spark, indexTable, appId, batchId)
        ()
      }
      .start()
    try { q.processAllAvailable() } finally q.stop()
  }

  def runStreamingNearDupTx(spark: SparkSession, stagingDir: String,
                            schema: org.apache.spark.sql.types.StructType,
                            sigTable: String, maxHamming: Int = 3): Unit = {
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stagingDir)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        // checkpointed ONCE per micro-batch (r14): the signature relation
        // feeds three plan branches (both loser-join sides and the
        // verdict join), and unpersisted the md5 token hashing + 60 bit
        // votes re-ran per branch — 3× the batch's dominant map cost
        // inside every commit (the recompute-detector class the batch
        // operators already fixed; profiled as q93's largest jobs)
        val sigs = graft.functions.Dedup.simhash60Agg(batch.toDF(), "text", "doc_id")
          .localCheckpoint(true)
        val seen =
          if (graft.sink.TxTable.headVersion(spark, sigTable) == 0L) sigs.limit(0)
          else graft.sink.TxTable.read(spark, sigTable).select(col("id"), col("sim"))
        val losers = graft.functions.Dedup.simhashLosersAgainst(
          seen.unionByName(sigs), sigs, maxHamming)
        val out = sigs.join(losers.withColumnRenamed("id", "__loser").withColumn("__l", lit(1)),
            sigs("id") === col("__loser"), "left")
          .select(sigs("id"), col("sim"), col("__l").isNull.as("kept"))
        graft.sink.TxTable.append(spark, out, sigTable)
        ()
      }
      .start()
    try { q.processAllAvailable() } finally q.stop()
  }

  /** End-to-end exactly-once streaming ingestion WITH an incrementally
    * maintained derived aggregate — the full closure of the tx spine:
    * each micro-batch (1) lands in `baseTable` under
    * [[graft.sink.TxTable.appendOnce]] keyed by the micro-batch id (a
    * REPLAYED batch after crash recovery skips — foreachBatch is
    * at-least-once, the sink makes it exactly-once), then (2) the
    * derived per-key (count, sum) table advances from the base table's
    * change feed — [[graft.operators.IncrementalView.refresh]] over
    * (last folded version, head], committed with
    * [[graft.sink.TxTable.overwriteOnce]] keyed by the base version it
    * folded.
    *
    * Crash healing, window by window: a crash between the base append
    * and the derived refresh replays the batch → the append skips, but
    * the derived table's own txn watermark (`doneV`) still trails the
    * base head, so the refresh RUNS — nothing is lost. A crash after
    * the refresh replays → both skip. The derived watermark, not driver
    * memory, carries the fold point, so recovery needs no state beyond
    * the two tables themselves.
    *
    * 100 TB shape: per micro-batch, cost = the batch's files (append) +
    * the version-diff's files (refresh reads ONLY changed files) + one
    * join against the derived aggregate (small by construction). The
    * base table is never rescanned.
    */
  def runStreamingIvmTx(spark: SparkSession, stagingDir: String,
                        schema: org.apache.spark.sql.types.StructType,
                        baseTable: String, derivedTable: String,
                        keyCols: Seq[String], sumCols: Seq[String],
                        appId: String = "ivm-stream"): Unit = {
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stagingDir)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        graft.sink.TxTable.appendOnce(spark, batch.toDF(), baseTable, appId, batchId)
        val doneV = graft.sink.TxTable.txnVersion(spark, derivedTable, appId).getOrElse(0L)
        val headV = graft.sink.TxTable.headVersion(spark, baseTable)
        if (headV > doneV) {
          val prev =
            if (graft.sink.TxTable.headVersion(spark, derivedTable) == 0L)
              graft.operators.IncrementalView.compute(
                batch.toDF().limit(0), keyCols, sumCols) // schema-only seed
            else graft.sink.TxTable.read(spark, derivedTable)
          val next = graft.operators.IncrementalView.refresh(
            spark, baseTable, prev, doneV, headV, keyCols, sumCols)
          graft.sink.TxTable.overwriteOnce(spark, next, derivedTable, appId, headV)
        }
        ()
      }
      .start()
    try { q.processAllAvailable() } finally q.stop()
  }

  /** Drain a streaming query through foreachBatch — the external-sink
    * twin of [[runToMemory]] (same conf/checkpoint discipline); `f`
    * receives each micro-batch DataFrame and its batch id.
    */
  def runForeachBatch(spark: SparkSession, dir: String,
                      transform: DataFrame => DataFrame,
                      f: (DataFrame, Long) => Unit,
                      outputMode: String = "update"): Unit =
    drain(spark, dir, transform, outputMode)(_.foreachBatch(f))

  /** Run a streaming query over `dir` into an in-memory table and block
    * until all available files are processed — the local smoke harness
    * (AvailableNow semantics without an external trigger loop).
    */
  def runToMemory(spark: SparkSession, dir: String, queryName: String,
                  transform: DataFrame => DataFrame,
                  outputMode: String = "append"): Unit =
    drain(spark, dir, transform, outputMode)(_.format("memory").queryName(queryName))

  /** The one finite drain behind [[runToMemory]] and [[runForeachBatch]]:
    * `transform` over the events stream at `dir`, written through `sink`,
    * run until every available file is processed.
    */
  private def drain(spark: SparkSession, dir: String,
                    transform: DataFrame => DataFrame, outputMode: String)(
                    sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    // Stateful-query overhead on a small finite drain is dominated by
    // per-partition state-store commits (numStateStores = shuffle
    // partitions at query start) and checkpoint fsyncs — not by data.
    // Narrow the state width, checkpoint on tmpfs when present, and in
    // update mode skip no-data micro-batches (updates are emitted in the
    // data batch; append mode NEEDS the no-data batch to advance the
    // watermark and finalize windows, so it keeps the default). On a real
    // cluster, size state partitions to live keys × throughput instead.
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevNoData =
      spark.conf.getOption("spark.sql.streaming.noDataMicroBatches.enabled").getOrElse("true")
    spark.conf.set("spark.sql.shuffle.partitions",
      math.min(8, prevParts.toInt).toString)
    if (outputMode == "update")
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val shm = new java.io.File("/dev/shm")
    val ckDir =
      if (shm.isDirectory && shm.canWrite)
        Some(java.nio.file.Files.createTempDirectory(shm.toPath, "graft-ck"))
      else None
    try {
      var w = sink(transform(readEvents(spark, dir)).writeStream.outputMode(outputMode))
      ckDir.foreach(d => w = w.option("checkpointLocation", d.toString))
      val q = w.start()
      try { q.processAllAvailable() } finally q.stop()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
      ckDir.foreach { d =>
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(d.toFile)
      }
    }
  }
}
