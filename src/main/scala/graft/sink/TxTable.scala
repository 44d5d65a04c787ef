package graft.sink

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Minimal transactional table: a versioned commit log over parquet —
  * the smallest useful form of the Delta/Iceberg core idea, built to
  * close the rename-swap crash windows VERDICT r2 flagged in
  * Compaction/upsert (and the lost-update window of plain appends).
  *
  * Layout:
  * {{{
  *   table/
  *     batch-<uuid>/part-*.parquet      data files (INVISIBLE until committed)
  *     _graft_txn/00000001.json         one JSON commit per version
  * }}}
  *
  * Every commit lists files `added` and files `removed` (table-relative
  * paths). A table state — current, historical, or the next checkpoint
  * — is ONE fold of commits in version order onto a checkpoint base
  * ([[fold]], reached through [[replay]]). Writers stage data files
  * first — readers never see them — then publish with ONE filesystem
  * operation: a rename of the commit JSON
  * into `_graft_txn/<next-version>.json` (racing writers are resolved by
  * a per-table JVM lock plus no-replace-rename detection — see
  * [[commit]] for the exact guarantees per layer; conflict-checked
  * commits throw rather than replay a stale file set). There is NO
  * window where the table is missing or doubled: a crash before the
  * commit rename leaves only orphan data files (cleaned by `vacuum`),
  * never a corrupted table.
  *
  * At 100 TB this also fixes read-side planning: the file list comes
  * from the log (a few KB per commit), not a recursive directory LIST —
  * the operation that dominates planning latency on object stores.
  *
  * WRITE-side scope: commit publication is delegated to a pluggable
  * [[CommitCoordinator]] whose one primitive is `putIfAbsent` on the
  * version-addressed commit path. The default
  * [[RenameCommitCoordinator]] (temp + no-replace rename + exists
  * guard) is correct on local FS (with the per-table JVM lock) and
  * HDFS; raw S3A rename is copy+delete AND replaces the destination, so
  * an S3 deployment plugs in a conditional-put coordinator
  * (`If-None-Match: *`) instead — the same LogStore/commit-coordinator
  * seam Delta Lake uses there. The no-replace-rename assumption is thus
  * an implementation of the seam, not a protocol limit; the
  * racing-writer spec drives both in-tree coordinators. READ-side
  * planning from the log is safe on any store.
  *
  * Read planning is CHECKPOINTED: every 10th commit (a fixed cadence)
  * the committing writer folds its own commit onto the prior state and
  * snapshots the result to `<version>.ckpt` — one JSON file, no Spark
  * job. Replay is that snapshot + the commit suffix
  * through the same fold — O(interval) opens however old the table is,
  * so a commit-per-micro-batch stream can run for months without
  * planning degradation. The head version needs no replay: it is the
  * highest version named in one log listing. File pruning
  * ([[prunedFiles]], [[prunedFilesIn]]) is one driver scan of that
  * replayed state's per-file stats. [[vacuum]] reclaims the
  * replay-redundant log prefix.
  *
  * Deliberately out of scope (this is parity engineering, not a table
  * format): schema evolution in the log, multi-table transactions,
  * time travel past the latest checkpoint once the log is cleaned.
  */
object TxTable {

  private def logDir(table: String) = s"$table/_graft_txn"

  private def fsFor(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Recursively delete a whole table/fixture directory. Gate and
    * bench fixtures use this to reclaim their temp trees after the
    * result is materialized — NOT a table operation (no log, no
    * grace window); for in-place reclamation of dead files use
    * [[vacuum]].
    */
  def deleteDir(spark: SparkSession, path: String): Unit = {
    fsFor(spark, path).delete(new Path(path), true); ()
  }

  /** Per-file column statistic: `typ` is L (long), D (double) or S
    * (string/ISO-timestamp — lexicographically ordered), `lo`/`hi` the
    * min/max rendered as strings. Stats ride in the commit (and
    * checkpoint) JSON so selective reads can skip files WITHOUT opening
    * them — the read-side win that makes the log a real table format.
    */
  final case class ColStat(col: String, typ: String, lo: String, hi: String)

  /** Synthetic per-file ROW-COUNT stat (`lo` = `hi` = the count), added
    * by [[fileStats]] alongside every requested column: commit-log-only
    * consumers (list-occupancy drift, compaction sizing) read row
    * volumes without touching data files. The `#` prefix can never
    * collide with a real column, and pruning ignores it (stats are
    * looked up by the pruned column's name).
    */
  val RowCountStat: String = "#rows"

  final case class Commit(version: Long, added: Seq[String], removed: Seq[String],
                          stats: Seq[Seq[ColStat]] = Nil,
                          txn: Option[(String, Long)] = None) {
    require(stats.isEmpty || stats.size == added.size,
      s"stats must align with added (${stats.size} vs ${added.size})")
  }

  /** Snapshot of the LIVE file set as of `version` — replay shortcut,
    * and the shape of every replayed state ([[fold]]'s result). Written
    * every [[CheckpointEvery]] commits so read planning opens one
    * snapshot + a bounded commit suffix instead of every JSON since v1
    * (a commit-per-micro-batch stream would otherwise grow planning
    * without bound — the exact failure the log exists to prevent).
    */
  final case class Checkpoint(version: Long, live: Seq[String],
                              stats: Seq[Seq[ColStat]] = Nil,
                              txns: Seq[(String, Long)] = Nil) {
    require(stats.isEmpty || stats.size == live.size,
      s"stats must align with live (${stats.size} vs ${live.size})")
  }

  // ----------------------------------------------------------- log replay

  private val CommitName = """^(\d{8})\.json$""".r
  private val CkptName = """^(\d{8})\.ckpt$""".r

  /** One listing → (commit files, checkpoint files), each (version, path)
    * in version order. Every read-side decision derives from this single
    * LIST — no per-version exists() probing.
    */
  private def listLog(fs: FileSystem, table: String): (Seq[(Long, Path)], Seq[(Long, Path)]) = {
    val dir = new Path(logDir(table))
    if (!fs.exists(dir)) return (Nil, Nil)
    val names = fs.listStatus(dir).toSeq.map(_.getPath)
    val cs = names.flatMap(p => p.getName match {
      case CommitName(v) => Some(v.toLong -> p); case _ => None
    }).sortBy(_._1)
    val ks = names.flatMap(p => p.getName match {
      case CkptName(v) => Some(v.toLong -> p); case _ => None
    }).sortBy(_._1)
    (cs, ks)
  }

  private def slurp(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Retained commits in version order (missing log → empty). After
    * [[vacuum]] log cleaning this is the suffix since the last
    * checkpoint, not necessarily full history — state reconstruction
    * must go through [[currentFiles]], which folds the checkpoint in.
    */
  def commits(spark: SparkSession, table: String): Seq[Commit] = {
    val fs = fsFor(spark, table)
    listLog(fs, table)._1.map { case (_, p) => parse(slurp(fs, p)) }
  }

  /** The one head rule: the highest version any commit or checkpoint
    * NAME in the listing carries (0 = never committed). No file opens.
    */
  private def headOf(log: (Seq[(Long, Path)], Seq[(Long, Path)])): Long =
    (0L +: (log._1.map(_._1) ++ log._2.map(_._1))).max

  /** THE replay fold — the only place commits become a live set: apply
    * `commits` in order onto `base`. Adds land at the end of the live
    * order (a re-add of a still-live file keeps its place, a re-add of a
    * removed one moves to the end) and a file's stats are the ones its
    * latest adding commit carried; removes drop the file. Writer-txn
    * watermarks max-merge, so idempotence memory survives log cleaning
    * through the checkpoint exactly like the live set. The result is
    * the checkpoint of the state after the last commit — stats aligned
    * one-per-live-file. Live order decides [[readFiles]]' union column
    * order, so it must never depend on how the state was reached.
    */
  private def fold(base: Checkpoint, commits: Seq[Commit]): Checkpoint = {
    val live = scala.collection.mutable.LinkedHashMap[String, Seq[ColStat]]()
    val txns = scala.collection.mutable.LinkedHashMap[String, Long]()
    def add(files: Seq[String], stats: Seq[Seq[ColStat]]): Unit =
      files.zip(if (stats.isEmpty) files.map(_ => Seq.empty[ColStat]) else stats)
        .foreach { case (f, st) => live(f) = st }
    def mark(app: String, v: Long): Unit =
      txns(app) = math.max(v, txns.getOrElse(app, Long.MinValue))
    add(base.live, base.stats)
    base.txns.foreach { case (a, v) => mark(a, v) }
    commits.foreach { c =>
      add(c.added, c.stats)
      c.removed.foreach(live.remove)
      c.txn.foreach { case (a, v) => mark(a, v) }
    }
    Checkpoint(commits.lastOption.fold(base.version)(_.version),
      live.keys.toSeq, live.values.toSeq, txns.toSeq)
  }

  /** The replayed state at `upTo` (None = head): the newest checkpoint
    * at or below it plus the commit suffix up to it, through [[fold]].
    * FS opens are 1 checkpoint + (commits since it) — bounded by
    * [[CheckpointEvery]] regardless of table age. An EXPLICIT version must
    * lie in [0, head] and its suffix must be contiguous: the `require`
    * catches both holes — commits cleaned by [[vacuum]]'s log cleaning
    * (the target predates the earliest usable checkpoint) and a
    * corrupt/partial log. Version 0 is the empty table.
    */
  private def replay(fs: FileSystem, table: String, upTo: Option[Long]): Checkpoint = {
    val (cs, ks) = listLog(fs, table)
    val head = headOf((cs, ks))
    upTo.foreach { v =>
      require(v >= 0, s"version must be >= 0, got $v")
      require(v <= head, s"version $v is past head $head of $table")
    }
    val at = upTo.getOrElse(head)
    val base = ks.filter(_._1 <= at).lastOption
      .map { case (_, p) => parseCkpt(slurp(fs, p)) }.getOrElse(Checkpoint(0L, Nil))
    val suffix = cs.filter(t => t._1 > base.version && t._1 <= at)
      .map { case (_, p) => parse(slurp(fs, p)) }
    if (upTo.isDefined)
      require(suffix.map(_.version) == (base.version + 1 to at),
        s"cannot reconstruct version $at of $table: commits " +
          s"(${base.version + 1}..$at] are not contiguous in the log " +
          "(cleaned by vacuum, or corrupt)")
    fold(base, suffix)
  }

  /** A replayed state's (file, stats) entries, in live order. */
  private def liveEntries(k: Checkpoint): Seq[(String, Seq[ColStat])] = k.live.zip(k.stats)

  /** Live file set after replaying the log (table-relative paths). */
  def currentFiles(spark: SparkSession, table: String): Seq[String] =
    replay(fsFor(spark, table), table, None).live

  /** Live files with their per-file column stats (empty per file when the
    * committing writer collected none).
    */
  def currentFilesWithStats(spark: SparkSession, table: String): Seq[(String, Seq[ColStat])] =
    liveEntries(replay(fsFor(spark, table), table, None))

  /** Read the committed state. Planning comes from the log — uncommitted
    * staging files are invisible by construction.
    */
  def read(spark: SparkSession, table: String): DataFrame =
    readFiles(spark, table, currentFiles(spark, table))

  // --------------------------------------------------------- time travel

  /** File set as of historical `version` — the [[replay]] at it, with
    * its range and contiguity checks. Version 0 = the empty table.
    */
  def filesAt(spark: SparkSession, table: String, version: Long): Seq[String] =
    replay(fsFor(spark, table), table, Some(version)).live

  /** Time travel: the table exactly as of `version`. Data-file GC caveat
    * (same as any log-structured format): [[vacuum]] deletes
    * compacted-away files after the grace window, so travel to a version
    * whose files were vacuumed fails AT READ with missing files — the
    * log can only promise versions younger than the vacuum horizon.
    */
  def readAt(spark: SparkSession, table: String, version: Long): DataFrame =
    readFiles(spark, table, filesAt(spark, table, version))

  /** Time travel pruned to the files whose committed `key` [min, max]
    * overlaps the distinct values of `keys`' first column — the
    * "re-read only the affected slice of a historical version" primitive
    * (incremental view maintenance reads `R_old ⋈ ΔS` this way: the old
    * fact slice for the handful of changed dimension keys, never the
    * whole historical fact table). Pruning changes which files OPEN,
    * never which rows qualify — callers still apply the row-level join
    * or filter. Files committed without stats for `key` are always read
    * (no proof their rows miss — the same keep-by-default rule as
    * [[merge]]'s touch set). Null keys are dropped, matching the inner
    * equi-join semantics every caller applies on top.
    */
  def readAtOverlapping(spark: SparkSession, table: String, version: Long,
                        key: String, keys: DataFrame): DataFrame = {
    val fs = fsFor(spark, table)
    val keysDf = keys.select(keys.columns.head).na.drop().distinct()
      .toDF("__k").select(col("__k").cast("string").as("__k"))
    val at = replay(fs, table, Some(version))
    val touched = overlappingFiles(spark, liveEntries(at), keysDf, key)
    if (touched.isEmpty) {
      val all = at.live
      if (all.isEmpty) spark.emptyDataFrame
      else readFiles(spark, table, all).limit(0) // keep the schema
    } else readFiles(spark, table, touched)
  }

  /** Current head version (0 = never committed): [[headOf]] over one
    * log listing, no commit opened.
    */
  def headVersion(spark: SparkSession, table: String): Long =
    headOf(listLog(fsFor(spark, table), table))

  // ---------------------------------------------------------- change feed

  /** File-level diff between two versions: (files added, files removed)
    * going from `fromVersion` to `toVersion` — the planning input for
    * [[readChanges]]. Both sides reconstruct through [[filesAt]], so the
    * same checkpoint/vacuum contiguity rules apply.
    */
  def changedFiles(spark: SparkSession, table: String,
                   fromVersion: Long, toVersion: Long): (Seq[String], Seq[String]) = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    val before = filesAt(spark, table, fromVersion)
    val after = filesAt(spark, table, toVersion)
    val beforeSet = before.toSet
    val afterSet = after.toSet
    (after.filterNot(beforeSet), before.filterNot(afterSet))
  }

  /** Change-data-feed: the NET row-level changes between `fromVersion`
    * (exclusive) and `toVersion` (inclusive), as the table's columns plus
    * a `_change_type` column (`insert` | `delete`). An updated row (e.g.
    * from [[merge]]) surfaces as its old image tagged `delete` plus its
    * new image tagged `insert` — the classic CDF shape a downstream
    * incremental consumer (sync to a search index, re-embed changed
    * docs, refresh a derived table) applies directly.
    *
    * Derivation is file diff + multiset cancellation: only the files
    * ADDED or REMOVED across the version range are read (never the whole
    * table — at 100 TB an incremental day's changes cost the day's
    * files), and `exceptAll` in both directions cancels rows that were
    * merely REWRITTEN unchanged. That cancellation is what makes the
    * feed semantic rather than physical: [[compact]]/Z-order rewrites
    * net to exactly zero changes, and a [[merge]] touching a 5M-row file
    * to update 100 rows yields 100 deletes + 100 inserts, not 5M of
    * each. The cost of cancellation is one all-column shuffle over the
    * touched-file rows — bounded by the diff, not the table.
    *
    * Multiset semantics: legitimately duplicate rows are counted — a row
    * going from 3 occurrences to 1 yields 2 `delete` rows. Rows are
    * compared on the ALIGNED schema (cross-version schema evolution
    * fills missing columns with null via the same `unionByName` rule as
    * [[readFiles]]); a column added with all-null values therefore does
    * NOT flag untouched rows as changed. Data-file GC caveat as
    * [[readAt]]: both versions must be younger than the vacuum horizon.
    */
  def readChanges(spark: SparkSession, table: String,
                  fromVersion: Long, toVersion: Long): DataFrame = {
    val (addedF, removedF) = changedFiles(spark, table, fromVersion, toVersion)
    def tag(df: DataFrame, t: String): DataFrame =
      df.withColumn("_change_type", lit(t))
    if (addedF.isEmpty && removedF.isEmpty)
      return tag(readFiles(spark, table, filesAt(spark, table, toVersion)), "insert")
        .limit(0)
    if (removedF.isEmpty) return tag(readFiles(spark, table, addedF), "insert")
    if (addedF.isEmpty) return tag(readFiles(spark, table, removedF), "delete")
    val addDf = readFiles(spark, table, addedF)
    val remDf = readFiles(spark, table, removedF)
    // align both sides to one column set/order before exceptAll (which
    // is positional): each side gains the other's missing columns as
    // nulls through the zero-row unionByName, then the removed side is
    // projected into the added side's column order
    val addAligned = addDf.unionByName(remDf.limit(0), allowMissingColumns = true)
    val remAligned = remDf.unionByName(addDf.limit(0), allowMissingColumns = true)
      .select(addAligned.columns.map(col).toIndexedSeq: _*)
    tag(addAligned.exceptAll(remAligned), "insert")
      .unionByName(tag(remAligned.exceptAll(addAligned), "delete"))
  }

  /** Read an explicit table-relative file list (committed, staged, or a
    * mix — the validation-before-commit read). Files are grouped by batch
    * dir and each group reads with its own `basePath`, so Hive partition
    * dirs nested inside a batch dir (batch-x/col=value/part.parquet)
    * resolve without tripping partition-discovery's conflicting-structures
    * check (partition dirs sit BELOW the batch level, which a single
    * table-rooted basePath can't express). Batches then
    * `unionByName(allowMissingColumns)` — which is also the
    * schema-evolution merge across commits. Partition pruning applies per
    * union child; [[compact]] bounds the union width.
    *
    * Footer schemas: every file in a batch dir came from ONE stageBatch
    * write and shares its schema, so a batch's data schema is read on
    * the driver from its first file's footer ([[footerSchema]]) and passed
    * to the reader, instead of letting Spark infer it with a one-task job
    * per batch (measured: a quarter of an ingest round's jobs). It is the
    * schema that inference computes — same footer function, same
    * converter flags — so names, order, types and nullability do not
    * change. Partition columns still come from partition discovery under
    * the batch `basePath`. A batch whose footer cannot be read falls back
    * to inference, so a torn or vanished file fails as it always did.
    *
    * Listing: Spark lists the given paths itself, on the driver up to
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) paths
    * per batch and with a Spark job above it. Callers that need only part
    * of a table pass only those files: IngestionRun's lake tail keeps the
    * files under the partitions its watermark can reach, so a 42-file
    * backfill batch no longer costs a listing job per run.
    */
  def readFiles(spark: SparkSession, table: String, files: Seq[String]): DataFrame = {
    if (files.isEmpty) return spark.emptyDataFrame
    // preserve the CALLER's order (currentFiles = commit order), not the
    // random batch-uuid sort: the union's column order follows the first
    // batch, and a schema that flaps across equivalent histories breaks
    // positional consumers
    val grouped = files.groupBy(_.split("/", 2)(0))
    val conf = spark.sessionState.newHadoopConf()
    files.map(_.split("/", 2)(0)).distinct
      .map { batch =>
        val inBatch = grouped(batch)
        val reader = spark.read.option("basePath", s"$table/$batch")
        footerSchema(spark, conf, table, inBatch)
          .fold(reader)(reader.schema)
          .parquet(inBatch.map(f => s"$table/$f"): _*)
      }
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The data schema Spark's parquet inference derives from the footer
    * of `files.head` (table-relative under `root`), read on the driver
    * with no Spark job: the same `readSchemaFromFooter`
    * (`ParquetFileFormat.mergeSchemasInParallel`) with the converter
    * flags it reads from the session conf, `nanosAsLong` included. The
    * one footer-schema helper: [[readFiles]] (a batch), IngestionRun's
    * plain lake tail (one kept partition dir) and
    * [[graft.sources.Tables.load]] (one table file) plan through it.
    * None — infer instead — when the footer cannot be read, or when it
    * holds a column that a `col=value` dir of any of `files` also
    * names: the reader would then place that column as a partition
    * column, where inference keeps it at its data position.
    */
  def footerSchema(spark: SparkSession, conf: org.apache.hadoop.conf.Configuration,
                   root: String, files: Seq[String])
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val partKeys = files.flatMap(_.split("/").dropRight(1))
      .filter(_.contains("=")).map(_.takeWhile(_ != '=').toLowerCase(java.util.Locale.ROOT))
      .toSet
    try {
      val p = new Path(s"$root/${files.head}")
      val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromPath(p, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      val sql = spark.sessionState.conf
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = sql.isParquetBinaryAsString,
        assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
        inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
        nanosAsLong = sql.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = sql.parquetReaderRespectUnknownTypeAnnotation)
      val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(p, meta), converter)
      if (schema.fieldNames.exists(n => partKeys(n.toLowerCase(java.util.Locale.ROOT)))) None
      else Some(schema)
    } catch {
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Spark's hidden-path rule for file-source reads: `_`/`.` names,
    * except `_`-names holding `=` (a partition dir of a `_`-column).
    */
  def hiddenName(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")

  /** The first visible data file at or under `st`, descending
    * depth-first in name order with one non-recursive listing per level:
    * the footer to plan a read of `st` from. None when it holds no
    * visible file.
    */
  def firstDataFile(fs: FileSystem, st: FileStatus): Option[Path] =
    if (!st.isDirectory) Some(st.getPath)
    else fs.listStatus(st.getPath).filterNot(s => hiddenName(s.getPath.getName))
      .sortBy(_.getPath.getName).iterator
      .flatMap(firstDataFile(fs, _)).nextOption()

  // -------------------------------------------------------------- writers

  /** Transactional append: stage a batch directory, then publish it with
    * one commit. With `statsCols`, per-file min/max of those columns ride
    * in the commit and [[readPruned]] can skip files at plan time.
    * Returns the committed version.
    */
  def append(spark: SparkSession, df: DataFrame, table: String,
             statsCols: Seq[String] = Nil): Long = {
    val files = stageBatch(spark, df, table)
    val stats =
      if (statsCols.isEmpty) Nil else fileStats(spark, table, files, statsCols)
    commit(spark, table, added = files, removed = Nil, stats = stats)
  }

  /** Latest writer version the log records for `appId` (None if the app
    * has never committed). The retried-writer resume point: a restarted
    * job reads this and continues from the next un-landed batch.
    */
  def txnVersion(spark: SparkSession, table: String, appId: String): Option[Long] =
    replay(fsFor(spark, table), table, None).txns.toMap.get(appId)

  /** Idempotent append — exactly-once under writer retries. The commit
    * records `(appId, writerVersion)`; a re-run of an already-landed
    * (appId, writerVersion) SKIPS (returns None, stages nothing durable)
    * instead of double-appending. `writerVersion` is the writer's own
    * monotone sequence (micro-batch id, chunk number, attempt epoch) —
    * the guard is `>=`, so versions must not be reused for different
    * data. This is the sink half of end-to-end exactly-once for a
    * retried loader or a `foreachBatch` stream (reference behavior:
    * ingest re-runs dedup by re-querying run logs,
    * datalakeingestion utils/incremental_data_load.py — here the sink
    * itself refuses the duplicate).
    *
    * The skip check runs both BEFORE staging (cheap fast path: no data
    * write at all for an obvious duplicate) and atomically inside the
    * commit loop (the race-proof slow path — two concurrent retries of
    * the same batch land exactly one commit); a skip detected only at
    * commit time cleans up its staged files.
    */
  def appendOnce(spark: SparkSession, df: DataFrame, table: String,
                 appId: String, writerVersion: Long,
                 statsCols: Seq[String] = Nil): Option[Long] = {
    require(writerVersion >= 0, s"writerVersion must be >= 0, got $writerVersion")
    if (txnVersion(spark, table, appId).exists(_ >= writerVersion)) return None
    val files = stageBatch(spark, df, table)
    val stats =
      if (statsCols.isEmpty) Nil else fileStats(spark, table, files, statsCols)
    val out = commitOpt(spark, table, added = files, removed = Nil,
      stats = stats, txn = Some((appId, writerVersion)))
    if (out.isEmpty) deleteStaged(spark, table, files)
    out
  }

  /** Per-file min/max of `cols` over freshly staged files. Column types
    * map to the stat domains: integers → L, float/double → D,
    * string/date/timestamp → S (rendered through Spark's string cast;
    * ISO forms compare lexicographically). Files a stat can't be derived
    * for (all-null column, unmatchable listing entry) get NO stat — the
    * pruning default is "keep", so missing stats cost opens, never rows.
    *
    * Two plans, same stats (r14, guide §1.2 — the lifecycle fixtures'
    * wall-clock is job count × driver latency, and every stats-bearing
    * commit paid one read-back aggregate job here):
    *
    *  - FOOTER (the fast path): the staged parquet footers already
    *    carry exact per-chunk min/max and row counts for the column
    *    classes every caller actually requests — signed ints/longs
    *    (written exact by parquet-mr), UTF8 strings (parquet's unsigned
    *    byte order IS Spark's UTF8String order), and Hive partition
    *    values (lo = hi = the dir value). One driver-side footer read
    *    per file, ZERO Spark jobs.
    *  - JOB (the fallback): the original grouped aggregate over the
    *    batch, kept for every column class whose footer stat is not
    *    provably identical to the aggregate's (float/double — parquet
    *    drops NaN from min/max while Spark's max ranks it greatest;
    *    timestamps — session-zone string rendering; dates, decimals,
    *    unsigned ints; any suspiciously long binary value that could
    *    have been truncated at write).
    *
    * The dispatch is all-or-nothing per call: if ANY requested column
    * on ANY file can't be derived exactly from footers, the whole call
    * runs the aggregate job — stats must never mix provenance within a
    * commit. FileStatsFooterSpec pins footer ≡ job output bit-for-bit
    * on every supported class.
    */
  def fileStats(spark: SparkSession, table: String, files: Seq[String],
                cols: Seq[String]): Seq[Seq[ColStat]] = {
    if (files.isEmpty || cols.isEmpty) return files.map(_ => Seq.empty[ColStat])
    footerFileStats(spark, table, files, cols)
      .getOrElse(jobFileStats(spark, table, files, cols))
  }

  /** The read-back aggregate plan of [[fileStats]] (one Spark job over
    * the staged batch) — the always-correct fallback, and the reference
    * implementation the footer path is spec-pinned against.
    */
  private[graft] def jobFileStats(spark: SparkSession, table: String, files: Seq[String],
                cols: Seq[String]): Seq[Seq[ColStat]] = {
    import org.apache.spark.sql.functions.{input_file_name, max, min}
    import org.apache.spark.sql.types._
    if (files.isEmpty || cols.isEmpty) return files.map(_ => Seq.empty[ColStat])
    val df = readFiles(spark, table, files)
    val typed = cols.filter(df.columns.contains).flatMap { c =>
      df.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => Some(c -> "L")
        case FloatType | DoubleType => Some(c -> "D")
        case StringType | DateType | TimestampType | TimestampNTZType => Some(c -> "S")
        case _ => None // unorderable/exotic: no stat, file always kept
      }
    }
    if (typed.isEmpty) return files.map(_ => Seq.empty[ColStat])
    val aggs = typed.flatMap { case (c, t) =>
      val base = if (t == "S") col(c).cast("string") else col(c)
      Seq(min(base).as(s"__lo_$c"), max(base).as(s"__hi_$c"))
    } :+ org.apache.spark.sql.functions.count(lit(1)).as("__nrows")
    val rows = df.groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    files.map { f =>
      rows.find(_.getString(0).endsWith(f)) match {
        case None => Seq.empty[ColStat] // listing/URI mismatch: keep-safe
        case Some(r) =>
          val n = r.getLong(1 + 2 * typed.size).toString
          typed.zipWithIndex.flatMap { case ((c, t), i) =>
            val (lo, hi) = (r.get(1 + 2 * i), r.get(2 + 2 * i))
            if (lo == null || hi == null) None // all-null column in file
            else Some(ColStat(c, t, lo.toString, hi.toString))
          } :+ ColStat(RowCountStat, "L", n, n)
      }
    }
  }

  /** Derive [[fileStats]] from the staged files' parquet FOOTERS —
    * driver-side metadata reads, no Spark job. Returns None the moment
    * anything is not PROVABLY identical to what [[jobFileStats]] would
    * compute (unsupported column class, missing/ambiguous chunk stats,
    * over-long binary values): the caller then runs the aggregate job.
    * Exactness notes per class:
    *
    *  - signed INT32/INT64 (no logical annotation or signed int
    *    annotation): parquet-mr writes exact min/max for fixed-width
    *    primitives; rendered via Long.toString like the aggregate's
    *    Row.get.toString.
    *  - BINARY + String annotation: chunk stats hold the exact min/max
    *    bytes in unsigned byte order — the SAME total order Spark's
    *    UTF8String (and therefore min()/max()) uses. Values ≥ 1 KiB
    *    abort to the job path: parquet writers may truncate or drop
    *    long binary stats, and a truncated bound is sound for pruning
    *    but not bit-identical to the aggregate.
    *  - Hive partition columns (absent from the footer schema, present
    *    as `col=value` path segments): lo = hi = the dir value, type L
    *    — only long-parsable values are accepted (matches the read
    *    path's partition inference for the index/lifecycle layouts);
    *    anything else aborts to the job path.
    *  - a column absent from both footer schema and path, or of a class
    *    the aggregate skips (boolean, decimal, arrays), emits no stat —
    *    exactly like [[jobFileStats]]'s type filter.
    *  - zero-row file → Seq.empty (the aggregate produces no group);
    *    all-null column (every chunk hasNonNullValue = false with
    *    num_nulls accounted) → no stat for that column, others kept.
    */
  private[graft] def footerFileStats(spark: SparkSession, table: String,
                              files: Seq[String],
                              cols: Seq[String]): Option[Seq[Seq[ColStat]]] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val conf = spark.sparkContext.hadoopConfiguration
    // unsigned byte order — UTF8String's (and parquet's UNSIGNED) order
    def byteLt(a: Array[Byte], b: Array[Byte]): Boolean = {
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i) & 0xff; val y = b(i) & 0xff
        if (x != y) return x < y
        i += 1
      }
      a.length < b.length
    }
    try {
      val out = files.map { f =>
        val partVals: Map[String, String] = f.split("/").dropRight(1).toSeq
          .flatMap { seg =>
            val i = seg.indexOf('=')
            if (i > 0) Some(seg.substring(0, i) -> seg.substring(i + 1)) else None
          }.toMap
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(s"$table/$f"), conf))
        val (schema, blocks) =
          try {
            val fm = reader.getFooter
            (fm.getFileMetaData.getSchema,
              scala.jdk.CollectionConverters.ListHasAsScala(fm.getBlocks).asScala.toSeq)
          } finally reader.close()
        val nRows = blocks.map(_.getRowCount).sum
        if (nRows == 0L) Seq.empty[ColStat]
        else {
          val stats = cols.flatMap { c =>
            if (partVals.contains(c)) {
              // Hive partition value: exact by construction
              val v = java.lang.Long.parseLong(partVals(c)).toString
              Some(ColStat(c, "L", v, v))
            } else {
              val idx = schema.getFields
              val fieldOpt = (0 until idx.size())
                .find(i => schema.getFieldName(i) == c).map(idx.get)
              fieldOpt match {
                case None => None // column absent: the aggregate skips it too
                case Some(t) if !t.isPrimitive =>
                  None // nested/exotic: the aggregate's type filter skips it
                case Some(t) =>
                  val pt = t.asPrimitiveType()
                  val logical = Option(pt.getLogicalTypeAnnotation)
                  val isSignedInt = logical.forall {
                    case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
                    case _ => false
                  }
                  val kind = pt.getPrimitiveTypeName match {
                    case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64
                      if isSignedInt => "L"
                    case PrimitiveTypeName.BINARY
                      if logical.exists(
                        _.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]) => "S"
                    case PrimitiveTypeName.BOOLEAN => "skip" // aggregate skips it
                    case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE =>
                      throw FooterBail // NaN semantics: job path only
                    case _ => throw FooterBail // timestamps/dates/decimals/uint
                  }
                  if (kind == "skip") None
                  else {
                    val chunks = blocks.filter(_.getRowCount > 0L).map { b =>
                      scala.jdk.CollectionConverters.ListHasAsScala(b.getColumns).asScala
                        .find(_.getPath.toDotString == c)
                        .getOrElse(throw FooterBail) -> b.getRowCount
                    }
                    var loL = Long.MaxValue; var hiL = Long.MinValue
                    var loB: Array[Byte] = null; var hiB: Array[Byte] = null
                    var any = false
                    chunks.foreach { case (cc, bRows) =>
                      val st = cc.getStatistics
                      if (st == null || st.isEmpty) throw FooterBail // stats absent: can't prove
                      if (!st.hasNonNullValue) {
                        // all-null chunk only if num_nulls accounts for every row
                        if (st.getNumNulls != bRows) throw FooterBail
                      } else {
                        any = true
                        if (kind == "L") {
                          val (lo, hi) = (st.genericGetMin, st.genericGetMax) match {
                            case (a: java.lang.Integer, b: java.lang.Integer) =>
                              (a.longValue(), b.longValue())
                            case (a: java.lang.Long, b: java.lang.Long) =>
                              (a.longValue(), b.longValue())
                            case _ => throw FooterBail
                          }
                          loL = math.min(loL, lo); hiL = math.max(hiL, hi)
                        } else {
                          val lo = st.genericGetMin
                            .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
                          val hi = st.genericGetMax
                            .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
                          if (lo.length >= 1024 || hi.length >= 1024) throw FooterBail
                          if (loB == null || byteLt(lo, loB)) loB = lo
                          if (hiB == null || byteLt(hiB, hi)) hiB = hi
                        }
                      }
                    }
                    if (!any) None // all-null column: no stat, like the aggregate
                    else if (kind == "L")
                      Some(ColStat(c, "L", loL.toString, hiL.toString))
                    else Some(ColStat(c, "S",
                      new String(loB, java.nio.charset.StandardCharsets.UTF_8),
                      new String(hiB, java.nio.charset.StandardCharsets.UTF_8)))
                  }
              }
            }
          }
          stats :+ ColStat(RowCountStat, "L", nRows.toString, nRows.toString)
        }
      }
      Some(out)
    } catch {
      case FooterBail => None
      // ANY non-fatal failure (non-long partition value, unreadable
      // footer, a parquet RuntimeException) routes to the job path —
      // the fallback is always correct, and a footer oddity must never
      // fail a commit the aggregate would have served
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Control-flow sentinel for [[footerFileStats]]'s bail-to-job path. */
  private object FooterBail
    extends scala.util.control.ControlThrowable("footer stats not provably exact")

  /** Files whose `statCol` stat MAY hold one of `wanted` (set
    * membership — the index families' probed-cell pruning): one scan
    * of [[currentFilesWithStats]], a hash lookup per Hive-statted file
    * (lo == hi) and a range test otherwise. Stat-less files are kept
    * (missing stats cost opens, never rows).
    */

  def prunedFilesIn(spark: SparkSession, table: String, statCol: String,
                    wanted: Set[Long]): Seq[String] =
    currentFilesWithStats(spark, table).collect {
      case (f, stats) if stats.find(_.col == statCol).forall { st =>
        val (lo, hi) = (st.lo.toLong, st.hi.toLong)
        if (lo == hi) wanted.contains(lo)
        else wanted.exists(c => lo <= c && c <= hi)
      } => f
    }

  /** Files that MAY hold rows with `colName` in [lo, hi] (inclusive;
    * None = unbounded): a file is skipped only when its committed stats
    * prove the range misses it. Files without a stat for `colName` are
    * always kept. Bounds are strings in the stat domain (numbers render
    * plainly, timestamps as Spark's string cast). Range semantics only:
    * stats ignore NULLs, exactly like the range predicate does.
    */
  def prunedFiles(spark: SparkSession, table: String, colName: String,
                  lo: Option[String], hi: Option[String]): Seq[String] = {
    // "S" stats (strings/ISO timestamps) compare lexicographically
    def cmp(typ: String, a: String, b: String): Int = typ match {
      case "L" => java.lang.Long.compare(a.toLong, b.toLong)
      case "D" => java.lang.Double.compare(a.toDouble, b.toDouble)
      case _ => a.compareTo(b)
    }
    currentFilesWithStats(spark, table).collect {
      case (f, stats) if stats.find(_.col == colName).forall { st =>
        hi.forall(h => cmp(st.typ, st.lo, h) <= 0) &&
          lo.forall(l => cmp(st.typ, st.hi, l) >= 0)
      } => f
    }
  }

  /** Plan-time file skipping from committed stats: read only the files
    * whose [min, max] overlaps [lo, hi]. The caller still applies the
    * row-level filter — pruning changes which files OPEN, never which
    * rows qualify.
    */
  def readPruned(spark: SparkSession, table: String, colName: String,
                 lo: Option[String], hi: Option[String]): DataFrame =
    readFiles(spark, table, prunedFiles(spark, table, colName, lo, hi))

  /** Transactional full overwrite: one commit swaps the entire file set —
    * the atomic replacement the rename-swap pattern approximates, with no
    * missing-table window. Conflict-checked: if another commit lands
    * between reading the state and publishing, this THROWS
    * `ConcurrentModificationException` instead of silently resurrecting
    * the concurrently-written files (retrying with a stale removed-list
    * would merge two "full" states into a doubled table).
    */
  def overwrite(spark: SparkSession, df: DataFrame, table: String): Long = {
    val k = replay(fsFor(spark, table), table, None)
    val files = stageBatch(spark, df, table)
    commit(spark, table, added = files, removed = k.live, expectedHead = Some(k.version))
  }

  /** [[overwrite]] with [[appendOnce]]'s writer-txn idempotence — the
    * derived-table refresh shape: a replayed refresh of an
    * already-folded writer version skips (staged files cleaned) instead
    * of clobbering newer state, so a crash-replay loop cannot
    * double-apply or rewind a refresh.
    */
  def overwriteOnce(spark: SparkSession, df: DataFrame, table: String,
                    appId: String, writerVersion: Long): Option[Long] = {
    require(writerVersion >= 0, s"writerVersion must be >= 0, got $writerVersion")
    if (txnVersion(spark, table, appId).exists(_ >= writerVersion)) return None
    val k = replay(fsFor(spark, table), table, None)
    val files = stageBatch(spark, df, table)
    val out = commitOpt(spark, table, added = files, removed = k.live,
      expectedHead = Some(k.version), txn = Some((appId, writerVersion)))
    if (out.isEmpty) deleteStaged(spark, table, files)
    out
  }

  /** Files whose committed `key` [min, max] range contains SOME key of
    * `keysDf` (single `__k` string column) — per-file set overlap, not
    * one envelope over the whole batch (an envelope would rewrite the
    * table for one low key plus one high insert). The file-range table
    * is bounded metadata (#files rows), broadcast against the distinct
    * keys; the join yields touched FILES, so the collect is bounded by
    * #files. Stat-less files are always returned: no proof their keys
    * miss the batch (pruning default "keep" — costs rewrites, never
    * correctness).
    */
  private def overlappingFiles(spark: SparkSession,
                               entries: Seq[(String, Seq[ColStat])],
                               keysDf: DataFrame, key: String): Seq[String] = {
    import org.apache.spark.sql.functions.broadcast
    val withStat = entries.flatMap { case (f, ss) =>
      ss.find(_.col == key).map(st => (f, st))
    }
    val noStat = entries.map(_._1).filterNot(withStat.map(_._1).toSet)
    val overlapped = withStat.headOption match {
      case None => Nil
      case Some((_, st0)) =>
        val castT: Column => Column = st0.typ match {
          case "L" => _.cast("long")
          case "D" => _.cast("double")
          case _ => (c: Column) => c
        }
        val ranges = spark.createDataFrame(
            withStat.map { case (f, st) => (f, st.lo, st.hi) })
          .toDF("__f", "__lo", "__hi")
        keysDf.join(broadcast(ranges),
            castT(col("__k")).between(castT(col("__lo")), castT(col("__hi"))))
          .select(col("__f")).distinct().collect().map(_.getString(0)).toSeq
    }
    (noStat ++ overlapped).distinct
  }

  /** Stats-pruned partial-rewrite MERGE (the Delta-style batch upsert):
    * rewrite ONLY the files whose committed `key` min/max range overlaps
    * the update batch's key range — every other file survives the commit
    * untouched. This is what makes upsert viable at 100 TB: a day's
    * update batch against a key-clustered table touches the handful of
    * files its keys land in, not the table (the full-table
    * read-union-overwrite alternative is the streaming upsert's shape,
    * correct but O(table) per batch).
    *
    * Semantics per key: the update row wins unconditionally over the
    * base row (an explicit precedence column — NOT an orderCols tie,
    * which `max_by` would break arbitrarily); among duplicate update
    * keys, last-writer-wins by `orderCols`. Insert keys (no base match)
    * land in the rewrite. Null update keys are the caller's bug — they
    * merge into one null group like any groupBy.
    *
    * Files without a committed stat for `key` are conservatively
    * rewritten (pruning default "keep" — missing stats cost rewrites,
    * never correctness). Pair with `compact(clusterBy = key)` so file
    * ranges are disjoint and tight. Conflict-checked like overwrite:
    * a commit landing between the state read and the publish throws
    * rather than resurrecting or double-applying files.
    */
  def merge(spark: SparkSession, updates: DataFrame, table: String,
            key: String, orderCols: Seq[String]): Long = {
    val k = replay(fsFor(spark, table), table, None)
    val (head, entries) = (k.version, liveEntries(k))
    val keysDf = updates.select(col(key).cast("string").as("__k"))
      .na.drop().distinct()
    if (keysDf.isEmpty) return head // empty/all-null-key batch: no-op
    val touched = overlappingFiles(spark, entries, keysDf, key)
    val upd = updates.toDF().withColumn("__prio", lit(1))
    val combined =
      if (touched.isEmpty) upd
      else readFiles(spark, table, touched)
        .withColumn("__prio", lit(0)).unionByName(upd)
    val merged = graft.operators.LatestRowView.latestPerKey(
        combined, Seq(key), col("__prio") +: orderCols.map(col))
      .drop("__prio")
    val files = stageBatch(spark, merged, table)
    // stats survive the merge for every column any live file tracks,
    // plus the merge key itself (the next merge needs it)
    val statCols = (entries.flatMap(_._2.map(_.col)) :+ key).distinct
    val stats = fileStats(spark, table, files, statCols)
    commit(spark, table, added = files, removed = touched,
      expectedHead = Some(head), stats = stats)
  }

  /** Stats-pruned key DELETE (the GDPR/right-to-erasure primitive):
    * remove every row whose `key` appears in `keys`, rewriting ONLY the
    * files whose committed key range overlaps the delete set — the same
    * per-file touch discipline as [[merge]], so deleting a user's rows
    * from a key-clustered 100 TB table costs the handful of files that
    * user lands in. Touched files are rewritten through a broadcast
    * anti-join; a file whose every row matches simply contributes
    * nothing (a commit may remove more files than it adds). Null keys
    * in `keys` are dropped — SQL `NOT IN` null semantics would delete
    * nothing, and an erasure request for "null" is a caller bug either
    * way. Conflict-checked like overwrite.
    */
  def delete(spark: SparkSession, keys: DataFrame, table: String,
             key: String): Long = {
    import org.apache.spark.sql.functions.broadcast
    val k = replay(fsFor(spark, table), table, None)
    val (head, entries) = (k.version, liveEntries(k))
    val keysDf = keys.select(keys.columns.head).na.drop().distinct()
      .toDF("__k").select(col("__k").cast("string").as("__k"))
    if (keysDf.isEmpty) return head
    val touched = overlappingFiles(spark, entries, keysDf, key)
    if (touched.isEmpty) return head
    val survivors = readFiles(spark, table, touched)
      .join(broadcast(keysDf), col(key).cast("string") === col("__k"),
        "left_anti")
    val files = stageBatch(spark, survivors, table)
    val statCols = (entries.flatMap(_._2.map(_.col)) :+ key).distinct
    val stats = fileStats(spark, table, files, statCols)
    commit(spark, table, added = files, removed = touched,
      expectedHead = Some(head), stats = stats)
  }

  /** Size-tiered fold for APPEND-ONLY relations that grow forever (the
    * verdict audit log: one row per admitted vector, ∝ corpus by
    * design): rewrite ONLY the current files still below
    * `targetRowsPerFile` — per the commit log's [[RowCountStat]], zero
    * data IO to plan; stat-less files count as small (they get folded
    * and gain stats) — into at most the files their row sum needs.
    * MATURE files are never rewritten, so at fleet cadence the
    * amortized maintenance cost per tick is O(batch), not O(corpus):
    * a full [[compact]] of a ceiling-decade verdict table (~270 GB,
    * SCALE.md r13 math) every `maxVerdictFiles` ticks would otherwise
    * re-shuffle the whole audit history forever (VERDICT r12 → r13
    * item 7). Returns -1 when fewer than `minFilesToFold` small files
    * exist (nothing worth a commit). Conflict-checked like compact.
    */
  def foldSmallFiles(spark: SparkSession, table: String,
                     targetRowsPerFile: Long = 5000000L,
                     minFilesToFold: Int = 2): Long = {
    val k = replay(fsFor(spark, table), table, None)
    val (head, entries) = (k.version, liveEntries(k))
    val small = entries.filter { case (_, stats) =>
      stats.find(_.col == RowCountStat).forall(_.lo.toLong < targetRowsPerFile)
    }
    if (small.size < minFilesToFold) return -1L
    val before = small.map(_._1)
    val df = readFiles(spark, table, before)
    val rows = statRowSum(small).getOrElse(df.count())
    val nFiles = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    val files = stageBatch(spark, df.repartition(nFiles), table)
    val statCols = entries.flatMap(_._2.map(_.col)).distinct
    val stats =
      if (statCols.isEmpty) Nil else fileStats(spark, table, files, statCols)
    commit(spark, table, added = files, removed = before,
      expectedHead = Some(head), stats = stats)
  }

  /** Exact row sum from committed [[RowCountStat]]s — None when any file
    * lacks the stat (pre-row-count commits): the sizing fold then pays
    * one count job instead of guessing low (r14 — compaction/fold sizing
    * read the rows it was about to rewrite just to count them).
    */
  private def statRowSum(entries: Seq[(String, Seq[ColStat])]): Option[Long] = {
    val per = entries.map(_._2.find(_.col == RowCountStat).map(_.lo.toLong))
    if (per.forall(_.isDefined)) Some(per.flatten.sum) else None
  }

  /** Current row count: the [[RowCountStat]] sum — zero data IO — when
    * every live file carries one; one COUNTED read of the live files
    * otherwise. [[fileStats]] is keep-safe (a listing/URI mismatch
    * emits NO stats for a file rather than guessing), and a stat-less
    * file silently deflating the sum would fail a count validation —
    * the semantic tick's — for a commit that actually landed.
    */
  def rowCount(spark: SparkSession, table: String): Long = {
    val entries = currentFilesWithStats(spark, table)
    statRowSum(entries).getOrElse(readFiles(spark, table, entries.map(_._1)).count())
  }

  /** Transactional compaction: rewrite the current state at a target file
    * granularity and swap file sets in one commit. A crash at ANY point
    * leaves either the old state (no commit yet) or the new (commit
    * renamed) — never neither, unlike the `.__precompact` rename dance.
    */
  def compact(spark: SparkSession, table: String,
              targetRowsPerFile: Long = 5000000L,
              clusterBy: Option[String] = None,
              partitionBy: Seq[String] = Nil): Long = {
    val k = replay(fsFor(spark, table), table, None)
    val (head, entries) = (k.version, liveEntries(k))
    val before = entries.map(_._1)
    if (before.isEmpty) return -1L
    // readFiles, NOT a raw parquet read: Hive partition columns nested in
    // batch dirs and schema-evolved columns must survive the rewrite — a
    // plain leaf-file read would silently drop them from the table
    val df = readFiles(spark, table, before)
    val rows = statRowSum(entries).getOrElse(df.count())
    val nFiles = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    // clusterBy without Hive partitioning → RANGE repartition, so each
    // compacted file owns a disjoint slice of the cluster column: that's
    // what makes the recomputed file stats (below) and parquet row-group
    // stats actually prune. With Hive partitioning the shuffle key must
    // stay the partition columns (one dir per value); clusterBy then
    // only sorts within files.
    val cluster = clusterBy.filter(df.columns.contains)
    val repart = (partitionBy, cluster) match {
      case (ps, _) if ps.nonEmpty => df.repartition(nFiles, ps.map(col): _*)
      case (_, Some(c)) => df.repartitionByRange(nFiles, col(c))
      case _ => df.repartition(nFiles)
    }
    val clustered = cluster.map(c => repart.sortWithinPartitions(c)).getOrElse(repart)
    // pass partitionBy to keep the Hive layout (directory pruning);
    // without it, former partition columns persist as data columns
    val files = stageBatch(spark, clustered, table, partitionBy = partitionBy)
    // stats survive compaction: recompute per-file min/max for the UNION
    // of columns any pre-compact file carried stats for (compacting a
    // stat-bearing table must not silently turn off its pruning).
    // clusterBy makes the recomputed stats tight again — sorted files
    // have near-disjoint ranges, which is the read-side win.
    val statCols = entries.flatMap(_._2.map(_.col)).distinct
    val stats =
      if (statCols.isEmpty) Nil else fileStats(spark, table, files, statCols)
    // conflict-checked like overwrite: compacting a state that moved on
    // would remove files a concurrent commit still expects
    commit(spark, table, added = files, removed = before,
      expectedHead = Some(head), stats = stats)
  }

  /** Snapshot clone: publish `src`'s state at `version` (0 = head) as
    * commit v1 of a NEW table at `dst` — the Delta SHALLOW CLONE shape.
    * Data files are HARDLINKED when both sides are on a local POSIX
    * filesystem (zero-copy, O(files) metadata ops; the linked inodes
    * keep the clone readable even after the source compacts and vacuums
    * the originals away) and byte-copied otherwise (HDFS/object stores;
    * a reference-only clone would need absolute URIs in commits, and
    * TxTable deliberately keeps table-relative refs so vacuum/compact
    * stay closed over the table dir). Per-file column stats ride along,
    * so pruned reads work on the clone unchanged. After the clone the
    * two tables are fully independent: append/delete/compact/vacuum on
    * either never touches the other.
    *
    * 100 TB shape: no data pass at all on local/posix (links) and one
    * distributed-copy-free sequential copy otherwise; the commit is one
    * JSON rename either way. Cloning a petabyte table is a metadata
    * operation, which is the entire point.
    */
  def cloneAt(spark: SparkSession, src: String, dst: String,
              version: Long = 0L): Long = {
    val sfs = fsFor(spark, src)
    val dfs = fsFor(spark, dst)
    require(headVersion(spark, dst) == 0L, s"clone target $dst is not empty")
    val v = if (version == 0L) headVersion(spark, src) else version
    require(v > 0L, s"clone source $src has no committed version")
    val entries = liveEntries(replay(sfs, src, Some(v)))
    val batch = "batch-clone-" + java.util.UUID.randomUUID().toString.take(12)
    dfs.mkdirs(new Path(s"$dst/$batch"))
    val added = entries.map { case (rel, _) =>
      val flat = rel.replace("/", "__")
      val from = sfs.makeQualified(new Path(s"$src/$rel"))
      val to = dfs.makeQualified(new Path(s"$dst/$batch/$flat"))
      val linked =
        if (from.toUri.getScheme == "file" && to.toUri.getScheme == "file")
          try {
            java.nio.file.Files.createLink(
              java.nio.file.Paths.get(to.toUri), java.nio.file.Paths.get(from.toUri))
            true
          } catch { case _: UnsupportedOperationException | _: java.io.IOException => false }
        else false
      if (!linked)
        org.apache.hadoop.fs.FileUtil.copy(sfs, from, dfs, to, false,
          spark.sparkContext.hadoopConfiguration)
      s"$batch/$flat"
    }
    commit(spark, dst, added = added, removed = Nil, stats = entries.map(_._2))
  }

  /** Metadata-only RESTORE: make `toVersion`'s content the new head
    * WITHOUT copying any data — the restore commit adds back exactly
    * the files of `toVersion` that the current head dropped and removes
    * exactly the head files `toVersion` lacks (Delta's RESTORE
    * semantics). History is preserved: time travel still reads every
    * intermediate version, and the restore is itself just another
    * commit (optimistic-concurrency checked against the head it saw).
    * [[vacuum]] keeps the re-referenced files — they are reachable from
    * the new head. Per-file column stats ride along, so pruned reads
    * keep working on the restored head.
    */
  def restore(spark: SparkSession, table: String, toVersion: Long): Long = {
    val fs = fsFor(spark, table)
    val head = headVersion(spark, table)
    require(toVersion >= 1L && toVersion <= head,
      s"restore target v$toVersion outside [1, $head]")
    val target = liveEntries(replay(fs, table, Some(toVersion)))
    val current = liveEntries(replay(fs, table, Some(head)))
    val targetSet = target.map(_._1).toSet
    val curSet = current.map(_._1).toSet
    val added = target.filterNot(e => curSet.contains(e._1))
    val removed = current.map(_._1).filterNot(targetSet.contains)
    commit(spark, table, added = added.map(_._1), removed = removed,
      expectedHead = Some(head), stats = added.map(_._2))
  }

  /** Delete data files no commit path can reach (crash orphans and
    * compacted-away files). `minAgeMs` is the reader/writer grace window
    * and applies to BOTH classes: staged-but-uncommitted batches younger
    * than it are kept (an in-flight writer isn't vacuumed mid-commit),
    * and compacted-away files younger than it are kept (a reader that
    * planned against the pre-compact version can still finish). Run with
    * minAgeMs larger than the longest expected query/commit.
    */
  def vacuum(spark: SparkSession, table: String, minAgeMs: Long = 3600000L): Seq[String] = {
    val fs = fsFor(spark, table)
    val root = new Path(table)
    if (!fs.exists(root)) return Nil
    val live = currentFiles(spark, table).toSet
    val cutoff = System.currentTimeMillis() - minAgeMs
    // qualify before relativizing: listFiles returns scheme-qualified
    // paths and URI.relativize refuses mixed absolute/relative forms
    val qRoot = fs.makeQualified(root)
    val it = fs.listFiles(qRoot, true)
    val deleted = scala.collection.mutable.ListBuffer[String]()
    while (it.hasNext) {
      val st = it.next()
      val rel = qRoot.toUri.relativize(st.getPath.toUri).getPath
      val isLog = rel.startsWith("_graft_txn")
      // `_graft_*` table METADATA (index meta/drift sidecars and their
      // `._graft_*.tmp` staging) is NOT vacuum's domain: sidecars are
      // content-addressed and referenced through commit STATS, not the
      // live-file set, so the !live test would reap a LIVE index's
      // codebooks (SCALE.md round 12, index GC — the first fleet-cadence
      // vacuum destroyed the VecIndex meta). Their own GC with the
      // right liveness rule is [[graft.functions.AnnIndex.vacuumSidecars]].
      val name = st.getPath.getName
      val isSidecar = name.startsWith("_graft_") || name.startsWith("._graft_")
      // anything else not in the live set — crash orphans AND removed-
      // by-compaction files — is reclaimable once past the grace window
      // (no time travel in the minimal form)
      val dead = !isLog && !isSidecar && !live(rel) && st.getModificationTime < cutoff
      if (dead && fs.delete(st.getPath, false)) deleted += rel
    }
    // retired batch/partition dirs: deleting a dir's last file leaves
    // an EMPTY directory forever — at fleet cadence that is one
    // abandoned `batch-*` dir per append, unbounded (SCALE.md round 12,
    // index GC: +1 top-level entry per cycle). Reap aged empty dirs
    // bottom-up, never the root or the log dir. A dir emptied by the
    // pass above carries a fresh mtime (unlink updates it), so the
    // grace window keeps in-flight stagers safe; the non-recursive
    // delete re-checks emptiness atomically.
    def subDirs(p: Path): Seq[Path] = {
      val kids = fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
      kids.flatMap(subDirs) ++ kids
    }
    subDirs(qRoot).foreach { d =>
      val rel = qRoot.toUri.relativize(d.toUri).getPath
      // A lost race — a cross-process writer landing a file between
      // listStatus and delete — is NOT a soft `false` on every
      // FileSystem: RawLocalFileSystem and HDFS throw
      // (PathIsNotEmptyDirectory)IOException on a non-recursive delete
      // of a non-empty dir, and getFileStatus throws if a concurrent
      // vacuum already reaped it. Either way the right outcome is
      // "dir kept / already gone, keep sweeping", never aborting the
      // whole vacuum pass mid-run.
      val reaped = !rel.startsWith("_graft_txn") && scala.util.Try {
        fs.getFileStatus(d).getModificationTime < cutoff &&
          fs.listStatus(d).isEmpty && fs.delete(d, false)
      }.getOrElse(false)
      if (reaped) deleted += rel
    }
    // log cleaning: commits at versions ≤ the latest checkpoint (and
    // older checkpoints) are replay-redundant — the snapshot carries
    // their net effect. Same grace window: a reader that listed the log
    // before the checkpoint landed can still finish its replay.
    val (cs, ks) = listLog(fs, table)
    ks.lastOption.foreach { case (ckptV, _) =>
      (cs.filter(_._1 <= ckptV) ++ ks.dropRight(1)).foreach { case (_, p) =>
        if (fs.getFileStatus(p).getModificationTime < cutoff && fs.delete(p, false))
          deleted += s"_graft_txn/${p.getName}"
      }
    }
    // a DIRECTORY in the log is metadata that older TxTable versions
    // left: parquet twins of the checkpoint (`<v>.files/`) and their
    // staging dirs. TxTable now writes only files there and no reader
    // opens a dir, so each one is reaped once past the grace window.
    val logPath = new Path(logDir(table))
    if (fs.exists(logPath)) fs.listStatus(logPath).filter(_.isDirectory).foreach { st =>
      if (st.getModificationTime < cutoff && fs.delete(st.getPath, true))
        deleted += s"_graft_txn/${st.getPath.getName}"
    }
    deleted.toList
  }

  // ------------------------------------------------------------ internals

  /** Write `df` into a fresh staging batch dir WITHOUT committing; return
    * the table-relative parquet paths (nested under partition dirs when
    * `partitionBy` is set). Nothing is visible to readers until the paths
    * are passed to [[commit]]; an aborted batch is reclaimed with
    * [[deleteStaged]] (or eventually by [[vacuum]] after a crash).
    * This stage/validate/commit split is what gives IngestionRun
    * commit-or-nothing loads with no rollback machinery.
    */
  def stageBatch(spark: SparkSession, df: DataFrame, table: String,
                 partitionBy: Seq[String] = Nil,
                 maxRecordsPerFile: Long = 0L): Seq[String] = {
    val batch = "batch-" + java.util.UUID.randomUUID().toString.take(12)
    val w0 = df.write.option("compression", "snappy")
    val w1 = if (maxRecordsPerFile > 0) w0.option("maxRecordsPerFile", maxRecordsPerFile) else w0
    (if (partitionBy.nonEmpty) w1.partitionBy(partitionBy: _*) else w1)
      .parquet(s"$table/$batch")
    val fs = fsFor(spark, table)
    val qBatch = fs.makeQualified(new Path(s"$table/$batch"))
    val it = fs.listFiles(qBatch, true)
    val out = scala.collection.mutable.ListBuffer[String]()
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".parquet"))
        out += s"$batch/${qBatch.toUri.relativize(p.toUri).getPath}"
    }
    out.toList.sorted
  }

  /** Drop an uncommitted staged batch (the abort path). Only whole batch
    * dirs are removed, derived from the staged file list.
    */
  def deleteStaged(spark: SparkSession, table: String, staged: Seq[String]): Unit = {
    val fs = fsFor(spark, table)
    staged.map(_.split("/", 2)(0)).distinct
      .foreach(b => fs.delete(new Path(s"$table/$b"), true))
  }

  /** Publish one commit: write JSON to a temp name, then rename into the
    * next version slot.
    *
    * Concurrency, by layer:
    *  - same JVM: a per-table lock serializes version-select + publish —
    *    necessary because LOCAL filesystem rename is POSIX rename(2),
    *    which silently REPLACES an existing destination (two lock-free
    *    local racers could both "win" a version and one commit would
    *    vanish; HDFS rename returns false instead).
    *  - cross process (HDFS/stores with no-replace rename): a lost race
    *    surfaces as rename→false; a pure APPEND (expectedHead = None)
    *    re-reads the head and retries, a conflict-checked commit
    *    (overwrite/compact) throws ConcurrentModificationException —
    *    its staged removed-set is stale and must be rebuilt, not
    *    replayed. Cross-PROCESS writers on a plain local FS are outside
    *    the guarantee (same caveat as LogStore's JVM-wide lock).
    */
  def commit(spark: SparkSession, table: String,
             added: Seq[String], removed: Seq[String],
             expectedHead: Option[Long] = None,
             stats: Seq[Seq[ColStat]] = Nil,
             coordinator: CommitCoordinator = RenameCommitCoordinator): Long =
    commitOpt(spark, table, added, removed, expectedHead, stats, coordinator, txn = None)
      .getOrElse(throw new IllegalStateException(
        "unreachable: a txn-less commit never skips"))

  /** [[commit]] with [[appendOnce]]'s writer-txn idempotence, for
    * callers that stage their OWN batches (partitioned layouts like
    * [[graft.functions.AnnIndex]], which needs `stageBatch(partitionBy)`
    * rather than appendOnce's flat staging): returns None — publishing
    * nothing — when the log already records `appId` at a writer version
    * >= `writerVersion`. On a skip the STAGED FILES ARE THE CALLER'S to
    * reclaim ([[deleteStaged]]), exactly as appendOnce does internally.
    */
  def commitOnce(spark: SparkSession, table: String,
                 added: Seq[String], removed: Seq[String],
                 appId: String, writerVersion: Long,
                 stats: Seq[Seq[ColStat]] = Nil,
                 expectedHead: Option[Long] = None): Option[Long] = {
    require(writerVersion >= 0, s"writerVersion must be >= 0, got $writerVersion")
    commitOpt(spark, table, added, removed, expectedHead = expectedHead,
      stats = stats, txn = Some((appId, writerVersion)))
  }

  /** [[commit]] plus writer-transaction idempotence: with `txn =
    * Some((appId, writerVersion))`, the commit is SKIPPED (returns None,
    * publishes nothing) when the log already records `appId` at a
    * writer version >= `writerVersion`. The check runs inside the
    * version-select/publish loop: a racer landing the same txn first
    * costs us one putIfAbsent miss, after which the re-read sees its
    * watermark and we skip — the commit-or-skip decision is atomic with
    * publication, which is what makes a retried writer exactly-once
    * rather than at-least-once (the Delta `txn` action's contract).
    */
  private[sink] def commitOpt(spark: SparkSession, table: String,
             added: Seq[String], removed: Seq[String],
             expectedHead: Option[Long] = None,
             stats: Seq[Seq[ColStat]] = Nil,
             coordinator: CommitCoordinator = RenameCommitCoordinator,
             txn: Option[(String, Long)] = None): Option[Long] =
    lockFor(table).synchronized {
      val fs = fsFor(spark, table)
      fs.mkdirs(new Path(logDir(table)))
      var attempt = 1
      while (true) {
        // head from ONE name listing — no per-commit opens in the hot path
        val head = headOf(listLog(fs, table))
        expectedHead.filter(_ != head).foreach { e =>
          throw new java.util.ConcurrentModificationException(
            s"$table advanced to v$head (expected v$e): restage against the current state")
        }
        val version = head + 1L
        val target = new Path(f"${logDir(table)}/$version%08d.json")
        // read the prior state BEFORE publishing (checkpoint versions
        // only): if our publish wins, the log at `version` is exactly
        // (prior state + this commit) — no racer can slot in below us
        val wantCkpt = version % CheckpointEvery == 0
        val prior = if (wantCkpt || txn.isDefined) Some(replay(fs, table, None)) else None
        txn.foreach { case (app, wv) =>
          if (prior.exists(_.txns.exists { case (a, v) => a == app && v >= wv })) return None
        }
        val c = Commit(version, added, removed, stats, txn)
        if (coordinator.putIfAbsent(fs, target, render(c).getBytes("UTF-8"))) {
          // the checkpoint is this commit folded onto the prior state
          if (wantCkpt) prior.foreach(k => writeCheckpoint(fs, table, fold(k, Seq(c))))
          return Some(version)
        }
        // lost a cross-process race (coordinator cleaned up its own temp)
        if (expectedHead.isDefined)
          throw new java.util.ConcurrentModificationException(
            s"$table: lost commit race at v$version with a stale file set")
        if (attempt >= 5)
          throw new java.io.IOException(s"$table: commit race persisted for $attempt attempts")
        Thread.sleep(50L * attempt)
        attempt += 1
      }
      throw new IllegalStateException("unreachable")
    }

  /** Commits between checkpoints: replay opens one checkpoint plus at
    * most this many commits.
    */
  private val CheckpointEvery = 10

  /** Snapshot the live set to `<version>.ckpt`. Best-effort: the
    * checkpoint is pure replay acceleration — its content is a
    * deterministic function of the log at `version`, so a lost write (or
    * a racer writing the same version) costs opens, never correctness.
    */
  private def writeCheckpoint(fs: FileSystem, table: String, ckpt: Checkpoint): Unit =
    try {
      val target = new Path(f"${logDir(table)}/${ckpt.version}%08d.ckpt")
      val tmp = new Path(s"${logDir(table)}/.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = fs.create(tmp, false)
      try out.write(renderCkpt(ckpt).getBytes("UTF-8"))
      finally out.close()
      if (!fs.rename(tmp, target)) fs.delete(tmp, false)
    } catch { case _: Exception => () /* acceleration only */ }

  private val tableLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(table: String): Object =
    tableLocks.computeIfAbsent(table, _ => new Object)

  // Hand-rolled (de)serialization: no JSON lib on the offline classpath.
  // Paths are percent-encoded into the JSON, so ANY path character —
  // quotes, backslashes, commas in Hive partition values ("p=a,b"),
  // brackets — survives the regex-based replay instead of corrupting the
  // array split (percent-encoding leaves only [A-Za-z0-9.*_%+-], and '/'
  // round-trips through %2F).
  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  // A file's stats serialize as ONE percent-encoded token per file:
  // stat fields joined by \\u0001, stat lines by \\u0002 - both always
  // percent-encoded, so the outer regex/comma split never sees them.
  private val FieldSep = "\u0001"
  private val LineSep = "\u0002"

  private def encStatsArr(ss: Seq[Seq[ColStat]]): String =
    ss.map(fileStats => "\"" + enc(fileStats.map(st =>
      Seq(st.col, st.typ, st.lo, st.hi).mkString(FieldSep)).mkString(LineSep)) + "\"")
      .mkString("[", ",", "]")

  private def decStatsArr(raw: String): Seq[Seq[ColStat]] =
    if (raw.isEmpty) Nil
    else raw.split(",").toSeq.map { x =>
      val blob = dec(x.stripPrefix("\"").stripSuffix("\""))
      if (blob.isEmpty) Seq.empty[ColStat]
      else blob.split(LineSep).toSeq.map { line =>
        val f = line.split(FieldSep)
        require(f.length == 4, s"corrupt stat line: $line")
        ColStat(f(0), f(1), f(2), f(3))
      }
    }

  private[sink] def render(c: Commit): String = {
    def arr(xs: Seq[String]) =
      xs.map(x => "\"" + enc(x) + "\"").mkString("[", ",", "]")
    val statsPart =
      if (c.stats.isEmpty) "" else s""","stats":${encStatsArr(c.stats)}"""
    val txnPart = c.txn.map { case (a, v) =>
      s""","txn":["${enc(a)}",$v]""" }.getOrElse("")
    s"""{"version":${c.version},"added":${arr(c.added)},"removed":${arr(c.removed)}$statsPart$txnPart}"""
  }

  private[sink] def renderCkpt(c: Checkpoint): String = {
    val arr = c.live.map(x => "\"" + enc(x) + "\"").mkString("[", ",", "]")
    val statsPart =
      if (c.stats.forall(_.isEmpty)) ""
      else s""","livestats":${encStatsArr(c.stats)}"""
    // one percent-encoded token per (app, version) pair, like stats —
    // the outer comma split never sees the payload
    val txnsPart =
      if (c.txns.isEmpty) ""
      else s""","txns":${c.txns.map { case (a, v) =>
        "\"" + enc(a + FieldSep + v) + "\"" }.mkString("[", ",", "]")}"""
    s"""{"version":${c.version},"live":$arr$statsPart$txnsPart}"""
  }

  private val LiveRe = """"live":\[(.*?)\]""".r
  private val LiveStatsRe = """"livestats":\[(.*?)\]""".r
  private[sink] def parseCkpt(txt: String): Checkpoint = {
    val ver = VerRe.findFirstMatchIn(txt).map(_.group(1).toLong)
      .getOrElse(throw new IllegalArgumentException(s"bad checkpoint: $txt"))
    val live = LiveRe.findFirstMatchIn(txt).map(_.group(1))
      .getOrElse(throw new IllegalArgumentException(
        s"corrupt checkpoint (missing/unterminated live array): $txt"))
    val txns = TxnsRe.findFirstMatchIn(txt).map(_.group(1)).filter(_.nonEmpty)
      .map(_.split(",").toSeq.map { x =>
        val blob = dec(x.stripPrefix("\"").stripSuffix("\""))
        val cut = blob.lastIndexOf(FieldSep)
        require(cut >= 0, s"corrupt txn token: $blob")
        (blob.substring(0, cut), blob.substring(cut + 1).toLong)
      }).getOrElse(Nil)
    Checkpoint(ver,
      if (live.isEmpty) Nil
      else live.split(",").toSeq.map(x => dec(x.stripPrefix("\"").stripSuffix("\""))),
      LiveStatsRe.findFirstMatchIn(txt).map(m => decStatsArr(m.group(1))).getOrElse(Nil),
      txns)
  }
  private val TxnsRe = """"txns":\[(.*?)\]""".r

  private val ArrRe = """"(added|removed)":\[(.*?)\]""".r
  private val VerRe = """"version":(\d+)""".r
  private[sink] def parse(txt: String): Commit = {
    val ver = VerRe.findFirstMatchIn(txt).map(_.group(1).toLong)
      .getOrElse(throw new IllegalArgumentException(s"bad commit: $txt"))
    val arrs = ArrRe.findAllMatchIn(txt).map(m => m.group(1) ->
      (if (m.group(2).isEmpty) Nil
       else m.group(2).split(",").toSeq.map(x => dec(x.stripPrefix("\"").stripSuffix("\""))))).toMap
    // a commit with a truncated/absent array is CORRUPT, not empty —
    // fabricating Commit(v, Nil, Nil) would silently drop files on replay
    require(arrs.contains("added") && arrs.contains("removed"),
      s"corrupt commit (missing/unterminated added/removed arrays): $txt")
    val stats = StatsRe.findFirstMatchIn(txt).map(m => decStatsArr(m.group(1))).getOrElse(Nil)
    val txn = TxnRe.findFirstMatchIn(txt).map(m => (dec(m.group(1)), m.group(2).toLong))
    Commit(ver, arrs("added"), arrs("removed"), stats, txn)
  }
  private val StatsRe = """"stats":\[(.*?)\]""".r
  private val TxnRe = """"txn":\["(.*?)",(\d+)\]""".r
}
