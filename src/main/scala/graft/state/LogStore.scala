package graft.state

import java.sql.Timestamp
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{ReasonCode, RunLog, RunStatus}

/** Append-only execution-log state store + watermark recovery.
  *
  * The reference persists one CSV per run under a date-bucketed S3 prefix
  * and rediscovers the latest via a day→month→prev-month→all fallback walk
  * (reference: common_utils.py:292-401). Here the log is ONE append-only
  * parquet table per lake — the "latest state" is a filter + max aggregate,
  * and the fallback walk disappears (SURVEY.md §2.10).
  */
final class LogStore(spark: SparkSession, path: String) {
  import spark.implicits._

  /** Append one batch of log rows, safe under CONCURRENT WRITERS — in
    * this JVM or across processes (round 9; r8 left cross-process as a
    * doc-only single-writer contract). A direct
    * `write.mode(Append).parquet(path)` stages through the
    * FileOutputCommitter's `_temporary/0` under the LOG dir — shared by
    * every concurrent job targeting it, same-process or not, so one
    * writer's commit/cleanup deletes another's staged files. Here each
    * append gets its OWN hidden staging dir (`.stage-<uuid>` — dot
    * prefix, invisible to readers) and publishes by renaming the one
    * part file to a UNIQUE final name: no two appends ever share a
    * staging area or contend on a destination, so even a
    * clobber-on-rename object store has no same-name victim
    * (LogStoreHostileSpec races unlocked writers to prove it). A killed
    * writer leaves only hidden staging garbage; a TORN rename on a
    * copy+delete store still fails the next read loudly (pinned by the
    * hostile spec — recovery never proceeds on partial state). The
    * JVM-wide per-path lock stays as a cheap same-process serializer.
    *
    * The part file is written on the DRIVER by the log's one codec,
    * [[LogStore.writeRowsParquet]] — a log append is a handful of rows,
    * and a Spark job per append was one job per lifecycle run. Null
    * fields are fine: the codec's string and timestamp columns are
    * OPTIONAL.
    */
  def append(rows: Seq[RunLog]): Unit = LogStore.lockFor(path).synchronized {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p)
    val id = java.util.UUID.randomUUID().toString
    val stage = new org.apache.hadoop.fs.Path(p, s".stage-$id")
    try {
      val part = new org.apache.hadoop.fs.Path(stage, "part-0.snappy.parquet")
      LogStore.writeRowsParquet(spark, part, rows)
      val dst = new org.apache.hadoop.fs.Path(p, s"part-$id.snappy.parquet")
      require(fs.rename(part, dst), s"log append: rename $part -> $dst failed")
    } finally fs.delete(stage, true)
  }

  /** Missing log dir = no runs yet. Probed via Hadoop FS (`fs.exists`
    * never throws on absence) rather than by catching Spark's missing-path
    * error, whose TYPE is session-state-dependent: a fresh session
    * surfaces the raw `FileNotFoundException`, a warmed one wraps it in
    * `AnalysisException` — catching only the latter crashed the first
    * lifecycle run when it happened to be the session's first read. The
    * `AnalysisException` catch stays for the exists-but-empty dir a
    * killed first append can leave behind (no footer → no schema).
    *
    * Reads the VISIBLE file set (round 10): plain `part-*` appends,
    * plus `cpart-*` compaction outputs that a `_compact-*.json`
    * manifest references, minus every file any manifest lists as
    * replaced — see [[compact]] for why any listing snapshot of that
    * rule is a complete, duplicate-free row set.
    */
  def read(): Dataset[RunLog] = {
    val files = visible()
    if (files.isEmpty) spark.emptyDataset[RunLog]
    else try sparkRead(files)
    catch { case _: org.apache.spark.sql.AnalysisException => spark.emptyDataset[RunLog] }
  }

  /** The visible files (Nil when the log dir does not exist). */
  private def visible(): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) LogStore.visibleFiles(fs, p) else Nil
  }

  private def sparkRead(files: Seq[String]): Dataset[RunLog] =
    spark.read.parquet(files: _*).as[RunLog]

  def forIngestion(id: Long): Dataset[RunLog] =
    read().filter(_.lakeIngestionId == id)

  /** The visible rows as a DRIVER-side Seq — the watermark-recovery read
    * (a few rows per spec) with no Spark job, through the log's one
    * codec ([[LogStore.readRowsParquet]]). Every file this store writes
    * — appends and [[compact]] outputs alike — is in the codec's format,
    * so the Spark read runs only for files the codec refuses, and over
    * the same file list: a legacy Spark-written part (INT96 timestamps)
    * reads there, and a torn or vanished file fails there, loudly —
    * recovery never proceeds on partial state. Equality of the two
    * paths is spec-pinned (LogStoreDriverIoSpec).
    */
  def readRows(): Seq[RunLog] = rowsOf(visible())

  private def rowsOf(files: Seq[String]): Seq[RunLog] =
    if (files.isEmpty) Nil
    else LogStore.readRowsParquet(spark, files)
      .getOrElse(sparkRead(files).collect().toSeq)

  def forIngestionRows(id: Long): Seq[RunLog] =
    readRows().filter(_.lakeIngestionId == id)

  /** Fold the visible file set into ONE file — the fleet-scale fix for
    * one-part-file-per-append-forever (watermark recovery at thousands
    * of runs listed thousands of tiny files). The switch is ATOMIC for
    * readers and the old files stay readable until [[vacuumCompacted]]:
    *
    *  1. the visible rows are read on the driver and rewritten by the
    *     log's one codec (the [[readRows]] path: no Spark job unless a
    *     legacy file needs the fallback read) into a hidden staging dir,
    *     then published as `cpart-<uuid>.parquet` — INVISIBLE, because
    *     a cpart only counts once a manifest references it;
    *  2. `_compact-<uuid>.json` (compacted name + the replaced names)
    *     is temp-written and RENAMED in — the one atomic step. A
    *     listing before it sees exactly the old files; a listing after
    *     it sees the cpart and excludes every replaced file;
    *  3. replaced files are NOT deleted here: an in-flight reader that
    *     listed before the manifest finishes on the intact old files.
    *     [[vacuumCompacted]] reaps them after a grace age, TxTable
    *     vacuum-style.
    *
    * A crash before step 2 leaves only invisible garbage (staging dir /
    * unreferenced cpart); a crash after it is a completed compaction
    * minus the deferred cleanup. Same-process compactions/appends
    * serialize on the per-path lock; concurrent CROSS-PROCESS appends
    * are safe (a part landing after the listing is not in the replaced
    * set, so it stays visible) but concurrent cross-process COMPACTIONS
    * are not coordinated — run one compactor per log, like TxTable's
    * maintenance contract. Returns the number of files folded (0 = no
    * compaction was warranted).
    */
  def compact(): Int = LogStore.lockFor(path).synchronized {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0
    val victims = LogStore.visibleFiles(fs, p)
    if (victims.length <= 1) return 0
    val id = java.util.UUID.randomUUID().toString
    val stage = new org.apache.hadoop.fs.Path(p, s".stage-c-$id")
    try {
      val part = new org.apache.hadoop.fs.Path(stage, "part-0.snappy.parquet")
      LogStore.writeRowsParquet(spark, part, rowsOf(victims))
      val cpart = new org.apache.hadoop.fs.Path(p, s"cpart-$id.snappy.parquet")
      require(fs.rename(part, cpart), s"log compact: rename $part -> $cpart failed")
      val victimNames = victims.map(v => new org.apache.hadoop.fs.Path(v).getName)
      val mTmp = new org.apache.hadoop.fs.Path(p, s".manifest-$id.tmp")
      val out = fs.create(mTmp, true)
      try out.write(LogStore.renderManifest(cpart.getName, victimNames).getBytes("UTF-8"))
      finally out.close()
      val m = new org.apache.hadoop.fs.Path(p, s"_compact-$id.json")
      require(fs.rename(mTmp, m), s"log compact: manifest rename failed for $m")
      victims.length
    } finally fs.delete(stage, true)
  }

  /** Reap compaction leftovers older than `minAgeMs`: data files some
    * manifest replaced, manifests whose compacted file is itself gone
    * (superseded by a later compaction and already reaped), plus
    * crash-left invisible garbage — unreferenced `cpart-*` files (a
    * compactor that died between the cpart rename and the manifest
    * rename) and hidden `.stage-*` dirs (a killed writer/compactor).
    * A manifest whose cpart is LIVE is never touched — it is what makes
    * the cpart visible.
    *
    * The grace age for a REPLACED file is measured from its MANIFEST's
    * mtime — the instant the file became unreferenced — never from the
    * file's own mtime (its append time): an in-flight reader that
    * listed just before the manifest landed must get the full window
    * however old the appends are. For a `.stage-*` dir the age basis is
    * the NEWEST mtime anywhere in its tree — a writer stalled mid-write
    * keeps refreshing its part file's mtime, so a live staging dir is
    * only reaped if the whole write has been idle past the window (the
    * dir's own mtime alone goes stale the moment the part file is
    * created). Contract (the [[graft.sink.TxTable.vacuum]] discipline):
    * `minAgeMs` must exceed the longest plausible in-flight append or
    * compaction write — a too-small window can still reap a writer
    * whose ENTIRE write stalled longer than it, failing that writer's
    * part-file rename (loudly: [[append]] requires the rename).
    * Returns the deleted paths.
    */
  def vacuumCompacted(minAgeMs: Long = 3600000L): Seq[String] = LogStore.lockFor(path).synchronized {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    val now = System.currentTimeMillis()
    val all = fs.listStatus(p)
    val statuses = all.filter(st => !st.isDirectory)
    val byName = statuses.map(st => st.getPath.getName -> st).toMap
    val manifests = statuses
      .filter(st => st.getPath.getName.startsWith("_compact-") &&
        st.getPath.getName.endsWith(".json"))
    val parsed = manifests.map(m =>
      m -> LogStore.parseManifest(LogStore.slurp(fs, m.getPath)))
    // victim -> the replacement instant (latest manifest naming it)
    val replacedAt = parsed
      .flatMap { case (m, (_, rs)) => rs.map(_ -> m.getModificationTime) }
      .groupBy(_._1).map { case (n, ts) => n -> ts.map(_._2).max }
    val deletedData = replacedAt.toSeq.sortBy(_._1).flatMap { case (name, mAt) =>
      byName.get(name).collect {
        case st if now - mAt >= minAgeMs &&
            fs.delete(st.getPath, false) => st.getPath.toString
      }
    }
    val deletedManifests = parsed.flatMap { case (m, (cpart, _)) =>
      val gone = !fs.exists(new org.apache.hadoop.fs.Path(p, cpart))
      if (gone && now - m.getModificationTime >= minAgeMs &&
        fs.delete(m.getPath, false)) Some(m.getPath.toString) else None
    }
    // crash garbage: cparts no manifest references (invisible by
    // construction — a compaction in flight right now is younger than
    // any sane grace age), and hidden staging dirs
    val referenced = parsed.map(_._2._1).toSet
    val orphanCparts = statuses.collect {
      case st if st.getPath.getName.startsWith("cpart-") &&
          !referenced.contains(st.getPath.getName) &&
          !replacedAt.contains(st.getPath.getName) &&
          now - st.getModificationTime >= minAgeMs &&
          fs.delete(st.getPath, false) => st.getPath.toString
    }
    val staleStages = all.collect {
      case st if st.isDirectory && st.getPath.getName.startsWith(".stage-") &&
          now - LogStore.newestMtime(fs, st) >= minAgeMs &&
          fs.delete(st.getPath, true) => st.getPath.toString
    }
    deletedData ++ deletedManifests ++ orphanCparts ++ staleStages
  }
}

object LogStore {
  /** Per-path append locks (JVM-wide, covers multiple LogStore
    * instances over one log directory).
    */
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(path: String): Object =
    locks.computeIfAbsent(path, _ => new Object)

  /** The files a reader opens, from ONE directory listing: plain
    * `part-*` appends and manifest-referenced `cpart-*` compaction
    * outputs, minus everything any `_compact-*.json` manifest replaced.
    * Every listing snapshot under this rule is a complete,
    * duplicate-free row set — the manifest rename is the only switch.
    */
  private[state] def visibleFiles(fs: org.apache.hadoop.fs.FileSystem,
                                  p: org.apache.hadoop.fs.Path): Seq[String] = {
    val statuses = fs.listStatus(p).filter(st => !st.isDirectory)
    val parsed = statuses
      .filter(st => st.getPath.getName.startsWith("_compact-") &&
        st.getPath.getName.endsWith(".json"))
      .map(m => parseManifest(slurp(fs, m.getPath)))
    val replaced = parsed.flatMap(_._2).toSet
    val referenced = parsed.map(_._1).toSet
    statuses.collect {
      case st if {
        val n = st.getPath.getName
        n.endsWith(".parquet") && !replaced.contains(n) &&
          (n.startsWith("part-") || (n.startsWith("cpart-") && referenced.contains(n)))
      } => st.getPath.toString
    }.sorted
  }

  private[state] def renderManifest(compacted: String, replaced: Seq[String]): String =
    s"""{"compacted":"$compacted","replaced":[${
      replaced.map(r => "\"" + r + "\"").mkString(",")}]}"""

  private[state] def parseManifest(txt: String): (String, Seq[String]) = {
    val c = """"compacted":"([^"]+)"""".r.findFirstMatchIn(txt)
      .getOrElse(sys.error(s"log manifest: missing compacted in $txt")).group(1)
    val arr = """"replaced":\[([^\]]*)\]""".r.findFirstMatchIn(txt)
      .getOrElse(sys.error(s"log manifest: missing replaced in $txt")).group(1)
    val rs = """"([^"]+)"""".r.findAllMatchIn(arr).map(_.group(1)).toSeq
    (c, rs)
  }

  /** Newest modification time anywhere under `st`'s tree (the stage-dir
    * vacuum age basis — see [[LogStore.vacuumCompacted]]). Falls back to
    * the dir's own mtime when the tree vanishes mid-walk (a concurrent
    * writer finishing and cleaning up: the next vacuum sees the truth).
    */
  private[state] def newestMtime(fs: org.apache.hadoop.fs.FileSystem,
                                 st: org.apache.hadoop.fs.FileStatus): Long =
    try {
      var newest = st.getModificationTime
      val stack = scala.collection.mutable.Stack(st)
      while (stack.nonEmpty) {
        val cur = stack.pop()
        newest = math.max(newest, cur.getModificationTime)
        if (cur.isDirectory) fs.listStatus(cur.getPath).foreach(stack.push)
      }
      newest
    } catch { case _: java.io.FileNotFoundException => st.getModificationTime }

  /** [[RunLog]]'s parquet schema — the log's one codec: the column
    * names/order the Spark writer produced, timestamps as INT64
    * TIMESTAMP(MICROS, UTC) (an encoding Spark reads natively), and the
    * string and timestamp columns OPTIONAL so a null field is stored as
    * null, not refused.
    */
  private val RunLogSchema: org.apache.parquet.schema.MessageType = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val str = LogicalTypeAnnotation.stringType()
    val tsMicros = LogicalTypeAnnotation.timestampType(true,
      LogicalTypeAnnotation.TimeUnit.MICROS)
    Types.buildMessage()
      .required(INT64).named("lakeIngestionId")
      .optional(BINARY).as(str).named("executionStatus")
      .optional(BINARY).as(str).named("startValue")
      .optional(BINARY).as(str).named("endValue")
      .required(INT64).named("sourceCount")
      .required(INT64).named("targetCount")
      .optional(BINARY).as(str).named("reasonCode")
      .optional(INT64).as(tsMicros).named("insertDatetime")
      .named("spark_schema")
  }

  private def tsToMicros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  private def microsToTs(us: Long): Timestamp = {
    val ms = Math.floorDiv(us, 1000L)
    val t = new Timestamp(ms)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** The codec's writer: one driver-side snappy parquet file of `rows`
    * at `part`, no Spark job — the producer of every [[LogStore.append]]
    * part and every [[LogStore.compact]] cpart. A null field is left
    * unset (stored as null).
    */
  private[state] def writeRowsParquet(spark: SparkSession,
                                      part: org.apache.hadoop.fs.Path,
                                      rows: Seq[RunLog]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroup
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(part, conf))
      .withConf(conf)
      .withType(RunLogSchema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach { r =>
      val g = new SimpleGroup(RunLogSchema)
      def str(field: String, v: String): Unit = if (v != null) g.add(field, v)
      g.add("lakeIngestionId", r.lakeIngestionId)
      str("executionStatus", r.executionStatus)
      str("startValue", r.startValue)
      str("endValue", r.endValue)
      g.add("sourceCount", r.sourceCount)
      g.add("targetCount", r.targetCount)
      str("reasonCode", r.reasonCode)
      if (r.insertDatetime != null) g.add("insertDatetime", tsToMicros(r.insertDatetime))
      w.write(g)
    } finally w.close()
  }

  /** The codec's reader: a driver-side Group read of `files` into
    * [[RunLog]]s, an unset field read back as null. None when any file
    * is not in the codec's physical shape (a legacy Spark-written part
    * with INT96 timestamps, a schema-evolved log) or cannot be read (a
    * torn file) — the caller falls back to the Spark read of the same
    * files.
    */
  private[state] def readRowsParquet(spark: SparkSession,
                                     files: Seq[String]): Option[Seq[RunLog]] = {
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    def str(g: Group, field: String): String =
      if (g.getFieldRepetitionCount(field) == 0) null else g.getString(field, 0)
    try {
      val out = scala.collection.mutable.ListBuffer[RunLog]()
      files.foreach { f =>
        val inFile = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f), conf)
        val fr = ParquetFileReader.open(inFile)
        val schema = try fr.getFooter.getFileMetaData.getSchema finally fr.close()
        val names = (0 until schema.getFieldCount).map(schema.getFieldName)
        val tsField = names.indexOf("insertDatetime")
        val ok = names.toSet == (0 until RunLogSchema.getFieldCount)
            .map(RunLogSchema.getFieldName).toSet &&
          tsField >= 0 && schema.getFields.get(tsField).isPrimitive &&
          schema.getFields.get(tsField).asPrimitiveType()
            .getPrimitiveTypeName == PrimitiveTypeName.INT64
        if (!ok) return None
        val r = ParquetReader.builder(new GroupReadSupport(), inFile.getPath)
          .withConf(conf).build()
        try {
          var g = r.read()
          while (g != null) {
            out += RunLog(
              g.getLong("lakeIngestionId", 0),
              str(g, "executionStatus"),
              str(g, "startValue"),
              str(g, "endValue"),
              g.getLong("sourceCount", 0),
              g.getLong("targetCount", 0),
              str(g, "reasonCode"),
              if (g.getFieldRepetitionCount("insertDatetime") == 0) null
              else microsToTs(g.getLong("insertDatetime", 0)))
            g = r.read()
          }
        } finally r.close()
      }
      Some(out.toList)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private[state] def slurp(fs: org.apache.hadoop.fs.FileSystem,
                           p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      bytes.toString("UTF-8")
    } finally in.close()
  }

  /** Accepts optional fractional seconds — delta columns are often µs
    * precision and `end_value` records them exactly (a plain
    * seconds-only parse crashed watermark recovery on such logs).
    */
  val TsFmt: DateTimeFormatter = new java.time.format.DateTimeFormatterBuilder()
    .appendPattern("yyyy-MM-dd HH:mm:ss")
    .optionalStart()
    .appendFraction(java.time.temporal.ChronoField.NANO_OF_SECOND, 1, 9, true)
    .optionalEnd()
    .toFormatter()

  private val PlainFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val FracFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
  private def fmtTs(t: LocalDateTime): String =
    if (t.getNano == 0) t.format(PlainFmt) else t.format(FracFmt)

  /** First-run defaults (reference: ingest_mysql_data.py:113-124). */
  val FirstRunDatetime = "2020-01-01 00:00:00"
  val FirstRunInt = "1"

  /** Watermark recovery + bump (reference: ingest_mysql_data.py:110-149).
    *
    * start value = max(end_value) over prior `success` rows, bumped by
    * +1 second (datetime mode) or +1 (integer mode). The +1s bump can skip
    * rows that land in the boundary second after the run — kept for parity
    * but `inclusiveBump=false` switches to the principled `> last` form
    * (SURVEY.md §7.4).
    */
  def nextStartValue(priorSuccess: Seq[RunLog], dateNotAvailable: Boolean,
                     inclusiveBump: Boolean = true): (String, String) = {
    val ends = priorSuccess.filter(_.executionStatus == RunStatus.Success).map(_.endValue)
      .filter(v => v != null && v.nonEmpty)
    if (ends.isEmpty) {
      val start = if (dateNotAvailable) FirstRunInt else FirstRunDatetime
      (start, ReasonCode.FirstTime)
    } else if (dateNotAvailable) {
      val last = ends.map(_.toLong).max
      val start = if (inclusiveBump) (last + 1).toString else last.toString
      (start, ReasonCode.Subsequent)
    } else {
      val last = ends.map(e => LocalDateTime.parse(e, TsFmt)).max(Ordering.fromLessThan[LocalDateTime](_ isBefore _))
      val bumped = if (inclusiveBump) last.plusSeconds(1) else last
      (fmtTs(bumped), ReasonCode.Subsequent)
    }
  }

  def now(): Timestamp = new Timestamp(System.currentTimeMillis())

  /** Latest log row per ingestion id — argmax by insert time with a
    * deterministic status tie-break (reference picks max insert_datetime
    * with ties unhandled, start_ingestion.py:96-97; SURVEY.md §7.4).
    */
  def latestPerIngestion(logs: DataFrame): DataFrame =
    graft.operators.LatestRowView.latestPerKey(
      logs, Seq("lakeIngestionId"), Seq(col("insertDatetime"), col("executionStatus")))
}
