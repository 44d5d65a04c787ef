package graft.functions

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sink.TxTable

/** The IVFADC index AT REST — [[Similarity.ivfPqBuildIndex]]'s relation
  * (id, cid, ri, __c0..__c{m-1}) materialized as a transactional
  * [[TxTable]] Hive-partitioned by coarse list id, with both quantizers
  * persisted as a JSON sidecar. This is the second half of the 100 TB
  * index story (the first is bounded-sample training): a probe that
  * reshuffles the code relation per query batch re-pays the corpus scan
  * every session, while an index written ONCE with `cid=` partition
  * directories lets every search open only the `nProbe` probed lists'
  * files — at √n lists and fixed nProbe, the opened fraction
  * nProbe/√n COLLAPSES as the corpus grows (8/448 ≈ 1.8% at 200k
  * vectors, 8/10⁴ at 10¹⁰). Pruning happens at FILE-LISTING time
  * (driver-side, from the commit log's per-file cid stats — min = max =
  * the dir value under Hive layout), so the FileScan the executors see
  * contains only probed-list files; reference behavior: the
  * partitioned-lake layout of datalakeingestion
  * utils/incremental_data_load.py:60-96, applied to an ANN index.
  *
  * Everything downstream of the pruned read is byte-shared with the
  * in-session path ([[Similarity.adcProbeScore]] / the re-rank
  * reconstruction), so at-rest answers are BIT-IDENTICAL to
  * [[Similarity.ivfPqTopKPortable]] / [[Similarity.ivfPqRerankTopK]] at
  * the same geometry — pinned by AnnIndexSpec and gate q235.
  *
  * Maintenance rides the TxTable layer: [[append]] encodes NEW vectors
  * with the FROZEN quantizers (one map pass, no retraining — the
  * standard IVF maintenance contract; re-[[build]] when drift warrants
  * it — an atomic REPLACE: new rows + new sidecar swap in as one
  * conflict-checked commit, see [[metaHash]]), commits are atomic and
  * conflict-checked, and
  * `TxTable.compact(clusterBy = "id", partitionBy = Seq("cid"))`
  * re-tightens file sizes without losing the partition layout.
  */
object AnnIndex {

  /** The frozen quantizer pair + geometry, as persisted in the sidecar.
    * `coarse2` empty = single-level coarse lists (`coarse` is the list
    * centroid array); nonEmpty = IMI PRODUCT cells (`coarse`/`coarse2`
    * are the half codebooks, cid = c1·|coarse2| + c2) — the round-10
    * shape that takes the at-rest index past the 4096-list ceiling.
    */
  final case class Meta(dim: Int, m: Int, kCentroids: Int,
                        coarse: Array[Array[Long]],
                        codebooks: Array[Array[Array[Long]]],
                        coarse2: Array[Array[Long]] = Array.empty) {
    def isImi: Boolean = coarse2.nonEmpty
    /** The frozen coarse quantizer this sidecar encodes. */
    private[functions] def quant: Similarity.Coarse[Long] =
      if (isImi) Similarity.Imi(Similarity.IntKernel, coarse, coarse2)
      else Similarity.Flat(Similarity.IntKernel, coarse)
  }

  /** Sidecars are CONTENT-ADDRESSED (`_graft_ann_meta.<md5-prefix>.json`,
    * immutable once written) and every index row carries its quantizers'
    * hash in the constant `__qz` column, so the commit's per-file stats
    * record which sidecar decodes which rows. The pairing therefore
    * switches ATOMICALLY with the data commit: a [[build]] over a live
    * index stages rows tagged with the NEW hash and publishes ONE commit
    * that adds them and removes every prior file — readers see (old
    * rows, old sidecar) or (new rows, new sidecar), never a cross (the
    * round-9 layout wrote one mutable sidecar BEFORE the commit, so a
    * rebuild — or a build that died between sidecar and commit — decoded
    * old codes with new codebooks). A crash before the commit leaves
    * only an unreferenced sidecar; a clobbering rename re-lands
    * identical bytes.
    */
  // the content address + publish/read discipline is shared by all
  // three index families — see [[IndexSidecar]]
  private[functions] def metaHash(rendered: String): String =
    IndexSidecar.hash(rendered)

  /** The column tagging every row with its quantizer sidecar's hash. */
  val QzCol = "__qz"

  private def fsFor(spark: SparkSession, table: String) =
    new Path(table).getFileSystem(spark.sessionState.newHadoopConf())

  private def renderLongs(a: Array[Long]): String = a.mkString("[", ",", "]")
  private def render2(a: Array[Array[Long]]): String =
    a.map(renderLongs).mkString("[", ",", "]")
  private def render3(a: Array[Array[Array[Long]]]): String =
    a.map(render2).mkString("[", ",", "]")

  private[functions] def renderMeta(m: Meta): String =
    s"""{"dim":${m.dim},"m":${m.m},"kCentroids":${m.kCentroids},""" +
      (if (m.isImi) s""""coarse2":${render2(m.coarse2)},""" else "") +
      s""""coarse":${render2(m.coarse)},"codebooks":${render3(m.codebooks)}}"""

  /** Minimal recursive parser for the sidecar's fixed shape — nested
    * arrays of longs only (the commit-log JSON discipline: no
    * dependency, no reflection). Returns (value, next index).
    */
  private def parseNested(s: String, i0: Int): (Any, Int) = {
    var i = i0
    require(s.charAt(i) == '[', s"expected [ at $i")
    i += 1
    val items = scala.collection.mutable.ListBuffer[Any]()
    while (s.charAt(i) != ']') {
      if (s.charAt(i) == ',') i += 1
      else if (s.charAt(i) == '[') {
        val (v, ni) = parseNested(s, i); items += v; i = ni
      } else {
        val j0 = i
        while ("-0123456789".indexOf(s.charAt(i)) >= 0) i += 1
        items += s.substring(j0, i).toLong
      }
    }
    (items.toList, i + 1)
  }

  private def toA1(v: Any): Array[Long] =
    v.asInstanceOf[List[Any]].map(_.asInstanceOf[Long]).toArray
  private def toA2(v: Any): Array[Array[Long]] =
    v.asInstanceOf[List[Any]].map(toA1).toArray
  private def toA3(v: Any): Array[Array[Array[Long]]] =
    v.asInstanceOf[List[Any]].map(toA2).toArray

  private[functions] def parseMeta(txt: String): Meta = {
    def intField(k: String): Int = {
      val m = ("\"" + k + "\":(-?\\d+)").r.findFirstMatchIn(txt)
        .getOrElse(sys.error(s"ann meta: missing $k"))
      m.group(1).toInt
    }
    def arrField(k: String): Any = {
      val at = txt.indexOf("\"" + k + "\":")
      require(at >= 0, s"ann meta: missing $k")
      parseNested(txt, at + k.length + 3)._1
    }
    val coarse2 =
      if (txt.contains("\"coarse2\":")) toA2(arrField("coarse2"))
      else Array.empty[Array[Long]]
    Meta(intField("dim"), intField("m"), intField("kCentroids"),
      toA2(arrField("coarse")), toA3(arrField("codebooks")), coarse2)
  }

  /** The committed rows' quantizer hash, from the commit log's `__qz`
    * stats — the one source of truth for which sidecar decodes the
    * current state. Requires a committed, consistently-tagged index.
    */
  def currentMetaHash(spark: SparkSession, table: String): String = {
    val hashes = TxTable.currentFilesWithStats(spark, table)
      .flatMap(_._2.find(_.col == QzCol).map(_.lo)).distinct
    require(hashes.nonEmpty,
      s"$table carries no quantizer tag in its committed stats — not a built AnnIndex (or empty)")
    require(hashes.size == 1,
      s"$table mixes quantizer generations ${hashes.mkString(", ")} — a torn maintenance write; rebuild")
    hashes.head
  }

  /** Read the quantizer sidecar paired with the CURRENT commit. */
  def readMeta(spark: SparkSession, table: String): Meta =
    readMetaAt(spark, table, currentMetaHash(spark, table))._1

  private def readMetaAt(spark: SparkSession, table: String,
                         hash: String): (Meta, String) =
    (parseMeta(IndexSidecar.read(spark, table, "ann", hash)), hash)

  /** Write the sidecar to its content-addressed path; returns the hash.
    * Idempotent (same meta → same path, same bytes) and unreferenced
    * until a commit lands rows tagged with the hash ([[IndexSidecar]]).
    */
  private def writeMeta(spark: SparkSession, table: String, meta: Meta): String =
    IndexSidecar.write(spark, table, "ann", renderMeta(meta))

  /** Train (bounded sample), encode (one corpus pass), and land the
    * index as ONE TxTable commit: `cid=` Hive partition dirs (the
    * repartition on cid gives one task — and so ~one file — per list;
    * `maxRecordsPerFile` re-splits oversized lists), per-file cid stats
    * in the commit for listing-time pruning, quantizers in the sidecar.
    * Returns the committed version.
    *
    * 100 TB shape: training touches ≤ [[Similarity.MaxTrainRows]]
    * rows; the encode pass is map-only over the corpus; the shuffle is
    * |corpus| skinny (id, cid, ri, codes) rows into the partitioned
    * write — after which every search is bounded by its probed lists.
    */
  def build(spark: SparkSession, corpus: DataFrame, table: String,
            dim: Int, m: Int = 4, kCentroids: Int = 8, nCentroids: Int = 0,
            coarseIters: Int = 3, pqIters: Int = 2,
            cId: String = "vec_id", cVec: String = "embedding",
            maxTrainRows: Long = Similarity.MaxTrainRows,
            maxRecordsPerFile: Long = 5000000L,
            imiCutoverRows: Long = Similarity.MaxSingleLevelRows): Long = {
    // derived sizing past the single-level ceiling hands off to the
    // IMI product grid — list size must not grow linearly just because
    // the caller kept the default (the semDedup/marginTopK discipline).
    // The sizing count collapses to a footer-level count(*); the
    // derived half-k is FORWARDED so the grid build never re-derives.
    if (nCentroids <= 0) {
      val n = corpus.count()
      if (n > imiCutoverRows)
        return buildImi(spark, corpus, table, dim, m, kCentroids,
          kPerHalf = Similarity.imiHalfCentroids(n, Similarity.ImiTargetClusterSize),
          coarseIters = coarseIters, pqIters = pqIters, cId = cId, cVec = cVec,
          maxTrainRows = maxTrainRows, maxRecordsPerFile = maxRecordsPerFile)
    }
    buildWith(spark, corpus, table, dim, m, kCentroids, coarseIters, pqIters,
      cId, cVec, maxTrainRows, maxRecordsPerFile, imi = false,
      n => if (nCentroids > 0) nCentroids else Similarity.autoCentroidsTable(n))
  }

  /** [[build]] with the IMI PRODUCT coarse grid: cell count derives as
    * n / targetCellSize from two ≤4096-entry half codebooks, so list
    * size — and the per-query candidate volume nProbe·cellSize — stays
    * bounded at ANY corpus size (the single-level √n rule saturates at
    * 4096 lists). Same replace semantics, sidecar pairing, Hive
    * `cid=` layout, pruning, drift stats, and frozen-quantizer
    * append/appendOnce as the single-level index.
    */
  def buildImi(spark: SparkSession, corpus: DataFrame, table: String,
               dim: Int, m: Int = 4, kCentroids: Int = 8, kPerHalf: Int = 0,
               coarseIters: Int = 3, pqIters: Int = 2,
               cId: String = "vec_id", cVec: String = "embedding",
               maxTrainRows: Long = Similarity.MaxTrainRows,
               targetCellSize: Long = Similarity.ImiTargetClusterSize,
               maxRecordsPerFile: Long = 5000000L): Long =
    buildWith(spark, corpus, table, dim, m, kCentroids, coarseIters, pqIters,
      cId, cVec, maxTrainRows, maxRecordsPerFile, imi = true,
      n => if (kPerHalf > 0) kPerHalf else Similarity.imiHalfCentroids(n, targetCellSize))

  /** The one build body: [[Similarity.ivfPqBuildIndex]] over either
    * layout, then ONE replacing commit. REPLACE semantics over a live
    * index: the prior state is captured first and the commit swaps it
    * out conflict-checked (expectedHead), so a concurrent append can
    * never be silently resurrected with stale codebooks.
    */
  private def buildWith(spark: SparkSession, corpus: DataFrame, table: String,
                        dim: Int, m: Int, kCentroids: Int, coarseIters: Int,
                        pqIters: Int, cId: String, cVec: String,
                        maxTrainRows: Long, maxRecordsPerFile: Long,
                        imi: Boolean, cells: Long => Int): Long = {
    val (index, quant, codebooks) = Similarity.ivfPqBuildIndex(corpus, dim, m,
      kCentroids, coarseIters, pqIters, cId, cVec, maxTrainRows, imi, cells)
    // an index with no rows carries no quantizer tag in its commit
    // stats, so nothing could ever read it back
    require(quant.nCells > 0, s"AnnIndex: empty corpus, nothing to index at $table")
    val head = TxTable.headVersion(spark, table)
    val prior = TxTable.currentFiles(spark, table)
    val (coarse, coarse2) = quant.parts
    val hash = writeMeta(spark, table, Meta(dim, m, kCentroids, coarse, codebooks, coarse2))
    val v = commitIndexRows(spark, index.withColumn(QzCol, lit(hash)), table,
      maxRecordsPerFile, removed = prior, expectedHead = Some(head))
    clearDriftStats(spark, table)
    v
  }

  /** Explicit width for the `cid`-partitioned stage writes of every
    * index layout (this one, [[VecIndex]], [[MarginIndex]]) — r14,
    * guide §2.6: with a bare `repartition(col("cid"))`, AQE's
    * bytes-proxy coalescing folds the tiny-input many-dir write onto
    * ONE post-shuffle task, which then opens/writes/closes one parquet
    * writer per `cid=` dir SERIALLY (measured 0.28–0.66 s per
    * build/append at gate scale — the single biggest job of every
    * index entry — while the other 31 cores idle). A user-specified
    * partition count is AQE-exempt (the r13 pair-join idiom) and the
    * session knob keeps it scale-parameterized: at production widths
    * this is exactly the shuffle the write always had before AQE
    * coalescing. File layout is UNCHANGED by the width — every cid
    * still hashes wholly into one task, so it stays one file per
    * `cid=` dir (± maxRecordsPerFile splits) with identical rows and
    * therefore identical per-file commit stats.
    */
  private[functions] def cidWriteParts(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  /** Stage `index` rows under `cid=` dirs and publish one stats-bearing
    * commit (shared by [[build]] and [[append]]).
    */
  private def commitIndexRows(spark: SparkSession, index: DataFrame,
                              table: String, maxRecordsPerFile: Long,
                              removed: Seq[String],
                              expectedHead: Option[Long]): Long = {
    val files = TxTable.stageBatch(spark,
      index.repartition(cidWriteParts(index), col("cid")), table,
      partitionBy = Seq("cid"), maxRecordsPerFile = maxRecordsPerFile)
    val stats = TxTable.fileStats(spark, table, files, Seq("cid", QzCol))
    TxTable.commit(spark, table, added = files, removed = removed,
      expectedHead = expectedHead, stats = stats)
  }

  /** Encode `newRows` with FROZEN quantizers — one map-only pass, no
    * Lloyd. Shared by [[append]] and [[appendOnce]].
    */
  private def encodeWith(meta: Meta, hash: String, newRows: DataFrame,
                         cId: String, cVec: String): DataFrame = {
    val vi = newRows
      .select(col(cId).cast("long").as("id"), col(cVec).cast("array<double>").as("v"))
      .withColumn("vi", Similarity.toIntVec(col("v")))
    Similarity.pqIndexRows(Similarity.assignResidual(vi, meta.quant),
        meta.codebooks, meta.dim / meta.m)
      .withColumn(QzCol, lit(hash))
  }

  /** Rebuild-warranted drift signal: an appended batch whose
    * total-variation distance from the indexed occupancy reaches this
    * means at least half its probability mass lands in lists shaped
    * unlike the corpus the quantizers were trained on — ADC error and
    * probe recall degrade from there. The stat is recorded, never
    * enforced: rebuild cadence is the operator's call.
    *
    * How to read it under GRADUAL shift (SCALE.md round 11, "Drift vs
    * recall under gradual mixture shift"): for a batch mixing fraction α
    * of a new mode into the trained distribution, TV grows ≈ α · TV(pure
    * new mode) — the stat is a per-batch MIXTURE ESTIMATE, linear in α.
    * On the measured curve, new-data ADC recall had already fallen ~50%
    * from its peak by TV ≈ 0.45, so waiting for a single batch to cross
    * 0.5 reads the alarm late: treat 0.5 as the one-batch alarm (a
    * mostly-shifted batch) and a SUSTAINED trailing mean ≥ ~0.3 — above
    * the measured 0.23-0.26 in-distribution noise floor — as the rebuild
    * trigger for slow mixture rotation.
    */
  val DriftThreshold: Double = 0.5

  /** Total-variation distance between two list-occupancy histograms
    * (0 = identically shaped, 1 = disjoint).
    */
  private[functions] def tvDistance(p: Map[Long, Long], q: Map[Long, Long]): Double = {
    val (np, nq) = (math.max(1L, p.values.sum).toDouble, math.max(1L, q.values.sum).toDouble)
    (p.keySet ++ q.keySet).toSeq
      .map(k => math.abs(p.getOrElse(k, 0L) / np - q.getOrElse(k, 0L) / nq))
      .sum / 2.0
  }

  private def occupancyOf(spark: SparkSession, table: String,
                          files: Seq[String]): Map[Long, Long] =
    if (files.isEmpty) Map.empty
    else TxTable.readFiles(spark, table, files)
      .groupBy(col("cid").cast("long").as("cid")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** List occupancy from commit-log stats ALONE where possible: under
    * the Hive layout every file's cid stat is lo = hi, and row counts
    * ride each stats-bearing commit ([[TxTable.RowCountStat]]) — so the
    * histogram is a driver-side fold over the log, zero data IO. Files
    * missing either stat (pre-row-count commits) fall back to one
    * pruned data read.
    */
  private def occupancyOfEntries(spark: SparkSession, table: String,
      entries: Seq[(String, Seq[TxTable.ColStat])]): Map[Long, Long] = {
    def statOcc(st: Seq[TxTable.ColStat]): Option[(Long, Long)] = for {
      c <- st.find(_.col == "cid") if c.lo == c.hi
      n <- st.find(_.col == TxTable.RowCountStat)
    } yield (c.lo.toLong, n.lo.toLong)
    val (statted, rest) = entries.partition(e => statOcc(e._2).isDefined)
    val base = statted.flatMap(e => statOcc(e._2))
      .groupMapReduce(_._1)(_._2)(_ + _)
    if (rest.isEmpty) base
    else {
      val read = occupancyOf(spark, table, rest.map(_._1))
      (base.keySet ++ read.keySet).map(k =>
        k -> (base.getOrElse(k, 0L) + read.getOrElse(k, 0L))).toMap
    }
  }

  private def driftPath(table: String, version: Long) =
    new Path(s"$table/_graft_ann_drift.v$version.json")

  /** Write the per-commit drift sidecar (tmp + rename; unique name per
    * version, so clobber-on-rename re-lands identical bytes).
    */
  private def writeDrift(spark: SparkSession, table: String,
                         version: Long, tv: Double, n: Long): Unit = {
    val fs = fsFor(spark, table)
    val tmp = new Path(s"$table/._graft_ann_drift.v$version.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(
      s"""{"version":$version,"tv":$tv,"n":$n,"threshold":$DriftThreshold}"""
        .getBytes("UTF-8"))
    finally out.close()
    fs.delete(driftPath(table, version), false)
    require(fs.rename(tmp, driftPath(table, version)),
      s"drift sidecar rename failed for $table v$version")
  }

  /** The recorded (version, tv) drift stats, commit order. */
  def driftHistory(spark: SparkSession, table: String): Seq[(Long, Double)] =
    driftStats(spark, table).map(t => (t._1, t._2))

  /** The recorded (version, tv, batchRows) drift stats, commit order.
    * `batchRows` lets the rebuild fold weigh the EVIDENCE: a tiny
    * batch's occupancy histogram is sampling noise, not distribution
    * shift (SCALE.md round 12 index GC: 5-row twin batches read TV ≈ 0.5
    * on a 16-cell grid purely from small-sample concentration).
    * Pre-round-12 sidecars carry no `n` — read as Long.MaxValue (trusted;
    * they were recorded by probes with real batch sizes).
    */
  def driftStats(spark: SparkSession, table: String): Seq[(Long, Double, Long)] = {
    val fs = fsFor(spark, table)
    val p = new Path(table)
    if (!fs.exists(p)) return Nil
    fs.listStatus(p).map(_.getPath.getName)
      .filter(n => n.startsWith("_graft_ann_drift.v") && n.endsWith(".json"))
      .flatMap { n =>
        val in = fs.open(new Path(p, n))
        val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
        for {
          v <- """"version":(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toLong)
          tv <- """"tv":([-0-9.eE]+)""".r.findFirstMatchIn(txt).map(_.group(1).toDouble)
        } yield (v, tv, """"n":(\d+)""".r.findFirstMatchIn(txt)
          .map(_.group(1).toLong).getOrElse(Long.MaxValue))
      }.sortBy(_._1).toSeq
  }

  /** Delete every recorded drift sidecar. Called by the BUILD paths
    * after their replacing commit lands (r12 review finding): drift
    * stats describe batches against a RETIRED geometry, and
    * [[rebuildWarranted]]'s one-batch alarm scans the whole retained
    * history — without this, the signal keeps demanding the rebuild
    * the operator just performed until keepDrift newer appends age the
    * offending record out.
    */
  def clearDriftStats(spark: SparkSession, table: String): Int = {
    val fs = fsFor(spark, table)
    val p = new Path(table)
    if (!fs.exists(p)) return 0
    val re = "_graft_ann_drift\\.v\\d+\\.json".r
    fs.listStatus(p).map(_.getPath)
      .filter(q => re.pattern.matcher(q.getName).matches())
      .count(q => fs.delete(q, false))
  }

  /** GC for the table's NON-DATA sidecars, with the liveness rule
    * [[graft.sink.TxTable.vacuum]] cannot know (SCALE.md round 12,
    * "Index-table GC at fleet cadence": vacuum's !live test reaped a live
    * index's codebooks, so vacuum now skips `_graft_*` metadata entirely
    * and THIS owns it):
    *
    *  - meta sidecars (`_graft_*_meta.<hash>.json`, any family prefix)
    *    whose hash is NOT the current generation's
    *    ([[currentMetaHash]]) are rebuild leftovers — reaped;
    *  - drift stats older than the newest `keepDrift` versions are
    *    reaped (the rebuild signal folds a trailing WINDOW; the long
    *    tail is audit history, and one tiny file per append is
    *    unbounded at fleet cadence);
    *  - aged `._graft_*.tmp` staging files are crash garbage — reaped.
    *
    * All deletions respect `minAgeMs` (the vacuum grace contract: an
    * in-flight BUILD publishes its new sidecar before its commit
    * lands — the grace window keeps a cross-process GC from eating it;
    * the same-process maintainer is already serialized). Runs on the
    * [[compactIfNeeded]] cadence so maintainers get it for free.
    * Returns the deleted names.
    */
  def vacuumSidecars(spark: SparkSession, table: String,
                     keepDrift: Int = 256,
                     minAgeMs: Long = 3600000L): Seq[String] = {
    val fs = fsFor(spark, table)
    val root = new Path(table)
    if (!fs.exists(root)) return Nil
    val cutoff = System.currentTimeMillis() - minAgeMs
    val current = scala.util.Try(currentMetaHash(spark, table)).toOption
    val entries = fs.listStatus(root).filter(_.isFile)
    val metaRe = "_graft_[a-z]+_meta\\.([0-9a-f]+)\\.json".r
    val driftRe = "_graft_ann_drift\\.v(\\d+)\\.json".r
    val driftVersions = entries.flatMap(e =>
      driftRe.findFirstMatchIn(e.getPath.getName).map(_.group(1).toLong))
    val driftFloor =
      if (driftVersions.isEmpty) Long.MinValue
      else driftVersions.max - keepDrift
    // a stale meta's grace runs from its SUPERSESSION, not its own
    // mtime (r12 review finding: a month-old sidecar would be reaped
    // the instant a rebuild retired it, while a cross-process reader
    // that resolved the old hash just before the swap still needs it).
    // The rebuild writes the NEW sidecar at supersession time, so the
    // current meta file's mtime IS that instant — stale metas are
    // reapable only once it has aged past the grace.
    val supersededLongAgo = current.exists(h => entries.exists { e =>
      e.getPath.getName match {
        case metaRe(eh) => eh == h && e.getModificationTime < cutoff
        case _ => false
      }
    })
    val deleted = scala.collection.mutable.ListBuffer[String]()
    entries.foreach { e =>
      val name = e.getPath.getName
      val dead = name match {
        case metaRe(h) => current.exists(_ != h) && supersededLongAgo
        case driftRe(v) => v.toLong <= driftFloor
        case n => n.startsWith("._graft_") && n.endsWith(".tmp")
      }
      if (dead && e.getModificationTime < cutoff &&
          fs.delete(e.getPath, false)) deleted += name
    }
    deleted.toList
  }

  /** The in-distribution TV noise floor the round-11 drift probe
    * (SCALE.md) measured (0.23 — 0.26 across unshifted appends at the
    * probe geometry): a trailing mean must clear it decisively before a
    * rebuild is worth its cost.
    */
  val SustainedDriftThreshold: Double = 0.3

  /** The sustained-drift rebuild rule as a PURE fold, spec-pinnable
    * against the measured mixture curve (SCALE.md round 11) without a
    * table: warranted iff (a) any recorded batch TV reaches
    * [[DriftThreshold]] — the one-batch alarm, a mostly-shifted batch
    * — or (b) the trailing mean of the last `window` stats reaches
    * [[SustainedDriftThreshold]] — the gradual-rotation trigger the
    * r11 probe measured (0.5 fires one append AFTER new-data recall
    * has already collapsed ~50%; the ~0.3 trailing mean fires at
    * sustained α≈0.5-0.6, above the 0.23-0.26 in-distribution floor,
    * while a rebuild still recovers everything). Fewer than `window`
    * recorded appends is no evidence, not an alarm — only the
    * one-batch rule can fire there.
    */
  private[functions] def rebuildWarrantedFrom(tvs: Seq[Double],
      window: Int = 3,
      sustained: Double = SustainedDriftThreshold): Boolean =
    tvs.exists(_ >= DriftThreshold) || (tvs.length >= window &&
      tvs.takeRight(window).sum / window >= sustained)

  /** [[rebuildWarrantedFrom]] over the index's recorded
    * [[driftStats]] — a driver-side sidecar fold, ZERO data IO at
    * any index size. The r11 verdict's item: the rule lived in
    * [[DriftThreshold]]'s doc comment; now the maintainers surface it
    * as a logged signal each batch. It stays a SIGNAL — rebuilds
    * replace the live index and retrain geometry, an operator
    * decision, never an automatic side effect of an append loop.
    *
    * Batches below `minBatchRows` are NOT evidence: a 5-row batch on a
    * 16-cell grid reads TV ≈ 0.5 from small-sample concentration alone
    * (SCALE.md round 12 index GC), so tiny maintenance appends would ring
    * the alarm forever. Size it to at least a few rows per list; the
    * round-11 drift calibration used 400-row batches on 16 lists.
    */
  def rebuildWarranted(spark: SparkSession, table: String,
                       window: Int = 3,
                       sustained: Double = SustainedDriftThreshold,
                       minBatchRows: Long = 32L): Boolean =
    rebuildWarrantedFrom(driftStats(spark, table)
      .collect { case (_, tv, n) if n >= minBatchRows => tv },
      window, sustained)

  /** Incremental maintenance: encode NEW vectors with the index's
    * FROZEN quantizers (meta sidecar) — one map-only pass, no Lloyd —
    * and append them as one commit. The standard IVF contract: list
    * geometry is fixed at build time; rebuild when the data drifts —
    * and drift is now OBSERVABLE: each append records the
    * total-variation distance between the batch's list occupancy and
    * the pre-append index's as a per-commit sidecar
    * ([[driftHistory]]; [[DriftThreshold]] documents the
    * rebuild-warranted level). Both histograms fold commit-log stats
    * (cid dir values + per-file row counts) driver-side — recording
    * drift costs ZERO data IO at any index size.
    */
  def append(spark: SparkSession, newRows: DataFrame, table: String,
             cId: String = "vec_id", cVec: String = "embedding",
             maxRecordsPerFile: Long = 5000000L,
             recordDrift: Boolean = true): Long =
    appendImpl(spark, newRows, table, cId, cVec, maxRecordsPerFile,
      recordDrift, txn = None)
      .getOrElse(throw new IllegalStateException(
        "unreachable: a txn-less index append never skips"))

  /** [[append]] with writer-transaction idempotence — exactly-once
    * index maintenance under retries and the sink half of a streaming
    * maintainer (`foreachBatch((batch, id) => appendOnce(..., id))`,
    * the [[TxTable.appendOnce]] contract): a replay of an
    * already-landed (appId, writerVersion) stages nothing durable and
    * returns None instead of double-appending the batch's vectors.
    */
  def appendOnce(spark: SparkSession, newRows: DataFrame, table: String,
                 appId: String, writerVersion: Long,
                 cId: String = "vec_id", cVec: String = "embedding",
                 maxRecordsPerFile: Long = 5000000L,
                 recordDrift: Boolean = true): Option[Long] = {
    require(writerVersion >= 0, s"writerVersion must be >= 0, got $writerVersion")
    // cheap fast path: no staging at all for an obvious duplicate
    if (TxTable.txnVersion(spark, table, appId).exists(_ >= writerVersion))
      return None
    appendImpl(spark, newRows, table, cId, cVec, maxRecordsPerFile,
      recordDrift, txn = Some((appId, writerVersion)))
  }

  /** The shared head-guarded append loop: the commit is conditioned on
    * the head read BEFORE the quantizer sidecar, so an append can never
    * land rows encoded with pre-replace quantizers into a concurrently
    * rebuilt index (a race that would mix __qz generations and brick
    * every read until a manual rebuild). Losing the race re-checks the
    * state and RE-COMMITS the already-staged files when the quantizer
    * generation is unchanged — a harmless concurrent append costs one
    * extra commit attempt, never a re-encode + rewrite of the whole
    * batch; only an actual rebuild (fresh `__qz`) restages. With `txn`
    * set, the writer watermark is re-checked at the TOP of every
    * iteration, so a duplicate replay that loses the head race to
    * concurrent commits skips as a no-op instead of exhausting retries
    * (both re-check rules are the round-10 ADVICE items).
    */
  private def appendImpl(spark: SparkSession, newRows: DataFrame, table: String,
                         cId: String, cVec: String, maxRecordsPerFile: Long,
                         recordDrift: Boolean,
                         txn: Option[(String, Long)]): Option[Long] =
    appendLoop(spark, table, hash => {
      val (meta, _) = readMetaAt(spark, table, hash)
      encodeWith(meta, hash, newRows, cId, cVec)
    }, maxRecordsPerFile, recordDrift, txn)

  /** The loop body of [[appendImpl]], parameterized by the frozen-meta
    * encoder (`hash => rows tagged with that hash, cid-assigned`) so
    * sibling index layouts ([[VecIndex]], [[MarginIndex]]) share the
    * race discipline and the drift sidecars without sharing a schema.
    */
  private[functions] def appendLoop(spark: SparkSession, table: String,
                                    encode: String => DataFrame,
                                    maxRecordsPerFile: Long,
                                    recordDrift: Boolean,
                                    txn: Option[(String, Long)]): Option[Long] = {
    var attempt = 0
    var staged: Seq[String] = Nil
    var stagedHash: String = null
    var stats: Seq[Seq[TxTable.ColStat]] = Nil
    var batch: Map[Long, Long] = Map.empty
    def dropStaged(): Unit = if (staged.nonEmpty) {
      TxTable.deleteStaged(spark, table, staged); staged = Nil
    }
    while (true) {
      txn.foreach { case (app, wv) =>
        if (TxTable.txnVersion(spark, table, app).exists(_ >= wv)) {
          dropStaged(); return None
        }
      }
      val head = TxTable.headVersion(spark, table)
      val hash = currentMetaHash(spark, table)
      if (staged.isEmpty || stagedHash != hash) {
        dropStaged()
        val encoded = encode(hash)
        staged = TxTable.stageBatch(spark,
          encoded.repartition(cidWriteParts(encoded), col("cid")),
          table, partitionBy = Seq("cid"), maxRecordsPerFile = maxRecordsPerFile)
        stats = TxTable.fileStats(spark, table, staged, Seq("cid", QzCol))
        stagedHash = hash
        // the batch histogram derives from the just-computed commit
        // stats — no extra job (and it only changes when we restage)
        batch = if (recordDrift) occupancyOfEntries(spark, table,
          staged.zip(stats)) else Map.empty[Long, Long]
      }
      // the prior side is a driver-side commit-log fold, re-read per
      // attempt so the drift stat reflects the state we commit against
      val prior = if (recordDrift) occupancyOfEntries(spark, table,
        TxTable.currentFilesWithStats(spark, table)) else Map.empty[Long, Long]
      try {
        val out = txn match {
          case None => Some(TxTable.commit(spark, table, added = staged,
            removed = Nil, expectedHead = Some(head), stats = stats))
          case Some((app, wv)) => TxTable.commitOnce(spark, table,
            added = staged, removed = Nil, appId = app, writerVersion = wv,
            stats = stats, expectedHead = Some(head))
        }
        out match {
          case Some(v) =>
            if (recordDrift) writeDrift(spark, table, v,
              tvDistance(prior, batch), batch.values.sum)
          case None => dropStaged()
        }
        return out
      } catch { case _: java.util.ConcurrentModificationException =>
        attempt += 1
        if (attempt >= 5) {
          dropStaged()
          throw new java.io.IOException(
            s"$table: index append lost the commit race $attempt times")
        }
        // staged files KEPT: the next iteration re-commits them against
        // the fresh head unless the quantizer generation moved
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Compact when the index carries more than `maxFilesPerList` files
    * per live list — the append-churn cadence (SCALE.md round 10,
    * "At-rest index under append churn"; each append adds up to one file
    * per touched list, so a probe opens ≈ appends-since-compaction ×
    * probed lists; at ~3 files/list the probe pays triple its
    * post-compaction opens). The check is
    * commit-log-only (driver-side file names + cid stats, no data IO);
    * the compaction keeps the Hive `cid=` layout and clusters by id.
    * Returns the compaction commit version, or None when the ratio is
    * healthy. Run it after appends — the SCALE.md cadence
    * recommendation as code, not prose.
    */
  def compactIfNeeded(spark: SparkSession, table: String,
                      maxFilesPerList: Double = 3.0,
                      targetRowsPerFile: Long = 5000000L): Option[Long] = {
    val stats = TxTable.currentFilesWithStats(spark, table)
    if (stats.isEmpty) return None
    val lists = stats.flatMap(_._2.find(_.col == "cid").map(_.lo)).distinct.size
    if (lists == 0 || stats.size <= lists * maxFilesPerList) None
    else Some {
      val v = TxTable.compact(spark, table, targetRowsPerFile,
        clusterBy = Some("id"), partitionBy = Seq("cid"))
      // sidecar GC rides the compaction cadence: rebuild-leftover
      // metas, the drift-stat tail, and aged tmp staging (cheap — one
      // top-level listing — and only when a compaction already paid)
      vacuumSidecars(spark, table)
      v
    }
  }

  /** The driver-side probed-list set of a (broadcast-small) query
    * relation — |queries|·nProbe ids, the pruning key. Exposed so specs
    * and operators can audit what a search will open.
    */
  def probedCids(spark: SparkSession, queries: DataFrame, meta: Meta,
                 nProbe: Int, qId: String = "query_id",
                 qVec: String = "query_vec"): Set[Long] =
    meta.quant.probeRows(Similarity.toQInt(queries, qId, qVec), "__qvi", nProbe, Nil)
      .distinct().collect().map(_.getAs[Number](0).longValue).toSet

  /** Committed files whose cid stats may hold a probed list — under the
    * Hive layout each file's stat is lo = hi = its dir's cid, so this
    * is exact directory pruning from the commit log (no FS listing, no
    * footer reads). Stat-less files are kept (the [[TxTable]] pruning
    * default: missing stats cost opens, never rows).
    */
  def probedFiles(spark: SparkSession, table: String,
                  probed: Set[Long]): Seq[String] =
    // One definition for every index family ([[TxTable.prunedFilesIn]]):
    // a driver scan of the replayed live set, one hash lookup per
    // Hive-statted file.
    TxTable.prunedFilesIn(spark, table, "cid", probed)

  /** ADC top-k against the at-rest index: prune files to the probed
    * lists, then the exact [[Similarity.adcProbeScore]] +
    * bounded-top-k path of the in-session search — results are
    * bit-identical to [[Similarity.ivfPqTopKPortable]] at the same
    * geometry (AnnIndexSpec / gate q235).
    */
  def search(spark: SparkSession, table: String, queries: DataFrame, k: Int,
             nProbe: Int = 8, qId: String = "query_id",
             qVec: String = "query_vec"): DataFrame =
    probedScores(spark, table, queries, Similarity.toQInt(queries, qId, qVec),
        nProbe, qId, qVec)
      .fold(emptyResult(spark, qId, "adc_q"))(p =>
        Similarity.topkByLowest(p.scored, k, qId, "adc_q"))

  /** IVFADC+R against the at-rest index: ADC shortlist of `rerank`
    * candidates, exact integer vectors reconstructed from the PRUNED
    * read's own residuals (`vi = ri + coarse(cid)` — shortlist members
    * are by construction inside probed lists, so no second read), exact
    * integer-L2 re-rank by [[Similarity.rerankTopK]] — the definition
    * [[Similarity.ivfPqRerankTopK]] uses, so the two are bit-identical
    * at the same geometry.
    */
  def searchRerank(spark: SparkSession, table: String, queries: DataFrame,
                   k: Int, rerank: Int, nProbe: Int = 8,
                   qId: String = "query_id",
                   qVec: String = "query_vec"): DataFrame = {
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    // converted once, eagerly: the ADC probes and the re-rank both read it
    val qint = Similarity.toQInt(queries, qId, qVec).localCheckpoint(true)
    probedScores(spark, table, queries, qint, nProbe, qId, qVec)
      .fold(emptyResult(spark, qId, "l2_q")) { case Probed(meta, index, scored) =>
        Similarity.rerankTopK(qint, index, scored, k, rerank, qId, meta.quant.centroidOf)
      }
  }

  /** The pruned read and its ADC candidates (qId, neighbor_id, adc_q). */
  private final case class Probed(meta: Meta, index: DataFrame, scored: DataFrame)

  /** The probe half both searches share: files pruned to the probed
    * lists, then the exact [[Similarity.adcProbeScore]] over the pruned
    * read. None when nothing can match — an
    * empty query set, or probed lists that are all EMPTY (Lloyd keeps
    * empty clusters' centroids, so there is no committed file, and a
    * schemaless scan would fail the join on `cid`).
    */
  private def probedScores(spark: SparkSession, table: String,
                           queries: DataFrame, qint: DataFrame, nProbe: Int,
                           qId: String, qVec: String): Option[Probed] = {
    val meta = readMeta(spark, table)
    val probed = probedCids(spark, queries, meta, nProbe, qId, qVec)
    val pf = if (probed.isEmpty) Nil else probedFiles(spark, table, probed)
    if (pf.isEmpty) None
    else {
      val index = TxTable.readFiles(spark, table, pf)
      Some(Probed(meta, index, Similarity.adcProbeScore(qint, index, meta.quant,
        meta.codebooks, meta.dim, meta.m, nProbe, qId)))
    }
  }

  private def emptyResult(spark: SparkSession, qId: String,
                          valCol: String): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Long)].toDF(qId, "neighbor_id", valCol)
  }
}
