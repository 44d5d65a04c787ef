package graft.functions

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector similarity over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, random-hyperplane
  * LSH, and the IVF family — inverted-file top-k, trained SemDeDup, the
  * margin legs and IVFADC (Jégou, Douze & Schmid, TPAMI 2011) — as the
  * scale paths.
  *
  * The IVF family is ONE algorithm over two independent axes, carried
  * by one value, the coarse quantizer [[Similarity.Coarse]]:
  *
  *  - the distance KERNEL: float cosine-ranked L2 over doubles with the
  *    codegen [[DotProduct]] ([[Similarity.FloatKernel]] — fast,
  *    deterministic, spec-pinned), or fixed-point integer L2 with the
  *    codegen [[IntSqDist]] ([[Similarity.IntKernel]] — every step
  *    replays bit for bit in SQL, so the `*Portable` entry points are
  *    oracle-gated);
  *  - the codebook LAYOUT: a flat list of centroids
  *    ([[Similarity.Flat]], √n lists) or the inverted multi-index grid
  *    of two half codebooks ([[Similarity.Imi]], Babenko & Lempitsky,
  *    CVPR 2012), which keeps cell size bounded past the 4096-list
  *    driver-array ceiling.
  *
  * The quantizer owns training (one Lloyd loop whose kernel supplies
  * the argmin and the mean), the cell id of a vector, the probe staging
  * and probe cells, the cell centroid lookup and the cell count. Each
  * public entry point picks a kernel and a layout and calls one body
  * per family (`ivfOn`, `semDedupOn`, `marginOn`, [[Similarity.ivfPqBuildIndex]]
  * + [[Similarity.adcProbeScore]]); the at-rest indexes ([[AnnIndex]],
  * [[VecIndex]], [[MarginIndex]]) rebuild the same value from their
  * sidecars. Argmins and probes take a chained literal tree up to
  * [[Similarity.MaxLiteralCentroids]] centroids (the form the oracles
  * replay) and one matrix literal with the kernel in a lambda past it
  * (O(1) plan size); both order by (distance, cid), ties to the lowest
  * cid, so they agree row for row.
  */
object Similarity {

  /** Cap for DERIVED list counts of the [[ivfTopK]]/[[ivfTopKPortable]]/
    * [[marginTopKAnnPortable]] rule ([[autoCentroids]]): bounds the
    * driver's centroid collect (cap×dim values). The other derived
    * counts ([[autoCentroidsTable]]) run to [[MaxTableCentroids]]; the
    * two rules agree up to 65,536 rows.
    */
  val MaxAutoCentroids = 256

  /** ceil(√n) capped — the standard IVF list-count sizing, applied when
    * the caller leaves `nCentroids` unset.
    */
  private[graft] def autoCentroids(n: Long): Int =
    math.min(MaxAutoCentroids.toLong,
      math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong)).toInt

  /** Dot product over two array<double> columns — the custom codegen'd
    * DotProduct expression (the higher-order-function composition is
    * CodegenFallback and ~10× slower on all-pairs scans; same IEEE fold
    * order, so results are bitwise identical).
    */
  def dot(a: Column, b: Column): Column = DotProduct.dotProduct(a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** Cosine from a pre-computed norm per side: on pair scans, compute
    * `l2norm` ONCE per row before the join and pass the norm columns here
    * — otherwise each norm is re-derived per PAIR (n² extra array walks
    * instead of n).
    */
  def cosineWithNorms(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  private[functions] def asDouble(c: Column): Column = c.cast("array<double>")

  /** md5-derived ±1 sign matrix for [[signedProjection]] — the sign of
    * cell (j, i) is the low bit of the first hex digit of
    * `md5("<seed>:<j>:<i>")`, so any SQL engine can regenerate the
    * identical matrix (`'0x' || substring(md5(s), 1, 1)` arithmetic, the
    * same portability trick as the MinHash/SimHash oracles). The matrix
    * is data-independent and tiny (outDim × inDim doubles) — a broadcast
    * literal, never a join.
    */
  def projectionSigns(inDim: Int, outDim: Int, seed: String): Array[Array[Double]] =
    Array.tabulate(outDim, inDim) { (j, i) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$j:$i".getBytes("UTF-8"))
      val firstHex = (h(0) & 0xF0) >>> 4
      if ((firstHex & 1) == 1) 1.0 else -1.0
    }

  /** Signed (Rademacher) random projection of an `array<double>` column
    * to `outDim` dimensions: out_j = Σ_i sign(j,i) · v_i. The standard
    * Achlioptas/JL dimensionality reduction — distances are preserved in
    * expectation, at 4× less memory per halving of dims — used as the
    * cheap coarse filter in front of exact cosine at corpus scale.
    * Pure per-row map against a literal sign matrix: zero shuffle, and
    * each output coordinate is one codegen'd [[DotProduct]] whose IEEE
    * fold order matches `list_dot_product`, so projections are
    * engine-reproducible bit for bit.
    */
  def signedProjection(vec: Column, inDim: Int, outDim: Int,
                       seed: String = "rp"): Column = {
    val signs = projectionSigns(inDim, outDim, seed)
    array((0 until outDim).map { j =>
      dot(vec, array(signs(j).map(lit): _*))
    }: _*)
  }

  /** Exact brute-force top-k: broadcast the query set, one corpus pass,
    * per-query top-k via the bounded TopKByScore aggregator
    * (deterministic: cosine desc, id asc). Output:
    * (query_id, neighbor_id, cos).
    *
    * The aggregator's partial aggregation trims every map partition to k
    * candidates per query before the shuffle — O(k·queries) exchanged,
    * vs a window plan sorting the whole |corpus|×|queries| score set.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     qId: String = "query_id", qVec: String = "query_vec",
                     cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val q = queries.select(col(qId), asDouble(col(qVec)).as("__qv"))
      .withColumn("__qn", l2norm(col("__qv")))
    // the |corpus|·|queries| cosine stream inherits the corpus SCAN's
    // parallelism — one file = one task with every other core idle
    // (measured r13: the 4M-pair gold leg ran a single 2.9 s task).
    // FanOut is a no-op once the corpus arrives in >= default-parallelism
    // splits, so the floor is scale-adaptive, not a local[32] tune.
    val c = graft.util.FanOut(corpus.select(col(cId), asDouble(col(cVec)).as("__cv")))
      .withColumn("__cn", l2norm(col("__cv")))
    topkOf(c.crossJoin(broadcast(q))
      .filter(col(qId) =!= col(cId)) // a vector is not its own neighbor
      .select(col(qId), col(cId).as("neighbor_id"),
        cosineWithNorms(col("__qv"), col("__cv"), col("__qn"), col("__cn")).as("cos")), k, qId)
  }

  /** Hamming top-k over [[Quantize.signBits]] signatures: broadcast the
    * (small) query signature set, one codegen pass over the corpus
    * signatures (`Σ_b bit_count(xor)` — integer ops on 2 longs per pair
    * instead of a 64-float dot product), bounded per-query top-k via the
    * aggregator. Smallest distance wins; ties break to the lowest
    * neighbor id. This is the billion-vector first-pass shape: the scan
    * reads 16 B/vector (32× under float32), so a 100 TB float corpus
    * filters through a ~3 TB signature pass before any full-precision
    * re-rank touches the survivors.
    *
    * `queries`: (query_id, query_sig array<long>); `corpus`:
    * (vec_id, sig array<long>), both from [[Quantize.signBits]] with the
    * same dim/blockBits.
    */
  def hammingTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                  nBlocks: Int): DataFrame = {
    val ham = (0 until nBlocks)
      .map(b => bit_count(col("query_sig").getItem(b)
        .bitwiseXOR(col("sig").getItem(b))))
      .reduce(_ + _)
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        ham.cast("long").as("hamming"))
    val spark = scored.sparkSession
    import spark.implicits._
    val agg = new TopKByScore(k).toColumn
    scored.select(col("query_id").cast("long"), col("neighbor_id"),
        -col("hamming").cast("double"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(agg)
      .flatMap { case (q, top) =>
        top.zipWithIndex.map { case ((id, negHam), i) =>
          (q, id, (i + 1).toLong, -negHam.toLong) } }
      .toDF("query_id", "neighbor_id", "rank", "hamming")
  }

  /** Contrastive hard-negative mining: for each labeled query vector,
    * the k most cosine-similar corpus vectors with a DIFFERENT label —
    * the "looks alike, isn't" pairs a contrastive/embedding trainer
    * wants next to each positive. Same scale shape as
    * [[bruteForceTopK]]: broadcast queries, one corpus pass, bounded
    * per-query top-k (shuffles k·|queries| rows, never the corpus).
    *
    * `queries`: (query_id, query_vec, query_label); `corpus`:
    * (vec_id, embedding, label). Emits (query_id, neg_id, rank, cos).
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("query_id"), asDouble(col("query_vec")).as("__qv"),
        col("query_label"))
      .withColumn("__qn", l2norm(col("__qv")))
    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("__cv"),
        col("label"))
      .withColumn("__cn", l2norm(col("__cv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("label") =!= col("query_label"))
      .select(col("query_id"), col("vec_id").as("neg_id"),
        cosineWithNorms(col("__qv"), col("__cv"), col("__qn"), col("__cn")).as("cos"))
    val spark = scored.sparkSession
    import spark.implicits._
    val agg = new TopKByScore(k).toColumn
    scored.select(col("query_id").cast("long"), col("neg_id").cast("long"), col("cos"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(agg)
      .flatMap { case (qid, top) =>
        top.zipWithIndex.map { case ((id, cos), i) => (qid, id, (i + 1).toLong, cos) } }
      .toDF("query_id", "neg_id", "rank", "cos")
  }

  /** (query_id, neighbor_id, cos) → top-k per query via the aggregator. */
  private[functions] def topkOf(scored: DataFrame, k: Int, qId: String): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val agg = new TopKByScore(k).toColumn
    scored.select(col(qId).cast("long"), col("neighbor_id").cast("long"), col("cos"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(agg)
      .flatMap { case (q, top) => top.map(t => (q, t._1, t._2)) }
      .toDF(qId, "neighbor_id", "cos")
  }

  /** Deterministic random hyperplanes: `nPlanes` unit-free normals of
    * dimension `dim`, seeded — driver-side tiny, broadcast as literals.
    */
  def hyperplanes(dim: Int, nPlanes: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** ENGINE-PORTABLE hyperplane tables: ±1 (Rademacher) normals from the
    * md5 sign matrix of [[projectionSigns]] — sign-LSH is equally valid
    * under ±1 normals (the collision probability 1 − θ/π only needs a
    * symmetric direction distribution), and any SQL engine regenerates
    * the exact matrix (`'0x' || substring(md5('<prefix>:<t>:<j>:<i>'),
    * 1, 1)` low-bit arithmetic), which puts the FULL ANN pipeline —
    * signatures, multi-probe expansion, candidate join, exact re-rank —
    * under a DuckDB hash oracle instead of a recall-floor spec.
    */
  def portableTables(dim: Int, bitsPerTable: Int, nTables: Int,
                     seedPrefix: String = "ann"): Seq[Seq[Seq[Double]]] =
    (0 until nTables).map(t =>
      projectionSigns(dim, bitsPerTable, s"$seedPrefix:$t")
        .map(_.toSeq).toSeq)

  /** Signatures pack one sign bit per plane into a Long: `1L << i` wraps
    * at i = 64 and bit 63 flips the sign, so ≥ 63 planes silently alias
    * distinct signatures into the same bucket key.
    */
  private def requireBits(bitsPerTable: Int): Unit =
    require(bitsPerTable >= 1 && bitsPerTable <= 62,
      s"bitsPerTable must be in [1, 62] (Long sign-bit packing), got $bitsPerTable")

  /** Sign-bit LSH signature of a vector under the given hyperplanes —
    * one small integer per row, computed in codegen.
    */
  def lshSignature(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(asDouble(vec), lit(p.toArray)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Approximate top-k via MULTI-TABLE, MULTI-PROBE sign-bit LSH — the
    * standard cosine-LSH construction (Indyk–Motwani; multi-probe per
    * Lv et al., VLDB'07). A single exact-signature table has recall
    * `(1 − θ/π)^b` per neighbor — ~2% at b=8 for cos≈0.5 neighbors, as
    * the recall spec measured. Instead:
    *
    *  - `nTables` independent b-bit tables; a pair is a candidate if it
    *    collides in ANY table (recall `1 − (1 − p^b̃)^L`);
    *  - the QUERY side (broadcast, tiny) also probes every signature
    *    within Hamming distance `probeHamming` per table — for b=8,
    *    H2 is 37 probe rows per (query, table), ZERO extra corpus-side
    *    data, so multi-probe is shuffle-free. For moderate-cosine
    *    neighbors (p ≈ 0.63/bit) per-table hit prob is ~0.38 at H2 vs
    *    ~0.15 at H1 — measured recall@10 0.5857 → 0.9429 on the spec's
    *    fixture;
    *  - candidates are deduped on (query, corpus) id before scoring;
    *    returned scores are exact cosine on the candidate set.
    *
    * 100 TB shape: the corpus carries (table, sig, id) — `nTables` skinny
    * rows per vector — into an equi-join on (table, sig); vectors are
    * re-attached to the DEDUPED pair list only. Candidate volume (and the
    * recall/cost trade) is tuned by `bitsPerTable` (up) vs `nTables` /
    * `probeHamming` (down).
    */
  def annTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
              nTables: Int = 8, bitsPerTable: Int = 8, probeHamming: Int = 2,
              qId: String = "query_id", qVec: String = "query_vec",
              cId: String = "vec_id", cVec: String = "embedding",
              tablesOverride: Option[Seq[Seq[Seq[Double]]]] = None): DataFrame = {
    requireBits(bitsPerTable)
    require(probeHamming >= 0 && probeHamming <= 2,
      s"probeHamming must be 0, 1 or 2, got $probeHamming")
    tablesOverride.foreach(ts => require(
      ts.size == nTables && ts.forall(_.size == bitsPerTable),
      s"tablesOverride shape must be $nTables tables x $bitsPerTable planes"))
    val tables = tablesOverride.getOrElse((0 until nTables).map(t =>
      hyperplanes(dim, bitsPerTable, seed = 42L + t)))

    def sigs(v: Column): Column = array(tables.map(p => lshSignature(v, p)): _*)

    val c = corpus.select(col(cId), asDouble(col(cVec)).as("__cv"))
      .withColumn("__cn", l2norm(col("__cv")))
    val cSigs = c.select(col(cId), posexplode(sigs(col("__cv"))).as(Seq("__tbl", "__sig")))

    val q = queries.select(col(qId), asDouble(col(qVec)).as("__qv"))
      .withColumn("__qn", l2norm(col("__qv")))
    // per table: the exact signature plus all probes within the Hamming
    // budget (H1 flips each bit; H2 adds every bit pair)
    val probesOf: Column => Column = sig => {
      val h1 = (0 until bitsPerTable).map(j => sig.bitwiseXOR(lit(1L << j)))
      val h2 = for (j <- 0 until bitsPerTable; l <- j + 1 until bitsPerTable)
        yield sig.bitwiseXOR(lit((1L << j) | (1L << l)))
      val probes = probeHamming match {
        case 0 => Seq(sig)
        case 1 => sig +: h1
        case _ => (sig +: h1) ++ h2
      }
      array(probes: _*)
    }
    val qProbes = q
      .select(col(qId), posexplode(sigs(col("__qv"))).as(Seq("__tbl", "__s0")))
      .select(col(qId), col("__tbl"),
        // explode_outer: dodge InferFiltersFromGenerate's duplicate
        // evaluation of the probe-array build (graft.util.Explode)
        explode_outer(probesOf(col("__s0"))).as("__sig"))
      .filter(col("__sig").isNotNull)

    val pairs = cSigs.join(broadcast(qProbes), Seq("__tbl", "__sig"))
      .filter(col(qId) =!= col(cId))
      .select(col(qId), col(cId)).distinct()

    topkOf(pairs
      .join(c, Seq(cId))
      .join(broadcast(q), Seq(qId))
      .select(col(qId), col(cId).as("neighbor_id"),
        cosineWithNorms(col("__qv"), col("__cv"), col("__qn"), col("__cn")).as("cos")), k, qId)
  }

  // ---- the coarse quantizer: (kernel × layout), one algorithm.

  /** A coarse-quantizer distance kernel over `Array[T]` centroids, in
    * the two argmin shapes: [[chained]] — one struct per centroid whose
    * greatest() is the nearest, lowest cid on ties — and [[matrix]] —
    * the whole centroid set as ONE typedLit 2-D array with the codegen
    * kernel INSIDE the transform lambda, struct(d, cid) per centroid,
    * array_min = nearest. The chained tree outgrows codegen at ~10²
    * centroids; the matrix form is O(1) plan size and the fastest
    * measured shape once its kernel is codegen'd (SCALE.md rounds 8 and
    * 9: an interpreted aggregate(zip_with) kernel made every shape
    * equally wrong).
    */
  private[functions] sealed abstract class Kernel[T](implicit val ct: ClassTag[T]) {
    /** The kernel-space vector column of a corpus relation. */
    val vec: String
    /** A double-array column mapped into kernel space. */
    def of(v: Column): Column
    val zero: T
    /** The SQL type of one kernel-space vector. */
    val arrType: String
    def chained(cents: Array[Array[T]], v: Column): Seq[Column]
    def centMatrix(cents: Array[Array[T]]): Column
    def matrix(cents: Array[Array[T]], v: Column): Column
    /** (cid, pos, x) → (cid, pos, m): the Lloyd mean per coordinate. */
    def means(x: DataFrame): DataFrame
  }

  /** Float kernel: (2⟨v,c⟩ − |c|², −cid) chained; the matrix d =
    * |c|² − 2⟨v,c⟩ is its exact IEEE negation with the identical
    * driver-side norm constant (|v|² is row-constant, so both rank L2).
    * Means are distributed float averages — deterministic, but
    * partition-order last-ulp drift keeps them out of SQL replay.
    */
  private[functions] object FloatKernel extends Kernel[Double] {
    val vec = "v"
    def of(v: Column): Column = v
    val zero = 0.0
    val arrType = "array<double>"
    def centMatrix(cents: Array[Array[Double]]): Column = typedLit(cents.map(_.toSeq).toSeq)
    def chained(cents: Array[Array[Double]], v: Column): Seq[Column] =
      cents.toSeq.zipWithIndex.map { case (c, i) =>
        struct((dot(v, lit(c)) * 2 - lit(c.map(x => x * x).sum)).as("score"),
          lit(-i).as("negcid"))
      }
    def matrix(cents: Array[Array[Double]], v: Column): Column = {
      val norms2 = typedLit(cents.map(c => c.map(x => x * x).sum).toSeq)
      transform(centMatrix(cents), (c, i) =>
        struct((element_at(norms2, i + 1) - dot(v, c) * 2).as("d"), i.as("cid")))
    }
    def means(x: DataFrame): DataFrame =
      x.groupBy(col("cid"), col("pos")).agg(avg(col("x")).as("m"))
  }

  /** Fixed-point integer kernel, the engine-portable discipline:
    * `round(v·2²⁰)` longs (sub-ppm placement error), exact [[IntSqDist]]
    * distances (≤ 2.7·10¹⁶ for 64 dims at |v| ≤ 10 — inside Long),
    * (−d, −cid) chained, and exact floor-division means in the pmod
    * form, so training, assignment and probing replay in any SQL engine.
    */
  private[functions] object IntKernel extends Kernel[Long] {
    val vec = "vi"
    def of(v: Column): Column = toIntVec(v)
    val zero = 0L
    val arrType = "array<bigint>"
    def centMatrix(cents: Array[Array[Long]]): Column = typedLit(cents.map(_.toSeq).toSeq)
    def chained(cents: Array[Array[Long]], v: Column): Seq[Column] =
      cents.toSeq.zipWithIndex.map { case (c, i) =>
        struct((-intSqDist(v, c)).as("negd"), lit(-i).as("negcid"))
      }
    def matrix(cents: Array[Array[Long]], v: Column): Column =
      transform(centMatrix(cents), (c, i) =>
        struct(IntSqDist.intSqDist(v, c).as("d"), i.as("cid")))
    def means(x: DataFrame): DataFrame =
      x.groupBy(col("cid"), col("pos"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        // exact floor division, engine-portable: (s − pmod(s, n)) div n
        .select(col("cid"), col("pos"), expr("(s - pmod(s, n)) div n").as("m"))
  }

  /** The nearest centroid's id (int): chained up to
    * [[MaxLiteralCentroids]], matrix past it. greatest() needs ≥ 2
    * args, so one centroid is list 0; no centroids (an empty corpus)
    * is a typed null.
    */
  private[functions] def nearest[T](kern: Kernel[T], cents: Array[Array[T]],
                                    v: Column): Column =
    if (cents.isEmpty) lit(null).cast("int")
    else if (cents.length < 2) lit(0)
    else if (cents.length > MaxLiteralCentroids)
      array_min(kern.matrix(cents, v)).getField("cid")
    else -greatest(kern.chained(cents, v): _*).getField("negcid")

  /** The `nProbe` nearest centroid ids, nearest first — [[nearest]]'s
    * shapes and tie rule.
    */
  private[functions] def probeCids[T](kern: Kernel[T], cents: Array[Array[T]],
                                      v: Column, nProbe: Int): Column =
    if (cents.isEmpty) lit(null).cast("array<int>")
    else if (cents.length < 2) array(lit(0))
    else if (cents.length > MaxLiteralCentroids)
      transform(slice(array_sort(kern.matrix(cents, v)), 1, nProbe),
        s => s.getField("cid"))
    else transform(
      slice(reverse(array_sort(array(kern.chained(cents, v): _*))), 1, nProbe),
      s => -s.getField("negcid"))

  /** The coarse quantizer: one [[Kernel]] over one codebook layout. It
    * owns the cell id of a kernel-space vector, the probe staging and
    * probe cells, the cell centroid lookup and the cell count — every
    * IVF-family body runs against this value instead of a layout fork.
    */
  private[functions] sealed abstract class Coarse[T] {
    def kernel: Kernel[T]
    def nCells: Long
    /** The cell id of a kernel-space vector column. */
    def cellId(kv: Column): Column
    /** Columns to stage (and materialize) before [[probeCells]] reads them. */
    def probeStage(kv: Column, nProbe: Int): Seq[Column]
    /** The `nProbe` nearest cells, nearest first. */
    def probeCells(kv: Column, nProbe: Int): Column
    /** The centroid of cell `cid`, in kernel space; typed null if no cells. */
    def centroidOf(cid: Column): Column
    /** The sidecar encoding: (list centroids, empty) or (cb1, cb2). */
    def parts: (Array[Array[T]], Array[Array[T]])

    /** `df` exploded to one row per probed cell (`cell`), keeping `keep`.
      * Staged probe columns are materialized first (broadcast-small
      * query sides by contract): the grid lambda must read attributes,
      * never re-sort the codebook distances per outer element (the
      * repeated-lambda audit). explode_outer + null filter: an inferred
      * pre-Generate filter would recompute the distance array per row
      * (graft.util.Explode).
      */
    def probeRows(df: DataFrame, kv: String, nProbe: Int, keep: Seq[String],
                  cell: String = "cid"): DataFrame = {
      val stage = probeStage(col(kv), nProbe)
      val staged = if (stage.isEmpty) df
        else df.select(keep.map(col) ++ stage: _*).localCheckpoint(true)
      staged.select(keep.map(col) :+ explode_outer(probeCells(col(kv), nProbe)).as(cell): _*)
        .filter(col(cell).isNotNull)
    }
  }

  /** Single-level IVF lists; `cents` are the list centroids, cid int. */
  private[functions] final case class Flat[T](kernel: Kernel[T],
                                              cents: Array[Array[T]]) extends Coarse[T] {
    def nCells: Long = cents.length.toLong
    def cellId(kv: Column): Column = nearest(kernel, cents, kv)
    def probeStage(kv: Column, nProbe: Int): Seq[Column] = Nil
    def probeCells(kv: Column, nProbe: Int): Column = probeCids(kernel, cents, kv, nProbe)
    /** Chained `when` lookup up to [[MaxLiteralCentroids]] (the oracle-
      * replayed gate form), one element_at into the matrix past it.
      */
    def centroidOf(cid: Column): Column =
      if (cents.isEmpty) lit(null).cast(kernel.arrType)
      else if (cents.length > MaxLiteralCentroids)
        element_at(kernel.centMatrix(cents), cid.cast("int") + 1)
      else cents.indices.tail.foldLeft(when(cid === lit(0), lit(cents(0)))) {
        (acc, i) => acc.when(cid === lit(i), lit(cents(i)))
      }
    def parts: (Array[Array[T]], Array[Array[T]]) =
      (cents, Array.empty[Array[T]](kernel.ct.wrap))
  }

  /** The inverted multi-index PRODUCT grid: each vector half is
    * quantized against its own ≤ 4096-entry codebook and the cell is the
    * pair, cid = c1·k2 + c2 — k1·k2 (up to ~16.7M) effective lists from
    * two argmins, while the driver only ever holds k1 + k2 half-width
    * centroids. The half codebooks are ZERO-PADDED to full width (tail
    * for the first half, head for the second): the padded distance
    * differs from the half distance by a row constant, so every argmin
    * and probe runs on the FULL vector column — no slice ever enters a
    * matrix lambda (where CollapseProject would re-inline it per
    * centroid), and a SQL oracle replays the unpadded half fold bit for
    * bit. Cell distance d1 + d2 is EXACTLY the squared distance to the
    * concatenated cell centroid, and any top-k cell has both half-ranks
    * ≤ k, so the k × k grid of the per-half top-k contains the exact
    * top-k cells (the multi-sequence property); ties go to the lowest
    * composite cid both ways.
    */
  private[functions] final case class Imi[T](kernel: Kernel[T], cb1: Array[Array[T]],
                                             cb2: Array[Array[T]]) extends Coarse[T] {
    private val k2 = cb2.length
    private val dim = cb1.headOption.fold(0)(_.length) + cb2.headOption.fold(0)(_.length)
    private def pad(cb: Array[Array[T]], padHead: Boolean): Array[Array[T]] = {
      implicit val ct: ClassTag[T] = kernel.ct
      cb.map { c =>
        val z = Array.fill(dim - c.length)(kernel.zero)
        if (padHead) z ++ c else c ++ z
      }
    }
    private val cb1p = pad(cb1, padHead = false)
    private val cb2p = pad(cb2, padHead = true)
    def nCells: Long = cb1.length.toLong * k2
    def cellId(kv: Column): Column =
      nearest(kernel, cb1p, kv).cast("long") * k2 + nearest(kernel, cb2p, kv).cast("long")
    /** Per-half sorted (d, cid) slices of length `nProbe` (`__s1`/`__s2`). */
    def probeStage(kv: Column, nProbe: Int): Seq[Column] = Seq(
      slice(array_sort(kernel.matrix(cb1p, kv)), 1, nProbe).as("__s1"),
      slice(array_sort(kernel.matrix(cb2p, kv)), 1, nProbe).as("__s2"))
    /** The exact top-`nProbe` cells by d1 + d2 from the staged slices. */
    def probeCells(kv: Column, nProbe: Int): Column =
      transform(
        slice(array_sort(flatten(transform(col("__s1"), a => transform(col("__s2"), b =>
          struct((a.getField("d") + b.getField("d")).as("d"),
            (a.getField("cid").cast("long") * k2 +
              b.getField("cid").cast("long")).as("cid")))))), 1, nProbe),
        s => s.getField("cid"))
    /** c1 ‖ c2 — two O(1) lookups, never a k1·k2 materialization. */
    def centroidOf(cid: Column): Column =
      if (nCells == 0) lit(null).cast(kernel.arrType)
      else concat(
        element_at(kernel.centMatrix(cb1), (cid.cast("long") / k2).cast("int") + 1),
        element_at(kernel.centMatrix(cb2),
          pmod(cid.cast("long"), lit(k2.toLong)).cast("int") + 1))
    def parts: (Array[Array[T]], Array[Array[T]]) = (cb1, cb2)
  }

  /** Default training-corpus bound for every k-means build in this
    * family (float/int IVF coarse lists, PQ and IVFADC codebooks): past
    * this many vectors, Lloyd iterates over a deterministic
    * ~`MaxTrainRows`-row hash sample instead of the full corpus, and
    * only the one assign/encode pass still touches every row. Training
    * cost is thereby bounded INDEPENDENT of corpus size —
    * iters·min(n, MaxTrainRows)·nC distance evals — which is the
    * standard IVF recipe (Jégou et al. 2011 train on learning sets
    * orders of magnitude below the indexed corpus) and the only shape
    * that survives 100 TB: a 3-round Lloyd over 10¹¹ vectors is three
    * full-corpus scans per build otherwise. k-means quality depends on
    * the DISTRIBUTION, not the count — recall parity of the sampled
    * build is floor-pinned by AnnRecallSpec/IvfPqSpec at 10× organic
    * scale. Callers pass `maxTrainRows <= 0` to force full-corpus
    * training (the oracle-replayed gates never trigger the sample at
    * their SF, so their hashes are unchanged either way).
    */
  val MaxTrainRows: Long = 65536L

  /** Deterministic, engine-portable training sample: keep rows whose
    * 32-bit md5 prefix of `cast(id as string)` falls under
    * ceil(2³² · maxTrainRows / n) — expected sample size ≈
    * `maxTrainRows` at ANY corpus size (same md5-prefix arithmetic as
    * [[Sampling.hashBucketBp]], so an oracle replays the exact row
    * set). No-op when the corpus is already within the bound.
    */
  private def trainSample(c0: DataFrame, n: Long, maxTrainRows: Long): DataFrame =
    if (maxTrainRows <= 0 || n <= maxTrainRows) c0
    else {
      val thr = ((BigInt(maxTrainRows) * (BigInt(1) << 32) + n - 1) / n).toLong
      c0.filter(conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10)
        .cast("long") < lit(thr))
    }

  /** The `k` lowest-id rows' `vec` arrays of an (id, …) relation — the
    * deterministic seed rule of every Lloyd build here (centroid index
    * = rank − 1; an empty relation yields no seeds).
    */
  private def lowestIdSeeds[T: ClassTag](df: DataFrame, vec: Column,
                                         k: Int): Array[Array[T]] =
    df.orderBy(col("id")).limit(k).select(vec).collect()
      .map(_.getAs[scala.collection.Seq[T]](0).toArray)

  /** `iters` Lloyd rounds over `c0` (id and the kernel's vector column):
    * the kernel's argmin and mean as DataFrame jobs; only the nC×dim
    * centroid table reaches the driver. Empty clusters keep their
    * previous centroid.
    */
  private[functions] def lloyd[T](kern: Kernel[T], c0: DataFrame,
                                  init: Array[Array[T]], iters: Int): Array[Array[T]] = {
    implicit val ct: ClassTag[T] = kern.ct
    var centroids = init
    (1 to iters).foreach { _ =>
      val means = kern.means(c0.withColumn("cid", nearest(kern, centroids, col(kern.vec)))
          .select(col("cid"), posexplode(col(kern.vec)))
          .toDF("cid", "pos", "x"))
        .collect()
      val next = centroids.map(_.clone())
      means.foreach(r => next(r.getAs[Int]("cid"))(r.getAs[Int]("pos")) = r.getAs[T]("m"))
      centroids = next
    }
    centroids
  }

  /** Train a coarse quantizer over `c0` (id, v and the kernel's vector
    * column; `n` rows): `k` flat lists, or `k` entries per IMI half.
    * Seeds are the `k` lowest-id vectors; Lloyd iterates on the bounded
    * [[MaxTrainRows]] hash sample. The IMI halves split at h = ⌈dim/2⌉
    * and train independently over one eagerly-checkpointed half-width
    * projection of the sample (so the argmin lambda reads real columns,
    * never a re-inlined slice), overlapped via graft.util.Par — the
    * halves never exchange state. `iters <= 0` keeps the lowest-id
    * halves: the oracle-replayable fixed grid. An empty corpus gives a
    * quantizer with no cells, whose cells are typed nulls.
    */
  private[functions] def trainCoarse[T](kern: Kernel[T], c0: DataFrame, n: => Long,
                                        imi: Boolean, k: Int, iters: Int,
                                        maxTrainRows: Long): Coarse[T] = {
    implicit val ct: ClassTag[T] = kern.ct
    val seeds = lowestIdSeeds[T](c0, col(kern.vec), k)
    if (!imi) Flat(kern, lloyd(kern, trainSample(c0, n, maxTrainRows), seeds, iters))
    else {
      val h = seeds.headOption.fold(0)(r => (r.length + 1) / 2)
      val (i1, i2) = (seeds.map(_.take(h)), seeds.map(_.drop(h)))
      if (iters <= 0 || seeds.isEmpty) Imi(kern, i1, i2)
      else {
        val train = trainSample(c0, n, maxTrainRows)
          .select(col("id"), slice(col(kern.vec), 1, h).as(kern.vec),
            slice(col(kern.vec), h + 1, i2.head.length).as("__h2"))
          .localCheckpoint(true) // both half-Lloyds iterate over it
        val (cb1, cb2) = graft.util.Par.both(
          lloyd(kern, train.select(col("id"), col(kern.vec)), i1, iters),
          lloyd(kern, train.select(col("id"), col("__h2").as(kern.vec)), i2, iters))
        Imi(kern, cb1, cb2)
      }
    }
  }

  /** The persisted (id, v[, vi]) relation every IVF-family body trains
    * and assigns over; `fanOut` floors its parallelism (the per-row
    * argmin/probe work and every downstream leg inherit it — a one-file
    * corpus otherwise runs the whole path on one task, measured r13).
    */
  private def corpusOf(kern: Kernel[_], corpus: DataFrame, cId: String, cVec: String,
                       fanOut: Boolean = false): DataFrame = {
    val c = corpus.select(col(cId).cast("long").as("id"), asDouble(col(cVec)).as("v"))
    (if (fanOut) graft.util.FanOut(c) else c)
      .withColumn(kern.vec, kern.of(col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Largest centroid count evaluated as a chained literal argmin tree;
    * past it every argmin/probe/lookup helper takes the one-Literal
    * MATRIX form (O(1) plan size — the tree outgrows codegen at ~10²
    * centroids).
    */
  val MaxLiteralCentroids = 128

  /** Driver-collect bound for matrix-form centroids (cap×dim values). */
  val MaxTableCentroids = 4096

  /** ceil(√n) capped at [[MaxTableCentroids]] — the list-count rule for
    * the matrix form, where the literal-tree cap no longer binds.
    */
  private[graft] def autoCentroidsTable(n: Long): Int =
    math.min(MaxTableCentroids.toLong,
      math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong)).toInt

  /** IVF (inverted-file) approximate top-k: k-means centroids partition
    * the corpus into `nCentroids` lists; each query probes only its
    * `nProbe` nearest lists. The LSH alternative (`annTopK`) needs no
    * training but can't adapt bucket sizes to the data; IVF trades a few
    * Lloyd iterations for data-shaped buckets.
    *
    * All distributed work is DataFrame jobs with codegen'd DotProduct —
    * assignment is an argmin over centroid literals (no shuffle), the
    * centroid update is one hash aggregate over (cluster, dim); only the
    * nCentroids×dim centroid table ever reaches the driver. At corpus
    * scale both halves of the index story are CODE: training runs on the
    * bounded [[MaxTrainRows]] hash sample (assignment is the one pass
    * that touches every row), and [[AnnIndex]] writes the encoded corpus
    * as a cid-partitioned TxTable whose probes prune files at rest.
    *
    * Deterministic: init = lowest-id vectors; argmin ties → lowest
    * cluster id; empty clusters keep their previous centroid. (Centroid
    * means are float sums across partitions, so last-ulp centroid drift
    * can reorder equal-distance probes — scores of RETURNED candidates
    * are exact cosine regardless.)
    *
    * `nCentroids ≤ 0` (the DEFAULT) derives ceil(√n) capped at
    * [[MaxAutoCentroids]], and past `imiCutoverRows` — where even the
    * 4096-entry cap would let list size grow linearly — hands the
    * persisted, counted corpus to the IMI grid ([[ivfTopKImi]]'s
    * layout). Explicit counts override — the gate queries pin (16, 8,
    * 3), the IVF-sweep knee on the 500-vector fixture (SCALE.md, "100×
    * scaling probe (round 5)"): recall@10 = 0.9238 (sf0.001) / 0.9190
    * (sf0.01), floor-pinned at 0.85 by AnnRecallSpec (which also pins
    * the DERIVED sizing at 1× and 10× the fixture).
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nCentroids: Int = 0, nProbe: Int = 8, iters: Int = 3,
              qId: String = "query_id", qVec: String = "query_vec",
              cId: String = "vec_id", cVec: String = "embedding",
              maxTrainRows: Long = MaxTrainRows,
              imiCutoverRows: Long = MaxSingleLevelRows): DataFrame = {
    val c0 = corpusOf(FloatKernel, corpus, cId, cVec)
    val n = c0.count()
    val imi = nCentroids <= 0 && n > imiCutoverRows
    val kk = if (imi) imiHalfCentroids(n, ImiTargetClusterSize)
      else if (nCentroids > 0) nCentroids else autoCentroids(n)
    ivfOn(queries, c0, trainCoarse(FloatKernel, c0, n, imi, kk, iters, maxTrainRows),
      k, nProbe, qId, qVec)
  }

  /** [[ivfTopK]] on the IMI product grid: two trained ≤ 4096-entry half
    * codebooks give ~n/targetClusterSize cells, so the per-query
    * candidate volume nProbe·cellSize stays BOUNDED where the capped
    * single-level rule degrades to nProbe·(n/4096). Probing is the exact
    * multi-sequence top-nProbe cells by d1+d2; scores are exact cosine
    * on the candidate set. `codebooksOpt` runs against FROZEN half
    * codebooks (the at-rest [[VecIndex]] parity seam).
    */
  def ivfTopKImi(queries: DataFrame, corpus: DataFrame, k: Int,
                 kPerHalf: Int = 0, nProbe: Int = 8, iters: Int = 3,
                 qId: String = "query_id", qVec: String = "query_vec",
                 cId: String = "vec_id", cVec: String = "embedding",
                 targetClusterSize: Long = ImiTargetClusterSize,
                 maxTrainRows: Long = MaxTrainRows,
                 codebooksOpt: Option[(Array[Array[Double]], Array[Array[Double]])] = None): DataFrame = {
    val c0 = corpusOf(FloatKernel, corpus, cId, cVec)
    ivfOn(queries, c0, imiOrFrozen(FloatKernel, c0, kPerHalf, iters,
      targetClusterSize, maxTrainRows, codebooksOpt), k, nProbe, qId, qVec)
  }

  /** The frozen half codebooks when given, else a grid trained over the
    * counted `c0` (`kPerHalf <= 0` derives it from the target cell size).
    */
  private def imiOrFrozen[T](kern: Kernel[T], c0: DataFrame, kPerHalf: Int, iters: Int,
                             targetClusterSize: Long, maxTrainRows: Long,
                             codebooksOpt: Option[(Array[Array[T]], Array[Array[T]])]): Coarse[T] =
    codebooksOpt.fold[Coarse[T]] {
      lazy val n = c0.count() // only training reads it
      trainCoarse(kern, c0, n, imi = true,
        if (kPerHalf > 0) kPerHalf else imiHalfCentroids(n, targetClusterSize),
        iters, maxTrainRows)
    } { case (cb1, cb2) => Imi(kern, cb1, cb2) }

  /** The one IVF top-k body. The persisted `c0` only served training; the
    * final query re-reads the source in ONE pass (assign → probe-join →
    * top-k), the production shape where assignment lands in a
    * cid-partitioned table instead of a cache.
    */
  private def ivfOn(queries: DataFrame, c0: DataFrame, quant: Coarse[_], k: Int,
                    nProbe: Int, qId: String, qVec: String): DataFrame = {
    c0.unpersist()
    val assigned = c0.withColumn("cid", quant.cellId(col(quant.kernel.vec)))
      .withColumn("__cn", l2norm(col("v")))
    topkOf(assigned.join(broadcast(queryProbes(quant, queries, nProbe, qId, qVec)), Seq("cid"))
      .filter(col(qId) =!= col("id"))
      .select(col(qId), col("id").as("neighbor_id"),
        cosineWithNorms(col("__qv"), col("v"), col("__qn"), col("__cn")).as("cos")), k, qId)
  }

  /** Query-side probe rows (qId long, __qv, __qn, cid), SHARED by every
    * in-session search and the at-rest [[VecIndex]]/[[MarginIndex]]
    * searches. The kernel-space query vector is staged as its own column
    * (a probe reads it once per centroid — an inline conversion would
    * re-run per centroid), then [[Coarse.probeRows]].
    */
  private[functions] def queryProbes(quant: Coarse[_], queries: DataFrame, nProbe: Int,
                                     qId: String, qVec: String): DataFrame =
    quant.probeRows(queries
        .select(col(qId).cast("long").as(qId), asDouble(col(qVec)).as("__qv"))
        .select(col(qId), col("__qv"), l2norm(col("__qv")).as("__qn"),
          quant.kernel.of(col("__qv")).as("__qk")),
      "__qk", nProbe, Seq(qId, "__qv", "__qn"))

  /** ENGINE-PORTABLE IVF top-k: [[ivfTopK]]'s construction over the
    * [[IntKernel]], so any SQL engine replays training, assignment,
    * probing and re-ranking bit for bit — the float variant's
    * distributed means carry last-ulp partition-order drift that no
    * oracle can reproduce. Probes and final scores re-rank candidates
    * with EXACT double cosine (identical IEEE fold order both engines,
    * as q27). `nCentroids ≤ 0` derives ceil(√n) capped; the q61 gate
    * pins (16, 8) explicitly for its oracle.
    */
  def ivfTopKPortable(queries: DataFrame, corpus: DataFrame, k: Int,
                      nCentroids: Int = 0, nProbe: Int = 8, iters: Int = 3,
                      qId: String = "query_id", qVec: String = "query_vec",
                      cId: String = "vec_id", cVec: String = "embedding",
                      maxTrainRows: Long = MaxTrainRows): DataFrame = {
    val c0 = corpusOf(IntKernel, corpus, cId, cVec)
    val n = c0.count()
    ivfOn(queries, c0, trainCoarse(IntKernel, c0, n, imi = false,
      if (nCentroids > 0) nCentroids else autoCentroids(n), iters, maxTrainRows),
      k, nProbe, qId, qVec)
  }

  private val IntScale = 1L << 20

  private[functions] def toIntVec(v: Column): Column =
    transform(asDouble(v), x => round(x * IntScale.toDouble).cast("long"))

  /** Exact integer squared L2 to a literal centroid — the codegen'd
    * [[IntSqDist]] expression (round 8: the lambda composition it
    * replaces was CodegenFallback and dominated every integer ANN shape).
    */
  private def intSqDist(vi: Column, cArr: Array[Long]): Column =
    IntSqDist.intSqDist(vi, lit(cArr))

  /** Product quantization (Jégou, Douze & Schmid, TPAMI 2011) — the
    * vector-compression workhorse behind billion-scale ANN: the vector
    * splits into `m` subspaces, each learns its own `kCentroids`-entry
    * codebook, and every vector compresses to `m` small centroid ids
    * (here m·log₂k bits ≈ 12 bits vs 64 floats — a ~170× cut before
    * anything shuffles or lands in an index).
    *
    * ENGINE-PORTABLE form, the [[ivfTopKPortable]] discipline: vectors
    * quantize to `round(v·2²⁰)` longs; per-subspace Lloyd runs in exact
    * integer arithmetic (argmin by lexicographic (dist, cid), exact
    * floor-division means, empty clusters keep their centroid); encoding
    * emits each vector's code word and its EXACT integer reconstruction
    * error — so codebooks, codes and errors replay bit for bit on any
    * engine.
    *
    * Shape: training is `iters` aggregate jobs per subspace over the
    * bounded [[MaxTrainRows]] hash sample (codebooks are driver-side
    * literals — m·k tiny arrays); encoding is ONE map-side pass, zero
    * shuffle — the only step that touches the full corpus.
    */
  def pqEncodePortable(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                       m: Int = 4, kCentroids: Int = 8,
                       iters: Int = 2,
                       maxTrainRows: Long = MaxTrainRows): DataFrame = {
    val codebooks = pqTrain(df, idCol, vecCol, dim, m, kCentroids, iters, maxTrainRows)
    val subDim = dim / m
    // encoding: one zero-shuffle pass over the (re-read) source, each
    // subspace argmin STAGED as its own column: the final select reads
    // both fields (cid for the code, d for the error), and an inline
    // argmin would be duplicated per field — 2× every per-centroid
    // distance per row (repeated-lambda audit). greatest/least is
    // opaque to extract-only project collapsing, so the stage survives
    // and each distance evaluates once.
    val staged = df.select(col(idCol).cast("long").as("id"), toIntVec(col(vecCol)).as("vi"))
      .select(col("id") +: (0 until m).map(s =>
        pqArgmin(codebooks(s), subSlice(col("vi"), s, subDim)).as(s"__ps$s")): _*)
    staged.select(col("id").as("vec_id"),
      concat_ws(",",
        (0 until m).map(s => col(s"__ps$s").getField("cid").cast("string")): _*)
        .as("code"),
      (0 until m).map(s => col(s"__ps$s").getField("d")).reduce(_ + _).as("err_q"))
  }

  /** PQ top-k search by ASYMMETRIC DISTANCE COMPUTATION (the ADC of
    * Jégou et al. 2011): the query stays unquantized-to-codes — it
    * precomputes its exact integer distance to every codebook entry
    * (m·k values), and each candidate's distance is m table LOOKUPS
    * summed, never a d-dimensional computation. Approximate by
    * construction (distances to RECONSTRUCTIONS); every arithmetic step
    * here is exact integers, so ranking and distances replay bit for
    * bit on any engine.
    *
    * Shape: codebooks + per-query tables are literals/broadcast; the
    * corpus pass touches only each vector's m-byte code — this is the
    * memory shape that lets a billion vectors fit an index. Ties →
    * lowest id; per-query top-k via the bounded aggregator.
    */
  def pqAdcTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
                m: Int = 4, kCentroids: Int = 8, iters: Int = 2,
                qId: String = "query_id", qVec: String = "query_vec",
                cId: String = "vec_id", cVec: String = "embedding",
                maxTrainRows: Long = MaxTrainRows): DataFrame = {
    val codebooks = pqTrain(corpus, cId, cVec, dim, m, kCentroids, iters, maxTrainRows)
    val subDim = dim / m
    // corpus codes: per-subspace nearest centroid ids (one map pass)
    val coded = corpus.select(col(cId).cast("long").as("id"),
        toIntVec(col(cVec)).as("vi"))
      .select(col("id") +: pqCodes(col("vi"), codebooks, subDim): _*)
    val q = toQInt(queries, qId, qVec)
      .select(col(qId) +: adcTables(col("__qvi"), codebooks, subDim): _*)
    topkByLowest(coded.crossJoin(broadcast(q))
      .filter(col(qId) =!= col("id"))
      .select(col(qId), col("id").as("neighbor_id"), adcLookup(m).as("adc_q")),
      k, qId, "adc_q")
  }

  /** The per-subspace integer-Lloyd codebooks of [[pqEncodePortable]],
    * exposed for ADC search and index maintenance.
    */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String, dim: Int,
              m: Int, kCentroids: Int, iters: Int,
              maxTrainRows: Long = MaxTrainRows): Array[Array[Array[Long]]] = {
    require(m >= 1 && dim % m == 0, s"m=$m must divide dim=$dim")
    require(kCentroids >= 1 && iters >= 0, "bad kCentroids/iters")
    val full = df.select(col(idCol).cast("long").as("id"), toIntVec(col(vecCol)).as("vi"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = pqCodebooks(full, "vi", m, dim / m, kCentroids, iters,
      full.count(), maxTrainRows)
    full.unpersist()
    out
  }

  private def subSlice(v: Column, s: Int, subDim: Int): Column =
    slice(v, s * subDim + 1, subDim)

  /** Per-subspace PQ codebooks over an (id, `vec`) relation — the one
    * trainer of [[pqTrain]] and the IVFADC residual builds: seeds are
    * the FULL relation's lowest ids, [[lloyd]] over the [[IntKernel]]
    * iterates on its bounded hash sample (identical below the
    * threshold, deterministic either way). The m trainings read disjoint coordinate slices of
    * `full` with subspace-local state only, so they overlap (guide §2.6
    * via graft.util.Par.all; output order is subspace order). `full`
    * should be materialized — each subspace reads it 1 + iters times.
    */
  private def pqCodebooks(full: DataFrame, vec: String, m: Int, subDim: Int,
                          kCentroids: Int, iters: Int, n: Long,
                          maxTrainRows: Long): Array[Array[Array[Long]]] =
    graft.util.Par.all((0 until m).map(s => () => {
      val sub = full.select(col("id"), subSlice(col(vec), s, subDim).as("vi"))
      lloyd(IntKernel, trainSample(sub, n, maxTrainRows),
        lowestIdSeeds[Long](sub, col("vi"), kCentroids), iters)
    })).toArray

  /** The one PQ argmin: the nearest entry of one subspace's codebook as
    * struct(d, cid) — exact integer distance, ties to the lowest cid.
    * An empty codebook (trained on an empty corpus) is a typed null, so
    * encoding zero rows still plans.
    */
  private def pqArgmin(codebook: Array[Array[Long]], sl: Column): Column = {
    val cand = codebook.zipWithIndex.map { case (cA, i) =>
      struct(intSqDist(sl, cA).as("d"), lit(i).as("cid"))
    }
    if (cand.isEmpty) lit(null).cast("struct<d:bigint,cid:int>")
    else if (cand.length < 2) cand.head
    else least(cand: _*)
  }

  /** The m code columns `__c0..__c{m-1}` of an integer vector column. */
  private def pqCodes(vi: Column, codebooks: Array[Array[Array[Long]]],
                      subDim: Int): Seq[Column] =
    codebooks.indices.map(s =>
      pqArgmin(codebooks(s), subSlice(vi, s, subDim)).getField("cid").as(s"__c$s"))

  /** Per-query ADC tables `__t0..__t{m-1}`: the exact integer distance
    * of each query (residual) slice to every codebook entry, one array
    * per subspace (lookup = element_at by code).
    */
  private def adcTables(qv: Column, codebooks: Array[Array[Array[Long]]],
                        subDim: Int): Seq[Column] =
    codebooks.indices.map { s =>
      val sl = subSlice(qv, s, subDim)
      array(codebooks(s).map(cA => intSqDist(sl, cA)): _*).as(s"__t$s")
    }

  /** The asymmetric distance: Σ_s __t<s>[__c<s>] — m table lookups. */
  private def adcLookup(m: Int): Column =
    (0 until m).map(s => element_at(col(s"__t$s"), col(s"__c$s") + 1)).reduce(_ + _)

  /** Embedding-cosine near-dup pairs: MULTI-TABLE sign-bit LSH candidate
    * generation (a pair is a candidate if its b-bit signature matches in
    * ANY of the `nTables` independent tables — banding, like MinHash
    * LSH), then exact cosine ≥ threshold verification on the deduped
    * candidate list. (idA < idB.)
    *
    * A single table is structurally low-recall even for true near-dups:
    * at cos 0.95 a pair collides in one 8-bit table with probability
    * (1 − θ/π)^8 ≈ 0.43; across 8 tables, 1 − (1 − 0.43)^8 ≈ 0.99.
    * Same 100 TB shape as the MinHash band join: the table join carries
    * (table, sig, id) skinny rows; vectors re-attach to candidates only.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                         threshold: Double = 0.95,
                         nTables: Int = 8, bitsPerTable: Int = 8): DataFrame = {
    requireBits(bitsPerTable)
    val tables = (0 until nTables).map(t => hyperplanes(dim, bitsPerTable, seed = 42L + t))
    val base = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("__n", l2norm(col("v")))
    val sigs = base.select(col("id"),
      posexplode(array(tables.map(p => lshSignature(col("v"), p)): _*)).as(Seq("__tbl", "__sig")))
    val pairs = sigs.select(col("__tbl"), col("__sig"), col("id").as("idA"))
      .join(sigs.select(col("__tbl"), col("__sig"), col("id").as("idB")), Seq("__tbl", "__sig"))
      .filter(col("idA") < col("idB"))
      .select(col("idA"), col("idB")).distinct()
    pairs
      .join(base.select(col("id").as("idA"), col("v").as("vA"), col("__n").as("nA")), Seq("idA"))
      .join(base.select(col("id").as("idB"), col("v").as("vB"), col("__n").as("nB")), Seq("idB"))
      .select(col("idA"), col("idB"),
        cosineWithNorms(col("vA"), col("vB"), col("nA"), col("nB")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Exact all-pairs near-dup pairs (idA < idB, true cosine ≥ threshold)
    * — the O(n²) baseline that validates the LSH path's recall; broadcast
    * nested-loop, so the corpus never shuffles. Use `cosineNearDupPairs`
    * at corpus scale; run THIS on samples to measure the LSH recall.
    */
  def exactNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double): DataFrame = {
    val e = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("__n", l2norm(col("v")))
    val a = e.select(col("id").as("idA"), col("v").as("vA"), col("__n").as("nA"))
    val b = e.select(col("id").as("idB"), col("v").as("vB"), col("__n").as("nB"))
    a.crossJoin(broadcast(b))
      .filter(col("idA") < col("idB"))
      .select(col("idA"), col("idB"),
        cosineWithNorms(col("vA"), col("vB"), col("nA"), col("nB")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Fixed-centroid cluster assignment — the bucketing step of
    * cluster-balanced data mixing (assign every vector to a semantic
    * bucket, then rebalance the mixture per bucket). Centroids are the
    * `nCentroids` LOWEST-ID vectors — a deterministic, fully relational
    * choice (no RNG, no Lloyd float drift), so any engine re-derives the
    * exact assignment; swap in trained centroids for quality, the plan
    * is identical. Assignment is argmin squared L2 (expanded as
    * |v|²−2⟨v,c⟩+|c|², all double), ties → lowest centroid id.
    *
    * 100 TB shape: the centroid table broadcasts (nCentroids×dim
    * doubles); the corpus makes ONE pass through the cross join and one
    * hash aggregate — `min(struct(dist, cid))` is a partial-aggregating
    * argmin, so no window sort and only (vec_id, best) shuffles.
    */
  def assignToLowestIdCentroids(df: DataFrame, idCol: String, vecCol: String,
                                nCentroids: Int): DataFrame = {
    require(nCentroids >= 1, s"nCentroids must be >= 1, got $nCentroids")
    val e = df.select(col(idCol).cast("long").as("vec_id"), asDouble(col(vecCol)).as("__v"))
    val cents = e.orderBy(col("vec_id")).limit(nCentroids)
      .select(col("vec_id").as("__cid"), col("__v").as("__c"))
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"), struct(
        (dot(col("__v"), col("__v")) - dot(col("__v"), col("__c")) * 2
          + dot(col("__c"), col("__c"))).as("d"),
        col("__cid").as("cid")).as("__s"))
      .groupBy(col("vec_id"))
      .agg(min(col("__s")).as("__m"))
      .select(col("vec_id"), col("__m.cid").as("cluster_id"))
  }

  /** Near-dedup on embeddings: drop members with a smaller-id near-dup. */
  def cosineNearDupDedup(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                         threshold: Double = 0.95,
                         nTables: Int = 8, bitsPerTable: Int = 8): DataFrame = {
    val losers = cosineNearDupPairs(df, idCol, vecCol, dim, threshold, nTables, bitsPerTable)
      .select(col("idB").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** SemDeDup (Abbas et al., arXiv:2303.09540): cluster-scoped semantic
    * dedup — k-means-bucket the embeddings, compute EXACT pairwise
    * cosine only WITHIN each cluster, and drop every member with a
    * smaller-id partner at ≥ `threshold`. The published recipe for
    * web-scale corpora: all-pairs cosine is confined to cluster-sized
    * blocks, so the pair volume is Σ|cluster|², tuned by k. Growth
    * accounting (corrected in round 10 — the earlier "cluster size
    * stays constant" claim was wrong for k = √n): under the derived
    * √n rule cluster size grows as √n and pair volume as n^1.5; only a
    * k ∝ n sizing keeps it linear, which is what the IMI product grid
    * ([[semDedupImi]]) provides once √n outgrows the 4096-entry driver
    * array — [[semDedup]] hands off there automatically. The
    * cross-cluster near-dups sacrificed either way are the algorithm's
    * documented approximation (the banded-LSH path,
    * [[cosineNearDupDedup]], is the alternative whose misses are
    * probabilistic instead of boundary-shaped).
    *
    * Plan: one broadcast-assign pass ([[assignToLowestIdCentroids]] —
    * argmin as a partial agg, no window), one self-equi-join on
    * cluster_id with `idA < idB` and the cosine filter fused into the
    * same stage, one distinct + left_anti. Nothing global is quadratic.
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               nClusters: Int = 0, threshold: Double = 0.95,
               imiCutoverRows: Long = MaxSingleLevelRows): DataFrame = {
    // nClusters <= 0 derives ceil(sqrt n) capped (the autoCentroids
    // rule). Honest growth accounting: with k = sqrt(n) lists, cluster
    // size grows as sqrt(n) and the within-cluster pair volume
    // sum(c^2) ~ n^1.5; once the derived count saturates the driver-
    // array cap, cluster size grows LINEARLY and pair volume tends to
    // n^2/cap. Past [[imiCutoverRows]] (where the single-level rule
    // saturates) the derivation therefore switches to the PRODUCT
    // (IMI) cell grid with constant target cluster size — pair volume
    // ~ n·targetSize, linear — in code, not as a parameter the caller
    // must remember (the organic 10x probe's 3.56x wall at fixed k=16
    // is exactly the fixed-k failure mode).
    if (nClusters <= 0) {
      val n = df.count()
      if (n > imiCutoverRows)
        // n is already known — pass the derived k so the grid form
        // does not re-count the corpus
        return semDedupImi(df, idCol, vecCol,
          kPerHalf = imiHalfCentroids(n, ImiTargetClusterSize),
          threshold = threshold)
      val assigned = assignToLowestIdCentroids(df, idCol, vecCol, autoCentroids(n))
      val vecs = df.select(col(idCol).cast("long").as("vec_id"),
          asDouble(col(vecCol)).as("__v"))
        .join(assigned, Seq("vec_id"))
      return semDedupWithin(vecs, threshold)
    }
    val assigned = assignToLowestIdCentroids(df, idCol, vecCol, nClusters)
    val vecs = df.select(col(idCol).cast("long").as("vec_id"),
        asDouble(col(vecCol)).as("__v"))
      .join(assigned, Seq("vec_id"))
    semDedupWithin(vecs, threshold)
  }

  /** The within-cluster dedup half of SemDeDup, shared by [[semDedup]]
    * (fixed lowest-id centroids — the oracle-replayable gate form) and
    * [[semDedupTrained]]: one self-equi-join on cluster_id with the
    * `idA < idB` + cosine-threshold filter fused in-stage, one
    * distinct + left_anti. `vecs` = (vec_id, __v, cluster_id).
    */
  private def semDedupWithin(vecs: DataFrame, threshold: Double): DataFrame = {
    val a = vecs.select(col("cluster_id"), col("vec_id").as("idA"), col("__v").as("__va"))
    val b = vecs.select(col("cluster_id"), col("vec_id").as("idB"), col("__v").as("__vb"))
    val losers = a.join(b, Seq("cluster_id"))
      .filter(col("idA") < col("idB") &&
        cosineWithNorms(col("__va"), col("__vb"),
          l2norm(col("__va")), l2norm(col("__vb"))) >= threshold)
      .select(col("idB").as("vec_id")).distinct()
    vecs.select(col("vec_id"), col("cluster_id"))
      .join(losers, Seq("vec_id"), "left_anti")
  }

  /** [[semDedup]] with TRAINED clusters — the published recipe (Abbas
    * et al. run k-means on the embeddings; [[semDedup]]'s fixed
    * lowest-id centroids are the deterministic, engine-replayable
    * variant the q156 oracle gates). Lloyd runs on the bounded
    * [[MaxTrainRows]] hash sample with the matrix argmin past the
    * literal cap — so at any corpus size training is bounded and the
    * one full pass is assignment. Trained centroids track the data's
    * density, which tightens clusters around duplicate clumps: on the
    * planted-twin fixture the trained variant recovers MORE planted
    * near-dup drops than the fixed-centroid form at the same k
    * (SemDedupTrainedSpec pins trained >= fixed). Spec-pinned, not
    * oracle-gated (float means). Growth accounting: under the √n rule
    * cluster size grows as √n and the within-cluster pair volume as
    * n^1.5 (the measured 7.6× wall for 10× rows); past `imiCutoverRows`
    * the persisted, counted corpus moves to the trained IMI grid, whose
    * constant target cell size keeps pair volume linear.
    */
  def semDedupTrained(df: DataFrame, idCol: String, vecCol: String,
                      nClusters: Int = 0, threshold: Double = 0.95,
                      iters: Int = 2,
                      maxTrainRows: Long = MaxTrainRows,
                      imiCutoverRows: Long = MaxSingleLevelRows): DataFrame = {
    val c0 = corpusOf(FloatKernel, df, idCol, vecCol)
    val n = c0.count()
    val imi = nClusters <= 0 && n > imiCutoverRows
    val kk = if (imi) imiHalfCentroids(n, ImiTargetClusterSize)
      else if (nClusters > 0) nClusters else autoCentroidsTable(n)
    semDedupOn(c0, trainCoarse(FloatKernel, c0, n, imi, kk, iters, maxTrainRows), threshold)
  }

  /** [[semDedupTrained]] over the [[IntKernel]] — TRAINED-cluster
    * SemDeDup whose geometry a SQL engine replays bit for bit: gate
    * q236 reuses q61's unrolled integer-Lloyd CTEs and hash-verifies
    * the trained survivors; the within-cluster prune is the exact
    * double cosine.
    */
  def semDedupTrainedPortable(df: DataFrame, idCol: String, vecCol: String,
                              nClusters: Int = 0, threshold: Double = 0.95,
                              iters: Int = 3,
                              maxTrainRows: Long = MaxTrainRows): DataFrame = {
    val c0 = corpusOf(IntKernel, df, idCol, vecCol)
    val n = c0.count()
    semDedupOn(c0, trainCoarse(IntKernel, c0, n, imi = false,
      if (nClusters > 0) nClusters else autoCentroidsTable(n), iters, maxTrainRows),
      threshold)
  }

  /** The one trained-SemDeDup body: assign every row to its cell,
    * materialized ONCE (eager, GC-released — both self-join sides and
    * the left_anti base consume it, and the assignment must not re-run
    * per branch: PlanShapeSpec's recompute audit), then
    * [[semDedupWithin]].
    */
  private def semDedupOn(c0: DataFrame, quant: Coarse[_], threshold: Double): DataFrame = {
    val vecs = c0
      .select(col("id").as("vec_id"), col("v").as("__v"),
        quant.cellId(col(quant.kernel.vec)).cast("long").as("cluster_id"))
      .localCheckpoint(true)
    c0.unpersist()
    semDedupWithin(vecs, threshold)
  }

  // ---- IMI sizing: every single-level list count here derives as
  // min(√n, 4096) because the centroids live as a driver array / plan
  // literal; past MaxSingleLevelRows (~16.7M vectors) cluster size —
  // and with it semDedup's within-cluster pair volume and the margin
  // self-kNN candidate volume — would grow LINEARLY. The [[Imi]] grid
  // breaks the ceiling with two bounded half codebooks.

  /** Target rows per IMI cell: the cell count derives as
    * ceil(n / target), so the within-cell quadratic work per row is a
    * CONSTANT and total pair volume is ~n·target — linear in the
    * corpus, the property the sqrt(n) rule loses past its cap.
    */
  val ImiTargetClusterSize: Long = 1024L

  /** Rows above which the single-level derived list count saturates
    * [[MaxTableCentroids]] (sqrt n > 4096) and the derivations here
    * switch to the IMI grid. The IMI grid's own ceiling is
    * [[MaxTableCentroids]]² cells ≈ 16.7M · [[ImiTargetClusterSize]]
    * rows ≈ 1.7·10¹⁰ vectors at the default target — past THAT, cell
    * size grows again (document the residual honestly: at 10¹¹
    * vectors cells hold ~6k rows, vs ~24M under the single-level cap).
    */
  val MaxSingleLevelRows: Long =
    MaxTableCentroids.toLong * MaxTableCentroids.toLong

  /** Per-half codebook size for an IMI grid of ~ceil(n/target) cells:
    * k = ceil(sqrt(cells)), capped per half at [[MaxTableCentroids]].
    */
  private[graft] def imiHalfCentroids(n: Long, targetSize: Long): Int = {
    val cells = math.max(1L, (n + targetSize - 1) / targetSize)
    math.min(MaxTableCentroids.toLong,
      math.max(1L, math.ceil(math.sqrt(cells.toDouble)).toLong)).toInt
  }

  /** SemDeDup over the IMI cell grid — [[semDedup]]'s within-cluster
    * prune with the cluster id the PRODUCT cell (c1, c2) of two fixed
    * lowest-id half codebooks. Deterministic and engine-replayable
    * exactly like the q156 form (exact double arithmetic, lowest-cid
    * ties), but the effective list count k² is no longer bounded by
    * the 4096-entry driver array — `kPerHalf <= 0` derives
    * k = ceil(sqrt(n / targetClusterSize)) per half, so cell size (and
    * with it the per-row quadratic work) stays ~`targetClusterSize` at
    * ANY corpus size up to [[MaxTableCentroids]]² cells. Gate q237
    * pins kPerHalf = 4 (16 cells) against the DuckDB replay.
    * `codebooksOpt` prunes against FROZEN half codebooks (the at-rest
    * [[VecIndex.dedupBatch]] parity seam).
    */
  def semDedupImi(df: DataFrame, idCol: String, vecCol: String,
                  kPerHalf: Int = 0, threshold: Double = 0.95,
                  targetClusterSize: Long = ImiTargetClusterSize,
                  codebooksOpt: Option[(Array[Array[Double]], Array[Array[Double]])] = None): DataFrame = {
    val c0 = corpusOf(FloatKernel, df, idCol, vecCol)
    semDedupOn(c0, imiOrFrozen(FloatKernel, c0, kPerHalf, iters = 0,
      targetClusterSize, MaxTrainRows, codebooksOpt), threshold)
  }

  /** [[semDedupImi]] with TRAINED half codebooks (two bounded-sample
    * half-Lloyds) — the trained-cluster recipe at linear pair volume;
    * [[semDedupTrained]] hands off to this grid past
    * [[MaxSingleLevelRows]]. Spec-pinned + benched (float means).
    */
  def semDedupTrainedImi(df: DataFrame, idCol: String, vecCol: String,
                         kPerHalf: Int = 0, threshold: Double = 0.95,
                         iters: Int = 2,
                         targetClusterSize: Long = ImiTargetClusterSize,
                         maxTrainRows: Long = MaxTrainRows): DataFrame = {
    val c0 = corpusOf(FloatKernel, df, idCol, vecCol)
    semDedupOn(c0, imiOrFrozen(FloatKernel, c0, kPerHalf, iters,
      targetClusterSize, maxTrainRows, None), threshold)
  }

  /** [[semDedupTrainedImi]] over the [[IntKernel]] — the q236
    * fixed-point discipline on the PRODUCT grid, so the trained
    * past-the-ceiling geometry is hash-replayable too. Gate q240
    * replays both half Lloyds (q238's CTEs), the composite assignment
    * (padded full-width argmins differ from the 32-dim half distances
    * by a row constant, so ties and order match the oracle), and the
    * prune.
    */
  def semDedupTrainedImiPortable(df: DataFrame, idCol: String, vecCol: String,
                                 kPerHalf: Int = 0, threshold: Double = 0.95,
                                 iters: Int = 3,
                                 targetClusterSize: Long = ImiTargetClusterSize,
                                 maxTrainRows: Long = MaxTrainRows): DataFrame = {
    val c0 = corpusOf(IntKernel, df, idCol, vecCol)
    semDedupOn(c0, imiOrFrozen(IntKernel, c0, kPerHalf, iters,
      targetClusterSize, maxTrainRows, None), threshold)
  }

  /** Margin-based neighbor scoring (Artetxe & Schwenk, ACL 2019 — the
    * LASER bitext-mining criterion): raw cosine over-selects hubs
    * (vectors close to EVERYTHING), so each pair's cosine is normalized
    * by both endpoints' average similarity to their own k nearest
    * neighbors: `margin(x, y) = cos(x, y) / ((a_x + a_y) / 2)` — a hub
    * with a_y ≈ cos gets margin ≈ 1, a genuinely aligned pair scores
    * well above its neighborhoods.
    *
    * Determinism discipline: each a-sum folds its k cosines in ASCENDING
    * value order via explicit `element_at` adds (an unordered SQL `sum`
    * of doubles is partition-order-dependent), and the margin expression
    * is the literal tree `cos · 8 / (s_x + s_y)` (with s the k=4 SUM,
    * so /8 absorbs both the /k and the /2) that any IEEE engine replays
    * bit for bit.
    *
    * Scale: [[marginTopK]] is the entry point — it dispatches to this
    * exact brute form below [[MaxBruteMarginCorpus]] vectors and to the
    * IVF-candidate form ([[marginTopKAnn]]) above it, the same
    * derive-don't-default rule as [[autoCentroids]]. The brute legs are
    * the ORACLE BASELINE: the kNN-sum leg broadcasts the whole corpus as
    * the query side and scores O(n²) pairs — exact, replayable, and
    * deliberately not the default past the threshold.
    */
  def marginTopKBrute(queries: DataFrame, corpus: DataFrame, k: Int, knn: Int = 4,
                      qId: String = "query_id", qVec: String = "query_vec",
                      cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    require(knn == 4, s"margin fold is unrolled for knn = 4, got $knn")
    val self = corpus.select(col(cId).as(qId), col(cVec).as(qVec))
    val nnSum = bruteForceTopK(self, corpus, knn, qId, qVec, cId, cVec)
      .groupBy(col(qId).as("id"))
      .agg(sort_array(collect_list(col("cos"))).as("cs"))
      .select(col("id"),
        when(size(col("cs")) === knn,
          element_at(col("cs"), 1) + element_at(col("cs"), 2) +
            element_at(col("cs"), 3) + element_at(col("cs"), 4))
          .otherwise(raise_error(
            lit(s"marginTopK: corpus must have > $knn vectors")))
          .as("s"))
    val q = queries.select(col(qId), asDouble(col(qVec)).as("__qv"))
      .withColumn("__qn", l2norm(col("__qv")))
      .join(nnSum.select(col("id").as(qId), col("s").as("__sq")), qId)
    val c = corpus.select(col(cId), asDouble(col(cVec)).as("__cv"))
      .withColumn("__cn", l2norm(col("__cv")))
      .join(nnSum.select(col("id").as(cId), col("s").as("__sc")), cId)
    val scored = c.crossJoin(broadcast(q))
      .filter(col(qId) =!= col(cId))
      .select(col(qId), col(cId).as("neighbor_id"),
        (cosineWithNorms(col("__qv"), col("__cv"), col("__qn"), col("__cn")) * lit(8.0)
          / (col("__sq") + col("__sc"))).as("cos"))
    topkOf(scored, k, qId)
      .select(col(qId), col("neighbor_id").as("match_id"),
        round(col("cos"), 4).as("margin_r"))
  }

  /** Corpus-count threshold above which [[marginTopK]] switches from the
    * exact brute legs to IVF candidates: at 2^14 vectors the two brute
    * legs score ~5·10⁸ cosine pairs and the kNN-sum leg's corpus-side
    * broadcast crosses the GB scale for high-dim embeddings — past
    * here the quadratic default cannot run, so the default stops being
    * quadratic (the [[autoCentroids]] discipline: derive in code, don't
    * document a swap the caller must remember).
    */
  val MaxBruteMarginCorpus: Long = 16384L

  /** Margin-based top-k ([[marginTopKBrute]] semantics) with the leg
    * implementation AUTO-SELECTED by corpus size: exact brute force up
    * to `maxBrute` vectors (the oracle-gated form, q169), IVF-candidate
    * legs ([[marginTopKAnn]]) beyond, and the IMI grid
    * ([[marginTopKImi]]) past `imiCutoverRows`, where the √n legs'
    * candidate volume n·nProbe·(n/4096) would grow quadratically. The
    * corpus is counted ONCE; the ANN routes train over a relation
    * persisted after that count.
    */
  def marginTopK(queries: DataFrame, corpus: DataFrame, k: Int, knn: Int = 4,
                 qId: String = "query_id", qVec: String = "query_vec",
                 cId: String = "vec_id", cVec: String = "embedding",
                 maxBrute: Long = MaxBruteMarginCorpus,
                 imiCutoverRows: Long = MaxSingleLevelRows): DataFrame = {
    val n = corpus.count()
    if (n <= maxBrute)
      marginTopKBrute(queries, corpus, k, knn, qId, qVec, cId, cVec)
    else {
      val c0 = corpusOf(FloatKernel, corpus, cId, cVec, fanOut = true)
      val imi = n > imiCutoverRows
      marginOn(queries, c0, trainCoarse(FloatKernel, c0, n, imi,
          if (imi) imiHalfCentroids(n, ImiTargetClusterSize) else autoCentroidsTable(n),
          iters = 3, MaxTrainRows),
        k, knn, nProbe = 8, qId, qVec, portable = None)
    }
  }

  /** The corpus-scale margin path: BOTH brute legs replaced by IVF
    * candidates from ONE k-means training over √n lists (uncapped by
    * the literal tree — the matrix form takes over past
    * [[MaxLiteralCentroids]]; MarginSpec pins it bit-identical to the
    * chained tree). Recall-floor-pinned by MarginAnnSpec, timed as
    * b169_margin_ann. Approximation is candidate-recall only: scores of
    * returned candidates are exact cosine over exact a-means of the ANN
    * kNN sets; the a-mean is a MEAN over however many (≤ knn) neighbors
    * the probed lists held, so an isolated vector degrades gracefully.
    */
  def marginTopKAnn(queries: DataFrame, corpus: DataFrame, k: Int, knn: Int = 4,
                    nCentroids: Int = 0, nProbe: Int = 8, iters: Int = 3,
                    qId: String = "query_id", qVec: String = "query_vec",
                    cId: String = "vec_id", cVec: String = "embedding",
                    maxTrainRows: Long = MaxTrainRows): DataFrame = {
    val c0 = corpusOf(FloatKernel, corpus, cId, cVec, fanOut = true)
    val n = c0.count()
    marginOn(queries, c0, trainCoarse(FloatKernel, c0, n, imi = false,
      if (nCentroids > 0) nCentroids else autoCentroidsTable(n), iters, maxTrainRows),
      k, knn, nProbe, qId, qVec, portable = None)
  }

  /** The margin legs over the IMI PRODUCT grid: cells derive as
    * ceil(n / targetClusterSize), so the self-kNN leg's candidate
    * volume n·nProbe·cellSize is LINEAR in the corpus at any size the
    * grid reaches (~1.7·10¹⁰ vectors at the defaults). Recall floor
    * pinned by MarginImiSpec against the brute gold; `codebooksOpt`
    * runs against FROZEN half codebooks (the at-rest [[MarginIndex]]
    * parity seam).
    */
  def marginTopKImi(queries: DataFrame, corpus: DataFrame, k: Int, knn: Int = 4,
                    kPerHalf: Int = 0, nProbe: Int = 8, iters: Int = 3,
                    qId: String = "query_id", qVec: String = "query_vec",
                    cId: String = "vec_id", cVec: String = "embedding",
                    targetClusterSize: Long = ImiTargetClusterSize,
                    maxTrainRows: Long = MaxTrainRows,
                    codebooksOpt: Option[(Array[Array[Double]], Array[Array[Double]])] = None): DataFrame = {
    val c0 = corpusOf(FloatKernel, corpus, cId, cVec, fanOut = true)
    marginOn(queries, c0, imiOrFrozen(FloatKernel, c0, kPerHalf, iters,
      targetClusterSize, maxTrainRows, codebooksOpt), k, knn, nProbe, qId, qVec,
      portable = None)
  }

  /** ENGINE-PORTABLE ANN margin: [[marginTopKAnn]] over the
    * [[IntKernel]] with the brute form's fixed knn = 4 — every step
    * replayable by a SQL oracle, which is how q225 hash-gates the ANN
    * path end to end (recall vs the brute gold, the q216 pattern).
    */
  def marginTopKAnnPortable(queries: DataFrame, corpus: DataFrame, k: Int,
                            knn: Int = 4, nCentroids: Int = 0, nProbe: Int = 8,
                            iters: Int = 3,
                            qId: String = "query_id", qVec: String = "query_vec",
                            cId: String = "vec_id", cVec: String = "embedding",
                            maxTrainRows: Long = MaxTrainRows): DataFrame = {
    require(knn == 4, s"margin fold is unrolled for knn = 4, got $knn")
    val c0 = corpusOf(IntKernel, corpus, cId, cVec, fanOut = true)
    val n = c0.count()
    marginOn(queries, c0, trainCoarse(IntKernel, c0, n, imi = false,
      if (nCentroids > 0) nCentroids else autoCentroids(n), iters, maxTrainRows),
      k, knn, nProbe, qId, qVec, portable = Some("marginTopKAnnPortable"))
  }

  /** [[marginTopKAnnPortable]] on the INTEGER IMI grid — the
    * past-the-ceiling margin geometry under the full oracle (gate q241,
    * the q225 pattern at the q238 grid). The exact top-`nProbe` cells by
    * d1+d2 equal ranking all k1·k2 cells by the full integer distance to
    * the concatenated cell centroid (ties to the lowest composite cid
    * both ways), so the oracle replays the probe as one rank over its
    * `cells` relation.
    */
  def marginTopKImiPortable(queries: DataFrame, corpus: DataFrame, k: Int,
                            knn: Int = 4, kPerHalf: Int = 0, nProbe: Int = 8,
                            iters: Int = 3,
                            qId: String = "query_id", qVec: String = "query_vec",
                            cId: String = "vec_id", cVec: String = "embedding",
                            targetClusterSize: Long = ImiTargetClusterSize,
                            maxTrainRows: Long = MaxTrainRows): DataFrame = {
    require(knn == 4, s"margin fold is unrolled for knn = 4, got $knn")
    val c0 = corpusOf(IntKernel, corpus, cId, cVec, fanOut = true)
    marginOn(queries, c0, imiOrFrozen(IntKernel, c0, kPerHalf, iters,
      targetClusterSize, maxTrainRows, None), k, knn, nProbe, qId, qVec,
      portable = Some("marginTopKImiPortable"))
  }

  /** The one margin body: [[marginTopKBrute]]'s two legs over IVF
    * candidates of one trained quantizer.
    *
    *  - The assignment (cell, norm, probe staging) is localCheckpoint'd
    *    — both legs consume it, and the blocks release with the
    *    DataFrame (the Hits/q212 discipline, no persist leak).
    *  - The self-kNN leg ([[imiSelfKnnAMeans]]) probes each corpus
    *    vector's `nProbe` nearest cells through a SHUFFLED equi-join on
    *    the cell id (never the brute form's full-corpus broadcast);
    *    cosine + the bounded [[KnnAMeanFold]] consume the pair stream
    *    in-stage, so shuffle volume is ~(1+nProbe)× the corpus.
    *  - The pair-scoring leg is the broadcast-query probe
    *    ([[queryProbes]]) over the same assignment, normalized by both
    *    endpoints' a-means ([[marginNormalizeTopK]]).
    *  - `portable` names an oracle-gated entry point, which keeps the
    *    brute form's contract that every fold sees all `knn`
    *    neighbours. Its `cos·8/(s_q+s_c)` tree over ascending k = 4
    *    sums equals `cos·2/(a_q+a_c)` bit for bit — a = s/4 is exact —
    *    which KnnAMeanFoldSpec pins.
    */
  private def marginOn(queries: DataFrame, c0: DataFrame, quant: Coarse[_], k: Int,
                       knn: Int, nProbe: Int, qId: String, qVec: String,
                       portable: Option[String]): DataFrame = {
    require(knn >= 1 && knn <= 64,
      s"margin a-means fold knn in 1..64 (fixed-width fold slots); got $knn.")
    val assigned = probeAssigned(c0, quant, nProbe).localCheckpoint(true)
    c0.unpersist()
    val fold = imiSelfKnnAMeans(assigned, quant, nProbe, knn)
    val nnMean = portable.fold(fold)(who => fold.select(col("id"),
        when(col("nk") === knn, col("a")).otherwise(raise_error(lit(
          s"$who: every corpus vector must probe > $knn neighbors — raise nProbe")))
          .as("a")))
      .localCheckpoint(true) // both margin join sides consume it
    val q = queryProbes(quant, queries, nProbe, qId, qVec)
    val scored = assigned.join(broadcast(q), Seq("cid"))
      .filter(col(qId) =!= col("id"))
      .select(col(qId), col("id").as("neighbor_id"),
        cosineWithNorms(col("__qv"), col("v"), col("__qn"), col("__cn")).as("cos"))
      .join(nnMean.select(col("id").as(qId), col("a").as("__aq")), Seq(qId))
      .join(nnMean.select(col("id").as("neighbor_id"), col("a").as("__ac")),
        Seq("neighbor_id"))
    marginNormalizeTopK(scored, k, qId)
  }

  /** `c0` (id, v, the kernel vector) with its cell `cid`, norm `__cn`
    * and the quantizer's probe staging — the relation a self-kNN leg
    * probes from. A flat quantizer probes from the kernel vector, so it
    * is kept; a staged grid drops it. Callers materialize the result.
    */
  private[functions] def probeAssigned(c0: DataFrame, quant: Coarse[_], nProbe: Int): DataFrame = {
    val kv = col(quant.kernel.vec)
    val stage = quant.probeStage(kv, nProbe)
    val base = if (stage.isEmpty) c0.columns.toSeq.map(col) else Seq(col("id"), col("v"))
    c0.select(base ++ Seq(quant.cellId(kv).as("cid"), l2norm(col("v")).as("__cn")) ++ stage: _*)
  }

  /** The self-kNN a-mean leg, SHARED by every in-session margin form
    * and the at-rest [[MarginIndex.build]] (one definition — the
    * bit-parity the specs pin is structural): [[imiKnnAMeansOver]] with
    * the assigned relation as both sides. `assigned` must be the
    * MATERIALIZED [[probeAssigned]] relation. Output (id, a, ck, nk).
    */
  private[functions] def imiSelfKnnAMeans(assigned: DataFrame, quant: Coarse[_],
                                          nProbe: Int, knn: Int): DataFrame =
    imiKnnAMeansOver(assigned, assigned.select(col("cid"), col("id"), col("v"), col("__cn")),
      quant.probeCells(col(quant.kernel.vec), nProbe), knn, quant.nCells)

  /** The a-mean leg with an ASYMMETRIC candidate relation (named for
    * the grid it was written for; it serves both layouts): `probeSide`
    * = the rows needing an a-mean (id, v, __cn and whatever `cells` —
    * their probed cells — reads, staged), `members` = the candidate
    * pool (cid, id, v, __cn). [[imiSelfKnnAMeans]] is the symmetric
    * special case; [[MarginIndex.append]] recomputes a-means for the
    * TOUCHED rows only by restricting `probeSide` while keeping
    * `members` exact — same definitions, so incremental a-means are
    * bit-identical to a full pass.
    *
    * Besides `a`, every row carries its DISPLACEMENT BOUND: `ck` = the
    * smallest kept top-knn cosine and `nk` = how many neighbors the
    * fold saw (< knn in sparse neighborhoods). A later append changes
    * this row's a-mean iff a new vector lands in its probed cells AND
    * (nk < knn OR its cosine exceeds ck — an exact tie carries the
    * same VALUE into the mean either way) — the screen that keeps
    * incremental maintenance ∝ genuinely-displaced rows instead of
    * ∝ everyone-who-probes-a-touched-cell.
    */
  private[functions] def imiKnnAMeansOver(probeSide: DataFrame, members: DataFrame,
                                          cells: Column, knn: Int,
                                          nCells: Long): DataFrame = {
    val probesV = probeSide
      .select(col("id").as("__qid"), col("v").as("__qv"), col("__cn").as("__qn"),
        explode_outer(cells).as("cid"))
      .filter(col("cid").isNotNull)
    // (A shuffled-hash hint on the members side was A/B'd in round 12 —
    // 49.2 vs 48.5 s at the 198k build, appends slightly worse: the
    // join is NOT the bottleneck; the per-pair partial-aggregate probe
    // is. Left on Catalyst's default join choice.)
    //
    // The pair join partitions by CELL at ~one cell per partition
    // (round 13): the fold's partial-aggregate maps then hold the
    // probers of ONE cell (~nProbe · targetClusterSize groups) instead
    // of n·nProbe/shufflePartitions — at the 2M deck with the default
    // 32 partitions that is ~500k groups per map, and the per-pair
    // hash-map probe (cache misses) dominated the build (SCALE.md r12;
    // the 2048-partition A/B read 392 → 307 s). An explicit count is
    // also AQE-exempt: bytes-proxy coalescing would serialize this
    // small-input/huge-output join onto 1-2 tasks. The clamp keeps
    // gate-scale decks on the session default (no empty-task tax) and
    // caps task count at the IMI codebook ceiling.
    val sessionParts = members.sparkSession.sessionState.conf.numShufflePartitions
    val nPart = math.min(4096L, math.max(sessionParts.toLong, nCells)).toInt
    val selfScored = members
      .repartition(nPart, col("cid"))
      .join(probesV.repartition(nPart, col("cid")), Seq("cid"))
      .filter(col("__qid") =!= col("id"))
      .select(col("__qid").as("__mq"), col("id").as("neighbor_id"),
        cosineWithNorms(col("__qv"), col("v"), col("__qn"), col("__cn")).as("cos"))
    // ONE fixed-width codegen fold ([[KnnAMeanFold]]) instead of the
    // typed TopKByScore pass + collect_list re-aggregation: keyed by
    // corpus row id, the typed path's ObjectHashAggregate fell back to
    // sort-based aggregation (>128 groups/partition, always true here)
    // and externally sorted the ENTIRE n·nProbe·cellSize pair stream —
    // ~16B rows at the 2M deck, the r11 build that never finished.
    // HashAggregate partials consume the join output in-stage under
    // codegen and spill only per-GROUP buffers; values are bit-identical
    // (same kept multiset, same ascending 0.0-seeded IEEE sum).
    selfScored
      .groupBy(col("__mq").as("id"))
      .agg(KnnAMeanFold(col("cos"), knn).as("__f"))
      .select(col("id"), col("__f").getField("a").as("a"),
        col("__f").getField("ck").as("ck"), col("__f").getField("nk").as("nk"))
  }

  /** Margin normalization + bounded top-k, SHARED by every margin
    * variant's tail: `cand` = (qId, neighbor_id, cos, __aq, __ac) with
    * the endpoints' a-MEANS — the `cos·2/(a_x+a_y)` mean form.
    */
  private[functions] def marginNormalizeTopK(cand: DataFrame, k: Int,
                                             qId: String): DataFrame =
    topkOf(cand.select(col(qId), col("neighbor_id"),
        (col("cos") * lit(2.0d) / (col("__aq") + col("__ac"))).as("cos")), k, qId)
      .select(col(qId), col("neighbor_id").as("match_id"),
        round(col("cos"), 4).as("margin_r"))

  /** (qId, neighbor_id, valCol) → bounded per-query top-k by LOWEST
    * value (ties → lowest id): negate for the aggregator's highest-wins
    * rule; values < 2^53 so the double carrier is exact.
    */
  private[functions] def topkByLowest(scored: DataFrame, k: Int, qId: String,
                           valCol: String): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val agg = new TopKByScore(k).toColumn
    scored.select(col(qId).cast("long"), col("neighbor_id").cast("long"),
        col(valCol).cast("double"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, -r._3))
      .agg(agg)
      .flatMap { case (qid, top) => top.map(t => (qid, t._1, (-t._2).toLong)) }
      .toDF(qId, "neighbor_id", valCol)
  }

  /** (qId, qVec float/double array) → (qId long, __qvi int vector). */
  private[functions] def toQInt(queries: DataFrame, qId: String, qVec: String): DataFrame =
    queries.select(col(qId).cast("long").as(qId),
      toIntVec(asDouble(col(qVec))).as("__qvi"))

  /** IVFADC (Jégou, Douze & Schmid, TPAMI 2011 §IV) — the billion-scale
    * index shape that combines both quantizers: a coarse IVF restricts
    * each query to `nProbe` inverted lists, and candidates inside a list
    * are scored from their `m`-byte PQ codes trained on RESIDUALS
    * (v − coarse centroid), where residual codebooks are far tighter
    * than whole-vector ones. The asymmetric distance is
    * Σ_s dist(query_residual_s, codebook_s[code_s]) — m table lookups
    * per candidate, never a d-dimensional computation.
    *
    * ENGINE-PORTABLE form, the [[ivfTopKPortable]] discipline end to
    * end: 2²⁰ fixed-point vectors, integer Lloyd for BOTH quantizers
    * (lexicographic (dist, cid) argmin, floor-division means,
    * empty-cluster carry), integer residuals (exact — no rounding
    * enters between the two quantizers), integer ADC. Every value
    * replays bit for bit in SQL (gate q232; q234 replays the matrix
    * coarse form at 130 lists).
    *
    * Shape: both trainings are bounded aggregate loops (centroid/
    * codebook literals on the driver); the corpus is touched by ONE
    * assign+encode pass whose output is |corpus| rows of (cid, m
    * small ids); the probe join shuffles each query to `nProbe` lists
    * and scores |list| candidates by code lookups — the corpus
    * vectors themselves never reach the scoring join. The COARSE leg
    * switches from the chained literal tree to the one-Literal MATRIX
    * form past [[MaxLiteralCentroids]] lists, so the √n list sizing
    * runs uncapped to [[MaxTableCentroids]]; the PQ side stays small by
    * construction (kCentroids ≤ 2^code_bits, a constant — its trees
    * never grow with the corpus). At 100 TB both quantizers train on
    * the bounded [[MaxTrainRows]] hash sample (in code, not by caller
    * discipline), the one assign+encode pass is the only full-corpus
    * work, and the index (8-ish bytes/vector) is what shuffles — or
    * lands at rest as [[AnnIndex]]'s cid-partitioned TxTable, which
    * shares [[ivfPqBuildIndex]] and [[adcProbeScore]] with this path.
    */
  def ivfPqTopKPortable(queries: DataFrame, corpus: DataFrame, k: Int,
                        dim: Int, m: Int = 4, kCentroids: Int = 8,
                        nCentroids: Int = 0, nProbe: Int = 8,
                        coarseIters: Int = 3, pqIters: Int = 2,
                        qId: String = "query_id", qVec: String = "query_vec",
                        cId: String = "vec_id", cVec: String = "embedding",
                        maxTrainRows: Long = MaxTrainRows): DataFrame = {
    val (index, quant, codebooks) = ivfPqBuildIndex(corpus, dim, m, kCentroids,
      coarseIters, pqIters, cId, cVec, maxTrainRows, imi = false,
      n => if (nCentroids > 0) nCentroids else autoCentroidsTable(n))
    topkByLowest(adcProbeScore(toQInt(queries, qId, qVec), index, quant,
      codebooks, dim, m, nProbe, qId), k, qId, "adc_q")
  }

  /** INDEX CONSTRUCTION — the train+encode half of IVFADC, shared by the
    * in-session search paths and [[AnnIndex]]'s at-rest
    * materialization. Returns `(index, quant, codebooks)` where `index`
    * is the relation (id, cid, ri, __c0..__c{m-1}): the checkpointed
    * residual rows with their PQ codes projected on lazily — this
    * relation IS the index's storage (`vi = ri + centroidOf(cid)`
    * reconstructs every exact integer vector from it, losslessly).
    * The coarse quantizer is the [[IntKernel]] over either layout
    * (`cells` derives its size from the row count); both quantizers
    * train on the bounded [[MaxTrainRows]] hash sample, and the one
    * full-corpus pass is the assign+residual job that lands in the
    * checkpoint.
    */
  private[functions] def ivfPqBuildIndex(corpus: DataFrame, dim: Int, m: Int,
      kCentroids: Int, coarseIters: Int, pqIters: Int, cId: String, cVec: String,
      maxTrainRows: Long, imi: Boolean,
      cells: Long => Int): (DataFrame, Coarse[Long], Array[Array[Array[Long]]]) = {
    require(m >= 1 && dim % m == 0, s"m=$m must divide dim=$dim")
    val c0 = corpusOf(IntKernel, corpus, cId, cVec)
    val n = c0.count()
    val quant = trainCoarse(IntKernel, c0, n, imi, cells(n), coarseIters, maxTrainRows)
    // the residual relation feeds m·pqIters training aggregates plus
    // the encode pass → checkpointed once
    val res = assignResidual(c0, quant).localCheckpoint(true)
    c0.unpersist()
    val codebooks = pqCodebooks(res, "ri", m, dim / m, kCentroids, pqIters,
      n, maxTrainRows)
    (pqIndexRows(res, codebooks, dim / m), quant, codebooks)
  }

  /** Cell assignment + residual over (…, vi): adds the cell `cid` and
    * ri = vi − centroidOf(cid) — the encode step of [[ivfPqBuildIndex]]
    * and [[AnnIndex]]'s frozen-quantizer append. The cell id is staged
    * (it feeds the output AND the centroid lookup — a heavy argmin
    * referenced twice keeps its own Project).
    */
  private[functions] def assignResidual(df: DataFrame, quant: Coarse[Long]): DataFrame =
    df.withColumn("cid", quant.cellId(col("vi")))
      .select(col("id"), col("cid"),
        zip_with(col("vi"), quant.centroidOf(col("cid")), (a, b) => a - b).as("ri"))

  /** (id, cid, ri) → (id, cid, ri, __c0..__c{m-1}): the index row
    * shape, shared by the in-session builds and [[AnnIndex]]'s append.
    */
  private[functions] def pqIndexRows(res: DataFrame,
                                     codebooks: Array[Array[Array[Long]]],
                                     subDim: Int): DataFrame =
    res.select(col("id") +: col("cid") +: col("ri") +:
      pqCodes(col("ri"), codebooks, subDim): _*)

  /** In-session IMI-coarse IVFADC top-k — [[ivfPqTopKPortable]]'s
    * engine-portable contract (every step exact integer arithmetic,
    * gate q238 replays training, assignment, residuals, PQ, probing
    * and ADC ranking in DuckDB) with the coarse quantizer the product
    * grid: the at-rest index's list count — and with it the per-query
    * candidate volume nProbe·cellSize — stays bounded by the target
    * cell size at ANY corpus size, where the single-level √n rule
    * saturates at 4096 lists (~16.7M vectors) and degrades linearly.
    */
  def ivfPqTopKImi(queries: DataFrame, corpus: DataFrame, k: Int,
                   dim: Int, m: Int = 4, kCentroids: Int = 8,
                   kPerHalf: Int = 0, nProbe: Int = 8,
                   coarseIters: Int = 3, pqIters: Int = 2,
                   qId: String = "query_id", qVec: String = "query_vec",
                   cId: String = "vec_id", cVec: String = "embedding",
                   maxTrainRows: Long = MaxTrainRows,
                   targetCellSize: Long = ImiTargetClusterSize): DataFrame = {
    val (index, quant, codebooks) = ivfPqBuildIndex(corpus, dim, m, kCentroids,
      coarseIters, pqIters, cId, cVec, maxTrainRows, imi = true,
      n => if (kPerHalf > 0) kPerHalf else imiHalfCentroids(n, targetCellSize))
    topkByLowest(adcProbeScore(toQInt(queries, qId, qVec), index, quant,
      codebooks, dim, m, nProbe, qId), k, qId, "adc_q")
  }

  /** The probe+score half of IVFADC: queries probe their `nProbe`
    * nearest cells, each (query, cell) row carries the m per-codebook
    * ADC tables (distance of the query RESIDUAL against the cell
    * centroid to every codebook entry — k·m integers, all broadcast),
    * and candidates score by m `element_at` lookups. `index` is any
    * relation carrying (id, cid, __c0..__c{m-1}) —
    * [[ivfPqBuildIndex]]'s in-session checkpoint or [[AnnIndex]]'s
    * pruned at-rest read; columns beyond the code set (ri) are pruned
    * by the projection.
    */
  private[functions] def adcProbeScore(qint: DataFrame, index: DataFrame,
      quant: Coarse[Long], codebooks: Array[Array[Array[Long]]],
      dim: Int, m: Int, nProbe: Int, qId: String): DataFrame = {
    val q = quant.probeRows(qint, "__qvi", nProbe, Seq(qId, "__qvi"), "pcid")
      .select(col(qId), col("pcid"),
        zip_with(col("__qvi"), quant.centroidOf(col("pcid")), (a, b) => a - b).as("qri"))
      .select(col(qId) +: col("pcid") +: adcTables(col("qri"), codebooks, dim / m): _*)
    index.join(broadcast(q), col("cid") === col("pcid"))
      .filter(col(qId) =!= col("id"))
      .select(col(qId), col("id").as("neighbor_id"), adcLookup(m).as("adc_q"))
  }

  /** IVFADC with re-ranking (Jégou, Douze & Schmid, TPAMI 2011 §V —
    * "IVFADC+R"): the ADC pass keeps a SHORTLIST of `rerank` candidates
    * per query, whose exact integer vectors are then reconstructed from
    * the index itself (`vi = ri + coarse(cid)` — residuals are exact
    * integers, so this is lossless and touches NO corpus data beyond
    * the |queries|·rerank shortlist rows) and re-scored by exact
    * integer L2. Recovers most of the recall the 12-bit codes lose
    * while the corpus-sized work stays the ADC pass (gate q233 pins
    * recall@10 vs the exact gold; spec pins rerank ≥ plain ADC).
    *
    * Shape at 100 TB: the shortlist is broadcast into the residual
    * relation (a semi-join-sized probe of the index), so re-ranking
    * adds one bounded O(|queries|·rerank·dim) scoring step — the paper's
    * point: ADC does the corpus-scale filtering, exact math only ever
    * sees a constant number of rows per query.
    */
  def ivfPqRerankTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                      rerank: Int, dim: Int, m: Int = 4, kCentroids: Int = 8,
                      nCentroids: Int = 0, nProbe: Int = 8,
                      coarseIters: Int = 3, pqIters: Int = 2,
                      qId: String = "query_id", qVec: String = "query_vec",
                      cId: String = "vec_id", cVec: String = "embedding",
                      maxTrainRows: Long = MaxTrainRows): DataFrame = {
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    // convert ONCE, eagerly — the query side is broadcast-small by
    // contract and feeds two branches (ADC probes + re-rank scoring)
    val qint = toQInt(queries, qId, qVec).localCheckpoint(true)
    val (index, quant, codebooks) = ivfPqBuildIndex(corpus, dim, m, kCentroids,
      coarseIters, pqIters, cId, cVec, maxTrainRows, imi = false,
      n => if (nCentroids > 0) nCentroids else autoCentroidsTable(n))
    rerankTopK(qint, index,
      adcProbeScore(qint, index, quant, codebooks, dim, m, nProbe, qId),
      k, rerank, qId, quant.centroidOf)
  }

  /** The exact re-rank of IVFADC+R, SHARED by [[ivfPqRerankTopK]] and
    * [[AnnIndex.searchRerank]] (in-session/at-rest parity is one
    * definition): the ADC top-`rerank` shortlist from `scored`
    * (qId, neighbor_id, adc_q), each member's exact integer vector
    * rebuilt from the index's own rows (`ri + centroidOf(cid)`), exact
    * integer L2 against `qint`'s `__qvi`, bounded top-k by lowest
    * `l2_q`. `index` carries (id, cid, ri); `qint` is broadcast-small.
    */
  private[functions] def rerankTopK(qint: DataFrame, index: DataFrame,
                                    scored: DataFrame, k: Int, rerank: Int,
                                    qId: String,
                                    centroidOf: Column => Column): DataFrame = {
    val cand = topkByLowest(scored, rerank, qId, "adc_q")
      .select(col(qId), col("neighbor_id"))
    val rr = index.join(broadcast(cand), index("id") === cand("neighbor_id"))
      .select(col(qId), col("neighbor_id"), col("ri"), centroidOf(col("cid")).as("civ"))
      .join(broadcast(qint), Seq(qId))
      .select(col(qId), col("neighbor_id"),
        IntSqDist.intSqDist(
          zip_with(col("ri"), col("civ"), (r, c) => r + c),
          col("__qvi")).as("l2_q"))
    topkByLowest(rr, k, qId, "l2_q")
  }

  /** Exact integer-L2 brute-force top-k — the GOLD BASELINE for the
    * fixed-point ANN family (q233's recall denominator): same 2²⁰
    * quantization as [[ivfPqTopKPortable]], so the metric the system
    * approximates is exactly the metric the gold ranks by, and every
    * value replays in SQL. Broadcast query set, one corpus pass,
    * bounded per-query top-k — O(|q|·n) scoring, so a labeled oracle/
    * eval path, not a production default (that's the IVF family).
    */
  def bruteForceTopKIntL2(queries: DataFrame, corpus: DataFrame, k: Int,
                          qId: String = "query_id", qVec: String = "query_vec",
                          cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val q = queries.select(col(qId).cast("long").as(qId),
      toIntVec(asDouble(col(qVec))).as("__qvi"))
    val c = corpus.select(col(cId).cast("long").as(cId),
      toIntVec(asDouble(col(cVec))).as("__cvi"))
    topkByLowest(
      c.crossJoin(broadcast(q)).filter(col(qId) =!= col(cId))
        .select(col(qId), col(cId).as("neighbor_id"),
          IntSqDist.intSqDist(col("__cvi"), col("__qvi")).as("l2_q")),
      k, qId, "l2_q")
  }
}
