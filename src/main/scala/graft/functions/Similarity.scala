package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector similarity over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and a random-
  * hyperplane-LSH bucketed variant as the scale path.
  *
  * Scale model: brute force is a broadcast of the (small) query set and
  * ONE pass over the corpus — embarrassingly parallel, no corpus shuffle;
  * the only shuffle is the per-query top-k (tiny). The LSH variant cuts
  * the compared fraction to the bucket hit rate; both share the same
  * codegen'd dot-product kernel (higher-order functions, no UDF).
  * Embedding-cosine near-dup reuses the LSH signature as its bucket key.
  *
  * The IVF families assign and probe coarse lists in one of two
  * expression shapes, picked from the centroid count: a chained literal
  * tree up to [[Similarity.MaxLiteralCentroids]] centroids (the form
  * the oracles replay), and one matrix literal with the codegen
  * distance kernel in a lambda past it (O(1) plan size).
  */
object Similarity {

  /** Cap for DERIVED IVF list counts on the CHAINED-LITERAL-TREE path:
    * bounds the driver's centroid collect (cap×dim doubles) and — the
    * binding constraint — the per-row argmin, which is a literal
    * expression tree of nCentroids dot products. Past ~65k vectors the
    * √n rule saturates here; beyond that [[marginTopKAnn]]'s helpers
    * switch to the one-Literal MATRIX form with the codegen dot
    * (round 9 — O(1) plan size, fastest measured float shape), so its
    * √n sizing runs uncapped to [[MaxTableCentroids]].
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
    * `nCentroids ≤ 0` (the DEFAULT) derives the list count from the
    * corpus: ceil(√n) capped at [[MaxAutoCentroids]] — the standard IVF
    * sizing rule, applied in code so a caller who keeps the default at a
    * billion vectors gets ~√n lists (up to the cap), not a fixture
    * constant. The cap bounds BOTH the driver's centroid collect and the
    * per-row argmin expression (which is a literal tree of nCentroids
    * dot products). Explicit counts override — the gate queries pin
    * (16, 8, 3), the IVF-sweep knee on the 500-vector fixture (SCALE.md,
    * "100× scaling probe (round 5)"): recall@10 = 0.9238 (sf0.001) /
    * 0.9190 (sf0.01), floor-pinned at 0.85 by AnnRecallSpec (which also
    * pins the DERIVED sizing at 1×
    * and 10× the fixture). The fixture's probed fraction (8/16) is an
    * artifact of 31-vector lists — at corpus scale nCentroids grows ~√n
    * with nProbe held, so the probed fraction collapses while per-list
    * statistics only improve.
    */
  // ---- float-IVF internals, parameterized by the trained centroid
  // array so one training can serve several probe legs (marginTopKAnn
  // trains ONCE and probes twice). Expression shapes identical to the
  // pre-refactor inline defs — q61/b61 plans and outputs unchanged.

  /** (2<v,c> − |c|², −cid) structs: greatest == nearest centroid with
    * lowest-cid tie-break; |v|² is constant per row so argmax over this
    * score is argmin of squared distance.
    */
  private[functions] def floatScoredStructs(centroids: Array[Array[Double]], v: Column) =
    centroids.zipWithIndex.map { case (cArr, i) =>
      struct((dot(v, lit(cArr)) * 2 - lit(cArr.map(x => x * x).sum)).as("score"),
        lit(-i).as("negcid"))
    }

  // ---- float MATRIX-literal form (round 9): the whole centroid set as
  // ONE typedLit 2-D array with the codegen DotProduct INSIDE the
  // transform lambda — the integer family's matrix shape, floated. The
  // r8 bake-off rejected the float matrix purely because its dot was an
  // interpreted aggregate(zip_with) lambda (36.3 s at 200k×448); with
  // DotProduct in the lambda it is the fastest float shape at every
  // probed geometry (f-matrixK 3.24 s vs chained 5.27 / table 3.67 at
  // 200k×448; 0.28 vs 0.71 / 0.46 at 20k×142 — SCALE.md round 9) AND O(1)
  // plan size, so the √n list sizing runs past the chained-literal cap
  // with no broadcast-join materialization.
  // d = |c|² − 2⟨v,c⟩ is the exact IEEE negation of the chained form's
  // score, with the identical driver-side norm constant, so (dist, cid)
  // ordering matches the chained tree bit for bit (bake-off parity: 0
  // diffs at 142 and 448).

  private[functions] def floatDistStructsMatrix(centroids: Array[Array[Double]], v: Column): Column = {
    val norms2 = typedLit(centroids.map(c => c.map(x => x * x).sum).toSeq)
    transform(typedLit(centroids.map(_.toSeq).toSeq), (c, i) =>
      struct((element_at(norms2, i + 1) - dot(v, c) * 2).as("d"), i.as("cid")))
  }

  /** greatest() needs ≥2 args — one centroid (tiny corpus /
    * nCentroids=1) means everything lives in list 0. Past
    * [[MaxLiteralCentroids]] the matrix form takes over (O(1) plan
    * size; fastest measured — see above).
    */
  private def floatNearestCid(centroids: Array[Array[Double]], v: Column): Column =
    if (centroids.length < 2) lit(0)
    else if (centroids.length > MaxLiteralCentroids)
      array_min(floatDistStructsMatrix(centroids, v)).getField("cid")
    else -greatest(floatScoredStructs(centroids, v): _*).getField("negcid")

  private def floatProbeCids(centroids: Array[Array[Double]], v: Column,
                             nProbe: Int): Column =
    if (centroids.length < 2) array(lit(0))
    else if (centroids.length > MaxLiteralCentroids)
      transform(
        slice(array_sort(floatDistStructsMatrix(centroids, v)), 1, nProbe),
        s => s.getField("cid"))
    else transform(
      slice(reverse(array_sort(array(floatScoredStructs(centroids, v): _*))), 1, nProbe),
      s => -s.getField("negcid"))

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
  private def lowestIdSeeds[T: scala.reflect.ClassTag](df: DataFrame, vec: Column,
                                                      k: Int): Array[Array[T]] =
    df.orderBy(col("id")).limit(k).select(vec).collect()
      .map(_.getAs[scala.collection.Seq[T]](0).toArray)

  /** `iters` Lloyd rounds over `c0` (columns id, v): assignment argmin
    * as DataFrame jobs, float means; only the nC×dim centroid table
    * reaches the driver. Empty clusters keep their previous centroid.
    */
  private[functions] def lloydFloat(c0: DataFrame, init: Array[Array[Double]],
                         iters: Int): Array[Array[Double]] = {
    var centroids = init
    (1 to iters).foreach { _ =>
      val means = c0.withColumn("cid", floatNearestCid(centroids, col("v")))
        .select(col("cid"), posexplode(col("v")))
        .toDF("cid", "pos", "x")
        .groupBy(col("cid"), col("pos")).agg(avg(col("x")).as("m"))
        .collect()
      val next = centroids.map(_.clone())
      means.foreach(r => next(r.getAs[Int]("cid"))(r.getAs[Int]("pos")) = r.getAs[Double]("m"))
      centroids = next
    }
    centroids
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

  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nCentroids: Int = 0, nProbe: Int = 8, iters: Int = 3,
              qId: String = "query_id", qVec: String = "query_vec",
              cId: String = "vec_id", cVec: String = "embedding",
              maxTrainRows: Long = MaxTrainRows,
              imiCutoverRows: Long = MaxSingleLevelRows): DataFrame = {
    val c0 = corpus.select(col(cId).as("id"), asDouble(col(cVec)).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = c0.count()
    if (nCentroids <= 0 && n > imiCutoverRows) {
      // derived sizing saturates the 4096 driver-array cap here: list
      // size — and the per-query candidate volume nProbe·(n/4096) —
      // would grow linearly. Hand off to the IMI product grid (the
      // same dispatcher rule as semDedup/semDedupTrained/marginTopK),
      // HANDING THE CACHE THROUGH — the count just materialized it,
      // and the grid trains over the same persisted relation.
      return ivfTopKImiOn(queries, c0, n, k,
        kPerHalf = imiHalfCentroids(n, ImiTargetClusterSize),
        nProbe = nProbe, iters = iters, qId = qId, qVec = qVec,
        maxTrainRows = maxTrainRows)
    }
    val nC = if (nCentroids > 0) nCentroids else autoCentroids(n)
    val init = lowestIdSeeds[Double](c0, col("v"), nC)
    val centroids = lloydFloat(trainSample(c0, n, maxTrainRows), init, iters)
    // the cache only serves the Lloyd jobs; the final query re-reads the
    // source in ONE pass (assign → probe-join → top-k), which is exactly
    // the production shape where assignment lands in a cid-partitioned
    // table instead of a cache
    c0.unpersist()

    val assigned = c0
      .withColumn("cid", floatNearestCid(centroids, col("v")))
      .withColumn("__cn", l2norm(col("v")))
    val q = queries.select(col(qId), asDouble(col(qVec)).as("__qv"))
      .withColumn("__qn", l2norm(col("__qv")))
      // explode_outer: an inferred pre-Generate filter would recompute
      // the all-centroid distance array per query row (graft.util.Explode)
      .withColumn("cid", explode_outer(floatProbeCids(centroids, col("__qv"), nProbe)))
      .filter(col("cid").isNotNull)
    topkOf(assigned.join(broadcast(q), Seq("cid"))
      .filter(col(qId) =!= col("id"))
      .select(col(qId), col("id").as("neighbor_id"),
        cosineWithNorms(col("__qv"), col("v"), col("__qn"), col("__cn")).as("cos")), k, qId)
  }

  /** [[ivfTopK]] with the IMI PRODUCT coarse grid — the float cosine
    * ANN family's escape from the min(√n, 4096) list ceiling, completing
    * the dispatcher set (semDedup/semDedupTrained/marginTopK/
    * AnnIndex.build): two trained ≤4096-entry half codebooks give
    * ~n/targetClusterSize effective cells, so the per-query candidate
    * volume nProbe·cellSize stays BOUNDED at any corpus size where the
    * capped single-level rule degrades to nProbe·(n/4096) linearly.
    * Probing is the exact multi-sequence top-nProbe cells by d1+d2;
    * scores are exact cosine on the candidate set (candidate-recall
    * approximation only, the [[marginTopKImi]] contract). The query
    * side's per-half probe slices are staged + eagerly materialized so
    * the grid lambda reads attributes (the repeated-lambda audit rule).
    */
  def ivfTopKImi(queries: DataFrame, corpus: DataFrame, k: Int,
                 kPerHalf: Int = 0, nProbe: Int = 8, iters: Int = 3,
                 qId: String = "query_id", qVec: String = "query_vec",
                 cId: String = "vec_id", cVec: String = "embedding",
                 targetClusterSize: Long = ImiTargetClusterSize,
                 maxTrainRows: Long = MaxTrainRows,
                 codebooksOpt: Option[(Array[Array[Double]], Array[Array[Double]])] = None): DataFrame = {
    val c0 = corpus.select(col(cId).as("id"), asDouble(col(cVec)).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ivfTopKImiOn(queries, c0, c0.count(), k, kPerHalf, nProbe, iters,
      qId, qVec, maxTrainRows, targetClusterSize, codebooksOpt)
  }

  /** [[ivfTopKImi]] over an ALREADY-persisted, counted (id, v)
    * relation — the [[ivfTopK]] dispatcher hands its cache through
    * here. Unpersists `c0` after training.
    */
  private def ivfTopKImiOn(queries: DataFrame, c0: DataFrame, n: Long, k: Int,
                           kPerHalf: Int, nProbe: Int, iters: Int,
                           qId: String, qVec: String,
                           maxTrainRows: Long,
                           targetClusterSize: Long = ImiTargetClusterSize,
                           codebooksOpt: Option[(Array[Array[Double]], Array[Array[Double]])] = None): DataFrame = {
    val kH = if (kPerHalf > 0) kPerHalf else imiHalfCentroids(n, targetClusterSize)
    // codebooksOpt: run against FROZEN half codebooks (the at-rest
    // [[VecIndex]] parity seam) instead of training in-session
    val (cb1, cb2) = codebooksOpt.getOrElse(
      imiTrainedHalfCodebooks(c0, kH, iters, n, maxTrainRows))
    val dim = cb1.head.length + cb2.head.length
    val cb1p = imiPad(cb1, dim, padHead = false)
    val cb2p = imiPad(cb2, dim, padHead = true)
    // the cache only serves the Lloyd jobs; the final query re-reads
    // the source in ONE pass (assign → probe-join → top-k), the ivfTopK
    // production shape
    c0.unpersist()
    val assigned = c0
      .select(col("id"), col("v"),
        imiCellIdFrom(cb1p, cb2p, col("v")).as("cid"),
        l2norm(col("v")).as("__cn"))
    val q = imiQueryProbes(queries, cb1p, cb2p, nProbe, qId, qVec)
    topkOf(assigned.join(broadcast(q), Seq("cid"))
      .filter(col(qId) =!= col("id"))
      .select(col(qId), col("id").as("neighbor_id"),
        cosineWithNorms(col("__qv"), col("v"), col("__qn"), col("__cn")).as("cos")), k, qId)
  }

  /** ENGINE-PORTABLE IVF top-k: the same inverted-file construction as
    * [[ivfTopK]] with every Lloyd step in FIXED-POINT INTEGER arithmetic
    * so any SQL engine replays training, assignment, probing and
    * re-ranking bit for bit — the float variant's distributed means
    * carry last-ulp partition-order drift that no oracle can reproduce.
    *
    *  - vectors quantize to `round(v · 2^20)` longs (sub-ppm centroid
    *    placement error — recall is spec-pinned unchanged);
    *  - assignment = argmin Σ(vᵢ−cᵢ)² over long diffs (≤ 2.7·10^16 for
    *    64 dims at |v| ≤ 10 — safely inside Long), ties → lowest cid;
    *  - centroid update = floor-division mean (pmod form, exact on any
    *    engine), empty clusters keep their previous centroid;
    *  - probes and final scores re-rank candidates with EXACT double
    *    cosine (identical IEEE fold order both engines, as q27).
    *
    * Iterations unroll (no driver loop state beyond the centroid table,
    * same as ivfTopK); all distributed work is DataFrame jobs.
    * `nCentroids ≤ 0` (the default) derives ceil(√n) capped — see
    * [[ivfTopK]]; the q61 gate pins (16, 8) explicitly for its oracle.
    */
  // ---- integer-IVF internals (the engine-portable twin's building
  // blocks), parameterized by the trained centroid table for the same
  // train-once reuse as the float set.

  private val IntScale = 1L << 20

  private[functions] def toIntVec(v: Column): Column =
    transform(asDouble(v), x => round(x * IntScale.toDouble).cast("long"))

  /** (−dist, −cid) structs: greatest == nearest with lowest-cid
    * tie-break. The distance kernel is the codegen'd [[IntSqDist]]
    * expression (round 8 — the lambda composition it replaces was
    * CodegenFallback and interpreter cost dominated every integer
    * ANN shape in the SCALE.md round-8 bake-off); exact integer
    * arithmetic, so oracle-replayed values are unchanged.
    */
  private def intSqDist(vi: Column, cArr: Array[Long]): Column =
    IntSqDist.intSqDist(vi, lit(cArr))

  private[functions] def intDistStructs(centroids: Array[Array[Long]], vi: Column) =
    centroids.zipWithIndex.map { case (cArr, i) =>
      struct((-intSqDist(vi, cArr)).as("negd"), lit(-i).as("negcid"))
    }

  // ---- MATRIX-literal form: the whole centroid set as ONE typedLit
  // 2-D array, argmin/probe as a lambda loop over it. Same exact
  // integer arithmetic and (dist, cid) tie rule as the chained form,
  // but the plan carries a single Literal node instead of O(nCentroids)
  // expression subtrees — so it scales to any driver-held centroid
  // count with zero shuffle and constant plan size. Measured (SCALE.md,
  // "Round 8 — IVFADC probes and the coarse-shape bake-off"): fastest of
  // the assignment shapes at both 20k×142 and 200k×448 — it beats the
  // chained tree (interpreter dispatch per subtree) and a
  // broadcast-join centroid table (n·nC skinny rows through a hash
  // aggregate). The chained form stays the default below
  // [[MaxLiteralCentroids]] because the oracle-replayed gates pin it and
  // at tiny nC the two are equivalent.

  private def intCentroidMatrix(centroids: Array[Array[Long]]): Column =
    typedLit(centroids.map(_.toSeq).toSeq)

  private[functions] def intDistStructsMatrix(centroids: Array[Array[Long]], vi: Column): Column =
    transform(intCentroidMatrix(centroids), (c, i) =>
      struct(IntSqDist.intSqDist(vi, c).as("d"), i.as("cid")))

  private[functions] def intNearestCid(centroids: Array[Array[Long]], vi: Column): Column =
    if (centroids.length < 2) lit(0)
    else if (centroids.length > MaxLiteralCentroids)
      array_min(intDistStructsMatrix(centroids, vi)).getField("cid")
    else -greatest(intDistStructs(centroids, vi): _*).getField("negcid")

  private[functions] def intProbeCids(centroids: Array[Array[Long]], vi: Column,
                           nProbe: Int): Column =
    if (centroids.length < 2) array(lit(0))
    else if (centroids.length > MaxLiteralCentroids)
      transform(
        slice(array_sort(intDistStructsMatrix(centroids, vi)), 1, nProbe),
        s => s.getField("cid"))
    else transform(
      slice(reverse(array_sort(array(intDistStructs(centroids, vi): _*))), 1, nProbe),
      s => -s.getField("negcid"))

  /** `iters` exact-integer Lloyd rounds over `c0` (columns id, v, vi):
    * floor-division means (engine-portable pmod form), empty clusters
    * keep their previous centroid.
    */
  private def lloydInt(c0: DataFrame, init: Array[Array[Long]],
                       iters: Int): Array[Array[Long]] = {
    var centroids = init
    (1 to iters).foreach { _ =>
      val sums = c0.withColumn("cid", intNearestCid(centroids, col("vi")))
        .select(col("cid"), posexplode(col("vi")))
        .toDF("cid", "pos", "x")
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        // exact floor division, engine-portable: (s − pmod(s, n)) div n
        .select(col("cid"), col("pos"),
          expr("(s - pmod(s, n)) div n").as("m"))
        .collect()
      val next = centroids.map(_.clone()) // empty clusters keep previous
      sums.foreach(r => next(r.getAs[Int]("cid"))(r.getAs[Int]("pos")) = r.getAs[Long]("m"))
      centroids = next
    }
    centroids
  }

  def ivfTopKPortable(queries: DataFrame, corpus: DataFrame, k: Int,
                      nCentroids: Int = 0, nProbe: Int = 8, iters: Int = 3,
                      qId: String = "query_id", qVec: String = "query_vec",
                      cId: String = "vec_id", cVec: String = "embedding",
                      maxTrainRows: Long = MaxTrainRows): DataFrame = {
    val c0 = corpus.select(col(cId).as("id"), asDouble(col(cVec)).as("v"))
      .withColumn("vi", toIntVec(col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = c0.count()
    val nC = if (nCentroids > 0) nCentroids else autoCentroids(n)

    val init = lowestIdSeeds[Long](c0, col("vi"), nC)
    val centroids = lloydInt(trainSample(c0, n, maxTrainRows), init, iters)
    c0.unpersist()

    val assigned = c0
      .withColumn("cid", intNearestCid(centroids, col("vi")))
      .withColumn("__cn", l2norm(col("v")))
    val q = queries.select(col(qId), asDouble(col(qVec)).as("__qv"))
      .withColumn("__qn", l2norm(col("__qv")))
      // quantized query vector STAGED: probeCids references it once per
      // CENTROID, so an inline toInt re-quantizes nCentroids times per
      // query row (PlanAudit nested-subtree rule)
      .withColumn("__qvi", toIntVec(col("__qv")))
      // explode_outer: same InferFiltersFromGenerate dodge as above
      .withColumn("cid", explode_outer(intProbeCids(centroids, col("__qvi"), nProbe)))
      .filter(col("cid").isNotNull)
    topkOf(assigned.join(broadcast(q), Seq("cid"))
      .filter(col(qId) =!= col("id"))
      .select(col(qId), col("id").as("neighbor_id"),
        cosineWithNorms(col("__qv"), col("v"), col("__qn"), col("__cn")).as("cos")), k, qId)
  }

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
    * the FULL relation's lowest ids, [[lloydInt]] iterates on its
    * bounded hash sample (identical below the threshold, deterministic
    * either way). The m trainings read disjoint coordinate slices of
    * `full` with subspace-local state only, so they overlap (guide §2.6
    * via graft.util.Par.all; output order is subspace order). `full`
    * should be materialized — each subspace reads it 1 + iters times.
    */
  private def pqCodebooks(full: DataFrame, vec: String, m: Int, subDim: Int,
                          kCentroids: Int, iters: Int, n: Long,
                          maxTrainRows: Long): Array[Array[Array[Long]]] =
    graft.util.Par.all((0 until m).map(s => () => {
      val sub = full.select(col("id"), subSlice(col(vec), s, subDim).as("vi"))
      lloydInt(trainSample(sub, n, maxTrainRows),
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
    * (SemDedupTrainedSpec pins trained >= fixed). Deterministic
    * (lowest-id init, hash sample, lowest-cid ties) — just not
    * SQL-replayable, because distributed float means carry
    * partition-order last-ulp drift; hence spec-pinned, not
    * oracle-gated.
    */
  def semDedupTrained(df: DataFrame, idCol: String, vecCol: String,
                      nClusters: Int = 0, threshold: Double = 0.95,
                      iters: Int = 2,
                      maxTrainRows: Long = MaxTrainRows,
                      imiCutoverRows: Long = MaxSingleLevelRows): DataFrame = {
    val c0 = df.select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = c0.count()
    if (nClusters <= 0 && n > imiCutoverRows) {
      // the sqrt(n) rule saturates the 4096 driver-array cap here and
      // cluster size would grow linearly — hand off to the trained
      // PRODUCT (IMI) grid, whose cell count keeps tracking n at a
      // constant target cluster size. The cache the count just
      // materialized is HANDED THROUGH (not discarded — the review's
      // wasted-materialization find): the grid trains and assigns over
      // the same persisted relation.
      return semDedupTrainedImiOn(c0, n,
        kPerHalf = imiHalfCentroids(n, ImiTargetClusterSize),
        threshold = threshold, iters = iters,
        targetClusterSize = ImiTargetClusterSize, maxTrainRows = maxTrainRows)
    }
    // sqrt(n) UNCAPPED by the literal tree (matrix argmin past 128).
    // Growth accounting, honestly: cluster size grows as sqrt(n) under
    // this rule (NOT "~constant" — the round-9 scaladoc's claim was
    // wrong), so the within-cluster pair volume is sum(c^2) ~ n^1.5;
    // the measured 7.6x wall for 10x rows between the organic decades
    // is exactly that exponent. n^1.5 is what the published recipe
    // costs at k = sqrt(n); the LINEAR-volume shape is the IMI route
    // above, which takes over once sqrt(n) can no longer grow.
    val nC = if (nClusters > 0) nClusters else autoCentroidsTable(n)
    val init = lowestIdSeeds[Double](c0, col("v"), nC)
    val centroids = lloydFloat(trainSample(c0, n, maxTrainRows), init, iters)
    // assignment materialized ONCE (eager, GC-released): three plan
    // branches consume it (both self-join sides + the left_anti base)
    val vecs = c0
      .select(col("id").as("vec_id"), col("v").as("__v"),
        floatNearestCid(centroids, col("v")).cast("long").as("cluster_id"))
      .localCheckpoint(true)
    c0.unpersist()
    semDedupWithin(vecs, threshold)
  }

  /** [[semDedupTrained]]'s ENGINE-PORTABLE twin — closes round 9's one
    * oracle gap: TRAINED-cluster SemDeDup whose geometry a SQL engine
    * replays bit for bit. Float Lloyd's distributed means carry
    * partition-order last-ulp drift (why semDedupTrained is spec-pinned
    * only); here every training step runs in the exact fixed-point
    * arithmetic of [[ivfTopKPortable]] — `round(v·2²⁰)` longs,
    * lexicographic (dist, cid) argmin, floor-division means (pmod
    * form), empty-cluster carry — the final assignment is the integer
    * argmin, and the within-cluster prune is the exact double cosine.
    * Every step replays in DuckDB: gate q236 reuses q61's unrolled
    * integer-Lloyd CTEs and hash-verifies the trained survivors.
    * Training runs on the bounded [[MaxTrainRows]] hash sample like
    * every other build (a no-op at gate SF, so the oracle needs no
    * sampling CTE).
    */
  def semDedupTrainedPortable(df: DataFrame, idCol: String, vecCol: String,
                              nClusters: Int = 0, threshold: Double = 0.95,
                              iters: Int = 3,
                              maxTrainRows: Long = MaxTrainRows): DataFrame = {
    val c0 = df.select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("vi", toIntVec(col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = c0.count()
    val nC = if (nClusters > 0) nClusters else autoCentroidsTable(n)
    val init = lowestIdSeeds[Long](c0, col("vi"), nC)
    val centroids = lloydInt(trainSample(c0, n, maxTrainRows), init, iters)
    val vecs = c0
      .select(col("id").as("vec_id"), col("v").as("__v"),
        intNearestCid(centroids, col("vi")).cast("long").as("cluster_id"))
      .localCheckpoint(true)
    c0.unpersist()
    semDedupWithin(vecs, threshold)
  }

  // ---- IMI: the PRODUCT coarse quantizer (Babenko & Lempitsky, CVPR
  // 2012 — "The Inverted Multi-Index"). Every single-level list count
  // in this file derives as min(sqrt n, 4096) because the centroids
  // live as a driver array / plan literal; past MaxSingleLevelRows
  // (~16.7M vectors) cluster size — and with it semDedup's
  // within-cluster pair volume and the margin self-kNN candidate
  // volume — grows LINEARLY. The IMI shape breaks the ceiling with two
  // bounded quantizers instead of one unbounded one: split each vector
  // into halves, quantize each half against its own <=4096-entry
  // codebook, and let the CELL id be the pair (c1, c2) — k1·k2 (up to
  // ~16.7M) effective lists from two matrix argmins, while the driver
  // only ever holds k1 + k2 half-width centroids. Cell distance
  // d1 + d2 is EXACTLY the squared L2 distance to the concatenated
  // product centroid, and the top-k cells by d1+d2 all have both
  // half-ranks <= k, so probing the k x k grid of per-half top-k is an
  // EXACT top-k cell enumeration (the multi-sequence property).

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

  /** Deterministic (oracle-replayable) half codebooks: the k lowest-id
    * vectors' halves — the [[assignToLowestIdCentroids]] discipline
    * applied per half. `c0` = (id, v). Also derives the split point:
    * h = dim/2 (first half gets the extra coordinate on odd dims).
    */
  private[functions] def imiFixedHalfCodebooks(c0: DataFrame,
                                    k: Int): (Array[Array[Double]], Array[Array[Double]]) = {
    val rows = lowestIdSeeds[Double](c0, col("v"), k)
    require(rows.nonEmpty, "imi codebooks: empty corpus")
    val h = (rows.head.length + 1) / 2
    (rows.map(_.take(h)), rows.map(_.drop(h)))
  }

  /** Trained half codebooks: one bounded-sample Lloyd run PER HALF
    * (init = the fixed lowest-id halves), each over the half-width
    * projection of the same deterministic hash sample — training cost
    * 2·iters·min(n, maxTrainRows)·k half-width distance evals. The
    * half projections are eagerly checkpointed (bounded by the sample
    * cap) so the Lloyd argmin lambda reads real columns, never a
    * re-inlined slice.
    */
  private[functions] def imiTrainedHalfCodebooks(c0: DataFrame, k: Int, iters: Int,
                                      n: Long, maxTrainRows: Long): (Array[Array[Double]], Array[Array[Double]]) = {
    val (i1, i2) = imiFixedHalfCodebooks(c0, k)
    val h = i1.head.length
    val train = trainSample(c0, n, maxTrainRows)
      .select(col("id"), slice(col("v"), 1, h).as("v"),
        slice(col("v"), h + 1, i2.head.length).as("v2"))
      .localCheckpoint(true) // both half-Lloyds iterate over it
    // the two half-Lloyds are independent read-only consumers of the
    // checkpointed sample — overlap their per-iteration collect round
    // trips (guide §2.6 via graft.util.Par; identical results, the
    // halves never exchange state)
    graft.util.Par.both(
      lloydFloat(train.select(col("id"), col("v")), i1, iters),
      lloydFloat(train.select(col("id"), col("v2").as("v")), i2, iters))
  }

  /** A half codebook ZERO-PADDED to full width (tail-padded for the
    * first half, head-padded for the second): the distance to the
    * padded centroid, |c_h|² − 2⟨v, c_pad⟩, ranks half-h distances
    * exactly (the padding contributes 0 to the dot and |v|² is
    * row-constant either way), so the per-half argmin/probe runs on
    * the FULL vector column — no slice ever enters the matrix lambda
    * (where CollapseProject would re-inline it per centroid), and a
    * SQL oracle replays the identical padded fold.
    */
  private[functions] def imiPad(cb: Array[Array[Double]], dim: Int,
                     padHead: Boolean): Array[Array[Double]] =
    cb.map { c =>
      val pad = Array.fill(dim - c.length)(0.0)
      if (padHead) pad ++ c else c ++ pad
    }

  /** Composite cell id over the full vector column via the padded
    * half codebooks: cid = argmin1 · k2 + argmin2, each argmin the
    * matrix-literal (d, cid) struct min with lowest-cid ties.
    */
  private[functions] def imiCellIdFrom(cb1p: Array[Array[Double]], cb2p: Array[Array[Double]],
                            v: Column): Column =
    array_min(floatDistStructsMatrix(cb1p, v)).getField("cid").cast("long") * cb2p.length +
      array_min(floatDistStructsMatrix(cb2p, v)).getField("cid").cast("long")

  /** Per-half sorted (d, cid) probe slice of length `nProbe` over the
    * full vector column (padded codebook) — staged as its own column
    * by corpus-side callers so [[imiProbeCellsOf]]'s nested lambda
    * reads a materialized attribute instead of re-sorting the codebook
    * distances per outer element.
    */
  private[functions] def imiHalfProbes(cbp: Array[Array[Double]], v: Column, nProbe: Int): Column =
    slice(array_sort(floatDistStructsMatrix(cbp, v)), 1, nProbe)

  /** EXACT top-`nProbe` cells by summed half-distance from two staged
    * [[imiHalfProbes]] columns: any top-k cell has both half-ranks
    * <= k, so the k x k grid of the per-half top-k contains the true
    * top-k — sort the <=nProbe² candidates and slice. d1 + d2 is the
    * exact squared distance to the product centroid.
    */
  private[functions] def imiProbeCellsOf(s1: Column, s2: Column, k2: Int,
                              nProbe: Int): Column =
    transform(
      slice(array_sort(flatten(transform(s1, a => transform(s2, b =>
        struct((a.getField("d") + b.getField("d")).as("d"),
          (a.getField("cid").cast("long") * k2 +
            b.getField("cid").cast("long")).as("cid")))))), 1, nProbe),
      s => s.getField("cid"))

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
    */
  def semDedupImi(df: DataFrame, idCol: String, vecCol: String,
                  kPerHalf: Int = 0, threshold: Double = 0.95,
                  targetClusterSize: Long = ImiTargetClusterSize,
                  codebooksOpt: Option[(Array[Array[Double]], Array[Array[Double]])] = None): DataFrame = {
    val c0 = df.select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
    // codebooksOpt: prune against FROZEN half codebooks (the at-rest
    // [[VecIndex.dedupBatch]] parity seam) instead of deriving in-run
    val (cb1, cb2) = codebooksOpt.getOrElse {
      val k = if (kPerHalf > 0) kPerHalf
        else imiHalfCentroids(c0.count(), targetClusterSize)
      imiFixedHalfCodebooks(c0, k)
    }
    val dim = cb1.head.length + cb2.head.length
    // assignment materialized ONCE (eager, GC-released): three plan
    // branches consume it and the two-argmin cell id must not re-run
    // per branch (PlanShapeSpec recompute audit)
    val vecs = c0
      .select(col("id").as("vec_id"), col("v").as("__v"),
        imiCellIdFrom(imiPad(cb1, dim, padHead = false),
          imiPad(cb2, dim, padHead = true), col("v")).as("cluster_id"))
      .localCheckpoint(true)
    semDedupWithin(vecs, threshold)
  }

  /** [[semDedupImi]] with TRAINED half codebooks (two bounded-sample
    * half-Lloyds) — the trained-cluster recipe at linear pair volume;
    * [[semDedupTrained]] hands off here past [[MaxSingleLevelRows]].
    * Deterministic but not SQL-replayable (distributed float means),
    * same as [[semDedupTrained]] — spec-pinned + benched.
    */
  def semDedupTrainedImi(df: DataFrame, idCol: String, vecCol: String,
                         kPerHalf: Int = 0, threshold: Double = 0.95,
                         iters: Int = 2,
                         targetClusterSize: Long = ImiTargetClusterSize,
                         maxTrainRows: Long = MaxTrainRows): DataFrame = {
    val c0 = df.select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    semDedupTrainedImiOn(c0, c0.count(), kPerHalf, threshold, iters,
      targetClusterSize, maxTrainRows)
  }

  /** [[semDedupTrainedImi]] over an ALREADY-persisted, counted (id, v)
    * relation — the [[semDedupTrained]] dispatcher hands its cache
    * through here, so the cutover costs neither a discarded cache
    * materialization nor a duplicate corpus pass. Unpersists `c0`.
    */
  private def semDedupTrainedImiOn(c0: DataFrame, n: Long,
                                   kPerHalf: Int, threshold: Double, iters: Int,
                                   targetClusterSize: Long,
                                   maxTrainRows: Long): DataFrame = {
    val k = if (kPerHalf > 0) kPerHalf else imiHalfCentroids(n, targetClusterSize)
    val (cb1, cb2) = imiTrainedHalfCodebooks(c0, k, iters, n, maxTrainRows)
    val dim = cb1.head.length + cb2.head.length
    // assignment materialized ONCE (eager, GC-released): three plan
    // branches consume it (both self-join sides + the left_anti base)
    val vecs = c0
      .select(col("id").as("vec_id"), col("v").as("__v"),
        imiCellIdFrom(imiPad(cb1, dim, padHead = false),
          imiPad(cb2, dim, padHead = true), col("v")).as("cluster_id"))
      .localCheckpoint(true)
    c0.unpersist()
    semDedupWithin(vecs, threshold)
  }

  /** [[semDedupTrainedImi]]'s ENGINE-PORTABLE twin — the q236
    * fixed-point discipline applied to the PRODUCT grid, so the trained
    * past-the-ceiling geometry is hash-replayable too: both half
    * codebooks train with [[lloydInt]] (round(v·2²⁰) longs,
    * lexicographic argmin, floor-division means, empty-cluster carry)
    * over the bounded hash sample, the cluster id is the separable
    * composite cell (argmin d1)·k2 + (argmin d2) — padded full-width
    * argmins, which differ from the half distances by a row constant,
    * so ties and order match the oracle's 32-dim halves exactly — and
    * the within-cell prune is the exact double cosine. Gate q240
    * replays both half Lloyds (q238's CTEs), the composite assignment,
    * and the prune.
    */
  def semDedupTrainedImiPortable(df: DataFrame, idCol: String, vecCol: String,
                                 kPerHalf: Int = 0, threshold: Double = 0.95,
                                 iters: Int = 3,
                                 targetClusterSize: Long = ImiTargetClusterSize,
                                 maxTrainRows: Long = MaxTrainRows): DataFrame = {
    val c0 = df.select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("vi", toIntVec(col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = c0.count()
    val k = if (kPerHalf > 0) kPerHalf else imiHalfCentroids(n, targetClusterSize)
    val (cb1, cb2) = intImiHalfCodebooks(c0.select(col("id"), col("vi")),
      k, iters, n, maxTrainRows)
    val dim = cb1.head.length + cb2.head.length
    val cb1p = intImiPad(cb1, dim, padHead = false)
    val cb2p = intImiPad(cb2, dim, padHead = true)
    val vecs = c0
      .select(col("id").as("vec_id"), col("v").as("__v"),
        (intNearestCid(cb1p, col("vi")).cast("long") * cb2.length +
          intNearestCid(cb2p, col("vi")).cast("long")).as("cluster_id"))
      .localCheckpoint(true)
    c0.unpersist()
    semDedupWithin(vecs, threshold)
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
    * legs ([[marginTopKAnn]]) beyond — recall-floor-pinned by
    * MarginAnnSpec, timed as b169_margin_ann.
    */
  def marginTopK(queries: DataFrame, corpus: DataFrame, k: Int, knn: Int = 4,
                 qId: String = "query_id", qVec: String = "query_vec",
                 cId: String = "vec_id", cVec: String = "embedding",
                 maxBrute: Long = MaxBruteMarginCorpus,
                 imiCutoverRows: Long = MaxSingleLevelRows): DataFrame = {
    val n = corpus.count()
    if (n <= maxBrute)
      marginTopKBrute(queries, corpus, k, knn, qId, qVec, cId, cVec)
    else if (n > imiCutoverRows)
      // past the single-level list cap the sqrt(n) IVF legs' candidate
      // volume n·nProbe·(n/4096) grows quadratically — the IMI grid
      // keeps cell size (and so the self-kNN volume per row) constant
      marginTopKImi(queries, corpus, k, knn,
        kPerHalf = imiHalfCentroids(n, ImiTargetClusterSize),
        qId = qId, qVec = qVec, cId = cId, cVec = cVec)
    else
      marginTopKAnn(queries, corpus, k, knn, qId = qId, qVec = qVec,
        cId = cId, cVec = cVec)
  }

  /** The corpus-scale margin path: BOTH brute legs replaced by IVF
    * candidates from ONE k-means training —
    *
    *  - the per-vector kNN-sum leg probes each corpus vector's `nProbe`
    *    nearest lists through a SHUFFLED equi-join on the list id (never
    *    the brute form's full-corpus broadcast): the scored pair volume
    *    n·nProbe·(n/nCentroids) ≈ n^1.5-ish vs the brute n² is consumed
    *    IN-STAGE by the cosine + bounded top-k partial aggregation —
    *    shuffle volume is ~(1+nProbe)× the corpus, the pair stream
    *    itself never materializes;
    *  - past [[MaxLiteralCentroids]] derived lists, every argmin/probe
    *    step switches from the chained literal tree to the MATRIX form
    *    (one typedLit centroid array + codegen DotProduct in the
    *    lambda — round 9's fastest measured float shape at every probed
    *    geometry), so the √n sizing runs uncapped to
    *    [[MaxTableCentroids]] at O(1) plan size;
    *  - the pair-scoring leg is the standard broadcast-query IVF probe
    *    ([[ivfTopK]]'s shape) over the same assignment;
    *  - margin arithmetic is unchanged except the a-sum becomes a MEAN
    *    over however many (≤ knn) neighbors the probed lists held, so an
    *    isolated vector degrades gracefully instead of erroring.
    *
    * The assignment is localCheckpoint'd (eager) — two probe legs
    * consume it, and the blocks release with the DataFrame (the
    * Hits/q212 discipline, no persist leak). Approximation is
    * candidate-recall only: scores of returned candidates are exact
    * cosine over exact a-means of the ANN kNN sets.
    */
  def marginTopKAnn(queries: DataFrame, corpus: DataFrame, k: Int, knn: Int = 4,
                    nCentroids: Int = 0, nProbe: Int = 8, iters: Int = 3,
                    qId: String = "query_id", qVec: String = "query_vec",
                    cId: String = "vec_id", cVec: String = "embedding",
                    maxTrainRows: Long = MaxTrainRows): DataFrame = {
    val c0 = corpus.select(col(cId).cast("long").as("id"), asDouble(col(cVec)).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = c0.count()
    // √n UNCAPPED-by-the-literal-tree: list size — and the self-join's
    // pair volume n·nProbe·(n/nC) — keeps shrinking per the √n rule
    // instead of saturating at the literal cap (200k vectors: 448
    // lists, not 256). Past [[MaxLiteralCentroids]] the literal helpers
    // take the MATRIX form with the codegen dot (round 9 — fastest
    // measured float shape; MarginSpec pins it bit-identical to the
    // chained tree at nC=150).
    val nC = if (nCentroids > 0) nCentroids else autoCentroidsTable(n)
    val centroids = lloydFloat(trainSample(c0, n, maxTrainRows),
      lowestIdSeeds[Double](c0, col("v"), nC), iters)
    val assigned = c0.withColumn("cid", floatNearestCid(centroids, col("v")))
      .withColumn("__cn", l2norm(col("v")))
      .localCheckpoint(true)
    c0.unpersist()

    // self-kNN leg: each vector's nProbe probe rows CARRY its vector
    // (nProbe×520B per vector — bounded) into the shuffled equi-join on
    // the list id, and the cosine + bounded top-k partial aggregation
    // consume the join output IN-STAGE. IVF probe pairs are already
    // unique (every corpus vector lives in exactly ONE list), so there
    // is no dedup step and — unlike a pairs-then-reattach shape — the
    // n·nProbe·(n/nC) pair stream never materializes or shuffles (the
    // reattach form sorted pair+vector rows: ~380 GB of spill at 200k
    // vectors; this shape shuffles ~nProbe× the corpus, full stop)
    val probesV = assigned
      .select(col("id").as("__qid"), col("v").as("__qv"),
        col("__cn").as("__qn"),
        explode_outer(floatProbeCids(centroids, col("v"), nProbe)).as("cid"))
      .filter(col("cid").isNotNull)
    // cell-partitioned pair join (the imiKnnAMeansOver idiom, r13):
    // AQE's bytes-proxy coalescing serializes this small-input/
    // huge-output join otherwise
    val selfParts = math.min(4096,
      math.max(assigned.sparkSession.sessionState.conf.numShufflePartitions, nC))
    val selfScored = assigned.repartition(selfParts, col("cid"))
      .join(probesV.repartition(selfParts, col("cid")), Seq("cid"))
      .filter(col("__qid") =!= col("id"))
      .select(col("__qid").as(qId), col("id").as("neighbor_id"),
        cosineWithNorms(col("__qv"), col("v"), col("__qn"), col("__cn")).as("cos"))
    // a = mean of the ascending-folded top-knn cosines (deterministic:
    // sorted array, left fold); tolerant to < knn probed neighbors.
    // Checkpointed: BOTH margin join sides consume it, and its lineage
    // is the whole self-kNN leg (the recomputed-subplan audit's find)
    val nnMean = topkOf(selfScored, knn, qId)
      .groupBy(col(qId).as("id"))
      .agg(sort_array(collect_list(col("cos"))).as("cs"))
      .select(col("id"),
        (aggregate(col("cs"), lit(0.0d), (acc, x) => acc + x)
          / size(col("cs"))).as("a"))
      .localCheckpoint(true)

    // pair-scoring leg: broadcast-query IVF probe over the same assignment
    val q = queries.select(col(qId).cast("long").as(qId), asDouble(col(qVec)).as("__qv"))
      .withColumn("__qn", l2norm(col("__qv")))
      .withColumn("cid", explode_outer(floatProbeCids(centroids, col("__qv"), nProbe)))
      .filter(col("cid").isNotNull)
    val candScored = assigned.join(broadcast(q), Seq("cid"))
      .filter(col(qId) =!= col("id"))
      .select(col(qId), col("id").as("neighbor_id"),
        cosineWithNorms(col("__qv"), col("v"), col("__qn"), col("__cn")).as("cos"))
    val scored = candScored
      .join(nnMean.select(col("id").as(qId), col("a").as("__aq")), Seq(qId))
      .join(nnMean.select(col("id").as("neighbor_id"), col("a").as("__ac")),
        Seq("neighbor_id"))
      .select(col(qId), col("neighbor_id"),
        (col("cos") * lit(2.0d) / (col("__aq") + col("__ac"))).as("cos"))
    topkOf(scored, k, qId)
      .select(col(qId), col("neighbor_id").as("match_id"),
        round(col("cos"), 4).as("margin_r"))
  }

  /** The margin legs over the IMI PRODUCT grid — [[marginTopKAnn]]'s
    * exact two-leg shape (self-kNN a-means + broadcast-query probe,
    * same margin arithmetic) with assignment and probing against the
    * k1 x k2 cell grid instead of a single centroid array:
    *
    *  - cells derive as ceil(n / targetClusterSize), so the self-kNN
    *    leg's candidate volume n·nProbe·cellSize is ~n·nProbe·target —
    *    LINEAR in the corpus at any size the grid reaches (~1.7·10¹⁰
    *    vectors at the defaults), where the sqrt(n) single-level legs
    *    degrade to n²·nProbe/4096 past their cap;
    *  - probing is the EXACT top-nProbe cells by d1+d2 (multi-sequence
    *    property: the per-half top-nProbe grid contains them), each
    *    probe row an equi-join key on the composite cell id — shuffle
    *    volume stays ~(1+nProbe)x the corpus, as in the IVF form;
    *  - the per-half sorted probe slices are computed ONCE into the
    *    checkpointed assignment (`__s1`/`__s2`), so the grid lambda
    *    reads materialized attributes.
    *
    * Approximation is candidate-recall only (scores exact), same
    * contract as [[marginTopKAnn]]; recall floor pinned by
    * MarginImiSpec against the brute gold.
    */
  /** The IMI self-kNN a-mean leg, SHARED by [[marginTopKImi]] and the
    * at-rest [[MarginIndex.build]] (one definition — the bit-parity the
    * spec pins is structural, not copy-discipline): probe rows carry
    * the prober's vector into the shuffled equi-join on the cell id,
    * cosine + bounded top-k consume the pair stream IN-STAGE, then the
    * ascending-sorted mean. `assigned` must be the MATERIALIZED
    * (id, v, cid, __cn, __s1, __s2) relation. Output (id, a).
    */
  private[functions] def imiSelfKnnAMeans(assigned: DataFrame, k2: Int,
                                          nProbe: Int, knn: Int,
                                          nCells: Int): DataFrame =
    imiKnnAMeansOver(assigned,
      assigned.select(col("cid"), col("id"), col("v"), col("__cn")),
      k2, nProbe, knn, nCells)

  /** The a-mean leg with an ASYMMETRIC candidate relation: `probeSide`
    * = the rows needing an a-mean (id, v, __cn, __s1, __s2 — probe
    * slices STAGED, the lambda-audit rule), `members` = the candidate
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
                                          k2: Int, nProbe: Int, knn: Int,
                                          nCells: Int): DataFrame = {
    val probesV = probeSide
      .select(col("id").as("__qid"), col("v").as("__qv"), col("__cn").as("__qn"),
        explode_outer(imiProbeCellsOf(col("__s1"), col("__s2"), k2,
          nProbe)).as("cid"))
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
    // the 2048-partition A/B read 392 → 307 s). The clamp keeps
    // gate-scale decks on the session default (no empty-task tax) and
    // caps task count at the IMI codebook ceiling.
    val sessionParts = members.sparkSession.sessionState.conf.numShufflePartitions
    val nPart = math.min(4096, math.max(sessionParts, nCells))
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

  /** Query-side IMI probe rows, SHARED by [[marginTopKImi]],
    * [[ivfTopKImi]] and [[MarginIndex.search]]: per-half sorted probe
    * slices STAGED + eagerly materialized (broadcast-small by
    * contract; the lambda audit rejects a half-sort re-evaluated per
    * outer element), then the exact top-nProbe product cells exploded
    * to (qId, __qv, __qn, cid) rows.
    */
  private[functions] def imiQueryProbes(queries: DataFrame,
      cb1p: Array[Array[Double]], cb2p: Array[Array[Double]], nProbe: Int,
      qId: String, qVec: String): DataFrame = {
    val qStaged = queries
      .select(col(qId).cast("long").as(qId), asDouble(col(qVec)).as("__qv"))
      .select(col(qId), col("__qv"), l2norm(col("__qv")).as("__qn"),
        imiHalfProbes(cb1p, col("__qv"), nProbe).as("__s1"),
        imiHalfProbes(cb2p, col("__qv"), nProbe).as("__s2"))
      .localCheckpoint(true)
    qStaged
      .select(col(qId), col("__qv"), col("__qn"),
        explode_outer(imiProbeCellsOf(col("__s1"), col("__s2"),
          cb2p.length, nProbe)).as("cid"))
      .filter(col("cid").isNotNull)
  }

  /** Margin normalization + bounded top-k, SHARED by every margin
    * variant's tail: `cand` = (qId, neighbor_id, cos, __aq, __ac) with
    * the endpoints' a-MEANS — the `cos·2/(a_x+a_y)` mean form (the
    * brute/portable forms fold SUMS and absorb /knn/2 into the /8
    * literal; identical value).
    */
  private[functions] def marginNormalizeTopK(cand: DataFrame, k: Int,
                                             qId: String): DataFrame =
    topkOf(cand.select(col(qId), col("neighbor_id"),
        (col("cos") * lit(2.0d) / (col("__aq") + col("__ac"))).as("cos")), k, qId)
      .select(col(qId), col("neighbor_id").as("match_id"),
        round(col("cos"), 4).as("margin_r"))

  def marginTopKImi(queries: DataFrame, corpus: DataFrame, k: Int, knn: Int = 4,
                    kPerHalf: Int = 0, nProbe: Int = 8, iters: Int = 3,
                    qId: String = "query_id", qVec: String = "query_vec",
                    cId: String = "vec_id", cVec: String = "embedding",
                    targetClusterSize: Long = ImiTargetClusterSize,
                    maxTrainRows: Long = MaxTrainRows,
                    codebooksOpt: Option[(Array[Array[Double]], Array[Array[Double]])] = None): DataFrame = {
    require(knn >= 1 && knn <= 64,
      s"marginTopKImi supports knn in 1..64 (fixed-width a-mean fold slots); got $knn.")
    val c0 = corpus.select(col(cId).cast("long").as("id"), asDouble(col(cVec)).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = c0.count()
    val kH = if (kPerHalf > 0) kPerHalf else imiHalfCentroids(n, targetClusterSize)
    // codebooksOpt: run against FROZEN half codebooks (the at-rest
    // [[MarginIndex]] parity seam) instead of training in-session
    val (cb1, cb2) = codebooksOpt.getOrElse(
      imiTrainedHalfCodebooks(c0, kH, iters, n, maxTrainRows))
    val dim = cb1.head.length + cb2.head.length
    val cb1p = imiPad(cb1, dim, padHead = false)
    val cb2p = imiPad(cb2, dim, padHead = true)
    val assigned = c0
      .select(col("id"), col("v"),
        imiCellIdFrom(cb1p, cb2p, col("v")).as("cid"),
        l2norm(col("v")).as("__cn"),
        imiHalfProbes(cb1p, col("v"), nProbe).as("__s1"),
        imiHalfProbes(cb2p, col("v"), nProbe).as("__s2"))
      .localCheckpoint(true)
    c0.unpersist()

    val members = assigned.select(col("cid"), col("id"), col("v"), col("__cn"))
    val nnMean = imiSelfKnnAMeans(assigned, cb2p.length, nProbe, knn,
        nCells = cb1p.length * cb2p.length)
      .localCheckpoint(true) // both margin join sides consume it
    val q = imiQueryProbes(queries, cb1p, cb2p, nProbe, qId, qVec)
    val candScored = members.join(broadcast(q), Seq("cid"))
      .filter(col(qId) =!= col("id"))
      .select(col(qId), col("id").as("neighbor_id"),
        cosineWithNorms(col("__qv"), col("v"), col("__qn"), col("__cn")).as("cos"))
    val scored = candScored
      .join(nnMean.select(col("id").as(qId), col("a").as("__aq")), Seq(qId))
      .join(nnMean.select(col("id").as("neighbor_id"), col("a").as("__ac")),
        Seq("neighbor_id"))
    marginNormalizeTopK(scored, k, qId)
  }

  /** ENGINE-PORTABLE ANN margin: [[marginTopKAnn]]'s two-leg shape with
    * the IVF pieces in exact integer arithmetic ([[ivfTopKPortable]]'s
    * discipline) and the brute form's unrolled knn=4 ascending fold +
    * `cos·8/(s_x+s_y)` literal margin tree — every step replayable by a
    * SQL oracle, which is how q225 hash-gates the ANN path end to end
    * (recall vs the brute gold, the q216 pattern).
    */
  def marginTopKAnnPortable(queries: DataFrame, corpus: DataFrame, k: Int,
                            knn: Int = 4, nCentroids: Int = 0, nProbe: Int = 8,
                            iters: Int = 3,
                            qId: String = "query_id", qVec: String = "query_vec",
                            cId: String = "vec_id", cVec: String = "embedding",
                            maxTrainRows: Long = MaxTrainRows): DataFrame = {
    require(knn == 4, s"margin fold is unrolled for knn = 4, got $knn")
    // FanOut: the per-row matrix argmin/probe-slice assignment and every
    // downstream leg inherit this relation's parallelism — a one-file
    // corpus otherwise runs the whole path on one task (measured r13)
    val c0 = graft.util.FanOut(
        corpus.select(col(cId).cast("long").as("id"), asDouble(col(cVec)).as("v")))
      .withColumn("vi", toIntVec(col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = c0.count()
    val nC = if (nCentroids > 0) nCentroids else autoCentroids(n)
    val init = lowestIdSeeds[Long](c0, col("vi"), nC)
    val centroids = lloydInt(trainSample(c0, n, maxTrainRows), init, iters)
    // vi is a MATERIALIZED checkpoint column, so the probe leg reads it
    // instead of re-quantizing per centroid (the q61 staging rule)
    val assigned = c0.withColumn("cid", intNearestCid(centroids, col("vi")))
      .withColumn("__cn", l2norm(col("v")))
      .localCheckpoint(true)
    c0.unpersist()

    // probe rows carry the prober's vector; scoring fuses into the cid
    // join and the pair stream flows straight into the bounded top-k
    // partial agg (see marginTopKAnn — the reattach shape spilled)
    val probesV = assigned
      .select(col("id").as("__qid"), col("v").as("__qv"),
        col("__cn").as("__qn"),
        explode_outer(intProbeCids(centroids, col("vi"), nProbe)).as("cid"))
      .filter(col("cid").isNotNull)
    // pair join partitioned by CELL at ~one cell per partition (the
    // imiKnnAMeansOver idiom, r13): AQE's bytes-proxy coalescing would
    // re-serialize this small-input/huge-output join onto 1-2 tasks
    val selfParts = math.min(4096,
      math.max(assigned.sparkSession.sessionState.conf.numShufflePartitions, nC))
    val selfScored = assigned.repartition(selfParts, col("cid"))
      .join(probesV.repartition(selfParts, col("cid")), Seq("cid"))
      .filter(col("__qid") =!= col("id"))
      .select(col("__qid").as(qId), col("id").as("neighbor_id"),
        cosineWithNorms(col("__qv"), col("v"), col("__qn"), col("__cn")).as("cos"))
    // checkpointed: both margin join sides consume it, and its lineage
    // is the whole self-kNN leg (the recomputed-subplan audit's find)
    val nnSum = topkOf(selfScored, knn, qId)
      .groupBy(col(qId).as("id"))
      .agg(sort_array(collect_list(col("cos"))).as("cs"))
      .select(col("id"),
        when(size(col("cs")) === knn,
          element_at(col("cs"), 1) + element_at(col("cs"), 2) +
            element_at(col("cs"), 3) + element_at(col("cs"), 4))
          .otherwise(raise_error(
            lit(s"marginTopKAnnPortable: every corpus vector must probe " +
              s"> $knn neighbors — raise nProbe")))
          .as("s"))
      .localCheckpoint(true)

    val q = queries.select(col(qId).cast("long").as(qId), asDouble(col(qVec)).as("__qv"))
      .withColumn("__qn", l2norm(col("__qv")))
      .withColumn("__qvi", toIntVec(col("__qv")))
      .withColumn("cid", explode_outer(intProbeCids(centroids, col("__qvi"), nProbe)))
      .filter(col("cid").isNotNull)
    val candScored = assigned.join(broadcast(q), Seq("cid"))
      .filter(col(qId) =!= col("id"))
      .select(col(qId), col("id").as("neighbor_id"),
        cosineWithNorms(col("__qv"), col("v"), col("__qn"), col("__cn")).as("cos"))
    val scored = candScored
      .join(nnSum.select(col("id").as(qId), col("s").as("__sq")), Seq(qId))
      .join(nnSum.select(col("id").as("neighbor_id"), col("s").as("__sc")),
        Seq("neighbor_id"))
      .select(col(qId), col("neighbor_id"),
        (col("cos") * lit(8.0) / (col("__sq") + col("__sc"))).as("cos"))
    topkOf(scored, k, qId)
      .select(col(qId), col("neighbor_id").as("match_id"),
        round(col("cos"), 4).as("margin_r"))
  }

  /** [[marginTopKAnnPortable]] with the coarse quantizer the INTEGER
    * IMI product grid — the past-the-ceiling margin geometry under the
    * full oracle (gate q241, the q225 pattern at the q238 grid): both
    * half codebooks train with the exact integer Lloyd, assignment is
    * the separable composite cell, and PROBING is the exact
    * top-`nProbe` cells by d1+d2 — which equals ranking all k1·k2
    * cells by the full 64-dim integer distance to the concatenated
    * cell centroid (the padded half distances differ by a row
    * constant; ties to the lowest composite cid both ways, and the
    * multi-sequence containment holds under that tie order), so the
    * oracle replays the probe as one rank over the `cells` relation.
    * The margin arithmetic is the brute form's literal tree verbatim.
    */
  def marginTopKImiPortable(queries: DataFrame, corpus: DataFrame, k: Int,
                            knn: Int = 4, kPerHalf: Int = 0, nProbe: Int = 8,
                            iters: Int = 3,
                            qId: String = "query_id", qVec: String = "query_vec",
                            cId: String = "vec_id", cVec: String = "embedding",
                            targetClusterSize: Long = ImiTargetClusterSize,
                            maxTrainRows: Long = MaxTrainRows): DataFrame = {
    require(knn == 4, s"margin fold is unrolled for knn = 4, got $knn")
    // FanOut: same input-parallelism floor as marginTopKAnnPortable
    val c0 = graft.util.FanOut(
        corpus.select(col(cId).cast("long").as("id"), asDouble(col(cVec)).as("v")))
      .withColumn("vi", toIntVec(col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = c0.count()
    val kH = if (kPerHalf > 0) kPerHalf else imiHalfCentroids(n, targetClusterSize)
    val (cb1, cb2) = intImiHalfCodebooks(c0.select(col("id"), col("vi")),
      kH, iters, n, maxTrainRows)
    val dim = cb1.head.length + cb2.head.length
    val cb1p = intImiPad(cb1, dim, padHead = false)
    val cb2p = intImiPad(cb2, dim, padHead = true)
    // assignment + the per-half probe slices staged and MATERIALIZED
    // once (the marginTopKImi discipline: the grid lambda must read
    // attributes, never re-sort the codebook distances per element)
    val assigned = c0
      .select(col("id"), col("v"),
        (intNearestCid(cb1p, col("vi")).cast("long") * cb2.length +
          intNearestCid(cb2p, col("vi")).cast("long")).as("cid"),
        l2norm(col("v")).as("__cn"),
        slice(array_sort(intDistStructsMatrix(cb1p, col("vi"))), 1, nProbe).as("__s1"),
        slice(array_sort(intDistStructsMatrix(cb2p, col("vi"))), 1, nProbe).as("__s2"))
      .localCheckpoint(true)
    c0.unpersist()

    // self-kNN leg: probe rows carry the prober's vector into the
    // cell-id equi-join; cosine + bounded top-k consume the pair stream
    // in-stage (the marginTopKAnnPortable shape, composite-cell keyed)
    val probesV = assigned
      .select(col("id").as("__qid"), col("v").as("__qv"), col("__cn").as("__qn"),
        explode_outer(imiProbeCellsOf(col("__s1"), col("__s2"), cb2.length,
          nProbe)).as("cid"))
      .filter(col("cid").isNotNull)
    val members = assigned.select(col("cid"), col("id"), col("v"), col("__cn"))
    // cell-partitioned pair join (the imiKnnAMeansOver idiom, r13)
    val selfParts = math.min(4096,
      math.max(assigned.sparkSession.sessionState.conf.numShufflePartitions,
        kH * kH))
    val selfScored = members.repartition(selfParts, col("cid"))
      .join(probesV.repartition(selfParts, col("cid")), Seq("cid"))
      .filter(col("__qid") =!= col("id"))
      .select(col("__qid").as(qId), col("id").as("neighbor_id"),
        cosineWithNorms(col("__qv"), col("v"), col("__qn"), col("__cn")).as("cos"))
    val nnSum = topkOf(selfScored, knn, qId)
      .groupBy(col(qId).as("id"))
      .agg(sort_array(collect_list(col("cos"))).as("cs"))
      .select(col("id"),
        when(size(col("cs")) === knn,
          element_at(col("cs"), 1) + element_at(col("cs"), 2) +
            element_at(col("cs"), 3) + element_at(col("cs"), 4))
          .otherwise(raise_error(
            lit(s"marginTopKImiPortable: every corpus vector must probe " +
              s"> $knn neighbors — raise nProbe")))
          .as("s"))
      .localCheckpoint(true)

    // pair-scoring leg: broadcast-query probe over the same cells, the
    // query side's slices staged + materialized like the corpus side's
    val qStaged = queries
      .select(col(qId).cast("long").as(qId), asDouble(col(qVec)).as("__qv"))
      .select(col(qId), col("__qv"), l2norm(col("__qv")).as("__qn"),
        toIntVec(col("__qv")).as("__qvi"))
      .select(col(qId), col("__qv"), col("__qn"),
        slice(array_sort(intDistStructsMatrix(cb1p, col("__qvi"))), 1, nProbe).as("__s1"),
        slice(array_sort(intDistStructsMatrix(cb2p, col("__qvi"))), 1, nProbe).as("__s2"))
      .localCheckpoint(true) // broadcast-small
    val q = qStaged
      .select(col(qId), col("__qv"), col("__qn"),
        explode_outer(imiProbeCellsOf(col("__s1"), col("__s2"),
          cb2.length, nProbe)).as("cid"))
      .filter(col("cid").isNotNull)
    val candScored = members.join(broadcast(q), Seq("cid"))
      .filter(col(qId) =!= col("id"))
      .select(col(qId), col("id").as("neighbor_id"),
        cosineWithNorms(col("__qv"), col("v"), col("__qn"), col("__cn")).as("cos"))
    val scored = candScored
      .join(nnSum.select(col("id").as(qId), col("s").as("__sq")), Seq(qId))
      .join(nnSum.select(col("id").as("neighbor_id"), col("s").as("__sc")),
        Seq("neighbor_id"))
      .select(col(qId), col("neighbor_id"),
        (col("cos") * lit(8.0) / (col("__sq") + col("__sc"))).as("cos"))
    topkOf(scored, k, qId)
      .select(col(qId), col("neighbor_id").as("match_id"),
        round(col("cos"), 4).as("margin_r"))
  }

  /** Literal lookup cid → centroid array: chained when below
    * [[MaxLiteralCentroids]] (the oracle-replayed gate form), one
    * element_at into the matrix literal past it (O(1) plan size). No
    * centroids (an empty corpus) is a typed null.
    */
  private[functions] def intCentroidOf(coarse: Array[Array[Long]], cid: Column): Column =
    if (coarse.isEmpty) lit(null).cast("array<bigint>")
    else if (coarse.length > MaxLiteralCentroids)
      element_at(intCentroidMatrix(coarse), cid.cast("int") + 1)
    else {
      val cases = coarse.zipWithIndex.map { case (cA, i) =>
        (lit(i), lit(cA))
      }
      cases.tail.foldLeft(when(cid === cases.head._1, cases.head._2)) {
        case (acc, (i, cA)) => acc.when(cid === i, cA)
      }
    }

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
    val (index, coarse, codebooks) = ivfPqBuildIndex(corpus, dim, m,
      kCentroids, nCentroids, coarseIters, pqIters, cId, cVec, maxTrainRows)
    topkByLowest(adcProbeScore(toQInt(queries, qId, qVec), index, coarse,
      codebooks, dim, m, nProbe, qId), k, qId, "adc_q")
  }

  /** INDEX CONSTRUCTION — the train+encode half of IVFADC, shared by the
    * in-session search paths and [[AnnIndex]]'s at-rest
    * materialization. Returns `(index, coarse, codebooks)` where `index`
    * is the relation (id, cid, ri, __c0..__c{m-1}): the checkpointed
    * residual rows with their PQ codes projected on lazily — this
    * relation IS the index's storage (`vi = ri + coarse(cid)`
    * reconstructs every exact integer vector from it, losslessly).
    * Both quantizers train on the bounded [[MaxTrainRows]] hash sample;
    * the one full-corpus pass is the assign+residual job that lands in
    * the checkpoint.
    */
  private[functions] def ivfPqBuildIndex(corpus: DataFrame, dim: Int, m: Int,
      kCentroids: Int, nCentroids: Int, coarseIters: Int, pqIters: Int,
      cId: String, cVec: String,
      maxTrainRows: Long): (DataFrame, Array[Array[Long]], Array[Array[Array[Long]]]) = {
    require(m >= 1 && dim % m == 0, s"m=$m must divide dim=$dim")
    val c0 = corpus.select(col(cId).cast("long").as("id"),
        asDouble(col(cVec)).as("v"))
      .withColumn("vi", toIntVec(col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // √n list sizing when unset, UNCAPPED by the chained literal tree:
    // past [[MaxLiteralCentroids]] derived lists the literal helpers
    // (intNearestCid/intProbeCids/intCentroidOf) switch to the MATRIX
    // form — one typedLit centroid array, O(1) plan size, zero shuffle
    // — so the √n rule runs to [[MaxTableCentroids]] (SCALE.md round 8
    // bake-off: the fastest measured coarse shape at 20k×142 and 200k×448).
    val n = c0.count()
    val nC = if (nCentroids > 0) nCentroids else autoCentroidsTable(n)
    val coarse = lloydInt(trainSample(c0, n, maxTrainRows),
      lowestIdSeeds[Long](c0, col("vi"), nC), coarseIters)
    // the residual relation feeds m·pqIters training aggregates plus
    // the encode pass → checkpointed once
    val res = intAssignResidual(c0, coarse).localCheckpoint(true)
    c0.unpersist()
    val (index, codebooks) = pqOnResiduals(res, m, dim / m, kCentroids,
      pqIters, n, maxTrainRows)
    (index, coarse, codebooks)
  }

  /** Coarse-list assignment + residual over (…, vi): adds the nearest
    * list `cid` and ri = vi − coarse(cid) — the shared encode step of
    * [[ivfPqBuildIndex]] and [[AnnIndex]]'s frozen-quantizer append
    * (the single-level twin of [[intImiAssignResidual]]).
    */
  private[functions] def intAssignResidual(df: DataFrame,
                                           coarse: Array[Array[Long]]): DataFrame =
    df.withColumn("cid", intNearestCid(coarse, col("vi")))
      .select(col("id"), col("cid"),
        zip_with(col("vi"), intCentroidOf(coarse, col("cid")), (a, b) => a - b).as("ri"))

  /** Residual-codebook training + code assignment, shared by the
    * single-level ([[ivfPqBuildIndex]]) and IMI ([[ivfPqBuildIndexImi]])
    * coarse forms — the coarse quantizer only changes WHICH residuals
    * arrive here. `res` = (id, cid, ri), checkpointed by the caller.
    */
  private def pqOnResiduals(res: DataFrame, m: Int, subDim: Int,
                            kCentroids: Int, pqIters: Int, n: Long,
                            maxTrainRows: Long): (DataFrame, Array[Array[Array[Long]]]) = {
    val codebooks = pqCodebooks(res, "ri", m, subDim, kCentroids, pqIters,
      n, maxTrainRows)
    (pqIndexRows(res, codebooks, subDim), codebooks)
  }

  /** (id, cid, ri) → (id, cid, ri, __c0..__c{m-1}): the index row
    * shape, shared by the in-session builds and [[AnnIndex]]'s append.
    */
  private[functions] def pqIndexRows(res: DataFrame,
                                     codebooks: Array[Array[Array[Long]]],
                                     subDim: Int): DataFrame =
    res.select(col("id") +: col("cid") +: col("ri") +:
      pqCodes(col("ri"), codebooks, subDim): _*)

  // ---- integer IMI coarse for the IVFADC family: the [[semDedupImi]]
  // product grid in EXACT integer arithmetic, so the at-rest ADC index
  // ([[graft.functions.AnnIndex]]) escapes the same min(√n, 4096) list
  // ceiling — past it, a single-level index's per-query candidate
  // volume n·nProbe/4096 grows linearly, while the grid holds cell
  // size at the target. Everything is engine-replayable: per-half
  // integer Lloyd (the lloydInt recipe on 32-dim halves), separable
  // assignment (argmin of d1+d2 IS (argmin d1, argmin d2) — the sum
  // decomposes over disjoint coordinates, ties per half to the lowest
  // cid, which equals the lowest composite cid), residuals against
  // the CONCATENATED cell centroid, probing by exact top-nProbe cells
  // (padded integer distances differ from the half distances by the
  // row-constant Σvᵢ² of the other half, so cell ORDER is exact).

  private def intImiPad(cb: Array[Array[Long]], dim: Int,
                        padHead: Boolean): Array[Array[Long]] =
    cb.map { c =>
      val pad = Array.fill(dim - c.length)(0L)
      if (padHead) pad ++ c else c ++ pad
    }

  /** Product-cell assignment + residual over (…, vi): adds
    * cid = c1·k2 + c2 and ri = vi − (c1 ‖ c2), the shared encode step
    * of [[ivfPqBuildIndexImi]] and [[AnnIndex]]'s frozen-quantizer
    * IMI append. c1/c2 are staged (each feeds the composite id AND the
    * centroid lookup — a heavy argmin referenced twice keeps its own
    * Project).
    */
  private[functions] def intImiAssignResidual(df: DataFrame,
      cb1: Array[Array[Long]], cb2: Array[Array[Long]],
      dim: Int): DataFrame = {
    val cb1p = intImiPad(cb1, dim, padHead = false)
    val cb2p = intImiPad(cb2, dim, padHead = true)
    val cb1Lit = typedLit(cb1.map(_.toSeq).toSeq)
    val cb2Lit = typedLit(cb2.map(_.toSeq).toSeq)
    df.withColumn("c1", intNearestCid(cb1p, col("vi")))
      .withColumn("c2", intNearestCid(cb2p, col("vi")))
      .select(col("id"),
        (col("c1").cast("long") * cb2.length + col("c2")).as("cid"),
        zip_with(col("vi"),
          concat(element_at(cb1Lit, col("c1") + 1),
            element_at(cb2Lit, col("c2") + 1)),
          (a, b) => a - b).as("ri"))
  }

  /** Trained integer half codebooks: lowest-id seeds, one bounded-
    * sample [[lloydInt]] per half over eagerly-checkpointed half
    * projections. `c0` = (id, vi).
    */
  private[functions] def intImiHalfCodebooks(c0: DataFrame, k: Int, iters: Int,
                                             n: Long, maxTrainRows: Long): (Array[Array[Long]], Array[Array[Long]]) = {
    val rows = lowestIdSeeds[Long](c0, col("vi"), k)
    require(rows.nonEmpty, "int imi codebooks: empty corpus")
    val h = (rows.head.length + 1) / 2
    val h2 = rows.head.length - h
    val train = trainSample(c0, n, maxTrainRows)
      .select(col("id"), slice(col("vi"), 1, h).as("vi"),
        slice(col("vi"), h + 1, h2).as("vi2"))
      .localCheckpoint(true)
    // independent half-Lloyds over the checkpointed sample — overlap
    // (guide §2.6 via graft.util.Par; same rule as the float halves)
    graft.util.Par.both(
      lloydInt(train.select(col("id"), col("vi")), rows.map(_.take(h)), iters),
      lloydInt(train.select(col("id"), col("vi2").as("vi")),
        rows.map(_.drop(h)), iters))
  }

  /** IMI-coarse IVFADC build: product-cell assignment, residuals
    * against the concatenated cell centroid (c1 ‖ c2 — an O(1)
    * two-lookup expression; the k1·k2 cell centroids are never
    * materialized), then the SAME residual-PQ training/encode as the
    * single-level build. Returns (index(id, cid, ri, __c*), cb1, cb2,
    * codebooks); cid = c1·k2 + c2.
    */
  private[functions] def ivfPqBuildIndexImi(corpus: DataFrame, dim: Int, m: Int,
      kCentroids: Int, kPerHalf: Int, coarseIters: Int, pqIters: Int,
      cId: String, cVec: String, maxTrainRows: Long,
      targetCellSize: Long = ImiTargetClusterSize): (DataFrame, Array[Array[Long]], Array[Array[Long]], Array[Array[Array[Long]]]) = {
    require(m >= 1 && dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    val c0 = corpus.select(col(cId).cast("long").as("id"),
        asDouble(col(cVec)).as("v"))
      .withColumn("vi", toIntVec(col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = c0.count()
    val kH = if (kPerHalf > 0) kPerHalf else imiHalfCentroids(n, targetCellSize)
    val (cb1, cb2) = intImiHalfCodebooks(c0.select(col("id"), col("vi")),
      kH, coarseIters, n, maxTrainRows)
    val res = intImiAssignResidual(c0, cb1, cb2, dim).localCheckpoint(true)
    c0.unpersist()
    val (index, codebooks) = pqOnResiduals(res, m, subDim, kCentroids,
      pqIters, n, maxTrainRows)
    (index, cb1, cb2, codebooks)
  }

  /** The probe+score half of IMI-coarse IVFADC — [[adcProbeScore]]'s
    * shape with the probe list the exact top-`nProbe` product cells
    * and the residual base the concatenated cell centroid. The query
    * relation is broadcast-small; its per-half probe slices are staged
    * and eagerly materialized so the grid lambda reads attributes.
    */
  private[functions] def adcProbeScoreImi(qint: DataFrame, index: DataFrame,
      cb1: Array[Array[Long]], cb2: Array[Array[Long]],
      codebooks: Array[Array[Array[Long]]],
      dim: Int, m: Int, nProbe: Int, qId: String): DataFrame = {
    val cb1p = intImiPad(cb1, dim, padHead = false)
    val cb2p = intImiPad(cb2, dim, padHead = true)
    val k2 = cb2.length
    val qStaged = qint
      .select(col(qId), col("__qvi"),
        slice(array_sort(intDistStructsMatrix(cb1p, col("__qvi"))), 1, nProbe).as("__s1"),
        slice(array_sort(intDistStructsMatrix(cb2p, col("__qvi"))), 1, nProbe).as("__s2"))
      .localCheckpoint(true)
    val qResid = qStaged
      .select(col(qId), col("__qvi"),
        explode_outer(imiProbeCellsOf(col("__s1"), col("__s2"), k2, nProbe)).as("pcid"))
      .filter(col("pcid").isNotNull)
      .select(col(qId), col("pcid"),
        zip_with(col("__qvi"), intImiCellCentroid(cb1, cb2, col("pcid")),
          (a, b) => a - b).as("qri"))
    val q = qResid
      .select(col(qId) +: col("pcid") +: adcTables(col("qri"), codebooks, dim / m): _*)
    index.join(broadcast(q), col("cid") === col("pcid"))
      .filter(col(qId) =!= col("id"))
      .select(col(qId), col("id").as("neighbor_id"), adcLookup(m).as("adc_q"))
  }

  /** The concatenated centroid of a product cell — two O(1) lookups
    * into the half-codebook literals, never a k1·k2 materialization.
    * cid must be the composite c1·k2 + c2.
    */
  private[functions] def intImiCellCentroid(cb1: Array[Array[Long]],
      cb2: Array[Array[Long]], cid: Column): Column = {
    val k2 = cb2.length
    concat(
      element_at(typedLit(cb1.map(_.toSeq).toSeq),
        (cid.cast("long") / k2).cast("int") + 1),
      element_at(typedLit(cb2.map(_.toSeq).toSeq),
        pmod(cid.cast("long"), lit(k2.toLong)).cast("int") + 1))
  }

  /** The distinct probe CELLS of a (broadcast-small) integer query
    * relation against an IMI grid — the pruning key for the at-rest
    * index ([[AnnIndex.probedCids]]'s IMI form). qint = (…, __qvi).
    */
  private[functions] def intImiQueryProbeCells(qint: DataFrame,
      cb1: Array[Array[Long]], cb2: Array[Array[Long]], dim: Int,
      nProbe: Int): DataFrame = {
    val cb1p = intImiPad(cb1, dim, padHead = false)
    val cb2p = intImiPad(cb2, dim, padHead = true)
    qint.select(
        slice(array_sort(intDistStructsMatrix(cb1p, col("__qvi"))), 1, nProbe).as("__s1"),
        slice(array_sort(intDistStructsMatrix(cb2p, col("__qvi"))), 1, nProbe).as("__s2"))
      .localCheckpoint(true) // broadcast-small; grid lambda reads attributes
      .select(explode_outer(
        imiProbeCellsOf(col("__s1"), col("__s2"), cb2.length, nProbe)).as("cid"))
      .filter(col("cid").isNotNull)
  }

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
    val (index, cb1, cb2, codebooks) = ivfPqBuildIndexImi(corpus, dim, m,
      kCentroids, kPerHalf, coarseIters, pqIters, cId, cVec, maxTrainRows,
      targetCellSize)
    topkByLowest(adcProbeScoreImi(toQInt(queries, qId, qVec), index,
      cb1, cb2, codebooks, dim, m, nProbe, qId), k, qId, "adc_q")
  }

  /** The probe+score half of IVFADC, literal/matrix coarse form:
    * queries probe their `nProbe` nearest coarse lists, each (query,
    * list) row carries the m per-codebook ADC tables (distance of the
    * query RESIDUAL to every codebook entry — k·m integers, all
    * broadcast), and candidates score by m `element_at` lookups.
    * `index` is any relation carrying (id, cid, __c0..__c{m-1}) —
    * [[ivfPqBuildIndex]]'s in-session checkpoint or [[AnnIndex]]'s
    * pruned at-rest read; columns beyond the code set (ri) are pruned
    * by the projection.
    */
  private[functions] def adcProbeScore(qint: DataFrame, index: DataFrame,
      coarse: Array[Array[Long]], codebooks: Array[Array[Array[Long]]],
      dim: Int, m: Int, nProbe: Int, qId: String): DataFrame = {
    val qResid = qint
      .withColumn("pcid", explode_outer(intProbeCids(coarse, col("__qvi"), nProbe)))
      .filter(col("pcid").isNotNull)
      .select(col(qId), col("pcid"),
        zip_with(col("__qvi"), intCentroidOf(coarse, col("pcid")), (a, b) => a - b).as("qri"))
    val q = qResid
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
    val (index, coarse, codebooks) = ivfPqBuildIndex(corpus, dim, m,
      kCentroids, nCentroids, coarseIters, pqIters, cId, cVec, maxTrainRows)
    rerankTopK(qint, index,
      adcProbeScore(qint, index, coarse, codebooks, dim, m, nProbe, qId),
      k, rerank, qId, intCentroidOf(coarse, _))
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
