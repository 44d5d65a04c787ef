package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Prefix-filtered EXACT set-similarity self-join — the AllPairs /
  * PPJoin family (Bayardo et al., "Scaling Up All Pairs Similarity
  * Search", WWW'07; Xiao et al., "Efficient Similarity Joins for Near
  * Duplicate Detection", WWW'08), re-expressed as relational passes
  * over the corpus.
  *
  * This is the EXACT counterpart of the MinHash/SimHash approximate
  * dedup family ([[Dedup]]): every returned pair really has set-Jaccard
  * ≥ the threshold, and — the prefix-filter completeness lemma — NO
  * qualifying pair is missed. The reference's dedup surface stops at
  * exact-key duplicates (transformations/transforms.py drop_duplicates);
  * this gives the lossless similarity tier.
  *
  * How it avoids all-pairs: fix ANY global total order on the element
  * universe. A set x whose elements are sorted in that order only needs
  * its first `|x| − ceil(t·|x|) + 1` elements (its *prefix*) indexed,
  * because for any pair with J(x,y) ≥ t the overlap is
  * ≥ ceil(t·max(|x|,|y|)) (J = i/(|x|+|y|−i) ≥ t  ⟹  i ≥ t·|x| and
  * i ≥ t·|y|), and two sets sharing that much mass must collide inside
  * these prefixes. Candidates therefore come from an equi-join on
  * prefix elements, and each collision additionally passes PPJoin's
  * POSITIONAL filter: a qualifying pair's first common element at
  * (sorted) positions i, j admits overlap at most
  * 1 + min(|x|−i−1, |y|−j−1), so collisions that cannot reach
  * ceil(t·max(|x|,|y|)) are dropped before the verify. The completeness
  * lemma holds for ANY agreed element order; the order choice only
  * tunes candidate volume:
  *
  *   - `dfOrder = true` — the canonical AllPairs order, ascending
  *     document frequency: prefixes hold each document's RAREST
  *     elements, so per-element candidate buckets are minimal. Costs a
  *     corpus frequency pass + an element-rank join + a per-doc re-sort
  *     (one extra shuffle pair over the corpus' exploded elements).
  *   - `dfOrder = false` — sort by the element VALUE itself: with
  *     hashed elements this is a fixed pseudo-random permutation of the
  *     universe, so prefix buckets follow the corpus frequency
  *     distribution instead of being minimized. In exchange the whole
  *     frequency pass disappears: per-doc `array_sort`, ZERO extra
  *     shuffles before the candidate join (measured 3× on the bench
  *     corpus at equal output).
  *
  * 100 TB shape (value order): map-side hash+sort+slice per document,
  * one equi-join on prefix elements with the size filter
  * `min(|a|,|b|) ≥ t·max(|a|,|b|)` and the positional filter fused into
  * the join condition, then an exact `array_intersect` verify on the
  * deduplicated candidate set. Nothing is O(n²); candidate volume is
  * governed by prefix-bucket sizes, i.e. by the true near-dup rate,
  * exactly like the banded LSH joins — but with a proof instead of a
  * probability. For a stopword-heavy universe where frequency skew
  * dominates, flip to `dfOrder = true` and pay one shuffle pair to
  * shrink the buckets.
  */
object PrefixJoin {

  /** All pairs (idA < idB) whose set-Jaccard over `setCol` (an array
    * treated as a set — duplicates removed here) is ≥ `threshold`, with
    * the exact Jaccard value. `threshold` is taken in basis points
    * internally so every filter compares integers.
    */
  def jaccardJoinSets(df: DataFrame, idCol: String, setCol: String,
                      threshold: Double, dfOrder: Boolean = false): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val tBp = math.round(threshold * 10000).toInt

    // NO size filter here: a predicate on the derived set column gets
    // PUSHED below the callers' FanOut repartition with the whole
    // tokenize/shingle/hash pipeline INLINED into it (the round-7
    // pushdown trap) — the dominant map cost then runs twice, once of
    // that on the 1-task scan stage (profiled: q153/q201's single
    // 1.0-1.5 s stage). Empty/null sets are harmless here (they emit
    // no prefix rows and no candidates); the equivalent filter runs on
    // the MATERIALIZED n below, where nothing can push through.
    val docs = df
      .select(col(idCol).cast("long").as("id"),
        array_distinct(col(setCol)).as("els"))

    // per-doc elements sorted in the agreed global order, as structs of
    // (order-key…, element); the struct's natural ordering IS the order.
    // EAGER localCheckpoint: FOUR plan branches consume it (both
    // candidate sides + both verify set joins), and without
    // materialization each branch re-evaluates the full tokenize/
    // shingle/hash pipeline (measured 4× the hash cost at sf0.1).
    // Checkpoint instead of persist (the Hits/q212 discipline): blocks
    // release when the returned DataFrame is GC'd, so back-to-back
    // calls in a long session don't accumulate cache pressure (round-7
    // measured ~1.5 s of GC drag on the NEXT query from the old
    // persists). On a shared cluster, write to a staging table instead.
    val (sorted0, exploded0) =
      if (dfOrder) {
        // ONE heavy map pass: the exploded (id, n, el) relation is
        // persisted so the caller's set-building pipeline (tokenize →
        // shingle → hash, the dominant map cost) runs once, feeding BOTH
        // the frequency aggregate and the rank join — unpersisted, each
        // consumer re-derives it from scratch. Freed EXPLICITLY right
        // after the eager checkpoint below consumes it.
        // explode_outer + null filter: an inferred pre-Generate filter
        // would inline the set-building pipeline and re-run it per row
        // (see graft.util.Explode)
        val exploded = docs
          .select(col("id"), size(col("els")).as("n"),
            explode_outer(col("els")).as("el"))
          .filter(col("el").isNotNull)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // same AQE-exempt width on the element-frequency aggregate: it
        // executes as the rank join's (broadcast) child, and its final
        // stage — merging the per-element counts over ~|distinct
        // shingles| — landed on one coalesced task (profiled: the
        // residual 1-task 1.1-1.5 s stage in q153/q201 after the
        // set-rebuild fix)
        val dfreq = exploded
          .repartition(
            df.sparkSession.sessionState.conf.numShufflePartitions, col("el"))
          .groupBy(col("el")).agg(count(lit(1)).as("df"))
        // explicit id-keyed width on the set-rebuild aggregate: AQE's
        // bytes proxy coalesced its post-shuffle stage to ONE task, so
        // every per-doc array_sort(collect_list) ran on one core inside
        // the checkpoint (profiled: q153's single 1.15 s stage). A
        // user-specified count satisfies the aggregate's distribution
        // (no extra exchange) and is AQE-exempt — at production widths
        // this is exactly the pre-AQE shuffle the groupBy always had
        // (the r13 pair-join idiom). Partial collect_list carries the
        // same element volume either way, so shuffled bytes don't grow.
        val aggParts = df.sparkSession.sessionState.conf.numShufflePartitions
        (exploded
          .join(dfreq, Seq("el"))
          .repartition(aggParts, col("id"))
          .groupBy(col("id"), col("n"))
          .agg(array_sort(collect_list(struct(col("df"), col("el")))).as("st")),
          Some(exploded))
      } else {
        (docs.select(col("id"), size(col("els")).as("n"),
          array_sort(transform(col("els"), e => struct(e.as("el")))).as("st")),
          None)
      }
    // FanOut after the checkpoint: the dfOrder branch lands the sorted
    // relation through a shuffle AQE coalesces to 1-2 partitions (bytes
    // proxy), and every downstream stage would inherit that (r13).
    // `materialized` pins the floor once — the bare floor re-planned its
    // round-robin exchange for each of the three downstream consumers
    // (prefix explode + two verify-side set scans), leaning on
    // ReuseExchange (r13 ADVICE); a no-op whenever the floor doesn't fire
    // the emptiness filter moved from `docs` lives HERE, on the
    // materialized n over the checkpoint root (LogicalRDD — pushdown
    // cannot re-inline the set pipeline); null n = null els docs
    val sorted = graft.util.FanOut.materialized(sorted0.localCheckpoint(true))
      .filter(coalesce(col("n"), lit(0)) > 0)
    exploded0.foreach(_.unpersist())
    // effective-value read, not the raw conf string: managed platforms
    // set "auto" and the .toInt read threw at query construction (r13
    // ADVICE)
    val joinParts = df.sparkSession.sessionState.conf.numShufflePartitions

    // prefix length p = n − ceil(t·n) + 1 (integer ceil in basis points;
    // `div`, not `/` — Spark's / is double division)
    val prefixLen =
      expr(s"cast(n - (($tBp * cast(n as bigint) + 9999) div 10000) + 1 as int)")
    val pre = sorted
      .select(col("id"), col("n"),
        posexplode(slice(col("st"), lit(1), prefixLen)).as(Seq("pos", "pt")))
      .select(col("id"), col("n"), col("pos"), col("pt.el").as("el"))

    // candidates from prefix-element collisions; the size filter AND
    // PPJoin's positional upper bound are fused into the join condition
    // so hopeless pairs never materialize. Distinct alias names on the
    // element: a shared-lineage `a("el") === b("el")` resolves to a
    // trivially-true predicate and the "equi-join" would silently plan
    // as a quadratic cross product.
    val a = pre.select(col("el").as("elA"), col("id").as("idA"),
      col("n").as("na"), col("pos").as("posA"))
    val b = pre.select(col("el").as("elB"), col("id").as("idB"),
      col("n").as("nb"), col("pos").as("posB"))
    val alphaBp = // ceil(t · max(|a|,|b|)) in integer arithmetic
      expr(s"($tBp * cast(greatest(na, nb) as bigint) + 9999) div 10000")
    // explicit element-keyed partitioning on both candidate-join sides
    // and pair-keyed partitioning under the distinct: user-specified
    // repartitions satisfy the join/aggregate distributions (no extra
    // exchange) but are exempt from AQE's bytes-proxy coalescing, which
    // otherwise runs the huge-output candidate/verify stages on 1-2
    // tasks (r13; same idiom as the margin pair joins)
    // merge hint: Catalyst's size estimate for the checkpointed sorted
    // relation undershoots and it BROADCASTS the exploded element list
    // (a single-threaded ~1M-row build at gate scale; a driver-OOM shape
    // at corpus scale — the element list is O(corpus)). The prefix join's
    // contract is one SHUFFLED equi-join on prefix elements (guide §3.1:
    // pick the strategy deliberately).
    val cand = a.repartition(joinParts, col("elA"))
      .hint("merge")
      .join(b.repartition(joinParts, col("elB")),
        col("elA") === col("elB") && col("idA") < col("idB") &&
          least(col("na"), col("nb")) * 10000L >= lit(tBp.toLong) * greatest(col("na"), col("nb")) &&
          lit(1L) + least(col("na") - col("posA") - 1L, col("nb") - col("posB") - 1L) >= alphaBp)
      .select(col("idA"), col("idB"))
      .repartition(joinParts, col("idA"), col("idB")).distinct()

    // exact verify on the candidate set only; sets re-derived from the
    // PERSISTED sorted relation (sorted order doesn't affect intersect)
    val sets = sorted.select(col("id"),
      transform(col("st"), x => x.getField("el")).as("els"), col("n"))
    val inter = size(array_intersect(col("ta"), col("tb")))
    cand
      .join(sets.select(col("id").as("idA"), col("els").as("ta"), col("n").as("na")), Seq("idA"))
      .join(sets.select(col("id").as("idB"), col("els").as("tb"), col("n").as("nb")), Seq("idB"))
      .withColumn("__i", inter)
      .filter(col("__i") * 10000L >= lit(tBp.toLong) * (col("na") + col("nb") - col("__i")))
      .select(col("idA"), col("idB"),
        (col("__i").cast("double") / (col("na") + col("nb") - col("__i")).cast("double"))
          .as("jaccard"))
  }

  /** Token-set variant: whitespace/punctuation word tokens as the set. */
  def jaccardJoin(df: DataFrame, idCol: String, textCol: String,
                  threshold: Double, dfOrder: Boolean = false): DataFrame =
    jaccardJoinSets(
      // FanOut BELOW the set-building projection (here and in every
      // wrapper): the tokenize/shingle/hash chain is the dominant map
      // cost and inherits the scan's parallelism — one file = one task
      // without the floor (guide §2.5); fanning df first puts the heavy
      // projection ABOVE the exchange
      graft.util.FanOut(df).withColumn("__set", TextFunctions.tokens(col(textCol))),
      idCol, "__set", threshold, dfOrder)

  /** Shingle-set variant: distinct word n-gram shingles as the set —
    * far more discriminative than unigram token sets on template-heavy
    * corpora (shared vocabulary ≠ shared phrasing), and the same set
    * family the MinHash path approximates.
    */
  def shingleJaccardJoin(df: DataFrame, idCol: String, textCol: String,
                         n: Int, threshold: Double,
                         dfOrder: Boolean = false): DataFrame =
    jaccardJoinSets(
      // stage the token array: shingles references it several times and
      // an inlined tokens() would re-run per reference (graft.util.Explode
      // postmortem family)
      graft.util.FanOut(df)
        .withColumn("__pjt", TextFunctions.tokens(col(textCol)))
        .withColumn("__set", TextFunctions.shingles(col("__pjt"), n)),
      idCol, "__set", threshold, dfOrder)

  /** Hashed-shingle variant — the production shape: shingles reduce to
    * portable 60-bit md5-prefix longs ([[Dedup.portableTokenHashes]]'s
    * idiom) BEFORE anything shuffles, so every sort/join/intersect moves
    * 8-byte keys instead of ~30-char strings. Hash conflation is
    * deterministic and engine-identical — DuckDB replays the same md5
    * prefix — so results stay exactly reproducible; at 60 bits a
    * corpus-level collision needs ~2^30 distinct shingles to matter.
    */
  def shingleHashJaccardJoin(df: DataFrame, idCol: String, textCol: String,
                             n: Int, threshold: Double,
                             dfOrder: Boolean = false): DataFrame =
    jaccardJoinSets(
      graft.util.FanOut(df)
        .withColumn("__pjt", TextFunctions.tokens(col(textCol)))
        .withColumn("__set", transform(
          TextFunctions.shingles(col("__pjt"), n),
          s => conv(substring(md5(s), 1, 15), 16, 10).cast("long"))),
      idCol, "__set", threshold, dfOrder)

  /** Fast-path twin of [[shingleHashJaccardJoin]]: xxhash64 shingle
    * hashes (codegen'd, no MessageDigest per element) — the engine-
    * internal choice when no cross-engine replay is needed. Same pair
    * set as the portable form unless a 64-bit collision flips a set
    * size (≈V²/2⁶⁵ ≈ 10⁻⁶ at a 10M-shingle vocabulary).
    */
  def shingleFastJaccardJoin(df: DataFrame, idCol: String, textCol: String,
                             n: Int, threshold: Double,
                             dfOrder: Boolean = false): DataFrame =
    jaccardJoinSets(
      graft.util.FanOut(df)
        .withColumn("__pjt", TextFunctions.tokens(col(textCol)))
        .withColumn("__set", transform(
          TextFunctions.shingles(col("__pjt"), n),
          s => xxhash64(s))),
      idCol, "__set", threshold, dfOrder)

  /** Exact ASYMMETRIC containment self-join: all ordered pairs with
    * `|A ∩ B| / |A| ≥ t` — "A is (mostly) contained in B", the
    * quote/excerpt/boilerplate-inclusion relation Jaccard cannot see
    * (a 30-shingle quote inside a 300-shingle article has Jaccard
    * ≈ 0.1 but containment 1.0). Both directions are distinct rows.
    *
    * Prefix filter, containment form: if C(A→B) ≥ t then A misses at
    * most `|A| − ceil(t·|A|)` of its own elements, so A's first
    * `|A| − ceil(t·|A|) + 1` elements (global value order) must hit B
    * SOMEWHERE — probe-side prefix against candidate-side FULL element
    * list (no symmetric prefix: B's obligation is only
    * `|B| ≥ ceil(t·|A|)`, fused into the join as the size filter).
    * Exact verify on candidates only. Same persisted sorted relation,
    * two consumer branches.
    */
  def containmentJoinSets(df: DataFrame, idCol: String, setCol: String,
                          threshold: Double, dfOrder: Boolean = false): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val tBp = math.round(threshold * 10000).toInt
    // no size filter here — the round-7 pushdown trap would inline the
    // set pipeline below the callers' FanOut repartition (see
    // jaccardJoinSets); the equivalent filter runs on the materialized
    // n after the checkpoint
    val docs = df
      .select(col(idCol).cast("long").as("id"),
        array_distinct(col(setCol)).as("els"))
    // Containment completeness needs even less than Jaccard's: if
    // C(A→B) ≥ t then A misses ≤ |A| − ceil(t·|A|) of its own elements,
    // so ANY fixed subset of size |A| − ceil(t·|A|) + 1 hits B — the
    // prefix may be taken under ANY per-document order without a shared
    // global one. Order choice only tunes candidate-bucket sizes:
    // `dfOrder = true` probes with each document's RAREST elements
    // (minimal buckets, one extra shuffle pair for the frequency rank),
    // `false` keeps value order (zero extra shuffles).
    // eager checkpoint + explicit intermediate unpersist — same
    // discipline (and rationale) as jaccardJoinSets above
    val (sorted0, exploded0) =
      if (dfOrder) {
        // one heavy map pass feeding both the frequency aggregate and
        // the rank join (same shape as jaccardJoinSets's dfOrder branch)
        val exploded = docs
          .select(col("id"), size(col("els")).as("n"),
            explode_outer(col("els")).as("el"))
          .filter(col("el").isNotNull)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // same AQE-exempt width on the element-frequency aggregate: it
        // executes as the rank join's (broadcast) child, and its final
        // stage — merging the per-element counts over ~|distinct
        // shingles| — landed on one coalesced task (profiled: the
        // residual 1-task 1.1-1.5 s stage in q153/q201 after the
        // set-rebuild fix)
        val dfreq = exploded
          .repartition(
            df.sparkSession.sessionState.conf.numShufflePartitions, col("el"))
          .groupBy(col("el")).agg(count(lit(1)).as("df"))
        // explicit id-keyed AQE-exempt width on the set-rebuild
        // aggregate — same fix (and rationale) as jaccardJoinSets above
        val aggParts = df.sparkSession.sessionState.conf.numShufflePartitions
        (exploded
          .join(dfreq, Seq("el"))
          .repartition(aggParts, col("id"))
          .groupBy(col("id"), col("n"))
          .agg(transform(
            array_sort(collect_list(struct(col("df"), col("el")))),
            x => x.getField("el")).as("els")),
          Some(exploded))
      } else {
        (docs.select(col("id"), size(col("els")).as("n"),
          array_sort(col("els")).as("els")), None)
      }
    // FanOut + explicit keyed partitioning: same parallelism floors as
    // jaccardJoinSets above (r13; materialized + effective conf read,
    // r14); the moved emptiness filter runs on the materialized n
    val sorted = graft.util.FanOut.materialized(sorted0.localCheckpoint(true))
      .filter(coalesce(col("n"), lit(0)) > 0)
    exploded0.foreach(_.unpersist())
    val joinParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val prefixLen =
      expr(s"cast(n - (($tBp * cast(n as bigint) + 9999) div 10000) + 1 as int)")
    val probe = sorted
      .select(col("id").as("idA"), col("n").as("na"),
        explode(slice(col("els"), lit(1), prefixLen)).as("elA"))
    val cand = sorted
      .select(col("id").as("idB"), col("n").as("nb"),
        explode(col("els")).as("elB"))
    // merge hint: same deliberate shuffle-join choice as jaccardJoinSets
    // (the estimate otherwise broadcasts the full exploded element list)
    val pairs = probe.repartition(joinParts, col("elA"))
      .hint("merge")
      .join(cand.repartition(joinParts, col("elB")),
        col("elA") === col("elB") && col("idA") =!= col("idB") &&
          col("nb") * 10000L >= lit(tBp.toLong) * col("na"))
      .select(col("idA"), col("idB"))
      .repartition(joinParts, col("idA"), col("idB")).distinct()
    val sets = sorted.select(col("id"), col("els"), col("n"))
    pairs
      .join(sets.select(col("id").as("idA"), col("els").as("ta"), col("n").as("na")), Seq("idA"))
      .join(sets.select(col("id").as("idB"), col("els").as("tb")), Seq("idB"))
      .withColumn("__i", size(array_intersect(col("ta"), col("tb"))))
      .filter(col("__i") * 10000L >= lit(tBp.toLong) * col("na"))
      .select(col("idA"), col("idB"),
        expr("cast(__i as bigint) * 10000 div na").as("cont_bp"))
  }

  /** Hashed-shingle containment — the production/gate shape (portable
    * 60-bit md5 shingle hashes, the [[shingleHashJaccardJoin]] idiom).
    */
  def shingleHashContainmentJoin(df: DataFrame, idCol: String, textCol: String,
                                 n: Int, threshold: Double,
                                 dfOrder: Boolean = false): DataFrame =
    containmentJoinSets(
      graft.util.FanOut(df)
        .withColumn("__pjt", TextFunctions.tokens(col(textCol)))
        .withColumn("__set", transform(
          TextFunctions.shingles(col("__pjt"), n),
          s => conv(substring(md5(s), 1, 15), 16, 10).cast("long"))),
      idCol, "__set", threshold, dfOrder)

  /** Dedup on the exact join: drop every doc with a qualifying
    * smaller-id partner (the batch rule shared with [[Dedup]]).
    */
  def jaccardDedup(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double): DataFrame = {
    val losers = jaccardJoin(df, idCol, textCol, threshold)
      .select(col("idB").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }
}
