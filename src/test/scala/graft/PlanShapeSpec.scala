package graft

/** Pins the physical-plan SHAPES the engine's scale story depends on
  * (PLANS.md records them; this makes regressions fail the build, not
  * just a doc diff): filters reach the parquet scan, projections prune
  * the read schema, dimension joins broadcast, and the latest-row view
  * is a partial aggregate — never a window sort over the corpus.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, SfDir).queryExecution.executedPlan.toString

  /** The three whole-registry audits' findings, from ONE sweep: each
    * entry is built once (fixture entries do their lifecycle work inside
    * the constructor) and all three audits read that plan. Keyed by
    * audit; each finding is "name: detail", in name order. Covers every
    * gate query and the bench-only twins, which ARE the shipped
    * production paths (b153/b24/b61/b169/b232…), except the three
    * TxTable-fixture READER twins (b119/b120/b126): their constructors
    * need the multi-version bench fixture that only Bench's lifecycle
    * run builds, and their plans are trivial change-feed reads.
    */
  private lazy val auditFindings: Map[String, Seq[String]] = {
    import graft.plans.PlanAudit
    val audits = Seq[(String, org.apache.spark.sql.DataFrame => Seq[String])](
      "repeatedLambdas" -> (PlanAudit.repeatedLambdas(_)),
      "recomputedLambdaSubplans" -> (PlanAudit.recomputedLambdaSubplans(_)),
      "codegenFallbacks" -> (PlanAudit.codegenFallbacks(_)))
    val unaudited = Set("b119_cdf_read", "b120_ivm_refresh", "b126_join_ivm_refresh")
    val findings = SparkEntry.entries.filterNot(e => unaudited(e.name)).sortBy(_.name)
      .flatMap { e =>
        val found = try {
          val df = e.build(spark, SfDir)
          audits.map { case (audit, run) => audit -> run(df) }
        } catch { case ex: Throwable =>
          val msg = s"query construction failed: ${ex.getMessage}".take(200)
          audits.map { case (audit, _) => audit -> Seq(msg) }
        }
        spark.catalog.clearCache()
        for ((audit, fs) <- found; f <- fs) yield audit -> s"${e.name}: $f"
      }
    findings.groupMap(_._1)(_._2).withDefaultValue(Nil)
  }

  /** Findings of one audit, minus whitelisted entries. */
  private def offenders(audit: String, whitelist: Set[String] = Set.empty): Seq[String] =
    auditFindings(audit).filterNot(f => whitelist(f.takeWhile(_ != ':')))

  test("q02 filter+projection reach the scan: PushedFilters populated, ReadSchema pruned") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), s"no pushdown:\n$p")
    assert(!p.contains("PushedFilters: []"), s"empty pushdown:\n$p")
    // the lineitem scan must not read all 16 columns for a 4-column query
    // (assert on the FileScan output list — the ReadSchema text truncates)
    val scanCols = "FileScan parquet \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(scanCols.nonEmpty && scanCols.forall(_.split(",").length <= 6),
      s"scan reads unpruned schema:\n$p")
  }

  test("q03 dimension joins broadcast — no shuffle join on a dim table") {
    val p = plan("q03_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast dim join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dim join fell back to SMJ:\n$p")
  }

  test("q05 latest-row view is a partial aggregate, not a window sort") {
    val p = plan("q05_latest_row_view")
    assert(!p.contains("Window"), s"latest-row regressed to a window plan:\n$p")
    // max_by(struct) plans as SortAggregate — still a PARTIAL aggregate
    // (partial_max_by before the exchange, |keys| rows shuffled); the
    // property pinned here is partial-agg-before-exchange, not the
    // aggregate impl
    assert(p.contains("partial_max_by"),
      s"expected partial max_by aggregation before the exchange:\n$p")
  }

  test("q64 top-k per group shuffles the aggregator's partial buffers, not all rows") {
    val p = plan("q64_topk_aggregator")
    assert(!p.contains("Window"), s"top-k regressed to a window sort:\n$p")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"expected typed-aggregator plan:\n$p")
  }

  test("q28 ANN candidate probe broadcasts the query side") {
    val p = plan("q28_ann_lsh_topk")
    assert(p.contains("BroadcastExchange"), s"probe side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"ANN must never go all-pairs:\n$p")
  }

  test("no gate query evaluates a repeated higher-order lambda (round-6 postmortem class)") {
    // walks EVERY gate query's optimized plan — and the bench-only
    // twins, which ARE the shipped production paths (b153/b169/b232) —
    // a new query that inlines tokens()/shingles() twice (the
    // q204/q153/q185 pathology) fails the build here instead of
    // burning CPU quietly at 100 TB
    val found = offenders("repeatedLambdas")
    assert(found.isEmpty,
      s"repeated-lambda plans:\n${found.mkString("\n")}")
  }

  test("no gate query recomputes a shared lambda-bearing subplan (cross-branch class)") {
    // the round-7 sweep's detector, promoted from advisory to GATED: a
    // heavy relation consumed by >= 2 plan branches without
    // materialization re-executes per consumer (q103 ran its dedup 3x —
    // 5.40 -> 3.87 s from one checkpoint). Three findings stay
    // whitelisted as BY-DESIGN recompute-over-materialization — cheap
    // reads OVER an already-checkpointed relation, where caching the
    // derived form would double the block footprint for a map-only win:
    //  - q153/q201: PrefixJoin's verify sides re-derive element arrays
    //    from the checkpointed sorted relation (field extraction only)
    //  - q23: minhash band keys recompute from the checkpointed
    //    signature relation on both sides of the band self-join
    val whitelist = Set("q153_prefix_jaccard", "q201_dedup_pr_sweep",
      "q23_minhash_dedup",
      // same PrefixJoin verify-side by-design recompute as q153, on the
      // xxhash production twin
      "b153_prefix_fast")
    val found = offenders("recomputedLambdaSubplans", whitelist)
    assert(found.isEmpty,
      s"recomputed lambda subplans (materialize the shared relation, or " +
        s"whitelist with a by-design justification):\n${found.mkString("\n")}")
  }

  test("no gate query evaluates an interpreted kernel under a join (the IntSqDist class, gated)") {
    // round-9 audit born from the round-8 find: the integer-ANN family
    // shipped a full round of shape bake-offs around an interpreted
    // CodegenFallback kernel before anyone noticed the KERNEL was the
    // 10-17× problem. PlanAudit.codegenFallbacks flags fallback
    // subtrees in join conditions, on join pair streams, and the
    // >16-per-operator chained-kernel shape. Whitelist = justified,
    // BOUNDED per-pair sites (each re-verified round 9):
    //  - q123: the span-scrub filter is inherently per (doc × cut set)
    //    — the lambda consults the doc's own cut spans, and the "join"
    //    is the 1:1 re-attach of each doc's span list;
    //  - q192: 2^20 quantization lands on a 1:1 vec_id equi-join's
    //    output, so the pair stream IS the row stream (per-row map
    //    work, not a multiplicity);
    //  - q233: the zip_with reconstruction runs on the
    //    |queries|·rerank shortlist only (the IVFADC+R contract — ADC
    //    filters at corpus scale, exact math sees a constant number of
    //    rows per query).
    val whitelist = Set("q123_scrub_dup_spans", "q192_embedding_drift",
      "q233_ivfpq_rerank")
    val found = offenders("codegenFallbacks", whitelist)
    assert(found.isEmpty,
      s"interpreted kernels in hot positions (swap in a codegen " +
        s"Expression — DotProduct/IntSqDist/EqCount pattern — or " +
        s"whitelist with a boundedness justification):\n${found.mkString("\n")}")
  }

  test("the fallback audit flags the pre-round-8 lambda kernel shapes (canary)") {
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.load(spark, SfDir, "embeddings")
      .select(col("vec_id").as("id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    // canary 1: the old interpreted distance composition scoring a
    // join's pair stream (the exact q232-before-IntSqDist shape)
    val pairs = emb.select(col("id").as("idA"), col("v").as("va"))
      .join(emb.select(col("id").as("idB"), col("v").as("vb")),
        col("idA") === col("idB") - 1)
      .select(col("idA"), col("idB"),
        aggregate(zip_with(col("va"), col("vb"), (a, b) => (a - b) * (a - b)),
          lit(0.0d), (acc, x) => acc + x).as("d2"))
    val found1 = graft.plans.PlanAudit.codegenFallbacks(pairs)
    assert(found1.exists(_.contains("pair")), s"canary 1 not flagged: $found1")
    // canary 2: the chained-literal kernel shape — one operator holding
    // > MaxFallbackPerOperator interpreted distance subtrees
    val cents = (0 until 20).map(i => Array.fill(4)(i.toDouble))
    val chained = emb.select(col("id"),
      greatest(cents.zipWithIndex.map { case (c, i) =>
        struct(aggregate(zip_with(col("v"), lit(c), (a, b) => (a - b) * (a - b)),
          lit(0.0d), (acc, x) => acc + x).as("d"), lit(i).as("cid"))
      }: _*).as("best"))
    val found2 = graft.plans.PlanAudit.codegenFallbacks(chained)
    assert(found2.exists(_.contains("chained-kernel")), s"canary 2 not flagged: $found2")
  }

  test("the recompute detector flags a deliberately unmaterialized two-consumer plan") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.load(spark, SfDir, "documents")
    // one heavy tokenize relation feeding two join branches with NO
    // persist/checkpoint — the canary the gated test above must catch
    val toks = docs.select(col("doc_id"),
      graft.functions.TextFunctions.tokens(col("text")).as("__t"))
    val a = toks.select(col("doc_id").as("ida"), size(col("__t")).as("na"))
    val b = toks.select(col("doc_id").as("idb"), size(col("__t")).as("nb"))
    val bad = a.join(b, col("ida") === col("idb"))
    assert(graft.plans.PlanAudit.recomputedLambdaSubplans(bad).nonEmpty,
      "detector must flag the unmaterialized shared lambda subplan")
    // and the materialized form passes (checkpoint resolves to a leaf)
    val toksM = toks.localCheckpoint(true)
    val aM = toksM.select(col("doc_id").as("ida"), size(col("__t")).as("na"))
    val bM = toksM.select(col("doc_id").as("idb"), size(col("__t")).as("nb"))
    val good = aM.join(bM, col("ida") === col("idb"))
    assert(graft.plans.PlanAudit.recomputedLambdaSubplans(good).isEmpty,
      "a checkpointed shared relation must not be flagged")
  }

  test("the lambda audit flags a deliberately regressed plan") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.load(spark, SfDir, "documents")
    // the exact anti-pattern the library bans: one Project referencing
    // the un-staged tokens() lambda twice
    val bad = docs.select(
      array_min(graft.functions.TextFunctions.tokens(col("text"))).as("a"),
      array_max(graft.functions.TextFunctions.tokens(col("text"))).as("b"))
    assert(graft.plans.PlanAudit.repeatedLambdas(bad).nonEmpty,
      "audit must flag a twice-inlined lambda column")
    // and the InferFiltersFromGenerate damage plain explode invites on a
    // STAGED lambda column (Spark 4.1 skips inference on direct lambda
    // inputs, but an attribute input infers `size>0 AND isnotnull` and
    // pushdown substitutes the stage back in — tokens() twice in one
    // Filter)
    val badGen = docs
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("__tk"))
      .select(col("doc_id"), explode(col("__tk")).as("tok"))
    assert(graft.plans.PlanAudit.repeatedLambdas(badGen).nonEmpty,
      "audit must flag the inferred-filter lambda re-evaluation")
    // and the BODY-position class (old Quantize.int8's O(dim²)/row bug):
    // a row-constant lambda subtree inside another lambda's body is
    // re-evaluated per element
    val emb = graft.sources.Tables.load(spark, SfDir, "embeddings")
    val badBody = emb.select(col("vec_id"),
      transform(col("embedding"),
        x => x / array_max(transform(col("embedding"), y => abs(y)))).as("norm"))
    assert(graft.plans.PlanAudit.repeatedLambdas(badBody)
        .exists(_.contains("lambda BODY")),
      "audit must flag a row-constant subtree in a lambda body")
    // while a body subtree READING the enclosing lambda variable — the
    // genuinely per-element case — stays unflagged
    val okBody = emb.select(col("vec_id"),
      transform(col("embedding"),
        x => x + aggregate(array(x), lit(0d), (a, b) => a + b)).as("t"))
    assert(!graft.plans.PlanAudit.repeatedLambdas(okBody)
        .exists(_.contains("lambda BODY")),
      "per-element body subtrees must not false-positive")
  }
}
