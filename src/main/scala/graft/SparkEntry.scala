package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.functions.TextFunctions
import graft.operators.{LatestRowView, Transforms}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each query is named for the SURVEY.md §2 operator(s) it exercises; the
  * implementation lives in the graft.* library modules, this object is the
  * registry. Oracle parity rules (driver hash-compares vs DuckDB at
  * sf0.01):
  *  - identical output column names on both sides (aliased everywhere);
  *  - no order-dependent float sums: money columns are 2-decimal doubles,
  *    summed exactly as integer cents via `round(x*100)`; quantities are
  *    integral doubles (exact IEEE sums); DuckDB integer sums cast back to
  *    BIGINT (DuckDB sum(bigint) is HUGEINT);
  *  - timestamps formatted to strings where emitted.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables.load(s, dir, name)

  /** Stage a table for the file-stream source: copies `$dir/events.parquet`
    * whether it is a single file (driver testdata) or a parquet directory
    * (ScaleGen output) — `Files.copy` alone would copy a directory as an
    * EMPTY directory and silently break the streaming queries.
    */
  private def stageEvents(dir: String): java.nio.file.Path = {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft-stage")
    val src = Paths.get(s"$dir/events.parquet")
    // FLATTEN into the watched dir: the streaming file source (and the
    // schema-inference read of the parent) only sees top-level files, so
    // a directory-form table (ScaleGen output) must land as its part
    // files, not as a nested `events.parquet/` subdir — which the source
    // silently never picks up (caught by Bench's errors field at 10×).
    if (Files.isDirectory(src)) {
      val children = Files.list(src)
      try {
        val it = children.iterator()
        var i = 0
        while (it.hasNext) {
          val c = it.next()
          if (c.getFileName.toString.endsWith(".parquet")) {
            Files.copy(c, tmp.resolve(f"events_$i%05d.parquet"))
            i += 1
          }
        }
      } finally children.close()
    } else Files.copy(src, tmp.resolve("events.parquet"))
    tmp
  }

  /** Best-effort recursive delete of a staged temp dir (the memory-sink
    * table holds the results; the files are dead weight after the drain).
    */
  private def dropStaged(p: java.nio.file.Path): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(p.toFile)
  }

  /** Exact integer-cents sum of a 2-decimal double column (order-independent). */
  private def centsSum(c: Column): Column = sum(round(c * 100).cast("long"))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  // --------------------------------------------------------------- registry

  /** How Bench reads an entry's eager constructor time (`setup`).
    * `queries − setup` is meaningful ONLY for [[Kind.Fixture]] (TxTable /
    * lifecycle churn — setup builds throwaway state) and
    * [[Kind.Streaming]] (micro-batch run in the constructor; the returned
    * plan is a trivial memory/derived-table read). For query-work entries
    * the eager constructor work IS the dominant pipeline. `setupKind` is
    * the string Bench emits per entry. Classified from the entry
    * implementations: q135/q173 are BATCH stateful operators, not
    * streams; the q245 tick and q246 rebuild gates build indexes and run
    * ticks/retrains inside the constructor (the q40 lifecycle class —
    * the b242/b243/b244 twins price the steady state).
    */
  sealed abstract class Kind(val setupKind: String)
  object Kind {
    case object Query extends Kind("query-work")
    case object Fixture extends Kind("fixture")
    case object Streaming extends Kind("streaming")
    /** Query work in the multimodal codec family: Bench gives it one
      * extra warm pass at the target sf (its mapPartitions codec bodies
      * JIT-compile slowly).
      */
    case object Media extends Kind("query-work")
  }
  import Kind.{Fixture, Media, Streaming}

  /** One registry record: the query builder and, for a gate entry, the
    * DuckDB SQL its result must hash-match at sf0.01. `oracle` is `None`
    * only for the bench-only `b*` twins (production fast paths that are
    * correctness-pinned by specs instead).
    */
  final case class Entry(name: String, build: (SparkSession, String) => DataFrame,
      oracle: Option[String], kind: Kind = Kind.Query)

  /** Every registry entry: the 246 oracle-gated `q*` queries, then the
    * bench-only twins. Lazy: the oracle SQL reads the helper vals below.
    */
  lazy val entries: Seq[Entry] = Seq(
    // A1/A2/A4 — grouped aggregation with partial (map-side) combine.
    Entry("q01_pricing_summary", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          centsSum(col("l_extendedprice")).as("sum_base_cents"),
          centsSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_cents"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          count(lit(1)).as("count_order"))
    }, Some("""SELECT l_returnflag, l_linestatus,
         sum(l_quantity) AS sum_qty,
         cast(sum(cast(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
         cast(sum(cast(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
         min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""")),

    // F1/P1 — filter + projection, both pushed to the parquet scan.
    Entry("q02_filter_project", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01"))
          && col("l_discount") > lit(0.05))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }, Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_discount > 0.05""")),

    // J2 — dim joins (broadcast) + agg: revenue by nation.
    Entry("q03_revenue_by_nation", (s, dir) => {
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      val nation = t(s, dir, "nation")
      orders
        .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
        .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(centsSum(col("o_totalprice")).as("revenue_cents"),
             count(lit(1)).as("n_orders"))
    }, Some("""SELECT n_name,
         cast(sum(cast(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
         count(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""")),

    // J2 — fact-to-dim broadcast join + agg over two keys.
    Entry("q04_parts_per_brand", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val part = t(s, dir, "part")
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
             count(lit(1)).as("n_lines"))
    }, Some("""SELECT p_brand, sum(l_quantity) AS sum_qty, count(*) AS n_lines
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand""")),

    // W1 — latest-row-per-key view (the reference's Athena `_lv` view).
    Entry("q05_latest_row_view", (s, dir) => {
      LatestRowView.latestPerKey(t(s, dir, "events"),
          Seq("user_id"), Seq(col("ts"), col("event_id")))
        .select(col("user_id"), col("event_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))
    }, Some("""SELECT user_id, event_id, event_type,
         strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
               FROM events) WHERE rn = 1""")),

    // J1/U3 — anti join: customers with no orders.
    Entry("q06_customers_no_orders", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }, Some("""SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""")),

    // semi join: suppliers with any recent lineitem.
    Entry("q07_active_suppliers", (s, dir) => {
      val sup = t(s, dir, "supplier")
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1998-01-01")))
      sup.join(li, sup("s_suppkey") === li("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
    }, Some("""SELECT s_suppkey, s_name FROM supplier
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_suppkey = s_suppkey AND l_shipdate >= TIMESTAMP '1998-01-01')""")),

    // U1 — union + grouped count over the unioned tag.
    Entry("q08_union_counts", (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey").as("key"))
        .withColumn("side", lit("customer"))
      val o = t(s, dir, "orders").select(col("o_custkey").as("key"))
        .withColumn("side", lit("orders"))
      c.unionByName(o).groupBy(col("side"))
        .agg(count(lit(1)).as("n"), countDistinct(col("key")).as("n_keys"))
    }, Some("""SELECT side, count(*) AS n, count(DISTINCT key) AS n_keys FROM (
           SELECT c_custkey AS key, 'customer' AS side FROM customer
           UNION ALL
           SELECT o_custkey AS key, 'orders' AS side FROM orders
         ) GROUP BY side""")),

    // U3 — except: customer keys that never appear in orders.
    Entry("q09_except_keys", (s, dir) => {
      t(s, dir, "customer").select(col("c_custkey").as("key"))
        .except(t(s, dir, "orders").select(col("o_custkey").as("key")))
    }, Some("""SELECT c_custkey AS key FROM customer
         EXCEPT SELECT o_custkey AS key FROM orders""")),

    // O2/W — top-3 orders per customer by price (deterministic tie-break).
    Entry("q10_topk_orders_per_customer", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"))
    }, Some("""SELECT o_custkey, o_orderkey FROM (
           SELECT o_custkey, o_orderkey,
                  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders) WHERE rn <= 3""")),

    // F1/A4 — watermark slice: events in the last 7 days of the table.
    Entry("q11_watermark_slice", (s, dir) => {
      val e = t(s, dir, "events")
      val wm = e.agg((max(col("ts")) - expr("INTERVAL 7 DAYS")).as("wm"))
      e.join(broadcast(wm))
        .filter(col("ts") >= col("wm"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), max(col("user_id")).as("max_user"))
    }, Some("""SELECT event_type, count(*) AS n, max(user_id) AS max_user
         FROM events
         WHERE ts >= (SELECT max(ts) - INTERVAL 7 DAY FROM events)
         GROUP BY event_type""")),

    // C4 — time-based partition-column derivation (YYYYMM).
    Entry("q12_partition_yyyymm", (s, dir) => {
      val spec = graft.model.PartitionSpec(1, graft.model.PartitionSpec.TimeBased, "ts", "YYYYMMDD")
      val (df, cols) = Transforms.derivePartitions(t(s, dir, "events"), Seq(spec))
      df.groupBy(col(cols.head).as("ts_yyyymmdd"))
        .agg(count(lit(1)).as("n"))
    }, Some("""SELECT strftime(ts, '%Y%m%d') AS ts_yyyymmdd, count(*) AS n
         FROM events GROUP BY 1""")),

    // C5 — non-time range-bucket partition derivation (integer div).
    Entry("q13_range_bucket", (s, dir) => {
      val spec = graft.model.PartitionSpec(1, graft.model.PartitionSpec.NonTimeBased, "o_orderkey", "1K")
      val (df, cols) = Transforms.derivePartitions(t(s, dir, "orders"), Seq(spec))
      df.groupBy(col(cols.head).as("bucket"))
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"))
    }, Some("""SELECT cast(floor(o_orderkey / 1000) AS BIGINT) AS bucket,
         count(*) AS n, min(o_orderkey) AS min_key
         FROM orders GROUP BY 1""")),

    // P2/C2/C3 — temporal clamp projection (CASE WHEN).
    Entry("q14_ts_clamp", (s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          date_format(
            Transforms.clampTimestamp(col("o_orderdate"), "1996-01-01 00:00:00", "1999-12-31 00:00:00"),
            "yyyy-MM-dd").as("clamped_date"))
    }, Some("""SELECT o_orderkey,
         strftime(CASE WHEN o_orderdate < TIMESTAMP '1996-01-01' THEN TIMESTAMP '1996-01-01'
                       WHEN o_orderdate > TIMESTAMP '1999-12-31' THEN TIMESTAMP '1999-12-31'
                       ELSE o_orderdate END, '%Y-%m-%d') AS clamped_date
         FROM orders""")),

    // C1/P3 — coalesce tracking expression (expr_column add + drop).
    Entry("q15_coalesce_expr", (s, dir) => {
      val df = Transforms.withExprColumn(
        t(s, dir, "lineitem").withColumn("maybe_flag", nullif(col("l_returnflag"), lit("N"))),
        "coalesce(maybe_flag, l_linestatus)")
      Transforms.dropExprColumn(
        df.groupBy(col(Transforms.ExprColumn).as("flag")).agg(count(lit(1)).as("n")))
    }, Some("""SELECT coalesce(nullif(l_returnflag, 'N'), l_linestatus) AS flag, count(*) AS n
         FROM lineitem GROUP BY 1""")),

    // A6 — argmax: order date of each customer's highest-keyed order.
    Entry("q16_argmax_order", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max_by(date_format(col("o_orderdate"), "yyyy-MM-dd"), col("o_orderkey")).as("last_order_date"),
             max(col("o_orderkey")).as("max_orderkey"))
    }, Some("""SELECT o_custkey,
         arg_max(strftime(o_orderdate, '%Y-%m-%d'), o_orderkey) AS last_order_date,
         max(o_orderkey) AS max_orderkey
         FROM orders GROUP BY o_custkey""")),

    // A3/J3 — count reconciliation over a watermark window as one pass.
    Entry("q17_count_reconcile", (s, dir) => {
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("source_count"),
        count(when(col("l_shipdate") >= to_timestamp(lit("1997-06-01")), lit(1))).as("window_count"))
    }, Some("""SELECT count(*) AS source_count,
         count(CASE WHEN l_shipdate >= TIMESTAMP '1997-06-01' THEN 1 END) AS window_count
         FROM lineitem""")),

    // A7 — distinct.
    Entry("q18_distinct_types", (s, dir) => {
      t(s, dir, "events").select(col("event_type")).distinct()
    }, Some("SELECT DISTINCT event_type FROM events")),

    // O1 — global sort (range partitioned in Spark; output is the sorted relation).
    Entry("q19_sorted_nations", (s, dir) => {
      t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
        .orderBy(col("n_nationkey"))
    }, Some("""SELECT n_nationkey, n_name, r_name
         FROM nation JOIN region ON n_regionkey = r_regionkey
         ORDER BY n_nationkey""")),

    // ---- training-data pipeline operators (documents / embeddings) ----
    // T1 — token counting + per-language corpus stats.
    Entry("q20_token_stats", (s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFunctions.wsTokenCount(col("text")).cast("long")).as("sum_tokens"),
          sum(col("n_chars")).as("sum_chars"))
    },
      // empty-text guard: DuckDB string_split_regex('') is [''] (len 1),
      // Spark wsTokenCount('') is 0 — CASE keeps parity if empty docs appear
      Some("""SELECT lang, count(*) AS n_docs,
         cast(sum(CASE WHEN trim(text) = '' THEN 0
                       ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS sum_tokens,
         cast(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents GROUP BY lang""")),

    // T2 — quality filtering on exact integer signals.
    Entry("q21_quality_flags", (s, dir) => {
      t(s, dir, "documents")
        .filter(col("n_chars") >= 100 && TextFunctions.wsTokenCount(col("text")) >= 20)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_pass"))
    }, Some("""SELECT source, count(*) AS n_pass FROM documents
         WHERE n_chars >= 100 AND trim(text) <> ''
           AND len(string_split_regex(trim(text), '\s+')) >= 20
         GROUP BY source""")),

    // D1 — exact dedup accounting (hash-groupBy on content digest).
    Entry("q22_exact_dedup", (s, dir) => {
      t(s, dir, "documents").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_uniq"))
    }, Some("""SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_uniq
         FROM documents""")),

    // D2 — MinHash+LSH near-dedup survivors, oracle-checked: DuckDB
    // recomputes the survivor set from exact all-pairs n-gram Jaccard;
    // the LSH path must find every real near-dup pair to match.
    Entry("q23_minhash_dedup", (s, dir) => {
      functions.Dedup.minhashDedup(t(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("lang"), col("source"))
    },
      // the oracle recomputes the survivor set from FIRST PRINCIPLES: exact
      // n-gram Jaccard over ALL pairs (O(n²) is fine at oracle scale), drop
      // docs with a smaller-id partner at J >= 0.5. The Spark side reaches
      // the same set through MinHash-LSH candidates — a hash match proves
      // candidate recall is total on every real near-dup pair, which the
      // J-distribution gap (all true pairs >= 0.86, nothing in [0.25, 0.86))
      // makes the deterministic expectation, not luck.
      Some("""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                      x -> x <> '') AS t
           FROM documents),
         sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
                  ELSE list_transform(range(1, len(t)-3),
                         i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]) END) AS sh
           FROM toks),
         losers AS (
           SELECT DISTINCT b.doc_id FROM sets a JOIN sets b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
                   / len(list_distinct(a.sh || b.sh))::DOUBLE >= 0.5)
         SELECT d.doc_id, d.lang, d.source FROM documents d
         WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)""")),

    // D3 — SimHash near-dedup survivors, oracle-checked end to end: the
    // portable 60-bit simhash (md5-prefix token hashes) re-derives fully
    // in DuckDB SQL — bit votes, block buckets, hamming verify, survivor
    // anti-join. The xxhash64 SimHash64 expression stays the production
    // fast path, pinned by its bit-parity spec.
    Entry("q24_simhash_dedup", (s, dir) => {
      functions.Dedup.simhashDedupPortable(t(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("lang"))
    },
      // full SQL re-derivation of the portable simhash dedup: md5-prefix
      // 60-bit token hashes, per-bit +1/−1 votes (bit set iff strictly
      // positive), 4×15-bit block buckets, hamming ≤ 3 on bit_count(xor),
      // drop docs with a smaller-id partner — every step matches the Spark
      // pipeline operation for operation.
      Some("""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                      x -> x <> '') AS t
           FROM documents),
         th AS (
           SELECT doc_id,
                  list_transform(t, x -> CAST('0x'||substring(md5(x), 1, 15) AS BIGINT)) AS h,
                  len(t) AS n
           FROM toks),
         bits AS (
           SELECT doc_id, b,
                  CASE WHEN 2 * len(list_filter(h, v -> (v >> b) & 1 = 1)) > n
                       THEN (CAST(1 AS BIGINT) << b) ELSE 0 END AS bit
           FROM th, range(0, 60) r(b)),
         sims AS (
           SELECT doc_id, CAST(sum(bit) AS BIGINT) AS sim FROM bits GROUP BY doc_id),
         blocks AS (
           SELECT doc_id, blk, (sim >> CAST(blk * 15 AS INTEGER)) & 32767 AS bucket, sim
           FROM sims, range(0, 4) r(blk)),
         pairs AS (
           SELECT DISTINCT a.doc_id AS idA, b.doc_id AS idB, a.sim AS simA, b.sim AS simB
           FROM blocks a JOIN blocks b
             ON a.blk = b.blk AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         losers AS (
           SELECT DISTINCT idB FROM pairs WHERE bit_count(xor(simA, simB)) <= 3)
         SELECT d.doc_id, d.lang FROM documents d
         WHERE d.doc_id NOT IN (SELECT idB FROM losers)""")),

    // D3b — TRANSITIVE dedup clusters: the same portable simhash pairs,
    // closed under connectivity (large-star/small-star components) so a
    // chain A~B~C lands in ONE cluster even though (A,C) was never a
    // candidate. Oracle = q24's pair SQL + a recursive min-label CTE —
    // the full iterative operator is hash-checked end to end.
    Entry("q76_dedup_clusters", (s, dir) => {
      functions.Dedup.simhashClustersPortable(t(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("cluster"))
    },
      // q24's pair derivation + transitive closure: min-label reach as a
      // recursive CTE. The prune (lab < dst) is sound because the
      // component MIN propagates through every member (min < member id
      // along the whole path), and it keeps the fixpoint set linear-ish
      // instead of all-pairs-per-component.
      Some("""WITH RECURSIVE toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                      x -> x <> '') AS t
           FROM documents),
         th AS (
           SELECT doc_id,
                  list_transform(t, x -> CAST('0x'||substring(md5(x), 1, 15) AS BIGINT)) AS h,
                  len(t) AS n
           FROM toks),
         bits AS (
           SELECT doc_id, b,
                  CASE WHEN 2 * len(list_filter(h, v -> (v >> b) & 1 = 1)) > n
                       THEN (CAST(1 AS BIGINT) << b) ELSE 0 END AS bit
           FROM th, range(0, 60) r(b)),
         sims AS (
           SELECT doc_id, CAST(sum(bit) AS BIGINT) AS sim FROM bits GROUP BY doc_id),
         blocks AS (
           SELECT doc_id, blk, (sim >> CAST(blk * 15 AS INTEGER)) & 32767 AS bucket, sim
           FROM sims, range(0, 4) r(blk)),
         pairs AS (
           SELECT DISTINCT a.doc_id AS idA, b.doc_id AS idB, a.sim AS simA, b.sim AS simB
           FROM blocks a JOIN blocks b
             ON a.blk = b.blk AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         edges AS (
           SELECT idA AS src, idB AS dst FROM pairs WHERE bit_count(xor(simA, simB)) <= 3
           UNION ALL
           SELECT idB, idA FROM pairs WHERE bit_count(xor(simA, simB)) <= 3),
         reach(id, lab) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
           WHERE r.lab < e.dst)
         SELECT id AS doc_id, min(lab) AS cluster FROM reach GROUP BY id""")),

    // D3c — quality-aware dedup: ONE survivor per transitive cluster,
    // picked by max n_chars (tie → min doc_id) — the "keep the BEST
    // version" curation policy, vs q24's min-id rule. One argmax
    // aggregation after the cluster assignment; no window, no sort.
    Entry("q79_cluster_best", (s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = functions.Dedup.simhashPairsPortable(d, "text", "doc_id")
      functions.Dedup.bestPerCluster(d, "doc_id", pairs, "n_chars")
        .select(col("doc_id"), col("lang"), col("n_chars"))
    },
      // q76's clusters + per-cluster argmax (n_chars desc, doc_id asc) —
      // the window form is the oracle spelling; the Spark side is one
      // struct-ordering aggregation
      Some("""WITH RECURSIVE toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                      x -> x <> '') AS t
           FROM documents),
         th AS (
           SELECT doc_id,
                  list_transform(t, x -> CAST('0x'||substring(md5(x), 1, 15) AS BIGINT)) AS h,
                  len(t) AS n
           FROM toks),
         bits AS (
           SELECT doc_id, b,
                  CASE WHEN 2 * len(list_filter(h, v -> (v >> b) & 1 = 1)) > n
                       THEN (CAST(1 AS BIGINT) << b) ELSE 0 END AS bit
           FROM th, range(0, 60) r(b)),
         sims AS (
           SELECT doc_id, CAST(sum(bit) AS BIGINT) AS sim FROM bits GROUP BY doc_id),
         blocks AS (
           SELECT doc_id, blk, (sim >> CAST(blk * 15 AS INTEGER)) & 32767 AS bucket, sim
           FROM sims, range(0, 4) r(blk)),
         pairs AS (
           SELECT DISTINCT a.doc_id AS idA, b.doc_id AS idB, a.sim AS simA, b.sim AS simB
           FROM blocks a JOIN blocks b
             ON a.blk = b.blk AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         edges AS (
           SELECT idA AS src, idB AS dst FROM pairs WHERE bit_count(xor(simA, simB)) <= 3
           UNION ALL
           SELECT idB, idA FROM pairs WHERE bit_count(xor(simA, simB)) <= 3),
         reach(id, lab) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
           WHERE r.lab < e.dst),
         cc AS (SELECT id AS doc_id, min(lab) AS cluster FROM reach GROUP BY id),
         best AS (
           SELECT doc_id FROM (
             SELECT d.doc_id, row_number() OVER (
               PARTITION BY c.cluster ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
             FROM documents d JOIN cc c USING (doc_id)) WHERE rn = 1)
         SELECT d.doc_id, d.lang, d.n_chars FROM documents d
         WHERE d.doc_id IN (SELECT doc_id FROM best)""")),

    // D6 — edit-distance verification of near-dup candidates: exact
    // Levenshtein over a 256-char prefix, restricted to the simhash
    // candidate pairs (the verify-only-candidates discipline). Both
    // engines ship the identical DP, so the verified pairs hash-match.
    Entry("q88_edit_distance_verify", (s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = functions.Dedup.simhashPairsPortable(d, "text", "doc_id")
      functions.Dedup.editDistancePairs(d, pairs, "text", "doc_id",
        maxDist = 64, prefixLen = 256)
    },
      // q24's candidate derivation + the same Levenshtein DP over the
      // same 256-char prefixes
      Some("""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                      x -> x <> '') AS t
           FROM documents),
         th AS (
           SELECT doc_id,
                  list_transform(t, x -> CAST('0x'||substring(md5(x), 1, 15) AS BIGINT)) AS h,
                  len(t) AS n
           FROM toks),
         bits AS (
           SELECT doc_id, b,
                  CASE WHEN 2 * len(list_filter(h, v -> (v >> b) & 1 = 1)) > n
                       THEN (CAST(1 AS BIGINT) << b) ELSE 0 END AS bit
           FROM th, range(0, 60) r(b)),
         sims AS (
           SELECT doc_id, CAST(sum(bit) AS BIGINT) AS sim FROM bits GROUP BY doc_id),
         blocks AS (
           SELECT doc_id, blk, (sim >> CAST(blk * 15 AS INTEGER)) & 32767 AS bucket, sim
           FROM sims, range(0, 4) r(blk)),
         pairs AS (
           SELECT DISTINCT a.doc_id AS idA, b.doc_id AS idB, a.sim AS simA, b.sim AS simB
           FROM blocks a JOIN blocks b
             ON a.blk = b.blk AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         cand AS (SELECT idA, idB FROM pairs WHERE bit_count(xor(simA, simB)) <= 3),
         pre AS (SELECT doc_id, substring(text, 1, 256) AS pfx FROM documents)
         SELECT c.idA, c.idB,
           CAST(levenshtein(a.pfx, b.pfx) AS INTEGER) AS edit_dist
         FROM cand c JOIN pre a ON c.idA = a.doc_id JOIN pre b ON c.idB = b.doc_id
         WHERE levenshtein(a.pfx, b.pfx) <= 64""")),

    // T — temperature-based corpus mixing (T=2): strata rebalance toward
    // sqrt-share with integer-exact basis-point rates; the kept set is
    // content-hash deterministic and re-derives fully in SQL.
    Entry("q89_temperature_mix", (s, dir) => {
      functions.Sampling.temperatureSample(t(s, dir, "documents"),
          col("lang"), col("text"), budgetDocs = 200L)
        .select(col("doc_id"), col("lang"))
    },
      // integer-exact sqrt-share rates re-derived in SQL, same md5 filter
      Some("""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang),
         w AS (SELECT lang, n, CAST(floor(sqrt(n)) AS BIGINT) AS wt FROM c),
         tot AS (SELECT CAST(sum(wt) AS BIGINT) AS tw FROM w),
         r AS (SELECT lang, least(10000, (10000 * 200 * wt) // (n * tw)) AS bp FROM w, tot)
         SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
         WHERE CAST(('0x' || substring(md5(d.text), 1, 8)) AS BIGINT) % 10000 < r.bp""")),

    // J4 — bloom semi-join reduction: the fact side is might_contain-
    // filtered by a bloom built over the selective dim slice BEFORE its
    // shuffle (Spark's own runtime-filter kernels, explicit form). No
    // false negatives → exact same result as the plain join, which is
    // exactly what the oracle runs.
    Entry("q90_bloom_semijoin", (s, dir) => {
      val dim = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_mktsegment"))
      graft.operators.BloomPrune.prunedJoin(
          t(s, dir, "orders").withColumnRenamed("o_custkey", "c_custkey"),
          dim, "c_custkey")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    },
      // bloom pruning has no false negatives: the reduced join IS the join
      Some("""SELECT c_mktsegment, count(*) AS n,
         CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING' GROUP BY 1""")),

    // T — BPE-ish tokenization (GPT-2 pre-token pattern in the Java ∩
    // RE2 regex subset): per-doc BPE vs whitespace counts — the honest
    // token-cost estimate for punctuation-heavy text. Oracle runs the
    // identical pattern.
    Entry("q91_bpe_tokens", (s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        functions.TextFunctions.bpeTokenCount(col("text")).as("n_bpe"),
        functions.TextFunctions.wsTokenCount(col("text")).as("n_ws"))
    },
      // same BPE pre-token pattern ('' = SQL-escaped apostrophe)
      Some("""SELECT doc_id,
         CAST(len(regexp_extract_all(text,
           '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+', 0)) AS INTEGER) AS n_bpe,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS INTEGER) AS n_ws
         FROM documents""")),

    // T — REAL merge-table BPE (Bpe.DefaultMerges, trained by
    // tools.BpeTrain): per-doc pre-token count, merged token count, and
    // the FULL merged segmentation joined with '|'. The oracle replays
    // a rank-order merge loop (each rule to fixpoint, in rank order) as
    // a recursive CTE over the frozen merge list — a hash match pins
    // every token BOUNDARY, not just counts. Bpe.applyMerges is the
    // lowest-rank-pair loop; the two agree here only because
    // DefaultMerges' merge products are distinct, which BpeSpec pins.
    Entry("q92_bpe_merged", (s, dir) => {
      functions.Bpe.mergedTokensPerDoc(t(s, dir, "documents"),
          col("doc_id"), col("text"), functions.Bpe.DefaultMerges)
        .select(col("id").as("doc_id"), col("n_pre"), col("n_tok"), col("toks"))
    }, Some(s"""WITH RECURSIVE $bpeCtes
         SELECT doc_id, n_pre, n_tok, toks FROM bpe""")),

    // T — token-ID encoding over the deterministic vocabulary (base
    // chars sorted, then merge products in rank order) — the form
    // packing/training consumes. The oracle rebuilds the identical
    // vocabulary in SQL and maps the q92 segmentation through it, so
    // every token ID hash-matches.
    Entry("q94_bpe_ids", (s, dir) => {
      val docs = t(s, dir, "documents")
      val v = functions.Bpe.vocab(
        functions.Bpe.baseCharsOf(docs, col("text")), functions.Bpe.DefaultMerges)
      functions.Bpe.encodedIdsPerDoc(docs, col("doc_id"), col("text"),
          functions.Bpe.DefaultMerges, v)
        .select(col("id").as("doc_id"), col("n_tok"), col("ids"))
    },
      // vocabulary ids re-derived in SQL: base chars by sort order, merge
      // products by first-wins rank order, segmentation mapped through it
      Some(s"""WITH RECURSIVE $bpeCtes,
         chars AS (
           SELECT DISTINCT unnest(string_split(tok, '')) AS c FROM bvocab),
         basev AS (
           SELECT c AS tok_s, row_number() OVER (ORDER BY c) - 1 AS tid FROM chars),
         prodd AS (
           SELECT a || b AS tok_s, min(r) AS r FROM merges GROUP BY 1),
         prodv AS (
           SELECT tok_s,
             (SELECT count(*) FROM chars) + row_number() OVER (ORDER BY r) - 1 AS tid
           FROM prodd),
         vocab_ids AS (
           SELECT tok_s, CAST(tid AS INTEGER) AS tid FROM basev
           UNION ALL SELECT tok_s, CAST(tid AS INTEGER) FROM prodv),
         toksplit AS (
           SELECT doc_id, unnest(string_split(toks, '|')) AS tok_s,
                  unnest(range(1, len(string_split(toks, '|')) + 1)) AS i
           FROM bpe WHERE toks <> ''),
         encoded AS (
           SELECT t.doc_id,
                  CAST(count(*) AS INTEGER) AS n_tok,
                  string_agg(CAST(v.tid AS VARCHAR), ',' ORDER BY t.i) AS ids
           FROM toksplit t JOIN vocab_ids v ON t.tok_s = v.tok_s
           GROUP BY t.doc_id)
         SELECT d.doc_id, COALESCE(e.n_tok, 0) AS n_tok, COALESCE(e.ids, '') AS ids
         FROM documents d LEFT JOIN encoded e USING (doc_id)""")),

    // T — the END STATE of the tokenize→encode→pack pipeline: per-shard
    // token-ID streams cut into 512-token training contexts, every id in
    // order — what a trainer reads. The oracle re-derives every context
    // from the BPE replay + vocabulary + window arithmetic, so the
    // entire pipeline is hash-checked end to end.
    Entry("q95_pack_ids", (s, dir) => {
      val docs = t(s, dir, "documents")
      val v = functions.Bpe.vocab(
        functions.Bpe.baseCharsOf(docs, col("text")), functions.Bpe.DefaultMerges)
      val encoded = functions.Bpe.encodedIdsPerDoc(docs, col("doc_id"), col("text"),
          functions.Bpe.DefaultMerges, v)
        .select(col("id"), split(col("ids"), ",").as("ids"))
        .filter(size(col("ids")) > 0 && col("ids")(0) =!= "")
      functions.Packing.packedTokenStreams(encoded, col("id"), col("ids"),
        contextLen = 512L, nShards = 16)
    },
      // q94's encoding + q80's layout arithmetic: every training context's
      // id sequence re-derived token by token
      Some(s"""WITH RECURSIVE $bpeCtes,
         chars AS (
           SELECT DISTINCT unnest(string_split(tok, '')) AS c FROM bvocab),
         basev AS (
           SELECT c AS tok_s, row_number() OVER (ORDER BY c) - 1 AS tid FROM chars),
         prodd AS (
           SELECT a || b AS tok_s, min(r) AS r FROM merges GROUP BY 1),
         prodv AS (
           SELECT tok_s,
             (SELECT count(*) FROM chars) + row_number() OVER (ORDER BY r) - 1 AS tid
           FROM prodd),
         vocab_ids AS (
           SELECT tok_s, CAST(tid AS INTEGER) AS tid FROM basev
           UNION ALL SELECT tok_s, CAST(tid AS INTEGER) FROM prodv),
         toksplit AS (
           SELECT doc_id, unnest(string_split(toks, '|')) AS tok_s,
                  unnest(range(1, len(string_split(toks, '|')) + 1)) AS i
           FROM bpe WHERE toks <> ''),
         enc AS (
           SELECT t.doc_id, t.i, v.tid
           FROM toksplit t JOIN vocab_ids v ON t.tok_s = v.tok_s),
         doclen AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok FROM enc GROUP BY 1),
         offs AS (
           SELECT doc_id,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 10000 % 16 AS shard,
             n_tok
           FROM doclen),
         offs2 AS (
           SELECT doc_id, shard,
             CAST(COALESCE(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
           FROM offs),
         tok_stream AS (
           SELECT o.shard, o.tok_offset + e.i - 1 AS off, e.tid
           FROM enc e JOIN offs2 o USING (doc_id))
         SELECT shard, off // 512 AS bin, CAST(count(*) AS INTEGER) AS n_ids,
           string_agg(CAST(tid AS VARCHAR), ',' ORDER BY off) AS ids
         FROM tok_stream GROUP BY 1, 2""")),

    // D3/streaming — INCREMENTAL near-dedup against the committed lake:
    // documents arrive as id-ordered micro-batches (maxFilesPerTrigger=1
    // over two staged files); each batch's portable simhashes join the
    // committed signature table + batch-mates through the banded
    // candidate join and land in ONE TxTable commit per batch. The
    // oracle is the ONE-SHOT batch dedup rule in SQL — a hash match
    // proves incremental == batch exactly, per-doc. Multi-batch
    // processing is `require`d (head version ≥ 2 commits).
    Entry("q93_stream_neardup", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-q93").toString
      val staging = s"$tmp/staging"
      val sig = s"$tmp/sig"
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(staging))
      // two id-ordered single-file drops → two micro-batches (the
      // id-monotone arrival the operator's equivalence contract names)
      Seq(docs.filter(col("doc_id") <= mid), docs.filter(col("doc_id") > mid))
        .zipWithIndex.foreach { case (half, i) =>
          val part = s"$tmp/part$i"
          half.coalesce(1).write.parquet(part)
          val src = new java.io.File(part).listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          java.nio.file.Files.move(src.toPath,
            java.nio.file.Paths.get(s"$staging/batch-$i.parquet"))
        }
      graft.streaming.EventsStream.runStreamingNearDupTx(s, staging,
        docs.schema, sig)
      val commits = graft.sink.TxTable.headVersion(s, sig)
      require(commits >= 2, s"expected >=2 micro-batch commits, got $commits")
      val out = graft.sink.TxTable.read(s, sig)
        .select(col("id").as("doc_id"), col("kept")).collect()
      dropStaged(java.nio.file.Paths.get(tmp))
      import s.implicits._
      out.map(r => (r.getLong(0), r.getBoolean(1))).toSeq.toDF("doc_id", "kept")
    },
      // q24's batch dedup rule per doc — the streaming incremental path
      // must reproduce it exactly (kept = no smaller-id near-dup anywhere)
      Some("""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                      x -> x <> '') AS t
           FROM documents),
         th AS (
           SELECT doc_id,
                  list_transform(t, x -> CAST('0x'||substring(md5(x), 1, 15) AS BIGINT)) AS h,
                  len(t) AS n
           FROM toks),
         bits AS (
           SELECT doc_id, b,
                  CASE WHEN 2 * len(list_filter(h, v -> (v >> b) & 1 = 1)) > n
                       THEN (CAST(1 AS BIGINT) << b) ELSE 0 END AS bit
           FROM th, range(0, 60) r(b)),
         sims AS (
           SELECT doc_id, CAST(sum(bit) AS BIGINT) AS sim FROM bits GROUP BY doc_id),
         blocks AS (
           SELECT doc_id, blk, (sim >> CAST(blk * 15 AS INTEGER)) & 32767 AS bucket, sim
           FROM sims, range(0, 4) r(blk)),
         pairs AS (
           SELECT DISTINCT a.doc_id AS idA, b.doc_id AS idB, a.sim AS simA, b.sim AS simB
           FROM blocks a JOIN blocks b
             ON a.blk = b.blk AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         losers AS (
           SELECT DISTINCT idB FROM pairs WHERE bit_count(xor(simA, simB)) <= 3)
         SELECT d.doc_id, d.doc_id NOT IN (SELECT idB FROM losers) AS kept
         FROM documents d"""), Streaming),

    // T — corpus-trained bigram-LM quality scoring (the CCNet-style
    // "how typical are this document's word transitions" filter) in
    // exact integer arithmetic — the oracle re-trains the same counts
    // and re-derives every scaled conditional probability in SQL.
    Entry("q96_bigram_lm_quality", (s, dir) => {
      TextFunctions.bigramLmScore(t(s, dir, "documents"), col("doc_id"), col("text"))
    },
      // identical count training + integer-exact scaled probabilities
      Some("""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                      x -> x <> '') AS t
           FROM documents),
         uni AS (
           SELECT w, CAST(count(*) AS BIGINT) AS cu
           FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
         big AS (
           SELECT doc_id, unnest(list_transform(range(1, len(t)),
             i -> t[i] || ' ' || t[i+1])) AS bg
           FROM toks WHERE len(t) >= 2),
         bgc AS (SELECT bg, CAST(count(*) AS BIGINT) AS cb FROM big GROUP BY 1),
         scored AS (
           SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bi,
             CAST(sum((1000000 * c.cb) // u.cu) AS BIGINT) AS sum_p
           FROM big b
           JOIN bgc c USING (bg)
           JOIN uni u ON u.w = string_split(b.bg, ' ')[1]
           GROUP BY 1)
         SELECT d.doc_id, COALESCE(s.n_bi, 0) AS n_bi, COALESCE(s.sum_p, 0) AS sum_p
         FROM documents d LEFT JOIN scored s USING (doc_id)""")),

    // D — SUBSTRING-level duplicate spans (suffix-array ExactSubstr
    // semantics, relational re-expression): every 8-word window occurring
    // ≥2 times corpus-wide marks its token range; overlapping windows
    // merge into maximal spans (gaps-and-islands). Catches repeated
    // passages document-level dedup never sees. The oracle replays the
    // identical window-hash + island SQL.
    Entry("q97_dup_spans", (s, dir) => {
      functions.Dedup.duplicateSpans(t(s, dir, "documents"), "text", "doc_id")
    },
      // identical window-hash + gaps-and-islands replay; the shared gram
      // CTE block is duplicated into q98's profile oracle below
      Some("""WITH w AS (SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS ws FROM documents),
         g AS (SELECT doc_id, i AS pos,
                 CAST('0x'||substring(md5(array_to_string(ws[i+1:i+8], ' ')),1,15) AS BIGINT) AS gh
               FROM w, unnest(range(0, len(ws) - 7)) AS t(i) WHERE len(ws) >= 8),
         dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
         m AS (SELECT doc_id, pos FROM g WHERE gh IN (SELECT gh FROM dup)),
         isl AS (SELECT doc_id, pos,
                 CASE WHEN pos > coalesce(max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                      THEN 1 ELSE 0 END AS nw FROM m),
         i2 AS (SELECT doc_id, pos, sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl)
         SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + 8 AS BIGINT) AS span_end
         FROM i2 GROUP BY doc_id, island""")),

    // D — per-doc duplication profile over q97's spans: token count,
    // duplicated tokens, span count, duplicated fraction in integer
    // basis points; every document present (zero spans → zeros).
    Entry("q98_dup_profile", (s, dir) => {
      functions.Dedup.duplicateStats(t(s, dir, "documents"), "text", "doc_id")
    }, Some("""WITH w AS (SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS ws FROM documents),
         g AS (SELECT doc_id, i AS pos,
                 CAST('0x'||substring(md5(array_to_string(ws[i+1:i+8], ' ')),1,15) AS BIGINT) AS gh
               FROM w, unnest(range(0, len(ws) - 7)) AS t(i) WHERE len(ws) >= 8),
         dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
         m AS (SELECT doc_id, pos FROM g WHERE gh IN (SELECT gh FROM dup)),
         isl AS (SELECT doc_id, pos,
                 CASE WHEN pos > coalesce(max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                      THEN 1 ELSE 0 END AS nw FROM m),
         i2 AS (SELECT doc_id, pos, sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl),
         sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e FROM i2 GROUP BY doc_id, island),
         agg AS (SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS dup_tok,
                   CAST(count(*) AS BIGINT) AS n_spans FROM sp GROUP BY doc_id),
         tok AS (SELECT doc_id, CAST(len(regexp_extract_all(trim(text), '\S+')) AS BIGINT) AS n_tok
                 FROM documents)
         SELECT t.doc_id, t.n_tok,
           coalesce(a.dup_tok, 0) AS dup_tok, coalesce(a.n_spans, 0) AS n_spans,
           CAST(CASE WHEN t.n_tok > 0 THEN (10000 * coalesce(a.dup_tok, 0)) // t.n_tok
                ELSE 0 END AS BIGINT) AS dup_bp
         FROM tok t LEFT JOIN agg a USING (doc_id)""")),

    // T — deterministic training-order shuffle + sharding: shard route
    // and within-shard order come from DISJOINT 60-bit slices of one
    // content md5 — no global sort anywhere, one shard-partitioned
    // window, reproducible on any engine.
    Entry("q99_corpus_shuffle", (s, dir) => {
      functions.Sampling.corpusShuffle(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          col("text"), col("doc_id"), nShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
    },
      // disjoint md5 slices: chars 1-15 route the shard, 16-30 order it
      Some("""WITH h AS (SELECT doc_id,
           CAST(('0x'||substring(md5(text), 1, 15)) AS BIGINT) % 8 AS shard,
           CAST(('0x'||substring(md5(text), 16, 15)) AS BIGINT) AS h2
           FROM documents)
         SELECT doc_id, CAST(shard AS INTEGER) AS shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY h2, doc_id) - 1 AS BIGINT) AS pos
         FROM h""")),

    // V — fixed-centroid cluster assignment (semantic bucketing for
    // mixture balancing): 16 lowest-id vectors as the centroid table,
    // argmin squared L2 with lowest-cid tie-break — one broadcast cross
    // join + one partial-agg argmin, fully re-derivable in SQL.
    Entry("q100_cluster_assign", (s, dir) => {
      functions.Similarity.assignToLowestIdCentroids(
        t(s, dir, "embeddings"), "vec_id", "embedding", nCentroids = 16)
    },
      // same |v|^2 - 2<v,c> + |c|^2 expansion, same lowest-cid tie-break
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
         d AS (SELECT e.vec_id, c.cid,
                 list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
                   + list_dot_product(c.cv, c.cv) AS dist
               FROM e CROSS JOIN c)
         SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id FROM (
           SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
           FROM d) WHERE rn = 1""")),

    // V+T — cluster-BALANCED corpus mixing: q100's semantic buckets feed
    // the T=2 temperature sampler (tail clusters up-weighted, head
    // damped) in exact integer keep-rate arithmetic.
    Entry("q101_cluster_balanced", (s, dir) => {
      val assigned = functions.Similarity.assignToLowestIdCentroids(
        t(s, dir, "embeddings"), "vec_id", "embedding", nCentroids = 16)
      functions.Sampling.temperatureSample(assigned, col("cluster_id"),
          col("vec_id").cast("string"), budgetDocs = 200L)
        .select(col("vec_id"), col("cluster_id"))
    },
      // q100's assignment feeding q89's integer-exact sqrt-share rates
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
         d AS (SELECT e.vec_id, c.cid,
                 list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
                   + list_dot_product(c.cv, c.cv) AS dist
               FROM e CROSS JOIN c),
         a AS (SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id FROM (
                 SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
                 FROM d) WHERE rn = 1),
         cnt AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n FROM a GROUP BY cluster_id),
         w AS (SELECT cluster_id, n, CAST(floor(sqrt(n)) AS BIGINT) AS wt FROM cnt),
         tot AS (SELECT CAST(sum(wt) AS BIGINT) AS tw FROM w),
         r AS (SELECT cluster_id, least(10000, (10000 * 200 * wt) // (n * tw)) AS bp FROM w, tot)
         SELECT a.vec_id, a.cluster_id FROM a JOIN r USING (cluster_id)
         WHERE CAST(('0x' || substring(md5(CAST(a.vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000
           < r.bp""")),

    // T6 — PII scrubbing: the synthetic corpus carries no PII, so the
    // query INJECTS deterministic email/URL/IP/phone strings derived
    // from doc_id — the oracle builds the identical string in SQL and
    // re-runs the identical regex chain (all patterns live in the
    // Java-regex ∩ RE2 subset), so redacted text AND per-kind counts
    // hash-match end to end.
    Entry("q77_pii_scrub", (s, dir) => {
      val enriched = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com via http://ex.org/d/"), col("doc_id").cast("string"),
        lit(" from 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), ((col("doc_id") * 7) % 256).cast("string"),
        lit(" tel +1 415 555 "), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit("."))
      t(s, dir, "documents")
        .select(col("doc_id"), functions.Scrub.redactPii(enriched).as("redacted"),
          functions.Scrub.piiCounts(enriched).as("__c"))
        .select(col("doc_id"), col("redacted"),
          col("__c.n_urls").as("n_urls"), col("__c.n_emails").as("n_emails"),
          col("__c.n_ips").as("n_ips"), col("__c.n_phones").as("n_phones"))
    },
      // identical enrichment + identical regex chain (Java-regex ∩ RE2),
      // global 'g' replace to match Spark's replace-all; counts on the
      // SAME intermediates the chain sees (so counts == replacements)
      Some("""WITH enriched AS (
           SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR) ||
             '@mail.example.com via http://ex.org/d/' || CAST(doc_id AS VARCHAR) ||
             ' from 10.' || CAST(doc_id % 256 AS VARCHAR) ||
             '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) ||
             ' tel +1 415 555 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
             '.' AS t
           FROM documents),
         s1 AS (SELECT doc_id, t,
                  regexp_replace(t, 'https?://[^\s]+', '[URL]', 'g') AS a FROM enriched),
         s2 AS (SELECT *, regexp_replace(a,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS b FROM s1),
         s3 AS (SELECT *, regexp_replace(b,
                  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS c FROM s2),
         s4 AS (SELECT *, regexp_replace(c, '\+?\d[\d -]{7,}\d', '[PHONE]', 'g') AS d FROM s3)
         SELECT doc_id, d AS redacted,
           CAST(len(regexp_extract_all(t, 'https?://[^\s]+')) AS INTEGER) AS n_urls,
           CAST(len(regexp_extract_all(a,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(b,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_ips,
           CAST(len(regexp_extract_all(c, '\+?\d[\d -]{7,}\d')) AS INTEGER) AS n_phones
         FROM s4""")),

    // D4 — per-doc fingerprints + n-gram-Jaccard candidate degree
    // (rows-only oracle; always |documents| rows).
    // D4 — exact n-gram Jaccard, oracle-checked: the SAME kernel that
    // verifies LSH candidates (Dedup.jaccard), run on a deterministic
    // candidate set (consecutive doc_ids) so DuckDB can recompute every
    // value. LSH candidate generation itself stays gated by q23's
    // bit-parity spec + the recall spec.
    Entry("q25_ngram_jaccard_profile", (s, dir) => {
      // tokens staged before shingles (which references its token arg
      // ~n+2 times — inline, the interpreted lambda re-runs per ref)
      val sets = t(s, dir, "documents")
        .select(col("doc_id"), functions.TextFunctions.tokens(col("text")).as("__t"))
        .select(col("doc_id"),
          array_distinct(functions.TextFunctions.shingles(col("__t"), 5)).as("sh"))
      val a = sets.select(col("doc_id").as("idA"), col("sh").as("shA"))
      val b = sets.select((col("doc_id") - 1).as("idA"),
        col("doc_id").as("idB"), col("sh").as("shB"))
      a.join(b, Seq("idA"))
        .select(col("idA"), col("idB"),
          functions.Dedup.jaccard(col("shA"), col("shB")).as("jaccard"))
    },
      // exact Jaccard on the deterministic consecutive-id candidate set:
      // DuckDB rebuilds the same distinct 5-gram shingle sets (whole-doc
      // fallback for short docs) and the same double/double division
      Some("""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                      x -> x <> '') AS t
           FROM documents),
         sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
                  ELSE list_transform(range(1, len(t)-3),
                         i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]) END) AS sh
           FROM toks)
         SELECT a.doc_id AS idA, b.doc_id AS idB,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
           CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
         FROM sets a JOIN sets b ON b.doc_id = a.doc_id + 1""")),

    // D5 — embedding-cosine near-dup dedup survivors, oracle-checked:
    // DuckDB recomputes survivors from exact all-pairs cosine at 0.95.
    Entry("q26_embedding_neardup", (s, dir) => {
      functions.Similarity.cosineNearDupDedup(
          t(s, dir, "embeddings"), "vec_id", "embedding", dim = 64)
        .select(col("vec_id"), col("label"))
    },
      // same first-principles form for the embedding path: exact cosine over
      // all pairs at the 0.95 near-dup threshold (q55 exercises the kernel
      // on real pairs at 0.4; at 0.95 the loser set is whatever the data
      // holds — today empty, and the Spark side must agree exactly).
      Some("""WITH e AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM embeddings),
         losers AS (
           SELECT DISTINCT b.vec_id FROM e a JOIN e b ON a.vec_id < b.vec_id
           WHERE list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.95)
         SELECT vec_id, label FROM embeddings
         WHERE vec_id NOT IN (SELECT vec_id FROM losers)""")),

    // V1 — exact brute-force cosine top-k (rows-only oracle).
    Entry("q27_cosine_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") <= 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      functions.Similarity.bruteForceTopK(queries, emb, k = 10)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cos"), 4).as("cos_r"))
    },
      // the cosine is bitwise-identical across engines: both fold the
      // 64-dim double product sequentially (DuckDB list_dot_product ==
      // Spark aggregate(zip_with(...)) — verified on the full pair set)
      Some("""WITH e AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM embeddings),
         scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
           FROM e q JOIN e c ON c.vec_id <> q.vec_id WHERE q.vec_id <= 5)
         SELECT query_id, neighbor_id, round(cos, 4) AS cos_r FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id ASC) AS rn
           FROM scored) WHERE rn <= 10""")),

    // V2 — LSH-bucketed approximate top-k under the FULL DuckDB oracle:
    // portable md5 ±1 hyperplanes (Similarity.portableTables) let the
    // oracle replay signatures, H2 multi-probe expansion, the candidate
    // join and the exact re-rank — the approximate pipeline itself is
    // hash-checked, not just recall-floor-pinned.
    Entry("q28_ann_lsh_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") <= 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      functions.Similarity.annTopK(queries, emb, k = 10, dim = 64,
          tablesOverride = Some(functions.Similarity.portableTables(64, 8, 8)))
        .select(col("query_id"), col("neighbor_id"),
          round(col("cos"), 4).as("cos_r"))
    },
      // full replay of the approximate pipeline: md5 ±1 hyperplane tables
      // (the q113 sign idiom), sign-bit signatures, H<=2 multi-probe mask
      // expansion, candidate equi-join, exact-cosine re-rank — every bit
      // the Spark side computes, re-derived relationally
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         planes AS (
           SELECT t, j, list_transform(range(0, 64), i ->
             CASE WHEN (CAST('0x' || substring(md5('ann:' || t || ':' || j || ':' || i), 1, 1)
                        AS INTEGER) & 1) = 1
                  THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END) AS sv
           FROM range(0, 8) r(t), range(0, 8) s(j)),
         sigs AS (
           SELECT e.vec_id, p.t,
             CAST(sum(CASE WHEN list_dot_product(e.v, p.sv) > 0
                           THEN 1 << p.j ELSE 0 END) AS BIGINT) AS sig
           FROM e CROSS JOIN planes p GROUP BY e.vec_id, p.t),
         masks AS (
           SELECT 0 AS m
           UNION ALL SELECT 1 << j FROM range(0, 8) r(j)
           UNION ALL SELECT (1 << j) | (1 << l)
             FROM range(0, 8) r(j), range(0, 8) s(l) WHERE j < l),
         qprobe AS (
           SELECT s.vec_id AS query_id, s.t, xor(s.sig, CAST(m.m AS BIGINT)) AS sig
           FROM sigs s CROSS JOIN masks m WHERE s.vec_id <= 20),
         cand AS (
           SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
           FROM qprobe q JOIN sigs c ON c.t = q.t AND c.sig = q.sig
           WHERE c.vec_id <> q.query_id),
         scored AS (
           SELECT cand.query_id, cand.neighbor_id,
             list_dot_product(qe.v, ce.v)
               / (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ce.v, ce.v))) AS cos
           FROM cand
           JOIN e qe ON qe.vec_id = cand.query_id
           JOIN e ce ON ce.vec_id = cand.neighbor_id)
         SELECT query_id, neighbor_id, round(cos, 4) AS cos_r FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id ASC) AS rn
           FROM scored) WHERE rn <= 10""")),

    // T3 — heuristic language ID vs labeled lang (rows-only oracle).
    // tokens materialized once; langIdWith references them per profile.
    Entry("q29_langid_eval", (s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"), col("text"), TextFunctions.tokens(col("text")).as("__t"))
        .select(col("lang"), TextFunctions.langIdWith(col("__t"), col("text")).as("predicted"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
    },
      // SQL re-derivation of langIdWith: per-profile stopword ratios,
      // Spark's greatest-over-structs argmax (ties → larger lang string),
      // CJK-ratio gate. Upgraded from rows-only once the arithmetic proved
      // engine-portable.
      Some("""WITH toks AS (
           SELECT lang, text,
             list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS t
           FROM documents),
         scored AS (
           SELECT lang, text, t,
             CASE WHEN len(t)=0 THEN 0.0 ELSE cast(len(list_filter(t, x -> x IN
               ('the','of','and','to','in','is','that','it','for','on','with','as'))) AS DOUBLE)/len(t) END AS s_en,
             CASE WHEN len(t)=0 THEN 0.0 ELSE cast(len(list_filter(t, x -> x IN
               ('der','die','das','und','ist','nicht','mit','ein','zu','den','von','sich'))) AS DOUBLE)/len(t) END AS s_de,
             CASE WHEN len(t)=0 THEN 0.0 ELSE cast(len(list_filter(t, x -> x IN
               ('el','la','de','que','y','en','un','es','se','no','por','los'))) AS DOUBLE)/len(t) END AS s_es,
             CASE WHEN len(t)=0 THEN 0.0 ELSE cast(len(list_filter(t, x -> x IN
               ('le','la','de','et','les','des','un','une','est','dans','que','pour'))) AS DOUBLE)/len(t) END AS s_fr,
             CASE WHEN length(text)=0 THEN 0.0
                  ELSE cast(length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS DOUBLE)/length(text)
             END AS cjk
           FROM toks),
         best AS (
           SELECT lang,
             CASE WHEN cjk > 0.3 THEN 'zh'
                  WHEN greatest(s_en, s_de, s_es, s_fr) > 0.0 THEN
                    (SELECT max(x.l) FROM (VALUES (s_en,'en'),(s_de,'de'),(s_es,'es'),(s_fr,'fr')) x(s, l)
                     WHERE x.s = greatest(s_en, s_de, s_es, s_fr))
                  ELSE 'und' END AS predicted
           FROM scored)
         SELECT lang, predicted, count(*) AS n FROM best GROUP BY 1, 2""")),

    // T4 — document fingerprinting: whole-doc + winnowed shingle sketch
    // (rows-only oracle; xxhash64 is Spark-specific).
    // T6 — document fingerprints, oracle-checked via the PORTABLE
    // md5-prefix variant (DuckDB recomputes both values exactly); the
    // xxhash64 fingerprints remain the fast path, pinned by spec.
    Entry("q30_fingerprints", (s, dir) => {
      // tokens staged once; both fingerprints read the projection column
      // (shingles references its token arg ~n+2 times — inline tokens()
      // would re-run the interpreted lambda per reference)
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("__t"))
        .select(col("doc_id"),
          TextFunctions.docFingerprintPortableFromToks(col("__t")).as("fp_doc"),
          TextFunctions.minShingleFingerprintPortableFromToks(col("__t")).as("fp_shingle"))
    },
      // portable md5-prefix fingerprints: 15 hex chars → always-positive
      // BIGINT, recomputable in any dialect (the xxhash64 pair is the
      // Spark-only fast path, pinned by spec instead)
      Some("""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                      x -> x <> '') AS t
           FROM documents)
         SELECT doc_id,
           CAST(('0x' || substring(md5(array_to_string(t, ' ')), 1, 15)) AS BIGINT) AS fp_doc,
           list_min(list_transform(
             CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
                  ELSE list_transform(range(1, len(t)-3),
                         i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]) END,
             s -> CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT))) AS fp_shingle
         FROM toks""")),

    // T5 — composite quality score (rows-only oracle; float heuristic).
    Entry("q31_quality_scores", (s, dir) => {
      // tokens staged once (the score's sub-scores read the array from
      // several places — inline tokens() evaluated 6x per row before)
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          TextFunctions.tokens(col("text")).as("__t"))
        .select(col("doc_id"),
          round(TextFunctions.qualityScoreFromToks(col("__t"), col("text")), 4)
            .as("quality"))
    }, Some("""WITH toks AS (
           SELECT doc_id, text,
                  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                              x -> length(x) > 0) AS t,
                  CASE WHEN trim(text) = '' THEN 0
                       ELSE len(string_split_regex(trim(text), '\s+')) END AS ntok
           FROM documents),
         m AS (
           SELECT doc_id, text, ntok,
                  CASE WHEN len(t) = 0 THEN 0.0
                       ELSE cast(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t)
                  END AS mtl,
                  CASE WHEN length(text) = 0 THEN 0.0
                       ELSE cast(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
                            / length(text)
                  END AS punct,
                  CASE WHEN len(t) = 0 THEN 0.0
                       ELSE cast(len(list_filter(t, x -> x IN
                         ('the','of','and','to','in','is','that','it','for','on','with','as'))) AS DOUBLE)
                            / len(t)
                  END AS stopr
           FROM toks)
         SELECT doc_id,
                round((least(cast(ntok AS DOUBLE) / 20.0, 1.0)
                       + (CASE WHEN mtl BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
                       + (CASE WHEN punct < 0.2 THEN 1.0 ELSE 0.0 END)
                       + least(stopr * 5.0, 1.0)) / 4.0, 4) AS quality
         FROM m""")),

    // ST1 — event-time tumbling window agg (the batch form of the
    // streaming hourlyTypeCounts; identical plan modulo watermark).
    Entry("q32_hourly_events", (s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          col("event_type"), col("n"), col("value_cents"))
    }, Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
         event_type, count(*) AS n,
         cast(sum(cast(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events GROUP BY 1, 2""")),

    // ST2 — session windows over user activity (batch sessionization:
    // a gap of 60 min or more opens a new session).
    Entry("q33_session_windows", (s, dir) => {
      graft.streaming.EventsStream.sessionWindowsBatch(t(s, dir, "events"), gapMinutes = 60)
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("n_events"))
    },
      // lag + cumulative session ids; a gap of exactly 60 min splits (>=),
      // the same boundary rule as Sessionize
      Some("""WITH lagged AS (
           SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
           FROM events),
         sessions AS (
           SELECT user_id, ts,
                  sum(CASE WHEN prev IS NULL OR epoch(ts - prev) >= 3600 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
           FROM lagged)
         SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                count(*) AS n_events
         FROM sessions GROUP BY user_id, sid""")),

    // M1 — multimodal decode, REAL codec: animated GIFs are encoded and
    // then decoded with the JDK's javax.imageio (frame count via the GIF
    // reader), plus resize + frame-sample plan arithmetic. The fixture is
    // closed-form in doc_id, so the oracle re-derives every decoded value
    // in integer/IEEE arithmetic — a hash match proves the bytes went
    // through a real container parse, not a header echo.
    Entry("q34_multimodal_decode", (s, dir) => {
      val media = functions.Multimodal.syntheticImages(
        t(s, dir, "documents").select(col("doc_id")), "doc_id", "gif")(s)
      functions.Multimodal.decodeImageMeta(media)(s).toDF()
        .select(col("id"), col("width"), col("height"), col("nFrames"), col("channels"),
          functions.Multimodal.resizedDims(col("width"), col("height"), 48).as("resized"),
          size(functions.Multimodal.frameSampleIndices(col("nFrames"), 4))
            .cast("long").as("n_sampled"))
        .select(col("id").as("doc_id"), col("width"), col("height"),
          col("resized.width").as("rw"), col("resized.height").as("rh"),
          col("nFrames").cast("long").as("n_frames"), col("channels"), col("n_sampled"))
    },
      // the multimodal fixture is closed-form in doc_id (Multimodal fixture
      // arithmetic): the oracle recomputes dims, GIF frame count, resize
      // rounding, and frame-sample size without decoding anything — the
      // Spark side must produce identical values FROM THE DECODED BYTES.
      Some("""WITH dims AS (
           SELECT doc_id,
             CAST(16 + (doc_id*7919)%64 AS INTEGER) AS width,
             CAST(16 + (doc_id*104729)%64 AS INTEGER) AS height,
             1 + (doc_id*293)%8 AS nf
           FROM documents)
         SELECT doc_id, width, height,
           CAST(round(width * least(1.0, 48.0/greatest(width, height))) AS INTEGER) AS rw,
           CAST(round(height * least(1.0, 48.0/greatest(width, height))) AS INTEGER) AS rh,
           CAST(nf AS BIGINT) AS n_frames,
           CAST(1 AS INTEGER) AS channels,
           CAST(floor((nf - 1) / greatest(1.0, ceil(nf / 4.0))) + 1 AS BIGINT) AS n_sampled
         FROM dims"""), Media),

    // M2 — batched mapPartitions full-pixel decode (PNG via ImageIO):
    // exact per-channel integer sums over every pixel, oracle-checked
    // against the checkerboard closed form.
    Entry("q35_media_features", (s, dir) => {
      val media = functions.Multimodal.syntheticImages(
        t(s, dir, "documents").select(col("doc_id")), "doc_id", "png")(s)
      functions.Multimodal.extractImageStats(media)(s).toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"), col("channels"),
          col("sum_r"), col("sum_g"), col("sum_b"))
    },
      // exact per-channel pixel sums of the checkerboard PNG: n0 even cells
      // of colorA, the rest colorB — pure integer arithmetic; only a real
      // full-pixel decode on the Spark side reproduces these.
      Some("""WITH dims AS (
           SELECT doc_id,
             16 + (doc_id*7919)%64 AS w, 16 + (doc_id*104729)%64 AS h,
             (doc_id*131)%256 AS c0r, (doc_id*137)%256 AS c0g, (doc_id*139)%256 AS c0b,
             (doc_id*149)%256 AS c1r, (doc_id*151)%256 AS c1g, (doc_id*157)%256 AS c1b
           FROM documents),
         cnt AS (
           SELECT *, (w*h + (w%2)*(h%2)) // 2 AS n0,
                  w*h - ((w*h + (w%2)*(h%2)) // 2) AS n1
           FROM dims)
         SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           CAST(c0r*n0 + c1r*n1 AS BIGINT) AS sum_r,
           CAST(c0g*n0 + c1g*n1 AS BIGINT) AS sum_g,
           CAST(c0b*n0 + c1b*n1 AS BIGINT) AS sum_b
         FROM cnt"""), Media),

    // D+split — LEAKAGE AUDIT: near-dup pairs that STRADDLE the
    // deterministic train/val/test hash split — the "dedup before you
    // split" failure every eval pipeline must check for. Composes the
    // portable simhash candidate pairs with the content-hash split; the
    // oracle re-derives both and must find the identical pair set.
    Entry("q109_split_leakage", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"),
        TextFunctions.hashSplit(col("text")).as("split"))
      val pairs = functions.Dedup.simhashPairsPortable(docs, "text", "doc_id")
      val a = docs.select(col("doc_id").as("idA"), col("split").as("split_a"))
      val b = docs.select(col("doc_id").as("idB"), col("split").as("split_b"))
      pairs.join(a, Seq("idA")).join(b, Seq("idB"))
        .filter(col("split_a") =!= col("split_b"))
        .select(col("idA"), col("idB"), col("split_a"), col("split_b"), col("hamming"))
    },
      // q24's candidate CTEs + q53's split rule; the pair set must match
      Some("""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                      x -> x <> '') AS t
           FROM documents),
         th AS (SELECT doc_id,
                  list_transform(t, x -> CAST('0x'||substring(md5(x),1,15) AS BIGINT)) AS h,
                  len(t) AS n FROM toks),
         bits AS (SELECT doc_id, b,
                    CASE WHEN 2*len(list_filter(h, v -> (v >> b) & 1 = 1)) > n
                         THEN (CAST(1 AS BIGINT) << b) ELSE 0 END AS bit
                  FROM th, range(0, 60) r(b)),
         sims AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS sim FROM bits GROUP BY doc_id),
         blocks AS (SELECT doc_id, blk, (sim >> CAST(blk*15 AS INTEGER)) & 32767 AS bucket, sim
                    FROM sims, range(0, 4) r(blk)),
         pairs AS (SELECT DISTINCT a.doc_id AS idA, b.doc_id AS idB, a.sim AS simA, b.sim AS simB
                   FROM blocks a JOIN blocks b
                     ON a.blk = b.blk AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         cand AS (SELECT idA, idB, CAST(bit_count(xor(simA, simB)) AS INTEGER) AS hamming
                  FROM pairs WHERE bit_count(xor(simA, simB)) <= 3),
         sp AS (SELECT doc_id,
                  CASE WHEN text IS NULL THEN NULL
                       WHEN CAST(('0x'||substring(md5(text),1,8)) AS BIGINT) % 100 < 80 THEN 'train'
                       WHEN CAST(('0x'||substring(md5(text),1,8)) AS BIGINT) % 100 < 90 THEN 'val'
                       ELSE 'test' END AS split
                FROM documents)
         SELECT c.idA, c.idB, a.split AS split_a, b.split AS split_b, c.hamming
         FROM cand c JOIN sp a ON c.idA = a.doc_id JOIN sp b ON c.idB = b.doc_id
         WHERE a.split <> b.split""")),

    // T — per-language tokenizer compression rate (chars per merged BPE
    // token, centi-scaled integer): the fertility metric that decides
    // whether a tokenizer is economical for a language. Reuses the real
    // merge-table segmentation (q92) — one projection + one join + one
    // per-lang aggregate.
    Entry("q118_bpe_fertility", (s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = functions.Bpe.mergedTokensPerDoc(docs,
          col("doc_id"), col("text"), functions.Bpe.DefaultMerges)
        .select(col("id").as("doc_id"), col("n_tok"))
      docs.select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("nc"))
        .join(toks, Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(sum(col("nc")).as("sum_chars"), sum(col("n_tok")).as("sum_toks"))
        .withColumn("chars_per_tok_centi",
          when(col("sum_toks") === 0, lit(0L))
            .otherwise(expr("(100 * sum_chars) div sum_toks")))
        .select(col("lang"), col("sum_chars"), col("sum_toks"),
          col("chars_per_tok_centi"))
    },
      // q92's segmentation CTEs + one per-language aggregate
      Some(s"""WITH RECURSIVE $bpeCtes,
         j AS (
           SELECT d.lang, CAST(length(d.text) AS BIGINT) AS nc, b.n_tok
           FROM documents d JOIN bpe b USING (doc_id))
         SELECT lang, CAST(sum(nc) AS BIGINT) AS sum_chars,
           CAST(sum(n_tok) AS BIGINT) AS sum_toks,
           CAST(CASE WHEN sum(n_tok) = 0 THEN 0
                ELSE (100 * sum(nc)) // sum(n_tok) END AS BIGINT)
             AS chars_per_tok_centi
         FROM j GROUP BY 1""")),

    // T — TF-IDF keyword extraction, top-3 terms per document. Linear
    // idf (tf·N/df as one scaled integer division) instead of log-idf —
    // same ranking direction, exactly portable across engines (a float
    // log would hash-diverge at tie boundaries). Shape: two count
    // aggregates bounded by corpus token volume, one vocab join, one
    // per-doc window over terms-per-doc-sized partitions.
    Entry("q117_tfidf_keywords", (s, dir) => {
      val docs = t(s, dir, "documents")
      // explode_outer + null filter on every tokens() explode here on:
      // InferFiltersFromGenerate would re-tokenize per row otherwise
      // (see graft.util.Explode)
      val terms = docs.select(col("doc_id"),
          explode_outer(TextFunctions.tokens(col("text"))).as("term"))
        .filter(col("term").isNotNull)
      // tf feeds the document-frequency rollup AND the final join —
      // unpersisted, the tokenize+explode+count pipeline runs twice
      // (cross-branch audit); (doc, term, tf) is the standard inverted-
      // index relation, cached once here, a staging table at corpus scale
      val tf = terms.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("df_docs"))
      val tot = docs.agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("score_sc").desc, col("term").asc)
      tf.join(dfc, Seq("term")).crossJoin(broadcast(tot))
        .withColumn("score_sc", expr("(tf * 10000 * n_docs) div df_docs"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df_docs"),
          col("score_sc"), col("rk"))
    },
      // identical integer linear-idf arithmetic and (score, term) order
      Some("""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                      x -> x <> '') AS t
           FROM documents),
         terms AS (SELECT doc_id, unnest(t) AS term FROM toks),
         tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                FROM terms GROUP BY 1, 2),
         dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df_docs
                 FROM tf GROUP BY 1),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         sc AS (SELECT f.doc_id, f.term, f.tf, d.df_docs,
                  CAST((f.tf * 10000 * tot.n_docs) // d.df_docs AS BIGINT) AS score_sc
                FROM tf f JOIN dfc d USING (term) CROSS JOIN tot)
         SELECT doc_id, term, tf, df_docs, score_sc, CAST(rk AS INTEGER) AS rk
         FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY score_sc DESC, term ASC) AS rk FROM sc)
         WHERE rk <= 3""")),

    // T — corpus frequent terms via two-pass Misra-Gries: bounded-memory
    // per-partition candidate summaries + exact recount of candidates
    // only. Output is bit-identical to the full groupBy (the oracle IS
    // the full groupBy) while shuffling O(capacity·partitions) keys
    // instead of the vocabulary — the 100 TB form of corpus statistics.
    Entry("q110_heavy_hitters", (s, dir) => {
      functions.HeavyHitters.heavyTerms(
        t(s, dir, "documents"), col("text"), num = 1, den = 100)
    },
      // the oracle IS the full exact groupBy the two-pass scheme avoids;
      // integer-exact threshold (cnt*100 > n*1) on both sides
      Some("""WITH toks AS (
           SELECT unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                     x -> x <> '')) AS term
           FROM documents),
         tot AS (SELECT count(*) AS n FROM toks)
         SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM toks
         GROUP BY term HAVING count(*) * 100 > (SELECT n FROM tot) * 1""")),

    // T — CCNet-style per-language perplexity tiers: head/middle/tail
    // terciles of the exact-integer bigram-LM typicality score, assigned
    // by the GROUPED scalable ntile (no per-language global sort — one
    // dominant language cannot serialize the window). Deterministic
    // total order via (score desc, doc_id asc); oracle replays the LM
    // and a plain NTILE window, which the grouped form must match bit
    // for bit.
    Entry("q111_perplexity_buckets", (s, dir) => {
      val docs = t(s, dir, "documents")
      // ntile makes multiple passes over its input — checkpoint the
      // skinny score table once (the q204 labeling pattern) so the
      // bigram-LM corpus pipeline doesn't re-run per pass
      val scored = TextFunctions.bigramLmScore(docs, col("doc_id"), col("text"))
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .withColumn("mean_ppm",
          when(col("n_bi") === 0, lit(0L)).otherwise(expr("sum_p div n_bi")))
        .localCheckpoint(true)
      operators.ScalableNtile
        .ntileByRangeGrouped(scored, 3, -col("mean_ppm"), col("lang"), Seq(col("doc_id")))
        .select(col("doc_id"), col("lang"), col("mean_ppm"),
          col("__graft_ntile").as("bucket"),
          when(col("__graft_ntile") === 1, lit("head"))
            .when(col("__graft_ntile") === 2, lit("middle"))
            .otherwise(lit("tail")).as("tier"))
    },
      // q96's LM CTEs + a plain NTILE window the grouped scalable ntile
      // must match exactly
      Some("""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                      x -> x <> '') AS t
           FROM documents),
         uni AS (
           SELECT w, CAST(count(*) AS BIGINT) AS cu
           FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
         big AS (
           SELECT doc_id, unnest(list_transform(range(1, len(t)),
             i -> t[i] || ' ' || t[i+1])) AS bg
           FROM toks WHERE len(t) >= 2),
         bgc AS (SELECT bg, CAST(count(*) AS BIGINT) AS cb FROM big GROUP BY 1),
         scored AS (
           SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bi,
             CAST(sum((1000000 * c.cb) // u.cu) AS BIGINT) AS sum_p
           FROM big b
           JOIN bgc c USING (bg)
           JOIN uni u ON u.w = string_split(b.bg, ' ')[1]
           GROUP BY 1),
         m AS (
           SELECT d.doc_id, d.lang,
             CAST(CASE WHEN COALESCE(s.n_bi, 0) = 0 THEN 0
                       ELSE s.sum_p // s.n_bi END AS BIGINT) AS mean_ppm
           FROM documents d LEFT JOIN scored s USING (doc_id)),
         tiered AS (
           SELECT doc_id, lang, mean_ppm,
             CAST(ntile(3) OVER (PARTITION BY lang
               ORDER BY mean_ppm DESC, doc_id ASC) AS INTEGER) AS bucket
           FROM m)
         SELECT doc_id, lang, mean_ppm, bucket,
           CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS tier
         FROM tiered""")),

    // V — signed (Rademacher) random projection 64→16 dims: JL-style
    // embedding compression as a zero-shuffle per-row map against an
    // md5-derived literal sign matrix both engines regenerate
    // identically. Each coordinate is one codegen'd DotProduct with
    // list_dot_product's IEEE fold order; rounded to 4dp like q27.
    Entry("q113_signed_projection", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      e.select(col("vec_id"),
          posexplode(functions.Similarity.signedProjection(col("v"), 64, 16)))
        .select(col("vec_id"), col("pos").cast("int").as("j"),
          round(col("col"), 4).as("out_r"))
    },
      // identical md5 sign derivation + identical IEEE dot-product fold
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         s AS (SELECT j, list_transform(range(0, 64), i ->
                 CASE WHEN (CAST('0x' || substring(md5('rp:' || j || ':' || i), 1, 1)
                            AS INTEGER) & 1) = 1
                      THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END) AS sv
               FROM range(0, 16) r(j))
         SELECT e.vec_id, CAST(s.j AS INTEGER) AS j,
           round(list_dot_product(e.v, s.sv), 4) AS out_r
         FROM e CROSS JOIN s""")),

    // K — stats-pruned partial-rewrite MERGE (Delta-style batch upsert):
    // a key-clustered tx table takes an update+insert batch; only files
    // whose key range overlaps the batch are rewritten (REQUIREd below —
    // at least one clustered file must survive untouched). The final
    // table must equal the oracle's re-derived merge: updates win over
    // base rows, inserts land, everything else unchanged.
    Entry("q115_tx_merge", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-q115").toString
      val tbl = s"$tmp/tx/customers"
      val base = t(s, dir, "customer")
        .select(col("c_custkey"),
          round(col("c_acctbal") * 100).cast("long").as("bal_cents"),
          lit(0L).as("ver"))
      graft.sink.TxTable.append(s,
        base.repartitionByRange(4, col("c_custkey")), tbl,
        statsCols = Seq("c_custkey"))
      // updates: a range-local band (keys ≤ 300, every 3rd) gets
      // +100000 cents at ver 1 — lands in the low clustered file(s)
      // only; inserts re-key past the whole base range, so they overlap
      // NO file (the per-file touch set must not balloon from them)
      val upd = base.filter(col("c_custkey") <= 300 && col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), (col("bal_cents") + 100000L).as("bal_cents"),
          lit(1L).as("ver"))
      val ins = base.filter(col("c_custkey") % 100 === 3)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          col("bal_cents"), lit(1L).as("ver"))
      val filesBefore = graft.sink.TxTable.currentFiles(s, tbl).toSet
      graft.sink.TxTable.merge(s, upd.unionByName(ins), tbl,
        key = "c_custkey", orderCols = Seq("ver"))
      val survivors = graft.sink.TxTable.currentFiles(s, tbl).toSet
        .intersect(filesBefore)
      // tripwire calibrated for the gate scale (sf >= 0.01): at toy sf
      // the update band spans every clustered file and pruning is vacuous
      if (base.agg(max(col("c_custkey"))).head().getLong(0) > 400)
        require(survivors.nonEmpty,
          s"merge must leave non-overlapping clustered files untouched " +
            s"(rewrote all ${filesBefore.size})")
      val out = graft.sink.TxTable.read(s, tbl)
        .select(col("c_custkey"), col("bal_cents"), col("ver"))
        .collect() // materialize before the fixture dir is dropped
      dropStaged(java.nio.file.Paths.get(tmp))
      import s.implicits._
      out.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toDF("c_custkey", "bal_cents", "ver")
    },
      // the merge re-derived relationally: updates replace matched base
      // rows, inserts append, everything else unchanged
      Some("""WITH base AS (
           SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
             CAST(0 AS BIGINT) AS ver
           FROM customer),
         upd AS (
           SELECT c_custkey, bal_cents + 100000 AS bal_cents, CAST(1 AS BIGINT) AS ver
           FROM base WHERE c_custkey <= 300 AND c_custkey % 3 = 0),
         ins AS (
           SELECT c_custkey + 1000000 AS c_custkey, bal_cents, CAST(1 AS BIGINT) AS ver
           FROM base WHERE c_custkey % 100 = 3)
         SELECT b.c_custkey,
           COALESCE(u.bal_cents, b.bal_cents) AS bal_cents,
           COALESCE(u.ver, b.ver) AS ver
         FROM base b LEFT JOIN upd u USING (c_custkey)
         UNION ALL
         SELECT c_custkey, bal_cents, ver FROM ins"""), Fixture),

    // K — stats-pruned key DELETE (GDPR erasure): a range-local delete
    // set (plus far keys that exist nowhere) must rewrite only the
    // overlapping clustered files (REQUIREd) and remove exactly the
    // matching rows; the oracle is a plain anti-join.
    Entry("q116_tx_delete", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-q116").toString
      val tbl = s"$tmp/tx/customers"
      val base = t(s, dir, "customer")
        .select(col("c_custkey"),
          round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      graft.sink.TxTable.append(s,
        base.repartitionByRange(4, col("c_custkey")), tbl,
        statsCols = Seq("c_custkey"))
      val delKeys = base.filter(col("c_custkey") <= 200 && col("c_custkey") % 2 === 0)
        .select(col("c_custkey"))
        .unionByName(base.limit(5)
          .select((col("c_custkey") + 9000000L).as("c_custkey")))
      val filesBefore = graft.sink.TxTable.currentFiles(s, tbl).toSet
      graft.sink.TxTable.delete(s, delKeys, tbl, key = "c_custkey")
      val survivors = graft.sink.TxTable.currentFiles(s, tbl).toSet
        .intersect(filesBefore)
      if (base.agg(max(col("c_custkey"))).head().getLong(0) > 400)
        require(survivors.nonEmpty,
          s"delete must leave non-overlapping clustered files untouched " +
            s"(rewrote all ${filesBefore.size})")
      val out = graft.sink.TxTable.read(s, tbl)
        .select(col("c_custkey"), col("bal_cents"))
        .collect()
      dropStaged(java.nio.file.Paths.get(tmp))
      import s.implicits._
      out.toSeq.map(r => (r.getLong(0), r.getLong(1)))
        .toDF("c_custkey", "bal_cents")
    },
      // the delete re-derived as a plain anti-join on the same key rule
      Some("""SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
         FROM customer
         WHERE NOT (c_custkey <= 200 AND c_custkey % 2 = 0)"""), Fixture),

    // K — change-data-feed over the tx log (the Delta CDF shape): the
    // NET row changes across a merge, a delete AND a full compaction,
    // derived from the file-level version diff with exceptAll
    // cancellation. The compaction is the point: it rewrites every
    // file (REQUIREd), yet must contribute ZERO rows to the feed —
    // rewritten-unchanged rows cancel in the multiset difference, so a
    // downstream incremental consumer sees updates as old-image delete
    // + new-image insert and nothing else. Pre-compaction the feed's
    // read is bounded by the touched files (REQUIREd: the merge/delete
    // version diff leaves clustered survivors unread).
    Entry("q119_tx_changes", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-q119").toString
      val tbl = s"$tmp/tx/customers"
      val base = t(s, dir, "customer")
        .select(col("c_custkey"),
          round(col("c_acctbal") * 100).cast("long").as("bal_cents"),
          lit(0L).as("ver"))
      graft.sink.TxTable.append(s,                                 // v1
        base.repartitionByRange(4, col("c_custkey")), tbl,
        statsCols = Seq("c_custkey"))
      val upd = base.filter(col("c_custkey") <= 300 && col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), (col("bal_cents") + 100000L).as("bal_cents"),
          lit(1L).as("ver"))
      val ins = base.filter(col("c_custkey") % 100 === 3)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          col("bal_cents"), lit(1L).as("ver"))
      graft.sink.TxTable.merge(s, upd.unionByName(ins), tbl,      // v2
        key = "c_custkey", orderCols = Seq("ver"))
      val delKeys = base.filter(col("c_custkey") <= 200 && col("c_custkey") % 2 === 0)
        .select(col("c_custkey"))
      graft.sink.TxTable.delete(s, delKeys, tbl, key = "c_custkey") // v3
      // pre-compaction, the feed plans against ONLY the touched files
      val all1 = graft.sink.TxTable.filesAt(s, tbl, 1L).toSet
      val (addF, remF) = graft.sink.TxTable.changedFiles(s, tbl, 1L, 3L)
      // tripwire calibrated for the gate scale (sf >= 0.01) — see q115
      if (base.agg(max(col("c_custkey"))).head().getLong(0) > 400)
        require(remF.toSet.subsetOf(all1) && remF.size < all1.size,
          s"feed must read a bounded file diff, not the table " +
            s"(removed ${remF.size} of ${all1.size})")
      graft.sink.TxTable.compact(s, tbl,                          // v4
        targetRowsPerFile = 1000L, clusterBy = Some("c_custkey"))
      val (addC, remC) = graft.sink.TxTable.changedFiles(s, tbl, 3L, 4L)
      require(addC.nonEmpty && remC.nonEmpty, "compact must rewrite files")
      val out = graft.sink.TxTable.readChanges(s, tbl, 1L, 4L)
        .select(col("c_custkey"), col("bal_cents"), col("ver"),
          col("_change_type").as("change_type"))
        .collect() // materialize before the fixture dir is dropped
      dropStaged(java.nio.file.Paths.get(tmp))
      import s.implicits._
      out.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toDF("c_custkey", "bal_cents", "ver", "change_type")
    },
      // the change feed re-derived relationally: state at v1 and at head
      // rebuilt from the same deterministic slices, then EXCEPT ALL in
      // both directions — exactly the multiset cancellation the file-diff
      // feed performs (the compaction between them must contribute nothing)
      Some("""WITH base AS (
           SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
             CAST(0 AS BIGINT) AS ver
           FROM customer),
         upd AS (
           SELECT c_custkey, bal_cents + 100000 AS bal_cents, CAST(1 AS BIGINT) AS ver
           FROM base WHERE c_custkey <= 300 AND c_custkey % 3 = 0),
         ins AS (
           SELECT c_custkey + 1000000 AS c_custkey, bal_cents, CAST(1 AS BIGINT) AS ver
           FROM base WHERE c_custkey % 100 = 3),
         merged AS (
           SELECT b.c_custkey,
             COALESCE(u.bal_cents, b.bal_cents) AS bal_cents,
             COALESCE(u.ver, b.ver) AS ver
           FROM base b LEFT JOIN upd u USING (c_custkey)
           UNION ALL
           SELECT c_custkey, bal_cents, ver FROM ins),
         head AS (
           SELECT * FROM merged
           WHERE NOT (c_custkey <= 200 AND c_custkey % 2 = 0))
         SELECT c_custkey, bal_cents, ver, 'insert' AS change_type
         FROM (SELECT * FROM head EXCEPT ALL SELECT * FROM base)
         UNION ALL
         SELECT c_custkey, bal_cents, ver, 'delete' AS change_type
         FROM (SELECT * FROM base EXCEPT ALL SELECT * FROM head)"""), Fixture),

    // K — incremental view maintenance over the change feed: a derived
    // per-nation (count, sum) table is bootstrapped at v1, the base then
    // takes a merge, a delete AND a full compaction, and the derived
    // table is refreshed from ONLY the changed files (REQUIREd: the
    // pre-compaction diff leaves clustered survivors unread) — never by
    // rescanning the base. The oracle recomputes the aggregate from the
    // relationally re-derived head state, so refresh == recompute is
    // hash-checked group by group.
    Entry("q120_incremental_view", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-q120").toString
      val tbl = s"$tmp/tx/customers"
      val base = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("nation"),
          round(col("c_acctbal") * 100).cast("long").as("bal_cents"),
          lit(0L).as("ver"))
      graft.sink.TxTable.append(s,                                 // v1
        base.repartitionByRange(4, col("c_custkey")), tbl,
        statsCols = Seq("c_custkey"))
      val derived = graft.operators.IncrementalView.compute(
        graft.sink.TxTable.readAt(s, tbl, 1L), Seq("nation"), Seq("bal_cents"))
      val upd = base.filter(col("c_custkey") <= 300 && col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), col("nation"),
          (col("bal_cents") + 100000L).as("bal_cents"), lit(1L).as("ver"))
      val ins = base.filter(col("c_custkey") % 100 === 3)
        .select((col("c_custkey") + 1000000L).as("c_custkey"), col("nation"),
          col("bal_cents"), lit(1L).as("ver"))
      graft.sink.TxTable.merge(s, upd.unionByName(ins), tbl,      // v2
        key = "c_custkey", orderCols = Seq("ver"))
      val delKeys = base.filter(col("c_custkey") <= 200 && col("c_custkey") % 2 === 0)
        .select(col("c_custkey"))
      graft.sink.TxTable.delete(s, delKeys, tbl, key = "c_custkey") // v3
      val all1 = graft.sink.TxTable.filesAt(s, tbl, 1L).toSet
      val (_, remF) = graft.sink.TxTable.changedFiles(s, tbl, 1L, 3L)
      if (base.agg(max(col("c_custkey"))).head().getLong(0) > 400)
        require(remF.toSet.subsetOf(all1) && remF.size < all1.size,
          s"refresh must read a bounded file diff, not the table " +
            s"(removed ${remF.size} of ${all1.size})")
      graft.sink.TxTable.compact(s, tbl,                          // v4
        targetRowsPerFile = 1000L, clusterBy = Some("c_custkey"))
      val out = graft.operators.IncrementalView.refresh(s, tbl, derived,
        1L, 4L, Seq("nation"), Seq("bal_cents"))
        .collect() // materialize before the fixture dir is dropped
      dropStaged(java.nio.file.Paths.get(tmp))
      import s.implicits._
      out.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toDF("nation", "n_rows", "bal_cents")
    },
      // incremental refresh == full recompute: the head state re-derived
      // relationally (q119's slices, plus the nation grouping column),
      // then the aggregate the view maintains
      Some("""WITH base AS (
           SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nation,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
             CAST(0 AS BIGINT) AS ver
           FROM customer),
         upd AS (
           SELECT c_custkey, nation, bal_cents + 100000 AS bal_cents,
             CAST(1 AS BIGINT) AS ver
           FROM base WHERE c_custkey <= 300 AND c_custkey % 3 = 0),
         ins AS (
           SELECT c_custkey + 1000000 AS c_custkey, nation, bal_cents,
             CAST(1 AS BIGINT) AS ver
           FROM base WHERE c_custkey % 100 = 3),
         merged AS (
           SELECT b.c_custkey, b.nation,
             COALESCE(u.bal_cents, b.bal_cents) AS bal_cents,
             COALESCE(u.ver, b.ver) AS ver
           FROM base b LEFT JOIN upd u USING (c_custkey)
           UNION ALL
           SELECT c_custkey, nation, bal_cents, ver FROM ins),
         head AS (
           SELECT * FROM merged
           WHERE NOT (c_custkey <= 200 AND c_custkey % 2 = 0))
         SELECT nation, count(*) AS n_rows,
           CAST(sum(bal_cents) AS BIGINT) AS bal_cents
         FROM head GROUP BY nation"""), Fixture),

    // K — idempotent writer transactions (the Delta `txn` action): every
    // batch lands under (appId, writerVersion), and every RETRY of an
    // already-landed batch is REQUIREd to skip — the sink half of
    // exactly-once for restarted loaders. The oracle aggregates the two
    // batches exactly once each: any double-append (retry landing) or
    // lost append (skip misfiring) breaks the hash.
    Entry("q121_idempotent_append", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-q121").toString
      val tbl = s"$tmp/tx/orders"
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val batch1 = orders.filter(col("o_orderkey") % 5 === 0)
      val batch2 = orders.filter(col("o_orderkey") % 5 === 1)
      require(graft.sink.TxTable.appendOnce(s, batch1, tbl, "loader", 1L).isDefined,
        "first landing of batch 1 must commit")
      require(graft.sink.TxTable.appendOnce(s, batch1, tbl, "loader", 1L).isEmpty,
        "retry of batch 1 must skip")
      require(graft.sink.TxTable.appendOnce(s, batch2, tbl, "loader", 2L).isDefined,
        "first landing of batch 2 must commit")
      require(graft.sink.TxTable.appendOnce(s, batch2, tbl, "loader", 2L).isEmpty,
        "retry of batch 2 must skip")
      require(graft.sink.TxTable.appendOnce(s, batch1, tbl, "loader", 1L).isEmpty,
        "stale replay after later progress must skip")
      require(graft.sink.TxTable.txnVersion(s, tbl, "loader").contains(2L),
        "resume point must be the latest landed writer version")
      val out = graft.sink.TxTable.read(s, tbl)
        .groupBy((col("o_orderkey") % 5).as("batch"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents"))
        .collect() // materialize before the fixture dir is dropped
      dropStaged(java.nio.file.Paths.get(tmp))
      import s.implicits._
      out.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toDF("batch", "n_orders", "cents")
    },
      // each batch exactly once, despite the retries the Spark side replays
      Some("""SELECT o_orderkey % 5 AS batch, count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders WHERE o_orderkey % 5 IN (0, 1)
         GROUP BY o_orderkey % 5"""), Fixture),

    // T — per-language corpus length percentiles (curation diagnostics:
    // where to set min/max length cuts per language) via exact grouped
    // PERCENTILE_DISC with NO per-group global sort — rank selection
    // over a coarse histogram, so a dominant language costs N_g/coarse
    // per sort task, not N_g. Ranks are exact integer arithmetic
    // (basis points, `div`), which is what lets DuckDB replay the
    // selection bit-for-bit.
    Entry("q122_length_percentiles", (s, dir) => {
      graft.operators.GroupedPercentiles.percentilesByRange(
          t(s, dir, "documents"), col("n_chars"), col("lang"),
          Seq(1000, 2500, 5000, 7500, 9900, 10000), coarse = 64)
        .select(col("g").as("lang"), col("p_bp"), col("v").as("n_chars"))
    },
      // PERCENTILE_DISC re-derived by rank: the smallest value whose
      // ascending rank reaches max(1, ceil(p·n)) — same integer basis-point
      // arithmetic as the Spark side ('//' is DuckDB's integer division)
      Some("""WITH ranked AS (
           SELECT lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
             count(*) OVER (PARTITION BY lang) AS tot
           FROM documents WHERE n_chars IS NOT NULL),
         ps(p_bp) AS (VALUES (1000), (2500), (5000), (7500), (9900), (10000))
         SELECT lang, p_bp, n_chars
         FROM ranked JOIN ps
           ON rn = GREATEST(1, (CAST(p_bp AS BIGINT) * tot + 9999) // 10000)""")),

    // D — duplicate-span REMOVAL (ExactSubstr scrub): q97 finds the
    // duplicated passages; this emits the REWRITTEN corpus with every
    // occurrence cut — the text a training run would actually consume.
    // The oracle replays span detection AND the token-level rewrite, so
    // the full cleaned text of every document is hash-matched.
    Entry("q123_scrub_dup_spans", (s, dir) =>
      graft.functions.Dedup.scrubDuplicateSpans(
        t(s, dir, "documents"), "text", "doc_id", k = 8, minCount = 2),
      // q97's span CTEs + the rewrite: tokens outside every span survive,
      // rejoined with single spaces (the documented normalization)
      Some("""WITH w AS (SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS ws FROM documents),
         g AS (SELECT doc_id, i AS pos,
                 CAST('0x'||substring(md5(array_to_string(ws[i+1:i+8], ' ')),1,15) AS BIGINT) AS gh
               FROM w, unnest(range(0, len(ws) - 7)) AS t(i) WHERE len(ws) >= 8),
         dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
         m AS (SELECT doc_id, pos FROM g WHERE gh IN (SELECT gh FROM dup)),
         isl AS (SELECT doc_id, pos,
                 CASE WHEN pos > coalesce(max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                      THEN 1 ELSE 0 END AS nw FROM m),
         i2 AS (SELECT doc_id, pos, sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl),
         sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e FROM i2 GROUP BY doc_id, island),
         keep AS (SELECT w.doc_id, i, ws[i] AS tok
                  FROM w, unnest(range(1, len(ws) + 1)) AS t(i)
                  WHERE NOT EXISTS (SELECT 1 FROM sp
                    WHERE sp.doc_id = w.doc_id AND i - 1 >= sp.s AND i - 1 < sp.e)),
         agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text
                 FROM keep GROUP BY doc_id)
         SELECT w.doc_id, coalesce(agg.text, '') AS text
         FROM w LEFT JOIN agg USING (doc_id)""")),

    // ST — streaming exactly-once ingestion + incrementally maintained
    // aggregate, end to end: two micro-batches land in a base TxTable
    // under writer-txn idempotence (batch 0 is REPLAYED mid-stream via a
    // direct appendOnce and REQUIREd to skip), and the per-user derived
    // table advances from the base's change feed — never a base rescan.
    // Oracle: the derived table must equal the plain aggregate over all
    // events, which any double-append or missed refresh breaks.
    Entry("q125_stream_ivm", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-q125").toString
      val staging = s"$tmp/staging"
      val base = s"$tmp/base"
      val derived = s"$tmp/derived"
      val events = t(s, dir, "events")
        .select(col("user_id"),
          round(col("value") * 100).cast("long").as("val_cents"))
      val mid = events.agg(max(col("user_id"))).head().getLong(0) / 2
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(staging))
      val halves = Seq(events.filter(col("user_id") <= mid),
        events.filter(col("user_id") > mid))
      halves.zipWithIndex.foreach { case (half, i) =>
        val part = s"$tmp/part$i"
        half.coalesce(1).write.parquet(part)
        val src = new java.io.File(part).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(src.toPath,
          java.nio.file.Paths.get(s"$staging/batch-$i.parquet"))
      }
      graft.streaming.EventsStream.runStreamingIvmTx(s, staging,
        halves.head.schema, base, derived, Seq("user_id"), Seq("val_cents"))
      // the crash-replay case, explicitly: batch 0 again, same writer id
      require(graft.sink.TxTable.appendOnce(s, halves.head, base,
        "ivm-stream", 0L).isEmpty, "replayed micro-batch must skip")
      require(graft.sink.TxTable.headVersion(s, base) == 2L,
        "exactly one commit per micro-batch")
      val out = graft.sink.TxTable.read(s, derived)
        .select(col("user_id"), col("n_rows"), col("val_cents")).collect()
      dropStaged(java.nio.file.Paths.get(tmp))
      import s.implicits._
      out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        .toDF("user_id", "n_events", "cents")
    },
      // the maintained derived table must equal the plain aggregate
      Some("""SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM events GROUP BY user_id"""), Fixture),

    // K — join-view IVM: a per-nation revenue view over facts ⋈ dim is
    // maintained while BOTH tables change — facts take an append and a
    // key-slice delete, the dim takes a nation reassignment (merge) and
    // a customer erasure — via the delta rule Δ(R⋈S) = ΔR⋈S_new ⊎
    // R_old⋈ΔS. The one historical-fact term is REQUIREd to open only
    // the files whose committed cust range overlaps the changed dim
    // keys (stats-pruned time travel), and the fact CDF is REQUIREd to
    // read a bounded file diff. Oracle recomputes the view from both
    // head states re-derived relationally.
    Entry("q126_join_ivm", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-q126").toString
      val rTbl = s"$tmp/tx/orderfacts"
      val sTbl = s"$tmp/tx/custdim"
      val rBase = t(s, dir, "orders")
        .select(col("o_custkey").as("cust"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val sBase = t(s, dir, "customer")
        .select(col("c_custkey").as("cust"),
          col("c_nationkey").cast("long").as("nation"), lit(0L).as("ver"))
      graft.sink.TxTable.append(s,                                  // R v1
        rBase.repartitionByRange(8, col("cust")), rTbl,
        statsCols = Seq("cust"))
      graft.sink.TxTable.append(s, sBase, sTbl)                     // S v1
      val derived = graft.operators.IncrementalView.computeJoin(
        graft.sink.TxTable.readAt(s, rTbl, 1L),
        graft.sink.TxTable.readAt(s, sTbl, 1L),
        "cust", Seq("nation"), Seq("cents"), cntCol = "n_orders")
      val rIns = t(s, dir, "orders").filter(col("o_orderkey") % 97 === 0)
        .select(col("o_custkey").as("cust"), lit(424200L).as("cents"))
      graft.sink.TxTable.append(s, rIns, rTbl)                      // R v2
      val rDel = rBase.filter(col("cust") <= 120).select(col("cust"))
      graft.sink.TxTable.delete(s, rDel, rTbl, key = "cust")        // R v3
      val sUpd = sBase.filter(col("cust").between(200, 260))
        .select(col("cust"), (col("nation") + 100L).as("nation"),
          lit(1L).as("ver"))
      graft.sink.TxTable.merge(s, sUpd, sTbl,                       // S v2
        key = "cust", orderCols = Seq("ver"))
      val sDel = sBase.filter(col("cust").between(300, 330)).select(col("cust"))
      graft.sink.TxTable.delete(s, sDel, sTbl, key = "cust")        // S v3
      // the fact CDF plans against a bounded file diff...
      val all1 = graft.sink.TxTable.filesAt(s, rTbl, 1L).toSet
      val (_, remF) = graft.sink.TxTable.changedFiles(s, rTbl, 1L, 3L)
      val scalePinned = sBase.agg(max(col("cust"))).head().getLong(0) > 400
      if (scalePinned)
        require(remF.toSet.subsetOf(all1) && remF.size < all1.size,
          s"fact feed must read a bounded file diff (removed ${remF.size} " +
            s"of ${all1.size})")
      // ...and the R_old ⋈ ΔS term opens only the changed dim keys' files
      // fold to the ACTUAL heads: at toy sf the dim's merge/delete
      // batches can be empty (no commit lands), so hardcoded version
      // literals would overshoot the log
      val rHead = graft.sink.TxTable.headVersion(s, rTbl)
      val sHead = graft.sink.TxTable.headVersion(s, sTbl)
      // feeds computed ONCE and shared between the pruning audit below
      // and the refresh fold (r14 — the audit and refreshJoin each
      // re-ran the dim CDF's exceptAll cancellation; profiled as the
      // gate's dominant repeated jobs). refreshJoinFrom folds exactly
      // the relations the requires audited; output unchanged
      // (oracle-pinned).
      val changesS = graft.sink.TxTable.readChanges(s, sTbl, 1L, sHead)
        .localCheckpoint(true)
      val changesR = graft.sink.TxTable.readChanges(s, rTbl, 1L, rHead)
      val rOldSlice =
        if (changesS.isEmpty)
          changesR.drop("_change_type").limit(0)
        else graft.sink.TxTable.readAtOverlapping(
          s, rTbl, 1L, "cust", changesS.select(col("cust")))
      if (scalePinned)
        require(rOldSlice.inputFiles.length < all1.size,
          s"historical fact read must be stats-pruned " +
            s"(${rOldSlice.inputFiles.length} of ${all1.size} files)")
      val out = graft.operators.IncrementalView.refreshJoinFrom(
          changesR, changesS, graft.sink.TxTable.readAt(s, sTbl, sHead),
          rOldSlice, derived.select("nation", "n_orders", "cents"),
          "cust", Seq("nation"), Seq("cents"), cntCol = "n_orders")
        .collect() // materialize before the fixture dir is dropped
      dropStaged(java.nio.file.Paths.get(tmp))
      import s.implicits._
      out.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toDF("nation", "n_orders", "cents")
    },
      // incremental join-view refresh == full recompute over both head
      // states re-derived relationally: facts gain the %97 insert slice
      // and lose cust <= 120; the dim reassigns nations in [200, 260]
      // (+100) and erases custs in [300, 330]
      Some("""WITH rhead AS (
           SELECT * FROM (
             SELECT o_custkey AS cust,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
             FROM orders
             UNION ALL
             SELECT o_custkey AS cust, CAST(424200 AS BIGINT) AS cents
             FROM orders WHERE o_orderkey % 97 = 0)
           WHERE cust > 120),
         shead AS (
           SELECT c_custkey AS cust,
             CASE WHEN c_custkey BETWEEN 200 AND 260
               THEN CAST(c_nationkey AS BIGINT) + 100
               ELSE CAST(c_nationkey AS BIGINT) END AS nation
           FROM customer
           WHERE c_custkey NOT BETWEEN 300 AND 330)
         SELECT nation, count(*) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS cents
         FROM rhead JOIN shead USING (cust)
         GROUP BY nation"""), Fixture),

    // T — per-language winsorized length stats: clamp each document's
    // length into its language's [p1, p99] band (q122's sort-free exact
    // percentiles, broadcast back) before aggregating — the outlier-
    // robust form of corpus length accounting, where one megadoc no
    // longer owns the mean. Oracle re-derives cuts, clamp and aggregate.
    Entry("q124_winsorized_lengths", (s, dir) => {
      graft.operators.GroupedPercentiles.winsorize(
          t(s, dir, "documents"), col("n_chars"), col("lang"),
          loBp = 100, hiBp = 9900, clampCol = "nc_w", coarse = 64)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nc_w")).as("sum_clamped"),
          min(col("nc_w")).as("min_clamped"), max(col("nc_w")).as("max_clamped"))
    },
      // q122's rank selection for the p1/p99 cuts, then clamp + aggregate
      Some("""WITH ranked AS (
           SELECT lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
             count(*) OVER (PARTITION BY lang) AS tot
           FROM documents WHERE n_chars IS NOT NULL),
         ps(p_bp) AS (VALUES (100), (9900)),
         sel AS (
           SELECT lang, p_bp, n_chars
           FROM ranked JOIN ps
             ON rn = GREATEST(1, (CAST(p_bp AS BIGINT) * tot + 9999) // 10000)),
         b AS (
           SELECT lang,
             min(CASE WHEN p_bp = 100 THEN n_chars END) AS lo,
             min(CASE WHEN p_bp = 9900 THEN n_chars END) AS hi
           FROM sel GROUP BY lang)
         SELECT d.lang, count(*) AS n_docs,
           CAST(sum(GREATEST(b.lo, LEAST(b.hi, d.n_chars))) AS BIGINT) AS sum_clamped,
           min(GREATEST(b.lo, LEAST(b.hi, d.n_chars))) AS min_clamped,
           max(GREATEST(b.lo, LEAST(b.hi, d.n_chars))) AS max_clamped
         FROM documents d JOIN b USING (lang) GROUP BY d.lang""")),

    // T — per-language MAD outlier profile: robust length-anomaly
    // flagging by |x − median| > 3·MAD, both medians exact integer
    // PERCENTILE_DISC via the sort-free rank selection (q122's
    // machinery, applied twice) — the robust filter a z-score can't be,
    // since a megadoc inflates stddev enough to hide itself but cannot
    // move a median. Oracle re-derives both medians with the identical
    // rank formula and recomputes the flags.
    Entry("q127_mad_outliers", (s, dir) => {
      graft.operators.GroupedPercentiles.madOutliers(
          t(s, dir, "documents").filter(col("n_chars").isNotNull)
            .select(col("doc_id"), col("lang"), col("n_chars")),
          col("n_chars"), col("lang"), k = 3,
          medCol = "med", madCol = "mad", flagCol = "__f", coarse = 64)
        .groupBy(col("lang"), col("med"), col("mad"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__f"), 1L).otherwise(0L)).as("n_outliers"))
        .select(col("lang"), col("med"), col("mad"),
          col("n_docs"), col("n_outliers"))
    },
      // q122's rank formula applied twice (median, then median of
      // absolute deviations), then the 3·MAD flag recomputed exactly
      Some("""WITH med AS (
           SELECT lang, n_chars AS med FROM (
             SELECT lang, n_chars,
               row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
               count(*) OVER (PARTITION BY lang) AS tot
             FROM documents WHERE n_chars IS NOT NULL)
           WHERE rn = GREATEST(1, (CAST(5000 AS BIGINT) * tot + 9999) // 10000)),
         mad AS (
           SELECT lang, dv AS mad FROM (
             SELECT d.lang, abs(d.n_chars - m.med) AS dv,
               row_number() OVER (PARTITION BY d.lang
                 ORDER BY abs(d.n_chars - m.med)) AS rn,
               count(*) OVER (PARTITION BY d.lang) AS tot
             FROM documents d JOIN med m USING (lang)
             WHERE d.n_chars IS NOT NULL)
           WHERE rn = GREATEST(1, (CAST(5000 AS BIGINT) * tot + 9999) // 10000))
         SELECT d.lang, m.med, a.mad, count(*) AS n_docs,
           CAST(sum(CASE WHEN abs(d.n_chars - m.med) > 3 * a.mad
             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         FROM documents d
         JOIN med m USING (lang) JOIN mad a USING (lang)
         WHERE d.n_chars IS NOT NULL
         GROUP BY d.lang, m.med, a.mad""")),

    // T — length-matched control sample: subsample the non-English
    // corpus so its 200-char-bucket length histogram tracks the English
    // one (count-matched per bucket, min(1, n_T/n_S) in content-hash
    // basis points, decimal cross-multiplied — no division). The
    // control-set construction that removes the length confound from
    // any filter/quality comparison. Oracle recomputes both histograms
    // and the exact keep rule.
    Entry("q128_length_matched_sample", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("n_chars").isNotNull)
      functions.Sampling.histogramMatchedSample(
          docs.filter(col("lang") =!= "en"),
          docs.filter(col("lang") === "en"),
          expr("CAST(n_chars AS BIGINT) div 200"), col("text"))
        .select(col("doc_id"), col("lang"))
    },
      // both bucket histograms + the exact cross-multiplied keep rule
      Some("""WITH b AS (
           SELECT doc_id, lang, text, CAST(n_chars AS BIGINT) // 200 AS bk
           FROM documents WHERE n_chars IS NOT NULL),
         ns AS (SELECT bk, CAST(count(*) AS BIGINT) AS n_s
                FROM b WHERE lang <> 'en' GROUP BY bk),
         nt AS (SELECT bk, CAST(count(*) AS BIGINT) AS n_t
                FROM b WHERE lang = 'en' GROUP BY bk)
         SELECT d.doc_id, d.lang
         FROM b d JOIN ns USING (bk) JOIN nt USING (bk)
         WHERE d.lang <> 'en' AND (n_t >= n_s OR
           CAST(('0x' || substring(md5(d.text), 1, 8)) AS BIGINT) % 10000
             * n_s < 10000 * n_t)""")),

    // T — epoch-based mixture upsampling: English repeats 2.5 epochs,
    // German 1.5, everything else 1.0 — fractional epochs land as
    // floor(centi/100) full copies plus a salted-hash extra copy, the
    // standard published-recipe mixture move, emitted with a 0-based
    // `epoch` index so copies stay distinct downstream. Oracle re-derives
    // the copy count per document and unions the fixed copy indices.
    Entry("q129_epoch_upsample", (s, dir) => {
      functions.Sampling.epochUpsample(t(s, dir, "documents"),
          col("lang"), col("text"),
          Map("en" -> 250, "de" -> 150), defaultCenti = 100)
        .select(col("doc_id"), col("lang"), col("epoch"))
    },
      // copy count = centi // 100 (+1 under the salted fractional hash),
      // then the fixed copy indices union on
      Some("""WITH c AS (
           SELECT doc_id, lang,
             centi // 100 + CASE WHEN
               CAST(('0x' || substring(md5(text || '#epoch'), 1, 8)) AS BIGINT)
                 % 10000 < (centi % 100) * 100 THEN 1 ELSE 0 END AS nc
           FROM (SELECT doc_id, lang, text,
             CASE lang WHEN 'en' THEN 250 WHEN 'de' THEN 150 ELSE 100 END
               AS centi FROM documents))
         SELECT doc_id, lang, CAST(0 AS BIGINT) AS epoch FROM c WHERE nc > 0
         UNION ALL
         SELECT doc_id, lang, CAST(1 AS BIGINT) AS epoch FROM c WHERE nc > 1
         UNION ALL
         SELECT doc_id, lang, CAST(2 AS BIGINT) AS epoch FROM c WHERE nc > 2""")),

    // T — source-reputation filter (FineWeb-style domain filtering):
    // aggregate the exact-integer classifier score per source, keep
    // sources whose mean beats the corpus mean. The comparison is
    // cross-multiplied (sum_s·n_total > sum_total·n_s, decimal-widened)
    // so no division ever happens — bit-exact on any engine, overflow-
    // safe at corpus scale. One shuffle for the per-source aggregate, a
    // key join back, a 1-row broadcast for the global total.
    Entry("q114_source_reputation", (s, dir) => {
      val z = TextFunctions.withLinearQuality(
          t(s, dir, "documents"), col("text"), "__q")
        .select(col("doc_id"), col("source"), col("__q.z").as("z"))
      functions.Sampling.sourceReputationFlag(z, col("source"), col("z"))
        .select(col("doc_id"), col("source"), col("sum_z"), col("n_s"),
          col("src_keep"))
    },
      // q112's score CTEs + per-source and corpus sums, cross-multiplied
      Some("""WITH toks AS (
           SELECT doc_id, source, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                              x -> x <> '') AS t
           FROM documents),
         f AS (
           SELECT doc_id, source,
             CAST(len(t) AS BIGINT) AS wc,
             CAST(COALESCE(list_sum(list_transform(t, x -> length(x))), 0) AS BIGINT) AS chars,
             CAST(len(list_intersect(t,
               ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_d,
             CAST(CASE WHEN len(t) < 3 THEN 0 ELSE len(t) - 2 END AS BIGINT) AS n3,
             CAST(CASE WHEN len(t) < 3 THEN 0
                  ELSE len(list_distinct(list_transform(range(1, len(t)-1),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) END AS BIGINT) AS n3d
           FROM toks),
         zs AS (
           SELECT doc_id, source,
             CAST(-600 + 30 * least(wc, 100)
                  + 400 * stop_d
                  - 2 * (CASE WHEN wc = 0 THEN 0 ELSE (chars * 100) // wc END)
                  - 1 * (CASE WHEN n3 = 0 THEN 0
                         ELSE ((n3 - n3d) * 10000) // n3 END) AS BIGINT) AS z
           FROM f),
         bysrc AS (SELECT source, CAST(sum(z) AS BIGINT) AS sum_z,
                     CAST(count(*) AS BIGINT) AS n_s
                   FROM zs GROUP BY 1),
         tot AS (SELECT CAST(sum(z) AS BIGINT) AS sum_t,
                   CAST(count(*) AS BIGINT) AS n_t FROM zs)
         SELECT zs.doc_id, zs.source, b.sum_z, b.n_s,
           (b.sum_z * tot.n_t > tot.sum_t * b.n_s) AS src_keep
         FROM zs JOIN bysrc b USING (source) CROSS JOIN tot""")),

    // T — fastText-style linear quality classifier: integer feature
    // vector (capped token count, centichar mean word length, stopword
    // hits, duplicate-trigram basis points) · fixed weights → exact
    // integer score and keep decision. Pure codegen projection, zero
    // shuffle — classifier inference at 100 TB is a map.
    Entry("q112_quality_classifier", (s, dir) => {
      TextFunctions.withLinearQuality(
          t(s, dir, "documents"), col("text"), "q")
        .select(col("doc_id"), col("q.wc").as("wc"),
          col("q.mwl_centi").as("mwl_centi"), col("q.stop_d").as("stop_d"),
          col("q.dup3_bp").as("dup3_bp"), col("q.z").as("z"),
          col("q.keep").as("keep"))
    },
      // identical integer feature + dot-product arithmetic
      Some("""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                      x -> x <> '') AS t
           FROM documents),
         f AS (
           SELECT doc_id,
             CAST(len(t) AS BIGINT) AS wc,
             CAST(COALESCE(list_sum(list_transform(t, x -> length(x))), 0) AS BIGINT) AS chars,
             CAST(len(list_intersect(t,
               ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_d,
             CAST(CASE WHEN len(t) < 3 THEN 0 ELSE len(t) - 2 END AS BIGINT) AS n3,
             CAST(CASE WHEN len(t) < 3 THEN 0
                  ELSE len(list_distinct(list_transform(range(1, len(t)-1),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) END AS BIGINT) AS n3d
           FROM toks),
         g AS (
           SELECT doc_id, wc,
             CAST(CASE WHEN wc = 0 THEN 0 ELSE (chars * 100) // wc END AS BIGINT) AS mwl_centi,
             stop_d,
             CAST(CASE WHEN n3 = 0 THEN 0
                  ELSE ((n3 - n3d) * 10000) // n3 END AS BIGINT) AS dup3_bp
           FROM f)
         SELECT doc_id, wc, mwl_centi, stop_d, dup3_bp,
           CAST(-600 + 30 * least(wc, 100) + 400 * stop_d
                - 2 * mwl_centi - 1 * dup3_bp AS BIGINT) AS z,
           (-600 + 30 * least(wc, 100) + 400 * stop_d
                - 2 * mwl_centi - 1 * dup3_bp) > 0 AS keep
         FROM g""")),

    // T — the published Gopher quality-rule family as EXACT-INTEGER
    // flags (no float ratios): word-count band, mean-word-length band,
    // symbol-to-word ratio, alphabetic-word fraction, distinct-stopword
    // threshold, and the conjunction. Deterministic '#'/'...' symbols
    // are injected for a doc_id slice so the symbol rule actually fires.
    Entry("q107_gopher_flags", (s, dir) => {
      val injected = when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" ### ... ### ... #"))).otherwise(col("text"))
      // staged form: extracting alpha_ok AND pass from the plain struct
      // re-inlines (extract-only collapse) and runs the alpha-word
      // filter lambda twice per row — withGopherFlags stages the two
      // lambda counts as columns so every flag is cheap attr arithmetic
      functions.TextFunctions.withGopherFlags(
          t(s, dir, "documents"), injected, "g")
        .select(col("doc_id"), col("g.wc_ok").as("wc_ok"), col("g.mwl_ok").as("mwl_ok"),
          col("g.sym_ok").as("sym_ok"), col("g.alpha_ok").as("alpha_ok"),
          col("g.stop_ok").as("stop_ok"), col("g.pass").as("pass"))
    },
      // identical exact-integer rule arithmetic; same injected symbols
      Some("""WITH inj AS (SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN text || ' ### ... ### ... #' ELSE text END AS raw
           FROM documents),
         b AS (SELECT doc_id, raw, trim(raw) AS t FROM inj),
         m AS (SELECT doc_id,
           CASE WHEN length(trim(raw)) = 0 THEN 0
                ELSE len(regexp_extract_all(t, '\S+')) END AS n,
           length(regexp_replace(t, '\s+', '', 'g')) AS chars,
           length(t) - length(regexp_replace(t, '#', '', 'g')) AS hashes,
           (length(t) - length(regexp_replace(t, '\.\.\.', '', 'g'))) // 3 AS ellipses,
           len(list_filter(regexp_extract_all(t, '\S+'),
               w -> regexp_matches(w, '[A-Za-z]'))) AS alpha,
           len(list_intersect(list_transform(regexp_extract_all(t, '\S+'), w -> lower(w)),
               ['the','be','to','of','and','that','have','with'])) AS stops
           FROM b)
         SELECT doc_id,
           n >= 50 AND n <= 100000 AS wc_ok,
           chars >= n*3 AND chars <= n*10 AS mwl_ok,
           (hashes + ellipses) * 10 <= n AS sym_ok,
           alpha * 5 >= n * 4 AS alpha_ok,
           stops >= 2 AS stop_ok,
           (n >= 50 AND n <= 100000) AND (chars >= n*3 AND chars <= n*10)
             AND ((hashes + ellipses) * 10 <= n) AND (alpha * 5 >= n * 4)
             AND (stops >= 2) AS pass
         FROM m""")),

    // T — crawl-text cleaning chain: entity decode (&amp; last —
    // double-encoded text single-decodes), C0 control strip, whitespace
    // collapse, NFC, trim. Deterministic dirty suffixes injected; the
    // oracle replays the identical chain.
    Entry("q108_clean_text", (s, dir) => {
      val dirty = concat(col("text"),
        lit(" &amp;lt; A&#39;s &quot;q&quot; \u0007x\u0001 a \t b   cafe\u0301  "))
      t(s, dir, "documents").select(col("doc_id"),
        functions.TextFunctions.cleanText(dirty).as("clean"),
        length(functions.TextFunctions.cleanText(dirty)).cast("long").as("len_clean"))
    },
      // the identical decode→strip→collapse→NFC→trim chain over the same
      // injected dirt (entities, C0 controls, tab runs, combining e+U+0301)
      Some("""WITH inj AS (SELECT doc_id,
           text || ' &amp;lt; A&#39;s &quot;q&quot; ' || chr(7) || 'x' || chr(1)
                || ' a ' || chr(9) || ' b   cafe' || chr(769) || '  ' AS t
           FROM documents),
         c0 AS (SELECT doc_id, regexp_replace(t, '&lt;', '<', 'g') AS t FROM inj),
         c1 AS (SELECT doc_id, regexp_replace(t, '&gt;', '>', 'g') AS t FROM c0),
         c2 AS (SELECT doc_id, regexp_replace(t, '&quot;', '"', 'g') AS t FROM c1),
         c3 AS (SELECT doc_id, regexp_replace(t, '&#39;', '''', 'g') AS t FROM c2),
         c4 AS (SELECT doc_id, regexp_replace(t, '&amp;', '&', 'g') AS t FROM c3),
         c5 AS (SELECT doc_id,
                  regexp_replace(t, '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g') AS t FROM c4),
         c6 AS (SELECT doc_id,
                  trim(nfc_normalize(regexp_replace(t, '\s+', ' ', 'g'))) AS clean FROM c5)
         SELECT doc_id, clean, CAST(length(clean) AS BIGINT) AS len_clean FROM c6""")),

    // T — Unicode NFC normalization (native codegen Expression; Spark
    // ships none and a UDF would box out of codegen): deterministic
    // combining-sequence text is injected so the fixture actually
    // exercises composition; java.text.Normalizer and DuckDB's
    // nfc_normalize both implement UAX #15, so the FULL normalized text
    // hash-matches, not just lengths.
    Entry("q105_unicode_nfc", (s, dir) => {
      val injected = concat(col("text"), lit(" cafe\u0301 nai\u0308ve A\u030Angstro\u0308m"))
      t(s, dir, "documents").select(col("doc_id"),
        functions.NfcNormalize.nfc(injected).as("norm"),
        length(injected).cast("long").as("len_raw"),
        length(functions.NfcNormalize.nfc(injected)).cast("long").as("len_nfc"))
    },
      // same decomposed injection via chr(); both engines implement UAX #15
      Some("""WITH inj AS (SELECT doc_id,
           text || ' cafe' || chr(769) || ' nai' || chr(776) || 've A' || chr(778)
                || 'ngstro' || chr(776) || 'm' AS t
           FROM documents)
         SELECT doc_id, nfc_normalize(t) AS norm,
           CAST(length(t) AS BIGINT) AS len_raw,
           CAST(length(nfc_normalize(t)) AS BIGINT) AS len_nfc
         FROM inj""")),

    // W — trailing-24h rolling aggregate per user (event-time RANGE
    // window over epoch-µs integers — integer frame bounds keep both
    // engines' membership tests exact, no timestamp-precision edge).
    Entry("q106_rolling_24h", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("__us"))
        .rangeBetween(-86400000000L, 0L)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("__us"),
          round(col("value") * 100).cast("long").as("__cents"))
        .withColumn("n_24h", count(lit(1)).over(w))
        .withColumn("cents_24h", sum(col("__cents")).over(w))
        .select(col("user_id"), col("event_id"), col("n_24h"), col("cents_24h"))
    },
      // identical integer epoch-µs RANGE frame — no timestamp-precision edge
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
           CAST(round(value*100) AS BIGINT) AS cents FROM events)
         SELECT user_id, event_id,
           CAST(count(*) OVER w AS BIGINT) AS n_24h,
           CAST(sum(cents) OVER w AS BIGINT) AS cents_24h
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY us
                      RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)""")),

    // S9 — JSONL intake with corrupt-record QUARANTINE: the corpus is
    // round-tripped through Spark's own JSONL writer, three deterministic
    // malformed lines + one wrong-typed line are planted alongside, and
    // the read must parse every clean row bit-exactly (oracle: the
    // documents table itself) while `require`-counting all four
    // quarantined lines — parse what parses, keep the rest visible.
    Entry("q104_jsonl_quarantine", (s, dir) => {
      import java.nio.file.{Files, Paths}
      import org.apache.spark.sql.types.{LongType, StringType, StructType}
      val tmp = Files.createTempDirectory("graft-q104")
      val data = s"$tmp/data"
      t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
        .write.mode("overwrite").json(data)
      Files.writeString(Paths.get(s"$data/zz-corrupt.json"),
        "{\"doc_id\": 9000000001, \"lang\":\n" +
          "not json at all\n" +
          "{\"doc_id\": 9000000002, \"lang\": \"en\", \"text\": \"truncat\n" +
          "{\"doc_id\": \"not-a-number\", \"lang\": \"en\", \"text\": \"wrong type\"}\n")
      val raw = graft.sources.Jsonl.readWithQuarantine(s, data,
        new StructType().add("doc_id", LongType).add("lang", StringType)
          .add("text", StringType))
      val nBad = graft.sources.Jsonl.quarantine(raw).count()
      require(nBad == 4, s"expected 4 quarantined lines, got $nBad")
      val out = graft.sources.Jsonl.good(raw).collect()
      dropStaged(tmp)
      import s.implicits._
      out.map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
        .toDF("doc_id", "lang", "text")
    },
      // round-trip identity: every clean JSONL row must equal its source
      Some("""SELECT doc_id, lang, text FROM documents"""), Fixture),

    // PIPELINE — the END-TO-END curation flagship: quality gate → exact
    // dedup → simhash near-dedup → duplicate-span filter → deterministic
    // shuffle+shard, one DataFrame chain, every stage hash-exact in the
    // oracle's single composed SQL. This is the "switch your curation
    // pipeline to this library" demonstration: the final training-shard
    // assignment of every surviving document is bit-reproducible.
    Entry("q103_curation_pipeline", (s, dir) => {
      val docs = t(s, dir, "documents")
      val base = docs.filter(col("n_chars") >= 100 &&
          TextFunctions.wsTokenCount(col("text")) >= 20)
        .select(col("doc_id"), col("text"))
      // checkpoint + fan the exact-dedup survivors BEFORE the simhash
      // pass: exactDedup's left-anti output lands AQE-coalesced to 1-2
      // partitions (bytes proxy), FanOut inside simhash60Agg guards out
      // on the join-rooted plan, and the md5 token hashing + 61 partial
      // sums — the pipeline's dominant map cost — ran as ONE task
      // (profiled: q103's single 0.8 s stage). Checkpoint-rooting the
      // relation lets the floor fire; downstream folds are commutative
      // aggregates / joins / an explicitly-sorted row_number (the
      // FanOut caller invariant), all pinned by the q103 oracle hash
      val exact = graft.util.FanOut.materialized(
        functions.Dedup.exactDedup(base, "text", "doc_id")
          .localCheckpoint(true))
      // near is consumed THREE times (duplicate-span scan, token-count
      // join, keep join) — unmaterialized, the exact+simhash dedup
      // upstream re-runs per consumer (measured 5.40 → 3.87 s at sf0.1
      // from this checkpoint alone; at corpus scale a real pipeline
      // lands each stage in a staging table for the same reason)
      val near = functions.Dedup.simhashDedupPortable(exact, "text", "doc_id")
        .localCheckpoint(true)
      val kept = near.join(
        functions.Dedup.duplicateStats(near, "text", "doc_id")
          .filter(col("dup_bp") < 5000).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      functions.Sampling.corpusShuffle(kept, col("text"), col("doc_id"), nShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
    },
      // the whole curation chain composed into ONE SQL derivation:
      // quality gate, exact keep (min id per text), q24's simhash block
      // CTEs, q97's gram/island CTEs, q98's bp profile, q99's shard/order
      Some("""WITH base AS (
           SELECT doc_id, text FROM documents
           WHERE n_chars >= 100 AND len(regexp_extract_all(trim(text), '\S+')) >= 20),
         exact AS (SELECT min(doc_id) AS doc_id FROM base GROUP BY text),
         kept0 AS (SELECT b.doc_id, b.text FROM base b JOIN exact e USING (doc_id)),
         toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                      x -> x <> '') AS t
           FROM kept0),
         th AS (SELECT doc_id,
                  list_transform(t, x -> CAST('0x'||substring(md5(x),1,15) AS BIGINT)) AS h,
                  len(t) AS n
                FROM toks),
         bits AS (SELECT doc_id, b,
                    CASE WHEN 2*len(list_filter(h, v -> (v >> b) & 1 = 1)) > n
                         THEN (CAST(1 AS BIGINT) << b) ELSE 0 END AS bit
                  FROM th, range(0, 60) r(b)),
         sims AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS sim FROM bits GROUP BY doc_id),
         blocks AS (SELECT doc_id, blk, (sim >> CAST(blk*15 AS INTEGER)) & 32767 AS bucket, sim
                    FROM sims, range(0, 4) r(blk)),
         pairs AS (SELECT DISTINCT a.doc_id AS idA, b.doc_id AS idB, a.sim AS simA, b.sim AS simB
                   FROM blocks a JOIN blocks b
                     ON a.blk = b.blk AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         losers AS (SELECT DISTINCT idB FROM pairs WHERE bit_count(xor(simA, simB)) <= 3),
         kept1 AS (SELECT doc_id, text FROM kept0 WHERE doc_id NOT IN (SELECT idB FROM losers)),
         w AS (SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS ws FROM kept1),
         g AS (SELECT doc_id, i AS pos,
                 CAST('0x'||substring(md5(array_to_string(ws[i+1:i+8], ' ')),1,15) AS BIGINT) AS gh
               FROM w, unnest(range(0, len(ws) - 7)) AS t(i) WHERE len(ws) >= 8),
         dupg AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
         m AS (SELECT doc_id, pos FROM g WHERE gh IN (SELECT gh FROM dupg)),
         isl AS (SELECT doc_id, pos,
                 CASE WHEN pos > coalesce(max(pos+8) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                      THEN 1 ELSE 0 END AS nw FROM m),
         i2 AS (SELECT doc_id, pos, sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl),
         sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e FROM i2 GROUP BY doc_id, island),
         dt AS (SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS dup_tok FROM sp GROUP BY doc_id),
         prof AS (SELECT k.doc_id, k.text,
                    CASE WHEN len(regexp_extract_all(trim(k.text), '\S+')) > 0
                         THEN (10000*coalesce(d.dup_tok, 0)) // len(regexp_extract_all(trim(k.text), '\S+'))
                         ELSE 0 END AS dup_bp
                  FROM kept1 k LEFT JOIN dt d USING (doc_id)),
         kept2 AS (SELECT doc_id, text FROM prof WHERE dup_bp < 5000),
         sh AS (SELECT doc_id,
                  CAST(('0x'||substring(md5(text), 1, 15)) AS BIGINT) % 8 AS shard,
                  CAST(('0x'||substring(md5(text), 16, 15)) AS BIGINT) AS h2 FROM kept2)
         SELECT doc_id, CAST(shard AS INTEGER) AS shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY h2, doc_id) - 1 AS BIGINT) AS pos
         FROM sh""")),

    // M3 — VIDEO path: sampled-frame decode of the multi-frame GIFs —
    // only the ≤4 frame-sample indices are decoded (per-frame cost, the
    // property that matters when frames are video), each frame's
    // palette-resolved pixel sums oracle-checked against the
    // parity-shifted checkerboard closed form.
    Entry("q102_video_frame_stats", (s, dir) => {
      val media = functions.Multimodal.syntheticImages(
        t(s, dir, "documents").select(col("doc_id")), "doc_id", "gif")(s)
      functions.Multimodal.extractFrameStats(media, maxFrames = 4)(s).toDF()
        .select(col("id").as("doc_id"), col("frame_idx"), col("width"), col("height"),
          col("sum_r"), col("sum_g"), col("sum_b"))
    },
      // q35's checkerboard closed form extended to sampled frame f: the
      // parity shift swaps which color covers the even cells
      Some("""WITH dims AS (
           SELECT doc_id,
             16 + (doc_id*7919)%64 AS w, 16 + (doc_id*104729)%64 AS h,
             1 + (doc_id*293)%8 AS nf,
             (doc_id*131)%256 AS c0r, (doc_id*137)%256 AS c0g, (doc_id*139)%256 AS c0b,
             (doc_id*149)%256 AS c1r, (doc_id*151)%256 AS c1g, (doc_id*157)%256 AS c1b
           FROM documents),
         fs AS (SELECT *, greatest(1, CAST(ceil(nf / 4.0) AS BIGINT)) AS step FROM dims),
         fr AS (SELECT *, unnest(range(0, nf, step)) AS f FROM fs),
         cnt AS (SELECT *, (w*h + (w%2)*(h%2)) // 2 AS ne,
                        w*h - ((w*h + (w%2)*(h%2)) // 2) AS nodd FROM fr),
         sw AS (SELECT doc_id, f, w, h,
                  CASE WHEN f%2 = 0 THEN ne ELSE nodd END AS n0,
                  CASE WHEN f%2 = 0 THEN nodd ELSE ne END AS n1,
                  c0r, c0g, c0b, c1r, c1g, c1b FROM cnt)
         SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
           CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           CAST(c0r*n0 + c1r*n1 AS BIGINT) AS sum_r,
           CAST(c0g*n0 + c1g*n1 AS BIGINT) AS sum_g,
           CAST(c0b*n0 + c1b*n1 AS BIGINT) AS sum_b
         FROM sw"""), Media),

    // AJ — as-of join (composed, one shuffle): each order's most recent
    // strictly-earlier order of the same customer.
    Entry("q36_asof_prev_order", (s, dir) => {
      val o = t(s, dir, "orders")
      operators.AsofJoin.asofPrior(
          o.select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
          o.select(col("o_custkey"), col("o_orderdate")),
          keys = Seq("o_custkey"), leftTime = "o_orderdate", rightTime = "o_orderdate",
          payload = Seq("o_orderdate"))
        .select(col("o_orderkey"),
          date_format(col("__asof.o_orderdate"), "yyyy-MM-dd").as("prev_date"))
    }, Some("""SELECT o1.o_orderkey,
         strftime(o2.o_orderdate, '%Y-%m-%d') AS prev_date
         FROM orders o1 ASOF LEFT JOIN orders o2
           ON o1.o_custkey = o2.o_custkey AND o2.o_orderdate < o1.o_orderdate""")),

    // G1 — ROLLUP grouping sets.
    Entry("q37_rollup", (s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
    }, Some("""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""")),

    // G2 — CUBE grouping sets.
    Entry("q38_cube", (s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
    }, Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""")),

    // G3 — pivot (fixed value set → conditional aggregation in the oracle).
    Entry("q39_pivot", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(col("l_quantity")))
        .select(col("l_linestatus"),
          col("A").as("qty_a"), col("N").as("qty_n"), col("R").as("qty_r"))
    }, Some("""SELECT l_linestatus,
         sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS qty_a,
         sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS qty_n,
         sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS qty_r
         FROM lineitem GROUP BY l_linestatus""")),

    // ST3 — REAL Structured Streaming under the DuckDB oracle: stream the
    // events files through the watermarked hourly aggregation into a
    // memory sink, return the final table (update mode: one emission per
    // window on a single batch). Same oracle SQL as the batch form.
    Entry("q41_stream_hourly", (s, dir) => {
      val tmp = stageEvents(dir)
      val name = "graft_q41_" + java.util.UUID.randomUUID().toString.replace("-", "")
      graft.streaming.EventsStream.runToMemory(s, tmp.toString, name,
        df => graft.streaming.EventsStream.hourlyTypeCounts(df), outputMode = "update")
      dropStaged(tmp)
      s.table(name).select(
        date_format(col("hour_start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n"), col("value_cents"))
    }, Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
         event_type, count(*) AS n,
         cast(sum(cast(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events GROUP BY 1, 2"""), Streaming),

    // W2 — running-total window frame (rowsBetween) per customer.
    Entry("q42_running_total", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      t(s, dir, "orders")
        .withColumn("run_cents", sum(round(col("o_totalprice") * 100).cast("long")).over(w))
        .select(col("o_orderkey"), col("run_cents"))
    }, Some("""SELECT o_orderkey,
         cast(sum(cast(round(o_totalprice*100) AS BIGINT))
           OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cents
         FROM orders""")),

    // W3 — lag: days since the customer's previous order.
    Entry("q43_order_gaps", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
        .select(col("o_orderkey"),
          datediff(col("o_orderdate"), col("prev_date")).as("gap_days"))
    }, Some("""SELECT o_orderkey,
         cast(datediff('day',
           lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           o_orderdate) AS INT) AS gap_days
         FROM orders""")),

    // C8 — in-data string functions: concat/substring/split projection.
    Entry("q44_string_ops", (s, dir) => {
      t(s, dir, "customer").select(
        col("c_custkey"),
        concat_ws("#", col("c_mktsegment"), col("c_name")).as("tag"),
        substring(col("c_name"), 1, 8).as("prefix"),
        size(split(col("c_name"), "#")).cast("long").as("n_parts"))
    }, Some("""SELECT c_custkey,
         concat_ws('#', c_mktsegment, c_name) AS tag,
         substring(c_name, 1, 8) AS prefix,
         len(string_split(c_name, '#')) AS n_parts
         FROM customer""")),

    // JSON — opaque-string JSON column access (reference carries json as
    // string; access via get_json_object, SURVEY §1.2).
    Entry("q45_json_extract", (s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy()
        .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
    }, Some("""SELECT count(k) AS n_with_k, cast(sum(k) AS BIGINT) AS sum_k,
         min(k) AS min_k, max(k) AS max_k
         FROM (SELECT cast(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)""")),

    // U — intersect: customer keys that placed a high-value order.
    Entry("q46_intersect_keys", (s, dir) => {
      t(s, dir, "customer").select(col("c_custkey").as("key"))
        .intersect(t(s, dir, "orders")
          .filter(col("o_totalprice") > 300000)
          .select(col("o_custkey").as("key")))
    }, Some("""SELECT c_custkey AS key FROM customer
         INTERSECT SELECT o_custkey AS key FROM orders WHERE o_totalprice > 300000""")),

    // A — exact interpolated percentiles per group over integer cents.
    // p25/p50/p75 only: exactly-representable fractions make both
    // engines' interpolation forms exact (0.9 would drift by an ulp).
    Entry("q47_percentiles", (s, dir) => {
      t(s, dir, "orders")
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        .groupBy(col("o_orderstatus"))
        .agg(expr("percentile(cents, array(0.25D, 0.5D, 0.75D))").as("p"))
        .select(col("o_orderstatus"),
          element_at(col("p"), 1).as("p25_cents"),
          element_at(col("p"), 2).as("p50_cents"),
          element_at(col("p"), 3).as("p75_cents"))
    }, Some("""SELECT o_orderstatus,
         quantile_cont(cast(round(o_totalprice*100) AS BIGINT), 0.25) AS p25_cents,
         quantile_cont(cast(round(o_totalprice*100) AS BIGINT), 0.5)  AS p50_cents,
         quantile_cont(cast(round(o_totalprice*100) AS BIGINT), 0.75) AS p75_cents
         FROM orders GROUP BY o_orderstatus""")),

    // A — HLL sketch accuracy against the exact distinct count: the gate
    // pins the exact count and that BOTH engines' sketches stay within
    // 10% of it (the approximations themselves differ by design).
    Entry("q48_hll_accuracy", (s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"),
          (abs(approx_count_distinct(col("user_id")) - countDistinct(col("user_id")))
            <= countDistinct(col("user_id")) * 0.1).as("approx_ok"))
    }, Some("""SELECT event_type, count(DISTINCT user_id) AS n_exact,
         abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
           <= 0.1 * count(DISTINCT user_id) AS approx_ok
         FROM events GROUP BY event_type""")),

    // A — second moments (stddev/corr) computed from EXACT integer sums,
    // so the doubles are order-independent: sum longs first, apply the
    // textbook formulas once per group in the projection.
    Entry("q49_exact_moments", (s, dir) => {
      val qty = col("l_quantity").cast("long")
      val d = round(col("l_discount") * 100).cast("long")
      val dbl = (c: Column) => c.cast("double")
      val g = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(qty).as("sx"), sum(qty * qty).as("sxx"),
          sum(d).as("sy"), sum(d * d).as("syy"),
          sum(qty * d).as("sxy"))
      val (n, sx, sxx, sy, syy, sxy) =
        (dbl(col("n")), dbl(col("sx")), dbl(col("sxx")),
         dbl(col("sy")), dbl(col("syy")), dbl(col("sxy")))
      g.select(col("l_returnflag"), col("n"),
        sqrt((n * sxx - sx * sx) / (n * (n - 1))).as("stddev_qty"),
        ((n * sxy - sx * sy)
          / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))).as("corr_qty_disc"))
    }, Some("""WITH g AS (
           SELECT l_returnflag, count(*) AS n,
             cast(sum(cast(l_quantity AS BIGINT)) AS BIGINT) AS sx,
             cast(sum(cast(l_quantity AS BIGINT)*cast(l_quantity AS BIGINT)) AS BIGINT) AS sxx,
             cast(sum(cast(round(l_discount*100) AS BIGINT)) AS BIGINT) AS sy,
             cast(sum(cast(round(l_discount*100) AS BIGINT)*cast(round(l_discount*100) AS BIGINT)) AS BIGINT) AS syy,
             cast(sum(cast(l_quantity AS BIGINT)*cast(round(l_discount*100) AS BIGINT)) AS BIGINT) AS sxy
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, n,
           sqrt((cast(n AS DOUBLE)*cast(sxx AS DOUBLE) - cast(sx AS DOUBLE)*cast(sx AS DOUBLE))
                / (cast(n AS DOUBLE)*(cast(n AS DOUBLE)-1))) AS stddev_qty,
           (cast(n AS DOUBLE)*cast(sxy AS DOUBLE) - cast(sx AS DOUBLE)*cast(sy AS DOUBLE))
             / (sqrt(cast(n AS DOUBLE)*cast(sxx AS DOUBLE) - cast(sx AS DOUBLE)*cast(sx AS DOUBLE))
                * sqrt(cast(n AS DOUBLE)*cast(syy AS DOUBLE) - cast(sy AS DOUBLE)*cast(sy AS DOUBLE))) AS corr_qty_disc
         FROM g""")),

    // T — corpus n-gram stats: top-3 bigrams per language (count desc,
    // bigram asc tie-break). One explode + one hash-agg + a tiny window
    // over the per-(lang,bigram) counts.
    Entry("q50_top_bigrams", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("n").desc, col("bigram").asc)
      t(s, dir, "documents")
        .select(col("lang"), TextFunctions.tokens(col("text")).as("__t"))
        .select(col("lang"),
          explode_outer(TextFunctions.ngrams(col("__t"), 2)).as("bigram"))
        .filter(col("bigram").isNotNull)
        .groupBy(col("lang"), col("bigram"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("lang"), col("bigram"), col("n"))
    }, Some("""WITH toks AS (
           SELECT lang, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                    x -> x <> '') AS t
           FROM documents),
         bg AS (SELECT lang, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
           FROM toks WHERE len(t) >= 2),
         cnt AS (SELECT lang, bigram, count(*) AS n FROM bg GROUP BY 1, 2)
         SELECT lang, bigram, n FROM (
           SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram ASC) AS rn
           FROM cnt) WHERE rn <= 3""")),

    // T — repetition signal: duplicate trigram fraction per document
    // (C4/Gopher-style boilerplate detector). Pure projection, no shuffle.
    Entry("q51_repetition_profile", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("__t"))
        .select(col("doc_id"), TextFunctions.ngrams(col("__t"), 3).as("__g"))
        .select(col("doc_id"), TextFunctions.dupFraction(col("__g")).as("dup_frac"))
    }, Some("""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                      x -> x <> '') AS t
           FROM documents)
         SELECT doc_id,
           CASE WHEN len(t) < 3 THEN 0.0
                ELSE 1.0 - cast(len(list_distinct(list_transform(range(1, len(t)-1),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS DOUBLE)
                     / cast(len(t)-2 AS DOUBLE) END AS dup_frac
         FROM toks""")),

    // W — event-time RANGE frame: per event, how many events the same
    // user produced in the strictly-preceding hour (burst detection).
    Entry("q52_burst_window", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ms"))
        .rangeBetween(-3600000L, -1L)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ms"))
        .withColumn("n_prev_hour", count(lit(1)).over(w))
        .select(col("event_id"), col("n_prev_hour"))
    }, Some("""SELECT event_id,
         cast(count(*) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
           RANGE BETWEEN 3600000 PRECEDING AND 1 PRECEDING) AS BIGINT) AS n_prev_hour
         FROM events""")),

    // T — deterministic content-hash train/val/test split accounting.
    Entry("q53_hash_split", (s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"), TextFunctions.hashSplit(col("text")).as("split"))
        .agg(count(lit(1)).as("n"))
    }, Some("""SELECT lang,
         CASE WHEN text IS NULL THEN NULL
              WHEN CAST(('0x' || substring(md5(text),1,8)) AS BIGINT) % 100 < 80 THEN 'train'
              WHEN CAST(('0x' || substring(md5(text),1,8)) AS BIGINT) % 100 < 90 THEN 'val'
              ELSE 'test' END AS split,
         count(*) AS n
         FROM documents GROUP BY 1, 2""")),

    // ST — streaming exact dedup: dropDuplicates state over the event
    // stream emits each (user, type) pair once; the emitted KEY SET is
    // deterministic (payloads of "first seen" would not be), so the gate
    // compares it against batch DISTINCT.
    Entry("q54_stream_distinct_pairs", (s, dir) => {
      val tmp = stageEvents(dir)
      val name = "graft_q54_" + java.util.UUID.randomUUID().toString.replace("-", "")
      graft.streaming.EventsStream.runToMemory(s, tmp.toString, name,
        df => df.select(col("user_id"), col("event_type"))
          .dropDuplicates("user_id", "event_type"))
      dropStaged(tmp)
      s.table(name)
    }, Some("SELECT DISTINCT user_id, event_type FROM events"), Streaming),

    // ST — stream-STREAM interval self-join (attribution): purchases
    // joined to the same user's clicks in the preceding 24 h, both sides
    // watermarked so join state stays rate-bounded. Inner joins emit
    // eagerly, so the drained pair set is deterministic and the oracle
    // is the plain batch theta-join.
    Entry("q84_stream_stream_join", (s, dir) => {
      val tmp = stageEvents(dir)
      val name = "graft_q84_" + java.util.UUID.randomUUID().toString.replace("-", "")
      graft.streaming.EventsStream.runToMemory(s, tmp.toString, name,
        df => graft.streaming.EventsStream.purchaseAttribution(df))
      dropStaged(tmp)
      s.table(name)
    },
      // µs-truncated time arithmetic on both sides: the Spark stream reads
      // the ns fixture truncated to µs timestamps, so the oracle compares
      // at epoch_us too
      Some("""SELECT p.event_id AS purchase_id, c.event_id AS click_id
         FROM events p JOIN events c
           ON p.user_id = c.user_id
          AND p.event_type = 'purchase' AND c.event_type = 'click'
          AND epoch_us(c.ts) >= epoch_us(p.ts) - 86400000000
          AND epoch_us(c.ts) <= epoch_us(p.ts)"""), Streaming),

    // V — exact all-pairs embedding near-dup (the O(n²) baseline that
    // oracle-checks the cosine kernel; q26 is the LSH scale path).
    Entry("q55_cosine_neardup_exact", (s, dir) => {
      functions.Similarity.exactNearDupPairs(
          t(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.4)
        .select(col("idA"), col("idB"), round(col("cos"), 4).as("cos_r"))
    }, Some("""WITH e AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM embeddings)
         SELECT a.vec_id AS idA, b.vec_id AS idB,
           round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cos_r
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4""")),

    // W — ntile bucketing over a total order (deterministic tie-break).
    // NOT `ntile(4).over(Window.orderBy(...))`: a no-partition window is
    // a single-task sort of the whole table. ScalableNtile produces the
    // identical assignment with every stage partition-parallel.
    Entry("q56_ntile", (s, dir) => {
      graft.operators.ScalableNtile.ntileByRange(
          t(s, dir, "orders"), 4, col("o_totalprice"), Seq(col("o_orderkey")))
        .select(col("o_orderkey"), col("__graft_ntile").as("quartile"))
    }, Some("""SELECT o_orderkey,
         cast(ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS INT) AS quartile
         FROM orders""")),

    // W — first/last/nth value over an unbounded frame per customer.
    Entry("q57_window_analytics", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      t(s, dir, "orders").select(col("o_orderkey"),
        date_format(first(col("o_orderdate")).over(w), "yyyy-MM-dd").as("first_date"),
        date_format(last(col("o_orderdate")).over(w), "yyyy-MM-dd").as("last_date"),
        date_format(nth_value(col("o_orderdate"), 2).over(w), "yyyy-MM-dd").as("second_date"))
    }, Some("""SELECT o_orderkey,
         strftime(first_value(o_orderdate) OVER w, '%Y-%m-%d') AS first_date,
         strftime(last_value(o_orderdate) OVER w, '%Y-%m-%d') AS last_date,
         strftime(nth_value(o_orderdate, 2) OVER w, '%Y-%m-%d') AS second_date
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""")),

    // A — collect-to-array aggregation, emitted as a deterministic sorted
    // join-string (raw array outputs don't hash stably across engines).
    Entry("q58_collect_sorted", (s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(concat_ws("|", array_sort(collect_set(col("source")))).as("sources"))
    }, Some("""SELECT lang,
         array_to_string(list_sort(list(DISTINCT source)), '|') AS sources
         FROM documents GROUP BY lang""")),

    // C12 — in-data regex breadth: extract / extract_all / replace.
    Entry("q59_regexp", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        regexp_extract(col("text"), "[0-9]+", 0).as("first_num"),
        size(regexp_extract_all(col("text"), lit("[a-z]{4,}"), lit(0)))
          .cast("long").as("n_long_words"),
        length(regexp_replace(col("text"), "[aeiou]", "")).cast("long").as("n_non_vowel"))
    }, Some("""SELECT doc_id,
         regexp_extract(text, '[0-9]+') AS first_num,
         cast(len(regexp_extract_all(text, '[a-z]{4,}')) AS BIGINT) AS n_long_words,
         length(regexp_replace(text, '[aeiou]', '', 'g')) AS n_non_vowel
         FROM documents""")),

    // C6 — calendar breakdown: quarter × ISO weekday, plus the epoch of
    // the Monday-truncated week (date_trunc parity).
    Entry("q60_time_breakdown", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(quarter(col("o_orderdate")).as("q"),
          (weekday(col("o_orderdate")) + 1).as("dow"))
        .agg(count(lit(1)).as("n"),
          min(unix_timestamp(date_trunc("week", col("o_orderdate")))).as("min_week_epoch"))
    }, Some("""SELECT cast(quarter(o_orderdate) AS INT) AS q,
         cast(isodow(o_orderdate) AS INT) AS dow, count(*) AS n,
         cast(min(epoch(date_trunc('week', o_orderdate))) AS BIGINT) AS min_week_epoch
         FROM orders GROUP BY 1, 2""")),

    // V — IVF-bucketed approximate top-k (rows-only oracle: centroid
    // means are fp-order dependent, but k·|queries| output rows are not).
    // V3 — IVF ANN under the FULL DuckDB oracle: fixed-point integer
    // Lloyd training (quantize → argmin → floor-division means, unrolled
    // 3 iterations) is engine-replayable bit for bit, closing the one
    // rows-only holdout (the float variant's distributed means carry
    // partition-order ulp drift no oracle can reproduce; it remains the
    // production path, recall-pinned by AnnRecallSpec).
    Entry("q61_ann_ivf_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") <= 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      // (16, 8) pinned: the DuckDB oracle replays exactly this training;
      // the API default derives ceil(√n) lists from the corpus
      functions.Similarity.ivfTopKPortable(queries, emb, k = 10,
          nCentroids = 16, nProbe = 8)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cos"), 4).as("cos_r"))
    }, Some(q61OracleSql)),

    // J — salted skew join: result must be IDENTICAL to the plain join
    // (the oracle is the unsalted SQL), only the shuffle layout changes.
    Entry("q62_salted_join", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey").as("pk"), col("l_orderkey"), col("l_quantity"))
      val part = t(s, dir, "part")
        .select(col("p_partkey").as("pk"), col("p_brand"))
      operators.SkewJoin.saltedJoin(li, part, "pk", "l_orderkey", n = 8)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_lines"), sum(col("l_quantity")).as("sum_qty"))
    }, Some("""SELECT p_brand, count(*) AS n_lines, sum(l_quantity) AS sum_qty
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand""")),

    // ST — stream-static join: the event stream enriched against the
    // static customer dim (broadcast; no stream-side shuffle for the
    // join), then a watermarked aggregate — all under the batch oracle.
    Entry("q63_stream_static_join", (s, dir) => {
      val tmp = stageEvents(dir)
      val customer = t(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      val name = "graft_q63_" + java.util.UUID.randomUUID().toString.replace("-", "")
      graft.streaming.EventsStream.runToMemory(s, tmp.toString, name,
        df => df.join(broadcast(customer), "user_id")
          .withWatermark("ts", "30 minutes")
          .groupBy(col("c_mktsegment"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast("long")).as("value_cents")),
        outputMode = "update")
      dropStaged(tmp)
      s.table(name)
    }, Some("""SELECT c_mktsegment, event_type, count(*) AS n,
         cast(sum(cast(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY 1, 2"""), Streaming),

    // A/O2 — the bounded TopKByScore Aggregator itself under the oracle:
    // same result set as the q10 window plan, but partial aggregation
    // trims every map partition to k before the exchange (the shuffle
    // carries O(k·customers), not all orders).
    Entry("q64_topk_aggregator", (s, dir) => {
      import s.implicits._
      val agg = new functions.TopKByScore(3).toColumn
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .as[(Long, Long, Double)]
        .groupByKey(_._1)
        // TopKByScore tie-breaks equal scores by LOWEST id — same as the
        // oracle's (o_totalprice DESC, o_orderkey ASC)
        .mapValues(r => (r._2, r._3))
        .agg(agg)
        .flatMap { case (cust, top) => top.map(t => (cust, t._1)) }
        .toDF("o_custkey", "o_orderkey")
    }, Some("""SELECT o_custkey, o_orderkey FROM (
           SELECT o_custkey, o_orderkey,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders) WHERE rn <= 3""")),

    // E2E — lake maintenance, oracle-checked: chunk-append a table in
    // small pieces (the reference's per-400k-chunk write pattern),
    // compact it, and emit the post-compaction content aggregate; file
    // collapse and row preservation are hard `require`s.
    Entry("q66_compaction", (s, dir) => {
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft-q66").toString
      val path = s"$tmp/lake/orders"
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"))
      // simulate chunked appends: 8 separate small writes
      (0 until 8).foreach { i =>
        o.filter(pmod(col("o_orderkey"), lit(8)) === i)
          .repartition(4).write.mode("append").parquet(path)
      }
      val filesBefore = graft.sink.Rollback.listFiles(s, path).count(_.endsWith(".parquet"))
      val rows = graft.sink.Compaction.compactTable(s, path,
        clusterBy = Some("o_orderdate"), targetRowsPerFile = 1000000L)
      val filesAfter = graft.sink.Rollback.listFiles(s, path).count(_.endsWith(".parquet"))
      // structural compaction facts stay hard requirements (q75 pattern);
      // the OUTPUT is the post-compaction content aggregate, which the
      // oracle recomputes from the base table — a hash match proves the
      // rewrite+swap preserved every row. Expected file count scales
      // with rows (the 100× probe caught a hardcoded ==1 here: 15M rows
      // at 1M rows/file are CORRECTLY 15 files).
      val expectFiles = math.max(1L, (rows + 999999L) / 1000000L)
      require(filesBefore > filesAfter && filesAfter == expectFiles,
        s"compaction must shrink $filesBefore files to $expectFiles, got $filesAfter")
      require(rows == s.read.parquet(path).count(),
        "compaction must preserve the row count it reported")
      val row = s.read.parquet(path)
        .agg(count(lit(1)).as("n_rows"), sum(col("o_orderkey")).as("key_sum")).head()
      dropStaged(java.nio.file.Paths.get(tmp))
      Seq((row.getLong(0), row.getLong(1))).toDF("n_rows", "key_sum")
    },
      // the compacted table's content aggregate must equal the base table's
      // (file-collapse structure is `require`d inside the query)
      Some("""SELECT count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         FROM orders"""), Fixture),

    // E2E — multi-spec orchestration, oracle-checked: three specs fan
    // out concurrently (one with an invalid partition config to prove
    // contained failure), then the per-spec statuses + lake counts are
    // emitted. The expected table is fully deterministic — two successes
    // carrying the full events count, one contained failure with an
    // empty lake — so the oracle re-derives it and a hash match pins the
    // whole concurrent lifecycle. The thread-pool fan-out of the
    // reference, as futures over one SparkSession.
    Entry("q65_orchestrated_runs", (s, dir) => {
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft-q65").toString
      val store = new graft.state.LogStore(s, s"$tmp/logs")
      val orch = new graft.driver.Orchestrator(s, s"$tmp/lake", store, parallelism = 3)
      def spec(id: Long, table: String, parts: Seq[graft.model.PartitionSpec]) =
        graft.model.IngestionSpec(id, "table", "local", "gate", table,
          "ts", "", 0, 1, "fs", "", "event_id", "lv", s"${table}_lv", 0, parts, "gate")
      val ev = t(s, dir, "events")
      val specs = Seq(
        spec(1L, "ev_day", Seq(graft.model.PartitionSpec(1, graft.model.PartitionSpec.TimeBased, "ts", "YYYYMMDD"))),
        spec(2L, "ev_flat", Nil),
        // invalid: time-based format on a non-time spec → contained failure
        spec(3L, "ev_bad", Seq(graft.model.PartitionSpec(1, graft.model.PartitionSpec.NonTimeBased, "ts", "YYYYMMDD"))))
      val statuses = orch.runAll(specs, _ => ev)
      // counts keyed off the SAME spec list — no duplicated id→table map
      val counts = specs.map { sp =>
        sp.lakeIngestionId ->
          (try s.read.parquet(s"$tmp/lake/${sp.databasename}/${sp.tablename}").count()
           catch { case _: Throwable => 0L })
      }.toMap
      dropStaged(java.nio.file.Paths.get(tmp))
      statuses.toSeq.map { case (id, st) => (id, st, counts(id)) }
        .toDF("spec_id", "status", "lake_rows")
    },
      // the orchestration outcome is deterministic: specs 1–2 ingest every
      // event, spec 3's invalid partition config fails contained
      Some("""SELECT CAST(1 AS BIGINT) AS spec_id, 'success' AS status,
           (SELECT count(*) FROM events) AS lake_rows
         UNION ALL SELECT 2, 'success', (SELECT count(*) FROM events)
         UNION ALL SELECT 3, 'failed', 0"""), Fixture),

    // E2E — the full incremental ingestion lifecycle as a gate query,
    // oracle-checked: two runs over a watermark-split source into a
    // throwaway lake; every emitted log field (status, formatted
    // watermark bounds, counts, reason) is re-derived relationally by
    // the DuckDB oracle from the events table alone.
    Entry("q40_ingestion_lifecycle", (s, dir) => {
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft-q40").toString
      val store = new graft.state.LogStore(s, s"$tmp/logs")
      val run = new graft.driver.IngestionRun(s, s"$tmp/lake", store)
      val spec = graft.model.IngestionSpec(40L, "table", "local", "gate", "events",
        "ts", "", 0, 1, "fs", "", "event_id", "lv", "events_lv", 1,
        Seq(graft.model.PartitionSpec(1, graft.model.PartitionSpec.TimeBased, "ts", "YYYYMMDD")),
        "gate")
      val ev = t(s, dir, "events")
      val cut = "2024-01-15 00:00:00"
      val logs1 = run.run(spec, ev.filter(col("ts") < lit(cut)))
      val logs2 = run.run(spec, ev)
      val logs3 = run.run(spec, ev) // no new data
      // the log rows are already collected — the throwaway lake is done
      dropStaged(java.nio.file.Paths.get(tmp))
      s.createDataset((logs1 ++ logs2 ++ logs3).map(l =>
        (l.executionStatus, l.startValue, l.endValue, l.sourceCount, l.targetCount, l.reasonCode)))
        .toDF("status", "start_value", "end_value", "source_count", "target_count", "reason")
    },
      // full relational replay of the two-run watermark lifecycle: run 1's
      // slice is [first-run default, cut), run 2 resumes at max(ts)+1s (the
      // inclusive bump), run 3 finds nothing — every log field (status,
      // formatted watermark bounds, source/target counts, reason) is
      // re-derived from the events table alone
      Some("""WITH b1 AS (
           SELECT CASE WHEN date_part('microseconds', max(ts)) % 1000000 = 0
                       THEN strftime(max(ts), '%Y-%m-%d %H:%M:%S')
                       ELSE strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') END AS e1,
                  max(ts) AS e1t, CAST(count(*) AS BIGINT) AS n1
           FROM events WHERE ts >= TIMESTAMP '2020-01-01 00:00:00'
             AND ts < TIMESTAMP '2024-01-15 00:00:00'),
         b2 AS (
           SELECT CASE WHEN date_part('microseconds', max(e.ts)) % 1000000 = 0
                       THEN strftime(max(e.ts), '%Y-%m-%d %H:%M:%S')
                       ELSE strftime(max(e.ts), '%Y-%m-%d %H:%M:%S.%f') END AS e2,
                  max(e.ts) AS e2t, CAST(count(*) AS BIGINT) AS n2,
                  CASE WHEN date_part('microseconds', b1.e1t) % 1000000 = 0
                       THEN strftime(b1.e1t + INTERVAL 1 SECOND, '%Y-%m-%d %H:%M:%S')
                       ELSE strftime(b1.e1t + INTERVAL 1 SECOND, '%Y-%m-%d %H:%M:%S.%f') END AS s2
           FROM events e, b1 WHERE e.ts >= b1.e1t + INTERVAL 1 SECOND
           GROUP BY b1.e1t),
         b3 AS (SELECT CASE WHEN date_part('microseconds', e2t) % 1000000 = 0
                            THEN strftime(e2t + INTERVAL 1 SECOND, '%Y-%m-%d %H:%M:%S')
                            ELSE strftime(e2t + INTERVAL 1 SECOND, '%Y-%m-%d %H:%M:%S.%f') END AS s3
                FROM b2)
         SELECT 'data-loaded-to-s3' AS status, '2020-01-01 00:00:00' AS start_value,
                b1.e1 AS end_value, b1.n1 AS source_count,
                CAST(0 AS BIGINT) AS target_count,
                'First-time-ingestion' AS reason FROM b1
         UNION ALL SELECT 'success', '2020-01-01 00:00:00', b1.e1, b1.n1, b1.n1,
                'validation-success' FROM b1
         UNION ALL SELECT 'data-loaded-to-s3', b2.s2, b2.e2, b2.n2,
                CAST(0 AS BIGINT), 'Subsequent-ingestion' FROM b2
         UNION ALL SELECT 'success', b2.s2, b2.e2, b2.n2, b2.n2,
                'validation-success' FROM b2
         UNION ALL SELECT 'no-data-to-load', b3.s3, b3.s3, CAST(0 AS BIGINT),
                CAST(0 AS BIGINT), 'Subsequent-ingestion' FROM b3"""), Fixture),

    // E2E — LIVE JDBC round-trip, oracle-checked: orders flow parquet →
    // embedded Derby → partitioned JDBC read (pushdown WHERE subquery,
    // strided pk predicates) → aggregate. The oracle computes the same
    // aggregate straight from parquet, so a hash match proves the DB leg
    // is lossless (the reference's actual core path,
    // ingest_mysql_data.py:217-368, exercised against a real database).
    Entry("q67_jdbc_roundtrip", (s, dir) => {
      System.setProperty("derby.stream.error.file", "/tmp/derby.log")
      val url = "jdbc:derby:memory:graftq67;create=true"
      val drv = "org.apache.derby.jdbc.EmbeddedDriver"
      // UPPERCASE write-side names: Spark quotes identifiers on CREATE,
      // and Derby resolves unquoted subquery identifiers as uppercase.
      // Fixed key-range slice: orderkey density is uniform, so the DB
      // fixture stays ~5k rows at ANY sf (the single-JVM embedded-DB
      // insert leg is the fixture, not the operator under test — 10×
      // probe showed it scaling linearly with an unbounded slice).
      val orders = t(s, dir, "orders").filter(col("o_orderkey") <= 20000)
        .select(
          col("o_orderkey").as("O_ORDERKEY"),
          col("o_orderstatus").as("O_ORDERSTATUS"),
          col("o_totalprice").as("O_TOTALPRICE"))
      val p = new java.util.Properties(); p.setProperty("driver", drv)
      orders.write.mode("overwrite").jdbc(url, "APP.ORDERS_RT", p)
      val maxKey = orders.agg(max(col("O_ORDERKEY"))).head().getLong(0)
      val where = graft.sources.Incremental.pushdownWhere(
        "O_ORDERKEY", "1", None, isDatetime = false)
      val opts = graft.sources.Incremental.jdbcOptions(url, "APP", "ORDERS_RT",
        Seq("O_ORDERKEY", "O_ORDERSTATUS", "O_TOTALPRICE"), where,
        "O_ORDERKEY", "1", maxKey.toString, numPartitions = 8) + ("driver" -> drv)
      graft.sources.Incremental.readJdbc(s, opts)
        .groupBy(col("O_ORDERSTATUS").as("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("O_TOTALPRICE") * 100).cast("long")).as("cents"))
    }, Some("""SELECT o_orderstatus, count(*) AS n,
         CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders WHERE o_orderkey >= 1 AND o_orderkey <= 20000 GROUP BY 1"""), Fixture),

    // E2E — file-drop ingestion (S8), oracle-checked: a bounded orders
    // slice is written out as CSV drops, claimed by filename pattern
    // through the processed-file manifest (the second pull must be a
    // no-op), appended to a throwaway lake, and aggregated. The oracle
    // recomputes the aggregate straight from parquet — a hash match
    // proves claim/load is lossless AND exactly-once across pulls (a
    // double-claim would double the counts).
    Entry("q68_file_drop", (s, dir) => {
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft-q68").toString
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
      val data = t(s, dir, "orders").filter(col("o_orderkey") <= 1000)
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      def writeDrop(name: String, xs: Seq[(Long, Long)]): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/in", name),
          (Seq("o_orderkey,cents") ++ xs.map { case (k, c) => s"$k,$c" })
            .mkString("\n").getBytes)
      writeDrop("report_even.csv", data.filter(_._1 % 2 == 0).toSeq)
      writeDrop("report_odd.csv", data.filter(_._1 % 2 == 1).toSeq)
      writeDrop("notes.txt", Seq((0L, 0L))) // must NOT be claimed
      val src = new graft.sources.FileDropSource(s, s"$tmp/in", s"$tmp/manifest")
      val dropSpec = graft.sources.FileDropSpec("orders_rt", "report_.*\\.csv",
        schemaDdl = Some("o_orderkey BIGINT, cents BIGINT"))
      require(src.runOnce(dropSpec, s"$tmp/lake").size == 2)
      require(src.runOnce(dropSpec, s"$tmp/lake").isEmpty) // manifest no-op
      val row = s.read.parquet(s"$tmp/lake")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents")).head()
      dropStaged(java.nio.file.Paths.get(tmp))
      Seq((row.getLong(0), row.getLong(1))).toDF("n", "cents")
    }, Some("""SELECT count(*) AS n,
         CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders WHERE o_orderkey <= 1000"""), Fixture),

    // E2E — transactional commit log, oracle-checked: two txn appends, a
    // writer "crash" that stages a duplicate batch WITHOUT committing
    // (must stay invisible — the rename-swap failure mode this table
    // closes), a transactional compact, and a vacuum. The oracle
    // recomputes the aggregate from parquet: a hash match proves
    // crash-orphans never leak into reads and compaction is lossless.
    Entry("q69_tx_table", (s, dir) => {
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft-q69").toString
      val tbl = s"$tmp/tx/orders"
      val o = t(s, dir, "orders").filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      graft.sink.TxTable.append(s, o.filter(col("o_orderkey") % 2 === 0), tbl)
      graft.sink.TxTable.append(s, o.filter(col("o_orderkey") % 2 === 1), tbl)
      // (q75 exercises the stats/pruning side of the same commit log)
      o.limit(50).write.parquet(s"$tbl/batch-crashed") // staged, never committed
      graft.sink.TxTable.compact(s, tbl, targetRowsPerFile = 1000000L)
      graft.sink.TxTable.vacuum(s, tbl, minAgeMs = 0L)
      val row = graft.sink.TxTable.read(s, tbl)
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents")).head()
      dropStaged(java.nio.file.Paths.get(tmp))
      Seq((row.getLong(0), row.getLong(1))).toDF("n", "cents")
    }, Some("""SELECT count(*) AS n,
         CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders WHERE o_orderkey <= 2000"""), Fixture),

    // T — deterministic stratified corpus sampling (content-hash rates
    // per language): reproducible across engines, reruns, partitionings.
    Entry("q70_stratified_sample", (s, dir) => {
      functions.Sampling.stratifiedSample(t(s, dir, "documents"),
          col("lang"), col("text"),
          ratesBp = Map("en" -> 5000, "de" -> 2500), defaultBp = 1000)
        .select(col("doc_id"), col("lang"))
    }, Some("""SELECT doc_id, lang FROM documents
         WHERE CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT) % 10000 <
           CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500 ELSE 1000 END""")),

    // T — token-budget corpus curation: per language, greedily keep the
    // largest documents until 20k tokens (integer window cumsum). Token
    // counts are REAL merge-table BPE counts (Bpe.DefaultMerges), not
    // whitespace estimates — the oracle replays the merge loop in SQL.
    Entry("q71_token_budget", (s, dir) => {
      val docs = functions.Bpe.withMergedCount(
          t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text")),
          "text", "n_tok", functions.Bpe.DefaultMerges)
        .select(col("doc_id"), col("lang"), col("n_tok").cast("long").as("n_tok"))
      functions.Sampling.tokenBudget(docs, col("lang"), col("n_tok"),
          col("doc_id"), budget = 20000L)
        .select(col("doc_id"), col("lang"), col("n_tok"))
    },
      // token counts are the BPE merge replay (shared bpe CTE block)
      Some(s"""WITH RECURSIVE $bpeCtes,
         t AS (
           SELECT d.doc_id, d.lang, CAST(b.n_tok AS BIGINT) AS n_tok
           FROM documents d JOIN bpe b USING (doc_id))
         SELECT doc_id, lang, n_tok FROM (
           SELECT *, sum(n_tok) OVER (PARTITION BY lang ORDER BY n_tok DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
         WHERE cum <= 20000""")),

    // E2E — transactional ingestion, oracle-checked: two incremental runs
    // of the events table into a TxTable lake (txLake mode: stage →
    // validate → commit; non-inclusive watermark + pk dedup for an
    // exactly-once boundary), then the lake content is aggregated. The
    // oracle aggregates events directly — a hash match proves the
    // two-run transactional lifecycle reconstructs the table exactly.
    Entry("q73_tx_ingestion", (s, dir) => {
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft-q73").toString
      val store = new graft.state.LogStore(s, s"$tmp/logs")
      val run = new graft.driver.IngestionRun(s, s"$tmp/lake", store,
        inclusiveBump = false, txLake = true)
      val spec = graft.model.IngestionSpec(73L, "table", "local", "gate", "events",
        "ts", "", 0, 1, "fs", "", "event_id", "lv", "events_tx_lv", 0,
        Seq(graft.model.PartitionSpec(1, graft.model.PartitionSpec.TimeBased, "ts", "YYYYMMDD")),
        "gate")
      val ev = t(s, dir, "events")
      val cut = "2024-01-15 00:00:00"
      require(run.run(spec, ev.filter(col("ts") < lit(cut)))
        .last.executionStatus == graft.model.RunStatus.Success)
      require(run.run(spec, ev).last.executionStatus == graft.model.RunStatus.Success)
      val row = graft.sink.TxTable.read(s, s"$tmp/lake/gate/events")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("value_cents")).head()
      dropStaged(java.nio.file.Paths.get(tmp))
      Seq((row.getLong(0), row.getLong(1))).toDF("n", "value_cents")
    }, Some("""SELECT count(*) AS n,
         CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events"""), Fixture),

    // D5 — benchmark-contamination detection: corpus docs sharing ≥3
    // distinct 5-grams with the "eval set" (docs 1-20 standing in for a
    // held-out benchmark). Broadcast probe grams, one corpus pass.
    Entry("q74_contamination", (s, dir) => {
      val docs = t(s, dir, "documents")
      functions.Dedup.contaminationPairs(
        docs, "doc_id", "text",
        docs.filter(col("doc_id") <= 20), "doc_id", "text",
        n = 5, minShared = 3,
        excludeSelfPairs = true) // self-probe: corpus and probes share ids
    }, Some("""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                      x -> x <> '') AS t
           FROM documents),
         g AS (
           SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)-3),
             i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]))) AS gram
           FROM toks WHERE len(t) >= 5)
         SELECT d.doc_id, p.doc_id AS probe_id, count(*) AS shared
         FROM g d JOIN g p ON d.gram = p.gram AND p.doc_id <= 20 AND d.doc_id <> p.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 3""")),

    // TX3 — per-file column stats + plan-time pruning: range-disjoint
    // batches commit with o_orderkey min/max stats; the selective read
    // PROVABLY skips files (the require) and must still agree with the
    // oracle's plain range scan — file skipping changes which files
    // open, never which rows qualify.
    Entry("q75_stats_pruned_read", (s, dir) => {
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft-q75").toString
      val tbl = s"$tmp/tx/orders"
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      Seq((1L, 1500L), (1501L, 3000L), (3001L, 4500L), (4501L, Long.MaxValue))
        .foreach { case (a, b) =>
          graft.sink.TxTable.append(s,
            o.filter(col("o_orderkey") >= a && col("o_orderkey") <= b), tbl,
            statsCols = Seq("o_orderkey"))
        }
      val all = graft.sink.TxTable.currentFiles(s, tbl)
      val pruned = graft.sink.TxTable.prunedFiles(s, tbl, "o_orderkey",
        Some("1"), Some("1000"))
      // tripwire calibrated for the gate scale: pruning needs at least
      // one range-disjoint batch fully past the probed range
      if (o.agg(max(col("o_orderkey"))).head().getLong(0) > 3000L)
        require(pruned.nonEmpty && pruned.size < all.size,
          s"stats must prune files: kept ${pruned.size} of ${all.size}")
      val row = graft.sink.TxTable.readPruned(s, tbl, "o_orderkey",
          Some("1"), Some("1000"))
        .filter(col("o_orderkey").between(1L, 1000L))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents")).head()
      dropStaged(java.nio.file.Paths.get(tmp))
      Seq((row.getLong(0), row.getLong(1))).toDF("n", "cents")
    },
      // the pruned read must equal a plain range scan — the file skipping
      // happens Spark-side from committed stats; DuckDB just scans
      Some("""SELECT count(*) AS n,
         CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders WHERE o_orderkey BETWEEN 1 AND 1000"""), Fixture),

    // TX4 — time travel: two disjoint appends, then every historical
    // version re-read FROM THE LOG — v1 must see only the first batch
    // even though the second batch's files sit in the same table dir.
    // The oracle recomputes each version's aggregate from the base table.
    Entry("q78_time_travel", (s, dir) => {
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft-q78").toString
      val tbl = s"$tmp/tx/orders"
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      graft.sink.TxTable.append(s, o.filter(col("o_orderkey") % 2 === 0), tbl) // v1
      graft.sink.TxTable.append(s, o.filter(col("o_orderkey") % 2 === 1), tbl) // v2
      val out = (1L to 2L).map { v =>
        val r = graft.sink.TxTable.readAt(s, tbl, v)
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents")).head()
        (v, r.getLong(0), r.getLong(1))
      }
      dropStaged(java.nio.file.Paths.get(tmp))
      out.toDF("version", "n", "cents")
    },
      // each historical version re-aggregates from the base table: v1 =
      // even keys only, v2 = everything
      Some("""SELECT CAST(1 AS BIGINT) AS version, count(*) AS n,
           CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders WHERE o_orderkey % 2 = 0
         UNION ALL
         SELECT CAST(2 AS BIGINT), count(*),
           CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
         FROM orders"""), Fixture),

    // J — interval (range) join via the bucketized equi-join operator:
    // events against deliberately bucket-MISALIGNED [day+5h, day+29h)
    // windows. The oracle runs the raw theta-join — a hash match proves
    // the rewrite exact; the Spark plan stays an equi-join (the naive
    // form would be BroadcastNestedLoop, dead at scale).
    Entry("q72_interval_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val iv = ev.select(date_trunc("day", col("ts")).as("d")).distinct()
        .select(col("d"),
          (col("d") + expr("INTERVAL 5 HOURS")).as("start"),
          (col("d") + expr("INTERVAL 29 HOURS")).as("end"))
      graft.operators.RangeJoin.intervalJoin(
          ev, col("ts"), iv, col("start"), col("end"), bucketMs = 21600000L)
        .groupBy(date_format(col("d"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"))
    }, Some("""WITH iv AS (SELECT DISTINCT date_trunc('day', ts) AS d FROM events)
         SELECT strftime(iv.d, '%Y-%m-%d') AS day, count(*) AS n,
           CAST(sum(CAST(round(e.value*100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events e JOIN iv
           ON e.ts >= iv.d + INTERVAL 5 HOUR AND e.ts < iv.d + INTERVAL 29 HOUR
         GROUP BY 1""")),

    // T — sequence packing, concat-then-chunk (GPT-style pretraining
    // layout): per content-hash shard, documents form one token stream
    // in id order cut into 512-token contexts. Pure window cumsum — the
    // oracle re-derives every offset and bin in integer arithmetic.
    Entry("q80_pack_chunked", (s, dir) => {
      val docs = functions.Bpe.withMergedCount(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "text", "n_tok", functions.Bpe.DefaultMerges)
      functions.Packing.packChunked(docs, col("doc_id"), col("n_tok"),
        contextLen = 512L, nShards = 16)
    },
      // full integer re-derivation of the concat-then-chunk layout: same
      // md5-prefix shard, same window cumsum, same integer-div bins
      Some(s"""WITH RECURSIVE $bpeCtes,
         t AS (
           SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 10000 % 16 AS shard
           FROM bpe),
         w AS (
           SELECT doc_id, n_tok, shard,
             CAST(COALESCE(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
           FROM t)
         SELECT doc_id, n_tok, shard, tok_offset,
           tok_offset // 512 AS start_bin,
           (tok_offset + greatest(n_tok, 1) - 1) // 512 AS end_bin,
           (tok_offset + greatest(n_tok, 1) - 1) // 512 - tok_offset // 512 + 1 AS n_bins
         FROM w""")),

    // T — sequence packing, first-fit whole documents: greedy bin fill
    // per shard (loop-carried state → sorted mapPartitions). The oracle
    // replays the same greedy fill as a recursive CTE — a hash match
    // proves the distributed scan's sequential semantics exactly.
    Entry("q81_pack_firstfit", (s, dir) => {
      val docs = functions.Bpe.withMergedCount(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "text", "n_tok", functions.Bpe.DefaultMerges)
      functions.Packing.packFirstFit(docs, col("doc_id"), col("n_tok"),
        budget = 512L, nShards = 16)
    },
      // the greedy first-fit fill replayed as a recursive CTE: one
      // iteration consumes one document per shard, carrying (fill, bin) —
      // the exact loop the Spark side runs inside each sorted partition
      Some(s"""WITH RECURSIVE $bpeCtes,
         base AS (
           SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 10000 % 16 AS shard
           FROM bpe),
         t AS (
           SELECT shard, doc_id, n_tok,
             row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
           FROM base),
         fill AS (
           SELECT shard, rn, doc_id, n_tok, n_tok AS fill, CAST(0 AS BIGINT) AS bin
           FROM t WHERE rn = 1
           UNION ALL
           SELECT t.shard, t.rn, t.doc_id, t.n_tok,
             CASE WHEN f.fill + t.n_tok > 512 THEN t.n_tok ELSE f.fill + t.n_tok END,
             CASE WHEN f.fill + t.n_tok > 512 THEN f.bin + 1 ELSE f.bin END
           FROM t JOIN fill f ON t.shard = f.shard AND t.rn = f.rn + 1)
         SELECT shard, doc_id, bin FROM fill""")),

    // L — z-order (Morton) interleave key: the multi-dimensional layout
    // sort key as pure codegen bit arithmetic. The oracle re-derives
    // every bit in SQL; the layout win itself (fewer files opened on a
    // trailing-column predicate) is pinned by ZOrderSpec against
    // TxTable's committed per-file stats.
    Entry("q83_zorder", (s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          (col("o_custkey") % 256).as("x"),
          least(expr("CAST(round(o_totalprice*100) AS BIGINT) div 250000"),
            lit(255L)).as("y"))
        .withColumn("z", graft.sink.ZOrder.zValue(Seq(col("x"), col("y")), 8))
    },
      // bit-exact Morton interleave: sum of disjoint-bit terms == OR fold
      Some("""WITH b AS (
           SELECT o_orderkey, o_custkey % 256 AS x,
             least(CAST(round(o_totalprice*100) AS BIGINT) // 250000, 255) AS y
           FROM orders)
         SELECT o_orderkey, x, y,
           CAST(sum((((x >> r) & 1) << (2*r)) | (((y >> r) & 1) << (2*r+1))) AS BIGINT) AS z
         FROM b, range(8) t(r)
         GROUP BY o_orderkey, x, y""")),

    // T — overlapping chunk spans (RAG/long-context prep): 128-token
    // windows advancing by 96. Pure per-row generator — no shuffle;
    // the oracle re-derives every span in integer arithmetic.
    Entry("q85_chunk_spans", (s, dir) => {
      val docs = functions.Bpe.withMergedCount(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "text", "n_tok", functions.Bpe.DefaultMerges)
      functions.Packing.chunkSpans(docs, col("doc_id"), col("n_tok"),
        size = 128, overlap = 32)
    }, Some(s"""WITH RECURSIVE $bpeCtes,
         t AS (SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok FROM bpe),
         c AS (SELECT doc_id, n_tok,
                 1 + greatest(0, (n_tok - 128 + 95) // 96) AS n_chunks FROM t),
         u AS (SELECT doc_id, n_tok, unnest(range(n_chunks)) AS chunk_idx FROM c)
         SELECT doc_id, n_tok, chunk_idx,
           chunk_idx * 96 AS tok_start,
           least(chunk_idx * 96 + 128, n_tok) AS tok_end
         FROM u""")),

    // M — REAL WAV audio decode: per-doc 16-bit PCM WAV bytes built and
    // parsed through the JDK's javax.sound.sampled (genuine RIFF
    // container round trip), features are exact integer aggregates over
    // the PCM stream. The oracle regenerates the closed-form sample
    // stream and aggregates it — only a real decode matches.
    Entry("q86_audio_features", (s, dir) => {
      implicit val sp: org.apache.spark.sql.SparkSession = s
      val wav = functions.Multimodal.syntheticAudio(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      functions.Multimodal.extractAudioFeatures(wav).toDF()
    },
      // regenerate the closed-form PCM stream and aggregate — matching
      // requires the Spark side to have decoded the actual WAV container
      Some("""WITH ids AS (
           SELECT doc_id, 1000 + doc_id % 500 AS n,
                  CAST(8000 + (doc_id % 4) * 4000 AS INTEGER) AS sample_rate
           FROM documents),
         s AS (SELECT doc_id, n, sample_rate, unnest(range(n)) AS i FROM ids),
         smp AS (SELECT doc_id, n, sample_rate,
                   ((i*7919 + doc_id*104729) % 65536) - 32768 AS v FROM s)
         SELECT doc_id AS id, sample_rate, CAST(1 AS INTEGER) AS channels,
           CAST(n AS BIGINT) AS n_samples,
           CAST(max(abs(v)) AS BIGINT) AS peak_abs,
           CAST(sum(v) AS BIGINT) AS sum_samples,
           CAST(sum(abs(v)) AS BIGINT) AS sum_abs
         FROM smp GROUP BY doc_id, sample_rate, n""")),

    // V — symmetric int8 embedding quantization: 4× storage cut before
    // anything shuffles. Explicit floor(x+0.5) rounding so every code
    // hash-matches across engines (round-half semantics differ).
    Entry("q87_quantize_int8", (s, dir) => {
      // the quantized array STAGED: q_str and q_sum each wrap it in a
      // different maximal lambda, so an inline `q` would run the whole
      // int8 quantization twice per row (PlanAudit nested-subtree rule)
      t(s, dir, "embeddings")
        .select(col("vec_id"), functions.Quantize.int8(col("embedding")).as("__q"))
        .select(col("vec_id"),
          concat_ws(",", transform(col("__q"), x => x.cast("string"))).as("q_str"),
          aggregate(col("__q"), lit(0L), (acc, x) => acc + x).as("q_sum"))
    },
      // identical floor(x+0.5) quantizer over double-cast floats
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
                    FROM embeddings),
         m AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) AS vmax FROM e),
         q AS (SELECT vec_id,
                 list_transform(v, x -> CASE WHEN vmax = 0 THEN 0
                   ELSE greatest(-127, least(127,
                     CAST(floor(x*127.0/vmax + 0.5) AS BIGINT))) END) AS qv
               FROM m)
         SELECT vec_id, array_to_string(qv, ',') AS q_str,
           CAST(list_sum(qv) AS BIGINT) AS q_sum
         FROM q""")),

    // W — SCD type-2 dimension build: each customer's order-status
    // change log collapses to validity intervals (gaps-and-islands,
    // one key exchange). valid_to IS NULL marks the current version.
    Entry("q82_scd2_intervals", (s, dir) => {
      val o = t(s, dir, "orders")
      graft.operators.Scd2.intervals(o, col("o_custkey"),
          col("o_orderdate"), col("o_orderkey"), col("o_orderstatus"))
        .select(col("k").as("custkey"), col("value").as("status"),
          col("valid_from"), col("valid_to"), col("n_rows"))
    },
      // identical gaps-and-islands windows: change flag → running island
      // id → per-island bounds with lead() chaining valid_to
      Some("""WITH log AS (
           SELECT o_custkey AS k, o_orderdate AS ts, o_orderkey AS tie,
                  o_orderstatus AS v
           FROM orders),
         flagged AS (
           SELECT k, ts, tie, v,
             CASE WHEN row_number() OVER (PARTITION BY k ORDER BY ts, tie) = 1 THEN 1
                  WHEN NOT (v IS NOT DISTINCT FROM
                            lag(v) OVER (PARTITION BY k ORDER BY ts, tie)) THEN 1
                  ELSE 0 END AS chg
           FROM log),
         islands AS (
           SELECT *, sum(chg) OVER (PARTITION BY k ORDER BY ts, tie
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           FROM flagged),
         iv AS (
           SELECT k, island, min(v) AS status, min(ts) AS valid_from,
                  CAST(count(*) AS BIGINT) AS n_rows
           FROM islands GROUP BY k, island)
         SELECT k AS custkey, status, valid_from,
           lead(valid_from) OVER (PARTITION BY k ORDER BY island) AS valid_to,
           n_rows
         FROM iv""")),

    // G — link-graph reputation (fixed-iteration weighted PageRank, exact
    // fixed-point integer arithmetic): the host-ranking signal web-corpus
    // curation sorts sources by. Graph: nation→nation trade edges
    // (customer nation → supplier nation, weight = lineitem count).
    // 5 Pregel-shaped rounds of (edge ⋈ rank) + groupBy(dst); the oracle
    // unrolls the identical recurrence — `//` floor division, BIGINT
    // casts — so the result is bit-exact, not approximately equal.
    Entry("q130_nation_pagerank", (s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val su = t(s, dir, "supplier")
      val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(su, li("l_suppkey") === su("s_suppkey"))
        .groupBy(c("c_nationkey").as("src"), su("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("w"))
      graft.operators.PageRank.run(edges, "src", "dst", "w", iters = 5)
        .join(broadcast(t(s, dir, "nation")), col("node") === col("n_nationkey"))
        .select(col("n_name"), col("rank").as("rank_ppb"))
    },
      // the identical fixed-point recurrence, unrolled: `//` floor division
      // on non-negative operands == Spark's `div`; CAST pins DuckDB's
      // HUGEINT sum promotion back to BIGINT at each rank
      Some {
        def iter(k: Int): String =
          s"""r$k AS (
           SELECT n.node,
             CAST((SELECT tele FROM b) + (85 * COALESCE(i.inflow, 0)) // 100 AS BIGINT) AS r
           FROM nodes n LEFT JOIN (
             SELECT e.dst AS node, SUM((r.r * e.w) // e.outw) AS inflow
             FROM e JOIN r${k - 1} r ON r.node = e.src GROUP BY e.dst) i
           ON n.node = i.node)"""
        s"""WITH e0 AS (
           SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
           FROM lineitem l
           JOIN orders o ON l.l_orderkey = o.o_orderkey
           JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN supplier s ON l.l_suppkey = s.s_suppkey
           GROUP BY 1, 2),
         outd AS (SELECT src, CAST(SUM(w) AS BIGINT) AS outw FROM e0 GROUP BY src),
         e AS (SELECT e0.src, e0.dst, e0.w, outd.outw
               FROM e0 JOIN outd ON e0.src = outd.src),
         nodes AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
         b AS (SELECT CAST(1000000000 // COUNT(*) AS BIGINT) AS base,
                      CAST((15 * (1000000000 // COUNT(*))) // 100 AS BIGINT) AS tele
               FROM nodes),
         r0 AS (SELECT node, (SELECT base FROM b) AS r FROM nodes),
         ${(1 to 5).map(iter).mkString(",\n")}
         SELECT n_name, r.r AS rank_ppb
         FROM r5 r JOIN nation ON r.node = n_nationkey"""
      }),

    // R — inverted-index build (RAG/search prep): per-term document
    // frequency, total term frequency, and the sorted posting list
    // rendered on-wire. One explode + two term-keyed shuffles; the maxDf
    // tripwire makes a stopword-hot list fail loudly, not OOM silently.
    Entry("q131_inverted_index", (s, dir) => {
      functions.Retrieval.invertedIndex(
        functions.Retrieval.postings(t(s, dir, "documents"),
          col("doc_id"), col("text")))
    },
      // identical whitespace tokenization + posting aggregation; sorted
      // posting list compared as its on-wire string
      Some("""WITH toks AS (
           SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
           FROM documents),
         p AS (
           SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks WHERE term <> '' GROUP BY term, doc_id)
         SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS sum_tf,
           array_to_string(list_sort(list(doc_id)), ',') AS ids
         FROM p GROUP BY term""")),

    // R — conjunctive (AND) Boolean retrieval: documents containing all
    // three query terms, scored by summed tf. The term filter runs
    // BEFORE the shuffle, so only query-term postings move — retrieval
    // cost is O(posting lists touched), never O(corpus).
    Entry("q132_boolean_search", (s, dir) => {
      functions.Retrieval.conjunctive(t(s, dir, "documents"),
          col("doc_id"), col("text"), Seq("dup", "merge", "vector"))
        .select(col("id").as("doc_id"), col("sum_tf"))
    }, Some("""WITH toks AS (
           SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
           FROM documents),
         p AS (
           SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks WHERE term <> '' GROUP BY term, doc_id)
         SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS sum_tf
         FROM p WHERE term IN ('dup', 'merge', 'vector')
         GROUP BY doc_id HAVING COUNT(*) = 3""")),

    // TS — hourly LOCF gap-fill: resample each user's irregular event
    // stream onto its hourly grid, carrying the last observation across
    // gaps (deterministic within-hour argmax by (ts, event_id)). Money
    // rides as integer cents, so the carried values hash-match exactly.
    Entry("q133_gapfill_locf", (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      graft.operators.GapFill.locf(e, col("user_id"), col("us"),
          col("event_id"), col("cents"), stepUs = 3600000000L)
        .select(col("key").as("user_id"), col("step").as("hour_idx"),
          col("filled").as("cents"), col("is_obs"))
    },
      // identical grid + LOCF: epoch_us floor-division steps, row_number
      // replay of the within-step argmax, IGNORE NULLS carry
      Some("""WITH e AS (
           SELECT user_id, epoch_us(ts) AS us, event_id,
                  CAST(round(value*100) AS BIGINT) AS cents
           FROM events),
         s AS (SELECT user_id, us // 3600000000 AS step, us, event_id, cents
               FROM e),
         obs AS (
           SELECT user_id, step, cents FROM (
             SELECT *, row_number() OVER (PARTITION BY user_id, step
               ORDER BY us DESC, event_id DESC) AS rn FROM s)
           WHERE rn = 1),
         b AS (SELECT user_id, min(step) AS lo, max(step) AS hi
               FROM obs GROUP BY user_id),
         grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS step
                  FROM b),
         j AS (SELECT g.user_id, g.step, o.cents AS obs_c
               FROM grid g LEFT JOIN obs o
               ON g.user_id = o.user_id AND g.step = o.step)
         SELECT user_id, step AS hour_idx,
           last_value(obs_c IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY step ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS cents,
           obs_c IS NOT NULL AS is_obs
         FROM j""")),

    // M — image near-dup by perceptual hash: real PNG decode → 64-bit
    // aHash (exact cross-multiplied integer bits, no float), grouped on
    // the hash for duplicate-candidate clusters — the image-corpus
    // first-pass dedup. The oracle regenerates EVERY pixel of every
    // image from the fixture closed form and re-derives all 64 bits;
    // a hash match proves the codec path pooled every real pixel.
    Entry("q134_image_ahash_dups", (s, dir) => {
      implicit val sp: SparkSession = s
      val media = functions.Multimodal.syntheticImages(
        t(s, dir, "documents").select(col("doc_id")), "doc_id", "png")
      val hashes = functions.Multimodal.aHash(media).toDF()
      val groups = hashes.groupBy(col("h_hi"), col("h_lo"))
        .agg(count(lit(1)).as("n_same"))
      hashes.join(groups, Seq("h_hi", "h_lo"))
        .select(col("id").as("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("h_hi"), col("h_lo"),
          col("n_same"))
    },
      // full pixel replay of the checkerboard fixture: per-pixel gray from
      // the parity closed form, 8×8 pooled cells via floor-division bins,
      // bits by the identical cross-multiplied mean comparison
      Some("""WITH imgs AS (
           SELECT doc_id, 16 + (doc_id*7919)%64 AS w, 16 + (doc_id*104729)%64 AS h,
             ((doc_id*131)%256 + (doc_id*137)%256 + (doc_id*139)%256) // 3 AS ga,
             ((doc_id*149)%256 + (doc_id*151)%256 + (doc_id*157)%256) // 3 AS gb
           FROM documents),
         xs AS (SELECT doc_id, w, h, ga, gb, unnest(range(w)) AS x FROM imgs),
         px AS (SELECT doc_id, w, h,
             CASE WHEN (x + y) % 2 = 0 THEN ga ELSE gb END AS g,
             (y*8)//h*8 + (x*8)//w AS c
           FROM (SELECT doc_id, w, h, ga, gb, x, unnest(range(h)) AS y FROM xs)),
         cells AS (SELECT doc_id, c, SUM(g) AS cs, COUNT(*) AS cn
                   FROM px GROUP BY doc_id, c),
         tot AS (SELECT doc_id, SUM(g) AS t_s, COUNT(*) AS tn
                 FROM px GROUP BY doc_id),
         bits AS (SELECT c.doc_id, c.c,
             CASE WHEN c.cs * t.tn > t.t_s * c.cn THEN 1 ELSE 0 END AS b
           FROM cells c JOIN tot t ON c.doc_id = t.doc_id),
         hsh AS (SELECT doc_id,
             CAST(SUM(CASE WHEN c >= 32 THEN b * (CAST(1 AS BIGINT) << (c-32))
                  ELSE 0 END) AS BIGINT) AS h_hi,
             CAST(SUM(CASE WHEN c < 32 THEN b * (CAST(1 AS BIGINT) << c)
                  ELSE 0 END) AS BIGINT) AS h_lo
           FROM bits GROUP BY doc_id),
         grp AS (SELECT h_hi, h_lo, CAST(COUNT(*) AS BIGINT) AS n_same
                 FROM hsh GROUP BY h_hi, h_lo)
         SELECT hsh.doc_id, CAST(i.w AS BIGINT) AS width,
           CAST(i.h AS BIGINT) AS height, hsh.h_hi, hsh.h_lo, grp.n_same
         FROM hsh
         JOIN imgs i ON hsh.doc_id = i.doc_id
         JOIN grp ON hsh.h_hi = grp.h_hi AND hsh.h_lo = grp.h_lo"""), Media),

    // TS — batch sessionization: cut each user's stream into sessions at
    // ≥30-minute inactivity gaps (gaps-and-islands on TIME — the exact
    // batch analog of the streaming session_window path, spec-pinned to
    // agree with it). One key shuffle serves the windows AND the rollup.
    Entry("q135_batch_sessions", (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      graft.operators.Sessionize.sessions(e, col("user_id"), col("us"),
          col("event_id"), gapUs = 1800L * 1000000L,
          valueAggs = Seq(sum(col("cents")).as("cents_total")))
        .select(col("key").as("user_id"), col("session_idx"),
          col("session_start"), col("session_end"), col("n_events"),
          col("cents_total"))
    },
      // identical lag/flag/running-sum islands with the >=-gap rule
      Some("""WITH e AS (
           SELECT user_id, epoch_us(ts) AS us, event_id,
                  CAST(round(value*100) AS BIGINT) AS cents
           FROM events),
         f AS (
           SELECT *, CASE WHEN lag(us) OVER w IS NULL THEN 1
                          WHEN us - lag(us) OVER w >= 1800000000 THEN 1
                          ELSE 0 END AS nw
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         a AS (
           SELECT *, CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT)
             AS session_idx
           FROM f)
         SELECT user_id, session_idx,
           min(us) AS session_start, max(us) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(cents) AS BIGINT) AS cents_total
         FROM a GROUP BY user_id, session_idx""")),

    // T — categorized blocklist safety screen: per-document hit counts
    // against category wordlists (broadcast map-side join on the token
    // stream, counted before any shuffle) and the keep/drop gate — the
    // safety-filter stage next to the PII scrub (q77).
    Entry("q136_blocklist_screen", (s, dir) => {
      functions.Safety.blocklistFlags(t(s, dir, "documents"),
          col("doc_id"), col("text"),
          Map("perf" -> Seq("slow"), "size" -> Seq("big"),
            "unsafe" -> Seq("dup")),
          blockCategories = Set("unsafe"))
        .select(col("id").as("doc_id"), col("n_warn"), col("n_block"),
          col("keep"))
    },
      // identical token join against the category VALUES list; keep gate
      // on the blocking category only
      Some("""WITH bl(term, category) AS (
           VALUES ('slow', 'perf'), ('big', 'size'), ('dup', 'unsafe')),
         toks AS (
           SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
           FROM documents),
         hits AS (
           SELECT doc_id,
             CAST(SUM(CASE WHEN category = 'unsafe' THEN 0 ELSE 1 END) AS BIGINT)
               AS n_warn,
             CAST(SUM(CASE WHEN category = 'unsafe' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_block
           FROM toks JOIN bl USING (term) WHERE term <> ''
           GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(h.n_warn, 0) AS n_warn,
           COALESCE(h.n_block, 0) AS n_block,
           COALESCE(h.n_block, 0) = 0 AS keep
         FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id""")),

    // R — BM25-shaped ranked retrieval in exact integer arithmetic: the
    // k1=6/5, b=3/4 formula cleared to integers with avgdl kept as the
    // exact rational L/N, log-free rational idf. Term filter before the
    // shuffle; top-k via TakeOrderedAndProject (per-partition heaps, no
    // global sort). The oracle replays every scaled score bit for bit.
    Entry("q137_bm25_topk", (s, dir) => {
      functions.Retrieval.bm25TopK(t(s, dir, "documents"),
          col("doc_id"), col("text"), Seq("vector", "merge", "window"),
          k = 10)
        .select(col("id").as("doc_id"), col("dl"), col("n_hit"),
          col("score_sc"))
    },
      // identical cleared-integer BM25: rational idf, avgdl as exact L/N,
      // same div chain (all operands nonnegative, so DuckDB floor-div ==
      // Spark truncating div), same (score desc, id asc) top-10
      Some("""WITH toks AS (
           SELECT doc_id, list_filter(string_split(lower(text), ' '),
                                      x -> x <> '') AS t
           FROM documents),
         lens AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                        CAST(sum(dl) AS BIGINT) AS l_tot FROM lens),
         post AS (
           SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
           FROM (SELECT doc_id, unnest(t) AS term FROM toks)
           WHERE term IN ('vector', 'merge', 'window')
           GROUP BY term, doc_id),
         dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                 FROM post GROUP BY term),
         sc AS (
           SELECT p.doc_id, l.dl,
             CAST(((2*t.n_docs - 2*d.df + 1) * 10000) // (2*d.df + 1)
                  * 22 * p.tf * t.l_tot
                  // (10*p.tf*t.l_tot + 3*t.l_tot + 9*l.dl*t.n_docs)
               AS BIGINT) AS contrib
           FROM post p JOIN dfc d USING (term)
           JOIN lens l ON p.doc_id = l.doc_id CROSS JOIN tot t)
         SELECT doc_id, dl, CAST(count(*) AS BIGINT) AS n_hit,
           CAST(sum(contrib) AS BIGINT) AS score_sc
         FROM sc GROUP BY doc_id, dl
         ORDER BY score_sc DESC, doc_id ASC LIMIT 10""")),

    // D — content-defined chunking: Rabin/FastCDC-style boundaries from
    // LOCAL window hashes, so edits shift only the chunks before the
    // next surviving cut. Pure per-row generator, zero shuffle; every
    // boundary and fingerprint re-derivable in any SQL engine.
    Entry("q138_cdc_chunks", (s, dir) => {
      functions.Packing.cdcChunks(t(s, dir, "documents"),
        col("doc_id"), col("text"), window = 4, divisor = 8)
    },
      // identical CDC boundary rule: cut at c when the 60-bit md5-prefix
      // of the 4 tokens ending before c is ≡ 0 (mod 8); chunk fp over the
      // same 1-based inclusive token slice
      Some("""WITH w AS (SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS ws
                    FROM documents WHERE trim(text) <> ''),
         nz AS (SELECT doc_id, ws, len(ws) AS n FROM w WHERE len(ws) > 0),
         cuts AS (SELECT doc_id, ws,
             list_concat(list_concat([0],
               list_filter(range(4, n), c ->
                 CAST('0x'||substring(md5(array_to_string(ws[c-3:c], ' ')),1,15)
                   AS BIGINT) % 8 = 0)), [n]) AS b
           FROM nz),
         u AS (SELECT doc_id, ws, b, unnest(range(len(b)-1)) AS k FROM cuts)
         SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
           CAST(b[k+1] AS BIGINT) AS tok_start,
           CAST(b[k+2] AS BIGINT) AS tok_end,
           CAST('0x'||substring(md5(array_to_string(ws[b[k+1]+1:b[k+2]], ' ')),1,15)
             AS BIGINT) AS chunk_fp
         FROM u""")),

    // D — chunk-grained duplicate detection over q138's CDC chunks:
    // fingerprints occurring in >= 2 places (the boilerplate passages a
    // doc-level dedup can't see). One groupBy on the 60-bit fp — the
    // shuffle carries (fp, doc, span), never text.
    Entry("q139_cdc_dup_chunks", (s, dir) => {
      functions.Packing.cdcChunks(t(s, dir, "documents"),
          col("doc_id"), col("text"), window = 4, divisor = 8)
        .groupBy(col("chunk_fp"))
        .agg(count(lit(1)).as("n_occ"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("min_doc"),
          min(col("tok_end") - col("tok_start")).as("len_tok"))
        .filter(col("n_occ") >= 2)
    }, Some("""WITH w AS (SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS ws
                    FROM documents WHERE trim(text) <> ''),
         nz AS (SELECT doc_id, ws, len(ws) AS n FROM w WHERE len(ws) > 0),
         cuts AS (SELECT doc_id, ws,
             list_concat(list_concat([0],
               list_filter(range(4, n), c ->
                 CAST('0x'||substring(md5(array_to_string(ws[c-3:c], ' ')),1,15)
                   AS BIGINT) % 8 = 0)), [n]) AS b
           FROM nz),
         u AS (SELECT doc_id, ws, b, unnest(range(len(b)-1)) AS k FROM cuts),
         ch AS (SELECT doc_id, b[k+1] AS s, b[k+2] AS e,
             CAST('0x'||substring(md5(array_to_string(ws[b[k+1]+1:b[k+2]], ' ')),1,15)
               AS BIGINT) AS chunk_fp
           FROM u)
         SELECT chunk_fp, CAST(count(*) AS BIGINT) AS n_occ,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(min(e - s) AS BIGINT) AS len_tok
         FROM ch GROUP BY chunk_fp HAVING count(*) >= 2""")),

    // R — unpivot/melt: the wide→long reshape (Dataset.unpivot, the
    // inverse of q39's pivot). Metrics computed as exact integer cents,
    // melted to one (status, metric, value) row each.
    Entry("q140_unpivot", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          centsSum(col("o_totalprice")).as("cents_total"),
          max(round(col("o_totalprice") * 100).cast("long")).as("cents_max"))
        .unpivot(Array(col("o_orderstatus")),
          Array(col("n_orders"), col("cents_total"), col("cents_max")),
          "metric", "value")
    },
      // UNION ALL re-derivation of the melt (engine-portable; DuckDB's
      // UNPIVOT would also work but adds nothing)
      Some("""WITH w AS (SELECT o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents_total,
             CAST(max(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents_max
           FROM orders GROUP BY o_orderstatus)
         SELECT o_orderstatus, 'n_orders' AS metric, n_orders AS value FROM w
         UNION ALL
         SELECT o_orderstatus, 'cents_total', cents_total FROM w
         UNION ALL
         SELECT o_orderstatus, 'cents_max', cents_max FROM w""")),

    // G — explicit GROUPING SETS with grouping_id: the general form of
    // q37/q38's rollup/cube, plus the bitmask that disambiguates a NULL
    // group value from an aggregated-away dimension.
    Entry("q141_grouping_sets", (s, dir) => {
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          sum(col("l_quantity")).as("sum_qty"))
    },
      // same grouping sets; GROUPING(a,b) carries Spark's bit order
      // (leftmost grouping column = MSB)
      Some("""SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n,
           sum(l_quantity) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""")),

    // A — one-pass table profiler (ANALYZE-style data-quality summary):
    // every column's null/distinct/bounds from a single scan, exploded
    // to one row per column. Exact distinct mode so DuckDB re-derives
    // it; approx (HLL) mode is the lake default, spec-pinned.
    Entry("q142_profile", (s, dir) => {
      graft.operators.Profile.profile(t(s, dir, "documents"),
        Seq("doc_id", "text", "lang", "source", "n_chars"), exact = true)
    },
      // native-type bounds cast to VARCHAR, exact distincts — one UNION ALL
      // branch per profiled column
      Some("""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM documents)
         SELECT 'doc_id' AS "column", n.n_rows,
           CAST(count(doc_id) AS BIGINT) AS n_nonnull,
           n.n_rows - CAST(count(doc_id) AS BIGINT) AS n_null,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
           CAST(min(doc_id) AS VARCHAR) AS min_val,
           CAST(max(doc_id) AS VARCHAR) AS max_val
         FROM documents, n GROUP BY n.n_rows
         UNION ALL
         SELECT 'text', n.n_rows, CAST(count(text) AS BIGINT),
           n.n_rows - CAST(count(text) AS BIGINT),
           CAST(count(DISTINCT text) AS BIGINT),
           CAST(min(text) AS VARCHAR), CAST(max(text) AS VARCHAR)
         FROM documents, n GROUP BY n.n_rows
         UNION ALL
         SELECT 'lang', n.n_rows, CAST(count(lang) AS BIGINT),
           n.n_rows - CAST(count(lang) AS BIGINT),
           CAST(count(DISTINCT lang) AS BIGINT),
           CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
         FROM documents, n GROUP BY n.n_rows
         UNION ALL
         SELECT 'source', n.n_rows, CAST(count(source) AS BIGINT),
           n.n_rows - CAST(count(source) AS BIGINT),
           CAST(count(DISTINCT source) AS BIGINT),
           CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
         FROM documents, n GROUP BY n.n_rows
         UNION ALL
         SELECT 'n_chars', n.n_rows, CAST(count(n_chars) AS BIGINT),
           n.n_rows - CAST(count(n_chars) AS BIGINT),
           CAST(count(DISTINCT n_chars) AS BIGINT),
           CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
         FROM documents, n GROUP BY n.n_rows""")),

    // D — A-priori pairwise frequent itemsets over document token sets:
    // support-prune unigrams BEFORE any pair is generated (monotonicity
    // bound), pairs from a per-row generator — no self-join.
    Entry("q143_token_pairs", (s, dir) => {
      functions.Itemsets.frequentPairs(t(s, dir, "documents"),
        col("doc_id"), col("text"), minSupport = 60)
    },
      // identical A-priori semantics: distinct tokens per doc, support
      // filter, a<b pairs, pair support filter
      Some("""WITH toks AS (
           SELECT doc_id, unnest(list_distinct(list_filter(
             string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
             x -> x <> ''))) AS tok
           FROM documents),
         freq AS (SELECT tok FROM toks GROUP BY tok HAVING count(*) >= 60),
         kept AS (SELECT doc_id, tok FROM toks
                  WHERE tok IN (SELECT tok FROM freq))
         SELECT a.tok AS tok_a, b.tok AS tok_b,
           CAST(count(*) AS BIGINT) AS support
         FROM kept a JOIN kept b
           ON a.doc_id = b.doc_id AND a.tok < b.tok
         GROUP BY a.tok, b.tok HAVING count(*) >= 60""")),

    // A — deterministic per-group mode: most frequent order priority per
    // status, ties broken to the lexicographically largest — one count
    // agg + one argmax via struct max, no window over the full table.
    Entry("q144_mode_per_group", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("__n"))
        .groupBy(col("o_orderstatus"))
        .agg(max(struct(col("__n"), col("o_orderpriority"))).as("__m"))
        .select(col("o_orderstatus"),
          col("__m.o_orderpriority").as("mode_priority"),
          col("__m.__n").as("n_mode"))
    },
      // window re-derivation of the argmax with the same (count desc,
      // priority desc) tie order
      Some("""WITH c AS (SELECT o_orderstatus, o_orderpriority,
             CAST(count(*) AS BIGINT) AS n
           FROM orders GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER (PARTITION BY o_orderstatus
             ORDER BY n DESC, o_orderpriority DESC) AS rn FROM c)
         SELECT o_orderstatus, o_orderpriority AS mode_priority,
           n AS n_mode FROM r WHERE rn = 1""")),

    // ST — cohort retention matrix: users grouped by first-active week,
    // distinct-user counts per week offset. Two aggregations + one join
    // on user_id; weeks are Monday-truncated in both engines.
    Entry("q145_cohort_retention", (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"),
        date_trunc("week", col("ts")).as("w"))
      val first = e.groupBy(col("user_id")).agg(min(col("w")).as("cw"))
      e.distinct().join(first, "user_id")
        .groupBy(date_format(col("cw"), "yyyy-MM-dd").as("cohort_week"),
          (datediff(col("w"), col("cw")) / 7).cast("long").as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    },
      // Monday-truncated weeks in both engines; the offset division is
      // exact (both weeks are truncated, the gap is a multiple of 7 days)
      Some("""WITH e AS (SELECT user_id, date_trunc('week', ts) AS w FROM events),
         f AS (SELECT user_id, min(w) AS cw FROM e GROUP BY user_id),
         d AS (SELECT DISTINCT user_id, w FROM e)
         SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', cw, w) // 7 AS BIGINT) AS week_offset,
           CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_users
         FROM d JOIN f USING (user_id) GROUP BY 1, 2""")),

    // ST — ordered funnel (view → click → purchase, strictly later at
    // each stage): three stage-filtered min-aggregations chained on
    // user_id — the ORDER constraint is in the join predicate, no
    // per-user sort, no window over the full stream.
    Entry("q146_funnel", (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"), col("event_type"), col("ts"))
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val c = e.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      v.join(c.select(col("user_id"), col("t2")), Seq("user_id"), "left")
        .join(p.select(col("user_id"), col("t3")), Seq("user_id"), "left")
        .select(col("user_id"),
          (lit(1) + col("t2").isNotNull.cast("int")
            + col("t3").isNotNull.cast("int")).as("stage"),
          coalesce(date_format(col("t1"), "yyyy-MM-dd HH:mm:ss"), lit("")).as("ts_view"),
          coalesce(date_format(col("t2"), "yyyy-MM-dd HH:mm:ss"), lit("")).as("ts_click"),
          coalesce(date_format(col("t3"), "yyyy-MM-dd HH:mm:ss"), lit("")).as("ts_purchase"))
    },
      // same chained stage mins with the strictly-later predicate in the
      // join, same second-truncated formatting, '' for unreached stages
      Some("""WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
                    WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN v USING (user_id)
               WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN c USING (user_id)
               WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id)
         SELECT user_id,
           CAST(1 + CAST(t2 IS NOT NULL AS INT) + CAST(t3 IS NOT NULL AS INT) AS INT) AS stage,
           coalesce(strftime(t1, '%Y-%m-%d %H:%M:%S'), '') AS ts_view,
           coalesce(strftime(t2, '%Y-%m-%d %H:%M:%S'), '') AS ts_click,
           coalesce(strftime(t3, '%Y-%m-%d %H:%M:%S'), '') AS ts_purchase
         FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""")),

    // ST — exponentially-weighted recent-activity score in EXACT integer
    // arithmetic: the i-th most recent event (up to 16) weighs 2^(16-i)
    // — a binary-exact EWMA with α=1/2, so the score hash-matches any
    // engine. One bounded per-user window, no float pow anywhere.
    Entry("q147_ewma_activity", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 16)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_recent"),
          sum(expr("cents * shiftleft(CAST(1 AS BIGINT), 16 - __rn)")).as("ewma_sc"))
    },
      // identical binary-exact weights via integer shifts — no float pow
      Some("""WITH r AS (SELECT user_id, CAST(round(value*100) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
           FROM events)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_recent,
           CAST(sum(cents * (CAST(1 AS BIGINT) << (16 - rn))) AS BIGINT) AS ewma_sc
         FROM r WHERE rn <= 16 GROUP BY user_id""")),

    // D — T5-style span-corruption masking plan: content-derived span
    // starts (md5 of doc_id:pos), overlap-merged, numbered — the same
    // mask layout re-derivable on any engine or rerun.
    Entry("q148_mask_spans", (s, dir) => {
      functions.SpanMask.maskSpans(t(s, dir, "documents"),
        col("doc_id"), col("text"), rateDiv = 20, spanLen = 3)
    },
      // same md5(doc_id:pos) start selection, same island merge, same
      // per-doc ordinal numbering
      Some("""WITH w AS (SELECT doc_id, len(regexp_extract_all(trim(text), '\S+')) AS n
                    FROM documents WHERE trim(text) <> ''),
         st AS (SELECT doc_id, n, unnest(list_filter(range(0, n), p ->
             CAST('0x'||substring(md5(doc_id::VARCHAR||':'||p::VARCHAR),1,15)
               AS BIGINT) % 20 = 0)) AS p
           FROM w),
         sp AS (SELECT doc_id, p, least(p + 3, n) AS e FROM st),
         isl AS (SELECT doc_id, p, e,
             CASE WHEN p > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY p
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS nw FROM sp),
         i2 AS (SELECT doc_id, p, e,
             sum(nw) OVER (PARTITION BY doc_id ORDER BY p) AS island FROM isl),
         m AS (SELECT doc_id, island, CAST(min(p) AS BIGINT) AS span_start,
             CAST(max(e) AS BIGINT) AS span_end FROM i2 GROUP BY doc_id, island)
         SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY span_start) - 1
             AS BIGINT) AS mask_id,
           span_start, span_end, span_end - span_start AS n_masked
         FROM m""")),

    // D — CCNet-style cross-document boilerplate removal: lines (10-token
    // pseudo-lines — the fixture has no hard newlines) recurring in ≥3
    // distinct docs are template chrome and are stripped corpus-wide;
    // the full cleaned text is hash-checked. Only (60-bit fp, doc)
    // pairs shuffle in the frequency pass.
    Entry("q149_boilerplate_scrub", (s, dir) => {
      functions.Boilerplate.commonLineScrub(
        t(s, dir, "documents"), "doc_id", "text", lineTokens = 10, minDocs = 3)
    },
      // same 10-token pseudo-line split, same 60-bit md5 line fingerprint,
      // same >=3-distinct-docs frequency rule, same ordered rebuild
      Some("""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
           FROM documents),
         lns AS (
           SELECT doc_id, i AS line_no,
             array_to_string(list_slice(t, i*10+1, i*10+10), ' ') AS line
           FROM toks, unnest(range(0, greatest((len(t)+9)//10, 1))) AS u(i)),
         lf AS (
           SELECT doc_id, line_no, line,
             CAST('0x'||substring(md5(line),1,15) AS BIGINT) AS lh
           FROM lns WHERE line <> ''),
         common AS (
           SELECT lh FROM (SELECT lh, count(DISTINCT doc_id) AS df
                           FROM lf GROUP BY lh) WHERE df >= 3),
         keptg AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             string_agg(line, ' ' ORDER BY line_no) AS cleaned
           FROM lf WHERE lh NOT IN (SELECT lh FROM common) GROUP BY doc_id),
         allg AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines FROM lf GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(a.n_lines, 0) AS n_lines,
           COALESCE(k.n_kept, 0) AS n_kept, COALESCE(k.cleaned, '') AS cleaned
         FROM documents d
         LEFT JOIN allg a USING (doc_id) LEFT JOIN keptg k USING (doc_id)""")),

    // T — deterministic crawl-budget cap / exact-k reservoir: keep 20
    // docs per language by lowest 52-bit content rank (ties → id). The
    // TopKByScore partial aggregation shuffles O(k·groups), never a
    // corpus window sort; the oracle replays the rank + tie rule.
    Entry("q150_crawl_budget", (s, dir) => {
      val docs = t(s, dir, "documents")
      val kept = functions.Sampling.capPerGroup(docs, col("lang"),
          col("doc_id"), functions.Sampling.hashRank52(col("doc_id").cast("string")), k = 20)
        .select(col("id").as("doc_id"))
      docs.join(kept, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("lang"), col("n_chars"))
    },
      // same 52-bit md5 rank, same (rank asc, id asc) tie rule, same k
      Some("""SELECT doc_id, lang, n_chars FROM (
           SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY
               CAST('0x'||substring(md5(CAST(doc_id AS VARCHAR)),1,13) AS BIGINT) ASC,
               doc_id ASC) AS rn
           FROM documents) WHERE rn <= 20""")),

    // T — per-source distribution-drift monitor: exact two-sample KS
    // distance of each source's n_chars distribution vs the rest of the
    // corpus, in cross-multiplied integer arithmetic (basis points).
    Entry("q151_ks_drift", (s, dir) => {
      graft.operators.Drift.ksPerGroup(
          t(s, dir, "documents"), col("source"), col("n_chars"))
        .select(col("group").as("source"), col("n"), col("ks_bp"))
    },
      // same dense (group x value) grid, cross-multiplied integer KS
      Some("""WITH cnt AS (SELECT source AS g, n_chars AS v, CAST(count(*) AS BIGINT) AS c
                      FROM documents GROUP BY 1, 2),
         gs AS (SELECT g, CAST(sum(c) AS BIGINT) AS ng FROM cnt GROUP BY g),
         vs AS (SELECT v, CAST(sum(c) AS BIGINT) AS cv FROM cnt GROUP BY v),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
         grid AS (
           SELECT gs.g, gs.ng, vs.v, vs.cv, COALESCE(cnt.c, 0) AS c
           FROM gs CROSS JOIN vs LEFT JOIN cnt ON cnt.g = gs.g AND cnt.v = vs.v),
         st AS (
           SELECT g, ng, v, cv,
             CAST(sum(c) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cumg,
             CAST(sum(cv) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cumall
           FROM grid),
         m AS (
           SELECT g, ng, (SELECT n FROM tot) - ng AS nrest,
             max(abs(cumg * ((SELECT n FROM tot) - ng)
                     - (cumall - cumg) * ng)) AS mx
           FROM st GROUP BY 1, 2, 3)
         SELECT g AS source, ng AS n,
           CAST((mx * 10000) // (ng * nrest) AS BIGINT) AS ks_bp
         FROM m WHERE nrest > 0""")),

    // E2E — LIVE JDBC MERGE upsert (K5's write leg, the half q67's read
    // round-trip leaves untested): two overlapping batches land in Derby
    // through JdbcSink.upsert's ANSI-MERGE dialect, the final DB state is
    // read back and aggregated; the oracle replays last-write-wins from
    // parquet — a hash match proves the distributed DML leg is lossless
    // and the update path actually updates.
    Entry("q152_jdbc_upsert", (s, dir) => {
      System.setProperty("derby.stream.error.file", "/tmp/derby.log")
      val url = "jdbc:derby:memory:graftq152;create=true"
      Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        try st.execute("DROP TABLE APP.ORDERS_UP") catch { case _: Throwable => () }
        st.execute("CREATE TABLE APP.ORDERS_UP (O_ORDERKEY BIGINT PRIMARY KEY, CENTS BIGINT)")
      } finally conn.close()
      // fixed key slice: DB fixture stays ~5k rows at any sf (q67's rule)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey").as("O_ORDERKEY"),
          round(col("o_totalprice") * 100).cast("long").as("CENTS"))
      val b1 = orders.filter(col("O_ORDERKEY") <= 2000)
      val b2 = orders.filter(col("O_ORDERKEY") > 1000 && col("O_ORDERKEY") <= 3000)
        .withColumn("CENTS", col("CENTS") + 77700L)
      // 2 writer connections: enough to prove the distributed leg while
      // keeping Derby's lock-escalated concurrent-MERGE contention (the
      // partition-level retry's job) off the gate's critical path
      graft.sink.JdbcSink.upsert(b1.repartition(2), url, "APP.ORDERS_UP",
        mergeKeys = Seq("O_ORDERKEY"))
      graft.sink.JdbcSink.upsert(b2.repartition(2), url, "APP.ORDERS_UP",
        mergeKeys = Seq("O_ORDERKEY"))
      val p = new java.util.Properties()
      p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      s.read.jdbc(url, "APP.ORDERS_UP", p)
        .groupBy((col("O_ORDERKEY") <= 1000).as("first_batch_only"))
        .agg(count(lit(1)).as("n"), sum(col("CENTS")).as("cents"))
        .select(col("first_batch_only"), col("n"), col("cents"))
    },
      // last-write-wins replay of the two merge batches: keys <= 1000 keep
      // batch 1's value, (1000, 3000] carry batch 2's +77700
      Some("""WITH fin AS (
           SELECT o_orderkey AS k,
             CASE WHEN o_orderkey > 1000
                  THEN CAST(round(o_totalprice*100) AS BIGINT) + 77700
                  ELSE CAST(round(o_totalprice*100) AS BIGINT) END AS cents
           FROM orders WHERE o_orderkey <= 3000)
         SELECT k <= 1000 AS first_batch_only, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS cents
         FROM fin GROUP BY 1"""), Fixture),

    // D — prefix-filtered EXACT Jaccard similarity self-join (AllPairs /
    // PPJoin) over 3-gram shingle sets: the lossless tier of the dedup
    // family — every pair ≥ 0.6 found, none missed, no hashing. The
    // oracle is the naive all-pairs join, so a hash match PROVES the
    // prefix filter's completeness lemma held on this corpus, not just
    // that the verify step is right. (Shingle sets, not token sets: the
    // template corpus shares vocabulary corpus-wide — unigram Jaccard
    // ≥ 0.6 holds for 57% of ALL pairs, carrying no dedup signal.)
    Entry("q153_prefix_jaccard", (s, dir) => {
      // dfOrder (rarest-elements-first prefixes): measured 4.59 -> 4.07 s
      // at sf0.1 (n=5 medians) — the md5 map pass is heavy enough that
      // running it once-persisted + the smaller candidate buckets beat
      // the extra frequency-rank shuffle pair
      functions.PrefixJoin.shingleHashJaccardJoin(
        t(s, dir, "documents"), "doc_id", "text", n = 3, threshold = 0.6,
        dfOrder = true)
    },
      // the NAIVE all-pairs join: a hash match proves the Spark side's
      // prefix filter lost no qualifying pair (completeness lemma) and
      // invented none (the exact verify)
      Some("""WITH toks AS (
           SELECT doc_id, list_filter(
             string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS t
           FROM documents),
         sets AS (
           SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                  ELSE list_transform(range(1, len(t)-1),
                         i -> t[i]||' '||t[i+1]||' '||t[i+2]) END,
             s -> CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT))) AS sh
           FROM toks),
         s AS (SELECT doc_id, sh, len(sh) AS n FROM sets WHERE len(sh) > 0),
         pairs AS (
           SELECT a.doc_id AS idA, b.doc_id AS idB,
             len(list_intersect(a.sh, b.sh)) AS i, a.n AS na, b.n AS nb
           FROM s a JOIN s b ON b.doc_id > a.doc_id)
         SELECT idA, idB, CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) AS jaccard
         FROM pairs WHERE i * 10000 >= 6000 * (na + nb - i)""")),

    // E2E — row-level snapshot diff: a deterministic mutation of orders
    // (deletes %97, value updates %89, inserts shifted +20M for %101)
    // diffed against the base by key → added/removed/changed. Each side
    // reduces to (key, md5) map-side before the single full-outer join.
    Entry("q154_snapshot_diff", (s, dir) => {
      val base = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderstatus"))
      val v2 = base.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("cents", when(col("o_orderkey") % 89 === 0,
          col("cents") + 1111L).otherwise(col("cents")))
        .unionByName(base.filter(col("o_orderkey") % 101 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 20000000L))
      graft.operators.SnapshotDiff.diff(base, v2, Seq("o_orderkey"))
    },
      // statuses re-derived logically from the mutation rules (deletion
      // wins over update for keys divisible by both 97 and 89)
      Some("""SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, 'removed' AS status
         FROM orders WHERE o_orderkey % 97 = 0
         UNION ALL
         SELECT CAST(o_orderkey AS BIGINT), 'changed'
         FROM orders WHERE o_orderkey % 97 <> 0 AND o_orderkey % 89 = 0
         UNION ALL
         SELECT CAST(o_orderkey + 20000000 AS BIGINT), 'added'
         FROM orders WHERE o_orderkey % 101 = 0"""), Fixture),

    // ST — streaming exact dedup with WATERMARK-BOUNDED state
    // (dropDuplicatesWithinWatermark): state holds only keys first seen
    // within the lateness horizon — the unbounded-state dropDuplicates
    // footgun removed. Keys-only projection makes the emitted row
    // arrival-order independent; the oracle is batch DISTINCT.
    Entry("q155_stream_dedup", (s, dir) => {
      val tmp = stageEvents(dir)
      val name = "graft_q155_" + java.util.UUID.randomUUID().toString.replace("-", "")
      graft.streaming.EventsStream.runToMemory(s, tmp.toString, name,
        df => df.select(col("user_id"), col("event_type"), col("ts"))
          .withWatermark("ts", "24 hours")
          .dropDuplicatesWithinWatermark("user_id", "event_type")
          .select(col("user_id"), col("event_type")),
        outputMode = "append")
      dropStaged(tmp)
      s.table(name)
    }, Some("""SELECT DISTINCT user_id, event_type FROM events"""), Streaming),

    // V — SemDeDup cluster-scoped semantic dedup: k-means buckets (q100's
    // broadcast argmin assignment) confine the exact pairwise cosine to
    // within-cluster blocks; members with a smaller-id ≥0.95 partner in
    // their own cluster drop. The oracle replays assignment AND the
    // within-cluster prune, so the cluster-boundary approximation itself
    // is pinned, not just the survivors.
    Entry("q156_semdedup", (s, dir) => {
      functions.Similarity.semDedup(
        t(s, dir, "embeddings"), "vec_id", "embedding", nClusters = 16, threshold = 0.95)
    },
      // q100's assignment CTE + the within-cluster cosine prune
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
         d AS (SELECT e.vec_id, c.cid,
                 list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
                   + list_dot_product(c.cv, c.cv) AS dist
               FROM e CROSS JOIN c),
         a AS (SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id FROM (
                 SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
                 FROM d) WHERE rn = 1),
         losers AS (
           SELECT DISTINCT y.vec_id
           FROM a x JOIN a y ON y.cluster_id = x.cluster_id AND y.vec_id > x.vec_id
           JOIN e ex ON ex.vec_id = x.vec_id
           JOIN e ey ON ey.vec_id = y.vec_id
           WHERE list_dot_product(ex.v, ey.v)
             / (sqrt(list_dot_product(ex.v, ex.v)) * sqrt(list_dot_product(ey.v, ey.v))) >= 0.95)
         SELECT vec_id, cluster_id FROM a
         WHERE vec_id NOT IN (SELECT vec_id FROM losers)""")),

    // T — iterative proportional fitting (raking) of sampling weights to
    // equal-share (lang × source) marginal targets, 3 alternating passes
    // in pure ppm-integer arithmetic; the corpus is scanned ONCE for the
    // contingency cells, the loop runs on the bounded cell grid.
    Entry("q158_ipf_raking", (s, dir) => {
      functions.Raking.rakeEqualShares(
        t(s, dir, "documents"), "lang", "source", iterations = 3)
    },
      // 3 unrolled row/col scaling passes, integer ppm weights; window
      // sums over BIGINT cells are exact, so every division replays
      Some("""WITH cells AS (
           SELECT CAST(lang AS VARCHAR) AS rowv, CAST(source AS VARCHAR) AS colv,
             CAST(count(*) AS BIGINT) AS n
           FROM documents GROUP BY 1, 2),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS t,
                   CAST(count(DISTINCT rowv) AS BIGINT) AS nr,
                   CAST(count(DISTINCT colv) AS BIGINT) AS nc FROM cells),
         t0 AS (SELECT rowv, colv, n, CAST(1000000 AS BIGINT) AS w FROM cells),
         r1 AS (SELECT rowv, colv, n, CAST(w * ((SELECT (t // nr) * 1000000 FROM tot))
                  // CAST(sum(n*w) OVER (PARTITION BY rowv) AS BIGINT) AS BIGINT) AS w FROM t0),
         c1 AS (SELECT rowv, colv, n, CAST(w * ((SELECT (t // nc) * 1000000 FROM tot))
                  // CAST(sum(n*w) OVER (PARTITION BY colv) AS BIGINT) AS BIGINT) AS w FROM r1),
         r2 AS (SELECT rowv, colv, n, CAST(w * ((SELECT (t // nr) * 1000000 FROM tot))
                  // CAST(sum(n*w) OVER (PARTITION BY rowv) AS BIGINT) AS BIGINT) AS w FROM c1),
         c2 AS (SELECT rowv, colv, n, CAST(w * ((SELECT (t // nc) * 1000000 FROM tot))
                  // CAST(sum(n*w) OVER (PARTITION BY colv) AS BIGINT) AS BIGINT) AS w FROM r2),
         r3 AS (SELECT rowv, colv, n, CAST(w * ((SELECT (t // nr) * 1000000 FROM tot))
                  // CAST(sum(n*w) OVER (PARTITION BY rowv) AS BIGINT) AS BIGINT) AS w FROM c2),
         c3 AS (SELECT rowv, colv, n, CAST(w * ((SELECT (t // nc) * 1000000 FROM tot))
                  // CAST(sum(n*w) OVER (PARTITION BY colv) AS BIGINT) AS BIGINT) AS w FROM r3)
         SELECT rowv, colv, n, w AS w_ppm FROM c3""")),

    // A — Count-Min sketch over event user_ids (4×256, portable salted
    // md5 bucket hashes) with per-key point estimates vs exact counts:
    // the fixed-memory frequency sketch beside q110's Misra-Gries pass.
    Entry("q159_count_min", (s, dir) => {
      functions.CountMin.estimates(
        t(s, dir, "events"), "user_id", depth = 4, width = 256)
    },
      // identical salted-md5 bucket hashes; sketch counters re-derived
      // from the per-key exacts (same sums)
      Some("""WITH ex AS (SELECT CAST(user_id AS VARCHAR) AS key,
                       CAST(count(*) AS BIGINT) AS exact
                     FROM events GROUP BY 1),
         probes AS (
           SELECT key, exact, d,
             CAST(('0x' || substring(md5(CAST(d AS VARCHAR) || ':' || key), 1, 15)) AS BIGINT)
               % 256 AS bucket
           FROM ex, unnest(range(0, 4)) AS u(d)),
         cells AS (
           SELECT d, bucket, CAST(sum(exact) AS BIGINT) AS counter
           FROM probes GROUP BY 1, 2)
         SELECT p.key, p.exact, CAST(min(c.counter) AS BIGINT) AS est
         FROM probes p JOIN cells c USING (d, bucket) GROUP BY 1, 2""")),

    // ST — HOPPING event-time windows (1 h window / 15 min slide): each
    // event lands in exactly 4 overlapping windows; counts + integer
    // cents keep the overlap deterministic. The oracle materializes the
    // 4-fold expansion relationally.
    Entry("q157_hopping_windows", (s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hop_start"),
          col("event_type"), col("n"), col("value_cents"))
    },
      // each event expands into its 4 hops: bucket15(ts) − k·15min, k=0..3
      Some("""WITH ev AS (SELECT ts, event_type, CAST(round(value*100) AS BIGINT) AS cents
                     FROM events),
         hops AS (
           SELECT strftime(time_bucket(INTERVAL '15 minutes', ts)
                           - k * INTERVAL '15 minutes', '%Y-%m-%d %H:%M:%S') AS hop_start,
             event_type, cents
           FROM ev, unnest(range(0, 4)) AS u(k))
         SELECT hop_start, event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS value_cents
         FROM hops GROUP BY 1, 2""")),

    // R — hybrid retrieval with Reciprocal Rank Fusion (Cormack et al.
    // 2009): lexical query-by-document ranking (idf-weighted shared
    // terms, q117's linear integer idf) fused with exact dense cosine
    // ranking (q27's leg) via EXACT integer RRF — every 1/(60+r) is
    // lcm(61..70) div (60+r), so the fused ordering replays bit for bit.
    // Both legs reach the fusion step already trimmed to top-10 per
    // query by the bounded TopKByScore partial aggregation.
    Entry("q160_hybrid_rrf", (s, dir) => {
      functions.Fusion.hybridTopK(
        t(s, dir, "documents"), t(s, dir, "embeddings"),
        queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)
    },
      // both legs re-ranked relationally (lexical idf sums, q27's cosine),
      // fused with the identical exact-integer RRF arithmetic
      Some("""WITH toks AS (
           SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
           FROM documents),
         post AS (
           SELECT doc_id AS id, term, CAST(count(*) AS BIGINT) AS tf
           FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY 1, 2),
         q AS (SELECT DISTINCT id AS query_id, term FROM post WHERE id <= 4),
         dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df_docs FROM post
                 WHERE term IN (SELECT term FROM q) GROUP BY 1),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         lex AS (
           SELECT q.query_id, p.id AS cand_id,
             CAST(sum(p.tf * ((10000 * (SELECT n_docs FROM tot)) // d.df_docs)) AS BIGINT) AS lex_sc
           FROM post p JOIN q ON p.term = q.term JOIN dfc d ON d.term = p.term
           WHERE p.id <> q.query_id GROUP BY 1, 2),
         lexr AS (
           SELECT query_id, cand_id, CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY lex_sc DESC, cand_id ASC) AS BIGINT) AS lex_rank
           FROM lex),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         den AS (
           SELECT qq.vec_id AS query_id, c.vec_id AS cand_id,
             list_dot_product(qq.v, c.v)
               / (sqrt(list_dot_product(qq.v, qq.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
           FROM e qq JOIN e c ON c.vec_id <> qq.vec_id WHERE qq.vec_id <= 4),
         denr AS (
           SELECT query_id, cand_id, CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS BIGINT) AS dense_rank
           FROM den),
         fused AS (
           SELECT COALESCE(l.query_id, d.query_id) AS query_id,
             COALESCE(l.cand_id, d.cand_id) AS cand_id,
             l.lex_rank, d.dense_rank,
             COALESCE(142813628717760 // (60 + l.lex_rank), 0)
               + COALESCE(142813628717760 // (60 + d.dense_rank), 0) AS rrf_sc
           FROM (SELECT * FROM lexr WHERE lex_rank <= 10) l
           FULL OUTER JOIN (SELECT * FROM denr WHERE dense_rank <= 10) d
             ON l.query_id = d.query_id AND l.cand_id = d.cand_id)
         SELECT query_id, cand_id, lex_rank, dense_rank, CAST(rrf_sc AS BIGINT) AS rrf_sc
         FROM (SELECT *, row_number() OVER (
                 PARTITION BY query_id ORDER BY rrf_sc DESC, cand_id ASC) AS rn
               FROM fused) WHERE rn <= 10""")),

    // E2E — order-independent table content checksum (migration/backfill
    // validation): 60-bit row digests summed as two exact 30-bit-half
    // BIGINTs per l_returnflag group. Equal triples <=> equal content
    // multisets regardless of row order, file layout or partitioning —
    // the oracle computes the same sums from its OWN row order, so a
    // hash match proves order independence, not just the arithmetic.
    Entry("q161_table_checksum", (s, dir) => {
      val li = t(s, dir, "lineitem")
      graft.operators.Checksum.grouped(li, col("l_returnflag"),
          concat_ws("|", col("l_orderkey"), col("l_linenumber").cast("long"),
            col("l_partkey"), col("l_suppkey"),
            round(col("l_extendedprice") * 100).cast("long"),
            col("l_returnflag"), col("l_linestatus")))
        .select(col("group").as("l_returnflag"), col("n_rows"),
          col("lo_sum"), col("hi_sum"))
    },
      // same canonical row repr + digest split, summed from DuckDB's own
      // (different) row order — the hash match IS the order-independence
      Some("""WITH r AS (
           SELECT l_returnflag,
             CAST(('0x' || substring(md5(concat_ws('|',
               CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
               CAST(l_partkey AS VARCHAR), CAST(l_suppkey AS VARCHAR),
               CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR),
               l_returnflag, l_linestatus)), 1, 15)) AS BIGINT) AS h
           FROM lineitem)
         SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(h % 1073741824) AS BIGINT) AS lo_sum,
           CAST(sum(h // 1073741824) AS BIGINT) AS hi_sum
         FROM r GROUP BY 1"""), Fixture),

    // T — HTML -> text extraction for crawl bodies: each doc is wrapped
    // in a deterministic page (title, a script whose body contains a
    // bare `<`, a style block, bold tags around 'table', an &amp;
    // entity) and htmlToText recovers the text. The oracle derives the
    // expected output INDEPENDENTLY from the closed form — not by
    // replaying the regex chain — so the strip logic itself is proven,
    // not just mirrored.
    Entry("q162_html_to_text", (s, dir) => {
      val docs = t(s, dir, "documents")
      val html = concat(
        lit("<html><head><title>D"), col("doc_id"),
        lit("</title><script type=\"text/javascript\">var x = 1 < 2;" +
          "</script><style>.c { color: red; }</style></head><body><h1>Doc "),
        col("doc_id"), lit("</h1><p>"),
        regexp_replace(col("text"), "table", "<b>table</b>"),
        lit(" &amp; tail</p></body></html>"))
      docs.select(col("doc_id"),
          functions.TextFunctions.htmlToText(html).as("cleaned"))
        .withColumn("n_chars_clean", length(col("cleaned")).cast("long"))
    },
      // INDEPENDENT closed-form derivation of the cleaned text (never the
      // regex chain): title + heading + body + decoded '&' tail
      Some("""SELECT doc_id,
           'D' || CAST(doc_id AS VARCHAR) || ' Doc ' || CAST(doc_id AS VARCHAR)
             || ' ' || text || ' & tail' AS cleaned,
           CAST(length('D' || CAST(doc_id AS VARCHAR) || ' Doc '
             || CAST(doc_id AS VARCHAR) || ' ' || text || ' & tail') AS BIGINT)
             AS n_chars_clean
         FROM documents""")),

    // T — URL canonicalization for crawl-frontier dedup: deterministic
    // fixture urls (host case, default vs real ports, fragments,
    // tracking params, unsorted params, trailing slashes) canonicalized;
    // the oracle derives the canonical form INDEPENDENTLY from the
    // fixture's closed form, so every rule is proven end-to-end.
    Entry("q163_url_canonicalize", (s, dir) => {
      val docs = t(s, dir, "documents")
      val url = concat(
        lit("HTTPS://WWW.Site"), col("doc_id") % 7, lit(".COM"),
        when(col("doc_id") % 4 === 0, ":443")
          .when(col("doc_id") % 4 === 1, ":8080").otherwise(""),
        lit("/Path/"), col("doc_id"),
        when(col("doc_id") % 3 === 0, "/?utm_source=tw&b=2&a=1")
          .when(col("doc_id") % 3 === 1, "?z=9&utm_campaign=c&fbclid=x&a=1")
          .otherwise("/"),
        when(col("doc_id") % 2 === 0, "#frag").otherwise(""))
      docs.select(col("doc_id"), url.as("url"),
        functions.Urls.canonicalize(url).as("canon_url"))
    },
      // INDEPENDENT closed-form canonical urls: lowercased host, :8080
      // survives / :443 dropped, fragment gone, params filtered + sorted,
      // trailing slash stripped
      Some("""SELECT doc_id,
           'HTTPS://WWW.Site' || CAST(doc_id % 7 AS VARCHAR) || '.COM'
             || CASE WHEN doc_id % 4 = 0 THEN ':443'
                     WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END
             || '/Path/' || CAST(doc_id AS VARCHAR)
             || CASE WHEN doc_id % 3 = 0 THEN '/?utm_source=tw&b=2&a=1'
                     WHEN doc_id % 3 = 1 THEN '?z=9&utm_campaign=c&fbclid=x&a=1'
                     ELSE '/' END
             || CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END AS url,
           'https://www.site' || CAST(doc_id % 7 AS VARCHAR) || '.com'
             || CASE WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END
             || '/Path/' || CAST(doc_id AS VARCHAR)
             || CASE WHEN doc_id % 3 = 0 THEN '?a=1&b=2'
                     WHEN doc_id % 3 = 1 THEN '?a=1&z=9' ELSE '' END AS canon_url
         FROM documents""")),

    // A — first-order Markov transition matrix over per-user event
    // streams ("what happens after X"): one key shuffle for the lag
    // window (frame = previous row only), then a partial-agg'd groupBy
    // over the tiny (from, to) domain; probabilities in exact ppm.
    Entry("q164_markov_transitions", (s, dir) => {
      graft.operators.Transitions.matrix(t(s, dir, "events"),
        col("user_id"), col("event_type"),
        Seq(col("ts").asc, col("event_id").asc))
    },
      // identical lag ordering (ts, event_id) and exact ppm division
      Some("""WITH seq AS (
           SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
         cnt AS (SELECT prev AS from_state, event_type AS to_state,
                   CAST(count(*) AS BIGINT) AS n
                 FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
         ft AS (SELECT from_state, CAST(sum(n) AS BIGINT) AS n_from FROM cnt GROUP BY 1)
         SELECT c.from_state, c.to_state, c.n,
           CAST((c.n * 1000000) // f.n_from AS BIGINT) AS p_ppm
         FROM cnt c JOIN ft f USING (from_state)""")),

    // D — deletion-neighborhood fuzzy record linkage (FastSS/SymSpell):
    // dirty probe names (deterministic 1-edit typos; %7 rows get +3
    // chars and must NOT match) link to the uniquified part catalog via
    // an EQUI-join over single-deletion variant keys — complete for
    // edit distance <= 1, no similarity join, no block scan — then
    // levenshtein verify + argmin. The oracle replays keys, join,
    // verify, and the (dist, id) tie rule.
    Entry("q165_fuzzy_match", (s, dir) => {
      val cat = t(s, dir, "part").select(col("p_partkey").as("cid"),
        concat_ws(" ", col("p_name"), col("p_partkey")).as("cname"))
      val probe = cat.select((col("cid") + 1000000L).as("pid"),
        when(col("cid") % 7 === 0, concat(col("cname"), lit("zzz")))
          .when(col("cid") % 4 === 1,
            concat(substring(col("cname"), 1, 2), expr("substring(cname, 4)")))
          .when(col("cid") % 4 === 2,
            concat(substring(col("cname"), 1, 4), expr("substring(cname, 4)")))
          .when(col("cid") % 4 === 3,
            concat(substring(col("cname"), 1, 1), lit("x"), expr("substring(cname, 3)")))
          .otherwise(col("cname")).as("pname"))
      graft.operators.FuzzyJoin.bestMatch1(probe, col("pid"), col("pname"),
        cat, col("cid"), col("cname"))
    },
      // full replay: same typos, same deletion-variant keys, same
      // candidate equi-join, levenshtein <= 1 verify, (dist, id) argmin
      Some("""WITH cat AS (
           SELECT p_partkey AS cid,
             p_name || ' ' || CAST(p_partkey AS VARCHAR) AS cname
           FROM part),
         probe AS (
           SELECT cid + 1000000 AS pid,
             CASE WHEN cid % 7 = 0 THEN cname || 'zzz'
                  WHEN cid % 4 = 1 THEN substring(cname, 1, 2) || substring(cname, 4)
                  WHEN cid % 4 = 2 THEN substring(cname, 1, 4) || substring(cname, 4)
                  WHEN cid % 4 = 3 THEN substring(cname, 1, 1) || 'x' || substring(cname, 3)
                  ELSE cname END AS pname
           FROM cat),
         pk AS (
           SELECT pid, pname, unnest(list_distinct(list_prepend(pname,
             list_transform(range(1, length(pname) + 1),
               i -> substring(pname, 1, i - 1) || substring(pname, i + 1))))) AS k
           FROM probe),
         ck AS (
           SELECT cid, cname, unnest(list_distinct(list_prepend(cname,
             list_transform(range(1, length(cname) + 1),
               i -> substring(cname, 1, i - 1) || substring(cname, i + 1))))) AS k
           FROM cat),
         cand AS (SELECT DISTINCT pid, cid, pname, cname FROM pk JOIN ck USING (k)),
         v AS (SELECT pid, cid, levenshtein(pname, cname) AS dist FROM cand
               WHERE levenshtein(pname, cname) <= 1)
         SELECT pid AS probe_id, cid AS match_id, CAST(dist AS BIGINT) AS dist
         FROM (SELECT *, row_number() OVER (
                 PARTITION BY pid ORDER BY dist, cid) AS rn FROM v) WHERE rn = 1""")),

    // T — knowledge-cutoff date extraction: ISO-shaped dates injected
    // into the text in closed form; isoDates pulls them back out and
    // the per-doc count + lexicographic max (== latest date) are
    // checked against an INDEPENDENT derivation — the oracle never runs
    // the regex, so extraction itself is proven.
    Entry("q166_date_extract", (s, dir) => {
      val docs = t(s, dir, "documents")
      val aug = concat(col("text"),
        when(col("doc_id") % 5 === 0, "").otherwise(
          concat(lit(" updated 202"), col("doc_id") % 4, lit("-0"),
            col("doc_id") % 9 + 1, lit("-1"), col("doc_id") % 3)),
        when(col("doc_id") % 7 === 0,
          concat(lit(" archived 2019-12-2"), col("doc_id") % 8)).otherwise(""))
      docs.select(col("doc_id"),
        size(functions.TextFunctions.isoDates(aug)).cast("long").as("n_dates"),
        array_max(functions.TextFunctions.isoDates(aug)).as("max_date"))
    },
      // INDEPENDENT closed-form derivation: counts and latest date from
      // the injection rules, never the regex (updated year 202x always
      // beats archived 2019)
      Some("""SELECT doc_id,
           CAST((CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END)
              + (CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dates,
           CASE WHEN doc_id % 5 <> 0
                  THEN '202' || CAST(doc_id % 4 AS VARCHAR) || '-0'
                    || CAST(doc_id % 9 + 1 AS VARCHAR) || '-1'
                    || CAST(doc_id % 3 AS VARCHAR)
                WHEN doc_id % 7 = 0 THEN '2019-12-2' || CAST(doc_id % 8 AS VARCHAR)
                ELSE NULL END AS max_date
         FROM documents""")),

    // T — priority sampling (Duffield–Lund–Thorup 2007) in deterministic
    // integer quantization: top-50 docs by w·10^12 div (rank52+1) with
    // each survivor's τ-capped unbiased weight estimate; ONE bounded
    // TopKByScore pass, τ from the same top-(k+1) rows.
    Entry("q167_priority_sample", (s, dir) => {
      functions.Sampling.prioritySample(
        t(s, dir, "documents"), col("doc_id"), col("n_chars"), k = 50)
    },
      // same integer priorities, same (k+1)-th-priority tau, same cap
      Some("""WITH s AS (
           SELECT doc_id AS id, n_chars AS w,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) AS r
           FROM documents),
         p AS (SELECT id, w, (w * 1000000000000) // (r + 1) AS p_sc FROM s),
         rk AS (SELECT *, row_number() OVER (ORDER BY p_sc DESC, id ASC) AS rn FROM p),
         tau AS (SELECT COALESCE(max(CASE WHEN rn = 51 THEN p_sc END), 0) AS tau FROM rk)
         SELECT id, CAST(w AS BIGINT) AS weight, CAST(p_sc AS BIGINT) AS p_sc,
           CAST(greatest(w * 1000000000000, (SELECT tau FROM tau)) AS BIGINT) AS w_est_sc
         FROM rk WHERE rn <= 50""")),

    // M — energy-threshold activity segmentation over REAL WAV PCM (the
    // VAD shape): per-window Σs² vs the file's own mean window energy in
    // exact cross-multiplied integers, maximal active runs found inside
    // the batched decode — zero shuffle, only segment rows leave the
    // executor. Oracle brute-forces the sample stream and replays
    // windows, threshold and islands relationally.
    Entry("q168_audio_segments", (s, dir) => {
      implicit val sp: org.apache.spark.sql.SparkSession = s
      val wav = functions.Multimodal.syntheticAudio(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      functions.Multimodal.extractAudioSegments(wav).toDF()
    },
      // q86's brute-forced sample stream -> 100-sample window energies ->
      // mean threshold (cross-multiplied) -> gaps-and-islands runs
      Some("""WITH ids AS (SELECT doc_id, 1000 + doc_id % 500 AS n FROM documents),
         s AS (SELECT doc_id, n, unnest(range(n)) AS i FROM ids),
         smp AS (SELECT doc_id, i // 100 AS w,
                   CAST(((i*7919 + doc_id*104729) % 65536) - 32768 AS BIGINT) AS v
                 FROM s),
         wins AS (SELECT doc_id, w, CAST(sum(v*v) AS BIGINT) AS e
                  FROM smp GROUP BY 1, 2),
         tw AS (SELECT doc_id, w, e,
                  CAST(sum(e) OVER (PARTITION BY doc_id) AS BIGINT) AS tot,
                  CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS nw
                FROM wins),
         act AS (SELECT doc_id, w, e,
                   w - row_number() OVER (PARTITION BY doc_id ORDER BY w) AS isl
                 FROM tw WHERE e * nw > tot)
         SELECT doc_id AS id, CAST(min(w) AS BIGINT) AS seg_start,
           CAST(max(w) AS BIGINT) AS seg_end, CAST(count(*) AS BIGINT) AS n_win,
           CAST(sum(e) AS BIGINT) AS energy
         FROM act GROUP BY doc_id, isl"""), Media),

    // V — margin-based alignment scoring (Artetxe & Schwenk 2019, the
    // LASER bitext-mining criterion): cosine normalized by both
    // endpoints' kNN-average similarity de-hubs the ranking; kNN sums
    // fold in ascending value order via explicit element adds and the
    // margin is the literal tree cos·8/(s_x+s_y), so every 4dp-rounded
    // score replays on IEEE engines.
    Entry("q169_margin_align", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") <= 9)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      functions.Similarity.marginTopK(queries, emb, k = 5)
    },
      // identical kNN sums (ascending 4-element fold) and the identical
      // margin tree cos*8/(s_x+s_y); q27's cosine arithmetic throughout
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         pr AS (
           SELECT a.vec_id AS id, b.vec_id AS nid,
             list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
           FROM e a JOIN e b ON b.vec_id <> a.vec_id),
         top4 AS (SELECT id, cos FROM (
                    SELECT id, cos, row_number() OVER (
                      PARTITION BY id ORDER BY cos DESC, nid ASC) AS rn FROM pr)
                  WHERE rn <= 4),
         sm AS (SELECT id, l[1] + l[2] + l[3] + l[4] AS s FROM (
                  SELECT id, list_sort(list(cos)) AS l FROM top4 GROUP BY id)),
         mg AS (
           SELECT p.id AS query_id, p.nid AS match_id,
             p.cos * 8.0 / (sa.s + sb.s) AS margin
           FROM pr p JOIN sm sa ON sa.id = p.id JOIN sm sb ON sb.id = p.nid
           WHERE p.id <= 9)
         SELECT query_id, match_id, round(margin, 4) AS margin_r
         FROM (SELECT *, row_number() OVER (
                 PARTITION BY query_id ORDER BY margin DESC, match_id ASC) AS rn
               FROM mg) WHERE rn <= 5""")),

    // D — exact ASYMMETRIC shingle containment join (|A∩B|/|A| >= 0.8):
    // the quote/excerpt-inclusion relation Jaccard cannot see. Probe
    // prefix vs candidate full-list equi-join; the oracle is the NAIVE
    // all-pairs join, so a hash match proves the containment prefix
    // filter's completeness lemma held, not just the verify.
    Entry("q170_containment_join", (s, dir) => {
      // measured at sf0.1 (n=5 medians): df-order is wall-neutral here
      // (3.84 s both ways — candidate savings cancel against the extra
      // frequency-rank shuffle pair); value order keeps the simpler plan
      functions.PrefixJoin.shingleHashContainmentJoin(
        t(s, dir, "documents"), "doc_id", "text", n = 3, threshold = 0.8)
    },
      // the NAIVE all-pairs containment join (q153's shingle-hash sets):
      // a hash match proves the asymmetric prefix filter lost nothing
      Some("""WITH toks AS (
           SELECT doc_id, list_filter(
             string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS t
           FROM documents),
         sets AS (
           SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                  ELSE list_transform(range(1, len(t)-1),
                         i -> t[i]||' '||t[i+1]||' '||t[i+2]) END,
             s -> CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT))) AS sh
           FROM toks),
         s AS (SELECT doc_id, sh, len(sh) AS n FROM sets WHERE len(sh) > 0),
         pairs AS (
           SELECT a.doc_id AS idA, b.doc_id AS idB,
             len(list_intersect(a.sh, b.sh)) AS i, a.n AS na
           FROM s a JOIN s b ON b.doc_id <> a.doc_id)
         SELECT idA, idB, CAST((i * 10000) // na AS BIGINT) AS cont_bp
         FROM pairs WHERE i * 10000 >= 8000 * na""")),

    // V+T — k-means cluster labeling: q100's broadcast argmin assignment
    // composed with q117's integer TF-IDF, each CLUSTER treated as one
    // document — the salient-terms summary a curation UI shows per
    // semantic bucket. Windows partition over clusters (bounded), the
    // corpus only feeds partial-agg'd counts.
    Entry("q171_cluster_labels", (s, dir) => {
      val assigned = functions.Similarity.assignToLowestIdCentroids(
        t(s, dir, "embeddings"), "vec_id", "embedding", 16)
      val docs = t(s, dir, "documents")
      val terms = docs.join(assigned, docs("doc_id") === assigned("vec_id"))
        .select(col("cluster_id"),
          explode_outer(functions.TextFunctions.tokens(col("text"))).as("term"))
        .filter(col("term").isNotNull)
      val tf = terms.groupBy(col("cluster_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
        // two consumers (cluster-df rollup + final join): cache the
        // (cluster, term, tf) relation, not the tokenize pipeline twice
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("df_cl"))
      val ncl = assigned.agg(countDistinct(col("cluster_id")).as("n_cl"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id"))
        .orderBy(col("score_sc").desc, col("term").asc)
      tf.join(dfc, Seq("term")).crossJoin(broadcast(ncl))
        .withColumn("score_sc", expr("tf * 10000 * n_cl div df_cl"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("cluster_id"), col("rk"), col("term"), col("tf"),
          col("df_cl"), col("score_sc"))
    },
      // q156's assignment CTE + q117's integer tf-idf, clusters as docs
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
         d AS (SELECT e.vec_id, c.cid,
                 list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
                   + list_dot_product(c.cv, c.cv) AS dist
               FROM e CROSS JOIN c),
         a AS (SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id FROM (
                 SELECT vec_id, cid, row_number() OVER (
                   PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d) WHERE rn = 1),
         toks AS (SELECT doc_id, list_filter(
                    string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS t
                  FROM documents),
         terms AS (SELECT a.cluster_id, unnest(tk.t) AS term
                   FROM toks tk JOIN a ON a.vec_id = tk.doc_id),
         tf AS (SELECT cluster_id, term, CAST(count(*) AS BIGINT) AS tf
                FROM terms GROUP BY 1, 2),
         dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df_cl FROM tf GROUP BY 1),
         nc AS (SELECT CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_cl FROM a),
         sc AS (SELECT f.cluster_id, f.term, f.tf, d.df_cl,
                  CAST((f.tf * 10000 * nc.n_cl) // d.df_cl AS BIGINT) AS score_sc
                FROM tf f JOIN dfc d USING (term) CROSS JOIN nc)
         SELECT cluster_id, CAST(rk AS BIGINT) AS rk, term, tf, df_cl, score_sc
         FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id
                 ORDER BY score_sc DESC, term ASC) AS rk FROM sc) WHERE rk <= 3""")),

    // T — 2-D Pareto skyline (Börzsönyi 2001): docs maximizing BOTH
    // length and lexical diversity with neither collapsing into a
    // weighted sum. No all-pairs, no corpus sort: max-y-per-x reduction,
    // sweep over the reduced set, semi-join back. The oracle is the
    // NAIVE NOT-EXISTS domination query — a hash match proves the sweep
    // kept exactly the non-dominated set.
    Entry("q172_pareto_skyline", (s, dir) => {
      // the rlike pre-filter drops exactly the rows whose y was NULL
      // (empty token array) so the coalesce is a value no-op — but it
      // makes y NON-nullable, which stops the semi-join's inferred
      // isnotnull(y) from being pushed down as a Filter that re-states
      // (and re-runs, twice per row) the tokenize lambda
      val m = t(s, dir, "documents")
        .filter(col("text").isNotNull && col("text").rlike("[\\p{L}\\p{N}]"))
        .withColumn("__tk", functions.TextFunctions.tokens(col("text")))
        .select(col("doc_id"), col("n_chars").cast("long").as("x"),
          coalesce(
            expr("cast(size(array_distinct(__tk)) as bigint) * 10000 div size(__tk)"),
            lit(0L)).as("y"))
      graft.operators.Skyline.pareto2D(m, col("doc_id"), col("x"), col("y"))
        .select(col("id").as("doc_id"), col("x").as("n_chars"),
          col("y").as("diversity_bp"))
    },
      // the NAIVE NOT-EXISTS domination query: proves the sweep exact
      Some("""WITH t AS (SELECT doc_id, n_chars, list_filter(
                      string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS tk
                    FROM documents
                    -- mirror the Spark side's rlike pre-filter: token-less
                    -- (null/punctuation-only) docs are out by construction,
                    -- not by fixture luck
                    WHERE text IS NOT NULL AND regexp_matches(text, '[\p{L}\p{N}]')),
         m AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS x,
                 CAST((len(list_distinct(tk)) * 10000) // len(tk) AS BIGINT) AS y
               FROM t)
         SELECT doc_id, x AS n_chars, y AS diversity_bp FROM m p
         WHERE NOT EXISTS (
           SELECT 1 FROM m q WHERE q.x >= p.x AND q.y >= p.y
             AND (q.x > p.x OR q.y > p.y))""")),

    // ST — stateful per-user rate-spike detection (flatMapGroupsWithState):
    // hourly event-time buckets fold in order; a bucket CLOSING with
    // n > 2·prev_closed emits an anomaly. One 3-long struct per user;
    // a user's final bucket never closes, so it never emits — the batch
    // oracle drops each user's last bucket for exactly that reason.
    Entry("q173_rate_spikes", (s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[graft.streaming.EventsStream.Event]
      graft.streaming.EventsStream.rateSpikes(ev, factor = 2L).toDF()
        .select(col("user_id"),
          date_format(col("hour_start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          col("n"), col("prev_n"))
    },
      // batch replay: hourly counts, lag per user, last (never-closed)
      // bucket dropped, spike rule n > 2*prev
      Some("""WITH b AS (SELECT user_id, date_trunc('hour', ts) AS h,
                      CAST(count(*) AS BIGINT) AS n
                    FROM events GROUP BY 1, 2),
         o AS (SELECT user_id, h, n,
                 lag(n) OVER (PARTITION BY user_id ORDER BY h) AS pn,
                 row_number() OVER (PARTITION BY user_id ORDER BY h DESC) AS rdesc
               FROM b)
         SELECT user_id, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_start, n,
           CAST(pn AS BIGINT) AS prev_n
         FROM o WHERE rdesc > 1 AND pn IS NOT NULL AND n > 2 * pn""")),

    // T — training-mix budget allocation by EXACT water-filling: every
    // source as close to the equal share of a half-corpus token budget
    // as its volume allows; the classic sorted closed form replaces the
    // iterative loop — one corpus aggregate, then windows over the
    // |sources| grid only. All integer comparisons/divisions.
    Entry("q174_mix_waterfill", (s, dir) => {
      functions.MixPlanner.waterfill(t(s, dir, "documents"), col("source"),
        size(functions.TextFunctions.tokens(col("text"))))
    },
      // identical sorted closed form: prefix-closed saturation test, then
      // the survivors split the remainder; all integer floor divisions
      Some("""WITH per AS (
           SELECT source, CAST(sum(len(list_filter(
             string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> ''))) AS BIGINT)
             AS tokens
           FROM documents GROUP BY 1),
         tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS t,
                   CAST(count(*) AS BIGINT) AS m FROM per),
         r AS (SELECT source, tokens,
                 CAST(row_number() OVER (ORDER BY tokens ASC, source ASC) AS BIGINT) AS i,
                 CAST(COALESCE(sum(tokens) OVER (ORDER BY tokens ASC, source ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix
               FROM per),
         sat AS (SELECT source, tokens,
                   tokens * ((SELECT m FROM tot) - i + 1)
                     <= ((SELECT t FROM tot) // 2) - prefix AS saturated
                 FROM r),
         sa AS (SELECT CAST(COALESCE(sum(CASE WHEN saturated THEN tokens END), 0) AS BIGINT) AS sat_t,
                  CAST(COALESCE(sum(CASE WHEN saturated THEN 1 END), 0) AS BIGINT) AS sat_m
                FROM sat),
         fin AS (SELECT source, tokens, saturated,
                   CASE WHEN saturated THEN CAST(1000000 AS BIGINT)
                        ELSE least(1000000, ((((SELECT t FROM tot) // 2) - (SELECT sat_t FROM sa))
                          // ((SELECT m FROM tot) - (SELECT sat_m FROM sa))) * 1000000 // tokens)
                   END AS rate_ppm
                 FROM sat)
         SELECT source, tokens, saturated, CAST(rate_ppm AS BIGINT) AS rate_ppm,
           CAST(tokens * rate_ppm // 1000000 AS BIGINT) AS planned_tokens
         FROM fin""")),

    // G — triangle counting on the nation trade graph via degree-ordered
    // edge orientation (Schank-Wagner / Suri-Vassilvitskii): strong
    // trade edges (>= 120 lineitems per directed nation pair) -> orient
    // along (degree, id) -> wedge equi-join -> close. Orientation caps
    // per-node wedge fan-out at O(sqrt E); the oracle counts the same
    // triangles with the naive a<b<c 3-way join.
    Entry("q175_trade_triangles", (s, dir) => {
      val tr = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("cn"), col("s_nationkey").as("sn"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 120 && col("cn") =!= col("sn"))
      graft.operators.Triangles.perNode(tr, col("cn"), col("sn"))
        .select(col("node").as("nationkey"), col("n_triangles"))
    },
      // the naive a<b<c 3-way self-join over the identically-derived
      // strong-edge list — orientation-free, counts each triangle once
      Some("""WITH tr AS (
           SELECT c.c_nationkey AS cn, s.s_nationkey AS sn, count(*) AS cnt
           FROM lineitem l
           JOIN orders o ON l.l_orderkey = o.o_orderkey
           JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN supplier s ON l.l_suppkey = s.s_suppkey
           GROUP BY 1, 2),
         e AS (SELECT DISTINCT least(cn, sn) AS a, greatest(cn, sn) AS b
               FROM tr WHERE cnt >= 120 AND cn <> sn),
         t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
               FROM e e1 JOIN e e2 ON e2.a = e1.b
               JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         nodes AS (SELECT x AS node FROM t UNION ALL SELECT y FROM t
                   UNION ALL SELECT z FROM t)
         SELECT CAST(node AS BIGINT) AS nationkey,
           CAST(count(*) AS BIGINT) AS n_triangles
         FROM nodes GROUP BY 1""")),

    // ST — streaming trending: hopping-window event-type counts drained
    // through the update-mode memory sink (q41's protocol), then ranked
    // top-3 per hop on the materialized counts. The oracle replays the
    // 4-fold hop expansion and the rank rule relationally.
    Entry("q176_stream_trending", (s, dir) => {
      val tmp = stageEvents(dir)
      val name = "graft_q176_" + java.util.UUID.randomUUID().toString.replace("-", "")
      graft.streaming.EventsStream.runToMemory(s, tmp.toString, name,
        df => df.withWatermark("ts", "30 minutes")
          .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n")),
        outputMode = "update")
      dropStaged(tmp)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("hop_start")).orderBy(col("n").desc, col("event_type").asc)
      s.table(name)
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hop_start"),
          col("event_type"), col("n"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
    },
      // q157's hop expansion + the (n desc, type asc) rank rule
      Some("""WITH ev AS (SELECT ts, event_type FROM events),
         hops AS (
           SELECT strftime(time_bucket(INTERVAL '15 minutes', ts)
                           - k * INTERVAL '15 minutes', '%Y-%m-%d %H:%M:%S') AS hop_start,
             event_type
           FROM ev, unnest(range(0, 4)) AS u(k)),
         cnt AS (SELECT hop_start, event_type, CAST(count(*) AS BIGINT) AS n
                 FROM hops GROUP BY 1, 2)
         SELECT hop_start, event_type, n, CAST(rk AS BIGINT) AS rk
         FROM (SELECT *, row_number() OVER (PARTITION BY hop_start
                 ORDER BY n DESC, event_type ASC) AS rk FROM cnt) WHERE rk <= 3"""), Streaming),

    // E2E — INCREMENTAL inverted-index maintenance: the index's term
    // stats (df, sum_tf) are a count/sum aggregate over postings, so the
    // q120 IVM machinery maintains them from the doc table's change feed
    // — late-arriving docs append, GDPR erasures delete, and the index
    // refresh explodes ONLY changed docs into signed posting deltas
    // (bounded file diff REQUIREd), never re-tokenizing the corpus.
    Entry("q177_incremental_index", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-q177").toString
      val tbl = s"$tmp/tx/docs"
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.sink.TxTable.append(s,                                  // v1
        docs.filter(col("doc_id") % 3 =!= 0).repartitionByRange(4, col("doc_id")),
        tbl, statsCols = Seq("doc_id"))
      val index0 = graft.operators.IncrementalView.compute(
        functions.Retrieval.postings(graft.sink.TxTable.readAt(s, tbl, 1L),
          col("doc_id"), col("text")).withColumnRenamed("id", "doc_id"),
        Seq("term"), Seq("tf"))
      graft.sink.TxTable.append(s, docs.filter(col("doc_id") % 3 === 0), tbl) // v2
      graft.sink.TxTable.delete(s,                                  // v3
        docs.filter(col("doc_id") >= 30 && col("doc_id") < 90)
          .select(col("doc_id")), tbl, key = "doc_id")
      val all1 = graft.sink.TxTable.filesAt(s, tbl, 1L).toSet
      val (_, remF) = graft.sink.TxTable.changedFiles(s, tbl, 1L, 3L)
      require(remF.toSet.subsetOf(all1) && remF.size < all1.size,
        s"index refresh must read a bounded file diff (removed " +
          s"${remF.size} of ${all1.size})")
      val feed = graft.sink.TxTable.readChanges(s, tbl, 1L, 3L)
      val postDelta = feed
        .select(col("doc_id"), col("_change_type"),
          explode(split(lower(col("text")), " ")).as("term"))
        .filter(col("term") =!= "")
        .groupBy(col("term"), col("doc_id"), col("_change_type"))
        .agg(count(lit(1)).as("tf"))
      val out = graft.operators.IncrementalView.applied(index0,
          graft.operators.IncrementalView.deltas(postDelta, Seq("term"), Seq("tf")),
          Seq("term"), Seq("tf"))
        .collect()
      dropStaged(java.nio.file.Paths.get(tmp))
      import s.implicits._
      out.toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toDF("term", "df_docs", "sum_tf")
    },
      // full recompute over the final doc set (base + late arrivals −
      // the contiguous erasure slice): the maintained index must equal it
      Some("""WITH toks AS (
           SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
           FROM documents WHERE doc_id < 30 OR doc_id >= 90),
         p AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
               FROM toks WHERE term <> '' GROUP BY 1, 2)
         SELECT term, CAST(count(*) AS BIGINT) AS df_docs,
           CAST(sum(tf) AS BIGINT) AS sum_tf
         FROM p GROUP BY term"""), Fixture),

    // A — equi-depth histogram publishing (optimizer-style column
    // stats): 8 exact PERCENTILE_DISC bucket edges per group from the
    // sort-free rank-selection machinery — no per-group global sort.
    Entry("q178_equidepth_hist", (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      graft.operators.GroupedPercentiles.percentilesByRange(li, col("cents"),
          col("l_returnflag"),
          Seq(1250, 2500, 3750, 5000, 6250, 7500, 8750, 10000), coarse = 1024)
        .select(col("g").as("l_returnflag"), col("p_bp"),
          col("v").as("edge_cents"))
    },
      // q122's exact PERCENTILE_DISC rank formula per group
      Some("""WITH ranked AS (
           SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
           FROM lineitem),
         r2 AS (SELECT l_returnflag, cents,
                  row_number() OVER (PARTITION BY l_returnflag ORDER BY cents) AS rn,
                  count(*) OVER (PARTITION BY l_returnflag) AS tot
                FROM ranked),
         ps(p_bp) AS (VALUES (1250), (2500), (3750), (5000), (6250), (7500),
                             (8750), (10000))
         SELECT l_returnflag, p_bp, cents AS edge_cents
         FROM r2 JOIN ps
           ON rn = GREATEST(1, (CAST(p_bp AS BIGINT) * tot + 9999) // 10000)""")),

    // A — CUPED variance reduction (Deng et al. 2013): per-user
    // pre/post-period outcome totals split at the stream's epoch
    // midpoint, arms by user hash, pooled θ and per-arm adjusted totals
    // in exact basis-point integers.
    Entry("q179_cuped", (s, dir) => {
      val ev = t(s, dir, "events")
      val mid = ev.agg(min(unix_micros(col("ts"))).as("__mn"),
          max(unix_micros(col("ts"))).as("__mx"))
        .select(expr("(__mn + __mx) div 2").as("mid_us"))
      val units = ev.crossJoin(broadcast(mid))
        .groupBy(col("user_id"))
        .agg(
          sum(when(unix_micros(col("ts")) < col("mid_us"),
            round(col("value")).cast("long")).otherwise(0L)).as("x"),
          sum(when(unix_micros(col("ts")) >= col("mid_us"),
            round(col("value")).cast("long")).otherwise(0L)).as("y"))
        .withColumn("arm", (col("user_id") % 2).cast("long"))
      graft.operators.Cuped.adjust(units)
    },
      // identical pooled moments, theta and adjustment arithmetic
      Some("""WITH mid AS (
           SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS mid_us FROM events),
         units AS (
           SELECT user_id,
             CAST(sum(CASE WHEN epoch_us(ts) < (SELECT mid_us FROM mid)
               THEN CAST(round(value) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN epoch_us(ts) >= (SELECT mid_us FROM mid)
               THEN CAST(round(value) AS BIGINT) ELSE 0 END) AS BIGINT) AS y,
             CAST(user_id % 2 AS BIGINT) AS arm
           FROM events GROUP BY user_id),
         g AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx_raw,
                 CAST(sum(x * y) AS BIGINT) AS sxy_raw
               FROM units),
         a AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_units,
                 CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y
               FROM units GROUP BY arm),
         th AS (SELECT CASE WHEN n * sxx_raw - sx * sx > 0
                  THEN (n * sxy_raw - sx * sy) * 10000 // (n * sxx_raw - sx * sx)
                  ELSE 0 END AS theta_bp, n, sx FROM g)
         SELECT a.arm, a.n_units, a.sum_x, a.sum_y,
           CAST(th.theta_bp AS BIGINT) AS theta_bp,
           CAST(a.sum_y * 10000
             - th.theta_bp * (th.n * a.sum_x - a.n_units * th.sx) // th.n AS BIGINT)
             AS adj_sum_bp
         FROM a, th""")),

    // A — hopping-window audience uniques: exact distinct users per
    // 1 h/15 min hop beside the event counts — the dashboard uniques
    // query (the approximate path at extreme cardinality is
    // approx_count_distinct; exact is the oracle-able form).
    Entry("q180_hourly_uniques", (s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"))
        .agg(countDistinct(col("user_id")).as("uniques"),
          count(lit(1)).as("n"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hop_start"),
          col("uniques"), col("n"))
    },
      // hop expansion + exact distinct per hop
      Some("""WITH hops AS (
           SELECT strftime(time_bucket(INTERVAL '15 minutes', ts)
                           - k * INTERVAL '15 minutes', '%Y-%m-%d %H:%M:%S') AS hop_start,
             user_id
           FROM events, unnest(range(0, 4)) AS u(k))
         SELECT hop_start, CAST(count(DISTINCT user_id) AS BIGINT) AS uniques,
           CAST(count(*) AS BIGINT) AS n
         FROM hops GROUP BY 1""")),

    // J — the SCD2 TEMPORAL join: every shipment joined to the customer
    // status version valid AT SHIP TIME (q82's intervals + the keyed
    // bucketized range join — equi-join on (customer, time-bucket), so
    // candidates track versions-per-entity, never a global time bucket).
    // The oracle replays intervals AND the raw theta-join.
    Entry("q181_scd2_temporal_join", (s, dir) => {
      val orders = t(s, dir, "orders")
      // keyed repartition before the interval windows (r14, the r13
      // pair-join idiom): the window's own exchange AQE-coalesces to 2-3
      // tasks (bytes proxy) and the whole SCD2 pipeline — three windows,
      // two sort aggregates — serialized there (profiled: a 1.0 s 3-task
      // broadcast build). A user repartition on the same key satisfies
      // the window's distribution (no extra exchange) but is exempt from
      // coalescing; session-knob-derived width, the scale-adaptive form.
      val iv = graft.operators.Scd2.intervals(
          orders.repartition(col("o_custkey")), col("o_custkey"),
          col("o_orderdate"), col("o_orderkey"), col("o_orderstatus"))
        .select(col("k").as("ck"), col("value").as("status"),
          // orderdate/shipdate parquet is TIMESTAMP_NTZ; cast to instant
          // (value-identical under the session's UTC) for unix_millis
          col("valid_from").cast("timestamp").as("valid_from"),
          coalesce(col("valid_to").cast("timestamp"),
            lit("2003-01-01").cast("timestamp")).as("valid_end"))
      // FanOut: the probe side is one parquet file -> the double hash
      // probe + per-row bucket math + partial agg over every lineitem
      // row ran as one task (§2.5); no-op on multi-split scans
      val facts = graft.util.FanOut(t(s, dir, "lineitem"))
        .join(orders.select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("fk"),
          col("l_shipdate").cast("timestamp").as("ship_ts"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
      graft.operators.RangeJoin.intervalJoinKeyed(facts, col("fk"),
          col("ship_ts"), iv, col("ck"), col("valid_from"), col("valid_end"),
          bucketMs = 30L * 86400000L)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
    },
      // q82's interval CTEs + the raw theta temporal join
      Some("""WITH log AS (
           SELECT o_custkey AS k, o_orderdate AS ts, o_orderkey AS tie,
                  o_orderstatus AS v
           FROM orders),
         flagged AS (
           SELECT k, ts, tie, v,
             CASE WHEN row_number() OVER (PARTITION BY k ORDER BY ts, tie) = 1 THEN 1
                  WHEN NOT (v IS NOT DISTINCT FROM
                            lag(v) OVER (PARTITION BY k ORDER BY ts, tie)) THEN 1
                  ELSE 0 END AS chg
           FROM log),
         islands AS (
           SELECT *, sum(chg) OVER (PARTITION BY k ORDER BY ts, tie
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           FROM flagged),
         iv AS (
           SELECT k, island, min(v) AS status, min(ts) AS valid_from
           FROM islands GROUP BY k, island),
         ivc AS (
           SELECT k, status, valid_from,
             COALESCE(lead(valid_from) OVER (PARTITION BY k ORDER BY island),
                      TIMESTAMP '2003-01-01') AS valid_end
           FROM iv),
         facts AS (
           SELECT o.o_custkey AS fk, l.l_shipdate AS ship_ts,
             CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         j AS (SELECT i.status, f.cents FROM facts f JOIN ivc i
               ON i.k = f.fk AND f.ship_ts >= i.valid_from
                 AND f.ship_ts < i.valid_end)
         SELECT status, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS cents
         FROM j GROUP BY status""")),

    // A — Bradley–Terry preference-strength estimation (the RLHF
    // pairwise-preference model, Hunter 2004's MM iteration in exact
    // integers): per-user event-type duels aggregate into the pairwise
    // grid in ONE pass; 3 MM+normalize rounds run on the bounded grid;
    // the oracle unrolls the identical trajectory.
    Entry("q182_bradley_terry", (s, dir) => {
      val cnt = t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("c"))
      val a = cnt.select(col("user_id"), col("event_type").as("ta"), col("c").as("ca"))
      val b = cnt.select(col("user_id"), col("event_type").as("tb"), col("c").as("cb"))
      val duels = a.join(b, Seq("user_id")).filter(col("ta") < col("tb"))
        .select(
          when(col("ca") > col("cb"), col("ta"))
            .when(col("cb") > col("ca"), col("tb")).as("winner"),
          when(col("ca") > col("cb"), col("tb"))
            .when(col("cb") > col("ca"), col("ta")).as("loser"))
        .filter(col("winner").isNotNull)
        .groupBy(col("winner"), col("loser")).agg(count(lit(1)).as("n"))
      functions.BradleyTerry.strengths(duels, iterations = 3)
    },
      // identical duel rule, then the MM trajectory unrolled — every
      // division an exact floor over the bounded item grid
      Some {
        def iter(k: Int): String = {
          val p = k - 1
          s"""d$k AS (SELECT gs.a AS item,
             CAST(sum(gs.n * 1000000000000 // (sa.s + sb.s)) AS BIGINT) AS den
           FROM gs JOIN t$p sa ON sa.item = gs.a JOIN t$p sb ON sb.item = gs.b
           GROUP BY 1),
         u$k AS (SELECT t$p.item,
             CASE WHEN COALESCE(d$k.den, 0) = 0 THEN t$p.s
                  ELSE CAST(w.w * 1000000000000 // d$k.den AS BIGINT) END AS s
           FROM t$p LEFT JOIN d$k ON d$k.item = t$p.item
           JOIN wins w ON w.item = t$p.item),
         t$k AS (SELECT item, CAST(s * ((SELECT m FROM mm) * 1000000)
             // (SELECT CAST(sum(s) AS BIGINT) FROM u$k) AS BIGINT) AS s
           FROM u$k)"""
        }
        s"""WITH cnt AS (SELECT user_id, event_type, count(*) AS c
                       FROM events GROUP BY 1, 2),
         duels AS (
           SELECT CASE WHEN x.c > y.c THEN x.event_type ELSE y.event_type END AS winner,
                  CASE WHEN x.c > y.c THEN y.event_type ELSE x.event_type END AS loser
           FROM cnt x JOIN cnt y ON x.user_id = y.user_id
             AND x.event_type < y.event_type
           WHERE x.c <> y.c),
         p AS (SELECT winner, loser, CAST(count(*) AS BIGINT) AS n
               FROM duels GROUP BY 1, 2),
         items AS (SELECT DISTINCT item FROM
           (SELECT winner AS item FROM p UNION SELECT loser FROM p)),
         wins AS (SELECT i.item, CAST(COALESCE(sum(p.n), 0) AS BIGINT) AS w
                  FROM items i LEFT JOIN p ON p.winner = i.item GROUP BY 1),
         gs AS (SELECT a, b, CAST(sum(n) AS BIGINT) AS n FROM
           (SELECT winner AS a, loser AS b, n FROM p
            UNION ALL SELECT loser, winner, n FROM p) GROUP BY 1, 2),
         mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM items),
         t0 AS (SELECT item, CAST(1000000 AS BIGINT) AS s FROM items),
         ${iter(1)},
         ${iter(2)},
         ${iter(3)}
         SELECT i.item, w.w AS wins, t3.s AS strength_ppm
         FROM items i JOIN wins w ON w.item = i.item
         JOIN t3 ON t3.item = i.item"""
      }),

    // T — EXACT stratified train/val/test split (80/10/10 PER STRATUM,
    // not in expectation): content-hash ranks through the sort-free
    // grouped ntile — small strata get exact proportions where a
    // Bernoulli hash split drifts. Composition of pinned stages.
    Entry("q183_exact_split", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("rk", functions.Sampling.hashRank52(col("doc_id").cast("string")))
      graft.operators.ScalableNtile
        .ntileByRangeGrouped(docs, 10, col("rk"), col("lang"), Seq(col("doc_id")))
        .select(col("doc_id"), col("lang"),
          when(col("__graft_ntile") <= 8, "train")
            .when(col("__graft_ntile") === 9, "val")
            .otherwise("test").as("split"))
    },
      // NTILE window replay (the q111 parity rule) + the split mapping
      Some("""WITH r AS (
           SELECT doc_id, lang,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) AS rk
           FROM documents),
         nt AS (SELECT doc_id, lang,
                  NTILE(10) OVER (PARTITION BY lang ORDER BY rk, doc_id) AS t
                FROM r)
         SELECT doc_id, lang,
           CASE WHEN t <= 8 THEN 'train' WHEN t = 9 THEN 'val'
                ELSE 'test' END AS split
         FROM nt""")),

    // D — SFT prompt dedup, keep-the-best form: duplicate prompts (first
    // 5 tokens) collapse to the LONGEST response (ties → lowest id) via
    // one struct-max partial aggregation — curation keeps the best copy,
    // not the first seen; no window over the corpus.
    Entry("q184_prompt_dedup", (s, dir) => {
      val docs = t(s, dir, "documents")
      val prompt = concat_ws(" ",
        slice(functions.TextFunctions.tokens(col("text")), 1, 5))
      docs.select(prompt.as("prompt"), col("doc_id"),
          length(col("text")).cast("long").as("len"))
        .groupBy(col("prompt"))
        .agg(count(lit(1)).as("n_candidates"),
          max(struct(col("len"), (-col("doc_id")).as("negid"))).as("__best"))
        .select(col("prompt"), col("n_candidates"),
          (-col("__best.negid")).as("kept_doc_id"),
          col("__best.len").as("kept_len"))
    },
      // (len desc, id asc) argmax replay per prompt
      Some("""WITH toks AS (
           SELECT doc_id, text, list_filter(
             string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS t
           FROM documents),
         p AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
                 array_to_string(t[1:5], ' ') AS prompt
               FROM toks),
         r AS (SELECT prompt, doc_id, len,
                 row_number() OVER (PARTITION BY prompt
                   ORDER BY len DESC, doc_id ASC) AS rn,
                 count(*) OVER (PARTITION BY prompt) AS n
               FROM p)
         SELECT prompt, CAST(n AS BIGINT) AS n_candidates,
           doc_id AS kept_doc_id, len AS kept_len
         FROM r WHERE rn = 1""")),

    // G — HITS hubs & authorities (Kleinberg 1999) on the directed
    // nation trade graph, 3 synchronous rounds in exact fixed-point
    // integers — which nations ROUTE trade (hubs) vs RECEIVE it
    // (authorities), the directional complement of q130's PageRank.
    Entry("q185_trade_hits", (s, dir) => {
      val tr = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("cn"), col("s_nationkey").as("sn"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 120 && col("cn") =!= col("sn"))
      graft.operators.Hits.run(tr, "cn", "sn", iters = 3)
    },
      // the identical mutual-recursion trajectory unrolled: authority
      // half-step from the PREVIOUS hubs, hub half-step from the NEW
      // authorities, sum-normalized to m*1e6 after every half-step
      Some {
        def round(k: Int): String = {
          val p = k - 1
          s"""ar$k AS MATERIALIZED (SELECT e.dst AS node, CAST(sum(h.v) AS BIGINT) AS v
             FROM e JOIN h$p h ON h.node = e.src GROUP BY 1),
         af$k AS MATERIALIZED (SELECT n.node, CAST(COALESCE(ar$k.v, 0) AS BIGINT) AS v
             FROM nodes n LEFT JOIN ar$k ON ar$k.node = n.node),
         a$k AS MATERIALIZED (SELECT node, CAST(v * ((SELECT m FROM mm) * 1000000)
             // (SELECT CAST(sum(v) AS BIGINT) FROM af$k) AS BIGINT) AS v
             FROM af$k),
         hr$k AS MATERIALIZED (SELECT e.src AS node, CAST(sum(a.v) AS BIGINT) AS v
             FROM e JOIN a$k a ON a.node = e.dst GROUP BY 1),
         hf$k AS MATERIALIZED (SELECT n.node, CAST(COALESCE(hr$k.v, 0) AS BIGINT) AS v
             FROM nodes n LEFT JOIN hr$k ON hr$k.node = n.node),
         h$k AS MATERIALIZED (SELECT node, CAST(v * ((SELECT m FROM mm) * 1000000)
             // (SELECT CAST(sum(v) AS BIGINT) FROM hf$k) AS BIGINT) AS v
             FROM hf$k)"""
        }
        s"""WITH tr AS MATERIALIZED (
           SELECT c.c_nationkey AS cn, s.s_nationkey AS sn, count(*) AS cnt
           FROM lineitem l
           JOIN orders o ON l.l_orderkey = o.o_orderkey
           JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN supplier s ON l.l_suppkey = s.s_suppkey
           GROUP BY 1, 2),
         e AS MATERIALIZED (SELECT DISTINCT CAST(cn AS BIGINT) AS src, CAST(sn AS BIGINT) AS dst
               FROM tr WHERE cnt >= 120 AND cn <> sn),
         nodes AS MATERIALIZED (SELECT DISTINCT node FROM
           (SELECT src AS node FROM e UNION SELECT dst FROM e)),
         mm AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS m FROM nodes),
         h0 AS MATERIALIZED (SELECT node, CAST(1000000 AS BIGINT) AS v FROM nodes),
         ${round(1)},
         ${round(2)},
         ${round(3)}
         SELECT n.node, h3.v AS hub_ppm, a3.v AS auth_ppm
         FROM nodes n JOIN h3 ON h3.node = n.node JOIN a3 ON a3.node = n.node"""
      }),

    // ST+K — streaming EXACTLY-ONCE to an RDBMS: hourly counts drain
    // through foreachBatch into Derby, guard row + data MERGE in ONE
    // transaction per batch (JdbcSink.upsertBatchOnce). The stream is
    // then REPLAYED from a fresh checkpoint and every batch is REQUIREd
    // to skip whole on the guard PK — the DB state the oracle checks
    // would double if exactly-once broke.
    Entry("q186_stream_jdbc_once", (s, dir) => {
      System.setProperty("derby.stream.error.file", "/tmp/derby.log")
      val url = "jdbc:derby:memory:graftq186;create=true"
      Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
      val c0 = java.sql.DriverManager.getConnection(url)
      try {
        val st = c0.createStatement()
        Seq("DROP TABLE APP.HOURLY", "DROP TABLE APP.GUARD").foreach(q =>
          try st.execute(q) catch { case _: Throwable => () })
        st.execute("CREATE TABLE APP.HOURLY (HOUR_START VARCHAR(19) NOT NULL, " +
          "EVENT_TYPE VARCHAR(16) NOT NULL, N BIGINT, CENTS BIGINT, " +
          "PRIMARY KEY (HOUR_START, EVENT_TYPE))")
        st.execute("CREATE TABLE APP.GUARD (APP_ID VARCHAR(32) NOT NULL, " +
          "BATCH_ID BIGINT NOT NULL, PRIMARY KEY (APP_ID, BATCH_ID))")
      } finally c0.close()
      val landed = scala.collection.mutable.ArrayBuffer[Boolean]()
      def drain(): Unit = {
        val tmp = stageEvents(dir)
        graft.streaming.EventsStream.runForeachBatch(s, tmp.toString,
          df => graft.streaming.EventsStream.hourlyTypeCounts(df)
            .select(
              date_format(col("hour_start"), "yyyy-MM-dd HH:mm:ss").as("HOUR_START"),
              col("event_type").as("EVENT_TYPE"), col("n").as("N"),
              col("value_cents").as("CENTS")),
          (batch, bid) => {
            val rows = batch.collect().toSeq
            if (rows.nonEmpty)
              landed += graft.sink.JdbcSink.upsertBatchOnce(rows,
                batch.columns.toSeq, url, "APP.HOURLY",
                Seq("HOUR_START", "EVENT_TYPE"), "APP.GUARD", "loader", bid)
          })
        dropStaged(tmp)
      }
      drain()
      val landedFirst = landed.count(identity)
      require(landedFirst >= 1, "first drain must land at least one batch")
      drain() // fresh checkpoint, same deterministic batches
      require(landed.size > landedFirst, "replay must have produced batches")
      require(landed.drop(landedFirst).forall(l => !l),
        "replayed batches must skip whole via the guard")
      val p = new java.util.Properties()
      p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      s.read.jdbc(url, "APP.HOURLY", p)
        .select(col("HOUR_START").as("hour_start"),
          col("EVENT_TYPE").as("event_type"), col("N").as("n"),
          col("CENTS").as("value_cents"))
    },
      // the DB must hold exactly one landing of the hourly aggregate
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
         event_type, count(*) AS n,
         cast(sum(cast(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events GROUP BY 1, 2"""), Streaming),

    // T — dataset card: the one-row summary a data release ships
    // (volume, language spread, exact-dup rate, token totals) — every
    // field exact-integer and re-derivable.
    Entry("q187_data_card", (s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id"), col("lang"), col("n_chars"),
          size(functions.TextFunctions.tokens(col("text"))).cast("long").as("n_tok"),
          md5(col("text")).as("h"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("h")).as("n_unique_texts"),
          sum(col("n_tok")).as("total_tokens"),
          sum(col("n_chars")).as("total_chars"))
        .select(col("n_docs"), col("n_langs"), col("n_unique_texts"),
          col("total_tokens"), col("total_chars"),
          expr("(n_docs - n_unique_texts) * 10000 div n_docs").as("dup_rate_bp"),
          expr("total_chars div n_docs").as("mean_chars"))
    },
      // every card field re-derived
      Some("""WITH t AS (
           SELECT doc_id, lang, n_chars,
             CAST(len(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
               x -> x <> '')) AS BIGINT) AS n_tok,
             md5(text) AS h
           FROM documents),
         g AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                 CAST(count(DISTINCT h) AS BIGINT) AS n_unique_texts,
                 CAST(sum(n_tok) AS BIGINT) AS total_tokens,
                 CAST(sum(n_chars) AS BIGINT) AS total_chars
               FROM t)
         SELECT n_docs, n_langs, n_unique_texts, total_tokens, total_chars,
           CAST((n_docs - n_unique_texts) * 10000 // n_docs AS BIGINT) AS dup_rate_bp,
           CAST(total_chars // n_docs AS BIGINT) AS mean_chars
         FROM g""")),

    // V — product quantization (Jégou et al. 2011): 4 subspaces × 8
    // integer-Lloyd codebooks compress each 64-float vector to a 4-id
    // code word (12 bits); codes AND exact integer reconstruction
    // errors are emitted, and the oracle replays training (subspace as
    // a data dimension), assignment and the error sums bit for bit.
    Entry("q188_pq_encode", (s, dir) => {
      functions.Similarity.pqEncodePortable(
        t(s, dir, "embeddings"), "vec_id", "embedding", dim = 64,
        m = 4, kCentroids = 8, iters = 2)
    },
      // q61's integer-Lloyd replay with SUBSPACE AS A DATA DIMENSION: one
      // CTE chain trains all 4 codebooks; codes and exact reconstruction
      // errors re-derived
      Some {
        def dist(vi: String, c: String): String =
          s"CAST(list_sum(list_transform(range(1, 17), j -> ($vi[j] - $c[j]) * ($vi[j] - $c[j]))) AS BIGINT)"
        def iteration(i: Int): String = {
          val prev = s"c${i - 1}"
          s"""a$i AS MATERIALIZED (
             SELECT ei.vec_id, ei.s, (min([${dist("ei.vi", "c.c")}, c.cid]))[2] AS cid
             FROM eis ei JOIN $prev c ON c.s = ei.s GROUP BY ei.vec_id, ei.s),
           s$i AS MATERIALIZED (
             SELECT a.s, a.cid, r.j AS pos, CAST(sum(ei.vi[r.j]) AS BIGINT) AS sm,
                    CAST(count(*) AS BIGINT) AS n
             FROM a$i a JOIN eis ei ON ei.vec_id = a.vec_id AND ei.s = a.s
             CROSS JOIN range(1, 17) r(j)
             GROUP BY a.s, a.cid, r.j),
           m$i AS MATERIALIZED (
             SELECT s, cid, pos, (sm - ((sm % n) + n) % n) // n AS mn FROM s$i),
           c$i AS MATERIALIZED (
             SELECT p.s, p.cid, list(COALESCE(m.mn, p.c[r.j]) ORDER BY r.j) AS c
             FROM $prev p CROSS JOIN range(1, 17) r(j)
             LEFT JOIN m$i m ON m.s = p.s AND m.cid = p.cid AND m.pos = r.j
             GROUP BY p.s, p.cid)"""
        }
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         eis AS MATERIALIZED (
           SELECT vec_id, s.s AS s,
             list_transform(v[(s.s*16+1):(s.s*16+16)],
               x -> CAST(round(x * 1048576) AS BIGINT)) AS vi
           FROM e CROSS JOIN range(0, 4) s(s)),
         c0 AS MATERIALIZED (
           SELECT s, CAST(rn - 1 AS BIGINT) AS cid, vi AS c FROM (
             SELECT vec_id, s, vi,
               row_number() OVER (PARTITION BY s ORDER BY vec_id) AS rn
             FROM eis) WHERE rn <= 8),
         ${iteration(1)},
         ${iteration(2)},
         fin AS MATERIALIZED (
           SELECT ei.vec_id, ei.s,
             (min([${dist("ei.vi", "c.c")}, c.cid]))[1] AS d,
             (min([${dist("ei.vi", "c.c")}, c.cid]))[2] AS cid
           FROM eis ei JOIN c2 c ON c.s = ei.s GROUP BY ei.vec_id, ei.s)
         SELECT vec_id, string_agg(CAST(cid AS VARCHAR), ',' ORDER BY s) AS code,
           CAST(sum(d) AS BIGINT) AS err_q
         FROM fin GROUP BY vec_id"""
      }),

    // V — PQ top-k by asymmetric distance computation (ADC): queries
    // precompute exact integer distances to every codebook entry; each
    // candidate costs m table LOOKUPS over its m-byte code — the memory
    // shape that fits a billion vectors in an index. All integers, so
    // ranking AND distances replay bit for bit.
    Entry("q189_pq_adc_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") <= 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      functions.Similarity.pqAdcTopK(queries, emb, k = 10, dim = 64)
    },
      // q188's training chain + per-query distance tables + the m-lookup
      // candidate sum, ranked (adc asc, id asc)
      Some {
        def dist(vi: String, c: String): String =
          s"CAST(list_sum(list_transform(range(1, 17), j -> ($vi[j] - $c[j]) * ($vi[j] - $c[j]))) AS BIGINT)"
        def iteration(i: Int): String = {
          val prev = s"c${i - 1}"
          s"""a$i AS MATERIALIZED (
             SELECT ei.vec_id, ei.s, (min([${dist("ei.vi", "c.c")}, c.cid]))[2] AS cid
             FROM eis ei JOIN $prev c ON c.s = ei.s GROUP BY ei.vec_id, ei.s),
           s$i AS MATERIALIZED (
             SELECT a.s, a.cid, r.j AS pos, CAST(sum(ei.vi[r.j]) AS BIGINT) AS sm,
                    CAST(count(*) AS BIGINT) AS n
             FROM a$i a JOIN eis ei ON ei.vec_id = a.vec_id AND ei.s = a.s
             CROSS JOIN range(1, 17) r(j)
             GROUP BY a.s, a.cid, r.j),
           m$i AS MATERIALIZED (
             SELECT s, cid, pos, (sm - ((sm % n) + n) % n) // n AS mn FROM s$i),
           c$i AS MATERIALIZED (
             SELECT p.s, p.cid, list(COALESCE(m.mn, p.c[r.j]) ORDER BY r.j) AS c
             FROM $prev p CROSS JOIN range(1, 17) r(j)
             LEFT JOIN m$i m ON m.s = p.s AND m.cid = p.cid AND m.pos = r.j
             GROUP BY p.s, p.cid)"""
        }
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         eis AS MATERIALIZED (
           SELECT vec_id, s.s AS s,
             list_transform(v[(s.s*16+1):(s.s*16+16)],
               x -> CAST(round(x * 1048576) AS BIGINT)) AS vi
           FROM e CROSS JOIN range(0, 4) s(s)),
         c0 AS MATERIALIZED (
           SELECT s, CAST(rn - 1 AS BIGINT) AS cid, vi AS c FROM (
             SELECT vec_id, s, vi,
               row_number() OVER (PARTITION BY s ORDER BY vec_id) AS rn
             FROM eis) WHERE rn <= 8),
         ${iteration(1)},
         ${iteration(2)},
         codes AS MATERIALIZED (
           SELECT ei.vec_id, ei.s, (min([${dist("ei.vi", "c.c")}, c.cid]))[2] AS cid
           FROM eis ei JOIN c2 c ON c.s = ei.s GROUP BY ei.vec_id, ei.s),
         qt AS MATERIALIZED (
           SELECT ei.vec_id AS query_id, ei.s, c.cid, ${dist("ei.vi", "c.c")} AS d
           FROM eis ei JOIN c2 c ON c.s = ei.s WHERE ei.vec_id <= 20),
         scored AS MATERIALIZED (
           SELECT q.query_id, cd.vec_id AS neighbor_id,
             CAST(sum(q.d) AS BIGINT) AS adc_q
           FROM codes cd JOIN qt q ON q.s = cd.s AND q.cid = cd.cid
           WHERE cd.vec_id <> q.query_id
           GROUP BY 1, 2)
         SELECT query_id, neighbor_id, adc_q
         FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY adc_q ASC, neighbor_id ASC) AS rn
               FROM scored) WHERE rn <= 10"""
      }),

    // E2E — data-quality audit (the Deequ/expectations family as exact
    // aggregates): PK uniqueness, functional dependency, referential
    // integrity, null rate and k-anonymity over a deterministically
    // CORRUPTED orders/lineitem pair, so every rule fires a known count
    // the oracle re-derives from the corruption rules themselves.
    Entry("q190_dq_audit", (s, dir) => {
      val orders = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      // corrupted fixture: %1000==7 orders duplicated with a shifted
      // custkey (PK dups AND FD breaks); parents %97==0 dropped
      // (orphaned lineitems); priority nulled on %53==0
      val corrupted = orders.unionByName(
          orders.filter(col("o_orderkey") % 1000 === 7)
            .withColumn("o_custkey", col("o_custkey") + 1L))
        .filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 53 === 0, lit(null: String))
            .otherwise(col("o_orderpriority")))
      graft.operators.DataQuality.audit(Seq(
        "pk_unique_orderkey" ->
          graft.operators.DataQuality.pkViolations(corrupted, col("o_orderkey")),
        "fd_orderkey_to_custkey" ->
          graft.operators.DataQuality.fdViolations(corrupted,
            col("o_orderkey"), col("o_custkey")),
        "ri_lineitem_orders" ->
          graft.operators.DataQuality.orphans(li, col("l_orderkey"),
            corrupted, col("o_orderkey")),
        "null_priority" ->
          graft.operators.DataQuality.nullCount(corrupted, col("o_orderpriority")),
        "k_anonymity_customer_5" ->
          graft.operators.DataQuality.kAnonymityViolations(
            t(s, dir, "customer"),
            Seq(col("c_nationkey"), col("c_mktsegment")), k = 5)))
    },
      // the corruption replayed mechanically, then each rule re-derived
      Some("""WITH dup AS (
           SELECT o_orderkey, o_custkey + 1 AS o_custkey, o_orderpriority
           FROM orders WHERE o_orderkey % 1000 = 7),
         base AS (
           SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
           UNION ALL SELECT o_orderkey, o_custkey, o_orderpriority FROM dup),
         corr AS (
           SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 53 = 0 THEN NULL
                  ELSE o_orderpriority END AS pri
           FROM base WHERE o_orderkey % 97 <> 0),
         r1 AS (SELECT 'pk_unique_orderkey' AS rule,
                  CAST(COALESCE(sum(n - 1), 0) AS BIGINT) AS n_violations
                FROM (SELECT o_orderkey, count(*) AS n FROM corr GROUP BY 1)
                WHERE n > 1),
         r2 AS (SELECT 'fd_orderkey_to_custkey', CAST(count(*) AS BIGINT) FROM
                (SELECT o_orderkey FROM corr GROUP BY 1
                 HAVING count(DISTINCT o_custkey) > 1)),
         r3 AS (SELECT 'ri_lineitem_orders', CAST(count(*) AS BIGINT)
                FROM lineitem WHERE l_orderkey IS NOT NULL
                  AND l_orderkey NOT IN (SELECT o_orderkey FROM corr)),
         r4 AS (SELECT 'null_priority',
                  CAST(COALESCE(sum(CASE WHEN pri IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
                FROM corr),
         r5 AS (SELECT 'k_anonymity_customer_5', CAST(count(*) AS BIGINT) FROM
                (SELECT c_nationkey, c_mktsegment FROM customer GROUP BY 1, 2
                 HAVING count(*) < 5))
         SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
         UNION ALL SELECT * FROM r4 UNION ALL SELECT * FROM r5""")),

    // V — kNN classification (semi-supervised labeling): every 5th
    // vector is "unlabeled" and takes the majority label of its 5
    // nearest labeled neighbors by exact cosine (ties → smallest
    // label); predictions checked against ground truth. Bounded
    // TopKByScore candidates, one vote aggregation.
    Entry("q191_knn_classify", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val unl = emb.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val lab = emb.filter(col("vec_id") % 5 =!= 0)
      val votes = functions.Similarity.bruteForceTopK(unl, lab, k = 5)
        .join(lab.select(col("vec_id").as("neighbor_id"), col("label")),
          Seq("neighbor_id"))
        .groupBy(col("query_id"), col("label")).agg(count(lit(1)).as("v"))
      votes.groupBy(col("query_id"))
        .agg(max(struct(col("v"),
          (-col("label")).cast("long").as("neglab"))).as("b"))
        .select(col("query_id"), (-col("b.neglab")).cast("int").as("predicted"))
        .join(emb.select(col("vec_id").as("query_id"),
          col("label").as("true_label")), Seq("query_id"))
        .select(col("query_id"), col("predicted"), col("true_label"),
          (col("predicted") === col("true_label")).as("correct"))
    },
      // q27's cosine + (cos desc, id asc) kNN + (votes desc, label asc)
      // majority replay
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
                    FROM embeddings),
         nn AS (
           SELECT q.vec_id AS query_id, c.vec_id AS nid, c.label,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_dot_product(q.v, c.v)
                 / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
               DESC, c.vec_id ASC) AS rn
           FROM e q JOIN e c ON c.vec_id % 5 <> 0 AND c.vec_id <> q.vec_id
           WHERE q.vec_id % 5 = 0),
         votes AS (SELECT query_id, label, CAST(count(*) AS BIGINT) AS v
                   FROM nn WHERE rn <= 5 GROUP BY 1, 2),
         pred AS (SELECT query_id, label AS predicted FROM (
                    SELECT query_id, label, row_number() OVER (
                      PARTITION BY query_id ORDER BY v DESC, label ASC) AS rn
                    FROM votes) WHERE rn = 1)
         SELECT p.query_id, CAST(p.predicted AS INTEGER) AS predicted,
           e.label AS true_label, p.predicted = e.label AS correct
         FROM pred p JOIN e ON e.vec_id = p.query_id""")),

    // V+T — embedding-centroid drift per source (the semantic
    // complement of q151's KS): per-source and corpus per-dimension
    // sums in EXACT quantized integers (float sums are partition-order
    // dependent; integer sums are not), then one 4dp cosine between
    // each source's sum vector and the corpus's.
    Entry("q192_embedding_drift", (s, dir) => {
      val ev = t(s, dir, "embeddings")
        .join(t(s, dir, "documents").select(col("doc_id"), col("source")),
          col("doc_id") === col("vec_id"))
        .select(col("source"), col("vec_id"),
          transform(col("embedding").cast("array<double>"),
            x => round(x * 1048576d).cast("long")).as("vi"))
      // posexplode_outer + null filter: plain posexplode infers a
      // pre-Generate size/isnotnull filter that re-states the vi
      // quantization lambda twice per row (graft.util.Explode)
      val perDim = ev.select(col("source"), col("vec_id"),
          posexplode_outer(col("vi")).as(Seq("pos", "x")))
        .filter(col("pos").isNotNull)
      val srcSums = perDim.groupBy(col("source"), col("pos"))
        .agg(sum(col("x")).as("s"))
      val corpus = srcSums.groupBy(col("pos")).agg(sum(col("s")).as("t"))
      val srcVec = srcSums.groupBy(col("source"))
        .agg(sort_array(collect_list(struct(col("pos"), col("s")))).as("a"))
        .select(col("source"),
          transform(col("a"), x => x.getField("s").cast("double")).as("sv"))
      val corpVec = corpus
        .agg(sort_array(collect_list(struct(col("pos"), col("t")))).as("a"))
        .select(transform(col("a"), x => x.getField("t").cast("double")).as("cv"))
      val n = ev.groupBy(col("source")).agg(count(lit(1)).as("n_vecs"))
      srcVec.join(n, Seq("source")).crossJoin(broadcast(corpVec))
        .select(col("source"), col("n_vecs"),
          round(functions.Similarity.cosine(col("sv"), col("cv")), 4).as("cos_r"))
    },
      // identical quantized-integer dimension sums, then the 4dp cosine
      Some("""WITH ev AS (
           SELECT d.source, e.vec_id,
             list_transform(CAST(e.embedding AS DOUBLE[]),
               x -> CAST(round(x * 1048576) AS BIGINT)) AS vi
           FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
         sums AS (
           SELECT source, r.j AS pos, CAST(sum(vi[r.j]) AS BIGINT) AS s
           FROM ev CROSS JOIN range(1, 65) r(j) GROUP BY 1, 2),
         tot AS (SELECT pos, CAST(sum(s) AS BIGINT) AS t FROM sums GROUP BY 1),
         sv AS (SELECT source, list(CAST(s AS DOUBLE) ORDER BY pos) AS a
                FROM sums GROUP BY 1),
         cv AS (SELECT list(CAST(t AS DOUBLE) ORDER BY pos) AS a FROM tot),
         n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_vecs
               FROM ev GROUP BY 1)
         SELECT s.source, n.n_vecs,
           round(list_dot_product(s.a, c.a)
             / (sqrt(list_dot_product(s.a, s.a)) * sqrt(list_dot_product(c.a, c.a))), 4)
             AS cos_r
         FROM sv s JOIN n ON n.source = s.source CROSS JOIN cv c""")),

    // E2E — metadata-only RESTORE (Delta semantics): a corrupting
    // overwrite is rolled back by re-pointing the head at v1's FILES —
    // the restored head's file set is REQUIREd identical to v1's (zero
    // data copied) while time travel still reads the corrupted v2. The
    // oracle checks the restored CONTENT against the clean slice.
    Entry("q193_tx_restore", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-q193").toString
      val tbl = s"$tmp/tx/orders"
      val good = t(s, dir, "orders").filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      graft.sink.TxTable.append(s,                                 // v1
        good.repartitionByRange(4, col("o_orderkey")), tbl,
        statsCols = Seq("o_orderkey"))
      graft.sink.TxTable.overwrite(s,                              // v2: corrupt
        good.withColumn("cents", col("cents") + 99999L), tbl)
      val v3 = graft.sink.TxTable.restore(s, tbl, 1L)              // v3
      require(graft.sink.TxTable.filesAt(s, tbl, v3).toSet ==
        graft.sink.TxTable.filesAt(s, tbl, 1L).toSet,
        "restore must re-point at v1's files, not copy data")
      val corrupt2 = graft.sink.TxTable.readAt(s, tbl, 2L)
        .agg(sum(col("cents"))).head().getLong(0)
      val clean1 = graft.sink.TxTable.readAt(s, tbl, 1L)
        .agg(sum(col("cents"))).head().getLong(0)
      require(corrupt2 > clean1, "time travel must still see the corrupted v2")
      val out = graft.sink.TxTable.readAt(s, tbl, v3)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .collect()
      dropStaged(java.nio.file.Paths.get(tmp))
      import s.implicits._
      out.toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toDF("o_orderstatus", "n", "cents")
    },
      // the restored head must equal the CLEAN slice (the corruption
      // vanished without a rewrite)
      Some("""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders WHERE o_orderkey % 3 = 0 GROUP BY 1"""), Fixture),

    // T — SFT chat-template rendering: deterministic 1-turn
    // conversations assembled from docs (user = first 8 tokens,
    // assistant = the rest) into a ChatML-shaped string — the
    // training-text materialization step of an SFT pipeline; pure
    // codegen string assembly, zero shuffle.
    Entry("q194_chat_render", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("__tk", functions.TextFunctions.tokens(col("text")))
      val user = concat_ws(" ", slice(col("__tk"), 1, 8))
      val asst = concat_ws(" ", slice(col("__tk"), 9, 1000000))
      val rendered = concat(
        lit("<|system|>\nYou are a helpful assistant.\n<|user|>\n"), user,
        lit("\n<|assistant|>\n"), asst, lit("<|end|>"))
      docs.select(col("doc_id"), rendered.as("rendered"),
        length(rendered).cast("long").as("n_chars"),
        size(col("__tk")).cast("long").as("n_tok"))
    },
      // identical template assembly from the same token split
      Some("""WITH toks AS (
           SELECT doc_id, list_filter(
             string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS t
           FROM documents),
         r AS (
           SELECT doc_id, t,
             '<|system|>' || chr(10) || 'You are a helpful assistant.' || chr(10)
               || '<|user|>' || chr(10) || array_to_string(t[1:8], ' ')
               || chr(10) || '<|assistant|>' || chr(10)
               || array_to_string(t[9:len(t)], ' ') || '<|end|>' AS rendered
           FROM toks)
         SELECT doc_id, rendered, CAST(length(rendered) AS BIGINT) AS n_chars,
           CAST(len(t) AS BIGINT) AS n_tok
         FROM r""")),

    // T — deterministic text augmentation (EDA-style token dropout):
    // token i drops when md5(doc:i) lands in the 10% band — content-
    // derived, so the augmented copy is reproducible across reruns,
    // partitionings and engines (the Sampling module's standing rule).
    // Zero shuffle: one higher-order filter per row.
    Entry("q195_text_augment", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("__tk", functions.TextFunctions.tokens(col("text")))
      val kept = filter(col("__tk"), (x, i) =>
        conv(substring(md5(concat(col("doc_id"), lit(":"), i + 1)), 1, 4),
          16, 10).cast("long") % 10 =!= 0)
      // kept STAGED: the select reads it twice (aug_text + n_dropped);
      // inline, the dropout filter lambda would run 2x per row
      docs.withColumn("__kept", kept)
        .select(col("doc_id"),
          concat_ws(" ", col("__kept")).as("aug_text"),
          size(col("__tk")).cast("long").as("n_tok"),
          (size(col("__tk")) - size(col("__kept"))).cast("long").as("n_dropped"))
    },
      // identical md5 dropout band over 1-based token positions
      Some("""WITH toks AS (
           SELECT doc_id, list_filter(
             string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS t
           FROM documents),
         px AS (
           SELECT doc_id, unnest(t) AS x, generate_subscripts(t, 1) AS i
           FROM toks),
         kept AS (
           SELECT doc_id, x, i FROM px
           WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':'
             || CAST(i AS VARCHAR)), 1, 4)) AS BIGINT) % 10 <> 0),
         agg AS (
           SELECT doc_id, string_agg(x, ' ' ORDER BY i) AS aug_text,
             CAST(count(*) AS BIGINT) AS n_kept
           FROM kept GROUP BY 1)
         SELECT t.doc_id, COALESCE(a.aug_text, '') AS aug_text,
           CAST(len(t.t) AS BIGINT) AS n_tok,
           CAST(len(t.t) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_dropped
         FROM toks t LEFT JOIN agg a USING (doc_id)""")),

    // V — binary (1-bit) quantization + Hamming top-k: sign-bit
    // signatures packed into two 32-bit blocks (Quantize.signBits), then
    // per-query top-10 by bit_count(xor) — the 32×-smaller first-pass
    // scan a billion-vector re-rank pipeline runs BEFORE touching float
    // precision. Broadcast queries, one integer-ops corpus pass, bounded
    // per-query top-k (shuffles k·|queries| rows).
    Entry("q196_hamming_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val sigs = emb.select(col("vec_id"),
        functions.Quantize.signBits(col("embedding"), dim = 64).as("sig"))
      val queries = sigs.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("query_id"), col("sig").as("query_sig"))
      functions.Similarity.hammingTopK(queries, sigs, k = 10, nBlocks = 2)
    },
      // identical MSB-first sign-bit packing (Σ bit·2^(32-i) per block),
      // identical xor/bit_count Hamming, ties to the lowest neighbor id
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         px AS (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM e),
         sig AS (
           SELECT vec_id,
             CAST(sum(CASE WHEN i <= 32 AND x > 0
               THEN (1::BIGINT << (32 - i)) ELSE 0 END) AS BIGINT) AS b0,
             CAST(sum(CASE WHEN i > 32 AND x > 0
               THEN (1::BIGINT << (64 - i)) ELSE 0 END) AS BIGINT) AS b1
           FROM px GROUP BY 1),
         ham AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(bit_count(xor(q.b0, c.b0)) + bit_count(xor(q.b1, c.b1)) AS BIGINT) AS hamming,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               bit_count(xor(q.b0, c.b0)) + bit_count(xor(q.b1, c.b1)) ASC,
               c.vec_id ASC) AS rn
           FROM sig q JOIN sig c ON c.vec_id <> q.vec_id
           WHERE q.vec_id % 25 = 0)
         SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank, hamming
         FROM ham WHERE rn <= 10""")),

    // V — contrastive hard-negative mining: per labeled query vector,
    // the 5 most cosine-similar corpus vectors with a DIFFERENT label
    // ("looks alike, isn't") — the negative half of an embedding
    // trainer's (anchor, positive, negatives) triples. Same broadcast +
    // bounded-top-k shape as q27.
    Entry("q197_hard_negatives", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 25 === 7)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"),
          col("label").as("query_label"))
      functions.Similarity.hardNegatives(queries, emb, k = 5)
        .select(col("query_id"), col("neg_id"), col("rank"),
          round(col("cos"), 4).as("cos_r"))
    },
      // top-5 cosine among DIFFERENT-label vectors, ties to the lowest id
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
                    FROM embeddings),
         scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neg_id,
             list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
               AS cos,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_dot_product(q.v, c.v)
                 / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
               DESC, c.vec_id ASC) AS rn
           FROM e q JOIN e c ON c.label <> q.label
           WHERE q.vec_id % 25 = 7)
         SELECT query_id, neg_id, CAST(rn AS BIGINT) AS rank, round(cos, 4) AS cos_r
         FROM scored WHERE rn <= 5""")),

    // A — exact-integer Pearson correlation matrix over lineitem's
    // numeric features: every sum (Σx, Σx², Σxy) accumulates in
    // decimal(38,0) over integer-quantized values — partition-order
    // independent — and only the final closed-form ratio touches
    // doubles, so the 6dp result is engine-portable. ONE pass, one
    // partial-aggregated row, zero data shuffle.
    Entry("q198_feature_corr", (s, dir) => {
      val names = Seq("qty", "price", "disc", "tax")
      val li = t(s, dir, "lineitem").select(
        round(col("l_quantity")).cast("long").as("qty"),
        round(col("l_extendedprice") * 100).cast("long").as("price"),
        round(col("l_discount") * 100).cast("long").as("disc"),
        round(col("l_tax") * 100).cast("long").as("tax"))
      val aggs =
        (count(lit(1)).cast("decimal(38,0)").as("n") +:
          names.map(c => sum(col(c).cast("decimal(38,0)")).as(s"s_$c"))) ++
        (for { i <- names.indices; j <- names.indices if i <= j } yield
          sum((col(names(i)) * col(names(j))).cast("decimal(38,0)"))
            .as(s"s_${names(i)}_${names(j)}"))
      val sums = li.agg(aggs.head, aggs.tail: _*)
      def corrOf(x: String, y: String) = round(
        (col("n") * col(s"s_${x}_$y") - col(s"s_$x") * col(s"s_$y")).cast("double") /
          (sqrt((col("n") * col(s"s_${x}_$x") - col(s"s_$x") * col(s"s_$x")).cast("double")) *
            sqrt((col("n") * col(s"s_${y}_$y") - col(s"s_$y") * col(s"s_$y")).cast("double"))), 6)
      val pairs = for { i <- names.indices; j <- names.indices if i < j } yield
        struct(lit(names(i)).as("x_name"), lit(names(j)).as("y_name"),
          corrOf(names(i), names(j)).as("corr_r"))
      sums.select(explode(array(pairs: _*)).as("p"))
        .select(col("p.x_name"), col("p.y_name"), col("p.corr_r"))
    },
      // identical exact-integer sums (HUGEINT here, decimal(38,0) in
      // Spark), identical closed-form double ratio, 6dp
      Some("""WITH li AS (SELECT CAST(round(l_quantity) AS BIGINT) AS qty,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price,
             CAST(round(l_discount * 100) AS BIGINT) AS disc,
             CAST(round(l_tax * 100) AS BIGINT) AS tax FROM lineitem),
         s AS (SELECT count(*)::HUGEINT AS n,
             sum(qty)::HUGEINT AS s_qty, sum(price)::HUGEINT AS s_price,
             sum(disc)::HUGEINT AS s_disc, sum(tax)::HUGEINT AS s_tax,
             sum(qty*qty)::HUGEINT AS s_qty_qty, sum(qty*price)::HUGEINT AS s_qty_price,
             sum(qty*disc)::HUGEINT AS s_qty_disc, sum(qty*tax)::HUGEINT AS s_qty_tax,
             sum(price*price)::HUGEINT AS s_price_price,
             sum(price*disc)::HUGEINT AS s_price_disc,
             sum(price*tax)::HUGEINT AS s_price_tax,
             sum(disc*disc)::HUGEINT AS s_disc_disc, sum(disc*tax)::HUGEINT AS s_disc_tax,
             sum(tax*tax)::HUGEINT AS s_tax_tax
           FROM li)
         SELECT 'qty' AS x_name, 'price' AS y_name,
           round(CAST(n*s_qty_price - s_qty*s_price AS DOUBLE)
             / (sqrt(CAST(n*s_qty_qty - s_qty*s_qty AS DOUBLE))
                * sqrt(CAST(n*s_price_price - s_price*s_price AS DOUBLE))), 6) AS corr_r
         FROM s
         UNION ALL SELECT 'qty', 'disc',
           round(CAST(n*s_qty_disc - s_qty*s_disc AS DOUBLE)
             / (sqrt(CAST(n*s_qty_qty - s_qty*s_qty AS DOUBLE))
                * sqrt(CAST(n*s_disc_disc - s_disc*s_disc AS DOUBLE))), 6) FROM s
         UNION ALL SELECT 'qty', 'tax',
           round(CAST(n*s_qty_tax - s_qty*s_tax AS DOUBLE)
             / (sqrt(CAST(n*s_qty_qty - s_qty*s_qty AS DOUBLE))
                * sqrt(CAST(n*s_tax_tax - s_tax*s_tax AS DOUBLE))), 6) FROM s
         UNION ALL SELECT 'price', 'disc',
           round(CAST(n*s_price_disc - s_price*s_disc AS DOUBLE)
             / (sqrt(CAST(n*s_price_price - s_price*s_price AS DOUBLE))
                * sqrt(CAST(n*s_disc_disc - s_disc*s_disc AS DOUBLE))), 6) FROM s
         UNION ALL SELECT 'price', 'tax',
           round(CAST(n*s_price_tax - s_price*s_tax AS DOUBLE)
             / (sqrt(CAST(n*s_price_price - s_price*s_price AS DOUBLE))
                * sqrt(CAST(n*s_tax_tax - s_tax*s_tax AS DOUBLE))), 6) FROM s
         UNION ALL SELECT 'disc', 'tax',
           round(CAST(n*s_disc_tax - s_disc*s_tax AS DOUBLE)
             / (sqrt(CAST(n*s_disc_disc - s_disc*s_disc AS DOUBLE))
                * sqrt(CAST(n*s_tax_tax - s_tax*s_tax AS DOUBLE))), 6) FROM s""")),

    // T — RAG sentence-window chunking: sentence split on terminal
    // punctuation (TextFunctions.sentences), then 3-sentence windows at
    // stride 2 (one-sentence overlap keeps boundary context
    // retrievable). Per-row generator — sequence + slice higher-order
    // functions, no UDF, zero shuffle; chunk count per doc is
    // ⌈(n−1)/2⌉, never quadratic. The synthetic corpus carries no
    // punctuation, so boundaries are marked deterministically first
    // (a period after every "the") — content-derived, so the oracle
    // replays it and the window/tail paths get real 1–9-sentence work.
    Entry("q199_sentence_chunks", (s, dir) => {
      val docs = t(s, dir, "documents")
      val marked = regexp_replace(col("text"), "\\bthe\\b", "the.")
      val sents = functions.TextFunctions.sentences(marked)
      docs.select(col("doc_id"), sents.as("sents"))
        .withColumn("n_sent", size(col("sents")).cast("long"))
        .filter(col("n_sent") > 0)
        .select(col("doc_id"), col("sents"), col("n_sent"),
          posexplode(sequence(lit(1L), greatest(lit(1L), col("n_sent") - 1L), lit(2L))
            ).as(Seq("__p", "start_sent")))
        .select(col("doc_id"),
          (col("__p") + 1).cast("long").as("chunk_idx"),
          col("start_sent"), col("n_sent"),
          least(lit(3L), col("n_sent") - col("start_sent") + 1L).as("chunk_sents"),
          array_join(slice(col("sents"), col("start_sent").cast("int"), lit(3)), " ")
            .as("chunk_text"))
    },
      // identical boundary marking, sentence split, stride-2 window
      // starts, slice bounds
      Some("""WITH sents AS (
           SELECT doc_id, list_filter(string_split_regex(
             regexp_replace(text, '\bthe\b', 'the.', 'g'), '[.!?]+\s+'),
             x -> length(trim(x)) > 0) AS s
           FROM documents),
         d AS (SELECT doc_id, s, len(s) AS n FROM sents WHERE len(s) > 0),
         st AS (SELECT doc_id, s, n,
                  unnest(range(1, greatest(1, n - 1) + 1, 2)) AS start
                FROM d)
         SELECT doc_id, CAST((start + 1) / 2 AS BIGINT) AS chunk_idx,
           CAST(start AS BIGINT) AS start_sent, CAST(n AS BIGINT) AS n_sent,
           CAST(least(3, n - start + 1) AS BIGINT) AS chunk_sents,
           array_to_string(s[start:least(start + 2, n)], ' ') AS chunk_text
         FROM st""")),

    // T — hashing-trick vectorization (the HashingVectorizer analogue):
    // token → md5-derived bucket in [0, 64), per-doc term frequencies in
    // sparse (doc, bucket, tf) form — fixed-width features with no vocab
    // table to build, broadcast, or version. The groupBy collapses to
    // ≤64 rows/doc map-side before any exchange.
    Entry("q200_feature_hashing", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode_outer(functions.TextFunctions.tokens(col("text"))).as("tok"))
        .filter(col("tok").isNotNull)
        .withColumn("bucket",
          conv(substring(md5(col("tok")), 1, 4), 16, 10).cast("long") % 64)
        .groupBy(col("doc_id"), col("bucket"))
        .agg(count(lit(1)).as("tf"))
    },
      // identical md5 bucket in [0, 64)
      Some("""WITH toks AS (
           SELECT doc_id, unnest(list_filter(
             string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS tok
           FROM documents)
         SELECT doc_id,
           CAST(CAST(('0x' || substring(md5(tok), 1, 4)) AS BIGINT) % 64 AS BIGINT)
             AS bucket,
           CAST(count(*) AS BIGINT) AS tf
         FROM toks GROUP BY 1, 2""")),

    // D — dedup threshold tuning: precision/recall of simhash-at-h
    // (h ∈ {1,2,3}) against the EXACT shingle-Jaccard ≥ 0.6 gold pairs
    // (q153's complete prefix-filtered join — no all-pairs anywhere).
    // The 4-block banding is pigeonhole-complete for hamming ≤ 3, so
    // every per-h predicted set is exact, and the whole tuning curve —
    // the "which threshold do I ship?" table — is one full-outer join
    // of two bounded pair sets + ONE aggregated row. Exact integers,
    // basis points by floor division.
    Entry("q201_dedup_pr_sweep", (s, dir) => {
      val d = t(s, dir, "documents")
      // both legs run eager signature materializations during
      // CONSTRUCTION (simhash banding checkpoint; the prefix join's
      // sorted-set checkpoint) — overlap them (guide §2.6 via
      // graft.util.Par: independent read-only consumers of `d`)
      val (cand, gold) = graft.util.Par.both(
        functions.Dedup.simhashPairsPortable(d, "text", "doc_id",
          maxHamming = 3),
        functions.PrefixJoin.shingleHashJaccardJoin(d, "doc_id", "text",
            n = 3, threshold = 0.6, dfOrder = true)
          .select(col("idA"), col("idB"), lit(1L).as("__g")))
      val j = cand.join(gold, Seq("idA", "idB"), "full_outer")
        .select(coalesce(col("hamming").cast("long"), lit(99L)).as("hamming"),
          col("__g").isNotNull.as("is_gold"))
      val hs = Seq(1, 2, 3)
      val aggs = hs.flatMap { h => Seq(
        sum(when(col("hamming") <= h && col("is_gold"), 1L).otherwise(0L)).as(s"tp_$h"),
        sum(when(col("hamming") <= h && !col("is_gold"), 1L).otherwise(0L)).as(s"fp_$h"))
      } :+ sum(when(col("is_gold"), 1L).otherwise(0L)).as("n_gold")
      val row = j.agg(aggs.head, aggs.tail: _*)
      val out = hs.map { h =>
        val tp = col(s"tp_$h"); val fp = col(s"fp_$h")
        struct(lit(h.toLong).as("max_hamming"), tp.as("tp"), fp.as("fp"),
          (col("n_gold") - tp).as("fn"),
          when(tp + fp === 0L, lit(10000L))
            .otherwise(expr(s"(10000 * tp_$h) div (tp_$h + fp_$h)")).as("precision_bp"),
          when(col("n_gold") === 0L, lit(10000L))
            .otherwise(expr(s"(10000 * tp_$h) div n_gold")).as("recall_bp"))
      }
      row.select(explode(array(out: _*)).as("r")).select(col("r.*"))
    },
      // q24's simhash-pair replay (kept hamming) × q153's exact-Jaccard
      // gold replay, full-outer joined, per-threshold exact counts
      Some("""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                      x -> x <> '') AS t
           FROM documents),
         th AS (
           SELECT doc_id,
                  list_transform(t, x -> CAST('0x'||substring(md5(x), 1, 15) AS BIGINT)) AS h,
                  len(t) AS n
           FROM toks),
         bits AS (
           SELECT doc_id, b,
                  CASE WHEN 2 * len(list_filter(h, v -> (v >> b) & 1 = 1)) > n
                       THEN (CAST(1 AS BIGINT) << b) ELSE 0 END AS bit
           FROM th, range(0, 60) r(b)),
         sims AS (
           SELECT doc_id, CAST(sum(bit) AS BIGINT) AS sim FROM bits GROUP BY doc_id),
         blocks AS (
           SELECT doc_id, blk, (sim >> CAST(blk * 15 AS INTEGER)) & 32767 AS bucket, sim
           FROM sims, range(0, 4) r(blk)),
         cpairs AS (
           SELECT DISTINCT a.doc_id AS idA, b.doc_id AS idB,
             CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
           FROM blocks a JOIN blocks b
             ON a.blk = b.blk AND a.bucket = b.bucket AND a.doc_id < b.doc_id
           WHERE bit_count(xor(a.sim, b.sim)) <= 3),
         sets AS (
           SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                  ELSE list_transform(range(1, len(t)-1),
                         i -> t[i]||' '||t[i+1]||' '||t[i+2]) END,
             s -> CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT))) AS sh
           FROM toks),
         s2 AS (SELECT doc_id, sh, len(sh) AS n FROM sets WHERE len(sh) > 0),
         gpairs AS (
           SELECT a.doc_id AS idA, b.doc_id AS idB
           FROM s2 a JOIN s2 b ON b.doc_id > a.doc_id
           WHERE len(list_intersect(a.sh, b.sh)) * 10000
                 >= 6000 * (a.n + b.n - len(list_intersect(a.sh, b.sh)))),
         j AS (SELECT COALESCE(c.hamming, 99) AS hamming,
                 g.idA IS NOT NULL AS is_gold
               FROM cpairs c FULL OUTER JOIN gpairs g
                 ON c.idA = g.idA AND c.idB = g.idB),
         agg AS (SELECT
             CAST(sum(CASE WHEN hamming <= 1 AND is_gold THEN 1 ELSE 0 END) AS BIGINT) AS tp1,
             CAST(sum(CASE WHEN hamming <= 1 AND NOT is_gold THEN 1 ELSE 0 END) AS BIGINT) AS fp1,
             CAST(sum(CASE WHEN hamming <= 2 AND is_gold THEN 1 ELSE 0 END) AS BIGINT) AS tp2,
             CAST(sum(CASE WHEN hamming <= 2 AND NOT is_gold THEN 1 ELSE 0 END) AS BIGINT) AS fp2,
             CAST(sum(CASE WHEN hamming <= 3 AND is_gold THEN 1 ELSE 0 END) AS BIGINT) AS tp3,
             CAST(sum(CASE WHEN hamming <= 3 AND NOT is_gold THEN 1 ELSE 0 END) AS BIGINT) AS fp3,
             CAST(sum(CASE WHEN is_gold THEN 1 ELSE 0 END) AS BIGINT) AS n_gold
           FROM j)
         SELECT CAST(1 AS BIGINT) AS max_hamming, tp1 AS tp, fp1 AS fp,
           n_gold - tp1 AS fn,
           CAST(CASE WHEN tp1 + fp1 = 0 THEN 10000
                ELSE (10000 * tp1) // (tp1 + fp1) END AS BIGINT) AS precision_bp,
           CAST(CASE WHEN n_gold = 0 THEN 10000
                ELSE (10000 * tp1) // n_gold END AS BIGINT) AS recall_bp FROM agg
         UNION ALL
         SELECT CAST(2 AS BIGINT), tp2, fp2, n_gold - tp2,
           CAST(CASE WHEN tp2 + fp2 = 0 THEN 10000
                ELSE (10000 * tp2) // (tp2 + fp2) END AS BIGINT),
           CAST(CASE WHEN n_gold = 0 THEN 10000
                ELSE (10000 * tp2) // n_gold END AS BIGINT) FROM agg
         UNION ALL
         SELECT CAST(3 AS BIGINT), tp3, fp3, n_gold - tp3,
           CAST(CASE WHEN tp3 + fp3 = 0 THEN 10000
                ELSE (10000 * tp3) // (tp3 + fp3) END AS BIGINT),
           CAST(CASE WHEN n_gold = 0 THEN 10000
                ELSE (10000 * tp3) // n_gold END AS BIGINT) FROM agg""")),

    // A — Poisson bootstrap (the distributed bootstrap: per-row
    // independent Poisson(1) weights replace global resampling, so the
    // whole replica set is ONE map pass + one 32-row aggregate — no
    // per-replica corpus shuffle, no driver resample). Weights are
    // content-hash deterministic: a 52-bit md5 uniform against the
    // EXACT floor(cdf·2^52) Poisson(1) thresholds, so every engine
    // draws the identical replica. Replica means in scaled integers
    // (swap the longs for decimal(38,0) once Σw·x nears 2^63 — the
    // arithmetic is otherwise unchanged).
    Entry("q202_poisson_bootstrap", (s, dir) => {
      // floor(CDF_Poisson(1)(k) · 2^52) for k = 0..5; u ≥ all → w = 6
      val cdf = Seq(1656781714176974L, 3313563428353948L, 4141954285442435L,
        4418084571138597L, 4487117142562637L, 4500923656847445L)
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          explode(sequence(lit(1), lit(32))).as("replica"))
        .withColumn("u",
          conv(substring(md5(concat(col("doc_id"), lit(":"), col("replica"))), 1, 13),
            16, 10).cast("long"))
        .withColumn("w",
          cdf.zipWithIndex.foldRight(lit(6L): Column) { case ((c, k), el) =>
            when(col("u") < c, k.toLong).otherwise(el) })
      // widen=true swaps the Σw·x accumulators to decimal(38,0) once
      // Σw·x nears 2^63 — same API, same plan shape (ExactEvals)
      functions.ExactEvals.weightedMeanSc(d, col("replica").cast("long"),
        col("w"), col("n_chars"), "replica", "mean_chars_sc")
    },
      // identical 52-bit md5 uniforms against the same exact
      // floor(cdf·2^52) Poisson(1) thresholds
      Some("""WITH r AS (SELECT doc_id, n_chars, unnest(range(1, 33)) AS replica
                    FROM documents),
         u AS (SELECT replica, n_chars,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':'
               || CAST(replica AS VARCHAR)), 1, 13)) AS BIGINT) AS u
           FROM r),
         w AS (SELECT replica, n_chars,
             CASE WHEN u < 1656781714176974 THEN 0
                  WHEN u < 3313563428353948 THEN 1
                  WHEN u < 4141954285442435 THEN 2
                  WHEN u < 4418084571138597 THEN 3
                  WHEN u < 4487117142562637 THEN 4
                  WHEN u < 4500923656847445 THEN 5
                  ELSE 6 END AS w
           FROM u)
         SELECT CAST(replica AS BIGINT) AS replica,
           CAST(sum(w) AS BIGINT) AS n_eff,
           CAST((1000000 * sum(w * n_chars)) // sum(w) AS BIGINT) AS mean_chars_sc
         FROM w GROUP BY 1""")),

    // ST — stream-stream LEFT OUTER interval join under the full
    // oracle: matched pairs emit eagerly (= the batch theta-join);
    // unmatched purchases null-emit only at state eviction, so the
    // gate keeps null rows for purchases safely past the final
    // watermark (p_ts < max_ts − 45 min: 30 min lateness + margin,
    // the horizon the spec proves eviction has fired by) and the
    // oracle re-derives exactly that set with NOT EXISTS. This is the
    // watermark-bounded completeness contract made hash-checkable —
    // the same bound that keeps outer-join state finite at 100 TB.
    Entry("q203_stream_left_outer", (s, dir) => {
      val tmp = stageEvents(dir)
      val name = "graft_q203_" + java.util.UUID.randomUUID().toString.replace("-", "")
      graft.streaming.EventsStream.runToMemory(s, tmp.toString, name,
        df => graft.streaming.EventsStream.purchaseAttributionLeftOuterTs(df))
      dropStaged(tmp)
      val maxTs = t(s, dir, "events").agg(max(col("ts"))).head().getTimestamp(0)
      val cutoff = new java.sql.Timestamp(maxTs.getTime - 45L * 60L * 1000L)
      s.table(name)
        .filter(col("click_id").isNotNull || col("p_ts") < lit(cutoff))
        .select(col("purchase_id"), col("click_id"))
    },
      // q84's matched pairs + the watermark-horizon-complete null set
      // (unmatched purchases older than max_ts − 45 min)
      Some("""WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
                    FROM events WHERE event_type = 'purchase'),
         c AS (SELECT event_id AS click_id, user_id, ts AS c_ts
               FROM events WHERE event_type = 'click'),
         matched AS (
           SELECT p.purchase_id, c.click_id
           FROM p JOIN c ON c.user_id = p.user_id
            AND epoch_us(c.c_ts) >= epoch_us(p.p_ts) - 86400000000
            AND epoch_us(c.c_ts) <= epoch_us(p.p_ts)),
         mx AS (SELECT max(ts) AS m FROM events),
         unmatched AS (
           SELECT p.purchase_id, CAST(NULL AS BIGINT) AS click_id
           FROM p, mx
           WHERE p.p_ts < mx.m - INTERVAL 45 MINUTE
             AND NOT EXISTS (
               SELECT 1 FROM c WHERE c.user_id = p.user_id
                 AND epoch_us(c.c_ts) >= epoch_us(p.p_ts) - 86400000000
                 AND epoch_us(c.c_ts) <= epoch_us(p.p_ts)))
         SELECT * FROM matched UNION ALL SELECT * FROM unmatched"""), Streaming),

    // T — classifier calibration table across INDEPENDENT signals: the
    // cheap linear quality score (q112's z) binned into deciles via the
    // sort-free scalable ntile, each bin's near-duplicate rate (q24's
    // simhash losers) in exact basis points — "does low quality predict
    // duplication?" is the reliability diagram a curation pipeline
    // reads before wiring score thresholds into dedup budgets. Sums
    // stay exact integers (no mean division: `div` truncates and `//`
    // floors, which disagree below zero — the reader divides).
    Entry("q204_quality_calibration", (s, dir) => {
      val d = t(s, dir, "documents")
      val scored = functions.TextFunctions.withLinearQuality(d, col("text"), "__q")
        .select(col("doc_id"), col("__q.z").as("z"))
      val losers = functions.Dedup.simhashPairsPortable(d, "text", "doc_id")
        .select(col("idB").as("doc_id")).distinct().withColumn("__dup", lit(1L))
      // ntileByRange makes three passes over its input (min/max, bucket
      // counts, final assignment); unmaterialized, each pass would re-run
      // the simhash banded join — eager-localCheckpoint the skinny
      // (id, z, flag) labeling once (same pattern as Hits/PageRank
      // iteration state; unlike persist(), the blocks are released with
      // the DataFrame, so consumers other than the clearCache()ing
      // drivers don't leak the cached plan)
      val lab = scored.join(losers, Seq("doc_id"), "left")
        .select(col("doc_id"), col("z"), col("__dup").isNotNull.as("is_dup"))
        .localCheckpoint(true)
      operators.ScalableNtile.ntileByRange(lab, 10, -col("z"), Seq(col("doc_id")))
        .groupBy(col("__graft_ntile").cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("z")).as("sum_z"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"))
        .select(col("bucket"), col("n"), col("sum_z"), col("n_dup"),
          expr("(10000 * n_dup) div n").as("dup_rate_bp"))
    },
      // q112's z formula + q24's loser set + a plain NTILE(10) window the
      // scalable ntile must match; exact sums, basis-point rates
      Some("""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                      x -> x <> '') AS t
           FROM documents),
         f AS (
           SELECT doc_id,
             CAST(len(t) AS BIGINT) AS wc,
             CAST(COALESCE(list_sum(list_transform(t, x -> length(x))), 0) AS BIGINT) AS chars,
             CAST(len(list_intersect(t,
               ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_d,
             CAST(CASE WHEN len(t) < 3 THEN 0 ELSE len(t) - 2 END AS BIGINT) AS n3,
             CAST(CASE WHEN len(t) < 3 THEN 0
                  ELSE len(list_distinct(list_transform(range(1, len(t)-1),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) END AS BIGINT) AS n3d
           FROM toks),
         z AS (
           SELECT doc_id,
             CAST(-600 + 30 * least(wc, 100) + 400 * stop_d
                  - 2 * (CASE WHEN wc = 0 THEN 0 ELSE (chars * 100) // wc END)
                  - 1 * (CASE WHEN n3 = 0 THEN 0
                         ELSE ((n3 - n3d) * 10000) // n3 END) AS BIGINT) AS z
           FROM f),
         th AS (
           SELECT doc_id,
                  list_transform(t, x -> CAST('0x'||substring(md5(x), 1, 15) AS BIGINT)) AS h,
                  len(t) AS n
           FROM toks),
         bits AS (
           SELECT doc_id, b,
                  CASE WHEN 2 * len(list_filter(h, v -> (v >> b) & 1 = 1)) > n
                       THEN (CAST(1 AS BIGINT) << b) ELSE 0 END AS bit
           FROM th, range(0, 60) r(b)),
         sims AS (
           SELECT doc_id, CAST(sum(bit) AS BIGINT) AS sim FROM bits GROUP BY doc_id),
         blocks AS (
           SELECT doc_id, blk, (sim >> CAST(blk * 15 AS INTEGER)) & 32767 AS bucket, sim
           FROM sims, range(0, 4) r(blk)),
         losers AS (
           SELECT DISTINCT b.doc_id AS doc_id
           FROM blocks a JOIN blocks b
             ON a.blk = b.blk AND a.bucket = b.bucket AND a.doc_id < b.doc_id
           WHERE bit_count(xor(a.sim, b.sim)) <= 3),
         lab AS (
           SELECT z.doc_id, z.z, l.doc_id IS NOT NULL AS is_dup,
             ntile(10) OVER (ORDER BY -z.z ASC, z.doc_id ASC) AS bucket
           FROM z LEFT JOIN losers l ON l.doc_id = z.doc_id)
         SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(z) AS BIGINT) AS sum_z,
           CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           CAST((10000 * sum(CASE WHEN is_dup THEN 1 ELSE 0 END)) // count(*) AS BIGINT)
             AS dup_rate_bp
         FROM lab GROUP BY 1""")),

    // A — Wilson 95% lower bound per source on the quality-keep rate:
    // "rank segments by how good they PROVABLY are" (the small-n-safe
    // ordering — a 3/3 source must not outrank a 940/1000 one). Exact
    // integer (n, k) from one partial-agg pass; the closed-form bound
    // is ONE literal double expression tree over those integers, so
    // both engines produce bit-identical doubles before the 6dp round.
    Entry("q205_wilson_bounds", (s, dir) => {
      val agg0 = functions.TextFunctions.withLinearQuality(
          t(s, dir, "documents"), col("text"), "__q")
        .select(col("source"), col("__q.keep").as("keep"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(when(col("keep"), 1L).otherwise(0L)).as("k"))
      val n = col("n").cast("double"); val k = col("k").cast("double")
      val z = lit(1.96); val z2 = lit(1.96) * lit(1.96)
      val p = k / n
      val lo = (p + z2 / (n * lit(2d)) -
        z * sqrt(p * (lit(1d) - p) / n + z2 / (n * n * lit(4d)))) /
        (lit(1d) + z2 / n)
      agg0.select(col("source"), col("n"), col("k"),
        expr("(10000 * k) div n").as("rate_bp"), round(lo, 6).as("wilson_lo_r"))
    },
      // q112's keep replay per source + the IDENTICAL Wilson expression
      // tree (z² kept as the runtime product 1.96*1.96 on both sides)
      Some("""WITH toks AS (
           SELECT doc_id, source, list_filter(
             string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS t
           FROM documents),
         f AS (
           SELECT doc_id, source,
             CAST(len(t) AS BIGINT) AS wc,
             CAST(COALESCE(list_sum(list_transform(t, x -> length(x))), 0) AS BIGINT) AS chars,
             CAST(len(list_intersect(t,
               ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_d,
             CAST(CASE WHEN len(t) < 3 THEN 0 ELSE len(t) - 2 END AS BIGINT) AS n3,
             CAST(CASE WHEN len(t) < 3 THEN 0
                  ELSE len(list_distinct(list_transform(range(1, len(t)-1),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) END AS BIGINT) AS n3d
           FROM toks),
         kf AS (
           SELECT source,
             (-600 + 30 * least(wc, 100) + 400 * stop_d
              - 2 * (CASE WHEN wc = 0 THEN 0 ELSE (chars * 100) // wc END)
              - 1 * (CASE WHEN n3 = 0 THEN 0
                     ELSE ((n3 - n3d) * 10000) // n3 END)) > 0 AS keep
           FROM f),
         a AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS k
               FROM kf GROUP BY 1)
         SELECT source, n, k, CAST((10000 * k) // n AS BIGINT) AS rate_bp,
           round(
             (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
               + (1.96 * 1.96) / (CAST(n AS DOUBLE) * 2)
               - 1.96 * sqrt(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                   * (1 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
                 + (1.96 * 1.96) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 4)))
             / (1 + (1.96 * 1.96) / CAST(n AS DOUBLE)), 6) AS wilson_lo_r
         FROM a""")),

    // A — recency-decay engagement: per-day half-life weights as EXACT
    // integer shifts (10^12 >> age_days — float pow() differs across
    // libms, an integer shift does not), summed per user in one
    // partial-agg pass. The decay-weighted counter every freshness-
    // aware sampler/dashboard needs, deterministic on any engine.
    Entry("q206_recency_weights", (s, dir) => {
      val ev = t(s, dir, "events")
      val mxDf = ev.agg(max(to_date(col("ts"))).as("mx"))
      ev.crossJoin(broadcast(mxDf))
        .select(col("user_id"),
          datediff(col("mx"), to_date(col("ts"))).as("age"))
        .select(col("user_id"),
          expr("shiftright(CAST(1000000000000 AS BIGINT), CAST(least(age, 62) AS INT))").as("w"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("w")).as("recency_sc"))
    },
      // identical integer day ages and 10^12 >> age weights
      Some("""WITH mx AS (SELECT max(CAST(ts AS DATE)) AS m FROM events),
         w AS (SELECT user_id,
             (CAST(1000000000000 AS BIGINT)
               >> least(date_diff('day', CAST(ts AS DATE), mx.m), 62)) AS w
           FROM events, mx)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(w) AS BIGINT) AS recency_sc
         FROM w GROUP BY 1""")),

    // V — rank-aware quality of the 1-bit Hamming ranking (q196)
    // against the exact-cosine top-10 gold: binary-relevance nDCG@10
    // with the log2 discounts PRE-QUANTIZED to integer literals
    // (floor(10^9/log2(i+1)) — no runtime logs, so the whole metric is
    // exact integer arithmetic and basis-point floor division). The
    // standard "what did 32× compression cost in ranking?" eval.
    Entry("q207_hamming_ndcg", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val sigs = emb.select(col("vec_id"),
        functions.Quantize.signBits(col("embedding"), dim = 64).as("sig"))
      val queries = sigs.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("query_id"), col("sig").as("query_sig"))
      val sys = functions.Similarity.hammingTopK(queries, sigs, k = 10, nBlocks = 2)
      val qv = emb.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val gold = functions.Similarity.bruteForceTopK(qv, emb, k = 10)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__rel"))
      // floor(10^9 / log2(rank+1)), rank 1..10; idcg = their sum
      val W = Seq(1000000000L, 630929753L, 500000000L, 430676558L, 386852807L,
        356207187L, 333333333L, 315464876L, 301029995L, 289064826L)
      val wCol = element_at(array(W.map(lit): _*), col("rank").cast("int"))
      sys.join(gold, Seq("query_id", "neighbor_id"), "left")
        .select(col("query_id"),
          when(col("__rel").isNotNull, wCol).otherwise(lit(0L)).as("w"))
        .groupBy(col("query_id"))
        .agg(sum(when(col("w") > 0, 1L).otherwise(0L)).as("n_hits"),
          sum(col("w")).as("dcg_sc"))
        .select(col("query_id"), col("n_hits"), col("dcg_sc"),
          expr("(10000 * dcg_sc) div 4543559335").as("ndcg_bp"))
    },
      // q196's Hamming ranking + q27's exact-cosine gold + the same
      // integer discount table, all in exact arithmetic
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         px AS (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM e),
         sig AS (
           SELECT vec_id,
             CAST(sum(CASE WHEN i <= 32 AND x > 0
               THEN (1::BIGINT << (32 - i)) ELSE 0 END) AS BIGINT) AS b0,
             CAST(sum(CASE WHEN i > 32 AND x > 0
               THEN (1::BIGINT << (64 - i)) ELSE 0 END) AS BIGINT) AS b1
           FROM px GROUP BY 1),
         sys AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               bit_count(xor(q.b0, c.b0)) + bit_count(xor(q.b1, c.b1)) ASC,
               c.vec_id ASC) AS rn
           FROM sig q JOIN sig c ON c.vec_id <> q.vec_id
           WHERE q.vec_id % 25 = 0),
         gold AS (
           SELECT query_id, neighbor_id FROM (
             SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_dot_product(q.v, c.v)
                   / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
                 DESC, c.vec_id ASC) AS rn
             FROM e q JOIN e c ON c.vec_id <> q.vec_id
             WHERE q.vec_id % 25 = 0) WHERE rn <= 10),
         ws AS (
           SELECT s.query_id,
             CASE WHEN g.neighbor_id IS NOT NULL THEN
               [1000000000, 630929753, 500000000, 430676558, 386852807,
                356207187, 333333333, 315464876, 301029995, 289064826][s.rn]
             ELSE 0 END AS w
           FROM (SELECT * FROM sys WHERE rn <= 10) s
           LEFT JOIN gold g
             ON g.query_id = s.query_id AND g.neighbor_id = s.neighbor_id)
         SELECT query_id,
           CAST(sum(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           CAST(sum(w) AS BIGINT) AS dcg_sc,
           CAST((10000 * sum(w)) // 4543559335 AS BIGINT) AS ndcg_bp
         FROM ws GROUP BY 1""")),

    // W — time-weighted average (TWAP): each event's value holds until
    // the user's next event; durations are exact µs→s integer floor
    // divisions and the weighted mean is integer cents — the
    // monitoring/finance aggregate where a plain AVG over-counts
    // bursts. One shuffle on user (the window), exact everywhere; all
    // operands nonnegative so truncating div == floor div.
    Entry("q208_twap", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("nxt", lead(col("us"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("user_id"), col("cents"),
          expr("(nxt - us) div 1000000").as("dur_s"))
        // widen=true carries Σ cents·dur in decimal(38,0) past the
        // ~9·10⁹ cents·s/key int64 bound — same API (ExactEvals)
        .transform(s2 => functions.ExactEvals.twapFromSegments(s2))
    },
      // identical µs arithmetic, segment durations, and floor-division
      // weighted mean (all operands nonnegative)
      Some("""WITH x AS (SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
         l AS (SELECT user_id, cents, us,
             lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS nxt
           FROM x),
         seg AS (SELECT user_id, cents, (nxt - us) // 1000000 AS dur_s
                 FROM l WHERE nxt IS NOT NULL)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_seg,
           CAST(sum(dur_s) AS BIGINT) AS dur_s,
           CAST(sum(cents * dur_s) AS BIGINT) AS wsum,
           CAST(CASE WHEN sum(dur_s) = 0 THEN 0
                ELSE (1000000 * sum(cents * dur_s)) // sum(dur_s) END AS BIGINT)
             AS twap_sc
         FROM seg GROUP BY 1""")),

    // V — EXACT tied ROC-AUC of the quality score as a near-dup
    // detector (the threshold-free companion to q201's PR sweep and
    // q204's reliability table): score groups carry (pos, neg) counts,
    // one cumulative window over the DISTINCT-score grid (cardinality
    // = score range, never the corpus), and 2U = Σ p·(2·cum_neg + n)
    // — the Mann-Whitney rank-sum with ties counted at half, all in
    // exact integers (u2 keeps the ×2 scaling so no halves exist).
    Entry("q209_exact_auc", (s, dir) => {
      val d = t(s, dir, "documents")
      val scored = functions.TextFunctions.withLinearQuality(d, col("text"), "__q")
        .select(col("doc_id"), (-col("__q.z")).as("score")) // high = predicted dup
      val losers = functions.Dedup.simhashPairsPortable(d, "text", "doc_id")
        .select(col("idB").as("doc_id")).distinct().withColumn("__dup", lit(1L))
      val grp = scored.join(losers, Seq("doc_id"), "left")
        .select(col("score"), col("__dup").isNotNull.as("pos"))
        .groupBy(col("score"))
        .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("p"),
          sum(when(col("pos"), 0L).otherwise(1L)).as("n"))
      // widen=true runs u2 in decimal(38,0) past ~2·10⁹ docs/class —
      // same API, same distinct-score-grid window (ExactEvals)
      functions.ExactEvals.aucBpFromGroups(grp)
    },
      // q205's z replay + q204's loser replay + the identical tied
      // rank-sum over DISTINCT score groups (u2 keeps the ×2 scaling;
      // every operand in the final division is positive)
      Some("""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                      x -> x <> '') AS t
           FROM documents),
         f AS (
           SELECT doc_id,
             CAST(len(t) AS BIGINT) AS wc,
             CAST(COALESCE(list_sum(list_transform(t, x -> length(x))), 0) AS BIGINT) AS chars,
             CAST(len(list_intersect(t,
               ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_d,
             CAST(CASE WHEN len(t) < 3 THEN 0 ELSE len(t) - 2 END AS BIGINT) AS n3,
             CAST(CASE WHEN len(t) < 3 THEN 0
                  ELSE len(list_distinct(list_transform(range(1, len(t)-1),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) END AS BIGINT) AS n3d
           FROM toks),
         z AS (
           SELECT doc_id,
             CAST(-600 + 30 * least(wc, 100) + 400 * stop_d
                  - 2 * (CASE WHEN wc = 0 THEN 0 ELSE (chars * 100) // wc END)
                  - 1 * (CASE WHEN n3 = 0 THEN 0
                         ELSE ((n3 - n3d) * 10000) // n3 END) AS BIGINT) AS z
           FROM f),
         th AS (
           SELECT doc_id,
                  list_transform(t, x -> CAST('0x'||substring(md5(x), 1, 15) AS BIGINT)) AS h,
                  len(t) AS n
           FROM toks),
         bits AS (
           SELECT doc_id, b,
                  CASE WHEN 2 * len(list_filter(h, v -> (v >> b) & 1 = 1)) > n
                       THEN (CAST(1 AS BIGINT) << b) ELSE 0 END AS bit
           FROM th, range(0, 60) r(b)),
         sims AS (
           SELECT doc_id, CAST(sum(bit) AS BIGINT) AS sim FROM bits GROUP BY doc_id),
         blocks AS (
           SELECT doc_id, blk, (sim >> CAST(blk * 15 AS INTEGER)) & 32767 AS bucket, sim
           FROM sims, range(0, 4) r(blk)),
         losers AS (
           SELECT DISTINCT b.doc_id AS doc_id
           FROM blocks a JOIN blocks b
             ON a.blk = b.blk AND a.bucket = b.bucket AND a.doc_id < b.doc_id
           WHERE bit_count(xor(a.sim, b.sim)) <= 3),
         lab AS (
           SELECT -z.z AS score, l.doc_id IS NOT NULL AS pos
           FROM z LEFT JOIN losers l ON l.doc_id = z.doc_id),
         grp AS (
           SELECT score,
             CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS p,
             CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n
           FROM lab GROUP BY 1),
         cum AS (
           SELECT score, p, n,
             CAST(COALESCE(sum(n) OVER (ORDER BY score ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_n
           FROM grp)
         SELECT CAST(sum(p) AS BIGINT) AS n_pos, CAST(sum(n) AS BIGINT) AS n_neg,
           CAST(sum(p * (2 * cum_n + n)) AS BIGINT) AS u2,
           CAST(CASE WHEN sum(p) = 0 OR sum(n) = 0 THEN 0
                ELSE (10000 * sum(p * (2 * cum_n + n))) // (2 * sum(p) * sum(n))
                END AS BIGINT) AS auc_bp
         FROM cum""")),

    // V — Cohen's kappa between two INDEPENDENT quality raters (the
    // Gopher rule conjunction vs the linear classifier): one
    // contingency aggregate, kappa as an exact integer fraction
    // (kappa_num/kappa_den; the reader divides — `div` truncates and
    // `//` floors, and kappa goes negative, exactly where they
    // disagree). The standard "do my filters even agree?" audit
    // before composing them into a curation gate.
    Entry("q210_cohens_kappa", (s, dir) => {
      val scored = functions.TextFunctions.withLinearQuality(
          t(s, dir, "documents"), col("text"), "__q")
        .select(
          functions.TextFunctions.gopherFlags(col("text")).getField("pass").as("g"),
          col("__q.keep").as("k"))
      scored.agg(count(lit(1)).as("n_docs"),
          sum(when(col("g") && col("k"), 1L).otherwise(0L)).as("a"),
          sum(when(col("g") && !col("k"), 1L).otherwise(0L)).as("b"),
          sum(when(!col("g") && col("k"), 1L).otherwise(0L)).as("c"),
          sum(when(!col("g") && !col("k"), 1L).otherwise(0L)).as("d"))
        .select(col("n_docs"), col("a"), col("b"), col("c"), col("d"),
          expr("1000000 * (n_docs * (a + d) - ((a+b)*(a+c) + (c+d)*(b+d)))")
            .as("kappa_num"),
          expr("n_docs * n_docs - ((a+b)*(a+c) + (c+d)*(b+d))").as("kappa_den"))
    },
      // q107's gopher-rule replay (on raw text) × q205's keep replay →
      // one contingency row; kappa emitted as an exact integer fraction
      Some("""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                      x -> x <> '') AS t
           FROM documents),
         f AS (
           SELECT doc_id,
             CAST(len(t) AS BIGINT) AS wc,
             CAST(COALESCE(list_sum(list_transform(t, x -> length(x))), 0) AS BIGINT) AS chars,
             CAST(len(list_intersect(t,
               ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_d,
             CAST(CASE WHEN len(t) < 3 THEN 0 ELSE len(t) - 2 END AS BIGINT) AS n3,
             CAST(CASE WHEN len(t) < 3 THEN 0
                  ELSE len(list_distinct(list_transform(range(1, len(t)-1),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) END AS BIGINT) AS n3d
           FROM toks),
         keepz AS (
           SELECT doc_id,
             (-600 + 30 * least(wc, 100) + 400 * stop_d
              - 2 * (CASE WHEN wc = 0 THEN 0 ELSE (chars * 100) // wc END)
              - 1 * (CASE WHEN n3 = 0 THEN 0
                     ELSE ((n3 - n3d) * 10000) // n3 END)) > 0 AS k
           FROM f),
         gm AS (SELECT doc_id, trim(text) AS t FROM documents),
         gf AS (SELECT doc_id,
           CASE WHEN length(t) = 0 THEN 0
                ELSE len(regexp_extract_all(t, '\S+')) END AS n,
           length(regexp_replace(t, '\s+', '', 'g')) AS chars,
           length(t) - length(regexp_replace(t, '#', '', 'g')) AS hashes,
           (length(t) - length(regexp_replace(t, '\.\.\.', '', 'g'))) // 3 AS ellipses,
           len(list_filter(regexp_extract_all(t, '\S+'),
               w -> regexp_matches(w, '[A-Za-z]'))) AS alpha,
           len(list_intersect(list_transform(regexp_extract_all(t, '\S+'), w -> lower(w)),
               ['the','be','to','of','and','that','have','with'])) AS stops
           FROM gm),
         gp AS (SELECT doc_id,
           (n >= 50 AND n <= 100000) AND (chars >= n*3 AND chars <= n*10)
             AND ((hashes + ellipses) * 10 <= n) AND (alpha * 5 >= n * 4)
             AND (stops >= 2) AS g
           FROM gf),
         ct AS (
           SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN g AND k THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN g AND NOT k THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(sum(CASE WHEN NOT g AND k THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(sum(CASE WHEN NOT g AND NOT k THEN 1 ELSE 0 END) AS BIGINT) AS d
           FROM gp JOIN keepz USING (doc_id))
         SELECT n_docs, a, b, c, d,
           CAST(1000000 * (n_docs * (a + d) - ((a+b)*(a+c) + (c+d)*(b+d))) AS BIGINT)
             AS kappa_num,
           CAST(n_docs * n_docs - ((a+b)*(a+c) + (c+d)*(b+d)) AS BIGINT) AS kappa_den
         FROM ct""")),

    // A — event-type association (market-basket lift over user
    // baskets): distinct (user, type) pairs self-join WITHIN user
    // (baskets are ≤ |types| wide, so the join fans out ≤ C(|types|,2)
    // per user, never user²), then exact support/lift against the
    // type marginals. All divisions are over positive integers, where
    // truncating div == floor div on both engines.
    Entry("q211_event_pair_lift", (s, dir) => {
      val ut = t(s, dir, "events")
        .select(col("user_id"), col("event_type")).distinct()
      val nUsers = ut.agg(countDistinct(col("user_id")).as("n_users"))
      val totals = ut.groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
      val co = ut.as("x").join(ut.as("y"),
          col("x.user_id") === col("y.user_id") &&
            col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("type_a"),
          col("y.event_type").as("type_b"))
        .agg(count(lit(1)).as("co"))
      val counts = co.join(broadcast(totals.select(col("event_type").as("type_a"),
          col("cnt").as("cnt_a"))), Seq("type_a"))
        .join(broadcast(totals.select(col("event_type").as("type_b"),
          col("cnt").as("cnt_b"))), Seq("type_b"))
        .crossJoin(broadcast(nUsers))
      // widen=true runs the 10⁶·co·n_users triple product in
      // decimal(38,0) past ~3·10⁶ users/shard — same API (ExactEvals)
      functions.ExactEvals.pairLiftFromCounts(counts)
    },
      // identical distinct baskets, within-user pairing, and positive
      // integer floor divisions
      Some("""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
         nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM ut),
         tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS cnt FROM ut GROUP BY 1),
         co AS (
           SELECT x.event_type AS type_a, y.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS co
           FROM ut x JOIN ut y
             ON x.user_id = y.user_id AND x.event_type < y.event_type
           GROUP BY 1, 2)
         SELECT type_a, type_b, co, ta.cnt AS cnt_a, tb.cnt AS cnt_b,
           CAST((10000 * co) // n_users AS BIGINT) AS support_bp,
           CAST((1000000 * co * n_users) // (ta.cnt * tb.cnt) AS BIGINT) AS lift_ppm
         FROM co
         JOIN tot ta ON ta.event_type = type_a
         JOIN tot tb ON tb.event_type = type_b
         CROSS JOIN nu""")),

    // A — cross-source trigram overlap matrix (corpus-diversity audit:
    // which sources are near-clones of each other BEFORE doc-level
    // near-dup ever runs). Pair counting goes through a SOURCE-MASK
    // HISTOGRAM, not a gram-keyed pair join: each gram aggregates to
    // one ≤64-bit membership mask, masks aggregate to a (mask, count)
    // histogram, and the C(|sources|,2) pair expansion happens on THAT
    // table — |distinct masks| rows, corpus-size independent. The
    // naive gram self-join emitted C(20,2)=190 rows per shared gram
    // (28.7 s at sf0.1 — a synthetic corpus shares most trigrams
    // across all sources); the histogram shape shuffles each distinct
    // gram exactly twice (distinct, mask agg) and nothing else.
    // Pairs sharing zero trigrams are omitted by definition.
    Entry("q212_source_overlap", (s, dir) => {
      val srcIds = t(s, dir, "documents").select(col("source")).distinct()
        .withColumn("sid",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("source"))) - 1) // tiny dim: |sources| rows
        .localCheckpoint(true) // referenced 4×; also guards the driver count below
      require(srcIds.count() <= 64,
        "source-mask overlap supports at most 64 sources; shard the matrix by source group beyond that")
      val g = functions.TextFunctions.withTokenGrams(
          t(s, dir, "documents"), col("text"), 3, "__g3")
        .select(col("source"), explode_outer(col("__g3")).as("gram"))
        .filter(col("gram").isNotNull) // explode_outer: graft.util.Explode
        .distinct()
        .join(broadcast(srcIds), Seq("source"))
      val masks = g.groupBy(col("gram"))
        .agg(sum(expr("CAST(1 AS BIGINT) << sid")).as("mask")) // sid distinct per gram ⇒ sum == bit_or
        .groupBy(col("mask")).agg(count(lit(1)).as("cnt"))
        // the histogram is corpus-size-INDEPENDENT (≤ |distinct masks|
        // rows) but its lineage is the full gram pass — eager-checkpoint
        // so the pair expansion and the size rollup don't re-run it
        .localCheckpoint(true)
      val a = srcIds.select(col("source").as("src_a"), col("sid").as("sid_a"))
      val b = srcIds.select(col("source").as("src_b"), col("sid").as("sid_b"))
      val inter = masks.join(broadcast(a), expr("((mask >> sid_a) & 1) = 1"))
        .join(broadcast(b), expr("((mask >> sid_b) & 1) = 1 AND src_a < src_b"))
        .groupBy(col("src_a"), col("src_b")).agg(sum(col("cnt")).as("inter"))
      // per-source set sizes fall out of the SAME histogram — no second
      // corpus pass
      val sizes = masks
        .join(broadcast(srcIds), expr("((mask >> sid) & 1) = 1"))
        .groupBy(col("source")).agg(sum(col("cnt")).as("sz"))
      inter
        .join(broadcast(sizes.select(col("source").as("src_a"), col("sz").as("sz_a"))),
          Seq("src_a"))
        .join(broadcast(sizes.select(col("source").as("src_b"), col("sz").as("sz_b"))),
          Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("inter"), col("sz_a"), col("sz_b"),
          expr("(10000 * inter) div (sz_a + sz_b - inter)").as("jac_bp"))
    },
      // identical tokenization, 1-indexed trigram windows, distinct
      // per-source sets, and gram-keyed intersection join
      Some("""WITH toks AS (
           SELECT source, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                      x -> x <> '') AS t
           FROM documents),
         g AS (
           SELECT DISTINCT source,
             unnest(list_transform(range(1, len(t) - 1),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
           FROM toks),
         sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS sz FROM g GROUP BY 1),
         inter AS (
           SELECT x.source AS src_a, y.source AS src_b, CAST(count(*) AS BIGINT) AS inter
           FROM g x JOIN g y ON x.gram = y.gram AND x.source < y.source
           GROUP BY 1, 2)
         SELECT src_a, src_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
           CAST((10000 * inter) // (sa.sz + sb.sz - inter) AS BIGINT) AS jac_bp
         FROM inter
         JOIN sizes sa ON sa.source = src_a
         JOIN sizes sb ON sb.source = src_b""")),

    // Q — Benford first-digit audit on order line prices (the classic
    // fabricated-data / broken-ETL tripwire): observed first-digit
    // shares vs the Benford expectation, with log10(1+1/d) PRE-QUANTIZED
    // to ppb integer literals (the q207 discipline — no runtime logs,
    // so the whole audit is exact integer arithmetic). diff_ppb is a
    // subtraction, not a division — sign-safe on both engines. One
    // map + one 9-group aggregate; the total re-derives from the digit
    // counts themselves (a window over ≤9 rows, never the corpus).
    Entry("q213_benford_audit", (s, dir) => {
      val benford = Seq(301029995L, 176091259L, 124938736L, 96910013L,
        79181246L, 66946789L, 57991946L, 51152522L, 45757490L)
      val w = org.apache.spark.sql.expressions.Window.partitionBy()
      t(s, dir, "lineitem")
        .select(substring(round(col("l_extendedprice") * 100).cast("long")
          .cast("string"), 1, 1).cast("long").as("d"))
        .groupBy(col("d")).agg(count(lit(1)).as("n_d"))
        .withColumn("__n", sum(col("n_d")).over(w))
        .select(col("d"), col("n_d"),
          expr("(1000000000 * n_d) div __n").as("share_ppb"),
          element_at(array(benford.map(lit): _*), col("d").cast("int"))
            .as("benford_ppb"))
        .withColumn("diff_ppb", col("share_ppb") - col("benford_ppb"))
    },
      // the identical cents string first digit + the same ppb literal
      // table; diff is a subtraction (sign-safe), never a division
      Some("""WITH d AS (
           SELECT CAST(substring(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
             AS VARCHAR), 1, 1) AS BIGINT) AS d
           FROM lineitem),
         g AS (SELECT d, CAST(count(*) AS BIGINT) AS n_d FROM d GROUP BY 1),
         tt AS (SELECT CAST(sum(n_d) AS BIGINT) AS n FROM g)
         SELECT d, n_d,
           CAST((1000000000 * n_d) // tt.n AS BIGINT) AS share_ppb,
           CAST([301029995, 176091259, 124938736, 96910013, 79181246,
                 66946789, 57991946, 51152522, 45757490][CAST(d AS INTEGER)]
             AS BIGINT) AS benford_ppb,
           CAST((1000000000 * n_d) // tt.n
             - [301029995, 176091259, 124938736, 96910013, 79181246,
                66946789, 57991946, 51152522, 45757490][CAST(d AS INTEGER)]
             AS BIGINT) AS diff_ppb
         FROM g CROSS JOIN tt""")),

    // A — vocabulary health per language: type-token ratio and the
    // hapax-legomenon share (words seen exactly once — the classic
    // "is this corpus slice big/diverse enough" lexicostatistics).
    // One exploded count aggregate + one per-lang rollup; everything
    // shuffle-bounded by distinct (lang, token) cardinality.
    Entry("q214_hapax_ratio", (s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"),
          explode_outer(functions.TextFunctions.tokens(col("text"))).as("tok"))
        .filter(col("tok").isNotNull) // explode_outer: graft.util.Explode
        .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("vocab"),
          sum(when(col("cnt") === 1L, 1L).otherwise(0L)).as("hapax"),
          sum(col("cnt")).as("n_tokens"))
        .select(col("lang"), col("vocab"), col("hapax"), col("n_tokens"),
          expr("(10000 * hapax) div vocab").as("hapax_bp"),
          expr("(10000 * vocab) div n_tokens").as("ttr_bp"))
    },
      // identical tokenization, per-(lang, token) counts, per-lang rollup
      Some("""WITH toks AS (
           SELECT lang, unnest(list_filter(
             string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS tok
           FROM documents),
         c AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS cnt
               FROM toks GROUP BY 1, 2)
         SELECT lang, CAST(count(*) AS BIGINT) AS vocab,
           CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           CAST(sum(cnt) AS BIGINT) AS n_tokens,
           CAST((10000 * sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)) // count(*)
             AS BIGINT) AS hapax_bp,
           CAST((10000 * count(*)) // sum(cnt) AS BIGINT) AS ttr_bp
         FROM c GROUP BY 1""")),

    // E — Johnson–Lindenstrauss sign projection (Achlioptas ±1): 64-d
    // embeddings down to 16-d with a DETERMINISTIC ±1 matrix drawn
    // from md5 nibble parity (both engines replay the identical draw —
    // the q202 deterministic-randomness rule), inputs quantized to
    // ×2²⁰ integers (the q192 rule) so every projected coordinate is
    // an EXACT integer sum. Shape: one broadcast of the 64×16 sign
    // grid, per-(vec, dim) partial aggregation — dim-reduction before
    // ANN is a map-side pass, never a shuffle of the corpus.
    Entry("q215_jl_projection", (s, dir) => {
      val r = s.range(64).select(col("id").as("i"))
        .crossJoin(s.range(16).select(col("id").as("j")))
        .select(col("i"), col("j"),
          when(expr("CAST(conv(substring(md5(concat('jl:', i, ':', j)), 1, 1), 16, 10) AS INT) % 2 = 1"),
            1L).otherwise(-1L).as("r"))
      val pd = t(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode_outer(transform(col("embedding").cast("array<double>"),
            x => round(x * lit(1048576d)).cast("long"))).as(Seq("pos", "x")))
        .filter(col("x").isNotNull) // outer: graft.util.Explode
        .select(col("vec_id"), col("pos").cast("long").as("i"), col("x"))
      pd.join(broadcast(r), Seq("i"))
        .groupBy(col("vec_id"), col("j"))
        .agg(sum(col("x") * col("r")).as("proj_sc"))
    },
      // the identical md5-nibble-parity ±1 grid and ×2^20 quantization
      Some("""WITH r AS (
           SELECT i, j,
             CASE WHEN CAST('0x'||substring(md5('jl:'||i||':'||j), 1, 1) AS BIGINT) % 2 = 1
                  THEN 1 ELSE -1 END AS r
           FROM range(0, 64) a(i), range(0, 16) b(j)),
         pd AS (
           SELECT vec_id,
             CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1048576) AS BIGINT) AS x
           FROM embeddings)
         SELECT vec_id, j, CAST(sum(x * r) AS BIGINT) AS proj_sc
         FROM pd JOIN r USING (i) GROUP BY 1, 2""")),

    // V — what did the 4× JL compression cost in neighbor quality?
    // Exact-cosine top-10 in the PROJECTED 16-d space vs the full-64-d
    // gold, recall@10 per query — the eval that justifies (or rejects)
    // running ANN on projected vectors. Both rankings deterministic
    // (cos desc, id asc); everything integer until the final cosine.
    Entry("q216_jl_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val r = s.range(64).select(col("id").as("i"))
        .crossJoin(s.range(16).select(col("id").as("j")))
        .select(col("i"), col("j"),
          when(expr("CAST(conv(substring(md5(concat('jl:', i, ':', j)), 1, 1), 16, 10) AS INT) % 2 = 1"),
            1L).otherwise(-1L).as("r"))
      val proj = emb
        .select(col("vec_id"),
          posexplode_outer(transform(col("embedding").cast("array<double>"),
            x => round(x * lit(1048576d)).cast("long"))).as(Seq("pos", "x")))
        .filter(col("x").isNotNull)
        .select(col("vec_id"), col("pos").cast("long").as("i"), col("x"))
        .join(broadcast(r), Seq("i"))
        .groupBy(col("vec_id"), col("j"))
        .agg(sum(col("x") * col("r")).as("p"))
        .groupBy(col("vec_id"))
        .agg(sort_array(collect_list(struct(col("j"), col("p")))).as("a"))
        .select(col("vec_id"),
          transform(col("a"), x => x.getField("p").cast("double")).as("pv"))
      val pq = proj.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("query_id"), col("pv").as("query_vec"))
      val sys = functions.Similarity
        .bruteForceTopK(pq, proj.select(col("vec_id"), col("pv").as("embedding")), k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val qv = emb.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val gold = functions.Similarity.bruteForceTopK(qv, emb, k = 10)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__g"))
      sys.join(gold, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(when(col("__g").isNotNull, 1L).otherwise(0L)).as("n_hits"))
        .select(col("query_id"), col("n_hits"),
          expr("(10000 * n_hits) div 10").as("recall_bp"))
    },
      // same projection replay; both rankings by (cos DESC, id ASC) —
      // integer-valued double dots stay exact (< 2^53), so ranks match
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         r AS (
           SELECT i, j,
             CASE WHEN CAST('0x'||substring(md5('jl:'||i||':'||j), 1, 1) AS BIGINT) % 2 = 1
                  THEN 1 ELSE -1 END AS r
           FROM range(0, 64) a(i), range(0, 16) b(j)),
         pd AS (
           SELECT vec_id,
             CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1048576) AS BIGINT) AS x
           FROM embeddings),
         pr AS (SELECT vec_id, j, CAST(sum(x * r) AS BIGINT) AS p
                FROM pd JOIN r USING (i) GROUP BY 1, 2),
         pv AS (SELECT vec_id, CAST(list(p ORDER BY j) AS DOUBLE[]) AS pv
                FROM pr GROUP BY 1),
         sys AS (
           SELECT query_id, neighbor_id FROM (
             SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_dot_product(q.pv, c.pv)
                   / (sqrt(list_dot_product(q.pv, q.pv)) * sqrt(list_dot_product(c.pv, c.pv)))
                 DESC, c.vec_id ASC) AS rn
             FROM pv q JOIN pv c ON c.vec_id <> q.vec_id
             WHERE q.vec_id % 25 = 0) WHERE rn <= 10),
         gold AS (
           SELECT query_id, neighbor_id FROM (
             SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_dot_product(q.v, c.v)
                   / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
                 DESC, c.vec_id ASC) AS rn
             FROM e q JOIN e c ON c.vec_id <> q.vec_id
             WHERE q.vec_id % 25 = 0) WHERE rn <= 10)
         SELECT s.query_id,
           CAST(sum(CASE WHEN g.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hits,
           CAST((10000 * sum(CASE WHEN g.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)) // 10
             AS BIGINT) AS recall_bp
         FROM sys s
         LEFT JOIN gold g
           ON g.query_id = s.query_id AND g.neighbor_id = s.neighbor_id
         GROUP BY 1""")),

    // D — SOFT dedup: per-doc loss/sampling weight = 10⁶ div
    // cluster_size over q76's transitive clusters — keep every copy
    // but down-weight so each duplicate FAMILY contributes one unit
    // (the train-on-everything-but-debias alternative to dropping).
    // One count join over the cluster assignment; weights exact.
    Entry("q217_cluster_weights", (s, dir) => {
      val cl = functions.Dedup.simhashClustersPortable(
          t(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("cluster"))
      val sz = cl.groupBy(col("cluster")).agg(count(lit(1)).as("csize"))
      cl.join(sz, Seq("cluster"))
        .select(col("doc_id"), col("cluster"), col("csize"),
          expr("1000000 div csize").as("w_ppm"))
    },
      // q76's recursive-CTE cluster replay + the per-cluster count
      Some("""WITH RECURSIVE toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                      x -> x <> '') AS t
           FROM documents),
         th AS (
           SELECT doc_id,
                  list_transform(t, x -> CAST('0x'||substring(md5(x), 1, 15) AS BIGINT)) AS h,
                  len(t) AS n
           FROM toks),
         bits AS (
           SELECT doc_id, b,
                  CASE WHEN 2 * len(list_filter(h, v -> (v >> b) & 1 = 1)) > n
                       THEN (CAST(1 AS BIGINT) << b) ELSE 0 END AS bit
           FROM th, range(0, 60) r(b)),
         sims AS (
           SELECT doc_id, CAST(sum(bit) AS BIGINT) AS sim FROM bits GROUP BY doc_id),
         blocks AS (
           SELECT doc_id, blk, (sim >> CAST(blk * 15 AS INTEGER)) & 32767 AS bucket, sim
           FROM sims, range(0, 4) r(blk)),
         pairs AS (
           SELECT DISTINCT a.doc_id AS idA, b.doc_id AS idB, a.sim AS simA, b.sim AS simB
           FROM blocks a JOIN blocks b
             ON a.blk = b.blk AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         edges AS (
           SELECT idA AS src, idB AS dst FROM pairs WHERE bit_count(xor(simA, simB)) <= 3
           UNION ALL
           SELECT idB, idA FROM pairs WHERE bit_count(xor(simA, simB)) <= 3),
         reach(id, lab) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
           WHERE r.lab < e.dst),
         cl AS (SELECT id AS doc_id, min(lab) AS cluster FROM reach GROUP BY id),
         sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS csize FROM cl GROUP BY 1)
         SELECT doc_id, cl.cluster, csize,
           CAST(1000000 // csize AS BIGINT) AS w_ppm
         FROM cl JOIN sz ON sz.cluster = cl.cluster""")),

    // A — duplicate-cluster size spectrum: how much of the corpus sits
    // in clusters of each size (the power-law audit that sizes dedup
    // budgets — a fat tail of big clusters means banding thresholds,
    // not exact dedup, set your effective epochs). Two tiny rollups
    // past the cluster assignment.
    Entry("q218_cluster_size_hist", (s, dir) => {
      functions.Dedup.simhashClustersPortable(
          t(s, dir, "documents"), "text", "doc_id")
        .groupBy(col("cluster")).agg(count(lit(1)).as("csize"))
        .groupBy(col("csize"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("csize")).as("n_docs"))
    },
      // same replay, rolled up to the size spectrum
      Some("""WITH RECURSIVE toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                      x -> x <> '') AS t
           FROM documents),
         th AS (
           SELECT doc_id,
                  list_transform(t, x -> CAST('0x'||substring(md5(x), 1, 15) AS BIGINT)) AS h,
                  len(t) AS n
           FROM toks),
         bits AS (
           SELECT doc_id, b,
                  CASE WHEN 2 * len(list_filter(h, v -> (v >> b) & 1 = 1)) > n
                       THEN (CAST(1 AS BIGINT) << b) ELSE 0 END AS bit
           FROM th, range(0, 60) r(b)),
         sims AS (
           SELECT doc_id, CAST(sum(bit) AS BIGINT) AS sim FROM bits GROUP BY doc_id),
         blocks AS (
           SELECT doc_id, blk, (sim >> CAST(blk * 15 AS INTEGER)) & 32767 AS bucket, sim
           FROM sims, range(0, 4) r(blk)),
         pairs AS (
           SELECT DISTINCT a.doc_id AS idA, b.doc_id AS idB, a.sim AS simA, b.sim AS simB
           FROM blocks a JOIN blocks b
             ON a.blk = b.blk AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         edges AS (
           SELECT idA AS src, idB AS dst FROM pairs WHERE bit_count(xor(simA, simB)) <= 3
           UNION ALL
           SELECT idB, idA FROM pairs WHERE bit_count(xor(simA, simB)) <= 3),
         reach(id, lab) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
           WHERE r.lab < e.dst),
         cl AS (SELECT id AS doc_id, min(lab) AS cluster FROM reach GROUP BY id),
         sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS csize FROM cl GROUP BY 1)
         SELECT csize, CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(csize) AS BIGINT) AS n_docs
         FROM sz GROUP BY 1""")),

    // T — did dedup debiasing MOVE the quality profile? Per source:
    // the plain sum of quality z vs the q217-weighted sum (Σ z·w_ppm,
    // exact scaled integers) and the duplicated-doc count — if wz/w
    // diverges from sum_z/n, duplicate families were systematically
    // better or worse than the rest and a naive mean was biased. One
    // join of two already-pinned per-doc signals + one rollup.
    Entry("q219_weighted_quality", (s, dir) => {
      val d = t(s, dir, "documents")
      val scored = functions.TextFunctions.withLinearQuality(d, col("text"), "__q")
        .select(col("doc_id"), col("source"), col("__q.z").as("z"))
      val w = functions.Dedup.simhashClustersPortable(d, "text", "doc_id")
        .select(col("doc_id"), col("cluster"))
      val sz = w.groupBy(col("cluster")).agg(count(lit(1)).as("csize"))
      scored.join(w.join(sz, Seq("cluster")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("csize") > 1L, 1L).otherwise(0L)).as("dup_docs"),
          sum(col("z")).as("sum_z"),
          sum(col("z") * expr("1000000 div csize")).as("wz_sc"),
          sum(expr("1000000 div csize")).as("w_sc"))
    },
      // q76 cluster replay x q205 z replay, one rollup
      Some("""WITH RECURSIVE toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                      x -> x <> '') AS t
           FROM documents),
         th AS (
           SELECT doc_id,
                  list_transform(t, x -> CAST('0x'||substring(md5(x), 1, 15) AS BIGINT)) AS h,
                  len(t) AS n
           FROM toks),
         bits AS (
           SELECT doc_id, b,
                  CASE WHEN 2 * len(list_filter(h, v -> (v >> b) & 1 = 1)) > n
                       THEN (CAST(1 AS BIGINT) << b) ELSE 0 END AS bit
           FROM th, range(0, 60) r(b)),
         sims AS (
           SELECT doc_id, CAST(sum(bit) AS BIGINT) AS sim FROM bits GROUP BY doc_id),
         blocks AS (
           SELECT doc_id, blk, (sim >> CAST(blk * 15 AS INTEGER)) & 32767 AS bucket, sim
           FROM sims, range(0, 4) r(blk)),
         pairs AS (
           SELECT DISTINCT a.doc_id AS idA, b.doc_id AS idB, a.sim AS simA, b.sim AS simB
           FROM blocks a JOIN blocks b
             ON a.blk = b.blk AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         edges AS (
           SELECT idA AS src, idB AS dst FROM pairs WHERE bit_count(xor(simA, simB)) <= 3
           UNION ALL
           SELECT idB, idA FROM pairs WHERE bit_count(xor(simA, simB)) <= 3),
         reach(id, lab) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
           WHERE r.lab < e.dst),
         cl AS (SELECT id AS doc_id, min(lab) AS cluster FROM reach GROUP BY id),
         sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS csize FROM cl GROUP BY 1),
         f AS (
           SELECT doc_id,
             CAST(len(t) AS BIGINT) AS wc,
             CAST(COALESCE(list_sum(list_transform(t, x -> length(x))), 0) AS BIGINT) AS chars,
             CAST(len(list_intersect(t,
               ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_d,
             CAST(CASE WHEN len(t) < 3 THEN 0 ELSE len(t) - 2 END AS BIGINT) AS n3,
             CAST(CASE WHEN len(t) < 3 THEN 0
                  ELSE len(list_distinct(list_transform(range(1, len(t)-1),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) END AS BIGINT) AS n3d
           FROM toks),
         z AS (
           SELECT doc_id,
             CAST(-600 + 30 * least(wc, 100) + 400 * stop_d
                  - 2 * (CASE WHEN wc = 0 THEN 0 ELSE (chars * 100) // wc END)
                  - 1 * (CASE WHEN n3 = 0 THEN 0
                         ELSE ((n3 - n3d) * 10000) // n3 END) AS BIGINT) AS z
           FROM f)
         SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN csize > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
           CAST(sum(z.z) AS BIGINT) AS sum_z,
           CAST(sum(z.z * (1000000 // csize)) AS BIGINT) AS wz_sc,
           CAST(sum(1000000 // csize) AS BIGINT) AS w_sc
         FROM documents d
         JOIN cl ON cl.doc_id = d.doc_id
         JOIN sz ON sz.cluster = cl.cluster
         JOIN z ON z.doc_id = d.doc_id
         GROUP BY 1""")),

    // T — DEFLATE kernel calibration, oracle-gated (closes the one
    // spec-pinned-only operator, VERDICT r6 #7): deterministic fixture
    // strings both engines can construct (repeat of an md5-prefix
    // period → compressible; three concatenated md5s → high-entropy),
    // deflated by the engine's codegen Expression; the oracle replays
    // PRECOMPUTED sizes from an INDEPENDENT zlib implementation
    // (CPython's, level 6, zlib-wrapped — verified byte-identical to
    // java.util.zip at the pinned level). A hash match proves the
    // Deflater kernel emits canonical zlib output end-to-end — the
    // fixture-table form of an oracle for a function DuckDB lacks.
    Entry("q220_deflate_calibration", (s, dir) => {
      val base = s.range(1, 65).select(col("id").as("n"))
      def rep = expr(
        "repeat(substring(md5(cast(cast(n as string) as binary)), 1, 16), cast(n as int))")
      def mix = expr(
        """concat(md5(cast(cast(n as string) as binary)),
                  md5(cast(cast(n + 1000 as string) as binary)),
                  md5(cast(cast(7 * n + 3 as string) as binary)))""")
      base.select(col("n"),
        octet_length(rep).cast("long").as("raw_len"),
        functions.DeflateSize.deflateSize(rep).cast("long").as("dz_rep"),
        functions.DeflateSize.deflateSize(mix).cast("long").as("dz_mix"))
    },
      // fixture-table oracle: expected sizes PRECOMPUTED by an independent
      // zlib (CPython zlib.compress(s, 6), zlib-wrapped — verified
      // byte-identical to java.util.zip.Deflater(6)) over the same
      // deterministic strings: rep(n) = repeat(md5(n)[:16], n),
      // mix(n) = md5(n)||md5(n+1000)||md5(7n+3)
      Some("""SELECT CAST(n AS BIGINT) AS n, CAST(raw_len AS BIGINT) AS raw_len,
           CAST(dz_rep AS BIGINT) AS dz_rep, CAST(dz_mix AS BIGINT) AS dz_mix
         FROM (VALUES
           (1,16,22,75),(2,32,27,75),(3,48,27,76),(4,64,27,73),
           (5,80,27,76),(6,96,27,76),(7,112,27,75),(8,128,27,76),
           (9,144,27,73),(10,160,27,75),(11,176,27,75),(12,192,27,73),
           (13,208,27,76),(14,224,27,75),(15,240,27,75),(16,256,27,74),
           (17,272,27,76),(18,288,28,74),(19,304,29,76),(20,320,29,73),
           (21,336,29,77),(22,352,29,75),(23,368,29,73),(24,384,29,75),
           (25,400,29,74),(26,416,29,75),(27,432,29,74),(28,448,29,75),
           (29,464,29,74),(30,480,29,73),(31,496,29,76),(32,512,29,73),
           (33,528,29,73),(34,544,30,73),(35,560,30,75),(36,576,31,76),
           (37,592,31,74),(38,608,31,75),(39,624,31,73),(40,640,31,75),
           (41,656,31,77),(42,672,31,75),(43,688,31,76),(44,704,31,73),
           (45,720,31,73),(46,736,31,76),(47,752,31,76),(48,768,31,73),
           (49,784,31,77),(50,800,32,75),(51,816,32,74),(52,832,32,75),
           (53,848,32,76),(54,864,33,74),(55,880,33,76),(56,896,33,76),
           (57,912,33,75),(58,928,33,75),(59,944,33,76),(60,960,33,74),
           (61,976,33,76),(62,992,33,75),(63,1008,33,76),(64,1024,33,75))
           AS t(n, raw_len, dz_rep, dz_mix)""")),

    // A — portable HyperLogLog distinct count, ESTIMATE oracle-checked
    // (exact-integer scaled harmonic sum — see functions.Hll): the
    // register table is one partial-agg pass to ≤ 2^p rows, the shape
    // that replaces a full-distinct shuffle for corpus accounting.
    Entry("q221_hll_distinct", (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"))
      val est = functions.Hll.distinctEstimate(li, col("l_orderkey"), p = 9)
      val exact = li.agg(countDistinct(col("l_orderkey")).as("exact"))
      est.crossJoin(broadcast(exact))
        .select(col("n_regs"), col("n_zero_regs"), col("s_scaled"),
          col("est"), col("exact"),
          expr("abs(est - exact) * 10000 div exact").as("err_bp"))
    },
      // the ESTIMATE itself is oracle-checked: every register, the scaled
      // harmonic sum and the integer estimator replay exactly
      Some("""WITH h AS (
           SELECT CAST('0x'||substring(md5(CAST(l_orderkey AS VARCHAR)),1,15) AS BIGINT) AS h
           FROM lineitem),
         r0 AS (SELECT h % 512 AS reg, h // 512 AS w FROM h),
         r1 AS (SELECT reg,
                  CASE WHEN w = 0 THEN 52 ELSE 51 - length(bin(w)) + 1 END AS rank
                FROM r0),
         regs AS (SELECT reg, max(rank) AS rank FROM r1 GROUP BY reg),
         agg AS (SELECT CAST(count(*) AS BIGINT) AS n_regs,
                   CAST(sum(CAST(1 AS BIGINT) << (52 - rank)) AS BIGINT) AS s_obs
                 FROM regs),
         s AS (SELECT n_regs, CAST(512 - n_regs AS BIGINT) AS n_zero_regs,
                 s_obs + (512 - n_regs) * (CAST(1 AS BIGINT) << 52) AS s_scaled
               FROM agg),
         e AS (SELECT n_regs, n_zero_regs, s_scaled,
                 CAST((CAST(719783 AS HUGEINT) * 512 * 512 * (CAST(1 AS HUGEINT) << 52))
                      // (1000000 * CAST(s_scaled AS HUGEINT)) AS BIGINT) AS est
               FROM s),
         x AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact FROM lineitem)
         SELECT n_regs, n_zero_regs, s_scaled, est, exact,
           CAST(abs(est - exact) * 10000 // exact AS BIGINT) AS err_bp
         FROM e, x""")),

    // A — K-Minimum-Values distinct sketch: k smallest distinct hashes
    // (TakeOrderedAndProject — per-partition top-k, never a global
    // sort), estimator in decimal(38,0) integers.
    Entry("q222_kmv_distinct", (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_partkey"))
      val est = functions.Kmv.distinctEstimate(li, col("l_partkey"), k = 1024)
      val exact = li.agg(countDistinct(col("l_partkey")).as("exact"))
      est.crossJoin(broadcast(exact))
        .select(col("n_min"), col("h_k"), col("est"), col("exact"),
          expr("abs(est - exact) * 10000 div exact").as("err_bp"))
    }, Some("""WITH h AS (
           SELECT DISTINCT CAST('0x'||substring(md5(CAST(l_partkey AS VARCHAR)),1,15) AS BIGINT) AS h
           FROM lineitem),
         s AS (SELECT h FROM h ORDER BY h LIMIT 1024),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n_min, max(h) AS h_k FROM s),
         e AS (SELECT n_min, h_k,
                 CAST(CASE WHEN n_min < 1024 THEN n_min
                      ELSE (CAST(1023 AS HUGEINT) * (CAST(1 AS HUGEINT) << 60)) // h_k
                      END AS BIGINT) AS est
               FROM a),
         x AS (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact FROM lineitem)
         SELECT n_min, h_k, est, exact,
           CAST(abs(est - exact) * 10000 // exact AS BIGINT) AS err_bp
         FROM e, x""")),

    // ST+A — STREAMING HLL unique-event audit: the register table is a
    // complete-mode stateful aggregate with CONSTANT state (≤ 2^p rows
    // regardless of stream length), and registers are idempotent under
    // redelivery — the stream re-receives every event_id%5==0 event (an
    // at-least-once source) yet the estimate counts UNIQUES, which is
    // exactly the duplicate-delivery monitor a pipeline wants at sketch
    // cost: dup_bp = (raw_deliveries − est_uniques)/raw. The oracle
    // replays registers, estimator, exact distinct and the raw count.
    Entry("q224_stream_hll_uniques", (s, dir) => {
      val tmp = stageEvents(dir)
      val name = "graft_q224_" + java.util.UUID.randomUUID().toString.replace("-", "")
      graft.streaming.EventsStream.runToMemory(s, tmp.toString, name,
        ev => functions.Hll.registers(
          ev.unionByName(ev.filter(col("event_id") % 5 === 0)),
          col("event_id"), p = 9),
        outputMode = "complete")
      dropStaged(tmp)
      val est = functions.Hll.estimate(s.table(name), p = 9)
      val ex = t(s, dir, "events").agg(
        countDistinct(col("event_id")).as("exact"),
        (count(lit(1)) +
          sum(when(col("event_id") % 5 === 0, 1L).otherwise(0L))).as("n_raw"))
      est.crossJoin(broadcast(ex))
        .select(col("n_regs"), col("n_zero_regs"), col("s_scaled"),
          col("est"), col("exact"),
          expr("abs(est - exact) * 10000 div exact").as("err_bp"),
          col("n_raw"),
          expr("(10000 * (n_raw - est)) div n_raw").as("dup_bp"))
    },
      // registers are redelivery-idempotent, so the oracle replays them
      // over the base table; n_raw re-derives the at-least-once volume
      Some("""WITH h AS (
           SELECT CAST('0x'||substring(md5(CAST(event_id AS VARCHAR)),1,15) AS BIGINT) AS h
           FROM events),
         r0 AS (SELECT h % 512 AS reg, h // 512 AS w FROM h),
         r1 AS (SELECT reg,
                  CASE WHEN w = 0 THEN 52 ELSE 51 - length(bin(w)) + 1 END AS rank
                FROM r0),
         regs AS (SELECT reg, max(rank) AS rank FROM r1 GROUP BY reg),
         agg AS (SELECT CAST(count(*) AS BIGINT) AS n_regs,
                   CAST(sum(CAST(1 AS BIGINT) << (52 - rank)) AS BIGINT) AS s_obs
                 FROM regs),
         s AS (SELECT n_regs, CAST(512 - n_regs AS BIGINT) AS n_zero_regs,
                 s_obs + (512 - n_regs) * (CAST(1 AS BIGINT) << 52) AS s_scaled
               FROM agg),
         e AS (SELECT n_regs, n_zero_regs, s_scaled,
                 CAST((CAST(719783 AS HUGEINT) * 512 * 512 * (CAST(1 AS HUGEINT) << 52))
                      // (1000000 * CAST(s_scaled AS HUGEINT)) AS BIGINT) AS est
               FROM s),
         x AS (SELECT CAST(count(DISTINCT event_id) AS BIGINT) AS exact,
                 CAST(count(*) + sum(CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_raw
               FROM events)
         SELECT n_regs, n_zero_regs, s_scaled, est, exact,
           CAST(abs(est - exact) * 10000 // exact AS BIGINT) AS err_bp,
           n_raw, CAST((10000 * (n_raw - est)) // n_raw AS BIGINT) AS dup_bp
         FROM e, x"""), Streaming),

    // A — KMV set algebra: union/intersection/Jaccard estimates of two
    // sources' trigram-shingle vocabularies from 256-hash sketches —
    // the "how much do these corpora overlap?" audit at sketch cost
    // (everything after the two sketches runs over ≤ 3k rows).
    Entry("q223_kmv_source_overlap", (s, dir) => {
      val d = t(s, dir, "documents")
      def grams(src: String) = functions.TextFunctions.withTokenGrams(
          d.filter(col("source") === src), col("text"), 3, "__g3")
        .select(explode_outer(col("__g3")).as("g"))
        .filter(col("g").isNotNull) // explode_outer: graft.util.Explode
      def sk(src: String) = functions.Kmv.sketch(grams(src), col("g"), k = 256)
      functions.Kmv.overlap(sk("src0"), sk("src1"), k = 256)
    },
      // KMV set algebra on trigram-shingle vocabularies of two sources
      Some("""WITH toks AS (
           SELECT source, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                      x -> x <> '') AS t
           FROM documents WHERE source IN ('src0', 'src1')),
         grams AS (
           -- ngrams semantics: documents shorter than n yield NO grams
           -- (range(1, len-1) is empty below 3 tokens)
           SELECT source,
             unnest(list_transform(range(1, len(t)-1),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
           FROM toks),
         hs AS (SELECT DISTINCT source,
                  CAST('0x'||substring(md5(g),1,15) AS BIGINT) AS h
                FROM grams),
         ska AS (SELECT h FROM hs WHERE source = 'src0' ORDER BY h LIMIT 256),
         skb AS (SELECT h FROM hs WHERE source = 'src1' ORDER BY h LIMIT 256),
         un AS (SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb)
                ORDER BY h LIMIT 256),
         ue AS (SELECT CAST(count(*) AS BIGINT) AS n_u, max(h) AS h_k FROM un),
         uest AS (SELECT n_u, CAST(CASE WHEN n_u < 256 THEN n_u
                    ELSE (CAST(255 AS HUGEINT) * (CAST(1 AS HUGEINT) << 60)) // h_k
                    END AS BIGINT) AS est_union
                  FROM ue),
         c AS (SELECT CAST(count(*) AS BIGINT) AS c FROM un
               WHERE h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb)),
         sz AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM ska) AS n_a,
                       (SELECT CAST(count(*) AS BIGINT) FROM skb) AS n_b)
         -- sub-k union => the sketch IS the exact union: divide by its
         -- actual size, not the fixed k (mirrors Kmv.overlap)
         SELECT n_a, n_b, est_union, c,
           CAST((c * est_union) // greatest(least(n_u, 256), 1) AS BIGINT) AS est_inter,
           CAST((10000 * c) // greatest(least(n_u, 256), 1) AS BIGINT) AS jaccard_bp
         FROM sz, uest, c""")),

    // V — the ANN margin path hash-gated END TO END (the q216 pattern):
    // recall@5 of the engine-portable IVF-candidate margin
    // (marginTopKAnnPortable — integer Lloyd, shuffled self-kNN leg, no
    // corpus broadcast) against the brute-force margin gold (q169's
    // oracle form). This is the scale path for the one operator whose
    // brute default could not run at 100× — proven here as code under
    // the DuckDB oracle, not as a doc sentence. (16, 8) pinned like q61
    // so the oracle replays the same lists.
    Entry("q225_margin_ann_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") <= 9)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      // the sys leg runs seconds of EAGER construction (corpus count,
      // init collect, integer Lloyd, two checkpoints) while the brute
      // gold leg was lazy — serialized after it inside the final
      // action. Materialize gold on the overlap thread so its
      // corpus×corpus cosine stream back-fills the sys construction
      // (guide §2.6 via graft.util.Par: independent read-only
      // consumers of `emb`; the checkpoint is row-preserving and the
      // downstream fold is a keyed join + grouped sum)
      val (sys, gold) = graft.util.Par.both(
        functions.Similarity.marginTopKAnnPortable(queries, emb, k = 5,
            nCentroids = 16, nProbe = 8)
          .select(col("query_id"), col("match_id")),
        functions.Similarity.marginTopKBrute(queries, emb, k = 5)
          .select(col("query_id"), col("match_id"), lit(1L).as("__g"))
          .localCheckpoint(true))
      sys.join(gold, Seq("query_id", "match_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(when(col("__g").isNotNull, 1L).otherwise(0L)).as("n_hits"))
        .select(col("query_id"), col("n_hits"),
          expr("(10000 * n_hits) div 5").as("recall_bp"))
    }, Some(q225OracleSql)),

    // E2E — config autogeneration + native-xlsx roundtrip, oracle-checked
    // (the reference's update_config.py → start_ingestion.py control
    // loop): schema facts fabricated deterministically from nation,
    // ConfigGen.newSpecRows (anti-join J1, max-id assignment A5, the
    // delta-field preference CASE of update_config.py:143-151), merged
    // into the existing config (U1+O1), written as an xlsx control
    // sheet (K3, aws_utils.py:265-299 parity), read back through
    // SpecStore.loadXlsx (S4) with the active + dag-group filter
    // (F4) and blank→NULL→"" normalization (F7). The oracle replays the
    // derivation straight from nation — a hash match proves the whole
    // generate→write→parse→filter loop is lossless.
    Entry("q226_config_autogen_roundtrip", (s, dir) => {
      import s.implicits._
      val n = t(s, dir, "nation")
      val facts = n.select(
        concat(lit("db"), (col("n_nationkey") % 3).cast("string")).as("databasename"),
        lower(col("n_name")).as("tablename"),
        (col("n_nationkey") % 2 === 0).as("has_created"),
        (col("n_nationkey") % 3 === 0).as("has_modified"),
        when(col("n_nationkey") % 5 === 0, lit("seq_id"))
          .otherwise(lit(null).cast("string")).as("auto_inc_col"),
        lit("pk_id").as("pkey"),
        when(col("n_nationkey") % 2 === 0, lit("created_datetime"))
          .otherwise(lit(null).cast("string")).as("datetime_col"))
      val existing = n.filter(col("n_nationkey") < 5).select(
        (col("n_nationkey") + 101L).as("lake_ingestion_id"),
        concat(lit("db"), (col("n_nationkey") % 3).cast("string")).as("databasename"),
        lower(col("n_name")).as("tablename"))
      val fresh = graft.driver.ConfigGen.newSpecRows(facts, existing, "/lake/raw")
      val merged = graft.driver.ConfigGen.mergeConfig(existing, fresh)
      val tmp = java.nio.file.Files.createTempDirectory("graft-q226")
      val sheet = s"$tmp/config.xlsx"
      graft.driver.ConfigGen.writeConfigXlsx(merged, sheet)
      val specs = graft.config.SpecStore.loadXlsx(s, sheet,
        dagGroups = Seq("dag_db0", "dag_db2"))
      val out = specs.map(sp => (sp.lakeIngestionId, sp.databasename,
          sp.tablename, sp.deltaField, sp.deltaFieldExpr,
          sp.dateNotAvailable.toLong, sp.primaryKey, sp.viewDb, sp.viewName,
          sp.partitions.headOption.map(_.column).getOrElse(""),
          sp.partitions.headOption.map(_.format).getOrElse(""),
          sp.dagGroup))
        .toDF("lake_ingestion_id", "databasename", "tablename", "delta_field",
          "delta_field_expr", "date_not_available", "primary_key", "view_db",
          "view_name", "part_col", "part_fmt", "dag_group")
        .collect() // the sheet is done once the specs are materialized
      dropStaged(tmp)
      s.createDataFrame(java.util.Arrays.asList(out: _*),
        StructType(Seq(
          StructField("lake_ingestion_id", LongType),
          StructField("databasename", StringType),
          StructField("tablename", StringType),
          StructField("delta_field", StringType),
          StructField("delta_field_expr", StringType),
          StructField("date_not_available", LongType),
          StructField("primary_key", StringType),
          StructField("view_db", StringType),
          StructField("view_name", StringType),
          StructField("part_col", StringType),
          StructField("part_fmt", StringType),
          StructField("dag_group", StringType))))
    },
      // q226: the config-autogen derivation replayed straight from nation —
      // anti-join against the existing config, delta-field preference CASE,
      // row_number id assignment above the existing max, partition-spec
      // choice, then the loadXlsx active + dag-group filter. Matching the
      // Spark side proves the generate→xlsx→parse loop round-trips.
      Some("""WITH facts AS (
           SELECT 'db' || CAST(n_nationkey % 3 AS VARCHAR) AS databasename,
                  lower(n_name) AS tablename,
                  n_nationkey % 2 = 0 AS has_created,
                  n_nationkey % 3 = 0 AS has_modified,
                  CASE WHEN n_nationkey % 5 = 0 THEN 'seq_id' END AS auto_inc_col,
                  CASE WHEN n_nationkey % 2 = 0 THEN 'created_datetime' END AS datetime_col
           FROM nation),
         existing AS (
           SELECT CAST(n_nationkey + 101 AS BIGINT) AS lake_ingestion_id,
                  'db' || CAST(n_nationkey % 3 AS VARCHAR) AS databasename,
                  lower(n_name) AS tablename
           FROM nation WHERE n_nationkey < 5),
         fresh AS (
           SELECT CAST(row_number() OVER (ORDER BY f.databasename, f.tablename)
                    + (SELECT max(lake_ingestion_id) FROM existing) AS BIGINT)
                    AS lake_ingestion_id,
                  f.databasename, f.tablename,
                  CASE WHEN has_modified THEN 'modified_datetime'
                       WHEN has_created THEN 'created_datetime'
                       ELSE coalesce(auto_inc_col, '') END AS delta_field,
                  CASE WHEN has_modified AND has_created
                       THEN 'coalesce(modified_datetime, created_datetime)'
                       ELSE '' END AS delta_field_expr,
                  CAST(CASE WHEN has_modified OR has_created THEN 0 ELSE 1 END
                    AS BIGINT) AS date_not_available,
                  CASE WHEN has_modified OR has_created OR auto_inc_col IS NOT NULL
                       THEN 1 ELSE 0 END AS active_indicator,
                  'pk_id' AS primary_key,
                  'dl_' || f.databasename || '_lv' AS view_db,
                  f.tablename || '_lv' AS view_name,
                  CASE WHEN datetime_col IS NOT NULL THEN datetime_col
                       WHEN auto_inc_col IS NOT NULL THEN auto_inc_col
                       ELSE '' END AS part_col,
                  CASE WHEN datetime_col IS NOT NULL THEN 'YYYYMMDD'
                       WHEN auto_inc_col IS NOT NULL THEN '1M'
                       ELSE '' END AS part_fmt,
                  'dag_' || f.databasename AS airflow_dag_group
           FROM facts f
           WHERE NOT EXISTS (SELECT 1 FROM existing e
                             WHERE e.databasename = f.databasename
                               AND e.tablename = f.tablename))
         SELECT lake_ingestion_id, databasename, tablename, delta_field,
                delta_field_expr, date_not_available, primary_key, view_db,
                view_name, part_col, part_fmt,
                airflow_dag_group AS dag_group
         FROM fresh
         WHERE active_indicator = 1
           AND airflow_dag_group IN ('dag_db0', 'dag_db2')"""), Fixture),

    // E2E — execution-log state store, oracle-checked (K2 log sink + S5
    // log source + F5 status filters + F6 equality lookup + A4 watermark
    // recovery over REAL appended files): six monthly runs for three
    // ingestion ids are derived from orders' 1995 H1 months (counts and
    // max order dates), appended through LogStore in two batches (odd
    // then even months — multi-file append), read back, and rolled up
    // to per-id success/failure counts + the last-success watermark. The
    // oracle recomputes the same roll-up straight from orders, so a
    // hash match proves the log roundtrip loses nothing.
    Entry("q227_log_state_rollup", (s, dir) => {
      val months = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01")
          && col("o_orderdate") < lit("1995-07-01"))
        .groupBy(month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("cnt"),
          max(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("maxd"))
        .collect() // 6 control rows — log construction is driver-side
        .map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val rows = for {
        id <- Seq(1L, 2L, 3L)
        (m, cnt, maxd) <- months
      } yield {
        val failed = (id + m) % 3 == 0
        graft.model.RunLog(id,
          if (failed) "failed" else "success",
          f"1995-$m%02d-01", maxd, cnt, if (failed) 0L else cnt,
          if (failed) "E_VALIDATION" else "", t0)
      }
      val tmp = java.nio.file.Files.createTempDirectory("graft-q227")
      val store = new graft.state.LogStore(s, s"$tmp/logs")
      val (odd, even) = rows.partition(r => r.startValue.substring(5, 7).toInt % 2 == 1)
      store.append(odd)
      store.append(even)
      // F6: equality lookup for one ingestion (the reference's
      // "this table's history" probe) — folded in as a checked column
      val id2Runs = store.forIngestion(2L).count()
      val agg = store.read().toDF()
        .groupBy(col("lakeIngestionId").as("lake_ingestion_id"))
        .agg(
          sum(when(col("executionStatus") === "success", 1L).otherwise(0L)).as("n_success"),
          sum(when(col("executionStatus") === "failed", 1L).otherwise(0L)).as("n_failed"),
          max(when(col("executionStatus") === "success", col("endValue"))).as("watermark"),
          sum(col("sourceCount")).as("total_source"),
          sum(col("targetCount")).as("total_target"))
        .withColumn("id2_runs", lit(id2Runs))
        .collect() // 3 roll-up rows — materialized before the log dir dies
      dropStaged(tmp)
      s.createDataFrame(java.util.Arrays.asList(agg: _*),
        StructType(Seq(
          StructField("lake_ingestion_id", LongType),
          StructField("n_success", LongType),
          StructField("n_failed", LongType),
          StructField("watermark", StringType),
          StructField("total_source", LongType),
          StructField("total_target", LongType),
          StructField("id2_runs", LongType))))
    },
      // q227: the log-store roll-up recomputed straight from orders — the
      // same three ingestion ids × six 1995-H1 monthly runs with the same
      // failure rule, success-only watermark, and source/target sums.
      Some("""WITH m AS (
           SELECT month(o_orderdate) AS m, CAST(count(*) AS BIGINT) AS cnt,
                  max(strftime(o_orderdate, '%Y-%m-%d')) AS maxd
           FROM orders
           WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
             AND o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
           GROUP BY 1),
         runs AS (
           SELECT CAST(id AS BIGINT) AS id, m.m,
                  CASE WHEN (id + m.m) % 3 = 0 THEN 'failed' ELSE 'success' END AS st,
                  m.maxd, m.cnt
           FROM m CROSS JOIN (SELECT unnest([1, 2, 3]) AS id))
         SELECT id AS lake_ingestion_id,
                CAST(sum(CASE WHEN st = 'success' THEN 1 ELSE 0 END) AS BIGINT) AS n_success,
                CAST(sum(CASE WHEN st = 'failed' THEN 1 ELSE 0 END) AS BIGINT) AS n_failed,
                max(CASE WHEN st = 'success' THEN maxd END) AS watermark,
                CAST(sum(cnt) AS BIGINT) AS total_source,
                CAST(sum(CASE WHEN st = 'success' THEN cnt ELSE 0 END) AS BIGINT) AS total_target,
                CAST(6 AS BIGINT) AS id2_runs
         FROM runs GROUP BY 1"""), Fixture),

    // E2E — schema-catalog scan, oracle-checked (S3 information_schema +
    // K6 catalog refresh): the sf tables registered through CatalogSync
    // (the Glue-crawler replacement), refreshed, and their column
    // metadata read back from the Spark catalog with type names
    // normalized to a canonical engine-neutral set. The oracle DESCRIBEs
    // the same tables in DuckDB and maps its type names to the same
    // canon — a hash match proves both engines derive the same schema
    // facts from the same parquet, the reference's crawler contract
    // (aws_utils.py:42-109).
    Entry("q228_schema_catalog", (s, dir) => {
      import s.implicits._
      val tables = Seq("region", "nation", "customer", "orders", "lineitem",
        "part", "supplier", "events", "documents", "embeddings")
      val rows = tables.flatMap { tn =>
        val view = s"g228_$tn"
        graft.catalog.CatalogSync.registerTable(s, view, s"$dir/$tn.parquet")
        graft.catalog.CatalogSync.refresh(s, view) // K6: crawler re-scan
        val cols = s.catalog.listColumns(view).collect()
        s.catalog.dropTempView(view)
        cols.map { c =>
          val canon = c.dataType.toLowerCase match {
            case "timestamp_ntz" => "timestamp" // driver parquet is NTZ
            case other           => other
          }
          (tn, c.name, canon)
        }
      }
      rows.toDF("table_name", "column_name", "data_type")
    },
      // q228: DuckDB DESCRIBEs the same tables and maps its type names to
      // the same canonical set the Spark side normalizes to — both engines
      // must derive identical schema facts from the shared parquet.
      Some {
        val tables = Seq("region", "nation", "customer", "orders", "lineitem",
          "part", "supplier", "events", "documents", "embeddings")
        tables.map { tn =>
          s"""SELECT '$tn' AS table_name, column_name,
              CASE column_type
                WHEN 'INTEGER' THEN 'int'
                WHEN 'BIGINT' THEN 'bigint'
                WHEN 'VARCHAR' THEN 'string'
                WHEN 'DOUBLE' THEN 'double'
                WHEN 'FLOAT' THEN 'float'
                WHEN 'DATE' THEN 'date'
                WHEN 'TIMESTAMP' THEN 'timestamp'
                WHEN 'TIMESTAMP_NS' THEN 'timestamp'
                WHEN 'BLOB' THEN 'binary'
                WHEN 'FLOAT[]' THEN 'array<float>'
                ELSE lower(column_type) END AS data_type
            FROM (DESCRIBE SELECT * FROM $tn)"""
        }.mkString("", "\nUNION ALL\n", "")
      }, Fixture),

    // E2E — object listing over a freshly staged lake write (S6): events written
    // partitioned by day (one task per day via hash repartition on the
    // partition column → exactly one file per partition), the staging
    // dir listed through Rollback.listFiles, partition values parsed
    // back out of the Hive-style paths. The oracle derives the same
    // day set from events directly — a hash match proves the listing
    // sees exactly the partitions the write produced.
    Entry("q229_object_listing", (s, dir) => {
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft-q229")
      val stage = s"$tmp/stage"
      t(s, dir, "events").filter(col("ts").isNotNull)
        .withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
        .repartition(col("dt"))
        .write.partitionBy("dt").parquet(stage)
      val files = graft.sink.Rollback.listFiles(s, stage)
      dropStaged(tmp) // listing already materialized driver-side
      val parts = files.toSeq
        .filter(f => f.contains("dt=") && f.endsWith(".parquet"))
        .map(f => f.substring(f.indexOf("dt=") + 3).takeWhile(_ != '/'))
      parts.groupBy(identity).toSeq
        .map { case (d, fs) => (d, fs.size.toLong) }
        .toDF("dt", "n_files")
    },
      // q229: the partition set the staged write must have produced — one
      // Hive-style dt= directory per distinct event day, one file each
      // (hash repartition on the partition column puts each day in exactly
      // one task).
      Some("""SELECT strftime(ts, '%Y-%m-%d') AS dt, CAST(1 AS BIGINT) AS n_files
         FROM events WHERE ts IS NOT NULL
         GROUP BY 1"""), Fixture),

    // T — DSIR data selection (Xie et al. 2023): hashed-bigram
    // importance scores against the English subcorpus as the target
    // distribution, exact-integer likelihood ratios, top-50 selection.
    // The scale path is the operator itself (one checkpointed
    // per-(doc,bucket) relation, m-row broadcast ratio table) — see
    // functions/Dsir.scala.
    Entry("q230_dsir_select", (s, dir) => {
      val scores = functions.Dsir.importanceScores(
        t(s, dir, "documents"), col("doc_id"), col("text"),
        col("lang") === "en", m = 256, scale = 1000000L)
      functions.Dsir.selectTopK(scores, 50)
        .select(col("id").as("doc_id"), col("score"),
          col("rank").cast("long").as("sel_rank"))
    },
      // q230: the DSIR pipeline replayed exactly — portable md5 bucket
      // hash, add-one-smoothed integer likelihood ratios, per-doc score
      // sum, deterministic top-50 cut.
      Some("""WITH toks AS (
           SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt,
                  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                              x -> x <> '') AS t
           FROM documents),
         bg AS (SELECT doc_id, tgt,
                  unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
                FROM toks WHERE len(t) >= 2),
         f AS (SELECT doc_id, tgt,
                 CAST('0x' || substring(md5(bg), 1, 15) AS BIGINT) % 256 AS b
               FROM bg),
         db AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS cnt,
                  min(tgt) AS is_tgt
                FROM f GROUP BY 1, 2),
         bk AS (SELECT b, CAST(sum(cnt) AS BIGINT) AS raw,
                  CAST(sum(cnt * is_tgt) AS BIGINT) AS tgtc
                FROM db GROUP BY 1),
         tot AS (SELECT CAST(sum(raw) AS BIGINT) AS R,
                   CAST(sum(tgtc) AS BIGINT) AS T FROM bk),
         r AS (SELECT b, (1000000 * (tgtc + 1) * (R + 256))
                      // ((raw + 1) * (T + 256)) AS r
               FROM bk, tot),
         sc AS (SELECT doc_id, CAST(sum(cnt * r.r) AS BIGINT) AS score
                FROM db JOIN r USING (b) GROUP BY 1)
         SELECT doc_id, score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT)
             AS sel_rank
         FROM sc ORDER BY score DESC, doc_id LIMIT 50""")),

    // T — interpolated Kneser–Ney bigram LM (D = 3/4) in exact rational
    // arithmetic: the kenlm-style smoothed probability every perplexity
    // quality filter builds on, as a corpus-level bigram table. Top-100
    // bigrams by raw count carry their exact fixed-point KN probability.
    Entry("q231_kneser_ney", (s, dir) => {
      functions.KneserNey.bigramProbs(t(s, dir, "documents"), col("text"))
        .orderBy(col("c12").desc, col("w1").asc, col("w2").asc)
        .limit(100)
    },
      // q231: the interpolated Kneser–Ney rational replayed in HUGEINT —
      // same bigram types, continuation counts, and fixed-point divide.
      Some("""WITH toks AS (
           SELECT list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                              x -> x <> '') AS t
           FROM documents),
         bg AS (SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
                FROM toks WHERE len(t) >= 2),
         sp AS (SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2 FROM bg),
         ty AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM sp GROUP BY 1, 2),
         p1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                  CAST(count(*) AS BIGINT) AS n1_fwd FROM ty GROUP BY 1),
         p2 AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1_bwd FROM ty GROUP BY 1),
         bb AS (SELECT CAST(count(*) AS BIGINT) AS B FROM ty)
         SELECT ty.w1, ty.w2, c12, c1, n1_fwd, n1_bwd,
           CAST((1000000000 * ((4 * CAST(c12 AS HUGEINT) - 3) * B
                               + 3 * CAST(n1_fwd AS HUGEINT) * n1_bwd))
                // (4 * CAST(c1 AS HUGEINT) * B) AS BIGINT) AS kn_e9
         FROM ty JOIN p1 USING (w1) JOIN p2 USING (w2) CROSS JOIN bb
         ORDER BY c12 DESC, w1, w2 LIMIT 100""")),

    // V — IVFADC (Jégou et al. 2011 §IV), the combined-quantizer index
    // shape behind billion-scale ANN: coarse IVF probe restriction +
    // PQ-on-residuals asymmetric distances, every integer replayed by
    // the oracle (coarse Lloyd, exact residuals, residual codebooks,
    // codes, ADC sums, ranking). (16, 8)-pinned like q61/q225 so the
    // oracle replays the same lists.
    Entry("q232_ivfpq_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") <= 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      functions.Similarity.ivfPqTopKPortable(queries, emb, k = 10, dim = 64,
        nCentroids = 16)
    }, Some(q232OracleSql)),

    // V — IVFADC+R (Jégou et al. 2011 §V): the ADC pass keeps a
    // 50-candidate shortlist per query, exact integer-L2 re-ranks it
    // (vectors reconstructed losslessly from the index's own residuals
    // — no second corpus pass), and the gate measures recall@10 against
    // the brute-force integer-L2 gold (the q216 recall pattern). The
    // oracle replays BOTH sides — the whole IVFADC chain, the re-rank,
    // and the gold — so the recall row is hash-exact, not a floor.
    Entry("q233_ivfpq_rerank", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      // three consumers (ADC probe side, re-rank qint, the gold leg) —
      // materialize the 21-row query relation once
      val queries = emb.filter(col("vec_id") <= 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
        .localCheckpoint(true)
      val sys = functions.Similarity.ivfPqRerankTopK(queries, emb, k = 10,
          rerank = 50, dim = 64, nCentroids = 16)
        .select(col("query_id"), col("neighbor_id"))
      val gold = functions.Similarity.bruteForceTopKIntL2(queries, emb, k = 10)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__g"))
      sys.join(gold, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(when(col("__g").isNotNull, 1L).otherwise(0L)).as("n_hits"))
        .select(col("query_id"), col("n_hits"),
          expr("(10000 * n_hits) div 10").as("recall_bp"))
    }, Some(q233OracleSql)),

    // V — the IVFADC MATRIX coarse form under the oracle: at
    // nCentroids = 130 (> MaxLiteralCentroids = 128) the coarse argmin,
    // probe and centroid lookup take the one-Literal MATRIX form (O(1)
    // plan size, zero shuffle — the fastest measured shape, SCALE.md
    // round 8), and the oracle replays the whole chain at that geometry
    // — 130 lowest-id seeds, one coarse and one PQ Lloyd round (a
    // per-shape claim gains nothing from extra rounds) — exactly as
    // q232 replays the chained form at 16 lists.
    Entry("q234_ivfpq_matrix_coarse", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") <= 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      functions.Similarity.ivfPqTopKPortable(queries, emb, k = 10,
        dim = 64, nCentroids = 130, coarseIters = 1, pqIters = 1)
    }, Some(q234OracleSql)),

    // V — the IVFADC index AT REST (round 9): build lands the encoded
    // corpus as a cid-partitioned TxTable (one commit, per-file cid
    // stats, quantizer sidecar) and search opens ONLY the probed lists'
    // files — listing-time directory pruning from the commit log, the
    // at-rest half of the 100 TB index story. Same geometry as q232, so
    // the search result replays q232's full-chain oracle bit for bit:
    // the gate proves the round trip through parquet + partition dirs +
    // stats pruning loses nothing.
    Entry("q235_ann_index_at_rest", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") <= 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-q235").toString
      val table = s"$tmp/ann_idx"
      functions.AnnIndex.build(s, emb, table, dim = 64, nCentroids = 16)
      functions.AnnIndex.search(s, table, queries, k = 10)
    },
      // the at-rest index at q232's exact geometry: the parquet + Hive
      // partition + stats-pruning round trip must reproduce the in-session
      // chain value for value, so the oracle is q232's full replay
      Some(q232OracleSql), Fixture),

    // V — SemDeDup over the IMI PRODUCT cell grid (Babenko & Lempitsky,
    // CVPR 2012, applied to the q156 recipe): the cluster id is the
    // PAIR of per-half argmins — (argmin over the 4 lowest-id vectors'
    // first halves) * 4 + (argmin over their second halves) — so k²
    // effective cells come from two bounded codebooks. This is the
    // round-10 answer to the single-level 4096-list driver ceiling:
    // past ~16.7M vectors semDedup hands off to this grid (derived
    // k = ceil(sqrt(n/targetClusterSize)) per half), keeping cell size
    // — and the within-cell pair volume per row — CONSTANT. The oracle
    // replays BOTH half argmins (exact |c|²−2⟨v,c⟩ doubles, lowest-cid
    // ties), the composite cell id, and the within-cell prune, so the
    // product-cell boundary approximation itself is pinned, not just
    // the survivors.
    Entry("q237_semdedup_imi", (s, dir) => {
      functions.Similarity.semDedupImi(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        kPerHalf = 4, threshold = 0.95)
    },
      // q156's within-cell prune over the IMI PRODUCT grid: two per-half
      // argmins (the Spark side evaluates |c_pad|² − 2⟨v, c_pad⟩ over
      // zero-padded full-width codewords; adding 0-products never moves
      // an IEEE accumulator, so the unpadded half fold replays it bit
      // for bit), composite cell = g1 * 4 + g2
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         h AS (SELECT vec_id, v[1:32] AS v1, v[33:64] AS v2 FROM e),
         cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
                       v[1:32] AS c1, v[33:64] AS c2
                FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 4)),
         d1 AS (SELECT h.vec_id, cb.cid,
                  list_dot_product(cb.c1, cb.c1) - 2 * list_dot_product(h.v1, cb.c1) AS dist
                FROM h CROSS JOIN cb),
         a1 AS (SELECT vec_id, cid AS g1 FROM (
                  SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
                  FROM d1) WHERE rn = 1),
         d2 AS (SELECT h.vec_id, cb.cid,
                  list_dot_product(cb.c2, cb.c2) - 2 * list_dot_product(h.v2, cb.c2) AS dist
                FROM h CROSS JOIN cb),
         a2 AS (SELECT vec_id, cid AS g2 FROM (
                  SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
                  FROM d2) WHERE rn = 1),
         a AS (SELECT a1.vec_id, CAST(a1.g1 * 4 + a2.g2 AS BIGINT) AS cluster_id
               FROM a1 JOIN a2 ON a2.vec_id = a1.vec_id),
         losers AS (
           SELECT DISTINCT y.vec_id
           FROM a x JOIN a y ON y.cluster_id = x.cluster_id AND y.vec_id > x.vec_id
           JOIN e ex ON ex.vec_id = x.vec_id
           JOIN e ey ON ey.vec_id = y.vec_id
           WHERE list_dot_product(ex.v, ey.v)
             / (sqrt(list_dot_product(ex.v, ex.v)) * sqrt(list_dot_product(ey.v, ey.v))) >= 0.95)
         SELECT vec_id, cluster_id FROM a
         WHERE vec_id NOT IN (SELECT vec_id FROM losers)""")),

    // V — TRAINED-cluster SemDeDup under a full oracle gate (round 9's
    // one spec-only operator, closed): k-means geometry in the exact
    // fixed-point integer arithmetic of q61's Lloyd (round(v·2²⁰)
    // longs, lexicographic argmin, floor-division means, empty-cluster
    // carry), within-cluster prune in exact double cosine. The oracle
    // REUSES q61's unrolled integer-Lloyd CTEs — 16 lowest-id seeds, 3
    // iterations — then replays the prune, so the TRAINED cluster
    // boundary itself is hash-verified, not just spec-pinned like the
    // float-means form (b156).
    Entry("q236_semdedup_trained_int", (s, dir) => {
      functions.Similarity.semDedupTrainedPortable(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        nClusters = 16, threshold = 0.95, iters = 3)
    },
      // q61's integer-Lloyd CTEs (16 seeds, 3 unrolled iterations) reused
      // verbatim; the final integer-argmin assignment a4 becomes the
      // cluster id and q156's within-cluster cosine prune replays on it
      Some(s"""WITH ${ivfOracleCtes()},
         a AS (SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id FROM a4),
         losers AS (
           SELECT DISTINCT y.vec_id
           FROM a x JOIN a y ON y.cluster_id = x.cluster_id AND y.vec_id > x.vec_id
           JOIN e ex ON ex.vec_id = x.vec_id
           JOIN e ey ON ey.vec_id = y.vec_id
           WHERE list_dot_product(ex.v, ey.v)
             / (sqrt(list_dot_product(ex.v, ex.v)) * sqrt(list_dot_product(ey.v, ey.v))) >= 0.95)
         SELECT vec_id, cluster_id FROM a
         WHERE vec_id NOT IN (SELECT vec_id FROM losers)""")),

    // A — IVFADC with the IMI PRODUCT coarse grid: the at-rest index
    // family's escape from the same min(√n, 4096) list ceiling q237
    // broke for semDedup. Two per-half integer Lloyds (4 seeds each, 3
    // rounds at 32 dims) give a 16-cell grid; assignment is separable
    // (argmin d1, argmin d2), residuals run against the CONCATENATED
    // cell centroid, and the PQ/ADC chain is byte-shared with q232.
    // The oracle replays BOTH half trainings, the cell grid, residuals,
    // PQ training, codes, probing, and the ADC ranking — bit for bit.
    Entry("q238_ivfpq_imi", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") <= 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      functions.Similarity.ivfPqTopKImi(queries, emb, k = 10, dim = 64,
        m = 4, kCentroids = 8, kPerHalf = 4, nProbe = 8)
    }, Some(q238OracleSql)),

    // K — q238's chain through the AT-REST round trip (the q235
    // pattern for the IMI grid): build the cell-partitioned index once,
    // search it with listing-time cell pruning — the result replays
    // q238's full oracle value for value, proving the storage layer
    // loses nothing at the past-the-ceiling geometry either.
    Entry("q239_ann_index_imi", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") <= 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-q239").toString
      val table = s"$tmp/ann_imi_idx"
      functions.AnnIndex.buildImi(s, emb, table, dim = 64,
        m = 4, kCentroids = 8, kPerHalf = 4)
      functions.AnnIndex.search(s, table, queries, k = 10)
    },
      // the at-rest IMI index replays q238's oracle through the round
      // trip, the q235 pattern at the past-the-ceiling grid
      Some(q238OracleSql), Fixture),

    // V — TRAINED-cluster SemDeDup on the IMI PRODUCT grid under a full
    // oracle gate: q236's fixed-point discipline applied to the
    // past-the-ceiling geometry. Both half codebooks train with the
    // exact integer Lloyd (4 lowest-id half seeds, 3 rounds — q238's
    // CTEs verbatim), the cluster id is the separable composite cell
    // (argmin d1)·k2 + (argmin d2), and the within-cell prune is the
    // exact double cosine — so the TRAINED product-cell boundary, the
    // shape semDedupTrained hands off to past ~16.7M vectors, is
    // hash-verified end to end, not just spec-pinned (its float twin
    // semDedupTrainedImi stays the production default; b-twin b156).
    Entry("q240_semdedup_trained_imi", (s, dir) => {
      functions.Similarity.semDedupTrainedImiPortable(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        kPerHalf = 4, threshold = 0.95, iters = 3)
    },
      // q238's half-Lloyd + separable-assignment CTEs reused verbatim;
      // the composite cell becomes the cluster id and q236's
      // within-cluster cosine prune replays on it
      Some(s"""WITH $imiHalfAssignCtes,
         a AS (SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id FROM acell),
         losers AS (
           SELECT DISTINCT y.vec_id
           FROM a x JOIN a y ON y.cluster_id = x.cluster_id AND y.vec_id > x.vec_id
           JOIN e ex ON ex.vec_id = x.vec_id
           JOIN e ey ON ey.vec_id = y.vec_id
           WHERE list_dot_product(ex.v, ey.v)
             / (sqrt(list_dot_product(ex.v, ex.v)) * sqrt(list_dot_product(ey.v, ey.v))) >= 0.95)
         SELECT vec_id, cluster_id FROM a
         WHERE vec_id NOT IN (SELECT vec_id FROM losers)""")),

    // V — the margin-alignment ANN path at the PAST-THE-CEILING grid,
    // hash-gated end to end (q225's pattern at q238's geometry):
    // recall@5 of the engine-portable IMI-candidate margin
    // (marginTopKImiPortable — integer half-Lloyds, separable cell
    // assignment, exact top-8-cells-by-d1+d2 probing on BOTH legs, the
    // brute margin tree) against the brute-force margin gold. The
    // oracle replays the probe as one rank of the 16 concatenated cell
    // centroids by full 64-dim integer distance — exactly the
    // multi-sequence grid's order (padded half distances differ by a
    // row constant; ties to the lowest composite cid both ways).
    Entry("q241_margin_imi_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") <= 9)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      // same overlap as q225: eager IMI construction ∥ the brute gold
      // leg's checkpoint (guide §2.6 via graft.util.Par)
      val (sys, gold) = graft.util.Par.both(
        functions.Similarity.marginTopKImiPortable(queries, emb, k = 5,
            kPerHalf = 4, nProbe = 8)
          .select(col("query_id"), col("match_id")),
        functions.Similarity.marginTopKBrute(queries, emb, k = 5)
          .select(col("query_id"), col("match_id"), lit(1L).as("__g"))
          .localCheckpoint(true))
      sys.join(gold, Seq("query_id", "match_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(when(col("__g").isNotNull, 1L).otherwise(0L)).as("n_hits"))
        .select(col("query_id"), col("n_hits"),
          expr("(10000 * n_hits) div 5").as("recall_bp"))
    },
      // the margin ANN path at the IMI grid, q225's pattern: both probe
      // legs rank the 16 concatenated cell centroids by full integer
      // distance (= d1+d2), then the brute margin tree + recall@5
      Some(q241OracleSql)),

    // V — INCREMENTAL SemDeDup against the standing corpus (round 11):
    // the float-vector corpus lands AT REST once (VecIndex — cid-
    // partitioned TxTable, frozen fixed half codebooks in the sidecar),
    // then a batch with planted twins of corpus vectors deduplicates
    // against it via a map-only frozen assignment + a pruned read of
    // ONLY the batch's own cells — per-batch cost ∝ batch, the corpus
    // is never rescanned or retrained. The oracle replays the
    // batch-inclusive FULL-corpus q237 run (seeds = the 4 lowest-id
    // CORPUS vectors — the build's derivation) restricted to batch
    // ids, which the loser rule makes exactly equal: a batch row drops
    // iff some same-cell lower-id row (standing member or batch-mate)
    // is within threshold, and standing losers still kill.
    Entry("q242_semdedup_incr_at", (s, dir) => {
      val ev = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val corpus = ev.filter(col("vec_id") % 5 =!= 0)
      val batch = ev.filter(col("vec_id") % 5 === 0)
        .unionByName(corpus.filter(col("vec_id") < 30)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      val tmp = java.nio.file.Files.createTempDirectory("graft-q242").toString
      val table = s"$tmp/vec_idx"
      functions.VecIndex.build(s, corpus, table, kPerHalf = 4, iters = 0)
      functions.VecIndex.dedupBatch(s, table, batch)
    },
      // q237's batch-inclusive full run with the seeds drawn from the
      // CORPUS subset (the at-rest build's derivation), restricted to
      // batch ids — the incremental dedupBatch contract: a batch row
      // drops iff some same-cell lower-id row (standing member or
      // batch-mate) is within threshold
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         corp AS (SELECT vec_id, v FROM e WHERE vec_id % 5 <> 0),
         bat AS (SELECT vec_id, v FROM e WHERE vec_id % 5 = 0
                 UNION ALL
                 SELECT vec_id + 100000, v FROM corp WHERE vec_id < 30),
         allr AS (SELECT vec_id, v FROM corp UNION ALL SELECT vec_id, v FROM bat),
         h AS (SELECT vec_id, v[1:32] AS v1, v[33:64] AS v2 FROM allr),
         cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
                       v[1:32] AS c1, v[33:64] AS c2
                FROM (SELECT vec_id, v FROM corp ORDER BY vec_id LIMIT 4)),
         d1 AS (SELECT h.vec_id, cb.cid,
                  list_dot_product(cb.c1, cb.c1) - 2 * list_dot_product(h.v1, cb.c1) AS dist
                FROM h CROSS JOIN cb),
         a1 AS (SELECT vec_id, cid AS g1 FROM (
                  SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
                  FROM d1) WHERE rn = 1),
         d2 AS (SELECT h.vec_id, cb.cid,
                  list_dot_product(cb.c2, cb.c2) - 2 * list_dot_product(h.v2, cb.c2) AS dist
                FROM h CROSS JOIN cb),
         a2 AS (SELECT vec_id, cid AS g2 FROM (
                  SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
                  FROM d2) WHERE rn = 1),
         a AS (SELECT a1.vec_id, CAST(a1.g1 * 4 + a2.g2 AS BIGINT) AS cluster_id
               FROM a1 JOIN a2 ON a2.vec_id = a1.vec_id),
         losers AS (
           SELECT DISTINCT y.vec_id
           FROM a x JOIN a y ON y.cluster_id = x.cluster_id AND y.vec_id > x.vec_id
           JOIN allr ex ON ex.vec_id = x.vec_id
           JOIN allr ey ON ey.vec_id = y.vec_id
           WHERE (y.vec_id % 5 = 0 OR y.vec_id >= 100000)
             AND list_dot_product(ex.v, ey.v)
               / (sqrt(list_dot_product(ex.v, ex.v)) * sqrt(list_dot_product(ey.v, ey.v))) >= 0.95)
         SELECT a.vec_id, a.cluster_id FROM a
         JOIN bat b ON b.vec_id = a.vec_id
         WHERE a.vec_id NOT IN (SELECT vec_id FROM losers)""")),

    // K — the float-IVF family AT REST (round 11): q237's fixed-
    // codebook IMI geometry lands as a VecIndex and the cosine search
    // runs probe → pruned read → exact cosine → top-k, replaying the
    // in-session ivfTopKImi value for value through the storage round
    // trip (the q235/q239 pattern for the float family — training and
    // assignment become build cost; a search opens only its probed
    // cells' files).
    Entry("q243_vec_index_ivf", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") <= 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-q243").toString
      val table = s"$tmp/vec_idx"
      functions.VecIndex.build(s, emb, table, kPerHalf = 4, iters = 0)
      functions.VecIndex.search(s, table, queries, k = 10, nProbe = 8)
    },
      // q237's fixed-codebook assignment + the multi-sequence probe (top-8
      // cells by d1+d2, ties to the lowest composite cid — the padded
      // half distances differ from these by exact-zero products only) +
      // exact cosine over the probed cells' members, top-10 by
      // (cos desc, id asc) — replayed through the at-rest round trip
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         h AS (SELECT vec_id, v[1:32] AS v1, v[33:64] AS v2 FROM e),
         cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
                       v[1:32] AS c1, v[33:64] AS c2
                FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 4)),
         d1 AS (SELECT h.vec_id, cb.cid,
                  list_dot_product(cb.c1, cb.c1) - 2 * list_dot_product(h.v1, cb.c1) AS dist
                FROM h CROSS JOIN cb),
         a1 AS (SELECT vec_id, cid AS g1 FROM (
                  SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
                  FROM d1) WHERE rn = 1),
         d2 AS (SELECT h.vec_id, cb.cid,
                  list_dot_product(cb.c2, cb.c2) - 2 * list_dot_product(h.v2, cb.c2) AS dist
                FROM h CROSS JOIN cb),
         a2 AS (SELECT vec_id, cid AS g2 FROM (
                  SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
                  FROM d2) WHERE rn = 1),
         a AS (SELECT a1.vec_id, CAST(a1.g1 * 4 + a2.g2 AS BIGINT) AS cluster_id
               FROM a1 JOIN a2 ON a2.vec_id = a1.vec_id),
         qp AS (SELECT d1.vec_id AS query_id,
                  CAST(d1.cid * 4 + d2.cid AS BIGINT) AS cid,
                  d1.dist + d2.dist AS d
                FROM d1 JOIN d2 ON d2.vec_id = d1.vec_id
                WHERE d1.vec_id <= 20),
         probe AS (SELECT query_id, cid FROM (
                     SELECT query_id, cid,
                       row_number() OVER (PARTITION BY query_id ORDER BY d, cid) AS rn
                     FROM qp) WHERE rn <= 8),
         cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
                  FROM probe p JOIN a ON a.cluster_id = p.cid
                  WHERE a.vec_id <> p.query_id),
         sc AS (SELECT c.query_id, c.neighbor_id,
                  list_dot_product(qe.v, ce.v)
                    / (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ce.v, ce.v))) AS cos
                FROM cand c JOIN e qe ON qe.vec_id = c.query_id
                JOIN e ce ON ce.vec_id = c.neighbor_id)
         SELECT query_id, neighbor_id, cos FROM (
           SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
           FROM sc) WHERE rn <= 10""")),

    // V — incremental a-mean maintenance for the at-rest margin index
    // (round 11): build on a subset, grow it through TWO appends that
    // repair only the invalidated a-means (discovered via the probe
    // inverted partitions, recomputed over the exact candidate pool),
    // then compare search over queries spanning original AND appended
    // rows against the full in-session marginTopKImi at the frozen
    // codebooks. A self-parity gate: its contract IS the constant 0 —
    // the margin computation itself is independently oracle-replayed
    // by q241 at this geometry.
    Entry("q244_margin_incr_parity", (s, dir) => {
      val ev = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val corpus = ev.filter(col("vec_id") < 300)
      val b1 = ev.filter(col("vec_id") >= 300 && col("vec_id") < 400)
      // bounded second batch: the gate's cost must not scale with sf —
      // it exercises the repair machinery, not batch throughput
      val b2 = ev.filter(col("vec_id") >= 400 && col("vec_id") < 500)
      val tmp = java.nio.file.Files.createTempDirectory("graft-q244").toString
      val idx = s"$tmp/margin_idx"
      functions.MarginIndex.build(s, corpus, idx, kPerHalf = 4, nProbe = 8)
      val meta = functions.MarginIndex.readMeta(s, idx)
      functions.MarginIndex.append(s, b1, idx)
      functions.MarginIndex.append(s, b2, idx)
      val q = ev.filter(col("vec_id") <= 4 ||
          (col("vec_id") >= 300 && col("vec_id") <= 304))
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
        .localCheckpoint(true)
      // each leg feeds BOTH sides of the symmetric difference —
      // materialize once (the recompute-detector discipline); the
      // in-session leg runs over exactly the GROWN corpus
      val grown = corpus.unionByName(b1).unionByName(b2)
      // the two parity legs are independent reads of frozen state —
      // overlap them (guide §2.6 via graft.util.Par: no ordering
      // dependency, separate outputs, both sides localCheckpoint'd)
      val (atRest, inSession) = graft.util.Par.both(
        functions.MarginIndex.search(s, idx, q, k = 5)
          .localCheckpoint(true),
        functions.Similarity.marginTopKImi(q, grown, k = 5,
            kPerHalf = 4, nProbe = 8,
            codebooksOpt = Some((meta.cb1, meta.cb2)))
          .localCheckpoint(true))
      atRest.exceptAll(inSession).union(inSession.exceptAll(atRest))
        .agg(count(lit(1)).cast("long").as("n_diff"))
    },
      // same self-parity contract: the incrementally-maintained at-rest
      // margin state must agree row for row with the full in-session run
      // (whose math q241 oracle-replays at this geometry)
      Some("SELECT CAST(0 AS BIGINT) AS n_diff")),

    // O — the ORCHESTRATED semantic daily tick (round 12, the r11
    // verdict's item 8): ONE entry runs the whole lifecycle the layer
    // exists for — build the vec + margin indexes once, run one tick
    // (dedupBatch → verdict append → whole-batch vec admission →
    // survivor margin admission → compaction cadence → zero-IO count
    // validation → run log), then REPLAY the same tick (every sink
    // must skip; validation must hold on a zero delta). The output is
    // the tick's verdict relation + the lifecycle's validation flag;
    // the oracle replays the survivor rule (q242's fixed-codebook
    // CTEs), so the orchestration's observable result is hash-gated.
    Entry("q245_semantic_tick", (s, dir) => {
      val ev = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val corpus = ev.filter(col("vec_id") % 5 =!= 0)
      val batch = ev.filter(col("vec_id") % 5 === 0)
        .unionByName(corpus.filter(col("vec_id") < 30)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      val tmp = java.nio.file.Files.createTempDirectory("graft-q245").toString
      val (vec, margin, verd) = (s"$tmp/vec_idx", s"$tmp/margin_idx", s"$tmp/verdicts")
      // two independent index builds into separate tables — overlap
      // them (guide §2.6 via graft.util.Par); the tick below starts
      // only after both have committed, exactly as before
      graft.util.Par.both(
        functions.VecIndex.build(s, corpus, vec, kPerHalf = 4, iters = 0),
        functions.MarginIndex.build(s, corpus, margin, kPerHalf = 4, nProbe = 8))
      val store = new graft.state.LogStore(s, s"$tmp/logs")
      val orch = new graft.driver.Orchestrator(s, tmp, store)
      val r1 = orch.semanticTick(batch, vec, verd, tick = 1L,
        marginTable = Some(margin), appId = "q245")
      val r2 = orch.semanticTick(batch, vec, verd, tick = 1L,
        marginTable = Some(margin), appId = "q245") // replay: all sinks skip
      val ok = r1.landed && r1.validated && r1.verdictLanded &&
        r1.marginVersion.isDefined &&
        !r2.landed && r2.validated && !r2.verdictLanded &&
        r2.marginVersion.isEmpty
      val out = graft.sink.TxTable.read(s, verd)
        .select(col("vec_id").cast("long").as("vec_id"), col("kept"),
          lit(ok).as("validated"))
        .localCheckpoint(true) // materialize, then the fixture can go:
      // repeated gate/bench runs otherwise accumulate two index builds
      // + a verdict table + a log store per invocation in the system
      // temp dir, unbounded (r12 ADVICE, low)
      graft.sink.TxTable.deleteDir(s, tmp)
      out
    },
      // the orchestrated tick emits ONE VERDICT PER BATCH ROW: kept =
      // survivor under q242's rule (same fixed-codebook CTEs), losers
      // flagged false instead of filtered; `validated` is the lifecycle's
      // own exactly-once + count-validation outcome (landed tick grows
      // the index by exactly |batch|; the replayed tick by exactly 0 and
      // skips every sink) — the oracle pins it TRUE
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         corp AS (SELECT vec_id, v FROM e WHERE vec_id % 5 <> 0),
         bat AS (SELECT vec_id, v FROM e WHERE vec_id % 5 = 0
                 UNION ALL
                 SELECT vec_id + 100000, v FROM corp WHERE vec_id < 30),
         allr AS (SELECT vec_id, v FROM corp UNION ALL SELECT vec_id, v FROM bat),
         h AS (SELECT vec_id, v[1:32] AS v1, v[33:64] AS v2 FROM allr),
         cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
                       v[1:32] AS c1, v[33:64] AS c2
                FROM (SELECT vec_id, v FROM corp ORDER BY vec_id LIMIT 4)),
         d1 AS (SELECT h.vec_id, cb.cid,
                  list_dot_product(cb.c1, cb.c1) - 2 * list_dot_product(h.v1, cb.c1) AS dist
                FROM h CROSS JOIN cb),
         a1 AS (SELECT vec_id, cid AS g1 FROM (
                  SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
                  FROM d1) WHERE rn = 1),
         d2 AS (SELECT h.vec_id, cb.cid,
                  list_dot_product(cb.c2, cb.c2) - 2 * list_dot_product(h.v2, cb.c2) AS dist
                FROM h CROSS JOIN cb),
         a2 AS (SELECT vec_id, cid AS g2 FROM (
                  SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
                  FROM d2) WHERE rn = 1),
         a AS (SELECT a1.vec_id, CAST(a1.g1 * 4 + a2.g2 AS BIGINT) AS cluster_id
               FROM a1 JOIN a2 ON a2.vec_id = a1.vec_id),
         losers AS (
           SELECT DISTINCT y.vec_id
           FROM a x JOIN a y ON y.cluster_id = x.cluster_id AND y.vec_id > x.vec_id
           JOIN allr ex ON ex.vec_id = x.vec_id
           JOIN allr ey ON ey.vec_id = y.vec_id
           WHERE (y.vec_id % 5 = 0 OR y.vec_id >= 100000)
             AND list_dot_product(ex.v, ey.v)
               / (sqrt(list_dot_product(ex.v, ex.v)) * sqrt(list_dot_product(ey.v, ey.v))) >= 0.95)
         SELECT b.vec_id,
                b.vec_id NOT IN (SELECT vec_id FROM losers) AS kept,
                TRUE AS validated
         FROM bat b"""), Fixture),

    // R — the rebuild LIFECYCLE executed on a live index (round 13,
    // the r12 verdict's item 3: `rebuildWarranted` fired spec-pinned,
    // but nothing walked signal → retrain → atomic swap → cleared
    // history → queued appends → parity as ONE path). A maintainer
    // drifts the index until the signal fires, VecIndex.rebuild
    // retrains from the at-rest rows and swaps atomically, and every
    // post-swap property an operator relies on lands as a flag row the
    // oracle pins: the signal cleared WITH the geometry it measured,
    // one new quantizer generation, no row lost, a queued maintainer
    // append encoding on the NEW generation, a replayed pre-rebuild
    // tick still skipping (writer watermarks ride the commit log
    // through the replacing commit), at-rest search ≡ the in-session
    // IMI path at the retrained frozen codebooks (the q243 parity
    // shape), and exact twins still dropping against the rebuilt
    // corpus. RebuildLifecycleSpec additionally drills the
    // cross-process reader surviving the swap and appends RACING the
    // retrain being repaired, not lost.
    Entry("q246_rebuild_lifecycle", (s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val corpus = ev.filter(col("vec_id") < 300)
      val tmp = java.nio.file.Files.createTempDirectory("graft-q246").toString
      val idx = s"$tmp/vec_idx"
      functions.VecIndex.build(s, corpus, idx, kPerHalf = 4, iters = 0)
      // drifted maintainer batches: 40 copies of one corpus vector with
      // fresh monotone ids — single-cell occupancy, TV over the
      // one-batch alarm, over the minBatchRows evidence gate
      val one = corpus.filter(col("vec_id") === 7L)
        .select(col("embedding")).localCheckpoint(true)
      def drifted(from: Long) = s.range(40)
        .select((col("id") + from).as("vec_id")).crossJoin(broadcast(one))
      functions.VecIndex.appendOnce(s, drifted(1000L), idx, "q246", 0L)
      functions.VecIndex.appendOnce(s, drifted(1040L), idx, "q246", 1L)
      val warrantedBefore = functions.AnnIndex.rebuildWarranted(s, idx)
      val oldHash = functions.AnnIndex.currentMetaHash(s, idx)
      functions.VecIndex.rebuild(s, idx, kPerHalf = 4, iters = 1)
      val warrantedAfter = functions.AnnIndex.rebuildWarranted(s, idx)
      val newHash = functions.AnnIndex.currentMetaHash(s, idx)
      val rowsAfter = graft.sink.TxTable.read(s, idx).count()
      val queued = functions.VecIndex.appendOnce(s, drifted(1080L), idx, "q246", 2L)
      val queuedOnNew = queued.isDefined &&
        functions.AnnIndex.currentMetaHash(s, idx) == newHash
      val rowsQueued = graft.sink.TxTable.read(s, idx).count()
      val replaySkips =
        functions.VecIndex.appendOnce(s, drifted(1000L), idx, "q246", 0L).isEmpty
      val meta = functions.VecIndex.readMeta(s, idx)
      val rows = graft.sink.TxTable.read(s, idx)
        .select(col("id").as("vec_id"), col("v").as("embedding"))
        .localCheckpoint(true)
      val q = ev.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
        .localCheckpoint(true)
      // independent parity legs over frozen state — overlap (guide
      // §2.6 via graft.util.Par; both inputs are checkpointed above)
      val (atRest, inSession) = graft.util.Par.both(
        functions.VecIndex.search(s, idx, q, k = 5)
          .localCheckpoint(true),
        functions.Similarity.ivfTopKImi(q, rows, k = 5,
            kPerHalf = 4, codebooksOpt = Some((meta.cb1, meta.cb2)))
          .localCheckpoint(true))
      val parityDiff = atRest.exceptAll(inSession)
        .union(inSession.exceptAll(atRest)).count()
      val twins = corpus.filter(col("vec_id") < 5)
        .select((col("vec_id") + 50000L).as("vec_id"), col("embedding"))
      val twinSurvivors = functions.VecIndex.dedupBatch(s, idx, twins).count()
      graft.sink.TxTable.deleteDir(s, tmp)
      Seq(
        ("new_generation", if (newHash != oldHash) 1L else 0L),
        ("queued_on_new_gen", if (queuedOnNew) 1L else 0L),
        ("replay_skips", if (replaySkips) 1L else 0L),
        ("rows_after_queued", rowsQueued),
        ("rows_after_rebuild", rowsAfter),
        ("search_parity_diff", parityDiff),
        ("twin_survivors", twinSurvivors),
        ("warranted_after", if (warrantedAfter) 1L else 0L),
        ("warranted_before", if (warrantedBefore) 1L else 0L)
      ).toDF("metric", "value")
    },
      // the rebuild lifecycle's observable outcomes are booleans/counts a
      // correct walk of signal → retrain → swap → queued appends → parity
      // determines exactly (the q244 constant-pin pattern; the
      // underlying search/dedup math is independently hash-replayed by
      // q242/q243, and the at-rest↔in-session parity leg inside this gate
      // is itself the q243 shape on the REBUILT generation)
      Some("""SELECT 'new_generation' AS metric, CAST(1 AS BIGINT) AS value
         UNION ALL SELECT 'queued_on_new_gen', CAST(1 AS BIGINT)
         UNION ALL SELECT 'replay_skips', CAST(1 AS BIGINT)
         UNION ALL SELECT 'rows_after_queued', CAST(420 AS BIGINT)
         UNION ALL SELECT 'rows_after_rebuild', CAST(380 AS BIGINT)
         UNION ALL SELECT 'search_parity_diff', CAST(0 AS BIGINT)
         UNION ALL SELECT 'twin_survivors', CAST(0 AS BIGINT)
         UNION ALL SELECT 'warranted_after', CAST(0 AS BIGINT)
         UNION ALL SELECT 'warranted_before', CAST(1 AS BIGINT)"""), Fixture),

    // ---------------------------------------------- bench-only twins
    //
    // Timed by Bench but NOT part of the correctness gate: production
    // fast paths whose gate query deliberately times an engine-portable
    // twin instead. Each is correctness-pinned elsewhere (spec bit-parity
    // or recall floors) — these entries exist so a fast-path performance
    // regression is visible in BENCH output, not hidden behind the
    // portable path's number.

    // fixture-free twins of q119/q120/q126: change-feed read and IVM
    // refresh timed against the memoized lifecycle fixture — the
    // "query" half of the gate queries' fixture+query wall-clock
    Entry("b119_cdf_read", (s, dir) => {
      val fx = txBenchFixture(s, dir)
      graft.sink.TxTable.readChanges(s, s"$fx/tx/customers", 1L, 4L)
        .select(col("c_custkey"), col("bal_cents"), col("ver"),
          col("_change_type").as("change_type"))
    }, None, Fixture),
    Entry("b120_ivm_refresh", (s, dir) => {
      val fx = txBenchFixture(s, dir)
      graft.operators.IncrementalView.refresh(s, s"$fx/tx/customers",
        s.read.parquet(s"$fx/derived_customers.parquet"),
        1L, 4L, Seq("nation"), Seq("bal_cents"))
    }, None, Fixture),
    Entry("b126_join_ivm_refresh", (s, dir) => {
      val fx = txBenchFixture(s, dir)
      graft.operators.IncrementalView.refreshJoin(s,
        s"$fx/tx/orderfacts", s"$fx/tx/custdim",
        s.read.parquet(s"$fx/derived_join.parquet"), 1L, 3L, 1L, 3L,
        "cust", Seq("nation"), Seq("cents"), cntCol = "n_orders")
    }, None, Fixture),

    // q153's production path: xxhash64 shingle hashes (codegen, no
    // MessageDigest per element) — same pair set as the md5-portable
    // gate form barring a ~2⁻⁶⁵-scale collision; spec-pinned equal.
    Entry("b153_prefix_fast", (s, dir) => {
      // value order: with cheap xxhash shingles the heavy map pass is
      // smaller, so df-order's extra shuffle pair measured a net LOSS
      // (4.17 -> 4.32 s at sf0.1); the md5-portable twin q153 keeps
      // df-order (4.59 -> 4.07 s)
      functions.PrefixJoin.shingleFastJaccardJoin(
        t(s, dir, "documents"), "doc_id", "text", n = 3, threshold = 0.6)
    }, None),

    // q24's production path: xxhash64 simhash (one hash pass vs md5's
    // four rounds). Bit-parity with the portable path is spec-pinned
    // (DedupSpec); q24 times the md5 oracle-portable twin.
    Entry("b24_simhash_fast", (s, dir) => {
      functions.Dedup.simhashDedup(t(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("lang"))
    }, None),

    // compressibility signal over the corpus (spec-pinned, no SQL
    // analog — timed here so a Deflater-path regression is visible)
    Entry("b_compress_signal", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        functions.DeflateSize.compressionBp(col("text")).as("bp"))
    }, None),

    // q169's production path: float-IVF candidate legs for the margin
    // scoring — the scale shape that replaces the brute O(n²) gate form
    // past MaxBruteMarginCorpus. Derived √n centroids (the production
    // default); recall vs brute is gated by q225 (portable twin) and
    // floor-pinned by MarginAnnSpec.
    Entry("b169_margin_ann", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") <= 9)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      functions.Similarity.marginTopKAnn(queries, emb, k = 5)
    }, None),

    // q232's production geometry: √n-derived coarse lists UNCAPPED by
    // the chained literal tree — past MaxLiteralCentroids the coarse
    // helpers (training argmin, assignment, residual lookup, probes)
    // take the one-Literal MATRIX form (O(1) plan size, zero shuffle;
    // fastest measured shape — SCALE.md round 8). At sf0.1 (2k
    // vectors) this derives 45 chained lists; at the organic 10×
    // corpus (20k) it derives 142 lists and exercises the matrix path
    // end to end. Both coarse shapes are oracle-replayed (q232 chained
    // at 16 lists, q234 matrix at 130) and IvfPqSpec pins matrix ≡
    // chained; q232 times the (16, 8)-pinned oracle twin.
    Entry("b232_ivfpq_auto", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") <= 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      functions.Similarity.ivfPqTopKPortable(queries, emb, k = 10, dim = 64)
    }, None),

    // q235's production geometry: at-rest index at √n-derived lists
    // (auto sizing, sampled training); the returned plan is the PRUNED
    // probe read + ADC + top-k, so the build lands in "setup" (the
    // index-construction cost, one-time in production) and the query
    // slice times what a steady-state search actually pays
    Entry("b235_ann_index_auto", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") <= 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-b235").toString
      val table = s"$tmp/ann_idx"
      functions.AnnIndex.build(s, emb, table, dim = 64)
      functions.AnnIndex.search(s, table, queries, k = 10)
    }, None, Fixture),

    // round 11: the VecIndex steady states, against a MEMOIZED trained
    // index (the marginBenchIndex discipline — builds are one-time
    // production cost; these twins time what a daily run actually pays)
    Entry("b242_semdedup_incr", (s, dir) => {
      val idx = vecBenchIndex(s, dir)
      // the daily shape: a ~10% batch under fresh ids dedups against
      // the standing corpus (plan = frozen assign + pruned-cell join)
      val batch = t(s, dir, "embeddings").filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding"))
      functions.VecIndex.dedupBatch(s, idx, batch)
    }, None),
    Entry("b243_vec_ivf_at_rest", (s, dir) => {
      val idx = vecBenchIndex(s, dir)
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") <= 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      functions.VecIndex.search(s, idx, queries, k = 10)
    }, None),

    // the SCREENED margin-index append steady state: one 100-row batch
    // under fresh ids per sample against a memoized index (its own —
    // appends mutate state, so it never shares b239's). The eager
    // append IS the timed work; q244 times the gate (build + appends +
    // the parity comparison), this twin isolates the daily-refresh op.
    Entry("b244_margin_incr_append", (s, dir) => {
      val (idx, ctr) = marginIncrBenchIndex(s, dir)
      val tag = 10000000L + ctr.incrementAndGet() * 100000L
      val batch = t(s, dir, "embeddings").filter(col("vec_id") < 100)
        .select((col("vec_id") + tag).as("vec_id"), col("embedding"))
      val v = functions.MarginIndex.append(s, batch, idx)
      import s.implicits._
      Seq(v).toDF("committed_version")
    }, None),

    // q156's published-recipe twin: SemDeDup with TRAINED k-means
    // clusters (sampled Lloyd + matrix argmin past the literal cap) —
    // recovers 493/500 planted near-dups vs the fixed-centroid gate
    // form's 470 (SemDedupTrainedSpec); float means aren't
    // SQL-replayable, so this is timed here and spec-pinned, while
    // q156 gates the oracle-replayable fixed-centroid form
    Entry("b156_semdedup_trained", (s, dir) => {
      functions.Similarity.semDedupTrained(
        t(s, dir, "embeddings"), "vec_id", "embedding")
    }, None),

    // q237's trained twin: SemDeDup on the IMI product grid with two
    // bounded-sample half-Lloyds — the shape semDedupTrained hands off
    // to past the single-level list cap; timed here at the gate's
    // 16-cell geometry so grid-assignment cost is visible per round
    Entry("b237_semdedup_imi_trained", (s, dir) => {
      functions.Similarity.semDedupTrainedImi(
        t(s, dir, "embeddings"), "vec_id", "embedding", kPerHalf = 4)
    }, None),

    // the margin legs over the IMI grid (marginTopK's past-the-cap
    // route) at the b169 geometry — recall floor pinned by MarginSpec
    Entry("b238_margin_imi", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") <= 9)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      functions.Similarity.marginTopKImi(queries, emb, k = 5,
        kPerHalf = 4, nProbe = 8)
    }, None),

    // steady-state margin search against the AT-REST index (round-10
    // item 2): training, assignment and the whole self-kNN a-mean leg
    // are BUILD cost (memoized once per process+sf like the tx
    // fixture); what this times is the production per-query-batch cost
    // — probe, pruned read, margin join, top-k. Compare with b238 (the
    // same legs rebuilt in-session) to read the at-rest win.
    Entry("b239_margin_at_rest", (s, dir) => {
      val idx = marginBenchIndex(s, dir)
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") <= 9)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      functions.MarginIndex.search(s, idx, queries, k = 5)
    }, None, Fixture),

    // q61's production path: float Lloyd IVF (codegen DotProduct argmin
    // vs the portable variant's CodegenFallback integer distance). The
    // gate times the engine-portable twin; recall parity is spec-pinned.
    Entry("b61_ivf_fast", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") <= 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      // (16, 8) pinned to stay comparable with q61's oracled twin
      functions.Similarity.ivfTopK(queries, emb, k = 10,
          nCentroids = 16, nProbe = 8)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cos"), 4).as("cos_r"))
    }, None),
  )

  // ------------------------------------------------- bench-only fixtures

  /** Memoized tx-lifecycle fixture for the b119/b120/b126 bench twins.
    * The gate queries q119/q120/q126 time their WHOLE lifecycle — fixture
    * churn (multiple commits + FS ops per run) dominates their local
    * wall-clock, which makes round-over-round deltas uninterpretable
    * (VERDICT r5 item 7). These twins time ONLY the change-feed read /
    * IVM refresh against a fixture built once per (process, sf dir):
    * the q120-shaped customers lifecycle (append → merge → delete →
    * compact, derived aggregate bootstrapped at v1) and the q126-shaped
    * fact+dim pair with its bootstrapped join view.
    */
  private val txBenchFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Memoized at-rest margin index for b239 — built ONCE per
    * (process, sf dir) at b238's geometry so the bench times the
    * steady-state search, not the build (the b119/b120 discipline).
    */
  private val marginBenchIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Memoized at-rest VecIndex (trained, derived geometry) per (process,
    * sf dir) — the b242/b243 twins time steady-state dedup/search, not
    * the one-time build (the marginBenchIndex discipline).
    */
  private val vecBenchIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def vecBenchIndex(s: SparkSession, dir: String): String =
    vecBenchIndexes.computeIfAbsent(dir, _ => {
      val idx = java.nio.file.Files.createTempDirectory("graft-benchvec")
        .toString + "/idx"
      functions.VecIndex.build(s, t(s, dir, "embeddings"), idx, kPerHalf = 4)
      idx
    })

  /** b244's own mutable margin index + a fresh-id counter (appends
    * mutate state — never share the search twins' fixture).
    */
  private val marginIncrBenchIndexes = new java.util.concurrent.ConcurrentHashMap[
    String, (String, java.util.concurrent.atomic.AtomicLong)]()

  private def marginIncrBenchIndex(s: SparkSession,
      dir: String): (String, java.util.concurrent.atomic.AtomicLong) =
    marginIncrBenchIndexes.computeIfAbsent(dir, _ => {
      val idx = java.nio.file.Files.createTempDirectory("graft-benchmincr")
        .toString + "/idx"
      functions.MarginIndex.build(s, t(s, dir, "embeddings"), idx,
        kPerHalf = 4, nProbe = 8)
      (idx, new java.util.concurrent.atomic.AtomicLong(0))
    })

  private def marginBenchIndex(s: SparkSession, dir: String): String =
    marginBenchIndexes.computeIfAbsent(dir, _ => {
      val idx = java.nio.file.Files.createTempDirectory("graft-benchmargin")
        .toString + "/idx"
      functions.MarginIndex.build(s, t(s, dir, "embeddings"), idx,
        kPerHalf = 4, nProbe = 8)
      idx
    })

  private def txBenchFixture(s: SparkSession, dir: String): String =
    txBenchFixtures.computeIfAbsent(dir, _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-benchfx").toString
      // customers lifecycle (q120's shape: key, nation, bal_cents, ver)
      val cTbl = s"$tmp/tx/customers"
      val base = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("nation"),
          round(col("c_acctbal") * 100).cast("long").as("bal_cents"),
          lit(0L).as("ver"))
      graft.sink.TxTable.append(s,                                 // v1
        base.repartitionByRange(4, col("c_custkey")), cTbl,
        statsCols = Seq("c_custkey"))
      graft.operators.IncrementalView.compute(
          graft.sink.TxTable.readAt(s, cTbl, 1L), Seq("nation"), Seq("bal_cents"))
        .write.parquet(s"$tmp/derived_customers.parquet")
      val upd = base.filter(col("c_custkey") <= 300 && col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), col("nation"),
          (col("bal_cents") + 100000L).as("bal_cents"), lit(1L).as("ver"))
      val ins = base.filter(col("c_custkey") % 100 === 3)
        .select((col("c_custkey") + 1000000L).as("c_custkey"), col("nation"),
          col("bal_cents"), lit(1L).as("ver"))
      graft.sink.TxTable.merge(s, upd.unionByName(ins), cTbl,      // v2
        key = "c_custkey", orderCols = Seq("ver"))
      val delKeys = base.filter(col("c_custkey") <= 200 && col("c_custkey") % 2 === 0)
        .select(col("c_custkey"))
      graft.sink.TxTable.delete(s, delKeys, cTbl, key = "c_custkey") // v3
      graft.sink.TxTable.compact(s, cTbl,                          // v4
        targetRowsPerFile = 1000L, clusterBy = Some("c_custkey"))
      // fact + dim lifecycle (q126's shape) with the bootstrapped join view
      val rTbl = s"$tmp/tx/orderfacts"
      val sTbl = s"$tmp/tx/custdim"
      val rBase = t(s, dir, "orders")
        .select(col("o_custkey").as("cust"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val sBase = t(s, dir, "customer")
        .select(col("c_custkey").as("cust"),
          col("c_nationkey").cast("long").as("nation"), lit(0L).as("ver"))
      graft.sink.TxTable.append(s,
        rBase.repartitionByRange(8, col("cust")), rTbl, statsCols = Seq("cust"))
      graft.sink.TxTable.append(s, sBase, sTbl)
      graft.operators.IncrementalView.computeJoin(
          graft.sink.TxTable.readAt(s, rTbl, 1L),
          graft.sink.TxTable.readAt(s, sTbl, 1L),
          "cust", Seq("nation"), Seq("cents"), cntCol = "n_orders")
        .select("nation", "n_orders", "cents")
        .write.parquet(s"$tmp/derived_join.parquet")
      val rIns = t(s, dir, "orders").filter(col("o_orderkey") % 97 === 0)
        .select(col("o_custkey").as("cust"), lit(424200L).as("cents"))
      graft.sink.TxTable.append(s, rIns, rTbl)                      // R v2
      graft.sink.TxTable.delete(s,
        rBase.filter(col("cust") <= 120).select(col("cust")), rTbl, key = "cust") // R v3
      graft.sink.TxTable.merge(s,
        sBase.filter(col("cust").between(200, 260))
          .select(col("cust"), (col("nation") + 100L).as("nation"), lit(1L).as("ver")),
        sTbl, key = "cust", orderCols = Seq("ver"))                 // S v2
      graft.sink.TxTable.delete(s,
        sBase.filter(col("cust").between(300, 330)).select(col("cust")),
        sTbl, key = "cust")                                         // S v3
      tmp
    })


  // ----------------------------------------------------------- oracle SQL

  /** The frozen BPE merge list as a SQL VALUES fragment (rank, a, b). */
  private val bpeMergeValues: String =
    functions.Bpe.DefaultMerges.zipWithIndex.map { case ((a, b), i) =>
      s"($i,'${a.replace("'", "''")}','${b.replace("'", "''")}')"
    }.mkString(",")

  /** [[functions.TextFunctions.BpePattern]] with the contraction
    * apostrophe doubled for SQL string-literal embedding.
    */
  private val bpePretokPat: String =
    """''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"""

  /** Shared oracle CTE block replaying merge-table BPE in SQL: the
    * pre-tokens of every document (with ordinal), the distinct pre-token
    * vocabulary, and a RECURSIVE rank-order merge loop over a
    * chr(30)-delimited symbol string — one `replace()` call is exactly
    * one left-to-right non-overlapping merge pass, iterated to fixpoint
    * per rank. That is NOT the loop Bpe.applyMerges runs (lowest-rank
    * pair first); the two agree only on a table whose merge products are
    * distinct, as DefaultMerges' are (BpeSpec pins it; see the
    * rank-order note in Bpe). Yields `bpe(doc_id, n_pre, n_tok, toks)`.
    * Use under `WITH RECURSIVE`.
    */
  private val bpeCtes: String = {
    val n = functions.Bpe.DefaultMerges.length
    val step = "replace(s, chr(30)||m.a||chr(30)||m.b||chr(30), chr(30)||m.a||m.b||chr(30))"
    s"""merges(r, a, b) AS (VALUES $bpeMergeValues),
       pretok AS (
         SELECT doc_id,
           unnest(regexp_extract_all(text, '$bpePretokPat', 0)) AS tok,
           unnest(range(1, len(regexp_extract_all(text, '$bpePretokPat', 0)) + 1)) AS i
         FROM documents),
       bvocab AS (SELECT DISTINCT tok FROM pretok),
       bst AS (
         SELECT tok, chr(30) || array_to_string(string_split(tok, ''), chr(30)) || chr(30) AS s,
                0 AS r
         FROM bvocab
         UNION ALL
         SELECT tok, $step,
           CASE WHEN $step <> s THEN bst.r ELSE bst.r + 1 END
         FROM bst JOIN merges m ON m.r = bst.r
         WHERE bst.r < $n),
       bdone AS (
         SELECT tok, len(string_split(s, chr(30))) - 2 AS n_merged,
                trim(replace(s, chr(30), '|'), '|') AS toks_str
         FROM bst WHERE r = $n),
       bagg AS (
         SELECT p.doc_id,
           CAST(count(*) AS INTEGER) AS n_pre,
           CAST(sum(d.n_merged) AS INTEGER) AS n_tok,
           string_agg(d.toks_str, '|' ORDER BY p.i) AS toks
         FROM pretok p JOIN bdone d USING (tok) GROUP BY 1),
       bpe AS (
         SELECT d.doc_id, COALESCE(b.n_pre, 0) AS n_pre,
                COALESCE(b.n_tok, 0) AS n_tok, COALESCE(b.toks, '') AS toks
         FROM documents d LEFT JOIN bagg b USING (doc_id))"""
  }

  /** Integer squared distance between two 64-dim BIGINT lists — the
    * [[functions.Similarity]] integer-IVF argmin, as DuckDB SQL.
    */
  private def ivfDist(vi: String, c: String): String =
    s"CAST(list_sum(list_transform(range(1, 65), j -> ($vi[j] - $c[j]) * ($vi[j] - $c[j]))) AS BIGINT)"

  /** One unrolled integer Lloyd iteration (argmin by lexicographic
    * [dist, cid] list-min, floor-division means, empty-cluster carry).
    */
  private def ivfIteration(i: Int): String = {
    val prev = s"c${i - 1}"
    s"""a$i AS (
           SELECT ei.vec_id, (min([${ivfDist("ei.vi", "c.c")}, c.cid]))[2] AS cid
           FROM ei CROSS JOIN $prev c GROUP BY ei.vec_id),
         s$i AS (
           SELECT a.cid, r.j AS pos, CAST(sum(ei.vi[r.j]) AS BIGINT) AS s,
                  CAST(count(*) AS BIGINT) AS n
           FROM a$i a JOIN ei ON ei.vec_id = a.vec_id
           CROSS JOIN range(1, 65) r(j)
           GROUP BY a.cid, r.j),
         m$i AS (SELECT cid, pos, (s - ((s % n) + n) % n) // n AS m FROM s$i),
         c$i AS (
           SELECT p.cid, list(COALESCE(m.m, p.c[r.j]) ORDER BY r.j) AS c
           FROM $prev p CROSS JOIN range(1, 65) r(j)
           LEFT JOIN m$i m ON m.cid = p.cid AND m.pos = r.j
           GROUP BY p.cid)"""
  }

  /** Shared integer-IVF CTE block ([[functions.Similarity.ivfTopKPortable]]
    * replay): quantized vectors, 16 lowest-id seeds, three Lloyd
    * iterations, final assignment `a4(vec_id, cid)`. Used by q61 and
    * q225's oracles.
    */
  /** Quantized-embedding CTEs (e, ei) — the shared front of every
    * integer-ANN oracle. */
  private val eiCtes: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       ei AS (SELECT vec_id,
                list_transform(v, x -> CAST(round(x * 1048576) AS BIGINT)) AS vi
              FROM e)"""

  private def ivfOracleCtes(seeds: Int = 16, iters: Int = 3): String =
    s"""$eiCtes,
       c0 AS (
         SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, vi AS c
         FROM (SELECT vec_id, vi FROM ei ORDER BY vec_id LIMIT $seeds)),
       ${(1 to iters).map(ivfIteration).mkString(",\n       ")},
       a${iters + 1} AS (
         SELECT ei.vec_id, (min([${ivfDist("ei.vi", "c.c")}, c.cid]))[2] AS cid
         FROM ei CROSS JOIN c$iters c GROUP BY ei.vec_id)"""

  /** Full relational replay of [[functions.Similarity.ivfTopKPortable]]:
    * fixed-point quantization, three UNROLLED Lloyd iterations (argmin by
    * lexicographic [dist, cid] list-min, floor-division means with
    * empty-cluster carry), probe ranking and exact-cosine re-rank — every
    * integer op the Spark side computes, re-derived in DuckDB.
    */
  private val q61OracleSql: String =
    s"""WITH ${ivfOracleCtes()},
       qp AS (
         SELECT ei.vec_id AS query_id, c.cid, ${ivfDist("ei.vi", "c.c")} AS d
         FROM ei CROSS JOIN c3 c WHERE ei.vec_id <= 20),
       probe AS (
         SELECT query_id, cid FROM (
           SELECT query_id, cid,
             row_number() OVER (PARTITION BY query_id ORDER BY d, cid) AS rn
           FROM qp) WHERE rn <= 8),
       cand AS (
         SELECT p.query_id, a.vec_id AS neighbor_id
         FROM probe p JOIN a4 a ON a.cid = p.cid
         WHERE a.vec_id <> p.query_id),
       scored AS (
         SELECT cand.query_id, cand.neighbor_id,
           list_dot_product(qe.v, ce.v)
             / (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ce.v, ce.v))) AS cos
         FROM cand
         JOIN e qe ON qe.vec_id = cand.query_id
         JOIN e ce ON ce.vec_id = cand.neighbor_id)
       SELECT query_id, neighbor_id, round(cos, 4) AS cos_r FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, neighbor_id ASC) AS rn
         FROM scored) WHERE rn <= 10"""

  /** q225's oracle: the PORTABLE ANN margin replayed end to end — the
    * shared integer-IVF CTEs, the self-kNN leg (every vector probes its
    * 8 nearest lists; top-4 exact cosines fold ascending), the
    * query-candidate leg, the `cos·8/(s_x+s_y)` margin tree — then
    * recall@5 of that ranking against the brute-force margin gold
    * (q169's oracle form). A hash match proves the ANN path's every
    * step, not just its recall number.
    */
  private val q225OracleSql: String = {
    val cosOf = (a: String, b: String) =>
      s"""list_dot_product($a, $b)
             / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"""
    s"""WITH ${ivfOracleCtes()},
       selfqp AS (
         SELECT ei.vec_id AS sid, c.cid, ${ivfDist("ei.vi", "c.c")} AS d
         FROM ei CROSS JOIN c3 c),
       selfprobe AS (
         SELECT sid, cid FROM (
           SELECT sid, cid,
             row_number() OVER (PARTITION BY sid ORDER BY d, cid) AS rn
           FROM selfqp) WHERE rn <= 8),
       selfcand AS (
         SELECT p.sid, a.vec_id AS nid
         FROM selfprobe p JOIN a4 a ON a.cid = p.cid
         WHERE a.vec_id <> p.sid),
       selfsc AS (
         SELECT sc.sid, sc.nid, ${cosOf("qe.v", "ce.v")} AS cos
         FROM selfcand sc
         JOIN e qe ON qe.vec_id = sc.sid
         JOIN e ce ON ce.vec_id = sc.nid),
       atop4 AS (SELECT sid, cos FROM (
                   SELECT sid, cos, row_number() OVER (
                     PARTITION BY sid ORDER BY cos DESC, nid ASC) AS rn
                   FROM selfsc) WHERE rn <= 4),
       asm AS (SELECT sid AS id, l[1] + l[2] + l[3] + l[4] AS s FROM (
                 SELECT sid, list_sort(list(cos)) AS l FROM atop4 GROUP BY sid)),
       qp AS (
         SELECT ei.vec_id AS query_id, c.cid, ${ivfDist("ei.vi", "c.c")} AS d
         FROM ei CROSS JOIN c3 c WHERE ei.vec_id <= 9),
       probe AS (
         SELECT query_id, cid FROM (
           SELECT query_id, cid,
             row_number() OVER (PARTITION BY query_id ORDER BY d, cid) AS rn
           FROM qp) WHERE rn <= 8),
       cand AS (
         SELECT p.query_id, a.vec_id AS nid
         FROM probe p JOIN a4 a ON a.cid = p.cid
         WHERE a.vec_id <> p.query_id),
       candsc AS (
         SELECT c.query_id, c.nid, ${cosOf("qe.v", "ce.v")} AS cos
         FROM cand c
         JOIN e qe ON qe.vec_id = c.query_id
         JOIN e ce ON ce.vec_id = c.nid),
       mga AS (
         SELECT cs.query_id, cs.nid AS match_id,
           cs.cos * 8.0 / (sa.s + sb.s) AS margin
         FROM candsc cs
         JOIN asm sa ON sa.id = cs.query_id
         JOIN asm sb ON sb.id = cs.nid),
       sysm AS (SELECT query_id, match_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY margin DESC, match_id ASC) AS rn
                  FROM mga) WHERE rn <= 5),
       pr AS (
         SELECT a.vec_id AS id, b.vec_id AS nid, ${cosOf("a.v", "b.v")} AS cos
         FROM e a JOIN e b ON b.vec_id <> a.vec_id),
       btop4 AS (SELECT id, cos FROM (
                   SELECT id, cos, row_number() OVER (
                     PARTITION BY id ORDER BY cos DESC, nid ASC) AS rn FROM pr)
                 WHERE rn <= 4),
       bsm AS (SELECT id, l[1] + l[2] + l[3] + l[4] AS s FROM (
                 SELECT id, list_sort(list(cos)) AS l FROM btop4 GROUP BY id)),
       bmg AS (
         SELECT p.id AS query_id, p.nid AS match_id,
           p.cos * 8.0 / (sa.s + sb.s) AS margin
         FROM pr p JOIN bsm sa ON sa.id = p.id JOIN bsm sb ON sb.id = p.nid
         WHERE p.id <= 9),
       gold AS (SELECT query_id, match_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY margin DESC, match_id ASC) AS rn
                  FROM bmg) WHERE rn <= 5)
       SELECT s.query_id,
         CAST(sum(CASE WHEN g.match_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hits,
         CAST((10000 * sum(CASE WHEN g.match_id IS NOT NULL THEN 1 ELSE 0 END)) // 5
           AS BIGINT) AS recall_bp
       FROM sysm s
       LEFT JOIN gold g
         ON g.query_id = s.query_id AND g.match_id = s.match_id
       GROUP BY 1"""
  }

  private def pqDist(vi: String, c: String): String =
    s"CAST(list_sum(list_transform(range(1, 17), j -> ($vi[j] - $c[j]) * ($vi[j] - $c[j]))) AS BIGINT)"

  /** The IVFADC chain replayed end to end, shared by q232/q233's
    * oracles (defaults) and q234's (130 centroids, one round each):
    * the coarse-IVF CTEs (`seeds` centroids, `coarseIters` Lloyd
    * rounds, final assignment), EXACT integer residuals against the
    * last centroids, per-subspace residual codebooks by the q188 PQ
    * training chain (`pqIters` rounds, lowest-id seeds), candidate
    * codes, and the asymmetric distance as a direct join against the
    * codebook entry each code names (arithmetically identical to the
    * Spark side's table lookup). Ends at
    * `adc(query_id, neighbor_id, adc_q)`.
    */
  private def ivfPqOracleCtes(seeds: Int = 16, coarseIters: Int = 3,
                              pqIters: Int = 2): String =
    s"""${ivfOracleCtes(seeds, coarseIters)},
       res AS MATERIALIZED (
         SELECT a.vec_id, a.cid,
           list_transform(range(1, 65), j -> ei.vi[j] - c.c[j]) AS ri
         FROM a${coarseIters + 1} a JOIN ei ON ei.vec_id = a.vec_id
         JOIN c$coarseIters c ON c.cid = a.cid),
       ${pqFromResidualsSql(pqIters)},
       ${adcQuerySql(s"c$coarseIters", pqIters)}"""

  /** residual -> per-subspace PQ training -> codes, shared by the
    * single-level (c3) and IMI (cells) coarse oracles: expects a
    * `res(vec_id, cid, ri)` CTE upstream. Ends at `codes`.
    */
  private def pqFromResidualsSql(iters: Int = 2): String = {
    def pqIteration(i: Int): String = {
      val prev = s"p${i - 1}"
      s"""pa$i AS MATERIALIZED (
             SELECT r.vec_id, r.s, (min([${pqDist("r.vi", "c.c")}, c.cid]))[2] AS cid
             FROM ris r JOIN $prev c ON c.s = r.s GROUP BY r.vec_id, r.s),
           ps$i AS MATERIALIZED (
             SELECT a.s, a.cid, rj.j AS pos, CAST(sum(r.vi[rj.j]) AS BIGINT) AS sm,
                    CAST(count(*) AS BIGINT) AS n
             FROM pa$i a JOIN ris r ON r.vec_id = a.vec_id AND r.s = a.s
             CROSS JOIN range(1, 17) rj(j)
             GROUP BY a.s, a.cid, rj.j),
           pm$i AS MATERIALIZED (
             SELECT s, cid, pos, (sm - ((sm % n) + n) % n) // n AS mn FROM ps$i),
           p$i AS MATERIALIZED (
             SELECT p.s, p.cid, list(COALESCE(m.mn, p.c[rj.j]) ORDER BY rj.j) AS c
             FROM $prev p CROSS JOIN range(1, 17) rj(j)
             LEFT JOIN pm$i m ON m.s = p.s AND m.cid = p.cid AND m.pos = rj.j
             GROUP BY p.s, p.cid)"""
    }
    s"""ris AS MATERIALIZED (
         SELECT vec_id, s.s AS s, ri[(s.s*16+1):(s.s*16+16)] AS vi
         FROM res CROSS JOIN range(0, 4) s(s)),
       p0 AS MATERIALIZED (
         SELECT s, CAST(rn - 1 AS BIGINT) AS cid, vi AS c FROM (
           SELECT vec_id, s, vi,
             row_number() OVER (PARTITION BY s ORDER BY vec_id) AS rn
           FROM ris) WHERE rn <= 8),
       ${(1 to iters).map(pqIteration).mkString(",\n       ")},
       codes AS MATERIALIZED (
         SELECT r.vec_id, r.s, (min([${pqDist("r.vi", "c.c")}, c.cid]))[2] AS code
         FROM ris r JOIN p$iters c ON c.s = r.s GROUP BY r.vec_id, r.s)"""
  }

  /** Query probe + ADC scoring against the centroid relation
    * `$cents(cid, c)` (single-level lists or IMI product cells — for
    * cells, ORDER BY the full distance replays the Spark side's padded
    * d1+d2 cell ranking exactly: they differ by the row-constant
    * |vi|²); `pqIters` names the final codebook relation. Ends at
    * `adc(query_id, neighbor_id, adc_q)`.
    */
  private def adcQuerySql(cents: String, pqIters: Int = 2): String =
    s"""qp AS (
         SELECT ei.vec_id AS query_id, c.cid, ${ivfDist("ei.vi", "c.c")} AS d
         FROM ei CROSS JOIN $cents c WHERE ei.vec_id <= 20),
       probe AS (
         SELECT query_id, cid FROM (
           SELECT query_id, cid,
             row_number() OVER (PARTITION BY query_id ORDER BY d, cid) AS rn
           FROM qp) WHERE rn <= 8),
       qsub AS MATERIALIZED (
         SELECT p.query_id, p.cid AS pcid, s.s AS s,
           list_transform(range(1, 65), j -> ei.vi[j] - c.c[j])
             [(s.s*16+1):(s.s*16+16)] AS qvi
         FROM probe p
         JOIN ei ON ei.vec_id = p.query_id
         JOIN $cents c ON c.cid = p.cid
         CROSS JOIN range(0, 4) s(s)),
       adc AS (
         SELECT qs.query_id, r.vec_id AS neighbor_id,
           CAST(sum(${pqDist("qs.qvi", "pc.c")}) AS BIGINT) AS adc_q
         FROM qsub qs
         JOIN res r ON r.cid = qs.pcid AND r.vec_id <> qs.query_id
         JOIN codes k ON k.vec_id = r.vec_id AND k.s = qs.s
         JOIN p$pqIters pc ON pc.s = qs.s AND pc.cid = k.code
         GROUP BY 1, 2)"""

  /** q232: plain ADC ranking — (adc asc, id asc), top-10. */
  private val q232OracleSql: String =
    s"""WITH ${ivfPqOracleCtes()}
       SELECT query_id, neighbor_id, adc_q FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY adc_q, neighbor_id) AS rn
         FROM adc) WHERE rn <= 10"""

  /** q234: q232's replay at the matrix-form geometry — 130 coarse
    * lists (past MaxLiteralCentroids), one coarse and one PQ round.
    */
  private val q234OracleSql: String =
    s"""WITH ${ivfPqOracleCtes(seeds = 130, coarseIters = 1, pqIters = 1)}
       SELECT query_id, neighbor_id, adc_q FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY adc_q, neighbor_id) AS rn
         FROM adc) WHERE rn <= 10"""

  /** q233: IVFADC+R — ADC top-50 shortlist, exact integer-L2 re-rank
    * (vectors straight from ei; identical to the Spark side's lossless
    * ri + centroid reconstruction), top-10, then recall@10 against the
    * brute-force integer-L2 gold. Hash-exact on both legs.
    */
  private val q233OracleSql: String =
    s"""WITH ${ivfPqOracleCtes()},
       cand AS MATERIALIZED (
         SELECT query_id, neighbor_id FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY adc_q, neighbor_id) AS rn
           FROM adc) WHERE rn <= 50),
       rr AS (
         SELECT c.query_id, c.neighbor_id, ${ivfDist("eq.vi", "en.vi")} AS l2
         FROM cand c
         JOIN ei eq ON eq.vec_id = c.query_id
         JOIN ei en ON en.vec_id = c.neighbor_id),
       sys AS (
         SELECT query_id, neighbor_id FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY l2, neighbor_id) AS rn
           FROM rr) WHERE rn <= 10),
       gold AS (
         SELECT query_id, neighbor_id FROM (
           SELECT eq.vec_id AS query_id, en.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY eq.vec_id
               ORDER BY ${ivfDist("eq.vi", "en.vi")}, en.vec_id) AS rn
           FROM ei eq JOIN ei en ON en.vec_id <> eq.vec_id
           WHERE eq.vec_id <= 20) WHERE rn <= 10)
       SELECT s.query_id, CAST(count(g.neighbor_id) AS BIGINT) AS n_hits,
         (10000 * CAST(count(g.neighbor_id) AS BIGINT)) // 10 AS recall_bp
       FROM sys s LEFT JOIN gold g
         ON g.query_id = s.query_id AND g.neighbor_id = s.neighbor_id
       GROUP BY 1"""

  /** Integer squared distance over `dims` coordinates. */
  private def ivfDistN(vi: String, c: String, dims: Int): String =
    s"CAST(list_sum(list_transform(range(1, ${dims + 1}), j -> ($vi[j] - $c[j]) * ($vi[j] - $c[j]))) AS BIGINT)"

  /** One unrolled integer half-Lloyd iteration over `src(vec_id, vi)`
    * at `dims` coordinates, CTE chain prefix `pfx` (`${pfx}0` = seeds,
    * `$pfx<i>` = round i) — [[ivfIteration]] parametrized for the IMI
    * half codebooks.
    */
  private def imiHalfIteration(pfx: String, src: String, i: Int, dims: Int): String = {
    val prev = s"$pfx${i - 1}"
    s"""${pfx}a$i AS (
           SELECT $src.vec_id, (min([${ivfDistN(s"$src.vi", "c.c", dims)}, c.cid]))[2] AS cid
           FROM $src CROSS JOIN $prev c GROUP BY $src.vec_id),
         ${pfx}s$i AS (
           SELECT a.cid, r.j AS pos, CAST(sum($src.vi[r.j]) AS BIGINT) AS sm,
                  CAST(count(*) AS BIGINT) AS n
           FROM ${pfx}a$i a JOIN $src ON $src.vec_id = a.vec_id
           CROSS JOIN range(1, ${dims + 1}) r(j)
           GROUP BY a.cid, r.j),
         ${pfx}m$i AS (SELECT cid, pos, (sm - ((sm % n) + n) % n) // n AS mn FROM ${pfx}s$i),
         $pfx$i AS (
           SELECT p.cid, list(COALESCE(m.mn, p.c[r.j]) ORDER BY r.j) AS c
           FROM $prev p CROSS JOIN range(1, ${dims + 1}) r(j)
           LEFT JOIN ${pfx}m$i m ON m.cid = p.cid AND m.pos = r.j
           GROUP BY p.cid)"""
  }

  /** The IMI-coarse IVFADC chain replayed end to end (q238/q239's
    * oracle): two per-half integer Lloyds (4 lowest-id half seeds, 3
    * rounds at 32 dims), SEPARABLE cell assignment (argmin of d1+d2 is
    * (argmin d1, argmin d2) — the sum decomposes over disjoint
    * coordinates; the Spark side's padded 64-wide argmins differ by a
    * row constant, so assignments match exactly), residuals against
    * the CONCATENATED cell centroid, then the SHARED residual-PQ chain
    * and the ADC probe against the 16-cell `cells` relation. Ends at
    * `adc(query_id, neighbor_id, adc_q)`.
    */
  /** The shared PREFIX of every IMI-grid oracle: two per-half integer
    * Lloyds (4 lowest-id half seeds, 3 rounds at 32 dims) and the
    * SEPARABLE composite cell assignment, ending at
    * `acell(vec_id, cid)`. q238/q239 extend it with the residual-PQ/ADC
    * chain; q240 replays the within-cell SemDeDup prune on it.
    */
  private lazy val imiHalfAssignCtes: String =
    s"""$eiCtes,
       ei1 AS (SELECT vec_id, vi[1:32] AS vi FROM ei),
       ei2 AS (SELECT vec_id, vi[33:64] AS vi FROM ei),
       h1c0 AS (
         SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, vi AS c
         FROM (SELECT vec_id, vi FROM ei1 ORDER BY vec_id LIMIT 4)),
       h2c0 AS (
         SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, vi AS c
         FROM (SELECT vec_id, vi FROM ei2 ORDER BY vec_id LIMIT 4)),
       ${imiHalfIteration("h1c", "ei1", 1, 32)},
       ${imiHalfIteration("h1c", "ei1", 2, 32)},
       ${imiHalfIteration("h1c", "ei1", 3, 32)},
       ${imiHalfIteration("h2c", "ei2", 1, 32)},
       ${imiHalfIteration("h2c", "ei2", 2, 32)},
       ${imiHalfIteration("h2c", "ei2", 3, 32)},
       ah1 AS (
         SELECT ei1.vec_id, (min([${ivfDistN("ei1.vi", "c.c", 32)}, c.cid]))[2] AS cid
         FROM ei1 CROSS JOIN h1c3 c GROUP BY ei1.vec_id),
       ah2 AS (
         SELECT ei2.vec_id, (min([${ivfDistN("ei2.vi", "c.c", 32)}, c.cid]))[2] AS cid
         FROM ei2 CROSS JOIN h2c3 c GROUP BY ei2.vec_id),
       acell AS (SELECT ah1.vec_id, ah1.cid * 4 + ah2.cid AS cid
                 FROM ah1 JOIN ah2 ON ah2.vec_id = ah1.vec_id)"""

  private lazy val imiIvfPqOracleCtes: String =
    s"""$imiHalfAssignCtes,
       cells AS MATERIALIZED (
         SELECT h1.cid * 4 + h2.cid AS cid, h1.c || h2.c AS c
         FROM h1c3 h1 CROSS JOIN h2c3 h2),
       res AS MATERIALIZED (
         SELECT a.vec_id, a.cid,
           list_transform(range(1, 65), j -> ei.vi[j] - c.c[j]) AS ri
         FROM acell a JOIN ei ON ei.vec_id = a.vec_id
         JOIN cells c ON c.cid = a.cid),
       ${pqFromResidualsSql()},
       ${adcQuerySql("cells")}"""

  /** q241's oracle: q225's end-to-end margin replay with the coarse
    * quantizer the IMI product grid — the half-Lloyd + separable-
    * assignment CTEs, both probe legs as ONE rank of the concatenated
    * cell centroids by full 64-dim integer distance (= d1 + d2 exactly;
    * ties to the lowest composite cid, matching the multi-sequence
    * grid's order), the top-4 ascending cosine fold, the
    * `cos·8/(s_x+s_y)` margin tree, then recall@5 vs the brute gold.
    */
  private lazy val q241OracleSql: String = {
    val cosOf = (a: String, b: String) =>
      s"""list_dot_product($a, $b)
             / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"""
    s"""WITH $imiHalfAssignCtes,
       cells AS MATERIALIZED (
         SELECT h1.cid * 4 + h2.cid AS cid, h1.c || h2.c AS c
         FROM h1c3 h1 CROSS JOIN h2c3 h2),
       selfqp AS (
         SELECT ei.vec_id AS sid, c.cid, ${ivfDistN("ei.vi", "c.c", 64)} AS d
         FROM ei CROSS JOIN cells c),
       selfprobe AS (
         SELECT sid, cid FROM (
           SELECT sid, cid,
             row_number() OVER (PARTITION BY sid ORDER BY d, cid) AS rn
           FROM selfqp) WHERE rn <= 8),
       selfcand AS (
         SELECT p.sid, a.vec_id AS nid
         FROM selfprobe p JOIN acell a ON a.cid = p.cid
         WHERE a.vec_id <> p.sid),
       selfsc AS (
         SELECT sc.sid, sc.nid, ${cosOf("qe.v", "ce.v")} AS cos
         FROM selfcand sc
         JOIN e qe ON qe.vec_id = sc.sid
         JOIN e ce ON ce.vec_id = sc.nid),
       atop4 AS (SELECT sid, cos FROM (
                   SELECT sid, cos, row_number() OVER (
                     PARTITION BY sid ORDER BY cos DESC, nid ASC) AS rn
                   FROM selfsc) WHERE rn <= 4),
       asm AS (SELECT sid AS id, l[1] + l[2] + l[3] + l[4] AS s FROM (
                 SELECT sid, list_sort(list(cos)) AS l FROM atop4 GROUP BY sid)),
       qp AS (
         SELECT ei.vec_id AS query_id, c.cid, ${ivfDistN("ei.vi", "c.c", 64)} AS d
         FROM ei CROSS JOIN cells c WHERE ei.vec_id <= 9),
       probe AS (
         SELECT query_id, cid FROM (
           SELECT query_id, cid,
             row_number() OVER (PARTITION BY query_id ORDER BY d, cid) AS rn
           FROM qp) WHERE rn <= 8),
       cand AS (
         SELECT p.query_id, a.vec_id AS nid
         FROM probe p JOIN acell a ON a.cid = p.cid
         WHERE a.vec_id <> p.query_id),
       candsc AS (
         SELECT c.query_id, c.nid, ${cosOf("qe.v", "ce.v")} AS cos
         FROM cand c
         JOIN e qe ON qe.vec_id = c.query_id
         JOIN e ce ON ce.vec_id = c.nid),
       mga AS (
         SELECT cs.query_id, cs.nid AS match_id,
           cs.cos * 8.0 / (sa.s + sb.s) AS margin
         FROM candsc cs
         JOIN asm sa ON sa.id = cs.query_id
         JOIN asm sb ON sb.id = cs.nid),
       sysm AS (SELECT query_id, match_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY margin DESC, match_id ASC) AS rn
                  FROM mga) WHERE rn <= 5),
       pr AS (
         SELECT a.vec_id AS id, b.vec_id AS nid, ${cosOf("a.v", "b.v")} AS cos
         FROM e a JOIN e b ON b.vec_id <> a.vec_id),
       btop4 AS (SELECT id, cos FROM (
                   SELECT id, cos, row_number() OVER (
                     PARTITION BY id ORDER BY cos DESC, nid ASC) AS rn FROM pr)
                 WHERE rn <= 4),
       bsm AS (SELECT id, l[1] + l[2] + l[3] + l[4] AS s FROM (
                 SELECT id, list_sort(list(cos)) AS l FROM btop4 GROUP BY id)),
       bmg AS (
         SELECT p.id AS query_id, p.nid AS match_id,
           p.cos * 8.0 / (sa.s + sb.s) AS margin
         FROM pr p JOIN bsm sa ON sa.id = p.id JOIN bsm sb ON sb.id = p.nid
         WHERE p.id <= 9),
       gold AS (SELECT query_id, match_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY margin DESC, match_id ASC) AS rn
                  FROM bmg) WHERE rn <= 5)
       SELECT s.query_id,
         CAST(sum(CASE WHEN g.match_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hits,
         CAST((10000 * sum(CASE WHEN g.match_id IS NOT NULL THEN 1 ELSE 0 END)) // 5
           AS BIGINT) AS recall_bp
       FROM sysm s
       LEFT JOIN gold g
         ON g.query_id = s.query_id AND g.match_id = s.match_id
       GROUP BY 1"""
  }

  /** q238/q239: IMI-coarse ADC ranking — (adc asc, id asc), top-10. */
  private lazy val q238OracleSql: String =
    s"""WITH $imiIvfPqOracleCtes
       SELECT query_id, neighbor_id, adc_q FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY adc_q, neighbor_id) AS rn
         FROM adc) WHERE rn <= 10"""

  // ------------------------------------------------------ by-name views

  /** Gate builders by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.collect { case Entry(n, build, Some(_), _) => n -> build }.toMap

  /** Gate oracle SQL by name. */
  lazy val oracleSql: Map[String, String] =
    entries.collect { case Entry(n, _, Some(sql), _) => n -> sql }.toMap
}
