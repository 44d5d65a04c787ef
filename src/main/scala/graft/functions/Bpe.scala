package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Merge-table BPE (byte-pair encoding) on top of the GPT-2-style
  * pre-tokenizer ([[TextFunctions.BpePattern]]): learn a deterministic
  * merge list from a corpus, apply it per pre-token, and expose per-doc
  * merged token counts — the honest token-cost basis for budget/packing/
  * chunking economics (whitespace and pre-token counts systematically
  * undercount sub-word spend).
  *
  * Character-level base symbols (a documented simplification of GPT-2's
  * byte-level alphabet — the corpus here is text, not arbitrary bytes;
  * the algorithm is the published Sennrich et al. 2016 BPE).
  *
  * Scale model:
  *  - TRAINING is a single distributed pre-token frequency aggregate
  *    (explode → groupBy → top-K), then the classic merge-learning loop
  *    runs driver-side over that bounded vocabulary table — the shape
  *    every production tokenizer trainer uses: corpus-sized work is one
  *    shuffle; merge learning touches only the (capped) vocab.
  *  - APPLICATION is one corpus pass with NO shuffle: a batched
  *    `mapPartitions` (the codec pattern, Multimodal.scala) that
  *    pre-tokenizes with the exact same regex and resolves each
  *    pre-token through a per-partition memo — pre-token frequency is
  *    Zipfian, so the merge loop runs once per distinct pre-token per
  *    partition, not once per occurrence. The alternative (explode →
  *    distinct vocab → apply → join back) costs a corpus-wide token
  *    shuffle; the memo gets the same amortization for free.
  *
  * Determinism: training tie-breaks (max pair frequency, then
  * lexicographically smallest pair) are total orders, so the same corpus
  * always yields the same merge list; application is a pure function of
  * (pre-token, merges). Both are pinned by BpeSpec.
  *
  * Application is the classic lowest-rank-pair loop: find the adjacent
  * pair with the lowest merge rank, merge every left-to-right occurrence
  * of it in one pass, repeat until no adjacent pair has a rank. Iterating
  * the merge list in rank order instead (each rule to fixpoint) is NOT
  * equivalent once two rules produce the same symbol: on the table
  * (a,a), (a,aa), (aa,b), (aaa,b), (aaab,a), (aa,a) the word "aaab"
  * segments as [aaab] here, but rank order gives [aaa, b] because the
  * rank-5 rule (aa,a) creates "aaa" after the rank-3 rule (aaa,b) has
  * run. On a table whose merge products are all distinct, as in
  * [[DefaultMerges]], the two give the same segmentation: merging pair r
  * creates only adjacencies involving its product, and every rule using
  * that product was learned after r. That is what lets the DuckDB oracle
  * replay the rank-order loop as a recursive CTE over a
  * separator-delimited string and stay hash-equal cross-engine.
  */
object Bpe {

  type Merge = (String, String)

  /** Learn `nMerges` merges from a (word, freq) table — Sennrich et al.
    * (2016) BPE: repeatedly merge the most frequent adjacent symbol pair.
    * Ties break to the lexicographically smallest (a, b): determinism
    * beats any marginal compression difference for a reproducible corpus
    * pipeline.
    */
  def train(wordFreq: Seq[(String, Long)], nMerges: Int): Vector[Merge] = {
    require(nMerges >= 0, s"nMerges must be >= 0, got $nMerges")
    var words: Map[String, (Vector[String], Long)] =
      wordFreq.toMap.map { case (w, f) => w -> (w.map(_.toString).toVector, f) }
    val merges = Vector.newBuilder[Merge]
    var done = false
    var n = 0
    while (n < nMerges && !done) {
      val pairs = collection.mutable.Map[Merge, Long]().withDefaultValue(0L)
      words.valuesIterator.foreach { case (syms, f) =>
        var i = 0
        while (i + 1 < syms.length) { pairs((syms(i), syms(i + 1))) += f; i += 1 }
      }
      if (pairs.isEmpty) done = true
      else {
        val maxF = pairs.valuesIterator.max
        val best = pairs.iterator.collect { case (p, f) if f == maxF => p }.min
        merges += best
        words = words.map { case (w, (syms, f)) => w -> (mergePass(syms, best), f) }
        n += 1
      }
    }
    merges.result()
  }

  /** One left-to-right non-overlapping merge pass of `pair` over a symbol
    * sequence (the inner step of both training and application; identical
    * to one SQL `replace()` pass over the separator-delimited form).
    */
  private def mergePass(syms: Vector[String], pair: Merge): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == pair._1 && syms(i + 1) == pair._2) {
        out += syms(i) + syms(i + 1); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Distributed trainer: pre-token frequencies via one explode/groupBy
    * pass, capped at the `topK` most frequent pre-tokens (freq desc, token
    * asc — deterministic), then the driver-side merge loop. The cap bounds
    * driver memory at corpus scale; the dropped tail is exactly the mass
    * BPE would never merge anyway (rare words fall back to finer pieces).
    */
  def trainFromCorpus(df: DataFrame, text: Column, nMerges: Int,
                      topK: Int = 1 << 16): Vector[Merge] = {
    // explode_outer + null filter: an inferred pre-Generate filter would
    // run the BPE pre-token regex twice more per row (graft.util.Explode)
    val wf = df.select(explode_outer(TextFunctions.bpeTokens(text)).as("tok"))
      .filter(col("tok").isNotNull)
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc)
      .limit(topK)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toSeq
    train(wf, nMerges)
  }

  /** Apply a learned merge list to one pre-token: repeatedly merge the
    * lowest-rank adjacent pair, every occurrence in one left-to-right
    * pass (see the object scaladoc). A pair listed twice keeps its first
    * rank.
    */
  def applyMerges(word: String, merges: IndexedSeq[Merge]): Vector[String] = {
    var syms = word.map(_.toString).toVector
    if (syms.length < 2) return syms
    val rank = collection.mutable.HashMap[Merge, Int]()
    merges.indices.reverse.foreach(r => rank(merges(r)) = r)
    var done = false
    while (!done && syms.length > 1) {
      var best = Int.MaxValue
      var i = 0
      while (i + 1 < syms.length) {
        best = math.min(best, rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue))
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else syms = mergePass(syms, merges(best))
    }
    syms
  }

  /** Per-document merged tokenization in ONE shuffle-free corpus pass:
    * (id, n_pre, n_tok, toks) where `n_pre` counts pre-tokens, `n_tok`
    * counts merged tokens and `toks` is every merged token joined with
    * `|` — the full segmentation, so an oracle hash-match pins token
    * BOUNDARIES, not just counts. NULL text → zero counts, empty toks
    * (an explicit contract, like [[TextFunctions.wsTokenCount]]).
    *
    * Batched mapPartitions with a per-partition memo: the merge loop runs
    * once per distinct pre-token; every further occurrence is a hash
    * lookup. The memo is bounded by the partition's distinct pre-token
    * count — Zipf makes that tiny relative to token volume.
    */
  def mergedTokensPerDoc(df: DataFrame, id: Column, text: Column,
                         merges: IndexedSeq[Merge]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(id.cast("long").as("id"), text.as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val pat = java.util.regex.Pattern.compile(TextFunctions.BpePattern)
        val memo = collection.mutable.HashMap[String, Vector[String]]()
        it.map { case (docId, t) =>
          if (t == null) (docId, 0, 0, "")
          else {
            val m = pat.matcher(t)
            var nPre = 0
            var nTok = 0
            val sb = new StringBuilder
            while (m.find()) {
              val pre = m.group()
              val toks = memo.getOrElseUpdate(pre, applyMerges(pre, merges))
              nPre += 1
              nTok += toks.length
              toks.foreach { tk =>
                if (sb.nonEmpty) sb.append('|')
                sb.append(tk)
              }
            }
            (docId, nPre, nTok, sb.toString)
          }
        }
      }
      .toDF("id", "n_pre", "n_tok", "toks")
  }

  /** Append the merged token count as `outCol` while PRESERVING the
    * input schema — the form the token-economics operators (budget,
    * packing, chunk spans) consume. Same single-pass memoized shape as
    * [[mergedTokensPerDoc]]; no join back, so the corpus is scanned once
    * and never shuffled for tokenization.
    */
  def withMergedCount(df: DataFrame, textCol: String, outCol: String,
                      merges: IndexedSeq[Merge]): DataFrame = {
    val schema = df.schema.add(outCol, org.apache.spark.sql.types.IntegerType)
    val ti = df.schema.fieldIndex(textCol)
    df.mapPartitions { it =>
      val pat = java.util.regex.Pattern.compile(TextFunctions.BpePattern)
      val memo = collection.mutable.HashMap[String, Int]()
      it.map { r =>
        val t = if (r.isNullAt(ti)) null else r.getString(ti)
        var n = 0
        if (t != null) {
          val m = pat.matcher(t)
          while (m.find()) {
            val pre = m.group()
            n += memo.getOrElseUpdate(pre, applyMerges(pre, merges).length)
          }
        }
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ n)
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  // ------------------------------------------------------------ vocabulary

  /** Deterministic vocabulary over a base character set + the merge
    * products: ids 0..B-1 are the base characters in sorted order, ids
    * B.. are merge products in rank order (first occurrence wins when
    * two rules produce the same string, e.g. (a,bc) and (ab,c) → "abc").
    * Every token [[applyMerges]] can emit over this base set has an id —
    * outputs are either single base characters or merge products — so
    * encoding has no OOV path for the corpus the base set came from;
    * characters outside it encode as [[UnkId]] (the frozen-vocab
    * contract: new corpus snapshots must not silently grow the vocab).
    */
  def vocab(baseChars: Seq[String], merges: IndexedSeq[Merge]): Map[String, Int] = {
    val base = baseChars.distinct.sorted
    val ids = collection.mutable.LinkedHashMap[String, Int]()
    base.zipWithIndex.foreach { case (c, i) => ids(c) = i }
    merges.foreach { case (a, b) =>
      val p = a + b
      if (!ids.contains(p)) ids(p) = ids.size
    }
    ids.toMap
  }

  /** Unknown-token id for characters outside the vocabulary's base set. */
  val UnkId: Int = -1

  /** Distinct single characters of the corpus pre-tokens — the base
    * alphabet for [[vocab]]. One distributed distinct over exploded
    * characters; only the (charset-bounded) alphabet reaches the driver.
    */
  def baseCharsOf(df: DataFrame, text: Column): Vector[String] =
    df.select(explode_outer(TextFunctions.bpeTokens(text)).as("tok"))
      .filter(col("tok").isNotNull)
      .select(explode(split(col("tok"), "")).as("c"))
      .filter(length(col("c")) > 0)
      .distinct().collect().map(_.getString(0)).toVector.sorted

  /** Per-document token-ID encoding — the form packing/training actually
    * consumes: (id, n_tok, ids) with `ids` the comma-joined vocabulary
    * ids of the merged segmentation. Same single-pass memoized shape as
    * [[mergedTokensPerDoc]].
    */
  def encodedIdsPerDoc(df: DataFrame, id: Column, text: Column,
                       merges: IndexedSeq[Merge],
                       vocabIds: Map[String, Int]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(id.cast("long").as("id"), text.as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val pat = java.util.regex.Pattern.compile(TextFunctions.BpePattern)
        val memo = collection.mutable.HashMap[String, Array[Int]]()
        it.map { case (docId, t) =>
          if (t == null) (docId, 0, "")
          else {
            val m = pat.matcher(t)
            var n = 0
            val sb = new StringBuilder
            while (m.find()) {
              val toks = memo.getOrElseUpdate(m.group(),
                applyMerges(m.group(), merges)
                  .map(tk => vocabIds.getOrElse(tk, UnkId)).toArray)
              n += toks.length
              toks.foreach { tid =>
                if (sb.nonEmpty) sb.append(',')
                sb.append(tid)
              }
            }
            (docId, n, sb.toString)
          }
        }
      }
      .toDF("id", "n_tok", "ids")
  }

  /** The frozen production merge table: `trainFromCorpus` over the
    * sf0.01 documents corpus at nMerges = 64 (regenerate with
    * `runMain graft.tools.BpeTrain`). Frozen rather than re-learned per
    * query so that (a) tokenization is stable across corpus snapshots —
    * a training-data pipeline must not re-segment the world when new
    * documents arrive — and (b) the DuckDB oracle can replay the exact
    * list. 64 merges on this vocabulary leaves genuine sub-word
    * structure (avg ≈ 2.4 tokens/pre-token, 17/61 words fully merged).
    */
  val DefaultMerges: Vector[Merge] = Vector(
    // generated by graft.tools.BpeTrain — do not hand-edit
    (" ", "s"), ("e", "r"), ("i", "n"), ("o", "w"),
    ("o", "r"), ("m", "er"), ("a", "t"), ("l", "u"),
    (" ", "c"), ("a", "s"), (" ", "b"), (" ", "v"),
    ("a", "r"), ("p", "ar"), (" ", "f"), (" ", "a"),
    (" ", "t"), ("j", "o"), ("jo", "in"), ("as", "h"),
    ("h", "ash"), (" ", "join"), ("s", "t"), ("r", "ow"),
    ("at", "c"), ("atc", "h"), ("a", "n"), ("c", "an"),
    ("lu", "m"), ("lum", "n"), ("o", "lumn"), ("o", "mer"),
    ("st", "omer"), ("u", "stomer"), ("i", "l"), ("il", "t"),
    ("ilt", "er"), (" ", "hash"), ("a", "l"), ("al", "l"),
    ("m", "all"), (" ", "row"), (" s", "can"), (" ", "d"),
    (" s", "mall"), ("g", "e"), ("l", "ow"), ("mer", "ge"),
    (" b", "atch"), (" c", "olumn"), (" f", "ilter"), ("c", "t"),
    ("ct", "or"), ("d", "er"), ("e", "ctor"), ("or", "der"),
    (" c", "ustomer"), ("in", "e"), ("l", "ine"), ("a", "b"),
    ("ab", "l"), ("abl", "e"), ("at", "a"), ("u", "p"),
  )
}
