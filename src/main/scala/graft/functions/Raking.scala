package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative proportional fitting (raking) of corpus sampling weights —
  * the survey-statistics workhorse (Deming & Stephan 1940) applied to
  * training-mix design: given a 2-way contingency of documents over
  * (row dimension × column dimension), fit one weight per cell so the
  * WEIGHTED marginals match prescribed targets (e.g. "each language an
  * equal share, each source an equal share"), alternating row- and
  * column-scaling passes. The reference's pipeline has no mix-balancing
  * beyond per-key sampling; this gives the standard joint-marginal
  * calibration used to reweight web corpora before sampling.
  *
  * Determinism: every step is INTEGER arithmetic. Weights live in ppm
  * (parts per million, BIGINT); each scaling pass multiplies by the
  * target and integer-divides by the current weighted marginal — no
  * doubles, no order-dependent float sums, so any engine replays the
  * fixed iteration count bit for bit. (Magnitude guard: w·target·10⁶
  * must stay under 2⁶³ — fine through ~10⁹ docs per marginal cell;
  * rescale `Scale` down for corpora beyond that.)
  *
  * 100 TB shape: ONE hash-agg pass over the corpus builds the
  * contingency cells; the raking loop runs driver-side on the cell
  * table, whose size is |rows|×|cols| (languages × sources — tens to
  * thousands), the same bounded-driver-state pattern as the BPE merge
  * table and ScalableNtile's count grid. The corpus is never rescanned;
  * applying the weights is a broadcast join of the cell table.
  */
object Raking {

  private val Scale = 1000000L // weights in ppm

  /** Contingency cells (rowv, colv, n, w_ppm) after `iterations`
    * alternating row/col scaling passes toward EQUAL-SHARE targets on
    * both marginals (row target = total div #rows, col target = total
    * div #cols — the uniform-mix calibration).
    */
  def rakeEqualShares(df: DataFrame, rowCol: String, colCol: String,
                      iterations: Int = 3): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val spark = df.sparkSession
    import spark.implicits._
    val cells = df.groupBy(col(rowCol).cast("string").as("rowv"),
        col(colCol).cast("string").as("colv"))
      .agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect().sortBy(c => (c._1, c._2))
    require(cells.nonEmpty, "raking needs a non-empty corpus")
    val total = cells.map(_._3).sum
    val rowKeys = cells.map(_._1).distinct.sorted
    val colKeys = cells.map(_._2).distinct.sorted
    val rowTarget = total / rowKeys.length
    val colTarget = total / colKeys.length
    var w = cells.map(_ => Scale)
    for (_ <- 1 to iterations) {
      // row pass: w' = w · rowTarget·10⁶ div Σ_col n·w
      val rowSum = rowKeys.map(r =>
        r -> cells.indices.filter(i => cells(i)._1 == r)
          .map(i => cells(i)._3 * w(i)).sum).toMap
      w = cells.indices.toArray.map { i =>
        w(i) * (rowTarget * Scale) / rowSum(cells(i)._1)
      }
      // col pass: symmetric
      val colSum = colKeys.map(c =>
        c -> cells.indices.filter(i => cells(i)._2 == c)
          .map(i => cells(i)._3 * w(i)).sum).toMap
      w = cells.indices.toArray.map { i =>
        w(i) * (colTarget * Scale) / colSum(cells(i)._2)
      }
    }
    cells.indices.map(i => (cells(i)._1, cells(i)._2, cells(i)._3, w(i)))
      .toDF("rowv", "colv", "n", "w_ppm")
  }

  /** Per-document weights: broadcast-join the raked cell table back to
    * the corpus — the application step at scale (one map-side join).
    */
  def applyWeights(df: DataFrame, rowCol: String, colCol: String,
                   iterations: Int = 3): DataFrame = {
    val cells = rakeEqualShares(df, rowCol, colCol, iterations)
      .select(col("rowv"), col("colv"), col("w_ppm"))
    df.join(broadcast(cells),
      df(rowCol).cast("string") === col("rowv") &&
        df(colCol).cast("string") === col("colv"))
      .drop("rowv", "colv")
  }
}
