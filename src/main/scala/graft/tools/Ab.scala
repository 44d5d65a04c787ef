package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One-JVM alternating A/B of two registry entries — the evidence form
  * for a speed claim on this engine (single-shot timings swing ±40% on
  * the trainer paths; cross-JVM totals drift ±10%).
  *
  * A side is a registry entry name. Usage:
  * `runMain graft.tools.Ab <sfDir> <entryA> <entryB> [pairs]`, e.g. a
  * gate against its production twin:
  * `Ab <sf> q153_prefix_jaccard b153_prefix_fast`
  *
  * Each side runs once untimed (JIT, file listing); then `pairs`
  * (default 10) timed pairs alternate which side runs first. A sample is
  * constructor + noop write from a cleared cache. Side A is the
  * baseline: its quartile spread is the noise a gap must clear.
  */
object Ab {
  final case class Quartiles(q1: Double, median: Double, q3: Double) {
    def spread: Double = q3 - q1
  }

  /** Python's `statistics.quantiles(xs, n=4)` (its default exclusive
    * method, the one perfbench/spread.py reports): position i·(n+1)/4,
    * linearly interpolated between the two nearest samples (the end
    * pairs extrapolate past them). The middle cut is the median.
    */
  def quartiles(xs: Seq[Double]): Quartiles = {
    require(xs.size >= 2, "quartiles need at least two samples")
    val d = xs.sorted.toIndexedSeq
    val m = d.size + 1
    def cut(i: Int): Double = {
      val j = math.min(math.max(i * m / 4, 1), d.size - 1)
      val delta = i * m - j * 4
      (d(j - 1) * (4 - delta) + d(j) * delta) / 4
    }
    Quartiles(cut(1), cut(2), cut(3))
  }

  final case class Result(a: Quartiles, b: Quartiles, winsA: Int, winsB: Int,
      ties: Int, verdict: String)

  /** The paired comparison of A's (baseline) and B's times (pair i =
    * a(i), b(i)): the lower time wins a pair, equal times count for
    * neither side. B is faster only if it wins at least 9/10 of all pairs
    * AND its median is lower than A's by more than A's q3 − q1.
    */
  def compare(a: Seq[Double], b: Seq[Double]): Result = {
    require(a.size == b.size, s"unpaired samples: ${a.size} vs ${b.size}")
    val pairs = a.zip(b)
    val winsA = pairs.count { case (x, y) => x < y }
    val winsB = pairs.count { case (x, y) => y < x }
    val (qa, qb) = (quartiles(a), quartiles(b))
    val gap = qa.median - qb.median
    val verdict =
      if (winsB * 10 >= pairs.size * 9 && gap > qa.spread) "B faster"
      else "no gain shown"
    Result(qa, qb, winsA, winsB, pairs.size - winsA - winsB, verdict)
  }

  /** Seconds for one sample of `build`. */
  private def timeOnce(spark: SparkSession,
      build: (SparkSession, String) => DataFrame, sfDir: String): Double = {
    try {
      val t0 = System.nanoTime()
      build(spark, sfDir).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    } finally spark.catalog.clearCache()
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Ab <sfDir> <entryA> <entryB> [pairs]")
    val sfDir = args(0)
    val sides = Seq(args(1), args(2))
    val pairs = args.lift(3).map(_.toInt).getOrElse(10)
    require(pairs >= 2, "need at least two pairs")
    val builds = sides.map { s =>
      graft.SparkEntry.entries.find(_.name == s)
        .getOrElse(sys.error(s"unknown registry entry $s")).build
    }
    val spark = graft.util.LocalSession()
    spark.sparkContext.setLogLevel("WARN")
    builds.foreach(timeOnce(spark, _, sfDir))
    val times = Seq(ArrayBuffer[Double](), ArrayBuffer[Double]())
    for (p <- 0 until pairs; i <- if (p % 2 == 0) Seq(0, 1) else Seq(1, 0))
      times(i) += timeOnce(spark, builds(i), sfDir)
    val r = compare(times(0).toSeq, times(1).toSeq)
    Seq(("A", sides(0), r.a, r.winsA), ("B", sides(1), r.b, r.winsB)).foreach {
      case (label, side, q, wins) =>
        println(f"[ab] $label $side%s: median=${q.median}%.3f s " +
          f"q1=${q.q1}%.3f q3=${q.q3}%.3f wins=$wins/$pairs")
    }
    println(f"[ab] ties=${r.ties} median gap=${r.a.median - r.b.median}%.3f s " +
      f"A q3-q1=${r.a.spread}%.3f s verdict: ${r.verdict}")
    spark.stop()
  }
}
