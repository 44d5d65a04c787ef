package perfbench

import scala.collection.mutable

/** One correctness check's outcome. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A reported number with its unit and sample count. */
final case class Metric(value: Double, unit: String, n: Int)

/** Sample statistics with the percentile rule printed beside every
  * timing: a p-th percentile is reported only when at least 10 samples
  * lie beyond it (p90 needs >= 100 samples).
  */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
  }

  /** Samples needed for percentile `p` (0 < p < 1) under the rule. */
  def samplesFor(p: Double): Int = math.ceil(10.0 / (1.0 - p) - 1e-9).toInt

  /** Nearest-rank percentile, or None when the rule is not met. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] =
    if (xs.size < samplesFor(p)) None
    else {
      val s = xs.sorted
      Some(s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1)))
    }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** What a workload hands back to [[Main]]. */
final class Outcome {
  var attempted = 0
  var failed = 0
  val checks = mutable.ArrayBuffer[Check]()
  /** End-to-end metrics under the benchmark's generic names. */
  val metrics = mutable.LinkedHashMap[String, Metric]()
  /** The workload's own named end-to-end metrics (printed, not gated). */
  val named = mutable.LinkedHashMap[String, Metric]()
  /** Extra per-layer numbers a workload measures itself (probes). */
  val layer = mutable.LinkedHashMap[String, Double]()
  /** Raw timing samples, printed with their distribution. */
  val samples = mutable.LinkedHashMap[String, Seq[Double]]()

  def check(c: Check): Unit = checks += c
  def check(name: String, ok: Boolean, detail: String): Unit = checks += Check(name, ok, detail)

  /** Count one operation; returns whether it succeeded. */
  def attempt(ok: Boolean): Boolean = { attempted += 1; if (!ok) failed += 1; ok }
}

/** Filesystem helpers for the benchmark's own working directory. */
object Files {
  def sizeOf(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(c => sizeOf(c.getPath)).sum
  }

  def rm(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(c => rm(c.getPath))
    f.delete()
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs one phase of a workload and logs its wall time to stderr
    * (`jvm.log` of a kept run), to see where a run's time goes.
    */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally System.err.println(f"[perfbench] phase $name%-12s ${secs(t0)}%7.2f s")
  }
}
