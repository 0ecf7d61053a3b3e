package perfbench

import scala.collection.mutable

/** What one run measured: operation latencies, batch wall times, named
  * samples, and the failed operations with the reason each failed. */
final class Meter {
  var attempted = 0
  val failures = mutable.ArrayBuffer.empty[String]
  val op = mutable.ArrayBuffer.empty[Double]
  val batch = mutable.ArrayBuffer.empty[Double]
  val named = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def add(name: String, v: Double): Unit =
    named.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v

  def fail(what: String): Unit = failures += what

  def failed: Int = failures.size
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; NaN for no samples. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.toVector.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** Seconds since `t0` (a System.nanoTime reading). */
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, since(t0))
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
