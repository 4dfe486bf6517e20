package graftbench

import java.io.File

/** Order statistics and the small JSON writer the result file needs. */
object Stats {

  /** Linear-interpolated quantile (q in [0, 1]); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Harrell-Davis estimate of the q-quantile (q in (0, 1)), for the
   * latency percentiles; NaN when empty. It is a weighted mean of all
   * order statistics, the i-th weighted by the mass a
   * Beta((n + 1) q, (n + 1) (1 - q)) density puts on [i / n, (i + 1) / n),
   * so it moves smoothly when neighbouring samples swap places, where
   * the sample quantile jumps from one to the other: the 23 catalog
   * queries' median sits between queries whose warm times differ by a
   * third. */
  def hdQuantile(xs: Seq[Double], q: Double): Double =
    if (xs.size <= 1) xs.headOption.getOrElse(Double.NaN)
    else {
      val s = xs.sorted
      val n = s.size
      val (a, b) = ((n + 1) * q, (n + 1) * (1 - q))
      // midpoint rule on a fine grid; normalising by the total mass makes
      // the Beta function unnecessary
      val steps = 1 << 14
      val mass = new Array[Double](n)
      (0 until steps).foreach { k =>
        val t = (k + 0.5) / steps
        mass((t * n).toInt) += math.exp((a - 1) * math.log(t) + (b - 1) * math.log1p(-t))
      }
      val total = mass.sum
      (0 until n).map(i => s(i) * mass(i) / total).sum
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Median, or 0 when there are no samples (a layer that did not run). */
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  def secondsSince(t0Ns: Long): Double = (System.nanoTime() - t0Ns) / 1e9

  def duBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).getOrElse(Array.empty[File]).map(duBytes).sum

  /** Heap in use after a full collection, in MiB: the least of three
   * collections 200 ms apart, so memory that Spark's context cleaner is
   * still releasing after the first one is not counted as live. */
  def liveHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      val used = mx.getHeapMemoryUsage.getUsed
      Thread.sleep(200L)
      used / (1024.0 * 1024.0)
    }.min
  }

  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => jsonString(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else java.math.BigDecimal.valueOf(d).toPlainString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => jsonString(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => jsonString(other.toString)
  }
}
