package graft.api.perfbench

import java.util.Locale

/** The benchmark's own arithmetic: percentiles, the tail rule, span self
  * time and the compact result line. Pure
  * functions, so the spec can check each one without a Spark session.
  */
object Stats {

  /** Nearest-rank percentile of an ascending array (p in (0, 100]). */
  def percentile(sorted: Array[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of no samples")
    val rank = math.ceil(p / 100.0 * sorted.length).toInt
    sorted(math.min(sorted.length - 1, math.max(0, rank - 1)))
  }

  /** Candidate tail percentiles, highest first. */
  val Ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 50.0)

  /** Samples ranked strictly above percentile `p` of `n` samples. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p / 100.0 * n).toInt

  /** The tail percentile: the highest ladder value not above `cap` that
    * leaves at least ten samples beyond it. `cap` is fixed per workload so
    * the reported percentile repeats from run to run; None when even the
    * median has fewer than ten samples beyond it.
    */
  def tailPercentile(n: Int, cap: Double): Option[Double] =
    Ladder.filter(_ <= cap).find(p => beyond(n, p) >= 10)

  final case class Summary(n: Int, p50: Double, tailP: Double, tail: Double)

  /** Median and tail of a latency sample; None without enough samples. */
  def summarize(samples: Iterable[Double], cap: Double): Option[Summary] = {
    val a = samples.toArray.sorted
    tailPercentile(a.length, cap).map(tp =>
      Summary(a.length, percentile(a, 50), tp, percentile(a, tp)))
  }

  def median(samples: Iterable[Double]): Double =
    if (samples.isEmpty) 0.0 else percentile(samples.toArray.sorted, 50)

  def mean(samples: Iterable[Double]): Double =
    if (samples.isEmpty) 0.0 else samples.sum / samples.size

  /** Length of the union of `[s, e)` intervals, clipped to `[lo, hi)`. */
  def coveredLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part its children cover. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - coveredLength(children, start, end)

  /** Locale-independent JSON number. Integral values print without a
    * fraction; others keep every digit `Double.toString` gives. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
  }

  /** Locale-independent JSON number with at most `sig` significant digits
    * (per-layer values, which keep the result line under its size cap). */
  def numSig(v: Double, sig: Int): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) num(v)
    else num(new java.math.BigDecimal(v)
      .round(new java.math.MathContext(sig)).doubleValue)

  def jsonStr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt)))
      case c => b.append(c)
    }
    b.append('"').result()
  }

  final case class Metric(name: String, value: Double, unit: String)

  /** The final stdout line a benchmark runner parses. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[Metric], sigDigits: Option[Int]): String = {
    val ms = metrics.map { m =>
      val v = sigDigits.fold(num(m.value))(numSig(m.value, _))
      s"${jsonStr(m.name)}:{\"value\":$v,\"unit\":${jsonStr(m.unit)}}"
    }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}}}"""
  }

  /** Size cap of the final line: runners keep a 2,000-char stdout tail. */
  val LineCap = 1900
}
