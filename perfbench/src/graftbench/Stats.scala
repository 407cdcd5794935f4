package graftbench

/** Order statistics used by every workload. Percentiles are nearest-rank:
  * the p-th percentile of n sorted samples is the sample at rank ceil(p·n/100). */
object Stats {

  def sorted(xs: Iterable[Double]): Array[Double] = { val a = xs.toArray; java.util.Arrays.sort(a); a }

  def pct(sortedXs: Array[Double], p: Double): Double =
    if (sortedXs.isEmpty) 0.0
    else sortedXs(math.min(sortedXs.length, math.max(1, rank(p, sortedXs.length).toInt)) - 1)

  /** Nearest rank of the p-th percentile among n samples (1-based); the
    * epsilon keeps 99.9 % of 10000 at 9990 despite binary rounding. */
  def rank(p: Double, n: Long): Long = math.ceil(p / 100.0 * n - 1e-9).toLong

  /** Nearest-rank percentile of values that each occur `count` times. */
  def weightedPct(xs: Seq[(Double, Long)], p: Double): Double = {
    val s     = xs.sortBy(_._1)
    val total = s.map(_._2).sum
    val r     = math.max(1L, rank(p, total))
    var seen  = 0L
    s.find { case (_, c) => seen += c; seen >= r }.map(_._1).getOrElse(0.0)
  }

  def median(xs: Iterable[Double]): Double = {
    val s = sorted(xs)
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Candidate tail percentiles, highest first. */
  val TailCandidates: Seq[Double] = Seq(99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest candidate percentile that leaves at least ten samples
    * strictly above its rank; None when even the median does not. */
  def tailPercentile(n: Int): Option[Double] = TailCandidates.find(p => n - rank(p, n) >= 10)

  /** Total length covered by half-open intervals [lo, hi), each clipped to
    * [from, to) — overlapping intervals count once. */
  def unionLength(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curLo = Long.MinValue
    var curHi = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curHi) { if (curHi > curLo) total += curHi - curLo; curLo = a; curHi = b }
      else if (b > curHi) curHi = b
    }
    if (curHi > curLo) total += curHi - curLo
    total
  }
}

/** Latency samples in nanoseconds, pre-sized for one thread's open loop. */
final class Samples(capacity: Int) {
  private var a = new Array[Long](math.max(16, capacity))
  private var n = 0
  def add(v: Long): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = v; n += 1
  }
  def size: Int = n
  def values: Array[Long] = java.util.Arrays.copyOf(a, n)
}

object Samples {
  /** Sorted values of several sample sets, converted to `scale` units per ns. */
  def pooled(parts: Seq[Samples], nsPerUnit: Double): Array[Double] = {
    val all = parts.flatMap(_.values.iterator.map(_ / nsPerUnit)).toArray
    java.util.Arrays.sort(all)
    all
  }
}
