package perfbench

/** Pure helpers shared by the run and its unit tests. */
object Stats {

  /** Percentiles the tail rule may report, lowest first. */
  val TailCandidates: Seq[Double] = Seq(50.0, 90.0, 99.0, 99.9, 99.99)

  /** Nearest-rank percentile of an ascending-sorted sample. */
  def nearestRank(sorted: IndexedSeq[Double], p: Double): Double =
    sorted(math.max(1, math.ceil(p / 100.0 * sorted.size).toInt) - 1)

  /** The tail rule: the highest candidate percentile whose nearest rank
    * leaves at least `beyond` samples above it, with its value. None when
    * the sample is too small for any candidate. */
  def tail(samples: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val s = samples.sorted.toIndexedSeq
    TailCandidates.reverse.find { p =>
      s.nonEmpty && s.size - math.ceil(p / 100.0 * s.size).toInt >= beyond
    }.map(p => (p, nearestRank(s, p)))
  }

  def median(samples: Seq[Double]): Double = {
    val s = samples.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Total length of the union of half-open intervals [start, end). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** A span's self time: its duration minus the part of its interval
    * that the union of its children covers (children may overlap, as
    * concurrent stages do, and may spill past the parent's edges). */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(children.map { case (a, b) =>
      (math.max(a, start), math.min(b, end))
    })
}
