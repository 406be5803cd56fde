package kgbench

/** Order statistics the benchmark reports. Pure functions, unit-tested. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The highest whole percentile p that still leaves at least `beyond`
   *  samples strictly above its rank (nearest-rank definition: the value
   *  of rank ceil(p/100 * n)), and that value. With fewer than
   *  `beyond + 1` samples no such percentile exists and the result is
   *  None — the tail is not reported from too few samples. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] = {
    val n = xs.length
    def rank(p: Int) = math.max(1, math.ceil(p / 100.0 * n).toInt)
    (99 to 1 by -1).find(p => n - rank(p) >= beyond).map { p =>
      p -> xs.sorted.apply(rank(p) - 1)
    }
  }

  /** A span's self time: its duration minus the part of its interval
   *  that the union of its children's intervals covers (children may
   *  overlap each other and may stick out of the parent). */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    (end - start) - covered
  }
}
