package graftbench

/** The harness's own arithmetic, kept free of Spark so the self-tests can
  * pin it down exactly. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile `p` (0 < p < 100) of `xs`, reported only when
    * at least `minBeyond` samples lie strictly above the rank it picks.
    * Otherwise None: a tail figure resting on a handful of samples is a
    * max in disguise, and the harness omits it rather than substitute one. */
  def percentile(xs: Seq[Double], p: Double, minBeyond: Int = 10): Option[Double] = {
    require(p > 0 && p < 100, s"percentile out of range: $p")
    if (xs.isEmpty) None
    else {
      val s = xs.sorted
      val rank = math.ceil(p / 100.0 * s.size).toInt.max(1) // 1-based
      if (s.size - rank >= minBeyond) Some(s(rank - 1)) else None
    }
  }

  /** Total length of the union of half-open intervals [start, end):
    * overlapping intervals (the Runner's threads running nodes at the
    * same time) count once. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    val sorted = intervals.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    sorted.foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** A span's self time: its length minus the union of its children's
    * intervals, each child clipped to the parent. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (a, b) => (a max start, b min end) }
    (end - start) - unionLength(clipped)
  }

  /** Thread-seconds the Runner's pool held but spent on no node. */
  def idleThreadSeconds(threads: Int, runSeconds: Double, nodeSecondsSum: Double): Double =
    threads * runSeconds - nodeSecondsSum

  /** Failed or wrong-output operations over operations attempted. */
  def failRatio(outcomes: Seq[Outcome]): Double =
    if (outcomes.isEmpty) 0.0
    else outcomes.count(_ != Outcome.Ok).toDouble / outcomes.size

  sealed trait Outcome
  object Outcome {
    case object Ok extends Outcome
    /** The operation threw or reported a failure. */
    case object Failed extends Outcome
    /** The operation finished but its output check did not pass. */
    case object Wrong extends Outcome
  }
}
