package perfbench

/** Order statistics and interval arithmetic the benchmark reports with. */
object Stats {

  /** Linear-interpolated quantile `q` in [0, 1] of `xs` (the "type 7"
    * rule numpy and R use by default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest whole percentile, capped at `cap`, that leaves at least
    * `beyond` samples above it in a sample of `n`. A tail percentile with
    * fewer samples past it is one slow outlier, not a tail. Returns 50 as
    * a floor: with fewer than 2 × `beyond` samples there is no tail to
    * report, only the median. */
  def tailPercentile(n: Int, beyond: Int = 10, cap: Int = 90): Int = {
    val p = (cap to 50 by -1).find(p => n - math.ceil(n * p / 100.0) >= beyond)
    p.getOrElse(50)
  }

  /** Half-open time interval [start, end). */
  final case class Iv(start: Double, end: Double) {
    def length: Double = math.max(0.0, end - start)
    def clip(o: Iv): Iv = Iv(math.max(start, o.start), math.min(end, o.end))
  }

  /** Merge overlapping intervals; the result is sorted and disjoint. */
  def union(ivs: Seq[Iv]): Seq[Iv] =
    ivs.filter(_.length > 0).sortBy(_.start).foldLeft(List.empty[Iv]) {
      case (last :: rest, iv) if iv.start <= last.end =>
        Iv(last.start, math.max(last.end, iv.end)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  def covered(ivs: Seq[Iv]): Double = union(ivs).map(_.length).sum

  /** Length of `a` not covered by any interval of `b`. */
  def minus(a: Seq[Iv], b: Seq[Iv]): Seq[Iv] = {
    val cut = union(b)
    union(a).flatMap { iv =>
      val holes = cut.map(_.clip(iv)).filter(_.length > 0)
      val edges = (iv.start +: holes.flatMap(h => Seq(h.start, h.end))) :+ iv.end
      edges.grouped(2).collect { case Seq(s, e) if e > s => Iv(s, e) }.toSeq
    }
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover. Children may overlap each other or reach outside the
    * span; only their union inside the span counts. */
  def selfTime(span: Iv, children: Seq[Iv]): Double =
    span.length - covered(children.map(_.clip(span)))
}
