package graftbench

/** Order statistics for timings. A tail percentile is only reported
  * when at least [[MinBeyond]] samples lie beyond it: a p90 of 20
  * batches is two samples, not a tail. */
object Stats {

  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` (0 < p < 1) with its sample count, or
    * None when fewer than [[MinBeyond]] samples lie above it. */
  def percentile(xs: Seq[Double], p: Double): Option[Pct] = {
    require(p > 0 && p < 1, s"percentile must be in (0, 1), got $p")
    val s = xs.sorted
    val n = s.length
    if (n == 0) None
    else {
      val rank = math.ceil(p * n).toInt.max(1) // 1-based
      val beyond = n - rank
      if (beyond < MinBeyond) None else Some(Pct(p, s(rank - 1), n, beyond))
    }
  }

  /** The highest of the usual tail percentiles the sample supports. */
  def highestTail(xs: Seq[Double]): Option[Pct] =
    Seq(0.99, 0.95, 0.9, 0.75, 0.5).iterator.map(percentile(xs, _))
      .collectFirst { case Some(t) => t }

  /** Median and the highest supported tail, with the sample count. */
  def summary(xs: Seq[Double]): Map[String, Any] =
    Map("samples" -> xs.length,
      "p50" -> (if (xs.isEmpty) None else Some(median(xs))),
      "tail" -> highestTail(xs).map(t => Map("p" -> t.p, "value" -> t.value, "beyond" -> t.beyond)))
}

/** A percentile value with the sample count it rests on. */
final case class Pct(p: Double, value: Double, samples: Int, beyond: Int)
