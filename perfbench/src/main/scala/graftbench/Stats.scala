package graftbench

/** The benchmark's own arithmetic: medians, percentiles under the
  * ten-samples-beyond rule, and the trickle's freshness mapping. Pure, so
  * `StatsSpec` pins it without a Spark session.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank `q`-quantile, reported only when at least `beyond` samples
    * lie strictly above its rank: p50 needs 20 samples, p90 needs 100. A
    * percentile read from fewer samples is one or two outliers, not a tail.
    */
  def percentile(xs: Seq[Double], q: Double, beyond: Int = 10): Option[Double] = {
    require(q > 0 && q < 1, s"quantile $q outside (0, 1)")
    val n = xs.size
    val rank = math.ceil(q * n).toInt // 1-based
    if (n == 0 || n - rank < beyond) None else Some(xs.sorted.apply(rank - 1))
  }

  /** The highest of `qs` that the sample supports under the same rule. */
  def tail(xs: Seq[Double], qs: Seq[Double] = Seq(0.99, 0.95, 0.9, 0.75, 0.5))
      : Option[(Double, Double)] =
    qs.sorted.reverse.iterator.flatMap(q => percentile(xs, q).map(q -> _)).nextOption()

  /** One committed micro-batch: wall-clock commit time and the largest
    * `ts_ms` the batch carried.
    */
  final case class Commit(atMs: Long, maxTsMs: Long)

  /** Freshness of each published file: time from its scheduled publish
    * instant to the commit of the first batch after which the store's
    * `ts_ms` high-water mark reaches the file's own high-water mark.
    *
    * `fileHwm` must increase strictly with the file index; the topic stager
    * cuts files on distinct timestamps so it does. Events delivered late or
    * redelivered carry an older `ts_ms` than the file they ride in, so they
    * never raise a file's mark. None = not visible by the last commit.
    */
  def freshness(scheduledMs: IndexedSeq[Long], fileHwm: IndexedSeq[Long],
      commits: Seq[Commit]): IndexedSeq[Option[Long]] = {
    require(scheduledMs.size == fileHwm.size, "one schedule entry per file")
    require(fileHwm.zip(fileHwm.drop(1)).forall { case (a, b) => a < b },
      "file high-water marks must increase strictly")
    val ordered = commits.sortBy(_.atMs)
    val cumHwm = ordered.scanLeft(Long.MinValue)((m, c) => math.max(m, c.maxTsMs)).tail
    fileHwm.indices.map { f =>
      val i = cumHwm.indexWhere(_ >= fileHwm(f))
      if (i < 0) None else Some(ordered(i).atMs - scheduledMs(f))
    }
  }

  /** Files published but not yet visible at each commit instant. */
  def backlog(publishedMs: IndexedSeq[Long], visibleMs: IndexedSeq[Option[Long]],
      at: Seq[Long]): Seq[Int] =
    at.map { t =>
      publishedMs.indices.count(f => publishedMs(f) <= t && visibleMs(f).forall(_ > t))
    }

  /** A backlog grows when the last third of the run holds more than twice
    * the first third's peak plus two files.
    */
  def backlogGrows(samples: Seq[Int]): Boolean =
    samples.size >= 3 && {
      val third = samples.size / 3
      samples.takeRight(third).max > 2 * samples.take(third).max + 2
    }
}
