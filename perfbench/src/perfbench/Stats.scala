package perfbench

/** Order statistics used by every reported figure. */
object Stats {
  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. `p` in (0, 100]. */
  def percentile(xs: Array[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Per-record commit latency in ms.
    *
    * `log(i)` is the record delivered at handler position i (-1 unknown);
    * `batchEnds(b)` is the handler position after batch b returned and
    * `batchReturnNs(b)` the time `applyBatch` returned. A record's latency
    * runs from its due time to the return of the batch that delivered it.
    * Only records for which `dueNs` is defined (not NaN-marked by
    * `Long.MinValue`) are measured.
    */
  def commitLatencies(log: Int => Int, batchStarts: Array[Int],
      batchEnds: Array[Int], batchReturnNs: Array[Long],
      dueNs: Int => Long): Array[Double] = {
    val out = Array.newBuilder[Double]
    for (b <- batchEnds.indices; pos <- batchStarts(b) until batchEnds(b)) {
      val r = log(pos)
      if (r >= 0) {
        val due = dueNs(r)
        if (due != Long.MinValue) out += (batchReturnNs(b) - due) / 1e6
      }
    }
    out.result()
  }

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1) if e > s) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
