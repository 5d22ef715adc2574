package perfbench

/** Independent reference for the correlate output, computed on the
  * driver from the generated matrices (never from the warehouse): for
  * every pair of whitelisted genes of a study, Spearman's rho over the
  * samples where both genes have a value (average ranks for ties), the
  * two-sided normal-approximation p-value, and Benjamini–Hochberg q
  * within the study.
  *
  * The p-value definition is the program's documented one (normal
  * approximation, Phi built from the Abramowitz & Stegun 7.1.26 erf),
  * written out here again from the formula.
  */
object Ref {

  /** @param p raw p-value; None when fewer than 3 shared samples */
  final case class Pair(n: Int, rho: Double, p: Option[Double], q: Option[Double])

  /** Keyed by (gene id, gene id) with the smaller id first. */
  def pairs(s: Study): Map[(String, String), Pair] = {
    val g = s.genes.size
    val complete = s.values.map(_.forall(!_.isNaN))
    val fullRanks = s.values.map(v => if (v.forall(!_.isNaN)) ranks(v) else null)
    val raw = scala.collection.mutable.ArrayBuffer.empty[((String, String), Int, Double)]
    for (i <- 0 until g; j <- i + 1 until g) {
      val (n, rho) =
        if (complete(i) && complete(j)) {
          val (a, b) = (s.values(i), s.values(j))
          if (constant(a) || constant(b)) (a.length, Double.NaN)
          else (a.length, pearson(fullRanks(i), fullRanks(j)))
        } else {
          val idx = s.values(i).indices.filter(k => !s.values(i)(k).isNaN && !s.values(j)(k).isNaN)
          val a = idx.map(s.values(i)).toArray
          val b = idx.map(s.values(j)).toArray
          if (a.length < 2 || constant(a) || constant(b)) (a.length, Double.NaN)
          else (a.length, pearson(ranks(a), ranks(b)))
        }
      if (n >= 2 && !rho.isNaN) {
        val key = if (s.genes(i) < s.genes(j)) (s.genes(i), s.genes(j)) else (s.genes(j), s.genes(i))
        raw += ((key, n, rho))
      }
    }
    val ps = raw.map { case (_, n, rho) => pValue(rho, n) }
    val qs = bh(ps.toIndexedSeq)
    raw.indices.map { k =>
      val (key, n, rho) = raw(k)
      key -> Pair(n, rho, ps(k), qs(k))
    }.toMap
  }

  private def constant(v: Array[Double]): Boolean = v.forall(_ == v(0))

  /** Fractional (average) ranks, 1-based. */
  def ranks(v: Array[Double]): Array[Double] = {
    val order = v.indices.sortBy(v(_)).toArray
    val out = new Array[Double](v.length)
    var i = 0
    while (i < order.length) {
      var j = i
      while (j + 1 < order.length && v(order(j + 1)) == v(order(i))) j += 1
      val r = (i + j) / 2.0 + 1.0
      (i to j).foreach(k => out(order(k)) = r)
      i = j + 1
    }
    out
  }

  def pearson(a: Array[Double], b: Array[Double]): Double = {
    val n = a.length
    val ma = a.sum / n
    val mb = b.sum / n
    var sab, saa, sbb = 0.0
    for (k <- 0 until n) {
      val da = a(k) - ma
      val db = b(k) - mb
      sab += da * db; saa += da * da; sbb += db * db
    }
    sab / math.sqrt(saa * sbb)
  }

  private def erf(x: Double): Double = {
    val t = 1.0 / (1.0 + 0.3275911 * math.abs(x))
    val y = 1.0 - t * (0.254829592 + t * (-0.284496736 + t * (1.421413741 +
      t * (-1.453152027 + t * 1.061405429)))) * math.exp(-x * x)
    if (x < 0) -y else y
  }

  def pValue(rho: Double, n: Int): Option[Double] =
    if (n < 3) None
    else if (math.abs(rho) >= 1.0) Some(0.0)
    else {
      val t = rho * math.sqrt((n - 2.0) / (1.0 - rho * rho))
      val phi = 0.5 * (1.0 + erf(math.abs(t) / math.sqrt(2.0)))
      Some(math.min(1.0, math.max(0.0, 2.0 * (1.0 - phi))))
    }

  /** BH step-up: q_(i) = min over j >= i of p_(j)·m/j, capped at 1. */
  def bh(ps: IndexedSeq[Option[Double]]): IndexedSeq[Option[Double]] = {
    val valid = ps.indices.filter(k => ps(k).exists(!_.isNaN)).sortBy(k => ps(k).get)
    val m = valid.size
    val q = Array.fill[Option[Double]](ps.size)(None)
    var run = Double.PositiveInfinity
    for (r <- valid.indices.reverse) {
      val k = valid(r)
      run = math.min(run, ps(k).get * m / (r + 1))
      q(k) = Some(math.min(run, 1.0))
    }
    q.toIndexedSeq
  }
}
