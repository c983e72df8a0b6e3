package graft.eval

/** Pareto-front machinery (SURVEY.md §2.11 E23): exact 3D hypervolume
  * (minimization convention) and the fold-stability summary the
  * walk-forward stage-4 consumes (reference: eval/walk_forward.py:714-903
  * via moocore; the per-fold hypervolume is exact here, the Vorob'ev
  * threshold machinery is summarized by the mean/std/CV of fold
  * hypervolumes — the scalar the pipeline actually gates on).
  */
object Pareto {

  /** Exact hypervolume of `points` (minimization) w.r.t. reference point
    * `ref`: volume of the union of boxes [p, ref]. Points not dominating
    * `ref` contribute nothing. Supports d=2 and d=3.
    */
  def hypervolume(points: Array[Array[Double]], ref: Array[Double]): Double = {
    val dom = points.filter(p => p.indices.forall(j => p(j) < ref(j)))
    if (dom.isEmpty) return 0.0
    ref.length match {
      case 2 => hv2(dom, ref)
      case 3 =>
        // sweep over z: between consecutive z levels the xy-slice is the
        // 2D hypervolume of all points with z <= level
        val zs = (dom.map(_(2)) :+ ref(2)).distinct.sorted
        var total = 0.0
        var i = 0
        while (i < zs.length - 1) {
          val zLo = zs(i); val zHi = zs(i + 1)
          val slice = dom.filter(_(2) <= zLo).map(p => Array(p(0), p(1)))
          total += hv2(slice, Array(ref(0), ref(1))) * (zHi - zLo)
          i += 1
        }
        total
      case d => throw new IllegalArgumentException(s"hypervolume: unsupported dim $d")
    }
  }

  /** 2D hypervolume (minimization): staircase area of the union of
    * rectangles [p, ref]. */
  private def hv2(points: Array[Array[Double]], ref: Array[Double]): Double = {
    if (points.isEmpty) return 0.0
    val sorted = points.sortBy(p => (p(0), p(1)))
    var area = 0.0
    var bestY = ref(1)
    sorted.foreach { p =>
      if (p(1) < bestY) {
        area += (ref(0) - p(0)) * (bestY - p(1))
        bestY = p(1)
      }
    }
    area
  }

  /** Pareto filter (minimization): keep non-dominated points. */
  def paretoFront(points: Array[Array[Double]]): Array[Array[Double]] =
    points.filter { p =>
      !points.exists(q => (q ne p) &&
        q.indices.forall(j => q(j) <= p(j)) && q.indices.exists(j => q(j) < p(j)))
    }

  // -------------------------------------------------------------------------
  // E23 — Vorob'ev expectation / deviation proper (reference:
  // eval/walk_forward.py:714-903 via moocore.vorob_t / vorob_dev;
  // Binois et al. 2015). Minimization convention throughout (negate
  // benefit columns first, as the reference does).
  //
  // The attained set of fold s is the region dominated by its points;
  // the β-attainment set Q_β = { z : ≥β folds attain z }. The Vorob'ev
  // expectation is Q_β* where β* makes hv(Q_β*) match the mean fold
  // hypervolume; the deviation is the mean hypervolume of the symmetric
  // difference Q_β* Δ A_s.
  //
  // EAF surfaces are computed on the coordinate grid spanned by the fold
  // points (the EAF's surface vertices lie on that grid) — O(n^d) cells
  // with O(n) attainment checks each, exact and fine for fold fronts
  // (≤ ~10² points); this is a driver-side eval procedure, matching the
  // reference's own single-process moocore usage.

  /** Per-grid-corner attainment COUNTS over the coordinate grid spanned by
    * the folds' nondominated points — the shared EAF structure behind
    * [[attainmentSurface]] and [[vorobT]].
    *
    * Each fold's points are Pareto-prefiltered (an exact identity:
    * attainment depends only on nondominated points), each fold's
    * attainment indicator is seeded at its points' grid corners and closed
    * upward by a prefix-OR DP along each axis (attainment regions are
    * upward-closed), and counts are the sum of indicators. O(K * cells * d)
    * with no per-cell point scans and no tuple materialization — the
    * previous form enumerated every grid tuple and Pareto-filtered the
    * attained set quadratically, which OOM'd / spun for minutes at a
    * 64-candidate x 8-fold input.
    */
  private final case class Eaf(axes: Array[Array[Double]], counts: Array[Int],
      strides: Array[Int], nCells: Int)

  private def eafCounts(folds: Array[Array[Array[Double]]]): Eaf = {
    val nd = folds.map(paretoFront)
    val d = folds.head.head.length
    val axes = Array.tabulate(d)(j => nd.flatten.map(_(j)).distinct.sorted)
    val dims = axes.map(_.length)
    val nCells = dims.product
    val strides = new Array[Int](d)
    strides(d - 1) = 1
    var j = d - 2
    while (j >= 0) { strides(j) = strides(j + 1) * dims(j + 1); j -= 1 }
    val counts = new Array[Int](nCells)
    val att = new Array[Boolean](nCells)
    nd.foreach { fold =>
      java.util.Arrays.fill(att, false)
      // seed: point p attains exactly the corner at its own coordinates
      fold.foreach { p =>
        var c = 0
        var jj = 0
        while (jj < d) {
          c += strides(jj) * java.util.Arrays.binarySearch(axes(jj), p(jj))
          jj += 1
        }
        att(c) = true
      }
      // upward closure: prefix-OR along each axis in turn
      var jj = 0
      while (jj < d) {
        val stride = strides(jj)
        var c = 0
        while (c < nCells) {
          if (!att(c) && (c / stride) % dims(jj) > 0 && att(c - stride))
            att(c) = true
          c += 1
        }
        jj += 1
      }
      var c = 0
      while (c < nCells) { if (att(c)) counts(c) += 1; c += 1 }
    }
    Eaf(axes, counts, strides, nCells)
  }

  /** Minimal points of the level-k attainment set. A grid corner is
    * minimal iff attained by >= k folds and no single-step-down neighbor
    * is (the region is upward-closed, so grid-local minimality IS Pareto
    * minimality). */
  def attainmentSurface(folds: Array[Array[Array[Double]]], k: Int): Array[Array[Double]] = {
    require(k >= 1 && k <= folds.length, s"level $k out of 1..${folds.length}")
    surfaceAt(eafCounts(folds), k)
  }

  private def surfaceAt(eaf: Eaf, k: Int): Array[Array[Double]] = {
    val d = eaf.axes.length
    val dims = eaf.axes.map(_.length)
    val out = Array.newBuilder[Array[Double]]
    var c = 0
    while (c < eaf.nCells) {
      if (eaf.counts(c) >= k) {
        var minimal = true
        var jj = 0
        while (minimal && jj < d) {
          val idx = (c / eaf.strides(jj)) % dims(jj)
          if (idx > 0 && eaf.counts(c - eaf.strides(jj)) >= k) minimal = false
          jj += 1
        }
        if (minimal)
          out += Array.tabulate(d)(jj =>
            eaf.axes(jj)((c / eaf.strides(jj)) % dims(jj)))
      }
      c += 1
    }
    out.result()
  }

  final case class VorobResult(threshold: Double, level: Int, avgHyp: Double,
      veHyp: Double, expectation: Array[Array[Double]])

  /** Vorob'ev threshold + expectation (moocore.vorob_t): mean fold
    * hypervolume, then the smallest attainment level whose surface
    * hypervolume drops to <= avg_hyp (hv is non-increasing in the level;
    * level 1 bounds it above, level K below, so the crossing exists).
    * threshold is that level as a percentile of K — the value moocore's
    * dichotomic percentile search converges to.
    *
    * One EAF pass yields every level's hypervolume: box decomposition of
    * the grid, clipped at `ref` — a box counts toward vol_k iff its lower
    * corner is attained by >= k folds, which is exactly hv(Q_k, ref)
    * because Q_k is upward-closed and constant within grid boxes. The
    * expectation surface is materialized once, at the crossing level. */
  def vorobT(folds: Array[Array[Array[Double]]], ref: Array[Double]): VorobResult = {
    val kMax = folds.length
    val avgHyp = folds.map(hypervolume(_, ref)).sum / kMax
    val eaf = eafCounts(folds)
    val d = eaf.axes.length
    val dims = eaf.axes.map(_.length)
    val vols = new Array[Double](kMax + 2) // vols(k) = hv(Q_k, ref) after suffix-sum
    var c = 0
    while (c < eaf.nCells) {
      val cnt = eaf.counts(c)
      if (cnt > 0) {
        var vol = 1.0
        var jj = 0
        while (vol > 0.0 && jj < d) {
          val idx = (c / eaf.strides(jj)) % dims(jj)
          val lo = eaf.axes(jj)(idx)
          val hi = if (idx + 1 < dims(jj)) math.min(eaf.axes(jj)(idx + 1), ref(jj))
            else ref(jj)
          vol *= math.max(0.0, hi - lo)
          jj += 1
        }
        if (vol > 0.0) vols(math.min(cnt, kMax)) += vol
      }
      c += 1
    }
    var k = kMax - 1
    while (k >= 1) { vols(k) += vols(k + 1); k -= 1 }
    k = 1
    while (vols(k) > avgHyp && k < kMax) k += 1
    VorobResult(100.0 * k / kMax, k, avgHyp, vols(k), surfaceAt(eaf, k))
  }

  /** Vorob'ev deviation (moocore.vorob_dev): mean over folds of
    * hv(VE Δ A_s) = 2·hv(VE ∪ A_s) − hv(VE) − hv(A_s); the union of two
    * attained regions is the region attained by the pooled point set. */
  def vorobDev(folds: Array[Array[Array[Double]]], expectation: Array[Array[Double]],
      ref: Array[Double]): Double = {
    val hvVe = hypervolume(expectation, ref)
    folds.map { f =>
      2.0 * hypervolume(expectation ++ f, ref) - hvVe - hypervolume(f, ref)
    }.sum / folds.length
  }

  final case class FoldStability(meanHv: Double, stdHv: Double, cvHv: Double,
      perFold: Array[Double])

  /** Per-fold hypervolume of the (negated-benefit) objective matrix and
    * its dispersion — the stability scalar of E23. `foldPoints(f)` =
    * objective vectors (minimization) achieved in fold f. */
  def foldStability(foldPoints: Array[Array[Array[Double]]],
      ref: Array[Double]): FoldStability = {
    val hvs = foldPoints.map(pts => hypervolume(pts, ref))
    val m = hvs.sum / hvs.length
    val sd = math.sqrt(hvs.map(h => (h - m) * (h - m)).sum / hvs.length)
    FoldStability(m, sd, if (m != 0) sd / m else Double.NaN, hvs)
  }
}
