package perfbench

import java.util.SplittableRandom

/** One straight beam track: point k sits at along-track distance
  * `s0 + Spacing·k` on the line `o + s·u`.
  */
final case class Beam(track: Int, granule: Int, ascending: Boolean,
                      ox: Double, oy: Double, ux: Double, uy: Double,
                      s0: Double, n: Int) {
  def sAt(k: Int): Double = s0 + Gen.Spacing * k
  def xAt(k: Int): Double = ox + sAt(k) * ux
  def yAt(k: Int): Double = oy + sAt(k) * uy
  def sLast: Double = sAt(n - 1)
}

/** Columnar point set: ATL06-like land-ice segments. Points of one
  * granule are contiguous, ordered by beam and then along-track.
  */
final class Points(val id: Array[Long], val granule: Array[Int],
                   val track: Array[Int], val seq: Array[Int],
                   val xAtc: Array[Double], val x: Array[Double],
                   val y: Array[Double], val z: Array[Double],
                   val tMs: Array[Long], val hLiSigma: Array[Double],
                   val hRobustSprd: Array[Double],
                   val snrSignificance: Array[Double]) {
  def size: Int = id.length

  /** The reference's qualitySummary test (ATL06_filters). */
  def passes(i: Int): Boolean =
    hRobustSprd(i) < 1.0 && hLiSigma(i) < 1.0 && snrSignificance(i) < 0.02

  def failing: Int = (0 until size).count(i => !passes(i))
}

/** One generated archive: granules of beam-pair tracks over a square
  * extent, their points, and the closed-form track geometry.
  */
final class Archive(val beams: IndexedSeq[Beam], val pts: Points,
                    val granuleStart: Array[Int]) {
  def granules: Int = granuleStart.length - 1
  def rangeOf(g: Int): Range = granuleStart(g) until granuleStart(g + 1)

  /** Axis-aligned envelope of granule `g`, as a half-open box that
    * holds every one of its points.
    */
  def footprint(g: Int): ((Double, Double), (Double, Double)) = {
    val r = rangeOf(g)
    val xs = r.map(pts.x); val ys = r.map(pts.y)
    ((xs.min, Math.nextUp(xs.max)), (ys.min, Math.nextUp(ys.max)))
  }
}

/** A crossing of two tracks, from the line equations. */
final case class Crossing(trackA: Int, trackB: Int, x: Double, y: Double)

/** Seeded generator of ATL06-like granules.
  *
  * Each granule is one ground-track pass of `pairs` beam pairs: two
  * beams 90 m apart, pairs 3.3 km apart, 20 m along-track spacing.
  * Even granules ascend, odd granules descend, so every ascending
  * beam crosses every descending beam whose segment it meets, at a
  * point known in closed form ([[Gen.crossings]]). Beams of one
  * direction are parallel and never cross. Elevation is a smooth
  * surface plus noise; `failShare` of the points fail exactly one of
  * the three qualitySummary thresholds.
  */
object Gen {
  val Spacing = 20.0
  val BeamSep = 90.0
  val PairSep = 3300.0
  val Heading = Math.toRadians(62.0)

  def archive(seed: Long, granules: Int, pairs: Int, extent: Double,
              failShare: Double, idBase: Long = 0L,
              granuleBase: Int = 0): Archive = {
    val rnd = new SplittableRandom(seed)
    val beams = IndexedSeq.newBuilder[Beam]
    var track = granuleBase * pairs * 2
    for (g <- 0 until granules) {
      val gg = granuleBase + g
      val asc = gg % 2 == 0
      val (ux, uy) =
        if (asc) (Math.cos(Heading), Math.sin(Heading))
        else (Math.cos(Heading), -Math.sin(Heading))
      val (nx, ny) = (-uy, ux)
      // ground tracks pass within a fifth of the extent of its centre,
      // offset across track, so every granule's chord is about as long
      val across = extent * 0.2 * (2.0 * rnd.nextDouble() - 1.0)
      val cx = extent / 2 + across * nx
      val cy = extent / 2 + across * ny
      for (p <- 0 until pairs; b <- 0 until 2) {
        val off = (p - (pairs - 1) / 2.0) * PairSep + (b - 0.5) * BeamSep
        val ox = cx + off * nx; val oy = cy + off * ny
        val (lo, hi) = clip(ox, oy, ux, uy, extent)
        val s0 = Math.ceil(lo / Spacing) * Spacing
        val n = Math.max(0, Math.ceil((hi - s0) / Spacing).toInt)
        if (n >= 2) beams += Beam(track, gg, asc, ox, oy, ux, uy, s0, n)
        track += 1
      }
    }
    val bs = beams.result()
    val total = bs.map(_.n).sum
    val id = new Array[Long](total); val gr = new Array[Int](total)
    val tr = new Array[Int](total); val sq = new Array[Int](total)
    val xa = new Array[Double](total); val x = new Array[Double](total)
    val y = new Array[Double](total); val z = new Array[Double](total)
    val t = new Array[Long](total); val sig = new Array[Double](total)
    val spr = new Array[Double](total); val snr = new Array[Double](total)
    val starts = Array.fill(granules + 1)(total)
    var i = 0
    for (b <- bs) {
      val g = b.granule - granuleBase
      if (starts(g) > i) starts(g) = i
      val t0 = 1_600_000_000_000L + b.granule * 86_400_000L
      for (k <- 0 until b.n) {
        id(i) = idBase + i; gr(i) = b.granule; tr(i) = b.track; sq(i) = k
        xa(i) = b.sAt(k) + 1.0e6
        x(i) = b.xAt(k); y(i) = b.yAt(k)
        z(i) = surface(x(i), y(i)) + 0.3 * rnd.nextGaussian()
        // ~7 km/s ground speed: 20 m is about 3 ms
        t(i) = t0 + Math.round(b.sAt(k) / 7.0) + 1_000_000L
        if (rnd.nextDouble() < failShare) {
          sig(i) = 0.1 + 0.8 * rnd.nextDouble()
          spr(i) = 0.1 + 0.8 * rnd.nextDouble()
          snr(i) = 0.019 * rnd.nextDouble()
          rnd.nextInt(3) match {
            case 0 => sig(i) = 1.0 + 2.0 * rnd.nextDouble()
            case 1 => spr(i) = 1.0 + 2.0 * rnd.nextDouble()
            case _ => snr(i) = 0.02 + 0.08 * rnd.nextDouble()
          }
        } else {
          sig(i) = 0.1 + 0.8 * rnd.nextDouble()
          spr(i) = 0.1 + 0.8 * rnd.nextDouble()
          snr(i) = 0.019 * rnd.nextDouble()
        }
        i += 1
      }
    }
    // granules whose beams all missed the extent start where the next one does
    for (g <- granules - 1 to 0 by -1) starts(g) = Math.min(starts(g), starts(g + 1))
    new Archive(bs, new Points(id, gr, tr, sq, xa, x, y, z, t, sig, spr, snr), starts)
  }

  def surface(x: Double, y: Double): Double =
    100.0 + 40.0 * Math.sin(x / 7000.0) * Math.cos(y / 9000.0) + 0.001 * x

  /** The along-track interval [lo, hi) where `o + s·u` lies in the
    * square [0, extent)².
    */
  private def clip(ox: Double, oy: Double, ux: Double, uy: Double,
                   extent: Double): (Double, Double) = {
    def slab(o: Double, u: Double): (Double, Double) = {
      val a = (0.0 - o) / u; val b = (extent - o) / u
      (Math.min(a, b), Math.max(a, b))
    }
    val (ax, bx) = slab(ox, ux); val (ay, by) = slab(oy, uy)
    // stay a metre inside so no point rounds onto the far edge
    (Math.max(ax, ay) + 1.0, Math.min(bx, by) - 1.0)
  }

  /** Every crossing between sampled beam segments, solved from the
    * line equations: a crossing counts when it falls inside both
    * beams' first-to-last-point spans.
    */
  def crossings(beams: Seq[Beam]): Seq[Crossing] = {
    val out = Seq.newBuilder[Crossing]
    for (a <- beams; b <- beams if a.track < b.track && a.ascending != b.ascending) {
      val det = a.ux * (-b.uy) - a.uy * (-b.ux)
      val ex = b.ox - a.ox; val ey = b.oy - a.oy
      val s = (ex * (-b.uy) - ey * (-b.ux)) / det
      val r = (a.ux * ey - a.uy * ex) / det
      if (s >= a.s0 && s < a.sLast && r >= b.s0 && r < b.sLast)
        out += Crossing(a.track, b.track, a.ox + s * a.ux, a.oy + s * a.uy)
    }
    out.result()
  }
}
