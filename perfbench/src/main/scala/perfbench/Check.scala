package perfbench

/** Plain-Scala references for every operation the benchmark times.
  * None of this touches graft or Spark: the answers come from the
  * generator's driver-side arrays and track equations.
  */
object Check {

  /** Order-independent digest of a row set: count plus a sum of mixed
    * (id, z) hashes, so a dropped row or a perturbed z both show.
    */
  final case class Digest(n: Long, sum: Long) {
    def +(id: Long, z: Double): Digest =
      Digest(n + 1, sum + mix(id * 0x9E3779B97F4A7C15L ^ java.lang.Double.doubleToLongBits(z)))
  }
  object Digest { val empty: Digest = Digest(0L, 0L) }

  def mix(v: Long): Long = {
    var h = v
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  def digest(rows: Iterator[(Long, Double)]): Digest =
    rows.foldLeft(Digest.empty) { case (d, (id, z)) => d + (id, z) }

  type Box = ((Double, Double), (Double, Double))

  /** Box answer over a live-point model: digest plus z range. */
  final case class BoxAnswer(d: Digest, zMin: Double, zMax: Double)

  /** The live points of a layout: every point ever committed, minus
    * the ones culled.
    */
  final class LiveModel {
    private val parts = scala.collection.mutable.ArrayBuffer.empty[(Points, Range)]
    private val dead = scala.collection.mutable.HashSet.empty[Long]

    def add(p: Points, r: Range): Unit = parts += ((p, r))
    def kill(id: Long): Unit = dead += id
    def live: Long = parts.map(_._2.size.toLong).sum - dead.size

    def box(b: Box): BoxAnswer = {
      val ((x0, x1), (y0, y1)) = b
      var d = Digest.empty; var lo = Double.PositiveInfinity; var hi = Double.NegativeInfinity
      for ((p, r) <- parts; i <- r) {
        val x = p.x(i); val y = p.y(i)
        if (x >= x0 && x < x1 && y >= y0 && y < y1 && !dead(p.id(i))) {
          d = d + (p.id(i), p.z(i))
          if (p.z(i) < lo) lo = p.z(i)
          if (p.z(i) > hi) hi = p.z(i)
        }
      }
      BoxAnswer(d, lo, hi)
    }
  }

  // --- track products -------------------------------------------------

  /** A crossover row as graft returns it. */
  final case class Xover(trackA: Long, trackB: Long, x: Double, y: Double, dh: Double)

  /** Crossings expected between the given beams, with dh interpolated
    * from the stored points exactly as the product defines it.
    */
  def expectedXovers(beams: Seq[Beam], pts: Points,
                     firstIdx: Map[Int, Int]): Seq[Xover] =
    Gen.crossings(beams).map { c =>
      val a = beams.find(_.track == c.trackA).get
      val b = beams.find(_.track == c.trackB).get
      def zAt(bm: Beam, x: Double, y: Double): Double = {
        val s = (x - bm.ox) * bm.ux + (y - bm.oy) * bm.uy
        val k = Math.min(bm.n - 2, Math.floor((s - bm.s0) / Gen.Spacing).toInt)
        val i = firstIdx(bm.track) + k
        val w = (s - bm.sAt(k)) / Gen.Spacing
        pts.z(i) + w * (pts.z(i + 1) - pts.z(i))
      }
      Xover(c.trackA, c.trackB, c.x, c.y, zAt(a, c.x, c.y) - zAt(b, c.x, c.y))
    }

  /** Same crossings, same track pairs, positions within a millimetre
    * and dh within a micrometre.
    */
  def xoversMatch(expected: Seq[Xover], got: Seq[Xover]): Boolean =
    expected.size == got.size && {
      val byPair = got.groupBy(g => (g.trackA, g.trackB))
      expected.groupBy(e => (e.trackA, e.trackB)).forall { case (k, es) =>
        byPair.get(k).exists { gs =>
          gs.size == es.size && es.forall(e => gs.exists(g =>
            Math.abs(g.x - e.x) < 1e-3 && Math.abs(g.y - e.y) < 1e-3 &&
              Math.abs(g.dh - e.dh) < 1e-6))
        }
      }
    }

  /** The events view graft's point products derive: x and y come
    * from the event id on a half-unit lattice (Tables.eventsPoints).
    */
  def eventX(id: Long): Double = (id * 7919 % 4000) / 2.0 - 1000.0
  def eventY(id: Long): Double = ((id * id % 4001) * 104729 % 4000) / 2.0 - 1000.0

  private def cellOf(v: Double): Long = Math.floor(v / 50.0).toLong

  private def cells(pts: Points): Map[(Long, Long), IndexedSeq[Int]] =
    pts.id.indices.groupBy(i =>
      (cellOf(eventX(pts.id(i))), cellOf(eventY(pts.id(i)))))

  /** (cx, cy, x, y, z) per 50-unit cell. */
  type CellRow = (Long, Long, Double, Double, Double)

  private val byZxyId: Ordering[(Double, Double, Double, Long)] = Ordering.Tuple4(
    Ordering.Double.TotalOrdering, Ordering.Double.TotalOrdering,
    Ordering.Double.TotalOrdering, Ordering.Long)

  /** pt_blockmedian: per cell, rank by (z, x, y, id); even n averages
    * ranks n/2 and n/2+1, odd n takes rank max((n-1)/2, 1).
    */
  def blockmedian(pts: Points): Seq[CellRow] =
    cells(pts).toSeq.map { case ((cx, cy), is) =>
      val r = is.map(i => (pts.z(i), eventX(pts.id(i)), eventY(pts.id(i)), pts.id(i)))
        .sorted(byZxyId)
      val n = r.size
      val pick =
        if (n % 2 == 0) Seq(r(n / 2 - 1), r(n / 2))
        else Seq(r(Math.max((n - 1) / 2, 1) - 1))
      val k = pick.size.toDouble
      (cx, cy, pick.map(_._2).sum / k, pick.map(_._3).sum / k, pick.map(_._1).sum / k)
    }.sortBy(r => (r._1, r._2))

  /** blockmax: per cell, the point of highest z (ties by x, y, id). */
  def blockmax(pts: Points): Seq[CellRow] =
    cells(pts).toSeq.map { case ((cx, cy), is) =>
      val r = is.map(i => (-pts.z(i), eventX(pts.id(i)), eventY(pts.id(i)), pts.id(i)))
        .min(byZxyId)
      (cx, cy, r._2, r._3, -r._1)
    }.sortBy(r => (r._1, r._2))

  def cellsMatch(expected: Seq[CellRow], got: Seq[CellRow]): Boolean =
    expected.size == got.size && expected.zip(got).forall { case (e, g) =>
      e._1 == g._1 && e._2 == g._2 && close(e._3, g._3) && close(e._4, g._4) &&
        close(e._5, g._5)
    }

  private def close(a: Double, b: Double): Boolean =
    Math.abs(a - b) <= 1e-9 * Math.max(1.0, Math.abs(a))

  /** (track, seq, segdiff) rows of the segment-difference filter. */
  type SegRow = (Long, Long, Double)

  /** segDifferenceFilter over the events track view: tracks are the
    * user id mod 8, ordered by (time, id); the slope analog is
    * ((id mod 7) - 3) / 1000 and missing neighbours contribute 0.
    */
  def segdiff(pts: Points, user: Array[Long]): Seq[SegRow] =
    pts.id.indices.groupBy(i => user(i) % 8).toSeq.sortBy(_._1).flatMap { case (trk, is) =>
      val o = is.sortBy(i => (pts.tMs(i), pts.id(i)))
      val z = o.map(pts.z); val m = o.map(i => ((pts.id(i) % 7) - 3).toDouble / 1000.0)
      o.indices.map { k =>
        val t1 = if (k + 1 < o.size) Math.abs(z(k) + 20.0 * m(k) - z(k + 1)) else 0.0
        val t2 = if (k > 0) Math.abs(z(k - 1) - (z(k) - 20.0 * m(k))) else 0.0
        (trk, (k + 1).toLong, Math.max(t1, t2))
      }
    }

  def segMatch(expected: Seq[SegRow], got: Seq[SegRow]): Boolean =
    expected.size == got.size && expected.zip(got).forall { case (e, g) =>
      e._1 == g._1 && e._2 == g._2 && Math.abs(e._3 - g._3) <= 1e-9
    }
}
