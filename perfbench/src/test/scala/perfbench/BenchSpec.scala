package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark's generator, references and
  * statistics. None of them starts Spark.
  */
class BenchSpec extends AnyFunSuite {

  private def sameArrays(a: Points, b: Points): Boolean =
    a.id.sameElements(b.id) && a.granule.sameElements(b.granule) &&
      a.track.sameElements(b.track) && a.seq.sameElements(b.seq) &&
      a.xAtc.sameElements(b.xAtc) && a.x.sameElements(b.x) && a.y.sameElements(b.y) &&
      a.z.sameElements(b.z) && a.tMs.sameElements(b.tMs) &&
      a.hLiSigma.sameElements(b.hLiSigma) && a.hRobustSprd.sameElements(b.hRobustSprd) &&
      a.snrSignificance.sameElements(b.snrSignificance)

  test("the same seed gives identical inputs; another seed does not") {
    val a = Gen.archive(7, 4, 2, 20000.0, 0.1)
    val b = Gen.archive(7, 4, 2, 20000.0, 0.1)
    val c = Gen.archive(8, 4, 2, 20000.0, 0.1)
    assert(sameArrays(a.pts, b.pts))
    assert(a.beams == b.beams && a.granuleStart.sameElements(b.granuleStart))
    assert(!sameArrays(a.pts, c.pts))
  }

  test("generated granules: 20 m spacing, quality failures near the asked share") {
    val a = Gen.archive(3, 6, 3, 40000.0, 0.1)
    val p = a.pts
    for (i <- 1 until p.size if p.track(i) == p.track(i - 1)) {
      assert(Math.abs(Math.hypot(p.x(i) - p.x(i - 1), p.y(i) - p.y(i - 1)) - 20.0) < 1e-6)
      assert(p.xAtc(i) - p.xAtc(i - 1) == 20.0)
    }
    val share = p.failing.toDouble / p.size
    assert(share > 0.08 && share < 0.12, s"fail share $share")
    assert(p.x.forall(v => v >= 0 && v < 40000.0) && p.y.forall(v => v >= 0 && v < 40000.0))
    for (g <- 0 until a.granules; i <- a.rangeOf(g)) {
      val ((x0, x1), (y0, y1)) = a.footprint(g)
      assert(p.x(i) >= x0 && p.x(i) < x1 && p.y(i) >= y0 && p.y(i) < y1)
    }
  }

  test("closed-form crossings match a brute-force segment intersection") {
    val a = Gen.archive(5, 6, 1, 6000.0, 0.0)
    val p = a.pts
    val segs = p.id.indices.init.filter(i => p.track(i) == p.track(i + 1))
    val byTrack = segs.groupBy(p.track(_))
    val brute = for {
      (ta, sa) <- byTrack.toSeq; (tb, sb) <- byTrack.toSeq if ta < tb
      i <- sa; j <- sb
      dxa = p.x(i + 1) - p.x(i); dya = p.y(i + 1) - p.y(i)
      dxb = p.x(j + 1) - p.x(j); dyb = p.y(j + 1) - p.y(j)
      det = dxa * dyb - dya * dxb if det != 0.0
      ex = p.x(j) - p.x(i); ey = p.y(j) - p.y(i)
      s = (ex * dyb - ey * dxb) / det; r = (ex * dya - ey * dxa) / det
      if s >= 0 && s < 1 && r >= 0 && r < 1
    } yield (ta, tb, p.x(i) + s * dxa, p.y(i) + s * dya)
    val closed = Gen.crossings(a.beams)
    assert(closed.nonEmpty)
    assert(brute.size == closed.size)
    for (c <- closed)
      assert(brute.exists(b => b._1 == c.trackA && b._2 == c.trackB &&
        Math.abs(b._3 - c.x) < 1e-6 && Math.abs(b._4 - c.y) < 1e-6))
  }

  private val arch = Gen.archive(11, 3, 2, 20000.0, 0.1)
  private val model = { val m = new Check.LiveModel; m.add(arch.pts, 0 until arch.pts.size); m }
  private val box: Check.Box = ((5000.0, 15000.0), (5000.0, 15000.0))
  private def inBox = arch.pts.id.indices.filter { i =>
    arch.pts.x(i) >= 5000 && arch.pts.x(i) < 15000 && arch.pts.y(i) >= 5000 && arch.pts.y(i) < 15000
  }

  test("box check: the right rows pass, a dropped row or a perturbed z fails") {
    val rows = inBox.map(i => (arch.pts.id(i), arch.pts.z(i)))
    assert(rows.size > 10)
    val want = model.box(box).d
    assert(Check.digest(rows.iterator) == want)
    assert(Check.digest(rows.tail.iterator) != want)
    val bent = rows.updated(3, (rows(3)._1, rows(3)._2 + 1e-9))
    assert(Check.digest(bent.iterator) != want)
  }

  test("cull model: killed ids leave the expected answer") {
    val m = new Check.LiveModel
    m.add(arch.pts, 0 until arch.pts.size)
    val culled = inBox.filterNot(arch.pts.passes)
    culled.foreach(i => m.kill(arch.pts.id(i)))
    val live = inBox.filter(arch.pts.passes).map(i => (arch.pts.id(i), arch.pts.z(i)))
    assert(culled.nonEmpty)
    assert(m.box(box).d == Check.digest(live.iterator))
    assert(m.box(box).d != model.box(box).d)
  }

  test("crossover check: a dropped crossing or a perturbed dh fails") {
    val t = Gen.archive(2, 8, 1, 15000.0, 0.0)
    val first = t.pts.track.indices.groupBy(t.pts.track(_)).map { case (k, is) => k -> is.min }
    val want = Check.expectedXovers(t.beams, t.pts, first)
    assert(want.size > 3)
    assert(Check.xoversMatch(want, want.reverse))
    assert(!Check.xoversMatch(want, want.tail))
    assert(!Check.xoversMatch(want, want.updated(1, want(1).copy(dh = want(1).dh + 1e-3))))
  }

  test("block and segment checks: a dropped row or a perturbed z fails") {
    val p = Gen.archive(4, 4, 1, 15000.0, 0.0).pts
    val med = Check.blockmedian(p)
    val max = Check.blockmax(p)
    assert(med.size > 10 && max.size == med.size)
    assert(Check.cellsMatch(med, med) && !Check.cellsMatch(med, med.tail))
    assert(!Check.cellsMatch(med, med.updated(2, med(2).copy(_5 = med(2)._5 + 1e-6))))
    assert(!Check.cellsMatch(max, max.updated(0, max(0).copy(_5 = max(0)._5 - 1e-6))))
    val seg = Check.segdiff(p, p.track.map(_.toLong))
    assert(seg.size == p.size)
    assert(Check.segMatch(seg, seg) && !Check.segMatch(seg, seg.tail))
    assert(!Check.segMatch(seg, seg.updated(5, seg(5).copy(_3 = seg(5)._3 + 1e-6))))
  }

  test("block median follows the reference's rank rule") {
    // five ids whose lattice points share the cell (0, 0)
    val ids = (0L until 200000L).filter(i =>
      Math.floor(Check.eventX(i) / 50.0) == 0 && Math.floor(Check.eventY(i) / 50.0) == 0).take(5)
    assert(ids.size == 5)
    def pts(n: Int, zs: Seq[Double]) = new Points(ids.take(n).toArray, Array.fill(n)(0),
      Array.fill(n)(0), Array.range(0, n), Array.fill(n)(0.0), Array.fill(n)(0.0),
      Array.fill(n)(0.0), zs.toArray, Array.fill(n)(0L), Array.fill(n)(0.0),
      Array.fill(n)(0.0), Array.fill(n)(0.0))
    // odd n = 5: 1-based rank (5-1)/2 = 2, i.e. the second smallest z
    assert(Check.blockmedian(pts(5, Seq(5.0, 1.0, 4.0, 2.0, 3.0))).head._5 == 2.0)
    // even n = 4: mean of ranks 2 and 3
    assert(Check.blockmedian(pts(4, Seq(4.0, 1.0, 3.0, 2.0))).head._5 == 2.5)
    assert(Check.blockmax(pts(4, Seq(4.0, 1.0, 3.0, 2.0))).head._5 == 4.0)
  }

  test("the tail has at least ten samples beyond it, and is the highest such") {
    val rnd = new java.util.SplittableRandom(1)
    for (n <- 1 to 300) {
      val xs = Seq.fill(n)(rnd.nextDouble())
      Stats.tail(xs) match {
        case None => assert(n < 11)
        case Some((v, pct, beyond)) =>
          assert(xs.count(_ > v) >= 10 && beyond >= 10)
          assert(xs.count(_ > v) == beyond)
          // one rank higher would leave fewer than ten beyond it
          assert(xs.count(_ >= v) == beyond + 1)
          assert(pct > 0 && pct <= 100)
      }
    }
  }

  test("op_p50 weighs every operation type once, whatever the mix") {
    // two types 100x apart: the median of the mix jumps with one extra
    // slow call, the per-type figure stays at their geometric mean
    val fast = Seq.fill(5)("read" -> 10.0)
    val slow = Seq.fill(5)("write" -> 1000.0)
    assert(Math.abs(Stats.typeMedian(fast ++ slow) - 100.0) < 1e-9)
    assert(Math.abs(Stats.typeMedian(fast ++ slow :+ ("write" -> 1000.0)) - 100.0) < 1e-9)
    assert(Stats.median((fast ++ slow :+ ("write" -> 1000.0)).map(_._2)) == 1000.0)
  }

  test("every metric name is well formed and BENCHMARK.json lists exactly these") {
    val names = Main.EndToEnd.map(_._1) ++ Layers.all.map(_._1)
    assert(names.distinct.size == names.size)
    names.foreach(n => assert("[A-Za-z0-9_.-]+".r.matches(n) && Stats.validName(n), n))
    val bench = new java.io.File("../BENCHMARK.json")
    assume(bench.exists, "BENCHMARK.json sits at the checkout root")
    val text = new String(java.nio.file.Files.readAllBytes(bench.toPath), "UTF-8")
    def listed(section: String): Seq[(String, String)] = {
      val body = text.split("\"" + section + "\"")(1).split("]")(0)
      "\"name\"\\s*:\\s*\"([^\"]+)\",\\s*\"unit\"\\s*:\\s*\"([^\"]+)\"".r
        .findAllMatchIn(body).map(m => (m.group(1), m.group(2))).toSeq
    }
    assert(listed("end_to_end") == Main.EndToEnd)
    assert(listed("per_layer") == Layers.all)
  }
}
