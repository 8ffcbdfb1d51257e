package perfbench

import graft.core.CacheBag
import graft.operators.{Crossovers, GeoOps, TrackOps}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Batch products along generated tracks, over plain parquet inputs:
  * full and incremental crossovers, block median, block max and the
  * segment-difference filter. Shuffle and compute in `operators` do
  * the work; no manifest or commit path runs.
  */
final class TrackProducts(ctx: Ctx) extends Workload {
  import TrackProducts._

  val archive: Archive = Gen.archive(ctx.seed, Granules, 1, Extent, 0.0)
  private val pts = archive.pts
  private val firstIdx: Map[Int, Int] =
    pts.track.indices.groupBy(pts.track(_)).map { case (t, is) => t -> is.min }
  private val user: Array[Long] = pts.track.map(_.toLong)
  private var tracksPath = ""
  private var eventsDir = ""

  // references, computed once on first use (outside any timing)
  private lazy val allXovers = Check.expectedXovers(archive.beams, pts, firstIdx)
  private lazy val medianRef = Check.blockmedian(pts)
  private lazy val maxRef = Check.blockmax(pts)
  private lazy val segRef = Check.segdiff(pts, user)

  def setup(rep: Int): Unit = {
    if (tracksPath.nonEmpty) { Workload.deleteTree(tracksPath); Workload.deleteTree(eventsDir) }
    tracksPath = ctx.dir(s"tracks-$rep.parquet")
    eventsDir = ctx.dir(s"events-$rep")
    val all = 0 until pts.size
    Workload.frame(ctx.spark, pts, all).select("granule", "track", "seq", "x", "y", "z", "t")
      .repartition(Partitions, col("track")).write.parquet(tracksPath)
    val rows = all.map(i => Row(pts.id(i), user(i), pts.z(i),
      new java.sql.Timestamp(pts.tMs(i)), "atl06"))
    ctx.spark.createDataFrame(rows.asJava, EventSchema)
      .repartition(Partitions).write.parquet(s"$eventsDir/events.parquet")
  }

  private def tracks(): DataFrame = ctx.spark.read.parquet(tracksPath)

  private def xovers(r: Any): Seq[Check.Xover] =
    r.asInstanceOf[Array[Row]].toSeq.map(row => Check.Xover(
      row.getAs[Long]("track_a"), row.getAs[Long]("track_b"),
      row.getAs[Double]("xc"), row.getAs[Double]("yc"), row.getAs[Double]("dh")))

  private def cellRows(r: Any): Seq[Check.CellRow] =
    r.asInstanceOf[Array[Row]].toSeq.map(row =>
      (row.getLong(0), row.getLong(1), row.getDouble(2), row.getDouble(3), row.getDouble(4)))

  private def product(span: String, consumed: Long)(run: => Array[Row])(ok: Any => Boolean): Op =
    new Op {
      def name: String = span
      def kind = "product"
      def exec(): Any = {
        val r = ctx.tracer.span(s"operators.$span")(run)
        ctx.tracer.span("core.release")(CacheBag.releaseAll())
        r
      }
      def check(r: Any): Boolean = ok(r)
      def points(r: Any): Long = consumed
    }

  def roundSeconds = 5.5

  def round(rng: java.util.SplittableRandom): Seq[Op] =
    Workload.shuffled(rng, 0 until 5).map(op(rng, _))

  private def op(rng: java.util.SplittableRandom, which: Int): Op = which match {
    case 0 => product("crossovers", pts.size)(
      Crossovers.crossoversOf(tracks()).collect())(r => Check.xoversMatch(allXovers, xovers(r)))
    case 1 =>
      val g = rng.nextInt(archive.granules)
      val newTracks = archive.beams.filter(_.granule == g).map(_.track.toLong).toSet
      val want = allXovers.filter(x => newTracks(x.trackA) || newTracks(x.trackB))
      product("incremental_crossovers", pts.size)(Crossovers.incrementalCrossovers(
        tracks().filter(col("granule") =!= g), tracks().filter(col("granule") === g)).collect())(
        r => Check.xoversMatch(want, xovers(r)))
    case 2 => product("blockmedian", pts.size)(GeoOps.blockmedian(ctx.spark, eventsDir).collect())(
      r => Check.cellsMatch(medianRef, cellRows(r)))
    case 3 => product("blockmax", pts.size)(GeoOps.blockmax(ctx.spark, eventsDir).collect())(
      r => Check.cellsMatch(maxRef, cellRows(r)))
    case _ => product("segdiff", pts.size)(TrackOps.segdiff(ctx.spark, eventsDir).collect())(
      r => Check.segMatch(segRef, r.asInstanceOf[Array[Row]].toSeq.map(row =>
        (row.getLong(0), row.getLong(1), row.getDouble(2)))))
  }

  def finish(): Map[String, Double] = {
    val bytes = Workload.treeBytes(tracksPath) + Workload.treeBytes(eventsDir)
    Map("stored_bytes_per_point" -> bytes.toDouble / pts.size,
      "points" -> pts.size.toDouble,
      "files" -> (Workload.countFiles(tracksPath, _.endsWith(".parquet")) +
        Workload.countFiles(eventsDir, _.endsWith(".parquet"))).toDouble,
      "layout_bytes" -> bytes.toDouble,
      "crossings" -> allXovers.size.toDouble)
  }
}

object TrackProducts {
  val Extent = 15000.0
  val Granules = 20
  val Partitions = 4
  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("event_type", StringType, nullable = false)))
}
