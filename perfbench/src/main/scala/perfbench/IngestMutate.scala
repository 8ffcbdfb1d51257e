package perfbench

import graft.sources.GeoParquet
import org.apache.spark.sql.functions.col

/** Writes beside reads on one bin layout. Each cycle (one round)
  * appends a granule and reads its footprint back as rows and as a
  * count, culls the granule's points that fail the qualitySummary
  * test and reads the footprint back through SQL, reads four boxes of
  * the hot region (manifest rows, SQL rows, a count, manifest rows),
  * and runs the two maintenance gates: manifest coalesce and
  * compaction. The first read after a commit misses the manifest
  * cache; the reads after it hit.
  */
final class IngestMutate(ctx: Ctx) extends Workload {
  import IngestMutate._

  private val base = Gen.archive(ctx.seed, BaseGranules, Pairs, Extent, FailShare)
  private val model = new Check.LiveModel
  model.add(base.pts, 0 until base.pts.size)
  // the granules the loop ingests, each from its own sub-seed; ids
  // stay unique across granules
  private val pool = scala.collection.mutable.HashMap.empty[Int, Archive]
  private def granule(c: Int): Archive = pool.getOrElseUpdate(c,
    Gen.archive(ctx.seed * 1000003L + c, 1, Pairs, Extent, FailShare,
      idBase = (c + 1L) << 24, granuleBase = BaseGranules + c))
  private var path = ""
  private var cycle = 0
  private var ingested = 0L
  private val reads = new BoxReads(ctx, model, () => path, View)
  private var fired = Map("compact" -> 0L, "coalesce" -> 0L)

  def setup(rep: Int): Unit = {
    if (path.nonEmpty) Workload.deleteTree(path)
    path = ctx.dir(s"layout-$rep")
    val frames = (0 until base.granules).map(g =>
      Workload.frame(ctx.spark, base.pts, base.rangeOf(g)))
    GeoParquet.write(frames.head, path, Delta)
    GeoParquet.writeManifest(ctx.spark, path)
    frames.tail.foreach(GeoParquet.appendWithManifest(_, path, Delta))
    ctx.spark.read.format("graft").load(path).createOrReplaceTempView(View)
  }

  /** A write call: `body` is timed; `after` brings the live-point
    * model up to date once it has returned, outside the timing. The
    * reads that follow check the layout against the model.
    */
  private def write(op: String, after: => Unit = ())(body: => Unit): Op = new Op {
    def name: String = op
    def kind = "write"
    def exec(): Any = body
    def check(r: Any): Boolean = { after; true }
    def points(r: Any): Long = 0L
  }

  private def maintain(gate: String)(body: => Boolean): Unit =
    if (ctx.tracer.span(s"sources.$gate")(body)) fired = fired.updated(gate, fired(gate) + 1)

  def roundSeconds = 7.5

  def round(rng: java.util.SplittableRandom): Seq[Op] = {
    val a = granule(cycle)
    cycle += 1
    val r = a.rangeOf(0)
    val gid = a.pts.granule(r.head)
    val df = Workload.frame(ctx.spark, a.pts, r)
    val foot = a.footprint(0)
    // one bin to a sixteenth of the extent: each round reads one box of
    // every side, so every run reads the same mix of box sizes
    val sides = Workload.shuffled(rng, Seq(1.0, 2.0, 3.0, 4.0)).map(_ * Delta).iterator
    def hotBox() = Workload.box(rng, Extent, sides.next(), Hot, HotShare)
    Seq(
      new Op {
        private def files() =
          if (ctx.tracer.enabled) Workload.countFiles(path, Workload.isDataFile) else 0L
        private var before = 0L
        def name = "append"
        def kind = "write"
        override def prepare(): Unit = before = files()
        def exec(): Any =
          ctx.tracer.span("sources.append")(GeoParquet.appendWithManifest(df, path, Delta))
        def check(res: Any): Boolean = {
          ctx.tracer.note("sources.append", "files_written", (files() - before).toDouble)
          model.add(a.pts, r)
          // only the timed loop's granules: warm-up spans fall outside the traced window
          if (ctx.tracer.op >= 0) ingested += r.size
          true
        }
        def points(res: Any): Long = r.size
      },
      reads.query(foot, "sources.read_after_write"),
      reads.count(foot, "count_footprint"),
      write("delete", r.filterNot(a.pts.passes).foreach(i => model.kill(a.pts.id(i)))) {
        ctx.tracer.span("sources.delete")(GeoParquet.deleteWhere(ctx.spark, path,
          col("granule") === gid && !(col("h_robust_sprd") < 1.0 &&
            col("h_li_sigma") < 1.0 && col("snr_significance") < 0.02)))
      },
      reads.sqlAgg(foot),
      reads.query(hotBox(), "sources.query_box"),
      reads.sqlRows(hotBox()),
      reads.count(hotBox(), "count_box"),
      reads.query(hotBox(), "sources.query_box"),
      write("coalesce")(maintain("coalesce")(
        GeoParquet.coalesceManifestIfNeeded(ctx.spark, path, MaxManifestParts))),
      write("compact")(maintain("compact") {
        // a compaction retires the manifest; the rebuild restores pruned reads
        val f = GeoParquet.compactIfNeeded(ctx.spark, path)
        if (f) GeoParquet.writeManifest(ctx.spark, path)
        f
      }))
  }

  override def snapshot(): Map[(String, String), Double] = Map(
    ("sources.layout_files", "count") ->
      Workload.countFiles(path, Workload.isDataFile).toDouble,
    ("sources.manifest_parts", "count") ->
      Workload.countFiles(s"$path/_manifest", _.endsWith(".parquet")).toDouble,
    ("sources.tombstone_files", "count") ->
      Workload.countFiles(path, f => f.startsWith("_tombstones") && f.endsWith(".parquet")).toDouble,
    ("sources.compact.fired", "count") -> fired("compact").toDouble,
    ("sources.coalesce.fired", "count") -> fired("coalesce").toDouble,
    ("sources.points_ingested", "count") -> ingested.toDouble)

  def finish(): Map[String, Double] = Map(
    "stored_bytes_per_point" -> Workload.treeBytes(path).toDouble / model.live,
    "points" -> model.live.toDouble,
    "files" -> Workload.countFiles(path, Workload.isDataFile).toDouble,
    "layout_bytes" -> Workload.treeBytes(path).toDouble,
    "manifest_bytes" -> Workload.treeBytes(s"$path/_manifest").toDouble,
    "cycles" -> cycle.toDouble)
}

object IngestMutate {
  val Extent = 40000.0
  val Delta = 2500.0
  val BaseGranules = 1
  val Pairs = 1
  val FailShare = 0.1
  /** Coalesce once the manifest holds more parts than this. */
  val MaxManifestParts = 1
  val View = "layout"
  /** Hot square (centre x, centre y, side) and the share of boxes in it. */
  val Hot = (0.35 * Extent, 0.6 * Extent, 0.25 * Extent)
  val HotShare = 0.7
}
