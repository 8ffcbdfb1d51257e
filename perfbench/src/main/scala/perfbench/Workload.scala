package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** One timed call. `exec` is the timed part; `check` compares its
  * result with the reference afterwards, outside the timing.
  */
trait Op {
  /** The operation type, e.g. `append` or `query_box`. */
  def name: String
  /** `read`, `write` or `product`. */
  def kind: String
  /** Untimed preparation, run just before `exec`. */
  def prepare(): Unit = ()
  def exec(): Any
  def check(result: Any): Boolean
  /** Points the call ingested or consumed. */
  def points(result: Any): Long
}

/** The shared context of one benchmark run. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val work: java.nio.file.Path, val seed: Long) {
  def dir(name: String): String = work.resolve(name).toString
}

/** A closed-loop workload: inputs come from the seed alone; `setup`
  * holds the timed program set-up calls and may run several times
  * into separate directories (the last one is kept for the loop).
  */
trait Workload {
  def setup(rep: Int): Unit
  /** One round: one call of every operation type, in an order drawn
    * from `rng`. The loop runs whole rounds, so every run holds the
    * same mix of operation types.
    */
  def round(rng: java.util.SplittableRandom): Seq[Op]
  /** Nominal duration of one round on a 4-vCPU machine, in seconds:
    * a run makes `--seconds / roundSeconds` rounds.
    */
  def roundSeconds: Double
  /** End-of-run measures taken outside any timing. */
  def finish(): Map[String, Double]
  /** Layer measures of the traced window: `(name, unit) -> value`. */
  def snapshot(): Map[(String, String), Double] = Map.empty
}

object Workload {
  val PointSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("granule", IntegerType, nullable = false),
    StructField("track", LongType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("x_atc", DoubleType, nullable = false),
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false),
    StructField("z", DoubleType, nullable = false),
    StructField("t", DoubleType, nullable = false),
    StructField("h_li_sigma", DoubleType, nullable = false),
    StructField("h_robust_sprd", DoubleType, nullable = false),
    StructField("snr_significance", DoubleType, nullable = false)))

  /** The points in `r` as a one-partition frame: a granule arrives as
    * one file, so one task writes it.
    */
  def frame(spark: SparkSession, p: Points, r: Range): DataFrame = {
    val rows = r.map { i =>
      Row(p.id(i), p.granule(i), p.track(i).toLong, p.seq(i).toLong, p.xAtc(i),
        p.x(i), p.y(i), p.z(i), p.tMs(i).toDouble, p.hLiSigma(i),
        p.hRobustSprd(i), p.snrSignificance(i))
    }
    spark.createDataFrame(rows.asJava, PointSchema).coalesce(1)
  }

  /** Total bytes of every regular file under `dir`. */
  def treeBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size(_)).sum
      finally s.close()
    }
  }

  /** Regular files under `dir` whose path (relative to it) passes `keep`. */
  def countFiles(dir: String, keep: String => Boolean): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .count(f => keep(p.relativize(f).toString))
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally s.close()
    }
  }

  /** A data file of a bin layout: parquet outside every sidecar. */
  def isDataFile(rel: String): Boolean =
    rel.endsWith(".parquet") && !rel.split('/').exists(_.startsWith("_"))

  /** A box of the given side (aspect 1:2 to 2:1) whose centre falls
    * in the hot square `hot` (centre x, centre y, side) with
    * probability `hotShare`, else anywhere; corners are whole metres
    * so SQL literals carry them exactly.
    */
  def box(rng: java.util.SplittableRandom, extent: Double, side: Double,
          hot: (Double, Double, Double), hotShare: Double): Check.Box = {
    val aspect = Math.exp((rng.nextDouble() - 0.5) * Math.log(4.0))
    val w = side * Math.sqrt(aspect); val h = side / Math.sqrt(aspect)
    val (cx, cy) =
      if (rng.nextDouble() < hotShare)
        (hot._1 + (rng.nextDouble() - 0.5) * hot._3, hot._2 + (rng.nextDouble() - 0.5) * hot._3)
      else (rng.nextDouble() * extent, rng.nextDouble() * extent)
    val x0 = Math.floor(cx - w / 2); val y0 = Math.floor(cy - h / 2)
    ((x0, x0 + Math.ceil(w)), (y0, y0 + Math.ceil(h)))
  }

  def shuffled[T: scala.reflect.ClassTag](rng: java.util.SplittableRandom, xs: Seq[T]): Seq[T] = {
    val a = xs.toArray
    for (i <- a.indices.reverse) {
      val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  def all: Seq[String] = Seq("ingest_mutate", "track_products")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "ingest_mutate" => new IngestMutate(ctx)
    case "track_products" => new TrackProducts(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${all.mkString(", ")})")
  }
}
