package graft

import org.apache.spark.sql.functions._

import graft.sources.GeoParquet

/** The columnar decode path (VectorizedReaders.scala): every graft
  * scan shape — plain reads, pushed exact filters, row-address mode,
  * merge-on-read subtraction, aggregate boundary folds, changelog
  * arms and evolved schemas — decodes through Spark's vectorized
  * parquet reader, with rows equal to plain-Scala reference rows.
  */
class VecReaderSpec extends SparkSpec {
  import spark.implicits._

  /** The plain-Scala rows [[pts]] writes. */
  private def ptRows(from: Int, until: Int)
      : Seq[(Long, Double, Double, Double, String)] =
    (from until until).map { i =>
      (i.toLong, (i % 50) * 25.0, (i % 37) * 25.0, i * 1.0,
        f"k${i % 97}%03d")
    }

  private def pts(from: Int, until: Int) =
    ptRows(from, until).toDF("id", "x", "y", "z", "key")

  private def layout(n: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("vecr").toString
    GeoParquet.write(pts(0, n), dir, 250.0)
    GeoParquet.writeManifest(spark, dir)
    dir
  }

  test("plain and filtered reads decode columnar, rows match plain-Scala rows") {
    val dir = layout(4000)
    val df = spark.read.format("graft").load(dir)
    val all = df.select("id", "x", "y", "z", "key").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getString(4)))
    assert(all.sorted.toSeq == ptRows(0, 4000).sorted)
    // pushed exact filters (consumed by the scan) still trim per row
    val q = df.filter($"x" >= 100.0 && $"x" <= 300.0 && $"key" >= "k050")
      .select("id", "x", "key")
    val got = q.collect().map(r => (r.getLong(0), r.getDouble(1),
      r.getString(2)))
    val want = ptRows(0, 4000).collect {
      case (id, x, _, _, k) if x >= 100.0 && x <= 300.0 && k >= "k050" =>
        (id, x, k)
    }
    assert(want.nonEmpty)
    assert(got.sorted.toSeq == want.sorted)
  }

  test("row-address mode and merge-on-read subtraction ride the columnar path") {
    val dir = layout(3000)
    // row-address projection: _gfile/_gpos spliced around batch rows
    val addr = spark.read.format("graft").load(dir)
      .select("_gfile", "_gpos", "id").collect()
    assert(addr.length == 3000)
    assert(addr.map(r => (r.getString(0), r.getLong(1))).distinct.length == 3000)
    // positional delete: doomed rows vanish from the columnar read
    val doomedIds = Set(10L, 11L, 2999L)
    GeoParquet.deleteWhere(spark, dir, $"id".isin(doomedIds.toSeq: _*))
    val after =
      spark.read.format("graft").load(dir).select("id").collect()
    assert(after.length == 3000 - doomedIds.size)
    assert(after.map(_.getLong(0)).toSet.intersect(doomedIds).isEmpty)
  }

  test("aggregate pushdown boundary scans fold columnar") {
    val dir = layout(4000)
    spark.read.format("graft").load(dir).createOrReplaceTempView("vagg")
    // a band not aligned to file envelopes: interior files answer from
    // the manifest, boundary files scan — those scans must be columnar
    val row = spark.sql(
      "SELECT count(*) AS n, min(z) AS z0, max(z) AS z1, sum(id) AS s " +
        "FROM vagg WHERE x >= 130.0 AND x <= 780.0").collect().head
    val want = (0 until 4000).filter(i =>
      (i % 50) * 25.0 >= 130.0 && (i % 50) * 25.0 <= 780.0)
    assert(row.getLong(0) == want.length)
    assert(row.getDouble(1) == want.map(_.toDouble).min)
    assert(row.getDouble(2) == want.map(_.toDouble).max)
    assert(row.getLong(3) == want.map(_.toLong).sum)
    // a pending positional delete: the doomed file's fold skips its
    // dead positions
    GeoParquet.deleteWhere(spark, dir, $"id" === 156L)
    val row2 = spark.sql(
      "SELECT count(*) AS n, min(z) AS z0, sum(id) AS s FROM vagg " +
        "WHERE x >= 130.0 AND x <= 780.0").collect().head
    val want2 = want.filterNot(_ == 156)
    assert(row2.getLong(0) == want2.length)
    assert(row2.getDouble(1) == want2.map(_.toDouble).min)
    assert(row2.getLong(2) == want2.map(_.toLong).sum)
  }

  test("changelog stream arms decode columnar (insert + delete retraction)") {
    val dir = layout(2000)
    GeoParquet.deleteWhere(spark, dir, $"id" % 7 === 0)
    val q = spark.readStream.format("graft").option("changelog", "true")
      .load(dir)
      .writeStream.format("memory").queryName("vec_clog").start()
    try q.processAllAvailable() finally q.stop()
    val t = spark.table("vec_clog")
    assert(t.filter($"_change_type" === "delete").count() ==
      (0 until 2000).count(_ % 7 == 0))
    assert(t.filter($"_change_type" === "insert").count() == 2000)
  }

  test("compiled predicate ≡ interpreted ExactFilters.eval (randomized trees)") {
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    import graft.sources.v2.{ExactFilters, VecReaders}
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", DoubleType),
      StructField("s", StringType)))
    val as: Seq[Any] = Seq(null, 0L, -1L, 7L, Long.MaxValue, Long.MinValue)
    val bs: Seq[Any] = Seq(null, 0.0, -0.0, 1.5, Double.NaN,
      Double.PositiveInfinity, -3.25)
    val ss: Seq[Any] = Seq(null, "", "a", "k050", "k05", "zz")
    val rows = for (a <- as; b <- bs; sv <- ss) yield new GenericInternalRow(
      Array[Any](a, b,
        if (sv == null) null else UTF8String.fromString(sv.asInstanceOf[String])))
    val rng = new scala.util.Random(42)
    def leaf(): Filter = rng.nextInt(9) match {
      case 0 => EqualTo("a", rng.nextInt(10).toLong)
      case 1 => GreaterThan("b", Seq(0.0, 1.5, Double.NaN)(rng.nextInt(3)))
      case 2 => LessThanOrEqual("a", rng.nextInt(10).toLong)
      case 3 => GreaterThanOrEqual("s", Seq("", "a", "k05")(rng.nextInt(3)))
      case 4 => LessThan("b", Seq(-0.0, 2.0)(rng.nextInt(2)))
      case 5 => IsNull(Seq("a", "b", "s")(rng.nextInt(3)))
      case 6 => IsNotNull(Seq("a", "b", "s")(rng.nextInt(3)))
      case 7 => StringStartsWith("s", Seq("k", "k05", "z", "")(rng.nextInt(4)))
      case 8 => EqualTo("s", Seq("k050", "")(rng.nextInt(2)))
    }
    def tree(depth: Int): Filter =
      if (depth == 0) leaf()
      else rng.nextInt(4) match {
        case 0 => And(tree(depth - 1), tree(depth - 1))
        case 1 => Or(tree(depth - 1), tree(depth - 1))
        case 2 => Not(tree(depth - 1))
        case _ => leaf()
      }
    val trees = (1 to 200).map(_ => Seq(tree(rng.nextInt(3) + 1)))
    var compiledCount = 0
    trees.foreach { fs =>
      VecReaders.compilePredicate(fs, schema).foreach { cp =>
        compiledCount += 1
        rows.foreach { row =>
          val lookup: String => Any = { n =>
            val i = schema.fieldIndex(n)
            if (row.isNullAt(i)) null else row.get(i, schema.fields(i).dataType)
          }
          val interp = fs.forall(f =>
            ExactFilters.eval(f, lookup).contains(true))
          assert(cp(row) == interp,
            s"compiled/interpreted diverge on $fs for row $row")
        }
      }
    }
    assert(compiledCount == trees.length,
      s"only $compiledCount/${trees.length} trees compiled")
  }

  test("schema evolution: declared-but-absent columns read as nulls columnar") {
    val dir = layout(500)
    GeoParquet.addColumns(spark, dir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.DoubleType))))
    val rows =
      spark.read.format("graft").load(dir).select("id", "w").collect()
    assert(rows.length == 500)
    assert(rows.forall(_.isNullAt(1)))
  }

  test("schema evolution: a declared-but-absent TIMESTAMP column reads as nulls") {
    val dir = layout(500)
    GeoParquet.addColumns(spark, dir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType))))
    val rows =
      spark.read.format("graft").load(dir).select("id", "ts").collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == (0L until 500L))
    assert(rows.forall(_.isNullAt(1)))
  }

  test("present TIMESTAMP and DATE columns read back equal to the source rows") {
    import java.sql.{Date, Timestamp}
    val src: Seq[(Long, Double, Double, Timestamp, Date)] =
      (0 until 1200).map { i =>
        (i.toLong, (i % 50) * 25.0, (i % 37) * 25.0,
          if (i % 11 == 0) null
          else new Timestamp(1546300800000L + i * 3600000L + i % 1000),
          if (i % 13 == 0) null
          else Date.valueOf(java.time.LocalDate.of(2019, 1, 1)
            .plusDays(i % 400)))
      }
    val dir = java.nio.file.Files.createTempDirectory("vecr").toString
    GeoParquet.write(src.toDF("id", "x", "y", "ts", "d"), dir, 250.0)
    GeoParquet.writeManifest(spark, dir)
    val df = spark.read.format("graft").load(dir)
    def rowsOf(d: org.apache.spark.sql.DataFrame) =
      d.select("id", "ts", "d").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getDate(2)))
        .sortBy(_._1).toSeq
    assert(rowsOf(df) == src.map(r => (r._1, r._4, r._5)))
    // a bounded read (row-group predicate on x) alongside them
    assert(rowsOf(df.filter($"x" >= 100.0 && $"x" <= 300.0)) ==
      src.collect { case r if r._2 >= 100.0 && r._2 <= 300.0 =>
        (r._1, r._4, r._5) })
  }
}
