package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.operators.GeoOps

/** The parquet-native materialization of the reference's geo_index
  * (geo_index.py to_file/from_file, ATL06_tiles.py make_tile).
  *
  * The reference persists, per spatial bin, file/offset runs into an
  * HDF5 sidecar so a reader can seek straight to matching byte
  * ranges.  On Spark the directory layout IS the index: points are
  * written `partitionBy(bin_x, bin_y)` so a box/bin query prunes
  * whole directories at planning time (PartitionFilters), and row
  * groups inside a partition are further pruned by parquet min/max
  * stats on x/y.  At 100 TB this is exactly the tile layout
  * make_tile produces — one shuffle to cluster, then embarrassingly
  * parallel writes, and readers touch only the bins they ask for.
  */
object GeoParquet {

  /** Test/diagnostic hook: the file set the last [[upsertKeyed]]
    * doomed-address lookup opened per layout root (the merge's one
    * data-touching read; mirrors
    * [[graft.sources.v2.GraftSource.lastPlannedFiles]]).
    */
  private[graft] val lastMergeLookup =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  /** Write a point DataFrame (must have x, y columns) as a
    * bin-partitioned layout with δ-spaced bins.
    */
  def write(df: DataFrame, path: String, delta: Double): Unit = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    df.withColumn("bin_x", GeoOps.binOf(col("x"), delta))
      .withColumn("bin_y", GeoOps.binOf(col("y"), delta))
      .repartition(col("bin_x"), col("bin_y"))
      .sortWithinPartitions("bin_x", "bin_y", "x", "y")
      .write.mode("overwrite")
      .partitionBy("bin_x", "bin_y")
      .parquet(path)
    recordDelta(df.sparkSession, path, delta)
    // the writer knows its own output schema exactly (createLayout's
    // convention: bin partition columns included) — declaring it here
    // spares every later read the footer inference and arms the
    // writeManifest sweep-skip handshake
    recordCoveringSchema(df.sparkSession, path, StructType(
      dataSchemaOf(df.schema).fields.toSeq ++
        Seq(StructField("bin_x", LongType), StructField("bin_y", LongType))))
  }

  /** Create an EMPTY bin layout: geometry (`_delta`) and declared
    * schema (`_schema`, bin partition columns included) recorded with
    * zero data files — the SQL DDL face's CREATE TABLE.  Readers see
    * an empty table (no manifest, no files); the first append bins by
    * the recorded δ, and a `writeManifest` after data lands restores
    * pruned reads — the create→insert→rebuild lifecycle entirely
    * from SQL.
    */
  def createLayout(spark: SparkSession, path: String,
                   schema: org.apache.spark.sql.types.StructType,
                   delta: Double): Unit = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    require(schema.fieldNames.contains("x") && schema.fieldNames.contains("y"),
      "a bin layout needs x and y coordinate columns")
    require(delta > 0, s"bin size must be positive: $delta")
    val fs = fsOf(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    require(!fs.exists(p) || fs.listStatus(p).isEmpty,
      s"$path already exists and is not empty")
    fs.mkdirs(p)
    recordDelta(spark, path, delta)
    recordCoveringSchema(spark, path, StructType(
      dataSchemaOf(schema).fields.toSeq ++
        Seq(StructField("bin_x", LongType), StructField("bin_y", LongType))))
  }

  /** Create an EMPTY curve-clustered layout — the DDL face's
    * `TBLPROPERTIES('curve'='z'/'hilbert', 'delta'=…)` arm: geometry
    * (`_delta`), declared schema (`_schema`, the curve key column
    * included so key discovery needs no data file), and an empty
    * manifest carrying the key-range columns (k0/k1) so the SQL
    * INSERT dispatches to [[appendCurve]] from the first batch.
    * Lifecycle mirrors [[createLayout]]: the empty table reads as
    * empty, each INSERT appends internally-key-sorted files with
    * their [k0,k1] ranges manifested (curve pruning live
    * immediately — the alignment keeps key stats), and a
    * `rebuild_manifest` adds the x/y envelope stats for the
    * envelope-pruned readers.
    */
  def createCurveLayout(spark: SparkSession, path: String,
                        schema: org.apache.spark.sql.types.StructType,
                        delta: Double, curve: String): Unit = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val keyCol = curve.toLowerCase match {
      case "z" | "zorder" => "zkey"
      case "h" | "hilbert" => "hkey"
      case other => throw new IllegalArgumentException(
        s"unknown curve '$other' — TBLPROPERTIES('curve'=…) takes " +
          "'z' (Morton) or 'hilbert'")
    }
    require(schema.fieldNames.contains("x") && schema.fieldNames.contains("y"),
      "a curve layout needs x and y coordinate columns (the key is " +
        "computed from them at the recorded δ)")
    require(delta > 0, s"cell size must be positive: $delta")
    val fs = fsOf(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    require(!fs.exists(p) || fs.listStatus(p).isEmpty,
      s"$path already exists and is not empty")
    fs.mkdirs(p)
    recordDelta(spark, path, delta)
    val full = StructType(
      dataSchemaOf(schema).fields.toSeq :+ StructField(keyCol, LongType))
    recordCoveringSchema(spark, path, full)
    // seed the manifest with the EXACT stats schema the appends will
    // produce (statsOf over a zero-row frame of the full schema, the
    // createKeyedLayout convention) — a hand-rolled five-column seed
    // narrows footer-picked manifest reads to (file, k0, k1) and
    // silently disables x/y envelope pruning and aggregate pushdown
    // on every SQL-created curve table
    statsOf(spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), full),
        path, 0L)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_manifest")
    writeEpochFile(spark, s"$path/_manifest_epoch", 0L) // fresh at epoch 0
  }

  /** Create an EMPTY key-clustered layout — the DDL face's
    * `TBLPROPERTIES('key'='tenant,id')` arm, i.e. [[writeKeyed]]
    * without a first batch: the pure-SQL CDC table shape.  The
    * declared schema records the mirror key column (the key column
    * itself for a single key, the composite struct for several) so
    * key discovery and INSERT dispatch need no data file; `_keycol`
    * names the data key(s) so every generic append — SQL INSERT, the
    * streaming sink — mirrors them into the cluster key and
    * key-predicate file pruning is sound from the first batch.  The
    * empty manifest is written with the EXACT stats schema the
    * appends will produce ([[statsOf]] over a zero-row frame of the
    * full schema), so a footer-picked manifest read never narrows
    * the stats columns the way [[createCurveLayout]]'s hand-rolled
    * five-column seed can.  No spatial geometry is involved: keyed
    * tables need no x/y and record no δ (a keyed schema that DOES
    * declare x/y still gets envelope stats on every append, for
    * free, from the same statsOf pass).
    */
  def createKeyedLayout(spark: SparkSession, path: String,
                        schema: org.apache.spark.sql.types.StructType,
                        keyCols: Seq[String],
                        nBuckets: Option[Int] = None): Unit = {
    import org.apache.spark.sql.types.{StructField, StructType}
    require(keyCols.nonEmpty, "a keyed layout needs at least one key column")
    nBuckets.foreach { n =>
      // hash-bucketed DDL tables: single-column keys only (the bucket
      // function hashes ONE column; a composite struct has no defined
      // v2 bucket transform to report)
      require(n > 0, s"'buckets' must be positive, got $n")
      require(keyCols.length == 1,
        "hash-bucketed layouts take exactly one key column — " +
          s"got ${keyCols.mkString(",")}")
    }
    require(keyCols.distinct == keyCols,
      s"duplicate key columns: ${keyCols.mkString(",")}")
    val data = dataSchemaOf(schema)
    keyCols.foreach { k =>
      require(data.fieldNames.contains(k),
        s"key column '$k' is not in the declared schema " +
          data.fieldNames.mkString("(", ", ", ")"))
      requireOrderableKeyType(k, data(k).dataType)
    }
    val keyField =
      if (keyCols.length == 1)
        StructField("zkey", data(keyCols.head).dataType)
      else StructField("zkey", StructType(keyCols.map(k => data(k))))
    val fs = fsOf(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    require(!fs.exists(p) || fs.listStatus(p).isEmpty,
      s"$path already exists and is not empty")
    fs.mkdirs(p)
    val full = StructType(data.fields.toSeq :+ keyField)
    recordCoveringSchema(spark, path, full)
    statsOf(spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), full),
        path, 0L)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_manifest")
    writeEpochFile(spark, s"$path/_manifest_epoch", 0L) // fresh at epoch 0
    recordKeyCol(spark, path, keyCols.mkString(","))
    // DDL-declared hash buckets: every INSERT re-distributes through
    // appendCurve's `_buckets` dispatch from the FIRST batch, so the
    // table is storage-partitioned-join-ready before any data lands
    nBuckets.foreach(n =>
      writeTextFile(spark, s"$path/_buckets", s"$n,${keyCols.head}"))
    // creation IS commit 0 on the snapshot axis — keyed layouts have
    // no geometry sidecar to ride ([[recordDelta]] stamps it for bin/
    // curve layouts), so stamp it here: TIMESTAMP AS OF resolves
    // times before the first INSERT
    stampEpochTime(spark, path, 0L)
  }

  /** Explicit add-column evolution — the SQL face's `ALTER TABLE …
    * ADD COLUMNS`.  Identical contract to the append-path
    * [[recordEvolution]]: new columns append to the declared schema
    * nullable (existing files lack them and read as nulls); duplicate
    * names refuse.  Declaring AHEAD of data is the point: the next
    * SELECT already carries the column, the next INSERT may populate
    * it.  One sidecar read + write — never a data rewrite.
    */
  def addColumns(spark: SparkSession, path: String,
                 cols: Seq[org.apache.spark.sql.types.StructField]): Unit = {
    import org.apache.spark.sql.types.StructType
    // sidecar-less (never-evolved) layouts pin their current full
    // schema once, same one-time directory read recordEvolution pays
    val full = layoutSchema(spark, path)
      .getOrElse(spark.read.parquet(path).schema)
    cols.foreach { c =>
      require(!full.fieldNames.contains(c.name) && !BinCols.contains(c.name),
        s"column ${c.name} already exists in the layout at $path")
    }
    writeSchemaFile(spark, path,
      StructType(full.fields ++ cols.map(_.copy(nullable = true))))
  }

  /** Record the layout's bin size as a sidecar (AFTER the data write
    * — overwrite mode wipes the directory), so appenders that did not
    * create the layout — the SQL-face writer above all — need not be
    * told it out of band.  [[deltaOf]] reads it back.
    */
  private def recordDelta(spark: SparkSession, path: String,
                          delta: Double): Unit = {
    writeTextFile(spark, s"$path/_delta", delta.toString)
    // creation IS commit 0 on the snapshot axis — stamp it (once) so
    // TIMESTAMP AS OF resolves times before the first append
    if (!fsOf(spark, path).exists(
        new org.apache.hadoop.fs.Path(s"$path/_epoch_times/0")))
      stampEpochTime(spark, path, 0L)
  }

  /** The recorded bin size of a layout (None for layouts written
    * before the sidecar existed — callers must then be told).
    */
  def deltaOf(spark: SparkSession, path: String): Option[Double] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_delta")
    if (fsOf(spark, path).exists(p))
      Some(readTextFile(spark, p.toString).trim.toDouble)
    else None
  }

  /** The layout's declared per-batch FILE TARGET for generic appends
    * (`TBLPROPERTIES('files'='n')` → `_nfiles` sidecar): the SQL
    * INSERT and streaming-sink dispatchers have no nFiles argument of
    * their own, and a curve layout whose every INSERT lands ONE file
    * serializes the batch write through a single task — at 100 TB an
    * ingest batch must range-split across the cluster.  None = the
    * historical single-file default.
    */
  def nFilesOf(spark: SparkSession, path: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_nfiles")
    if (fsOf(spark, path).exists(p))
      Some(readTextFile(spark, p.toString).trim.toInt)
    else None
  }

  private[graft] def recordNFiles(spark: SparkSession, path: String,
                                  n: Int): Unit = {
    require(n > 0, s"files target must be positive: $n")
    writeTextFile(spark, s"$path/_nfiles", n.toString)
  }

  /** Write points z-order-clustered: one global range partition on
    * the Morton key of the δ-cell, sorted within — every file (and
    * row group) covers a spatially compact region, so min/max stats
    * on x AND y are simultaneously tight and a 2-D box query prunes
    * on a single sort order.  Complements [[write]]: bin-partitioning
    * prunes whole directories; z-ordering prunes *within* big files —
    * at 100 TB you bin-partition coarsely (bounded directory count)
    * and z-order inside each partition.
    */
  def writeZOrdered(df: DataFrame, path: String, delta: Double, nFiles: Int): Unit = {
    writeCurveClustered(df, path, nFiles, "zkey",
      d => d.withColumn("zkey",
        graft.functions.ZOrder.zkey(GeoOps.cellOf(col("x"), delta),
          GeoOps.cellOf(col("y"), delta))))
    recordDelta(df.sparkSession, path, delta)
  }

  /** [[writeZOrdered]] with the Hilbert index — strictly better chunk
    * locality (consecutive keys are Manhattan-adjacent cells).
    */
  def writeHilbertClustered(df: DataFrame, path: String, delta: Double, nFiles: Int): Unit = {
    writeCurveClustered(df, path, nFiles, "hkey",
      d => d.withColumn("hkey", graft.functions.Hilbert.dkey(
        GeoOps.cellOf(col("x"), delta), GeoOps.cellOf(col("y"), delta))))
    recordDelta(df.sparkSession, path, delta)
  }

  private def writeCurveClustered(df: DataFrame, path: String, nFiles: Int,
                                  key: String, keyed: DataFrame => DataFrame): Unit = {
    val kdf = keyed(df)
    kdf.repartitionByRange(nFiles, col(key))
      .sortWithinPartitions(key)
      // the key column is PERSISTED (8 bytes/row, ~1 byte on disk
      // after delta encoding of a sorted column): it is what
      // queryBoxCurve's BIGMIN range filters prune row groups and
      // files on — x/y min/max envelopes over-select wherever a chunk
      // straddles a curve jump, the key intervals never do
      .write.mode("overwrite").parquet(path)
    recordCoveringSchema(df.sparkSession, path, kdf.schema)
  }

  /** TIME-major curve layout for time-majority workloads: files are
    * range-partitioned on `t` first (so their [t0,t1] manifest
    * envelopes are DISJOINT — envelope pruning over disjoint ranges
    * is exact, the time analog of what BIGMIN intervals do for
    * boxes), and rows inside each file are sorted on the z-order key
    * (so a box predicate still prunes row groups on the persisted
    * key's min/max).  A recent-window query through
    * [[queryBoxTimeViaManifest]] then opens exactly the files whose
    * t-run overlaps the window, instead of every file that happens
    * to contain a straggler row — under a [[writeZOrdered]] layout a
    * shuffled ingest scatters each time instant across ALL files and
    * the t envelopes prune nothing.  The trade is deliberate:
    * file-level k0/k1 ranges widen (each t-run spans the whole box
    * extent), so pure-box queries fall back to row-group pruning —
    * pick this layout when the dominant axis is time, exactly as you
    * pick writeZOrdered when it is space.
    */
  def writeTimeCurve(df: DataFrame, path: String, delta: Double,
                     nFiles: Int): Unit = {
    require(df.columns.contains("t"),
      "writeTimeCurve needs an epoch-ms `t` column")
    val kdf = df.withColumn("zkey", graft.functions.ZOrder.zkey(
      GeoOps.cellOf(col("x"), delta), GeoOps.cellOf(col("y"), delta)))
    kdf.repartitionByRange(nFiles, col("t"), col("zkey"))
      .sortWithinPartitions("zkey")
      .write.mode("overwrite").parquet(path)
    recordDelta(df.sparkSession, path, delta)
    recordCoveringSchema(df.sparkSession, path, kdf.schema)
  }

  /** Curve-key columns a layout may carry (see writeZOrdered /
    * writeHilbertClustered); the manifest records their per-file
    * min/max as k0/k1 when present, enabling file-level BIGMIN
    * range pruning in [[queryBoxCurve]].
    */
  private val CurveKeyCols = Seq("zkey", "hkey")

  /** The layout's curve key column, discovered WITHOUT a full
    * directory listing: a manifest names every data file, so one
    * file's footer answers — O(1) planning where reading the layout
    * root's schema costs an O(files) object-store walk at 100 TB.
    * Unmanifested layouts fall back to the directory schema read —
    * as does a STALE manifest whose named file was compacted away
    * (the caller's freshness guard owns that diagnosis; schema
    * discovery must not crash first with a raw file-not-found).
    */
  private def curveKeyColOf(spark: SparkSession, path: String): Option[String] =
    // declared-schema sidecar first: O(1), and the only source on an
    // EMPTY curve layout (DDL-created — no data file to consult yet)
    layoutSchema(spark, path)
      .flatMap(s => CurveKeyCols.find(s.fieldNames.contains))
      .orElse {
        val fs = fsOf(spark, path)
        val cols =
          if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_manifest")))
            spark.read.parquet(path).columns
          else
            manifestDf(spark, path).select("file").head(1) match {
              case Array(r)
                if fs.exists(new org.apache.hadoop.fs.Path(s"$path/${r.getString(0)}")) =>
                spark.read.parquet(s"$path/${r.getString(0)}").columns
              case _ => spark.read.parquet(path).columns // empty/stale manifest
            }
        CurveKeyCols.find(cols.contains)
      }

  /** Absolute filesystem path of the layout root, scheme-free —
    * the prefix manifest entries are made relative to.
    */
  private def rootPathOf(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toUri.getPath
  }

  /** `abs` as a root-relative data-file path — the form manifest
    * entries and positional tombstones use ([[relativeTo]]'s cut,
    * for a single driver-side string).
    */
  private[graft] def relDataPath(spark: SparkSession, path: String,
                                 abs: String): String = {
    val root = rootPathOf(spark, path)
    val i = abs.indexOf(root)
    require(i >= 0, s"$abs is not under layout root $root")
    abs.substring(i + root.length + 1)
  }

  /** Commit one SQL row-level mutation (UPDATE / MERGE / rewritten
    * DELETE) from executor-staged parts: `deleteStaged` parquet files
    * hold (file, pos) addresses of the doomed rows, `insertStaged`
    * the replacement/new rows.  The commit is [[upsertPositional]]'s
    * shape — stage the doomed addresses, then
    * [[appendWithManifest]] the inserts with the stage threaded in,
    * so the deletes go live atomically with the new rows (and a
    * delete-only mutation commits through the same 0-row-append
    * path).  Crash windows heal exactly as the API merge's do.
    */
  private[graft] def commitDelta(spark: SparkSession, path: String,
                                 deleteStaged: Seq[String],
                                 insertStaged: Seq[String],
                                 delta: Double,
                                 insertSchema: Option[
                                   org.apache.spark.sql.types.StructType] =
                                   None): Unit = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    adoptStagedMerges(spark, path) // heal any crashed predecessor
    val mergeDir =
      if (deleteStaged.isEmpty) None
      else {
        val doomed = spark.read
          .schema(StructType(Seq(StructField("file", StringType),
            StructField("pos", LongType))))
          .parquet(deleteStaged: _*)
          .localCheckpoint() // pin before the staging dir is vacated
        if (doomed.isEmpty) None else Some(stageMerge(spark, path, doomed))
      }
    val ins =
      if (insertStaged.isEmpty)
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          dataSchemaFor(spark, path))
      else
        // the staged row shape: every task wrote the same schema, and
        // the delta writer's owner knows it exactly — passing it skips
        // the per-statement footer-inference job.  Columns beyond the
        // declared schema widen via recordEvolution inside the append
        // either way; schema-less callers keep footer inference.
        insertSchema match {
          case Some(s) => spark.read.schema(StructType(
              s.fields.map(_.copy(nullable = true)))).parquet(insertStaged: _*)
          case None => spark.read.parquet(insertStaged: _*)
        }
    // KEYED layouts take the curve append (its keyed arm mirrors the
    // recorded data key into the cluster key, so an UPDATE/MERGE's
    // re-inserted rows keep key-predicate file pruning sound); bin
    // layouts keep the δ-binned append.  Pure spatial-curve layouts
    // never reach here ([[graft.sources.v2.GraftRowLevel]] refuses
    // them before staging), but the dispatch handles them soundly
    // anyway — appendCurve recomputes their key at the recorded δ.
    if (isCurveLayout(spark, path)) appendCurve(ins, path, delta, mergeDir = mergeDir)
    else appendWithManifest(ins, path, delta, mergeDir)
  }

  /** File-level min/max manifest of a flat (curve-clustered) layout —
    * the Iceberg-manifest-lite for layouts without partition
    * directories: a tiny sidecar table (one row per data file) that a
    * planner consults INSTEAD of listing + footer-reading every file.
    * At 100 TB the manifest is the difference between a query
    * planning against millions of footers and planning against one
    * small table.  The `_manifest` prefix keeps it invisible to
    * readers of the data directory (Spark skips `_`/`.` paths).
    *
    * Entries are ROOT-RELATIVE paths, so a manifest is relocatable by
    * construction: moving/copying the layout directory needs no
    * rewrite pass — the Spark answer to the reference's dir_root
    * bookkeeping and its fix_dir_root repair script
    * (geo_index.py:193-205, fix_dir_root.py:1-22), where every index
    * stores an absolute root that breaks on relocation.
    */
  /** Per-file stats columns for a manifest over `df`: row count, x/y
    * envelope, the VALUE range when a `z` column is present (feeds
    * [[minMaxBoxViaManifest]] aggregate pushdown), the curve-key
    * range when a key column is present, and the TIME range when a
    * `t` column is present (epoch ms) — the temporal face of the same
    * sidecar.  Batches of a time-series ingest are naturally
    * time-bounded, so t0/t1 prune historical files out of
    * recent-window queries ([[queryBoxTimeViaManifest]]) even though
    * no layout dimension is time.  All three manifest writers
    * ([[writeManifest]]/[[appendWithManifest]]/[[appendCurve]])
    * MUST agree on this column set and order — `_manifest` part files
    * with diverging schemas would make reads sample-dependent.
    */
  // --- per-file key membership filters (manifest Bloom) --------------
  // k deterministic hash positions of a key into an M-bit space; the
  // per-file filter is the sorted SET of positions its keys touch
  // (bounded at M ints ≈ 16 KB worst case — a saturated filter prunes
  // nothing but stays small).  Position sets never false-negative, so
  // pruning on them is sound; false positives just open extra files
  // that the exact predicate then empties.  Sized for point-probe
  // workloads over ingest-grained files (~10^5 rows/file); a file with
  // ≫M distinct keys saturates gracefully.
  //
  // OPT-IN per layout: computing the position sets taxes every stats
  // pass (a collect_set per file per column), so a layout pays it
  // only for the columns it DECLARES via [[declareFilterCols]] —
  // a layout that will never see a point probe writes plain manifests
  // at the pre-filter cost.  Any column type works: integral keys
  // hash by value (a probe may pass int where the layout holds long),
  // everything else through xxhash64 of the canonical string form.
  private val BloomM = 4096L
  private val BloomP = 2147483647L // 2^31-1: (key mod P)·a stays < 2^62,
                                   // overflow-free under ANSI arithmetic
  private val BloomHashes = Seq((1103515245L, 12345L),
    (69069L, 362437L), (1664525L, 1013904223L))

  /** Canonical long form of a key for bloom hashing: integral types
    * by VALUE (so int/long probes of the same key agree), everything
    * else via xxhash64 of the string form.  Writer and prober must
    * class types identically for positions to line up.
    */
  private def bloomKeyCol(c: org.apache.spark.sql.Column,
                          dt: org.apache.spark.sql.types.DataType) = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => c.cast("long")
      case _ => xxhash64(c.cast("string"))
    }
  }

  private def bloomPosCol(c: org.apache.spark.sql.Column) = {
    val r = pmod(c, lit(BloomP))
    BloomHashes.map { case (a, b) => ((r * a + b) % BloomM).cast("int") }
  }

  /** Scala twin of [[bloomPosCol]] — MUST stay bit-identical to it
    * (probe positions computed driver-side from a metadata-sized key
    * list meet write-side positions computed by the column form).
    */
  private def bloomPositions(key: Long): Seq[Int] = {
    val r = ((key % BloomP) + BloomP) % BloomP
    BloomHashes.map { case (a, b) => ((r * a + b) % BloomM).toInt }
  }

  /** Declare the columns this layout maintains membership filters
    * for.  Takes effect at the next [[writeManifest]] (a rebuild) —
    * incremental appends before that compute the positions but the
    * existing manifest schema drops them, so probes degrade to full
    * scans until the rebuild records the new column.  Declaring no
    * columns (the default for every layout) keeps stats passes free
    * of the collect_set tax.
    */
  def declareFilterCols(spark: SparkSession, path: String,
                        cols: Seq[String]): Unit =
    writeTextFile(spark, s"$path/_filtercols", cols.mkString("\n"))

  /** The declared filter columns of a layout (empty = undeclared). */
  private[graft] def filterColsOf(spark: SparkSession,
                                  path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_filtercols")
    if (!fsOf(spark, path).exists(p)) Seq.empty
    else readTextFile(spark, p.toString).split("\n").toSeq
      .map(_.trim).filter(_.nonEmpty)
  }

  /** Manifest column holding `c`'s membership filter. */
  private def bloomColName(c: String) = s"${c}_bloom"

  private def manifestStatsAggs(df: DataFrame,
      filterCols: Seq[String]): Seq[org.apache.spark.sql.Column] = {
    // min/max ignore nulls, so an envelope alone cannot prove "every
    // row in this file passes a predicate on c" — a null c row fails
    // any comparison.  The per-column NON-NULL count closes that gap
    // (cn == n_rows ⇔ no nulls), which is what lets the SQL face
    // answer COUNT/MIN/MAX for interior files without opening them
    // ([[graft.sources.v2.GraftSource]] aggregate pushdown); it also
    // answers COUNT(c) exactly.  One long per column per file.
    // per-column SUM (`cs`) joins the envelope stats: file-level sums
    // compose associatively, so a pushed SUM/AVG (Spark rewrites AVG
    // to Sum/Count for partial pushdown) answers interior files from
    // the manifest unopened — sum(int/long) is stored as the LONG
    // Spark's Sum produces, fractional as DOUBLE, so the meta partial
    // is bit-identical to a fold of the file
    // sums only for NUMERIC columns: under ANSI semantics sum() over
    // a malformed batch's string column throws at stats time — before
    // recordEvolution's type-change refusal gets to say why — and a
    // string column has no sum anyway
    def numericCol(c: String): Boolean =
      df.columns.contains(c) && (df.schema(c).dataType match {
        case org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.FloatType |
             org.apache.spark.sql.types.DoubleType => true
        case _ => false
      })
    def sumOf(c: String): Seq[org.apache.spark.sql.Column] =
      if (numericCol(c)) Seq(sum(c).as(s"${c}s")) else Seq.empty
    val xy =
      if (df.columns.contains("x") && df.columns.contains("y"))
        Seq(min("x").as("x0"), max("x").as("x1"), count("x").as("xn")) ++
          sumOf("x") ++
          Seq(min("y").as("y0"), max("y").as("y1"), count("y").as("yn")) ++
          sumOf("y")
      else Seq.empty // key-only layouts (e.g. segment archives) skip envelopes
    val zv =
      if (df.columns.contains("z"))
        Seq(min("z").as("z0"), max("z").as("z1"), count("z").as("zn")) ++
          sumOf("z")
      else Seq.empty
    // kn (non-null key count) is what lets the SQL face certify a
    // keyed file INTERIOR to a key-band predicate without opening it
    // (kn == n_rows ⇔ no null keys; see the cn note above) — the
    // string-banded COUNT pushdown on writeKeyed layouts rides it
    val key = CurveKeyCols.find(df.columns.contains).toSeq.flatMap(k =>
      Seq(min(k).as("k0"), max(k).as("k1"), count(k).as("kn")))
    val time =
      if (df.columns.contains("t"))
        Seq(min("t").as("t0"), max("t").as("t1"), count("t").as("tn")) ++
          sumOf("t")
      else Seq.empty
    // per DECLARED column: k collect_sets (each ≤ M ints), merged
    // into one sorted set in statsOf's post-select — no explode,
    // stays one aggregation pass.  A declared column the batch lacks
    // (schema evolution) contributes nothing — its aligned manifest
    // row reads null = "unknown, must open".
    val bloom = filterCols.filter(df.columns.contains).flatMap { c =>
      bloomPosCol(bloomKeyCol(col(c), df.schema(c).dataType))
        .zipWithIndex.map { case (p, i) =>
          collect_set(p).as(s"__bloom_${c}__$i")
        }
    }
    Seq(count("*").as("n_rows")) ++ xy ++ zv ++ key ++ time ++ bloom
  }

  /** Per-file manifest rows of the layout/stage under `root`, with
    * `file` made root-relative.  input_file_name renders a URI
    * (file:///p, hdfs://nn/p, …); everything through "<root>/" is cut
    * by locating the root path inside it — scheme/authority-agnostic,
    * pure COLUMN expressions (no SQL-string interpolation: a root
    * containing a quote must not break the plan), distributed (a
    * 100 TB layout has millions of manifest rows).
    */
  private def statsOf(df: DataFrame, root: String, epoch: Long,
                      filterCols: Seq[String] = Seq.empty): DataFrame = {
    val aggs = manifestStatsAggs(df, filterCols)
    val raw = df.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      // the ONE definition of file identity — manifest entries and
      // positional tombstones must agree on it, so both go through
      // relativeTo
      .withColumn("file", relativeTo(root)(col("file")))
      // the layout epoch this file became visible at — incremental
      // appends stamp increasing epochs, giving [[queryBoxAsOf]] its
      // snapshot axis for free (one BIGINT per manifest row)
      .withColumn("epoch", lit(epoch))
    filterCols.foldLeft(raw) { (acc, c) =>
      val parts = acc.columns.filter(_.startsWith(s"__bloom_${c}__"))
      if (parts.isEmpty) acc
      else {
        val merged = sort_array(
          parts.map(col).reduce((a, b) => array_union(a, b)))
        // a filter that covers (nearly) the whole position space
        // can't prune anything — store NULL ("unknown, must open")
        // instead, so saturated files cost the probe zero join work
        // and the manifest zero bytes
        acc.withColumn(bloomColName(c),
            when(size(merged) >= lit((BloomM * 15 / 16).toInt), lit(null))
              .otherwise(merged))
          .drop(parts.toIndexedSeq: _*)
      }
    }
  }

  // --- changelog floor: the streaming/incremental position contract ---
  // A manifest REBUILD (writeManifest) and a compaction both re-stamp
  // every surviving row with the current epoch — history resets, and
  // an incremental consumer positioned before the reset can no longer
  // tell re-stamped old rows from new ones.  The `_changelog` sidecar
  // records each reset: its floor epoch, the era it replaced
  // (prevFloor) and that era's last data epoch (prevMax), and whether
  // the reset was PRESERVING — i.e. it introduced no rows that were
  // absent from the pre-reset manifest (a fresh-manifest re-stamp or
  // a clean compaction; deletes don't matter to an appends-only
  // changelog, rows joining from a STALE manifest's unmanifested
  // files do).  A consumer checkpointed in the replaced era may FAST-
  // FORWARD across a preserving reset iff it had consumed through
  // prevMax — everything re-stamped at the floor is then a row it
  // already saw; anything else must restart, loudly.

  /** One `_changelog` reset record — see the section note above. */
  final case class ChangelogFloor(floor: Long, prevFloor: Long,
                                  prevMax: Long, preserved: Boolean)

  /** The layout's current changelog floor.  Legacy layouts (no
    * `_changelog` yet) derive the floor from the oldest surviving
    * manifest epoch, with no fast-forward era.
    */
  private[graft] def changelogFloor(spark: SparkSession,
                                    path: String): ChangelogFloor = {
    val f = s"$path/_changelog"
    if (fsOf(spark, path).exists(new org.apache.hadoop.fs.Path(f))) {
      val parts = readTextFile(spark, f).split("\\s+")
      ChangelogFloor(parts(0).toLong, parts(1).toLong, parts(2).toLong,
        parts(3) == "1")
    } else {
      val m = s"$path/_manifest"
      val floor =
        if (!fsOf(spark, path).exists(new org.apache.hadoop.fs.Path(m))) 0L
        // select+collect folds to the driver on a cached manifest
        // (zero jobs) where an .agg would still plan a tiny job
        else manifestDf(spark, path).select("epoch").collect() match {
          case rs if rs.isEmpty || rs.forall(_.isNullAt(0)) => 0L
          case rs => rs.iterator.filterNot(_.isNullAt(0)).map(_.getLong(0)).min
        }
      ChangelogFloor(floor, -1L, -1L, preserved = false)
    }
  }

  private def writeChangelogFloor(spark: SparkSession, path: String,
                                  c: ChangelogFloor): Unit =
    writeTextFile(spark, s"$path/_changelog",
      s"${c.floor} ${c.prevFloor} ${c.prevMax} ${if (c.preserved) 1 else 0}")

  /** A compactor's note to the writeManifest that follows it: the
    * rewrite landed at `epoch`, it was `preserved` (started from a
    * FRESH manifest — nothing unmanifested joined), and the era it
    * retired had floor `prevFloor` / last data epoch `prevMax`
    * (readable only BEFORE the swap discards the old manifest).
    */
  private def writeRewriteHint(spark: SparkSession, path: String,
                               epoch: Long, preserved: Boolean,
                               prevFloor: Long, prevMax: Long): Unit =
    writeTextFile(spark, s"$path/_rewrite_hint",
      s"$epoch ${if (preserved) 1 else 0} $prevFloor $prevMax")

  private def takeRewriteHint(spark: SparkSession, path: String)
      : Option[(Long, Boolean, Long, Long)] = {
    val f = s"$path/_rewrite_hint"
    val fs = fsOf(spark, path)
    if (!fs.exists(new org.apache.hadoop.fs.Path(f))) None
    else {
      val parts = readTextFile(spark, f).split("\\s+")
      fs.delete(new org.apache.hadoop.fs.Path(f), false)
      Some((parts(0).toLong, parts(1) == "1", parts(2).toLong,
        parts(3).toLong))
    }
  }

  /** The last data epoch a manifest describes (0 when absent/empty) —
    * the caught-up threshold a fast-forwarding consumer must have
    * reached.
    */
  private def manifestMaxEpoch(spark: SparkSession, path: String): Long = {
    val m = s"$path/_manifest"
    if (!fsOf(spark, path).exists(new org.apache.hadoop.fs.Path(m))) 0L
    else manifestDf(spark, path).select("epoch").collect() match {
      case rs if rs.isEmpty || rs.forall(_.isNullAt(0)) => 0L
      case rs => rs.iterator.filterNot(_.isNullAt(0)).map(_.getLong(0)).max
    }
  }

  def writeManifest(spark: SparkSession, path: String): Unit = {
    // a manifest rebuild is the layout's repair verb — resolve any
    // crash-stranded merge stages first (adopt landed, roll forward
    // in-flight, discard void) so the rebuilt manifest describes a
    // layout with no unresolved `_merge_staging` entries; likewise
    // roll forward a crashed scoped compaction (rebuild=false — this
    // very rebuild is the heal's manifest step)
    adoptStagedMerges(spark, path)
    healCompactStage(spark, path, rebuild = false)
    // the rebuild is also the schema-evolution record/repair verb: a
    // batch that landed through the plain-append fallback
    // (stale-manifest degradation) may carry columns no reader can
    // currently see — including a FIRST evolution on a layout with no
    // `_schema` sidecar yet, where single-footer inference is
    // nondeterministic about the new column.  The rebuild already
    // pays a full layout pass, so here — and only here — a
    // mergeSchema footer sweep is the right tool: reconcile declared
    // ∪ file-union ∪ partition columns and ALWAYS record it (a
    // homogeneous layout gets a sidecar identical to inference — no
    // behavior change; a heterogeneous one becomes deterministic).
    // the whole rebuild — schema reconcile, stats scan, stamp — is
    // one locked commit: a concurrent append must not interleave its
    // stats between the overwrite and the epoch snapshot (its rows
    // would vanish from a "fresh" manifest), a concurrent widener's
    // sidecar must not be clobbered by a stale-read union, and two
    // rebuilds must not share `_manifest`'s _temporary tree
    CommitLock.withLock(spark, path) {
      // a rebuild is the repair verb: finish a crashed metadata swap
      // or rollback first, so the rebuild describes their final state
      healManifestCoalesce(spark, path)
      healRollback(spark, path)
      // changelog bookkeeping, BEFORE the old manifest is replaced:
      // this rebuild re-stamps every row at the current epoch — a
      // history reset the `_changelog` record describes for
      // streaming/incremental consumers (see the section note above)
      val prevRecord = changelogFloor(spark, path)
      val prevMax = manifestMaxEpoch(spark, path)
      val freshAtEntry = manifestFresh(spark, path, verify = false)
      val hint = takeRewriteHint(spark, path)
      val newFloor = readEpoch(spark, path)
      val record =
        if (freshAtEntry)
          // pure re-stamp of a fully-described layout
          if (prevRecord.floor == newFloor) prevRecord // idempotent rebuild
          else ChangelogFloor(newFloor, prevRecord.floor, prevMax,
            preserved = true)
        else hint match {
          // a compaction's note: the rewrite landed at exactly this
          // epoch and nothing unmanifested joined it
          case Some((he, hp, hf, hm)) if he == newFloor =>
            ChangelogFloor(newFloor, hf, hm, preserved = hp)
          case _ =>
            // stale rebuild: unmanifested rows join the floor —
            // consumers cannot fast-forward over them
            ChangelogFloor(newFloor, prevRecord.floor, prevMax,
              preserved = false)
        }
      // the mergeSchema footer sweep exists to discover columns the
      // sidecar does not know (degraded plain appends, out-of-band
      // files).  When the covering handshake is intact, every file
      // landed through a schema-recording commit — the sweep is
      // provably a no-op, so skip its O(files) footer job and the
      // second inference listing outright.
      if (!schemaChainIntact(spark, path)) {
        val flatUnion = spark.read
          .option("recursiveFileLookup", "true").option("mergeSchema", "true")
          .parquet(path).schema
        // the partition-aware read's only unique contribution is the bin
        // columns — already in an existing sidecar, so pay that second
        // listing only on first record
        val base = layoutSchema(spark, path)
          .getOrElse(spark.read.parquet(path).schema)
        val unseen = flatUnion.fields
          .filterNot(f => base.fieldNames.contains(f.name))
        writeSchemaFile(spark, path, org.apache.spark.sql.types.StructType(
          base.fields ++ unseen.map(_.copy(nullable = true))))
      }
      statsOf(readerFor(spark, path, flat = false).parquet(path),
          rootPathOf(spark, path), readEpoch(spark, path),
          filterColsOf(spark, path))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$path/_manifest")
      // record the layout epoch the manifest describes — the O(1)
      // staleness handshake with append()
      writeEpochFile(spark, s"$path/_manifest_epoch", readEpoch(spark, path))
      writeChangelogFloor(spark, path, record)
      // the rebuild just reconciled `_schema` against ground truth —
      // the covering handshake is (re)established at this epoch
      stampSchemaEpoch(spark, path)
    }
  }

  // --- layout epoch: O(1) staleness signal ---------------------------
  // append() and compact() bump a one-line `_epoch` sidecar at the
  // layout root; writeManifest snapshots it into `_manifest_epoch`.
  // A manifest is fresh iff the two match — one tiny file read instead
  // of a full recursive listing of (at 100 TB) millions of objects.
  // External mutations that bypass append()/compact() are caught by
  // the opt-in verify=true listing check, which compares file sets
  // BOTH ways (additions and deletions).

  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  // --- driver-side sidecar cache -------------------------------------
  // Planning and commit verbs consult `_manifest` and the tombstone
  // sidecars MANY times per statement, and each `spark.read.parquet(…)
  // .collect()` is a full distributed job — pure scheduler overhead
  // for files that are kilobytes (one SQL UPDATE paid ~24 sequential
  // jobs, most of them metadata re-reads).  The cache keys every
  // sidecar read on its exact file listing (name, length, mtime), so
  // ANY writer — this JVM, another session, an external process —
  // invalidates it by construction, with no epoch handshake to trust.
  // Hits return a LocalRelation: filter/select/collect fold to the
  // driver (ZERO jobs), and joins against it broadcast naturally.
  // Sidecars past the size cap read distributed and uncached — the
  // 100 TB manifest keeps its scan; only metadata-scale files (the
  // Iceberg rule: manifests are driver-cacheable until they aren't)
  // ride the cache.  Bounded LRU by file-size proxy.
  private val MetaEntryCapBytes = 8L << 20
  private val MetaCacheCapBytes = 64L << 20
  private val metaCache = new java.util.LinkedHashMap[
    String, (org.apache.spark.sql.types.StructType,
             Array[org.apache.spark.sql.Row], Long)](64, 0.75f, true)
  private var metaCacheBytes = 0L

  /** Test hook: cached-sidecar hit/miss counters (MetaCacheSpec). */
  private[graft] val metaHits = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] val metaMisses = new java.util.concurrent.atomic.AtomicLong(0)

  /** Read sidecar parquet (a directory or explicit part files) through
    * the driver-side cache.  Falls back to the plain distributed read —
    * with its exact error semantics — when the listing fails or the
    * sidecar exceeds the entry cap.
    */
  private[graft] def metaParquet(spark: SparkSession,
                                 inputs: Seq[String],
                                 dropColSuffix: Option[String] = None)
      : DataFrame = {
    def plain(knownSchema: Option[org.apache.spark.sql.types.StructType] =
                None) = {
      val reader = knownSchema match {
        case Some(s) => spark.read.schema(s)
        case None => spark.read
      }
      val df = reader.parquet(inputs: _*)
      dropColSuffix match {
        case Some(sfx) => df.drop(df.columns.filter(_.endsWith(sfx)): _*)
        case None => df
      }
    }
    // driver-side schema recovery for the miss path: sidecars are
    // Spark-written, so each part footer records the exact StructType
    // (org.apache.spark.sql.parquet.row.metadata — what inference
    // itself prefers).  When every part agrees, handing the schema to
    // the read skips the one-task inference JOB the plain read plans
    // per sidecar change; disagreement or any read hiccup falls back
    // to full inference.
    def recordedSchema(sts: Seq[org.apache.hadoop.fs.FileStatus])
        : Option[org.apache.spark.sql.types.StructType] =
      try {
        import org.apache.parquet.hadoop.ParquetFileReader
        import org.apache.parquet.hadoop.util.HadoopInputFile
        val conf = spark.sparkContext.hadoopConfiguration
        val jsons = sts.map { st =>
          val fr = ParquetFileReader.open(HadoopInputFile.fromPath(
            st.getPath, conf))
          try fr.getFooter.getFileMetaData.getKeyValueMetaData
            .get("org.apache.spark.sql.parquet.row.metadata")
          finally fr.close()
        }
        if (jsons.isEmpty || jsons.exists(_ == null) ||
            jsons.distinct.length != 1) None
        else Some(org.apache.spark.sql.types.DataType.fromJson(jsons.head)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      } catch { case scala.util.control.NonFatal(_) => None }
    val listed: Option[Seq[org.apache.hadoop.fs.FileStatus]] =
      try {
        val fs = fsOf(spark, inputs.head)
        Some(inputs.flatMap { in =>
          val p = new org.apache.hadoop.fs.Path(in)
          val st = fs.getFileStatus(p)
          if (st.isDirectory)
            fs.listStatus(p).toSeq.filter { s =>
              val n = s.getPath.getName
              s.isFile && !n.startsWith("_") && !n.startsWith(".")
            }
          else Seq(st)
        })
      } catch { case _: java.io.IOException => None }
    listed match {
      case Some(sts) if sts.map(_.getLen).sum <= MetaEntryCapBytes =>
        val sig = sts.map(s =>
            s"${s.getPath}#${s.getLen}#${s.getModificationTime}")
          .sorted.mkString("|") + dropColSuffix.fold("")("!" + _)
        val bytes = sts.map(_.getLen).sum
        val hit = metaCache.synchronized(Option(metaCache.get(sig)))
        val (schema, rows) = hit match {
          case Some((sc, rs, _)) => metaHits.incrementAndGet(); (sc, rs)
          case None =>
            metaMisses.incrementAndGet()
            val df = plain(recordedSchema(sts))
            val rs = df.collect()
            val sc = df.schema
            metaCache.synchronized {
              if (metaCache.put(sig, (sc, rs, bytes)) == null)
                metaCacheBytes += bytes
              val it = metaCache.entrySet().iterator()
              while (metaCacheBytes > MetaCacheCapBytes && it.hasNext) {
                metaCacheBytes -= it.next().getValue._3
                it.remove()
              }
            }
            (sc, rs)
        }
        spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), schema)
      case _ => plain()
    }
  }

  private[graft] def metaParquet(spark: SparkSession,
                                 input: String): DataFrame =
    metaParquet(spark, Seq(input))

  // Schema-only cache for the DISTRIBUTED full-manifest read
  // ([[bloomCandidateFiles]]): the rows must stay in executors (the
  // filter arrays are the manifest's bulk), but the footer-inference
  // job per read is pure fixed overhead.  Keyed on the exact part
  // listing (name, length, mtime) — any writer invalidates it.
  private val manifestSchemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  private[graft] def manifestParquetWithCachedSchema(
      spark: SparkSession, path: String): DataFrame = {
    val dir = s"$path/_manifest"
    val sig =
      try {
        val fs = fsOf(spark, dir)
        fs.listStatus(new org.apache.hadoop.fs.Path(dir)).iterator
          .filter(_.isFile)
          .map(s => s"${s.getPath}#${s.getLen}#${s.getModificationTime}")
          .toSeq.sorted.mkString("|")
      } catch { case _: java.io.IOException => "" }
    if (sig.isEmpty) return spark.read.parquet(dir)
    val hit = manifestSchemaCache.get(sig)
    if (hit != null) spark.read.schema(hit).parquet(dir)
    else {
      val df = spark.read.parquet(dir)
      if (manifestSchemaCache.size() > 1024) manifestSchemaCache.clear()
      manifestSchemaCache.put(sig, df.schema)
      df
    }
  }

  // Driver-side cache of the manifest's ON-DISK schema for
  // commitStaged's stats alignment.  Every manifest part shares one
  // schema (the alignment invariant commitStaged itself enforces) and
  // appends only ADD part files, so one surviving part's footer
  // identifies the schema for the directory's lifetime — keyed
  // (path, len, mtime) like the other metadata caches.  The schema is
  // read from Spark's own footer metadata
  // (org.apache.spark.sql.parquet.row.metadata — the exact StructType
  // the writer recorded, which inference itself prefers), so this is
  // bit-identical to `spark.read.parquet(dir).schema` while costing a
  // driver footer read instead of a one-task inference JOB per commit.
  private val manifestPartSchemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  private def manifestOnDiskSchema(spark: SparkSession, path: String)
      : org.apache.spark.sql.types.StructType = {
    val dir = s"$path/_manifest"
    def inferred = spark.read.parquet(dir).schema
    try {
      val fs = fsOf(spark, dir)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).iterator
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .toSeq.sortBy(_.getPath.toString).headOption
      part match {
        case None => inferred
        case Some(st) =>
          val key = s"${st.getPath}#${st.getLen}#${st.getModificationTime}"
          val hit = manifestPartSchemaCache.get(key)
          if (hit != null) hit
          else {
            import org.apache.parquet.hadoop.ParquetFileReader
            import org.apache.parquet.hadoop.util.HadoopInputFile
            val fr = ParquetFileReader.open(HadoopInputFile.fromPath(
              st.getPath, spark.sparkContext.hadoopConfiguration))
            val json =
              try fr.getFooter.getFileMetaData.getKeyValueMetaData
                .get("org.apache.spark.sql.parquet.row.metadata")
              finally fr.close()
            val s =
              if (json == null) inferred // non-Spark-written part: infer
              else org.apache.spark.sql.types.DataType.fromJson(json)
                .asInstanceOf[org.apache.spark.sql.types.StructType]
            if (manifestPartSchemaCache.size() > 1024)
              manifestPartSchemaCache.clear()
            manifestPartSchemaCache.put(key, s)
            s
          }
      }
    } catch { case scala.util.control.NonFatal(_) => inferred }
  }

  /** The layout's `_manifest` through the sidecar cache — SLIM: the
    * per-file membership-filter arrays (`*_bloom`) are dropped before
    * the driver-side collect.  Planning rollups touch envelopes,
    * counts, and epochs; the filter arrays are the manifest's bulk
    * and must stay in executors (the 61v contract — at 100 TB they
    * are megabytes per thousand files, and [[bloomCandidateFiles]]
    * probes them distributed).
    */
  private[graft] def manifestDf(spark: SparkSession, path: String): DataFrame =
    metaParquet(spark, Seq(s"$path/_manifest"), dropColSuffix = Some("_bloom"))

  /** Atomic one-file text write: sidecars like `_epoch` are read
    * UNLOCKED by every reader, so a truncate-then-write (hadoop
    * create(overwrite)) exposes a torn empty file mid-write.  The
    * `file` scheme writes a temp sibling and ATOMIC_MOVEs it over
    * (readers see old or new, never empty); other schemes temp+rename
    * (HDFS rename is atomic; the delete-first fallback's brief
    * absence window reads as epoch 0 ⇒ stale ⇒ the safe fallback).
    */
  private def writeTextFile(spark: SparkSession, file: String, text: String): Unit = {
    val fs = fsOf(spark, file)
    val dst = new org.apache.hadoop.fs.Path(file)
    if (fs.getUri.getScheme == "file") {
      val p = java.nio.file.Paths.get(dst.toUri.getPath)
      java.nio.file.Files.createDirectories(p.getParent)
      val tmp = p.resolveSibling(p.getFileName.toString + ".tmp-" +
        java.util.UUID.randomUUID().toString.take(8))
      java.nio.file.Files.write(tmp, text.getBytes("UTF-8"))
      // a stale hadoop checksum sibling would fail future reads of
      // content that no longer matches it
      java.nio.file.Files.deleteIfExists(
        p.resolveSibling("." + p.getFileName.toString + ".crc"))
      java.nio.file.Files.move(tmp, p,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else {
      val tmp = new org.apache.hadoop.fs.Path(file + ".tmp-" +
        java.util.UUID.randomUUID().toString.take(8))
      val out = fs.create(tmp, true)
      try out.write(text.getBytes("UTF-8")) finally out.close()
      if (!fs.rename(tmp, dst)) {
        fs.delete(dst, false)
        require(fs.rename(tmp, dst), s"atomic text write failed for $file")
      }
    }
  }

  // --- marked commits: the streaming sink's exactly-once barrier ---
  // A marker-carrying append records `<marker>.intent` (journaling the
  // staging dir) ATOMICALLY before the first rename and stamps the
  // marker itself right after the last — both inside the append's
  // locked commit — so a replayer can always classify the crashed
  // attempt: marker present ⇒ the batch fully landed (no-op the
  // replay); intent present ⇒ roll the renames FORWARD and stamp the
  // marker (the batch lands exactly once, manifest stats abandoned ⇒
  // stale ⇒ correct unpruned reads until writeManifest); neither ⇒
  // nothing visible landed, run the commit in full.  This closes the
  // "crash between append and marker" duplicate window a two-step
  // marker protocol has.

  private def markIntent(spark: SparkSession, marker: Option[String],
                         tmp: String): Unit =
    marker.foreach(m => writeTextFile(spark, m + ".intent", tmp))

  private def markLanded(spark: SparkSession,
                         marker: Option[String]): Unit =
    marker.foreach { m =>
      writeTextFile(spark, m, "1")
      try fsOf(spark, m).delete(
        new org.apache.hadoop.fs.Path(m + ".intent"), false)
      catch { case _: java.io.IOException => () }
    }

  /** Replay barrier for marker-carrying commits: true iff the marked
    * commit already landed, healing a crash-interrupted attempt
    * forward first (see the section note).  False ⇒ the caller must
    * run the commit in full.
    */
  private[graft] def healMarkedCommit(spark: SparkSession, path: String,
                                      marker: String): Boolean = {
    val fs = fsOf(spark, path)
    val mp = new org.apache.hadoop.fs.Path(marker)
    val ip = new org.apache.hadoop.fs.Path(marker + ".intent")
    if (fs.exists(mp)) {
      if (fs.exists(ip)) fs.delete(ip, false)
      return true
    }
    if (!fs.exists(ip)) return false
    CommitLock.withLock(spark, path) {
      // re-check under the lock: a concurrent replayer may have
      // finished the heal between our lock-free look and here
      if (fs.exists(mp)) { if (fs.exists(ip)) fs.delete(ip, false); true }
      else if (!fs.exists(ip)) false
      else {
        val tmp = readTextFile(spark, ip.toString)
        // tmp still present ⇒ renames incomplete: finish them (the
        // loop is per-file idempotent — already-moved files are gone
        // from tmp).  tmp gone ⇒ the rename loop completed and only
        // the marker stamp was lost.
        if (fs.exists(new org.apache.hadoop.fs.Path(tmp)))
          moveStagedFiles(spark, path, tmp)
        markLanded(spark, Some(marker))
        true
      }
    }
  }

  private def readTextFile(spark: SparkSession, file: String): String = {
    val fs = fsOf(spark, file)
    val in = fs.open(new org.apache.hadoop.fs.Path(file))
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
      "UTF-8").trim
    finally in.close()
  }

  private[sources] def writeEpochFile(spark: SparkSession, file: String, epoch: Long): Unit =
    writeTextFile(spark, file, epoch.toString)

  private[sources] def readEpochFile(spark: SparkSession, file: String): Long = {
    val fs = fsOf(spark, file)
    val p = new org.apache.hadoop.fs.Path(file)
    if (!fs.exists(p)) 0L
    else {
      val in = fs.open(p)
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        "UTF-8").trim.toLong
      finally in.close()
    }
  }

  /** Current epoch of the layout at `path` (0 for a fresh write). */
  def readEpoch(spark: SparkSession, path: String): Long =
    readEpochFile(spark, s"$path/_epoch")

  /** Wall-clock commit stamp for `epoch` — one tiny file per commit
    * in the `_epoch_times` sidecar, the map `TIMESTAMP AS OF` resolves
    * through ([[epochAtTime]]).  Written at every `_epoch` advance and
    * at layout creation (epoch 0), OUTSIDE any atomicity requirement:
    * the epoch file stays the commit pointer, the stamp is an index of
    * it.  A missing stamp (a layout created before stamping existed, a
    * crash between a compaction swap and its stamp) degrades only the
    * TIMESTAMP axis — and loudly, in [[epochAtTime]]; `VERSION AS OF`
    * never consults this sidecar.
    */
  private def stampEpochTime(spark: SparkSession, root: String,
                             epoch: Long): Unit =
    writeTextFile(spark, s"$root/_epoch_times/$epoch",
      System.currentTimeMillis().toString)

  /** The commit epoch visible at wall-clock `tsMillis` — the largest
    * stamped epoch whose commit time is at-or-before it (the Iceberg
    * timestamp→snapshot rule).  One sidecar listing plus one tiny read
    * per commit — metadata-scale (commits are metadata events; even a
    * years-old streaming layout has thousands, not millions).  Times
    * before the first stamped commit, and layouts with no stamps at
    * all, REFUSE: guessing an epoch would time-travel to wrong data.
    * After a whole-layout compaction the stamps survive (the sidecar
    * is carried through the swap), so a pre-compact timestamp still
    * resolves to its true epoch — whose READ then refuses exactly as
    * `VERSION AS OF` does after a history reset, rather than silently
    * serving the compacted present.
    */
  /** All stamped (epoch, wall-ms) commit pairs, unsorted — the
    * `CALL system.history` / `TIMESTAMP AS OF` axis.  One sidecar
    * listing plus one tiny read per commit; empty for layouts written
    * before time stamping existed.
    */
  def epochTimes(spark: SparkSession, path: String): Seq[(Long, Long)] = {
    val fs = fsOf(spark, path)
    val dir = new org.apache.hadoop.fs.Path(s"$path/_epoch_times")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap { st =>
      try Some((st.getPath.getName.toLong,
        readTextFile(spark, st.getPath.toString).toLong))
      catch { case _: NumberFormatException => None }
    }
  }

  def epochAtTime(spark: SparkSession, path: String, tsMillis: Long): Long = {
    val stamps = epochTimes(spark, path)
    require(stamps.nonEmpty,
      s"$path has no commit-time stamps (_epoch_times) — layouts " +
        "written before time stamping carry only the VERSION AS OF axis")
    val at = stamps.filter(_._2 <= tsMillis)
    require(at.nonEmpty, {
      val first = stamps.minBy(_._2)
      s"TIMESTAMP AS OF ${tsMillis}ms predates $path's first stamped " +
        s"commit (epoch ${first._1} at ${first._2}ms) — nothing existed yet"
    })
    // max by (time, epoch): several commits can share a millisecond
    at.maxBy(s => (s._2, s._1))._1
  }

  /** The manifest's DESCRIBED prefix: every commit at-or-before this
    * epoch has its rows fully in the sidecar (`_manifest_epoch`, the
    * freshness snapshot).  None when no manifest exists.  The
    * streaming source advances through this, never through `_epoch` —
    * a mid-commit or degraded append keeps `_epoch` ahead, and those
    * rows are not soundly readable by epoch yet.
    */
  private[graft] def describedEpoch(spark: SparkSession,
                                    path: String): Option[Long] =
    if (!fsOf(spark, path)
        .exists(new org.apache.hadoop.fs.Path(s"$path/_manifest"))) None
    else Some(readEpochFile(spark, s"$path/_manifest_epoch"))

  // --- declared schema: add-column evolution -------------------------
  // A layout whose append batches have not all carried the same
  // columns records its UNION schema in a one-file `_schema` sidecar
  // (StructType JSON, written by appendWithManifest the first time a
  // batch widens or narrows the column set).  Readers then supply that
  // schema EXPLICITLY instead of inferring from a parquet footer:
  // by-name resolution null-fills any column a file predates — the
  // Iceberg add-column model — with no `mergeSchema` footer storm (at
  // 100 TB "read every footer to learn the schema" is a metadata scan
  // of millions of objects; one sidecar read is O(1)).  Layouts that
  // never evolve have no sidecar and read exactly as before.

  /** The layout's declared read schema, when evolution has recorded
    * one (bin partition columns included). */
  def layoutSchema(spark: SparkSession, path: String): Option[org.apache.spark.sql.types.StructType] = {
    val f = s"$path/_schema"
    if (!fsOf(spark, f).exists(new org.apache.hadoop.fs.Path(f))) None
    else Some(org.apache.spark.sql.types.DataType.fromJson(
      readTextFile(spark, f)).asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  private def writeSchemaFile(spark: SparkSession, path: String,
                              s: org.apache.spark.sql.types.StructType): Unit =
    writeTextFile(spark, s"$path/_schema", s.json)

  // --- `_schema_epoch`: the covering-schema handshake ----------------
  // Stamped (:= current `_epoch`) ONLY at points where the `_schema`
  // sidecar provably describes every data file in the layout: the
  // layout writers (which know their own output schema exactly), the
  // create* DDL verbs, writeManifest's own reconciliation, and — when
  // the chain was already intact at entry — the schema-maintaining
  // append commits (recordEvolution ran) and delete-only commits
  // (no files added).  Plain/degraded appends bump `_epoch` without
  // re-stamping, breaking the chain.  writeManifest's mergeSchema
  // footer sweep — an O(files) job whose only purpose is discovering
  // columns the sidecar does not know — is skipped exactly when the
  // chain is intact (`_schema_epoch` == `_epoch`), because then the
  // sweep is provably a no-op.  Out-of-band writers that bypass the
  // epoch protocol are outside this trust model, as they already are
  // for manifest freshness (the verify=true listing check remains
  // their audit).
  private def stampSchemaEpoch(spark: SparkSession, path: String): Unit =
    writeEpochFile(spark, s"$path/_schema_epoch", readEpoch(spark, path))

  private def schemaChainIntact(spark: SparkSession, path: String): Boolean = {
    val f = s"$path/_schema_epoch"
    fsOf(spark, path).exists(new org.apache.hadoop.fs.Path(s"$path/_schema")) &&
      fsOf(spark, path).exists(new org.apache.hadoop.fs.Path(f)) &&
      readEpochFile(spark, f) == readEpoch(spark, path)
  }

  /** Record the full declared schema and stamp the covering handshake
    * — the layout writers' one-call convention.  Every field is
    * recorded NULLABLE: a later evolved append may null-fill it, and
    * a falsely non-null declaration lets Catalyst fold count(c) into
    * count(*) — counting nulls (caught by SqlAggPushdownSpec when a
    * primitive-typed source df recorded nullable=false verbatim).
    */
  private[graft] def recordCoveringSchema(spark: SparkSession, path: String,
      s: org.apache.spark.sql.types.StructType): Unit = {
    writeSchemaFile(spark, path, org.apache.spark.sql.types.StructType(
      s.fields.map(_.copy(nullable = true))))
    stampSchemaEpoch(spark, path)
  }

  private val BinCols = Seq("bin_x", "bin_y")

  /** `s` without the bin partition columns — the shape of the data
    * FILES themselves, which is what explicit file-list and
    * recursiveFileLookup reads see (no directory-derived columns). */
  private def dataSchemaOf(s: org.apache.spark.sql.types.StructType) =
    org.apache.spark.sql.types.StructType(
      s.fields.filterNot(f => BinCols.contains(f.name)))

  /** spark.read with the declared schema applied when the layout has
    * one.  `flat = true` for file-list/recursive reads (partition
    * directories contribute no columns there); `flat = false` for
    * partition-discovering reads of the layout root. */
  private def readerFor(spark: SparkSession, path: String, flat: Boolean) =
    layoutSchema(spark, path) match {
      case Some(s) => spark.read.schema(if (flat) dataSchemaOf(s) else s)
      case None    => spark.read
    }

  /** Data schema from ONE manifest-named file's footer (the bin-layout
    * analog of [[curveKeyColOf]]): O(1) instead of a layout listing —
    * schema discovery on the per-append hot path must not scale with
    * layout size.  Falls back to the directory read when the manifest
    * is empty or the named file was compacted away. */
  private def manifestHeadSchema(spark: SparkSession, path: String) =
    manifestDf(spark, path).select("file").head(1) match {
      case Array(r) =>
        val f = s"$path/${r.getString(0)}"
        if (fsOf(spark, f).exists(new org.apache.hadoop.fs.Path(f)))
          spark.read.parquet(f).schema
        else dataSchemaOf(spark.read.parquet(path).schema)
      case _ => dataSchemaOf(spark.read.parquet(path).schema)
    }

  /** Add-column evolution, shared by [[appendWithManifest]] and
    * [[appendCurve]]: batches need not all look alike.  Record the
    * union schema BEFORE anything stages — a declared column with no
    * data behind it reads as nulls, so a crash between the sidecar
    * write and the commit is harmless.  Type CHANGES are refused
    * outright: by-name resolution cannot relate two types, and a
    * silent cast is the corruption class the r7 advice flagged on
    * upsertKeyed.  Schema DISCOVERY here is one sidecar read or one
    * manifest-named footer — never a layout listing: per-append cost
    * must stay O(batch) (an InMemoryFileIndex over the layout is the
    * O(files) object-store walk curveKeyColOf already refuses).
    */
  private def recordEvolution(spark: SparkSession, path: String,
                              df: DataFrame): Unit = {
    val sidecar = layoutSchema(spark, path)
    val declaredData = sidecar.map(dataSchemaOf)
      .getOrElse(manifestHeadSchema(spark, path))
    df.schema.fields.foreach { b =>
      declaredData.fields.find(_.name == b.name).foreach { f =>
        require(f.dataType == b.dataType,
          s"schema evolution cannot change column ${f.name}: " +
            s"${f.dataType.simpleString} -> ${b.dataType.simpleString}; " +
            "add a new column instead")
      }
    }
    val addedCols = df.schema.fields
      .filterNot(f => declaredData.fieldNames.contains(f.name) ||
        BinCols.contains(f.name))
    val batchNarrows = declaredData.fields
      .exists(f => !df.schema.fieldNames.contains(f.name))
    if (addedCols.nonEmpty || (batchNarrows && sidecar.isEmpty)) {
      // widening appends the new fields (nullable — old files lack
      // them); a narrowing batch on a sidecar-less layout pins the
      // full schema so inference can never pick the narrow footer.
      // Only THIS rare branch pays a partition-aware directory read
      // (once per evolution event, to capture the bin columns).
      val full = sidecar.getOrElse(spark.read.parquet(path).schema)
      writeSchemaFile(spark, path, org.apache.spark.sql.types.StructType(
        full.fields ++ addedCols.map(_.copy(nullable = true))))
    }
  }

  private def bumpEpoch(spark: SparkSession, path: String): Unit = {
    val e = readEpoch(spark, path) + 1
    writeEpochFile(spark, s"$path/_epoch", e)
    stampEpochTime(spark, path, e)
  }

  /** Data files currently on disk under `path` (recursive, skipping
    * `_`/`.`-prefixed sidecars like `_manifest` and `_batches`) —
    * the ground truth a manifest is checked against.
    */
  private def listDataFiles(spark: SparkSession, path: String): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = Seq.newBuilder[String]
    def walk(p: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) {
          if (st.isDirectory) walk(st.getPath)
          else if (n.endsWith(".parquet")) out += st.getPath.toUri.getPath
        }
      }
    walk(new org.apache.hadoop.fs.Path(path))
    out.result()
  }

  /** Does the layout hold ANY data file?  Early-exit walk (first hit
    * wins) — the DROP TABLE emptiness check must not pay a full
    * listing on the table it refuses to drop.
    */
  private[graft] def hasAnyDataFile(spark: SparkSession,
                                    path: String): Boolean = {
    val fs = fsOf(spark, path)
    def walk(p: org.apache.hadoop.fs.Path): Boolean =
      fs.listStatus(p).exists { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") &&
          (if (st.isDirectory) walk(st.getPath) else n.endsWith(".parquet"))
      }
    fs.exists(new org.apache.hadoop.fs.Path(path)) &&
      walk(new org.apache.hadoop.fs.Path(path))
  }

  /** Remove the layout directory AND its crash-debris siblings
    * (`.staging-*` / `.pre-compact` / `.compact` — the vacuum
    * patterns) — the destructive half of DROP TABLE PURGE.  Takes the
    * commit lock first so a mid-commit writer is never pulled out
    * from under its rename loop; the lock vanishes with the
    * directory, which is the point — there is nothing left to hold.
    */
  private[graft] def dropLayout(spark: SparkSession, path: String): Unit =
    CommitLock.withLock(spark, path) {
      val fs = fsOf(spark, path)
      val p = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
      val parent = p.getParent
      val base = p.getName
      if (parent != null && fs.exists(parent))
        fs.listStatus(parent).foreach { st =>
          val n = st.getPath.getName
          if (n != base &&
              (n.startsWith(base + ".staging-") ||
                n == base + ".pre-compact" || n == base + ".compact"))
            fs.delete(st.getPath, true)
        }
      fs.delete(p, true)
    }

  // --- merge-on-read deletes (tombstones) ---------------------------
  // At 100 TB a dedup drop-list or a GDPR purge cannot rewrite the
  // layout synchronously.  deleteIds() appends the doomed keys to a
  // `_tombstones` sidecar WITHOUT bumping the epoch (nothing the
  // manifest asserts about files changed — see its body); readers
  // subtract the tombstones (an anti-join AFTER pruning, so pruned
  // reads stay pruned), stats shortcuts that cannot subtract fall
  // back to merged scans, and the next compaction applies the deletes
  // physically and clears the sidecar.  The Iceberg equality-delete
  // shape.

  /** Register keys for deletion without touching data files.  `ids`
    * must be a single column named exactly like the layout's key
    * column — readers discover the join key from the sidecar schema.
    */
  def deleteIds(ids: DataFrame, path: String): Unit = {
    require(ids.columns.length == 1,
      s"tombstone frame must be a single key column, got ${ids.columns.toSeq}")
    val pinned = ids.localCheckpoint() // compute outside the lock
    if (pinned.isEmpty) return
    // the sidecar append itself is locked: two concurrent deleters
    // must not share the directory's _temporary tree, and a
    // compactor's validate step needs tombstone additions to be
    // all-or-nothing against its state snapshot
    CommitLock.withLock(ids.sparkSession, path) {
      pinned.write.mode("append").parquet(s"$path/_tombstones")
    }
    // NO epoch bump: nothing the manifest asserts about files changed.
    // Every reader subtracts tombstones after its own pruning, the
    // row-count shortcuts and snapshot reads check hasPendingDeletes
    // explicitly — bumping would only degrade pruned reads to full
    // scans and kill in-flight appendCurve streams on the continuity
    // guard, buying no correctness.  Compactors instead validate the
    // TOMBSTONE STATE ([[tombstoneState]]) under the lock, so a
    // delete landing mid-compaction forces the compactor to retry
    // rather than silently discarding it with the rewritten files.
  }

  /** Fingerprint of the layout's delete sidecars — the part of a
    * compactor's read snapshot the epoch does NOT cover (deletes
    * deliberately never bump it).  A compactor validates this under
    * the commit lock before swapping: a tombstone file that appeared
    * since its read means rows it rewrote should have died — retry
    * against the new state instead of resurrecting them.
    */
  private def tombstoneState(spark: SparkSession, path: String): Set[String] = {
    val fs = fsOf(spark, path)
    Seq("_tombstones", "_tombstones_pos").flatMap { side =>
      val p = new org.apache.hadoop.fs.Path(s"$path/$side")
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(st => s"$side/${st.getPath.getName}")
    }.toSet
  }

  /** The pending tombstone keys, if any. */
  def pendingTombstones(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_tombstones")
    if (fsOf(spark, path).exists(p)) Some(metaParquet(spark, p.toString))
    else None
  }

  /** The pending POSITIONAL tombstones (root-relative file, row
    * index), if any — written by [[deleteWhere]]/[[upsertPositional]].
    * Unlike equality tombstones these know exactly which physical row
    * they kill, so replacements of the same key in newer files are
    * untouched — the Iceberg v2 position-delete shape.
    *
    * Includes LANDED staged merges: a merge stages its tombstones
    * before its append ([[stageMerge]]) and the append's commit step
    * marks the stage landed the instant the batch's files are all
    * renamed into the layout ([[commitStaged]] writes the `_landed`
    * marker right after the renames, or — if it died between the
    * renames and the marker — the `_tmp` journal points at a staging
    * directory that no longer exists, which proves the rename loop
    * ran to completion).  Liveness is therefore tied to the append's
    * ACTUAL data commit, never inferred from epoch arithmetic: a
    * crash before the renames finish leaves the stage void (old rows
    * stay — the merge simply didn't happen), and no unrelated append
    * can make a void stage look live.
    *
    * In-flight stages are deliberately NOT surfaced (see
    * [[commitStaged]]'s crash-window note): a live writer mid-rename
    * and a crashed one look identical on disk, so counting their
    * deletes as live would hide old copies during every healthy
    * merge's write phase.  The cost is a bounded post-crash
    * duplicate window — rename-loop-sized — that the next
    * [[adoptStagedMerges]] (any writer, compaction, or
    * writeManifest) closes by rolling the append forward.
    */
  def pendingPositional(spark: SparkSession, path: String): Option[DataFrame] = {
    val fs = fsOf(spark, path)
    val base = new org.apache.hadoop.fs.Path(s"$path/_tombstones_pos")
    val staged = stagedMergeDirs(spark, path).collect {
      case d if stageStatusOf(spark, d) == StageLanded =>
        metaParquet(spark, d).select("file", "pos")
    }
    val parts =
      (if (fs.exists(base)) Seq(metaParquet(spark, base.toString)) else Nil) ++
        staged
    parts.reduceOption(_ unionByName _)
  }

  /** The parquet part files holding the layout's pending POSITIONAL
    * deletes — `_tombstones_pos` plus landed-but-unadopted merge
    * stages, the same union [[pendingPositional]] reads — as
    * individual file paths a task-side reader can open directly (the
    * SQL face's merge-on-read subtraction: each data-file reader
    * point-looks-up its own doomed positions instead of the driver
    * collecting every (file, pos) pair).
    */
  private[graft] def positionalDeleteFiles(spark: SparkSession,
                                           path: String): Seq[String] = {
    val fs = fsOf(spark, path)
    def parquetsIn(dir: String): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).map(_.toUri.getPath)
    }
    parquetsIn(s"$path/_tombstones_pos") ++
      stagedMergeDirs(spark, path)
        .filter(d => stageStatusOf(spark, d) == StageLanded)
        .flatMap(parquetsIn)
  }

  /** [[positionalDeleteFiles]] with each part's `file`-column footer
    * min/max — [[tombstoneShaped]] writes parts range-partitioned on
    * `file`, so the intervals are disjoint and the SQL planner hands
    * a reader only the part(s) whose interval can contain its file
    * (one footer read per part, on the driver, per scan).  Parts with
    * unreadable stats get the full interval: every reader opens them
    * (correct, unpruned).
    */
  private[graft] def positionalDeleteParts(spark: SparkSession, path: String)
      : Seq[(String, String, String)] =
    positionalDeletePartsEpoch(spark, path).map(p => (p._1, p._2, p._3))

  /** [[positionalDeleteParts]] plus each part's delete-commit epoch
    * ([[tombstonePartEpoch]] from the adopted name; None = crash-
    * healed/legacy/still-staged — not placeable on the snapshot
    * axis).  The AS OF read paths subtract exactly the parts with
    * epoch ≤ the pinned epoch and REFUSE when an un-epoched part is
    * pending (compact first), instead of refusing on any pending
    * delete.
    */
  // Driver-side cache of tombstone-part `file`-column footer ranges.
  // Planning consults positionalDeletePartsEpoch several times per
  // statement (row scans, aggregate pushdown, changelog arms), and
  // every call re-opened every part's footer — each open rebuilds
  // ParquetReadOptions from the Hadoop conf (~15% of main-thread
  // samples in the round-17 bench).  Part files are write-once
  // (adopted by rename), so (path, length, mtime) keys the range for
  // the file's lifetime — the metaParquet invalidation discipline.
  private val partRangeCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private[graft] def positionalDeletePartsEpoch(spark: SparkSession,
      path: String): Seq[(String, String, String, Option[Long])] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = fsOf(spark, path)
    positionalDeleteFiles(spark, path).map { f =>
      // a part still sitting in a landed-but-unadopted merge stage has
      // no adopted (epoch-stamped) name yet — epoch unknown by design
      val epoch =
        if (f.contains("/_merge_staging/")) None
        else tombstonePartEpoch(new org.apache.hadoop.fs.Path(f).getName)
      def readRange(): Option[(String, String)] =
        try {
          val fr = ParquetFileReader.open(
            HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f), conf))
          try {
            val schema = fr.getFooter.getFileMetaData.getSchema
            val idx = schema.getFieldIndex("file")
            val stats = fr.getFooter.getBlocks.asScala
              .map(_.getColumns.asScala(idx).getStatistics)
            if (stats.isEmpty ||
                stats.exists(s => s == null || !s.hasNonNullValue)) None
            else Some((
              stats.map(_.genericGetMin
                .asInstanceOf[org.apache.parquet.io.api.Binary]
                .toStringUsingUTF8).min,
              stats.map(_.genericGetMax
                .asInstanceOf[org.apache.parquet.io.api.Binary]
                .toStringUsingUTF8).max))
          } finally fr.close()
        } catch { case scala.util.control.NonFatal(_) => None }
      val range =
        (try {
          val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(f))
          Some(s"$f#${st.getLen}#${st.getModificationTime}")
        } catch { case _: java.io.IOException => None }) match {
          case Some(key) =>
            Option(partRangeCache.get(key)).orElse {
              val r = readRange()
              r.foreach { v =>
                // unbounded-growth guard (temp layouts churn keys)
                if (partRangeCache.size() > 4096) partRangeCache.clear()
                partRangeCache.put(key, v)
              }
              r
            }
          case None => readRange() // unlistable: preserve exact semantics
        }
      range match {
        case Some((lo, hi)) => (f, lo, hi, epoch)
        case None => (f, "", "\uffff", epoch)
      }
    }
  }

  private def stagedMergeDirs(spark: SparkSession,
                              path: String): Seq[String] = {
    val fs = fsOf(spark, path)
    val root = new org.apache.hadoop.fs.Path(s"$path/_merge_staging")
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.filter(_.isDirectory)
      .map(_.getPath.toUri.getPath)
  }

  // --- staged-merge lifecycle --------------------------------------
  // A stage's deletes are LIVE iff the paired append's data files
  // actually landed; the on-disk markers (written by commitStaged
  // and by append's degraded-path merge arm) encode how far the
  // append got:
  //   _landed            — renames completed; deletes are live.
  //   _tmp → missing dir — renames completed (the tmp directory is
  //                        deleted only after the rename loop), the
  //                        writer died before _landed; live.
  //   _tmp → extant dir  — the writer died mid-append; the staged
  //                        batch is intact in tmp, so the heal rolls
  //                        the append FORWARD (finish the renames),
  //                        after which the deletes are live.
  //   no markers         — the append never reached its commit step;
  //                        void (the crashed merge changed nothing).
  private sealed trait StageStatus
  private case object StageLanded extends StageStatus
  private case class StageInFlight(tmp: String) extends StageStatus
  private case object StageVoid extends StageStatus

  private def stageStatusOf(spark: SparkSession, d: String): StageStatus = {
    val fs = fsOf(spark, d)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$d/_landed"))) StageLanded
    else if (!fs.exists(new org.apache.hadoop.fs.Path(s"$d/_tmp"))) StageVoid
    else {
      val tmp = readTextFile(spark, s"$d/_tmp")
      if (fs.exists(new org.apache.hadoop.fs.Path(tmp))) StageInFlight(tmp)
      else StageLanded
    }
  }

  /** Stage a merge's doomed addresses BEFORE its append; returns the
    * stage directory the append will commit against (threaded to
    * [[commitStaged]] as `mergeDir`, whose markers make the staged
    * deletes live exactly when the batch's files land).
    */
  /** Shape a (file, pos) tombstone frame for writing: few parts (not
    * one per upstream task), RANGE-partitioned and sorted on `file`,
    * so each part's footer min/max names a disjoint file interval and
    * a merge-on-read reader opens only the part(s) that can contain
    * its file — without this, a mutation staged by k tasks writes k
    * full-range parts and every reader pays k footer reads (the
    * O(data files × parts) blowup the first q_sql_mor bench hit).
    */
  private def tombstoneShaped(doomed: DataFrame): DataFrame = {
    val parts = math.max(1L,
      math.min(32L, doomed.count() / 2000000L + 1L)).toInt
    doomed.repartitionByRange(parts, col("file"), col("pos"))
      .sortWithinPartitions("file", "pos")
  }

  private def stageMerge(spark: SparkSession, path: String,
                         doomed: DataFrame): String = {
    val dir = s"$path/_merge_staging/" +
      java.util.UUID.randomUUID().toString.take(8)
    tombstoneShaped(doomed).write.mode("overwrite").parquet(dir)
    dir
  }

  // --- tombstone commit epochs --------------------------------------
  // Each positional-tombstone PART carries the epoch its delete
  // committed at, encoded in the part's file NAME (`e<epoch>-…`): no
  // schema change, no rewrite — adoption renames are metadata ops
  // anyway.  This is what lets time travel COMPOSE with merge-on-read:
  // an AS OF read subtracts exactly the parts with epoch ≤ the pinned
  // epoch and ignores later deletes, instead of refusing outright.
  // Parts WITHOUT the prefix (crash-healed adoptions, where the
  // paired append's true epoch is unknowable after the fact, and
  // legacy sidecars) cannot be placed on the snapshot axis — AS OF
  // reads refuse on those exactly as before; current-state readers
  // subtract them all regardless of name.

  private val TombstoneEpochRe = "^e(\\d+)-.*".r

  /** The commit epoch encoded in a tombstone part's file name, if any. */
  private[graft] def tombstonePartEpoch(name: String): Option[Long] =
    name match {
      case TombstoneEpochRe(e) => Some(e.toLong)
      case _ => None
    }

  /** Move one resolved stage's addresses into `_tombstones_pos` and
    * drop the stage directory — the final step of a merge commit and
    * of [[adoptStagedMerges]] healing.  `epoch` = the commit epoch
    * the deletes became visible at, stamped into the part names;
    * None (the crash-heal path, where the landed append's epoch is
    * no longer knowable) leaves the parts un-epoched and AS OF reads
    * refusing until a compaction clears them.
    */
  private def adoptStage(spark: SparkSession, path: String, d: String,
                         epoch: Option[Long]): Unit = {
    val fs = fsOf(spark, path)
    val dp = new org.apache.hadoop.fs.Path(d)
    val prefix = epoch.fold("")(e => s"e$e-")
    fs.listStatus(dp).filter(_.getPath.getName.endsWith(".parquet"))
      .foreach { f =>
        val dst = new org.apache.hadoop.fs.Path(
          s"$path/_tombstones_pos/$prefix${f.getPath.getName}")
        fs.mkdirs(dst.getParent)
        require(fs.rename(f.getPath, dst),
          s"staged-merge adoption rename failed for ${f.getPath}")
      }
    fs.delete(dp, true)
  }

  /** Resolve staged merges: adopt the landed ones into
    * `_tombstones_pos` (their append committed), roll crashed
    * mid-append stages FORWARD (the staged batch is intact in its
    * `.staging-*` directory — finish the renames, then adopt; the
    * manifest stays stale, so reads degrade to correct unpruned scans
    * until writeManifest), and discard the void ones (their append
    * never reached its commit — the crashed merge changed nothing).
    * Called by the merge writers, compaction, and vacuum; safe to
    * call any time under the store's single-writer assumption (a
    * stage can only be in flight if its writer is dead).
    */
  def adoptStagedMerges(spark: SparkSession, path: String,
                        voidSweepAgeMs: Long = CommitLock.leaseMs): Unit = {
    if (stagedMergeDirs(spark, path).isEmpty) return // fast path, no lock
    // Under the commit lock, a _tmp-bearing (in-flight) stage cannot
    // belong to a live writer — writers journal _tmp and rename only
    // while HOLDING the lock — so roll-forward is safe.  A VOID stage
    // might belong to a live writer between staging its deletes and
    // acquiring the lock, so void stages are only swept once they are
    // older than the commit lease (a swept-anyway slow writer fails
    // loudly at requireStageIntact instead of losing its deletes).
    // Pass `voidSweepAgeMs = 0` when the staging writer is known dead
    // (a post-crash repair on a quiesced layout).
    CommitLock.withLock(spark, path) {
      val fs = fsOf(spark, path)
      stagedMergeDirs(spark, path).foreach { d =>
        stageStatusOf(spark, d) match {
          // heal path: the landed append's true epoch is unknowable
          // after the fact — adopt UN-epoched (AS OF reads refuse
          // until compaction; current-state reads subtract as always)
          case StageLanded => adoptStage(spark, path, d, None)
          case StageInFlight(tmp) =>
            moveStagedFiles(spark, path, tmp) // finish the dead append's renames
            writeTextFile(spark, s"$d/_landed", "1")
            adoptStage(spark, path, d, None)
          case StageVoid =>
            val dp = new org.apache.hadoop.fs.Path(d)
            val age = System.currentTimeMillis() -
              fs.getFileStatus(dp).getModificationTime
            if (age > voidSweepAgeMs) fs.delete(dp, true)
        }
      }
    }
  }

  /** Any pending delete, of either kind. */
  def hasPendingDeletes(spark: SparkSession, path: String): Boolean =
    pendingTombstones(spark, path).nonEmpty ||
      pendingPositional(spark, path).nonEmpty

  /** Root-relative form of an absolute/URI file path column — the
    * same scheme-agnostic cut [[statsOf]] uses for manifest entries.
    */
  private def relativeTo(root: String)(fileCol: org.apache.spark.sql.Column) =
    fileCol.substr(instr(fileCol, root) + lit(root.length + 1), length(fileCol))

  /** `df` minus the layout's pending deletes (no-op when none).
    * Equality tombstones anti-join on the key; positional tombstones
    * anti-join on (`_metadata.file_path`, `_metadata.row_index`) —
    * which requires `df` to derive directly from a parquet scan of
    * this layout (true of every caller: scans plus filters only).
    * Both joins run AFTER whatever pruning produced `df`, and both
    * delete sides are id/position lists (broadcastable under AQE) —
    * deleting 0.1% of a corpus must not cost a corpus scan.
    */
  private def minusTombstones(spark: SparkSession, path: String,
                              df: DataFrame): DataFrame = {
    val eq = pendingTombstones(spark, path) match {
      case Some(ts) => df.join(ts, Seq(ts.columns.head), "left_anti")
      case None     => df
    }
    pendingPositional(spark, path) match {
      case Some(ts) =>
        val root = rootPathOf(spark, path)
        eq.withColumn("__file", relativeTo(root)(col("_metadata.file_path")))
          .withColumn("__pos", col("_metadata.row_index"))
          .join(ts.withColumnRenamed("file", "__file")
                  .withColumnRenamed("pos", "__pos"),
            Seq("__file", "__pos"), "left_anti")
          .drop("__file", "__pos")
      case None => eq
    }
  }

  /** Claim a commit epoch for a DELETE-ONLY commit, under the lock:
    * `_epoch` advances (the delete becomes a first-class point on the
    * snapshot axis — AS OF reads at-or-after it subtract, before it
    * don't), and `_manifest_epoch` advances IN LOCKSTEP when — and
    * only when — the manifest was fresh: nothing the manifest asserts
    * about FILES changed, so freshness must survive a delete (pruned
    * reads keep pruning), while an already-stale manifest stays
    * stale.  A reader racing between the two writes sees epoch ahead
    * of the snapshot — stale — and takes the correct unpruned
    * fallback, the same crash-ordering story as the append path.
    */
  private def claimDeleteEpoch(spark: SparkSession, path: String): Long = {
    val wasFresh = manifestFresh(spark, path, verify = false)
    // a delete-only commit adds no data files, so an intact covering-
    // schema chain survives it — re-stamp in lockstep, like freshness
    val schemaChainOk = schemaChainIntact(spark, path)
    val newEpoch = readEpoch(spark, path) + 1
    writeEpochFile(spark, s"$path/_epoch", newEpoch)
    stampEpochTime(spark, path, newEpoch)
    if (wasFresh)
      writeEpochFile(spark, s"$path/_manifest_epoch", newEpoch)
    if (schemaChainOk)
      writeEpochFile(spark, s"$path/_schema_epoch", newEpoch)
    newEpoch
  }

  /** DELETE FROM … WHERE as positional tombstones: the matching rows'
    * (file, row) addresses are harvested in one scan and committed to
    * the `_tombstones_pos` sidecar — no data file rewritten, and
    * because positions identify physical rows (not keys), envelope
    * pruning and the manifest stay VALID: pruned reads keep pruning
    * (the subtraction rides them), only row-count shortcuts degrade
    * (they check [[hasPendingDeletes]] explicitly).  The delete
    * claims its OWN commit epoch ([[claimDeleteEpoch]] — manifest
    * freshness survives) and its parts carry it in their names, so
    * snapshot reads COMPOSE with the pending delete: AS OF an epoch
    * before it serves the pre-delete rows, at-or-after subtracts.
    */
  def deleteWhere(spark: SparkSession, path: String,
                  cond: org.apache.spark.sql.Column): Unit = {
    val root = rootPathOf(spark, path)
    val raw = readerFor(spark, path, flat = false).parquet(path).filter(cond)
      .select(relativeTo(root)(col("_metadata.file_path")).as("file"),
        col("_metadata.row_index").as("pos"))
    // harvest from the MERGED view: rows already doomed by a prior
    // UPDATE/MERGE/DELETE must not be re-doomed under a new epoch —
    // duplicate (file,pos) entries bloat the sidecar and break any
    // consumer that counts tombstone rows instead of distinct addresses
    val fresh = pendingPositional(spark, path) match {
      case Some(ts) => raw.join(ts, Seq("file", "pos"), "left_anti")
      case None     => raw
    }
    val doomed = fresh
      .localCheckpoint() // the layout scan happens outside the lock
    if (!doomed.isEmpty)
      CommitLock.withLock(spark, path) {
        // stage invisibly (dot-dir: parquet dir reads skip it), then
        // rename the parts in under their epoch-stamped names — the
        // same adopt move the merge path uses
        val stage = s"$path/_tombstones_pos/.stage-" +
          java.util.UUID.randomUUID().toString.take(8)
        tombstoneShaped(doomed).write.mode("overwrite").parquet(stage)
        val e = claimDeleteEpoch(spark, path)
        adoptStage(spark, path, stage, Some(e))
      }
  }

  /** [[read]] with pending deletes subtracted. */
  def readMerged(spark: SparkSession, path: String): DataFrame =
    minusTombstones(spark, path, read(spark, path))

  /** MERGE/upsert by key: rows of `df` replace layout rows sharing
    * their `keyCol` (absent keys are plain inserts) — composed from
    * primitives this store already has: [[deleteIds]] the incoming
    * keys, apply physically, [[appendWithManifest]] the new rows.
    *
    * The delete MUST be physical before the append lands: an
    * equality tombstone matches on key alone, so it cannot tell an
    * old copy from its replacement — leaving it pending would shadow
    * the new rows too.  (Deferring the rewrite needs positional
    * (file, row) deletes, which know which copy they kill; with the
    * manifest's per-row epochs that is a natural next step.)  So
    * upsert costs one compaction of the layout today; bin-partitioned
    * layouts only, like [[compact]].
    */
  def upsert(df: DataFrame, path: String, keyCol: String,
             delta: Double): Unit = {
    val spark = df.sparkSession
    deleteIds(df.select(keyCol), path)
    compact(spark, path)    // equality tombstones become physical here
    writeManifest(spark, path)
    appendWithManifest(df, path, delta)
  }

  /** A KEY-clustered merge target: rows range-partitioned and sorted
    * on `keyCol` itself (persisted as the cluster column `zkey`, so
    * the standard manifest records per-file [k0,k1] key ranges).
    * This is the layout a CDC/merge table wants: [[upsertKeyed]]'s
    * position lookup prunes to the files whose key range overlaps
    * the incoming batch instead of scanning the corpus.  Not a
    * spatial layout — box/curve readers don't apply; read with
    * [[readMerged]] and merge with [[upsertKeyed]].
    */
  def writeKeyed(df: DataFrame, path: String, keyCol: String,
                 nFiles: Int): Unit = {
    val kdf = df.withColumn("zkey", col(keyCol))
    kdf.repartitionByRange(nFiles, col("zkey"))
      .sortWithinPartitions("zkey")
      .write.mode("overwrite").parquet(path)
    recordCoveringSchema(df.sparkSession, path, kdf.schema)
    writeManifest(df.sparkSession, path)
    // record WHICH data column the cluster key mirrors, so the SQL
    // face can translate key predicates into manifest [k0,k1] file
    // pruning (the key column itself is a stripped physical artifact
    // there — [[dataSchemaFor]])
    recordKeyCol(df.sparkSession, path, keyCol)
  }

  /** [[writeKeyed]] for a COMPOSITE (multi-column) cluster key — the
    * (tenant, id) CDC shape: rows range-partitioned and sorted on
    * `struct(keyCols…)`, whose lexicographic order IS the
    * multi-column sort order, so the manifest's [k0,k1] become
    * struct-typed lexicographic key ranges.  All single-key contracts
    * carry over: [[upsertKeyed]]'s composite overload prunes its
    * doomed-address lookup to the overlapping files, and the SQL
    * face translates per-column key predicates into the leading-
    * prefix manifest prune ([[compositeKeyRangeCond]]).
    */
  def writeKeyed(df: DataFrame, path: String, keyCols: Seq[String],
                 nFiles: Int): Unit = {
    require(keyCols.nonEmpty, "writeKeyed needs at least one key column")
    if (keyCols.length == 1) writeKeyed(df, path, keyCols.head, nFiles)
    else {
      keyCols.foreach(requireOrderableKey(df, _))
      val kdf = df.withColumn("zkey", struct(keyCols.map(col): _*))
      kdf.repartitionByRange(nFiles, col("zkey"))
        .sortWithinPartitions("zkey")
        .write.mode("overwrite").parquet(path)
      recordCoveringSchema(df.sparkSession, path, kdf.schema)
      writeManifest(df.sparkSession, path)
      recordKeyCol(df.sparkSession, path, keyCols.mkString(","))
    }
  }

  /** The data column a [[writeKeyed]] layout clusters on (mirrored
    * into `zkey` → manifest [k0,k1]).  None for spatial/curve layouts
    * and pre-sidecar keyed layouts (which then read unpruned by key —
    * correct, slower).  A COMPOSITE key records its columns
    * comma-joined — single-key consumers must go through
    * [[keyColsOf]] or treat a comma-bearing value as "not my shape".
    */
  private[graft] def keyColOf(spark: SparkSession,
                              path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_keycol")
    if (fsOf(spark, path).exists(p)) Some(readTextFile(spark, p.toString))
    else None
  }

  /** The recorded cluster-key columns, in key order (empty = not a
    * keyed layout).
    */
  private[graft] def keyColsOf(spark: SparkSession,
                               path: String): Seq[String] =
    keyColOf(spark, path)
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty)

  /** The same key-type refusal [[upsertKeyed]] applies: integral and
    * string columns have a total order that the manifest min/max
    * stats and every compare site agree on; other types refuse.
    */
  private def requireOrderableKey(df: DataFrame, keyCol: String): Unit =
    requireOrderableKeyType(keyCol, df.schema(keyCol).dataType)

  private def requireOrderableKeyType(
      keyCol: String, dt: org.apache.spark.sql.types.DataType): Unit =
    dt match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.StringType => ()
      case other => throw new IllegalArgumentException(
        s"keyed layouts require integral or string key columns; " +
          s"'$keyCol' is ${other.simpleString} — " +
          "hash or dictionary-encode other key types first")
    }

  private def recordKeyCol(spark: SparkSession, path: String,
                           c: String): Unit =
    writeTextFile(spark, s"$path/_keycol", c)

  /** Hash-bucket geometry of a [[writeBucketed]] layout — (bucket
    * count, the data key column it distributes on), from the
    * `_buckets` sidecar.  None for every other layout flavor.
    */
  private[graft] def bucketsOf(spark: SparkSession,
                               path: String): Option[(Int, String)] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_buckets")
    if (fsOf(spark, path).exists(p)) {
      val s = readTextFile(spark, p.toString)
      val i = s.indexOf(',')
      Some((s.substring(0, i).toInt, s.substring(i + 1)))
    } else None
  }

  /** The layout's RECORDED type for column `c` — the `_schema`
    * sidecar when evolution wrote one, else ONE manifest-named file's
    * footer (O(1), never a layout listing).  None when the layout has
    * no manifest yet or the column is unknown.  Write paths that hash
    * or range-compare the cluster key consult this BEFORE staging:
    * murmur3 and the manifest [k0,k1] stats are both width-sensitive,
    * so a batch whose key type differs from the written type would
    * bucket-hash (and stat-compare) under a DIFFERENT function than
    * readers use — the silent-duplicate / dropped-row class the r15
    * advice flagged.  ([[recordEvolution]] refuses the type change
    * too, but only after a merge stage is already on disk.)
    */
  private def layoutKeyTypeOf(spark: SparkSession, path: String,
      c: String): Option[org.apache.spark.sql.types.DataType] =
    scala.util.Try(
      layoutSchema(spark, path).getOrElse(manifestHeadSchema(spark, path)))
      .toOption.flatMap(_.fields.find(_.name == c).map(_.dataType))

  /** Refuse a keyed/bucketed write whose batch key type differs from
    * the layout's recorded type — BEFORE anything stages, with a
    * message naming the cast the caller owes. */
  private def requireKeyTypeMatch(df: DataFrame, path: String,
                                  keyCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    keyCols.foreach { kc =>
      layoutKeyTypeOf(spark, path, kc).foreach { t =>
        require(t == df.schema(kc).dataType,
          s"$path clusters on '$kc': ${t.simpleString}, but the batch " +
            s"carries ${df.schema(kc).dataType.simpleString} — cast the " +
            "batch key to the layout's type first (bucket hashing and " +
            "range stats are type-sensitive; a silent widen would " +
            "address the wrong files)")
      }
    }
  }

  private val BucketFileRe = "^part-(\\d{1,9})-.*".r

  /** The bucket id a part file name certifies (`part-<idx>-…` — the
    * write shuffle's partition index, which [[writeBucketed]] made
    * the bucket id by construction).  None for any other name shape;
    * callers must fall back to no bucket optimization on the whole
    * layout rather than mis-prune.
    */
  private[graft] def bucketOfFileName(path: String): Option[Int] = {
    val base = path.substring(path.lastIndexOf('/') + 1)
    base match {
      case BucketFileRe(idx) => Some(idx.toInt)
      case _ => None
    }
  }

  /** A HASH-BUCKETED key-clustered layout: rows distribute into
    * exactly `nBuckets` buckets on `keyCol`, bucket id =
    * `pmod(murmur3(key), n)` — Spark's own HashPartitioning partition
    * index (seed 42), so `repartition(n, key)` makes the shuffle
    * partition index the bucket id BY CONSTRUCTION and the written
    * part names (`part-<idx>-…`) carry it with zero renaming or
    * manifest change.  What buckets buy at 100 TB that key RANGES
    * ([[writeKeyed]]) cannot:
    *
    *  - storage-partitioned joins: the SQL face reports
    *    `bucket(n, key)` KeyGroupedPartitioning over these files, so
    *    two graft tables bucketed the same way join — and aggregate —
    *    on the key with ZERO shuffle (co-location moves from every
    *    job into the layout, the Iceberg/Hive-bucketing contract);
    *  - point-lookup pruning that never erodes: `key = v` opens only
    *    bucket(v)'s files regardless of append count, where a range
    *    layout's [k0,k1] prune erodes as appended files overlap.
    *
    * Files stay internally key-sorted (`zkey` mirror, as every keyed
    * layout), so parquet row-group min/max pruning still applies
    * within a bucket, and all keyed-layout machinery (manifest
    * stats, MOR deletes, SQL mutations, the streaming sink) composes
    * unchanged — [[appendCurve]] re-distributes every append into
    * the same buckets via the `_buckets` sidecar.
    */
  def writeBucketed(df: DataFrame, path: String, keyCol: String,
                    nBuckets: Int): Unit = {
    require(nBuckets > 0, "writeBucketed needs nBuckets > 0")
    requireOrderableKey(df, keyCol)
    val kdf = df.withColumn("zkey", col(keyCol))
    kdf.repartition(nBuckets, col(keyCol))
      .sortWithinPartitions("zkey")
      .write.mode("overwrite").parquet(path)
    recordCoveringSchema(df.sparkSession, path, kdf.schema)
    writeManifest(df.sparkSession, path)
    recordKeyCol(df.sparkSession, path, keyCol)
    writeTextFile(df.sparkSession, s"$path/_buckets", s"$nBuckets,$keyCol")
  }

  /** [[upsertPositional]] for a [[writeKeyed]] target: the old
    * copies' position lookup opens ONLY the files whose manifest
    * [k0,k1] range overlaps the incoming keys (the same broadcast
    * range-semi-join the curve readers use), then the batch appends
    * as new key-sorted files via [[appendCurve]].  Per-merge cost:
    * the overlapping files + the batch — at 100 TB, a trickle of
    * updates against a sorted corpus touches a sliver.
    */
  def upsertKeyed(df: DataFrame, path: String, keyCol: String,
                  nFiles: Int = 1): Unit = {
    val spark = df.sparkSession
    // integral and STRING keys: the manifest's [k0,k1] are the key
    // min/max of each file's zkey run, and the range prune below
    // compares in the key's own ordering — longs numerically,
    // strings lexicographically (Spark's min/max and `between` agree
    // on UTF8 binary order, so the prune is sound for the real CDC
    // key shapes: ints, UUIDs, composite string keys).  Other types
    // (float keys, binary) have no reliable total order across the
    // stats/compare pair — refuse rather than silently mismatch.
    val integralKey = df.schema(keyCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case org.apache.spark.sql.types.StringType => false
      case other => throw new IllegalArgumentException(
        s"upsertKeyed requires an integral or string key column; " +
          s"'$keyCol' is ${other.simpleString} — " +
          "hash or dictionary-encode other key types first")
    }
    // fail BEFORE staging anything (as the freshness guard below): a
    // width-mismatched batch key would murmur3-hash into the WRONG
    // bucket set on a bucketed target — the doomed-address lookup
    // misses the old copies and the merge silently keeps duplicates.
    requireKeyTypeMatch(df, path, Seq(keyCol))
    adoptStagedMerges(spark, path) // heal any crashed predecessor
    // fail BEFORE staging anything: a stale manifest would prune the
    // doomed-address lookup against missing files (wrong old-copy
    // set) and appendCurve's continuity guard aborts the merge later
    // anyway — but by then a void _merge_staging directory is left
    // for the next heal to sweep.  Same message, no orphaned stage.
    require(manifestFresh(spark, path, verify = false),
      s"$path: manifest is stale (an append crashed mid-commit or an " +
        "out-of-band write bumped the epoch); run writeManifest " +
        "before merging")
    val root = rootPathOf(spark, path)
    val keys = df.select(
      (if (integralKey) col(keyCol).cast("long") else col(keyCol)).as("k"))
      .distinct()
    val rangeFiles = manifestDf(spark, path)
      .join(broadcast(keys), col("k").between(col("k0"), col("k1")), "leftsemi")
      .select("file").collect().map(r => s"$path/${r.getString(0)}")
    // on a HASH-BUCKETED target the range prune is near-useless (each
    // bucket file's [k0,k1] spans most of the key space), but the
    // batch's bucket set is exact: only files of the batch keys'
    // buckets can hold old copies.  Hash the ORIGINAL column (murmur3
    // is type-sensitive — the cast("long") above is for range
    // compares only).  Any uncertified file name disables the prune.
    val files = bucketsOf(spark, path) match {
      case Some((nb, bcol)) if bcol == keyCol && rangeFiles.nonEmpty &&
          rangeFiles.forall(f => bucketOfFileName(f).exists(_ < nb)) =>
        val want = df.select(
            pmod(hash(col(keyCol)), lit(nb)).as("b"))
          .distinct().collect().map(_.getInt(0)).toSet
        rangeFiles.filter(f => bucketOfFileName(f).exists(want.contains))
      case _ => rangeFiles
    }
    lastMergeLookup.put(path, files.toSeq)
    val doomed = files.headOption.map { _ =>
      readerFor(spark, path, flat = true).parquet(files.toIndexedSeq: _*)
        .select(col(keyCol),
          relativeTo(root)(col("_metadata.file_path")).as("file"),
          col("_metadata.row_index").as("pos"))
        .join(df.select(keyCol).distinct(), Seq(keyCol), "leftsemi")
        .select("file", "pos")
        .localCheckpoint() // pin BEFORE the append
    }
    // same staged protocol as upsertPositional: the deletes commit
    // inside the append's own commit step — no duplicate window
    val mergeDir = doomed.filter(!_.isEmpty)
      .map(stageMerge(spark, path, _))
    appendCurve(df.withColumn("zkey", col(keyCol)), path,
      delta = 1.0 /* unused when preKeyed */, nFiles, preKeyed = true,
      mergeDir = mergeDir)
  }

  /** [[upsertKeyed]] for a COMPOSITE key ([[writeKeyed]]'s Seq
    * overload): identical protocol with `struct(keyCols…)` as the
    * cluster key — the file prune is the same broadcast range
    * semi-join (struct comparisons are the lexicographic multi-column
    * order), the doomed-address lookup joins on ALL key columns, and
    * the batch appends preKeyed.
    */
  def upsertKeyed(df: DataFrame, path: String, keyCols: Seq[String],
                  nFiles: Int): Unit = {
    require(keyCols.nonEmpty, "upsertKeyed needs at least one key column")
    if (keyCols.length == 1) upsertKeyed(df, path, keyCols.head, nFiles)
    else {
      val spark = df.sparkSession
      keyCols.foreach(requireOrderableKey(df, _))
      // struct [k0,k1] range compares are type-sensitive per field —
      // refuse a width-mismatched batch before anything stages
      requireKeyTypeMatch(df, path, keyCols)
      adoptStagedMerges(spark, path)
      require(manifestFresh(spark, path, verify = false),
        s"$path: manifest is stale (an append crashed mid-commit or an " +
          "out-of-band write bumped the epoch); run writeManifest " +
          "before merging")
      val root = rootPathOf(spark, path)
      val kExpr = struct(keyCols.map(col): _*)
      val keys = df.select(kExpr.as("k")).distinct()
      val files = manifestDf(spark, path)
        .join(broadcast(keys),
          col("k").between(col("k0"), col("k1")), "leftsemi")
        .select("file").collect().map(r => s"$path/${r.getString(0)}")
      val doomed = files.headOption.map { _ =>
        readerFor(spark, path, flat = true).parquet(files.toIndexedSeq: _*)
          .select(keyCols.map(col) :+
            relativeTo(root)(col("_metadata.file_path")).as("file") :+
            col("_metadata.row_index").as("pos"): _*)
          .join(df.select(keyCols.map(col): _*).distinct(),
            keyCols, "leftsemi")
          .select("file", "pos")
          .localCheckpoint() // pin BEFORE the append
      }
      val mergeDir = doomed.filter(!_.isEmpty)
        .map(stageMerge(spark, path, _))
      appendCurve(df.withColumn("zkey", kExpr), path,
        delta = 1.0 /* unused when preKeyed */, nFiles, preKeyed = true,
        mergeDir = mergeDir)
    }
  }

  /** O(batch) MERGE/upsert via POSITIONAL deletes — the shape
    * [[upsert]]'s doc promises: the old copies' (file, row) addresses
    * are harvested by one semi-join scan and pinned BEFORE the append
    * (so the replacements, which land in new files, can never match),
    * then the new rows stage-append with the manifest maintained.
    * No compaction, no rewrite; envelope pruning stays valid and
    * every pruned read keeps pruning (positions ride the subtraction
    * join).  The scan to find old copies is the irreducible MERGE
    * cost (a join against the target); at 100 TB a key-bucketed or
    * manifest-key-range layout would prune it too.
    */
  def upsertPositional(df: DataFrame, path: String, keyCol: String,
                       delta: Double): Unit = {
    val spark = df.sparkSession
    adoptStagedMerges(spark, path) // heal any crashed predecessor
    val root = rootPathOf(spark, path)
    // the old copies' position lookup is the merge's only
    // layout-sized scan — prune it through the manifest membership
    // filters when the layout DECLARED the key column (filters never
    // false-negative, so the pruned scan sees every old copy).  A
    // 0.1%-of-corpus merge batch then opens the files that might
    // hold its keys instead of the corpus; undeclared layouts pay
    // the full lookup but skip the per-append stats tax.
    val bloomable = filterColsOf(spark, path).contains(keyCol)
    val src = (if (bloomable)
        bloomCandidateFiles(spark, path, df.select(keyCol), keyCol)
      else None) match {
      case Some(files) if files.isEmpty =>
        readerFor(spark, path, flat = false).parquet(path).filter(lit(false))
      case Some(files) =>
        readerFor(spark, path, flat = true).parquet(files: _*)
      case None => readerFor(spark, path, flat = false).parquet(path)
    }
    val doomed = src
      .select(col(keyCol),
        relativeTo(root)(col("_metadata.file_path")).as("file"),
        col("_metadata.row_index").as("pos"))
      .join(df.select(keyCol).distinct(), Seq(keyCol), "leftsemi")
      .select("file", "pos")
      // pin the PRE-append address list — eager, so the append below
      // cannot leak its own files into the doomed set
      .localCheckpoint()
    // stage BEFORE the append; the staged deletes commit inside the
    // append's own commit step (commitStaged marks the stage landed
    // the moment the batch's files are all renamed in), so readers
    // see exactly one copy per key through every crash window — a
    // crash before the data lands leaves the stage void (old copies
    // stay; nothing lost), a crash after leaves it landed (the next
    // heal adopts it)
    val mergeDir =
      if (doomed.isEmpty) None else Some(stageMerge(spark, path, doomed))
    appendWithManifest(df, path, delta, mergeDir)
  }

  /** [[queryBox]] (bin-partition-pruned) with pending deletes
    * subtracted — pruning first, anti-join on the survivors.
    */
  def queryBoxMerged(spark: SparkSession, path: String,
                     xr: (Long, Long), yr: (Long, Long)): DataFrame =
    minusTombstones(spark, path, queryBox(spark, path, xr, yr))

  /** Box query planned through the manifest: only files whose
    * [x0,x1]×[y0,y1] envelope intersects the box are opened.
    *
    * STALENESS GUARD: the `_manifest` sidecar describes the layout as
    * of its last [[writeManifest]]; an [[append]] since then would
    * make envelope pruning silently DROP the appended rows — a
    * wrong-answer generator under continuous ingest.  Freshness is an
    * O(1) epoch compare (`_epoch` vs `_manifest_epoch` — one tiny
    * file read, not a recursive listing of millions of objects);
    * `verify = true` additionally cross-checks the manifest's file
    * set against a full directory listing BOTH ways, catching
    * external mutations (out-of-band appends OR deletions) that
    * bypassed [[append]]/[[compact]].  On any divergence the planner
    * falls back to a full recursive scan (correct, unpruned) — re-run
    * [[writeManifest]] to restore pruned reads.
    */
  /** The manifest's file set is fresh iff: it exists, its epoch
    * snapshot matches the layout epoch (O(1); writers that bypass
    * [[append]]/[[compact]] MUST bump `_epoch` themselves), and —
    * under `verify` — a full listing matches it both ways.
    */
  private[graft] def manifestFresh(spark: SparkSession, path: String,
                                   verify: Boolean): Boolean = {
    val exists = fsOf(spark, path)
      .exists(new org.apache.hadoop.fs.Path(s"$path/_manifest"))
    exists &&
      readEpoch(spark, path) == readEpochFile(spark, s"$path/_manifest_epoch") &&
      (!verify || {
        // manifest entries are root-relative — resolve against the
        // CURRENT root before comparing to the absolute listing
        val root = rootPathOf(spark, path)
        val known = manifestDf(spark, path)
          .select("file").collect().map(r => s"$root/${r.getString(0)}").toSet
        listDataFiles(spark, path).toSet == known
      })
  }

  /** The manifest sidecar as a DataFrame iff it is FRESH (epoch
    * snapshot matches the layout) — the SQL face's aggregate planner
    * consults the stats rows themselves, not just file names.  None
    * on stale/missing: callers must degrade to unpruned scanning.
    */
  private[graft] def freshManifest(spark: SparkSession,
                                   path: String): Option[DataFrame] =
    if (manifestFresh(spark, path, verify = false))
      Some(manifestDf(spark, path))
    else None

  /** Whether the layout is curve-clustered (its manifest records
    * per-file key ranges) — the SQL-face writer's dispatch between
    * [[appendCurve]] and [[appendWithManifest]].  Reads the sidecar
    * regardless of freshness: a STALE curve layout must still route
    * to appendCurve, whose own guard names the repair verb.
    */
  private[graft] def isCurveLayout(spark: SparkSession, path: String): Boolean =
    fsOf(spark, path)
      .exists(new org.apache.hadoop.fs.Path(s"$path/_manifest")) &&
      manifestDf(spark, path).columns.contains("k0")

  /** The layout's DATA-file schema (bin partition columns excluded —
    * the shape flat file-list reads see), for the SQL face: declared
    * sidecar first, then one manifest-named footer, then inference.
    * Curve-key columns (zkey/hkey) are stripped too: they are the
    * layout's internal clustering artifact, computed by the writers —
    * surfacing them would break INSERT column arity on curve tables
    * and leak a physical detail into the SQL contract (the API
    * readers keep seeing them; queryBoxCurve filters on the key).
    */
  private[graft] def dataSchemaFor(spark: SparkSession, path: String)
      : org.apache.spark.sql.types.StructType = {
    val s = layoutSchema(spark, path).map(dataSchemaOf).getOrElse {
      if (fsOf(spark, path)
          .exists(new org.apache.hadoop.fs.Path(s"$path/_manifest")))
        manifestHeadSchema(spark, path)
      else dataSchemaOf(spark.read.parquet(path).schema)
    }
    org.apache.spark.sql.types.StructType(
      s.fields.filterNot(f => CurveKeyCols.contains(f.name)))
  }

  /** File planning for the SQL face ([[graft.sources.v2.GraftSource]]):
    * the same manifest envelope pruning [[queryBoxViaManifest]] does,
    * generalized to per-column [lo,hi] bounds over any stats pair the
    * manifest carries (x/y/z/t).  Null stats mean "unknown, must
    * open"; a stale manifest degrades to the full recursive listing —
    * correctness over pruning, as on every read path.
    */
  private[graft] def planFilesFor(spark: SparkSession, path: String,
                                  bounds: Seq[(String, Double, Double)],
                                  kRange: Option[(Option[Any], Option[Any])] =
                                    None,
                                  kComposite: Seq[(String,
                                    (Option[Any], Option[Any]))] = Nil)
      : Seq[String] = {
    if (!manifestFresh(spark, path, verify = false))
      return listDataFiles(spark, path)
    val m = manifestDf(spark, path)
    m.filter(manifestBoundsCond(m, bounds) && keyRangeCond(m, kRange) &&
        compositeKeyRangeCond(m, kComposite))
      .select("file").collect()
      .map(r => s"$path/${r.getString(0)}").toSeq
  }

  /** Manifest [k0,k1] intersection for a cluster-KEY predicate range
    * (integral or string keys — Spark's min/max stats and these
    * comparisons agree on the key's own total order).  Null stats
    * mean "unknown, must open"; no k columns prunes nothing.
    */
  private[graft] def keyRangeCond(m: DataFrame,
      kRange: Option[(Option[Any], Option[Any])]): org.apache.spark.sql.Column =
    kRange
      .filter(_ => m.columns.contains("k0") && m.columns.contains("k1"))
      .map { case (lo, hi) =>
        lo.map(v => col("k1").isNull || col("k1") >= lit(v))
          .getOrElse(lit(true)) &&
          hi.map(v => col("k0").isNull || col("k0") <= lit(v))
            .getOrElse(lit(true))
      }
      .getOrElse(lit(true))

  /** Manifest [k0,k1] intersection for a COMPOSITE cluster key —
    * struct-typed k0/k1 in lexicographic key order.  Leading-prefix
    * semantics: the first key column's range applies to every file
    * unconditionally (the struct sort makes k0.f0/k1.f0 the file's
    * true leading-field run); a LATER column's range is only sound on
    * files that are CONSTANT on all earlier columns with each earlier
    * range pinned to a point — on any other file, interior rows can
    * take every value of the later column regardless of its endpoint
    * stats.  Null stats and missing fields prune nothing (open).
    */
  private[graft] def compositeKeyRangeCond(m: DataFrame,
      ranges: Seq[(String, (Option[Any], Option[Any]))])
      : org.apache.spark.sql.Column =
    if (ranges.isEmpty || !m.columns.contains("k0") ||
        ranges.forall(r => r._2._1.isEmpty && r._2._2.isEmpty)) lit(true)
    else m.schema("k0").dataType match {
      case st: org.apache.spark.sql.types.StructType
          if ranges.forall(r => st.fieldNames.contains(r._1)) =>
        var cond: org.apache.spark.sql.Column = lit(true)
        var gate: org.apache.spark.sql.Column = lit(true)
        ranges.foreach { case (f, (lo, hi)) =>
          val f0 = col("k0").getField(f)
          val f1 = col("k1").getField(f)
          val c = lo.map(v => f1.isNull || f1 >= lit(v))
              .getOrElse(lit(true)) &&
            hi.map(v => f0.isNull || f0 <= lit(v)).getOrElse(lit(true))
          cond = cond && when(gate, c).otherwise(lit(true))
          val pinned = (lo, hi) match {
            case (Some(a), Some(b)) if a == b => lit(true)
            case _ => lit(false)
          }
          gate = gate && f0.isNotNull && f1.isNotNull && (f0 === f1) &&
            pinned
        }
        cond
      case _ => lit(true) // single-key or pre-composite manifest: no-op
    }

  /** Envelope-intersection condition over manifest rows for per-column
    * [lo,hi] bounds — null stats mean "unknown, must open"; a bound on
    * a column the manifest has no stats pair for prunes nothing.
    */
  private[graft] def manifestBoundsCond(m: DataFrame,
      bounds: Seq[(String, Double, Double)]): org.apache.spark.sql.Column =
    bounds
      .filter { case (c, _, _) =>
        m.columns.contains(s"${c}0") && m.columns.contains(s"${c}1") }
      .map { case (c, lo, hi) =>
        (col(s"${c}1").isNull || col(s"${c}1") >= lo) &&
          (col(s"${c}0").isNull || col(s"${c}0") <= hi)
      }
      .foldLeft(lit(true))(_ && _)

  /** [[planFilesFor]] AS OF a commit epoch — the SQL face's
    * time-travel planner, with [[queryBoxAsOf]]'s soundness contract:
    * a fresh manifest is REQUIRED (history has no listing fallback)
    * and epochs compacted away refuse rather than under-answer.
    * Pending-delete refusal is the calling scan's (as on every SQL-
    * face read).
    */
  /** The manifest restricted to commits at or before `asOfEpoch`,
    * with [[queryBoxAsOf]]'s soundness contract enforced: a fresh
    * manifest is REQUIRED (history has no listing fallback) and
    * epochs compacted away refuse rather than under-answer.
    * Pending-delete refusal is the caller's (as on every read path).
    */
  private[graft] def manifestAsOf(spark: SparkSession, path: String,
                                  asOfEpoch: Long): DataFrame = {
    require(manifestFresh(spark, path, verify = false),
      s"$path: manifest is stale — snapshot reads have no sound " +
        "fallback; run writeManifest (which resets history to the " +
        "current epoch) first")
    val m = manifestDf(spark, path)
    // driver-side min: folds to zero jobs on the cached manifest
    // where an .agg planned an AQE shuffle per versioned read
    val es = m.select("epoch").collect()
      .flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    require(es.nonEmpty,
      s"$path: manifest is empty — no snapshot history to serve")
    require(asOfEpoch >= es.min,
      s"$path: history before epoch ${es.min} was " +
        s"compacted away (requested $asOfEpoch)")
    m.filter(col("epoch") <= asOfEpoch)
  }

  /** [[planFilesFor]] AS OF a commit epoch — the SQL face's
    * time-travel planner over [[manifestAsOf]].
    */
  private[graft] def planFilesAsOf(spark: SparkSession, path: String,
      bounds: Seq[(String, Double, Double)], asOfEpoch: Long,
      kRange: Option[(Option[Any], Option[Any])] = None,
      kComposite: Seq[(String, (Option[Any], Option[Any]))] = Nil)
      : Seq[String] = {
    val m = manifestAsOf(spark, path, asOfEpoch)
    m.filter(manifestBoundsCond(m, bounds) && keyRangeCond(m, kRange) &&
        compositeKeyRangeCond(m, kComposite))
      .select("file").collect()
      .map(r => s"$path/${r.getString(0)}").toSeq
  }

  def queryBoxViaManifest(spark: SparkSession, path: String,
                          xr: (Double, Double), yr: (Double, Double),
                          verify: Boolean = false): DataFrame = {
    val boxFilter =
      col("x") >= xr._1 && col("x") < xr._2 &&
        col("y") >= yr._1 && col("y") < yr._2
    val raw =
      if (!manifestFresh(spark, path, verify))
        // stale/missing manifest — layout mutated since writeManifest;
        // correctness over pruning (recursiveFileLookup also disables
        // partition inference, so appended bin_x=… files read with the
        // flat schema)
        readerFor(spark, path, flat = true)
          .option("recursiveFileLookup", "true").parquet(path)
          .filter(boxFilter)
      else {
        val files = manifestDf(spark, path)
          .filter(col("x1") >= xr._1 && col("x0") < xr._2 &&
                  col("y1") >= yr._1 && col("y0") < yr._2)
          .select("file").collect().map(r => s"$path/${r.getString(0)}")
        if (files.isEmpty)
          readerFor(spark, path, flat = false).parquet(path).filter(lit(false))
        else
          readerFor(spark, path, flat = true).parquet(files.toIndexedSeq: _*).filter(boxFilter)
      }
    // pending deletes ride every read path (a post-delete writeManifest
    // could make the manifest look fresh while tombstones are pending)
    minusTombstones(spark, path, raw)
  }

  /** Box COUNT answered (mostly) from the manifest: a file whose
    * [x0,x1]×[y0,y1] envelope lies fully inside the half-open box
    * contributes its manifest `n_rows` without being opened; only
    * files STRADDLING the box boundary are scanned and filtered.  At
    * 100 TB a cardinality probe — the reference's "how many points
    * here?" (a geo_index query followed by len()) — then touches
    * kilobytes of manifest plus the box *perimeter* instead of
    * scanning the box *area*.  Stale manifest ⇒ full recursive-scan
    * count, exactly as [[queryBoxViaManifest]].
    */
  def countBoxViaManifest(spark: SparkSession, path: String,
                          xr: (Double, Double), yr: (Double, Double),
                          verify: Boolean = false): DataFrame = {
    val boxFilter =
      col("x") >= xr._1 && col("x") < xr._2 &&
        col("y") >= yr._1 && col("y") < yr._2
    // a manifest row's n_rows cannot subtract pending deletes — under
    // tombstones the count comes from a merged scan (correct, unpruned)
    if (hasPendingDeletes(spark, path))
      return minusTombstones(spark, path,
        readerFor(spark, path, flat = true)
          .option("recursiveFileLookup", "true").parquet(path)
          .filter(boxFilter)).agg(count("*").as("n"))
    if (!manifestFresh(spark, path, verify))
      return readerFor(spark, path, flat = true)
          .option("recursiveFileLookup", "true").parquet(path)
        .filter(boxFilter).agg(count("*").as("n"))
    val m = manifestDf(spark, path)
    val intersects = col("x1") >= xr._1 && col("x0") < xr._2 &&
      col("y1") >= yr._1 && col("y0") < yr._2
    val contained = col("x0") >= xr._1 && col("x1") < xr._2 &&
      col("y0") >= yr._1 && col("y1") < yr._2
    val interior = m.filter(intersects && contained)
      .agg(coalesce(sum("n_rows"), lit(0L)).as("n"))
    val boundaryFiles = m.filter(intersects && !contained)
      .select("file").collect().map(r => s"$path/${r.getString(0)}")
    if (boundaryFiles.isEmpty) interior
    else
      interior.union(
        readerFor(spark, path, flat = true).parquet(boundaryFiles.toIndexedSeq: _*)
          .filter(boxFilter).agg(count("*").as("n")))
        .agg(sum("n").as("n"))
  }

  /** Files that might contain any of the keys in `keys` (single
    * column, any type — hashed exactly as the writer hashed the
    * layout column), answered from the manifest membership filters as
    * a DISTRIBUTED probe: the kilobyte-scale manifest broadcasts
    * against the batch's keys, so a probe/merge batch of any size
    * prunes without EITHER side's filter arrays ever landing on the
    * driver — only matching file NAMES are collected.  None when the
    * manifest cannot answer (stale, or `keyCol` undeclared when it
    * was built); rows with null filters are always included — unknown
    * must open.  Never false-negative, so callers may scan only the
    * returned files.
    */
  private[graft] def bloomCandidateFiles(spark: SparkSession, path: String,
                                         keys: DataFrame,
                                         keyCol: String = "id")
      : Option[Seq[String]] = {
    if (!manifestFresh(spark, path, verify = false)) return None
    // the DISTRIBUTED manifest read, on purpose: the cached
    // manifestDf is slim (filter arrays dropped before its driver
    // collect), and the probe's array work must run in executors —
    // the driver sees file names only (the 61v contract, pinned by
    // IdProbeSpec).  Only the SCHEMA rides a (listing-keyed) cache:
    // each probed column otherwise paid a fresh footer-inference job
    // before its scan (r18).
    val m = manifestParquetWithCachedSchema(spark, path)
    val bc = bloomColName(keyCol)
    if (!m.columns.contains(bc)) return None
    val kt = keys.schema.fields.head.dataType
    val k = keys.toDF("k")
      .select(bloomKeyCol(col("k"), kt).as("k")).distinct()
    val nHashes = BloomHashes.length
    // pruning only carries information while the PROBE's positions
    // undercover the space: once |keys|·k approaches BloomM the
    // probed positions blanket every filter and the candidate set is
    // the universe — skip the computation instead of paying for it
    // (a >BloomM/2k-key batch lookup is a scan, not a point probe)
    val maxKeys = (BloomM / (2 * nHashes)).toInt
    // null probe keys can never match an exact semi-join — drop them
    // before collecting (a nullable key column would otherwise NPE
    // the driver-side getLong)
    val collected =
      k.filter(col("k").isNotNull).limit(maxKeys + 1).collect().map(_.getLong(0))
    if (collected.length > maxKeys) return None
    // the surviving key set is metadata-sized (≤ BloomM/2k values —
    // the same class as the file-name lists this function returns),
    // so its positions are computed here and shipped as a literal
    // frame; the per-file filter ARRAYS never leave the executors.
    // The candidate test is an equi-join on hash position, NOT
    // array_contains over the merged arrays: the theta-join form
    // cost keys × files × |array| element compares, which at 10×
    // data turned the manifest-sized probe into the query's dominant
    // term (ProbeSplit r10: 25 s at sf1).
    import m.sparkSession.implicits._
    val kpos = collected.zipWithIndex.flatMap { case (key, ki) =>
      bloomPositions(key).map(pos => (ki, pos))
    }.toSeq.toDF("ki", "pos")
    val mExp = m.filter(col(bc).isNotNull)
      .select(col("file"), explode(col(bc)).as("pos"))
    // a file is a candidate iff ALL k of some key's positions appear
    // in its filter ((file, pos) rows are distinct, so count == k)
    val hit = mExp.join(broadcast(kpos), Seq("pos"))
      .groupBy(col("file"), col("ki")).agg(count(lit(1)).as("np"))
      .filter(col("np") === nHashes)
      .select("file").distinct().collect().map(_.getString(0))
    val unknown = m.filter(col(bc).isNull)
      .select("file").collect().map(_.getString(0))
    Some((hit ++ unknown).toIndexedSeq.map(f => s"$path/$f"))
  }

  /** Point probe on one or more DECLARED filter columns, planned
    * through the manifest's per-file membership filters: only files
    * that might contain a probed key in EVERY probed column are
    * opened (candidate sets intersect — a file must pass each
    * column's filter).  The filters never false-negative, so the
    * pruning is sound; false positives just open extra files the
    * exact predicate then empties.  This is the no-box lookup the
    * envelope stats cannot serve — "fetch these points by index"
    * against 100 TB touches manifest kilobytes plus the files that
    * might hold the keys, and the probe is DISTRIBUTED end to end:
    * the filter arrays stay in executors ([[bloomCandidateFiles]]),
    * the driver sees file names only.  Stale manifest ⇒ correct
    * unpruned scan; a probed column the manifest has no filter for
    * simply doesn't prune (its candidate set is the universe).
    */
  def queryKeysViaManifest(spark: SparkSession, path: String,
                           probes: Seq[(String, DataFrame)],
                           verify: Boolean = false): DataFrame = {
    require(probes.nonEmpty, "queryKeysViaManifest needs at least one probe")
    // exact per-column membership: broadcast semi-joins against the
    // (small) probe key frames — the row-level twin of isin, shaped
    // for probe frames of any size
    def exact(df: DataFrame) = probes.foldLeft(df) { case (d, (c, ks)) =>
      d.join(broadcast(ks.toDF(c).distinct()), Seq(c), "leftsemi")
    }
    def fallback = readerFor(spark, path, flat = true)
      .option("recursiveFileLookup", "true").parquet(path)
    val raw =
      if (!manifestFresh(spark, path, verify)) fallback
      else {
        val sets = probes.flatMap { case (c, ks) =>
          bloomCandidateFiles(spark, path, ks, c)
        }
        if (sets.isEmpty) fallback // no probed column has a filter
        else {
          val files = sets.map(_.toSet).reduce(_ intersect _)
          if (files.isEmpty)
            readerFor(spark, path, flat = false).parquet(path).filter(lit(false))
          else
            readerFor(spark, path, flat = true)
              .parquet(files.toIndexedSeq: _*)
        }
      }
    // tombstones subtract on the raw scan (it still carries
    // `_metadata`), the exact membership joins come after
    exact(minusTombstones(spark, path, raw))
  }

  /** [[queryKeysViaManifest]] on the layout's `id` column. */
  def queryIdsViaManifest(spark: SparkSession, path: String,
                          ids: Seq[Long],
                          verify: Boolean = false): DataFrame = {
    import spark.implicits._
    queryKeysViaManifest(spark, path, Seq("id" -> ids.toDF("id")), verify)
  }

  /** Box MIN/MAX/COUNT answered (mostly) from the manifest — the
    * aggregate-pushdown face of the same sidecar (what Iceberg/Trino
    * do with manifest stats): a file whose envelope lies fully inside
    * the half-open box contributes its manifest `n_rows`/`z0`/`z1`
    * WITHOUT being opened (min and max are decomposable: the min over
    * the box is the min of interior-file minima and the scanned
    * boundary rows' minimum); only boundary-straddling files are
    * scanned.  Perimeter-not-area, as [[countBoxViaManifest]].
    * Requires a `z`-bearing layout (manifest carries z0/z1).
    */
  def minMaxBoxViaManifest(spark: SparkSession, path: String,
                           xr: (Double, Double), yr: (Double, Double),
                           verify: Boolean = false): DataFrame = {
    val boxFilter =
      col("x") >= xr._1 && col("x") < xr._2 &&
        col("y") >= yr._1 && col("y") < yr._2
    def aggOf(df: DataFrame) =
      df.agg(count("*").as("n"), min("z").as("zmin"), max("z").as("zmax"))
    // manifest z0/z1 cannot subtract pending deletes — merged scan
    if (hasPendingDeletes(spark, path))
      return aggOf(minusTombstones(spark, path,
        spark.read.option("recursiveFileLookup", "true")
          .parquet(path).filter(boxFilter)))
    if (!manifestFresh(spark, path, verify))
      return aggOf(spark.read.option("recursiveFileLookup", "true")
        .parquet(path).filter(boxFilter))
    val m = manifestDf(spark, path)
    require(m.columns.contains("z0"),
      s"$path/_manifest carries no z stats — the layout has no z column")
    val intersects = col("x1") >= xr._1 && col("x0") < xr._2 &&
      col("y1") >= yr._1 && col("y0") < yr._2
    val contained = col("x0") >= xr._1 && col("x1") < xr._2 &&
      col("y0") >= yr._1 && col("y1") < yr._2
    val interior = m.filter(intersects && contained)
      .agg(coalesce(sum("n_rows"), lit(0L)).as("n"),
        min("z0").as("zmin"), max("z1").as("zmax"))
    val boundaryFiles = m.filter(intersects && !contained)
      .select("file").collect().map(r => s"$path/${r.getString(0)}")
    if (boundaryFiles.isEmpty) interior
    else
      interior.union(
        aggOf(readerFor(spark, path, flat = true).parquet(boundaryFiles.toIndexedSeq: _*)
          .filter(boxFilter)))
        .agg(sum("n").as("n"), min("zmin").as("zmin"), max("zmax").as("zmax"))
  }

  /** SNAPSHOT box query: the layout as it stood at `asOfEpoch` — the
    * manifest's per-row commit `epoch` is the snapshot axis (each
    * incremental append stamps its files with the epoch they became
    * visible at), so time travel costs one BIGINT per manifest row
    * and zero extra I/O.  Files committed after `asOfEpoch` are
    * planned away exactly like envelope-pruned files.
    *
    * History lives only as long as the manifest rows that carry it:
    * [[writeManifest]] (full rebuild) and the compactors stamp every
    * row with the current epoch, so snapshots older than the last
    * rebuild/compaction are gone — requesting one throws rather than
    * returning a silently-wrong subset.  A stale manifest refuses
    * too: with unmanifested files on disk there IS no sound snapshot
    * to serve (the fallback scan of the other readers would read
    * files from AFTER the requested epoch).
    */
  def queryBoxAsOf(spark: SparkSession, path: String, asOfEpoch: Long,
                   xr: (Double, Double), yr: (Double, Double),
                   verify: Boolean = false): DataFrame = {
    // POSITIONAL deletes carry their commit epoch in the part name —
    // the snapshot subtracts exactly the deletes at-or-before the
    // pinned epoch and ignores later ones (time travel composes with
    // merge-on-read).  Equality tombstones and un-epoched parts
    // (crash-healed adoptions) still refuse: they cannot be placed on
    // the snapshot axis.
    require(pendingTombstones(spark, path).isEmpty,
      s"$path has pending equality (key) tombstones — those carry no " +
        "epoch, so no historical snapshot is reconstructible; compact first")
    val deleteParts = positionalDeletePartsEpoch(spark, path)
    require(deleteParts.forall(_._4.isDefined),
      s"$path has pending positional deletes without a recorded commit " +
        "epoch (crash-healed or pre-epoch sidecars) — no historical " +
        "snapshot is reconstructible; compact first")
    require(manifestFresh(spark, path, verify),
      s"$path: manifest is stale — snapshot reads have no sound " +
        "fallback; run writeManifest (which resets history to the " +
        "current epoch) first")
    val m = manifestDf(spark, path)
    // min over an EMPTY manifest is null — refuse with the history
    // message rather than NPE (a zero-file layout has no snapshots);
    // computed driver-side so a cached manifest costs zero jobs
    val es = m.select("epoch").collect()
      .flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    require(es.nonEmpty,
      s"$path: manifest is empty — no snapshot history to serve")
    val oldest = es.min
    require(asOfEpoch >= oldest,
      s"$path: history before epoch $oldest was compacted away " +
        s"(requested $asOfEpoch)")
    val files = m
      .filter(col("epoch") <= asOfEpoch &&
        col("x1") >= xr._1 && col("x0") < xr._2 &&
        col("y1") >= yr._1 && col("y0") < yr._2)
      .select("file").collect().map(r => s"$path/${r.getString(0)}")
    val boxFilter =
      col("x") >= xr._1 && col("x") < xr._2 &&
        col("y") >= yr._1 && col("y") < yr._2
    val raw =
      if (files.isEmpty)
        readerFor(spark, path, flat = false).parquet(path).filter(lit(false))
      else
        readerFor(spark, path, flat = true)
          .parquet(files.toIndexedSeq: _*).filter(boxFilter)
    // subtract ONLY the deletes visible at the pinned epoch
    val dead = deleteParts.filter(_._4.exists(_ <= asOfEpoch)).map(_._1)
    if (dead.isEmpty || files.isEmpty) raw
    else minusPositionalParts(spark, path, raw, dead)
  }

  /** `df` minus the positional tombstones held in the given PART
    * files — the epoch-sliced subtraction the AS OF paths use
    * ([[minusTombstones]]' positional arm restricted to the parts
    * committed at-or-before the pinned epoch).  `df` must derive
    * directly from a parquet scan of this layout.
    */
  private def minusPositionalParts(spark: SparkSession, path: String,
                                   df: DataFrame,
                                   partFiles: Seq[String]): DataFrame = {
    val root = rootPathOf(spark, path)
    val ts = metaParquet(spark, partFiles).select(
      col("file").as("__file"), col("pos").as("__pos"))
    df.withColumn("__file", relativeTo(root)(col("_metadata.file_path")))
      .withColumn("__pos", col("_metadata.row_index"))
      .join(ts, Seq("__file", "__pos"), "left_anti")
      .drop("__file", "__pos")
  }

  /** Snapshot inventory (the Iceberg snapshots-table analog): one row
    * per commit epoch still in history, with the files and rows that
    * commit added — what [[queryBoxAsOf]] can still serve.  Pure
    * manifest metadata; no data file is opened.
    */
  def snapshots(spark: SparkSession, path: String): DataFrame =
    manifestDf(spark, path)
      .groupBy("epoch")
      .agg(count("*").cast("long").as("n_files"),
        sum("n_rows").cast("long").as("n_rows"))
      .orderBy("epoch")

  /** Incremental consumption (the Iceberg incremental-read analog):
    * the rows committed AFTER `sinceEpoch` — exactly the files whose
    * manifest epoch exceeds it, so a periodic consumer syncs a
    * growing layout by reading only the new batches (no streaming
    * infrastructure, no full rescan; pair with [[snapshots]] to
    * checkpoint the consumed epoch).  Same soundness contract as
    * [[queryBoxAsOf]]: requires a fresh manifest and no pending
    * deletes (a delete is not an append — consumers of a mutating
    * layout need the merged read, not a changelog).
    */
  def readChangesSince(spark: SparkSession, path: String,
                       sinceEpoch: Long): DataFrame = {
    require(!hasPendingDeletes(spark, path),
      s"$path has pending deletes — incremental reads describe appends " +
        "only; compact first")
    require(manifestFresh(spark, path, verify = false),
      s"$path: manifest is stale — unmanifested files have no epoch, " +
        "so no sound changelog exists; run writeManifest first")
    val files = manifestDf(spark, path)
      .filter(col("epoch") > sinceEpoch)
      .select("file").collect().map(r => s"$path/${r.getString(0)}")
    if (files.isEmpty) readerFor(spark, path, flat = false).parquet(path).filter(lit(false))
    else readerFor(spark, path, flat = true).parquet(files.toIndexedSeq: _*)
  }

  /** The reference's `make_queue` (ATL06_tiles.py:162-210,
    * cross_ATL06_tile.py:89-99) re-expressed as METADATA: instead of
    * writing shell-command queue files for a batch scheduler, answer
    * the question those files encode — WHICH TILES NEED RE-RUNNING
    * after new data landed — as a tiny DataFrame a scheduler joins
    * against.  Changed rows come from the commit changelog
    * ([[readChangesSince]] — epochs > sinceEpoch), roll up to their
    * tile, and (as the reference's `dilate_bins`) optionally dilate
    * to the 8-neighborhood: a tile whose edge data changed also
    * invalidates its neighbors' crossover products.  Output:
    * (tile_e, tile_n, n_new) with n_new = 0 for tiles stale only via
    * dilation.  At 100 TB this reads ONLY the appended files (the
    * changelog prune), and the result is tile-count-sized — the
    * job-spawning itself stays an orchestration concern.
    */
  def staleTiles(spark: SparkSession, path: String, sinceEpoch: Long,
                 tileSize: Double, dilate: Boolean = true): DataFrame = {
    require(tileSize > 0, s"tile size must be positive: $tileSize")
    val changed = readChangesSince(spark, path, sinceEpoch)
    require(changed.columns.contains("x") && changed.columns.contains("y"),
      s"$path rows carry no x/y coordinates — staleTiles needs the " +
        "spatial tile axes")
    val base = changed
      .withColumn("tile_e",
        (floor(col("x") / tileSize) * tileSize).cast("long"))
      .withColumn("tile_n",
        (floor(col("y") / tileSize) * tileSize).cast("long"))
      .groupBy("tile_e", "tile_n")
      .agg(count(lit(1)).as("n_new"))
    if (!dilate) base
    else base
      // constant 3-element explodes (the pad-bins pattern): 9 rows
      // per CHANGED TILE, never per point — metadata-sized
      .withColumn("de", explode(typedlit(Seq(-1L, 0L, 1L))))
      .withColumn("dn", explode(typedlit(Seq(-1L, 0L, 1L))))
      .select(
        (col("tile_e") + col("de") * tileSize.toLong).as("tile_e"),
        (col("tile_n") + col("dn") * tileSize.toLong).as("tile_n"),
        when(col("de") === 0L && col("dn") === 0L, col("n_new"))
          .otherwise(lit(0L)).as("n_new"))
      .groupBy("tile_e", "tile_n")
      .agg(sum("n_new").as("n_new"))
  }

  /** Maintenance sweep for crash leftovers (the VACUUM analog): the
    * staged-write protocols never delete live data, so a crash can
    * strand sibling directories — `<layout>.staging-*` (interrupted
    * appends), `<layout>.pre-compact` (the preserve-aside of a
    * compaction that died mid-swap), `<layout>.compact` (a rewrite
    * that never swapped in) — plus unresolved `_merge_staging`
    * entries.  vacuum resolves the merge stages (adopt live, discard
    * void) and deletes the known-pattern siblings.  It never touches
    * the live tree, the sidecars, or anything it cannot positively
    * identify as this layout's debris.
    */
  def vacuum(spark: SparkSession, path: String,
             staleAgeMs: Long = CommitLock.leaseMs): Unit = {
    adoptStagedMerges(spark, path)
    // a `.staging-`/`.compact` sibling younger than the commit lease
    // may belong to a LIVE writer staging its batch (stage runs
    // outside the lock by design) — sweep only older strays, or pass
    // `staleAgeMs = 0` on a quiesced layout
    CommitLock.withLock(spark, path) {
      val fs = fsOf(spark, path)
      healManifestCoalesce(spark, path) // resolve a crashed metadata swap
      healRollback(spark, path) // finish a crashed rollback
      val p = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
      val parent = p.getParent
      val base = p.getName
      if (parent != null && fs.exists(parent))
        fs.listStatus(parent).foreach { st =>
          val n = st.getPath.getName
          val old = System.currentTimeMillis() -
            st.getModificationTime > staleAgeMs
          if (n != base && old &&
              (n.startsWith(base + ".staging-") ||
                n == base + ".pre-compact" || n == base + ".compact"))
            fs.delete(st.getPath, true)
        }
      // streaming-sink staging dirs live INSIDE the layout, dot-
      // prefixed (every reader skips them); a dead attempt's parts
      // are debris once older than the COMMIT LEASE — floored there
      // regardless of the caller's staleAgeMs, because the documented
      // quiesced-layout usage (`staleAgeMs = 0`) must not delete a
      // LIVE stream's in-flight staged parts mid-batch (the sink
      // stages outside the lock; its parts are younger than one lease
      // for the whole batch lifetime)
      val streamStageAgeMs = math.max(staleAgeMs, CommitLock.leaseMs)
      if (fs.exists(p))
        fs.listStatus(p).foreach { st =>
          val n = st.getPath.getName
          val old = System.currentTimeMillis() -
            st.getModificationTime > streamStageAgeMs
          if (old && n.startsWith(".staging-stream-"))
            fs.delete(st.getPath, true)
        }
      // SQL row-level mutations stage under `_rlo_staging/<uuid>`
      // ([[graft.sources.v2.GraftRowLevel]]); commit and abort both
      // drop the attempt dir, so anything still here belonged to a
      // CRASHED mutation (driver death mid-write) and would otherwise
      // leak forever.  Floor at THREE leases — a healthy mutation's
      // staging lives exactly one task-write-to-commit window, but
      // unlike the streaming sink's per-batch staging that window is
      // not lease-bounded (a large UPDATE stages for as long as its
      // write stage runs), so leave generous slack; vacuum is
      // scheduled maintenance, not a hot-path race
      val rlo = new org.apache.hadoop.fs.Path(p, "_rlo_staging")
      val rloAgeMs = math.max(staleAgeMs, CommitLock.leaseMs * 3)
      if (fs.exists(rlo))
        fs.listStatus(rlo).foreach { st =>
          val old = System.currentTimeMillis() -
            st.getModificationTime > rloAgeMs
          if (old) fs.delete(st.getPath, true)
        }
      // `_commits` debris: crashed release tombstones and orphaned
      // bids are dead once several leases old (every pending rename
      // they fence is lease-bounded), and nothing else ever removes
      // them.  The live `lock` file is ours right now (we are inside
      // withLock) and is never matched.  `lock.broken-` break
      // tombstones are NEVER swept: they are the only fence that
      // makes a losing breaker's arbitrarily-delayed rename fail
      // (CommitLock.breakIfStale), a breaker can be paused longer
      // than any age threshold (GC pause, partition), and there is
      // exactly one tiny file per actual crash-break — retaining
      // them forever costs nothing and removes the two-holder race.
      val commits = new org.apache.hadoop.fs.Path(p, "_commits")
      val debrisAgeMs = math.max(staleAgeMs, CommitLock.leaseMs) * 3
      if (fs.exists(commits))
        fs.listStatus(commits).foreach { st =>
          val n = st.getPath.getName
          val old = System.currentTimeMillis() -
            st.getModificationTime > debrisAgeMs
          if (old && (n.startsWith("lock.rel-") || n.startsWith("lock.bid-")))
            fs.delete(st.getPath, false)
        }
    }
  }

  /** Metadata compaction for the `_manifest` sidecar: coalesce the
    * one-part-per-commit accumulation ([[commitStaged]] appends one
    * tiny parquet part per commit) into a SINGLE part with identical
    * rows — same files, same epochs, same stats, `_manifest_epoch`
    * untouched.  Why it matters at scale: every planner touch reads
    * one footer per commit, so a month of minutely CDC commits makes
    * ~43k tiny footer reads per plan (appends, streaming micro-batch
    * planning, SQL-face file pruning all pay it).  Because the rows
    * are identical, this is NOT a history reset: the changelog floor,
    * epoch history, `TIMESTAMP AS OF` stamps, and every checkpointed
    * streaming consumer's offsets stay valid — a stream polls across
    * the coalesce without a restart (proven in GraftStreamSpec).
    *
    * Protocol (all under the layout's CommitLock, so writers — whose
    * manifest appends also run under it — never see the swap):
    * stage the coalesced copy under `_manifest.coalesced`, verify the
    * row count, then swap via two renames with a `_manifest.
    * pre-coalesce` preserve.  A crash between the renames leaves the
    * deterministic preserve + stage pair, which [[healManifestCoalesce]]
    * (run at every compactManifest/vacuum entry) rolls forward;
    * lock-free READERS racing the swap can transiently miss
    * `_manifest` for the two-metadata-op window and degrade to the
    * stale-manifest fallback — strictly smaller exposure than
    * [[writeManifest]]'s delete-then-rewrite job, which this verb
    * exists to avoid paying (a rebuild re-reads every DATA footer;
    * this touches only the sidecar).
    */
  def compactManifest(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    val m = new org.apache.hadoop.fs.Path(s"$path/_manifest")
    if (!fs.exists(m) && !fs.exists(
        new org.apache.hadoop.fs.Path(s"$path/_manifest.pre-coalesce")))
      return
    CommitLock.withLock(spark, path) {
      healManifestCoalesce(spark, path)
      val parts = fs.listStatus(m)
        .count(_.getPath.getName.endsWith(".parquet"))
      if (parts > 1) {
        val stage = new org.apache.hadoop.fs.Path(
          s"$path/_manifest.coalesced")
        val pre = new org.apache.hadoop.fs.Path(
          s"$path/_manifest.pre-coalesce")
        val before = metaParquet(spark, m.toString)
        val n = before.count()
        // deterministic single part; epoch order keeps the dominant
        // reads (epoch-range filters, max(epoch)) one-run sequential
        before.orderBy("epoch", "file").coalesce(1)
          .write.mode("overwrite").parquet(stage.toString)
        require(spark.read.parquet(stage.toString).count() == n,
          s"$path: coalesced manifest row count diverged — aborting " +
            "before the swap (original manifest untouched)")
        require(fs.rename(m, pre),
          s"$path: could not move _manifest aside for the coalesce")
        if (!fs.rename(stage, m)) {
          // restore the original — the swap never half-applies
          require(fs.rename(pre, m),
            s"$path: manifest coalesce swap AND restore failed — " +
              "run rebuild (writeManifest)")
          throw new IllegalStateException(
            s"$path: manifest coalesce swap failed; original restored")
        }
        fs.delete(pre, true)
      }
    }
  }

  /** Auto-gated [[compactManifest]], the scheduling convention of
    * [[compactCurveIfNeeded]] applied to the METADATA sidecar: every
    * commit appends one tiny manifest part, so a month of minutely
    * CDC would otherwise need an operator to remember `CALL
    * system.coalesce_manifest` or pay ~43k footer reads per planner
    * touch.  The manifest-appending commit paths
    * ([[appendWithManifest]], [[appendCurve]] — and through them the
    * SQL INSERT, the streaming sink, and every MERGE/upsert verb)
    * call this after their commit: the decision is ONE directory
    * listing of the sidecar, and the coalesce itself (amortized
    * 1/maxParts of commits) rewrites only the sidecar, never a data
    * footer.  Runs OUTSIDE the commit lock — compactManifest takes
    * it, and a concurrent commit landing between the gate's count
    * and the swap is safe (the swap runs under the lock and copies
    * whatever rows are live then).
    *
    * @return true iff a coalesce ran.
    */
  def coalesceManifestIfNeeded(spark: SparkSession, path: String,
                               maxParts: Int = 32): Boolean = {
    val fs = fsOf(spark, path)
    val m = new org.apache.hadoop.fs.Path(s"$path/_manifest")
    if (!fs.exists(m)) return false
    val parts = fs.listStatus(m)
      .count(_.getPath.getName.endsWith(".parquet"))
    if (parts > maxParts) { compactManifest(spark, path); true }
    else false
  }

  /** Resolve a crash-stranded [[compactManifest]] swap (deterministic
    * stage/preserve names make the state machine total).  Call under
    * the lock.
    */
  private def healManifestCoalesce(spark: SparkSession,
                                   path: String): Unit = {
    val fs = fsOf(spark, path)
    val m = new org.apache.hadoop.fs.Path(s"$path/_manifest")
    val stage = new org.apache.hadoop.fs.Path(s"$path/_manifest.coalesced")
    val pre = new org.apache.hadoop.fs.Path(s"$path/_manifest.pre-coalesce")
    if (fs.exists(m)) {
      // live manifest ⇒ any leftovers are an aborted stage or a
      // completed swap's preserve — both dead
      if (fs.exists(stage)) fs.delete(stage, true)
      if (fs.exists(pre)) fs.delete(pre, true)
    } else if (fs.exists(pre)) {
      if (fs.exists(stage)) {
        // crashed between the renames: roll FORWARD (the stage was
        // verified complete before the first rename)
        require(fs.rename(stage, m),
          s"$path: manifest coalesce roll-forward failed")
        fs.delete(pre, true)
      } else {
        // stage lost (never fully written is impossible here — it is
        // written before rename 1 — but be total): restore original
        require(fs.rename(pre, m),
          s"$path: manifest coalesce restore failed")
      }
    }
  }

  /** Restore the layout's PRESENT to the state at commit `epoch` —
    * the "undo the bad commit" verb (`CALL system.rollback_to`).
    * Metadata-first: the manifest is truncated to rows at-or-before
    * `epoch` (the same staged swap [[compactManifest]] uses), the
    * later commits' tombstone parts are dropped (restoring the rows
    * their merges had replaced — the 61z17 epoch slice in reverse),
    * and the later commits' data files are removed so a future
    * [[writeManifest]] footer sweep cannot resurrect them.  The
    * commit counter is NOT reset — the next append claims a FRESH
    * epoch number, so no changelog range ever silently means
    * different data.  `_epoch_times` stamps above the target are
    * kept: `CALL system.history` then shows the rolled-back commits
    * as stamped epochs with no surviving files — the audit trail of
    * the rollback itself.
    *
    * History contracts: epochs at-or-before the target keep serving
    * `VERSION/TIMESTAMP AS OF` exactly as before; an AS-OF into the
    * rolled-back range resolves to the target's state (the bad
    * commits' files no longer exist to serve).  Incremental/streaming
    * consumers positioned past the target CANNOT continue exactly-
    * once (rows they already delivered were un-done), so the rollback
    * writes a NON-preserving changelog-floor record — every
    * checkpointed stream fails loudly with the restart instruction,
    * and a fresh stream re-delivers the standing corpus.
    *
    * Refuses: across a compaction/rebuild history reset (target below
    * the changelog floor or the oldest surviving manifest epoch —
    * exactly the AS-OF refusal), on a stale manifest, and under
    * pending equality tombstones.  Crash-safe via an intent journal:
    * every mutation is listed in `_rollback.intent` BEFORE any of it
    * runs, and [[healRollback]] (entry of rollbackTo and vacuum, plus
    * writeManifest's repair pass) re-executes the idempotent steps to
    * completion, so a crash mid-rollback can delay it, never leave
    * half a rollback visible as a final state.
    */
  def rollbackTo(spark: SparkSession, path: String, epoch: Long): Unit = {
    adoptStagedMerges(spark, path) // give staged merge deletes their epochs
    CommitLock.withLock(spark, path) {
      healRollback(spark, path) // finish a crashed predecessor first
      require(manifestFresh(spark, path, verify = false),
        s"$path: manifest is stale — a rollback cannot enumerate the " +
          "commits to undo; run writeManifest first (which resets " +
          "history and makes the rollback target unreachable) or " +
          "repair the crashed writer")
      require(pendingTombstones(spark, path).isEmpty,
        s"$path has pending equality (key) tombstones — those carry " +
          "no commit epoch and cannot be sliced; run a compaction " +
          "first (which resets history) or apply them")
      val st = changelogFloor(spark, path)
      val m = manifestDf(spark, path)
      val bounds = m.agg(min("epoch"), max("epoch")).head()
      require(!bounds.isNullAt(0), s"$path: manifest is empty")
      val (minE, maxE) = (bounds.getLong(0), bounds.getLong(1))
      require(epoch >= minE && epoch >= st.floor,
        s"$path: history at-or-before epoch ${math.max(minE, st.floor)} " +
          s"was reset (compaction/rebuild) — cannot roll back to $epoch, " +
          "exactly as AS-OF refuses across a history reset")
      if (epoch < maxE) { // at-or-above maxE: nothing to undo, no-op
        val parts = positionalDeletePartsEpoch(spark, path)
        require(parts.forall(_._4.isDefined),
          s"$path has pending merge-on-read deletes without a recorded " +
            "commit epoch (crash-healed) — they cannot be sliced; run a " +
            "compaction first")
        val doomedParts = parts.filter(_._4.exists(_ > epoch)).map(_._1)
        val doomedFiles = m.filter(col("epoch") > epoch)
          .select("file").collect().map(_.getString(0)).toSeq
        // the complete mutation list lands atomically BEFORE any of
        // it runs; every step below is idempotent against this journal
        val record = ChangelogFloor(st.floor - 1, st.floor, maxE,
          preserved = false)
        writeTextFile(spark, s"$path/_rollback.intent",
          (Seq(epoch.toString,
            s"${record.floor} ${record.prevFloor} ${record.prevMax} 0") ++
            doomedParts.map("part " + _) ++
            doomedFiles.map("file " + _)).mkString("\n"))
        executeRollback(spark, path)
      }
    }
  }

  /** [[rollbackTo]] by wall-clock — resolves through the
    * `_epoch_times` stamps exactly as `TIMESTAMP AS OF` does.
    */
  def rollbackToTime(spark: SparkSession, path: String,
                     tsMillis: Long): Unit =
    rollbackTo(spark, path, epochAtTime(spark, path, tsMillis))

  /** Re-execute a journaled rollback to completion.  Call under the
    * lock.  Idempotent: each step checks before acting, and the
    * intent is dropped only after the last.
    */
  private def healRollback(spark: SparkSession, path: String): Unit =
    if (fsOf(spark, path).exists(
        new org.apache.hadoop.fs.Path(s"$path/_rollback.intent")))
      executeRollback(spark, path)

  private def executeRollback(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    val intent = s"$path/_rollback.intent"
    val lines = readTextFile(spark, intent).split("\n").toSeq
    val epoch = lines.head.trim.toLong
    val fl = lines(1).trim.split("\\s+")
    val record = ChangelogFloor(fl(0).toLong, fl(1).toLong, fl(2).toLong,
      fl(3) == "1")
    // 1. truncate the manifest via the staged swap (same protocol —
    //    and the same crash heal — as compactManifest)
    val m = new org.apache.hadoop.fs.Path(s"$path/_manifest")
    healManifestCoalesce(spark, path)
    val live = metaParquet(spark, m.toString)
    if (live.filter(col("epoch") > epoch).limit(1).count() > 0) {
      val stage = new org.apache.hadoop.fs.Path(s"$path/_manifest.coalesced")
      val pre = new org.apache.hadoop.fs.Path(s"$path/_manifest.pre-coalesce")
      live.filter(col("epoch") <= epoch).orderBy("epoch", "file")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      require(fs.rename(m, pre), s"$path: rollback manifest swap failed")
      require(fs.rename(stage, m),
        s"$path: rollback manifest swap failed mid-way — " +
          "re-run rollbackTo/vacuum to heal")
      fs.delete(pre, true)
    }
    // 2. drop the rolled-back commits' tombstone parts (restores the
    //    rows their merges replaced), then their data files
    lines.drop(2).foreach { l =>
      if (l.startsWith("part "))
        fs.delete(new org.apache.hadoop.fs.Path(l.stripPrefix("part ")),
          false)
      else if (l.startsWith("file "))
        fs.delete(
          new org.apache.hadoop.fs.Path(s"$path/${l.stripPrefix("file ")}"),
          false)
    }
    // an emptied tombstone sidecar must disappear entirely — its bare
    // directory would read as "pending deletes, zero parts" and break
    // schema inference on every merge-on-read path
    val tombs = new org.apache.hadoop.fs.Path(s"$path/_tombstones_pos")
    if (fs.exists(tombs) &&
        !fs.listStatus(tombs).exists(_.getPath.getName.endsWith(".parquet")))
      fs.delete(tombs, true)
    // 3. fail checkpointed incremental consumers loudly (class note)
    writeChangelogFloor(spark, path, record)
    fs.delete(new org.apache.hadoop.fs.Path(intent), false)
  }

  /** Retention: positional-delete every row older than `cutoffMs`
    * (epoch-ms `t` column) — the TTL maintenance verb.  Merge-on-read
    * like any [[deleteWhere]]; the next compaction reclaims space.
    */
  def expireOlderThan(spark: SparkSession, path: String,
                      cutoffMs: Long): Unit =
    deleteWhere(spark, path, col("t") < cutoffMs)

  /** Box + time-window query planned through the manifest: files are
    * pruned on the x/y envelope AND the [t0,t1] time range (written
    * by [[manifestStatsAggs]] when the layout carries a `t` column).
    * No layout dimension is time, but a time-series ingest's batches
    * are naturally time-bounded, so under continuous
    * [[appendWithManifest]] ingest a recent-window query opens only
    * the recent batches' files — the dominant access pattern of a
    * monitoring/repeat-track workload (the reference re-queries the
    * same region per campaign cycle).  Stale manifest ⇒ full scan,
    * as everywhere.
    */
  def queryBoxTimeViaManifest(spark: SparkSession, path: String,
                              xr: (Double, Double), yr: (Double, Double),
                              tr: (Long, Long),
                              verify: Boolean = false): DataFrame = {
    val rowFilter =
      col("x") >= xr._1 && col("x") < xr._2 &&
        col("y") >= yr._1 && col("y") < yr._2 &&
        col("t") >= tr._1 && col("t") < tr._2
    val raw =
      if (!manifestFresh(spark, path, verify))
        readerFor(spark, path, flat = true)
          .option("recursiveFileLookup", "true").parquet(path)
          .filter(rowFilter)
      else {
        val m = manifestDf(spark, path)
        val boxHit = col("x1") >= xr._1 && col("x0") < xr._2 &&
          col("y1") >= yr._1 && col("y0") < yr._2
        val hit =
          if (m.columns.contains("t0"))
            boxHit && col("t1") >= tr._1 && col("t0") < tr._2
          else boxHit // pre-time manifest: envelope pruning only
        val files = m.filter(hit)
          .select("file").collect().map(r => s"$path/${r.getString(0)}")
        if (files.isEmpty) readerFor(spark, path, flat = false).parquet(path).filter(lit(false))
        else readerFor(spark, path, flat = true).parquet(files.toIndexedSeq: _*).filter(rowFilter)
      }
    minusTombstones(spark, path, raw)
  }

  /** Box query over a curve-clustered layout ([[writeZOrdered]] /
    * [[writeHilbertClustered]]) planned through BIGMIN curve-range
    * decomposition — the Spark analog of the reference's offset-run
    * pruned reads (geo_index.py:410-429).
    *
    * The box's cell rectangle is decomposed into ≤ `maxRanges`
    * contiguous key intervals ([[graft.functions.CurveRanges]]); the
    * intervals prune at BOTH granularities:
    *   - file-level: only files whose manifest [k0,k1] intersects an
    *     interval are opened (when a fresh manifest with curve-key
    *     stats exists — otherwise every file is listed but row groups
    *     still prune);
    *   - row-group-level: the `key BETWEEN lo AND hi` OR-chain is
    *     pushed to the parquet scan, and because the layout is
    *     globally sorted on the key, row-group min/max stats on that
    *     single column skip everything between the intervals.
    * An x/y-envelope plan ([[queryBoxViaManifest]]) over-selects
    * wherever a file/row-group straddles a curve jump (its bounding
    * box covers dead space the curve never enters); the key intervals
    * never do.  Rows are re-filtered by the exact x/y box, so
    * coarsened (superset) intervals stay correct.
    */
  def queryBoxCurve(spark: SparkSession, path: String,
                    xr: (Double, Double), yr: (Double, Double),
                    delta: Double, maxRanges: Int = 32,
                    verify: Boolean = false): DataFrame = {
    import graft.functions.CurveRanges
    val boxFilter =
      col("x") >= xr._1 && col("x") < xr._2 &&
        col("y") >= yr._1 && col("y") < yr._2
    val hasManifest = fsOf(spark, path)
      .exists(new org.apache.hadoop.fs.Path(s"$path/_manifest"))
    if ((readEpoch(spark, path) != 0L || verify) &&
        !manifestFresh(spark, path, verify))
      // the layout was mutated since its (possibly never-written)
      // manifest: appended files may be bin-partitioned and carry no
      // curve key, so neither file pruning nor the key-range filter
      // is sound — correctness over pruning, exactly as in
      // [[queryBoxViaManifest]]
      return minusTombstones(spark, path,
        readerFor(spark, path, flat = true)
          .option("recursiveFileLookup", "true").parquet(path)
          .filter(boxFilter))
    // key-column discovery goes through the manifest (one file's
    // schema), NOT a full-layout listing — `base` below is only built
    // on the paths that genuinely need the whole directory
    val keyCol = curveKeyColOf(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"$path carries no curve key column (${CurveKeyCols.mkString("/")}); " +
          "write it with writeZOrdered/writeHilbertClustered"))
    lazy val base = readerFor(spark, path, flat = false).parquet(path)
    val curve = if (keyCol == "zkey") CurveRanges.Z else CurveRanges.H
    // cells intersecting the half-open box (cellOf = floor(v/δ)); the
    // top edge is a superset cell — the exact boxFilter re-trims it
    val ranges = CurveRanges.decompose(
      math.floor(xr._1 / delta).toLong, math.floor(xr._2 / delta).toLong,
      math.floor(yr._1 / delta).toLong, math.floor(yr._2 / delta).toLong,
      curve, maxRanges)
    if (ranges.isEmpty) return base.filter(lit(false))
    val keyFilter = ranges
      .map { case (lo, hi) => col(keyCol).between(lo, hi) }.reduce(_ || _)
    val src =
      if (!hasManifest) base // fresh unmanifested layout: row-group pruning only
      else {
        val m = manifestDf(spark, path)
        if (!m.columns.contains("k0")) base
        else {
          val hit = ranges
            .map { case (lo, hi) => col("k1") >= lo && col("k0") <= hi }
            .reduce(_ || _)
          val files = m.filter(hit).select("file").collect()
            .map(r => s"$path/${r.getString(0)}")
          if (files.isEmpty) return base.filter(lit(false))
          readerFor(spark, path, flat = true).parquet(files.toIndexedSeq: _*)
        }
      }
    minusTombstones(spark, path, src.filter(keyFilter && boxFilter))
  }

  /** Append a (micro-)batch into the layout — the streaming-ingest
    * write path (see graft.streaming.EventStream.ingestGeoParquet).
    * `mergeDir`: the staged-merge directory whose deletes commit with
    * this batch (the degraded-path analog of [[commitStaged]]'s merge
    * commit; the direct write's job commit is the data landing).
    */
  def append(df: DataFrame, path: String, delta: Double,
             mergeDir: Option[String] = None,
             commitMarker: Option[String] = None): Unit = {
    val spark = df.sparkSession
    val binned = df
      .withColumn("bin_x", GeoOps.binOf(col("x"), delta))
      .withColumn("bin_y", GeoOps.binOf(col("y"), delta))
    // EVERY append stages to an invisible sibling, then commits under
    // the layout's CommitLock: concurrent jobs must never share a
    // live directory's `_temporary` tree (FileOutputCommitter races),
    // and the epoch read-modify-write must serialize for unique
    // per-commit epochs.  The epoch bumps FIRST inside the lock —
    // from there a pre-existing manifest reads as stale, so a crash
    // mid-rename degrades reads to the correct unpruned fallback
    // (a crash mid-STAGE leaves the layout untouched entirely).
    val tmp = path + ".staging-" +
      java.util.UUID.randomUUID().toString.take(8)
    binned.write.mode("overwrite").partitionBy("bin_x", "bin_y").parquet(tmp)
    CommitLock.withLock(spark, path) {
      bumpEpoch(spark, path)
      mergeDir match {
        case Some(d) =>
          // degraded-path MERGE commit: the no-duplicate-window
          // invariant must survive the fallback too, so the batch
          // goes through the SAME journal the manifested path uses —
          // journal (_tmp), rename in, mark landed, adopt.  A direct
          // write would re-open the crash window this protocol
          // closed: dying between the job commit and the _landed
          // marker leaves a landed batch with a stage the heal
          // classifies VOID, and the discarded deletes mean
          // permanent duplicate keys.
          requireStageIntact(spark, d)
          writeTextFile(spark, s"$d/_tmp", tmp)
          markIntent(spark, commitMarker, tmp)
          moveStagedFiles(spark, path, tmp)
          writeTextFile(spark, s"$d/_landed", "1")
          adoptStage(spark, path, d, Some(readEpoch(spark, path)))
          markLanded(spark, commitMarker)
        case None =>
          markIntent(spark, commitMarker, tmp)
          moveStagedFiles(spark, path, tmp)
          markLanded(spark, commitMarker)
      }
    }
  }

  /** A merge writer slower than the commit lease can have its young
    * VOID-looking stage swept by a concurrent healer; landing its
    * batch anyway would silently drop the staged deletes (permanent
    * duplicates).  Fail the append loudly instead — the batch is
    * still in its own staging dir and the whole merge can re-run.
    */
  private def requireStageIntact(spark: SparkSession, d: String): Unit = {
    val fs = fsOf(spark, d)
    val p = new org.apache.hadoop.fs.Path(d)
    require(fs.exists(p) &&
        fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet")),
      s"merge stage $d was swept (writer exceeded CommitLock.leaseMs?) — " +
        "aborting the append; re-run the merge")
  }

  /** Append a batch AND incrementally maintain the manifest — the
    * O(batch) ingest path that keeps pruned reads fresh without the
    * full-layout rebuild [[writeManifest]] costs (at 100 TB a rebuild
    * re-reads every footer; this touches only the batch):
    *
    *   1. bump `_epoch` FIRST — from here readers see a stale
    *      manifest and fall back to a correct unpruned scan, so a
    *      crash anywhere below degrades performance, never answers;
    *   2. stage the batch into a sibling directory, harvest its
    *      per-file min/max stats (reads only the staged files);
    *   3. move the staged files into the layout (bin-dir-preserving
    *      renames — part-file names are UUID-unique);
    *   4. append the stats rows to `_manifest` and snapshot
    *      `_manifest_epoch` — pruned reads resume.
    *
    * Requires an existing base-schema manifest (bin-partitioned
    * layouts; curve-clustered layouts are overwrite-only by design).
    * Falls back to plain [[append]] when the layout has no manifest.
    */
  def appendWithManifest(df: DataFrame, path: String, delta: Double,
                         mergeDir: Option[String] = None,
                         commitMarker: Option[String] = None): Unit = {
    val spark = df.sparkSession
    val fs = fsOf(spark, path)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_manifest"))) {
      append(df, path, delta, mergeDir, commitMarker); return
    }
    require(!manifestDf(spark, path).columns.contains("k0"),
      "appendWithManifest maintains bin-partitioned manifests; " +
        "curve-clustered layouts append via appendCurve")
    // CONTINUITY GUARD: incremental maintenance is only sound on a
    // manifest that was fresh when this append started.  If a prior
    // append crashed after its renames but before its stats landed,
    // the manifest is missing that batch's files — appending THIS
    // batch's stats and stamping `_manifest_epoch` would mark the
    // hole fresh and pruned reads would silently drop the crashed
    // batch's rows forever.  A stale start therefore degrades to a
    // plain append (reads keep falling back, still correct) until
    // writeManifest rebuilds the whole sidecar.
    if (readEpoch(spark, path) !=
        readEpochFile(spark, s"$path/_manifest_epoch")) {
      append(df, path, delta, mergeDir, commitMarker); return
    }
    // stage + stats OUTSIDE the lock (the batch-sized work); the
    // commit epoch is claimed under the lock, so the stats carry a
    // placeholder re-stamped at commit time
    val tmp = path + ".staging-" + java.util.UUID.randomUUID().toString.take(8)
    val binned = df.withColumn("bin_x", GeoOps.binOf(col("x"), delta))
      .withColumn("bin_y", GeoOps.binOf(col("y"), delta))
    binned.write.mode("overwrite").partitionBy("bin_x", "bin_y").parquet(tmp)
    // emptiness is read off the STAGED listing, not a pre-pass over
    // the batch: the old `df.isEmpty` gate cost one full scan of the
    // input per append, while a 0-row dynamic-partition write lands
    // no data files at all — "nothing staged" ⇔ empty batch, for the
    // price of one driver-side listing of the staging dir
    if (listDataFiles(spark, tmp).isEmpty) {
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      // a 0-row stage has no files to harvest; a merge with an empty
      // insert set commits trivially (its deletes go live now) — at
      // its OWN epoch, advanced in lockstep with `_manifest_epoch`
      // (nothing the manifest asserts about files changed, so
      // freshness survives; see deleteWhere)
      CommitLock.withLock(spark, path) {
        mergeDir.foreach { d =>
          writeTextFile(spark, s"$d/_landed", "1")
          val e = claimDeleteEpoch(spark, path)
          adoptStage(spark, path, d, Some(e))
        }
        markLanded(spark, commitMarker) // nothing to land; replay is a no-op
      }
      return
    }
    // per-file stats over the STAGED batch only, root-relative — the
    // relative path is identical after the rename below; materialized
    // (localCheckpoint) BEFORE the files move away.  The staged schema
    // is known exactly (we just wrote it; bin_x/bin_y read back as the
    // partition columns they were written as), so the explicit schema
    // skips the per-commit footer-inference job.
    val stats = statsOf(
        spark.read.schema(org.apache.spark.sql.types.StructType(
          binned.schema.fields.map(_.copy(nullable = true)))).parquet(tmp),
        rootPathOf(spark, tmp), 0L, filterColsOf(spark, path))
      .localCheckpoint()
    CommitLock.withLock(spark, path) {
      // evolution records serialize here: concurrent wideners each
      // see the other's sidecar and the union accumulates
      recordEvolution(spark, path, df)
      if (readEpoch(spark, path) !=
          readEpochFile(spark, s"$path/_manifest_epoch")) {
        // a concurrent committer broke continuity after our check —
        // land the batch WITHOUT stats (manifest stays stale, reads
        // fall back; writeManifest repairs), exactly the crashed-
        // predecessor degradation.  Nothing is lost, nothing is
        // marked fresh over a hole.
        bumpEpoch(spark, path)
        mergeDir.foreach { d =>
          requireStageIntact(spark, d)
          writeTextFile(spark, s"$d/_tmp", tmp)
        }
        markIntent(spark, commitMarker, tmp)
        moveStagedFiles(spark, path, tmp)
        mergeDir.foreach { d =>
          writeTextFile(spark, s"$d/_landed", "1")
          adoptStage(spark, path, d, Some(readEpoch(spark, path)))
        }
        markLanded(spark, commitMarker)
      } else {
        // recordEvolution above kept `_schema` a covering union for
        // THIS batch; if the chain was intact at entry it stays
        // intact through this commit (re-stamped after the epoch
        // advances).  A broken chain stays broken — the next
        // writeManifest sweeps.
        val schemaChainOk = schemaChainIntact(spark, path)
        val newEpoch = readEpoch(spark, path) + 1
        writeEpochFile(spark, s"$path/_epoch", newEpoch) // stale until step 4
        stampEpochTime(spark, path, newEpoch)
        commitStaged(spark, path, tmp,
          stats.withColumn("epoch", lit(newEpoch)), newEpoch, mergeDir,
          commitMarker)
        if (schemaChainOk) stampSchemaEpoch(spark, path)
      }
    }
    coalesceManifestIfNeeded(spark, path) // outside the lock (it re-takes it)
  }

  /** Move every staged data file under `tmp` into the layout
    * (directory-structure-preserving renames; part-file names are
    * UUID-unique) and drop the emptied staging directory.  The tmp
    * delete is ORDERED AFTER the rename loop on purpose: "the tmp
    * directory is gone" is the durable proof the renames all
    * completed, which the staged-merge liveness check leans on.
    */
  private def moveStagedFiles(spark: SparkSession, path: String,
                              tmp: String): Unit = {
    val fs = fsOf(spark, path)
    val tmpRoot = rootPathOf(spark, tmp)
    listDataFiles(spark, tmp).foreach { abs =>
      val rel = abs.stripPrefix(tmpRoot).stripPrefix("/")
      val dst = new org.apache.hadoop.fs.Path(s"$path/$rel")
      fs.mkdirs(dst.getParent)
      require(fs.rename(new org.apache.hadoop.fs.Path(abs), dst),
        s"staging rename failed for $rel")
    }
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }

  /** Steps 3–4 of the staged-append protocol shared by
    * [[appendWithManifest]] and [[appendCurve]]: move the staged
    * files into the layout, append their stats rows to `_manifest`,
    * snapshot `_manifest_epoch` — pruned reads resume.
    *
    * When the append is the second half of a MERGE (`mergeDir` set),
    * this is also where the merge's staged deletes commit, tied to
    * the DATA landing rather than any epoch mark: the `_tmp` journal
    * is written before the renames (so a crash mid-rename is
    * detectable and the heal can roll the append forward), and the
    * `_landed` marker + adoption follow immediately after.  A crash
    * can only delay adoption, never void a landed merge or adopt an
    * unlanded one.
    *
    * CRASH/CONCURRENCY WINDOW, stated honestly: the rename loop is
    * not atomic.  Between the FIRST batch file renaming in and the
    * `_landed` marker, a reader sees some replacement rows next to
    * ALL old copies — a duplicate window bounded by the rename loop
    * (O(batch files) metadata ops, not the append's write time).  In
    * healthy operation the window closes when `_landed` lands; if
    * the writer dies inside it, the stage reads as in-flight and the
    * duplicates PERSIST until the next writer/compaction/
    * [[writeManifest]] runs [[adoptStagedMerges]], which rolls the
    * append forward and adopts the deletes.  (Readers must not heal
    * it themselves: while the writer is alive and mid-rename, its
    * stage is indistinguishable from a crashed one, and counting
    * in-flight deletes as live would hide the old copies during
    * every NORMAL merge's write phase — a far longer inconsistency
    * than the rename loop.)  Exactly-once through a crash therefore
    * means: run a repair verb before trusting a post-crash read.
    */
  private def commitStaged(spark: SparkSession, path: String, tmp: String,
                           stats: DataFrame, newEpoch: Long,
                           mergeDir: Option[String] = None,
                           commitMarker: Option[String] = None): Unit = {
    mergeDir.foreach { d =>
      requireStageIntact(spark, d)
      writeTextFile(spark, s"$d/_tmp", tmp)
    }
    markIntent(spark, commitMarker, tmp)
    moveStagedFiles(spark, path, tmp)
    // COMMIT POINT for a merge: the batch is fully in the layout; the
    // staged deletes carry the SAME epoch as the batch's manifest
    // rows — delete and replacement flip together on the AS OF axis
    mergeDir.foreach { d =>
      writeTextFile(spark, s"$d/_landed", "1")
      adoptStage(spark, path, d, Some(newEpoch))
    }
    markLanded(spark, commitMarker)
    // align the batch's stats to the EXISTING manifest schema: under
    // schema evolution a batch may lack a stats-bearing column (its
    // z0/z1 land as null — sound, because its rows read as z-null and
    // every stats prune mirrors a row predicate on the same column)
    // or carry a new one (dropped here; a writeManifest rebuild picks
    // it up).  Mixed-schema manifest part files would make sidecar
    // reads footer-order-dependent, which pruning must never be.
    // the ON-DISK schema, not the cached manifestDf's: the cache is
    // slim (filter arrays dropped), and aligning against it would
    // silently strip the batch's fresh `*_bloom` columns from its
    // manifest part — probe pruning would decay with every append.
    // Read driver-side from one part's recorded Spark schema
    // ([[manifestOnDiskSchema]]): `spark.read.parquet(dir).schema`
    // here planned a one-task inference job per commit.
    val mSchema = manifestOnDiskSchema(spark, path)
    val aligned = stats.select(mSchema.fields.map { f =>
      if (stats.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
    aligned.coalesce(1).write.mode("append").parquet(s"$path/_manifest")
    writeEpochFile(spark, s"$path/_manifest_epoch", newEpoch)
  }

  /** [[appendWithManifest]] for CURVE-clustered layouts
    * ([[writeZOrdered]]/[[writeHilbertClustered]]): append a batch as
    * new internally-sorted curve files and extend the manifest with
    * their [k0,k1] key ranges — O(batch), no layout rewrite.
    *
    * Appending gives up the GLOBAL key sort (a new file's key range
    * may overlap old ones), but [[queryBoxCurve]] never needed it:
    * file pruning rides per-file manifest [k0,k1] and row-group
    * pruning rides per-file parquet min/max, and both only need each
    * file to be INTERNALLY key-sorted — which the staged write
    * enforces.  Accumulated overlap does erode selectivity (each
    * boundary range opens every file whose range covers it), so run
    * [[compactCurve]] under small-file pressure, exactly as
    * [[compactIfNeeded]] does for bin layouts.  The crash ordering is
    * [[appendWithManifest]]'s: `_epoch` bumps first, so a failure
    * anywhere below degrades reads to a correct unpruned scan, never
    * a wrong answer.
    */
  def appendCurve(df: DataFrame, path: String, delta: Double,
                  nFiles: Int = 1, preKeyed: Boolean = false,
                  mergeDir: Option[String] = None,
                  commitMarker: Option[String] = None): Unit = {
    val spark = df.sparkSession
    val fs = fsOf(spark, path)
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$path/_manifest")),
      "appendCurve needs the layout manifest (writeManifest first) — " +
        "queryBoxCurve file pruning is manifest-driven")
    val keyCol = curveKeyColOf(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"$path carries no curve key column (${CurveKeyCols.mkString("/")}); " +
          "appendCurve serves writeZOrdered/writeHilbertClustered layouts"))
    // same continuity guard as appendWithManifest: a stale start must
    // not be "healed" by this batch's stats landing — but a curve
    // layout has no bin-partitioned plain-append shape to degrade to,
    // so refuse loudly; writeManifest repairs
    require(readEpoch(spark, path) ==
        readEpochFile(spark, s"$path/_manifest_epoch"),
      s"$path: manifest is stale (a prior append crashed mid-commit or " +
        "an out-of-band write bumped the epoch); run writeManifest to " +
        "rebuild it before appending incrementally")
    val keyed =
      // preKeyed callers (segment archives / writeKeyed tables, whose
      // key is not an x/y cell key) vouch for their key column.  All
      // other batches have the key recomputed at THIS layout's delta —
      // silently trusting a carried key from a different-delta layout
      // would divide the key space against queryBoxCurve's range
      // decomposition and drop rows from pruned reads.
      if (preKeyed) {
        require(df.columns.contains(keyCol),
          s"preKeyed append without a $keyCol column")
        df
      } else keyColsOf(spark, path) match {
        case dataKeys if dataKeys.nonEmpty =>
          // a writeKeyed layout's cluster key MIRRORS data column(s) —
          // recomputing it as a spatial curve key here (the generic
          // non-preKeyed path the SQL INSERT and the streaming sink
          // dispatch through) would land files whose manifest [k0,k1]
          // are curve keys while `_keycol` still names the data key,
          // and key-predicate file pruning would silently skip files
          // holding matching rows.  Maintain the write-side invariant
          // instead: mirror the recorded key (single column or the
          // composite struct), exactly as writeKeyed / upsertKeyed do.
          dataKeys.foreach(k => require(df.columns.contains(k),
            s"$path clusters on data column '$k' (_keycol) but the " +
              "appended batch lacks it — keyed layouts cannot accept " +
              "batches without their cluster key"))
          df.withColumn(keyCol,
            if (dataKeys.length == 1) col(dataKeys.head)
            else struct(dataKeys.map(col): _*))
        case _ =>
          if (keyCol == "zkey")
            df.withColumn("zkey", graft.functions.ZOrder.zkey(
              GeoOps.cellOf(col("x"), delta), GeoOps.cellOf(col("y"), delta)))
          else
            df.withColumn("hkey", graft.functions.Hilbert.dkey(
              GeoOps.cellOf(col("x"), delta), GeoOps.cellOf(col("y"), delta)))
      }
    // stage + stats outside the lock; epoch claimed at commit time
    val tmp = path + ".staging-" + java.util.UUID.randomUUID().toString.take(8)
    (bucketsOf(spark, path) match {
      case Some((nb, bcol)) =>
        // hash-bucketed layout: every append re-distributes into the
        // SAME n buckets on the SAME key — shuffle partition index ==
        // bucket id == pmod(murmur3(key), n), so the staged part
        // names stay the bucket certificate the scan's partitioning
        // report and point-prune read.  Range-splitting here instead
        // would stamp RANGE indexes into bucket-shaped names and
        // silently mis-bucket every later bucket-pruned read.
        require(keyed.columns.contains(bcol),
          s"$path is hash-bucketed on '$bcol' but the appended batch " +
            "lacks that column")
        // the repartition below IS the bucket certificate: murmur3 is
        // width-sensitive, so a batch carrying a different key type
        // would stamp bucket ids readers (who widen literals to the
        // TABLE column type) disagree with — every later bucket-pruned
        // read would silently drop this batch's rows.  Refuse here,
        // before the staging write (recordEvolution would refuse the
        // type change anyway, but only after staging).
        requireKeyTypeMatch(keyed.select(bcol), path, Seq(bcol))
        keyed.repartition(nb, col(bcol)).sortWithinPartitions(keyCol)
      case None =>
        keyed.repartitionByRange(nFiles, col(keyCol))
          .sortWithinPartitions(keyCol)
    }).write.mode("overwrite").parquet(tmp)
    // the staged schema is known exactly (we just wrote it) — reading
    // it back explicitly skips the per-commit footer-inference job
    val stats = statsOf(
        spark.read.schema(org.apache.spark.sql.types.StructType(
          keyed.schema.fields.map(_.copy(nullable = true)))).parquet(tmp),
        rootPathOf(spark, tmp), 0L, filterColsOf(spark, path))
      .localCheckpoint() // materialize BEFORE the files move away
    // emptiness is read off the STAGED stats, not a pre-pass over the
    // batch (the old `df.isEmpty` gate cost one full input scan per
    // append): statsOf groups by input_file_name, so zero staged ROWS
    // ⇔ an empty stats frame (the one schema-preserving 0-row part
    // file an empty repartition write leaves forms no group), and the
    // check is a metadata-scale read of the just-materialized
    // checkpoint
    if (stats.isEmpty) {
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      // 0-row stage: nothing to harvest; an empty-insert merge
      // commits trivially (its deletes go live now) at its own epoch
      CommitLock.withLock(spark, path) {
        mergeDir.foreach { d =>
          writeTextFile(spark, s"$d/_landed", "1")
          val e = claimDeleteEpoch(spark, path)
          adoptStage(spark, path, d, Some(e))
        }
        markLanded(spark, commitMarker) // nothing to land; replay is a no-op
      }
      return
    }
    CommitLock.withLock(spark, path) {
      // curve layouts evolve exactly like bin layouts: the declared
      // schema lives in the same sidecar and every curve reader
      // already goes through it (the key column is recomputed above,
      // so its absence from the incoming batch is immaterial — the
      // staged files always carry it).  Serialized here so concurrent
      // wideners accumulate instead of last-write-wins.
      recordEvolution(spark, path, df)
      if (readEpoch(spark, path) !=
          readEpochFile(spark, s"$path/_manifest_epoch")) {
        // a concurrent committer intervened after the start guard:
        // land the batch WITHOUT stats — the manifest reads stale and
        // every curve reader falls back to the unpruned recursive
        // scan until writeManifest; nothing lost, nothing fresh-over-
        // a-hole.  (The staged files carry the key column, so they
        // rejoin pruned reads at the next manifest rebuild.)
        bumpEpoch(spark, path)
        mergeDir.foreach { d =>
          requireStageIntact(spark, d)
          writeTextFile(spark, s"$d/_tmp", tmp)
        }
        markIntent(spark, commitMarker, tmp)
        moveStagedFiles(spark, path, tmp)
        mergeDir.foreach { d =>
          writeTextFile(spark, s"$d/_landed", "1")
          adoptStage(spark, path, d, Some(readEpoch(spark, path)))
        }
        markLanded(spark, commitMarker)
      } else {
        // same covering-chain re-stamp as appendWithManifest's commit
        val schemaChainOk = schemaChainIntact(spark, path)
        val newEpoch = readEpoch(spark, path) + 1
        writeEpochFile(spark, s"$path/_epoch", newEpoch) // stale until commit
        stampEpochTime(spark, path, newEpoch)
        commitStaged(spark, path, tmp,
          stats.withColumn("epoch", lit(newEpoch)), newEpoch, mergeDir,
          commitMarker)
        if (schemaChainOk) stampSchemaEpoch(spark, path)
      }
    }
    coalesceManifestIfNeeded(spark, path) // outside the lock (it re-takes it)
  }

  /** [[compact]] for curve-clustered layouts: [[appendCurve]] leaves
    * overlapping small files; re-running the global range partition +
    * within-file sort restores one non-overlapping globally-sorted
    * chain of `nFiles` files, then rebuilds the manifest.  Schedule
    * it on small-file pressure, not per batch.
    */
  def compactCurve(spark: SparkSession, path: String, nFiles: Int): Unit =
    compactCurveImpl(spark, path, nFiles, newBuckets = None)

  /** Bucket-count EVOLUTION for [[writeBucketed]] layouts: rewrite the
    * corpus into `nBuckets` hash buckets and swap the `_buckets`
    * certificate atomically with the files (the sidecar is staged
    * into the rewrite directory, so no reader ever sees new-count
    * part names under the old-count certificate, or vice versa).
    * Growth pressure at 100 TB eventually wants 8 → 16: point-lookup
    * pruning halves its touch set and storage-partitioned joins
    * against newer peers stay shuffle-free — and because the v2
    * bucket function is Reducible, the REBUCKETED table still zips
    * zero-shuffle with old-count peers when one count divides the
    * other, so the migration need not be atomic across a fleet of
    * co-bucketed tables.  Same optimistic locked protocol as
    * [[compactCurve]]; pending merge-on-read deletes become physical
    * in the rewrite, exactly as compaction.
    */
  def rebucket(spark: SparkSession, path: String, nBuckets: Int): Unit = {
    val (oldN, _) = bucketsOf(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"$path is not hash-bucketed (no _buckets sidecar) — rebucket " +
          "evolves writeBucketed layouts; curve/keyed layouts have no " +
          "bucket count"))
    require(nBuckets > 0, s"rebucket needs a positive count: $nBuckets")
    if (nBuckets == oldN) return
    compactCurveImpl(spark, path, nFiles = 1, newBuckets = Some(nBuckets))
  }

  private def compactCurveImpl(spark: SparkSession, path: String,
                               nFiles: Int,
                               newBuckets: Option[Int]): Unit = {
    adoptStagedMerges(spark, path) // as compact(): resolve before the swap
    // optimistic commit, exactly as [[compact]]: rewrite unlocked,
    // validate (epoch + tombstone state) under the lock, loser
    // retries — an appendCurve batch or a deleteWhere landing during
    // the rewrite must never vanish with the retired directory
    var attempts = 0
    var done = false
    while (!done) {
      val epochBefore = readEpoch(spark, path)
      val tombsBefore = tombstoneState(spark, path)
      // changelog bookkeeping, exactly as [[compact]]: preserving iff
      // the rewrite started from a fresh manifest
      val fresh0 = manifestFresh(spark, path, verify = false)
      val prevFloor0 = changelogFloor(spark, path).floor
      val prevMax0 = manifestMaxEpoch(spark, path)
      // compaction is where merge-on-read deletes become physical
      val df = minusTombstones(spark, path,
        readerFor(spark, path, flat = false).parquet(path))
      val keyCol = CurveKeyCols.find(df.columns.contains).getOrElse(
        throw new IllegalArgumentException(
          s"$path is not curve-clustered (${CurveKeyCols.mkString("/")} absent)"))
      val tmp = path + ".compact"
      (bucketsOf(spark, path) match {
        case Some((nb0, bcol)) =>
          // bucketed layouts compact WITHIN their bucket structure:
          // a range re-sort would stamp range indexes into the part
          // names every bucket-pruned read trusts as bucket ids.
          // A rebucket changes the count — certificate staged below.
          val nb = newBuckets.getOrElse(nb0)
          require(df.columns.contains(bcol),
            s"$path is hash-bucketed on '$bcol' but the merged rows " +
              "lack that column")
          df.repartition(nb, col(bcol)).sortWithinPartitions(keyCol)
        case None =>
          require(newBuckets.isEmpty,
            s"$path is not hash-bucketed — rebucket has nothing to evolve")
          df.repartitionByRange(nFiles, col(keyCol))
            .sortWithinPartitions(keyCol)
      }).write.mode("overwrite").parquet(tmp) // materializes before the swap
      // the NEW bucket certificate rides the rewrite directory: the
      // swap lands files and sidecar together, so no reader window
      // ever pairs new-count part names with the old-count sidecar
      // (swapInPlace skips carrying sidecars the stage already has)
      newBuckets.foreach { n =>
        val bcol = bucketsOf(spark, path).get._2
        writeTextFile(spark, s"$tmp/_buckets", s"$n,$bcol")
      }
      // seed the bumped epoch into tmp: a pre-compaction manifest
      // read elsewhere can never look fresh, and the swapped-in root
      // is never visible at epoch 0
      writeEpochFile(spark, s"$tmp/_epoch", epochBefore + 1)
      done = CommitLock.withLock(spark, path) {
        val clean = readEpoch(spark, path) == epochBefore &&
          tombstoneState(spark, path) == tombsBefore
        if (clean) {
          swapInPlace(spark, path, tmp)
          // the swapped-in root carries the bumped epoch — stamp its
          // wall time now (a crash here loses only this stamp: the
          // TIMESTAMP axis degrades loudly, VERSION AS OF is whole)
          stampEpochTime(spark, path, epochBefore + 1)
          writeRewriteHint(spark, path, epochBefore + 1, fresh0,
            prevFloor0, prevMax0)
        }
        clean
      }
      if (!done) {
        fsOf(spark, path).delete(new org.apache.hadoop.fs.Path(tmp), true)
        attempts += 1
        require(attempts < 8,
          s"compactCurve($path): lost the commit race $attempts times — " +
            "pause the writers or schedule compaction off-peak")
        adoptStagedMerges(spark, path)
      }
    }
    // rebuild the manifest for the new epoch (its own locked commit;
    // an append slipping between the swap and this rebuild sees a
    // stale manifest and degrades safely)
    writeManifest(spark, path)
  }

  /** Replace the layout at `path` with the rewrite at `tmp` WITHOUT a
    * destructive window: the old directory is renamed ASIDE (not
    * deleted) before the new one moves in, so a crash at any point
    * leaves every byte on disk — worst case the layout root is
    * briefly absent and recovery is one manual rename of the
    * `.pre-compact` directory back.  Streaming-ingest `_batches`
    * markers are carried into the new directory first, or a restarted
    * stream would re-append batches it already committed.  (True
    * atomic swap needs a metastore pointer — out of scope; never
    * deleting live data before its replacement is in place is the
    * invariant this protocol guarantees.)
    */
  private def swapInPlace(spark: SparkSession, path: String, tmp: String): Unit = {
    val fs = fsOf(spark, path)
    val dst = new org.apache.hadoop.fs.Path(path)
    // carried sidecars are COPIED into tmp, never moved out of the
    // live tree: a crash after a move but before the swap would leave
    // the still-live layout without its sidecar (a restarted stream
    // re-appending committed batches; declared-schema reads degrading
    // to footer inference) — and vacuum would then delete the only
    // copy along with the stranded .compact sibling.  The originals
    // ride to the retired aside directory and vanish with it.
    val conf = spark.sparkContext.hadoopConfiguration
    // `_commits` rides along so the caller's held lock file survives
    // the swap — otherwise the instant the new root lands, a waiting
    // writer could acquire a fresh lock while the swapper still
    // believes it holds one.  `_delta` and `_filtercols` are the
    // layout's durable geometry declarations: losing them to a
    // compaction would make every later sidecar-δ append — the SQL
    // face's INSERT and row-level mutations above all — refuse, and
    // silently stop membership-filter maintenance (the r12 bench
    // caught exactly this on a second UPDATE after CALL compact).
    // `_epoch_times` rides too: compaction resets READ history (AS OF
    // a pre-compact epoch refuses) but must not erase the time→epoch
    // map — a pre-compact TIMESTAMP must keep resolving to its true
    // epoch and refusing there, never silently serving the rewritten
    // present.
    Seq("_batches", "_schema", "_commits", "_delta", "_filtercols",
        "_epoch_times", "_keycol", "_buckets")
      .foreach { name =>
      val src = new org.apache.hadoop.fs.Path(path, name)
      // a sidecar the stage ALREADY carries is the rewrite's own
      // (rebucket stages its new _buckets certificate) — never
      // clobber it with the retiring value
      val dstSide = new org.apache.hadoop.fs.Path(tmp, name)
      if (fs.exists(src) && !fs.exists(dstSide))
        require(org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
            dstSide, false, conf),
          s"$name carry failed for $path")
    }
    val aside = new org.apache.hadoop.fs.Path(path + ".pre-compact")
    fs.delete(aside, true) // leftover from an older compaction
    require(fs.rename(dst, aside), s"old-aside rename failed for $path")
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), dst),
      s"compaction swap failed for $path — intact data is at $aside")
    fs.delete(aside, true)
  }

  /** Run [[compactCurve]] only under OVERLAP pressure: the max number
    * of files whose [k0,k1] ranges cover a single curve key — exactly
    * how many files a point/small-range read must open.  A freshly
    * compacted layout has depth 1; every [[appendCurve]] batch can
    * raise it by `nFiles`.  The gate reads the MANIFEST, not the file
    * tree — O(files) rows from one sidecar table instead of a
    * recursive listing, so at 100 TB the scheduling decision costs a
    * planning step, not an object-store walk.
    *
    * @return true iff compaction ran.
    */
  def compactCurveIfNeeded(spark: SparkSession, path: String, nFiles: Int,
                           maxOverlap: Int = 4): Boolean = {
    // hash-bucketed layouts have a different pressure metric: files in
    // DIFFERENT buckets overlap in key range by construction (each
    // bucket spans most of the key space), but point reads open only
    // their key's bucket — range-overlap depth would see pressure
    // after the first append and trigger a full rewrite per batch.
    // (Their k0/k1 may also be strings, which the long sweep below
    // cannot read.)  Route to the files-per-bucket gate instead — at
    // its OWN default: maxOverlap tunes range-overlap depth, a
    // semantically different knob than files-per-bucket (callers who
    // want to tune the bucket gate call compactBucketedIfNeeded).
    if (bucketsOf(spark, path).isDefined)
      return compactBucketedIfNeeded(spark, path)
    val ranges = manifestDf(spark, path)
      .select("k0", "k1").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // sweep: depth at each range start = ranges begun - ranges ended
    val ends = ranges.map(_._2).sorted
    var depth = 0; var maxDepth = 0; var e = 0
    ranges.foreach { case (lo, _) =>
      while (e < ends.length && ends(e) < lo) { depth -= 1; e += 1 }
      depth += 1; maxDepth = maxDepth.max(depth)
    }
    val pressure = maxDepth > maxOverlap
    if (pressure) compactCurve(spark, path, nFiles)
    pressure
  }

  /** The scheduling gate for HASH-BUCKETED layouts: point reads open
    * exactly their key's bucket files, so the fan-out that matters is
    * FILES PER BUCKET — raised by one per touched bucket on every
    * append, restored to one by [[compactCurve]]'s re-bucketing
    * rewrite.  Pending merge-on-read deletes are pressure too (every
    * merged read pays the subtraction until applied).  Manifest-only,
    * like the curve gate: the decision costs a sidecar read, never an
    * object-store walk.
    *
    * @return true iff compaction ran.
    */
  def compactBucketedIfNeeded(spark: SparkSession, path: String,
                              maxFilesPerBucket: Int = 4): Boolean = {
    require(bucketsOf(spark, path).isDefined,
      s"$path is not hash-bucketed (no _buckets sidecar)")
    val files = manifestDf(spark, path)
      .select("file").collect().map(_.getString(0))
    val pressure = hasPendingDeletes(spark, path) ||
      files.groupBy(bucketOfFileName).values
        .exists(_.length > maxFilesPerBucket)
    if (pressure) compactCurve(spark, path, nFiles = 1)
    pressure
  }

  // --- scoped curve compaction -------------------------------------
  // [[compactCurve]] rewrites the WHOLE layout; at 100 TB compaction
  // must be scoped to where overlap pressure actually is.  The scope
  // is chosen from the manifest alone (connected components of
  // overlapping [k0,k1] intervals whose sweep depth exceeds the
  // bound), only those files are rewritten, and every untouched file
  // stays byte-identical on disk.  The commit is journaled
  // (`_compact_staging/<id>`): the staged rewrite is COMPLETE before
  // the `_commit` marker lands, so healing is always roll-forward —
  // finish the renames, rebuild the manifest.  Readers during the
  // stage see the old snapshot (manifest untouched); inside the
  // bounded rename window an explicit-file-list read can fail LOUDLY
  // on a moved file (exactly swapInPlace's briefly-absent-root
  // stance) but can never silently lose or duplicate rows, because
  // the manifest flips to the new file set in one write and any
  // stale-manifest fallback scan runs against the completed move.
  // As with [[compactCurve]], history resets: every surviving
  // manifest row is re-stamped with the new epoch, so a pre-compact
  // [[queryBoxAsOf]] refuses instead of serving a snapshot whose
  // scope files no longer exist.

  /** Roll forward (or discard) a crashed scoped compaction.  A stage
    * without `_commit` changed nothing — drop it.  A committed stage
    * rolls FORWARD: staged data files move in (skip the ones already
    * there), doomed originals are deleted (skip the ones already
    * gone — their rows live in the staged rewrite, which is complete
    * before `_commit` ever lands), the journal is dropped, and —
    * unless the caller is about to — the manifest is rebuilt at a
    * bumped epoch.
    */
  def healCompactStage(spark: SparkSession, path: String,
                       rebuild: Boolean = true,
                       voidSweepAgeMs: Long = CommitLock.leaseMs): Unit = {
    val fs = fsOf(spark, path)
    val root = new org.apache.hadoop.fs.Path(s"$path/_compact_staging")
    if (!fs.exists(root)) return
    // Locked: a `_commit`-bearing stage's move-in must not interleave
    // with other committers (the scoped compactor itself commits
    // under this lock, so such a stage here is genuinely crashed).
    // An UNCOMMITTED stage may be a LIVE compactor's rewrite in
    // progress — sweep it only past the commit lease, or at
    // `voidSweepAgeMs = 0` when the compactor is known dead.
    val rolled = CommitLock.withLock(spark, path) {
      var any = false
      fs.listStatus(root).filter(_.isDirectory).foreach { st =>
        val d = st.getPath
        if (!fs.exists(new org.apache.hadoop.fs.Path(d, "_commit"))) {
          val age = System.currentTimeMillis() -
            fs.getFileStatus(d).getModificationTime
          if (age > voidSweepAgeMs)
            fs.delete(d, true) // void: the rewrite never committed
        } else {
          any = true
          listDataFiles(spark, s"$d/data").foreach { abs =>
            val name = new org.apache.hadoop.fs.Path(abs).getName
            val dst = new org.apache.hadoop.fs.Path(s"$path/$name")
            if (!fs.exists(dst))
              require(fs.rename(new org.apache.hadoop.fs.Path(abs), dst),
                s"compact heal move-in failed for $name")
          }
          readTextFile(spark, s"$d/_doomed").split("\n")
            .map(_.trim).filter(_.nonEmpty).foreach { rel =>
            val src = new org.apache.hadoop.fs.Path(s"$path/$rel")
            if (fs.exists(src)) fs.delete(src, false)
          }
          fs.delete(d, true)
        }
      }
      if (any) {
        val e = readEpoch(spark, path) + 1
        writeEpochFile(spark, s"$path/_epoch", e)
        stampEpochTime(spark, path, e)
      }
      any
    }
    if (rolled && rebuild) writeManifest(spark, path)
  }

  /** Compact ONLY the overlap-pressured key ranges of a curve
    * layout: manifest intervals are swept into connected overlap
    * components, components deeper than `maxOverlap` are rewritten
    * (their rows re-range-partitioned into `ceil(size/filesPerRun)`
    * non-overlapping sorted files, pending deletes applied), and
    * everything else is left byte-for-byte alone.  Returns the
    * number of files rewritten (0 = no pressure anywhere).
    */
  /** The scoped compaction's PLANNING step, pure and driver-side:
    * connected components of key-interval overlap (one sorted sweep)
    * with a max-overlap-depth test per component; returns the files
    * of every component deeper than `maxOverlap`.  Cost is
    * O(F log F) time and O(F) heap in the MANIFEST row count — the
    * same metadata class as Spark's own file listing, independent of
    * data volume (PlanGuardSpec pins 10⁵ manifest rows to well under
    * a second and a few MB of tuples).
    */
  private[graft] def planCompactScope(rows0: Array[(String, Long, Long)],
                                      maxOverlap: Int): Seq[String] = {
    val rows = rows0.sortBy(r => (r._2, r._3))
    val doomed = Seq.newBuilder[String]
    var comp = List.empty[(String, Long, Long)]
    var compMax = Long.MinValue
    def flush(): Unit = if (comp.nonEmpty) {
      val ends = comp.map(_._3).sorted.toArray
      var depth = 0; var maxDepth = 0; var e = 0
      comp.sortBy(_._2).foreach { case (_, lo, _) =>
        while (e < ends.length && ends(e) < lo) { depth -= 1; e += 1 }
        depth += 1; maxDepth = maxDepth.max(depth)
      }
      if (maxDepth > maxOverlap) doomed ++= comp.map(_._1)
      comp = Nil; compMax = Long.MinValue
    }
    rows.foreach { r =>
      if (comp.nonEmpty && r._2 > compMax) flush()
      comp ::= r; compMax = compMax.max(r._3)
    }
    flush()
    doomed.result()
  }

  def compactCurveScoped(spark: SparkSession, path: String,
                         filesPerRun: Int = 4,
                         maxOverlap: Int = 4): Int = {
    // a scoped rewrite adopts fresh range-split files whose names are
    // NOT bucket ids — on a hash-bucketed layout that would poison
    // the bucket certificate; the full compactCurve re-buckets
    require(bucketsOf(spark, path).isEmpty,
      s"$path is hash-bucketed — scoped compaction would break the " +
        "part-name bucket certificate; use compactCurve (re-buckets)")
    adoptStagedMerges(spark, path)
    healCompactStage(spark, path) // resolve a crashed predecessor
    var attempts = 0
    while (true) {
      require(manifestFresh(spark, path, verify = false),
        s"$path: manifest is stale; run writeManifest before a scoped " +
          "compact — the scope is chosen from manifest key ranges")
      // optimistic snapshot: scope + rewrite run unlocked against the
      // state at this epoch; the commit below validates under the
      // lock and a beaten compactor re-plans from the new manifest
      val epochBefore = readEpoch(spark, path)
      val tombsBefore = tombstoneState(spark, path)
      // changelog era being retired — read BEFORE the in-place flip
      val prevFloor0 = changelogFloor(spark, path).floor
      val prevMax0 = manifestMaxEpoch(spark, path)
      val m = manifestDf(spark, path)
      require(m.columns.contains("k0"),
        s"$path is not curve-clustered (no key ranges in its manifest)")
      val rows = m.select("file", "k0", "k1").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val scope = planCompactScope(rows, maxOverlap)
      if (scope.isEmpty) return 0
      val keyCol = curveKeyColOf(spark, path).getOrElse(
        throw new IllegalArgumentException(
          s"$path is not curve-clustered (${CurveKeyCols.mkString("/")} absent)"))
      // stage the complete rewrite BEFORE any visible change
      val stage = s"$path/_compact_staging/" +
        java.util.UUID.randomUUID().toString.take(8)
      val scopeDf = minusTombstones(spark, path,
        readerFor(spark, path, flat = true)
          .parquet(scope.map(f => s"$path/$f"): _*))
      val nOut = math.max(1, (scope.size + filesPerRun - 1) / filesPerRun)
      scopeDf.repartitionByRange(nOut, col(keyCol))
        .sortWithinPartitions(keyCol)
        .write.parquet(s"$stage/data")
      writeTextFile(spark, s"$stage/_doomed", scope.mkString("\n"))
      val newEpoch = epochBefore + 1
      val newStats = statsOf(spark.read.parquet(s"$stage/data"),
          rootPathOf(spark, s"$stage/data"), newEpoch,
          filterColsOf(spark, path))
        .localCheckpoint() // pin BEFORE the files move
      val won = CommitLock.withLock(spark, path) {
        val clean = readEpoch(spark, path) == epochBefore &&
          tombstoneState(spark, path) == tombsBefore
        if (clean) {
          // COMMIT POINT: from here the heal always rolls forward
          writeTextFile(spark, s"$stage/_commit", "1")
          val fs = fsOf(spark, path)
          listDataFiles(spark, s"$stage/data").foreach { abs =>
            val name = new org.apache.hadoop.fs.Path(abs).getName
            require(fs.rename(new org.apache.hadoop.fs.Path(abs),
                new org.apache.hadoop.fs.Path(s"$path/$name")),
              s"scoped-compact move-in failed for $name")
          }
          scope.foreach { rel =>
            fs.delete(new org.apache.hadoop.fs.Path(s"$path/$rel"), false)
          }
          // one-write manifest flip: untouched rows re-stamped (history
          // resets, as in compactCurve) + the staged stats; no data scan.
          // The scope is subtracted as an anti-join, not an isin literal —
          // a big layout's scope list should not become a giant predicate
          val scopeFrame = {
            import spark.implicits._
            scope.toDF("file")
          }
          val survivors = m.join(broadcast(scopeFrame), Seq("file"), "left_anti")
            .withColumn("epoch", lit(newEpoch))
          val aligned = newStats.select(m.schema.fields.map { f =>
            if (newStats.columns.contains(f.name)) col(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          }.toIndexedSeq: _*)
          survivors.unionByName(aligned)
            .coalesce(1).write.mode("overwrite").parquet(s"$path/_manifest.next")
          // parquet overwrite of the live manifest is non-atomic; swap via
          // rename so a crash leaves either the old or the new sidecar
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/_manifest"), true)
          require(fs.rename(new org.apache.hadoop.fs.Path(s"$path/_manifest.next"),
              new org.apache.hadoop.fs.Path(s"$path/_manifest")),
            s"scoped-compact manifest swap failed for $path")
          writeEpochFile(spark, s"$path/_epoch", newEpoch)
          stampEpochTime(spark, path, newEpoch)
          writeEpochFile(spark, s"$path/_manifest_epoch", newEpoch)
          // every surviving row was re-stamped at newEpoch — a
          // history reset, ALWAYS preserving here (a fresh manifest
          // was required at entry, so nothing unmanifested joined)
          writeChangelogFloor(spark, path,
            ChangelogFloor(newEpoch, prevFloor0, prevMax0, preserved = true))
          fs.delete(new org.apache.hadoop.fs.Path(stage), true)
        }
        clean
      }
      if (won) return scope.size
      // beaten by a concurrent commit: drop the uncommitted stage and
      // re-plan — the new state may not even have overlap pressure
      fsOf(spark, path).delete(new org.apache.hadoop.fs.Path(stage), true)
      attempts += 1
      require(attempts < 8,
        s"compactCurveScoped($path): lost the commit race $attempts " +
          "times — pause the writers or schedule compaction off-peak")
      adoptStagedMerges(spark, path)
    }
    0 // unreachable
  }

  /** Compact the layout in place: streaming appends leave one small
    * file per bin per micro-batch; rewriting each bin's rows into one
    * file restores scan efficiency (the operational sibling of
    * streaming ingest — run it on a schedule, not per batch).
    */
  def compact(spark: SparkSession, path: String): Unit = {
    // resolve staged merges first: the swap below discards
    // `_merge_staging` (it stays behind in the retired directory), so
    // a landed-but-unadopted stage must be applied via the merged
    // read and a crashed mid-append stage rolled forward NOW — after
    // the swap the staged batch's sibling directory would be orphaned
    adoptStagedMerges(spark, path)
    // OPTIMISTIC commit: the layout-sized rewrite runs unlocked
    // against a snapshot (epoch + tombstone sidecar state); the swap
    // validates both under the commit lock and the loser retries
    // against the new state.  Without the check, a batch appended (or
    // a tombstone landed) between the read and the swap would vanish
    // with the retired directory — the lost-commit race this protocol
    // exists to close.
    var attempts = 0
    var done = false
    while (!done) {
      val epochBefore = readEpoch(spark, path)
      val tombsBefore = tombstoneState(spark, path)
      // changelog bookkeeping for the writeManifest that follows a
      // compaction: the rewrite is PRESERVING iff it started from a
      // fresh manifest (every row it re-stamps was already described —
      // a caught-up incremental consumer can fast-forward across it);
      // the retired era's floor/last-data-epoch ride the hint because
      // the old manifest leaves with the swapped-aside directory
      val fresh0 = manifestFresh(spark, path, verify = false)
      val prevFloor0 = changelogFloor(spark, path).floor
      val prevMax0 = manifestMaxEpoch(spark, path)
      val tmp = path + ".compact"
      // merged read: compaction applies pending deletes physically;
      // the swap leaves `_tombstones` behind in the retired directory
      readMerged(spark, path)
        .repartition(col("bin_x"), col("bin_y"))
        .sortWithinPartitions("bin_x", "bin_y", "x", "y")
        .write.mode("overwrite").partitionBy("bin_x", "bin_y").parquet(tmp)
      // compaction rewrites every data file — a pre-compaction
      // manifest must read as stale, and the swapped-in root must
      // never be visible with epoch 0, so the bumped epoch is seeded
      // INTO tmp before the swap
      writeEpochFile(spark, s"$tmp/_epoch", epochBefore + 1)
      done = CommitLock.withLock(spark, path) {
        val clean = readEpoch(spark, path) == epochBefore &&
          tombstoneState(spark, path) == tombsBefore
        if (clean) {
          swapInPlace(spark, path, tmp)
          // the swapped-in root carries the bumped epoch — stamp its
          // wall time now (a crash here loses only this stamp: the
          // TIMESTAMP axis degrades loudly, VERSION AS OF is whole)
          stampEpochTime(spark, path, epochBefore + 1)
          writeRewriteHint(spark, path, epochBefore + 1, fresh0,
            prevFloor0, prevMax0)
        }
        clean
      }
      if (!done) {
        fsOf(spark, path).delete(new org.apache.hadoop.fs.Path(tmp), true)
        attempts += 1
        require(attempts < 8,
          s"compact($path): lost the commit race $attempts times — " +
            "pause the writers or schedule compaction off-peak")
        adoptStagedMerges(spark, path) // the interloper may have staged
      }
    }
  }

  /** Run [[compact]] only when some bin holds more than
    * `maxFilesPerBin` data files — the scheduling gate a maintenance
    * job calls after streaming ingest (each micro-batch appends one
    * small file per touched bin; compacting every batch would rewrite
    * the layout continuously, never compacting lets scans degrade to
    * one open per tiny file).  The listing is the same O(files) walk
    * compact itself needs, so the gate adds no asymptotic cost.
    *
    * @return true iff compaction ran.
    */
  def compactIfNeeded(spark: SparkSession, path: String,
                      maxFilesPerBin: Int = 4): Boolean = {
    // pending deletes are compaction pressure too: every merged read
    // pays the anti-join until the tombstones are applied
    val pressure = hasPendingDeletes(spark, path) ||
      listDataFiles(spark, path)
        .groupBy(f => f.substring(0, f.lastIndexOf('/')))
        .values.exists(_.size > maxFilesPerBin)
    if (pressure) compact(spark, path)
    pressure
  }

  def read(spark: SparkSession, path: String): DataFrame =
    readerFor(spark, path, flat = false).parquet(path)

  /** Bin-granular box query — the reader-side of query_xy_box.  The
    * bin predicates are partition filters: Spark prunes non-matching
    * bin directories without opening a single data file.
    */
  def queryBox(spark: SparkSession, path: String,
               xr: (Long, Long), yr: (Long, Long)): DataFrame =
    read(spark, path)
      .filter(col("bin_x").between(xr._1, xr._2) &&
              col("bin_y").between(yr._1, yr._2))

  /** Query a list of bins with a ±pad dilation (query_xy + pad_bins).
    *
    * Small bin lists become an explicit OR-chain — a static partition
    * filter, pruned at planning time.  Large lists (a thousand-bin
    * query from a hierarchical index drill-down) would make the
    * OR-chain a quadratic-to-plan monster, so they become a broadcast
    * semi-join instead, which dynamic partition pruning turns into
    * the same directory-level skip at runtime.
    */
  val OrChainMaxBins = 64

  def queryBins(spark: SparkSession, path: String,
                bins: Seq[(Long, Long)], pad: Int, delta: Double): DataFrame = {
    val d = delta.toLong
    val dilated = for {
      (bx, by) <- bins
      ox <- -pad to pad
      oy <- -pad to pad
    } yield (bx + ox * d, by + oy * d)
    val keys = dilated.distinct
    val base = read(spark, path)
    if (keys.size <= OrChainMaxBins)
      base.filter(
        keys.map { case (a, b) => col("bin_x") === a && col("bin_y") === b }
          .reduce(_ || _))
    else {
      import spark.implicits._
      base.join(broadcast(keys.toDF("bin_x", "bin_y")),
        Seq("bin_x", "bin_y"), "leftsemi")
    }
  }
}
