package graft.sources.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsDelete, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform, Expression => VExpression}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperationBuilder, RowLevelOperationInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, InsertableRelation}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.GeoParquet

/** The SQL/catalog face of the manifested layouts: a DataSourceV2
  * `TableProvider` (`spark.read.format("graft").load(path)`, or plain
  * `format("graft")` via the service registration) whose scan
  * planning does the manifest envelope pruning
  * [[GeoParquet.queryBoxViaManifest]] does internally — so
  * `spark.sql` can filter and JOIN two layouts in one query with
  * file-level pruning on both sides, no hand-plumbed DataFrames.
  *
  * Scale shape: planning touches the manifest sidecar only (file
  * names reach the driver, never data); each pruned file is one
  * input partition (granule-sized by the writers' batch sizing).
  * Numeric comparisons and null tests are handled EXACTLY at the
  * source (Kleene three-valued evaluation in the record reader, the
  * same rows Spark's own Filter would keep), so Spark plans no
  * re-filter above the scan; anything else stays residual and Spark
  * re-applies it — pruning is always a superset and never an answer.
  * A stale manifest degrades to the full recursive listing —
  * correctness over pruning, as on every API read path.
  *
  * Because the pushed filters are exact, global
  * COUNT(*)/COUNT(c)/MIN/MAX aggregates push down too
  * ([[SupportsPushDownAggregates]], partial mode): a file whose
  * manifest envelope is strictly inside every filter interval — and
  * provably null-free on the filtered columns (the `cn` non-null
  * counts) — contributes its manifest stats WITHOUT being opened;
  * only boundary-straddling files are scanned.  At 100 TB,
  * `SELECT count(*), min(z) FROM layout WHERE box` then reads
  * manifest kilobytes plus the box *perimeter*, the SQL twin of
  * [[GeoParquet.countBoxViaManifest]]/`minMaxBoxViaManifest`.
  *
  * Deliberate v1 limits: read-only (writes go through the API's
  * locked commit protocol), no file splitting (a writer-sized file is
  * the parallelism unit), pending merge-on-read deletes REFUSE
  * loudly (the subtraction is an anti-join this minimal face cannot
  * express — compact first).  Row values decode through Spark's
  * vectorized parquet reader (VectorizedReaders.scala).
  */
class GraftSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft source needs a layout path: format(\"graft\").load(path)")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val base = GeoParquet.dataSchemaFor(SparkSession.active, pathOf(options))
    // changelog mode: the streamed CDC view carries the change verb
    // and its commit epoch alongside every row ([[GraftSource.ChangeTypeCol]])
    if (options.getBoolean("changelog", false))
      StructType(base.fields ++ GraftSource.ChangeFields)
    else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GraftTable(properties.get("path"), schema,
      changelog = java.lang.Boolean.parseBoolean(
        properties.getOrDefault("changelog", "false")))
}

object GraftSource {
  /** Row-address metadata columns — the SQL face's row ID for
    * merge-on-read mutations: the root-relative data file plus the
    * physical row position within it, exactly the
    * `_tombstones_pos` (file, pos) addressing convention, so a
    * DELETE/UPDATE/MERGE rewrite emits tombstones the API's
    * [[graft.sources.GeoParquet.upsertPositional]] machinery can
    * commit and the next compaction can apply.  Queryable directly
    * too (`SELECT _gfile, _gpos FROM …`).
    */
  val FileMetaCol = "_gfile"
  val PosMetaCol = "_gpos"
  private[v2] val MetaCols: Set[String] = Set(FileMetaCol, PosMetaCol)
  private[v2] val MetaFields: Seq[StructField] = Seq(
    StructField(FileMetaCol, StringType, nullable = false),
    StructField(PosMetaCol, LongType, nullable = false))

  /** Changelog-mode columns — `readStream.option("changelog","true")`
    * widens every streamed row with the change verb ("insert" /
    * "delete") and the commit epoch it happened at.  The epoch is
    * what makes one micro-batch FOLDABLE: apply epochs in order,
    * deletes before inserts within an epoch (an UPDATE's tombstone
    * and its replacement share one epoch by the commit protocol, and
    * a physical row is never doomed in the epoch that created it).
    */
  val ChangeTypeCol = "_change_type"
  val ChangeEpochCol = "_change_epoch"
  private[v2] val ChangeCols: Set[String] = Set(ChangeTypeCol, ChangeEpochCol)
  private[v2] val ChangeFields: Seq[StructField] = Seq(
    StructField(ChangeTypeCol, StringType, nullable = false),
    StructField(ChangeEpochCol, LongType, nullable = false))

  /** Last planned (opened) file set per layout path — a
    * test/diagnostic hook (DSv2 scans do not surface
    * `df.inputFiles`).  For aggregate scans this is the SCANNED set
    * only; manifest-answered files never appear.
    */
  val lastPlannedFiles =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  /** Last aggregate-pushdown planning split per layout path:
    * (files answered from the manifest unopened, files scanned).
    */
  val lastAggPlan =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()

  /** Last runtime (join-driven) filters delivered per layout path —
    * a test/diagnostic hook for the dynamic-pruning path.
    */
  val lastRuntimeFilters =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Filter]]()

  /** Last merge-on-read planning split per layout path: (planned
    * files, files flagged for delete subtraction).  Only flagged
    * files pay the counting read — a localized mutation must not tax
    * the rest of the layout.
    */
  val lastMorPlan =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()
}

final class GraftTable(path: String, schema: StructType,
                       pinnedSnapshot: Option[Long] = None,
                       changelog: Boolean = false)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsMetadataColumns with SupportsRowLevelOperations {

  /** A hash-bucketed layout declares its `bucket(n, key)` transform —
    * what DESCRIBE shows and what storage-partitioned-join planning
    * starts from (the SCAN's outputPartitioning carries the
    * authoritative per-query report).  Every other layout: none.
    */
  override def partitioning(): Array[Transform] =
    try GeoParquet.bucketsOf(SparkSession.active, path)
      .map { case (n, c) => Array(Expressions.bucket(n, c)) }
      .getOrElse(Array.empty)
    catch { case scala.util.control.NonFatal(_) => Array.empty }

  /** The row-address metadata columns ([[GraftSource.FileMetaCol]]/
    * [[GraftSource.PosMetaCol]]) — what the delta-based row-level
    * operations use as their row ID, and queryable directly.
    */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = GraftSource.FileMetaCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "root-relative data file (positional-tombstone address)"
    },
    new MetadataColumn {
      override def name(): String = GraftSource.PosMetaCol
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String = "physical row position in _gfile"
    })

  /** `UPDATE` / `MERGE INTO` / non-translatable `DELETE`: delta-based
    * (merge-on-read) row-level operations.  Matched rows become
    * positional tombstones and replacement rows append — the
    * [[graft.sources.GeoParquet.upsertPositional]] commit shape,
    * staged by executors and committed under the layout's lock.
    */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(pinnedSnapshot.isEmpty,
      s"cannot ${info.command()} a pinned snapshot of graft:$path")
    () => new GraftRowLevelOperation(path, schema, info.command())
  }
  override def name(): String =
    s"graft:$path" + pinnedSnapshot.fold("")(e => s"@$e")

  /** `DELETE FROM` routes to the layout's merge-on-read tombstones
    * ([[GeoParquet.deleteWhere]], locked) when every conjunct
    * translates to a Column predicate.  The deletes are PENDING after
    * this: API and SQL reads both subtract them on the fly (the SQL
    * scan's positional merge-on-read), and `CALL
    * <cat>.system.compact(…)` reclaims them physically when
    * scheduled.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => GraftTable.columnOf(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(pinnedSnapshot.isEmpty, "cannot DELETE FROM a pinned snapshot")
    val spark = SparkSession.active
    val cond = filters.toSeq.flatMap(GraftTable.columnOf)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    GeoParquet.deleteWhere(spark, path, cond)
  }
  override def schema(): StructType = schema

  /** `DESCRIBE EXTENDED` observability: the layout's geometry and
    * commit state as table properties (two tiny sidecar reads at
    * resolution — the same cost class as the schema lookup).
    */
  override def properties(): util.Map[String, String] = {
    val spark = SparkSession.active
    val m = new util.HashMap[String, String]()
    GeoParquet.deltaOf(spark, path)
      .foreach(d => m.put("delta", d.toString))
    try m.put("epoch", GeoParquet.readEpoch(spark, path).toString)
    catch { case scala.util.control.NonFatal(_) => () }
    try {
      GeoParquet.keyColOf(spark, path).foreach(k => m.put("key", k))
      GeoParquet.bucketsOf(spark, path)
        .foreach { case (n, _) => m.put("buckets", n.toString) }
      GeoParquet.nFilesOf(spark, path)
        .foreach(n => m.put("files", n.toString))
    } catch { case scala.util.control.NonFatal(_) => () }
    pinnedSnapshot.foreach(e => m.put("snapshot", e.toString))
    m
  }

  override def capabilities(): util.Set[TableCapability] =
    // append only — no TRUNCATE, so an overwrite save refuses in
    // Spark's capability check before reaching us.  BATCH_WRITE
    // routes DataFrameWriter.save onto the v2 plan; the write
    // builder below then yields a V1Write bridge (V1_BATCH_WRITE),
    // which the planner executes as AppendDataExecV1.
    // AUTOMATIC_SCHEMA_EVOLUTION: `MERGE WITH SCHEMA EVOLUTION`
    // widens the target from the source — Spark routes the widening
    // through the catalog's alterTable (our sidecar add-column), and
    // the delta write's staged inserts carry the new column into the
    // evolution-recording append.
    // MICRO_BATCH_READ: spark.readStream.format("graft") serves the
    // commit-epoch changelog as micro-batches ([[GraftMicroBatchStream]])
    // STREAMING_WRITE: df.writeStream.format("graft") — every
    // micro-batch is one locked manifest commit ([[GraftStreamingWrite]])
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // time travel: .option("snapshot", <epoch>) — or the catalog's
    // VERSION AS OF pin — reads the files committed at or before
    // that epoch (the queryBoxAsOf axis), composing with pruning and
    // aggregate pushdown; .option("snapshotTime", <wall-ms>) resolves
    // through the _epoch_times commit stamps first (the path-based
    // TIMESTAMP AS OF)
    new GraftScanBuilder(path, schema,
      pinnedSnapshot
        .orElse(Option(options.get("snapshot")).map(_.toLong))
        .orElse(Option(options.get("snapshotTime")).map(ms =>
          GeoParquet.epochAtTime(SparkSession.active, path, ms.toLong))),
      changelog,
      TriggerLimits(
        Option(options.get("maxFilesPerTrigger")).map(_.toInt),
        Option(options.get("maxRowsPerTrigger")).map(_.toLong)),
      Option(options.get("changesFrom")).map(f =>
        (f.toLong, Option(options.get("changesTo")).map(_.toLong))))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(path, info)
}

object GraftTable {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.sources._

  /** Translate a v1 Filter tree to a Column predicate, None when any
    * node has no Column form — `canDeleteWhere` then refuses and the
    * DELETE fails loudly instead of deleting the wrong rows.
    */
  private[v2] def columnOf(f: Filter): Option[Column] = f match {
    case And(l, r) => for (a <- columnOf(l); b <- columnOf(r)) yield a && b
    case Or(l, r) => for (a <- columnOf(l); b <- columnOf(r)) yield a || b
    case Not(c) => columnOf(c).map(!_)
    case EqualTo(c, v) => Some(col(c) === lit(v))
    case EqualNullSafe(c, v) => Some(col(c) <=> lit(v))
    case GreaterThan(c, v) => Some(col(c) > lit(v))
    case GreaterThanOrEqual(c, v) => Some(col(c) >= lit(v))
    case LessThan(c, v) => Some(col(c) < lit(v))
    case LessThanOrEqual(c, v) => Some(col(c) <= lit(v))
    case In(c, vs) => Some(col(c).isin(vs.toIndexedSeq: _*))
    case IsNull(c) => Some(col(c).isNull)
    case IsNotNull(c) => Some(col(c).isNotNull)
    case StringStartsWith(c, v) => Some(col(c).startsWith(v))
    case StringEndsWith(c, v) => Some(col(c).endsWith(v))
    case StringContains(c, v) => Some(col(c).contains(v))
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}

/** The write face: `df.write.format("graft").mode("append")` and SQL
  * `INSERT INTO` route through the API's LOCKED commit protocol —
  * [[GeoParquet.appendWithManifest]] for bin layouts,
  * [[GeoParquet.appendCurve]] for curve layouts (dispatched on the
  * manifest's key-range columns) — so a SQL writer racing an API
  * writer or compactor is exactly the contention the CommitLock
  * already serializes.  The distributed batch write itself is the
  * append path's staged job; this V1 bridge only hands it the
  * incoming DataFrame (the JDBC-connector pattern), adding no
  * driver-side data movement.
  *
  * The bin size δ comes from the layout's `_delta` sidecar (recorded
  * by every writer) or a `delta` write option; appends to pre-sidecar
  * layouts must pass the option.  Append-only by design: overwrite
  * rejects via missing TRUNCATE capability, and creating a NEW layout
  * needs a first [[GeoParquet.write]]/`writeZOrdered` (schema
  * inference has nothing to read on an empty path).
  */
final class GraftWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder {
  override def build(): Write = new V1Write {
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new GraftStreamingWrite(path, info)
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: org.apache.spark.sql.DataFrame,
                            overwrite: Boolean): Unit = {
          require(!overwrite,
            s"graft:$path is append-only through the SQL face — " +
              "compact/rewrite via the API instead")
          val spark = data.sparkSession
          // a KEYED layout clusters on its recorded data column(s) —
          // the batch's key is mirrored from _keycol, so no spatial
          // bin size is involved at all
          lazy val delta = Option(info.options.get("delta"))
            .map(_.toDouble)
            .orElse(GeoParquet.deltaOf(spark, path))
            .getOrElse(throw new IllegalArgumentException(
              s"$path records no bin size (pre-sidecar layout) — pass " +
                ".option(\"delta\", <binSize>)"))
          if (GeoParquet.isCurveLayout(spark, path)) {
            val d = if (GeoParquet.keyColsOf(spark, path).nonEmpty) 1.0
              else delta
            // '_nfiles' (TBLPROPERTIES 'files'): the batch range-
            // splits into n key-sorted files — a single-file INSERT
            // would serialize a cluster-sized batch through one task
            GeoParquet.appendCurve(data, path, d,
              nFiles = GeoParquet.nFilesOf(spark, path).getOrElse(1))
          } else
            GeoParquet.appendWithManifest(data, path, delta)
        }
      }
  }
}

/** One pushed global aggregate output column. */
private[v2] sealed trait AggCol extends Serializable
private[v2] case object NRows extends AggCol                    // COUNT(*)
private[v2] final case class NNonNull(c: String) extends AggCol // COUNT(c)
private[v2] final case class MinC(c: String) extends AggCol
private[v2] final case class MaxC(c: String) extends AggCol
private[v2] final case class SumC(c: String) extends AggCol

/** Streaming admission bounds, from the read options — at 100 TB the
  * FIRST micro-batch of a fresh stream is otherwise the entire
  * standing corpus in one batch.
  */
final case class TriggerLimits(maxFiles: Option[Int],
                               maxRows: Option[Long]) {
  def isEmpty: Boolean = maxFiles.isEmpty && maxRows.isEmpty
}
object TriggerLimits { val none: TriggerLimits = TriggerLimits(None, None) }

final class GraftScanBuilder(path: String, dataSchema: StructType,
                             snapshot: Option[Long] = None,
                             changelog: Boolean = false,
                             trigger: TriggerLimits = TriggerLimits.none,
                             changes: Option[(Long, Option[Long])] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {
  private var required: StructType = dataSchema
  private var exact: Array[Filter] = Array.empty
  private var residual: Array[Filter] = Array.empty
  private var aggCols: Option[Seq[AggCol]] = None
  private var limitN: Option[Int] = None

  /** LIMIT pushdown as a FILE-PLAN budget: a preview query (`LIMIT n`
    * with every filter pushed exactly — Spark only pushes a limit
    * when nothing sits between it and the scan) needs only enough
    * files to certify n qualifying rows, not the whole matching file
    * set — at 100 TB, "show me ten rows" must not plan a million
    * files.  The hint is never a promise: [[GraftScan]] truncates
    * only when manifest containment proves the budget is met, and
    * `isPartiallyPushed` keeps Spark's own Limit in the plan for the
    * exact final cut.
    */
  override def pushLimit(n: Int): Boolean = {
    // changelog/CDC-range scans synthesize rows per epoch, and a
    // pinned snapshot's truncation would need epoch-sliced doomed
    // accounting — the plain row path is where previews happen
    if (changelog || changes.nonEmpty || snapshot.nonEmpty || n <= 0) false
    else { limitN = Some(n); true }
  }
  override def isPartiallyPushed(): Boolean = true

  private var topN: Option[(Boolean, Int, Int)] = None // (descending, n, key prefix len)

  /** Top-N pushdown as an ORDERED file-plan budget: `ORDER BY <a
    * leading prefix of the recorded cluster key> LIMIT n` on a keyed
    * layout plans only the head (or tail, DESC) of the key-ordered
    * file set — the "latest/first n by key" export over a 100 TB CDC
    * table stops planning after the files that provably hold the
    * extreme keys.  COMPOSITE keys push through their struct [k0,k1]
    * stats when the sort columns are a leading prefix of the key with
    * one shared direction: the struct endpoints' first m fields ARE
    * the prefix's bounds (a lexicographic extremum has an extremal
    * prefix — a later column never perturbs leading order), and the
    * struct min/max order nulls-first per FIELD exactly as Spark's
    * multi-column ASC NULLS FIRST / DESC NULLS LAST do, so null key
    * fields stay inside the proven bounds rather than voiding them.
    * Like the LIMIT hint, never a promise: [[GraftScan]] truncates
    * only under a manifest proof, and `isPartiallyPushed` keeps
    * Spark's own sort+limit for the exact final order.
    */
  override def pushTopN(orders: Array[
      org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    if (changelog || changes.nonEmpty || snapshot.nonEmpty || n <= 0 ||
        orders.isEmpty) return false
    val kCols = GeoParquet.keyColsOf(SparkSession.active, path)
    if (kCols.isEmpty || orders.length > kCols.length) return false
    val names = orders.map(_.expression() match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        nr.fieldNames()(0)
      case _ => return false
    })
    if (!names.sameElements(kCols.take(orders.length))) return false
    // one shared direction only: mixed ASC/DESC does not map onto a
    // single head/tail walk of the key-ordered files
    val dirs = orders.map(_.direction()).distinct
    if (dirs.length != 1) return false
    // composite layouts lean on the struct stats' nulls-first-per-
    // field ordering, which is Spark's DEFAULT (ASC NULLS FIRST /
    // DESC NULLS LAST) — an explicit non-default null ordering would
    // let a null key field escape the proven bounds, so refuse
    if (kCols.length > 1) {
      import org.apache.spark.sql.connector.expressions.{
        NullOrdering, SortDirection}
      val defaultNulls = orders.forall(o =>
        (o.direction() == SortDirection.ASCENDING &&
          o.nullOrdering() == NullOrdering.NULLS_FIRST) ||
        (o.direction() == SortDirection.DESCENDING &&
          o.nullOrdering() == NullOrdering.NULLS_LAST))
      if (!defaultNulls) return false
    }
    // single-column keys: null ordering is immaterial — truncation
    // aborts at plan time unless EVERY candidate file is provably
    // null-key-free (kn == n_rows), so no null participates
    topN = Some((dirs.head ==
      org.apache.spark.sql.connector.expressions.SortDirection.DESCENDING,
      n, orders.length))
    true
  }

  /** Split the conjuncts: shapes the record reader evaluates EXACTLY
    * (numeric comparisons + null tests in three-valued logic —
    * [[ExactFilters.handles]]) are consumed at the source; the rest
    * return as residual for Spark to re-apply.  Exact handling is
    * what makes aggregate pushdown legal (Spark only pushes
    * aggregates through a scan whose post-scan filter set is empty).
    */
  override def pushFilters(fs: Array[Filter]): Array[Filter] = {
    // changelog columns are synthesized by the readers AFTER filter
    // evaluation — a filter on them must stay residual or it would
    // evaluate against the null-filled placeholder and drop every row
    val (e, r) = fs.partition(f =>
      !f.references.exists(GraftSource.ChangeCols.contains) &&
        ExactFilters.handles(f, dataSchema))
    exact = e; residual = r
    r
  }
  override def pushedFilters(): Array[Filter] = exact

  override def pruneColumns(s: StructType): Unit =
    // keep the data-file field order; drop unrequested fields.  The
    // row-address metadata columns (requested by row-level rewrites
    // and `SELECT _gfile, _gpos`) are not data fields — keep them
    // appended, in their declared order.
    // (no-op under a pushed aggregation — the agg schema is not a
    // column subset; Spark skips pruning then, this is belt+braces)
    if (aggCols.isEmpty)
      required = StructType(
        dataSchema.fields.filter(f => s.fieldNames.contains(f.name)) ++
          GraftSource.MetaFields.filter(f => s.fieldNames.contains(f.name)))

  override def supportCompletePushDown(agg: Aggregation): Boolean = false

  override def pushAggregation(agg: Aggregation): Boolean = {
    if (changelog) return false // a CDC view has no manifest-stat twin
    if (residual.nonEmpty || agg.groupByExpressions().nonEmpty) return false
    def nameOf(e: VExpression): Option[String] = e match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        Some(nr.fieldNames()(0)).filter(dataSchema.fieldNames.contains)
      case _ => None
    }
    // MIN/MAX need an ordered merge: numerics (nan-safe order) and
    // STRINGS (UTF8 binary order — Spark's own min/max semantics,
    // which ExactFilters.compare reproduces; the CDC dashboard's
    // MIN(key) on a string-keyed table serves from the k0/k1 stats
    // without opening a file).  Binary/boolean stay COUNT-only.
    def orderable(n: String): Boolean = dataSchema(n).dataType match {
      case IntegerType | LongType | FloatType | DoubleType |
           StringType => true
      case _ => false
    }
    def numeric(n: String): Boolean = dataSchema(n).dataType match {
      case IntegerType | LongType | FloatType | DoubleType => true
      case _ => false
    }
    // COUNT(c) only needs null-ness, so any decodable column serves
    def decodable(n: String): Boolean = dataSchema(n).dataType match {
      case IntegerType | LongType | FloatType | DoubleType |
           BooleanType | StringType | BinaryType => true
      case _ => false
    }
    val cols: Array[Option[AggCol]] = agg.aggregateExpressions().map {
      case _: CountStar => Some(NRows)
      case c: Count if !c.isDistinct => nameOf(c.column).filter(decodable).map(NNonNull)
      case m: Min => nameOf(m.column).filter(orderable).map(MinC)
      case m: Max => nameOf(m.column).filter(orderable).map(MaxC)
      // SUM composes associatively across files, so the manifest's
      // per-file sums (`cs`) serve interior files unopened; Spark
      // rewrites AVG to Sum/Count under partial pushdown, so this
      // buys AVG too.  Numeric only.
      case s0: Sum if !s0.isDistinct =>
        nameOf(s0.column).filter(numeric).map(SumC)
      case _ => None
    }
    if (cols.contains(None)) return false
    val parsed = cols.flatten.toSeq
    // pending POSITIONAL deletes no longer degrade ANY pushed
    // aggregate: COUNTs subtract each contained file's doomed-position
    // count from its manifest stats; MIN/MAX serve z0/z1 from the
    // manifest for every file with ZERO doomed positions (the
    // tombstone parts NAME the doomed files, so innocence is provable
    // from metadata alone), while a doomed file boundary-scans with
    // its positions skipped ([[VecAggReader]]) — a doomed row might
    // BE the extremum, so stats cannot answer for THAT file, but one
    // row's DELETE must not re-open the other 99.999% of a 100 TB
    // corpus.  Snapshots slice the subtraction by part epoch exactly
    // as the row path does.  Equality (key) tombstones still refuse
    // everywhere on the SQL face (planInputPartitions raises the same
    // demand the row path does).
    val spark = SparkSession.active
    if (GeoParquet.pendingPositional(spark, path).nonEmpty &&
        GeoParquet.pendingTombstones(spark, path).nonEmpty)
      return false
    aggCols = Some(parsed)
    true
  }

  override def build(): Scan = aggCols match {
    case Some(cs) =>
      new GraftAggScan(path, dataSchema, cs, exact.toSeq, snapshot)
    case None =>
      new GraftScan(path, dataSchema, required, exact.toSeq,
        ExactFilters.boundsOf(exact ++ residual), snapshot, changelog,
        trigger, changes, (exact ++ residual).toSeq, limitN, topN)
  }
}

/** Exact (Spark-semantics) evaluation of pushed v1 filters, plus the
  * interval decomposition that drives file pruning and manifest
  * containment proofs.
  */
private[graft] object ExactFilters {
  import org.apache.spark.sql.sources._

  private def numericType(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | FloatType | DoubleType => true
    case _ => false
  }

  /** Can the record reader evaluate this filter tree exactly?
    * Boolean combinations of numeric/string comparisons, string
    * prefix tests, and null tests over top-level primitive columns;
    * everything else stays residual.  (String support is what lets a
    * CDC key band — `key >= 'a' AND key < 'b'` — leave ZERO residual,
    * the precondition for aggregate pushdown.)
    */
  def handles(f: Filter, schema: StructType): Boolean = f match {
    case And(l, r) => handles(l, schema) && handles(r, schema)
    case Or(l, r) => handles(l, schema) && handles(r, schema)
    case Not(c) => handles(c, schema)
    case IsNull(c) => schema.fieldNames.contains(c)
    case IsNotNull(c) => schema.fieldNames.contains(c)
    case EqualTo(c, v) => cmpOk(c, v, schema)
    case GreaterThan(c, v) => cmpOk(c, v, schema)
    case GreaterThanOrEqual(c, v) => cmpOk(c, v, schema)
    case LessThan(c, v) => cmpOk(c, v, schema)
    case LessThanOrEqual(c, v) => cmpOk(c, v, schema)
    case StringStartsWith(c, v) => strOk(c, v, schema)
    case _ => false
  }
  private def cmpOk(c: String, v: Any, schema: StructType): Boolean =
    (schema.fields.exists(f => f.name == c && numericType(f.dataType)) &&
      v.isInstanceOf[java.lang.Number]) || strOk(c, v, schema)
  private def strOk(c: String, v: Any, schema: StructType): Boolean =
    schema.fields.exists(f => f.name == c && f.dataType == StringType) &&
      v.isInstanceOf[String]

  /** Spark's total order on doubles: NaN greater than everything,
    * NaN == NaN, -0.0 == 0.0 (the nan-safe compare semantics Spark's
    * comparisons and MIN/MAX use — a plain `java.lang.Double.compare`
    * disagrees on BOTH special cases).
    */
  def nanSafeCompare(x: Double, y: Double): Int = {
    val xn = java.lang.Double.isNaN(x)
    val yn = java.lang.Double.isNaN(y)
    if ((xn && yn) || (x == y)) 0
    else if (xn) 1
    else if (yn) -1
    else if (x > y) 1 else -1
  }

  private def isIntegral(n: Any): Boolean = n match {
    case _: java.lang.Long | _: java.lang.Integer |
         _: java.lang.Short | _: java.lang.Byte => true
    case _ => false
  }

  private def utf8(v: Any): org.apache.spark.unsafe.types.UTF8String =
    v match {
      case s: org.apache.spark.unsafe.types.UTF8String => s
      case s: String =>
        org.apache.spark.unsafe.types.UTF8String.fromString(s)
      case other => throw new IllegalStateException(
        s"graft SQL face: non-string operand $other in a string compare")
    }
  private def isStringish(v: Any): Boolean =
    v.isInstanceOf[String] ||
      v.isInstanceOf[org.apache.spark.unsafe.types.UTF8String]

  /** Exact comparison of two non-null values.  Pushed-filter literals
    * carry the COLUMN's type (Spark casts before pushing; a filter
    * needing a column-side cast never reaches pushFilters), so
    * integral×integral compares as Long — no double rounding past
    * 2^53 — fp×fp compares nan-safely, and string×string compares in
    * UTF8 binary order (Spark's default collation, the same order its
    * min/max stats and the manifest's string k0/k1 use; record values
    * surface as UTF8String, literals as java String — both normalize).
    */
  def compare(a: Any, b: Any): Int =
    if (isStringish(a) && isStringish(b)) utf8(a).compareTo(utf8(b))
    else if (isIntegral(a) && isIntegral(b))
      java.lang.Long.compare(a.asInstanceOf[Number].longValue(),
        b.asInstanceOf[Number].longValue())
    else
      nanSafeCompare(a.asInstanceOf[Number].doubleValue(),
        b.asInstanceOf[Number].doubleValue())

  /** The least string strictly greater than EVERY string with prefix
    * `p`, in UTF8 binary order — or None when no such bound exists
    * (all code points at the ceiling).  Increment the last code
    * point (skipping the surrogate gap, which no valid string
    * occupies), dropping ceiling code points from the right.  UTF-8
    * is order-preserving and prefix-free, so `s` has prefix `p` ⟺
    * `p <= s < successor(p)` — the interval form that drives both
    * file pruning and containment certification for prefix
    * predicates.
    */
  def prefixSuccessor(p: String): Option[String] = {
    var end = p.length
    while (end > 0) {
      val cp = p.codePointBefore(end)
      val width = Character.charCount(cp)
      if (cp < 0x10FFFF) {
        val next = if (cp == 0xD7FF) 0xE000 else cp + 1
        val sb = new java.lang.StringBuilder(p.substring(0, end - width))
        sb.appendCodePoint(next)
        return Some(sb.toString)
      }
      end -= width // U+10FFFF: no in-place successor; carry leftward
    }
    None
  }

  /** Kleene three-valued evaluation; None = SQL NULL.  A row passes
    * the pushed set iff every filter evaluates Some(true) — exactly
    * the rows Spark's own Filter keeps, including under Not (where
    * two-valued evaluation over nulls would differ).
    */
  def eval(f: Filter, value: String => Any): Option[Boolean] = f match {
    case And(l, r) => (eval(l, value), eval(r, value)) match {
      case (Some(false), _) | (_, Some(false)) => Some(false)
      case (Some(true), Some(true)) => Some(true)
      case _ => None
    }
    case Or(l, r) => (eval(l, value), eval(r, value)) match {
      case (Some(true), _) | (_, Some(true)) => Some(true)
      case (Some(false), Some(false)) => Some(false)
      case _ => None
    }
    case Not(c) => eval(c, value).map(!_)
    case IsNull(c) => Some(value(c) == null)
    case IsNotNull(c) => Some(value(c) != null)
    case EqualTo(c, v) => cmp(c, v, value)(_ == 0)
    case GreaterThan(c, v) => cmp(c, v, value)(_ > 0)
    case GreaterThanOrEqual(c, v) => cmp(c, v, value)(_ >= 0)
    case LessThan(c, v) => cmp(c, v, value)(_ < 0)
    case LessThanOrEqual(c, v) => cmp(c, v, value)(_ <= 0)
    case StringStartsWith(c, v) =>
      val x = value(c)
      if (x == null || v == null) None
      else Some(utf8(x).startsWith(utf8(v)))
    case other => throw new IllegalStateException(
      s"graft SQL face: unhandled pushed filter $other")
  }
  private def cmp(c: String, lit: Any, value: String => Any)
                 (p: Int => Boolean): Option[Boolean] = {
    val v = value(c)
    if (v == null || lit == null) None else Some(p(compare(v, lit)))
  }

  def referencedColumns(fs: Seq[Filter]): Seq[String] =
    fs.flatMap(_.references).distinct

  /** One column's conjunctive interval; `lo`/`hi` are the column's
    * native boxed type or null for unbounded.  Comparison predicates
    * are null-intolerant, so a row with a null value NEVER passes an
    * interval-constrained column.
    */
  final case class Interval(col: String, lo: Any, loStrict: Boolean,
                            hi: Any, hiStrict: Boolean)

  /** Decompose a pushed-filter set into per-column intervals IFF it
    * is a pure conjunction of comparisons / IsNotNull — the shape
    * whose file-level containment an envelope can certify.  None for
    * any other shape (Or / Not / IsNull): pruning then still rides
    * the superset bounds, but no file is certified interior.
    */
  def intervalsOf(fs: Seq[Filter]): Option[Seq[Interval]] = {
    def leaves(f: Filter): Seq[Filter] = f match {
      case And(l, r) => leaves(l) ++ leaves(r)
      case o => Seq(o)
    }
    val m = scala.collection.mutable.LinkedHashMap[String, Interval]()
    def get(c: String) = m.getOrElseUpdate(c, Interval(c, null, false, null, false))
    def lo(c: String, v: Any, strict: Boolean): Unit = {
      val iv = get(c)
      val tighter = iv.lo == null || compare(v, iv.lo) > 0 ||
        (compare(v, iv.lo) == 0 && strict)
      if (tighter) m(c) = iv.copy(lo = v, loStrict = strict)
    }
    def hi(c: String, v: Any, strict: Boolean): Unit = {
      val iv = get(c)
      val tighter = iv.hi == null || compare(v, iv.hi) < 0 ||
        (compare(v, iv.hi) == 0 && strict)
      if (tighter) m(c) = iv.copy(hi = v, hiStrict = strict)
    }
    fs.flatMap(leaves).foreach {
      case IsNotNull(c) => get(c)
      case EqualTo(c, v) => lo(c, v, strict = false); hi(c, v, strict = false)
      case GreaterThan(c, v) => lo(c, v, strict = true)
      case GreaterThanOrEqual(c, v) => lo(c, v, strict = false)
      case LessThan(c, v) => hi(c, v, strict = true)
      case LessThanOrEqual(c, v) => hi(c, v, strict = false)
      case StringStartsWith(c, v: String) =>
        // prefix p ⟺ the half-open band [p, successor(p)) in UTF8
        // binary order (prefixSuccessor's contract); no successor
        // (all-ceiling prefix) leaves the hi side unbounded — still
        // a sound interval, just never hi-constrained
        lo(c, v, strict = false)
        prefixSuccessor(v).foreach(s => hi(c, s, strict = true))
      case _ => return None
    }
    Some(m.values.toSeq)
  }

  /** Conservative per-column [lo,hi] doubles from conjunctive leaves
    * of ANY filter set (exact or residual) — strictness dropped, so
    * only a SUPERSET prune may ride these (manifest file skipping,
    * parquet row-group skipping); exact row semantics come from
    * [[eval]] / Spark's residual re-filter.
    */
  def boundsOf(fs: Array[Filter]): Seq[(String, Double, Double)] = {
    import org.apache.spark.sql.sources._
    // integral literals beyond 2^53 round when narrowed to double —
    // possibly PAST the true value, which would let the parquet
    // floor/ceil predicate and the manifest envelope prune skip rows
    // that satisfy the exact filter.  Widen integral conversions one
    // ULP OUTWARD (down for lows, up for highs): bounds drive only
    // superset prunes, so widening is always sound and exactness
    // stays with [[eval]]'s Long-native compare.
    def numLo(v: Any): Option[Double] = v match {
      case n @ (_: java.lang.Long | _: java.lang.Integer |
                _: java.lang.Short | _: java.lang.Byte) =>
        Some(Math.nextDown(n.asInstanceOf[Number].doubleValue()))
      case n: java.lang.Number => Some(n.doubleValue())
      case _ => None
    }
    def numHi(v: Any): Option[Double] = v match {
      case n @ (_: java.lang.Long | _: java.lang.Integer |
                _: java.lang.Short | _: java.lang.Byte) =>
        Some(Math.nextUp(n.asInstanceOf[Number].doubleValue()))
      case n: java.lang.Number => Some(n.doubleValue())
      case _ => None
    }
    def leaves(f: Filter): Seq[Filter] = f match {
      case And(l, r) => leaves(l) ++ leaves(r)
      case other => Seq(other)
    }
    val perCol = scala.collection.mutable.Map[String, (Double, Double)]()
    def tighten(c: String, lo: Double, hi: Double): Unit = {
      val (l0, h0) = perCol.getOrElse(c,
        (Double.NegativeInfinity, Double.PositiveInfinity))
      perCol(c) = (math.max(l0, lo), math.min(h0, hi))
    }
    fs.flatMap(leaves).foreach {
      case GreaterThan(c, v) => numLo(v).foreach(x => tighten(c, x, Double.PositiveInfinity))
      case GreaterThanOrEqual(c, v) => numLo(v).foreach(x => tighten(c, x, Double.PositiveInfinity))
      case LessThan(c, v) => numHi(v).foreach(x => tighten(c, Double.NegativeInfinity, x))
      case LessThanOrEqual(c, v) => numHi(v).foreach(x => tighten(c, Double.NegativeInfinity, x))
      case EqualTo(c, v) =>
        for (lo <- numLo(v); hi <- numHi(v)) tighten(c, lo, hi)
      case _ => ()
    }
    perCol.toSeq.map { case (c, (lo, hi)) => (c, lo, hi) }
  }
}

final class GraftScan(path: String, dataSchema: StructType,
                      required: StructType, exact: Seq[Filter],
                      bounds: Seq[(String, Double, Double)],
                      snapshot: Option[Long] = None,
                      changelog: Boolean = false,
                      trigger: TriggerLimits = TriggerLimits.none,
                      changes: Option[(Long, Option[Long])] = None,
                      allFilters: Seq[Filter] = Seq.empty,
                      limitHint: Option[Int] = None,
                      topNHint: Option[(Boolean, Int, Int)] = None)
    extends Scan with Batch with SupportsRuntimeFiltering
    with SupportsReportStatistics with SupportsReportPartitioning
    with SupportsReportOrdering {

  /** Runtime (join-driven) filters, delivered by Spark's dynamic
    * pruning after the build side executes — used for FILE pruning
    * only (a superset never harms: the join re-checks every row), so
    * a broadcast-dim join over a 100 TB layout opens only the files
    * that might contain the dim's keys.
    */
  @volatile private var runtime: Array[Filter] = Array.empty

  /** Hash-bucket geometry, probed ONCE per scan (the `_buckets`
    * sidecar is immutable for a layout's life): outputPartitioning,
    * planInputPartitions, and any re-plan under runtime filters all
    * share this — non-bucketed layouts pay one fs.exists per query,
    * not one per planning touch.
    */
  private lazy val bucketGeom: Option[(Int, String)] =
    try GeoParquet.bucketsOf(SparkSession.active, path)
    catch { case scala.util.control.NonFatal(_) => None }

  /** Post-pushdown cardinality from the manifest: the n_rows sum over
    * bounds-intersecting files (an upper bound on the filtered rows —
    * exactly what a planner estimate should be).  Without this a DSv2
    * scan reports `spark.sql.defaultSizeInBytes` (effectively ∞) and
    * a kilobyte-sized layout never auto-broadcasts in a join; with it
    * Catalyst picks broadcast vs shuffle from the layout's real
    * size.  One manifest read at optimization time (metadata-scale);
    * stale/missing manifests report unknown, restoring the
    * conservative default.
    */
  override def estimateStatistics(): Statistics = {
    val spark = SparkSession.active
    val rows: Option[Long] =
      try {
        (snapshot match {
          case Some(e) => Some(GeoParquet.manifestAsOf(spark, path, e))
          case None => GeoParquet.freshManifest(spark, path)
        }).map { m =>
          // driver-side sum: zero jobs on the cached manifest where
          // the .agg planned a stats-estimation shuffle per scan
          m.filter(GeoParquet.manifestBoundsCond(m, bounds))
            .select("n_rows").collect().iterator
            .filterNot(_.isNullAt(0)).map(_.getLong(0)).sum
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    val rowWidth = required.fields.map(_.dataType.defaultSize).sum + 8
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        rows.fold(java.util.OptionalLong.empty())(n =>
          java.util.OptionalLong.of(math.max(1L, n * rowWidth)))
      override def numRows(): java.util.OptionalLong =
        rows.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
    }
  }

  override def filterAttributes(): Array[NamedReference] = {
    val spark = SparkSession.active
    // the prunable shapes: declared membership-filter columns
    // (manifest blooms), envelope-stats columns, and the layout's
    // cluster-key columns — a runtime In on the key drives both the
    // [k0,k1] range prune and the hash-bucket prune, so a
    // broadcast-dim CDC lookup plans to the dim's key span/buckets.
    // Restricted to the scan's OUTPUT (Spark resolves these against
    // the pruned projection; a join key is in the output by
    // construction).
    val stats = Seq("x", "y", "z", "t")
    val declared = GeoParquet.filterColsOf(spark, path)
    val keys = GeoParquet.keyColsOf(spark, path)
    (declared ++ stats ++ keys).distinct
      .filter(required.fieldNames.contains)
      .map(Expressions.column).toArray
  }
  override def filter(fs: Array[Filter]): Unit = {
    runtime = fs
    GraftSource.lastRuntimeFilters.put(path, fs.toSeq)
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(snapshot.isEmpty,
      s"graft:$path — a pinned snapshot is a point in time; it cannot " +
        "be streamed (drop the snapshot option / VERSION AS OF)")
    // a bounded epoch range is the BATCH changelog's contract; a
    // stream positions itself by checkpointed offsets, so silently
    // accepting changesFrom here would re-deliver the entire standing
    // corpus from the changelog floor instead of the requested range
    require(changes.isEmpty,
      s"graft:$path — changesFrom/changesTo bound a BATCH changelog " +
        "read (spark.read); a stream starts from the changelog floor " +
        "and advances by its own checkpointed offsets — drop the " +
        "options, or use a batch read for the bounded range")
    new GraftMicroBatchStream(path, dataSchema, required, exact, bounds,
      changelog, trigger)
  }
  override def description(): String =
    s"GraftScan $path filters=${exact.mkString(",")} bounds=${bounds.mkString(",")}" +
      snapshot.fold("")(e => s" asOf=$e")

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    if (changelog) return planChangesBatch(spark)
    // merge-on-read: pending POSITIONAL deletes (what SQL mutations
    // produce) subtract in the readers — only data files that appear
    // in the tombstone sidecar pay the counting read.  Equality (key)
    // tombstones are API-produced and key-shaped; the face keeps
    // refusing those.  Under time travel, positional parts carry
    // their commit epoch in the adopted part name, so a snapshot
    // subtracts exactly the deletes at-or-before the pinned epoch —
    // only UN-epoched parts (crash-healed adoptions) still refuse.
    require(GeoParquet.pendingTombstones(spark, path).isEmpty,
      s"$path has pending equality (key) tombstones — the SQL face " +
        "cannot subtract those; run a compaction (or read via the " +
        "API's readMerged) first")
    if (snapshot.isDefined)
      require(GeoParquet.positionalDeletePartsEpoch(spark, path)
          .forall(_._4.isDefined),
        s"$path has pending merge-on-read deletes without a recorded " +
          "commit epoch (crash-healed) — a snapshot read cannot place " +
          "them; run a compaction first")
    // driver side sees only the DISTINCT doomed file names
    // (manifest-scale); the (file, pos) pairs stay in the sidecar for
    // task-side point lookup.  For a snapshot, only the parts at-or-
    // before the pinned epoch count.
    val activeParts = activeDeleteParts(spark)
    // select+collect folds driver-side on cached sidecars (zero
    // jobs); the dedup is a scalar pass — a .distinct() here planned
    // a full AQE shuffle per era of every versioned read
    val doomedFiles: Set[String] =
      if (activeParts.isEmpty) Set.empty
      else GeoParquet.metaParquet(spark, activeParts.map(_._1))
        .select("file").collect().iterator.map(_.getString(0)).toSet
    val rt = runtime
    // runtime In-sets tighten the envelope bounds (min..max per
    // column — superset, exactly what file pruning may use)...
    val rtBounds = rt.toSeq.collect {
      case org.apache.spark.sql.sources.In(c, vs)
          if dataSchema.fieldNames.contains(c) &&
            vs.nonEmpty && vs.forall(_.isInstanceOf[java.lang.Number]) =>
        val ds = vs.map(_.asInstanceOf[java.lang.Number].doubleValue())
        (c, ds.min, ds.max)
    }
    // cluster-KEY file pruning: a keyed layout ([[GeoParquet.writeKeyed]])
    // records which data column its zkey mirrors; key predicates —
    // string and integral alike (both are exact-evaluated) —
    // translate to a manifest [k0,k1] range, so the CDC point lookup
    // `WHERE sid = 'K…'` opens the files whose key run can contain
    // it instead of the corpus
    // runtime (join-driven) In filters on the key column tighten the
    // range too — the broadcast-dim CDC lookup plans to the keys'
    // [min,max] file span.  COMPOSITE keys ((tenant, id) CDC shape)
    // prune through the struct-typed [k0,k1] with leading-prefix
    // semantics ([[GeoParquet.compositeKeyRangeCond]]).
    val kCols = GeoParquet.keyColsOf(spark, path)
    val kRange =
      if (kCols.length == 1)
        GraftScan.keyRangeOf(kCols.head, allFilters ++ rt)
      else None
    val kComposite =
      if (kCols.length > 1)
        kCols.map(kc => kc -> GraftScan.keyRangeOf(kc, allFilters ++ rt)
          .getOrElse((None: Option[Any], None: Option[Any])))
      else Nil
    val base = snapshot match {
      case Some(e) =>
        GeoParquet.planFilesAsOf(spark, path, bounds ++ rtBounds, e,
          kRange, kComposite)
      case None =>
        GeoParquet.planFilesFor(spark, path, bounds ++ rtBounds,
          kRange, kComposite)
    }
    // ...and probe the manifest membership filters where declared:
    // only files that might contain one of the keys stay.  STATIC
    // pushed predicates ride this too — a literal `WHERE id IN (…)`
    // or `id = v` point fetch is the same probe a broadcast join
    // delivers at runtime, and at 100 TB it must not open every file
    // whose x/y envelope happens to match
    // one sidecar read gates the whole probe family: a layout with no
    // declared filter columns must not pay a manifest footer open per
    // equality predicate just to learn there is nothing to probe
    val declaredFilters = GeoParquet.filterColsOf(spark, path).toSet
    val inShaped = (allFilters ++ rt).collect {
      case f: org.apache.spark.sql.sources.In
          if declaredFilters.contains(f.attribute) => f
      case org.apache.spark.sql.sources.EqualTo(c, v)
          if declaredFilters.contains(c) =>
        org.apache.spark.sql.sources.In(c, Array(v))
    }
    val candidates = inShaped.foldLeft(base) {
      case (acc, org.apache.spark.sql.sources.In(c, vs)) if acc.nonEmpty =>
        GeoParquet.bloomCandidateFiles(spark, path, keysDf(spark, c, vs), c)
          .map(cand => acc.filter(cand.toSet)).getOrElse(acc)
      case (acc, _) => acc
    }
    // hash-bucket point-lookup pruning: on a [[GeoParquet.writeBucketed]]
    // layout, an equality/IN predicate on the bucket key — pushed OR
    // runtime (a broadcast-dim join delivers In) — keeps only the
    // named buckets' files, a prune that never erodes with append
    // count (the range [k0,k1] prune does, as appended files
    // overlap).  Applies only when EVERY candidate file certifies a
    // bucket id: a foreign name disables the prune, never mis-prunes.
    val bucketPruned = bucketGeom match {
      case Some((nb, bcol)) if candidates.nonEmpty &&
          candidates.forall(f =>
            GraftScan.bucketOfFile(f).exists(_ < nb)) =>
        targetBuckets(nb, bcol, allFilters ++ rt) match {
          case Some(want) => candidates.filter(f =>
            GraftScan.bucketOfFile(f).exists(want.contains))
          case None => candidates
        }
      case _ => candidates
    }
    // LIMIT file-plan truncation: keep only enough MANIFEST-CERTIFIED
    // all-matching, delete-free files to cover the pushed limit —
    // boundary files prove nothing about their yield, so if the
    // contained files cannot cover it the full plan stands.  Runtime
    // filters and row-address rewrites disable it (their rows may
    // fail post-scan), pending deletes disable it (yield accounting
    // would need the doomed counts), and Spark's own Limit still cuts
    // to exactly n (isPartiallyPushed).
    val files = (topNHint, limitHint) match {
      case (Some((desc, n, prefix)), _)
          if !rowIdMode && rt.isEmpty && doomedFiles.isEmpty =>
        topNTruncated(spark, bucketPruned, n, desc, prefix)
          .getOrElse(bucketPruned)
      case (_, Some(n))
          if !rowIdMode && rt.isEmpty && doomedFiles.isEmpty =>
        limitTruncated(spark, bucketPruned, n).getOrElse(bucketPruned)
      case _ => bucketPruned
    }
    GraftSource.lastPlannedFiles.put(path, files)
    // row-address mode and delete subtraction both need each file's
    // root-relative form (the tombstone convention) — resolved here,
    // once, on the driver
    val rels: Seq[String] =
      if (rowIdMode || doomedFiles.nonEmpty)
        files.map(GeoParquet.relDataPath(spark, path, _))
      else files.map(_ => "")
    // bucket ids ride the partitions so Spark's key-grouped planning
    // (storage-partitioned joins) can group them — assigned only when
    // the layout is bucketed; -1 is never consulted otherwise
    val buckets: Seq[Int] = bucketGeom match {
      case Some((nb, _)) =>
        files.map(f => GraftScan.bucketOfFile(f).filter(_ < nb).getOrElse(-1))
      case None => files.map(_ => -1)
    }
    val parts = files.zip(rels).zip(buckets)
      .map { case ((f, r), b) =>
        GraftPartition(f, r, doomedFiles.contains(r), b) }
    GraftSource.lastMorPlan.put(path,
      (parts.length, parts.count(_.hasDeletes)))
    // pack small files into size-budgeted partitions (Spark's own
    // FilePartition discipline): per-file tasks are pure scheduler
    // overhead on a many-small-file layout (a fresh CDC table is
    // exactly that at bench scale) and a million-task plan at 100 TB.
    // Bucketed scans keep file-grained partitions — their
    // partitionKey grouping and the one-file-per-bucket ordering
    // report depend on them.
    if (bucketReport.isDefined) parts.map(p => p: InputPartition).toArray
    else GraftScan.packPartitions(spark, parts)
  }

  /** The finite bucket set an equality/IN conjunct on the bucket key
    * pins — the intersection across usable conjuncts (each is sound
    * alone; rows must pass all).  None = no usable conjunct, prune
    * nothing.  Literals hash AS THE COLUMN'S TYPE; any unhashable
    * value disables its conjunct, and a null literal matches no row
    * under = / IN so it never widens a set it can't name.
    */
  private def targetBuckets(n: Int, bcol: String,
                            fs: Seq[Filter]): Option[Set[Int]] =
    if (dataSchema.fieldNames.contains(bcol))
      GraftScan.targetBuckets(n, bcol, dataSchema(bcol).dataType, fs)
    else None

  /** Hash-bucket partitioning report for storage-partitioned joins:
    * Some((n, keyCol, staticFiles)) iff the layout is bucketed, the
    * key column survives into the scan output (Spark resolves the
    * transform's reference against it), the scan shape is a plain
    * row read, and EVERY statically-planned file certifies a bucket
    * id — a foreign file falls back to unknown partitioning rather
    * than mis-grouping.  Static = without runtime filters (those
    * arrive after the logical-side partitioning is fixed; Spark
    * re-groups the filtered partitions itself).
    */
  private lazy val bucketReport: Option[(Int, String, Seq[String])] = {
    if (changelog || changes.nonEmpty || rowIdMode) None
    else {
      val spark = SparkSession.active
      try bucketGeom.flatMap { case (nb, bcol) =>
        if (!required.fieldNames.contains(bcol)) None
        else {
          val kCols = GeoParquet.keyColsOf(spark, path)
          val kRange =
            if (kCols.length == 1) GraftScan.keyRangeOf(kCols.head, allFilters)
            else None
          val files = snapshot match {
            case Some(e) =>
              GeoParquet.planFilesAsOf(spark, path, bounds, e, kRange, Nil)
            case None =>
              GeoParquet.planFilesFor(spark, path, bounds, kRange, Nil)
          }
          if (files.nonEmpty &&
              files.forall(f => GraftScan.bucketOfFile(f).exists(_ < nb)))
            Some((nb, bcol, files))
          else None
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** KeyGroupedPartitioning over `bucket(n, key)` when [[bucketReport]]
    * certifies it — Spark's storage-partitioned-join machinery then
    * plans key-equijoins between two same-bucketed graft tables (and
    * aggregations on the key) with zero shuffle.  Everything else
    * reports unknown, exactly as a scan without this interface.
    */
  override def outputPartitioning(): Partitioning = bucketReport match {
    case Some((nb, bcol, files)) =>
      val nGroups = files.flatMap(GraftScan.bucketOfFile).distinct.size
      new KeyGroupedPartitioning(
        Array[VExpression](Expressions.bucket(nb, bcol)), nGroups)
    case None => new UnknownPartitioning(0)
  }

  /** Per-partition key order, reported ONLY when every bucket holds
    * exactly ONE planned file: each file is internally key-sorted by
    * the write (sortWithinPartitions on the zkey mirror), and a
    * one-file group IS its file — so after a compaction, a
    * same-bucketed join skips its Sort as well as its shuffle.  Two
    * key-sorted files CONCATENATED are not sorted, so multi-file
    * groups report nothing.
    *
    * HARD SAFETY GATE, found the expensive way: when Spark's
    * group-MERGING modes are on — compatible-transform reduction
    * (an 8-bucket side zipping a 4-bucket side folds two sorted
    * partitions into one group) or partially-clustered distribution —
    * the planner keeps the reported ordering across the merged
    * groups, the merge join consumes an UNSORTED concatenation as
    * sorted, and rows silently vanish (reproduced: a 1200-row join
    * returned 637).  The scan cannot know at report time whether the
    * join's other side will trigger a reduction, so ordering
    * withdraws whenever either conf could merge groups — correctness
    * over the optimization, exactly like the partitioning fallbacks.
    */
  override def outputOrdering(): Array[
      org.apache.spark.sql.connector.expressions.SortOrder] = {
    def on(k: String): Boolean =
      try SparkSession.active.conf.get(k, "false") == "true"
      catch { case scala.util.control.NonFatal(_) => true }
    val groupsMayMerge =
      on("spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled") ||
      on("spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
    bucketReport match {
      case Some((_, bcol, files)) if !groupsMayMerge &&
          files.groupBy(GraftScan.bucketOfFile)
            .values.forall(_.length == 1) =>
        Array(Expressions.sort(Expressions.column(bcol),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
      case _ => Array.empty
    }
  }

  /** The smallest prefix (in plan order) of manifest-CONTAINED,
    * delete-free files whose row counts cover the pushed limit —
    * None when the pushed-filter set has no conjunctive interval
    * form, the manifest is stale, or the contained files cannot
    * certify the budget (the caller then keeps the full plan).
    * Containment is the aggregate pushdown's certificate: per
    * interval column, file stats prove min/max inside the band AND
    * no nulls (comparison predicates are null-intolerant), so every
    * row of the file qualifies; with no filters at all, every
    * manifested file is trivially contained and a bare
    * `SELECT … LIMIT 10` over a 100 TB layout plans ~one file.
    */
  private def limitTruncated(spark: SparkSession, candidates: Seq[String],
                             n: Int): Option[Seq[String]] = {
    import org.apache.spark.sql.functions.col
    val ivs = ExactFilters.intervalsOf(exact).getOrElse(return None)
    val m = GeoParquet.freshManifest(spark, path).getOrElse(return None)
    val kCols = GeoParquet.keyColsOf(spark, path)
    def statName(c: String, suf: String): String =
      if (kCols.length == 1 && kCols.head == c) s"k$suf" else s"$c$suf"
    val statCols = ivs.map(_.col).distinct
      .flatMap(c => Seq(statName(c, "0"), statName(c, "1"),
        statName(c, "n")))
      .filter(m.columns.contains)
    val rows = m.select(("file" +: "n_rows" +: statCols).distinct
      .map(col): _*).collect()
    if (rows.isEmpty) return None
    val cols = rows.head.schema.fieldNames.zipWithIndex.toMap
    def stat(r: org.apache.spark.sql.Row, name: String): Any =
      cols.get(name).map(i => if (r.isNullAt(i)) null else r.get(i)).orNull
    def contained(r: org.apache.spark.sql.Row, nRows: Long): Boolean =
      ivs.forall { iv =>
        val c0 = stat(r, statName(iv.col, "0"))
        val c1 = stat(r, statName(iv.col, "1"))
        val cn = stat(r, statName(iv.col, "n"))
        c0 != null && c1 != null &&
          cn != null && cn.asInstanceOf[Long] == nRows && // no nulls
          (iv.lo == null || {
            val c = ExactFilters.compare(c0, iv.lo)
            if (iv.loStrict) c > 0 else c >= 0
          }) &&
          (iv.hi == null || {
            val c = ExactFilters.compare(c1, iv.hi)
            if (iv.hiStrict) c < 0 else c <= 0
          })
      }
    val byRel = rows.map(r => r.getString(cols("file")) -> r).toMap
    val picked = Seq.newBuilder[String]
    var got = 0L
    val it = candidates.iterator
    while (it.hasNext && got < n) {
      val f = it.next()
      byRel.get(GeoParquet.relDataPath(spark, path, f)) match {
        case Some(r) if contained(r, r.getLong(cols("n_rows"))) =>
          picked += f; got += r.getLong(cols("n_rows"))
        case _ => () // boundary/unknown file: yield unprovable, skip
      }
    }
    if (got >= n) Some(picked.result()) else None
  }

  /** The key-ordered head (ASC) or tail (DESC) of the candidate file
    * set that provably holds the top n qualifying rows — the TopN
    * twin of [[limitTruncated]].  Soundness: walking files in key
    * order, CONTAINED files (every row qualifies) supply the budget;
    * once ≥ n rows are certified, every one of them has its key at-
    * or-inside `threshold` (the budget files' extreme k1/k0), so the
    * true top-n all have keys at-or-inside it too — keeping EVERY
    * candidate file whose range touches that side of the threshold
    * (the closure) loses none of them.  Aborts (full plan) when any
    * candidate lacks manifest key stats or could hold NULL keys
    * (kn < n_rows — nulls sort outside the [k0,k1] order and void
    * the argument), when the filters have no interval form, or when
    * the contained files cannot cover n.
    */
  private def topNTruncated(spark: SparkSession, candidates: Seq[String],
                            n: Int, desc: Boolean,
                            prefix: Int = 1): Option[Seq[String]] = {
    import org.apache.spark.sql.functions.col
    val ivs = ExactFilters.intervalsOf(exact).getOrElse(return None)
    val m = GeoParquet.freshManifest(spark, path).getOrElse(return None)
    val kCols = GeoParquet.keyColsOf(spark, path)
    if (kCols.isEmpty) return None
    val composite = kCols.length > 1
    if (!Seq("k0", "k1", "kn").forall(m.columns.contains)) return None
    // the k-stat mapping is single-key only: composite layouts keep
    // their struct [k0,k1] under k0/k1 and per-column filter stats
    // (if any) under their own names
    def statName(c: String, suf: String): String =
      if (!composite && kCols.head == c) s"k$suf" else s"$c$suf"
    // order compare over the pushed sort prefix: scalars for single
    // keys; the struct endpoints' first `prefix` fields for composite
    // keys, nulls-first per field — Spark's own multi-column ordering
    def cmpKey(a: Any, b: Any): Int =
      if (!composite) ExactFilters.compare(a, b)
      else {
        val (ra, rb) = (a.asInstanceOf[org.apache.spark.sql.Row],
          b.asInstanceOf[org.apache.spark.sql.Row])
        var i = 0
        var c = 0
        while (i < prefix && c == 0) {
          val va = if (ra.isNullAt(i)) null else ra.get(i)
          val vb = if (rb.isNullAt(i)) null else rb.get(i)
          c =
            if (va == null && vb == null) 0
            else if (va == null) -1 // null field sorts first (smallest)
            else if (vb == null) 1
            else ExactFilters.compare(va, vb)
          i += 1
        }
        c
      }
    val statCols = (ivs.map(_.col).distinct.flatMap(c =>
      Seq(statName(c, "0"), statName(c, "1"), statName(c, "n"))) ++
      Seq("k0", "k1", "kn")).distinct.filter(m.columns.contains)
    val rows = m.select(("file" +: "n_rows" +: statCols).distinct
      .map(col): _*).collect()
    if (rows.isEmpty) return None
    val cols = rows.head.schema.fieldNames.zipWithIndex.toMap
    def stat(r: org.apache.spark.sql.Row, name: String): Any =
      cols.get(name).map(i => if (r.isNullAt(i)) null else r.get(i)).orNull
    def nRowsOf(r: org.apache.spark.sql.Row): Long = r.getLong(cols("n_rows"))
    def contained(r: org.apache.spark.sql.Row): Boolean =
      ivs.forall { iv =>
        val c0 = stat(r, statName(iv.col, "0"))
        val c1 = stat(r, statName(iv.col, "1"))
        val cn = stat(r, statName(iv.col, "n"))
        c0 != null && c1 != null &&
          cn != null && cn.asInstanceOf[Long] == nRowsOf(r) &&
          (iv.lo == null || {
            val c = ExactFilters.compare(c0, iv.lo)
            if (iv.loStrict) c > 0 else c >= 0
          }) &&
          (iv.hi == null || {
            val c = ExactFilters.compare(c1, iv.hi)
            if (iv.hiStrict) c < 0 else c <= 0
          })
      }
    val byRel = rows.map(r => r.getString(cols("file")) -> r).toMap
    val cand: Seq[(String, org.apache.spark.sql.Row)] = candidates.map { f =>
      val r = byRel.getOrElse(
        GeoParquet.relDataPath(spark, path, f), return None)
      if (!composite) {
        // a file that might hold NULL keys voids the order argument:
        // scalar min/max stats SKIP nulls, so a null key could live
        // outside the proven [k0,k1] band
        if (stat(r, "k0") == null || stat(r, "k1") == null ||
            stat(r, "kn") == null ||
            stat(r, "kn").asInstanceOf[Long] != nRowsOf(r)) return None
      } else {
        // struct endpoints bound EVERY row (the struct itself is
        // never null and null FIELDS order inside the min/max), so
        // only absent stats void the argument
        if (stat(r, "k0") == null || stat(r, "k1") == null) return None
      }
      (f, r)
    }
    val ordered =
      if (desc) cand.sortWith { case ((_, a), (_, b)) =>
        cmpKey(stat(a, "k1"), stat(b, "k1")) > 0 }
      else cand.sortWith { case ((_, a), (_, b)) =>
        cmpKey(stat(a, "k0"), stat(b, "k0")) < 0 }
    var got = 0L
    var threshold: Any = null
    val it = ordered.iterator
    while (it.hasNext && got < n) {
      val (_, r) = it.next()
      if (contained(r)) {
        got += nRowsOf(r)
        val t = if (desc) stat(r, "k0") else stat(r, "k1")
        val extremer = threshold == null || {
          val c = cmpKey(t, threshold)
          if (desc) c < 0 else c > 0
        }
        if (extremer) threshold = t
      }
    }
    if (got < n) return None
    Some(cand.collect { case (f, r)
        if {
          val c = cmpKey(
            if (desc) stat(r, "k1") else stat(r, "k0"), threshold)
          if (desc) c >= 0 else c <= 0
        } => f })
  }

  /** Batch changelog read (`.option("changelog","true")
    * .option("changesFrom", e0)[.option("changesTo", e1)]`): the
    * change rows of `(e0, e1]` as a plain DataFrame — the batch twin
    * of the changelog stream, for periodic CDC consumers without
    * streaming infrastructure (the Iceberg `changes` table analog;
    * [[graft.sources.GeoParquet.readChangesSince]] with delete
    * retractions).  Same planner, same refusal rules
    * ([[GraftChanges]]); the range additionally refuses above the
    * manifest's described prefix (unmanifested commits have no sound
    * changelog yet) and below the floor era (re-stamped history).
    */
  private def planChangesBatch(spark: SparkSession): Array[InputPartition] = {
    val (from, toOpt) = changes.getOrElse(throw new IllegalArgumentException(
      s"graft:$path — the changelog option on a BATCH read needs the " +
        "epoch range: .option(\"changesFrom\", e0) " +
        "[.option(\"changesTo\", e1)]; for a continuous feed use " +
        "readStream instead"))
    require(snapshot.isEmpty,
      s"graft:$path — a changelog range and a pinned snapshot cannot " +
        "compose; drop one")
    val described = GeoParquet.describedEpoch(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"$path: no manifest — unmanifested commits have no epochs, so " +
          "no sound changelog exists; run writeManifest first"))
    val to = toOpt.getOrElse(described)
    require(to <= described,
      s"graft:$path changesTo=$to is above the manifest's described " +
        s"prefix $described — those commits are not soundly readable yet")
    val st = GeoParquet.changelogFloor(spark, path)
    require(from >= st.floor - 1,
      s"graft:$path changesFrom=$from predates the changelog floor " +
        s"${st.floor}: history before it was re-stamped by a rebuild/" +
        s"compaction and cannot be replayed — start from ${st.floor - 1}")
    if (to <= from) return Array.empty
    val m = GeoParquet.manifestDf(spark, path)
    val committed = m.filter(
      org.apache.spark.sql.functions.col("epoch") > from &&
        org.apache.spark.sql.functions.col("epoch") <= to &&
        GeoParquet.manifestBoundsCond(m, bounds))
    GraftChanges.plan(spark, path, committed, from, to, bounds)
  }

  private def keysDf(spark: SparkSession, c: String,
                     vs: Array[Any]): org.apache.spark.sql.DataFrame = {
    val dt = dataSchema.fields.find(_.name == c).map(_.dataType)
      .getOrElse(org.apache.spark.sql.types.StringType)
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        vs.filter(_ != null).map(org.apache.spark.sql.Row(_)).toSeq.asJava),
      StructType(Seq(StructField(c, dt))))
  }

  /** Row-address mode: the projection asks for `_gfile`/`_gpos`, so
    * readers must assign physical row positions — which disables
    * parquet-level record skipping (a skipped record would shift
    * every later position); exact filters still drop rows AFTER
    * their position is assigned, and file pruning is unaffected
    * (removing a whole file shifts nothing).
    */
  private def rowIdMode: Boolean =
    required.fieldNames.exists(GraftSource.MetaCols.contains)

  /** The tombstone parts this scan subtracts: all pending parts for a
    * current-state read, only those committed at-or-before the pinned
    * epoch for a snapshot (part epochs ride the adopted file names).
    */
  private def activeDeleteParts(spark: SparkSession)
      : Seq[(String, String, String)] = {
    val parts = GeoParquet.positionalDeletePartsEpoch(spark, path)
    (snapshot match {
      case Some(e) => parts.filter(_._4.exists(_ <= e))
      case None => parts
    }).map(p => (p._1, p._2, p._3))
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    if (changelog)
      new GraftChangeReaderFactory(
        new graft.sources.v2.SerConf(spark.sparkContext.hadoopConfiguration),
        dataSchema.json, required.json, exact, bounds)
    else
      new GraftReaderFactory(
        new graft.sources.v2.SerConf(spark.sparkContext.hadoopConfiguration),
        dataSchema.json, required.json, exact, bounds, rowIdMode,
        activeDeleteParts(spark))
  }
}

object GraftScan {

  /** Pack per-file partitions into size-budgeted groups, preserving
    * file order (TopN/LIMIT-truncated heads rely on it).  The budget
    * is Spark's own: min(maxPartitionBytes, max(totalCost/cores,
    * 16 MB)) with each file costed at size + openCostInBytes — big
    * layouts split exactly as Spark's FilePartition would, and a
    * many-tiny-file layout (a fresh CDC table) collapses to a few
    * tasks instead of one per file.  Sizes come from ONE listing per
    * parent directory; a file that fails to list costs the full
    * budget (never under-packs).
    */
  private[v2] def packPartitions(
      spark: org.apache.spark.sql.SparkSession,
      parts: Seq[GraftPartition]): Array[InputPartition] =
    packBy[GraftPartition](spark, parts, _.file,
      sl => GraftMultiPartition(sl.toArray))

  /** The generic size-budgeted packer behind [[packPartitions]] —
    * also packs the changelog insert arm (different partition type,
    * same one-task-per-tiny-file problem).
    */
  private[v2] def packBy[T <: InputPartition](
      spark: org.apache.spark.sql.SparkSession,
      parts: Seq[T], fileOf: T => String,
      mk: Seq[T] => InputPartition): Array[InputPartition] = {
    if (parts.length <= 1) return parts.map(p => p: InputPartition).toArray
    val conf = spark.sessionState.conf
    val maxBytes = conf.filesMaxPartitionBytes
    val openCost = conf.filesOpenCostInBytes
    val hconf = spark.sparkContext.hadoopConfiguration
    val sizes: Map[String, Long] =
      parts.map(fileOf).groupBy(f =>
          new org.apache.hadoop.fs.Path(f).getParent)
        .iterator.flatMap { case (parent, _) =>
          try {
            val fs = parent.getFileSystem(hconf)
            fs.listStatus(parent).iterator.collect {
              case s if s.isFile => s.getPath.toUri.getPath -> s.getLen
            }
          } catch { case _: java.io.IOException =>
            Iterator.empty[(String, Long)] }
        }.toMap
    def costOf(p: T): Long =
      sizes.get(new org.apache.hadoop.fs.Path(fileOf(p)).toUri.getPath)
        .map(_ + openCost).getOrElse(maxBytes)
    val total = parts.iterator.map(costOf).sum
    val split = math.min(maxBytes, math.max(
      total / math.max(1, spark.sparkContext.defaultParallelism),
      math.max(openCost, 16L << 20)))
    val out = Array.newBuilder[InputPartition]
    val cur = scala.collection.mutable.ArrayBuffer.empty[T]
    var acc = 0L
    def flush(): Unit = if (cur.nonEmpty) {
      out += (if (cur.length == 1) cur.head else mk(cur.toSeq))
      cur.clear(); acc = 0L
    }
    parts.foreach { p =>
      val c = costOf(p)
      if (cur.nonEmpty && acc + c > split) flush()
      cur += p; acc += c
    }
    flush()
    out.result()
  }

  /** The bucket id a staged part file name certifies (`part-<idx>-…`
    * — the shuffle partition index Spark's HashPartitioning stamped
    * at write time, which [[GeoParquet.writeBucketed]] made the
    * bucket id by construction).  None for any other name shape
    * (a foreign file disables every bucket optimization on the
    * layout — fall back, never mis-prune).
    */
  private[v2] def bucketOfFile(path: String): Option[Int] =
    GeoParquet.bucketOfFileName(path)

  /** `pmod(murmur3(key), n)` — the ONE bucket function, shared by
    * the write side (HashPartitioning's partition index), the
    * catalog's v2 `bucket` function (SPJ compatibility), and the
    * point-lookup prune.  The value must hash AS THE COLUMN'S TYPE
    * (murmur3 of 5L ≠ murmur3 of 5), so filter literals widen to the
    * column type first; None = unhashable shape, prune nothing.
    */
  private[v2] def bucketIdOf(v: Any, dt: DataType, n: Int): Option[Int] = {
    val cat: Option[Any] = dt match {
      case ByteType => v match { case x: Byte => Some(x); case _ => None }
      case ShortType => v match {
        case x: Short => Some(x)
        case x: Byte => Some(x.toShort)
        case _ => None }
      case IntegerType => v match {
        case x: Int => Some(x)
        case x: Short => Some(x.toInt)
        case x: Byte => Some(x.toInt)
        case _ => None }
      case LongType => v match {
        case x: Long => Some(x)
        case x: Int => Some(x.toLong)
        case x: Short => Some(x.toLong)
        case x: Byte => Some(x.toLong)
        case _ => None }
      case StringType => v match {
        case s: String =>
          Some(org.apache.spark.unsafe.types.UTF8String.fromString(s))
        case s: org.apache.spark.unsafe.types.UTF8String => Some(s)
        case _ => None }
      case _ => None
    }
    cat.map(c => GraftBucketFunction.bucketId(c, dt, n))
  }

  /** The finite bucket set an equality/IN conjunct on the bucket key
    * pins — the intersection across usable conjuncts (each is sound
    * alone; rows must pass all).  None = no usable conjunct, prune
    * nothing.  A null literal matches no row under = / IN, so it
    * never widens a set it can't name; an unhashable value disables
    * its conjunct.
    */
  private[v2] def targetBuckets(n: Int, bcol: String, dt: DataType,
                                fs: Seq[Filter]): Option[Set[Int]] = {
    import org.apache.spark.sql.{sources => S}
    val sets = fs.flatMap {
      case S.EqualTo(c, v) if c == bcol && v != null =>
        bucketIdOf(v, dt, n).map(Set(_))
      case S.EqualNullSafe(c, v) if c == bcol && v != null =>
        bucketIdOf(v, dt, n).map(Set(_))
      case S.In(c, vs) if c == bcol && vs != null && vs.nonEmpty =>
        val bs = vs.toSeq.map(v =>
          if (v == null) None else bucketIdOf(v, dt, n))
        if (bs.forall(_.isDefined)) Some(bs.flatten.toSet) else None
      case _ => None
    }
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }

  /** Conjunctive key-predicate range over the cluster-key column —
    * a (lo, hi) SUPERSET bound for manifest [k0,k1] file pruning.
    * Any single conjunct is a sound bound on its own (rows must pass
    * ALL of them), so constraint selection can never over-prune; the
    * tightening just picks the best.  Values compare in the key's own
    * order: integral numerically, strings by UTF8 BINARY order
    * (UTF8String — the order Spark's min/max stats use;
    * java.lang.String.compareTo disagrees on supplementary
    * characters, and an In-list's min/max must be exact or a member
    * below the chosen lo would prune its own file away).
    */
  private[v2] def keyRangeOf(kc: String, fs: Seq[Filter])
      : Option[(Option[Any], Option[Any])] = {
    import org.apache.spark.sql.sources._
    def integral(v: Any): Boolean = v.isInstanceOf[java.lang.Long] ||
      v.isInstanceOf[java.lang.Integer] || v.isInstanceOf[java.lang.Short] ||
      v.isInstanceOf[java.lang.Byte]
    def ok(v: Any): Boolean = v.isInstanceOf[String] || integral(v)
    def cmp(a: Any, b: Any): Int = (a, b) match {
      case (x: String, y: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(x)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y))
      case (x: java.lang.Number, y: java.lang.Number) =>
        java.lang.Long.compare(x.longValue(), y.longValue())
      case _ => 0
    }
    var lo: Option[Any] = None
    var hi: Option[Any] = None
    var any = false
    def tightenLo(v: Any): Unit = {
      any = true; if (lo.forall(cmp(_, v) < 0)) lo = Some(v)
    }
    def tightenHi(v: Any): Unit = {
      any = true; if (hi.forall(cmp(_, v) > 0)) hi = Some(v)
    }
    fs.foreach {
      case EqualTo(c, v) if c == kc && ok(v) => tightenLo(v); tightenHi(v)
      case GreaterThan(c, v) if c == kc && ok(v) => tightenLo(v)
      case GreaterThanOrEqual(c, v) if c == kc && ok(v) => tightenLo(v)
      case LessThan(c, v) if c == kc && ok(v) => tightenHi(v)
      case LessThanOrEqual(c, v) if c == kc && ok(v) => tightenHi(v)
      case In(c, vs) if c == kc && vs.nonEmpty && vs.forall(ok) =>
        tightenLo(vs.reduceLeft((a, b) => if (cmp(a, b) <= 0) a else b))
        tightenHi(vs.reduceLeft((a, b) => if (cmp(a, b) >= 0) a else b))
      case StringStartsWith(c, v) if c == kc && v.nonEmpty =>
        // prefix p bounds the key to [p, successor(p)): lo = p is
        // exact; the hi side is the prefix successor (inclusive use
        // downstream is conservative — the successor itself matches
        // no prefix-p row, so at worst one extra boundary file opens)
        tightenLo(v)
        ExactFilters.prefixSuccessor(v).foreach(tightenHi)
      case _ => ()
    }
    if (any) Some((lo, hi)) else None
  }
}

/** Several packed file slices read sequentially by one task — the
  * [[GraftScan.packPartitions]] product.  Never used on bucketed
  * scans, so it carries no partition key.
  */
final case class GraftMultiPartition(slices: Array[GraftPartition])
    extends InputPartition

final case class GraftPartition(file: String, relFile: String = "",
                                hasDeletes: Boolean = false,
                                bucket: Int = -1)
    extends InputPartition with HasPartitionKey {
  /** Consulted by Spark's partition grouping ONLY when the scan
    * reports KeyGroupedPartitioning — which it does iff the layout is
    * hash-bucketed and every planned file certifies a bucket id, so
    * the -1 default is never observed.
    */
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucket))
}

final class GraftReaderFactory(conf: SerConf, dataJson: String,
                               requiredJson: String, exact: Seq[Filter],
                               bounds: Seq[(String, Double, Double)],
                               rowIdMode: Boolean = false,
                               deleteParts: Seq[(String, String, String)] =
                                 Seq.empty)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    p match {
      case mp: GraftMultiPartition =>
        // one task drains its packed slices in order, opening each
        // file's reader lazily — slice boundaries stay invisible to
        // Spark (same rows, same order as per-file partitions)
        return new PartitionReader[InternalRow] {
          private val it = mp.slices.iterator
          private var cur: PartitionReader[InternalRow] = null
          @scala.annotation.tailrec
          override def next(): Boolean = {
            if (cur == null) {
              if (!it.hasNext) return false
              cur = createReader(it.next())
            }
            if (cur.next()) true
            else { cur.close(); cur = null; next() }
          }
          override def get(): InternalRow = cur.get()
          override def close(): Unit = if (cur != null) cur.close()
        }
      case _ => ()
    }
    val gp = p.asInstanceOf[GraftPartition]
    val dataSchema = DataType.fromJson(dataJson).asInstanceOf[StructType]
    val required = DataType.fromJson(requiredJson).asInstanceOf[StructType]
    val dataFields = VecReaders.readFieldsFor(dataSchema, required, exact)
      .filterNot(f => GraftSource.MetaCols.contains(f.name))
    // positions are physical row indexes: no predicate may skip a row
    // group, so none is pushed
    val posMode = rowIdMode || gp.hasDeletes
    new VecRowReader(gp, conf, StructType(dataFields), required, exact,
      if (posMode) Seq.empty else bounds, posMode, deleteParts)
  }
}

/** Java-serializable Hadoop `Configuration` carrier (it is `Writable`,
  * not `Serializable`) — the broadcast-conf idiom, local to the v2
  * package.
  *
  * Task-side users call `conf.size()` once before copying or reading
  * the conf: a `new Configuration(conf)` whose source Properties are
  * still unmaterialized re-parses the Hadoop XML resources per copy
  * (~10 ms, the dominant CPU of a many-small-file scan in stack
  * sampling), so one materialization per task keeps every later copy
  * a cheap Properties clone.
  */
final class SerConf(@transient private var c: org.apache.hadoop.conf.Configuration)
    extends Serializable {
  def conf: org.apache.hadoop.conf.Configuration = c

  // Per-task memo of the derived JobConf a scan's readers share.  A
  // packed multi-file partition opens one reader PER FILE, and every
  // open used to pay `new Configuration(conf)` plus the
  // TaskAttemptContextImpl's own `new JobConf(conf)` — two full
  // ConcurrentHashMap copies of ~2k properties per file, ~43% of
  // active executor samples on a many-tiny-file layout.  The derived
  // conf depends only on (requested schema, pushed bounds), constant
  // across a scan, so each task builds it once and every packed file
  // reuses it (a JobConf passed to TaskAttemptContextImpl is used
  // as-is, no copy).  The memo is per-deserialized-instance — i.e.
  // per task — so no cross-thread mutation is possible after build.
  @transient private var jcKey: String = _
  @transient private var jcVal: org.apache.hadoop.mapred.JobConf = _
  private[v2] def memoJobConf(key: String)(
      build: => org.apache.hadoop.conf.Configuration)
      : org.apache.hadoop.mapred.JobConf = synchronized {
    if (jcKey != key || jcVal == null) {
      jcVal = new org.apache.hadoop.mapred.JobConf(build)
      jcKey = key
    }
    jcVal
  }

  // Per-task memo of decoded tombstone-part position maps (see
  // DoomedPositions.readPart) — one full decode per (task, part)
  // instead of one filtered re-read per data file.
  @transient private var partMaps: java.util.HashMap[
    String, java.util.HashMap[String, java.util.HashSet[java.lang.Long]]] = _
  private[v2] def memoPartMap(part: String)(
      build: => java.util.HashMap[String, java.util.HashSet[java.lang.Long]])
      : java.util.HashMap[String, java.util.HashSet[java.lang.Long]] =
    synchronized {
      if (partMaps == null) partMaps = new java.util.HashMap()
      var m = partMaps.get(part)
      if (m == null) { m = build; partMaps.put(part, m) }
      m
    }

  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject(); c.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    c = new org.apache.hadoop.conf.Configuration(false)
    c.readFields(in)
  }
}

/** Task-side point lookup of ONE data file's doomed row positions
  * from the pending positional-delete parts — shared by the
  * merge-on-read row reader and the subtracting aggregate reader.
  * The parts are range-partitioned + sorted on `file`, and the
  * planner hands each reader only the part(s) whose footer interval
  * can contain its file, so this reads ~one kilobyte-scale part per
  * pending mutation (parquet-mr record filter `file == rel`).
  */
private[v2] object DoomedPositions {
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.hadoop.ParquetReader
  import org.apache.parquet.hadoop.example.GroupReadSupport

  /** One tombstone part decoded ONCE into a per-data-file position
    * map.  A task used to re-read the whole part (with a row-group
    * filter on `file`) once per data file it decodes — O(files ×
    * part); tombstoneShaped's range partitioning means a task's files
    * cluster into ~one part, so one full decode per (task, part) is
    * strictly less IO.  Memoized on the task-local [[SerConf]], same
    * lifetime discipline as [[SerConf.memoJobConf]].
    */
  private def readPart(df: String, ser: SerConf)
      : java.util.HashMap[String, java.util.HashSet[java.lang.Long]] = {
    val out = new java.util.HashMap[String, java.util.HashSet[java.lang.Long]]()
    ser.conf.size() // materialize once (see SerConf)
    // the legacy conf-first constructor, ON PURPOSE: every other entry
    // point (builder(support, path), and the ParquetConfiguration
    // builder, whose GroupReadSupport.init converts back through
    // ConfigurationUtil.createHadoopConfiguration) builds a fresh
    // `new Configuration()` per reader and re-parses the Hadoop XML
    // resources.  This one reuses the task's materialized conf.
    // (An r17 attempt to switch to ParquetReader.builder +
    // withConf(task conf) + withFilter REGRESSED and kept getting
    // slower with JVM age — measured 9.4 s → 22 s over 8 bench
    // iterations vs 4.8 s flat on this path.)
    val r: ParquetReader[Group] =
      new ParquetReader(ser.conf, new org.apache.hadoop.fs.Path(df),
        new GroupReadSupport())
    try {
      var g = r.read()
      while (g != null) {
        if (g.getFieldRepetitionCount("file") > 0) {
          var s = out.get(g.getString("file", 0))
          if (s == null) {
            s = new java.util.HashSet[java.lang.Long]()
            out.put(g.getString("file", 0), s)
          }
          s.add(g.getLong("pos", 0))
        }
        g = r.read()
      }
    } finally r.close()
    out
  }

  def load(relFile: String, deleteFiles: Seq[String],
           ser: SerConf): java.util.HashSet[java.lang.Long] = {
    if (deleteFiles.isEmpty) return new java.util.HashSet[java.lang.Long]()
    val maps = deleteFiles.map(df => ser.memoPartMap(df)(readPart(df, ser)))
    val hits = maps.flatMap(m => Option(m.get(relFile)))
    hits match {
      case Seq() => new java.util.HashSet[java.lang.Long]()
      case Seq(one) => one // read-only downstream; shared across readers
      case several =>
        val s = new java.util.HashSet[java.lang.Long]()
        several.foreach(s.addAll)
        s
    }
  }
}

// ---------------------------------------------------------------------
// Aggregate pushdown
// ---------------------------------------------------------------------

/** Global COUNT(*)/COUNT(c)/MIN/MAX pushed into the scan (partial
  * mode — Spark merges the per-partition rows).  Planning reads the
  * manifest sidecar: a candidate file whose envelope is strictly
  * inside every filter interval, with a proven-null-free value for
  * each filtered column (`cn` == `n_rows`), has every row passing —
  * so it contributes `n_rows` / `cn` / `c0` / `c1` WITHOUT being
  * opened, exactly the perimeter-not-area shape of
  * [[GeoParquet.countBoxViaManifest]].  Files that straddle a
  * boundary (or predate the null-count stats) are scanned with the
  * exact filters.  The one synthetic "manifest" partition always
  * emits its row, so a zero-match query still yields COUNT 0 (sum
  * over an empty scan would be SQL NULL).  Stale manifest ⇒ every
  * file scans; pending POSITIONAL deletes subtract per file (doomed
  * files scan with positions skipped, innocent files stay
  * manifest-answered); equality tombstones refuse as on the row path.
  */
object GraftAggScan {
  /** Spark's Sum output type: integral -> LongType, fractional ->
    * DoubleType — also exactly the type the manifest stores for the
    * per-file `cs` sums (Spark's own sum aggregate computed them),
    * so meta partials merge without casts.
    */
  private[v2] def sumTypeOf(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType =>
      org.apache.spark.sql.types.LongType
    case _ => org.apache.spark.sql.types.DoubleType
  }
}

final class GraftAggScan(path: String, dataSchema: StructType,
                         aggCols: Seq[AggCol], exact: Seq[Filter],
                         snapshot: Option[Long] = None)
    extends Scan with Batch {

  override def readSchema(): StructType = StructType(aggCols.map {
    case NRows => StructField("count_star", LongType, nullable = false)
    case NNonNull(c) => StructField(s"count_$c", LongType, nullable = false)
    case MinC(c) => StructField(s"min_$c", dataSchema(c).dataType)
    case MaxC(c) => StructField(s"max_$c", dataSchema(c).dataType)
    case SumC(c) => StructField(s"sum_$c",
      GraftAggScan.sumTypeOf(dataSchema(c).dataType))
  })
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftAggScan $path aggs=${aggCols.mkString(",")} filters=${exact.mkString(",")}" +
      snapshot.fold("")(e => s" asOf=$e")

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    require(GeoParquet.pendingTombstones(spark, path).isEmpty,
      s"$path has pending equality (key) tombstones — the SQL face " +
        "cannot subtract those; run a compaction (or read via the " +
        "API's readMerged) first")
    // epoch-sliced under time travel, exactly as the row path: a
    // snapshot COUNT subtracts only the deletes committed at-or-before
    // its pinned epoch (61z17 part epochs); un-epoched (crash-healed)
    // parts cannot be placed and refuse
    val allDeleteParts = GeoParquet.positionalDeletePartsEpoch(spark, path)
    val deleteParts: Seq[(String, String, String)] = snapshot match {
      case Some(e) =>
        require(allDeleteParts.forall(_._4.isDefined),
          s"$path has pending merge-on-read deletes without a recorded " +
            "commit epoch (crash-healed) — a snapshot aggregate cannot " +
            "place them; run a compaction first")
        allDeleteParts.filter(_._4.exists(_ <= e)).map(p => (p._1, p._2, p._3))
      case None => allDeleteParts.map(p => (p._1, p._2, p._3))
    }
    // per-file doomed-position counts: one small agg over the
    // tombstone parts — one (file, n) row per MUTATED file, the
    // metadata-scale price of keeping interior files unopened under
    // pending deletes.  A contained, provably-null-free file then
    // serves `n_rows - doomed` / `cn - doomed` without being opened
    // (every doomed row passed the filters and was non-null, because
    // EVERY row did); boundary files scan with the doomed positions
    // skipped.  MIN/MAX ride the same accounting: a file with ZERO
    // doomed positions serves z0/z1 from stats unopened (fromStats),
    // a doomed file scans — a doomed row might be the extremum, so
    // only THAT file pays, never the corpus.
    // distinct (file,pos) first: duplicate tombstone entries for the
    // same position are reachable (overlapping deleteWhere batches),
    // and counting raw rows would over-subtract — tombstone parts are
    // metadata-scale, so the distinct costs nothing
    val doomedCounts: Map[String, Long] =
      if (deleteParts.isEmpty) Map.empty
      else GeoParquet.metaParquet(spark, deleteParts.map(_._1))
        .select("file", "pos").collect()
        // distinct + per-file rollup as a scalar pass: select+collect
        // folds on the cached sidecar (zero jobs) where the DataFrame
        // distinct/groupBy planned two AQE shuffles per aggregate scan
        .iterator.map(r => (r.getString(0), r.getLong(1)))
        .toSet[(String, Long)]
        .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val bounds = ExactFilters.boundsOf(exact.toArray)
    val intervals = ExactFilters.intervalsOf(exact)
    // cluster-key file pruning, as on the row path: files whose
    // [k0,k1] run cannot intersect the key predicate contribute zero
    // to every pushed aggregate — prune them before the
    // containment/scan split.  String keys ride this too (string
    // comparisons are exact since ExactFilters grew UTF8 support), and
    // the key column's per-file stats live under k0/k1/kn — the
    // `_keycol` mirror — not under its own name (statName below).
    val kCols = GeoParquet.keyColsOf(spark, path)
    val kRange =
      if (kCols.length == 1) GraftScan.keyRangeOf(kCols.head, exact)
      else None
    // composite keys prune through the struct [k0,k1] (leading-prefix
    // semantics); their per-column containment stays off — struct
    // endpoint stats cannot certify a per-column interval on files
    // spanning several leading values, and statName's k-mapping is
    // single-key only, so lookups miss and the file scans (sound)
    val kComposite =
      if (kCols.length > 1)
        kCols.map(kc => kc -> GraftScan.keyRangeOf(kc, exact)
          .getOrElse((None: Option[Any], None: Option[Any])))
      else Nil
    def statName(c: String, suf: String): String =
      if (kCols.length == 1 && kCols.head == c) s"k$suf" else s"$c$suf"

    // meta partials accumulate across manifest-answered files
    val meta: Array[Any] = aggCols.map {
      case NRows | _: NNonNull => java.lang.Long.valueOf(0L): Any
      case _ => null
    }.toArray
    def mergeMeta(vals: Seq[Any]): Unit = aggCols.indices.foreach { i =>
      (aggCols(i), vals(i)) match {
        case (NRows | _: NNonNull, v: java.lang.Long) =>
          meta(i) = java.lang.Long.valueOf(meta(i).asInstanceOf[java.lang.Long] + v)
        case (_: MinC, v) if v != null =>
          if (meta(i) == null || ExactFilters.compare(v, meta(i)) < 0) meta(i) = v
        case (_: MaxC, v) if v != null =>
          if (meta(i) == null || ExactFilters.compare(v, meta(i)) > 0) meta(i) = v
        case (_: SumC, v) if v != null =>
          // sums arrive in their final Spark type (long or double)
          meta(i) = (meta(i), v) match {
            case (null, _) => v
            case (a: java.lang.Long, b: java.lang.Long) =>
              java.lang.Long.valueOf(a.longValue() + b.longValue())
            case (a: java.lang.Double, b: java.lang.Double) =>
              java.lang.Double.valueOf(a.doubleValue() + b.doubleValue())
            case (a, b) => throw new IllegalStateException(
              s"sum partial type mismatch: $a vs $b")
          }
        case _ => ()
      }
    }

    val scanFiles: Seq[(String, String)] = GeoParquet.freshManifest(spark, path)
        .map(m0 => snapshot.fold(m0)(e =>
          // manifestAsOf re-checks freshness + history intactness and
          // REFUSES on stale — time travel has no listing fallback
          GeoParquet.manifestAsOf(spark, path, e))) match {
      case None if snapshot.isDefined =>
        throw new IllegalArgumentException(
          s"$path: manifest is stale — snapshot reads have no sound " +
            "fallback; run writeManifest first")
      case None =>
        // stale/missing manifest: full listing, everything scans
        val fs = GeoParquet.planFilesFor(spark, path, bounds, kRange,
          kComposite)
        GraftSource.lastAggPlan.put(path, (0, fs.size))
        fs.map(f => (f, GeoParquet.relDataPath(spark, path, f)))
      case Some(m) =>
        import org.apache.spark.sql.functions.{col, lit}
        val intersect = bounds
          .filter { case (c, _, _) =>
            m.columns.contains(s"${c}0") && m.columns.contains(s"${c}1") }
          .map { case (c, lo, hi) =>
            (col(s"${c}1").isNull || col(s"${c}1") >= lo) &&
              (col(s"${c}0").isNull || col(s"${c}0") <= hi)
          }
          .foldLeft(lit(true))(_ && _)
        // candidate rows only, projected to the stat columns this
        // plan consults (bloom arrays etc. stay behind) — the same
        // metadata-sized driver footprint as the file-name planning
        val statCols = (intervals.toSeq.flatten.map(_.col) ++ aggCols.collect {
            case NNonNull(c) => c
            case MinC(c) => c
            case MaxC(c) => c
            case SumC(c) => c
          }).distinct
          .flatMap(c => Seq(statName(c, "0"), statName(c, "1"),
            statName(c, "n"), statName(c, "s")))
          .filter(m.columns.contains)
        val rows = m.filter(intersect && GeoParquet.keyRangeCond(m, kRange) &&
            GeoParquet.compositeKeyRangeCond(m, kComposite))
          .select(("file" +: "n_rows" +: statCols).distinct.map(col): _*)
          .collect()
        val cols = if (rows.isEmpty) Map.empty[String, Int]
          else rows.head.schema.fieldNames.zipWithIndex.toMap
        def stat(r: org.apache.spark.sql.Row, name: String): Any =
          cols.get(name).map(i => if (r.isNullAt(i)) null else r.get(i)).orNull

        def contained(r: org.apache.spark.sql.Row, nRows: Long): Boolean =
          intervals.exists(_.forall { iv =>
            val c0 = stat(r, statName(iv.col, "0"))
            val c1 = stat(r, statName(iv.col, "1"))
            val cn = stat(r, statName(iv.col, "n"))
            c0 != null && c1 != null &&
              cn != null && cn.asInstanceOf[Long] == nRows && // no nulls in col
              (iv.lo == null || {
                val c = ExactFilters.compare(c0, iv.lo)
                if (iv.loStrict) c > 0 else c >= 0
              }) &&
              (iv.hi == null || {
                val c = ExactFilters.compare(c1, iv.hi)
                if (iv.hiStrict) c < 0 else c <= 0
              })
          })

        /** Every agg output this file can serve from stats (its
          * `doomed` pending-delete positions subtracted), or None.
          */
        def fromStats(r: org.apache.spark.sql.Row, nRows: Long,
                      doomed: Long): Option[Seq[Any]] = {
          val vs = aggCols.map {
            case NRows => Some(java.lang.Long.valueOf(nRows - doomed))
            case NNonNull(c) => stat(r, statName(c, "n")) match {
              case n: java.lang.Long if doomed == 0L => Some(n)
              case n: java.lang.Long if n.longValue() == nRows =>
                // null-free column: every doomed row was counted
                Some(java.lang.Long.valueOf(n.longValue() - doomed))
              case _ => None // nullable + doomed: which rows died is unknowable from stats
            }
            case MinC(c) => (stat(r, statName(c, "n")),
                stat(r, statName(c, "0"))) match {
              case _ if doomed > 0L => None // a doomed row might be the extremum
              case (n: java.lang.Long, _) if n.longValue() == 0L => Some(null) // all null: no contribution
              case (_: java.lang.Long, v) if v != null => Some(v)
              case _ => None
            }
            case MaxC(c) => (stat(r, statName(c, "n")),
                stat(r, statName(c, "1"))) match {
              case _ if doomed > 0L => None
              case (n: java.lang.Long, _) if n.longValue() == 0L => Some(null)
              case (_: java.lang.Long, v) if v != null => Some(v)
              case _ => None
            }
            case SumC(c) => (stat(r, statName(c, "n")),
                stat(r, statName(c, "s"))) match {
              // a doomed row's value is unknowable from stats
              case _ if doomed > 0L => None
              case (n: java.lang.Long, _) if n.longValue() == 0L => Some(null) // all null: SUM contributes nothing
              case (_: java.lang.Long, v) if v != null => Some(v)
              case _ => None // old manifest without the `cs` column: scan
            }
          }
          if (vs.contains(None)) None else Some(vs.map(_.get))
        }

        // hash-bucket pruning, as on the row path: a file whose
        // certified bucket cannot hold the equality/IN key holds ZERO
        // filter-passing rows, so it contributes nothing to any
        // pushed aggregate — drop it from both the stats AND scan
        // sides.  `SELECT count(*) WHERE key = v` over a bucketed
        // CDC table then touches one bucket, not the corpus.  Only
        // fires when every candidate file certifies a bucket id.
        val bucketWant: Option[Set[Int]] = GeoParquet.bucketsOf(spark, path)
          .filter { case (nb, _) => rows.nonEmpty && rows.forall(r =>
            GeoParquet.bucketOfFileName(r.getString(cols("file")))
              .exists(_ < nb)) }
          .flatMap { case (nb, bcol) =>
            if (dataSchema.fieldNames.contains(bcol))
              GraftScan.targetBuckets(nb, bcol,
                dataSchema(bcol).dataType, exact)
            else None
          }
        val toScan = Seq.newBuilder[(String, String)]
        var answered = 0
        rows.foreach { r =>
          val rel = r.getString(cols("file"))
          val nRows = r.getLong(cols("n_rows"))
          val doomed = doomedCounts.getOrElse(rel, 0L)
          val offBucket = bucketWant.exists(w =>
            !GeoParquet.bucketOfFileName(rel).exists(w.contains))
          if (!offBucket) {
            val served =
              if (contained(r, nRows)) fromStats(r, nRows, doomed) else None
            served match {
              case Some(vals) => mergeMeta(vals); answered += 1
              case None => toScan += ((s"$path/$rel", rel))
            }
          }
        }
        val scans = toScan.result()
        GraftSource.lastAggPlan.put(path, (answered, scans.size))
        scans
    }
    GraftSource.lastPlannedFiles.put(path, scanFiles.map(_._1))
    // manifest stats COLLECT as java Strings; the meta partition's
    // InternalRow needs UTF8String for string-typed MIN/MAX outputs
    val metaRow = meta.map {
      case str: String =>
        org.apache.spark.unsafe.types.UTF8String.fromString(str): Any
      case v => v
    }
    (GraftAggMetaPartition(metaRow) +:
      scanFiles.map { case (abs, rel) =>
        GraftPartition(abs, rel, doomedCounts.contains(rel)): InputPartition
      }).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    // same epoch slicing as planning: a snapshot's boundary scans skip
    // only the doomed positions committed at-or-before the pin
    val parts = GeoParquet.positionalDeletePartsEpoch(spark, path)
    val sliced = (snapshot match {
      case Some(e) => parts.filter(_._4.exists(_ <= e))
      case None => parts
    }).map(p => (p._1, p._2, p._3))
    new GraftAggReaderFactory(
      new SerConf(spark.sparkContext.hadoopConfiguration),
      dataSchema.json, aggCols, exact,
      ExactFilters.boundsOf(exact.toArray),
      sliced)
  }
}

/** Partials already answered from the manifest at planning time —
  * values ride the partition (metadata-sized: one row).
  */
final case class GraftAggMetaPartition(values: Array[Any]) extends InputPartition

final class GraftAggReaderFactory(conf: SerConf, dataJson: String,
                                  aggCols: Seq[AggCol], exact: Seq[Filter],
                                  bounds: Seq[(String, Double, Double)],
                                  deleteParts: Seq[(String, String, String)] =
                                    Seq.empty)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case GraftAggMetaPartition(vals) => new SingleRowReader(vals)
      case gp: GraftPartition =>
        val dataSchema = DataType.fromJson(dataJson).asInstanceOf[StructType]
        val valueStruct = StructType(VecReaders.valueCols(aggCols)
          .flatMap(n => dataSchema.fields.find(_.name == n)))
        val batchSchema = StructType(
          VecReaders.readFieldsFor(dataSchema, valueStruct, exact))
        // a doomed file folds by physical position, so no predicate
        // may skip a row group there; clean files keep the bounds
        new VecAggReader(new VecRowReader(gp, conf, batchSchema, valueStruct,
          exact, if (gp.hasDeletes) Seq.empty else bounds, gp.hasDeletes,
          deleteParts), batchSchema, aggCols)
    }
}

final class SingleRowReader(vals: Array[Any])
    extends PartitionReader[InternalRow] {
  private var done = false
  override def next(): Boolean = { val r = !done; done = true; r }
  override def get(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
  override def close(): Unit = ()
}
