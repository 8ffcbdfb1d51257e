package graft.sources.v2

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Columnar decode for the graft scan's data files, on Spark's own
  * [[org.apache.spark.sql.execution.datasources.parquet
  * .VectorizedParquetRecordReader]] (the engine under every parquet
  * `FileScan`): column-chunk pages decode straight into
  * `WritableColumnVector`s and rows surface as flyweight
  * `ColumnarBatchRow` views — no per-value allocation, SIMD-friendly
  * page loops, lazy string materialization.
  *
  * What the row path promises on top of the decode:
  *  - pushed EXACT filters evaluate per row (three-valued, the
  *    semantics of [[ExactFilters.eval]]) — required because the scan
  *    CONSUMES those filters (Spark does not re-apply them);
  *  - the envelope `bounds` become a parquet row-group/page-index
  *    FilterPredicate (a superset pass — the exact filters do the
  *    trimming);
  *  - row-address mode assigns physical positions (no predicate may
  *    skip a row group, so none is pushed) and subtracts pending
  *    positional deletes;
  *  - schema evolution: fields a file predates read as null vectors,
  *    and SPARK-40876's widening updaters cover files whose physical
  *    type is narrower than the declared column (int32→long,
  *    float→double).  A file the reader refuses at init fails the
  *    query with the reader's own error.
  */
private[graft] object VecReaders {

  /** The fields a reader must decode: the projection plus any pushed-
    * filter column not already in it (filters may reference pruned
    * columns — the output row still carries only `required`).
    */
  def readFieldsFor(dataSchema: StructType, required: StructType,
                    exact: Seq[Filter]): Array[StructField] = {
    val extra = ExactFilters.referencedColumns(exact)
      .filterNot(required.fieldNames.contains)
      .flatMap(n => dataSchema.fields.find(_.name == n))
    required.fields ++ extra
  }

  /** The data columns whose VALUES the aggregate fold needs
    * (count(*) needs none).
    */
  def valueCols(aggCols: Seq[AggCol]): Seq[String] = aggCols.collect {
    case NNonNull(c) => c
    case MinC(c) => c
    case MaxC(c) => c
    case SumC(c) => c
  }.distinct

  /** Per-row exact-filter gate shared by the row reader and both
    * changelog arms: the compiled ordinal-bound predicate when the
    * tree is inside the compiled surface, interpreted
    * [[ExactFilters.eval]] otherwise (same answers).
    */
  final class ExactGate(exact: Seq[Filter], schema: StructType) {
    private val compiled: InternalRow => Boolean =
      if (exact.isEmpty) null else compilePredicate(exact, schema).orNull
    private val idx: Map[String, (Int, DataType)] =
      schema.fields.zipWithIndex.map { case (f, i) =>
        f.name -> (i, f.dataType)
      }.toMap
    private var row: InternalRow = _
    private val lookup: String => Any = { name =>
      val (i, dt) = idx(name)
      if (row.isNullAt(i)) null else row.get(i, dt)
    }
    def pass(r: InternalRow): Boolean =
      exact.isEmpty || {
        if (compiled != null) compiled(r)
        else {
          row = r
          exact.forall(f => ExactFilters.eval(f, lookup).contains(true))
        }
      }
  }

  /** Open one data file on Spark's vectorized parquet reader with
    * the graft conf contract (requested schema, converter SQL-conf
    * keys, optional row-group FilterPredicate from the envelope
    * bounds, CORRECTED rebase — dates and timestamps read as
    * written, in the proleptic Gregorian calendar).
    */
  private[v2] def openVectorized(file: String, ser: SerConf,
      batchSchema: StructType, bounds: Seq[(String, Double, Double)])
      : org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetReadSupport, VectorizedParquetRecordReader}
    ser.conf.size() // materialize once (see SerConf)
    // derived conf depends only on (schema, bounds) — shared by every
    // file this task opens for the scan (see SerConf.memoJobConf);
    // readers only READ it after build
    val jc = ser.memoJobConf(batchSchema.json + "|" + bounds.mkString(";")) {
      val conf = new org.apache.hadoop.conf.Configuration(ser.conf)
      conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
        classOf[ParquetReadSupport].getName)
      conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, batchSchema.json)
      // the Spark schema converter requires these SQL-conf keys in the
      // Hadoop conf (Spark's own parquet scan exec injects them the
      // same way) — defaults, spelled out
      conf.setBoolean("spark.sql.parquet.binaryAsString", false)
      conf.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
      conf.setBoolean("spark.sql.caseSensitive", false)
      conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
      conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
      conf.setBoolean("spark.sql.parquet.fieldId.read.enabled", false)
      conf.setBoolean("spark.sql.parquet.fieldId.read.ignoreMissing", false)
      predicateFor(batchSchema, bounds).foreach(p =>
        org.apache.parquet.hadoop.ParquetInputFormat.setFilterPredicate(conf, p))
      conf
    }
    // Spark's reader base casts to the OLD-API split type
    val split = new org.apache.hadoop.mapred.FileSplit(
      new org.apache.hadoop.fs.Path(file), 0, Long.MaxValue,
      Array.empty[String])
    // a JobConf is adopted as-is by JobContextImpl — no per-file copy
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      jc, new org.apache.hadoop.mapreduce.TaskAttemptID())
    val r = new VectorizedParquetRecordReader(
      java.time.ZoneOffset.UTC, "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, /* capacity = */ 4096)
    try r.initialize(split, ctx)
    catch { case t: Throwable =>
      try r.close() catch { case _: Throwable => () }
      throw t
    }
    r
  }

  /** Compile a pushed filter tree into an ordinal-bound three-valued
    * closure over the batch row — the inner loop of every filtered
    * scan must not pay a name→ordinal map lookup, an `Option`
    * allocation per node, and numeric boxing PER ROW.  Semantics are
    * [[ExactFilters.eval]]'s exactly: Kleene And/Or/Not, null tests,
    * comparisons via nan-safe double / exact long / UTF8-binary
    * string order.  Returns None when a node is outside the compiled
    * surface (the caller keeps the interpreted path — same answers).
    *
    * Encoding: 1 = true, 0 = false, -1 = unknown.
    */
  private type Pred = InternalRow => Int
  private[graft] def compilePredicate(fs: Seq[Filter], schema: StructType)
      : Option[InternalRow => Boolean] = {
    import org.apache.spark.sql.sources._
    val idx: Map[String, (Int, DataType)] =
      schema.fields.zipWithIndex.map { case (f, i) =>
        f.name -> (i, f.dataType)
      }.toMap
    def cmp(c: String, lit: Any, p: Int => Boolean): Option[Pred] = {
      if (lit == null) return Some(_ => -1)
      val (i, dt) = idx.getOrElse(c, return None)
      (dt, lit) match {
        case (StringType, s: String) =>
          val l = UTF8String.fromString(s)
          Some(r => if (r.isNullAt(i)) -1
            else if (p(r.getUTF8String(i).compareTo(l))) 1 else 0)
        case (LongType, n: java.lang.Number)
            if n.isInstanceOf[java.lang.Long] ||
               n.isInstanceOf[java.lang.Integer] ||
               n.isInstanceOf[java.lang.Short] ||
               n.isInstanceOf[java.lang.Byte] =>
          val l = n.longValue()
          Some(r => if (r.isNullAt(i)) -1
            else if (p(java.lang.Long.compare(r.getLong(i), l))) 1 else 0)
        case (IntegerType, n: java.lang.Number)
            if n.isInstanceOf[java.lang.Long] ||
               n.isInstanceOf[java.lang.Integer] ||
               n.isInstanceOf[java.lang.Short] ||
               n.isInstanceOf[java.lang.Byte] =>
          val l = n.longValue()
          Some(r => if (r.isNullAt(i)) -1
            else if (p(java.lang.Long.compare(r.getInt(i).toLong, l))) 1
            else 0)
        case (DoubleType, n: java.lang.Number) =>
          val l = n.doubleValue()
          Some(r => if (r.isNullAt(i)) -1
            else if (p(ExactFilters.nanSafeCompare(r.getDouble(i), l))) 1
            else 0)
        case (FloatType, n: java.lang.Number) =>
          val l = n.doubleValue()
          Some(r => if (r.isNullAt(i)) -1
            else if (p(ExactFilters.nanSafeCompare(
              r.getFloat(i).toDouble, l))) 1 else 0)
        // integral column under a fractional literal (or any other
        // pairing the exact evaluator would box-dispatch): stay on
        // the interpreted path rather than re-derive its cases
        case _ => None
      }
    }
    def node(f: Filter): Option[Pred] = f match {
      case And(a, b) => for (l <- node(a); r <- node(b)) yield { row =>
        val x = l(row)
        if (x == 0) 0
        else { val y = r(row); if (y == 0) 0 else if (x == 1 && y == 1) 1 else -1 }
      }
      case Or(a, b) => for (l <- node(a); r <- node(b)) yield { row =>
        val x = l(row)
        if (x == 1) 1
        else { val y = r(row); if (y == 1) 1 else if (x == 0 && y == 0) 0 else -1 }
      }
      case Not(c) => node(c).map(l => { row =>
        val x = l(row); if (x == -1) -1 else if (x == 1) 0 else 1
      })
      case IsNull(c) =>
        val (i, _) = idx.getOrElse(c, return None)
        Some(r => if (r.isNullAt(i)) 1 else 0)
      case IsNotNull(c) =>
        val (i, _) = idx.getOrElse(c, return None)
        Some(r => if (r.isNullAt(i)) 0 else 1)
      case EqualTo(c, v) => cmp(c, v, _ == 0)
      case GreaterThan(c, v) => cmp(c, v, _ > 0)
      case GreaterThanOrEqual(c, v) => cmp(c, v, _ >= 0)
      case LessThan(c, v) => cmp(c, v, _ < 0)
      case LessThanOrEqual(c, v) => cmp(c, v, _ <= 0)
      case StringStartsWith(c, v) =>
        if (v == null) return Some(_ => -1)
        val (i, dt) = idx.getOrElse(c, return None)
        if (dt != StringType) return None
        val l = UTF8String.fromString(v)
        Some(r => if (r.isNullAt(i)) -1
          else if (r.getUTF8String(i).startsWith(l)) 1 else 0)
      case _ => None
    }
    val nodes = fs.map(f => node(f).getOrElse(return None))
    Some { row =>
      var i = 0
      var ok = true
      while (ok && i < nodes.length) { ok = nodes(i)(row) == 1; i += 1 }
      ok
    }
  }

  /** The envelope bounds as a parquet FilterPredicate typed from the
    * DECLARED Spark types (declared and physical agree for every
    * file graft writes: schema evolution refuses type changes).  Floor/ceil keeps integral
    * predicates a SUPERSET of the exact bound.
    */
  private[v2] def predicateFor(schema: StructType,
      bounds: Seq[(String, Double, Double)])
      : Option[org.apache.parquet.filter2.predicate.FilterPredicate] = {
    import org.apache.parquet.filter2.predicate.FilterApi
    val ps = bounds.flatMap { case (c, lo, hi) =>
      schema.fields.find(_.name == c).flatMap(_.dataType match {
        case DoubleType =>
          val col = FilterApi.doubleColumn(c)
          Some(FilterApi.and(
            FilterApi.gtEq(col, java.lang.Double.valueOf(lo)),
            FilterApi.ltEq(col, java.lang.Double.valueOf(hi))))
        case LongType =>
          val col = FilterApi.longColumn(c)
          Some(FilterApi.and(
            FilterApi.gtEq(col, java.lang.Long.valueOf(
              if (lo.isNegInfinity) Long.MinValue else math.floor(lo).toLong)),
            FilterApi.ltEq(col, java.lang.Long.valueOf(
              if (hi.isPosInfinity) Long.MaxValue else math.ceil(hi).toLong))))
        case IntegerType =>
          val col = FilterApi.intColumn(c)
          Some(FilterApi.and(
            FilterApi.gtEq(col, java.lang.Integer.valueOf(
              if (lo.isNegInfinity) Int.MinValue
              else math.max(Int.MinValue.toDouble, math.floor(lo)).toInt)),
            FilterApi.ltEq(col, java.lang.Integer.valueOf(
              if (hi.isPosInfinity) Int.MaxValue
              else math.min(Int.MaxValue.toDouble, math.ceil(hi)).toInt))))
        case FloatType =>
          val col = FilterApi.floatColumn(c)
          Some(FilterApi.and(
            FilterApi.gtEq(col, java.lang.Float.valueOf(lo.toFloat)),
            FilterApi.ltEq(col, java.lang.Float.valueOf(hi.toFloat))))
        case _ => None
      })
    }
    ps.reduceOption(FilterApi.and)
  }
}

/** Boundary-file scan of the aggregate pushdown, columnar: fold the
  * rows an inner [[VecRowReader]] surfaces (exact-filtered, doomed
  * positions skipped) into ONE partial-aggregate row.  Merge
  * semantics match Spark's aggregates and the manifest stats:
  * nan-safe MIN/MAX order, Spark-widened SUM types.
  * String extrema are CLONED on store — a batch row's UTF8String is
  * a view into a recycled column vector.
  */
private[v2] final class VecAggReader(inner: VecRowReader,
    schema: StructType, aggCols: Seq[AggCol])
    extends PartitionReader[InternalRow] {

  private val valueIdx: Map[String, (Int, DataType)] =
    schema.fields.zipWithIndex.map { case (f, i) =>
      f.name -> (i, f.dataType)
    }.toMap

  private var done = false
  private val acc: Array[Any] = aggCols.map {
    case NRows | _: NNonNull => java.lang.Long.valueOf(0L): Any
    case _ => null
  }.toArray

  private def valueOf(row: InternalRow, c: String): Any = {
    val (i, dt) = valueIdx(c)
    if (row.isNullAt(i)) null else row.get(i, dt)
  }
  private def keep(v: Any): Any = v match {
    case s: UTF8String => s.clone()
    case other => other
  }

  override def next(): Boolean = {
    if (done) return false
    while (inner.next()) {
      val row = inner.get()
      var i = 0
      while (i < aggCols.length) {
        aggCols(i) match {
          case NRows =>
            acc(i) = java.lang.Long.valueOf(
              acc(i).asInstanceOf[java.lang.Long] + 1L)
          case NNonNull(c) =>
            if (valueOf(row, c) != null)
              acc(i) = java.lang.Long.valueOf(
                acc(i).asInstanceOf[java.lang.Long] + 1L)
          case MinC(c) =>
            val v = valueOf(row, c)
            if (v != null &&
                (acc(i) == null || ExactFilters.compare(v, acc(i)) < 0))
              acc(i) = keep(v)
          case MaxC(c) =>
            val v = valueOf(row, c)
            if (v != null &&
                (acc(i) == null || ExactFilters.compare(v, acc(i)) > 0))
              acc(i) = keep(v)
          case SumC(c) =>
            val v = valueOf(row, c)
            if (v != null) acc(i) = acc(i) match {
              case null => v match {
                case x: java.lang.Integer =>
                  java.lang.Long.valueOf(x.longValue())
                case x: java.lang.Long => x
                case x: java.lang.Float =>
                  java.lang.Double.valueOf(x.doubleValue())
                case x: java.lang.Double => x
                case other => throw new IllegalStateException(
                  s"non-numeric SUM input: $other")
              }
              case a: java.lang.Long =>
                java.lang.Long.valueOf(a.longValue() + (v match {
                  case x: java.lang.Integer => x.longValue()
                  case x: java.lang.Long => x.longValue()
                  case other => throw new IllegalStateException(
                    s"sum type drift: $other")
                }))
              case a: java.lang.Double =>
                java.lang.Double.valueOf(a.doubleValue() + (v match {
                  case x: java.lang.Float => x.doubleValue()
                  case x: java.lang.Double => x.doubleValue()
                  case other => throw new IllegalStateException(
                    s"sum type drift: $other")
                }))
            }
        }
        i += 1
      }
    }
    done = true
    true
  }

  override def get(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(acc)

  override def close(): Unit = inner.close()
}

/** One data file decoded through Spark's vectorized parquet reader,
  * surfaced row-by-row (flyweight batch views — valid until the next
  * `next()`, the same lifetime Spark's own parquet row path hands
  * upstream operators).
  *
  * `batchSchema` is the parquet-side projection: the required DATA
  * fields in output order, then any filter-only columns.  Output
  * ordinals 0..required-1 therefore index the batch row directly;
  * row-address mode remaps through [[RowIdView]] to splice the
  * `_gfile`/`_gpos` metadata columns in.
  */
private[v2] final class VecRowReader(gp: GraftPartition, ser: SerConf,
    batchSchema: StructType, required: StructType, exact: Seq[Filter],
    bounds: Seq[(String, Double, Double)], posMode: Boolean,
    deleteParts: Seq[(String, String, String)])
    extends PartitionReader[InternalRow] {

  private val reader =
    VecReaders.openVectorized(gp.file, ser, batchSchema, bounds)

  /** This file's doomed row positions (merge-on-read subtraction). */
  private val doomed: java.util.HashSet[java.lang.Long] =
    if (gp.hasDeletes)
      DoomedPositions.load(gp.relFile,
        deleteParts.collect {
          case (f, lo, hi) if lo <= gp.relFile && gp.relFile <= hi => f
        }, ser)
    else new java.util.HashSet[java.lang.Long]()

  private val gate = new VecReaders.ExactGate(exact, batchSchema)
  private var row: InternalRow = _
  private var pos: Long = -1L
  private val view: SpliceView =
    if (posMode && required.fieldNames.exists(GraftSource.MetaCols.contains))
      new SpliceView(required, batchSchema, GraftSource.FileMetaCol,
        UTF8String.fromString(gp.relFile), GraftSource.PosMetaCol)
    else null

  override def next(): Boolean = {
    while (reader.nextKeyValue()) {
      pos += 1
      row = reader.getCurrentValue.asInstanceOf[InternalRow]
      if ((doomed.isEmpty || !doomed.contains(pos)) && gate.pass(row))
        return true
    }
    false
  }

  override def get(): InternalRow =
    if (view != null) { view.set(row, pos); view } else row

  override def close(): Unit = reader.close()
}

/** Zero-copy view splicing one constant STRING column and one
  * per-row LONG column into a batch row: output ordinal → the batch
  * ordinal that backs it, or the spliced values.  Serves row-address
  * mode (`_gfile`/`_gpos`) and the changelog arms
  * (`_change_type`/`_change_epoch`).
  */
private[v2] final class SpliceView(required: StructType,
    batchSchema: StructType, strName: String, rel: UTF8String,
    longName: String) extends InternalRow {
  private val FILE = -1
  private val POS = -2
  private val map: Array[Int] = required.fields.map { f =>
    f.name match {
      case n if n == strName => FILE
      case n if n == longName => POS
      case n => batchSchema.fieldIndex(n)
    }
  }
  private var base: InternalRow = _
  private var pos: Long = _
  def set(b: InternalRow, p: Long): Unit = { base = b; pos = p }

  override def numFields: Int = map.length
  override def isNullAt(i: Int): Boolean =
    map(i) >= 0 && base.isNullAt(map(i))
  override def getBoolean(i: Int): Boolean = base.getBoolean(map(i))
  override def getByte(i: Int): Byte = base.getByte(map(i))
  override def getShort(i: Int): Short = base.getShort(map(i))
  override def getInt(i: Int): Int = base.getInt(map(i))
  override def getLong(i: Int): Long =
    if (map(i) == POS) pos else base.getLong(map(i))
  override def getFloat(i: Int): Float = base.getFloat(map(i))
  override def getDouble(i: Int): Double = base.getDouble(map(i))
  override def getDecimal(i: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal =
    base.getDecimal(map(i), precision, scale)
  override def getUTF8String(i: Int): UTF8String =
    if (map(i) == FILE) rel else base.getUTF8String(map(i))
  override def getBinary(i: Int): Array[Byte] = base.getBinary(map(i))
  override def getInterval(i: Int)
      : org.apache.spark.unsafe.types.CalendarInterval =
    base.getInterval(map(i))
  override def getGeography(i: Int)
      : org.apache.spark.unsafe.types.GeographyVal =
    base.getGeography(map(i))
  override def getGeometry(i: Int)
      : org.apache.spark.unsafe.types.GeometryVal =
    base.getGeometry(map(i))
  override def getVariant(i: Int)
      : org.apache.spark.unsafe.types.VariantVal =
    base.getVariant(map(i))
  override def getStruct(i: Int, numFields: Int): InternalRow =
    base.getStruct(map(i), numFields)
  override def getArray(i: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    base.getArray(map(i))
  override def getMap(i: Int): org.apache.spark.sql.catalyst.util.MapData =
    base.getMap(map(i))
  override def get(i: Int, dt: DataType): AnyRef = map(i) match {
    case FILE => rel
    case POS => java.lang.Long.valueOf(pos)
    case j => base.get(j, dt)
  }
  override def setNullAt(i: Int): Unit =
    throw new UnsupportedOperationException("read-only row view")
  override def update(i: Int, v: Any): Unit =
    throw new UnsupportedOperationException("read-only row view")
  override def copy(): InternalRow = {
    val vals = new Array[Any](map.length)
    var i = 0
    while (i < map.length) {
      vals(i) =
        if (isNullAt(i)) null
        else get(i, required.fields(i).dataType)
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
  }
}
