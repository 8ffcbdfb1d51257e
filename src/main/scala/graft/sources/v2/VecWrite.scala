package graft.sources.v2

import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** InternalRow-native parquet staging writer — the write mirror of
  * the columnar read path.  The delta writers and the streaming sink
  * staged rows through parquet-mr's `Group` API: one boxed heap
  * object per row, per-field adds by NAME (a string lookup per
  * value).  Spark's own [[org.apache.spark.sql.execution.datasources
  * .parquet.ParquetWriteSupport]] consumes `InternalRow` directly —
  * values stream from the row's primitive accessors into parquet's
  * column buffers with no intermediate record.  Output is standard
  * annotated parquet, byte-compatible with every graft reader
  * (optional fields per nullability, BINARY(UTF8) strings — what the
  * Group writer produced).
  */
private[v2] object VecWrite {
  import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport

  private final class Builder(out: org.apache.parquet.io.OutputFile)
      extends ParquetWriter.Builder[InternalRow, Builder](out) {
    override def self(): Builder = this
    override def getWriteSupport(conf: org.apache.hadoop.conf.Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }

  /** Open `file` for InternalRow rows of `schema`.  The SQL-conf
    * keys ParquetWriteSupport.init reads are spelled out (Spark's
    * own write exec injects them the same way); rebase CORRECTED —
    * graft layouts carry no date/timestamp columns.
    */
  def open(file: String, ser: SerConf, schema: StructType)
      : ParquetWriter[InternalRow] = {
    ser.conf.size() // materialize once (see SerConf)
    val conf = new org.apache.hadoop.conf.Configuration(ser.conf)
    ParquetWriteSupport.setSchema(schema, conf)
    conf.setBoolean("spark.sql.parquet.writeLegacyFormat", false)
    conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    conf.set("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
    conf.set("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
    conf.setBoolean("spark.sql.parquet.fieldId.write.enabled", false)
    conf.setBoolean(
      "spark.sql.parquet.variant.annotateLogicalType.enabled", false)
    conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
    new Builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), conf))
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
  }
}

/** Reusable ordinal-projection view: exposes a subset of a base
  * row's fields in a fixed order (the insert arm's data fields out
  * of a row that may interleave metadata columns).  Values are read
  * straight off the base row during the synchronous `write(row)` —
  * never retained — so a view over a transient row is safe.
  */
private[v2] final class OrdinalMapRow(map: Array[Int]) extends InternalRow {
  private var base: InternalRow = _
  def set(b: InternalRow): InternalRow = { base = b; this }

  override def numFields: Int = map.length
  override def isNullAt(i: Int): Boolean = base.isNullAt(map(i))
  override def getBoolean(i: Int): Boolean = base.getBoolean(map(i))
  override def getByte(i: Int): Byte = base.getByte(map(i))
  override def getShort(i: Int): Short = base.getShort(map(i))
  override def getInt(i: Int): Int = base.getInt(map(i))
  override def getLong(i: Int): Long = base.getLong(map(i))
  override def getFloat(i: Int): Float = base.getFloat(map(i))
  override def getDouble(i: Int): Double = base.getDouble(map(i))
  override def getDecimal(i: Int, p: Int, s: Int)
      : org.apache.spark.sql.types.Decimal = base.getDecimal(map(i), p, s)
  override def getUTF8String(i: Int)
      : org.apache.spark.unsafe.types.UTF8String =
    base.getUTF8String(map(i))
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
      : org.apache.spark.unsafe.types.VariantVal = base.getVariant(map(i))
  override def getStruct(i: Int, n: Int): InternalRow =
    base.getStruct(map(i), n)
  override def getArray(i: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    base.getArray(map(i))
  override def getMap(i: Int): org.apache.spark.sql.catalyst.util.MapData =
    base.getMap(map(i))
  override def get(i: Int, dt: DataType): AnyRef = base.get(map(i), dt)
  override def setNullAt(i: Int): Unit =
    throw new UnsupportedOperationException("read-only row view")
  override def update(i: Int, v: Any): Unit =
    throw new UnsupportedOperationException("read-only row view")
  override def copy(): InternalRow =
    throw new UnsupportedOperationException(
      "staging view is consumed synchronously, never copied")
}
