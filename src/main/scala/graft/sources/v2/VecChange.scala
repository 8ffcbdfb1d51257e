package graft.sources.v2

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Columnar decode for the CDC changelog read: the insert arm is a
  * bounded file read whose rows additionally carry ("insert", commit
  * epoch); the delete arm re-opens a doomed file and emits ONLY the
  * positions its batch's tombstone parts name, tagged ("delete",
  * that tombstone's commit epoch).  Positions are physical (no
  * predicate on the delete arm); pushed exact filters apply to both
  * arms (a filtered CDC stream retracts only what it would have
  * delivered).  `batchSchema` is the parquet-side projection: the
  * read fields minus the synthesized change columns.
  */
private[v2] final class VecChangeInsertReader(file: String, ser: SerConf,
    batchSchema: StructType, required: StructType, exact: Seq[Filter],
    bounds: Seq[(String, Double, Double)], epoch: Long)
    extends PartitionReader[InternalRow] {
  private val reader =
    VecReaders.openVectorized(file, ser, batchSchema, bounds)
  private val gate = new VecReaders.ExactGate(exact, batchSchema)
  private val view = new SpliceView(required, batchSchema,
    GraftSource.ChangeTypeCol, UTF8String.fromString("insert"),
    GraftSource.ChangeEpochCol)
  private var row: InternalRow = _

  override def next(): Boolean = {
    while (reader.nextKeyValue()) {
      row = reader.getCurrentValue.asInstanceOf[InternalRow]
      if (gate.pass(row)) return true
    }
    false
  }
  override def get(): InternalRow = { view.set(row, epoch); view }
  override def close(): Unit = reader.close()
}

private[v2] final class VecChangeDeleteReader(relFile: String,
    file: String, ser: SerConf, batchSchema: StructType,
    required: StructType, exact: Seq[Filter],
    deleteParts: Seq[(String, Long)])
    extends PartitionReader[InternalRow] {
  // positions are physical row indexes: no predicate may skip a row
  // group, so none is pushed (bounds empty)
  private val reader =
    VecReaders.openVectorized(file, ser, batchSchema, Seq.empty)
  private val gate = new VecReaders.ExactGate(exact, batchSchema)
  private val view = new SpliceView(required, batchSchema,
    GraftSource.ChangeTypeCol, UTF8String.fromString("delete"),
    GraftSource.ChangeEpochCol)

  /** pos → delete epoch for THIS file (ascending epoch order: were a
    * position ever doomed twice, the later commit wins).
    */
  private val doomed: java.util.HashMap[java.lang.Long, java.lang.Long] = {
    val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    deleteParts.foreach { case (pf, ep) =>
      DoomedPositions.load(relFile, Seq(pf), ser)
        .forEach(pos => m.put(pos, ep))
    }
    m
  }

  private var row: InternalRow = _
  private var pos: Long = -1L

  override def next(): Boolean = {
    while (reader.nextKeyValue()) {
      pos += 1
      row = reader.getCurrentValue.asInstanceOf[InternalRow]
      if (doomed.containsKey(pos) && gate.pass(row)) return true
    }
    false
  }
  override def get(): InternalRow = {
    view.set(row, doomed.get(pos).longValue()); view
  }
  override def close(): Unit = reader.close()
}
