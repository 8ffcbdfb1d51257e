package graft.sources.v2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import graft.sources.GeoParquet

/** Streaming read of a graft layout —
  * `spark.readStream.format("graft").load(path)` — as a DSv2
  * micro-batch source over the manifest's commit-epoch changelog:
  * offsets are layout epochs, and each micro-batch reads exactly the
  * files committed in `(fromEpoch, toEpoch]` (the batch twin is
  * [[GeoParquet.readChangesSince]]; this wraps the same axis in
  * Structured Streaming's offset/commit protocol, so a consumer gets
  * checkpointed exactly-once delivery instead of hand-rolled
  * foreachBatch polling).
  *
  * Semantics — two modes:
  *   - DEFAULT: the APPEND changelog.  Rows are delivered as
  *     committed; merge-on-read deletes are never retracted (an
  *     epoch-stamped delete is an empty micro-batch), the standard
  *     CDC append-stream contract (Iceberg's streaming read skips
  *     delete manifests the same way).  Consumers needing the merged
  *     present read the batch face.
  *   - `.option("changelog", "true")`: the FULL CDC view.  Every row
  *     carries `_change_type` ("insert"/"delete") and `_change_epoch`
  *     (its commit epoch); a delete commit delivers the DELETED ROWS'
  *     content tagged "delete" ([[planChanges]]).  A consumer folds a
  *     batch by applying epochs in order, deletes before inserts
  *     within an epoch — an UPDATE is its old copy's delete plus its
  *     new copy's insert at one epoch, so the fold nets to the
  *     update.  Pushed filters apply to delete rows too (a filtered
  *     CDC stream retracts only rows it would have delivered).
  *
  * Scale + soundness contract (the refusal rules of the batch
  * changelog, recast as stream-position errors):
  *   - planning touches the manifest sidecar only: one epoch-range
  *     filter per micro-batch, file names to the driver, one input
  *     partition per committed file — a 100 TB layout streams at
  *     manifest cost, never a listing;
  *   - a STALE manifest stalls the stream at the described prefix
  *     (an unmanifested append has no epoch, so no sound batch exists
  *     until `writeManifest` — whose non-preserving floor reset then
  *     fails stragglers loudly rather than skipping the healed rows);
  *   - offsets carry the [[GeoParquet.changelogFloor]] era they were
  *     minted in.  A history reset (rebuild/compaction re-stamps
  *     every row) changes the floor: a checkpointed consumer FAST-
  *     FORWARDS across it iff the reset was preserving and it had
  *     consumed through the retired era's last data epoch — otherwise
  *     it fails with a restart instruction instead of silently
  *     re-delivering (or skipping) the re-stamped corpus.
  *
  * Pushed filters ride the stream: exact filters evaluate in the
  * record readers, their bounds prune each batch's files through the
  * manifest envelope — a filtered stream of a wide layout opens only
  * the files that can match, per batch.
  */
final class GraftMicroBatchStream(path: String, dataSchema: StructType,
                                  required: StructType, exact: Seq[Filter],
                                  bounds: Seq[(String, Double, Double)],
                                  changelog: Boolean = false,
                                  trigger: TriggerLimits = TriggerLimits.none)
    extends MicroBatchStream with SupportsAdmissionControl {

  private def spark = SparkSession.active

  override def initialOffset(): Offset = {
    val st = GeoParquet.changelogFloor(spark, path)
    // floor - 1: the first batch delivers the floor era's standing
    // corpus (rows re-stamped at the floor ARE the initial state)
    GraftStreamOffset(st.floor, st.floor - 1)
  }

  /** The highest SOUND position: every epoch ≤ the manifest's
    * described prefix (`_manifest_epoch`) has its rows fully in the
    * sidecar.  A mid-commit append — or a degraded one that landed
    * without stats — keeps `_epoch` ahead of it; the stream simply
    * does not advance past the described prefix (never a spurious
    * failure on a healthy commit's tiny stale window).  A degraded
    * batch therefore STALLS the stream until `writeManifest`, whose
    * rebuild resets the changelog floor NON-preserving — which the
    * next poll turns into the loud restart error, exactly when the
    * un-describable rows join the corpus.
    */
  override def latestOffset(): Offset = retryAcrossCoalesce {
    val st = GeoParquet.changelogFloor(spark, path)
    GeoParquet.describedEpoch(spark, path) match {
      case Some(e) => GraftStreamOffset(st.floor, math.max(e, st.floor - 1))
      case None => GraftStreamOffset(st.floor, st.floor - 1) // no manifest yet
    }
  }

  /** The manifest coalesce (auto-gated from inside appends since
    * 61z30/r16) swaps `_manifest` via two renames; a lock-free poll
    * landing INSIDE that millisecond window sees the directory — or a
    * just-retired part file — missing and would otherwise kill the
    * stream with a restart error, even though the swapped-in sidecar
    * holds IDENTICAL rows (so every handed-out offset stays valid).
    * Retry transient missing-file failures briefly; anything else —
    * and anything persistent — still fails loudly.
    */
  private def retryAcrossCoalesce[T](body: => T): T = {
    var attempts = 0
    while (true) {
      try return body
      catch {
        case e: Throwable if attempts < 20 && transientManifestMiss(e) =>
          attempts += 1
          Thread.sleep(100)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def transientManifestMiss(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(12).exists {
      t =>
        t.isInstanceOf[java.io.FileNotFoundException] || {
          val m = String.valueOf(t.getMessage)
          m.contains("PATH_NOT_FOUND") || m.contains("does not exist") ||
            m.contains("FileNotFoundException")
        }
    }

  /** Admission control (`.option("maxFilesPerTrigger", n)` /
    * `.option("maxRowsPerTrigger", n)`): bound each micro-batch by
    * capping its END epoch.  Without this, the FIRST batch of a fresh
    * stream over a 100 TB layout is the entire standing corpus in one
    * micro-batch — the admission walk instead admits whole commit
    * epochs (the atomic changelog unit) until the file/row budget is
    * spent, from ONE metadata-scale manifest aggregation (per-epoch
    * file counts / row sums).  At least one epoch is always admitted
    * (an over-budget single commit must not stall the stream — the
    * file-source contract), and trailing epochs with no manifest rows
    * (delete-only commits) ride with the last admitted one.
    */
  override def getDefaultReadLimit: ReadLimit =
    trigger.maxFiles.map(ReadLimit.maxFiles)
      .orElse(trigger.maxRows.map(ReadLimit.maxRows))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset,
                            limit: ReadLimit): Offset = retryAcrossCoalesce {
    val st = GeoParquet.changelogFloor(spark, path)
    val unbounded = latestOffset().asInstanceOf[GraftStreamOffset]
    val from = reconcile(start.asInstanceOf[GraftStreamOffset], st)
    if (unbounded.epoch <= from) return unbounded
    val end = limit match {
      case rl: ReadMaxFiles =>
        admit(from, unbounded.epoch, rl.maxFiles.toLong, rows = false)
      case rl: ReadMaxRows =>
        admit(from, unbounded.epoch, rl.maxRows, rows = true)
      case _ => unbounded.epoch
    }
    GraftStreamOffset(st.floor, end)
  }

  override def reportLatestOffset(): Offset = latestOffset()

  /** Largest end epoch in `(from, to]` whose cumulative weight (file
    * count or row sum, from the manifest) fits `budget` — always at
    * least the first file-bearing epoch, and always extended through
    * file-less trailing epochs.
    */
  private def admit(from: Long, to: Long, budget: Long,
                    rows: Boolean): Long = {
    // filter+select fold driver-side on the cached manifest (zero
    // jobs per poll); the per-epoch rollup is a scalar pass here
    val per = GeoParquet.manifestDf(spark, path)
      .filter(col("epoch") > from && col("epoch") <= to)
      .select(col("epoch"),
        (if (rows) col("n_rows") else org.apache.spark.sql.functions.lit(1L))
          .cast("long").as("w"))
      .collect()
      .groupBy(_.getLong(0)).view
      .map { case (e, rs) => (e, rs.iterator.map(_.getLong(1)).sum) }
      .toArray.sortBy(_._1)
    var acc = 0L
    var end = from
    var next = -1L // first unadmitted file-bearing epoch
    per.foreach { case (e, w) =>
      if (next < 0) {
        if (end == from || acc + w <= budget) { acc += w; end = e }
        else next = e
      }
    }
    if (next < 0) to else next - 1
  }

  /** Map an offset minted in a (possibly retired) floor era onto the
    * current era, or refuse — see the class note.
    */
  private def reconcile(o: GraftStreamOffset,
                        st: GeoParquet.ChangelogFloor): Long =
    if (o.floor == st.floor) o.epoch
    else if (o.floor == st.prevFloor && st.preserved && o.epoch >= st.prevMax)
      st.floor // caught up through the retired era: everything re-stamped at the floor was already delivered
    else throw new IllegalStateException(
      s"graft:$path changelog history was rewritten (offset era " +
        s"${o.floor}@${o.epoch} vs floor ${st.floor}" +
        (if (st.preserved) s", caught-up threshold ${st.prevMax}" else
          ", non-preserving reset") +
        ") — this stream cannot resume exactly-once; restart it from a " +
        "fresh checkpoint")

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = retryAcrossCoalesce {
    val st = GeoParquet.changelogFloor(spark, path)
    val from = reconcile(start.asInstanceOf[GraftStreamOffset], st)
    val to = reconcile(end.asInstanceOf[GraftStreamOffset], st)
    if (to <= from) return Array.empty
    // defensive: `to` always came from a latestOffset bounded by the
    // described prefix, and that prefix only moves forward
    require(GeoParquet.describedEpoch(spark, path).exists(_ >= to),
      s"graft:$path manifest regressed below a handed-out stream offset")
    val m = GeoParquet.manifestDf(spark, path)
    val committed = m.filter(col("epoch") > from && col("epoch") <= to &&
        GeoParquet.manifestBoundsCond(m, bounds))
    if (!changelog)
      // pack per-file partitions exactly as the batch scan does
      // (GraftScan.packPartitions): a micro-batch over a many-small-
      // file commit range otherwise pays one task PER FILE — the r18
      // stream probe measured 279 tasks for a 3-commit sf0.1 layout.
      // The shared GraftReaderFactory already drains packed slices.
      GraftScan.packPartitions(spark,
        committed.select("file").collect()
          .map(r => GraftPartition(s"$path/${r.getString(0)}")).toSeq)
    else
      planChanges(committed, from, to)
  }

  private def planChanges(committed: org.apache.spark.sql.DataFrame,
                          from: Long, to: Long): Array[InputPartition] =
    GraftChanges.plan(spark, path, committed, from, to, bounds)

  override def createReaderFactory(): PartitionReaderFactory =
    if (changelog)
      new GraftChangeReaderFactory(
        new SerConf(spark.sparkContext.hadoopConfiguration),
        dataSchema.json, required.json, exact, bounds)
    else
      new GraftReaderFactory(
        new SerConf(spark.sparkContext.hadoopConfiguration),
        dataSchema.json, required.json, exact, bounds)

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset.parse(json)

  override def commit(end: Offset): Unit = () // nothing to reclaim
  override def stop(): Unit = ()
}

/** A stream position: the changelog-floor era it was minted in plus
  * the last consumed commit epoch.  Carrying the era is what turns a
  * history reset into a DETECTABLE event instead of a silent
  * re-delivery.
  */
final case class GraftStreamOffset(floor: Long, epoch: Long) extends Offset {
  override def json(): String = s"""{"floor":$floor,"epoch":$epoch}"""
}

object GraftStreamOffset {
  private val Re = """\s*\{\s*"floor"\s*:\s*(-?\d+)\s*,\s*"epoch"\s*:\s*(-?\d+)\s*\}\s*""".r
  def parse(json: String): GraftStreamOffset = json match {
    case Re(f, e) => GraftStreamOffset(f.toLong, e.toLong)
    case other => throw new IllegalArgumentException(
      s"not a graft stream offset: $other")
  }
}

/** Changelog planning shared by the micro-batch stream and the batch
  * changelog read: the range's INSERT partitions are the files
  * committed in `(from, to]` (each row tagged with its file's commit
  * epoch), and its DELETE partitions are the data files doomed by
  * positional-tombstone parts committed in the range — each such file
  * is re-opened and ONLY its doomed positions are emitted, tagged
  * "delete" with the tombstone's commit epoch (the Iceberg
  * changelog-scan shape).  Driver cost stays metadata-scale: file
  * names from the manifest, distinct doomed file names from the
  * kilobyte-scale tombstone parts; the (file, pos) sets stay
  * task-side ([[DoomedPositions]]).  Refusals, all loud: equality
  * (key) tombstones have no position to replay; un-epoched parts
  * (crash-healed adoptions) have no place on the axis; parts older
  * than the changelog floor describe deletes of rows whose
  * insert-epochs were re-stamped PAST them (a fold would resurrect
  * the dead) — compact first, which makes them physical.
  */
private[v2] object GraftChanges {
  def plan(spark: SparkSession, path: String,
           committed: org.apache.spark.sql.DataFrame,
           from: Long, to: Long,
           bounds: Seq[(String, Double, Double)] = Seq.empty)
      : Array[InputPartition] = {
    val st = GeoParquet.changelogFloor(spark, path)
    require(GeoParquet.pendingTombstones(spark, path).isEmpty,
      s"graft:$path has pending equality (key) tombstones — a changelog " +
        "read cannot replay key deletes as rows; run a compaction first")
    val allParts = GeoParquet.positionalDeletePartsEpoch(spark, path)
    require(allParts.forall(_._4.isDefined),
      s"graft:$path has pending merge-on-read deletes without a " +
        "recorded commit epoch (crash-healed) — a changelog read " +
        "cannot place them; run a compaction first")
    require(allParts.forall(_._4.exists(_ >= st.floor)),
      s"graft:$path has pending deletes committed before the changelog " +
        s"floor ${st.floor} (a scoped history reset left them behind) — " +
        "their rows' insert epochs were re-stamped past them, so a fold " +
        "would resurrect deleted rows; run a compaction first")
    // packed like the batch scan (GraftScan.packBy): one task per
    // TINY FILE otherwise — a changelog read over a many-small-file
    // commit range is the same small-file task storm the batch scan
    // already packs away.  Slices keep their own commit epoch.
    val inserts = GraftScan.packBy[GraftChangePartition](spark,
      committed.select("file", "epoch").collect().map { r =>
        GraftChangePartition(s"$path/${r.getString(0)}", r.getString(0),
          r.getLong(1), isDelete = false, Seq.empty)
      }.toSeq,
      _.file, sl => GraftChangeMultiPartition(sl.toArray))
    val delParts = allParts.filter(_._4.exists(e => e > from && e <= to))
    val deletes: Array[InputPartition] =
      if (delParts.isEmpty) Array.empty
      else {
        // a pushed-filter read retracts only rows it would have
        // delivered, so a doomed file whose manifest envelope cannot
        // intersect the bounds is never re-opened (same file pruning
        // the insert arm gets from `committed`)
        val inBounds: String => Boolean =
          if (bounds.isEmpty) _ => true
          else {
            val m = GeoParquet.manifestDf(spark, path)
            m.filter(GeoParquet.manifestBoundsCond(m, bounds))
              .select("file").collect().map(_.getString(0)).toSet
          }
        GeoParquet.metaParquet(spark, delParts.map(_._1))
          .select("file").collect().map(_.getString(0)).distinct
          .filter(inBounds)
          .map { rel =>
            val parts = delParts.collect {
              case (f, lo, hi, Some(e)) if lo <= rel && rel <= hi => (f, e)
            }.sortBy(_._2) // ascending: a later re-doom (impossible today) wins
            GraftChangePartition(s"$path/$rel", rel, -1L,
              isDelete = true, parts): InputPartition
          }
      }
    inserts ++ deletes
  }
}

/** One changelog-mode work unit: a data file delivered either as the
  * inserts of its commit epoch, or as the doomed rows named by the
  * given tombstone parts (`(part path, delete epoch)` — only the
  * parts whose `file` footer interval can contain this file).
  */
final case class GraftChangePartition(file: String, relFile: String,
                                      epoch: Long, isDelete: Boolean,
                                      deleteParts: Seq[(String, Long)])
    extends InputPartition

/** Several packed changelog slices read sequentially by one task —
  * the [[GraftScan.packBy]] product for the insert arm (each slice
  * keeps its own commit epoch).
  */
final case class GraftChangeMultiPartition(
    slices: Array[GraftChangePartition]) extends InputPartition

private[v2] final class GraftChangeReaderFactory(
    conf: SerConf, dataJson: String, requiredJson: String,
    exact: Seq[Filter], bounds: Seq[(String, Double, Double)])
    extends PartitionReaderFactory {
  import org.apache.spark.sql.types.DataType
  override def createReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] = {
    p match {
      case mp: GraftChangeMultiPartition =>
        // one task drains its packed slices in order (the
        // GraftReaderFactory multi-partition idiom)
        return new org.apache.spark.sql.connector.read.PartitionReader[
            org.apache.spark.sql.catalyst.InternalRow] {
          private val it = mp.slices.iterator
          private var cur: org.apache.spark.sql.connector.read.PartitionReader[
            org.apache.spark.sql.catalyst.InternalRow] = null
          @scala.annotation.tailrec
          override def next(): Boolean = {
            if (cur == null) {
              if (!it.hasNext) return false
              cur = createReader(it.next())
            }
            if (cur.next()) true
            else { cur.close(); cur = null; next() }
          }
          override def get(): org.apache.spark.sql.catalyst.InternalRow =
            cur.get()
          override def close(): Unit = if (cur != null) cur.close()
        }
      case _ => ()
    }
    val cp = p.asInstanceOf[GraftChangePartition]
    val dataSchema = DataType.fromJson(dataJson).asInstanceOf[StructType]
    val required = DataType.fromJson(requiredJson).asInstanceOf[StructType]
    val batchSchema = StructType(
      VecReaders.readFieldsFor(dataSchema, required, exact)
        .filterNot(f => GraftSource.ChangeCols.contains(f.name)))
    if (cp.isDelete)
      new VecChangeDeleteReader(cp.relFile, cp.file, conf, batchSchema,
        required, exact, cp.deleteParts)
    else
      new VecChangeInsertReader(cp.file, conf, batchSchema, required,
        exact, bounds, cp.epoch)
  }
}
