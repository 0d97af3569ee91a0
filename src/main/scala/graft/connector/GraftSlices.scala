package graft.connector

import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.types.DataType
import org.apache.spark.sql.vectorized.{ColumnarArray, ColumnarMap, ColumnVector}

/** One contiguous unit of scan work: a byte range of one data file
  * plus the row-level mask and synthesized-constant context its
  * reader needs.
  *
  *  - `start`/`length` delimit the range; parquet's split contract
  *    assigns a row group to the range containing its midpoint, so
  *    ranges tile a file without overlap or loss (how Spark's own
  *    file scan splits large files).
  *  - `dvRows` are FILE row indexes (sorted): in the default mode the
  *    reader SKIPS them (deletion-vector merge-on-read); with
  *    `keepOnly = true` it emits ONLY them (change-data-feed delete
  *    mining — the rows a DV commit masked). Files carrying either
  *    are never byte-split: the mask addresses file row order, which
  *    a sub-range renumbers.
  *  - `partValues` become typed per-slice constants for schema
  *    columns not present in the file payload — hive partition
  *    values, and the CDF's `_change_type`/`_commit_version`. */
case class GraftSlice(path: String, start: Long, length: Long,
    dvRows: Array[Long],
    partValues: Seq[(String, Option[String])] = Seq.empty,
    keepOnly: Boolean = false)

/** Marker for scan tasks whose work is a set of slices — the readers
  * dispatch on this, so new partition shapes (keyed, packed) share
  * one reader implementation. */
trait GraftSlicesHolder { def slices: Seq[GraftSlice] }

/** One scan task: a bin-packed set of slices (Spark's
  * smalls-coalesced / bigs-split file partition model). */
case class GraftFilesPartition(slices: Seq[GraftSlice])
  extends InputPartition with GraftSlicesHolder

/** STORAGE-PARTITIONED-JOIN task: every slice of ONE partition key,
  * tagged with the key row ([[HasPartitionKey]]) — what lets Spark
  * group two co-partitioned graft tables' scans by key and plan their
  * equi-join with ZERO exchange (`spark.sql.sources.v2.bucketing
  * .enabled`). */
case class GraftKeyedPartition(slices: Seq[GraftSlice],
    key: org.apache.spark.sql.catalyst.InternalRow)
  extends org.apache.spark.sql.connector.read.HasPartitionKey
  with GraftSlicesHolder {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
}

/** Sizes scan tasks the way Spark's own file source does, so task
  * count tracks BYTES, not file count — at 100 TB the difference
  * between "one task per 2 KB manifest-chain file" and a right-sized
  * stage:
  *
  *  - files larger than `maxSplitBytes` split into byte ranges (row
  *    groups resolve by midpoint inside the reader);
  *  - small files bin-pack first-fit up to `maxSplitBytes`, each
  *    padded by `openCostInBytes` (a floor on scheduling granularity
  *    so a thousand tiny files don't collapse into one straggler
  *    task);
  *  - `maxSplitBytes` itself follows Spark's formula
  *    min(maxPartitionBytes, max(openCost, totalBytes/parallelism)) —
  *    small tables still fan out across the cluster.
  *
  * DV-masked / keepOnly slices never byte-split (file-relative row
  * addressing) but still pack with their neighbors. */
object GraftSlicePlanner {
  /** `ranges` = row-group-pruned byte windows (start, length) that
    * survived stats elimination INSIDE the file — when present, only
    * those windows are scheduled (parquet's midpoint rule resolves the
    * exact row groups). `Some(Nil)` means every group was eliminated:
    * the file plans NO work at all (possible even after file-level
    * skipping — a range predicate can fall in the gap between two
    * groups' bounds while overlapping the file's union bounds).
    * `groupStarts` = the byte offsets of the file's row groups as its
    * `_STATS` entry records them, ascending: `Some(Nil)` for a
    * single-group file (no `g:` lines), `None` when the file has no
    * entry. */
  case class FileInput(path: String, bytes: Long, dvRows: Array[Long],
      partValues: Seq[(String, Option[String])] = Seq.empty,
      keepOnly: Boolean = false,
      ranges: Option[Seq[(Long, Long)]] = None,
      groupStarts: Option[Seq[Long]] = None)

  /** Tile `[start, start + length)` into windows of at most `maxSplit`
    * bytes. Without row-group knowledge the cuts fall every `maxSplit`
    * bytes. With it they fall only at group starts, and a window holds
    * at least one group: a cut inside a group makes a window that holds
    * no group's midpoint, a task that reads nothing. */
  private def tile(start: Long, length: Long, groupStarts: Option[Seq[Long]],
      maxSplit: Long): Seq[(Long, Long)] = groupStarts match {
    case None =>
      if (length <= maxSplit) Seq(start -> length)
      else (0L until length by maxSplit).map(off =>
        (start + off, math.min(maxSplit, length - off)))
    case Some(starts) =>
      val end = start + length
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var from = start
      var last = start
      // the first group start is no seam: only the magic precedes it
      (starts.drop(1).filter(g => g > start && g < end) :+ end).foreach { seam =>
        if (seam - from > maxSplit && last > from) {
          out += (from -> (last - from))
          from = last
        }
        last = seam
      }
      out += (from -> (end - from))
      out.toSeq
  }

  def plan(files: Seq[FileInput], maxPartitionBytes: Long,
      openCostInBytes: Long, minPartitions: Int,
      splitAllowed: Boolean = true): Array[InputPartition] = {
    if (files.isEmpty) return Array.empty
    val totalBytes = files.map(f => f.bytes + openCostInBytes).sum
    val bytesPerCore = totalBytes / math.max(1, minPartitions)
    val maxSplit = math.min(maxPartitionBytes,
      math.max(openCostInBytes, bytesPerCore))
    val slices: Seq[GraftSlice] = files.flatMap { f =>
      // bytes <= 0 = size UNKNOWN (a planner metadata miss): schedule
      // the WHOLE file (range end Long.MaxValue covers every row-group
      // midpoint) — a (0,1) range would contain no midpoint and
      // silently decode zero rows
      val unknown = f.bytes <= 0L
      // sub-file ranges (row-group pruning or byte splits) are only
      // sound when the mask/row-id address space is not in play: DV'd,
      // keepOnly and row-id scans read whole files (file-relative row
      // numbering)
      val subRangeable = splitAllowed && f.dvRows.isEmpty && !f.keepOnly &&
        !unknown
      def windows(start: Long, length: Long) =
        tile(start, length, f.groupStarts, maxSplit).map { case (st, ln) =>
          GraftSlice(f.path, st, ln, Array.empty[Long], f.partValues)
        }
      f.ranges match {
        case Some(rs) if subRangeable =>
          // pre-pruned row-group windows; windows longer than the
          // split target still split, at group starts where recorded
          rs.flatMap { case (st, ln) => windows(st, ln) }
        case _ =>
          if (!(subRangeable && f.bytes > maxSplit))
            Seq(GraftSlice(f.path, 0L,
              if (unknown) Long.MaxValue else f.bytes, f.dvRows,
              f.partValues, f.keepOnly))
          else windows(0L, f.bytes)
      }
    }
    // descending first-fit: big slices claim bins first, smalls fill
    // the gaps (Spark sorts the same way before packing)
    val ordered = slices.sortBy(-_.length)
    val bins = scala.collection.mutable.ArrayBuffer
      .empty[(scala.collection.mutable.ArrayBuffer[GraftSlice], Long)]
    ordered.foreach { s =>
      val sz = // unknown-size whole-file slices fill a bin alone
        if (s.length >= Long.MaxValue - openCostInBytes) Long.MaxValue
        else s.length + openCostInBytes
      // a bin holding an unknown-size slice is SEALED (used ==
      // MaxValue), and an unknown-size slice never joins an existing
      // bin — guarding both sides keeps `used + sz` from overflowing
      // negative, which would make the fullest bin look infinitely
      // roomy and collapse the whole scan into one task
      bins.indexWhere { case (_, used) =>
        used != Long.MaxValue && sz != Long.MaxValue &&
          used + sz <= maxSplit + openCostInBytes
      } match {
        case -1 => bins += ((scala.collection.mutable.ArrayBuffer(s), sz))
        case i  => val (buf, used) = bins(i); buf += s; bins(i) = (buf, used + sz)
      }
    }
    bins.map { case (buf, _) =>
      GraftFilesPartition(buf.sortBy(s => (s.path, s.start)).toSeq)
        : InputPartition
    }.toArray
  }
}

/** Zero-copy deletion-vector masking for ColumnarBatch reads: wraps a
  * decoded vector with a survivor→physical row map, so a DV'd file
  * keeps the VECTORIZED decode path (the whole point of the columnar
  * connector) and pays one int indirection per access ONLY on batches
  * that actually contain masked rows — clean batches pass through
  * unwrapped. Nested types come free: `getChild` wraps the child with
  * the same map (struct fields address parent row ids), while
  * `getArray`/`getMap` delegate to the base vector's offsets (array
  * elements are not row-indexed). */
final class MaskedColumnVector(base: ColumnVector, map: Array[Int])
    extends ColumnVector(base.dataType()) {
  // the underlying vectors belong to the parquet reader's batch; the
  // wrapper owns nothing
  override def close(): Unit = ()
  override def hasNull: Boolean = base.hasNull
  override def numNulls: Int = base.numNulls // upper bound (hint only)
  override def isNullAt(i: Int): Boolean = base.isNullAt(map(i))
  override def getBoolean(i: Int): Boolean = base.getBoolean(map(i))
  override def getByte(i: Int): Byte = base.getByte(map(i))
  override def getShort(i: Int): Short = base.getShort(map(i))
  override def getInt(i: Int): Int = base.getInt(map(i))
  override def getLong(i: Int): Long = base.getLong(map(i))
  override def getFloat(i: Int): Float = base.getFloat(map(i))
  override def getDouble(i: Int): Double = base.getDouble(map(i))
  override def getArray(i: Int): ColumnarArray = base.getArray(map(i))
  override def getMap(i: Int): ColumnarMap = base.getMap(map(i))
  override def getDecimal(i: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal =
    base.getDecimal(map(i), precision, scale)
  override def getUTF8String(i: Int)
      : org.apache.spark.unsafe.types.UTF8String =
    base.getUTF8String(map(i))
  override def getBinary(i: Int): Array[Byte] = base.getBinary(map(i))
  override def getChild(ordinal: Int): ColumnVector =
    new MaskedColumnVector(base.getChild(ordinal), map)
}
