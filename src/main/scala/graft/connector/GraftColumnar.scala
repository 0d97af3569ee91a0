package graft.connector

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.{FileSplit, JobConf}
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

/** Vectorized (ColumnarBatch) read path for the graft DSv2 connector —
  * the 100 TB read path's hot loop.
  *
  * The row-based [[GraftRowReader]] decodes via parquet-mr's example
  * `Group` API: every value boxes, every record allocates a
  * `GenericInternalRow`, and the scan opts out of Spark's columnar
  * whole-stage codegen. This reader instead drives Spark's own
  * `VectorizedParquetRecordReader` — batched columnar decode straight
  * into `WritableColumnVector`s, delivered as `ColumnarBatch`es that
  * keep the plan on the `ColumnarToRow`/columnar-codegen path, exactly
  * like Spark's built-in parquet scan.
  *
  * Reads a bin-packed set of [[GraftSlice]]s (byte ranges of files —
  * large files split at row-group seams, small files coalesce into one
  * task), and is now the UNIVERSAL decode path:
  *  - deletion-vector masks apply per batch as a zero-copy
  *    [[MaskedColumnVector]] survivor map — a DV'd table keeps the
  *    vectorized decode (previously one masked file dropped the whole
  *    scan to the boxed row reader); clean batches pass through
  *    unwrapped;
  *  - `keepOnly` (CDF delete mining) inverts the mask: the batch
  *    yields exactly the rows a DV commit masked;
  *  - only synthesized `_gfile`/`_gpos` metadata columns and
  *    metadata-answered aggregates still use the row path.
  *
  * Pushed filters reach parquet-mr through the conf
  * ([[ParquetInputFormat.setFilterPredicate]]) on UNMASKED slices, so
  * row-group stats and dictionary skipping happen BELOW the batched
  * decode; masked slices keep the filter off (filtered readers
  * renumber rows, which would corrupt the file-relative mask
  * addresses). Spark re-applies every filter row-level above (all
  * filters stay residual, the connector's standing contract). */
class GraftColumnarReader(slices: Seq[GraftSlice], schema: StructType,
    limit: Int, filters: Array[Filter] = Array.empty,
    hadoopConf: Configuration = new Configuration(),
    physOf: Map[String, String] = Map.empty)
    extends PartitionReader[ColumnarBatch] {

  private var sliceIdx = -1
  private var cur: GraftSlice = _
  private var reader: VectorizedParquetRecordReader = _
  // output position i ← underlying batch column outPerm(i) (the
  // vectorized reader appends partition-constant vectors after the
  // data columns; the permutation restores the scan's declared order)
  private var outPerm: Array[Int] = _
  private var needsPerm = false
  private var rowBase = 0L // file row index of the next batch's first row
  private var dvPtr = 0
  private var batch: ColumnarBatch = _
  private var emitted = 0L

  private def openNext(): Boolean = {
    sliceIdx += 1
    if (sliceIdx >= slices.size) return false
    cur = slices(sliceIdx)
    // hive-partitioned / CDF constant columns: path-encoded values come
    // back as the vectorized reader's CONSTANT partition vectors
    // (initBatch)
    val partMap = cur.partValues.toMap
    val dataFields = schema.fields.filterNot(f => partMap.contains(f.name))
    val partFields = schema.fields.filter(f => partMap.contains(f.name))
    // column mapping: request by PHYSICAL name (what the file carries);
    // the decoded vectors are positional, so the logical order holds
    val dataSchema = StructType(dataFields.map(f =>
      physOf.get(f.name).map(p => f.copy(name = p)).getOrElse(f)))
    val dataIdx = dataFields.map(_.name).zipWithIndex.toMap
    val partIdx = partFields.map(_.name).zipWithIndex.toMap
    outPerm = schema.fields.map(f => dataIdx.get(f.name)
      .getOrElse(dataFields.length + partIdx(f.name)))
    needsPerm = !outPerm.zipWithIndex.forall { case (p, i) => p == i }

    // per-slice mutations below; a JobConf, so TaskAttemptContextImpl
    // takes it as is instead of copying it once more
    val conf = new JobConf(hadoopConf)
    // the conf keys SpecificParquetRecordReaderBase.initialize reads:
    // Spark's ParquetReadSupport clips the file schema to the
    // requested Catalyst schema (nested pruning included); columns the
    // file lacks (evolved chains) come back as null vectors
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, dataSchema.json)
    conf.setBoolean("spark.sql.caseSensitive", false)
    conf.setBoolean("spark.sql.parquet.binaryAsString", false)
    conf.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
    conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    // ParquetToSparkSchemaConverter(conf) does a raw .toBoolean on this
    // key (no default) — the catalog never writes NANOS timestamps
    conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
    conf.setBoolean("spark.sql.optimizer.nestedSchemaPruning.enabled", true)
    // row-group stats + dictionary skipping below the decode — ONLY on
    // unmasked slices: a filtered reader renumbers rows and would
    // corrupt the file-relative DV addresses
    if (filters.nonEmpty && cur.dvRows.isEmpty && !cur.keepOnly)
      GraftParquetIO.toParquetFilter(filters.toSeq,
          GraftParquetIO.fileSchema(cur.path, conf))
        .foreach(ParquetInputFormat.setFilterPredicate(conf, _))
    val p = new Path(cur.path)
    // rebase modes CORRECTED: the catalog writes Spark-4 parquet
    // (proleptic-Gregorian micros); no pre-1582 legacy data exists
    val r = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, /* capacity = */ 4096)
    r.initialize(new FileSplit(p, cur.start, cur.length, Array.empty[String]),
      new TaskAttemptContextImpl(conf, new TaskAttemptID()))
    val partRow: InternalRow =
      if (partFields.isEmpty) InternalRow.empty
      else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        partFields.map(f =>
          GraftPartitions.castValue(partMap(f.name), f.dataType)))
    r.initBatch(StructType(partFields), partRow)
    r.enableReturningBatches()
    reader = r
    rowBase = 0L
    dvPtr = 0
    true
  }

  /** Survivor map of this batch under the slice's mask (rows
    * [rowBase, rowBase+n) in file row order — valid because masked
    * slices never byte-split and never parquet-filter). null = keep
    * the whole batch. */
  private def survivorMap(n: Int): Array[Int] = {
    val dv = cur.dvRows
    val keep = new Array[Int](n)
    var kept = 0
    var i = 0
    while (i < n) {
      val idx = rowBase + i
      while (dvPtr < dv.length && dv(dvPtr) < idx) dvPtr += 1
      val m = dvPtr < dv.length && dv(dvPtr) == idx
      if (m == cur.keepOnly) { keep(kept) = i; kept += 1 }
      i += 1
    }
    if (kept == n) null else java.util.Arrays.copyOf(keep, kept)
  }

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false // partial pushdown:
    // Spark applies the exact limit above; stopping early just saves IO
    while (true) {
      if (reader == null && !openNext()) return false
      if (!reader.nextKeyValue()) { reader.close(); reader = null }
      else {
        val underlying = reader.getCurrentValue.asInstanceOf[ColumnarBatch]
        val n = underlying.numRows()
        val base =
          if (!needsPerm) underlying
          else new ColumnarBatch( // zero-copy vector re-order
            outPerm.map(underlying.column(_): ColumnVector), n)
        val out =
          if (cur.dvRows.isEmpty && !cur.keepOnly) base
          else survivorMap(n) match {
            case null => base // no masked rows land in this batch
            case map => new ColumnarBatch(
              (0 until base.numCols()).map(c =>
                new MaskedColumnVector(base.column(c), map): ColumnVector)
                .toArray, map.length)
          }
        rowBase += n
        if (out.numRows() > 0) {
          batch = out
          emitted += out.numRows()
          return true
        } // fully-masked batch: fetch the next one
      }
    }
    false
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = if (reader != null) reader.close()
}
