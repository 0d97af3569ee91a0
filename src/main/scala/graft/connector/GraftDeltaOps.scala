package graft.connector

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.TableCatalog

/** Delta-based row-level operations: SQL `UPDATE`, `MERGE INTO`, and
  * row-level `DELETE` against graft tables through the V2 catalog.
  *
  * The shape mirrors Iceberg's merge-on-read path: the rewrite plan
  * scans candidate rows WITH the `_gfile`/`_gpos` row-id metadata
  * columns (file skipping from the pushed condition bounds the scan),
  * updates are represented as delete+reinsert, and the
  * [[GraftDeltaWriter]] streams the two sides into separate staged
  * parquet sets — (file, row_index) addresses for deletes, replacement
  * rows for inserts. [[TableCatalog.commitDelta]] then adopts both in
  * ONE commit: the delete side becomes a `_DV/` sidecar, the insert
  * side new data files, the prior chain rides by manifest reference.
  * Cost O(touched rows); no data file is rewritten; time travel sees
  * the pre-op snapshot. */
class GraftRowLevelOperation(root: String, fq: String,
    cmd: RowLevelOperation.Command, tableSchema: StructType)
    extends SupportsDelta {

  // the snapshot this whole operation runs against: the SCAN reads it
  // (pinning survives commits that land mid-query) and the commit
  // verifies the table still sits at it — otherwise the staged DV
  // addresses could point into files a concurrent rewrite retired
  // (TableCatalog.commitDelta hands it to the commit protocol as the
  // snapshot the commit is based on)
  private val scanVersion: Option[Int] =
    new TableCatalog(SparkSession.active, root).version(fq)

  override def command(): RowLevelOperation.Command = cmd

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(GraftSource.RowIdFile),
      Expressions.column(GraftSource.RowIdPos))

  // updates become delete+reinsert: one writer protocol (DV + insert)
  // covers UPDATE, MERGE and DELETE uniformly
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def requiredMetadataAttributes(): Array[NamedReference] = rowId()

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(tableSchema, root, fq, scanVersion)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new GraftDeltaWrite(root, fq,
        info.schema(), scanVersion)
    }
}

class GraftDeltaWrite(root: String, fq: String, rowSchema: StructType,
    scanVersion: Option[Int]) extends DeltaWrite {
  override def toBatch: DeltaBatchWrite = new GraftDeltaBatchWrite(root, fq,
    rowSchema, scanVersion)
}

class GraftDeltaBatchWrite(root: String, fq: String, rowSchema: StructType,
    scanVersion: Option[Int]) extends DeltaBatchWrite {
  private val stagingDir =
    s"$root/_staging/delta-${java.util.UUID.randomUUID()}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    // column mapping: the replacement-row files carry PHYSICAL names
    // (rows are positional; renaming the schema is the translation)
    val snap = scanVersion.map(
      new TableCatalog(SparkSession.active, root).snapshot(fq, _))
    val physicalOf = snap.map(_.columnMapping.physicalOf).getOrElse(Map.empty)
    val physSchema =
      if (physicalOf.isEmpty) rowSchema
      else StructType(rowSchema.fields.map(f =>
        physicalOf.get(f.name).map(p => f.copy(name = p)).getOrElse(f)))
    // table constraints apply to the REPLACEMENT rows (SQL UPDATE /
    // MERGE inserts) — same per-row predicate as every other write
    // path; delete addresses carry no data to check, and a DELETE's
    // row schema is empty
    val enforcer = snap.filter(_ => rowSchema.nonEmpty)
      .flatMap(GraftConstraintEnforcer.compile(SparkSession.active, _, rowSchema))
    new GraftDeltaWriterFactory(stagingDir, physSchema,
      GraftSource.shippedConf(), enforcer)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dvStaged = messages.toSeq.collect {
      case GraftDeltaMessage(ps, _) => ps.map(new Path(_)) }.flatten
    val dataStaged = messages.toSeq.collect {
      case GraftDeltaMessage(_, ps) => ps.map(new Path(_)) }.flatten
    new TableCatalog(SparkSession.active, root)
      .commitDelta(fq, scanVersion, dataStaged, Right(dvStaged))
    cleanup()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = cleanup()

  private def cleanup(): Unit = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val p = new Path(stagingDir)
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) fs.delete(p, true)
  }
}

case class GraftDeltaMessage(dvPaths: Seq[String], dataPaths: Seq[String])
  extends WriterCommitMessage

class GraftDeltaWriterFactory(stagingDir: String, rowSchema: StructType,
    shipped: graft.util.SerializableHadoopConf = null,
    enforcer: Option[GraftConstraintEnforcer] = None)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaWriter(stagingDir, rowSchema, partitionId, taskId, shipped,
      enforcer)
}

/** Streams a task's delta: deletes → a (file, row_index) parquet
  * (pre-shaped as the DV sidecar relation), inserts → a data-row
  * parquet. Both lazy — a task that only deletes stages no data file
  * and vice versa. */
class GraftDeltaWriter(stagingDir: String, rowSchema: StructType,
    partitionId: Int, taskId: Long,
    shipped: graft.util.SerializableHadoopConf = null,
    enforcer: Option[GraftConstraintEnforcer] = None)
    extends DeltaWriter[InternalRow] {
  private val dvSchema = StructType(Seq(
    StructField("file", StringType), StructField("row_index", LongType)))
  private lazy val dvWriter =
    new GraftDataWriter(s"$stagingDir/dv", dvSchema, partitionId, taskId,
      shipped)
  private lazy val dataWriter =
    new GraftDataWriter(s"$stagingDir/data", rowSchema, partitionId, taskId,
      shipped, enforcer = enforcer)
  private var dvUsed = false
  private var dataUsed = false

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    dvUsed = true
    dvWriter.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](id.getUTF8String(0), id.getLong(1))))
  }

  override def insert(row: InternalRow): Unit = {
    dataUsed = true
    dataWriter.write(row)
  }

  // representUpdateAsDeleteAndInsert=true means Spark never calls this,
  // but the contract is trivially satisfiable
  override def update(metadata: InternalRow, id: InternalRow,
      row: InternalRow): Unit = { delete(metadata, id); insert(row) }

  override def commit(): WriterCommitMessage = {
    val dv = if (dvUsed) dvWriter.commit() match {
      case GraftCommitMessage(ps) => ps
    } else Nil
    val data = if (dataUsed) dataWriter.commit() match {
      case GraftCommitMessage(ps) => ps
    } else Nil
    GraftDeltaMessage(dv, data)
  }

  override def abort(): Unit = {
    if (dvUsed) dvWriter.abort()
    if (dataUsed) dataWriter.abort()
  }
  override def close(): Unit = ()
}
