package graft.connector

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

import graft.catalog.TableCatalog

/** DSv2 write path for the graft catalog:
  * `df.write.format("graft").option("root", r).option("table", fq)
  *    .mode("append" | "overwrite").save()`.
  *
  * Executors stream InternalRows into parquet files under a
  * per-query staging directory; the driver's [[GraftBatchWrite.commit]]
  * then ADOPTS the staged files into a new catalog version by rename —
  * one atomic commit under the catalog's optimistic-concurrency claim,
  * appends carrying the prior chain by manifest reference (zero data
  * copied, O(delta) like every catalog append). A failed/speculative
  * task aborts by deleting its own staged file, and an aborted job
  * deletes the staging dir — nothing partial ever reaches a manifest.
  */
/** Per-row constraint enforcement for the DSv2 write path: bound
  * Catalyst expressions evaluated inside the writer's own row loop
  * (codegen'd predicates, no second validation scan — Delta's
  * invariant shape). Compiled driver-side against the incoming
  * LOGICAL schema; ordinals survive the physical rename (positional). */
final case class GraftConstraintEnforcer(
    notNulls: Seq[(String, Int)],
    violations: Seq[(String,
      org.apache.spark.sql.catalyst.expressions.Expression)])
    extends Serializable {
  @transient private lazy val preds = violations.map { case (n, e) =>
    (n, org.apache.spark.sql.catalyst.expressions.Predicate.create(e)) }
  def check(row: InternalRow): Unit = {
    notNulls.foreach { case (n, i) =>
      if (row.isNullAt(i)) throw new IllegalArgumentException(
        s"NOT NULL constraint violated: $n is null") }
    preds.foreach { case (n, p) =>
      if (p.eval(row)) throw new IllegalArgumentException(
        s"CHECK constraint $n violated") }
  }
}

object GraftConstraintEnforcer {
  import org.apache.spark.sql.catalyst.expressions._

  /** None when the table carries no constraints. Throws at BUILD time
    * (driver) when a NOT NULL column is absent from the write schema
    * or a CHECK expression does not resolve against it. */
  def compile(spark: SparkSession, s: graft.catalog.Snapshot,
      schema: StructType): Option[GraftConstraintEnforcer] = {
    val (fq, cs, m) = (s.fq, s.constraints, s.columnMapping)
    if (cs.isEmpty) return None
    val attrs = schema.fields.toSeq.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable)())
    val nn = cs.filter(_.kind == "notnull").map { c =>
      val logical = m.logicalOf.getOrElse(c.arg, c.arg)
      val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(logical))
      require(i >= 0, s"write to $fq must carry NOT NULL column $logical")
      (s"$fq.$logical (${c.name})", i)
    }
    val checks = cs.filter(_.kind == "check").map { c =>
      val parsed = spark.sessionState.sqlParser.parseExpression(c.arg)
      val plan = org.apache.spark.sql.catalyst.plans.logical.Project(
        Seq(Alias(parsed, "__c")()),
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation(attrs))
      val resolved = spark.sessionState.analyzer.execute(plan)
        .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project]
        .projectList.head.asInstanceOf[Alias].child
      require(resolved.resolved,
        s"CHECK ${c.name}: cannot resolve '${c.arg}' against the write " +
          s"schema ${schema.simpleString}")
      // violation iff the check evaluates to FALSE (NULL passes — SQL)
      val bound = BindReferences.bindReference(
        EqualNullSafe(resolved, Literal(false)), AttributeSeq(attrs))
      (s"${c.name} (${c.arg})", bound)
    }
    Some(GraftConstraintEnforcer(nn, checks))
  }
}

object GraftWriteSchema {
  import org.apache.parquet.schema.Type

  /** Smallest fixed-len byte array holding any unscaled value of the
    * given decimal precision (parquet-format's table: ceil of
    * (bits for 10^p, signed) / 8). */
  private[connector] def minBytesForPrecision(p: Int): Int = {
    var n = 1
    while (math.pow(2.0, 8 * n - 1) < math.pow(10.0, p)) n += 1
    n
  }

  /** One Spark field → parquet type (recursive: struct columns become
    * optional groups, the multimodal/VARIANT-shredding column shape —
    * a binary payload beside typed metadata rides the connector as one
    * struct). */
  private def parquetType(name: String, dt: DataType): Type = dt match {
    case LongType    => Types.optional(INT64).named(name)
    case IntegerType => Types.optional(INT32).named(name)
    case DoubleType  => Types.optional(DOUBLE).named(name)
    case FloatType   => Types.optional(FLOAT).named(name)
    case BooleanType => Types.optional(BOOLEAN).named(name)
    case StringType  => Types.optional(BINARY)
      .as(LogicalTypeAnnotation.stringType()).named(name)
    case BinaryType  => Types.optional(BINARY).named(name)
    case DateType    => Types.optional(INT32)
      .as(LogicalTypeAnnotation.dateType()).named(name)
    case TimestampType => Types.optional(INT64)
      .as(LogicalTypeAnnotation.timestampType(true,
        LogicalTypeAnnotation.TimeUnit.MICROS)).named(name)
    case TimestampNTZType => Types.optional(INT64)
      .as(LogicalTypeAnnotation.timestampType(false,
        LogicalTypeAnnotation.TimeUnit.MICROS)).named(name)
    case d: DecimalType => // Spark's parquet encoding by precision:
      // int32 (p<=9), int64 (p<=18), minimal fixed-len byte array
      val ann = LogicalTypeAnnotation.decimalType(d.scale, d.precision)
      if (d.precision <= 9) Types.optional(INT32).as(ann).named(name)
      else if (d.precision <= 18) Types.optional(INT64).as(ann).named(name)
      else Types.optional(FIXED_LEN_BYTE_ARRAY)
        .length(minBytesForPrecision(d.precision)).as(ann).named(name)
    case st: StructType =>
      val g = Types.optionalGroup()
      st.fields.foreach(f => g.addField(parquetType(f.name, f.dataType)))
      g.named(name)
    case ArrayType(et, _) =>
      val elem = et match {
        case LongType    => Types.optional(INT64)
        case IntegerType => Types.optional(INT32)
        case DoubleType  => Types.optional(DOUBLE)
        case FloatType   => Types.optional(FLOAT)
        case BinaryType  => Types.optional(BINARY)
        case StringType  => Types.optional(BINARY)
          .as(LogicalTypeAnnotation.stringType())
        case other => throw new UnsupportedOperationException(
          s"graft write: unsupported array element type $other")
      }
      Types.optionalList().element(elem.named("element")).named(name)
    case other => throw new UnsupportedOperationException(
      s"graft write: unsupported type $other for column $name")
  }

  /** StructType → parquet MessageType for the supported column types
    * (the same set [[GraftParquetIO]] reads back). */
  def toMessageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach(f => b.addField(parquetType(f.name, f.dataType)))
    b.named("spark_schema")
  }

  /** Append one InternalRow's values into a fresh Group. */
  def fillGroup(g: Group, row: InternalRow, schema: StructType): Unit = {
    var i = 0
    while (i < schema.length) {
      if (!row.isNullAt(i)) {
        val f = schema(i)
        f.dataType match {
          case LongType    => g.add(i, row.getLong(i))
          case IntegerType => g.add(i, row.getInt(i))
          case DoubleType  => g.add(i, row.getDouble(i))
          case FloatType   => g.add(i, row.getFloat(i))
          case BooleanType => g.add(i, row.getBoolean(i))
          case StringType  => g.add(i,
            Binary.fromConstantByteArray(row.getUTF8String(i).getBytes))
          case BinaryType  => g.add(i,
            Binary.fromConstantByteArray(row.getBinary(i)))
          case DateType    => g.add(i, row.getInt(i))
          case TimestampType | TimestampNTZType => g.add(i, row.getLong(i))
          case d: DecimalType =>
            val dec = row.getDecimal(i, d.precision, d.scale)
            if (d.precision <= 9) g.add(i, dec.toUnscaledLong.toInt)
            else if (d.precision <= 18) g.add(i, dec.toUnscaledLong)
            else { // sign-extended big-endian two's complement, padded
              val unscaled = dec.toJavaBigDecimal.unscaledValue().toByteArray
              val n = GraftWriteSchema.minBytesForPrecision(d.precision)
              val padded = new Array[Byte](n)
              if (unscaled(0) < 0) java.util.Arrays.fill(padded, -1: Byte)
              System.arraycopy(unscaled, 0, padded,
                n - unscaled.length, unscaled.length)
              g.add(i, Binary.fromConstantByteArray(padded))
            }
          case st: StructType =>
            fillGroup(g.addGroup(i), row.getStruct(i, st.length), st)
          case ArrayType(et, _) =>
            val arr = row.getArray(i)
            val listG = g.addGroup(i)
            var j = 0
            while (j < arr.numElements()) {
              val el = listG.addGroup("list")
              if (!arr.isNullAt(j)) et match {
                case LongType    => el.add("element", arr.getLong(j))
                case IntegerType => el.add("element", arr.getInt(j))
                case DoubleType  => el.add("element", arr.getDouble(j))
                case FloatType   => el.add("element", arr.getFloat(j))
                case BinaryType  => el.add("element",
                  Binary.fromConstantByteArray(arr.getBinary(j)))
                case StringType  => el.add("element",
                  Binary.fromConstantByteArray(arr.getUTF8String(j).getBytes))
                case other => throw new UnsupportedOperationException(
                  s"array element $other")
              }
              j += 1
            }
          case other => throw new UnsupportedOperationException(
            s"graft write: unsupported type $other")
        }
      }
      i += 1
    }
  }
}

class GraftWriteBuilder(root: String, fq: String, schema: StructType,
    tableSchema: StructType, queryId: String = "",
    partitionCols: Seq[String] = Seq.empty,
    targetFileBytes: Long = 128L << 20,
    bucketSpec: Option[(String, Int)] = None,
    replaceTable: Boolean = false)
    extends WriteBuilder with SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsOverwrite {
  private var overwrite = false
  private var replaceWhere: Option[org.apache.spark.sql.Column] = None
  override def truncate(): WriteBuilder = { overwrite = true; this }

  /** `INSERT INTO … REPLACE WHERE cond` / `writeTo(t).overwrite(cond)`:
    * the condition becomes an ATOMIC delete+insert commit
    * ([[TableCatalog.commitDelta]]) — matching rows masked via a
    * DV sidecar, staged files adopted, one pointer swap. A full-table
    * condition (AlwaysTrue) degrades to plain overwrite. */
  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter])
      : WriteBuilder = {
    import org.apache.spark.sql.sources.AlwaysTrue
    if (filters.forall(_.isInstanceOf[AlwaysTrue])) { overwrite = true }
    else replaceWhere = Some(FilterColumns.conjunction(filters.toSeq)
      .getOrElse(throw new IllegalArgumentException(
        s"untranslatable REPLACE WHERE predicate: ${filters.mkString(", ")}")))
    this
  }

  override def build(): Write = {
    // APPEND to an existing table: column sets must line up (the
    // reader resolves by name; silent drift would corrupt reads).
    // OVERWRITE recreates the table, so any schema is fine. The check
    // reads the LIVE catalog schema — `tableSchema` is the df's own
    // schema on the external-metadata write path. replaceWhere appends
    // files into the live chain, so it checks like an append.
    // Partition columns compare by NAME only: path-encoding narrows
    // their read-back type (e.g. a long CTAS value re-infers as int).
    // COLUMN MAPPING: appends into a mapped chain stage files under
    // PHYSICAL names (the InternalRows are positional — renaming the
    // schema fields is the whole translation). Overwrites start a
    // fresh chain under the caller's own names (the commit resets the
    // mapping), so they stage verbatim.
    var writeSchema = schema
    var enforcer: Option[GraftConstraintEnforcer] = None
    if (overwrite && !replaceTable) {
      // a DATA overwrite (INSERT OVERWRITE / mode("overwrite")) keeps
      // the table's constraints and enforces them on the replacement
      // rows; only an explicit REPLACE TABLE drops them
      val spark = SparkSession.active
      val cat = new TableCatalog(spark, root)
      cat.version(fq).foreach { v =>
        enforcer = GraftConstraintEnforcer.compile(spark, cat.snapshot(fq, v), schema)
      }
    }
    if (!overwrite) {
      val spark = SparkSession.active
      val cat = new TableCatalog(spark, root)
      cat.version(fq).map(cat.snapshot(fq, _)).foreach { s =>
        // table constraints enforce per row inside the writers; the
        // compile binds against the incoming LOGICAL schema
        enforcer = GraftConstraintEnforcer.compile(spark, s, schema)
        val physicalOf = s.columnMapping.physicalOf
        if (physicalOf.nonEmpty)
          writeSchema = org.apache.spark.sql.types.StructType(
            schema.fields.map(f => physicalOf.get(f.name)
              .map(p => f.copy(name = p)).getOrElse(f)))
        if (s.files.nonEmpty) {
          val existing = s.schema
          // name AND type: a same-named column of an INCOMPATIBLE type
          // would commit fine and only explode per-file at read time —
          // reject at the write instead. Types equal-or-widenable pass:
          // a narrower incoming stages as-is and the readers promote it
          // to the chain's type; a wider incoming WIDENS the chain
          // (int→long / float→double type widening on append).
          def names(s: StructType) = s.fields.map(_.name).sorted.toSeq
          require(names(schema) == names(existing),
            s"graft append schema [${schema.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")}] does " +
              s"not match table schema [${existing.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")}]")
          // types equal-or-widenable pass (the per-version-group read
          // resolves mixed chains to the widest type). The BUCKET
          // SOURCE column alone requires an EXACT match both ways: the
          // executor-side writers hash the INCOMING value for routing,
          // and murmur3 hashes int and long differently — a mismatch
          // either way silently routes rows where readers never probe.
          schema.fields.foreach { f =>
            existing.fields.find(_.name == f.name).foreach { e =>
              val ok =
                if (partitionCols.contains(f.name)) true
                else if (bucketSpec.exists(_._1.equalsIgnoreCase(f.name)))
                  e.dataType == f.dataType
                else TableCatalog.widerOf(e.dataType, f.dataType).isDefined
              require(ok, s"graft append: column ${f.name} " +
                s"(${f.dataType.simpleString}) neither matches nor " +
                s"widens the table's ${e.dataType.simpleString}" +
                (if (bucketSpec.exists(_._1.equalsIgnoreCase(f.name)))
                  " (bucket routing key: exact type required — " +
                    "rebucket(...) to change it)" else ""))
            }
          }
        }
      }
    }
    new Write with RequiresDistributionAndOrdering {
      // cluster incoming rows by partition value so each partition
      // directory receives ~one file per occupied task, not one per
      // (task × partition) — the dynamic-partition-write shuffle.
      // Bucketed layouts cluster by the bucket SOURCE column's
      // identity (finer than the bucket id, so every row of one key
      // still lands in one task; no V2-function resolution needed on
      // the write side — a task holds at most numBuckets open writers)
      override def requiredDistribution()
          : org.apache.spark.sql.connector.distributions.Distribution = {
        val cluster = partitionCols ++ bucketSpec.map(_._1)
        if (cluster.isEmpty)
          org.apache.spark.sql.connector.distributions.Distributions.unspecified()
        else org.apache.spark.sql.connector.distributions.Distributions.clustered(
          cluster.toArray.map(c =>
            org.apache.spark.sql.connector.expressions.Expressions.identity(c)
              : org.apache.spark.sql.connector.expressions.Expression))
      }
      override def requiredOrdering()
          : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
        Array.empty
      override def toBatch: BatchWrite =
        new GraftBatchWrite(root, fq, writeSchema, overwrite, replaceWhere,
          partitionCols, targetFileBytes, bucketSpec, enforcer, replaceTable)
      override def toStreaming
          : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
        require(!overwrite,
          "graft streaming sink supports OutputMode.Append only")
        new GraftStreamingWrite(root, fq, writeSchema, queryId, targetFileBytes,
          partitionCols, bucketSpec, enforcer)
      }
    }
  }
}

/** Streaming sink: each epoch's staged files commit as ONE catalog
  * version carrying an `_EPOCH` tag written atomically with the
  * commit, so a replayed epoch (restart after crash between sink
  * commit and checkpoint ack) detects its own tag and skips —
  * exactly-once into the table, the foreachBatch+txn pattern as a
  * first-class `writeStream.format("graft")` sink. Empty epochs
  * commit nothing. Hive-partitioned targets stream too: executors
  * route rows to per-value staged files and the epoch commit adopts
  * them into the partitioned chain. */
class GraftStreamingWrite(root: String, fq: String, schema: StructType,
    queryId: String, targetFileBytes: Long = 128L << 20,
    partitionCols: Seq[String] = Seq.empty,
    bucketSpec: Option[(String, Int)] = None,
    enforcer: Option[GraftConstraintEnforcer] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  private val stagingBase = s"$root/_staging/stream-$queryId"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new GraftStreamingWriterFactory(stagingBase, schema,
      GraftSource.shippedConf(), targetFileBytes, partitionCols, bucketSpec,
      enforcer)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val cat = new TableCatalog(SparkSession.active, root)
    val tag = s"$queryId:$epochId"
    val staged = GraftCommitMessage.staged(messages)
    if (staged.nonEmpty && !cat.committedEpochs(fq).contains(tag))
      cat.commitStaged(fq, staged,
        partitionCols ++ bucketSpec.map(_ => TableCatalog.BucketCol),
        overwrite = false, epochTag = Some(tag), bucketSpec = bucketSpec)
    cleanupEpoch(epochId)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    cleanupEpoch(epochId)

  private def cleanupEpoch(epochId: Long): Unit = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val p = new Path(s"$stagingBase/$epochId")
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) fs.delete(p, true)
  }
}

class GraftStreamingWriterFactory(stagingBase: String, schema: StructType,
    shipped: graft.util.SerializableHadoopConf = null,
    targetFileBytes: Long = 128L << 20,
    partitionCols: Seq[String] = Seq.empty,
    bucketSpec: Option[(String, Int)] = None,
    enforcer: Option[GraftConstraintEnforcer] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    if (partitionCols.isEmpty && bucketSpec.isEmpty)
      new GraftDataWriter(s"$stagingBase/$epochId", schema, partitionId,
        taskId, shipped, targetFileBytes, enforcer)
    else new GraftPartitionedDataWriter(s"$stagingBase/$epochId", schema,
      partitionCols, partitionId, taskId, shipped, targetFileBytes, bucketSpec,
      enforcer)
}

class GraftBatchWrite(root: String, fq: String, schema: StructType,
    overwrite: Boolean,
    replaceWhere: Option[org.apache.spark.sql.Column] = None,
    partitionCols: Seq[String] = Seq.empty,
    targetFileBytes: Long = 128L << 20,
    bucketSpec: Option[(String, Int)] = None,
    enforcer: Option[GraftConstraintEnforcer] = None,
    replaceTable: Boolean = false)
    extends BatchWrite {
  private val stagingDir = s"$root/_staging/${UUID.randomUUID()}"
  private def layoutCols =
    partitionCols ++ bucketSpec.map(_ => TableCatalog.BucketCol)

  // REPLACE WHERE on a partitioned table stages FLAT: the replacement
  // files land inline in the version dir (partition column as
  // payload), exactly like row-level-op inserts — compaction
  // re-partitions them later
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    if ((partitionCols.isEmpty && bucketSpec.isEmpty) || replaceWhere.nonEmpty)
      new GraftDataWriterFactory(stagingDir, schema, GraftSource.shippedConf(),
        targetFileBytes, enforcer)
    else new GraftPartitionedWriterFactory(stagingDir, schema, partitionCols,
      GraftSource.shippedConf(), targetFileBytes, bucketSpec, enforcer)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val cat = new TableCatalog(SparkSession.active, root)
    val staged = GraftCommitMessage.staged(messages)
    replaceWhere match {
      case Some(pred) => // atomic delete+insert, even with 0 new rows
        cat.commitDelta(fq, None, staged.map(_._1), Left(pred))
      case None if staged.isEmpty => // empty input still COMMITS a
        // version (Delta's contract): append carries the chain,
        // overwrite/create lands a schema-only zero-row file
        cat.commitEmptyVersion(fq, schema, overwrite, layoutCols, bucketSpec,
          replaceTable = replaceTable)
      case None => cat.commitStaged(fq, staged, layoutCols, overwrite,
        bucketSpec = bucketSpec, replaceTable = replaceTable)
    }
    cleanup()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = cleanup()

  private def cleanup(): Unit = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val p = new Path(stagingDir)
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) fs.delete(p, true)
    // opportunistically drop the _staging parent when empty
    val parent = p.getParent
    if (fs.exists(parent) && fs.listStatus(parent).isEmpty)
      fs.delete(parent, false)
  }
}

/** Staged file paths this task wrote — PLURAL: the writer rolls to a
  * fresh file at `targetFileBytes` (a hot task no longer emits one
  * giant file). */
case class GraftCommitMessage(paths: Seq[String]) extends WriterCommitMessage

object GraftCommitMessage {
  /** Every file a write staged, with its path relative to the version
    * dir that adopts it — a flat file's is its bare name. */
  def staged(messages: Array[WriterCommitMessage]): Seq[(Path, String)] =
    messages.toSeq.flatMap {
      case GraftCommitMessage(paths) =>
        paths.map { p => val f = new Path(p); (f, f.getName) }
      case GraftPartitionedCommitMessage(files) =>
        files.map { case (p, rel) => (new Path(p), rel) }
      case _ => Nil
    }
}

/** Partitioned staging: (absolute staged path, hive-relative path —
  * `p=v/part-…`) per file this task wrote. */
case class GraftPartitionedCommitMessage(files: Seq[(String, String)])
  extends WriterCommitMessage

class GraftPartitionedWriterFactory(stagingDir: String, schema: StructType,
    partitionCols: Seq[String],
    shipped: graft.util.SerializableHadoopConf = null,
    targetFileBytes: Long = 128L << 20,
    bucketSpec: Option[(String, Int)] = None,
    enforcer: Option[GraftConstraintEnforcer] = None)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftPartitionedDataWriter(stagingDir, schema, partitionCols,
      partitionId, taskId, shipped, targetFileBytes, bucketSpec, enforcer)
}

/** Routes each row to a per-partition-value staged file in hive
  * layout (`p=v/part-…`), with the partition columns STRIPPED from
  * the file payload (they are path-encoded, exactly as
  * `DataFrameWriter.partitionBy` writes). The clustered distribution
  * the Write requires keeps the per-task open-writer count at the
  * task's distinct clustered values (usually 1). */
class GraftPartitionedDataWriter(stagingDir: String, schema: StructType,
    partitionCols: Seq[String], partitionId: Int, taskId: Long,
    shipped: graft.util.SerializableHadoopConf = null,
    targetFileBytes: Long = 128L << 20,
    bucketSpec: Option[(String, Int)] = None,
    enforcer: Option[GraftConstraintEnforcer] = None)
    extends DataWriter[InternalRow] {
  import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  private val pIdx = partitionCols.map(schema.fieldIndex)
  private val pFields = pIdx.map(schema(_))
  // the bucket SOURCE column stays in the payload (it is a logical
  // column); only its derived bucket id path-encodes
  private val bucketAt = bucketSpec.map { case (c, n) =>
    val i = schema.fieldIndex(c); (i, schema(i).dataType, n)
  }
  private val dataIdx = schema.fields.indices
    .filterNot(i => pIdx.contains(i)).toArray
  private val dataSchema = StructType(dataIdx.map(schema(_)))
  private val writers =
    scala.collection.mutable.LinkedHashMap.empty[String, GraftDataWriter]

  /** Hive partition value rendering — must round-trip through
    * partition discovery with the same inferred type. */
  private def render(row: InternalRow, i: Int, f: StructField): String = {
    if (row.isNullAt(i)) return "__HIVE_DEFAULT_PARTITION__"
    f.dataType match {
      case StringType  => ExternalCatalogUtils.escapePathName(
        row.getUTF8String(i).toString)
      case IntegerType => row.getInt(i).toString
      case LongType    => row.getLong(i).toString
      case ShortType   => row.getShort(i).toString
      case ByteType    => row.getByte(i).toString
      case BooleanType => row.getBoolean(i).toString
      case DateType    =>
        java.time.LocalDate.ofEpochDay(row.getInt(i)).toString
      case TimestampType => // micros → `Timestamp.toString` shape the
        // reader's `Timestamp.valueOf` round-trips exactly (the `:`s
        // hive-escape like any string partition value)
        val micros = row.getLong(i)
        val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
        t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
        ExternalCatalogUtils.escapePathName(t.toString)
      case other => throw new UnsupportedOperationException(
        s"graft partitioned write: partition column type $other")
    }
  }

  override def write(row: InternalRow): Unit = {
    enforcer.foreach(_.check(row))
    val segs = pIdx.zip(pFields).map { case (i, f) =>
      s"${ExternalCatalogUtils.escapePathName(f.name)}=${render(row, i, f)}"
    } ++ bucketAt.map { case (i, dt, n) =>
      // executor-side routing, BIT-FOR-BIT the catalog writer's
      // pmod(hash(col), n) — see GraftBucketFunction
      val id = GraftBucketFunction.bucketIdInternal(
        if (row.isNullAt(i)) null else row.get(i, dt), dt, n)
      s"${TableCatalog.BucketCol}=$id"
    }
    val rel = segs.mkString("/")
    val w = writers.getOrElseUpdate(rel,
      new GraftDataWriter(s"$stagingDir/$rel", dataSchema, partitionId,
        taskId, shipped, targetFileBytes))
    val vals = new Array[Any](dataIdx.length)
    var j = 0
    while (j < dataIdx.length) {
      val i = dataIdx(j)
      vals(j) = if (row.isNullAt(i)) null else row.get(i, schema(i).dataType)
      j += 1
    }
    w.write(new GenericInternalRow(vals))
  }

  override def commit(): WriterCommitMessage =
    GraftPartitionedCommitMessage(writers.toSeq.flatMap { case (rel, w) =>
      w.commit() match {
        case GraftCommitMessage(paths) =>
          paths.map(p => (p, s"$rel/${new Path(p).getName}"))
        case _ => Nil
      }
    })

  override def abort(): Unit = writers.values.foreach(_.abort())
  override def close(): Unit = ()
}

class GraftDataWriterFactory(stagingDir: String, schema: StructType,
    shipped: graft.util.SerializableHadoopConf = null,
    targetFileBytes: Long = 128L << 20,
    enforcer: Option[GraftConstraintEnforcer] = None)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(stagingDir, schema, partitionId, taskId, shipped,
      targetFileBytes, enforcer)
}

/** Streams rows into staged parquet files, created lazily on the
  * first row (empty partitions stage nothing) and ROLLED to a fresh
  * file whenever the in-flight file reaches `targetFileBytes` — a hot
  * task (or a hot partition value under the clustered partitioned
  * write) emits a sequence of right-sized files instead of one giant
  * straggler file that a single downstream task must then scan. */
class GraftDataWriter(stagingDir: String, schema: StructType,
    partitionId: Int, taskId: Long,
    shipped: graft.util.SerializableHadoopConf = null,
    targetFileBytes: Long = 128L << 20,
    enforcer: Option[GraftConstraintEnforcer] = None)
    extends DataWriter[InternalRow] {
  // driver's conf when shipped (fs creds/endpoints); classpath
  // defaults only for old direct-construction callers
  private def conf: Configuration =
    if (shipped == null) new Configuration()
    else new Configuration(shipped.value)
  private val messageType = GraftWriteSchema.toMessageType(schema)
  private var writer: ParquetWriter[Group] = _
  private var factory: SimpleGroupFactory = _
  private var seq = 0
  private var curPath: Path = _
  private val done = scala.collection.mutable.ArrayBuffer.empty[String]

  private def ensureOpen(): Unit = if (writer == null) {
    curPath = new Path(s"$stagingDir/part-$partitionId-$taskId-$seq.parquet")
    writer = ExampleParquetWriter.builder(curPath)
      .withConf(conf)
      .withType(messageType)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    if (factory == null) factory = new SimpleGroupFactory(messageType)
  }

  private def rollIfNeeded(): Unit =
    // getDataSize = flushed + buffered estimate (parquet-mr's own
    // size accounting — the same signal its block rolling uses)
    if (writer.getDataSize >= targetFileBytes) {
      writer.close()
      done += curPath.toString
      writer = null
      seq += 1
    }

  override def write(row: InternalRow): Unit = {
    enforcer.foreach(_.check(row))
    ensureOpen()
    val g = factory.newGroup()
    GraftWriteSchema.fillGroup(g, row, schema)
    writer.write(g)
    rollIfNeeded()
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) { writer.close(); done += curPath.toString; writer = null }
    GraftCommitMessage(done.toSeq)
  }

  override def abort(): Unit = {
    if (writer != null) { writer.close(); done += curPath.toString }
    val c = conf
    done.foreach { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(c)
      if (fs.exists(hp)) fs.delete(hp, false)
    }
  }

  override def close(): Unit = ()
}
